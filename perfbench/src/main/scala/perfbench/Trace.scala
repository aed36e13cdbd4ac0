package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What one task reported at its end. */
final case class TaskRec(
    stage: Int, runMs: Long, cpuNs: Long, gcMs: Long, writeB: Long,
    readB: Long, spillB: Long, peakMem: Long)

/** Counts over a window of the listener's history: [[Counters.mark]]
  * before and after, then [[Counters.between]]. */
final case class Window(
    jobs: Int, stages: Int, tasks: Seq[TaskRec], analysisMs: Long,
    optimizationMs: Long, planningMs: Long) {
  def taskS: Double = tasks.map(_.runMs).sum / 1e3
  def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def gcS: Double = tasks.map(_.gcMs).sum / 1e3
  def shuffleMb: Double = tasks.map(_.writeB).sum / 1e6
  def spillMb: Double = tasks.map(_.spillB).sum / 1e6
  def peakTaskMemMb: Double =
    if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / 1e6

  /** Max over stages with >= 8 tasks of max / median task shuffle-read
    * bytes (1 when no stage qualifies). */
  def maxByteSkew: Double = {
    val skews = tasks.groupBy(_.stage).values.filter(_.length >= 8).map { ts =>
      val s = ts.map(_.readB).sorted
      s.last.toDouble / math.max(1L, s(s.length / 2))
    }
    if (skews.isEmpty) 1.0 else skews.max
  }
}

/** Positions in the listener's history. */
final case class Mark(jobs: Int, stages: Int, tasks: Int, phases: Int)

/** Spark and SQL listener the benchmark attaches from outside the
  * program: task metrics, job and stage counts, Catalyst phase times. */
final class Counters extends SparkListener with QueryExecutionListener {
  private var jobs = 0
  private var stages = 0
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val phases = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    phases += ((ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Waits for the listener bus to deliver every event posted so far. */
  def mark(spark: SparkSession): Mark = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    synchronized(Mark(jobs, stages, tasks.length, phases.length))
  }

  def between(a: Mark, b: Mark): Window = synchronized {
    val ph = phases.slice(a.phases, b.phases)
    Window(b.jobs - a.jobs, b.stages - a.stages,
      tasks.slice(a.tasks, b.tasks).toSeq,
      ph.map(_._1).sum, ph.map(_._2).sum, ph.map(_._3).sum)
  }
}

object Counters {
  def attach(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}

/** One traced call: name, start, end, parent, the operation it belongs
  * to, and the listener counts for its window. */
final case class Span(
    id: Int, op: Int, name: String, parent: Int, startNs: Long,
    endNs: Long, window: Window, rows: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. [[span]] nests: a span opened inside
  * another's body records it as parent. */
final class Tracer(spark: SparkSession, counters: Counters) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Int]
  var op = 0

  /** Times `body`, which returns the row count it materialized
    * (or 0 when it has none). */
  def span(name: String)(body: => Long): Long = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val m0 = counters.mark(spark)
    val t0 = System.nanoTime()
    val rows = try body finally stack = stack.tail
    val t1 = System.nanoTime()
    val m1 = counters.mark(spark)
    spans += Span(id, op, name, parent, t0, t1, counters.between(m0, m1), rows)
    rows
  }

  /** Span time minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = spans.map { s =>
    Json.obj(Seq(
      "id" -> Json.num(s.id), "op" -> Json.num(s.op), "name" -> Json.str(s.name),
      "parent" -> Json.num(s.parent), "start_ns" -> Json.num(s.startNs),
      "end_ns" -> Json.num(s.endNs), "self_s" -> Json.num(selfSeconds(s)),
      "rows" -> Json.num(s.rows), "jobs" -> Json.num(s.window.jobs),
      "stages" -> Json.num(s.window.stages),
      "tasks" -> Json.num(s.window.tasks.length),
      "task_cpu_s" -> Json.num(s.window.cpuS),
      "shuffle_write_mb" -> Json.num(s.window.shuffleMb),
      "spill_mb" -> Json.num(s.window.spillMb)))
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Minimal JSON rendering for the benchmark's own output. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
