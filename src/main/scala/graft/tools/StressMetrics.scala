package graft.tools

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.Bridge
import scala.collection.mutable

/** The one measured window for the scale-stress harness
  * ([[graft.Stress]]), QueryProf and the specs: accumulates jobs and
  * per-stage shuffle bytes, spill and task durations so a run can
  * report MEASURED numbers — rows/s, peak shuffle, max-task/median-task
  * skew — instead of plan-audit arguments. [[attach]] it to a context,
  * then bracket exactly one action with [[reset]] (or the attach) and
  * [[snapshot]]: each drains Spark's listener bus first, so the window
  * holds every event the action posted and none from before it.
  * Scenarios run serially, so the window is unambiguous. */
final class StressMetrics extends SparkListener {
  import StressMetrics._

  private val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  private var jobs = 0
  @volatile private var attached: Option[SparkContext] = None

  /** Generated classes compiled in this JVM so far: Janino compiles
    * only on a codegen-cache miss, so the count since [[reset]] is the
    * classes a window had to compile (the counter is process-wide). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var compilesAtReset = compiles

  /** Register on `sc`'s listener bus, after the events already posted
    * there, so the first window starts clean; [[close]] removes it. */
  def attach(sc: SparkContext): this.type = {
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(this)
    attached = Some(sc)
    this
  }

  def close(): Unit = {
    attached.foreach(_.removeSparkListener(this))
    attached = None
  }

  /** Wait for the events already posted. Not under the lock: the bus
    * thread needs it to deliver them. */
  private def drain(): Unit = attached.foreach(Bridge.drainListenerBus)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      s.taskMs += m.executorRunTime
      s.taskCpuMs += m.executorCpuTime / 1000000L // ns → ms
      s.taskGcMs += m.jvmGCTime
      s.taskWriteB += m.shuffleWriteMetrics.bytesWritten
      s.taskReadB += m.shuffleReadMetrics.totalBytesRead
    }
  }

  /** Start a new window after every event posted so far. */
  def reset(): Unit = {
    drain()
    synchronized {
      stages.clear()
      jobs = 0
      compilesAtReset = compiles
    }
  }

  /** The window so far, read after every event posted so far. */
  def snapshot(): Snapshot = {
    drain()
    synchronized {
      val ss = stages.values.toSeq
      def median(xs: mutable.ArrayBuffer[Long]) = xs.sorted.apply(xs.length / 2)
      def maxOr1(xs: Seq[Double]) = if (xs.isEmpty) 1.0 else xs.max
      def stageSkews(minMedianMs: Long, sel: StageAgg => mutable.ArrayBuffer[Long]) =
        ss.map(sel).filter(_.length >= MinTasksForSkew).flatMap { xs =>
          val med = math.max(1L, median(xs))
          if (med >= minMedianMs) Some(xs.max.toDouble / med) else None
        }
      def byteSkew(xs: mutable.ArrayBuffer[Long]): Option[Double] = {
        val total = xs.sum
        if (xs.length < MinTasksForSkew || total < 64 * 1024) None
        else Some(xs.max.toDouble / (total.toDouble / xs.length))
      }
      Snapshot(
        jobCount = jobs,
        maxTaskSkew = maxOr1(stageSkews(0L, _.taskMs)),
        maxTaskSkew1s = maxOr1(stageSkews(1000L, _.taskMs)),
        maxTaskSkew1sCpu = maxOr1(stageSkews(1000L, _.taskCpuMs)),
        maxByteSkew = maxOr1(ss.flatMap(s => byteSkew(s.taskWriteB) ++ byteSkew(s.taskReadB))),
        codegenCompiles = compiles - compilesAtReset,
        stageRows = stages.toSeq.sortBy(_._1).map { case (id, s) =>
          StageRow(id, s.taskMs.length, s.taskWriteB.sum, s.taskReadB.sum, s.spillBytes,
            s.peakExecMem, s.taskMs.max, median(s.taskMs), s.taskCpuMs.max, median(s.taskCpuMs),
            s.taskGcMs(s.taskMs.indexOf(s.taskMs.max)), s.taskReadB.max, s.taskWriteB.max)
        })
    }
  }
}

object StressMetrics {

  /** Stages with fewer tasks have no meaningful max/median or max/mean. */
  private val MinTasksForSkew = 8

  /** One stage's task metrics, one entry per task in each buffer. It
    * is made for the stage's first task, so no buffer is empty. */
  private final class StageAgg {
    var spillBytes = 0L
    var peakExecMem = 0L
    val taskMs, taskCpuMs, taskGcMs, taskWriteB, taskReadB = mutable.ArrayBuffer.empty[Long]
  }

  /** One stage's drill-down row — what the aggregate snapshot can't
    * give when a scenario's spill or skew needs ATTRIBUTING to a stage
    * before it can be fixed (round 15: kneser_ney's 11.7 GB "probe join
    * spill" was actually partial-aggregate fallback). Max CPU ≈ median
    * CPU with max wall ≫ median wall is a stall (GC/I/O), not uneven
    * work; `gcOfMaxMs` is the GC of the max-WALL task. */
  final case class StageRow(
      stageId: Int, tasks: Int,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long, peakExecMem: Long,
      maxTaskMs: Long, medianTaskMs: Long, maxCpuMs: Long, medianCpuMs: Long,
      gcOfMaxMs: Long, maxTaskReadBytes: Long, maxTaskWriteBytes: Long) {
    def json: String =
      s"""{"stage":$stageId,"tasks":$tasks,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""spill_bytes":$spillBytes,"peak_exec_mem":$peakExecMem,""" +
        s""""max_task_ms":$maxTaskMs,"median_task_ms":$medianTaskMs,""" +
        s""""max_cpu_ms":$maxCpuMs,"median_cpu_ms":$medianCpuMs,"gc_of_max_ms":$gcOfMaxMs,""" +
        s""""max_task_read_bytes":$maxTaskReadBytes,"max_task_write_bytes":$maxTaskWriteBytes}"""
  }

  /** Aggregate view over all jobs and stages seen since the last reset. */
  final case class Snapshot(
      jobCount: Int,
      /** max over stages (with >= [[MinTasksForSkew]] tasks) of
        * max-task-ms / median-task-ms — the skew measurement. */
      maxTaskSkew: Double,
      /** [[maxTaskSkew]] restricted to stages whose MEDIAN task runs
        * >= 1 s. Round-16 per-stage attribution (SCALE.md): every
        * KN-family scenario's headline skew came from stages with
        * 150–700 ms medians, where max/median is scheduling
        * granularity + JIT/GC variance, not partitioning — a 500 ms
        * straggler on a 150 ms median reads as "3.3×" while the
        * corpus-scale stages sit under 2. Substantial stages can't
        * hide there; read THIS column (with max_byte_skew) for
        * partitioning claims, the unfiltered one for completeness. */
      maxTaskSkew1s: Double,
      /** The WORK-skew companion (round 17): [[maxTaskSkew1s]]
        * recomputed over task CPU time instead of wall time, on the
        * same ≥1s-median stages. CPU time excludes GC pauses, I/O
        * waits and scheduler stalls — so wall skew ≫ CPU skew on a
        * byte-uniform stage is PROVEN stall variance (shared-heap GC /
        * one-disk I/O in local mode), while high CPU skew would mean
        * the partitioning really handed one task more work. This is
        * the column that settles the round-16 "2.2–2.9 filtered skew,
        * byte skew ~1" attribution file. */
      maxTaskSkew1sCpu: Double,
      /** Bytes-based skew: max over exchange stages with >=
        * [[MinTasksForSkew]] tasks and >= 64 KiB of max-task-bytes /
        * mean-task-bytes, taking the worse of the shuffle-write and
        * shuffle-read sides. Bytes, not durations — task wall times on
        * a small fixture are scheduling noise, while the per-task byte
        * distribution IS the partitioning the 100 TB claim is about.
        * Tiny exchanges skew arbitrarily and harm nothing. */
      maxByteSkew: Double,
      /** Codegen compiles (cache misses) since the last reset. Spark's
        * generated-class cache holds 100 entries; a working set that
        * outgrows it recompiles on every run, which shows here as a
        * count that no longer drops on a second, warm run. */
      codegenCompiles: Long,
      /** Per-stage rows in stage-id order. */
      stageRows: Seq[StageRow]) {
    def stageCount: Int = stageRows.length
    def taskCount: Int = stageRows.map(_.tasks).sum
    def shuffleWriteBytes: Long = stageRows.map(_.shuffleWriteBytes).sum
    def shuffleReadBytes: Long = stageRows.map(_.shuffleReadBytes).sum
    def peakStageShuffleWriteBytes: Long = stageRows.map(_.shuffleWriteBytes).maxOption.getOrElse(0L)
    def spillBytes: Long = stageRows.map(_.spillBytes).sum
    def peakTaskExecMem: Long = stageRows.map(_.peakExecMem).maxOption.getOrElse(0L)
  }
}
