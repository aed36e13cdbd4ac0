package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import scala.collection.mutable

/** Task-metrics collector for the scale-stress harness ([[graft.Stress]])
  * and the skew specs: accumulates per-stage shuffle bytes, spill and
  * task durations so a run can report MEASURED numbers — rows/s, peak
  * shuffle, max-task/median-task skew — instead of plan-audit
  * arguments. Attach around exactly one action; scenarios run serially
  * so the window is unambiguous. */
final class StressMetrics extends SparkListener {

  final case class StageAgg(
      var tasks: Int = 0,
      var shuffleWriteBytes: Long = 0L,
      var shuffleReadBytes: Long = 0L,
      var spillBytes: Long = 0L,
      var peakExecMem: Long = 0L,
      val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty,
      val taskCpuMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty,
      val taskGcMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty,
      val taskWriteB: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty,
      val taskReadB: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty)

  private val stages = mutable.LinkedHashMap.empty[Int, StageAgg]

  /** Generated classes compiled in this JVM so far: Janino compiles
    * only on a codegen-cache miss, so the count since [[reset]] is the
    * classes a window had to compile (the counter is process-wide). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var compilesAtReset = compiles

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, StageAgg())
      s.tasks += 1
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      s.taskMs += m.executorRunTime
      s.taskCpuMs += m.executorCpuTime / 1000000L // ns → ms
      s.taskGcMs += m.jvmGCTime
      s.taskWriteB += m.shuffleWriteMetrics.bytesWritten
      s.taskReadB += m.shuffleReadMetrics.totalBytesRead
    }
  }

  def reset(): Unit = synchronized {
    stages.clear()
    compilesAtReset = compiles
  }

  /** Aggregate view over all stages seen since the last reset. */
  final case class Snapshot(
      stageCount: Int, taskCount: Int,
      shuffleWriteBytes: Long, shuffleReadBytes: Long,
      peakStageShuffleWriteBytes: Long, spillBytes: Long,
      peakTaskExecMem: Long,
      /** max over stages (with >= minTasksForSkew tasks) of
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
      /** Codegen compiles (cache misses) since the last reset. Spark's
        * generated-class cache holds 100 entries; a working set that
        * outgrows it recompiles on every run, which shows here as a
        * count that no longer drops on a second, warm run. */
      codegenCompiles: Long)

  def snapshot(minTasksForSkew: Int = 8): Snapshot = synchronized {
    val ss = stages.values.toSeq
    def stageSkews(minMedianMs: Long,
        sel: StageAgg => mutable.ArrayBuffer[Long]) = ss
      .filter(s => sel(s).length >= minTasksForSkew)
      .flatMap { s =>
        val sorted = sel(s).sorted
        val med = math.max(1L, sorted(sorted.length / 2))
        if (med >= minMedianMs) Some(sorted.last.toDouble / med) else None
      }
    val skews = stageSkews(0L, _.taskMs)
    val skews1s = stageSkews(1000L, _.taskMs)
    val skews1sCpu = stageSkews(1000L, _.taskCpuMs)
    Snapshot(
      stageCount = ss.length,
      taskCount = ss.map(_.tasks).sum,
      shuffleWriteBytes = ss.map(_.shuffleWriteBytes).sum,
      shuffleReadBytes = ss.map(_.shuffleReadBytes).sum,
      peakStageShuffleWriteBytes =
        if (ss.isEmpty) 0L else ss.map(_.shuffleWriteBytes).max,
      spillBytes = ss.map(_.spillBytes).sum,
      peakTaskExecMem = if (ss.isEmpty) 0L else ss.map(_.peakExecMem).max,
      maxTaskSkew = if (skews.isEmpty) 1.0 else skews.max,
      maxTaskSkew1s = if (skews1s.isEmpty) 1.0 else skews1s.max,
      maxTaskSkew1sCpu =
        if (skews1sCpu.isEmpty) 1.0 else skews1sCpu.max,
      codegenCompiles = compiles - compilesAtReset)
  }

  /** Per-stage diagnostic rows (stageId, tasks, writeB, readB, spillB,
    * maxTaskMs, medianTaskMs) — the drill-down the aggregate snapshot
    * can't give when a scenario's spill or skew needs ATTRIBUTING to a
    * stage before it can be fixed (round 15: kneser_ney's 11.7 GB
    * "probe join spill" was actually partial-aggregate fallback). */
  def perStage: Seq[(Int, Int, Long, Long, Long, Long, Long, Long, Long)] =
    synchronized {
      stages.toSeq.map { case (id, s) =>
        val sorted = s.taskMs.sorted
        val med = if (sorted.isEmpty) 0L else sorted(sorted.length / 2)
        val mx = if (sorted.isEmpty) 0L else sorted.last
        val mxr = if (s.taskReadB.isEmpty) 0L else s.taskReadB.max
        val mxw = if (s.taskWriteB.isEmpty) 0L else s.taskWriteB.max
        (id, s.tasks, s.shuffleWriteBytes, s.shuffleReadBytes,
          s.spillBytes, mx, med, mxr, mxw)
      }
    }

  /** CPU/GC drill-down companion to [[perStage]]: (stageId, medWallMs,
    * maxWallMs, medCpuMs, maxCpuMs, gcMsOfMaxWallTask) — the row that
    * attributes a wall straggler: max CPU ≈ median CPU with max wall ≫
    * median wall is a stall (GC/I/O), not uneven work. */
  def perStageCpu: Seq[(Int, Long, Long, Long, Long, Long)] =
    synchronized {
      stages.toSeq.map { case (id, s) =>
        val w = s.taskMs.sorted
        val c = s.taskCpuMs.sorted
        val medW = if (w.isEmpty) 0L else w(w.length / 2)
        val maxW = if (w.isEmpty) 0L else w.last
        val medC = if (c.isEmpty) 0L else c(c.length / 2)
        val maxC = if (c.isEmpty) 0L else c.last
        // GC of the max-WALL task (not the max GC overall)
        val gcOfMax = if (s.taskMs.isEmpty) 0L else
          s.taskGcMs(s.taskMs.indexOf(s.taskMs.max))
        (id, medW, maxW, medC, maxC, gcOfMax)
      }
    }

  /** Bytes-based skew: max over qualifying exchange stages of
    * max-task-bytes / mean-task-bytes, taking the worse of the
    * shuffle-write and shuffle-read sides. Bytes, not durations —
    * task wall times on a small fixture are scheduling noise, while
    * the per-task byte distribution IS the partitioning the 100 TB
    * claim is about. Stages below `minBytes` total or `minTasks`
    * tasks are ignored (tiny exchanges skew arbitrarily and harm
    * nothing). */
  def maxByteSkew(minTasks: Int = 8, minBytes: Long = 64 * 1024): Double =
    synchronized {
      def ratio(xs: mutable.ArrayBuffer[Long]): Option[Double] = {
        val total = xs.sum
        if (xs.length < minTasks || total < minBytes) None
        else Some(xs.max.toDouble / (total.toDouble / xs.length))
      }
      val rs = stages.values.toSeq.flatMap(s =>
        ratio(s.taskWriteB).toSeq ++ ratio(s.taskReadB).toSeq)
      if (rs.isEmpty) 1.0 else rs.max
    }
}
