package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark runner. One JVM stages a workload's inputs from the seed,
  * times closed-loop operations for the given seconds, checks every
  * operation's outputs, and prints one result line:
  *
  *   perfbench.Main run --workload W --seed N --seconds S --trace 0|1 --work DIR
  *   perfbench.Main list-metrics
  *   perfbench.Main checksum --workload W --seed N --work DIR
  *   perfbench.Main corrupt-check --workload W --seed N --work DIR
  */
object Main {

  /** Metric names and units, per trace mode. BENCHMARK.json lists the
    * same names; a run that would print any other set fails instead. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "job_s" -> "s", "grid_rows_per_s" -> "rows/s",
    "peak_task_mem_mb" -> "MB")
  val perLayer: Seq[(String, String)] = Seq(
    "WeightedMean.s" -> "s", "WeightedMean.shuffle_mb" -> "MB",
    "WeightedMean.out_rows" -> "rows", "WeightedMean.peak_task_mem_mb" -> "MB",
    "EnsembleStats.median_s" -> "s", "EnsembleStats.shuffle_mb" -> "MB",
    "FillMissing.mapping_s" -> "s", "FillMissing.fill_s" -> "s",
    "FillMissing.missing_hrus" -> "count", "FillMissing.pairs" -> "count",
    "Sinks.netcdf_s" -> "s", "Sinks.netcdf_mb" -> "MB", "Sinks.netcdf_rows" -> "rows",
    "Sinks.contract_s" -> "s", "Sinks.contract_mb" -> "MB", "Sinks.mapping_s" -> "s",
    "sources.read_s" -> "s", "sources.weight_rows" -> "rows",
    "GridmetPipeline.subset_s" -> "s", "GridmetPipeline.subset_rows" -> "rows",
    "GridmetPipeline.reindex_finalize_s" -> "s",
    "Jobs.gridmet_s" -> "s", "Jobs.cfsv2_m1_s" -> "s", "Jobs.cfsv2_m2_s" -> "s",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.core_busy_ratio" -> "ratio", "spark.max_byte_skew" -> "ratio",
    "trace.wall_s" -> "s", "trace.overhead_s" -> "s", "trace.unattributed_s" -> "s")

  /** SparkSession starts per untraced run; `setup_s` is their median.
    * One start takes about 0.1 s in a warm JVM, so a single start's
    * scheduling noise is a large share of it: many starts, one median. */
  val SetupReps = 7
  /** Untimed, checked operations before timing: the JIT is still
    * compiling through the second one. */
  val WarmupOps = 2

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse(sys.error("mode required"))
    val a = Args(argv.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap)
    mode match {
      case "list-metrics" =>
        def list(ms: Seq[(String, String)]) = ms.map { case (n, u) =>
          Json.obj(Seq("name" -> Json.str(n), "unit" -> Json.str(u))) }.mkString("[", ", ", "]")
        println("PERFBENCH_RESULT " +
          Json.obj(Seq("end_to_end" -> list(endToEnd), "per_layer" -> list(perLayer))))
      case "run" => run(a)
      case "checksum" => checksum(a)
      case "corrupt-check" => corruptCheck(a)
      case other => sys.error(s"unknown mode $other")
    }
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def loadavg(): Double =
    try new String(Files.readAllBytes(Path.of("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private def deleteTree(p: String): Unit = {
    val root = Path.of(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  /** Clears cached plans and data, then collects garbage: the pipeline
    * persists intermediate results that a later operation in the same
    * JVM would otherwise read instead of recomputing. */
  private def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** (steal, total) CPU ticks of the box so far, from /proc/stat: the
    * share stolen by other guests shows how contended a run was. */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Path.of("/proc/stat")))
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  final class Run(val w: Workload, val seed: Long, val work: String) {
    var spark: SparkSession = _
    var counters: Counters = _
    val sessionStarts = Seq.newBuilder[Double]
    startSession()
    var opNo = 0
    val opTimes = Seq.newBuilder[Double]
    var attempted = 0
    var failed = 0
    val errors = Seq.newBuilder[String]
    private val t0 = System.nanoTime()
    val staged: Gen.Staged = Gen.stage(spark, seed, w.layout, s"$work/inputs")
    private val t1 = System.nanoTime()
    val expected: Expected = w.expect(spark, staged, seed)
    val stageS: Double = (t1 - t0) / 1e9
    val expectS: Double = (System.nanoTime() - t1) / 1e9

    /** Starts a SparkSession with the benchmark's listeners attached,
      * recording how long that took. */
    def startSession(): Unit = {
      if (spark != null) spark.stop()
      val t = System.nanoTime()
      spark = session(work)
      counters = Counters.attach(spark)
      sessionStarts += (System.nanoTime() - t) / 1e9
    }

    /** One checked operation; returns (wall seconds, listener window). */
    def op(body: String => Unit): (Double, Window) = {
      opNo += 1
      val out = s"$work/ops/op-$opNo"
      isolate(spark)
      val m0 = counters.mark(spark)
      val t0 = System.nanoTime()
      val ok = try { body(out); true } catch {
        case e: Exception => errors += s"op $opNo threw $e"; false
      }
      val secs = (System.nanoTime() - t0) / 1e9
      opTimes += secs
      val win = counters.between(m0, counters.mark(spark))
      attempted += 1
      val errs = if (ok) w.check(spark, staged, out, expected) else Seq("no output")
      if (errs.nonEmpty) { failed += 1; errors ++= errs.take(5).map(e => s"op $opNo: $e") }
      deleteTree(out)
      (secs, win)
    }
  }

  def run(a: Args): Unit = {
    val w = Workload.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val load0 = loadavg()
    val ticks0 = cpuTicks()
    val r = new Run(w, seed, work)
    // set-up: SparkSession starts (the first in a cold JVM), then the
    // untimed, checked warm-up operations
    if (!trace) (2 to SetupReps).foreach(_ => r.startSession())
    val setup = r.sessionStarts.result()
    val warmup = (1 to WarmupOps).map(_ => r.op(out => w.run(r.spark, r.staged, out))._1)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def timeLeft = System.nanoTime() < deadline
    val (metrics, windows) =
      if (!trace) {
        val ops = Seq.newBuilder[(Double, Window)]
        while (timeLeft) ops += r.op(out => w.run(r.spark, r.staged, out))
        val done = ops.result()
        val jobS = median(done.map(_._1))
        (Seq(
          "setup_s" -> median(setup),
          "job_s" -> jobS,
          "grid_rows_per_s" -> w.layout.gridRows / jobS,
          "peak_task_mem_mb" -> median(done.map(_._2.peakTaskMemMb))), done.map(_._2))
      } else traced(r, () => timeLeft)
    val opTimes = r.opTimes.result()
    val load1 = loadavg()
    val ticks1 = cpuTicks()
    val steal = (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
    val correct = r.failed == 0
    // load-invariant counts of the untraced operations, for capture_diff.py
    def med(f: Window => Double) = Json.num(median(windows.map(f)))
    val counts = Json.obj(Seq(
      "jobs" -> med(_.jobs.toDouble), "stages" -> med(_.stages.toDouble),
      "tasks" -> med(_.tasks.length.toDouble), "task_cpu_s" -> med(_.cpuS),
      "shuffle_write_mb" -> med(_.shuffleMb), "spill_mb" -> med(_.spillMb)))
    val env = Json.obj(Seq(
      "loadavg_start" -> Json.num(load0), "loadavg_end" -> Json.num(load1),
      "cpu_steal_share" -> Json.num(steal),
      "cores" -> Json.num(cores.toLong),
      "shuffle_partitions" -> Json.str(r.spark.conf.get("spark.sql.shuffle.partitions")),
      "driver_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576L),
      "grid_rows" -> Json.num(w.layout.gridRows), "hrus" -> Json.num(w.layout.nHru.toLong),
      "session_starts_s" -> setup.map(Json.num).mkString("[", ", ", "]"),
      "warmup_op_s" -> warmup.map(Json.num).mkString("[", ", ", "]"),
      "op_s" -> opTimes.map(Json.num).mkString("[", ", ", "]"),
      "stage_s" -> Json.num(r.stageS), "expect_s" -> Json.num(r.expectS),
      "jvm_s" -> Json.num(java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3),
      "errors" -> r.errors.result().map(Json.str).mkString("[", ", ", "]")))
    r.spark.stop()
    val units = (if (trace) perLayer else endToEnd).toMap
    val ms = metrics.map { case (n, v) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(units(n))))
    }
    System.err.println(s"[perfbench] env $env")
    println("PERFBENCH_ENV " + env)
    println("PERFBENCH_COUNTS " + counts)
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> Json.num(r.attempted.toLong),
      "failed" -> Json.num(r.failed.toLong), "metrics" -> Json.obj(ms))))
  }

  /** Alternates an untraced and a traced operation until time is up;
    * per-layer values are medians over the operations. */
  private def traced(r: Run, more: () => Boolean): (Seq[(String, Double)], Seq[Window]) = {
    val tr = new Tracer(r.spark, r.counters)
    val plain = Seq.newBuilder[(Double, Window)]
    val walls = Seq.newBuilder[Double]
    val layer = Seq.newBuilder[Map[String, Double]]
    do {
      plain += r.op(out => r.w.run(r.spark, r.staged, out))
      var extra = Map.empty[String, Double]
      tr.op += 1
      val wall = r.op(out => extra = r.w.traced(r.spark, r.staged, out, tr))._1
      walls += wall
      val spans = tr.spans.filter(_.op == tr.op)
      def self(n: String) = spans.filter(_.name == n).map(tr.selfSeconds).sum
      def total(n: String) = spans.filter(_.name == n).map(_.seconds).sum
      def rows(n: String) = spans.filter(_.name == n).map(_.rows).sum.toDouble
      def win(n: String) = spans.filter(_.name == n).map(_.window)
      layer += extra ++ Map(
        "WeightedMean.s" -> self("WeightedMean"),
        "WeightedMean.shuffle_mb" -> win("WeightedMean").map(_.shuffleMb).sum,
        "WeightedMean.out_rows" -> rows("WeightedMean"),
        "WeightedMean.peak_task_mem_mb" ->
          (0.0 +: win("WeightedMean").map(_.peakTaskMemMb)).max,
        "EnsembleStats.median_s" -> self("EnsembleStats.median"),
        "EnsembleStats.shuffle_mb" -> win("EnsembleStats.median").map(_.shuffleMb).sum,
        "FillMissing.mapping_s" -> self("FillMissing.mapping"),
        "FillMissing.fill_s" -> self("FillMissing.fill"),
        "FillMissing.missing_hrus" -> rows("FillMissing.mapping"),
        "Sinks.netcdf_s" -> self("Sinks.netcdf"),
        "Sinks.contract_s" -> self("Sinks.contract"),
        "Sinks.mapping_s" -> self("Sinks.mapping"),
        "sources.read_s" -> self("sources.read"),
        "sources.weight_rows" -> rows("sources.read"),
        "GridmetPipeline.subset_s" -> self("GridmetPipeline.subset"),
        "GridmetPipeline.subset_rows" -> rows("GridmetPipeline.subset"),
        "GridmetPipeline.reindex_finalize_s" -> self("GridmetPipeline.reindex_finalize"),
        "Jobs.gridmet_s" -> total("Jobs.gridmet"),
        "Jobs.cfsv2_m1_s" -> total("Jobs.cfsv2_m1"),
        "Jobs.cfsv2_m2_s" -> total("Jobs.cfsv2_m2"),
        "trace.unattributed_s" -> (wall - spans.map(tr.selfSeconds).sum))
    } while (more())
    val untraced = plain.result()
    val perOp = layer.result()
    val traceWall = median(walls.result())
    val runWin = untraced.map(_._2)
    def med(f: Window => Double) = median(runWin.map(f))
    val jobS = median(untraced.map(_._1))
    Files.writeString(Path.of(r.work, "spans.json"), tr.toJson)
    val metrics = perLayer.map(_._1).map { n =>
      n -> (n match {
        case "catalyst.analysis_ms" => med(_.analysisMs.toDouble)
        case "catalyst.optimization_ms" => med(_.optimizationMs.toDouble)
        case "catalyst.planning_ms" => med(_.planningMs.toDouble)
        case "spark.jobs" => med(_.jobs.toDouble)
        case "spark.stages" => med(_.stages.toDouble)
        case "spark.tasks" => med(_.tasks.length.toDouble)
        case "spark.task_s" => med(_.taskS)
        case "spark.task_cpu_s" => med(_.cpuS)
        case "spark.gc_s" => med(_.gcS)
        case "spark.shuffle_write_mb" => med(_.shuffleMb)
        case "spark.spill_mb" => med(_.spillMb)
        case "spark.core_busy_ratio" =>
          median(untraced.map { case (s, w) => w.taskS / (s * cores) })
        case "spark.max_byte_skew" => med(_.maxByteSkew)
        case "trace.wall_s" => traceWall
        case "trace.overhead_s" => traceWall - jobS
        case other => median(perOp.map(_.getOrElse(other, 0.0)))
      })
    }
    (metrics, runWin)
  }

  /** Stages the inputs of each listed seed and prints one checksum per
    * seed: of the text files' bytes and of the parquet tables' rows
    * (parquet file bytes differ between writes of the same rows). */
  def checksum(a: Args): Unit = {
    val w = Workload.byName(a("workload"))
    val spark = session(a("work"))
    val seeds = a("seed").split(",").map(_.toLong)
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    val sums = seeds.zipWithIndex.map { case (seed, k) =>
      val s = Gen.stage(spark, seed, w.layout, s"${a("work")}/stage-$k")
      val parts = Seq(s.weights, s.params).map { f =>
        hex(java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(Path.of(f))))
      } ++ Seq(s.grid, s.features).map { t =>
        val df = spark.read.parquet(t)
        val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
        df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")), bit_xor(h)).first().toSeq.mkString(":")
      }
      Json.str(hex(java.security.MessageDigest.getInstance("SHA-256")
        .digest(parts.mkString("|").getBytes)))
    }
    spark.stop()
    println("PERFBENCH_RESULT " + sums.mkString("[", ", ", "]"))
  }

  /** Runs one operation, checks it, then corrupts one sampled value of
    * its contract and checks again: the second check must fail. */
  def corruptCheck(a: Args): Unit = {
    val w = Workload.byName(a("workload"))
    val r = new Run(w, a("seed").toLong, a("work"))
    val out = s"${a("work")}/corrupt"
    w.run(r.spark, r.staged, out)
    val clean = w.check(r.spark, r.staged, out, r.expected)
    // rewrite every contract under `out` with one sampled value moved
    val (h, t, _) = r.expected.values.keys.head
    val contracts = Files.walk(Path.of(out)).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString == "_attrs.json").map(_.getParent.toString)
    contracts.foreach { c =>
      val df = r.spark.read.parquet(c)
      val hit = col("nhru") === h &&
        datediff(col("time"), lit(Gen.Start).cast("date")) === t
      val bad = df.withColumn("tmax", when(hit, col("tmax") + 0.5).otherwise(col("tmax")))
      bad.write.parquet(s"$c.bad")
      deleteTree(c)
      Files.move(Path.of(s"$c.bad"), Path.of(c))
    }
    val corrupt = w.check(r.spark, r.staged, out, r.expected)
    r.spark.stop()
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "clean_errors" -> Json.num(clean.length.toLong),
      "corrupt_errors" -> Json.num(corrupt.length.toLong))))
  }
}
