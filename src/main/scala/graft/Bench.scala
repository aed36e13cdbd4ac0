package graft

/** Benchmark entrypoint.
  *
  * Prints ONE JSON line with total + per-query seconds. Round-5 review
  * showed single-trial numbers swing ±30% under machine load and are
  * useless for regression detection, so this harness now:
  *   - records 1/5/15-min loadavg (from /proc/loadavg) at start and end
  *     of the timed section into the JSON;
  *   - waits up to SPARK_GRAFT_BENCH_LOAD_WAIT_SEC (default 120 s) for
  *     the 1-min loadavg to drop below SPARK_GRAFT_BENCH_LOAD_GATE
  *     (default 2.5) before timing, and annotates the run with
  *     "load_contaminated": true if it never did — annotation, not
  *     refusal, so a driver-side run always produces a number;
  *   - runs SPARK_GRAFT_BENCH_TRIALS trials per query (default 3) and
  *     reports the per-query MEDIAN in "queries" (what `value` sums),
  *     the MIN in "queries_min", and every raw trial in
  *     "queries_trials" so nothing is hidden — trial 1 includes any
  *     once-per-corpus artifact training (ANN quantizers, dup graph),
  *     later trials are the steady-state cost;
  *   - excludes FAILED trials from every statistic (a throw is near-
  *     instant and would fake a speedup) and reports them in
  *     "queries_failures" (per-query failed-trial counts) and "failed"
  *     (queries with zero successful trials, whose median reads -1).
  */
object Bench {
  /** 1/5/15-min load averages; -1 each where /proc/loadavg is unreadable. */
  private[graft] def loadavg(): Seq[Double] =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")))
      .trim.split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq(-1.0, -1.0, -1.0) }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cores(32)
    val trials = Sessions.envInt("SPARK_GRAFT_BENCH_TRIALS", 3).max(1)
    val loadGate = Sessions.envDouble("SPARK_GRAFT_BENCH_LOAD_GATE", 2.5)
    val loadWaitSec = Sessions.envInt("SPARK_GRAFT_BENCH_LOAD_WAIT_SEC", 120)
    // optional focused run for profiling: comma-separated query names
    val only = Sessions.envNames("SPARK_GRAFT_BENCH_ONLY", SparkEntry.queries.keys)
    val spark = Sessions.querySuite(cpus, "WARN")
    // Warm the JVM before timing: codegen compiler, parquet footers,
    // shuffle machinery. JIT warmup is not query cost — the oracle
    // baseline is likewise timed on a warm connection.
    Sessions.warmTables(spark, sfDir)
    // noop sink, not count(): count() lets Catalyst prune every computed
    // column, which would "bench" map-heavy queries as bare row counts.

    // Load gate: an external workload inflates every query uniformly
    // (the bench itself drives loadavg up, so only the PRE-run value is
    // a contamination signal). Wait briefly for calm, else annotate.
    val waitDeadline = System.nanoTime() + loadWaitSec * 1000L * 1000 * 1000
    var load0 = loadavg()
    while (load0.head > loadGate && System.nanoTime() < waitDeadline) {
      System.err.println(s"[bench] loadavg ${load0.head} > $loadGate; waiting for quiet box")
      Thread.sleep(10000)
      load0 = loadavg()
    }
    val contaminated = load0.head > loadGate

    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Trials are interleaved whole-suite passes (pass 1 = all queries,
    // pass 2 = all queries, ...), not back-to-back per query: a
    // transient external load spike then contaminates one PASS, and the
    // per-query median still has two clean samples. Pass 1 also pays
    // the once-per-corpus artifact training exactly like a single-trial
    // run would, keeping "queries_trials"[0] comparable to old rounds.
    // A failed trial must NOT enter the median: time-to-exception is
    // near zero, so a regression that turns a 5 s query into a throw
    // would otherwise read as a 50× speedup. Failures are excluded from
    // the stats and surfaced in "queries_failures" / "failed" instead;
    // a query with zero successful trials reports -1.
    val trialTimes = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val trialFails = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    // trial-1 times, surfaced as "queries_cold": pass 1 pays any
    // once-per-corpus artifact training (ANN quantizers, dup pair sets —
    // the q14/q17/q81 convention), so the medians alone under-read those
    // queries' cold cost; a cross-round comparator needs both
    // machine-readable, not buried in "queries_trials" prose.
    val coldTimes = scala.collection.mutable.Map.empty[String, Double]
    for (t <- 1 to trials; (name, fn) <- names) {
      // Inter-query isolation: round-6 medians showed suite-position
      // coupling — three adjacent queries' inflated trials coincided
      // (q52/q53/q54), with mins 8× below their medians and no code
      // change. The mechanism is GC debt from the preceding heavy
      // query being collected inside the NEXT query's timed window.
      // Pay that debt here, outside the timer, and give concurrent
      // phases a beat to finish.
      System.gc()
      Thread.sleep(100)
      // Cold SQL cache per timed run: operators that persist() an
      // intermediate (e.g. reindex's aggregated series) register it
      // with the CacheManager, which matches the SAME canonicalized
      // plan on the next trial — trial 2+ would silently time a cache
      // READ of trial 1's result, not the query. Driver-side artifact
      // caches (ANN centroids/codebooks, localCheckpoint'd dup graphs)
      // are intentionally NOT touched: they are train-once corpus
      // artifacts, not per-query state.
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        trialTimes(name) = trialTimes(name) :+ sec
        if (t == 1) coldTimes(name) = sec
      } catch { case e: Throwable =>
        trialFails(name) += 1
        System.err.println(s"[bench] $name trial $t failed: ${e.getMessage}")
      }
    }
    val load1 = loadavg()
    def jmap(f: Vector[Double] => Double): String =
      names.map { case (k, _) => s"\"" + k + "\":" + f(trialTimes(k)) }
        .mkString("{", ",", "}")
    val qs = jmap(v => if (v.isEmpty) -1.0 else median(v))
    val qsMin = jmap(v => if (v.isEmpty) -1.0 else v.min)
    val qsCold = names.map { case (k, _) =>
      s"\"" + k + "\":" + coldTimes.getOrElse(k, -1.0)
    }.mkString("{", ",", "}")
    val qsTrials = names.map { case (k, _) =>
      s"\"" + k + "\":" + trialTimes(k).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val qsFails = names.collect { case (k, _) if trialFails(k) > 0 =>
      s"\"" + k + "\":" + trialFails(k)
    }.mkString("{", ",", "}")
    val allFailed = names.collect {
      case (k, _) if trialTimes(k).isEmpty => s"\"" + k + "\""
    }.mkString("[", ",", "]")
    // "value" = sum of the SUCCESSFUL queries' medians only — an
    // all-failed query reports -1.0 in "queries" and is listed in
    // "failed"; letting it contribute 0.0 here would silently
    // understate the suite while looking complete.
    val total = names.collect {
      case (k, _) if trialTimes(k).nonEmpty => median(trialTimes(k))
    }.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""queries_min":$qsMin,"queries_cold":$qsCold,""" +
      s""""queries_trials":$qsTrials,"trials":$trials,""" +
      s""""queries_failures":$qsFails,"failed":$allFailed,""" +
      s""""loadavg_start":${load0.mkString("[", ",", "]")},""" +
      s""""loadavg_end":${load1.mkString("[", ",", "]")},""" +
      s""""load_contaminated":$contaminated,"sf":"$sfDir"}"""
    println(line)
    // also write the JSON to a file: scraping it from sbt's log tail is
    // fragile (BENCH_r01 came back with parsed=null)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $out failed: $e") }
    spark.stop()
    // Do NOT repeat the ~6 KB full line here: round-8's captured tail
    // ended mid-way through the repeated copy, i.e. the driver caps the
    // bytes it captures and the duplicate overflowed the cap. One full
    // line (contract), then one compact (< 200 char) record carrying
    // the headline numbers — any tail window or byte cap still ends in
    // a complete parseable JSON line.
    val nFailedQ = names.count { case (k, _) => trialTimes(k).isEmpty }
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${names.size},""" +
      s""""trials":$trials,"failed_count":$nFailedQ,""" +
      s""""load_contaminated":$contaminated,"sf":"$sfDir"}""")
    // the JVM may exit through sbt's trap without draining a buffered
    // stdout; flush explicitly so the tail parser always sees the line
    System.out.flush()
  }
}
