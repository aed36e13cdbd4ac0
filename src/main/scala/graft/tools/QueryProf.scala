package graft.tools

/** Dev tool: run named SparkEntry queries bench-shaped (local[$CPUS],
  * shuffle = cpus, AQE on, noop sink, warm tables) with a
  * [[StressMetrics]] window attached, and print each trial's totals and
  * the last trial's per-stage wall/CPU/byte rows — the measurement seam
  * guide §1 asks for before any change. Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     runMain graft.tools.QueryProf q108_proximity_stream [more ...]
  * SPARK_GRAFT_PROF_TRIALS (default 2) trials per query; per-stage rows
  * print for the LAST trial (steady state).
  */
object QueryProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val trials = graft.Sessions.envInt("SPARK_GRAFT_PROF_TRIALS", 2)
    val spark = graft.Sessions.querySuite(graft.Sessions.cores(32), "WARN")
    graft.Sessions.warmTables(spark, sfDir)
    val m = new StressMetrics().attach(spark.sparkContext)
    // SPARK_GRAFT_PROF_SAMPLE_MS=N: in-process stack sampler over the
    // executor task threads (jstack/jcmd cannot attach in this
    // sandbox); prints a frame histogram per query so non-CPU task
    // wall can be attributed (blocked-on-what, not just how-long).
    // tolerate junk in the diagnostic knob: non-numeric or <= 0 values
    // are ignored rather than throwing at startup / busy-spinning
    val sampleMs = sys.env.get("SPARK_GRAFT_PROF_SAMPLE_MS")
      .flatMap(v => scala.util.Try(v.toInt).toOption).filter(_ > 0)
    val sampleHist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    val sampler = sampleMs.map { ms =>
      val t = new Thread(() => {
        while (sampling) {
          val it = Thread.getAllStackTraces.entrySet.iterator
          while (it.hasNext) {
            val e = it.next()
            val name = e.getKey.getName
            if (name.startsWith("Executor task launch")) {
              val st = e.getValue
              if (st.nonEmpty) {
                val state = e.getKey.getState.toString
                // first meaningful frame + the first spark/graft frame
                val top = st.head.toString
                val own = st.find(f => {
                  val c = f.getClassName
                  (c.startsWith("org.apache.spark") || c.startsWith("graft")) &&
                    !c.contains("Unsafe")
                }).map(_.toString).getOrElse("")
                val key = s"$state | $top | $own"
                sampleHist.merge(key, Integer.valueOf(1),
                  (a, b) => Integer.valueOf(a.intValue + b.intValue))
              }
            }
          }
          Thread.sleep(ms.toLong)
        }
      }, "graft-prof-sampler")
      t.setDaemon(true); t.start(); t
    }
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // clear BEFORE the trial loop, not just after the printout:
      // samples taken between queries (setup, GC, idle) and before the
      // first query would otherwise pollute this query's histogram
      sampleHist.clear()
      for (t <- 1 to trials) {
        System.gc(); Thread.sleep(100)
        spark.catalog.clearCache()
        m.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val s = m.snapshot()
        println(f"[prof] $name trial $t wall=$sec%.3f s jobs=${s.jobCount}" +
          f" stages=${s.stageCount} tasks=${s.taskCount} shufW=${s.shuffleWriteBytes}" +
          f" shufR=${s.shuffleReadBytes} spill=${s.spillBytes}" +
          f" skew1s=${s.maxTaskSkew1s}%.2f cpuSkew1s=${s.maxTaskSkew1sCpu}%.2f" +
          f" codegen_compiles=${s.codegenCompiles}")
        if (t == trials)
          s.stageRows.sortBy(-_.maxTaskMs).foreach(r => println(s"[prof]   ${r.json}"))
      }
      if (sampleMs.isDefined) {
        println(s"[prof] $name task-thread sample histogram (top 15):")
        import scala.jdk.CollectionConverters._
        sampleHist.asScala.toSeq.sortBy(-_._2.intValue).take(15).foreach {
          case (k, v) => println(s"[prof]   $v  $k")
        }
        sampleHist.clear()
      }
    }
    sampling = false
    sampler.foreach(_.join(1000))
    spark.stop()
  }
}
