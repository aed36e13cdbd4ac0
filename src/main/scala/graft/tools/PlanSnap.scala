package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: write each named query's `explain("formatted")` output to
  * its own file under an output directory, with the session shaped like
  * the bench (local[$SPARK_GRAFT_CPUS], shuffle.partitions = cpus, AQE
  * on) so Exchange counts / join strategies match what the bench runs.
  *
  * Usage: runMain graft.tools.PlanSnap <outDir> [query ...]
  * (no query names = every declared query). SPARK_GRAFT_SF_DIR selects
  * the data directory (default sf0.1 — the bench scale).
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args.head
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.querySuite(graft.Sessions.cores(32), "ERROR")
    Files.createDirectories(Paths.get(outDir))
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      val plan =
        try {
          val df = graft.SparkEntry.queries(n)(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"failed: ${e.getMessage}" }
      Files.writeString(Paths.get(s"$outDir/$n.txt"), plan + "\n")
      println(s"[plansnap] $n (${plan.linesIterator.size} lines)")
    }
    spark.stop()
  }
}
