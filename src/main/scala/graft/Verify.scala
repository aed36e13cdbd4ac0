package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // optional focused dump for iteration (tools/check.py takes the
    // same comma-separated list as its third argument)
    val only = Sessions.envNames("SPARK_GRAFT_VERIFY_ONLY", SparkEntry.queries.keys)
    val spark = Sessions.querySuite(Sessions.cores(4), "WARN")
    new java.io.File(outDir).mkdirs()
    // Declared-query completeness: a query that THROWS must still leave
    // a per-query trace, or it silently vanishes from the correctness
    // report (round 8: 3 analysis-time failures made "99 rows" read as
    // 99/99 when it was 99/102). On failure we still create the query's
    // output directory (empty — the comparer reports it as a failing
    // row, never skips it) plus an _ERROR.txt with the throw, and
    // aggregate everything into verify_errors.json beside oracle_sql.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val toRun = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Written BEFORE the loop: if this JVM dies mid-run (OOM, kill),
    // the comparer diffs this manifest against the output dirs and
    // fails the unreached queries loudly instead of shrinking the
    // denominator.
    Files.writeString(Paths.get(s"$outDir/verify_declared.json"),
      toRun.keys.toSeq.sorted
        .map(n => "\"" + n + "\"").mkString("[", ",", "]"))
    toRun.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        val d = new java.io.File(s"$outDir/$name")
        // a stale success from a previous run must not mask this failure;
        // listFiles() is null for a plain file, and a plain file at the
        // path would make mkdirs() fail — handle both without throwing
        // from inside this catch block
        if (d.isFile) d.delete()
        else if (d.exists())
          Option(d.listFiles()).getOrElse(Array.empty).foreach(_.delete())
        d.mkdirs()
        try Files.writeString(Paths.get(s"$outDir/$name/_ERROR.txt"), msg + "\n")
        catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
