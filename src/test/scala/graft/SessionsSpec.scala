package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's conf resolution and its validated env reader. */
class SessionsSpec extends AnyFunSuite {
  private val localFs = "file:///"

  test("a launch conf (spark-submit --master/--conf) wins over the defaults") {
    val launch = Map("spark.master" -> "local[2]", "spark.sql.shuffle.partitions" -> "7")
    val c = Sessions.resolve(launch, "local[*]", 32, Map.empty, localFs)
    assert(c("spark.master") == "local[2]")
    assert(c("spark.sql.shuffle.partitions") == "7")
  }

  test("without a launch conf the CLI's defaults apply") {
    val c = Sessions.resolve(Map.empty, "local[*]", 32, Map.empty, localFs)
    assert(c("spark.master") == "local[*]")
    assert(c("spark.sql.shuffle.partitions") == "32")
    assert(c("spark.sql.session.timeZone") == "UTC")
  }

  test("query-suite profile: nanosAsLong, UTC, AQE, shuffle = cores, checkpoint confs on a file: fs") {
    val c = Sessions.resolve(Map.empty, "local[4]", 4, Sessions.QuerySuite, localFs)
    assert(c("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.sql.adaptive.enabled") == "true")
    assert(c("spark.sql.shuffle.partitions") == "4")
    assert(c("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false")
    assert(c("spark.sql.streaming.checkpointFileManagerClass") ==
      Sessions.FsCheckpointManager)
    // a non-local defaultFS, from the Hadoop conf or the launch conf,
    // keeps Spark's own checkpoint manager
    val onHdfs = Sessions.resolve(Map.empty, "local[4]", 4, Sessions.QuerySuite,
      "hdfs://nn:8020")
    assert(!onHdfs.contains("spark.sql.streaming.checkpointFileManagerClass"))
    val launchHdfs = Sessions.resolve(
      Map("spark.hadoop.fs.defaultFS" -> "hdfs://nn:8020"), "local[4]", 4,
      Sessions.QuerySuite, localFs)
    assert(!launchHdfs.contains("spark.sql.streaming.checkpointFileManagerClass"))
  }

  test("env reader: a bad int names the variable and the value") {
    val e = intercept[IllegalArgumentException](
      Sessions.envInt("SPARK_GRAFT_BENCH_TRIALS", 3, Map("SPARK_GRAFT_BENCH_TRIALS" -> "three")))
    assert(e.getMessage.contains("SPARK_GRAFT_BENCH_TRIALS") && e.getMessage.contains("three"))
    assert(Sessions.envInt("SPARK_GRAFT_BENCH_TRIALS", 3, Map.empty) == 3)
    assert(Sessions.envInt("SPARK_GRAFT_BENCH_TRIALS", 3,
      Map("SPARK_GRAFT_BENCH_TRIALS" -> " 5 ")) == 5)
  }

  test("env reader: a bad double names the variable and the value") {
    val e = intercept[IllegalArgumentException](Sessions.envDouble(
      "SPARK_GRAFT_STRESS_SCALE", 1.0, Map("SPARK_GRAFT_STRESS_SCALE" -> "1,5")))
    assert(e.getMessage.contains("SPARK_GRAFT_STRESS_SCALE") && e.getMessage.contains("1,5"))
    assert(Sessions.envDouble("SPARK_GRAFT_STRESS_SCALE", 1.0,
      Map("SPARK_GRAFT_STRESS_SCALE" -> "0.25")) == 0.25)
  }

  test("env reader: a name list with an unknown or no entry fails, naming it") {
    val known = Seq("q01_a", "q02_b", "q03_c")
    val v = "SPARK_GRAFT_VERIFY_ONLY"
    assert(Sessions.envNames(v, known, Map.empty).isEmpty)
    assert(Sessions.envNames(v, known, Map(v -> " q02_b, q01_a ,")) ==
      Some(Set("q01_a", "q02_b")))
    val e = intercept[IllegalArgumentException](
      Sessions.envNames(v, known, Map(v -> "q01_a,q9_gone,q8_gone")))
    assert(e.getMessage.contains(v) && e.getMessage.contains("q8_gone, q9_gone"))
    assert(!e.getMessage.contains("q01_a"))
    val none = intercept[IllegalArgumentException](
      Sessions.envNames(v, known, Map(v -> " , ")))
    assert(none.getMessage.contains(v))
    // the stress runner's real scenario list: a retired row name fails
    val stress = Stress.scenarios(0.0005).map(_.name)
    assert(intercept[IllegalArgumentException](Sessions.envNames(
      "SPARK_GRAFT_STRESS_ONLY", stress, Map("SPARK_GRAFT_STRESS_ONLY" ->
        "sessionize_eventtime_stream,sessionize_stateful_stream")))
      .getMessage.contains("sessionize_stateful_stream"))
  }

  test("env reader: 0 cores is rejected") {
    val e = intercept[IllegalArgumentException](
      Sessions.cores(4, Map("SPARK_GRAFT_CPUS" -> "0")))
    assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains("'0'"))
    assert(Sessions.cores(4, Map.empty) == 4)
  }
}
