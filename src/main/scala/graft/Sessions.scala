package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Each entry point (Bench,
  * Verify, Smoke, Stress, the CLI jobs, the dev tools and the test
  * suite) states its shape — master, shuffle partitions, log level and
  * its own extra confs — and inherits the settings every session
  * shares. A key the launch already set (`spark-submit --master/--conf`
  * or a `-Dspark.*` system property) always wins over these defaults,
  * so a deployment reshapes any session through Spark's own confs. */
object Sessions {

  /** Confs of a session that runs the query suite: events.parquet
    * stores nanosecond timestamps, which Spark reads only as longs; AQE
    * on, the shape every bench capture was measured under. */
  val QuerySuite: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true")

  val FsCheckpointManager: String =
    "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileSystemBasedCheckpointFileManager"

  /** The effective conf of a session: the shared defaults, then the
    * caller's `extra`, then everything `launch` set, which wins.
    *
    * Streaming checkpoints (the state-store backend itself is
    * `spark.sql.streaming.stateStore.providerClass`, HDFS-backed by
    * default; the RocksDB A/B is OPTIMIZATION_r19.md):
    *  - checksum companion files off: Spark 4.1 blocks the task thread
    *    on an async checksum write per checkpoint file close, about half
    *    the non-CPU wall of the stream-stream join stages
    *    (OPTIMIZATION_r18.md), while a local or HDFS filesystem already
    *    CRCs every block;
    *  - when checkpoints resolve against a `file:` `fs.defaultFS`, the
    *    FileSystem-based checkpoint manager: the FileContext default
    *    forks a subprocess per temp-file create/rename on a local fs
    *    without the native hadoop library, and rename-based atomicity is
    *    as good on POSIX. Other filesystems (HDFS, where FileContext
    *    rename-with-overwrite is the stronger primitive) keep Spark's
    *    default.
    *
    * @param defaultFs the `fs.defaultFS` of the Hadoop configuration;
    *   `spark.hadoop.fs.defaultFS` in `launch` overrides it, as it does
    *   in the session's own Hadoop conf */
  def resolve(
      launch: Map[String, String], master: String, shufflePartitions: Int,
      extra: Map[String, String], defaultFs: String): Map[String, String] = {
    val fs = launch.getOrElse("spark.hadoop.fs.defaultFS", defaultFs)
    val localFs = new java.net.URI(fs).getScheme == "file"
    Map(
      "spark.master" -> master,
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false") ++
      (if (localFs)
        Map("spark.sql.streaming.checkpointFileManagerClass" -> FsCheckpointManager)
      else Map.empty) ++
      extra ++ launch
  }

  /** Build (or join) the JVM's session. `logLevel` None leaves the log4j
    * configuration's level in place. */
  def create(
      master: String, shufflePartitions: Int, logLevel: Option[String],
      extra: Map[String, String] = Map.empty): SparkSession = {
    val launch = new SparkConf().getAll.toMap
    val defaultFs = org.apache.hadoop.fs.FileSystem.getDefaultUri(
      new org.apache.hadoop.conf.Configuration()).toString
    val spark = SparkSession.builder()
      .config(resolve(launch, master, shufflePartitions, extra, defaultFs))
      .getOrCreate()
    logLevel.foreach(spark.sparkContext.setLogLevel)
    spark
  }

  /** A query-suite session on `local[cores]` with shuffle partitions =
    * cores. */
  def querySuite(cores: Int, logLevel: String): SparkSession =
    create(s"local[$cores]", cores, Some(logLevel), QuerySuite)

  /** Warm the JVM (codegen compiler, shuffle machinery) and the suite's
    * tables before timing. Full columnar reads through the noop sink,
    * not count(): count() touches only parquet footers, so the first
    * query per table would still pay the cold column decode and
    * page-cache miss. A table missing from `sfDir` is skipped. */
  def warmTables(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("lineitem", "orders", "customer", "part", "events",
      "documents", "embeddings", "nation", "region")
      .foreach(t => try spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").format("noop").save()
        catch { case _: Throwable => () })
  }

  /** `SPARK_GRAFT_CPUS`, which must be a positive integer. */
  def cores(default: Int, env: Map[String, String] = sys.env): Int = {
    val n = envInt("SPARK_GRAFT_CPUS", default, env)
    if (n <= 0) throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS='${env("SPARK_GRAFT_CPUS")}' must be a positive integer")
    n
  }

  /** An integer env setting; a value that is not one fails at startup
    * with the variable and the value in the message. */
  def envInt(name: String, default: Int, env: Map[String, String] = sys.env): Int =
    envNumber(name, default, env, "an integer")(_.toIntOption)

  /** A comma-separated name list in env setting `name`; None when it is
    * unset. Every name must be one of `known`: a list that names an
    * unknown entry, or none at all, fails at startup naming the
    * variable and the unknown entries, instead of running fewer. */
  def envNames(name: String, known: Iterable[String],
      env: Map[String, String] = sys.env): Option[Set[String]] =
    env.get(name).map { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = (names -- known).toSeq.sorted
      if (names.isEmpty || unknown.nonEmpty) throw new IllegalArgumentException(
        if (names.isEmpty) s"$name='$v' names no entry"
        else s"$name names unknown entries: ${unknown.mkString(", ")}")
      names
    }

  def envDouble(name: String, default: Double,
      env: Map[String, String] = sys.env): Double =
    envNumber(name, default, env, "a number")(_.toDoubleOption)

  private def envNumber[T](name: String, default: T, env: Map[String, String],
      what: String)(parse: String => Option[T]): T =
    env.get(name) match {
      case None => default
      case Some(v) => parse(v.trim).getOrElse(throw new IllegalArgumentException(
        s"$name='$v' must be $what"))
    }
}
