package graft.streaming

import graft.SparkSpec
import graft.functions.EventTime
import graft.operators.RangeJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.sources.Staging

/** Physical-encoding drift guard (round-8 regression class).
  *
  * The driver owns the testdata generator and has already changed the
  * events `ts` encoding once (int64 nanos → TIMESTAMP_MICROS NTZ),
  * which broke every `unix_micros` call site at analysis time. The
  * engine must be INVARIANT to the physical encoding of the same
  * logical instant stream: this spec writes one fixture under all
  * three encodings Spark can surface —
  *
  *   - int64 nanoseconds (read back as LongType under
  *     `spark.sql.legacy.parquet.nanosAsLong`),
  *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TimestampNTZType,
  *   - TIMESTAMP(MICROS, isAdjustedToUTC=true)  → TimestampType,
  *
  * — and pins that sessionize / proximity join / event deltas /
  * tumbling counts (the q24/q47/q70/q23 shapes) produce IDENTICAL
  * results on each, and that the streaming proximity join and the
  * stateful streaming sessionizer match their batch forms on an NTZ
  * source. */
class EventEncodingSpec extends SparkSpec {
  import spark.implicits._

  // one logical fixture: 2 users, µs-precision instants spanning a
  // session gap; values exercise the decimal-sum path
  private val baseUs: Long = 1600000000L * 1000000L // 2020-09-13T12:26:40Z
  private val fixture: Seq[(Long, Long, Long, Double)] = Seq(
    // (user_id, ts_us, event_id, value)
    (1L, baseUs, 1L, 1.25),
    (1L, baseUs + 10L * 60 * 1000000, 2L, 2.5),           // +10 min: same session
    (1L, baseUs + 50L * 60 * 1000000, 3L, 0.125),         // +40 min gap: new session
    (1L, baseUs + 50L * 60 * 1000000 + 1, 4L, 3.0),       // +1 µs: same session
    (2L, baseUs + 123456L, 5L, 7.75),
    (2L, baseUs + 31L * 60 * 1000000 + 123457L, 6L, 0.5)) // gap > 30 min: new session

  /** Write the fixture under one encoding; returns the parquet dir. */
  private def writeEncoded(kind: String): String = {
    val dir = Staging.scratchDir(s"ev_enc_$kind").toString
    val df = kind match {
      case "int64ns" =>
        fixture.map { case (u, us, e, v) => (u, us * 1000L, e, v) }
          .toDF("user_id", "ts", "event_id", "value")
      case "ntz" =>
        fixture.map { case (u, us, e, v) =>
          val ldt = java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
          (u, ldt, e, v)
        }.toDF("user_id", "ts", "event_id", "value")
      case "utc" =>
        fixture.map { case (u, us, e, v) =>
          val inst = java.time.Instant.ofEpochSecond(
            Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
          (u, inst, e, v)
        }.toDF("user_id", "ts", "event_id", "value")
    }
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private lazy val dirs: Map[String, String] =
    Seq("int64ns", "ntz", "utc").map(k => k -> writeEncoded(k)).toMap

  private def read(kind: String): DataFrame = spark.read.parquet(dirs(kind))

  // pin the premise: the three dirs really do surface three different
  // Spark types (otherwise the invariance tests test nothing)
  test("fixture encodings surface as long / TIMESTAMP_NTZ / TIMESTAMP") {
    assert(read("int64ns").schema("ts").dataType == LongType)
    assert(read("ntz").schema("ts").dataType == TimestampNTZType)
    assert(read("utc").schema("ts").dataType == TimestampType)
  }

  test("normalize leaves DATE (and non-time types) untouched — it is not an instant encoding") {
    val df = Seq(("2021-01-03", 1L)).toDF("d", "n")
      .select(col("d").cast(DateType).as("ts"), col("n"))
    val out = EventTime.normalize(df, "ts", "absent") // absent names are ignored
    assert(out.schema("ts").dataType == DateType)
    assert(out.schema("n").dataType == LongType)
  }

  test("EventTime.normalize maps every encoding to the same TimestampType instants") {
    val normalized = dirs.keys.toSeq.map { k =>
      val df = EventTime.normalize(read(k), "ts")
      assert(df.schema("ts").dataType == TimestampType, s"encoding $k")
      k -> rows(df.select(col("event_id"), unix_micros(col("ts"))))
    }.toMap
    val expected = fixture.map { case (_, us, e, _) => Seq[Any](e, us) }.toSet
    normalized.foreach { case (k, got) => assert(got == expected, s"encoding $k") }
  }

  test("sessionize (q24 shape) is encoding-invariant") {
    val results = dirs.keys.toSeq.map { k =>
      k -> rows(EventPipeline.sessionize(read(k), gapMinutes = 30)
        .select(col("user_id"), col("sess_id"),
          unix_micros(col("session_start")), col("n_events"), col("sum_value")))
    }.toMap
    assert(results("ntz") == results("int64ns"), "ntz vs int64ns")
    assert(results("utc") == results("int64ns"), "utc vs int64ns")
    // and the content is right: user 1 splits at the 40-min gap
    assert(results("ntz").exists(r => r(0) == 1L && r(3) == 2L && r(4) == 3.75))
  }

  test("proximityJoin (q47 shape) is encoding-invariant, including mixed-side encodings") {
    def run(lk: String, rk: String) = rows(
      RangeJoin.proximityJoin(
        read(lk).select(col("event_id").as("l_id"), col("ts")),
        read(rk).select(col("event_id"), col("ts")),
        "ts", "ts", radiusUs = 200000L)
        .select(col("l_id"), col("r_event_id")))
    val base = run("int64ns", "int64ns")
    assert(base.nonEmpty) // ±0.2 s catches the (3,4) and (1,1)-style self pairs
    assert(run("ntz", "ntz") == base)
    assert(run("utc", "utc") == base)
    assert(run("ntz", "int64ns") == base, "mixed left/right encodings")
  }

  test("event deltas (q70 shape) and tumbling counts (q23 shape) are encoding-invariant") {
    def deltas(k: String) = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      rows(EventTime.normalize(read(k), "ts")
        .withColumn("us", unix_micros(col("ts")))
        .select(col("user_id"), col("event_id"),
          (col("us") - lag(col("us"), 1).over(w)).as("delta_us")))
    }
    // no hand-wrapped normalize: tumblingCounts carries its own seam
    def tumbling(k: String) = rows(
      EventPipeline.tumblingCounts(read(k).withColumn("event_type", lit("e")))
        .select(unix_micros(col("hour_start")), col("n_events"), col("sum_value")))
    assert(deltas("ntz") == deltas("int64ns"))
    assert(deltas("utc") == deltas("int64ns"))
    assert(deltas("ntz").exists(r => r(2) == 1L)) // the 1-µs gap survives
    assert(tumbling("ntz") == tumbling("int64ns"))
    assert(tumbling("utc") == tumbling("int64ns"))
  }

  test("streaming unkeyed proximity join == batch RangeJoin on a bounded NTZ stream") {
    // NTZ-encoded source on purpose: the streaming form must carry the
    // same encoding seam as the batch operator it mirrors
    val dir = Staging.scratchDir("ev_prox_src").toString
    fixture.map { case (u, us, e, v) =>
      val ldt = java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
      (u, ldt, e, v, if (e % 2 == 1) "error" else "ok")
    }.toDF("user_id", "ts", "event_id", "value", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val checkpoint = Staging.scratchDir("ev_prox_ckpt").toString
    val radius = 200000L // ±0.2 s: catches the 1-µs and 123456-µs gaps
    val q = EventPipeline.proximityJoinStream(spark, dir, "error", radius)
      .option("checkpointLocation", checkpoint)
      .format("memory").queryName("prox_stream").start()
    assert(q.awaitTermination(60000), "bounded run did not self-terminate"); q.stop()
    def canon(df: DataFrame) = rows(df.select(
      col("l_id"), unix_micros(col("l_ts")),
      col("r_id"), unix_micros(col("r_ts")), col("r_value")))
    val streamed = canon(spark.table("prox_stream"))
    val batch = canon(StreamReferences.proximityJoin(
      spark.read.parquet(dir), "error", radius))
    assert(streamed == batch)
    assert(streamed.exists(r => r(0) != r(2))) // at least one non-self pair
  }

  test("event-time sessionization runs on an NTZ source (batch parity)") {
    val checkpoint = Staging.scratchDir("ev_enc_ckpt").toString
    val q = EventPipeline.sessionizeEventTimeStream(spark, dirs("ntz"),
        gapMinutes = 30, delay = "1 hour")
      .option("checkpointLocation", checkpoint)
      .format("memory").queryName("enc_ntz_sessions").start()
    assert(q.awaitTermination(60000), "bounded run did not self-terminate")
    q.stop()
    val streamed = rows(spark.table("enc_ntz_sessions")
      .select(col("user_id"), col("sess_id"),
        unix_micros(col("session_start")), col("n_events"), col("sum_value")))
    // append mode emits CLOSED sessions only. The final watermark
    // (max ts − 1 h) passes no user's last session end, so batch closed
    // = all but the last session of each user
    val batchAll = EventPipeline.sessionize(read("ntz"), gapMinutes = 30)
    val lastPerUser = Window.partitionBy(col("user_id"))
    val batchClosed = rows(batchAll
      .withColumn("max_sess", max(col("sess_id")).over(lastPerUser))
      .filter(col("sess_id") < col("max_sess"))
      .select(col("user_id"), col("sess_id"),
        unix_micros(col("session_start")), col("n_events"), col("sum_value")))
    assert(streamed == batchClosed)
    assert(streamed.nonEmpty) // both users close ≥1 session in the fixture
  }
}
