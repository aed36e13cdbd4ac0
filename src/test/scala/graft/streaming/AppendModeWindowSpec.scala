package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import graft.sources.Staging

/** Append-mode tumbling windows (q110): emit-once on watermark close,
  * through the file sink — the 100× deployment shape for streaming
  * aggregates (Complete mode re-emits the whole aggregate per batch). */
class AppendModeWindowSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("append mode emits exactly the watermark-closed windows, incl. the == boundary") {
    // max ts 13:00:00 → final watermark 12:00:00.000 (1 h delay).
    // [10,11): closed. [11,12): end == watermark — Spark's eviction
    // predicate is window.end <= watermark, so it EMITS (pinned here;
    // the q110 oracle encodes the same <=). [13,14): open, never emits.
    val ev = Seq(
      (1L, ts("2021-01-01 10:00:00"), 1L, 1.0, "view"),
      (1L, ts("2021-01-01 10:20:00"), 2L, 2.0, "view"),
      (1L, ts("2021-01-01 11:15:00"), 3L, 4.0, "click"),
      (1L, ts("2021-01-01 13:00:00"), 4L, 8.0, "view")
    ).toDF("user_id", "ts", "event_id", "value", "event_type")
    val dir = Staging.scratchDir("graft-append").toString
    ev.write.mode("overwrite").parquet(dir)
    val sink = Staging.scratchDir("graft-append-sink")
    val q = EventPipeline.tumblingCountsStreamAppend(spark, dir)
      .format("parquet").option("path", sink.resolve("out").toString)
      .option("checkpointLocation", sink.resolve("ckpt").toString)
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(sink.resolve("out").toString)

    // only watermark-closed windows came out (the open one is absent)
    assert(rows(streamed.select("hour_start", "event_type", "n_events")) ==
      Set(Seq[Any](ts("2021-01-01 10:00:00"), "view", 2L),
        Seq[Any](ts("2021-01-01 11:00:00"), "click", 1L)))

    // and the batch oracle predicate reproduces the emitted set exactly:
    // wm_us = floor(max_us/1000)*1000 - 1h; emit iff end_us <= wm_us
    val wmUs = ev.agg((floor(unix_micros(max(col("ts"))) / 1000) * 1000
      - 3600L * 1000000L).as("wm")).as[Long].head()
    val batch = EventPipeline.tumblingCounts(ev)
      .filter(unix_micros(col("hour_start")) + 3600L * 1000000L <= wmUs)
    assert(rows(streamed) == rows(batch))
  }

  test("checkpoint/restart: open-window state recovered, closed windows emitted exactly once") {
    val src = Staging.scratchDir("graft-app-rst-src").toString
    val ckpt = Staging.scratchDir("graft-app-rst-ckpt").toString
    val out = Staging.scratchDir("graft-app-rst-out").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "hour_start TIMESTAMP, event_type STRING, n_events BIGINT, sum_value DOUBLE")
    def readOut() = spark.read.schema(schema).parquet(out)
    def run(): Unit = {
      val q = EventPipeline.tumblingCountsStreamAppend(spark, src)
        .option("checkpointLocation", ckpt).option("path", out)
        .format("parquet").start()
      q.awaitTermination()
    }
    // RUN 1: wm ends at 11:30 → only [10,11) closes and emits; [11,12)
    // and [12,13) stay OPEN in the state store checkpoint
    Seq((1L, ts("2021-01-01 10:15:00"), 1L, 1.0, "view"),
        (1L, ts("2021-01-01 11:10:00"), 2L, 2.0, "view"),
        (1L, ts("2021-01-01 12:30:00"), 3L, 4.0, "view"))
      .toDF("user_id", "ts", "event_id", "value", "event_type")
      .write.mode("append").parquet(src)
    run()
    assert(rows(readOut().select("hour_start", "n_events")) ==
      Set(Seq[Any](ts("2021-01-01 10:00:00"), 1L)))
    // RUN 2 (new query, same checkpoint): an 11:45 event — NOT late
    // (≥ the recovered 11:30 watermark) — must merge into [11,12)'s
    // RECOVERED open-window state; 14:00 advances wm to 13:00, closing
    // [11,12) (2 events — proof state crossed the restart) and [12,13)
    Seq((1L, ts("2021-01-01 11:45:00"), 4L, 8.0, "view"),
        (1L, ts("2021-01-01 14:00:00"), 5L, 16.0, "view"))
      .toDF("user_id", "ts", "event_id", "value", "event_type")
      .write.mode("append").parquet(src)
    run()
    // [10,11) appears EXACTLY once — no re-emission of pre-restart
    // output through the file sink's commit manifest (exactly-once)
    assert(rows(readOut().select("hour_start", "n_events", "sum_value")) ==
      Set(Seq[Any](ts("2021-01-01 10:00:00"), 1L, 1.0),
        Seq[Any](ts("2021-01-01 11:00:00"), 2L, 10.0),
        Seq[Any](ts("2021-01-01 12:00:00"), 1L, 4.0)))
  }
}
