package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import graft.sources.Staging

/** Append-mode SESSION windows (q111): merging session state + emit-once
  * watermark eviction together, through the file sink. */
class AppendModeSessionSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("append mode emits exactly the watermark-closed sessions, incl. the == boundary") {
    // max ts 11:30 → final watermark 10:30 (1 h delay).
    // u3's session [09:00, 09:30): clearly closed — emits.
    // u1's session [10:00, 10:30): end == watermark — session-window
    //   eviction is ALSO window.end <= watermark, so it EMITS (pinned
    //   here; the q111 oracle encodes the same <=).
    // u2's session [11:30, 12:00): open — never emits.
    // u1's two events are 10 min apart: they must MERGE into one
    //   session before eviction (merge + evict in the same engine).
    val ev = Seq(
      (3L, ts("2021-01-01 09:00:00"), 1L, 2.0, "view"),
      (1L, ts("2021-01-01 09:50:00"), 2L, 1.0, "view"),
      (1L, ts("2021-01-01 10:00:00"), 3L, 4.0, "click"),
      (2L, ts("2021-01-01 11:30:00"), 4L, 8.0, "view")
    ).toDF("user_id", "ts", "event_id", "value", "event_type")
    val dir = Staging.scratchDir("graft-sess-append").toString
    ev.write.mode("overwrite").parquet(dir)
    val sink = Staging.scratchDir("graft-sess-append-sink")
    EventPipeline.sessionWindowsStreamAppend(spark, dir, gapMinutes = 30)
      .format("parquet").option("path", sink.resolve("out").toString)
      .option("checkpointLocation", sink.resolve("ckpt").toString)
      .start().awaitTermination()
    val streamed = spark.read.parquet(sink.resolve("out").toString)
    assert(rows(streamed) == Set(
      Seq[Any](3L, ts("2021-01-01 09:00:00"), ts("2021-01-01 09:30:00"), 1L, 2.0),
      Seq[Any](1L, ts("2021-01-01 09:50:00"), ts("2021-01-01 10:30:00"), 2L, 5.0)))

    // the batch oracle predicate reproduces the emitted set exactly
    val wmUs = ev.agg((floor(unix_micros(max(col("ts"))) / 1000) * 1000
      - 3600L * 1000000L).as("wm")).as[Long].head()
    val batch = EventPipeline.sessionWindows(ev, gapMinutes = 30)
      .filter(unix_micros(col("session_end")) <= wmUs)
    assert(rows(streamed) == rows(batch))
  }
}
