package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import graft.sources.Staging

/** Event-time-timeout sessionization (round-11 verdict ask #2):
  * watermark-driven session closure must be DETERMINISTIC — a pure
  * function of the data — and bounded runs must self-terminate under
  * AvailableNow with no drain helper. These tests pin the exact
  * eviction boundary the q114 oracle encodes, the cross-batch state
  * recovery, the tombstone session numbering, and the
  * checkpoint-restart behavior. */
class EventTimeSessionSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Stage `dfs` as one file each with strictly ascending mtimes so
    * FileStreamSource (mtime order) delivers them as separate
    * micro-batches under maxFilesPerTrigger=1. */
  private def stageFiles(
      base: String, dfs: Seq[org.apache.spark.sql.DataFrame]): String = {
    dfs.zipWithIndex.foreach { case (df, k) =>
      df.coalesce(1).write.parquet(s"$base/src/part=$k")
      new java.io.File(s"$base/src/part=$k").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(1700000000000L + k * 60000L))
    }
    s"$base/src"
  }

  private def runToMemory(src: String, name: String,
      maxFiles: Option[Int] = Some(1)): Unit = {
    val q = EventPipeline.sessionizeEventTimeStream(spark, src,
        gapMinutes = 30, delay = "1 hour", maxFilesPerTrigger = maxFiles)
      .format("memory").queryName(name).start()
    // the event-time sessionizer SELF-TERMINATES on a bounded stream
    assert(q.awaitTermination(120000), "bounded run did not self-terminate")
    q.stop()
  }

  test("eviction boundary: a session ending exactly ON the final watermark stays open (strict <)") {
    // gap 30 min, delay 1 h. A's only event at 10:00 → end 10:30.
    // B's events at 10:00 and 11:30 (split) put max ts at 11:30 →
    // final watermark 10:30 == A's end EXACTLY.
    val base = Staging.scratchDir("graft-et-boundary").toString
    val src = stageFiles(base, Seq(Seq(
      (1L, ts("2021-06-01 10:00:00"), 1L, 1.0),
      (2L, ts("2021-06-01 10:00:00"), 2L, 2.0),
      (2L, ts("2021-06-01 11:30:00"), 3L, 4.0)
    ).toDF("user_id", "ts", "event_id", "value")))
    runToMemory(src, "et_boundary", maxFiles = None)
    val out = spark.table("et_boundary")
      .select($"user_id", $"sess_id", $"n_events").as[(Long, Long, Long)]
      .collect().toSet
    // B sess 1 closed by the gap split; B sess 2 end 12:00 > wm held;
    // A end == wm: Spark fires EventTimeTimeout only when
    // timeoutTimestamp < watermark STRICTLY, so A stays open — the
    // q114 oracle's `<` encodes exactly this edge
    assert(out === Set((2L, 1L, 1L)))
  }

  test("one microsecond past the boundary closes the session") {
    // identical shape, but B's second event is 1 ms later, pushing the
    // final watermark 1 ms PAST A's end → A's session must emit.
    // (1 ms, not 1 µs: the watermark is ms-floored, so a 1 µs nudge
    // would floor away — that arithmetic is pinned by q110/q111.)
    val base = Staging.scratchDir("graft-et-boundary2").toString
    val src = stageFiles(base, Seq(Seq(
      (1L, ts("2021-06-01 10:00:00"), 1L, 1.0),
      (2L, ts("2021-06-01 10:00:00"), 2L, 2.0),
      (2L, ts("2021-06-01 11:30:00.001"), 3L, 4.0)
    ).toDF("user_id", "ts", "event_id", "value")))
    runToMemory(src, "et_boundary2", maxFiles = None)
    val out = spark.table("et_boundary2")
      .select($"user_id", $"sess_id").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 1L), (2L, 1L)))
  }

  test("cross-batch parity: emitted set == batch sessions under the q114 closure rule") {
    val base = Staging.scratchDir("graft-et-parity").toString
    val f1 = Seq(
      (1L, ts("2021-06-01 10:00:00"), 1L, 1.5),
      (1L, ts("2021-06-01 10:10:00"), 2L, 2.25),
      (2L, ts("2021-06-01 10:05:00"), 3L, 8.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val f2 = Seq(
      (1L, ts("2021-06-01 11:00:00"), 4L, 4.0), // splits 1's session CROSS-BATCH
      (3L, ts("2021-06-01 12:00:00"), 5L, 16.0) // max ts → wm 11:00
    ).toDF("user_id", "ts", "event_id", "value")
    val src = stageFiles(base, Seq(f1, f2))
    runToMemory(src, "et_parity")
    val streamed = rows(spark.table("et_parity"))
    // batch reference + the q114 closure rule applied relationally:
    // non-final sessions always emit; a user's final session emits iff
    // floor(last_us/1000) + gap < floor(max_us/1000) − delay
    val ev = spark.read.parquet(src)
    val wmMs = ev.agg(max(unix_micros(col("ts")))).as[Long].head / 1000L - 3600000L
    val sess = EventPipeline.sessionize(ev, gapMinutes = 30)
    val lastUs = ev.groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        max(col("ts")).as("last_ts"))
    val batchClosed = sess.join(
        sess.groupBy("user_id").agg(max("sess_id").as("max_sid")), "user_id")
      .join(lastUs, "user_id")
      .filter(col("sess_id") < col("max_sid") ||
        (col("last_us") / 1000).cast("long") + lit(30L * 60000) < lit(wmMs))
      .select("user_id", "sess_id", "session_start", "n_events", "sum_value")
    assert(streamed == rows(batchClosed))
    // concretely: user 1 session 1 (2 events, split arrived in a LATER
    // batch → state crossed the store), user 2 session 1 (closed by
    // the watermark timeout, end 10:35 < wm 11:00); both held sessions
    // (1's 11:00, 3's 12:00) absent
    assert(streamed.map(r => (r(0), r(1), r(3))) ===
      Set(Seq(1L, 1L, 2L), Seq(2L, 1L, 1L)).map(s => (s(0), s(1), s(2))))
  }

  test("tombstone keeps per-user session NUMBERING across a timeout emission") {
    val base = Staging.scratchDir("graft-et-tomb").toString
    val f1 = Seq((2L, ts("2021-06-01 10:05:00"), 1L, 1.0))
      .toDF("user_id", "ts", "event_id", "value")
    // raises wm to 11:00 → 2's session (end 10:35) times out, state
    // becomes a numbering tombstone
    val f2 = Seq((3L, ts("2021-06-01 12:00:00"), 2L, 2.0))
      .toDF("user_id", "ts", "event_id", "value")
    // 2 returns: the new session must be numbered 2, not restart at 1
    val f3 = Seq((2L, ts("2021-06-01 12:30:00"), 3L, 4.0),
                 (4L, ts("2021-06-01 14:30:00"), 4L, 8.0))
      .toDF("user_id", "ts", "event_id", "value")
    val src = stageFiles(base, Seq(f1, f2, f3))
    runToMemory(src, "et_tomb")
    val u2 = spark.table("et_tomb").filter($"user_id" === 2L)
      .select($"sess_id", $"session_start").as[(Long, Timestamp)]
      .collect().toSet
    // final wm = 13:30: session 2 (end 13:00) closed too — with ids
    // 1 AND 2, matching the batch ordinal despite the tombstone gap
    assert(u2 === Set((1L, ts("2021-06-01 10:05:00")),
      (2L, ts("2021-06-01 12:30:00"))))
  }

  test("checkpoint/restart: open session and WATERMARK recover; timeout fires from recovered state") {
    val base = Staging.scratchDir("graft-et-restart").toString
    val src = s"$base/src"
    val sessSchema = org.apache.spark.sql.Encoders
      .product[EventPipeline.Session].schema
    def run(): Unit = {
      val q = EventPipeline.sessionizeEventTimeStream(spark, src,
          gapMinutes = 30, delay = "1 hour")
        .option("checkpointLocation", s"$base/ckpt")
        .option("path", s"$base/out").format("parquet").start()
      assert(q.awaitTermination(120000)); q.stop()
    }
    def readOut() = spark.read.schema(sessSchema).parquet(s"$base/out")
    // RUN 1: two users' open sessions — nothing closes (wm 9:10)
    Seq((1L, ts("2021-06-01 10:00:00"), 1L, 1.0),
        (1L, ts("2021-06-01 10:10:00"), 2L, 2.0),
        (2L, ts("2021-06-01 10:05:00"), 3L, 8.0))
      .toDF("user_id", "ts", "event_id", "value")
      .coalesce(1).write.mode("append").parquet(src)
    run()
    assert(readOut().isEmpty)
    // RUN 2, same checkpoint: 1's 11:00 event splits the RECOVERED
    // session (emitting 2 events from 10:00 — state crossed the
    // restart); the 12:00 max pushes wm to 11:00, timing out 2's
    // recovered session. No duplicates, no losses.
    Seq((1L, ts("2021-06-01 11:00:00"), 4L, 4.0),
        (3L, ts("2021-06-01 12:00:00"), 5L, 16.0))
      .toDF("user_id", "ts", "event_id", "value")
      .coalesce(1).write.mode("append").parquet(src)
    run()
    val out = readOut().select($"user_id", $"sess_id", $"n_events", $"sum_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out === Set((1L, 1L, 2L, 3.0), (2L, 1L, 1L, 8.0)))
  }
}
