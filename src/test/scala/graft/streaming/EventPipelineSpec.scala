package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import graft.sources.Staging

/** Sessionization + tumbling windows; the streaming form must agree
  * with the batch form on static input (AvailableNow + memory sink). */
class EventPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("sessionize: gap > threshold starts a new session") {
    val ev = Seq(
      (1L, ts("2021-01-01 10:00:00"), 1L, 1.0),
      (1L, ts("2021-01-01 10:10:00"), 2L, 2.0),  // same session (10 min)
      (1L, ts("2021-01-01 11:00:00"), 3L, 4.0),  // 50 min gap → new session
      (2L, ts("2021-01-01 10:05:00"), 4L, 8.0)   // other user
    ).toDF("user_id", "ts", "event_id", "value")
    val out = EventPipeline.sessionize(ev, gapMinutes = 30)
      .orderBy("user_id", "sess_id")
      .as[(Long, Long, Timestamp, Long, Double)].collect()
    assert(out.toSeq == Seq(
      (1L, 1L, ts("2021-01-01 10:00:00"), 2L, 3.0),
      (1L, 2L, ts("2021-01-01 11:00:00"), 1L, 4.0),
      (2L, 1L, ts("2021-01-01 10:05:00"), 1L, 8.0)))
  }

  test("sessionize: exact-gap boundary stays in the session") {
    val ev = Seq(
      (1L, ts("2021-01-01 10:00:00"), 1L, 1.0),
      (1L, ts("2021-01-01 10:30:00"), 2L, 1.0)   // exactly 30 min → NOT new
    ).toDF("user_id", "ts", "event_id", "value")
    val n = EventPipeline.sessionize(ev, gapMinutes = 30).count()
    assert(n == 1)
  }

  test("streaming session_window == batch form; exact-gap boundary MERGES") {
    val ev = Seq(
      (1L, ts("2021-01-01 10:00:00"), 1L, 1.0),
      (1L, ts("2021-01-01 10:10:00"), 2L, 2.0),  // merges (gap 10m)
      (1L, ts("2021-01-01 10:40:00"), 3L, 4.0),  // EXACTLY 30m: merges too
      (1L, ts("2021-01-01 11:10:01"), 4L, 16.0), // 30m01s → NEW session
      (2L, ts("2021-01-01 12:00:00"), 5L, 8.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val dir = Staging.scratchDir("graft-sw-stream").toString
    ev.write.mode("overwrite").parquet(dir)

    val q = EventPipeline.sessionWindowsStream(spark, dir, gapMinutes = 30)
      .format("memory").queryName("sw_test").start()
    assert(q.awaitTermination(60000), "bounded run did not self-terminate")
    q.stop()

    val streamed = rows(spark.table("sw_test"))
    val batch = rows(EventPipeline.sessionWindows(
      spark.read.parquet(dir), gapMinutes = 30))
    assert(streamed == batch)
    // session_window's closed merge boundary == the lag-based `> gap`
    // rule: user 1 → [10:00..10:40] then [11:10:01], user 2 → one
    assert(streamed.size == 3)
    assert(EventPipeline.sessionize(spark.read.parquet(dir), 30).count() == 3)
  }

  test("streaming tumbling counts (AvailableNow + memory sink) == batch form") {
    val ev = Seq(
      (ts("2021-01-01 10:05:00"), "click", 1.0),
      (ts("2021-01-01 10:55:00"), "click", 2.0),
      (ts("2021-01-01 10:30:00"), "view", 8.0),
      (ts("2021-01-01 11:05:00"), "view", 4.0)
    ).toDF("ts", "event_type", "value")
    val dir = Staging.scratchDir("graft-stream").toString
    ev.write.mode("overwrite").parquet(dir)

    val q = EventPipeline.tumblingCountsStream(spark, dir)
      .format("memory").queryName("tumbling_test").start()
    assert(q.awaitTermination(60000), "bounded run did not self-terminate")
    q.stop()

    val streamed = rows(spark.table("tumbling_test"))
    val batch = rows(EventPipeline.tumblingCounts(spark.read.parquet(dir))
      .select($"hour_start".cast("timestamp"), $"event_type", $"n_events", $"sum_value"))
    assert(streamed == batch)
    assert(streamed.size == 3)
  }

  test("stream-stream interval join == batch form on a bounded stream") {
    val ev = Seq(
      (1L, 10L, ts("2021-01-01 10:00:00"), "view"),
      (1L, 11L, ts("2021-01-01 10:20:00"), "click"), // joins view 10
      (1L, 12L, ts("2021-01-01 11:30:00"), "click"), // no view in window
      (2L, 20L, ts("2021-01-01 10:00:00"), "click"), // view 21 is later: no
      (2L, 21L, ts("2021-01-01 10:05:00"), "view"),
      (2L, 22L, ts("2021-01-01 10:21:00"), "click")  // joins view 21
    ).toDF("user_id", "event_id", "ts", "event_type")
    val dir = Staging.scratchDir("graft-ssjoin").toString
    ev.write.mode("overwrite").parquet(dir)

    val q = EventPipeline.clickViewJoinStream(spark, dir, beforeMinutes = 30)
      .format("memory").queryName("ssj_test").start()
    assert(q.awaitTermination(60000), "bounded run did not self-terminate")
    q.stop()

    val streamed = rows(spark.table("ssj_test"))
    val batch = rows(StreamReferences.clickViewJoin(
      spark.read.parquet(dir), beforeMinutes = 30))
    assert(streamed == batch)
    assert(streamed.map(r => (r(1), r(3))) === Set((11L, 10L), (22L, 21L)))
  }

  test("streaming as-of enrichment == batch AsofJoin on a bounded stream") {
    val ev = Seq(
      (1L, 10L, ts("2021-01-01 10:00:00"), 1.0, "view"),
      (1L, 11L, ts("2021-01-01 10:20:00"), 2.0, "click"), // -> view 10
      (1L, 12L, ts("2021-01-01 10:30:00"), 3.0, "view"),
      (1L, 13L, ts("2021-01-01 10:30:00"), 4.0, "click"), // same-ts view wins
      (2L, 20L, ts("2021-01-01 09:00:00"), 5.0, "click")  // no view -> nulls
    ).toDF("user_id", "event_id", "ts", "value", "event_type")
    val dir = Staging.scratchDir("graft-asof-stream").toString
    ev.write.mode("overwrite").parquet(dir)

    val q = EventPipeline.asofStream(spark, dir)
      .format("memory").queryName("asof_test").start()
    assert(q.awaitTermination(60000), "bounded run did not self-terminate")
    q.stop()

    val streamed = rows(spark.table("asof_test"))
    val batch = StreamReferences.asof(spark.read.parquet(dir))
    assert(streamed == rows(batch))
    val m = spark.table("asof_test").collect()
      .map(r => r.getLong(1) -> Option(r.get(4)).map(_.asInstanceOf[Long])).toMap
    assert(m(11L).contains(10L))
    assert(m(13L).contains(12L)) // same-instant view included
    assert(m(20L).isEmpty)
  }

  test("streaming as-of preserves sub-millisecond ordering (batch parity)") {
    // the view is AFTER the first click within the same millisecond: a
    // ms-precision (getTime) sort would place it before and attach it
    val ev = Seq(
      (1L, 10L, ts("2021-01-01 10:00:00.000800"), 1.0, "view"),
      (1L, 11L, ts("2021-01-01 10:00:00.000200"), 2.0, "click"), // no match
      (1L, 12L, ts("2021-01-01 10:00:00.000900"), 3.0, "click")  // -> view 10
    ).toDF("user_id", "event_id", "ts", "value", "event_type")
    val dir = Staging.scratchDir("graft-asof-subms").toString
    ev.write.mode("overwrite").parquet(dir)
    val q = EventPipeline.asofStream(spark, dir)
      .format("memory").queryName("asof_subms").start()
    assert(q.awaitTermination(60000), "bounded run did not self-terminate")
    q.stop()
    val streamed = spark.table("asof_subms")
    assert(rows(streamed) ==
      rows(StreamReferences.asof(spark.read.parquet(dir))))
    val m = streamed.collect()
      .map(r => r.getLong(1) -> Option(r.get(4)).map(_.asInstanceOf[Long])).toMap
    assert(m(11L).isEmpty)
    assert(m(12L).contains(10L))
  }

  test("event-time sessionization judges gaps at microsecond precision") {
    // gap exceeds 30 min by 500µs — ms truncation would see exactly
    // 30 min (<= gap merges) and wrongly keep one session
    val ev = Seq(
      (1L, ts("2021-01-01 10:00:00.000000"), 1L, 1.0),
      (1L, ts("2021-01-01 10:30:00.000500"), 2L, 2.0),
      (1L, ts("2021-01-01 12:00:00.000000"), 3L, 4.0) // splits off session 2
    ).toDF("user_id", "ts", "event_id", "value")
    val dir = Staging.scratchDir("graft-sess-subms").toString
    ev.write.mode("overwrite").parquet(dir)
    val q = EventPipeline.sessionizeEventTimeStream(spark, dir,
        gapMinutes = 30, delay = "1 hour")
      .format("memory").queryName("sess_subms").start()
    assert(q.awaitTermination(60000), "bounded run did not self-terminate")
    q.stop()
    // closed sessions: event 1 alone (split by the 500µs-over gap),
    // then event 2 (split by event 3); session 3 ends at 12:30, past
    // the final watermark (11:00), so it stays open
    val closed = spark.table("sess_subms").orderBy("sess_id")
      .select($"sess_id", $"n_events").as[(Long, Long)].collect().toSeq
    assert(closed == Seq((1L, 1L), (2L, 1L)))
    // and the batch form agrees on the split
    assert(EventPipeline.sessionize(spark.read.parquet(dir), 30).count() == 3)
  }

  test("streaming doc dedup keeps one row per distinct text") {
    val docs = Seq(
      (1L, "alpha beta"), (2L, "gamma"), (3L, "alpha beta"),
      (4L, "gamma"), (5L, "delta")
    ).toDF("doc_id", "text")
    val dir = Staging.scratchDir("graft-dedup-stream").toString
    docs.write.mode("overwrite").parquet(dir)

    val q = EventPipeline.dedupDocStream(spark, dir)
      .format("memory").queryName("dedup_test").start()
    assert(q.awaitTermination(60000), "bounded run did not self-terminate")
    q.stop()

    val kept = spark.table("dedup_test")
    assert(kept.count() === 3) // one per distinct text
    assert(rows(kept.select($"text")) ===
      Set(Seq("alpha beta"), Seq("gamma"), Seq("delta")))
  }

  test("streaming doc dedup drops duplicates ACROSS micro-batches (q107 shape)") {
    val base = Staging.scratchDir("graft-dedup-xbatch").toString
    // two one-file arrivals: originals, then a duplicate text under a
    // new id — mtime-ordered so FileStreamSource delivers them in that
    // order, and maxFilesPerTrigger=1 puts them in SEPARATE batches
    val a = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val b = Seq((9L, "alpha"), (3L, "gamma")).toDF("doc_id", "text")
    a.coalesce(1).write.parquet(s"$base/src/part=a")
    b.coalesce(1).write.parquet(s"$base/src/part=b")
    new java.io.File(s"$base/src/part=a").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => f.setLastModified(f.lastModified() - 60000L))

    val q = EventPipeline.dedupDocStream(spark, s"$base/src",
        maxFilesPerTrigger = Some(1))
      .format("memory").queryName("dedup_xbatch").start()
    assert(q.awaitTermination(60000), "bounded run did not self-terminate")
    q.stop()

    // the duplicate really did arrive in a LATER batch than its
    // original — dropping it required state-store state, not an
    // in-batch hash table
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    val kept = spark.table("dedup_xbatch")
    assert(kept.count() === 3)
    // survivor identity is deterministic here BECAUSE the batches are
    // ordered: batch-0's id 1 holds "alpha", batch-1's id 9 is dropped
    assert(rows(kept.select($"doc_id", $"text")) ===
      Set(Seq(1L, "alpha"), Seq(2L, "beta"), Seq(3L, "gamma")))
  }

  test("streaming admission == per-file batch admitIncrement (shared state)") {
    import graft.operators.Dedup
    val base = Staging.scratchDir("graft-admit-parity").toString
    // two source files, name-ordered = arrival-ordered; "alpha" recurs
    // across files (stream must reject the second via persisted state)
    // and "beta" recurs within file 2 (in-batch min-id election)
    val f1 = Seq((5L, "alpha"), (6L, "omega")).toDF("doc_id", "text")
    val f2 = Seq((2L, "alpha"), (3L, "beta"), (1L, "beta"))
      .toDF("doc_id", "text")
    f1.coalesce(1).write.parquet(s"$base/src/part=a")
    f2.coalesce(1).write.parquet(s"$base/src/part=b")
    // batch reference: sequential admitIncrement on its own state
    val bs = s"$base/batch-state"
    val batchIds =
      (Dedup.admitIncrement(bs, f1, "doc_id", "text")
          .select("doc_id").as[Long].collect() ++
        Dedup.admitIncrement(bs, f2, "doc_id", "text")
          .select("doc_id").as[Long].collect()).sorted
    val q = EventPipeline.admitStream(spark,
        s"$base/src", s"$base/stream-state", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    assert(q.awaitTermination(60000), "bounded run did not self-terminate"); q.stop()
    val streamIds = spark.read.parquet(s"$base/out")
      .select("doc_id").as[Long].collect().sorted
    assert(streamIds.toSeq === batchIds.toSeq)
    assert(streamIds.toSeq === Seq(1L, 5L, 6L))
    // both admission paths grew their states identically
    assert(spark.read.parquet(s"$base/stream-state").count() ===
      spark.read.parquet(bs).count())
  }

  test("proximity join stream: two-batch restart — cross-batch pairs from recovered state, late events dropped") {
    val base = Staging.scratchDir("graft-prox-restart").toString
    val radius = 200000L // ±0.2 s
    val t0 = ts("2021-06-01 12:00:00")
    def plus(us: Long) = {
      val total = t0.getTime * 1000L + us
      val t = new Timestamp(Math.floorDiv(total, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(total, 1000000L) * 1000L).toInt); t
    }
    val outSchema = "l_id LONG, l_ts TIMESTAMP, r_id LONG, r_ts TIMESTAMP, r_value DOUBLE"
    def run(): Unit = {
      val q = EventPipeline.proximityJoinStream(spark, s"$base/src", "error", radius)
        .option("checkpointLocation", s"$base/ckpt").option("path", s"$base/out")
        .format("parquet").start()
      assert(q.awaitTermination(60000), "bounded run did not self-terminate"); q.stop()
    }
    def pairs() = spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(outSchema))
      .parquet(s"$base/out").select($"l_id", $"r_id")
      .as[(Long, Long)].collect().toSeq.sorted
    // RUN 1: e1 (error, t0) + e2 (ok, t0+0.1 s) → pairs (1,1),(1,2)
    Seq((t0, 1L, 1.0, "error"), (plus(100000L), 2L, 2.0, "ok"))
      .toDF("ts", "event_id", "value", "event_type")
      .coalesce(1).write.mode("append").parquet(s"$base/src")
    run()
    assert(pairs() == Seq((1L, 1L), (1L, 2L)))
    // RUN 2, same checkpoint. e3 (t0+0.15 s) is within radius of e1,
    // which arrived in RUN 1 — the pair (1,3) can only emit if run 2
    // recovered e1's buffered join state from the checkpoint. e4/e5
    // sit 2 h in the past: the watermark persisted at the end of run 1
    // (max event time − 1 h ≈ t0 − 1 h) has passed them, so they are
    // dropped before the join and their pairs (4,4),(4,5) NEVER emit —
    // the documented Append-mode divergence from batch RangeJoin.
    Seq((plus(150000L), 3L, 3.0, "ok"),
        (plus(-2L * 3600 * 1000000L), 4L, 4.0, "error"),
        (plus(-2L * 3600 * 1000000L + 100000L), 5L, 5.0, "ok"))
      .toDF("ts", "event_id", "value", "event_type")
      .coalesce(1).write.mode("append").parquet(s"$base/src")
    run()
    // exactly-once across the restart: run-1 pairs appear ONCE, the
    // cross-batch pair (1,3) emits, the late pairs are absent
    assert(pairs() == Seq((1L, 1L), (1L, 2L), (1L, 3L)))
    // ... while the batch reference over the union DOES contain them:
    // the divergence is real and bounded to past-watermark arrivals
    val batch = StreamReferences.proximityJoin(
        spark.read.parquet(s"$base/src"), "error", radius)
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toSeq.sorted
    assert(batch == Seq((1L, 1L), (1L, 2L), (1L, 3L), (4L, 4L), (4L, 5L)))
  }

  test("checkpoint/restart: admission stream continues from persisted state") {
    val base = Staging.scratchDir("graft-admit-restart").toString
    Seq((1L, "first"), (2L, "second")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$base/src/part=a")
    def run(): Unit = {
      val q = EventPipeline.admitStream(spark,
          s"$base/src", s"$base/state", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt").start()
      assert(q.awaitTermination(60000), "bounded run did not self-terminate"); q.stop()
    }
    run()
    assert(spark.read.parquet(s"$base/out").count() === 2L)
    // RUN 2, same checkpoint: the processed file is NOT replayed (no
    // double-append), the new file admits against run 1's fingerprints
    Seq((10L, "first"), (11L, "third")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$base/src/part=b")
    run()
    val out = spark.read.parquet(s"$base/out")
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 2L, 11L))
    assert(spark.read.parquet(s"$base/state").count() === 3L)
  }
}
