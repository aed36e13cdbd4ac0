package graft.streaming

import graft.SparkSpec
import java.sql.Timestamp
import graft.sources.Staging

/** Late-data semantics of [[EventPipeline.sessionizeStatefulEventTime]]
  * (round-12 verdict ask #1: the guard was real code with no asserting
  * test; round-12 advice: a late event beyond the gap BEFORE the open
  * session's start must not fold, and the expired-on-arrival boundary
  * must be strict `<`). FMGWS does NOT filter behind-watermark rows —
  * every test here feeds one, so collectively they also pin that
  * empirical fact. Gap 30 min, delay 1 h throughout; with
  * maxFilesPerTrigger=1 each staged file is one micro-batch and the
  * watermark during batch k is max(ts over batches < k) − 1 h. */
class LateDataSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

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

  /** Run to a memory sink; returns ALL emitted rows (not a set), so a
    * double emission is visible. */
  private def run(src: String, name: String): Seq[(Long, Long, Timestamp, Long, Double)] = {
    val q = EventPipeline.sessionizeEventTimeStream(spark, src,
        gapMinutes = 30, delay = "1 hour", maxFilesPerTrigger = Some(1))
      .format("memory").queryName(name).start()
    assert(q.awaitTermination(120000), "bounded run did not self-terminate")
    q.stop()
    spark.table(name)
      .select($"user_id", $"sess_id", $"session_start", $"n_events", $"sum_value")
      .as[(Long, Long, Timestamp, Long, Double)].collect().toSeq
  }

  test("late fold regresses start (never end) and an expired-on-arrival session emits EXACTLY once, ordinal preserved") {
    val base = Staging.scratchDir("graft-late-fold").toString
    val f1 = Seq((10L, ts("2021-06-01 12:00:00"), 1L, 1.0),
                 (10L, ts("2021-06-01 12:05:00"), 2L, 2.0),
                 (40L, ts("2021-06-01 15:00:00"), 3L, 4.0)) // wm → 14:00
      .toDF("user_id", "ts", "event_id", "value")
    // 11:40 is 2h20m behind the batch-1 watermark but within the gap of
    // the open session's start (11:30 ≤ 11:40): folds, start regresses
    // to 11:40, end stays 12:35 < wm 14:00 → expired on arrival
    val f2 = Seq((10L, ts("2021-06-01 11:40:00"), 4L, 8.0))
      .toDF("user_id", "ts", "event_id", "value")
    // tombstone numbering: 10's next event is session 2, closed by the
    // final watermark (max 18:00 → wm 17:00 > end 16:40)
    val f3 = Seq((10L, ts("2021-06-01 16:10:00"), 5L, 16.0),
                 (70L, ts("2021-06-01 18:00:00"), 6L, 32.0))
      .toDF("user_id", "ts", "event_id", "value")
    val out = run(stageFiles(base, Seq(f1, f2, f3)), "late_fold")
    val u10 = out.filter(_._1 == 10L)
    assert(u10.size === 2, s"expected exactly two u10 emissions, got $u10")
    assert(u10.toSet === Set(
      (10L, 1L, ts("2021-06-01 11:40:00"), 3L, 11.0),
      (10L, 2L, ts("2021-06-01 16:10:00"), 1L, 16.0)))
  }

  test("a late event beyond the gap BEFORE the open session's start forms its own earlier session (no fold), ordinals in batch order") {
    val base = Staging.scratchDir("graft-late-insert").toString
    val f1 = Seq((20L, ts("2021-06-01 13:00:00"), 1L, 1.0),
                 (40L, ts("2021-06-01 15:00:00"), 2L, 2.0)) // wm → 14:00
      .toDF("user_id", "ts", "event_id", "value")
    // 10:00 precedes the open session's start by 3 h ≫ gap: the
    // round-12 advice bug would fold it (us − lastUs negative passes a
    // bare ≤ gap check) and emit ONE session starting 10:00 with n=2
    val f2 = Seq((20L, ts("2021-06-01 10:00:00"), 3L, 4.0))
      .toDF("user_id", "ts", "event_id", "value")
    val out = run(stageFiles(base, Seq(f1, f2)), "late_insert")
    // both emitted in batch order: [10:00] as session 1, the open
    // [13:00] shifted to session 2 and expired on arrival (13:30 < 14:00)
    assert(out.filter(_._1 == 20L).toSet === Set(
      (20L, 1L, ts("2021-06-01 10:00:00"), 1L, 4.0),
      (20L, 2L, ts("2021-06-01 13:00:00"), 1L, 1.0)))
  }

  test("a late event BRIDGES an earlier late run and the open session into one batch-identical session") {
    val base = Staging.scratchDir("graft-late-bridge").toString
    val f1 = Seq((30L, ts("2021-06-01 12:00:00"), 1L, 1.0),
                 (30L, ts("2021-06-01 12:05:00"), 2L, 2.0),
                 (40L, ts("2021-06-01 15:00:00"), 3L, 4.0)) // wm → 14:00
      .toDF("user_id", "ts", "event_id", "value")
    // 11:10 is beyond the gap before 12:00 (50 min), but 11:35 is
    // within the gap of BOTH (25 min each side): batch sessionization
    // makes all four events ONE session — the stream must agree
    val f2 = Seq((30L, ts("2021-06-01 11:10:00"), 4L, 8.0),
                 (30L, ts("2021-06-01 11:35:00"), 5L, 16.0))
      .toDF("user_id", "ts", "event_id", "value")
    val out = run(stageFiles(base, Seq(f1, f2)), "late_bridge")
    assert(out.filter(_._1 == 30L).toSet === Set(
      (30L, 1L, ts("2021-06-01 11:10:00"), 4L, 27.0)))
  }

  test("a late session ending exactly AT the current watermark arms its timeout AT it (legal) and closes only when the watermark strictly passes") {
    val base = Staging.scratchDir("graft-late-atwm").toString
    val f1 = Seq((40L, ts("2021-06-01 15:00:00"), 1L, 1.0)) // wm → 14:00
      .toDF("user_id", "ts", "event_id", "value")
    // late singleton at 13:30: end 14:00 == the CURRENT watermark —
    // setTimeoutTimestamp(== wm) must not throw (GroupStateImpl rejects
    // strictly-behind only), and the session must NOT emit yet
    val f2 = Seq((80L, ts("2021-06-01 13:30:00"), 2L, 2.0),
                 (50L, ts("2021-06-01 16:00:00"), 3L, 4.0)) // wm → 15:00
      .toDF("user_id", "ts", "event_id", "value")
    val out = run(stageFiles(base, Seq(f1, f2)), "late_atwm")
    // the advanced watermark (15:00) strictly passes 14:00 → exactly one emission
    assert(out.filter(_._1 == 80L) ===
      Seq((80L, 1L, ts("2021-06-01 13:30:00"), 1L, 2.0)))
  }

  test("a late session ending exactly ON the FINAL watermark stays open (strict <, late path)") {
    val base = Staging.scratchDir("graft-late-final").toString
    val f1 = Seq((40L, ts("2021-06-01 15:00:00"), 1L, 1.0)) // wm → 14:00
      .toDF("user_id", "ts", "event_id", "value")
    // same late singleton, but nothing ever advances the watermark past
    // 14:00: the q114 oracle's strict `<` holds it open — the old
    // `endMs <= wm` emit-now guard emitted it (the round-12 advice
    // off-by-one, on the late path only)
    val f2 = Seq((80L, ts("2021-06-01 13:30:00"), 2L, 2.0))
      .toDF("user_id", "ts", "event_id", "value")
    val out = run(stageFiles(base, Seq(f1, f2)), "late_final")
    assert(out.filter(_._1 == 80L).isEmpty,
      s"session ending ON the final watermark must stay open, got $out")
  }
}
