package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Staging
import graft.streaming.EventPipeline

import Shared._

/** Event-time queries: the batch window/session/as-of/proximity shapes
  * and their real Structured Streaming executions (`*_stream`), plus the
  * source staging and the bounded-stream seam those executions share. */
object StreamingQueries extends QueryFamily("streaming") {

  private val streamSeq = new java.util.concurrent.atomic.AtomicLong(0)

  private val streamSrcDirs =
    scala.collection.concurrent.TrieMap[String, String]()

  /** Events staged as `files` event-time-ordered slice files with
    * ascending modification times — read with `maxFilesPerTrigger = 1`
    * the stream delivers them over SEVERAL micro-batches in event-time
    * order (monotone watermark progress, no late drops), so q108's
    * stream-stream join pairs spanning a slice boundary must flow
    * through join STATE retained across batches. Slices partition the
    * table exactly (last slice takes the catch-all upper bound). */
  private def eventsSlicedStreamDir(
      s: SparkSession, dir: String, files: Int = 4): String =
    streamSrcDirs.getOrElseUpdate(s"sliced$files:" + dir, {
      val ev = events(s, dir)
      // equal-COUNT slices on the (ts, event_id) rank, not equal-width
      // time windows: the events table is bursty, so uniform-time cuts
      // land in empty gaps and almost no q108 pair or q109 lookback
      // would actually span a boundary — rank cuts fall between
      // ADJACENT events, putting boundaries inside dense regions.
      // Rank cuts CAN split equal-ts rows across slices, which would
      // break q109's right-before-left tie rule across a batch
      // boundary — asserted absent below, so a future testdata regen
      // that introduces a same-user equal-ts pair fails HERE by name
      // instead of as a silent oracle divergence.
      require(ev.groupBy(col("user_id"), col("ts")).count()
          .filter(col("count") > 1).isEmpty,
        "events table carries same-user equal-ts rows: rank-cut " +
          "slices could split such a tie across micro-batches and " +
          "break the as-of right-before-left rule (q109)")
      // ntile = equal-count buckets without a separate count() (and
      // without the int-overflow a rank*files product would hit above
      // ~2^31/files rows); the global window's output is a single
      // partition, so one write pass stages one file per slice. A table
      // with fewer rows than `files` leaves some buckets empty: they
      // stage no file (fewer staged files is still a valid stream).
      val w = Window.orderBy(col("ts"), col("event_id"))
      val d = Staging.scratchDir("graft_stream_sliced_")
      Staging.stageDropBox(d, ev.withColumn("__slice", ntile(files).over(w) - 1),
        "__slice", "events")
      d.toString
    })

  /** The staged-grid drop-box for q113: the synthetic grid with time
    * truncated to YEAR, staged as one file per distinct time value
    * with ascending modification times — the reference's daily staging
    * cadence at a coarser calendar grain (7 "days" → 7 micro-batches
    * at sf0.01), satisfying IncrementalEtl's day-atomicity contract
    * (each time value's rows land whole in one file). */
  private def gridDailyStreamDir(s: SparkSession, dir: String): String =
    streamSrcDirs.getOrElseUpdate("griddaily:" + dir, {
      val g = gridFromLineitem(t(s, dir, "lineitem"), nullify = false)
        .withColumn("time", date_trunc("year", col("time")).cast("date"))
      // repartition BY the year: each year's rows land in one task, so
      // the partitioned write emits exactly one file per year
      val d = Staging.scratchDir("graft_grid_daily_")
      Staging.stageDropBox(d,
        g.withColumn("__y", year(col("time"))).repartition(col("__y")),
        "__y", "grid")
      d.toString
    })

  /** The q118 late-data fixture: (file, user_id, ts, event_id, value) —
    * value kept as the literal string so the Spark frame and the oracle
    * VALUES render the identical number. Files stage in order (one
    * micro-batch each, delay 1 h, gap 30 min), so the watermark during
    * file k is max(ts over files < k) − 1 h; files 1–2 deliberately
    * carry BEHIND-WATERMARK events exercising every late-data arm of
    * [[graft.streaming.EventPipeline.sessionizeStatefulEventTime]]
    * (LateDataSpec pins each in isolation):
    *  - u10 11:40 @file1 (wm 14:00): 2 h 20 m late, folds into the open
    *    [12:00–12:05] session (start regresses) and leaves its end
    *    12:35 behind the watermark → expired on arrival, emitted once;
    *    u10's 16:10 then continues the numbering via the tombstone;
    *  - u20 10:00 @file1: beyond the gap BEFORE the open [13:00]
    *    session — must NOT fold (round-12 advice): its own session 1,
    *    the open session shifted to ordinal 2 and itself expired;
    *  - u80 13:30 @file1: late singleton whose end 14:00 equals the
    *    CURRENT watermark exactly — arms its timeout AT the watermark
    *    (legal; strictly-behind only is rejected) and closes when the
    *    file-2 watermark 15:00 strictly passes;
    *  - u60 16:30 @file2: end 17:00 equals the FINAL watermark — held
    *    open (the q114 strict-< rule, now pinned on the late surface);
    *  - u30/u40/u50/u70: on-time fillers that drive the watermark.
    * Every shape lands exactly on batch sessionization + the q114
    * closure rule, so the oracle is the q114 SQL chain over these rows. */
  private val lateEventRows: Seq[(Int, Long, String, Long, String)] = Seq(
    (0, 10L, "2021-06-01 12:00:00", 1L, "1.0"),
    (0, 10L, "2021-06-01 12:05:00", 2L, "2.0"),
    (0, 20L, "2021-06-01 13:00:00", 3L, "1.5"),
    (0, 40L, "2021-06-01 15:00:00", 4L, "4.0"),
    (1, 10L, "2021-06-01 11:40:00", 5L, "8.0"),
    (1, 20L, "2021-06-01 10:00:00", 6L, "2.5"),
    (1, 30L, "2021-06-01 14:30:00", 7L, "0.5"),
    (1, 80L, "2021-06-01 13:30:00", 8L, "1.25"),
    (1, 50L, "2021-06-01 16:00:00", 9L, "3.0"),
    (2, 10L, "2021-06-01 16:10:00", 10L, "16.0"),
    (2, 60L, "2021-06-01 16:30:00", 11L, "5.0"),
    (2, 70L, "2021-06-01 18:00:00", 12L, "32.0"))

  /** Stage [[lateEventRows]] as one parquet file per fixture file with
    * ascending mtimes (FileStreamSource delivers in mtime order). */
  private def lateEventsStreamDir(s: SparkSession): String =
    streamSrcDirs.getOrElseUpdate("late-events", {
      import s.implicits._
      val df = lateEventRows.map(r =>
          (r._1, r._2, java.sql.Timestamp.valueOf(r._3), r._4, r._5.toDouble))
        .toDF("__file", "user_id", "ts", "event_id", "value")
      val d = Staging.scratchDir("graft_stream_late_")
      Staging.stageDropBox(d, df.coalesce(1), "__file", "late")
      d.toString
    })

  /** Two-file documents stream for q107: the original table, then a
    * second file carrying THE SAME TEXTS under shifted doc_ids, with
    * modification times forcing that arrival order (FileStreamSource
    * delivers in mtime order). Read with `maxFilesPerTrigger = 1` the
    * copies arrive in a LATER micro-batch than the originals, so
    * dropping them requires the dedup state to have crossed the batch
    * boundary through the state store — a single-batch hash table
    * cannot pass this query. */
  private def docsDedupStreamDir(s: SparkSession, dir: String): String =
    streamSrcDirs.getOrElseUpdate("dedup:" + dir, {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val d = Staging.scratchDir("graft_stream_dedup_")
      Staging.stageDropBox(d,
        docs.withColumn("__copy", lit(0))
          .unionByName(docs.withColumn("doc_id", col("doc_id") + 100000)
            .withColumn("__copy", lit(1)))
          .coalesce(1),
        "__copy", "documents")
      d.toString
    })

  // runStreamToTable / runStreamToParquet are the seam that puts REAL
  // Structured Streaming executions (stateful windowed aggregations,
  // watermarks, the streaming source) on the driver's DuckDB oracle
  // surface instead of leaving them spec-pinned only. Each call gets a
  // fresh sink + checkpoint (bench trials re-execute the stream, never
  // read a previous trial's output).

  /** Run `body` (a bounded streaming execution) with streaming-sized
    * shuffle partitions, restoring the session value after. Streaming
    * state partitioning is a DEPLOYMENT parameter (fixed at the
    * checkpoint's first batch): each store partition pays a
    * commit+snapshot per micro-batch, so partitions are sized to the
    * per-batch state volume — a few MB here — not to the batch
    * session's scan parallelism. Fresh temp checkpoint per run, so the
    * setting binds cleanly. */
  private def withStreamShufflePartitions[T](s: SparkSession)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Bounded streaming execution through the MEMORY sink — for
    * Complete-mode aggregates only (q105/q106), whose result is
    * re-emitted whole each batch and is the aggregate, not the stream;
    * the file sink cannot take Complete mode. Append-mode streams with
    * row-proportional output go through [[runStreamToParquet]]. */
  private def runStreamToTable(
      s: SparkSession,
      w: org.apache.spark.sql.streaming.DataStreamWriter[_]): DataFrame = {
    val name = s"graft_stream_out_${streamSeq.incrementAndGet()}"
    withStreamShufflePartitions(s) {
      val q = w.format("memory").queryName(name).start()
      q.awaitTermination()
    }
    // detach the result from the sink before returning: the memory
    // sink's temp view pins the full result buffer in the session
    // catalog forever — bench trials would accumulate one per
    // execution. The checkpoint materializes the (aggregate-sized)
    // result, then the view drops.
    val out = s.table(name).localCheckpoint(eager = true)
    s.catalog.dropTempView(name)
    out
  }

  /** Bounded streaming execution through the FILE sink — the scale
    * path for Append-mode output whose volume grows with the data
    * (q107's surviving corpus, q108's pair set, q109's enriched
    * clicks): rows stay distributed instead of collecting to the
    * driver through the memory sink's buffer. Exactly-once via the
    * file sink's commit manifest; the returned frame reads back
    * through it. */
  private def runStreamToParquet(
      s: SparkSession,
      w: org.apache.spark.sql.streaming.DataStreamWriter[_]): DataFrame = {
    val d = Staging.scratchDir("graft_stream_sink_")
    val (out, ckpt) = (d.resolve("out"), d.resolve("ckpt"))
    withStreamShufflePartitions(s) {
      val q = w.format("parquet").option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .start()
      q.awaitTermination()
    }
    s.read.parquet(out.toString)
  }

  /** q23's oracle, shared by q105 (the streaming execution). */
  private lazy val TumblingWindowOracle: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // q40: session_window merges on gap <= gapDuration (closed
  // boundary — verified by EventPipelineSpec's exact-30m fixture), so
  // the session split rule is the same `>` as q24; session_end =
  // max(ts) + gap.
  /** q40's oracle, shared by q106 (the streaming execution). */
  private lazy val SessionWindowOracle: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
      |  CAST(max(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS session_end,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM sess GROUP BY user_id, sid""".stripMargin

  /** q47's oracle, shared by q108 (the streaming execution). */
  private lazy val ProximityJoinOracle: String =
    """WITH e AS (SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t
      |           FROM events WHERE event_type = 'error'),
      |a AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t2, value FROM events)
      |SELECT e.event_id, count(*) AS n_nearby,
      |  CAST(sum(CAST(a.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM e JOIN a ON abs(a.t2 - e.t) <= 300000000
      |GROUP BY e.event_id""".stripMargin

  val all: Seq[Query] = Seq(
    // ---- streaming shape: tumbling-window counts (batch-equivalent) ----
    query("q23_tumbling_window")((s, dir) =>
      EventPipeline.tumblingCounts(events(s, dir)))(TumblingWindowOracle),

    // ---- streaming shape: gap sessionization ----
    query("q24_sessionize")((s, dir) =>
      EventPipeline.sessionize(events(s, dir), gapMinutes = 30)) {
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    -- CAST: DuckDB's windowed sum over integers yields HUGEINT,
        |    -- which pandas renders as float64 ("1.0") while Spark's
        |    -- bigint renders "1" — the driver's value hash then differs
        |    -- even though every value is numerically identical
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        |  FROM flagged)
        |SELECT user_id, sess_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sess_id""".stripMargin
    },

    // ---- hopping (sliding) window aggregate ----
    query("q32_hopping_window")((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("sum_value"))) {
      """WITH f AS (
        |  SELECT value, event_type,
        |    date_trunc('hour', ts) + to_minutes(CASE WHEN minute(ts) >= 30
        |        THEN 30 ELSE 0 END) AS floor30
        |  FROM events),
        |w AS (SELECT value, event_type,
        |        CAST(unnest([floor30, floor30 - to_minutes(30)]) AS TIMESTAMP) AS win_start
        |      FROM f)
        |SELECT win_start, event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin
    },

    // ---- native session windows: Spark's built-in session_window
    // operator. Its merge boundary is CLOSED (a gap of exactly 30min
    // still merges — pinned by EventPipelineSpec's exact-gap fixture),
    // i.e. the same split rule as q24's lag-based `> gap`; the output
    // shape differs (start/end window instead of a session ordinal). ----
    query("q40_session_window")((s, dir) =>
      EventPipeline.sessionWindows(events(s, dir), gapMinutes = 30)) {
      // q40: session_window merges on gap <= gapDuration (closed
      // boundary — verified by EventPipelineSpec's exact-30m fixture), so
      // the session split rule is the same `>` as q24; session_end =
      // max(ts) + gap.
      SessionWindowOracle
    },

    // ---- as-of join: latest view at-or-before each click, per user —
    // the keyed temporal-alignment operator (one shuffle, union+window,
    // no range explosion; see AsofJoin) ----
    query("q42_asof_join")((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts"), col("value").as("view_value"))
      graft.operators.AsofJoin.asofBackward(
        clicks, views, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "view_ts", tieBreak = "view_id",
        rightPrefix = "")
    }) {
      // q42: DuckDB's native ASOF JOIN is the oracle — an independent
      // engine's implementation of the same operator, not a SQL
      // transliteration of ours. The right side dedupes equal-(user, ts)
      // views to the greatest view_id, which is exactly the row our
      // last-in-(t, tiebreak)-order window match selects.
      """WITH l AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |           FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, event_id AS view_id,
        |             CAST(ts AS TIMESTAMP) AS view_ts, value AS view_value
        |      FROM events WHERE event_type = 'view'
        |      QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |                                 ORDER BY event_id DESC) = 1)
        |SELECT l.user_id, l.event_id, l.ts, l.value,
        |       r.view_id, r.view_ts, r.view_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.view_ts""".stripMargin
    },

    // ---- proximity (interval) join: events within ±5 min of each
    // error event, via the bucketed equi-join (no nested loop) ----
    query("q47_proximity_join")((s, dir) => {
      val ev = events(s, dir)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("ts"))
      val all = ev.select(col("ts"), col("value"))
      graft.operators.RangeJoin.proximityJoin(
          errors, all, "ts", "ts", radiusUs = 5L * 60 * 1000000)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_nearby"),
          sum(col("r_value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    })(ProximityJoinOracle),

    // ---- daily RESAMPLE + forward fill: latest purchase value per
    // (user, day) on a complete per-user day spine, gaps carrying the
    // previous observation (the reference's fill-forward convention as
    // a keyed relational operator) ----
    query("q58_gap_fill")((s, dir) =>
      graft.operators.Resample.dailyForwardFill(
          events(s, dir).filter(col("event_type") === "purchase"),
          col("user_id"), col("ts"), col("value"), col("event_id"))
        .withColumnRenamed("key", "user_id")) {
      // q58: both engines pick the latest (µs-truncated ts, event_id)
      // observation per day, then forward-fill over the generated spine.
      """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id,
        |             CAST(ts AS DATE) AS day
        |           FROM events WHERE event_type = 'purchase'),
        |d AS (SELECT user_id, day, value FROM (
        |    SELECT user_id, day, value,
        |      row_number() OVER (PARTITION BY user_id, day
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM p) WHERE rn = 1),
        |sp AS (SELECT user_id,
        |         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |       FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
        |             FROM d GROUP BY 1)),
        |f AS (SELECT sp.user_id AS user_id, sp.day AS day,
        |        last_value(d.value IGNORE NULLS) OVER (PARTITION BY sp.user_id
        |          ORDER BY sp.day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |        d.value IS NOT NULL AS observed
        |      FROM sp LEFT JOIN d ON sp.user_id = d.user_id AND sp.day = d.day)
        |SELECT user_id, day, value, observed FROM f""".stripMargin
    },

    // ---- inter-event deltas: lag over (ts, id) per user — the
    // standard inter-arrival analysis; all-integer output ----
    query("q70_event_deltas")((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("us", unix_micros(col("ts")))
        .select(col("user_id"), col("event_id"),
          lag(col("event_id"), 1).over(w).as("prev_event_id"),
          (col("us") - lag(col("us"), 1).over(w)).as("delta_us"))
    }) {
      """WITH b AS (SELECT user_id, event_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
        |SELECT user_id, event_id,
        |  lag(event_id) OVER w AS prev_event_id,
        |  us - lag(us) OVER w AS delta_us
        |FROM b WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)""".stripMargin
    },

    // ---- STREAMING tumbling window ON THE ORACLE SURFACE: the real
    // Structured Streaming execution (streaming parquet source →
    // watermark → windowed agg → memory sink, AvailableNow) run to
    // completion and compared against the plain batch SQL — the
    // streaming engine itself becomes oracle-checked, not merely
    // batch-parity spec-pinned. Like q107–q109, the source arrives as
    // four time-sliced files in four micro-batches, so groups/sessions
    // accumulate and MERGE across batch boundaries through state ----
    query("q105_tumbling_stream")((s, dir) =>
      runStreamToTable(s,
        EventPipeline.tumblingCountsStream(s, eventsSlicedStreamDir(s, dir),
          maxFilesPerTrigger = Some(1)))) {
      // q105/q106: the STREAMING executions against the BATCH oracles —
      // the memory-sink tables must carry exactly what the plain SQL
      // computes, or the streaming engine (watermark handling, state
      // merging, the streaming source's row delivery) diverged.
      TumblingWindowOracle
    },

    // ---- STREAMING session_window on the oracle surface: native
    // session-window state merging under the streaming engine, checked
    // against the batch gap-sessionization SQL (q40's oracle) ----
    query("q106_session_window_stream")((s, dir) =>
      runStreamToTable(s,
        EventPipeline.sessionWindowsStream(s, eventsSlicedStreamDir(s, dir),
          gapMinutes = 30, maxFilesPerTrigger = Some(1))))(SessionWindowOracle),

    // ---- STREAMING exact dedup on the oracle surface: the original
    // documents arrive in micro-batch 0 and a full duplicate copy
    // (same texts, shifted ids) in micro-batch 1 (two files,
    // maxFilesPerTrigger=1, mtime-ordered), so every copy must be
    // dropped against STATE-STORE state from the previous batch. The
    // surviving set projects to the distinct texts; which duplicate
    // doc_id survives is arrival-order-defined, so the oracle checks
    // the well-defined column ----
    query("q107_dedup_stream")((s, dir) =>
      runStreamToParquet(s,
        EventPipeline.dedupDocStream(s, docsDedupStreamDir(s, dir),
          maxFilesPerTrigger = Some(1)))
        .select(col("text"))) {
      // q107: the streaming dedup passes exactly one survivor per
      // distinct text — batch-1 copies (and the corpus's own intra-file
      // repeats) all dropped. Any cross-batch state loss doubles ~every
      // text and fails the hash.
      "SELECT DISTINCT text FROM documents"
    },

    // ---- STREAMING unkeyed proximity join on the oracle surface: the
    // q47 semantics (every error event ⋈ every event within ±5 min)
    // under the stream-stream bin-equality join, with the events table
    // arriving as four event-time-ordered slices in four micro-batches
    // — pairs spanning a slice boundary only exist if the join state
    // survived the boundary. The pair set is then aggregated exactly
    // like q47, so the streaming engine must reproduce the batch
    // oracle's numbers ----
    query("q108_proximity_stream")((s, dir) =>
      runStreamToParquet(s,
        EventPipeline.proximityJoinStream(s,
          eventsSlicedStreamDir(s, dir), leftType = "error",
          radiusUs = 5L * 60 * 1000000, maxFilesPerTrigger = Some(1)))
        .groupBy(col("l_id").as("event_id"))
        .agg(count(lit(1)).as("n_nearby"),
          sum(col("r_value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))) {
      // q108: q47's oracle verbatim — the streaming bin-equality join
      // over four time-sliced micro-batches must reproduce the batch
      // ±5-minute pair set exactly (any pair lost at a slice boundary
      // changes a count/sum and fails the hash).
      ProximityJoinOracle
    },

    // ---- STREAMING stateful as-of enrichment on the oracle surface:
    // the custom flatMapGroupsWithState engine (per-user latest-view
    // state, O(keys)) over the four time-sliced micro-batches — a
    // click whose matching view arrived in an EARLIER batch can only
    // be enriched from the state store. Same tie semantics as the q42
    // batch operator, so the oracle is q42's ASOF JOIN with the
    // AsofOut column names ----
    query("q109_asof_stream")((s, dir) =>
      runStreamToParquet(s,
        EventPipeline.asofStream(s, eventsSlicedStreamDir(s, dir),
          maxFilesPerTrigger = Some(1)))) {
      // q109: q42's ASOF JOIN oracle with the streaming operator's
      // output column names — the per-user latest-view STATE must
      // deliver exactly what the batch whole-timeline sort delivers.
      """WITH l AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |           FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, event_id AS r_event_id,
        |             CAST(ts AS TIMESTAMP) AS r_ts, value AS r_value
        |      FROM events WHERE event_type = 'view'
        |      QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |                                 ORDER BY event_id DESC) = 1)
        |SELECT l.user_id, l.event_id, l.ts, l.value,
        |       r.r_event_id, r.r_ts, r.r_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.r_ts""".stripMargin
    },

    // ---- STREAMING tumbling windows in APPEND mode — the 100×
    // deployment shape (q105 is the Complete-mode oracle harness):
    // each window emits exactly once when the watermark passes its
    // end, through the FILE sink, and is evicted from state. On this
    // bounded stream the emitted set is the windows closed by the
    // final watermark (floor(max_ts ms) − 1 h); the oracle filters the
    // batch aggregate with that exact arithmetic, so both the window
    // values AND the emit-once eviction boundary are hash-checked ----
    query("q110_tumbling_append_stream")((s, dir) =>
      runStreamToParquet(s,
        EventPipeline.tumblingCountsStreamAppend(s,
          eventsSlicedStreamDir(s, dir), maxFilesPerTrigger = Some(1)))) {
      // q110: q105's aggregate restricted to watermark-CLOSED windows.
      // Spark tracks event time for watermarks in whole milliseconds
      // (EventTimeStats truncates micros → ms), so the final watermark is
      // floor(max_us/1000)·1000 µs − 1 h, and append mode emits exactly
      // the windows with end ≤ watermark. A window emitted early (no
      // eviction gate) or late-dropped data both change the row set.
      """WITH m AS (SELECT (epoch_us(MAX(CAST(ts AS TIMESTAMP))) // 1000) * 1000
        |                  - 3600000000 AS wm_us FROM events)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events, m
        |GROUP BY 1, 2, m.wm_us
        |HAVING epoch_us(CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP))
        |       + 3600000000 <= m.wm_us""".stripMargin
    },

    // ---- STREAMING session windows in APPEND mode: merging session
    // state + emit-once eviction together — a session emits when the
    // watermark passes its end (last event + gap) and leaves state.
    // Oracle = q106's gap-sessionization restricted to sessions closed
    // by the final watermark (same ms-floor arithmetic as q110; the
    // <= eviction boundary is spec-pinned for session windows too) ----
    query("q111_session_append_stream")((s, dir) =>
      runStreamToParquet(s,
        EventPipeline.sessionWindowsStreamAppend(s,
          eventsSlicedStreamDir(s, dir), gapMinutes = 30,
          maxFilesPerTrigger = Some(1)))) {
      // q111: q106's session oracle restricted to sessions CLOSED by the
      // final watermark (end = last event + gap; same ms-floor watermark
      // arithmetic and <= eviction boundary as q110).
      """WITH m AS (SELECT (epoch_us(MAX(CAST(ts AS TIMESTAMP))) // 1000) * 1000
        |                  - 3600000000 AS wm_us FROM events),
        |flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  CAST(max(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM sess, m GROUP BY user_id, sid, m.wm_us
        |HAVING epoch_us(CAST(max(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE)
        |       <= m.wm_us""".stripMargin
    },

    // ---- EVENT-TIME-timeout sessionization: the deterministic close
    // signal — a session emits when a later same-user event exceeds
    // the gap (any batch) OR when the WATERMARK passes last-event +
    // gap via GroupStateTimeout.EventTimeTimeout; bounded runs
    // self-terminate with no drain helper (unlike the processing-time
    // form, whose close depends on a wall clock). The oracle encodes
    // the exact closure rule: every non-final session, plus final
    // sessions whose ms-floored end is STRICTLY before the final
    // watermark (the `<` edge is spec-pinned, EventTimeSessionSpec) ----
    query("q114_session_eventtime_stream")((s, dir) =>
      runStreamToParquet(s,
        EventPipeline.sessionizeEventTimeStream(s,
          eventsSlicedStreamDir(s, dir), gapMinutes = 30,
          maxFilesPerTrigger = Some(1)))) {
      // q114: the custom-state sessionization under EVENT-TIME timeout.
      // Closure rule (EventTimeSessionSpec pins every edge): a session
      // with a successor (sid < per-user max) closed via the gap split
      // and always emits; a user's FINAL session emits iff its ms-floored
      // end (floor(last_us/1000)·1000 + gap) is STRICTLY before the final
      // watermark (ms-floored global max − delay) — Spark fires
      // EventTimeTimeout only when timeoutTimestamp < watermark. Session
      // content/numbering arithmetic is q106's lag-split chain.
      """WITH m AS (SELECT (epoch_us(MAX(CAST(ts AS TIMESTAMP))) // 1000) * 1000
        |                  - 3600000000 AS wm_us FROM events),
        |flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, event_id, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, sid, CAST(min(ts) AS TIMESTAMP) AS session_start,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
        |  FROM sess GROUP BY user_id, sid),
        |mx AS (SELECT user_id, max(sid) AS max_sid FROM agg GROUP BY user_id)
        |SELECT agg.user_id, CAST(sid AS BIGINT) AS sess_id, session_start,
        |  n_events, sum_value
        |FROM agg JOIN mx USING (user_id), m
        |WHERE sid < max_sid
        |   OR (last_us // 1000) * 1000 + 1800000000 < m.wm_us""".stripMargin
    },

    // ---- q114 under DELIBERATE late data: the fixture's later files
    // carry behind-watermark events (FMGWS does not filter them)
    // hitting every late arm — fold-with-start-regression, expired on
    // arrival, no-fold-beyond-gap insert-before, the arm-AT-watermark
    // edge, and the strict-< final boundary on the late path (see
    // lateEventRows). Each shape equals batch sessionization + the
    // q114 closure rule, so CORRECTNESS owns the late-data guard, not
    // just specs ----
    query("q118_session_late_data_stream")((s, dir) =>
      runStreamToParquet(s,
        EventPipeline.sessionizeEventTimeStream(s,
          lateEventsStreamDir(s), gapMinutes = 30,
          maxFilesPerTrigger = Some(1)))) {
      // q118: q114's closure-rule chain over the literal late-data
      // fixture (rendered from the SAME lateEventRows the stream stages,
      // so the two sides cannot drift) — the late events are designed to
      // land exactly on batch sessionization, which is what the stream's
      // gap-merge-over-the-unemitted-horizon guarantees for them.
      val vals = lateEventRows.map(r =>
        s"(${r._2}, TIMESTAMP '${r._3}', ${r._4}, ${r._5})")
        .mkString(",\n|    ")
      s"""WITH ev AS (SELECT * FROM (VALUES
         |    $vals) t(user_id, ts, event_id, value)),
         |m AS (SELECT (epoch_us(MAX(ts)) // 1000) * 1000
         |             - 3600000000 AS wm_us FROM ev),
         |flagged AS (
         |  SELECT user_id, ts, event_id, value,
         |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
         |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
         |         THEN 1 ELSE 0 END AS new_sess
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sess AS (
         |  SELECT user_id, ts, event_id, value,
         |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM flagged),
         |agg AS (
         |  SELECT user_id, sid, min(ts) AS session_start,
         |    count(*) AS n_events,
         |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
         |    max(epoch_us(ts)) AS last_us
         |  FROM sess GROUP BY user_id, sid),
         |mx AS (SELECT user_id, max(sid) AS max_sid FROM agg GROUP BY user_id)
         |SELECT CAST(agg.user_id AS BIGINT) AS user_id,
         |  CAST(sid AS BIGINT) AS sess_id, session_start,
         |  n_events, sum_value
         |FROM agg JOIN mx USING (user_id), m
         |WHERE sid < max_sid
         |   OR (last_us // 1000) * 1000 + 1800000000 < m.wm_us""".stripMargin
    },

    // ---- INCREMENTAL DAILY-ETL CADENCE — the reference's operational
    // shape (`Gridmet_current.py:24-48` gating `etl.py:570-810`) run
    // natively: staged day-files arrive as a drop-box stream, each
    // micro-batch consults the REAL AvailabilityGate decision rule
    // (injected probe: the staged day is published) and weighted-means
    // exactly the new day into the accumulating contract table via
    // idempotent day-partition overwrite. Oracle = the BATCH pipeline
    // over the full range: any day double-ETL'd, lost, or aggregated
    // from a partial plane changes rows and fails the hash.
    // Restart/no-dup/no-loss is additionally spec-pinned
    // (IncrementalEtlSpec) ----
    query("q113_daily_etl_stream")((s, dir) => {
      val w = weightsFromPart(t(s, dir, "part"))
      // once-per-corpus artifact (the q14/q17 bench convention,
      // round-12 verdict ask #6): the accumulated contract table +
      // checkpoint PERSIST across executions. Bench trial 1 therefore
      // pays the full COLD cadence — seven gated micro-batches from an
      // empty checkpoint — and surfaces in "queries_cold"; later
      // trials re-run the stream against the same checkpoint with no
      // new day staged, which is the STEADY deployment tick (the cron
      // re-invocation: restart, gate, no-op, read-back). The two costs
      // are then separately attributable across rounds instead of
      // blended into one number. The accumulated result is identical
      // either way (replay writes nothing; the read-back is the same
      // table), so Verify and the sf0.1 spot see the same rows.
      val tmp = java.nio.file.Paths.get(
        streamSrcDirs.getOrElseUpdate("dailyetl-state:" + dir,
          Staging.scratchDir("graft_daily_etl_").toString))
      val (out, ckpt) = (tmp.resolve("out"), tmp.resolve("ckpt"))
      val gate: String => Boolean = dayStr => {
        val day = java.time.LocalDate.parse(dayStr)
        graft.cli.AvailabilityGate.isCurrent(
          java.time.ZonedDateTime.of(day.plusDays(1),
            java.time.LocalTime.NOON, java.time.ZoneOffset.UTC))(_ => day)
      }
      withStreamShufflePartitions(s) {
        graft.etl.IncrementalEtl.dailyWeightedMeanStream(s,
            gridDailyStreamDir(s, dir), w, Seq("pr"), out.toString,
            gate = gate)
          .option("checkpointLocation", ckpt.toString)
          .start().awaitTermination()
      }
      graft.etl.IncrementalEtl.readAccumulated(s, out.toString)
        .select(col("fid"), col("time").cast("date").as("time"),
          round(col("pr"), 4).as("wmean_pr"))
    }) {
      // q113: the incremental cadence must accumulate EXACTLY the batch
      // pipeline's table — q01's weighted-mean oracle at the staging's
      // year grain. Per-day aggregation is exact because each (fid, time)
      // group's rows arrive whole in one micro-batch (day-atomic files);
      // the 4 dp round absorbs FP summation order, as in q01.
      s"""WITH g AS (SELECT CAST(date_trunc('year', l_shipdate) AS DATE) AS time,
         |            l_partkey % 25 AS i, l_suppkey % 10 AS j,
         |            l_extendedprice AS pr FROM lineitem),
         | w AS ($weightsSql)
         |SELECT w.fid AS fid, g.time AS time,
         |       round(sum(w.wght*g.pr)/sum(w.wght), 4) AS wmean_pr
         |FROM g JOIN w ON g.i = w.i AND g.j = w.j
         |GROUP BY 1, 2""".stripMargin
    }
  )
}
