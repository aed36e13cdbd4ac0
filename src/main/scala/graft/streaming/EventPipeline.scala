package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Event-stream operators. The reference is strictly batch (SURVEY.md
  * §2.8) but its operational cadence — daily availability probe then
  * incremental ETL of the new day (`Gridmet_current.py:24-48`) — is a
  * micro-batch pattern; these operators express it natively with
  * Structured Streaming, plus the batch-equivalent forms used by the
  * DuckDB oracle (identical results on a static events table).
  */
object EventPipeline extends Serializable {

  /** Bounded parquet stream with the event-time column(s) normalized to
    * TimestampType whatever the file's physical encoding (int64-ns /
    * TIMESTAMP_NTZ / TIMESTAMP — see [[graft.functions.EventTime]]).
    * Every streaming entrypoint reads through this seam so watermarks
    * and the Timestamp-typed case-class encoders below are
    * encoding-proof, like the batch loaders. */
  private def streamSource(
      spark: SparkSession, sourceDir: String, tsCols: String*): DataFrame =
    pacedStreamSource(spark, sourceDir, None, tsCols: _*)

  /** [[streamSource]] with an explicit files-per-micro-batch cap —
    * `Some(1)` on a multi-file directory forces the query through
    * SEVERAL micro-batches, so operator state provably crosses batch
    * boundaries through the state store instead of resolving inside
    * one batch's hash table. */
  private def pacedStreamSource(
      spark: SparkSession, sourceDir: String,
      maxFilesPerTrigger: Option[Int], tsCols: String*): DataFrame = {
    val schema = spark.read.parquet(sourceDir).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(m =>
      reader.option("maxFilesPerTrigger", m.toString))
    graft.functions.EventTime.normalize(reader.parquet(sourceDir), tsCols: _*)
  }

  /** Tumbling-window aggregate (batch form): events per (hour, type)
    * with count and rounded value sum. Matches the streaming form below
    * on static input — including on NTZ/int64-ns sources: both forms
    * normalize `ts` through the same seam, so `hour_start` is
    * TimestampType either way. */
  def tumblingCounts(events: DataFrame): DataFrame =
    graft.functions.EventTime.normalize(events, "ts").groupBy(
        date_trunc("hour", col("ts")).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))

  /** The windowed aggregation both streaming tumbling forms share. */
  private def tumblingAgg(df: DataFrame): DataFrame =
    df.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming form of [[tumblingCounts]]: watermark + windowed agg.
    * Complete mode — the whole aggregate re-emits each micro-batch,
    * which is the oracle-comparison harness (the memory-sink table IS
    * the aggregate) but pays a per-batch re-emission that grows with
    * the window count. The deployment shape at scale is
    * [[tumblingCountsStreamAppend]]. */
  def tumblingCountsStream(
      spark: SparkSession, sourceDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataStreamWriter[Row] = {
    tumblingAgg(pacedStreamSource(spark, sourceDir, maxFilesPerTrigger, "ts")
        .withWatermark("ts", "1 hour"))
      .writeStream.outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
  }

  /** APPEND-mode tumbling aggregate — the 100× deployment shape: each
    * window row is emitted exactly ONCE, when the watermark passes its
    * end, and evicted from state; per-batch output is proportional to
    * the windows that CLOSED, not to all windows ever seen, and the
    * sink can be a file sink (exactly-once manifest) instead of a
    * driver-resident table. On a bounded stream the emitted set is the
    * windows whose end precedes the final watermark,
    * `floor(max_ts_us/1000)·1000 − delay` (Spark tracks event time for
    * watermarks in whole milliseconds); windows still open when the
    * stream ends stay in state — on an unbounded stream they emit as
    * the watermark advances. */
  def tumblingCountsStreamAppend(
      spark: SparkSession, sourceDir: String,
      delay: String = "1 hour",
      maxFilesPerTrigger: Option[Int] = None): DataStreamWriter[Row] = {
    tumblingAgg(pacedStreamSource(spark, sourceDir, maxFilesPerTrigger, "ts")
        .withWatermark("ts", delay))
      .writeStream.outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
  }

  /** Gap-based sessionization (batch form): a new session starts when
    * the gap to the previous event of the same user exceeds
    * `gapMinutes`. Output: one row per session with start, event count
    * and value sum. Gap comparison in exact microseconds
    * (`unix_micros`) so the oracle (epoch_us) is bit-identical. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    // encoding-proof: accept ts as TIMESTAMP / TIMESTAMP_NTZ / int64-ns
    // (unix_micros below rejects NTZ at analysis time otherwise)
    val flagged = graft.functions.EventTime.normalize(events, "ts")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("sess_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("ts")).as("session_start"),
        count(lit(1)).as("n_events"),
        // decimal accumulation: order-independent and exact (every input
        // value round-trips double↔DECIMAL(18,6)), so the result is
        // bit-identical regardless of how Spark permutes the per-session
        // partial sums — a double sum + round(4) is not (the partials
        // land on different sides of rounding boundaries per run)
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("sess_id"), col("session_start"),
        col("n_events"), col("sum_value"))
  }

  /** Session-window aggregate (batch form): Spark's native
    * `session_window` operator. Its merge boundary is CLOSED — a gap
    * of exactly `gapMinutes` still merges (spec-pinned), so the split
    * rule matches [[sessionize]]'s `> gap`; only the output shape
    * differs (start/end window vs a session ordinal). */
  def sessionWindows(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    graft.functions.EventTime.normalize(events, "ts")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Streaming form of [[sessionWindows]]: watermark + session-window
    * agg — Spark maintains the merge state. Complete/update semantics
    * via the returned writer; tested against the batch form on a
    * bounded stream. */
  def sessionWindowsStream(
      spark: SparkSession, sourceDir: String,
      gapMinutes: Int = 30,
      maxFilesPerTrigger: Option[Int] = None): DataStreamWriter[Row] = {
    pacedStreamSource(spark, sourceDir, maxFilesPerTrigger, "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))
      .writeStream.outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
  }

  /** APPEND-mode session windows — the 100× deployment shape of
    * [[sessionWindowsStream]]: a session emits exactly ONCE, when the
    * watermark passes its end (last event + gap), and its merge state
    * is evicted; Complete mode re-emits every session ever seen each
    * batch. Session extension is safe under the eviction boundary: an
    * event can only extend a session whose end it reaches (closed
    * boundary, `ts <= end`), and such an event would be late-dropped
    * anyway once the watermark passed that end — the spec pins the
    * exact `<=`/`<` eviction edge so the q111 oracle encodes what the
    * engine does, not what the docs say. */
  def sessionWindowsStreamAppend(
      spark: SparkSession, sourceDir: String,
      gapMinutes: Int = 30, delay: String = "1 hour",
      maxFilesPerTrigger: Option[Int] = None): DataStreamWriter[Row] = {
    pacedStreamSource(spark, sourceDir, maxFilesPerTrigger, "ts")
      .withWatermark("ts", delay)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))
      .writeStream.outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
  }

  /** Incremental exact dedup of a document stream — the streaming form
    * of `Dedup.exact`: arriving documents are keyed by
    * (xxhash64(text), length) and only first occurrences pass. Two
    * state regimes, both O(distinct keys), never O(bytes):
    *  - `watermarkHorizon = None`: exact across the whole stream,
    *    state grows with distinct documents (12 bytes/doc — 100 TB of
    *    text dedups against ~tens of GB of state);
    *  - `Some(horizon)`: `dropDuplicatesWithinWatermark` expires keys
    *    older than the event-time horizon — bounded state for crawl
    *    streams where re-fetches cluster in time. */
  def dedupDocStream(
      spark: SparkSession, sourceDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      tsCol: Option[String] = None,
      watermarkHorizon: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): DataStreamWriter[Row] = {
    require(watermarkHorizon.isEmpty || tsCol.isDefined,
      "watermarkHorizon needs tsCol: a horizon without an event-time " +
        "column would silently fall back to unbounded state — the " +
        "exact failure the horizon exists to prevent")
    val in = pacedStreamSource(spark, sourceDir, maxFilesPerTrigger,
      tsCol.toSeq: _*)
      .withColumn("__h", xxhash64(col(textCol)))
      .withColumn("__len", length(col(textCol)))
    val deduped = (tsCol, watermarkHorizon) match {
      case (Some(t), Some(h)) =>
        in.withWatermark(t, h).dropDuplicatesWithinWatermark("__h", "__len")
      case _ => in.dropDuplicates("__h", "__len")
    }
    deduped.drop("__h", "__len")
      .writeStream.outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
  }

  /** STREAM-STREAM interval join: clicks ⋈ views of the same user with
    * the view at most `beforeMinutes` before (or at) the click — the
    * streaming form of the keyed temporal-window join (AsofJoin /
    * RangeJoin are its batch relatives). Both sides carry watermarks
    * and the join condition is time-bounded in BOTH directions, which
    * is exactly what lets Spark expire join state: a buffered view can
    * be dropped once the click watermark passes view_ts +
    * beforeMinutes. State is O(events inside the watermark horizon),
    * not O(stream). */
  def clickViewJoinStream(
      spark: SparkSession, sourceDir: String,
      beforeMinutes: Int = 30, watermark: String = "1 hour"): DataStreamWriter[Row] = {
    // ONE file-stream source feeding both legs (a stream self-join):
    // two sources would each maintain a file index and list+read every
    // input file twice per micro-batch
    val src = streamSource(spark, sourceDir, "ts")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    clicks.join(views,
        col("c_user") === col("v_user") &&
          col("view_ts") <= col("click_ts") &&
          col("view_ts") >= col("click_ts") - expr(s"INTERVAL $beforeMinutes MINUTES"))
      .select(col("c_user").as("user_id"), col("click_id"), col("click_ts"),
        col("view_id"), col("view_ts"))
      .writeStream.outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
  }

  /** STREAMING unkeyed proximity join — the Structured-Streaming form
    * of [[graft.operators.RangeJoin.proximityJoin]] (the q47 shape):
    * every event of `leftType` pairs with every event at most
    * `radiusUs` away, either direction. A naive ±r join has NO equi
    * key, which a stream-stream join cannot even express; the batch
    * operator's width-2r binning IS the missing equality — a left
    * window covers ≤2 bins (explode), a right event lives in exactly
    * one, so bin-equality + the exact two-sided time-range residual
    * finds every pair exactly once. The range condition ties both
    * event-time columns, so with watermarks on BOTH legs Spark expires
    * join state past `watermark` + r: state is O(events in horizon),
    * not O(stream). One file source feeds both legs (same economics as
    * [[clickViewJoinStream]]).
    *
    * LATE-DATA BOUND (the price of bounded state): an event arriving
    * after the global watermark has passed its event time is dropped
    * before the join — every pair involving it is silently missing
    * from the Append-mode output, which is where this operator
    * DIVERGES from the batch [[graft.operators.RangeJoin]] reference.
    * The divergence is bounded: only events later than
    * `watermark` (+ r for the buffered partner's eviction) can lose
    * pairs, so size `watermark` to the source's maximum disorder plus
    * the radius. EventPipelineSpec pins both behaviors on a two-batch
    * restart: in-horizon cross-batch pairs emit exactly once from
    * recovered state; past-horizon events lose their pairs. */
  def proximityJoinStream(
      spark: SparkSession, sourceDir: String,
      leftType: String, radiusUs: Long,
      watermark: String = "1 hour",
      maxFilesPerTrigger: Option[Int] = None): DataStreamWriter[Row] = {
    require(radiusUs > 0, "radius must be positive")
    val w = 2 * radiusUs
    val src = pacedStreamSource(spark, sourceDir, maxFilesPerTrigger, "ts")
    val left = src.filter(col("event_type") === leftType)
      .select(col("event_id").as("l_id"), col("ts").as("l_ts"))
      .withWatermark("l_ts", watermark)
      .withColumn("__t", unix_micros(col("l_ts")))
      .withColumn("__bin", explode(array_distinct(array(
        expr(s"(__t - ${radiusUs}L) DIV ${w}L"),
        expr(s"(__t + ${radiusUs}L) DIV ${w}L")))))
    val right = src
      .select(col("event_id").as("r_id"), col("ts").as("r_ts"),
        col("value").as("r_value"))
      .withWatermark("r_ts", watermark)
      .withColumn("__bin2", expr(s"unix_micros(r_ts) DIV ${w}L"))
    left.join(right,
        col("__bin") === col("__bin2") &&
          col("r_ts") >= col("l_ts") - expr(s"INTERVAL $radiusUs MICROSECOND") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $radiusUs MICROSECOND"))
      .select(col("l_id"), col("l_ts"), col("r_id"), col("r_ts"), col("r_value"))
      .writeStream.outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
  }

  /** Exact microseconds of a Timestamp. `getTime` alone is MILLISECOND
    * precision — sorting or differencing on it silently collapses
    * sub-millisecond event order (the events table carries
    * ns-normalized-to-us timestamps), diverging from batch operators
    * that order by the full timestamp. */
  private def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Inverse of [[tsMicros]]: a Timestamp preserving microseconds. */
  private def microsToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Rows for the stateful streaming as-of form: `side` 0 = reference
    * (right), 1 = probe (left). */
  final case class Tagged(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      value: Double, side: Int)
  final case class LastRight(ts: java.sql.Timestamp, event_id: Long, value: Double)
  final case class AsofOut(
      user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double,
      r_event_id: Option[Long], r_ts: Option[java.sql.Timestamp],
      r_value: Option[Double])

  /** STREAMING as-of enrichment — the `flatMapGroupsWithState` form of
    * [[graft.operators.AsofJoin.asofBackward]]: per-key state holds
    * only the LATEST right row (O(keys), not O(stream) — the batch
    * window's whole-timeline sort never materializes), and each left
    * row emits immediately with whatever right row is newest at its
    * timestamp. Identical tie semantics to the batch operator: rights
    * sort before lefts at equal ts, greatest right id wins a right-ts
    * tie. Within-batch order is enforced by sorting; cross-batch order
    * is the source's responsibility (file streams deliver in file
    * order). */
  def asofStateful(events: Dataset[Tagged]): Dataset[AsofOut] = {
    implicit val oe = Encoders.product[AsofOut]
    implicit val se = Encoders.product[LastRight]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[LastRight, AsofOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (uid: Long, it: Iterator[Tagged], state: GroupState[LastRight]) => {
          val sorted = it.toVector.sortBy(e => (tsMicros(e.ts), e.side, e.event_id))
          var last = state.getOption
          val out = Vector.newBuilder[AsofOut]
          sorted.foreach { e =>
            if (e.side == 0) {
              // monotone state guard: a cross-batch out-of-order right
              // row must not REGRESS state to an older timestamp —
              // (ts, event_id) must be ≥ the held row's, mirroring the
              // batch operator's greatest-(ts, tie) semantics, instead
              // of silently diverging on late arrivals
              val keep = last.forall { lr =>
                val (et, lt) = (tsMicros(e.ts), tsMicros(lr.ts))
                et > lt || (et == lt && e.event_id >= lr.event_id)
              }
              if (keep) last = Some(LastRight(e.ts, e.event_id, e.value))
            } else out += AsofOut(uid, e.event_id, e.ts, e.value,
              last.map(_.event_id), last.map(_.ts), last.map(_.value))
          }
          last.foreach(state.update)
          out.result().iterator
        })
  }

  /** [[asofStateful]] over a bounded parquet stream: clicks enriched
    * with the latest view at-or-before, per user. */
  def asofStream(
      spark: SparkSession, sourceDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataStreamWriter[AsofOut] = {
    implicit val te = Encoders.product[Tagged]
    val tagged = pacedStreamSource(spark, sourceDir, maxFilesPerTrigger, "ts")
      .filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        when(col("event_type") === "view", 0).otherwise(1).as("side"))
      .as[Tagged]
    asofStateful(tagged)
      .writeStream.outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
  }

  /** Input/accumulator/output rows for the stateful streaming form. */
  final case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long, value: Double)
  final case class SessState(
      sessId: Long, startUs: Long, lastUs: Long, n: Long, sumMicros: Long)
  final case class Session(
      user_id: Long, sess_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, sum_value: Double)

  /** Project a closed session out of its accumulator. The sum is an
    * exact scaled long (micro-units) — the incremental mirror of the
    * batch form's DECIMAL(18,6) accumulator: order-independent, and
    * sumMicros/1e6 is the correctly-rounded double of the same decimal
    * value the batch cast produces. */
  private def emitSession(userId: Long, s: SessState): Session =
    Session(userId, s.sessId, microsToTs(s.startUs), s.n, s.sumMicros / 1e6)

  /** Match Spark's double→DECIMAL(18,6) cast exactly: HALF_UP on the
    * SHORTEST decimal representation (math.rint is half-even on the
    * binary product and can differ by 1e-6 at .5-at-6dp inputs). */
  private def valueMicros(v: Double): Long =
    new java.math.BigDecimal(java.lang.Double.toString(v))
      .movePointRight(6)
      .setScale(0, java.math.RoundingMode.HALF_UP)
      .longValueExact()

  /** Streaming sessionization with CUSTOM STATE — the
    * `flatMapGroupsWithState` form of [[sessionize]], with the same
    * session content and numbering. State size is O(users), not
    * O(events): the aggregate (start, count, sum) is folded
    * incrementally, which is what lets this run indefinitely on an
    * unbounded stream where the batch window-sort cannot. Sessions
    * close on EVENT time, never on a wall clock:
    *
    *  - a later same-user event beyond the gap closes the previous
    *    session immediately (the gap split);
    *  - a session with NO successor closes via
    *    `GroupStateTimeout.EventTimeTimeout` when the watermark
    *    (ms-floored global event-time max − delay) passes
    *    `floor(last_us/1000) + gap` — a pure function of the DATA, so
    *    bounded runs emit a deterministic, oracle-checkable session
    *    set (q114) and self-terminate under Trigger.AvailableNow:
    *    `shouldRunAnotherBatch` is true only while the watermark
    *    advances. The price: a session of a stalled stream stays open
    *    until new events move the watermark.
    *
    * State: one [[SessState]] per user, O(users). After a timeout
    * emission the state is kept as a TOMBSTONE (`n = 0`, no timeout
    * re-armed) rather than removed: the next event must continue the
    * per-user session NUMBERING (`sessId + 1`) — removing state would
    * restart it at 1 and diverge from the batch ordinal.
    *
    * LATE DATA (FMGWS does NOT filter behind-watermark rows — pinned
    * empirically, LateDataSpec): each invocation gap-merges the carried
    * open session (as a time interval) together with the batch's events
    * in EVENT-TIME order — i.e. batch sessionization restricted to the
    * not-yet-emitted horizon. A late event therefore
    *  - folds into the open session when within the gap of its span
    *    (never regressing `last` or advancing `start` — the min/max is
    *    inherent to interval merging; the counters are exact longs, so
    *    fold order cannot change any emitted value),
    *  - BRIDGES two runs that are each within the gap of it into one
    *    session, and
    *  - forms its own EARLIER session when beyond the gap before the
    *    open session's start — emitted as a closed predecessor, with
    *    the open session's ordinal shifted up by one (nothing with that
    *    ordinal has been emitted yet, so numbering matches the batch
    *    oracle; round-12 advice: such an event must NOT fold).
    * All of these equal the batch result. The one irrecoverable shape —
    * an event within the gap of a session already EMITTED — starts a
    * fresh session at the next ordinal (you cannot un-emit; the q118
    * fixture avoids it, LateDataSpec documents it).
    *
    * Expired-on-arrival guard: a fold can leave the merged session's
    * end BEHIND the current watermark; its timeout would throw (Spark
    * rejects `timestamp < watermark` STRICTLY — verified against the
    * 4.1.2 `GroupStateImpl.setTimeoutTimestamp` bytecode: `ifge` skips
    * the throw, so arming exactly AT the watermark is legal). Such a
    * session is emitted immediately, once, ordinal preserved via the
    * tombstone — exactly what the timeout would have done on on-time
    * input. A session ending exactly ON the watermark is NOT expired:
    * its timeout arms at `== watermark` and Spark fires it only when a
    * later watermark strictly passes it, which is precisely the q114
    * oracle's `<` rule (a late fold must not close an ON-boundary
    * session early — round-12 advice's off-by-one).
    *
    * Eviction boundary (spec-pinned, EventTimeSessionSpec): Spark
    * fires the timeout only when `timeoutTimestamp < watermark`
    * STRICTLY — a session whose end lands exactly ON the final
    * watermark stays open. The q114 oracle encodes exactly this: all
    * non-final sessions (closed by the gap split) plus final sessions
    * with `floor(last_us/1000) + gap < floor(max_ts_us/1000) − delay`. */
  def sessionizeStatefulEventTime(
      events: Dataset[Ev], gapMinutes: Int): Dataset[Session] = {
    require(gapMinutes > 0, "event-time sessionization needs a positive gap")
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val gapMs = gapMinutes.toLong * 60000L
    implicit val se = Encoders.product[Session]
    implicit val ste = Encoders.product[SessState]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (userId: Long, it: Iterator[Ev], state: GroupState[SessState]) => {
          if (state.hasTimedOut) {
            // watermark passed the open session's end: emit once and
            // leave the numbering tombstone behind
            val out = state.getOption.filter(_.n > 0).map(emitSession(userId, _))
            state.getOption.foreach(s =>
              state.update(SessState(s.sessId, 0L, 0L, 0L, 0L)))
            out.iterator
          } else {
            val carried = state.getOption.filter(_.n > 0)
            // first ordinal not yet emitted: the open session's own,
            // or the tombstone's + 1
            val base = state.getOption
              .map(s => if (s.n > 0) s.sessId else s.sessId + 1)
              .getOrElse(1L)
            // gap-merge over the not-yet-emitted horizon (see scaladoc):
            // atoms = carried open interval + this batch's events, in
            // event-time order; adjacent atoms within the gap merge.
            // (start, last, n, sumMicros) — n/sum are exact longs, so
            // the merge is order-insensitive in every emitted value.
            val atoms = (carried
                .map(c => (c.startUs, c.lastUs, c.n, c.sumMicros)).toVector ++
              it.map { e =>
                val us = tsMicros(e.ts); (us, us, 1L, valueMicros(e.value))
              }).sortBy(a => (a._1, a._2))
            if (atoms.isEmpty) Iterator.empty
            else {
              val runs = scala.collection.mutable.ArrayBuffer
                .empty[(Long, Long, Long, Long)]
              atoms.foreach { a =>
                if (runs.nonEmpty && a._1 - runs.last._2 <= gapUs) {
                  val p = runs.last
                  runs(runs.length - 1) = (p._1, math.max(p._2, a._2),
                    p._3 + a._3, p._4 + a._4)
                } else runs += a
              }
              val sess = runs.toVector.zipWithIndex.map {
                case ((s0, l, n, sm), k) => SessState(base + k, s0, l, n, sm)
              }
              val last = sess.last
              val endMs = Math.floorDiv(last.lastUs, 1000L) + gapMs
              // expired-on-arrival (strict <, see scaladoc): end AT the
              // watermark stays open with its timeout armed AT it —
              // legal, and Spark's own strict-< firing then owns the
              // q114 boundary; end BEHIND it emits now, once
              if (endMs < state.getCurrentWatermarkMs()) {
                state.update(SessState(last.sessId, 0L, 0L, 0L, 0L))
                sess.iterator.map(emitSession(userId, _))
              } else {
                state.update(last)
                state.setTimeoutTimestamp(endMs)
                sess.init.iterator.map(emitSession(userId, _))
              }
            }
          }
        })
  }

  /** [[sessionizeStatefulEventTime]] over a bounded parquet stream:
    * watermark on `ts` (the delay that defines the close boundary),
    * Append output, AvailableNow. The bounded run SELF-TERMINATES
    * (plain `awaitTermination`), because the only pending-timeout
    * condition is watermark advancement, which stops when the source
    * drains. */
  def sessionizeEventTimeStream(
      spark: SparkSession, sourceDir: String,
      gapMinutes: Int, delay: String = "1 hour",
      maxFilesPerTrigger: Option[Int] = None): DataStreamWriter[Session] = {
    implicit val ee = Encoders.product[Ev]
    val events = pacedStreamSource(spark, sourceDir, maxFilesPerTrigger, "ts")
      .withWatermark("ts", delay)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[Ev]
    sessionizeStatefulEventTime(events, gapMinutes)
      .writeStream.outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
  }

  /** STREAMING incremental-dedup admission — the micro-batch form of
    * [[graft.operators.Dedup.admitIncrement]]: each micro-batch admits
    * against the PERSISTED fingerprint table at `statePath`, appends
    * the admitted rows to `outDir`, and appends their fingerprints to
    * the state. `foreachBatch`, not `dropDuplicates` state, on
    * purpose: the fingerprint table is a corpus artifact that OUTLIVES
    * the stream — a nightly batch `dedup-admit` job and this stream
    * admit against the SAME table interchangeably, while
    * dropDuplicates state lives and dies with one query's checkpoint.
    *
    * Ordering contract: admission depends on arrival order (a text's
    * first-arriving id wins), so the trigger processes ONE source file
    * per micro-batch (`maxFilesPerTrigger=1`). Spark's FileStreamSource
    * orders candidate files by MODIFICATION TIMESTAMP, not name — the
    * contract is therefore write-time order: files must land in the
    * order they should be admitted (the natural shape for an ingestion
    * drop-box; a backfill written out of time order will be admitted at
    * its write time, not its name's position). Under that contract
    * stream admission equals batch-per-file admission, which the parity
    * spec pins (its files are written sequentially, so name and
    * mod-time order coincide). Delivery: foreachBatch is at-least-once; a
    * replayed micro-batch re-admits the same rows (admission is
    * deterministic given state — re-appended fingerprints are
    * duplicate (h,l) rows, harmless to the anti-join) but re-appends
    * them to `outDir`, so downstream consumers of the admitted stream
    * read it with the usual sink-dedup caveat.
    * Caller sets `checkpointLocation` and starts. */
  def admitStream(
      spark: SparkSession, sourceDir: String, statePath: String,
      outDir: String, idCol: String = "doc_id",
      textCol: String = "text"): DataStreamWriter[Row] = {
    val schema = spark.read.parquet(sourceDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(sourceDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // outDir append runs BEFORE the fingerprint append (inside
        // admitIncrement): a crash between them replays the micro-batch
        // as an at-least-once duplicate, never a lost admission
        graft.operators.Dedup.admitIncrement(
          statePath, batch, idCol, textCol,
          persistAdmitted = _.write
            .mode(org.apache.spark.sql.SaveMode.Append).parquet(outDir))
        ()
      }
      .trigger(Trigger.AvailableNow())
  }
}
