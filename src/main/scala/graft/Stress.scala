package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Staging
import graft.tools.StressMetrics

/** Scale-stress harness: runs the most shuffle-exposed operators on
  * SYNTHESIZED inputs 50–1000× the committed sf0.1 testdata and
  * records MEASURED numbers — wall seconds, input rows/s, total and
  * peak-stage shuffle bytes, spill, task skew — via a SparkListener.
  * SCALE.md's 100 TB arguments were plan audits over 17 MB of sf0.1;
  * this turns the central ones into measurements (round-9 verdict
  * "Next round #1").
  *
  * Inputs are generated with `spark.range` + codegen arithmetic — no
  * disk staging, so the harness stresses the OPERATOR's exchanges,
  * not parquet IO. Every scenario runs inside the same `local[32]`
  * JVM envelope the bench uses (8 GiB heap unless SPARK_DRIVER_MEM
  * overrides): completing without OOM at these sizes is itself the
  * assertion the verdict asked for.
  *
  * `SPARK_GRAFT_STRESS_SCALE` (default 1.0) scales every row count —
  * StressSpec runs the identical scenario code at ~1/1000 scale to
  * keep `sbt test` fast; the full run is
  * `sbt "runMain graft.Stress"` (results → stress_out.json).
  *
  * Headline full-scale sizes:
  *  - weighted_mean_raster: 1.09e9 grid rows × 3 vars — the reference
  *    workload envelope (BASELINE.md: conus gridmet slice,
  *    1.09e9 cells/variable) IN FULL, through the broadcast weight
  *    join + single hash agg.
  *  - weighted_mean_precombine: 3.2e8 rows with 4 rows/cell + 8
  *    ensemble members, the q103 shape.
  *  - weighted_mean_bigweights: ~1e8-row weight table (8.3M features —
  *    the ~100× HRU scale-up where broadcast breaks) sort-merge-joined
  *    against an (i,j)-bucketed grid staging: zero grid-side exchange.
  *  - minhash_band_shuffle: 250k docs (50× sf0.1) through signature +
  *    band explode + bucket join + exact-Jaccard verify.
  *  - ngram_jaccard_postings: 250k docs through the inverted-index
  *    pair generator.
  *  - span_dedup: 200k docs × 150 tokens (30M gram positions) hot-gram
  *    detection + span assembly.
  *  - sessionize: 20M events / 100k users through the per-user window.
  *  - proximity_join: 200k markers × 20M events, ±1 s radius, binned.
  *  - hll_events: 1e8 rows into per-day HLL + exact-count aggregates.
  *  - sessionize_eventtime_stream / proximity_join_stream: 5M events
  *    as 20 time-ordered source files through flatMapGroupsWithState
  *    and the stream-stream interval join respectively — real multi-
  *    micro-batch runs whose state crosses batch boundaries.
  */
object Stress {

  /** `build` returns the TIMED ACTION and the exact generated
    * input-row count (sizes are derived from `scale` with integer
    * floors, so the count must come from the same computation that
    * built the plan). Batch scenarios wrap their plan with [[sink]];
    * streaming scenarios stage source files during `build` (untimed —
    * the listener resets after build returns) and the action runs the
    * bounded query to completion. */
  final case class Scenario(
      name: String, build: SparkSession => (() => Unit, Long),
      streaming: Boolean = false, big: Boolean = false)

  /** The standard batch action: execute `plan` against the no-op sink.
    * `plan` is BY-NAME on purpose: operators with driver-side
    * iteration or training (duplicateClusters' convergence counts,
    * IVF's Lloyd collects) run real jobs while the plan is being
    * CONSTRUCTED, and those jobs are part of the operator's cost — so
    * construction must happen inside the timed window, after the
    * listener reset, not during build. */
  private def sink(plan: => DataFrame): () => Unit =
    () => plan.write.mode("overwrite").format("noop").save()

  /** Run `act` and RESTORE the named session confs after (whether act
    * set them itself or an operator did — WeightedMean's tiled path
    * sets its two deployment confs at plan construction): a scenario
    * must not leak plan-shape confs into every later scenario's
    * measured plan (round-12 advice). */
  private def restoringConfs(sp: SparkSession, keys: Seq[String])(
      act: () => Unit): () => Unit = () => {
    val prev = keys.map(k => k -> sp.conf.getOption(k))
    try act() finally prev.foreach {
      case (k, Some(v)) => sp.conf.set(k, v)
      case (k, None) => sp.conf.unset(k)
    }
  }

  /** Deterministic token: 't' + (hash of (seed, position) mod vocab). */
  private def tok(seed: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column,
      vocab: Int) =
    concat(lit("t"), pmod(hash(seed, i), lit(vocab)))

  /** Synthetic corpus: `n` docs of `len` tokens from a hashed vocab;
    * every 100th doc is a near-clone of its predecessor (same token
    * stream + one extra token) so dedup operators have true positives
    * to verify. Columns: (id, blk, text). */
  private def corpus(spark: SparkSession, n: Long, len: Int, vocab: Int): DataFrame =
    spark.range(n)
      .withColumn("seed",
        when(pmod(col("id"), lit(100)) === 1, col("id") - 1).otherwise(col("id")))
      .withColumn("blk", pmod(hash(col("seed")), lit(16)))
      .withColumn("text", concat(
        array_join(transform(sequence(lit(0), lit(len - 1)),
          i => tok(col("seed"), i, vocab)), " "),
        when(pmod(col("id"), lit(100)) === 1, lit(" cloneextra")).otherwise(lit(""))))
      .select(col("id"), col("blk"), col("text"))

  /** Shared input for the paragraph_dedup[_flat] head-to-head: n pages
    * of 8 newline-joined paragraphs drawn from a pool 20× smaller, so
    * every paragraph recurs ~20× SCATTERED across the id range (the
    * cross-site boilerplate regime). */
  private def paragraphPages(
      sp: SparkSession, scale: Double): (DataFrame, Long) = {
    val n = math.max(1000L, (5000000L * scale).toLong)
    val pool = math.max(500L, n * 8 / 20)
    // ~260 B per paragraph with digit-varied "words" so shuffle
    // compression sits in a realistic band (a constant-filler fixture
    // compresses ~50× and hides the foil's content-volume penalty).
    val words = Seq("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "near", "river", "bank", "dawn", "mist", "trail",
      "stone", "glade")
    def para(pi: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat_ws(" ",
      words.zipWithIndex.map { case (w, j) =>
        concat(lit(w), pmod(pi * lit(2 * j + 31), lit(99991L)).cast("string"))
      }: _*)
    val slots = (0 until 8).map { k =>
      para(pmod(col("id") * 8 + lit(k), lit(pool)))
    }
    (sp.range(n).select(col("id"), concat_ws("\n", slots: _*).as("page")), n)
  }

  /** [[paragraphPages]] staged to parquet once per JVM (build-time,
    * untimed) so both paragraph scenarios read the identical columnar
    * input — re-generating the synthetic pages per scan would charge
    * the two-scan narrow election ~130 concat ops/doc the one-scan
    * form never pays, a harness artifact no parquet deployment has. */
  @volatile private var paraStaged: Option[(String, Long)] = None
  private def stagedParagraphPages(
      sp: SparkSession, scale: Double): (DataFrame, Long) = {
    val (dir, n) = paraStaged.getOrElse {
      val (d, rows) = paragraphPages(sp, scale)
      val path = Staging.scratchDir("graft_stress_paras_").toString
      d.write.mode("overwrite").parquet(path)
      val v = (path, rows)
      paraStaged = Some(v)
      v
    }
    (sp.read.parquet(dir), n)
  }

  /** Shared parquet-staged corpus for the entropy_fold/entropy_flat
    * head-to-head. Staging matters for the FOIL's honesty: a raw
    * `spark.range` source reports id-based output partitioning, so
    * Catalyst elides BOTH of the flat form's exchanges (grouping keys
    * include `id`) — a gifted co-location no real corpus scan has.
    * Parquet reads report UnknownPartitioning, the 100 TB shape. */
  // keyed by n — a single cached path would silently serve the FIRST
  // staged size to any later scenario asking for a different one — and
  // built under the object lock (check-then-set on a bare @volatile
  // raced); staged dirs are Staging.scratchDir trees, removed at JVM exit
  private var entropyStaged: Map[Long, String] = Map.empty
  private var knStaged: Map[Long, String] = Map.empty
  private var cfsv2Staged: Map[Long, String] = Map.empty

  /** Parquet-staged low-reuse KN corpus (len 120, vocab 2000 — the
    * kn_trigram_pruned_lowreuse shape) for scale points where the
    * adaptive machinery must see REAL input stats: staged files give
    * Catalyst the true volume, so both the bounded-build switch and
    * the model-exchange width derive from measurements instead of the
    * in-memory range plan's far-undersized string estimates. */
  private def stagedKnCorpus(
      sp: SparkSession, n: Long): (DataFrame, Long) = {
    val dir = synchronized {
      knStaged.getOrElse(n, {
        val path = Staging.scratchDir("graft_stress_kn_")
        corpus(sp, n, 120, 2000).select("id", "text")
          .write.mode("overwrite").parquet(path.toString)
        knStaged += (n -> path.toString)
        path.toString
      })
    }
    (sp.read.parquet(dir), n)
  }
  private def stagedEntropyCorpus(
      sp: SparkSession, n: Long): (DataFrame, Long) = {
    val dir = synchronized {
      entropyStaged.getOrElse(n, {
        val path = Staging.scratchDir("graft_stress_entropy_")
        corpus(sp, n, 200, 2000).write.mode("overwrite")
          .parquet(path.toString)
        entropyStaged += (n -> path.toString)
        path.toString
      })
    }
    (sp.read.parquet(dir), n)
  }

  /** Stage a q100-shaped CFSv2 member grid (time, ens, i, j, lon,
    * lat, tmmx, tmmn, pr, sph) as MULTI-ROW-GROUP parquet: 16 MiB row
    * groups so a 128 MiB scan split carries several row groups and the
    * scan's task count tracks the file layout, not the writer's
    * partition count — the layout a real multi-day CFSv2 staging
    * produces, vs the bench fixture's single-row-group single file
    * whose scan is unsplittable by construction. */
  private def stagedCfsv2Grid(
      sp: SparkSession, rows: Long): DataFrame = {
    val dir = synchronized {
      cfsv2Staged.getOrElse(rows, {
        val path = Staging.scratchDir("graft_stress_cfsv2_")
        val cells = 250L; val ens = 4
        val days = math.max(2, (rows / (cells * ens)).toInt)
        raster(sp, cells, days, dup = 1, ens = ens, width = 25)
          .select(col("time"), col("ens"), col("i"), col("j"),
            (col("i") * 0.5).as("lon"), (col("j") * 0.5).as("lat"),
            coalesce(col("tmmx"), lit(273.15)).as("tmmx"),
            col("tmmn"), col("pr"), (col("pr") / lit(100.0)).as("sph"))
          .coalesce(4)
          .write.mode("overwrite")
          .option("parquet.block.size", (16 * 1024 * 1024).toString)
          .parquet(path.toString)
        cfsv2Staged += (rows -> path.toString)
        path.toString
      })
    }
    sp.read.parquet(dir)
  }

  /** Event-time base and span shared by [[events]] and
    * [[stageTimeSlicedEvents]] — the slicer's filter bounds MUST be the
    * generator's, or slice 0's lower bound silently drops rows from the
    * staged stream while input_rows still reports the full count. */
  private val EventEpochUs = 1600000000L * 1000000L
  private val StreamDays = 30

  /** Synthetic event stream: `n` events over `users` users spanning
    * `days` days; per-user inter-event gaps alternate under/over the
    * 30-min session threshold. Columns: (user_id, ts, event_id,
    * value, event_type). */
  private def events(spark: SparkSession, n: Long, users: Long, days: Int): DataFrame = {
    val spanUs = days.toLong * 86400L * 1000000L
    spark.range(n).select(
      pmod(col("id"), lit(users)).as("user_id"),
      // hash-scatter events over the span: per-user order and gaps are
      // pseudo-random, which exercises both session splits and merges
      timestamp_micros(lit(EventEpochUs) +
        pmod(hash(col("id")).cast("long") * 1000003L, lit(spanUs))).as("ts"),
      col("id").as("event_id"),
      (pmod(hash(col("id"), lit(7)), lit(1000)) / lit(100.0)).as("value"),
      when(pmod(col("id"), lit(100)) === 0, lit("error"))
        .otherwise(lit("view")).as("event_type"))
  }

  /** Stage `n` generated events as time-ordered source files for the
    * streaming scenarios (shared by every `*_stream` row that reads
    * events, so their source shapes cannot drift):
    * 20 equal-width time slices at full scale, one file each, staged
    * as a drop-box — FileStreamSource orders by modification time, so
    * arrival order = event-time order and watermark progress is
    * monotone across micro-batches. Returns (sourceDir, checkpointDir,
    * files). */
  private def stageTimeSlicedEvents(
      sp: SparkSession, n: Long): (String, String, Int) = {
    val users = math.max(100L, n / 50)
    val dir = Staging.scratchDir("graft_stress_stream_")
    val ckpt = Staging.scratchDir("graft_stress_ckpt_")
    val files = if (n >= 1000000L) 20 else 4
    val sliceUs = StreamDays.toLong * 86400L * 1000000L / files
    // slice 0 takes the catch-all LOWER bound and the last slice the
    // catch-all upper one: bounds derive from the same constants
    // events() generates with, but open edges make row loss
    // structurally impossible either way
    val slice = least(greatest(
      floor((unix_micros(col("ts")) - lit(EventEpochUs)) / lit(sliceUs)),
      lit(0L)), lit(files - 1L))
    Staging.stageDropBox(dir,
      events(sp, n, users, days = StreamDays)
        .withColumn("__slice", slice).repartition(col("__slice")),
      "__slice", "events")
    (dir.toString, ckpt.toString, files)
  }

  /** gridmet-shaped raster: `cells` (i,j) cells × `days` timesteps ×
    * `dup` rows per cell (dup=1 = true raster), `ens` members.
    * 3 value columns; ~1/2000 of cells carry a null (the missing-cell
    * propagation path). */
  private def raster(
      spark: SparkSession, cells: Long, days: Int, dup: Int, ens: Int,
      width: Int): DataFrame = {
    val n = cells * days * dup * ens
    // Generate with parquet-scan-like split granularity (~128 MB ≈
    // 2.5M of these ~50 B rows per task), not defaultParallelism's 32
    // giant slices: a real 50 GB scan hands a map task a bounded
    // split, and the per-task group count of any downstream partial
    // aggregation (the preCombine path) is bounded the same way. The
    // 32-slice shape overstated pre-agg spill ~20× vs the realistic
    // scan shape.
    val parts = math.max(32L, n / 2500000L).min(2048L).toInt
    spark.range(0, n, 1, parts)
      .withColumn("cell", (col("id") / lit(days.toLong * dup * ens)).cast("long"))
      .withColumn("rest", pmod(col("id"), lit(days.toLong * dup * ens)))
      .select(
        pmod(col("cell"), lit(width)).as("i"),
        (col("cell") / lit(width)).cast("int").as("j"),
        timestamp_micros(lit(1600000000L * 1000000L) +
          (col("rest") / lit(dup.toLong * ens)).cast("long") * lit(86400L * 1000000L))
          .as("time"),
        pmod(col("rest"), lit(ens)).cast("int").as("ens"),
        when(pmod(hash(col("id")), lit(2000)) === 0, lit(null).cast("double"))
          .otherwise(pmod(hash(col("id"), lit(1)), lit(4000)) / lit(10.0) + 250.0)
          .as("tmmx"),
        (pmod(hash(col("id"), lit(2)), lit(4000)) / lit(10.0) + 240.0).as("tmmn"),
        (pmod(hash(col("id"), lit(3)), lit(500)) / lit(10.0)).as("pr"))
  }

  /** Weight table: `features` features × `cellsPerFeature` covered
    * cells hashed into the `width`×`height` grid, uniform weights.
    * Cells SCATTER independently — the adversarial layout for any
    * locality-based plan (each feature touches ~cellsPerFeature
    * distinct buckets/tiles). */
  private def weights(
      spark: SparkSession, features: Int, cellsPerFeature: Int,
      width: Int, height: Int): DataFrame =
    spark.range(features.toLong * cellsPerFeature).select(
      (col("id") / lit(cellsPerFeature)).cast("long").as("fid"),
      pmod(hash(col("id"), lit(11)), lit(width)).as("i"),
      pmod(hash(col("id"), lit(13)), lit(height)).as("j"),
      (lit(1.0) / lit(cellsPerFeature)).as("wght"))

  /** Weight table with REALISTIC compact footprints: each feature
    * covers a contiguous 4×3 cell rectangle at a hash-scattered
    * anchor — the reference weight map's shape (an HRU is a compact
    * watershed polygon, ~11 ADJACENT cells; `data/nhru_01a`), which is
    * what spatial-tile staging exploits. Same 12 cells/feature and
    * uniform weights as [[weights]], so the two bigweights scenarios
    * are size-identical and differ only in layout. */
  private def weightsCompact(
      spark: SparkSession, features: Int,
      width: Int, height: Int): DataFrame = {
    val aw = math.max(1, width - 4)
    val ah = math.max(1, height - 3)
    // scan-like split granularity (same reasoning as raster()): a real
    // weight TABLE arrives in bounded parquet splits, and the tile
    // exchange's writer buffers are sized by rows-per-map-task — the
    // 32-slice default hands each task 3.1M rows (~130 MB buffered),
    // which force-spills the sort-based shuffle writer at the 8 GiB
    // envelope even though the shuffle itself is small
    val parts = math.max(64L, features.toLong * 12 / 1000000L).min(2048L).toInt
    spark.range(0, features.toLong * 12, 1, parts).select(
      expr("id DIV 12").as("fid"),
      (pmod(hash(expr("id DIV 12"), lit(21)), lit(aw)) +
        expr("CAST(pmod(id, 12) % 4 AS INT)")).as("i"),
      (pmod(hash(expr("id DIV 12"), lit(23)), lit(ah)) +
        expr("CAST(pmod(id, 12) DIV 4 AS INT)")).as("j"),
      (lit(1.0) / lit(12)).as("wght"))
  }

  /** DROP the managed table and remove any stale on-disk location a
    * crashed prior run left behind (saveAsTable otherwise fails
    * LOCATION_ALREADY_EXISTS). The warehouse dir may be a URI
    * (file:/…) or a plain path — possibly with URI-illegal
    * characters — so try URI first, fall back to a filesystem path. */
  private def dropStaleManagedLocation(sp: SparkSession, table: String): Unit = {
    sp.sql(s"DROP TABLE IF EXISTS $table")
    val whDir = sp.conf.get("spark.sql.warehouse.dir")
    val whPath =
      try {
        val u = new java.net.URI(whDir)
        if (u.getPath != null && u.getPath.nonEmpty) u.getPath else whDir
      } catch { case _: java.net.URISyntaxException => whDir }
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(whPath, table))
  }

  def scenarios(scale: Double): Seq[Scenario] = {
    def s(n: Long): Long = math.max(1000L, (n * scale).toLong)
    val W = 1386; val H = 585 // the conus gridmet grid (BASELINE.md)
    // one conus raster plane = W × H cells; sub-0.1 scales shrink the
    // plane too (the day floor of 2 would otherwise pin tiny runs at
    // 1.6M+ rows, defeating StressSpec's fast-harness check)
    val cells = if (scale >= 0.1) 810810L
      else math.max(4096L, (810810L * scale * 10).toLong)
    Seq(
      Scenario("weighted_mean_raster", sp => {
        // full reference envelope at scale 1: 1345 days ≈ 1.09e9 cells
        val days = math.max(2, (s(810810L * 1345) / cells).toInt)
        val g = raster(sp, cells, days, dup = 1, ens = 1, width = W)
        (sink(graft.operators.WeightedMean(g.drop("ens"),
          weights(sp, 2462, 12, W, H), Seq("tmmx", "tmmn", "pr"))),
          cells * days)
      }),
      Scenario("weighted_mean_precombine", sp => {
        val days = math.max(2, (s(810810L * 10 * 4 * 8) / (cells * 4 * 8)).toInt)
        val g = raster(sp, cells, days, dup = 4, ens = 8, width = W)
        (sink(graft.operators.WeightedMean(g, weights(sp, 2462, 12, W, H),
          Seq("tmmx", "tmmn", "pr"), extraKeys = Seq("ens"), preCombine = true)),
          cells * days * 4 * 8)
      }),
      Scenario("weighted_mean_bigweights", sp => {
        // the ~100× feature scale-up where the weight broadcast breaks
        // (round-10 verdict: 10⁷ HRUs → ~10⁸ weight rows, gigabytes):
        // WeightJoin.SortMerge over an (i,j)-bucketed+sorted grid
        // staging — the grid side joins with ZERO exchange (weights
        // shuffle once into the bucket layout), the shape a 100 TB grid
        // forces. Staging happens in build (untimed); the timed action
        // runs the co-located join + final (fid,time) aggregation.
        val W2 = if (scale >= 0.1) 4386 else 1386 // 10× conus cells full-scale
        val cells2 = if (scale >= 0.1) W2.toLong * 1850
          else math.max(4096L, (810810L * scale * 10).toLong)
        val H2 = math.max(1L, cells2 / W2).toInt
        val feats = math.max(1000L, (8300000L * scale).toLong) // ×12 cells ≈ 1e8 rows
        val days = 4
        val g = raster(sp, cells2, days, dup = 1, ens = 1, width = W2).drop("ens")
        dropStaleManagedLocation(sp, "graft_stress_grid_buck")
        // 256 buckets: bucket count is the deployment knob that sizes
        // the per-task SMJ sort — 1e8 weight rows / 256 ≈ 390k rows
        // (~12 MB) per sort, which fits task memory at 32-way
        // concurrency (64 buckets ⇒ 1.6M-row sorts spilled ~7 GB)
        graft.sources.Staging.stageGrid(g, "graft_stress_grid_buck",
          partitionCols = Nil, bucketCols = Seq("i", "j"), buckets = 256)
        val staged = sp.table("graft_stress_grid_buck")
        val w = weights(sp, feats.toInt, 12, W2, H2)
        (sink(graft.operators.WeightedMean(staged, w, Seq("tmmx", "tmmn", "pr"),
          strategy = graft.operators.WeightJoin.SortMerge)),
          cells2 * days + feats * 12)
      }),
      Scenario("weighted_mean_bigweights_tiled", sp => {
        // round-11 ask #4, head-to-head with weighted_mean_bigweights
        // (same 1e8-row weight envelope, same grid, same bucket count):
        // COMPACT 4×3 footprints over a SPATIAL-TILE staging +
        // SortMergeTiled. Tile locality lets map-side partial
        // aggregation combine each feature's cells inside its tile
        // partition, so the aggregation exchange moves ~|features ×
        // tiles-touched| partial rows instead of bigweights' full raw-
        // join-row repartition (~12× fewer rows) with per-task agg
        // state bounded by features-per-tile — compare the two
        // scenarios' exchange-byte and spill columns.
        val W2 = if (scale >= 0.1) 4386 else 1386
        val cells2 = if (scale >= 0.1) W2.toLong * 1850
          else math.max(4096L, (810810L * scale * 10).toLong)
        val H2 = math.max(1L, cells2 / W2).toInt
        val feats = math.max(1000L, (8300000L * scale).toLong)
        val days = 4
        val g = raster(sp, cells2, days, dup = 1, ens = 1, width = W2).drop("ens")
        // the two tiled deployment confs (subset co-partitioning +
        // bucketed-scan sort order) are set by WeightedMean ITSELF when
        // the tiled strategy engages — at plan construction, inside the
        // timed action below — and restored by the restoringConfs wrap
        // so they cannot leak into later scenarios' measured plans
        dropStaleManagedLocation(sp, "graft_stress_grid_tiled")
        // 64×24-cell tiles: ≫ the footprint diameter (tiles-touched ≈
        // 1–2) and ~21 tiles/bucket at 256 buckets keeps the per-task
        // SMJ sort at the bigweights size (~390k weight rows)
        graft.sources.Staging.stageGridTiled(g, "graft_stress_grid_tiled",
          tileW = 64, tileH = 24, partitionCols = Nil, buckets = 256)
        val staged = sp.table("graft_stress_grid_tiled")
        val w = weightsCompact(sp, feats.toInt, W2, H2)
        (restoringConfs(sp, Seq(
          "spark.sql.requireAllClusterKeysForCoPartition",
          "spark.sql.legacy.bucketedTableScan.outputOrdering"))(
          sink(graft.operators.WeightedMean(staged, w,
            Seq("tmmx", "tmmn", "pr"),
            strategy = graft.operators.WeightJoin.SortMergeTiled(64, 24)))),
          cells2 * days + feats * 12)
      }),
      Scenario("daily_etl_catchup", sp => {
        // the month-of-downtime shape (round-12 verdict ask #4a): 30
        // staged day-files at the reference raster envelope (~811k
        // cells/day ⇒ ~24M rows at scale 1) arrive in ONE AvailableNow
        // catch-up batch through the incremental daily-ETL cadence —
        // gate consulted, day-atomicity ledger checked and appended,
        // every day's partition written whole via dynamic overwrite.
        // Measures that catch-up cost is ∝ the backlog (one
        // WeightedMean plan over the 30 planes) and that the per-day
        // commit machinery does not change the aggregation's
        // spill-free scale shape.
        val days = 30
        val W2 = 1386
        val cells = math.max(8192L, (811000L * scale).toLong)
        val feats = math.max(500, (2462 * scale).toInt)
        val drop = Staging.scratchDir("graft_stress_etl_drop_")
        val out = Staging.scratchDir("graft_stress_etl_out_")
        val ckpt = Staging.scratchDir("graft_stress_etl_ckpt_")
        // stage one file per day, ascending mtimes (the drop-box
        // contract: each day lands whole) — untimed build work
        val staged = Staging.stageDropBox(drop,
          raster(sp, cells, days, dup = 1, ens = 1, width = W2).drop("ens")
            .withColumn("__d", unix_date(to_date(col("time"))))
            .repartition(col("__d")),
          "__d", "day")
        require(staged.length == days, s"staged ${staged.length} days")
        val w = weights(sp, feats, 12, W2,
          math.max(1L, cells / W2).toInt)
        (() => withStatePartitions(sp) {
          graft.etl.IncrementalEtl.dailyWeightedMeanStream(sp,
              drop.toString, w, Seq("tmmx", "tmmn", "pr"), out.toString,
              maxFilesPerTrigger = None)
            .option("checkpointLocation", ckpt.toString)
            .start().awaitTermination()
        }, cells * days)
      }, streaming = true),
      Scenario("minhash_band_shuffle", sp => {
        val n = s(250000)
        (sink(graft.operators.Dedup.minhashLsh(
          corpus(sp, n, len = 120, vocab = 50000), "id", "text")), n)
      }),
      Scenario("ngram_jaccard_postings", sp => {
        val n = s(250000)
        (sink(graft.operators.Dedup.ngramJaccardPairs(
          corpus(sp, n, len = 120, vocab = 50000), "id", "text", "blk",
          n = 3, threshold = 0.8)), n)
      }),
      Scenario("span_dedup", sp => {
        // 30% of docs share a 20-token boilerplate run — the hot-gram
        // population for span detection
        val n = s(200000)
        val base = corpus(sp, n, len = 130, vocab = 50000)
        val boiler = (0 until 20).map(i => s"b$i").mkString(" ")
        val docs = base.withColumn("text",
          when(pmod(hash(col("id"), lit(31)), lit(10)) < 3,
            concat(col("text"), lit(" " + boiler))).otherwise(col("text")))
        (sink(graft.operators.Dedup.repeatedSpans(docs, "id", "text", n = 10)), n)
      }),
      Scenario("sessionize", sp => {
        val n = s(20000000)
        (sink(graft.streaming.EventPipeline.sessionize(
          events(sp, n, users = math.max(100L, n / 200), days = 30))), n)
      }),
      Scenario("proximity_join", sp => {
        val n = s(20000000)
        val ev = events(sp, n, users = math.max(100L, n / 200), days = 30)
        (sink(graft.operators.RangeJoin.proximityJoin(
          ev.filter(col("event_type") === "error")
            .select(col("event_id").as("l_id"), col("ts")),
          ev.select(col("event_id"), col("ts"), col("value")),
          "ts", "ts", radiusUs = 1000000L)), n)
      }),
      Scenario("hll_events", sp => {
        val n = s(100000000)
        (sink(events(sp, n, users = math.max(100L, n / 20), days = 30)
          .groupBy(window(col("ts"), "1 day").as("day"))
          .agg(graft.functions.HllDistinct.hll_distinct(
            xxhash64(col("user_id"))).as("approx_users"),
            count(lit(1)).as("n_events"))), n)
      }),
      Scenario("asof_join", sp => {
        // 10M probes as-of-joined to 5M reference rows over 100k keys:
        // the union + per-key running-last window (one exchange of
        // left+right). Probe:reference 2:1, the trade-analytics shape.
        val nL = s(10000000); val nR = nL / 2
        val users = math.max(100L, nL / 100)
        val l = events(sp, nL, users, days = 30)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        val r = events(sp, nR, users, days = 30)
          .select(col("user_id"), col("ts").as("rts"),
            col("event_id").as("ref_id"), col("value").as("ref_value"))
        (sink(graft.operators.AsofJoin.asofBackward(l, r, Seq("user_id"),
          "ts", "rts", tieBreak = "ref_id")), nL + nR)
      }),
      Scenario("dup_clusters", sp => {
        // hash-min label propagation over 1.6M pair edges / 2M
        // vertices in 5-cliques (star edges to the cluster rep —
        // diameter 2, the LSH dup-group shape)
        val nV = s(2000000)
        val docs = sp.range(nV).select(col("id").as("doc_id"))
        val pairs = sp.range(nV).filter(pmod(col("id"), lit(5)) =!= 0)
          .select((col("id") - pmod(col("id"), lit(5))).as("a_id"),
            col("id").as("b_id"))
        (sink(graft.operators.Dedup.duplicateClusters(docs, "doc_id", pairs)),
          nV)
      }),
      Scenario("ivf_search", sp => {
        // 1M × 64-dim corpus, quantizer trained on a 1/16 id-sample,
        // 64 queries probing 8/64 lists — assignment is a zero-shuffle
        // map against literal centroids; the exchange is the per-query
        // top-k only
        val n = s(1000000)
        def vecs(tbl: org.apache.spark.sql.DataFrame) = tbl.select(
          col("id").as("vec_id"),
          expr("transform(sequence(0, 63), " +
            "i -> cast(pmod(hash(id, i), 1000) / 500.0 - 1.0 as float))")
            .as("embedding"))
        val corpus = vecs(sp.range(n).toDF())
        val queries = vecs(sp.range(64).select((col("id") * 37 + 5).as("id")))
        (sink(graft.operators.Similarity.ivfTopK(corpus, queries, k = 10,
          nLists = 64, nProbe = 8, trainSampleMod = 16)), n)
      }),
      Scenario("token_packing", sp => {
        // 250k docs × 256 tokens → 2048-token chunks over 64 shards:
        // the one inherent exchange moves every token once as
        // document-bounded slices keyed (shard, chunk)
        val n = s(250000)
        val docs = sp.range(n).select(col("id").as("doc_id"),
          expr("transform(sequence(0, 255), " +
            "i -> cast(pmod(hash(id, i), 50000) as int))").as("ids"))
        (sink(graft.operators.Packing.packTokenChunks(docs, col("doc_id"),
          col("ids"), contextLen = 2048, nShards = 64)), n)
      }),
      Scenario("nn_argmin_binned", sp => {
        // 1M missing × 5M donors scattered over [0,1000)² — 5e12 pairs,
        // structurally out of reach for the broadcast form; the binned
        // path probes ~9·density ≈ 180 candidates per point (cell 2.0 →
        // 20 donors/cell) and the sparse tail falls back exactly
        val nm = s(1000000); val nd = s(5000000)
        val mk = (n: Long, salt: Int) => sp.range(n).select(
          col("id").as("fid"),
          (pmod(hash(col("id"), lit(salt)), lit(1000000)) / lit(1000.0)).as("lat"),
          (pmod(hash(col("id"), lit(salt + 1)), lit(1000000)) / lit(1000.0)).as("lon"))
        (sink(graft.operators.FillMissing.nearestMappingBinned(
          mk(nm, 7), mk(nd, 23).select((col("fid") + lit(nm)).as("fid"),
            col("lat"), col("lon")), cellSize = 2.0)), nm + nd)
      }),
      Scenario("sessionize_eventtime_stream", sp => {
        // The flatMapGroupsWithState engine (the q114 operator:
        // EventTimeTimeout + gap-merge late-data handling) under a REAL
        // bounded stream: 5M events / 100k users arrive as time-ordered
        // source files, several files per micro-batch, so the per-user
        // open-session state crosses micro-batch boundaries through the
        // state store. Staging happens here in build (untimed; the
        // listener resets after build) — the timed action runs the
        // AvailableNow query to completion through the noop sink.
        // This measures SCALE.md's streaming claim: state is O(users),
        // not O(events), and throughput is state-store-bound, not
        // scan-bound. Closure is WATERMARK-driven, so the bounded run
        // stops by itself (shouldRunAnotherBatch follows watermark
        // advance).
        val n = s(5000000)
        val (dir, ckpt, files) = stageTimeSlicedEvents(sp, n)
        val writer = graft.streaming.EventPipeline
          .sessionizeEventTimeStream(sp, dir, gapMinutes = 30,
            delay = "1 hour",
            maxFilesPerTrigger = Some(math.max(1, files / 5)))
          .option("checkpointLocation", ckpt)
          .format("noop")
        (() => withStatePartitions(sp) {
          writer.start().awaitTermination() }, n)
      }, streaming = true),
      Scenario("windowed_agg_stream", sp => {
        // APPEND-mode KEYED tumbling windows — the q110/q111 deployment
        // shape at state volume: 5M events / 100k users over 30 days,
        // groupBy(window(ts, 1h), user_id). ~5M distinct (hour, user)
        // windows flow through the state store and each EMITS exactly
        // once when the watermark passes its end — this measures
        // watermark-eviction churn (insert + evict per window, state
        // bounded by the watermark lag, ~1 batch of windows), not
        // Complete-mode re-aggregation. Native AvailableNow
        // termination (watermark-only state, no timeout).
        val n = s(5000000)
        val (dir, ckpt, files) = stageTimeSlicedEvents(sp, n)
        val schema = sp.read.parquet(dir).schema
        val writer = graft.functions.EventTime.normalize(
            sp.readStream.schema(schema)
              .option("maxFilesPerTrigger", math.max(1, files / 5).toString)
              .parquet(dir), "ts")
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .format("noop")
        (() => withStatePartitions(sp) {
          writer.start().awaitTermination() }, n)
      }, streaming = true),
      Scenario("proximity_join_stream", sp => {
        // The STREAM-STREAM unkeyed interval join under a REAL bounded
        // stream: 5M events as 20 time-ordered files, several per
        // micro-batch, so both legs' join state crosses batch
        // boundaries. Unlike the O(users) session state, EVERY event
        // passes through both sides' state stores (insert, probe,
        // watermark-evict) — this measures that churn, the honest cost
        // of stream-stream joins, plus the ~50k-error × ±1s pair
        // output. Termination is native AvailableNow (watermark-only
        // state).
        val n = s(5000000)
        val (dir, ckpt, files) = stageTimeSlicedEvents(sp, n)
        val writer = graft.streaming.EventPipeline.proximityJoinStream(
            sp, dir, leftType = "error", radiusUs = 1000000L,
            maxFilesPerTrigger = Some(math.max(1, files / 5)))
          .option("checkpointLocation", ckpt)
          .format("noop")
        (() => withStatePartitions(sp) {
          writer.start().awaitTermination() }, n)
      }, streaming = true),
      Scenario("dedup_admit_stream", sp => {
        // STREAMING incremental-dedup admission at state volume — the
        // nightly-ingest deployment shape of the q86/q97/q107 family:
        // a 1M-doc prior corpus's persisted fingerprint table is the
        // admission state; 500k incoming docs (30% exact duplicates of
        // prior docs) arrive as a 10-file drop-box, one micro-batch
        // per file. Each batch anti-joins its ~50k docs against the
        // 1M-row state and appends admitted rows + their fingerprints
        // — measures that per-batch cost is the increment anti-join +
        // one state scan (12 B/row fingerprints, never the prior
        // TEXT), and that the state re-read stays spill-free as the
        // table grows across the run.
        val n = s(1000000)
        val inc = s(500000)
        // fingerprint table under a NOT-yet-existing child path: the
        // bootstrap admit must see "no state" (an existing empty dir
        // would read as state and fail schema inference)
        val state = Staging.scratchDir("graft_stress_admit_state_").resolve("fp")
        val out = Staging.scratchDir("graft_stress_admit_out_").resolve("out")
        val drop = Staging.scratchDir("graft_stress_admit_drop_")
        val ckpt = Staging.scratchDir("graft_stress_admit_ckpt_")
        // untimed build: bootstrap the fingerprint state from the
        // prior corpus (the "yesterday" batch admit), then stage the
        // increment as 10 id-ranged files with ascending mtimes —
        // duplicates clone a PRIOR doc's seed, so their fingerprints
        // hit state built batches (or a corpus) ago, never this file
        graft.operators.Dedup.admitIncrement(state.toString,
          corpus(sp, n, len = 40, vocab = 50000), "id", "text")
        val incr = sp.range(n, n + inc)
          .withColumn("seed", when(pmod(col("id"), lit(10)) < 3,
            pmod(col("id"), lit(n))).otherwise(col("id")))
          .withColumn("text", array_join(
            transform(sequence(lit(0), lit(39)),
              i => tok(col("seed"), i, 50000)), " "))
          .select(col("id"), col("text"))
        val per = (inc + 9) / 10
        Staging.stageDropBox(drop,
          incr.withColumn("__b", floor((col("id") - lit(n)) / lit(per)))
            .repartition(col("__b")),
          "__b", "inc")
        val writer = graft.streaming.EventPipeline.admitStream(sp,
            drop.toString, state.toString, out.toString, idCol = "id")
          .option("checkpointLocation", ckpt.toString)
        (() => withStatePartitions(sp) {
          writer.start().awaitTermination() }, inc)
      }, streaming = true),
      Scenario("training_order", sp => {
        // the q115/q122 seeded-permutation machinery at corpus-count
        // volume: 50M docs (uneven 5:2:1 source skew), quota-selected
        // to a 0.5/0.25/0.25 mix, through TWO epoch orders — four
        // two-level rank passes over the narrow (id, source, h)
        // metadata wire. Head-to-head with training_order_flat (the
        // identical plan under the naive per-source/per-shard
        // row_number windows): the flat form funnels each rank
        // through |sources|=3 and |shards|=8 reducer tasks — compare
        // wall and max_task_skew; results are bit-identical
        // (PackingSpec pins equality on random corpora).
        val n = s(50000000L)
        val d = sp.range(n).select(col("id").as("doc_id"),
          concat(lit("src"),
            when(pmod(col("id"), lit(8L)) < 5, lit(0L))
              .when(pmod(col("id"), lit(8L)) < 7, lit(1L))
              .otherwise(lit(2L)).cast("string")).as("source"))
        (restoringConfs(sp, Seq("spark.graft.pack.twoLevelRank"))(() => {
          // forced (not left to the adaptive size cut-over) so the
          // captured row pins the two-level form by construction
          sp.conf.set("spark.graft.pack.twoLevelRank", "true")
          sink(graft.operators.Packing.epochOrder(d, "doc_id", "source",
            seed = 7L, nShards = 8,
            mix = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25),
            epochs = 2))()
        }), n * 2)
      }),
      Scenario("training_order_flat", sp => {
        val n = s(50000000L)
        val d = sp.range(n).select(col("id").as("doc_id"),
          concat(lit("src"),
            when(pmod(col("id"), lit(8L)) < 5, lit(0L))
              .when(pmod(col("id"), lit(8L)) < 7, lit(1L))
              .otherwise(lit(2L)).cast("string")).as("source"))
        (restoringConfs(sp, Seq("spark.graft.pack.twoLevelRank"))(() => {
          // conf read at PLAN CONSTRUCTION (inside sink's by-name
          // plan), so it must be set inside the timed act, before
          // construction — and restored by the restoringConfs wrap
          sp.conf.set("spark.graft.pack.twoLevelRank", "false")
          sink(graft.operators.Packing.epochOrder(d, "doc_id", "source",
            seed = 7L, nShards = 8,
            mix = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25),
            epochs = 2))()
        }), n * 2)
      }),
      Scenario("binpack_by_length", sp => {
        // q124's SFT layout at corpus volume: 50M docs, lengths 1..2400
        // against a 2048 context (~15% truncated — the one hot length
        // class a real SFT corpus has), through the forced two-level
        // rank — the corpus-sized wire is the narrow (id, len, h)
        // metadata; the bin-offset side table stays ≤ nShards·ctx rows.
        val n = s(50000000L)
        val d = sp.range(n).select(col("id"),
          (pmod(col("id") * 37L, lit(2400L)) + 1L).as("n_tokens"))
        (restoringConfs(sp, Seq("spark.graft.pack.twoLevelRank"))(() => {
          sp.conf.set("spark.graft.pack.twoLevelRank", "true")
          sink(graft.operators.Packing.binPackByLength(d, col("id"),
            col("n_tokens"), contextLen = 2048, nShards = 16, seed = 7L))()
        }), n)
      }),
      Scenario("bpe_train", sp => {
        // q130's trainer at corpus volume: 2M docs × 100 tokens (200M
        // word occurrences) through ONE corpus-pass word count, then
        // 16 merge rounds over the vocabulary-sized (~65k-row)
        // distinct-word table — the corpus cost is the first
        // aggregate; each round is a tiny argmax + narrow replace.
        val n = s(2000000L)
        val d = corpus(sp, n, len = 100, vocab = 65536)
        (() => {
          val m = graft.operators.BpeTrain.trainMerges(d, "text", 16)
          require(m.count() == 16L, "bpe_train: expected 16 merges")
        }, n * 100)
      }),
      Scenario("token_budget_select", sp => {
        // q126's best-B-tokens selection at corpus volume: 100M docs
        // whose scores span the FULL 10^6 quantization range (the
        // worst case for the block-aggregate side table — every block
        // occupied) with ~100 ties per block; budget = ~half the
        // corpus tokens. The corpus-sized exchanges are one block
        // aggregate + one block-partitioned window over narrow rows.
        val n = s(100000000L)
        val d = sp.range(n).select(col("id"),
          (pmod(col("id") * 37L, lit(1000001L)).cast("double") / 1e6)
            .as("score"),
          (pmod(col("id") * 13L, lit(40L)) + 1L).as("n_tokens"))
        (sink(graft.operators.Sampling.selectByTokenBudget(
          d, col("id"), col("score"), col("n_tokens"),
          budget = math.max(1L, n / 2 * 20))), n)
      }),
      Scenario("curate_kernels", sp => {
        // q132+q131 fused at corpus volume: 2M ~1 KB HTML pages
        // through HtmlExtract composed INTO the Gopher gate — one
        // scan-side projection chain, zero exchange; the wall clock IS
        // the two kernels' throughput.
        val n = s(2000000L)
        val d = corpus(sp, n, len = 120, vocab = 50000)
        val html = concat(lit("<html><head><title>D"),
          col("id").cast("string"),
          lit("</title><style>p{c:1}</style>" +
            "<script>if(1<2){t()}</script></head><body><h1>H</h1><p>"),
          col("text"),
          lit("</p><div>f &amp; g</div></body></html>"))
        (sink(graft.operators.Corpus.gopherQualityGate(
          d.withColumn("html", html), col("id"),
          graft.functions.QualityKernels.html_extract(col("html")))), n)
      }),
      Scenario("url_dedup", sp => {
        // q134 at crawl volume: 50M messy URLs canonicalized scan-side,
        // then the cluster aggregate — the only exchange is the narrow
        // (id, canon_url) rows into a map-side-combinable hash agg.
        val n = s(50000000L)
        val urls = sp.range(n).select(col("id"),
          concat(lit("HTTP://Site"),
            pmod(col("id"), lit(1000)).cast("string"),
            lit(".COM:80/p/"),
            pmod(col("id"), lit(100000)).cast("string"),
            lit("?utm_source=x&b="), pmod(col("id"), lit(7)).cast("string"),
            lit("&a="), pmod(col("id"), lit(3)).cast("string"),
            lit("#f")).as("url"))
        (sink(graft.operators.Corpus.urlDupClusters(
          urls, col("id"), col("url"))), n)
      }),
      Scenario("per_host_cap", sp => {
        // q138 at crawl volume with the crawl's defining pathology:
        // 10M docs where ONE host owns 30% of the corpus (3M pages)
        // and the rest spread over 100k small hosts. The single-window
        // form funnels the megahost through one reducer task; the
        // two-level form (engaged here by the Catalyst size estimate)
        // spreads it over `blocks` per-(host, id-hash-block) windows
        // and ranks only the ≤ cap·blocks survivors. Pass = zero
        // spill, byte skew near 1, results identical (UrlKernelsSpec
        // pins parity).
        val n = s(10000000L)
        val urls = sp.range(n).select(col("id"),
          concat(lit("HTTP://"),
            when(pmod(col("id"), lit(10)) < 3, lit("Mega-Host"))
              .otherwise(concat(lit("site"),
                pmod(hash(col("id")), lit(100000)).cast("string"))),
            lit(".COM:80/p/"), col("id").cast("string"),
            lit("?utm_source=x")).as("url"))
        // the form is FORCED here: an in-memory Range fixture's
        // Catalyst size estimate (~8 B/row) undershoots the 256 MB
        // threshold that the same 10M-row crawl read from parquet
        // crosses — the scenario exists to measure the two-level
        // form, not the estimator. (Byte columns can't see this
        // megahost either way: 3M identical host strings compress
        // ~50×, so watch spill + task durations.)
        val act = restoringConfs(sp,
          Seq("spark.graft.corpus.twoLevelHostCap")) { () =>
          sp.conf.set("spark.graft.corpus.twoLevelHostCap", "true")
          sink(graft.operators.Corpus.perHostCap(
            urls, col("id"), col("url"), cap = 3))()
        }
        (act, n)
      }),
      Scenario("in_context_order", sp => {
        // q164's layout at corpus volume: 10M docs over 100k clusters
        // with the honest pathology included — ONE megacluster owning
        // 30% of the corpus (a giant topic). The natural-blocks rank
        // spreads everything else across cluster-count parallelism;
        // the megacluster bounds one reducer at its own size (narrow
        // 32 B rows — documented bound, the IVF balance tripwire is
        // the upstream guard). Pass = zero spill, wall flat.
        val n = s(10000000L)
        val docs = sp.range(n).select(col("id"),
          when(pmod(col("id"), lit(10)) < 3, lit(0L))
            .otherwise(pmod(hash(col("id")), lit(100000)).cast("long") + 1L)
            .as("cl"))
        (sink(graft.operators.Packing.inContextOrder(
          docs, col("id"), col("cl"), seed = 7L, nShards = 8)), n)
      }),
      Scenario("classifier_train", sp => {
        // q147 training at corpus volume: 2M × 120-token docs through
        // the feature build (one explode + two narrow hash aggs,
        // checkpointed) + 8 full-batch GD steps, each ONE scalar
        // aggregate of 17 DECIMAL sums over the feature table. The
        // whole loop is the timed action (driver-looped jobs are the
        // operator's cost, the IVF-Lloyd convention).
        val n = s(2000000L)
        val d = corpus(sp, n, len = 120, vocab = 50000)
          .withColumn("label", pmod(hash(col("id")), lit(2)) === 0)
        (() => {
          val feats = graft.operators.Classifier.hashedFeatures(
            d, "id", "text", col("label"), dim = 16).localCheckpoint()
          graft.operators.Classifier.trainLogistic(
            feats, dim = 16, iters = 8, lr = 0.5)
          ()
        }, n)
      }),
      Scenario("classifier_train_sparse", sp => {
        // the fastText-realistic shape the dense scenario above cannot
        // reach: dim 2^18 over 1M × 120-token docs. Dense rows would
        // be 2 MB/doc (~2 TB checkpoint) and each GD step a
        // 2^18+1-column scalar agg; the sparse path stores ≤120
        // (j, x) pairs/doc (~1.5 GB) and each step is one explode into
        // a groupBy(j) whose map state is dim-bounded. Weights stay a
        // dim-double driver array riding the plan as a ~2 MB literal.
        // Pass = bounded task memory, no dim-scaled spill; parity with
        // dense is ClassifierSpec's bit-identity at small dims.
        val n = s(1000000L)
        val dim = 1 << 18
        val d = corpus(sp, n, len = 120, vocab = 50000)
          .withColumn("label", pmod(hash(col("id")), lit(2)) === 0)
        (() => {
          val feats = graft.operators.Classifier.hashedFeaturesSparse(
            d, "id", "text", col("label"), dim).localCheckpoint()
          graft.operators.Classifier.trainLogisticSparse(
            feats, dim, iters = 8, lr = 0.5)
          ()
        }, n)
      }),
      Scenario("cfsv2_scan_width", sp => {
        // round-18 verdict #6: the q100/q103 bench fixture is a
        // single-row-group 10.8 MB parquet whose scan is UNSPLITTABLE
        // — one task by construction — so "the scan is wide by
        // construction at 100 TB" was an assertion with no committed
        // evidence. This row stages the same grid shape as real
        // multi-row-group parquet at ~30× bench volume (~40M member
        // rows, 16 MiB row groups across 4 files) and runs the SAME
        // cfsv2Median pipeline: the scan parallelizes to the file
        // layout (tasks ≈ splits ≫ 1) and the downstream median →
        // area-weight → finalize aggregate runs unchanged — no
        // restructuring, no pre-scan exchange. Pass = completes with
        // bounded skew and 0 spill at a scan the fixture could never
        // spread.
        val n = s(40000000L)
        val g = stagedCfsv2Grid(sp, n)
        val features = sp.range(40).select(col("id").as("fid"),
          lit(0.0).as("minx"), lit(0.0).as("miny"),
          lit(12.5).as("maxx"), lit(5.0).as("maxy"))
        val w = weights(sp, 40, 12, 25, 10)
        val elev = sp.range(40).select(col("id").as("nhru"),
          (col("id") * 75.0).as("elev"))
        (sink(graft.etl.GridmetPipeline.cfsv2Median(g, w, features, elev)), n)
      }),
      Scenario("bradley_terry_joinform", sp => {
        // round-18 verdict #3: the MM fold's size gate must HAND OFF
        // to the distributed join iteration at large pair tables. At
        // scale 1 this is 2·10⁴ items × 2M games (≈ 1.9M undirected
        // pair types, |orient| ≈ 3.9M): rounds·|I|·|orient| ≈ 6·10¹¹
        // ≫ foldMaxOps (2²⁸), so btFoldSwitch engages the JOIN branch
        // on its own — no conf force. Pass = completes with bounded
        // task state and 0 spill where the fold form would put the
        // whole pair table in one row and 6·10¹¹ fold steps in one
        // task. (At StressSpec's tiny scale the gate picks the fold —
        // the handoff itself is what the scale-1 row witnesses.)
        val n = s(2000000L)
        val items = math.max(64L, (20000L * scale).toLong)
        val g = sp.range(n).select(
          pmod(hash(col("id")), lit(items)).cast("long").as("w"),
          pmod(hash(col("id") * 7 + 1), lit(items)).cast("long").as("l"))
          .filter(col("w") =!= col("l"))
        (sink(graft.operators.Classifier.bradleyTerry(
          g, col("w"), col("l"))), n)
      }),
      Scenario("paragraph_dedup", sp => {
        // q141 at corpus volume: 5M pages × 8 ~260 B paragraphs from a
        // pool 20× smaller (the scattered-boilerplate regime), staged
        // to parquet in build (the operator reads its corpus twice —
        // narrow election pass + rebuild pass — so the deployment cost
        // is two columnar scans, not two re-generations). The shipped
        // narrow election: content never rides the dedup window (zero
        // sort spill, fingerprint-sized window state); content crosses
        // the wire once, id-keyed.
        val (d, n) = stagedParagraphPages(sp, scale)
        (sink(graft.operators.Corpus.paragraphDedup(
          d, col("id"), col("page"))), n)
      }),
      Scenario("paragraph_dedup_flat", sp => {
        // the content-window form on IDENTICAL staged input: window
        // partitioned by the full paragraph STRING + groupBy-collect
        // rebuild. One scan, and duplicate colocation makes its
        // exchange compress well — but the window sorts/spills
        // CONTENT, and that state grows with paragraph length.
        import org.apache.spark.sql.expressions.Window
        val (d, n) = stagedParagraphPages(sp, scale)
        val paras = d
          .select(col("id"), posexplode(split(col("page"), "\n")))
          .select(col("id"), col("pos"), trim(col("col")).as("p"))
          .filter(length(col("p")) > 0)
        val kept = paras
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("p")).orderBy(col("id"), col("pos"))))
          .filter(col("rk") === 1)
        (sink(kept.groupBy(col("id"))
          .agg(array_join(transform(
              array_sort(collect_list(struct(col("pos"), col("p")))),
              s => s.getField("p")), "\n").as("clean_text"),
            count(lit(1)).as("n_kept"))), n)
      }),
      Scenario("wav_codec", sp => {
        // q133's codec seam at media volume: 1M × 2 KB clips synth'd,
        // RIFF-encoded and chunk-walk decoded per batch — ~4 GB through
        // the writer AND parser, all inside mapPartitions (no shuffle).
        val n = s(1000000L)
        import sp.implicits._
        val media = sp.range(n).map { id =>
          val bytes = new Array[Byte](2048)
          var x = id
          var k = 0
          while (k < bytes.length) {
            x = x * 6364136223846793005L + 1442695040888963407L
            bytes(k) = (x >>> 33).toByte
            k += 1
          }
          graft.operators.Multimodal.Media(id, "audio",
            graft.operators.Multimodal.WavCodec.encode(
              graft.operators.Multimodal.WavCodec.pcm16FromByteDeltas(bytes)),
            0, 0, 0)
        }
        (sink(graft.operators.Multimodal.mapDecodeWavBatches(media).toDF()), n)
      }),
      Scenario("ivf_assign", sp => {
        // q135 at ingest volume: 10M new 64-dim vectors routed to a
        // FROZEN 64-list quantizer (trained untimed in build — the
        // served-artifact model); the timed action is the pure
        // zero-shuffle assignment projection.
        val n = s(10000000L)
        def vecs(m: Long) = sp.range(m).select(col("id").as("vec_id"),
          expr("transform(sequence(0, 63), " +
            "i -> cast(pmod(hash(id, i), 1000) / 500.0 - 1.0 as float))")
            .as("embedding"))
        val index = graft.operators.Similarity.ivfIndex(
          vecs(math.max(1000L, n / 100)), nLists = 64, iters = 2)
        (sink(graft.operators.Similarity.ivfAssign(vecs(n), index)), n)
      }),
      Scenario("dsir_weights", sp => {
        // q148 at corpus volume: 2M × 120-token docs through the full
        // DSIR chain — one tokenize+explode to narrow (id,tgt,j,c)
        // rows, 4096-bucket stats, broadcast-λ scoring, Gumbel-max
        // top-200k. Nothing proportional to text bytes crosses an
        // exchange after the first reduce.
        val n = s(2000000L)
        val d = corpus(sp, n, len = 120, vocab = 50000)
          .withColumn("tgt", pmod(hash(col("id")), lit(5)) === 0)
        (sink(graft.operators.Dsir.resample(
          d, "id", "text", col("tgt"), dim = 4096,
          k = math.max(1000, (n / 10).toInt))), n)
      }),
      Scenario("prototype_prune", sp => {
        // q149 at corpus volume: 5M × 64-dim vectors against a FROZEN
        // 64-list quantizer (trained untimed — the served-artifact
        // model); timed = zero-shuffle assignment + |lists| percentile
        // bounds + broadcast cut. ~78k dist2 values per list through
        // the exact-percentile state (tripwire headroom measured).
        val n = s(5000000L)
        def vecs(m: Long) = sp.range(m).select(col("id").as("vec_id"),
          expr("transform(sequence(0, 63), " +
            "i -> cast(pmod(hash(id, i), 1000) / 500.0 - 1.0 as float))")
            .as("embedding"))
        val index = graft.operators.Similarity.ivfIndex(
          vecs(math.max(1000L, n / 100)), nLists = 64, iters = 2)
        (sink(graft.operators.Similarity.prototypePrune(
          vecs(n), index, keepFrac = 0.5)), n)
      }),
      Scenario("unigram_train", sp => {
        // q156 at corpus volume: 2M × 120-token docs (240M tokens)
        // through the full Viterbi-EM — the corpus is touched ONCE
        // (word counts); candidates + both EM rounds run over the
        // 50k-row distinct-word table with the score maps as bounded
        // driver artifacts (the driver-looped cost IS the operator's,
        // the IVF-Lloyd convention).
        val n = s(2000000L)
        val d = corpus(sp, n, len = 120, vocab = 50000)
        (() => {
          graft.operators.UnigramLm.trainUnigram(
            d, "text", maxPieceLen = 4, minCount = 2,
            maxVocab = 2000, iters = 2)
            .write.mode("overwrite").format("noop").save()
        }, n)
      }),
      Scenario("kneser_ney", sp => {
        // q151 at corpus volume: 1M × 120-token docs → 119M scored
        // pairs over a 2k vocab, so bigram TYPES (≤ 4M) ≪ pairs — the
        // Zipfian-reuse regime every natural corpus has and the one
        // the model tables' "vocab-bounded" premise is about (a
        // uniform 50k-vocab draw makes every bigram unique, which
        // stresses nothing but the pathological-corpus case). The
        // probe pays ONE (a,b)-keyed join against the finished
        // broadcast-decorated x-table.
        val n = s(1000000L)
        (sink(graft.operators.Corpus.knScore(
          corpus(sp, n, len = 120, vocab = 2000), "id", "text")), n)
      }),
      Scenario("kn_trigram", sp => {
        // q161 at corpus volume: the bigram lessons one order up —
        // 118M scored trigrams in the Zipfian-REUSE regime (types ≪
        // occurrences). The vocab is 200, not the bigram scenario's
        // 2000: the type space grows as vocab^ORDER, and a uniform 2k
        // vocab at order 3 (8e9 possible types) makes ~every trigram
        // occurrence a unique type — a corpus-sized "model" table
        // that pins the checkpoint (measured: OOM at 8 GiB), which
        // stresses only the pathological-uniform case no natural
        // corpus has (KenLM-class deployments additionally PRUNE
        // singleton n-grams for exactly this reason). At 200³ = 8M
        // possible types the table is ~15×-reused — the regime the
        // model-table premise is about. Repartition-first trigram
        // aggregate, derived tables at aggregate size, vocab-bounded
        // broadcasts, salted shuffle_hash probe. Pass = bounded
        // spill, no corpus-scale sort.
        val n = s(1000000L)
        (sink(graft.operators.Corpus.knTrigramScore(
          corpus(sp, n, len = 120, vocab = 200), "id", "text")), n)
      }),
      Scenario("kn_trigram_pruned", sp => {
        // the kn_trigram point under KenLM-parity singleton pruning
        // (minCount=2): the x-table drops all singleton trigram types
        // — the boundedness dial for low-reuse corpora — and pruned
        // occurrences pay the two bigram-type-keyed backoff joins.
        // Model-table sizes are printed from build (untimed) so the
        // row records how much the HAVING removed at this point.
        val n = s(1000000L)
        val d = corpus(sp, n, len = 120, vocab = 200)
        if (n >= 100000L) { // skip the side-count at spec scale
          val tri = d.selectExpr("split(text, ' ') AS t")
            .selectExpr("explode(transform(sequence(1, size(t) - 2), " +
              "i -> named_struct('a', element_at(t, i), 'b', " +
              "element_at(t, i + 1), 'c', element_at(t, i + 2)))) AS g")
            .repartition(col("g"))
            .groupBy("g").count()
          val total = tri.count()
          val kept = tri.filter(col("count") >= 2).count()
          println(s"[kn_trigram_pruned] trigram model rows: " +
            s"unpruned=$total pruned=$kept " +
            s"(${math.rint(10000.0 * kept / total) / 100}% kept)")
        }
        // pin the BOUNDED build (restored after): the synthetic range
        // corpus's Catalyst string estimates run far below its true
        // volume, so the adaptive default would pick the materialized
        // build; a 100 TB parquet scan's stats pick bounded on their own
        (restoringConfs(sp, Seq("spark.graft.kn.boundedBuild"))(() => {
          sp.conf.set("spark.graft.kn.boundedBuild", "true")
          graft.operators.Corpus.knTrigramScore(
              d, "id", "text", minCount = 2)
            .write.mode("overwrite").format("noop").save()
        }), n)
      }),
      Scenario("kn_trigram_pruned_lowreuse", sp => {
        // THE regime the pruning dial exists for: vocab 2000 at order
        // 3 (8e9 possible types) makes ~every trigram occurrence a
        // unique type — the corpus-sized model table that OOM'd the
        // unpruned form at 8 GiB (round-15 note). Under minCount=2
        // nothing corpus-sized materializes: the pruned x-table is
        // the ~1M repeated types, lower orders are bigram-type-
        // bounded (4M), and ~all occurrences take the backoff path's
        // two bigram-keyed joins. Pass = COMPLETES in the same
        // envelope, zero spill (the eager serialized checkpoints —
        // see the operator's build-structure note; 118M unique keys
        // over 128 partitions is ~140 MB of clustered agg state per
        // task, which fits ALONE but tipped 0-20 GB run-to-run when
        // sibling aggregate copies overlapped).
        val n = s(1000000L)
        (restoringConfs(sp, Seq("spark.graft.kn.boundedBuild"))(() => {
          sp.conf.set("spark.graft.kn.boundedBuild", "true")
          graft.operators.Corpus.knTrigramScore(
              corpus(sp, n, len = 120, vocab = 2000), "id", "text",
              minCount = 2)
            .write.mode("overwrite").format("noop").save()
        }), n)
      }),
      Scenario("kn_trigram_pruned_5m", sp => {
        // the lowreuse point at 5× — the scale proof the 1M row only
        // gestures at: 5M docs × 120 tokens, vocab 2000 (order-3 type
        // space 8e9 → ~96% of the 590M trigram occurrences are unique
        // types; pruning keeps the ~21M repeated ones). STAGED to
        // parquet so Catalyst sees the true ~1.9 GB: the bounded
        // switch engages ON ITS OWN (≥256 MiB threshold — no conf
        // pin), and the model-exchange sizing rule demands ~600-wide
        // aggregation, paid as 4 disjoint hash(a,b)-bucket passes
        // under the 200 bypass ceiling. The side-count records how
        // much the HAVING removed (the verdict ask: model table still
        // ~singleton-bounded at the second scale point). Pass = zero
        // spill, completes in the same 8 GiB envelope, wall ~linear
        // vs the 1M row.
        val (d, n) = stagedKnCorpus(sp, s(5000000L))
        // the side-count annotates MODEL SIZE — an input property, not
        // a run property — so warm-mode captures (which exist to
        // attribute skew) skip it rather than pay its scans twice
        val sideCount = n >= 100000L &&
          sys.env.getOrElse("SPARK_GRAFT_STRESS_WARMUP", "0") == "0"
        if (sideCount) {
          // side-count under the SAME bucket discipline the operator
          // uses — a single 128-wide count over 568M unique keys would
          // spill and pollute the row it exists to annotate. It runs
          // here in BUILD, so it is outside the timed window AND the
          // listener's metrics; its own wall is printed below so the
          // row's wall_sec is attributable to the operator alone.
          val sideT0 = System.nanoTime()
          val (w, p) = graft.operators.Corpus.exchangeWidthPlan(d, "kn")
          val tris = d.selectExpr("split(text, ' ') AS t")
            .selectExpr("explode(transform(sequence(1, size(t) - 2), " +
              "i -> named_struct('a', element_at(t, i), 'b', " +
              "element_at(t, i + 1), 'c', element_at(t, i + 2)))) AS g")
            .select(col("g.a").as("a"), col("g.b").as("b"),
              col("g.c").as("c"))
          var total = 0L
          var kept = 0L
          (0 until p).foreach { b =>
            val slice = if (p == 1) tris
              else tris.filter(pmod(xxhash64(col("a"), col("b")),
                lit(p.toLong)) === b)
            val row = slice
              .repartition(w, col("a"), col("b"), col("c"))
              .groupBy("a", "b", "c").count()
              .agg(count(lit(1)).as("t"),
                sum(when(col("count") >= 2, 1L).otherwise(0L)).as("k"))
              .head()
            total += row.getLong(0)
            kept += row.getLong(1)
          }
          println(s"[kn_trigram_pruned_5m] trigram model rows: " +
            s"unpruned=$total pruned=$kept " +
            s"(${math.rint(10000.0 * kept / total) / 100}% kept) " +
            s"side_count_wall_sec=${
              math.rint((System.nanoTime() - sideT0) / 1e7) / 100}")
        }
        (sink(graft.operators.Corpus.knTrigramScore(
          d, "id", "text", minCount = 2)), n)
      }, big = true),
      Scenario("kneser_ney_zipf", sp => {
        // the hot-bigram guard's target regime, which the uniform-
        // vocab scenario above cannot produce: 20% of tokens are ONE
        // head word, so the head bigram alone is ~4% of the 119M-pair
        // probe stream — ≈5× a mean reducer's share at 128 partitions,
        // the key-pinning shape of a real Zipf corpus ("of the").
        // knScore must detect it on the 1-in-8 sample and salt it over
        // 16 reducers; pass = max_byte_skew back near 1, zero spill,
        // and rows bit-identical to the unsalted plan (CorpusSpec pins
        // parity; this row measures the spread).
        val n = s(1000000L)
        val d = sp.range(n).withColumn("text",
          array_join(transform(sequence(lit(0), lit(119)), i =>
            when(pmod(hash(col("id"), i, lit(13)), lit(5)) === 0,
              lit("the")).otherwise(tok(col("id"), i, 2000))), " "))
          .select(col("id"), col("text"))
        (sink(graft.operators.Corpus.knScore(d, "id", "text")), n)
      }),
      Scenario("dpo_pack", sp => {
        // 2M preference pairs × (32 prompt + 48 + 48) = 256M tokens
        // through the twin-plane collator: a pure narrow map — pass =
        // ZERO shuffle bytes at any size (pair atomicity costs nothing
        // because both planes live in one row by construction)
        val n = s(2000000L)
        val ids = (salt: Int, len: Int) => expr(
          s"transform(sequence(0, ${len - 1}), " +
            s"i -> cast(pmod(hash(id, i, $salt), 50000) as int))")
        val pairs = sp.range(n).select(col("id"),
          ids(1, 32).as("p"), ids(2, 48).as("c"), ids(3, 48).as("r"))
        (sink(graft.operators.Packing.dpoPairPack(pairs, col("id"),
          col("p"), col("c"), col("r"), contextLen = 96, nShards = 64)),
          n)
      }),
      Scenario("ul2_mix", sp => {
        // 1M docs × 240 tokens through the three-denoiser mix: mode
        // split + R/X closed-form block corruption + S suffix cut are
        // all per-row array arithmetic — pass = zero shuffle
        val n = s(1000000L)
        val d = sp.range(n).select(col("id"),
          expr("transform(sequence(0, 239), " +
            "i -> cast(pmod(hash(id, i), 50000) as int))").as("ids"))
        (sink(graft.operators.Packing.ul2Mix(d, col("id"), col("ids"),
          seed = 7L)), n)
      }),
      Scenario("distinct_n", sp => {
        // 1M docs × 200 tokens (the entropy corpus): distinct-n's
        // (source, gram) aggregate is the one INHERENT corpus-scale
        // exchange of the round-15 additions — global distinctness
        // cannot stay doc-local. The wire carries 12 B/gram narrow
        // hash rows; map-side combine absorbs the Zipf head, the
        // mostly-distinct trigram tail shuffles once. Shuffle width is
        // now SELF-SIZED inside the operator (3 MiB of input stats per
        // partition — the round-16 three-point sweep at this exact
        // input: 128 partitions = 41.9 GB spill / 64.7 s; 192 = ZERO
        // spill / 45.8 s; 512 = 23.1 GB / 58.7 s past the bypass
        // ceiling), so NO scenario-level conf pin remains; the KMV
        // sketch (distinct_n_sketch, next row) is the 100× escape that
        // needs no dial at all. Pass = zero spill, skew ~1 (hash keys).
        val (d, n) = stagedEntropyCorpus(sp, s(1000000L))
        (sink(graft.operators.Corpus.distinctNgramRatios(
          d.withColumn("source",
            concat(lit("s"), pmod(col("id"), lit(20)).cast("string"))),
          "id", "text", "source")), n)
      }),
      Scenario("distinct_n_2m", sp => {
        // the SECOND scale point the self-sizing rule exists for:
        // 2.5M docs → ~1.57 GB of input stats → total width ~500 >
        // the 200 bypass-writer ceiling, so the operator SPLITS the
        // exchange into 3 disjoint gram-hash bucket passes of ≤200
        // partitions each (distinct counts add exactly across
        // disjoint buckets; each pass materializes eagerly at
        // |sources| rows so siblings never share the pool). Pass =
        // zero spill with NO conf pin anywhere — per-task state is
        // bounded by the rule at any corpus size.
        val (d, n) = stagedEntropyCorpus(sp, s(2500000L))
        (sink(graft.operators.Corpus.distinctNgramRatios(
          d.withColumn("source",
            concat(lit("s"), pmod(col("id"), lit(20)).cast("string"))),
          "id", "text", "source")), n)
      }),
      Scenario("distinct_n_sketch", sp => {
        // the SAME 1M-doc panel through the q183 KMV sketch: distinct
        // counting collapses to O(k) state per (source) group, so the
        // corpus-scale (source, gram) exchange — and its measured
        // 43.3 GB sort-agg spill — disappears entirely; the only wire
        // traffic is |tasks|·|sources|·k longs of partial sketches.
        // Pass = ~zero shuffle and ZERO spill at the exact panel's
        // own measurement point.
        val (d, n) = stagedEntropyCorpus(sp, s(1000000L))
        (sink(graft.operators.Corpus.distinctNgramRatiosSketch(
          d.withColumn("source",
            concat(lit("s"), pmod(col("id"), lit(20)).cast("string"))),
          "id", "text", "source")), n)
      }),
      Scenario("entropy_fold", sp => {
        // 1M docs × 200 tokens, vocab 2000, parquet-staged (see
        // stagedEntropyCorpus): the sorted-run fold keeps the per-doc
        // entropy computation doc-local — pass = zero shuffle;
        // entropy_flat below is the textbook two-exchange head-to-head
        // over the SAME staged files
        val (d, n) = stagedEntropyCorpus(sp, s(1000000L))
        (sink(graft.operators.Corpus.entropySignals(d, "id", "text")), n)
      }),
      Scenario("entropy_flat", sp => {
        // the explode → (doc,word) count → per-doc aggregate shape the
        // fold replaces: 200M word rows through TWO corpus-scale
        // exchanges for doc-local math (the measured foil, same
        // convention as training_order_flat / paragraph_dedup_flat)
        val (d, n) = stagedEntropyCorpus(sp, s(1000000L))
        val r6 = (c: org.apache.spark.sql.Column) =>
          graft.functions.TextFunctions.round6(c)
        val flat = d
          .select(col("id"), explode(filter(split(col("text"), " "),
            w => w =!= "")).as("w"))
          .groupBy("id", "w").agg(count(lit(1)).as("c"))
          .groupBy("id")
          .agg(sum("c").cast("long").as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(r6(col("c").cast("double") * log(col("c").cast("double")))
              .cast("decimal(28,6)")).as("s"))
          .select(col("id"), col("n_tokens"), col("n_types"),
            r6(col("n_types").cast("double") /
              col("n_tokens").cast("double")).as("ttr"),
            r6(log(col("n_tokens").cast("double")) -
              col("s").cast("double") / col("n_tokens").cast("double"))
              .as("entropy"))
        (sink(flat), n)
      }))
  }

  /** Run `body` with streaming-sized shuffle partitions. State-store
    * partitioning is a deployment parameter fixed at the checkpoint's
    * first batch, and each store partition pays a commit+snapshot per
    * micro-batch — so streaming scenarios size partitions to per-batch
    * STATE volume, not to the 4×-cores rule the batch scenarios use
    * for shuffle/agg state. Same RULE as the q105–q109 harness
    * (queries.StreamingQueries.withStreamShufflePartitions, which picks
    * 8 for its few-MB sf0.1 states); the stress streams carry ~10× that
    * state, hence 16. */
  private def withStatePartitions(sp: SparkSession, n: Int = 16)(
      body: => Unit): Unit = {
    val prev = sp.conf.get("spark.sql.shuffle.partitions")
    sp.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally sp.conf.set("spark.sql.shuffle.partitions", prev)
  }

  def main(args: Array[String]): Unit = {
    val scale = Sessions.envDouble("SPARK_GRAFT_STRESS_SCALE", 1.0)
    val cpus = Sessions.cores(32)
    val only = Sessions.envNames("SPARK_GRAFT_STRESS_ONLY",
      scenarios(scale).map(_.name))
    // Shuffle partitioning at stress scale follows the sizing rule the
    // 100 TB notes prescribe (SCALE.md): pick partition counts so
    // per-partition aggregate state fits task memory — 4× the core
    // count here (the bench keeps 32 for sf0.1, where 32 is already
    // oversized). parallelismFirst=false + an 8 MB advisory size stop
    // AQE from coalescing right back to one partition per core, which
    // would rebuild the oversized reducer state this rule exists to
    // avoid; small exchanges still coalesce to the advisory target.
    val spark = Sessions.create(s"local[$cpus]",
      Sessions.envInt("SPARK_GRAFT_STRESS_SHUFFLE", cpus * 4), Some("WARN"),
      Sessions.QuerySuite ++ Map(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
          sys.env.getOrElse("SPARK_GRAFT_STRESS_ADVISORY", "8m")))
    // recorded per scenario line so stress_out.json rows are
    // self-describing
    val stateStore =
      spark.conf.get("spark.sql.streaming.stateStore.providerClass") match {
        case SparkEntry.RocksDbProviderClass => "rocksdb"
        case p if p.endsWith(".HDFSBackedStateStoreProvider") => "hdfs"
        case p => p
      }
    // external-contention baseline: the run itself drives the 1-min
    // loadavg toward ~#cores once scenarios start, so only the
    // PRE-RUN reading separates "slow box" from "own work"
    val runStartLoad = Bench.loadavg().head
    val listener = new StressMetrics().attach(spark.sparkContext)
    // big scenarios (the ~19-min kn_trigram_pruned_5m scale point) are
    // STANDING rows of the suite, but a routine full run skips them
    // unless SPARK_GRAFT_STRESS_BIG=1 — naming one in STRESS_ONLY
    // always runs it (the isolated-capture path).
    val bigOn = sys.env.get("SPARK_GRAFT_STRESS_BIG").contains("1")
    val results = scenarios(scale)
      .filter(sc => only.map(_.contains(sc.name))
        .getOrElse(!sc.big || bigOn))
      .map { sc =>
        // drop the PREVIOUS scenario's pinned state before measuring:
        // localCheckpoint blocks stay cached for the life of the JVM,
        // so a checkpoint-heavy scenario silently shrinks every LATER
        // scenario's execution memory (measured: kn_trigram_pruned's
        // ~8M-row checkpoints ahead of kn_trigram_pruned_lowreuse
        // turned the latter's zero-spill plan into 20 GB of spill;
        // isolated, the same code spills nothing)
        spark.sqlContext.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(
          _.unpersist(blocking = true))
        // two GC cycles + a settle: shuffle FILES are freed by the
        // async ContextCleaner only after the ShuffleDependency weak
        // refs clear (often the second cycle) — round 16 added ~43 GB
        // of per-round shuffle writes and the accumulated /tmp
        // blockmgr dirs outran the cleaner, failing spill-file
        // creation mid-suite (FileNotFoundException on a blockmgr
        // temp file = ENOSPC here, not a missing dir)
        System.gc()
        Thread.sleep(1500)
        System.gc()
        Thread.sleep(1500)
        // build BEFORE the listener reset: streaming scenarios stage
        // their source files in build, and those untimed staging jobs
        // must not pollute the scenario's task metrics
        val (action, inputRows) = sc.build(spark)
        // SPARK_GRAFT_STRESS_WARMUP=N (default 0): N UNTIMED
        // invocations of the action before the measured one — the
        // steady-state measurement mode for the skew-attribution file.
        // A single local JVM pays C2 compilation of every generated
        // WholeStageCodegen class on the FIRST wave of each stage;
        // those cold tasks read as 2-3× CPU "skew" that no second
        // invocation reproduces (a cluster job past its first few
        // waves — or any long-running deployment — is always warm).
        // BATCH scenarios only — ENFORCED via Scenario.streaming: a
        // bounded stream's checkpoint would make repeat runs no-ops,
        // so a warmed streaming row would record a no-op wall time as
        // a real measurement.
        val warmups = if (sc.streaming) 0
          else Sessions.envInt("SPARK_GRAFT_STRESS_WARMUP", 0)
        (0 until warmups).foreach { _ =>
          action()
          spark.sqlContext.clearCache()
          System.gc(); Thread.sleep(1000)
        }
        if (warmups > 0) {
          // The warmup's shuffle files (tens of GB for the big
          // scenarios) are deleted ASYNCHRONOUSLY by the
          // ContextCleaner after the GC above; measuring while that
          // deletion I/O is in flight stalls the first measured
          // stages (observed on kn_trigram_pruned_5m: 84 s vs 27 s
          // steady-state on the first aggregate pass, wall >> CPU —
          // the warm row read WORSE than cold purely from its own
          // warmup's cleanup). Wait until free space under the
          // shuffle dir stops growing before the timed run.
          val dir = new java.io.File(spark.sparkContext.getConf
            .get("spark.local.dir", "/tmp"))
          var last = dir.getUsableSpace
          var stable = 0
          var waited = 0
          while (stable < 3 && waited < 180) {
            Thread.sleep(2000); waited += 2
            val free = dir.getUsableSpace
            if (free > last + (64L << 20)) { stable = 0; last = free }
            else stable += 1
          }
        }
        listener.reset()
        val t0 = System.nanoTime()
        action()
        val wall = (System.nanoTime() - t0) / 1e9
        val m = listener.snapshot()
        // 1-min loadavg at scenario END (self-load dominated) plus the
        // pre-run baseline: wall seconds on a shared box are only
        // interpretable next to the load they ran under (BENCHNOTES.md
        // documents ±30% machine-state swings); the byte/skew/spill
        // columns are load-invariant.
        val load = Bench.loadavg().head
        val line =
          s"""{"scenario":"${sc.name}","input_rows":$inputRows,""" +
          s""""state_store":"$stateStore","warmups":$warmups,""" +
          s""""loadavg":$load,"run_loadavg_start":$runStartLoad,""" +
          s""""wall_sec":${math.rint(wall * 100) / 100},""" +
          s""""rows_per_sec":${(inputRows / wall).toLong},""" +
          s""""shuffle_write_bytes":${m.shuffleWriteBytes},""" +
          s""""shuffle_read_bytes":${m.shuffleReadBytes},""" +
          s""""peak_stage_shuffle_write_bytes":${m.peakStageShuffleWriteBytes},""" +
          s""""spill_bytes":${m.spillBytes},""" +
          s""""peak_task_exec_mem":${m.peakTaskExecMem},""" +
          s""""max_task_skew":${math.rint(m.maxTaskSkew * 100) / 100},""" +
          // duration skew over stages whose MEDIAN task >= 1 s only:
          // the round-16 attribution showed the unfiltered column is
          // dominated by 150-700 ms-median stages where max/median is
          // scheduling granularity, not partitioning
          s""""max_task_skew_1s":${
            math.rint(m.maxTaskSkew1s * 100) / 100},""" +
          // CPU-time twin of the filtered skew: excludes GC pauses and
          // I/O/scheduler stalls, so wall≫cpu on byte-uniform stages
          // is stall variance, high cpu skew is real work imbalance
          s""""max_task_skew_1s_cpu":${
            math.rint(m.maxTaskSkew1sCpu * 100) / 100},""" +
          // bytes-based companion: max_task_skew is task DURATIONS and
          // inflates on a loaded box and on sub-second noise stages;
          // the byte distribution is the load-invariant partitioning
          // signal (StressMetrics.Snapshot.maxByteSkew) — read skew
          // claims off THIS column, durations off a quiet-box capture.
          s""""max_byte_skew":${math.rint(m.maxByteSkew * 100) / 100},""" +
          s""""jobs":${m.jobCount},"stages":${m.stageCount},"tasks":${m.taskCount},""" +
          s""""codegen_compiles":${m.codegenCompiles},""" +
          // the per-stage drill-down, so a capture diff can attribute a
          // scenario's spill or skew to a stage without a rerun
          s""""stage_rows":${m.stageRows.map(_.json).mkString("[", ",", "]")}}"""
        println(line)
        System.out.flush()
        line
      }
    val out = sys.env.getOrElse("SPARK_GRAFT_STRESS_OUT", "stress_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      results.mkString("[\n", ",\n", "\n]\n"))
    catch { case e: Throwable => System.err.println(s"[stress] write failed: $e") }
    spark.stop()
  }
}
