package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import graft.operators.{WeightedMean, FillMissing, EnsembleStats}
import graft.functions.Physics

/** End-to-end pipeline composition — the reference's three stages
  * (`initialize` → `run_weights` → `finalize` [→ `_fill_missing`],
  * `etl.py:589-791`) as ONE Spark DAG with no disk barriers
  * (SURVEY.md §3, §7.1).
  */
object GridmetPipeline {

  /** F2 — buffered-bbox spatial subset (`etl.py:307-340`): restrict the
    * grid to the features' total bounds ± one cell (buffer const
    * `etl.py:321`). In relational form the descending-lat slice order is
    * irrelevant; this is a pushed-down range predicate on (lon, lat). */
  def bboxSubset(grid: DataFrame, features: DataFrame, buffer: Double = 0.04167): DataFrame = {
    // cast → double: feature tables written by other engines may carry
    // DECIMAL bounds, which Row.getDouble would reject
    val b = features.agg(
      min(col("minx").cast("double")).as("minx"),
      min(col("miny").cast("double")).as("miny"),
      max(col("maxx").cast("double")).as("maxx"),
      max(col("maxy").cast("double")).as("maxy")).first()
    grid.filter(
      col("lon").between(b.getDouble(0) - buffer, b.getDouble(2) + buffer) &&
        col("lat").between(b.getDouble(1) - buffer, b.getDouble(3) + buffer))
  }

  /** F3 — time-range subset (`etl.py:407`, `etl.py:670`). The time
    * column is normalized first ([[graft.functions.EventTime]]): an
    * externally-staged grid may carry `time` as TIMESTAMP_NTZ, and the
    * comparison against TIMESTAMP literals must not depend on the
    * stager's physical encoding. `longNanos=false`: a LONG grid time
    * column is ambiguous (epoch-seconds? yyyymm?) — reinterpreting it
    * as nanos would silently filter everything out; let the
    * long-vs-timestamp comparison fail loudly instead. */
  def timeSubset(grid: DataFrame, start: String, end: String): DataFrame =
    graft.functions.EventTime.normalize(grid, Seq("time"), longNanos = false)
      .filter(col("time").between(lit(start).cast("timestamp"), lit(end).cast("timestamp")))

  /** Catalog-driven coordinate-name indirection (`etl.py:329-331`,
    * `etl.py:399-408`): staged grids keep whatever coordinate names the
    * remote dataset used; the catalog's T_name/X_name/Y_name say which
    * they are, and this normalizes them to the engine's canonical
    * time/lon/lat before the pipeline runs. No-op for names already
    * canonical. */
  def normalizeCoords(
      grid: DataFrame, tName: String, xName: String, yName: String): DataFrame = {
    // simultaneous rename (one select), not sequential withColumnRenamed:
    // catalogs can name coordinates crosswise (X_name="lat", Y_name="lon"),
    // where a step-by-step fold would collide mid-way and duplicate columns
    val renames = Seq(tName -> "time", xName -> "lon", yName -> "lat")
      .filter { case (from, to) => from != to && grid.columns.contains(from) }
      .toMap
    if (renames.isEmpty) grid
    else {
      val targets = renames.values.toSeq
      val kept = grid.columns.filterNot(renames.contains)
      val clash = kept.filter(targets.contains)
      require(clash.isEmpty,
        s"coordinate rename would collide with existing column(s) ${clash.mkString(",")}")
      grid.select(grid.columns.toIndexedSeq.map(c =>
        col(c).as(renames.getOrElse(c, c))): _*)
    }
  }

  /** [[normalizeCoords]] driven by a catalog row (S4/F1 completion):
    * takes the first record for `dataId` and reads its T_name/X_name/
    * Y_name fields. */
  def normalizeCoordsFromCatalog(
      grid: DataFrame, catalog: DataFrame, dataId: String): DataFrame = {
    val (t, x, y) = catalogCoords(catalog, dataId)
    normalizeCoords(grid, t, x, y)
  }

  /** The (T_name, X_name, Y_name) coordinate names of catalog record
    * `dataId`. A catalog can hold several records for one id; the
    * lowest (T_name, X_name, Y_name) wins, so the choice does not
    * depend on row or partition order. */
  def catalogCoords(catalog: DataFrame, dataId: String): (String, String, String) = {
    val row = catalog.filter(col("id") === dataId)
      .select(col("T_name"), col("X_name"), col("Y_name"))
      .orderBy(col("T_name"), col("X_name"), col("Y_name")).limit(1).collect()
    require(row.nonEmpty, s"catalog has no record for id=$dataId")
    (row(0).getString(0), row(0).getString(1), row(0).getString(2))
  }

  /** NN fill mapping for a finalized series — the genmap=True side of
    * `helper.py:43-77`: split on the probe var's first timestep, map
    * each missing feature to its nearest present donor. None when
    * nothing is missing (`helper.py:48-50`). Persist with
    * [[graft.sinks.Sinks.writeMappingCsv]] and reuse on later runs via
    * [[graft.sources.Sources.fillMappingCsv]] (genmap=False,
    * `helper.py:79`). */
  def fillMapping(
      out: DataFrame, features: DataFrame,
      probeVar: String = "tmax"): Option[DataFrame] = {
    val (miss, present) = FillMissing.splitMissing(
      out.withColumnRenamed("nhru", "fid"), probeVar)
    if (miss.isEmpty) None
    else {
      val missF = miss.join(features, "fid").select("fid", "lat", "lon")
      val presF = present.join(features, "fid").select("fid", "lat", "lon")
      Some(FillMissing.nearestMapping(missF, presF))
    }
  }

  private val owned =
    new scala.util.DynamicVariable[Option[mutable.Buffer[DataFrame]]](None)

  /** Run `body`, a pipeline together with the actions that consume its
    * output, then release every aggregate the pipeline cached inside
    * it. A plan the caller had cached before stays cached. */
  def releasingCaches[T](body: => T): T = {
    val cached = mutable.Buffer.empty[DataFrame]
    try owned.withValue(Some(cached))(body)
    finally cached.foreach(_.unpersist(blocking = false))
  }

  /** Reindex the aggregated series to the FULL feature × time (× ens)
    * domain: the weighted mean's inner join drops features whose weight
    * cells fall outside the (subset) grid, but the reference's output
    * array always contains every target feature, NaN-filled
    * (`gm_header.md:10` — nhru spans the whole geometry; AggGen builds
    * the dense feature×time array). The fill stage depends on those
    * all-null rows existing. Both sides are POST-aggregation (features ×
    * timesteps), far smaller than the data plane — a plain shuffle join.
    * (The preserved side of an outer join can't be the broadcast build
    * side; Spark ignores such a hint with a warning.) */
  private def reindex(
      agg: DataFrame, features: DataFrame, extraKeys: Seq[String]): DataFrame = {
    val keyCols = Seq("fid", "time") ++ extraKeys
    // The aggregated series feeds the plan 2–3 times (one distinct per
    // domain dimension + the outer join), and ReuseExchange cannot
    // unify the differing aggregates above it — without a barrier the
    // whole scan→join→agg subtree would run once PER REFERENCE.
    // persist(), NOT localCheckpoint(): both materialize once (the
    // CacheManager substitutes the InMemoryRelation under every
    // reference), but persist KEEPS LINEAGE — on a real cluster a lost
    // executor recomputes the partition instead of permanently failing
    // the job (checkpoint blocks have no recompute path). The
    // CacheManager holds the entry until it is unpersisted, so it is
    // registered with the enclosing [[releasingCaches]] scope, unless
    // the caller had already cached this plan. Post-aggregation size:
    // |features| × |timesteps| × |ens|, the small end of the DAG.
    val fresh = agg.storageLevel == StorageLevel.NONE
    val aggOnce = agg.persist(StorageLevel.MEMORY_AND_DISK)
    if (fresh) owned.value.foreach(_ += aggOnce)
    val domain = (Seq("time") ++ extraKeys)
      .foldLeft(features.select(col("fid"))) { (d, k) =>
        d.crossJoin(aggOnce.select(col(k)).distinct())
      }
    domain.join(aggOnce, keyCols, "left")
  }

  /** Full gridMET pipeline: subset → area-weighted mean (A1/A2) →
    * finalize (rename/units/humidity) → optional NN fill.
    *
    * @param grid     staged long-form grid (time, j, i, lat, lon, vars…)
    * @param weights  (fid, i, j, wght)
    * @param features (fid, lat, lon, minx..maxy) — bbox + NN centroids
    * @param partial  masked_mean when true (`--partial`)
    * @param fillMissing run the NN fill stage (`--fill-missing`)
    * @param mapping  pre-computed NN fill mapping (miss_fid, fill_fid,
    *                 distance) — the genmap=False reuse path
    *                 (`helper.py:79`); None derives it inline
    *                 (genmap=True, `etl.py:488`)
    */
  def gridmet(
      grid: DataFrame, weights: DataFrame, features: DataFrame,
      vars: Seq[String] = Seq("tmmx", "tmmn", "pr", "rmax", "rmin", "vs"),
      start: String, end: String,
      partial: Boolean = false, fillMissing: Boolean = false,
      preCombine: Boolean = false,
      mapping: Option[DataFrame] = None,
      strategy: graft.operators.WeightJoin =
        graft.operators.WeightJoin.Auto): DataFrame = {
    val subset = timeSubset(bboxSubset(grid, features), start, end)
    val agg = reindex(
      WeightedMean(subset, weights, vars, masked = partial,
        preCombine = preCombine, strategy = strategy),
      features, Nil)
    val out = Convert.gridmetFinalize(agg)
    if (!fillMissing) out
    else mapping.orElse(fillMapping(out, features)) match {
      case None => out // early-exit (`helper.py:48-50`)
      case Some(m) => applyFill(out, m)
    }
  }

  /** Apply an NN fill mapping to a finalized series (the J3 stage on
    * its own — lets callers that already hold the unfilled series fill
    * it without re-running the aggregation DAG). */
  def applyFill(out: DataFrame, mapping: DataFrame): DataFrame = {
    val outVars = Seq("tmax", "tmin", "prcp", "rhmax", "rhmin", "ws", "humidity")
      .filter(out.columns.contains)
    FillMissing.fillSeries(out.withColumnRenamed("nhru", "fid"), mapping, outVars)
      .withColumnRenamed("fid", "nhru")
  }

  /** CFSv2 method 1: per-cell 48-member ensemble median, then weighted
    * mean + finalize + RH from specific humidity (`etl.py:210-303`). */
  def cfsv2Median(
      grid: DataFrame, weights: DataFrame, features: DataFrame,
      elev: DataFrame,
      vars: Seq[String] = Seq("tmmx", "tmmn", "pr", "sph")): DataFrame = {
    val med = EnsembleStats.ensembleMedian(bboxSubset(grid, features), vars)
    val agg = reindex(WeightedMean(med, weights, vars), features, Nil)
    withRelativeHumidity(Convert.cfsv2Finalize(agg), elev)
  }

  /** CFSv2 method 2: all 48 members — `ens` stays a grouping key
    * end-to-end, replacing the reference's member loop + concat
    * (`etl.py:354-383`). */
  def cfsv2Ensemble(
      grid: DataFrame, weights: DataFrame, features: DataFrame,
      elev: DataFrame,
      vars: Seq[String] = Seq("tmmx", "tmmn", "pr", "sph"),
      preCombine: Boolean = false): DataFrame = {
    // preCombine: method 2 has no median stage collapsing the grid to
    // one row per cell first, so a grid with several rows per
    // (time, ens, i, j) multiplies the weight join by that factor —
    // pre-aggregating per cell bounds the join at |cells| × |weights
    // per cell|. Leave OFF for a true raster (one row per cell).
    val agg = reindex(
      WeightedMean(bboxSubset(grid, features), weights, vars,
        extraKeys = Seq("ens"), preCombine = preCombine),
      features, Seq("ens"))
    withRelativeHumidity(Convert.cfsv2Finalize(agg), elev)
  }

  /** C3/C4/C5 + J4: derive relative humidity from specific humidity,
    * elevation and the (already °C) temperature columns
    * (`helper.py:204-227` — reads tmax/tmin AFTER finalize, so converts
    * back to K for the physics). */
  private def withRelativeHumidity(ts: DataFrame, elev: DataFrame): DataFrame = {
    val joined = ts.join(broadcast(elev), "nhru")
    joined.withColumn("humidity",
        Physics.relativeHumidity(col("sph"),
          col("tmax") + lit(273.15), col("tmin") + lit(273.15), col("elev")))
      .drop("elev")
  }
}
