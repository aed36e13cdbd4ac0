package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.operators.{WeightedMean, FillMissing, EnsembleStats}
import graft.functions.Physics
import graft.sources.Sources

/** End-to-end pipeline composition — the reference's three stages
  * (`initialize` → `run_weights` → `finalize` [→ `_fill_missing`],
  * `etl.py:589-791`) as ONE Spark DAG with no disk barriers
  * (SURVEY.md §3, §7.1).
  */
object GridmetPipeline {

  /** F2 — buffered-bbox spatial subset (`etl.py:307-340`): restrict the
    * grid to the features' total bounds ± one cell (buffer const
    * `etl.py:321`). In relational form the descending-lat slice order is
    * irrelevant; this is a pushed-down range predicate on (lon, lat).
    * The bounds come from the driver-side [[Sources.featureTable]]. */
  def bboxSubset(grid: DataFrame, features: DataFrame, buffer: Double = BboxBuffer): DataFrame =
    withinBounds(grid, Sources.featureTable(features), buffer)

  /** One grid cell in degrees (`etl.py:321`). */
  private val BboxBuffer = 0.04167

  /** [[bboxSubset]] on a feature table already on the driver. The
    * bounds are cast to double as they are collected: feature tables
    * written by other engines may carry DECIMAL bounds. */
  private def withinBounds(grid: DataFrame, table: Sources.FeatureTable, buffer: Double): DataFrame = {
    val b = table.bounds.getOrElse(throw new IllegalArgumentException(
      "the bbox subset needs the features' minx, miny, maxx and maxy columns"))
    grid.filter(
      col("lon").between(b.minx - buffer, b.maxx + buffer) &&
        col("lat").between(b.miny - buffer, b.maxy + buffer))
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
    * `helper.py:79`). [[gridmet]] derives the same mapping from its
    * persisted aggregate, at the first day of its driver-side time axis;
    * this entry point, given only the series, finds that day with one
    * aggregation and splits on the series' slice there. */
  def fillMapping(
      out: DataFrame, features: DataFrame,
      probeVar: String = "tmax"): Option[DataFrame] =
    Option(out.agg(min(col("time"))).first().get(0)).flatMap { t0 =>
      val (miss, present) = out.filter(col("time") === lit(t0))
        .select(col("nhru").cast(LongType), col(probeVar).isNull)
        .collect().toSeq.partition(_.getBoolean(1))
      nearest(miss.map(_.getLong(0)), present.map(_.getLong(0)), Sources.centroids(features))
    }.map(mappingTable(out.sparkSession, _))

  /** The NN mapping of the `miss` fids to the `present` ones, on the
    * driver ([[FillMissing.nearestMappingLocal]]): both sides take their
    * coordinates from the driver-side `centroids` (read only when
    * something is missing; a fid without one drops out). Returns the
    * |missing| (miss_fid, fill_fid, distance) rows in miss_fid order,
    * or None when nothing is missing. */
  private def nearest(
      miss: Seq[Long], present: Seq[Long],
      centroids: => Map[Long, (Double, Double)]): Option[Seq[(Long, Long, Double)]] =
    if (miss.isEmpty) None
    else {
      val at = centroids
      def coords(fids: Seq[Long]): Seq[(Long, Double, Double)] =
        fids.flatMap(f => at.get(f).map { case (lat, lon) => (f, lat, lon) })
      Some(FillMissing.nearestMappingLocal(coords(miss), coords(present)))
    }

  /** The fill path's t0 split of the `fids`, (missing, present), from
    * ONE collect over the persisted aggregate: a feature is present when
    * its aggregate row at `t0` has a non-null tmmx (tmax before the
    * finalize, which only shifts it), and missing otherwise, which
    * includes the features the weighted mean left out: the dense series
    * holds those as all-null rows. */
  private def splitAt(aggOnce: DataFrame, t0: Any, fids: Seq[Long]): (Seq[Long], Seq[Long]) = {
    val present = aggOnce.filter(col("time") === lit(t0) && col("tmmx").isNotNull)
      .select(col("fid")).collect().map(_.getLong(0)).toSet
    fids.partition(f => !present(f))
  }

  /** Mapping rows as a local table in the mapping CSV's schema. */
  private def mappingTable(
      spark: org.apache.spark.sql.SparkSession, rows: Seq[(Long, Long, Double)]): DataFrame =
    spark.createDataFrame(rows.map(Row.fromTuple).asJava, Sources.FillMappingSchema)

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

  /** persist(), NOT localCheckpoint(): both materialize once (the
    * CacheManager substitutes the InMemoryRelation under every
    * reference), but persist KEEPS LINEAGE — on a real cluster a lost
    * executor recomputes the partition instead of permanently failing
    * the job (checkpoint blocks have no recompute path). The
    * CacheManager holds the entry until it is unpersisted, so it is
    * registered with the enclosing [[releasingCaches]] scope, unless
    * the caller had already cached this plan. */
  private def persistOwned(df: DataFrame): DataFrame = {
    val fresh = df.storageLevel == StorageLevel.NONE
    val once = df.persist(StorageLevel.MEMORY_AND_DISK)
    if (fresh) owned.value.foreach(_ += once)
    once
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
    * side; Spark ignores such a hint with a warning.) The aggregate
    * feeds the plan once per domain axis plus the outer join, so it is
    * persisted ([[persistOwned]]). Post-aggregation size: |features| ×
    * |timesteps| × |ens|, the small end of the DAG. */
  private def reindex(
      agg: DataFrame, features: DataFrame, extraKeys: Seq[String]): DataFrame = {
    val aggOnce = persistOwned(agg)
    val domain = (Seq("time") ++ extraKeys)
      .foldLeft(features.select(col("fid"))) { (d, k) =>
        d.crossJoin(aggOnce.select(col(k)).distinct())
      }
    domain.join(aggOnce, Seq("fid", "time") ++ extraKeys, "left")
  }

  /** [[reindex]] for the fill path, whose t0 probe needs the time axis
    * on the driver: the aggregate is persisted ([[persistOwned]]) and
    * its |days| timestamps are collected in ONE aggregation, which
    * materializes it. Without a driver-side consumer of the axis, the
    * in-plan domain of [[reindex]] saves that action (measured on
    * `cfsv2_region`). Returns the persisted aggregate and its sorted
    * time axis. */
  private def withTimeAxis(agg: DataFrame): (DataFrame, Seq[Any]) = {
    val aggOnce = persistOwned(agg)
    (aggOnce, aggOnce.agg(array_sort(collect_set(col("time")))).first().getSeq[Any](0))
  }

  /** The dense feature × `times` series over the aggregate, with the
    * axis joined back as a local table. A feature in `donorOf` reads its
    * donor's aggregate rows instead of its own: the NN fill (J3) as a
    * key substitution on the |features|-row domain, before the join, so
    * the series is built once and never scanned twice. Null-safe keys
    * spare the aggregate's build side a null-filter pass; they match the
    * same rows as `===` but for a null feature id, which no valid
    * feature or weight table holds (the axis has no null time). */
  private def denseOnAxis(
      aggOnce: DataFrame, features: DataFrame, times: Seq[Any],
      donorOf: Map[Long, Long]): DataFrame = {
    val axis = aggOnce.sparkSession.createDataFrame(times.map(Row(_)).asJava,
      StructType(Seq(aggOnce.schema("time"))))
    val src =
      if (donorOf.isEmpty) col("fid")
      else coalesce(element_at(typedLit(donorOf), col("fid").cast(LongType)), col("fid"))
    val domain = features.select(col("fid"), src.as("__src")).crossJoin(axis)
    domain.join(aggOnce,
      domain("__src") <=> aggOnce("fid") && domain("time") <=> aggOnce("time"), "left")
      .select(domain("fid") +: domain("time") +:
        aggOnce.columns.filterNot(Set("fid", "time")).toSeq.map(aggOnce(_)): _*)
  }

  /** Full gridMET pipeline: subset → area-weighted mean (A1/A2) →
    * finalize (rename/units/humidity) → optional NN fill. The series
    * alone; [[gridmetWithMapping]] also returns the mapping it derived.
    * The call persists the aggregate, which stays cached until
    * released, so run it and the actions on its output inside
    * [[releasingCaches]].
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
        graft.operators.WeightJoin.Auto): DataFrame =
    gridmetWithMapping(grid, weights, features, vars, start, end, partial,
      fillMissing, preCombine, mapping, strategy).series

  /** [[gridmet]]'s series and the NN fill mapping it derived (a local
    * table of |missing| rows, for the genmap CSV) — None when no fill
    * ran, nothing was missing, or `mapping` was given. */
  final case class GridmetOutput(series: DataFrame, derivedMapping: Option[DataFrame])

  /** [[gridmet]], returning the derived mapping too. With the fill on,
    * the driver reads the persisted aggregate twice — its time axis, then
    * the missing/present split at the axis' first day — and derives the
    * mapping there; the filled dense series is then ONE plan over the
    * aggregate ([[denseOnAxis]]), read once by the caller's sink. A given
    * `mapping` (the reuse path) is collected and checked ([[donorsOf]])
    * and fills the same way. */
  def gridmetWithMapping(
      grid: DataFrame, weights: DataFrame, features: DataFrame,
      vars: Seq[String] = Seq("tmmx", "tmmn", "pr", "rmax", "rmin", "vs"),
      start: String, end: String,
      partial: Boolean = false, fillMissing: Boolean = false,
      preCombine: Boolean = false,
      mapping: Option[DataFrame] = None,
      strategy: graft.operators.WeightJoin =
        graft.operators.WeightJoin.Auto): GridmetOutput = {
    // one collect of the feature table serves the bbox and the fill
    val table = Sources.featureTable(features)
    // the weighted mean reads the keys and the variables only; with the
    // cell keys after the first column, as in the weight table (fid, i,
    // j, wght), both sides of a sort-merge join share one generated sort
    // ordering, sort prefix and partitioning projection
    val keys = Seq("time", "i", "j") ++ Seq("tile").filter(grid.columns.contains)
    val subset = timeSubset(withinBounds(grid, table, BboxBuffer), start, end)
      .select((keys ++ vars).map(col): _*)
    val agg = WeightedMean(subset, weights, vars, masked = partial,
      preCombine = preCombine, strategy = strategy)
    if (!fillMissing) GridmetOutput(Convert.gridmetFinalize(reindex(agg, features, Nil)), None)
    else {
      val (aggOnce, times) = withTimeAxis(agg)
      def dense(donorOf: Map[Long, Long]) =
        Convert.gridmetFinalize(denseOnAxis(aggOnce, features, times, donorOf))
      mapping match {
        case Some(m) => GridmetOutput(dense(donorsOf(m, features)), None)
        case None =>
          times.headOption.flatMap { t0 =>
            val (miss, present) = splitAt(aggOnce, t0, table.centroids.keys.toSeq)
            nearest(miss, present, table.centroids)
          } match {
            case None => GridmetOutput(dense(Map.empty), None) // early-exit (`helper.py:48-50`)
            case Some(rows) =>
              GridmetOutput(dense(rows.map { case (m, f, _) => m -> f }.toMap),
                Some(mappingTable(aggOnce.sparkSession, rows)))
          }
      }
    }
  }

  /** The donor of each missing feature in a given fill mapping, collected
    * to the driver (|missing| rows). The mapping comes from outside the
    * run, so it is checked first: a repeated `miss_fid` would multiply
    * that feature's rows, a null field (Spark's permissive CSV reader
    * turns an unparsable one into null) would leave it unfilled, and a
    * `miss_fid` or `fill_fid` that names none of the `features` has no
    * series to fill or read (the reference's `ds.sel` raises there too).
    * Each fails naming the mapping's file and the fid. */
  private def donorsOf(mapping: DataFrame, features: DataFrame): Map[Long, Long] = {
    val source = if (mapping.inputFiles.isEmpty) "the given table" else mapping.inputFiles.mkString(", ")
    def reject(why: String) = throw new IllegalArgumentException(s"fill mapping $source: $why")
    val rows = mapping.select(Sources.FillMappingSchema.map(f => col(f.name).cast(f.dataType)): _*)
      .collect()
    rows.find(_.anyNull).foreach(r => reject(s"a null or unparsable field in row (${r.mkString(", ")})"))
    val pairs = rows.map(r => r.getLong(0) -> r.getLong(1))
    pairs.groupBy(_._1).collectFirst { case (m, ps) if ps.length > 1 =>
      reject(s"miss_fid $m appears ${ps.length} times")
    }
    val fids = features.select(col("fid").cast(LongType)).collect()
      .collect { case r if !r.isNullAt(0) => r.getLong(0) }.toSet
    pairs.iterator.flatMap { case (m, f) => Iterator(m, f) }.find(!fids(_))
      .foreach(f => reject(s"fid $f names no feature"))
    pairs.toMap
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
