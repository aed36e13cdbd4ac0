package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{WeightedMean, EnsembleStats, FillMissing}
import graft.etl.GridmetPipeline
import graft.functions.Physics

import Shared._

/** Climate ETL: the gridMET/CFSv2 operators (weighted means, ensemble
  * median, nearest-neighbour fill, subsets, physics), the full pipelines
  * and the source readers (weights CSV, catalog JSON, PRMS parameters,
  * shapefiles) on the oracle surface. */
object ClimateQueries extends QueryFamily("climate") {

  private val gridSql =
    """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS time,
      |       l_partkey % 25 AS i, l_suppkey % 10 AS j,
      |       @PR@ AS pr FROM lineitem""".stripMargin

  private val gridSqlPlain = gridSql.replace("@PR@", "l_extendedprice")

  private val gridSqlNull = gridSql.replace("@PR@",
    "CASE WHEN l_discount > 0.07 THEN NULL ELSE l_extendedprice END")

  /** Shared oracle of the q98/q101 reprojection contract: bbox +
    * shoelace centroid straight from the geographic twin's vertex list
    * (closed rings, seq-ordered folds — the engine's
    * cross/Σ(x_i+x_{i+1})·cross accumulation mirrored term for term;
    * cx = sx/(3·a2) is sign-invariant so no winding flip needed). Both
    * projected fixtures (UTM 13N, USA_Contiguous_Albers) encode the
    * SAME features, so one twin oracle serves both. */
  private lazy val shapefileTwinOracle: String = {
    val r6 = graft.functions.TextFunctions.round6Sql _
    s"""WITH v AS (SELECT CAST(fid AS BIGINT) AS fid, seq,
       |    CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y
       |  FROM read_csv('${fixturePath("features_lonlat.csv")}', header = true)),
       |p AS (SELECT fid, list(x ORDER BY seq) AS xs,
       |             list(y ORDER BY seq) AS ys FROM v GROUP BY fid),
       |m AS (SELECT fid,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(xs)),
       |      ci -> xs[ci]*ys[ci+1] - xs[ci+1]*ys[ci])),
       |    (ca, cb) -> ca + cb) AS a2,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(xs)),
       |      si -> (xs[si]+xs[si+1]) * (xs[si]*ys[si+1] - xs[si+1]*ys[si]))),
       |    (sa, sb) -> sa + sb) AS sx,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(xs)),
       |      ti -> (ys[ti]+ys[ti+1]) * (xs[ti]*ys[ti+1] - xs[ti+1]*ys[ti]))),
       |    (ta, tb) -> ta + tb) AS sy
       |  FROM p)
       |SELECT b.fid,
       |  ${r6("b.minx")} AS minx, ${r6("b.miny")} AS miny,
       |  ${r6("b.maxx")} AS maxx, ${r6("b.maxy")} AS maxy,
       |  ${r6("m.sx / (3.0 * m.a2)")} AS cx,
       |  ${r6("m.sy / (3.0 * m.a2)")} AS cy
       |FROM (SELECT fid, min(x) AS minx, min(y) AS miny,
       |        max(x) AS maxx, max(y) AS maxy FROM v GROUP BY fid) b
       |JOIN m USING (fid)""".stripMargin
  }

  /** Shared body of the q98/q101 reprojection contract: parse the
    * projected .shp, invert the .prj's PROJCS, recover the geographic
    * twin's bbox + shoelace centroid on the 6dp grid. */
  private def shapefileBboxCentroid(
      s: SparkSession, shp: String): DataFrame = {
    import graft.functions.WkbGeom
    import graft.functions.TextFunctions.round6
    graft.sources.Shapefile.read(s, shp)
      .select(col("nhru_v1_1").as("fid"),
        WkbGeom.wkbEnvelopeCentroid(col("geometry")).as("e"))
      .select(col("fid"),
        round6(col("e.minx")).as("minx"), round6(col("e.miny")).as("miny"),
        round6(col("e.maxx")).as("maxx"), round6(col("e.maxy")).as("maxy"),
        round6(col("e.cx")).as("cx"), round6(col("e.cy")).as("cy"))
  }

  /** q01's oracle, shared by q116 (the spatial-tile join strategy). */
  private lazy val WeightedMeanOracle: String =
    s"""WITH g AS ($gridSqlPlain), w AS ($weightsSql)
       |SELECT w.fid AS fid, g.time AS time,
       |       round(sum(w.wght*g.pr)/sum(w.wght), 4) AS wmean_pr
       |FROM g JOIN w ON g.i = w.i AND g.j = w.j
       |GROUP BY 1, 2""".stripMargin

  // ---- A1/J1: area-weighted mean (the reference's core operator) ----
  /** The flagship query, run by [[graft.SparkEntry.entry]]. */
  val weightedMean: Query = query("q01_weighted_mean")((s, dir) => {
    val g = gridFromLineitem(t(s, dir, "lineitem"), nullify = false)
    val w = weightsFromPart(t(s, dir, "part"))
    WeightedMean(g, w, Seq("pr"), preCombine = true)
      .select(col("fid"), col("time"), round(col("pr"), 4).as("wmean_pr"))
  })(WeightedMeanOracle)

  val all: Seq[Query] = Seq(
    weightedMean,

    // ---- A1 under the SPATIAL-TILE sort-merge strategy: same
    // aggregation as q01 through the SortMergeTiled join path (tile
    // id derived on both sides, (tile,i,j) equi-join, plain two-phase
    // aggregation — no group-key repartition). Same oracle as q01:
    // the added tile equality is implied by (i,j) equality, so any
    // divergence (a pair lost at a tile boundary, a partial-agg
    // miscombine) fails the hash. Plan-shape properties (zero
    // grid-side exchange over a staged table) are StagingSpec-pinned;
    // this row proves the semantics on the oracle surface ----
    query("q116_weighted_mean_tiled")((s, dir) => {
      val g = gridFromLineitem(t(s, dir, "lineitem"), nullify = false)
      val w = weightsFromPart(t(s, dir, "part"))
      WeightedMean(g, w, Seq("pr"),
          strategy = graft.operators.WeightJoin.SortMergeTiled(8, 4))
        .select(col("fid"), col("time"), round(col("pr"), 4).as("wmean_pr"))
    }) {
      // q116: q01's oracle verbatim — the tiled strategy must be
      // result-invisible (the tile join key is implied by (i,j)).
      WeightedMeanOracle
    },

    // ---- A2: masked weighted mean (`--partial`) ----
    query("q02_masked_mean")((s, dir) => {
      val g = gridFromLineitem(t(s, dir, "lineitem"), nullify = true)
      val w = weightsFromPart(t(s, dir, "part"))
      WeightedMean(g, w, Seq("pr"), masked = true, preCombine = true)
        .select(col("fid"), col("time"), round(col("pr"), 4).as("masked_pr"))
    }) {
      s"""WITH g AS ($gridSqlNull), w AS ($weightsSql)
         |SELECT w.fid AS fid, g.time AS time,
         |       round(sum(CASE WHEN g.pr IS NOT NULL THEN w.wght*g.pr END)
         |             / sum(CASE WHEN g.pr IS NOT NULL THEN w.wght END), 4) AS masked_pr
         |FROM g JOIN w ON g.i = w.i AND g.j = w.j
         |GROUP BY 1, 2""".stripMargin
    },

    // ---- A1 null-propagation: plain mean poisons on any missing cell ----
    query("q03_mean_null_propagation")((s, dir) => {
      val g = gridFromLineitem(t(s, dir, "lineitem"), nullify = true)
      val w = weightsFromPart(t(s, dir, "part"))
      WeightedMean(g, w, Seq("pr"), masked = false, preCombine = true)
        .select(col("fid"), col("time"), round(col("pr"), 4).as("mean_pr"))
    }) {
      s"""WITH g AS ($gridSqlNull), w AS ($weightsSql)
         |SELECT w.fid AS fid, g.time AS time,
         |       CASE WHEN count(CASE WHEN g.pr IS NULL THEN 1 END) > 0 THEN NULL
         |            ELSE round(sum(w.wght*g.pr)/sum(w.wght), 4) END AS mean_pr
         |FROM g JOIN w ON g.i = w.i AND g.j = w.j
         |GROUP BY 1, 2""".stripMargin
    },

    // ---- A3: exact ensemble median per cell ----
    query("q04_ensemble_median")((s, dir) => {
      val g = events(s, dir).select(
        col("ts").cast("date").as("time"),
        (col("user_id") % 10).as("j"), (col("user_id") % 7).as("i"),
        col("value"))
      EnsembleStats.ensembleMedian(g, Seq("value"))
        .select(col("time"), col("j"), col("i"), round(col("value"), 6).as("med_value"))
    }) {
      """SELECT CAST(ts AS DATE) AS time, user_id % 10 AS j, user_id % 7 AS i,
        |       round(median(value), 6) AS med_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin
    },

    // ---- J2: nearest-neighbor arg-min join ----
    query("q05_nn_argmin")((s, dir) => {
      val c = t(s, dir, "customer")
      val miss = c.filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("fid"), col("c_acctbal").as("lat"), lit(0.0).as("lon"))
      val donors = c.filter(col("c_acctbal") >= 0)
        .select(col("c_custkey").as("fid"), col("c_acctbal").as("lat"), lit(0.0).as("lon"))
      FillMissing.nearestMapping(miss, donors)
        .select(col("miss_fid"), col("fill_fid"), round(col("distance"), 6).as("distance"))
    }) {
      """WITH m AS (SELECT c_custkey AS miss_fid, c_acctbal AS v FROM customer WHERE c_acctbal < 0),
        |     d AS (SELECT c_custkey AS fill_fid, c_acctbal AS v FROM customer WHERE c_acctbal >= 0),
        |     p AS (SELECT m.miss_fid, d.fill_fid,
        |             sqrt((m.v-d.v)*(m.v-d.v) + 0.0*0.0) AS dist,
        |             row_number() OVER (PARTITION BY m.miss_fid
        |               ORDER BY sqrt((m.v-d.v)*(m.v-d.v) + 0.0*0.0), d.fill_fid) AS rn
        |           FROM m CROSS JOIN d)
        |SELECT miss_fid, fill_fid, round(dist, 6) AS distance FROM p WHERE rn = 1""".stripMargin
    },

    // ---- J3: fill scatter-update (series overwrite by donor) ----
    query("q06_fill_series")((s, dir) => {
      val ev = events(s, dir)
      val ts = ev.groupBy((col("user_id") % 50).as("fid"), col("ts").cast("date").as("time"))
        .agg(round(sum(col("value")), 4).as("v0"))
        .withColumn("v", when(col("fid") % 7 === 0, lit(null)).otherwise(col("v0")))
        .select("fid", "time", "v")
      val fids = ts.select("fid").distinct()
      val miss = fids.filter(col("fid") % 7 === 0)
        .select(col("fid"), col("fid").cast("double").as("lat"), lit(0.0).as("lon"))
      val pres = fids.filter(col("fid") % 7 =!= 0)
        .select(col("fid"), col("fid").cast("double").as("lat"), lit(0.0).as("lon"))
      val mapping = FillMissing.nearestMapping(miss, pres)
      FillMissing.fillSeries(ts, mapping, Seq("v"))
    }) {
      """WITH ts AS (
        |  SELECT user_id % 50 AS fid, CAST(ts AS DATE) AS time,
        |         CASE WHEN (user_id % 50) % 7 = 0 THEN NULL ELSE round(sum(value), 4) END AS v
        |  FROM events GROUP BY 1, 2),
        | miss AS (SELECT DISTINCT fid FROM ts WHERE fid % 7 = 0),
        | pres AS (SELECT DISTINCT fid FROM ts WHERE fid % 7 <> 0),
        | map AS (SELECT miss_fid, fill_fid FROM (
        |   SELECT m.fid AS miss_fid, p.fid AS fill_fid,
        |     row_number() OVER (PARTITION BY m.fid
        |       ORDER BY sqrt(CAST((m.fid-p.fid)*(m.fid-p.fid) AS DOUBLE) + 0.0*0.0), p.fid) AS rn
        |   FROM miss m CROSS JOIN pres p) WHERE rn = 1)
        |SELECT t.fid AS fid, t.time AS time, coalesce(d.v, t.v) AS v
        |FROM ts t LEFT JOIN map ON t.fid = map.miss_fid
        |LEFT JOIN ts d ON map.fill_fid = d.fid AND t.time = d.time""".stripMargin
    },

    // ---- F1: catalog lookup (conjunctive equality + take-first) ----
    query("q07_catalog_lookup")((s, dir) => {
      t(s, dir, "part").filter(col("p_size") < 20)
        .groupBy(col("p_type"))
        .agg(min(struct(col("p_partkey"), col("p_name"))).as("f"))
        .select(col("p_type"), col("f.p_partkey").as("first_key"),
          col("f.p_name").as("first_name"))
    }) {
      """SELECT p_type, p_partkey AS first_key, p_name AS first_name FROM (
        |  SELECT p_type, p_partkey, p_name,
        |         row_number() OVER (PARTITION BY p_type ORDER BY p_partkey, p_name) AS rn
        |  FROM part WHERE p_size < 20) WHERE rn = 1""".stripMargin
    },

    // ---- F2/F3: buffered bbox + time-range subset with pushdown ----
    query("q08_bbox_time_subset")((s, dir) => {
      val g = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").as("time"),
        (lit(49.4) - (col("l_suppkey") % 40) * 0.04167).as("lat"),
        (lit(-124.76667) + (col("l_partkey") % 60) * 0.04167).as("lon"),
        col("l_extendedprice").as("pr"))
      g.filter(
          col("lon").between(-124.0 - 0.04167, -122.5 + 0.04167) &&
            col("lat").between(48.3 - 0.04167, 49.0 + 0.04167) &&
            col("time").between(lit("1994-01-01").cast("timestamp"),
              lit("1996-12-31").cast("timestamp")))
        .select(col("l_orderkey"), col("l_linenumber"), col("lat"), col("lon"), col("pr"))
    }) {
      """SELECT l_orderkey, l_linenumber, lat, lon, pr FROM (
        |  SELECT l_orderkey, l_linenumber, l_shipdate AS time,
        |         CAST(49.4 AS DOUBLE) - (l_suppkey % 40) * CAST(0.04167 AS DOUBLE) AS lat,
        |         CAST(-124.76667 AS DOUBLE) + (l_partkey % 60) * CAST(0.04167 AS DOUBLE) AS lon,
        |         l_extendedprice AS pr
        |  FROM lineitem)
        |WHERE lon BETWEEN CAST(-124.0 AS DOUBLE) - CAST(0.04167 AS DOUBLE)
        |              AND CAST(-122.5 AS DOUBLE) + CAST(0.04167 AS DOUBLE)
        |  AND lat BETWEEN CAST(48.3 AS DOUBLE) - CAST(0.04167 AS DOUBLE)
        |              AND CAST(49.0 AS DOUBLE) + CAST(0.04167 AS DOUBLE)
        |  AND time BETWEEN TIMESTAMP '1994-01-01' AND TIMESTAMP '1996-12-31'""".stripMargin
    },

    // ---- C1-C5: unit conversion + physics columns ----
    query("q09_physics")((s, dir) => {
      val li = t(s, dir, "lineitem")
      val tmaxK = col("l_quantity") + 273.15
      val tminK = col("l_quantity") + 262.85
      val elev = (col("l_suppkey") % 3000).cast("double")
      val sph = col("l_discount") / 10
      li.select(
        col("l_orderkey"), col("l_linenumber"),
        round(Physics.kelvinToCelsius(tmaxK), 6).as("tmax_c"),
        round(Physics.gridmetHumidity(col("l_discount") * 100, col("l_tax") * 100), 6).as("gm_humidity"),
        round(Physics.pressureAtElevation(elev, (tmaxK + tminK) / 2), 4).as("pressure_mb"),
        round(Physics.satVaporPressure(tmaxK), 4).as("e_s"),
        round(Physics.relativeHumidity(sph, tmaxK, tminK, elev), 4).as("rh"))
    }) {
      """SELECT l_orderkey, l_linenumber,
        |  round((l_quantity + 273.15) - 273.15, 6) AS tmax_c,
        |  round(l_discount*100 + (l_tax*100)/2.0, 6) AS gm_humidity,
        |  round(1013.25 * exp(-9.80665 * CAST(l_suppkey % 3000 AS DOUBLE)
        |        / (287.05 * (((l_quantity+273.15)+(l_quantity+262.85))/2.0))), 4) AS pressure_mb,
        |  round(6.1094 * exp(17.625 * ((l_quantity+273.15)-273.15)
        |        / (((l_quantity+273.15)-273.15)+243.04)), 4) AS e_s,
        |  round((l_discount/10) * (1013.25 * exp(-9.80665 * CAST(l_suppkey % 3000 AS DOUBLE)
        |          / (287.05 * (((l_quantity+273.15)+(l_quantity+262.85))/2.0)))) / 0.622
        |        / (6.1094 * exp(17.625 * ((((l_quantity+273.15)+(l_quantity+262.85))/2.0)-273.15)
        |           / (((((l_quantity+273.15)+(l_quantity+262.85))/2.0)-273.15)+243.04)))
        |        * 100.0, 4) AS rh
        |FROM lineitem""".stripMargin
    },

    // ---- full gridmet pipeline (F2+F3+A1+reindex+F7+C1+C2) ----
    query("q28_gridmet_pipeline")((s, dir) => {
      val grid = t(s, dir, "lineitem").select(
        date_trunc("month", col("l_shipdate")).as("time"),
        (col("l_partkey") % 25).cast("int").as("i"),
        (col("l_suppkey") % 10).cast("int").as("j"),
        (lit(40.0) + (col("l_suppkey") % 10) * 0.1).as("lat"),
        (lit(-100.0) + (col("l_partkey") % 25) * 0.1).as("lon"),
        (lit(270.0) + col("l_quantity") % 40).as("tmmx"),
        (lit(258.0) + col("l_quantity") % 40).as("tmmn"),
        (col("l_discount") * 100).as("pr"),
        (lit(50.0) + col("l_tax") * 100).as("rmax"),
        (lit(20.0) + col("l_tax") * 50).as("rmin"),
        (lit(1.0) + col("l_linenumber") % 5).as("vs"))
      val w = weightsFromPart(t(s, dir, "part"))
      val feats = t(s, dir, "customer")
        .select((col("c_custkey") % 40).as("fid")).distinct()
        .select(col("fid"),
          (lit(40.0) + col("fid") % 10 * 0.1).as("lat"),
          (lit(-100.0) + col("fid") % 25 * 0.1).as("lon"),
          lit(-100.0).as("minx"), lit(40.0).as("miny"),
          lit(-98.6).as("maxx"), lit(40.9).as("maxy"))
      val out = GridmetPipeline.gridmet(grid, w, feats,
        start = "1994-01-01", end = "1996-12-01", preCombine = true)
      out.select(col("nhru"), col("time"),
        round(col("tmax"), 4).as("tmax"), round(col("tmin"), 4).as("tmin"),
        round(col("prcp"), 4).as("prcp"), round(col("rhmax"), 4).as("rhmax"),
        round(col("rhmin"), 4).as("rhmin"), round(col("ws"), 4).as("ws"),
        round(col("humidity"), 4).as("humidity"))
    }) {
      """WITH grid AS (
        |  SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS time,
        |         CAST(l_partkey % 25 AS INT) AS i, CAST(l_suppkey % 10 AS INT) AS j,
        |         40.0 + (l_suppkey % 10) * 0.1 AS lat,
        |         -100.0 + (l_partkey % 25) * 0.1 AS lon,
        |         270.0 + (l_quantity % 40) AS tmmx, 258.0 + (l_quantity % 40) AS tmmn,
        |         l_discount * 100 AS pr, 50.0 + l_tax * 100 AS rmax,
        |         20.0 + l_tax * 50 AS rmin, 1.0 + (l_linenumber % 5) AS vs
        |  FROM lineitem),
        |w AS (SELECT p_partkey % 40 AS fid, p_partkey % 25 AS i,
        |             CAST(p_size AS BIGINT) % 10 AS j,
        |             round(p_retailprice/1000, 6) AS wght FROM part),
        |feats AS (SELECT DISTINCT c_custkey % 40 AS fid FROM customer),
        |sub AS (SELECT * FROM grid
        |        WHERE lon BETWEEN -100.0 - 0.04167 AND -98.6 + 0.04167
        |          AND lat BETWEEN 40.0 - 0.04167 AND 40.9 + 0.04167
        |          AND time BETWEEN TIMESTAMP '1994-01-01' AND TIMESTAMP '1996-12-01'),
        |agg AS (
        |  SELECT w.fid, g.time,
        |         sum(w.wght*g.tmmx)/sum(w.wght) AS tmmx,
        |         sum(w.wght*g.tmmn)/sum(w.wght) AS tmmn,
        |         sum(w.wght*g.pr)/sum(w.wght) AS pr,
        |         sum(w.wght*g.rmax)/sum(w.wght) AS rmax,
        |         sum(w.wght*g.rmin)/sum(w.wght) AS rmin,
        |         sum(w.wght*g.vs)/sum(w.wght) AS vs
        |  FROM sub g JOIN w ON g.i = w.i AND g.j = w.j
        |  GROUP BY 1, 2),
        |domain AS (SELECT f.fid, t.time FROM feats f
        |           CROSS JOIN (SELECT DISTINCT time FROM agg) t)
        |SELECT d.fid AS nhru, d.time AS time,
        |  round(a.tmmx - 273.15, 4) AS tmax, round(a.tmmn - 273.15, 4) AS tmin,
        |  round(a.pr, 4) AS prcp, round(a.rmax, 4) AS rhmax,
        |  round(a.rmin, 4) AS rhmin, round(a.vs, 4) AS ws,
        |  round(a.rmin + a.rmax / 2.0, 4) AS humidity
        |FROM domain d LEFT JOIN agg a ON d.fid = a.fid AND d.time = a.time""".stripMargin
    },

    // ---- A4/A5/S9: bounds + time-extent aggregates ----
    query("q29_extent")((s, dir) => {
      val g = t(s, dir, "lineitem").select(
        col("l_shipdate").as("time"),
        (lit(40.0) + (col("l_suppkey") % 10) * 0.1).as("lat"),
        (lit(-100.0) + (col("l_partkey") % 25) * 0.1).as("lon"))
      g.agg(
        min(col("lon")).as("minx"), min(col("lat")).as("miny"),
        max(col("lon")).as("maxx"), max(col("lat")).as("maxy"),
        min(col("time")).as("time_first"), max(col("time")).as("time_last"))
    }) {
      """SELECT min(-100.0 + (l_partkey % 25) * 0.1) AS minx,
        |       min(40.0 + (l_suppkey % 10) * 0.1) AS miny,
        |       max(-100.0 + (l_partkey % 25) * 0.1) AS maxx,
        |       max(40.0 + (l_suppkey % 10) * 0.1) AS maxy,
        |       min(l_shipdate) AS time_first, max(l_shipdate) AS time_last
        |FROM lineitem""".stripMargin
    },

    // ---- C7: int64 days-since-origin time encoding ----
    query("q30_time_encode")((s, dir) => {
      val df = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderdate").cast("date").as("time"))
      graft.etl.Convert.encodeTimeDays(df, "1992-01-01")
        .withColumn("decoded", date_add(to_date(lit("1992-01-01")), col("time").cast("int")))
        .select(col("o_orderkey"), col("time").as("days"), col("decoded"))
    }) {
      """SELECT o_orderkey,
        |  CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days,
        |  CAST(DATE '1992-01-01' + INTERVAL (date_diff('day', DATE '1992-01-01',
        |       CAST(o_orderdate AS DATE))) DAY AS DATE) AS decoded
        |FROM orders""".stripMargin
    },

    // ---- U2/F10: ensemble concat of member frames ----
    query("q31_ensemble_concat")((s, dir) => {
      val o = t(s, dir, "orders")
      val members = Seq(
        o.filter(col("o_orderkey") % 3 === 0),
        o.filter(col("o_orderkey") % 3 === 1),
        o.filter(col("o_orderkey") % 3 === 2))
        .map(_.select(col("o_custkey"), col("o_totalprice")))
      graft.operators.EnsembleStats.concatMembers(members)
        .groupBy(col("ens"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
    }) {
      """SELECT ens, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (
        |  SELECT 0 AS ens, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 1, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT 2, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 2)
        |GROUP BY ens""".stripMargin
    },

    // ---- S2 full: WKB geometry ingestion. An irregular CCW quad per
    // customer is WKB-serialized in-engine (WkbPolygon) and parsed back
    // (WkbEnvelopeCentroid) into the feature table; the oracle computes
    // bbox + shoelace centroid DIRECTLY from the same coordinates, so
    // the round-trip checks both the builder and the parser against an
    // engine-independent formula. ----
    query("q39_wkb_features")((s, dir) => {
      import graft.functions.WkbGeom.wkbPolygon
      import graft.functions.TextFunctions.round6
      val x0 = (col("c_custkey") % 100).cast("double") * lit(0.1)
      val y0 = (col("c_custkey") % 73).cast("double") * lit(0.1)
      val w = lit(1.0) + (col("c_custkey") % 7).cast("double") * lit(0.1)
      val h = lit(1.0) + (col("c_custkey") % 5).cast("double") * lit(0.1)
      val geo = t(s, dir, "customer").select(
        col("c_custkey").as("fid"),
        wkbPolygon(
          array(x0, x0 + w, x0 + lit(1.0), x0),
          array(y0, y0, y0 + lit(1.0), y0 + h)).as("geometry"))
      val f = graft.sources.Sources.featuresFromWkb(geo, "fid")
      f.select(col("fid"),
        round6(col("lat")).as("lat"), round6(col("lon")).as("lon"),
        round6(col("minx")).as("minx"), round6(col("miny")).as("miny"),
        round6(col("maxx")).as("maxx"), round6(col("maxy")).as("maxy"))
    }) {
      // q39: bbox + shoelace centroid computed directly from the quad's
      // coordinates — same fold order (edges in vertex order, 0.0-seeded
      // left folds) as the WKB parser, so the WKB build→parse round trip
      // must reproduce it bit-for-bit before 6dp rounding.
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      s"""WITH v AS (
         |  SELECT c_custkey AS fid,
         |    (c_custkey % 100) * 0.1 AS x0, (c_custkey % 73) * 0.1 AS y0,
         |    1.0 + (c_custkey % 7) * 0.1 AS w, 1.0 + (c_custkey % 5) * 0.1 AS h
         |  FROM customer),
         |e AS (
         |  SELECT fid, x0, y0, w, h,
         |    x0*y0 - (x0+w)*y0 AS c1,
         |    (x0+w)*(y0+1.0) - (x0+1.0)*y0 AS c2,
         |    (x0+1.0)*(y0+h) - x0*(y0+1.0) AS c3,
         |    x0*y0 - x0*(y0+h) AS c4
         |  FROM v),
         |g AS (
         |  SELECT fid, x0, y0, w, h,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), [c1, c2, c3, c4]),
         |      (a0, z) -> a0 + z) AS a2,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      [(x0+(x0+w))*c1, ((x0+w)+(x0+1.0))*c2, ((x0+1.0)+x0)*c3, (x0+x0)*c4]),
         |      (a0, z) -> a0 + z) AS sx,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      [(y0+y0)*c1, (y0+(y0+1.0))*c2, ((y0+1.0)+(y0+h))*c3, ((y0+h)+y0)*c4]),
         |      (a0, z) -> a0 + z) AS sy
         |  FROM e)
         |SELECT fid,
         |  ${r6("sy/(3.0*a2)")} AS lat, ${r6("sx/(3.0*a2)")} AS lon,
         |  ${r6("x0")} AS minx, ${r6("y0")} AS miny,
         |  ${r6("greatest(x0+w, x0+1.0)")} AS maxx,
         |  ${r6("greatest(y0+h, y0+1.0)")} AS maxy
         |FROM g""".stripMargin
    },

    // ---- S3 on the oracle surface: the q01 weighted mean with its
    // weights read through Sources.weightsCsv from the COMMITTED
    // pandas-layout fixture (leading unnamed index column, fid column
    // named by the --fid CLI arg) — the reader's full lineage, not
    // just a spec ----
    query("q93_weights_csv_mean")((s, dir) => {
      val g = gridFromLineitem(t(s, dir, "lineitem"), nullify = false)
      val w = graft.sources.Sources.weightsCsv(
        s, fixturePath("gm_nhru01_weights.csv"), "nhru_v1_1")
      // Same A1 shape as q01 (broadcast weight join + hash agg) but
      // with EXACT decimal sums: the fixture weights land some means
      // on a 4dp rounding boundary, where a plain double Σw·x is
      // summation-order-sensitive (q01's part-derived weights happen
      // to sit clear of boundaries). wght has 6dp and pr 2dp, so the
      // decimal products and sums are exact and order-free — both
      // engines divide and round the identical values.
      // floor(x·1e4 + 0.5)/1e4, not round(x, 4): the quotient can land
      // EXACTLY on a .xxxx5 boundary (it does here), where Spark's
      // BigDecimal-HALF-UP and DuckDB's scaled-double rounding
      // disagree — the round6 formula at 4dp is the engine's standard
      // cross-engine-stable rounding
      g.join(broadcast(w), Seq("i", "j"))
        .groupBy(col("fid"), col("time"))
        .agg((floor(
          (sum(col("wght").cast("decimal(18,6)") * col("pr").cast("decimal(18,6)"))
            .cast("double") /
           sum(col("wght").cast("decimal(18,6)")).cast("double"))
            * lit(10000.0) + lit(0.5)) / lit(10000.0))
          .as("wmean_pr"))
        .select(col("fid"), col("time"), col("wmean_pr"))
    }) {
      // q93: the q01 mirror with weights from the committed CSV fixture —
      // read_csv on the same absolute path the engine reads, pandas index
      // column ignored by projection.
      s"""WITH g AS ($gridSqlPlain),
         |w AS (SELECT CAST(nhru_v1_1 AS BIGINT) AS fid,
         |             CAST(i AS INT) AS i, CAST(j AS INT) AS j,
         |             CAST(wght AS DOUBLE) AS wght
         |      FROM read_csv('${fixturePath("gm_nhru01_weights.csv")}',
         |                    header = true))
         |SELECT w.fid AS fid, g.time AS time,
         |       floor((CAST(sum(CAST(w.wght AS DECIMAL(18,6))
         |                      * CAST(g.pr AS DECIMAL(18,6))) AS DOUBLE)
         |              / CAST(sum(CAST(w.wght AS DECIMAL(18,6))) AS DOUBLE))
         |             * 10000.0 + 0.5) / 10000.0 AS wmean_pr
         |FROM g JOIN w ON g.i = w.i AND g.j = w.j
         |GROUP BY 1, 2""".stripMargin
    },

    // ---- S5+F1 on the oracle surface: catalog JSON scan + take-first
    // lookup (min over (varname, URL) struct — the reference's
    // deterministic first record per variable) ----
    query("q94_catalog_json_lookup")((s, _) => {
      val cat = graft.sources.Sources.catalogJson(s, fixturePath("catalog.json"))
      graft.sources.Sources.catalogLookup(
        cat, "gridmet", Seq("pr", "tmmx", "tmmn"))
    }) {
      // q94: take-first = min (varname, URL) struct; the fixture keeps
      // varnames unique per variable so arg_min is tie-free.
      s"""SELECT variable, min(varname) AS varname,
        |       arg_min("URL", varname) AS "URL"
        |FROM read_json('${fixturePath("catalog.json")}')
        |WHERE id = 'gridmet' AND variable IN ('pr', 'tmmx', 'tmmn')
        |GROUP BY variable""".stripMargin
    },

    // ---- S6 on the oracle surface: PRMS parameter-file scan (marker /
    // skip-4 / #### protocol) joined to the q09-style elevation physics
    // so the parsed values feed a real computation ----
    query("q95_prms_elevation")((s, _) => {
      import graft.functions.Physics
      graft.sources.Sources.prmsElevations(s, fixturePath("synthetic.param"))
        .select(col("nhru"), col("elev"),
          round(Physics.pressureAtElevation(col("elev"), lit(288.15)), 6)
            .as("pres"))
    }) {
      // q95: the PRMS marker/skip-4/#### protocol expressed over the raw
      // lines (read_csv with a delimiter absent from the file = one
      // VARCHAR column per line, insertion-ordered), then the same
      // isothermal pressure arithmetic at T = 288.15 K.
      s"""WITH l AS (SELECT trim(line) AS line, row_number() OVER () AS rn
        |  FROM read_csv('${fixturePath("synthetic.param")}', header = false,
        |                delim = '|', columns = {'line': 'VARCHAR'})),
        |m AS (SELECT min(rn) AS mrn FROM l WHERE line = 'hru_elev'),
        |v AS (SELECT l.line, l.rn FROM l, m WHERE l.rn > m.mrn + 4),
        |t AS (SELECT min(rn) AS trn FROM v WHERE line LIKE '####%'),
        |vals AS (SELECT CAST(v.line AS DOUBLE) AS elev,
        |                row_number() OVER (ORDER BY v.rn) AS nhru
        |         FROM v, t WHERE v.rn < t.trn)
        |SELECT CAST(nhru AS BIGINT) AS nhru, elev,
        |       round(1013.25 * exp(-9.80665 * elev / (287.05 * 288.15)), 6)
        |         AS pres
        |FROM vals""".stripMargin
    },

    // ---- S7 on the oracle surface: NN-mapping CSV scan joined to the
    // donor table (the --mapping-file reuse path: mapping rows name
    // which donor fills each missing feature) ----
    query("q96_fill_mapping_join")((s, dir) => {
      val m = graft.sources.Sources.fillMappingCsv(
        s, fixturePath("fill_mapping.csv"))
      val donors = t(s, dir, "customer")
        .select(col("c_custkey").as("fill_fid"), col("c_acctbal"))
      m.join(donors, Seq("fill_fid"))
        .select(col("miss_fid"), col("fill_fid"), col("distance"),
          col("c_acctbal").as("fill_val"))
    }) {
      // q96: mapping CSV joined to the donor table — fill_fid names which
      // donor row fills each missing feature.
      s"""SELECT m.miss_fid, m.fill_fid, m.distance,
        |       c.c_acctbal AS fill_val
        |FROM read_csv('${fixturePath("fill_mapping.csv")}', header = true) m
        |JOIN customer c ON m.fill_fid = c.c_custkey""".stripMargin
    },

    // ---- S2's native .shp path + CRS REPROJECTION on the oracle
    // surface: the committed fixture is a PROJECTED (UTM 13N)
    // shapefile whose geographic twin ships as a CSV vertex list —
    // the engine must parse the .shp, invert the Transverse Mercator
    // from the .prj, and recover the twin's bbox + shoelace centroid
    // to the 6dp grid (the reprojection round-trip error is ~1e-9°,
    // three orders below the rounding quantum) ----
    query("q98_shapefile_reproject")((s, _) =>
      shapefileBboxCentroid(s, fixturePath("features_utm.shp"))) {
      // q98: bbox + shoelace centroid straight from the geographic twin's
      // vertex list (closed rings, seq-ordered folds — the engine's
      // cross/Σ(x_i+x_{i+1})·cross accumulation mirrored term for term;
      // cx = sx/(3·a2) is sign-invariant so no winding flip needed).
      shapefileTwinOracle
    },

    // ---- same contract, Albers Equal Area fixture: the USA_Contiguous
    // parameter shape (Snyder eq. 14) inverted from the .prj — the
    // reference catalog's dominant CONUS projected CRS (`+proj=aea`,
    // `etl.py:649-655`), recovering the SAME geographic twin ----
    query("q101_shapefile_albers")((s, _) =>
      shapefileBboxCentroid(s, fixturePath("features_aea.shp"))) {
      // q101: identical contract over the Albers fixture — the .shp
      // carries the same features projected to USA_Contiguous_Albers, so
      // the recovered geographic bbox/centroid matches the same twin.
      shapefileTwinOracle
    },

    // ---- CFSv2 method-1 pipeline END-TO-END on the oracle surface:
    // bbox subset (F2) → exact 48-member ensemble median (A3) →
    // area-weighted mean (A1) → rename/K→°C finalize (F7/C1) → RH from
    // specific humidity (C3/C4/C5 + the J4 elevation broadcast join) —
    // the `etl.py:210-303` composition as ONE Spark DAG, previously
    // only spec-covered via JobsSpec ----
    query("q100_cfsv2_pipeline")((s, dir) => {
      val li = t(s, dir, "lineitem")
      val grid = li.select(
        date_trunc("month", col("l_shipdate")).cast("date").as("time"),
        (col("l_partkey") % 25).as("i"),
        (col("l_suppkey") % 10).as("j"),
        ((col("l_partkey") % 25) * 0.5).as("lon"),
        ((col("l_suppkey") % 10) * 0.5).as("lat"),
        (col("l_quantity") + 273.15).as("tmmx"),
        (col("l_quantity") + 262.85).as("tmmn"),
        (col("l_extendedprice") / 1000).as("pr"),
        (col("l_discount") / 10).as("sph"))
      val features = t(s, dir, "part")
        .select((col("p_partkey") % 40).as("fid")).distinct()
        .withColumn("minx", lit(2.0)).withColumn("miny", lit(1.0))
        .withColumn("maxx", lit(10.0)).withColumn("maxy", lit(4.0))
      val weights = weightsFromPart(t(s, dir, "part"))
      val elev = features.select(col("fid").as("nhru"),
        (col("fid") * 75.0).as("elev"))
      graft.etl.GridmetPipeline
        .cfsv2Median(grid, weights, features, elev)
        .select(col("nhru"), col("time"),
          round(col("tmax"), 4).as("tmax"), round(col("tmin"), 4).as("tmin"),
          round(col("prcp"), 4).as("prcp"), round(col("sph"), 6).as("sph"),
          round(col("humidity"), 4).as("humidity"))
    }) {
      // q100: the CFSv2 method-1 chain mirrored stage by stage — bbox
      // predicate, per-cell median over members, weighted mean, the
      // K→°C/°C→K round-trip kept float-exact (tmax − 273.15 then
      // + 273.15, matching cfsv2Finalize → withRelativeHumidity), and
      // the q09 physics expressions in the same operation order.
      s"""WITH g AS (SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS time,
         |    l_partkey % 25 AS i, l_suppkey % 10 AS j,
         |    (l_partkey % 25) * 0.5 AS lon, (l_suppkey % 10) * 0.5 AS lat,
         |    l_quantity + 273.15 AS tmmx, l_quantity + 262.85 AS tmmn,
         |    l_extendedprice / 1000 AS pr, l_discount / 10 AS sph
         |  FROM lineitem),
         |sub AS (SELECT * FROM g
         |  WHERE lon BETWEEN 2.0 - 0.04167 AND 10.0 + 0.04167
         |    AND lat BETWEEN 1.0 - 0.04167 AND 4.0 + 0.04167),
         |med AS (SELECT time, j, i,
         |    median(tmmx) AS tmmx, median(tmmn) AS tmmn,
         |    median(pr) AS pr, median(sph) AS sph
         |  FROM sub GROUP BY 1, 2, 3),
         |w AS ($weightsSql),
         |agg AS (SELECT w.fid, m.time,
         |    sum(w.wght*m.tmmx)/sum(w.wght) AS tmmx,
         |    sum(w.wght*m.tmmn)/sum(w.wght) AS tmmn,
         |    sum(w.wght*m.pr)/sum(w.wght) AS pr,
         |    sum(w.wght*m.sph)/sum(w.wght) AS sph
         |  FROM med m JOIN w ON m.i = w.i AND m.j = w.j GROUP BY 1, 2),
         |dom AS (SELECT f.fid, t.time
         |  FROM (SELECT DISTINCT p_partkey % 40 AS fid FROM part) f
         |  CROSS JOIN (SELECT DISTINCT time FROM agg) t),
         |fin AS (SELECT d.fid AS nhru, d.time,
         |    a.tmmx - 273.15 AS tmax, a.tmmn - 273.15 AS tmin,
         |    a.pr AS prcp, a.sph AS sph
         |  FROM dom d LEFT JOIN agg a ON d.fid = a.fid AND d.time = a.time),
         |rh AS (SELECT nhru, time, tmax, tmin, prcp, sph,
         |    sph * (1013.25 * exp(-9.80665 * (nhru * 75.0)
         |        / (287.05 * (((tmax + 273.15) + (tmin + 273.15)) / 2.0)))) / 0.622
         |      / (6.1094 * exp(17.625
         |           * ((((tmax + 273.15) + (tmin + 273.15)) / 2.0) - 273.15)
         |           / (((((tmax + 273.15) + (tmin + 273.15)) / 2.0) - 273.15)
         |              + 243.04)))
         |      * 100.0 AS humidity
         |  FROM fin)
         |SELECT nhru, time, round(tmax, 4) AS tmax, round(tmin, 4) AS tmin,
         |  round(prcp, 4) AS prcp, round(sph, 6) AS sph,
         |  round(humidity, 4) AS humidity
         |FROM rh""".stripMargin
    },

    // ---- CFSv2 method-2 pipeline END-TO-END on the oracle surface:
    // the reference's per-member loop + concat (`etl.py:361-383`,
    // `etl.py:532-539`) dissolved into ONE DAG — `ens` rides as a
    // grouping key through bbox subset (F2) → per-member area-weighted
    // mean (A1/U2, no median stage) → rename/K→°C finalize (F7/C1) →
    // RH from specific humidity (C5 + the J4 elevation broadcast
    // join). Closes the e2e asymmetry with method 1 (q100). ----
    query("q103_cfsv2_ensemble")((s, dir) => {
      val li = t(s, dir, "lineitem")
      val grid = li.select(
        date_trunc("month", col("l_shipdate")).cast("date").as("time"),
        (col("l_orderkey") % 4).as("ens"),
        (col("l_partkey") % 25).as("i"),
        (col("l_suppkey") % 10).as("j"),
        ((col("l_partkey") % 25) * 0.5).as("lon"),
        ((col("l_suppkey") % 10) * 0.5).as("lat"),
        (col("l_quantity") + 273.15).as("tmmx"),
        (col("l_quantity") + 262.85).as("tmmn"),
        (col("l_extendedprice") / 1000).as("pr"),
        (col("l_discount") / 10).as("sph"))
      val features = t(s, dir, "part")
        .select((col("p_partkey") % 40).as("fid")).distinct()
        .withColumn("minx", lit(2.0)).withColumn("miny", lit(1.0))
        .withColumn("maxx", lit(10.0)).withColumn("maxy", lit(4.0))
      val weights = weightsFromPart(t(s, dir, "part"))
      val elev = features.select(col("fid").as("nhru"),
        (col("fid") * 75.0).as("elev"))
      graft.etl.GridmetPipeline
        // preCombine: the synthetic grid has ~7 lineitem rows per
        // (time, ens, i, j) cell — collapsing before the ~80-weights-
        // per-cell broadcast join shrinks its output ~7×
        .cfsv2Ensemble(grid, weights, features, elev, preCombine = true)
        .select(col("nhru"), col("ens"), col("time"),
          round(col("tmax"), 4).as("tmax"), round(col("tmin"), 4).as("tmin"),
          round(col("prcp"), 4).as("prcp"), round(col("sph"), 6).as("sph"),
          round(col("humidity"), 4).as("humidity"))
    }) {
      // q103: the CFSv2 method-2 chain — q100's CTE body with the median
      // stage REMOVED and `ens` added to every grouping/domain key (the
      // reference's 48-member loop flattened into one grouped
      // aggregation); the K→°C/°C→K round-trip and q09 physics identical
      // to q100. The `cells` CTE mirrors the engine's preCombine stage
      // (Σw·Σx / Σw·n, not row-level Σw·x / Σw): algebraically equal but
      // not bit-equal doubles — the oracle mirrors the engine's
      // OPERATION ORDER, like every other query, so a value landing on a
      // rounding boundary can't flip on one side only.
      s"""WITH g AS (SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS time,
         |    l_orderkey % 4 AS ens,
         |    l_partkey % 25 AS i, l_suppkey % 10 AS j,
         |    (l_partkey % 25) * 0.5 AS lon, (l_suppkey % 10) * 0.5 AS lat,
         |    l_quantity + 273.15 AS tmmx, l_quantity + 262.85 AS tmmn,
         |    l_extendedprice / 1000 AS pr, l_discount / 10 AS sph
         |  FROM lineitem),
         |sub AS (SELECT * FROM g
         |  WHERE lon BETWEEN 2.0 - 0.04167 AND 10.0 + 0.04167
         |    AND lat BETWEEN 1.0 - 0.04167 AND 4.0 + 0.04167),
         |w AS ($weightsSql),
         |cells AS (SELECT time, ens, i, j, count(*) AS n,
         |    sum(tmmx) AS s_tmmx, sum(tmmn) AS s_tmmn,
         |    sum(pr) AS s_pr, sum(sph) AS s_sph
         |  FROM sub GROUP BY 1, 2, 3, 4),
         |agg AS (SELECT w.fid, m.time, m.ens,
         |    sum(w.wght*m.s_tmmx)/sum(w.wght*m.n) AS tmmx,
         |    sum(w.wght*m.s_tmmn)/sum(w.wght*m.n) AS tmmn,
         |    sum(w.wght*m.s_pr)/sum(w.wght*m.n) AS pr,
         |    sum(w.wght*m.s_sph)/sum(w.wght*m.n) AS sph
         |  FROM cells m JOIN w ON m.i = w.i AND m.j = w.j GROUP BY 1, 2, 3),
         |dom AS (SELECT f.fid, t.time, e.ens
         |  FROM (SELECT DISTINCT p_partkey % 40 AS fid FROM part) f
         |  CROSS JOIN (SELECT DISTINCT time FROM agg) t
         |  CROSS JOIN (SELECT DISTINCT ens FROM agg) e),
         |fin AS (SELECT d.fid AS nhru, d.ens, d.time,
         |    a.tmmx - 273.15 AS tmax, a.tmmn - 273.15 AS tmin,
         |    a.pr AS prcp, a.sph AS sph
         |  FROM dom d LEFT JOIN agg a
         |    ON d.fid = a.fid AND d.time = a.time AND d.ens = a.ens),
         |rh AS (SELECT nhru, ens, time, tmax, tmin, prcp, sph,
         |    sph * (1013.25 * exp(-9.80665 * (nhru * 75.0)
         |        / (287.05 * (((tmax + 273.15) + (tmin + 273.15)) / 2.0)))) / 0.622
         |      / (6.1094 * exp(17.625
         |           * ((((tmax + 273.15) + (tmin + 273.15)) / 2.0) - 273.15)
         |           / (((((tmax + 273.15) + (tmin + 273.15)) / 2.0) - 273.15)
         |              + 243.04)))
         |      * 100.0 AS humidity
         |  FROM fin)
         |SELECT nhru, ens, time, round(tmax, 4) AS tmax, round(tmin, 4) AS tmin,
         |  round(prcp, 4) AS prcp, round(sph, 6) AS sph,
         |  round(humidity, 4) AS humidity
         |FROM rh""".stripMargin
    },

    // ---- J2 scale path on the oracle surface: grid-binned NN argmin —
    // donors replicate to their 3×3 cell ring, candidates come from one
    // equi-join on the miss point's cell, sub-cellSize winners accept
    // in-ring (provably global), the sparse tail falls back to the
    // exact broadcast scan. Result-identical to q05's form
    // (FillMissingSpec pins equality); the oracle is the plain exact
    // argmin — the binning must be invisible in the values. ----
    query("q104_nn_argmin_binned")((s, dir) => {
      val c = t(s, dir, "customer")
      val pts = c.select(col("c_custkey").as("fid"),
        ((col("c_custkey") % 100) * 0.37).as("lat"),
        ((col("c_custkey") % 73) * 0.53).as("lon"),
        col("c_acctbal"))
      val miss = pts.filter(col("c_acctbal") < 0).drop("c_acctbal")
      val donors = pts.filter(col("c_acctbal") >= 0).drop("c_acctbal")
      FillMissing.nearestMappingBinned(miss, donors, cellSize = 2.0)
        .select(col("miss_fid"), col("fill_fid"),
          round(col("distance"), 6).as("distance"))
    }) {
      // q104: the oracle is the EXACT argmin (q05's window form over 2D
      // points) — the engine's grid-binning and fallback must be
      // value-invisible. Literal doubles CAST explicitly (DuckDB would
      // otherwise compute the coordinate products in DECIMAL).
      """WITH pts AS (SELECT c_custkey AS fid,
        |    (c_custkey % 100) * CAST(0.37 AS DOUBLE) AS lat,
        |    (c_custkey % 73) * CAST(0.53 AS DOUBLE) AS lon,
        |    c_acctbal AS bal FROM customer),
        | m AS (SELECT fid, lat, lon FROM pts WHERE bal < 0),
        | d AS (SELECT fid, lat, lon FROM pts WHERE bal >= 0),
        | p AS (SELECT m.fid AS miss_fid, d.fid AS fill_fid,
        |         sqrt((m.lon-d.lon)*(m.lon-d.lon) + (m.lat-d.lat)*(m.lat-d.lat)) AS dist,
        |         row_number() OVER (PARTITION BY m.fid
        |           ORDER BY sqrt((m.lon-d.lon)*(m.lon-d.lon) + (m.lat-d.lat)*(m.lat-d.lat)), d.fid) AS rn
        |       FROM m CROSS JOIN d)
        |SELECT miss_fid, fill_fid, round(dist, 6) AS distance FROM p WHERE rn = 1""".stripMargin
    }
  )
}
