package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import graft.sources.Staging

/** End-to-end pipeline over a synthetic fixture replicating the
  * reference's shape (SURVEY.md §5 strategy 5), plus the golden output
  * schema distilled from gm_header.md. */
class GridmetPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val t1 = Timestamp.valueOf("2021-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2021-01-02 00:00:00")

  // 2×2 grid, 2 days, all 6 gridMET vars; temps in Kelvin
  private def grid = {
    val rows = for {
      (t, dayOff) <- Seq((t1, 0.0), (t2, 1.0))
      i <- 0 to 1; j <- 0 to 1
    } yield (t, j, i, 40.0 + j, -100.0 + i,
      290.0 + i + dayOff, 280.0 + i + dayOff,  // tmmx, tmmn (K)
      2.0 * i, 80.0 + i, 40.0 + i, 3.0 + i)    // pr, rmax, rmin, vs
    rows.toDF("time", "j", "i", "lat", "lon", "tmmx", "tmmn", "pr", "rmax", "rmin", "vs")
  }

  private def weights = Seq(
    (1L, 0, 0, 0.5), (1L, 1, 0, 0.5),  // f1: half cell(0,0), half cell(1,0)
    (2L, 1, 1, 1.0)                    // f2: all of cell(1,1)
  ).toDF("fid", "i", "j", "wght")

  private def features = Seq(
    (1L, 40.0, -99.5, -100.0, 40.0, -99.0, 41.0),
    (2L, 41.0, -99.0, -100.0, 40.0, -99.0, 41.0)
  ).toDF("fid", "lat", "lon", "minx", "miny", "maxx", "maxy")

  test("gridmet pipeline: contract schema and hand-computed values") {
    val out = GridmetPipeline.gridmet(grid, weights, features,
      start = "2021-01-01", end = "2021-01-02")
    assert(out.columns.toSet ==
      Set("nhru", "time", "tmax", "tmin", "prcp", "rhmax", "rhmin", "ws", "humidity"))
    val r = out.filter($"nhru" === 1 && $"time" === t1)
      .select("tmax", "tmin", "prcp", "rhmax", "rhmin", "ws", "humidity")
      .as[(Double, Double, Double, Double, Double, Double, Double)].head()
    // f1 avg of i=0,1: tmmx=290.5K→17.35C, tmmn=280.5K→7.35C, pr=1.0,
    // rmax=80.5, rmin=40.5, vs=3.5, humidity=40.5+80.5/2=80.75
    assert(approx(r._1, 17.35) && approx(r._2, 7.35))
    assert(r._3 == 1.0 && r._4 == 80.5 && r._5 == 40.5 && r._6 == 3.5)
    assert(approx(r._7, 80.75))
  }

  test("gridmet pipeline: time subset filters days") {
    val out = GridmetPipeline.gridmet(grid, weights, features,
      start = "2021-01-01", end = "2021-01-01")
    assert(out.select("time").distinct().count() == 1)
  }

  test("gridmet pipeline is invariant to an NTZ-encoded staged-grid time column") {
    // an externally-staged parquet grid can carry `time` as
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) → TimestampNTZType
    // (the round-8 events drift class); the pipeline must produce the
    // identical series through either encoding
    val dir = Staging.scratchDir("grid_ntz").toString
    grid.withColumn("time",
        col("time").cast(org.apache.spark.sql.types.TimestampNTZType))
      .write.mode("overwrite").parquet(dir)
    val ntzGrid = spark.read.parquet(dir)
    assert(ntzGrid.schema("time").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    def run(g: org.apache.spark.sql.DataFrame) = rows(
      GridmetPipeline.gridmet(g, weights, features,
          start = "2021-01-01", end = "2021-01-01")
        .select(col("nhru"), unix_micros(col("time")).as("us"),
          round(col("tmax"), 6), round(col("humidity"), 6)))
    assert(run(ntzGrid) == run(grid))
    assert(run(ntzGrid).nonEmpty)
  }

  test("gridmet pipeline: units metadata reaches the output contract") {
    val out = GridmetPipeline.gridmet(grid, weights, features,
      start = "2021-01-01", end = "2021-01-02")
    val md = out.schema("tmax").metadata
    assert(md.getString("units") == "degree_Celsius")
  }

  test("bbox subset keeps in-bounds cells, with one-cell buffer") {
    val sub = GridmetPipeline.bboxSubset(grid, features, buffer = 0.04167)
    assert(sub.count() == grid.count()) // fixture grid inside feature bbox
    val far = grid.withColumn("lon", col("lon") + 50)
    assert(GridmetPipeline.bboxSubset(far, features).count() == 0)
  }

  test("fill path replaces a feature with no grid coverage") {
    // feature 3 references a cell outside the grid → all-null series
    val w3 = weights.union(Seq((3L, 9, 9, 1.0)).toDF("fid", "i", "j", "wght"))
    val f3 = features.union(
      Seq((3L, 40.1, -99.6, -100.0, 40.0, -99.0, 41.0))
        .toDF("fid", "lat", "lon", "minx", "miny", "maxx", "maxy"))
    // both calls cache what they persist; release it with the test
    GridmetPipeline.releasingCaches {
      val unfilled = GridmetPipeline.gridmet(grid, w3, f3,
        start = "2021-01-01", end = "2021-01-02")
      // weighted-mean inner join drops fid 3 entirely (no matching cells);
      // reference semantics: the feature exists with NaNs — fill stage needs
      // the row present, so the pipeline reindexes before filling
      val filled = GridmetPipeline.gridmet(grid, w3, f3,
        start = "2021-01-01", end = "2021-01-02", fillMissing = true)
      val f3row = filled.filter($"nhru" === 3 && $"time" === t1)
        .select("tmax").as[Double].collect()
      assert(f3row.length == 1, s"fid 3 present after fill (got ${filled.count()} rows total)")
      // donor must be fid 1 (nearest centroid to (40.1,-99.6))
      val donor = filled.filter($"nhru" === 1 && $"time" === t1)
        .select("tmax").as[Double].head()
      assert(f3row.head == donor)
      // without fill, the feature is still present (reference: dense
      // feature×time output array) but all-null
      val unfilledF3 = unfilled.filter($"nhru" === 3).select("tmax").collect()
      assert(unfilledF3.length == 2 && unfilledF3.forall(_.isNullAt(0)))
    }
  }

  test("the derived fill equals the join-based fill of the unfilled series, units kept") {
    // features 3 (no grid coverage) and 4 (its only cell is null on the
    // first day) are missing; feature 4's later days are overwritten too
    val g = grid.withColumn("tmmx",
      when($"i" === 0 && $"j" === 1 && $"time" === t1, lit(null)).otherwise($"tmmx"))
    val w = weights.union(Seq((3L, 9, 9, 1.0), (4L, 0, 1, 1.0)).toDF("fid", "i", "j", "wght"))
    val f = features.union(Seq(
        (3L, 40.1, -99.6, -100.0, 40.0, -99.0, 41.0),
        (4L, 40.4, -99.2, -100.0, 40.0, -99.0, 41.0))
      .toDF("fid", "lat", "lon", "minx", "miny", "maxx", "maxy"))
    GridmetPipeline.releasingCaches {
      val run = GridmetPipeline.gridmetWithMapping(g, w, f,
        start = "2021-01-01", end = "2021-01-02", fillMissing = true)
      val mapping = run.derivedMapping.get
      assert(mapping.select("miss_fid").as[Long].collect().toSeq == Seq(3L, 4L))
      val unfilled = GridmetPipeline.gridmet(g, w, f, start = "2021-01-01", end = "2021-01-02")
      val viaJoin = GridmetPipeline.applyFill(unfilled, mapping)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(viaJoin.columns.map(col).toIndexedSeq: _*).collect().map(_.toString).sorted.toSeq
      assert(rows(run.series) == rows(viaJoin))
      assert(run.series.count() == f.count() * 2)
      for (out <- Seq(run.series, viaJoin))
        assert(out.schema("tmax").metadata.getString("units") == "degree_Celsius")
    }
  }

  test("fillMapping splits on the earliest timestep only") {
    // nhru 1 null at t1 (→ missing) but present at t2; nhru 2 the
    // opposite (present: only the first timestep counts, helper.py:45)
    val ts = Seq(
      (1L, t1, None: Option[Double]), (1L, t2, Some(5.0)),
      (2L, t1, Some(3.0)), (2L, t2, None: Option[Double]),
      (3L, t1, Some(4.0)), (3L, t2, Some(6.0))
    ).toDF("nhru", "time", "tmax")
    val feats = Seq((1L, 40.0, -99.0), (2L, 40.0, -98.0), (3L, 40.0, -99.5))
      .toDF("fid", "lat", "lon")
    val m = GridmetPipeline.fillMapping(ts, feats).get
      .select("miss_fid", "fill_fid", "distance").as[(Long, Long, Double)].collect()
    assert(m.toSeq == Seq((1L, 3L, 0.5)))
    // nothing null at the first timestep → no mapping (helper.py:48-50)
    assert(GridmetPipeline.fillMapping(ts.filter($"nhru" =!= 1), feats).isEmpty)
  }

  test("cfsv2 median and ensemble methods produce contract columns") {
    val g4 = Seq(0, 1, 2).flatMap { e =>
      Seq((t1, e, 0, 0, 40.0, -100.0, 285.0 + e, 275.0 + e, 1.0, 0.008),
        (t1, e, 1, 0, 40.0, -99.0, 286.0 + e, 276.0 + e, 2.0, 0.009))
    }.toDF("time", "ens", "i", "j", "lat", "lon", "tmmx", "tmmn", "pr", "sph")
    val elev = Seq((1L, 100.0), (2L, 200.0)).toDF("nhru", "elev")

    val med = GridmetPipeline.cfsv2Median(g4, weights, features, elev)
    assert(med.columns.toSet == Set("nhru", "time", "tmax", "tmin", "prcp", "sph", "humidity"))
    // median over ens {285,286,287}+i → 286+i; f1 mean over i=0,1 → 286.5K → 13.35C
    val m = med.filter($"nhru" === 1).select("tmax").as[Double].head()
    assert(approx(m, 286.5 - 273.15))

    val ens = GridmetPipeline.cfsv2Ensemble(g4, weights, features, elev)
    assert(ens.columns.toSet == Set("nhru", "ens", "time", "tmax", "tmin", "prcp", "sph", "humidity"))
    assert(ens.select("ens").distinct().count() == 3)
  }
}
