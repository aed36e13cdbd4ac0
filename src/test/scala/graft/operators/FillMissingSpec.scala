package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** J2 NN arg-min (ties), J3 series overwrite. */
class FillMissingSpec extends SparkSpec {
  import spark.implicits._

  test("nearestMapping picks closest donor; ties break on smaller fid") {
    val miss = Seq((10L, 0.0, 0.0)).toDF("fid", "lat", "lon")
    // donors at distance 5 (two, tie) and 13
    val donors = Seq(
      (3L, 3.0, 4.0), (2L, 4.0, 3.0), (7L, 5.0, 12.0)
    ).toDF("fid", "lat", "lon")
    val m = FillMissing.nearestMapping(miss, donors)
      .as[(Long, Long, Double)].collect()
    assert(m.toSeq == Seq((10L, 2L, 5.0))) // tie at d=5 → smaller donor fid
  }

  test("nearestMapping maps every missing feature") {
    val miss = Seq((1L, 0.0, 0.0), (2L, 10.0, 10.0)).toDF("fid", "lat", "lon")
    val donors = Seq((5L, 1.0, 0.0), (6L, 10.0, 9.0)).toDF("fid", "lat", "lon")
    val m = FillMissing.nearestMapping(miss, donors)
      .select("miss_fid", "fill_fid").as[(Long, Long)].collect().toMap
    assert(m == Map(1L -> 5L, 2L -> 6L))
  }

  test("nearestMappingLocal equals the Spark argmin, ties and distances included") {
    // points on a small lattice: many donors tie at the same distance,
    // some sit exactly on a missing point
    val pts = (0L until 300L).map(i => (i, (i * 37 % 11).toDouble * 0.1, (i * 53 % 13).toDouble * 0.3))
    val (miss, donors) = pts.partition(_._1 % 5 == 0)
    val viaSpark = FillMissing.nearestMapping(
        miss.toDF("fid", "lat", "lon"), donors.toDF("fid", "lat", "lon"))
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(viaSpark.length == miss.length)
    assert(FillMissing.nearestMappingLocal(miss, donors) == viaSpark)
    assert(FillMissing.nearestMappingLocal(miss, Nil).isEmpty)
  }

  test("fillSeries overwrites the whole missing series with the donor's") {
    val t1 = Timestamp.valueOf("2021-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2021-01-02 00:00:00")
    val ts = Seq(
      (1L, t1, None: Option[Double], Some(1.1)), (1L, t2, None: Option[Double], Some(9.9)),
      (2L, t1, Some(3.0), Some(2.2)), (2L, t2, Some(4.0), None: Option[Double])
    ).toDF("fid", "time", "a", "b")
    val mapping = Seq((1L, 2L)).toDF("miss_fid", "fill_fid")
    val out = FillMissing.fillSeries(ts, mapping, Seq("a", "b"))
      .orderBy("fid", "time")
      .as[(Long, Timestamp, Option[Double], Option[Double])].collect()
    assert(out.toSeq == Seq(
      (1L, t1, Some(3.0), Some(2.2)),  // donor values (b: 1.1 overwritten)
      (1L, t2, Some(4.0), None),       // donor's null copies too (aligned assign)
      (2L, t1, Some(3.0), Some(2.2)),  // donor untouched
      (2L, t2, Some(4.0), None)))
  }

  private def mappingSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("miss_fid"), col("fill_fid"),
        round(col("distance"), 9).as("distance"))
      .as[(Long, Long, Double)].collect().toSet

  test("nearestMappingBinned equals the exact broadcast argmin (random 2D)") {
    // deterministic pseudo-random 2D scatter: ~1/4 missing, mixed
    // densities so some points resolve in-ring and some fall back
    val pts = (0L until 400L).map { i =>
      (i, (i * 37 % 101).toDouble * 0.13, (i * 53 % 89).toDouble * 0.17)
    }
    val miss = pts.filter(_._1 % 4 == 0).toDF("fid", "lat", "lon")
    val donors = pts.filter(_._1 % 4 != 0).toDF("fid", "lat", "lon")
    val exact = mappingSet(FillMissing.nearestMapping(miss, donors))
    for (cell <- Seq(0.5, 2.0, 50.0)) // tiny (mostly fallback) → huge (one bin)
      assert(mappingSet(
        FillMissing.nearestMappingBinned(miss, donors, cell)) == exact,
        s"cellSize=$cell diverges from the exact argmin")
  }

  test("nearestMappingBinned: boundary tie at exactly cellSize stays exact") {
    // donor 2 inside the ring at d=1.0 == cellSize, donor 1 OUTSIDE the
    // 3x3 ring also at d=1.0 — the smaller fid must win, which only
    // happens if the boundary case falls back to the exact scan
    val miss = Seq((10L, 0.0, 0.0)).toDF("fid", "lat", "lon")
    val donors = Seq((2L, 0.0, 1.0), (1L, 0.0, -1.0)).toDF("fid", "lat", "lon")
    val out = mappingSet(FillMissing.nearestMappingBinned(miss, donors, 1.0))
    assert(out == mappingSet(FillMissing.nearestMapping(miss, donors)))
    assert(out == Set((10L, 1L, 1.0)))
  }

  test("nearestMappingBinned: isolated point with an empty ring falls back") {
    val miss = Seq((1L, 0.0, 0.0)).toDF("fid", "lat", "lon")
    val donors = Seq((7L, 100.0, 100.0)).toDF("fid", "lat", "lon")
    val out = mappingSet(FillMissing.nearestMappingBinned(miss, donors, 1.0))
    assert(out == mappingSet(FillMissing.nearestMapping(miss, donors)))
  }

  test("nearestMappingBinned: negative coordinates bin correctly") {
    // floor (not int-truncation toward zero) must place negative coords:
    // a donor at -0.1 and a miss at -0.9 share cell floor(-0.x)= -1
    val miss = Seq((1L, -0.9, -0.9)).toDF("fid", "lat", "lon")
    val donors = Seq((2L, -0.1, -0.1), (3L, -5.0, -5.0)).toDF("fid", "lat", "lon")
    val out = mappingSet(FillMissing.nearestMappingBinned(miss, donors, 1.0))
    assert(out == mappingSet(FillMissing.nearestMapping(miss, donors)))
    assert(out.head._2 == 2L)
  }
}
