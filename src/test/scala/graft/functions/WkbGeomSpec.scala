package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.{ByteBuffer, ByteOrder}
import graft.sources.Staging

/** WKB envelope/centroid parser + polygon builder. */
class WkbGeomSpec extends SparkSpec {
  import spark.implicits._
  import WkbGeom.{wkbEnvelopeCentroid, wkbPolygon}

  private def env(wkb: Array[Byte]): (Double, Double, Double, Double, Double, Double) = {
    val r = Seq(Tuple1(wkb)).toDF("g")
      .select(wkbEnvelopeCentroid($"g").as("e"))
      .select($"e.minx", $"e.miny", $"e.maxx", $"e.maxy", $"e.cx", $"e.cy")
      .as[(Double, Double, Double, Double, Double, Double)].head()
    r
  }

  private def point(x: Double, y: Double, bigEndian: Boolean): Array[Byte] = {
    val buf = ByteBuffer.allocate(21)
      .order(if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    buf.put(if (bigEndian) 0.toByte else 1.toByte)
    buf.putInt(1); buf.putDouble(x); buf.putDouble(y)
    buf.array()
  }

  private def rawPolygon(
      rings: Seq[Seq[(Double, Double)]], bigEndian: Boolean): Array[Byte] = {
    val n = rings.map(_.size).sum
    val buf = ByteBuffer.allocate(1 + 4 + 4 + rings.size * 4 + n * 16)
      .order(if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    buf.put(if (bigEndian) 0.toByte else 1.toByte)
    buf.putInt(3); buf.putInt(rings.size)
    rings.foreach { ring =>
      buf.putInt(ring.size)
      ring.foreach { case (x, y) => buf.putDouble(x); buf.putDouble(y) }
    }
    buf.array()
  }

  test("point: bbox collapses to the point, centroid is the point") {
    for (be <- Seq(true, false)) {
      assert(env(point(3.5, -2.25, be)) == (3.5, -2.25, 3.5, -2.25, 3.5, -2.25))
    }
  }

  test("unit square: centroid at center, both byte orders, closed or not") {
    val closed = Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0))
    for (be <- Seq(true, false); ring <- Seq(closed, closed.init)) {
      val (minx, miny, maxx, maxy, cx, cy) = env(rawPolygon(Seq(ring), be))
      assert((minx, miny, maxx, maxy) == (0.0, 0.0, 2.0, 2.0))
      assert(cx == 1.0 && cy == 1.0)
    }
  }

  test("polygon with hole: centroid shifts away from the hole; winding-agnostic") {
    val outer = Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0))
    // 1×1 hole centered at (1, 2): pulls the centroid toward +x
    val holeCcw = Seq((0.5, 1.5), (1.5, 1.5), (1.5, 2.5), (0.5, 2.5), (0.5, 1.5))
    for (hole <- Seq(holeCcw, holeCcw.reverse)) {
      val (_, _, _, _, cx, cy) = env(rawPolygon(Seq(outer, hole), bigEndian = false))
      // A=16 centroid (2,2) minus A=1 at (1,2) → cx = (16·2 − 1·1)/15
      assert(approx(cx, 31.0 / 15.0, 1e-12), cx)
      assert(approx(cy, 2.0, 1e-12), cy)
    }
  }

  test("multipolygon: area-weighted centroid over members") {
    val p1 = rawPolygon(Seq(Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0))), false)
    val p2 = rawPolygon(Seq(Seq((10.0, 0.0), (11.0, 0.0), (11.0, 1.0), (10.0, 1.0))), true)
    val buf = ByteBuffer.allocate(1 + 4 + 4 + p1.length + p2.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(1.toByte); buf.putInt(6); buf.putInt(2); buf.put(p1); buf.put(p2)
    val (minx, miny, maxx, maxy, cx, cy) = env(buf.array())
    assert((minx, miny, maxx, maxy) == (0.0, 0.0, 11.0, 2.0))
    // A=4 at (1,1) + A=1 at (10.5, 0.5) → (4·1 + 10.5)/5, (4 + 0.5)/5
    assert(approx(cx, 14.5 / 5.0, 1e-12), cx)
    assert(approx(cy, 4.5 / 5.0, 1e-12), cy)
  }

  test("builder round-trips through the parser; stays inside codegen") {
    // parquet-backed: a local relation would constant-fold to a
    // LocalTableScan with no codegen stage to observe
    val dir = Staging.scratchDir("graft-wkb").toString
    Seq((1L, 2.0), (2L, 3.0)).toDF("id", "s").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select($"id",
        wkbPolygon(array(lit(0.0), $"s", $"s", lit(0.0)),
          array(lit(0.0), lit(0.0), $"s", $"s")).as("g"))
      .select($"id", wkbEnvelopeCentroid($"g").as("e"))
    val byId = df.select($"id", $"e.maxx", $"e.cx")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId(1L) == ((2.0, 1.0)))
    assert(byId(2L) == ((3.0, 1.5)))
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l =>
      l.contains("*(") && l.contains("wkb_envelope_centroid")), p)
  }

  test("features table derivation from WKB (Sources.featuresFromWkb)") {
    val geo = Seq((7L, 1.0)).toDF("fid", "o")
      .select($"fid", wkbPolygon(
        array($"o", $"o" + 2.0, $"o" + 2.0, $"o"),
        array($"o", $"o", $"o" + 2.0, $"o" + 2.0)).as("geometry"))
    val f = graft.sources.Sources.featuresFromWkb(geo, "fid")
      .as[(Long, Double, Double, Double, Double, Double, Double)].head()
    assert(f == ((7L, 2.0, 2.0, 1.0, 1.0, 3.0, 3.0)))
  }
}
