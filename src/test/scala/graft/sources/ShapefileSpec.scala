package graft.sources

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Shapefile reader against spec-conformant fixtures, cross-checked
  * through the SAME WKB derivation the GeoParquet path uses — so both
  * ingestion suffixes provably land in one geometry pipeline. */
class ShapefileSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Staging.scratchDir("graft_shp_").toString

  test("polygon .shp + .dbf round-trips through the WKB feature path") {
    val dir = tmp()
    // two rectangles, closed CW rings (outer rings are CW per spec)
    def rect(x0: Double, y0: Double, w: Double, h: Double) =
      Seq((x0, y0), (x0, y0 + h), (x0 + w, y0 + h), (x0 + w, y0), (x0, y0))
    val path = ShpTestData.write(dir, "feats", Seq(
      7L -> Seq(rect(-100.0, 40.0, 1.0, 1.0)),
      9L -> Seq(rect(-98.5, 41.0, 2.0, 0.5))))
    val f = Sources.shapefileFeatures(spark, path, "nhru_v1_1")
      .orderBy("fid").collect()
    assert(f.map(_.getLong(0)).toSeq === Seq(7L, 9L))
    val r7 = f(0)
    assert(r7.getDouble(1) === 40.5)  // lat = centroid y
    assert(r7.getDouble(2) === -99.5) // lon = centroid x
    assert((r7.getDouble(3), r7.getDouble(4), r7.getDouble(5), r7.getDouble(6))
      === ((-100.0, 40.0, -99.0, 41.0)))
    val r9 = f(1)
    assert(r9.getDouble(1) === 41.25 && r9.getDouble(2) === -97.5)
  }

  test("holes: multi-ring records keep ring structure (shoelace signs)") {
    val dir = tmp()
    // unit square with a centered half-size hole: area-weighted centroid
    // is still the center, bounds are the outer ring's
    val outer = Seq((0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0), (0.0, 0.0))
    val hole = Seq((1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0), (1.0, 1.0))
    val path = ShpTestData.write(dir, "holed", Seq(1L -> Seq(outer, hole)))
    val r = Sources.shapefileFeatures(spark, path, "nhru_v1_1").collect().head
    assert(r.getDouble(1) === 2.0 && r.getDouble(2) === 2.0)
    assert((r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      === ((0.0, 0.0, 4.0, 4.0)))
  }

  test("shapefile WKB equals the engine's own WKB builder output") {
    val dir = tmp()
    // a single-ring polygon written by ShpTestData must parse to the
    // byte-identical WKB the in-engine builder (wkbPolygon) emits
    val ring = Seq((1.0, 2.0), (1.0, 5.0), (4.0, 5.0), (1.0, 2.0))
    val path = ShpTestData.write(dir, "tri", Seq(3L -> Seq(ring)))
    val got = Shapefile.read(spark, path)
      .select("geometry").collect().head.getAs[Array[Byte]](0)
    import graft.functions.WkbGeom.wkbPolygon
    val want = spark.range(1).select(wkbPolygon(
        typedLit(ring.dropRight(1).map(_._1)),
        typedLit(ring.dropRight(1).map(_._2))).as("g"))
      .collect().head.getAs[Array[Byte]](0)
    assert(got.toSeq === want.toSeq)
  }

  test("dbf attribute types: N→long, N.dec→double, C→string") {
    val dir = tmp()
    val path = ShpTestData.write(dir, "one",
      Seq(42L -> Seq(Seq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (0.0, 0.0)))))
    val df = Shapefile.read(spark, path)
    assert(df.schema("nhru_v1_1").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(df.select("nhru_v1_1").as[Long].collect().toSeq === Seq(42L))
  }

  test("missing .dbf falls back to 1-based record numbers") {
    val dir = tmp()
    val path = ShpTestData.write(dir, "nodbf",
      Seq(5L -> Seq(Seq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (0.0, 0.0)))))
    Files.delete(java.nio.file.Paths.get(path.replace(".shp", ".dbf")))
    val df = Shapefile.read(spark, path)
    assert(df.select("fid").as[Long].collect().toSeq === Seq(1L))
  }

  test("CRS reprojection: a UTM .prj round-trips to its geographic twin") {
    // the same triangle written twice: once in lon/lat, once forward-
    // projected to UTM 13N — reading the projected file must recover
    // the geographic coordinates (bbox + WKB) to survey tolerance
    import graft.functions.WkbGeom
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val tri = Seq((-105.3, 39.5), (-105.3, 40.2), (-104.6, 40.2), (-105.3, 39.5))
    val utmWkt =
      """PROJCS["WGS 84 / UTM zone 13N",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",-105],PARAMETER["scale_factor",0.9996],PARAMETER["false_easting",500000],PARAMETER["false_northing",0],UNIT["metre",1]]"""
    val fwd = CrsTransform.fromProjcsWkt(utmWkt).forward
    val geoPath = ShpTestData.write(dir, "geo_twin",
      Seq(1L -> Seq(tri.map { case (x, y) => (x, y) })))
    val projPath = ShpTestData.write(dir, "utm_twin",
      Seq(1L -> Seq(tri.map { case (lon, lat) => fwd(lon, lat) })))
    Files.writeString(
      java.nio.file.Paths.get(projPath.replace(".shp", ".prj")), utmWkt)
    def env(path: String): Seq[Double] =
      Shapefile.read(spark, path)
        .select(WkbGeom.wkbEnvelopeCentroid(col("geometry")).as("e"))
        .collect().head.getStruct(0).toSeq.map(_.asInstanceOf[Double])
    val eg = env(geoPath)
    val ep = env(projPath)
    eg.zip(ep).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-7, s"envelope/centroid: $eg vs $ep") }
  }

  test("CRS contract: a projected .prj is rejected loudly") {
    // the reference reprojects (etl.py:321-322); this engine requires
    // pre-projected lon/lat and must FAIL, not silently subset with
    // meters-as-degrees
    val dir = tmp()
    val path = ShpTestData.write(dir, "proj",
      Seq(1L -> Seq(Seq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (0.0, 0.0)))))
    Files.writeString(java.nio.file.Paths.get(path.replace(".shp", ".prj")),
      """PROJCS["NAD83 / Conus Albers",GEOGCS["NAD83",DATUM["North_American_Datum_1983",SPHEROID["GRS 1980",6378137,298.257222101]]],PROJECTION["Albers_Conic_Equal_Area"],UNIT["metre",1]]""")
    val e = intercept[IllegalArgumentException] { Shapefile.read(spark, path) }
    assert(e.getMessage.contains("PROJECTED CRS"))
    assert(e.getMessage.contains("reproject"))
  }

  test("CRS contract: a geographic .prj passes; garbage is rejected") {
    val dir = tmp()
    val path = ShpTestData.write(dir, "geo",
      Seq(1L -> Seq(Seq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (0.0, 0.0)))))
    val prj = java.nio.file.Paths.get(path.replace(".shp", ".prj"))
    Files.writeString(prj,
      """GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["Degree",0.0174532925199433]]""")
    assert(Shapefile.read(spark, path).count() === 1L)
    Files.writeString(prj, """LOCAL_CS["ad-hoc engineering grid"]""")
    val e = intercept[IllegalArgumentException] { Shapefile.read(spark, path) }
    assert(e.getMessage.contains("unrecognized .prj CRS"))
  }

  test("CRS contract: a UTF-8 BOM'd geographic .prj still passes") {
    // Windows GIS tools commonly prepend EF BB BF; the classifier must
    // not mistake the BOM for the WKT keyword (round-6 review finding)
    val dir = tmp()
    val path = ShpTestData.write(dir, "bom",
      Seq(1L -> Seq(Seq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (0.0, 0.0)))))
    val wkt = """GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137,298.257223563]]]"""
    Files.write(java.nio.file.Paths.get(path.replace(".shp", ".prj")),
      (Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ wkt.getBytes("UTF-8")))
    assert(Shapefile.read(spark, path).count() === 1L)
  }
}
