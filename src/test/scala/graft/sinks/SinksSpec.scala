package graft.sinks

import graft.SparkSpec
import graft.model.Model
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import graft.sources.Staging

/** NetCDF contract sink: structure golden-tested against gm_header.md,
  * plus byte-level round-trip through the CDF-5 writer/reader. */
class SinksSpec extends SparkSpec {
  import spark.implicits._
  import NetcdfClassic._
  import NetcdfWholeFile._

  private def contractDf = {
    def t(d: String) = Timestamp.valueOf(s"$d 00:00:00")
    // 3 days × 2 hrus with one missing (null) tmax cell
    Seq(
      (10L, t("1980-01-01"), Some(1.5), 0.5, 0.1, 80.0, 40.0, 3.0, 55.0),
      (10L, t("1980-01-02"), None, 0.6, 0.2, 81.0, 41.0, 3.1, 56.0),
      (10L, t("1980-01-03"), Some(2.5), 0.7, 0.3, 82.0, 42.0, 3.2, 57.0),
      (20L, t("1980-01-01"), Some(3.5), 0.8, 0.4, 83.0, 43.0, 3.3, 58.0),
      (20L, t("1980-01-02"), Some(4.5), 0.9, 0.5, 84.0, 44.0, 3.4, 59.0),
      (20L, t("1980-01-03"), Some(5.5), 1.0, 0.6, 85.0, 45.0, 3.5, 60.0)
    ).toDF("nhru", "time", "tmax", "tmin", "prcp", "rhmax", "rhmin", "ws", "humidity")
  }

  private def featuresDf =
    Seq((10L, 40.1, -100.1), (20L, 40.2, -100.2)).toDF("fid", "lat", "lon")

  test("writeNetcdf emits the gm_header.md structure (CDF-5)") {
    val path = Staging.scratchDir("graft-nc")
      .resolve("1980-01-01_filled_converted.nc").toString
    Sinks.writeNetcdf(contractDf, featuresDf, path, start = "1980-01-01")
    val nc = NetcdfWholeFile.read(path)

    // dims exactly (time, nhru) — gm_header.md:8-10
    assert(nc.dims.map(d => (d.name, d.length)) == Seq(("time", 3L), ("nhru", 2L)))
    // declaration order and types — gm_header.md:11-78
    assert(nc.vars.map(_.name) == Seq("tmax", "crs", "tmin", "prcp", "rhmax",
      "rhmin", "ws", "time", "nhru", "lat", "lon", "humidity"))
    val byName = nc.vars.map(v => v.name -> v).toMap
    assert(byName("time").data.ncType == NcInt64)
    assert(byName("nhru").data.ncType == NcInt64)
    assert(nc.vars.filter(v => v.name != "time" && v.name != "nhru")
      .forall(_.data.ncType == NcDouble))
    // shapes: data vars (time, nhru); coords 1-D; crs scalar
    assert(byName("tmax").dimIds == Seq(0, 1) && byName("crs").dimIds.isEmpty)
    assert(byName("lat").dimIds == Seq(1) && byName("time").dimIds == Seq(0))

    def att(v: String, a: String): AttVal =
      byName(v).atts.find(_.name == a).get.value
    // contract attributes — gm_header.md:13-16, 63-78, 80-82
    assert(att("tmax", "_FillValue") == AttDoubles(Seq(Model.FillValue)))
    assert(att("tmax", "units") == AttText("degree_Celsius"))
    assert(att("tmax", "long_name") == AttText("tmmx"))
    assert(att("prcp", "units") == AttText("millimeter"))
    assert(att("ws", "units") == AttText("meter / second"))
    assert(att("tmax", "grid_mapping") == AttText("crs"))
    assert(att("tmax", "coordinates") == AttText("time lat lon"))
    assert(att("time", "units") == AttText("days since 1980-01-01 00:00:00"))
    assert(att("time", "calendar") == AttText("proleptic_gregorian"))
    assert(att("nhru", "feature_id") == AttText("nhru_v1_1"))
    assert(att("lat", "standard_name") == AttText("latitude"))
    assert(att("lon", "axis") == AttText("X"))
    assert(att("crs", "grid_mapping_name") == AttText("latitude_longitude"))
    assert(att("crs", "semi_major_axis") == AttDoubles(Seq(6378137.0)))
    assert(att("crs", "crs_wkt") == AttText(Model.CrsWkt))
    assert(nc.gatts.contains(Att("Conventions", AttText("CF-1.8"))))
    assert(nc.gatts.contains(Att("featureType", AttText("timeSeries"))))

    // data: row-major (time, nhru); int64 day offsets; null → _FillValue
    assert(byName("time").data.asInstanceOf[LongData].v.toSeq == Seq(0L, 1L, 2L))
    assert(byName("nhru").data.asInstanceOf[LongData].v.toSeq == Seq(10L, 20L))
    val tmax = byName("tmax").data.asInstanceOf[DoubleData].v
    assert(tmax.toSeq == Seq(1.5, 3.5, Model.FillValue, 4.5, 2.5, 5.5))
    val lat = byName("lat").data.asInstanceOf[DoubleData].v
    assert(lat.toSeq == Seq(40.1, 40.2))
    val hum = byName("humidity").data.asInstanceOf[DoubleData].v
    assert(hum.toSeq == Seq(55.0, 58.0, 56.0, 59.0, 57.0, 60.0))

    // CDF-5 magic on disk
    val head = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)).take(4)
    assert(head.toSeq == Seq[Byte]('C', 'D', 'F', 5))
  }

  test("CDF-5 writer/reader round-trips dims, attrs, int64 and doubles") {
    val path = Staging.scratchDir("graft-nc")
      .resolve("roundtrip.nc").toString
    val nc = Nc(
      dims = Seq(Dim("x", 3L)),
      gatts = Seq(Att("title", AttText("t")), Att("version", AttLongs(Seq(7L)))),
      vars = Seq(
        Var("v", Seq(0), Seq(Att("scale", AttDoubles(Seq(1.0, 2.0)))),
          DoubleData(Array(1.0, Double.NaN, 3.0))),
        Var("k", Seq(0), Nil, LongData(Array(Long.MinValue, 0L, Long.MaxValue)))))
    NetcdfWholeFile.write(path, nc)
    val back = NetcdfWholeFile.read(path)
    assert(back.dims == nc.dims)
    assert(back.gatts == nc.gatts)
    assert(back.vars.map(_.name) == Seq("v", "k"))
    val v = back.vars.head.data.asInstanceOf[DoubleData].v
    assert(v(0) == 1.0 && v(1).isNaN && v(2) == 3.0)
    assert(back.vars(1).data.asInstanceOf[LongData].v.toSeq ==
      Seq(Long.MinValue, 0L, Long.MaxValue))
    assert(back.vars.head.atts == nc.vars.head.atts)
  }

  test("format(netcdf-classic) re-ingests the sink's file back to the contract table") {
    val path = Staging.scratchDir("graft-nc")
      .resolve("reingest.nc").toString
    Sinks.writeNetcdf(contractDf, featuresDf, path, start = "1980-01-01")
    val back = spark.read.format("netcdf-classic").load(path)
    assert(back.columns.toSeq == Seq("nhru", "time", "tmax", "tmin", "prcp",
      "rhmax", "rhmin", "ws", "humidity"))
    // value-identical to the original series, including the null cell
    // (fill sentinel → null on the way back)
    val expect = rows(contractDf.select(
      $"nhru", $"time", $"tmax", $"tmin", $"prcp",
      $"rhmax", $"rhmin", $"ws", $"humidity"))
    assert(rows(back) == expect)
    assert(back.filter($"tmax".isNull).count() == 1)
  }

  test("writeNetcdf streams record slabs — large series, no dense driver matrix") {
    // 10k features × 500 days × 2 vars = 10M cells: the old dense
    // writer allocated the whole matrix (plus a 5M-row collect) on the
    // driver; the streamed writer's buffer is ONE 10k-wide slice per
    // variable. Values follow a formula so any cell is checkable.
    val nF = 10000L
    val nD = 500L
    val series = spark.range(nF * nD)
      .withColumn("day", expr(s"id DIV ${nF}L")) // integer division: / is double in Spark
      .withColumn("hru0", col("id") % nF)
      .select(
        (col("hru0") + 1L).as("nhru"),
        timestamp_seconds(lit(86400L) * col("day") +
          lit(java.time.LocalDate.parse("2020-01-01")
            .toEpochDay * 86400L)).as("time"),
        // tmax = nhru + day/1000; one null cell per day (hru0 == day % nF)
        when(col("hru0") === col("day") % nF, lit(null))
          .otherwise(col("hru0") + 1L + col("day") / lit(1000.0))
          .as("tmax"),
        ((col("hru0") + 1L) * lit(2.0)).as("tmin"))
    val features = spark.range(nF).select(
      (col("id") + 1L).as("fid"),
      (lit(40.0) + col("id") / lit(100000.0)).as("lat"),
      (lit(-100.0) - col("id") / lit(100000.0)).as("lon"))
    val path = Staging.scratchDir("graft-nc-big")
      .resolve("big.nc").toString
    val stats = Sinks.writeNetcdf(series, features, path, start = "2020-01-01")
    // incremental consumption: one slab per (day, var) + 5 axis puts —
    // a dense materialization would show one slab per variable
    assert(stats.slabsWritten == nD * 2 + 5)
    assert(stats.rowsStreamed == nF * nD)
    assert(stats.sliceElems == nF)
    // header + spot cells, without loading the 80 MB body whole
    val h = NetcdfClassic.readHeader(path)
    assert(h.dims.map(d => (d.name, d.length)) ==
      Seq(("time", nD), ("nhru", nF)))
    val byName = h.vars.map(v => v.name -> v).toMap
    def cell(v: String, day: Long, hru0: Long): Double = {
      val raf = new java.io.RandomAccessFile(path, "r")
      try {
        raf.seek(byName(v).begin + (day * nF + hru0) * 8)
        raf.readDouble()
      } finally raf.close()
    }
    assert(cell("tmax", 0L, 4L) == 5.0)           // nhru 5, day 0
    assert(cell("tmax", 499L, 9999L) == 10000.499) // last cell
    assert(cell("tmax", 3L, 3L) == Model.FillValue) // the null diagonal
    assert(cell("tmin", 250L, 0L) == 2.0)
    // file size is exactly header + data (pre-sized, no slack)
    val dataBytes = h.vars.map(v =>
      v.dimIds.map(h.dims(_).length).product * 8L).sum
    val headerLen = h.vars.map(_.begin).min
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(path)) ==
      headerLen + dataBytes)
  }

  test("writeNetcdf of the pipeline output (end-to-end shape)") {
    val t1 = Timestamp.valueOf("2021-01-01 00:00:00")
    val weights = Seq((1L, 0, 0, 0.5), (1L, 1, 0, 0.5)).toDF("fid", "i", "j", "wght")
    val g = Seq(
      (t1, 0, 0, 40.0, -100.0, 285.0, 275.0, 1.0, 80.0, 40.0, 3.0),
      (t1, 0, 1, 40.0, -99.9, 286.0, 276.0, 2.0, 81.0, 41.0, 4.0))
      .toDF("time", "j", "i", "lat", "lon", "tmmx", "tmmn", "pr", "rmax", "rmin", "vs")
    val features = Seq((1L, 40.0, -99.95, -101.0, 39.0, -99.0, 41.0))
      .toDF("fid", "lat", "lon", "minx", "miny", "maxx", "maxy")
    val out = graft.etl.GridmetPipeline.gridmet(
      g, weights, features, start = "2021-01-01", end = "2021-01-02")
    val path = Staging.scratchDir("graft-nc")
      .resolve(Sinks.outputName("2021-01-01", filled = false) + ".nc").toString
    Sinks.writeNetcdf(out, features, path, start = "2021-01-01")
    val nc = NetcdfWholeFile.read(path)
    assert(nc.dims.map(_.name) == Seq("time", "nhru"))
    val tmax = nc.vars.find(_.name == "tmax").get.data.asInstanceOf[DoubleData].v
    assert(math.abs(tmax(0) - (285.5 - 273.15)) < 1e-9)
  }

  test("writeContract writes data and the _attrs.json sidecar to a file: URI output path") {
    val dir = Staging.scratchDir("graft-contract-uri")
    val uri = dir.resolve("out").toUri.toString
    assert(uri.startsWith("file:"), uri)
    Sinks.writeContract(contractDf, uri)
    assert(spark.read.parquet(uri).count() == 6)
    val attrs = java.nio.file.Files.readString(dir.resolve("out/_attrs.json"))
    assert(attrs.startsWith("""{"global": {"""), attrs)
  }
}
