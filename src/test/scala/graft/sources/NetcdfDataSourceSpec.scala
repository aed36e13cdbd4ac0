package graft.sources

import graft.SparkSpec
import graft.sinks.Sinks
import graft.sinks.NetcdfClassic._
import graft.sinks.NetcdfWholeFile
import graft.sinks.NetcdfWholeFile._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** DataSource V2 NetCDF scan: schema inference, value parity with the
  * table a file was written from, time-range partitioning, column
  * pruning, both layouts (series and gridded), and type checks. */
class NetcdfDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def t(d: String) = Timestamp.valueOf(s"$d 00:00:00")

  /** A contract series file and the table it was written from. */
  private def writeFixture(): (String, DataFrame) = {
    val df = (for {
      d <- Seq("1980-01-01", "1980-01-02", "1980-01-03", "1980-01-04")
      h <- Seq(10L, 20L, 30L)
    } yield (h, t(d),
      if (h == 20L && d == "1980-01-02") None else Some(h * 1.0 + d.takeRight(2).toInt),
      0.5, 0.1, 80.0, 40.0, 3.0, 55.0))
      .toDF("nhru", "time", "tmax", "tmin", "prcp", "rhmax", "rhmin", "ws", "humidity")
    val features = Seq((10L, 40.1, -100.1), (20L, 40.2, -100.2), (30L, 40.3, -100.3))
      .toDF("fid", "lat", "lon")
    val path = Staging.scratchDir("graft-dsv2")
      .resolve("series.nc").toString
    Sinks.writeNetcdf(df, features, path, start = "1980-01-01")
    (path, df)
  }

  test("format(netcdf-classic) == the written table, nulls included") {
    val (path, df) = writeFixture()
    val v2 = spark.read.format("netcdf-classic").load(path)
    val vars = Seq("tmax", "tmin", "prcp", "rhmax", "rhmin", "ws", "humidity")
    assert(v2.schema == StructType(
      Seq(StructField("nhru", LongType, nullable = false),
        StructField("time", TimestampType, nullable = false)) ++
        vars.map(StructField(_, DoubleType, nullable = true))))
    assert(rows(v2) == rows(df))
    assert(v2.count() == 12 && v2.filter($"tmax".isNull).count() == 1)
  }

  test("scan splits on time ranges and prunes columns to the read schema") {
    val (path, _) = writeFixture()
    // rowsPerPartition=3 → 1 timestep (3 features) per partition → 4 splits
    val v2 = spark.read.format("netcdf-classic")
      .option("rowsPerPartition", "3").load(path)
    assert(v2.rdd.getNumPartitions == 4)
    assert(v2.count() == 12)
    val pruned = v2.select($"nhru", $"prcp")
    val plan = pruned.queryExecution.executedPlan.toString
    // pruned read schema shows as the BatchScan's column list; tmax and
    // the other dropped vars must not appear anywhere in the scan
    assert("BatchScan[^\\[]*\\[nhru#\\d+L, prcp#\\d+\\]".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("tmax"), plan)
    assert(rows(pruned).size == 3) // 3 features × constant prcp collapse
    // pruning away the feature column still decodes values correctly
    val timeOnly = v2.select($"time").distinct()
    assert(timeOnly.count() == 4)
  }

  test("time-range filters prune input partitions (and stay residual)") {
    val (path, df) = writeFixture()
    val v2 = spark.read.format("netcdf-classic")
      .option("rowsPerPartition", "3").load(path) // 1 timestep per split
    val window = ($"time" >= t("1980-01-02")) && ($"time" < t("1980-01-04"))
    val filtered = v2.filter(window)
    // only the 2 qualifying timesteps are planned (4 without pruning)
    assert(filtered.rdd.getNumPartitions == 2)
    assert(filtered.count() == 6)
    assert(rows(filtered.select($"time").distinct()).size == 2)
    // values identical to filtering the written table
    assert(rows(filtered) == rows(df.filter(window)))
    // an empty window plans zero partitions
    val none = v2.filter($"time" > t("1990-01-01"))
    assert(none.count() == 0)
  }

  /** A gridMET-shaped (day, lat, lon) file of 4 days × 3 × 5 cells with
    * fill and NaN holes, and the staged-grid rows it holds. */
  private def writeGrid(): (String, Set[Seq[Any]]) = {
    val (nT, nY, nX) = (4, 3, 5)
    val fill = graft.model.Model.FillValue
    val lats = Array(40.0, 40.5, 41.0)
    val lons = Array(-100.0, -99.5, -99.0, -98.5, -98.0)
    def tmmx(ti: Int, j: Int, i: Int): Option[Double] =
      if ((ti + j + i) % 7 == 0) None else Some(280.0 + ti * 10 + j + i / 10.0)
    def pr(ti: Int, j: Int, i: Int): Option[Double] =
      if (ti == 2 && j == 1) None else Some(ti + j * 0.25 + i * 0.5)
    def cube(f: (Int, Int, Int) => Option[Double], hole: Double): Array[Double] =
      (for { ti <- 0 until nT; j <- 0 until nY; i <- 0 until nX }
        yield f(ti, j, i).getOrElse(hole)).toArray
    val path = Staging.scratchDir("graft-dsv2-grid").resolve("grid.nc").toString
    NetcdfWholeFile.write(path, Nc(
      dims = Seq(Dim("day", nT), Dim("lat", nY), Dim("lon", nX)),
      gatts = Nil,
      vars = Seq(
        Var("day", Seq(0), Seq(Att("units", AttText("days since 1900-01-01 00:00:00"))),
          LongData(Array.tabulate(nT)(44195L + _))), // 2021-01-01 on
        Var("lat", Seq(1), Nil, DoubleData(lats)),
        Var("lon", Seq(2), Nil, DoubleData(lons)),
        Var("tmmx", Seq(0, 1, 2), Seq(Att("_FillValue", AttVal(fill))),
          DoubleData(cube(tmmx, fill))),
        Var("pr", Seq(0, 1, 2), Nil, DoubleData(cube(pr, Double.NaN))))))
    val expect = (for { ti <- 0 until nT; j <- 0 until nY; i <- 0 until nX } yield
      Seq[Any](t(s"2021-01-0${ti + 1}"), j, i, lats(j), lons(i),
        tmmx(ti, j, i).orNull, pr(ti, j, i).orNull)).toSet
    (path, expect)
  }

  private def gridScan(path: String, rowsPerPartition: Int) =
    spark.read.format("netcdf-classic")
      .option("tName", "day").option("rowsPerPartition", rowsPerPartition.toString)
      .load(path)

  test("a gridded (time, y, x) file reads as the staged grid") {
    val (path, expect) = writeGrid()
    val grid = gridScan(path, rowsPerPartition = 15) // one day per split
    assert(grid.schema == StructType(Seq(
      StructField("time", TimestampType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("i", IntegerType, nullable = false),
      StructField("lat", DoubleType, nullable = false),
      StructField("lon", DoubleType, nullable = false),
      StructField("tmmx", DoubleType, nullable = true),
      StructField("pr", DoubleType, nullable = true))))
    assert(grid.rdd.getNumPartitions == 4)
    assert(rows(grid) == expect)
    assert(grid.filter($"tmmx".isNull).count() == expect.count(_(5) == null))
    // two days per split: the same rows
    assert(gridScan(path, rowsPerPartition = 30).rdd.getNumPartitions == 2)
    assert(rows(gridScan(path, rowsPerPartition = 30)) == expect)
    // pruned to (j, i, pr): tmmx's bytes are never read
    val plan = grid.select($"j", $"i", $"pr").queryExecution.executedPlan.toString
    assert("BatchScan[^\\[]*\\[j#\\d+, i#\\d+, pr#\\d+\\]".r.findFirstIn(plan).isDefined, plan)
  }

  test("time-range filters prune input partitions of a gridded file") {
    val (path, expect) = writeGrid()
    val lo = t("2021-01-02"); val hi = t("2021-01-04")
    val filtered = gridScan(path, rowsPerPartition = 15)
      .filter($"time" >= lo && $"time" < hi)
    assert(filtered.rdd.getNumPartitions == 2)
    assert(rows(filtered) == expect.filter { r =>
      val ts = r.head.asInstanceOf[Timestamp]
      !ts.before(lo) && ts.before(hi)
    })
  }

  /** A (time, nhru) file whose time axis and one data variable have the
    * given types. */
  private def writeTyped(name: String, time: VarData, data: VarData): String = {
    val path = Staging.scratchDir("graft-dsv2-typed").resolve(name).toString
    NetcdfWholeFile.write(path, Nc(
      dims = Seq(Dim("time", 2L), Dim("nhru", 2L)),
      gatts = Nil,
      vars = Seq(
        Var("time", Seq(0), Seq(Att("units", AttText("days since 1980-01-01 00:00:00"))), time),
        Var("nhru", Seq(1), Nil, LongData(Array(1L, 2L))),
        Var("v", Seq(0, 1), Nil, data))))
    path
  }

  test("int64 data variable: the schema fails naming it and its type") {
    val path = writeTyped("int64-data.nc", LongData(Array(0L, 1L)), LongData(Array(1L, 2L, 3L, 4L)))
    val e = intercept[IllegalArgumentException](
      spark.read.format("netcdf-classic").load(path).collect())
    assert(e.getMessage.contains("variable v has type NC_INT64"), e.getMessage)
  }

  test("double time axis: the schema fails naming it and its type") {
    val path = writeTyped("double-time.nc", DoubleData(Array(0.0, 1.0)),
      DoubleData(Array(1.0, 2.0, 3.0, 4.0)))
    val e = intercept[IllegalArgumentException](
      spark.read.format("netcdf-classic").load(path).collect())
    assert(e.getMessage.contains("variable time has type NC_DOUBLE"), e.getMessage)
    // the same file with an int64 axis reads
    val ok = writeTyped("int64-time.nc", LongData(Array(0L, 1L)),
      DoubleData(Array(1.0, 2.0, 3.0, 4.0)))
    assert(rows(spark.read.format("netcdf-classic").load(ok)) == Set(
      Seq(1L, t("1980-01-01"), 1.0), Seq(2L, t("1980-01-01"), 2.0),
      Seq(1L, t("1980-01-02"), 3.0), Seq(2L, t("1980-01-02"), 4.0)))
  }
}
