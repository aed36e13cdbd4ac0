package graft.sources

import graft.SparkSpec
import graft.sinks.Sinks
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** DataSource V2 NetCDF scan: schema inference, value parity with the
  * driver-side re-ingest, time-range partitioning, column pruning. */
class NetcdfDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixture(): String = {
    def t(d: String) = Timestamp.valueOf(s"$d 00:00:00")
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
    path
  }

  test("format(netcdf-classic) == Sources.netcdfSeries, nulls included") {
    val path = writeFixture()
    val v2 = spark.read.format("netcdf-classic").load(path)
    val ref = Sources.netcdfSeries(spark, path)
    assert(v2.schema == ref.schema)
    assert(rows(v2) == rows(ref))
    assert(v2.count() == 12 && v2.filter($"tmax".isNull).count() == 1)
  }

  test("scan splits on time ranges and prunes columns to the read schema") {
    val path = writeFixture()
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
    val path = writeFixture()
    val v2 = spark.read.format("netcdf-classic")
      .option("rowsPerPartition", "3").load(path) // 1 timestep per split
    val filtered = v2.filter(
      $"time" >= Timestamp.valueOf("1980-01-02 00:00:00") &&
        $"time" < Timestamp.valueOf("1980-01-04 00:00:00"))
    // only the 2 qualifying timesteps are planned (4 without pruning)
    assert(filtered.rdd.getNumPartitions == 2)
    assert(filtered.count() == 6)
    assert(rows(filtered.select($"time").distinct()).size == 2)
    // values identical to post-hoc filtering of the unpruned scan
    val ref = Sources.netcdfSeries(spark, path).filter(
      $"time" >= Timestamp.valueOf("1980-01-02 00:00:00") &&
        $"time" < Timestamp.valueOf("1980-01-04 00:00:00"))
    assert(rows(filtered) == rows(ref))
    // an empty window plans zero partitions
    val none = v2.filter($"time" > Timestamp.valueOf("1990-01-01 00:00:00"))
    assert(none.count() == 0)
  }
}
