package graft.sources.netcdf

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import graft.sinks.NetcdfClassic
import graft.sinks.NetcdfClassic._

/** DataSource V2 scan over NetCDF classic files (S1/S10 in Spark-native
  * form), the engine's one NetCDF decoder:
  *
  *   spark.read.format("netcdf-classic").load("/path/file.nc")
  *
  * The file's dimensions decide its layout ([[Layout]]):
  *
  *  - GRIDDED, when it has the `yName` and `xName` dimensions: the
  *    (time, y, x) input of S1 (gridMET's (day, lat, lon)), read as the
  *    engine's long-form staged grid `(time, j, i, lat, lon, <vars>)`
  *    (FIXTURES.md §1, `Model.gridSchema`);
  *  - SERIES otherwise: a (time, featureDim) contract file, read as the
  *    long-form series table `(featureDim, time, <vars>)` (S10).
  *
  * Both are executed by Spark's scan machinery:
  *
  *  - PARTITIONED by time-index ranges (option `rowsPerPartition`
  *    bounds rows per split) — executors read in parallel;
  *  - COLUMN PRUNING is real I/O pruning: a classic file stores each
  *    variable as one contiguous time-major block, so a reader seeks
  *    exactly the requested vars' slices for its time range and never
  *    touches dropped columns' bytes (ReadSchema in `.explain`
  *    reflects it);
  *  - `_FillValue` sentinels and NaN decode to null; the "days since"
  *    time axis decodes to timestamps.
  *
  * Data variables are NC_FLOAT or NC_DOUBLE (read as double), the time
  * axis and feature ids NC_INT or NC_INT64; any other type fails when
  * the schema is built. Files open through the path's Hadoop
  * FileSystem, so a `file:` URI or a cluster path reads like a local
  * one.
  *
  * Options: `path`, `tName` (the time variable, default "time"),
  * `yName`/`xName` (the grid coordinates, default "lat"/"lon"),
  * `featureDim` (default "nhru"), `rowsPerPartition` (default 65536). */
class NetcdfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "netcdf-classic"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NetcdfDataSource.table(options).schema()

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    NetcdfDataSource.table(new CaseInsensitiveStringMap(properties))
}

object NetcdfDataSource {
  private[netcdf] def table(options: CaseInsensitiveStringMap): NetcdfTable = {
    val path = options.get("path")
    require(path != null, "netcdf-classic needs a path")
    val header = NetcdfClassic.readHeader(path)
    new NetcdfTable(path, header,
      Layout.of(header, options.getOrDefault("tName", "time"),
        options.getOrDefault("featureDim", "nhru"),
        options.getOrDefault("yName", "lat"), options.getOrDefault("xName", "lon")),
      Integer.parseInt(options.getOrDefault("rowsPerPartition", "65536")))
  }

  /** The decoded time axis in epoch micros — shared by the scan's
    * partition pruning (driver) and each reader. Small (nTimes longs). */
  private[netcdf] def timeAxisMicros(in: Input, header: Header, time: String): Array[Long] = {
    val tv = header.vars.find(_.name == time).get
    val units = tv.atts.collectFirst { case Att("units", AttText(s)) => s }
      .getOrElse(throw new IllegalArgumentException(s"$time var has no units"))
    require(units.startsWith("days since "), s"unsupported time units: $units")
    val origin = java.time.LocalDate
      .parse(units.drop("days since ".length).take(10))
      .atStartOfDay(java.time.ZoneOffset.UTC)
    in.longs(tv, header.dims(tv.dimIds.head).length.toInt)
      .map(d => origin.plusDays(d).toInstant.toEpochMilli * 1000L)
  }
}

/** A file's layout: the time variable, the dimensions of one time step
  * (`Seq(featureDim)` for a series, `Seq(y, x)` for a grid) and the
  * data variables over exactly (time, cells…), in declaration order. */
final case class Layout(time: String, cells: Seq[String], data: Seq[String]) {
  def gridded: Boolean = cells.length == 2

  def schema: StructType = {
    def key(n: String, t: DataType) = StructField(n, t, nullable = false)
    val keys =
      if (gridded) Seq(key("time", TimestampType), key("j", IntegerType),
        key("i", IntegerType), key("lat", DoubleType), key("lon", DoubleType))
      else Seq(key(cells.head, LongType), key("time", TimestampType))
    StructType(keys ++ data.map(StructField(_, DoubleType, nullable = true)))
  }
}

object Layout {
  private val Real = Seq(NcFloat, NcDouble)
  private val Integral = Seq(NcInt, NcInt64)

  /** Gridded when the file has the y and x dimensions, a series
    * otherwise. Every variable the layout reads must have a type the
    * scan decodes; the error names the variable and its type. */
  def of(h: Header, time: String, featureDim: String, y: String, x: String): Layout = {
    val dims = h.dims.map(_.name)
    val cells = if (dims.contains(y) && dims.contains(x)) Seq(y, x) else Seq(featureDim)
    require((time +: cells).forall(dims.contains),
      s"expected dims ($time, $featureDim) or ($time, $y, $x), got ${dims.mkString("(", ", ", ")")}")
    val byName = h.vars.map(v => v.name -> v).toMap
    def check(name: String, types: Seq[Int]): Unit = {
      val v = byName.getOrElse(name,
        throw new IllegalArgumentException(s"no coordinate variable $name"))
      require(types.contains(v.ncType), s"variable $name has type " +
        s"${typeName(v.ncType)}; the scan reads ${types.map(typeName).mkString(" or ")}")
    }
    check(time, Integral)
    if (cells.length == 2) cells.foreach(check(_, Real ++ Integral))
    else check(featureDim, Integral)
    val dimIds = (time +: cells).map(dims.indexOf)
    val data = h.vars.filter(_.dimIds == dimIds).map(_.name)
    data.foreach(check(_, Real))
    require(cells.length == 1 || data.nonEmpty, s"no ($time, $y, $x) data variables")
    Layout(time, cells, data)
  }
}

class NetcdfTable(path: String, header: Header, layout: Layout, rowsPerPartition: Int)
    extends Table with SupportsRead {
  override def name(): String = s"netcdf-classic:$path"
  override def schema(): StructType = layout.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NetcdfScanBuilder(path, header, layout, rowsPerPartition)
}

class NetcdfScanBuilder(path: String, header: Header, layout: Layout, rowsPerPartition: Int)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = layout.schema
  private var timeBounds: (Long, Long) = (Long.MinValue, Long.MaxValue)
  private var accepted: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Time-range pruning, the file-format analogue of parquet row-group
    * min/max skipping: range predicates on `time` narrow the scanned
    * time-index window (the axis is sorted in contract files). Every
    * filter is still returned as post-scan residual — pruning is an
    * I/O optimization, not the evaluation of record semantics. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def micros(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp => Some(t.getTime * 1000L + t.getNanos / 1000 % 1000)
      case i: java.time.Instant =>
        Some(i.getEpochSecond * 1000000L + i.getNano / 1000)
      case _ => None
    }
    accepted = filters.filter {
      case GreaterThan("time", v) => micros(v).exists { m =>
        timeBounds = (timeBounds._1 max (m + 1), timeBounds._2); true }
      case GreaterThanOrEqual("time", v) => micros(v).exists { m =>
        timeBounds = (timeBounds._1 max m, timeBounds._2); true }
      case LessThan("time", v) => micros(v).exists { m =>
        timeBounds = (timeBounds._1, timeBounds._2 min (m - 1)); true }
      case LessThanOrEqual("time", v) => micros(v).exists { m =>
        timeBounds = (timeBounds._1, timeBounds._2 min m); true }
      case EqualTo("time", v) => micros(v).exists { m =>
        timeBounds = (timeBounds._1 max m, timeBounds._2 min m); true }
      case _ => false
    }
    filters // all residual: Spark re-applies them post-scan
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan =
    new NetcdfScan(path, header, layout, rowsPerPartition, required, timeBounds)
}

final case class NetcdfInputPartition(tiStart: Int, tiEnd: Int) extends InputPartition

class NetcdfScan(
    path: String, header: Header, layout: Layout, rowsPerPartition: Int,
    required: StructType, timeBounds: (Long, Long))
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private def dimLength(name: String): Int =
    header.dims.find(_.name == name).get.length.toInt
  private def nTimes: Int = dimLength(layout.time)
  private def conf: SerializableConfiguration =
    new SerializableConfiguration(SparkSession.active.sparkContext.hadoopConfiguration)

  /** Time-index window satisfying the pushed bounds. The contract time
    * axis is ascending; when it isn't, pruning is skipped (correctness
    * never depends on it — filters are residual). */
  private def timeWindow(): (Int, Int) = {
    if (timeBounds == (Long.MinValue, Long.MaxValue)) return (0, nTimes)
    val in = NetcdfClassic.open(path, conf.value)
    val times = try NetcdfDataSource.timeAxisMicros(in, header, layout.time)
      finally in.close()
    if (!times.indices.drop(1).forall(i => times(i - 1) <= times(i)))
      return (0, nTimes)
    val lo = times.indexWhere(_ >= timeBounds._1) match {
      case -1 => nTimes
      case i => i
    }
    val hi = times.lastIndexWhere(_ <= timeBounds._2) + 1
    (lo, math.max(lo, hi))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (lo, hi) = timeWindow()
    val cells = layout.cells.map(dimLength).product
    val timesPerPart = math.max(1, rowsPerPartition / math.max(1, cells))
    (lo until hi by timesPerPart).map { t0 =>
      NetcdfInputPartition(t0, math.min(hi, t0 + timesPerPart))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NetcdfReaderFactory(path, layout, required, conf)
}

class NetcdfReaderFactory(
    path: String, layout: Layout, required: StructType, conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[NetcdfInputPartition]
    new NetcdfPartitionReader(path, layout, required, part.tiStart, part.tiEnd, conf)
  }
}

/** Reads its time-index slice with per-variable seeks — only the
  * REQUIRED columns' byte ranges are touched. Row `pos` is time step
  * `tiStart + pos / cells`, cell `pos % cells` (row-major over the
  * cell dimensions). */
class NetcdfPartitionReader(
    path: String, layout: Layout, required: StructType,
    tiStart: Int, tiEnd: Int, conf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  private val in = NetcdfClassic.open(path, conf.value)
  private val header = NetcdfClassic.readHeader(in)
  private val byName = header.vars.map(v => v.name -> v).toMap
  private val dims = layout.cells.map(c => header.dims.find(_.name == c).get.length.toInt)
  private val cells = dims.product
  private val timesUs = NetcdfDataSource.timeAxisMicros(in, header, layout.time)

  /** Key column values of time step `ti` (absolute) and cell `c`. */
  private val keyOf: Map[String, (Int, Int) => Any] = {
    def cell(f: Int => Any): (Int, Int) => Any = (_, c) => f(c)
    val time = "time" -> ((ti: Int, _: Int) => timesUs(ti))
    if (layout.gridded) {
      val coords = layout.cells.zip(dims).map { case (name, n) => in.doubles(byName(name), 0L, n) }
      val nX = dims(1)
      Map(time, "j" -> cell(_ / nX), "i" -> cell(_ % nX),
        "lat" -> cell(c => coords(0)(c / nX)), "lon" -> cell(c => coords(1)(c % nX)))
    } else {
      val fids = in.longs(byName(layout.cells.head), cells)
      Map(time, layout.cells.head -> cell(fids(_)))
    }
  }

  private val keyCols: Array[(Int, (Int, Int) => Any)] =
    required.fieldNames.zipWithIndex.collect {
      case (f, i) if keyOf.contains(f) => (i, keyOf(f))
    }
  private val dataCols: Array[(Int, Array[Double], Option[Double])] =
    required.fieldNames.zipWithIndex.collect {
      case (f, i) if !keyOf.contains(f) =>
        val v = byName(f)
        val fill = v.atts.collectFirst { case Att("_FillValue", AttDoubles(Seq(x))) => x }
        // the time-major slice [tiStart, tiEnd)
        (i, in.doubles(v, tiStart.toLong * cells, (tiEnd - tiStart) * cells), fill)
    }

  private var pos = -1
  private val total = (tiEnd - tiStart) * cells
  private val row = new GenericInternalRow(required.length)

  override def next(): Boolean = { pos += 1; pos < total }

  override def get(): InternalRow = {
    val ti = tiStart + pos / cells
    val c = pos % cells
    keyCols.foreach { case (i, f) => row.update(i, f(ti, c)) }
    dataCols.foreach { case (i, slice, fill) =>
      val x = slice(pos)
      if (x.isNaN || fill.contains(x)) row.update(i, null)
      else row.update(i, x)
    }
    row
  }

  override def close(): Unit = in.close()
}
