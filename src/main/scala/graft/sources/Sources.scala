package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source readers (SURVEY.md §2.1). The data plane is Parquet-first:
  * gridded rasters are staged as long-form parquet (S1 — the
  * OPeNDAP/NetCDF fetch is a driver-side staging step outside the Spark
  * data plane by design, SURVEY.md §7.3); the small control tables below
  * have dedicated readers.
  */
object Sources {

  /** S3 — weight-table CSV `(fid, i, j, wght)`.
    * Handles both committed layouts: with a leading unnamed pandas index
    * column (`data/nhru_01a/gm_nhru01_weights.csv:1`) and without
    * (`cfsv2_nhru01a_weights.csv:1`). `fidCol` is the `--fid` CLI arg
    * (`cli.py:76-82`), e.g. "nhru_v1_1". */
  def weightsCsv(spark: SparkSession, path: String, fidCol: String): DataFrame = {
    val cols = csvHeader(spark, path)
    require(cols.contains(fidCol) && cols.contains("i") && cols.contains("j")
      && cols.contains("wght"), s"weights file must have ($fidCol,i,j,wght), got ${cols.mkString(",")}")
    val raw = spark.read.option("header", "true")
      .schema(StructType(cols.map(StructField(_, StringType))))
      .csv(path)
    raw.select(
      col(fidCol).cast(LongType).as("fid"),
      col("i").cast(IntegerType).as("i"),
      col("j").cast(IntegerType).as("j"),
      col("wght").cast(DoubleType).as("wght"))
  }

  /** The column names of a headed, comma-separated CSV file (of the
    * first data file, for a directory or glob), read on the driver: the
    * header is one line, and letting Spark infer it runs a job and
    * compiles its plan on every read. Names follow Spark's CSV reader:
    * surrounding double quotes are dropped, an empty name becomes
    * `_c<index>`, and case-insensitive duplicates get their index
    * appended. */
  private[sources] def csvHeader(spark: SparkSession, path: String): Seq[String] = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val glob = new Path(path)
    val fs: FileSystem = glob.getFileSystem(conf)
    def dataFiles(p: Path): Seq[Path] =
      if (fs.getFileStatus(p).isFile) Seq(p)
      else fs.listStatus(p).toSeq.map(_.getPath)
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
        .sortBy(_.toString).flatMap(dataFiles)
    val file = Option(fs.globStatus(glob)).toSeq.flatten.map(_.getPath)
      .sortBy(_.toString).flatMap(dataFiles).headOption
      .getOrElse(throw new IllegalArgumentException(s"no CSV file at $path"))
    val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(file)
    val raw = fs.open(file)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      if (codec == null) raw else codec.createInputStream(raw), "UTF-8"))
    val line = try Option(in.readLine()).getOrElse("") finally in.close()
    val names = line.stripPrefix("\uFEFF").split(",(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)", -1)
      .toSeq.map { n =>
        if (n.length >= 2 && n.startsWith("\"") && n.endsWith("\"")) n.substring(1, n.length - 1)
        else n
      }
    val lower = names.map(_.toLowerCase(java.util.Locale.ROOT))
    names.zipWithIndex.map { case (n, i) =>
      if (n.isEmpty) s"_c$i"
      else if (lower.count(_ == lower(i)) > 1) s"$n$i"
      else n
    }
  }

  /** S6 — PRMS parameter-file scan (`helper.py:124-173`): find the
    * `hru_elev` marker line, skip 4 header lines, read one float per
    * line until the `####` terminator. The file is tiny (one value per
    * HRU) so this parses driver-side and returns (nhru, elev) with
    * nhru = 1-based position, matching the reference's positional
    * ordering. */
  def prmsElevations(spark: SparkSession, path: String): DataFrame = {
    val lines = scala.io.Source.fromFile(path).getLines().toVector
    val start = lines.indexWhere(_.trim == "hru_elev")
    require(start >= 0, s"no hru_elev section in $path")
    val body = lines.drop(start + 1 + 4) // marker + 4 header lines
    val values = body.takeWhile(l => !l.trim.startsWith("####"))
      .map(_.trim).filter(_.nonEmpty).map(_.toDouble)
    import spark.implicits._
    values.zipWithIndex
      .map { case (v, idx) => (idx.toLong + 1L, v) }
      .toDF("nhru", "elev")
  }

  /** S4/S5 — catalog loaders. The catalog is a small control table;
    * F1 lookups (conjunctive equality + take-first) happen at
    * plan-build time. */
  def catalogParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
  def catalogJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** F1 — catalog lookup: first record for (id, variable), deterministic
    * take-first via min over a struct ordered by varname
    * (`etl.py:169-176`, `etl.py:657-664`). Returns one row per requested
    * variable. */
  def catalogLookup(catalog: DataFrame, dataId: String, vars: Seq[String]): DataFrame =
    catalog.filter(col("id") === dataId && col("variable").isin(vars: _*))
      .groupBy(col("variable"))
      .agg(min(struct(col("varname"), col("URL"))).as("first"))
      .select(col("variable"), col("first.varname").as("varname"),
        col("first.URL").as("URL"))

  /** The part of the feature table the driver needs, from ONE collect
    * of |features| rows: the centroids, fid → (lat, lon) (a feature
    * with a null coordinate has no entry), and the total bounds, each
    * when the table has its columns (fid/lat/lon, minx/miny/maxx/maxy). */
  final case class FeatureTable(
      centroidsRead: Option[Map[Long, (Double, Double)]], bounds: Option[Bounds]) {
    def centroids: Map[Long, (Double, Double)] = centroidsRead.getOrElse(
      throw new IllegalArgumentException("the feature table has no fid, lat and lon columns"))
  }

  /** (minx, miny, maxx, maxy) over all features. */
  final case class Bounds(minx: Double, miny: Double, maxx: Double, maxy: Double)

  /** [[FeatureTable]] of `features`. The bbox subset, the NN fill and
    * the NetCDF coordinate variables all read it through this one plan,
    * so a run compiles its generated code once. Bounds follow Spark's
    * min/max: nulls are skipped and NaN sorts above every number. */
  def featureTable(features: DataFrame): FeatureTable = {
    def has(cs: Seq[String]) = cs.forall(features.columns.contains)
    val centroidCols = Seq("fid", "lat", "lon")
    val boundCols = Seq("minx", "miny", "maxx", "maxy")
    val withCentroids = has(centroidCols)
    val withBounds = has(boundCols)
    val read = (if (withCentroids) centroidCols else Nil) ++ (if (withBounds) boundCols else Nil)
    val rows = features.select(read.map(c =>
      col(c).cast(if (c == "fid") LongType else DoubleType)): _*).collect()
    val centroids = if (!withCentroids) None else Some(rows.collect {
      case r if !r.isNullAt(1) && !r.isNullAt(2) => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))
    }.toMap)
    def values(i: Int) = rows.filterNot(_.isNullAt(i)).map(_.getDouble(i))
    val bounds = if (!withBounds) None else {
      val first = if (withCentroids) 3 else 0
      val Seq(minx, miny, maxx, maxy) = (first until first + 4).map(values)
      require(Seq(minx, miny, maxx, maxy).forall(_.nonEmpty),
        "feature bounds (minx, miny, maxx, maxy) are all null")
      val order = Ordering.Double.TotalOrdering
      Some(Bounds(minx.min(order), miny.min(order), maxx.max(order), maxy.max(order)))
    }
    FeatureTable(centroids, bounds)
  }

  /** Feature centroids on the driver, fid → (lat, lon): |features|
    * entries, the NetCDF lat/lon coordinate variables and the NN fill's
    * donor table ([[featureTable]]). */
  def centroids(features: DataFrame): Map[Long, (Double, Double)] =
    featureTable(features).centroids

  /** The NN fill mapping's columns (`helper.py:75-77`). */
  val FillMappingSchema: StructType = StructType(Seq(
    StructField("miss_fid", LongType), StructField("fill_fid", LongType),
    StructField("distance", DoubleType)))

  /** S7 — NN-mapping CSV (`helper.py:79`). */
  def fillMappingCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(FillMappingSchema).csv(path)

  /** S10 (full form) — re-ingest a contract NetCDF file (this engine's
    * [[graft.sinks.Sinks.writeNetcdf]] output, or any classic-model
    * CDF-1/2/5 file with the same (time, feature) layout) back into the
    * long-form series DataFrame: one row per (feature, time), data vars
    * as columns, `_FillValue` sentinels back to nulls, the int64
    * days-since time axis decoded to timestamps. The reference re-opens
    * its own intermediates the same way (`etl.py:476-478`,
    * `helper.py:33-37`); file contents are output-sized by contract. */
  def netcdfSeries(
      spark: SparkSession, path: String,
      featureDim: String = "nhru"): DataFrame = {
    import graft.sinks.NetcdfClassic
    import graft.sinks.NetcdfClassic._
    val nc = NetcdfClassic.read(path)
    val byName = nc.vars.map(v => v.name -> v).toMap
    val dimId = nc.dims.zipWithIndex.map { case (d, i) => d.name -> i }.toMap
    require(dimId.contains("time") && dimId.contains(featureDim),
      s"expected dims (time, $featureDim), got ${nc.dims.map(_.name)}")
    val timeVar = byName("time")
    val units = timeVar.atts.find(_.name == "units").map {
      case Att(_, AttText(s)) => s
      case other => sys.error(s"unexpected time units attr $other")
    }.getOrElse(sys.error("time var has no units attr"))
    require(units.startsWith("days since "),
      s"unsupported time encoding: $units")
    // decode in UTC explicitly — Timestamp.valueOf(LocalDateTime) would
    // use the JVM default zone and disagree with the writer (UTC
    // session tz) and the DSv2 reader on any non-UTC machine
    val origin = java.time.LocalDate.parse(units.drop("days since ".length).take(10))
    val days = timeVar.data.asInstanceOf[LongData].v
    val times = days.map(d => new java.sql.Timestamp(
      origin.plusDays(d).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.toEpochMilli))
    val fids = byName(featureDim).data.asInstanceOf[LongData].v
    val dataVars = nc.vars.filter(v =>
      v.dimIds == Seq(dimId("time"), dimId(featureDim)))
    val rows = for {
      ti <- times.indices
      hi <- fids.indices
    } yield Row.fromSeq(
      Seq(fids(hi), times(ti)) ++ dataVars.map { v =>
        val fill = v.atts.collectFirst {
          case Att("_FillValue", AttDoubles(Seq(f))) => f
        }
        val x = v.data.asInstanceOf[DoubleData].v(ti * fids.length + hi)
        if (x.isNaN || fill.contains(x)) null else x
      })
    val schema = StructType(
      Seq(StructField(featureDim, LongType, nullable = false),
        StructField("time", TimestampType, nullable = false)) ++
        dataVars.map(v => StructField(v.name, DoubleType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq), schema)
  }

  /** S1 (local full form) — stage a GRIDDED NetCDF classic file (the
    * reference's actual input shape: dims (T, Y, X), e.g. gridMET's
    * (day, lat, lon) with 1-D coordinate vars) into the engine's
    * long-form staged grid `(time, j, i, lat, lon, vars…)`
    * (FIXTURES.md §1, `Model.gridSchema`). Coordinate names come from
    * the catalog record (T_name/X_name/Y_name — `etl.py:329-331`,
    * `etl.py:399-408`); only the remote OPeNDAP fetch itself stays
    * outside the engine (zero-egress environment). Driver-side
    * materialization, one file per call — stage big archives one
    * time-chunk file at a time, exactly the reference's per-day pulls. */
  def netcdfGrid(
      spark: SparkSession, path: String,
      tName: String = "day", yName: String = "lat",
      xName: String = "lon"): DataFrame = {
    import graft.sinks.NetcdfClassic
    import graft.sinks.NetcdfClassic._
    val nc = NetcdfClassic.read(path)
    val byName = nc.vars.map(v => v.name -> v).toMap
    val dimId = nc.dims.zipWithIndex.map { case (d, i) => d.name -> i }.toMap
    require(Seq(tName, yName, xName).forall(dimId.contains),
      s"expected dims ($tName, $yName, $xName), got ${nc.dims.map(_.name)}")
    def coord(name: String): Array[Double] = byName(name).data match {
      case DoubleData(v) => v
      case LongData(v) => v.map(_.toDouble)
    }
    val lats = coord(yName)
    val lons = coord(xName)
    val timeVar = byName(tName)
    val units = timeVar.atts.collectFirst { case Att("units", AttText(s)) => s }
      .getOrElse(sys.error(s"$tName var has no units attr"))
    require(units.startsWith("days since "), s"unsupported time encoding: $units")
    val origin = java.time.LocalDate.parse(units.drop("days since ".length).take(10))
    val times = timeVar.data.asInstanceOf[LongData].v.map(d =>
      new java.sql.Timestamp(
        origin.plusDays(d).atStartOfDay(java.time.ZoneOffset.UTC)
          .toInstant.toEpochMilli))
    val wantDims = Seq(dimId(tName), dimId(yName), dimId(xName))
    val dataVars = nc.vars.filter(_.dimIds == wantDims)
    require(dataVars.nonEmpty, s"no ($tName, $yName, $xName) data variables")
    val rows = for {
      ti <- times.indices
      j <- lats.indices
      i <- lons.indices
    } yield Row.fromSeq(
      Seq(times(ti), j, i, lats(j), lons(i)) ++ dataVars.map { v =>
        val fill = v.atts.collectFirst {
          case Att("_FillValue", AttDoubles(Seq(f))) => f
        }
        val x = v.data.asInstanceOf[DoubleData]
          .v((ti * lats.length + j) * lons.length + i)
        if (x.isNaN || fill.contains(x)) null else x
      })
    val schema = StructType(
      Seq(StructField("time", TimestampType, nullable = false),
        StructField("j", IntegerType, nullable = false),
        StructField("i", IntegerType, nullable = false),
        StructField("lat", DoubleType, nullable = false),
        StructField("lon", DoubleType, nullable = false)) ++
        dataVars.map(v => StructField(v.name, DoubleType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq), schema)
  }

  /** S2 (full form) — GeoParquet feature ingestion: derive the engine's
    * `(fid, lat, lon, minx, miny, maxx, maxy)` feature table from a raw
    * WKB geometry column in-engine (the reference does this with
    * geopandas: `etl.py:549-567` read, `etl.py:322` total_bounds,
    * centroid lat/lon per `gm_header.md:69-75`). Accepts the
    * reference's own GeoParquet inputs — no pre-extracted fixture
    * needed. */
  def geoParquetFeatures(
      spark: SparkSession, path: String,
      fidCol: String, geomCol: String = "geometry"): DataFrame =
    featuresFromWkb(spark.read.parquet(path), fidCol, geomCol)

  /** S2 — shapefile feature ingestion (the reference's `.shp` suffix
    * path, `etl.py:563`/`etl.py:806`): parse the public-spec
    * `.shp`/`.dbf` pair ([[Shapefile]]) and derive the engine feature
    * table through the same WKB path GeoParquet takes.
    *
    * CRS contract (enforced in [[Shapefile.read]]): coordinates must
    * be geographic lon/lat matching the grid. The reference reprojects
    * (`etl.py:321-322`); this engine requires pre-projected input and
    * REJECTS a `.prj` declaring a projected CRS at read time rather
    * than silently subsetting with meters-as-degrees. */
  def shapefileFeatures(
      spark: SparkSession, path: String, fidCol: String): DataFrame =
    featuresFromWkb(Shapefile.read(spark, path), fidCol)

  /** WKB → feature-table derivation, for any DataFrame with a WKB
    * geometry column. */
  def featuresFromWkb(df: DataFrame, fidCol: String,
      geomCol: String = "geometry"): DataFrame = {
    import graft.functions.WkbGeom.wkbEnvelopeCentroid
    df.select(col(fidCol).cast(LongType).as("fid"),
        wkbEnvelopeCentroid(col(geomCol)).as("g"))
      .select(col("fid"),
        col("g.cy").as("lat"), col("g.cx").as("lon"),
        col("g.minx").as("minx"), col("g.miny").as("miny"),
        col("g.maxx").as("maxx"), col("g.maxy").as("maxy"))
  }
}
