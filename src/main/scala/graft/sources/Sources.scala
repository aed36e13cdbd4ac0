package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source readers (SURVEY.md §2.1). The data plane is Parquet-first:
  * gridded rasters are staged as long-form parquet (S1 — the OPeNDAP
  * fetch stays outside the Spark data plane by design, SURVEY.md §7.3;
  * a fetched NetCDF file stages through the `netcdf-classic` scan,
  * [[graft.sources.netcdf.NetcdfDataSource]]); the small control tables
  * below have dedicated readers.
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

  /** The Hadoop configuration of the active (else the default) session,
    * or a fresh one outside Spark. */
  def hadoopConf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** The bytes of the driver-side file at `path` (a local path, a
    * `file:` URI or a cluster path), read through its path's Hadoop
    * FileSystem; None when there is no file there. */
  def fileBytes(path: String,
      conf: org.apache.hadoop.conf.Configuration = hadoopConf): Option[Array[Byte]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(in.readAllBytes()) finally in.close()
    }
  }

  /** [[fileBytes]] of a file that must exist. */
  def readFile(path: String,
      conf: org.apache.hadoop.conf.Configuration = hadoopConf): Array[Byte] =
    fileBytes(path, conf).getOrElse(
      throw new java.io.FileNotFoundException(s"$path: no such file"))

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
    * HRU) so this parses driver-side, with no Spark job, and returns
    * (nhru, elev) with nhru = 1-based position, matching the
    * reference's positional ordering. The file opens through its path's
    * Hadoop FileSystem (a local path, a `file:` URI or a cluster path). */
  def prmsElevations(spark: SparkSession, path: String): DataFrame = {
    val lines = new String(readFile(path, spark.sparkContext.hadoopConfiguration),
      "UTF-8").linesIterator.toVector
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
