package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.model.Model

/** Sinks (SURVEY.md §2.7). Parquet-first: the reference's CF-NetCDF
  * contract (`gm_header.md`) maps to partitioned parquet in the contract
  * schema + a JSON attrs sidecar; `_FillValue` ↔ parquet nulls; zlib ↔
  * column compression. Literal `.nc` emission is the driver-side
  * post-step [[writeNetcdf]] over the (output-sized) contract table —
  * the 100 TB data plane stays parquet.
  */
object Sinks {

  /** K1 (full form) — emit a `gm_header.md`-conformant CF-1.8 NetCDF
    * (CDF-5) file from the finalized contract table (`etl.py:749-750`,
    * encodings `helper.py:103-121`): dims (time, nhru); double data
    * vars with `_FillValue` 9.96920996838687e+36 (humidity: NaN, as the
    * reference leaves xarray's default); int64 `time` as days since
    * `start`; int64 `nhru`; lat/lon centroid coordinate vars; the WGS-84
    * `crs` scalar.
    *
    * RECORD-STREAMED (round 10): the dense time×feature matrix is
    * NEVER materialized on the driver. The series is sorted by
    * (time, nhru) and consumed through `toLocalIterator` one partition
    * at a time; the writer buffers ONE time-slice per variable
    * (|features| doubles each) and flushes it as a slab into the
    * pre-sized file via [[NetcdfClassic.StreamingWriter]]. Driver
    * memory is O(|features| × |vars|) — one time-slice — plus the
    * coordinate axes themselves (|days| + |features| longs, which ARE
    * output variables and so are irreducible; both come from one
    * aggregation pass over the projected series). The reference
    * materializes the whole cube in xarray before `to_netcdf`
    * (`etl.py:465`); at millions of features × years of days that is
    * a driver OOM this writer structurally cannot hit. The fixed
    * (non-record) CDF layout is kept — slab writes seek per
    * (var, day), sequential within each variable — so output bytes
    * are identical to the all-at-once writer and golden-header specs
    * are unaffected. Chunk by time range (one call per file, K4
    * naming) only if a single .nc consumer caps file size.
    *
    * COMPRESSION PARITY (K2): the reference's fill stage rewrites its
    * NetCDF with `zlib=True, complevel=2` (`helper.py:103-121`).
    * Classic CDF-5 — this writer's format — has no in-format
    * compression (deflate is an HDF5-backed NetCDF-4 feature), so the
    * emitted `.nc` is uncompressed; the engine's declared data-plane
    * analog is parquet zstd ([[writeContract]]), which is where
    * 100 TB outputs actually live. A byte-parity consumer needing a
    * deflated `.nc` should run the public `nccopy -d2` post-step (or
    * any netcdf-java rewrite) over this file — the header contract
    * (golden-tested in SinksSpec) is unaffected.
    *
    * @param ts       finalized series: (nhru, time, tmax tmin prcp
    *                 rhmax rhmin ws [humidity])
    * @param features (fid, lat, lon) centroids for the coordinate vars
    * @param start    time origin, "YYYY-MM-DD"
    */
  /** Evidence of incremental consumption, returned by [[writeNetcdf]]:
    * `slabsWritten` counts per-(day, var) slab flushes (plus the
    * coordinate/crs puts), `rowsStreamed` the series rows consumed,
    * `sliceElems` the buffered time-slice width. A dense-materializing
    * writer would show ONE slab per variable. */
  final case class NetcdfWriteStats(
      slabsWritten: Long, rowsStreamed: Long, sliceElems: Int)

  def writeNetcdf(
      ts: DataFrame, features: DataFrame, path: String, start: String,
      featureIdName: String = "nhru_v1_1"): NetcdfWriteStats = {
    import NetcdfClassic._
    val dataVars = Seq("tmax", "tmin", "prcp", "rhmax", "rhmin", "ws", "humidity")
      .filter(ts.columns.contains)
    // two passes over the projection, the axis aggregation and the
    // sorted record stream: callers hand in the written contract table,
    // whose re-read is cheap, so nothing is cached (a caller with an
    // expensive `ts` persists it first)
    val proj = ts.select(
      col("nhru").cast("long").as("nhru"),
      datediff(col("time").cast("date"), lit(start).cast("date")).cast("long")
        .as("day"),
      struct(dataVars.map(v => col(v).cast("double")): _*).as("vals"))
    // axis domains: both sorted distinct sets from ONE aggregation pass
    // (|days| and |features| longs — they become the int64 coordinate
    // variables, so this is the file's own axis data, not the matrix)
    val axes = proj.agg(array_sort(collect_set(col("day"))),
      array_sort(collect_set(col("nhru")))).first()
    val days = axes.getSeq[Long](0).toArray
    val hrus = axes.getSeq[Long](1).toArray
    val dayIdx = days.zipWithIndex.toMap
    val hruIdx = hrus.zipWithIndex.toMap
    val centroid = graft.sources.Sources.centroids(features)
    val crsAtts = Seq(
      Att("_FillValue", AttVal(Double.NaN)),
      Att("crs_wkt", AttVal(Model.CrsWkt)),
      Att("semi_major_axis", AttVal(6378137.0)),
      Att("semi_minor_axis", AttVal(6356752.31424518)),
      Att("inverse_flattening", AttVal(298.257223563)),
      Att("reference_ellipsoid_name", AttVal("WGS 84")),
      Att("longitude_of_prime_meridian", AttVal(0.0)),
      Att("prime_meridian_name", AttVal("Greenwich")),
      Att("geographic_crs_name", AttVal("WGS 84")),
      Att("horizontal_datum_name", AttVal("World Geodetic System 1984 ensemble")),
      Att("grid_mapping_name", AttVal("latitude_longitude")))
    def fillOf(v: String): Double =
      if (v == "humidity") Double.NaN else Model.FillValue
    def dataVar(v: String): VarDecl =
      VarDecl(v, Seq(0, 1),
        Seq(Att("_FillValue", AttVal(fillOf(v))),
          Att("long_name", AttVal(Model.OutputLongNames(v))),
          Att("grid_mapping", AttVal("crs")),
          Att("units", AttVal(Model.OutputUnits(v))),
          Att("coordinates", AttVal("time lat lon"))), NcDouble)
    // declaration order mirrors gm_header.md: tmax, crs, the remaining
    // data vars, then coordinates, then humidity — but every data var
    // is optional (the pipeline is lenient to missing variables, F6)
    val decls =
      dataVars.filter(_ == "tmax").map(dataVar) ++
      Seq(VarDecl("crs", Nil, crsAtts, NcDouble)) ++
      dataVars.filter(v => v != "tmax" && v != "humidity").map(dataVar) ++
      Seq(
        VarDecl("time", Seq(0),
          Seq(Att("units", AttVal(s"days since $start 00:00:00")),
            Att("calendar", AttVal("proleptic_gregorian"))), NcInt64),
        VarDecl("nhru", Seq(1),
          Seq(Att("feature_id", AttVal(featureIdName))), NcInt64),
        VarDecl("lat", Seq(1),
          Seq(Att("long_name", AttVal("Latitude of HRU centroid")),
            Att("standard_name", AttVal("latitude")),
            Att("axis", AttVal("Y"))), NcDouble),
        VarDecl("lon", Seq(1),
          Seq(Att("long_name", AttVal("Longitude of HRU centroid")),
            Att("standard_name", AttVal("longitude")),
            Att("axis", AttVal("X"))), NcDouble)) ++
      (if (dataVars.contains("humidity")) Seq(dataVar("humidity")) else Nil)
    val w = new StreamingWriter(path, NcDecl(
      dims = Seq(Dim("time", days.length.toLong), Dim("nhru", hrus.length.toLong)),
      gatts = Model.GlobalAttrs.toSeq.sortBy(_._1)
        .map { case (k, v) => Att(k, AttVal(v)) },
      vars = decls))
    var rowsStreamed = 0L
    try {
      // coordinate/scalar vars: axis-sized, written whole
      w.putDoubles("crs", 0L, Array(Double.NaN))
      w.putLongs("time", 0L, days)
      w.putLongs("nhru", 0L, hrus)
      w.putDoubles("lat", 0L,
        hrus.map(h => centroid.get(h).map(_._1).getOrElse(Double.NaN)))
      w.putDoubles("lon", 0L,
        hrus.map(h => centroid.get(h).map(_._2).getOrElse(Double.NaN)))
      // data vars: one pass over the series sorted (day, nhru); the
      // iterator pulls one shuffle partition at a time, the buffer is
      // one |features|-wide slice per variable, flushed per day
      val nv = dataVars.length
      val slice = Array.tabulate(nv)(vi =>
        Array.fill(hrus.length)(fillOf(dataVars(vi))))
      def resetSlice(): Unit = {
        var vi = 0
        while (vi < nv) {
          java.util.Arrays.fill(slice(vi), fillOf(dataVars(vi))); vi += 1
        }
      }
      def flush(day: Long): Unit = {
        val base = dayIdx(day).toLong * hrus.length
        var vi = 0
        while (vi < nv) { w.putDoubles(dataVars(vi), base, slice(vi)); vi += 1 }
      }
      var curDay = Long.MinValue
      var haveDay = false
      val it = proj.orderBy(col("day"), col("nhru")).toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        val day = r.getLong(1)
        if (!haveDay || day != curDay) {
          if (haveDay) flush(curDay)
          curDay = day; haveDay = true; resetSlice()
        }
        val hi = hruIdx(r.getLong(0))
        val s = r.getStruct(2)
        var vi = 0
        while (vi < nv) {
          if (!s.isNullAt(vi)) slice(vi)(hi) = s.getDouble(vi)
          vi += 1
        }
        rowsStreamed += 1
      }
      if (haveDay) flush(curDay)
    } finally w.close()
    NetcdfWriteStats(w.slabsWritten, rowsStreamed, hrus.length)
  }

  /** K1 — contract sink: CF metadata (global attrs + per-var units from
    * column metadata) lands in `<path>/_attrs.json`; data is parquet,
    * optionally partitioned (e.g. "ens" for the ensemble layout K4 —
    * `ensembles/<date>/ensemble_<n>` ↔ `partitionBy(ens)`). */
  def writeContract(
      df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil,
      extraAttrs: Map[String, String] = Map.empty): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
    val varAttrs = df.schema.fields.collect {
      case f if f.metadata.contains("units") =>
        s""""${f.name}": {"units": "${f.metadata.getString("units")}"}"""
    }.mkString(",")
    val globals = (Model.GlobalAttrs ++ extraAttrs)
      .map { case (k, v) => s""""$k": "$v"""" }.mkString(",")
    // the sidecar follows the OUTPUT path's filesystem, like the
    // parquet beside it: java.nio cannot open a file:/hdfs:/s3a: URI
    val attrs = new org.apache.hadoop.fs.Path(path, "_attrs.json")
    val out = attrs.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .create(attrs, true)
    try out.write(s"""{"global": {$globals}, "variables": {$varAttrs}}"""
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** K3 — NN-mapping CSV (`helper.py:75-77`; default name `helper.py:13`). */
  def writeMappingCsv(mapping: DataFrame, path: String): Unit =
    mapping.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  /** K4 — output naming protocol (`etl.py:493-498`, `etl.py:770-775`,
    * `helper.py:92-99`): `<date>_converted` → `<date>_filled_converted`
    * with optional `_<ens>` / `_median` suffix. */
  def outputName(
      startDate: String, filled: Boolean,
      ensemble: Option[Int] = None, median: Boolean = false): String = {
    val base = if (filled) s"${startDate}_filled_converted" else s"${startDate}_converted"
    val suffix = ensemble.map(e => s"_$e").getOrElse(if (median) "_median" else "")
    base + suffix
  }

  /** Stable sink ordering (the reference's TYX layout, F8): deterministic
    * file content for downstream diffing — sort is the LAST operation so
    * it never constrains upstream plans. */
  def ordered(df: DataFrame, keys: String*): DataFrame =
    df.orderBy(keys.map(col): _*)
}
