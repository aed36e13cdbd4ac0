package graft.model

import org.apache.spark.sql.types._

/** Core data model for the engine — relational re-expression of the
  * reference's xarray/geopandas abstractions (SURVEY.md §1).
  *
  * Reference: rmcd-mscb/gridmet-etl. Gridded rasters (`etl.py:181`,
  * `etl.py:273-281`) become long-form DataFrames; the weight table
  * (`data/nhru_01a/gm_nhru01_weights.csv`) and catalog
  * (`gridmet_etl/data/cfsv2.json`) become small broadcastable tables.
  */
object Model {

  /** Long-form staged grid schema (FIXTURES.md §1). One row per
    * (time [, ens], j, i); climate variables are wide columns. */
  def gridSchema(vars: Seq[String], withEns: Boolean): StructType = {
    val base = Seq(
      StructField("time", TimestampType, nullable = false)) ++
      (if (withEns) Seq(StructField("ens", IntegerType, nullable = false)) else Nil) ++
      Seq(
        StructField("j", IntegerType, nullable = false),
        StructField("i", IntegerType, nullable = false),
        StructField("lat", DoubleType, nullable = false),
        StructField("lon", DoubleType, nullable = false))
    StructType(base ++ vars.map(v => StructField(v, DoubleType, nullable = true)))
  }

  /** gridMET variable rename map (F7, `etl.py:725-736`). */
  val GridmetRenames: Seq[(String, String)] = Seq(
    "tmmx" -> "tmax", "tmmn" -> "tmin", "pr" -> "prcp",
    "rmax" -> "rhmax", "rmin" -> "rhmin", "vs" -> "ws")

  /** CFSv2 variable rename map (`etl.py:529-530`). */
  val Cfsv2Renames: Seq[(String, String)] = Seq(
    "tmmx" -> "tmax", "tmmn" -> "tmin", "pr" -> "prcp", "sph" -> "sph")

  /** CF attrs carried to the sink (K1, `gm_header.md:80-83`). */
  val GlobalAttrs: Map[String, String] = Map(
    "Conventions" -> "CF-1.8",
    "featureType" -> "timeSeries")

  /** Units of the gridMET output contract — literal strings from
    * `gm_header.md:12-78`. */
  val OutputUnits: Map[String, String] = Map(
    "tmax" -> "degree_Celsius", "tmin" -> "degree_Celsius",
    "prcp" -> "millimeter", "rhmax" -> "percent", "rhmin" -> "percent",
    "ws" -> "meter / second", "humidity" -> "percent")

  /** long_name of each output var (`gm_header.md` — the pre-rename
    * source names, plus humidity's descriptive name). */
  val OutputLongNames: Map[String, String] =
    GridmetRenames.map(_.swap).toMap ++
      Map("humidity" -> "Daily mean relative humidity")

  /** NetCDF fill value of the output contract (`gm_header.md:13`). */
  val FillValue: Double = 9.96920996838687e+36

  /** The contract's WGS-84 crs_wkt string (`gm_header.md:20`). */
  val CrsWkt: String =
    "GEOGCRS[\"WGS 84\",ENSEMBLE[\"World Geodetic System 1984 ensemble\"," +
    "MEMBER[\"World Geodetic System 1984 (Transit)\"]," +
    "MEMBER[\"World Geodetic System 1984 (G730)\"]," +
    "MEMBER[\"World Geodetic System 1984 (G873)\"]," +
    "MEMBER[\"World Geodetic System 1984 (G1150)\"]," +
    "MEMBER[\"World Geodetic System 1984 (G1674)\"]," +
    "MEMBER[\"World Geodetic System 1984 (G1762)\"]," +
    "MEMBER[\"World Geodetic System 1984 (G2139)\"]," +
    "ELLIPSOID[\"WGS 84\",6378137,298.257223563,LENGTHUNIT[\"metre\",1]]," +
    "ENSEMBLEACCURACY[2.0]],PRIMEM[\"Greenwich\",0," +
    "ANGLEUNIT[\"degree\",0.0174532925199433]],CS[ellipsoidal,2]," +
    "AXIS[\"geodetic latitude (Lat)\",north,ORDER[1]," +
    "ANGLEUNIT[\"degree\",0.0174532925199433]]," +
    "AXIS[\"geodetic longitude (Lon)\",east,ORDER[2]," +
    "ANGLEUNIT[\"degree\",0.0174532925199433]]," +
    "USAGE[SCOPE[\"Horizontal component of 3D system.\"]," +
    "AREA[\"World.\"],BBOX[-90,-180,90,180]],ID[\"EPSG\",4326]]"
}
