package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Minimal ESRI shapefile ingestion (S2 parity): the reference
  * suffix-dispatches `.shp` next to parquet when reading its polygon
  * targets (`etl.py:563`, `etl.py:806`, via geopandas); this reader
  * implements the PUBLISHED formats directly — the ESRI Shapefile
  * Technical Description (July 1998) for `.shp` and the dBASE III
  * header layout for the sibling `.dbf` attribute table — the same
  * situation as the CDF-5 writer ([[graft.sinks.NetcdfClassic]]): a
  * public spec hand-implemented, nobody's code.
  *
  * Scope: Polygon (shape type 5) and Null (0) records; every ring of a
  * record becomes a ring of one WKB polygon (shapefile rings arrive
  * closed; outer rings CW, holes CCW — ring order is preserved, and the
  * downstream shoelace centroid [[graft.functions.WkbGeom]] handles
  * signs by construction). Attributes: dBASE C (string), N/F (long or
  * double by decimal count), L (boolean) fields; a missing `.dbf`
  * yields just the 1-based record number as `fid`.
  *
  * The parse is DRIVER-SIDE by design: geometry targets are
  * feature-table-sized (the reference loads them fully in geopandas
  * too) and the output immediately becomes an ordinary DataFrame.
  * Corpus-scale geometry belongs in GeoParquet
  * ([[Sources.geoParquetFeatures]] — the distributed path). */
object Shapefile {

  /** Read `path` (.shp) + sibling .dbf into (attrs..., geometry WKB).
    * All three files open through the path's Hadoop FileSystem, so
    * `path` may be a local path, a `file:` URI or a cluster path.
    *
    * CRS CONTRACT: output coordinates are geographic lon/lat matching
    * the grid. The reference reprojects features to the grid CRS
    * before taking bounds (`etl.py:321-322`, `gdf.to_crs(grid_crs)`
    * with the catalog's `crs` column); this engine mirrors that for a
    * sibling `.prj` declaring a PROJECTED CRS of a supported family
    * (Transverse Mercator — UTM and the national grids —, Mercator,
    * Equirectangular): coordinates are REPROJECTED to lon/lat at read
    * time via [[CrsTransform]]. An unsupported projection is rejected
    * loudly — silently treating projected eastings/northings as
    * degrees would produce wrong subsets downstream. A geographic
    * `.prj` (GEOGCS/GEOGCRS) passes through; a missing `.prj` falls
    * back to the documented fixture contract (coordinates assumed
    * grid lon/lat). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    def sibling(ext: String) =
      Sources.fileBytes(path.replaceAll("(?i)\\.shp$", ext), conf)
    val transform = crsInverse(path, sibling(".prj"))
    val geoms = parseShp(Sources.readFile(path, conf), transform)
    val (fields, records) = sibling(".dbf").map(parseDbf).getOrElse(
      (Seq(StructField("fid", LongType)),
        geoms.indices.map(i => Seq[Any]((i + 1).toLong))))
    require(records.length == geoms.length,
      s"shapefile mismatch: ${geoms.length} shapes vs ${records.length} dbf records")
    val schema = StructType(fields :+ StructField("geometry", BinaryType))
    val rows = records.zip(geoms).map { case (attrs, g) =>
      Row.fromSeq(attrs :+ g)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
  }

  /** Resolve the CRS contract from the sibling `.prj` (OGC WKT), when
    * present: geographic → None (coordinates pass through), projected
    * of a supported family → Some(inverse transform to lon/lat),
    * unsupported projection or unrecognized kind → loud failure.
    * Datum shifts stay out of scope in BOTH directions — sub-degree
    * datum differences are the reference's tolerance too (it feeds
    * any geographic CRS straight to the same bbox math). */
  private def crsInverse(path: String, prj: Option[Array[Byte]])
      : Option[(Double, Double) => (Double, Double)] = prj.flatMap { bytes =>
    // UTF-8, not US-ASCII: Windows GIS tools commonly write the .prj
    // with a UTF-8 BOM, which ASCII decoding mangles into replacement
    // chars that takeWhile would keep and misclassify. Decode UTF-8
    // and drop anything before the first WKT keyword letter.
    val wkt = new String(bytes, "UTF-8")
      .dropWhile(c => !c.isLetter).trim
    val kind = wkt.takeWhile(c => c.isLetter || c == '_').toUpperCase
    kind match {
      case "GEOGCS" | "GEOGCRS" | "GEODCRS" => None // geographic lon/lat
      case "PROJCS" | "PROJCRS" =>
        try Some(CrsTransform.fromProjcsWkt(wkt).inverse)
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"shapefile $path declares a PROJECTED CRS its reader " +
              s"cannot invert (${wkt.take(60)}...): ${e.getMessage} — " +
              "reproject upstream (e.g. ogr2ogr -t_srs) before ingestion")
        }
      case other => throw new IllegalArgumentException(
        s"shapefile $path has an unrecognized .prj CRS kind '$other' " +
          s"(${wkt.take(60)}...): expected a geographic CRS " +
          "(GEOGCS/GEOGCRS) matching the grid, or a supported PROJCS")
    }
  }

  /** .shp → one little-endian WKB POLYGON (or null for Null shapes)
    * per record; `transform` (the CRS inverse) applied per point when
    * the `.prj` declared a supported projected CRS, rings otherwise
    * carried through verbatim. */
  private def parseShp(
      bytes: Array[Byte],
      transform: Option[(Double, Double) => (Double, Double)] = None)
      : IndexedSeq[Array[Byte]] = {
    val be = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    require(be.getInt(0) == 9994, s"not a shapefile (file code ${be.getInt(0)})")
    val fileLenBytes = be.getInt(24).toLong * 2 // length counted in 16-bit words
    // trust the ACTUAL buffer, not just the declared length: a
    // truncated download must fail with this message, not an
    // IndexOutOfBoundsException mid-parse
    require(fileLenBytes <= bytes.length,
      s"truncated shapefile: header declares $fileLenBytes bytes, " +
        s"file has ${bytes.length}")
    val le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(le.getInt(28) == 1000, s"unsupported shapefile version ${le.getInt(28)}")
    val out = IndexedSeq.newBuilder[Array[Byte]]
    var off = 100
    while (off + 8 <= fileLenBytes) {
      val contentLen = be.getInt(off + 4) * 2
      // spec minimum is the 4-byte shape type; anything smaller means a
      // corrupt header — without this check a negative length would
      // stall the loop (off never advances) or walk backward forever
      require(contentLen >= 4,
        s"corrupt shapefile: record at offset $off declares content " +
          s"length $contentLen bytes")
      val c = off + 8 // content start
      require(c.toLong + contentLen <= bytes.length,
        s"corrupt shapefile: record at offset $off ($contentLen bytes) " +
          s"extends past the ${bytes.length}-byte file")
      val shapeType = le.getInt(c)
      shapeType match {
        case 0 => out += null // Null shape
        case 5 =>
          val numParts = le.getInt(c + 36)
          val numPoints = le.getInt(c + 40)
          val partsOff = c + 44
          val pointsOff = partsOff + 4 * numParts
          val starts = (0 until numParts).map(p => le.getInt(partsOff + 4 * p))
          val ends = starts.drop(1) :+ numPoints
          // WKB: byteOrder, type=3, numRings, then per ring numPoints + xy
          val wkb = ByteBuffer
            .allocate(1 + 4 + 4 + numParts * 4 + numPoints * 16)
            .order(ByteOrder.LITTLE_ENDIAN)
          wkb.put(1.toByte).putInt(3).putInt(numParts)
          var p = 0
          while (p < numParts) {
            val n = ends(p) - starts(p)
            wkb.putInt(n)
            var i = starts(p)
            while (i < ends(p)) {
              val x = le.getDouble(pointsOff + 16 * i)
              val y = le.getDouble(pointsOff + 16 * i + 8)
              transform match {
                case Some(t) =>
                  val (lon, lat) = t(x, y)
                  wkb.putDouble(lon).putDouble(lat)
                case None =>
                  wkb.putDouble(x).putDouble(y)
              }
              i += 1
            }
            p += 1
          }
          out += wkb.array()
        case t => throw new IllegalArgumentException(
          s"unsupported shape type $t (only Polygon=5 and Null=0)")
      }
      off = c + contentLen
    }
    out.result()
  }

  /** .dbf → (fields, per-record attribute values). */
  private def parseDbf(bytes: Array[Byte]): (Seq[StructField], IndexedSeq[Seq[Any]]) = {
    val le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val numRecords = le.getInt(4)
    val headerSize = le.getShort(8) & 0xffff
    val recordSize = le.getShort(10) & 0xffff
    // field descriptors: 32 bytes each from offset 32 until 0x0D
    case class F(name: String, typ: Char, len: Int, dec: Int)
    val fs = Seq.newBuilder[F]
    var d = 32
    while (d < headerSize && bytes(d) != 0x0d) {
      val nameEnd = (d until d + 11).find(bytes(_) == 0).getOrElse(d + 11)
      fs += F(new String(bytes, d, nameEnd - d, "US-ASCII"),
        bytes(d + 11).toChar, bytes(d + 16) & 0xff, bytes(d + 17) & 0xff)
      d += 32
    }
    val fields = fs.result()
    val structFields = fields.map { f =>
      val t = f.typ match {
        case 'N' if f.dec == 0 => LongType
        case 'N' | 'F' => DoubleType
        case 'L' => BooleanType
        case _ => StringType // C, D, memo fallbacks stay raw strings
      }
      StructField(f.name, t)
    }
    // bounds checks up front (in Long): a record region past the buffer
    // or a recordSize smaller than the declared fields means a corrupt
    // header — failing here guarantees the per-record Int arithmetic
    // below cannot overflow AND field reads cannot bleed across records
    require(recordSize >= 1 + fields.map(_.len).sum,
      s"corrupt dbf: recordSize $recordSize < deletion flag + declared " +
        s"field widths ${fields.map(_.len).sum}")
    require(headerSize.toLong + numRecords.toLong * recordSize <= bytes.length,
      s"corrupt dbf: $numRecords records × $recordSize bytes from offset " +
        s"$headerSize exceed the ${bytes.length}-byte file")
    val records = (0 until numRecords).map { r =>
      val base = headerSize + r * recordSize
      var fo = base + 1 // skip deletion flag
      fields.map { f =>
        val raw = new String(bytes, fo, f.len, "US-ASCII").trim
        fo += f.len
        val v: Any = f.typ match {
          case 'N' if f.dec == 0 =>
            if (raw.isEmpty || raw == "*") null else raw.toLong
          case 'N' | 'F' =>
            if (raw.isEmpty || raw == "*") null else raw.toDouble
          case 'L' => raw.headOption match {
            case Some(c) if "YyTt".contains(c) => true
            case Some(c) if "NnFf".contains(c) => false
            case _ => null
          }
          case _ => if (raw.isEmpty) null else raw
        }
        v
      }
    }
    (structFields, records)
  }
}
