package graft.sinks

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}

/** Minimal pure-JVM NetCDF classic writer, header parser and element
  * decoder, CDF-5 variant (magic `CDF\x05`) — the classic-model format
  * extension that adds NC_INT64, which the reference's output contract
  * needs for its `int64 time(time)` / `int64 nhru(nhru)` coordinates
  * (`gm_header.md:63-68`, encoding control `helper.py:103-121`).
  *
  * Format follows the published classic/CDF-5 file-format
  * specification (netcdf-c docs appendix / PnetCDF CDF-5 spec):
  *
  *   file    = header data
  *   header  = magic numrecs dim_list gatt_list var_list
  *   magic   = 'C' 'D' 'F' \x05
  *   tags    = NC_DIMENSION \x0A, NC_VARIABLE \x0B, NC_ATTRIBUTE \x0C
  *             (4-byte, big-endian), nc_type 4-byte
  *   NON_NEG = 8-byte big-endian in CDF-5 (numrecs, list counts, name
  *             lengths, dim lengths, attr nelems, var ndims, dimids,
  *             vsize); `begin` offsets 8-byte
  *   names and attribute values are padded to 4-byte boundaries;
  *   vsize = nelems·sizeof(type) rounded up to 4; fixed-size variable
  *   data lives at `begin` in declaration order.
  *
  * Everything here is fixed-size (no unlimited dimension): the contract
  * files are dense (time, nhru) matrices of the AGGREGATED output, the
  * same in-memory array the reference hands to xarray's to_netcdf
  * (`etl.py:465`, `etl.py:749-750`). Writing them is a driver-side
  * post-step over output-sized data; the 100 TB data plane stays in
  * parquet ([[Sinks.writeContract]]), and larger-than-memory outputs
  * chunk by time range into one file per chunk (the reference's own
  * per-day/per-ensemble file layout, K4). Files are read back through
  * the `netcdf-classic` scan ([[graft.sources.netcdf.NetcdfDataSource]]),
  * which parses the header here and decodes variable slices with
  * [[Input]].
  */
object NetcdfClassic {

  val NcByte = 1
  val NcChar = 2
  val NcShort = 3
  val NcInt = 4
  val NcFloat = 5
  val NcDouble = 6
  val NcInt64 = 10

  final case class Dim(name: String, length: Long)

  sealed trait AttVal
  final case class AttText(s: String) extends AttVal
  final case class AttDoubles(v: Seq[Double]) extends AttVal
  final case class AttLongs(v: Seq[Long]) extends AttVal
  object AttVal {
    def apply(s: String): AttVal = AttText(s)
    def apply(d: Double): AttVal = AttDoubles(Seq(d))
    def apply(l: Long): AttVal = AttLongs(Seq(l))
  }
  final case class Att(name: String, value: AttVal)

  def elemSize(t: Int): Int = t match {
    case NcChar => 1
    case NcInt | NcFloat => 4
    case NcDouble | NcInt64 => 8
    case other => throw new IllegalArgumentException(s"unsupported nc_type ${typeName(other)}")
  }

  /** The CDL name of an nc_type code, for error messages. */
  def typeName(t: Int): String = t match {
    case NcByte => "NC_BYTE"
    case NcChar => "NC_CHAR"
    case NcShort => "NC_SHORT"
    case NcInt => "NC_INT"
    case NcFloat => "NC_FLOAT"
    case NcDouble => "NC_DOUBLE"
    case NcInt64 => "NC_INT64"
    case other => s"nc_type $other"
  }

  private def pad4(n: Long): Long = (n + 3) & ~3L

  /** Variable declaration without data — the [[StreamingWriter]] form
    * of [[Var]]: the header is fully determined by declarations, so
    * data can arrive later, slab by slab. */
  final case class VarDecl(name: String, dimIds: Seq[Int], atts: Seq[Att], ncType: Int)
  final case class NcDecl(dims: Seq[Dim], gatts: Seq[Att], vars: Seq[VarDecl])

  /** Incremental writer: the header (and the final file length) are
    * fixed by the declarations alone, so it is written up-front and
    * variable data arrives afterwards in arbitrary-offset slabs —
    * `putDoubles`/`putLongs` seek to `begin + offset·elemSize` and
    * write. A caller streaming a sorted (time, feature) row iterator
    * holds ONE time-slice per variable in memory instead of the dense
    * time×feature matrix ([[Sinks.writeNetcdf]] does exactly that).
    * Unwritten gaps read as zeros (`setLength` pre-sizes the file);
    * writers that need fill sentinels write them in their slabs. */
  final class StreamingWriter(path: String, decl: NcDecl) extends AutoCloseable {
    private val nelems: IndexedSeq[Long] = decl.vars.map(v =>
      v.dimIds.map(decl.dims(_).length).product).toIndexedSeq
    private val begins: IndexedSeq[Long] = {
      // pass 1 with zeroed begins to learn the header length (begins
      // are fixed-width, so the length is final), then assign data
      // offsets in declaration order
      var off = serializeHeader(decl, nelems, decl.vars.map(_ => 0L)).length.toLong
      decl.vars.zipWithIndex.map { case (v, i) =>
        val b = off
        off += pad4(nelems(i) * elemSize(v.ncType))
        b
      }.toIndexedSeq
    }
    private val totalLen: Long =
      if (decl.vars.isEmpty) serializeHeader(decl, nelems, Nil).length.toLong
      else begins.last + pad4(nelems.last * elemSize(decl.vars.last.ncType))
    private val idx: Map[String, Int] = decl.vars.map(_.name).zipWithIndex.toMap
    private val raf = new java.io.RandomAccessFile(path, "rw")
    raf.setLength(0L) // truncate any previous file
    raf.write(serializeHeader(decl, nelems, begins))
    raf.setLength(totalLen) // pre-size: pads and unwritten gaps are zeros
    /** Slab writes so far — lets specs assert data arrived incrementally. */
    var slabsWritten: Long = 0L

    private def target(name: String, offsetElems: Long, n: Int, ncType: Int): Long = {
      val i = idx.getOrElse(name,
        throw new IllegalArgumentException(s"undeclared variable $name"))
      val v = decl.vars(i)
      require(v.ncType == ncType,
        s"$name: declared nc_type ${v.ncType}, slab is $ncType")
      require(offsetElems >= 0 && offsetElems + n <= nelems(i),
        s"$name: slab [$offsetElems, ${offsetElems + n}) outside 0..${nelems(i)}")
      begins(i) + offsetElems * elemSize(ncType)
    }
    def putDoubles(name: String, offsetElems: Long, a: Array[Double]): Unit = {
      val pos = target(name, offsetElems, a.length, NcDouble)
      val buf = ByteBuffer.allocate(a.length * 8).order(ByteOrder.BIG_ENDIAN)
      buf.asDoubleBuffer().put(a)
      raf.seek(pos); raf.write(buf.array()); slabsWritten += 1
    }
    def putLongs(name: String, offsetElems: Long, a: Array[Long]): Unit = {
      val pos = target(name, offsetElems, a.length, NcInt64)
      val buf = ByteBuffer.allocate(a.length * 8).order(ByteOrder.BIG_ENDIAN)
      buf.asLongBuffer().put(a)
      raf.seek(pos); raf.write(buf.array()); slabsWritten += 1
    }
    def close(): Unit = raf.close()
  }

  private def serializeHeader(
      decl: NcDecl, nelems: Seq[Long], begins: Seq[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    def name(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      d.writeLong(b.length.toLong)
      d.write(b)
      (0 until (pad4(b.length) - b.length).toInt).foreach(_ => d.writeByte(0))
    }
    def attList(atts: Seq[Att]): Unit = {
      if (atts.isEmpty) { d.writeInt(0); d.writeLong(0L) } // ABSENT
      else {
        d.writeInt(0x0C) // NC_ATTRIBUTE
        d.writeLong(atts.length.toLong)
        atts.foreach { a =>
          name(a.name)
          a.value match {
            case AttText(s) =>
              val b = s.getBytes("UTF-8")
              d.writeInt(NcChar); d.writeLong(b.length.toLong); d.write(b)
              (0 until (pad4(b.length) - b.length).toInt).foreach(_ => d.writeByte(0))
            case AttDoubles(v) =>
              d.writeInt(NcDouble); d.writeLong(v.length.toLong)
              v.foreach(d.writeDouble)
            case AttLongs(v) =>
              d.writeInt(NcInt64); d.writeLong(v.length.toLong)
              v.foreach(d.writeLong)
          }
        }
      }
    }
    d.writeBytes("CDF"); d.writeByte(5)
    d.writeLong(0L) // numrecs: no unlimited dimension
    if (decl.dims.isEmpty) { d.writeInt(0); d.writeLong(0L) }
    else {
      d.writeInt(0x0A) // NC_DIMENSION
      d.writeLong(decl.dims.length.toLong)
      decl.dims.foreach { dim => name(dim.name); d.writeLong(dim.length) }
    }
    attList(decl.gatts)
    if (decl.vars.isEmpty) { d.writeInt(0); d.writeLong(0L) }
    else {
      d.writeInt(0x0B) // NC_VARIABLE
      d.writeLong(decl.vars.length.toLong)
      decl.vars.zip(nelems).zip(begins).foreach { case ((v, ne), begin) =>
        name(v.name)
        d.writeLong(v.dimIds.length.toLong)
        v.dimIds.foreach(i => d.writeLong(i.toLong))
        attList(v.atts)
        d.writeInt(v.ncType)
        d.writeLong(pad4(ne * elemSize(v.ncType))) // vsize
        d.writeLong(begin)
      }
    }
    d.flush()
    bos.toByteArray
  }

  /** Parsed variable header: everything needed to locate and type its
    * data without reading it (the DSv2 scan seeks per slice). */
  final case class VarHeader(
      name: String, dimIds: Seq[Int], atts: Seq[Att],
      ncType: Int, vsize: Long, begin: Long)
  final case class Header(dims: Seq[Dim], gatts: Seq[Att], vars: Seq[VarHeader])

  /** Header-only parse of all three classic variants — CDF-1
    * (`CDF\x01`, 32-bit sizes/offsets), CDF-2 (`CDF\x02`, 64-bit
    * offsets) and CDF-5 (`CDF\x05`, 64-bit everything + int64 data).
    * No unlimited-dimension (record) support — the engine's contract
    * files are fixed-size.
    *
    * The file opens through its path's Hadoop FileSystem (a local path,
    * a `file:` URI or a cluster path), with the active session's Hadoop
    * configuration when there is one. */
  def readHeader(path: String): Header = {
    val in = open(path, graft.sources.Sources.hadoopConf)
    try readHeader(in) finally in.close()
  }

  /** An open NetCDF file and its length: the scan reads its header and
    * then only the byte ranges it needs, with positioned reads. */
  final class Input(stream: FSDataInputStream, val length: Long) extends AutoCloseable {
    def bytes(offset: Long, n: Int): ByteBuffer = {
      val b = new Array[Byte](n)
      stream.readFully(offset, b)
      ByteBuffer.wrap(b)
    }
    /** Elements [from, from + n) of `v`, decoded as doubles. */
    def doubles(v: VarHeader, from: Long, n: Int): Array[Double] = {
      val w = elemSize(v.ncType)
      NetcdfClassic.doubles(v.ncType, bytes(v.begin + from * w, n * w), n)
    }
    /** The first `n` elements of integer variable `v`. */
    def longs(v: VarHeader, n: Int): Array[Long] =
      NetcdfClassic.longs(v.ncType, bytes(v.begin, n * elemSize(v.ncType)), n)
    def close(): Unit = stream.close()
  }

  def open(path: String, conf: Configuration): Input = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    new Input(fs.open(p), fs.getFileStatus(p).getLen)
  }

  /** Reads only the header bytes (64 KiB first, growing on underflow):
    * loading a multi-GB data file whole just to parse its header would
    * break the scan's "only requested byte ranges are touched"
    * contract. */
  def readHeader(in: Input): Header = {
    var attempt = 64L * 1024
    while (true) {
      val buf = in.bytes(0L, math.min(attempt, in.length).toInt)
      try return parseHeader(buf)
      catch {
        case _: java.nio.BufferUnderflowException if buf.capacity < in.length =>
          attempt *= 8 // header larger than the guess: retry bigger
      }
    }
    sys.error("unreachable")
  }

  /** The element decoder: the first `n` values of type `t` in the
    * big-endian `buf`, as doubles. NC_FLOAT widens, and so do the
    * integer types, for coordinates; any other type fails naming it. */
  def doubles(t: Int, buf: ByteBuffer, n: Int): Array[Double] = t match {
    case NcDouble => val a = new Array[Double](n); buf.asDoubleBuffer().get(a); a
    case NcFloat => val a = new Array[Float](n); buf.asFloatBuffer().get(a); a.map(_.toDouble)
    case NcInt | NcInt64 => longs(t, buf, n).map(_.toDouble)
    case other => throw new IllegalArgumentException(s"cannot decode ${typeName(other)} as double")
  }

  /** The element decoder for integer values: NC_INT widens to long. */
  def longs(t: Int, buf: ByteBuffer, n: Int): Array[Long] = t match {
    case NcInt64 => val a = new Array[Long](n); buf.asLongBuffer().get(a); a
    case NcInt => val a = new Array[Int](n); buf.asIntBuffer().get(a); a.map(_.toLong)
    case other => throw new IllegalArgumentException(s"cannot decode ${typeName(other)} as long")
  }

  private def parseHeader(buf: ByteBuffer): Header = {
    require(buf.get() == 'C' && buf.get() == 'D' && buf.get() == 'F',
      "not a NetCDF classic file")
    val version = buf.get()
    require(version == 1 || version == 2 || version == 5,
      s"unsupported classic variant $version")
    // CDF-5 widens every non-negative size field to 8 bytes; begin
    // offsets are 8 bytes from CDF-2 up
    def nonNeg(): Long = if (version == 5) buf.getLong() else buf.getInt().toLong
    def offset(): Long = if (version >= 2) buf.getLong() else buf.getInt().toLong
    require(nonNeg() == 0L, "unexpected record count (record vars unsupported)")
    def name(): String = {
      val n = nonNeg().toInt
      val b = new Array[Byte](n)
      buf.get(b)
      buf.position(buf.position() + (pad4(n) - n).toInt)
      new String(b, "UTF-8")
    }
    def attList(): Seq[Att] = {
      val tag = buf.getInt()
      val n = nonNeg().toInt
      require(tag == 0x0C || (tag == 0 && n == 0), s"bad att tag $tag")
      (0 until n).map { _ =>
        val nm = name()
        val t = buf.getInt()
        val k = nonNeg().toInt
        val v = t match {
          case NcChar =>
            val b = new Array[Byte](k)
            buf.get(b)
            buf.position(buf.position() + (pad4(k) - k).toInt)
            AttText(new String(b, "UTF-8"))
          case NcDouble => AttDoubles((0 until k).map(_ => buf.getDouble()))
          case NcFloat =>
            val v = (0 until k).map(_ => buf.getFloat().toDouble)
            buf.position(buf.position() + (pad4(4L * k) - 4L * k).toInt)
            AttDoubles(v)
          case NcInt64 => AttLongs((0 until k).map(_ => buf.getLong()))
          case NcInt =>
            val v = (0 until k).map(_ => buf.getInt().toLong)
            buf.position(buf.position() + (pad4(4L * k) - 4L * k).toInt)
            AttLongs(v)
          case other => throw new IllegalArgumentException(s"att type $other")
        }
        Att(nm, v)
      }
    }
    val dimTag = buf.getInt()
    val nDims = nonNeg().toInt
    require(dimTag == 0x0A || (dimTag == 0 && nDims == 0), s"bad dim tag $dimTag")
    val dims = (0 until nDims).map(_ => Dim(name(), nonNeg()))
    val gatts = attList()
    val varTag = buf.getInt()
    val nVars = nonNeg().toInt
    require(varTag == 0x0B || (varTag == 0 && nVars == 0), s"bad var tag $varTag")
    val headers = (0 until nVars).map { _ =>
      val nm = name()
      val nd = nonNeg().toInt
      val dimIds = (0 until nd).map(_ => nonNeg().toInt)
      val atts = attList()
      val t = buf.getInt()
      val vsize = nonNeg()
      val begin = offset()
      VarHeader(nm, dimIds, atts, t, vsize, begin)
    }
    Header(dims, gatts, headers)
  }
}
