package graft.sinks

import NetcdfClassic._

/** Whole-file NetCDF classic values for specs: [[write]] builds fixture
  * files (through [[NetcdfClassic.StreamingWriter]]) and [[read]] loads
  * every variable for golden-header checks, over
  * [[NetcdfClassic.readHeader]] and the scan's element decoder. */
object NetcdfWholeFile {

  sealed trait VarData { def ncType: Int; def nelems: Long }
  final case class DoubleData(v: Array[Double]) extends VarData {
    def ncType = NcDouble; def nelems = v.length.toLong
  }
  final case class LongData(v: Array[Long]) extends VarData {
    def ncType = NcInt64; def nelems = v.length.toLong
  }

  /** dimIds index into the file's dim list; data length must equal the
    * product of the referenced dim lengths (checked at write). */
  final case class Var(name: String, dimIds: Seq[Int], atts: Seq[Att], data: VarData)

  final case class Nc(dims: Seq[Dim], gatts: Seq[Att], vars: Seq[Var])

  def write(path: String, nc: Nc): Unit = {
    nc.vars.foreach { v =>
      val expect = v.dimIds.map(i => nc.dims(i).length).product
      require(v.data.nelems == expect,
        s"${v.name}: data has ${v.data.nelems} elems, dims imply $expect")
    }
    val decl = NcDecl(nc.dims, nc.gatts,
      nc.vars.map(v => VarDecl(v.name, v.dimIds, v.atts, v.data.ncType)))
    val w = new StreamingWriter(path, decl)
    try nc.vars.foreach { v =>
      v.data match {
        case DoubleData(a) => w.putDoubles(v.name, 0L, a)
        case LongData(a) => w.putLongs(v.name, 0L, a)
      }
    } finally w.close()
  }

  /** Header plus all variable data; NC_FLOAT reads as doubles, NC_INT as
    * longs. */
  def read(path: String): Nc = {
    val in = NetcdfClassic.open(path, new org.apache.hadoop.conf.Configuration())
    try {
      val h = NetcdfClassic.readHeader(in)
      Nc(h.dims, h.gatts, h.vars.map { vh =>
        val n = vh.dimIds.map(h.dims(_).length).product.toInt
        val data = vh.ncType match {
          case NcInt | NcInt64 => LongData(in.longs(vh, n))
          case _ => DoubleData(in.doubles(vh, 0L, n))
        }
        Var(vh.name, vh.dimIds, vh.atts, data)
      })
    } finally in.close()
  }
}
