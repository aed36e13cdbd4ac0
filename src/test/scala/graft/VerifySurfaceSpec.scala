package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** VERIFY-SURFACE LINT — the driver's DuckDB comparer canonicalizes a
  * query's output by sorting on ALL columns; pandas' lexsort cannot
  * hash an array cell, so ANY query exposing a top-level
  * array/map/struct column errors at compare time (round-14 q140: the
  * only red row of 159, `TypeError: unhashable type: numpy.ndarray`).
  * This spec constructs every declared query at sf0.001 and pins the
  * contract so the failure class cannot recur: scalar-only output
  * columns, and a 1:1 queries↔oracleSql key correspondence (a query
  * without an oracle silently downgrades to a rows-only check).
  *
  * Construction only — no action is run here; queries whose BUILDERS
  * run bounded driver-side actions (centroid seeding, classifier GD,
  * AvailableNow streams) pay that cost once at the smallest SF.
  */
class VerifySurfaceSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("every query's oracle key exists and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("the declaration list holds 186 distinct names, each with a family") {
    // the maps are built with toMap, which keeps one of two same-named
    // declarations silently: a dropped or duplicated entry must fail here
    // instead of shrinking the suite
    val names = SparkEntry.declarations.map(_.name)
    assert(names.size === 186)
    assert(names.distinct.size === names.size,
      s"names declared twice: ${names.diff(names.distinct).distinct.sorted}")
    val untagged = SparkEntry.declarations.filter(_.family.trim.isEmpty)
    assert(untagged.isEmpty,
      s"declarations without a family: ${untagged.map(_.name)}")
  }

  test("no query exposes a top-level array/map/struct output column") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad = fn(spark, dir).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
        bad
    }
    assert(offenders.isEmpty,
      "driver canonicalization cannot sort these columns — scalarize " +
        "(q99 position-weighted checksum or explode): " +
        offenders.mkString("; "))
  }
}
