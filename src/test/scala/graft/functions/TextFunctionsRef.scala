package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import PortableHash.portable_hash
import TextFunctions.bindOnce

/** Column-API reference forms of the codegen text kernels, kept as
  * their independently-derived verifiers in [[TextFunctionsSpec]]. */
object TextFunctionsRef {

  /** Column-API reference implementation of [[bandKeys]] (interpreted
    * HOFs — slow; kept as the independently-derived verifier of the
    * kernel, the winnowingFingerprintsRef convention). */
  def bandKeysRef(sig: Column, bands: Int, r: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        aggregate(slice(sig, b * r + lit(1), lit(r)), lit(0L),
          (acc, h) => (acc * 1000003L + h) % PortableHash.Mod).as("bkey")))

  /** Column-API reference implementation of [[winnowingFingerprints]]
    * (interpreted HOFs — slow; kept as the independently-derived
    * verifier of the kernel). */
  def winnowingFingerprintsRef(text: Column, k: Int, w: Int): Column =
    bindOnce(
      when(length(text) < k, array().cast("array<long>")).otherwise(
        transform(sequence(lit(1), length(text) - (k - 1)),
          i => portable_hash(text.substr(i, lit(k)))))) { grams =>
      val mins = when(size(grams) < w, grams).otherwise(
        transform(sequence(lit(1), size(grams) - (w - 1)),
          p => array_min(slice(grams, p, lit(w)))))
      array_sort(array_distinct(mins))
    }
}
