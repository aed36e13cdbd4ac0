package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — one query per implemented operator from SURVEY.md
  * §2 (+ the training-data-pipeline extensions), each declared once in
  * its family's module under `graft.queries` as a [[graft.queries.Query]]
  * that pairs the Spark builder with equivalent DuckDB SQL.
  * `queries` and `oracleSql` are both derived from [[declarations]].
  *
  * Determinism policy (drives every query):
  *  - integer outputs and single-pass column arithmetic are bit-exact in
  *    both engines — no rounding needed;
  *  - money sums go through DECIMAL(18,2) then cast back to double —
  *    exact regardless of aggregation order;
  *  - floating-point reductions whose order Spark may permute
  *    (weighted means, value sums) are rounded (4–6 dp) in BOTH engines;
  *  - HOF folds (`aggregate`) are left-to-right and mirrored by DuckDB
  *    `list_reduce`, so hash/cosine values match bit-for-bit.
  */
object SparkEntry {

  /** Every declared query, in family order (VerifySurfaceSpec pins the
    * names distinct: the maps below would keep only one of two). */
  val declarations: Seq[Query] = Seq(ClimateQueries, RelationalQueries,
    StreamingQueries, DedupQueries, SimilarityQueries, CurationQueries,
    TokenizerQueries, MixtureQueries, PackingQueries, MultimodalQueries)
    .flatMap(_.all)

  /** Flagship: the area-weighted-mean pipeline (A1+J1) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    ClimateQueries.weightedMean.build(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declarations.map(q => q.name -> q.build).toMap

  /** Evaluated on first use only: some oracles read committed fixtures. */
  lazy val oracleSql: Map[String, String] =
    declarations.map(q => q.name -> q.oracle).toMap

  /** Spark's bundled RocksDB state-store provider (spark-sql jar +
    * rocksdbjni native lib — no extra dependency), selected through
    * `spark.sql.streaming.stateStore.providerClass`. Its value at 100×
    * state volumes is bounded heap (native memory + local SST files),
    * not speed: the round-19 interleaved A/B over all 10 streaming rows
    * read hdfs 19.1 s vs rocksdb 24.7 s, so the heap-resident
    * HDFS-backed store stays the default and q105–q111 are
    * parity-checked under both (RocksDbParitySpec). */
  val RocksDbProviderClass: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
}
