package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.queries.Shared
import graft.sources.Staging

/** Pins the persisted-artifact sharing in `graft.queries.Shared`:
  *
  *  - the ANN quantizers (IVF centroids, PQ codebooks) train ONCE per
  *    corpus and are served to q36/q50/q63 — never retrained per query
  *    (the Faiss deployment model: a quantizer is an index artifact);
  *  - the near-dup graph (LSH pairs, dup clusters) is computed once and
  *    shared by q14/q43/q46/q52/q61/q69;
  *  - sharing is VALUE-NEUTRAL: the cached cluster table equals a
  *    freshly-derived one (so every existing oracle is untouched).
  *
  * Uses a private copy of the sf0.001 tables so the cache keys are
  * unique to this suite regardless of what other suites have run.
  */
class ArtifactReuseSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = Staging.scratchDir("graft_artifacts_")
    Seq("documents.parquet", "embeddings.parquet").foreach { f =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$f"), d.resolve(f))
    }
    d.toString
  }

  test("ANN quantizers train once per corpus, not per query") {
    val t0 = Shared.annTrainings.get()
    SparkEntry.queries("q36_ann_ivf_topk")(spark, dir)
    assert(Shared.annTrainings.get() - t0 === 1) // IVF trained
    SparkEntry.queries("q50_ann_pq_topk")(spark, dir)
    assert(Shared.annTrainings.get() - t0 === 2) // + PQ trained
    SparkEntry.queries("q63_ann_ivfpq_topk")(spark, dir)
    assert(Shared.annTrainings.get() - t0 === 2) // q63 reuses BOTH
    SparkEntry.queries("q36_ann_ivf_topk")(spark, dir)
    SparkEntry.queries("q50_ann_pq_topk")(spark, dir)
    assert(Shared.annTrainings.get() - t0 === 2) // re-asks are free
    SparkEntry.queries("q80_ann_ivfpq_residual_topk")(spark, dir)
    assert(Shared.annTrainings.get() - t0 === 3) // + residual books
    SparkEntry.queries("q80_ann_ivfpq_residual_topk")(spark, dir)
    assert(Shared.annTrainings.get() - t0 === 3) // IVF reused, books cached
  }

  test("dup-graph artifacts are shared across their consumer queries") {
    val p1 = SparkEntry.queries("q14_minhash_lsh")(spark, dir)
    val p2 = SparkEntry.queries("q14_minhash_lsh")(spark, dir)
    assert(p1 eq p2) // same checkpointed DataFrame instance
    val c1 = SparkEntry.queries("q43_dup_clusters")(spark, dir)
    val c2 = SparkEntry.queries("q43_dup_clusters")(spark, dir)
    assert(c1 eq c2)
  }

  test("shared cluster artifact is value-identical to a fresh derivation") {
    val cached = SparkEntry.queries("q43_dup_clusters")(spark, dir)
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .repartition(col("doc_id"))
    val fresh = Dedup.duplicateClusters(d, "doc_id",
      Dedup.minhashLsh(d, "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = 0.8))
    assert(rows(cached) === rows(fresh))
  }
}
