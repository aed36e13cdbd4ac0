package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Helpers that several query families use: the table loaders, the
  * per-corpus artifact caches, the derived gridMET-shaped inputs and the
  * shared SQL fragments. A helper one family uses lives in that
  * family's module. */
object Shared {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** documents/embeddings arrive as ONE small parquet file → one input
    * partition, which serializes the CPU-heavy per-row text/vector work
    * (hashing, shingling, folds). Spread rows across the cluster first —
    * the shuffle is tiny relative to the per-row compute it unlocks, and
    * it is exactly what a 100 TB pipeline does between a coalesced scan
    * and a compute-bound stage. */
  // keyed-only, deliberately AQE-elastic: an explicit session width
  // here was A/B-measured WORSE for the broad text family and re-
  // confirmed by an interleaved quiet-box A/B this round (steady
  // trials, 2 JVMs per mode): q75 1.22→1.59, q130 1.59→1.82, q156
  // 0.83→0.99, q182 1.04→1.39 (32-way task overhead on ~1 MB
  // exchanges), with q184/q161/q146 flat — the pair-verify machinery,
  // the one family whose per-candidate CPU dominates (q129 2.8→1.0),
  // gets its explicit-width spread at ITS OWN exchange
  // (operators.Par.spreadBy at the hammingPairsBlocked probe leg), not
  // here. OPTIMIZATION_r18.md §3 has the full table.
  private[queries] def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(col(key))

  private[queries] def docs(s: SparkSession, dir: String): DataFrame =
    spread(t(s, dir, "documents"), "doc_id")

  private[queries] def embs(s: SparkSession, dir: String): DataFrame =
    spread(t(s, dir, "embeddings"), "vec_id")

  // ---- shared ANN index artifacts (q36/q50/q63) ----
  // At 100 TB the quantizers are persisted INDEX ARTIFACTS trained once
  // per corpus and served to every query — never a per-query step (the
  // Faiss deployment model). Training is fully deterministic with the
  // same parameters as before, so each query's oracle is unchanged; the
  // cache only removes redundant re-training within a session. The
  // centroids/codebooks are plain driver-side arrays (bounded plan
  // parameters), so cache entries carry no SparkSession state.
  // `annTrainings` counts actual training runs for the spec pinning
  // "one training per corpus, not per query".
  //
  // IMMUTABLE-CORPUS-PER-PATH ASSUMPTION (applies to every cache in
  // this section, including the dup-graph caches below): entries are
  // keyed by directory path with NO data-version fingerprint, so
  // overwriting a table at the same path within a live JVM would serve
  // stale artifacts. That is the deployment contract of a persisted
  // index: rebuilding the corpus means retraining/republishing its
  // artifacts under a new version, not mutating data under a live
  // server. Tests that rewrite tables copy them to a private dir first
  // (ArtifactReuseSpec does exactly this).
  val annTrainings = new java.util.concurrent.atomic.AtomicInteger(0)

  private type Codebooks = IndexedSeq[IndexedSeq[Array[Double]]]
  private val ivfCache = TrieMap[String, Similarity.IvfIndex]()
  private val pqCache = TrieMap[String, Codebooks]()
  private val pqResCache = TrieMap[String, Codebooks]()
  private val bpeMergesCache = TrieMap[String, Seq[(String, String)]]()
  private val unigramCache = TrieMap[String, Map[String, Double]]()

  /** The cache entry for `key`, built on first request. Synchronized:
    * TrieMap.getOrElseUpdate only makes the STORE atomic, not the
    * computation — two racing first callers would both train (breaking
    * the one-training-per-corpus invariant and wasting the training
    * jobs). Training is rare; a coarse lock per cache is fine. */
  private def memo[K, V](cache: TrieMap[K, V], key: K)(build: => V): V =
    cache.synchronized(cache.getOrElseUpdate(key, build))

  /** The corpus's IVF coarse quantizer (16 lists, 3 Lloyd iterations,
    * trained on the deterministic even-id half — the 100 TB lever). */
  private[queries] def ivfArtifact(s: SparkSession, dir: String): Similarity.IvfIndex =
    memo(ivfCache, dir) {
      annTrainings.incrementAndGet()
      // the BUILD-TIME-VALIDATED artifact: list-share stats measured
      // once here, so index-overload searches carry no per-query
      // stats aggregate (same centroid values as before — the stats
      // pass does not perturb training)
      Similarity.ivfIndex(embs(s, dir), nLists = 16, iters = 3,
        trainSampleMod = 2)
    }

  /** The corpus's trained UNIGRAM-LM piece table (q156's parameters) —
    * the per-corpus artifact pattern: trained once, served to every
    * consumer (q156 surfaces training; q159 segments through the same
    * values). */
  private[queries] def unigramArtifact(
      s: SparkSession, dir: String): Map[String, Double] =
    memo(unigramCache, dir) {
      graft.operators.UnigramLm.trainUnigram(docs(s, dir), "text",
          maxPieceLen = 4, minCount = 2, maxVocab = 500, iters = 2)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }

  /** The corpus's trained tokenizer (q130's 8 ranked merges) — like
    * the ANN quantizers, a per-corpus artifact trained once and served
    * to every consumer (q130 surfaces the training itself; q137
    * evaluates fertility through the same values). */
  private[queries] def bpeMergesArtifact(
      s: SparkSession, dir: String): Seq[(String, String)] =
    memo(bpeMergesCache, dir) {
      graft.operators.BpeTrain.trainMerges(docs(s, dir), "text", 8)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
    }

  /** The corpus's PQ codebooks (m=8 × ksub=16, 2 Lloyd iterations,
    * same deterministic even-id training sample). */
  private[queries] def pqArtifact(s: SparkSession, dir: String): Codebooks =
    memo(pqCache, dir) {
      annTrainings.incrementAndGet()
      Similarity.pqCodebooks(embs(s, dir), m = 8, ksub = 16, iters = 2,
        trainSampleMod = 2)
    }

  /** RESIDUAL PQ codebooks (q80 — Faiss IVFPQ proper): trained on
    * v − centroid(list) under the SHARED coarse quantizer, same
    * m/ksub/iters/sample as [[pqArtifact]]. A third one-time artifact
    * per corpus. */
  private[queries] def pqResidualArtifact(s: SparkSession, dir: String): Codebooks =
    memo(pqResCache, dir) {
      annTrainings.incrementAndGet()
      Similarity.pqCodebooksResidual(embs(s, dir),
        ivfArtifact(s, dir).cents,
        m = 8, ksub = 16, iters = 2, trainSampleMod = 2)
    }

  // ---- shared near-dup graph artifacts (q14/q43/q46/q52/q61/q69) ----
  // Same persisted-artifact reasoning as the ANN quantizers: a real
  // pipeline computes the corpus's duplicate graph ONCE and serves the
  // cluster assignments to every downstream curation query — it does
  // not re-shingle 100 TB per query. `localCheckpoint(eager = false)`
  // materializes on first use and later consumers read the checkpointed
  // blocks; results are value-identical (the checkpoint is exact), so
  // every oracle is unchanged. Keyed by (session, dir) because a
  // checkpointed DataFrame is bound to its SparkContext.
  private val pairsCache = TrieMap[(SparkSession, String), DataFrame]()

  private val clusterCache = TrieMap[(SparkSession, String), DataFrame]()

  /** Stale-entry guard: a checkpointed DataFrame dies with its
    * SparkContext, so an entry cached for a since-stopped session must
    * be recomputed, never served. (Entries themselves are few — one
    * per (session, dir) pair — so the footprint is bounded by usage;
    * the correctness risk is staleness, handled here.) */
  private def cachedDf(
      cache: TrieMap[(SparkSession, String), DataFrame],
      key: (SparkSession, String))(build: => DataFrame): DataFrame =
    cache.synchronized {
      // evict every dead-session entry while we hold the lock — stale
      // DataFrames are unusable AND would otherwise pin their stopped
      // SparkSession object graphs for the JVM lifetime
      cache.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
      memo(cache, key)(build)
    }

  /** Near-dup candidate pairs (q14's parameters: word-trigram shingles,
    * 64-slot minhash, 16 bands, verified Jaccard ≥ 0.8). */
  private[queries] def dupPairs(s: SparkSession, dir: String): DataFrame =
    cachedDf(pairsCache, (s, dir))(
      Dedup.minhashLsh(docs(s, dir), "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = 0.8)
        .localCheckpoint(eager = false))

  /** Connected-component dup clusters over [[dupPairs]] (min-label
    * propagation + canonical election). */
  private[queries] def dupClusters(s: SparkSession, dir: String): DataFrame =
    cachedDf(clusterCache, (s, dir))(
      Dedup.duplicateClusters(docs(s, dir), "doc_id", dupPairs(s, dir))
        .localCheckpoint(eager = false))

  private val spansCache = TrieMap[(SparkSession, String), DataFrame]()

  private val jaccardPairsCache = TrieMap[(SparkSession, String), DataFrame]()

  private val simhashPairsCache = TrieMap[(SparkSession, String), DataFrame]()

  /** Exact-jaccard near-dup pairs (q17's parameters) — per-corpus
    * artifact: q17 lists them, q91 consumes them as evaluation truth. */
  private[queries] def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    cachedDf(jaccardPairsCache, (s, dir))(
      Dedup.ngramJaccardPairsAdaptive(docs(s, dir), "doc_id", "text",
        blockCol = "lang", n = 2, threshold = 0.4)
        .localCheckpoint(eager = false))

  /** Blocked-simhash near-dup pairs (q16's parameters) — per-corpus
    * artifact: q16 lists them, q91 evaluates them against [[jaccardPairs]]. */
  private[queries] def simhashPairsArtifact(s: SparkSession, dir: String): DataFrame =
    cachedDf(simhashPairsCache, (s, dir))(
      Dedup.simhashPairsBlocked(docs(s, dir), "doc_id", "text", maxHamming = 3)
        .localCheckpoint(eager = false))

  /** Cross-document repeated-span cut list (q81's parameters) — a
    * train-once corpus artifact like [[dupPairs]]: detection runs once
    * per (session, corpus) and both the q81 listing and the q83
    * removal consume the same checkpointed list (in a real curation
    * run the cut list IS a persisted intermediate, not something
    * recomputed by every consumer). */
  private[queries] def repeatedSpansArtifact(s: SparkSession, dir: String): DataFrame =
    cachedDf(spansCache, (s, dir))(
      Dedup.repeatedSpans(docs(s, dir), "doc_id", "text", n = 8, minDocs = 2)
        .localCheckpoint(eager = false))

  /** The events table's `ts` has shipped under multiple physical
    * encodings (int64 nanos in rounds 1–7, TIMESTAMP_MICROS NTZ from
    * round 8); normalize to microsecond TimestampType at the loader —
    * lossless under the UTC session zone, and identical to the
    * oracle's naive CAST(ts AS TIMESTAMP). See
    * [[graft.functions.EventTime.normalize]]. */
  private[queries] def events(s: SparkSession, dir: String): DataFrame =
    graft.functions.EventTime.normalize(t(s, dir, "events"), "ts")

  /** Exact money sum: decimal-accumulate, surface as double. */
  private[queries] def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  // ---- derived gridmet-shaped inputs over the synthetic tables ----
  // The synthetic star schema stands in for the staged grid + weight
  // tables (same shapes as FIXTURES.md §1–2): lineitem rows are "cells",
  // part rows define the cell→feature weight map.

  private[queries] def gridFromLineitem(li: DataFrame, nullify: Boolean): DataFrame = {
    val pr =
      if (nullify) when(col("l_discount") > 0.07, lit(null)).otherwise(col("l_extendedprice"))
      else col("l_extendedprice")
    li.select(
      date_trunc("month", col("l_shipdate")).cast("date").as("time"),
      (col("l_partkey") % 25).as("i"),
      (col("l_suppkey") % 10).as("j"),
      pr.as("pr"))
  }

  private[queries] def weightsFromPart(part: DataFrame): DataFrame =
    part.select(
      (col("p_partkey") % 40).as("fid"),
      (col("p_partkey") % 25).as("i"),
      (col("p_size").cast("long") % 10).as("j"),
      round(col("p_retailprice") / 1000, 6).as("wght"))

  private[queries] val weightsSql =
    """SELECT p_partkey % 40 AS fid, p_partkey % 25 AS i,
      |       CAST(p_size AS BIGINT) % 10 AS j,
      |       round(p_retailprice/1000, 6) AS wght FROM part""".stripMargin

  /** Shared CTE chain deriving the corpus near-dup PAIR set (word-
    * trigram shingles, exact Jaccard ≥ 0.8) — used verbatim by the
    * q14/q43/q46/q52/q61/q69 oracles so the pair definition can never
    * drift between them. Derivation: candidates from the shingle
    * POSTING self-join + per-pair intersection COUNT, not the all-pairs
    * O(n²) `list_intersect` join — EXACT for any positive threshold (a
    * qualifying pair shares ≥ 1 shingle, so it appears in the posting
    * join; on the `list_distinct`ed shingle lists the match count IS
    * |a∩b| and |a∪b| = m_a + m_b − |a∩b|, so the jaccard value is
    * bit-identical and rounds identically). Cost drops from n² list
    * intersections to Σ_g count(g)² cheap row matches: the q69 oracle
    * alone went 930 s → ~1 s at sf0.1 (round-11 verdict ask #5).
    * Emits CTEs `sh(doc_id, s)` and `pairs(a_id, b_id, jaccard)`. */
  private[queries] def dupPairsSqlCtes: String =
    """sh AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
      |           sh_i -> t[sh_i] || '_' || t[sh_i+1] || '_' || t[sh_i+2])) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3),
      |dp_post AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |dp_sz AS (SELECT doc_id, len(s) AS m FROM sh),
      |dp_inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
      |  FROM dp_post a JOIN dp_post b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS MATERIALIZED (
      |  SELECT a_id, b_id,
      |    round(CAST(c AS DOUBLE) / (sa.m + sb.m - c), 6) AS jaccard
      |  FROM dp_inter JOIN dp_sz sa ON sa.doc_id = a_id
      |  JOIN dp_sz sb ON sb.doc_id = b_id
      |  WHERE round(CAST(c AS DOUBLE) / (sa.m + sb.m - c), 6) >= 0.8)""".stripMargin

  /** q75's oracle body — corpus-trained add-one bigram LM, per-doc avg
    * −ln p. A def so q146's bucketing can nest the SAME derivation as
    * a CTE subquery (the q85/q91 composition pattern). */
  private[queries] def lmScoreSql: String = {
    val contrib = graft.functions.TextFunctions.round6Sql(
      "-ln(CAST(c_ab + 1 AS DOUBLE) / CAST(c_a + v.vocab AS DOUBLE))")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |pairs AS (SELECT doc_id, g['a'] AS a, g['b'] AS b FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |      pi -> struct_pack(a := t[pi], b := t[pi+1]))) AS g
       |    FROM tk WHERE len(t) >= 2)),
       |uni AS (SELECT a, count(*) AS c_a FROM (
       |    SELECT unnest(t) AS a FROM tk) GROUP BY 1),
       |bi AS (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY 1, 2),
       |v AS (SELECT count(*) AS vocab FROM uni)
       |SELECT p.doc_id AS doc_id, count(*) AS n_pairs,
       |  ${graft.functions.TextFunctions.round6Sql(
           "CAST(sum(CAST(" + contrib + " AS DECIMAL(28,6))) AS DOUBLE)" +
             " / CAST(count(*) AS DOUBLE)")} AS nll
       |FROM pairs p JOIN bi USING (a, b) JOIN uni USING (a) CROSS JOIN v
       |GROUP BY 1""".stripMargin
  }

  /** q20's oracle body (shared with q153). */
  private[queries] def textQualitySql: String = {
    def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
    val meanLen = r6("(length(text) - (CAST(len(t) AS DOUBLE) - 1))/len(t)")
    val stopR = r6("CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)/len(t)")
    s"""SELECT doc_id,
       |  len(t) AS ws_tokens,
       |  len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS re_tokens,
       |  ${r6(s"""0.4 * least(CAST(len(t) AS DOUBLE)/200.0, 1.0)
       |      + 0.3 * least($meanLen/8.0, 1.0)
       |      + 0.3 * least($stopR*5.0, 1.0)""")} AS quality
       |FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)""".stripMargin
  }

  /** DuckDB rendering of [[graft.functions.PortableHash]] for ASCII
    * strings: left fold (acc*31 + byte) mod 1e9+7. */
  private[queries] def hashSql(expr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($expr)+1), ch_i -> ascii($expr[ch_i]))), " +
      s"(acc, c) -> (acc*31 + c) % 1000000007)"

  /** DuckDB rendering of [[graft.functions.FoldDot]] over two DOUBLE
    * lists: left fold Σ a[i]·b[i], 0.0 init, ascending i. */
  private[queries] def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, len($a)+1), zi -> $a[zi] * $b[zi])), " +
      s"(a0, x0) -> a0 + x0)"

  /** One unrolled Lloyd iteration of the q36 IVF quantizer: assignment
    * under centroids `prev` (argmin of the −2·v·c+‖c‖² partial, ties →
    * lowest cid), then the per-(cid,dim) two-level deterministic fold
    * mean (fold x by id within 1024-id blocks, fold block sums by blk)
    * — the exact SQL mirror of Similarity.ivfCentroids' update.
    *
    * ORACLE-TRACTABILITY CONTRACT (the round-6 lesson, learned the
    * hard way): every CTE that a later stage references more than
    * once — directly or through a chain — is declared AS MATERIALIZED.
    * DuckDB inlines plain CTEs, so an unrolled iteration chain without
    * the hint re-evaluates its predecessors multiplicatively (q92's
    * un-materialized power iteration ran >10 min vs 1.1 s materialized
    * and zeroed the whole round's driver correctness artifact).
    * MATERIALIZED is purely an evaluation hint — results are
    * identical — so it is always safe to add. tools/check.py enforces
    * the other half of the contract: a per-oracle wall budget. */
  private[queries] def ivfIterSql(n: Int, prev: String): String =
    s"""s$n AS (SELECT e.id, e.v, c.cid,
       |  ${dotSql("e.v", "c.c")} * -2.0 + ${dotSql("c.c", "c.c")} AS d2
       |  FROM e CROSS JOIN $prev c),
       |a$n AS MATERIALIZED (SELECT id, v, cid FROM (
       |  SELECT id, v, cid,
       |    row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
       |  FROM s$n) WHERE rn = 1),
       |u$n AS (SELECT cid, id, unnest(v) AS x,
       |  unnest(range(0, len(v))) AS pos FROM a$n),
       |b$n AS (SELECT cid, pos, id // 1024 AS blk,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list(x ORDER BY id)),
       |    (a0, x0) -> a0 + x0) AS bsum,
       |  count(*) AS bn FROM u$n GROUP BY cid, pos, blk),
       |d$n AS (SELECT cid, pos,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list(bsum ORDER BY blk)),
       |    (a0, x0) -> a0 + x0) / CAST(sum(bn) AS DOUBLE) AS x
       |  FROM b$n GROUP BY cid, pos),
       |c$n AS MATERIALIZED (SELECT cid, list(x ORDER BY pos) AS c FROM d$n GROUP BY cid)""".stripMargin

  /** The committed source-reader fixtures (`data/` in this repo). An
    * absolute path: the engine's Verify pass and the driver's DuckDB
    * oracle pass run with different working directories, and both
    * sides must read the identical file. */
  private[queries] def fixturePath(name: String): String = s"/root/repo/data/$name"
}
