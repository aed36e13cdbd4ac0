package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.functions.TextFunctions

import Shared._

/** Deduplication: exact, MinHash-LSH, simhash, n-gram Jaccard and
  * winnowing detectors, dup clusters, substring spans, incremental
  * admission and crawl-level (URL, paragraph) dedup. */
object DedupQueries extends QueryFamily("dedup") {

  /** Shared CTE chain deriving the q81 `spans` table (doc_id, span,
    * start_tok, end_tok, marked_grams) — used verbatim by the q81 and
    * q83 oracles so the span definition can never drift between them
    * (mirrors `Dedup.repeatedSpans` being the one engine-side source). */
  private def repeatedSpanCtes: String =
    """base AS (SELECT doc_id, string_split(text, ' ') AS arr
      |              FROM documents),
      |idx AS (SELECT doc_id, arr, unnest(range(0, len(arr) - 7)) AS pos
      |        FROM base WHERE len(arr) >= 8),
      |grams AS (SELECT doc_id, pos,
      |          array_to_string(arr[pos+1 : pos+8], ' ') AS g FROM idx),
      |hot AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
      |        FROM grams GROUP BY g) WHERE nd >= 2),
      |marked AS (SELECT doc_id, pos FROM grams JOIN hot USING (g)),
      |sp AS (SELECT doc_id, pos,
      |       CASE WHEN pos - lag(pos) OVER w > 8 THEN 1 ELSE 0 END AS newspan
      |       FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |sp2 AS (SELECT doc_id, pos,
      |        sum(newspan) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
      |        FROM sp),
      |spans AS (SELECT doc_id, min(pos) AS start_tok, max(pos) + 8 AS end_tok,
      |  count(*) AS marked_grams
      |FROM sp2 GROUP BY doc_id, span)""".stripMargin

  /** q16's oracle body — simhash hamming ≤ 3 pairs; a def so q91's
    * detector evaluation nests the same derivation as a CTE. */
  private def simhashPairsSql: String =
    s"""WITH h AS (SELECT doc_id,
       |  list_transform(string_split(text, ' '), tok -> ${hashSql("tok")}) AS hashes
       |  FROM documents),
       |sig AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 30), j ->
       |  CASE WHEN list_sum(list_transform(hashes,
       |         h2 -> (CAST(floor(h2 / power(2, j)) AS BIGINT) % 2) * 2 - 1)) > 0
       |       THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
       |FROM h)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |       bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  /** q17's oracle body — lang-blocked bigram jaccard ≥ 0.4 pairs;
    * shared with q91. */
  private def ngramJaccardPairsSql: String =
    """WITH sh AS MATERIALIZED (
      |  SELECT doc_id, lang, list_distinct(list_transform(range(1, len(t)),
      |           sh_i -> t[sh_i] || '_' || t[sh_i+1])) AS s
      |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 2)
      |SELECT a_id, b_id, jaccard FROM (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
      |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id)
      |WHERE jaccard >= 0.4""".stripMargin

  val all: Seq[Query] = Seq(
    // ---- dedup: exact ----
    query("q13_dedup_exact")((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val doubled = d.unionAll(d.select(col("doc_id") + 100000, col("text")))
      Dedup.exact(doubled, "doc_id", "text")
    }) {
      """WITH doubled AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM doubled GROUP BY text""".stripMargin
    },

    // ---- dedup: minhash LSH + exact-jaccard verification ----
    query("q14_minhash_lsh")((s, dir) => dupPairs(s, dir)) {
      s"""WITH $dupPairsSqlCtes
         |SELECT a_id, b_id, jaccard FROM pairs""".stripMargin
    },

    // ---- dedup: simhash signatures ----
    query("q15_simhash")((s, dir) =>
      Dedup.simhashSignatures(docs(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")) {
      s"""WITH h AS (SELECT doc_id,
         |  list_transform(string_split(text, ' '), tok -> ${hashSql("tok")}) AS hashes
         |  FROM documents)
         |SELECT doc_id, CAST(list_sum(list_transform(range(0, 30), j ->
         |  CASE WHEN list_sum(list_transform(hashes,
         |         h2 -> (CAST(floor(h2 / power(2, j)) AS BIGINT) % 2) * 2 - 1)) > 0
         |       THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
         |FROM h""".stripMargin
    },

    // ---- dedup: simhash near-dup pairs (pigeonhole bit-blocking —
    // exact, so the all-pairs oracle still matches; the all-pairs
    // Spark form survives only as DedupSpec's small-n verifier).
    // h=3 over 30 bits → 4 blocks of 7-8 bits; h=8 left 3-bit blocks
    // with no pruning power (and pairs 87% of n² is not "near-dup") ----
    query("q16_simhash_pairs")((s, dir) => simhashPairsArtifact(s, dir))(simhashPairsSql),

    // ---- dedup: n-gram jaccard via hash-keyed inverted index with the
    // heavy-hitter salted join wired in (hot shingles spread over salted
    // reducers; result set unchanged). The PPJoin prefix-filter variant
    // (sparse-vocab scale path) and the measured dense variant are
    // equality-pinned in DedupSpec. ----
    // checked path = the adaptive entry: the dense-bitmap kernel when
    // the vocabulary is bounded (here ~1k terms — measured 3× over the
    // inverted index), falling back to the inverted index beyond
    // maxVocab so the contract stays total; equality-pinned in
    // DedupSpec
    query("q17_ngram_jaccard")((s, dir) => jaccardPairs(s, dir))(ngramJaccardPairsSql),

    // ---- detector evaluation: precision/recall of the simhash pair
    // finder (q16) against exact jaccard pairs (q17) as truth — the
    // calibration measurement for distance/threshold choices ----
    query("q91_dedup_eval")((s, dir) =>
      Dedup.pairMetrics(jaccardPairs(s, dir), simhashPairsArtifact(s, dir))) {
      // q91: q17's jaccard pairs as truth, q16's simhash pairs as the
      // prediction — the same derivations nested as CTE subqueries (the
      // q85 composition pattern); 0/0 ratios are NULL.
      def ratio(num: String, den: String) =
        s"CASE WHEN $den = 0 THEN NULL ELSE " +
          graft.functions.TextFunctions.round6Sql(
            s"CAST($num AS DOUBLE) / CAST($den AS DOUBLE)") + " END"
      s"""WITH truth AS ($ngramJaccardPairsSql),
         |pred AS ($simhashPairsSql),
         |ct AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         |cp AS (SELECT CAST(count(*) AS BIGINT) AS n_pred FROM pred),
         |ch AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
         |  FROM truth t JOIN pred p
         |    ON t.a_id = p.a_id AND t.b_id = p.b_id)
         |SELECT n_truth, n_pred, n_hit,
         |  ${ratio("n_hit", "n_pred")} AS precision,
         |  ${ratio("n_hit", "n_truth")} AS recall
         |FROM ct CROSS JOIN cp CROSS JOIN ch""".stripMargin
    },

    // ---- substring-level dedup: cross-document repeated n-gram spans
    // (Lee et al. span-removal shape) — token ranges to cut; served
    // from the per-corpus artifact cache (trial 1 pays detection) ----
    query("q81_repeated_spans")((s, dir) => repeatedSpansArtifact(s, dir)) {
      // q81/q83: ONE span-derivation CTE chain serves both oracles (the
      // engine's shared-derivation principle, mirrored). The oracle
      // groups on the RAW n-gram string where the engine groups on
      // (xxhash64, length) — the q13 fingerprint precedent: a collision
      // would surface here as a hash mismatch.
      s"""WITH $repeatedSpanCtes
         |SELECT doc_id, start_tok, end_tok, marked_grams FROM spans""".stripMargin
    },

    // ---- apply the q81 cut list: substring-level dedup REMOVAL —
    // rebuild each document minus its cross-document repeated spans
    // (the cut list is the shared corpus artifact, not a recompute) ----
    query("q83_span_cut")((s, dir) =>
      Dedup.applySpanCuts(docs(s, dir), "doc_id", "text",
        repeatedSpansArtifact(s, dir))) {
      // q83: apply the q81 cut list — ANTI JOIN on the span ranges, then
      // order-deterministic text rebuild; pass-through docs via LEFT JOIN.
      s"""WITH $repeatedSpanCtes,
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |         unnest(range(0, len(string_split(text, ' ')))) AS pos
         |         FROM documents),
         |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t ANTI JOIN spans s
         |         ON t.doc_id = s.doc_id
         |         AND t.pos >= s.start_tok AND t.pos < s.end_tok),
         |reb AS (SELECT doc_id,
         |        array_to_string(list(tok ORDER BY pos), ' ') AS text_cut,
         |        count(*) AS nk FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(reb.text_cut, '') AS text_cut,
         |  len(string_split(d.text, ' ')) - coalesce(reb.nk, 0) AS removed_tokens
         |FROM documents d LEFT JOIN reb ON d.doc_id = reb.doc_id""".stripMargin
    },

    // ---- incremental exact dedup: admit only docs new vs the
    // accepted corpus AND first-by-id within the batch (the daily-
    // ingestion form; corpus side travels as 12-byte fingerprints) ----
    query("q86_incremental_dedup")((s, dir) => {
      val d = docs(s, dir)
      // deterministic split standing in for accepted-corpus vs new
      // batch: even ids are the corpus, odd ids the increment
      Dedup.incrementalExact(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1),
          "doc_id", "text")
        .select(col("doc_id"), col("lang"))
    }) {
      // q86: the oracle dedups on RAW text (the q13 precedent — an
      // engine-side (xxhash64, length) collision would surface here).
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
        |batch AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
        |firsts AS (SELECT min(doc_id) AS doc_id FROM batch GROUP BY text),
        |admitted AS (
        |  SELECT b.doc_id FROM batch b JOIN firsts f USING (doc_id)
        |  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text))
        |SELECT doc_id, lang FROM batch JOIN admitted USING (doc_id)""".stripMargin
    },

    // ---- winnowing fingerprints ----
    query("q18_fingerprints")((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          explode(TextFunctions.winnowingFingerprints(col("text"), 8, 4)).as("fp"))) {
      s"""WITH g AS (SELECT doc_id,
         |  CASE WHEN length(text) < 8 THEN [] ELSE
         |    list_transform(range(1, length(text) - 6),
         |      g_i -> ${hashSql("substring(text, g_i, 8)")}) END AS grams
         |  FROM documents),
         |m AS (SELECT doc_id,
         |  CASE WHEN len(grams) < 4 THEN grams ELSE
         |    list_transform(range(1, len(grams) - 2),
         |      p -> list_min(grams[p:p+3])) END AS mins
         |  FROM g)
         |SELECT doc_id, unnest(list_sort(list_distinct(mins))) AS fp FROM m""".stripMargin
    },

    // ---- URL-canonical crawl dedup: two messy variants per doc
    // (uppercase host, default port, tracking params, fragment,
    // shuffled param order) collapse to one canonical key; clusters
    // aggregate per canonical URL. The whole fixture + normalization
    // contract replays in the oracle ----
    query("q134_url_canonical_dedup")((s, dir) => {
      val d = docs(s, dir)
      val id7 = (col("doc_id") % 7).cast("string")
      val id41 = (col("doc_id") % 41).cast("string")
      val id13 = (col("doc_id") % 13).cast("string")
      val u1 = concat(lit("HTTP://WWW.Site"), id7, lit(".COM:80/Articles/"),
        id41, lit("?utm_source=feed&ref="), col("source"),
        lit("&id="), id13, lit("#section-2"))
      val u2 = concat(lit("http://www.site"), id7, lit(".com/Articles/"),
        id41, lit("?id="), id13, lit("&ref="), col("source"),
        lit("&gclid=XYZ"))
      graft.operators.Corpus.urlDupClusters(
        d.select(col("doc_id"), explode(array(u1, u2)).as("url")),
        col("doc_id"), col("url"), countDocs = true)
    }) {
      // q134: fixture + canonicalization contract replayed — fragment
      // strip, scheme/authority lowercase, default-port strip,
      // tracking-param filter, binary param sort — then the same
      // per-canonical-key aggregate.
      """WITH u AS (SELECT doc_id, unnest([
        |    'HTTP://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.COM:80/Articles/' || CAST(doc_id % 41 AS VARCHAR) ||
        |      '?utm_source=feed&ref=' || source ||
        |      '&id=' || CAST(doc_id % 13 AS VARCHAR) || '#section-2',
        |    'http://www.site' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.com/Articles/' || CAST(doc_id % 41 AS VARCHAR) ||
        |      '?id=' || CAST(doc_id % 13 AS VARCHAR) ||
        |      '&ref=' || source || '&gclid=XYZ']) AS url
        |  FROM documents),
        |p AS (SELECT doc_id, string_split(url, '#')[1] AS s0 FROM u),
        |q AS (SELECT doc_id,
        |    lower(regexp_extract(s0, '^([^:/?#]+)://', 1)) AS scheme,
        |    regexp_replace(s0, '^[^:/?#]+://', '') AS rest
        |  FROM p),
        |r AS (SELECT doc_id, scheme,
        |    lower(regexp_extract(rest, '^([^/?]*)', 1)) AS auth0,
        |    substring(rest, length(regexp_extract(rest, '^([^/?]*)', 1)) + 1)
        |      AS tail
        |  FROM q),
        |t AS (SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'http' AND ends_with(auth0, ':80')
        |           THEN left(auth0, length(auth0) - 3)
        |         WHEN scheme = 'https' AND ends_with(auth0, ':443')
        |           THEN left(auth0, length(auth0) - 4)
        |         ELSE auth0 END AS auth,
        |    CASE WHEN contains(tail, '?')
        |         THEN left(tail, strpos(tail, '?') - 1) ELSE tail END AS path,
        |    CASE WHEN contains(tail, '?')
        |         THEN substring(tail, strpos(tail, '?') + 1) ELSE '' END AS qs
        |  FROM r),
        |c AS (SELECT doc_id,
        |    scheme || '://' || auth || path ||
        |    CASE WHEN len(kept) = 0 THEN ''
        |         ELSE '?' || array_to_string(kept, '&') END AS canon_url
        |  FROM (SELECT *,
        |      list_sort(list_filter(string_split(qs, '&'),
        |        pp -> pp <> '' AND NOT (
        |          starts_with(string_split(pp, '=')[1], 'utm_') OR
        |          string_split(pp, '=')[1] IN ('gclid', 'fbclid', 'msclkid'))))
        |        AS kept
        |    FROM t))
        |SELECT canon_url,
        |  regexp_extract(canon_url, '^[^:/?#]+://([^/?]*)', 1) AS host,
        |  count(*) AS n_urls,
        |  count(DISTINCT doc_id) AS n_docs,
        |  min(doc_id) AS min_doc
        |FROM c GROUP BY canon_url""".stripMargin
    },

    // ---- int8 embedding quantization: per-tensor absmax calibration
    // (one scalar aggregate → plan parameter), then quantize +
    // reconstruction error as a zero-shuffle projection ----
    // ---- global paragraph-level dedup (CCNet first pass): pages get
    // a shared subscribe banner (one global cluster), a %5 cluster
    // line, a whitespace-only paragraph, an intra-doc banner repeat
    // and a shared footer; only the globally-first copy of each
    // paragraph survives, docs rebuilt in original order ----
    query("q141_paragraph_dedup")((s, dir) => {
      val page = concat_ws("\n",
        col("text"),
        lit("Subscribe to our newsletter today."),
        lit("   "),
        concat(lit("Cluster line number "),
          (col("doc_id") % 5).cast("string"), lit(".")),
        lit("Subscribe to our newsletter today."),
        lit("All rights reserved."))
      graft.operators.Corpus.paragraphDedup(
        docs(s, dir).withColumn("page", page),
        col("doc_id"), col("page"))
    }) {
      // q141: the same page built in SQL; first-occurrence election by
      // RAW trimmed-paragraph equality (fingerprint-equal ⇔ text-equal
      // on collision-free data, the q139 convention), docs rebuilt via
      // ordered string_agg; whitespace-only paragraphs never counted.
      """WITH d AS (SELECT doc_id AS id,
        |    text || chr(10) || 'Subscribe to our newsletter today.' ||
        |    chr(10) || '   ' || chr(10) ||
        |    'Cluster line number ' || CAST(doc_id % 5 AS VARCHAR) || '.' ||
        |    chr(10) || 'Subscribe to our newsletter today.' ||
        |    chr(10) || 'All rights reserved.' AS page
        |  FROM documents),
        |x AS (SELECT id, unnest(string_split(page, chr(10))) AS p0,
        |    unnest(range(0, len(string_split(page, chr(10))))) AS pos
        |  FROM d),
        |ne AS (SELECT id, pos, trim(p0) AS p FROM x
        |       WHERE length(trim(p0)) > 0),
        |kept AS (SELECT id, pos, p FROM (
        |    SELECT id, pos, p, row_number() OVER
        |      (PARTITION BY p ORDER BY id, pos) AS rk FROM ne)
        |  WHERE rk = 1),
        |agg AS (SELECT id, string_agg(p, chr(10) ORDER BY pos) AS ct,
        |    COUNT(*) AS n_kept FROM kept GROUP BY id),
        |np AS (SELECT id, COUNT(*) AS n_paras FROM ne GROUP BY id)
        |SELECT d.id, coalesce(agg.ct, '') AS clean_text,
        |  CAST(coalesce(np.n_paras, 0) AS BIGINT) AS n_paras,
        |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept
        |FROM d LEFT JOIN np ON d.id = np.id
        |LEFT JOIN agg ON d.id = agg.id""".stripMargin
    },

    // ---- incremental NEAR-dup admission (the crawl-refresh gate):
    // the batch carries verbatim corpus copies (rejected), one-word
    // appends (near-dups, rejected wherever J >= 0.8) and word-
    // reversed texts (trigram-disjoint from their originals, admitted
    // unless near-dupping a LOWER-id reversed batch twin) ----
    query("q144_incremental_neardup")((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val batch = d.select((col("doc_id") + 200000L).as("doc_id"),
        when(col("doc_id") % 3 === 0, col("text"))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit(" extraword")))
          .otherwise(array_join(reverse(split(col("text"), " ")), " "))
          .as("text"))
      graft.operators.Dedup.incrementalNear(d, batch, "doc_id", "text")
    }) {
      // q144: the corpus∪batch near-pair set from the q14 posting-join
      // derivation (raw trigram strings — collision-free ⇔ the engine's
      // 64-bit hash sets), then the side-aware rejection rule: a batch
      // doc dies on any corpus match or a lower-id batch match.
      """WITH alldocs AS (
        |  SELECT doc_id, 0 AS side, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, 1,
        |    CASE WHEN doc_id % 3 = 0 THEN text
        |         WHEN doc_id % 3 = 1 THEN text || ' extraword'
        |         ELSE array_to_string(
        |           list_reverse(string_split(text, ' ')), ' ') END
        |  FROM documents),
        |sh AS MATERIALIZED (
        |  SELECT doc_id, side, list_distinct(list_transform(range(1, len(t)-1),
        |           sh_i -> t[sh_i] || '_' || t[sh_i+1] || '_' || t[sh_i+2])) AS s
        |  FROM (SELECT doc_id, side, string_split(text, ' ') AS t FROM alldocs)
        |  WHERE len(t) >= 3),
        |post AS (SELECT doc_id, side, unnest(s) AS g FROM sh),
        |sz AS (SELECT doc_id, len(s) AS m FROM sh),
        |inter AS (SELECT a.doc_id AS a_id, a.side AS a_side,
        |    b.doc_id AS b_id, b.side AS b_side, count(*) AS c
        |  FROM post a JOIN post b
        |    ON a.g = b.g AND a.doc_id < b.doc_id
        |   AND (a.side = 1 OR b.side = 1)
        |  GROUP BY 1, 2, 3, 4),
        |pairs AS (SELECT a_id, a_side, b_id, b_side
        |  FROM inter JOIN sz sa ON sa.doc_id = a_id
        |  JOIN sz sb ON sb.doc_id = b_id
        |  WHERE round(CAST(c AS DOUBLE) / (sa.m + sb.m - c), 6) >= 0.8),
        |rejected AS (SELECT DISTINCT
        |    CASE WHEN a_side = 1 AND b_side = 0 THEN a_id
        |         ELSE b_id END AS doc_id
        |  FROM pairs)
        |SELECT doc_id, text FROM alldocs
        |WHERE side = 1
        |  AND doc_id NOT IN (SELECT doc_id FROM rejected)""".stripMargin
    },

    // ---- near-dup clusters: connected components over the q14 LSH
    // pairs + canonical-doc election (min-label propagation) ----
    query("q43_dup_clusters")((s, dir) => dupClusters(s, dir)) {
      // q43: pair source = q14's exact-Jaccard pairs (the LSH config has
      // full recall there — q14 is hash-identical to this all-pairs
      // form), then a recursive-CTE transitive closure; min reachable id
      // = the propagation fixpoint.
      s"""WITH RECURSIVE $dupPairsSqlCtes,
        |edges AS (SELECT a_id AS x, b_id AS y FROM pairs
        |          UNION SELECT b_id, a_id FROM pairs),
        |reach(x, y) AS (
        |  SELECT x, y FROM edges
        |  UNION
        |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
        |  WHERE e.y <> r.x),
        |lab AS (SELECT x AS doc_id, least(min(y), x) AS canon_id
        |        FROM reach GROUP BY x),
        |lab2 AS (SELECT d.doc_id, coalesce(l.canon_id, d.doc_id) AS canon_id
        |         FROM documents d LEFT JOIN lab l USING (doc_id)),
        |sizes AS (SELECT canon_id, count(*) AS cluster_size
        |          FROM lab2 GROUP BY canon_id)
        |SELECT doc_id, canon_id, cluster_size,
        |       doc_id = canon_id AS is_canonical
        |FROM lab2 JOIN sizes USING (canon_id)""".stripMargin
    },

    // ---- EDIT-DISTANCE verify: LSH near-dup candidates confirmed by
    // character-exact Levenshtein ≤ 100 — the O(len²) DP runs on
    // candidate pairs only, never all pairs ----
    query("q61_edit_distance")((s, dir) => {
      val d = docs(s, dir)
      Dedup.editDistanceVerify(d, "doc_id", "text", dupPairs(s, dir),
        maxDist = 100)
    }) {
      // q61: candidates are exactly q14's verified pair set (jaccard ≥
      // 0.8), confirmed here by character-exact Levenshtein.
      s"""WITH $dupPairsSqlCtes
        |SELECT p.a_id AS a_id, p.b_id AS b_id,
        |       levenshtein(da.text, db.text) AS dist
        |FROM pairs p
        |JOIN documents da ON da.doc_id = p.a_id
        |JOIN documents db ON db.doc_id = p.b_id
        |WHERE levenshtein(da.text, db.text) <= 100""".stripMargin
    },

    // ---- PageRank over the near-dup graph, 3 fixed rounds in integer
    // micro-units (floor-div contributions → per-node sums are exact
    // integer arithmetic, immune to FP order → exact oracle) ----
    query("q69_pagerank")((s, dir) => {
      val d = docs(s, dir)
      graft.operators.Graph.pageRank(d, "doc_id", dupPairs(s, dir), iters = 3)
    }) {
      // q69: the integer fixed-point design makes three unrolled rounds
      // exactly mirrorable — floor-div (`//`) contributions and integer
      // sums leave no FP-order freedom; the only double appears in the
      // final micro-units → rank projection.
      def iter(i: Int): String = {
        val prev = s"r${i - 1}"
        s"""c$i AS (SELECT e.dst AS dst,
           |    sum(r.r * 85 // 100 // o.deg) AS in_sum
           |  FROM edges e JOIN $prev r ON e.src = r.id
           |  JOIN outdeg o ON e.src = o.src GROUP BY 1),
           |r$i AS (SELECT v.id AS id,
           |    (1000000000000 * 15 // 100 // nv.n) + coalesce(c.in_sum, 0) AS r
           |  FROM verts v CROSS JOIN nv LEFT JOIN c$i c ON v.id = c.dst)""".stripMargin
      }
      s"""WITH $dupPairsSqlCtes,
         |verts AS (SELECT doc_id AS id FROM documents),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
         |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |nv AS (SELECT count(*) AS n FROM verts),
         |r0 AS (SELECT v.id AS id, 1000000000000 // nv.n AS r
         |       FROM verts v CROSS JOIN nv),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT id, CAST(r AS DOUBLE) / 1000000000000.0 AS rank FROM r3""".stripMargin
    },

    // ---- incremental dedup, FULL LIFECYCLE (two batches): batch 1
    // admits against an empty fingerprint table, batch 2 admits
    // against the table GROWN by batch 1's survivors — the
    // persist-and-append loop expressed functionally (the stateful
    // parquet form is Dedup.admitIncrement + the dedup-admit job;
    // an oracle query must be re-runnable, so no side effects here) ----
    query("q97_incremental_lifecycle")((s, dir) => {
      import graft.operators.Dedup
      val d = docs(s, dir)
      val b1 = d.filter(col("doc_id") % 2 === 0)
      val b2 = d.filter(col("doc_id") % 2 === 1)
      val emptyFp = s.emptyDataset(
          org.apache.spark.sql.Encoders.product[(Long, Int)])
        .toDF("__h", "__l")
      val a1 = Dedup.incrementalExactFp(emptyFp, b1, "doc_id", "text")
      val a2 = Dedup.incrementalExactFp(
        Dedup.fingerprints(a1, "text"), b2, "doc_id", "text")
      a1.select(lit(1).as("batch"), col("doc_id"))
        .unionAll(a2.select(lit(2).as("batch"), col("doc_id")))
    }) {
      // q97: batch-1 survivors = min id per text; the grown fingerprint
      // table's texts are exactly batch 1's DISTINCT texts (every text
      // group elects a representative), so batch-2 admission is the
      // in-batch min-id election anti-joined against them. The engine
      // keys on (xxhash64, length); raw text here — a collision would
      // surface as a mismatch (the q13 contract).
      """WITH b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |b2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
        |a1 AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM b1 GROUP BY text),
        |seen AS (SELECT DISTINCT text FROM b1),
        |f2 AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, text
        |       FROM b2 GROUP BY text),
        |a2 AS (SELECT f2.doc_id FROM f2 ANTI JOIN seen s ON f2.text = s.text)
        |SELECT 1 AS batch, doc_id FROM a1
        |UNION ALL SELECT 2 AS batch, doc_id FROM a2""".stripMargin
    }
  )
}
