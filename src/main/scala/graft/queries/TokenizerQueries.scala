package graft.queries

import org.apache.spark.sql.functions._

import Shared._

/** Language models and tokenizers: BPE training and tokenization,
  * unigram-LM training and serving, bigram/trigram LM scoring with
  * Kneser–Ney smoothing, and perplexity buckets. */
object TokenizerQueries extends QueryFamily("tokenizer") {

  // ---- shared unigram-LM oracle machinery (q156 trains, q159 serves
  // through the same trained map — the two nest identical SQL) ----
  private val UnigramMaxLen = 4

  private def unigramInnerBs: String =
    s"""list_aggregate(list_transform(range(greatest(CAST(stx[1] AS INT) - $UnigramMaxLen, 0), CAST(stx[1] AS INT)),
       |        j -> acc[CAST(2 * j + 1 AS INT)] + coalesce(sc[word[CAST(j + 1 AS INT):CAST(stx[1] AS INT)]][1], CAST(-1e9 AS DOUBLE))), 'max')""".stripMargin

  private def unigramInnerBj: String =
    s"""CAST(list_filter(range(greatest(CAST(stx[1] AS INT) - $UnigramMaxLen, 0), CAST(stx[1] AS INT)),
       |        j -> acc[CAST(2 * j + 1 AS INT)] + coalesce(sc[word[CAST(j + 1 AS INT):CAST(stx[1] AS INT)]][1], CAST(-1e9 AS DOUBLE)) = ($unigramInnerBs))[1] AS DOUBLE)""".stripMargin

  /** One oracle E-step under score-map CTE `m`: forward DP (fw) +
    * recursive backtrack walk + per-piece usage — see the q156 oracle
    * comment for the two DuckDB-1.0 lambda hazards this shape avoids. */
  private def unigramEStepSql(m: String, fw: String, walk: String,
      seg: String, u: String): String =
    s"""$fw AS MATERIALIZED (SELECT word, n, length(word) AS L, sc,
       |  list_reduce(
       |    list_prepend([CAST(0.0 AS DOUBLE), CAST(0 AS DOUBLE)],
       |      list_transform(range(1, length(word) + 1), i -> [CAST(i AS DOUBLE)])),
       |    (acc, stx) -> list_append(list_append(acc, ($unigramInnerBs)), ($unigramInnerBj))) AS dp
       |  FROM wc CROSS JOIN $m),
       |$walk(word, n, pos, piece) AS (
       |  SELECT word, n, CAST(L AS INT), CAST(NULL AS VARCHAR) FROM $fw
       |  UNION ALL
       |  SELECT f.word, f.n, CAST(f.dp[CAST(2 * w.pos + 2 AS INT)] AS INT),
       |    f.word[CAST(f.dp[CAST(2 * w.pos + 2 AS INT)] AS INT) + 1:w.pos]
       |  FROM $walk w JOIN $fw f ON f.word = w.word WHERE w.pos > 0),
       |$seg AS (SELECT n, piece FROM $walk WHERE piece IS NOT NULL),
       |$u AS (SELECT piece, sum(n) AS u FROM $seg GROUP BY piece)""".stripMargin

  /** The full q156 training chain as CTE text (everything after `WITH
    * RECURSIVE`), and the final pruned-piece SELECT. */
  private def unigramOracleCtes: String = {
    def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
    s"""wc AS MATERIALIZED (SELECT word, count(*) AS n FROM (
       |    SELECT unnest(list_filter(
       |      regexp_split_to_array(text, '[ \\t\\n\\r\\f\\x0B]+'),
       |      x -> x <> '')) AS word
       |    FROM documents) GROUP BY word),
       |subs AS (SELECT piece, sum(n) AS c FROM (
       |    SELECT n, unnest(flatten(list_transform(
       |      range(1, length(word) + 1),
       |      i -> list_transform(
       |        range(1, least($UnigramMaxLen, length(word) - i + 1) + 1),
       |        l -> word[CAST(i AS INT):CAST(i + l - 1 AS INT)])))) AS piece
       |    FROM wc) GROUP BY piece),
       |kept AS MATERIALIZED (
       |  SELECT piece, c FROM subs WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, c FROM (
       |    SELECT piece, c, row_number() OVER (
       |        ORDER BY c DESC, piece ASC) AS rnk
       |    FROM subs WHERE length(piece) > 1 AND c >= 2)
       |  WHERE rnk <= 500),
       |tv AS (SELECT sum(c) AS T, count(*) AS V FROM kept),
       |m0 AS (SELECT map_from_entries(list(struct_pack(
       |    k := piece,
       |    v := ${r6("ln(CAST(c AS DOUBLE) / CAST(tv.T AS DOUBLE))")}))) AS sc
       |  FROM kept CROSS JOIN tv),
       |${unigramEStepSql("m0", "fw1", "walk1", "seg1", "u1")},
       |ut1 AS (SELECT sum(u) AS U FROM u1),
       |m1 AS (SELECT map_from_entries(list(struct_pack(
       |    k := kept.piece,
       |    v := ${r6("ln(CAST(coalesce(u1.u, 0) + 1 AS DOUBLE) / CAST(ut1.U + tv.V AS DOUBLE))")}))) AS sc
       |  FROM kept LEFT JOIN u1 ON kept.piece = u1.piece
       |  CROSS JOIN ut1 CROSS JOIN tv),
       |${unigramEStepSql("m1", "fw2", "walk2", "seg2", "u2")},
       |ut2 AS (SELECT sum(u) AS U FROM u2)""".stripMargin
  }

  private def unigramFinalSql: String = {
    def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
    s"""SELECT kept.piece,
       |  ${r6("ln(CAST(coalesce(u2.u, 0) + 1 AS DOUBLE) / CAST(ut2.U + tv.V AS DOUBLE))")} AS score,
       |  CAST(coalesce(u2.u, 0) AS BIGINT) AS usage
       |FROM kept LEFT JOIN u2 ON kept.piece = u2.piece
       |CROSS JOIN ut2 CROSS JOIN tv
       |WHERE coalesce(u2.u, 0) > 0 OR length(kept.piece) = 1""".stripMargin
  }

  /** q151's oracle body — the bigram Kneser–Ney derivation as a def
    * (the lmScoreSql convention) so q162's bucket composition nests
    * the SAME scoring chain as a CTE subquery. */
  private def knScoreSql: String = {
    val contrib = graft.functions.TextFunctions.round6Sql(
      "-ln((greatest(CAST(c_ab AS DOUBLE) - 0.75, 0.0) + " +
        "0.75 * CAST(n1a AS DOUBLE) * " +
        "(CAST(n1b AS DOUBLE) / CAST(nb.n_bigrams AS DOUBLE))) / " +
        "CAST(c_a AS DOUBLE))")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |pairs AS (SELECT doc_id, g['a'] AS a, g['b'] AS b FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |      pi -> struct_pack(a := t[pi], b := t[pi+1]))) AS g
       |    FROM tk WHERE len(t) >= 2)),
       |bi AS MATERIALIZED (SELECT a, b, count(*) AS c_ab
       |  FROM pairs GROUP BY 1, 2),
       |ctx AS (SELECT a, sum(c_ab) AS c_a, count(*) AS n1a
       |  FROM bi GROUP BY 1),
       |rights AS (SELECT b, count(*) AS n1b FROM bi GROUP BY 1),
       |nb AS (SELECT count(*) AS n_bigrams FROM bi)
       |SELECT p.doc_id AS doc_id, count(*) AS n_pairs,
       |  ${graft.functions.TextFunctions.round6Sql(
           "CAST(sum(CAST(" + contrib + " AS DECIMAL(28,6))) AS DOUBLE)" +
             " / CAST(count(*) AS DOUBLE)")} AS nll
       |FROM pairs p JOIN bi USING (a, b) JOIN ctx USING (a)
       |  JOIN rights USING (b) CROSS JOIN nb
       |GROUP BY 1""".stripMargin
  }

  /** Shared q130/q137 oracle fragment: the 8-round BPE training loop
    * unrolled as WITH-body CTEs — `wc` (word counts), `w0` (delimited
    * words), then per round r: `p_r` (adjacency counts), `m_r` (the
    * argmax merge) and `w_{r+1}` (the greedy replace). q130 reads
    * m0..m7 as its result; q137 reuses them as the frozen artifact. */
  private def bpeTrainChainSql: String = {
    def round(r: Int): String =
      s"""p$r AS (SELECT s[CAST(i AS INT)] AS lhs, s[CAST(i AS INT)+1] AS rhs,
         |    CAST(sum(n) AS BIGINT) AS c
         |  FROM (SELECT list_filter(string_split(w, chr(31)),
         |          x -> x <> '') AS s, n FROM w$r) t,
         |       unnest(range(1, len(t.s))) u(i)
         |  GROUP BY 1, 2),
         |m$r AS (SELECT lhs, rhs, c FROM p$r
         |        ORDER BY c DESC, lhs, rhs LIMIT 1),
         |w${r + 1} AS (SELECT
         |  replace(w, chr(31)||lhs||chr(31)||chr(31)||rhs||chr(31),
         |             chr(31)||lhs||rhs||chr(31)) AS w, n
         |  FROM w$r CROSS JOIN m$r)""".stripMargin
    val rounds = (0 until 8).map(round).mkString(",\n")
    s"""wc AS MATERIALIZED (SELECT word, count(*) AS n FROM (
       |    SELECT unnest(list_filter(
       |             regexp_split_to_array(text, '[ \\t\\n\\r\\f\\x0B]+'),
       |             x -> x <> '')) AS word FROM documents) GROUP BY word),
       |w0 AS (SELECT chr(31) || chr(31) ||
       |    regexp_replace(word, '(?s)(.)', '\\1' || chr(31) || chr(31),
       |      'g') AS w, n
       |  FROM wc),
       |$rounds""".stripMargin
  }

  /** The committed GPT-2-format BPE fixture (tools/make_bpe_fixture.py
    * trains it deterministically over the sf0.001 corpus), loaded once
    * per JVM — the model is a bounded plan parameter (85 tokens / 60
    * merges here; a production 50k-token vocab is still ~1 MB of
    * reference object, never plan text). */
  private lazy val bpeFixtureModel: graft.functions.BpeModel =
    graft.functions.Bpe.load(
      fixturePath("bpe_vocab.json"), fixturePath("bpe_merges.txt"))

  /** The q102 oracle's literal MAP fragments, read from the same
    * committed fixture the engine loads (the oracle replays the merge
    * loop itself — see q102 in [[oracleSql]]). */
  private lazy val (bpeMergesMapSql, bpeVocabMapSql) = {
    def esc(s: String) = s.replace("'", "''")
    val merges = scala.io.Source.fromFile(fixturePath("bpe_merges.txt"))
      .getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .toIndexedSeq
    val vocab = graft.functions.Bpe.parseVocab(fixturePath("bpe_vocab.json"))
    (merges.zipWithIndex
       .map { case (p, r) => s"'${esc(p)}': $r" }.mkString("MAP {", ", ", "}"),
     vocab.map { case (t, i) => s"'${esc(t)}': $i" }
       .mkString("MAP {", ", ", "}"))
  }

  /** The pruned trigram-KN oracle, shared VERBATIM by q184 (adaptive
    * build — materialized branch at verify scale) and q185 (conf-
    * forced bounded branch): the bounded build is a plan decision
    * only — same model tables, same per-pair operand trees — so one
    * oracle checking both queries IS the branch-identity proof the
    * verify surface needs (Corpus.knTrigramScore's switch at
    * Corpus.scala, `spark.graft.kn.boundedBuild`). */
  private lazy val KnTrigramPrunedOracle: String = {
    val p2 = "((greatest(CAST(cont AS DOUBLE) - 0.75, 0.0) + " +
      "0.75 * CAST(nfw2 AS DOUBLE) * " +
      "(CAST(n1 AS DOUBLE) / CAST(nbt.nb AS DOUBLE))) / " +
      "CAST(nmid AS DOUBLE))"
    def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
    val hit = r6(
      "-ln((greatest(CAST(c3 AS DOUBLE) - 0.75, 0.0) + " +
        s"0.75 * CAST(n3fw AS DOUBLE) * $p2) / CAST(c2 AS DOUBLE))")
    val miss = r6(
      "-ln(0.75 * CAST(n3fw AS DOUBLE) / CAST(c2 AS DOUBLE) * " +
        s"$p2)")
    val contrib = s"CASE WHEN c3 IS NOT NULL THEN $hit ELSE $miss END"
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |tr AS MATERIALIZED (SELECT doc_id,
       |    g['a'] AS a, g['b'] AS b, g['c'] AS c FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
       |      ti -> struct_pack(a := t[ti], b := t[ti+1], c := t[ti+2]))) AS g
       |    FROM tk WHERE len(t) >= 3)),
       |tri AS MATERIALIZED (SELECT a, b, c, count(*) AS c3
       |  FROM tr GROUP BY 1, 2, 3),
       |trip AS MATERIALIZED (SELECT * FROM tri WHERE c3 >= 2),
       |g1 AS (SELECT a, b, sum(c3) AS c2, count(*) AS n3fw
       |  FROM tri GROUP BY 1, 2),
       |g2 AS MATERIALIZED (SELECT b, c, count(*) AS cont
       |  FROM tri GROUP BY 1, 2),
       |g3 AS (SELECT b, sum(cont) AS nmid, count(*) AS nfw2
       |  FROM g2 GROUP BY 1),
       |prs AS (SELECT g['a'] AS a, g['b'] AS b FROM (
       |    SELECT unnest(list_transform(range(1, len(t)),
       |      pi -> struct_pack(a := t[pi], b := t[pi+1]))) AS g
       |    FROM tk WHERE len(t) >= 2)),
       |bt AS MATERIALIZED (SELECT DISTINCT a, b FROM prs),
       |nbt AS (SELECT count(*) AS nb FROM bt),
       |n1c AS (SELECT b AS c, count(*) AS n1 FROM bt GROUP BY 1)
       |SELECT tr.doc_id AS doc_id, count(*) AS n_tris,
       |  ${r6("CAST(sum(CAST(" + contrib + " AS DECIMAL(28,6))) AS DOUBLE)" +
             " / CAST(count(*) AS DOUBLE)")} AS nll
       |FROM tr LEFT JOIN trip USING (a, b, c) JOIN g1 USING (a, b)
       |  JOIN g2 USING (b, c) JOIN g3 USING (b) JOIN n1c USING (c)
       |  CROSS JOIN nbt
       |GROUP BY 1""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // ---- BPE tokenizer TRAINING (the learning side of the q102
    // seam): 8 ranked merges from the corpus — one corpus pass for
    // word counts, then vocabulary-sized rounds (weighted adjacency
    // argmax + greedy left-to-right merge), every step deterministic
    // so the oracle replays the whole sequential loop unrolled ----
    query("q130_bpe_train_merges")((s, dir) =>
      graft.operators.BpeTrain.trainMerges(docs(s, dir), "text",
        nMerges = 8)) {
      // q130: the training loop unrolled — per round, adjacency counts
      // over the delimited-symbol words, the (count desc, lhs, rhs)
      // argmax, and the greedy non-overlapping merge via plain string
      // replace (left-to-right scan in both engines).
      val out = (0 until 8).map(r =>
        s"SELECT CAST($r AS BIGINT) AS rank, lhs, rhs, c AS pair_count FROM m$r")
        .mkString("\nUNION ALL ")
      s"WITH $bpeTrainChainSql\n$out"
    },

    // ---- tokenizer fertility eval: the trained per-corpus merge
    // artifact (q130's 8 merges, served from the artifact cache like
    // the ANN quantizers) applied over per-source distinct-word tables
    // via the trainer's own greedy replace — tokens-per-word /
    // chars-per-token per source, the tokenizer-fit measurement ----
    query("q137_tokenizer_fertility")((s, dir) =>
      graft.operators.BpeTrain.tokenizerFertility(
        docs(s, dir), "source", "text", bpeMergesArtifact(s, dir))) {
      // q137: the SAME training chain (m0..m7 = the served artifact's
      // values), then the apply side unrolled — per-(source, word)
      // counts delimited and folded through the 8 replaces in rank
      // order, token counts weighted back, ratios round6'd.
      val applies = (0 until 8).map(r =>
        s"""a${r + 1} AS (SELECT grp, word, n,
           |  replace(w, chr(31)||m$r.lhs||chr(31)||chr(31)||m$r.rhs||chr(31),
           |             chr(31)||m$r.lhs||m$r.rhs||chr(31)) AS w
           |  FROM a$r CROSS JOIN m$r)""".stripMargin).mkString(",\n")
      s"""WITH $bpeTrainChainSql,
         |swc AS (SELECT source AS grp, word, count(*) AS n FROM (
         |    SELECT source, unnest(list_filter(
         |             regexp_split_to_array(text, '[ \\t\\n\\r\\f\\x0B]+'),
         |             x -> x <> '')) AS word FROM documents) GROUP BY 1, 2),
         |a0 AS (SELECT grp, word, n, chr(31) || chr(31) ||
         |    regexp_replace(word, '(?s)(.)', '\\1' || chr(31) || chr(31),
         |      'g') AS w
         |  FROM swc),
         |$applies,
         |f AS (SELECT grp, n, length(word) AS chars,
         |    len(list_filter(string_split(w, chr(31)), x -> x <> '')) AS toks
         |  FROM a8)
         |SELECT grp AS source,
         |  CAST(sum(n) AS BIGINT) AS n_words,
         |  CAST(sum(toks * n) AS BIGINT) AS n_tokens,
         |  CAST(sum(chars * n) AS BIGINT) AS n_chars,
         |  floor(CAST(sum(toks * n) AS DOUBLE) / sum(n)
         |    * 1000000.0 + 0.5) / 1000000.0 AS tokens_per_word,
         |  floor(CAST(sum(chars * n) AS DOUBLE) / sum(toks * n)
         |    * 1000000.0 + 0.5) / 1000000.0 AS chars_per_token
         |FROM f GROUP BY grp""".stripMargin
    },

    // ---- unigram-LM tokenizer TRAINING (SentencePiece family, Kudo
    // 2018): substring candidates, add-one M-steps, two Viterbi-EM
    // rounds with the tie rule pinned — the OTHER production
    // tokenizer next to q130's BPE; the full EM replays in SQL ----
    query("q156_unigram_train")((s, dir) =>
      graft.operators.UnigramLm.trainUnigram(
        docs(s, dir), "text", maxPieceLen = 4, minCount = 2,
        maxVocab = 500, iters = 2)) {
      // q156: the whole Viterbi-EM unrolled — candidate substrings,
      // round6'd log-prob maps, the forward DP as a flat [best, choice]
      // list fold, and the backtrack as a RECURSIVE CTE walk. Two
      // DuckDB-1.0 lambda hazards are designed around (found by
      // per-word differential testing against an independent python
      // DP): (a) a list_reduce nested INSIDE a list_reduce lambda
      // cross-contaminates rows — the inner argmax is therefore a
      // list_transform + list_aggregate('max') + list_filter two-pass
      // (same j-ascending strict-> tie rule: the filter picks the
      // FIRST j attaining the max); (b) a second row-referencing
      // list_reduce (the backtrack) contaminates too — hence the
      // set-based recursive walk, no lambda at all. Missing pieces are
      // the engine's exact -1e9 penalty; add-one M-steps; final prune.
      s"""WITH RECURSIVE $unigramOracleCtes
         |$unigramFinalSql""".stripMargin
    },

    // ---- unigram-LM SERVING: segment every document under the
    // TRAINED q156 artifact (same Viterbi kernel as the E-step —
    // train and serve cannot diverge); the doc's piece stream is
    // pinned by a position-weighted portable-hash checksum ----
    query("q159_unigram_segment")((s, dir) =>
      graft.operators.UnigramLm.segmentDocs(
          docs(s, dir), "doc_id", "text",
          unigramArtifact(s, dir), maxPieceLen = 4)
        .select(col("id").as("doc_id"), col("n_pieces"),
          col("piece_checksum"))) {
      // q159: the SERVING path through the SAME trained map — the q156
      // chain nests whole, its pruned output becomes the score map, one
      // more fw/walk pass segments every distinct word, and the doc
      // piece stream (word order x in-word piece order, walk `pos` = the
      // piece's start offset) is position-weight checksummed.
      s"""WITH RECURSIVE $unigramOracleCtes,
         |mF AS (SELECT map_from_entries(list(struct_pack(
         |    k := piece, v := score))) AS sc
         |  FROM ($unigramFinalSql) fin),
         |${unigramEStepSql("mF", "fw3", "walk3", "seg3", "u3")},
         |wordseg AS (SELECT word, list(piece ORDER BY pos) AS pieces
         |  FROM walk3 WHERE piece IS NOT NULL GROUP BY word),
         |docw AS (SELECT doc_id, g['wi'] AS wi, g['w'] AS word FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
         |      i -> struct_pack(wi := i, w := ws[CAST(i AS INT)]))) AS g
         |  FROM (SELECT doc_id, list_filter(
         |      regexp_split_to_array(text, '[ \\t\\n\\r\\f\\x0B]+'),
         |      x -> x <> '') AS ws FROM documents))),
         |str AS (SELECT doc_id, wi, g2['pi'] AS pi, g2['p'] AS piece FROM (
         |  SELECT doc_id, wi, unnest(list_transform(range(1, len(pieces) + 1),
         |      i -> struct_pack(pi := i, p := pieces[CAST(i AS INT)]))) AS g2
         |  FROM docw JOIN wordseg USING (word))),
         |pos AS (SELECT doc_id, piece,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY wi, pi) AS p
         |  FROM str)
         |SELECT doc_id, count(*) AS n_pieces,
         |  CAST(sum((${hashSql("piece")}) * p) AS BIGINT) AS piece_checksum
         |FROM pos GROUP BY doc_id""".stripMargin
    },

    // ---- unigram vocab pruning + refit fertility (the SentencePiece
    // shrink step): drop the 16 lowest-scoring multi-char pieces
    // (single chars = coverage floor), re-segment through the SAME
    // Viterbi kernel, per-doc fertility delta + pruned-plane checksum ----
    query("q179_unigram_prune_refit")((s, dir) => {
      val full = unigramArtifact(s, dir)
      val pruned = graft.operators.UnigramLm.pruneScores(full,
        dropMulti = 16)
      val before = graft.operators.UnigramLm.segmentDocs(
          docs(s, dir), "doc_id", "text", full, maxPieceLen = 4)
        .select(col("id").as("doc_id"), col("n_pieces").as("n_before"))
      val after = graft.operators.UnigramLm.segmentDocs(
          docs(s, dir), "doc_id", "text", pruned, maxPieceLen = 4)
        .select(col("id").as("doc_id"), col("n_pieces").as("n_after"),
          col("piece_checksum").as("pruned_checksum"))
      before.join(after, "doc_id")
        .withColumn("fertility_delta", col("n_after") - col("n_before"))
    }) {
      // q179: the q156 chain nests whole, the pruned map drops the
      // bottom-16 multi-char pieces (score ASC, piece ASC — the engine's
      // pruneScores rule), TWO serving E-steps (full fwB / pruned fwA)
      // segment every distinct word, per-doc counts join.
      s"""WITH RECURSIVE $unigramOracleCtes,
         |finT AS MATERIALIZED (SELECT piece, score
         |  FROM ($unigramFinalSql)),
         |dropk AS (SELECT piece FROM (
         |    SELECT piece,
         |      row_number() OVER (ORDER BY score ASC, piece ASC) AS rk
         |    FROM finT WHERE length(piece) > 1) WHERE rk <= 16),
         |mF AS (SELECT map_from_entries(list(struct_pack(
         |    k := piece, v := score))) AS sc FROM finT),
         |mP AS (SELECT map_from_entries(list(struct_pack(
         |    k := piece, v := score))) AS sc
         |  FROM finT WHERE piece NOT IN (SELECT piece FROM dropk)),
         |${unigramEStepSql("mF", "fwB", "walkB", "segB", "uB")},
         |${unigramEStepSql("mP", "fwA", "walkA", "segA", "uA")},
         |wordsegB AS (SELECT word, count(*) AS np
         |  FROM walkB WHERE piece IS NOT NULL GROUP BY word),
         |wordsegA AS (SELECT word, list(piece ORDER BY pos) AS pieces
         |  FROM walkA WHERE piece IS NOT NULL GROUP BY word),
         |docw AS (SELECT doc_id, g['wi'] AS wi, g['w'] AS word FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
         |      i -> struct_pack(wi := i, w := ws[CAST(i AS INT)]))) AS g
         |  FROM (SELECT doc_id, list_filter(
         |      regexp_split_to_array(text, '[ \\t\\n\\r\\f\\x0B]+'),
         |      x -> x <> '') AS ws FROM documents))),
         |nb AS (SELECT doc_id, CAST(sum(np) AS BIGINT) AS n_before
         |  FROM docw JOIN wordsegB USING (word) GROUP BY 1),
         |strA AS (SELECT doc_id, wi, g2['pi'] AS pi, g2['p'] AS piece
         |  FROM (
         |  SELECT doc_id, wi, unnest(list_transform(
         |      range(1, len(pieces) + 1),
         |      i -> struct_pack(pi := i, p := pieces[CAST(i AS INT)]))) AS g2
         |  FROM docw JOIN wordsegA USING (word))),
         |posA AS (SELECT doc_id, piece,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY wi, pi) AS p
         |  FROM strA),
         |na AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_after,
         |    CAST(sum((${hashSql("piece")}) * p) AS BIGINT)
         |      AS pruned_checksum
         |  FROM posA GROUP BY doc_id)
         |SELECT nb.doc_id, nb.n_before, na.n_after,
         |  na.n_after - nb.n_before AS fertility_delta,
         |  na.pruned_checksum
         |FROM nb JOIN na USING (doc_id)""".stripMargin
    },

    // ---- Kneser–Ney smoothed bigram LM scoring (the CCNet/KenLM
    // smoothing family): absolute discount 0.75 + continuation-
    // probability backoff — q75's add-one baseline upgraded to the
    // smoothing production perplexity filters actually use ----
    query("q151_kneser_ney_score")((s, dir) =>
      graft.operators.Corpus.knScore(docs(s, dir), "doc_id", "text")) {
      // q151: the q75 pair derivation with Kneser–Ney arithmetic — the
      // context/continuation tables DERIVED from the bigram counts, the
      // |bigrams| scalar, and the one-transcendental contribution whose
      // operand tree matches the engine expression operand-for-operand.
      knScoreSql
    },

    // ---- trigram INTERPOLATED Kneser–Ney (q151 one order up — the
    // KenLM direction): lower-order continuation counts over trigram
    // types, unigram level from bigram types, discount 0.75 at both
    // orders; model tables finished at aggregate size, probe salted ----
    query("q161_kn_trigram_score")((s, dir) =>
      graft.operators.Corpus.knTrigramScore(docs(s, dir), "doc_id", "text")) {
      // q161: the two-level interpolated-KN operand tree replayed — raw
      // trigram counts at the top order, continuation counts over
      // trigram types one level down, bigram-type fan-in at the unigram
      // level, discount 0.75 at both orders, the exact cast/assoc/
      // division order of knTrigramScore's one transcendental.
      val p2 = "((greatest(CAST(cont AS DOUBLE) - 0.75, 0.0) + " +
        "0.75 * CAST(nfw2 AS DOUBLE) * " +
        "(CAST(n1 AS DOUBLE) / CAST(nbt.nb AS DOUBLE))) / " +
        "CAST(nmid AS DOUBLE))"
      val contrib = graft.functions.TextFunctions.round6Sql(
        "-ln((greatest(CAST(c3 AS DOUBLE) - 0.75, 0.0) + " +
          s"0.75 * CAST(n3fw AS DOUBLE) * $p2) / CAST(c2 AS DOUBLE))")
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |tr AS MATERIALIZED (SELECT doc_id,
         |    g['a'] AS a, g['b'] AS b, g['c'] AS c FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
         |      ti -> struct_pack(a := t[ti], b := t[ti+1], c := t[ti+2]))) AS g
         |    FROM tk WHERE len(t) >= 3)),
         |tri AS MATERIALIZED (SELECT a, b, c, count(*) AS c3
         |  FROM tr GROUP BY 1, 2, 3),
         |g1 AS (SELECT a, b, sum(c3) AS c2, count(*) AS n3fw
         |  FROM tri GROUP BY 1, 2),
         |g2 AS MATERIALIZED (SELECT b, c, count(*) AS cont
         |  FROM tri GROUP BY 1, 2),
         |g3 AS (SELECT b, sum(cont) AS nmid, count(*) AS nfw2
         |  FROM g2 GROUP BY 1),
         |prs AS (SELECT g['a'] AS a, g['b'] AS b FROM (
         |    SELECT unnest(list_transform(range(1, len(t)),
         |      pi -> struct_pack(a := t[pi], b := t[pi+1]))) AS g
         |    FROM tk WHERE len(t) >= 2)),
         |bt AS MATERIALIZED (SELECT DISTINCT a, b FROM prs),
         |nbt AS (SELECT count(*) AS nb FROM bt),
         |n1c AS (SELECT b AS c, count(*) AS n1 FROM bt GROUP BY 1)
         |SELECT tr.doc_id AS doc_id, count(*) AS n_tris,
         |  ${graft.functions.TextFunctions.round6Sql(
             "CAST(sum(CAST(" + contrib + " AS DECIMAL(28,6))) AS DOUBLE)" +
               " / CAST(count(*) AS DOUBLE)")} AS nll
         |FROM tr JOIN tri USING (a, b, c) JOIN g1 USING (a, b)
         |  JOIN g2 USING (b, c) JOIN g3 USING (b) JOIN n1c USING (c)
         |  CROSS JOIN nbt
         |GROUP BY 1""".stripMargin
    },

    // ---- trigram KN with KenLM-parity singleton pruning: trigram
    // types with c(abc) < 2 are dropped from the model (the one
    // trigram-type-sized table, now bounded by construction on
    // low-reuse corpora); pruned occurrences back off to the
    // interpolation's continuation term over unpruned lower orders ----
    query("q184_kn_trigram_pruned")((s, dir) =>
      graft.operators.Corpus.knTrigramScore(docs(s, dir), "doc_id",
        "text", minCount = 2)) {
      // q184: q161's model tables plus the pruning HAVING — trip keeps
      // trigram types with c3 >= 2 (the engine's minCount filter);
      // lower orders stay UNPRUNED. A LEFT join against trip decides
      // hit vs pruned per occurrence; pruned rows take the backoff
      // operand tree (c3 term zeroed: d·n3fw/c2 · P2, left-assoc).
      KnTrigramPrunedOracle
    },

    // ---- q184 through the FORCED bounded build branch: the adaptive
    // switch picks the materialized build at verify scale (small
    // inputs), so without this pin the oracle never exercises the
    // bounded plan — the branch the operator exists for at 100×.
    // The conf is read at plan-construction time (the eager pruned-
    // base checkpoints run inside knTrigramScore), so restoring it
    // immediately after construction binds the branch cleanly ----
    query("q185_kn_trigram_pruned_bounded")((s, dir) => {
      val key = "spark.graft.kn.boundedBuild"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "true")
      try graft.operators.Corpus.knTrigramScore(docs(s, dir), "doc_id",
        "text", minCount = 2)
      finally prev match {
        case Some(p) => s.conf.set(key, p)
        case None => s.conf.unset(key)
      }
    }) {
      // q185 replays q184's oracle verbatim: the bounded build is a
      // PLAN branch (eager checkpoints, pruned-base derivations) — same
      // model, same scores; the oracle proving that identity is the
      // point of the query.
      KnTrigramPrunedOracle
    },

    // ---- vocabulary-size coverage sweep (the q158 calibration
    // convention applied to vocab): one count pass, ranked table,
    // every candidate V reads the OOV/coverage point off it ----
    query("q173_vocab_coverage_sweep")((s, dir) =>
      graft.operators.Corpus.vocabCoverageSweep(docs(s, dir),
        "doc_id", "text")) {
      // q173: rank words (count DESC, word ASC), cumulative coverage
      // read per candidate V — plain SQL over the vocab-sized table.
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      s"""WITH wc AS (SELECT w, count(*) AS c FROM (
         |    SELECT unnest(list_filter(string_split(text, ' '),
         |      x -> x <> '')) AS w FROM documents) GROUP BY 1),
         |rk AS (SELECT c,
         |    row_number() OVER (ORDER BY c DESC, w ASC) AS rank
         |  FROM wc),
         |tot AS (SELECT count(*) AS n_types,
         |    CAST(sum(c) AS BIGINT) AS total FROM rk),
         |cand(v) AS (VALUES (1000), (2000), (4000), (8000)),
         |per AS (SELECT v,
         |    CAST(sum(CASE WHEN rank <= v THEN c ELSE 0 END) AS BIGINT)
         |      AS kept
         |  FROM rk CROSS JOIN cand GROUP BY v)
         |SELECT CAST(v AS BIGINT) AS vocab_size,
         |  CAST(n_types AS BIGINT) AS n_types,
         |  total AS total_tokens, kept AS kept_tokens,
         |  ${r6("1.0 - CAST(kept AS DOUBLE) / CAST(total AS DOUBLE)")}
         |    AS oov_rate
         |FROM per CROSS JOIN tot""".stripMargin
    },

    // ---- CCNet perplexity buckets over the KN-smoothed LM (q146's
    // bucket pass with the LM upgraded from add-one to Kneser–Ney —
    // the shape CCNet actually ships: KenLM-family perplexity into
    // per-lang head/middle/tail terciles) ----
    query("q162_kn_perplexity_buckets")((s, dir) => {
      val scored = graft.operators.Corpus.knScore(
          docs(s, dir), "doc_id", "text")
        .join(docs(s, dir).select(col("doc_id"), col("lang")), "doc_id")
      graft.operators.Corpus.perplexityBuckets(
          scored, Seq("lang"), col("nll"))
        .select(col("doc_id"), col("lang"), col("n_pairs"), col("nll"),
          col("bucket"))
    }) {
      // q162: q151's whole KN derivation nested as a subquery (the q146
      // convention, with the LM upgraded from add-one to Kneser–Ney —
      // the ACTUAL CCNet shape: KenLM-family perplexity into per-lang
      // tercile buckets), quantile_cont bounds, <=-chain labels.
      s"""WITH scored AS ($knScoreSql),
         |sl AS (SELECT s.doc_id, d.lang, s.n_pairs, s.nll
         |  FROM scored s JOIN documents d ON s.doc_id = d.doc_id),
         |b AS (SELECT lang,
         |    quantile_cont(nll, 1.0/3) AS lo,
         |    quantile_cont(nll, 2.0/3) AS hi
         |  FROM sl GROUP BY lang)
         |SELECT sl.doc_id, sl.lang, sl.n_pairs, sl.nll,
         |  CASE WHEN sl.nll <= b.lo THEN 'head'
         |       WHEN sl.nll <= b.hi THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM sl JOIN b ON sl.lang = b.lang""".stripMargin
    },

    // ---- CCNet head/middle/tail perplexity buckets: q75's LM scores
    // split per language at the 1/3 and 2/3 exact quantiles — the
    // selection step the perplexity filter exists for ----
    query("q146_perplexity_buckets")((s, dir) => {
      val scored = graft.operators.Corpus.lmScore(
          docs(s, dir), "doc_id", "text")
        .join(docs(s, dir).select(col("doc_id"), col("lang")), "doc_id")
      graft.operators.Corpus.perplexityBuckets(
          scored, Seq("lang"), col("nll"))
        .select(col("doc_id"), col("lang"), col("nll"), col("bucket"))
    }) {
      // q146: q75's whole LM derivation nested as a subquery, joined to
      // lang, quantile_cont bounds (≡ Spark percentile interpolation)
      // and the same <=-chain bucket labels.
      s"""WITH scored AS ($lmScoreSql),
         |sl AS (SELECT s.doc_id, d.lang, s.nll
         |  FROM scored s JOIN documents d ON s.doc_id = d.doc_id),
         |b AS (SELECT lang,
         |    quantile_cont(nll, 1.0/3) AS lo,
         |    quantile_cont(nll, 2.0/3) AS hi
         |  FROM sl GROUP BY lang)
         |SELECT sl.doc_id, sl.lang, sl.nll,
         |  CASE WHEN sl.nll <= b.lo THEN 'head'
         |       WHEN sl.nll <= b.hi THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM sl JOIN b ON sl.lang = b.lang""".stripMargin
    },

    // ---- PMI collocations: adjacent-pair mutual information over the
    // corpus (phrase mining); two vocabulary-sized hash aggregates,
    // totals as driver scalars ----
    query("q62_bigram_pmi")((s, dir) =>
      graft.operators.Corpus.pmiCollocations(docs(s, dir), "text", minCount = 25)) {
      // q62: the PMI expression order mirrors the Spark side exactly
      // (c_ab/N first, then the unigram product) — the BM25 discipline.
      val pmi = graft.functions.TextFunctions.round6Sql(
        "ln((CAST(bc.c_ab AS DOUBLE) / tot.nbi) / " +
          "((CAST(ua.c AS DOUBLE) / mt.m) * (CAST(ub.c AS DOUBLE) / mt.m)))")
      s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
         |uni AS (SELECT tok, count(*) AS c
         |        FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
         |bi AS (SELECT t[bi_i] AS a, t[bi_i+1] AS b
         |       FROM (SELECT t, unnest(range(1, len(t))) AS bi_i FROM toks)),
         |bc AS (SELECT a, b, count(*) AS c_ab FROM bi GROUP BY 1, 2
         |       HAVING count(*) >= 25),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS nbi FROM bi),
         |mt AS (SELECT CAST(sum(c) AS DOUBLE) AS m FROM uni)
         |SELECT bc.a || '_' || bc.b AS gram, bc.c_ab AS c_ab, $pmi AS pmi
         |FROM bc JOIN uni ua ON ua.tok = bc.a JOIN uni ub ON ub.tok = bc.b
         |CROSS JOIN tot CROSS JOIN mt""".stripMargin
    },

    // ---- token-distribution drift between corpus slices (4-char
    // sources vs the rest): per-token smoothed KL contributions —
    // no cross-row FP sum, every cell exactly checkable ----
    query("q68_token_drift")((s, dir) => {
      val d = docs(s, dir)
      graft.operators.Corpus.tokenDrift(
        d.filter(length(col("source")) === 4),
        d.filter(length(col("source")) =!= 4),
        "text", minCount = 20)
    }) {
      val pa = "(CAST(c_a AS DOUBLE) + 1.0) / (n_a + vocab)"
      val pb = "(CAST(c_b AS DOUBLE) + 1.0) / (n_b + vocab)"
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      s"""WITH ta AS (SELECT unnest(string_split(text, ' ')) AS tok
         |            FROM documents WHERE length(source) = 4),
         |tb AS (SELECT unnest(string_split(text, ' ')) AS tok
         |       FROM documents WHERE length(source) <> 4),
         |ca AS (SELECT tok, count(*) AS c_a FROM ta GROUP BY 1),
         |cb AS (SELECT tok, count(*) AS c_b FROM tb GROUP BY 1),
         |j AS (SELECT coalesce(ca.tok, cb.tok) AS tok,
         |        coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
         |      FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok),
         |tot AS (SELECT CAST(sum(c_a) AS DOUBLE) AS n_a,
         |          CAST(sum(c_b) AS DOUBLE) AS n_b,
         |          CAST(count(*) AS DOUBLE) AS vocab FROM j)
         |SELECT tok, c_a, c_b, ${r6(pa)} AS p_a, ${r6(pb)} AS p_b,
         |  ${r6(s"($pa) * ln(($pa) / ($pb))")} AS contrib
         |FROM j CROSS JOIN tot WHERE c_a + c_b >= 20""".stripMargin
    },

    // ---- LM quality score (CCNet perplexity-filter shape): per-doc
    // average −ln p(b|a) under a corpus-trained add-one bigram model;
    // rounded contribs decimal-summed → order-free exact ----
    query("q75_lm_score")((s, dir) =>
      graft.operators.Corpus.lmScore(docs(s, dir), "doc_id", "text")) {
      // q75: contribs mirror Spark term-for-term (same +1/+|V| add-one
      // arithmetic, same round6 before the DECIMAL(28,6) sum, division
      // after the exact sum).
      lmScoreSql
    },

    // ---- REAL BPE tokenization on the oracle surface: documents →
    // GPT-2-format vocab/merges fixture → per-doc token count and a
    // position-weighted checksum (Σ id_i·i, 1-based) proving token
    // VALUES and ORDER — the tokenizer the pack-tokens pipeline ships
    // to .bin shards. The oracle replays the merge loop itself with a
    // recursive CTE over the same fixture (no Spark-side trust). ----
    query("q102_bpe_tokenize")((s, dir) => {
      val ids = graft.functions.Bpe.bpe_tokenize(col("text"), bpeFixtureModel)
      docs(s, dir).select(col("doc_id"), ids.as("ids"))
        .select(col("doc_id"),
          size(col("ids")).cast("long").as("n_tokens"),
          when(size(col("ids")) === 0, lit(0L)).otherwise(
            aggregate(
              zip_with(col("ids"),
                sequence(lit(1), size(col("ids"))),
                (t, i) => t.cast("long") * i.cast("long")),
              lit(0L), (a, x) => a + x)).as("checksum"))
    }) {
      // q102: the BPE merge loop REPLAYED in SQL — a recursive CTE
      // carries each distinct word's symbol list; every step merges all
      // left-to-right non-overlapping occurrences of the lowest-ranked
      // adjacent pair (the run-parity lambda reproduces greedy
      // left-to-right for a==b runs without sequential state), stopping
      // when no pair is ranked. Fixture merges/vocab ride as literal
      // MAPs read from the SAME committed files the engine loads. Tokens
      // then re-assemble per document in word order for the count +
      // position-weighted checksum.
      s"""WITH RECURSIVE
         |dws AS MATERIALIZED (
         |  SELECT doc_id, list_filter(string_split(text, ' '),
         |                             x -> x <> '') AS ws
         |  FROM documents),
         |words AS MATERIALIZED (
         |  SELECT DISTINCT w FROM (SELECT unnest(ws) AS w FROM dws)),
         |rec AS (
         |  SELECT w, list_transform(range(1, length(w)+1), i -> w[i]) AS syms,
         |         0 AS it
         |  FROM words
         |  UNION ALL
         |  SELECT w,
         |    flatten(list_transform(range(1, len(syms)+1), i ->
         |      CASE WHEN starts[i] THEN [a || b]
         |           WHEN i > 1 AND starts[i-1] THEN []
         |           ELSE [syms[i]] END)) AS syms,
         |    it + 1
         |  FROM (
         |    SELECT w, syms, it, a, b,
         |      list_transform(range(1, len(syms)), i ->
         |        syms[i] = a AND syms[i+1] = b AND (a <> b OR
         |          (i - coalesce(list_max(list_filter(range(2, i+1),
         |             j -> syms[j-1] <> a)), 1)) % 2 = 0)) AS starts
         |    FROM (
         |      SELECT w, syms, it, syms[bi] AS a, syms[bi+1] AS b
         |      FROM (
         |        SELECT w, syms, it,
         |          list_position(rks, list_aggregate(
         |            list_filter(rks, x -> x IS NOT NULL), 'min')) AS bi
         |        FROM (
         |          SELECT w, syms, it,
         |            list_transform(range(1, len(syms)), i ->
         |              map_extract($bpeMergesMapSql,
         |                          syms[i] || ' ' || syms[i+1])[1]) AS rks
         |          FROM rec) t0
         |        WHERE len(list_filter(rks, x -> x IS NOT NULL)) > 0) t1) t2) t3
         |),
         |tok AS MATERIALIZED (
         |  SELECT r.w, list_transform(r.syms, s0 ->
         |      coalesce(map_extract($bpeVocabMapSql, s0)[1], 0)) AS ids
         |  FROM rec r
         |  JOIN (SELECT w, max(it) AS mi FROM rec GROUP BY w) mx
         |    ON r.w = mx.w AND r.it = mx.mi),
         |dwords AS (
         |  SELECT doc_id, u.wi AS wi, u.w AS w
         |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(ws)+1),
         |          i -> struct_pack(wi := i, w := ws[i]))) AS u
         |        FROM dws) t),
         |contrib AS (
         |  SELECT d.doc_id,
         |    len(k.ids) AS nt,
         |    (sum(len(k.ids)) OVER (PARTITION BY d.doc_id ORDER BY d.wi)
         |       - len(k.ids)) * list_aggregate(k.ids, 'sum')
         |      + list_aggregate(list_transform(range(1, len(k.ids)+1),
         |          ki -> k.ids[ki] * ki), 'sum') AS ck
         |  FROM dwords d JOIN tok k ON d.w = k.w)
         |SELECT doc_id,
         |  CAST(coalesce(sum(nt), 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(sum(ck), 0) AS BIGINT) AS checksum
         |FROM documents LEFT JOIN contrib USING (doc_id)
         |GROUP BY doc_id""".stripMargin
    }
  )
}
