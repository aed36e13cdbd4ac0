package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.Dedup
import graft.functions.TextFunctions

import Shared._

/** Text curation: language ID, quality signals and gates, markup and
  * line filters, PII scrub, classifiers, DSIR, decontamination and the
  * end-to-end `curate` composition. */
object CurationQueries extends QueryFamily("curation") {

  /** q19's oracle body — a def so q153's fused signal sheet nests the
    * SAME derivation as a CTE subquery (the lmScoreSql convention). */
  private def langIdSql: String = {
    def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
    val en = r6("CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)/len(t)")
    val de = r6("CAST(len(list_filter(t, x -> x IN ('der','die','das','und','ist','ein'))) AS DOUBLE)/len(t)")
    val fr = r6("CAST(len(list_filter(t, x -> x IN ('le','la','les','et','est','un'))) AS DOUBLE)/len(t)")
    s"""SELECT doc_id,
       |  $en AS en_score, $de AS de_score, $fr AS fr_score,
       |  CASE
       |    WHEN $fr >= $en AND $fr >= $de THEN 'fr'
       |    WHEN $en >= $de THEN 'en' ELSE 'de' END AS pred_lang
       |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)""".stripMargin
  }

  /** q56's oracle body (shared with q153). */
  private def repetitionSql: String = {
    def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
    s"""WITH g AS (SELECT doc_id, t,
       |  CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
       |       ELSE list_transform(range(1, len(t)-1),
       |         rp_i -> t[rp_i] || '_' || t[rp_i+1] || '_' || t[rp_i+2]) END AS gs
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
       |SELECT doc_id, len(t) AS n_tokens,
       |  ${r6("""CASE WHEN len(gs) > 0
       |    THEN 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / CAST(len(gs) AS DOUBLE)
       |    ELSE 0.0 END""")} AS dup_ngram_ratio,
       |  ${r6("""CAST(list_max(list_transform(list_distinct(t),
       |    x -> len(list_filter(t, y -> y = x)))) AS DOUBLE) / CAST(len(t) AS DOUBLE)""")}
       |    AS top_token_ratio
       |FROM g""".stripMargin
  }

  /** q131's oracle body (shared with q153). */
  private def gopherGateSql: String = {
    def r6(e: String): String =
      s"(floor(($e)*1000000.0 + 0.5)/1000000.0)"
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(w => s"(CASE WHEN list_contains(ws, '$w') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH base AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, '[ \\t\\n\\r\\f\\x0B]+'),
       |      x -> x <> '') AS ws,
       |    list_filter(list_transform(string_split(text, chr(10)),
       |      l -> trim(l, ' ' || chr(9) || chr(13) || chr(12) || chr(11))),
       |      x -> x <> '') AS ls
       |  FROM documents),
       |c AS (SELECT doc_id,
       |    len(ws) AS n_words,
       |    coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS sum_chars,
       |    len(list_filter(ws, x -> contains(x, '#') OR contains(x, '...'))) AS n_sym,
       |    len(ls) AS n_lines,
       |    len(list_filter(ls, l -> l[1] = '-' OR l[1] = '*')) AS n_bullet,
       |    len(list_filter(ls, l -> ends_with(l, '...'))) AS n_ell,
       |    len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
       |    ($stops) AS n_stop
       |  FROM base),
       |r AS (SELECT doc_id AS id,
       |    CAST(n_words AS INT) AS n_words,
       |    CASE WHEN n_words = 0 THEN 0.0
       |         ELSE ${r6("CAST(sum_chars AS DOUBLE)/n_words")} END AS mean_word_len,
       |    CASE WHEN n_words = 0 THEN 0.0
       |         ELSE ${r6("CAST(n_sym AS DOUBLE)/n_words")} END AS symbol_ratio,
       |    CASE WHEN n_lines = 0 THEN 0.0
       |         ELSE ${r6("CAST(n_bullet AS DOUBLE)/n_lines")} END AS bullet_ratio,
       |    CASE WHEN n_lines = 0 THEN 0.0
       |         ELSE ${r6("CAST(n_ell AS DOUBLE)/n_lines")} END AS ellipsis_ratio,
       |    CASE WHEN n_words = 0 THEN 0.0
       |         ELSE ${r6("CAST(n_alpha AS DOUBLE)/n_words")} END AS alpha_ratio,
       |    CAST(n_stop AS INT) AS n_stop_present
       |  FROM c)
       |SELECT *,
       |  CAST((CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END)
       |   + (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 0 ELSE 1 END)
       |   + (CASE WHEN symbol_ratio <= 0.1 THEN 0 ELSE 1 END)
       |   + (CASE WHEN bullet_ratio <= 0.9 THEN 0 ELSE 1 END)
       |   + (CASE WHEN ellipsis_ratio <= 0.3 THEN 0 ELSE 1 END)
       |   + (CASE WHEN alpha_ratio >= 0.8 THEN 0 ELSE 1 END)
       |   + (CASE WHEN n_stop_present >= 2 THEN 0 ELSE 1 END) AS INT)
       |    AS n_rules_failed,
       |  ((CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END)
       |   + (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 0 ELSE 1 END)
       |   + (CASE WHEN symbol_ratio <= 0.1 THEN 0 ELSE 1 END)
       |   + (CASE WHEN bullet_ratio <= 0.9 THEN 0 ELSE 1 END)
       |   + (CASE WHEN ellipsis_ratio <= 0.3 THEN 0 ELSE 1 END)
       |   + (CASE WHEN alpha_ratio >= 0.8 THEN 0 ELSE 1 END)
       |   + (CASE WHEN n_stop_present >= 2 THEN 0 ELSE 1 END)) = 0 AS pass
       |FROM r""".stripMargin
  }

  /** q147's oracle chain parameterized by the labeled-token CTE body
    * (columns id, y, t) — a def so the standalone query and the q160
    * end-to-end composition train the IDENTICAL model (the
    * bruteCosineTopKSql convention: engine and oracle compose the
    * same derivation). Emits the WITH-fragment ending in CTE `sc`
    * with (id, y, score); dim 16, 8 GD steps, lr 0.5. */
  private def classifierChainSql(tkBody: String): String = {
    val dim = 16
    def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
    val hash = hashSql("tok")
    val dot = dotSql("f.x", "wp.w")
    val z = r6(s"$dot + wp.w[${dim + 1}]")
    val prob = r6(s"1.0/(1.0 + exp(-($z)))")
    def iter(k: Int): String = {
      val gTerms = (0 until dim).map(j =>
        r6(s"CAST(sum(CAST(${r6(s"e * x[${j + 1}]")} AS DECIMAL(28,6))) AS DOUBLE) / nt.n")) :+
        r6("CAST(sum(CAST(e AS DECIMAL(28,6))) AS DOUBLE) / nt.n")
      s"""ce$k AS (SELECT f.id, f.y, f.x, ${r6(s"$prob - f.y")} AS e
         |  FROM f CROSS JOIN cw${k - 1} wp),
         |cg$k AS (SELECT [${gTerms.mkString(",\n    ")}] AS g
         |  FROM ce$k CROSS JOIN nt GROUP BY nt.n),
         |cw$k AS (SELECT list_transform(range(1, ${dim + 2}),
         |    wi -> ${r6("wp.w[wi] - 0.5 * g.g[wi]")}) AS w
         |  FROM cw${k - 1} wp CROSS JOIN cg$k g)""".stripMargin
    }
    s"""ctk AS ($tkBody),
       |f AS MATERIALIZED (SELECT id, y, list_transform(range(0, $dim),
       |    fj -> CAST(len(list_filter(t, tok -> ($hash) % $dim = fj))
       |          AS DOUBLE) / len(t)) AS x
       |  FROM ctk WHERE len(t) >= 1),
       |nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
       |cw0 AS (SELECT [${Seq.fill(dim + 1)("0.0").mkString(", ")}] AS w),
       |${(1 to 8).map(iter).mkString(",\n")},
       |sc AS (SELECT f.id, f.y, $prob AS score
       |  FROM f CROSS JOIN cw8 wp)""".stripMargin
  }

  /** q148's oracle chain parameterized by the target-flagged token CTE
    * body (columns id, tgt, t) plus (dim, k) — shared verbatim with
    * the q160 composition's selection stage. Emits the WITH-fragment
    * ending in CTE `dsel` with (id, logw, key, rank), rank NULL
    * outside the top k. */
  private def dsirChainSql(tkBody: String, dim: Int, k: Int): String = {
    def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
    val hash = hashSql("tok")
    val u = s"CAST(${hashSql("CAST(id AS VARCHAR)")} + 1 AS DOUBLE)" +
      " / 1000000009.0"
    val gk = r6(s"-ln(greatest(${r6(s"-ln($u)")}, 0.000001))")
    s"""dtk AS ($tkBody),
       |dd AS MATERIALIZED (SELECT id, tgt, ($hash) % $dim AS j,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT id, tgt, unnest(t) AS tok FROM dtk)
       |  GROUP BY id, tgt, j),
       |db AS (SELECT j,
       |    sum(CASE WHEN tgt THEN c ELSE 0 END) AS ct, sum(c) AS cr
       |  FROM dd GROUP BY j),
       |dtot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM db),
       |dlam AS (SELECT j,
       |    ${r6(s"ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + $dim AS DOUBLE))")}
       |    - ${r6(s"ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + $dim AS DOUBLE))")}
       |      AS lam
       |  FROM db CROSS JOIN dtot),
       |dw AS MATERIALIZED (SELECT id, CAST(sum(CAST(CAST(c AS DOUBLE) * lam
       |      AS DECIMAL(28,6))) AS DOUBLE) AS logw
       |  FROM dd JOIN dlam USING (j) GROUP BY id),
       |dwin AS (SELECT id, p,
       |    row_number() OVER (ORDER BY p DESC, id ASC) AS rn
       |  FROM (SELECT id, logw + $gk AS p FROM dw)),
       |dsel AS (SELECT dw.id, dw.logw,
       |  CASE WHEN dwin.rn <= $k THEN dwin.p END AS key,
       |  CASE WHEN dwin.rn <= $k THEN CAST(dwin.rn AS INTEGER) END AS rank
       |FROM dw JOIN dwin ON dw.id = dwin.id)""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // ---- source-mix rebalancing: deterministic downsampling to a
    // target language mix (largest corpus achievable at exactly the
    // asked proportions; es is the binding group on this data) ----
    query("q84_source_mix")((s, dir) =>
      graft.operators.Sampling.mixSample(docs(s, dir), col("doc_id"),
          col("lang"), Map("en" -> 0.4, "zh" -> 0.2, "es" -> 0.2,
            "de" -> 0.1, "fr" -> 0.1))
        .select(col("doc_id"), col("lang"))) {
      // q84: same two-pass arithmetic as Sampling.mixSample, with the
      // expression trees parenthesized to match Spark's left-assoc
      // evaluation exactly (min(n/s) feasibility scalar, then
      // floor(((res*s)*nout)/n) per-group thresholds, then the KMV-
      // scrambled portable-hash bucket at 1e-6 granularity).
      s"""WITH shares(g, s) AS (VALUES ('en', 0.4), ('zh', 0.2),
         |  ('es', 0.2), ('de', 0.1), ('fr', 0.1)),
         |cnt AS (SELECT lang AS g, CAST(count(*) AS DOUBLE) AS n
         |        FROM documents JOIN shares ON lang = g GROUP BY lang),
         |nout AS (SELECT min(n / s) AS nout FROM cnt JOIN shares USING (g)),
         |thr AS (SELECT g, CAST(floor(1000000.0 * s * nout / n) AS BIGINT) AS thr
         |        FROM cnt JOIN shares USING (g) CROSS JOIN nout)
         |SELECT doc_id, lang FROM documents JOIN thr ON lang = g
         |WHERE 1566083941 * ((${hashSql("CAST(doc_id AS VARCHAR)")}) + 1)
         |      % 1000000007 % 1000000 < thr""".stripMargin
    },

    // ---- language-ID heuristic (one-pass LangScores kernel;
    // equality-pinned against the Column forms in TextFunctionsSpec) ----
    query("q19_langid")((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          graft.functions.TextKernels.lang_scores(col("text"),
            TextFunctions.LangProfiles.toSeq.sortBy(_._1)).as("ls"))
        .select(col("doc_id"),
          col("ls.en_score").as("en_score"), col("ls.de_score").as("de_score"),
          col("ls.fr_score").as("fr_score"), col("ls.pred_lang").as("pred_lang")))(langIdSql),

    // ---- quality scoring + token counting (one-pass TextStats kernel;
    // equality-pinned against the Column-API forms in
    // TextFunctionsSpec) ----
    query("q20_text_quality")((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          graft.functions.TextKernels.text_stats(col("text"),
            TextFunctions.LangProfiles("en")).as("st"))
        .select(col("doc_id"), col("st.ws_tokens").as("ws_tokens"),
          col("st.re_tokens").as("re_tokens"), col("st.quality").as("quality")))(textQualitySql),

    // ---- Gopher rule-based quality gate: the published Rae et al.
    // 2021 document filter heuristics — eight integer counts from ONE
    // fused codegen scan per doc (GopherCounts), ratios round6'd
    // before thresholding so every flag replays bit-for-bit ----
    query("q131_gopher_gate")((s, dir) =>
      graft.operators.Corpus.gopherQualityGate(
        docs(s, dir), col("doc_id"), col("text"))) {
      // q131: the Gopher gate replayed — same whitespace word split,
      // same line trim, integer counts, round6'd ratios, identical
      // threshold comparisons on the identical rounded doubles.
      gopherGateSql
    },

    // ---- markup text extraction (the WET pass): each doc wrapped in
    // a deterministic HTML page (title/style/script/list chrome around
    // the body text, entities in the footer), then the HtmlExtract
    // kernel strips script+style with content, tags to spaces, decodes
    // the safe entity set (amp LAST), collapses whitespace. The
    // wrapper rides INSIDE the query so the oracle builds the same
    // page and replays the same regex chain ----
    query("q132_html_extract")((s, dir) => {
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), id,
        lit("</title><style type=\"text/css\">p { color: #333; }</style>" +
          "<script>if (1 < 2 && 2 > 1) { track(\"d"), id,
        lit("\"); }</script></head><body><h1>Doc "), id,
        lit("</h1><ul><li>alpha</li><li>beta</li></ul><p>"), col("text"),
        lit("</p><br/><div>footer &amp; more &lt;raw&gt;</div></body></html>"))
      graft.operators.Corpus.extractHtmlText(
        docs(s, dir).withColumn("html", html), col("doc_id"), col("html"))
    }) {
      // q132: the same wrapper page built in SQL, the same five-step
      // chain replayed with RE2 — script/style blocks with content,
      // tags to one space, safe entities (amp last), collapse + trim.
      s"""WITH h AS (SELECT doc_id,
         |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
         |  '</title><style type="text/css">p { color: #333; }</style>' ||
         |  '<script>if (1 < 2 && 2 > 1) { track("d' || CAST(doc_id AS VARCHAR) ||
         |  '"); }</script></head><body><h1>Doc ' || CAST(doc_id AS VARCHAR) ||
         |  '</h1><ul><li>alpha</li><li>beta</li></ul><p>' || text ||
         |  '</p><br/><div>footer &amp; more &lt;raw&gt;</div></body></html>'
         |    AS html
         |  FROM documents),
         |x AS (SELECT doc_id AS id,
         |  trim(regexp_replace(
         |    replace(replace(replace(replace(replace(replace(
         |      regexp_replace(
         |        regexp_replace(
         |          regexp_replace(html,
         |            '(?is)<script[^>]*>.*?</script>', '', 'g'),
         |          '(?is)<style[^>]*>.*?</style>', '', 'g'),
         |        '(?s)<[^>]*>', ' ', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
         |    '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'), ' ') AS clean_text
         |  FROM h)
         |SELECT id, clean_text, CAST(length(clean_text) AS INT) AS n_chars
         |FROM x""".stripMargin
    },

    // ---- C4 line-level filter: each doc becomes a multi-line page
    // (raw text + crafted lines exercising every rule: short, no
    // terminal punct, javascript, brace, lorem-ipsum per residue
    // class), then the one-scan kernel keeps terminal-punct ≥5-word
    // javascript-free lines and flags doc-level kill conditions ----
    query("q136_c4_line_filter")((s, dir) => {
      val page = concat_ws("\n",
        col("text"),
        lit("This line has five words."),
        lit("Too short."),
        lit("A line with JavaScript code embedded here."),
        lit("No terminal punctuation here at all"),
        when(col("doc_id") % 11 === 0, lit("code { block }"))
          .otherwise(lit("Filler line number six right here.")),
        when(col("doc_id") % 13 === 0, lit("Lorem Ipsum dolor sit amet."))
          .otherwise(lit("Final sentence to close things out.")))
      graft.operators.Corpus.c4LineFilter(
        docs(s, dir).withColumn("page", page), col("doc_id"), col("page"))
    }) {
      // q136: fixture + the line rules replayed — same trim class, same
      // terminal-punct set, same word split, ASCII-case-insensitive
      // javascript/lorem probes, kept lines re-joined with \n.
      """WITH p AS (SELECT doc_id AS id,
        |    concat_ws(chr(10), text,
        |      'This line has five words.',
        |      'Too short.',
        |      'A line with JavaScript code embedded here.',
        |      'No terminal punctuation here at all',
        |      CASE WHEN doc_id % 11 = 0 THEN 'code { block }'
        |           ELSE 'Filler line number six right here.' END,
        |      CASE WHEN doc_id % 13 = 0 THEN 'Lorem Ipsum dolor sit amet.'
        |           ELSE 'Final sentence to close things out.' END) AS page
        |  FROM documents),
        |l AS (SELECT id, page,
        |    list_transform(string_split(page, chr(10)),
        |      li -> trim(li, ' ' || chr(9) || chr(13) || chr(12) || chr(11)))
        |      AS ls
        |  FROM p),
        |k AS (SELECT id, page, len(ls) AS n_total,
        |    list_filter(ls, li -> li <> ''
        |      AND (ends_with(li, '.') OR ends_with(li, '!') OR
        |           ends_with(li, '?') OR ends_with(li, '"'))
        |      AND len(list_filter(
        |            regexp_split_to_array(li, '[ \t\n\r\f\x0B]+'),
        |            w -> w <> '')) >= 5
        |      AND NOT contains(lower(li), 'javascript')) AS kept
        |  FROM l)
        |SELECT id,
        |  array_to_string(kept, chr(10)) AS clean_text,
        |  CAST(len(kept) AS INT) AS n_lines_kept,
        |  CAST(n_total - len(kept) AS INT) AS n_lines_dropped,
        |  contains(lower(page), 'lorem ipsum') AS has_lorem,
        |  contains(page, '{') AS has_brace,
        |  (NOT contains(lower(page), 'lorem ipsum')
        |   AND NOT contains(page, '{') AND len(kept) >= 3) AS keep_doc
        |FROM k""".stripMargin
    },

    // ---- domain-suffix blocklist filter: messy URLs canonicalize to
    // hosts like a.b.site1.com; listing site1.com blocks the whole
    // registrable domain, cdn.site2.com only that subdomain, and the
    // LONGEST listed suffix wins the matched_domain credit ----
    query("q142_blocklist_filter")((s, dir) => {
      import s.implicits._
      val sub = when(col("doc_id") % 3 === 0, lit("www"))
        .when(col("doc_id") % 3 === 1, lit("a.b"))
        .otherwise(lit("cdn"))
      val url = concat(lit("HTTPS://"), sub, lit(".Site"),
        (col("doc_id") % 7).cast("string"), lit(".COM:443/page/"),
        col("doc_id").cast("string"))
      val blocked = Seq("site1.com", "site4.com", "cdn.site2.com",
        "a.b.site1.com", "evil.org").toDF("domain")
      graft.operators.Corpus.blocklistFilter(
        docs(s, dir).select(col("doc_id"), url.as("url")),
        col("doc_id"), col("url"), blocked)
    }) {
      // q142: canonical host replayed (lowercase, https:443 stripped),
      // dot-suffix explode, blocklist VALUES join, longest match wins.
      """WITH u AS (SELECT doc_id AS id,
        |    lower(CASE WHEN doc_id % 3 = 0 THEN 'www'
        |               WHEN doc_id % 3 = 1 THEN 'a.b'
        |               ELSE 'cdn' END ||
        |      '.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM') AS host
        |  FROM documents),
        |b(domain) AS (VALUES ('site1.com'), ('site4.com'),
        |  ('cdn.site2.com'), ('a.b.site1.com'), ('evil.org')),
        |sfx AS (SELECT id, host,
        |    unnest(list_transform(
        |      range(1, len(string_split(host, '.')) + 1),
        |      si -> array_to_string(
        |        string_split(host, '.')[CAST(si AS INT):], '.'))) AS suffix
        |  FROM u),
        |m AS (SELECT id, max_by(sfx.suffix, length(sfx.suffix)) AS md
        |  FROM sfx JOIN b ON sfx.suffix = b.domain GROUP BY id)
        |SELECT u.id, u.host, m.md IS NOT NULL AS blocked,
        |  m.md AS matched_domain
        |FROM u LEFT JOIN m ON u.id = m.id""".stripMargin
    },

    // ---- Unicode normalization cleanup: every 4th doc gets a messy
    // wrapper (decomposed accent, CRLF, zero-widths, C0 control, DEL,
    // BOM); the kernel folds newlines, NFC-composes and strips, the
    // rest pass through unchanged ----
    query("q143_normalize_text")((s, dir) => {
      val messy = concat(lit("Cafe\u0301 du parc\r\n"), col("text"),
        lit("\u200Bzero\u200Cwidth\u200D\u0001\u007F\uFEFF tail"))
      val t = when(col("doc_id") % 4 === 0, messy).otherwise(col("text"))
      graft.operators.Corpus.normalizeText(
        docs(s, dir).withColumn("t", t), col("doc_id"), col("t"))
    }) {
      // q143: the identical step chain — CRLF/CR fold, nfc_normalize,
      // RE2 strip class ≡ the kernel's drop predicate — with n_stripped
      // as the codepoint-length delta and changed vs the ORIGINAL text.
      """WITH d AS (SELECT doc_id AS id,
        |    CASE WHEN doc_id % 4 = 0 THEN
        |      'Cafe' || chr(769) || ' du parc' || chr(13) || chr(10) ||
        |      text || chr(8203) || 'zero' || chr(8204) || 'width' ||
        |      chr(8205) || chr(1) || chr(127) || chr(65279) || ' tail'
        |    ELSE text END AS t FROM documents),
        |s1 AS (SELECT id, t,
        |    replace(replace(t, chr(13) || chr(10), chr(10)),
        |      chr(13), chr(10)) AS lf FROM d),
        |s2 AS (SELECT id, t, nfc_normalize(lf) AS nfc FROM s1),
        |s3 AS (SELECT id, t, nfc, regexp_replace(nfc,
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]',
        |    '', 'g') AS clean FROM s2)
        |SELECT id, clean AS clean_text,
        |  CAST(length(nfc) - length(clean) AS BIGINT) AS n_stripped,
        |  clean <> t AS changed FROM s3""".stripMargin
    },

    // ---- learned quality classifier (fastText-style): logistic
    // regression over 16 hashed bag-of-words buckets, 8 full-batch GD
    // steps against the lang=='en' proxy label, every step on the 6dp
    // grid — trained weights AND scores replay exactly in SQL ----
    query("q147_quality_classifier")((s, dir) =>
      graft.operators.Classifier.qualityClassifierScores(
        docs(s, dir), "doc_id", "text", col("lang") === "en")) {
      // q147: the full 8-step GD training unrolled — hashed features,
      // round6'd sigmoid, per-term-rounded DECIMAL gradient sums, the
      // exact lr=0.5 update — then the final weights score every doc.
      s"""WITH ${classifierChainSql(
        """SELECT doc_id AS id,
          |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
          |    string_split(text, ' ') AS t FROM documents""".stripMargin)}
         |SELECT id, y, score, score >= 0.5 AS pred FROM sc""".stripMargin
    },

    // ---- DSIR importance resampling (Xie et al. 2023): hashed-
    // unigram log importance ratio against the lang=='en' target
    // subset, then Gumbel-max top-100 ∝ exp(logw) — the label-free
    // "looks like the trusted corpus" selection step; weights AND
    // the seeded draw replay exactly in SQL ----
    query("q148_dsir_resample")((s, dir) =>
      graft.operators.Dsir.resample(
        docs(s, dir), "doc_id", "text", col("lang") === "en",
        dim = 64, k = 100)) {
      // q148: the DSIR chain replayed — per-doc hashed bucket counts,
      // add-one-smoothed target/raw log-probs (each ln round6'd on an
      // exact integer-ratio input), λ differences on the 6dp grid,
      // DECIMAL-summed per-doc log-weights, then the hash-seeded
      // Gumbel-max draw (u over Mod+2, the round6+clamp between the
      // nested lns) ranked (key desc, id asc).
      s"""WITH ${dsirChainSql(
        """SELECT doc_id AS id, lang = 'en' AS tgt,
          |    string_split(text, ' ') AS t FROM documents""".stripMargin,
        dim = 64, k = 100)}
         |SELECT id, logw, key, rank FROM dsel""".stripMargin
    },

    // ---- END-TO-END CURATION (the `curate` CLI's composition as ONE
    // declarative plan, stage order pinned = the CLI's layering):
    // URL-canonical dedup (q134, min-id per canon key) → C4 line
    // rules (q136, doc kills + text rewrite) → global paragraph dedup
    // (q141, text rewrite) → Gopher gate (q131) → classifier trained
    // ON the survivors (q147, the DCLM layering: the filter model
    // never sees what the rules killed) → DSIR top-50 selection
    // toward lang=='en' (q148). Each doc carries a URL and a crafted
    // multi-line page so every stage has real kills; the oracle
    // replays the WHOLE chain (the q153 composition convention, one
    // stage deeper). Output = the selected docs, scalar columns only
    // (text pinned via its portable hash). ----
    query("q160_curate_e2e")((s, dir) => {
      import graft.functions.PortableHash.portable_hash
      import graft.operators.{Classifier, Corpus, Dsir}
      val d = docs(s, dir)
      val art = (col("doc_id") % 250).cast("string")
      val url = concat(lit("HTTP://WWW.Site"),
        (col("doc_id") % 250 % 7).cast("string"),
        lit(".COM:80/Articles/"), art, lit("?utm_source=feed&id="), art)
      val page = concat_ws("\n",
        concat(col("text"), lit(" and that is the end.")),
        lit("Subscribe to our newsletter today."),
        lit("Too short."),
        when(col("doc_id") % 11 === 0, lit("code { block }"))
          .otherwise(lit("Filler line number six right here.")))
      val base = d.select(col("doc_id"), col("lang"),
        url.as("url"), page.as("page"))
      val kept1 = base.join(
        Corpus.urlDupClusters(base, col("doc_id"), col("url"))
          .select(col("min_doc").as("doc_id")),
        Seq("doc_id"), "left_semi")
      val c4 = Corpus.c4LineFilter(kept1, col("doc_id"), col("page"))
        .filter(col("keep_doc"))
        .select(col("id").as("doc_id"), col("clean_text").as("t1"))
      val kept2 = kept1.select(col("doc_id"), col("lang")).join(c4, "doc_id")
      val para = Corpus.paragraphDedup(kept2, col("doc_id"), col("t1"))
        .filter(col("n_kept") > 0)
        .select(col("id").as("doc_id"), col("clean_text").as("t2"))
      val kept3 = kept2.select(col("doc_id"), col("lang")).join(para, "doc_id")
      val kept4 = kept3.join(
        Corpus.gopherQualityGate(kept3, col("doc_id"), col("t2"))
          .filter(col("pass")).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_semi")
        .localCheckpoint() // feeds training AND scoring AND selection
      val scored = Classifier.qualityClassifierScores(
          kept4, "doc_id", "t2", col("lang") === "en")
        .select(col("id").as("doc_id"), col("score").as("clf_score"))
      Dsir.resample(kept4, "doc_id", "t2", col("lang") === "en",
          dim = 64, k = 50)
        .filter(col("rank").isNotNull)
        .select(col("id").as("doc_id"), col("logw"), col("rank"))
        .join(scored, "doc_id")
        .join(kept4.select(col("doc_id"), col("lang"),
          portable_hash(col("t2")).as("text_hash")), "doc_id")
        .select(col("doc_id"), col("lang"), col("text_hash"),
          col("clf_score"), col("logw"), col("rank"))
    }) {
      // q160: the WHOLE curation chain replayed stage by stage — the
      // q134 URL canonicalization, q136 C4 line pass, q141 paragraph
      // election, q131 Gopher panel, then the q147 classifier chain and
      // q148 DSIR chain (SHARED defs — classifierChainSql/dsirChainSql,
      // so the composed model is definitionally the standalone one)
      // trained/selected over the curated survivors k4.
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
        .map(w => s"(CASE WHEN list_contains(ws, '$w') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH b0 AS (SELECT doc_id, lang,
         |    'HTTP://WWW.Site' || CAST(doc_id % 250 % 7 AS VARCHAR) ||
         |      '.COM:80/Articles/' || CAST(doc_id % 250 AS VARCHAR) ||
         |      '?utm_source=feed&id=' || CAST(doc_id % 250 AS VARCHAR) AS url,
         |    concat_ws(chr(10), text || ' and that is the end.',
         |      'Subscribe to our newsletter today.',
         |      'Too short.',
         |      CASE WHEN doc_id % 11 = 0 THEN 'code { block }'
         |           ELSE 'Filler line number six right here.' END) AS page
         |  FROM documents),
         |u1 AS (SELECT doc_id, string_split(url, '#')[1] AS s0 FROM b0),
         |u2 AS (SELECT doc_id,
         |    lower(regexp_extract(s0, '^([^:/?#]+)://', 1)) AS scheme,
         |    regexp_replace(s0, '^[^:/?#]+://', '') AS rest FROM u1),
         |u3 AS (SELECT doc_id, scheme,
         |    lower(regexp_extract(rest, '^([^/?]*)', 1)) AS auth0,
         |    substring(rest, length(regexp_extract(rest, '^([^/?]*)', 1)) + 1)
         |      AS tail FROM u2),
         |u4 AS (SELECT doc_id, scheme,
         |    CASE WHEN scheme = 'http' AND ends_with(auth0, ':80')
         |           THEN left(auth0, length(auth0) - 3)
         |         WHEN scheme = 'https' AND ends_with(auth0, ':443')
         |           THEN left(auth0, length(auth0) - 4)
         |         ELSE auth0 END AS auth,
         |    CASE WHEN contains(tail, '?')
         |         THEN left(tail, strpos(tail, '?') - 1) ELSE tail END AS path,
         |    CASE WHEN contains(tail, '?')
         |         THEN substring(tail, strpos(tail, '?') + 1) ELSE '' END AS qs
         |  FROM u3),
         |u5 AS (SELECT doc_id,
         |    scheme || '://' || auth || path ||
         |    CASE WHEN len(kept) = 0 THEN ''
         |         ELSE '?' || array_to_string(kept, '&') END AS canon_url
         |  FROM (SELECT *,
         |      list_sort(list_filter(string_split(qs, '&'),
         |        pp -> pp <> '' AND NOT (
         |          starts_with(string_split(pp, '=')[1], 'utm_') OR
         |          string_split(pp, '=')[1] IN ('gclid', 'fbclid', 'msclkid'))))
         |        AS kept
         |    FROM u4)),
         |k1 AS MATERIALIZED (SELECT b0.* FROM b0
         |  JOIN (SELECT min(doc_id) AS doc_id FROM u5 GROUP BY canon_url) mu
         |  USING (doc_id)),
         |c1 AS (SELECT doc_id, lang, page,
         |    list_transform(string_split(page, chr(10)),
         |      li -> trim(li, ' ' || chr(9) || chr(13) || chr(12) || chr(11)))
         |      AS ls
         |  FROM k1),
         |c2 AS (SELECT doc_id, lang, page,
         |    list_filter(ls, li -> li <> ''
         |      AND (ends_with(li, '.') OR ends_with(li, '!') OR
         |           ends_with(li, '?') OR ends_with(li, '"'))
         |      AND len(list_filter(
         |            regexp_split_to_array(li, '[ \\t\\n\\r\\f\\x0B]+'),
         |            w -> w <> '')) >= 5
         |      AND NOT contains(lower(li), 'javascript')) AS kept
         |  FROM c1),
         |k2 AS MATERIALIZED (SELECT doc_id, lang,
         |    array_to_string(kept, chr(10)) AS t1
         |  FROM c2
         |  WHERE NOT contains(lower(page), 'lorem ipsum')
         |    AND NOT contains(page, '{') AND len(kept) >= 3),
         |p1 AS (SELECT doc_id, unnest(string_split(t1, chr(10))) AS p0,
         |    unnest(range(0, len(string_split(t1, chr(10))))) AS pos
         |  FROM k2),
         |p2 AS (SELECT doc_id, pos, trim(p0) AS p FROM p1
         |       WHERE length(trim(p0)) > 0),
         |p3 AS (SELECT doc_id, pos, p FROM (
         |    SELECT doc_id, pos, p, row_number() OVER
         |      (PARTITION BY p ORDER BY doc_id, pos) AS rk FROM p2)
         |  WHERE rk = 1),
         |k3 AS MATERIALIZED (SELECT k2.doc_id, k2.lang,
         |    agg.t2 AS t2
         |  FROM k2 JOIN (SELECT doc_id,
         |      string_agg(p, chr(10) ORDER BY pos) AS t2
         |    FROM p3 GROUP BY doc_id) agg USING (doc_id)),
         |go1 AS (SELECT doc_id,
         |    list_filter(regexp_split_to_array(t2, '[ \\t\\n\\r\\f\\x0B]+'),
         |      x -> x <> '') AS ws,
         |    list_filter(list_transform(string_split(t2, chr(10)),
         |      l -> trim(l, ' ' || chr(9) || chr(13) || chr(12) || chr(11))),
         |      x -> x <> '') AS ls
         |  FROM k3),
         |go2 AS (SELECT doc_id,
         |    len(ws) AS n_words,
         |    coalesce(list_sum(list_transform(ws, x -> length(x))), 0)
         |      AS sum_chars,
         |    len(list_filter(ws, x -> contains(x, '#') OR contains(x, '...')))
         |      AS n_sym,
         |    len(ls) AS n_lines,
         |    len(list_filter(ls, l -> l[1] = '-' OR l[1] = '*')) AS n_bullet,
         |    len(list_filter(ls, l -> ends_with(l, '...'))) AS n_ell,
         |    len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
         |      AS n_alpha,
         |    ($stops) AS n_stop
         |  FROM go1),
         |go3 AS (SELECT doc_id FROM go2
         |  WHERE n_words BETWEEN 50 AND 100000
         |    AND (CASE WHEN n_words = 0 THEN 0.0
         |         ELSE ${r6("CAST(sum_chars AS DOUBLE)/n_words")} END)
         |      BETWEEN 3.0 AND 10.0
         |    AND (CASE WHEN n_words = 0 THEN 0.0
         |         ELSE ${r6("CAST(n_sym AS DOUBLE)/n_words")} END) <= 0.1
         |    AND (CASE WHEN n_lines = 0 THEN 0.0
         |         ELSE ${r6("CAST(n_bullet AS DOUBLE)/n_lines")} END) <= 0.9
         |    AND (CASE WHEN n_lines = 0 THEN 0.0
         |         ELSE ${r6("CAST(n_ell AS DOUBLE)/n_lines")} END) <= 0.3
         |    AND (CASE WHEN n_words = 0 THEN 0.0
         |         ELSE ${r6("CAST(n_alpha AS DOUBLE)/n_words")} END) >= 0.8
         |    AND n_stop >= 2),
         |k4 AS MATERIALIZED (SELECT k3.doc_id, k3.lang, k3.t2
         |  FROM k3 JOIN go3 USING (doc_id)),
         |${classifierChainSql(
        """SELECT doc_id AS id,
          |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
          |    string_split(t2, ' ') AS t FROM k4""".stripMargin)},
         |${dsirChainSql(
        """SELECT doc_id AS id, lang = 'en' AS tgt,
          |    string_split(t2, ' ') AS t FROM k4""".stripMargin,
        dim = 64, k = 50)}
         |SELECT k4.doc_id, k4.lang,
         |  ${hashSql("k4.t2")} AS text_hash,
         |  sc.score AS clf_score, dsel.logw, dsel.rank
         |FROM k4
         |JOIN sc ON k4.doc_id = sc.id
         |JOIN dsel ON k4.doc_id = dsel.id
         |WHERE dsel.rank IS NOT NULL""".stripMargin
    },

    // ---- RedPajama-V2-style quality-signals sheet: every cheap
    // text-local signal (length/tokens, q20 quality, q19 lang-id,
    // q56 repetition, the q131 Gopher panel) from ONE scan, zero
    // shuffle — the signals parquet downstream selection reads
    // instead of re-touching text; plan-pinned single-Project ----
    query("q153_quality_signals")((s, dir) =>
      graft.operators.Corpus.qualitySignals(docs(s, dir), "doc_id", "text")) {
      // q153: definitional identity with the standalone queries — the
      // q19/q20/q56/q131 oracle bodies nest as CTEs and join on doc_id
      // (plus one n_chars projection); any drift in the fused kernel
      // pass breaks the corresponding column's hash.
      s"""WITH ql AS ($langIdSql),
         |qt AS ($textQualitySql),
         |qr AS ($repetitionSql),
         |qg AS ($gopherGateSql),
         |nc AS (SELECT doc_id, CAST(length(text) AS INT) AS n_chars
         |       FROM documents)
         |SELECT nc.doc_id, nc.n_chars,
         |  qt.ws_tokens, qt.re_tokens, qt.quality,
         |  ql.en_score, ql.pred_lang,
         |  qr.dup_ngram_ratio, qr.top_token_ratio,
         |  qg.n_words, qg.mean_word_len, qg.symbol_ratio,
         |  qg.bullet_ratio, qg.ellipsis_ratio, qg.alpha_ratio,
         |  qg.n_stop_present, qg.n_rules_failed,
         |  qg.pass AS gopher_pass
         |FROM nc
         |JOIN ql USING (doc_id) JOIN qt USING (doc_id)
         |JOIN qr USING (doc_id) JOIN qg ON qg.id = nc.doc_id""".stripMargin
    },

    // ---- word-entropy / lexical-diversity signals: per-doc Shannon
    // entropy over word counts + type-token ratio, computed doc-local
    // (sorted-run HOF fold, zero shuffle) while the oracle takes the
    // textbook explode + GROUP BY road to the same bits ----
    query("q168_entropy_signal")((s, dir) =>
      graft.operators.Corpus.entropySignals(docs(s, dir),
        "doc_id", "text")) {
      // q168: the textbook form — explode words, per-(doc,word) counts,
      // per-doc aggregate with the same round6-term decimal sum the
      // engine's fold accumulates (order-free, so the two shapes match
      // bit-for-bit).
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      s"""WITH tk AS (SELECT doc_id,
         |    list_filter(string_split(text, ' '), w -> w <> '') AS t
         |  FROM documents),
         |wc AS (SELECT doc_id, word, count(*) AS c FROM (
         |    SELECT doc_id, unnest(t) AS word FROM tk) GROUP BY 1, 2),
         |ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(CAST(${r6("c * ln(c)")} AS DECIMAL(28,6)))
         |      AS DOUBLE) AS sclc
         |  FROM wc GROUP BY 1)
         |SELECT doc_id, n_tokens, n_types,
         |  ${r6("CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)")}
         |    AS ttr,
         |  ${r6("ln(CAST(n_tokens AS DOUBLE))" +
             " - sclc / CAST(n_tokens AS DOUBLE)")} AS entropy
         |FROM ag""".stripMargin
    },

    // ---- calibration bins (Guo et al. 2017 ECE shape): the q20
    // quality score audited as a probability against the q131 Gopher
    // gate — per-decile mean score vs positive rate ----
    query("q178_quality_calibration")((s, dir) => {
      val score = docs(s, dir).select(col("doc_id"),
        graft.functions.TextKernels.text_stats(col("text"),
          TextFunctions.LangProfiles("en")).getField("quality")
          .as("score"))
      val label = graft.operators.Corpus.gopherQualityGate(
          docs(s, dir), col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("pass"))
      graft.operators.Classifier.calibrationBins(
        score.join(label, "doc_id"), col("score"), col("pass"))
    }) {
      // q178: quality (textQualitySql) joined to the Gopher pass
      // (gopherGateSql), decile bins with decimal-exact sums.
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      s"""WITH q AS ($textQualitySql),
         |gg AS ($gopherGateSql),
         |j AS (SELECT q.quality AS s,
         |    CASE WHEN gg.pass THEN 1.0 ELSE 0.0 END AS y
         |  FROM q JOIN gg ON q.doc_id = gg.id),
         |b AS (SELECT greatest(0, least(CAST(floor(s * 10) AS BIGINT),
         |    9)) AS bin, s, y FROM j),
         |ag AS (SELECT bin, count(*) AS n,
         |    CAST(sum(CAST(s AS DECIMAL(28,6))) AS DOUBLE) AS ss,
         |    CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy
         |  FROM b GROUP BY 1),
         |fin AS (SELECT bin, n, ${r6("ss / n")} AS avg_score,
         |    ${r6("sy / n")} AS pos_rate FROM ag)
         |SELECT bin, CAST(n AS BIGINT) AS n, avg_score, pos_rate,
         |  ${r6("abs(avg_score - pos_rate)")} AS gap
         |FROM fin""".stripMargin
    },

    // ---- distinct-n diversity per source (Li et al. 2016): the
    // degeneracy panel — distinct/total n-grams for n = 1..3 ----
    query("q182_distinct_n_diversity")((s, dir) =>
      graft.operators.Corpus.distinctNgramRatios(docs(s, dir),
        "doc_id", "text", "source")) {
      // q182: per n — explode SPACE-joined n-gram hashes (tokens split
      // on space, so the space joiner is collision-free and byte-
      // identical to the engine's concat_ws(" ", ...)), (source, gram)
      // counts, source rollup; three legs UNION ALL.
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      def leg(n: Int): String = {
        val gram = (0 until n).map(o => s"t[gi + $o]")
          .mkString(" || ' ' || ")
        s"""SELECT source, CAST($n AS BIGINT) AS n,
           |  CAST(sum(c) AS BIGINT) AS total_ngrams,
           |  CAST(count(*) AS BIGINT) AS distinct_ngrams,
           |  ${r6("CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)")}
           |    AS distinct_ratio
           |FROM (SELECT source, g, count(*) AS c FROM (
           |    SELECT source, unnest(list_transform(
           |        range(1, len(t) - ${n - 1} + 1),
           |        gi -> ${hashSql(s"($gram)")})) AS g
           |    FROM tk WHERE len(t) >= $n) GROUP BY 1, 2)
           |GROUP BY source""".stripMargin
      }
      s"""WITH tk AS MATERIALIZED (SELECT source,
         |    list_filter(string_split(text, ' '), w -> w <> '') AS t
         |  FROM documents)
         |${Seq(1, 2, 3).map(leg).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // ---- distinct-n panel, KMV-sketched (the 100× escape for q182:
    // O(k) aggregate state instead of a corpus-scale (source, gram)
    // exchange; the deterministic estimator itself is oracle-checked,
    // the q38 discipline) ----
    query("q183_distinct_n_sketch")((s, dir) =>
      graft.operators.Corpus.distinctNgramRatiosSketch(docs(s, dir),
        "doc_id", "text", "source")) {
      // q183: the KMV estimator replayed in full per (source, n) —
      // scramble g' = (A·(g+1)) mod M over DISTINCT gram hashes, sort,
      // k-th order statistic, n̂ = (k−1)·M/h_k − 1 (4-dp), exact count
      // below k — the q38 formula, one leg per n.
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      val k = 1024
      def leg(n: Int): String = {
        val gram = (0 until n).map(o => s"t[gi + $o]")
          .mkString(" || ' ' || ")
        s"""SELECT source, CAST($n AS BIGINT) AS n,
           |  CAST(total_ngrams AS BIGINT) AS total_ngrams, distinct_est,
           |  ${r6("distinct_est / CAST(total_ngrams AS DOUBLE)")}
           |    AS distinct_ratio_est
           |FROM (SELECT source, total_ngrams,
           |    CASE WHEN len(hs) < $k THEN CAST(len(hs) AS DOUBLE)
           |         ELSE floor((${k - 1}.0 * 1000000007.0 / hs[$k] - 1.0)
           |                    * 10000 + 0.5) / 10000
           |    END AS distinct_est
           |  FROM (SELECT source, count(*) AS total_ngrams,
           |      list_sort(list_distinct(list(
           |        (1566083941 * (g + 1)) % 1000000007))) AS hs
           |    FROM (SELECT source, unnest(list_transform(
           |          range(1, len(t) - ${n - 1} + 1),
           |          gi -> ${hashSql(s"($gram)")})) AS g
           |      FROM tk WHERE len(t) >= $n)
           |    GROUP BY source))""".stripMargin
      }
      s"""WITH tk AS MATERIALIZED (SELECT source,
         |    list_filter(string_split(text, ' '), w -> w <> '') AS t
         |  FROM documents)
         |${Seq(1, 2, 3).map(leg).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // ---- inter-source duplication matrix: the q14 near-dup pairs
    // rolled up to undirected source pairs with size-normalized
    // rates — the provenance view a corpus report publishes ----
    query("q181_source_dup_matrix")((s, dir) =>
      Dedup.sourceDupMatrix(dupPairs(s, dir), docs(s, dir),
        col("doc_id"), col("source"))) {
      // q181: the q14 pair CTEs roll up by source pair, normalized by
      // n_a·n_b (cross) or n(n−1)/2 (diagonal).
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      s"""WITH $dupPairsSqlCtes,
         |srcs AS (SELECT doc_id, source FROM documents),
         |sp AS (SELECT least(sa.source, sb.source) AS source_a,
         |    greatest(sa.source, sb.source) AS source_b
         |  FROM pairs p
         |  JOIN srcs sa ON p.a_id = sa.doc_id
         |  JOIN srcs sb ON p.b_id = sb.doc_id),
         |m AS (SELECT source_a, source_b, count(*) AS n_pairs
         |  FROM sp GROUP BY 1, 2),
         |c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1)
         |SELECT m.source_a, m.source_b,
         |  CAST(m.n_pairs AS BIGINT) AS n_pairs,
         |  CAST(ca.n AS BIGINT) AS n_docs_a,
         |  CAST(cb.n AS BIGINT) AS n_docs_b,
         |  ${r6("CAST(m.n_pairs AS DOUBLE) / CAST(" +
             "CASE WHEN m.source_a = m.source_b" +
             " THEN ca.n * (ca.n - 1) // 2" +
             " ELSE ca.n * cb.n END AS DOUBLE)")} AS dup_rate
         |FROM m JOIN c ca ON m.source_a = ca.source
         |JOIN c cb ON m.source_b = cb.source""".stripMargin
    },

    // ---- quality-filter calibration sweep: the q20 quality score
    // against the lang=='en' proxy label across nine thresholds, all
    // from ONE scalar aggregate pass (2 conditional sums per
    // threshold), exploded to the calibration-curve rows ----
    query("q145_threshold_sweep")((s, dir) => {
      val st = graft.functions.TextKernels.text_stats(col("text"),
        TextFunctions.LangProfiles("en"))
      graft.operators.Corpus.thresholdSweep(
        docs(s, dir).select(col("lang"), st.getField("quality").as("q")),
        col("q"), col("lang") === "en",
        Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))
    }) {
      // q145: the q20 quality formula feeding per-threshold conditional
      // sums (one cross join against the 9-value threshold list), ratios
      // round6'd with 0/0 -> NULL.
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      val meanLen = r6("(length(text) - (CAST(len(t) AS DOUBLE) - 1))/len(t)")
      val stopR = r6("CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)/len(t)")
      def ratio(num: String, den: String) =
        s"CASE WHEN $den = 0 THEN NULL ELSE " +
          r6(s"CAST($num AS DOUBLE) / CAST($den AS DOUBLE)") + " END"
      s"""WITH s AS (SELECT lang,
         |    ${r6(s"""0.4 * least(CAST(len(t) AS DOUBLE)/200.0, 1.0)
         |        + 0.3 * least($meanLen/8.0, 1.0)
         |        + 0.3 * least($stopR*5.0, 1.0)""")} AS q
         |  FROM (SELECT lang, text, string_split(text, ' ') AS t
         |        FROM documents)),
         |th(threshold) AS (VALUES (0.1), (0.2), (0.3), (0.4), (0.5),
         |  (0.6), (0.7), (0.8), (0.9)),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_pos FROM s),
         |per AS (SELECT th.threshold,
         |    CAST(sum(CASE WHEN s.q >= th.threshold THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_kept,
         |    CAST(sum(CASE WHEN s.q >= th.threshold AND s.lang = 'en'
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_kept
         |  FROM th CROSS JOIN s GROUP BY th.threshold)
         |SELECT per.threshold, per.n_kept, per.n_pos_kept,
         |  agg.n_docs, agg.n_pos,
         |  ${ratio("per.n_pos_kept", "per.n_kept")} AS precision,
         |  ${ratio("per.n_pos_kept", "agg.n_pos")} AS recall,
         |  ${ratio("per.n_kept", "agg.n_docs")} AS frac_kept
         |FROM per CROSS JOIN agg""".stripMargin
    },

    // ---- corpus snapshot diff: the v1→v2 churn report (drop one
    // residue class, edit another, add a third under new ids) via the
    // fingerprint full-outer join — content never crosses the wire ----
    query("q139_snapshot_diff")((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val v2 = d.filter(col("doc_id") % 17 =!= 3)
        .withColumn("text", when(col("doc_id") % 17 === 5,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(d.filter(col("doc_id") % 17 === 7)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      graft.operators.Corpus.snapshotDiff(d, v2, "doc_id", "text")
    }) {
      // q139: the same v2 construction, status from RAW text equality
      // (fingerprint-equal ⇔ text-equal on collision-free data — the
      // exact-dedup surface's standing assumption).
      """WITH o AS (SELECT doc_id AS id, text FROM documents),
        |n AS (SELECT doc_id AS id,
        |    CASE WHEN doc_id % 17 = 5 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 100000 AS id, text FROM documents
        |  WHERE doc_id % 17 = 7)
        |SELECT coalesce(o.id, n.id) AS id,
        |  CASE WHEN o.id IS NULL THEN 'added'
        |       WHEN n.id IS NULL THEN 'removed'
        |       WHEN o.text = n.text THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  CAST(length(o.text) AS INT) AS old_len,
        |  CAST(length(n.text) AS INT) AS new_len
        |FROM o FULL OUTER JOIN n ON o.id = n.id""".stripMargin
    },

    // ---- per-host document cap (domain balance): messy URLs bucket
    // to their canonical host (case/port/params collapse), at most 3
    // lowest-id docs kept per host ----
    query("q138_per_host_cap")((s, dir) => {
      val idS = col("doc_id").cast("string")
      val url = concat(lit("HTTP://WWW.Site"),
        (col("doc_id") % 7).cast("string"), lit(".COM:80/Articles/"), idS,
        lit("?utm_source=feed&id="), idS)
      graft.operators.Corpus.perHostCap(
        docs(s, dir).select(col("doc_id"), url.as("url")),
        col("doc_id"), col("url"), cap = 3)
    }) {
      // q138: the canonical-host derivation replayed (fragment, scheme,
      // authority lowercase, default-port strip), then the same
      // per-host (id asc) rank and cap.
      """WITH u AS (SELECT doc_id,
        |    'HTTP://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.COM:80/Articles/' || CAST(doc_id AS VARCHAR) ||
        |    '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |p AS (SELECT doc_id, string_split(url, '#')[1] AS s0 FROM u),
        |q AS (SELECT doc_id,
        |    lower(regexp_extract(s0, '^([^:/?#]+)://', 1)) AS scheme,
        |    regexp_replace(s0, '^[^:/?#]+://', '') AS rest
        |  FROM p),
        |r AS (SELECT doc_id,
        |    lower(regexp_extract(rest, '^([^/?]*)', 1)) AS auth0, scheme
        |  FROM q),
        |h AS (SELECT doc_id AS id,
        |    CASE WHEN scheme = 'http' AND ends_with(auth0, ':80')
        |           THEN left(auth0, length(auth0) - 3)
        |         WHEN scheme = 'https' AND ends_with(auth0, ':443')
        |           THEN left(auth0, length(auth0) - 4)
        |         ELSE auth0 END AS host
        |  FROM r)
        |SELECT id, host, CAST(rn AS INT) AS host_rank
        |FROM (SELECT id, host,
        |    row_number() OVER (PARTITION BY host ORDER BY id) AS rn
        |  FROM h) WHERE rn <= 3""".stripMargin
    },

    // ---- the end-to-end training-corpus cleaning pipeline: near-dup
    // clusters -> keep canonical docs only -> language gate -> quality
    // gate -> per-doc token counts. The composition is ONE declarative
    // plan: the cluster join prunes before the text kernels run, and
    // every stage reuses an operator that is independently
    // oracle-checked (q43, q19, q20). ----
    query("q46_clean_corpus")((s, dir) => {
      val d = docs(s, dir)
      val canon = dupClusters(s, dir)
        .filter(col("is_canonical"))
        .select(col("doc_id"), col("cluster_size"))
      d.join(canon, "doc_id")
        .select(col("doc_id"), col("cluster_size"),
          graft.functions.TextKernels.lang_scores(col("text"),
            TextFunctions.LangProfiles.toSeq.sortBy(_._1)).as("ls"),
          graft.functions.TextKernels.text_stats(col("text"),
            TextFunctions.LangProfiles("en")).as("st"))
        .filter(col("ls.pred_lang") === "en" && col("st.quality") >= 0.35)
        .select(col("doc_id"), col("cluster_size"),
          col("st.ws_tokens").as("ws_tokens"), col("st.quality").as("quality"))
    }) {
      // q46: composition oracle — the q43 closure picks canonical docs,
      // then q19's pred_lang and q20's quality formulas gate them.
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      val en = r6("CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)/len(t)")
      val de = r6("CAST(len(list_filter(t, x -> x IN ('der','die','das','und','ist','ein'))) AS DOUBLE)/len(t)")
      val fr = r6("CAST(len(list_filter(t, x -> x IN ('le','la','les','et','est','un'))) AS DOUBLE)/len(t)")
      val meanLen = r6("(length(text) - (CAST(len(t) AS DOUBLE) - 1))/len(t)")
      val stopR = r6("CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)/len(t)")
      val quality = r6(s"""0.4 * least(CAST(len(t) AS DOUBLE)/200.0, 1.0)
         |      + 0.3 * least($meanLen/8.0, 1.0)
         |      + 0.3 * least($stopR*5.0, 1.0)""".stripMargin)
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
         |          FROM lab2 GROUP BY canon_id),
         |canon AS (SELECT doc_id, cluster_size
         |          FROM lab2 JOIN sizes USING (canon_id)
         |          WHERE doc_id = canon_id),
         |f AS (SELECT doc_id, cluster_size, text, string_split(text, ' ') AS t
         |      FROM documents JOIN canon USING (doc_id))
         |SELECT doc_id, cluster_size, len(t) AS ws_tokens, $quality AS quality
         |FROM f
         |WHERE (CASE
         |    WHEN $fr >= $en AND $fr >= $de THEN 'fr'
         |    WHEN $en >= $de THEN 'en' ELSE 'de' END) = 'en'
         |  AND $quality >= 0.35""".stripMargin
    },

    // ---- canonical election by QUALITY: per dup cluster keep the
    // highest-quality member (the keep-best curation policy, vs q46's
    // keep-min-id) — clusters ⋈ quality + one argmax window ----
    query("q52_best_of_cluster")((s, dir) => {
      val d = docs(s, dir)
      val clusters = dupClusters(s, dir)
      val scored = d.select(col("doc_id"),
        graft.functions.TextKernels.text_stats(col("text"),
          TextFunctions.LangProfiles("en")).getField("quality").as("quality"))
      val w = Window.partitionBy(col("canon_id"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      clusters.join(scored, "doc_id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("canon_id").as("cluster_id"), col("doc_id").as("best_id"),
          graft.functions.TextFunctions.round6(col("quality")).as("quality"),
          col("cluster_size"))
    }) {
      // q52: q43's closure picks clusters, q20's quality formula scores
      // members, the argmax window (quality desc, doc_id asc — dup texts
      // have IDENTICAL quality, so the id tiebreak decides) elects.
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      val meanLen = r6("(length(text) - (CAST(len(t) AS DOUBLE) - 1))/len(t)")
      val stopR = r6("CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)/len(t)")
      val quality = r6(s"""0.4 * least(CAST(len(t) AS DOUBLE)/200.0, 1.0)
         |      + 0.3 * least($meanLen/8.0, 1.0)
         |      + 0.3 * least($stopR*5.0, 1.0)""".stripMargin)
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
         |          FROM lab2 GROUP BY canon_id),
         |q AS (SELECT doc_id, $quality AS quality
         |      FROM (SELECT doc_id, text, string_split(text, ' ') AS t
         |            FROM documents)),
         |j AS (SELECT lab2.doc_id, lab2.canon_id, sizes.cluster_size, q.quality
         |      FROM lab2 JOIN sizes USING (canon_id) JOIN q USING (doc_id))
         |SELECT canon_id AS cluster_id, doc_id AS best_id,
         |       ${r6("quality")} AS quality, cluster_size
         |FROM (SELECT doc_id, canon_id, cluster_size, quality,
         |    row_number() OVER (PARTITION BY canon_id
         |      ORDER BY quality DESC, doc_id ASC) AS rn
         |  FROM j) WHERE rn = 1""".stripMargin
    },

    // ---- benchmark DECONTAMINATION: distinct trigrams shared with the
    // held-out benchmark slice (doc_id ≡ 0 mod 37) — the train/test
    // overlap filter; bench n-gram set is distinct-aggregated then
    // broadcast, corpus text never shuffles (64-bit hashes do) ----
    query("q54_decontaminate")((s, dir) => {
      val d = docs(s, dir)
      graft.operators.Corpus.decontaminate(
        d.filter(col("doc_id") % 37 =!= 0),
        d.filter(col("doc_id") % 37 === 0),
        "doc_id", "text", n = 3)
    }) {
      // q54: string trigrams stand in for the Spark side's 64-bit shingle
      // hashes — intersection COUNTS agree unless two distinct shingles
      // collide at 2^-64 (the q14/q17 equivalence).
      """WITH sh AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        |           sh_i -> t[sh_i] || '_' || t[sh_i+1] || '_' || t[sh_i+2])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |  WHERE len(t) >= 3),
        |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 37 = 0),
        |corp AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 37 <> 0)
        |SELECT corp.doc_id AS doc_id, count(*) AS n_overlap
        |FROM corp JOIN bench USING (g) GROUP BY 1""".stripMargin
    },

    // ---- BOILERPLATE ratio: share of each doc's distinct trigrams
    // that are corpus-frequent (df ≥ 5) — C4/RefinedWeb-style
    // stock-phrase signal; one shingle pass feeds df + per-doc counts ----
    query("q55_boilerplate")((s, dir) =>
      graft.operators.Corpus.boilerplateRatio(
        docs(s, dir), "doc_id", "text", n = 3, minDf = 5)) {
      val r6 = graft.functions.TextFunctions.round6Sql(
        "CAST(coalesce(nf.n_frequent, 0) AS DOUBLE) / CAST(per.n_shingles AS DOUBLE)")
      s"""WITH sh AS MATERIALIZED (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
         |           sh_i -> t[sh_i] || '_' || t[sh_i+1] || '_' || t[sh_i+2])) AS s
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |  WHERE len(t) >= 3),
         |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |dfq AS (SELECT g FROM (SELECT g, count(*) AS df FROM e GROUP BY 1)
         |        WHERE df >= 5),
         |per AS (SELECT doc_id, count(*) AS n_shingles FROM e GROUP BY 1),
         |nf AS (SELECT doc_id, count(*) AS n_frequent
         |       FROM e JOIN dfq USING (g) GROUP BY 1)
         |SELECT per.doc_id AS doc_id, per.n_shingles AS n_shingles,
         |  coalesce(nf.n_frequent, 0) AS n_frequent, $r6 AS ratio
         |FROM per LEFT JOIN nf USING (doc_id)""".stripMargin
    },

    // ---- intra-document REPETITION (Gopher rules shape): duplicate
    // trigram ratio + top-token share; pure per-row column math ----
    query("q56_repetition")((s, dir) =>
      graft.operators.Corpus.repetitionStats(docs(s, dir), "doc_id", "text", n = 3))(repetitionSql),

    // ---- PII scrub (C4/Dolma-style pre-training redaction): emails /
    // phones / IPv4s replaced with typed tags + per-doc counts, one
    // codegen map pass, zero shuffle. The synthetic corpus carries no
    // PII, so the query first injects deterministic doc_id-derived
    // emails/phones/IPs into a subset of docs (same arithmetic in the
    // oracle) — the oracle then checks the scrub kernel match-for-match
    // on text that actually exercises all three patterns, including
    // docs with none ----
    query("q112_pii_scrub")((s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact u"), col("doc_id").cast("string"),
            lit("@ex-ample.org now"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 1,
          concat(lit(" call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" today"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 2,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), (col("doc_id") % 100).cast("string"),
            lit(" logged"))).otherwise(lit(""))).as("text"))
      graft.operators.Corpus.piiScrub(injected, "doc_id", "text")
    }) {
      // q112: the same injection arithmetic, then the same three
      // regexes (ASCII character classes only — the Java/RE2 common
      // subset, so Spark codegen and DuckDB agree match-for-match) with
      // 'g' replacement; counts on the pre-scrub text.
      val (em, ph, ip) = (graft.operators.Corpus.EmailPattern,
        graft.operators.Corpus.PhonePattern,
        graft.operators.Corpus.Ipv4Pattern)
      s"""WITH injected AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' contact u' ||
         |      CAST(doc_id AS VARCHAR) || '@ex-ample.org now' ELSE '' END ||
         |    CASE WHEN doc_id % 4 = 1 THEN ' call +1-555-' ||
         |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 2 THEN ' from 10.' ||
         |      CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
         |      CAST(doc_id % 100 AS VARCHAR) || ' logged' ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$em', '<EMAIL>', 'g'),
         |    '$ph', '<PHONE>', 'g'),
         |    '$ip', '<IP>', 'g') AS clean_text,
         |  len(regexp_extract_all(text, '$em')) AS n_emails,
         |  len(regexp_extract_all(text, '$ph')) AS n_phones,
         |  len(regexp_extract_all(text, '$ip')) AS n_ips
         |FROM injected""".stripMargin
    }
  )
}
