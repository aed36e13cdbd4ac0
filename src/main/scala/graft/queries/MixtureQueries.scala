package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.functions.TextFunctions

import Shared._

/** Data mixtures and preference data: splits, source and temperature
  * sampling, DoReMi reweighting, Bradley–Terry strengths, best-of-n and
  * GRPO advantages. */
object MixtureQueries extends QueryFamily("mixture") {

  /** q167's oracle chain — per-source mean nll over [[lmScoreSql]],
    * then 8 DoReMi EG rounds — as a def (the classifierChainSql
    * convention) so q172's mixture application composes the IDENTICAL
    * trajectory. Emits the WITH-fragment ending in CTEs `a8`
    * (domain, n_docs, loss, alpha) and `dc` (d = |domains|). Per-round
    * CTEs are MATERIALIZED, mirroring the engine's per-round
    * checkpoint — each round references the last three times, so
    * DuckDB's CTE inlining would otherwise build a 3⁸-node plan. */
  private def doremiChainSql: String = {
    def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
    def iter(k: Int): String = {
      val mixSum = r6("CAST(sum(CAST(" + r6("alpha*loss") +
        " AS DECIMAL(28,6))) AS DOUBLE)")
      val w = r6("alpha * exp(0.5 * " +
        r6("greatest(0.0, " + r6("loss - mix") + ")") + ")")
      s"""mx$k AS (SELECT $mixSum AS mix FROM a${k - 1}),
         |u$k AS MATERIALIZED (SELECT domain, n_docs, loss, $w AS w
         |  FROM a${k - 1} CROSS JOIN mx$k),
         |z$k AS (SELECT ${r6(
             "CAST(sum(CAST(w AS DECIMAL(28,6))) AS DOUBLE)")} AS z
         |  FROM u$k),
         |a$k AS MATERIALIZED (SELECT domain, n_docs, loss,
         |    ${r6("w / z")} AS alpha
         |  FROM u$k CROSS JOIN z$k)""".stripMargin
    }
    s"""scored AS ($lmScoreSql),
       |sj AS (SELECT s.nll, d.source
       |  FROM scored s JOIN documents d USING (doc_id)),
       |dm AS MATERIALIZED (SELECT source AS domain,
       |    count(*) AS n_docs,
       |    ${r6("CAST(sum(CAST(nll AS DECIMAL(28,6))) AS DOUBLE)" +
             " / CAST(count(*) AS DOUBLE)")} AS loss
       |  FROM sj GROUP BY 1),
       |dc AS (SELECT CAST(count(*) AS DOUBLE) AS d FROM dm),
       |a0 AS (SELECT domain, n_docs, loss, ${r6("1.0 / d")} AS alpha
       |  FROM dm CROSS JOIN dc),
       |${(1 to 8).map(iter).mkString(",\n")}""".stripMargin
  }

  /** q176's oracle chain — the synthetic comparison stream and the
    * 8-round MM fit — as a def so q177's calibration eval reads the
    * IDENTICAL strengths. Emits the WITH-fragment ending in CTEs `g`
    * (w, l), `orient` (i, j, n), `it` (item, wins), `gp`
    * (item, games), `s8` (item, s). Per-round CTEs MATERIALIZED (the
    * doremiChainSql inlining discipline). */
  private def btChainSql: String = {
    def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
    def iter(k: Int): String = {
      val term = r6("CAST(o.n AS DOUBLE) / (si.s + sj.s)")
      s"""dn$k AS (SELECT o.i AS item,
         |    ${r6("CAST(sum(CAST(" + term +
             " AS DECIMAL(28,6))) AS DOUBLE)")} AS den
         |  FROM orient o
         |  JOIN s${k - 1} si ON o.i = si.item
         |  JOIN s${k - 1} sj ON o.j = sj.item GROUP BY 1),
         |rw$k AS MATERIALIZED (SELECT it.item, it.wins,
         |    CASE WHEN dn.den > 0.0
         |         THEN ${r6("CAST(it.wins AS DOUBLE) / dn.den")}
         |         ELSE 0.0 END AS raw
         |  FROM it LEFT JOIN dn$k dn USING (item)),
         |tt$k AS (SELECT ${r6(
             "CAST(sum(CAST(raw AS DECIMAL(28,6))) AS DOUBLE)")} AS tot
         |  FROM rw$k),
         |s$k AS MATERIALIZED (SELECT item, ${r6("(raw * d) / tot")} AS s
         |  FROM rw$k CROSS JOIN tt$k CROSS JOIN ic)""".stripMargin
    }
    s"""g AS (SELECT doc_id % 5 AS w, (doc_id // 3) % 5 AS l
       |  FROM documents WHERE doc_id % 5 <> (doc_id // 3) % 5),
       |wn AS (SELECT w AS item, count(*) AS wins FROM g GROUP BY 1),
       |pr AS MATERIALIZED (SELECT least(w, l) AS a,
       |    greatest(w, l) AS b, count(*) AS n FROM g GROUP BY 1, 2),
       |orient AS MATERIALIZED (SELECT a AS i, b AS j, n FROM pr
       |  UNION ALL SELECT b, a, n FROM pr),
       |it AS MATERIALIZED (SELECT di.i AS item,
       |    coalesce(wn.wins, 0) AS wins
       |  FROM (SELECT DISTINCT i FROM orient) di
       |  LEFT JOIN wn ON di.i = wn.item),
       |gp AS (SELECT i AS item, CAST(sum(n) AS BIGINT) AS games
       |  FROM orient GROUP BY 1),
       |ic AS (SELECT CAST(count(*) AS DOUBLE) AS d FROM it),
       |s0 AS (SELECT item, ${r6("1.0")} AS s FROM it),
       |${(1 to 8).map(iter).mkString(",\n")}""".stripMargin
  }

  /** The Bradley–Terry MM oracle, shared VERBATIM by q176 (size-gated
    * fold branch at verify scale) and q186 (conf-forced join-form
    * branch): the fold/join switch is a plan decision only — same
    * round6 steps over the same order-free decimal-exact sums — so one
    * oracle checking both queries IS the branch-identity proof the
    * verify surface needs (Classifier.btFoldSwitch,
    * `spark.graft.bt.fold`; the KnTrigramPrunedOracle convention). */
  private lazy val BradleyTerryOracle: String =
    s"""WITH $btChainSql
       |SELECT it.item AS model_id, CAST(it.wins AS BIGINT) AS wins,
       |  gp.games, s8.s AS strength
       |FROM it JOIN gp USING (item) JOIN s8 USING (item)""".stripMargin

  val all: Seq[Query] = Seq(
    // ---- DoReMi-shape domain reweighting (Xie et al. 2023): per-doc
    // losses from the q75 unigram LM roll up to per-source means, then
    // 8 Group-DRO exponentiated-gradient rounds against the α-weighted
    // mixture loss, uniform-smoothed — every scalar step round6 so the
    // oracle unrolls the identical trajectory ----
    query("q167_doremi_reweight")((s, dir) => {
      val scored = graft.operators.Corpus.lmScore(docs(s, dir),
          "doc_id", "text")
        .join(docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
      graft.operators.Sampling.doremiWeights(scored,
          col("source"), col("nll"))
        .select(col("domain").as("source"), col("n_docs"),
          col("loss"), col("weight"))
    }) {
      // q167: the EG trajectory unrolled — per-source mean nll over the
      // q75 LM (lmScoreSql shared def), then 8 rounds of
      // mix → excess → exp-update → renormalize, each scalar round6,
      // decimal-exact tiny sums (the engine's dsum), uniform smoothing.
      // The chain itself is the shared doremiChainSql def so q172's
      // composition applies the IDENTICAL trajectory.
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      s"""WITH $doremiChainSql
         |SELECT domain AS source, n_docs, loss,
         |  ${r6("0.9 * alpha + 0.1 / d")} AS weight
         |FROM a8 CROSS JOIN dc""".stripMargin
    },

    // ---- Bradley–Terry strength fitting (Hunter 2004 MM — the
    // arena-leaderboard aggregate): synthetic model comparisons
    // (winner = doc_id%5, loser = (doc_id DIV 3)%5, ties skipped),
    // 8 fixed-point rounds, strengths normalized to mean 1 ----
    query("q176_bradley_terry")((s, dir) =>
      graft.operators.Classifier.bradleyTerry(
          docs(s, dir)
            .filter(expr("doc_id % 5 <> (doc_id DIV 3) % 5"))
            .select(expr("doc_id % 5").as("w"),
              expr("(doc_id DIV 3) % 5").as("l")),
          col("w"), col("l"))
        .select(col("item").as("model_id"), col("wins"), col("games"),
          col("strength"))) {
      // q176: the MM trajectory unrolled — per-round denominator sums
      // over both orientations, raw update, mean-1 renormalize, each
      // scalar round6 and each tiny sum decimal-exact; per-round CTEs
      // MATERIALIZED (the doremiChainSql inlining discipline). The
      // chain is the shared btChainSql def so q177's calibration eval
      // reads the IDENTICAL fitted strengths.
      BradleyTerryOracle
    },

    // ---- q176 through the FORCED join-form MM branch: the size gate
    // (Classifier.btFoldSwitch) picks the one-row fold at verify scale
    // (tiny pair tables), so without this pin the oracle never
    // exercises the distributed per-round join iteration — the branch
    // the operator falls back to at 100× pair tables, where the fold's
    // single-task O(rounds·|I|·|pairs|) work breaks. The conf is read
    // at plan-construction time (btFoldSwitch runs inside
    // bradleyTerry, after the bounded item/orient counts), so
    // restoring it immediately after construction binds the branch
    // cleanly (the q185 convention) ----
    query("q186_bradley_terry_joined")((s, dir) => {
      val key = "spark.graft.bt.fold"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "false")
      try graft.operators.Classifier.bradleyTerry(
          docs(s, dir)
            .filter(expr("doc_id % 5 <> (doc_id DIV 3) % 5"))
            .select(expr("doc_id % 5").as("w"),
              expr("(doc_id DIV 3) % 5").as("l")),
          col("w"), col("l"))
        .select(col("item").as("model_id"), col("wins"), col("games"),
          col("strength"))
      finally prev match {
        case Some(p) => s.conf.set(key, p)
        case None => s.conf.unset(key)
      }
    }) {
      // q186 replays q176's oracle verbatim: the join-form MM iteration
      // is a PLAN choice only — the rows must be bit-identical to the
      // fold's (the q184/q185 shared-oracle convention).
      BradleyTerryOracle
    },

    // ---- rejection-sampling best-of-n (the RFT/Llama-2 recipe):
    // per prompt-group of 4, keep the reward-argmax above 0.3 with
    // its winner-margin; the q20 quality kernel as stub reward ----
    query("q180_best_of_n")((s, dir) => {
      val rewards = docs(s, dir).select(col("doc_id"),
        graft.functions.TextKernels.text_stats(col("text"),
          TextFunctions.LangProfiles("en")).getField("quality")
          .as("reward"))
      graft.operators.Sampling.bestOfN(rewards, col("doc_id"),
        expr("doc_id DIV 4"), col("reward"), minReward = 0.3)
    }) {
      // q180: the argmax replayed as a window — (reward DESC, id ASC)
      // rank 1 = winner, rank 2 = runner-up for the margin, floor 0.3.
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      s"""WITH q AS ($textQualitySql),
         |r AS (SELECT doc_id AS id, doc_id // 4 AS grp,
         |    quality AS reward FROM q),
         |rk AS (SELECT id, grp, reward, row_number() OVER (
         |    PARTITION BY grp ORDER BY reward DESC, id ASC) AS rn
         |  FROM r),
         |cnt AS (SELECT grp, count(*) AS n_candidates FROM r GROUP BY 1)
         |SELECT w1.id, w1.grp AS group_id, w1.reward,
         |  ${r6("w1.reward - coalesce(w2.reward, w1.reward)")} AS margin,
         |  CAST(cnt.n_candidates AS BIGINT) AS n_candidates
         |FROM rk w1
         |LEFT JOIN rk w2 ON w1.grp = w2.grp AND w2.rn = 2
         |JOIN cnt ON w1.grp = cnt.grp
         |WHERE w1.rn = 1 AND w1.reward >= 0.3""".stripMargin
    },

    // ---- BT calibration eval: the q176 strengths scored back per
    // directed pair — predicted s_w/(s_w+s_l) vs empirical win rate ----
    query("q177_bt_calibration")((s, dir) =>
      graft.operators.Classifier.btCalibration(
        docs(s, dir)
          .filter(expr("doc_id % 5 <> (doc_id DIV 3) % 5"))
          .select(expr("doc_id % 5").as("w"),
            expr("(doc_id DIV 3) % 5").as("l")),
        col("w"), col("l"))) {
      // q177: the fitted strengths (shared btChainSql) scored back
      // against the data — per directed pair, predicted s_w/(s_w+s_l)
      // vs empirical wins/games, absolute error round6.
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      s"""WITH $btChainSql,
         |dwins AS (SELECT w, l, count(*) AS n_wl FROM g GROUP BY 1, 2),
         |cal AS (SELECT dw.w AS winner, dw.l AS loser, dw.n_wl,
         |    o.n AS n_games,
         |    ${r6("CAST(dw.n_wl AS DOUBLE) / CAST(o.n AS DOUBLE)")}
         |      AS empirical,
         |    ${r6("sw.s / (sw.s + sl.s)")} AS predicted
         |  FROM dwins dw
         |  JOIN orient o ON dw.w = o.i AND dw.l = o.j
         |  JOIN s8 sw ON dw.w = sw.item
         |  JOIN s8 sl ON dw.l = sl.item)
         |SELECT winner, loser, CAST(n_wl AS BIGINT) AS n_wins,
         |  CAST(n_games AS BIGINT) AS n_games, empirical, predicted,
         |  ${r6("abs(empirical - predicted)")} AS abs_err
         |FROM cal""".stripMargin
    },

    // ---- GRPO group-relative advantage (Shao et al. 2024): docs in
    // prompt-groups of 4, the q20 quality kernel as the stub reward,
    // within-group standardized reward as the advantage ----
    query("q175_grpo_advantage")((s, dir) => {
      val rewards = docs(s, dir).select(col("doc_id"),
        graft.functions.TextKernels.text_stats(col("text"),
          TextFunctions.LangProfiles("en")).getField("quality")
          .as("reward"))
      graft.operators.Sampling.groupRelativeAdvantage(rewards,
          col("doc_id"), expr("doc_id DIV 4"), col("reward"))
        .select(col("id").as("doc_id"), col("group_id"), col("reward"),
          col("n"), col("advantage"))
    }) {
      // q175: the q20 quality reward (textQualitySql shared def) into
      // decimal-exact group stats, mean/std/advantage mirrored op-for-op
      // (mean computed ONCE and reused, as the engine does).
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      s"""WITH q AS ($textQualitySql),
         |r AS (SELECT doc_id, doc_id // 4 AS grp, quality AS reward
         |  FROM q),
         |st AS (SELECT grp, count(*) AS n,
         |    CAST(sum(CAST(reward AS DECIMAL(18,6))) AS DOUBLE) AS sr,
         |    CAST(sum(CAST(reward AS DECIMAL(18,6))
         |             * CAST(reward AS DECIMAL(18,6))) AS DOUBLE) AS sr2
         |  FROM r GROUP BY 1),
         |sj AS (SELECT r.doc_id, r.grp, r.reward, st.n,
         |    st.sr / st.n AS mean, st.sr2
         |  FROM r JOIN st USING (grp)),
         |sd AS (SELECT doc_id, grp, reward, n, mean,
         |    sqrt(greatest(0.0, sr2 / n - mean * mean)) AS std
         |  FROM sj)
         |SELECT doc_id, CAST(grp AS BIGINT) AS group_id, reward,
         |  CAST(n AS BIGINT) AS n,
         |  CASE WHEN std > 0.0 THEN ${r6("(reward - mean) / std")}
         |       ELSE 0.0 END AS advantage
         |FROM sd""".stripMargin
    },

    // ---- DoReMi weights APPLIED (the q160 composition convention at
    // mixture scope): the q167 EG trajectory's smoothed weights,
    // decimal-exact renormalized (round6 weights need not sum to 1),
    // feed mixSample's largest-achievable-at-exact-proportions
    // selection — weights learned in-engine, selection in-engine, the
    // |D|-row weight table the only driver crossing (bounded plan
    // parameter, the q167 convention) ----
    query("q172_doremi_mix_apply")((s, dir) => {
      val scored = graft.operators.Corpus.lmScore(docs(s, dir),
          "doc_id", "text")
        .join(docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
      val w = graft.operators.Sampling.doremiWeights(scored,
          col("source"), col("nll"))
        .select(col("domain"), col("weight")).collect()
        .map(r => r.getString(0) -> r.getDouble(1))
      // round6 weights sum EXACTLY in decimal (BigDecimal.valueOf via
      // Double.toString recovers the 6-dp value — same as the oracle's
      // DECIMAL(28,6) sum), then one correctly-rounded double division
      // per share mirrors the SQL exactly
      val sum = w.map { case (_, x) => BigDecimal(x) }.sum.toDouble
      val shares = w.map { case (g, x) => g -> x / sum }.toMap
      graft.operators.Sampling.mixSample(docs(s, dir), col("doc_id"),
          col("source"), shares)
        .select(col("doc_id"), col("source"))
    }) {
      // q172: the q167 chain (shared def) renormalized decimal-exact
      // into shares, then the q84 mixSample arithmetic — min(n/s)
      // feasibility, per-group floor thresholds, KMV-scrambled buckets.
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      s"""WITH $doremiChainSql,
         |w AS (SELECT domain AS g,
         |    ${r6("0.9 * alpha + 0.1 / d")} AS wgt
         |  FROM a8 CROSS JOIN dc),
         |sw AS (SELECT CAST(sum(CAST(wgt AS DECIMAL(28,6)))
         |    AS DOUBLE) AS sws FROM w),
         |shr AS (SELECT g, wgt / sws AS s FROM w CROSS JOIN sw),
         |cnt AS (SELECT source AS g, CAST(count(*) AS DOUBLE) AS n
         |  FROM documents JOIN shr ON source = g GROUP BY source),
         |nout AS (SELECT min(n / s) AS nout
         |  FROM cnt JOIN shr USING (g)),
         |thr AS (SELECT g,
         |    CAST(floor(((1000000.0 * s) * nout) / n) AS BIGINT) AS thr
         |  FROM cnt JOIN shr USING (g) CROSS JOIN nout)
         |SELECT doc_id, source FROM documents JOIN thr ON source = g
         |WHERE 1566083941 * ((${hashSql("CAST(doc_id AS VARCHAR)")}) + 1)
         |      % 1000000007 % 1000000 < thr""".stripMargin
    },

    // ---- in-context-pretraining order (Shi et al. 2023): every
    // vector assigned to its frozen-IVF list (the q135 artifact),
    // then the cluster-grouped training layout — whole clusters per
    // shard, peers pos-adjacent, seeded-hash order at both levels ----
    query("q164_incontext_order")((s, dir) =>
      graft.operators.Packing.inContextOrder(
          Similarity.ivfAssign(embs(s, dir), ivfArtifact(s, dir))
            .select(col("vec_id"), col("cid")),
          col("vec_id"), col("cid"), seed = 20260815L, nShards = 4)
        .select(col("shard"), col("pos"), col("id").as("vec_id"),
          col("cluster"))) {
      // q164: the q135/q149 frozen-IVF training+assignment chain over
      // ALL vectors, then the two-level seeded order flattened to ONE
      // window — ORDER BY (hc, cid, hd, id) is bit-identical to
      // cluster-offsets + within-cluster ranks (hc is a function of
      // cid, so clusters stay contiguous).
      val seed = 20260815L
      val hShard = hashSql(
        s"(repeat('$seed~icps:' || CAST(cid AS VARCHAR) || ';', 3))")
      val hc = hashSql(
        s"(repeat('$seed~icpc:' || CAST(cid AS VARCHAR) || ';', 3))")
      val hd = hashSql(
        s"(repeat('$seed~icpd:' || CAST(id AS VARCHAR) || ';', 3))")
      s"""WITH ea AS MATERIALIZED (SELECT vec_id AS id,
         |  list_transform(embedding, ex -> CAST(ex AS DOUBLE)) AS v
         |  FROM embeddings),
         |e AS MATERIALIZED (SELECT * FROM ea WHERE id % 2 = 0),
         |c0 AS (SELECT id AS cid, v AS c FROM e ORDER BY id LIMIT 16),
         |${ivfIterSql(1, "c0")},
         |${ivfIterSql(2, "c1")},
         |${ivfIterSql(3, "c2")},
         |sall AS (SELECT ea.id, c.cid,
         |  ${dotSql("ea.v", "c.c")} * -2.0 + ${dotSql("c.c", "c.c")} AS d2
         |  FROM ea CROSS JOIN c3 c),
         |asg AS MATERIALIZED (SELECT id, cid FROM (SELECT id, cid,
         |    row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
         |  FROM sall) WHERE rn = 1),
         |hs AS (SELECT id, cid,
         |    ($hShard) % 4 AS shard, ($hc) AS hc, ($hd) AS hd
         |  FROM asg)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY shard
         |       ORDER BY hc, cid, hd, id) - 1 AS BIGINT) AS pos,
         |  id AS vec_id, CAST(cid AS BIGINT) AS cluster
         |FROM hs""".stripMargin
    },

    // ---- deterministic train/val/test split: hash-bucket membership
    // as a computed column (no shuffle, stable as the corpus grows) ----
    query("q73_hash_split")((s, dir) =>
      graft.operators.Sampling.hashSplit(docs(s, dir), col("doc_id"),
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("chars"))) {
      s"""WITH b AS (SELECT doc_id, length(text) AS chars,
         |    ${hashSql("CAST(doc_id AS VARCHAR)")} % 100 AS bk
         |  FROM documents)
         |SELECT CASE WHEN bk < 80 THEN 'train'
         |            WHEN bk < 90 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(chars) AS BIGINT) AS chars
         |FROM b GROUP BY 1""".stripMargin
    },

    // ---- SEEDED GLOBAL SHUFFLE + SOURCE-MIX SHARDING: the training
    // ORDER of the packing surface made deterministic policy — each
    // source subsampled to its target proportion (largest
    // mix-respecting total), round-robin sharded so the mix holds PER
    // SHARD, interleaved through each shard by the seeded permutation
    // key. Pure integer/hash arithmetic end-to-end → the oracle
    // replays the whole construction including the quota math ----
    query("q115_shuffle_shards")((s, dir) =>
      graft.operators.Packing.shuffleShards(docs(s, dir), "doc_id",
          "source", seed = 20260814L, nShards = 8,
          mix = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
        .select(col("shard"), col("pos"), col("id").as("doc_id"),
          col("source"))) {
      // q115: the seeded-shuffle construction replayed end-to-end — the
      // portable-hash permutation key, per-source ranks, the
      // N = min_s floor(C_s/p_s) quota arithmetic (identical IEEE
      // double ops in both engines), round-robin shard assignment, and
      // the per-shard interleave order.
      val h = hashSql(
        "(repeat('20260814:' || CAST(doc_id AS VARCHAR) || ';', 3))")
      s"""WITH hsh AS MATERIALIZED (SELECT doc_id, source, $h AS h
         |  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
         |p AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.25),
         |                            ('src2', 0.25)) t(source, w)),
         |cnt AS (SELECT source, count(*) AS c FROM hsh GROUP BY 1),
         |tot AS (SELECT CAST(min(floor(c / w)) AS BIGINT) AS total
         |        FROM cnt JOIN p USING (source)),
         |qt AS (SELECT p.source, CAST(floor(tot.total * p.w) AS BIGINT)
         |         AS quota FROM p, tot),
         |rk AS (SELECT doc_id, source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
         |      - 1 AS r
         |  FROM hsh),
         |sel AS (SELECT rk.doc_id, rk.source, rk.h, rk.r % 8 AS shard
         |        FROM rk JOIN qt USING (source) WHERE rk.r < qt.quota)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
         |       - 1 AS BIGINT) AS pos,
         |  doc_id, source
         |FROM sel""".stripMargin
    },

    // ---- leakage-safe split: q73's hash split keyed on the q43
    // dup-cluster canonical id, so near-duplicates of a training doc
    // can never land in val/test (the contamination mode a per-doc
    // split invites) — the split-after-dedup step corpus pipelines
    // run; the aggregate proves whole clusters move together ----
    query("q125_leakage_safe_split")((s, dir) =>
      graft.operators.Sampling.leakageSafeSplit(docs(s, dir),
          col("doc_id"), dupClusters(s, dir),
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canon_id")).as("n_clusters"),
          sum(length(col("text")).cast("long")).as("chars"))) {
      // q125: the q43 transitive closure labels every doc with its
      // cluster's canonical id; the q73 bucket rule then cuts on
      // hash(canon_id) — whole clusters share a bucket by construction.
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
        |lab2 AS (SELECT d.doc_id, length(d.text) AS chars,
        |         coalesce(l.canon_id, d.doc_id) AS canon_id
        |         FROM documents d LEFT JOIN lab l USING (doc_id)),
        |b AS (SELECT doc_id, chars, canon_id,
        |    ${hashSql("CAST(canon_id AS VARCHAR)")} % 100 AS bk
        |  FROM lab2)
        |SELECT CASE WHEN bk < 80 THEN 'train'
        |            WHEN bk < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, count(DISTINCT canon_id) AS n_clusters,
        |  CAST(sum(chars) AS BIGINT) AS chars
        |FROM b GROUP BY 1""".stripMargin
    },

    // ---- TOKEN-BUDGET data selection: keep the highest-quality docs
    // (q20's rounded score, strict (quality desc, doc_id) order) while
    // the cumulative token count stays within the budget — "the best B
    // tokens", computed two-level (quantized-score block sums +
    // broadcast prefix), never one all-rows window ----
    query("q126_token_budget_select")((s, dir) => {
      val st = graft.functions.TextKernels.text_stats(col("text"),
        TextFunctions.LangProfiles("en"))
      graft.operators.Sampling.selectByTokenBudget(
          docs(s, dir).select(col("doc_id"),
            st.getField("ws_tokens").as("n"), st.getField("quality").as("q")),
          col("doc_id"), col("q"), col("n"), budget = 12000L)
        .select(col("id").as("doc_id"), col("score").as("quality"),
          col("n_tokens"), col("cum_tokens"))
    }) {
      // q126: the q20 quality formula feeds a plain global cumulative
      // window (the oracle-side form of the engine's two-level sum —
      // identical because the quantization is lossless and ties break
      // by doc_id in both).
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      val meanLen = r6("(length(text) - (CAST(len(t) AS DOUBLE) - 1))/len(t)")
      val stopR = r6("CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)/len(t)")
      s"""WITH q AS (SELECT doc_id,
         |    CAST(len(t) AS BIGINT) AS n_tokens,
         |    ${r6(s"""0.4 * least(CAST(len(t) AS DOUBLE)/200.0, 1.0)
         |        + 0.3 * least($meanLen/8.0, 1.0)
         |        + 0.3 * least($stopR*5.0, 1.0)""")} AS quality
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t
         |        FROM documents)),
         |c AS (SELECT doc_id, quality, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_tokens
         |  FROM q)
         |SELECT doc_id, quality, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= 12000""".stripMargin
    },

    // ---- TEMPERATURE (power-law) source sampling — the mT5/XLM-R
    // reweighting: each source contributes floor(k · C_s^0.5) docs in
    // the seeded permutation order, flattening source imbalance (the
    // skewed big/mid/small classes derived from doc_id make the
    // flattening visible: the small class's selected SHARE rises).
    // α = 0.5 ⇒ sqrt, correctly rounded IEEE in both engines, so the
    // oracle replays the quota arithmetic bit-for-bit ----
    query("q117_temperature_sample")((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 16 < 12, lit("big"))
          .when(col("doc_id") % 16 < 15, lit("mid"))
          .otherwise(lit("small")).as("src"))
      graft.operators.Sampling.temperatureSample(d, "doc_id", "src",
          alpha = 0.5, unitBudget = 3.0, seed = 7L)
        .select(col("id").as("doc_id"), col("source"), col("pos"))
    }) {
      // q117: the temperature-sampling construction replayed — the
      // seeded permutation key, per-source sqrt quotas (no cross-source
      // FP sum anywhere, so floor(k·sqrt(C)) is bit-identical), rank
      // selection.
      val h = hashSql("(repeat('7:' || CAST(doc_id AS VARCHAR) || ';', 3))")
      s"""WITH d AS (SELECT doc_id,
         |    CASE WHEN doc_id % 16 < 12 THEN 'big'
         |         WHEN doc_id % 16 < 15 THEN 'mid'
         |         ELSE 'small' END AS source
         |  FROM documents),
         |cnt AS (SELECT source, count(*) AS c FROM d GROUP BY 1),
         |qt AS (SELECT source, CAST(floor(3.0 * sqrt(c)) AS BIGINT)
         |         AS quota FROM cnt),
         |hs AS MATERIALIZED (SELECT doc_id, source, $h AS h FROM d),
         |rk AS (SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
         |      - 1 AS r
         |  FROM hs)
         |SELECT doc_id, source, CAST(r AS BIGINT) AS pos
         |FROM rk JOIN qt USING (source) WHERE r < quota""".stripMargin
    }
  )
}
