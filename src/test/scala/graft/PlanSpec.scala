package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import graft.sources.Staging

/** Physical-plan shape assertions — the 100 TB design intent, pinned:
  * filters reach the parquet scan, small sides broadcast, aggregates
  * hash (not sort), per-row math stays inside whole-stage codegen.
  * A regression here can pass every value test and still be 100× slower
  * at scale. */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val t1 = Timestamp.valueOf("2021-01-01 00:00:00")

  private def weights = Seq((1L, 0, 0, 0.5), (1L, 1, 0, 0.5))
    .toDF("fid", "i", "j", "wght")
  private def grid = Seq((t1, 0, 0, 1.0), (t1, 1, 0, 2.0))
    .toDF("time", "i", "j", "v")

  test("weighted mean: broadcast hash join + hash aggregate, no sort-merge") {
    val p = plan(graft.operators.WeightedMean(grid, weights, Seq("v")))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("weighted mean SortMerge strategy: sort-merge join, weight side never broadcast") {
    // the huge-weight-table path (10⁷ features → 10⁸ weight rows):
    // forced sort-merge regardless of the (here tiny) table size
    val p = plan(graft.operators.WeightedMean(grid, weights, Seq("v"),
      strategy = graft.operators.WeightJoin.SortMerge))
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("weighted mean Auto: flips to sort-merge when weights exceed the broadcast threshold") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val p = plan(graft.operators.WeightedMean(grid, weights, Seq("v")))
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("BroadcastHashJoin"), p)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("weighted mean preCombine: per-cell pre-aggregation sits BELOW the broadcast join") {
    // the q103 shape: a grid with several rows per (time, i, j) cell
    // must collapse to per-cell sums BEFORE the weight join, or the
    // join output multiplies by the duplication factor (9.6 -> 2.2 s
    // at sf0.1 when this held). Pin: two HashAggregate pairs with the
    // BroadcastHashJoin between them, join still broadcast.
    val dup = grid.unionAll(grid) // 2 rows per cell
    val p = plan(graft.operators.WeightedMean(
      dup, weights, Seq("v"), preCombine = true))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val joinAt = p.indexOf("BroadcastHashJoin")
    val preAggBelow = p.indexOf("HashAggregate", joinAt)
    assert(preAggBelow > 0,
      s"no per-cell HashAggregate below the broadcast join:\n$p")
  }

  test("NN argmin: hash aggregates only — the SortAggregate regression guard") {
    val miss = Seq((1L, 0.0, 0.0)).toDF("fid", "lat", "lon")
    val donors = Seq((2L, 1.0, 1.0), (3L, 2.0, 2.0)).toDF("fid", "lat", "lon")
    val p = plan(graft.operators.FillMissing.nearestMapping(miss, donors))
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("fillSeries: donor broadcast bounded by a mapping-derived semi-join") {
    val ts = Seq((1L, t1, Option(1.0)), (2L, t1, Option.empty[Double]),
      (3L, t1, Option(3.0))).toDF("fid", "time", "v")
    val mapping = Seq((2L, 3L)).toDF("miss_fid", "fill_fid")
    val p = plan(graft.operators.FillMissing.fillSeries(ts, mapping, Seq("v")))
    // the donor projection must be pre-filtered by the mapping's fill_fids
    // (LeftSemi) before it is broadcast — the 100× scale guard
    assert(p.contains("LeftSemi"), p)
  }

  test("filter + projection push down to the parquet scan") {
    val dir = Staging.scratchDir("graft-plan").toString
    Seq((1L, 10.0, "x"), (2L, -5.0, "y")).toDF("k", "v", "s")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).filter($"v" > 0).select("k", "v")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(v), GreaterThan(v,0.0)"), p)
    assert(p.contains("ReadSchema: struct<k:bigint,v:double>"), p)
  }

  test("portable_hash and fold_dot run inside whole-stage codegen") {
    import graft.functions.PortableHash.portable_hash
    import graft.functions.VecFunctions.foldDot
    // parquet-backed input: a local relation would be constant-folded
    // into a LocalTableScan with no codegen stage to observe
    val dir = Staging.scratchDir("graft-cg").toString
    Seq(("abc", Seq(1.0f, 2.0f))).toDF("s", "v")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(portable_hash($"s").as("h"), foldDot($"v", $"v").as("d"))
    assert(df.as[(Long, Double)].head() ==
      (("abc".getBytes.foldLeft(0L)((h, b) => (h * 31 + b) % 1000000007L), 5.0)))
    // `*(n)` marks operators inside WholeStageCodegen stage n — the
    // Project carrying both custom expressions must be codegen'd
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l =>
      l.contains("*(") && l.contains("portable_hash") && l.contains("fold_dot")), p)
  }

  test("IVF top-k: corpus never shuffles or broadcasts — query-side exchanges only") {
    val dir = Staging.scratchDir("graft-ivf-plan").toString
    (0 until 200).map(i => (i.toLong, Seq.tabulate(8)(d => (i % 7 + d).toFloat)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val df = graft.operators.Similarity.ivfTopK(
      corpus, corpus.filter($"vec_id" < 4), k = 3, nLists = 4, nProbe = 2)
    val p = plan(df)
    // exactly two broadcasts: the tiny probe table (|Q|·nProbe rows)
    // and the list-share guard's ONE-ROW stats scalar — round 1
    // broadcast a one-row-per-corpus-vector argmin table
    assert("BroadcastExchange".r.findAllIn(p).size == 2, p)
    // data shuffles hash-partition by q_id (probe-rank + final-rank
    // windows); the only corpus-side exchange is the guard's sampled
    // cid-COUNT aggregate (1/16 of rows, count-only columns) — the
    // corpus list rows themselves are a pure map over their scan
    val shuffles = "hashpartitioning\\(([A-Za-z_]+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(shuffles.sorted == Seq("cid", "q_id", "q_id"), p)
    // every window is partitioned — a global window would single-task
    // the corpus (partitioned Window prints 3 bracket groups: exprs,
    // partition spec, order spec)
    p.linesIterator.filter(_.contains("Window [")).foreach { l =>
      assert("\\], \\[".r.findAllIn(l).size >= 2, l)
    }
  }

  test("exact dedup: exchange keyed on (xxhash64, length), not document text") {
    val dir = Staging.scratchDir("graft-dedup-plan").toString
    (1 to 50).map(i => (i.toLong, s"document body $i"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val p = plan(graft.operators.Dedup.exact(
      spark.read.parquet(dir), "doc_id", "text"))
    assert(p.contains("xxhash64"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    // the aggregate keys are the hash and length — text appears only
    // below the partial aggregate (as the hash input), never as a key
    val keyLists = "HashAggregate\\(keys=\\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keyLists.nonEmpty && keyLists.forall(k => !k.contains("text#")), p)
  }

  test("blocked simhash pairs: hash equi-join, no nested-loop product") {
    val dir = Staging.scratchDir("graft-sim-plan").toString
    (1 to 50).map(i => (i.toLong, s"some words repeated $i times over"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val p = plan(graft.operators.Dedup.simhashPairsBlocked(
      spark.read.parquet(dir), "doc_id", "text", maxHamming = 3))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // and no distinct re-aggregation of the joined pairs: the
    // first-matching-band filter dedups per-row
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0 && !p.substring(0, joinIdx).contains("HashAggregate"), p)
  }

  test("ngram jaccard hot path: legs exchange on (blk, h, SALT)") {
    val dir = Staging.scratchDir("graft-salt-plan").toString
    (1 to 50).map(i => (i.toLong, "en", s"common phrase here $i"))
      .toDF("doc_id", "lang", "text").write.mode("overwrite").parquet(dir)
    // hotDf=0 → every shingle hot → the salted legs must re-shuffle on
    // the salt, or every salt of a key collapses back into one reducer
    // (the (blk,h) partitioning already satisfies the join requirement,
    // so only an explicit repartition forces the spread)
    val p = plan(graft.operators.Dedup.ngramJaccardPairs(
      spark.read.parquet(dir), "doc_id", "text", "lang", 2, 0.3,
      hotDf = 0, salts = 4))
    assert("hashpartitioning\\(blk[^)]*salt".r.findFirstIn(p).isDefined, p)
  }

  test("ngram jaccard: both self-join legs reuse ONE postings exchange") {
    val dir = Staging.scratchDir("graft-ngram-plan").toString
    (1 to 50).map(i => (i.toLong, "en", s"shared vocabulary words $i and more"))
      .toDF("doc_id", "lang", "text").write.mode("overwrite").parquet(dir)
    val df = graft.operators.Dedup.ngramJaccardPairs(
      spark.read.parquet(dir), "doc_id", "text", "lang", 2, 0.3)
    // exchange reuse is an AQE runtime decision: execute THIS
    // queryExecution (collect mutates the adaptive plan in place), then
    // inspect the final plan — the identical postings exchange below
    // both legs must appear once, its twin replaced by a reuse node
    df.collect()
    val p = plan(df)
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      "REPARTITION_BY_COL".r.findAllIn(p).size == 1, p)
  }

  test("LSH near-dup: bucket equi-join, never a nested-loop pair scan") {
    val dir = Staging.scratchDir("graft-lshnd-plan").toString
    (0 until 60).map(i => (i.toLong, Seq.tabulate(8)(d => ((i + d) % 5).toFloat)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val p = plan(graft.operators.Similarity.nearDupPairsLsh(
      spark.read.parquet(dir), threshold = 0.5, nPlanes = 4))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join [bucket") || p.contains("bucket"), p)
  }

  test("pipeline keeps the weight join broadcast at every stage") {
    val features = Seq((1L, 40.0, -99.5, -101.0, 39.0, -99.0, 41.0))
      .toDF("fid", "lat", "lon", "minx", "miny", "maxx", "maxy")
    val g = Seq((t1, 0, 0, 40.0, -100.0, 285.0, 275.0, 1.0, 80.0, 40.0, 3.0))
      .toDF("time", "j", "i", "lat", "lon", "tmmx", "tmmn", "pr", "rmax", "rmin", "vs")
    val p = plan(graft.etl.GridmetPipeline.gridmet(
      g, weights, features, start = "2021-01-01", end = "2021-01-02"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("semDedup: cid equi-join, never a nested-loop pair scan") {
    val corpus = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = IndexedSeq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
    val p = plan(graft.operators.Similarity.semDedup(corpus, cents, 0.9))
    // the skew guard is ONE allowed 1-row broadcast cross join (its
    // build side is the aggregated max/total scalar row); the PAIR
    // stage itself must stay hash equi-joins — so at most one nested-
    // loop node, and it must be the guard's (build side an Aggregate)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("concatChunks: exactly one data exchange (the shard key)") {
    val d = Seq((1L, 5L), (2L, 7L)).toDF("id", "toks")
    val p = plan(graft.operators.Packing.concatChunks(
      d, $"id", $"toks", contextLen = 10, nShards = 4))
    // one hashpartitioning exchange feeds the per-shard window sort;
    // a second exchange would mean the packing re-shuffles its output
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("packTokenChunks: exchanges carry document slices, not tokens") {
    val d = Seq((1L, Seq(1, 2, 3)), (2L, Seq(4, 5, 6, 7, 8)))
      .toDF("id", "ids")
    val df = graft.operators.Packing.packTokenChunks(
      d, $"id", $"ids", contextLen = 4, nShards = 2)
    val p = plan(df)
    // ONE hash exchange total: the shard partitioning that feeds the
    // offset window ALSO satisfies the (shard, chunk_id) group-by's
    // distribution (a shard-partitioned stream co-locates every chunk
    // group), so the slice explode and the reassembly aggregate run
    // exchange-free on top of it — token bytes cross the wire exactly
    // once, keyed by shard, never as a row per token
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // the explode (Generate) sits above that exchange: what it emits
    // are per-(doc, chunk) slice structs, consumed in place
    assert(p.contains("Generate"), p)
    assert(p.contains("Window"), p)
  }

  test("sketch + exact distinct: no sketch buffers keyed by the distinct column") {
    // the q64 composition rule: a duplicate-insensitive sketch mixed
    // with countDistinct in ONE aggregate makes Spark group by
    // (keys, distinct-col) first, allocating and SHUFFLING a sketch
    // buffer per distinct-key group. distinct-then-sketch keeps sketch
    // buffers only for the final groups — pin: every ObjectHashAggregate
    // in the plan groups on [g] alone, never on the distinct key k.
    import graft.functions.HllDistinct.hll_distinct
    import graft.functions.PortableHash.portable_hash
    val df = Seq((1, 10L), (1, 10L), (2, 20L)).toDF("g", "k")
      .distinct()
      .select($"g", $"k", portable_hash($"k".cast("string")).as("h"))
      .groupBy($"g")
      .agg(hll_distinct($"h").as("est"), count($"k").as("exact"))
    val p = plan(df)
    assert(p.contains("ObjectHashAggregate"), p)
    val objKeys = raw"ObjectHashAggregate\(keys=\[([^\]]*)\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(objKeys.nonEmpty, p)
    objKeys.foreach { ks =>
      assert(!ks.contains("k#"),
        s"sketch buffers keyed by the distinct column: keys=[$ks]\n$p")
    }
  }

  test("pair-verify joins: acceptance predicate rides in the join condition") {
    // the round-10 relocation: a candidate that fails the verify must
    // be rejected during the hash probe, never materializing an output
    // row carrying both payloads. Pin: the popcount/verify expression
    // appears on the Join operator's own line, and no Filter above the
    // join re-derives it.
    val docs = Seq((1L, "en", "a b c d"), (2L, "en", "a b c e"))
      .toDF("doc_id", "lang", "text")
    val p = plan(graft.operators.Dedup.ngramJaccardPairsBitmap(
      docs, "doc_id", "text", "lang", n = 2, threshold = 0.4))
    val joinLine = p.linesIterator.find(l =>
      l.contains("Join") && l.contains("bitmap_and_count"))
    assert(joinLine.isDefined,
      s"bitmap verify not in a join condition:\n$p")
    val filterLines = p.linesIterator.filter(_.trim.matches("^[+:\\-\\s]*Filter .*"))
    filterLines.foreach { l =>
      assert(!l.contains("bitmap_and_count"),
        s"verify predicate re-applied as a post-join Filter:\n$p")
    }
  }

  test("sparse classifier features: the build is one scan-side projection, zero Exchange") {
    // the round-15 kernel (HashedBow) exists to DELETE the explode →
    // groupBy(id, j) → collect_list build (37.8 GB of measured spill
    // at 1M docs × dim 2^18); the 100 TB shape is "one read of the
    // corpus". Pin: no Exchange, no Aggregate, the kernel in a Project.
    // parquet-backed input: a local Seq relation constant-folds the
    // whole projection away and pins nothing
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("label", col("lang") === "en")
    val p = plan(graft.operators.Classifier.hashedFeaturesSparse(
      docs, "doc_id", "text", col("label"), dim = 1 << 18))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Aggregate"), p)
    assert(p.contains("hashed_bow"), p)
  }

  test("round-15 narrow maps: dpoPairPack / ul2Mix / entropySignals / needleInsert are zero-Exchange") {
    // each of these is per-row array arithmetic whose 100 TB shape is
    // "one read of the input"; an Exchange appearing is a regression.
    // parquet-backed input (a local Seq constant-folds to nothing).
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val ids = org.apache.spark.sql.functions.transform(
      org.apache.spark.sql.functions.filter(
        split(col("text"), " "), w => w =!= ""),
      w => graft.functions.PortableHash.portable_hash(w).cast("int"))
    val tok = docs.select(col("doc_id"), ids.as("ids"))
    val pairs = tok.select(col("doc_id").as("id"),
      col("ids").as("p"), col("ids").as("c"), col("ids").as("r"))
    Seq(
      "dpoPairPack" -> plan(graft.operators.Packing.dpoPairPack(pairs,
        col("id"), col("p"), col("c"), col("r"), 64, 4)),
      "ul2Mix" -> plan(graft.operators.Packing.ul2Mix(tok,
        col("doc_id"), col("ids"), seed = 7L)),
      "entropySignals" -> plan(graft.operators.Corpus.entropySignals(
        docs, "doc_id", "text")),
      "needleInsert" -> plan(graft.operators.Packing.needleInsert(tok,
        col("doc_id"), col("ids"), Seq(1, 2, 3), Seq(0, 50, 100)))
    ).foreach { case (name, p) =>
      assert(!p.contains("Exchange"), s"$name shuffles:\n$p")
    }
  }

  test("distinct-n sketch: ONE aggregate pair per n-leg, no per-gram exchange") {
    // the sketch's whole point: distinct counting via O(k) KMV buffers
    // means NO (source, gram) shuffle — each n-leg is partial agg →
    // one source-keyed exchange → final agg. A Sort or an extra
    // repartition appearing is the 42 GB regression coming back.
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.operators.Corpus.distinctNgramRatiosSketch(
      docs, "doc_id", "text", "source", ns = Seq(1, 2)))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"want 1 source-keyed exchange per leg:\n$p")
    assert(!p.contains("Sort "), s"sketch panel must not sort:\n$p")
    assert(p.contains("kmv_distinct"), p)
  }

  test("pruned trigram KN: left_anti miss split + shuffle_hash probe, no sort-merge on corpus keys") {
    // the backoff split's contract: hits via an inner shuffle_hash
    // join, misses via left_anti on the same keys, backoff re-score
    // through two more hash joins — an SMJ appearing on the
    // corpus-scale probe stream means the pair stream is being
    // SORTED (the measured 20 GB regression class).
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.operators.Corpus.knTrigramScore(
      docs, "doc_id", "text", minCount = 2))
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.toLowerCase.contains("leftanti"), s"miss split missing:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus stream sorted:\n$p")
  }

  test("pruned trigram KN: bounded branch engages at the size threshold, explicit conf wins") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val conf = spark.conf
    // default threshold (256 MiB): verify-scale input stays materialized
    assert(!graft.operators.Corpus.knBoundedSwitch(docs, minCount = 2))
    try {
      // at the threshold: bounded engages
      conf.set("spark.graft.kn.boundedBuildThresholdBytes", "1")
      assert(graft.operators.Corpus.knBoundedSwitch(docs, minCount = 2))
      // unpruned models never take it — no bounded table to buy
      assert(!graft.operators.Corpus.knBoundedSwitch(docs, minCount = 1))
      // explicit conf wins over the threshold, both directions
      conf.set("spark.graft.kn.boundedBuild", "false")
      assert(!graft.operators.Corpus.knBoundedSwitch(docs, minCount = 2))
      conf.set("spark.graft.kn.boundedBuild", "true")
      conf.set("spark.graft.kn.boundedBuildThresholdBytes",
        Long.MaxValue.toString)
      assert(graft.operators.Corpus.knBoundedSwitch(docs, minCount = 2))
    } finally {
      conf.unset("spark.graft.kn.boundedBuild")
      conf.unset("spark.graft.kn.boundedBuildThresholdBytes")
    }
  }

  test("bradley-terry: fold branch is join-free, forced join branch iterates distributed") {
    // the size-gate analogue of the KN bounded-branch pin: the fold
    // form's returned plan must hold the whole MM trajectory as
    // array projections (no Join operators at all), while the
    // conf-forced join form must keep the per-round distributed joins
    // — at 100× pair tables that branch is the one that still runs
    val g = (1L to 50L).map(i => (i % 5, (i * 3) % 7))
      .filter { case (w, l) => w != l }.toDF("w", "l")
    val conf = spark.conf
    try {
      // equi-join operators are what the per-round iteration pays; the
      // fold's one crossJoin of two single-row aggregates (nested-loop)
      // is construction, not iteration
      val equiJoins = Seq("SortMergeJoin", "ShuffledHashJoin",
        "BroadcastHashJoin")
      conf.set("spark.graft.bt.fold", "true")
      val pFold = plan(graft.operators.Classifier.bradleyTerry(
        g, col("w"), col("l")))
      assert(!equiJoins.exists(pFold.contains),
        s"fold branch must be equi-join-free:\n$pFold")
      conf.set("spark.graft.bt.fold", "false")
      val pJoin = plan(graft.operators.Classifier.bradleyTerry(
        g, col("w"), col("l")))
      assert(equiJoins.exists(pJoin.contains),
        s"join branch lost its joins:\n$pJoin")
    } finally conf.unset("spark.graft.bt.fold")
  }

  test("pruned trigram KN bounded branch: model tables pre-materialized, probe plan free of model re-aggregation") {
    // the bounded build's contract: the pruned x-table base and the
    // bigram-type-bounded derived tables are EAGER checkpoints, so the
    // probe-side plan scans finished RDDs — a HashAggregate re-deriving
    // trigram counts INSIDE the probe plan means the checkpoints
    // stopped engaging and corpus-sized state pins again.
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val conf = spark.conf
    conf.set("spark.graft.kn.boundedBuild", "true")
    try {
      val p = plan(graft.operators.Corpus.knTrigramScore(
        docs, "doc_id", "text", minCount = 2))
      assert(p.contains("ExistingRDD"),
        s"bounded build must leave checkpointed model leaves:\n$p")
      // the probe keeps its hit/miss split shape under the branch
      assert(p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), s"corpus stream sorted:\n$p")
    } finally conf.unset("spark.graft.kn.boundedBuild")
  }

  test("inContextOrder: blocked rank — no single window partitioned by cluster alone") {
    // the megacluster guard: the within-cluster rank must ride the
    // two-level form, so every window partitions by (cluster, block)
    // — a window spec on the bare cluster key is the reducer pin.
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        (col("doc_id") % 7).cast("long").as("cl"))
    val p = plan(graft.operators.Packing.inContextOrder(
      docs, col("doc_id"), col("cl"), seed = 7L, nShards = 4))
    // rankByHash's local window keys: cluster AND __rb
    assert(p.contains("__rb"), s"two-level rank not engaged:\n$p")
  }
}
