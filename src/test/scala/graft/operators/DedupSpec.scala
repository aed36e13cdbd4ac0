package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.sources.Staging

/** Dedup family: exact, MinHash+LSH, SimHash, n-gram Jaccard. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docsDF = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (4L, "completely different text with nothing shared here at all"),
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup keeps smallest id and counts copies") {
    val out = Dedup.exact(docsDF, "doc_id", "text")
      .orderBy("keep_id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L), (2L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("incrementalExact admits only corpus-new, first-in-batch docs") {
    val corpus = Seq(
      (10L, "already accepted one"),
      (11L, "already accepted two")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "already accepted one"),   // dup of corpus → rejected
      (21L, "brand new document"),     // in-batch dup of 19 → rejected
      (22L, "brand new document"),     // in-batch dup of 19 → rejected
      (23L, "another new one"),        // admitted
      (19L, "brand new document")      // SMALLEST id of its text → admitted
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(corpus, batch, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(19L, 23L))
    // all incoming columns survive
    assert(Dedup.incrementalExact(corpus, batch, "doc_id", "text")
      .columns.toSeq === batch.columns.toSeq)
    // empty corpus degenerates to within-batch exact dedup (min id)
    val solo = Dedup.incrementalExact(corpus.limit(0), batch, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(solo.toSeq === Seq(19L, 20L, 23L))
  }

  test("admitIncrement: persisted fingerprints reject batch-1 survivors in batch 2") {
    val state = Staging.scratchDir("graft-dedup-state").resolve("fp").toString
    val b1 = Seq(
      (1L, "first doc"), (2L, "second doc"), (3L, "first doc") // 3 = dup of 1
    ).toDF("doc_id", "text")
    val a1 = Dedup.admitIncrement(state, b1, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(a1.toSeq === Seq(1L, 2L))
    // batch 2: dups of batch-1 SURVIVORS rejected via the grown state,
    // fresh text admitted, in-batch dup election still applies
    val b2 = Seq(
      (10L, "first doc"),    // rejected: fingerprint persisted by run 1
      (11L, "third doc"),    // admitted
      (12L, "third doc")     // rejected: in-batch dup of 11
    ).toDF("doc_id", "text")
    val a2 = Dedup.admitIncrement(state, b2, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(a2.toSeq === Seq(11L))
    // the state grew by exactly the admitted fingerprints: 2 + 1
    assert(spark.read.parquet(state).count() === 3L)
    // a third run with an already-seen batch admits nothing
    assert(Dedup.admitIncrement(state, b1, "doc_id", "text").count() === 0L)
  }

  test("admitIncrement: output persistence runs BEFORE the state append (crash ordering)") {
    val state = Staging.scratchDir("graft-dedup-crash").resolve("fp").toString
    val batch = Seq((1L, "doc a"), (2L, "doc b")).toDF("doc_id", "text")
    // a crash DURING the output write must leave the state un-grown —
    // the recoverable failure order (re-run re-admits identically);
    // the reverse order would silently drop the batch on re-run
    var sawRows = -1L
    intercept[RuntimeException] {
      Dedup.admitIncrement(state, batch, "doc_id", "text",
        persistAdmitted = { df =>
          sawRows = df.count()
          throw new RuntimeException("simulated sink crash")
        })
    }
    assert(sawRows === 2L) // the admitted batch reached the sink hook
    val fs = new org.apache.hadoop.fs.Path(state).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state)),
      "fingerprint state must not be appended when the output write fails")
    // recovery = re-run: the same batch is admitted identically
    val rerun = Dedup.admitIncrement(state, batch, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(rerun.toSeq === Seq(1L, 2L))
    assert(spark.read.parquet(state).count() === 2L)
  }

  test("admitIncrement crash AFTER durable output: re-run duplicates the sink rows and nothing else") {
    // the exact crash window the scaladoc contract is about: the
    // caller's output write COMPLETED durably, the crash hit before
    // the fingerprint append. Recovery = re-run the batch: admission
    // is deterministic given (state, batch), so the same rows admit,
    // the sink gains an at-least-once DUPLICATE of the batch — and
    // that duplicate must be the ONLY effect (state ends identical to
    // a crash-free run; no row lost, none invented).
    val base = Staging.scratchDir("graft-dedup-crash2")
    val state = base.resolve("fp").toString
    val outDir = base.resolve("out").toString
    val batch = Seq((1L, "doc a"), (2L, "doc b"), (3L, "doc a"))
      .toDF("doc_id", "text") // 3 = in-batch dup, admitted set = {1, 2}
    def persistThenCrash(df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(outDir)
      throw new RuntimeException("simulated crash after durable output")
    }
    intercept[RuntimeException] {
      Dedup.admitIncrement(state, batch, "doc_id", "text", persistThenCrash)
    }
    // output written, state un-grown — the recoverable half-state
    assert(spark.read.parquet(outDir).count() === 2L)
    val fs = new org.apache.hadoop.fs.Path(state).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state)))
    // recovery re-run with the normal (non-crashing) sink
    val rerun = Dedup.admitIncrement(state, batch, "doc_id", "text",
      persistAdmitted = _.write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(outDir))
    assert(rerun.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // the sink holds exactly ONE duplicate of the admitted batch …
    val sunk = spark.read.parquet(outDir).groupBy("doc_id", "text").count()
    assert(rows(sunk) == Set(Seq[Any](1L, "doc a", 2L), Seq[Any](2L, "doc b", 2L)))
    // … and state equals a crash-free run's: the two fingerprints, once
    assert(spark.read.parquet(state).count() === 2L)
    assert(spark.read.parquet(state).distinct().count() === 2L)
    // a following batch behaves as if no crash ever happened
    assert(Dedup.admitIncrement(state, batch, "doc_id", "text").count() === 0L)
  }

  test("admitIncrement REVERSE ordering (state-first) is unrecoverable — the contract's why") {
    // the scaladoc forbids append-state-then-write-output; pin the
    // documented failure mode by simulating it: state grown, crash
    // before output. The re-run anti-joins against the already-
    // appended fingerprints and silently admits NOTHING — the batch
    // is permanently dropped, no error anywhere.
    val base = Staging.scratchDir("graft-dedup-rev")
    val state = base.resolve("fp").toString
    val batch = Seq((1L, "doc a"), (2L, "doc b")).toDF("doc_id", "text")
    // simulate the forbidden order's crash window: fingerprints landed …
    Dedup.fingerprints(batch, "text")
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(state)
    // … output never did. Recovery attempt:
    var sinkRows = -1L
    val readmitted = Dedup.admitIncrement(state, batch, "doc_id", "text",
      persistAdmitted = df => sinkRows = df.count())
    assert(readmitted.count() === 0L)
    assert(sinkRows === 0L) // the sink never sees the dropped batch
  }

  test("admitIncrementNear crash AFTER state append: re-run never duplicates signature rows") {
    // the near lifecycle's extra crash window vs exact: a post-append
    // re-run RE-ADMITS the same ids (a batch doc never pairs with its
    // own persisted signature — the a<b normal form excludes equal
    // ids), so without the anti-join guard the state would gain a
    // second (id, h64, sig) copy per crash, inflating candidate
    // generation and hot-bucket counts on every later cycle.
    val base = Staging.scratchDir("graft-near-crash")
    val state = base.resolve("sig").toString
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    // run 1 completed fully (output durable, signatures appended) but
    // the caller crashed before recording the batch as done
    val a1 = Dedup.admitIncrementNear(state, batch, "doc_id", "text")
    assert(a1.count() === 2L)
    val afterRun1 = spark.read.parquet(state).count()
    // recovery = re-run the whole batch
    val a2 = Dedup.admitIncrementNear(state, batch, "doc_id", "text")
    assert(a2.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L), "same-id docs re-admit (deterministic recovery)")
    val st = spark.read.parquet(state)
    assert(st.count() === afterRun1, "state must not grow on re-run")
    assert(st.select("id").distinct().count() === st.count())
    // and a later batch still dedups against the clean state
    val b2 = Seq((10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "fresh words nothing shares these tokens")).toDF("doc_id", "text")
    assert(Dedup.admitIncrementNear(state, b2, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq === Seq(11L))
  }

  test("pairMetrics: counts, ratios, and NULL on empty sides") {
    val truth = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val pred = Seq((1L, 2L), (4L, 5L), (6L, 7L), (8L, 9L)).toDF("a_id", "b_id")
    val r = Dedup.pairMetrics(truth, pred).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 4L, 2L)))
    assert(r.getDouble(3) === 0.5)      // 2/4 precision
    assert(r.getDouble(4) === 0.666667) // 2/3 recall, round6
    // empty prediction → NULL precision, 0 recall numerator
    val e = Dedup.pairMetrics(truth, pred.limit(0)).collect().head
    assert(e.isNullAt(3) && e.getDouble(4) === 0.0)
    // empty truth → NULL recall
    val t = Dedup.pairMetrics(truth.limit(0), pred).collect().head
    assert(t.getDouble(3) === 0.0 && t.isNullAt(4))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docsDF, "doc_id", "text",
      n = 2, k = 32, bands = 16, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)))            // exact dup always collides
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash LSH hot-bucket tripwire: fails fast, names the fix") {
    // 40 identical docs → one band bucket of 40 signatures; with
    // maxBucketSize = 10 the plan must fail at action time instead of
    // silently emitting ~bucket² candidate pairs
    val dup = (1 to 40).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.minhashLsh(dup, "doc_id", "text",
        n = 2, k = 32, bands = 16, threshold = 0.5,
        maxBucketSize = 10).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("Dedup.exact"))
    // raising the bound (accepting the quadratic output) completes
    assert(Dedup.minhashLsh(dup, "doc_id", "text",
      n = 2, k = 32, bands = 16, threshold = 0.5,
      maxBucketSize = 100).count() === 40L * 39L / 2L)
  }

  test("minhash jaccard value matches the exact shingle jaccard") {
    val j = Dedup.minhashLsh(docsDF, "doc_id", "text",
      n = 2, k = 32, bands = 16, threshold = 0.0)
      .filter($"a_id" === 1 && $"b_id" === 3)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("repeatedSpans: cross-doc spans merge; intra-doc repeats don't count") {
    // docs 1 and 2 share tokens 'c0..c9' (10 tokens → three 8-gram
    // starts at 0,1,2 in doc 1; at 2,3,4 in doc 2) — one merged span
    // each. doc 3 repeats ITS OWN phrase twice but shares it with no
    // other doc → no rows (minDocs is a distinct-document test).
    val shared = (0 until 10).map(i => s"c$i").mkString(" ")
    val own = (0 until 8).map(i => s"z$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared x1 x2 x3"),
      (2L, s"y1 y2 $shared"),
      (3L, s"$own mid $own")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, "doc_id", "text", n = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 0L, 10L, 3L), // starts 0..2 merged, end = 2 + 8
      (2L, 2L, 12L, 3L)  // starts 2..4 merged, end = 4 + 8
    ))
  }

  test("repeatedSpans: far-apart marked regions stay separate spans") {
    val shared = (0 until 8).map(i => s"s$i").mkString(" ")
    val gap = (0 until 20).map(i => s"g$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared $gap $shared"),
      (2L, shared)
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, "doc_id", "text", n = 8)
      .orderBy("doc_id", "start_tok").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1: the shared 8-gram appears at starts 0 and 28 — 28 apart,
    // > n, so two spans; doc 2 is one span covering its whole text
    assert(out.toSeq === Seq((1L, 0L, 8L), (1L, 28L, 36L), (2L, 0L, 8L)))
  }

  test("applySpanCuts: removes span tokens, rebuilds order, passes through") {
    val shared = (0 until 10).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared x1 x2 x3"), // span [0,10) → keeps x1 x2 x3
      (2L, s"y1 y2 $shared"),    // span [2,12) → keeps y1 y2
      (3L, "untouched words only here")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text", n = 8)
    val out = Dedup.applySpanCuts(docs, "doc_id", "text", spans)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, "x1 x2 x3", 10L),
      (2L, "y1 y2", 10L),
      (3L, "untouched words only here", 0L)))
  }

  test("applySpanCuts: a fully-covered document becomes empty") {
    val t = (0 until 8).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text", n = 8)
    val out = Dedup.applySpanCuts(docs, "doc_id", "text", spans)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, "", 8L), (2L, "", 8L)))
  }

  test("simhash: identical docs same signature; near-dups within distance") {
    val sigs = Dedup.simhashSignatures(docsDF, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(3L))
    assert(sigs.values.forall(s => s >= 0 && s < (1L << 30)))
    val pairs = Dedup.simhashPairs(docsDF, "doc_id", "text", maxHamming = 0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)))
  }

  test("dense (sorted-merge) ngram jaccard == inverted-index results") {
    val blocked = docsDF.withColumn("lang", lit("en"))
    val inv = Dedup.ngramJaccardPairs(blocked, "doc_id", "text", "lang",
      n = 2, threshold = 0.01).as[(Long, Long, Double)].collect().toSet
    val dense = Dedup.ngramJaccardPairsDense(blocked, "doc_id", "text", "lang",
      n = 2, threshold = 0.01).as[(Long, Long, Double)].collect().toSet
    assert(inv == dense)
    assert(dense.nonEmpty)
  }

  /** A corpus wide enough for blocking/prefix paths to actually prune:
    * 40 docs over a small vocabulary with planted near-dup clusters. */
  private def widerDocs = {
    val base = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "one two three four five six seven eight nine ten",
      "red green blue yellow purple orange pink black white grey")
    (0 until 40).map { i =>
      val b = base(i % 3)
      val words = b.split(" ").toVector
      val mutated =
        if (i < 30) words.updated(i % words.size, s"w$i").mkString(" ")
        else s"unique document number $i with its own content entirely"
      (i.toLong, mutated)
    }.toDF("doc_id", "text")
  }

  test("simhash pigeonhole blocking == all-pairs (exact, full recall)") {
    for (h <- Seq(0, 3, 8)) {
      val all = Dedup.simhashPairs(widerDocs, "doc_id", "text", maxHamming = h)
        .as[(Long, Long, Int)].collect().toSet
      val blocked = Dedup.simhashPairsBlocked(widerDocs, "doc_id", "text",
        maxHamming = h).as[(Long, Long, Int)].collect().toSet
      assert(blocked == all, s"h=$h")
    }
    assert(Dedup.simhashPairs(widerDocs, "doc_id", "text", 8).count() > 0)
  }

  test("prefix-filtered ngram jaccard == inverted-index results") {
    for (t <- Seq(0.2, 0.4, 0.7)) {
      val blocked = widerDocs.withColumn("lang", lit("en"))
      val inv = Dedup.ngramJaccardPairs(blocked, "doc_id", "text", "lang",
        n = 2, threshold = t).as[(Long, Long, Double)].collect().toSet
      val pf = Dedup.ngramJaccardPairsPrefix(blocked, "doc_id", "text", "lang",
        n = 2, threshold = t).as[(Long, Long, Double)].collect().toSet
      assert(pf == inv, s"t=$t")
      assert(inv.nonEmpty, s"t=$t produced no pairs — test has no power")
    }
  }

  test("bitmap jaccard plan: salted equi-join, no nested loop, pairs spread over salts") {
    val blocked = widerDocs.withColumn("lang", lit("en"))
    val df = Dedup.ngramJaccardPairsBitmap(blocked, "doc_id", "text", "lang",
      n = 2, threshold = 0.4)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), plan)
    // the quadratic AND/popcount work must NOT be pinned to the one
    // partition owning a block key: both legs carry the salt in their
    // exchange so a block's pair grid spreads over `salts` partitions
    // (round-10 fix — the single-block form ran q17's kernel on
    // |languages| cores of 32)
    // executedPlan.toString prints Final AND Initial plan sections
    // under AQE — count exchanges in the final section only
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("REPARTITION_BY_COL".r.findAllIn(finalPlan).size == 2,
      s"expected the two salted bitmap exchanges in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("bitmap ngram jaccard == inverted-index results") {
    for (t <- Seq(0.2, 0.4, 0.7)) {
      val blocked = widerDocs.withColumn("lang", lit("en"))
      val inv = Dedup.ngramJaccardPairs(blocked, "doc_id", "text", "lang",
        n = 2, threshold = t).as[(Long, Long, Double)].collect().toSet
      val bmp = Dedup.ngramJaccardPairsBitmap(blocked, "doc_id", "text", "lang",
        n = 2, threshold = t).as[(Long, Long, Double)].collect().toSet
      assert(bmp == inv, s"t=$t")
      assert(inv.nonEmpty, s"t=$t produced no pairs — test has no power")
    }
    // vocabulary guard fails fast instead of silently degrading
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairsBitmap(
        widerDocs.withColumn("lang", lit("en")), "doc_id", "text", "lang",
        n = 2, threshold = 0.4, maxVocab = 3).collect()
    }
  }

  test("salted inverted index (every shingle hot) == unsalted results") {
    val blocked = widerDocs.withColumn("lang", lit("en"))
    val plain = Dedup.ngramJaccardPairs(blocked, "doc_id", "text", "lang",
      n = 2, threshold = 0.2).as[(Long, Long, Double)].collect().toSet
    // hotDf=0 forces EVERY shingle through the salted legs
    val salted = Dedup.ngramJaccardPairs(blocked, "doc_id", "text", "lang",
      n = 2, threshold = 0.2, hotDf = 0, salts = 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("ngram jaccard (inverted index) matches brute-force values") {
    import graft.functions.TextFunctions
    val blocked = docsDF.withColumn("lang", lit("en"))
    val fast = Dedup.ngramJaccardPairs(blocked, "doc_id", "text", "lang",
      n = 2, threshold = 0.01)
      .as[(Long, Long, Double)].collect().toSet
    // brute force over all pairs with the same shingle definition
    val sh = blocked.select($"doc_id", TextFunctions.shingles($"text", 2).as("sh"))
      .filter(size($"sh") > 0)
    val a = sh.select($"doc_id".as("a_id"), $"sh".as("sh_a"))
    val b = sh.select($"doc_id".as("b_id"), $"sh".as("sh_b"))
    val brute = a.join(b, $"a_id" < $"b_id")
      .select($"a_id", $"b_id",
        round(TextFunctions.jaccard($"sh_a", $"sh_b"), 6).as("j"))
      .filter($"j" >= 0.01)
      .as[(Long, Long, Double)].collect().toSet
    assert(fast == brute)
    assert(fast.exists { case (x, y, j) => x == 1L && y == 3L && j == 1.0 })
  }

  test("sourceDupMatrix: undirected rollup, diagonal vs cross normalization, sparse output") {
    val docs0 = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"),
      (5L, "b"), (6L, "c")).toDF("doc_id", "source")
    // pairs: within-a (1,2); cross a-b in BOTH orientations;
    // c appears in no pair → absent from the matrix (sparse)
    val pairs0 = Seq((1L, 2L), (1L, 4L), (5L, 3L)).toDF("a_id", "b_id")
    val out = Dedup.sourceDupMatrix(pairs0, docs0, col("doc_id"),
        col("source"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out.keySet === Set(("a", "a"), ("a", "b")))
    // diagonal: 1 pair over C(3,2) = 3
    assert(out(("a", "a")) === ((1L, 3L, 3L, 0.333333)))
    // cross: 2 pairs over 3·2 = 6, direction-insensitive
    assert(out(("a", "b")) === ((2L, 3L, 2L, 0.333333)))
  }
}
