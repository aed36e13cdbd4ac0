package graft.operators

import graft.SparkSpec

class RelevanceSpec extends SparkSpec {
  import spark.implicits._

  test("bm25: rare discriminative terms outrank ubiquitous ones") {
    val docs = Seq(
      (1L, "common zebra common common"),
      (2L, "common common"),
      (3L, "common llama common")
    ).toDF("doc_id", "text")
    val out = Relevance.bm25TopTerms(docs, "doc_id", "text", topK = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(3)))
    // "common" appears in every doc -> idf ln(1 + 0.5/3.5) is tiny;
    // the unique term must rank first wherever present
    assert(out.contains((1L, "zebra", 1)))
    assert(out.contains((3L, "llama", 1)))
    assert(out.count(_._1 == 2L) == 1) // doc 2 has a single distinct term
  }

  test("bm25: longer docs are length-normalized below shorter ones") {
    // same tf for "target", one doc padded with filler terms
    val docs = Seq(
      (1L, "target alpha"),
      (2L, "target beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val out = Relevance.bm25TopTerms(docs, "doc_id", "text", topK = 10)
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getDouble(2))).toMap
    assert(out((1L, "target")) > out((2L, "target")))
  }

  test("bm25QueryRank: multi-term matches outrank single-term matches") {
    val docs = Seq(
      (1L, "spark engine fast"),   // matches both query terms
      (2L, "spark slow thing pad pad pad"), // one term, longer doc
      (3L, "unrelated words here")
    ).toDF("doc_id", "text")
    val out = Relevance.bm25QueryRank(docs, "doc_id", "text",
        Seq("spark", "engine"))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out(1L) === 1)
    assert(out(2L) === 2)
    assert(!out.contains(3L)) // no query term → no row
  }

  test("rrfFuse: consensus ids outrank single-list leaders") {
    val a = Seq((10L, 1), (11L, 2), (12L, 3)).toDF("id", "rank")
    val b = Seq((12L, 1), (11L, 2), (13L, 3)).toDF("id", "rank")
    val out = Relevance.rrfFuse(Seq(a, b), kRrf = 60, topK = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // 11 and 12 appear in BOTH lists → above either single-list leader
    assert(Set(out(11L), out(12L)) === Set(1, 2))
    assert(out(10L) > 2 && out(13L) > 2)
  }

  test("rrfFuse: INT ids are accepted and keep their type (round-6 review)") {
    // the heap ranks BIGINT|STRING; integral ids must be widened in and
    // cast back out, not rejected at analysis — and NULL ids are
    // excluded per the documented contract
    val a = Seq((Some(10), 1), (Some(11), 2), (None, 3)).toDF("id", "rank")
    val b = Seq((Some(11), 1), (Some(10), 2)).toDF("id", "rank")
    val out = Relevance.rrfFuse(Seq(a, b), kRrf = 60, topK = 10)
    assert(out.schema("id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    val rows = out.collect().map(r => r.getInt(0) -> r.getInt(2)).toMap
    assert(rows.keySet === Set(10, 11)) // NULL id dropped, both ranked
  }

  test("bm25QueryRank: topK bounds the output with identical ordering") {
    val docs = (1 to 20).map(i =>
      (i.toLong, ("spark " * i).trim + " pad")).toDF("doc_id", "text")
    val all = Relevance.bm25QueryRank(docs, "doc_id", "text",
      Seq("spark"), topK = 20).collect().map(r => (r.getLong(0), r.getInt(2)))
    val top5 = Relevance.bm25QueryRank(docs, "doc_id", "text",
      Seq("spark"), topK = 5).collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(top5.toSeq === all.toSeq.sortBy(_._2).take(5))
  }

  test("bm25 construction runs zero Spark jobs (stats ride the plan)") {
    // N/avgdl used to be collected at call time (head()) — the same
    // construction-eagerness the CMS guard was cured of; they now ride
    // as a broadcast 1-row stats DataFrame inside the one execution
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val m = new graft.tools.StressMetrics().attach(spark.sparkContext)
    try {
      val plan = Relevance.bm25TopTerms(docs, "doc_id", "text")
      val plan2 = Relevance.bm25QueryRank(docs, "doc_id", "text", Seq("b"))
      assert(m.snapshot().jobCount === 0, "construction must not run jobs")
      assert(plan.count() >= 1L && plan2.count() >= 1L)
    } finally m.close()
  }

  test("no unpartitioned window anywhere in the fused retrieval plan") {
    // r5 review item: a global row_number window funnels the whole
    // match set through one partition. The ranking now rides the
    // bounded-heap top_k_by aggregate — the q77-shaped plan (bm25
    // ranking fused with a second list) must contain NO Window node.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val docs = Seq((1L, "spark engine"), (2L, "spark"), (3L, "other"))
      .toDF("doc_id", "text")
    val lex = Relevance.bm25QueryRank(docs, "doc_id", "text",
      Seq("spark"), topK = 50).select($"doc_id".as("id"), $"rank")
    val vec = Seq((2L, 1), (3L, 2)).toDF("id", "rank")
    val fused = Relevance.rrfFuse(Seq(lex, vec), kRrf = 60, topK = 20)
    val windows = fused.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }
    assert(windows.isEmpty, "fused plan must not contain a Window node")
    assert(fused.queryExecution.optimizedPlan.toString.contains("top_k_by"))
  }
}
