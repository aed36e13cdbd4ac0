package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.sources.Staging

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val stream = (
    Seq.fill(50)("hot") ++ Seq.fill(20)("warm") ++ (1 to 30).map(i => s"cold$i")
  ).zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "key")

  test("CMS estimate is never below the exact count") {
    val out = Sketches.cmsHeavyHitters(stream, col("key"),
      depth = 4, width = 8, minCount = 1)
    assert(out.filter(col("est_count") < col("exact_count")).isEmpty)
  }

  test("CMS with a wide sketch is exact; threshold filters") {
    // width 1024 over 32 distinct keys: collisions across all 4 rows
    // are overwhelmingly unlikely → estimates equal exact counts
    val out = Sketches.cmsHeavyHitters(stream, col("key"),
      depth = 4, width = 1024, minCount = 20)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map("hot" -> ((50L, 50L)), "warm" -> ((20L, 20L))))
  }

  test("candidate stream is bounded and deterministic under tiny caps") {
    import graft.functions.PortableHash.portable_hash
    import org.apache.spark.sql.expressions.Window
    // 100 distinct keys but only 4 buckets × 2 per bucket may probe the
    // sketch: output ≤ 8 rows even with minCount = 1, and the surviving
    // keys are exactly the per-bucket (count desc, key asc) top lists
    val many = (1 to 100).flatMap(i => Seq.fill(i % 7 + 1)(f"k$i%03d"))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "key")
    val out = Sketches.cmsHeavyHitters(many, col("key"),
      depth = 4, width = 1024, minCount = 1,
      candBuckets = 4, candPerBucket = 2, checkLossless = false)
    val got = out.select("key").as[String].collect().toSet
    assert(got.size <= 8)
    val w = Window.partitionBy(pmod(portable_hash(col("k")), lit(4L)))
      .orderBy(col("exact_count").desc, col("k").asc)
    val expected = many.select(col("key").cast("string").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("exact_count"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select("k").as[String].collect().toSet
    assert(got === expected)
  }

  test("probe side rides the bounded-heap aggregate, not the raw key stream") {
    // pinned on the lazy path: with checkLossless on, the candidate
    // stage is materialized behind a localCheckpoint at call time, so
    // its plan shows a scan — but both paths build the candidates from
    // the SAME code, so this pin covers the shared shape
    val plan = Sketches.cmsHeavyHitters(stream, col("key"),
        depth = 4, width = 8, minCount = 1, checkLossless = false)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("top_k_by"))
  }

  test("lossless guard fails fast when capping drops a qualifying key") {
    // 100 keys all qualify at minCount = 1 but only 8 candidate slots:
    // the default-on check must refuse instead of silently truncating.
    // The guard is folded into the plan, so the failure surfaces at the
    // first ACTION (wrapped in Spark's job-failure exception chain).
    val many = (1 to 100).map(i => (i.toLong, f"k$i%03d")).toDF("id", "key")
    val plan = Sketches.cmsHeavyHitters(many, col("key"),
      depth = 4, width = 1024, minCount = 1,
      candBuckets = 4, candPerBucket = 2)
    val e = intercept[Exception] { plan.collect() }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("raise candBuckets"))
    // generous caps: the same call passes and is complete
    val ok = Sketches.cmsHeavyHitters(many, col("key"),
      depth = 4, width = 1024, minCount = 1)
    assert(ok.count() === 100L)
  }

  test("lossless guard is lazy: construction runs zero Spark jobs") {
    // r5 review item: the guard used to materialize counts + candidates
    // eagerly at call time. Now construction must submit NO jobs.
    val m = new graft.tools.StressMetrics().attach(spark.sparkContext)
    try {
      val plan = Sketches.cmsHeavyHitters(stream, col("key"),
        depth = 4, width = 8, minCount = 1) // checkLossless default ON
      assert(m.snapshot().jobCount === 0, "construction must not run jobs")
      assert(plan.count() >= 1L) // and the plan still executes fine
    } finally m.close()
  }

  test("NULL keys are excluded by contract, and don't trip the guard") {
    // a NULL-key group larger than minCount must neither appear in the
    // output nor make the lossless check unsatisfiable (top_k_by skips
    // NULL ids, so an admitted NULL group could never be a candidate)
    val withNulls = ((1 to 10).map(i => (i.toLong, Option.empty[String]))
      ++ (1 to 30).map(i => (100L + i, Some("real")))).toDF("id", "key")
    val out = Sketches.cmsHeavyHitters(withNulls, col("key"),
      depth = 4, width = 1024, minCount = 5)
    val keys = out.select("key").as[String].collect().toSet
    assert(keys === Set("real"))
  }

  test("CMS sketch is streaming-mergeable: streaming build == batch build") {
    // the (r,b)→count table is an additive aggregate, so the SAME
    // operator runs under Structured Streaming unchanged — the
    // fixed-size mergeable-state contract, demonstrated end to end
    val dir = Staging.scratchDir("graft-cms-stream").toString
    stream.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = Sketches.cmsSketch(
        spark.readStream.schema(schema).parquet(dir), col("key"),
        depth = 4, width = 8)
      .writeStream.outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("cms_stream").start()
    assert(q.awaitTermination(60000), "bounded run did not self-terminate"); q.stop()
    val streamed = rows(spark.table("cms_stream"))
    val batch = rows(Sketches.cmsSketch(
      spark.read.parquet(dir), col("key"), depth = 4, width = 8))
    assert(streamed === batch)
  }

  test("sketch table is depth×width-bounded") {
    val sk = Sketches.cmsSketch(stream, col("key"), depth = 4, width = 8)
    assert(sk.count() <= 4L * 8L)
    // per-row totals each equal the stream size
    val totals = sk.groupBy("r").agg(sum("c").as("t"))
      .select("t").as[Long].collect().toSet
    assert(totals === Set(100L))
  }
}
