package graft.operators

import graft.SparkSpec
import graft.tools.StressMetrics
import org.apache.spark.sql.functions._

/** Skew safety under MEASUREMENT (round-9 verdict #3): SCALE.md argues
  * the hot-key cases — a near-identical doc cluster concentrating one
  * MinHash band bucket, a grid cell with orders-of-magnitude more rows
  * than its peers — stay balanced because band diversity spreads a
  * cluster over `bands` shuffle keys and map-side partial aggregation
  * collapses hot input keys to output cardinality before the exchange.
  * These specs attach a task listener and assert the per-task shuffle
  * BYTE distribution directly: max task ≤ 4× the mean on every
  * qualifying exchange. Bytes, not durations — small-fixture task
  * times are scheduling noise; the byte distribution is the thing the
  * 100 TB claim is about. */
class SkewSpec extends SparkSpec {

  /** Run `action` with a fresh metrics listener, byte-skew returned;
    * shuffle partitions are raised and AQE coalescing disabled for the
    * window so the measurement sees the raw partitioning, not four
    * coarse buckets merged into one. */
  private def measureSkew(action: => Unit): Double = {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val listener = new StressMetrics().attach(spark.sparkContext)
    try {
      action
      listener.snapshot().maxByteSkew
    } finally {
      listener.close()
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
  }

  /** 2000 docs; ids < 600 form 100 clone-clusters of 6 identical
    * texts, the rest are unique random-token docs. */
  private def clusteredDocs = spark.range(2000).select(
    col("id"),
    when(col("id") < 600, concat_ws(" ",
      (0 until 80).map(i => concat(lit("c"), (col("id") / lit(6)).cast("long"),
        lit(s"_$i"))): _*))
      .otherwise(concat_ws(" ",
        (0 until 80).map(i => concat(lit("w"), pmod(hash(col("id"), lit(i)),
          lit(50000)))): _*)).as("text"))
    .repartition(16)

  test("minhash band shuffle stays balanced with 30% of docs in clone clusters") {
    // the realistic near-dup corpus: many small hot buckets, which the
    // (band, bkey) shuffle spreads across partitions — the balanced
    // case SCALE.md claims for "near-identical corpora concentrate in
    // buckets: exactly the rows you want co-located"
    var pairs = 0L
    val skew = measureSkew {
      pairs = Dedup.minhashLsh(clusteredDocs, "id", "text").count()
    }
    assert(pairs >= 100L * 15) // every clone cluster yields its C(6,2) pairs
    assert(skew <= 4.0, s"band-shuffle byte skew $skew exceeds 4x mean")
  }

  test("exact-dedup upstream removes the single-hot-cluster quadratic concentration") {
    // ONE 600-doc identical cluster genuinely concentrates its ~180k
    // candidate pairs in the task owning its bucket — the inherent
    // case the operator's maxBucketSize tripwire names exact-dedup
    // upstream for. Measure the documented mitigation: collapsing
    // identical texts first leaves one representative, and the band
    // shuffle downstream is balanced.
    val docs = spark.range(2000).select(
      col("id"),
      when(col("id") < 600, lit((0 until 80).map(i => s"hot$i").mkString(" ")))
        .otherwise(concat_ws(" ",
          (0 until 80).map(i => concat(lit("w"), pmod(hash(col("id"), lit(i)),
            lit(50000)))): _*)).as("text"))
      .repartition(16)
    val reps = docs.join(
      Dedup.exact(docs, "id", "text").select(col("keep_id").as("id")),
      Seq("id"), "left_semi")
    var pairs = -1L
    val skew = measureSkew {
      pairs = Dedup.minhashLsh(reps, "id", "text").count()
    }
    // the 600-clone cluster contributes zero pairs post-collapse; the
    // unique docs produce (at most) stray collisions
    assert(pairs >= 0 && pairs < 100)
    assert(skew <= 4.0, s"post-exact band-shuffle byte skew $skew exceeds 4x mean")
  }

  test("weighted-mean exchange stays balanced with one 200x hot grid cell") {
    // 40x40 grid x 20 days, one row per (cell, day) — except cell
    // (0,0), which carries 200 rows per day (an 11% single-key share
    // of the input). Partial aggregation must collapse the hot cell
    // before the exchange: shuffle rows = output cardinality.
    val W = 40
    val normal = spark.range(1600L * 20).select(
      pmod(col("id"), lit(W)).as("i"),
      pmod((col("id") / lit(W)).cast("long"), lit(W)).as("j"),
      timestamp_seconds(lit(1600000000L) +
        (col("id") / lit(1600)).cast("long") * 86400L).as("time"),
      (pmod(hash(col("id")), lit(1000)) / lit(10.0)).as("tmmx"))
    val hot = spark.range(200L * 20).select(
      lit(0).as("i"), lit(0).as("j"),
      timestamp_seconds(lit(1600000000L) +
        (col("id") / lit(200)).cast("long") * 86400L).as("time"),
      (pmod(hash(col("id"), lit(5)), lit(1000)) / lit(10.0)).as("tmmx"))
    val grid = normal.unionAll(hot).repartition(16)
    // 100 features x 16 covered cells; feature 0 covers the hot cell
    val weights = spark.range(1600).select(
      (col("id") / lit(16)).cast("long").as("fid"),
      pmod(hash(col("id"), lit(11)), lit(W)).as("i"),
      pmod(hash(col("id"), lit(13)), lit(W)).as("j"),
      lit(1.0 / 16).as("wght"))
      .unionAll(spark.range(1).select(lit(0L).as("fid"), lit(0).as("i"),
        lit(0).as("j"), lit(1.0 / 16).as("wght")))
    var outRows = 0L
    val skew = measureSkew {
      outRows = WeightedMean(grid, weights, Seq("tmmx"), masked = true).count()
    }
    assert(outRows > 0)
    assert(skew <= 4.0, s"weighted-mean byte skew $skew exceeds 4x mean")
  }

  test("saltedJoin: result-identical to the plain join (hot key included)") {
    import spark.implicits._
    // one hot left key (70% of rows) + a right side with duplicate key
    // rows — replication must neither drop nor double any pair
    val left = (0 until 200).map(i =>
      (if (i % 10 < 7) 1L else (i % 10).toLong, i)).toDF("k", "lv")
    val right = Seq((1L, "a"), (1L, "b"), (2L, "c"), (9L, "d"))
      .toDF("k", "rv")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"k", $"lv", $"rv").as[(Long, Int, String)]
        .collect().sorted.toSeq
    val plain = rows(left.join(right, Seq("k")))
    assert(plain.nonEmpty)
    for (buckets <- Seq(1, 4, 16))
      assert(rows(Skew.saltedJoin(left, right, Seq("k"), buckets)) == plain,
        s"saltedJoin diverges from the plain join at buckets=$buckets")
  }
}
