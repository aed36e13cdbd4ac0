package graft.sinks

import graft.SparkSpec
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import graft.sources.Staging

class TokenSinkSpec extends SparkSpec {
  import spark.implicits._

  private def chunks = Seq(
    (0, 0L, Seq(1, 2, 3)),
    (0, 1L, Seq(65535, 0)),
    (1, 0L, Seq(7)),
    (1, 2L, Seq(8, 9, 10, 11))
  ).toDF("shard", "chunk_id", "token_ids")

  test("packed uint16 shards: byte-exact layout + index") {
    val dir = Staging.scratchDir("graft-toksink").toString
    TokenSink.writePackedTokens(chunks, dir, bytesPerToken = 2)
    val bin0 = Files.readAllBytes(Paths.get(dir, "shard-00000.bin"))
    // chunk order ascending: [1,2,3] then [65535,0] as LE uint16
    val b = ByteBuffer.wrap(bin0).order(ByteOrder.LITTLE_ENDIAN)
    assert(bin0.length === 5 * 2)
    assert(Seq.fill(5)(b.getShort() & 0xffff) === Seq(1, 2, 3, 65535, 0))
    val idx0 = ByteBuffer.wrap(
        Files.readAllBytes(Paths.get(dir, "shard-00000.idx")))
      .order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4); idx0.get(magic)
    assert(new String(magic, "US-ASCII") === "GTOK")
    assert(idx0.getInt() === 1)      // version
    assert(idx0.getInt() === 2)      // bytesPerToken
    assert(idx0.getInt() === 2)      // nChunks
    assert((idx0.getLong(), idx0.getInt()) === ((0L, 3)))
    assert((idx0.getLong(), idx0.getInt()) === ((1L, 2)))
  }

  test("round-trip: write then read equals the input, both widths") {
    for (bpt <- Seq(2, 4)) {
      val dir = Staging.scratchDir(s"graft-tok-rt$bpt").toString
      TokenSink.writePackedTokens(chunks, dir, bytesPerToken = bpt)
      val back = spark.read.format("gtok").load(dir)
        .as[(Int, Long, Seq[Int])].collect().sortBy(r => (r._1, r._2))
      assert(back.toSeq === Seq(
        (0, 0L, Seq(1, 2, 3)), (0, 1L, Seq(65535, 0)),
        (1, 0L, Seq(7)), (1, 2L, Seq(8, 9, 10, 11))))
    }
  }

  test("seeded-shuffle shards are BYTE-stable across identical runs (q115 → sink)") {
    import org.apache.spark.sql.functions.{col, expr}
    val docs = (0L until 60L)
      .map(i => (i, s"src${i % 2}"))
      .toDF("doc_id", "source")
      // deterministic synthetic tokens, 3-7 per doc
      .withColumn("ids", expr(
        "transform(sequence(1, CAST(doc_id % 5 + 3 AS INT)), " +
          "k -> CAST((doc_id * 31 + k) % 1000 AS INT))"))
    val mix = Map("src0" -> 0.5, "src1" -> 0.5)
    def writeRun(): String = {
      val assigned = graft.operators.Packing.shuffleShards(
        docs, "doc_id", "source", seed = 42L, nShards = 3, mix = mix)
      val chunks = graft.operators.Packing.packTokenChunksAssigned(
        assigned, docs, col("doc_id"), col("ids"), contextLen = 16)
      val dir = Staging.scratchDir("graft-tok-stable").toString
      TokenSink.writePackedTokens(chunks, dir, bytesPerToken = 2)
      dir
    }
    val (d1, d2) = (writeRun(), writeRun())
    val names = new java.io.File(d1).listFiles().map(_.getName)
      .filter(n => n.endsWith(".bin") || n.endsWith(".idx")).sorted
    assert(names.nonEmpty && names.length % 2 == 0)
    assert(names.toSeq ===
      new java.io.File(d2).listFiles().map(_.getName)
        .filter(n => n.endsWith(".bin") || n.endsWith(".idx")).sorted.toSeq)
    // every shard file byte-identical between the two runs — the
    // training corpus an external loader reads is REPRODUCIBLE from
    // (corpus, seed, mix) alone
    names.foreach { n =>
      assert(java.util.Arrays.equals(
        Files.readAllBytes(Paths.get(d1, n)),
        Files.readAllBytes(Paths.get(d2, n))), s"$n differs between runs")
    }
  }

  test("out-of-range token id fails the write loudly") {
    val dir = Staging.scratchDir("graft-tok-bad").toString
    val bad = Seq((0, 0L, Seq(70000))).toDF("shard", "chunk_id", "token_ids")
    val e = intercept[Exception] {
      TokenSink.writePackedTokens(bad, dir, bytesPerToken = 2)
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("out of range"))
  }

  test("packs concatChunks output end-to-end (hash-id stub tokenizer)") {
    import org.apache.spark.sql.functions._
    import graft.functions.PortableHash.portable_hash
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "zeta")).toDF("doc_id", "text")
    // stub tokenizer per the multimodal policy: real plumbing, fake
    // vocab — whitespace tokens to hash-bucket ids (uint16 range)
    val tok = docs.select(col("doc_id"), lit(0).as("shard"),
      expr("transform(split(text, ' '), w -> CAST(pmod(" +
        "xxhash64(w), 65536L) AS INT))").as("token_ids"))
    val withChunk = tok.withColumn("chunk_id",
      expr("(doc_id - 1) div 2")) // 2 docs per window for the test
    val grouped = withChunk.groupBy(col("shard"), col("chunk_id"))
      .agg(flatten(collect_list(col("token_ids"))).as("token_ids"))
    val dir = Staging.scratchDir("graft-tok-e2e").toString
    TokenSink.writePackedTokens(grouped, dir)
    val back = spark.read.format("gtok").load(dir)
    assert(back.count() === 2L)
    assert(back.selectExpr("sum(size(token_ids))").as[Long].head() === 6L)
  }

  test("gtok DSv2 source: distributed round-trip, one partition per shard, .bin skipped when pruned") {
    import org.apache.spark.sql.functions._
    val dir = Staging.scratchDir("graft-gtok-dsv2").toString
    TokenSink.writePackedTokens(chunks, dir, bytesPerToken = 2)
    val back = spark.read.format("gtok").load(dir)
    // the written contents
    assert(back.as[(Int, Long, Seq[Int])].collect().sortBy(r => (r._1, r._2)).toSeq
      === Seq((0, 0L, Seq(1, 2, 3)), (0, 1L, Seq(65535, 0)),
        (1, 0L, Seq(7)), (1, 2L, Seq(8, 9, 10, 11))))
    // one input partition per shard file: with 2 shards, the scan rdd
    // has exactly 2 partitions
    assert(back.rdd.getNumPartitions === 2)
    // column pruning reaches the source: a chunk inventory reads only
    // the sidecars — the BatchScan's output drops token_ids entirely
    val inventory = back.groupBy(col("shard")).agg(count(lit(1)).as("n"))
    val p = inventory.queryExecution.executedPlan.toString
    assert(p.contains("BatchScan gtok:") && !p.contains("token_ids"), p)
    assert(inventory.as[(Int, Long)].collect().sortBy(_._1).toSeq
      === Seq((0, 2L), (1, 2L)))
    // int32 width round-trips through the same source
    val dir4 = Staging.scratchDir("graft-gtok-dsv2-4").toString
    TokenSink.writePackedTokens(chunks, dir4, bytesPerToken = 4)
    assert(spark.read.format("gtok").load(dir4)
      .selectExpr("sum(size(token_ids))").as[Long].head() === 10L)
  }

  test("pack-tokens job with the REAL BPE tokenizer: shards carry the kernel's ids") {
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "the fast scan"), (2L, "big data table"),
      (3L, "merge sort window join"), (4L, "stream filter"))
      .toDF("doc_id", "text")
    val in = Staging.scratchDir("graft-bpe-in").toString
    docs.write.mode("overwrite").parquet(in)
    val out = Staging.scratchDir("graft-bpe-out").toString
    graft.cli.Jobs.runPackTokens(spark, graft.cli.Jobs.Args(Map(
      "input-path" -> in, "output-path" -> out,
      "context-len" -> "8", "n-shards" -> "2",
      "bpe-vocab" -> "/root/repo/data/bpe_vocab.json",
      "bpe-merges" -> "/root/repo/data/bpe_merges.txt"), Set.empty))
    // the packed byte stream must equal the BPE expression's output
    // re-packed independently: same per-doc ids, same total
    val m = graft.functions.Bpe.load("/root/repo/data/bpe_vocab.json",
      "/root/repo/data/bpe_merges.txt")
    val expected = docs.collect()
      .map(r => r.getLong(0) -> m.tokenizeText(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)))
        .toIntArray().toSeq).toMap
    val total = expected.values.map(_.size).sum
    val back = spark.read.format("gtok").load(out)
    assert(back.selectExpr("sum(size(token_ids))").as[Long].head() === total.toLong)
    // every packed id is a real vocab id (uint16, within vocab size)
    val vocabSize = graft.functions.Bpe
      .parseVocab("/root/repo/data/bpe_vocab.json").size
    val ids = back.selectExpr("explode(token_ids)").as[Int].collect()
    assert(ids.forall(id => id >= 0 && id < vocabSize))
    // and the multiset of packed ids equals the expression's multiset
    assert(ids.sorted.toSeq === expected.values.flatten.toSeq.sorted)
  }
}
