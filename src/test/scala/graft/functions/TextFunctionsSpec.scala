package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import TextFunctions._
import TextFunctionsRef._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): T =
    Seq("x").toDF("dummy").select(c).collect().head.get(0).asInstanceOf[T]

  test("portable_hash equals the reference fold for ASCII strings") {
    def fold(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 31 + (b & 0xff)) % 1000000007L)
    for (s <- Seq("", "a", "hello world", "Zyzzyva!42")) {
      val h = Seq(s).toDF("s")
        .select(PortableHash.portable_hash($"s")).as[Long].head()
      assert(h == fold(s), s"hash('$s')")
    }
  }

  test("shingles: n-grams, distinct, short-doc guard") {
    val sh = Seq("a b c b a b").toDF("t")
      .select(shingles($"t", 2)).as[Seq[String]].head()
    assert(sh == Seq("a_b", "b_c", "c_b", "b_a")) // distinct, order of first occurrence
    val short = Seq("only two").toDF("t")
      .select(shingles($"t", 3)).as[Seq[String]].head()
    assert(short == Seq.empty)
  }

  test("minhash signature has k slots, each the min over shingle hashes") {
    val sig = Seq("a b c d e").toDF("t")
      .select(minhashSignature(shingleHashes($"t", 2), 8)).as[Seq[Long]].head()
    assert(sig.length == 8)
    assert(sig.forall(v => v >= 0 && v < PortableHash.Mod))
  }

  test("codegen band keys == the HOF reference bit-for-bit, including short/empty signatures") {
    // full k=16 signatures from real shingles, plus hand-built short
    // (slice runs dry mid-band) and empty signatures
    val full = Seq("the quick brown fox jumps over the lazy dog",
        "a b c d e f g", "x y")
      .toDF("t")
      .select(minhashSignature(shingleHashes($"t", 2), 16).as("sig"))
    val short = Seq(Seq(5L, 7L, 11L), Seq.empty[Long], Seq(3L))
      .toDF("sig")
    for (df <- Seq(full, short); (bands, r) <- Seq((4, 4), (8, 2), (2, 8))) {
      val native = df.select(bandKeys($"sig", bands, r))
        .collect().map(_.toSeq)
      val ref = df.select(bandKeysRef($"sig", bands, r))
        .collect().map(_.toSeq)
      assert(native.toSeq == ref.toSeq, s"bands=$bands r=$r")
    }
  }

  test("codegen minhash == the HOF formulation bit-for-bit") {
    val df = Seq("the quick brown fox jumps over the lazy dog", "a b", "x y z w")
      .toDF("t").select(shingleHashes($"t", 2).as("hs"))
    val native = df.select(minhashSignature($"hs", 16)).as[Seq[Long]].collect()
    val hof = df.select(
      bindOnce($"hs") { hs =>
        transform(sequence(lit(0), lit(15)), kk =>
          aggregate(hs, lit(Long.MaxValue),
            (acc, h) => least(acc,
              ((kk * 2 + 3) * (h + 1) + kk * 1000003L) % PortableHash.Mod)))
      }).as[Seq[Long]].collect()
    assert(native.toSeq == hof.toSeq)
  }

  test("winnowing fingerprints: sorted distinct window minima; short-doc guards") {
    val fp = Seq("abcdefghij").toDF("t")
      .select(winnowingFingerprints($"t", 4, 3)).as[Seq[Long]].head()
    assert(fp.nonEmpty && fp == fp.sorted && fp.distinct == fp)
    // shorter than k → empty; grams shorter than window → the grams themselves
    assert(Seq("abc").toDF("t")
      .select(winnowingFingerprints($"t", 4, 3)).as[Seq[Long]].head().isEmpty)
    val tiny = Seq("abcde").toDF("t") // 2 grams < w=3
      .select(winnowingFingerprints($"t", 4, 3)).as[Seq[Long]].head()
    assert(tiny.length == 2)
  }

  test("winnowing kernel == HOF reference (incl. non-ASCII, boundary lengths)") {
    val docs = Seq("abcdefghij", "abc", "abcde", "the quick brown fox",
      "naïve café über döner straße", "aaaaaaaaaa", "",
      "日本語のテキストです、これは").toDF("t")
    for ((k, w) <- Seq((4, 3), (8, 4), (2, 2))) {
      val fast = docs.select(winnowingFingerprints($"t", k, w))
        .as[Seq[Long]].collect().toSeq
      val ref = docs.select(winnowingFingerprintsRef($"t", k, w))
        .as[Seq[Long]].collect().toSeq
      assert(fast == ref, s"k=$k w=$w")
    }
  }

  test("ngram portable hashes kernel == sorted distinct shingle portable_hash") {
    import graft.functions.TextKernels.ngram_portable_hashes
    val docs = Seq("the quick brown fox", "a b", "a", "",
      "x  y", " lead", "trail ", "a_b c", "naïve café über").toDF("t")
    for (n <- Seq(2, 3)) {
      val fast = docs.select(ngram_portable_hashes($"t", n))
        .as[Seq[Long]].collect().toSeq
      val ref = docs.select(array_sort(array_distinct(shingleHashes($"t", n))))
        .as[Seq[Long]].collect().toSeq
      assert(fast == ref, s"n=$n")
    }
  }

  test("TextStats kernel == whitespace/regex/quality Column forms") {
    import graft.functions.TextKernels.text_stats
    val docs = Seq("the quick brown fox is a fox", "", "a", "x  y ",
      "UPPER Case 123 mix3d t0kens!", "punct,only.?!",
      (1 to 300).map(_ => "the").mkString(" ")).toDF("t")
    val fast = docs.select(text_stats($"t", LangProfiles("en")).as("st"))
      .select($"st.ws_tokens", $"st.re_tokens", $"st.quality")
      .as[(Int, Int, Double)].collect().toSeq
    val ref = docs.select(whitespaceTokenCount($"t"), regexTokenCount($"t"),
      qualityScore($"t")).as[(Int, Int, Double)].collect().toSeq
    assert(fast == ref)
  }

  test("LangScores kernel == stopwordRatio/langIdPrediction Column forms") {
    import graft.functions.TextKernels.lang_scores
    val docs = Seq("the cat of the house is a cat", "der hund und die katze ist",
      "le chat et la maison est un", "", "no stopwords here whatsoever",
      "the der le a die la").toDF("t") // last row: engineered ratio ties
    val profs = LangProfiles.toSeq.sortBy(_._1)
    val fast = docs.select(lang_scores($"t", profs).as("ls"))
      .select($"ls.en_score", $"ls.de_score", $"ls.fr_score", $"ls.pred_lang")
      .as[(Double, Double, Double, String)].collect().toSeq
    val ref = docs.select(
      stopwordRatio($"t", LangProfiles("en")), stopwordRatio($"t", LangProfiles("de")),
      stopwordRatio($"t", LangProfiles("fr")), langIdPrediction($"t"))
      .as[(Double, Double, Double, String)].collect().toSeq
    assert(fast == ref)
  }

  test("language id picks the profile with most stopwords") {
    val df = Seq(
      ("the cat and the dog is in the house", "en"),
      ("der hund und die katze ist ein tier", "de"),
      ("le chat et la maison est un endroit", "fr")
    ).toDF("text", "expected")
    val out = df.select($"expected", langIdPrediction($"text").as("got"))
      .as[(String, String)].collect()
    out.foreach { case (exp, got) => assert(got == exp) }
  }

  test("token counts and quality score bounds") {
    val row = Seq("The quick brown fox! It is one of the best foxes.").toDF("t")
      .select(
        whitespaceTokenCount($"t"), regexTokenCount($"t"), qualityScore($"t"))
      .collect().head
    assert(row.getInt(0) == 11)
    assert(row.getInt(1) == 11)
    val q = row.getDouble(2)
    assert(q > 0.0 && q <= 1.0)
  }

  test("bindOnce preserves values (single-eval rewrite is semantics-free)") {
    val direct = Seq("w x y z").toDF("t")
      .select(size(split($"t", " "))).as[Int].head()
    val bound = Seq("w x y z").toDF("t")
      .select(bindOnce(split($"t", " "))(size(_))).as[Int].head()
    assert(direct == bound)
  }
}
