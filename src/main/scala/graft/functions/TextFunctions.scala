package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import PortableHash.portable_hash

/** Text-analysis column functions for the large-scale training-data
  * pipeline surface (builder contract; SURVEY.md §7.2 step 9).
  *
  * Everything is built from codegen'd built-ins + [[PortableHash]] so
  * each function is (a) whole-stage-codegen friendly and (b) exactly
  * reproducible in the DuckDB oracle (deterministic integer/rounded
  * arithmetic, no engine-specific hash).
  */
object TextFunctions {

  /** Evaluate `v` ONCE per row and bind it as a higher-order-function
    * lambda variable for `body`. Without this, every reference to a
    * subexpression inside a HOF lambda re-evaluates it (HOFs are
    * interpreted, no common-subexpression elimination), which turns
    * e.g. shingling into O(tokens²) split() calls per document —
    * observed as a >700 s single-core stall at sf0.1. */
  def bindOnce(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  /** Whitespace tokenization — the shared, oracle-reproducible split. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram "shingles" joined with '_' (dedup unit).
    * Note: `sequence(a,b)` DESCENDS when a>b, so short docs need the
    * explicit empty-array guard. */
  def shingles(text: Column, n: Int): Column =
    bindOnce(tokens(text)) { toks =>
      when(size(toks) < n, array().cast("array<string>")).otherwise(
        array_distinct(
          transform(sequence(lit(1), size(toks) - (n - 1)),
            i => concat_ws("_", (0 until n).map(o => element_at(toks, i + o)): _*))))
    }

  /** Hashes of the distinct shingles (base of the minhash signature). */
  def shingleHashes(text: Column, n: Int): Column =
    transform(shingles(text, n), s => portable_hash(s))

  /** k-function minhash signature over shingle hashes.
    * minhash_k = min over shingles of ((2k+3)·(h+1) + 1000003·k) mod P.
    * Coefficients are fixed integers so the oracle can replicate them.
    * Delegates to the codegen'd [[MinhashSignature]] expression — the
    * HOF form (k·|shingles| interpreted lambda frames per row) was the
    * dominant cost of the LSH query. */
  def minhashSignature(hashes: Column, k: Int): Column =
    MinhashSignature.minhash_signature(hashes, k)

  /** LSH band key: fold one band (r consecutive signature slots) into a
    * single long. `sig` is the minhash signature array; band b covers
    * slots [b·r+1, b·r+r] (1-based slice). Runs as the codegen'd
    * [[BandKeys]] expression — the HOF form (`bandKeysRef`, the
    * equality-pinned reference in TextFunctionsSpec) evaluates bands·r
    * interpreted lambda frames per row, whose interpreted modulo was
    * the top on-CPU frame of the incremental-neardup stack sample. */
  def bandKeys(sig: Column, bands: Int, r: Int): Column =
    BandKeys.band_keys(sig, bands, r)

  /** Exact Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** 30-bit simhash over the token multiset. Bit j of each token hash
    * votes ±1; bit j of the result is 1 iff the vote sum is positive.
    * 30 bits because [[PortableHash]] values live below 2^30, so every
    * bit is "random"; uses only div/mod arithmetic → oracle-expressible
    * without engine bit-op differences. */
  def simhash(text: Column): Column =
    SimhashBits.simhash_bits(transform(tokens(text), t => portable_hash(t)))

  /** Hamming distance between two simhash values (bit_count of xor). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Winnowing document fingerprints (MOSS-style): hash all char k-grams,
    * then keep the minimum of each sliding window of w hashes; distinct
    * sorted mins are the fingerprint set. Deterministic and
    * oracle-expressible. Returns array<long>. Runs as the one-pass
    * codegen kernel ([[TextKernels.winnowFingerprints]]); the HOF
    * reference form is equality-pinned in TextFunctionsSpec. */
  def winnowingFingerprints(text: Column, k: Int, w: Int): Column =
    TextKernels.winnow_fingerprints(text, k, w)

  /** Small fixed stopword profiles for the language-ID heuristic. */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"))

  /** Portable 6-dp half-up round: `floor(x·1e6 + 0.5)/1e6`. Engine
    * `round()` functions disagree at decimal midpoints (Spark rounds the
    * canonical decimal string, DuckDB the binary double — found when a
    * quality score landed exactly on 0.5026875); floor on the identical
    * double is deterministic in both. Non-negative inputs only. */
  def round6(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5)).cast("double") / lit(1000000.0)

  /** DuckDB rendering of [[round6]] for oracle SQL. */
  def round6Sql(expr: String): String =
    s"(floor(($expr)*1000000.0 + 0.5)/1000000.0)"

  /** Exact sum of [[round6]] VALUES as long micros — bit-identical to
    * `sum(c.cast("decimal(28,6)")).cast("double")` over the round6
    * domain (proof: DecimalMicrosSpec — Spark's double→decimal cast
    * goes through the shortest decimal repr + HALF_UP, which agrees
    * with `floor(x·1e6+0.5)` exactly when x is a round6 output; for
    * arbitrary doubles it does NOT, so this is only for provably
    * round6 inputs). Cost: the aggregation buffer is a PRIMITIVE LONG
    * instead of a precision-28 Decimal — no per-row
    * Double.toString/BigDecimal parse (the dominant
    * `FloatingDecimal.dtoa` frames QueryProf sampled inside the KN
    * rollup aggregates), and partial-agg shuffle rows carry 8-byte
    * longs instead of 16-byte unscaled decimals.
    * Caller bounds (asserted by the proof's domain): c ≥ 0 and
    * per-group Σc < 2^53/1e6 ≈ 9.0e9 — per-document nll rollups are
    * ≤ tokens·maxTerm ≈ 1e6·60, two orders under the bound. */
  def sumRound6Micros(c: Column): Column =
    sum(floor(c * lit(1000000.0) + lit(0.5)).cast("long"))
      .cast("double") / lit(1000000.0)

  /** Stopword ratio over an already-bound token array. */
  private def ratioOf(toks: Column, words: Seq[String]): Column =
    round6(
      size(filter(toks, t => t.isin(words.map(lit): _*))).cast("double") /
        size(toks).cast("double"))

  /** Fraction of tokens that are in `words` (rounded to 6 dp). */
  def stopwordRatio(text: Column, words: Seq[String]): Column =
    bindOnce(tokens(text))(ratioOf(_, words))

  /** n-gram-profile language-ID heuristic: argmax of per-language
    * stopword ratios, alphabetical tie-break (deterministic). */
  def langIdPrediction(text: Column): Column =
    bindOnce(tokens(text)) { toks =>
      val scored = LangProfiles.toSeq.sortBy(_._1).map { case (l, ws) =>
        struct(ratioOf(toks, ws).as("score"), lit(l).as("lang"))
      }
      // greatest(...) over structs compares fieldwise → highest score,
      // lexicographically largest lang on ties (deterministic).
      greatest(scored: _*).getField("lang")
    }

  /** Quality score in [0,1]: blend of length, mean token length,
    * punctuation density and stopword density. All terms rounded so the
    * oracle reproduces them exactly. */
  def qualityScore(text: Column): Column =
    bindOnce(tokens(text)) { toks =>
      val nTok = size(toks).cast("double")
      val meanLen = round6((length(text) - (nTok - 1)) / nTok)
      val stopR = ratioOf(toks, LangProfiles("en"))
      val lenTerm = least(nTok / lit(200.0), lit(1.0))
      round6(lit(0.4) * lenTerm + lit(0.3) * least(meanLen / lit(8.0), lit(1.0)) +
        lit(0.3) * least(stopR * lit(5.0), lit(1.0)))
    }

  /** Token counts: whitespace and a BPE-ish regex ([a-z0-9]+ runs after
    * lowercasing — identical regex semantics in Spark and DuckDB). */
  def whitespaceTokenCount(text: Column): Column = size(tokens(text))
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0)))
}
