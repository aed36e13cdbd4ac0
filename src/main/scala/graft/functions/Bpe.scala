package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.Sources

/** Byte-pair-encoding tokenizer over the public GPT-2 artifact format
  * (`vocab.json` token→id + `merges.txt` one ranked "a b" pair per
  * line) — the REAL tokenizer behind the pack-tokens pipeline, closing
  * the hash-stub seam so `.bin` shards carry actual BPE ids.
  *
  * Semantics (the GPT-2 `encoder.py` merge loop, reimplemented from
  * the published algorithm): per whitespace word, symbols start as
  * single characters; each round merges ALL left-to-right
  * non-overlapping occurrences of the adjacent pair with the LOWEST
  * merge rank, until no adjacent pair is ranked; final symbols map
  * through the vocab (missing → `<unk>`'s id). Deterministic —
  * mirrored exactly by a recursive-CTE oracle in SQL.
  *
  * Scale shape: the model (merge ranks + vocab) rides the codegen as
  * ONE reference object — generated source stays constant-size no
  * matter the vocab (the AdcScores/CentroidDistances pattern), the
  * expression stays inside whole-stage codegen, and a per-model word
  * cache (bounded) makes repeated words O(1) after first sight, the
  * GPT-2 encoder's own memoization. */
final class BpeModel(
    val mergeRanks: java.util.HashMap[String, Integer],
    val vocab: java.util.HashMap[String, Integer],
    val unkId: Int) extends Serializable {

  @transient private lazy val wordCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Int]]()
  private final val MaxCachedWords = 1 << 20

  def tokenizeWord(word: String): Array[Int] = {
    val cached = wordCache.get(word)
    if (cached != null) return cached
    var syms = new Array[String](word.length)
    var ci = 0
    while (ci < word.length) { syms(ci) = String.valueOf(word.charAt(ci)); ci += 1 }
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestI = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = mergeRanks.get(syms(i) + " " + syms(i + 1))
        if (r != null && r.intValue() < bestRank) {
          bestRank = r.intValue(); bestI = i
        }
        i += 1
      }
      if (bestI < 0) done = true
      else {
        val a = syms(bestI); val b = syms(bestI + 1); val ab = a + b
        val out = new java.util.ArrayList[String](syms.length)
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out.add(ab); j += 2
          } else { out.add(syms(j)); j += 1 }
        }
        syms = out.toArray(new Array[String](out.size))
        done = syms.length < 2
      }
    }
    val ids = new Array[Int](syms.length)
    var k = 0
    while (k < syms.length) {
      val v = vocab.get(syms(k))
      ids(k) = if (v == null) unkId else v.intValue()
      k += 1
    }
    if (wordCache.size < MaxCachedWords) wordCache.put(word, ids)
    ids
  }

  /** Whitespace-split `text` (single-space separator, empty tokens
    * dropped — `split(text, ' ')` semantics) and concatenate each
    * word's BPE ids in order. */
  def tokenizeText(text: UTF8String): GenericArrayData = {
    val s = text.toString
    val out = new java.util.ArrayList[Integer]()
    var start = 0
    var i = 0
    val n = s.length
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        if (i > start) {
          val ids = tokenizeWord(s.substring(start, i))
          var k = 0
          while (k < ids.length) { out.add(ids(k)); k += 1 }
        }
        start = i + 1
      }
      i += 1
    }
    val arr = new Array[Int](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j).intValue(); j += 1 }
    new GenericArrayData(arr)
  }
}

object Bpe {

  /** Load a model from the public artifact pair: `vocab.json`
    * (flat {"token": id, …}) + `merges.txt` (one "a b" per line, rank
    * = line order; a leading `#version` header line is skipped, the
    * huggingface flavor). `<unk>`'s id (0 if absent) is the
    * out-of-vocab fallback. Both files open through their path's
    * Hadoop FileSystem (a local path, a `file:` URI or a cluster
    * path). */
  def load(vocabPath: String, mergesPath: String): BpeModel = {
    val vocab = new java.util.HashMap[String, Integer]()
    parseVocab(vocabPath)
      .foreach { case (k, v) => vocab.put(k, Integer.valueOf(v)) }
    val ranks = new java.util.HashMap[String, Integer]()
    var rank = 0
    new String(Sources.readFile(mergesPath), StandardCharsets.UTF_8)
        .lines().forEach { line =>
      val t = line.trim
      if (t.nonEmpty && !t.startsWith("#")) {
        ranks.put(t, Integer.valueOf(rank)); rank += 1
      }
    }
    val unk = vocab.get("<unk>")
    new BpeModel(ranks, vocab, if (unk == null) 0 else unk.intValue())
  }

  /** Minimal flat {"string": int, …} JSON parser (the vocab.json
    * shape) — no JSON library in the dependency set; handles the JSON
    * string escapes that can occur in token text. */
  private[functions] def parseFlatJson(s: String): Seq[(String, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    var i = s.indexOf('{') + 1
    require(i > 0, "vocab.json: no object")
    while (i < s.length) {
      while (i < s.length && (s.charAt(i).isWhitespace || s.charAt(i) == ',')) i += 1
      if (i < s.length && s.charAt(i) == '}') return out.toSeq
      require(i < s.length && s.charAt(i) == '"', s"vocab.json: expected key at $i")
      i += 1
      val key = new java.lang.StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => key.append('\n'); case 't' => key.append('\t')
            case 'r' => key.append('\r'); case 'b' => key.append('\b')
            case 'f' => key.append('\f')
            case 'u' =>
              key.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
              i += 4
            case c => key.append(c)
          }
        } else key.append(s.charAt(i))
        i += 1
      }
      i += 1
      while (i < s.length && (s.charAt(i).isWhitespace || s.charAt(i) == ':')) i += 1
      val numStart = i
      while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '-')) i += 1
      out += ((key.toString, s.substring(numStart, i).toInt))
    }
    out.toSeq
  }

  /** The vocab.json pairs in file order (oracle-construction helper). */
  def parseVocab(path: String): Seq[(String, Int)] =
    parseFlatJson(new String(Sources.readFile(path), StandardCharsets.UTF_8))

  /** `bpe_tokenize(text)` → array<int> of the text's BPE token ids. */
  def bpe_tokenize(text: Column, model: BpeModel): Column =
    Bridge.column(BpeTokenize(Bridge.expression(text), model))
}

case class BpeTokenize(child: Expression, model: BpeModel)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "bpe_tokenize"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_tokenize needs STRING, got ${other.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    model.tokenizeText(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bpeModel", model, "graft.functions.BpeModel")
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $m.tokenizeText($s);")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeTokenize =
    copy(child = newChild)
}
