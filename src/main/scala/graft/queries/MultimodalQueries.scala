package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

import Shared._

/** Multimodal payloads: media decode, frame sampling, shot boundaries,
  * audio features and VAD, perceptual-hash dedup and CLIP-score
  * alignment. */
object MultimodalQueries extends QueryFamily("multimodal") {

  /** Synthetic media table: documents as opaque binary payloads + typed
    * metadata (the multimodal column model — payload bytes stay an
    * uninterpreted BINARY column; dims/frame metadata ride beside). */
  private def media(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("modality"),
      col("text").cast("binary").as("bytes"),
      ((col("doc_id") % 16 + 1) * 8).cast("int").as("width"),
      ((col("doc_id") % 9 + 1) * 8).cast("int").as("height"),
      (col("doc_id") % 7 + 1).cast("int").as("n_frames"))

  val all: Seq[Query] = Seq(
    // ---- multimodal: batch decode (mapInPandas-shaped seam) ----
    query("q25_media_decode")((s, dir) => {
      import graft.operators.Multimodal
      val ds = media(s, dir).as[Multimodal.Media](
        org.apache.spark.sql.Encoders.product[Multimodal.Media])
      Multimodal.mapDecodeBatches(ds, batchSize = 64).toDF()
        .select(col("media_id"), col("modality"), col("byte_len"),
          col("checksum"), round(col("mean_byte"), 6).as("mean_byte"))
    }) {
      s"""SELECT doc_id AS media_id,
         |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS modality,
         |  CAST(length(text) AS INT) AS byte_len,
         |  ${hashSql("text")} AS checksum,
         |  round(CAST(list_sum(list_transform(range(1, length(text)+1),
         |          mb_i -> ascii(text[mb_i]))) AS DOUBLE) / length(text), 6) AS mean_byte
         |FROM documents""".stripMargin
    },

    // ---- multimodal: frame sampling over video payload byte ranges ----
    query("q26_frame_sample")((s, dir) =>
      graft.operators.Multimodal.sampleFrames(
        media(s, dir).filter(length(col("bytes")) > lit(16) + col("n_frames")),
        stride = 2)) {
      s"""WITH m AS (
         |  SELECT doc_id AS media_id, text, doc_id % 7 + 1 AS n_frames,
         |         CAST(floor((length(text) - 16) / (doc_id % 7 + 1)) AS INT) AS frame_len
         |  FROM documents WHERE length(text) > 16 + (doc_id % 7 + 1)),
         |f AS (SELECT media_id, text, frame_len,
         |        CAST(unnest(range(0, n_frames, 2)) AS INT) AS frame_idx FROM m)
         |SELECT media_id, frame_idx,
         |  16 + frame_idx * frame_len AS frame_offset, frame_len,
         |  ${hashSql("substring(text, 16 + frame_idx * frame_len + 1, frame_len)")} AS frame_checksum
         |FROM f""".stripMargin
    },

    // ---- CLIP-score image-text alignment gate (LAION shape): cosine
    // between the byte-histogram image embedding (batched encoder
    // seam) and the hashed-BoW caption embedding (scan-side kernel) in
    // the shared dim-16 stub space, keep flagged at 0.5 ----
    query("q171_clip_align_filter")((s, dir) => {
      import graft.operators.Multimodal
      val imgs = media(s, dir).filter(col("modality") === "image")
        .as[Multimodal.Media](
          org.apache.spark.sql.Encoders.product[Multimodal.Media])
      Multimodal.clipAlignFilter(imgs,
        docs(s, dir).filter(col("doc_id") % 3 === 0),
        col("doc_id"), col("text"))
    }) {
      // q171: both stub towers replayed dense — the q41 byte histogram
      // and the q147 hashed-BoW ratios — cosine round6 in ascending-j
      // fold order (the engine's sparse fold skips exact zeros, which
      // is IEEE-identical), keep at 0.5, zero-image pairs dropped.
      def r6(e: String) = graft.functions.TextFunctions.round6Sql(e)
      val hash = hashSql("tok")
      s"""WITH m AS (SELECT doc_id AS media_id, text FROM documents
         |  WHERE doc_id % 3 = 0 AND length(text) >= 1),
         |iv AS (SELECT media_id, list_transform(range(0, 16), j ->
         |    CAST(list_sum(list_transform(range(1, length(text)+1),
         |      ci -> CASE WHEN ascii(text[ci]) % 16 = j
         |            THEN ascii(text[ci]) + 1 ELSE 0 END)) AS DOUBLE))
         |    AS v
         |  FROM m),
         |tv AS (SELECT media_id, list_transform(range(0, 16), fj ->
         |    CAST(len(list_filter(t, tok -> ($hash) % 16 = fj))
         |      AS DOUBLE) / len(t)) AS f
         |  FROM (SELECT media_id, string_split(text, ' ') AS t FROM m)),
         |s AS (SELECT media_id,
         |  ${r6(
            "list_reduce(list_prepend(CAST(0 AS DOUBLE)," +
              " list_transform(range(1, 17), zi -> f[zi] * v[zi]))," +
              " (a, x) -> a + x)" +
            " / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE)," +
              " list_transform(range(1, 17), zi -> v[zi] * v[zi]))," +
              " (a, x) -> a + x))" +
            " * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE)," +
              " list_transform(range(1, 17), zi -> f[zi] * f[zi]))," +
              " (a, x) -> a + x)))")} AS sim
         |  FROM iv JOIN tv USING (media_id))
         |SELECT media_id, sim, sim >= 0.5 AS keep FROM s""".stripMargin
    },

    // ---- shot-boundary detection: adjacent-frame intensity deltas
    // under a per-video keyed window, running boundary count = dense
    // shot ids; signature extraction scan-local (payload never
    // shuffles), stub luma at the q26 decode seam ----
    query("q170_shot_boundaries")((s, dir) =>
      graft.operators.Multimodal.shotBoundaries(
        media(s, dir).filter(col("modality") === "video" &&
          length(col("bytes")) > lit(16) + col("n_frames")))) {
      // q170: the q26 frame-checksum replay folded to intensity, then
      // plain SQL windows — lag delta, threshold, running boundary sum.
      s"""WITH m AS (
         |  SELECT doc_id AS media_id, text, doc_id % 7 + 1 AS n_frames,
         |    CAST(floor((length(text) - 16) / (doc_id % 7 + 1)) AS INT)
         |      AS frame_len
         |  FROM documents
         |  WHERE doc_id % 3 = 2
         |    AND length(text) > 16 + (doc_id % 7 + 1)),
         |f AS (SELECT media_id, text, frame_len,
         |    CAST(unnest(range(0, n_frames)) AS INT) AS frame_idx
         |  FROM m),
         |sig AS (SELECT media_id, frame_idx,
         |    (${hashSql("substring(text, 16 + frame_idx * frame_len" +
               " + 1, frame_len)")}) % 256 AS intensity
         |  FROM f),
         |d AS (SELECT media_id, frame_idx,
         |    CAST(intensity AS BIGINT) AS intensity,
         |    abs(intensity - lag(intensity) OVER
         |      (PARTITION BY media_id ORDER BY frame_idx)) AS delta
         |  FROM sig)
         |SELECT media_id, frame_idx, intensity,
         |  CAST(delta AS BIGINT) AS delta,
         |  coalesce(delta > 128, false) AS is_boundary,
         |  CAST(sum(CASE WHEN coalesce(delta > 128, false)
         |             THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY media_id ORDER BY frame_idx)
         |    AS BIGINT) AS shot_id
         |FROM d""".stripMargin
    },

    // ---- REAL audio codec round trip: each audio payload becomes a
    // signed 16-bit PCM waveform (byte-delta DPCM synth), is wrapped
    // in a spec-correct RIFF/WAVE container by the WavCodec WRITER,
    // then flows through the batched decode seam where the strict
    // chunk-walking PARSER recovers the samples and computes the
    // curation features (peak/RMS/zero-crossings). The oracle computes
    // the same features directly from the payload bytes — an
    // independent path that never sees the container, so it checks the
    // writer AND parser agree with the spec ----
    query("q133_wav_features")((s, dir) => {
      import graft.operators.Multimodal
      val enc = org.apache.spark.sql.Encoders.product[Multimodal.Media]
      val ds = media(s, dir).filter(col("modality") === "audio")
        .as[Multimodal.Media](enc)
        .map(m => m.copy(bytes = Multimodal.WavCodec.encode(
          Multimodal.WavCodec.pcm16FromByteDeltas(m.bytes))))(enc)
      Multimodal.mapDecodeWavBatches(ds).toDF()
    }) {
      // q133: the waveform replayed WITHOUT the container — samples are
      // the byte deltas << 8, features recomputed from first principles
      // (peak, floor-rounded RMS over exact long Σs², sign-flip
      // crossings, floor-div duration) — so a header-layout bug in the
      // writer or a chunk-walk bug in the parser breaks the match.
      """WITH a AS (SELECT doc_id AS media_id, text FROM documents
        |           WHERE doc_id % 3 = 1),
        |d AS (SELECT media_id, list_transform(range(1, length(text)),
        |        wi -> (ascii(text[CAST(wi AS INT) + 1]) -
        |               ascii(text[CAST(wi AS INT)])) * 256) AS s
        |      FROM a)
        |SELECT media_id,
        |  8000 AS sample_rate,
        |  CAST(len(s) AS INT) AS n_samples,
        |  CAST(len(s) AS BIGINT) * 1000 // 8000 AS duration_ms,
        |  CAST(CASE WHEN len(s) = 0 THEN 0
        |       ELSE list_max(list_transform(s, x -> abs(x))) END AS INT) AS peak,
        |  CASE WHEN len(s) = 0 THEN 0.0
        |       ELSE floor(sqrt(CAST(list_sum(list_transform(s,
        |              x -> CAST(x AS BIGINT) * x)) AS DOUBLE) / len(s))
        |            * 1000000.0 + 0.5) / 1000000.0 END AS rms,
        |  CAST(len(list_filter(range(2, len(s) + 1),
        |    zi -> (s[CAST(zi AS INT) - 1] < 0) <> (s[CAST(zi AS INT)] < 0)))
        |    AS INT) AS zero_crossings
        |FROM d""".stripMargin
    },

    // ---- VAD-style energy-gated speech segments: the q133 clips
    // framed at 32 samples, per-frame grid RMS, runs of frames with
    // rms >= 12000 merged to segments — the silence-trimming step
    // between audio decode and packing; replayed from the payload
    // bytes by the oracle (container-independent, like q133) ----
    query("q150_audio_vad_segments")((s, dir) => {
      import graft.operators.Multimodal
      val enc = org.apache.spark.sql.Encoders.product[Multimodal.Media]
      val ds = media(s, dir).filter(col("modality") === "audio")
        .as[Multimodal.Media](enc)
        .map(m => m.copy(bytes = Multimodal.WavCodec.encode(
          Multimodal.WavCodec.pcm16FromByteDeltas(m.bytes))))(enc)
      Multimodal.mapVadBatches(ds, frameLen = 32, threshold = 12000.0)
        .toDF()
    }) {
      // q150: the q133 waveform replayed without the container, framed
      // at 32 samples (full frames only), per-frame floor-rounded RMS
      // over exact long Σs², the >= 12000 gate, and gaps-and-islands
      // run merging (k − row_number) with floor-div ms bounds.
      """WITH a AS (SELECT doc_id AS media_id, text FROM documents
        |           WHERE doc_id % 3 = 1),
        |d AS (SELECT media_id, list_transform(range(1, length(text)),
        |        wi -> (ascii(text[CAST(wi AS INT) + 1]) -
        |               ascii(text[CAST(wi AS INT)])) * 256) AS s
        |      FROM a),
        |f AS (SELECT media_id, s,
        |        CAST(unnest(range(0, len(s) // 32)) AS INT) AS k
        |      FROM d),
        |e AS (SELECT media_id, k,
        |    floor(sqrt(CAST(list_sum(list_transform(
        |        range(k * 32 + 1, k * 32 + 33),
        |        si -> CAST(s[CAST(si AS INT)] AS BIGINT) *
        |              s[CAST(si AS INT)])) AS DOUBLE) / 32.0)
        |      * 1000000.0 + 0.5) / 1000000.0 AS rms
        |  FROM f),
        |act AS (SELECT media_id, k, rms FROM e WHERE rms >= 12000.0),
        |isl AS (SELECT media_id, k, rms,
        |    k - row_number() OVER (PARTITION BY media_id ORDER BY k) AS g
        |  FROM act),
        |sg AS (SELECT media_id, min(k) AS start_frame,
        |    CAST(count(*) AS INT) AS n_frames, max(rms) AS max_rms
        |  FROM isl GROUP BY media_id, g)
        |SELECT media_id,
        |  CAST(row_number() OVER (PARTITION BY media_id
        |    ORDER BY start_frame) AS INT) AS seg,
        |  CAST(start_frame AS INT) AS start_frame, n_frames,
        |  CAST(start_frame AS BIGINT) * 32 * 1000 // 8000 AS start_ms,
        |  CAST(start_frame + n_frames AS BIGINT) * 32 * 1000 // 8000
        |    AS end_ms,
        |  max_rms
        |FROM sg""".stripMargin
    },

    // ---- multimodal near-dup: perceptual-hash (aHash) image dedup —
    // 60-bit byte-grid hash per payload (zero shuffle), pigeonhole-
    // blocked Hamming pairs (lossless recall ≤ maxHamming). Threshold
    // 10: the byte-level stand-in hash is noisier than a pixel aHash
    // (near-dup TEXTS shift byte positions), and the oracle replays
    // the chosen operating point exactly either way ----
    query("q129_media_neardup_phash")((s, dir) =>
      graft.operators.Multimodal.mediaNearDupPairs(
        media(s, dir).filter(col("modality") === "image"),
        maxHamming = 10)) {
      // q129: the 60-bit average-hash replayed — evenly-spaced byte
      // samples, integer mean threshold (60·b > Σb), brute-force pair
      // join at hamming <= 10 (the blocked join is lossless by
      // pigeonhole, so the quadratic form IS its result).
      """WITH m AS (SELECT doc_id AS media_id, text FROM documents
        |           WHERE doc_id % 3 = 0 AND length(text) >= 1),
        |b AS (SELECT media_id, list_transform(range(0, 60),
        |        i -> ascii(text[CAST(i * length(text) // 60 AS INT) + 1])) AS sb
        |      FROM m),
        |h AS (SELECT media_id, CAST(list_sum(list_transform(range(0, 60),
        |        i -> CASE WHEN 60 * sb[CAST(i AS INT) + 1] > list_sum(sb)
        |             THEN CAST(power(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS ph
        |      FROM b)
        |SELECT a.media_id AS a_id, b.media_id AS b_id,
        |       bit_count(xor(a.ph, b.ph)) AS hamming
        |FROM h a JOIN h b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.ph, b.ph)) <= 10""".stripMargin
    },

    // ---- multimodal feature extraction → ANN composition: media
    // payloads through the batched encoder seam (integer byte-histogram
    // stub — exact floats, so the downstream cosine top-k is
    // oracle-exact), fed straight into the similarity operator ----
    query("q41_media_embed_topk")((s, dir) => {
      import graft.operators.Multimodal
      val ds = media(s, dir).as[Multimodal.Media](
        org.apache.spark.sql.Encoders.product[Multimodal.Media])
      val embs = Multimodal.mapEmbedBatches(ds, dim = 16, batchSize = 64)
        .toDF().select(col("media_id").as("vec_id"), col("embedding"))
      Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 4), k = 3)
    }) {
      // q41: the embedding stub is an integer byte histogram (bucket j
      // sums ascii+1 over chars with ascii % 16 == j) — order-independent
      // exact sums, exact as floats — so the cosine top-k over media
      // embeddings reproduces bit-for-bit.
      """WITH e AS (
        |  SELECT doc_id AS id,
        |    list_transform(range(0, 16), j ->
        |      CAST(list_sum(list_transform(range(1, length(text)+1),
        |        ci -> CASE WHEN ascii(text[ci]) % 16 = j
        |              THEN ascii(text[ci]) + 1 ELSE 0 END)) AS DOUBLE)) AS v
        |  FROM documents),
        |q AS (SELECT id AS q_id, v AS qv FROM e WHERE id < 4),
        |c AS (SELECT id AS n_id, v AS cv FROM e),
        |s AS (SELECT q_id, n_id,
        |  round(
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(qv)+1),
        |      zi -> qv[zi] * cv[zi])), (a, x) -> a + x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(qv)+1),
        |         zi -> qv[zi] * qv[zi])), (a, x) -> a + x))
        |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(cv)+1),
        |         zi -> cv[zi] * cv[zi])), (a, x) -> a + x))), 6) AS sim
        |  FROM q CROSS JOIN c WHERE q_id <> n_id)
        |SELECT q_id, n_id, sim, rank FROM (
        |  SELECT q_id, n_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
        |  FROM s) WHERE rank <= 3""".stripMargin
    }
  )
}
