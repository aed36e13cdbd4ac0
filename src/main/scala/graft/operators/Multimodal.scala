package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash.portable_hash

/** Multimodal columns for the training-data pipeline: media payloads are
  * opaque `binary` columns with a typed metadata struct riding beside
  * them. Decode / feature-extract / resize / frame-sample are modeled so
  * the Spark-side plumbing — schema, partitioning, batch shape — is real
  * and tested. The seam carries one REAL codec ([[PpmCodec]], a strict
  * P6 parser — no external libraries needed) proving an actual
  * byte-format decode flows through the batched contract; compressed
  * formats (JPEG/PNG/audio) remain behind [[DecodeStub]], a
  * deterministic byte-level stand-in a deployment swaps for a
  * JNI/javacv codec without touching any plan shape.
  *
  * Scale design: payload bytes never shuffle for metadata-only work
  * (decode/meta/fingerprint are per-row projections); the per-batch
  * decode path ([[mapDecodeBatches]]) mirrors PySpark's `mapInPandas`
  * contract — partition iterator → fixed-size batches → per-batch codec
  * invocation — which is how an expensive vectorized decoder (GPU,
  * native) wants to be fed at 100 TB.
  */
object Multimodal {

  /** Media row: payload + typed metadata (the `binary`-column model). */
  final case class Media(
      media_id: Long, modality: String, bytes: Array[Byte],
      width: Int, height: Int, n_frames: Int)

  /** Decoded per-row features produced by the (stub) codec. */
  final case class MediaFeatures(
      media_id: Long, modality: String, byte_len: Int,
      checksum: Long, mean_byte: Double)

  // ---------------------------------------------------------------------
  // DECODE STUB — the single seam where a real codec plugs in.
  // Deterministic byte arithmetic stands in for pixel decoding so tests
  // and oracles can verify the plumbing end-to-end.
  // ---------------------------------------------------------------------
  object DecodeStub {
    /** Batch decode: one call per batch (the mapInPandas-shaped seam).
      * A real implementation hands `batch.map(_.bytes)` to a vectorized
      * decoder; the stub derives features from the raw bytes. */
    def decodeBatch(batch: Seq[Media]): Seq[MediaFeatures] =
      batch.map { m =>
        var h = 0L
        var s = 0L
        var k = 0
        while (k < m.bytes.length) {
          h = (h * 31L + (m.bytes(k) & 0xffL)) % 1000000007L
          s += (m.bytes(k) & 0xffL)
          k += 1
        }
        MediaFeatures(m.media_id, m.modality, m.bytes.length, h,
          if (m.bytes.isEmpty) 0.0 else s.toDouble / m.bytes.length)
      }
  }

  // ---------------------------------------------------------------------
  // REAL CODEC — PPM (P6), the simplest public image format: ASCII
  // header "P6 <width> <height> <maxval>" with '#' comments, then one
  // whitespace byte, then width·height RGB triplets. A genuine
  // byte-format parse through the SAME batched seam the stub uses —
  // proof the seam carries a real decoder, not only byte arithmetic.
  // ---------------------------------------------------------------------

  /** A decoded P6 image: dimensions + the raw RGB plane. */
  final case class PpmImage(width: Int, height: Int, pixels: Array[Byte])

  /** Real per-image features from the decoded PIXELS (not the file
    * bytes): dimensions and per-channel means. */
  final case class PpmFeatures(
      media_id: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  object PpmCodec {
    /** Strict P6 parser (maxval ≤ 255). Fails loudly on any malformed
      * payload — a training pipeline wants corrupt media surfaced, not
      * silently zero-filled. */
    def decode(bytes: Array[Byte]): PpmImage = {
      var pos = 0
      def fail(msg: String): Nothing =
        throw new IllegalArgumentException(s"PPM: $msg at byte $pos")
      def isWs(b: Byte) = b == ' ' || b == '\n' || b == '\r' || b == '\t'
      // one token, skipping whitespace runs and '#' comments before it
      def token(): String = {
        while (pos < bytes.length &&
               (isWs(bytes(pos)) || bytes(pos) == '#')) {
          if (bytes(pos) == '#')
            while (pos < bytes.length && bytes(pos) != '\n') pos += 1
          else pos += 1
        }
        val start = pos
        while (pos < bytes.length && !isWs(bytes(pos))) pos += 1
        if (pos == start) fail("missing header token")
        new String(bytes, start, pos - start, "US-ASCII")
      }
      if (token() != "P6") fail("not a P6 file")
      val w = token().toInt
      val h = token().toInt
      val maxv = token().toInt
      if (w <= 0 || h <= 0) fail(s"bad dimensions ${w}x$h")
      if (maxv <= 0 || maxv > 255) fail(s"unsupported maxval $maxv")
      pos += 1 // exactly ONE whitespace byte separates header and data
      val n = w * h * 3
      if (bytes.length - pos < n)
        fail(s"truncated pixel data: need $n, have ${bytes.length - pos}")
      PpmImage(w, h, java.util.Arrays.copyOfRange(bytes, pos, pos + n))
    }

    /** Batch decode — the same mapInPandas-shaped contract as
      * [[DecodeStub.decodeBatch]], running the REAL parser. */
    def decodeBatch(batch: Seq[Media]): Seq[PpmFeatures] =
      batch.map { m =>
        val img = decode(m.bytes)
        val sums = new Array[Long](3)
        var k = 0
        while (k < img.pixels.length) {
          sums(k % 3) += img.pixels(k) & 0xff
          k += 1
        }
        val nPix = (img.width.toLong * img.height).toDouble
        PpmFeatures(m.media_id, img.width, img.height,
          sums(0) / nPix, sums(1) / nPix, sums(2) / nPix)
      }
  }

  /** Per-batch REAL decode (PPM payloads): identical plumbing to
    * [[mapDecodeBatches]] — partition iterator → `batchSize` groups →
    * one codec call per batch — with the actual P6 parser as the
    * codec. */
  def mapDecodePpmBatches(
      media: Dataset[Media], batchSize: Int = 64): Dataset[PpmFeatures] = {
    implicit val enc = Encoders.product[PpmFeatures]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(b => PpmCodec.decodeBatch(b.toSeq))
    }
  }

  /** Media embedding row (feature extraction output — feeds the
    * Similarity operators). */
  final case class MediaEmbedding(media_id: Long, embedding: Seq[Float])

  object EmbedStub {
    /** Batch feature extraction — the encoder seam (a real deployment
      * hands the batch to a vision/audio model). The stub is a byte
      * histogram folded into `dim` buckets: bucket j sums (b&0xff)+1
      * over bytes with b % dim == j. INTEGER sums (order-independent,
      * exact) cast to float (exact below 2^24), so downstream cosine
      * similarities are bit-reproducible by an oracle — cosine is
      * scale-invariant, so no lossy normalization is needed. */
    def embedBatch(batch: Seq[Media], dim: Int): Seq[MediaEmbedding] =
      batch.map { m =>
        val hist = new Array[Long](dim)
        var k = 0
        while (k < m.bytes.length) {
          val b = m.bytes(k) & 0xff
          hist(b % dim) += b + 1
          k += 1
        }
        MediaEmbedding(m.media_id, hist.toSeq.map(_.toFloat))
      }
  }

  /** Per-batch feature extraction (mapInPandas-shaped, like
    * [[mapDecodeBatches]]): partition iterator → `batchSize` groups →
    * one encoder call per batch. Output plugs straight into
    * [[graft.operators.Similarity]] (vec_id=media_id, embedding). */
  def mapEmbedBatches(
      media: Dataset[Media], dim: Int = 16,
      batchSize: Int = 64): Dataset[MediaEmbedding] = {
    implicit val enc = Encoders.product[MediaEmbedding]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(b => EmbedStub.embedBatch(b.toSeq, dim))
    }
  }

  /** Signature width of [[perceptualHash]]: 60 bits — not the
    * classic 64 — so the packed value stays strictly positive in any
    * engine with signed-64 integers (2^63 overflows DuckDB's BIGINT
    * and flips the Scala Long sign; 60 divides evenly into the 2–6
    * pigeonhole blocks the pair join uses). */
  val PHashBits = 60

  /** PERCEPTUAL (average) HASH over a binary payload — the image-dedup
    * fingerprint (aHash family: sample a fixed grid, threshold each
    * sample against the sample mean; near-identical payloads differ in
    * few bits). Adapted to the opaque-binary column model: the "grid"
    * is [[PHashBits]] byte positions evenly spaced over the payload
    * (`pos_i = i·len DIV 60` — scale-invariant, so a payload and a
    * lightly-edited copy sample ~the same content), and the threshold
    * compare is INTEGER (`60·b_i > Σb` ⟺ `b_i > mean` — no FP, so the
    * bit pattern replays exactly in any engine). One native codegen
    * kernel ([[graft.functions.AvgHash]], the PortableHash pattern) —
    * zero shuffle, one generated loop per row, the payload never
    * leaves its scan; built-in HOF composition was measured ~1.5 ms
    * per 3 KB row interpreted, three orders slower.
    * A real deployment swaps this column for a
    * decoded-pixel aHash behind the same signature; every downstream
    * step (the blocked pair join, clustering) is unchanged. */
  def perceptualHash(bytes: Column): Column =
    graft.functions.AvgHash.avg_hash60(bytes)

  /** Perceptual-hash NEAR-DUPLICATE pairs over a media table — image
    * dedup as the text operators do it: per-row [[perceptualHash]]
    * (zero shuffle), then [[Dedup.hammingPairsBlocked]]'s pigeonhole
    * equi-join (lossless recall at ≤ maxHamming; the only exchange is
    * the tiny (band, key) posting shuffle — payload bytes never
    * shuffle). Empty payloads are excluded (no content to hash).
    * @return (a_id, b_id, hamming). */
  def mediaNearDupPairs(
      media: DataFrame, maxHamming: Int = 3,
      idCol: String = "media_id", bytesCol: String = "bytes"): DataFrame =
    Dedup.hammingPairsBlocked(
      // id-keyed exchange below the pair machinery (the minhash
      // precedent): projection collapse would otherwise inline the
      // hash into both join legs' band explodes AND the per-candidate
      // join condition — re-hashing payloads per candidate pair; the
      // exchange materializes the narrow (id, simhash) rows once and
      // drops the payload bytes from everything above
      Par.spreadBy(media.filter(length(col(bytesCol)) >= 1)
        .select(col(idCol).as("id"),
          perceptualHash(col(bytesCol)).as("simhash")), col("id")),
      maxHamming, bits = PHashBits)

  /** Per-batch decode over a typed Dataset — the Scala analog of
    * `mapInPandas`: partition iterator → `batchSize` groups → ONE codec
    * call per batch. Batching shape is what matters; the stub is the
    * codec. */
  def mapDecodeBatches(media: Dataset[Media], batchSize: Int = 64): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(b => DecodeStub.decodeBatch(b.toSeq))
    }
  }

  /** Frame sampling for video-shaped payloads: every `stride`-th frame
    * index of `n_frames`, with the byte range each frame occupies
    * (fixed-size frames after `headerLen`). Pure relational explode —
    * the payload itself is NOT exploded; downstream decode reads
    * (offset, frame_len) slices. */
  def sampleFrames(
      media: DataFrame, stride: Int,
      headerLen: Int = 16): DataFrame = {
    require(stride > 0)
    val frameLen = (length(col("bytes")) - headerLen) / greatest(col("n_frames"), lit(1))
    media
      .withColumn("frame_len", frameLen.cast("int"))
      .withColumn("frame_idx",
        explode(sequence(lit(0), greatest(col("n_frames"), lit(1)) - 1, lit(stride))))
      .select(
        col("media_id"), col("frame_idx"),
        (lit(headerLen) + col("frame_idx") * col("frame_len")).as("frame_offset"),
        col("frame_len"),
        // stub "frame decode": checksum of the frame's byte slice
        portable_hash(
          col("bytes").substr(lit(headerLen) + col("frame_idx") * col("frame_len") + 1,
            col("frame_len"))).as("frame_checksum"))
  }

  /** IMAGE–TEXT ALIGNMENT FILTER — the CLIP-score curation gate of
    * image-text corpus building (public recipe: LAION-400M/5B keep a
    * pair iff cosine(image_emb, caption_emb) clears a threshold —
    * Schuhmann et al. 2021; the single most important filter of
    * multimodal pretraining): each pair scores the cosine between its
    * image embedding and its caption embedding in a shared
    * `dim`-space, and `keep` flags survivors — emitted as a FLAG, not
    * a filter, so the audit trail (what was dropped and how close it
    * was) is part of the output.
    *
    * Encoders at the established stub seams: image = the
    * [[EmbedStub]] byte histogram through the batched
    * [[mapEmbedBatches]] contract (the GPU-encoder shape); caption =
    * the [[graft.functions.HashedBow]] scan-side kernel (same
    * featurization the quality classifier trains on). Both are
    * deterministic, so every cosine replays bit-for-bit in the
    * oracle; a deployment swaps real CLIP towers at the same two
    * seams without touching the plan.
    *
    * Float discipline: the text side folds its ASCENDING-j sparse
    * pairs; skipping exact-zero terms is IEEE-identical to the dense
    * ascending sum, so the engine's sparse fold and the oracle's
    * dense fold agree bit-for-bit. round6 on the final cosine.
    *
    * Scale shape: both encoders are SCAN-LOCAL projections (payload
    * and text never shuffle for scoring); the one exchange is the
    * 1:1 id-keyed join of two narrow embedding tables — AQE broadcasts
    * whichever side is small, co-partitioning covers the rest. Pairs
    * with an all-zero image embedding (empty payload) are dropped:
    * alignment against no signal is undefined.
    * @return (media_id, sim, keep). */
  def clipAlignFilter(
      media: Dataset[Media], captions: DataFrame,
      idCol: Column, textCol: Column,
      dim: Int = 16, threshold: Double = 0.5): DataFrame = {
    require(dim >= 2, "dim must be >= 2")
    import graft.functions.TextFunctions.round6
    val img = mapEmbedBatches(media, dim).toDF()
      .select(col("media_id"), col("embedding").as("__iv"))
    val txt = captions.select(idCol.cast("long").as("media_id"),
      graft.functions.HashedBow.hashed_bow(textCol, dim).as("__tv"))
    val dot = aggregate(col("__tv"), lit(0.0),
      (a, p) => a + p.getField("x") *
        element_at(col("__iv"), p.getField("j") + 1).cast("double"))
    val nT = sqrt(aggregate(col("__tv"), lit(0.0),
      (a, p) => a + p.getField("x") * p.getField("x")))
    val nI = sqrt(aggregate(col("__iv"), lit(0.0),
      (a, v) => a + v.cast("double") * v.cast("double")))
    img.join(txt, "media_id")
      .withColumn("__ni", nI)
      .withColumn("__nt", nT)
      // both norms must be strictly positive, SYMMETRICALLY: a zero
      // vector on either side gives 0/0 = NaN, which passes isNotNull
      // and compares TRUE under Spark's NaN-greatest ordering — the
      // audit trail must never carry undefined keep flags. (hashed_bow
      // happens to emit ≥1 bucket even for an empty caption, so today
      // only the image side can be zero — the guard makes the contract
      // hold for ANY text-vector source, not that accident.)
      .filter(col("__ni") > 0.0 && col("__nt") > 0.0)
      .select(col("media_id"), round6(dot / (col("__ni") * col("__nt"))).as("sim"))
      .filter(col("sim").isNotNull)
      .withColumn("keep", col("sim") >= threshold)
  }

  /** SHOT-BOUNDARY DETECTION — the classic video curation segmenter
    * (public recipe: adjacent-frame histogram/intensity distance
    * thresholding — the first stage of every shot-level video
    * pipeline; frames whose signature jumps past the threshold open a
    * new shot): per video, each sampled frame reduces to a scalar
    * intensity signature, adjacent frames compare under a keyed
    * window, and a running boundary count assigns dense `shot_id`s.
    *
    * The SIGNATURE is the [[sampleFrames]] stub decode (frame-slice
    * checksum folded to [0,256)) — a deployment swaps in a real luma
    * histogram at the same seam without touching the plan; the
    * boundary/segmentation plumbing (keyed frame ordering, lag
    * compare, running shot assignment) is the real, tested deliverable.
    *
    * Scale shape: signature extraction is SCAN-LOCAL (the per-frame
    * projection happens before any exchange — payload bytes never
    * shuffle), so the one exchange carries ~24 B/frame rows into the
    * per-video window; videos are independent window partitions (the
    * keyed-window shape that parallelizes by media_id; a single
    * pathological hours-long video bounds a reducer at its own frame
    * count).
    *
    * First frame of each video: `delta` NULL, never a boundary —
    * shot_id 0 starts at frame 0 by definition.
    * @return (media_id, frame_idx, intensity, delta, is_boundary,
    *         shot_id). */
  def shotBoundaries(
      media: DataFrame, threshold: Int = 128,
      headerLen: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold >= 0, "threshold must be >= 0")
    val frames = sampleFrames(media, stride = 1, headerLen)
      .select(col("media_id"), col("frame_idx"),
        pmod(col("frame_checksum"), lit(256L)).as("intensity"))
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("delta",
        abs(col("intensity") - lag(col("intensity"), 1).over(w)))
      .withColumn("is_boundary",
        coalesce(col("delta") > threshold, lit(false)))
      .withColumn("shot_id",
        sum(col("is_boundary").cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
  }

  // ---------------------------------------------------------------------
  // REAL AUDIO CODEC — WAV (RIFF/WAVE, 16-bit PCM mono). Like PpmCodec
  // for images: a genuine container format written AND parsed by hand
  // (RIFF chunk walk, fmt validation, odd-size pad bytes), so the audio
  // leg of the multimodal seam carries a real byte format end to end.
  // The WRITER wraps PCM samples in a spec-correct container; the
  // READER is a strict chunk walker that skips unknown chunks (LIST,
  // cue, …) and fails loudly on non-PCM/non-mono/non-16-bit payloads.
  // ---------------------------------------------------------------------

  /** Decoded WAV: format header fields + the 16-bit sample plane. */
  final case class WavAudio(
      sampleRate: Int, nChannels: Int, bitsPerSample: Int,
      samples: Array[Short])

  /** Per-clip audio features from the decoded SAMPLES (not the file
    * bytes) — the standard cheap audio-curation signals: length,
    * loudness (peak/RMS) and zero-crossing count (a noisiness
    * proxy). All-integer except rms (round6'd — oracle-portable). */
  final case class WavFeatures(
      media_id: Long, sample_rate: Int, n_samples: Int, duration_ms: Long,
      peak: Int, rms: Double, zero_crossings: Int)

  object WavCodec {
    val DefaultRate = 8000

    /** 8-bit differential stream → 16-bit PCM (the DPCM-style synth
      * that turns an opaque byte payload into a signed waveform):
      * sample_i = (b[i+1] − b[i]) << 8 over unsigned bytes — n−1
      * samples, oscillating sign, exactly replayable from the bytes. */
    def pcm16FromByteDeltas(payload: Array[Byte]): Array[Short] = {
      if (payload.length < 2) return Array.emptyShortArray
      val out = new Array[Short](payload.length - 1)
      var i = 0
      while (i < out.length) {
        out(i) = (((payload(i + 1) & 0xff) - (payload(i) & 0xff)) << 8).toShort
        i += 1
      }
      out
    }

    /** Spec-correct RIFF/WAVE writer: canonical 44-byte header (fmt
      * chunk first, PCM, mono, 16-bit) + the little-endian sample
      * plane. */
    def encode(samples: Array[Short], sampleRate: Int = DefaultRate): Array[Byte] = {
      require(sampleRate > 0, "sampleRate must be positive")
      val dataLen = samples.length * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort)            // PCM
        .putShort(1.toShort)            // mono
        .putInt(sampleRate)
        .putInt(sampleRate * 2)         // byte rate
        .putShort(2.toShort)            // block align
        .putShort(16.toShort)           // bits per sample
      buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      while (i < samples.length) { buf.putShort(samples(i)); i += 1 }
      buf.array()
    }

    /** Strict RIFF chunk-walking parser: validates the RIFF/WAVE
      * magic, walks chunks honoring the odd-size pad rule, requires a
      * PCM mono 16-bit `fmt ` chunk BEFORE `data` (the spec's
      * ordering), and fails loudly otherwise — corrupt media must
      * surface, not zero-fill. Unknown chunks (LIST, cue, fact, …)
      * are skipped. */
    def decode(bytes: Array[Byte]): WavAudio = {
      def fail(msg: String): Nothing =
        throw new IllegalArgumentException(s"WAV: $msg")
      if (bytes.length < 12) fail("too short for a RIFF header")
      val buf = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = {
        val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
      }
      if (fourcc() != "RIFF") fail("missing RIFF magic")
      buf.getInt // declared riff size; real files lie, walk to EOF
      if (fourcc() != "WAVE") fail("missing WAVE form type")
      var fmt: Option[(Int, Int, Int)] = None // (rate, channels, bits)
      while (buf.remaining() >= 8) {
        val id = fourcc()
        val size = buf.getInt
        if (size < 0 || size > buf.remaining()) fail(s"bad $id chunk size $size")
        if (id == "fmt ") {
          if (size < 16) fail(s"fmt chunk too small ($size)")
          val start = buf.position()
          val audioFormat = buf.getShort & 0xffff
          val channels = buf.getShort & 0xffff
          val rate = buf.getInt
          buf.getInt; buf.getShort // byte rate, block align
          val bits = buf.getShort & 0xffff
          if (audioFormat != 1) fail(s"not PCM (format $audioFormat)")
          if (channels != 1) fail(s"not mono ($channels channels)")
          if (bits != 16) fail(s"not 16-bit ($bits)")
          // a zero/negative rate otherwise passes decode and only
          // blows up later as a bare ArithmeticException in the ms
          // arithmetic of vadSegments (and features would report
          // duration_ms = 0) — corrupt media must fail HERE, loudly
          if (rate <= 0) fail(s"bad sample rate $rate")
          fmt = Some((rate, channels, bits))
          buf.position(start + size + (size & 1)) // pad byte on odd size
        } else if (id == "data") {
          val (rate, ch, bits) = fmt.getOrElse(fail("data chunk before fmt"))
          val n = size / 2
          val samples = new Array[Short](n)
          var i = 0
          while (i < n) { samples(i) = buf.getShort; i += 1 }
          return WavAudio(rate, ch, bits, samples)
        } else {
          buf.position(buf.position() + size + (size & 1))
        }
      }
      fail("no data chunk")
    }

    /** Features from a decoded clip — exact integer arithmetic plus
      * one round6'd RMS (Σs² fits a long: 2³⁰ per sample). Crossing =
      * sign-bit flip between consecutive samples (0 counts as
      * non-negative). */
    def features(mediaId: Long, audio: WavAudio): WavFeatures = {
      val s = audio.samples
      var peak = 0
      var sumSq = 0L
      var zc = 0
      var i = 0
      while (i < s.length) {
        val v = s(i).toInt
        val a = math.abs(v)
        if (a > peak) peak = a
        sumSq += v.toLong * v
        if (i > 0 && ((s(i - 1) < 0) != (v < 0))) zc += 1
        i += 1
      }
      val n = s.length
      val rms =
        if (n == 0) 0.0
        else math.floor(math.sqrt(sumSq.toDouble / n) * 1e6 + 0.5) / 1e6
      WavFeatures(mediaId, audio.sampleRate, n,
        if (audio.sampleRate == 0) 0L else n.toLong * 1000L / audio.sampleRate,
        peak, rms, zc)
    }

    /** Batch decode — the mapInPandas-shaped contract, real parser. */
    def decodeBatch(batch: Seq[Media]): Seq[WavFeatures] =
      batch.map(m => features(m.media_id, decode(m.bytes)))

    /** ENERGY-GATED SPEECH SEGMENTS (VAD-style silence trimming — the
      * step an audio-training pipeline runs between decode and
      * transcription/packing: drop the silence, keep utterances):
      * frame the clip into fixed `frameLen`-sample windows (FULL
      * frames only — a partial tail is dropped, documented contract),
      * per-frame RMS on the 6dp grid (exact long Σs² then one
      * round6'd sqrt, the [[features]] discipline), a frame is ACTIVE
      * iff rms ≥ threshold (threshold chosen on the grid), and
      * maximal runs of active frames become segments. All arithmetic
      * integer or grid-rounded, so the oracle replays it from the
      * payload bytes without the container. Millisecond bounds are
      * floor integer division by the sample rate. */
    def vadSegments(
        mediaId: Long, audio: WavAudio, frameLen: Int,
        threshold: Double): Seq[VadSegment] = {
      require(frameLen >= 1, "frameLen must be >= 1")
      val s = audio.samples
      val rate = audio.sampleRate
      val nF = s.length / frameLen
      val out = scala.collection.mutable.ArrayBuffer.empty[VadSegment]
      var segStart = -1
      var segMax = 0.0
      var seg = 0
      def flush(endFrame: Int): Unit = if (segStart >= 0) {
        seg += 1
        out += VadSegment(mediaId, seg, segStart, endFrame - segStart,
          segStart.toLong * frameLen * 1000L / rate,
          endFrame.toLong * frameLen * 1000L / rate, segMax)
        segStart = -1
        segMax = 0.0
      }
      var k = 0
      while (k < nF) {
        var sumSq = 0L
        var i = k * frameLen
        val end = i + frameLen
        while (i < end) {
          val v = s(i).toInt
          sumSq += v.toLong * v
          i += 1
        }
        val rms =
          math.floor(math.sqrt(sumSq.toDouble / frameLen) * 1e6 + 0.5) / 1e6
        if (rms >= threshold) {
          if (segStart < 0) segStart = k
          if (rms > segMax) segMax = rms
        } else flush(k)
        k += 1
      }
      flush(nF)
      out.toSeq
    }
  }

  /** One energy-gated segment of a clip: frame-index bounds (end
    * exclusive), floor-divided millisecond bounds, and the loudest
    * frame's grid-rounded RMS. `seg` is 1-based in time order. */
  final case class VadSegment(
      media_id: Long, seg: Int, start_frame: Int, n_frames: Int,
      start_ms: Long, end_ms: Long, max_rms: Double)

  /** Per-batch VAD segmentation over WAV payloads — the same batched
    * executor-side codec seam as [[mapDecodeWavBatches]]; each clip
    * explodes to its segments (clips with no active frame vanish). */
  def mapVadBatches(
      media: Dataset[Media], frameLen: Int, threshold: Double,
      batchSize: Int = 64): Dataset[VadSegment] = {
    implicit val enc = Encoders.product[VadSegment]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.flatMap(m =>
        WavCodec.vadSegments(m.media_id, WavCodec.decode(m.bytes),
          frameLen, threshold)))
    }
  }

  /** Per-batch REAL audio decode (WAV payloads): identical plumbing to
    * [[mapDecodeBatches]] with the RIFF parser as the codec. */
  def mapDecodeWavBatches(
      media: Dataset[Media], batchSize: Int = 64): Dataset[WavFeatures] = {
    implicit val enc = Encoders.product[WavFeatures]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(b => WavCodec.decodeBatch(b.toSeq))
    }
  }

  /** Resize stub: recompute target dims preserving aspect ratio; payload
    * passes through untouched (a real resize rewrites bytes — dims math
    * and schema are the tested plumbing). */
  def resizeMeta(media: DataFrame, maxDim: Int): DataFrame = {
    val scale = least(
      lit(maxDim.toDouble) / greatest(col("width"), lit(1)),
      lit(maxDim.toDouble) / greatest(col("height"), lit(1)), lit(1.0))
    media
      .withColumn("out_width", floor(col("width") * scale).cast("int"))
      .withColumn("out_height", floor(col("height") * scale).cast("int"))
  }
}
