package graft.data

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing: media (image/audio/video) as opaque `binary`
 * columns with typed metadata, plus decode / feature-extract / frame-sample
 * stages.
 *
 * Decode is REAL for the image formats the JDK itself ships readers for
 * — PNG/JPEG/GIF/BMP via `javax.imageio`, no external codec library
 * ([[dHashes]], [[videoSignatures]]) — and for 16-bit PCM WAV
 * ([[audioFeatures]]). Every decode is a batch-shaped `mapPartitions`
 * over typed rows; in production, swap in a JNI/javacv codec the same
 * way and the plan shape does not change.
 *
 * Column-level ops stay native (codegen'd binary/hex expressions); the
 * per-row decode runs as a typed `mapPartitions` so the (expensive) codec
 * amortizes any per-partition init, mirroring `mapInPandas` batch
 * semantics on the JVM.
 */
object Multimodal {

  // Memory-backed ImageIO streams: the JDK default `useCache = true`
  // spools every `ImageIO.write` through a TEMP FILE
  // (FileCacheImageOutputStream) — one create/write/delete per encoded
  // image, filesystem-contended across concurrent tasks. All payloads
  // here are small in-memory byte arrays; cache off is strictly faster
  // (runs once per JVM at first use of this object, executors included).
  javax.imageio.ImageIO.setUseCache(false)

  /** Typed row for the media pipeline. */
  case class MediaRow(media_id: Long, format: String, content: Array[Byte])

  /** Opaque binary from a UTF-8 string (test-data synthesizer: stands in
   * for reading real media bytes). */
  def asBinary(text: Column): Column = encode(text, "UTF-8")

  /** Typed metadata for a binary media column. */
  def mediaMetadata(bin: Column, format: Column): Column =
    struct(
      length(bin).as("byte_len"),
      format.as("format"),
      TextFunctions.hash60(lower(hex(bin))).as("checksum"))

  /** "Frame sampling": every `stride`-th byte of the payload as an int
   * 0..255 — the binary analogue of video frame striding. Engine-portable
   * (hex + substring + hex-to-int only). */
  def sampleBytes(bin: Column, stride: Int, maxFrames: Int): Column = {
    val hexStr = lower(hex(bin))
    val nBytes = length(bin)
    val nFrames = least(ceil(nBytes / lit(stride.toDouble)).cast("int"), lit(maxFrames))
    when(nBytes > 0,
      transform(sequence(lit(0), nFrames - 1), f =>
        conv(hexStr.substr(f * (2 * stride) + 1, lit(2)), 16, 10).cast("int")))
      .otherwise(array().cast("array<int>"))
  }

  /** End-to-end demo source: documents table → media rows (binary payload
   * + format tag derived from the source column). */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      concat(lit("img/"), col("source")).as("format"),
      asBinary(col("text")).as("content"))

  /** Demo PNG source (the byte-level analogue of [[mediaFromDocuments]]):
   * a deterministic 16×16 grayscale gradient per id — `id % 8` picks the
   * base pattern, `id / 8` places a single-pixel luma spike — encoded by
   * the JDK's own PNG writer, so payloads are genuine PNG streams and
   * near-dup pairs exist by construction for the golden to pin. */
  def syntheticPng(id: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    // stripes of base-dependent period: distinct gradient-SIGN patterns
    // per base (a brightness-only base difference would be invisible to
    // dHash by design — that invariance is spec-pinned separately)
    val period = 1 + (id % 8).toInt
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val l = math.min(255, math.max(0,
          (if ((x / period) % 2 == 0) 60 else 190) + y * 3))
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
        x += 1
      }
      y += 1
    }
    val p = ((id / 8) % 225).toInt
    val (px, py) = (p % 15, (p / 15) % 15)
    val l2 = math.min(255, (img.getRGB(px, py) & 0xff) + 90)
    img.setRGB(px, py, (l2 << 16) | (l2 << 8) | l2)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Perceptual hash row: `decoded = false` (hash 0) marks payloads the
   * codec could not read — filter on it, don't treat 0 as a hash. */
  case class MediaHash(media_id: Long, decoded: Boolean, dhash: Long)

  /**
   * 64-bit difference hash (dHash) of a decoded image — the standard
   * PERCEPTUAL near-dup key for image corpora (re-encodes, small crops,
   * brightness shifts keep the hash within a small Hamming ball, unlike
   * the byte checksum in [[mediaMetadata]] which any re-encode breaks).
   * Luma block-averages onto a 9×8 grid (deterministic integer block
   * bounds, no resampling library), then bit (y,x) = grid(y)(x) <
   * grid(y)(x+1) — 64 horizontal gradient signs. Uniform brightness
   * change leaves every gradient sign intact by construction.
   */
  private[data] def dHash64(img: java.awt.image.BufferedImage): Long = {
    val gw = 9; val gh = 8
    val w = img.getWidth; val h = img.getHeight
    val grid = Array.ofDim[Double](gh, gw)
    var gy = 0
    while (gy < gh) {
      val y0 = gy * h / gh
      val y1 = math.max(y0 + 1, (gy + 1) * h / gh)
      var gx = 0
      while (gx < gw) {
        val x0 = gx * w / gw
        val x1 = math.max(x0 + 1, (gx + 1) * w / gw)
        var s = 0.0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            s += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
              0.114 * (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        grid(gy)(gx) = s / ((y1 - y0).toDouble * (x1 - x0))
        gx += 1
      }
      gy += 1
    }
    var hash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (grid(y)(x) < grid(y)(x + 1)) hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /**
   * Batch perceptual hashing — the image analogue of
   * [[graft.data.Dedup.simhashNearDups]]'s text tier: decode each
   * payload (JDK ImageIO; a NonFatal guard turns a corrupt payload into
   * a flagged row),
   * dHash it, and feed the hashes to [[graft.data.Dedup.hammingPairs]]
   * for the near-dup join. Map-only `mapPartitions` (one codec session
   * per partition); corrupt rows come back `decoded = false` instead of
   * failing the job.
   */
  def dHashes(media: Dataset[MediaRow])(
      implicit spark: SparkSession): Dataset[MediaHash] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val img =
          try javax.imageio.ImageIO.read(
            new javax.imageio.stream.MemoryCacheImageInputStream(
              new java.io.ByteArrayInputStream(r.content)))
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null || img.getWidth <= 0 || img.getHeight <= 0)
          MediaHash(r.media_id, decoded = false, 0L)
        else MediaHash(r.media_id, decoded = true, dHash64(img))
      }
    }
  }

  /** Image near-dup pairs: [[dHashes]] → pigeonhole Hamming join over
   * the 64-bit perceptual hashes. Undecodable rows are excluded before
   * the join (hash 0 is not a neighborhood). */
  def imageNearDups(media: Dataset[MediaRow], maxHamming: Int)(
      implicit spark: SparkSession): DataFrame =
    Dedup.hammingPairs(
      dHashes(media).filter(col("decoded")).toDF(),
      "media_id", "dhash", bits = 64, maxHamming = maxHamming)

  /** 64-dim ±0.125 embedding from a 64-bit perceptual hash: bit j of
   * `dhash` → component j ∈ {+0.125, −0.125}. The deterministic
   * stand-in for a vision-encoder output (the image libs that would
   * produce a learned embedding aren't in this container) — unit-norm
   * by construction (64 · 0.125² = 1), so dot == cosine downstream. */
  def dhashEmbed(dhash: Column): Column =
    transform(sequence(lit(0), lit(63)), j =>
      when(call_function("shiftright", dhash, j.cast("int"))
          .bitwiseAND(lit(1L)) === 1L, lit(0.125)).otherwise(lit(-0.125)))

  /**
   * LAION-style image–text PAIR GATE: score every (caption, image) pair
   * and keep pairs whose caption/image similarity clears `minScore` —
   * the CLIP-score filter that curated LAION-400M/5B (Schuhmann et al.
   * 2021), with the model swapped for a deterministic surrogate: image
   * side = real decode (JDK ImageIO) → 64-bit dHash → [[dhashEmbed]];
   * caption side = [[Similarity.hashEmbed]] of the token hashes. The
   * Spark-side shape is exactly the production pipeline's — a
   * partition-mapped decode stage, an id-keyed join of the two modality
   * streams (payload bytes never cross the join; only the 64-dim
   * vectors do), one codegen'd `vec_dot` per pair — so swapping a real
   * encoder in changes the mapPartitions body, not the plan.
   *
   * Undecodable payloads surface as `decoded = false, score = 0, kept =
   * false` rather than failing the job (same corrupt-tolerant contract
   * as [[dHashes]]); they're visible for audit, not silently dropped.
   *
   * Returns `(media_id, decoded, score, kept)` — callers join captions
   * back by id for the kept rows (text stays off this plan on purpose).
   */
  def pairScores(captions: DataFrame, media: Dataset[MediaRow],
      idCol: String, captionCol: String, minScore: Double)(
      implicit spark: SparkSession): DataFrame = {
    val capVec = captions.select(col(idCol).cast("long").as("media_id"),
      Similarity.hashEmbed(
        Similarity.tokenHashes(col(captionCol)), 64).as("cv"))
    val imgVec = dHashes(media).toDF()
      .select(col("media_id"), col("decoded"), dhashEmbed(col("dhash")).as("iv"))
    imgVec.join(capVec, Seq("media_id"))
      // nanvl + coalesce: a caption whose hash embedding cancels to the
      // zero vector makes cosine 0/0 = NaN — and Spark orders NaN
      // GREATER than every double, so a bare `score >= minScore` would
      // KEEP exactly the no-signal pairs; a NULL caption makes cosine
      // null and `kept` null. Pin both to score 0.0 (no similarity
      // evidence) so `kept` is always a real boolean.
      .withColumn("score",
        when(col("decoded"),
          coalesce(nanvl(Similarity.cosine(col("cv"), col("iv")),
            lit(0.0)), lit(0.0)))
          .otherwise(lit(0.0)))
      .select(col("media_id"), col("decoded"), col("score"),
        (col("decoded") && col("score") >= minScore).as("kept"))
  }

  // ------------------------------------------------ audio (16-bit PCM WAV)

  case class AudioFeatures(media_id: Long, sample_rate: Int, n_samples: Long,
    duration_ms: Long, peak_abs: Long, rms_milli: Long, zero_crossings: Long)

  /** Deterministic 16-bit PCM mono RIFF/WAV per id — a REAL WAV stream
   * (canonical 44-byte header + s16le samples), so [[audioFeatures]]
   * exercises a genuine parser, not a toy: sine at `220 + (id%16)·55` Hz,
   * amplitude scaled by `(id%4+1)/4`, 8 kHz, `800 + (id%5)·400` samples.
   * Every byte is a pure function of `id` — golden-pinnable. */
  def syntheticWav(id: Long): Array[Byte] = {
    val sampleRate = 8000
    val n = (800 + (id % 5) * 400).toInt
    val freq = 220.0 + (id % 16) * 55.0
    val amp = ((id % 4) + 1) * (32767.0 / 4.0)
    val dataLen = n * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort)            // PCM
      .putShort(1.toShort)            // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)         // byte rate
      .putShort(2.toShort)            // block align
      .putShort(16.toShort)           // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      val v = math.rint(amp * math.sin(2.0 * math.Pi * freq * i / sampleRate))
      buf.putShort(math.max(-32768.0, math.min(32767.0, v)).toShort)
      i += 1
    }
    buf.array()
  }

  /** Parse a 16-bit PCM mono WAV payload and return exact-integer audio
   * features — the audio face of [[dHashes]]' image decode: `mapPartitions`
   * over the typed rows (one parser per partition, map-only at any
   * scale), returning `(sample_rate, n_samples, duration_ms, peak_abs,
   * zero_crossings)` as EXACT integers and `rms_milli` =
   * `floor(sqrt(Σs²/n)·1000)` (integer except one deterministic IEEE-754
   * sqrt). Chunk-walks the RIFF structure (fmt before data, extra chunks
   * skipped); malformed/non-PCM16 payloads yield a sentinel row with
   * `sample_rate = -1` rather than failing the job — the same
   * corrupt-tolerant contract as [[dHashes]]. */
  def audioFeatures(media: Dataset[MediaRow])(
      implicit spark: SparkSession): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        parseWavPcm16(r.content) match {
          case Some((rate, samples)) =>
            var peak = 0L
            var sumSq = 0.0
            var zc = 0L
            var i = 0
            var prevSign = 0
            while (i < samples.length) {
              val s = samples(i).toLong
              val a = math.abs(s)
              if (a > peak) peak = a
              sumSq += (s * s).toDouble
              val sign = java.lang.Long.signum(s).toInt
              if (sign != 0) {
                if (prevSign != 0 && sign != prevSign) zc += 1
                prevSign = sign
              }
              i += 1
            }
            val n = samples.length.toLong
            val rmsMilli =
              if (n == 0) 0L
              else math.floor(math.sqrt(sumSq / n) * 1000.0).toLong
            AudioFeatures(r.media_id, rate, n, n * 1000L / rate, peak,
              rmsMilli, zc)
          case None =>
            AudioFeatures(r.media_id, -1, 0L, 0L, 0L, 0L, 0L)
        }
      }
    }
  }

  /** RIFF walk: returns (sampleRate, s16le samples) for PCM16 mono/stereo
   * (channels interleaved — features treat the stream as one signal). */
  private[data] def parseWavPcm16(bytes: Array[Byte]): Option[(Int, Array[Short])] = {
    if (bytes.length < 12) return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def ascii(off: Int, len: Int) = new String(bytes, off, len, "US-ASCII")
    if (ascii(0, 4) != "RIFF" || ascii(8, 4) != "WAVE") return None
    var off = 12
    var rate = -1
    var fmtOk = false
    var data: Option[(Int, Int)] = None
    while (off + 8 <= bytes.length && (data.isEmpty || !fmtOk)) {
      val cid = ascii(off, 4)
      val clen = bb.getInt(off + 4)
      // Long arithmetic: a crafted clen near Int.MaxValue would overflow
      // `off + 8 + clen` negative and bypass an int-typed guard (the GVID
      // parser guards the same way). Once this holds, clen is bounded by
      // the array length, so the int offset advance below cannot overflow.
      if (clen < 0 || off.toLong + 8L + clen.toLong > bytes.length) return None
      if (cid == "fmt " && clen >= 16) {
        val audioFormat = bb.getShort(off + 8).toInt
        val bits = bb.getShort(off + 22).toInt
        rate = bb.getInt(off + 12)
        fmtOk = audioFormat == 1 && bits == 16 && rate > 0
        if (!fmtOk) return None
      } else if (cid == "data") {
        data = Some((off + 8, clen))
      }
      off += 8 + clen + (clen & 1) // RIFF chunks pad to even
    }
    (data, fmtOk) match {
      case (Some((dOff, dLen)), true) =>
        val n = dLen / 2
        val out = new Array[Short](n)
        var i = 0
        while (i < n) { out(i) = bb.getShort(dOff + 2 * i); i += 1 }
        Some((rate, out))
      case _ => None
    }
  }

  // --------------------------------------------- video (multi-frame container)

  /** Minimal REAL multi-frame container per id — magic `GVID`, frame
   * count, an absolute-offset table, then whole PNG frames from the
   * JDK's own encoder — so frame extraction exercises genuine offset
   * parsing and genuine image decode, not byte striding. Frame f of
   * video v is [[syntheticPng]]`(2·v + f)`: consecutive videos share
   * 4 of 6 frames by construction (frame-set Jaccard 4/8 = 0.5), so
   * near-dup chains exist for the golden to pin. */
  def syntheticVideo(id: Long, nFrames: Int = 6): Array[Byte] = {
    val frames = Array.tabulate(nFrames)(f => syntheticPng(2 * id + f))
    val headerLen = 4 + 4 + 4 * nFrames
    val total = headerLen + frames.map(_.length).sum
    val buf = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("GVID".getBytes("US-ASCII")).putInt(nFrames)
    var off = headerLen
    frames.foreach { fr => buf.putInt(off); off += fr.length }
    frames.foreach(buf.put)
    buf.array()
  }

  /** Parse a `GVID` container: every `stride`-th frame's raw bytes
   * (frame 0 always included). Malformed payloads yield an empty list —
   * the corrupt-tolerant contract of the other decoders. */
  private[data] def extractFrames(bytes: Array[Byte],
      stride: Int): Seq[Array[Byte]] = {
    if (bytes.length < 8 ||
      new String(bytes, 0, 4, "US-ASCII") != "GVID") return Nil
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt(4)
    // long arithmetic: a garbage count near Int.Max would overflow 4·n
    // and slip past an int-typed bounds check
    if (n <= 0 || 8L + 4L * n > bytes.length) return Nil
    val offs = Array.tabulate(n)(i => bb.getInt(8 + 4 * i))
    val ends = offs.drop(1) :+ bytes.length
    if (offs.exists(o => o < 0 || o > bytes.length) ||
      offs.zip(ends).exists { case (o, e) => e < o }) return Nil
    (0 until n by stride).map(i =>
      java.util.Arrays.copyOfRange(bytes, offs(i), ends(i)))
  }

  /** Per-video FRAME-HASH signature: decode every `stride`-th frame
   * (real ImageIO) → 64-bit dHash per frame → sorted distinct hash set.
   * `mapPartitions` over the typed rows — map-only; undecodable frames
   * are skipped, fully corrupt payloads yield an empty set. */
  def videoSignatures(media: Dataset[MediaRow], stride: Int = 1)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val hs = extractFrames(r.content, stride).flatMap { fb =>
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(fb))
            if (img == null) None else Some(dHash64(img))
          } catch { case _: Exception => None }
        }.distinct.sorted
        (r.media_id, hs)
      }
    }.toDF("media_id", "frame_hashes")
  }

  /**
   * VIDEO near-dup pairs: two videos are near-dups when the JACCARD of
   * their distinct frame-dHash sets clears `thresholdPpm` — re-encoded
   * or trimmed copies share most perceptual frame hashes even when no
   * byte matches. Scale shape: explode each signature's hashes, ONE
   * equi-join on the 64-bit frame hash (high-cardinality key — the
   * inverted-index join needs no prefix trick), count shared hashes per
   * pair, exact integer-ppm Jaccard. Candidate volume is Σ per-hash
   * df² — bounded by how often a frame is genuinely reused.
   */
  def videoNearDups(media: Dataset[MediaRow], thresholdPpm: Long,
      stride: Int = 1)(
      implicit spark: SparkSession): DataFrame = {
    val sigs = videoSignatures(media, stride)
      .filter(size(col("frame_hashes")) > 0)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("media_id"), col("frame_hashes"),
        size(col("frame_hashes")).cast("long").as("n"))
    val ex = sigs.select(col("media_id"), col("n"),
      explode(col("frame_hashes")).as("h"))
    ex.select(col("h"), col("media_id").as("id_a"), col("n").as("n_a"))
      .hint("shuffle_hash")
      .join(ex.select(col("h"), col("media_id").as("id_b"), col("n").as("n_b")),
        Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("icnt"))
      .select(col("id_a"), col("id_b"),
        expr("icnt * 1000000 div (n_a + n_b - icnt)").as("jaccard_ppm"))
      .filter(col("jaccard_ppm") >= thresholdPpm)
  }
}
