package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` payloads
  * with typed metadata, plus decode / feature-extract / resize / frame-sample
  * stages.
  *
  * ALL THREE modalities decode through REAL, JDK-only codecs: PNG/JPEG
  * images via `javax.imageio` ([[decodeImage]]/[[encodePng]]), WAV PCM
  * audio via `javax.sound.sampled` ([[decodeWav]]/[[encodeWav]]), and
  * multi-frame video via animated GIF ([[decodeGifFrames]]/[[encodeGif]] —
  * lossless for 8-bit gray through the identity palette). Each is
  * oracle-checked end-to-end: op_image_features / op_audio_features /
  * op_video_features decode in-plan-encoded payloads and the DuckDB oracle
  * recomputes the pixel/sample/frame statistics from the closed-form test
  * patterns. `decodeStub` remains only as the byte-level fallback for
  * OPAQUE payloads in [[extractFeatures]] (unknown codecs still get
  * schema/batching-correct byte features).
  *
  * Scale: feature extraction is a narrow mapPartitions (no shuffle); payloads
  * stay off the driver; batches bound memory per task.
  */
object Multimodal {

  case class MediaMeta(width: Int, height: Int, sampleRate: Int, durationMs: Int)
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
      meta: MediaMeta)
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
      byte_mean: Double, byte_entropy: Double, histogram: Array[Long],
      frames_sampled: Int)

  /** Deterministic synthetic media table derived from the documents corpus:
    * payload = utf-8 bytes of the text (stands in for encoded image/audio),
    * kind round-robins image/audio/video, metadata derived from sizes. */
  def syntheticMedia(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Catalog.fixture(spark, s"$sfDir/documents.parquet")
    docs.select(
      col("doc_id").as("media_id"),
      element_at(typedLit(Seq("image", "audio", "video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast(IntegerType)).as("kind"),
      col("text").cast(BinaryType).as("payload"),
      struct(
        (pmod(col("doc_id"), lit(640)) + 32).cast(IntegerType).as("width"),
        (pmod(col("doc_id"), lit(480)) + 24).cast(IntegerType).as("height"),
        lit(16000).as("sampleRate"),
        (length(col("text")) * 10).cast(IntegerType).as("durationMs")).as("meta"))
  }

  /** Byte-level fallback for OPAQUE payloads (codecs the JDK lacks):
    * deterministic pseudo-"pixels" from the raw bytes, used by
    * [[extractFeatures]]. Known formats decode for real —
    * [[decodeImage]] / [[decodeWav]] / [[decodeGifFrames]]. */
  def decodeStub(payload: Array[Byte]): Array[Int] =
    if (payload == null) Array.empty
    else payload.map(b => (b & 0xff)).toArray

  /** Frame sampler: every `stride`-th decoded unit, capped at `max`. */
  def sampleFrames(decoded: Array[Int], stride: Int, max: Int): Array[Int] = {
    val out = decoded.indices.collect { case i if i % stride == 0 => decoded(i) }
    out.take(max).toArray
  }

  /** Batched per-partition feature extraction — the Scala analogue of a
    * pandas-UDF `mapInPandas` stage: iterator-in/iterator-out, processing
    * `batchSize` rows at a time so one task never holds a partition's
    * payloads in memory at once. */
  def extractFeatures(media: DataFrame, batchSize: Int = 64): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    implicit val rowEnc = Encoders.product[MediaRow]
    media.as[MediaRow].mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val px = decodeStub(row.payload)
          val hist = Array.ofDim[Long](16)
          var sum = 0L
          px.foreach { v => hist(v / 16) += 1; sum += v }
          val n = math.max(px.length, 1)
          val entropy = hist.foldLeft(0.0) { (acc, c) =>
            if (c == 0) acc
            else { val p = c.toDouble / n; acc - p * math.log(p) }
          }
          val frames = sampleFrames(px, stride = 32, max = 64)
          MediaFeatures(row.media_id, row.kind, px.length,
            if (px.isEmpty) 0.0 else sum.toDouble / px.length,
            entropy, hist, frames.length)
        }
      }
    }
  }

  /** Real spatial nearest-neighbor resize of a row-major grayscale bitmap
    * (w × h) → (ow × oh): out(ox, oy) = in(ox·w ∕ ow, oy·h ∕ oh) with
    * floor division — pure integer arithmetic, so the DuckDB oracle can
    * recompute every output pixel (op_image_resize). */
  def resizeNearest(px: Array[Int], w: Int, h: Int, ow: Int, oh: Int): Array[Int] = {
    require(px.length == w * h && ow > 0 && oh > 0)
    Array.tabulate(ow * oh) { i =>
      val ox = i % ow
      val oy = i / ow
      px((oy.toLong * h / oh).toInt * w + (ox.toLong * w / ow).toInt)
    }
  }

  case class ResizeFeatures(media_id: Long, out_w: Int, out_h: Int,
      r_sum: Long, r_min: Int, r_max: Int)

  /** Decode PNG payloads, nearest-neighbor resize to (ow × oh), and emit
    * resized-pixel statistics — decode + real spatial resample in one
    * narrow mapPartitions. */
  def imageResizeFeatures(media: Dataset[EncodedMedia], ow: Int,
      oh: Int): Dataset[ResizeFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      val (w, h, px) = decodeImage(m.payload)
      val r = resizeNearest(px, w, h, ow, oh)
      var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
      r.foreach { v => sum += v; if (v < mn) mn = v; if (v > mx) mx = v }
      ResizeFeatures(m.media_id, ow, oh, sum,
        if (r.isEmpty) 0 else mn, if (r.isEmpty) 0 else mx)
    })
  }

  // ---- real codecs (JDK-only; no new dependencies) ----

  /** Memory-backed ImageIO streams: the registry default wraps streams in
    * a FILE cache — a temp file per encode/decode, pure overhead (and /tmp
    * churn + contention at 32 concurrent tasks) for in-memory payloads. */
  private def memOut(bos: java.io.ByteArrayOutputStream) =
    new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
  private def memIn(payload: Array[Byte]) =
    new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))

  /** Encode row-major 8-bit grayscale pixels as PNG (lossless). */
  def encodePng(pixels: Array[Int], w: Int, h: Int): Array[Byte] = {
    require(pixels.length == w * h, s"expected $w*$h pixels, got ${pixels.length}")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setSamples(0, 0, w, h, 0, pixels)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = memOut(bos)
    writer.setOutput(ios)
    writer.write(img)
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** Decode a PNG/JPEG payload via `javax.imageio` to
    * (width, height, row-major grayscale pixels). Multi-band (RGB) inputs
    * are reduced to luma via the standard integer BT.601 weights. */
  def decodeImage(payload: Array[Byte]): (Int, Int, Array[Int]) = {
    // ImageIO.read(ImageInputStream) closes the stream itself
    val img = javax.imageio.ImageIO.read(memIn(payload))
    require(img != null, "not a decodable image payload")
    val (w, h) = (img.getWidth, img.getHeight)
    val px = new Array[Int](w * h)
    if (img.getRaster.getNumBands == 1) {
      img.getRaster.getSamples(0, 0, w, h, 0, px)
    } else {
      var i = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
          px(i) = (299 * r + 587 * g + 114 * b) / 1000
          i += 1; x += 1
        }
        y += 1
      }
    }
    (w, h, px)
  }

  /** Encode signed 16-bit mono PCM samples as a 16 kHz WAV payload
    * (lossless). */
  def encodeWav(samples: Array[Short]): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      16000f, 16, 1, true, false) // 16 kHz 16-bit signed mono little-endian
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      bytes(2 * i) = (samples(i) & 0xff).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Decode a WAV payload via `javax.sound.sampled` to
    * (sampleRate, signed 16-bit mono samples). */
  def decodeWav(payload: Array[Byte]): (Int, Array[Short]) = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    val fmt = ais.getFormat
    require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
      s"expected 16-bit mono PCM, got $fmt")
    val raw = ais.readAllBytes()
    val out = new Array[Short](raw.length / 2)
    val be = fmt.isBigEndian
    var i = 0
    while (i < out.length) {
      out(i) =
        if (be) ((((raw(2 * i) & 0xff) << 8) | (raw(2 * i + 1) & 0xff))).toShort
        else ((((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff))).toShort
      i += 1
    }
    (fmt.getSampleRate.toInt, out)
  }

  /** 256-level grayscale palette: index i ↦ gray i, so GIF round-trips are
    * bit-exact (the writer stores indices against this palette). */
  private lazy val grayPalette: java.awt.image.IndexColorModel = {
    val ramp = Array.tabulate(256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
  }

  /** Encode a grayscale frame sequence as an animated GIF (lossless for
    * 8-bit gray via the identity palette) — a real multi-frame
    * moving-picture container from the JDK's own codec. */
  def encodeGif(frames: Seq[Array[Int]], w: Int, h: Int): Array[Byte] = {
    require(frames.nonEmpty && frames.forall(_.length == w * h))
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = memOut(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach { px =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
      img.getRaster.setSamples(0, 0, w, h, 0, px)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** Decode every frame of an animated GIF to (width, height, gray
    * pixels) — pixels are read through the palette (getRGB red channel),
    * so an index permutation in the container cannot corrupt values. */
  def decodeGifFrames(payload: Array[Byte]): Seq[(Int, Int, Array[Int])] = {
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = memIn(payload)
    reader.setInput(iis)
    val n = reader.getNumImages(true)
    val out = (0 until n).map { f =>
      val img = reader.read(f)
      val (w, h) = (img.getWidth, img.getHeight)
      val px = new Array[Int](w * h)
      var i = 0; var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { px(i) = (img.getRGB(x, y) >> 16) & 0xff; i += 1; x += 1 }
        y += 1
      }
      (w, h, px)
    }
    reader.dispose()
    iis.close()
    out
  }

  // ---- deterministic closed-form test patterns (oracle-recomputable) ----

  /** Grayscale test pattern for id: w = 8 + id%9, h = 8 + id%7,
    * pixel(i) = (id*31 + i*7) mod 256 — closed-form, so the DuckDB oracle
    * recomputes the decoded statistics without any codec. */
  def imagePattern(id: Long): (Int, Int, Array[Int]) = {
    val w = (8 + id % 9).toInt
    val h = (8 + id % 7).toInt
    (w, h, Array.tabulate(w * h)(i => ((id * 31 + i.toLong * 7) % 256).toInt))
  }

  /** PCM test pattern for id: n = 256 + id%257 samples,
    * s(i) = ((id*131 + i*17) mod 65536) − 32768. */
  def audioPattern(id: Long): Array[Short] = {
    val n = (256 + id % 257).toInt
    Array.tabulate(n)(i => (((id * 131 + i.toLong * 17) % 65536) - 32768).toShort)
  }

  /** Frame-sequence test pattern for id: 2 + id%4 frames of the image
    * dimensions, frame f pixel i = (id*31 + f*97 + i*7) mod 256. */
  def videoPattern(id: Long): (Int, Int, Seq[Array[Int]]) = {
    val (w, h, _) = imagePattern(id)
    val nFrames = (2 + id % 4).toInt
    val frames = (0 until nFrames).map(f =>
      Array.tabulate(w * h)(i =>
        ((id * 31 + f.toLong * 97 + i.toLong * 7) % 256).toInt))
    (w, h, frames)
  }

  case class VideoFeatures(media_id: Long, width: Int, height: Int,
      n_frames: Int, n_sampled: Int, px_sum: Long, px_min: Int, px_max: Int)

  /** Real animated-GIF payloads for every document id. */
  def encodedVideo(spark: SparkSession, sfDir: String): Dataset[EncodedMedia] = {
    import spark.implicits._
    graft.Catalog.fixture(spark, s"$sfDir/documents.parquet").select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val (w, h, frames) = videoPattern(id)
        EncodedMedia(id, "video", encodeGif(frames, w, h))
      })
  }

  /** Decode GIF frames, sample every 2nd frame (at most 64), and emit
    * pixel statistics over the sampled frames — the real-codec version of the
    * frame-sample stage. Narrow mapPartitions, payloads off-driver. */
  def videoFeatures(media: Dataset[EncodedMedia]): Dataset[VideoFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      val frames = decodeGifFrames(m.payload)
      val sampled = frames.indices.collect {
        case f if f % 2 == 0 => frames(f)
      }.take(64)
      val (w, h) = (frames.head._1, frames.head._2)
      var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
      sampled.foreach(_._3.foreach { v =>
        sum += v; if (v < mn) mn = v; if (v > mx) mx = v })
      VideoFeatures(m.media_id, w, h, frames.length, sampled.length, sum,
        if (sampled.isEmpty) 0 else mn, if (sampled.isEmpty) 0 else mx)
    })
  }

  case class PHashRow(media_id: Long, phash_hi: Long, phash_lo: Long,
      n_bits: Int)

  /** Perceptual average-hash (aHash) of decoded image payloads: real
    * decode, nearest-neighbor resample to 8×8 ([[resizeNearest]] — pure
    * integer index math), then one bit per cell set iff the cell exceeds
    * the 64-cell mean. The threshold is the division-free integer test
    * `px·64 > sum` (strict), so every bit is exactly recomputable in SQL
    * from a closed-form pattern — no float mean. Bits are packed row-major
    * into two 32-bit halves (`phash_lo` = cells 0-31, `phash_hi` =
    * 32-63): each half stays below 2^32, so an engine whose 64-bit shift
    * or integer-sum semantics differ at bit 63 can still rebuild the hash
    * by summing distinct powers of two. `n_bits` (population count) rides
    * along for mean-brightness sanity checks.
    *
    * Scale: one narrow mapPartitions per image — decode cost linear in
    * pixels, 64-cell hash math constant; no shuffle, payloads off-driver.
    * Near-dup pairing over the hashes is [[phashPairs]]. */
  def imagePHash(media: Dataset[EncodedMedia]): Dataset[PHashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      val (w, h, px) = decodeImage(m.payload)
      val r = resizeNearest(px, w, h, 8, 8)
      var sum = 0L
      r.foreach(sum += _)
      var hi = 0L; var lo = 0L; var n = 0
      var i = 0
      while (i < 64) {
        if (r(i) * 64L > sum) {
          if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
          n += 1
        }
        i += 1
      }
      PHashRow(m.media_id, hi, lo, n)
    })
  }

  /** Image near-duplicate pairs by Hamming distance over [[imagePHash]]
    * hashes: the 64 bits band into 4 × 16-bit LSH bands; images agreeing
    * exactly on at least one band become candidates (bucket equi-join),
    * then the exact Hamming distance filters at `maxHamming`. The same
    * banded shape as [[lshCandidatesFromSigs]]: candidate generation is
    * O(band collisions), never O(n²), and only (id, band, value) rows
    * shuffle. Pigeonhole guarantee: every pair with hamming ≤ 3 shares a
    * clean band; beyond that recall follows the usual banded-LSH curve.
    *
    * `maxBucket` drops hub bands (a band value shared by more than that
    * many images — uniform dark/bright regions produce them) before the
    * self-join, the same cap every LSH family here uses: measured on the
    * pattern corpus, uncapped candidates grew ×103 at ×10 images (1.06M at
    * 5k) while cap 64 held growth near-linear (117k) — this is what keeps
    * the op from going quadratic on real corpora full of near-black
    * frames. */
  def phashPairs(hashes: DataFrame, maxHamming: Int = 12,
      maxBucket: Int = 64): DataFrame = {
    val bands = hashes.select(col("media_id"),
      posexplode(array(
        col("phash_lo").bitwiseAND(lit(0xffffL)),
        shiftright(col("phash_lo"), 16).bitwiseAND(lit(0xffffL)),
        col("phash_hi").bitwiseAND(lit(0xffffL)),
        shiftright(col("phash_hi"), 16).bitwiseAND(lit(0xffffL))))
        .as(Seq("band", "bval")))
    val keep = bands.groupBy("band", "bval")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucket).drop("bsz")
    val f = bands.join(keep, Seq("band", "bval"))
    val cand = f.select(col("band"), col("bval"), col("media_id").as("a"))
      .join(f.select(col("band"), col("bval"), col("media_id").as("b")),
        Seq("band", "bval"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val withH = (side: String, as: String) => hashes.select(
      col("media_id").as(side), col("phash_hi").as(s"${as}_hi"),
      col("phash_lo").as(s"${as}_lo"))
    cand.join(withH("a", "ha"), "a").join(withH("b", "hb"), "b")
      .withColumn("hamming",
        (bit_count(col("ha_hi").bitwiseXOR(col("hb_hi"))) +
          bit_count(col("ha_lo").bitwiseXOR(col("hb_lo")))).cast(IntegerType))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }

  case class EncodedMedia(media_id: Long, kind: String, payload: Array[Byte])
  case class ImageFeatures(media_id: Long, width: Int, height: Int,
      n_px: Long, px_sum: Long, px_min: Int, px_max: Int)
  case class AudioFeatures(media_id: Long, sample_rate: Int,
      n_samples: Long, sample_sum: Long, sample_min: Int, sample_max: Int)

  /** Real PNG payloads for every document id — encoded per-partition (the
    * encode never touches the driver). */
  def encodedImages(spark: SparkSession, sfDir: String): Dataset[EncodedMedia] = {
    import spark.implicits._
    graft.Catalog.fixture(spark, s"$sfDir/documents.parquet").select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val (w, h, px) = imagePattern(id)
        EncodedMedia(id, "image", encodePng(px, w, h))
      })
  }

  /** Real WAV payloads for every document id. */
  def encodedAudio(spark: SparkSession, sfDir: String): Dataset[EncodedMedia] = {
    import spark.implicits._
    graft.Catalog.fixture(spark, s"$sfDir/documents.parquet").select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        EncodedMedia(id, "audio", encodeWav(audioPattern(id)))
      })
  }

  /** Decode PNG payloads and emit pixel statistics — a narrow mapPartitions
    * over real `javax.imageio` decodes. */
  def imageFeatures(media: Dataset[EncodedMedia]): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      val (w, h, px) = decodeImage(m.payload)
      var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
      px.foreach { v => sum += v; if (v < mn) mn = v; if (v > mx) mx = v }
      ImageFeatures(m.media_id, w, h, px.length.toLong, sum,
        if (px.isEmpty) 0 else mn, if (px.isEmpty) 0 else mx)
    })
  }

  /** Decode WAV payloads and emit sample statistics. */
  def audioFeatures(media: Dataset[EncodedMedia]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      val (rate, ss) = decodeWav(m.payload)
      var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
      ss.foreach { v => sum += v; if (v < mn) mn = v; if (v > mx) mx = v }
      AudioFeatures(m.media_id, rate, ss.length.toLong, sum,
        if (ss.isEmpty) 0 else mn, if (ss.isEmpty) 0 else mx)
    })
  }
}
