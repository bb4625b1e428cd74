package graft.multimodal

import graft.SparkSpec

/** Real-codec round-trips (javax.imageio PNG, javax.sound WAV) plus the
  * distributed feature extraction over in-plan-encoded payloads. */
class MultimodalSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("PNG encode/decode round-trips grayscale pixels exactly") {
    val (w, h, px) = Multimodal.imagePattern(42L)
    val bytes = Multimodal.encodePng(px, w, h)
    // a real PNG container, not a stub blob
    assert(bytes.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))
    val (dw, dh, dpx) = Multimodal.decodeImage(bytes)
    assert((dw, dh) == (w, h))
    assert(dpx.toSeq == px.toSeq)
  }

  test("WAV encode/decode round-trips 16-bit PCM exactly") {
    val samples = Multimodal.audioPattern(7L)
    val bytes = Multimodal.encodeWav(samples)
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
    val (rate, decoded) = Multimodal.decodeWav(bytes)
    assert(rate == 16000)
    assert(decoded.toSeq == samples.toSeq)
  }

  test("animated GIF encode/decode round-trips every frame exactly") {
    val (w, h, frames) = Multimodal.videoPattern(13L)
    assert(frames.length >= 2, "a video needs multiple frames")
    val bytes = Multimodal.encodeGif(frames, w, h)
    assert(new String(bytes.take(6), "US-ASCII").startsWith("GIF8"))
    val decoded = Multimodal.decodeGifFrames(bytes)
    assert(decoded.length == frames.length)
    decoded.zip(frames).foreach { case ((dw, dh, px), expected) =>
      assert((dw, dh) == (w, h))
      assert(px.toSeq == expected.toSeq)
    }
  }

  test("videoFeatures samples every 2nd frame with exact stats") {
    val feats = Multimodal.videoFeatures(Multimodal.encodedVideo(spark, sf))
      .collect().map(f => f.media_id -> f).toMap
    assert(feats.nonEmpty)
    feats.keys.take(20).foreach { id =>
      val (w, h, frames) = Multimodal.videoPattern(id)
      val sampled = frames.indices.collect { case f if f % 2 == 0 => frames(f) }
      val px = sampled.flatten
      val f = feats(id)
      assert(f.width == w && f.height == h)
      assert(f.n_frames == frames.length && f.n_sampled == sampled.length)
      assert(f.px_sum == px.map(_.toLong).sum)
      assert(f.px_min == px.min && f.px_max == px.max)
    }
  }

  test("resizeNearest: identity at same size, exact index sampling when shrinking") {
    val (w, h, px) = Multimodal.imagePattern(5L)
    assert(Multimodal.resizeNearest(px, w, h, w, h).toSeq == px.toSeq)
    val r = Multimodal.resizeNearest(px, w, h, 8, 8)
    assert(r.length == 64)
    for (oy <- 0 until 8; ox <- 0 until 8)
      assert(r(oy * 8 + ox) == px((oy * h / 8) * w + (ox * w / 8)))
  }

  test("decodeImage reduces RGB inputs to BT.601 luma") {
    val img = new java.awt.image.BufferedImage(
      2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000) // pure red
    img.setRGB(1, 0, 0xffffff) // white
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val (_, _, px) = Multimodal.decodeImage(bos.toByteArray)
    assert(px.toSeq == Seq(299 * 255 / 1000, 255))
  }

  test("imageFeatures matches the closed-form pattern statistics") {
    val feats = Multimodal.imageFeatures(Multimodal.encodedImages(spark, sf))
      .collect().map(f => f.media_id -> f).toMap
    assert(feats.nonEmpty)
    feats.keys.take(20).foreach { id =>
      val (w, h, px) = Multimodal.imagePattern(id)
      val f = feats(id)
      assert(f.width == w && f.height == h && f.n_px == px.length.toLong)
      assert(f.px_sum == px.map(_.toLong).sum)
      assert(f.px_min == px.min && f.px_max == px.max)
    }
  }

  test("imagePHash matches a direct recompute from the pattern") {
    val hashes = Multimodal.imagePHash(Multimodal.encodedImages(spark, sf))
      .collect().map(p => p.media_id -> p).toMap
    assert(hashes.nonEmpty)
    hashes.keys.take(20).foreach { id =>
      val (w, h, px) = Multimodal.imagePattern(id)
      val r = Multimodal.resizeNearest(px, w, h, 8, 8)
      val sum = r.map(_.toLong).sum
      var hi = 0L; var lo = 0L
      (0 until 64).foreach { i =>
        if (r(i) * 64L > sum) {
          if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
        }
      }
      val p = hashes(id)
      assert(p.phash_hi == hi && p.phash_lo == lo, s"id $id")
      assert(p.n_bits ==
        java.lang.Long.bitCount(hi) + java.lang.Long.bitCount(lo))
      // halves stay within 32 bits (oracle-portability invariant)
      assert(p.phash_hi >= 0 && p.phash_hi < (1L << 32))
      assert(p.phash_lo >= 0 && p.phash_lo < (1L << 32))
    }
  }

  test("phashPairs: identical images at hamming 0; hub bands capped") {
    import spark.implicits._
    // 1 and 2 share a pattern (identical hash); 3 is a different pattern
    val media = Seq(1L -> 7L, 2L -> 7L, 3L -> 8L).map { case (mid, pat) =>
      val (w, h, px) = Multimodal.imagePattern(pat)
      Multimodal.EncodedMedia(mid, "image", Multimodal.encodePng(px, w, h))
    }.toDS()
    val hashes = Multimodal.imagePHash(media).toDF()
    val pairs = Multimodal.phashPairs(hashes, maxHamming = 0)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.contains((1L, 2L, 0)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // a hub band shared by everything is dropped by the cap
    val hub = hashes.select(org.apache.spark.sql.functions.col("media_id"),
      org.apache.spark.sql.functions.lit(0L).as("phash_hi"),
      org.apache.spark.sql.functions.lit(0L).as("phash_lo"))
    assert(Multimodal.phashPairs(hub, maxHamming = 64, maxBucket = 2)
      .count() == 0)
  }

  test("audioFeatures matches the closed-form pattern statistics") {
    val feats = Multimodal.audioFeatures(Multimodal.encodedAudio(spark, sf))
      .collect().map(f => f.media_id -> f).toMap
    assert(feats.nonEmpty)
    feats.keys.take(20).foreach { id =>
      val ss = Multimodal.audioPattern(id)
      val f = feats(id)
      assert(f.sample_rate == 16000)
      assert(f.n_samples == ss.length.toLong)
      assert(f.sample_sum == ss.map(_.toLong).sum)
      assert(f.sample_min == ss.min.toInt && f.sample_max == ss.max.toInt)
    }
  }
}
