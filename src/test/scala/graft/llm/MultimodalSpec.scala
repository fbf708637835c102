package graft.llm

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("binary plumbing: text -> BinaryType media -> per-partition feature extraction") {
    val docs = Seq((0L, "abc"), (1L, "yz")).toDF("doc_id", "text")
    val media = Multimodal.withFakeMedia(docs)
    assert(media.schema("media").dataType == org.apache.spark.sql.types.BinaryType)
    val recs = media.as[MediaRecord].collect().sortBy(_.doc_id)
    assert(recs.map(r => new String(r.media, "UTF-8")).toSeq == Seq("abc", "yz"))
    // the per-partition pass computes exactly the per-record signature
    val sigs = Multimodal.perceptualHashes(media.as[MediaRecord])
      .as[(Long, Long)].collect().toMap
    assert(sigs == recs.map(r => r.doc_id -> Multimodal.aHash(r)).toMap)
  }

  test("sampleFrames splits bytes into strided frames that reassemble the payload") {
    // 10-byte payload, 4-byte frames, stride 2 -> original frame indices 0, 2
    val docs = Seq((7L, "abcdefghij"), (8L, "")).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(Multimodal.withFakeMedia(docs),
        frameBytes = 4, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), new String(r.getAs[Array[Byte]](2)), r.getInt(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    // frame 0 = bytes 0-3, frame 2 = bytes 8-9 (truncated tail); frame 1 skipped
    assert(frames == Seq((7L, 0, "abcd", 4), (7L, 2, "ij", 2)))
    // empty payload yields no frames
    assert(!frames.exists(_._1 == 8L))
  }

  test("withFakeImages -> extractImageFeatures: real PNG encode->decode " +
    "round trip recovers dims and exact luminance stats, distributed") {
    val docs = Seq((0L, "abc"), (5L, "hello world"), (260L, "xy"))
      .toDF("doc_id", "text").repartition(3)
    val media = Multimodal.withFakeImages(docs)
    // the payloads are REAL PNGs (magic bytes), not stand-in text bytes
    media.collect().foreach { r =>
      assert(Multimodal.looksLikeImage(r.media), s"doc ${r.doc_id} not a PNG")
      assert(r.media.take(4).map(_ & 0xff).toSeq == Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt))
    }
    val got = Multimodal.extractImageFeatures(media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(got.size == 3)
    // mirror of the generation formula: w = 16 + utf8len%48, h = 16 + id%32,
    // row-y gray = (id+y)%256; gray luma == gray exactly, PNG lossless
    def expect(id: Long, len: Int): ImageFeatures = {
      val w = 16 + len % 48; val h = 16 + (id % 32).toInt
      val grays = (0 until h).map(y => ((id + y) % 256).toInt)
      val sum = grays.map(_.toLong * w).sum
      ImageFeatures(id, w, h, 3, sum, sum.toDouble / (w.toLong * h),
        grays.min, grays.max)
    }
    assert(got(0L) === expect(0L, 3))
    assert(got(5L) === expect(5L, 11))
    assert(got(260L) === expect(260L, 2)) // id past 256: gray wraps mod 256
    // multi-byte UTF-8: width keys off OCTET length (matches DuckDB's
    // octet_length(encode(text))), not the character count
    val uni = Seq((1L, "é")).toDF("doc_id", "text") // 1 char, 2 bytes
    val f = Multimodal.extractImageFeatures(Multimodal.withFakeImages(uni))
      .collect()(0)
    assert(f.width == 16 + 2)
  }

  test("extractImageFeatures quarantines opaque and corrupt payloads as zero rows") {
    val png = {
      val img = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val recs = Seq(
      MediaRecord(1L, png, "image"),                          // decodable
      MediaRecord(2L, "not an image".getBytes, "image"),      // opaque
      MediaRecord(3L, png.take(12), "image"))                 // truncated PNG
      .toDS()
    val out = Multimodal.extractImageFeatures(recs).collect()
    assert(out.map(_.doc_id).toSeq == Seq(1L))
    assert(out(0).width == 4 && out(0).height == 4)
    // all-black 4x4: luma 0 everywhere
    assert(out(0).lum_sum == 0L && out(0).mean_luma == 0.0 &&
      out(0).min_luma == 0 && out(0).max_luma == 0)
  }

  test("aHash: real images hash by luminance pattern; hamming tracks similarity") {
    def png(paint: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, paint(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val leftWhite = png((x, _) => if (x < 8) 0xffffff else 0x000000)
    val leftWhite2 = png((x, y) => // one pixel flipped
      if ((x, y) == (0, 0)) 0x000000 else if (x < 8) 0xffffff else 0x000000)
    val topWhite = png((_, y) => if (y < 8) 0xffffff else 0x000000)
    def h(b: Array[Byte]) = Multimodal.aHash(MediaRecord(0L, b, "image"))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // left-half-white: exactly the 32 left cells set
    assert(java.lang.Long.bitCount(h(leftWhite)) == 32)
    // one flipped pixel barely moves the hash; orthogonal pattern is far
    assert(ham(h(leftWhite), h(leftWhite2)) <= 2)
    assert(ham(h(leftWhite), h(topWhite)) == 32)
    // identical payloads, identical hash — including the opaque-bytes path
    val opaque = "the same bytes".getBytes("UTF-8")
    assert(h(opaque) == h(opaque.clone()))
  }

  test("phashNearDup pairs identical payloads at hamming 0, skips unrelated") {
    val recs = Seq(
      MediaRecord(1L, ("A" * 400).getBytes, "image"),
      MediaRecord(2L, ("A" * 400).getBytes, "image"),
      MediaRecord(3L, (0 until 400).map(i => ((i * 37) % 251).toChar).mkString.getBytes, "image")
    ).toDS()
    val pairs = Multimodal.phashNearDup(recs, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)) && pairs.head._3 == 0)
  }

  test("decodeAudio reads a real WAV through javax.sound: header fields exact," +
    " sine RMS and zero-crossings match the analytic values") {
    val f = 440.0; val n = 8000; val amp = 16384 // 1 s of A440 at 8 kHz
    val r = Multimodal.decodeAudio(MediaRecord(7L, Multimodal.sineWav(f, n, amp), "audio"))
    assert(r.doc_id == 7L && r.sample_rate == 8000 && r.channels == 1)
    assert(r.n_samples == n)
    assert(r.n_bytes == 44 + n * 2)
    // sine RMS = A/sqrt(2); quantization to 16-bit shifts it < 1%
    val expectedRms = amp / math.sqrt(2.0)
    assert(math.abs(r.rms - expectedRms) < expectedRms * 0.01, s"rms ${r.rms}")
    // a sine crosses zero 2f times per second (880); sampling/quantization
    // jitter is at most a few crossings
    assert(math.abs(r.zero_crossings - 2 * f * n / 8000) <= 4, s"zc ${r.zero_crossings}")
  }

  test("decodeAudio quarantines opaque and corrupt payloads instead of crashing") {
    val opaque = Multimodal.decodeAudio(MediaRecord(1L, "not audio at all".getBytes, "audio"))
    assert(opaque == AudioFeatures(1L, 16, 0, 0, 0L, 0.0, 0L))
    // valid RIFF magic but truncated/garbage body
    val junk = "RIFFxxxxWAVE".getBytes ++ Array.fill[Byte](20)(99)
    val corrupt = Multimodal.decodeAudio(MediaRecord(2L, junk, "audio"))
    assert(corrupt.doc_id == 2L && corrupt.n_samples == 0L)
  }

  test("withFakeAudio -> extractAudioFeatures: distributed decode of" +
    " spec-valid WAVs; frequency keyed by doc_id shows in the ZCR") {
    val docs = spark.range(40).selectExpr(
      "id AS doc_id", "repeat('x', CAST(10 + id AS INT)) AS text").repartition(4)
    val feats = Multimodal.extractAudioFeatures(Multimodal.withFakeAudio(docs.toDF()))
    val rows = feats.collect().sortBy(_.doc_id)
    assert(rows.length == 40)
    rows.foreach { r =>
      assert(r.sample_rate == 8000 && r.channels == 1 && r.n_samples >= 1000)
      // tone frequency for this doc: 200 + (id % 20) * 50 Hz
      val freq = 200.0 + (r.doc_id % 20) * 50.0
      val expectZc = 2 * freq * r.n_samples / 8000
      assert(math.abs(r.zero_crossings - expectZc) <= expectZc * 0.02 + 2,
        s"doc ${r.doc_id}: zc ${r.zero_crossings} vs $expectZc")
    }
  }

  test("feature extraction runs distributed (per-partition, not driver)") {
    val docs = spark.range(100).selectExpr("id AS doc_id", "repeat('x', CAST(id AS INT)) AS text")
      .repartition(8)
    // opaque text payloads take the decoder's quarantine row: the true
    // byte count, zero samples
    val feats = Multimodal.extractAudioFeatures(
      Multimodal.withFakeMedia(docs.toDF()).as[MediaRecord])
    assert(feats.rdd.getNumPartitions == 8)
    assert(feats.count() == 100)
    val f50 = feats.filter(_.doc_id == 50L).collect()(0)
    assert(f50.n_bytes == 50 && f50.n_samples == 0L)
  }

  test("mjpegAvi/parseAviFrames round-trip: a real RIFF container whose " +
    "frame chunks reassemble the input JPEGs byte-for-byte") {
    val frames = (0 until 4).map { i =>
      val img = new java.awt.image.BufferedImage(32, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 32; y <- 0 until 24) img.setRGB(x, y, i * 0x202020)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    val avi = Multimodal.mjpegAvi(frames, 32, 24)
    assert(Multimodal.looksLikeAvi(avi))
    // the stated RIFF size matches the physical file (spec-valid container)
    val riffSize = java.nio.ByteBuffer.wrap(avi)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(4)
    assert(riffSize + 8 == avi.length)
    val back = Multimodal.parseAviFrames(avi)
    assert(back.length == 4)
    back.zip(frames).foreach { case (b, f) => assert(b.sameElements(f)) }
    // every recovered chunk is a decodable JPEG (MJPG frames are JPEGs)
    back.foreach(f => assert(Multimodal.looksLikeImage(f)))
  }

  test("decodeVideoFrames: per-frame dimensions + aHash via the JDK JPEG " +
    "codec; stride sampling; quarantine on non-AVI and truncated payloads") {
    val docs = Seq((5L, "hello world, a medium doc"), (6L, "x")).toDF("doc_id", "text")
    val media = Multimodal.withFakeVideo(docs).collect()
    val byId = media.map(m => m.doc_id -> m).toMap
    // frame count keyed off text length: 2 + len%4
    val n5 = 2 + 25 % 4; val n6 = 2 + 1 % 4
    val all5 = Multimodal.decodeVideoFrames(byId(5L), stride = 1)
    assert(all5.length == n5)
    assert(all5.forall { case (id, _, w, h, _) => id == 5L && w == 64 && h == 48 })
    assert(all5.map(_._2) == (0 until n5))
    // stride 2 keeps even frame indices only
    val s2 = Multimodal.decodeVideoFrames(byId(5L), stride = 2)
    assert(s2.map(_._2) == (0 until n5 by 2))
    // consecutive gradient frames differ, so their signatures should too
    // (phase shift of 40 luminance levels moves cells across the mean)
    assert(all5.map(_._5).distinct.length > 1)
    // a video frame hashes like the identical still image (shared cell pass)
    val firstJpeg = Multimodal.parseAviFrames(byId(5L).media).head
    assert(all5.head._5 == Multimodal.aHash(MediaRecord(5L, firstJpeg, "image")))
    // quarantine: opaque bytes and truncated containers yield zero rows
    assert(Multimodal.decodeVideoFrames(
      MediaRecord(9L, "not a video".getBytes, "video")).isEmpty)
    val truncated = java.util.Arrays.copyOf(byId(6L).media, byId(6L).media.length / 3)
    assert(Multimodal.decodeVideoFrames(MediaRecord(9L, truncated, "video")).isEmpty
      || Multimodal.decodeVideoFrames(MediaRecord(9L, truncated, "video"))
           .forall(_._3 == 64)) // a cleanly-cut movi prefix may keep whole frames
    // distributed path: bytes stay in tasks, slim rows come back
    val df = Multimodal.extractVideoFrames(
      Multimodal.withFakeVideo(docs.repartition(2)), stride = 1)
    assert(df.columns.toSeq == Seq("doc_id", "frame_idx", "width", "height", "sig"))
    assert(df.count() == n5 + n6)
    // determinism: the whole pipeline reruns bit-identically
    val again = Multimodal.extractVideoFrames(
      Multimodal.withFakeVideo(docs), stride = 1).collect().toSet
    assert(df.collect().toSet == again)
  }
}
