package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One media item: opaque bytes + typed metadata. The engine treats
  * image/audio/video as `binary` columns; decode happens per-partition in
  * executor code (the Scala analogue of `mapInPandas` batch UDFs). */
case class MediaRecord(doc_id: Long, media: Array[Byte], kind: String)

/** Extracted audio features: decoded via the JDK's javax.sound.sampled when
  * the payload is a real RIFF/WAV container; all-zero register block (with
  * the true byte count) for opaque/corrupt payloads — quarantine-not-crash,
  * same posture as the image path. `rms` and `zcr_hz` are per-record scalars
  * computed map-side, so they are deterministic under any partitioning. */
case class AudioFeatures(doc_id: Long, n_bytes: Int, sample_rate: Int,
                         channels: Int, n_samples: Long, rms: Double,
                         zero_crossings: Long)

/** Decoded-image feature row: header dims + integer-luminance statistics
  * over every pixel ((299r+587g+114b)/1000 per pixel, the
  * [[Multimodal.lumaCells]] weights). `mean_luma` = lum_sum /
  * (width·height) in double — both operands exact integers, so the
  * division is reproducible on any engine. */
case class ImageFeatures(doc_id: Long, width: Int, height: Int,
                         channels: Int, lum_sum: Long, mean_luma: Double,
                         min_luma: Int, max_luma: Int)

/** Multimodal-column plumbing for training-data pipelines.
  *
  * Pattern: keep media as opaque `BinaryType` columns next to typed metadata;
  * never parse bytes in driver code; run decode/feature-extraction inside
  * `mapPartitions` so each task streams its partition's records through the
  * (native) decoder exactly once. Partitioning guidance at scale: media rows
  * are large, so size `spark.sql.files.maxPartitionBytes` down (e.g. 64 MB)
  * and avoid wide shuffles of the binary column — extract features first,
  * drop the bytes, then shuffle the small feature rows.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed cache file per stream; every encode/
  // decode here runs over in-memory byte arrays inside executor tasks, where
  // a temp-file round-trip per frame is pure overhead (measured ~2x on the
  // video query). Static, process-wide, safe: heap buffers instead of files.
  javax.imageio.ImageIO.setUseCache(false)

  /** Attach a fake media column (UTF-8 bytes of the text) to a documents
    * frame — the container has no real image/audio assets, so the bytes are
    * a deterministic stand-in with real BinaryType schema. */
  def withFakeMedia(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), encode(col(textCol), "UTF-8").as("media"), lit("image").as("kind"))

  /** Magic-byte sniff for formats javax.imageio ships decoders for
    * (PNG, JPEG, GIF, BMP). Cheap guard so the ImageIO reader lookup —
    * stream probing over a registry — only runs on plausible payloads. */
  private[llm] def looksLikeImage(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && {
      val b = bytes.map(_ & 0xff)
      (b(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') || // PNG
      (b(0) == 0xff && b(1) == 0xd8) ||                              // JPEG
      (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') ||                 // GIF
      (b(0) == 'B' && b(1) == 'M')                                   // BMP
    }

  /** 8×8 average-hash (aHash) perceptual signature: 64 cells, bit k set
    * when cell k's mean is at or above the global mean. Real encoded
    * images decode through javax.imageio and average integer luminance
    * (299/587/114 weights) per grid cell; opaque payloads run the SAME
    * 64-cell pipeline over the raw bytes — a deterministic stand-in that
    * keeps the full plumbing testable without assets. Double means are
    * IEEE-deterministic (fixed fold order), so the signature is stable
    * across runs and partitionings. */
  def aHash(r: MediaRecord): Long = {
    val img =
      if (!looksLikeImage(r.media)) null
      else
        // NonFatal only: an OOM from a decompression-bomb image or a
        // linkage error must fail the task, not silently fall back to
        // the opaque-bytes hashing path
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.media))
        catch { case scala.util.control.NonFatal(_) => null }
    val cells: Array[Double] =
      if (img != null) lumaCells(img)
      else {
        val n = r.media.length
        Array.tabulate(64) { k =>
          if (n == 0) 0.0
          else {
            val lo = (k.toLong * n / 64).toInt
            val hi = math.max(lo + 1, ((k + 1).toLong * n / 64).toInt)
            var s = 0L; var i = lo
            while (i < hi && i < n) { s += (r.media(i) & 0xff); i += 1 }
            s.toDouble / (math.min(hi, n) - lo)
          }
        }
      }
    cellSig(cells)
  }

  /** 8×8 grid of mean integer luminance (299/587/114 weights) over a decoded
    * image — the shared cell pass behind [[aHash]] and the per-frame video
    * signatures, so an image and the identical video frame hash alike. */
  private[llm] def lumaCells(img: java.awt.image.BufferedImage): Array[Double] = {
    val w = img.getWidth; val h = img.getHeight
    Array.tabulate(64) { k =>
      val cx = k % 8; val cy = k / 8
      val x0 = cx * w / 8; val x1 = math.max(x0 + 1, (cx + 1) * w / 8)
      val y0 = cy * h / 8; val y1 = math.max(y0 + 1, (cy + 1) * h / 8)
      var s = 0L; var n = 0
      var y = y0
      while (y < y1 && y < h) {
        var x = x0
        while (x < x1 && x < w) {
          val rgb = img.getRGB(x, y)
          s += (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          n += 1; x += 1
        }
        y += 1
      }
      if (n == 0) 0.0 else s.toDouble / n
    }
  }

  /** Threshold a 64-cell vector at its mean into the 64-bit signature. */
  private[llm] def cellSig(cells: Array[Double]): Long = {
    val mean = cells.sum / 64
    var sig = 0L; var k = 0
    while (k < 64) { if (cells(k) >= mean) sig |= (1L << k); k += 1 }
    sig
  }

  /** Perceptual signatures as a per-partition batch pass: (id, sig) rows,
    * bytes dropped before anything shuffles. */
  def perceptualHashes(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(r => (r.doc_id, aHash(r)))).toDF("id", "sig")
  }

  /** Perceptual near-duplicate pairs: [[aHash]] signatures through the same
    * 16-bit pigeonhole banding + exact-Hamming core as text SimHash
    * ([[Dedup.hammingNearDup]]) — the image half of corpus dedup. Media
    * bytes never cross an exchange; only (id, sig) pairs shuffle. */
  def phashNearDup(media: Dataset[MediaRecord], maxHamming: Int = 3,
                   maxBucket: Int = 200): DataFrame =
    Dedup.hammingNearDup(perceptualHashes(media), maxHamming, maxBucket)

  /** Attach a fake image column: a REAL PNG per document (the image sibling
    * of [[withFakeAudio]]/[[withFakeVideo]]) — horizontal gray bands with
    * row-y gray level `(doc_id + y) % 256`, width `16 + octet_len(text)%48`,
    * height `16 + doc_id%32`. Deterministic, schema-true BinaryType, and
    * decodable by any PNG reader; because PNG is lossless and the luma of a
    * gray pixel (g,g,g) is exactly g under the integer 299/587/114 weights,
    * every downstream feature (dims, mean/min/max luminance) is PREDICTABLE
    * BY ARITHMETIC — which is what lets the real-codec decode tier carry a
    * DuckDB oracle (a genuine encode→decode round-trip check, not a stub
    * mirror). Narrow-projection-first repartition as in [[withFakeVideo]]:
    * the shuffle carries (id, len), never text or media bytes. */
  def withFakeImages(docs: DataFrame, textCol: String = "text"): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), octet_length(col(textCol)).cast("int").as("n"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .mapPartitions(_.map { case (id, n) =>
        val w = 16 + (n % 48)
        val h = 16 + (id % 32).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val all = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          val g = ((id + y) % 256).toInt
          val px = (g << 16) | (g << 8) | g
          var x = 0
          while (x < w) { all(y * w + x) = px; x += 1 }
          y += 1
        }
        img.setRGB(0, 0, w, h, all, 0, w)
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", baos)
        MediaRecord(id, baos.toByteArray, kind = "image")
      })
  }

  /** Real image feature extraction: JDK ImageIO decode → header dims +
    * channel count + full-pixel integer-luminance stats. Non-image /
    * corrupt payloads yield zero rows (quarantine-not-crash, the
    * [[decodeVideoFrames]] posture). Bytes stay inside the task; what
    * returns is one slim stats row per decodable record. */
  def decodeImageFeatures(r: MediaRecord): Option[ImageFeatures] = {
    val img =
      if (!looksLikeImage(r.media)) null
      else
        // NonFatal only: a decompression-bomb OOM must fail the task
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.media))
        catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) None
    else {
      val w = img.getWidth; val h = img.getHeight
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
      var i = 0
      while (i < px.length) {
        val rgb = px(i)
        val l = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        sum += l
        if (l < mn) mn = l
        if (l > mx) mx = l
        i += 1
      }
      Some(ImageFeatures(r.doc_id, w, h, img.getColorModel.getNumComponents,
        sum, sum.toDouble / (w.toLong * h), mn, mx))
    }
  }

  /** Image feature extraction as a per-partition batch pass (mapPartitions
    * — the Scala analogue of mapInPandas: one iterator per partition, no
    * per-row task overhead beyond the lambda). */
  def extractImageFeatures(media: Dataset[MediaRecord]): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(decodeImageFeatures))
  }

  /** Magic-byte sniff for RIFF/WAV containers (the audio format the JDK
    * decodes without external codecs). */
  private[llm] def looksLikeWav(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'

  /** Synthesize a REAL playable WAV payload per document: 16-bit mono PCM
    * sine wave, frequency and length derived deterministically from the doc.
    * The container has no audio assets, so this is the fixture generator —
    * but unlike a byte-blob stub the output is a spec-valid RIFF file whose
    * decoded features are analytically known (sine RMS = A/√2, zero-crossing
    * rate = 2f), which is what the property tests assert. */
  def sineWav(freqHz: Double, nSamples: Int, amplitude: Int = 16384,
              sampleRate: Int = 8000): Array[Byte] = {
    val dataBytes = nSamples * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2)            // block align
      .putShort(16)           // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataBytes)
    var i = 0
    while (i < nSamples) {
      bb.putShort(math.round(
        amplitude * math.sin(2 * math.Pi * freqHz * i / sampleRate)).toShort)
      i += 1
    }
    bb.array()
  }

  /** Attach a fake audio column: a real WAV per document, tone frequency
    * keyed off doc_id (200–1150 Hz in 50 Hz steps) and length off the text
    * size (1000–4000 samples) — deterministic, schema-true BinaryType. */
  def withFakeAudio(docs: DataFrame, textCol: String = "text"): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    // repartition AFTER the narrow projection: the shuffle carries 12-byte
    // (id, len) rows, never the text, and the synth+decode codec work that
    // follows spreads across all cores instead of the source's file count
    // (a single-file fixture otherwise runs the whole codec pass serially)
    docs.select(col("doc_id"), length(col(textCol)).cast("int").as("n"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .mapPartitions(_.map { case (id, n) =>
        MediaRecord(id, sineWav(200.0 + (id % 20) * 50.0,
          1000 + (n % 3001)), kind = "audio")
      })
  }

  /** Real audio decode via javax.sound.sampled (pure JDK — no external
    * codec): parse the RIFF container, stream the PCM frames once, and
    * reduce to per-record registers — sample count, RMS amplitude, and
    * channel-0 zero crossings (the cheap pitch/silence signals an audio
    * curation pass filters on). Only 16-bit PCM takes the sample loop
    * (the fixture format and by far the common real-world case); other
    * encodings and opaque/corrupt payloads return the zeroed register
    * block rather than crashing the task. */
  def decodeAudio(r: MediaRecord): AudioFeatures = {
    val none = AudioFeatures(r.doc_id, r.media.length, 0, 0, 0L, 0.0, 0L)
    if (!looksLikeWav(r.media)) none
    else decodePcm16Direct(r).getOrElse {
      // NonFatal only: a codec OOM must fail the task, not quarantine
      val in =
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.media))
        catch { case scala.util.control.NonFatal(_) => null }
      if (in == null) none
      else try {
        val f = in.getFormat
        val ok = f.getSampleSizeInBits == 16 &&
          f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        if (!ok) none.copy(sample_rate = f.getSampleRate.toInt,
          channels = f.getChannels)
        else {
          val ch = f.getChannels
          val frameBytes = f.getFrameSize
          val buf = new Array[Byte](frameBytes * 4096)
          var nFrames = 0L; var sumSq = 0.0; var zc = 0L; var prev = 0
          var first = true
          var read = in.read(buf)
          while (read > 0) {
            var off = 0
            while (off + frameBytes <= read) {
              // channel 0 sample of this frame (16-bit, container endianness)
              val lo = buf(off) & 0xff; val hi = buf(off + 1) & 0xff
              val s = (if (f.isBigEndian) (lo << 8) | hi else (hi << 8) | lo).toShort.toInt
              sumSq += s.toDouble * s
              if (!first && (s > 0) != (prev > 0) && s != 0 && prev != 0) zc += 1
              if (s != 0) { prev = s; first = false }
              nFrames += 1
              off += frameBytes
            }
            read = in.read(buf)
          }
          AudioFeatures(r.doc_id, r.media.length, f.getSampleRate.toInt, ch,
            nFrames, if (nFrames == 0) 0.0 else math.sqrt(sumSq / nFrames), zc)
        }
      } finally in.close()
    }
  }

  /** Direct RIFF walk + PCM16 feature loop for canonical 16-bit PCM WAV —
    * the hot path every production audio pipeline takes for plain PCM.
    * Exists because `AudioSystem.getAudioInputStream` probes a SYNCHRONIZED
    * service-provider registry per call: measured 22× per-call slowdown
    * under 32 executor threads (0.09 ms single-thread → ~4 ms effective),
    * turning a parallel decode stage into a lock convoy. This path touches
    * no shared state — a chunk walk over the local byte array (same posture
    * as [[parseAviFrames]]) and one tight sample loop, bit-identical to the
    * javax.sound path on PCM16 (asserted in MultimodalSpec). Non-PCM16
    * encodings return None and take the general AudioSystem path. */
  private def decodePcm16Direct(r: MediaRecord): Option[AudioFeatures] = {
    val b = r.media
    val le = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def int(at: Int) = if (at + 4 <= b.length) le.getInt(at) else -1
    def short(at: Int) = if (at + 2 <= b.length) le.getShort(at).toInt else -1
    def tag(at: Int) = if (at + 4 <= b.length) new String(b, at, 4, "US-ASCII") else ""
    var fmtAt = -1; var dataAt = -1; var dataLen = -1
    var p = 12
    while (p + 8 <= b.length && (fmtAt < 0 || dataAt < 0)) {
      val t = tag(p); val sz = int(p + 4)
      if (sz < 0 || p + 8 + sz > b.length) { p = b.length }
      else {
        if (t == "fmt ") fmtAt = p + 8
        else if (t == "data") { dataAt = p + 8; dataLen = sz }
        p += 8 + sz + (sz & 1)
      }
    }
    if (fmtAt < 0 || dataAt < 0) return None
    val audioFormat = short(fmtAt)
    val ch = short(fmtAt + 2)
    val rate = int(fmtAt + 4)
    val bits = short(fmtAt + 14)
    if (audioFormat != 1 || bits != 16 || ch < 1) return None
    val frameBytes = 2 * ch
    val nFrames = dataLen / frameBytes
    var sumSq = 0.0; var zc = 0L; var prev = 0; var first = true
    var f = 0
    while (f < nFrames) {
      val off = dataAt + f * frameBytes
      val s = ((b(off) & 0xff) | (b(off + 1) << 8)).toShort.toInt // ch 0, LE
      sumSq += s.toDouble * s
      if (!first && (s > 0) != (prev > 0) && s != 0 && prev != 0) zc += 1
      if (s != 0) { prev = s; first = false }
      f += 1
    }
    Some(AudioFeatures(r.doc_id, b.length, rate, ch, nFrames,
      if (nFrames == 0) 0.0 else math.sqrt(sumSq / nFrames), zc))
  }

  /** Audio feature extraction as a per-partition batch pass (see
    * [[extractImageFeatures]]): bytes decoded exactly once per record,
    * features (not bytes) are what shuffles downstream. */
  def extractAudioFeatures(media: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(decodeAudio))
  }

  /** Frame sampling for video-like binary payloads: split the byte stream
    * into `frameBytes`-sized frames and keep every `stride`-th, as
    * (id, frame_idx, frame, n_bytes) rows.
    *
    * This is the BYTE-PLUMBING PRIMITIVE of the video tier — the
    * codec-agnostic strided sampler for fixed-frame formats (raw video,
    * uncompressed planes, chunked sensor payloads), oracle-checked on its
    * frame arithmetic; [[extractVideoFrames]] is the container-aware sibling
    * that walks real RIFF/AVI chunk structure through the JDK JPEG codec.
    *
    * Pure expressions — `Column.substr` on BinaryType + posexplode; no UDF,
    * fully codegen'd. Scale shape: map-only row expansion; extract per-frame
    * features and DROP the byte column before any join/shuffle, so the heavy
    * binary never crosses an exchange. Empty payloads yield zero frames. */
  def sampleFrames(media: DataFrame, frameBytes: Int = 1024, stride: Int = 2,
                   idCol: String = "doc_id", binCol: String = "media"): DataFrame = {
    val len = length(col(binCol))
    val lastIdx = floor((len - lit(1)).cast("double") / frameBytes).cast("int")
    val idxs = sequence(lit(0), lastIdx, lit(stride))
    media.where(len > 0)
      .select(col(idCol), col(binCol),
        posexplode(transform(idxs, i => col(binCol).substr(i * frameBytes + 1, lit(frameBytes)))))
      .select(col(idCol), (col("pos") * stride).as("frame_idx"), col("col").as("frame"),
        length(col("col")).as("n_bytes"))
  }

  // ------------------------------------------------------------------
  // Real video: MJPEG-in-AVI container walk + per-frame JDK JPEG decode.
  // AVI is RIFF (the same container family as WAV), and Motion-JPEG is
  // just one JPEG per frame — so a byte-level chunk walk plus the JDK's
  // own JPEG decoder gives genuine container-level frame extraction with
  // zero external codecs. Interframe codecs (H.264 etc.) would need
  // ffmpeg bindings, absent in this container, and remain out of scope.
  // ------------------------------------------------------------------

  /** Magic-byte sniff for RIFF/AVI containers. */
  private[llm] def looksLikeAvi(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'A' && bytes(9) == 'V' && bytes(10) == 'I' && bytes(11) == ' '

  /** Synthesize a REAL spec-valid AVI container around pre-encoded JPEG
    * frames: RIFF('AVI ') → LIST(hdrl: avih + strl(strh 'vids'/'MJPG',
    * strf BITMAPINFOHEADER)) → LIST(movi: one '00dc' chunk per frame,
    * word-aligned) → idx1. The video sibling of [[sineWav]]: the container
    * has no media assets, so fixtures are synthesized — but as genuine
    * files any MJPEG-aware player parses, not byte blobs. */
  def mjpegAvi(frames: Seq[Array[Byte]], width: Int, height: Int,
               fps: Int = 10): Array[Byte] = {
    require(frames.nonEmpty, "an AVI needs at least one frame")
    def pad(n: Int) = n + (n & 1) // RIFF chunks are word-aligned
    val moviBody = frames.map(f => 8 + pad(f.length)).sum
    val idx1Body = 16 * frames.length
    // fixed-size header blocks: avih = 56, strh = 56, strf = 40
    val hdrlList = 12 + 64 + 12 + 64 + 48   // LIST hdrl total bytes on disk
    val riffBody = 4 + hdrlList + (12 + moviBody) + (8 + idx1Body)
    val bb = java.nio.ByteBuffer.allocate(8 + riffBody)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String) = bb.put(s.getBytes("US-ASCII"))
    val maxFrame = frames.map(_.length).max
    fourcc("RIFF"); bb.putInt(riffBody); fourcc("AVI ")
    fourcc("LIST"); bb.putInt(hdrlList - 8); fourcc("hdrl")
    fourcc("avih"); bb.putInt(56)
    bb.putInt(1000000 / fps).putInt(maxFrame * fps).putInt(0)
      .putInt(0x10) // AVIF_HASINDEX
      .putInt(frames.length).putInt(0).putInt(1).putInt(maxFrame)
      .putInt(width).putInt(height).putInt(0).putInt(0).putInt(0).putInt(0)
    fourcc("LIST"); bb.putInt(12 + 64 + 48 - 8); fourcc("strl")
    fourcc("strh"); bb.putInt(56)
    fourcc("vids"); fourcc("MJPG")
    bb.putInt(0).putShort(0).putShort(0).putInt(0)
      .putInt(1).putInt(fps) // scale / rate: fps frames per second
      .putInt(0).putInt(frames.length).putInt(maxFrame).putInt(-1).putInt(0)
      .putShort(0).putShort(0)
      .putShort(width.toShort).putShort(height.toShort)
    fourcc("strf"); bb.putInt(40)
    bb.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
    fourcc("MJPG")
    bb.putInt(width * height * 3).putInt(0).putInt(0).putInt(0).putInt(0)
    fourcc("LIST"); bb.putInt(4 + moviBody); fourcc("movi")
    val moviTagPos = bb.position() - 4
    val offsets = new Array[Int](frames.length)
    frames.zipWithIndex.foreach { case (f, i) =>
      // idx1 dwChunkOffset convention: from the 'movi' fourcc position
      offsets(i) = bb.position() - moviTagPos
      fourcc("00dc"); bb.putInt(f.length); bb.put(f)
      if ((f.length & 1) == 1) bb.put(0.toByte)
    }
    fourcc("idx1"); bb.putInt(idx1Body)
    frames.zipWithIndex.foreach { case (f, i) =>
      fourcc("00dc"); bb.putInt(0x10) // AVIIF_KEYFRAME
      bb.putInt(offsets(i)); bb.putInt(f.length)
    }
    bb.array()
  }

  /** Walk a RIFF/AVI byte stream and return the raw payloads of its video
    * frame chunks ('00dc'/'00db') in stream order — an honest container
    * parse (top-level chunk scan, LIST('movi') sub-walk, word-aligned
    * sizes), not an offset guess. Returns Nil for non-AVI or truncated
    * payloads — quarantine-not-crash, like every decoder here. */
  private[llm] def parseAviFrames(bytes: Array[Byte]): Seq[Array[Byte]] = {
    if (!looksLikeAvi(bytes)) return Nil
    val le = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def int(at: Int) = if (at + 4 <= bytes.length) le.getInt(at) else -1
    def tag(at: Int) = if (at + 4 <= bytes.length)
      new String(bytes, at, 4, "US-ASCII") else ""
    val out = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var p = 12
    while (p + 8 <= bytes.length) {
      val t = tag(p); val sz = int(p + 4)
      if (sz < 0 || p + 8 + sz > bytes.length) { p = bytes.length } // truncated
      else {
        if (t == "LIST" && tag(p + 8) == "movi") {
          var q = p + 12
          val end = p + 8 + sz
          while (q + 8 <= end) {
            val ft = tag(q); val fsz = int(q + 4)
            if (fsz < 0 || q + 8 + fsz > end) { q = end }
            else {
              if ((ft == "00dc" || ft == "00db") && fsz > 0)
                out += java.util.Arrays.copyOfRange(bytes, q + 8, q + 8 + fsz)
              q += 8 + fsz + (fsz & 1)
            }
          }
        }
        p += 8 + sz + (sz & 1)
      }
    }
    out.toSeq
  }

  /** Encode a deterministic synthetic frame as a real JPEG: a flat-shaded
    * gradient keyed by (seed, frameIdx) so consecutive frames differ but
    * reruns are bit-stable for a fixed JDK encoder. */
  private def syntheticJpegFrame(seed: Long, frameIdx: Int, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    // one row of the x-gradient, splatted to all rows in a single batch
    // setRGB (per-pixel setRGB pays a sync + color-model hop per call)
    val row = Array.tabulate(w) { x =>
      val lum = ((x * 255 / math.max(w - 1, 1)) + frameIdx * 40 + (seed % 97).toInt) % 256
      (lum << 16) | (lum << 8) | lum
    }
    val all = new Array[Int](w * h)
    var y = 0
    while (y < h) { System.arraycopy(row, 0, all, y * w, w); y += 1 }
    img.setRGB(0, 0, w, h, all, 0, w)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    baos.toByteArray
  }

  /** Attach a fake video column: a real MJPEG/AVI per document, frame count
    * keyed off the text length (2–5 frames of 64×48), gradient phase off
    * doc_id — deterministic, schema-true BinaryType, parseable by any
    * MJPEG-aware player. The video sibling of [[withFakeAudio]]. */
  def withFakeVideo(docs: DataFrame, textCol: String = "text"): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    // narrow-projection-first repartition: same rationale as withFakeAudio
    docs.select(col("doc_id"), length(col(textCol)).cast("int").as("n"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .mapPartitions(_.map { case (id, n) =>
        val frames = (0 until (2 + n % 4)).map(i => syntheticJpegFrame(id, i, 64, 48))
        MediaRecord(id, mjpegAvi(frames, 64, 48), kind = "video")
      })
  }

  /** Decode one video record to per-frame rows: container walk →
    * every `stride`-th frame chunk → JDK JPEG decode → (frame_idx, width,
    * height, sig) with the SAME 8×8 luma signature as [[aHash]], so video
    * frames join image signatures for cross-modal near-dup. Non-AVI,
    * truncated, or undecodable-frame payloads yield zero rows (quarantine-
    * not-crash). Bytes stay inside the task: only slim signature rows
    * return. */
  def decodeVideoFrames(r: MediaRecord, stride: Int = 1): Seq[(Long, Int, Int, Int, Long)] = {
    require(stride >= 1, "stride must be >= 1")
    parseAviFrames(r.media).zipWithIndex
      .collect { case (f, i) if i % stride == 0 =>
        val img =
          if (!looksLikeImage(f)) null
          else
            // NonFatal only: a decompression-bomb OOM must fail the task
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f))
            catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) null
        else (r.doc_id, i, img.getWidth, img.getHeight, cellSig(lumaCells(img)))
      }
      .filter(_ != null)
  }

  /** Video frame extraction as a per-partition batch pass: one container
    * walk + JPEG decode per record, emitting (doc_id, frame_idx, width,
    * height, sig) — the heavy AVI bytes never cross an exchange; what
    * shuffles downstream is 5 slim columns per sampled frame. */
  def extractVideoFrames(media: Dataset[MediaRecord], stride: Int = 1): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(decodeVideoFrames(_, stride)))
      .toDF("doc_id", "frame_idx", "width", "height", "sig")
  }
}
