package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns + typed metadata, processed with per-partition batch
  * functions (`mapPartitions` — the Scala analog of `mapInPandas`,
  * same batch-at-a-time shape).
  *
  * All three modalities are handled by REAL codecs, zero external
  * libraries: images via [[Multimodal.ImageCodec]] (javax.imageio
  * PNG/JPEG decode, channel-mean features, bilinear resize), audio via
  * [[Multimodal.AudioCodec]] (javax.sound WAV), video via
  * [[Multimodal.VideoCodec]] (hand-parsed Y4M/YUV4MPEG2 — the
  * uncompressed ffmpeg/x264 interchange format). `decodeStub` remains
  * as the generic opaque-bytes path. Everything around the codec —
  * schema, batching,
  * partitioning, metadata propagation — is real and is what matters at
  * 100 TB: rows carry ~MB payloads, so operators must (a) never
  * collect, (b) repartition by byte budget not row count, (c) keep
  * features columnar once extracted.
  */
object Multimodal {

  /** Build an asset table from documents (payload = utf8 bytes) — a
    * deterministic stand-in for real blobs so the pipeline is testable.
    */
  def assetsFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("asset_id"),
      when(col("doc_id") % 3 === 0, "image/png")
        .when(col("doc_id") % 3 === 1, "audio/wav")
        .otherwise("video/mp4").as("media_type"),
      encode(col("text"), "UTF-8").as("content"),
      struct(
        (col("n_chars") % 640 + 1).cast("int").as("width"),
        (col("n_chars") % 480 + 1).cast("int").as("height"),
        (col("n_chars") * 10).cast("long").as("duration_ms")).as("meta"))

  final case class AssetFeatures(
      asset_id: Long,
      media_type: String,
      n_bytes: Long,
      checksum: String,
      feature: Array[Float])

  /** STUB decode: bytes → fixed-size feature vector. A real deployment
    * replaces the body with an image/audio codec call; the signature,
    * batching and schema stay identical.
    */
  def decodeStub(content: Array[Byte], dim: Int = 8): Array[Float] = {
    val out = new Array[Float](dim)
    var i = 0
    while (i < content.length) {
      out(i % dim) += (content(i) & 0xff) / 255.0f
      i += 1
    }
    out
  }

  /** Per-partition feature extraction — one JVM-side batch loop per
    * partition (no per-row UDF overhead, no driver involvement).
    */
  def extractFeatures(assets: DataFrame): Dataset[AssetFeatures] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select("asset_id", "media_type", "content")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, mt, bytes) =>
          md.reset()
          val sum = md.digest(bytes).map("%02x".format(_)).mkString
          AssetFeatures(id, mt, bytes.length.toLong, sum, decodeStub(bytes))
        }
      }
  }

  /** STUB resize: recompute target metadata (aspect-preserving fit
    * into a bounding box) and re-derive a payload of proportional
    * size. A real deployment swaps the payload body for a codec
    * resize; the metadata math and schema flow are the real thing.
    */
  def resizeStub(assets: DataFrame, maxW: Int, maxH: Int): DataFrame =
    assets
      .withColumn("__scale", least(
        lit(maxW.toDouble) / col("meta.width"),
        lit(maxH.toDouble) / col("meta.height"),
        lit(1.0)))
      // payload shrinks with area (scale²), floor 1 byte — computed
      // BEFORE meta is replaced so the scale refers to the original
      .withColumn("content", expr(
        "substring(content, 1, cast(greatest(1.0, length(content) * __scale * __scale) as int))"))
      .withColumn("meta", struct(
        floor(col("meta.width") * col("__scale")).cast("int").as("width"),
        floor(col("meta.height") * col("__scale")).cast("int").as("height"),
        col("meta.duration_ms")))
      .drop("__scale")

  /** Frame/chunk sampling: slice the payload into fixed-size chunks and
    * keep every `stride`-th one (the video-frame-sampling shape) —
    * explode stays on executors, output rows carry small slices.
    */
  def sampleChunks(assets: DataFrame, chunkBytes: Int, stride: Int): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    val chunks = assets.select("asset_id", "content")
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        bytes.grouped(chunkBytes).zipWithIndex
          .filter(_._2 % stride == 0)
          .map { case (chunk, idx) => (id, idx, chunk) }
      }
    chunks.toDF("asset_id", "chunk_index", "chunk")
  }

  /** Byte-budget repartitioning: aim for ~`targetBytes` per partition
    * using the metadata size column — the knob that keeps ~MB-payload
    * rows from blowing past executor memory at scale.
    */
  def repartitionByBytes(assets: DataFrame, sizeCol: String, targetBytes: Long): DataFrame = {
    val total = assets.agg(sum(col(sizeCol))).head().getLong(0)
    val parts = math.max(1, math.min(10000, (total / math.max(1L, targetBytes)).toInt))
    assets.repartition(parts)
  }

  // ------------------------------------------------------- real images

  /** REAL image codec path — JDK-native `javax.imageio`, zero external
    * dependencies: PNG encode/decode, per-channel mean features, and
    * aspect-preserving resize. This replaces the stub for
    * `image/png`.
    */
  object ImageCodec {
    locally {
      System.setProperty("java.awt.headless", "true")
      javax.imageio.ImageIO.setUseCache(false) // no executor disk cache
    }

    /** Deterministic synthetic PNG (hash-noise raster) — real bytes a
      * real decoder reads back; the testable stand-in for stored blobs.
      */
    def encodePng(width: Int, height: Int, seed: Long): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val h = (x * 31L + y * 131L + seed) * 0x9E3779B97F4A7C15L
          img.setRGB(x, y, ((h >>> 40) & 0xFFFFFF).toInt)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    final case class ImageMeta(width: Int, height: Int,
        meanR: Double, meanG: Double, meanB: Double)

    /** Decode + per-channel means; None for undecodable bytes (the
      * corrupt-blob row a real pipeline must tolerate, not crash on).
      */
    def decode(bytes: Array[Byte]): Option[ImageMeta] =
      try Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))).map { img =>
        val w = img.getWidth
        val h = img.getHeight
        var (r, g, b) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        ImageMeta(w, h, r.toDouble / n, g.toDouble / n, b.toDouble / n)
      } catch { case _: Exception => None }

    /** Aspect-preserving fit into (maxW, maxH), bilinear, re-encoded
      * as PNG; never upscales. None if the input doesn't decode.
      */
    def resize(bytes: Array[Byte], maxW: Int, maxH: Int): Option[Array[Byte]] =
      try Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))).map { img =>
        val scale = math.min(1.0,
          math.min(maxW.toDouble / img.getWidth, maxH.toDouble / img.getHeight))
        val (tw, th) = (math.max(1, (img.getWidth * scale).toInt),
          math.max(1, (img.getHeight * scale).toInt))
        val out = new java.awt.image.BufferedImage(
          tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g2 = out.createGraphics()
        g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g2.drawImage(img, 0, 0, tw, th, null)
        g2.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        bos.toByteArray
      } catch { case _: Exception => None }
  }

  /** REAL audio codec path — JDK-native `javax.sound.sampled` WAV
    * support (the one audio format the JDK ships): 16-bit mono PCM
    * encode, header+format decode, RMS loudness.
    */
  object AudioCodec {

    /** Deterministic synthetic WAV: hash-noise 16-bit mono PCM. */
    def encodeWav(nFrames: Int, sampleRate: Int, seed: Long): Array[Byte] = {
      val pcm = new Array[Byte](nFrames * 2)
      var i = 0
      while (i < nFrames) {
        val h = (i * 2654435761L + seed) * 0x9E3779B97F4A7C15L
        val s = ((h >>> 48) & 0xFFFF).toShort
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = (s >> 8).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    final case class AudioMeta(sampleRate: Int, nFrames: Long,
        durationMs: Long, rms: Double)

    /** Direct RIFF/WAVE container walk for the canonical PCM layout —
      * the r16 fast path. `javax.sound`'s per-call stream pipeline
      * (provider lookup, stream wrappers, chunked reads) measured
      * ~8 ms per 32 KB clip, ~100× the actual header-parse + sample
      * sweep; a WAV container is a 44-byte header plus chunks, so the
      * decode itself is the loop over samples. Returns (sampleRate,
      * bitsPerSample, channels, dataOffset, dataLen) for 16-bit PCM;
      * None sends the caller to the javax.sound fallback (non-PCM,
      * a data chunk truncated by the end of the buffer, or exotic chunk
      * layouts). Chunks are word-aligned per the RIFF spec — the same
      * fields AudioSystem reads from the same bytes.
      */
    private def parseWavPcm(b: Array[Byte]): Option[(Int, Int, Int, Int)] = {
      def u32(o: Int): Long = (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      def u16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
      if (b.length < 44 ||
        b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
        b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') None
      else {
        var off = 12
        var sampleRate = -1; var channels = -1; var bits = -1
        var dataOff = -1; var dataLen = -1
        while (off + 8 <= b.length && (sampleRate < 0 || dataOff < 0)) {
          val len = u32(off + 4).toInt
          if (len < 0) return None // malformed length — fall back
          if (b(off) == 'f' && b(off + 1) == 'm' && b(off + 2) == 't' &&
            b(off + 3) == ' ' && off + 24 <= b.length) {
            if (u16(off + 8) != 1) return None // PCM only on the fast path
            channels = u16(off + 10)
            sampleRate = u32(off + 12).toInt
            bits = u16(off + 22)
          } else if (b(off) == 'd' && b(off + 1) == 'a' &&
            b(off + 2) == 't' && b(off + 3) == 'a') {
            dataOff = off + 8
            if (len > b.length - dataOff) return None // truncated — fall back
            dataLen = len
          }
          off += 8 + len + (len & 1)
        }
        if (sampleRate > 0 && channels == 1 && bits == 16 && dataOff >= 0)
          Some((sampleRate, channels, dataOff, dataLen))
        else None
      }
    }

    /** 16-bit PCM data-chunk window of a canonical WAV, or None →
      * caller falls back to javax.sound. */
    private[functions] def pcmWindow(bytes: Array[Byte]): Option[(Int, Int, Int)] =
      parseWavPcm(bytes).map { case (sr, _, o, l) => (sr, o, l) }

    /** Decode WAV format + frames; RMS over the 16-bit samples. None
      * for undecodable bytes. Fast path: direct RIFF walk (identical
      * fields — the oracle gate on q63 pins sample_rate/n_frames/
      * duration_ms to the generator's arithmetic, so a divergence
      * fails correctness); fallback: javax.sound, unchanged.
      */
    def decode(bytes: Array[Byte]): Option[AudioMeta] =
      (pcmWindow(bytes) match {
        case Some((sampleRate, o, l)) =>
          var sum = 0.0
          var i = o
          val end = o + l
          while (i + 1 < end) {
            val s = ((bytes(i) & 0xff) | (bytes(i + 1) << 8)).toShort
            sum += s.toDouble * s
            i += 2
          }
          val nFrames = l / 2 // mono 16-bit: 2 bytes per frame
          val n = math.max(1, l / 2)
          Some(AudioMeta(sampleRate, nFrames,
            nFrames * 1000L / sampleRate,
            math.sqrt(sum / n) / 32768.0))
        case None => None
      }).orElse(decodeViaJavaxSound(bytes))

    private def decodeViaJavaxSound(bytes: Array[Byte]): Option[AudioMeta] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val fmt = in.getFormat
        val nFrames = in.getFrameLength
        val pcm = in.readAllBytes()
        var sum = 0.0
        var i = 0
        while (i + 1 < pcm.length) {
          val s = ((pcm(i) & 0xff) | (pcm(i + 1) << 8)).toShort
          sum += s.toDouble * s
          i += 2
        }
        val n = math.max(1, pcm.length / 2)
        Some(AudioMeta(fmt.getSampleRate.toInt, nFrames,
          nFrames * 1000L / fmt.getSampleRate.toLong,
          math.sqrt(sum / n) / 32768.0))
      } catch { case _: Exception => None }
  }

  /** Real-WAV asset table: 8 kHz mono, n_chars*8 frames → duration_ms
    * = n_chars exactly (what q63's oracle predicts arithmetically).
    */
  def audioAssetsFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars").cast("int"))
      .as[(Long, Int)]
      .mapPartitions(_.map { case (id, nChars) =>
        (id, "audio/wav", AudioCodec.encodeWav(nChars * 8, 8000, id))
      })
      .toDF("asset_id", "media_type", "content")
  }

  /** Audio "thumbnail farm": a small space of distinct clips
    * ((n_chars%6, doc_id%5) → waveform) re-published under many asset
    * ids — jingles/idents syndicated across feeds; the audio analog of
    * [[thumbnailAssets]], sample-identity predictable by residue.
    */
  def audioThumbnails(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars").cast("int"))
      .as[(Long, Int)]
      .mapPartitions(_.map { case (id, nChars) =>
        (id, "audio/wav",
          AudioCodec.encodeWav((nChars % 6 + 2) * 400, 8000, id % 5))
      })
      .toDF("asset_id", "media_type", "content")
  }

  /** 64-bit audio energy fingerprint over a REAL decode: 64 equal
    * sample windows, each window's |sample| sum thresholded against
    * the global mean by integer cross-multiplication — the same
    * platform-exact construction as [[aHash64]], over PCM instead of
    * pixels. Sample-identical clips fingerprint equal by construction.
    */
  def audioFingerprint64(bytes: Array[Byte]): Option[String] =
    try {
      // r16 fast path: read the PCM window straight off the RIFF
      // container (see AudioCodec.parseWavPcm) — javax.sound's stream
      // pipeline dominated this kernel's task time; the fingerprint
      // sweep itself is unchanged and runs over the identical samples.
      val (pcm, base, n) = AudioCodec.pcmWindow(bytes) match {
        case Some((_, o, l)) => (bytes, o, l / 2)
        case None =>
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val p = in.readAllBytes()
          (p, 0, p.length / 2)
      }
      if (n < 64) None
      else {
        val winSum = new Array[Long](64)
        val winN = new Array[Long](64)
        var i = 0
        while (i < n) {
          val s = ((pcm(base + 2 * i) & 0xff) |
            (pcm(base + 2 * i + 1) << 8)).toShort
          val w = i * 64 / n
          winSum(w) += math.abs(s.toInt)
          winN(w) += 1
          i += 1
        }
        val totalSum = winSum.sum
        var bits = 0L
        var w = 0
        while (w < 64) {
          if (winSum(w) * n >= totalSum * winN(w)) bits |= (1L << w)
          w += 1
        }
        // sample count appended for the same reason aHash64 appends
        // dims: the threshold-against-mean bits are structured, and the
        // clip length separates the residue space structurally
        // (sample-identical clips always share n, so no group splits)
        Some(f"$bits%016x|$n")
      }
    } catch { case _: Exception => None }

  /** Per-partition real decode → audio fingerprint; undecodable or
    * too-short rows dropped. */
  def audioFingerprints(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select("asset_id", "content").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        audioFingerprint64(bytes).map(fp => (id, fp))
      })
      .toDF("asset_id", "afp")
  }

  final case class AudioFeatures(
      asset_id: Long, sample_rate: Int, n_frames: Long,
      duration_ms: Long, rms: Double, decoded: Boolean)

  /** Per-partition REAL WAV decode, corrupt rows surfaced not thrown. */
  def extractAudioFeatures(assets: DataFrame): Dataset[AudioFeatures] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select("asset_id", "content").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        AudioCodec.decode(bytes) match {
          case Some(m) => AudioFeatures(id, m.sampleRate, m.nFrames,
            m.durationMs, m.rms, decoded = true)
          case None => AudioFeatures(id, -1, -1L, -1L, 0.0, decoded = false)
        }
      })
  }

  /** REAL video codec path — Y4M (YUV4MPEG2), the uncompressed
    * interchange format of the mjpegtools/x264/ffmpeg toolchain: a
    * plain-ASCII stream header (`YUV4MPEG2 W.. H.. F25:1 .. C444`)
    * followed by `FRAME` markers and raw YUV planes. Parsed by hand —
    * zero dependencies. Crucially the Y4M header carries NO frame
    * count: the only way to report `n_frames` is to walk the stream
    * frame by frame, so a decode that "cheats" off the header cannot
    * pass the oracle.
    */
  object VideoCodec {

    /** Deterministic synthetic Y4M: C444 (full-res U/V planes, no
      * even-dimension constraint), hash-noise pixels.
      */
    def encodeY4m(width: Int, height: Int, nFrames: Int,
        fpsNum: Int, fpsDen: Int, seed: Long): Array[Byte] = {
      val header =
        s"YUV4MPEG2 W$width H$height F$fpsNum:$fpsDen Ip A1:1 C444\n"
          .getBytes("US-ASCII")
      val marker = "FRAME\n".getBytes("US-ASCII")
      val planeSize = width * height
      val bos = new java.io.ByteArrayOutputStream(
        header.length + nFrames * (marker.length + 3 * planeSize))
      bos.write(header)
      var f = 0
      while (f < nFrames) {
        bos.write(marker)
        val buf = new Array[Byte](3 * planeSize)
        var i = 0
        while (i < buf.length) {
          val h = ((f.toLong << 32) + i * 31L + seed) * 0x9E3779B97F4A7C15L
          buf(i) = ((h >>> 56) & 0xff).toByte
          i += 1
        }
        bos.write(buf)
        f += 1
      }
      bos.toByteArray
    }

    final case class VideoMeta(width: Int, height: Int,
        fpsNum: Int, fpsDen: Int, nFrames: Int, durationMs: Long,
        meanLuma: Double)

    /** Parse header + walk every frame (marker check, plane sizes,
      * truncation check) accumulating mean luma; None for anything
      * malformed — the corrupt-blob row a pipeline tolerates.
      */
    def decode(bytes: Array[Byte]): Option[VideoMeta] =
      try {
        val nl = bytes.indexOf('\n'.toByte)
        if (nl < 9) None
        else {
          val toks = new String(bytes, 0, nl, "US-ASCII").split(" ")
          if (toks(0) != "YUV4MPEG2") None
          else {
            var w = -1; var h = -1; var fn = 25; var fd = 1
            var cs = "C420jpeg"
            toks.iterator.drop(1).filter(_.nonEmpty).foreach { t =>
              t.charAt(0) match {
                case 'W' => w = t.substring(1).toInt
                case 'H' => h = t.substring(1).toInt
                case 'F' =>
                  val p = t.substring(1).split(":")
                  fn = p(0).toInt; fd = p(1).toInt
                case 'C' => cs = t
                case _   => ()
              }
            }
            val frameBytes =
              if (w <= 0 || h <= 0 || fn <= 0 || fd <= 0) -1
              else if (cs.startsWith("C444")) 3 * w * h
              else if (cs.startsWith("C422")) 2 * w * h
              else if (cs.startsWith("C420"))
                w * h + 2 * (((w + 1) / 2) * ((h + 1) / 2))
              else -1
            if (frameBytes <= 0) None
            else {
              var pos = nl + 1
              var frames = 0
              var lumaSum = 0L
              var bad = false
              while (!bad && pos < bytes.length) {
                var e = pos
                while (e < bytes.length && bytes(e) != '\n') e += 1
                if (e - pos < 5 || e >= bytes.length ||
                    new String(bytes, pos, 5, "US-ASCII") != "FRAME" ||
                    e + 1 + frameBytes > bytes.length) bad = true
                else {
                  pos = e + 1
                  var i = 0
                  val n = w * h
                  while (i < n) { lumaSum += bytes(pos + i) & 0xff; i += 1 }
                  pos += frameBytes
                  frames += 1
                }
              }
              if (bad || frames == 0) None
              else Some(VideoMeta(w, h, fn, fd, frames,
                frames * 1000L * fd / fn,
                lumaSum.toDouble / (frames.toLong * w * h)))
            }
          }
        }
      } catch { case _: Exception => None }

    /** Frame sampling over the real stream: every `stride`-th frame's
      * (index, mean luma) — the video analog of [[sampleChunks]], but
      * aligned to actual frame boundaries.
      */
    def sampleFrames(bytes: Array[Byte], stride: Int): Seq[(Int, Double)] =
      decode(bytes) match {
        case None => Nil
        case Some(m) =>
          val frameBytes = 3 * m.width * m.height // decode() accepted ⇒ C444 here
          val nl = bytes.indexOf('\n'.toByte)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
          var pos = nl + 1
          var f = 0
          while (pos < bytes.length) {
            var e = pos
            while (e < bytes.length && bytes(e) != '\n') e += 1
            pos = e + 1
            if (f % stride == 0 && pos + frameBytes <= bytes.length) {
              var luma = 0L
              var i = 0
              val n = m.width * m.height
              while (i < n) { luma += bytes(pos + i) & 0xff; i += 1 }
              out += ((f, luma.toDouble / n))
            }
            pos += frameBytes
            f += 1
          }
          out.toSeq
      }
  }

  /** Real-Y4M asset table: per-doc dimensions/frame-count seeded from
    * n_chars (what q64's oracle predicts), 25 fps → duration_ms =
    * n_frames * 40 exactly.
    */
  def videoAssetsFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars").cast("int"))
      .as[(Long, Int)]
      .mapPartitions(_.map { case (id, nChars) =>
        val w = nChars % 16 + 8
        val h = nChars % 12 + 8
        val nf = nChars % 10 + 2
        (id, "video/y4m", VideoCodec.encodeY4m(w, h, nf, 25, 1, id))
      })
      .toDF("asset_id", "media_type", "content")
  }

  /** Video "thumbnail farm": distinct clips drawn from a small residue
    * space ((n_chars%3, n_chars%2, n_chars%4, doc_id%5) → stream),
    * re-published under many asset ids — the looping-clip/syndicated-
    * promo case; stream-identity predictable by residue.
    */
  def videoThumbnails(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars").cast("int"))
      .as[(Long, Int)]
      .mapPartitions(_.map { case (id, nChars) =>
        val w = nChars % 3 + 8
        val h = nChars % 2 + 8
        val nf = nChars % 4 + 2
        (id, "video/y4m", VideoCodec.encodeY4m(w, h, nf, 25, 1, id % 5))
      })
      .toDF("asset_id", "media_type", "content")
  }

  /** Content signature over a REAL stream walk: geometry plus every
    * frame's mean luma (fixed 6-decimal formatting) hashed to md5 —
    * the per-frame-feature signature family video dedup uses. Walks
    * all frames (stride 1); None when the stream doesn't decode.
    */
  def videoSignature(bytes: Array[Byte]): Option[String] =
    VideoCodec.decode(bytes).map { m =>
      val frames = VideoCodec.sampleFrames(bytes, 1)
        .map { case (i, luma) => f"$i:$luma%.6f" }.mkString(";")
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"${m.width}x${m.height};$frames".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    }

  /** Per-partition real stream walk → signature; undecodable dropped. */
  def videoSignatures(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select("asset_id", "content").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        videoSignature(bytes).map(sg => (id, sg))
      })
      .toDF("asset_id", "vsig")
  }

  final case class VideoFeatures(
      asset_id: Long, width: Int, height: Int, n_frames: Long,
      duration_ms: Long, n_sampled: Long, decoded: Boolean)

  /** Per-partition REAL Y4M decode + stride-2 frame sampling; corrupt
    * rows surfaced as decoded=false, never thrown.
    */
  def extractVideoFeatures(assets: DataFrame): Dataset[VideoFeatures] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select("asset_id", "content").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        VideoCodec.decode(bytes) match {
          case Some(m) =>
            val sampled = VideoCodec.sampleFrames(bytes, stride = 2)
            VideoFeatures(id, m.width, m.height, m.nFrames.toLong,
              m.durationMs, sampled.size.toLong, decoded = true)
          case None =>
            VideoFeatures(id, -1, -1, -1L, -1L, 0L, decoded = false)
        }
      })
  }

  /** Real-PNG asset table: payload is an actual encoded image whose
    * dimensions ride in `meta` (seeded from doc_id — deterministic).
    */
  def imageAssetsFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = docs.select(col("doc_id"), col("n_chars").cast("int"))
      .as[(Long, Int)]
      .mapPartitions(_.map { case (id, nChars) =>
        val w = nChars % 24 + 8
        val h = nChars % 16 + 8
        (id, "image/png", ImageCodec.encodePng(w, h, id), w, h)
      })
      .toDF("asset_id", "media_type", "content", "w", "h")
    rows.select(col("asset_id"), col("media_type"), col("content"),
      struct(col("w").as("width"), col("h").as("height"),
        lit(0L).as("duration_ms")).as("meta"))
  }

  /** "Thumbnail farm" asset table: a SMALL space of distinct rasters
    * (width/height/seed each drawn from a few residues) re-published
    * under many asset ids — the syndicated-thumbnail situation visual
    * dedup exists for. Content is a pure function of
    * (n_chars%4, n_chars%3, doc_id%5), so an oracle can predict which
    * assets are pixel-identical without decoding anything.
    */
  def thumbnailAssets(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars").cast("int"))
      .as[(Long, Int)]
      .mapPartitions(_.map { case (id, nChars) =>
        val w = nChars % 4 + 8
        val h = nChars % 3 + 8
        (id, "image/png", ImageCodec.encodePng(w, h, id % 5), w, h)
      })
      .toDF("asset_id", "media_type", "content", "w", "h")
      .select(col("asset_id"), col("media_type"), col("content"),
        struct(col("w").as("width"), col("h").as("height"),
          lit(0L).as("duration_ms")).as("meta"))
  }

  /** 64-bit perceptual average-hash over a REAL decode: 8×8 block-mean
    * grid, each cell thresholded against the global mean. All-integer
    * arithmetic (cellSum·nTotal vs totalSum·nCell cross-multiplication,
    * no doubles, no platform-dependent resampling), so the hash is
    * bit-identical on every JVM/partitioning — pixel-identical inputs
    * hash equal by construction, and 64 bits keep distinct rasters
    * apart. Returned as 16-hex; None when the payload doesn't decode.
    */
  def aHash64(bytes: Array[Byte]): Option[String] =
    try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))).map { img =>
      val w = img.getWidth
      val h = img.getHeight
      val cellSum = new Array[Long](64)
      val cellN = new Array[Long](64)
      var y = 0
      while (y < h) {
        val cy = y * 8 / h
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          val gray = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
          val c = cy * 8 + x * 8 / w
          cellSum(c) += gray
          cellN(c) += 1
          x += 1
        }
        y += 1
      }
      val totalSum = cellSum.sum
      val nTotal = w.toLong * h
      var bits = 0L
      var c = 0
      while (c < 64) {
        if (cellSum(c) * nTotal >= totalSum * cellN(c)) bits |= (1L << c)
        c += 1
      }
      // dims appended: the thresholded-block hash is structured, so two
      // different-geometry rasters could in principle share a bit
      // pattern; WxH makes the dedup key structurally separate them
      // (pixel-identical rasters always share dims, so no group splits)
      f"$bits%016x|${w}x$h"
    } catch { case _: Exception => None }

  /** Per-partition real decode → perceptual hash; undecodable rows are
    * dropped (they cannot be visually deduped).
    */
  def imagePHashes(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select("asset_id", "content").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        aHash64(bytes).map(hx => (id, hx))
      })
      .toDF("asset_id", "phash")
  }

  final case class ImageFeatures(
      asset_id: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double, decoded: Boolean)

  /** Per-partition REAL decode: one codec loop per partition, corrupt
    * rows surfaced as decoded=false instead of failing the job.
    */
  def extractImageFeatures(assets: DataFrame): Dataset[ImageFeatures] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select("asset_id", "content").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        ImageCodec.decode(bytes) match {
          case Some(m) =>
            ImageFeatures(id, m.width, m.height, m.meanR, m.meanG, m.meanB, decoded = true)
          case None => ImageFeatures(id, -1, -1, 0, 0, 0, decoded = false)
        }
      })
  }

  /** Per-partition REAL resize into a bounding box; payload and meta
    * both updated from the actually-decoded dimensions.
    */
  def resizeImages(assets: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select("asset_id", "media_type", "content")
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, mt, bytes) =>
        ImageCodec.resize(bytes, maxW, maxH).flatMap(out =>
          ImageCodec.decode(out).map(m => (id, mt, out, m.width, m.height)))
      })
      .toDF("asset_id", "media_type", "content", "w", "h")
      .select(col("asset_id"), col("media_type"), col("content"),
        struct(col("w").as("width"), col("h").as("height"),
          lit(0L).as("duration_ms")).as("meta"))
  }
}
