package graft.ops

import graft.corpus.Corpus.mix
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines: media travels as opaque `binary` columns with typed
  * metadata, and per-item feature extraction is a shuffle-free typed
  * map over partitions.
  *
  * AUDIO decode is REAL: [[WavPcm]] is a dependency-free RIFF/WAVE PCM
  * parser (8/16/24/32-bit LE, multi-channel) feeding
  * mean/RMS/zero-crossing features — oracled end to end by
  * `media_wav_features` (DuckDB recomputes the integer-exact feature
  * sums from the same source values the WAV was built from).
  * IMAGE decode is REAL: [[Png]] is a dependency-free PNG parser
  * (CRC-checked chunks, JDK Inflater, all five row filters, gray /
  * RGB / palette / alpha) and [[Jpeg]] is a dependency-free baseline
  * JPEG decoder (canonical Huffman entropy decode, dequant + IDCT,
  * chroma upsampling, restart markers), both feeding dimensions +
  * grid-luminance features — oracled end to end by
  * `media_png_features` / `media_jpeg_features`. VIDEO decode is REAL
  * for MJPEG-in-AVI ([[Avi]]: RIFF container walk + per-frame [[Jpeg]]
  * decode — frame count, dimensions, keyframe grid-luma; oracled by
  * `media_avi_features`); motion-compensated codecs (H.264/VP9/AV1…)
  * remain the one declared STUB (no codec libraries in this
  * container): `fakeDecode` produces a deterministic feature vector
  * from the bytes, standing in for decode + model inference,
  * while everything Spark-side — binary schema, partitioning, batch
  * shape, null handling, the feature pipeline — is real and tested.
  * The binary codec path itself (BinaryType through ChunkCodec) is
  * first-class: media columns compress/roundtrip like any other
  * column.
  */
object MultiModal {

  /** Dependency-free RIFF/WAVE PCM codec (public container format:
    * RIFF chunks, `fmt ` format tag 1 = integer PCM, little-endian
    * samples; the multimodal-pipeline role the reference's Proxy/fetch
    * layer plays, python-blosc2 proxy.py:206).
    */
  object WavPcm {

    /** Decoded PCM audio: INTEGER samples as read from the container
      * (channel-interleaved), exact — normalization is the caller's
      * choice. 8-bit WAV is unsigned by spec and is centered to
      * [-128, 127] here so every width shares signed semantics.
      */
    final case class Audio(channels: Int, sampleRate: Int, bitsPerSample: Int,
                           samples: Array[Long]) {
      /** full-scale divisor: 2^(bits-1) (int16 → 32768). */
      def fullScale: Double = (1L << (bitsPerSample - 1)).toDouble
    }

    private def le16(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
    private def tag(b: Array[Byte], i: Int, t: String): Boolean =
      (b(i) & 0xff) == t.charAt(0) && (b(i + 1) & 0xff) == t.charAt(1) &&
        (b(i + 2) & 0xff) == t.charAt(2) && (b(i + 3) & 0xff) == t.charAt(3)

    /** Parse a RIFF/WAVE byte payload; None for anything that is not
      * well-formed integer PCM (fail-soft: media columns carry dirty
      * data at scale, a bad item must not kill the task).
      */
    def decode(bytes: Array[Byte]): Option[Audio] = {
      if (bytes.length < 44 || !tag(bytes, 0, "RIFF") || !tag(bytes, 8, "WAVE")) return None
      var pos = 12
      var channels = 0
      var sampleRate = 0
      var bits = 0
      var fmtOk = false
      var data: (Int, Int) = null // (offset, len)
      while (pos + 8 <= bytes.length) {
        val size = le32(bytes, pos + 4)
        if (size < 0 || pos + 8 + size > bytes.length) return None
        if (tag(bytes, pos, "fmt ")) {
          if (size < 16) return None
          val audioFormat = le16(bytes, pos + 8)
          channels = le16(bytes, pos + 10)
          sampleRate = le32(bytes, pos + 12)
          bits = le16(bytes, pos + 22)
          fmtOk = audioFormat == 1 && channels > 0 && sampleRate > 0 &&
            (bits == 8 || bits == 16 || bits == 24 || bits == 32)
        } else if (tag(bytes, pos, "data")) {
          data = (pos + 8, size)
        }
        pos += 8 + size + (size & 1) // RIFF chunks are 2-byte aligned
      }
      if (!fmtOk || data == null) return None
      val (off, len) = data
      val width = bits / 8
      val n = len / width
      val out = new Array[Long](n)
      var i = 0
      bits match {
        case 8 => // unsigned by spec → center
          while (i < n) { out(i) = (bytes(off + i) & 0xff) - 128L; i += 1 }
        case 16 =>
          while (i < n) { out(i) = le16(bytes, off + i * 2).toShort.toLong; i += 1 }
        case 24 =>
          while (i < n) {
            val v = (bytes(off + i * 3) & 0xff) | ((bytes(off + i * 3 + 1) & 0xff) << 8) |
              ((bytes(off + i * 3 + 2) & 0xff) << 16)
            out(i) = ((v << 8) >> 8).toLong // sign-extend 24 bits
            i += 1
          }
        case 32 =>
          while (i < n) { out(i) = le32(bytes, off + i * 4).toLong; i += 1 }
      }
      Some(Audio(channels, sampleRate, bits, out))
    }

    /** Minimal canonical writer (16-bit integer PCM) — the fixture side
      * of the decode oracle and a real exporter for test corpora.
      */
    def encode16(samples: Array[Short], sampleRate: Int, channels: Int = 1): Array[Byte] = {
      require(channels > 0 && sampleRate > 0)
      val dataLen = samples.length * 2
      val b = java.nio.ByteBuffer.allocate(44 + dataLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen).put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      b.putShort(1).putShort(channels.toShort).putInt(sampleRate)
      b.putInt(sampleRate * channels * 2).putShort((channels * 2).toShort).putShort(16)
      b.put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      while (i < samples.length) { b.putShort(samples(i)); i += 1 }
      b.array()
    }

    final case class Features(nSamples: Long, sumSamples: Long, sumSq: Long,
                              zeroCrossings: Long, rmsUnit: Double)

    /** Integer-exact audio features over the decoded samples: sums fit
      * a Long for any real clip (|s| < 2^31, sumSq < 2^62 up to ~2^31
      * 16-bit samples); zero crossing = strict sign product < 0; RMS on
      * the unit scale derived from the exact integers.
      */
    def features(a: Audio): Features = {
      val s = a.samples
      var sum = 0L
      var sq = 0L
      var zc = 0L
      var i = 0
      while (i < s.length) {
        sum += s(i)
        sq += s(i) * s(i)
        if (i > 0 && s(i) * s(i - 1) < 0) zc += 1
        i += 1
      }
      val rms = if (s.isEmpty) 0.0 else math.sqrt(sq.toDouble / s.length) / a.fullScale
      Features(s.length.toLong, sum, sq, zc, rms)
    }
  }

  final case class MediaFeatures(
      id: Long,
      mediaType: String, // sniffed from magic bytes
      sizeBytes: Int,
      byteEntropy: Double, // Shannon entropy of the byte histogram
      embedding: Array[Float], // REAL grid-luma for decodable PNGs/JPEGs; stub otherwise
      audioRms: Option[Double], // REAL WavPcm decode (wav items only)
      audioZeroCross: Option[Long],
      imgWidth: Option[Int], // REAL Png/Jpeg/Avi decode (well-formed image/video items)
      imgHeight: Option[Int],
      imgChannels: Option[Int],
      videoFrames: Option[Int] // REAL Avi MJPEG frame count (avi items only)
  )

  /** Magic-byte container sniffing (public file signatures). */
  def sniffType(bytes: Array[Byte]): String = {
    def at(i: Int): Int = if (i < bytes.length) bytes(i) & 0xff else -1
    if (at(0) == 0xff && at(1) == 0xd8 && at(2) == 0xff) "jpeg"
    else if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G') "png"
    else if (at(0) == 'R' && at(1) == 'I' && at(2) == 'F' && at(3) == 'F' &&
      at(8) == 'W' && at(9) == 'A' && at(10) == 'V' && at(11) == 'E') "wav"
    else if (at(0) == 'R' && at(1) == 'I' && at(2) == 'F' && at(3) == 'F' &&
      at(8) == 'A' && at(9) == 'V' && at(10) == 'I' && at(11) == ' ') "avi"
    else if (at(4) == 'f' && at(5) == 't' && at(6) == 'y' && at(7) == 'p') "mp4"
    else if (at(0) == 'I' && at(1) == 'D' && at(2) == '3') "mp3"
    else "unknown"
  }

  /** Shannon entropy (bits/byte) of the byte histogram — a cheap,
    * real signal (compressibility / already-compressed detection).
    */
  def byteEntropy(bytes: Array[Byte]): Double = {
    if (bytes.isEmpty) return 0.0
    val hist = new Array[Long](256)
    var i = 0
    while (i < bytes.length) { hist(bytes(i) & 0xff) += 1; i += 1 }
    var h = 0.0
    val n = bytes.length.toDouble
    var b = 0
    while (b < 256) {
      if (hist(b) > 0) { val p = hist(b) / n; h -= p * math.log(p) / math.log(2.0) }
      b += 1
    }
    h
  }

  /** STUB decoder: a deterministic pseudo-embedding from the content
    * bytes (stands in for image-decode + model inference; the real
    * thing drops in here without touching the Spark plumbing).
    */
  def fakeDecode(bytes: Array[Byte], dim: Int = 16): Array[Float] = {
    val out = new Array[Float](dim)
    var h = mix(bytes.length.toLong)
    var i = 0
    while (i < bytes.length) { h = mix(h ^ (bytes(i) & 0xffL) ^ i); if (i % 97 == 0) out(i / 97 % dim) += (h & 0xff) / 255.0f; i += 1 }
    var d = 0
    while (d < dim) { h = mix(h + d); out(d) += ((h >>> 11) % 1000) / 1000.0f; d += 1 }
    out
  }

  /** Feature extraction over a (idCol: long, mediaCol: binary) table —
    * one shuffle-free pass, batch-friendly, null-safe.
    */
  def featurize(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val mIdx = df.schema.fieldIndex(mediaCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        if (r.isNullAt(mIdx))
          MediaFeatures(id, "null", 0, 0.0, new Array[Float](16), None, None, None, None, None, None)
        else {
          val bytes = r.getAs[Array[Byte]](mIdx)
          // wav + png + jpeg + MJPEG-avi → REAL decodes (None for
          // malformed payloads, fail-soft); motion-codec video → stub
          val audio = WavPcm.decode(bytes).map(WavPcm.features)
          val kind = sniffType(bytes)
          val (dims, emb, nFrames): (Option[(Int, Int, Int)], Array[Float], Option[Int]) =
            kind match {
              case "png" =>
                val im = Png.decode(bytes)
                (im.map(i => (i.width, i.height, i.channels)),
                  im.map(i => Png.gridLuma(i)).getOrElse(fakeDecode(bytes)), None)
              case "jpeg" =>
                val im = Jpeg.decode(bytes)
                (im.map(i => (i.width, i.height, i.channels)),
                  im.map(i => Jpeg.gridLuma(i)).getOrElse(fakeDecode(bytes)), None)
              case "avi" =>
                val v = Avi.decode(bytes)
                (v.map(x => (x.width, x.height, x.first.channels)),
                  v.map(x => Jpeg.gridLuma(x.first)).getOrElse(fakeDecode(bytes)),
                  v.map(_.frameCount))
              case _ => (None, fakeDecode(bytes), None)
            }
          MediaFeatures(id, kind, bytes.length, byteEntropy(bytes),
            emb, audio.map(_.rmsUnit), audio.map(_.zeroCrossings),
            dims.map(_._1), dims.map(_._2), dims.map(_._3), nFrames)
        }
      }
    }(Encoders.product[MediaFeatures]).toDF()
  }

  /** A media-shaped deterministic fixture: synthetic binary blobs with
    * real magic bytes (so sniffing has something to find).
    */
  def syntheticMedia(spark: org.apache.spark.sql.SparkSession, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parts).map { id =>
      val h = mix(42L ^ id)
      val kind = (h & 3).toInt
      // noise body only for the kinds that ship one (mp3 blobs)
      def noise(): Array[Byte] = {
        val len = 256 + ((h >>> 8) & 0x3ff).toInt
        val b = new Array[Byte](len)
        var x = h
        var i = 0
        while (i < len) { x = mix(x); b(i) = (x & 0xff).toByte; i += 1 }
        b
      }
      // a REAL ImageIO-encoded noisy raster in the given container, so
      // featurize's image paths exercise the real [[Jpeg]]/[[Png]]
      // decoders; noise keeps entropy high
      def encodedImage(fmt: String): Array[Byte] = {
        val w = 24 + ((h >>> 16) & 15).toInt
        val ht = 16 + ((h >>> 24) & 7).toInt
        val img = new java.awt.image.BufferedImage(
          w, ht, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var z = h
        var y = 0
        while (y < ht) {
          var x2 = 0
          while (x2 < w) { z = mix(z); img.setRGB(x2, y, (z & 0xffffff).toInt); x2 += 1 }
          y += 1
        }
        val bo = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, fmt, bo)
        bo.toByteArray
      }
      kind match {
        case 0 => (id, encodedImage("jpg"))
        case 1 => (id, encodedImage("png"))
        case 2 =>
          // a REAL parseable PCM clip, so featurize's wav path decodes
          val ns = 64 + ((h >>> 8) & 0x3f).toInt
          val ss = new Array[Short](ns)
          var y = h
          var j = 0
          while (j < ns) { y = mix(y); ss(j) = (y & 0xffffL).toShort; j += 1 }
          (id, WavPcm.encode16(ss, 16000))
        case _ =>
          val b = noise()
          b(0) = 'I'; b(1) = 'D'; b(2) = '3'; (id, b)
      }
    }.toDF("media_id", "media")
  }
}
