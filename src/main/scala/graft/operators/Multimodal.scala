package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with typed metadata structs. Every codec here is REAL:
  * PNG/JPEG/BMP/GIF via the JDK's own `javax.imageio` ([[ImageCodec]]),
  * Netpbm P6 ([[PpmCodec]]) and RIFF/WAVE ([[WavCodec]]) hand-parsed. A
  * production build would link libjpeg-turbo/ffmpeg into the same
  * `mapPartitions` slots for the formats ImageIO lacks.
  *
  * At 100 TB the key constraints this module encodes:
  *  - payload bytes stay OFF the shuffle: decode/feature-extract runs
  *    `mapPartitions` in place, metadata-only columns shuffle afterwards;
  *  - `spark.sql.files.maxPartitionBytes` governs scan partition sizing, and
  *    binary rows are large, so feature extraction is per-partition batched.
  */
object Multimodal {

  /** Metadata struct carried beside every media payload. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("byte_len", LongType, nullable = false),
    StructField("magic", StringType, nullable = true),
    StructField("media_type", StringType, nullable = true)
  ))

  /** Decoded-image feature schema produced by [[ImageCodec]]: dims, total
    * luminance, and an 8-bucket gray histogram (the feature vector). */
  val imageFeatureType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("gray_sum", LongType, nullable = false),
    StructField("hist", ArrayType(LongType, containsNull = false), nullable = false)
  ))

  /** Sniff payload metadata from the raw bytes — pure column expressions:
    * byte length, 4-byte magic prefix (hex), and a magic→type map. */
  def withMediaMeta(df: DataFrame, binCol: Column): DataFrame = {
    val magic = hex(substring(binCol, 1, 4))
    val mediaType = when(magic.startsWith("FFD8"), "image/jpeg")
      .when(magic === "89504E47", "image/png")
      .when(magic === "52494646", "audio/wav")
      .otherwise("application/octet-stream")
    df.withColumn("media_meta",
      struct(octet_length(binCol).cast("long").as("byte_len"),
             magic.as("magic"), mediaType.as("media_type")))
  }

  /** REAL image codec on the JDK's `javax.imageio` — no external library.
    * Decodes any ImageIO-supported container (PNG/JPEG/BMP/GIF here), reads
    * luminance samples off the raster, resizes via `BufferedImage`.
    *
    * Everything is integer math so a SQL oracle can recompute the outputs
    * bit-exactly from the source bytes: gray sums (not float means),
    * floor-division aspect fits, floor-division nearest-neighbor sampling.
    * Undecodable bytes → None, never a throw. */
  object ImageCodec {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    // never spill decode scratch to disk tmp files on executors
    ImageIO.setUseCache(false)

    final case class Img(width: Int, height: Int, graySum: Long,
                         hist: Array[Long])

    /** Deterministic grayscale PNG builder (JVM-side twin of the decoder,
      * used by the oracle round-trip queries — the [[buildWav]] pattern):
      * pixel (x, y) = `bytes[(y*w + x) % bytes.length]`. PNG is lossless and
      * 8-bit gray samples carry no color-profile ambiguity, so samples
      * round-trip exactly through any conformant decoder. */
    def buildPng(w: Int, h: Int, bytes: Array[Byte]): Array[Byte] =
      build(w, h, bytes, "png")

    /** JPEG twin of [[buildPng]] — LOSSY, so only container-level facts
      * (magic, dimensions) survive the round trip; sums do not. Exercises
      * the JDK's JPEG encoder+decoder in the same distributed slots. */
    def buildJpeg(w: Int, h: Int, bytes: Array[Byte]): Array[Byte] =
      build(w, h, bytes, "jpg")

    private def build(w: Int, h: Int, bytes: Array[Byte], fmt: String): Array[Byte] = {
      require(w > 0 && h > 0 && bytes.nonEmpty, "empty image")
      require(w.toLong * h <= Int.MaxValue, s"image too large: ${w}x$h")
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var p = 0
      while (p < w * h) {
        raster.setSample(p % w, p / w, 0, bytes(p % bytes.length) & 0xFF)
        p += 1
      }
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, fmt, out)
      out.toByteArray
    }

    private def readImage(bytes: Array[Byte]): Option[BufferedImage] =
      if (bytes == null || bytes.length == 0) None
      else
        try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
        catch { case _: java.io.IOException => None }

    /** One pixel as 8-bit luminance: single-band rasters read the sample
      * directly; color rasters fold to integer ITU-601 luma
      * ((299·R + 587·G + 114·B) / 1000 — deterministic, no floats), so a
      * real RGB payload gets honest luminance stats everywhere, never the
      * red channel mislabeled as gray. */
    private def luma(raster: java.awt.image.Raster, x: Int, y: Int): Int =
      if (raster.getNumBands >= 3)
        (299 * raster.getSample(x, y, 0) + 587 * raster.getSample(x, y, 1)
          + 114 * raster.getSample(x, y, 2)) / 1000
      else raster.getSample(x, y, 0)

    /** Decode + feature-extract: dims, gray (luma) sum, 8-bucket histogram
      * (bucket = sample >> 5, clamped for >8-bit sources). */
    def decode(bytes: Array[Byte]): Option[Img] = readImage(bytes).map { img =>
      val raster = img.getRaster
      val (w, h) = (img.getWidth, img.getHeight)
      var sum = 0L
      val hist = new Array[Long](8)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = luma(raster, x, y)
          sum += v; hist(math.min(7, v >> 5)) += 1
          x += 1
        }
        y += 1
      }
      Img(w, h, sum, hist)
    }

    /** Perceptual average-hash (aHash) of a decoded image: downscale to an
      * 8×8 luma grid by integer block-averaging, then bit i = 1 iff
      * grid_i ≥ mean — compared as `grid_i·64 ≥ Σgrid` so the whole hash is
      * integer-exact (no float mean). Returned as a 64-char '0'/'1' string
      * (stable, engine-agnostic text form). Two images whose hashes sit
      * within a small Hamming distance are perceptual near-dups — the
      * image analog of SimHash over tokens, and the standard cheap
      * pre-filter before pixel-level verification. For an image that is
      * already 8×8 the downscale is the identity, which is what makes the
      * encode→decode→hash round trip SQL-oracle-able on byte-built
      * fixtures. */
    def aHash(bytes: Array[Byte]): Option[String] = readImage(bytes).map { img =>
      val raster = img.getRaster
      val w = img.getWidth; val h = img.getHeight
      val blockSum = new Array[Long](64)
      val blockCnt = new Array[Long](64)
      var y = 0
      while (y < h) {
        val by = y * 8 / h
        var x = 0
        while (x < w) {
          val i = by * 8 + (x * 8 / w)
          blockSum(i) += luma(raster, x, y); blockCnt(i) += 1
          x += 1
        }
        y += 1
      }
      val grid = Array.tabulate(64)(i => if (blockCnt(i) == 0) 0L else blockSum(i) / blockCnt(i))
      val total = grid.sum
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i < 64) { sb.append(if (grid(i) * 64 >= total) '1' else '0'); i += 1 }
      sb.toString
    }

    /** Per-frame gray sums of a vertical film strip: frame f covers rows
      * [f*frameH, (f+1)*frameH). Trailing rows short of a full frame are
      * dropped, mirroring a container with a truncated last frame. */
    def frameSums(bytes: Array[Byte], frameH: Int): Option[(Int, Int, Array[Long])] =
      readImage(bytes).map { img =>
        val raster = img.getRaster
        val (w, h) = (img.getWidth, img.getHeight)
        val nFrames = h / frameH
        val sums = new Array[Long](nFrames)
        var f = 0
        while (f < nFrames) {
          var s = 0L
          var y = f * frameH
          while (y < (f + 1) * frameH) {
            var x = 0
            while (x < w) { s += luma(raster, x, y); x += 1 }
            y += 1
          }
          sums(f) = s
          f += 1
        }
        (w, nFrames, sums)
      }

    /** Integer aspect-preserving fit of (w, h) into (maxW, maxH): the
      * binding side lands exactly on the box, the other floors — pure
      * integer math, reproducible in SQL. */
    def fitBox(w: Int, h: Int, maxW: Int, maxH: Int): (Int, Int) =
      if (w <= maxW && h <= maxH) (w, h)
      else if (w.toLong * maxH >= h.toLong * maxW) // width binds
        (maxW, math.max(1, (h.toLong * maxW / w).toInt))
      else (math.max(1, (w.toLong * maxH / h).toInt), maxH)

    /** Decode → nearest-neighbor downscale into the box → re-encode PNG →
      * decode AGAIN and report dims + gray sum from the re-decoded image,
      * so the emitted metadata witnesses the full write/read round trip.
      * NN source pixel: (x*w/ow, y*h/oh), floor division. */
    def resize(bytes: Array[Byte], maxW: Int, maxH: Int): Option[(Array[Byte], Img)] =
      readImage(bytes).flatMap { img =>
        val (w, h) = (img.getWidth, img.getHeight)
        val (ow, oh) = fitBox(w, h, maxW, maxH)
        val out = new BufferedImage(ow, oh, BufferedImage.TYPE_BYTE_GRAY)
        val src = img.getRaster
        val dst = out.getRaster
        var y = 0
        while (y < oh) {
          var x = 0
          while (x < ow) {
            dst.setSample(x, y, 0,
              math.min(255, luma(src, (x.toLong * w / ow).toInt, (y.toLong * h / oh).toInt)))
            x += 1
          }
          y += 1
        }
        val bos = new ByteArrayOutputStream()
        ImageIO.write(out, "png", bos)
        val png = bos.toByteArray
        decode(png).map(png -> _)
      }
  }

  /** REAL codec for binary P6 PPM (Netpbm — public format): magic check,
    * whitespace- and comment-tolerant header parse (dims + maxval), then
    * per-channel byte sums over the RGB raster. This is the proof that the
    * [[extractFeatures]] plumbing runs an actual decoder distributed — a
    * production build links libjpeg/ffmpeg into the same `mapPartitions`
    * slot. Integer sums (not float means) keep the output exactly
    * comparable across engines. Undecodable bytes → None, never a throw. */
  object PpmCodec {
    final case class Ppm(width: Int, height: Int, maxval: Int,
                         sumR: Long, sumG: Long, sumB: Long)

    def decode(bytes: Array[Byte]): Option[Ppm] = {
      if (bytes == null || bytes.length < 9 ||
          bytes(0) != 'P' || bytes(1) != '6') return None
      var pos = 2
      // read the next header int, skipping whitespace and '#' comments
      def nextInt(): Option[Int] = {
        while (pos < bytes.length &&
               (Character.isWhitespace(bytes(pos)) || bytes(pos) == '#')) {
          if (bytes(pos) == '#') {
            while (pos < bytes.length && bytes(pos) != '\n') pos += 1
          } else pos += 1
        }
        val start = pos
        while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') pos += 1
        // 9-digit cap: anything longer is garbage and would overflow toInt
        if (pos == start || pos - start > 9) None
        else Some(new String(bytes, start, pos - start, "US-ASCII").toInt)
      }
      for {
        w <- nextInt(); h <- nextInt(); mv <- nextInt()
        if w > 0 && h > 0 && mv > 0 && mv < 65536 && pos < bytes.length
        // exactly ONE whitespace byte separates maxval from the raster
        _ = (pos += 1)
        need = w.toLong * h * 3
        if mv <= 255 && bytes.length - pos >= need // 2-byte samples unsupported
      } yield {
        var (r, g, b) = (0L, 0L, 0L)
        var i = 0
        while (i < need) {
          val v = bytes(pos + i) & 0xFF
          (i % 3: @annotation.switch) match {
            case 0 => r += v
            case 1 => g += v
            case _ => b += v
          }
          i += 1
        }
        Ppm(w, h, mv, r, g, b)
      }
    }
  }

  /** REAL codec for RIFF/WAVE headers (public format): validates the RIFF
    * container, walks the chunk list (chunks may precede `fmt `; odd-sized
    * chunks pad to even per the spec), and reads the PCM format fields +
    * data length. The audio twin of [[PpmCodec]] — proof the audio arm of
    * the multimodal plumbing parses a real container, with the raw sample
    * payload left opaque exactly as a feature pipeline would. */
  object WavCodec {
    final case class Wav(audioFormat: Int, channels: Int, sampleRate: Int,
                         bitsPerSample: Int, dataLen: Long) {
      def byteRate: Long = sampleRate.toLong * channels * bitsPerSample / 8
      def durationMs: Long = if (byteRate <= 0) 0L else dataLen * 1000L / byteRate
    }

    private def u16(b: Array[Byte], p: Int): Int =
      (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8)
    private def u32(b: Array[Byte], p: Int): Long =
      (b(p) & 0xFFL) | ((b(p + 1) & 0xFFL) << 8) |
        ((b(p + 2) & 0xFFL) << 16) | ((b(p + 3) & 0xFFL) << 24)
    private def tag(b: Array[Byte], p: Int): String =
      new String(b, p, 4, "US-ASCII")

    def decode(bytes: Array[Byte]): Option[Wav] = {
      if (bytes == null || bytes.length < 44 ||
          tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return None
      var pos = 12
      var fmt: Option[(Int, Int, Int, Int)] = None
      var dataLen: Option[Long] = None
      while (pos + 8 <= bytes.length && (fmt.isEmpty || dataLen.isEmpty)) {
        val id = tag(bytes, pos)
        val size = u32(bytes, pos + 4)
        val body = pos + 8
        id match {
          case "fmt " if size >= 16 && body + 16 <= bytes.length =>
            fmt = Some((u16(bytes, body), u16(bytes, body + 2),
              u32(bytes, body + 4).toInt, u16(bytes, body + 14)))
          case "data" =>
            // honor the declared size, clipped to what is actually present
            dataLen = Some(math.min(size, (bytes.length - body).toLong))
          case _ => ()
        }
        // A declared size larger than the remaining bytes means a truncated
        // (or hostile) chunk — nothing can follow it, and size.toInt may be
        // negative (u32 high bit), which would stall or rewind pos forever.
        if (size > bytes.length - body) pos = bytes.length
        else pos = body + size.toInt + (size.toInt & 1) // odd chunks pad to even
      }
      for ((af, ch, sr, bps) <- fmt; dl <- dataLen
           if ch > 0 && sr > 0 && bps > 0)
        yield Wav(af, ch, sr, bps, dl)
    }

    final case class PcmStats(nSamples: Long, sumAbs: Long, peak: Long)

    /** Sample-level PCM statistics from the decoded data chunk — the
      * feature-extraction step past container metadata: count, Σ|sample|
      * (the integer numerator of mean-abs amplitude; RMS-class loudness
      * without a float in sight) and peak |sample|. 16-bit LE PCM only
      * (the format [[graft.operators.Multimodal.buildWav]] emits); other
      * widths return None rather than mis-reading. */
    def pcmStats(bytes: Array[Byte]): Option[PcmStats] = {
      if (bytes == null || bytes.length < 44 ||
          tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return None
      var pos = 12
      var bps = -1
      var data: Option[(Int, Long)] = None // (offset, len)
      while (pos + 8 <= bytes.length && (bps < 0 || data.isEmpty)) {
        val id = tag(bytes, pos)
        val size = u32(bytes, pos + 4)
        val body = pos + 8
        id match {
          case "fmt " if size >= 16 && body + 16 <= bytes.length =>
            bps = u16(bytes, body + 14)
          case "data" =>
            data = Some((body, math.min(size, (bytes.length - body).toLong)))
          case _ => ()
        }
        if (size > bytes.length - body) pos = bytes.length
        else pos = body + size.toInt + (size.toInt & 1)
      }
      if (bps != 16) return None
      data.map { case (off, len) =>
        val n = len / 2
        var i = 0L; var sum = 0L; var peak = 0L
        while (i < n) {
          val p = off + 2 * i.toInt
          val raw = (bytes(p) & 0xFF) | ((bytes(p + 1) & 0xFF) << 8)
          val s = if (raw >= 0x8000) raw - 0x10000 else raw
          val a = math.abs(s).toLong
          sum += a; if (a > peak) peak = a
          i += 1
        }
        PcmStats(n, sum, peak)
      }
    }

    /** Per-frame peak |sample| over the decoded 16-bit PCM data chunk —
      * the framing primitive under VAD-style silence detection. Frames
      * are `samplesPerFrame` consecutive samples; a trailing partial
      * frame is dropped (a half-frame's energy is undefined — both
      * engines drop it identically). Same chunk walk and signed-sample
      * decode as [[pcmStats]]. */
    def frameAbsMaxes(bytes: Array[Byte], samplesPerFrame: Int): Option[Array[Long]] = {
      require(samplesPerFrame > 0, "samplesPerFrame must be positive")
      if (bytes == null || bytes.length < 44 ||
          tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return None
      var pos = 12
      var bps = -1
      var data: Option[(Int, Long)] = None
      while (pos + 8 <= bytes.length && (bps < 0 || data.isEmpty)) {
        val id = tag(bytes, pos)
        val size = u32(bytes, pos + 4)
        val body = pos + 8
        id match {
          case "fmt " if size >= 16 && body + 16 <= bytes.length =>
            bps = u16(bytes, body + 14)
          case "data" =>
            data = Some((body, math.min(size, (bytes.length - body).toLong)))
          case _ => ()
        }
        if (size > bytes.length - body) pos = bytes.length
        else pos = body + size.toInt + (size.toInt & 1)
      }
      if (bps != 16) return None
      data.map { case (off, len) =>
        val nFrames = ((len / 2) / samplesPerFrame).toInt
        val out = Array.ofDim[Long](nFrames)
        var f = 0
        while (f < nFrames) {
          var j = 0; var mx = 0L
          while (j < samplesPerFrame) {
            val p = off + 2 * (f * samplesPerFrame + j)
            val raw = (bytes(p) & 0xFF) | ((bytes(p + 1) & 0xFF) << 8)
            val s = if (raw >= 0x8000) raw - 0x10000 else raw
            val a = math.abs(s).toLong
            if (a > mx) mx = a
            j += 1
          }
          out(f) = mx
          f += 1
        }
        out
      }
    }
  }

  /** Decode WAV payloads via `mapPartitions`; appends a `wav` struct
    * (null for undecodable payloads). */
  def decodeWav(df: DataFrame, binColName: String): DataFrame = {
    val wavType = StructType(Seq(
      StructField("audio_format", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("bits_per_sample", IntegerType, nullable = false),
      StructField("data_len", LongType, nullable = false),
      StructField("duration_ms", LongType, nullable = false)))
    val outSchema = StructType(df.schema.fields :+ StructField("wav", wavType))
    val binIdx = df.schema.fieldIndex(binColName)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val decoded = WavCodec.decode(r.getAs[Array[Byte]](binIdx))
        Row.fromSeq(r.toSeq :+ decoded.map(w =>
          Row(w.audioFormat, w.channels, w.sampleRate, w.bitsPerSample,
            w.dataLen, w.durationMs)).orNull)
      }
    }(enc)
  }

  /** Deterministic PCM WAV payload builder (JVM-side twin of the decoder,
    * used by the oracle round-trip query): standard 44-byte RIFF header +
    * the given data bytes truncated to whole frames. */
  def buildWav(channels: Int, sampleRate: Int, bitsPerSample: Int,
               data: Array[Byte]): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val dataLen = if (blockAlign <= 0) 0 else (data.length / blockAlign) * blockAlign
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(channels.toShort)
      .putInt(sampleRate).putInt(sampleRate * channels * bitsPerSample / 8)
      .putShort(blockAlign.toShort).putShort(bitsPerSample.toShort)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
      .put(data, 0, dataLen)
    buf.array()
  }

  /** Decode P6 payloads via `mapPartitions` — same batch shape as
    * [[extractFeatures]] but with the REAL [[PpmCodec]]; appends a
    * `ppm` struct (null for undecodable payloads). */
  def decodePpm(df: DataFrame, binColName: String): DataFrame = {
    val ppmType = StructType(Seq(
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("maxval", IntegerType, nullable = false),
      StructField("sum_r", LongType, nullable = false),
      StructField("sum_g", LongType, nullable = false),
      StructField("sum_b", LongType, nullable = false)))
    val outSchema = StructType(df.schema.fields :+ StructField("ppm", ppmType))
    val binIdx = df.schema.fieldIndex(binColName)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val decoded = PpmCodec.decode(r.getAs[Array[Byte]](binIdx))
        Row.fromSeq(r.toSeq :+ decoded.map(p =>
          Row(p.width, p.height, p.maxval, p.sumR, p.sumG, p.sumB)).orNull)
      }
    }(enc)
  }

  /** Decode + feature-extract over the binary column via `mapPartitions` —
    * the Scala analog of a pandas_udf/mapInPandas batch: one codec context
    * per partition, rows streamed through it, payload never shuffled.
    * Appends an `img` struct ([[imageFeatureType]]); undecodable → null. */
  def extractFeatures(df: DataFrame, binColName: String): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField("img", imageFeatureType))
    val binIdx = df.schema.fieldIndex(binColName)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val decoded = ImageCodec.decode(r.getAs[Array[Byte]](binIdx))
        Row.fromSeq(r.toSeq :+ decoded.map(i =>
          Row(i.width, i.height, i.graySum, i.hist.toSeq)).orNull)
      }
    }(enc)
  }

  /** Append the perceptual average-hash of a binary image column as a
    * 64-char bit-string column `ahash` (null when the payload doesn't
    * decode). Same `mapPartitions` batch shape as [[extractFeatures]] —
    * payload bytes feed the partition-local decoder and never shuffle;
    * downstream near-dup grouping shuffles only (id, 64-char hash). */
  def perceptualHash(df: DataFrame, binColName: String): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField("ahash", org.apache.spark.sql.types.StringType))
    val binIdx = df.schema.fieldIndex(binColName)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        Row.fromSeq(r.toSeq :+ ImageCodec.aHash(r.getAs[Array[Byte]](binIdx)).orNull)
      }
    }(enc)
  }

  /** Perceptual NEAR-duplicate pairs over aHash bit strings — image dedup,
    * the multimodal member of the near-dup family (simhash's banding
    * applied to decoded-pixel hashes): split each 64-bit hash into
    * `bands` equal bands, equi-join on (band index, band value) so only
    * hashes agreeing on some whole band ever meet, then postfilter
    * candidates with the exact Hamming distance. Recall is EXACT, not
    * probabilistic: `maxHamming < bands` means two hashes within the
    * threshold cannot damage every band (pigeonhole), so every true pair
    * shares ≥1 band key — the all-pairs form exists only as the oracle.
    * Scale: candidate volume is governed by band-key collision counts
    * (64/bands-bit keys); the exact postfilter is scan-local on the
    * joined pair. Emits (a_id, b_id, hamming), a < b. */
  def phashNearDup(hashed: DataFrame, idCol: Column, hashCol: Column,
      maxHamming: Int, bands: Int = 8, comboBands: Int = 1,
      saltHotDf: Int = Int.MaxValue, saltBlocks: Int = 16): DataFrame = {
    require(bands >= 1 && 64 % bands == 0, "bands must divide 64")
    require(comboBands >= 1 && comboBands <= bands,
      s"comboBands must be in [1, $bands], got $comboBands")
    require(maxHamming >= 0 && maxHamming <= bands - comboBands,
      s"recall guarantee needs maxHamming <= bands - comboBands " +
        s"($maxHamming > $bands - $comboBands)")
    require(saltHotDf >= 1 && saltBlocks >= 1,
      "saltHotDf and saltBlocks must be >= 1")
    val bandLen = 64 / bands
    // Two representations of the same hash: band(-combination) substrings
    // as the join key, and four 16-bit INTEGER chunks for the postfilter —
    // Hamming as Σ bit_count(xor) is a handful of codegen'd ALU ops per
    // pair, where a per-character HOF compare is ~64 interpreted lambda
    // calls. On skewed hash distributions the band guarantee forces
    // candidate volume up and the postfilter IS the scan — it must be
    // cheap. Two skew levers work against Σ per-key f²; the first:
    //   * comboBands > 1 joins on every size-`comboBands` SUBSET of bands
    //     (C(bands, comboBands) keys per row, comboBands·bandLen-bit
    //     values) — still EXACT by pigeonhole: ≤ maxHamming damaged bands
    //     leave ≥ comboBands clean ones, so some whole subset is clean on
    //     every true pair. Wider keys collide far less on clustered
    //     hashes: text-derived aHashes at sf0.1 measure Σf² 17.3M at
    //     comboBands=1 vs 6.2M at 2 (max key 1443 → 340), at 3.5× more
    //     (but tiny) exploded rows. Requires maxHamming ≤ bands−comboBands.
    // pack the hash into ONE 64-bit long, scan-local, via four 16-bit
    // conv() chunks shifted together (conv on the full 64-bit string would
    // overflow the signed-long cast when bit 0 is set) — the join and the
    // distinct then carry a single long per side instead of four, and the
    // postfilter is one xor + popcount
    val packed = (0 until 4).map(k =>
        expr(s"shiftleft(cast(conv(substring(h, ${k * 16 + 1}, 16), 2, 10)" +
          s" as long), ${48 - 16 * k})"))
      .reduce(_.bitwiseOR(_)).as("hl")
    val h = hashed.select(idCol.as("id"), hashCol.as("h"), packed)
      .filter(col("h").isNotNull)
    // one struct per band subset, built scan-local from substring concat —
    // the combo index is the key's first component so distinct subsets
    // with equal concatenated text never meet
    val combos = (0 until bands).combinations(comboBands).map(_.toSeq).toSeq
    val keyArr = array(combos.zipWithIndex.map { case (c, ci) =>
      struct(lit(ci).as("b"),
        concat(c.map(i =>
          expr(s"substring(h, ${i * bandLen + 1}, $bandLen)")): _*).as("bv"))
    }: _*)
    // the packed hash rides along through the self-join (an id-only join
    // with post-join hash lookups was measured SLOWER here — the two
    // lookup joins recompute the decode→hash subplan, while the identical
    // x/y subplans below collapse into one reused exchange)
    val needDf = saltHotDf != Int.MaxValue
    // when df logic is live, persist the COMPACT pre-explode relation
    // (id, h, hl — n rows; the exploded band relation is combos× bigger):
    // the census action below materializes it, so the codec decode runs
    // once however many branches the pair job takes (the containmentPairs
    // "cache the compact relation" posture; round-11 cached the exploded
    // relation instead and paid its size). Unneeded (and skipped) in the
    // plain path, whose two identical join sides collapse into one reused
    // exchange.
    val hShared = if (!needDf) h
      else h.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded0 = hShared.select(col("id"), col("hl"), explode(keyArr).as("k"))
      .select(col("id"), col("hl"), col("k.b").as("b"), col("k.bv").as("bv"))
    // exact per-key df census, STRUCTURALLY bounded: at most
    // C(bands, comboBands) · 2^(comboBands·bandLen) keys exist (1.8M at
    // the gate's 8/2 config) at ANY corpus size, so it broadcasts and the
    // per-row df attach is a scan-local broadcast join — where round-11's
    // window form shuffled the whole banded relation to count it.
    val census = if (!needDf) null else
      banded0.groupBy("b", "bv").agg(count(lit(1)).as("bdf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one driver scalar decides the salt machinery AND eagerly materializes
    // hShared/census (the round-11 persist+count posture, now paying off
    // double duty): corpora with NO hot key — the measured sf0.1 state,
    // max band df 340/1519 vs the 2048 threshold — take the plain unsalted
    // join and skip the 4-branch split entirely, recovering the small-
    // corpus constant the unconditional salt cost (audit: 2.96→3.50 s
    // phash, 1.06→1.77 s audio at sf0.1), while hot corpora (×10: max df
    // 3445/15253) keep the full skew treatment.
    val hotKeys = if (!needDf) 0L
      else census.filter(col("bdf") > saltHotDf).count()
    def pairsOf(x: DataFrame, y: DataFrame, extra: Column) =
      x.as("x").join(y.as("y"),
          col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
            extra && col("x.id") < col("y.id"))
        .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
          col("x.hl").as("ah"), col("y.hl").as("bh"))
    // second skew lever: block-salting WITHIN hot band keys. Keys whose
    // df exceeds saltHotDf get their self-join spread over `saltBlocks`
    // reducer tasks: the left side keeps its one hashed block
    // (pmod(xxhash64(id), B)), the right side replicates to ALL B
    // blocks, and the join adds blk to the key — pair {p, q} (p < q)
    // still meets EXACTLY once per shared key (at p's block, where q's
    // replica is), so the pair set is provably identical to the unsalted
    // join; only the per-task group size drops from f² to f²/B. Total
    // comparison volume is unchanged (Σf² is inherent to the band
    // guarantee) — this converts the worst key from one straggler task
    // into B parallel ones, at B-1 extra copies of hot rows only.
    val cand = (if (hotKeys == 0L) {
        // no hot key anywhere: the salted plan and the plain plan are the
        // SAME pair set by the block argument above (the hot branch is
        // empty), so take the cheap one.
        pairsOf(banded0, banded0, lit(true))
      } else {
        val shared = banded0.join(broadcast(census), Seq("b", "bv"))
        val cold = shared.filter(col("bdf") <= saltHotDf)
        val hot = shared.filter(col("bdf") > saltHotDf).drop("bdf")
        val hx = hot.withColumn("blk",
          pmod(xxhash64(col("id")), lit(saltBlocks)).cast("int"))
        val hy = hot.withColumn("blk",
          explode(array((0 until saltBlocks).map(lit): _*)))
        pairsOf(cold.drop("bdf"), cold.drop("bdf"), lit(true))
          .unionAll(pairsOf(hx, hy, col("x.blk") === col("y.blk")))
      })
    // postfilter BEFORE the dedup: the Hamming check is a handful of ALU
    // ops per joined row (scan-local, inside the join's output iterator),
    // while distinct() is a shuffle — filtering first commutes with the
    // dedup and shrinks the distinct's input from candidate volume (Σf²,
    // measured 224-315M rows at ×10) to passing volume (the true pair
    // set × ≤k key multiplicity, 500-1500× smaller on the gated corpora).
    // The comparisons themselves are unavoidable under the band
    // guarantee; shuffling the losers was not.
    cand.withColumn("hamming", expr("cast(bit_count(ah ^ bh) as int)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .distinct() // a pair agreeing on k keys meets k times
  }

  /** Sample-level PCM feature extraction via `mapPartitions`; appends a
    * `pcm` struct (n_samples, sum_abs, peak) — null for undecodable or
    * non-16-bit payloads. Payload bytes never shuffle. */
  def wavPcmStats(df: DataFrame, binColName: String): DataFrame = {
    val pcmType = StructType(Seq(
      StructField("n_samples", LongType, nullable = false),
      StructField("sum_abs", LongType, nullable = false),
      StructField("peak", LongType, nullable = false)))
    val outSchema = StructType(df.schema.fields :+ StructField("pcm", pcmType))
    val binIdx = df.schema.fieldIndex(binColName)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val decoded = WavCodec.pcmStats(r.getAs[Array[Byte]](binIdx))
        Row.fromSeq(r.toSeq :+ decoded.map(p =>
          Row(p.nSamples, p.sumAbs, p.peak)).orNull)
      }
    }(enc)
  }

  /** VAD-style silence-span detection over decoded PCM — the trim step a
    * speech pipeline runs before transcription/feature extraction: frame
    * the 16-bit samples (`samplesPerFrame` each), mark frames whose peak
    * |sample| is at most `maxAbs` as silent, and merge consecutive silent
    * frames into spans via the gaps-and-islands identity (frame_idx −
    * row_number, ONE doc-keyed window — no self-joins). The codec decode
    * is scan-local `mapPartitions` (payload bytes never shuffle; only the
    * tiny frame-max array does), the explode is frame-count-bound, and
    * the output is span-bound. Emits (doc_id, span_start_frame,
    * span_end_frame, n_frames). */
  def silenceSpans(df: DataFrame, idColName: String, binColName: String,
      samplesPerFrame: Int, maxAbs: Long): DataFrame = {
    require(maxAbs >= 0, "maxAbs must be >= 0")
    val outSchema = StructType(df.schema.fields :+
      StructField("__fm", org.apache.spark.sql.types.ArrayType(LongType)))
    val binIdx = df.schema.fieldIndex(binColName)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val framed = df.mapPartitions { rows =>
      rows.map { r =>
        Row.fromSeq(r.toSeq :+ WavCodec
          .frameAbsMaxes(r.getAs[Array[Byte]](binIdx), samplesPerFrame)
          .map(_.toSeq).orNull)
      }
    }(enc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("fi")
    framed.select(col(idColName).as("doc_id"),
        posexplode(col("__fm")).as(Seq("fi", "mx")))
      .filter(col("mx") <= maxAbs)
      .withColumn("g", col("fi") - row_number().over(w))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("fi")).cast("long").as("span_start_frame"),
        max(col("fi")).cast("long").as("span_end_frame"),
        count(lit(1)).as("n_frames"))
      .select("doc_id", "span_start_frame", "span_end_frame", "n_frames")
  }

  /** Energy-delta audio fingerprint (the Haitsma–Kalker '02 family,
    * reduced to one band): decode the PCM chunk with the REAL codec,
    * frame it, and pack the frame-to-frame energy-rise bits
    * (`bit i = 1 ⟺ |frame i+1|ₘₐₓ > |frame i|ₘₐₓ`, first `bits` deltas)
    * into one BIGINT — the robust-to-gain compact code that feeds exact
    * or banded-Hamming audio dedup exactly as aHash feeds the image
    * lane. Decode + packing are scan-local (payload bytes never
    * shuffle); the bit-pack is a codegen'd HOF fold, no UDF. Docs whose
    * payload yields zero frames drop (nothing to fingerprint). */
  def audioFingerprint(df: DataFrame, idColName: String, binColName: String,
      samplesPerFrame: Int, bits: Int = 63): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")
    val outSchema = StructType(df.schema.fields :+
      StructField("__fm", org.apache.spark.sql.types.ArrayType(LongType)))
    val binIdx = df.schema.fieldIndex(binColName)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val framed = df.mapPartitions { rows =>
      rows.map { r =>
        Row.fromSeq(r.toSeq :+ WavCodec
          .frameAbsMaxes(r.getAs[Array[Byte]](binIdx), samplesPerFrame)
          .map(_.toSeq).orNull)
      }
    }(enc)
    framed.filter(col("__fm").isNotNull && size(col("__fm")) >= 1)
      .select(col(idColName).as("doc_id"),
        size(col("__fm")).cast("long").as("n_frames"),
        when(size(col("__fm")) >= 2, expr(
          s"""aggregate(
               sequence(0, int(least(size(__fm) - 2, ${bits - 1}))),
               CAST(0 AS BIGINT),
               (acc, i) -> acc + IF(element_at(__fm, i + 2) > element_at(__fm, i + 1),
                 shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"""))
          .otherwise(lit(0L)).as("fingerprint"))
  }

  /** Deterministic frame sampling: keep every `stride`-th frame index up to
    * `n_frames` — pure column math over the decoded metadata. */
  def sampleFrameIndices(nFrames: Column, stride: Int): Column =
    sequence(lit(0), nFrames - 1, lit(stride))

  /** Decode a vertical film strip (the poor man's video container: frames
    * stacked top to bottom, `frameH` rows each) and append a `strip` struct
    * with dims, frame count, and per-frame gray sums. Same `mapPartitions`
    * batch shape as [[extractFeatures]]; a real video build swaps ImageIO
    * for a demuxer in the same slot. */
  def decodeFilmStrip(df: DataFrame, binColName: String, frameH: Int): DataFrame = {
    require(frameH > 0, "frameH must be positive")
    val stripType = StructType(Seq(
      StructField("width", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("frame_sums", ArrayType(LongType, containsNull = false),
        nullable = false)))
    val outSchema = StructType(df.schema.fields :+ StructField("strip", stripType))
    val binIdx = df.schema.fieldIndex(binColName)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val decoded = ImageCodec.frameSums(r.getAs[Array[Byte]](binIdx), frameH)
        Row.fromSeq(r.toSeq :+ decoded.map { case (w, n, sums) =>
          Row(w, n, sums.toSeq) }.orNull)
      }
    }(enc)
  }

  /** Resize (downscale) image payloads to a target box — `mapPartitions`
    * like [[extractFeatures]]: one codec context per partition, the original
    * payload read and the resized PNG written in place, neither ever
    * shuffled. The emitted `resized_meta` (dims + gray sum) comes from
    * RE-decoding the freshly encoded PNG, so it witnesses the full
    * encode/decode round trip. Null/undecodable payloads carry through with
    * null meta — no codec call, no fabricated dims. */
  def resizePayloads(df: DataFrame, binColName: String,
                     maxW: Int, maxH: Int): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("resized", BinaryType),
      StructField("resized_meta", StructType(Seq(
        StructField("width", IntegerType, nullable = false),
        StructField("height", IntegerType, nullable = false),
        StructField("gray_sum", LongType, nullable = false))))))
    val binIdx = df.schema.fieldIndex(binColName)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        ImageCodec.resize(bytes, maxW, maxH) match {
          case Some((png, img)) =>
            Row.fromSeq(r.toSeq ++ Seq(png, Row(img.width, img.height, img.graySum)))
          case None => Row.fromSeq(r.toSeq ++ Seq(bytes, null))
        }
      }
    }(enc)
  }
}
