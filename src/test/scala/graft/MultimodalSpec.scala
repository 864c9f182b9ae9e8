package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.sink.AvroPresenter
import graft.model.{ColumnSpec, TableSchemaV}

/** Multimodal binary plumbing + Avro presentation specs. */
class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("media meta sniffs magic bytes into typed metadata") {
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte, 1, 2)
    val png = "PNG1234".getBytes("ISO-8859-1")
    val df = Seq((1L, jpeg), (2L, png), (3L, "plain text".getBytes)).toDF("id", "payload")
    val rows = Multimodal.withMediaMeta(df, col("payload"))
      .select(col("id"), col("media_meta.media_type")).as[(Long, String)].collect().toMap
    assert(rows(1L) == "image/jpeg")
    assert(rows(2L) == "image/png")
    assert(rows(3L) == "application/octet-stream")
  }

  test("ppm codec parses real P6 headers: comments, whitespace, garbage, truncation") {
    import Multimodal.PpmCodec
    // 2x1 raster: pixels (1,2,3) (250,251,252); comment + extra whitespace
    val good = ("P6\n# a comment\n 2  1\n255\n").getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 250.toByte, 251.toByte, 252.toByte)
    val p = PpmCodec.decode(good).get
    assert((p.width, p.height, p.maxval) == ((2, 1, 255)))
    assert((p.sumR, p.sumG, p.sumB) == ((251L, 253L, 255L)))
    // undecodable inputs -> None, never a throw
    assert(PpmCodec.decode(null).isEmpty)
    assert(PpmCodec.decode("P5\n2 1\n255\n??????".getBytes).isEmpty) // wrong magic
    assert(PpmCodec.decode("P6\n2 1\n255\n??".getBytes).isEmpty)     // truncated raster
    assert(PpmCodec.decode("P6\n2 1\n9999999999\n".getBytes).isEmpty) // maxval overflow digits
    // distributed decode: struct row per payload, null for the bad one
    val df = Seq((1L, good), (2L, "nonsense".getBytes)).toDF("id", "payload")
    val out = Multimodal.decodePpm(df, "payload")
      .select(col("id"), col("ppm.sum_r"))
      .as[(Long, Option[Long])].collect().toMap
    assert(out(1L).contains(251L) && out(2L).isEmpty)
  }

  test("wav codec walks real RIFF chunk lists: extra chunks, padding, truncation") {
    import Multimodal.WavCodec
    val data = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    val wav = Multimodal.buildWav(channels = 2, sampleRate = 8000, bitsPerSample = 16, data)
    val w = WavCodec.decode(wav).get
    assert((w.audioFormat, w.channels, w.sampleRate, w.bitsPerSample) == ((1, 2, 8000, 16)))
    assert(w.dataLen == 8L && w.byteRate == 32000L && w.durationMs == 0L)
    // an ODD-sized unknown chunk before fmt must be skipped with padding
    val extra = "LIST".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0) ++ Array[Byte](9, 9, 9) ++ Array[Byte](0) // 3 bytes + pad
    val withExtra = wav.take(12) ++ extra ++ wav.drop(12)
    // patch the RIFF size: + extra chunk bytes
    val bb = java.nio.ByteBuffer.wrap(withExtra).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, withExtra.length - 8)
    assert(WavCodec.decode(withExtra).contains(w))
    // undecodable inputs -> None, never a throw
    assert(WavCodec.decode(null).isEmpty)
    assert(WavCodec.decode("RIFFxxxxWAVE".getBytes).isEmpty)           // no chunks
    assert(WavCodec.decode(wav.take(30)).isEmpty)                      // truncated fmt
    assert(WavCodec.decode("FORM".getBytes ++ wav.drop(4)).isEmpty)    // wrong magic
    // data declared longer than present clips to the actual payload
    val lying = wav.clone()
    java.nio.ByteBuffer.wrap(lying).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(40, 999)
    assert(WavCodec.decode(lying).get.dataLen == 8L)
    // a chunk size with the u32 high bit set (negative as Int) must TERMINATE
    // with None, not stall the chunk walk forever (executor-task hang)
    val hostile = "RIFF".getBytes("US-ASCII") ++ Array[Byte](36, 0, 0, 0) ++
      "WAVE".getBytes("US-ASCII") ++ "JUNK".getBytes("US-ASCII") ++
      Array[Byte](0xF8.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte) ++
      new Array[Byte](32)
    assert(WavCodec.decode(hostile).isEmpty)
  }

  test("imageio codec: PNG build/decode round-trips exact gray samples") {
    import Multimodal.ImageCodec
    val bytes = Array.tabulate(40)(i => (32 + i * 2).toByte) // ASCII-range grays
    val png = ImageCodec.buildPng(10, 4, bytes)
    // a real PNG container came out
    assert((png(0) & 0xFF) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val img = ImageCodec.decode(png).get
    assert(img.width == 10 && img.height == 4)
    assert(img.graySum == bytes.map(_ & 0xFF).map(_.toLong).sum)
    val wantHist = new Array[Long](8)
    bytes.foreach(b => wantHist((b & 0xFF) >> 5) += 1)
    assert(img.hist.toSeq == wantHist.toSeq)
    // pixels cycle when bytes < w*h
    val cycled = ImageCodec.decode(ImageCodec.buildPng(10, 8, bytes)).get
    assert(cycled.graySum == 2 * img.graySum)
    // undecodable inputs -> None, never a throw
    assert(ImageCodec.decode(null).isEmpty)
    assert(ImageCodec.decode(Array.empty[Byte]).isEmpty)
    assert(ImageCodec.decode("not an image at all".getBytes).isEmpty)
    // a COLOR payload folds to integer ITU-601 luma, not the red channel
    val rgb = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    rgb.setRGB(0, 0, 0xFF0000) // pure red  -> luma 299*255/1000 = 76
    rgb.setRGB(1, 0, 0x00FF00) // pure green -> luma 587*255/1000 = 149
    val rgbOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(rgb, "png", rgbOut)
    val rgbImg = ImageCodec.decode(rgbOut.toByteArray).get
    assert(rgbImg.graySum == 76L + 149L)
  }

  test("extractFeatures runs ImageIO per partition with stable schema") {
    import Multimodal.ImageCodec
    val df = Seq(
      (1L, ImageCodec.buildPng(4, 4, "abcdefgh".getBytes)),
      (2L, ImageCodec.buildPng(8, 2, "zyxw".getBytes)),
      (3L, "garbage-bytes".getBytes), // undecodable → null img
      (4L, null: Array[Byte])
    ).toDF("doc_id", "payload").repartition(3)
    val out = Multimodal.extractFeatures(df, "payload")
      .select(col("doc_id"), col("img.width"), col("img.gray_sum"))
      .as[(Long, Option[Int], Option[Long])].collect()
      .map { case (k, w, s) => k -> ((w, s)) }.toMap
    def sum16(s: String) = (0 until 16).map(i => s(i % s.length).toLong).sum
    assert(out(1L) == ((Some(4), Some(sum16("abcdefgh")))))
    assert(out(2L) == ((Some(8), Some(sum16("zyxw")))))
    assert(out(3L) == ((None, None)) && out(4L) == ((None, None)))
  }

  test("film strip decode: n_frames from pixel geometry, per-frame sums exact") {
    import Multimodal.ImageCodec
    val bytes = Array.tabulate(96)(i => (32 + i).toByte) // exactly 8×12
    val strip = ImageCodec.buildPng(8, 12, bytes)
    val (w, nf, sums) = ImageCodec.frameSums(strip, 4).get
    assert(w == 8 && nf == 3)
    val want = bytes.map(_ & 0xFF).map(_.toLong).grouped(32).map(_.sum).toSeq
    assert(sums.toSeq == want)
    // a trailing partial frame is dropped, not fabricated
    val (_, nf2, _) = ImageCodec.frameSums(ImageCodec.buildPng(8, 14, bytes), 4).get
    assert(nf2 == 3)
    // distributed form
    val df = Seq((1L, strip)).toDF("doc_id", "payload")
    val got = Multimodal.decodeFilmStrip(df, "payload", 4)
      .select(col("strip.n_frames"), col("strip.frame_sums"))
      .as[(Int, Seq[Long])].collect()(0)
    assert(got == ((3, want)))
  }

  test("resize: integer aspect fit, NN sampling reproducible, round-trip meta") {
    import Multimodal.ImageCodec
    val bytes = Array.tabulate(997)(i => (32 + (i * 7) % 95).toByte)
    val png = ImageCodec.buildPng(100, 40, bytes)
    val df = Seq((1L, png)).toDF("doc_id", "payload")
    val out = Multimodal.resizePayloads(df, "payload", 64, 64)
      .select(col("resized_meta.width"), col("resized_meta.height"),
        col("resized_meta.gray_sum"), col("resized"))
      .as[(Int, Int, Long, Array[Byte])].collect()(0)
    // width binds: 100→64, 40*64/100=25
    assert(out._1 == 64 && out._2 == 25)
    // the resized payload is itself a decodable PNG whose sum matches meta
    val redecoded = ImageCodec.decode(out._4).get
    assert((redecoded.width, redecoded.height, redecoded.graySum) ==
      ((out._1, out._2, out._3)))
    // NN oracle: src pixel (x*w/ow, y*h/oh), pixel p = bytes[(sy*w+sx)%len]
    val wantSum = (for (y <- 0 until 25; x <- 0 until 64) yield {
      val sy = y * 40 / 25; val sx = x * 100 / 64
      (bytes((sy * 100 + sx) % bytes.length) & 0xFF).toLong
    }).sum
    assert(out._3 == wantSum)
    // a payload already inside the box keeps its dims and samples
    val orig = ImageCodec.decode(png).get
    val small = Multimodal.resizePayloads(df, "payload", 4096, 4096)
      .select(col("resized_meta.width"), col("resized_meta.height"),
        col("resized_meta.gray_sum")).as[(Int, Int, Long)].collect()(0)
    assert(small == ((100, 40, orig.graySum)))
    // empty, NULL, and undecodable payloads carry through, null meta
    val degenerate = Multimodal.resizePayloads(
        Seq((2L, Array.empty[Byte]), (3L, null), (4L, "junk".getBytes))
          .toDF("doc_id", "payload"),
        "payload", 64, 64)
      .select(col("doc_id"), col("resized_meta").isNull)
      .as[(Long, Boolean)].collect().toSet
    assert(degenerate == Set((2L, true), (3L, true), (4L, true)))
  }

  test("property: PNG build/decode/resize round-trips exactly for random geometry") {
    import Multimodal.ImageCodec
    val rnd = new scala.util.Random(7)
    (1 to 60).foreach { _ =>
      val w = 1 + rnd.nextInt(80)
      val h = 1 + rnd.nextInt(60)
      val bytes = Array.fill(1 + rnd.nextInt(200))(rnd.nextInt(256).toByte)
      def pix(p: Int): Long = (bytes(p % bytes.length) & 0xFF).toLong
      val img = ImageCodec.decode(ImageCodec.buildPng(w, h, bytes)).get
      assert(img.width == w && img.height == h)
      assert(img.graySum == (0 until w * h).map(pix).sum)
      assert(img.hist.sum == w.toLong * h)
      // aspect fit never exceeds the box; NN sampling matches the formula
      val (bw, bh) = (1 + rnd.nextInt(64), 1 + rnd.nextInt(64))
      val (png2, r) = ImageCodec.resize(ImageCodec.buildPng(w, h, bytes), bw, bh).get
      val (ow, oh) = ImageCodec.fitBox(w, h, bw, bh)
      assert(r.width == ow && r.height == oh && ow <= math.max(1, bw) && oh <= math.max(1, bh))
      val wantSum = (for (y <- 0 until oh; x <- 0 until ow) yield
        pix((y.toLong * h / oh).toInt * w + (x.toLong * w / ow).toInt)).sum
      assert(r.graySum == wantSum)
      // and the resized payload is itself a faithful PNG
      assert(ImageCodec.decode(png2).get.graySum == wantSum)
    }
  }

  test("frame sampling indices") {
    val idx = Seq(10).toDF("n")
      .select(Multimodal.sampleFrameIndices(col("n"), 3)).as[Seq[Int]].collect()(0)
    assert(idx == Seq(0, 3, 6, 9))
  }

  test("pcmStats: signed 16-bit decode, peak/sum, non-16-bit and garbage rejected") {
    import graft.operators.Multimodal
    // samples: +1000, -1000, 0, -32768 → LE bytes
    val samples = Seq(1000, -1000, 0, -32768)
    val data = samples.flatMap { s =>
      val u = s & 0xFFFF; Seq((u & 0xFF).toByte, ((u >> 8) & 0xFF).toByte)
    }.toArray
    val wav = Multimodal.buildWav(1, 8000, 16, data)
    val pcm = Multimodal.WavCodec.pcmStats(wav).get
    assert(pcm.nSamples == 4)
    assert(pcm.sumAbs == 1000L + 1000L + 0L + 32768L)
    assert(pcm.peak == 32768L)
    // 8-bit payload → None (refuse rather than mis-read)
    assert(Multimodal.WavCodec.pcmStats(Multimodal.buildWav(1, 8000, 8, data)).isEmpty)
    assert(Multimodal.WavCodec.pcmStats(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("aHash: integer-exact on 8x8; block-downscale on larger; near-dup robust") {
    import graft.operators.Multimodal.ImageCodec
    // 8x8 checker of 0s and 200s: mean = 100, so bits are exactly the
    // bright cells
    val checker = Array.tabulate(64)(i => if ((i + i / 8) % 2 == 0) 200.toByte else 0.toByte)
    val h8 = ImageCodec.aHash(ImageCodec.buildPng(8, 8, checker)).get
    assert(h8.count(_ == '1') == 32)
    assert(h8 == (0 until 64).map(i => if ((i + i / 8) % 2 == 0) '1' else '0').mkString)
    // 16x16 upscale of the same pattern (each cell 2x2) block-averages back
    // to the identical 8x8 grid → identical hash: scale invariance
    val big = Array.tabulate(256) { i =>
      val (x, y) = (i % 16, i / 16); if ((x / 2 + y / 2) % 2 == 0) 200.toByte else 0.toByte
    }
    assert(ImageCodec.aHash(ImageCodec.buildPng(16, 16, big)).get == h8)
    // single-pixel nudge flips at most that one bit: perceptual robustness
    val nudged = checker.clone(); nudged(0) = 190.toByte
    val hn = ImageCodec.aHash(ImageCodec.buildPng(8, 8, nudged)).get
    assert(h8.zip(hn).count { case (a, b) => a != b } <= 1)
    // undecodable payload → None
    assert(ImageCodec.aHash(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("avro presenter reproduces the reference type mapping + meta fields") {
    val table = TableSchemaV("db", "organisms", 0, Seq(
      ColumnSpec("id", "int(11)", nullable = false, "PRI", None, None),
      ColumnSpec("lifespan", "tinyint(3) unsigned", nullable = true, "", None, None),
      ColumnSpec("big_u", "bigint(20) unsigned", nullable = true, "", None, None),
      ColumnSpec("name", "varchar(30)", nullable = true, "", None, None)), None, 0L)
    val schema = AvroPresenter.avroSchema(table)
    val row = schema.getField("row").schema()
    assert(row.getField("id").schema().getTypes.get(1).getType.getName == "int")
    assert(row.getField("lifespan").schema().getTypes.get(1).getType.getName == "int")
    assert(row.getField("big_u").schema().getTypes.get(1).getType.getName == "string")
    assert(schema.getField("__timestamp") != null && schema.getField("__is_deleted") != null
      && schema.getField("__binlog_position") != null)
    assert(AvroPresenter.subject("db", "organisms") == "bigdata-db-organisms-value")
    val bytes = AvroPresenter.encode(schema, table,
      Map("id" -> "2", "lifespan" -> "240", "big_u" -> "18446744071615", "name" -> "Ñandú"),
      timestampMs = 123L, isDeleted = false, binlogPosition = 456L)
    assert(bytes.nonEmpty)
  }

  test("phashNearDup: banded candidates find EVERY pair within the " +
      "threshold (pigeonhole recall), none beyond it") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    val zeros = "0" * 64
    def flip(bits: Int*): String =
      zeros.zipWithIndex.map { case (c, i) => if (bits.contains(i)) '1' else c }.mkString
    val hashed = Seq(
      1L -> zeros,
      2L -> flip(0),                    // hd(1,2)=1
      3L -> flip(7, 15, 23, 31, 39, 47), // hd(1,3)=6 — exactly at threshold,
                                         // one flipped bit in SIX different
                                         // 8-bit bands (worst case for banding)
      4L -> flip(0, 8, 16, 24, 32, 40, 48), // hd(1,4)=7 — beyond threshold
      5L -> "1" * 64)                   // far from everything
      .toDF("doc_id", "ahash")
    val got = Multimodal.phashNearDup(hashed, col("doc_id"), col("ahash"),
        maxHamming = 6, bands = 8)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // brute-force truth over the 10 pairs
    val hs = Map(1L -> zeros, 2L -> flip(0), 3L -> flip(7, 15, 23, 31, 39, 47),
      4L -> flip(0, 8, 16, 24, 32, 40, 48), 5L -> "1" * 64)
    val want = (for {
      a <- hs.keys; b <- hs.keys if a < b
      hd = hs(a).zip(hs(b)).count { case (x, y) => x != y } if hd <= 6
    } yield (a, b) -> hd).toMap
    assert(got == want, s"got $got want $want")
    assert(got.contains((1L, 3L)), "worst-case 6-band spread pair must be found")
    assert(!got.contains((1L, 4L)), "beyond-threshold pair must be filtered")
    // invalid recall configuration is rejected loudly
    intercept[IllegalArgumentException](
      Multimodal.phashNearDup(hashed, col("doc_id"), col("ahash"),
        maxHamming = 8, bands = 8))
    // comboBands=2 (the skew lever): IDENTICAL output — exact recall holds
    // because <=6 damaged bands leave >=2 clean, so some band PAIR is clean
    // on every true pair; (1,3)'s six spread flips are again the worst case
    val got2 = Multimodal.phashNearDup(hashed, col("doc_id"), col("ahash"),
        maxHamming = 6, bands = 8, comboBands = 2)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got2 == want, s"comboBands=2 must not change output: $got2 vs $want")
    // comboBands demands the stronger pigeonhole margin
    intercept[IllegalArgumentException](
      Multimodal.phashNearDup(hashed, col("doc_id"), col("ahash"),
        maxHamming = 7, bands = 8, comboBands = 2))
  }

  test("audioFingerprint: energy-rise bits through the real codec; " +
      "single frame packs zero; bits cap truncates the code") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    // frame = 2 samples = 4 chars; the frame max is set by the HIGH bytes
    // (positions 1,3): "xAxA"→16760, "xBxB"→17016, "xCxC"→17272
    def wav(id: Long, text: String) =
      (id, Multimodal.buildWav(1, 8000, 16, text.getBytes("US-ASCII")))
    val df = Seq(
      wav(1L, "xAxA" + "xBxB" + "xAxA" + "xCxC"), // rises at f1, f3 → bits 0,2
      wav(2L, "xAxA"),                            // one frame → no deltas
      wav(3L, "xAxAxB"))                          // partial frame dropped
      .toDF("doc_id", "payload")
    def run(bits: Int) = Multimodal.audioFingerprint(
        df, "doc_id", "payload", samplesPerFrame = 2, bits = bits)
      .as[(Long, Long, Long)].collect().toSet
    assert(run(63) == Set((1L, 4L, 5L), (2L, 1L, 0L), (3L, 1L, 0L)),
      s"${run(63)}")
    // cap at 2 bits: the f2→f3 rise (bit 2) falls outside the code
    assert(run(2) == Set((1L, 4L, 1L), (2L, 1L, 0L), (3L, 1L, 0L)),
      s"${run(2)}")
  }

  test("silenceSpans: framed peak detection through the real codec, " +
      "islands merge, partial trailing frame dropped") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    // frame = 2 samples = 4 chars; silent iff the two HIGH bytes (in-frame
    // char positions 1 and 3) are quieted vowels/spaces
    def wav(id: Long, text: String) = {
      val quieted = text.getBytes("US-ASCII").map(b =>
        if ("aeiou ".contains(b.toChar)) 0.toByte else b)
      (id, Multimodal.buildWav(1, 8000, 16, quieted))
    }
    val df = Seq(
      wav(1L, "xaxa" + "xxxx" + "bobo"),  // silent frames 0 and 2
      wav(2L, "xaxa" * 3),                // one 3-frame span
      wav(3L, "xxxx" * 2),                // no silence
      wav(4L, "xaxaxx"))                  // trailing 2-char partial dropped
      .toDF("doc_id", "payload")
    val got = Multimodal.silenceSpans(df, "doc_id", "payload",
        samplesPerFrame = 2, maxAbs = 4095L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 0L, 0L, 1L), (1L, 2L, 2L, 1L),
      (2L, 0L, 2L, 3L),
      (4L, 0L, 0L, 1L)), s"got $got")
  }
}
