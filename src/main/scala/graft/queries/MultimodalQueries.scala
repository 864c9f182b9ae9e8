package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.t
import graft.operators.{Dedup, Multimodal}

/** Multimodal plumbing: one [[QuerySpec]] per query. */
private[graft] object MultimodalQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("mm_media_meta", (s, d) =>
      Multimodal.withMediaMeta(
          t(s, d, "documents").withColumn("payload", col("text").cast("binary")),
          col("payload"))
        .select(col("doc_id"), col("media_meta.byte_len").as("byte_len"),
          col("media_meta.magic").as("magic")),
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           hex(substr(text, 1, 4)) AS magic
         FROM documents"""),

    QuerySpec("mm_ppm_decode", (s, d) => {
      // REAL image decode, distributed: build a P6 PPM payload from each
      // doc's bytes (w×2 RGB raster), run the actual Netpbm parser in
      // mapPartitions, emit integer channel sums — DuckDB re-derives the
      // same sums straight from the text bytes (corpus is ASCII: byte ≡
      // char), so the decoder itself is oracle-gated.
      val w = floor(length(col("text")) / 6).cast("int")
      val header = concat(lit("P6\n"), w.cast("string"), lit(" 2\n255\n"))
      val payload = concat(header.cast("binary"),
        col("text").substr(lit(1), w * 6).cast("binary"))
      Multimodal.decodePpm(
          t(s, d, "documents")
            // docs shorter than one 2-row pixel column have no raster: the
            // decoder yields null and the oracle's unnest drops the doc —
            // filter identically on both sides so cardinality agrees for
            // ANY corpus, not just one with no short docs
            .filter(length(col("text")) >= 6)
            .select(col("doc_id"), payload.as("payload")),
          "payload")
        .select(col("doc_id"), col("ppm.width").as("width"),
          col("ppm.height").as("height"), col("ppm.sum_r").as("sum_r"),
          col("ppm.sum_g").as("sum_g"), col("ppm.sum_b").as("sum_b"))
    },
      """WITH d AS (SELECT doc_id, text,
           CAST(floor(length(text)/6) AS BIGINT) AS w
         FROM documents WHERE length(text) >= 6),
         px AS (SELECT doc_id, w,
           unnest([{'i': i, 'b': ascii(substring(text, i, 1))}
             for i in range(1, CAST(w*6 AS BIGINT) + 1)], recursive := true)
         FROM d)
         SELECT doc_id, CAST(w AS INT) AS width, 2 AS height,
           CAST(sum(b) FILTER (WHERE (i-1)%3=0) AS BIGINT) AS sum_r,
           CAST(sum(b) FILTER (WHERE (i-1)%3=1) AS BIGINT) AS sum_g,
           CAST(sum(b) FILTER (WHERE (i-1)%3=2) AS BIGINT) AS sum_b
         FROM px GROUP BY doc_id, w"""),

    QuerySpec("mm_wav_meta", (s, d) => {
      // REAL audio-container decode, distributed: build a PCM WAV from each
      // doc's bytes (format params derived from doc_id), walk the RIFF
      // chunk list in mapPartitions, emit the parsed header — the oracle
      // recomputes every field from doc_id + length(text), so the
      // build+parse round trip is correctness-gated.
      import s.implicits._
      val withWav = t(s, d, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val ch = 1 + (id % 2).toInt
          val sr = 8000 * (1 + (id % 3).toInt)
          (id, Multimodal.buildWav(ch, sr, 16, text.getBytes("US-ASCII")))
        }.toDF("doc_id", "payload")
      Multimodal.decodeWav(withWav, "payload")
        .select(col("doc_id"),
          col("wav.audio_format").as("audio_format"),
          col("wav.channels").as("channels"),
          col("wav.sample_rate").as("sample_rate"),
          col("wav.bits_per_sample").as("bits_per_sample"),
          col("wav.data_len").as("data_len"),
          col("wav.duration_ms").as("duration_ms"))
    },
      """WITH d AS (SELECT doc_id,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
           length(text) AS n
         FROM documents)
         SELECT doc_id, 1 AS audio_format, channels, sample_rate,
           16 AS bits_per_sample,
           CAST((n // (channels*2)) * (channels*2) AS BIGINT) AS data_len,
           CAST(((n // (channels*2)) * (channels*2) * 1000) // (sample_rate * channels * 2) AS BIGINT) AS duration_ms
         FROM d"""),

    QuerySpec("mm_wav_rms", (s, d) => {
      // sample-level audio features from a REAL decoded PCM data chunk
      // (past container metadata): n_samples, sum of |sample| (integer
      // mean-abs loudness numerator), peak — the oracle recomputes every
      // field from the text bytes that became the 16-bit LE samples, so
      // the chunk-walk + sample decode is correctness-gated
      import s.implicits._
      val withWav = t(s, d, "documents")
        .filter(length(col("text")) >= (lit(1) + col("doc_id") % 2) * 2)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val ch = 1 + (id % 2).toInt
          val sr = 8000 * (1 + (id % 3).toInt)
          (id, Multimodal.buildWav(ch, sr, 16, text.getBytes("US-ASCII")))
        }.toDF("doc_id", "payload")
      Multimodal.wavPcmStats(withWav, "payload")
        .select(col("doc_id"), col("pcm.n_samples").as("n_samples"),
          col("pcm.sum_abs").as("sum_abs"), col("pcm.peak").as("peak"))
    },
      """WITH d AS (SELECT doc_id, text, length(text) AS n,
           CAST(1 + doc_id % 2 AS INT) AS ch
         FROM documents),
         s AS (SELECT doc_id, text,
           ((n // (ch*2)) * (ch*2)) // 2 AS nsamp
         FROM d WHERE n >= ch*2),
         px AS (SELECT doc_id, nsamp,
           unnest([ascii(substring(text, CAST(2*i AS INT) + 1, 1))
                   + 256 * ascii(substring(text, CAST(2*i AS INT) + 2, 1))
                   for i in range(0, nsamp)]) AS v
         FROM s)
         SELECT doc_id, CAST(max(nsamp) AS BIGINT) AS n_samples,
           CAST(sum(v) AS BIGINT) AS sum_abs, CAST(max(v) AS BIGINT) AS peak
         FROM px GROUP BY doc_id"""),

    QuerySpec("mm_silence_spans", (s, d) => {
      // VAD-lite: vowels/spaces silence their byte (a deterministic
      // "quiet speech" synth the oracle reproduces from the same text),
      // the REAL codec decodes the PCM chunk, frames of 2 samples are
      // silent when peak |sample| <= 4095 (high byte quiet), consecutive
      // silent frames merge into spans via one doc-keyed islands window.
      import s.implicits._
      val withWav = t(s, d, "documents")
        .filter(length(col("text")) >= 4)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val quieted = text.getBytes("US-ASCII").map(b =>
            if (b == 'a' || b == 'e' || b == 'i' || b == 'o' || b == 'u' ||
              b == ' ') 0.toByte else b)
          (id, Multimodal.buildWav(1, 8000, 16, quieted))
        }.toDF("doc_id", "payload")
      Multimodal.silenceSpans(withWav, "doc_id", "payload",
        samplesPerFrame = 2, maxAbs = 4095L)
    },
      // byte walk mirrors buildWav(1ch,16bit): sample i = b(2i) + 256*b(2i+1)
      // with vowels/spaces zeroed; frame f = samples 2f, 2f+1; silent when
      // the frame peak <= 4095; islands by fi - row_number per doc
      """WITH d AS (SELECT doc_id, text,
           (length(text) // 2) // 2 AS nf
         FROM documents WHERE length(text) >= 4),
         fr AS (SELECT doc_id, CAST(f AS BIGINT) AS fi,
             greatest(
               (CASE WHEN substring(text, CAST(4*f+1 AS INT), 1) IN ('a','e','i','o','u',' ')
                  THEN 0 ELSE ascii(substring(text, CAST(4*f+1 AS INT), 1)) END)
               + 256 * (CASE WHEN substring(text, CAST(4*f+2 AS INT), 1) IN ('a','e','i','o','u',' ')
                  THEN 0 ELSE ascii(substring(text, CAST(4*f+2 AS INT), 1)) END),
               (CASE WHEN substring(text, CAST(4*f+3 AS INT), 1) IN ('a','e','i','o','u',' ')
                  THEN 0 ELSE ascii(substring(text, CAST(4*f+3 AS INT), 1)) END)
               + 256 * (CASE WHEN substring(text, CAST(4*f+4 AS INT), 1) IN ('a','e','i','o','u',' ')
                  THEN 0 ELSE ascii(substring(text, CAST(4*f+4 AS INT), 1)) END)) AS mx
           FROM (SELECT doc_id, text, unnest(range(0, nf)) AS f FROM d)),
         silent AS (SELECT doc_id, fi FROM fr WHERE mx <= 4095),
         g AS (SELECT doc_id, fi,
             fi - row_number() OVER (PARTITION BY doc_id ORDER BY fi) AS grp
           FROM silent)
         SELECT doc_id, min(fi) AS span_start_frame, max(fi) AS span_end_frame,
           CAST(count(*) AS BIGINT) AS n_frames
         FROM g GROUP BY doc_id, grp""",
      cap = Some(Cap("doc_id", 7))),

    QuerySpec("mm_audio_fingerprint", (s, d) => {
      // compact audio code: build the WAV deterministically from the doc
      // text (single channel, 16-bit), frame at 4 samples, pack 63
      // energy-rise bits into a BIGINT — the audio twin of mm_phash
      import s.implicits._
      val withWav = t(s, d, "documents")
        .filter(length(col("text")) >= 4)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          (id, Multimodal.buildWav(1, 8000, 16, text.getBytes("US-ASCII")))
        }.toDF("doc_id", "payload")
      Multimodal.audioFingerprint(withWav, "doc_id", "payload",
        samplesPerFrame = 4, bits = 63)
    },
      // samples are 2-byte little-endian ASCII pairs (high byte < 128 ⇒
      // non-negative, abs = value); frames of 4 samples, energy = frame
      // max; bit i = frame i+1 rose over frame i, packed little-endian
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
           WHERE length(text) >= 4),
         s AS (SELECT doc_id, text, (n // 2) // 4 AS nf FROM d
           WHERE (n // 2) // 4 >= 1),
         fr AS (SELECT doc_id, text, nf, unnest(range(0, nf)) AS fi FROM s),
         fv AS (SELECT doc_id, nf, fi,
           list_max([ascii(substring(text, CAST(2*(4*fi+j) AS INT) + 1, 1))
             + 256 * ascii(substring(text, CAST(2*(4*fi+j) AS INT) + 2, 1))
             for j in range(0, 4)]) AS mx
         FROM fr),
         lg AS (SELECT doc_id, nf, fi, mx,
             lag(mx) OVER (PARTITION BY doc_id ORDER BY fi) AS pm
           FROM fv)
         SELECT doc_id, CAST(max(nf) AS BIGINT) AS n_frames,
           CAST(coalesce(sum(CASE WHEN fi >= 1 AND fi <= 63 AND mx > pm
             THEN (CAST(1 AS BIGINT) << CAST(fi - 1 AS INT)) ELSE 0 END), 0)
             AS BIGINT) AS fingerprint
         FROM lg GROUP BY doc_id"""),

    QuerySpec("mm_audio_neardup", (s, d) => {
      // audio NEAR-dup pairs (hamming <= 6 over the energy-delta
      // fingerprint): the image lane's banded machinery applied verbatim
      // to the audio code — 8 bands on 2-band combination keys, recall
      // EXACT by pigeonhole, the quadratic form only in the oracle.
      // MINIMUM-DURATION gate (n_frames >= 32): a fingerprint over a
      // handful of frames is mostly unset bits and cannot discriminate —
      // without the floor 2.4% of ALL doc pairs qualify at sf0.1 (295k
      // pairs; ~30M at ×10, with the all-zero band value as a
      // single-task skew cliff through the banded join); with it the
      // pair set is 217 true near-dups. Short clips belong to the exact
      // path (mm_payload_dedup), matching how production audio dedup
      // gates fingerprint matching on clip length.
      import s.implicits._
      val withWav = t(s, d, "documents")
        .filter(length(col("text")) >= 4)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          (id, Multimodal.buildWav(1, 8000, 16, text.getBytes("US-ASCII")))
        }.toDF("doc_id", "payload")
      val fp = Multimodal.audioFingerprint(withWav, "doc_id", "payload",
        samplesPerFrame = 4, bits = 63)
      val hashed = fp.filter(col("n_frames") >= 32).select(col("doc_id"),
        lpad(bin(col("fingerprint")), 64, "0").as("ah"))
      Multimodal.phashNearDup(hashed, col("doc_id"), col("ah"),
        maxHamming = 6, bands = 8, comboBands = 2,
        saltHotDf = 2048, saltBlocks = 16)
    },
      // the fingerprint CTEs verbatim, then the all-pairs Hamming scan the
      // banded join provably reproduces
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
           WHERE length(text) >= 4),
         s AS (SELECT doc_id, text, (n // 2) // 4 AS nf FROM d
           WHERE (n // 2) // 4 >= 32),
         fr AS (SELECT doc_id, text, nf, unnest(range(0, nf)) AS fi FROM s),
         fv AS (SELECT doc_id, nf, fi,
           list_max([ascii(substring(text, CAST(2*(4*fi+j) AS INT) + 1, 1))
             + 256 * ascii(substring(text, CAST(2*(4*fi+j) AS INT) + 2, 1))
             for j in range(0, 4)]) AS mx
         FROM fr),
         lg AS (SELECT doc_id, nf, fi, mx,
             lag(mx) OVER (PARTITION BY doc_id ORDER BY fi) AS pm
           FROM fv),
         fp AS (SELECT doc_id,
           CAST(coalesce(sum(CASE WHEN fi >= 1 AND fi <= 63 AND mx > pm
             THEN (CAST(1 AS BIGINT) << CAST(fi - 1 AS INT)) ELSE 0 END), 0)
             AS BIGINT) AS f
         FROM lg GROUP BY doc_id)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.f, b.f)) <= 6"""),

    QuerySpec("mm_payload_dedup", (s, d) =>
      // exact dedup on the OPAQUE BINARY payload (the multimodal analog of
      // text fingerprint dedup): md5 over raw bytes, hash-agg clusters —
      // payload bytes feed the scan-local hash and never shuffle
      Dedup.exactClusters(
        t(s, d, "documents").withColumn("payload", col("text").cast("binary"))
          .withColumn("pfp", md5(col("payload"))),
        col("doc_id"), col("pfp")),
      """SELECT md5(text) AS fp, min(doc_id) AS canonical_id,
           count(*) AS dup_count
         FROM documents GROUP BY 1"""),

    QuerySpec("mm_decode_features", (s, d) => {
      // REAL image decode via the JDK's javax.imageio, distributed: build a
      // w×4 grayscale PNG from each doc's bytes, decode it back with
      // ImageIO in mapPartitions, emit dims + gray sum + the nonzero
      // histogram buckets — the oracle recomputes every field straight from
      // the text bytes (ASCII corpus: byte ≡ char), so the PNG encode/
      // decode round trip is correctness-gated. The mm_wav_meta pattern.
      import s.implicits._
      val withPng = t(s, d, "documents")
        .filter(length(col("text")) >= 4) // need at least one 4-row column
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val bytes = text.getBytes("US-ASCII")
          val w = bytes.length / 4
          (id, Multimodal.ImageCodec.buildPng(w, 4,
            java.util.Arrays.copyOf(bytes, w * 4)))
        }.toDF("doc_id", "payload")
      Multimodal.extractFeatures(withPng, "payload")
        .select(col("doc_id"), col("img.width").as("width"),
          col("img.height").as("height"), col("img.gray_sum").as("gray_sum"),
          // ASCII bytes (32..126) land in buckets 1-3 of the >>5 histogram
          element_at(col("img.hist"), 2).as("h1"),
          element_at(col("img.hist"), 3).as("h2"),
          element_at(col("img.hist"), 4).as("h3"))
    },
      // The three ImageIO round-trip queries: the oracle re-derives every
      // output field from the raw text bytes (ASCII corpus: byte ≡ char), so
      // DuckDB independently checks what the PNG encode→decode path computed.
      """WITH d AS (SELECT doc_id, text,
           CAST(length(text) // 4 AS BIGINT) AS w
         FROM documents WHERE length(text) >= 4),
         px AS (SELECT doc_id, w,
           unnest([ascii(substring(text, i, 1))
             for i in range(1, CAST(w*4 AS BIGINT) + 1)]) AS b
         FROM d)
         SELECT doc_id, CAST(w AS INT) AS width, 4 AS height,
           CAST(sum(b) AS BIGINT) AS gray_sum,
           CAST(count(*) FILTER (WHERE b // 32 = 1) AS BIGINT) AS h1,
           CAST(count(*) FILTER (WHERE b // 32 = 2) AS BIGINT) AS h2,
           CAST(count(*) FILTER (WHERE b // 32 = 3) AS BIGINT) AS h3
         FROM px GROUP BY doc_id, w"""),

    QuerySpec("mm_phash", (s, d) => {
      // perceptual near-dup over REAL decoded images: each doc's first 64
      // bytes become an 8×8 grayscale PNG, ImageIO decodes it back, and
      // the integer-exact average-hash (aHash) buckets perceptual
      // duplicates — the image analog of simhash dedup. The oracle
      // recomputes the hash straight from the text bytes (ASCII corpus:
      // byte ≡ char; 8×8 input makes the downscale the identity), so the
      // PNG encode → decode → hash path is correctness-gated end to end.
      import s.implicits._
      val withPng = t(s, d, "documents")
        .filter(length(col("text")) >= 64)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          (id, Multimodal.ImageCodec.buildPng(8, 8,
            java.util.Arrays.copyOf(text.getBytes("US-ASCII"), 64)))
        }.toDF("doc_id", "payload")
      Multimodal.perceptualHash(withPng, "payload")
        .groupBy("ahash")
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("dup_count"))
    },
      """WITH b AS (SELECT doc_id,
           list_transform(range(1, 65), i -> ascii(substr(text, CAST(i AS INT), 1))) AS px
         FROM documents WHERE length(text) >= 64),
         h AS (SELECT doc_id,
           list_aggregate(list_transform(px,
             p -> CASE WHEN p * 64 >= list_sum(px) THEN '1' ELSE '0' END),
             'string_agg', '') AS ahash
         FROM b)
         SELECT ahash, min(doc_id) AS canonical_id, count(*) AS dup_count
         FROM h GROUP BY ahash"""),

    QuerySpec("mm_phash_neardup", (s, d) => {
      // image NEAR-dup pairs (hamming <= 6 over the decoded-pixel aHash):
      // 8-band banding on 2-band COMBINATION keys — maxHamming <= bands −
      // comboBands makes recall EXACT by pigeonhole (≤6 damaged bands
      // leave ≥2 clean, so some band PAIR is clean on every true pair), so
      // the banded join provably finds every pair the oracle's all-pairs
      // scan finds; the quadratic form exists only as the oracle. The
      // 16-bit combination keys are the skew lever: text-derived aHashes
      // cluster heavily, Σ per-key f² measures 17.3M on 8-bit single
      // bands vs 6.2M on combos at sf0.1, with zero recall cost (dropping
      // keys above a df cap of 256 instead lost 30% of true pairs here).
      // Same PNG encode→ImageIO decode→hash path as mm_phash.
      import s.implicits._
      val withPng = t(s, d, "documents")
        .filter(length(col("text")) >= 64)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          (id, Multimodal.ImageCodec.buildPng(8, 8,
            java.util.Arrays.copyOf(text.getBytes("US-ASCII"), 64)))
        }.toDF("doc_id", "payload")
      Multimodal.phashNearDup(
        Multimodal.perceptualHash(withPng, "payload"),
        col("doc_id"), col("ahash"), maxHamming = 6, bands = 8,
        comboBands = 2, saltHotDf = 2048, saltBlocks = 16)
    },
      """WITH b AS (SELECT doc_id,
           list_transform(range(1, 65), i -> ascii(substr(text, CAST(i AS INT), 1))) AS px
         FROM documents WHERE length(text) >= 64),
         h AS (SELECT doc_id,
           list_aggregate(list_transform(px,
             p -> CASE WHEN p * 64 >= list_sum(px) THEN '1' ELSE '0' END),
             'string_agg', '') AS ahash
         FROM b),
         p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(length(list_filter(range(1, 65),
               i -> substr(a.ahash, CAST(i AS INT), 1)
                 <> substr(b.ahash, CAST(i AS INT), 1))) AS INT) AS hamming
           FROM h a JOIN h b ON a.doc_id < b.doc_id)
         SELECT a_id, b_id, hamming FROM p WHERE hamming <= 6"""),

    QuerySpec("mm_phash_clusters", (s, d) => {
      // image near-dup CLUSTERS: the banded phash pair stream closed
      // into canonical groups by the star-contraction kernel — the same
      // pairs→components composition as sim_knn_components, applied to
      // the multimodal lane (the "keep one per duplicate image group"
      // step of corpus curation). Cluster id = min member doc_id; only
      // docs with ≥1 near-dup partner appear (singletons have nothing to
      // deduplicate). Pair generation is the banded exact-recall path —
      // the all-pairs form exists only in the oracle.
      import s.implicits._
      val withPng = t(s, d, "documents")
        .filter(length(col("text")) >= 64)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          (id, Multimodal.ImageCodec.buildPng(8, 8,
            java.util.Arrays.copyOf(text.getBytes("US-ASCII"), 64)))
        }.toDF("doc_id", "payload")
      val pairs = Multimodal.phashNearDup(
          Multimodal.perceptualHash(withPng, "payload"),
          col("doc_id"), col("ahash"), maxHamming = 6, bands = 8,
          comboBands = 2, saltHotDf = 2048, saltBlocks = 16)
        .select(col("a_id"), col("b_id"))
      Dedup.resolveCanonicalStars(pairs)
        .groupBy(col("canonical_id").as("cluster_id"))
        .agg(count(lit(1)).as("n_images"))
    },
      // the mm_phash_neardup pair CTE verbatim, closed into components by
      // recursive reachability (min-member cluster id) — the same
      // recompute shape as q_components' oracle
      """WITH RECURSIVE b AS MATERIALIZED (SELECT doc_id,
           list_transform(range(1, 65), i -> ascii(substr(text, CAST(i AS INT), 1))) AS px
         FROM documents WHERE length(text) >= 64),
         h AS MATERIALIZED (SELECT doc_id,
           list_aggregate(list_transform(px,
             p -> CASE WHEN p * 64 >= list_sum(px) THEN '1' ELSE '0' END),
             'string_agg', '') AS ahash
         FROM b),
         p AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM h a JOIN h b ON a.doc_id < b.doc_id
           WHERE length(list_filter(range(1, 65),
             i -> substr(a.ahash, CAST(i AS INT), 1)
               <> substr(b.ahash, CAST(i AS INT), 1))) <= 6),
         ed AS MATERIALIZED (SELECT a_id AS a, b_id AS b FROM p
           UNION SELECT b_id, a_id FROM p),
         nodes AS MATERIALIZED (SELECT DISTINCT a AS v FROM ed),
         reach(v, l) AS MATERIALIZED (
           SELECT v, v AS l FROM nodes
           UNION
           SELECT e.b AS v, reach.l FROM reach JOIN ed e ON e.a = reach.v),
         comp AS MATERIALIZED (SELECT v, min(l) AS cluster_id FROM reach GROUP BY v)
         SELECT cluster_id, count(*) AS n_images
         FROM comp GROUP BY cluster_id"""),

    QuerySpec("mm_frame_sample", (s, d) => {
      // deterministic frame sampling over a DECODED media container: each
      // doc becomes an 8×(4·n_frames) film-strip PNG (n_frames from
      // doc_id), ImageIO decodes it, and every stride-4 frame index emits
      // its per-frame gray sum — n_frames comes from the decode (height/4),
      // not from metadata, so sampling is gated on real pixel geometry
      import s.implicits._
      val strips = t(s, d, "documents")
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val nf = 1 + (id % 12).toInt
          (id, Multimodal.ImageCodec.buildPng(8, 4 * nf, text.getBytes("US-ASCII")))
        }.toDF("doc_id", "payload")
      Multimodal.decodeFilmStrip(strips, "payload", frameH = 4)
        .select(col("doc_id"), col("strip.frame_sums").as("sums"),
          explode(Multimodal.sampleFrameIndices(col("strip.n_frames"), 4)).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          element_at(col("sums"), col("frame_idx") + 1).as("frame_sum"))
    },
      """WITH d AS (SELECT doc_id, text, length(text) AS n,
           CAST(1 + doc_id % 12 AS BIGINT) AS nf
         FROM documents WHERE length(text) >= 1),
         fr AS (SELECT doc_id, text, n,
           unnest(range(0, nf, 4)) AS frame_idx FROM d),
         px AS (SELECT doc_id, frame_idx,
           unnest([ascii(substring(text, CAST(p % n AS INT) + 1, 1))
             for p in range(frame_idx*32, (frame_idx+1)*32)]) AS b
         FROM fr)
         SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(sum(b) AS BIGINT) AS frame_sum
         FROM px GROUP BY doc_id, frame_idx"""),

    QuerySpec("mm_scene_cuts", (s, d) => {
      // scene-cut detection over a DECODED film strip: consecutive-frame
      // luma-sum deltas above threshold mark cuts — the shot-boundary
      // primitive of video curation, computed scan-local from the same
      // per-frame sums the strip decoder emits (no frame explode before
      // the cut filter; only detected cuts leave the projection)
      import s.implicits._
      val strips = t(s, d, "documents")
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val nf = 1 + (id % 12).toInt
          (id, Multimodal.ImageCodec.buildPng(8, 4 * nf, text.getBytes("US-ASCII")))
        }.toDF("doc_id", "payload")
      val withSums = Multimodal.decodeFilmStrip(strips, "payload", frameH = 4)
        .select(col("doc_id"), col("strip.n_frames").as("nf"),
          col("strip.frame_sums").as("sums"))
      val deltas = when(col("nf") > 1,
        transform(sequence(lit(1), col("nf") - 1),
          i => struct(i.as("idx"),
            abs(element_at(col("sums"), i + 1) - element_at(col("sums"), i)).as("delta"))))
        .otherwise(array().cast("array<struct<idx:int,delta:bigint>>"))
      withSums
        .select(col("doc_id"),
          explode(filter(deltas, c => c.getField("delta") > 300)).as("c"))
        .select(col("doc_id"), col("c.idx").as("cut_idx"), col("c.delta").as("delta"))
    },
      """WITH d AS (SELECT doc_id, text, length(text) AS n,
           CAST(1 + doc_id % 12 AS BIGINT) AS nf
         FROM documents WHERE length(text) >= 1),
         fr AS (SELECT doc_id, text, n, unnest(range(0, nf)) AS fi FROM d),
         px AS (SELECT doc_id, fi,
           unnest([ascii(substring(text, CAST(p % n AS INT) + 1, 1))
             for p in range(fi*32, (fi+1)*32)]) AS b
         FROM fr),
         sums AS (SELECT doc_id, fi, CAST(sum(b) AS BIGINT) AS fs
                  FROM px GROUP BY doc_id, fi),
         lagd AS (SELECT doc_id, fi,
             abs(fs - lag(fs) OVER (PARTITION BY doc_id ORDER BY fi)) AS delta
           FROM sums)
         SELECT doc_id, CAST(fi AS INT) AS cut_idx, CAST(delta AS BIGINT) AS delta
         FROM lagd WHERE delta > 300"""),

    QuerySpec("mm_jpeg_meta", (s, d) => {
      // the LOSSY arm: encode each doc as a real JPEG (JDK encoder), sniff
      // the FFD8 magic with the metadata operator, decode with the JDK
      // decoder — dimensions survive lossy compression exactly, so they
      // (plus the sniffed type) are the oracle surface; pixel sums are
      // deliberately NOT emitted (they would be encoder-dependent)
      import s.implicits._
      val jpegs = t(s, d, "documents")
        .filter(length(col("text")) >= 4)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val bytes = text.getBytes("US-ASCII")
          val w = bytes.length / 4
          (id, Multimodal.ImageCodec.buildJpeg(w, 4,
            java.util.Arrays.copyOf(bytes, w * 4)))
        }.toDF("doc_id", "payload")
      Multimodal.extractFeatures(
          Multimodal.withMediaMeta(jpegs, col("payload")), "payload")
        .select(col("doc_id"), col("media_meta.media_type").as("media_type"),
          col("img.width").as("width"), col("img.height").as("height"))
    },
      """SELECT doc_id, 'image/jpeg' AS media_type,
           CAST(length(text) // 4 AS INT) AS width, 4 AS height
         FROM documents WHERE length(text) >= 4"""),

    QuerySpec("mm_resize", (s, d) => {
      // REAL resize: build a w×h grayscale PNG (dims from doc_id, pixels
      // cycled from the doc bytes), ImageIO-decode it, nearest-neighbor
      // downscale into a 64×64 box via BufferedImage, re-encode, RE-decode,
      // and emit the re-decoded dims + gray sum — integer floor-division
      // fit and sampling, so the oracle reproduces the exact pixel values
      import s.implicits._
      val pngs = t(s, d, "documents")
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val w = 16 + ((id * 7) % 113).toInt
          val h = 16 + ((id * 13) % 89).toInt
          (id, Multimodal.ImageCodec.buildPng(w, h, text.getBytes("US-ASCII")))
        }.toDF("doc_id", "payload")
      Multimodal.resizePayloads(pngs, "payload", maxW = 64, maxH = 64)
        .select(col("doc_id"), col("resized_meta.width").as("width"),
          col("resized_meta.height").as("height"),
          col("resized_meta.gray_sum").as("gray_sum"))
    },
      """WITH d AS (SELECT doc_id, text, length(text) AS n,
           CAST(16 + (doc_id*7) % 113 AS BIGINT) AS w,
           CAST(16 + (doc_id*13) % 89 AS BIGINT) AS h
         FROM documents WHERE length(text) >= 1),
         f AS (SELECT doc_id, text, n, w, h,
           CASE WHEN w <= 64 AND h <= 64 THEN w
                WHEN w >= h THEN 64 ELSE greatest(1, (w*64)//h) END AS ow,
           CASE WHEN w <= 64 AND h <= 64 THEN h
                WHEN w >= h THEN greatest(1, (h*64)//w) ELSE 64 END AS oh
         FROM d),
         px AS (SELECT doc_id, ow, oh,
           unnest([ascii(substring(text,
               CAST(((((q // ow) * h // oh) * w + ((q % ow) * w // ow)) % n) AS INT) + 1, 1))
             for q in range(0, ow*oh)]) AS b
         FROM f)
         SELECT doc_id, CAST(ow AS INT) AS width, CAST(oh AS INT) AS height,
           CAST(sum(b) AS BIGINT) AS gray_sum
         FROM px GROUP BY doc_id, ow, oh""")
  )
}
