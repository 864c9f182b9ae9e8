package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{fixture, t}
import graft.operators.{Cdc, Dedup, Similarity, Text}

/** Deduplication: one [[QuerySpec]] per query. */
private[graft] object DedupQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_exact", (s, d) =>
      Dedup.exactClusters(
        t(s, d, "documents").withColumn("wfp", Text.wordSetFingerprint(col("text"))),
        col("doc_id"), col("wfp")),
      """SELECT md5(array_to_string(list_sort(list_distinct(
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))), ' ')) AS fp,
           min(doc_id) AS canonical_id, count(*) AS dup_count
         FROM documents GROUP BY 1"""),

    QuerySpec("dedup_ngram_jaccard", (s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), col("doc_id"), col("text"), 3, 800000L),
      """WITH docs AS (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         sh AS (SELECT doc_id, list_distinct(
           [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
         FROM docs)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) AS jaccard_ppm
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) >= 800000"""),

    QuerySpec("dedup_containment", (s, d) =>
      // asymmetric doc-in-doc duplication: exact inverted-index join on
      // hashed 3-grams, C >= 0.9 — the class symmetric Jaccard misses
      Dedup.containmentPairs(t(s, d, "documents"), col("doc_id"), col("text"),
        n = 3, thresholdPpm = 900000L),
      """WITH docs AS (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         sh AS (SELECT doc_id, list_distinct(
           [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
         FROM docs)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / least(len(a.s), len(b.s))) AS BIGINT) AS containment_ppm
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / least(len(a.s), len(b.s))) AS BIGINT) >= 900000"""),

    QuerySpec("dedup_minhash_lsh", (s, d) =>
      // 16 bands x 4 rows: P(candidate) at the 0.8 threshold = 1-(1-J^4)^16
      // => recall ~0.9998 at J=0.8, ~1-4e-8 at J=0.9 (the data's true pairs
      // all sit >= 0.9); verification kills every false positive.
      Dedup.minhashNearDupPairs(t(s, d, "documents"), col("doc_id"), col("text"),
        n = 3, numHashes = 64, bands = 16, thresholdPpm = 800000L),
      """WITH docs AS MATERIALIZED (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         sh AS MATERIALIZED (SELECT doc_id, list_distinct(
           [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
         FROM docs)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) AS jaccard_ppm
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) >= 800000"""),

    QuerySpec("dedup_resolve", (s, d) =>
      // end of the dedup pipeline: candidate pairs -> canonical-id mapping
      Dedup.resolveCanonical(
        Dedup.minhashNearDupPairs(t(s, d, "documents"), col("doc_id"), col("text"),
          n = 3, numHashes = 64, bands = 16, thresholdPpm = 800000L)),
      """WITH RECURSIVE docs AS MATERIALIZED (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         sh AS MATERIALIZED (SELECT doc_id, list_distinct(
           [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
         FROM docs),
         pairs AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) >= 800000),
         edges AS MATERIALIZED (SELECT a_id AS id, b_id AS peer FROM pairs
                   UNION ALL SELECT b_id AS id, a_id AS peer FROM pairs),
         reach(id, r) AS MATERIALIZED (
           SELECT id, peer FROM edges
           UNION
           SELECT reach.id, e.peer FROM reach JOIN edges e ON e.id = reach.r)
         SELECT id, least(min(r), id) AS canonical_id FROM reach GROUP BY id"""),

    QuerySpec("dedup_incremental", (s, d) => {
      // bloom-gated EXACT incremental dedup: the corpus half builds a tiny
      // broadcastable bloom over its fingerprints; the new batch pays the
      // anti-join only on the bloom-positive sliver. Output provably equals
      // the plain anti-join (sketch prunes work, never the answer).
      val docs = t(s, d, "documents")
        .withColumn("fp", Text.fingerprint(col("text")))
      val corpus = docs.filter(col("doc_id") < 250)
      val batch = docs.filter(col("doc_id") >= 250)
      val bloom = operators.Sketches.fingerprintBloom(corpus, col("fp"), expected = 1000L)
      operators.Sketches.novelDocs(batch, corpus, "fp", bloom)
        .select(col("doc_id"), col("fp"))
    },
      """WITH f AS (SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
         FROM documents)
         SELECT n.doc_id, n.fp FROM f n
         WHERE n.doc_id >= 250
           AND NOT EXISTS (SELECT 1 FROM f c WHERE c.doc_id < 250 AND c.fp = n.fp)"""),

    QuerySpec("dedup_incremental_lsh", (s, d) => {
      // incremental NEAR-dup (the daily-crawl shape): the standing corpus
      // is indexed (band rows + shingle sets), and the new batch signs only
      // itself, probes that index, exact-verifies — the corpus is never
      // re-paired. The same build + probe the stored-index queries run,
      // with the index held in memory instead of written as a table.
      // Output = all batch-touching near-dup pairs; oracle = all-pairs
      // Jaccard restricted to batch-touching.
      val docs = t(s, d, "documents")
      val (bands, sets) = Dedup.lshIndexBuild(docs.filter(col("doc_id") < 250),
        col("doc_id"), col("text"), n = 3, numHashes = 64, bands = 16)
      val (pairs, _, _) = Dedup.lshProbeAppend(bands, sets,
        docs.filter(col("doc_id") >= 250),
        col("doc_id"), col("text"), n = 3, numHashes = 64, bands = 16,
        thresholdPpm = 800000L)
      pairs
    },
      """WITH docs AS MATERIALIZED (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         sh AS MATERIALIZED (SELECT doc_id, list_distinct(
           [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
         FROM docs)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) AS jaccard_ppm
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE (a.doc_id >= 250 OR b.doc_id >= 250)
           AND CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) >= 800000"""),

    QuerySpec("dedup_lsh_stored", (s, d) => {
      // the STORED-index near-dup lifecycle (stored-IVF's text twin): v1 =
      // corpus band rows + shingle sets persisted as a versioned table;
      // each crawl batch signs only itself, probes the STORED generation,
      // exact-verifies, and writes the appended generation — two
      // generations chained here, corpus never re-signed or re-paired.
      // Generations partition the pair set (a cross-generation pair
      // belongs to the newer side's generation), so the union equals the
      // all-pairs result restricted to new-doc-touching pairs — the same
      // contract (and recall machinery: 16×4 bands at 0.8) as
      // dedup_incremental_lsh, now through the parquet round-trip.
      val docs = t(s, d, "documents")
      // build-once (per process, per corpus): v1 from the standing corpus,
      // batch-1 probe/append -> v2 — ONLY index generations are stored
      // (the IVM contract). The gated body recomputes BOTH probe legs
      // against the stored generations (batch-1 vs v1, batch-2 vs v2): no
      // result rows ever come from the fixture (round-11 stored batch-1's
      // pair output and read it back — result caching, fixed this round).
      val dir = fixture("lsh", d) { dir =>
        val (b1, s1) = Dedup.lshIndexBuild(docs.filter(col("doc_id") < 250),
          col("doc_id"), col("text"), n = 3, numHashes = 64, bands = 16)
        Dedup.writeLshIndex(b1, s1, dir, version = 1L)
        val (rb1, rs1) = Dedup.readLshIndex(s, dir, version = 1L)
        val (_, b2, s2) = Dedup.lshProbeAppend(rb1, rs1,
          docs.filter(col("doc_id") >= 250 && col("doc_id") < 375),
          col("doc_id"), col("text"), n = 3, numHashes = 64, bands = 16,
          thresholdPpm = 800000L)
        Dedup.writeLshIndex(b2, s2, dir, version = 2L)
      }
      val (rb1, rs1) = Dedup.readLshIndex(s, dir, version = 1L)
      val (p1, _, _) = Dedup.lshProbeAppend(rb1, rs1,
        docs.filter(col("doc_id") >= 250 && col("doc_id") < 375),
        col("doc_id"), col("text"), n = 3, numHashes = 64, bands = 16,
        thresholdPpm = 800000L)
      val (rb2, rs2) = Dedup.readLshIndex(s, dir, version = 2L)
      val (p2, _, _) = Dedup.lshProbeAppend(rb2, rs2,
        docs.filter(col("doc_id") >= 375),
        col("doc_id"), col("text"), n = 3, numHashes = 64, bands = 16,
        thresholdPpm = 800000L)
      p1.unionByName(p2)
    },
      // same contract as dedup_incremental_lsh (all near-dup pairs
      // touching a doc outside the v1 corpus), exercised through the
      // stored two-generation lifecycle
      """WITH docs AS MATERIALIZED (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         sh AS MATERIALIZED (SELECT doc_id, list_distinct(
           [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
         FROM docs)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) AS jaccard_ppm
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE (a.doc_id >= 250 OR b.doc_id >= 250)
           AND CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) >= 800000"""),

    QuerySpec("dedup_lsh_cdc", (s, d) => {
      // CDC DELETEs folded into the stored LSH index (the reference's
      // versioned-mutation philosophy reaching the index tables): v1 =
      // corpus index, v2 = v1 minus a deleted-id batch (anti-join both
      // stored relations — batch-sized broadcast, corpus never re-signed),
      // then a crawl batch probes v2. The gate: probing the maintained
      // generation equals probing an index REBUILT from the surviving
      // corpus — the oracle computes exactly that rebuild. Idempotent
      // under redelivery (spec-pinned): re-deleting an absent id is a
      // no-op, so no fence is required (k-min class, not xor class).
      val docs = t(s, d, "documents")
      // build-once: v1 over the standing corpus; the gated body times the
      // CDC contract itself — delete-fold, v2 write, probe
      val dir = fixture("lshcdc", d) { dir =>
        val (b1, s1) = Dedup.lshIndexBuild(docs.filter(col("doc_id") < 375),
          col("doc_id"), col("text"), n = 3, numHashes = 64, bands = 16)
        Dedup.writeLshIndex(b1, s1, dir, version = 1L)
      }
      val (rb1, rs1) = Dedup.readLshIndex(s, dir, version = 1L)
      val deleted = docs.filter(col("doc_id") < 375 && col("doc_id") % 10 === 3)
        .select(col("doc_id"))
      val (b2, s2) = Dedup.lshApplyDeletes(rb1, rs1, deleted, col("doc_id"))
      Dedup.writeLshIndex(b2, s2, dir, version = 2L)
      val (rb2, rs2) = Dedup.readLshIndex(s, dir, version = 2L)
      val (pairs, _, _) = Dedup.lshProbeAppend(rb2, rs2,
        docs.filter(col("doc_id") >= 375),
        col("doc_id"), col("text"), n = 3, numHashes = 64, bands = 16,
        thresholdPpm = 800000L)
      pairs
    },
      // the from-scratch REBUILD over the surviving corpus: indexed docs
      // minus the deleted batch (doc_id % 10 = 3), plus the probe batch
      // (>= 375); pairs restricted to batch-touching, same threshold
      """WITH docs AS MATERIALIZED (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents
         WHERE doc_id >= 375 OR doc_id % 10 <> 3),
         sh AS MATERIALIZED (SELECT doc_id, list_distinct(
           [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
         FROM docs)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) AS jaccard_ppm
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE (a.doc_id >= 375 OR b.doc_id >= 375)
           AND CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) >= 800000"""),

    QuerySpec("dedup_lsh_update", (s, d) => {
      // CDC UPDATEs into the stored LSH index = delete-fold of the old
      // versions + probe/append of the re-signed NEW versions (the
      // before-image/after-image pair every CDC update carries, applied to
      // the index tables) — completing the mutation triad on the stored
      // index: INSERT = lshProbeAppend, DELETE = lshApplyDeletes, UPDATE =
      // both. Only the updated docs re-sign (batch-sized work); the gate:
      // the emitted update-touching pairs ≡ all-pairs Jaccard over the
      // corpus WITH the updates applied.
      val docs = t(s, d, "documents")
      val updated = docs.filter(col("doc_id") >= 100 && col("doc_id") < 250)
        .withColumn("text", concat(col("text"), lit(" graft update marker")))
      // build-once: v1 over the full corpus; the gated body times the
      // UPDATE fold (before-image delete + after-image re-sign/probe)
      val dir = fixture("lshupd", d) { dir =>
        val (b1, s1) = Dedup.lshIndexBuild(docs,
          col("doc_id"), col("text"), n = 3, numHashes = 64, bands = 16)
        Dedup.writeLshIndex(b1, s1, dir, version = 1L)
      }
      val (rb1, rs1) = Dedup.readLshIndex(s, dir, version = 1L)
      val (b2, s2) = Dedup.lshApplyDeletes(rb1, rs1,
        updated.select(col("doc_id")), col("doc_id"))
      val (pairs, _, _) = Dedup.lshProbeAppend(b2, s2, updated,
        col("doc_id"), col("text"), n = 3, numHashes = 64, bands = 16,
        thresholdPpm = 800000L)
      pairs
    },
      // the corpus WITH the updates applied (before-images replaced by
      // after-images for doc_id in [100, 250)); pairs touching an updated doc
      """WITH docs AS (SELECT doc_id,
           string_split(trim(regexp_replace(lower(
             CASE WHEN doc_id >= 100 AND doc_id < 250
               THEN text || ' graft update marker' ELSE text END),
             '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         sh AS (SELECT doc_id, list_distinct(
           [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
         FROM docs)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) AS jaccard_ppm
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE ((a.doc_id >= 100 AND a.doc_id < 250) OR (b.doc_id >= 100 AND b.doc_id < 250))
           AND CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) >= 800000"""),

    QuerySpec("text_boilerplate_strip", (s, d) =>
      // C4/CCNet boilerplate rule at chunk granularity: a 10-token chunk
      // in MORE than 3 distinct docs is boilerplate and is cut from EVERY
      // doc (incl. first occurrence — the contrast with dedup_paragraph's
      // keep-first); hot set is a broadcast sliver, corpus shuffles by
      // chunk exactly once for the df count
      Dedup.stripCommonChunks(t(s, d, "documents"), col("doc_id"), col("text"),
        chunkTokens = 10, maxDf = 3),
      // document frequency per chunk via a grouped count (not a window —
      // same skew argument as the engine), hot = df > 3, survivors
      // reassembled in ord order; EVERY occurrence of a hot chunk drops
      """WITH docs AS (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         ch AS (SELECT doc_id,
           unnest([{'ord': i-1, 'chunk': array_to_string(w[(i-1)*10+1:(i-1)*10+10], ' ')}
             for i in range(1, CAST(ceil(len(w)/10.0) AS BIGINT) + 1)], recursive := true)
         FROM docs),
         cnt AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM ch GROUP BY chunk),
         j AS (SELECT ch.*, cnt.df FROM ch JOIN cnt USING (chunk))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (WHERE df > 3) AS BIGINT) AS n_dropped,
           coalesce(string_agg(chunk, ' ' ORDER BY ord) FILTER (WHERE df <= 3), '') AS clean_text
         FROM j GROUP BY doc_id"""),

    QuerySpec("cdc_table_filter", (s, d) => {
      // A3's include/exclude gate, hash-gated on BOTH rule shapes
      // (reference AugmenterContext.java:711-730: pass iff NOT excluded
      // AND (include empty OR included) — exclusion beats inclusion):
      // cfg 1 = blacklist only, cfg 2 = whitelist ∧ blacklist where one
      // whitelisted name (src12) is also excluded and must NOT survive
      val docs = t(s, d, "documents")
      val a = Cdc.tableFilter(docs, col("source"), Nil, Some("^src1[0-9]$"))
        .groupBy(col("source")).agg(count(lit(1)).as("cnt"))
        .withColumn("cfg", lit("exclude_only"))
      val b = Cdc.tableFilter(docs, col("source"),
          Seq("src1", "src2", "src12"), Some("^src1[0-9]$"))
        .groupBy(col("source")).agg(count(lit(1)).as("cnt"))
        .withColumn("cfg", lit("include_and_exclude"))
      a.unionByName(b)
    },
      // both rule shapes of the reference's !excluded && included gate;
      // anchored regex so rlike (search) and regexp_matches (search) agree
      """SELECT source, CAST(count(*) AS BIGINT) AS cnt, 'exclude_only' AS cfg
         FROM documents WHERE NOT regexp_matches(source, '^src1[0-9]$')
         GROUP BY source
         UNION ALL
         SELECT source, CAST(count(*) AS BIGINT) AS cnt, 'include_and_exclude' AS cfg
         FROM documents
         WHERE source IN ('src1', 'src2', 'src12')
           AND NOT regexp_matches(source, '^src1[0-9]$')
         GROUP BY source"""),

    QuerySpec("dedup_paragraph", (s, d) =>
      // sub-document exact dedup (MassiveText "repeated passage" rule):
      // 10-token chunks, corpus-wide keep-first, reassemble in doc order
      Dedup.chunkDedup(t(s, d, "documents"), col("doc_id"), col("text"),
        chunkTokens = 10),
      """WITH docs AS (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         ch AS (SELECT doc_id,
           unnest([{'ord': i-1, 'chunk': array_to_string(w[(i-1)*10+1:(i-1)*10+10], ' ')}
             for i in range(1, CAST(ceil(len(w)/10.0) AS BIGINT) + 1)], recursive := true)
         FROM docs),
         rk AS (SELECT *, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ord) AS rn FROM ch)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           coalesce(string_agg(chunk, ' ' ORDER BY ord) FILTER (WHERE rn = 1), '') AS deduped_text
         FROM rk GROUP BY doc_id"""),

    QuerySpec("dedup_dup_ngrams", (s, d) =>
      // duplicated-span detection (Lee et al. exact-substring flavor):
      // positional 5-gram multiset counted corpus-wide, per-doc dup ratio
      Dedup.dupSpanStats(t(s, d, "documents"), col("doc_id"), col("text"), n = 5),
      """WITH docs AS (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         sp AS (SELECT doc_id,
           unnest([array_to_string(w[i:i+4], ' ') for i in range(1, greatest(len(w)-5, 0)+2)]) AS span
         FROM docs),
         cnt AS (SELECT doc_id, count(*) OVER (PARTITION BY span) AS gc FROM sp)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(*) FILTER (WHERE gc >= 2) AS BIGINT) AS n_dup_spans,
           CAST(floor(count(*) FILTER (WHERE gc >= 2) * 1000000.0 / count(*)) AS BIGINT) AS dup_ppm
         FROM cnt GROUP BY doc_id"""),

    QuerySpec("dedup_span_contamination", (s, d) => {
      // GPT-3-style span decontamination: a TRAIN doc (odd id) is flagged
      // per 5-gram it shares with the EVAL split (even ids) — catches a
      // verbatim eval question quoted inside a long page that doc-level
      // Jaccard (dedup_contamination) would miss
      val docs = t(s, d, "documents")
      Dedup.spanContamination(
        docs.filter(col("doc_id") % 2 =!= 0), col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 2 === 0), col("text"), n = 5)
    },
      """WITH docs AS (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         tr AS (SELECT doc_id,
           unnest([array_to_string(w[i:i+4], ' ') for i in range(1, greatest(len(w)-5, 0)+2)]) AS span
         FROM docs WHERE doc_id % 2 <> 0),
         ev AS (SELECT DISTINCT
           unnest([array_to_string(w[i:i+4], ' ') for i in range(1, greatest(len(w)-5, 0)+2)]) AS span
         FROM docs WHERE doc_id % 2 = 0)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(*) FILTER (WHERE span IN (SELECT span FROM ev)) AS BIGINT) AS n_contaminated,
           CAST(floor(count(*) FILTER (WHERE span IN (SELECT span FROM ev)) * 1000000.0 / count(*)) AS BIGINT) AS contam_ppm
         FROM tr GROUP BY doc_id"""),

    QuerySpec("dedup_span_removal", (s, d) => {
      // the surgery step after span counting: cut every token position
      // covered by a 5-gram shared with the eval split, reassemble the
      // survivors in order — keeps the doc, removes the quoted eval text
      val docs = t(s, d, "documents")
      Dedup.removeContaminatedSpans(
        docs.filter(col("doc_id") % 2 =!= 0), col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 2 === 0), col("text"), n = 5)
    },
      """WITH docs AS (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         tr AS (SELECT doc_id, w FROM docs WHERE doc_id % 2 <> 0),
         ev AS (SELECT DISTINCT
           unnest([array_to_string(w[i:i+4], ' ') for i in range(1, greatest(len(w)-5, 0)+2)]) AS span
         FROM docs WHERE doc_id % 2 = 0),
         sp AS (SELECT doc_id,
           unnest([{'s': i, 'g': array_to_string(w[i:i+4], ' ')}
             for i in range(1, greatest(len(w)-5, 0)+2)], recursive := true)
         FROM tr),
         dirty AS (SELECT doc_id, list(s) AS starts FROM sp
           WHERE g IN (SELECT span FROM ev) GROUP BY doc_id),
         cut AS (SELECT t.doc_id, t.w,
           [t.w[p] for p in range(1, len(t.w)+1)
              if len(list_filter(coalesce(d.starts, []), s -> p >= s AND p < s + 5)) = 0] AS kept
         FROM tr t LEFT JOIN dirty d USING (doc_id))
         SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
           -- array_to_string([]) is NULL in DuckDB; a fully-cut doc is ''
           coalesce(array_to_string(kept, ' '), '') AS clean_text
         FROM cut"""),

    QuerySpec("dedup_keep_best", (s, d) => {
      // keep-BEST representative per near-dup cluster (token count as the
      // quality score, ties to the smaller id) — the selection real
      // cleaning pipelines make instead of keep-first
      val docs = t(s, d, "documents")
      val labels = Dedup.resolveCanonical(
        Dedup.minhashNearDupPairs(docs, col("doc_id"), col("text"),
          n = 3, numHashes = 64, bands = 16, thresholdPpm = 800000L))
      Dedup.keepBest(labels, docs, "doc_id", Text.tokenCount(col("text")))
    },
      """WITH RECURSIVE docs AS MATERIALIZED (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         sh AS MATERIALIZED (SELECT doc_id, list_distinct(
           [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
         FROM docs),
         pairs AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) >= 800000),
         edges AS MATERIALIZED (SELECT a_id AS id, b_id AS peer FROM pairs
                   UNION ALL SELECT b_id AS id, a_id AS peer FROM pairs),
         reach(id, r) AS MATERIALIZED (
           SELECT id, peer FROM edges
           UNION
           SELECT reach.id, e.peer FROM reach JOIN edges e ON e.id = reach.r),
         comp AS MATERIALIZED (SELECT id, least(min(r), id) AS canonical_id FROM reach GROUP BY id),
         toks AS MATERIALIZED (SELECT doc_id,
           CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS BIGINT) AS score
         FROM documents),
         best AS MATERIALIZED (SELECT canonical_id, id AS keeper_id FROM (
           SELECT comp.id, comp.canonical_id,
             row_number() OVER (PARTITION BY canonical_id ORDER BY t.score DESC, comp.id) AS rn
           FROM comp JOIN toks t ON t.doc_id = comp.id) WHERE rn = 1)
         SELECT comp.id, comp.canonical_id, best.keeper_id
         FROM comp JOIN best USING (canonical_id)"""),

    QuerySpec("dedup_simhash", (s, d) =>
      // Manku-style simhash multiprobe (hamming<=7 guaranteed) ensembled
      // with minhash bands for the high-hamming short-doc tail, EXACT
      // n-gram-Jaccard verify — output coincides with the all-pairs oracle.
      // The hamming-verified pure variant (simhashNearDupPairs) stays
      // spec-tested.
      Dedup.simhashVerifiedPairs(t(s, d, "documents"), col("doc_id"), col("text"),
        n = 3, thresholdPpm = 800000L),
      """WITH docs AS (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         sh AS (SELECT doc_id, list_distinct(
           [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
         FROM docs)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) AS jaccard_ppm
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) >= 800000"""),

    QuerySpec("dedup_embedding_cosine", (s, d) =>
      Dedup.embeddingNearDupPairs(t(s, d, "embeddings"), col("vec_id"), col("embedding"), 0.4),
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4"""),

    QuerySpec("dedup_embedding_lsh", (s, d) =>
      // At this corpus's threshold (0.4, true pairs at cos 0.40-0.6) NOTHING
      // prunes — measured both ways: hyperplane bands pass 98% of all pairs
      // (32×3-plane config), and the IVF triangle-inequality probe bound
      // passes 100.0% of query×cluster pairs for every k ∈ {8,16,32},
      // iters ∈ {1,3} (probedPairs/allPairs = 1.0 at sf0.1) — so routing
      // through ivfExactThreshold would run the SAME n² dots plus k-means
      // overhead (+60% wall measured). The tiled exact block product with
      // native-dot verify IS the minimal exact work here. The 100 TB recipe
      // when data IS clusterable or the threshold is high: IVF-partition
      // then block within clusters — ivfExactThreshold (proven output-equal
      // for any centroids) and embeddingNearDupLsh are the drop-ins, both
      // spec-verified on clustered data; Dedup.semanticDedup (dedup_semantic)
      // is the published within-cluster-only form of that recipe (SemDeDup —
      // accepts the cross-cluster recall trade in exchange for Σn_c² work).
      Dedup.embeddingNearDupBlocked(t(s, d, "embeddings"), col("vec_id"), col("embedding"), 0.4),
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4"""),

    QuerySpec("dedup_semantic", (s, d) => {
      // SemDeDup (Abbas et al. 2023): cluster-then-compare — the published
      // sub-quadratic recipe for embedding dedup at low thresholds. The
      // codebook size is DERIVED as c ~ sqrt(n) from one O(1) corpus count
      // (the sim_knn_graph_ivf_mp recipe: deterministic strided seed rule,
      // codebook stays a plan literal), so within-cluster work is
      // Σn_c² ~ n^1.5 at ANY corpus size instead of n²/c under a fixed
      // codebook — the r10 ×10 artifact measured the fixed-8 form at 28×.
      // kmeansCentroids drops in unchanged when learned centroids are
      // preferred over the strided seed.
      val emb = t(s, d, "embeddings")
      val n = emb.count()
      val c = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong)
      val stride = math.max(1L, n / c)
      val centroids = emb.filter(col("vec_id") % stride === 0)
        .select(col("vec_id").as("centroid_id"),
          Similarity.asDouble(col("embedding")).as("cvec"))
      Dedup.semanticDedup(emb, col("vec_id"), col("embedding"), centroids, 0.4)
    },
      """WITH prm AS (SELECT greatest(1, count(*) // greatest(1,
             CAST(floor(sqrt(count(*))) AS BIGINT))) AS stride FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
                    FROM embeddings, prm WHERE vec_id % stride = 0),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         a AS (SELECT vec_id, centroid_id, vv FROM v, c
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY
                 round(list_dot_product(vv, cv)
                   / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))), 6) DESC,
                 centroid_id) = 1),
         d AS (SELECT DISTINCT a1.vec_id FROM a a1 JOIN a a2
                 ON a1.centroid_id = a2.centroid_id AND a2.vec_id < a1.vec_id
               WHERE round(list_dot_product(a1.vv, a2.vv)
                 / (sqrt(list_dot_product(a1.vv, a1.vv)) * sqrt(list_dot_product(a2.vv, a2.vv))), 6) >= 0.4)
         SELECT a.vec_id, a.centroid_id, d.vec_id IS NULL AS kept
         FROM a LEFT JOIN d ON a.vec_id = d.vec_id"""),

    QuerySpec("dedup_semantic_recall", (s, d) => {
      // SemDeDup's measured recall (the dedup mirror of sim_recall_eval):
      // cluster-local drop decisions vs the exact within-threshold ground
      // truth, per centroid — the cross-cluster miss trade as a number the
      // gate re-measures every run instead of a single spec-pinned pair.
      // Deterministic end to end (derived strided centroids — the SAME
      // c ~ sqrt(n) configuration dedup_semantic gates, so the recall
      // number re-measures the production trade — round-6 cosines, id
      // tie-breaks), so the recall itself is hash-gated; n_dropped ≡
      // n_caught doubles as the precision-is-exact evidence (a within-
      // cluster witness is also a global witness).
      val emb = t(s, d, "embeddings")
      val n = emb.count()
      val c = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong)
      val stride = math.max(1L, n / c)
      val centroids = emb.filter(col("vec_id") % stride === 0)
        .select(col("vec_id").as("centroid_id"),
          Similarity.asDouble(col("embedding")).as("cvec"))
      val sem = Dedup.semanticDedup(emb, col("vec_id"), col("embedding"), centroids, 0.4)
      val truth = Dedup.embeddingNearDupBlocked(emb, col("vec_id"), col("embedding"), 0.4)
        .select(col("b_id").as("vec_id")).distinct().withColumn("__true", lit(true))
      sem.join(truth, Seq("vec_id"), "left")
        .groupBy("centroid_id")
        .agg(
          sum(when(col("__true"), 1L).otherwise(0L)).as("n_true_dups"),
          sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("__true") && !col("kept"), 1L).otherwise(0L)).as("n_caught"))
        .withColumn("recall_ppm",
          when(col("n_true_dups") === 0, lit(1000000L))
            .otherwise(floor(col("n_caught").cast("double") * lit(1000000.0d)
              / col("n_true_dups")).cast("long")))
    },
      """WITH prm AS (SELECT greatest(1, count(*) // greatest(1,
             CAST(floor(sqrt(count(*))) AS BIGINT))) AS stride FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
                    FROM embeddings, prm WHERE vec_id % stride = 0),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         a AS (SELECT vec_id, centroid_id, vv FROM v, c
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY
                 round(list_dot_product(vv, cv)
                   / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))), 6) DESC,
                 centroid_id) = 1),
         d AS (SELECT DISTINCT a1.vec_id FROM a a1 JOIN a a2
                 ON a1.centroid_id = a2.centroid_id AND a2.vec_id < a1.vec_id
               WHERE round(list_dot_product(a1.vv, a2.vv)
                 / (sqrt(list_dot_product(a1.vv, a1.vv)) * sqrt(list_dot_product(a2.vv, a2.vv))), 6) >= 0.4),
         tr AS (SELECT DISTINCT b.vec_id FROM v a JOIN v b ON a.vec_id < b.vec_id
               WHERE round(list_dot_product(a.vv, b.vv)
                 / (sqrt(list_dot_product(a.vv, a.vv)) * sqrt(list_dot_product(b.vv, b.vv))), 6) >= 0.4)
         SELECT a.centroid_id,
           CAST(sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dups,
           CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN tr.vec_id IS NOT NULL AND d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
           CASE WHEN sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) = 0
                THEN CAST(1000000 AS BIGINT)
                ELSE CAST(floor(sum(CASE WHEN tr.vec_id IS NOT NULL AND d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                  * 1000000.0 / sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END)) AS BIGINT) END AS recall_ppm
         FROM a LEFT JOIN d ON a.vec_id = d.vec_id LEFT JOIN tr ON a.vec_id = tr.vec_id
         GROUP BY a.centroid_id""")
  )
}
