package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.t
import graft.operators.{Dedup, Text}

/** Text analysis: one [[QuerySpec]] per query. */
private[graft] object TextQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_fingerprint", (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        Text.fingerprint(col("text")).as("fp"),
        Text.wordSetFingerprint(col("text")).as("wfp")),
      """SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
           md5(array_to_string(list_sort(list_distinct(
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))), ' ')) AS wfp
         FROM documents"""),

    QuerySpec("text_tokens", (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        Text.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        Text.bpeTokenCount(col("text")).cast("long").as("bpe_tokens")),
      """SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
         FROM documents"""),

    QuerySpec("text_char_entropy", (s, d) =>
      // Shannon entropy of each doc's code-point distribution — the
      // gibberish/boilerplate quality signal used alongside the Gopher
      // gates (near 0 = repeated-character spam; anomalously high =
      // encoded binary posing as text). ONE codegen'd scan-local pass
      // (CharEntropyExpr); rounded to 6 decimals so the arbitrary-order
      // DuckDB groupBy sum hash-matches (cosine-score contract)
      t(s, d, "documents").filter(length(col("text")) > 0)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_h"),
          round(Text.charEntropy(col("text")), 6).as("entropy_r6")),
      """WITH ch AS (SELECT doc_id, length(text) AS n,
           unnest([substring(text, i, 1) for i in range(1, length(text) + 1)]) AS c
         FROM documents WHERE length(text) > 0),
         cnt AS (SELECT doc_id, any_value(n) AS n, c, count(*) AS k
                 FROM ch GROUP BY doc_id, c)
         SELECT doc_id, CAST(any_value(n) AS BIGINT) AS n_chars_h,
           round(sum(-(CAST(k AS DOUBLE) / n) * ln(CAST(k AS DOUBLE) / n)), 6) AS entropy_r6
         FROM cnt GROUP BY doc_id"""),

    QuerySpec("text_quality", (s, d) =>
      Text.qualityMetrics(t(s, d, "documents"), col("text"))
        .select("doc_id", "n_chars_m", "n_tokens", "alpha_ppm", "stopword_ppm"),
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000000.0 / length(text)) AS BIGINT) AS alpha_ppm,
           CAST(floor(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             x -> x IN ('the','a','an','of','and','in','to','is'))) * 1000000.0
             / len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS stopword_ppm
         FROM documents"""),

    QuerySpec("text_langid", (s, d) =>
      t(s, d, "documents").select(col("doc_id"), Text.langId(col("text")).as("pred_lang")),
      """WITH w AS (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
         FROM documents),
         sc AS (SELECT doc_id,
           len(list_filter(toks, x -> x IN ('the','a','of','and','in','is'))) AS en,
           len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein'))) AS de,
           len(list_filter(toks, x -> x IN ('el','la','de','y','es','un'))) AS es,
           len(list_filter(toks, x -> x IN ('le','la','de','et','est','un'))) AS fr
         FROM w)
         SELECT doc_id,
           CASE WHEN en >= de AND en >= es AND en >= fr AND en > 0 THEN 'en'
                WHEN de >= es AND de >= fr AND de > 0 THEN 'de'
                WHEN es >= fr AND es > 0 THEN 'es'
                WHEN fr > 0 THEN 'fr'
                ELSE 'und' END AS pred_lang
         FROM sc"""),

    QuerySpec("text_langid_eval", (s, d) => {
      // language-ID grading against the labeled `lang` column — the eval
      // pattern (sim_recall_eval / sim_mrr_eval) applied to the text
      // lane: full confusion matrix (label × prediction counts) plus
      // per-label recall in integer ppm, one scan + two bounded
      // hash-aggs (output ≤ labels × predicted classes). zh has no
      // stopword class in the n-gram heuristic, so its row is the
      // honest failure surface (predicted 'und'/latin classes), not a
      // hidden accuracy inflation.
      val scored = t(s, d, "documents").select(col("lang"),
        Text.langId(col("text")).as("pred_lang"))
      val cells = scored.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val wLab = Window.partitionBy("lang")
      cells
        .withColumn("label_total", sum(col("n")).over(wLab))
        .withColumn("recall_ppm",
          when(col("lang") === col("pred_lang"),
            expr("1000000L * n div label_total")))
        .select("lang", "pred_lang", "n", "label_total", "recall_ppm")
    },
      // the text_langid scorer CTE joined back to the label column;
      // confusion cells + diagonal recall ppm
      """WITH w AS (SELECT doc_id, lang,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
         FROM documents),
         sc AS (SELECT doc_id, lang,
           len(list_filter(toks, x -> x IN ('the','a','of','and','in','is'))) AS en,
           len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein'))) AS de,
           len(list_filter(toks, x -> x IN ('el','la','de','y','es','un'))) AS es,
           len(list_filter(toks, x -> x IN ('le','la','de','et','est','un'))) AS fr
         FROM w),
         pred AS (SELECT doc_id, lang,
           CASE WHEN en >= de AND en >= es AND en >= fr AND en > 0 THEN 'en'
                WHEN de >= es AND de >= fr AND de > 0 THEN 'de'
                WHEN es >= fr AND es > 0 THEN 'es'
                WHEN fr > 0 THEN 'fr'
                ELSE 'und' END AS pred_lang
         FROM sc),
         cells AS (SELECT lang, pred_lang, count(*) AS n
           FROM pred GROUP BY 1, 2),
         tot AS (SELECT lang, pred_lang, n,
             sum(n) OVER (PARTITION BY lang) AS label_total
           FROM cells)
         SELECT lang, pred_lang, n, CAST(label_total AS BIGINT) AS label_total,
           CASE WHEN lang = pred_lang
             THEN CAST(1000000 * n // label_total AS BIGINT) END AS recall_ppm
         FROM tot"""),

    QuerySpec("text_cooccurrence", (s, d) =>
      // GloVe-prep window co-occurrence (Pennington et al. '14 input
      // stage): unordered word pairs within a ±2 window, counted over the
      // corpus, top-100. Pair generation is SCAN-LOCAL — a HOF over the
      // words array emits (i, i+1) and (i, i+2) pairs in canonical
      // (least, greatest) order, so the shuffle carries pair counts, not
      // positions, and there is no positional self-join anywhere
      // doc rows repartition BEFORE the pair explode: the parquet scan
      // yields few input splits, and without this the 20M-row pair stream
      // generates inside ~2 tasks (measured 17.4 → 1.5 s at sf0.1); the
      // doc-row shuffle is 3 orders of magnitude smaller than the pair
      // stream it parallelizes
      t(s, d, "documents").select(col("text")).repartition(64)
        .select(explode(Text.coocPairs(col("text"))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w1"), col("w2")).limit(100),
      // the same ±2-window pairs via two concatenated comprehensions (j=1,
      // j=2), canonical (least, greatest) order, binary string collation on
      // both engines
      """WITH docs AS (SELECT
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         pr AS (SELECT unnest(
           [{'w1': least(w[i], w[i+1]), 'w2': greatest(w[i], w[i+1])}
              for i in range(1, greatest(len(w), 1))] ||
           [{'w1': least(w[i], w[i+2]), 'w2': greatest(w[i], w[i+2])}
              for i in range(1, greatest(len(w) - 1, 1))]) AS p
         FROM docs)
         SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS cnt
         FROM pr GROUP BY 1, 2
         ORDER BY cnt DESC, w1, w2 LIMIT 100"""),

    QuerySpec("text_vocab_topk", (s, d) =>
      // corpus vocabulary: explode tokens -> count -> top-k (map-side
      // partial agg; the shuffle carries distinct tokens, not occurrences)
      t(s, d, "documents")
        .select(explode(split(Text.normalized(col("text")), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(50),
      """SELECT token, count(*) AS cnt FROM (
           SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
           FROM documents)
         GROUP BY token ORDER BY cnt DESC, token LIMIT 50"""),

    QuerySpec("text_tfidf", (s, d) => {
      // TF-IDF, integer-exact: idf scaled to floor(1e6·N/df) so both engines
      // do the identical double op; top-5 terms per doc. tf feeds both the
      // df aggregation and the scoring join but is NOT persisted: a
      // corpus-scale cache doubles the I/O footprint at 100 TB, while the
      // rescan is a codegen'd tokenize+partial-agg chain (dsirSelect's
      // posture; trade recorded in SCALE.md).
      val docs = t(s, d, "documents")
      val terms = docs.select(col("doc_id"),
        explode(split(operators.Text.normalized(col("text")), " ")).as("term"))
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      // the idf model (dfreq) is VOCABULARY-sized — broadcast it so the
      // corpus-sized tf table never shuffles by term (Zipf-skewed key) and
      // scoring stays map-side on tf's recompute; the per-doc top-5 window
      // partitions by doc_id, whose size is bounded by document length
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf_scaled").desc, col("term"))
      tf.join(broadcast(dfreq), "term").crossJoin(broadcast(total))
        .withColumn("tfidf_scaled",
          (col("tf") * floor(lit(1000000.0d) * col("n_docs") / col("df"))).cast("long"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("term"), col("tfidf_scaled"),
          col("rn").cast("long").as("rn"))
    },
      """WITH toks AS (
           SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT doc_id, term,
             CAST(tf * floor(1000000.0 * n_docs / df) AS BIGINT) AS tfidf_scaled
           FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf_scaled DESC, term) AS rn FROM scored)
         SELECT doc_id, term, tfidf_scaled, rn FROM r WHERE rn <= 5"""),

    QuerySpec("text_bm25", (s, d) => {
      // BM25 retrieval scoring (Robertson/Lucene idf form) — the standard
      // corpus-curation search primitive, distinct from tf-idf by doc-
      // length normalization and smoothed idf. Scale shape: doc length
      // rides the tokenize scan, postings filter to the QUERY terms before
      // the (doc,term) shuffle (at 100 TB the shuffle carries the query's
      // postings sliver, not the corpus), df and the corpus stats broadcast
      // at vocabulary/scalar size, per-term contributions floor to integer
      // ppm so the per-doc total is an order-free integer sum, and the
      // global top-20 plans as TakeOrdered (k-bounded per partition).
      // Floats: identical parse tree in both engines, single floor at ppm.
      val qTerms = Seq("stream", "hash", "vector")
      val toks = t(s, d, "documents")
        .select(col("doc_id"), split(operators.Text.normalized(col("text")), " ").as("toks"))
      val stats = toks.agg(count(lit(1)).as("n_docs"), avg(size(col("toks"))).as("avgdl"))
      val tf = toks
        .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
        .filter(col("term").isin(qTerms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
        .withColumn("bm25_ppm", floor(lit(1000000.0d) *
          (log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
            (col("tf") * lit(2.2d)) /
            (col("tf") + lit(1.2d) * (lit(1.0d) - lit(0.75d)
              + lit(0.75d) * col("dl") / col("avgdl"))))).cast("long"))
        .groupBy("doc_id")
        .agg(sum(col("bm25_ppm")).as("bm25_total_ppm"), count(lit(1)).as("n_terms"))
        .orderBy(col("bm25_total_ppm").desc, col("doc_id")).limit(20)
    },
      """WITH toks AS (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
         FROM documents),
         stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM toks),
         tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM (
             SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks) u
           WHERE term IN ('stream','hash','vector') GROUP BY doc_id, term),
         d AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         sc AS (SELECT doc_id,
             CAST(floor(1000000.0 *
               (ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2)
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))) AS BIGINT) AS bm25_ppm
           FROM tf JOIN d USING (term) CROSS JOIN stats)
         SELECT doc_id, CAST(sum(bm25_ppm) AS BIGINT) AS bm25_total_ppm,
           CAST(count(*) AS BIGINT) AS n_terms
         FROM sc GROUP BY doc_id
         ORDER BY bm25_total_ppm DESC, doc_id LIMIT 20"""),

    QuerySpec("text_repetition", (s, d) =>
      t(s, d, "documents")
        .withColumn("__toks", split(operators.Text.normalized(col("text")), " "))
        .select(col("doc_id"),
          operators.Text.repetitionPpmOfTokens(col("__toks"), 3).as("rep3_ppm")),
      """WITH t AS (SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         g AS (SELECT doc_id,
             list_transform(range(1, greatest(len(toks) - 3, 0) + 2),
               i -> array_to_string(toks[i:i+2], ' ')) AS grams
           FROM t)
         SELECT doc_id,
           CAST(floor((len(grams) - len(list_distinct(grams))) * 1000000.0 / len(grams)) AS BIGINT) AS rep3_ppm
         FROM g"""),

    QuerySpec("text_pii", (s, d) => {
      val (emails, digitRuns) = operators.Text.piiCounts(col("text"))
      t(s, d, "documents").select(col("doc_id"),
        emails.cast("long").as("n_emails"), digitRuns.cast("long").as("n_digit_runs"))
    },
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_digit_runs
         FROM documents"""),

    QuerySpec("text_lm_score", (s, d) =>
      operators.Text.lmBigramScore(t(s, d, "documents"), col("doc_id"), col("text")),
      """WITH toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
           FROM documents),
         bi AS (
           SELECT doc_id, t[CAST(u.i AS INT)] AS w1, t[CAST(u.i AS INT) + 1] AS w2
           FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)),
         doc_bi AS (
           SELECT doc_id, w1, w2, count(*) AS k FROM bi GROUP BY 1, 2, 3),
         c2 AS (SELECT w1, w2, sum(k) AS c2 FROM doc_bi GROUP BY 1, 2),
         c1 AS (SELECT w1, sum(k) AS c1 FROM doc_bi GROUP BY 1),
         v AS (SELECT count(DISTINCT w2) AS v FROM doc_bi),
         scored AS (
           SELECT doc_id, k,
             floor((c2.c2 + 1) * 1000000.0 / (c1.c1 + v.v)) AS s
           FROM doc_bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
         per_doc AS (
           SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
             CAST(floor(sum(s * k) / sum(k)) AS BIGINT) AS lm_ppm
           FROM scored GROUP BY doc_id)
         SELECT d.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams, p.lm_ppm
         FROM documents d LEFT JOIN per_doc p USING (doc_id)"""),

    QuerySpec("text_lm_backoff", (s, d) => {
      // trigram stupid backoff scored against a HELD-OUT model (even
      // doc_ids train, everything scores) so unseen trigrams genuinely
      // fall through to the bigram/unigram tiers — the CCNet-style
      // reference-model posture. Integer per-million scores keep the
      // arithmetic engine-exact.
      val docs = t(s, d, "documents")
      operators.Text.lmBackoffScore(docs,
        docs.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"))
    },
      """WITH toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
           FROM documents),
         tri AS (
           SELECT doc_id, t[CAST(u.i AS INT)] AS w1, t[CAST(u.i AS INT) + 1] AS w2,
             t[CAST(u.i AS INT) + 2] AS w3
           FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)),
         doc_tri AS (
           SELECT doc_id, w1, w2, w3, count(*) AS k FROM tri GROUP BY 1, 2, 3, 4),
         mtoks AS (SELECT t FROM toks WHERE doc_id % 2 = 0),
         mtri AS (
           SELECT t[CAST(u.i AS INT)] AS w1, t[CAST(u.i AS INT) + 1] AS w2,
             t[CAST(u.i AS INT) + 2] AS w3, count(*) AS c3
           FROM mtoks, unnest(generate_series(1, len(t) - 2)) AS u(i)
           GROUP BY 1, 2, 3),
         mbi AS (
           SELECT t[CAST(u.i AS INT)] AS w1, t[CAST(u.i AS INT) + 1] AS w2, count(*) AS c2
           FROM mtoks, unnest(generate_series(1, len(t) - 1)) AS u(i)
           GROUP BY 1, 2),
         mun AS (
           SELECT t[CAST(u.i AS INT)] AS w, count(*) AS c1
           FROM mtoks, unnest(generate_series(1, len(t))) AS u(i)
           GROUP BY 1),
         n AS (SELECT sum(c1) AS n FROM mun),
         scored AS (
           SELECT doc_id, k,
             CASE WHEN mtri.c3 IS NOT NULL
                    THEN floor(mtri.c3 * 1000000.0 / ctx.c2)
                  WHEN bok.c2 IS NOT NULL
                    THEN floor(bok.c2 * 400000.0 / u2.c1)
                  ELSE floor(coalesce(u3.c1, 0) * 160000.0 / n.n) END AS s
           FROM doc_tri
           LEFT JOIN mtri USING (w1, w2, w3)
           LEFT JOIN mbi ctx ON doc_tri.w1 = ctx.w1 AND doc_tri.w2 = ctx.w2
           LEFT JOIN mbi bok ON doc_tri.w2 = bok.w1 AND doc_tri.w3 = bok.w2
           LEFT JOIN mun u2 ON doc_tri.w2 = u2.w
           LEFT JOIN mun u3 ON doc_tri.w3 = u3.w
           CROSS JOIN n),
         per_doc AS (
           SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_trigrams,
             CAST(floor(sum(s * k) / sum(k)) AS BIGINT) AS bk_ppm
           FROM scored GROUP BY doc_id)
         SELECT d.doc_id, coalesce(p.n_trigrams, 0) AS n_trigrams, p.bk_ppm
         FROM documents d LEFT JOIN per_doc p USING (doc_id)"""),

    QuerySpec("text_gopher_filter", (s, d) =>
      // the published MassiveText document gate (Rae et al. 2021 A1.1) with
      // per-rule metrics — scan-local, every ratio an exact ppm integer.
      // minStopTypes tuned to 1 for the synthetic corpus (its vocabulary
      // holds one Gopher stopword), so the gate VARIES and the oracle
      // exercises both branches of every rule conjunction
      operators.Text.gopherQuality(t(s, d, "documents"), col("text"),
          minStopTypes = 1L)
        .select("doc_id", "n_words", "mean_word_len_ppm", "symbol_ppm",
          "alpha_word_ppm", "stop_types", "keep"),
      """WITH m AS (SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
           length(regexp_replace(text, '\s', '', 'g')) AS nsp_chars,
           length(text) - length(replace(text, '#', '')) AS n_hash,
           (length(text) - length(replace(text, '...', ''))) // 3 AS n_ellipsis,
           CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
           CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
             w -> list_contains(regexp_split_to_array(trim(text), '\s+'), w))) AS BIGINT) AS stop_types
         FROM documents)
         SELECT doc_id, n_words,
           CAST(floor(nsp_chars * 1000000.0 / n_words) AS BIGINT) AS mean_word_len_ppm,
           CAST(floor((n_hash + n_ellipsis) * 1000000.0 / n_words) AS BIGINT) AS symbol_ppm,
           CAST(floor(n_alpha_words * 1000000.0 / n_words) AS BIGINT) AS alpha_word_ppm,
           stop_types,
           (n_words BETWEEN 50 AND 100000
             AND floor(nsp_chars * 1000000.0 / n_words) BETWEEN 3000000 AND 10000000
             AND floor((n_hash + n_ellipsis) * 1000000.0 / n_words) <= 100000
             AND floor(n_alpha_words * 1000000.0 / n_words) >= 800000
             AND stop_types >= 1) AS keep
         FROM m"""),

    QuerySpec("text_gopher_repetition", (s, d) => {
      // the other half of the published MassiveText gate (Rae et al. 2021
      // Table A1): repetition metrics. The corpus is single-line, so the
      // query synthesizes a paragraph/line structure first — doc_id%5
      // plants an exactly-duplicated paragraph (which also floods the
      // dup-{5..10}-gram mass), doc_id%4 a duplicated line; everything
      // else exercises the natural n-gram repetition of the small-vocab
      // corpus. All 13 metrics + the Table A1 keep verdict, one scan pass.
      val txt = col("text")
      val page = concat_ws("\n\n",
        substring(txt, 1, 80),
        when(col("doc_id") % 5 === 0, substring(txt, 1, 80))
          .otherwise(substring(txt, 81, 80)),
        concat_ws("\n", substring(txt, 161, 40),
          when(col("doc_id") % 4 === 0, substring(txt, 161, 40))
            .otherwise(substring(txt, 201, 40))))
      operators.Text.gopherRepetition(
          t(s, d, "documents").select(col("doc_id"), page.as("page")),
          col("page"))
        .select("doc_id", "dup_line_ppm", "dup_line_char_ppm", "dup_para_ppm",
          "dup_para_char_ppm", "top_2gram_ppm", "top_3gram_ppm",
          "top_4gram_ppm", "dup_5gram_ppm", "dup_6gram_ppm", "dup_7gram_ppm",
          "dup_8gram_ppm", "dup_9gram_ppm", "dup_10gram_ppm", "keep")
    },
      """WITH pg AS MATERIALIZED (SELECT doc_id,
           concat_ws(chr(10)||chr(10),
             substr(text, 1, 80),
             CASE WHEN doc_id % 5 = 0 THEN substr(text, 1, 80)
                  ELSE substr(text, 81, 80) END,
             concat_ws(chr(10), substr(text, 161, 40),
               CASE WHEN doc_id % 4 = 0 THEN substr(text, 161, 40)
                    ELSE substr(text, 201, 40) END)) AS page
         FROM documents),
         base AS MATERIALIZED (SELECT doc_id, page,
           list_filter(string_split(page, chr(10)), l -> l <> '') AS lines,
           list_filter(string_split(page, chr(10)||chr(10)), p -> p <> '') AS paras,
           list_filter(regexp_split_to_array(page, '\s+'), t -> t <> '') AS w
         FROM pg),
         tokc AS MATERIALIZED (SELECT doc_id,
           COALESCE(list_sum(list_transform(w, t -> length(t))), 0) AS tc
         FROM base),
         lg AS MATERIALIZED (SELECT doc_id, u, count(*) AS c
                FROM (SELECT doc_id, unnest(lines) AS u FROM base) GROUP BY 1, 2),
         ls AS MATERIALIZED (SELECT doc_id, sum(c) AS n, sum(c*length(u)) AS nc,
                  sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dn,
                  sum(CASE WHEN c >= 2 THEN c*length(u) ELSE 0 END) AS dc
                FROM lg GROUP BY 1),
         pq AS MATERIALIZED (SELECT doc_id, u, count(*) AS c
                FROM (SELECT doc_id, unnest(paras) AS u FROM base) GROUP BY 1, 2),
         ps AS MATERIALIZED (SELECT doc_id, sum(c) AS n, sum(c*length(u)) AS nc,
                  sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dn,
                  sum(CASE WHEN c >= 2 THEN c*length(u) ELSE 0 END) AS dc
                FROM pq GROUP BY 1),
         c2 AS MATERIALIZED (SELECT doc_id, g, count(*) AS c, length(replace(g,' ','')) AS m
                FROM (SELECT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS g
                      FROM base WHERE len(w) >= 2) GROUP BY 1,2),
         t2 AS MATERIALIZED (SELECT doc_id, c*m AS mass FROM
                (SELECT doc_id, c, m, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM c2)
                WHERE rn = 1),
         c3 AS MATERIALIZED (SELECT doc_id, g, count(*) AS c, length(replace(g,' ','')) AS m
                FROM (SELECT doc_id, unnest([array_to_string(w[i:i+2],' ') for i in range(1, len(w)-1)]) AS g
                      FROM base WHERE len(w) >= 3) GROUP BY 1,2),
         t3 AS MATERIALIZED (SELECT doc_id, c*m AS mass FROM
                (SELECT doc_id, c, m, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM c3)
                WHERE rn = 1),
         c4 AS MATERIALIZED (SELECT doc_id, g, count(*) AS c, length(replace(g,' ','')) AS m
                FROM (SELECT doc_id, unnest([array_to_string(w[i:i+3],' ') for i in range(1, len(w)-2)]) AS g
                      FROM base WHERE len(w) >= 4) GROUP BY 1,2),
         t4 AS MATERIALIZED (SELECT doc_id, c*m AS mass FROM
                (SELECT doc_id, c, m, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM c4)
                WHERE rn = 1),
         d5 AS MATERIALIZED (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c*m ELSE 0 END) AS mass FROM
                (SELECT doc_id, g, count(*) AS c, length(replace(g,' ','')) AS m
                 FROM (SELECT doc_id, unnest([array_to_string(w[i:i+4],' ') for i in range(1, len(w)-3)]) AS g
                       FROM base WHERE len(w) >= 5) GROUP BY 1,2) GROUP BY 1),
         d6 AS MATERIALIZED (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c*m ELSE 0 END) AS mass FROM
                (SELECT doc_id, g, count(*) AS c, length(replace(g,' ','')) AS m
                 FROM (SELECT doc_id, unnest([array_to_string(w[i:i+5],' ') for i in range(1, len(w)-4)]) AS g
                       FROM base WHERE len(w) >= 6) GROUP BY 1,2) GROUP BY 1),
         d7 AS MATERIALIZED (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c*m ELSE 0 END) AS mass FROM
                (SELECT doc_id, g, count(*) AS c, length(replace(g,' ','')) AS m
                 FROM (SELECT doc_id, unnest([array_to_string(w[i:i+6],' ') for i in range(1, len(w)-5)]) AS g
                       FROM base WHERE len(w) >= 7) GROUP BY 1,2) GROUP BY 1),
         d8 AS MATERIALIZED (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c*m ELSE 0 END) AS mass FROM
                (SELECT doc_id, g, count(*) AS c, length(replace(g,' ','')) AS m
                 FROM (SELECT doc_id, unnest([array_to_string(w[i:i+7],' ') for i in range(1, len(w)-6)]) AS g
                       FROM base WHERE len(w) >= 8) GROUP BY 1,2) GROUP BY 1),
         d9 AS MATERIALIZED (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c*m ELSE 0 END) AS mass FROM
                (SELECT doc_id, g, count(*) AS c, length(replace(g,' ','')) AS m
                 FROM (SELECT doc_id, unnest([array_to_string(w[i:i+8],' ') for i in range(1, len(w)-7)]) AS g
                       FROM base WHERE len(w) >= 9) GROUP BY 1,2) GROUP BY 1),
         d10 AS MATERIALIZED (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c*m ELSE 0 END) AS mass FROM
                (SELECT doc_id, g, count(*) AS c, length(replace(g,' ','')) AS m
                 FROM (SELECT doc_id, unnest([array_to_string(w[i:i+9],' ') for i in range(1, len(w)-8)]) AS g
                       FROM base WHERE len(w) >= 10) GROUP BY 1,2) GROUP BY 1),
         met AS MATERIALIZED (SELECT b.doc_id,
           CAST(CASE WHEN COALESCE(ls.n,0) = 0 THEN 0 ELSE floor(ls.dn * 1000000.0 / ls.n) END AS BIGINT) AS dup_line_ppm,
           CAST(CASE WHEN COALESCE(ls.nc,0) = 0 THEN 0 ELSE floor(ls.dc * 1000000.0 / ls.nc) END AS BIGINT) AS dup_line_char_ppm,
           CAST(CASE WHEN COALESCE(ps.n,0) = 0 THEN 0 ELSE floor(ps.dn * 1000000.0 / ps.n) END AS BIGINT) AS dup_para_ppm,
           CAST(CASE WHEN COALESCE(ps.nc,0) = 0 THEN 0 ELSE floor(ps.dc * 1000000.0 / ps.nc) END AS BIGINT) AS dup_para_char_ppm,
           CAST(CASE WHEN tokc.tc = 0 THEN 0 ELSE floor(COALESCE(t2.mass,0) * 1000000.0 / tokc.tc) END AS BIGINT) AS top_2gram_ppm,
           CAST(CASE WHEN tokc.tc = 0 THEN 0 ELSE floor(COALESCE(t3.mass,0) * 1000000.0 / tokc.tc) END AS BIGINT) AS top_3gram_ppm,
           CAST(CASE WHEN tokc.tc = 0 THEN 0 ELSE floor(COALESCE(t4.mass,0) * 1000000.0 / tokc.tc) END AS BIGINT) AS top_4gram_ppm,
           CAST(CASE WHEN tokc.tc = 0 THEN 0 ELSE floor(COALESCE(d5.mass,0) * 1000000.0 / tokc.tc) END AS BIGINT) AS dup_5gram_ppm,
           CAST(CASE WHEN tokc.tc = 0 THEN 0 ELSE floor(COALESCE(d6.mass,0) * 1000000.0 / tokc.tc) END AS BIGINT) AS dup_6gram_ppm,
           CAST(CASE WHEN tokc.tc = 0 THEN 0 ELSE floor(COALESCE(d7.mass,0) * 1000000.0 / tokc.tc) END AS BIGINT) AS dup_7gram_ppm,
           CAST(CASE WHEN tokc.tc = 0 THEN 0 ELSE floor(COALESCE(d8.mass,0) * 1000000.0 / tokc.tc) END AS BIGINT) AS dup_8gram_ppm,
           CAST(CASE WHEN tokc.tc = 0 THEN 0 ELSE floor(COALESCE(d9.mass,0) * 1000000.0 / tokc.tc) END AS BIGINT) AS dup_9gram_ppm,
           CAST(CASE WHEN tokc.tc = 0 THEN 0 ELSE floor(COALESCE(d10.mass,0) * 1000000.0 / tokc.tc) END AS BIGINT) AS dup_10gram_ppm
         FROM base b
         LEFT JOIN tokc ON b.doc_id = tokc.doc_id
         LEFT JOIN ls ON b.doc_id = ls.doc_id
         LEFT JOIN ps ON b.doc_id = ps.doc_id
         LEFT JOIN t2 ON b.doc_id = t2.doc_id
         LEFT JOIN t3 ON b.doc_id = t3.doc_id
         LEFT JOIN t4 ON b.doc_id = t4.doc_id
         LEFT JOIN d5 ON b.doc_id = d5.doc_id
         LEFT JOIN d6 ON b.doc_id = d6.doc_id
         LEFT JOIN d7 ON b.doc_id = d7.doc_id
         LEFT JOIN d8 ON b.doc_id = d8.doc_id
         LEFT JOIN d9 ON b.doc_id = d9.doc_id
         LEFT JOIN d10 ON b.doc_id = d10.doc_id)
         SELECT doc_id, dup_line_ppm, dup_line_char_ppm, dup_para_ppm,
           dup_para_char_ppm, top_2gram_ppm, top_3gram_ppm, top_4gram_ppm,
           dup_5gram_ppm, dup_6gram_ppm, dup_7gram_ppm, dup_8gram_ppm,
           dup_9gram_ppm, dup_10gram_ppm,
           (dup_line_ppm <= 300000 AND dup_line_char_ppm <= 200000
            AND dup_para_ppm <= 300000 AND dup_para_char_ppm <= 200000
            AND top_2gram_ppm <= 200000 AND top_3gram_ppm <= 180000
            AND top_4gram_ppm <= 160000 AND dup_5gram_ppm <= 150000
            AND dup_6gram_ppm <= 140000 AND dup_7gram_ppm <= 130000
            AND dup_8gram_ppm <= 120000 AND dup_9gram_ppm <= 110000
            AND dup_10gram_ppm <= 100000) AS keep
         FROM met"""),

    QuerySpec("text_c4_clean", (s, d) => {
      // C4 line-level cleaning (Raffel et al. 2020 §2.2): line-ending
      // punctuation / min-words / javascript line rules, lorem-ipsum /
      // curly-brace / min-lines page rules. The synthetic corpus is
      // single-line, so the query first synthesizes a deterministic
      // multi-line page from each doc's bytes (same fixture-synthesis
      // discipline as dedup_url) — every rule then has both a passing and
      // a violating population: doc_id%3 plants a javascript line, %7 a
      // curly-brace page, %11 a lorem-ipsum page, and short docs starve
      // the later substrings into sub-minimum lines.
      val txt = col("text")
      val page = concat_ws("\n",
        concat(substring(txt, 1, 40), lit(".")),
        substring(txt, 41, 20),
        when(col("doc_id") % 3 === 0, lit("Requires JavaScript to render."))
          .otherwise(concat(substring(txt, 61, 50), lit("!"))),
        concat(substring(txt, 111, 60), lit("?")),
        when(col("doc_id") % 7 === 0, lit("layout { grid }"))
          .otherwise(concat(substring(txt, 171, 40), lit("."))),
        when(col("doc_id") % 11 === 0, lit("Lorem ipsum dolor sit amet."))
          .otherwise(concat(substring(txt, 211, 40), lit("."))))
      operators.Text.c4Clean(
          t(s, d, "documents").select(col("doc_id"), page.as("page")),
          col("page"), minLinesPerDoc = 3)
        .select("doc_id", "cleaned_text", "n_lines", "keep")
    },
      """WITH pg AS (SELECT doc_id,
           concat_ws(chr(10),
             substr(text, 1, 40) || '.',
             substr(text, 41, 20),
             CASE WHEN doc_id % 3 = 0 THEN 'Requires JavaScript to render.'
                  ELSE substr(text, 61, 50) || '!' END,
             substr(text, 111, 60) || '?',
             CASE WHEN doc_id % 7 = 0 THEN 'layout { grid }'
                  ELSE substr(text, 171, 40) || '.' END,
             CASE WHEN doc_id % 11 = 0 THEN 'Lorem ipsum dolor sit amet.'
                  ELSE substr(text, 211, 40) || '.' END) AS page
         FROM documents),
         k AS (SELECT doc_id, page,
           list_filter(string_split(page, chr(10)), l ->
             regexp_matches(rtrim(l), '[.!?"]$')
             AND len(regexp_split_to_array(trim(l), '\s+')) >= 3
             AND NOT contains(lower(l), 'javascript')) AS kept
         FROM pg)
         SELECT doc_id,
           array_to_string(kept, chr(10)) AS cleaned_text,
           CAST(len(kept) AS BIGINT) AS n_lines,
           (len(kept) >= 3 AND NOT contains(lower(page), 'lorem ipsum')
             AND NOT contains(page, '{')) AS keep
         FROM k"""),

    QuerySpec("dedup_fuzzy_join", (s, d) =>
      // fuzzy self-join at edit distance <= 1: SymSpell deletion-
      // neighborhood blocking (equi-join on O(len) variant keys per row)
      // + exact levenshtein post-filter — output identical to the
      // all-pairs form the oracle computes, without the n^2 shuffle.
      graft.operators.Dedup.editDistance1Pairs(
          t(s, d, "customer"), col("c_custkey"), col("c_name"))
        .select(col("id_a"), col("id_b")),
      // blocking never changes the answer — the oracle is the all-pairs filter
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
         FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 1""",
      cap = Some(Cap("id_a", 19))),

    QuerySpec("dedup_jaccard_join", (s, d) =>
      // EXACT trigram-shingle Jaccard self-join at θ = 0.8 — the
      // exact-recall counterpart to dedup_minhash_lsh's banding (same set
      // definition, same threshold, independent algorithm family):
      // AllPairs/PPJoin prefix filtering — rare-shingle-first global
      // order, only the first len − ⌈θ·len⌉ + 1 shingles of a set are
      // join keys (soundness in the operator scaladoc: every qualifying
      // pair collides — exact recall by pigeonhole, not by band config),
      // size prefilter, exact array_intersect verify. Shingles, not
      // words: the corpus' 31-word vocabulary makes word sets
      // unfilterable (measured 44.7M candidates); trigrams spread to a
      // 27k vocabulary → 300k candidates for 256 true pairs. The
      // quadratic form exists only as the oracle. Integer-ppm surface.
      // Elements are 64-bit SPAN HASHES from the native codegen'd
      // PosSpanHashExpr (one pass; the interpreted shingle lambda costs
      // 6.6 s at sf0.1 on its own and re-runs per consumer) — the same
      // exactness trade dedup_containment makes: a cross-shingle hash
      // collision is ~n²/2⁶⁴ per doc, and the oracle's string-set algebra
      // verifies the counts end-to-end. Tokens materialize behind a
      // projection BEFORE hashing (Dedup.shingles scaladoc trap).
      graft.operators.Dedup.jaccardJoin(
        t(s, d, "documents").select(col("doc_id"),
          split(graft.operators.Text.normalized(col("text")), " ").as("__toks")),
        col("doc_id"),
        array_distinct(graft.operators.Dedup.spanHashes(col("__toks"), 3)),
        thresholdPpm = 800000L),
      """WITH docs AS (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         sh AS (SELECT doc_id, list_distinct(
           [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
         FROM docs),
         tok AS (SELECT doc_id, unnest(s) AS tk FROM sh WHERE len(s) > 0),
         sz AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
           FROM tok a JOIN tok b ON a.tk = b.tk AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         j AS (SELECT a_id, b_id, i, sa.len + sb.len - i AS u
           FROM pairs JOIN sz sa ON sa.doc_id = a_id
           JOIN sz sb ON sb.doc_id = b_id)
         SELECT a_id, b_id, CAST(i AS BIGINT) AS n_common,
           CAST(u AS BIGINT) AS n_union,
           CAST((i * 1000000) // u AS BIGINT) AS jaccard_ppm
         FROM j WHERE (i * 1000000) // u >= 800000"""),

    QuerySpec("dedup_url", (s, d) => {
      // crawl-level URL dedup: canonicalize (scheme/fragment/www/default
      // port/utm stripping, host lowercasing), then exact-group on the
      // canonical key. URLs are synthesized from doc_id in four variant
      // shapes that canonicalize into collision groups, so the
      // normalization rules themselves are what the oracle gates.
      val page = (col("doc_id") % 200).cast("string")
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("https://www.example.com/page/"), page))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://example.com/page/"), page, lit("/")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://EXAMPLE.com:443/page/"), page, lit("?utm_source=feed")))
        .otherwise(
          concat(lit("https://example.com/page/"), page,
            lit("?id="), page, lit("&utm_campaign=x#frag")))
      val withCanon = t(s, d, "documents")
        .select(col("doc_id"), operators.Text.canonicalizeUrl(url).as("canonical_url"))
      // exact dedup on the canonical key: map-side-combined groupBy (the
      // canonical URL space is ~unique per page — no skew), broadcast-back
      val stats = withCanon.groupBy("canonical_url")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      withCanon.join(stats, Seq("canonical_url"))
        .select(col("doc_id"), col("canonical_url"), col("n_dups"),
          (col("doc_id") === col("keep_id")).as("kept"))
    },
      """WITH u AS (SELECT doc_id,
           CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN 'https://www.example.com/page/' || CAST(doc_id % 200 AS VARCHAR)
             WHEN 1 THEN 'http://example.com/page/' || CAST(doc_id % 200 AS VARCHAR) || '/'
             WHEN 2 THEN 'https://EXAMPLE.com:443/page/' || CAST(doc_id % 200 AS VARCHAR) || '?utm_source=feed'
             ELSE 'https://example.com/page/' || CAST(doc_id % 200 AS VARCHAR)
                  || '?id=' || CAST(doc_id % 200 AS VARCHAR) || '&utm_campaign=x#frag'
           END AS url FROM documents),
         s1 AS (SELECT doc_id,
           regexp_replace(regexp_replace(url, '#.*$', ''), '(?i)^https?://', '') AS nu
         FROM u),
         hp AS (SELECT doc_id,
           regexp_replace(regexp_replace(
             lower(regexp_extract(nu, '^([^/?]*)', 1)), '^www\.', ''), ':(80|443)$', '') AS host,
           regexp_replace(nu, '^[^/?]*', '') AS rest FROM s1),
         q AS (SELECT doc_id, host,
           regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(rest, '&utm_[a-z0-9_]+=[^&]*', '', 'gi'),
             '\?utm_[a-z0-9_]+=[^&]*&', '?', 'i'),
             '\?utm_[a-z0-9_]+=[^&]*$', '', 'i'),
             '/$', '') AS path FROM hp),
         c AS (SELECT doc_id, host || path AS canonical_url FROM q),
         g AS (SELECT canonical_url, min(doc_id) AS keep_id, count(*) AS n_dups
               FROM c GROUP BY 1)
         SELECT c.doc_id, c.canonical_url, g.n_dups,
           c.doc_id = g.keep_id AS kept
         FROM c JOIN g USING (canonical_url)"""),

    QuerySpec("dedup_contamination", (s, d) => {
      // train/eval decontamination: flag TRAINING docs (odd doc_id) whose
      // 3-gram Jaccard against any EVAL doc (even doc_id) is ≥ 0.8 — the
      // contamination sweep a training pipeline runs against benchmark sets.
      // Runs over minhash-LSH candidates with exact-Jaccard verification —
      // the 100 TB path (linear scans + band-bucket joins, no all-pairs
      // product); the exact all-pairs oracle hash-matches because LSH recall
      // at J>=0.8 with 16x4 banding is ~1-4e-8 and verification is exact.
      val pairs = Dedup.minhashNearDupPairs(
        t(s, d, "documents"), col("doc_id"), col("text"),
        n = 3, numHashes = 64, bands = 16, thresholdPpm = 800000L)
      pairs.withColumn("train_id",
          when(col("a_id") % 2 =!= 0 && col("b_id") % 2 === 0, col("a_id"))
            .when(col("b_id") % 2 =!= 0 && col("a_id") % 2 === 0, col("b_id")))
        .filter(col("train_id").isNotNull)
        .select(col("train_id").as("doc_id")).distinct()
    },
      """WITH docs AS (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         sh AS (SELECT doc_id, list_distinct(
           [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
         FROM docs),
         p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(floor(len(list_intersect(a.s, b.s)) * 1000000.0 / len(list_distinct(a.s || b.s))) AS BIGINT) >= 800000)
         SELECT DISTINCT
           CASE WHEN a_id % 2 <> 0 AND b_id % 2 = 0 THEN a_id
                WHEN b_id % 2 <> 0 AND a_id % 2 = 0 THEN b_id END AS doc_id
         FROM p
         WHERE (a_id % 2 <> 0 AND b_id % 2 = 0) OR (b_id % 2 <> 0 AND a_id % 2 = 0)"""),

    QuerySpec("text_length_hist", (s, d) =>
      t(s, d, "documents")
        .groupBy((floor(col("n_chars") / 50) * 50).cast("long").as("bucket"))
        .agg(count(lit(1)).as("cnt")),
      """SELECT CAST((n_chars // 50) * 50 AS BIGINT) AS bucket, count(*) AS cnt
         FROM documents GROUP BY 1""")
  )
}
