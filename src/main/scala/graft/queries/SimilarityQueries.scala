package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.{fixture, t}
import graft.operators.{Dedup, Pq, Similarity, Sq, Text}

/** Similarity search: one [[QuerySpec]] per query. */
private[graft] object SimilarityQueries {

  /** Full-form MMR oracle: the greedy λ=0.3 / k=10 selection over the
    * 20-candidate brute shortlist, UNROLLED as ten chained CTE steps (the
    * iteration count is a fixed query parameter, so the "iterative ⇒ not
    * SQL" objection dissolves — each step is one windowed argmax). Engine
    * determinism: every cosine is rounded at 6 digits on BOTH sides
    * ([[graft.functions.MmrSelectExpr]] applies the identical rounding),
    * and the λ / (1−λ) factors are embedded as exact double literals via
    * Double.toString round-trip, so the objective arithmetic is
    * bit-identical IEEE in both engines and ties break on vec_id. */
  private val mmrOracleSql: String = {
    val lam = java.lang.Double.toString(0.3)
    val oneMinus = java.lang.Double.toString(1.0 - 0.3)
    // each step appends the argmax candidate — and carries a query whose
    // shortlist is exhausted (fewer candidates than steps) through with its
    // selection unchanged, so the oracle keeps partial selections exactly
    // like the engine instead of dropping the query from every later CTE
    def step(i: Int): String = s""",
       s$i AS MATERIALIZED (
         SELECT query_id, list_append(sel, vec_id) AS sel FROM (
           SELECT sh.query_id, prev.sel, sh.vec_id,
             CAST($lam AS DOUBLE) * sh.rel - CAST($oneMinus AS DOUBLE) *
               greatest(CAST(0 AS DOUBLE),
                 coalesce(max(CASE WHEN list_contains(prev.sel, p.b) THEN p.sim END),
                   CAST(0 AS DOUBLE))) AS obj
           FROM s${i - 1} prev
           JOIN short sh ON sh.query_id = prev.query_id
             AND NOT list_contains(prev.sel, sh.vec_id)
           LEFT JOIN pair p ON p.query_id = sh.query_id AND p.a = sh.vec_id
           GROUP BY sh.query_id, prev.sel, sh.vec_id, sh.rel)
         QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY obj DESC, vec_id) = 1
         UNION ALL
         SELECT prev.query_id, prev.sel FROM s${i - 1} prev
         WHERE NOT EXISTS (SELECT 1 FROM short sh
           WHERE sh.query_id = prev.query_id
             AND NOT list_contains(prev.sel, sh.vec_id)))"""
    """WITH c AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5),
       short AS MATERIALIZED (
         SELECT query_id, vec_id, v,
           round(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS rel
         FROM c, q WHERE vec_id <> query_id
         QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) <= 20),
       pair AS MATERIALIZED (
         SELECT s1.query_id, s1.vec_id AS a, s2.vec_id AS b,
           round(list_dot_product(s1.v, s2.v)
             / (sqrt(list_dot_product(s1.v, s1.v)) * sqrt(list_dot_product(s2.v, s2.v))), 6) AS sim
         FROM short s1 JOIN short s2
           ON s1.query_id = s2.query_id AND s1.vec_id <> s2.vec_id),
       s1 AS MATERIALIZED (SELECT query_id, [vec_id] AS sel FROM short
         QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) = 1)""" +
      (2 to 10).map(step).mkString + """
       SELECT query_id, CAST(r AS INT) AS "rank", sel[CAST(r AS INT)] AS vec_id
       FROM s10, unnest(generate_series(1, len(sel))) AS t(r)"""
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_brute_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(
        emb, col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"), 10)
    },
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5)
         SELECT query_id, vec_id,
           round(list_dot_product(cv, qv)
             / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
         FROM c, q WHERE vec_id <> query_id
         QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) <= 10"""),

    QuerySpec("sim_knn_graph", (s, d) => {
      // mutual-kNN graph over the embedding corpus (k=5): the undirected
      // edge list that kNN-graph clustering / agglomerative curation
      // consumes — directed top-k via the bounded partial aggregate, then
      // a semi-join mutuality filter (hub edges don't reciprocate)
      val emb = t(s, d, "embeddings")
      Similarity.knnGraph(emb, col("vec_id"), col("embedding"), 5)
    },
      // the directed top-k CTE matches sim_brute_topk's discipline (rounded
      // cosine, id tie-break); mutual = the reverse edge exists in the SAME
      // top-k relation
      """WITH c AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         tk AS MATERIALIZED (SELECT a.vec_id AS qid, b.vec_id AS cid,
             round(list_dot_product(a.cv, b.cv)
               / (sqrt(list_dot_product(a.cv, a.cv)) * sqrt(list_dot_product(b.cv, b.cv))), 6) AS cos_sim
           FROM c a JOIN c b ON a.vec_id <> b.vec_id
           QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) <= 5)
         SELECT t.qid AS a_id, t.cid AS b_id, t.cos_sim
         FROM tk t JOIN tk r ON r.qid = t.cid AND r.cid = t.qid
         WHERE t.qid < t.cid"""),

    QuerySpec("sim_knn_components", (s, d) => {
      // embedding clusters = connected components of the mutual-kNN graph
      // (the graph-clustering composition: knnGraph edges feed the same
      // star-contraction kernel as q_components/dedup_resolve; isolated
      // vectors — no reciprocated neighbor — stay out by construction).
      // k=3: tighter mutuality so the census is non-degenerate (10
      // components at sf0.01 vs one giant component at k=5)
      val emb = t(s, d, "embeddings")
      val edges = Similarity.knnGraph(emb, col("vec_id"), col("embedding"), 3)
        .select(col("a_id"), col("b_id"))
      graft.operators.Dedup.resolveCanonicalStars(edges)
        .groupBy(col("canonical_id").as("component_id"))
        .agg(count(lit(1)).as("n_vectors"))
    },
      // mutual-kNN edges (the sim_knn_graph CTE verbatim) closed into
      // components by recursive reachability — same recompute shape as
      // q_components' oracle
      """WITH RECURSIVE c AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         tk AS MATERIALIZED (SELECT a.vec_id AS qid, b.vec_id AS cid,
             round(list_dot_product(a.cv, b.cv)
               / (sqrt(list_dot_product(a.cv, a.cv)) * sqrt(list_dot_product(b.cv, b.cv))), 6) AS cos_sim
           FROM c a JOIN c b ON a.vec_id <> b.vec_id
           QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) <= 3),
         e0 AS MATERIALIZED (SELECT t.qid AS a, t.cid AS b FROM tk t
           JOIN tk r ON r.qid = t.cid AND r.cid = t.qid WHERE t.qid < t.cid),
         ed AS MATERIALIZED (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         nodes AS MATERIALIZED (SELECT DISTINCT a AS v FROM ed),
         reach(v, l) AS MATERIALIZED (
           SELECT v, v AS l FROM nodes
           UNION
           SELECT e.b AS v, reach.l FROM reach JOIN ed e ON e.a = reach.v),
         comp AS MATERIALIZED (SELECT v, min(l) AS component_id FROM reach GROUP BY v)
         SELECT component_id, count(*) AS n_vectors
         FROM comp GROUP BY component_id"""),

    QuerySpec("sim_knn_graph_ivf", (s, d) => {
      // the single-probe SCALE path of sim_knn_graph: mutual top-k
      // restricted to IVF cells (equi-join on the nearest-centroid id —
      // Σ cell² scoring, no corpus broadcast). Codebook size DERIVED as
      // c ~ sqrt(n) via the deterministic strided seed rule (the _mp
      // recipe at p=1) — the r10 ×10 artifact measured the old fixed-8
      // gate at 76× (Σcell² = n²/8); with per-cell size ~sqrt(n) the
      // scoring volume is n^1.5 at any corpus size. The oracle replays
      // the exact derived configuration in SQL.
      val emb = t(s, d, "embeddings")
      val n = emb.count()
      val c = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong)
      val stride = math.max(1L, n / c)
      val centroids = emb.filter(col("vec_id") % stride === 0)
        .select(col("vec_id").as("centroid_id"),
          Similarity.asDouble(col("embedding")).as("cvec"))
      Similarity.knnGraphIvf(emb, col("vec_id"), col("embedding"),
        centroids, 5)
    },
      // sim_ann_ivf's assignment CTE feeding sim_knn_graph's top-k/mutual
      // CTEs, with the candidate join restricted to same-cell pairs and the
      // codebook derived c ~ sqrt(n) via the strided seed rule (p=1 form
      // of sim_knn_graph_ivf_mp)
      """WITH prm AS MATERIALIZED (SELECT greatest(1, count(*) // greatest(1,
             CAST(floor(sqrt(count(*))) AS BIGINT))) AS stride FROM embeddings),
         c AS MATERIALIZED (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
                    FROM embeddings, prm WHERE vec_id % stride = 0),
         v AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         asg AS MATERIALIZED (SELECT vec_id, centroid_id, vv FROM v, c
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY
             round(list_dot_product(vv, cv)
               / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))), 6) DESC,
             centroid_id) = 1),
         tk AS MATERIALIZED (SELECT a.vec_id AS qid, b.vec_id AS cid,
             round(list_dot_product(a.vv, b.vv)
               / (sqrt(list_dot_product(a.vv, a.vv)) * sqrt(list_dot_product(b.vv, b.vv))), 6) AS cos_sim
           FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id
             AND a.vec_id <> b.vec_id
           QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) <= 5)
         SELECT t.qid AS a_id, t.cid AS b_id, t.cos_sim
         FROM tk t JOIN tk r ON r.qid = t.cid AND r.cid = t.qid
         WHERE t.qid < t.cid"""),

    QuerySpec("sim_knn_graph_ivf_mp", (s, d) => {
      // the PRODUCTION configuration of the kNN-graph scale path: centroid
      // count DERIVED as ~sqrt(n) from the corpus count (one O(1) driver
      // scalar — the codebook is a plan literal either way, so the same
      // plan covers any n with per-cell size sqrt(n), scoring volume
      // p·n^1.5 instead of the fixed-codebook n²/c) and MULTIPROBE p = 3
      // (each vector queries its 3 nearest cells, recovering the
      // cross-cell edges the top-1 boundary hides; stored side keeps ONE
      // cell per vector, so no candidate pair duplicates). Deterministic
      // strided centroid rule (vec_id % stride = 0) so the oracle replays
      // the exact configuration. Recall at this (c, p) is spec-pinned in
      // DedupTextSpec: >= 95% in the clustered regime IVF exists for,
      // pool-bound on THIS corpus (top-k at the cosine noise floor, where
      // no quantizer is rank-selective — the standing PQ/LSH finding),
      // exact at p = c.
      val emb = t(s, d, "embeddings")
      val n = emb.count()
      val c = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong)
      val stride = math.max(1L, n / c)
      val centroids = emb.filter(col("vec_id") % stride === 0)
        .select(col("vec_id").as("centroid_id"),
          Similarity.asDouble(col("embedding")).as("cvec"))
      Similarity.knnGraphIvfMultiprobe(emb, col("vec_id"), col("embedding"),
        centroids, k = 5, probes = 3)
    },
      // the sqrt(n)-derived strided codebook + multiprobe-3 configuration:
      // stored side = top-1 cell (asg1), query side = top-3 cells (asgp) —
      // a pair appears once because the stored cell is unique; then the same
      // top-k/mutual CTEs as the exact form
      """WITH prm AS (SELECT greatest(1, count(*) // greatest(1,
             CAST(floor(sqrt(count(*))) AS BIGINT))) AS stride FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings, prm WHERE vec_id % stride = 0),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         sc AS (SELECT vec_id, centroid_id, vv,
             round(list_dot_product(vv, cv)
               / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))), 6) AS s
           FROM v, c),
         asg1 AS (SELECT vec_id, centroid_id, vv FROM sc
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) = 1),
         asgp AS (SELECT vec_id, centroid_id, vv FROM sc
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) <= 3),
         tk AS (SELECT q.vec_id AS qid, b.vec_id AS cid,
             round(list_dot_product(q.vv, b.vv)
               / (sqrt(list_dot_product(q.vv, q.vv)) * sqrt(list_dot_product(b.vv, b.vv))), 6) AS cos_sim
           FROM asgp q JOIN asg1 b ON q.centroid_id = b.centroid_id
             AND q.vec_id <> b.vec_id
           QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) <= 5)
         SELECT t.qid AS a_id, t.cid AS b_id, t.cos_sim
         FROM tk t JOIN tk r ON r.qid = t.cid AND r.cid = t.qid
         WHERE t.qid < t.cid"""),

    QuerySpec("sim_mrr_eval", (s, d) => {
      // Matryoshka truncation grading: does ranking by the first 8 dims
      // still surface the full-dim nearest neighbor? Per query: ground
      // truth rank in the prefix top-10 + reciprocal rank in ppm — the
      // eval harness costs one corpus scan (two bounded top-k aggs)
      val emb = t(s, d, "embeddings")
      graft.operators.Similarity.prefixMrrEval(
        emb, col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") < 50), col("vec_id"), col("embedding"),
        prefixDims = 8, k = 10)
    },
      // same rounded-cosine discipline as sim_brute_topk; ground truth =
      // full-dim top-1, system = first-8-dims ranking, both tie-broken by id
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 50),
         sc AS (SELECT qid, vec_id AS cid,
             round(list_dot_product(cv, qv)
               / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 6) AS fullc,
             round(list_dot_product(cv[1:8], qv[1:8])
               / (sqrt(list_dot_product(cv[1:8], cv[1:8])) * sqrt(list_dot_product(qv[1:8], qv[1:8]))), 6) AS pre
           FROM c, q WHERE vec_id <> qid),
         gt AS (SELECT qid, cid AS gt_id FROM sc
           QUALIFY row_number() OVER (PARTITION BY qid ORDER BY fullc DESC, cid) = 1),
         pr AS (SELECT qid, cid,
             row_number() OVER (PARTITION BY qid ORDER BY pre DESC, cid) AS rk
           FROM sc)
         SELECT g.qid AS query_id, g.gt_id,
           CAST(CASE WHEN p.rk <= 10 THEN p.rk ELSE 0 END AS BIGINT) AS prefix_rank,
           CAST(CASE WHEN p.rk <= 10 THEN 1000000 // p.rk ELSE 0 END AS BIGINT) AS rr_ppm
         FROM gt g JOIN pr p ON p.qid = g.qid AND p.cid = g.gt_id"""),

    QuerySpec("sim_range_search", (s, d) => {
      // radius search (cosine >= 0.2): the recall-complete complement of
      // top-k — scan-local filter, no per-query state, output-bound
      val emb = t(s, d, "embeddings")
      Similarity.rangeSearch(
        emb, col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"), 0.2)
    },
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5),
         sc AS (SELECT query_id, vec_id,
             round(list_dot_product(cv, qv)
               / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 6)
               AS cos_sim
           FROM c, q WHERE vec_id <> query_id)
         SELECT query_id, vec_id, cos_sim FROM sc WHERE cos_sim >= 0.2"""),

    QuerySpec("sim_hard_negatives", (s, d) => {
      // contrastive-training data prep: per anchor the 10 most-similar
      // DIFFERENT-label vectors — the boundary-hugging negatives DPR/ANCE
      // mine; the label inequality rides the JOIN (search space partitions
      // by "not my class" — no under-filled k when one class dominates),
      // selection through the bounded top-k aggregate
      val emb = t(s, d, "embeddings")
      Similarity.hardNegatives(
        emb, col("vec_id"), col("embedding"), col("label"),
        emb.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
        col("label"), k = 10)
    },
      // the complement predicate of sim_filtered_topk: label DISAGREES
      """WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         q AS (SELECT vec_id AS anchor_id, label AS qlabel,
               CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 20)
         SELECT anchor_id, vec_id AS negative_id,
           round(list_dot_product(cv, qv)
             / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
         FROM c, q WHERE vec_id <> anchor_id AND label <> qlabel
         QUALIFY row_number() OVER (PARTITION BY anchor_id ORDER BY cos_sim DESC, vec_id) <= 10"""),

    QuerySpec("sim_filtered_topk", (s, d) => {
      // filtered ANN: the metadata predicate (same label) is part of the
      // JOIN KEY, so the search space partitions by the attribute instead
      // of post-filtering a global shortlist (which under-fills k when the
      // filter is selective — the classic filtered-ANN failure mode)
      val emb = t(s, d, "embeddings")
      Similarity.filteredTopK(
        emb, col("vec_id"), col("embedding"), col("label"),
        emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
        col("label"), 10)
    },
      """WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         q AS (SELECT vec_id AS query_id, label AS qlabel,
               CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5)
         SELECT query_id, vec_id,
           round(list_dot_product(cv, qv)
             / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
         FROM c, q WHERE vec_id <> query_id AND label = qlabel
         QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) <= 10"""),

    QuerySpec("sim_mmr_rerank", (s, d) => {
      // MMR diversified re-rank (λ=0.3) of a 20-candidate brute shortlist:
      // the greedy argmax loop is ONE scan-local expression over the
      // per-query candidate array. ORACLE-GATED since r7: k is a fixed
      // query parameter, so the loop unrolls to ten chained windowed
      // argmax CTEs (mmrOracleSql); every cosine rounds at 6 digits on
      // both sides so the objective arithmetic is bit-identical IEEE.
      // MmrSpec additionally pins relevance-vs-diversity goldens.
      val emb = t(s, d, "embeddings")
      val short = Similarity.bruteForceTopK(
        emb, col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"), 20)
      val withVec = short.join(
        emb.select(col("vec_id"), Similarity.asDouble(col("embedding")).as("cv")),
        Seq("vec_id"))
      val cands = withVec.groupBy("query_id")
        .agg(collect_list(struct(col("vec_id").as("id"), col("cv").as("vec"))).as("cands"))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          Similarity.asDouble(col("embedding")).as("qv"))
      Similarity.mmrRerank(cands.join(broadcast(q), "query_id"),
        "query_id", "qv", "cands", lambda = 0.3, k = 10)
    },
      mmrOracleSql),

    QuerySpec("sim_maxsim", (s, d) => {
      // late-interaction retrieval: multi-vector MaxSim scoring (each doc
      // embedding sliced into 4 token sub-vectors), top-10 per query — the
      // 16-cosine interaction matrix is one scan-local nested-HOF
      // projection, shortlist via the bounded top-k aggregate
      val emb = t(s, d, "embeddings")
      Similarity.maxSimTopK(
        emb, col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
        numTokens = 4, k = 10)
    },
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ch AS (SELECT vec_id, [v[1:16], v[17:32], v[33:48], v[49:64]] AS cs FROM c),
         q AS (SELECT vec_id AS query_id, cs AS qcs FROM ch WHERE vec_id < 5),
         tok AS (
           SELECT q.query_id, d.vec_id, g1.qi,
             round(max(list_dot_product(q.qcs[g1.qi], d.cs[g2.dj])
               / (sqrt(list_dot_product(q.qcs[g1.qi], q.qcs[g1.qi]))
                  * sqrt(list_dot_product(d.cs[g2.dj], d.cs[g2.dj])))), 6) AS mx
           FROM q, ch d, generate_series(1, 4) AS g1(qi), generate_series(1, 4) AS g2(dj)
           WHERE d.vec_id <> q.query_id
           GROUP BY q.query_id, d.vec_id, g1.qi),
         s AS (SELECT query_id, vec_id, round(sum(mx), 6) AS maxsim
               FROM tok GROUP BY query_id, vec_id)
         SELECT query_id, vec_id, maxsim FROM s
         QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY maxsim DESC, vec_id) <= 10"""),

    QuerySpec("sim_mips_topk", (s, d) => {
      // max-inner-product retrieval through the norm-augmentation
      // reduction — MIPS rides the cosine stack (see Similarity.mipsTopK)
      val emb = t(s, d, "embeddings")
      Similarity.mipsTopK(emb, col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"), 10)
    },
      """WITH c0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         m AS (SELECT max(list_dot_product(v, v)) AS m2 FROM c0),
         c AS (SELECT vec_id,
             list_append(v, sqrt(greatest(m2 - list_dot_product(v, v), CAST(0 AS DOUBLE)))) AS va
           FROM c0 CROSS JOIN m),
         q AS (SELECT vec_id AS query_id, list_append(v, CAST(0 AS DOUBLE)) AS qa
           FROM c0 WHERE vec_id < 5)
         SELECT query_id, vec_id,
           round(list_dot_product(va, qa)
             / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(qa, qa))), 6) AS cos_sim
         FROM c, q WHERE vec_id <> query_id
         QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) <= 10"""),

    QuerySpec("sim_hybrid_rrf", (s, d) => {
      // hybrid retrieval: reciprocal-rank fusion (Cormack & Clarke SIGIR
      // '09) of the BM25 text leg and the dense cosine leg — the standard
      // way production search merges lexical and vector rankings without
      // score calibration. Both legs are k-bounded before the fuse, so the
      // fusion join touches <=2k rows regardless of corpus size.
      import org.apache.spark.sql.expressions.Window
      val qTerms = Seq("stream", "hash", "vector")
      val toks = t(s, d, "documents")
        .select(col("doc_id"), split(operators.Text.normalized(col("text")), " ").as("toks"))
      val stats = toks.agg(count(lit(1)).as("n_docs"), avg(size(col("toks"))).as("avgdl"))
      val tf = toks
        .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
        .filter(col("term").isin(qTerms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val bmTop = tf.join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
        .withColumn("bm25_ppm", floor(lit(1000000.0d) *
          (log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
            (col("tf") * lit(2.2d)) /
            (col("tf") + lit(1.2d) * (lit(1.0d) - lit(0.75d)
              + lit(0.75d) * col("dl") / col("avgdl"))))).cast("long"))
        .groupBy("doc_id").agg(sum(col("bm25_ppm")).as("bm"))
        .orderBy(col("bm").desc, col("doc_id")).limit(20)
      val tRank = bmTop.withColumn("rank_t",
        row_number().over(Window.orderBy(col("bm").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank_t"))
      val emb = t(s, d, "embeddings")
      val vRank = graft.operators.Similarity.bruteForceTopK(
          emb, col("vec_id"), col("embedding"),
          emb.filter(col("vec_id") === 0), col("vec_id"), col("embedding"), 20)
        .withColumn("rank_v",
          row_number().over(Window.orderBy(col("cos_sim").desc, col("vec_id"))))
        .select(col("vec_id").as("doc_id"), col("rank_v"))
      tRank.join(vRank, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0d) / (lit(60) + col("rank_t")), lit(0.0d)) +
            coalesce(lit(1.0d) / (lit(60) + col("rank_v")), lit(0.0d)), 9))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
        .select(col("doc_id"), col("rrf"))
    },
      """WITH toks AS (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
         FROM documents),
         stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM toks),
         tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM (
             SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks) u
           WHERE term IN ('stream','hash','vector') GROUP BY doc_id, term),
         dd AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         sc AS (SELECT doc_id,
             CAST(floor(1000000.0 *
               (ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2)
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))) AS BIGINT) AS bm25_ppm
           FROM tf JOIN dd USING (term) CROSS JOIN stats),
         bmtop AS (SELECT doc_id, CAST(sum(bm25_ppm) AS BIGINT) AS bm
           FROM sc GROUP BY doc_id ORDER BY bm DESC, doc_id LIMIT 20),
         tr AS (SELECT doc_id,
             row_number() OVER (ORDER BY bm DESC, doc_id) AS rank_t FROM bmtop),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT v AS qv FROM c WHERE vec_id = 0),
         vt AS (SELECT vec_id,
             round(list_dot_product(v, qv)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
           FROM c, q WHERE vec_id <> 0
           ORDER BY cos_sim DESC, vec_id LIMIT 20),
         vr AS (SELECT vec_id AS doc_id,
             row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank_v FROM vt)
         SELECT doc_id,
           round(coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_t), 0)
             + coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_v), 0), 9) AS rrf
         FROM tr FULL OUTER JOIN vr USING (doc_id)
         ORDER BY rrf DESC, doc_id LIMIT 10"""),

    QuerySpec("sim_ann_ivf", (s, d) => {
      val emb = t(s, d, "embeddings")
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"),
          Similarity.asDouble(col("embedding")).as("cvec"))
      Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), centroids)
        .select("vec_id", "centroid_id")
    },
      """WITH c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
                    FROM embeddings WHERE vec_id < 8),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings)
         SELECT vec_id, centroid_id FROM v, c
         QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY
           round(list_dot_product(vv, cv)
             / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))), 6) DESC,
           centroid_id) = 1"""),

    QuerySpec("sim_recall_eval", (s, d) => {
      // the ann-benchmarks measurement as a first-class operator: recall@10
      // of the shortlist-limited PQ/ADC search against the brute-force
      // ground truth, per query — the number that decides whether an ANN
      // config is usable. Deterministic end to end (seed codebook, ordered
      // ADC sums, id tie-breaks), so DuckDB reproduces the SAME approximate
      // search and the recall itself is hash-gated. shortlist=20 is
      // deliberately tight: recall must be measurable, not saturated at 1
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 30)
      val approx = Pq.adcTopK(emb, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"),
        m = 8, k = 16, shortlist = 20, finalK = 10)
      val brute = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), 10)
      val hits = approx.select("query_id", "vec_id")
        .join(brute.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("__hits"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("__hits"), lit(0L)).as("n_hits"),
          floor(coalesce(col("__hits"), lit(0L)).cast("double") * lit(1000000.0d) / 10)
            .cast("long").as("recall_ppm"))
    },
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn FROM v),
         u AS (SELECT vec_id,
                 CASE WHEN nn > 0 THEN list_transform(v, x -> x / nn) ELSE v END AS vn
               FROM n),
         seeds AS (SELECT vec_id, vn,
                     CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code_id
                   FROM u QUALIFY row_number() OVER (ORDER BY vec_id) <= 16),
         subids AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS sub_id),
         cb AS (SELECT s.sub_id, seeds.code_id,
                  seeds.vn[s.sub_id * 8 + 1 : s.sub_id * 8 + 8] AS cw
                FROM seeds, subids s),
         subs AS (SELECT u.vec_id, s.sub_id,
                    u.vn[s.sub_id * 8 + 1 : s.sub_id * 8 + 8] AS sv
                  FROM u, subids s),
         scored AS (SELECT vec_id, sub_id, code_id,
                      list_dot_product(sv, sv) - 2 * list_dot_product(sv, cw)
                        + list_dot_product(cw, cw) AS d2
                    FROM subs JOIN cb USING (sub_id)),
         codes AS (SELECT vec_id, sub_id, code_id AS code FROM scored
                   QUALIFY row_number() OVER (PARTITION BY vec_id, sub_id ORDER BY d2, code_id) = 1),
         q AS (SELECT vec_id AS query_id, vn AS qvn FROM u WHERE vec_id < 30),
         qsubs AS (SELECT query_id, s.sub_id,
                     qvn[s.sub_id * 8 + 1 : s.sub_id * 8 + 8] AS qs
                   FROM q, subids s),
         qt AS (SELECT query_id, sub_id, code_id, list_dot_product(qs, cw) AS e
                FROM qsubs JOIN cb USING (sub_id)),
         adc AS (SELECT t.query_id, c.vec_id,
                   list_sum(list(t.e ORDER BY t.sub_id)) AS adc
                 FROM codes c JOIN qt t ON t.sub_id = c.sub_id AND t.code_id = c.code
                 WHERE c.vec_id <> t.query_id
                 GROUP BY t.query_id, c.vec_id),
         short AS (SELECT query_id, vec_id FROM adc
                   QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) <= 20),
         rerank AS (SELECT s.query_id, s.vec_id,
                      round(list_dot_product(cv.v, qv.v)
                        / (sqrt(list_dot_product(cv.v, cv.v)) * sqrt(list_dot_product(qv.v, qv.v))), 6) AS cos_sim
                    FROM short s JOIN v cv ON cv.vec_id = s.vec_id
                                 JOIN v qv ON qv.vec_id = s.query_id),
         approx AS (SELECT query_id, vec_id FROM rerank
                    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) <= 10),
         brute AS (SELECT qv.vec_id AS query_id, cv.vec_id,
                     round(list_dot_product(cv.v, qv.v)
                       / (sqrt(list_dot_product(cv.v, cv.v)) * sqrt(list_dot_product(qv.v, qv.v))), 6) AS cos_sim
                   FROM v cv, v qv WHERE qv.vec_id < 30 AND cv.vec_id <> qv.vec_id
                   QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cv.vec_id) <= 10),
         hits AS (SELECT a.query_id, count(*) AS h
                  FROM approx a JOIN brute b USING (query_id, vec_id)
                  GROUP BY a.query_id)
         SELECT q.query_id, CAST(coalesce(h, 0) AS BIGINT) AS n_hits,
           CAST(floor(coalesce(h, 0) * 1000000.0 / 10) AS BIGINT) AS recall_ppm
         FROM q LEFT JOIN hits USING (query_id)"""),

    QuerySpec("sim_ann_ivfadc", (s, d) => {
      // IVFADC end to end, ORACLE-GATED: the corpus embeddings sit at the
      // cosine noise floor where no quantizer is rank-selective, so the
      // flagship composition gets its hard gate on a deterministic
      // clustered fixture synthesized identically in both engines — one
      // vector per embeddings row (the fixture SCALES WITH THE DATASET, so
      // ScaleUp's ×10 measures the compressed-scan layout too), 8 one-hot
      // clusters (vec_id % 8) with 1/4-step jitter: every value is an
      // exact binary fraction derived from integers, so Spark and DuckDB
      // compute bit-identical cosines. Probes + shortlist are sized for
      // full recall on this geometry: clusters are 8.0-separated while
      // jitter (and thus PQ quantization error) is ≤1.0, so ADC ranks
      // every probed own-cluster candidate above all cross-cluster ones,
      // and a shortlist of n/4 (≥ 2× cluster size) keeps the whole own
      // cluster through the exact re-rank — the IVFADC output EQUALS the
      // brute-force top-5 the oracle computes at ANY n. Settings still
      // exercise the pruning path: 4 of 8 lists probed, shortlist half
      // the probed candidates.
      val emb = t(s, d, "embeddings")
      // fixture size = corpus size; a driver-side count of the id column,
      // not a data collect
      val n = emb.select(col("vec_id")).count()
      val vec = transform(sequence(lit(0), lit(7)), j =>
        when(j.cast("long") === col("i") % 8, lit(8.0)).otherwise(lit(0.0)) +
          ((col("i") * (j.cast("long") + 3)) % 5).cast("double") * lit(0.25))
      val corpus = emb.select(col("vec_id").as("i"))
        .select(col("i").as("vec_id"), vec.as("embedding"))
      val queries = corpus.filter(col("vec_id") < 20)
      Pq.ivfAdcTopK(corpus, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"),
        kClusters = 8, iters = 1, m = 4, kCodes = 16,
        nProbe = 4, shortlist = (n / 4).toInt.max(40), finalK = 5)
    },
      """WITH v AS (SELECT vec_id,
           [CASE WHEN j = vec_id % 8 THEN 8.0 ELSE 0.0 END
              + ((vec_id*(j+3)) % 5) * 0.25 for j in range(0, 8)] AS vec
         FROM embeddings),
         q AS (SELECT vec_id AS query_id, vec AS qv FROM v WHERE vec_id < 20),
         s AS (SELECT query_id, vec_id,
           round(list_dot_product(qv, vec)
             / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vec, vec))), 6) AS cos_sim
         FROM q, v WHERE vec_id <> query_id)
         SELECT query_id, vec_id, cos_sim FROM s
         QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) <= 5"""),

    QuerySpec("sim_ann_sq8", (s, d) => {
      // scalar quantization (FAISS SQ8): per-dim byte codes + asymmetric
      // compressed-domain scan + exact re-rank — the middle rung of the
      // compression ladder (Flat > SQ8 > PQ in fidelity, reverse in I/O).
      // Same clustered fixture as sim_ann_ivfadc (one vector per
      // embeddings row, so it scales with the dataset and ScaleUp measures
      // the compressed scan): clusters are 8.0-separated while jitter is
      // ≤1.0 and SQ8 quantization error is ≤ range/510 per dim, so the
      // asymmetric scores rank every own-cluster candidate above all
      // cross-cluster ones; shortlist n/4 (≥ 2× cluster size) keeps the
      // whole own cluster through the exact re-rank — the SQ8 output
      // EQUALS the brute-force top-5 the oracle computes at ANY n.
      val emb = t(s, d, "embeddings")
      val n = emb.select(col("vec_id")).count()
      val vec = transform(sequence(lit(0), lit(7)), j =>
        when(j.cast("long") === col("i") % 8, lit(8.0)).otherwise(lit(0.0)) +
          ((col("i") * (j.cast("long") + 3)) % 5).cast("double") * lit(0.25))
      val corpus = emb.select(col("vec_id").as("i"))
        .select(col("i").as("vec_id"), vec.as("embedding"))
      val queries = corpus.filter(col("vec_id") < 20)
      Sq.sq8TopK(corpus, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"),
        shortlist = (n / 4).toInt.max(40), finalK = 5)
    },
      // same clustered fixture and same brute-force ground truth as
      // sim_ann_ivfadc: the SQ8 compressed scan + exact re-rank provably
      // reproduces the exact top-5 on this geometry, so the oracle gates the
      // whole quantize→scan→re-rank path
      """WITH v AS (SELECT vec_id,
           [CASE WHEN j = vec_id % 8 THEN 8.0 ELSE 0.0 END
              + ((vec_id*(j+3)) % 5) * 0.25 for j in range(0, 8)] AS vec
         FROM embeddings),
         q AS (SELECT vec_id AS query_id, vec AS qv FROM v WHERE vec_id < 20),
         s AS (SELECT query_id, vec_id,
           round(list_dot_product(qv, vec)
             / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vec, vec))), 6) AS cos_sim
         FROM q, v WHERE vec_id <> query_id)
         SELECT query_id, vec_id, cos_sim FROM s
         QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) <= 5"""),

    QuerySpec("sim_ann_ivf_exact", (s, d) => {
      // honest IVF: distributed Lloyd's centroids, inverted lists with a
      // per-cluster pruning radius, triangle-inequality probe plan, exact
      // cosine verify — output provably equals the brute-force threshold
      // join for ANY centroid set, so the all-pairs oracle hash-matches
      // while the scan stays bucket-local.
      val emb = t(s, d, "embeddings")
      // trainFraction 0.5: the quantizer trains on a deterministic
      // hash-thinned half of the corpus (the 100 TB posture — FAISS trains
      // on a bounded sample); provably output-neutral here, so the
      // all-pairs oracle gates the sampled-training path too
      Similarity.ivfExactThreshold(
        emb, col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") < 100), col("vec_id"), col("embedding"),
        threshold = 0.35, k = 16, iters = 3, trainFraction = 0.5)
    },
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 100)
         SELECT query_id, vec_id,
           round(list_dot_product(qv, cv)
             / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim
         FROM c, q WHERE vec_id <> query_id
           AND round(list_dot_product(qv, cv)
             / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) >= 0.35"""),

    QuerySpec("sim_ann_ivf_stored", (s, d) => {
      // the STORED-index ANN lifecycle (the reference's build-once/
      // read-many philosophy applied to the ANN lane): v1 = index built
      // over the standing corpus and persisted as a versioned parquet
      // table; v2 = a new batch FOLDED in (batch-sized work — old members
      // are never re-encoded, radii grow to cover the newcomers); queries
      // run against the stored v2 cells. ivfSearch is exact for any
      // assignment, so the incremental index answers identically to a
      // full rebuild — the all-corpus brute-force oracle gates exactly
      // that claim.
      val emb = t(s, d, "embeddings")
      // build-once: k-means + v1 + the batch append -> stored v2; the
      // gated body times the read-many leg — search against stored v2
      val dir = fixture("ivf", d) { dir =>
        val base = emb.filter(col("vec_id") % 10 =!= 0)
        val batch = emb.filter(col("vec_id") % 10 === 0)
        val cts = Similarity.kmeansCentroids(base, col("vec_id"),
          col("embedding"), k = 16, iters = 3, trainFraction = 0.5)
        val (a1, c1) = Similarity.ivfClusterIndex(base, col("vec_id"),
          col("embedding"), cts)
        Similarity.writeIvfIndex(a1, c1, dir, version = 1L)
        val (sa1, sc1) = Similarity.readIvfIndex(s, dir, version = 1L)
        val (a2, c2) = Similarity.ivfAppend(sa1, sc1, batch,
          col("vec_id"), col("embedding"))
        Similarity.writeIvfIndex(a2, c2, dir, version = 2L)
      }
      val (sa2, sc2) = Similarity.readIvfIndex(s, dir, version = 2L)
      Similarity.ivfSearch(sa2, sc2,
        emb.filter(col("vec_id") < 100), col("vec_id"), col("embedding"),
        threshold = 0.35)
    },
      // identical contract to sim_ann_ivf_exact: the stored/incremental
      // index is output-equal to a full rebuild, and both equal the
      // brute-force threshold join over the whole corpus
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 100)
         SELECT query_id, vec_id,
           round(list_dot_product(qv, cv)
             / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim
         FROM c, q WHERE vec_id <> query_id
           AND round(list_dot_product(qv, cv)
             / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) >= 0.35"""),

    QuerySpec("sim_ann_ivf_cdc", (s, d) => {
      // CDC DELETEs folded into the stored IVF index: v1 = index over the
      // standing corpus, v2 = v1 minus a deleted-id batch (member anti-
      // join only — the cluster radii stay, deliberately: ivfSearch is
      // exact for any assignment and a stale-but-covering radius can only
      // add harmless probes). The gate: searching the maintained v2 must
      // equal a from-scratch rebuild over the SURVIVING corpus, which is
      // what the brute-force oracle computes. Idempotent under redelivery
      // (spec-pinned), like the guarded append.
      val emb = t(s, d, "embeddings")
      // build-once: k-means + v1; the gated body times the CDC contract —
      // delete-fold, v2 write, search
      val dir = fixture("ivfcdc", d) { dir =>
        val base = emb.filter(col("vec_id") % 10 =!= 0)
        val cts = Similarity.kmeansCentroids(base, col("vec_id"),
          col("embedding"), k = 16, iters = 3, trainFraction = 0.5)
        val (a1, c1) = Similarity.ivfClusterIndex(base, col("vec_id"),
          col("embedding"), cts)
        Similarity.writeIvfIndex(a1, c1, dir, version = 1L)
      }
      val (sa1, sc1) = Similarity.readIvfIndex(s, dir, version = 1L)
      val deleted = emb.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      val (a2, c2) = Similarity.ivfApplyDeletes(sa1, sc1, deleted, col("vec_id"))
      Similarity.writeIvfIndex(a2, c2, dir, version = 2L)
      val (sa2, sc2) = Similarity.readIvfIndex(s, dir, version = 2L)
      Similarity.ivfSearch(sa2, sc2,
        emb.filter(col("vec_id") < 100), col("vec_id"), col("embedding"),
        threshold = 0.35)
    },
      // the from-scratch REBUILD over the SURVIVING corpus: never-indexed
      // rows (vec_id % 10 = 0) and deleted rows (vec_id % 7 = 0) excluded
      // from the member side; queries unrestricted (a deleted row may still
      // ask — it just can't be FOUND)
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
               WHERE vec_id % 10 <> 0 AND vec_id % 7 <> 0),
         q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 100)
         SELECT query_id, vec_id,
           round(list_dot_product(qv, cv)
             / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim
         FROM c, q WHERE vec_id <> query_id
           AND round(list_dot_product(qv, cv)
             / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) >= 0.35"""),

    QuerySpec("sim_pq_encode", (s, d) => {
      // product quantization encode: 8×8-dim subspaces, 16 codewords from
      // the deterministic seed codebook — the compression step that lets a
      // 100 TB ANN scan read 8 ints per vector instead of 64 doubles. The
      // ADC search itself (Pq.adcTopK) is spec-verified on clustered data;
      // this corpus's top-k sits at the cosine noise floor (~0.24), where
      // no quantizer is rank-selective (same finding as hyperplane LSH at
      // threshold 0.4), so the oracle-checkable surface is the encoding.
      val emb = t(s, d, "embeddings")
      val cb = Pq.seedCodebook(emb, col("vec_id"), col("embedding"), m = 8, k = 16)
      Pq.encode(emb, col("vec_id"), col("embedding"), cb, m = 8)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub_id", "code")))
        .select(col("vec_id"), col("sub_id").cast("int").as("sub_id"),
          col("code").cast("int").as("code"))
    },
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn FROM v),
         u AS (SELECT vec_id,
                 CASE WHEN nn > 0 THEN list_transform(v, x -> x / nn) ELSE v END AS vn
               FROM n),
         seeds AS (SELECT vec_id, vn,
                     CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code_id
                   FROM u QUALIFY row_number() OVER (ORDER BY vec_id) <= 16),
         subids AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS sub_id),
         cb AS (SELECT s.sub_id, seeds.code_id,
                  seeds.vn[s.sub_id * 8 + 1 : s.sub_id * 8 + 8] AS cw
                FROM seeds, subids s),
         subs AS (SELECT u.vec_id, s.sub_id,
                    u.vn[s.sub_id * 8 + 1 : s.sub_id * 8 + 8] AS sv
                  FROM u, subids s),
         scored AS (SELECT vec_id, sub_id, code_id,
                      list_dot_product(sv, sv) - 2 * list_dot_product(sv, cw)
                        + list_dot_product(cw, cw) AS d2
                    FROM subs JOIN cb USING (sub_id))
         SELECT vec_id, sub_id, code_id AS code FROM scored
         QUALIFY row_number() OVER (PARTITION BY vec_id, sub_id ORDER BY d2, code_id) = 1"""),

    QuerySpec("sim_ann_lsh", (s, d) => {
      // threshold 0.3 over a 50-vector query set: non-trivial result (~200
      // rows) at the weakest similarity the banding still fully recalls
      // (48 bands × 3 planes: miss ~1e-5 per pair on this data)
      val emb = t(s, d, "embeddings")
      Similarity.annLshVerified(
        emb, col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") < 50), col("vec_id"), col("embedding"),
        threshold = 0.3, bands = 48)
    },
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 50)
         SELECT query_id, vec_id,
           round(list_dot_product(cv, qv)
             / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
         FROM c, q WHERE vec_id <> query_id
           AND round(list_dot_product(cv, qv)
             / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 6) >= 0.3"""),

    QuerySpec("pipe_clean_corpus", (s, d) => {
      // the composed training-data pipeline: quality gate -> near-dup
      // canonicalization (keep cluster canonicals only) -> per-language
      // corpus stats. Every stage is one of the operators above; this is
      // the end-to-end shape a 100 TB cleaning job takes.
      val docs = t(s, d, "documents")
      val scored = Text.qualityMetrics(docs, col("text"))
      val clean = scored.filter(col("alpha_ppm") >= 810000 && col("n_tokens") >= 20)
      val nonCanonical = Dedup.resolveCanonical(
          Dedup.minhashNearDupPairs(docs, col("doc_id"), col("text"),
            n = 3, numHashes = 64, bands = 16, thresholdPpm = 800000L))
        .filter(col("canonical_id") =!= col("id"))
        .select(col("id").as("doc_id"))
      clean.join(nonCanonical, Seq("doc_id"), "left_anti")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_chars_m")).as("total_chars"))
    },
      """WITH RECURSIVE scored AS MATERIALIZED (
           SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars_m,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000000.0 / length(text)) AS BIGINT) AS alpha_ppm
           FROM documents),
         clean AS MATERIALIZED (SELECT * FROM scored WHERE alpha_ppm >= 810000 AND n_tokens >= 20),
         docs AS MATERIALIZED (SELECT doc_id,
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
         non_canonical AS MATERIALIZED (
           SELECT id AS doc_id FROM reach GROUP BY id
           HAVING least(min(r), id) <> id)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars_m) AS BIGINT) AS total_chars
         FROM clean WHERE doc_id NOT IN (SELECT doc_id FROM non_canonical)
         GROUP BY lang""")
  )
}
