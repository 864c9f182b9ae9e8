package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Baseline: brute-force cosine top-k (exact, O(n) per query — fine when the
  * query set is small and broadcastable). Scale path: random-hyperplane LSH
  * bucketing so each query only scans its bucket, turning the 100 TB scan
  * into a bucket-local probe; and an IVF-style coarse quantizer built from a
  * deterministic seed set.
  */
object Similarity {

  /** Native dot product ([[graft.functions.DotProductExpr]]): one codegen'd
    * static call instead of an interpreted `aggregate(zip_with(...))` fold —
    * in the verify/scoring paths this runs per candidate PAIR, so it is the
    * CPU budget of the whole embedding family. Same accumulation order →
    * bit-identical scores. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.toCol(graft.functions.DotProductExpr(
      GraftBridge.toExpr(a), GraftBridge.toExpr(b)))
  }

  /** Cosine similarity between two double-array columns via the native dot. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Cast a float embedding to double for numerically stable arithmetic. */
  def asDouble(vec: Column): Column = transform(vec, x => x.cast("double"))

  /** Bounded partial top-k ([[graft.functions.TopKByScoreAgg]]): map-side
    * caps each partition at k entries per group, so selection shuffles
    * k·partitions rows — a per-group `row_number()` window instead ships
    * and fully sorts a group's ENTIRE candidate set on one task (for a
    * brute-force scan that is the whole corpus per query). Same total
    * order as the window form: score desc, id asc. */
  def topKByScore(score: Column, id: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.toCol(graft.functions.TopKByScoreAgg(
      GraftBridge.toExpr(score), GraftBridge.toExpr(id), k).toAggregateExpression())
  }

  /** Brute-force top-k: broadcast the (small) query set against the corpus,
    * score every pair, keep the top k per query via the bounded partial
    * aggregate — the corpus is scanned once and never sorted per query. */
  def bruteForceTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                     queries: DataFrame, queryId: Column, queryVec: Column, k: Int): DataFrame = {
    val c = corpus.select(corpusId.as("vec_id"), asDouble(corpusVec).as("cv"))
    val q = queries.select(queryId.as("query_id"), asDouble(queryVec).as("qv"))
    c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosine(col("cv"), col("qv")), 6))
      .groupBy("query_id")
      .agg(topKByScore(col("cos_sim"), col("vec_id"), k).as("__tk"))
      .select(col("query_id"), explode(col("__tk")).as("__e"))
      .select(col("query_id"), col("__e.id").as("vec_id"), col("__e.score").as("cos_sim"))
  }

  /** MUTUAL k-nearest-neighbor graph over an embedding corpus: undirected
    * edge (a, b) exists iff b is in a's cosine top-k AND a is in b's —
    * the standard symmetrization that strips hub-dominated one-way edges
    * (a hub lands in everyone's top-k; mutuality keeps only pairs that
    * reciprocate), and the building block for kNN-graph clustering /
    * agglomerative curation of embedding corpora.
    *
    * Shape: the directed top-k lists come from the same scan + bounded
    * [[topKByScore]] aggregate as [[bruteForceTopK]] (k rows per node per
    * partition cross the exchange, never the full pair stream), and the
    * mutual filter is a LEFT SEMI self-join of the a<b half against the
    * reversed edge list — edge-sized, k·n rows. The pair SCORING here is
    * the exact all-pairs form (the gate's oracle-able ground truth); at
    * corpus scale the scorer's input swaps for a candidate generator
    * ([[lshCosineCandidates]] bands or [[ivfProbes]] cells — both
    * present) and the top-k/mutual machinery is unchanged, because the
    * bounded aggregate never cares where candidate pairs came from. */
  def knnGraph(corpus: DataFrame, idCol: Column, vecCol: Column, k: Int): DataFrame = {
    // repartition BEFORE the broadcast scoring join: the n² pair stream is
    // generated at the parallelism of the corpus-side SCAN, and a small
    // parquet corpus arrives in 1-2 splits — n·|corpus| cosines would run
    // on one task (the text_cooccurrence lesson: repartition the n input
    // rows, which is cheap, not the n² derived stream, which never
    // materializes)
    // norms precomputed per ROW, not per pair: the n² scorer then runs one
    // dot per pair instead of three — the division tree a/(b·c) is
    // unchanged, so the rounded value is bit-identical to cosine()
    val c = corpus.select(idCol.as("vec_id"), asDouble(vecCol).as("cv"))
      .repartition(col("vec_id"))
      .withColumn("nrm", sqrt(dot(col("cv"), col("cv"))))
    val q = c.select(col("vec_id").as("query_id"), col("cv").as("qv"),
      col("nrm").as("qn"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        round(dot(col("cv"), col("qv")) / (col("nrm") * col("qn")), 6))
    mutualTopK(scored, k)
  }

  /** Shared tail of the kNN-graph family: bounded per-query top-k over a
    * scored (query_id, vec_id, cos_sim) candidate stream, then the
    * mutuality filter (a<b half LEFT SEMI-joined against the reversed
    * directed edges). Candidate-generator-agnostic — exact all-pairs
    * ([[knnGraph]]) and IVF-cell-restricted ([[knnGraphIvf]]) streams
    * flow through identically. */
  private def mutualTopK(scored: DataFrame, k: Int): DataFrame = {
    val tk = scored
      .groupBy("query_id")
      .agg(topKByScore(col("cos_sim"), col("vec_id"), k).as("__tk"))
      .select(col("query_id"), explode(col("__tk")).as("__e"))
      .select(col("query_id"), col("__e.id").as("vec_id"), col("__e.score").as("cos_sim"))
    val rev = tk.select(col("vec_id").as("query_id"), col("query_id").as("vec_id"))
    tk.filter(col("query_id") < col("vec_id"))
      .join(rev, Seq("query_id", "vec_id"), "left_semi")
      .select(col("query_id").as("a_id"), col("vec_id").as("b_id"), col("cos_sim"))
  }

  /** Mutual-kNN graph restricted to IVF cells — the SCALE path of
    * [[knnGraph]]: vectors score only against members of their own
    * nearest-centroid cell (one equi-join on the cell id — scoring volume
    * Σ cell² instead of n², and no broadcast of the corpus), then the
    * same bounded top-k + mutuality tail. Approximate exactly where IVF
    * search is: a neighbor in a different cell is invisible, which is the
    * standard IVF trade — centroid count scales ~√n so cells stay
    * bounded, and multi-probe widens recall on the same plan. Assignment
    * is the scan-local plan-literal argmax of [[ivfAssign]]; everything
    * downstream of scoring is byte-identical to the exact form. Building
    * the result runs the assignment once and keeps it ([[Materialize]]). */
  def knnGraphIvf(corpus: DataFrame, idCol: Column, vecCol: Column,
      centroids: DataFrame, k: Int): DataFrame = {
    // materialize the assigned relation ONCE: both self-join sides
    // reference it, and unmaterialized each side re-runs the O(n·c·dim)
    // centroid-assignment scan — with c ≈ √n that is n^1.5 work paid twice
    // (exchange reuse does not fire across the alias-renamed branches).
    val a = Materialize(ivfAssign(corpus, idCol, vecCol, centroids)
      .withColumn("nrm", sqrt(dot(col("v"), col("v")))))
    val b = a.select(col("centroid_id").as("__qc"),
      col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = a.join(b,
        col("centroid_id") === col("__qc") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
    mutualTopK(scored, k)
  }

  /** Mutual-kNN graph over IVF cells with MULTIPROBE — the production
    * configuration of [[knnGraphIvf]]: every vector keeps ONE stored cell
    * (its nearest centroid — the corpus side never duplicates), and as a
    * QUERY it probes its `probes` nearest cells, recovering the cross-cell
    * edges the single-cell form loses at cell boundaries. A candidate pair
    * (q, v) materializes at most once (v's stored cell is unique), so no
    * dedup step rides the join; the tail (bounded top-k + mutuality) is
    * byte-identical to the exact form.
    *
    * Scale accounting: with c ≈ √n centroids the expected cell holds √n
    * members, so scoring volume is p·n·√n — n^1.5, not n² (the fixed-c
    * configuration has Σ cell² = n²/c and still tracks n²). Centroid count
    * is the caller's lever precisely because it arrives as a plan-literal
    * codebook: derive c from a corpus count (one O(1) driver scalar) and
    * the same plan covers any n. Recall is the IVF trade, widened by p,
    * and it is CONDITIONAL on cluster structure — spec-pinned both ways in
    * DedupTextSpec: ≥95% of exact mutual-kNN edges at p = 3, c = √n on a
    * clustered corpus (the regime IVF exists for); pool-bound (<50%) on
    * the isotropic gate corpus whose top-k sits at the cosine noise floor,
    * with monotone recovery in p and EDGE-FOR-EDGE exactness at p = c
    * (structural, distribution-independent). The gated CORRECTNESS row
    * replays the (√n, p = 3) configuration exactly in SQL. Building the
    * result runs the assignment once and keeps it ([[Materialize]]). */
  def knnGraphIvfMultiprobe(corpus: DataFrame, idCol: Column, vecCol: Column,
      centroids: DataFrame, k: Int, probes: Int): DataFrame = {
    // ONE centroid-assignment pass serves BOTH join sides: the stored side
    // is probe_ids(0) ([[graft.functions.VecAlgos.topCentroids]] shares
    // [[ivfAssign]]'s exact total order — higher round(cos,6), ties to the
    // smaller id — so element 0 IS the nearest centroid), and the query
    // side explodes the same array. Before, the stored side ran
    // NearestCentroidExpr and the query side TopCentroidsExpr — two full
    // O(n·c·dim) scans (n^1.5 each at c ≈ √n) of the same corpus, plus a
    // per-exploded-row norm (3n dots instead of n). Materialized once (as
    // in [[knnGraphIvf]]), the join branches read the assigned relation
    // instead of replaying it.
    val ap = Materialize(
      ivfAssignProbes(corpus, idCol, vecCol, centroids, probes)
        .withColumn("nrm", sqrt(dot(col("v"), col("v")))))
    val a = ap.select(col("vec_id"), col("probe_ids")(0).as("centroid_id"),
      col("v"), col("nrm"))
    val q = ap.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("nrm").as("qn"), explode(col("probe_ids")).as("__qc"))
    val scored = a.join(q,
        col("centroid_id") === col("__qc") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
    mutualTopK(scored, k)
  }

  /** Ranking-quality eval for prefix-dimension (Matryoshka-style,
    * Kusupati et al. '22) embedding truncation: per query, the full-dim
    * cosine top-1 (excluding self) is the ground truth, the system under
    * eval ranks by cosine over the first `prefixDims` dims, and the
    * output is the ground truth's rank in the prefix top-k plus its
    * reciprocal rank in integer ppm (`10⁶ div rank`, 0 when outside
    * top-k) — MRR@k is then a trivial average over the rows. ONE corpus
    * scan computes both rankings: broadcast query batch, scan-local pair
    * scores, and two bounded [[topKByScore]] aggregates (O(1) and O(k)
    * state per query) — no per-query window ever sorts the corpus, so
    * the eval costs the same as the brute-force search it grades. */
  def prefixMrrEval(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      queries: DataFrame, queryId: Column, queryVec: Column,
      prefixDims: Int, k: Int): DataFrame = {
    require(prefixDims >= 1, "prefixDims must be >= 1")
    val c = corpus.select(corpusId.as("cid"), asDouble(corpusVec).as("cv"))
    val q = queries.select(queryId.as("qid"), asDouble(queryVec).as("qv"))
    val scored = c.join(broadcast(q), col("cid") =!= col("qid"))
      .withColumn("full", round(cosine(col("cv"), col("qv")), 6))
      .withColumn("pre", round(cosine(
        slice(col("cv"), 1, prefixDims), slice(col("qv"), 1, prefixDims)), 6))
    scored.groupBy("qid")
      .agg(topKByScore(col("full"), col("cid"), 1).as("gt"),
        topKByScore(col("pre"), col("cid"), k).as("topk"))
      .select(col("qid").as("query_id"),
        col("gt")(0)("id").as("gt_id"),
        array_position(transform(col("topk"), e => e("id")),
          col("gt")(0)("id")).as("prefix_rank"))
      .withColumn("rr_ppm",
        when(col("prefix_rank") > 0, expr("1000000 div prefix_rank"))
          .otherwise(lit(0L)))
  }

  /** Radius (range) search: ALL corpus vectors within cosine ≥ minSim of
    * each query — the recall-complete complement of top-k (dedup
    * candidate generation, "find everything this close"). One broadcast
    * of the query batch, one corpus scan, a scan-local filter: no top-k
    * state, no per-query ordering, output-bound by construction — the
    * cheapest member of the family at any scale (and the one that
    * parallelizes perfectly: every partition emits its own matches).
    * The threshold compares the ROUNDED score (same 6-digit discipline as
    * every cosine in this file) so engine and oracle agree at the
    * boundary. For selective thresholds over huge corpora, compose with
    * the IVF route (probe cells whose centroid distance admits minSim)
    * exactly as [[ivfTopK]] does for top-k. */
  def rangeSearch(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                  queries: DataFrame, queryId: Column, queryVec: Column,
                  minSim: Double): DataFrame = {
    val c = corpus.select(corpusId.as("vec_id"), asDouble(corpusVec).as("cv"))
    val q = queries.select(queryId.as("query_id"), asDouble(queryVec).as("qv"))
    c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosine(col("cv"), col("qv")), 6))
      .filter(col("cos_sim") >= minSim)
      .select(col("query_id"), col("vec_id"), col("cos_sim"))
  }

  /** Filtered retrieval ("filtered ANN"): top-k among corpus rows sharing
    * the query's attribute value (same-category search). The predicate is
    * part of the JOIN KEY — at scale the search space hash-partitions by
    * the attribute instead of post-filtering a global shortlist, which
    * under-fills k whenever the filter is selective (the classic filtered-
    * ANN failure mode). Per (attribute) partition the scan is corpus-once
    * with the bounded top-k aggregate, same as [[bruteForceTopK]]. */
  def filteredTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                   corpusAttr: Column,
                   queries: DataFrame, queryId: Column, queryVec: Column,
                   queryAttr: Column, k: Int): DataFrame = {
    val c = corpus.select(corpusId.as("vec_id"), asDouble(corpusVec).as("cv"),
      corpusAttr.as("__attr"))
    val q = queries.select(queryId.as("query_id"), asDouble(queryVec).as("qv"),
      queryAttr.as("__qattr"))
    c.join(broadcast(q),
        col("__attr") === col("__qattr") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosine(col("cv"), col("qv")), 6))
      .groupBy("query_id")
      .agg(topKByScore(col("cos_sim"), col("vec_id"), k).as("__tk"))
      .select(col("query_id"), explode(col("__tk")).as("__e"))
      .select(col("query_id"), col("__e.id").as("vec_id"),
        col("__e.score").as("cos_sim"))
  }

  /** Hard-negative mining for contrastive training (the data-prep step of
    * dual-encoder / embedding-model training — Karpukhin et al. '20 DPR,
    * Xiong et al. '21 ANCE): per anchor, the k most-SIMILAR vectors whose
    * label DISAGREES — the negatives that sit closest to the decision
    * boundary and carry the gradient signal random negatives don't. The
    * complement of [[filteredTopK]]: the attribute predicate is an
    * INEQUALITY on the join, so the search space partitions by "not my
    * class" instead of post-filtering a global shortlist (which
    * under-fills k when a class dominates the corpus — the same failure
    * mode filtered ANN has). Same bounded [[topKByScore]] tail: k rows
    * per anchor per partition cross the exchange, never the pair stream.
    * At corpus scale the scorer's input swaps for LSH/IVF candidates
    * exactly as in the kNN-graph family. */
  def hardNegatives(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                    corpusLabel: Column,
                    anchors: DataFrame, anchorId: Column, anchorVec: Column,
                    anchorLabel: Column, k: Int): DataFrame = {
    val c = corpus.select(corpusId.as("vec_id"), asDouble(corpusVec).as("cv"),
      corpusLabel.as("__lab"))
    val q = anchors.select(anchorId.as("anchor_id"), asDouble(anchorVec).as("qv"),
      anchorLabel.as("__qlab"))
    c.join(broadcast(q),
        col("__lab") =!= col("__qlab") && col("vec_id") =!= col("anchor_id"))
      .withColumn("cos_sim", round(cosine(col("cv"), col("qv")), 6))
      .groupBy("anchor_id")
      .agg(topKByScore(col("cos_sim"), col("vec_id"), k).as("__tk"))
      .select(col("anchor_id"), explode(col("__tk")).as("__e"))
      .select(col("anchor_id"), col("__e.id").as("negative_id"),
        col("__e.score").as("cos_sim"))
  }

  /** MMR diversified re-rank (Carbonell & Goldstein, SIGIR '98) of a
    * per-query candidate shortlist: greedily select k items maximizing
    * λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s). The shortlist (from any
    * retriever) rides in ONE array column, so the O(k·|shortlist|) greedy
    * loop is scan-local per query row ([[graft.functions.MmrSelectExpr]])
    * — never a shuffle, never a driver loop. Not SQL-expressible
    * (iterative argmax) → spec-gated. */
  def mmrRerank(shortlist: DataFrame, queryIdCol: String, queryVecCol: String,
                candsCol: String, lambda: Double, k: Int): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val sel = GraftBridge.toCol(graft.functions.MmrSelectExpr(
      GraftBridge.toExpr(col(queryVecCol)), GraftBridge.toExpr(col(candsCol)),
      lambda, k))
    shortlist
      .select(col(queryIdCol).as("query_id"), posexplode(sel).as(Seq("rank", "vec_id")))
      .select(col("query_id"), (col("rank") + 1).as("rank"), col("vec_id"))
  }

  /** ColBERT-style late-interaction MaxSim (Khattab & Zaharia SIGIR '20):
    * documents and queries are MULTI-vector (one sub-vector per "token");
    * score(q, d) = Σ_i max_j cos(q_i, d_j) — each query token matches its
    * best document token, summed. Here the token decomposition slices the
    * stored embedding into `numTokens` equal sub-vectors (the fixture's
    * stand-in for a per-token encoder's output matrix — the operator is
    * agnostic to where the sub-vectors came from).
    *
    * Shape at 100 TB: the whole interaction matrix (numTokens² cosines per
    * pair) is ONE scan-local projection built from nested higher-order
    * functions — no explode, no shuffle of token vectors — the query side
    * broadcasts, and the per-query shortlist is the bounded partial top-k
    * aggregate (k·partitions rows shuffle, never the corpus). Chunk norms
    * are computed once per row; each cosine is rounded at 6 digits before
    * the max so engine float-noise cannot reorder the argmax. */
  def maxSimTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                 queries: DataFrame, queryId: Column, queryVec: Column,
                 numTokens: Int, k: Int): DataFrame = {
    def chunksOf(v: Column): Column = {
      val sub = (size(v) / numTokens).cast("int")
      transform(sequence(lit(0), lit(numTokens - 1)),
        i => slice(v, i * sub + 1, sub))
    }
    def normsOf(cs: Column): Column = transform(cs, c => sqrt(dot(c, c)))
    val c = corpus.select(corpusId.as("vec_id"), chunksOf(asDouble(corpusVec)).as("dcs"))
      .withColumn("dns", normsOf(col("dcs")))
    val q = queries.select(queryId.as("query_id"), chunksOf(asDouble(queryVec)).as("qcs"))
      .withColumn("qns", normsOf(col("qcs")))
    val perToken = transform(col("qcs"), (qc, qi) =>
      round(array_max(transform(col("dcs"), (dc, dj) =>
        dot(qc, dc) / (element_at(col("qns"), qi + 1) * element_at(col("dns"), dj + 1)))), 6))
    c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("maxsim",
        round(aggregate(perToken, lit(0.0), (acc, x) => acc + x), 6))
      .groupBy("query_id")
      .agg(topKByScore(col("maxsim"), col("vec_id"), k).as("__tk"))
      .select(col("query_id"), explode(col("__tk")).as("__e"))
      .select(col("query_id"), col("__e.id").as("vec_id"), col("__e.score").as("maxsim"))
  }

  /** Maximum-inner-product search via the asymmetric norm-augmentation
    * reduction (Shrivastava & Li NeurIPS '14; Neyshabur & Srebro ICML '15
    * simple-LSH form): corpus vectors append sqrt(M² − |x|²) (M = max
    * corpus norm, ONE scalar aggregate broadcast back), queries append 0 —
    * then cos(q', x') is monotone in q·x, so EVERY cosine operator in this
    * file (brute force, hyperplane LSH, IVF, the compressed scans) ranks
    * by inner product unchanged. That is the point of the reduction: MIPS
    * (recommendation retrieval, un-normalized embedding search) rides the
    * cosine infrastructure instead of needing its own index family.
    * Returns top-k per query by the transformed cosine (ranking ≡ raw
    * inner product; oracle-gated by reconstructing the same augmented
    * vectors in SQL). */
  def mipsTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
               queries: DataFrame, queryId: Column, queryVec: Column, k: Int): DataFrame = {
    val c0 = corpus.select(corpusId.as("vec_id"), asDouble(corpusVec).as("v"))
    val m2 = c0.agg(max(dot(col("v"), col("v"))).as("__m2"))
    val aug = c0.crossJoin(broadcast(m2))
      .select(col("vec_id"),
        concat(col("v"),
          array(sqrt(greatest(col("__m2") - dot(col("v"), col("v")), lit(0.0))))).as("va"))
    val qa = queries.select(queryId.as("query_id"), asDouble(queryVec).as("qv"))
      .select(col("query_id"), concat(col("qv"), array(lit(0.0d))).as("qa"))
    bruteForceTopK(aug, col("vec_id"), col("va"), qa, col("query_id"), col("qa"), k)
  }

  /** Random-hyperplane signature: sign bits of dot(v, h_i) for planes derived
    * deterministically from xxhash64(seed=i, dim=j) — no stored plane matrix,
    * reproducible across the cluster, no driver state. `planeOffset` selects
    * an independent plane family (band b of a banded scheme passes
    * b·planes). */
  def hyperplaneSignature(vec: Column, planes: Int, planeOffset: Int = 0): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.toCol(graft.functions.HyperplaneSigExpr(
      GraftBridge.toExpr(vec), planes, planeOffset))
  }

  /** LSH-bucketed ANN: bucket corpus and queries by hyperplane signature,
    * join on the bucket, score within. Recall<1 by construction; multiprobe
    * (flipping one bit) widens recall. The join shuffles on the bucket id —
    * uniformly distributed by the hash, so no skew at scale. */
  def lshCosineCandidates(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                          queries: DataFrame, queryId: Column, queryVec: Column,
                          planes: Int, multiprobe: Boolean = false): DataFrame = {
    val c = corpus.select(corpusId.as("vec_id"), asDouble(corpusVec).as("cv"))
      .withColumn("bucket", hyperplaneSignature(col("cv"), planes))
    val q0 = queries.select(queryId.as("query_id"), asDouble(queryVec).as("qv"))
      .withColumn("bucket0", hyperplaneSignature(col("qv"), planes))
    // multiprobe: also probe every bucket one hyperplane-flip away — recall
    // rises steeply (vectors near a plane land on either side) for planes×
    // the probe fan-out, with no extra corpus passes
    val q =
      if (!multiprobe) q0.withColumn("bucket", col("bucket0"))
      else q0.select(col("query_id"), col("qv"),
        explode(array((col("bucket0") +:
          (0 until planes).map(i => col("bucket0").bitwiseXOR(lit(1L << i)))): _*)).as("bucket"))
    c.join(q, "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosine(col("cv"), col("qv")), 6))
      .select("query_id", "vec_id", "cos_sim", "bucket").distinct()
  }

  /** Banded ANN with exact verification — the oracle-comparable form of
    * [[lshCosineCandidates]]: candidates share ANY of `bands` hyperplane
    * buckets (narrow bands → recall at the verify threshold is effectively
    * 1: 32×3 at cos 0.4 misses ~1e-4 of pairs), then the exact cosine —
    * computed in the same float-op order as the all-pairs form, raw dot over
    * precomputed norms — keeps only true threshold matches, so the output
    * coincides with the exact query-vs-corpus join. Everything shuffles on
    * (band, bucket); the corpus is scanned once. */
  def annLshVerified(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                     queries: DataFrame, queryId: Column, queryVec: Column,
                     threshold: Double, bands: Int = 32, planesPerBand: Int = 3): DataFrame = {
    def withBands(df: DataFrame, id: Column, vec: Column, idName: String): DataFrame = {
      val base = df.select(id.as(idName), asDouble(vec).as(s"__v_$idName"))
        .withColumn(s"__n_$idName", sqrt(dot(col(s"__v_$idName"), col(s"__v_$idName"))))
      val sigs = array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          hyperplaneSignature(col(s"__v_$idName"), planesPerBand, b * planesPerBand).as("bucket"))): _*)
      base.select(col(idName), col(s"__v_$idName"), col(s"__n_$idName"), explode(sigs).as("bb"))
        .select(col(idName), col(s"__v_$idName"), col(s"__n_$idName"),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    }
    val c = withBands(corpus, corpusId, corpusVec, "vec_id")
    val q = withBands(queries, queryId, queryVec, "query_id")
    c.join(q, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("__v_vec_id"), col("__v_query_id")) /
          (col("__n_vec_id") * col("__n_query_id")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .distinct()
  }

  /** IVF-style coarse quantizer: assign each vector to its nearest centroid
    * (broadcast centroids, one corpus scan, one per-vector top-1 window).
    * Queries probe only their centroid's inverted list. Centroids come from
    * deterministic seeds (reproducible, zero training cost — the
    * oracle-comparable form) or from [[kmeansCentroids]]. */
  def ivfAssign(df: DataFrame, idCol: Column, vecCol: Column, centroids: DataFrame): DataFrame = {
    val v = df.select(idCol.as("vec_id"), asDouble(vecCol).as("v"))
    // The centroid table is k·dim — driver-tiny at ANY corpus scale — so it
    // localizes into plan literals (flat centroid-major matrix + id list)
    // and the argmax runs per row as one codegen'd kernel
    // ([[graft.functions.NearestCentroidExpr]]): highest round(cos, 6),
    // ties to the smallest centroid id — the exact total order the former
    // broadcast-join + struct-min groupBy used. Assignment is a pure
    // scan-local projection: ZERO shuffles, where the groupBy form shipped
    // every (vec_id, vector) pair through a corpus-scale exchange just to
    // collapse the k broadcast-join copies it had itself produced.
    val (flatLit, idsLit, k) = centroidLiterals(centroids)
    import org.apache.spark.sql.GraftBridge
    val assign = GraftBridge.toCol(graft.functions.NearestCentroidExpr(
      GraftBridge.toExpr(col("v")), flatLit, idsLit, k))
    v.select(col("vec_id"), assign.as("centroid_id"), col("v"))
  }

  /** Localize a (centroid_id, cvec) table into the plan-literal pair the
    * scan-local assignment kernels take: the flat centroid-major matrix +
    * the id list, plus the centroid count. The centroid table is k·dim —
    * driver-tiny at ANY corpus scale — which is what licenses the
    * collect. */
  private def centroidLiterals(centroids: DataFrame):
      (org.apache.spark.sql.catalyst.expressions.Literal,
       org.apache.spark.sql.catalyst.expressions.Literal, Int) = {
    val local = centroids.select(col("centroid_id"), col("cvec")).collect()
    require(local.nonEmpty, "centroid set must be non-empty")
    val dims = local.map(_.getSeq[Double](1).length).distinct
    require(dims.length == 1, s"centroid vectors must share one dim, got $dims")
    val k = local.length
    val flat = new Array[Double](k * dims.head)
    val ids = new Array[Long](k)
    local.zipWithIndex.foreach { case (r, c) =>
      ids(c) = r.get(0) match {
        case i: Int => i.toLong
        case l: Long => l
        case other => throw new IllegalArgumentException(
          s"centroid_id must be integral, got $other")
      }
      val cw = r.getSeq[Double](1)
      var j = 0
      while (j < dims.head) { flat(c * dims.head + j) = cw(j); j += 1 }
    }
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    (Literal.create(flat, ArrayType(DoubleType, containsNull = false)),
      Literal.create(ids, ArrayType(LongType, containsNull = false)), k)
  }

  /** MULTIPROBE cell assignment: each row's `p` nearest centroids (rounded
    * cosine, ties to the smaller id — the [[ivfAssign]] order), as an
    * ARRAY column. Scan-local projection like the top-1 form: the probe
    * kernel ([[graft.functions.TopCentroidsExpr]]) runs per row against
    * the plan-literal centroid matrix, zero shuffles. */
  def ivfAssignProbes(df: DataFrame, idCol: Column, vecCol: Column,
                      centroids: DataFrame, p: Int): DataFrame = {
    val v = df.select(idCol.as("vec_id"), asDouble(vecCol).as("v"))
    val (flatLit, idsLit, k) = centroidLiterals(centroids)
    import org.apache.spark.sql.GraftBridge
    val probes = GraftBridge.toCol(graft.functions.TopCentroidsExpr(
      GraftBridge.toExpr(col("v")), flatLit, idsLit, k, p))
    v.select(col("vec_id"), probes.as("probe_ids"), col("v"))
  }

  /** IVF inverted-list index: members assigned to their nearest centroid
    * plus, per cluster, the widest member angle to the centroid — the
    * pruning radius for [[ivfExactThreshold]]. Returns
    * (assigned: vec_id, centroid_id, v, n) and
    * (clusters: centroid_id, cvec, cn, max_theta). Clusters that win no
    * members drop out (they can produce no candidates). */
  def ivfClusterIndex(corpus: DataFrame, idCol: Column, vecCol: Column,
                      centroids: DataFrame): (DataFrame, DataFrame) = {
    val cts = centroids
      .withColumn("cn", sqrt(dot(col("cvec"), col("cvec"))))
    val assigned = ivfAssign(corpus, idCol, vecCol, cts)
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
    // member angle to its centroid; clamp the cosine into acos's domain
    // (round-off can push |cos| a few ulps past 1)
    val withTheta = assigned.join(broadcast(cts), "centroid_id")
      .withColumn("theta",
        acos(least(greatest(dot(col("v"), col("cvec")) / (col("n") * col("cn")),
          lit(-1.0)), lit(1.0))))
    val clusters = withTheta.groupBy("centroid_id")
      .agg(max(col("theta")).as("max_theta"))
      .join(broadcast(cts), "centroid_id")
    (assigned.select("vec_id", "centroid_id", "v", "n"), clusters)
  }

  /** Probe plan: which (query, cluster) pairs can possibly hold a match at
    * `threshold`. Spherical triangle inequality: for any member m of
    * cluster c, theta(q,m) >= theta(q,c) - max_theta(c), so
    * cos(theta(q,m)) <= cos(max(0, theta(q,c) - max_theta(c))). A cluster
    * whose bound falls below the threshold is PROVABLY match-free and is
    * skipped; a small angle slack absorbs acos/cos round-off, erring only
    * toward extra (harmless, exactly re-verified) probes. */
  def ivfProbes(clusters: DataFrame, queries: DataFrame, queryId: Column, queryVec: Column,
                threshold: Double, slack: Double = 1e-6): DataFrame = {
    val q = queries.select(queryId.as("query_id"), asDouble(queryVec).as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
    val simQc = dot(col("qv"), col("cvec")) / (col("qn") * col("cn"))
    val thetaQc = acos(least(greatest(simQc, lit(-1.0)), lit(1.0)))
    q.join(broadcast(clusters))
      .withColumn("bound",
        cos(greatest(lit(0.0), thetaQc - col("max_theta") - lit(slack))))
      .filter(col("bound") >= threshold)
      .select(col("query_id"), col("qv"), col("qn"), col("centroid_id"))
  }

  /** Exact ANN, IVF-accelerated: centroids partition the corpus into
    * inverted lists; each query scans only the lists the triangle-
    * inequality bound cannot rule out, and survivors are verified with the
    * exact cosine in the same float-op order as the brute-force form. The
    * output therefore EQUALS the brute-force threshold join for ANY
    * centroid set — centroid quality (and Lloyd's float-sum
    * nondeterminism) only moves the speed, never the answer. At 100 TB the
    * corpus shuffles once (on centroid_id); tight clusters turn the scan
    * into a bucket-local probe, the honest form of "approximate" NN when
    * the answer must be exact. */
  def ivfExactThreshold(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                        queries: DataFrame, queryId: Column, queryVec: Column,
                        threshold: Double, k: Int, iters: Int,
                        trainFraction: Double = 1.0): DataFrame = {
    val cts = kmeansCentroids(corpus, corpusId, corpusVec, k, iters, trainFraction)
    val (assigned, clusters) = ivfClusterIndex(corpus, corpusId, corpusVec, cts)
    ivfSearch(assigned, clusters, queries, queryId, queryVec, threshold)
  }

  /** The IVF READ path, decoupled from index construction: probe plan +
    * exact cosine verify over an (assigned, clusters) index pair — built
    * this session or loaded from a stored table. Exact for ANY assignment
    * and ANY centroid set (the bound only prunes provably match-free
    * cells), so reading a stale-but-covering stored index returns exactly
    * what a fresh rebuild would. */
  def ivfSearch(assigned: DataFrame, clusters: DataFrame,
                queries: DataFrame, queryId: Column, queryVec: Column,
                threshold: Double): DataFrame = {
    val probes = ivfProbes(clusters, queries, queryId, queryVec, threshold)
    probes.join(assigned, "centroid_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        round(dot(col("qv"), col("v")) / (col("qn") * col("n")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("query_id", "vec_id", "cos_sim")
  }

  /** Persist an IVF index as a VERSIONED stored table — the sketch-table
    * architecture applied to the ANN lane (and the reference's
    * stored-artifact philosophy: build once, read many). At 100 TB the
    * cell assignment is the expensive scan; recomputing it per query
    * batch re-encodes the whole corpus, while the stored form pays it
    * once and each new version is batch-sized work ([[ivfAppend]]).
    * Layout: `path/v=<version>/{assigned,clusters}` parquet. */
  def writeIvfIndex(assigned: DataFrame, clusters: DataFrame,
                    path: String, version: Long): Unit = {
    assigned.write.mode("overwrite").parquet(s"$path/v=$version/assigned")
    clusters.write.mode("overwrite").parquet(s"$path/v=$version/clusters")
  }

  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   version: Long): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/v=$version/assigned"),
      spark.read.parquet(s"$path/v=$version/clusters"))

  /** Fold a NEW batch into a standing IVF index without touching the
    * standing corpus: batch rows assign scan-locally to the EXISTING
    * centroids (no retrain, no re-encode of old members — the argmax
    * kernel runs over batch rows only) and each touched cluster's pruning
    * radius grows to cover its new members
    * (max_theta' = max(max_theta, batch thetas)). Because [[ivfSearch]]
    * is exact for any assignment, the appended index answers queries
    * IDENTICALLY to a full rebuild over base ∪ batch — centroid drift
    * only affects speed (clusters loosen over many appends; re-train on a
    * cadence, like compaction). Returns the new (assigned, clusters).
    *
    * IDEMPOTENT under redelivery (unlike the xor checksum, like the k-min
    * union): batch vec_ids already present in the stored index are dropped
    * before the union, so a replayed batch leaves the index — and every
    * downstream [[ivfSearch]] — unchanged. The guard costs one
    * column-pruned pass over the stored ids (the batch id set broadcasts;
    * vectors never ship), the price of not requiring the no-redelivery
    * fence cdc_topk_maintain documents. */
  def ivfAppend(assigned: DataFrame, clusters: DataFrame,
                batch: DataFrame, idCol: Column, vecCol: Column): (DataFrame, DataFrame) = {
    val cts = clusters.select(col("centroid_id"), col("cvec"), col("cn"))
    // replay guard: ids the stored relation already holds. Shaped so the
    // BATCH side broadcasts (inner join stored.ids ⋈ broadcast(batch ids) →
    // tiny `known`, then batch LEFT ANTI broadcast(known)) — a direct
    // batch-anti-stored join could not broadcast its corpus-sized build side.
    val b0 = batch.select(idCol.as("vec_id"), asDouble(vecCol).as("bv"))
    val known = assigned.select("vec_id")
      .join(broadcast(b0.select("vec_id").distinct()), Seq("vec_id"), "left_semi")
    val fresh = b0.join(broadcast(known), Seq("vec_id"), "left_anti")
    val newAssigned = ivfAssign(fresh, col("vec_id"), col("bv"), cts)
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
    val batchTheta = newAssigned.join(broadcast(cts), "centroid_id")
      .withColumn("theta",
        acos(least(greatest(dot(col("v"), col("cvec")) / (col("n") * col("cn")),
          lit(-1.0)), lit(1.0))))
      .groupBy("centroid_id").agg(max(col("theta")).as("batch_theta"))
    val newClusters = clusters.join(broadcast(batchTheta), Seq("centroid_id"), "left")
      .withColumn("max_theta",
        greatest(col("max_theta"), coalesce(col("batch_theta"), lit(0.0))))
      .drop("batch_theta")
    (assigned.unionByName(newAssigned.select("vec_id", "centroid_id", "v", "n")),
      newClusters)
  }

  /** Fold CDC DELETEs into a stored IVF index: anti-join the member
    * relation on the deleted ids (delete-id set broadcasts, one
    * column-pruned pass, vectors never reshuffle); the cluster table —
    * centroids and pruning radii — is left UNTOUCHED, deliberately:
    * [[ivfSearch]] is exact for ANY assignment and its bound only prunes
    * provably match-free cells, so a stale-but-covering radius can at
    * worst probe a cell that no longer holds a match (harmless extra
    * verify work, shrinking on the retrain cadence like append drift).
    * Post-delete searches are therefore IDENTICAL to a from-scratch
    * rebuild over the surviving corpus (oracle-gated as
    * `sim_ann_ivf_cdc`). IDEMPOTENT under redelivery (re-deleting an
    * absent id is a no-op) — no fence needed, same class as
    * [[ivfAppend]]'s guarded append. */
  def ivfApplyDeletes(assigned: DataFrame, clusters: DataFrame,
      deletedIds: DataFrame, idCol: Column): (DataFrame, DataFrame) = {
    val del = broadcast(deletedIds.select(idCol.as("__del")).distinct())
    (assigned.join(del, assigned("vec_id") === del("__del"), "left_anti"), clusters)
  }

  /** Distributed Lloyd's iterations for the IVF coarse quantizer (spherical
    * k-means: cosine assignment, elementwise-mean update — scale is
    * irrelevant to cosine ranking, so means need no re-normalization for
    * assignment purposes).
    *
    * Each iteration is two shuffles at corpus scale: the assignment is a
    * broadcast join + per-vector top-1 (no shuffle of vectors), the update
    * is posexplode → groupBy (centroid, dim) mean — partial aggregation
    * makes the shuffle carry k·dim partial sums per input partition, NOT
    * vectors. Centroids that lose every member keep their previous
    * position (standard empty-cluster handling). Iterations persist their
    * frontier (at 100 TB: checkpoint) so lineage stays flat.
    *
    * Deterministic end to end: seed centroids are the first k vectors by
    * id, ties in assignment break by centroid id.
    *
    * `trainFraction` < 1 trains on a deterministic hash-thinned sample
    * (md5(id) threshold — the engine's standard reproducible sample) — the
    * 100 TB posture: a coarse quantizer needs a representative sample, not
    * the corpus (FAISS practice: train on 10⁵–10⁶ vectors regardless of
    * index size; Jégou TPAMI'11 trains codebooks on a held-out learning
    * set). Every downstream consumer that is exactness-preserving for ANY
    * centroid set ([[ivfExactThreshold]]) is provably unaffected in output;
    * only cluster tightness (speed) varies. */
  def kmeansCentroids(df: DataFrame, idCol: Column, vecCol: Column,
                      k: Int, iters: Int, trainFraction: Double = 1.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(idCol.as("vec_id"), asDouble(vecCol).as("v"))
    val v = (if (trainFraction >= 1.0) base
             else base.filter(Sampling.keepHash(col("vec_id"), trainFraction)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The centroid table is k·dim — driver-tiny at ANY corpus scale — so
    // each Lloyd round collects it local and re-emits a literal relation:
    // one job per round over the cached corpus (the collect IS the
    // materialization), permanently flat lineage, and every assignment
    // broadcasts a local relation. The corpus never leaves the cluster.
    def localize(cts: DataFrame): Seq[(Long, Seq[Double])] =
      cts.collect().toSeq.map(r =>
        (r.getLong(r.fieldIndex("centroid_id")), r.getSeq[Double](r.fieldIndex("cvec"))))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))
    var local = localize(v.orderBy(col("vec_id")).limit(k)
      .withColumn("centroid_id", row_number().over(w) - 1)
      .select(col("centroid_id").cast("long").as("centroid_id"), col("v").as("cvec")))
    (1 to iters).foreach { _ =>
      val cts = local.toDF("centroid_id", "cvec")
      val assigned = ivfAssign(v, col("vec_id"), col("v"), cts)
      val means = assigned
        .select(col("centroid_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("centroid_id", "pos").agg(avg(col("x")).as("m"))
        .groupBy("centroid_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("mvec"))
      // empty clusters keep their previous centroid
      val next = cts.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"), coalesce(col("mvec"), col("cvec")).as("cvec"))
      local = localize(next)
    }
    v.unpersist()
    local.toDF("centroid_id", "cvec")
  }
}
