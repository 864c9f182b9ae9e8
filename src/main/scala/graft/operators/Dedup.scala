package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, from exact to
  * near-dup. Designed around one principle for 100 TB: never compare all
  * pairs — bucket first (hash, LSH band, simhash prefix), then compare only
  * within buckets, so the quadratic step runs on tiny groups while the
  * bucketing is a linear scan + one shuffle.
  */
object Dedup {

  /** Exact dedup by content fingerprint: one hash-aggregate shuffle on the
    * fingerprint; map-side partial aggregation collapses local duplicates
    * before the shuffle, so the shuffle volume is ~#distinct docs. */
  def exactClusters(df: DataFrame, idCol: Column, fpCol: Column): DataFrame =
    df.groupBy(fpCol.as("fp"))
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("dup_count"))

  /** Word n-gram shingles of normalized text.
    *
    * EVALUATION TRAP: do not inline an expensive expression as `text` of a
    * per-element lambda pipeline — a higher-order function evaluates its
    * lambda body per element, and `slice(toks, …)` embeds the whole
    * `split(regexp_replace(lower(text)))` subtree, re-tokenizing the
    * document once per shingle (measured 3-5 s/query at sf0.1 from
    * tokenization alone). Materialize tokens behind a projection first
    * ([[tokenized]]) and shingle the ATTRIBUTE ([[shinglesOfTokens]]);
    * this wrapper exists for one-shot/spec use where the blowup is moot. */
  def shingles(text: Column, n: Int): Column =
    shinglesOfTokens(split(Text.normalized(text), " "), n)

  /** [[shingles]] over an already-materialized token-array column — the
    * form every pipeline here uses (per-element lambda evaluation then
    * reads the computed array instead of re-deriving it). */
  def shinglesOfTokens(toks: Column, n: Int): Column = {
    val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)))
    array_distinct(transform(idx, i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** (id, __toks) projection: the materialization barrier that keeps
    * per-element lambdas from re-running tokenization (CollapseProject
    * leaves the alias in place because it is referenced more than once by
    * non-cheap expressions). */
  private def tokenized(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(idCol.as("id"), split(Text.normalized(textCol), " ").as("__toks"))

  /** Positional n-gram span hashes of a token-array column — ONE native
    * codegen'd pass ([[graft.functions.PosSpanHashExpr]]), bit-identical
    * to `transform(sequence(0, greatest(size-n, 0)), i =>
    * xxhash64(array_join(slice(toks, i+1, n), " ")))`. Native matters
    * doubly for the span operators: the composition is interpreted per
    * span, and every span pipeline EXPLODES this array — a fused generator
    * stage re-evaluates its input expression, so an interpreted span build
    * pays per OUTPUT row (the measured 8-16× trap on the PQ encode path). */
  def spanHashes(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.toCol(graft.functions.PosSpanHashExpr(GraftBridge.toExpr(toks), n))
  }

  /** MinHash signature: k independent permutation approximations; signature
    * element j = min over shingles of hash_j(shingle). A native Catalyst
    * expression ([[graft.functions.MinHashSigExpr]]): one codegen'd pass,
    * each shingle string hashed exactly once, k cheap long re-mixes into a
    * running-minimum accumulator — no intermediate arrays. At 100 TB the
    * signature build is the CPU budget; the composed-built-in formulation
    * (aggregate+zip_with) allocates a k-array per shingle. */
  def minhashSignature(shingleCol: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.toCol(graft.functions.MinHashSigExpr(GraftBridge.toExpr(shingleCol), k))
  }

  /** MinHash LSH banding: split the k-length signature into bands of r rows;
    * docs sharing any band hash become candidate pairs. Returns (band_id,
    * band_hash) rows — the shuffle key is the band hash, so candidate
    * generation is a self-join on tiny buckets, not an all-pairs product. */
  def lshBands(df: DataFrame, idCol: Column, sigCol: Column, bands: Int, rows: Int): DataFrame = {
    val bandRows = (0 until bands).map { b =>
      struct(lit(b).as("band_id"), xxhash64(slice(sigCol, b * rows + 1, rows)).as("band_hash"))
    }
    df.select(idCol.as("doc_id"), explode(array(bandRows: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
  }

  /** Candidate pairs from LSH buckets (a < b), deduplicated across bands. */
  def lshCandidates(bandsDf: DataFrame): DataFrame = {
    val l = bandsDf.select(col("band_id"), col("band_hash"), col("doc_id").as("a_id"))
    val r = bandsDf.select(col("band_id"), col("band_hash"), col("doc_id").as("b_id"))
    l.join(r, Seq("band_id", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Jaccard in parts-per-million as an exact integer (floor of the scaled
    * float quotient — bit-identical across engines since both operands and
    * the division are the same IEEE doubles; no rounding-mode divergence).
    * The all-pairs reference [[ngramJaccardPairs]] scores with it; the
    * bucketed verifiers score with [[setJaccard]]'s integer form, which
    * gives the same ppm for every set size below 2³³. */
  def jaccardPpm(aSh: Column, bSh: Column): Column =
    floor(size(array_intersect(aSh, bSh)).cast("double") * lit(1000000.0d) /
      size(array_union(aSh, bSh))).cast("long")

  /** The exact set-Jaccard step every bucketed verifier ends in: attach
    * each pair side's DISTINCT set and its BIGINT size from `sets` (id,
    * set, size columns named by the caller), take i = |A∩B| and
    * u = |A| + |B| − i (the union size of distinct sets, with no second
    * array built), score ppm = (i·10⁶) div u in integers (a double
    * quotient can round up across an integer boundary and shift a floor),
    * and keep ppm ≥ t. Returns (a_id, b_id, n_common, n_union,
    * jaccard_ppm), all BIGINT. */
  private def setJaccard(cands: DataFrame, sets: DataFrame, idCol: String,
      setCol: String, sizeCol: String, thresholdPpm: Long): DataFrame = {
    def side(p: String) = sets.select(col(idCol).as(s"${p}_id"),
      col(setCol).as(s"${p}_set"), col(sizeCol).as(s"${p}_n"))
    cands.join(side("a"), "a_id").join(side("b"), "b_id")
      .withColumn("n_common", size(array_intersect(col("a_set"), col("b_set"))).cast("long"))
      .withColumn("n_union", col("a_n") + col("b_n") - col("n_common"))
      .withColumn("jaccard_ppm", expr("(n_common * 1000000L) div n_union"))
      .filter(col("jaccard_ppm") >= thresholdPpm)
      .select("a_id", "b_id", "n_common", "n_union", "jaccard_ppm")
  }

  /** Exact Jaccard verification of candidate pairs against the shingle sets
    * — the standard LSH postfilter killing false positives. Two exactness-
    * preserving accelerations for candidate sets dominated by random bucket
    * collisions (narrow simhash bands at scale):
    *  - size-ratio pruning FIRST, on an integers-only join: J(A,B) ≥ t
    *    implies min(|A|,|B|)/max(|A|,|B|) ≥ t (|A∩B| ≤ min, |A∪B| ≥ max),
    *    so pairs failing the ratio can be dropped before any shingle array
    *    ships through a shuffle — provably no true pair lost;
    *  - the surviving intersections run over 64-bit-hashed shingle sets
    *    (distinct strings → distinct hashes at ~1e-13/pair collision odds),
    *    long equality being several× cheaper than UTF8 string equality.
    * The score itself is [[setJaccard]]. */
  def jaccardVerify(cands: DataFrame, docsWithShingles: DataFrame, idCol: String, shCol: String,
                    thresholdPpm: Long): DataFrame = {
    // sizes come from the DISTINCT hashed set — the same sets the Jaccard
    // runs on — so the ratio bound holds for ANY input, duplicated shingle
    // arrays included (raw sizes would over-prune docs with repeats), and
    // |A|+|B|−|A∩B| is their exact union size
    val hashed = docsWithShingles.select(col(idCol),
      array_distinct(transform(col(shCol), s => xxhash64(s))).as("__hs"))
      .withColumn("__n", size(col("__hs")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val aN = hashed.select(col(idCol).as("a_id"), col("__n").as("a_n"))
    val bN = hashed.select(col(idCol).as("b_id"), col("__n").as("b_n"))
    val pruned = cands.join(aN, "a_id").join(bN, "b_id")
      .filter(least(col("a_n"), col("b_n")).cast("double") * lit(1000000.0d) /
        greatest(col("a_n"), col("b_n")) >= thresholdPpm)
      .select("a_id", "b_id")
    setJaccard(pruned, hashed, idCol, "__hs", "__n", thresholdPpm)
      .select("a_id", "b_id", "jaccard_ppm")
  }

  /** All-pairs n-gram Jaccard above a threshold — the exact (quadratic)
    * formulation, used as the correctness oracle for LSH and directly when
    * one side is small enough to broadcast. It keeps its own shingle build
    * and float-quotient score ([[jaccardPpm]]) so the bucketed kernels are
    * checked against code they do not share. */
  def ngramJaccardPairs(df: DataFrame, idCol: Column, textCol: Column, n: Int, thresholdPpm: Long): DataFrame = {
    val docs = tokenized(df, idCol, textCol)
      .select(col("id"), shinglesOfTokens(col("__toks"), n).as("sh"))
    val a = docs.select(col("id").as("a_id"), col("sh").as("a_sh"))
    val b = docs.select(col("id").as("b_id"), col("sh").as("b_sh"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("jaccard_ppm", jaccardPpm(col("a_sh"), col("b_sh")))
      .filter(col("jaccard_ppm") >= thresholdPpm)
      .select("a_id", "b_id", "jaccard_ppm")
  }

  /** Asymmetric CONTAINMENT near-dup: C(A,B) = |S(A)∩S(B)| / min(|S(A)|,
    * |S(B)|) over distinct n-gram sets — catches a small document embedded
    * in a large one (quoted articles, boilerplate-wrapped reposts), the
    * duplication class symmetric Jaccard structurally misses: a 100-gram
    * doc fully contained in a 10,000-gram doc has J ≈ 0.01 but C = 1.0.
    * (Broder's containment measure, "On the resemblance and containment
    * of documents", SEQUENCES '97.)
    *
    * Formulation is the EXACT inverted-index join, not a cartesian: grams
    * hash to 64-bit (one codegen'd [[spanHashes]] pass), postings
    * self-join on the gram hash, intersection sizes fall out of ONE
    * count aggregation, and set sizes ride the posting rows so no second
    * join is needed. Pair volume is Σ_g df(g)², so ubiquitous boilerplate
    * grams dominate it at corpus scale; the output stays exact regardless.
    * Size-ratio pruning is deliberately NOT applied: unequal sizes are the
    * point of containment.
    *
    * Measured ×10 (SCALE.md): wall grows ~97× — but on that fixture the
    * TRUE pair count itself grows ~100× (near-dup clusters deepen 10×),
    * so the join is output-bound, not waste-bound. When candidate volume
    * (not output) dominates — heavy boilerplate, few true dups — the
    * exactness-preserving upgrade is prefix filtering from the
    * set-similarity-join literature (index only each doc's (1−t)·|S|+1
    * globally-rarest grams; pigeonhole guarantees no pair ≥ t is lost —
    * Chaudhuri et al. ICDE '06, Xiao et al. WWW '08), the shape
    * [[jaccardJoin]] already runs for symmetric Jaccard. */
  def containmentPairs(df: DataFrame, idCol: Column, textCol: Column, n: Int,
                       thresholdPpm: Long): DataFrame = {
    // persist the hashed gram sets (the minhashNearDupPairs posture): the
    // posting relation feeds BOTH sides of the self-join, and without the
    // persist the tokenize + spanHashes pipeline re-executes once per
    // reference (measured 3.0 → 2.0 s at sf0.1). The explode per consumer
    // is narrow and cheap; the compact pre-explode relation is what's
    // worth caching.
    // CACHE LIFECYCLE (documented leak): no unpersist — see jaccardJoin's
    // note; callers composing many queries clear the cache between them.
    val docs = tokenized(df, idCol, textCol)
      .select(col("id"), array_distinct(spanHashes(col("__toks"), n)).as("gh"))
      .withColumn("sz", size(col("gh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams = docs.select(col("id"), col("sz"), explode(col("gh")).as("g"))
    grams.select(col("g"), col("id").as("a_id"), col("sz").as("a_sz"))
      .join(grams.select(col("g"), col("id").as("b_id"), col("sz").as("b_sz")), "g")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "a_sz", "b_sz").agg(count(lit(1)).as("inter"))
      .withColumn("containment_ppm",
        floor(col("inter").cast("double") * lit(1000000.0d) /
          least(col("a_sz"), col("b_sz"))).cast("long"))
      .filter(col("containment_ppm") >= thresholdPpm)
      .select("a_id", "b_id", "containment_ppm")
  }

  /** (id, sh): each document's distinct word n-gram shingle set, built
    * behind the [[tokenized]] barrier — the one set definition the MinHash
    * and simhash kernels band on and verify against. */
  private def shingleSets(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame =
    tokenized(df, idCol, textCol)
      .select(col("id"), shinglesOfTokens(col("__toks"), n).as("sh"))

  /** (id, sh, sig): [[shingleSets]] plus the `numHashes`-long MinHash
    * signature of each set. */
  private def signedSets(df: DataFrame, idCol: Column, textCol: Column, n: Int,
      numHashes: Int): DataFrame =
    shingleSets(df, idCol, textCol, n).withColumn("sig", minhashSignature(col("sh"), numHashes))

  /** The band rows of [[signedSets]] output, `numHashes / bands` signature
    * rows per band. */
  private def signedBands(signed: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    lshBands(signed, col("id"), col("sig"), bands, numHashes / bands)
  }

  /** Full MinHash+LSH near-dup pipeline: shingle → signature → band-bucket →
    * candidate join → exact verify. The only quadratic work happens inside
    * LSH buckets (expected O(1) sizes); everything else is linear scans plus
    * shuffles on band hashes — the 100 TB-safe formulation of
    * [[ngramJaccardPairs]]. */
  def minhashNearDupPairs(df: DataFrame, idCol: Column, textCol: Column, n: Int,
                          numHashes: Int, bands: Int, thresholdPpm: Long): DataFrame = {
    // Persist the signed docs: they feed both LSH-join sides and the verify
    // join — without it the shingle+signature build (the expensive narrow
    // stage) re-executes once per consumer. At 100 TB this persist becomes a
    // checkpoint to storage; the shape is the same.
    val docs = signedSets(df, idCol, textCol, n, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandsDf = signedBands(docs, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = lshCandidates(bandsDf)
    jaccardVerify(cands, docs, "id", "sh", thresholdPpm)
  }

  /** Build the STORED form of the MinHash-LSH index: the band rows (the
    * probe side) and the shingle sets (the verify side). Returns
    * (bands: doc_id, band_id, band_hash; sets: id, sh). Incremental
    * near-dup — new-batch pairs only, against a standing corpus — is this
    * build over the corpus followed by one [[lshProbeAppend]] of the
    * batch, whether the index lives in memory or as a stored table
    * ([[writeLshIndex]]). */
  def lshIndexBuild(docs: DataFrame, idCol: Column, textCol: Column,
      n: Int, numHashes: Int, bands: Int): (DataFrame, DataFrame) = {
    val signed = signedSets(docs, idCol, textCol, n, numHashes)
    (signedBands(signed, numHashes, bands), signed.select(col("id"), col("sh")))
  }

  /** Persist an LSH index as a VERSIONED stored table
    * (`path/v=<version>/{bands,sets}` parquet) — the sketch-table / stored-
    * IVF architecture applied to the text near-dup lane. At 100 TB the
    * shingle+signature pass is the expensive corpus scan; the stored form
    * pays it once, and each crawl batch is batch-sized work
    * ([[lshProbeAppend]]). Production layout note: bucket `bands` by
    * (band_id, band_hash) so probes co-locate without a shuffle. */
  def writeLshIndex(bandsDf: DataFrame, setsDf: DataFrame,
      path: String, version: Long): Unit = {
    bandsDf.write.mode("overwrite").parquet(s"$path/v=$version/bands")
    setsDf.write.mode("overwrite").parquet(s"$path/v=$version/sets")
  }

  def readLshIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      version: Long): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/v=$version/bands"),
      spark.read.parquet(s"$path/v=$version/sets"))

  /** One crawl-batch generation against a STORED LSH index: the batch
    * signs only itself, probes the stored band rows (plus its own, so
    * batch-batch pairs surface), exact-verifies against the stored shingle
    * sets, and returns (pairs, bands', sets') where the primed relations
    * are the appended next index generation (write them as v+1). Emitted
    * pairs all touch the batch; generations partition the full pair set
    * (a corpus×batch pair belongs to the batch's generation), so chaining
    * generations yields exactly the all-pairs result restricted to
    * new-doc-touching pairs — the oracle gate — while the standing corpus
    * is never re-signed and never re-paired. Per batch the work is
    * O(batch bands ⋈ matching buckets), not O(corpus²) and not O(corpus).
    * Recall is the batch form's ([[minhashNearDupPairs]], identical
    * bands and threshold). */
  def lshProbeAppend(storedBands: DataFrame, storedSets: DataFrame,
      batchDocs: DataFrame, idCol: Column, textCol: Column,
      n: Int, numHashes: Int, bands: Int, thresholdPpm: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    // the batch signs ONCE: its signed rows feed the probe side, the build
    // side and the verify sets, and without the persist the shingle +
    // signature stage re-executes per consumer. Batch-sized; the lifecycle
    // is caller-managed (Verify/Bench clear the cache between queries, a
    // long-lived per-batch loop clears it between batches).
    val signed = signedSets(batchDocs, idCol, textCol, n, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newBands = signedBands(signed, numHashes, bands)
    val newSets = signed.select(col("id"), col("sh"))
    val probe = newBands.select(col("band_id"), col("band_hash"), col("doc_id").as("p_id"))
    val build = storedBands.unionByName(newBands)
      .select(col("band_id"), col("band_hash"), col("doc_id").as("q_id"))
    // cands is PAIR-sized: persist it — it feeds the touched-id census
    // below AND the verify joins, and recomputing it replays the banded
    // probe join per consumer
    val cands = probe.join(build, Seq("band_id", "band_hash"))
      .filter(col("p_id") =!= col("q_id"))
      .select(least(col("p_id"), col("q_id")).as("a_id"),
        greatest(col("p_id"), col("q_id")).as("b_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val allSets = storedSets.unionByName(newSets)
    // verify ONLY docs that appear in a candidate pair: the stored sets
    // relation is CORPUS-sized and [[jaccardVerify]] re-hashes and persists
    // whatever it is given — unrestricted, every probe batch paid a
    // full-corpus shingle-hash pass, exactly the O(corpus) work the
    // stored-index contract exists to avoid. Candidate ids are the batch
    // plus its matched stored docs — batch-scale — so the semi-join
    // broadcasts (the lshApplyDeletes posture) and the verify inputs shrink
    // from corpus to candidate volume with the pair output provably
    // unchanged (both sides of every candidate pair survive the semi-join).
    val touched = cands.select(col("a_id").as("id"))
      .unionByName(cands.select(col("b_id").as("id"))).distinct()
    val verifySets = allSets.join(broadcast(touched), Seq("id"), "left_semi")
    (jaccardVerify(cands, verifySets, "id", "sh", thresholdPpm),
      storedBands.unionByName(newBands), allSets)
  }

  /** Fold CDC DELETEs into a stored LSH index: anti-join BOTH stored
    * relations on the deleted ids, producing the next generation — the
    * reference's versioned-mutation philosophy applied to the index tables
    * (a row's deletion must be visible to every read after it, here "read"
    * = a near-dup probe). Both relations are keyed rows per doc, so
    * removing a doc's rows removes exactly its band postings and its
    * verify set: probing the new generation is IDENTICAL to probing an
    * index rebuilt from the surviving corpus (oracle-gated as
    * `dedup_lsh_cdc`) — no residue, no recall effect on surviving pairs.
    * Cost: the delete-id set broadcasts (batch-sized) against one
    * column-pruned pass over each stored relation; the standing corpus is
    * never re-signed. IDEMPOTENT under redelivery — re-deleting an absent
    * id is a no-op — so this member of the maintenance family needs no
    * fence (k-min/minmax class, not the xor/SpaceSaving class). */
  def lshApplyDeletes(storedBands: DataFrame, storedSets: DataFrame,
      deletedIds: DataFrame, idCol: Column): (DataFrame, DataFrame) = {
    val del = broadcast(deletedIds.select(idCol.as("__del")).distinct())
    (storedBands.join(del, storedBands("doc_id") === del("__del"), "left_anti"),
      storedSets.join(del, storedSets("id") === del("__del"), "left_anti"))
  }

  /** SimHash: 64-bit signature where bit i is the sign of the weighted sum
    * of token-hash bits — near-dups differ in few bits. Native expression
    * ([[graft.functions.SimHash64Expr]]): one codegen'd pass over the token
    * array (the built-in formulation needs 64 aggregate traversals).
    * Hamming distance via bit_count(xor). */
  def simhash(text: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.toCol(graft.functions.SimHash64Expr(
      GraftBridge.toExpr(split(Text.normalized(text), " "))))
  }

  /** (id, sig, band_id, band_hash): each 64-bit simhash `sig` cut into
    * four 16-bit band values, one row per band. */
  private def simhashBands(docs: DataFrame): DataFrame =
    docs.select(col("id"), col("sig"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("band_id"),
          shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)).as("band_hash"))): _*)).as("band"))
      .select(col("id"), col("sig"), col("band.band_id"), col("band.band_hash"))

  /** Banded SimHash near-dup: bucket by 16-bit signature bands (any shared
    * band → candidate), verify by Hamming distance — the scale path that
    * replaces the all-pairs cross join. */
  def simhashNearDupPairs(df: DataFrame, idCol: Column, textCol: Column, maxHamming: Int): DataFrame = {
    val docs = df.select(idCol.as("id"), simhash(textCol).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = simhashBands(docs)
    val l = banded.select(col("band_id"), col("band_hash"), col("id").as("a_id"), col("sig").as("a_sig"))
    val r = banded.select(col("band_id"), col("band_hash"), col("id").as("b_id"), col("sig").as("b_sig"))
    l.join(r, Seq("band_id", "band_hash")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).as("hamming")).distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Hamming distance between two simhash signatures. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash over an arbitrary feature array (shingles, hashed features)
    * instead of raw tokens. Feature choice is the difference between a
    * working and a useless simhash on topical corpora: raw tokens are
    * shared across ALL same-domain documents (and repeated tokens vote
    * once per occurrence), so signature bits correlate corpus-wide and
    * band values concentrate into a handful of buckets; high-entropy
    * features (distinct word n-grams — the weighted-feature choice of
    * Manku et al., WWW'07) decorrelate the bits, which is what makes the
    * banded index selective. */
  def simhashOfFeatures(features: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.toCol(graft.functions.SimHash64Expr(GraftBridge.toExpr(features)))
  }

  /** The MinHash backstop of [[simhashVerifiedPairs]]: 64 hashes in 16
    * bands of 4 rows, the `dedup_minhash_lsh` configuration. */
  private val BackstopHashes = 64
  private val BackstopBands = 16

  /** SimHash-bucketed near-dup with EXACT n-gram-Jaccard verification: the
    * oracle-comparable form, built as a two-generator ensemble:
    *
    *  1. SimHash multiprobe bands (the Manku/Google web-dedup shape,
    *     "Detecting Near-Duplicates for Web Crawling", WWW'07): signatures
    *     over the DISTINCT SHINGLE set ([[simhashOfFeatures]] — raw-token
    *     signing correlates bits corpus-wide and degenerates the index
    *     into a near-all-pairs join; measured 3.4M vs 14k candidates on
    *     the same corpus); 4 bands of 16 bits, probe side additionally
    *     emitting every 1-bit flip of each band value, so any pair within
    *     Hamming distance 7 is GUARANTEED to collide (pigeonhole: ≤7
    *     errors over 4 bands leaves some band with ≤1 — covered by a
    *     1-flip probe).
    *  2. MinHash bands (same generator [[minhashNearDupPairs]] trusts,
    *     64 hashes in 16 bands)
    *     backstop the statistically weak tail: short documents at J ≥ 0.8
    *     can sit at Hamming 8-12 (few shingles → high sign variance), and
    *     a Jaccard-calibrated generator catches exactly those (miss odds
    *     2e-4 at J=0.8, vanishing at the J≥0.9 where true pairs live).
    *
    * Both generators are linear scans + fine-bucket self-joins; the exact
    * verify makes precision 1, so the output coincides with the all-pairs
    * [[ngramJaccardPairs]] at a fraction of its cost, and the shape holds
    * at 100 TB where any coarse-bucket or all-pairs formulation dies. */
  def simhashVerifiedPairs(df: DataFrame, idCol: Column, textCol: Column, n: Int,
                           thresholdPpm: Long): DataFrame = {
    val docs = shingleSets(df, idCol, textCol, n)
      .withColumn("sig", simhashOfFeatures(col("sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // generator 1: simhash 16-bit bands, 1-bit multiprobe on one join side
    val exact = simhashBands(docs)
    val probes = exact.select(col("id"), col("sig"), col("band_id"),
      explode(array((struct(col("band_hash").as("h"), lit(false).as("flipped")) +:
        (0 until 16).map(bit =>
          struct(col("band_hash").bitwiseXOR(lit(1L << bit)).as("h"),
            lit(true).as("flipped")))): _*)).as("p"))
      .select(col("id"), col("sig"), col("band_id"),
        col("p.h").as("band_hash"), col("p.flipped").as("flipped"))
    val simhashCands = exact.select(col("band_id"), col("band_hash"),
        col("id").as("a_id"), col("sig").as("a_sig"))
      .join(probes.select(col("band_id"), col("band_hash"), col("flipped"),
          col("id").as("b_id"), col("sig").as("b_sig")),
        Seq("band_id", "band_hash"))
      .filter(col("a_id") =!= col("b_id"))
      // Exactness-preserving prefilter, applied ONLY to probe-generated
      // (1-bit-flipped) candidates: the flip fan-out only exists to cover
      // Hamming ≤ 7 (pigeonhole over 4 bands), so flipped collisions beyond
      // 7 are noise by construction — and random 16-bit collisions between
      // unrelated docs sit at Hamming ~32, so two longs' worth of
      // bit_count(xor) kills the 17×4 multiprobe fan-out BEFORE the
      // distinct + shingle-array verify joins. EXACT (0-flip) band
      // collisions are exempt: they are this generator's original
      // deterministic guarantee, and cutting them would leave a true pair
      // at sig-Hamming ≥ 8 hanging on the probabilistic minhash backstop
      // alone — the oracle equality must not rest on 2e-4 odds.
      .filter(!col("flipped") ||
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))) <= 7)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
    // generator 2: minhash bands over the same shingle sets (the MinHash
    // signature takes the simhash's place as `sig` on this branch only)
    val signed = docs.withColumn("sig", minhashSignature(col("sh"), BackstopHashes))
    val minhashCands = lshCandidates(signedBands(signed, BackstopHashes, BackstopBands))
    jaccardVerify(simhashCands.unionByName(minhashCands).distinct(),
      docs, "id", "sh", thresholdPpm)
  }

  /** (doc_id, ord, chunk): each document cut into consecutive
    * `chunkTokens`-token chunks (the last one may be shorter), numbered
    * from 0 in document order. */
  private def tokenChunks(df: DataFrame, idCol: Column, textCol: Column,
      chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    val toks = col("__toks") // materialized attribute — see shingles() trap note
    val nChunks = ceil(size(toks).cast("double") / chunkTokens).cast("int")
    val chunkArr = transform(sequence(lit(0), nChunks - 1), i =>
      struct(i.as("ord"),
        array_join(slice(toks, i * chunkTokens + 1, lit(chunkTokens)), " ").as("chunk")))
    tokenized(df, idCol, textCol)
      .select(col("id").as("doc_id"), explode(chunkArr).as("c"))
      .select(col("doc_id"), col("c.ord").as("ord"), col("c.chunk").as("chunk"))
  }

  /** Sub-document exact dedup (the MassiveText/Gopher "repeated passage"
    * cleanup, Rae et al. 2021): split each document into fixed-size token
    * chunks (the flat-text analog of paragraphs — pass pre-split paragraph
    * ordinals through the same keep-first rule when the corpus has real
    * `\n\n` structure), keep only the FIRST occurrence of each distinct
    * chunk corpus-wide (ordered by doc id, then position), and reassemble
    * the surviving chunks in document order. Returns per-doc
    * (n_chunks, n_kept, deduped_text).
    *
    * Scale shape: one shuffle keyed by chunk content for the keep-first
    * window (duplicate groups are tiny, so the per-group sort is O(dups)),
    * one hash-agg back to doc id for reassembly. No joins, no quadratic
    * step anywhere; at 100 TB the chunk shuffle is the cost and it is the
    * minimum any exact sub-document dedup must pay. */
  def chunkDedup(df: DataFrame, idCol: Column, textCol: Column, chunkTokens: Int): DataFrame = {
    val exploded = tokenChunks(df, idCol, textCol, chunkTokens)
    val firstSeen = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk")).orderBy(col("doc_id"), col("ord"))
    exploded.withColumn("__rn", row_number().over(firstSeen))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops the nulls `when` leaves for non-kept chunks;
        // array_sort orders the (ord, chunk) structs by ord — document order
        array_join(transform(
          array_sort(collect_list(when(col("__rn") === 1, struct(col("ord"), col("chunk"))))),
          c => c.getField("chunk")), " ").as("deduped_text"))
  }

  /** Corpus-frequency boilerplate stripping (the C4/CCNet "line repeated
    * across many pages" rule, applied at chunk granularity): a fixed-width
    * token chunk occurring in MORE than `maxDf` distinct documents is
    * boilerplate (navigation, legal footers, cookie banners) and is
    * removed from EVERY document — including its first occurrence, which
    * is what distinguishes this from [[chunkDedup]]'s keep-first rule
    * (dedup keeps one copy of genuine content; boilerplate deserves
    * none). Returns per-doc (n_chunks, n_dropped, clean_text) with
    * survivors reassembled in document order.
    *
    * Scale shape: the document-frequency count is a hash-aggregate over
    * the chunk key (map-side partial combine bounds per-task input under
    * the Zipf skew boilerplate by definition has — a window count would
    * land every occurrence of a hot chunk on one task), and the HOT set —
    * df > maxDf, a sliver of distinct chunks by construction — broadcasts
    * into a scan-local anti-join. The corpus never reshuffles by chunk a
    * second time. */
  def stripCommonChunks(df: DataFrame, idCol: Column, textCol: Column,
      chunkTokens: Int, maxDf: Int): DataFrame = {
    require(maxDf >= 1, "maxDf must be >= 1")
    val exploded = tokenChunks(df, idCol, textCol, chunkTokens)
    val hot = exploded.groupBy(col("chunk"))
      .agg(count_distinct(col("doc_id")).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("chunk"), lit(1L).as("__hot"))
    exploded.join(broadcast(hot), Seq("chunk"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__hot").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("__hot").isNull, struct(col("ord"), col("chunk"))))),
          c => c.getField("chunk")), " ").as("clean_text"))
  }

  /** Duplicated-span statistics (the detection half of exact substring
    * dedup, Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better"): every POSITIONAL token n-gram of every document (a
    * multiset, unlike [[shingles]]' distinct set) is counted corpus-wide;
    * a span occurring ≥ 2 times anywhere is a duplicated span. Returns
    * per-doc (n_spans, n_dup_spans, dup_ppm) — the memorization-risk score
    * used to rank documents for removal or span-level surgery.
    *
    * Scale shape: global counts run over the 64-BIT HASH of the span
    * (ships fixed-width longs, not n-token strings; distinct spans →
    * distinct hashes at ~1e-13/pair collision odds, the same contract
    * [[jaccardVerify]]'s hashed intersects ride) as a
    * `groupBy(span_h).count()` — NOT a span-partitioned window: span
    * n-grams are Zipf-distributed, and a window count has no map-side
    * combine, so a boilerplate span occurring in 10% of documents lands
    * every occurrence on ONE task. The hash-aggregate's partial (map-side)
    * combine bounds per-task input regardless of span skew; the dup set
    * (count ≥ 2, typically a sliver of distinct spans) left-joins back —
    * that join pays the span shuffle a second time, but it carries
    * combined counts on one side and is AQE-skew-splittable, where a
    * skewed window partition is not. */
  def dupSpanStats(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    val spans = tokenized(df, idCol, textCol)
      .select(col("id").as("doc_id"), explode(spanHashes(col("__toks"), n)).as("span_h"))
    // spans is consumed twice (count side + join side) — recomputing the
    // narrow scan+explode beats persisting the exploded multiset, which at
    // 100 TB is ~n× the corpus and would spill its entirety to disk
    val dupSpans = spans.groupBy(col("span_h"))
      .agg(count(lit(1)).as("__gc")).filter(col("__gc") >= 2)
    spans.join(dupSpans, Seq("span_h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__gc").isNotNull, 1L).otherwise(0L)).as("n_dup_spans"),
        floor(sum(when(col("__gc").isNotNull, 1L).otherwise(0L)).cast("double") * lit(1000000.0d) /
          count(lit(1))).cast("long").as("dup_ppm"))
  }

  /** Embedding near-dup: pairs with cosine above threshold. Exact/quadratic;
    * for the 100 TB path see Similarity.lshCosineCandidates which buckets by
    * random hyperplane signs first. */
  def embeddingNearDupPairs(df: DataFrame, idCol: Column, vecCol: Column, threshold: Double): DataFrame = {
    val docs = df.select(idCol.as("id"), transform(vecCol, x => x.cast("double")).as("v"))
    val a = docs.select(col("id").as("a_id"), col("v").as("a_v"))
    val b = docs.select(col("id").as("b_id"), col("v").as("b_v"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("cos_sim", round(Similarity.cosine(col("a_v"), col("b_v")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("a_id", "b_id", "cos_sim")
  }

  /** Exact embedding near-dup as a TILED BLOCK PRODUCT — the honest scale
    * shape for LOW thresholds. Hyperplane LSH selectivity comes from the
    * per-plane agreement gap (1−θ/π vs 1/2 for noise); at cos ≈ 0.4 that
    * gap is 0.63 vs 0.5 — a 1.26^k ratio no band/row configuration turns
    * into a filter before recall collapses (measured: 32×3-plane bands
    * pass 98% of ALL pairs while "filtering"). An exact threshold-join in
    * that regime is inherently Ω(n²) dot products, and the scale-correct
    * execution is the tiled self-product: Spark's cartesian streams
    * tile-pairs (each task one block pair, arrays deserialized once per
    * tile), norms precomputed per row so each pair costs ONE codegen'd
    * native dot ([[graft.functions.DotProductExpr]]) and a divide, in the
    * oracle's exact float-op order — dot/(|a|·|b|). Use
    * [[embeddingNearDupLsh]] instead when the threshold is high enough
    * (≳0.7) for banding to be selective.
    *
    * PRODUCTION RECIPE at low thresholds: this exact form is the
    * adjudicated ground truth, not the 100 TB path — use [[semanticDedup]]
    * (SemDeDup, `dedup_semantic`), whose Σn_c² within-cluster work
    * replaces the n² product and whose recall trade is re-measured every
    * run by the `dedup_semantic_recall` harness. */
  def embeddingNearDupBlocked(df: DataFrame, idCol: Column, vecCol: Column,
                              threshold: Double): DataFrame = {
    val docs = df.select(idCol.as("id"), transform(vecCol, x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
    val a = docs.select(col("id").as("a_id"), col("v").as("a_v"), col("nrm").as("a_n"))
    val b = docs.select(col("id").as("b_id"), col("v").as("b_v"), col("nrm").as("b_n"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("cos_sim",
        round(Similarity.dot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("a_id", "b_id", "cos_sim")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * cluster-then-compare — assign every embedding to its nearest centroid
    * (one scan-local codegen'd argmax, [[Similarity.ivfAssign]]), compare
    * pairs ONLY within a cluster, and drop every row with a same-cluster
    * neighbor at cosine ≥ `threshold` and a smaller id (a deterministic
    * keep rule; the paper keeps the member farthest from the centroid —
    * any total order works, and lowest-id is reproducible across runs and
    * engines). Output: (vec_id, centroid_id, kept) for every input row.
    *
    * Scale shape — this IS the published 100 TB recipe for embedding dedup
    * at thresholds where hyperplane banding has no selectivity (see
    * [[embeddingNearDupBlocked]]'s measurement): the within-cluster
    * product costs Σ n_c² ≪ n² dot products for any reasonable k, each
    * cluster's block is an independent task, and the only wide ops are the
    * two shuffles on centroid_id.
    *
    * Join parallelism: centroid_id alone has only k distinct values, but
    * that caps nothing in practice — when one side fits the broadcast
    * threshold the pair join plans as a BroadcastHashJoin (parallelism =
    * left partitions, key count irrelevant; measured: the default plan
    * here), and when both sides are corpus-scale the shuffle join's hot
    * partitions are split adaptively by AQE's skew-join rule. (A static
    * block salt on the join key was measured 27% SLOWER at ×10, since
    * under a broadcast plan it only multiplies the broadcast payload; it
    * is not offered.) Precision is exact (native dot, round-6
    * cosine — the oracle's float-op order); recall is bounded by the
    * clustering, which is the algorithm's documented trade. Building the
    * result runs the assignment once and keeps it ([[Materialize]]). */
  def semanticDedup(df: DataFrame, idCol: Column, vecCol: Column,
                    centroids: DataFrame, threshold: Double): DataFrame = {
    // materialize the assigned relation ONCE: it feeds both pair-join
    // sides AND the final kept-flag join — unmaterialized, each of the
    // three references replays the O(n·c·dim) assignment scan (n^1.5 at
    // the derived c ≈ √n).
    val assigned = Materialize(Similarity.ivfAssign(df, idCol, vecCol, centroids)
      .withColumn("__sd_n", sqrt(Similarity.dot(col("v"), col("v")))))
    val right = assigned.select(col("centroid_id"), col("vec_id").as("__sd_bid"),
      col("v").as("__sd_bv"), col("__sd_n").as("__sd_bn"))
    // a row drops iff a smaller-id same-cluster neighbor clears the
    // threshold; distinct before the flag join so multi-witness rows count
    // once. Norms precompute per row — each candidate pair costs ONE
    // codegen'd native dot plus a divide, in dot/(|a|·|b|) oracle order.
    val dropped = assigned.join(right, Seq("centroid_id"))
      .filter(col("__sd_bid") < col("vec_id") &&
        round(Similarity.dot(col("v"), col("__sd_bv")) /
          (col("__sd_n") * col("__sd_bn")), 6) >= threshold)
      .select("vec_id").distinct()
    assigned.join(dropped.withColumn("__sd_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        coalesce(col("__sd_dup"), lit(false)) === lit(false) as "kept")
  }

  /** Embedding near-dup via banded random-hyperplane LSH. Each band signs
    * the vector against its own hyperplane family; a pair becomes a
    * candidate when ALL sign bits of at least one band agree; exact cosine
    * verifies candidates only. Precision is exact (same filter as
    * [[embeddingNearDupPairs]]); recall < 1 by construction and rises with
    * `bands`. Work is linear scans + a shuffle on (band, bucket). This is
    * the right 100 TB shape when the threshold is HIGH (≈0.8+: per-plane
    * agreement ≈0.9 vs 0.5 noise — bands of 8+ planes are sharp filters);
    * for low thresholds see [[embeddingNearDupBlocked]]. */
  def embeddingNearDupLsh(df: DataFrame, idCol: Column, vecCol: Column, threshold: Double,
                          bands: Int = 32, planesPerBand: Int = 3): DataFrame = {
    // Persist vectors WITH their precomputed norms: verification then costs
    // one dot per candidate pair (native DotProductExpr) plus a scalar
    // divide, and the cosine is computed in the exact float-op order of the
    // all-pairs form — dot(a,b)/(|a|·|b|) — so verified scores are
    // bit-identical to [[embeddingNearDupPairs]] and the DuckDB oracle.
    // Bucketing uses the raw vectors (hyperplane signs are scale-invariant).
    // 32 bands × 3 planes: at cos 0.4 (the weakest verified pairs)
    // p_agree ≈ 0.63 per plane → per-band 0.25 → miss ≈ (1-0.25)^32 ≈ 1e-4
    // per pair; every true pair in the driver datasets is recalled, so the
    // exact-formulation oracle hash-matches. The persist also stops
    // multi-consumer re-execution; at 100 TB it becomes a checkpoint.
    def dot(x: Column, y: Column): Column = Similarity.dot(x, y)
    val docs = df.select(idCol.as("id"), transform(vecCol, x => x.cast("double")).as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one (doc_id, band_id, band_hash) row per band, the bucket being the
    // band's sign bits — the MinHash band shape, so the banded self-join
    // is [[lshCandidates]]
    val sigs = array((0 until bands).map(b =>
      struct(lit(b).as("band_id"),
        Similarity.hyperplaneSignature(col("v"), planesPerBand, b * planesPerBand)
          .as("band_hash"))): _*)
    val banded = docs.select(col("id").as("doc_id"), explode(sigs).as("bb"))
      .select(col("doc_id"), col("bb.band_id"), col("bb.band_hash"))
    lshCandidates(banded)
      .join(docs.select(col("id").as("a_id"), col("v").as("a_v"), col("n").as("a_n")), "a_id")
      .join(docs.select(col("id").as("b_id"), col("v").as("b_v"), col("n").as("b_n")), "b_id")
      .withColumn("cos_sim", round(dot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("a_id", "b_id", "cos_sim")
  }

  /** Dedup resolution: map every node of the duplicate-pair graph to the
    * MINIMUM id in its connected component — min-label propagation iterated
    * to fixpoint, so chained clusters (A–B, B–C) resolve C→A, not C→B.
    *
    * Each round a node pulls the smallest label among (a) its own, (b) its
    * neighbors', and (c) its LABEL's label — the pointer-doubling hop of
    * parallel connectivity (Shiloach/Vishkin shape), which cuts convergence
    * from O(diameter) to O(log diameter) rounds for chained clusters at the
    * cost of one extra self-join on the (tiny) label table. The changed
    * count rides on the `old` column carried through the round, so the
    * convergence test is a filter on the already-materialized result — no
    * per-round join against the previous labels. The driver only ever sees
    * that count, never the data. At adversarial diameters the same loop
    * shape takes the alternating large-star / small-star optimization
    * (Kiveris et al., "Connected Components in MapReduce"); for crawl-dedup
    * graphs this converges in 2-3 rounds. */
  def resolveCanonical(pairs: DataFrame, maxRounds: Int = 100): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // edges are re-read every round but their plan never grows — persist.
    // Symmetrization is explode-based (round-11, the resolveCanonicalStars
    // form): the union referenced the upstream candidate-generation +
    // verify pipeline once per branch, so the persist's one materialization
    // job ran it twice.
    val edges = pairs.select(explode(array(
        struct(col("a_id").as("id"), col("b_id").as("peer")),
        struct(col("b_id").as("id"), col("a_id").as("peer")))).as("p"))
      .select(col("p.id").as("id"), col("p.peer").as("peer"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Lineage bookkeeping: each round references the previous labels three
    // times (peer join + both sides of the pointer-doubling self-join), so
    // the LOGICAL plan quadruples per round even though execution reads the
    // persisted cache — left unchecked the driver OOMs just PRINTING the
    // plan by round ~8. But truncating EVERY round (localCheckpoint) costs
    // too: Dataset.checkpoint compiles via toRdd, bypassing AQE's final
    // coalescing, so every round runs wide tiny tasks. Compromise: persist
    // (fast path, AQE intact) with a lineage CUT every TRUNCATE_EVERY
    // rounds — plan size stays ≤ 4^TRUNCATE_EVERY base copies, and graphs
    // that converge quickly (crawl dedup: 2-4 rounds) never pay a cut.
    // At 100 TB the cut becomes reliable checkpoint() to DFS.
    val TruncateEvery = 4
    import StorageLevel.MEMORY_AND_DISK
    // `cached` is always the EXACT persisted plan (unpersist is plan-keyed —
    // on a projection of it, unpersist silently no-ops and leaks the entry)
    var cached = edges.groupBy(col("id"))
      .agg(least(min(col("peer")), min(col("id"))).as("canonical_id"))
      .persist(MEMORY_AND_DISK)
    var labels = cached
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val viaPeers = edges
        .join(labels.select(col("id").as("peer"), col("canonical_id").as("peer_label")), "peer")
        .groupBy(col("id")).agg(min(col("peer_label")).as("peer_min"))
      // pointer doubling: resolve each node's label through its label's label
      val hop = labels.join(
        labels.select(col("id").as("canonical_id"), col("canonical_id").as("label_label")),
        Seq("canonical_id"), "left")
      val merged = hop.join(viaPeers, Seq("id"), "left")
        .select(col("id"), col("canonical_id").as("old"),
          least(col("canonical_id"),
            coalesce(col("label_label"), col("canonical_id")),
            coalesce(col("peer_min"), col("canonical_id")))
            .as("canonical_id"))
      val next =
        if (rounds % TruncateEvery == TruncateEvery - 1) merged.localCheckpoint(false)
        else merged.persist(MEMORY_AND_DISK)
      changed = next.filter(col("canonical_id") =!= col("old")).count()
      cached.unpersist()
      cached = next
      labels = next.select(col("id"), col("canonical_id"))
      rounds += 1
    }
    edges.unpersist()
    // unconverged labels are WRONG labels (members map to chain
    // intermediates, not the component minimum) — fail loudly rather than
    // hand corrupt canonicals downstream; a graph needing this many rounds
    // wants the large-star/small-star formulation, not a bigger cap
    if (changed > 0) {
      cached.unpersist() // callers get no handle to it — reclaim before failing
      throw new IllegalStateException(
        s"resolveCanonical did not converge in $maxRounds rounds " +
          s"($changed labels still changing); component diameter exceeds the " +
          "min-propagation budget — raise maxRounds or switch to " +
          "[[resolveCanonicalStars]] (alternating large-star/small-star)")
    }
    labels
  }

  /** (span_h): the DISTINCT positional n-gram span hashes of an eval set —
    * the side both span-decontamination kernels broadcast. */
  private def evalSpanSet(eval: DataFrame, evalText: Column, n: Int): DataFrame =
    tokenized(eval, lit(0L), evalText)
      .select(explode(spanHashes(col("__toks"), n)).as("span_h")).distinct()

  /** Span-level decontamination (the GPT-3/PaLM rule): a training doc is
    * contaminated wherever ANY of its token n-grams also occurs in the
    * eval set — stricter than doc-level Jaccard, which misses a verbatim
    * eval question quoted inside a long page. Returns per-train-doc
    * (n_spans, n_contaminated, contam_ppm); downstream either drops the
    * doc or surgically removes the spans.
    *
    * Scale shape: the eval side collapses to its DISTINCT span-hash set
    * (benchmark suites are tiny next to a corpus — typically broadcast);
    * the train side streams its positional spans through one semi-join on
    * the 64-bit hash and one doc hash-agg. No shuffle of the train corpus
    * beyond the span join. */
  def spanContamination(train: DataFrame, trainId: Column, trainText: Column,
                        eval: DataFrame, evalText: Column, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    val trainSpans = tokenized(train, trainId, trainText)
      .select(col("id").as("doc_id"), explode(spanHashes(col("__toks"), n)).as("span_h"))
    val evalSpans = evalSpanSet(eval, evalText, n)
    trainSpans
      .join(broadcast(evalSpans.withColumn("__hit", lit(1))), Seq("span_h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("__hit"), lit(0))).as("n_contaminated"),
        floor(sum(coalesce(col("__hit"), lit(0))).cast("double") * lit(1000000.0d) /
          count(lit(1))).cast("long").as("contam_ppm"))
  }

  /** Span SURGERY — the removal step pipelines run after
    * [[spanContamination]] counts: every token position covered by ANY
    * n-gram the doc shares with the eval set is cut, and the surviving
    * tokens reassemble in order (the doc is kept, minus the quoted eval
    * material). Returns per-train-doc (n_tokens, n_removed, clean_text).
    *
    * Scale shape: identical to the counter — eval collapses to a broadcast
    * distinct span-hash set; the train side pays one positional-span
    * semi-join and one doc hash-agg of dirty starts (tiny: only HITS
    * aggregate), then the cut is a per-row lambda over the token array.
    * The start list rides a broadcast-sized column per doc; no token ever
    * shuffles. */
  def removeContaminatedSpans(train: DataFrame, trainId: Column, trainText: Column,
                              eval: DataFrame, evalText: Column, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    val toks = col("__toks")
    val trainSpans = tokenized(train, trainId, trainText)
      .select(col("id").as("doc_id"),
        posexplode(spanHashes(col("__toks"), n)).as(Seq("start", "span_h")))
    val evalSpans = evalSpanSet(eval, evalText, n)
    val dirty = trainSpans
      .join(broadcast(evalSpans), Seq("span_h"))
      .groupBy(col("doc_id")).agg(collect_set(col("start")).as("__dirty"))
    val starts = coalesce(col("__dirty"), array().cast("array<int>"))
    val kept = filter(toks, (t, p) =>
      !exists(starts, s => p >= s && p < s + n))
    tokenized(train, trainId, trainText)
      .join(dirty, col("id") === dirty("doc_id"), "left")
      .select(col("id").as("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        (size(toks) - size(kept)).cast("long").as("n_removed"),
        array_join(kept, " ").as("clean_text"))
  }

  /** Cluster-representative selection: keep the BEST member of each
    * duplicate cluster by an explicit quality score (keep-first — min id —
    * throws away the highest-quality copy whenever crawl order and quality
    * disagree, which is the common case). Ties break toward the smaller id,
    * so selection is deterministic. One broadcast-or-shuffle join to attach
    * scores plus one hash-agg per cluster; composes with either resolver's
    * (id, canonical_id) output. */
  def keepBest(labels: DataFrame, scored: DataFrame, idColName: String,
               scoreCol: Column): DataFrame = {
    val withScore = labels.join(
      scored.select(col(idColName).as("id"), scoreCol.as("__score")), "id")
    // argmax via struct-min: min(-score, id) = highest score, then lowest id
    val best = withScore.groupBy(col("canonical_id"))
      .agg(min(struct((-col("__score")).as("ns"), col("id").as("bid")))
        .getField("bid").as("keeper_id"))
    labels.join(best, "canonical_id")
      .select(col("id"), col("canonical_id"), col("keeper_id"))
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * the adversarial-diameter fallback to [[resolveCanonical]]. Same
    * (id, canonical_id) contract for every real pair; degenerate SELF-pairs
    * (a_id = b_id) are dropped here (a singleton is not a duplicate
    * cluster) where propagation would emit an identity row — LSH candidate
    * generators only ever produce strict pairs, so pipelines see no
    * difference. Prefer plain propagation for crawl-dedup graphs (shallow
    * components, fewer shuffles per round).
    *
    * Each round rewrites the edge set itself (not a label table):
    *  - large-star: for every node u, connect each STRICTLY-LARGER
    *    neighbor to u's minimum neighbor-or-self m(u) — hangs heavy
    *    subtrees directly under local minima;
    *  - small-star: connect each ≤-neighbor (and u itself) to m(u) —
    *    flattens the remaining shallow tendrils.
    * Both emit only (min, other) edges, so the edge multiset shrinks
    * toward a star per component; convergence (edge set = star forest,
    * detected by an unchanged edge-count pair signature) takes
    * O(log² n) rounds worst-case against ANY graph shape, vs
    * O(diameter) for propagation. A round is exactly three exchanges —
    * two neighborhood groupBys (large then small star) and one round-end
    * distinct; no dedup between the stars, because large-star's emission
    * volume is EXACTLY the directed edge count whether or not duplicates
    * are collapsed first (each (u,w>u) input pair emits one (m(u),w)),
    * so the intermediate distinct bought nothing and cost a shuffle. */
  def resolveCanonicalStars(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    // Lineage regime: star() references its input several times, so the
    // logical plan quadruples per round and AQE replans the WHOLE chain at
    // every action — measured 3-6× per-round overhead under persist() even
    // with the data cached. localCheckpoint after EVERY round keeps each
    // round's plan constant-size (0.5 s rounds vs 3.5 s on the sf0.1
    // co-purchase graph). On a cluster, swap for reliable checkpoint() to
    // DFS at the same cadence if executor loss during the (short) round
    // window matters; old rounds are released by the ContextCleaner as the
    // reference moves.
    // undirected edge multiset as (u, v) both ways, deduplicated.
    // Symmetrization is EXPLODE-based, not a self-union (round-11): a
    // union references the upstream pipeline twice and Spark executes both
    // branches — for the candidate-pair feeds this kernel gets (banded
    // near-dup joins), that doubled the input pass; the 2-element array
    // explode emits both directions in one pass (measured 2.4 → 2.0 s warm
    // / 5.0 → 2.7 s cold per contraction on the sf0.1 phash-cluster feed,
    // labels bit-identical).
    def bothWays(df: DataFrame, a: String, b: String): DataFrame =
      df.select(explode(array(
          struct(col(a).as("u"), col(b).as("v")),
          struct(col(b).as("u"), col(a).as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
    var edges = bothWays(pairs, "a_id", "b_id")
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(false)
    // star ops share one shape: group u's neighborhood, take m = min(v, u),
    // re-emit (m, w) for the selected subset of neighbors w
    def star(e: DataFrame, large: Boolean, dedup: Boolean): DataFrame = {
      val grouped = e.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"), collect_list(col("v")).as("nbrs"))
      // selection in its own projection: a lambda referencing a sibling
      // select-list alias trips lateral-column-alias resolution
      val withSel = grouped.select(col("u"), col("m"),
        (if (large) filter(col("nbrs"), w => w > col("u"))
         else array_union(filter(col("nbrs"), w => w <= col("u")), array(col("u")))).as("sel"))
      val emitted = withSel.select(col("m"), explode(col("sel")).as("w"))
        .filter(col("m") =!= col("w"))
      // same explode-based symmetrization as the input edge set: the union
      // form re-executed the whole groupBy+explode pipeline once per branch
      val sym = bothWays(emitted, "w", "m")
      if (dedup) sym.distinct() else sym
    }
    def signature(e: DataFrame) =
      e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).collect()(0)
    var prevSig = signature(edges)
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      val round = star(star(edges, large = true, dedup = false),
        large = false, dedup = true)
      val next = round.localCheckpoint(false)
      // convergence: after small-star, a star forest maps to itself —
      // detect via an order-insensitive signature of the edge multiset
      val sig = signature(next)
      stable = sig == prevSig
      prevSig = sig
      edges = next
      rounds += 1
    }
    if (!stable) {
      throw new IllegalStateException(
        s"resolveCanonicalStars did not converge in $maxRounds rounds")
    }
    // star forest: every edge is (member, min) or (min, member); canonical =
    // min neighbor-or-self, and roots map to themselves
    val labels = edges.groupBy(col("u").as("id"))
      .agg(least(min(col("v")), first(col("u"))).as("canonical_id"))
    labels
  }

  /** Fuzzy self-join at edit distance ≤ 1 via the deletion neighborhood
    * (the SymSpell reduction, Garbe 2012; the same 1-deletion-neighborhood
    * blocking appears in FastSS, Bocek et al. 2007): two strings are
    * within Levenshtein distance 1 IFF they share a member of each other's
    * {self} ∪ {one-char-deleted variants} set — a substitution deletes the
    * same position from both, an insert/delete makes one string a variant
    * of the other. So candidate generation is an EQUI-join on the variant
    * key (length+1 keys per row), and an exact `levenshtein ≤ 1`
    * post-filter removes the false candidates the blocking admits (e.g.
    * transpositions like "ab"/"ba" share variants at distance 2). Output
    * is therefore EXACT — identical to the all-pairs filter — while the
    * shuffle moves O(n·len) keyed rows instead of n² pairs.
    *
    * 100 TB posture: one exchange on the variant key; hot keys (short or
    * templated strings) behave like any skewed join key — salt or cap via
    * a document-frequency prune upstream if the blocking key distribution
    * requires it. The n² form this replaces is the cartesian the brief
    * forbids. */
  def editDistance1Pairs(df: DataFrame, idCol: Column, strCol: Column): DataFrame = {
    val base = df.select(idCol.as("id"), strCol.as("s"))
    // blocking key = 64-bit hash of each deletion VARIANT STRING (plus the
    // undeleted string itself), with NO position marker — deleting the same
    // character at different positions collapses to one key, which only
    // widens the candidate set (never narrows it); the exact levenshtein
    // post-filter keeps the result identical to the all-pairs form. The
    // 8-byte hash key shuffles instead of a ~len-byte string, and a hash
    // collision likewise only admits one more candidate for the post-filter
    val variants = base.select(col("id"), col("s"), explode(array_distinct(
        concat(array(xxhash64(col("s"))),
          expr("transform(sequence(1, length(s)), i -> " +
            "xxhash64(concat(substr(s, 1, i - 1), substr(s, i + 1, length(s)))))"))))
      .as("v"))
    val a = variants.select(col("id").as("id_a"), col("s").as("s_a"), col("v"))
    val b = variants.select(col("id").as("id_b"), col("s").as("s_b"), col("v"))
    a.join(b, Seq("v")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "s_a", "s_b").distinct()
      .filter(levenshtein(col("s_a"), col("s_b")) <= 1)
  }

  /** EXACT Jaccard set-similarity self-join by PREFIX FILTERING (the
    * AllPairs/PPJoin family — Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08): the exact-result counterpart to MinHash banding. Element
    * sets are ordered by a GLOBAL rare-element-first total order
    * (ascending document frequency, ties lexical), and each set exposes
    * only its first `|s| − ⌈θ·|s|⌉ + 1` elements as join keys. Soundness:
    * a pair with J(A,B) ≥ θ has overlap ≥ ⌈θ/(1+θ)·(|A|+|B|)⌉ ≥
    * ⌈θ·max(|A|,|B|)⌉, and two sets with overlap α must collide within
    * their (len − α + 1)-prefixes — so every qualifying pair surfaces as
    * a candidate (exact recall), while the rare-first order makes prefix
    * elements the least-shared ones (small candidate volume). A size
    * filter (|B| ≥ θ|A|, integer ppm form — J ≥ θ forces it) prunes
    * before the exact [[setJaccard]] count decides. Never all-pairs:
    * candidate volume is Σ_prefix-element df², bounded by the θ-driven
    * prefix length and the frequency order, vs n² for the naive form
    * (the oracle).
    *
    * `setCol` picks the set definition, and it MATTERS: prefix filtering
    * lives off element-frequency spread. Over a degenerate vocabulary it
    * has nothing to work with — on the synthetic corpus (31 distinct
    * WORDS) word sets produce 44.7M candidates for 5000 docs (measured;
    * every element ubiquitous), while trigram [[shingles]] of the same
    * corpus spread to a 27k vocabulary, hottest df 25, and the SAME
    * θ=0.8 prefix yields 300k candidates for 256 true pairs. Shingle
    * sets are the near-dup default (the MinHash family's set definition);
    * word sets fit naturally-large vocabularies (tags, hostnames, query
    * terms).
    *
    * Integer surface throughout (decimal-surface rule): intersection and
    * union sizes as BIGINT, similarity as (i·1e6) div u ppm.
    *
    * Scale shape: set build + distinct (one exchange), df count (one
    * exchange over distinct elements, map-side combined), per-doc sort
    * (one exchange), prefix-element equi-join (shuffle on element — the
    * rare-first order keeps hot elements OUT of prefixes, which is this
    * algorithm's skew story), pair dedup (one exchange on candidate
    * volume). The exact verify is scan-local on sorted arrays. */
  def jaccardJoin(df: DataFrame, idCol: Column, setCol: Column,
                  thresholdPpm: Long): DataFrame = {
    require(thresholdPpm > 0 && thresholdPpm < 1000000L,
      s"thresholdPpm must be in (0, 1e6), got $thresholdPpm")
    val toks = df.select(idCol.as("id"),
        array_distinct(setCol).as("tks"))
      .filter(size(col("tks")) > 0)
    val tok = toks.select(col("id"), explode(col("tks")).as("tk"))
    val dfreq = tok.groupBy("tk").agg(count(lit(1)).as("tdf"))
    // global rare-first order: (df asc, token asc) — struct sort is
    // lexicographic, and per-doc tokens are distinct so the order is total
    // persisted (the minhashNearDupPairs posture): this relation feeds the
    // prefix explode AND both verify-join sides — three references, each
    // otherwise replaying the tokenize + df-order + collect pipeline.
    // CACHE LIFECYCLE (documented leak): no unpersist — the entry lives
    // until the caller clears it (Bench/Verify clearCache between queries);
    // an unpersist before the returned DataFrame's action would drop the
    // blocks the result still reads. Long-lived drivers composing many
    // queries should clear the cache between them.
    val ordered = tok.join(dfreq, "tk")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("tdf"), col("tk")))).as("ot"))
      .select(col("id"),
        transform(col("ot"), s => s.getField("tk")).as("tks"),
        size(col("ot")).cast("long").as("len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // prefix p = len − ⌈θ·len⌉ + 1, ceil in integer ppm form. The prefix
    // rows carry ONLY (id, len, element) — never the set arrays: at θ=0.8
    // a 50-element set exposes 11 prefix rows, so an array carried here
    // would shuffle ~11× before any dedup could collapse it. Sets join
    // back AFTER the candidate pairs are distinct bare id pairs.
    // integral div for the ceil term (this file's own rule): a double
    // divide + cast can round across an integer boundary at very large
    // set sizes and silently shrink the prefix, breaking exact recall
    val pref = ordered
      .withColumn("p", (col("len") -
        expr(s"(len * ${thresholdPpm}L + 999999L) div 1000000L")
        + lit(1L)).cast("int"))
      .select(col("id"), col("len"),
        explode(slice(col("tks"), lit(1), col("p"))).as("tk"))
    val a = pref.select(col("id").as("a_id"), col("len").as("a_len"), col("tk"))
    val b = pref.select(col("id").as("b_id"), col("len").as("b_len"), col("tk"))
    val cand = a.join(b, Seq("tk"))
      .filter(col("a_id") < col("b_id"))
      .filter(col("b_len") * lit(1000000L) >= col("a_len") * lit(thresholdPpm) &&
        col("a_len") * lit(1000000L) >= col("b_len") * lit(thresholdPpm))
      .select("a_id", "b_id").distinct()
    setJaccard(cand, ordered, "id", "tks", "len", thresholdPpm)
  }
}
