package graft

/** Physical-plan shape guards: the properties SCALE.md claims (broadcast
  * joins, scan-level pushdown, no cartesian products on bucketed paths)
  * asserted against the actual planner output, so a refactor that silently
  * regresses data movement fails CI, not the 100 TB run. */
class PlanShapeSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  // NOTE: queries built on kernels that materialize (graft.operators.
  // Materialize) run those upstream jobs EAGERLY at construction — for
  // them this helper is an execution test of the checkpointed stages, not
  // a pure planning test, and the returned plan shows the checkpoint scan
  // in place of the upstream algebra (assert invariants like "no parquet
  // rescan" on what remains, not absolute operator counts of hidden
  // subtrees).
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q3: both dimension joins broadcast; segment filter reaches the scan") {
    val p = plan("q3_shipping_topk")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
    assert(p.contains("PushedFilters") && p.contains("c_mktsegment"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q5: five-way join stays broadcast with no cartesian fallback") {
    val p = plan("q5_local_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("cdc_filter_project: table-gate predicates push to the parquet reader") {
    val p = plan("cdc_filter_project")
    assert(p.contains("PushedFilters") && p.contains("In(event_type"))
  }

  test("near-dup bucketed paths never plan a cross product") {
    Seq("dedup_minhash_lsh", "dedup_simhash", "dedup_contamination").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a cross product")
    }
  }

  test("simhash candidates: Hamming prefilter sits on the band join, before verify") {
    // the bit_count(xor(a_sig, b_sig)) <= 7 prune is what keeps the
    // 17-variant multiprobe fan-out away from the shingle-verify joins;
    // dropping it would still pass the oracle (exactness is backstopped)
    // while silently re-inflating the candidate set — guard the plan
    val p = plan("dedup_simhash")
    assert(p.contains("bit_count") && p.contains("<= 7"),
      s"Hamming prefilter missing from candidate path:\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("dup-span stats: span counts partial-aggregate; no span-partitioned window") {
    // a window count over span_h has no map-side combine — one Zipf-heavy
    // boilerplate span lands every occurrence on a single task; the
    // groupBy(span_h) form partial-aggregates before the shuffle
    val p = plan("dedup_dup_ngrams")
    assert("HashAggregate\\(keys=\\[span_h".r.findFirstIn(p).isDefined,
      s"span counts must hash-aggregate on span_h:\n$p")
    assert(!p.contains("Window"),
      s"dup-span stats must not plan a span-partitioned window:\n$p")
  }

  test("salted mm near-dup: Hamming check rides the join, losers never " +
      "reach the dedup shuffle; hash relation is cache-fed; salt is " +
      "census-gated (cold corpus plans NO salt split)") {
    // the round-12 shape (SCALE.md §Round 11-12 / MM_NEARDUP_AUDIT.json):
    // (a) the bit_count postfilter must sit ON the band join (as its
    // condition) so the Σf² candidate losers die inside the join iterator
    // instead of shuffling into distinct() — regressing to
    // distinct-then-filter re-ships 500-1500× the pair volume;
    // (b) the compact hash relation is persisted and the pair job reads
    // the cache — or every branch re-runs the codec upstream;
    // (c) the salt machinery is CENSUS-GATED: this corpus has no band key
    // over the 2048 threshold (audit: max df 340 at sf0.1), so the plan
    // must be the PLAIN self-join — no cold/hot Union, no blk column
    // (round-11 paid the 4-branch split unconditionally: sf0.1
    // 2.96→3.50 s for nothing);
    // (d) never a cross product.
    val p = plan("mm_phash_neardup")
    assert(p.contains("bit_count") && p.contains("<= 6"),
      s"Hamming postfilter missing from the candidate join:\n${p.take(3000)}")
    val joinCond = "Join [^\\n]*bit_count|BroadcastHashJoin [^\\n]*bit_count|ShuffledHashJoin [^\\n]*bit_count|SortMergeJoin [^\\n]*bit_count".r
    assert(joinCond.findFirstIn(p).isDefined,
      s"bit_count must ride the join condition, not a post-shuffle filter:\n${p.take(3000)}")
    assert(p.contains("InMemoryTableScan"),
      s"hash relation must be cache-fed (persist + census action):\n${p.take(2000)}")
    assert(!p.contains("blk"),
      s"no hot key on this corpus — salt split must be census-gated OFF:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    spark.sharedState.cacheManager.clearCache() // the operator's persist
  }

  test("salted mm near-dup: a corpus WITH a hot band key plans the cold/hot " +
      "Union with the block-salted right side replicated") {
    // synthetic hot key: 64 identical hashes → every band key has df 64 >
    // saltHotDf 16 → the hot branch must exist (Union) and salt by blk
    import org.apache.spark.sql.functions.{col, lit, lpad}
    val hashed = spark.range(0, 64)
      .select(col("id"), lpad(lit(""), 64, "0").as("ah"))
    val p = graft.operators.Multimodal.phashNearDup(
        hashed, col("id"), col("ah"), maxHamming = 6,
        saltHotDf = 16, saltBlocks = 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("Union"),
      s"hot corpus must plan the cold/hot salt Union:\n${p.take(2000)}")
    assert(p.contains("blk"),
      s"hot branch must join on the salt block:\n${p.take(2000)}")
    spark.sharedState.cacheManager.clearCache()
  }

  test("token budget: window bounded by md5 bucket, offsets broadcast back") {
    // the per-source cumsum must partition by (source, bucket) — a plain
    // per-source window sorts a whole capped source on one task
    val p = plan("sample_token_budget")
    assert(p.contains("__tb_bkt"),
      s"token-budget window must partition by the md5 bucket:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast back, not shuffle:\n$p")
  }

  test("cdc_time_machine: op synthesis scans the source exactly once") {
    // cdc_time_machine reads the synthesized ops from the CDC fixture, so
    // the synthesis is checked on its own plan
    val ops = graft.operators.EventsAsCdc.opsFromEvents(spark, SparkEntry.t(spark, dir, "events"))
    val p = ops.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
  }

  test("ivf assignment is a pure scan-local projection: no join, no exchange") {
    // the centroid table localizes into a plan literal, so assignment has
    // ZERO data movement — a regression to any join or shuffle fails here
    val p = plan("sim_ann_ivf")
    assert(!p.contains("Join"), s"assignment must not plan a join:\n${p.take(2000)}")
    assert(!p.contains("Exchange"), s"assignment must not shuffle:\n${p.take(2000)}")
  }

  test("round-3 dedup/sampling paths: no cross products, mixture stays scan-local") {
    Seq("dedup_paragraph", "dedup_dup_ngrams", "dedup_incremental",
        "dedup_keep_best").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a cross product")
      spark.sharedState.cacheManager.clearCache() // resolve/LSH persists
    }
    // mixture upsampling is a pure scan-side explode — zero exchanges
    assert(!plan("sample_mixture").contains("Exchange"))
  }

  test("round-5 operators: gopher gate scan-local; url/semantic dedup cross-product-free") {
    // the gopher gate is a pure per-row projection — zero data movement
    assert(!plan("text_gopher_filter").contains("Exchange"),
      "gopher quality gate must not shuffle")
    // URL dedup = canonical-key groupBy + join-back; SemDeDup = two
    // centroid_id equi-joins. Neither may degrade to a cross product —
    // that's the difference between Σn_c² and n² at 100 TB
    Seq("dedup_url", "dedup_semantic").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a cross product")
    }
    // SemDeDup's assignment stage must keep ivfAssign's scan-local shape:
    // the only wide ops are the centroid_id shuffles of the pair join
    val sd = plan("dedup_semantic")
    assert(!sd.contains("Window"), "semantic dedup must not plan a window")
  }

  test("r6: tf-idf scores through a BROADCAST of the vocab-sized idf model") {
    // the corpus-sized tf table must never sort-merge by the Zipf-skewed
    // bare term key; the idf model is vocabulary-sized and broadcasts
    val p = plan("text_tfidf")
    assert(p.contains("BroadcastHashJoin"),
      s"idf model must broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"tf must not shuffle by term for scoring:\n${p.take(2000)}")
  }

  test("r6/r12: lm score broadcasts the WHOLE model; scored stream never " +
      "shuffles on a token key; only model-sized caches") {
    val q = SparkEntry.queries("text_lm_score")(spark, dir)
    val p = q.queryExecution.executedPlan.toString
    // round-12: the bigram model c2 (bigram-TYPE-sized) broadcasts along
    // with c1/vocab, so the per-occurrence scored stream does model lookup
    // map-side — NO sort-merge join may appear anywhere (the only
    // exchanges left are the model aggregations and the per-doc agg)
    assert(p.contains("BroadcastHashJoin"),
      s"model must broadcast:\n${p.take(2000)}")
    // no sort-merge join may key on a TOKEN column (w1/w2) — the doc-keyed
    // completion join is allowed to SMJ in the static plan (AQE broadcasts
    // it at runtime once the node-sized side measures small)
    assert("SortMergeJoin [^\\n]*w[12]".r.findFirstIn(p).isEmpty,
      s"scored stream must never shuffle-join on a token key:\n${p.take(2000)}")
    // allowed caches are MODEL-sized only: c2 (w1, w2, c2: distinct corpus
    // bigrams, Heaps-sublinear) and the vocab-sized uni rollup (w1, c1, v,
    // gid) — never a relation keyed by document (doc_id) or holding the
    // corpus token stream
    val exec = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case other => other
    }
    val cached = exec.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s.relation.output.map(_.name).toSet
    }
    assert(cached.nonEmpty, s"the model must be cached:\n${p.take(2000)}")
    val modelCols = Set("w1", "w2", "c2", "c1", "v", "gid")
    assert(cached.forall(_.subsetOf(modelCols)),
      s"only model-sized relations may be cached, saw ${cached.distinct}:\n${p.take(2000)}")
    spark.sharedState.cacheManager.clearCache()
  }

  test("r6: raw binlog adapter plans NO joins beyond table-map resolution when the batch has no XA") {
    // the supplier state machine resolves TABLE_MAPs and XA transactions
    // inside each server's sorted event stream, so the adapter plans
    // no join at all
    val p = plan("cdc_raw_adapter")
    assert(!p.contains("Join"), s"the raw adapter plans a join:\n${p.take(3000)}")
  }

  test("r6: scaled IVFADC fixture stays cross-product-free with broadcast probe plans") {
    val p = plan("sim_ann_ivfadc")
    assert(!p.contains("CartesianProduct"),
      s"ivfadc must not plan a cross product:\n${p.take(2000)}")
    spark.sharedState.cacheManager.clearCache()
  }

  test("r6: bm25 broadcasts its models and takes the global top-k bounded") {
    val p = plan("text_bm25")
    // df + corpus stats broadcast; the tf table never sort-merges by term
    assert(p.contains("BroadcastHashJoin"), s"bm25 models must broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), s"bm25 must not shuffle tf by term:\n${p.take(2000)}")
    // top-20 must plan k-bounded (TakeOrdered), never a global Sort
    assert(p.contains("TakeOrdered"), s"bm25 top-k must be TakeOrdered:\n${p.take(2000)}")
    // the query-term filter must sit below the aggregation: the exchange
    // carries the query's postings sliver, not the corpus token stream
    assert(p.contains("isin") || p.contains(" IN ") || p.contains("In("),
      s"query-term filter missing from the scan side:\n${p.take(3000)}")
  }

  test("r6: hash split is one scan-local projection") {
    assert(!plan("pipe_split").contains("Exchange"),
      "pipe_split must not shuffle")
  }

  test("r6: sq8 compressed scan broadcasts query tables and shortlist; no cross product") {
    val p = plan("sim_ann_sq8")
    assert(!p.contains("CartesianProduct"),
      s"sq8 must not plan a cross product:\n${p.take(2000)}")
    // query-side asymmetric tables and the bounded shortlist both ride
    // broadcasts — the corpus-side compressed scan stays shuffle-free up
    // to the partial top-k aggregate
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"sq8 query tables/shortlist must broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"sq8 must never shuffle the corpus by join key:\n${p.take(2000)}")
  }

  test("r6: incremental snapshot apply plans no cross product; key joins hash/broadcast") {
    val p = plan("cdc_snapshot_apply")
    assert(!p.contains("CartesianProduct"),
      s"snapshot apply must not plan a cross product:\n${p.take(2000)}")
  }

  test("r6: as-of state plans one (table, row_key) exchange; threshold broadcasts") {
    val p = plan("cdc_as_of_state")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"as-of threshold must broadcast, not cartesian:\n${p.take(2000)}")
    // the per-column window and the pivot back to rows share one
    // (table, row_key) partitioning: no second exchange, and no per-column
    // max_by whose struct ordering forces a sort-based aggregate
    val keyExchanges =
      "Exchange hashpartitioning\\(table#\\d+, row_key#\\d+, \\d+\\)".r.findAllIn(p).size
    assert(keyExchanges == 1, s"as-of read plans $keyExchanges (table, row_key) exchanges:\n${p.take(3000)}")
    assert(!p.contains("SortAggregate") && !p.contains("partial_max_by"),
      s"as-of read still aggregates per column:\n${p.take(3000)}")
  }

  test("r6: scd2 intervals run every window pass over ONE exchange+sort") {
    val p = plan("cdc_scd2")
    // all carry-forward windows and the lead() share the same
    // (table,row_key)×(cell_ts,event_id) partitioning/ordering — Spark must
    // plan exactly one shuffle for the window stack (the per-version
    // groupBy's exchange is reused by every Window above it)
    // (the per-version groupBy's 4-key exchange is separate and expected —
    // match only the 2-key (table,row_key) window partitioning)
    val windowExchanges =
      "Exchange hashpartitioning\\(table#\\d+, row_key#\\d+, \\d+\\)".r.findAllIn(p).size
    assert(windowExchanges <= 1,
      s"scd2 window stack re-shuffles ($windowExchanges row_key exchanges):\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("r6: snapshot diff reconstructs both states in ONE scan — no state joins") {
    val p = plan("cdc_snapshot_diff")
    // both thresholds resolve inside one conditional aggregation pass: the
    // only join allowed is the broadcast threshold ride-along; the version
    // store must not be scanned per state or joined state-vs-state
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"diff must not join state legs:\n${p.take(3000)}")
    assert(p.contains("partial_max_by"),
      s"per-column winners must partial-aggregate map-side:\n${p.take(3000)}")
    // one (table,row_key,column) exchange + one (table,row_key) exchange
    assert("Exchange hashpartitioning\\(table".r.findAllIn(p).size <= 2,
      s"diff re-shuffles:\n${p.take(3000)}")
  }

  test("r6s3: containment + incremental LSH plan as hash joins, never cartesian") {
    Seq("dedup_containment", "dedup_incremental_lsh").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a cross product")
    }
  }

  test("r6s3: sketch aggregates partial-aggregate map-side") {
    Seq("sketch_distinct_kmv", "sketch_heavy_hitters").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_kmv_distinct") || p.contains("partial_heavy_hitters")
        || "ObjectHashAggregate.*partial".r.findFirstIn(p).isDefined,
        s"$q must plan a partial (map-side) sketch phase:\n${p.take(2000)}")
    }
  }

  test("r6s3: chunk windows and bpe pair counts stay shuffle-free up to the final agg") {
    val pc = plan("text_chunk_windows")
    assert(!pc.contains("Exchange"), s"chunking must not shuffle:\n${pc.take(2000)}")
    val pb = plan("text_bpe_pair_counts")
    // explodes + ONE aggregation exchange (pair groupBy), nothing else
    assert("Exchange".r.findAllIn(pb).size <= 2, s"bpe pair counts over-shuffles:\n${pb.take(2000)}")
  }

  test("r6s3: hybrid RRF legs are k-bounded before the fusion join") {
    val p = plan("sim_hybrid_rrf")
    assert(p.contains("TakeOrdered") || p.contains("top_k_by_score"),
      s"rrf legs must bound before fusing:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("r6: maxsim interaction matrix is scan-local; queries broadcast; shortlist bounded") {
    val p = plan("sim_maxsim")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // the numTokens² cosine matrix must stay a projection: the only
    // Generate is the final top-k explode
    assert("Generate".r.findAllIn(p).size <= 1,
      s"token matrix exploded:\n${p.take(3000)}")
    assert(p.contains("top_k_by_score"))
  }

  test("r6s5: bloom join prunes the fact BEFORE its exchange; no cartesian") {
    val p = plan("q_bloom_join")
    // the bloom gate must sit in a Filter on the fact scan side, not
    // after the join
    assert(p.contains("bloom_might_contain"), s"bloom gate missing:\n$p")
    val joinIdx = p.indexOf("Join")
    val bloomIdx = p.indexOf("bloom_might_contain")
    assert(joinIdx >= 0 && bloomIdx > joinIdx,
      "bloom filter should appear below (after, in toString order) the join head")
    assert(!p.contains("CartesianProduct"))
  }

  test("r6s5: curriculum staging plans no single-partition global window") {
    val p = plan("pipe_curriculum")
    assert(!p.contains("Window"),
      s"curriculum must not plan a window (pinned-RDD rank instead):\n$p")
  }

  test("r6s5: quantile/setops/rollup sketches partial-aggregate before the shuffle") {
    Seq("sketch_quantiles", "sketch_kmv_setops", "sketch_rollup").foreach { q =>
      val p = plan(q)
      // TypedImperativeAggregate partials: ObjectHashAggregate appears in
      // both partial and final mode — two per aggregation level
      assert(p.contains("ObjectHashAggregate"), s"$q lost its object agg:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"$q plans unexpected data movement")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("r6s5: funnel is one shuffle — no self-joins, no window cascade") {
    val p = plan("cdc_funnel")
    assert(!p.contains("Join"), s"funnel must not join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"funnel should shuffle once:\n$p")
  }

  test("r7: per-step-predicate funnel keeps the one-shuffle shape") {
    // heterogeneous predicates ride a scan-local bitmask column; the plan
    // must be indistinguishable from the literal form — one exchange,
    // zero joins, zero windows
    val p = plan("cdc_funnel_steps")
    assert(!p.contains("Join"), s"funnelSteps must not join:\n$p")
    assert(!p.contains("Window"), s"funnelSteps must not window:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"funnelSteps should shuffle once:\n$p")
  }

  test("r8: sessionize is one exchange — both windows and the session agg " +
      "share the key sort") {
    val p = plan("q_sessionize")
    assert(!p.contains("Join"), s"sessionize must not join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"sessionize should shuffle once:\n$p")
  }

  test("r8: triangle census — equi-joins only, no cartesian, no GLOBAL " +
      "window (an unpartitioned rank would serialize; the basket cap's " +
      "row_number is group-keyed, the (deg,id) compare is scan-local)") {
    val p = plan("q_triangles")
    assert(!p.contains("CartesianProduct") ||
      // the final 1×1 stats crossJoin is the only allowed product
      "CartesianProduct|BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"unexpected products:\n$p")
    assert(!p.contains("], [], ["), s"unpartitioned window forbidden:\n$p")
    // r9: the maxBasket hub cap is a row_number window PARTITIONED BY the
    // order key — allowed (per-group state, fully parallel; Spark further
    // rewrites it to a partial+final WindowGroupLimit, i.e. the cap prunes
    // map-side before the exchange). r11: triangleStats materializes the
    // und/ori relations (the multi-reference replay fix), which hides the
    // construction subtree behind checkpointed-RDD scans in the FULL query
    // plan — so the cap pin moves to the construction relation itself,
    // same assertions, same graph.
    import org.apache.spark.sql.functions.col
    val li = SparkEntry.t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val cp = graft.operators.Graph.coOccurrenceEdges(
      li, col("ok"), col("pk"), maxBasket = 32)
      .queryExecution.executedPlan.toString
    assert(cp.contains("WindowGroupLimit"),
      s"the cap should prune map-side via WindowGroupLimit:\n$cp")
    assert(!cp.contains("], [], ["), s"unpartitioned window forbidden:\n$cp")
  }

  test("r11: triangle census materializes und/ori — the full-query plan no " +
      "longer replays the edge construction per reference (was 103 " +
      "Exchanges / 68 scans; a rescan of lineitem in the final plan means " +
      "the materialization regressed)") {
    val p = plan("q_triangles")
    assert(!p.contains("Scan parquet"),
      s"construction must run once inside the materialization, not per reference:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 8,
      s"triangle census should keep single-digit exchanges after materialization:\n$p")
  }

  test("r11: containment/jaccard self-joins read the persisted set relation " +
      "(InMemoryTableScan), not a replayed tokenize+hash chain") {
    assert(plan("dedup_containment").contains("InMemoryTableScan"),
      "containmentPairs must persist the hashed-gram relation")
    assert(plan("dedup_jaccard_join").contains("InMemoryTableScan"),
      "jaccardJoin must persist the df-ordered set relation")
  }

  test("r8: join-view maintenance — the stored view anti-joins against a " +
      "BROADCAST touched-key set (scanned, never shuffled)") {
    val p = plan("cdc_join_maintain")
    assert("BroadcastHashJoin.*LeftAnti".r.findAllIn(p).nonEmpty,
      s"untouched carry must be a broadcast anti-join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("r6s5: consistency audit joins once, 1:1, no window") {
    val p = plan("cdc_consistency_check")
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(p).size == 1, s"audit should contain exactly one join:\n$p")
    assert(!p.contains("Window"))
  }

  test("r7: ccnet bucketing runs ONE scoring pass — explode only inside the cached score relation") {
    // r6 computed the bigram-LM score stream twice (threshold aggregate +
    // bucketing join, unpersisted). Now the edge-sized (doc_id, lm_ppm)
    // stream persists, the KLL threshold aggregate materializes the cache
    // (two driver scalars), and the bucketing projection re-reads it: the
    // final plan must be a pure projection over an InMemoryTableScan — no
    // Generate (the bigram explode lives solely inside the cache build,
    // which runs once), no join, no exact-percentile aggregate anywhere.
    val q = SparkEntry.queries("pipe_ccnet_buckets")(spark, dir)
    // AdaptiveSparkPlanExec is a leaf to collect(); unwrap to the real tree
    val exec = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    val gens = exec.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gens.isEmpty,
      s"scoring explode must be cache-internal (one pass), found ${gens.size}:\n$exec")
    val ims = exec.collect {
      case s if s.nodeName.contains("InMemoryTableScan") => s }
    assert(ims.size == 1,
      s"bucketing must be a projection over the score cache:\n$exec")
    // tree-level (the InMemoryRelation leaf PRINTS its cached child, so
    // string matching would see the cache-internal join/aggregates)
    assert(exec.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty,
      s"threshold literals need no join:\n$exec")
    assert(exec.collect {
      case n if n.nodeName.contains("Aggregate") => n }.isEmpty,
      s"no aggregate in the bucketing read (thresholds are plan literals):\n$exec")
  }

  test("cdc_attribution: the as-of path is join-FREE (union + one window)") {
    // the attribution join is the tagged-union + last(ignoreNulls) window
    // — a per-purchase scan of touch history would plan a key join with
    // per-key row explosion; zero physical join nodes is the contract
    val exec = SparkEntry.queries("cdc_attribution")(spark, dir)
      .queryExecution.executedPlan
    assert(exec.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty,
      s"attribution must be union+window, not a join:\n$exec")
    assert("Window".r.findAllIn(exec.toString).nonEmpty)
  }

  test("cdc_conversion_paths: no window, no join — one collect_list agg") {
    val p = plan("cdc_conversion_paths")
    assert(!p.contains("Window"), s"paths must fold scan-local, not window:\n$p")
    assert(!p.contains("Join"), s"paths must not join:\n$p")
  }

  test("trend slope / changepoint: join-free; windows only post-aggregation") {
    Seq("q_trend_slope", "q_changepoint").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join:\n$p")
    }
  }

  test("overlap join plans an equi-join on the bin key, never a cross product") {
    val p = plan("q_overlap_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"overlap join degenerated to a cross product:\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("knnGraphIvf joins equi on the cell id — only the EXACT form may BNLJ") {
    val p = plan("sim_knn_graph_ivf")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"IVF-restricted kNN must equi-join on the cell:\n$p")
  }

  test("knnGraphIvfMultiprobe: still an equi-join on the cell key, probe " +
      "assignment scan-local (top_centroids), no window over the corpus") {
    val p = plan("sim_knn_graph_ivf_mp")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"multiprobe kNN must equi-join on the cell:\n$p")
    // round-12: the gated plan materializes ONE assignment pass (the
    // kernel hides behind its checkpoint scan), so the top_centroids pin
    // moves to the assignment relation itself
    import org.apache.spark.sql.functions.col
    val emb = SparkEntry.t(spark, dir, "embeddings")
    val cts = emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("centroid_id"),
        graft.operators.Similarity.asDouble(col("embedding")).as("cvec"))
    val cp = graft.operators.Similarity.ivfAssignProbes(
        emb, col("vec_id"), col("embedding"), cts, 3)
      .queryExecution.executedPlan.toString
    assert(cp.contains("top_centroids"),
      s"probe assignment must be the scan-local plan-literal kernel:\n$cp")
    // and exactly ONE assignment kernel feeds both join sides: the stored
    // side must be probe_ids[0] of the SAME pass, never a second
    // nearest_centroid scan
    assert(!p.contains("nearest_centroid"),
      s"stored side must reuse the top_centroids pass (probe_ids[0]):\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("rfm segmentation: quartile boundaries are literals — no window, no ntile") {
    val p = plan("q_rfm_segments")
    assert(!p.contains("Window") && !p.toLowerCase.contains("ntile"),
      s"rfm scoring must be scan-local against literal boundaries:\n$p")
    spark.sharedState.cacheManager.clearCache()
  }
}
