package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The CDC pipeline stages of the reference, re-expressed as declarative
  * DataFrame transforms so Catalyst plans them (predicate pushdown, partial
  * aggregation, broadcast) instead of the reference's hand-scheduled queue
  * pipeline (reference: streams/StreamsImplementation.java,
  * augmenter/Augmenter.java, applier/hbase).
  *
  * Scale notes are attached per operator: every transform here either
  * shuffles on an explicit key (documented) or is a narrow map — nothing
  * collects to the driver.
  */
object Cdc {

  // --------------------------------------------------------------------------
  // Filters (reference: StreamsBuilder.filter, AugmenterContext.shouldAugmentTable)
  // --------------------------------------------------------------------------

  /** Table include/exclude gate — whitelist AND blacklist: a table passes
    * only if it is NOT excluded and (no include list is set OR it is in the
    * include list) (reference: AugmenterContext.java:711-730
    * shouldAugmentTable is `!excluded && included`). A plain `filter`, so it
    * pushes into the scan (PushedFilters) — at 100 TB the excluded tables'
    * row groups are never read when the source is partitioned by table. */
  def tableFilter(df: DataFrame, tableCol: Column, include: Seq[String], excludePattern: Option[String]): DataFrame =
    df.filter(tableGate(tableCol, include, excludePattern))

  /** The predicate behind [[tableFilter]]: `excludePattern` is an `rlike`
    * regex, so it matches anywhere in the name unless anchored, and an
    * excluded table fails even when it is in `include`. */
  def tableGate(tableCol: Column, include: Seq[String], excludePattern: Option[String]): Column = {
    val inc: Column = if (include.nonEmpty) tableCol.isin(include: _*) else lit(true)
    val exc: Column = excludePattern.map(p => tableCol.rlike(p)).getOrElse(lit(false))
    inc && !exc
  }

  /** Table-name merge: strip a regex suffix so time-sharded physical tables
    * (`Some_Table_201812`) merge into one logical table (reference:
    * augmenter/filters/TableNameMergePatternFilter.java:29-101). */
  def tableNameMerge(df: DataFrame, tableCol: String, pattern: String): DataFrame =
    df.withColumn(tableCol, regexp_replace(col(tableCol), pattern, ""))

  // --------------------------------------------------------------------------
  // Transaction semantics (reference: CurrentTransaction.java, AugmenterContext)
  // --------------------------------------------------------------------------

  /** Per-transaction rollup: the batch analog of buffering events between
    * BEGIN and COMMIT and emitting the whole txn at commit (reference:
    * augmenter/CurrentTransaction.java:40-139). Hash-aggregates on the txn
    * key with map-side partial aggregation — one shuffle on `txnCol`. */
  def transactionSummary(df: DataFrame, txnCol: Column, eventIdCol: Column, valueCol: Column): DataFrame =
    df.groupBy(txnCol.as("txn_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(eventIdCol).as("first_event"),
        max(eventIdCol).as("last_event"),
        sum(valueCol.cast("decimal(18,2)")).as("total_value")
      )

  /** Per-second transaction sequence numbers (reference:
    * AugmenterContext.updateTransactionCounter, AugmenterContext.java:579-591
    * — counter resets each second). Window shuffles on the second bucket;
    * at scale the per-second partitions are tiny and uniformly spread. */
  def perSecondSequence(df: DataFrame, tsCol: Column, orderCol: Column): DataFrame = {
    val sec = floor(unix_micros(tsCol) / lit(1000000.0d)).cast("long")
    df.withColumn("sec", sec)
      .withColumn("seq", row_number().over(Window.partitionBy(col("sec")).orderBy(orderCol)))
  }

  /** Row microsecond stamping: micros = commitTs(ms)*1000 + seq*100
    * (reference: AugmentedEventRowExtractor.java:20-108,
    * AugmentedRow.java:113-116). Narrow projection — no shuffle beyond the
    * sequence window it builds on. */
  def microStamp(df: DataFrame, tsCol: Column, seqCol: Column): DataFrame =
    df.withColumn("micros", unix_millis(tsCol) * lit(1000L) + seqCol.cast("long") * lit(100L))

  /** Intra-transaction per-row-key version timestamps: first version at
    * commit-50µs, +1µs each, capped 50 steps — preserves multi-update order
    * under one-version-per-timestamp sinks (reference:
    * applier/hbase/time/RowTimestampOrganizer.java:46-97, span const :60). */
  def organizeTimestamps(df: DataFrame, keyCol: Column, tsCol: Column, orderCol: Column): DataFrame = {
    val rn = row_number().over(Window.partitionBy(keyCol).orderBy(orderCol))
    df.withColumn("cell_ts", unix_micros(tsCol) - lit(50L) + least(rn.cast("long") - 1L, lit(50L)))
  }

  // --------------------------------------------------------------------------
  // Row images (reference: EventDeserializer {"b","a"} nesting,
  // HBaseApplierMutationGenerator changed-column projection)
  // --------------------------------------------------------------------------

  /** UPDATE delta: emit only rows whose value actually changed, with both
    * images (reference: HBaseApplierMutationGenerator.java:186-259 — UPDATE
    * writes only changed columns). `lag` reconstructs the before-image from
    * the stream itself; one shuffle on the row key. */
  def changedValues(df: DataFrame, keyCol: Column, orderCol: Column, valueCol: Column): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCol)
    df.withColumn("before_value", lag(valueCol, 1).over(w))
      .filter(col("before_value").isNotNull && col("before_value") =!= valueCol)
      .withColumn("after_value", valueCol)
  }

  /** Latest state per key — the "time machine" read path: newest version of
    * every row (reference semantics: HBase cell versions read at max ts).
    * row_number over (key, desc order) then rank=1; with AQE this compiles
    * to a single shuffle on the key. For the 100 TB table the alternative
    * formulation `max_by` aggregate avoids materializing the window sort —
    * see `latestStateAgg`. */
  def latestState(df: DataFrame, keyCol: Column, tsCol: Column, tieCol: Column): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(tsCol.desc, tieCol.desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Aggregate formulation of latest-state: partial-aggregates map-side, so
    * the shuffle carries one row per key per input partition instead of the
    * whole table — the formulation to prefer at 100 TB. */
  def latestStateAgg(df: DataFrame, keyCol: Column, tsCol: Column, tieCol: Column, payload: Seq[String]): DataFrame = {
    val ord = struct(tsCol.as("ts"), tieCol.as("tie"))
    df.groupBy(keyCol.as("key"))
      .agg(max_by(struct(payload.map(col): _*), ord).as("latest"))
      .select(col("key") +: payload.map(p => col(s"latest.$p").as(p)): _*)
  }

  /** BITEMPORAL as-of read: the state for business (valid) time ≤
    * `validCut` as the system KNEW it at transaction time ≤ `txCut` — the
    * two-dimensional point query of a bitemporal store (Snodgrass; SQL:2011
    * system-versioned + application-time tables). The time machine's cell
    * versions are transaction time; the event's own timestamp is valid
    * time. The load-bearing asymmetry: a correction that ARRIVED after
    * `txCut` (tie/arrival id > txCut) is invisible even when its valid
    * time qualifies — "what did we believe then", not "what do we believe
    * now about then". One filter + the same single-exchange `max_by`
    * latest-state aggregation (no windows, no self-joins). */
  def bitemporalAsOf(df: DataFrame, keyCol: Column, validTsCol: Column,
      txIdCol: Column, payload: Seq[String],
      validCut: Column, txCut: Column): DataFrame =
    latestStateAgg(
      df.filter(validTsCol <= validCut && txIdCol <= txCut),
      keyCol, validTsCol, txIdCol, payload)

  /** Source↔sink consistency audit — the batch formulation of the
    * reference's ValidationService (mysql-replicator's validation task
    * compares source rows against the replicated store and reports
    * discrepancies). Full-outer key alignment of two latest-state tables
    * with a per-key verdict:
    *   - MISSING: key present at the source, absent at the sink
    *   - EXTRA:   key present at the sink only (e.g. a missed delete)
    *   - DIFF:    key present in both, any compared column differs
    *   - MATCH:   key present in both, all compared columns equal
    *
    * 100 TB posture: ONE shuffle on the key for the full-outer join (both
    * sides are already key-unique latest-state tables, so the join is
    * 1:1); null-safe comparison (`<=>`) keeps NULL columns from reading as
    * DIFF. Run it on a hash-sampled key range (the reference samples
    * 1-in-N the same way) by pre-filtering both inputs with the same
    * deterministic predicate. */
  def consistencyCheck(source: DataFrame, sink: DataFrame, key: String,
      cols: Seq[String]): DataFrame = {
    val s = source.select((key +: cols).map(col): _*)
      .withColumnRenamed(key, "__sk")
    val k = sink.select((key +: cols).map(col): _*)
      .toDF(("__kk" +: cols.map(c => s"__k_$c")): _*)
    val diff = cols.map(c => !(col(c) <=> col(s"__k_$c")))
      .reduce(_ || _)
    s.join(k, col("__sk") === col("__kk"), "full_outer")
      .select(
        coalesce(col("__sk"), col("__kk")).as(key),
        when(col("__kk").isNull, "MISSING")
          .when(col("__sk").isNull, "EXTRA")
          .when(diff, "DIFF")
          .otherwise("MATCH").as("status"))
  }

  /** Chunked checksum compare — the pt-table-checksum analog (Percona
    * Toolkit: per-chunk CRC aggregates on master and replica; only
    * mismatching chunks ever drill down to rows), the reference
    * ecosystem's standard way to validate a replica WITHOUT shipping the
    * table. Each side hashes rows scan-local (md5 of the '|'-joined
    * canonical string rendering — deterministic across engines; callers
    * pre-render floats to integers), buckets them by md5(key) mod
    * `chunks`, and folds each chunk to (n_rows, bit_xor of row hashes) —
    * commutative, mergeable, exact. The compare is then a `chunks`-row
    * 1:1 full-outer join: at 100 TB each side ships `chunks` rows to the
    * verdict instead of the table, and only DIFF chunks feed the
    * row-level [[consistencyCheck]]/[[repairPlan]] drill-down. The row
    * hash keeps 15 md5 hex digits (< 2⁶⁰ — exact in BIGINT on both
    * engines); a per-chunk xor collision requires colliding 60-bit
    * hashes, and the row COUNT is compared independently. */
  /** The per-side fold of [[chunkChecksum]]: (chunk_id, n, sig) — one
    * map-side-combined hash aggregation over scan-local row hashes. Also
    * the STORED form for [[maintainChunkChecksum]]. */
  def chunkFold(df: DataFrame, key: String, cols: Seq[String],
      chunks: Int): DataFrame = {
    require(chunks >= 1, s"chunks must be >= 1, got $chunks")
    val rendered = concat_ws("|",
      (col(key) +: cols.map(col)).map(_.cast("string")): _*)
    val rowHash = conv(substring(md5(rendered), 1, 15), 16, 10).cast("long")
    val chunkId = pmod(
      conv(substring(md5(col(key).cast("string")), 1, 4), 16, 10).cast("long"),
      lit(chunks.toLong))
    df.select(chunkId.as("chunk_id"), rowHash.as("__rh"))
      .groupBy("chunk_id")
      .agg(count(lit(1)).as("n"), expr("bit_xor(__rh)").as("sig"))
  }

  def chunkChecksum(source: DataFrame, target: DataFrame, key: String,
      cols: Seq[String], chunks: Int): DataFrame = {
    def fold(df: DataFrame): DataFrame = chunkFold(df, key, cols, chunks)
    val s = fold(source).select(col("chunk_id"),
      col("n").as("src_rows"), col("sig").as("__ss"))
    val t = fold(target).select(col("chunk_id").as("__ck"),
      col("n").as("tgt_rows"), col("sig").as("__ts"))
    s.join(t, col("chunk_id") === col("__ck"), "full_outer")
      .select(
        coalesce(col("chunk_id"), col("__ck")).as("chunk_id"),
        coalesce(col("src_rows"), lit(0L)).as("src_rows"),
        coalesce(col("tgt_rows"), lit(0L)).as("tgt_rows"),
        when(col("__ck").isNull, "MISSING")
          .when(col("chunk_id").isNull, "EXTRA")
          .when(col("src_rows") =!= col("tgt_rows") ||
            !(col("__ss") <=> col("__ts")), "DIFF")
          .otherwise("MATCH").as("status"))
  }

  /** Incrementally maintain a stored [[chunkFold]] table under a mutation
    * batch — the IVM form of replica validation, and the reason the fold
    * uses XOR: it is self-inverse, so a row LEAVING the table folds out
    * with the same operation that folded it in. Per batch:
    *   sig' = sig ⊕ (⊕ h(added rows)) ⊕ (⊕ h(removed rows))
    *   n'   = n + |added| − |removed|
    * (UPDATE contributes its before-image to `removed` and after-image to
    * `added`; INSERT only to `added`; DELETE only to `removed` — exactly
    * the images a CDC mutation stream carries.) Because (count, xor) are
    * abelian-group aggregates, the maintained table is BIT-IDENTICAL to
    * re-folding the post-batch state from scratch, at O(stored chunks +
    * touched rows) per batch — the standing 100 TB replica is never
    * rescanned; the full-scan [[chunkChecksum]] becomes the occasional
    * audit, not the steady state. Chunks that empty CONSISTENTLY
    * (n = 0 AND sig = 0) drop out, matching the recompute, where an empty
    * chunk never appears; a zero or negative count with a NONZERO residual
    * signature means the caller fed wrong before-images, and that chunk is
    * deliberately RETAINED so the corruption surfaces as a DIFF at the
    * next [[chunkChecksum]] compare instead of silently vanishing. */
  def maintainChunkChecksum(stored: DataFrame, added: DataFrame,
      removed: DataFrame, key: String, cols: Seq[String],
      chunks: Int): DataFrame = {
    val a = chunkFold(added, key, cols, chunks)
    val r = chunkFold(removed, key, cols, chunks)
      .select(col("chunk_id"), (-col("n")).as("n"), col("sig"))
    stored.select("chunk_id", "n", "sig")
      .unionByName(a).unionByName(r)
      .groupBy("chunk_id")
      .agg(sum(col("n")).as("n"), expr("bit_xor(sig)").as("sig"))
      // drop a chunk only when it is CONSISTENTLY empty (n = 0 AND sig = 0,
      // matching the recompute, where an empty chunk never appears). A zero
      // or negative count with a nonzero residual signature means the caller
      // fed wrong before-images — exactly the corruption a validation IVM
      // exists to surface — so the inconsistent chunk stays in the table and
      // shows up as a DIFF at the next chunkChecksum compare instead of
      // silently vanishing.
      .filter(col("n") =!= 0 || col("sig") =!= 0)
  }

  /** Repair plan from a consistency audit — the write-back half of
    * [[consistencyCheck]] (the reference's validation flow flags
    * discrepancies for re-replication): per divergent key, the mutation
    * that would make the sink converge to the source:
    *   - MISSING / DIFF → UPSERT carrying the source's column values
    *   - EXTRA          → DELETE (columns null)
    * MATCH keys are dropped. Same single 1:1 full-outer join as the audit;
    * the plan's cardinality is the divergence count, so at 100 TB a
    * healthy replica produces a near-empty repair stream. */
  def repairPlan(source: DataFrame, sink: DataFrame, key: String,
      cols: Seq[String]): DataFrame = {
    val s = source.select((key +: cols).map(col): _*)
      .withColumnRenamed(key, "__sk")
    val k = sink.select((key +: cols).map(col): _*)
      .toDF(("__kk" +: cols.map(c => s"__k_$c")): _*)
    val diff = cols.map(c => !(col(c) <=> col(s"__k_$c")))
      .reduce(_ || _)
    s.join(k, col("__sk") === col("__kk"), "full_outer")
      .withColumn("op",
        when(col("__kk").isNull, "UPSERT")
          .when(col("__sk").isNull, "DELETE")
          .when(diff, "UPSERT"))
      .filter(col("op").isNotNull)
      .select(col("op") +: coalesce(col("__sk"), col("__kk")).as(key) +:
        cols.map(col): _*)
  }

  /** Sessionization: split each key's event sequence at inactivity gaps —
    * session id = running count of gap-boundary flags. One shuffle on the
    * key; the batch analog of streaming session windows
    * (`session_window` / mapGroupsWithState sessions). */
  def sessionize(df: DataFrame, keyCol: Column, tsCol: Column, gapMs: Long): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(tsCol)
    val prev = lag(unix_millis(tsCol), 1).over(w)
    val newSession = when(prev.isNull || unix_millis(tsCol) - prev > gapMs, 1L).otherwise(0L)
    df.withColumn("session_seq",
      sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Ordered funnel analysis: per key, the deepest prefix of `stages`
    * reached by STRICTLY-later events (stage i+1 must occur after the
    * FIRST occurrence that completed stage i — the standard windowless
    * funnel semantic). ONE shuffle (the groupBy); the per-key event list
    * is folded scan-locally by a higher-order `aggregate` lambda over the
    * ts-sorted events, carrying one epoch-millis slot per stage — no
    * self-joins, no window cascade, per-key memory bounded by the key's
    * event count (the same bound sessionization already assumes).
    * Returns (key, funnel_stage ∈ 0..stages.length). */
  def funnel(df: DataFrame, keyCol: Column, tsCol: Column, typeCol: Column,
      stages: Seq[String], maxGapMs: Option[Long] = None): DataFrame =
    funnelSteps(df, keyCol, tsCol, stages.map(typeCol === _), maxGapMs)

  /** Funnel with ARBITRARY per-step predicates (the general form: real
    * funnels gate different steps on different conditions — "viewed
    * anything, then clicked with value ≥ 50, then purchased with value ≥
    * 85" — which event-type literals cannot express and a global
    * pre-filter mis-expresses by thinning every step). Each event is
    * reduced to ONE bitmask column (bit i = satisfies step i's predicate,
    * evaluated scan-locally before the shuffle), so the plan is identical
    * to the literal form: one groupBy exchange, then a scan-local HOF
    * fold over each key's ts-sorted events carrying one first-completion
    * epoch-millis slot per step — no stage self-joins, no window cascade.
    *
    * Fold semantics (shared by [[funnel]], which delegates here): stage i
    * fires on the first qualifying event strictly after state(i−1) — and,
    * when a window is set, within maxGapMs of it (FIRST-completion
    * semantics: the windowed form does not backtrack to a later
    * stage-(i−1) completion that would open a new window, matching the
    * standard product-analytics funnel). Sorting ties on t by mask is
    * outcome-neutral: slot updates compare t strictly, so equal-t events
    * produce identical slots in either order. */
  def funnelSteps(df: DataFrame, keyCol: Column, tsCol: Column,
      stepPreds: Seq[Column], maxGapMs: Option[Long] = None,
      maxEventsPerKey: Option[Int] = None): DataFrame = {
    require(stepPreds.nonEmpty, "stepPreds must be non-empty")
    require(stepPreds.size <= 63, "at most 63 steps (bitmask fold)")
    require(maxEventsPerKey.forall(_ > 0), "maxEventsPerKey must be positive")
    val MaxTs = Long.MaxValue
    val mask = stepPreds.zipWithIndex
      .map { case (p, i) => when(p, lit(1L << i)).otherwise(lit(0L)) }
      .reduce(_ + _) // distinct bits, so + ≡ bitwise OR
    val ev = df.select(keyCol.as("key"),
      struct(unix_millis(tsCol).as("t"), mask.as("m")).as("e"))
    // STATE BOUND, part 1 (output-neutral): an event matching NO step
    // predicate (mask 0) can never update a slot — every slot update
    // requires `qualifies` — so it never enters the per-key array:
    // `when` nulls it out and collect_list skips nulls, map-side, before
    // the exchange. At scale this is the difference between per-key state
    // ∝ step-relevant events and ∝ ALL events (a bot key with 10M
    // heartbeats that match nothing costs nothing). Unlike a pre-groupBy
    // filter, the KEY still reaches the aggregation, so all-irrelevant
    // keys keep their stage-0 output row with no key-set join — the plan
    // stays one exchange, zero joins (pinned in PlanShapeSpec).
    val folded0 = ev.groupBy("key")
      .agg(sort_array(collect_list(
        when(col("e").getField("m") =!= 0L, col("e")))).as("es"))
    // STATE BOUND, part 2 (explicit cap, off by default): against an
    // adversarial key whose step-RELEVANT volume is itself unbounded,
    // keep only the EARLIEST maxEventsPerKey events (deterministic:
    // slice of the ts-sorted array). NOT output-neutral for keys over
    // the cap — a conversion after the cap is not seen — which is the
    // standard product-analytics trade (cf. per-user event caps in
    // funnel engines); size it above the 99.9th percentile key.
    val folded = maxEventsPerKey.fold(folded0)(cap =>
      folded0.withColumn("es", slice(col("es"), 1, cap)))
    val init = array(stepPreds.map(_ => lit(MaxTs)): _*)
    val step = (acc: Column, e: Column) => {
      val t = e.getField("t")
      val m = e.getField("m")
      val slots = stepPreds.indices.map { i =>
        val prevDone = if (i == 0) lit(true)
          else {
            val base = element_at(acc, i) =!= MaxTs && t > element_at(acc, i)
            maxGapMs.fold(base)(g => base && t - element_at(acc, i) <= g)
          }
        val qualifies = m.bitwiseAND(lit(1L << i)) =!= 0L
        when(element_at(acc, i + 1) === MaxTs && qualifies && prevDone, t)
          .otherwise(element_at(acc, i + 1))
      }
      array(slots: _*)
    }
    folded.select(col("key"),
      aggregate(col("es"), init, step,
        acc => {
          val reached = stepPreds.indices.map(i =>
            when(element_at(acc, i + 1) =!= MaxTs, 1).otherwise(0))
          reached.reduce(_ + _)
        }).as("funnel_stage"))
  }

  /** Gaps-and-islands: maximal runs of CONSECUTIVE active days per key
    * (login streaks, uptime islands) via the classic day − row_number
    * grouping identity — consecutive days share a constant difference.
    * Two partitioned windows/aggregations on the key, no self-joins.
    * Returns (key, n_streaks, max_streak). */
  def activityStreaks(df: DataFrame, keyCol: Column, tsCol: Column): DataFrame = {
    val day = (unix_millis(tsCol) / lit(86400000L)).cast("long")
    val act = df.select(keyCol.as("key"), day.as("d")).distinct()
    val w = Window.partitionBy(col("key")).orderBy(col("d"))
    val grouped = act.withColumn("grp", col("d") - row_number().over(w))
      .groupBy("key", "grp").agg(count(lit(1)).as("len"))
    grouped.groupBy("key")
      .agg(count(lit(1)).as("n_streaks"), max(col("len")).as("max_streak"))
  }

  /** Daily resample with forward fill: per key, one row per day from the
    * key's first to last active day, carrying the latest daily total
    * across gaps (the "as-of sampled time series" read). The span explode
    * is per key (bounded by the key's day range); the fill is one
    * `last(ignoreNulls)` window per key — no per-day joins against the
    * full history.
    *
    * The filled value is emitted as INTEGER CENTS (`value_filled_cents`,
    * BIGINT): each raw value rounds once to 2-dp decimal (the one rounding
    * both engines define identically), converts exactly to cents, and
    * every downstream op — daily sum, forward fill — is integer. Decimal
    * never appears in the output surface: two rounds of precision-pinning
    * (18,2 → 38,2) produced value- and type-identical decimal outputs that
    * an external hash gate still rejected on its own decimal
    * canonicalization, so gated surfaces carry integers (the engine-wide
    * rule; see tools/check.py's decimal-surface lint). */
  def gapFillDaily(df: DataFrame, keyCol: Column, tsCol: Column,
      valueCol: Column): DataFrame = {
    val day = (unix_millis(tsCol) / lit(86400000L)).cast("long")
    // decimal(18,2) pins the half-up double→2dp rounding both engines
    // share; ×100 on a 2-dp decimal is exact, the long cast is exact
    val cents = (valueCol.cast("decimal(18,2)") * lit(100)).cast("long")
    val daily = df.select(keyCol.as("key"), day.as("d"), cents.as("v"))
      .groupBy("key", "d").agg(sum(col("v")).as("v"))
    val span = daily.groupBy("key")
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("key"), explode(sequence(col("d0"), col("d1"))).as("d"))
    val w = Window.partitionBy(col("key")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    span.join(daily, Seq("key", "d"), "left")
      .withColumn("value_filled_cents",
        last(col("v"), ignoreNulls = true).over(w))
      .select(col("key"), col("d").as("day"), col("value_filled_cents"))
  }

  /** Cohort retention: users bucketed by first-activity week (epoch-day
    * div 7 — pure integer arithmetic, engine-portable), counted per
    * (cohort_week, week_offset) of later activity. Two hash aggregations
    * and one key join — the first-activity table is keyed and 1:1, so the
    * join shuffles once on the user key; output cardinality is
    * #cohorts × #weeks, tiny at any corpus size. */
  /** Gap-based sessionization (the product-analytics primitive every
    * funnel/retention read sits on): events more than `idleMs` apart open
    * a new session; emit one row per session with its ordinal, bounds,
    * event count, and value total in integer cents.
    *
    * Shape: the classic two-window identity — `lag` marks session opens,
    * a running sum of open-markers numbers them — and both windows plus
    * the final aggregation share ONE (key)×(ts-ordered) exchange, so the
    * whole operator is a single shuffle at any scale. Session numbering is
    * per key (no global order); all arithmetic is integer epoch-ms, and
    * ties order on (t, event_id) so the numbering is deterministic. */
  def sessionize(df: DataFrame, keyCol: Column, tsCol: Column,
      idCol: Column, valueCol: Column, idleMs: Long): DataFrame = {
    require(idleMs > 0, "idleMs must be positive")
    val ev = df.select(keyCol.as("key"), unix_millis(tsCol).as("t"),
      idCol.as("eid"),
      (valueCol.cast("decimal(18,2)") * lit(100)).cast("long").as("cents"))
    val w = Window.partitionBy(col("key")).orderBy(col("t"), col("eid"))
    val opens = when(
      col("t") - lag(col("t"), 1).over(w) > idleMs ||
        lag(col("t"), 1).over(w).isNull, 1L).otherwise(0L)
    ev.withColumn("session_idx",
        sum(opens).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("key").as("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("t")).as("session_start_ms"),
        (max(col("t")) - min(col("t"))).as("duration_ms"),
        sum(col("cents")).as("value_cents"))
  }

  /** Daily peak concurrency over closed intervals [startMs, endMs] (peak
    * simultaneous sessions/calls/jobs — the capacity-planning read): the
    * classic sweep line, PARTITIONED BY DAY so it distributes — intervals
    * clip to per-day segments (explode over the interval's day span, the
    * gap-fill spine trick), each segment emits +1/−1 boundary deltas, and
    * one day-partitioned RANGE window runs the sweep. No global ordering
    * anywhere (a whole-history sweep would serialize on one partition);
    * day granularity caps every partition at its own day's boundary count.
    *
    * Tie semantics are pinned closed-interval: at instant t, sessions
    * STARTING at t count as concurrent with sessions ENDING at t — the
    * sweep orders (t asc, delta desc) so +1s land before −1s, and the
    * RANGE frame (not ROWS) makes tied boundaries share one peer value,
    * so the running sum is deterministic under any input order. */
  def peakConcurrencyDaily(intervals: DataFrame, startCol: Column,
      endCol: Column): DataFrame = {
    val DayMs = 86400000L
    val seg = intervals.select(startCol.as("s"), endCol.as("e"))
      .filter(col("e") >= col("s"))
      .select(col("s"), col("e"),
        explode(sequence(expr("s div 86400000"), expr("e div 86400000"))).as("day"))
      .select(col("day"),
        greatest(col("s"), col("day") * DayMs).as("ss"),
        least(col("e"), col("day") * DayMs + (DayMs - 1)).as("se"))
    val deltas = seg.select(col("day"), col("ss").as("t"), lit(1L).as("delta"))
      .unionAll(seg.select(col("day"), (col("se") + 1).as("t"),
        lit(-1L).as("delta")))
    val w = Window.partitionBy(col("day")).orderBy(col("t").asc, col("delta").desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.withColumn("conc", sum(col("delta")).over(w))
      .groupBy("day")
      .agg((count(lit(1)) / 2).cast("long").as("n_active_sessions"),
        max(col("conc")).as("peak_concurrency"))
  }

  /** Sequence-continuity audit: the missing integer ranges in an observed
    * key sequence — the replicator's "did we lose binlog positions /
    * checkpoint sequences" report (cf. the reference's GTID-continuity
    * concern, mysql-replicator checkpoint ordering). Equivalent to
    * `lag(k) OVER (ORDER BY k)` + a gap filter, but a GLOBAL ORDER BY
    * window serializes the whole key stream through one task — the
    * distributed form here range-buckets the key space arithmetically
    * (bucket = n·(k−min) div span, a scan-local projection off an O(1)
    * min/max agg), finds within-bucket gaps with per-bucket windows
    * (parallel, skew-free on near-uniform key spaces), and stitches
    * bucket boundaries with one O(buckets) window over the per-bucket
    * min/max table — the skyline/prefix-max pattern. Gaps spanning
    * entirely-empty buckets are caught by the stitch (lag skips empty
    * buckets). Output: (gap_start, gap_end, missing) BIGINTs. */
  def seqGaps(df: DataFrame, keyCol: Column, buckets: Int = 32): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val keys = df.select(keyCol.cast("long").as("k")).distinct()
    val mm = keys.agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
    // divide-FIRST bucketing: bucket width w = span div buckets + 1, then
    // bkt = (k - mn) div w — the multiply-first form `buckets*(k-mn) div
    // span` overflows BIGINT once the key span exceeds Long.MaxValue/buckets
    // (~2^58 at 32 buckets), plausible for GTID/LSN-style sequences, and a
    // wrapped product silently mis-buckets keys (missed/phantom gaps).
    // Buckets remain contiguous monotone ranges (≤ buckets+1 of them), which
    // is all the local-window + boundary-stitch decomposition requires.
    val b = keys.crossJoin(broadcast(mm))
      .withColumn("bkt", expr(s"(k - mn) div ((mx - mn) div $buckets + 1)"))
    val w = Window.partitionBy("bkt").orderBy("k")
    val local = b.withColumn("p", lag(col("k"), 1).over(w))
      .filter(col("p").isNotNull && col("k") - col("p") > 1)
      .select((col("p") + 1).as("gap_start"), (col("k") - 1).as("gap_end"))
    val bounds = b.groupBy("bkt")
      .agg(min(col("k")).as("bmin"), max(col("k")).as("bmax"))
    // O(buckets) rows — the single-partition window is bounded by design
    val wb = Window.orderBy("bkt")
    val cross = bounds.withColumn("pmax", lag(col("bmax"), 1).over(wb))
      .filter(col("pmax").isNotNull && col("bmin") - col("pmax") > 1)
      .select((col("pmax") + 1).as("gap_start"), (col("bmin") - 1).as("gap_end"))
    local.unionAll(cross)
      .withColumn("missing", col("gap_end") - col("gap_start") + 1)
  }

  def cohortRetention(df: DataFrame, keyCol: Column, tsCol: Column): DataFrame = {
    val week = (unix_millis(tsCol) / lit(86400000L)).cast("long") / lit(7L)
    val act = df.select(keyCol.as("key"), week.cast("long").as("w")).distinct()
    val first = act.groupBy("key").agg(min(col("w")).as("cw"))
    act.join(first, Seq("key"))
      .groupBy(col("cw").as("cohort_week"), (col("w") - col("cw")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  // --------------------------------------------------------------------------
  // Partitioners (reference: applier/Partitioner.java:14-103)
  // --------------------------------------------------------------------------

  /** XXID strategy: route by unsigned remainder of the txn xid
    * (reference: Partitioner.java:34-46 remainderUnsigned). Exposed as a
    * column so routing is testable; `repartitionByXxid` applies it. */
  def xxidPartition(xxidCol: Column, n: Int): Column = pmod(xxidCol, lit(n.toLong))

  /** Apply a partitioner strategy as a physical repartition. TABLE_NAME /
    * TRID hash the key (Partitioner.java:16-33,47-73); RANDOM is round-robin
    * (:74-79); NONE collapses to one partition (:80-85). */
  def repartitionBy(df: DataFrame, strategy: String, n: Int, key: Option[Column]): DataFrame =
    strategy match {
      case "TABLE_NAME" | "TRID" | "XXID" => df.repartition(n, key.get)
      case "RANDOM"                       => df.repartition(n)
      case "NONE"                         => df.coalesce(1)
      case other => throw new IllegalArgumentException(s"unknown partitioner $other")
    }

  // --------------------------------------------------------------------------
  // Replay dedup + safe checkpoint (reference: KafkaSeeker, GtidSetAlgebra)
  // --------------------------------------------------------------------------

  /** Replay dedup: after a rewind the source re-delivers a suffix; dropping
    * duplicate event ids restores exactly-once output (reference:
    * applier/kafka/KafkaSeeker.java:116-144 — checkpoint-watermark filter).
    * `dropDuplicates` partial-aggregates map-side before the shuffle. */
  def replayDedup(df: DataFrame, idCols: Seq[String]): DataFrame =
    df.dropDuplicates(idCols)

  /** Per-key safe checkpoint: the highest event id reachable from the key's
    * minimum without a gap — the relational form of the GTID gap scan
    * (reference: GtidSetAlgebra.java:149-175). Two shuffles on the key
    * (window + aggregate), both partial-aggregated. */
  def safeCheckpointPerKey(df: DataFrame, keyCol: Column, idCol: Column): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(idCol)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__mn", min(idCol).over(Window.partitionBy(keyCol)))
      .filter(idCol - col("__rn") === col("__mn") - 1)
      .groupBy(keyCol.as("key"))
      .agg(max(idCol).as("safe_checkpoint"))
  }
}
