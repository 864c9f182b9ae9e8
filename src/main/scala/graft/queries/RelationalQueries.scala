package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.t
import graft.operators.Cdc

/** Relational substrate (SURVEY §2.9): one [[QuerySpec]] per query.
  *
  * Decimal outputs are rendered as plain strings (exact arithmetic keeps
  * the same scale in both engines, so the rendered text is identical) —
  * the reference's own sink behavior (MysqlTypeDeserializer.java:215-218
  * BigDecimal.toPlainString) and the only representation the driver's
  * hasher treats deterministically across Spark and DuckDB decimals.
  */
private[graft] object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_pricing_summary", (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(12,2)")).cast("string").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("string").as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(12,2)") *
            (expr("CAST(1 AS DECIMAL(1,0))") - col("l_discount").cast("decimal(4,2)")))
            .cast("string").as("sum_disc_price"),
          count(lit(1)).as("count_order")),
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS sum_disc_price,
           count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus"""),

    QuerySpec("q3_shipping_topk", (s, d) => {
      val cust = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, d, "orders")
      val li = t(s, d, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (expr("CAST(1 AS DECIMAL(1,0))") - col("l_discount").cast("decimal(4,2)")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("revenue").cast("string").as("revenue"),
          unix_millis(col("o_orderdate")).as("o_date_ms"))
    },
      """WITH agg AS (
           SELECT l_orderkey,
             sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(4,2)))) AS revenue_dec,
             epoch_ms(o_orderdate) AS o_date_ms
           FROM customer JOIN orders ON c_custkey = o_custkey
             JOIN lineitem ON l_orderkey = o_orderkey
           WHERE c_mktsegment = 'BUILDING'
           GROUP BY l_orderkey, o_orderdate
           ORDER BY revenue_dec DESC, l_orderkey LIMIT 10)
         SELECT l_orderkey, CAST(revenue_dec AS VARCHAR) AS revenue, o_date_ms FROM agg"""),

    QuerySpec("q5_local_revenue", (s, d) => {
      val region = t(s, d, "region").filter(col("r_name") === "ASIA")
      val nation = t(s, d, "nation")
      val cust = t(s, d, "customer")
      val supp = t(s, d, "supplier")
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
                col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      val li = t(s, d, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey") &&
                               col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (expr("CAST(1 AS DECIMAL(1,0))") - col("l_discount").cast("decimal(4,2)")))
          .cast("string").as("revenue"))
    },
      """SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name"""),

    QuerySpec("q_window_rank", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn").cast("long").as("rn"))
    },
      """SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders
         QUALIFY rn <= 3"""),

    QuerySpec("q_full_outer", (s, d) => {
      // full outer join with asymmetric sides (high-balance customers vs
      // high-balance suppliers per nation)
      val c = t(s, d, "customer").filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      val sup = t(s, d, "supplier").filter(col("s_acctbal") > 9000)
        .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
      c.join(sup, col("c_nationkey") === col("s_nationkey"), "full_outer")
        .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    },
      """WITH c AS (SELECT c_nationkey, count(*) AS n_cust FROM customer
                    WHERE c_acctbal > 9000 GROUP BY 1),
         s AS (SELECT s_nationkey, count(*) AS n_supp FROM supplier
               WHERE s_acctbal > 9000 GROUP BY 1)
         SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
           coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
         FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey"""),

    QuerySpec("q_grouping_sets", (s, d) => {
      // explicit grouping sets + grouping() markers, via the SQL surface
      // (DataFrame API exposes only rollup/cube); decimal sum for oracle
      // portability
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
                 CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
                 CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
                 count(*) AS cnt,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS total
               FROM orders_v
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")
    },
      """SELECT o_orderstatus, o_orderpriority,
           grouping(o_orderstatus) AS g_status,
           grouping(o_orderpriority) AS g_prio,
           count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""),

    QuerySpec("q_window_dist", (s, d) => {
      // distribution window functions; ties broken by event_id so ntile's
      // row assignment is deterministic across engines
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      t(s, d, "events")
        .select(col("event_id"), col("event_type"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
    },
      """SELECT event_id, event_type,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("q_unpivot", (s, d) =>
      // wide→long melt: one narrow projection + generator, no shuffle
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("string").as("l_quantity"),
          col("l_extendedprice").cast("decimal(18,2)").cast("string").as("l_extendedprice"),
          col("l_discount").cast("decimal(18,2)").cast("string").as("l_discount"),
          col("l_tax").cast("decimal(18,2)").cast("string").as("l_tax"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "metric", "amount"),
      """WITH src AS (SELECT l_orderkey, l_linenumber,
             CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS l_quantity,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS l_extendedprice,
             CAST(CAST(l_discount AS DECIMAL(18,2)) AS VARCHAR) AS l_discount,
             CAST(CAST(l_tax AS DECIMAL(18,2)) AS VARCHAR) AS l_tax
           FROM lineitem)
         UNPIVOT src ON l_quantity, l_extendedprice, l_discount, l_tax
         INTO NAME metric VALUE amount""",
      cap = Some(Cap("l_orderkey", 251))),

    QuerySpec("q_setop_users", (s, d) => {
      val ev = t(s, d, "events")
      def users(c: Column) = ev.filter(c).select("user_id").distinct()
      users(col("event_type") === "click")
        .intersect(users(col("event_type") === "purchase"))
        .except(users(col("event_type") === "error" && col("value") > 90))
    },
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
         INTERSECT
         SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
         EXCEPT
         SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value > 90"""),

    QuerySpec("q_semi_anti", (s, d) => {
      val cust = t(s, d, "customer").select("c_custkey")
      val ord = t(s, d, "orders").select("o_custkey")
      val withOrders = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
        .withColumn("has_orders", lit(true))
      val without = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .withColumn("has_orders", lit(false))
      withOrders.unionByName(without)
    },
      """SELECT c_custkey, TRUE AS has_orders FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         UNION ALL
         SELECT c_custkey, FALSE AS has_orders FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""),

    QuerySpec("q_rollup", (s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).cast("string").as("sum_qty"),
          count(lit(1)).as("cnt")),
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS sum_qty, count(*) AS cnt
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),

    QuerySpec("q_cube", (s, d) =>
      t(s, d, "orders").cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(14,2)")).cast("string").as("total")),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS total
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"""),

    QuerySpec("q_running_sum", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wl = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, d, "events").select(
        col("event_id"), col("user_id"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("string").as("running_value"),
        lead(col("event_id"), 1).over(wl).as("next_event"),
        first(col("event_id")).over(w).as("first_event"))
    },
      """SELECT event_id, user_id,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER
             (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS running_value,
           lead(event_id, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS next_event,
           first_value(event_id) OVER
             (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS first_event
         FROM events""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("q_array_agg", (s, d) =>
      t(s, d, "events").groupBy("user_id")
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("types_seen"),
          countDistinct(col("event_type")).as("n_types")),
      """SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types_seen,
           count(DISTINCT event_type) AS n_types
         FROM events GROUP BY user_id"""),

    QuerySpec("q_distinct_agg", (s, d) =>
      t(s, d, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value")),
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events,
           min(value) AS min_value, max(value) AS max_value
         FROM events GROUP BY event_type"""),

    QuerySpec("q_percentiles", (s, d) =>
      // exact ordered-set aggregates (linear-interpolated quantiles). At
      // 100 TB swap `percentile` for `approx_percentile` (t-digest sketch:
      // one pass, mergeable partials, no per-group sort) — same API shape.
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          percentile(col("l_quantity").cast("double"), lit(0.5)).as("p50_qty"),
          percentile(col("l_quantity").cast("double"), lit(0.9)).as("p90_qty"),
          percentile(col("l_quantity").cast("double"), lit(0.99)).as("p99_qty"),
          count(lit(1)).as("n")),
      """SELECT l_returnflag,
           quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS p50_qty,
           quantile_cont(CAST(l_quantity AS DOUBLE), 0.9) AS p90_qty,
           quantile_cont(CAST(l_quantity AS DOUBLE), 0.99) AS p99_qty,
           count(*) AS n
         FROM lineitem GROUP BY l_returnflag"""),

    QuerySpec("q_time_window", (s, d) =>
      // event-time tumbling window — the streaming-native aggregation shape
      // (windowed agg + watermark in stream mode; SURVEY §2.9 streaming row)
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).cast("string").as("total"))
        .select(unix_millis(col("window.start")).as("window_ms"), col("event_type"),
          col("cnt"), col("total")),
      """SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS window_ms, event_type,
           count(*) AS cnt, CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS total
         FROM events GROUP BY 1, 2"""),

    QuerySpec("q_json_extract", (s, d) =>
      // JSON path extraction over the props payload (reference JSON surface:
      // MysqlTypeDeserializer JSON + KafkaApplier JSON mode)
      t(s, d, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("long").as("k_num")),
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
         FROM events""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("q_asof_join", (s, d) => {
      // as-of join: each click paired with the user's latest purchase at or
      // before it (union+window formulation — one shuffle on the key)
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
      operators.TemporalJoins.asOfJoin(clicks, col("user_id"), col("ts"),
          purchases, col("user_id"), col("ts"),
          Seq("purchase_event_id" -> col("event_id"), "purchase_value" -> col("value")))
        .select("event_id", "user_id", "purchase_event_id", "purchase_value")
    },
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         purchases AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
         SELECT c.event_id, c.user_id, p.event_id AS purchase_event_id,
           p.value AS purchase_value
         FROM clicks c ASOF JOIN purchases p
           ON c.user_id = p.user_id AND c.ts >= p.ts"""),

    QuerySpec("q_asof_forward", (s, d) => {
      // forward as-of: each click paired with the user's EARLIEST purchase
      // at or after it (time-to-conversion) — the mirrored union+window
      // formulation, one shuffle on the key
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
      operators.TemporalJoins.asOfJoinForward(clicks, col("user_id"), col("ts"),
          purchases, col("user_id"), col("ts"),
          Seq("purchase_event_id" -> col("event_id"), "purchase_value" -> col("value")))
        .select("event_id", "user_id", "purchase_event_id", "purchase_value")
    },
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         purchases AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
         SELECT c.event_id, c.user_id, p.event_id AS purchase_event_id,
           p.value AS purchase_value
         FROM clicks c ASOF JOIN purchases p
           ON c.user_id = p.user_id AND c.ts <= p.ts"""),

    QuerySpec("q_bloom_join", (s, d) =>
      // bloom-pruned fact⋈dim join: the dim's key Bloom filter (built
      // distributed, ~1.2 MB at fpp 0.01 for 1M keys) rides the plan as a
      // codegen'd literal and drops non-matching fact rows BEFORE the
      // join's exchange — output bit-identical to the plain join (the
      // oracle), shuffle shrunk by the dim's selectivity. The explicit
      // form of Spark's runtime row-level filtering, for when the dim is
      // too big to broadcast but its bloom is not.
      graft.operators.Sketches.bloomPrunedJoin(
          t(s, d, "orders"),
          t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING"),
          "o_custkey", "c_custkey", expectedKeys = 100000L)
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          col("o_totalprice")),
      // bloom pruning never changes the answer — the oracle is the plain join
      """SELECT o_orderkey, o_custkey, c_name, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'"""),

    QuerySpec("q_range_join", (s, d) => {
      // range join: lineitems shipped inside each order's first week —
      // binned equi-join + exact postfilter, no cross product. Points are
      // pre-aggregated to distinct values with weights BEFORE the join
      // (600k rows -> ~2.5k distinct ship days), so the pair explosion runs
      // on value cardinality, not row count — the decisive trick at scale.
      // the aggregated point set is tiny (~2.5k distinct days) — broadcast
      // it so the interval side joins map-side with no shuffle
      val days = broadcast(t(s, d, "lineitem")
        .groupBy(col("l_shipdate")).agg(count(lit(1)).as("w")))
      val ords = t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("o_end"))
      operators.TemporalJoins.rangeJoinPointInInterval(
          days, unix_millis(col("l_shipdate")),
          ords, unix_millis(col("o_orderdate")), unix_millis(col("o_end")),
          binWidth = 7L * 86400000L)
        .groupBy("o_orderkey").agg(sum(col("w")).as("n_shipped_in_window"))
    },
      """SELECT o_orderkey, count(*) AS n_shipped_in_window
         FROM orders JOIN lineitem
           ON epoch_ms(l_shipdate) >= epoch_ms(o_orderdate)
          AND epoch_ms(l_shipdate) < epoch_ms(o_orderdate + INTERVAL 7 DAY)
         GROUP BY o_orderkey""",
      cap = Some(Cap("o_orderkey", 15))),

    QuerySpec("q_overlap_join", (s, d) => {
      // interval × interval OVERLAP join (the session-concurrency pair
      // read: which users were active simultaneously, for ≥ 10 min):
      // 1 h-gap sessions become closed intervals, then the binned
      // overlap join — both sides explode into bins, pairs meet on the
      // bin equi-key, and each pair is kept only in the bin holding
      // greatest(s₁, s₂), so NO distinct and no cross product. The bin
      // width is NOT a constant: it is the MEDIAN session duration (KLL
      // driver scalar, floor 10 min) — the "binWidth ≈ median interval
      // length" rule made adaptive, because interval length here is a
      // function of event density (at ×10 density 1 h-gap sessions merge
      // into month-long intervals; a fixed 6 h bin then makes every pair
      // meet in ~120 bins — measured 240× candidate-over-output waste —
      // while the median-tracking bin keeps candidates ≈ output at any
      // density). Cross-user only (user_a < user_b), canonical order.
      val ses = Cdc.sessionize(t(s, d, "events"), col("user_id"),
          col("ts"), col("event_id"), col("value"), idleMs = 3600000L)
        .select(col("user_id"), col("session_idx"),
          col("session_start_ms").as("s"),
          (col("session_start_ms") + col("duration_ms")).as("e"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val medDur = ses.agg(graft.functions.KllQuantileAgg.kllQuantiles(
          (col("e") - col("s")).cast("double"), 8192, Seq(0.5)).as("q"))
        .head().getSeq[Double](0).head
      val a = ses.select(col("user_id").as("user_a"),
        col("session_idx").as("session_a"), col("s").as("s1"), col("e").as("e1"))
      val b = ses.select(col("user_id").as("user_b"),
        col("session_idx").as("session_b"), col("s").as("s2"), col("e").as("e2"))
      graft.operators.TemporalJoins.intervalOverlapJoin(
          a, "s1", "e1", b, "s2", "e2",
          binWidth = math.max(medDur.toLong, 600000L))
        .filter(col("user_a") < col("user_b"))
        .withColumn("overlap_ms",
          least(col("e1"), col("e2")) - greatest(col("s1"), col("s2")))
        .filter(col("overlap_ms") >= lit(600000L))
        .select("user_a", "session_a", "user_b", "session_b", "overlap_ms")
    },
      // the oracle affords the direct quadratic interval join; the engine
      // is the binned form — identical session construction ((t, event_id)
      // tie order throughout) and closed-interval overlap predicate
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS t, event_id FROM events),
         m AS (SELECT user_id, t, event_id,
             CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 3600000
               THEN 1 ELSE 0 END AS o
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
         sx AS (SELECT user_id, t,
             sum(o) OVER (PARTITION BY user_id ORDER BY t, event_id
               ROWS UNBOUNDED PRECEDING) AS si
           FROM m),
         ses AS (SELECT user_id, CAST(si AS BIGINT) AS si,
             min(t) AS s, max(t) AS e
           FROM sx GROUP BY user_id, si)
         SELECT a.user_id AS user_a, a.si AS session_a,
           b.user_id AS user_b, b.si AS session_b,
           CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_ms
         FROM ses a JOIN ses b ON a.user_id < b.user_id
           AND a.s <= b.e AND b.s <= a.e
         WHERE least(a.e, b.e) - greatest(a.s, b.s) >= 600000"""),

    QuerySpec("q_period_over_period", (s, d) =>
      // week-over-week revenue deltas per type — the standard trend
      // report: one events-sized hash-agg to the (type, week) relation,
      // then lag + integer-ppm change over that tiny bounded relation
      // (first week carries NULLs); truncating div, cents end to end
      t(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_millis(ts) div 604800000").as("week"))
        .agg(sum((col("value").cast("decimal(18,2)") * lit(100))
          .cast("long")).as("rev_cents"))
        .withColumn("prev_cents", lag(col("rev_cents"), 1).over(
          Window.partitionBy("event_type").orderBy("week")))
        .withColumn("delta_cents", col("rev_cents") - col("prev_cents"))
        .withColumn("wow_ppm",
          when(col("prev_cents") =!= 0,
            expr("1000000L * (rev_cents - prev_cents) div prev_cents"))),
      """WITH wk AS (SELECT event_type, epoch_ms(ts) // 604800000 AS week,
             sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rev_cents
           FROM events GROUP BY 1, 2),
         l AS (SELECT event_type, week, rev_cents,
             lag(rev_cents) OVER (PARTITION BY event_type ORDER BY week) AS prev
           FROM wk)
         SELECT event_type, week,
           CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(prev AS BIGINT) AS prev_cents,
           CAST(rev_cents - prev AS BIGINT) AS delta_cents,
           CASE WHEN prev <> 0
             THEN CAST(1000000 * (rev_cents - prev) // prev AS BIGINT)
           END AS wow_ppm
         FROM l"""),

    QuerySpec("q_min_cost", (s, d) => {
      // scalar-subquery shape: parts priced at their brand's minimum
      val part = t(s, d, "part")
      val mins = part.groupBy(col("p_brand").as("b"))
        .agg(min(col("p_retailprice")).as("min_price"))
      part.join(broadcast(mins),
          col("p_brand") === col("b") && col("p_retailprice") === col("min_price"))
        .select("p_partkey", "p_brand", "p_retailprice")
    },
      """SELECT p_partkey, p_brand, p_retailprice FROM part
         WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
                                WHERE p2.p_brand = part.p_brand)"""),

    QuerySpec("q_having", (s, d) =>
      t(s, d, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(14,2)")).cast("string").as("total_spend"))
        .filter(col("n_orders") >= 12),
      """SELECT o_custkey, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS total_spend
         FROM orders GROUP BY o_custkey HAVING count(*) >= 12"""),

    QuerySpec("q_case_agg", (s, d) =>
      // conditional aggregation (pivot-by-hand): order-status mix per priority
      t(s, d, "orders").groupBy("o_orderpriority")
        .agg(sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
          sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_p")),
      """SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
         FROM orders GROUP BY o_orderpriority"""),

    QuerySpec("q_date_funcs", (s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        unix_millis(date_trunc("month", col("o_orderdate"))).as("month_start_ms"),
        datediff(to_timestamp(lit("2002-01-01")), col("o_orderdate"))
          .cast("long").as("days_to_2002")),
      """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
           dayofmonth(o_orderdate) AS dom,
           epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms,
           datediff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS days_to_2002
         FROM orders""",
      cap = Some(Cap("o_orderkey", 15))),

    QuerySpec("q_string_agg", (s, d) =>
      // order-sensitive string aggregation per nation: sorted supplier list
      t(s, d, "supplier").groupBy("s_nationkey")
        .agg(array_join(array_sort(collect_list(col("s_name"))), ",").as("suppliers"),
          count(lit(1)).as("n")),
      """SELECT s_nationkey, string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
           count(*) AS n
         FROM supplier GROUP BY s_nationkey"""),

    QuerySpec("q_scalar_funcs", (s, d) =>
      t(s, d, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws(":", col("p_brand"), col("p_type")).as("brand_type"),
        substring(col("p_name"), 1, 5).as("name5"),
        regexp_replace(col("p_name"), " ", "_").as("name_us")),
      """SELECT p_partkey, upper(p_brand) AS brand_u,
           regexp_extract(p_type, '^(\w+)', 1) AS type_head,
           length(p_name) AS name_len,
           concat_ws(':', p_brand, p_type) AS brand_type,
           substr(p_name, 1, 5) AS name5,
           replace(p_name, ' ', '_') AS name_us
         FROM part""")
  )
}
