package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.{fixture, t}
import graft.functions.MysqlValues
import graft.model.RawEvent
import graft.operators.{Cdc, EventsAsCdc, Similarity, Text}
import graft.streaming.{Op, TimeMachineSink, TransactionAssembler}

/** CDC pipeline stages (SURVEY §2.2-2.7): one [[QuerySpec]] per query. */
private[graft] object CdcQueries {

  /** Build-once CDC fixture ([[graft.SparkEntry.fixture]]): the op and
    * raw-binlog streams synthesized from `events` ([[EventsAsCdc]], the
    * stand-in for a live binlog), and the stored relations the
    * incremental-maintenance queries fold a batch into, all split at the
    * 7/8 commit-time cut: the latest-cell `snapshot`, the post-cut cell
    * `batch`, the `scd2hist` interval table, the per-event_type `aggview`,
    * the `retained` pre-cut cells, and the per-row-key `counts` and
    * `joinview`. In production each is a stored table or the stream's
    * input, so the queries time the operator over them, not their
    * synthesis. */
  private def cdcFixture(s: SparkSession, d: String): String =
    fixture("cdc", d) { dir =>
      def load(name: String): DataFrame = s.read.parquet(s"$dir/$name")
      def save(df: DataFrame, name: String): Unit =
        df.write.mode("overwrite").parquet(s"$dir/$name")
      val events = t(s, d, "events")
      save(EventsAsCdc.opsFromEvents(s, events).toDF(), "ops")
      save(EventsAsCdc.rawFromEvents(s, events).toDF(), "raw")
      val w = cellsOf(s, dir).crossJoin(broadcast(commitCuts(s, d, "__cut" -> 7)))
      val hist = w.filter(col("cell_ts") <= col("__cut"))
      save(TimeMachineSink.latestCellsKeyed(hist), "snapshot")
      save(w.filter(col("cell_ts") > col("__cut")).select(CellCols.map(col): _*), "batch")
      save(TimeMachineSink.scd2Intervals(hist, Seq("value", "event_type")), "scd2hist")
      save(hist.select(CellCols.map(col): _*), "retained")
      save(TimeMachineSink.rowsAsOfCells(load("snapshot"))
          .select(element_at(col("cols"), "event_type").as("grp"),
            element_at(col("cols"), "value").cast("decimal(18,2)").as("v"))
          .groupBy("grp").agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_value")),
        "aggview")
      save(eventCounts(load("retained")), "counts")
      save(latestState(load("snapshot")).join(load("counts"), "row_key"), "joinview")
    }

  /** cdc_schema_evolution's cap, applied in its body on `event_id` (the
    * output `id`) before the versioned decode. */
  private val SchemaEvolutionCap = Cap("id", 10, inBody = true)

  private val CellCols = Seq("table", "row_key", "column", "value", "cell_ts", "event_id")

  /** One stored relation of the CDC fixture. */
  private def stored(s: SparkSession, d: String, name: String): DataFrame =
    s.read.parquet(s"${cdcFixture(s, d)}/$name")

  /** The fixture's raw binlog, read with its encoder schema (no
    * schema-inference job). */
  private def storedRaw(s: SparkSession, d: String): Dataset[RawEvent] = {
    val e = Encoders.product[RawEvent]
    s.read.schema(e.schema).parquet(s"${cdcFixture(s, d)}/raw").as(e)
  }

  /** The CDC write path over the fixture's op stream. */
  private def storedCells(s: SparkSession, d: String): DataFrame =
    cellsOf(s, cdcFixture(s, d))

  /** Transaction assembly (batch form) → mutation cells → intra-txn
    * timestamp organizing over the op stream at `dir`, read with its
    * encoder schema (no schema-inference job). */
  private def cellsOf(s: SparkSession, dir: String): DataFrame = {
    val e = Encoders.product[Op]
    val ops = s.read.schema(e.schema).parquet(s"$dir/ops").as(e)
    TimeMachineSink.organize(TimeMachineSink.mutationCells(
      TransactionAssembler.assembleBatch(ops).toDF()))
  }

  /** Points of the commit-time span as one broadcastable row: each
    * `(name, k)` is the micros `k`/8 of the way from the earliest to the
    * latest per-user commit. One cheap groupBy over events, never another
    * pass over the version store. */
  private def commitCuts(s: SparkSession, d: String, cuts: (String, Int)*): DataFrame = {
    val at = cuts.map { case (name, k) =>
      expr(s"(min(cms) + (max(cms) - min(cms)) * $k div 8) * 1000").as(name)
    }
    t(s, d, "events").groupBy("user_id")
      .agg(max(unix_millis(col("ts"))).as("cms"))
      .agg(at.head, at.tail: _*)
  }

  /** Latest value and event_type per row key: the join view's state side. */
  private def latestState(cells: DataFrame): DataFrame =
    TimeMachineSink.rowsAsOfCells(TimeMachineSink.latestCellsKeyed(cells))
      .select(col("row_key"),
        element_at(col("cols"), "value").as("value"),
        element_at(col("cols"), "event_type").as("event_type"))

  /** Distinct events and the last event id per row key: the join view's
    * count side. */
  private def eventCounts(cells: DataFrame): DataFrame =
    cells.groupBy("row_key")
      .agg(countDistinct(col("event_id")).as("n_events"),
        max(col("event_id")).as("last_event_id"))

  /** UniMax allocation as ONE engine-neutral SQL text (runs verbatim on
    * Spark and the DuckDB oracle): languages sorted by cap ascending; the
    * capped set is a prefix, so one row_number + running-cap-sum window
    * finds the waterfilling split point kk and the capped budget cumk;
    * capped languages take their cap, the rest split the remainder
    * evenly. Budget = 0.8×corpus, cap = 1 epoch. */
  private val unimaxSql: String =
    """WITH sz AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS c0
         FROM documents GROUP BY lang),
       tot AS (SELECT sum(c0) * 0.8 AS budget, CAST(count(*) AS INT) AS n FROM sz),
       o AS (SELECT lang, c0 * 1.0 AS cap,
           CAST(row_number() OVER (ORDER BY c0 * 1.0, lang) AS INT) AS r,
           coalesce(sum(c0 * 1.0) OVER (ORDER BY c0 * 1.0, lang
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS pre
         FROM sz),
       k AS (SELECT
           coalesce(max(CASE WHEN cap * (n - r + 1) <= budget - pre THEN r END), 0) AS kk,
           coalesce(max(CASE WHEN cap * (n - r + 1) <= budget - pre THEN pre + cap END), 0.0) AS cumk
         FROM o CROSS JOIN tot),
       a AS (SELECT lang, r, cap, budget,
           CASE WHEN r <= kk THEN cap ELSE (budget - cumk) / (n - kk) END AS alloc
         FROM o CROSS JOIN tot CROSS JOIN k)
       SELECT lang, CAST(floor(alloc) AS BIGINT) AS tokens_alloc,
         round(alloc / budget, 9) AS weight
       FROM a"""

  /** Fixed BPE merge table for the gated `text_bpe_encode` row: a small
    * TRAINING-ORDERED table (each pair's components are single chars or
    * tokens created at an earlier rank — rank 5 consumes rank 0's "th")
    * shared verbatim by the engine (plan literal into BpeEncodeExpr) and
    * the oracle (chained `replace()` in marker space, generated below).
    * Under the training-order invariant the greedy lowest-rank encode ≡
    * sequential rank-order application (a merge only creates pairs
    * containing its own output token), so the replace chain is exact.
    * The 200-merge trained form stays a library path (Text.bpeTokenize,
    * BpeSpec golden vectors) — training argmax is itself oracle-gated end
    * to end by `text_bpe_single_merge`. */
  private val BpeFixedMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "i" -> "n", "e" -> "r", "a" -> "n", "o" -> "n",
    "th" -> "e", "a" -> "t", "e" -> "n")

  /** Oracle for the fixed-table BPE encode: each merged token is one
    * marker char chr(rank+1) (fixture text is control-char-free), so each
    * merge is one greedy leftmost non-overlapping `replace()` and token
    * counts are char counts. */
  private val bpeFixedOracleSql: String = {
    val repr = scala.collection.mutable.Map.empty[String, String]
    def rep(tok: String): String = repr.getOrElse(tok, {
      require(tok.length == 1,
        s"BpeFixedMerges is not training-ordered: '$tok' never created")
      tok
    })
    def sqlStr(x: String): String =
      x.map(c => if (c < ' ') s"chr(${c.toInt})" else s"'$c'").mkString(" || ")
    val chain = BpeFixedMerges.zipWithIndex.foldLeft("nt") {
      case (e, ((a, b), i)) =>
        val pat = rep(a) + rep(b)
        repr(a + b) = (i + 1).toChar.toString
        s"replace($e, ${sqlStr(pat)}, chr(${i + 1}))"
    }
    """WITH norm AS (SELECT doc_id,
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
         FROM documents),
       enc AS (SELECT doc_id, replace(""" + chain + """, ' ', '') AS e FROM norm)
       SELECT doc_id, CAST(len(e) AS INT) AS n_bpe_tokens,
         CAST(len(list_distinct(regexp_extract_all(e, '.'))) AS INT) AS n_unique_tokens
       FROM enc"""
  }

  /** PageRank iteration count for the gated/bench query. 3 (was 5 in
    * round 7): the row was the bench suite's most expensive by 4× and
    * iterative-round latency dominates at local scale — 3 rounds exercise
    * the identical per-round machinery (join + agg + damping) at ~60% of
    * the wall; the oracle unrolls the same count. */
  private val PageRankRounds = 3

  /** PageRank oracle: the same integer-arithmetic rounds as
    * [[graft.operators.Graph.pageRank]], unrolled as chained CTEs. All
    * ops are BIGINT floor-division — no float — so the ranks are
    * bit-identical by construction; the CASTs pin DuckDB's HUGEINT sum
    * results back to BIGINT for the strict type gate. */
  private val pageRankOracleSql: String = {
    def round(i: Int): String = s""",
       r$i AS (SELECT nodes.v,
           CAST((150000000000 // nn) + (85 * coalesce(c.s, 0) // 100) AS BIGINT) AS r
         FROM nodes CROSS JOIN n LEFT JOIN (
           SELECT ed.b AS v, CAST(sum(p.r // dg.d) AS BIGINT) AS s
           FROM ed JOIN r${i - 1} p ON p.v = ed.a JOIN dg ON dg.a = ed.a
           GROUP BY ed.b) c USING (v))"""
    """WITH ed AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         FROM lineitem l1 JOIN lineitem l2
           ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey <> l2.l_partkey),
       nodes AS (SELECT DISTINCT a AS v FROM ed UNION SELECT DISTINCT b FROM ed),
       dg AS (SELECT a, count(*) AS d FROM ed GROUP BY a),
       n AS (SELECT count(*) AS nn FROM nodes),
       r0 AS (SELECT v, CAST(1000000000000 // nn AS BIGINT) AS r
         FROM nodes CROSS JOIN n)""" +
      (1 to PageRankRounds).map(round).mkString + s"""
       SELECT v AS part_id, r AS rank_s FROM r$PageRankRounds"""
  }

  /** Personalized-PageRank oracle: [[pageRankOracleSql]]'s algebra with a
    * seed-conditional teleport (seeds = nodes with v % 97 = 0, which
    * equals the entry's li-partkey filter intersected with the node
    * set). */
  private val pprOracleSql: String = {
    def round(i: Int): String = s""",
       r$i AS (SELECT nodes.v,
           CAST((CASE WHEN sd.v IS NOT NULL THEN 150000000000 // k ELSE 0 END)
             + (85 * coalesce(c.s, 0) // 100) AS BIGINT) AS r
         FROM nodes CROSS JOIN ns LEFT JOIN sd ON sd.v = nodes.v LEFT JOIN (
           SELECT ed.b AS v, CAST(sum(p.r // dg.d) AS BIGINT) AS s
           FROM ed JOIN r${i - 1} p ON p.v = ed.a JOIN dg ON dg.a = ed.a
           GROUP BY ed.b) c ON c.v = nodes.v)"""
    """WITH ed AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         FROM lineitem l1 JOIN lineitem l2
           ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey <> l2.l_partkey),
       nodes AS (SELECT DISTINCT a AS v FROM ed UNION SELECT DISTINCT b FROM ed),
       dg AS (SELECT a, count(*) AS d FROM ed GROUP BY a),
       sd AS (SELECT v FROM nodes WHERE v % 97 = 0),
       ns AS (SELECT count(*) AS k FROM sd),
       r0 AS (SELECT nodes.v,
           CAST(CASE WHEN sd.v IS NOT NULL THEN 1000000000000 // k ELSE 0 END AS BIGINT) AS r
         FROM nodes CROSS JOIN ns LEFT JOIN sd ON sd.v = nodes.v)""" +
      (1 to PageRankRounds).map(round).mkString + s"""
       SELECT v AS part_id, r AS rank_s FROM r$PageRankRounds"""
  }

  private val KCoreK = 3
  private val KCoreRounds = 3

  /** k-core oracle: [[graft.operators.Graph.kCoreMembers]]'s bounded peel
    * unrolled as chained CTEs over the SAME hub-capped co-purchase edges
    * as `q_triangles` (quantity-thinned so the peel actually iterates:
    * 1494 → 512 → 232 → 108 nodes at sf0.01). Pure integer counting —
    * bit-identical by construction. */
  private val kCoreOracleSql: String = {
    def peel(i: Int): String = s""",
       n${i - 1} AS MATERIALIZED (SELECT v FROM d${i - 1} WHERE d >= $KCoreK),
       e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
         JOIN n${i - 1} x ON x.v = e${i - 1}.a
         JOIN n${i - 1} y ON y.v = e${i - 1}.b),
       d$i AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS d
         FROM (SELECT a AS v FROM e$i UNION ALL SELECT b FROM e$i)
         GROUP BY v)"""
    s"""WITH li AS MATERIALIZED (SELECT l_orderkey ok, l_partkey pk FROM lineitem
         WHERE l_quantity >= 45),
       basket AS MATERIALIZED (SELECT ok,
           list_sort(list_distinct(list(pk)))[1:32] AS ps
         FROM li GROUP BY ok),
       ba AS MATERIALIZED (SELECT ok, unnest(ps) AS pka, ps FROM basket),
       bp AS MATERIALIZED (SELECT pka, unnest(ps) AS pkb FROM ba),
       e0 AS MATERIALIZED (SELECT DISTINCT least(pka, pkb) a, greatest(pka, pkb) b
         FROM bp WHERE pka <> pkb),
       d0 AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS d
         FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)
         GROUP BY v)""" +
      (1 to KCoreRounds).map(peel).mkString + s"""
       SELECT v AS part_id, d AS deg FROM d$KCoreRounds"""
  }

  /** Shared oracle prefix for the thinned hub-capped co-purchase graph
    * (same contract as the kcore/ppr oracles): `sym` is the SYMMETRIC
    * distinct neighbor relation the iterative kernels traverse. */
  private val coPurchaseSymCte: String =
    """li AS (SELECT l_orderkey ok, l_partkey pk FROM lineitem
         WHERE l_quantity >= 45),
       basket AS (SELECT ok,
           list_sort(list_distinct(list(pk)))[1:32] AS ps
         FROM li GROUP BY ok),
       ba AS (SELECT ok, unnest(ps) AS pka, ps FROM basket),
       bp AS (SELECT pka, unnest(ps) AS pkb FROM ba),
       sym AS (SELECT DISTINCT pka a, pkb b FROM bp WHERE pka <> pkb)"""

  private val BfsRounds = 6

  /** Multi-source BFS oracle: depth-bounded recursive reachability with
    * set-semantics UNION (rows are (node, walk length ≤ bound) — bounded
    * by n·(rounds+1)), min hop per node, then the census.
    * [[graft.operators.Graph.bfsDistances]]'s frontier rounds compute the
    * identical min-hop function, so the histogram is bit-exact. */
  private val bfsOracleSql: String =
    s"""WITH RECURSIVE $coPurchaseSymCte,
       sv AS (SELECT DISTINCT p_partkey v FROM part WHERE p_size = 50
         AND p_partkey IN (SELECT a FROM sym)),
       reach(v, d) AS (
         SELECT v, CAST(0 AS BIGINT) FROM sv
         UNION
         SELECT s.b, CAST(r.d + 1 AS BIGINT) FROM reach r
           JOIN sym s ON s.a = r.v WHERE r.d < $BfsRounds),
       md AS (SELECT v, min(d) AS dist FROM reach GROUP BY v)
       SELECT dist, count(*) AS n_nodes FROM md GROUP BY dist"""

  private val LpaRounds = 3

  /** Label-propagation oracle: [[graft.operators.Graph.labelPropagation]]'s
    * synchronous rounds unrolled — per round a neighbor-label count and a
    * (count desc, label asc) argmax, the same total order as the engine's
    * `max_by(lab, (c, −lab))`. */
  private val lpaCteChain: String = {
    def round(i: Int): String = s""",
       r$i AS (SELECT s.a AS v, l.lab, count(*) AS c FROM sym s
         JOIN p${i - 1} l ON l.v = s.b GROUP BY 1, 2),
       p$i AS (SELECT v, lab FROM (SELECT v, lab,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, lab ASC) rn
         FROM r$i) WHERE rn = 1)"""
    s"""$coPurchaseSymCte,
       p0 AS (SELECT DISTINCT a AS v, a AS lab FROM sym)""" +
      (1 to LpaRounds).map(round).mkString
  }

  private val lpaOracleSql: String =
    s"""WITH $lpaCteChain
       SELECT lab AS community_id, count(*) AS n_nodes
       FROM p$LpaRounds GROUP BY 1"""

  /** Modularity oracle: Newman's Q over the LPA partition as the single
    * integer formula `scale·(4m·Σe_c − Σd_c²) div 4m²` — identical
    * truncating algebra to [[graft.operators.Graph.modularityPpm]]. */
  private val modularityOracleSql: String =
    s"""WITH $lpaCteChain,
       und AS (SELECT DISTINCT least(a, b) ua, greatest(a, b) ub FROM sym),
       mm AS (SELECT CAST(count(*) AS BIGINT) m FROM und),
       lj AS (SELECT la.lab cla, lb.lab clb FROM und
         JOIN p$LpaRounds la ON la.v = und.ua
         JOIN p$LpaRounds lb ON lb.v = und.ub),
       sec AS (SELECT CAST(count(*) AS BIGINT) s FROM lj WHERE cla = clb),
       degs AS (SELECT v, CAST(count(*) AS BIGINT) d FROM
         (SELECT ua v FROM und UNION ALL SELECT ub FROM und) GROUP BY v),
       dc AS (SELECT l.lab, CAST(sum(d) AS BIGINT) dsum FROM degs
         JOIN p$LpaRounds l ON l.v = degs.v GROUP BY 1),
       sd AS (SELECT CAST(sum(dsum * dsum) AS BIGINT) s2 FROM dc),
       nc AS (SELECT CAST(count(DISTINCT lab) AS BIGINT) n
         FROM p$LpaRounds)
       SELECT nc.n AS n_communities, mm.m AS m_edges, sec.s AS within_edges,
         CAST(1000000 * (4 * mm.m * sec.s - sd.s2) // (4 * mm.m * mm.m)
           AS BIGINT) AS q_ppm
       FROM nc, mm, sec, sd"""

  /** Local-clustering oracle: the identical thinned co-purchase graph,
    * triangles enumerated once in canonical a<b<c order and exploded to
    * their endpoints, LCC as the same ppm floor-div algebra as
    * [[graft.operators.Graph.localClustering]]. */
  private val lccOracleSql: String =
    s"""WITH $coPurchaseSymCte,
       und AS (SELECT DISTINCT a ua, b ub FROM sym WHERE a < b),
       deg AS (SELECT a v, CAST(count(*) AS BIGINT) d FROM sym GROUP BY 1),
       tris AS (SELECT e1.ua x, e1.ub y, e2.ub z FROM und e1
         JOIN und e2 ON e2.ua = e1.ub
         JOIN und e3 ON e3.ua = e1.ua AND e3.ub = e2.ub),
       pern AS (SELECT v, CAST(count(*) AS BIGINT) t FROM
           (SELECT x v FROM tris UNION ALL SELECT y FROM tris
            UNION ALL SELECT z FROM tris) GROUP BY v)
       SELECT deg.v, deg.d AS degree,
         CAST(coalesce(t, 0) AS BIGINT) AS n_tri,
         CAST(1000000 * 2 * coalesce(t, 0) // (d * (d - 1)) AS BIGINT)
           AS lcc_ppm
       FROM deg LEFT JOIN pern ON pern.v = deg.v WHERE d >= 2"""

  private val AnfHops = 6
  private val AnfK = 2048

  private val SsspRounds = 6

  /** SSSP oracle: min cost over walks of ≤ `SsspRounds` edges from the
    * seed set — Bellman-Ford after h rounds computes exactly this, so
    * [[graft.operators.Graph.sssp]] is bit-exact against it. Weights are
    * affinity costs `10⁶ div co-occurrence-count` from the CAPPED basket
    * relation (bp), identical integral algebra on both engines. */
  private val ssspOracleSql: String =
    s"""WITH RECURSIVE $coPurchaseSymCte,
       wed AS (SELECT pka a, pkb b, CAST(1000000 // count(*) AS BIGINT) w
         FROM bp WHERE pka <> pkb GROUP BY pka, pkb),
       sv AS (SELECT DISTINCT p_partkey v FROM part WHERE p_size = 50
         AND p_partkey IN (SELECT a FROM wed)),
       walk(v, c, hop) AS (
         SELECT v, CAST(0 AS BIGINT) c, 0 hop FROM sv
         UNION
         SELECT wed.b, walk.c + wed.w, walk.hop + 1 FROM walk
         JOIN wed ON wed.a = walk.v WHERE walk.hop < $SsspRounds)
       SELECT v, min(c) AS dist FROM walk GROUP BY v"""

  /** Neighborhood-function oracle: bounded all-pairs min-distance via a
    * set-semantics recursive expansion, then the cumulative pair census
    * per hop — [[graft.operators.Graph.neighborhoodFunction]]'s KMV
    * sketches are exact below k (= 2048 > |V| = 1494 at sf0.01), so the
    * sketch census equals the exact one. */
  private val anfOracleSql: String =
    s"""WITH RECURSIVE $coPurchaseSymCte,
       reach AS (
         SELECT a s, a t, 0 hop FROM (SELECT DISTINCT a FROM sym)
         UNION
         SELECT r.s, sym.b, r.hop + 1 FROM reach r
         JOIN sym ON sym.a = r.t WHERE r.hop < $AnfHops),
       md AS (SELECT s, t, CAST(min(hop) AS BIGINT) d FROM reach
         GROUP BY s, t)
       SELECT CAST(h.hop AS BIGINT) AS hop,
         CAST((SELECT count(*) FROM md WHERE md.d <= h.hop) AS BIGINT)
           AS reached_pairs
       FROM range(0, ${AnfHops + 1}) h(hop)"""

  private val HitsRounds = 2
  private val HitsCustOff = 1000000000L
  private val HitsK = 20

  /** HITS oracle: the same unnormalized integer rounds unrolled as CTEs
    * over the offset bipartite purchase graph, top-k legs cut on the
    * identical (score desc, id asc) total order. */
  private val hitsOracleSql: String = {
    def around(i: Int): String = s""",
       a$i AS (SELECT n.v, CAST(coalesce(sum(h${i - 1}.h), 0) AS BIGINT) a
         FROM nodes n LEFT JOIN ed ON ed.t = n.v
         LEFT JOIN h${i - 1} ON h${i - 1}.v = ed.s GROUP BY n.v),
       h$i AS (SELECT n.v, CAST(coalesce(sum(a$i.a), 0) AS BIGINT) h
         FROM nodes n LEFT JOIN ed ON ed.s = n.v
         LEFT JOIN a$i ON a$i.v = ed.t GROUP BY n.v)"""
    s"""WITH li AS (SELECT l_orderkey ok, l_partkey pk FROM lineitem
         WHERE l_quantity >= 45),
       ed AS (SELECT DISTINCT CAST(o_custkey + $HitsCustOff AS BIGINT) s,
           CAST(pk AS BIGINT) t FROM li JOIN orders ON o_orderkey = ok),
       nodes AS (SELECT s v FROM ed UNION SELECT t FROM ed),
       h0 AS (SELECT v, CAST(1 AS BIGINT) h FROM nodes)""" +
      (1 to HitsRounds).map(around).mkString + s"""
       SELECT * FROM (
         SELECT 'authority' AS role, v AS id, a AS score FROM a$HitsRounds
         WHERE v < $HitsCustOff ORDER BY a DESC, v LIMIT $HitsK)
       UNION ALL
       SELECT * FROM (
         SELECT 'hub' AS role, v - $HitsCustOff AS id, h AS score
         FROM h$HitsRounds
         WHERE v >= $HitsCustOff ORDER BY h DESC, v LIMIT $HitsK)"""
  }

  private val LinkPredK = 20
  private val LinkPredScale = 1000000L

  /** Link-prediction oracle: the resource-allocation sum as integer floor
    * division at the same scale, common-neighbor wedges enumerated per
    * center, known edges anti-joined out, and the top-k cut on the strict
    * (score desc, a, b) total order — identical algebra to
    * [[graft.operators.Graph.linkPredictRA]]. */
  private val linkPredOracleSql: String =
    s"""WITH $coPurchaseSymCte,
       deg AS (SELECT a AS z, CAST(count(*) AS BIGINT) dz FROM sym GROUP BY 1),
       nb AS (SELECT s.a AS z, s.b AS x, d.dz FROM sym s JOIN deg d ON d.z = s.a),
       w AS (SELECT n1.x AS a, n2.x AS b, n1.dz FROM nb n1
         JOIN nb n2 ON n1.z = n2.z WHERE n1.x < n2.x),
       sc AS (SELECT a, b, CAST(sum($LinkPredScale // dz) AS BIGINT) AS ra_score,
           count(*) AS common_nbrs FROM w GROUP BY 1, 2),
       ne AS (SELECT sc.* FROM sc LEFT JOIN sym e
         ON e.a = sc.a AND e.b = sc.b WHERE e.a IS NULL)
       SELECT a AS part_a, b AS part_b, ra_score, common_nbrs FROM ne
       ORDER BY ra_score DESC, a, b LIMIT $LinkPredK"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("cdc_event_type_counts", (s, d) =>
      t(s, d, "events").groupBy("event_type").agg(count(lit(1)).as("cnt")),
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type"),

    QuerySpec("cdc_filter_project", (s, d) =>
      t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase") && col("value") > 50.0)
        .select("event_id", "user_id", "event_type", "value"),
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE event_type IN ('click','purchase') AND value > 50.0"""),

    QuerySpec("cdc_txn_group", (s, d) =>
      Cdc.transactionSummary(t(s, d, "events"), col("user_id"), col("event_id"), col("value"))
        .withColumn("total_value", col("total_value").cast("string")),
      """SELECT user_id AS txn_id, count(*) AS n_events, min(event_id) AS first_event,
           max(event_id) AS last_event,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS total_value
         FROM events GROUP BY user_id"""),

    QuerySpec("cdc_txn_seq", (s, d) =>
      // seq widened to BIGINT: the oracle's row_number() is BIGINT in
      // DuckDB and the strict gate pins engine types, not just values
      Cdc.perSecondSequence(t(s, d, "events"), col("ts"), col("event_id"))
        .select(col("event_id"), col("sec"), col("seq").cast("long").as("seq")),
      """SELECT event_id, epoch_us(ts) // 1000000 AS sec,
           row_number() OVER (PARTITION BY epoch_us(ts) // 1000000 ORDER BY event_id) AS seq
         FROM events""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("cdc_micro_stamp", (s, d) =>
      Cdc.microStamp(Cdc.perSecondSequence(t(s, d, "events"), col("ts"), col("event_id")),
          col("ts"), col("seq"))
        .select("event_id", "micros"),
      """WITH s AS (SELECT event_id, ts,
           row_number() OVER (PARTITION BY epoch_us(ts) // 1000000 ORDER BY event_id) AS seq
         FROM events)
         SELECT event_id, epoch_ms(ts) * 1000 + seq * 100 AS micros FROM s""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("cdc_ts_organizer", (s, d) =>
      Cdc.organizeTimestamps(t(s, d, "events"), col("user_id"), col("ts"), col("event_id"))
        .select("event_id", "user_id", "cell_ts"),
      """SELECT event_id, user_id,
           epoch_us(ts) - 50 + least(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1, 50) AS cell_ts
         FROM events""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("cdc_salted_rowkey", (s, d) =>
      t(s, d, "events")
        .withColumn("row_key", MysqlValues.saltedRowKey(Seq(col("user_id"), col("event_id"))))
        .select("event_id", "row_key"),
      """SELECT event_id,
           substr(md5(CAST(user_id AS VARCHAR)), 1, 8) || ';' || CAST(user_id AS VARCHAR)
             || ';' || CAST(event_id AS VARCHAR) AS row_key
         FROM events""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("cdc_changed_cols", (s, d) =>
      Cdc.changedValues(t(s, d, "events"), col("user_id"), col("event_id"), col("value"))
        .select("event_id", "user_id", "before_value", "after_value"),
      """WITH s AS (SELECT event_id, user_id, value,
           lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS before_value FROM events)
         SELECT event_id, user_id, before_value, value AS after_value FROM s
         WHERE before_value IS NOT NULL AND before_value <> value""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("cdc_latest_state", (s, d) =>
      Cdc.latestStateAgg(t(s, d, "events"), col("user_id"), col("ts"), col("event_id"),
          Seq("event_id", "event_type", "value"))
        .select(col("key").as("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value")),
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type, value AS last_value
         FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1"""),

    QuerySpec("cdc_partition_route", (s, d) =>
      t(s, d, "events")
        .groupBy(Cdc.xxidPartition(col("event_id"), 8).as("partition_id"))
        .agg(count(lit(1)).as("cnt")),
      "SELECT event_id % 8 AS partition_id, count(*) AS cnt FROM events GROUP BY 1"),

    QuerySpec("cdc_replay_dedup", (s, d) => {
      val ev = t(s, d, "events").select("event_id", "user_id", "event_type")
      Cdc.replayDedup(ev.unionAll(ev.filter(col("event_id") >= 500)), Seq("event_id"))
    },
      "SELECT event_id, user_id, event_type FROM events",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("cdc_safe_checkpoint", (s, d) =>
      Cdc.safeCheckpointPerKey(t(s, d, "events"), col("user_id"), col("event_id"))
        .select(col("key").as("user_id"), col("safe_checkpoint")),
      """WITH s AS (SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
           min(event_id) OVER (PARTITION BY user_id) AS mn FROM events)
         SELECT user_id, max(event_id) AS safe_checkpoint FROM s
         WHERE event_id - rn = mn - 1 GROUP BY user_id"""),

    QuerySpec("cdc_table_merge", (s, d) =>
      Cdc.tableNameMerge(t(s, d, "documents"), "source", "[0-9]+$")
        .groupBy(col("source").as("merged_table"))
        .agg(count(lit(1)).as("cnt")),
      """SELECT regexp_replace(source, '[0-9]+$', '') AS merged_table, count(*) AS cnt
         FROM documents GROUP BY 1"""),

    QuerySpec("cdc_sessionize", (s, d) =>
      // inactivity-gap sessions (1h) per user: session id + per-session stats
      Cdc.sessionize(t(s, d, "events"), col("user_id"), col("ts"), gapMs = 3600000L)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event")),
      """WITH s AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 3600000
                  THEN 1 ELSE 0 END AS new_session
           FROM events),
         t AS (SELECT user_id, event_id,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_seq
         FROM s)
         SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, count(*) AS n_events,
           min(event_id) AS first_event, max(event_id) AS last_event
         FROM t GROUP BY user_id, session_seq""",
      cap = Some(Cap("user_id", 10))),

    QuerySpec("cdc_time_machine", (s, d) => {
      // the full CDC write path: the fixture's op stream → transaction assembly
      // (batch form: one window pass, codegen end-to-end; parity with the
      // stateful form proven by StreamingSpec) → mutation cells
      // (changed-column deltas) → intra-txn timestamp organizing.
      // SURVEY §2.3 A4/A7/A12 + §2.6 W7/W9.
      storedCells(s, d)
        .select(col("row_key"), col("column").as("col_name"), col("value"),
          col("cell_ts"), col("event_id"))
    },
      """WITH e AS (
           SELECT user_id, event_id, value, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
             lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS pv,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS pt,
             max(epoch_ms(ts)) OVER (PARTITION BY user_id) AS commit_ms
           FROM events)
         SELECT CAST(user_id AS VARCHAR) AS row_key, 'value' AS col_name,
           CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS value,
           commit_ms * 1000 - 50 + least(rn - 1, 50) AS cell_ts, event_id FROM e
         WHERE rn = 1 OR value <> pv
         UNION ALL
         SELECT CAST(user_id AS VARCHAR), 'event_type', event_type,
           commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e
         WHERE rn = 1 OR event_type <> pt
         UNION ALL
         SELECT CAST(user_id AS VARCHAR), 'row_status', CASE WHEN rn = 1 THEN 'I' ELSE 'U' END,
           commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e
         UNION ALL
         SELECT CAST(user_id AS VARCHAR), '_transaction_uuid', CAST(user_id AS VARCHAR),
           commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e""",
      cap = Some(Cap("event_id", 37))),

    QuerySpec("cdc_version_retention", (s, d) => {
      // max-versions compaction over the cell store (reference: HBase tables
      // created with 1000 max versions — HBaseSchemaManager.java:57-61)
      TimeMachineSink.retainVersions(storedCells(s, d), 2)
        .select(col("row_key"), col("column").as("col_name"), col("value"),
          col("cell_ts"), col("event_id"))
    },
      """WITH e AS (
           SELECT user_id, event_id, value, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
             lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS pv,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS pt,
             max(epoch_ms(ts)) OVER (PARTITION BY user_id) AS commit_ms
           FROM events),
         cells AS (
           SELECT CAST(user_id AS VARCHAR) AS row_key, 'value' AS col_name,
             CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS value,
             commit_ms * 1000 - 50 + least(rn - 1, 50) AS cell_ts, event_id FROM e
           WHERE rn = 1 OR value <> pv
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), 'event_type', event_type,
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e
           WHERE rn = 1 OR event_type <> pt
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), 'row_status', CASE WHEN rn = 1 THEN 'I' ELSE 'U' END,
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), '_transaction_uuid', CAST(user_id AS VARCHAR),
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e),
         r AS (SELECT *, row_number() OVER (PARTITION BY row_key, col_name
                 ORDER BY cell_ts DESC, event_id DESC) AS vn FROM cells)
         SELECT row_key, col_name, value, cell_ts, event_id FROM r WHERE vn <= 2"""),

    QuerySpec("cdc_as_of_state", (s, d) => {
      // point-in-time "time travel": reconstruct every row's state at T
      // from the versioned cell store — the read the reference's HBase
      // time-machine layout answers with timestamped gets (README.md:7-8,
      // HBaseTimeMachineWriter's versioned cells). T here is a point
      // inside the commit-time span so the snapshot is mid-history
      // (roughly half the rows exist, late rows don't yet, and a row whose
      // 50µs intra-txn band straddles T reconstructs PARTIAL state —
      // exactly the timestamped-get semantic). In production T is
      // user-supplied and the read is rowsAsOfCells' one (table, row_key)
      // exchange and sort only — Exchange-free over the bucketed cell
      // table.
      // 7/8 of the way through the commit-time span: commit times are
      // skewed late in this fixture, so the midpoint would snapshot only a
      // handful of rows — 7/8 reconstructs roughly half the table
      // mid-history
      val live = storedCells(s, d).crossJoin(broadcast(commitCuts(s, d, "__as_of" -> 7)))
        .filter(col("cell_ts") <= col("__as_of"))
      TimeMachineSink.rowsAsOfCells(live)
        .select(col("row_key"),
          element_at(col("cols"), "value").as("value"),
          element_at(col("cols"), "event_type").as("event_type"),
          element_at(col("cols"), "row_status").as("row_status"),
          col("state_ts"))
    },
      """WITH e AS MATERIALIZED (
           SELECT user_id, event_id, value, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
             lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS pv,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS pt,
             max(epoch_ms(ts)) OVER (PARTITION BY user_id) AS commit_ms
           FROM events),
         cells AS MATERIALIZED (
           SELECT CAST(user_id AS VARCHAR) AS row_key, 'value' AS col_name,
             CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS value,
             commit_ms * 1000 - 50 + least(rn - 1, 50) AS cell_ts, event_id FROM e
           WHERE rn = 1 OR value <> pv
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), 'event_type', event_type,
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e
           WHERE rn = 1 OR event_type <> pt
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), 'row_status', CASE WHEN rn = 1 THEN 'I' ELSE 'U' END,
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), '_transaction_uuid', CAST(user_id AS VARCHAR),
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e),
         live AS MATERIALIZED (SELECT * FROM cells
           WHERE cell_ts <= (SELECT (min(cms) + (max(cms) - min(cms)) * 7 // 8) * 1000
                             FROM (SELECT max(epoch_ms(ts)) AS cms
                                   FROM events GROUP BY user_id))),
         latest AS MATERIALIZED (SELECT row_key, col_name, value, cell_ts,
             row_number() OVER (PARTITION BY row_key, col_name
               ORDER BY cell_ts DESC, event_id DESC) AS vn
           FROM live),
         state AS MATERIALIZED (SELECT row_key,
             max(CASE WHEN col_name = 'value' THEN value END) AS value,
             max(CASE WHEN col_name = 'event_type' THEN value END) AS event_type,
             max(CASE WHEN col_name = 'row_status' THEN value END) AS row_status,
             max(cell_ts) AS state_ts
           FROM latest WHERE vn = 1 GROUP BY row_key)
         SELECT row_key, value, event_type, row_status, state_ts
         FROM state WHERE row_status <> 'D'"""),

    QuerySpec("cdc_snapshot_apply", (s, d) => {
      // incremental latest-state maintenance, oracle-gated against the
      // FULL recompute: history cells (≤ cut) fold into a snapshot once,
      // the post-cut batch applies via TimeMachineSink.applyIncremental —
      // touching ONLY the keys the batch touches — and the result must
      // equal latest-state over the entire history (the oracle computes
      // exactly that). This is how the "now" view stays fresh at 100 TB:
      // per batch the shuffle is bounded by the batch's key count, never
      // the version store. The snapshot and batch are the stored halves
      // of the fixture's cut, as in production.
      TimeMachineSink.rowsAsOfCells(TimeMachineSink.applyIncremental(
          stored(s, d, "snapshot"), stored(s, d, "batch")))
        .select(col("row_key"),
          element_at(col("cols"), "value").as("value"),
          element_at(col("cols"), "event_type").as("event_type"),
          element_at(col("cols"), "row_status").as("row_status"),
          col("state_ts"))
    },
      """WITH e AS (
           SELECT user_id, event_id, value, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
             lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS pv,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS pt,
             max(epoch_ms(ts)) OVER (PARTITION BY user_id) AS commit_ms
           FROM events),
         cells AS (
           SELECT CAST(user_id AS VARCHAR) AS row_key, 'value' AS col_name,
             CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS value,
             commit_ms * 1000 - 50 + least(rn - 1, 50) AS cell_ts, event_id FROM e
           WHERE rn = 1 OR value <> pv
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), 'event_type', event_type,
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e
           WHERE rn = 1 OR event_type <> pt
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), 'row_status', CASE WHEN rn = 1 THEN 'I' ELSE 'U' END,
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), '_transaction_uuid', CAST(user_id AS VARCHAR),
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e),
         latest AS (SELECT row_key, col_name, value, cell_ts,
             row_number() OVER (PARTITION BY row_key, col_name
               ORDER BY cell_ts DESC, event_id DESC) AS vn
           FROM cells),
         state AS (SELECT row_key,
             max(CASE WHEN col_name = 'value' THEN value END) AS value,
             max(CASE WHEN col_name = 'event_type' THEN value END) AS event_type,
             max(CASE WHEN col_name = 'row_status' THEN value END) AS row_status,
             max(cell_ts) AS state_ts
           FROM latest WHERE vn = 1 GROUP BY row_key)
         SELECT row_key, value, event_type, row_status, state_ts
         FROM state WHERE row_status <> 'D'"""),

    QuerySpec("cdc_funnel", (s, d) =>
      // ordered funnel (view -> click -> purchase, strictly-later steps)
      // over the high-intent slice (value >= 85 thins each user's stream
      // so every stage 0..3 is populated — the unfiltered fixture funnels
      // every user to 3): ONE groupBy shuffle, then a scan-local HOF fold
      // over each user's ts-sorted events — no stage self-joins (the
      // oracle's 3-join form is the semantics spec, not the plan).
      graft.operators.Cdc.funnel(
          t(s, d, "events").filter(col("value") >= 85.0), col("user_id"),
          col("ts"), col("event_type"), Seq("view", "click", "purchase"))
        .select(col("key").as("user_id"), col("funnel_stage")),
      // the incremental-apply path must reproduce the FULL-history latest
      // state exactly — so the oracle is simply latest-state over all cells
      """WITH e AS (SELECT * FROM events WHERE value >= 85.0),
         s1 AS (SELECT user_id, min(epoch_ms(ts)) AS t1 FROM e
           WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t2 FROM e
           JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND epoch_ms(e.ts) > s1.t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t3 FROM e
           JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > s2.t2 GROUP BY 1)
         SELECT u.user_id,
           CASE WHEN s3.user_id IS NOT NULL THEN 3
                WHEN s2.user_id IS NOT NULL THEN 2
                WHEN s1.user_id IS NOT NULL THEN 1
                ELSE 0 END AS funnel_stage
         FROM (SELECT DISTINCT user_id FROM e) u
         LEFT JOIN s1 USING (user_id)
         LEFT JOIN s2 USING (user_id)
         LEFT JOIN s3 USING (user_id)"""),

    QuerySpec("cdc_funnel_windowed", (s, d) =>
      // conversion-window funnel: each step must land within 7 days of the
      // previous step's FIRST completion (standard product-analytics
      // semantics, no backtracking) — same single-shuffle HOF fold, the
      // gap bound rides inside the lambda
      graft.operators.Cdc.funnel(
          t(s, d, "events").filter(col("value") >= 85.0), col("user_id"),
          col("ts"), col("event_type"), Seq("view", "click", "purchase"),
          maxGapMs = Some(604800000L))
        .select(col("key").as("user_id"), col("funnel_stage")),
      """WITH e AS (SELECT * FROM events WHERE value >= 85.0),
         s1 AS (SELECT user_id, min(epoch_ms(ts)) AS t1 FROM e
           WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t2 FROM e
           JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND epoch_ms(e.ts) > s1.t1
             AND epoch_ms(e.ts) - s1.t1 <= 604800000 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t3 FROM e
           JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > s2.t2
             AND epoch_ms(e.ts) - s2.t2 <= 604800000 GROUP BY 1)
         SELECT u.user_id,
           CASE WHEN s3.user_id IS NOT NULL THEN 3
                WHEN s2.user_id IS NOT NULL THEN 2
                WHEN s1.user_id IS NOT NULL THEN 1
                ELSE 0 END AS funnel_stage
         FROM (SELECT DISTINCT user_id FROM e) u
         LEFT JOIN s1 USING (user_id)
         LEFT JOIN s2 USING (user_id)
         LEFT JOIN s3 USING (user_id)"""),

    QuerySpec("cdc_time_to_convert", (s, d) =>
      // first-view → first-purchase conversion lag per user: ONE hash
      // aggregation with conditional mins — no self-joins, no windows;
      // integer epoch arithmetic end to end. Non-converters (no purchase
      // at-or-after their first view) carry NULL lag.
      t(s, d, "events").groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", unix_millis(col("ts"))))
            .as("first_view"),
          min(when(col("event_type") === "purchase", unix_millis(col("ts"))))
            .as("first_purchase"))
        .withColumn("ms_to_convert",
          when(col("first_purchase") >= col("first_view"),
            col("first_purchase") - col("first_view"))),
      """WITH a AS (SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS first_view,
           min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS first_purchase
         FROM events GROUP BY user_id)
         SELECT user_id, first_view, first_purchase,
           CASE WHEN first_purchase >= first_view
             THEN first_purchase - first_view END AS ms_to_convert
         FROM a"""),

    QuerySpec("cdc_attribution", (s, d) => {
      // last-touch attribution: each purchase credits the latest click/
      // view by the same user at-or-before it, within a 24 h lookback —
      // the as-of join reused as the marketing-attribution primitive
      // (same union+window shape as cdc_as_of_state: ONE exchange on the
      // user key, streams both sides in time order, never a per-purchase
      // scan of touch history). Touches pre-dedup to one per (user, ts)
      // with the max event_id so the as-of pick is deterministic even if
      // two touches share a microsecond.
      val ev = t(s, d, "events")
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .groupBy(col("user_id").as("u"), col("ts").as("tts"))
        .agg(max(struct(col("event_id"), col("event_type"))).as("tch"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      graft.operators.TemporalJoins.asOfJoin(
          purchases, col("user_id"), col("ts"),
          touches, col("u"), col("tts"),
          Seq("touch_id" -> col("tch.event_id"),
            "touch_type" -> col("tch.event_type"),
            "touch_ms" -> unix_millis(col("tts"))))
        .withColumn("ms_since_touch",
          unix_millis(col("ts")) - col("touch_ms"))
        .filter(col("ms_since_touch") <= lit(86400000L))
        .select("event_id", "touch_id", "touch_type", "ms_since_touch")
    },
      // touches dedup to max-event_id per (user, ts) exactly like the
      // engine, so the DESC rank never ties; lookback postfilter last
      """WITH tch AS (SELECT user_id, ts, max(event_id) AS touch_id,
             arg_max(event_type, event_id) AS touch_type
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1, 2),
         p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
         j AS (SELECT p.event_id, t.touch_id, t.touch_type,
             epoch_ms(p.ts) - epoch_ms(t.ts) AS ms_since_touch
           FROM p JOIN tch t ON t.user_id = p.user_id AND t.ts <= p.ts
           QUALIFY row_number() OVER (PARTITION BY p.event_id
             ORDER BY t.ts DESC) = 1)
         SELECT event_id, touch_id, touch_type, ms_since_touch
         FROM j WHERE ms_since_touch <= 86400000"""),

    QuerySpec("cdc_event_transitions", (s, d) =>
      // first-order Markov transition counts (the "what happens next"
      // product-analytics read): lead() over each user's (ts, event_id)-
      // ordered stream, then one hash aggregation over the type² matrix —
      // one window exchange on the user key, output bounded by #types².
      t(s, d, "events")
        .withColumn("to_type", lead(col("event_type"), 1).over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ts"), col("event_id"))))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("cnt")),
      """WITH t AS (SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events)
         SELECT from_type, to_type, count(*) AS cnt
         FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2"""),

    QuerySpec("cdc_conversion_paths", (s, d) =>
      // top converting paths — the sequence-mining complement of the
      // first-order transition matrix: per converting user, the LAST
      // THREE event types strictly before their first purchase, joined
      // ">"-chronologically, counted across users. ONE user-keyed
      // exchange (the same collect_list shape as funnelSteps, state
      // bounded per key by the user's event count); cutoff, ordering,
      // slice, and path join are all scan-local array ops after the agg.
      // Strict-before uses the (ms, event_id) pair so a touch sharing
      // the purchase's microsecond still orders deterministically.
      t(s, d, "events")
        .select(col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ms"), col("event_id"))
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "purchase",
            struct(col("ms"), col("event_id")))).as("fp"),
          collect_list(struct(col("ms"), col("event_id"),
            col("event_type"))).as("evs"))
        .filter(col("fp").isNotNull)
        .select(expr(
          "array_sort(filter(evs, e -> struct(e.ms, e.event_id) < fp))")
          .as("pre"))
        .filter(size(col("pre")) >= 1)
        // start clamped to -size: slice(-3) on a shorter-than-3 array is
        // out-of-range in Spark and silently yields [], which would drop
        // every 1-2-event path
        .select(expr("slice(pre, -least(size(pre), 3), 3)").as("last3"))
        .select(expr("array_join(transform(last3, e -> e.event_type), '>')")
          .as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users")),
      // last-3-before-first-purchase paths; string_agg ORDER BY rn DESC
      // renders chronological order (rn counts back from the purchase)
      """WITH p AS (SELECT user_id, epoch_ms(ts) AS pms, event_id AS peid
           FROM events WHERE event_type = 'purchase'
           QUALIFY row_number() OVER (PARTITION BY user_id
             ORDER BY ts, event_id) = 1),
         pre AS (SELECT e.user_id, e.event_type,
             epoch_ms(e.ts) AS ms, e.event_id
           FROM events e JOIN p ON p.user_id = e.user_id
           WHERE (epoch_ms(e.ts), e.event_id) < (p.pms, p.peid)),
         r AS (SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ms DESC, event_id DESC) AS rn
           FROM pre),
         paths AS (SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn DESC) AS path
           FROM r WHERE rn <= 3 GROUP BY user_id)
         SELECT path, count(*) AS n_users FROM paths GROUP BY path"""),

    QuerySpec("q_mad_outliers", (s, d) => {
      // robust outlier flags via Median Absolute Deviation (the
      // Hampel/robust-statistics standard — unlike z-scores, the
      // estimator itself is immune to the outliers it hunts): per-type
      // median and MAD from KLL sketches (exact order statistics in the
      // oracle regime, O(k) reducer state at any scale), both broadcast
      // as GROUP-cardinality tables; the flag is a scan-local comparison.
      // All doubles are data values or exact IEEE ops (x − med, 3·mad) —
      // bit-identical cross-engine, no rounding discipline needed.
      val ev = t(s, d, "events")
      val med = ev.groupBy(col("event_type").as("__g"))
        .agg(graft.functions.KllQuantileAgg.kllQuantiles(
          col("value").cast("double"), 8192, Seq(0.5)).as("q"))
        .select(col("__g"), col("q")(0).as("med"))
      val mad = ev.join(broadcast(med), col("event_type") === col("__g"))
        .groupBy(col("__g").as("__g2"))
        .agg(graft.functions.KllQuantileAgg.kllQuantiles(
          abs(col("value") - col("med")).cast("double"), 8192, Seq(0.5)).as("q"))
        .select(col("__g2"), col("q")(0).as("mad"))
      ev.join(broadcast(med), col("event_type") === col("__g"))
        .join(broadcast(mad), col("event_type") === col("__g2"))
        .select(col("event_id"), col("event_type"), col("value"),
          (abs(col("value") - col("med")) > lit(3.0d) * col("mad"))
            .as("is_outlier"))
    },
      // med and MAD are the KLL exact-regime order statistics (rank
      // ceil(0.5·n), clamp ≥1); x − med and 3·mad are exact IEEE on both
      // engines, so the boolean flag needs no rounding discipline
      """WITH r AS (SELECT event_type, CAST(value AS DOUBLE) AS v,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events),
         med AS (SELECT event_type,
             max(CASE WHEN rn = CAST(greatest(1, ceil(0.5 * n)) AS BIGINT) THEN v END) AS med
           FROM r GROUP BY 1),
         r2 AS (SELECT e.event_type, abs(CAST(e.value AS DOUBLE) - med.med) AS av,
             CAST(row_number() OVER (PARTITION BY e.event_type
               ORDER BY abs(CAST(e.value AS DOUBLE) - med.med)) AS BIGINT) AS rn,
             count(*) OVER (PARTITION BY e.event_type) AS n
           FROM events e JOIN med USING (event_type)),
         mad AS (SELECT event_type,
             max(CASE WHEN rn = CAST(greatest(1, ceil(0.5 * n)) AS BIGINT) THEN av END) AS mad
           FROM r2 GROUP BY 1)
         SELECT e.event_id, e.event_type, e.value,
           abs(CAST(e.value AS DOUBLE) - med.med) > 3.0 * mad.mad AS is_outlier
         FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("sketch_sliding_distinct", (s, d) => {
      // rolling 7-day distinct users ("7-day MAU") — the query that is
      // brutally expensive exact at scale (every day re-counts a week of
      // raw traffic) and one sketch-table lookup here: daily KMV sketches
      // build once (day-cardinality table), each day's window merges ≤7
      // stored sketch VALUES. The non-equi day-range self-join runs over
      // the DAY-sized table (broadcast), never the raw stream; exact
      // below k = the oracle regime.
      import graft.functions.KmvSetOps._
      val daily = t(s, d, "events")
        .groupBy((unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
        .agg(kmvSketch(xxhash64(col("user_id")), 16384).as("sk"))
      daily.as("a")
        .join(broadcast(daily.as("b")),
          col("b.day").between(col("a.day") - 6, col("a.day")))
        .groupBy(col("a.day").as("day"))
        .agg(kmvEstimate(kmvMerge(col("b.sk"))).as("mau7"))
    },
      """WITH act AS (SELECT DISTINCT user_id,
             epoch_ms(ts) // 86400000 AS d FROM events),
         days AS (SELECT DISTINCT d AS day FROM act)
         SELECT days.day, count(DISTINCT act.user_id) AS mau7
         FROM days JOIN act ON act.d BETWEEN days.day - 6 AND days.day
         GROUP BY days.day"""),

    QuerySpec("q_sessionize", (s, d) =>
      // gap-based sessionization (12h idle window over the sparse events
      // fixture): lag marks opens, a running sum numbers them, and both
      // windows + the session aggregation share ONE key-ordered exchange.
      // Value totals ride as integer cents (decimal-surface rule).
      graft.operators.Cdc.sessionize(t(s, d, "events"), col("user_id"),
        col("ts"), col("event_id"), col("value"), idleMs = 43200000L),
      """WITH ev AS (SELECT user_id, epoch_ms(ts) AS t, event_id AS eid,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM events),
         m AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
                 OR t - lag(t) OVER w > 43200000 THEN 1 ELSE 0 END AS op
           FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, eid)),
         sn AS (SELECT *, CAST(sum(op) OVER (PARTITION BY user_id
                 ORDER BY t, eid ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW) AS BIGINT) AS session_idx FROM m)
         SELECT user_id, session_idx, count(*) AS n_events,
           min(t) AS session_start_ms, max(t) - min(t) AS duration_ms,
           CAST(sum(cents) AS BIGINT) AS value_cents
         FROM sn GROUP BY 1, 2"""),

    QuerySpec("q_components", (s, d) => {
      // connected-component census of the high-quantity co-purchase graph
      // (103 components at sf0.01: one giant + a long tail): the graph
      // lane's third member, REUSING the dedup-resolution kernel —
      // min-label propagation with pointer doubling (Shiloach/Vishkin
      // shape, O(log diameter) rounds, driver sees only the converged
      // count). The oracle is a recursive-CTE reachability closure over
      // the per-order CLIQUE: both compute "min id reachable", so the
      // census is exact. The engine never materializes the clique —
      // for connectivity a per-order STAR (each part → min part of the
      // order) spans the same components over the same node set, and it
      // is linear in qualifying lineitems where the clique is k² per
      // order (the hub-proof form for a 100 TB basket table): one
      // groupBy exchange instead of a self-join + distinct.
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val pairs = li.groupBy("ok")
        .agg(min(col("pk")).as("m"), collect_set(col("pk")).as("nbrs"))
        .select(col("m").as("a_id"), explode(col("nbrs")).as("b_id"))
        .filter(col("a_id") =!= col("b_id"))
      graft.operators.Dedup.resolveCanonicalStars(pairs)
        .groupBy(col("canonical_id").as("component_id"))
        .agg(count(lit(1)).as("n_nodes"))
    },
      """WITH RECURSIVE li AS MATERIALIZED (SELECT l_orderkey ok, l_partkey pk
           FROM lineitem WHERE l_quantity >= 45),
         e0 AS MATERIALIZED (SELECT DISTINCT a.pk a, b.pk b FROM li a
           JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         ed AS MATERIALIZED (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         nodes AS MATERIALIZED (SELECT DISTINCT a AS v FROM ed),
         reach(v, l) AS MATERIALIZED (
           SELECT v, v AS l FROM nodes
           UNION
           SELECT e.b AS v, reach.l FROM reach JOIN ed e ON e.a = reach.v),
         comp AS MATERIALIZED (SELECT v, min(l) AS component_id FROM reach GROUP BY v)
         SELECT component_id, count(*) AS n_nodes
         FROM comp GROUP BY component_id"""),

    QuerySpec("q_components_maintain", (s, d) => {
      // incremental connected components — the graph lane's IVM member
      // (edge ADDITIONS are the monotone direction; deletion needs a
      // rescan, like cdc_minmax_maintain's retraction hazard): the stored
      // min-label table (components of the orders NOT in the batch) folds
      // in the batch orders' edges at O(batch + touched-label rewrite) —
      // batch endpoints canonicalize against stored labels, already-merged
      // edges vanish, the batch-sized residue star-contracts, and the
      // merge map updates the stored table by one broadcast join (labels
      // never shuffle). Gate: maintained census ≡ full recompute (the
      // q_components oracle over ALL qualifying orders).
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      def starEdges(df: DataFrame) = df.groupBy("ok")
        .agg(min(col("pk")).as("m"), collect_set(col("pk")).as("nbrs"))
        .select(col("m").as("a_id"), explode(col("nbrs")).as("b_id"))
        .filter(col("a_id") =!= col("b_id"))
      // build-once: the STORED min-label table is a once-per-corpus cost
      // in production (the IVM contract is "absorb a batch into a STORED
      // table") — the gated body times the batch absorb, not the build
      val dir = fixture("compmaint", d) { dir =>
        graft.operators.Dedup.resolveCanonicalStars(
            starEdges(li.filter(col("ok") % 8 =!= 0)))
          .write.mode("overwrite").parquet(s"$dir/labels")
      }
      val stored = s.read.parquet(s"$dir/labels")
      graft.operators.Graph.maintainComponents(
          stored, col("id"), col("canonical_id"),
          starEdges(li.filter(col("ok") % 8 === 0)), col("a_id"), col("b_id"))
        .groupBy(col("canonical_id").as("component_id"))
        .agg(count(lit(1)).as("n_nodes"))
    },
      // the RECOMPUTE: the maintained label table must census identically to
      // components over the FULL qualifying edge set (stored ∪ batch orders)
      // — same closure as q_components
      """WITH RECURSIVE li AS MATERIALIZED (SELECT l_orderkey ok, l_partkey pk
           FROM lineitem WHERE l_quantity >= 45),
         e0 AS MATERIALIZED (SELECT DISTINCT a.pk a, b.pk b FROM li a
           JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         ed AS MATERIALIZED (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         nodes AS MATERIALIZED (SELECT DISTINCT a AS v FROM ed),
         reach(v, l) AS MATERIALIZED (
           SELECT v, v AS l FROM nodes
           UNION
           SELECT e.b AS v, reach.l FROM reach JOIN ed e ON e.a = reach.v),
         comp AS MATERIALIZED (SELECT v, min(l) AS component_id FROM reach GROUP BY v)
         SELECT component_id, count(*) AS n_nodes
         FROM comp GROUP BY component_id"""),

    QuerySpec("q_peak_concurrency", (s, d) => {
      // capacity-planning read: daily peak simultaneous sessions. Sweep
      // line PARTITIONED BY DAY (intervals clip to day segments, ±1
      // boundary deltas, one day-keyed RANGE window) — no global ordering
      // anywhere; closed-interval tie semantics pinned by (t asc, delta
      // desc) + RANGE peers. Composes the sessionize operator's output.
      val sess = graft.operators.Cdc.sessionize(t(s, d, "events"),
        col("user_id"), col("ts"), col("event_id"), col("value"),
        idleMs = 43200000L)
      graft.operators.Cdc.peakConcurrencyDaily(sess,
        col("session_start_ms"),
        col("session_start_ms") + col("duration_ms"))
    },
      """WITH ev AS (SELECT user_id, epoch_ms(ts) AS t, event_id AS eid
           FROM events),
         m AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
                 OR t - lag(t) OVER w > 43200000 THEN 1 ELSE 0 END AS op
           FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, eid)),
         sn AS (SELECT *, sum(op) OVER (PARTITION BY user_id ORDER BY t, eid
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS si
           FROM m),
         sess AS (SELECT user_id, si, min(t) AS s, max(t) AS e
           FROM sn GROUP BY 1, 2),
         sp AS (SELECT s, e,
             unnest(generate_series(s // 86400000, e // 86400000)) AS day
           FROM sess),
         seg AS (SELECT day, greatest(s, day * 86400000) AS ss,
             least(e, day * 86400000 + 86399999) AS se FROM sp),
         dl AS (SELECT day, ss AS t, 1 AS delta FROM seg
           UNION ALL SELECT day, se + 1, -1 FROM seg),
         c AS (SELECT day, CAST(sum(delta) OVER (PARTITION BY day
                 ORDER BY t ASC, delta DESC RANGE BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS BIGINT) AS conc FROM dl)
         SELECT day, CAST(count(*) / 2 AS BIGINT) AS n_active_sessions,
           max(conc) AS peak_concurrency
         FROM c GROUP BY day"""),

    QuerySpec("q_triangles", (s, d) => {
      // triangle census of the co-purchase graph via degree-ordered
      // orientation (each wedge enumerated once at its smallest-degree
      // apex; out-degree bounded O(√m) so wedge volume is O(m^1.5), not
      // Σdeg² — the hub-proof form). The clique-edge CONSTRUCTION is
      // hub-capped too: baskets bound to the 32 lowest partkeys per order
      // (deterministic; part of the query contract, encoded identically
      // in the oracle), so per-order edge volume is ≤ 32·31 instead of k²
      // — on TPC-H every basket is ≤7 so the census stays exact. All
      // integer: count, Σd(d−1)/2, floor-div ppm coefficient; the oracle
      // runs the identical algebra.
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = graft.operators.Graph.coOccurrenceEdges(
        li, col("ok"), col("pk"), maxBasket = 32)
      graft.operators.Graph.triangleStats(edges, col("src"), col("dst"))
    },
      """WITH li AS (SELECT l_orderkey ok, l_partkey pk FROM lineitem),
         basket AS (SELECT ok,
             list_sort(list_distinct(list(pk)))[1:32] AS ps
           FROM li GROUP BY ok),
         ba AS (SELECT ok, unnest(ps) AS pka, ps FROM basket),
         bp AS (SELECT pka, unnest(ps) AS pkb FROM ba),
         und AS (SELECT DISTINCT least(pka, pkb) a, greatest(pka, pkb) b
           FROM bp WHERE pka <> pkb),
         deg AS (SELECT v, count(*) d FROM
           (SELECT a v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
         wd AS (SELECT und.a, und.b, da.d AS da, db.d AS db FROM und
           JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b),
         ori AS (SELECT
             CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END u,
             CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END w,
             CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END dw
           FROM wd),
         wedges AS (SELECT e1.u, e1.w v1, e2.w v2
           FROM ori e1 JOIN ori e2 ON e1.u = e2.u
           WHERE e1.dw < e2.dw OR (e1.dw = e2.dw AND e1.w < e2.w)),
         closed AS (SELECT 1 FROM wedges
           JOIN ori ON ori.u = wedges.v1 AND ori.w = wedges.v2)
         SELECT (SELECT count(*) FROM closed) AS n_triangles,
           (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
           CAST(CASE WHEN (SELECT sum(d * (d - 1) // 2) FROM deg) > 0
             THEN 3000000 * (SELECT count(*) FROM closed)
               // (SELECT sum(d * (d - 1) // 2) FROM deg)
             ELSE 0 END AS BIGINT) AS clustering_ppm"""),

    QuerySpec("q_kcore", (s, d) => {
      // bounded k-core peel over the quantity-thinned hub-capped
      // co-purchase graph — the community-density primitive (dense
      // subgraph extraction; the standard "influential cohort" read).
      // k=3, 3 peel rounds: deterministic at any round count, so the
      // oracle unrolls the identical algebra (the pagerank posture);
      // the thinned graph actually peels (1494 -> 108 nodes at sf0.01)
      // rather than being one dense core.
      val li = t(s, d, "lineitem")
        .filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = graft.operators.Graph.coOccurrenceEdges(
        li, col("ok"), col("pk"), maxBasket = 32)
      graft.operators.Graph.kCoreMembers(edges, col("src"), col("dst"),
          k = KCoreK, rounds = KCoreRounds)
        .select(col("v").as("part_id"), col("deg"))
    },
      kCoreOracleSql),

    QuerySpec("q_bfs_reach", (s, d) => {
      // multi-source BFS reachability census: hop distance from the
      // largest-size parts over the thinned hub-capped co-purchase graph
      // (the "blast radius in k hops" read — recall/contamination spread).
      // Frontier-synchronous, bounded at 6 hops (the graph lane's
      // bounded-round contract); the sparse graph has real depth (hops
      // 0..6 all populated at sf0.01), and the oracle is a depth-bounded
      // recursive reachability CTE taking min hop per node.
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = graft.operators.Graph.coOccurrenceEdges(
        li, col("ok"), col("pk"), maxBasket = 32)
      val seeds = t(s, d, "part").filter(col("p_size") === 50)
        .select(col("p_partkey"))
      graft.operators.Graph.bfsDistances(edges, col("src"), col("dst"),
          seeds, col("p_partkey"), maxRounds = BfsRounds)
        .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
    },
      bfsOracleSql),

    QuerySpec("q_label_prop", (s, d) => {
      // community census by determinized synchronous label propagation
      // (3 rounds, most-frequent neighbor label, ties to the smallest) —
      // the lightweight community-detection member of the graph lane next
      // to components (pure connectivity) and k-core (density). Each
      // round is one edge join + two partial-aggregatable hash-aggs; the
      // argmax is max_by over distinct (count, −label) pairs, so no
      // window sort and no nondeterminism anywhere.
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = graft.operators.Graph.coOccurrenceEdges(
        li, col("ok"), col("pk"), maxBasket = 32)
      graft.operators.Graph.labelPropagation(edges, col("src"), col("dst"),
          rounds = LpaRounds)
        .groupBy(col("lab").as("community_id"))
        .agg(count(lit(1)).as("n_nodes"))
    },
      lpaOracleSql),

    QuerySpec("q_modularity", (s, d) => {
      // partition-quality read composing the graph lane: Newman
      // modularity (integer ppm, truncating div — engine-exact) of the
      // 3-round LPA communities over the same thinned hub-capped
      // co-purchase graph. One edge-sized label join + three node-sized
      // hash-aggs on top of the LPA rounds; labels broadcast (node-sized).
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      // materialize the constructed edge relation ONCE: both the LPA
      // rounds and the modularity overlay re-traverse it, and without
      // this each consumer lazily replays the window + self-join
      // construction (SCALE.md principle 7 — measured 4.6 → 2.8 s)
      val edges = graft.operators.Graph.coOccurrenceEdges(
        li, col("ok"), col("pk"), maxBasket = 32).localCheckpoint()
      val labels = graft.operators.Graph.labelPropagation(
        edges, col("src"), col("dst"), rounds = LpaRounds)
      graft.operators.Graph.modularityPpm(edges, col("src"), col("dst"),
        labels, col("v"), col("lab"))
    },
      modularityOracleSql),

    QuerySpec("q_clustering_coeff", (s, d) => {
      // per-node clustering coefficient over the thinned hub-capped
      // co-purchase graph: the triangleStats orientation kernel with the
      // closed wedges exploded to their endpoints — O(m^1.5) wedge bound
      // carries over, the attribution adds one node-keyed hash-agg
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = graft.operators.Graph.coOccurrenceEdges(
        li, col("ok"), col("pk"), maxBasket = 32)
      graft.operators.Graph.localClustering(
        edges, col("src"), col("dst"))
    },
      lccOracleSql),

    QuerySpec("q_sssp", (s, d) => {
      // weighted shortest paths (Bellman-Ford rounds) over the capped
      // co-purchase graph: edge cost = 10⁶ div co-occurrence count
      // (stronger affinity = cheaper), multi-source from the p_size=50
      // seed set, 6 relaxation rounds — dist(v) is exactly the min cost
      // over ≤6-edge paths, engine-exact integer algebra
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val multi = graft.operators.Graph.coOccurrenceEdges(
        li, col("ok"), col("pk"), maxBasket = 32)
      val wed = multi.groupBy("src", "dst").agg(count(lit(1)).as("c"))
        .select(col("src"), col("dst"), expr("1000000 div c").as("w"))
      // explode-based symmetrization (round-11): the self-union executed
      // the co-occurrence + weight aggregation once per branch
      val sym = wed.select(explode(array(
          struct(col("src"), col("dst"), col("w")),
          struct(col("dst").as("src"), col("src").as("dst"), col("w")))).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"), col("p.w").as("w"))
      val seeds = t(s, d, "part").filter(col("p_size") === 50)
        .select(col("p_partkey").as("v"))
      graft.operators.Graph.sssp(sym, col("src"), col("dst"), col("w"),
        seeds, col("v"), maxRounds = SsspRounds)
    },
      ssspOracleSql),

    QuerySpec("q_neighborhood_func", (s, d) => {
      // ANF/HyperANF census over the thinned co-purchase graph: per-node
      // KMV ball sketches, one edge join + one sketch-merge agg per hop;
      // k = 2048 > |V| at sf0.01 ⇒ the estimate is the exact pair count
      // (the oracle regime); at corpus scale k shrinks to register size
      // and the same plan gives the guaranteed-error estimate
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = graft.operators.Graph.coOccurrenceEdges(
        li, col("ok"), col("pk"), maxBasket = 32)
      graft.operators.Graph.neighborhoodFunction(
        edges, col("src"), col("dst"), maxHops = AnfHops, k = AnfK)
    },
      anfOracleSql),

    QuerySpec("q_hits", (s, d) => {
      // HITS hubs/authorities on the bipartite customer→part purchase
      // graph (the classic query-community use): customers offset into
      // their own id space so the two sides never collide, 2 unnormalized
      // integer rounds (ranking-equivalent to the normalized iterate),
      // O(k) output via two TakeOrdered legs on (score desc, id)
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      // the constructed edge set materializes ONCE (round-12): the lazy
      // 2-round HITS iterate references `ed` five times (two joins per
      // round + the node census), each otherwise replaying the
      // lineitem⋈orders join + distinct — the triangleStats
      // multi-reference pattern applied at the caller
      val ed = li.join(
          t(s, d, "orders").select(col("o_orderkey").as("ok"),
            col("o_custkey").as("ck")), "ok")
        .select((col("ck").cast("long") + lit(HitsCustOff)).as("src"),
          col("pk").cast("long").as("dst"))
        .distinct()
        .localCheckpoint()
      // hits itself is one lazy plan over `ed` (see its scaladoc)
      val sc = graft.operators.Graph.hits(
        ed, col("src"), col("dst"), rounds = HitsRounds)
      val auth = sc.filter(col("v") < HitsCustOff)
        .orderBy(col("authority").desc, col("v").asc).limit(HitsK)
        .select(lit("authority").as("role"), col("v").as("id"),
          col("authority").as("score"))
      val hub = sc.filter(col("v") >= HitsCustOff)
        .orderBy(col("hub").desc, col("v").asc).limit(HitsK)
        .select(lit("hub").as("role"), (col("v") - HitsCustOff).as("id"),
          col("hub").as("score"))
      auth.unionAll(hub)
    },
      hitsOracleSql),

    QuerySpec("q_link_predict", (s, d) => {
      // link prediction: top-20 missing co-purchase edges by the
      // resource-allocation index (Σ scale div deg(z) over common
      // neighbors z — integer-scaled so the ranking is engine-exact).
      // Wedges enumerate per center (Σdeg², bounded on the hub-capped
      // graph), scores aggregate at candidate-pair cardinality, known
      // edges drop behind an anti-join, and the cut is a TakeOrdered on
      // the strict (score, a, b) total order.
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = graft.operators.Graph.coOccurrenceEdges(
        li, col("ok"), col("pk"), maxBasket = 32)
      graft.operators.Graph.linkPredictRA(edges, col("src"), col("dst"),
          k = LinkPredK, scale = LinkPredScale)
        .select(col("a").as("part_a"), col("b").as("part_b"),
          col("ra_score"), col("common_nbrs"))
    },
      linkPredOracleSql),

    QuerySpec("cdc_funnel_steps", (s, d) =>
      // the GENERAL funnel: heterogeneous per-step predicates — any view,
      // then a click worth ≥ 50, then a purchase worth ≥ 85 — which the
      // event-type-literal form cannot express (a global pre-filter thins
      // EVERY step; r6's cdc_funnel had to filter value ≥ 85 globally).
      // Per-event step-eligibility folds to one bitmask column before the
      // single groupBy shuffle; same scan-local HOF fold, zero joins.
      graft.operators.Cdc.funnelSteps(
          t(s, d, "events"), col("user_id"), col("ts"),
          Seq(col("event_type") === "view",
            col("event_type") === "click" && col("value") >= 50.0,
            col("event_type") === "purchase" && col("value") >= 85.0))
        .select(col("key").as("user_id"), col("funnel_stage")),
      """WITH s1 AS (SELECT user_id, min(epoch_ms(ts)) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t2 FROM events e
           JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.value >= 50.0
             AND epoch_ms(e.ts) > s1.t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t3 FROM events e
           JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.value >= 85.0
             AND epoch_ms(e.ts) > s2.t2 GROUP BY 1)
         SELECT u.user_id,
           CASE WHEN s3.user_id IS NOT NULL THEN 3
                WHEN s2.user_id IS NOT NULL THEN 2
                WHEN s1.user_id IS NOT NULL THEN 1
                ELSE 0 END AS funnel_stage
         FROM (SELECT DISTINCT user_id FROM events) u
         LEFT JOIN s1 USING (user_id)
         LEFT JOIN s2 USING (user_id)
         LEFT JOIN s3 USING (user_id)"""),

    QuerySpec("q_islands", (s, d) =>
      // gaps-and-islands: consecutive-active-day streaks per user via the
      // day − row_number grouping identity — two key-partitioned
      // aggregations, no self-joins
      graft.operators.Cdc.activityStreaks(t(s, d, "events"), col("user_id"),
          col("ts"))
        .select(col("key").as("user_id"), col("n_streaks"), col("max_streak")),
      """WITH act AS (SELECT DISTINCT user_id,
             epoch_ms(ts) // 86400000 AS d FROM events),
         g AS (SELECT user_id, d,
             d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
           FROM act),
         runs AS (SELECT user_id, grp, count(*) AS len
           FROM g GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_streaks, max(len) AS max_streak
         FROM runs GROUP BY user_id"""),

    QuerySpec("q_gap_fill", (s, d) =>
      // daily resample + forward fill: per-user day spine exploded from
      // the key's own range, latest daily total carried across gaps by one
      // last(ignoreNulls) window — never a per-day join against history
      graft.operators.Cdc.gapFillDaily(t(s, d, "events"), col("user_id"),
          col("ts"), col("value"))
        .select(col("key").as("user_id"), col("day"), col("value_filled_cents")),
      // the filled value is INTEGER CENTS: one 2-dp decimal rounding per raw
      // value (identical in both engines), exact ×100 → BIGINT, then all
      // integer — no decimal on the hashed surface (engine-wide rule)
      """WITH daily AS (SELECT user_id, epoch_ms(ts) // 86400000 AS d,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
           FROM events GROUP BY 1, 2),
         span AS (SELECT user_id,
             unnest(generate_series(min(d), max(d))) AS d
           FROM daily GROUP BY user_id),
         j AS (SELECT s.user_id, s.d, daily.v
           FROM span s LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d)
         SELECT user_id, d AS day,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled_cents
         FROM j"""),

    QuerySpec("q_trend_slope", (s, d) => {
      // per-type revenue trend: OLS slope over the daily-total series in
      // INTEGER arithmetic end to end — slope = (nΣxy − ΣxΣy)/(nΣx² −
      // (Σx)²) over (x = day − per-type min day, y = daily cents),
      // emitted as a truncating-div ppm so the hashed surface carries no
      // floating point. The x re-base is not cosmetic: it bounds every
      // product by (day-span × Σ|y|) instead of (epoch-day × Σ|y|), which
      // is what keeps nΣxy inside BIGINT when daily cents grow 10⁶× at
      // corpus scale. Shape: one events-sized hash-agg to the
      // #types×#days daily relation, then a window + agg over that tiny
      // bounded relation — no joins, nothing events-sized crosses twice.
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_millis(ts) div 86400000").as("day"))
        .agg(sum((col("value").cast("decimal(18,2)") * lit(100))
          .cast("long")).as("y"))
      val rel = daily.withColumn("x",
        col("day") - min(col("day")).over(Window.partitionBy("event_type")))
      rel.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"),
          expr("1000000L * (n * sxy - sx * sy) div (n * sxx - sx * sx)")
            .as("slope_ppm"),
          col("n").as("n_days"))
    },
      // integer OLS over per-type x-rebased daily cents; DuckDB sums go
      // HUGEINT so the // happens wide, then casts down to the engine's
      // BIGINT — values are equal because the engine's products are
      // bounded by the rebase (see the Scala comment)
      """WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y
           FROM events GROUP BY 1, 2),
         rel AS (SELECT event_type,
             day - min(day) OVER (PARTITION BY event_type) AS x, y
           FROM daily),
         a AS (SELECT event_type, count(*) AS n, sum(x) AS sx,
             sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
           FROM rel GROUP BY 1)
         SELECT event_type,
           CAST(1000000 * (n * sxy - sx * sy) // (n * sxx - sx * sx)
             AS BIGINT) AS slope_ppm,
           CAST(n AS BIGINT) AS n_days
         FROM a"""),

    QuerySpec("q_changepoint", (s, d) => {
      // mean-shift detection (CUSUM argmax): per type, the day t that
      // maximizes |n·prefix_t − t·total| — the integer-scaled deviation
      // of the cumulative sum from the overall-mean line (×n clears the
      // ȳ fraction, so the statistic is exact BIGINT algebra). Same
      // daily pre-agg as q_trend_slope; the running/total sums are ONE
      // window pass over the bounded daily relation; argmax ties break
      // to the earliest day via a struct max, never a sort of the output.
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_millis(ts) div 86400000").as("day"))
        .agg(sum((col("value").cast("decimal(18,2)") * lit(100))
          .cast("long")).as("y"))
      val wRun = Window.partitionBy("event_type").orderBy("day")
      val wAll = Window.partitionBy("event_type")
      daily
        .withColumn("ti", row_number().over(wRun).cast("long"))
        .withColumn("prefix", sum(col("y")).over(wRun))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("total", sum(col("y")).over(wAll))
        .withColumn("dev",
          abs(col("n") * col("prefix") - col("ti") * col("total")))
        .groupBy("event_type")
        .agg(max(struct(col("dev"), (-col("day")).as("negday"))).as("m"))
        .select(col("event_type"), (-col("m.negday")).as("change_day"),
          col("m.dev").as("cusum_dev"))
    },
      """WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y
           FROM events GROUP BY 1, 2),
         c AS (SELECT event_type, day,
             CAST(row_number() OVER w AS BIGINT) AS ti,
             sum(y) OVER w AS prefix,
             count(*) OVER (PARTITION BY event_type) AS n,
             sum(y) OVER (PARTITION BY event_type) AS total
           FROM daily
           WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_type, day AS change_day,
           CAST(abs(n * prefix - ti * total) AS BIGINT) AS cusum_dev
         FROM c
         QUALIFY row_number() OVER (PARTITION BY event_type
           ORDER BY abs(n * prefix - ti * total) DESC, day ASC) = 1"""),

    QuerySpec("q_rfm_segments", (s, d) => {
      // RFM segmentation — the classic customer-value census: per user
      // Recency (days since last event), Frequency (events), Monetary
      // (cents), each scored 1-4 against corpus QUARTILE boundaries, the
      // 3-digit segment counted across users. Boundaries come from the
      // KLL quantile aggregate (O(k) reducer state at any user count,
      // exact order statistics below capacity — the ccnet_buckets
      // pattern) and land as driver scalars; scoring is then a pure
      // scan-local projection — no global rank window ever sorts the
      // user relation, which is what an ntile() formulation would do
      // through one task. Ties score by strict > against the boundary
      // value: deterministic under any row order.
      val ev = t(s, d, "events")
      val maxTs = ev.agg(max(unix_millis(col("ts")))).head().getLong(0)
      val rfm = ev.groupBy(col("user_id"))
        .agg(max(unix_millis(col("ts"))).as("lastms"),
          count(lit(1)).as("freq"),
          sum((col("value").cast("decimal(18,2)") * lit(100)).cast("long"))
            .as("mon"))
        .withColumn("rec_days", expr(s"(${maxTs}L - lastms) div 86400000"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val qrow = rfm.agg(
        graft.functions.KllQuantileAgg.kllQuantiles(
          col("rec_days").cast("double"), 8192, Seq(0.25, 0.5, 0.75)).as("qr"),
        graft.functions.KllQuantileAgg.kllQuantiles(
          col("freq").cast("double"), 8192, Seq(0.25, 0.5, 0.75)).as("qf"),
        graft.functions.KllQuantileAgg.kllQuantiles(
          col("mon").cast("double"), 8192, Seq(0.25, 0.5, 0.75)).as("qm"))
        .head()
      def score(c: Column, qs: Seq[Double]): Column =
        lit(1) + qs.map(b => when(c > lit(b), 1).otherwise(0)).reduce(_ + _)
      // persist stays until the harness's clearCache (the ccnet pattern):
      // the quantile agg materializes it, the scoring projection re-reads
      rfm.select(concat_ws("-",
          score(col("rec_days"), qrow.getSeq[Double](0)),
          score(col("freq"), qrow.getSeq[Double](1)),
          score(col("mon"), qrow.getSeq[Double](2))).as("segment"))
        .groupBy("segment").agg(count(lit(1)).as("n_users"))
    },
      // quartile boundaries use the KLL exact-regime rank convention
      // (value at rank max(1, ceil(n*q)) — the ccnet_buckets discipline);
      // scores compare strictly > against boundary VALUES, so ties are
      // deterministic under any order
      """WITH mx AS (SELECT max(epoch_ms(ts)) AS m FROM events),
         rfm AS (SELECT user_id,
             (mx.m - max(epoch_ms(ts))) // 86400000 AS rec_days,
             count(*) AS freq,
             sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS mon
           FROM events CROSS JOIN mx GROUP BY user_id, mx.m),
         qr AS (SELECT
             max(CASE WHEN rn = greatest(1, CAST(ceil(nn * 0.25) AS BIGINT)) THEN v END) AS t1,
             max(CASE WHEN rn = greatest(1, CAST(ceil(nn * 0.50) AS BIGINT)) THEN v END) AS t2,
             max(CASE WHEN rn = greatest(1, CAST(ceil(nn * 0.75) AS BIGINT)) THEN v END) AS t3
           FROM (SELECT CAST(rec_days AS DOUBLE) AS v,
               row_number() OVER (ORDER BY rec_days) AS rn,
               count(*) OVER () AS nn FROM rfm)),
         qf AS (SELECT
             max(CASE WHEN rn = greatest(1, CAST(ceil(nn * 0.25) AS BIGINT)) THEN v END) AS t1,
             max(CASE WHEN rn = greatest(1, CAST(ceil(nn * 0.50) AS BIGINT)) THEN v END) AS t2,
             max(CASE WHEN rn = greatest(1, CAST(ceil(nn * 0.75) AS BIGINT)) THEN v END) AS t3
           FROM (SELECT CAST(freq AS DOUBLE) AS v,
               row_number() OVER (ORDER BY freq) AS rn,
               count(*) OVER () AS nn FROM rfm)),
         qm AS (SELECT
             max(CASE WHEN rn = greatest(1, CAST(ceil(nn * 0.25) AS BIGINT)) THEN v END) AS t1,
             max(CASE WHEN rn = greatest(1, CAST(ceil(nn * 0.50) AS BIGINT)) THEN v END) AS t2,
             max(CASE WHEN rn = greatest(1, CAST(ceil(nn * 0.75) AS BIGINT)) THEN v END) AS t3
           FROM (SELECT CAST(mon AS DOUBLE) AS v,
               row_number() OVER (ORDER BY mon) AS rn,
               count(*) OVER () AS nn FROM rfm)),
         seg AS (SELECT
             concat(
               1 + CAST(rec_days > qr.t1 AS INT) + CAST(rec_days > qr.t2 AS INT) + CAST(rec_days > qr.t3 AS INT),
               '-',
               1 + CAST(freq > qf.t1 AS INT) + CAST(freq > qf.t2 AS INT) + CAST(freq > qf.t3 AS INT),
               '-',
               1 + CAST(mon > qm.t1 AS INT) + CAST(mon > qm.t2 AS INT) + CAST(mon > qm.t3 AS INT)) AS segment
           FROM rfm CROSS JOIN qr CROSS JOIN qf CROSS JOIN qm)
         SELECT segment, count(*) AS n_users FROM seg GROUP BY segment"""),

    QuerySpec("q_cohort_retention", (s, d) =>
      // cohort retention: first-activity week x activity-week offset,
      // integer epoch-week arithmetic (engine-portable); two hash aggs +
      // one 1:1 key join, output #cohorts x #weeks
      graft.operators.Cdc.cohortRetention(t(s, d, "events"), col("user_id"),
        col("ts")),
      """WITH act AS (SELECT DISTINCT user_id,
             epoch_ms(ts) // 86400000 // 7 AS w FROM events),
         f AS (SELECT user_id, min(w) AS cw FROM act GROUP BY 1)
         SELECT cw AS cohort_week, w - cw AS week_offset, count(*) AS n_users
         FROM act JOIN f USING (user_id) GROUP BY 1, 2"""),

    QuerySpec("cdc_consistency_check", (s, d) => {
      // ValidationService as a batch operator (reference: the replicator's
      // validation task samples source rows and compares them against the
      // replicated store): latest state from the FULL op history (source
      // truth) vs latest state at a stale cut (the lagging sink), aligned
      // by ONE 1:1 full-outer join, per-key verdict MATCH/DIFF/MISSING/
      // EXTRA. DIFF keys here are exactly the keys with post-cut activity;
      // MISSING/EXTRA (no such keys in this fixture) are spec-pinned in
      // CdcOpsSpec.
      val ev = t(s, d, "events")
      val cut = ev.agg(min(unix_millis(col("ts"))).as("mn"),
          max(unix_millis(col("ts"))).as("mx"))
        .select(expr("mn + (mx - mn) * 63 div 64").as("__cut"))
      val source = Cdc.latestStateAgg(ev, col("user_id"), col("ts"),
        col("event_id"), Seq("event_type", "value"))
      val stale = ev.crossJoin(broadcast(cut))
        .filter(unix_millis(col("ts")) <= col("__cut"))
      val sink = Cdc.latestStateAgg(stale, col("user_id"), col("ts"),
        col("event_id"), Seq("event_type", "value"))
      Cdc.consistencyCheck(source, sink, "key", Seq("event_type", "value"))
        .select(col("key").as("user_id"), col("status"))
    },
      """WITH b AS (SELECT min(epoch_ms(ts)) + (max(epoch_ms(ts)) - min(epoch_ms(ts))) * 63 // 64 AS cut
           FROM events),
         src AS (SELECT user_id, event_type, value FROM events
           QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1),
         snk AS (SELECT user_id, event_type, value FROM events, b
           WHERE epoch_ms(ts) <= cut
           QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
         SELECT coalesce(src.user_id, snk.user_id) AS user_id,
           CASE WHEN snk.user_id IS NULL THEN 'MISSING'
                WHEN src.user_id IS NULL THEN 'EXTRA'
                WHEN src.event_type IS DISTINCT FROM snk.event_type
                  OR src.value IS DISTINCT FROM snk.value THEN 'DIFF'
                ELSE 'MATCH' END AS status
         FROM src FULL OUTER JOIN snk ON src.user_id = snk.user_id"""),

    QuerySpec("cdc_bitemporal_asof", (s, d) => {
      // bitemporal point read: latest state for VALID time <= 7/8 of the
      // timeline as KNOWN at TX time (arrival order = event_id) <= 3/4 of
      // the id range — late-arriving corrections (valid-time-qualified
      // rows that arrived after the tx cut) must be invisible. The two
      // dimensions genuinely disagree on this fixture (event_id order is
      // not ts order), so the oracle exercises the asymmetry.
      val ev = t(s, d, "events")
      val cuts = ev.agg(min(unix_millis(col("ts"))).as("mn"),
          max(unix_millis(col("ts"))).as("mx"),
          max(col("event_id")).as("me"))
        .select(expr("mn + (mx - mn) * 7 div 8").as("__vc"),
          expr("me * 3 div 4").as("__tc"))
      val w = ev.crossJoin(broadcast(cuts))
      Cdc.bitemporalAsOf(w, col("user_id"), unix_millis(col("ts")),
          col("event_id"), Seq("event_type", "value"),
          col("__vc"), col("__tc"))
        .select(col("key").as("user_id"), col("event_type"),
          (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
            .as("value_cents"))
    },
      """WITH b AS (SELECT min(epoch_ms(ts)) + (max(epoch_ms(ts)) - min(epoch_ms(ts))) * 7 // 8 AS vc,
             max(event_id) * 3 // 4 AS tc
           FROM events)
         SELECT user_id, event_type,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
         FROM events, b
         WHERE epoch_ms(ts) <= vc AND event_id <= tc
         QUALIFY row_number() OVER (PARTITION BY user_id
           ORDER BY ts DESC, event_id DESC) = 1"""),

    QuerySpec("cdc_chunk_checksum", (s, d) => {
      // pt-table-checksum analog over the same source/stale-sink fixture
      // as cdc_consistency_check: both sides fold to 64 chunk aggregates
      // (count + bit_xor of md5-derived row hashes) and the verdict is a
      // 64-row join — the table never ships. Values render as exact
      // decimal(18,2) cents so the hashed string surface is
      // engine-identical.
      val ev = t(s, d, "events")
      val cut = ev.agg(min(unix_millis(col("ts"))).as("mn"),
          max(unix_millis(col("ts"))).as("mx"))
        .select(expr("mn + (mx - mn) * 63 div 64").as("__cut"))
      def cents(df: DataFrame) = df.withColumn("value_cents",
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long"))
      val source = cents(Cdc.latestStateAgg(ev, col("user_id"), col("ts"),
        col("event_id"), Seq("event_type", "value")))
      val stale = ev.crossJoin(broadcast(cut))
        .filter(unix_millis(col("ts")) <= col("__cut"))
      val sink = cents(Cdc.latestStateAgg(stale, col("user_id"), col("ts"),
        col("event_id"), Seq("event_type", "value")))
      Cdc.chunkChecksum(source, sink, "key",
        Seq("event_type", "value_cents"), chunks = 64)
    },
      // hex-digit parse mirrors Spark's conv(substring(md5(x),1,n),16,10):
      // 15 digits < 2^60 (exact BIGINT), per-digit products stay integral
      """WITH b AS (SELECT min(epoch_ms(ts)) + (max(epoch_ms(ts)) - min(epoch_ms(ts))) * 63 // 64 AS cut
           FROM events),
         src AS (SELECT user_id, event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
           FROM events
           QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1),
         snk AS (SELECT user_id, event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
           FROM events, b WHERE epoch_ms(ts) <= cut
           QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1),
         sf AS (SELECT
             CAST(list_sum([CAST(strpos('0123456789abcdef',
                 substring(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
                 * CAST(power(16, 4 - i) AS BIGINT) for i in range(1, 5)]) AS BIGINT) % 64 AS chunk_id,
             CAST(list_sum([CAST(strpos('0123456789abcdef',
                 substring(md5(CAST(user_id AS VARCHAR) || '|' || event_type || '|' || CAST(vc AS VARCHAR)), i, 1)) - 1 AS BIGINT)
                 * CAST(power(16, 15 - i) AS BIGINT) for i in range(1, 16)]) AS BIGINT) AS rh
           FROM src),
         kf AS (SELECT
             CAST(list_sum([CAST(strpos('0123456789abcdef',
                 substring(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
                 * CAST(power(16, 4 - i) AS BIGINT) for i in range(1, 5)]) AS BIGINT) % 64 AS chunk_id,
             CAST(list_sum([CAST(strpos('0123456789abcdef',
                 substring(md5(CAST(user_id AS VARCHAR) || '|' || event_type || '|' || CAST(vc AS VARCHAR)), i, 1)) - 1 AS BIGINT)
                 * CAST(power(16, 15 - i) AS BIGINT) for i in range(1, 16)]) AS BIGINT) AS rh
           FROM snk),
         sa AS (SELECT chunk_id, CAST(count(*) AS BIGINT) AS src_rows,
             bit_xor(rh) AS ssig FROM sf GROUP BY chunk_id),
         ka AS (SELECT chunk_id, CAST(count(*) AS BIGINT) AS tgt_rows,
             bit_xor(rh) AS ksig FROM kf GROUP BY chunk_id)
         SELECT coalesce(sa.chunk_id, ka.chunk_id) AS chunk_id,
           coalesce(src_rows, 0) AS src_rows,
           coalesce(tgt_rows, 0) AS tgt_rows,
           CASE WHEN ka.chunk_id IS NULL THEN 'MISSING'
                WHEN sa.chunk_id IS NULL THEN 'EXTRA'
                WHEN src_rows <> tgt_rows OR ssig IS DISTINCT FROM ksig THEN 'DIFF'
                ELSE 'MATCH' END AS status
         FROM sa FULL OUTER JOIN ka ON sa.chunk_id = ka.chunk_id"""),

    QuerySpec("cdc_checksum_maintain", (s, d) => {
      // IVM of the chunk-checksum table: the stored 64-chunk fold of the
      // pre-cut state updates from the post-cut mutation batch alone
      // (before-images xor OUT, after-images xor IN, counts adjust) — the
      // standing replica is never rescanned. (count, xor) are abelian-
      // group aggregates, so the maintained table is bit-identical to
      // re-folding the full post-batch state — which is the oracle.
      val ev = t(s, d, "events")
      val cut = ev.agg(min(unix_millis(col("ts"))).as("mn"),
          max(unix_millis(col("ts"))).as("mx"))
        .select(expr("mn + (mx - mn) * 63 div 64").as("__cut"))
      def cents(df: DataFrame) = df.withColumn("value_cents",
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long"))
      val pre = ev.crossJoin(broadcast(cut))
        .filter(unix_millis(col("ts")) <= col("__cut"))
      val old = cents(Cdc.latestStateAgg(pre, col("user_id"), col("ts"),
        col("event_id"), Seq("event_type", "value")))
      val neu = cents(Cdc.latestStateAgg(ev, col("user_id"), col("ts"),
        col("event_id"), Seq("event_type", "value")))
      val touched = ev.crossJoin(broadcast(cut))
        .filter(unix_millis(col("ts")) > col("__cut"))
        .select(col("user_id").as("key")).distinct()
      val cols = Seq("event_type", "value_cents")
      val stored = Cdc.chunkFold(old, "key", cols, chunks = 64)
      Cdc.maintainChunkChecksum(stored,
        added = neu.join(touched, Seq("key"), "left_semi"),
        removed = old.join(touched, Seq("key"), "left_semi"),
        key = "key", cols = cols, chunks = 64)
    },
      // the RECOMPUTE: fold the full post-batch latest state from scratch
      // — the maintained table must be bit-identical to it
      """WITH src AS (SELECT user_id, event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
           FROM events
           QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1),
         sf AS (SELECT
             CAST(list_sum([CAST(strpos('0123456789abcdef',
                 substring(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
                 * CAST(power(16, 4 - i) AS BIGINT) for i in range(1, 5)]) AS BIGINT) % 64 AS chunk_id,
             CAST(list_sum([CAST(strpos('0123456789abcdef',
                 substring(md5(CAST(user_id AS VARCHAR) || '|' || event_type || '|' || CAST(vc AS VARCHAR)), i, 1)) - 1 AS BIGINT)
                 * CAST(power(16, 15 - i) AS BIGINT) for i in range(1, 16)]) AS BIGINT) AS rh
           FROM src)
         SELECT chunk_id, CAST(count(*) AS BIGINT) AS n, bit_xor(rh) AS sig
         FROM sf GROUP BY chunk_id"""),

    QuerySpec("cdc_distinct_maintain", (s, d) => {
      // IVM of a distinct-count view via stored KMV sketches — the IVM
      // family's monotone member beside the delta-rule aggregate, the
      // keyed join view, and the xor checksum: per event type, the
      // number of distinct users that have EVER emitted it ("reach").
      // The stored per-group sketch folds the batch's sketch in —
      // k-smallest-hash union is associative, commutative AND idempotent
      // (a duplicate hash never changes the k-min set), so unlike the
      // xor checksum this maintenance needs NO redelivery fence: replay
      // a batch and the view is unchanged (spec-pinned). O(groups·k)
      // state forever, no history rescan; estimate is EXACT below k
      // (150 users ≪ k = 16384), which is the oracle regime.
      import graft.functions.KmvSetOps._
      val ev = t(s, d, "events")
      val cut = ev.agg(min(unix_millis(col("ts"))).as("mn"),
          max(unix_millis(col("ts"))).as("mx"))
        .select(expr("mn + (mx - mn) * 7 div 8").as("__cut"))
      val w = ev.crossJoin(broadcast(cut))
      def sk(df: DataFrame) = df.groupBy("event_type")
        .agg(kmvSketch(xxhash64(col("user_id")), 16384).as("sk"))
      val stored = sk(w.filter(unix_millis(col("ts")) <= col("__cut")))
      val batch = sk(w.filter(unix_millis(col("ts")) > col("__cut")))
      stored.union(batch).groupBy("event_type")
        .agg(kmvEstimate(kmvMerge(col("sk"))).as("users_ever"))
    },
      // the RECOMPUTE regime: the maintained KMV union is exact below k
      // (150 users ≪ 16384), so "stored sketch + batch fold" must equal
      // the exact distinct count over the full history
      """SELECT event_type, count(DISTINCT user_id) AS users_ever
         FROM events GROUP BY event_type"""),

    QuerySpec("cdc_seq_gaps", (s, d) =>
      // sequence-continuity audit over the "received" subset of the
      // orderkey space (open-status orders as the delivered checkpoints):
      // every missing integer range, WITHOUT a global ORDER BY window —
      // arithmetic range buckets + per-bucket lag + an O(buckets)
      // boundary stitch, so the scan parallelizes at any key volume
      graft.operators.Cdc.seqGaps(
        t(s, d, "orders").filter(col("o_orderstatus") === "O"),
        col("o_orderkey")),
      // a single global lag window IS the oracle; the engine computes the
      // same pairs bucketed + stitched
      """WITH ks AS (SELECT DISTINCT o_orderkey k FROM orders
           WHERE o_orderstatus = 'O'),
         s AS (SELECT k, lag(k) OVER (ORDER BY k) p FROM ks)
         SELECT CAST(p + 1 AS BIGINT) AS gap_start,
           CAST(k - 1 AS BIGINT) AS gap_end,
           CAST(k - p - 1 AS BIGINT) AS missing
         FROM s WHERE p IS NOT NULL AND k - p > 1"""),

    QuerySpec("cdc_minmax_maintain", (s, d) => {
      // the extremal member of the IVM taxonomy: per event type, all-time
      // max/min value maintained by folding the batch's extremes into the
      // stored ones (greatest/least — O(groups) state, no history
      // rescan). APPEND-monotone and idempotent like the k-min sketch
      // (replay is a no-op: max(a, max(a,b)) = max(a,b)), but NOT
      // retraction-maintainable: deleting the current max forces a
      // rescan — the textbook non-incrementalizable case, spec-pinned in
      // CdcOpsSpec. Append-only streams (this one) are the exact regime.
      val ev = t(s, d, "events")
      val cut = ev.agg(min(unix_millis(col("ts"))).as("mn"),
          max(unix_millis(col("ts"))).as("mx"))
        .select(expr("mn + (mx - mn) * 7 div 8").as("__cut"))
      val w = ev.crossJoin(broadcast(cut))
      // value is DOUBLE: floor explicitly (DuckDB's CAST rounds, Spark's
      // truncates — the decimal-surface lesson applied to doubles); floor
      // commutes with max/min, so folding floored extremes is exact
      def ext(df: DataFrame) = df.groupBy("event_type")
        .agg(floor(max(col("value"))).cast("long").as("mx_v"),
          floor(min(col("value"))).cast("long").as("mn_v"))
      val stored = ext(w.filter(unix_millis(col("ts")) <= col("__cut")))
      val batch = ext(w.filter(unix_millis(col("ts")) > col("__cut")))
      stored.union(batch).groupBy("event_type")
        .agg(max(col("mx_v")).as("mx_v"), min(col("mn_v")).as("mn_v"))
    },
      // the RECOMPUTE: the maintained extremes must equal the full-history
      // aggregate (append-only stream = the exact regime)
      """SELECT event_type, CAST(floor(max(value)) AS BIGINT) AS mx_v,
           CAST(floor(min(value)) AS BIGINT) AS mn_v
         FROM events GROUP BY event_type"""),

    QuerySpec("cdc_topk_maintain", (s, d) => {
      // IVM of a top-k view via stored SpaceSaving sketches — the
      // counter-merge member of the IVM taxonomy: per event type, the
      // all-time top-10 users by event count. The stored per-group sketch
      // folds the batch's sketch in (counter-wise merge — associative and
      // commutative but NOT idempotent: re-folding a delivered batch
      // double-counts, so unlike the k-min distinct view this maintenance
      // REQUIRES the replay fence (K2 sink-tail dedup) in front of it —
      // spec-pinned in FreqSketchSpec). O(groups·m) state forever, no
      // history rescan; counts are EXACT below m (150 users ≪ m = 8192),
      // which is the oracle regime.
      import graft.functions.HhSketchOps._
      val ev = t(s, d, "events")
      val cut = ev.agg(min(unix_millis(col("ts"))).as("mn"),
          max(unix_millis(col("ts"))).as("mx"))
        .select(expr("mn + (mx - mn) * 7 div 8").as("__cut"))
      val w = ev.crossJoin(broadcast(cut))
      def sk(df: DataFrame) = df.groupBy("event_type")
        .agg(hhSketch(col("user_id"), 8192).as("sk"))
      val stored = sk(w.filter(unix_millis(col("ts")) <= col("__cut")))
      val batch = sk(w.filter(unix_millis(col("ts")) > col("__cut")))
      stored.union(batch).groupBy("event_type")
        .agg(hhMerge(col("sk")).as("m"))
        .select(col("event_type"), explode(hhTopK(col("m"), 10)).as("h"))
        .select(col("event_type"), col("h.value").as("user_id"),
          col("h.cnt").as("cnt"))
    },
      // the RECOMPUTE regime: counter-wise SpaceSaving merge is exact
      // below m (150 users ≪ 8192), so "stored sketch + batch fold"
      // must equal the exact all-time top-10 per type
      """SELECT event_type, user_id, cnt FROM (
           SELECT event_type, user_id, count(*) AS cnt,
             row_number() OVER (PARTITION BY event_type
               ORDER BY count(*) DESC, user_id) AS rk
           FROM events GROUP BY event_type, user_id)
         WHERE rk <= 10"""),

    QuerySpec("cdc_repair_plan", (s, d) => {
      // the write-back half of the consistency audit: per divergent key,
      // the mutation that converges the sink (UPSERT with source values /
      // DELETE for sink-only keys). Cardinality = divergence count.
      val ev = t(s, d, "events")
      val cut = ev.agg(min(unix_millis(col("ts"))).as("mn"),
          max(unix_millis(col("ts"))).as("mx"))
        .select(expr("mn + (mx - mn) * 63 div 64").as("__cut"))
      val source = Cdc.latestStateAgg(ev, col("user_id"), col("ts"),
        col("event_id"), Seq("event_type", "value"))
      val stale = ev.crossJoin(broadcast(cut))
        .filter(unix_millis(col("ts")) <= col("__cut"))
      val sink = Cdc.latestStateAgg(stale, col("user_id"), col("ts"),
        col("event_id"), Seq("event_type", "value"))
      Cdc.repairPlan(source, sink, "key", Seq("event_type", "value"))
        .select(col("op"), col("key").as("user_id"), col("event_type"),
          col("value"))
    },
      """WITH b AS (SELECT min(epoch_ms(ts)) + (max(epoch_ms(ts)) - min(epoch_ms(ts))) * 63 // 64 AS cut
           FROM events),
         src AS (SELECT user_id, event_type, value FROM events
           QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1),
         snk AS (SELECT user_id, event_type, value FROM events, b
           WHERE epoch_ms(ts) <= cut
           QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
         SELECT CASE WHEN snk.user_id IS NULL THEN 'UPSERT'
                     WHEN src.user_id IS NULL THEN 'DELETE'
                     ELSE 'UPSERT' END AS op,
           coalesce(src.user_id, snk.user_id) AS user_id,
           src.event_type, src.value
         FROM src FULL OUTER JOIN snk ON src.user_id = snk.user_id
         WHERE snk.user_id IS NULL OR src.user_id IS NULL
           OR src.event_type IS DISTINCT FROM snk.event_type
           OR src.value IS DISTINCT FROM snk.value"""),

    QuerySpec("q_skyline", (s, d) =>
      // Pareto frontier of purchases over (value, recency): ONE range
      // exchange + O(partitions) prefix maxes + local sweeps — never the
      // n^2 anti-join the oracle runs
      graft.operators.Layout.skyline2D(
          t(s, d, "events").filter(col("event_type") === "purchase"),
          col("event_id"), col("value"), unix_millis(col("ts")))
        .select(col("id").as("event_id"), col("x").as("value"),
          col("y").as("ts_ms")),
      """WITH p AS (SELECT event_id, value AS x,
             CAST(epoch_ms(ts) AS DOUBLE) AS y
           FROM events WHERE event_type = 'purchase')
         SELECT a.event_id, a.x AS value, a.y AS ts_ms FROM p a
         WHERE NOT EXISTS (SELECT 1 FROM p b
           WHERE b.x >= a.x AND b.y >= a.y AND (b.x > a.x OR b.y > a.y))"""),

    QuerySpec("pipe_zorder", (s, d) =>
      // Morton interleave of (user_id, epoch-day): the multi-dimension
      // clustering key behind OPTIMIZE ZORDER — pure shift/mask/or
      // arithmetic, codegen'd, engine-portable (the oracle recomputes it
      // bit by bit). ZOrderSpec measures the min/max pruning this layout
      // buys on either dimension; clusterByZOrder applies it.
      t(s, d, "events").select(col("event_id"),
        graft.operators.Layout.zValue(col("user_id"),
          (unix_millis(col("ts")) / lit(86400000L)).cast("long"), 16).as("z")),
      """SELECT event_id,
           CAST(list_sum([
             ((user_id // (CAST(1 AS BIGINT) << i)) % 2)
               * (CAST(1 AS BIGINT) << (2 * i))
             + (((epoch_ms(ts) // 86400000) // (CAST(1 AS BIGINT) << i)) % 2)
               * (CAST(1 AS BIGINT) << (2 * i + 1))
             for i in range(0, 16)]) AS BIGINT) AS z
         FROM events""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("cdc_agg_maintain", (s, d) => {
      // incremental materialized-aggregate maintenance (Gupta & Mumick's
      // delta rule): a stored per-group (count, sum) view over the live
      // row state folds a post-cut cell batch via retract/assert deltas —
      // touching ONLY the batch's keys and merging at GROUP cardinality —
      // and must equal the aggregate over the full-history latest state
      // (the oracle computes exactly that). This is the 100 TB "keep the
      // dashboard fresh" path: per batch, no history re-scan, no
      // corpus-sized shuffle. The view, snapshot and batch are stored in
      // the fixture, as in production.
      TimeMachineSink.maintainAggregate(stored(s, d, "aggview"), stored(s, d, "snapshot"),
          stored(s, d, "batch"), "event_type", "value")
        .select(col("grp").as("event_type"), col("cnt"),
          // integer-cents surface (decimal-surface rule, tools/check.py):
          // ×100 on a sum of 2-dp decimals is exact, the long cast exact
          (col("sum_value") * 100).cast("long").as("sum_value_cents"))
    },
      """WITH latest AS (
           SELECT user_id, value, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
           FROM events)
         SELECT event_type, count(*) AS cnt,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
             AS sum_value_cents
         FROM latest WHERE rn = 1 GROUP BY event_type"""),

    QuerySpec("cdc_join_maintain", (s, d) => {
      // incremental JOIN-view maintenance (the IVM family's third member
      // beside cdc_agg_maintain's delta rule and cdc_scd2_apply): a
      // stored keyed view V = latest-user-state ⋈ per-user-event-counts
      // folds a post-cut cell batch by re-joining ONLY touched keys
      // (V_old rows for untouched keys carry verbatim behind a broadcast
      // anti-join) — O(batch) work, no history re-scan — and must equal
      // the full-history recompute (the oracle). The count side is itself
      // delta-maintained (additive merge), showing IVM composition.
      // The stored view, count view and retained cells are the fixture's.
      val batch = stored(s, d, "batch")
      val touched = batch.select("table", "row_key").distinct()
      // A_new for touched keys: latest state folded over retained + batch
      val touchedOld = stored(s, d, "retained").join(touched, Seq("table", "row_key"), "left_semi")
      val aNew = latestState(touchedOld.unionByName(batch))
      // B_new for touched keys: ADDITIVE delta merge onto the stored counts
      // (count state is itself incrementally maintained, never re-scanned)
      val bNew = stored(s, d, "counts").join(touched.select("row_key"), Seq("row_key"), "left_semi")
        .unionByName(eventCounts(batch))
        .groupBy("row_key")
        .agg(sum(col("n_events")).as("n_events"),
          max(col("last_event_id")).as("last_event_id"))
      TimeMachineSink.maintainKeyedJoin(stored(s, d, "joinview"), aNew, bNew,
          touched.select("row_key"), "row_key")
        .select(col("row_key").as("user_id"), col("value"), col("event_type"),
          col("n_events"), col("last_event_id"))
    },
      // the maintained aggregate must equal the full recompute over the
      // latest live state; in this cell synthesis the latest version per
      // row_key is the row with the greatest event_id (cell_ts is monotone
      // in per-user event order, event_id breaks the capped ties)
      """WITH l AS (
           SELECT user_id, value, event_type, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
           FROM events),
         a AS (SELECT CAST(user_id AS VARCHAR) AS row_key,
             CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS value, event_type
           FROM l WHERE rn = 1),
         b AS (SELECT CAST(user_id AS VARCHAR) AS row_key,
             count(*) AS n_events, max(event_id) AS last_event_id
           FROM events GROUP BY 1)
         SELECT a.row_key AS user_id, a.value, a.event_type,
           b.n_events, b.last_event_id
         FROM a JOIN b ON a.row_key = b.row_key"""),

    QuerySpec("cdc_scd2", (s, d) => {
      // SCD Type-2 dimension build: the versioned cell store rendered as a
      // validity-interval table (one row per version, [valid_from,
      // valid_to), open interval flagged current) — the warehouse-facing
      // shape of the time machine's "state at any point in time". One
      // Exchange: every carry-forward window and the lead() share the
      // (table,row_key)×(cell_ts,event_id) sort.
      TimeMachineSink.scd2Intervals(storedCells(s, d), Seq("value", "event_type"))
        .select(col("row_key"), col("valid_from"), col("valid_to"),
          col("is_current"), col("value"), col("event_type"))
    },
      """WITH e AS (
           SELECT user_id, event_id, value, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
             lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS pv,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS pt,
             max(epoch_ms(ts)) OVER (PARTITION BY user_id) AS commit_ms
           FROM events),
         cells AS (
           SELECT CAST(user_id AS VARCHAR) AS row_key, 'value' AS col_name,
             CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS value,
             commit_ms * 1000 - 50 + least(rn - 1, 50) AS cell_ts, event_id FROM e
           WHERE rn = 1 OR value <> pv
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), 'event_type', event_type,
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e
           WHERE rn = 1 OR event_type <> pt
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), 'row_status', CASE WHEN rn = 1 THEN 'I' ELSE 'U' END,
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), '_transaction_uuid', CAST(user_id AS VARCHAR),
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e),
         ver AS (SELECT row_key, cell_ts, event_id,
             max(CASE WHEN col_name = 'value' THEN value END) AS d_value,
             max(CASE WHEN col_name = 'event_type' THEN value END) AS d_type,
             max(CASE WHEN col_name = 'row_status' THEN value END) AS d_status
           FROM cells GROUP BY 1, 2, 3),
         iv AS (SELECT row_key, cell_ts AS valid_from,
             lead(cell_ts) OVER wv AS valid_to,
             last_value(d_value IGNORE NULLS) OVER wv AS value,
             last_value(d_type IGNORE NULLS) OVER wv AS event_type,
             last_value(d_status IGNORE NULLS) OVER wv AS row_status
           FROM ver
           WINDOW wv AS (PARTITION BY row_key ORDER BY cell_ts, event_id))
         SELECT row_key, valid_from, valid_to, valid_to IS NULL AS is_current,
           value, event_type
         FROM iv WHERE row_status <> 'D'""",
      cap = Some(Cap("CAST(row_key AS BIGINT)", 10))),

    QuerySpec("cdc_scd2_apply", (s, d) => {
      // incremental SCD2 maintenance, oracle-gated against the full
      // rebuild: intervals from history (<= cut) fold the post-cut cell
      // batch via applyScd2 — only the batch's keys recompute, closed
      // history streams through — and the result must equal scd2Intervals
      // over the entire history (the oracle computes exactly that).
      TimeMachineSink.applyScd2(stored(s, d, "scd2hist"), stored(s, d, "batch"),
          Seq("value", "event_type"))
        .select(col("row_key"), col("valid_from"), col("valid_to"),
          col("is_current"), col("value"), col("event_type"))
    },
      """WITH e AS (
           SELECT user_id, event_id, value, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
             lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS pv,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS pt,
             max(epoch_ms(ts)) OVER (PARTITION BY user_id) AS commit_ms
           FROM events),
         cells AS (
           SELECT CAST(user_id AS VARCHAR) AS row_key, 'value' AS col_name,
             CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS value,
             commit_ms * 1000 - 50 + least(rn - 1, 50) AS cell_ts, event_id FROM e
           WHERE rn = 1 OR value <> pv
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), 'event_type', event_type,
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e
           WHERE rn = 1 OR event_type <> pt
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), 'row_status', CASE WHEN rn = 1 THEN 'I' ELSE 'U' END,
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), '_transaction_uuid', CAST(user_id AS VARCHAR),
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e),
         ver AS (SELECT row_key, cell_ts, event_id,
             max(CASE WHEN col_name = 'value' THEN value END) AS d_value,
             max(CASE WHEN col_name = 'event_type' THEN value END) AS d_type,
             max(CASE WHEN col_name = 'row_status' THEN value END) AS d_status
           FROM cells GROUP BY 1, 2, 3),
         iv AS (SELECT row_key, cell_ts AS valid_from,
             lead(cell_ts) OVER wv AS valid_to,
             last_value(d_value IGNORE NULLS) OVER wv AS value,
             last_value(d_type IGNORE NULLS) OVER wv AS event_type,
             last_value(d_status IGNORE NULLS) OVER wv AS row_status
           FROM ver
           WINDOW wv AS (PARTITION BY row_key ORDER BY cell_ts, event_id))
         SELECT row_key, valid_from, valid_to, valid_to IS NULL AS is_current,
           value, event_type
         FROM iv WHERE row_status <> 'D'""",
      cap = Some(Cap("CAST(row_key AS BIGINT)", 10))),

    QuerySpec("cdc_snapshot_diff", (s, d) => {
      // audit diff between two points in time: rows added/removed/changed
      // from state(T1) to state(T2), reconstructed ONLY for keys with a
      // version inside (T1,T2] — the diff costs O(changed keys), never a
      // full-table rebuild. Oracle-gated against the full two-state diff
      // (untouched keys reconstruct equal states and drop as unchanged).
      // This is the reference's ValidationService compare (source vs
      // target row sets) re-expressed as a first-class temporal operator.
      val w = storedCells(s, d)
        .crossJoin(broadcast(commitCuts(s, d, "__t1" -> 4, "__t2" -> 7)))
      TimeMachineSink.snapshotDiff(w, col("__t1"), col("__t2"),
          Seq("value", "event_type"))
        .select(col("row_key"), col("change_type"),
          col("old_value"), col("new_value"),
          col("old_event_type"), col("new_event_type"))
    },
      """WITH e AS (
           SELECT user_id, event_id, value, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
             lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS pv,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS pt,
             max(epoch_ms(ts)) OVER (PARTITION BY user_id) AS commit_ms
           FROM events),
         cells AS (
           SELECT CAST(user_id AS VARCHAR) AS row_key, 'value' AS col_name,
             CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS value,
             commit_ms * 1000 - 50 + least(rn - 1, 50) AS cell_ts, event_id FROM e
           WHERE rn = 1 OR value <> pv
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), 'event_type', event_type,
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e
           WHERE rn = 1 OR event_type <> pt
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), 'row_status', CASE WHEN rn = 1 THEN 'I' ELSE 'U' END,
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), '_transaction_uuid', CAST(user_id AS VARCHAR),
             commit_ms * 1000 - 50 + least(rn - 1, 50), event_id FROM e),
         spans AS (SELECT max(epoch_ms(ts)) AS cms FROM events GROUP BY user_id),
         thr AS (SELECT (min(cms) + (max(cms) - min(cms)) * 4 // 8) * 1000 AS t1,
                        (min(cms) + (max(cms) - min(cms)) * 7 // 8) * 1000 AS t2
                 FROM spans),
         st1 AS (SELECT row_key,
             max(CASE WHEN col_name = 'value' THEN value END) AS value,
             max(CASE WHEN col_name = 'event_type' THEN value END) AS event_type,
             max(CASE WHEN col_name = 'row_status' THEN value END) AS row_status
           FROM (SELECT row_key, col_name, value,
               row_number() OVER (PARTITION BY row_key, col_name
                 ORDER BY cell_ts DESC, event_id DESC) AS vn
             FROM cells WHERE cell_ts <= (SELECT t1 FROM thr))
           WHERE vn = 1 GROUP BY row_key),
         st2 AS (SELECT row_key,
             max(CASE WHEN col_name = 'value' THEN value END) AS value,
             max(CASE WHEN col_name = 'event_type' THEN value END) AS event_type,
             max(CASE WHEN col_name = 'row_status' THEN value END) AS row_status
           FROM (SELECT row_key, col_name, value,
               row_number() OVER (PARTITION BY row_key, col_name
                 ORDER BY cell_ts DESC, event_id DESC) AS vn
             FROM cells WHERE cell_ts <= (SELECT t2 FROM thr))
           WHERE vn = 1 GROUP BY row_key),
         o AS (SELECT * FROM st1 WHERE row_status <> 'D'),
         n AS (SELECT * FROM st2 WHERE row_status <> 'D'),
         d AS (SELECT coalesce(o.row_key, n.row_key) AS row_key,
             CASE WHEN o.row_key IS NULL THEN 'A'
                  WHEN n.row_key IS NULL THEN 'R'
                  WHEN o.value IS DISTINCT FROM n.value
                    OR o.event_type IS DISTINCT FROM n.event_type THEN 'C'
             END AS change_type,
             o.value AS old_value, n.value AS new_value,
             o.event_type AS old_event_type, n.event_type AS new_event_type
           FROM o FULL OUTER JOIN n ON o.row_key = n.row_key)
         SELECT * FROM d WHERE change_type IS NOT NULL"""),

    QuerySpec("pipe_ccnet_buckets", (s, d) => {
      // CCNet's head/middle/tail split (Wenzek et al. LREC '20): bucket
      // every document by corpus-tercile thresholds of its LM quality
      // score — head trains first, tail is filtered or down-weighted.
      // ONE scoring pass (r6 ran the bigram-LM chain twice): the per-doc
      // score stream is EDGE-sized — (doc_id, lm_ppm), not the corpus
      // text — so it persists; the threshold aggregate materializes the
      // cache and the bucketing projection re-reads it. Thresholds come
      // from the KLL quantile aggregate — O(k) reducer state at any
      // corpus size (an exact `percentile` would collect every score),
      // exact order statistics below capacity (the oracle regime) — and
      // land as TWO driver scalars (the bounded-collect class the IVF
      // centroids use; a crossJoin(broadcast(agg(scores))) would instead
      // trip DeduplicateRelations on the self-referenced cache and
      // silently re-derive the whole scoring chain on the agg branch).
      val scores = operators.Text.lmBigramScore(
          t(s, d, "documents"), col("doc_id"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val qs = scores.agg(graft.functions.KllQuantileAgg.kllQuantiles(
          col("lm_ppm").cast("double"), 8192, Seq(1.0 / 3, 2.0 / 3)).as("qs"))
        .head().getSeq[Double](0)
      scores
        .withColumn("bucket",
          when(col("lm_ppm").isNull, "tail")
            .when(col("lm_ppm") >= lit(qs(1)), "head")
            .when(col("lm_ppm") >= lit(qs(0)), "middle")
            .otherwise("tail"))
        .select(col("doc_id"), col("lm_ppm"), col("bucket"))
    },
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
           SELECT doc_id, CAST(floor(sum(s * k) / sum(k)) AS BIGINT) AS lm_ppm
           FROM scored GROUP BY doc_id),
         alldocs AS (SELECT d.doc_id, p.lm_ppm
           FROM documents d LEFT JOIN per_doc p USING (doc_id)),
         ranked AS (SELECT lm_ppm,
             row_number() OVER (ORDER BY lm_ppm) AS rn,
             count(*) OVER () AS nn
           FROM alldocs WHERE lm_ppm IS NOT NULL),
         thr AS (SELECT
             max(CASE WHEN rn = greatest(1, CAST(ceil(nn / 3.0) AS BIGINT))
               THEN CAST(lm_ppm AS DOUBLE) END) AS t1,
             max(CASE WHEN rn = greatest(1, CAST(ceil(nn * 2.0 / 3.0) AS BIGINT))
               THEN CAST(lm_ppm AS DOUBLE) END) AS t2
           FROM ranked)
         SELECT doc_id, lm_ppm,
           CASE WHEN lm_ppm IS NULL THEN 'tail'
                WHEN lm_ppm >= t2 THEN 'head'
                WHEN lm_ppm >= t1 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM alldocs CROSS JOIN thr"""),

    QuerySpec("pipe_temperature_mix", (s, d) =>
      // multilingual temperature sampling (mC4/mT5, τ = 0.5): weight ∝ √p
      // — the one exponent where the power law is IEEE-exact across
      // engines (sqrt is correctly rounded; pow is not). Denominator
      // folds √sizes in group-sorted order so the rounding SEQUENCE is
      // pinned; weights floor at ppb. One corpus aggregation, then
      // language-cardinality scalar arithmetic.
      graft.operators.Sampling.temperatureWeights(
          t(s, d, "documents"), col("lang"), col("n_chars"))
        .select(col("grp").as("lang"), col("n").as("n_chars"),
          col("weight_ppb")),
      // τ=0.5 temperature weights: √ is correctly rounded IEEE on both
      // engines; the denominator's ROUNDING SEQUENCE is pinned by folding
      // in lang-sorted order (list_reduce ≡ Spark's sort_array+aggregate,
      // both left-to-right from the first element)
      """WITH sz AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n
           FROM documents GROUP BY lang),
         s AS (SELECT lang, n, sqrt(CAST(n AS DOUBLE)) AS sq FROM sz),
         d AS (SELECT list_reduce(list(sq ORDER BY lang), (acc, x) -> acc + x) AS den
           FROM s)
         SELECT lang, n AS n_chars,
           CAST(floor(1000000000.0 * sq / den) AS BIGINT) AS weight_ppb
         FROM s CROSS JOIN d"""),

    QuerySpec("q_pagerank", (s, d) => {
      // iterative graph analytics, Spark-first: PageRank (PageRankRounds
      // rounds, damping 0.85) over the co-purchase graph (parts sharing
      // an order), each round ONE declarative join + aggregation — the
      // DataFrame rendering of a Pregel superstep, planned by
      // Catalyst/AQE every round. Ranks are integer-scaled ×10¹² with
      // floor-div shares and 85·Σ div 100 damping — no float anywhere —
      // so the DuckDB oracle just unrolls the same rounds.
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      // src-partitioned distinct (round-11): hash(src) clusters identical
      // (src, dst) rows, so the dedup agg is exchange-free on top of it and
      // — because src is a subset of every downstream clustering key — the
      // SAME exchange serves pageRank's deg groupBy(src) AND the edge⋈deg
      // join: one edge-sized exchange where the (src,dst)-keyed distinct
      // paid three (guide §2.4 "two operations keyed the same way share one
      // exchange"; measured 25.0 → 8.7 s COLD at sf0.1 — the once-per-corpus
      // cost Verify and production pay; the warm bench min is unchanged
      // because run 2 cache-hits the persisted edge relation. Result rows
      // identical — distinct is set-equal and integer PageRank deterministic).
      val edges = li.select(col("ok"), col("pk").as("src"))
        .join(li.select(col("ok"), col("pk").as("dst")), "ok")
        .filter(col("src") =!= col("dst"))
        .select("src", "dst").repartition(col("src")).distinct()
      graft.operators.Graph.pageRank(edges, col("src"), col("dst"),
        PageRankRounds)
        .select(col("v").as("part_id"), col("r").as("rank_s"))
    },
      pageRankOracleSql),

    QuerySpec("q_ppr", (s, d) => {
      // personalized PageRank: teleport mass returns to a SEED catalog
      // (every ~97th part) instead of the whole graph — the seeded
      // "parts related to this assortment" recommendation read. Same
      // integer algebra and unrolled oracle as q_pagerank; only the
      // teleport term is seed-conditional (scale·15% div |S∩V| on seeds,
      // 0 elsewhere; initial mass uniform on seeds).
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      // same src-partitioned distinct as q_pagerank (one shared edge-sized
      // exchange for dedup + deg + join — see the note there)
      val edges = li.select(col("ok"), col("pk").as("src"))
        .join(li.select(col("ok"), col("pk").as("dst")), "ok")
        .filter(col("src") =!= col("dst"))
        .select("src", "dst").repartition(col("src")).distinct()
      val seeds = li.select(col("pk").as("v")).distinct()
        .filter(col("v") % 97 === 0)
      graft.operators.Graph.personalizedPageRank(edges, col("src"),
          col("dst"), seeds, col("v"), PageRankRounds)
        .select(col("v").as("part_id"), col("r").as("rank_s"))
    },
      pprOracleSql),

    QuerySpec("pipe_unimax_weights", (s, d) => {
      // UniMax language-budget allocation (Chung et al. ICLR '23):
      // distribute a token budget uniformly across languages subject to a
      // per-language epoch cap — small languages get their full cap, the
      // rest split the remainder evenly. The iterative waterfilling has a
      // closed form over languages sorted by cap: the capped set is a
      // prefix, found with ONE window pass (row_number + running cap sum)
      // — no loop, no driver iteration; identical SQL runs on the oracle.
      t(s, d, "documents").createOrReplaceTempView("documents_v")
      s.sql(unimaxSql.replace("documents", "documents_v"))
    },
      unimaxSql),

    QuerySpec("pipe_source_mix", (s, d) =>
      // dataset mixing: deterministic per-source sampling rates via md5
      // hex-prefix thresholds — reproducible on any cluster layout and
      // byte-identical in any engine computing the same md5
      graft.operators.Sampling.stratifiedSample(t(s, d, "documents"),
          col("doc_id"), col("source"),
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
        .groupBy("source").agg(count(lit(1)).as("n_kept")),
      """SELECT source, count(*) AS n_kept FROM documents
         WHERE (source = 'src0')
            OR (source = 'src1' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000')
            OR (source = 'src2' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000')
            OR (source = 'src3' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '1999999a')
         GROUP BY source"""),

    QuerySpec("pipe_topic_mix", (s, d) => {
      // cluster-mixture curation statistics: every document's embedding is
      // assigned to its nearest seed centroid (a pure scan-local argmax —
      // zero shuffles, the sim_ann_ivf kernel), then the corpus mixture is
      // reported per (topic cluster, language): docs, tokens, chars — the
      // balancing signal cluster-based curation uses to up/down-weight
      // domains before sampling (the cluster half of SemDeDup-style
      // pipelines, Abbas et al. 2023). 100 TB posture: the embeddings ⋈
      // documents equi-join shuffles once on the shared id (bucket both
      // tables by id to make it co-located); the aggregate's key space is
      // k·|langs| — partial map-side, sliver-sized shuffle.
      val emb = t(s, d, "embeddings")
      val docs = t(s, d, "documents")
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"),
          Similarity.asDouble(col("embedding")).as("cvec"))
      val assigned = Similarity
        .ivfAssign(emb, col("vec_id"), col("embedding"), centroids)
        .select(col("vec_id").as("doc_id"), col("centroid_id"))
      assigned.join(docs, "doc_id")
        .groupBy("centroid_id", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(Text.wsTokenCount(col("text")).cast("long")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"))
    },
      """WITH c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
                    FROM embeddings WHERE vec_id < 8),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         a AS (SELECT vec_id, centroid_id FROM v, c
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY
             round(list_dot_product(vv, cv)
               / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))), 6) DESC,
             centroid_id) = 1)
         SELECT centroid_id, lang, count(*) AS n_docs,
           CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM a JOIN documents d ON d.doc_id = a.vec_id
         GROUP BY centroid_id, lang"""),

    QuerySpec("sample_quota", (s, d) =>
      // balanced subsample: exactly 40 docs per language by md5-rank —
      // the equal-representation step of corpus assembly
      graft.operators.Sampling.quotaSample(t(s, d, "documents"),
          col("doc_id"), col("lang"), n = 40)
        .select("doc_id", "lang", "source"),
      """SELECT doc_id, lang, source FROM (
           SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents) WHERE rk <= 40"""),

    QuerySpec("pipe_split", (s, d) =>
      // deterministic 80/10/10 train/valid/test assignment: a doc's split
      // is a pure function of its key (md5 hex-prefix vs cumulative
      // bounds), so it survives reruns, engine swaps, and corpus growth —
      // new docs never move old ones across the leakage boundary. ONE
      // scan-local projection, zero shuffles.
      graft.operators.Sampling.hashSplit(t(s, d, "documents"), col("doc_id"),
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split"),
      """SELECT doc_id,
           CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccd' THEN 'train'
                WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'valid'
                ELSE 'test' END AS split
         FROM documents"""),

    QuerySpec("pipe_leakage_split", (s, d) => {
      // leakage-safe split: the train/test boundary must not separate
      // near-duplicates (Lee et al. '22's contamination-by-split hazard),
      // so the split key is the near-dup CLUSTER representative, not the
      // doc — canonical resolve over MinHash-LSH pairs, identity for
      // unclustered docs, then the same deterministic md5-prefix
      // assignment as pipe_split. Every member of a cluster lands in one
      // split by construction (spec-pinned); new docs joining an existing
      // cluster inherit its split, never moving old ones.
      val docs = t(s, d, "documents")
      val canon = operators.Dedup.resolveCanonical(
        operators.Dedup.minhashNearDupPairs(docs, col("doc_id"), col("text"),
          n = 3, numHashes = 64, bands = 16, thresholdPpm = 800000L))
        .withColumnRenamed("id", "doc_id")
      val keyed = docs.select(col("doc_id"))
        .join(canon, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("canonical_id"), col("doc_id")).as("canon"))
      operators.Sampling.hashSplit(keyed, col("canon"),
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .select("doc_id", "canon", "split")
    },
      // the near-dup clustering is dedup_resolve's oracle; unclustered docs
      // key by themselves; the assignment is pipe_split's md5-prefix rule
      // over the CLUSTER key
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
         resolved AS MATERIALIZED (SELECT id, least(min(r), id) AS canonical_id
           FROM reach GROUP BY id),
         keyed AS MATERIALIZED (SELECT d.doc_id,
           coalesce(r.canonical_id, d.doc_id) AS canon
         FROM documents d LEFT JOIN resolved r ON r.id = d.doc_id)
         SELECT doc_id, canon,
           CASE WHEN substring(md5(CAST(canon AS VARCHAR)), 1, 8) < 'cccccccd' THEN 'train'
                WHEN substring(md5(CAST(canon AS VARCHAR)), 1, 8) < 'e6666666' THEN 'valid'
                ELSE 'test' END AS split
         FROM keyed"""),

    QuerySpec("pipe_softdedup_weights", (s, d) => {
      // SOFT deduplication: rather than dropping near-dup cluster
      // members, weight each doc 10⁶ div cluster_size ppm so every
      // CLUSTER contributes one unit of training mass — the
      // down-weighting alternative a pipeline takes when duplicates
      // carry distributional signal (near-dup frequency ∝ importance).
      // Same banded MinHash-LSH resolve as pipe_leakage_split (never
      // all-pairs; singletons weight 10⁶ by identity); the sizing is one
      // cluster-keyed count + a cluster-keyed join, both node-sized.
      val docs = t(s, d, "documents")
      val canon = operators.Dedup.resolveCanonical(
        operators.Dedup.minhashNearDupPairs(docs, col("doc_id"), col("text"),
          n = 3, numHashes = 64, bands = 16, thresholdPpm = 800000L))
        .withColumnRenamed("id", "doc_id")
      val keyed = docs.select(col("doc_id"))
        .join(canon, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("canonical_id"), col("doc_id")).as("canon"))
      val sizes = keyed.groupBy(col("canon")).agg(count(lit(1)).as("csz"))
      keyed.join(sizes, "canon")
        .select(col("doc_id"), col("canon"),
          expr("1000000L div csz").as("weight_ppm"))
    },
      // pipe_leakage_split's resolve CTEs verbatim, with the cluster-size
      // weight instead of the split assignment
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
         resolved AS MATERIALIZED (SELECT id, least(min(r), id) AS canonical_id
           FROM reach GROUP BY id),
         keyed AS MATERIALIZED (SELECT d.doc_id,
           coalesce(r.canonical_id, d.doc_id) AS canon
         FROM documents d LEFT JOIN resolved r ON r.id = d.doc_id),
         sizes AS MATERIALIZED (SELECT canon, count(*) AS csz FROM keyed GROUP BY canon)
         SELECT k.doc_id, k.canon,
           CAST(1000000 // s.csz AS BIGINT) AS weight_ppm
         FROM keyed k JOIN sizes s USING (canon)"""),

    QuerySpec("dedup_cluster_stats", (s, d) => {
      // the dedup REPORT the pipeline operator reads before committing a
      // near-dup pass: cluster-size histogram over the canonical resolve
      // (singletons included via identity), i.e. "how much would this
      // threshold remove" — n_docs − n_clusters is the removable count.
      // All node-sized aggs on top of the banded LSH resolve.
      val docs = t(s, d, "documents")
      val canon = operators.Dedup.resolveCanonical(
        operators.Dedup.minhashNearDupPairs(docs, col("doc_id"), col("text"),
          n = 3, numHashes = 64, bands = 16, thresholdPpm = 800000L))
        .withColumnRenamed("id", "doc_id")
      docs.select(col("doc_id")).join(canon, Seq("doc_id"), "left")
        .select(coalesce(col("canonical_id"), col("doc_id")).as("canon"))
        .groupBy("canon").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("cluster_size")).as("n_docs"))
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
         resolved AS MATERIALIZED (SELECT id, least(min(r), id) AS canonical_id
           FROM reach GROUP BY id),
         sizes AS MATERIALIZED (SELECT coalesce(r.canonical_id, d.doc_id) AS canon,
             CAST(count(*) AS BIGINT) AS cluster_size
           FROM documents d LEFT JOIN resolved r ON r.id = d.doc_id
           GROUP BY 1)
         SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
         FROM sizes GROUP BY cluster_size"""),

    QuerySpec("pipe_curriculum", (s, d) =>
      // curriculum staging: exact NTILE(4) easiest->hardest by doc length,
      // md5 tie-shuffle — computed with the pinned-RDD rank (shardAssign's
      // machinery), NOT a single-partition ntile window, so the assignment
      // holds at corpus scale. The oracle IS the ntile window (DuckDB can
      // afford it at sf0.01).
      graft.operators.Sampling.curriculumStages(
          t(s, d, "documents"), col("doc_id"), length(col("text")), 4)
        .select(col("doc_id"), col("stage").cast("long").as("stage")),
      """SELECT doc_id,
           ntile(4) OVER (ORDER BY length(text),
             md5(CAST(doc_id AS VARCHAR)), doc_id) AS stage
         FROM documents"""),

    QuerySpec("q_winsorize", (s, d) =>
      // per-type winsorization at [p05, p95]: KLL thresholds (exact at
      // this fixture's group sizes — the oracle regime), broadcast
      // group-sized bound table, scan-local clamp
      graft.operators.Sampling.winsorize(t(s, d, "events"),
          col("event_type"), col("value"), 0.05, 0.95)
        .select(col("event_id"), col("event_type"), col("value"),
          col("value_w")),
      // KLL thresholds are exact below capacity — the clamp bounds ARE the
      // ceil(q*n) order statistics at this fixture's group sizes
      """WITH r AS (SELECT event_type, value,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events),
         b AS (SELECT event_type,
             max(CASE WHEN rn = CAST(greatest(1, ceil(0.05 * n)) AS BIGINT) THEN value END) AS lo,
             max(CASE WHEN rn = CAST(greatest(1, ceil(0.95 * n)) AS BIGINT) THEN value END) AS hi
           FROM r GROUP BY event_type)
         SELECT e.event_id, e.event_type, e.value,
           least(greatest(e.value, b.lo), b.hi) AS value_w
         FROM events e JOIN b USING (event_type)""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("sample_weighted", (s, d) =>
      // weighted sampling without replacement (Efraimidis-Spirakis keys,
      // deterministic md5 uniforms, ln-floor engine-exact discipline):
      // global top-40 by key — Spark plans TakeOrderedAndProject
      // (per-partition heaps), never a single-partition sort
      graft.operators.Sampling.weightedSample(t(s, d, "documents"),
          col("doc_id"), col("n_chars"), n = 40)
        .select(col("id").as("doc_id"), col("w"), col("ws_score")),
      // ln-floor margin asserted in SamplingSpec (same discipline as DSIR)
      """WITH s AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
           (list_sum([CAST(strpos('0123456789abcdef',
                substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS DOUBLE)
              * power(16.0, 13 - i) for i in range(1, 14)]) + 1.0)
             / 4503599627370497.0 AS u
         FROM documents WHERE CAST(n_chars AS DOUBLE) > 0.0)
         SELECT doc_id, w,
           CAST(floor(ln(u) / w * 1000000000.0) AS BIGINT) AS ws_score
         FROM s ORDER BY ws_score DESC, doc_id LIMIT 40"""),

    QuerySpec("sample_mixture", (s, d) =>
      // data-mixture epochs per source (LLaMA-recipe upsampling): src0 seen
      // twice, src1 1.5x, src2 0.5x, src3 0.25x, everything else dropped
      graft.operators.Sampling.mixtureUpsample(t(s, d, "documents"),
          col("doc_id"), col("source"),
          Map("src0" -> 2.0, "src1" -> 1.5, "src2" -> 0.5, "src3" -> 0.25))
        .select(col("doc_id"), col("source"), col("epoch_idx")),
      """WITH r AS (SELECT doc_id, source,
           CASE source WHEN 'src0' THEN 2
             WHEN 'src1' THEN 1 + CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)),1,8) < '80000000' THEN 1 ELSE 0 END
             WHEN 'src2' THEN CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)),1,8) < '80000000' THEN 1 ELSE 0 END
             WHEN 'src3' THEN CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)),1,8) < '40000000' THEN 1 ELSE 0 END
             ELSE 0 END AS reps
         FROM documents)
         SELECT doc_id, source, CAST(unnest([i for i in range(1, reps+1)]) AS INT) AS epoch_idx FROM r"""),

    QuerySpec("sample_token_budget", (s, d) => {
      // per-source TOKEN budget cap (the "cap source X at N tokens" recipe
      // knob — by volume, not doc count): docs taken in md5-of-id order per
      // source until the budget line is crossed (crossing doc kept), then
      // summarized per source
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", Text.tokenCount(col("text")))
      graft.operators.Sampling.tokenBudgetQuota(docs, col("doc_id"),
          col("source"), col("n_tokens"), budget = 3000L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
    },
      """WITH d AS (SELECT doc_id, source,
           CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
         FROM documents),
         c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM d)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         FROM c WHERE cum - n_tokens < 3000 GROUP BY source"""),

    QuerySpec("pipe_shard_assign", (s, d) =>
      // LPT round-robin training-shard assignment: global size rank without
      // a single-partition sort (range-partition + local rank + offsets)
      graft.operators.Sampling.shardAssign(
          t(s, d, "documents").withColumn("n_tokens", Text.tokenCount(col("text"))),
          col("doc_id"), col("n_tokens"), numShards = 8)
        // shard_tokens IS n_tokens (the operator hands the evaluated sort
        // key back) — projecting it instead of df-side n_tokens lets the
        // join-side scan prune to doc_id, skipping a second text read
        .select(col("doc_id"), col("shard_tokens").as("n_tokens"), col("shard_id")),
      """WITH d AS (SELECT doc_id,
           CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
         FROM documents)
         SELECT doc_id, n_tokens,
           CAST((row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1) % 8 AS INT) AS shard_id
         FROM d"""),

    QuerySpec("pipe_dsir_select", (s, d) =>
      // DSIR data selection (Xie et al. 2023): pick the 100 non-English
      // pool docs whose hashed unigram+bigram distribution best matches
      // the English target slice — micro-nat integer scores, top-k via the
      // bounded heap aggregate (never a global sort)
      graft.operators.Sampling.dsirSelect(t(s, d, "documents"),
        col("doc_id"), col("text"), col("lang") === "en",
        buckets = 4096, k = 100),
      """WITH base AS (SELECT doc_id, lang = 'en' AS is_target,
           list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                       t -> t <> '') AS w
         FROM documents),
         grams AS (
           SELECT doc_id, is_target, substr(md5(g), 1, 3) AS bkt FROM (
             SELECT doc_id, is_target, unnest(w) AS g FROM base
             UNION ALL
             SELECT doc_id, is_target,
               unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
             FROM base WHERE len(w) >= 2)),
         bc AS (SELECT bkt,
             sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS t,
             sum(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS r
           FROM grams GROUP BY 1),
         tot AS (SELECT sum(t) AS tt, sum(r) AS rt FROM bc),
         lr AS (SELECT bkt,
             CAST(floor(ln(CAST((t + 1) * (rt + 4096) AS DOUBLE)
                           / CAST((r + 1) * (tt + 4096) AS DOUBLE))
                        * 1000000.0) AS BIGINT) AS lr_micro
           FROM bc, tot),
         sc AS (SELECT g.doc_id, CAST(sum(lr.lr_micro) AS BIGINT) AS score_micro
           FROM grams g JOIN lr ON g.bkt = lr.bkt
           WHERE NOT g.is_target GROUP BY 1)
         SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank,
           doc_id, score_micro
         FROM sc ORDER BY score_micro DESC, doc_id LIMIT 100"""),

    QuerySpec("text_unicode_nfc", (s, d) => {
      // Unicode canonicalization: the corpus is ASCII, so decompose 'a' into
      // 'a'+U+0301 first (same projection on both engines) — NFC must fuse
      // every pair back into the composed 'á', shrinking the codepoint count
      val decomposed = regexp_replace(col("text"), "a", "a\u0301")
      t(s, d, "documents").select(col("doc_id"),
        Text.unicodeNormalize(decomposed).as("nfc_text"),
        length(decomposed).cast("long").as("n_cp_before"),
        length(Text.unicodeNormalize(decomposed)).cast("long").as("n_cp_after"))
    },
      """WITH d AS (SELECT doc_id, regexp_replace(text, 'a', 'a' || chr(769), 'g') AS dec
         FROM documents)
         SELECT doc_id, nfc_normalize(dec) AS nfc_text,
           CAST(length(dec) AS BIGINT) AS n_cp_before,
           CAST(length(nfc_normalize(dec)) AS BIGINT) AS n_cp_after
         FROM d"""),

    QuerySpec("text_pack_sequences", (s, d) =>
      // token-budget packing: whitespace token counts, cumulative chunking
      // into 10k-token bins per language shard
      graft.operators.Sampling.packSequences(
          t(s, d, "documents").withColumn("n_tokens", Text.tokenCount(col("text"))),
          col("lang"), col("doc_id"), col("n_tokens"), budget = 10000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("bin_id")),
      """WITH d AS (SELECT doc_id, lang,
           len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS n_tokens
         FROM documents)
         SELECT doc_id, lang, n_tokens,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 10000) AS BIGINT) AS bin_id
         FROM d"""),

    QuerySpec("pipe_pack_chunks", (s, d) =>
      // GPT-style concat-and-chunk packing into 512-token context windows:
      // chunk boundaries cut THROUGH documents (each straddled chunk gets
      // the doc's [tok_start, tok_end) span). Global offsets come from the
      // two-level distributed prefix sum (shard totals + shard-summary
      // window + per-shard window) — no corpus-wide window; the oracle
      // computes the same layout with one global window.
      graft.operators.Sampling.packChunksGlobal(
        t(s, d, "documents").withColumn("n_tokens", Text.tokenCount(col("text"))),
        col("doc_id"), col("n_tokens"), chunkTokens = 512L, shardSize = 64L),
      """WITH n AS (SELECT doc_id,
           CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
         FROM documents),
         o AS (SELECT doc_id, n_tok,
           CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
         FROM n),
         sp AS (SELECT doc_id, n_tok, o,
           unnest(generate_series(o // 512, (o + n_tok - 1) // 512)) AS chunk_id
         FROM o WHERE n_tok > 0)
         SELECT CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
           CAST(greatest(0, chunk_id * 512 - o) AS BIGINT) AS tok_start,
           CAST(least(n_tok, (chunk_id + 1) * 512 - o) AS BIGINT) AS tok_end
         FROM sp"""),

    QuerySpec("skew_salted_agg", (s, d) =>
      // two-phase salted aggregation (hot-key spread over salt buckets,
      // partials merged by the combiner algebra) must equal the direct
      // group-aggregate — decimal totals rendered as strings (driver
      // decimal-hash contract)
      graft.operators.Skew.saltedSum(t(s, d, "events"), col("event_type"),
          col("value"), saltBuckets = 8)
        .select(col("key").as("event_type"), col("total").cast("string").as("total")),
      """SELECT event_type,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS total
         FROM events GROUP BY event_type"""),

    QuerySpec("text_readability", (s, d) =>
      // Flesch reading-ease in integer-exact form: sentence/word/vowel-
      // group counts + score x1000 floored — one scan-local projection
      operators.Text.readability(t(s, d, "documents"), col("doc_id"),
        col("text")),
      """SELECT doc_id,
           CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_words,
           CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
             s -> length(trim(s)) > 0)) AS BIGINT) AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syl,
           CASE WHEN len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                  s -> length(trim(s)) > 0)) > 0
                 AND len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) > 0
             THEN CAST(floor(206835.0
               - (1015.0 * len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')))
                 / len(list_filter(regexp_split_to_array(text, '[.!?]+'), s -> length(trim(s)) > 0))
               - (84600.0 * len(regexp_extract_all(lower(text), '[aeiouy]+')))
                 / len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT)
           END AS flesch_milli
         FROM documents"""),

    QuerySpec("text_bpe_encode", (s, d) =>
      // the tokenizer READ path, fully oracle-gated: encode every doc
      // under the FIXED training-ordered merge table (BpeFixedMerges) —
      // the deployment shape, where the table trains once and ships as a
      // plan literal into the scan-local native encode expression. The
      // training-order invariant makes greedy lowest-rank encode ≡
      // sequential rank application, so the oracle is an exact chain of
      // replace() calls in marker space. (The 200-merge TRAINED form —
      // train-then-rewrite nested iteration, not SQL-expressible — stays
      // a library path: Text.bpeTokenize + BpeSpec goldens, with the
      // training argmax oracle-gated by `text_bpe_single_merge` below.)
      operators.Text.bpeEncodeFixed(t(s, d, "documents"), col("doc_id"),
        col("text"), BpeFixedMerges),
      bpeFixedOracleSql),

    QuerySpec("text_bpe_single_merge", (s, d) =>
      // decisive oracle-able slice of the BPE pipeline: ONE training round
      // (global pair argmax, count desc / pair lexicographic ties) + the
      // greedy leftmost encode of every doc under that single merge. In
      // SQL the greedy leftmost merge is exactly `replace()` (non-
      // overlapping left-to-right), so the oracle reproduces the whole
      // train→encode path bit-for-bit.
      operators.Text.bpeTokenize(t(s, d, "documents"), col("doc_id"),
        col("text"), numMerges = 1),
      // one full BPE round, train + encode: the winning pair is the global
      // (count desc, a, b) argmax; greedy leftmost merging of a single
      // 2-char pair is EXACTLY SQL replace() (non-overlapping left-to-right,
      // covering the (x,x) overlap case identically), with chr(1) as the
      // merged-token marker (fixture verified control-char-free) so the
      // distinct-token count is a distinct-char count
      """WITH norm AS (SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
           FROM documents),
         wt AS (SELECT unnest(string_split(nt, ' ')) AS w FROM norm),
         pc AS (SELECT substring(w, CAST(i AS INT), 1) AS a,
             substring(w, CAST(i AS INT) + 1, 1) AS b, count(*) AS c
           FROM wt, unnest(generate_series(1, len(w) - 1)) AS t(i)
           GROUP BY 1, 2),
         best AS (SELECT a || b AS p FROM pc ORDER BY c DESC, a, b LIMIT 1),
         enc AS (SELECT doc_id, replace(replace(nt, p, chr(1)), ' ', '') AS e
           FROM norm CROSS JOIN best)
         SELECT doc_id, CAST(len(e) AS INT) AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(e, '.'))) AS INT) AS n_unique_tokens
         FROM enc"""),

    QuerySpec("text_bpe_pair_counts", (s, d) =>
      // the counting core of one BPE merge round (Sennrich et al. ACL '16):
      // global adjacent-symbol-pair frequencies at the character stage,
      // top-20 — two scan-local explodes then one hash-agg (map-side
      // combined; the pair vocabulary is alphabet², tiny), top-k bounded.
      // A full tokenizer trainer iterates this exact aggregation, merging
      // the winner into the symbol stream each round.
      t(s, d, "documents")
        .select(explode(split(operators.Text.normalized(col("text")), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(20),
      """WITH w AS (SELECT unnest(string_split(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
         FROM documents),
         p AS (SELECT unnest([substring(w, CAST(i AS INT), 2)
             for i in range(1, len(w))]) AS pair
           FROM w WHERE len(w) >= 2)
         SELECT pair, count(*) AS cnt FROM p GROUP BY pair
         QUALIFY row_number() OVER (ORDER BY cnt DESC, pair) <= 20"""),

    QuerySpec("text_chunk_windows", (s, d) =>
      // RAG passage chunking: 64-token windows every 48 tokens (25%
      // overlap) — one scan-local projection + chunk explode, no shuffle
      graft.operators.Text.chunkWindows(t(s, d, "documents"),
          col("doc_id"), col("text"), window = 64, stride = 48)
        .select(col("id").as("doc_id"), col("chunk_idx"),
          col("chunk_text"), col("n_tokens")),
      """WITH d AS (SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
         c AS (SELECT doc_id, w, len(w) AS n,
           unnest(range(0, (greatest(len(w) - 1, 0) // 48) + 1)) AS ci
         FROM d)
         SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
           array_to_string(w[ci*48 + 1 : ci*48 + 64], ' ') AS chunk_text,
           CAST(least(64, n - ci*48) AS BIGINT) AS n_tokens
         FROM c"""),

    QuerySpec("sketch_heavy_hitters", (s, d) =>
      // SpaceSaving top-k frequency sketch (Metwally ICDT '05) as a native
      // mergeable aggregate: one pass, <=m counters per map task — never a
      // corpus-wide groupBy on the value. Exact while distinct <= m (the
      // oracle regime: == exact GROUP BY top-10); the N/m overestimate
      // bound above is spec-pinned.
      t(s, d, "events")
        .agg(graft.functions.HeavyHittersAgg.heavyHitters(
          col("user_id"), m = 8192, k = 10).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.value").as("user_id"), col("h.cnt").as("cnt")),
      // SpaceSaving is exact below m=8192 distinct values — at this
      // fixture's cardinality the sketch's top-10 IS the exact GROUP BY
      // top-10 (ties broken count desc, user_id asc in both engines)
      """SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
         QUALIFY row_number() OVER (ORDER BY cnt DESC, user_id) <= 10"""),

    QuerySpec("pipe_corpus_stats", (s, d) =>
      // the per-snapshot corpus data card in ONE scan: doc counts,
      // distinct sources (KMV), char-length percentiles (KLL) — three
      // mergeable sketch families composed in a single aggregation, each
      // exact below capacity (the oracle regime). At 100 TB this is the
      // nightly curation summary: one pass, O(k) state per (lang) cell.
      t(s, d, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          graft.functions.KmvDistinctAgg.kmvDistinct(
            xxhash64(col("source")), 16384).as("n_sources"),
          graft.functions.KllQuantileAgg.kllQuantiles(
            col("n_chars").cast("double"), 4096, Seq(0.5, 0.9)).as("qs"))
        .select(col("lang"), col("n_docs"), col("n_sources"),
          col("qs")(0).as("p50_chars"), col("qs")(1).as("p90_chars")),
      // KMV is exact below k=16384 distinct members per group — at this
      // fixture's cardinality the sketch IS count(distinct); the estimator
      // path above k is spec-gated (KmvSketchSpec) since no SQL oracle can
      // reproduce a sketch estimate
      // all three sketches exact below capacity at this fixture's group sizes
      """WITH r AS (SELECT lang, CAST(n_chars AS DOUBLE) AS nc,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY CAST(n_chars AS DOUBLE)) AS BIGINT) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
           FROM documents)
         SELECT r.lang, max(n) AS n_docs, max(s.ns) AS n_sources,
           max(CASE WHEN rn = CAST(greatest(1, ceil(0.5 * n)) AS BIGINT) THEN nc END) AS p50_chars,
           max(CASE WHEN rn = CAST(greatest(1, ceil(0.9 * n)) AS BIGINT) THEN nc END) AS p90_chars
         FROM r JOIN (SELECT lang, count(DISTINCT source) AS ns
           FROM documents GROUP BY lang) s ON r.lang = s.lang
         GROUP BY r.lang"""),

    QuerySpec("sketch_rollup", (s, d) => {
      // the sketch-TABLE architecture end to end: fine-grained
      // (event_type, day) sketches materialize once (at 100 TB: the
      // nightly job), and the coarser cube cell is kmv_merge over the
      // stored VALUES — no raw-data re-scan, O(k) state per cell. Exact
      // below k, so the rollup ≡ COUNT(DISTINCT) is the oracle.
      import graft.functions.KmvSetOps._
      t(s, d, "events")
        .groupBy(col("event_type"),
          (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
        .agg(kmvSketch(xxhash64(col("user_id")), 16384).as("sk"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          kmvEstimate(kmvMerge(col("sk"))).as("n_users"))
    },
      // kmv_merge over stored daily sketches is exact below k — the rollup
      // IS count(distinct) at this fixture's cardinality
      """SELECT event_type,
           count(DISTINCT epoch_ms(ts) // 86400000) AS n_days,
           count(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type"""),

    QuerySpec("sketch_hh_rollup", (s, d) => {
      // the heavy-hitters half of the sketch-table architecture: per-
      // (event_type, day) SpaceSaving sketches materialize once, and the
      // per-type top-10 is hh_topk(hh_merge(sk)) over the stored VALUES —
      // exact while distinct users <= m (the oracle regime), counter-wise
      // merge above it.
      import graft.functions.HhSketchOps._
      t(s, d, "events")
        .groupBy(col("event_type"),
          (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
        .agg(hhSketch(col("user_id"), 8192).as("sk"))
        .groupBy("event_type")
        .agg(hhMerge(col("sk")).as("merged"))
        .select(col("event_type"), explode(hhTopK(col("merged"), 10)).as("h"))
        .select(col("event_type"), col("h.value").as("user_id"),
          col("h.cnt").as("cnt"))
    },
      // rolled-up SpaceSaving is exact below m=8192 distinct — per type the
      // merged sketch's top-10 IS the exact GROUP BY top-10 (ties count
      // desc, user_id asc in both engines)
      """SELECT event_type, user_id, cnt FROM (
           SELECT event_type, user_id, count(*) AS cnt,
             row_number() OVER (PARTITION BY event_type
               ORDER BY count(*) DESC, user_id) AS rk
           FROM events GROUP BY event_type, user_id)
         WHERE rk <= 10"""),

    QuerySpec("q_salted_join", (s, d) =>
      // statically salted fact⋈dim join: hot fact keys spread over 8
      // reducers via a fact-side salt + 8x dim replication on (key, salt)
      // — bit-identical to the plain join (the oracle), the AQE-off /
      // known-skew form of runtime skew splitting
      graft.operators.Skew.saltedJoin(
          t(s, d, "orders"), t(s, d, "customer").select("c_custkey", "c_name"),
          col("o_custkey"), col("c_custkey"), saltBuckets = 8)
        .select(col("o_orderkey"), col("o_custkey"), col("c_name")),
      // fact-side salting never changes the answer — the oracle is the plain join
      """SELECT o_orderkey, o_custkey, c_name
         FROM orders JOIN customer ON o_custkey = c_custkey""",
      cap = Some(Cap("o_orderkey", 15))),

    QuerySpec("sketch_kmv_setops", (s, d) => {
      // Sketch-as-column theta set operations (the DataSketches / Theta-
      // Sketch-Framework architecture, PODS '16): ONE scan builds two
      // cohort sketches via null-skipping conditional inputs; union and
      // intersection cardinalities are then scalar folds over the sketch
      // VALUES — at 100 TB this is the pre-aggregated-sketch-table pattern
      // (store O(k) bytes per cell, answer any cohort-overlap question
      // without re-scanning the corpus). Exact below k=16384 distinct per
      // cohort (the oracle gate); theta estimator above is spec-pinned.
      import graft.functions.KmvSetOps._
      t(s, d, "events")
        .agg(
          kmvSketch(when(col("event_type") === "click" && col("value") >= 60,
            xxhash64(col("user_id"))), 16384).as("sa"),
          kmvSketch(when(col("event_type") === "purchase" && col("value") >= 60,
            xxhash64(col("user_id"))), 16384).as("sb"))
        .select(
          kmvEstimate(col("sa")).as("n_click_users"),
          kmvEstimate(col("sb")).as("n_purchase_users"),
          kmvEstimate(kmvUnion(col("sa"), col("sb"))).as("n_union"),
          kmvIntersectEst(col("sa"), col("sb")).as("n_intersect"))
    },
      // KMV sketches are exact below k=16384 distinct per cohort — at this
      // fixture's cardinality the union/intersection estimates ARE the exact
      // set-operation cardinalities; the theta estimator above k is
      // spec-gated (KmvSetOpsSpec)
      """SELECT
           count(DISTINCT CASE WHEN event_type = 'click' AND value >= 60
             THEN user_id END) AS n_click_users,
           count(DISTINCT CASE WHEN event_type = 'purchase' AND value >= 60
             THEN user_id END) AS n_purchase_users,
           count(DISTINCT CASE WHEN event_type IN ('click', 'purchase')
             AND value >= 60 THEN user_id END) AS n_union,
           CAST(count(DISTINCT CASE WHEN event_type = 'click' AND value >= 60
               THEN user_id END)
             + count(DISTINCT CASE WHEN event_type = 'purchase' AND value >= 60
               THEN user_id END)
             - count(DISTINCT CASE WHEN event_type IN ('click', 'purchase')
               AND value >= 60 THEN user_id END) AS BIGINT) AS n_intersect
         FROM events"""),

    QuerySpec("sketch_kll_rollup", (s, d) => {
      // the quantile member of the sketch-table architecture: per-
      // (event_type, day) KLL ladders materialize once; any coarser
      // cell's percentiles are kll_quantiles_of(kll_merge(sk)) over the
      // stored VALUES. Exact while the merged ladder stays below capacity
      // (the oracle regime: == the ceil(q*n) order statistic per type).
      import graft.functions.KllSketchOps._
      t(s, d, "events")
        .groupBy(col("event_type"),
          (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
        .agg(kllSketch(col("value"), 4096).as("sk"))
        .groupBy("event_type")
        .agg(kllMerge(col("sk")).as("m"))
        .select(col("event_type"),
          kllQuantilesOf(col("m"), Seq(0.5, 0.9))(0).as("p50"),
          kllQuantilesOf(col("m"), Seq(0.5, 0.9))(1).as("p90"))
    },
      // merged daily ladders stay exact below capacity — the rollup IS the
      // per-type order statistic at this fixture's cardinality
      """WITH r AS (SELECT event_type, value,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events)
         SELECT event_type,
           max(CASE WHEN rn = CAST(greatest(1, ceil(0.5 * n)) AS BIGINT) THEN value END) AS p50,
           max(CASE WHEN rn = CAST(greatest(1, ceil(0.9 * n)) AS BIGINT) THEN value END) AS p90
         FROM r GROUP BY event_type"""),

    QuerySpec("sketch_cube_report", (s, d) => {
      // the sketch-table architecture COMPOSED end to end: ONE daily
      // (event_type, day) build materializes BOTH sketch families — KMV
      // of the user set, KLL of the value stream — and three different
      // rollup questions are then answered from stored sketch VALUES
      // alone: month-grain distinct users (kmv_merge), value percentiles
      // (kll_merge + quantile read), and cohort overlap against the
      // purchase cohort (theta intersect of two MERGED sketches). This is
      // the 100 TB cube pattern: the raw stream is scanned once by the
      // daily job; every later cell/overlap/percentile is an O(k) fold
      // over the sketch table. The daily table persists (cells × O(k)
      // bytes — the stored-table stand-in); the purchase sketch reaches
      // the other rows via a first() window over the 5-row type table
      // rather than a self-join (which would trip DeduplicateRelations
      // on the cached relation and re-derive the raw scan — the ccnet
      // lesson). Exact below k on every leg = the oracle regime.
      import graft.functions.KmvSetOps._
      import graft.functions.KllSketchOps._
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
        .agg(kmvSketch(xxhash64(col("user_id")), 16384).as("sk_u"),
          kllSketch(col("value"), 8192).as("sk_v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val perType = daily.groupBy("event_type")
        .agg(kmvMerge(col("sk_u")).as("mu"), kllMerge(col("sk_v")).as("mv"))
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      perType
        .withColumn("pu", first(
          when(col("event_type") === "purchase", col("mu")), ignoreNulls = true)
          .over(w))
        .select(col("event_type"),
          kmvEstimate(col("mu")).as("n_users"),
          kllQuantilesOf(col("mv"), Seq(0.5, 0.95))(0).as("p50"),
          kllQuantilesOf(col("mv"), Seq(0.5, 0.95))(1).as("p95"),
          kmvIntersectEst(col("mu"), col("pu")).as("overlap_purchase"))
    },
      // composed sketch-table report: every leg is in its exact regime at
      // the oracle SF, so the sketch answers ≡ the exact SQL answers
      """WITH per AS (SELECT event_type, count(DISTINCT user_id) AS n_users
           FROM events GROUP BY 1),
         r AS (SELECT event_type, value,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events),
         q AS (SELECT event_type,
             max(CASE WHEN rn = CAST(greatest(1, ceil(0.5 * n)) AS BIGINT) THEN value END) AS p50,
             max(CASE WHEN rn = CAST(greatest(1, ceil(0.95 * n)) AS BIGINT) THEN value END) AS p95
           FROM r GROUP BY 1),
         o AS (SELECT e.event_type, count(DISTINCT e.user_id) AS overlap_purchase
           FROM events e
           WHERE e.user_id IN (SELECT user_id FROM events WHERE event_type = 'purchase')
           GROUP BY 1)
         SELECT per.event_type, per.n_users, q.p50, q.p95,
           coalesce(o.overlap_purchase, 0) AS overlap_purchase
         FROM per JOIN q USING (event_type) LEFT JOIN o USING (event_type)"""),

    QuerySpec("sketch_quantiles", (s, d) =>
      // KLL quantile ladder (Karnin FOCS '16) as a native mergeable
      // aggregate: O(k) doubles per group per map task, never the value
      // stream. EXACT below the level-0 capacity (the oracle gate: == the
      // SQL ceil(q*n) order statistic at this fixture's ~2k rows/group);
      // the compaction path and its rank-error bound are pinned by
      // KllSketchSpec, and at sf0.1 (~20k rows/group) the bench exercises
      // the real compacting regime.
      t(s, d, "events").groupBy("event_type")
        .agg(graft.functions.KllQuantileAgg.kllQuantiles(
            col("value"), 4096, Seq(0.5, 0.9, 0.99)).as("qs"),
          count(lit(1)).as("n_events"))
        .select(col("event_type"),
          col("qs")(0).as("p50"), col("qs")(1).as("p90"),
          col("qs")(2).as("p99"), col("n_events")),
      // KLL is exact below its level-0 capacity (4096) — at this fixture's
      // ~2k rows per event_type the sketch's answer IS the discrete
      // ceil(q*n)-rank order statistic; the compaction regime above capacity
      // is spec-gated (KllSketchSpec) since no SQL oracle can reproduce a
      // sketch estimate
      """WITH r AS (SELECT event_type, value,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events)
         SELECT event_type,
           max(CASE WHEN rn = CAST(greatest(1, ceil(0.5 * n)) AS BIGINT) THEN value END) AS p50,
           max(CASE WHEN rn = CAST(greatest(1, ceil(0.9 * n)) AS BIGINT) THEN value END) AS p90,
           max(CASE WHEN rn = CAST(greatest(1, ceil(0.99 * n)) AS BIGINT) THEN value END) AS p99,
           max(n) AS n_events
         FROM r GROUP BY event_type"""),

    QuerySpec("sketch_distinct_kmv", (s, d) =>
      // KMV theta sketch as a native TypedImperativeAggregate: O(k)
      // mergeable state, map-side partials carry one <=k-entry sketch per
      // group per task — never the value set. EXACT below k distinct
      // (that's the oracle gate: == COUNT(DISTINCT) at this fixture's
      // cardinality); the above-k estimator path and its ~1/sqrt(k) error
      // are pinned by KmvSketchSpec. The hash input is Spark's codegen'd
      // xxhash64, so the kernel stays in whole-stage codegen up to the agg.
      t(s, d, "events").groupBy("event_type")
        .agg(graft.functions.KmvDistinctAgg.kmvDistinct(
            xxhash64(col("user_id")), 16384).as("approx_users"),
          count(lit(1)).as("n_events")),
      """SELECT event_type, count(DISTINCT user_id) AS approx_users,
           count(*) AS n_events
         FROM events GROUP BY event_type"""),

    QuerySpec("q_pivot", (s, d) =>
      // native relational pivot with explicit values (stable schema — the
      // only scale-safe form: value discovery is a driver-side scan)
      t(s, d, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(count(lit(1)))
        .select(col("user_id"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("view"), lit(0L)).as("n_view"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase")),
      """SELECT user_id,
           count(*) FILTER (event_type = 'click') AS n_click,
           count(*) FILTER (event_type = 'view') AS n_view,
           count(*) FILTER (event_type = 'purchase') AS n_purchase
         FROM events GROUP BY user_id"""),

    QuerySpec("q_sliding_window", (s, d) =>
      // explicit ROWS frame: trailing 3-row moving sum over each user's
      // event sequence; decimal-exact arithmetic (a moving AVG would
      // divide — decimal-vs-double division rounding diverges across
      // engines, sums do not)
      t(s, d, "events")
        .withColumn("mov_sum",
          sum(col("value").cast("decimal(18,2)")).over(
            Window.partitionBy(col("user_id")).orderBy(col("event_id"))
              .rowsBetween(-2, 0)).cast("string"))
        .select("event_id", "user_id", "mov_sum"),
      """SELECT event_id, user_id,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS VARCHAR) AS mov_sum
         FROM events""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("q_range_frame", (s, d) =>
      // RANGE frame (value-based, vs q_sliding_window's ROWS): all events of
      // the user whose event_id lies within 100 of the current one — frame
      // membership by key distance, so peers and gaps behave differently
      // from a row count. Count is integer-exact; the sum takes the
      // decimal-as-string contract.
      t(s, d, "events")
        .withColumn("n_in_range",
          count(lit(1)).over(
            Window.partitionBy(col("user_id")).orderBy(col("event_id"))
              .rangeBetween(-100, 0)))
        .withColumn("sum_in_range",
          sum(col("value").cast("decimal(18,2)")).over(
            Window.partitionBy(col("user_id")).orderBy(col("event_id"))
              .rangeBetween(-100, 0)).cast("string"))
        .select("event_id", "user_id", "n_in_range", "sum_in_range"),
      """SELECT event_id, user_id,
           count(*) OVER w AS n_in_range,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS VARCHAR) AS sum_in_range
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id
           RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("q_scalar_subquery", (s, d) => {
      // correlated scalar subquery via the SQL surface — Catalyst
      // decorrelates it into an aggregate + (broadcast) outer join rather
      // than a per-row probe; count(*) in an empty group must surface as 0
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql("""SELECT c_custkey,
                 (SELECT count(*) FROM orders_v o WHERE o.o_custkey = c.c_custkey) AS n_orders
               FROM customer_v c""")
    },
      """SELECT c_custkey,
           (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
         FROM customer c"""),

    QuerySpec("q_recursive_cte", (s, d) => {
      // WITH RECURSIVE (Spark 4's recursive CTE): walk a synthetic decimal
      // org hierarchy (parent = key div 10) from every customer to its
      // root, emitting the root and depth — the transitive-closure shape
      // (BOM explosion, org chart, graph reachability) that iterative
      // UnionLoop execution covers and plain SQL cannot express
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      s.sql("""WITH RECURSIVE anc(k, node, depth) AS (
                 SELECT CAST(c_custkey AS BIGINT), CAST(c_custkey AS BIGINT), CAST(0 AS INT)
                 FROM customer_v
                 UNION ALL
                 SELECT k, node DIV 10, CAST(depth + 1 AS INT) FROM anc WHERE node >= 10)
               SELECT k AS c_custkey, node AS root, depth FROM anc WHERE node < 10""")
    },
      """WITH RECURSIVE anc(k, node, depth) AS (
           SELECT CAST(c_custkey AS BIGINT), CAST(c_custkey AS BIGINT), CAST(0 AS INT)
           FROM customer
           UNION ALL
           SELECT k, node // 10, CAST(depth + 1 AS INT) FROM anc WHERE node >= 10)
         SELECT k AS c_custkey, node AS root, depth FROM anc WHERE node < 10"""),

    QuerySpec("q_lateral", (s, d) => {
      // LATERAL correlated subquery (multi-column, aggregated) — Catalyst
      // decorrelates the per-row subquery into one aggregate + join, so
      // the plan is a single supplier aggregation joined to nation, never
      // a per-row re-execution
      t(s, d, "nation").createOrReplaceTempView("nation_v")
      t(s, d, "supplier").createOrReplaceTempView("supplier_v")
      s.sql("""SELECT n.n_name, l.n_sup, l.total_bal
               FROM nation_v n,
               LATERAL (SELECT count(*) AS n_sup,
                          CAST(sum(s_acctbal) AS DECIMAL(18,2)) AS total_bal
                        FROM supplier_v s
                        WHERE s.s_nationkey = n.n_nationkey) l""")
        .withColumn("total_bal", col("total_bal").cast("string"))
    },
      """SELECT n.n_name, l.n_sup, CAST(l.total_bal AS VARCHAR) AS total_bal
         FROM nation n,
         LATERAL (SELECT count(*) AS n_sup,
                    CAST(sum(s_acctbal) AS DECIMAL(18,2)) AS total_bal
                  FROM supplier s
                  WHERE s.s_nationkey = n.n_nationkey) l"""),

    QuerySpec("cdc_raw_adapter", (s, d) => {
      // the raw binlog event layer end-to-end (reference RawEventType.java:
      // 4-43): the fixture's events synthesized as serialized GTID/TABLE_MAP/ROWS/XID
      // blocks, normalized by RawBinlogAdapter (the per-server supplier
      // state machine over the binlog-ordered log), then
      // transaction-assembled — must re-derive exactly the per-event facts
      // SQL computes directly on `events`.
      val ops = graft.operators.RawBinlogAdapter.toOps(storedRaw(s, d))
      TransactionAssembler.assembleBatch(ops).toDF()
        .filter(col("kind").isin("INSERT", "UPDATE"))
        .select(col("txnUuid").as("txn_uuid"), col("kind"),
          element_at(col("after"), "event_id").cast("bigint").as("event_id"),
          col("rowKey").as("row_key"),
          col("commitTsMs").as("commit_ts"))
    },
      """SELECT 'srv1:' || CAST(user_id AS VARCHAR) AS txn_uuid,
           CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1
                THEN 'INSERT' ELSE 'UPDATE' END AS kind,
           event_id,
           CAST(user_id AS VARCHAR) AS row_key,
           max(epoch_ms(ts)) OVER (PARTITION BY user_id) AS commit_ts
         FROM events""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("cdc_schema_evolution", (s, d) => {
      // A10 end-to-end, hash-gated (the reference's hardest property —
      // ActiveSchemaManager/SchemaAtPositionCache: every row image decodes
      // against the schema ACTIVE AT ITS POSITION): an op stream over
      // table `acct` carries two mid-stream DDLs — an ADD COLUMN at
      // position 400 and a MODIFY type change (signed INT -> TINYINT
      // UNSIGNED) at position 800. The DDL statements are replayed through
      // SchemaCatalog's parser IN STREAM ORDER (the foreachBatch path,
      // O(DDL) driver work), and the pipeline's decoder picks each row's
      // version from the catalog snapshot in ONE scan-local projection:
      // rows before 400 have no `score` key (NULL), rows from 800 re-type
      // the SAME wire value through the unsigned-tinyint mask. The oracle
      // applies the two schema regimes explicitly in SQL — so a parse bug,
      // a version boundary off-by-one, or a wrong per-type decode all
      // hash-mismatch.
      val ev = t(s, d, "events")
      val ddls = Seq(
        (0L, "CREATE TABLE acct (id INT NOT NULL PRIMARY KEY, " +
          "name VARCHAR(32), val INT)"),
        (400L, "ALTER TABLE acct ADD COLUMN score SMALLINT UNSIGNED NOT NULL DEFAULT 0"),
        (800L, "ALTER TABLE acct MODIFY COLUMN val TINYINT UNSIGNED"))
      val cat = new graft.augment.SchemaCatalog("test")
      ddls.foreach { case (pos, ddl) => cat.applyDdl(ddl, pos) }
      val nVersions = cat.versionsOf("acct").size
      require(nVersions == 3, s"expected 3 schema versions, got $nVersions")
      // wire images as the supplier delivers them: signed decimal strings;
      // rows written before the ADD COLUMN carry no `score` cell
      val base = map_from_arrays(
        array(lit("id"), lit("name"), lit("val")),
        array(col("event_id").cast("string"), col("event_type"),
          ((col("event_id") % 300) - 150).cast("string")))
      val withScore = map_concat(base, map_from_arrays(
        array(lit("score")),
        array(((col("event_id") % 100) - 50).cast("string"))))
      // in-body cap (see Cap): the output `id` IS event_id, so the cap's
      // predicate applied HERE — before the decode — prunes
      // 90% of rows ahead of the versioned decode instead of making
      // Catalyst inline the decode into a pushed-down post-filter and
      // evaluate it twice (measured 0.32 -> 1.04 s the generic way)
      val ops = ev.filter(col("event_id") % SchemaEvolutionCap.modulus === 0)
        .select(lit("acct").as("table"), col("event_id").as("pos"),
          lit(null).cast("map<string,string>").as("before"),
          when(col("event_id") >= 400, withScore).otherwise(base).as("after"))
      graft.augment.RowDecoder.decode(ops, col("pos"), cat).select(
        element_at(col("after"), "id").cast("bigint").as("id"),
        element_at(col("after"), "name").as("name"),
        element_at(col("after"), "val").as("val"),
        element_at(col("after"), "score").as("score"))
    },
      // the two schema regimes applied explicitly: rows before position 400
      // predate the ADD COLUMN (no score cell -> NULL); rows from 800 decode
      // the SAME signed wire string through the TINYINT UNSIGNED mask
      // (x & 0xFF == (x + 256) % 256 for x in [-150, 149])
      """SELECT CAST(event_id AS BIGINT) AS id,
           event_type AS name,
           CASE WHEN event_id >= 800
             THEN CAST(((event_id % 300) - 150 + 256) % 256 AS VARCHAR)
             ELSE CAST((event_id % 300) - 150 AS VARCHAR) END AS val,
           CASE WHEN event_id >= 400
             THEN CAST(CASE WHEN (event_id % 100) - 50 < 0
               THEN (event_id % 100) - 50 + 65536
               ELSE (event_id % 100) - 50 END AS VARCHAR)
             ELSE NULL END AS score
         FROM events""",
      cap = Some(SchemaEvolutionCap))
  )
}
