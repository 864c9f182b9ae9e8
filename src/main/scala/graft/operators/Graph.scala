package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics, Spark-first: each PageRank round is one
  * declarative join + aggregation over the (src, dst) edge relation — the
  * DataFrame rendering of the Pregel superstep — so Catalyst/AQE plan every
  * round (broadcast the rank table while it is small, shuffle-join on the
  * edge key at scale) and the loop lives on the driver as PLAN construction
  * only (no data ever collects).
  *
  * Engine-exact arithmetic: ranks are INTEGER-scaled (×10¹²) and every
  * PageRank operation is integer — floor division for the per-edge share
  * (`r div deg`), `85 · Σ div 100` for the damping — so five rounds produce
  * bit-identical BIGINTs on any engine, and the DuckDB oracle simply
  * unrolls the same five rounds as chained CTEs. No float ever appears.
  * The flooring drift (Σ ranks < scale) is part of the defined semantics,
  * identical on both sides.
  *
  * Materialization: a kernel that reads a relation more than once (every
  * round, or from several join sides) persists it or materializes it with
  * [[Materialize]] (localCheckpoint, or a reliable checkpoint when the
  * session has a checkpoint dir), and the iterative kernels cut lineage
  * every round the same way. That makes building their DataFrames eager:
  * the work up to the last materialization runs at construction. [[hits]]
  * is the exception: one lazy plan. */
object Graph {

  /** PageRank with damping 0.85 over a directed edge list, `iterations`
    * rounds from a uniform start, all arithmetic integer at `scale`:
    *
    *   r₀(v)    = scale div N
    *   rᵢ₊₁(v) = (15·scale div 100) div N
    *             + 85 · Σ_{(u,v)∈E} (rᵢ(u) div deg(u)) div 100
    *
    * Input `edges` must have columns (src, dst); duplicate edges should be
    * de-duplicated by the caller if multiplicity is not intended. Nodes =
    * union of both endpoints, so sinks (no out-edges) and sources (no
    * in-edges) both carry ranks; a sink's rank simply leaks (the classic
    * unnormalized treatment — defined identically in the oracle).
    *
    * Scale shape: deg and the node set derive from the edge relation once;
    * each round shuffles the edge relation by src (join) then by dst
    * (aggregate) — two exchanges per round over edge-sized data, rank
    * tables stay node-sized and broadcast while small. The driver loop
    * builds the PLAN and materializes each round's rank table; nothing
    * collects. */
  def pageRank(edges: DataFrame, srcCol: Column, dstCol: Column,
      iterations: Int, scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // The edge relation (with out-degree attached ONCE) persists for the
    // loop — the standard posture for iterative graph ops (SCALE.md
    // principle 7): without it every round lazily re-derives the caller's
    // edge-construction plan (for the co-purchase graph, a self-join +
    // distinct — measured ~5× the rollup cost when recomputed per round).
    // The node and count tables are derived once off the same cache.
    val ed = edges.select(srcCol.as("src"), dstCol.as("dst"))
    val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edDeg = ed.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edDeg.select(col("src").as("v"))
      .union(edDeg.select(col("dst").as("v"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.agg(count(lit(1)).as("nn"))
    // `div` (SQL integer division), never `/`: a double quotient that
    // lands within an ulp of an integer would cast-truncate differently
    // than the oracle's integer `//`
    var ranks = nodes.crossJoin(broadcast(n))
      .select(col("v"), expr(s"${scale}L div nn").as("r"))
    var i = 0
    while (i < iterations) {
      // per-round shape (round-12): the node-completion LEFT JOIN is fused
      // INTO the contribution aggregation — a zero row per node rides the
      // same groupBy that sums the edge contributions, so sinks/sources
      // surface with s = 0 (≡ the old coalesce(s, 0)) and each round costs
      // ONE node-keyed exchange instead of exchange + node-sized join.
      // Bit-identical: Σ(contribs ∪ {0}) = coalesce(Σ contribs, 0), all
      // integer.
      val contrib = edDeg
        .join(ranks.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v"), expr("r div deg").as("c"))
      ranks = contrib.unionByName(nodes.select(col("v"), lit(0L).as("c")))
        .groupBy("v").agg(sum(col("c")).as("s"))
        .crossJoin(broadcast(n))
        .select(col("v"),
          (expr(s"${scale * 15L / 100L} div nn") +
            expr("85 * s div 100")).as("r"))
      i += 1
      // the rank table materializes every round. Two effects: (a) lineage
      // cap — without it a 50-round plan is 50 joins deep (analyzer cost
      // superlinear, task binaries grow per round); (b) EXACT SIZE STATS —
      // a materialized node-sized table lets AQE broadcast the rank side
      // of the next round's edge join instead of planning a conservative
      // shuffle (measured 7.5 → 5.6 s on the 3-round sf0.1 bench row). The
      // cost is holding one node-sized table per round in executor memory.
      if (i < iterations) ranks = Materialize(ranks)
    }
    // materialize the final node-sized rank table, then drop the two
    // edge-sized caches: without this every call leaked edDeg+nodes for
    // any caller not wrapped in a clearCache (library hygiene). The
    // materialization is eager and the ranks are deterministic integers,
    // so truncating lineage loses nothing.
    val out = Materialize(ranks)
    edDeg.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** Global triangle count + clustering coefficient via degree-ordered
    * edge orientation (Cohen's MapReduce formulation / the MGT algorithm):
    * orient every undirected edge from its (degree, id)-smaller endpoint
    * to its larger, join out-edges on their source to enumerate each
    * wedge at its smallest vertex exactly once, and close wedges against
    * the oriented edge set. Orientation is THE scale lever: max out-degree
    * is O(√m) on any graph (a vertex's out-neighbors all have ≥ its
    * degree), so wedge volume is O(m^1.5) worst-case instead of Σdeg² —
    * the hub that breaks the naive form contributes almost nothing
    * oriented. Plan shape: two hash-aggs (undirect + degree), a broadcast
    * degree attach, one equi-join on wedge apex, one equi-join to close —
    * every exchange keyed on well-distributed vertex ids, nothing global,
    * no windows (a row_number rank over a global ORDER BY would serialize
    * on one partition; the lexicographic (deg, id) compare is scan-local).
    *
    * Output (one row, all integers): `n_triangles`, `n_wedges` (the
    * standard Σᵥ d(d−1)/2 over all centers — a node-sized aggregation,
    * NOT the oriented wedge relation, which only materializes each wedge
    * once for closing), and the global clustering coefficient
    * `3·tri/wedges` in parts-per-million (floor-div — engine-exact;
    * d(d−1) is always even so the /2 is exact integer). */
  def triangleStats(edges: DataFrame, srcCol: Column, dstCol: Column): DataFrame = {
    val (deg, closed) = closedWedges(edges, srcCol, dstCol)
    val tri = closed.agg(count(lit(1)).as("n_triangles"))
    val wed = deg.agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    tri.crossJoin(wed).select(
      col("n_triangles"), col("n_wedges"),
      when(col("n_wedges") > 0,
        expr("3000000 * n_triangles div n_wedges")).otherwise(lit(0L))
        .as("clustering_ppm"))
  }

  /** The orientation → wedge → close core of [[triangleStats]] and
    * [[localClustering]]: the degree table (v, d) of the undirected simple
    * graph and its closed wedges (u, v1, v2), one row per triangle.
    *
    * und and ori MATERIALIZE: und is referenced twice (deg + orientation)
    * and ori three times (both wedge legs + the closing probe), each
    * reference otherwise REPLAYING the caller's edge construction — for the
    * co-purchase graph a window + self-join, and exchange reuse does not
    * fire across the alias-renamed branches (the unmaterialized sf0.1 plan
    * carries 103 Exchanges / 68 scans; measured 14.6 → 6.7 s warm,
    * 40.6 → 17.0 s cold with the two checkpoints). Both are edge-sized,
    * the kernel's working set anyway. */
  private def closedWedges(edges: DataFrame, srcCol: Column,
      dstCol: Column): (DataFrame, DataFrame) = {
    val und = Materialize(canonicalEdges(edges, srcCol, dstCol))
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient by (degree, id): strict total order, so each undirected edge
    // appears exactly once in `ori` with out-endpoint degree carried for
    // the wedge-ordering compare below
    val withDeg = und
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val ori = Materialize(withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("w"),
      when(aFirst, col("db")).otherwise(col("da")).as("dw")))
    // wedges at apex u: unordered pair of out-neighbors, ordered by the
    // same (deg, id) rule so each wedge materializes once
    val e1 = ori.select(col("u"), col("w").as("v1"), col("dw").as("d1"))
    val e2 = ori.select(col("u"), col("w").as("v2"), col("dw").as("d2"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
    // closing join: the wedge relation is the big side (O(m^1.5) rows) and
    // must never be SORTED — a sort-merge join spends the whole budget
    // ordering wedges it immediately discards (measured 7.9 → 5.0 s at
    // sf0.1). SHUFFLE_HASH builds the hash table on the edge-sized side
    // and STREAMS wedges through it; at any scale the edge relation per
    // partition is the small side, so the hint is the honest plan, not a
    // local-mode trick.
    val closed = wedges.join(
      ori.select(col("u").as("v1"), col("w").as("v2")).hint("shuffle_hash"),
      Seq("v1", "v2"))
    (deg, closed)
  }

  /** Canonical undirected simple edges: a < b, distinct, no self-loops. */
  private def canonicalEdges(edges: DataFrame, srcCol: Column,
      dstCol: Column): DataFrame =
    edges.select(srcCol.as("a"), dstCol.as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()

  /** Per-node (local) clustering coefficient (Watts & Strogatz, "Collective
    * dynamics of 'small-world' networks", Nature '98): for every node of
    * degree ≥ 2, `lcc = 2·tri(v) / (d(v)·(d(v)−1))` in integer
    * parts-per-million (floor-div, engine-exact). The triangle side is
    * [[triangleStats]]'s degree-ordered orientation core — each
    * triangle materializes exactly once as a closed wedge (u, v1, v2),
    * then EXPLODES to its three endpoints for a node-keyed count, so the
    * per-node attribution costs one map-side stack + one node-keyed
    * hash-agg on top of the O(m^1.5)-bounded wedge close; zero-triangle
    * nodes come back via a left join on the degree table (node-sized).
    * Output per node: (v, degree, n_tri, lcc_ppm) — all BIGINT. */
  def localClustering(edges: DataFrame, srcCol: Column, dstCol: Column,
      scale: Long = 1000000L): DataFrame = {
    val (deg, closed) = closedWedges(edges, srcCol, dstCol)
    val perNode = closed
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("t"))
    deg.filter(col("d") >= 2)
      .join(perNode, Seq("v"), "left")
      .select(col("v"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("n_tri"),
        expr(s"$scale * 2 * coalesce(t, 0) div (d * (d - 1))").as("lcc_ppm"))
  }

  /** Personalized PageRank (Jeh & Widom, "Scaling personalized web
    * search", WWW '03; the random surfer teleports back to a SEED set
    * instead of the whole graph): the "items similar to this catalog" /
    * seeded-recommendation read. Same integer algebra, loop shape,
    * persist/materialize rule and no-float discipline as [[pageRank]] —
    * only the teleport term changes: seeds get `scale·15% div |S∩V|`,
    * everyone else 0, and the initial mass sits uniformly on the seeds.
    * Seeds outside the node set are ignored (they can neither receive
    * nor emit mass); |S∩V| must be nonzero. */
  def personalizedPageRank(edges: DataFrame, srcCol: Column, dstCol: Column,
      seeds: DataFrame, seedCol: Column, iterations: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val ed = edges.select(srcCol.as("src"), dstCol.as("dst"))
    val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edDeg = ed.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    val sd = seeds.select(seedCol.as("v")).distinct()
      .withColumn("__seed", lit(1))
    val nodes = edDeg.select(col("src").as("v"))
      .union(edDeg.select(col("dst").as("v"))).distinct()
      .join(sd, Seq("v"), "left")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ns = nodes.filter(col("__seed").isNotNull).agg(count(lit(1)).as("k"))
    val isSeed = col("__seed").isNotNull
    var ranks = nodes.crossJoin(broadcast(ns))
      .select(col("v"),
        when(isSeed, expr(s"${scale}L div k")).otherwise(lit(0L)).as("r"))
    var i = 0
    while (i < iterations) {
      // same round fusion as [[pageRank]], with the teleport term riding
      // the per-node zero row (it is seed-dependent here, so it cannot be
      // a post-agg constant): every node contributes exactly one teleport
      // row, so sum(t) IS its teleport and sum(c) the coalesced
      // contribution — one node-keyed exchange per round, no left join.
      val contrib = edDeg
        .join(ranks.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v"), lit(0L).as("t"), expr("r div deg").as("c"))
      val tele = nodes.crossJoin(broadcast(ns))
        .select(col("v"),
          when(isSeed, expr(s"${scale * 15L / 100L} div k"))
            .otherwise(lit(0L)).as("t"),
          lit(0L).as("c"))
      ranks = contrib.unionByName(tele)
        .groupBy("v").agg(sum(col("t")).as("t"), sum(col("c")).as("s"))
        .select(col("v"), (col("t") + expr("85 * s div 100")).as("r"))
      i += 1
      if (i < iterations) ranks = Materialize(ranks)
    }
    val out = Materialize(ranks)
    edDeg.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** Bounded k-core peel (Seidman, "Network structure and minimum degree",
    * Social Networks '83; the Batagelj–Zaveršnik peeling formulation run
    * breadth-synchronously): `rounds` iterations of "drop every node with
    * degree < k, restrict edges to survivors", over the undirected
    * simple graph. With enough rounds this converges to the exact k-core;
    * the BOUNDED round count is the gated contract (the pagerank posture:
    * deterministic at any round count, so the oracle unrolls the same
    * algebra as chained CTEs). Returns (v, deg) over the subgraph after
    * the last peel — a row's deg may still be < k if unconverged (it
    * would be peeled next round); isolated nodes drop out with their
    * edges on both engines.
    *
    * Scale shape: each round is one node-sized hash-agg (degrees, map-side
    * partial) + two survivor joins keyed on the edge endpoints — the
    * survivor set is node-sized, so AQE broadcasts it against the
    * edge-sized relation once the frontier materializes (every round, as
    * in [[pageRank]]). Nothing global, no windows; the peel is monotone
    * so each round's edge relation only shrinks. */
  def kCoreMembers(edges: DataFrame, srcCol: Column, dstCol: Column,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("v")).union(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
    // materialize the INITIAL canonical edge set too (round-11): round 1
    // references it three times (degree census + both survivor joins), each
    // otherwise replaying the caller's edge construction — the same
    // multi-reference replay triangleStats measured at 2× of the kernel
    var e = Materialize(canonicalEdges(edges, srcCol, dstCol))
    var i = 0
    while (i < rounds) {
      val keep = degrees(e).filter(col("deg") >= k).select("v")
      e = e.join(keep.withColumnRenamed("v", "a"), "a")
        .join(keep.withColumnRenamed("v", "b"), "b")
        .select("a", "b")
      i += 1
      if (i < rounds) e = Materialize(e)
    }
    degrees(e)
  }

  /** Canonical undirected simple edges (a < b, distinct, no loops) plus the
    * symmetric closure both iterative kernels below iterate over. */
  private def symmetric(edges: DataFrame, srcCol: Column, dstCol: Column): DataFrame = {
    val und = canonicalEdges(edges, srcCol, dstCol)
    // deliberately the UNION form, not an explode-based one-pass
    // symmetrization (round-11 tried it): the kernels that iterate over this
    // relation persist it and every round reads the CACHED partitions — the
    // union's two branches double the cached partition count, and the
    // explode variant measurably starved the round loops (bfs +25%,
    // label_prop +45%, modularity +25% at sf0.1) while saving only one
    // dedup-agg pass at materialization. resolveCanonicalStars, whose rounds
    // re-shuffle per round instead of re-reading one cached relation, keeps
    // the explode form — measured faster there.
    und.union(und.select(col("b").as("a"), col("a").as("b")))
  }

  /** Bounded multi-source BFS: exact hop distance from a seed set over the
    * undirected simple graph, frontier-synchronous, at most `maxRounds`
    * hops (the bounded-round contract shared with [[pageRank]] /
    * [[kCoreMembers]]: deterministic at any bound, so the oracle replays
    * the identical algebra — a depth-bounded recursive reachability CTE
    * taking min hop per node). Returns (v, dist) for every node reached
    * within the bound; seeds outside the node set are ignored.
    *
    * Scale shape: the classic frontier formulation — each round joins the
    * edge relation against the CURRENT FRONTIER only (node-sized, shrinks
    * as the ball saturates; AQE broadcasts it once materialized), then
    * anti-joins the visited set to keep first discoveries. Work per round
    * is O(edges incident to the frontier), total O(m + n) like the
    * sequential algorithm — never rounds × m. The visited set is a union
    * of per-round materialized frontiers, so its lineage is flat and the
    * anti-join probes a node-sized table. Nothing global, nothing
    * collects. */
  def bfsDistances(edges: DataFrame, srcCol: Column, dstCol: Column,
      seeds: DataFrame, seedCol: Column, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val sym = symmetric(edges, srcCol, dstCol).persist(StorageLevel.MEMORY_AND_DISK)
    // symmetric ⇒ every node appears as a source endpoint
    var dist = Materialize(sym.select(col("a").as("v")).distinct()
      .join(seeds.select(seedCol.as("v")).distinct(), Seq("v"), "left_semi")
      .select(col("v"), lit(0L).as("dist")))
    var frontier = dist.select("v")
    var i = 0
    while (i < maxRounds) {
      val nxt = Materialize(sym.join(frontier.withColumnRenamed("v", "a"), "a")
        .select(col("b").as("v")).distinct()
        .join(dist, Seq("v"), "left_anti")
        .select(col("v"), lit(i + 1L).as("dist")))
      dist = dist.union(nxt)
      frontier = nxt.select("v")
      i += 1
    }
    sym.unpersist(blocking = false)
    dist
  }

  /** Synchronous label propagation (Raghavan/Albert/Kumara, "Near linear
    * time algorithm to detect community structures", Phys. Rev. E '07),
    * determinized: every node starts labeled with its own id; each round
    * every node simultaneously adopts the most frequent label among its
    * neighbors, ties broken by SMALLEST label. The fixed round count is
    * the gated contract (synchronous LPA can oscillate on bipartite
    * structures, so a bounded, deterministic unroll — not convergence — is
    * the only oracle-able form; the oracle chains the identical
    * count/argmax rounds as CTEs). Returns (v, lab) after `rounds`.
    *
    * Scale shape: one edge-keyed equi-join (labels onto neighbor
    * endpoints) + one (v, lab) hash-count + one node-keyed argmax per
    * round — all partial-aggregatable, nothing global. The argmax is
    * `max_by` over (count, −label): within a node the (count, −label)
    * pairs are DISTINCT (one row per label), so the pick is total-order
    * deterministic with no window sort. Label tables stay node-sized and
    * materialize every round, as in [[pageRank]], so AQE broadcasts them
    * into the edge join. */
  def labelPropagation(edges: DataFrame, srcCol: Column, dstCol: Column,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val sym = symmetric(edges, srcCol, dstCol).persist(StorageLevel.MEMORY_AND_DISK)
    var lab = sym.select(col("a").as("v")).distinct()
      .select(col("v"), col("v").as("lab"))
    var i = 0
    while (i < rounds) {
      val nbr = sym.join(lab.withColumnRenamed("v", "b"), "b")
        .groupBy(col("a").as("v"), col("lab"))
        .agg(count(lit(1)).as("c"))
      lab = nbr.groupBy("v")
        .agg(max_by(col("lab"), struct(col("c"), (-col("lab")).as("nl")))
          .as("lab"))
      i += 1
      if (i < rounds) lab = Materialize(lab)
    }
    val out = Materialize(lab)
    sym.unpersist(blocking = false)
    out
  }

  /** Link prediction by the resource-allocation index (Zhou/Lü/Zhang,
    * "Predicting missing links via local information", Eur. Phys. J. B
    * '09): for every non-adjacent pair (a, b), RA(a,b) =
    * Σ_{z ∈ Γ(a)∩Γ(b)} 1/deg(z), here integer-scaled as
    * `Σ (scale div deg(z))` so the ranking is engine-exact (no float —
    * the [[pageRank]] discipline). Also emits the common-neighbor count.
    * Returns the top `k` candidate pairs ordered by
    * (score desc, a asc, b asc) — a strict total order (pairs are unique),
    * so the cut is deterministic on any engine.
    *
    * Scale shape: wedge enumeration at each center z — one self-join of
    * the symmetric edge relation keyed on the center, each unordered
    * endpoint pair kept once (x < y). Wedge volume is Σ deg², the honest
    * cost of common-neighbor scoring; on hub-capped input graphs (the
    * [[coOccurrenceEdges]] contract) degrees are bounded, which is the
    * 100 TB lever. Scores aggregate at candidate-pair cardinality, known
    * edges drop behind an anti-join on the canonical pair, and the top-k
    * is a TakeOrdered over the aggregated (output-bound) relation — no
    * global sort of the wedge stream. */
  def linkPredictRA(edges: DataFrame, srcCol: Column, dstCol: Column,
      k: Int, scale: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the symmetric closure is referenced three times (deg, the neighbor
    // relation, the known-edge anti-join) — materialize it once
    val sym = Materialize(symmetric(edges, srcCol, dstCol))
    val deg = sym.groupBy(col("a").as("z")).agg(count(lit(1)).as("dz"))
    val nb = sym.select(col("a").as("z"), col("b").as("x")).join(deg, "z")
    val wedges = nb
      .join(nb.select(col("z"), col("x").as("y")), "z")
      .filter(col("x") < col("y"))
    val scored = wedges.groupBy(col("x").as("a"), col("y").as("b"))
      .agg(sum(expr(s"${scale}L div dz")).as("ra_score"),
        count(lit(1)).as("common_nbrs"))
    val und = sym.filter(col("a") < col("b"))
    scored.join(und, Seq("a", "b"), "left_anti")
      .orderBy(col("ra_score").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Bounded single/multi-source shortest paths over a WEIGHTED directed
    * edge list — Bellman-Ford rounds as declarative relaxation (the
    * Pregel SSSP superstep; Malewicz et al. SIGMOD '10): after round h,
    * `dist(v)` is exactly the minimum cost over paths of ≤ h edges from
    * the seed set, so a fixed `maxRounds` bound is deterministic on any
    * engine and the oracle replays the identical recurrence. Integer
    * weights only (the lane's no-float discipline); negative weights are
    * legal Bellman-Ford but callers wanting convergence semantics should
    * ensure non-negative costs and maxRounds ≥ graph diameter.
    *
    * Per round: one edge-keyed join against the CURRENT distance table +
    * one node-keyed min-agg over (previous ∪ relaxed) — edge-sized
    * exchanges, distance table node-sized (materialized every round, as in
    * [[pageRank]], so AQE broadcasts it). Unreached nodes are absent, not ∞ rows.
    * Output: (v, dist) BIGINTs for every node reached within
    * `maxRounds` hops. */
  def sssp(edges: DataFrame, srcCol: Column, dstCol: Column, wCol: Column,
      seeds: DataFrame, seedCol: Column, maxRounds: Int): DataFrame = {
    require(maxRounds >= 0, "maxRounds must be >= 0")
    val ed = edges.select(srcCol.as("src"), dstCol.as("dst"),
        wCol.cast("long").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = ed.select(col("src").as("v"))
      .union(ed.select(col("dst").as("v"))).distinct()
    var dist = Materialize(seeds.select(seedCol.as("v")).distinct()
      .join(nodes, "v") // off-graph seeds are ignored (cannot reach)
      .select(col("v"), lit(0L).as("dist")))
    for (h <- 1 to maxRounds) {
      val relaxed = ed.join(dist.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy("v").agg(min(col("dist")).as("dist"))
      if (h < maxRounds) dist = Materialize(dist)
    }
    val out = Materialize(dist)
    ed.unpersist(blocking = false)
    out
  }

  /** Neighborhood function N(h) = Σᵥ |ball(v, h)| for h = 0..maxHops via
    * per-node mergeable distinct sketches — the ANF/HyperANF pattern
    * (Palmer/Gibbons/Faloutsos KDD '02; Boldi/Rosa/Vigna WWW '11), the
    * scalable effective-diameter estimator: each round every node unions
    * its neighbors' ball sketches into its own, so after h rounds the
    * sketch covers exactly the ≤h-hop ball, and the census row is one
    * sum over node-sized state. Per round: one edge-keyed join + one
    * node-keyed sketch-merge agg (the pageRank exchange shape) — never
    * the quadratic pair relation the naive all-pairs BFS would shuffle.
    *
    * KMV sketches here (k-min-values): a sketch physically stores
    * min(|set|, k) hashes, so per-node state is O(min(ball, k)) and the
    * estimate is EXACT below k — pick k ≥ |V| (gate scale) for an exact
    * census, or small k at 100 TB where HyperANF's whole point is
    * register-sized state and a guaranteed relative error. Edges are
    * treated undirected (symmetrized); isolated self-loops drop. Output:
    * (hop, reached_pairs) BIGINTs, hop = 0..maxHops. */
  def neighborhoodFunction(edges: DataFrame, srcCol: Column, dstCol: Column,
      maxHops: Int, k: Int = 2048): DataFrame = {
    import graft.functions.KmvSetOps._
    require(maxHops >= 0, "maxHops must be >= 0")
    val sym = symmetric(edges, srcCol, dstCol).persist(StorageLevel.MEMORY_AND_DISK)
    var sk = Materialize(sym.select(col("a").as("v")).distinct()
      .groupBy("v").agg(kmvSketch(xxhash64(col("v")), k).as("sk")))
    def census(h: Int, s: DataFrame): DataFrame =
      s.agg(sum(kmvEstimate(col("sk"))).as("reached_pairs"))
        .select(lit(h.toLong).as("hop"), col("reached_pairs"))
    var out = census(0, sk)
    for (h <- 1 to maxHops) {
      val nbr = sym.join(sk.withColumnRenamed("v", "b"), "b")
        .groupBy(col("a").as("v")).agg(kmvMerge(col("sk")).as("nsk"))
      sk = sk.join(nbr, Seq("v"), "left")
        .select(col("v"), when(col("nsk").isNull, col("sk"))
          .otherwise(kmvUnion(col("sk"), col("nsk"))).as("sk"))
      sk = Materialize(sk)
      out = out.unionAll(census(h, sk))
    }
    sym.unpersist(blocking = false)
    out
  }

  /** HITS hubs & authorities (Kleinberg, "Authoritative sources in a
    * hyperlinked environment", JACM '99) as the UNNORMALIZED fixed-round
    * iterate, all-integer:
    *
    *   h₀(v) = 1
    *   aᵢ(v) = Σ_{(u,v)∈E} hᵢ₋₁(u)     hᵢ(v) = Σ_{(v,w)∈E} aᵢ(w)
    *
    * Kleinberg's per-round L2 normalization divides every score by the
    * same scalar, so for any fixed round count the unnormalized iterate
    * is RANKING-equivalent to the normalized one — and being pure integer
    * sums it is bit-exact on any engine (the oracle unrolls the same
    * rounds as CTEs; no float, no division, no truncation anywhere).
    * Magnitude bound: scores grow ≤ ×(max-degree)² per round — with the
    * hub-capped graphs this lane feeds (deg ≤ ~32) three rounds stay
    * far inside 64 bits; for higher rounds or fat hubs switch to the
    * normalized DECIMAL form. Per round: two edge-keyed joins + two
    * node-keyed hash-aggs (the pageRank exchange shape). Unlike the other
    * iterative kernels HITS persists and materializes nothing: the result
    * is one lazy, fully replayable plan (at the 2 rounds `q_hits` runs it
    * beat per-round score materialization, 3.3 → 2.1 s at sf0.1; deeper
    * iterates would want the [[pageRank]] rule). Nodes missing
    * an in- (out-) edge side carry score 0, not null. Output:
    * (v, authority, hub) BIGINTs for every node. */
  def hits(edges: DataFrame, srcCol: Column, dstCol: Column,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val ed = edges.select(srcCol.as("src"), dstCol.as("dst"))
    val nodes = ed.select(col("src").as("v"))
      .union(ed.select(col("dst").as("v"))).distinct()
    // intermediate score tables stay SPARSE (only nodes actually reached):
    // a missing row is score 0, and 0 contributes nothing to the next
    // round's sum, so the inner join computes the identical recurrence —
    // the node-completion left-join happens exactly once, on the output
    var h = nodes.select(col("v"), lit(1L).as("h"))
    var a: DataFrame = null
    for (i <- 1 to rounds) {
      a = ed.join(h.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v")).agg(sum(col("h")).as("a"))
      h = ed.join(a.withColumnRenamed("v", "dst"), "dst")
        .groupBy(col("src").as("v")).agg(sum(col("a")).as("h"))
    }
    nodes
      .join(a, Seq("v"), "left").join(h, Seq("v"), "left")
      .select(col("v"), coalesce(col("a"), lit(0L)).as("authority"),
        coalesce(col("h"), lit(0L)).as("hub"))
  }

  /** Newman modularity of a node partition in integer parts-per-million
    * (Newman & Girvan, "Finding and evaluating community structure in
    * networks", Phys. Rev. E '04):
    *
    *   Q = Σ_c e_c/m − Σ_c (d_c/2m)²  =  (4m·Σe_c − Σd_c²) / 4m²
    *
    * over the undirected simple graph (m edges, e_c within-community
    * edges, d_c community degree sum), emitted as one row of BIGINTs:
    * (n_communities, m_edges, within_edges, q_ppm) with
    * `q_ppm = scale·(4m·Σe_c − Σd_c²) div 4m²` — truncating integer
    * division on both engines, Q < 0 allowed (a partition worse than
    * random). 64-bit bound: the numerator is ≤ 4·scale·m², so the ppm
    * formula is exact for m ≲ 1.5×10⁶ edges at scale 10⁶; for
    * billion-edge graphs lift the two products to DECIMAL(38,0) (the
    * output stays BIGINT) or drop scale — the STRUCTURE (three node/edge-
    * sized hash-aggs + two label joins) is scale-ready as-is.
    *
    * `labels` is any (vertex → label) table, e.g. [[labelPropagation]]'s
    * output — modularity is the standard quality read over it. Nodes
    * missing from `labels` would null-drop; callers pass a total
    * labeling (LPA's output labels every node of the same graph). */
  def modularityPpm(edges: DataFrame, srcCol: Column, dstCol: Column,
      labels: DataFrame, vCol: Column, labCol: Column,
      scale: Long = 1000000L): DataFrame = {
    // the canonical undirected edge set is referenced THREE times (m census,
    // the label join, the degree census) — materialize it once;
    // unmaterialized, each reference replays the caller's edge
    // construction plus this dedup exchange
    val und = Materialize(canonicalEdges(edges, srcCol, dstCol))
    val lab = labels.select(vCol.as("v"), labCol.as("lab"))
    val mm = und.agg(count(lit(1)).as("m"))
    // NO broadcast hint on the labels table: it is NODE-sized, and a forced
    // broadcast caps the operator at the driver/executor broadcast limit
    // (billion-node graphs would fail the job outright). AQE broadcasts it
    // when it measures small and falls back to a shuffled hash join when it
    // doesn't — the same adaptive contract the label-propagation kernel uses.
    val lj = und
      .join(lab.select(col("v").as("a"), col("lab").as("la")), "a")
      .join(lab.select(col("v").as("b"), col("lab").as("lb")), "b")
    val sec = lj.filter(col("la") === col("lb"))
      .agg(count(lit(1)).as("sec"))
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val sd = deg.join(lab, "v")
      .groupBy("lab").agg(sum(col("d")).as("dc"))
      .agg(sum(expr("dc * dc")).as("sd2"))
    val nc = lab.agg(count_distinct(col("lab")).as("nc"))
    nc.crossJoin(mm).crossJoin(sec).crossJoin(sd)
      .select(col("nc").as("n_communities"), col("m").as("m_edges"),
        col("sec").as("within_edges"),
        expr(s"$scale * (4 * m * sec - sd2) div (4 * m * m)").as("q_ppm"))
  }

  /** Co-occurrence (co-purchase) edge list from a (group, item) relation:
    * CANONICAL (src < dst) pairs of distinct items sharing a group — the
    * graph-construction half of the triangle/components queries
    * ([[triangleStats]] symmetrizes + dedups internally, so canonical
    * pairs are the lean feed).
    *
    * Per-group edge volume is k² on basket size k — the hub hazard that
    * breaks clique expansion at scale (one million-item group emits 10¹²
    * edges) — so the basket is CAPPED at `maxBasket` items per group,
    * selected deterministically as the lowest-`maxBasket` item ids
    * (stable under re-execution and partitioning; an arbitrary-k sample
    * would make the census non-reproducible). The cap is part of the
    * query contract: groups at or below the cap contribute their exact
    * clique (on TPC-H every order has ≤7 parts, so any cap ≥7 leaves the
    * census exact); above it, the lowest-id sub-clique. Bounded guarantee:
    * ≤ maxBasket·(maxBasket−1)/2 pairs per group, and the `collect_set`
    * buffer holds one group's distinct items (the input contract; cap
    * that upstream with a quantity predicate if a source can produce
    * unbounded groups).
    *
    * Plan shape: the cap is a row_number window over (group, item asc) —
    * a group-keyed sort, NOT a collect_set basket (an ObjectHashAggregate
    * basket + pair explode broke whole-stage codegen and measured 10.1 s
    * vs this form's 6.3 s for the full sf0.1 triangle census; the capped
    * window join matches the UNCAPPED join's 6.2 s, i.e. the cap is
    * free) — followed by the codegen'd self-equi-join on the group key,
    * kept to canonical src < dst pairs. The window sort's per-group state
    * is one group's items (the same bound the basket buffer had); the cap
    * then bounds what the join can emit. */
  def coOccurrenceEdges(df: DataFrame, groupCol: Column, itemCol: Column,
      maxBasket: Int = 32): DataFrame = {
    require(maxBasket >= 2, s"maxBasket must be >= 2, got $maxBasket")
    val ranked = df.select(groupCol.as("ok"), itemCol.as("pk")).distinct()
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("ok").orderBy("pk")))
      .filter(col("rk") <= maxBasket).drop("rk")
    ranked.select(col("ok"), col("pk").as("src"))
      .join(ranked.select(col("ok"), col("pk").as("dst")), "ok")
      .filter(col("src") < col("dst"))
      .select("src", "dst")
  }

  /** Incremental connected components — the GRAPH lane's IVM member, the
    * reference's versioned-mutation philosophy applied to a derived graph
    * structure (like the stored LSH/IVF indexes, which gained append and
    * delete folds): a stored min-label table absorbs a batch of NEW EDGES
    * at O(batch + touched-label rewrite) cost instead of recomputing
    * components over the full edge history.
    *
    * How: batch endpoints CANONICALIZE against the stored labels (the
    * stored table is scanned once, column-pruned, semi-joined to the
    * broadcast batch id set — the ivfAppend guard shape; labels never
    * shuffle), edges whose endpoints already share a canonical drop out,
    * and the surviving BATCH-SIZED canonical edge set runs the same
    * star-contraction kernel as the full computation
    * ([[Dedup.resolveCanonicalStars]] — min-label convention). The
    * resulting merge map (old canonical → new min) is batch-sized, so the
    * stored table updates by one broadcast-hash join: a scan-local
    * projection, no exchange of the node-sized table. New nodes enter
    * with their contracted labels.
    *
    * Correctness: stored labels are min-of-component by induction (the
    * kernel's convention), canonicals are always MEMBERS of their stored
    * component, and a new node's id can therefore never collide with a
    * stored canonical — so coalesce(merge, old) is the global min of the
    * merged component and the maintained table EQUALS the recompute over
    * edges ∪ batch (oracle-gated as `q_components_maintain`).
    *
    * Redelivery contract: IDEMPOTENT — replayed edges canonicalize to
    * equal endpoints and vanish before the contraction (spec-pinned), so
    * no fence is needed: edge ADDITION is the monotone direction of this
    * view, the k-min/minmax class. Edge DELETION is the textbook
    * non-incrementalizable direction (removing a bridge splits a
    * component only a rescan can re-derive — same standing as
    * cdc_minmax_maintain's retraction hazard). */
  def maintainComponents(labels: DataFrame, vCol: Column, labCol: Column,
      newEdges: DataFrame, srcCol: Column, dstCol: Column): DataFrame = {
    val lab = labels.select(vCol.as("v"), labCol.as("canonical_id"))
    val e = newEdges.select(srcCol.as("a"), dstCol.as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val ids = e.select(col("a").as("v")).union(e.select(col("b").as("v"))).distinct()
    // stored labels restricted to batch endpoints: one column-pruned pass
    // over the node-sized table against the broadcast id set → batch-sized
    val touched = lab.join(broadcast(ids), Seq("v"), "left_semi")
    val ta = touched.select(col("v").as("a"), col("canonical_id").as("ca"))
    val tb = touched.select(col("v").as("b"), col("canonical_id").as("cb"))
    val ce = e.join(broadcast(ta), Seq("a"), "left")
      .join(broadcast(tb), Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("a_id"),
        coalesce(col("cb"), col("b")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    // contract the batch-sized canonical edge set; (id → new canonical)
    // covers exactly the old canonicals and new nodes the batch touches
    val merged = graft.operators.Dedup.resolveCanonicalStars(ce)
    val m = merged.select(col("id").as("canonical_id"), col("canonical_id").as("__nc"))
    val updated = lab.join(broadcast(m), Seq("canonical_id"), "left")
      .select(col("v"), coalesce(col("__nc"), col("canonical_id")).as("canonical_id"))
    // labels for nodes the stored table has never seen
    val newNodes = ids.join(broadcast(touched.select("v")), Seq("v"), "left_anti")
    val newLabels = merged.select(col("id").as("v"), col("canonical_id"))
      .join(broadcast(newNodes), Seq("v"), "left_semi")
    updated.unionByName(newLabels)
  }
}
