package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** Integer-exact PageRank ([[graft.operators.Graph.pageRank]]): hand-
  * computed ranks on a toy star graph, rank conservation properties, and
  * the no-float discipline (every value a BIGINT). */
class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("two rounds on the 3-node star match hand-computed integer ranks") {
    // 1↔2, 1↔3: deg(1)=2, deg(2)=deg(3)=1; scale 1e6, N=3
    // r0 = 333333 each; base = 150000 div 3 = 50000
    // r1(1) = 50000 + 85·(333333+333333) div 100 = 616666
    // r1(2) = r1(3) = 50000 + 85·166666 div 100 = 191666
    // r2(1) = 50000 + 85·(191666+191666) div 100 = 375832
    // r2(2) = r2(3) = 50000 + 85·(616666 div 2) div 100 = 312083
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val r = Graph.pageRank(edges, col("src"), col("dst"),
        iterations = 2, scale = 1000000L)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 375832L, 2L -> 312083L, 3L -> 312083L))
  }

  test("hub accumulates rank; sink leaks it (unnormalized contract)") {
    // chain 1→2→3 plus 3→1: a cycle — after some rounds all ranks equal
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(cyc, col("src"), col("dst"), iterations = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // symmetric cycle: every node identical at every round
    assert(r.values.toSet.size == 1, s"cycle must stay uniform: $r")
    // star: the hub must outrank the leaves strictly
    val star = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val rs = Graph.pageRank(star, col("src"), col("dst"), iterations = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(rs(1L) > rs(2L) && rs(2L) == rs(3L) && rs(3L) == rs(4L))
  }

  test("triangleStats: K4 + pendant — exact counts, duplicate/reversed " +
      "edges collapse, coefficient is floor-div ppm") {
    // K4 on {1,2,3,4} (4 triangles) plus pendant 1-5. Degrees 4,3,3,3,1 →
    // wedges Σd(d−1)/2 = 6+3·3+0 = 15; coeff = 3·4/15 = 0.8 → 800000 ppm.
    // Edges arrive duplicated and in both directions: und must collapse.
    val e = for {
      (a, b) <- Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),(1L,5L))
      d <- Seq((a, b), (b, a), (a, b)) // dup + reverse
    } yield d
    val r = Graph.triangleStats(e.toDF("src", "dst"), col("src"), col("dst"))
      .collect()(0)
    assert(r.getLong(0) == 4L, s"triangles: $r")
    assert(r.getLong(1) == 15L, s"wedges: $r")
    assert(r.getLong(2) == 800000L, s"ppm: $r")
    // triangle-free graph (star): zero triangles, nonzero wedges, 0 ppm
    val star = Seq((1L,2L),(1L,3L),(1L,4L)).toDF("src", "dst")
    val r2 = Graph.triangleStats(star, col("src"), col("dst")).collect()(0)
    assert(r2.getLong(0) == 0L && r2.getLong(1) == 3L && r2.getLong(2) == 0L)
  }

  test("maintainComponents: merges, attachments, new components — equals " +
      "recompute; replay is a no-op (the monotone IVM contract)") {
    import graft.operators.Dedup
    // stored graph: component {1,2,3} (canonical 1) and {10,11} (canonical
    // 10), plus isolated-in-label node 50 (its own component)
    val storedEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (50L, 51L))
      .toDF("a_id", "b_id")
    val stored = Dedup.resolveCanonicalStars(storedEdges)
    // batch: a BRIDGE merging the two components (3-10), a new node
    // attaching to a stored component (11-30), a brand-new pair (20,21),
    // an already-merged edge (1-2, must vanish at canonicalization), and
    // a self-loop (7,7, dropped)
    val batch = Seq((3L, 10L), (11L, 30L), (20L, 21L), (1L, 2L), (7L, 7L))
      .toDF("src", "dst")
    val got = Graph.maintainComponents(stored, col("id"), col("canonical_id"),
        batch, col("src"), col("dst"))
      .as[(Long, Long)].collect().toMap
    // recompute over stored ∪ batch (self-loop-free)
    val want = Dedup.resolveCanonicalStars(
        storedEdges.unionByName(batch.filter(col("src") =!= col("dst"))
          .select(col("src").as("a_id"), col("dst").as("b_id"))))
      .as[(Long, Long)].collect().toMap
    assert(got == want, s"got $got want $want")
    // the merged component took the GLOBAL min label
    assert(got(11L) == 1L && got(30L) == 1L && got(3L) == 1L)
    assert(got(20L) == 20L && got(21L) == 20L)
    assert(got(50L) == 50L && got(51L) == 50L)
    // replay: same batch against the maintained table — every edge
    // canonicalizes to equal endpoints and vanishes; labels unchanged
    val gotDf = Graph.maintainComponents(stored, col("id"), col("canonical_id"),
      batch, col("src"), col("dst"))
    val replay = Graph.maintainComponents(gotDf, col("v"), col("canonical_id"),
        batch, col("src"), col("dst"))
      .as[(Long, Long)].collect().toMap
    assert(replay == want, "replayed batch must be a no-op")
  }

  test("RELIABLE checkpoint() drives the iterative kernels: identical output, " +
      "lineage actually cut to checkpoint files") {
    // the cluster-safety contract, exercised for real: with a checkpoint
    // dir on the SparkContext (the deployment setting of a cluster that
    // must survive executor loss — localCheckpoint blocks are
    // non-replayable) pageRank and bfsDistances checkpoint reliably.
    // Asserted: (1) outputs are bit-identical to the local path's; (2)
    // checkpoint FILES exist; (3) the results' RDD lineage roots in a
    // ReliableCheckpointRDD scan, where the local path's roots in a
    // LocalCheckpointRDD.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("v")
    def pr = Graph.pageRank(edges, col("src"), col("dst"),
      iterations = 4, scale = 1000000L)
    def bfs = Graph.bfsDistances(edges, col("src"), col("dst"),
      seeds, col("v"), maxRounds = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val prLocal = pr
    val lineage = prLocal.rdd.toDebugString
    assert(lineage.contains("LocalCheckpointRDD") &&
      !lineage.contains("ReliableCheckpointRDD"), lineage)
    val (prWant, bfsWant) = (rows(prLocal), rows(bfs))
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    try {
      val prReliable = pr
      assert(rows(prReliable) == prWant)
      assert(prReliable.rdd.toDebugString.contains("ReliableCheckpointRDD"),
        "reliable-checkpointed plan must root in checkpoint files")
      val bfsReliable = bfs
      assert(rows(bfsReliable) == bfsWant)
      assert(bfsReliable.rdd.toDebugString.contains("ReliableCheckpointRDD"))
      val written = new java.io.File(ckDir).listFiles()
      assert(written != null && written.nonEmpty,
        "checkpoint dir must hold written RDD state")
    } finally {
      // every later suite in this JVM must take the local path again
      org.apache.spark.CheckpointDirs.unset(spark.sparkContext)
      try {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(ckDir)).deleteRecursively(); ()
      } catch { case _: Throwable => () }
    }
  }

  test("kCoreMembers: hand-computed peel — pendant chain strips round by " +
      "round, the triangle survives as the 2-core; bounded rounds expose " +
      "the unconverged frontier") {
    // triangle {1,2,3} + chain 3-4-5. k=2 peel: round 1 drops 5 (deg 1),
    // round 2 drops 4 (deg fell to 1), round 3 fixpoint = the triangle.
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    def run(rounds: Int) = Graph.kCoreMembers(g, col("src"), col("dst"),
        k = 2, rounds = rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // after ONE round: 5 gone, 4 still present with its not-yet-peeled
    // degree 1 — the documented bounded-round contract
    assert(run(1) == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
    // converged: exactly the triangle, every degree >= k
    val conv = run(3)
    assert(conv == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(run(5) == conv, "fixpoint is stable under extra rounds")
    // duplicate/reversed edges collapse before peeling (simple graph)
    val noisy = (g.collect().map(r => (r.getLong(0), r.getLong(1))) ++
      Seq((2L, 1L), (3L, 2L))).toSeq.toDF("src", "dst")
    assert(Graph.kCoreMembers(noisy, col("src"), col("dst"), 2, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == conv)
  }

  test("coOccurrenceEdges: exact clique at or below the cap; above it the " +
      "deterministic lowest-maxBasket sub-clique (hub bound)") {
    // order 10: basket {5,3,9} (≤ cap) → full 3-clique, both orientations;
    // order 20: basket {8,6,7,2,4} with maxBasket=3 → lowest ids {2,4,6}
    val li = Seq((10L, 5L), (10L, 3L), (10L, 9L), (10L, 3L), // dup row
      (20L, 8L), (20L, 6L), (20L, 7L), (20L, 2L), (20L, 4L))
      .toDF("ok", "pk")
    val e = Graph.coOccurrenceEdges(li, col("ok"), col("pk"), maxBasket = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clique10 = for { a <- Set(3L, 5L, 9L); b <- Set(3L, 5L, 9L) if a < b }
      yield (a, b)
    val clique20 = for { a <- Set(2L, 4L, 6L); b <- Set(2L, 4L, 6L) if a < b }
      yield (a, b)
    assert(e == clique10 ++ clique20, s"got $e")
    // per-group bound: ≤ maxBasket·(maxBasket−1)/2 canonical pairs
    assert(e.size == 6)
    assert(e.forall { case (a, b) => a < b }, "pairs must be canonical")
    // a cap at/above every basket size changes nothing (TPC-H contract)
    val full = Graph.coOccurrenceEdges(li, col("ok"), col("pk"), maxBasket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clique20full = for {
      a <- Set(2L, 4L, 6L, 7L, 8L); b <- Set(2L, 4L, 6L, 7L, 8L) if a < b
    } yield (a, b)
    assert(full == clique10 ++ clique20full)
    // triangleStats symmetrizes internally: canonical pairs produce the
    // same census as a both-orientations feed (K3 on order 10 at cap 3)
    val stats = Graph.triangleStats(
      Graph.coOccurrenceEdges(li, col("ok"), col("pk"), maxBasket = 3),
      col("src"), col("dst")).collect()(0)
    assert(stats.getLong(0) == 2L, s"two 3-cliques -> 2 triangles: $stats")
  }

  test("rank column is BIGINT — the no-float discipline") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val df = Graph.pageRank(edges, col("src"), col("dst"), iterations = 1)
    assert(df.schema("r").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("bfsDistances: exact hops on a chain + fork; bound truncates; " +
      "off-graph seeds ignored") {
    // chain 1-2-3-4-5 with fork 3-6; seeds {1, 99} (99 not in the graph)
    val e = Seq((1L,2L),(2L,3L),(3L,4L),(4L,5L),(3L,6L)).toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("s")
    def run(r: Int) = Graph.bfsDistances(e, col("src"), col("dst"),
        seeds, col("s"), maxRounds = r)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(run(6) == Map(1L->0L, 2L->1L, 3L->2L, 4L->3L, 6L->3L, 5L->4L))
    // bound 2: nodes at distance > 2 are absent, not misreported
    assert(run(2) == Map(1L->0L, 2L->1L, 3L->2L))
    // multi-source: min over seeds, discovered once (no duplicate rows)
    val ms = Graph.bfsDistances(e, col("src"), col("dst"),
        Seq(1L, 5L).toDF("s"), col("s"), maxRounds = 6).collect()
    assert(ms.length == ms.map(_.getLong(0)).distinct.length)
    assert(ms.map(x => x.getLong(0) -> x.getLong(1)).toMap ==
      Map(1L->0L, 5L->0L, 2L->1L, 4L->1L, 3L->2L, 6L->3L))
  }

  test("labelPropagation: majority adoption with smallest-label ties; " +
      "two cliques keep separate labels") {
    // two triangles {1,2,3}, {7,8,9} joined by bridge 3-7: after round 1
    // every node holds the min label among its neighbors (all counts are
    // 1 → tie rule picks smallest). Hand-check round 1:
    // 1:{2,3}→2, 2:{1,3}→1, 3:{1,2,7}→1, 7:{8,9,3}→3, 8:{7,9}→7, 9:{7,8}→7
    val e = Seq((1L,2L),(2L,3L),(1L,3L),(7L,8L),(8L,9L),(7L,9L),(3L,7L))
      .toDF("src", "dst")
    val r1 = Graph.labelPropagation(e, col("src"), col("dst"), rounds = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r1 == Map(1L->2L, 2L->1L, 3L->1L, 7L->3L, 8L->7L, 9L->7L))
    // majority beats smaller label: 4 connected to {5, 6, 6'}? — model
    // multiplicity via distinct nodes: 4-5, 4-6, 4-7 after relabeling so
    // that two neighbors share a label at round 2. Simpler direct check:
    // star center 10 with leaves 11,12,13 and leaf-leaf edge 12-13.
    // Round 1: 10:{11,12,13}→11; 11:{10}→10; 12:{10,13}→10; 13:{10,12}→10
    // Round 2: 10 sees labels {10,10,10}→10 (majority 3 beats nothing)
    val st = Seq((10L,11L),(10L,12L),(10L,13L),(12L,13L)).toDF("src","dst")
    val r2 = Graph.labelPropagation(st, col("src"), col("dst"), rounds = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r2(10L) == 10L, s"majority must win at the center: $r2")
  }

  test("modularityPpm: hand-computed Q on bridged triangles; perfect " +
      "single community scores exactly zero; worse-than-random negative") {
    // two triangles {1,2,3},{7,8,9} + bridge 3-7, labeled by triangle:
    // m=7, within=6, d_c = 7 and 7, Σd_c² = 98
    // Q = (4·7·6 − 98)/(4·49) = 70/196 → 357142 ppm (truncating)
    val e = Seq((1L,2L),(2L,3L),(1L,3L),(7L,8L),(8L,9L),(7L,9L),(3L,7L))
      .toDF("src", "dst")
    val lab = Seq((1L,1L),(2L,1L),(3L,1L),(7L,7L),(8L,7L),(9L,7L))
      .toDF("v", "lab")
    val r = Graph.modularityPpm(e, col("src"), col("dst"),
      lab, col("v"), col("lab")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (2L, 7L, 6L, 357142L), s"$r")
    // everything in one community: Σd_c² = (2m)² and within = m → Q = 0
    val one = lab.select(col("v"), lit(1L).as("lab"))
    val r1 = Graph.modularityPpm(e, col("src"), col("dst"),
      one, col("v"), col("lab")).collect()(0)
    assert(r1.getLong(3) == 0L, s"single community must be exactly 0: $r1")
    // anti-partition (each triangle node split from its own edges):
    // within = 1 (only the bridge), Q < 0
    val anti = Seq((1L,1L),(2L,2L),(3L,3L),(7L,3L),(8L,8L),(9L,9L))
      .toDF("v", "lab")
    val r2 = Graph.modularityPpm(e, col("src"), col("dst"),
      anti, col("v"), col("lab")).collect()(0)
    assert(r2.getLong(2) == 1L && r2.getLong(3) < 0L, s"$r2")
  }

  test("localClustering: hand-computed LCC on bridged triangles; " +
      "bridge endpoints dilute; zero-triangle node included at 0") {
    // triangles {1,2,3},{7,8,9} + bridge 3-7 + pendant path 9-11-12:
    // deg: 1,2,8→2 in-triangle (lcc 10⁶); 3,7→3 (1 tri / 3 wedges →
    // 333333); 9→3 (333333); 11→2 with 0 triangles → 0; 12→deg 1 excluded
    val e = Seq((1L,2L),(2L,3L),(1L,3L),(7L,8L),(8L,9L),(7L,9L),(3L,7L),
      (9L,11L),(11L,12L)).toDF("src", "dst")
    val r = Graph.localClustering(e, col("src"), col("dst"))
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) == ((2L, 1L, 1000000L)) && r(2L) == ((2L, 1L, 1000000L))
      && r(8L) == ((2L, 1L, 1000000L)), s"$r")
    assert(r(3L) == ((3L, 1L, 333333L)) && r(7L) == ((3L, 1L, 333333L))
      && r(9L) == ((3L, 1L, 333333L)), s"$r")
    assert(r(11L) == ((2L, 0L, 0L)), s"zero-triangle node must appear: $r")
    assert(!r.contains(12L), s"degree-1 node has no defined LCC: $r")
  }

  test("sssp: cheaper 2-hop path beats direct edge; round bound truncates; " +
      "multi-source min; off-graph seeds ignored") {
    // 1→2 (10), 2→3 (10), 1→3 (50): true dist(3) = 20 via two hops
    val e = Seq((1L,2L,10L),(2L,3L,10L),(1L,3L,50L)).toDF("src","dst","w")
    val seed1 = Seq(1L).toDF("v")
    def run(rounds: Int, seeds: org.apache.spark.sql.DataFrame) =
      Graph.sssp(e, col("src"), col("dst"), col("w"), seeds, col("v"),
        maxRounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(2, seed1) == Map(1L -> 0L, 2L -> 10L, 3L -> 20L))
    // one round: only the direct relaxations
    assert(run(1, seed1) == Map(1L -> 0L, 2L -> 10L, 3L -> 50L))
    // multi-source takes the min; seed 99 is off-graph and ignored
    val r = run(2, Seq(2L, 99L).toDF("v"))
    assert(r == Map(2L -> 0L, 3L -> 10L), s"$r")
  }

  test("neighborhoodFunction: hand-computed ball census on a path + " +
      "triangle; saturates at component closure") {
    // path 1-2-3-4 and triangle 7-8-9 (disjoint):
    // h=0: 7 singletons = 7
    // h=1: path balls 2,3,3,2 + triangle 3·3 = 10+9 = 19
    // h=2: path 3,4,4,3 + 9 = 23;  h=3: 4,4,4,4 + 9 = 25 (saturated)
    val e = Seq((1L,2L),(2L,3L),(3L,4L),(7L,8L),(8L,9L),(7L,9L))
      .toDF("src", "dst")
    val r = Graph.neighborhoodFunction(e, col("src"), col("dst"),
        maxHops = 4, k = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r == Map(0L -> 7L, 1L -> 19L, 2L -> 23L, 3L -> 25L, 4L -> 25L),
      s"$r")
  }

  test("hits: hand-computed 2-round scores on a bipartite graph; " +
      "building it runs no job and persists nothing") {
    // custs 101,102 → parts 1,2,3: 101→{1,2}, 102→{2,3}
    // a1 = indeg = (1,2,1); h1 = (3,3); a2 = (3,6,3); h2 = (9,9)
    val e = Seq((101L,1L),(101L,2L),(102L,2L),(102L,3L)).toDF("src", "dst")
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    var scores: org.apache.spark.sql.DataFrame = null
    assert(jobsLaunchedBy {
      scores = Graph.hits(e, col("src"), col("dst"), rounds = 2)
    } == 0, "hits is one lazy plan")
    assert(spark.sparkContext.getPersistentRDDs.keySet == cached,
      "hits must persist nothing")
    val r = scores.collect().map(x => x.getLong(0) ->
      ((x.getLong(1), x.getLong(2)))).toMap
    assert(r(1L) == ((3L, 0L)) && r(2L) == ((6L, 0L)) && r(3L) == ((3L, 0L)),
      s"$r")
    assert(r(101L) == ((0L, 9L)) && r(102L) == ((0L, 9L)), s"$r")
  }

  test("linkPredictRA: hand-computed scores on the square + diagonal " +
      "candidates; known edges excluded; k cuts on the total order") {
    // square 1-2-3-4-1: non-edges are the diagonals (1,3) and (2,4),
    // each with two common neighbors of degree 2:
    // ra = 2 · (1000000 div 2) = 1000000, common_nbrs = 2
    val e = Seq((1L,2L),(2L,3L),(3L,4L),(4L,1L)).toDF("src", "dst")
    val r = Graph.linkPredictRA(e, col("src"), col("dst"), k = 10)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSet == Set((1L,3L,1000000L,2L), (2L,4L,1000000L,2L)), s"$r")
    // k=1 cuts deterministically: tie on score → smallest (a, b)
    val top = Graph.linkPredictRA(e, col("src"), col("dst"), k = 1).collect()
    assert(top.length == 1 && top(0).getLong(0) == 1L && top(0).getLong(1) == 3L)
    // adjacent pairs never appear even with many common neighbors (K4)
    val k4 = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L))
      .toDF("src", "dst")
    assert(Graph.linkPredictRA(k4, col("src"), col("dst"), k = 10)
      .collect().isEmpty)
  }
}
