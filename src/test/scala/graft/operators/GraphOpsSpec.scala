package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("walkability truth table (reference graph_construction.py:49-72)") {
    val ways = Seq[(String, String, String, String, Boolean)](
      // (highway, foot, sidewalk, motorroad) -> expected keep
      ("footway", null, null, null, true),          // always-walkable
      (" Footway ", null, null, null, true),        // normalization
      ("primary", null, null, null, false),         // big road, no access
      ("primary", "yes", null, null, true),         // big road + foot
      ("primary", null, "left", null, true),        // big road + sidewalk
      ("primary", "no", "no", null, false),
      ("motorway", "yes", "both", null, false),     // fast road wins
      ("residential", null, null, "yes", false),    // motorroad kills
      ("trunk", null, null, null, false),
      (null, null, null, null, false))
      .zipWithIndex
      .map { case ((h, f, s, m, e), i) => (i, h, f, s, m, e) }
      .toDF("id", "highway", "foot", "sidewalk", "motorroad", "expected")
    val kept = GraphOps.cleanWalkableEdges(ways).select("id").as[Int].collect().toSet
    val expected = ways.filter(col("expected")).select("id").as[Int].collect().toSet
    assert(kept == expected)
  }

  test("symmetrizeDedup: doubles the edge set, drops loops, keeps min weight") {
    val e = Seq((0, 1, 5.0), (1, 0, 9.0), (0, 1, 7.0), (2, 2, 1.0), (1, 2, 3.0))
      .toDF("u", "v", "w")
    val sym = GraphOps.symmetrizeDedup(e)
      .as[(Int, Int, Double)].collect().toSet
    assert(sym == Set((0, 1, 5.0), (1, 0, 5.0), (1, 2, 3.0), (2, 1, 3.0)))
  }

  test("reciprocity is 1.0 after symmetrization (property, seeded random)") {
    val rnd = new scala.util.Random(11)
    val raw = Seq.fill(300)((rnd.nextInt(40), rnd.nextInt(40), rnd.between(1.0, 9.0)))
      .toDF("u", "v", "w")
    val sym = GraphOps.symmetrizeDedup(raw)
    val rec = GraphOps.reciprocity(sym).as[Double].head()
    assert(rec == 1.0)
    // and strictly below 1.0 for a one-directional edge set
    val directed = Seq((0, 1, 1.0), (1, 2, 1.0)).toDF("u", "v", "w")
    assert(GraphOps.reciprocity(directed).as[Double].head() == 0.0)
  }

  test("rekeyEdges maps via dimension and drops dangling endpoints") {
    val nodes = Seq((100L, 0), (200L, 1), (300L, 2)).toDF("osm_node_id", "node_idx")
    val edges = Seq((100L, 200L, 1.0), (200L, 300L, 2.0), (100L, 999L, 3.0))
      .toDF("u", "v", "w")
    val got = GraphOps.rekeyEdges(edges, nodes)
      .select("u", "v", "w").as[(Int, Int, Double)].collect().toSet
    assert(got == Set((0, 1, 1.0), (1, 2, 2.0)))
  }

  test("degreeStats counts zero-degree nodes and means over ALL nodes") {
    val nodes = Seq(0, 1, 2, 3).toDF("node_idx")
    val edges = Seq((0, 1, 1.0), (0, 2, 1.0), (1, 2, 1.0)).toDF("u", "v", "w")
    val r = GraphOps.degreeStats(edges, nodes).head
    assert(r.getDouble(0) == 0.75) // (2+1+0+0)/4
    assert(r.getLong(1) == 2L)
    assert(r.getLong(2) == 2L) // nodes 2 and 3 have out-degree 0
  }

  test("validEndpoints drops failed-snap (-1) endpoints") {
    val e = Seq((0, 1, 1.0), (-1, 2, 1.0), (3, -1, 1.0)).toDF("u", "v", "w")
    assert(GraphOps.validEndpoints(e).as[(Int, Int, Double)].collect().toSeq ==
      Seq((0, 1, 1.0)))
  }

  test("indexNodesPerTile: dense 0..n-1 per tile, ordered by id") {
    val nodes = Seq(("a", 30L), ("a", 10L), ("a", 20L), ("b", 5L), ("b", 1L))
      .toDF("grid_id", "osm_node_id")
    val got = GraphOps.indexNodesPerTile(nodes)
      .select("grid_id", "osm_node_id", "node_idx")
      .as[(String, Long, Int)].collect().toSet
    assert(got == Set(("a", 10L, 0), ("a", 20L, 1), ("a", 30L, 2), ("b", 1L, 0), ("b", 5L, 1)))
  }

  /** Driver-side union-find: the independent reference for components. */
  private def bruteComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("connectedComponents matches union-find on seeded random graphs") {
    val rnd = new scala.util.Random(20260812)
    for (_ <- 1 to 3) {
      val n = 40
      val pairs = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = GraphOps.connectedComponents(pairs.toDF("id1", "id2"))
        .as[(Long, Long)].collect().toMap
      assert(got == bruteComponents(pairs))
    }
  }

  /** Driver-side reference: same integer micro-unit update rule. */
  private def brutePageRank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var pr = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => pr(u) / deg(u) }.sum).toMap
      pr = nodes.map(n => n -> (150000L + 850L * in.getOrElse(n, 0L) / 1000L)).toMap
    }
    pr
  }

  test("pageRank matches the brute-force integer reference on a random digraph") {
    val rnd = new scala.util.Random(99)
    val edges = Seq.fill(60)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (a, b) => a != b }.distinct
    val got = GraphOps.pageRank(edges.toDF("u", "v"), iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == brutePageRank(edges, 4))
    // sanity: total mass is bounded by n (damping leaks + dangling loss)
    assert(got.values.sum <= edges.flatMap(e => Seq(e._1, e._2)).distinct.size * 1000000L)
  }

  test("pageRank: a sink fed by many sources outranks its feeders") {
    // star: 0..9 -> 10; node 10 accumulates everyone's mass
    val edges = (0L until 10L).map(i => (i, 10L))
    val got = GraphOps.pageRank(edges.toDF("u", "v"), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got(10L) > got(0L) * 5)
    assert((0L until 10L).map(got).toSet.size == 1) // feeders identical
  }

  test("triangleCounts: K4 with noisy input (dups, reversed edges, self-loop)") {
    // K4 on {1,2,3,4}: every node sits in C(3,2)=3 triangles. Input is
    // deliberately messy — a duplicate, reversed orientations, a self-loop
    // — to prove the least/greatest + distinct normalization.
    val e = Seq((1L, 2L), (1L, 3L), (4L, 1L), (2L, 3L), (4L, 2L), (3L, 4L),
      (1L, 2L), (3L, 1L), (2L, 2L)).toDF("u", "v")
    val got = GraphOps.triangleCounts(e).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: triangle-free graphs yield no rows") {
    // the 4-cycle and a path have no triangles
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 5L)).toDF("u", "v")
    assert(GraphOps.triangleCounts(e).isEmpty)
  }

  test("connectedComponents joins a chain into one component (path graph)") {
    // worst-case diameter: 0-1-2-...-19 as a path, listed high-to-low so
    // labels must propagate the long way
    val pairs = (1 until 20).map(i => (i.toLong, (i - 1).toLong)).reverse
    val got = GraphOps.connectedComponents(pairs.toDF("id1", "id2"))
      .as[(Long, Long)].collect().toMap
    assert(got == (0L until 20L).map(_ -> 0L).toMap)
  }

  test("connectedComponents: a 16-node path runs in at most 70 Spark jobs") {
    // Per round: one cut that also flags the labels it lowered and counts
    // that flag on its own job. A separate scan of the flag costs one more
    // job a round (86 here); finding what moved by joining the new labels
    // against the old ones costs two more again (118).
    val pairs = (1 until 16).map(i => (i.toLong, (i - 1).toLong)).reverse
    val (got, jobs) = countingJobs(GraphOps.connectedComponents(pairs.toDF("id1", "id2"))
      .as[(Long, Long)].collect().toMap)
    assert(got == (0L until 16L).map(_ -> 0L).toMap)
    assert(jobs <= 70, s"$jobs Spark jobs for a 16-node path")
  }

  test("kCore: K4 plus a pendant tail — the tail peels, the clique survives") {
    // K4 on 1..4, tail 4-5-6: 3-core is exactly K4 (every node deg 3)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val e = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("u", "v")
    val got = GraphOps.kCore(e, k = 3).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore: a path's 2-core cascades to empty; a lollipop keeps its cycle") {
    // path 0-..-9: every peel round exposes new degree-1 ends — the
    // erosion must cascade through 5 rounds and end empty
    val path = (1 until 10).map(i => ((i - 1).toLong, i.toLong)).toDF("u", "v")
    assert(GraphOps.kCore(path, k = 2).isEmpty)
    // cycle 1-2-3-4-1 with tail 4-5-6: 2-core is the cycle
    val lolli = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 5L), (5L, 6L))
      .toDF("u", "v")
    val got = GraphOps.kCore(lolli, k = 2).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
  }

  test("clusteringCoeff: triangle+pendant graph, exact micro coefficients") {
    // triangle 1-2-3 with pendant 4 on node 1, isolated edge 5-6
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (5L, 6L))
      .toDF("u", "v")
    val got = GraphOps.clusteringCoeff(e)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) == ((3L, 1L, 2000000L / 6)))  // 1 tri of 3 wedges
    assert(got(2L) == ((2L, 1L, 1000000L)))      // both neighbors linked
    assert(got(3L) == ((2L, 1L, 1000000L)))
    assert(got(4L) == ((1L, 0L, 0L)))            // degree-1: no wedges, 0
    assert(got(5L) == ((1L, 0L, 0L)))
    assert(got(6L) == ((1L, 0L, 0L)))
  }

  test("pointerJumpRoots: chain + star + self-roots, exact depths") {
    // chain 0<-1<-2<-3<-4, star 10<-{11,12}, isolated root 20
    val parents = Seq(
      (0L, 0L), (1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L),
      (10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L))
      .toDF("id", "parent")
    val got = GraphOps.pointerJumpRoots(parents)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(
      0L -> (0L, 0L), 1L -> (0L, 1L), 2L -> (0L, 2L), 3L -> (0L, 3L),
      4L -> (0L, 4L), 10L -> (10L, 0L), 11L -> (10L, 1L), 12L -> (10L, 1L),
      20L -> (20L, 0L)))
  }

  test("pointerJumpRoots: depth-1000 chain converges within the 40-round cap") {
    // log2(1000) ≈ 10 — well under the 40-round guard; a naive walk
    // would need 1000 join rounds
    val parents = (0L to 1000L).map(i => (i, math.max(0L, i - 1))).toDF("id", "parent")
    val got = GraphOps.pointerJumpRoots(parents)
      .as[(Long, Long, Long)].collect()
    assert(got.length == 1001 && got.forall(r => r._2 == 0L && r._3 == r._1))
  }

  test("labelPropagation: matches a Scala synchronous replay; splits two cliques") {
    // two 4-cliques joined by one bridge — communities must respect the
    // dense groups, not the (single) connected component
    val clique = (ids: Seq[Long]) =>
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(0L, 1L, 2L, 3L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ ((3L, 10L))).toDF("u", "v")
    val rounds = 3
    val got = GraphOps.labelPropagation(edges, rounds)
      .as[(Long, Long)].collect().toMap
    // reference: synchronous mode-label with (count desc, label asc) ties
    val sym = (clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)) :+
      ((3L, 10L))).flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    var lab = sym.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      lab = sym.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(lab).view.mapValues(_.size).toMap
        n -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    assert(got == lab)
    // both cliques collapse to intra-clique labels; the bridge does not
    // merge them into one community
    val aLabels = Seq(0L, 1L, 2L, 3L).map(got).distinct
    val bLabels = Seq(10L, 11L, 12L, 13L).map(got).distinct
    assert(aLabels.intersect(bLabels).isEmpty)
  }

  test("assortativity: a star is exactly r = -1 (hub-and-spoke extreme)") {
    // K_{1,3}: sym M=6; (j,k) = (3,1)x3 + (1,3)x3 -> S_jk=18, S_j=24,
    // S_q=60; num = 4*6*18 - 576 = -144; den = 2*6*60 - 576 = 144.
    val e = Seq((0, 1), (0, 2), (0, 3)).toDF("u", "v")
    val r = GraphOps.assortativity(e).select("m", "s_jk", "s_j", "s_q", "r_ppm")
      .as[(Long, Long, Long, Long, Option[Long])].head()
    assert(r == ((6L, 18L, 24L, 60L, Some(-1000000L))))
  }

  test("assortativity: a regular ring has zero degree variance -> NULL") {
    val e = Seq((0, 1), (1, 2), (2, 3), (3, 0)).toDF("u", "v")
    val r = GraphOps.assortativity(e).select("r_ppm").as[Option[Long]].head()
    assert(r.isEmpty)
  }

  test("modularity: two cliques score exactly 1/2; one community scores 0") {
    val e = Seq((0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)).toDF("u", "v")
    val goodLab = Seq((0, 10L), (1, 10L), (2, 10L), (3, 20L), (4, 20L), (5, 20L))
      .toDF("node", "community")
    val got = GraphOps.modularity(e, goodLab)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // per clique: M=12, d=6, e_in=6 -> contrib 36; Q*M^2 = 72 -> 500000 ppm
    assert(got.toSeq == Seq((10L, 3L, 6L, 6L, 36L, 500000L),
      (20L, 3L, 6L, 6L, 36L, 500000L)))
    // the trivial all-in-one labeling has zero modularity by construction
    val oneLab = (0 to 5).map(n => (n, 1L)).toDF("node", "community")
    val z = GraphOps.modularity(e, oneLab)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(z == ((1L, 6L, 12L, 12L, 0L, 0L)))
  }

  test("hits: 3 rounds match the hand-unrolled integer recurrence") {
    // 1->2, 3->2, 2->4: node 2 is the authority (two in-links from the
    // co-citing hubs 1 and 3), nodes 1/3 are the hubs. Hand unroll with
    // the div-by-max milli renorm:
    //   r1: h=(1000,1000,1000,0)  a=(0,1000,0,500)
    //   r2: h=(1000,500,1000,0)   a=(0,1000,0,250)
    //   r3: h=(1000,250,1000,0)   a=(0,1000,0,125)
    val e = Seq((1, 2), (3, 2), (2, 4)).toDF("u", "v")
    val got = GraphOps.hits(e, iters = 3)
      .as[(Int, Long, Long)].collect().toSet
    assert(got == Set((1, 1000L, 0L), (2, 250L, 1000L),
      (3, 1000L, 0L), (4, 0L, 125L)))
  }

  test("landmarkSketch: an isolated landmark reaches only itself") {
    // node 10 (the only %5==0 candidate besides 0... use mod 10: {0, 10});
    // 10 has no edges -> its sketch row set is exactly {(10, 10, 0)}
    val nodes = Seq(0, 1, 10).toDF("node_idx")
    val edges = Seq((0, 1)).toDF("u", "v")
    val got = GraphOps.landmarkSketch(nodes, edges, lmMod = 10,
        nLandmarks = 2, hops = 3)
      .as[(Int, Int, Int)].collect().toSet
    assert(got == Set((0, 0, 0), (0, 1, 1), (10, 10, 0)))
  }

  test("landmarkSketch: path-graph BFS distances, hop bound excludes the rest") {
    // path 0-1-2-3-4-5, landmarks = {0, 5} (mod 5), 2 hops: node 3 is
    // 3 hops from 0 -> present only via landmark 5; symmetric for 2.
    val nodes = Seq(0, 1, 2, 3, 4, 5).toDF("node_idx")
    val edges = Seq((0, 1), (1, 2), (2, 3), (3, 4), (4, 5)).toDF("u", "v")
    val got = GraphOps.landmarkSketch(nodes, edges, lmMod = 5,
        nLandmarks = 2, hops = 2)
      .as[(Int, Int, Int)].collect().toSet
    assert(got == Set(
      (0, 0, 0), (0, 1, 1), (0, 2, 2),
      (5, 5, 0), (5, 4, 1), (5, 3, 2)))
  }

  test("landmarkSketchWeighted: picks the cheaper 2-hop detour over the direct edge") {
    // triangle 0-1-2 plus a heavy direct edge 0->2: d(0,2) must come from
    // the 2-hop detour 0-1-2 (100+100=200) not the direct 900; the meter
    // budget (250) excludes node 3 (200+100=300 > 250)
    val nodes = Seq(0, 1, 2, 3).toDF("node_idx")
    val edges = Seq((0, 1, 100.0), (1, 2, 100.0), (0, 2, 900.0),
      (2, 3, 100.0)).toDF("u", "v", "w")
    val got = GraphOps.landmarkSketchWeighted(nodes, edges, lmMod = 97,
        nLandmarks = 1, rounds = 3, limitM = 250L)
      .as[(Int, Int, Long)].collect().toSet
    assert(got == Set((0, 0, 0L), (0, 1, 100L), (0, 2, 200L)))
  }

  test("landmarkSketchWeighted: frontier rounds equal full Bellman-Ford's hop-bounded table") {
    // pseudo-random 30-node graph; law: the frontier-pruned operator must
    // equal min over ALL <=rounds-hop paths within the budget, replayed
    // here by brute-force path expansion over the collected edge list —
    // the exact contract the WITH RECURSIVE oracle pins at gate scale.
    val n = 30
    val nodes = (0 until n).toDF("node_idx")
    val es = for (i <- 0 until n; j <- 1 to 3; v = (i * 7 + j * 11) % n; if v != i)
      yield (i, v, (250 + (i * 37 + v * 61) % 101).toDouble)
    val edges = es.toDF("u", "v", "w")
    val rounds = 4
    val limit = 1200L
    val got = GraphOps.landmarkSketchWeighted(nodes, edges, lmMod = 7,
        nLandmarks = 3, rounds = rounds, limitM = limit)
      .as[(Int, Int, Long)].collect().toSet
    // brute replay: synchronous Bellman-Ford over the symmetrized list,
    // NO frontier pruning — expand everything every round
    val sym = es.flatMap { case (u, v, w) => Seq((u, v, w.toLong), (v, u, w.toLong)) }
    val lms = (0 until n).filter(_ % 7 == 0).sorted.take(3)
    var dist: Map[(Int, Int), Long] = lms.map(l => (l, l) -> 0L).toMap
    (1 to rounds).foreach { _ =>
      val cand = for (((l, u), d) <- dist.toSeq; (eu, ev, w) <- sym; if eu == u;
                      nd = d + w; if nd <= limit) yield ((l, ev), nd)
      val best = cand.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
      dist = (dist.toSeq ++ best.toSeq).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).min }
    }
    val want = dist.map { case ((l, v), d) => (l, v, d) }.toSet
    assert(got == want)
  }

  test("neighborhoodFunction: exact 2-hop balls on a path; sketch agrees") {
    // path 0-1-2-3-4: balls(h=2) = {0:3, 1:4, 2:5, 3:4, 4:3}
    val nodes = Seq(0, 1, 2, 3, 4).toDF("node_idx")
    val edges = Seq((0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0))
      .toDF("u", "v", "w")
    val got = GraphOps.neighborhoodFunction(nodes, edges, hops = 2)
      .as[(Int, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got.map(r => r._1 -> r._2) ==
      Seq(0 -> 3L, 1 -> 4L, 2 -> 5L, 3 -> 4L, 4 -> 3L))
    // sparse-mode HLL is exact at these sizes: every flag must hold
    assert(got.forall(_._3), s"sketch bound failed: $got")
  }

  test("neighborhoodFunction: hops=1 is closed degree; isolated node = self") {
    val nodes = Seq(0, 1, 2, 9).toDF("node_idx") // 9 isolated
    val edges = Seq((0, 1, 1.0), (1, 2, 1.0)).toDF("u", "v", "w")
    val got = GraphOps.neighborhoodFunction(nodes, edges, hops = 1)
      .as[(Int, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got.map(r => r._1 -> r._2) ==
      Seq(0 -> 2L, 1 -> 3L, 2 -> 2L, 9 -> 1L))
    assert(got.forall(_._3))
  }
}
