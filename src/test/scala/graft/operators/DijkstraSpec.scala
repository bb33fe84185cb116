package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DijkstraSpec extends SparkSpec {
  import spark.implicits._

  /** Reference implementation: lexicographic (dist, poi) Bellman-Ford. */
  private def bellmanFord(n: Int, edges: Seq[(Int, Int, Double)],
                          seeds: Seq[(Int, Long)], limit: Double): (Array[Double], Array[Long]) = {
    val dist = Array.fill(n)(Double.PositiveInfinity)
    val poi = Array.fill(n)(-1L)
    seeds.foreach { case (s, p) =>
      if (dist(s) > 0.0 || p < poi(s)) { dist(s) = 0.0; poi(s) = if (poi(s) == -1L) p else math.min(poi(s), p) }
    }
    var changed = true
    while (changed) {
      changed = false
      edges.foreach { case (u, v, w) =>
        if (!dist(u).isInfinite) {
          val nd = dist(u) + w
          if (nd <= limit && (nd < dist(v) || (nd == dist(v) && poi(u) < poi(v)))) {
            dist(v) = nd; poi(v) = poi(u); changed = true
          }
        }
      }
    }
    (dist, poi)
  }

  private def randomGraph(seed: Int, n: Int, m: Int): Seq[(Int, Int, Double)] = {
    val rnd = new scala.util.Random(seed)
    // symmetric, integer weights (exact fp math), no self loops
    Seq.fill(m)((rnd.nextInt(n), rnd.nextInt(n), (rnd.nextInt(20) + 1).toDouble))
      .filter { case (u, v, _) => u != v }
      .flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) }
      .distinct
  }

  test("kernel matches Bellman-Ford on random graphs (dist AND poi tie-break)") {
    for (seed <- 1 to 5) {
      val n = 30
      val edges = randomGraph(seed, n, 60)
      val seeds = Seq((0, 7L), (5, 3L), (5, 9L), (11, 1L)) // incl. duplicate node seed
      val limit = 25.0
      val g = new Dijkstra.LocalGraph(
        edges.map { case (u, v, w) => TileEdge("t", u, v, w) }.toArray,
        seeds.map(_._1).toArray)
      val (dist, poi, _) = Dijkstra.multiSourceDijkstra(g, seeds, limit)
      val (bfDist, bfPoi) = bellmanFord(n, edges, seeds, limit)
      for (ext <- 0 until n; l <- g.nodeOf.get(ext)) {
        assert(dist(l) == bfDist(ext), s"dist mismatch seed=$seed node=$ext")
        assert(poi(l) == bfPoi(ext), s"poi mismatch seed=$seed node=$ext")
      }
      // nodes absent from the kernel's graph must be unreachable in BF too
      for (ext <- 0 until n if !g.nodeOf.contains(ext))
        assert(bfDist(ext).isInfinite)
    }
  }

  test("limit prunes: no emitted distance exceeds limitM") {
    val edges = randomGraph(99, 40, 100)
      .map { case (u, v, w) => TileEdge("t0", u, v, w) }.toDS()
    val seeds = Seq(TileSource("t0", "cat", 0, 1L)).toDS()
    val reach = Dijkstra.reach(edges, seeds, limitM = 10.0).collect()
    assert(reach.nonEmpty)
    assert(reach.forall(_.dist_m <= 10.0))
    assert(reach.forall(r => r.time_s == r.dist_m / 1.111))
  }

  test("isolated seed emits its own dist-0 row (reference zero-degree behavior)") {
    val edges = Seq(TileEdge("t0", 0, 1, 5.0), TileEdge("t0", 1, 0, 5.0)).toDS()
    val seeds = Seq(TileSource("t0", "cat", 7, 42L)).toDS() // node 7 not in edges
    val reach = Dijkstra.reach(edges, seeds, limitM = 10.0).collect()
    assert(reach.toSeq == Seq(ReachRow("t0", "cat", 7, 0.0, 0.0, 42L)))
  }

  test("shortestPaths: steps telescope to the reach distance, hops are edges") {
    // dedupe parallel edges (min weight) so weightOf is well-defined
    val edges = randomGraph(5, 25, 60)
      .groupBy(e => (e._1, e._2))
      .map { case ((u, v), es) => (u, v, es.map(_._3).min) }.toSeq
    val edgeSet = edges.map { case (u, v, _) => (u, v) }.toSet
    val weightOf = edges.map { case (u, v, w) => (u, v) -> w }.toMap
    val ds = edges.map { case (u, v, w) => TileEdge("t0", u, v, w) }.toDS()
    val seeds = Seq(TileSource("t0", "cat", 0, 7L), TileSource("t0", "cat", 3, 2L)).toDS()
    val targets = (0 until 25).map("t0" -> _)
    val paths = Dijkstra.shortestPaths(ds, seeds, targets, limitM = 40.0)
      .collect().groupBy(_.target_idx)
    val reach = Dijkstra.reach(ds, seeds, limitM = 40.0)
      .collect().map(r => r.node_idx -> r).toMap
    assert(paths.nonEmpty)
    paths.foreach { case (tgt, steps0) =>
      val steps = steps0.sortBy(_.seq)
      assert(steps.head.step_m == 0.0) // source step
      assert(reach(steps.head.node_idx).dist_m == 0.0)
      assert(steps.last.node_idx == tgt)
      assert(steps.map(_.step_m).sum == reach(tgt).dist_m) // telescoping
      assert(steps.head.poi_id == reach(tgt).poi_id) // backtrack lands on winning source
      steps.sliding(2).foreach {
        case Array(a, b) =>
          assert(edgeSet.contains((a.node_idx, b.node_idx)))
          assert(b.step_m == weightOf((a.node_idx, b.node_idx)))
        case _ =>
      }
    }
  }

  test("multi-tile with buffer + owner filter equals global reach") {
    // path graph 0-1-2-...-19, unit weights; tiles of 5 nodes, buffer 3
    val base = (0 until 19).flatMap(i => Seq((i, i + 1, 1.0), (i + 1, i, 1.0)))
    val global = Dijkstra.reach(
      base.map { case (u, v, w) => TileEdge("g", u, v, w) }.toDS(),
      Seq(TileSource("g", "c", 2, 1L), TileSource("g", "c", 17, 2L)).toDS(),
      limitM = 3.0).collect().map(r => (r.node_idx, r.dist_m, r.poi_id)).toSet
    val tiled = Dijkstra.reach(
      base.flatMap { case (u, v, w) =>
        (0 until 4).filter(t => Seq(u, v).forall(x => x >= 5 * t - 3 && x <= 5 * t + 7))
          .map(t => TileEdge(s"t$t", u, v, w))
      }.toDS(),
      Seq(2 -> 1L, 17 -> 2L).flatMap { case (node, p) =>
        (0 until 4).filter(t => node >= 5 * t - 3 && node <= 5 * t + 7)
          .map(t => TileSource(s"t$t", "c", node, p))
      }.toDS(),
      limitM = 3.0)
      .filter(col("tile") === concat(lit("t"), floor(col("node_idx") / 5).cast("int")))
      .collect().map(r => (r.node_idx, r.dist_m, r.poi_id)).toSet
    assert(tiled == global)
  }

  test("Pregel-style reachIterative equals the per-tile kernel") {
    for (seed <- Seq(3, 8)) {
      val edges = randomGraph(seed, 35, 90)
      val kernel = Dijkstra.reach(
        edges.map { case (u, v, w) => TileEdge("t0", u, v, w) }.toDS(),
        Seq(TileSource("t0", "a", 0, 5L), TileSource("t0", "a", 9, 2L),
          TileSource("t0", "b", 4, 7L)).toDS(),
        limitM = 30.0)
        .collect().map(r => (r.category, r.node_idx) -> (r.dist_m, r.poi_id)).toMap
      val pregel = Dijkstra.reachIterative(
        edges.toDF("u", "v", "w"),
        Seq(("a", 0, 5L), ("a", 9, 2L), ("b", 4, 7L)).toDF("category", "node_idx", "poi_id"),
        limitM = 30.0)
        .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(4))).toMap
      assert(pregel == kernel, s"seed=$seed")
    }
  }

  test("reachIterative: the seed-3 fixture runs in at most 28 Spark jobs") {
    // Per round: one cut that also flags the rows it improved and counts
    // that flag on its own job. A separate scan of the flag costs one more
    // job a round (34 jobs here); deriving the frontier by joining the new
    // state against the old one and cutting it again costs more (52).
    val (rows, jobs) = countingJobs(Dijkstra.reachIterative(
        randomGraph(3, 35, 90).toDF("u", "v", "w"),
        Seq(("a", 0, 5L), ("a", 9, 2L), ("b", 4, 7L)).toDF("category", "node_idx", "poi_id"),
        limitM = 30.0).collect())
    assert(rows.nonEmpty)
    assert(jobs <= 28, s"$jobs Spark jobs for the seed-3 fixture")
  }

  test("reachSummary: counts, medians, derived time") {
    val reach = Seq(
      ReachRow("t", "a", 0, 100.0, 100.0 / 1.111, 1),
      ReachRow("t", "a", 1, 300.0, 300.0 / 1.111, 1),
      ReachRow("t", "b", 2, 50.0, 50.0 / 1.111, 2)).toDF()
    val sources = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("category", "poi_id")
    val got = Dijkstra.reachSummary(reach, sources, 1000.0)
      .orderBy("category").collect()
    assert(got.length == 2)
    val a = got(0)
    assert(a.getString(0) == "a" && a.getLong(1) == 2L && a.getLong(2) == 2L)
    assert(a.getDouble(3) == 200.0 && a.getDouble(4) == 200.0 / 1.111)
  }
}
