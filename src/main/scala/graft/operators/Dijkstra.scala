package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One edge of a tile-local pedestrian graph (directed; symmetrized upstream). */
case class TileEdge(tile: String, u: Int, v: Int, w: Double)

/** One Dijkstra seed: a POI snapped to a node (SURVEY §2.8 G1 sources). */
case class TileSource(tile: String, category: String, node_idx: Int, poi_id: Long)

/** One row of the long-form reach table (SURVEY §1.1): nearest-POI distance
  * per (tile, category, node). Only FINITE rows are materialized — the
  * reference's full-N inf vectors (precompute_poi_reach.py:210-219) are a
  * dense storage artifact; relationally, "unreachable" is the absence of a
  * row, recovered at query time with a left join + coalesce(inf, -1). */
case class ReachRow(tile: String, category: String, node_idx: Int,
                    dist_m: Double, time_s: Double, poi_id: Long)

/** One step of a shortest path (reference test_path.py:312-333).
  * `target_idx` keys the path: one row per (target, seq). */
case class PathStep(tile: String, target_idx: Int, seq: Int, node_idx: Int,
                    step_m: Double, poi_id: Long, category: String)

/** Bounded multi-source Dijkstra (SURVEY §2.8 G1) as a per-tile typed kernel.
  *
  * Behavior matches reference precompute_poi_reach.py:86-125: seeds at
  * dist 0, strict-improvement relaxation, prune `nd ≤ limit`, binary heap.
  * One deliberate determinism upgrade: ties (equal distance via different
  * POIs, incl. two POIs snapped to one node) resolve to the SMALLEST poi_id
  * — the reference keeps whichever source entered the heap first (input row
  * order), which is not reproducible under distribution. Lexicographic
  * (dist, poi_id) keys keep Dijkstra's invariants (edge relaxation adds
  * (w, 0), which is monotone in the lex order).
  *
  * Scale design: distribution is by spatial tiling — the reference's own
  * model (10×10 km tiles + 2 km buffer ≥ 2× the 1000 m limit, so tile-local
  * routing is exact for in-tile owner nodes; grid_creation.py:235-236).
  * Each (tile) group builds a transient CSR and runs all its categories
  * locally; tiles are independent, so the operator scales linearly with
  * executor count and shuffles each edge exactly once. A tile of ~10⁶ nodes
  * uses ~30 MB of primitive arrays — comfortably executor-local.
  */
object Dijkstra {

  /** Local CSR built per tile group. Node ids are compacted to 0..n-1. */
  private[operators] final class LocalGraph(edges: Array[TileEdge], extraNodes: Array[Int]) {
    val nodeOf = new mutable.HashMap[Int, Int]() // external node_idx -> local
    private def intern(x: Int): Int = nodeOf.getOrElseUpdate(x, nodeOf.size)
    edges.foreach { e => intern(e.u); intern(e.v) }
    extraNodes.foreach(intern)
    val n: Int = nodeOf.size
    val ext = new Array[Int](n) // local -> external
    nodeOf.foreach { case (e, l) => ext(l) = e }

    val indptr = new Array[Int](n + 1)
    edges.foreach(e => indptr(nodeOf(e.u) + 1) += 1)
    (1 to n).foreach(i => indptr(i) += indptr(i - 1))
    val indices = new Array[Int](edges.length)
    val weights = new Array[Double](edges.length)
    locally {
      val fill = java.util.Arrays.copyOf(indptr, n)
      edges.foreach { e =>
        val u = nodeOf(e.u); val p = fill(u); fill(u) = p + 1
        indices(p) = nodeOf(e.v); weights(p) = e.w
      }
    }
  }

  /** Primitive binary heap over (dist, node) — two parallel arrays, zero
    * boxing (the round-1 verdict's named kernel cost: ~3 boxes per tuple
    * push in java.util.PriorityQueue). Lexicographic (dist, node) order
    * keeps pops deterministic. */
  private final class DistHeap(initCap: Int) {
    private var ds = new Array[Double](math.max(initCap, 16))
    private var ns = new Array[Int](ds.length)
    private var n = 0
    def isEmpty: Boolean = n == 0
    def topDist: Double = ds(0)
    def topNode: Int = ns(0)
    private def lt(i: Int, j: Int): Boolean =
      ds(i) < ds(j) || (ds(i) == ds(j) && ns(i) < ns(j))
    private def swap(i: Int, j: Int): Unit = {
      val d = ds(i); ds(i) = ds(j); ds(j) = d
      val m = ns(i); ns(i) = ns(j); ns(j) = m
    }
    def push(d: Double, node: Int): Unit = {
      if (n == ds.length) {
        ds = java.util.Arrays.copyOf(ds, n * 2)
        ns = java.util.Arrays.copyOf(ns, n * 2)
      }
      ds(n) = d; ns(n) = node; n += 1
      var i = n - 1
      while (i > 0 && lt(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    }
    def pop(): Unit = {
      n -= 1; swap(0, n)
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < n && lt(l, m)) m = l
        if (r < n && lt(r, m)) m = r
        if (m == i) done = true else { swap(i, m); i = m }
      }
    }
  }

  /** Core kernel: returns (dist, winningPoi, prev) arrays over local ids;
    * dist=+inf / poi=-1 / prev=-1 where unreached.
    *
    * Heap entries carry only (dist, node): with strictly positive weights,
    * a node's poi label can only improve via a STRICTLY closer predecessor
    * (an equal-dist relaxation would need dist(u) + w == dist(u'), w > 0 ⇒
    * dist(u) < dist(u')), so by the time a node pops, its (dist, poi) is
    * final — the poi need not participate in heap ordering, and equal-dist
    * poi updates never re-push. Requires w ≥ ulp(limitM) so that d + w > d
    * holds in floating point for every in-limit d (enforced by [[reach]] /
    * [[shortestPaths]]; the engine's weights floor at 0.01 m). */
  private[operators] def multiSourceDijkstra(
      g: LocalGraph, seeds: Seq[(Int, Long)], limitM: Double)
      : (Array[Double], Array[Long], Array[Int]) = {
    val dist = Array.fill(g.n)(Double.PositiveInfinity)
    val poi = Array.fill(g.n)(-1L)
    val prev = Array.fill(g.n)(-1)
    val settled = new Array[Boolean](g.n)
    val heap = new DistHeap(seeds.size)
    seeds.foreach { case (extNode, poiId) =>
      g.nodeOf.get(extNode).foreach { u =>
        if (dist(u) > 0.0) { dist(u) = 0.0; poi(u) = poiId }
        else if (poiId < poi(u)) poi(u) = poiId
      }
    }
    (0 until g.n).foreach(u => if (dist(u) == 0.0) heap.push(0.0, u))
    while (!heap.isEmpty) {
      val d = heap.topDist; val u = heap.topNode
      heap.pop()
      if (!settled(u) && d == dist(u)) {
        settled(u) = true
        val p = poi(u)
        var i = g.indptr(u)
        while (i < g.indptr(u + 1)) {
          val v = g.indices(i)
          val nd = d + g.weights(i)
          if (nd <= limitM) {
            if (nd < dist(v)) {
              dist(v) = nd; poi(v) = p; prev(v) = u
              heap.push(nd, v)
            } else if (nd == dist(v) && p < poi(v)) {
              poi(v) = p; prev(v) = u // same dist: already queued, no re-push
            }
          }
          i += 1
        }
      }
    }
    (dist, poi, prev)
  }

  /** Distributed reach computation: `edges(tile,u,v,w)` cogrouped with
    * `sources(tile,category,node_idx,poi_id)` per tile; one Dijkstra per
    * (tile, category); emits finite reach rows.
    *
    * ALL sources are seeded, including nodes absent from the tile's edge set
    * (LocalGraph interns them): an isolated/zero-degree source emits its own
    * dist-0 reach row — matching the reference, whose in-range zero-degree
    * sources also get dist 0 (precompute_poi_reach.py:95-98; its 0≤idx<N
    * filter at :177-179 only drops out-of-range indices). Pre-filter sources
    * upstream if membership semantics are wanted. */
  def reach(edges: Dataset[TileEdge], sources: Dataset[TileSource],
            limitM: Double, speedMps: Double = 1.111): Dataset[ReachRow] = {
    implicit val encS = org.apache.spark.sql.Encoders.STRING
    implicit val enc = org.apache.spark.sql.Encoders.product[ReachRow]
    edges.groupByKey(_.tile).cogroup(sources.groupByKey(_.tile)) {
      (tile, es, ss) =>
        val edgeArr = es.toArray
        val srcArr = ss.toArray
        if (edgeArr.isEmpty || srcArr.isEmpty) Iterator.empty
        else {
          // The dist-ordered heap needs d + w > d for every reachable d:
          // a sub-ulp positive weight would let an equal-dist relaxation
          // reach an already-settled node. ulp(limitM) bounds the ulp of
          // any in-limit distance; the engine's 0.01 m floor clears it by
          // many orders of magnitude.
          val minW = math.ulp(limitM)
          require(edgeArr.forall(_.w >= minW),
            s"reach requires edge weights >= ulp(limitM)=$minW (tile $tile)")
          val g = new LocalGraph(edgeArr, srcArr.map(_.node_idx))
          srcArr.groupBy(_.category).iterator.flatMap { case (cat, catSrcs) =>
            val seeds = catSrcs.map(s => (s.node_idx, s.poi_id)).toSeq
            val (dist, poi, _) = multiSourceDijkstra(g, seeds, limitM)
            (0 until g.n).iterator.filter(i => !dist(i).isInfinite).map { i =>
              ReachRow(tile, cat, g.ext(i), dist(i), dist(i) / speedMps, poi(i))
            }
          }
        }
    }
  }

  /** G1(b): Pregel-style whole-graph reach — iterative DataFrame frontier
    * relaxation for graphs too large for ANY single executor (the per-tile
    * kernel's limit is one tile in memory; this one's is cluster storage).
    *
    * Each round: join the improved frontier with the edge table, take the
    * lexicographic (dist, poi) minimum per (category, node), keep strictly
    * improved rows as the next frontier; stop when no row improves. The
    * driver only steers iteration; all data stays distributed. Round
    * count is bounded by limitM / min-edge-weight (bounded-radius reach,
    * like the kernel's heap prune — same results, different execution
    * geometry). Equality with the kernel is asserted in DijkstraSpec and by
    * the shared q26 oracle. */
  def reachIterative(edges: DataFrame, sources: DataFrame,
                     limitM: Double, speedMps: Double = 1.111,
                     maxIter: Int = 100): DataFrame = {
    val seeds = sources
      .groupBy(col("category"), col("node_idx").as("node"))
      .agg(min("poi_id").as("poi"))
      .select(col("category"), col("node"), lit(0.0).as("dist"), col("poi"))
      .localCheckpoint()
    // Materialize the (possibly expensive) edge lineage ONCE — every round
    // joins against it, and without the cut each round re-executes the
    // whole upstream plan (scan + symmetrize-dedup measured as the
    // dominant per-round cost).
    val e = edges.select(col("u"), col("v"), col("w")).localCheckpoint()
    var best = seeds
    var frontier = seeds
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val relaxed = frontier.join(e, frontier("node") === e("u"))
        .select(col("category"), col("v").as("node"),
          (col("dist") + col("w")).as("dist"), col("poi"))
        .filter(col("dist") <= limitM)
      val candidates = relaxed.union(best)
        .groupBy("category", "node")
        .agg(min(struct(col("dist"), col("poi"))).as("m"))
        .select(col("category"), col("node"),
          col("m.dist").as("dist"), col("m.poi").as("poi"))
      iter += 1
      // One heavy job materializes the round; the next frontier is then
      // derived from the TWO checkpointed frames (improved vs the round
      // start), not from the candidates' lineage, which a second
      // checkpoint would re-execute. Empty ⟺ the round improved nothing
      // ⟺ fixpoint.
      val prevBest = best
      best = candidates.localCheckpoint()
      frontier = best.join(
          prevBest.select(col("category"), col("node"),
            col("dist").as("p_dist"), col("poi").as("p_poi")),
          Seq("category", "node"), "left")
        .filter(col("p_dist").isNull ||
          struct(col("dist"), col("poi")) < struct(col("p_dist"), col("p_poi")))
        .select("category", "node", "dist", "poi")
        .localCheckpoint()
      converged = frontier.isEmpty
    }
    // A silently truncated fixpoint is indistinguishable from a converged
    // one — fail loudly instead (hit only when limitM/min-edge-weight
    // exceeds maxIter rounds).
    require(converged,
      s"reachIterative did not converge within $maxIter rounds; raise maxIter " +
        "(rounds needed ≈ limitM / min edge weight)")
    best.select(col("category"), col("node").as("node_idx"),
      col("dist").as("dist_m"), (col("dist") / lit(speedMps)).as("time_s"),
      col("poi").as("poi_id"))
  }

  /** Per-category reach summary (SURVEY A3; reference
    * precompute_poi_reach.py:204-208). Median over finite distances only
    * (the reach table already holds only finite rows).
    *
    * median_time_s is median_dist_m / speed, not median(time_s): time is the
    * pointwise monotone map dist/speed, so the two agree mathematically, and
    * deriving it from the distance median keeps the arithmetic bit-identical
    * across engines (median interpolation over irrational time values is not). */
  def reachSummary(reach: DataFrame, sources: DataFrame, limitM: Double,
                   speedMps: Double = 1.111): DataFrame = {
    val nSrc = sources.groupBy("category").agg(count(lit(1)).as("n_sources"))
    reach.groupBy("category").agg(
        count(lit(1)).as("n_within"),
        median(col("dist_m")).as("median_dist_m"))
      .join(nSrc, Seq("category"), "right")
      .na.fill(0, Seq("n_within"))
      .select(col("category"), col("n_sources"), col("n_within"),
        col("median_dist_m"), (col("median_dist_m") / lit(speedMps)).as("median_time_s"),
        lit(limitM).as("limit_m"))
  }

  /** Shortest path with backtrack (SURVEY G3; reference test_path.py:270-310):
    * per tile, Dijkstra from the given category's POIs, then backtrack from
    * each requested target node to its winning source. Emits hops
    * source→target ordered by seq, with per-step edge weight (step_m=0 at the
    * source). Cumulative distance is a window sum downstream (W3).
    *
    * Backtrack is CANONICAL rather than heap-order-dependent: the
    * predecessor of v is the u minimizing (dist(u), node_idx(u)) among
    * in-edges with dist(u) + w(u,v) == dist(v) and poi(u) == poi(v). The
    * reference keeps whichever `prev` the heap wrote last (test_path.py:
    * 291-297), which depends on input order; the canonical rule picks the
    * same shortest path deterministically and is expressible in SQL for the
    * oracle. Exact `==` on distances is sound when weights are exact in
    * binary (our integer-valued test weights); real float weights would want
    * an epsilon here. */
  def shortestPaths(edges: Dataset[TileEdge], sources: Dataset[TileSource],
                    targets: Seq[(String, Int)], // (tile, node_idx) — point queries, small
                    limitM: Double): Dataset[PathStep] = {
    implicit val encS = org.apache.spark.sql.Encoders.STRING
    implicit val enc = org.apache.spark.sql.Encoders.product[PathStep]
    val spark = edges.sparkSession
    val tgtB = spark.sparkContext.broadcast(
      targets.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toArray })
    edges.groupByKey(_.tile).cogroup(sources.groupByKey(_.tile)) {
      (tile, es, ss) =>
        val targetNodes = tgtB.value.getOrElse(tile, Array.empty[Int])
        val edgeArr = es.toArray
        val srcArr = ss.toArray
        if (edgeArr.isEmpty || srcArr.isEmpty || targetNodes.isEmpty) Iterator.empty
        else {
          // zero- or sub-ulp-weight edges would let the canonical-predecessor
          // rule cycle on equal-dist plateaus (the engine's haversineWeightM
          // floors weights at 0.01 m; reject anything else loudly)
          require(edgeArr.forall(_.w >= math.ulp(limitM)),
            s"shortestPaths requires edge weights >= ulp(limitM) (tile $tile)")
          val g = new LocalGraph(edgeArr, srcArr.map(_.node_idx) ++ targetNodes)
          // reverse CSR (in-edges) for canonical backtrack, built once per tile
          val rIndptr = new Array[Int](g.n + 1)
          edgeArr.foreach(e => rIndptr(g.nodeOf(e.v) + 1) += 1)
          (1 to g.n).foreach(i => rIndptr(i) += rIndptr(i - 1))
          val rIndices = new Array[Int](edgeArr.length)
          val rWeights = new Array[Double](edgeArr.length)
          locally {
            val fill = java.util.Arrays.copyOf(rIndptr, g.n)
            edgeArr.foreach { e =>
              val v = g.nodeOf(e.v); val p = fill(v); fill(v) = p + 1
              rIndices(p) = g.nodeOf(e.u); rWeights(p) = e.w
            }
          }
          srcArr.groupBy(_.category).iterator.flatMap { case (cat, catSrcs) =>
            val seeds = catSrcs.map(s => (s.node_idx, s.poi_id)).toSeq
            val (dist, poi, _) = multiSourceDijkstra(g, seeds, limitM)
            def canonPrev(v: Int): Int = {
              var best = -1; var bd = Double.PositiveInfinity; var bext = Int.MaxValue
              var i = rIndptr(v)
              while (i < rIndptr(v + 1)) {
                val u = rIndices(i)
                if (dist(u) + rWeights(i) == dist(v) && poi(u) == poi(v) &&
                    (dist(u) < bd || (dist(u) == bd && g.ext(u) < bext))) {
                  best = u; bd = dist(u); bext = g.ext(u)
                }
                i += 1
              }
              best
            }
            targetNodes.iterator.flatMap { t =>
              val lt = g.nodeOf(t)
              if (dist(lt).isInfinite) Iterator.empty
              else {
                var path = List(lt)
                var cur = lt
                var stuck = false // unreachable in practice: finite dist ⇒ a qualifying in-edge exists
                while (!stuck && dist(cur) != 0.0) {
                  val p = canonPrev(cur)
                  if (p == -1) stuck = true
                  else { path = p :: path; cur = p }
                }
                val arr = path.toArray
                arr.iterator.zipWithIndex.map { case (node, seq) =>
                  val step = if (seq == 0) 0.0 else dist(node) - dist(arr(seq - 1))
                  PathStep(tile, t, seq, g.ext(node), step, poi(lt), cat)
                }
              }
            }
          }
        }
    }
  }
}
