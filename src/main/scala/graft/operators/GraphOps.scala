package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions._

/** Relational graph-construction operators (SURVEY.md §2.2/§2.3/§2.4/§2.6:
  * P1-P4, J1, U1, A1-A2, W1-W2, J7, G2's relational pre-steps).
  *
  * Everything here is a `DataFrame => DataFrame` built from Spark built-ins
  * only, so Catalyst gets full pushdown/pruning/codegen. The physical CSR of
  * the reference (graph_construction.py:123-162) is NOT a stored format here —
  * the relational `edges(u,v,w)` table is canonical, and CSR arrays are built
  * transiently inside the Dijkstra kernel per partition.
  */
object GraphOps {

  /** Walkable highway values always kept (reference graph_construction.py:56-59). */
  val AlwaysWalkable: Seq[String] = Seq(
    "footway", "path", "pedestrian", "steps", "platform", "crossing",
    "living_street", "cycleway", "track", "residential", "unclassified", "service")

  /** Big roads kept only with sidewalk/foot access (reference graph_construction.py:60). */
  val BigRoads: Seq[String] = Seq(
    "primary", "primary_link", "secondary", "secondary_link", "tertiary", "tertiary_link")

  val SidewalkOk: Seq[String] = Seq("yes", "both", "left", "right")
  val FootOk: Seq[String] = Seq("yes", "designated", "permissive")
  val FastRoads: Seq[String] = Seq("motorway", "motorway_link", "trunk", "trunk_link")

  /** P1: add normalized `*_n` tag columns (lower(trim), null→"") for the five
    * walkability tags; missing columns materialize as "" (reference
    * graph_construction.py:49-56). */
  def normalizeTags(edges: DataFrame): DataFrame = {
    val tagCols = Seq("highway", "foot", "sidewalk", "motorroad", "oneway")
    tagCols.foldLeft(edges) { (df, c) =>
      val src = if (df.columns.contains(c)) normTag(col(c)) else lit("")
      df.withColumn(c + "_n", src)
    }
  }

  /** P2: the walkability truth table (reference graph_construction.py:56-72):
    * keep iff (highway ∈ always ∨ (highway ∈ big ∧ (sidewalk ok ∨ foot ok)))
    * ∧ ¬(highway ∈ fast ∨ motorroad=yes). Pure `isin` composition — fully
    * codegen'd and pushdown-friendly. */
  def walkablePredicate: Column = {
    val hasSidewalk = col("sidewalk_n").isin(SidewalkOk: _*)
    val hasFootOk = col("foot_n").isin(FootOk: _*)
    val isFast = col("highway_n").isin(FastRoads: _*) || (col("motorroad_n") === "yes")
    (col("highway_n").isin(AlwaysWalkable: _*) ||
      (col("highway_n").isin(BigRoads: _*) && (hasSidewalk || hasFootOk))) && !isFast
  }

  def cleanWalkableEdges(edges: DataFrame): DataFrame =
    normalizeTags(edges).filter(walkablePredicate)

  /** W1/J1 part 1: dense per-tile node indices 0..n_t-1 by ascending id
    * (reference graph_construction.py:241-243: array position after sort,
    * per tile). The window partitions
    * by `grid_id`, so each tile sorts independently — one shuffle on grid_id,
    * every core busy, no single-partition WindowExec. Cross-tile joins must
    * key on (grid_id, node_idx). */
  def indexNodesPerTile(nodes: DataFrame, idCol: String = "osm_node_id",
                        tileCol: String = "grid_id"): DataFrame =
    nodes.withColumn("node_idx",
      (row_number().over(Window.partitionBy(col(tileCol)).orderBy(col(idCol))) - 1).cast("int"))

  /** J1: re-key edge endpoints from external ids to node indices via two
    * equi-joins; unmatched endpoints are dropped (reference
    * graph_construction.py:250-255 `dropna`). `nodeIdx` must have columns
    * (idCol, node_idx).
    *
    * No broadcast HINT: the id map's cardinality is the NODE DOMAIN, which
    * grows with the graph (the q162 growing-broadcast lesson) — per-tile
    * maps are small and AQE broadcasts them on its own; a planetary
    * whole-graph rekey becomes a shuffle join keyed on node id, which is
    * the only shape that survives. */
  def rekeyEdges(edges: DataFrame, nodeIdx: DataFrame,
                 idCol: String = "osm_node_id"): DataFrame = {
    val dim = nodeIdx.select(col(idCol), col("node_idx"))
    edges
      .join(dim.withColumnRenamed(idCol, "u_id").withColumnRenamed("node_idx", "u_idx"),
        col("u") === col("u_id"), "inner")
      .join(dim.withColumnRenamed(idCol, "v_id").withColumnRenamed("node_idx", "v_idx"),
        col("v") === col("v_id"), "inner")
      .drop("u", "v", "u_id", "v_id")
      .withColumnRenamed("u_idx", "u")
      .withColumnRenamed("v_idx", "v")
  }

  /** P3: drop edges with failed-snap endpoints (reference graph_construction.py:124). */
  def validEndpoints(edges: DataFrame): DataFrame =
    edges.filter(col("u") >= 0 && col("v") >= 0)

  /** U1 + P4 + A1: symmetrize (undirected as doubled directed), drop
    * self-loops, dedup parallel edges keeping min weight (reference
    * graph_construction.py:128-148). One shuffle on (u,v); partial aggregation
    * (map-side combine) comes free from the hash aggregate. */
  def symmetrizeDedup(edges: DataFrame): DataFrame = {
    val fwd = edges.select(col("u"), col("v"), col("w"))
    val rev = edges.select(col("v").as("u"), col("u").as("v"), col("w"))
    fwd.union(rev)
      .filter(col("u") =!= col("v"))
      .groupBy("u", "v")
      .agg(min("w").as("w"))
  }

  /** A2: out-degree per node (CSR indptr is its cumsum, built only inside the
    * kernel; reference graph_construction.py:153-156). */
  def outDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("u").as("node_idx")).agg(count(lit(1)).as("degree"))

  /** A4: degree statistics QA (reference validate_csr.py:12-17). The mean is
    * over ALL nodes (zero-degree included, like `np.diff(indptr).mean()`), so
    * the node table joins in distributed — no driver-side count. */
  def degreeStats(edges: DataFrame, nodes: DataFrame): DataFrame =
    nodes.select("node_idx")
      .join(outDegrees(edges), Seq("node_idx"), "left")
      .withColumn("degree", coalesce(col("degree"), lit(0L)))
      .agg(
        avg("degree").as("mean_degree"),
        max("degree").as("max_degree"),
        count(when(col("degree") === 0, 1)).as("zero_degree_nodes"))

  /** J7: edge reciprocity QA — fraction of (u,v) with (v,u) present; ≈1.0
    * after symmetrization (reference validate_csr.py:21-29). */
  def reciprocity(edges: DataFrame): DataFrame = {
    // Single pass, no eager driver-side count(): left-join a match flag
    // against the (deduped) reversed edge set and aggregate both counts in
    // one job. rev is distinct so parallel edges can't fan the join out.
    // hint("merge"): rev is EDGE-SIZED — without the hint Spark's size
    // estimate broadcasts it, a driver hash-relation build growing
    // linearly with the graph (ScaleBench q11: 11.7× at 10×, most of the
    // wall driver-side; the shuffle join scales with partitions instead).
    val rev = edges.select(col("v").as("u"), col("u").as("v"))
      .distinct().withColumn("rec", lit(1))
    edges.join(rev.hint("merge"), Seq("u", "v"), "left")
      .agg((count(col("rec")) / count(lit(1))).cast("double").as("reciprocity"))
  }

  /** A5: weight-sanity QA — weight/haversine ratio p50, p90, outliers
    * (reference validate_dist.py:16-21). Expects u/v lon/lat columns
    * (lon_u, lat_u, lon_v, lat_v) and w.
    *
    * Percentiles are rank-based (smallest value whose cumulative count
    * ≥ p·total), not interpolated: interpolation formulas differ across
    * engines in the last ulp, which would break oracle hash parity. The
    * ratio is rounded to 6 decimals for the same reason (libm asin drifts
    * 1 ulp vs JVM). The cumsum window is global BY NATURE of an exact
    * global percentile — it runs after a distributed count-by-value
    * reduction, and this is a one-row QA aggregate, not a hot-path
    * operator; at 100 TB the right tool is percentile_approx (distributed
    * sketch, codegen'd), kept out of this rank form only for oracle
    * bit-parity. */
  def weightSanity(edgesWithCoords: DataFrame): DataFrame = {
    val ratio = round(col("w") /
      haversineM(col("lon_u"), col("lat_u"), col("lon_v"), col("lat_v")), 6)
    // Reduce-then-window: aggregate counts per distinct (rounded) ratio with
    // a distributed shuffle FIRST; the unavoidable global cumsum window then
    // runs over |distinct ratios| rows, not |edges| — the single-partition
    // step is bounded by the value-domain, not the data volume.
    val byRatio = edgesWithCoords.select(ratio.as("ratio"))
      .groupBy("ratio").agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy("ratio")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byRatio.withColumn("cum", sum("cnt").over(wCum))
    val totals = byRatio.agg(
      sum("cnt").as("total"),
      coalesce(sum(when(col("ratio") > 2.0, col("cnt"))), lit(0L)).as("outs"))
    cum.crossJoin(broadcast(totals))
      .agg(
        min(when(col("cum") >= col("total") * 0.5, col("ratio"))).as("p50_ratio"),
        min(when(col("cum") >= col("total") * 0.9, col("ratio"))).as("p90_ratio"),
        max(col("outs")).as("outliers_gt2"))
  }

  /** Synchronous LABEL-PROPAGATION community detection (Raghavan, Albert
    * & Kumara 2007): every node starts labeled with itself; each round
    * EVERY node simultaneously takes the most frequent label among its
    * neighbors, ties broken by the smallest label — the deterministic
    * variant of the usual randomized tie-break, so the result is
    * engine-reproducible. NOT the same operator as
    * [[connectedComponents]]: min-label propagation converges to
    * connectivity classes; mode-label propagation finds densely
    * intra-connected groups INSIDE a component (communities), the
    * link-structure signal corpus pipelines use for domain clustering
    * and crawl-graph spam lobes.
    *
    * `rounds` is a FIXED unroll, not convergence-tested: synchronous LPA
    * can oscillate on bipartite-ish structures, and a deterministic
    * round count is what makes an exact oracle possible (the oracle
    * unrolls the same rounds in SQL). A few rounds is the operating
    * regime for community ASSIGNMENT; treat the labels as cluster keys,
    * not a fixpoint claim.
    *
    * Scale shape: per round, one join of the symmetrized edge list
    * against the label table (shuffle on node id) + one (node, label)
    * count + one per-node top-1 window over ≤ degree rows — all
    * partitioned by node id, lineage cut per round. Output:
    * (node, community); isolated nodes never appear (no neighbors → no
    * votes — join survivors back against the node table if needed). */
  def labelPropagation(edges: DataFrame, rounds: Int,
                       srcCol: String = "u", dstCol: String = "v"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    var labels = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val votes = sym
        .join(labels.select(col("node").as("v"), col("label")), Seq("v"))
        .groupBy(col("u").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("node").orderBy(col("cnt").desc, col("label"))
      labels = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("node"), col("label"))
        .localCheckpoint()
    }
    labels.select(col("node"), col("label").as("community"))
  }

  /** Connected components over an undirected pair list by iterative
    * min-label propagation: every node starts labeled with itself; each
    * round a node takes the minimum of its own and its neighbors' labels;
    * at the fixpoint label(v) = min node id reachable from v — the
    * canonical component representative.
    *
    * The consumer this exists for is CLUSTER-level near-duplicate
    * deduplication: pairwise keep-min (drop id2 of every verified pair,
    * [[graft.operators.TextOps.nearDupDropIds]]) can keep zero or several
    * docs of one transitive near-dup group (e.g. pairs (a,c),(b,c) keep
    * both a and b), while keep-one-per-component keeps EXACTLY the
    * smallest member of each group — the SemDeDup/MinHash-cluster policy
    * large-corpus pipelines usually want.
    *
    * Scale shape: each round is one join of the (symmetrized,
    * checkpointed) edge list against the label table on the neighbor key +
    * one min-aggregation — both shuffle on node id, the natural
    * partitioning. Rounds needed = component diameter (tiny for near-dup
    * clusters, which are quasi-cliques; the worst case is a path graph).
    * For billion-edge general graphs prefer the O(log n)-round
    * large-star/small-star variant; plain propagation is the right
    * trade for dedup graphs, whose diameter is small by construction.
    * Lineage is cut per round with localCheckpoint, convergence is an
    * isEmpty on the strictly-improved label set — same driver-steering
    * pattern as [[graft.operators.Dijkstra.reachIterative]].
    *
    * Input: two node-id columns of any orderable type (same type both
    * sides). Output: (id, component), one row per distinct node appearing
    * in `pairs`; singletons never appear (a node with no pairs is its own
    * component by definition — join survivors back against the corpus). */
  def connectedComponents(pairs: DataFrame, srcCol: String = "id1",
                          dstCol: String = "id2", maxIter: Int = 50): DataFrame = {
    // Materialize the pair lineage ONCE before symmetrizing: the two
    // union branches are separate subplans, so an un-cut `pairs` (e.g. a
    // whole MinHash-verify chain) would execute twice inside the sym
    // checkpoint — measured as the dominant cost of q71 at 10× sf0.1.
    val p = pairs.select(col(srcCol).as("id"), col(dstCol).as("nbr"))
      .localCheckpoint()
    val sym = p
      .union(p.select(col("nbr").as("id"), col("id").as("nbr")))
      .distinct()
      .localCheckpoint()
    var labels = sym.select(col("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaNbr = sym.join(labels.select(col("id").as("nbr"),
          col("label")), Seq("nbr"))
        .select(col("id"), col("label"))
      val next = labels.union(viaNbr)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint()
      val improved = next.join(
          labels.select(col("id"), col("label").as("old")), Seq("id"))
        .filter(col("label") < col("old"))
      converged = improved.isEmpty
      labels = next
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds " +
        "(rounds needed = max component diameter)")
    labels.select(col("id"), col("label").as("component"))
  }

  /** k-core decomposition membership: iteratively peel nodes of degree < k
    * until every survivor has degree ≥ k within the surviving subgraph —
    * the standard "dense cohesive subgraph" extractor (graph QA: a street
    * network's 2-core is its loop structure, everything else is dead-end
    * trees; in link/citation graphs the k-core is the spam-resistant
    * kernel). Returns (node, deg) of the k-core, deg measured IN the core.
    *
    * Input: one row per undirected edge (u < v orientation not required;
    * rows are taken as given). A peeling round is one partial-aggregated
    * degree shuffle + two semi-joins of the edge set against the survivor
    * list (AQE picks broadcast once the survivors shrink below the
    * threshold — round 1's list is every node, so no forced hint). Rounds
    * = erosion depth of the graph (how many onion layers the < k fringe
    * cascades through), checkpointed per round so the plan never deepens.
    * Production refinement for huge graphs is batched peeling (remove ALL
    * sub-k nodes each round, which this does) — round count is small for
    * real topologies; the fixpoint is reached when the edge count stops
    * changing, and [[require]]d within maxIter. */
  def kCore(edges: DataFrame, k: Int, srcCol: String = "u",
            dstCol: String = "v", maxIter: Int = 50): DataFrame = {
    var e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .localCheckpoint()
    var nEdges = e.count()
    var iter = 0
    var fixed = false
    while (!fixed && iter < maxIter) {
      val deg = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("node")
      val e2 = e
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
        .localCheckpoint()
      val n2 = e2.count()
      fixed = n2 == nEdges
      e = e2; nEdges = n2
      iter += 1
    }
    require(fixed, s"kCore did not reach a fixpoint within $maxIter rounds")
    e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** Deterministic integer PageRank over a directed edge list — node
    * importance for graph QA and link-based corpus quality signals.
    *
    * Ranks live in MICRO-UNITS (1 000 000 = rank 1.0) and every update is
    * 64-bit integer arithmetic:
    *
    *   contrib(u→v) = rank(u) div outdeg(u)
    *   rank'(v)     = 150 000 + (850 · Σ contrib(·→v)) div 1000
    *
    * Floating-point PageRank is NOT reproducible distributed (double
    * addition is order-dependent, and shuffle order varies run to run);
    * integer mass is associative-commutative, so the result is identical
    * on 1 core or 1000 executors — and bit-checkable against any other
    * engine. The `div` flooring loses ≤outdeg−1 micro-units per node per
    * round (≤1e-3 relative), far below ranking-relevant signal. Dangling
    * nodes (no out-edges) leak their mass — the standard simplification;
    * redistribute upstream if mass conservation matters.
    *
    * A FIXED iteration count (no convergence probe) keeps the whole plan
    * lazy — rounds compose as join + partial-aggregated shuffle on the
    * node id, the same geometry as one [[connectedComponents]] round.
    * iters is small by design (rank mass geometrically settles at 0.85^k);
    * for k ≳ 5 checkpoint between rounds at the call site. */
  /** Per-node triangle counts of an undirected graph — two equi-joins,
    * never an all-pairs pass: orient every edge low-id → high-id (dedup +
    * self-loop drop), enumerate wedges a<b<c by joining (a,b)⋈(b,c), and
    * close each wedge against the oriented edge set (a,c). Each triangle
    * is found exactly once (its id-sorted orientation), then fans out to
    * its three corners for the per-node counts.
    *
    * Scale: wedge volume is Σ_b deg⁺(b)·deg⁻(b) under this orientation.
    * For skewed (power-law) graphs the production refinement is DEGREE
    * ordering instead of id ordering (Suri & Vassilvitskii, WWW'11) —
    * every wedge pivot then has low out-degree, bounding the join fan-out;
    * same plan shape, different rank key. The id orientation keeps the
    * SQL oracle trivial and is exact on the near-regular graphs here. */
  def triangleCounts(edges: DataFrame, srcCol: String = "u",
                     dstCol: String = "v"): DataFrame =
    triangleCountsCanon(canonEdges(edges, srcCol, dstCol))

  /** Canonical undirected edge list (u < v, distinct), built ONCE and
    * shared by every consumer SUBTREE — identical subtrees let Spark's
    * ReusedExchange serve the distinct's shuffle from memory across the
    * wedge join's three sides (measured FASTER than a localCheckpoint
    * here: the lattice input is compute-light, and a checkpoint trades
    * the in-memory reused exchange for a disk round-trip). The fix that
    * mattered for [[clusteringCoeff]] is building this ONE canonical
    * frame instead of two textually-separate ones, which defeated
    * exchange reuse. */
  private def canonEdges(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") < col("v")).distinct()

  private def triangleCountsCanon(e: DataFrame): DataFrame = {
    // shuffle_hash, not the planner's default: the build side here is the
    // EDGE LIST itself, so the auto-broadcast the size estimate picks at
    // small SF becomes a driver-built, driver-shipped hash relation that
    // grows linearly with the graph (the q11 disease — 10× measured the
    // broadcast build as the dominant job; at 100× it is a cliff). A
    // shuffled hash join keeps both sides executor-partitioned on the join
    // key — per-partition build size is |E|/parts, which the partition
    // count absorbs on a real cluster.
    val tri = e.alias("e1")
      .join(e.alias("e2").hint("shuffle_hash"), col("e2.u") === col("e1.v"))
      .join(e.alias("e3").hint("shuffle_hash"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** Local clustering coefficient per node: c(v) = 2·T(v) / (d(v)·(d(v)−1))
    * — the fraction of a node's neighbor pairs that are themselves
    * connected, the standard "how clique-like is this neighborhood"
    * statistic (community structure, link spam, social-graph QA).
    *
    * T(v) comes from [[triangleCounts]] (oriented wedge join, each
    * triangle once); d(v) is the distinct undirected degree. The
    * coefficient is emitted in exact micro-units with the denominator
    * cleared — c_micro = 2·T·10⁶ div (d·(d−1)) — and degree-<2 nodes
    * (no neighbor pairs) emit 0, not null. One extra aggregate + one
    * broadcast-sized join over the triangle table; the wedge join
    * dominates exactly as in triangleCounts. Output:
    * (node, degree, n_tri, c_micro). */
  def clusteringCoeff(edges: DataFrame, srcCol: String = "u",
                      dstCol: String = "v"): DataFrame = {
    val und = canonEdges(edges, srcCol, dstCol) // shared with the wedge join
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // same rationale as the wedge join: the triangle table is node-sized,
    // so let it shuffle on `node` (matching deg's partitioning) instead of
    // broadcasting a graph-sized relation from the driver
    deg.join(triangleCountsCanon(und).hint("shuffle_hash"), Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("degree") < 2, 0L)
          .otherwise(expr("(2 * coalesce(n_tri, 0L) * 1000000) div (degree * (degree - 1))"))
          .as("c_micro"))
  }

  /** Root + depth for every node of a forest via POINTER JUMPING
    * (Wyllie's shortcutting): each round replaces every node's known
    * ancestor with that ancestor's ancestor, accumulating the hop count —
    * the reachable distance DOUBLES per round, so a forest of depth d
    * converges in ⌈log₂ d⌉ self-joins instead of the d chained joins a
    * naive parent walk (or a recursive CTE) needs. At 100 TB that is the
    * whole ballgame: a 10⁶-deep ancestry chain is 20 shuffles, not 10⁶.
    *
    * Contract: `parents` has one row per node; every parent value is
    * itself a node id; roots point at themselves. Depths are exact (the
    * (anc, depth) pair walks real edges — jumping a root adds depth 0,
    * so converged rows are fixpoints of the join, same invariant as
    * [[connectedComponents]]' min-label fold). */
  def pointerJumpRoots(parents: DataFrame, idCol: String = "id",
                       parentCol: String = "parent", maxIter: Int = 40): DataFrame = {
    var state = parents.select(col(idCol).as("id"), col(parentCol).as("anc"),
        when(col(parentCol) === col(idCol), 0L).otherwise(1L).as("depth"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // inner join is total by the every-parent-is-a-node contract; the
      // localCheckpoint cuts the doubling lineage (2^rounds plan nodes).
      // d2 (= the hop this round added) rides along in the checkpoint so
      // the convergence probe — "did any row advance?", previously a
      // SECOND state×state join per round — is a cheap scan of already-
      // materialized partitions: depth changed iff d2 ≠ 0, so the round
      // count (and every depth) is identical to the old old≠new check.
      val s3 = state.select("id", "anc", "depth")
      val next = s3.join(
          s3.select(col("id").as("anc"), col("anc").as("anc2"),
            col("depth").as("d2")), Seq("anc"))
        .select(col("id"), col("anc2").as("anc"),
          (col("depth") + col("d2")).as("depth"), col("d2"))
        .localCheckpoint()
      converged = next.filter(col("d2") =!= 0L).isEmpty
      state = next
      iter += 1
    }
    require(converged, s"pointerJumpRoots did not converge in $maxIter " +
      "rounds (depth would exceed 2^rounds — or a parent is not a node)")
    state.select(col("id"), col("anc").as("root"), col("depth"))
      // d2 stays behind in the checkpoint; the public frame is unchanged
  }

  def pageRank(edges: DataFrame, iters: Int = 5,
               srcCol: String = "u", dstCol: String = "v"): DataFrame = {
    require(iters >= 1, s"bad iters=$iters")
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    // NOT cached on purpose: the fold builds structurally identical
    // `nodes`/`ed` subtrees into every round, and ReuseExchange dedups
    // them within the one physical plan — measured: adding .cache() here
    // grew 20 jobs/1.9 s warm to 37 jobs/3.1 s (cache materialization
    // jobs + InMemoryRelation scans replacing reused shuffle output)
    val nodes = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node"))).distinct()
    val deg = e.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val ed = e.join(deg.withColumnRenamed("node", "u"), Seq("u"))
    val pr0 = nodes.select(col("node"), lit(1000000L).as("rank"))
    (1 to iters).foldLeft(pr0) { case (pr, _) =>
      val contrib = pr.join(ed, pr("node") === ed("u"))
        .select(col("v").as("node"), expr("rank div deg").as("c"))
        .groupBy("node").agg(sum("c").as("in_mass"))
      nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) + expr("(850 * coalesce(in_mass, 0)) div 1000")).as("rank"))
    }
  }

  /** LANDMARK DISTANCE SKETCH (Das Sarma et al. 2010's building block;
    * the classic oracle for approximate shortest-path distance at web
    * scale): hop-bounded multi-source BFS from a deterministic landmark
    * set, emitting the (node, landmark, dist) table that answers
    * d(u, v) ≤ min_l d(u, l) + d(l, v) queries with two hash lookups —
    * the structure you precompute when per-query Dijkstra over 10¹⁰
    * edges is off the table.
    *
    * Landmarks: the `nLandmarks` smallest node ids ≡ 0 (mod `lmMod`) —
    * a pure function of the node set. BFS: `hops` synchronous frontier
    * rounds over the symmetrized edge list; each round is ONE join +
    * one min-aggregate, frontier rows bounded by |V|·|landmarks|, and
    * only nodes FIRST reached in the previous round expand (nodes seen
    * earlier already expanded — textbook BFS work bound). Unweighted on
    * purpose: hop distance keeps every lane integer-exact and the
    * oracle a bounded WITH RECURSIVE replay. */
  def landmarkSketch(nodes: DataFrame, edges: DataFrame, lmMod: Int = 37,
                     nLandmarks: Int = 3, hops: Int = 4): DataFrame = {
    require(lmMod >= 1 && nLandmarks >= 1 && hops >= 0,
      s"bad lmMod=$lmMod nLandmarks=$nLandmarks hops=$hops")
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val lm = nodes.filter(col("node_idx") % lmMod === 0)
      .orderBy("node_idx").limit(nLandmarks)
      .select(col("node_idx").as("landmark"))
    val r0 = lm.select(col("landmark"), col("landmark").as("node"),
      lit(0).as("dist"))
    (1 to hops).foldLeft(r0) { case (reach, h) =>
      val next = reach.filter(col("dist") === h - 1)
        .join(sym, col("node") === col("u"))
        .select(col("landmark"), col("v").as("node"), lit(h).as("dist"))
      reach.union(next)
        .groupBy("landmark", "node").agg(min("dist").as("dist"))
    }
  }

  /** WEIGHTED landmark distance sketch — [[landmarkSketch]] with the
    * reference's actual routing semantics (weighted meters, reference
    * precompute_poi_reach.py:86-125) instead of hop counts: bounded
    * frontier Bellman-Ford from the same deterministic landmark set,
    * `rounds` synchronous relaxation rounds under a meter budget
    * `limitM`. Per round ONE join + one min-aggregate, and only nodes
    * whose distance IMPROVED in the previous round expand — the
    * textbook frontier bound, so total work is Σ|improved_r|·deg, never
    * rounds·|V|·deg. (Frontier-bounded relaxation provably equals full
    * Bellman-Ford's round-k table: a node reaching its ≤k-hop optimum
    * did so through a predecessor that improved at an earlier round and
    * therefore expanded.) Distances ride an exact integer-meter lane
    * (edge weights are integer-valued doubles, Derive.edges), so the
    * oracle is a bounded WITH RECURSIVE path replay: min over all
    * ≤`rounds`-hop paths with every prefix inside `limitM` — identical
    * by weight positivity to the total-only bound both sides apply.
    *
    * At 10¹⁰ edges this is the delta-stepping-shaped precompute you run
    * ONCE per landmark set; `limitM` bounds the frontier ball exactly
    * like the reference's 1000 m reach cutoff bounds its Dijkstra. */
  def landmarkSketchWeighted(nodes: DataFrame, edges: DataFrame,
                             lmMod: Int = 37, nLandmarks: Int = 3,
                             rounds: Int = 4, limitM: Long = 1200L): DataFrame = {
    require(lmMod >= 1 && nLandmarks >= 1 && rounds >= 0 && limitM >= 0,
      s"bad lmMod=$lmMod nLandmarks=$nLandmarks rounds=$rounds limitM=$limitM")
    val sym = edges.select(col("u"), col("v"), col("w"))
      .union(edges.select(col("v").as("u"), col("u").as("v"), col("w")))
    val lm = nodes.filter(col("node_idx") % lmMod === 0)
      .orderBy("node_idx").limit(nLandmarks)
      .select(col("node_idx").as("landmark"))
    var reach = lm.select(col("landmark"), col("landmark").as("node"),
      lit(0L).as("dist_m")).localCheckpoint()
    var frontier = reach
    (1 to rounds).foreach { _ =>
      val cand = frontier.join(sym, col("node") === col("u"))
        .select(col("landmark"), col("v").as("node"),
          (col("dist_m") + col("w").cast("long")).as("dist_m"))
        .filter(col("dist_m") <= limitM)
        .groupBy("landmark", "node").agg(min("dist_m").as("dist_m"))
      val improved = cand
        .join(reach.select(col("landmark"), col("node"),
          col("dist_m").as("old_m")), Seq("landmark", "node"), "left")
        .filter(col("old_m").isNull || col("dist_m") < col("old_m"))
        .select("landmark", "node", "dist_m")
        .localCheckpoint() // cut lineage: each round's plan must not nest the last
      reach = reach.union(improved)
        .groupBy("landmark", "node").agg(min("dist_m").as("dist_m"))
        .localCheckpoint()
      frontier = improved
    }
    reach
  }

  /** NEIGHBORHOOD FUNCTION via mergeable HLL sketches (the HyperBall /
    * ANF algorithm, Boldi-Vigna 2011): |B(v, h)| — how many nodes lie
    * within ≤h hops of v — for EVERY node simultaneously, the primitive
    * behind effective-diameter, closeness-centrality, and reachability
    * profiling at web scale. Per round every node's ball sketch is the
    * HLL union of its own and its neighbors' previous-round sketches —
    * one join + one `hll_union_agg` per hop, constant memory per node
    * (the 2^lgK register array), NEVER materializing the quadratic
    * reach-pair set. That sketch lane is the 100 TB path.
    *
    * The gate lane runs the EXACT ball sizes next to it (bounded-hop
    * reach-pair closure — linear here because lattice balls are O(1),
    * quadratic in general, which is exactly why HyperBall exists) and
    * emits the q87/q199 device: the exact count, engine-agreed, plus a
    * bound flag the oracle can also state (estimate within 5% — at ball
    * sizes ≪ 2^lgK the DataSketches HLL is in exact sparse mode, so the
    * flag is a hard equality in practice). */
  def neighborhoodFunction(nodes: DataFrame, edges: DataFrame, hops: Int = 2,
                           lgK: Int = 12): DataFrame = {
    require(hops >= 1 && lgK >= 4, s"bad hops=$hops lgK=$lgK")
    val sym = edges.select(col("u").as("uu"), col("v").as("vv"))
      .union(edges.select(col("v").as("uu"), col("u").as("vv")))
      .localCheckpoint()
    // exact lane: bounded reach-pair closure (v, member)
    var pairs = nodes.select(col("node_idx").as("v"), col("node_idx").as("m"))
    (1 to hops).foreach { _ =>
      val step = pairs.join(sym, pairs("m") === col("uu"))
        .select(col("v"), col("vv").as("m"))
      pairs = pairs.union(step).distinct().localCheckpoint()
    }
    val exact = pairs.groupBy("v").agg(count(lit(1)).as("exact_ball"))
    // sketch lane: HyperBall rounds over binary HLL sketch columns
    var sk = nodes.groupBy(col("node_idx").as("v"))
      .agg(expr(s"hll_sketch_agg(node_idx, $lgK)").as("sk"))
      .localCheckpoint()
    (1 to hops).foreach { _ =>
      val fromNbr = sk.join(sym, sk("v") === col("uu"))
        .select(col("vv").as("v"), col("sk"))
      sk = sk.select(col("v"), col("sk")).union(fromNbr)
        .groupBy("v").agg(expr("hll_union_agg(sk, true)").as("sk"))
        .localCheckpoint()
    }
    val est = sk.select(col("v"),
      expr("hll_sketch_estimate(sk)").cast("long").as("est_ball"))
    exact.join(est, Seq("v"))
      .select(col("v").as("node"), col("exact_ball"),
        (abs(col("est_ball") - col("exact_ball")) * 100
          <= col("exact_ball") * 5).as("sketch_ok"))
  }

  /** Newman MODULARITY of a node labeling, exact — the quality score
    * that closes the community loop (labelPropagation DETECTS, this
    * SCORES): in the directed-double-counted convention over the same
    * symmetrized distinct edge set label propagation walks,
    *   Q · M² = Σ_c (M·E_c − d_c²)
    * with M = |sym edges| (= 2m), E_c = in-community directed edges and
    * d_c = the community's degree mass. All sums are exact longs (the
    * M·E_c product stays under 2⁶³ to ~10⁸ edges); the global Q lands in
    * sign-safe truncated ppm via a DECIMAL(38) lane. M comes from a
    * window over the COMMUNITY domain — no scalar broadcast join.
    * Output: one row per community (n_nodes, e_in_dir, d_sum, contrib)
    * plus the shared q_ppm. */
  def modularity(edges: DataFrame, labels: DataFrame,
                 srcCol: String = "u", dstCol: String = "v"): DataFrame = {
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    val lab = labels.select(col("node"), col("community")).localCheckpoint()
    val withLab = sym
      .join(lab.select(col("node").as("u"), col("community").as("cu")), Seq("u"))
      .join(lab.select(col("node").as("v"), col("community").as("cv")), Seq("v"))
    val perC = withLab.groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("d_sum"),
        sum(when(col("cu") === col("cv"), 1L).otherwise(0L)).as("e_in_dir"))
    val nNodes = lab.groupBy("community").agg(count(lit(1)).as("n_nodes"))
    val w = Window.partitionBy(lit(1)) // community domain
    perC.join(nNodes, Seq("community"))
      .withColumn("m_dir", sum("d_sum").over(w))
      .withColumn("contrib",
        col("m_dir") * col("e_in_dir") - col("d_sum") * col("d_sum"))
      .withColumn("qtot", sum("contrib").over(w))
      .select(col("community"), col("n_nodes"), col("e_in_dir"), col("d_sum"),
        col("contrib"),
        expr("""CASE WHEN qtot < 0
                |  THEN -(((- CAST(qtot AS DECIMAL(38,0))) * 1000000)
                |         div (CAST(m_dir AS DECIMAL(38,0)) * m_dir))
                |  ELSE ((CAST(qtot AS DECIMAL(38,0))) * 1000000)
                |       div (CAST(m_dir AS DECIMAL(38,0)) * m_dir) END"""
          .stripMargin).as("q_ppm"))
  }

  /** Degree assortativity (Newman, PRL 2002): the Pearson correlation of
    * endpoint degrees over edges — positive = hubs link hubs, negative =
    * hub-and-spoke. In the denominators-cleared integer form over the
    * SYMMETRIZED edge list (each undirected edge counted both ways, which
    * scales num and den by the same factor, leaving r untouched):
    *
    *   r = (4M·Σjk − (Σ(j+k))²) / (2M·Σ(j²+k²) − (Σ(j+k))²)
    *
    * where (j,k) are the endpoint degrees of each directed edge and M the
    * directed edge count. Two hash joins against the |nodes|-row degree
    * table and ONE keyless aggregate — the cross-edge sums live in
    * DECIMAL(38,0) lanes ((Σ(j+k))² passes 2⁶³ past ~10⁸ edges). The
    * ratio is emitted in the sign-safe truncated-ppm form (abs-then-div,
    * sign reapplied — the engines' floor-vs-truncate division difference
    * never fires); den = 0 (a perfectly regular graph) reports NULL.
    * Output: 1 row (m, s_jk, s_j, s_q, r_ppm). */
  def assortativity(edges: DataFrame,
                    srcCol: String = "u", dstCol: String = "v"): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val withDeg = sym
      .join(deg.select(col("node").as("u"), col("deg").as("ju")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("kv")), Seq("v"))
    withDeg.agg(
        count(lit(1)).as("m"),
        sum(col("ju") * col("kv")).as("s_jk"),
        sum(col("ju") + col("kv")).as("s_j"),
        sum(col("ju") * col("ju") + col("kv") * col("kv")).as("s_q"))
      .withColumn("num",
        dec(lit(4)) * dec(col("m")) * dec(col("s_jk")) - dec(col("s_j")) * dec(col("s_j")))
      .withColumn("den",
        dec(lit(2)) * dec(col("m")) * dec(col("s_q")) - dec(col("s_j")) * dec(col("s_j")))
      .select(col("m"), col("s_jk"), col("s_j"), col("s_q"),
        expr("""CASE WHEN den <= 0 THEN NULL
                |     WHEN num < 0 THEN -(((- num) * 1000000) div den)
                |     ELSE (num * 1000000) div den END""".stripMargin).as("r_ppm"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) — `iters` synchronous
    * rounds in exact integer milli-units over the DIRECTED edge list:
    *   h(u) = Σ_{u→v} a(v), then renormalize to max |h| = 1000;
    *   a(v) = Σ_{u→v} h(u), then renormalize likewise.
    * The div-by-max renormalization is an integer recurrence both engines
    * replay exactly (the q180 power-iteration discipline), and the max
    * itself comes from a 1-row broadcast (allowlisted scalar shape).
    * Scores start at a(v) = 1000 for every node; nodes with no out-edges
    * keep h = 0 (resp. in-edges, a = 0) via the left join. Per round: two
    * hash joins + two keyed aggregates — no windows, no collects; the
    * edge table is materialized once and reused. */
  def hits(edges: DataFrame, iters: Int = 3,
           srcCol: String = "u", dstCol: String = "v"): DataFrame = {
    require(iters >= 1, s"bad iters=$iters")
    // localCheckpoint both shared tables: every one of the 2·iters
    // gathers re-reads them, and unlike pageRank's single-fold plan the
    // alternating h/a recursion nests joins too deep for ReuseExchange —
    // measured 14.6 s at sf0.1 uncheckpointed (data-independent Catalyst
    // re-optimization), 2.9 s with the lineage severed
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .localCheckpoint()
    val nodes = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node"))).distinct()
      .localCheckpoint()
    def renorm(df: DataFrame, c: String): DataFrame =
      df.crossJoin(broadcast(df.agg(max(abs(col(c))).as("mx"))))
        .select(col("node"),
          expr(s"CASE WHEN mx = 0 THEN CAST(0 AS BIGINT) ELSE ($c * 1000) div mx END")
            .as(c))
    def gather(scores: DataFrame, scoreCol: String, outCol: String,
               joinOn: String, groupOn: String): DataFrame =
      nodes.join(
        e.join(scores.select(col("node").as(joinOn), col(scoreCol)), Seq(joinOn))
          .groupBy(col(groupOn).as("node")).agg(sum(scoreCol).as(outCol)),
        Seq("node"), "left")
        .select(col("node"), coalesce(col(outCol), lit(0L)).as(outCol))
    var a = nodes.select(col("node"), lit(1000L).as("a"))
    var h = nodes.select(col("node"), lit(0L).as("h"))
    for (_ <- 1 to iters) {
      // sever each half-round: the alternating recursion otherwise nests
      // 4·iters joins into ONE plan and Catalyst re-optimization
      // dominates wall time (measured at sf0.1: 14.6 s fully nested,
      // 8.2 s severed only at the inputs, 3.0 s severed per round — the
      // score frames are |nodes| rows, so materialization is noise)
      h = renorm(gather(a, "a", "h", joinOn = "v", groupOn = "u"), "h")
        .localCheckpoint()
      a = renorm(gather(h, "h", "a", joinOn = "u", groupOn = "v"), "a")
        .localCheckpoint()
    }
    h.join(a, Seq("node")).select(col("node"), col("h"), col("a"))
  }
}
