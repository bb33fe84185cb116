package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GeoFunctions._

/** The user-facing query layer (SURVEY.md §3.3, reference entry point C —
  * poi_query.py): snap a (lon, lat) to its nearest graph node, look the
  * node up in the precomputed reach table, filter by radius (the caller
  * sorts for display, as q38 does).
  *
  * The reach table is the materialized view the whole design rests on
  * (precompute-then-O(1)-lookup split, reference precompute_poi_reach.py:
  * 4-9 / poi_query.py:89-99): point queries never touch the graph.
  */
object QueryLayer {

  /** J4: snap query points to nearest nodes — equirectangular d² pre-rank
    * over all nodes, exact haversine refine on the winner, −1 beyond
    * `maxSnapM` (reference poi_query.py:21-47 brute-force scan + the
    * cKDTree cutoff variant, test_path.py:262-268).
    *
    * Input contract: `points` (query_id, lon, lat) is a query batch the
    * driver holds — a single point, a client's batch, q38's nodes/300
    * probes. Its rows, with their probe cells, are collected; bulk
    * snapping (every POI of a map) is [[SnapJoin.nearestNode]].
    *
    * Scale shape (round-7 SCALECHECK caught the original
    * points × nodes crossJoin at 19.9× on 10× data — 100× candidate
    * growth): nodes and points are bucketed on a degree grid whose rows
    * are the guarantee radius g = maxSnapM / R tall (aDeg degrees; row
    * r = floor(lat / aDeg)) and whose cells in row r are
    * aDeg / cos(max(|(r−1)·aDeg|, |(r+2)·aDeg|)) wide — the widest
    * |lat| of rows r−1..r+1, capped at 90° (cos floored at 1e-9, so
    * polar rows degrade to one world-spanning cell: still exact, only
    * lon pruning is lost). A point looks in its own row ±1 and, in each
    * such row, at its cell ±1 under that row's width. Guarantee: a node
    * within g of a point lies in the point's row ±1; the point's
    * latitude then lies in rows r−1..r+1 of the node's row r, so
    * width(r) ≥ aDeg / cos(q_lat) ≥ |Δlon|, i.e. the node is in one of
    * the 3×3 cells the point probes. The width is a function of the row
    * alone, so no aggregate over the data (such as a max |lat|) is
    * needed — including for points outside the nodes' latitude range,
    * whose probed rows carry their own, wider, widths.
    *
    * Candidate pass: the driver collects the points with their 3×3
    * probe cells (no job when `points` is a local relation) and hands
    * them to the executors as a literal map, cell → the points (id,
    * q_lon, q_lat) probing it; each node row looks its own cell up and
    * explodes what it finds: one job, no join, no broadcast. Each node
    * partition keeps its best (d², node_idx, lon, lat) per point and the
    * driver merges the partitions' bests — the order of Spark's
    * min(struct(d², node_idx, lon, lat)), doubles compared as SQL
    * compares them, so the (d², node_idx) tie-break is deterministic. A
    * point whose winner has d² ≤ g² holds the GLOBAL argmin — every node
    * at d² ≤ g², ties included, is a candidate. A point the neighborhood
    * can't decide (no candidate, or the winner beyond the guarantee
    * radius — its snap is −1, but the reported snap_dist_m must still be
    * the true nearest's) goes to one more pass over a literal array of
    * the undecided points, run only when such a point exists. The result
    * is bit-equal to the all-pairs form (q38's oracle pins it).
    *
    * The call is eager and returns a local relation: one row per
    * distinct (query_id, lon, lat) — duplicate input rows, and copies
    * of a point that differ only in the sign of a zero coordinate (or
    * in a NaN's bits), collapse to one row, as a SQL GROUP BY on those
    * three columns does. A point with a null coordinate, or any point
    * when no node has coordinates, gets node_idx −1 and a null
    * snap_dist_m. */
  def snapPoints(points: DataFrame, nodes: DataFrame,
                 maxSnapM: Double = 300.0): DataFrame = {
    val spark = points.sparkSession
    val pts = points.select(col("query_id"), col("lon").as("q_lon"), col("lat").as("q_lat"))
    val nodeCols = Seq(col("node_idx"), col("lon"), col("lat"))
    val g = maxSnapM / R_QUERY_M // guarantee radius in equirect radians
    val aDeg = math.toDegrees(g) // row height, degrees
    def row(lat: Column): Column = floor(lat / lit(aDeg)).cast("long")
    def width(r: Column): Column = {
      val far = least(lit(90.0), greatest(abs((r - 1) * aDeg), abs((r + 2) * aDeg)))
      lit(aDeg) / greatest(cos(radians(far)), lit(1e-9))
    }
    val nx = nodes.select(nodeCols :+ row(col("lat")).as("cy"): _*)
      .withColumn("cx", floor(col("lon") / width(col("cy"))).cast("long"))
    // a point's three probed rows, each with the point's cell under the
    // row's width; the cells either side of it are probed too
    val probes = array((-1 to 1).map { dy =>
      val cy = row(col("q_lat")) + dy
      struct(cy.as("cy"), floor(col("q_lon") / width(cy)).cast("long").as("cx"))
    }: _*)
    // distinct points (GROUP BY keys) in input order, each with its cells
    // and, if it has both coordinates, its probe (copies probe as one)
    val byKey = mutable.LinkedHashMap.empty[Seq[Any], (Seq[Any], Option[Probe], Seq[Row])]
    pts.select(col("*"), col("q_lon").cast("double"), col("q_lat").cast("double"), probes)
      .collect().foreach { r =>
        val key = Seq(r.get(0), r.get(1), r.get(2)).map(groupKey)
        def at = Option.when(!r.isNullAt(3) && !r.isNullAt(4))(
          Probe(byKey.size, r.getDouble(3), r.getDouble(4)))
        byKey.getOrElseUpdate(key.map(hashable), (key, at, r.getSeq[Row](5)))
      }
    val (keys, at, cells) = byKey.values.toIndexedSeq.unzip3
    val byCell = at.zip(cells).flatMap { case (p, cs) =>
      for { q <- p.toSeq; c <- cs; dx <- -1 to 1 } yield Cell(c.getLong(0), c.getLong(1) + dx) -> q
    }.groupMap(_._1)(_._2)
    val near = nearest(nx, element_at(typedLit(byCell), struct(col("cy"), col("cx"))))
    val undecided = at.flatten.filter(p =>
      near.get(p.pid).forall(c => SQLOrderingUtil.compareDoubles(c.d2, g * g) > 0))
    val snapped = if (undecided.isEmpty) near else near ++ nearest(nx, typedLit(undecided))
    val nodeType = nodes.select(nodeCols: _*).schema.fields.map(_.copy(nullable = true))
    val nnType = StructType(StructField("d2", DoubleType) +: nodeType)
    val out = spark.createDataFrame(keys.indices.map { pid =>
      Row(keys(pid) :+ snapped.get(pid).map(c => Row(c.d2, c.node, c.lon, c.lat)).orNull: _*)
    }.asJava, StructType(pts.schema.fields.map(_.copy(nullable = true)) :+ StructField("nn", nnType)))
      .withColumn("snap_dist_m",
        haversineM(col("q_lon"), col("q_lat"), col("nn.lon"), col("nn.lat")))
      .select(col("query_id"),
        when(col("snap_dist_m") <= maxSnapM, col("nn.node_idx")).otherwise(lit(-1)).as("node_idx"),
        col("snap_dist_m"))
    // a projection of a local relation: collected without a job
    spark.createDataFrame(out.collect().toSeq.asJava, out.schema)
  }

  /** A query point as a pass over the nodes reads it, and a grid cell. */
  private case class Probe(pid: Int, q_lon: Double, q_lat: Double)
  private case class Cell(cy: Long, cx: Long)

  /** One candidate: a node's d² to a point and the node's columns. */
  private case class Cand(d2: Double, node: Any, lon: Any, lat: Any)

  /** A value as a SQL GROUP BY key sees it: −0.0 is 0.0, every NaN one NaN. */
  private def groupKey(v: Any): Any = v match {
    case d: Double => if (d.isNaN) Double.NaN else d + 0.0
    case f: Float => if (f.isNaN) Float.NaN else f + 0.0f
    case other => other
  }

  /** A [[groupKey]] value as a hash key: Scala's == has NaN ≠ NaN. */
  private def hashable(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case f: Float => java.lang.Float.floatToIntBits(f)
    case other => other
  }

  /** SQL ascending order of one struct field: null first, doubles and
    * floats by [[SQLOrderingUtil]] (NaN last, −0.0 = 0.0). */
  private def sqlCompare(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Double, y: Double) => SQLOrderingUtil.compareDoubles(x, y)
    case (x: Float, y: Float) => SQLOrderingUtil.compareFloats(x, y)
    case (x: Comparable[Any @unchecked], y) => x.compareTo(y)
  }

  /** min(struct(d², node_idx, lon, lat))'s order. */
  private val byCand: Ordering[Cand] = (a, b) => {
    val d = SQLOrderingUtil.compareDoubles(a.d2, b.d2)
    if (d != 0) d
    else Iterator((a.node, b.node), (a.lon, b.lon), (a.lat, b.lat))
      .map { case (x, y) => sqlCompare(x, y) }.find(_ != 0).getOrElse(0)
  }

  /** Per point id, the least candidate among the points each node row
    * explodes from `probed`: each partition keeps its best per point, the
    * driver merges them. A row without a d² (a null coordinate) is no
    * candidate, as min skips a null struct. */
  private def nearest(nodes: DataFrame, probed: Column): Map[Int, Cand] = {
    val d2 = equirectDist2(col("p.q_lon"), col("p.q_lat"), col("lon"), col("lat"))
    nodes.select(col("node_idx"), col("lon"), col("lat"), explode(probed).as("p"))
      .select(col("p.pid"), d2.as("d2"), col("node_idx"), col("lon"), col("lat"))
      .filter(col("d2").isNotNull)
      .rdd.mapPartitions { rows =>
        val best = mutable.HashMap.empty[Int, Cand]
        rows.foreach { r =>
          val c = Cand(r.getDouble(1), r.get(2), r.get(3), r.get(4))
          if (best.get(r.getInt(0)).forall(byCand.gt(_, c))) best(r.getInt(0)) = c
        }
        best.iterator
      }.collect()
      .groupMapReduce(_._1)(_._2)(byCand.min)
  }

  /** P7 + W6 + U4: per-category reach lookup for snapped query points:
    * the equi-join of `snapped` and `reach` on node_idx, rows within
    * `radiusM` only (out-of-range = anti-join recoverable downstream), in
    * no particular order. The snapped keys and their query ids are
    * collected (no job for a local `snapped`, as [[snapPoints]] gives);
    * reach is filtered to the keys with `isin` — read from JDBC as `WHERE
    * node_idx IN (…)`, the O(1) lookup of reference poi_query.py; no key,
    * no scan — and each row left explodes its ids from a literal map. */
  def pointQuery(snapped: DataFrame, reach: DataFrame, radiusM: Double): DataFrame = {
    val (keyType, idType) = (reach.schema("node_idx").dataType, snapped.schema("query_id").dataType)
    val pairs = snapped.filter(col("node_idx") >= 0)
      .select(col("node_idx").cast(keyType), col("query_id")).collect().map(r => (r.get(0), r.get(1)))
    val keys = pairs.map(_._1).distinct.toSeq
    val byNode = map(pairs.groupMap(_._1)(_._2).toSeq.flatMap { case (k, ids) =>
      Seq(lit(k), array(ids.toSeq.map(lit): _*)) }: _*).cast(MapType(keyType, ArrayType(idType)))
    reach.filter(col("node_idx").isin(keys: _*) && col("dist_m") <= radiusM)
      .select(explode(element_at(byNode, col("node_idx"))).as("query_id"),
        col("category"), col("dist_m"), col("time_s"), col("poi_id"))
  }

  /** P8: distance-window node filter with k-nearest fallback — keep nodes
    * within `radiusM` of the center; if NONE qualify, fall back to the k
    * nearest (reference test_path.py:337-343). One aggregation pass decides
    * which branch applies — no driver round-trip, and the global ranking
    * window sits BEHIND an `n_in === 0` filter, so in the common (non-empty
    * radius) case it sorts zero rows instead of the whole node table. */
  def nodesNear(nodes: DataFrame, lon: Double, lat: Double,
                radiusM: Double, fallbackK: Int = 200): DataFrame = {
    val d = haversineM(lit(lon), lit(lat), col("lon"), col("lat"))
    val withD = nodes.withColumn("center_dist_m", d)
    val anyIn = broadcast(withD.agg(
      coalesce(sum(when(col("center_dist_m") <= radiusM, 1L)), lit(0L)).as("n_in")))
    val inRadius = withD.crossJoin(anyIn)
      .filter(col("n_in") > 0 && col("center_dist_m") <= radiusM)
    val w = Window.orderBy(col("center_dist_m"), col("node_idx"))
    val fallback = withD.crossJoin(anyIn)
      .filter(col("n_in") === 0) // empty unless the radius found nothing
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= fallbackK)
      .drop("rnk")
    inRadius.unionByName(fallback).drop("n_in")
  }

  /** S4: bbox crop — the osmium-extract analog. `completeWays` keeps every
    * node of any way with at least one node inside the bbox (osmium's
    * `-s complete_ways`, reference extract_map_from_json.py:60-74):
    * in-bbox nodes → semi-join to their ways → semi-join back to members. */
  def cropToBbox(nodes: DataFrame, minLon: Double, minLat: Double,
                 maxLon: Double, maxLat: Double): DataFrame =
    nodes.filter(
      col("lon").between(minLon, maxLon) && col("lat").between(minLat, maxLat))

  def cropCompleteWays(wayMembers: DataFrame, // (way_id, node_id, lon, lat)
                       minLon: Double, minLat: Double,
                       maxLon: Double, maxLat: Double): DataFrame = {
    val inBox = cropToBbox(wayMembers, minLon, minLat, maxLon, maxLat)
    val keepWays = inBox.select("way_id").distinct()
    wayMembers.join(keepWays, Seq("way_id"), "left_semi")
  }

  /** S5/A6: element counts by type (osmium count analog; empty-extract
    * deletion pairs it with the q05 anti-join). */
  def countsByType(elements: DataFrame, typeCol: String = "key"): DataFrame =
    elements.groupBy(col(typeCol).as("type")).agg(count(lit(1)).as("n"))

  /** A7: the accuracy scalar over a validation table with the reference's
    * tolerance rule — passed ⇔ |map_m − algo_m| ≤ tolerance + offset_m
    * (Documents/metrics.csv methodology, 0.93 baseline). */
  def accuracy(validation: DataFrame, toleranceM: Double = 20.0): DataFrame =
    validation
      .withColumn("passed",
        when(abs(col("map_m") - col("algo_m")) <= lit(toleranceM) + col("offset_m"), 1)
          .otherwise(0))
      .agg((sum("passed") / count(lit(1))).as("accuracy"), count(lit(1)).as("n_cases"))
}
