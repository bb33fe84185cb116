package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.GeoFunctions._

/** The user-facing query layer (SURVEY.md §3.3, reference entry point C —
  * poi_query.py): snap a (lon, lat) to its nearest graph node, look the
  * node up in the precomputed reach table, filter by radius, sort by
  * distance.
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
    * One left-outer equi-join on the cell keys (×9 point fan-out) and
    * one candidate aggregate per point follow: min(struct(d², node_idx,
    * lon, lat)), so the winner and its d² come out of one expression with
    * the deterministic (d², node_idx) tie-break. A point whose candidate
    * winner has d² ≤ g² is the GLOBAL argmin — every node at d² ≤ g², ties
    * included, is a candidate. The aggregate is cut eagerly
    * ([[graft.Materialize.cutCounting]]) and its job counts the points the
    * neighborhood can't decide (no candidate, or the winner beyond the
    * guarantee radius — their snap is −1, but the reported snap_dist_m
    * must still be the true nearest's). Only when that count is above 0 is
    * the brute-force argmin planned, over those points alone, with the
    * same candidate expression; otherwise no points × nodes product
    * exists in the plan. The result is bit-equal to the all-pairs form
    * (q38's oracle pins it).
    *
    * The call is eager: it runs the cut, and the returned frame reads the
    * small materialized snap, which AQE can broadcast into a later join
    * (pointQuery's reach lookup).
    *
    * Every input point yields exactly one row. A point with a null
    * coordinate, or any point when no node has coordinates, gets
    * node_idx −1 and a null snap_dist_m.
    *
    * `points` must have (query_id, lon, lat). */
  def snapPoints(points: DataFrame, nodes: DataFrame,
                 maxSnapM: Double = 300.0): DataFrame = {
    val pts = points.select(col("query_id"), col("lon").as("q_lon"), col("lat").as("q_lat"))
    val nodeCols = Seq(col("node_idx"), col("lon"), col("lat"))
    val d2 = equirectDist2(col("q_lon"), col("q_lat"), col("lon"), col("lat"))
    // a row without a distance (unmatched left-outer row, null coordinate)
    // is no candidate: min skips a null struct
    val pick = min(when(d2.isNotNull, struct(d2.as("d2") +: nodeCols: _*))).as("nn")
    val g = maxSnapM / R_QUERY_M // guarantee radius in equirect radians
    val aDeg = math.toDegrees(g) // row height, degrees
    def row(lat: Column): Column = floor(lat / lit(aDeg)).cast("long")
    def width(r: Column): Column = {
      val far = least(lit(90.0), greatest(abs((r - 1) * aDeg), abs((r + 2) * aDeg)))
      lit(aDeg) / greatest(cos(radians(far)), lit(1e-9))
    }
    val nx = nodes.select(nodeCols :+ row(col("lat")).as("cy"): _*)
      .withColumn("cx", floor(col("lon") / width(col("cy"))).cast("long"))
    val neighbors = array((-1 to 1).map(lit): _*)
    val rep = pts
      .withColumn("dy", explode(neighbors))
      .withColumn("cy", row(col("q_lat")) + col("dy"))
      .withColumn("dx", explode(neighbors))
      .select(col("query_id"), col("q_lon"), col("q_lat"), col("cy"),
        (floor(col("q_lon") / width(col("cy"))).cast("long") + col("dx")).as("cx"))
    val undecided = col("q_lon").isNotNull && col("q_lat").isNotNull &&
      (col("nn").isNull || col("nn.d2") > lit(g * g))
    val (nn, nUndecided) = Materialize.cutCounting(
      rep.join(nx, Seq("cx", "cy"), "left_outer")
        .groupBy("query_id", "q_lon", "q_lat").agg(pick),
      undecided)
    val snapped =
      if (nUndecided == 0) nn
      else nn.filter(!undecided).unionByName(nn.filter(undecided)
        .select("query_id", "q_lon", "q_lat")
        // left outer, so a point survives an empty node table
        .join(nodes.select(nodeCols: _*), lit(true), "left_outer")
        .groupBy("query_id", "q_lon", "q_lat").agg(pick))
    snapped
      .withColumn("snap_dist_m",
        haversineM(col("q_lon"), col("q_lat"), col("nn.lon"), col("nn.lat")))
      .select(col("query_id"),
        when(col("snap_dist_m") <= maxSnapM, col("nn.node_idx")).otherwise(lit(-1)).as("node_idx"),
        col("snap_dist_m"))
  }

  /** P7 + W6 + U4: per-category reach lookup for snapped query points.
    * Returns only rows within `radiusM` (the in-range split; out-of-range =
    * anti-join recoverable downstream), sorted for display (S15 analog). */
  def pointQuery(snapped: DataFrame, reach: DataFrame, radiusM: Double): DataFrame =
    snapped
      .filter(col("node_idx") >= 0)
      .join(reach, Seq("node_idx"))
      .filter(col("dist_m") <= radiusM)
      .select(col("query_id"), col("category"), col("dist_m"), col("time_s"), col("poi_id"))

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
