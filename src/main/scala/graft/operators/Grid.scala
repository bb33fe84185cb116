package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Tile-lattice generation and spatial partition assignment (SURVEY.md §2.8
  * G5, §2.7 F11, §4 buffer-replication convention).
  *
  * The reference lays a lattice of tile_km × tile_km tiles over a bbox,
  * anchored at the TOP-RIGHT corner, each with a buffer_km buffer bbox
  * (grid_creation.py:47-104); per-tile files then give the pipeline its
  * partition-parallelism. Here the lattice is a deterministic generated
  * table (`spark.range` + column math — no driver loop), and tile
  * assignment is CLOSED-FORM: because the lattice is regular, the candidate
  * tile indices of any point are a constant-size arithmetic range — no
  * spatial join, no BroadcastNestedLoop, O(1) per row. That is what makes
  * partition-by-grid_id viable on a 100 TB point table.
  */
object Grid {

  /** All lattice constants, precomputed driver-side (reference
    * compute_degrees + generate_tiles_with_buffers preamble,
    * grid_creation.py:39-66). The doubles are embedded as literals in both
    * the DataFrame plan and the SQL oracle mirror, so downstream arithmetic
    * is bit-identical across engines. */
  final case class Lattice(minlon: Double, minlat: Double,
                           maxlon: Double, maxlat: Double,
                           tileKm: Double, bufferKm: Double) {
    val kmPerDegLat = 111.32 // reference grid_creation.py:15
    private def kmPerDegLon(latDeg: Double): Double =
      math.max(kmPerDegLat * math.cos(math.toRadians(latDeg)), 1e-9)
    val dlatTile: Double = tileKm / kmPerDegLat
    val dlonTile: Double = tileKm / kmPerDegLon(maxlat)
    val dlatBuf: Double = bufferKm / kmPerDegLat
    val dlonBuf: Double = bufferKm / kmPerDegLon(maxlat)
    val halfLon: Double = 0.5 * dlonTile
    val halfLat: Double = 0.5 * dlatTile
    val firstCenterLon: Double = maxlon - 0.5 * dlonTile
    val firstCenterLat: Double = maxlat - 0.5 * dlatTile
    val nCols: Int =
      math.ceil((firstCenterLon - (minlon - 0.5 * dlonTile)) / dlonTile).toInt + 1
    val nRows: Int =
      math.ceil((firstCenterLat - (minlat - 0.5 * dlatTile)) / dlatTile).toInt + 1
  }

  /** G5: the tile table — one row per lattice cell overlapping the bbox.
    * Columns: grid_id, row, col, centroid (c_lon,c_lat), tile bbox (t_*),
    * buffer bbox (b_*). */
  def tiles(spark: SparkSession, l: Lattice): DataFrame = {
    import graft.functions.GeoFunctions.gridId
    val ci = (col("id") % l.nCols).cast("int").as("col")
    val ri = (col("id") / l.nCols).cast("int").as("row")
    val base = spark.range(l.nCols.toLong * l.nRows).select(ri, ci)
      .withColumn("c_lon", lit(l.firstCenterLon) - col("col") * lit(l.dlonTile))
      .withColumn("c_lat", lit(l.firstCenterLat) - col("row") * lit(l.dlatTile))
      .withColumn("t_minlon", col("c_lon") - lit(l.halfLon))
      .withColumn("t_maxlon", col("c_lon") + lit(l.halfLon))
      .withColumn("t_minlat", col("c_lat") - lit(l.halfLat))
      .withColumn("t_maxlat", col("c_lat") + lit(l.halfLat))
    base
      // reference's overlap `continue` filters (grid_creation.py:73-80)
      .filter(!(col("t_maxlon") <= l.minlon || col("t_minlon") >= l.maxlon))
      .filter(!(col("t_maxlat") <= l.minlat || col("t_minlat") >= l.maxlat))
      .withColumn("b_minlon", col("t_minlon") - lit(l.dlonBuf))
      .withColumn("b_maxlon", col("t_maxlon") + lit(l.dlonBuf))
      .withColumn("b_minlat", col("t_minlat") - lit(l.dlatBuf))
      .withColumn("b_maxlat", col("t_maxlat") + lit(l.dlatBuf))
      .withColumn("grid_id", gridId(col("row"), col("col")))
      .select("grid_id", "row", "col", "c_lon", "c_lat",
        "t_minlon", "t_minlat", "t_maxlon", "t_maxlat",
        "b_minlon", "b_minlat", "b_maxlon", "b_maxlat")
  }

  /** Buffer-replicated tile assignment: one output row per (point, tile
    * whose BUFFER bbox contains it) — the §4 overlap-replication
    * convention that makes tile-local routing exact near borders.
    *
    * Candidate (row, col) ranges come from inverting the lattice equation
    * (constant work per point, conservatively widened by one cell); the
    * exact closed-interval containment predicate then decides membership,
    * so fp drift in the candidate bound can't change results. Appends
    * (row, col, grid_id). */
  def assignBuffered(points: DataFrame, l: Lattice,
                     lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    import graft.functions.GeoFunctions.gridId
    val lon = col(lonCol); val lat = col(latCol)
    def clampSeq(lo: Column, hi: Column, max: Int): Column =
      sequence(greatest(lo, lit(0)).cast("int"),
        least(hi, lit(max - 1)).cast("int"))
    // c_lon(ci) = F - ci*d must lie within [lon - half - buf, lon + half + buf]
    val cLo = ceil((lit(l.firstCenterLon) - lon - lit(l.halfLon) - lit(l.dlonBuf)) / lit(l.dlonTile)) - 1
    val cHi = floor((lit(l.firstCenterLon) - lon + lit(l.halfLon) + lit(l.dlonBuf)) / lit(l.dlonTile)) + 1
    val rLo = ceil((lit(l.firstCenterLat) - lat - lit(l.halfLat) - lit(l.dlatBuf)) / lit(l.dlatTile)) - 1
    val rHi = floor((lit(l.firstCenterLat) - lat + lit(l.halfLat) + lit(l.dlatBuf)) / lit(l.dlatTile)) + 1
    val cands = points
      .withColumn("row", explode(clampSeq(rLo, rHi, l.nRows)))
      .withColumn("col", explode(clampSeq(cLo, cHi, l.nCols)))
    val cLonT = lit(l.firstCenterLon) - col("col") * lit(l.dlonTile)
    val cLatT = lit(l.firstCenterLat) - col("row") * lit(l.dlatTile)
    val tMinLon = cLonT - lit(l.halfLon); val tMaxLon = cLonT + lit(l.halfLon)
    val tMinLat = cLatT - lit(l.halfLat); val tMaxLat = cLatT + lit(l.halfLat)
    cands
      // same overlap filter as tiles(): a cell pruned there must not match here
      .filter(!(tMaxLon <= l.minlon || tMinLon >= l.maxlon))
      .filter(!(tMaxLat <= l.minlat || tMinLat >= l.maxlat))
      .filter(lon >= tMinLon - lit(l.dlonBuf) && lon <= tMaxLon + lit(l.dlonBuf) &&
        lat >= tMinLat - lit(l.dlatBuf) && lat <= tMaxLat + lit(l.dlatBuf))
      .withColumn("grid_id", gridId(col("row"), col("col")))
  }

  /** Owner-tile assignment — the dedup counterpart of [[assignBuffered]]'s
    * replication: exactly ONE (row, col, grid_id) per point, the tile whose
    * center is nearest (closed-form inversion of the lattice equation, no
    * join, no explode). For interior points nearest-center IS tile-bbox
    * containment (tiles are center±half with spacing = width); points on a
    * shared tile edge tie-break to the HIGHER index — the lower-coordinate
    * tile, since index grows as coordinates fall: x = (firstCenter−coord)/d
    * lands on k+0.5 and floor(x+0.5) = k+1 — which is deterministic and
    * always one of the tiles [[assignBuffered]] replicated the point into. Results computed per buffered tile are
    * made globally exact by keeping only each node's owner-tile row
    * (SURVEY §4; reference grid_creation.py:235-236 buffer convention). */
  def assignOwner(points: DataFrame, l: Lattice,
                  lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    import graft.functions.GeoFunctions.gridId
    def clamp(c: Column, max: Int): Column =
      least(greatest(c, lit(0)), lit(max - 1)).cast("int")
    val ci = clamp(floor((lit(l.firstCenterLon) - col(lonCol)) / lit(l.dlonTile) + 0.5), l.nCols)
    val ri = clamp(floor((lit(l.firstCenterLat) - col(latCol)) / lit(l.dlatTile) + 0.5), l.nRows)
    points.withColumn("row", ri).withColumn("col", ci)
      .withColumn("grid_id", gridId(col("row"), col("col")))
  }

  /** Grid-density clustering (the cell-granular DBSCAN every large-scale
    * spatial pipeline actually runs — GriDBSCAN / "grid DBSCAN" family):
    * points are reduced to lattice cells (cy, cx) = (⌊lat·inv⌋, ⌊lon·inv⌋),
    * a cell is DENSE when its point count strictly exceeds the mean cell
    * occupancy (the q98 device: a data-relative threshold, exact integer
    * `total div n_cells`, so the gate is meaningful at every scale), and
    * clusters are the connected components of dense cells under
    * 8-neighbor adjacency.
    *
    * Scale shape: ONE shuffle reduces N points to the bounded cell
    * domain; everything after — the 8-offset explode, the neighbor
    * equi-join (never a spatial range join), and the component rounds —
    * runs on dense cells only. Self-pairs keep isolated dense cells as
    * singleton clusters. Cell ids pack as cy·10⁶ + cx (valid for any
    * |cx| < 10⁶ lattice, required positive); the cluster label is the
    * component-min cell id. Output per cluster: (cluster, n_cells,
    * n_points, min_cy, max_cy, min_cx, max_cx). */
  def gridDensityClusters(points: DataFrame, invCellDeg: Double,
                          lonCol: String = "lon",
                          latCol: String = "lat"): DataFrame = {
    val cells = points.select(
        floor(col(latCol) * lit(invCellDeg)).cast("long").as("cy"),
        floor(col(lonCol) * lit(invCellDeg)).cast("long").as("cx"))
      .groupBy("cy", "cx").agg(count(lit(1)).as("n_pts"))
    // feeds offsets, the join probe, AND the labeling
    val dense = Materialize.cut(cells
      .withColumn("mean_occ",
        expr("sum(n_pts) OVER () div count(n_pts) OVER ()"))
      .filter(col("n_pts") > col("mean_occ"))
      .select(col("cy"), col("cx"), col("n_pts"),
        (col("cy") * 1000000L + col("cx")).as("cell_id")))
    val offsets = Seq((-1L, -1L), (-1L, 0L), (-1L, 1L), (0L, -1L),
      (0L, 1L), (1L, -1L), (1L, 0L), (1L, 1L))
    val nbr = dense.select(col("cell_id").as("id1"),
        explode(array(offsets.map { case (dy, dx) =>
          ((col("cy") + dy) * 1000000L + (col("cx") + dx))
        }: _*)).as("id2"))
      .join(dense.select(col("cell_id").as("id2")), Seq("id2"))
      .select("id1", "id2")
    val selfPairs = dense.select(col("cell_id").as("id1"),
      col("cell_id").as("id2"))
    val labels = GraphOps.connectedComponents(nbr.union(selfPairs))
      .select(col("id").as("cell_id"), col("component").as("cluster"))
    dense.join(labels, Seq("cell_id"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_cells"), sum("n_pts").as("n_points"),
        min("cy").as("min_cy"), max("cy").as("max_cy"),
        min("cx").as("min_cx"), max("cx").as("max_cx"))
  }
}
