package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar geo functions (SURVEY.md §2.7, F1-F12).
  *
  * All are pure Column expressions built from `org.apache.spark.sql.functions`
  * trig/math built-ins, so they stay inside whole-stage codegen — no UDFs.
  *
  * The reference uses three distinct Earth radii depending on call-site
  * (reference: graph_construction.py:165, test_path.py:233, grid_creation.py:108);
  * radius is therefore an explicit parameter here, with named constants.
  */
object GeoFunctions {

  /** Earth radius used for graph edge weights (reference graph_construction.py:165). */
  val R_GRAPH_M: Double = 6371008.8
  /** Earth radius used for query/snap distances (reference poi_query.py:29, test_path.py:233). */
  val R_QUERY_M: Double = 6371000.0
  /** Earth radius (km) used for grid centroid distances (reference grid_creation.py:108). */
  val R_GRID_KM: Double = 6371.0088

  private def rad(c: Column): Column = radians(c)

  /** Haversine "a" term: sin²(Δφ/2) + cosφ1·cosφ2·sin²(Δλ/2). */
  private def sq(c: Column): Column = c * c

  private def haversineA(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    // explicit x*x, not pow(x,2): IEEE multiply is bit-identical across
    // engines, libm pow() is not — required for DuckDB-oracle hash parity
    val dLat = rad(lat2) - rad(lat1)
    val dLon = rad(lon2) - rad(lon1)
    sq(sin(dLat / 2)) + cos(rad(lat1)) * cos(rad(lat2)) * sq(sin(dLon / 2))
  }

  /** Great-circle distance in meters, plain formula (query/snap call-sites;
    * reference poi_query.py:38-47). */
  def haversineM(lon1: Column, lat1: Column, lon2: Column, lat2: Column,
                 radiusM: Double = R_QUERY_M): Column = {
    val a = haversineA(lon1, lat1, lon2, lat2)
    lit(2.0 * radiusM) * asin(sqrt(a))
  }

  /** Graph-weight haversine: clamps a∈[0,1]; an exactly-zero distance becomes
    * 0.01 m (reference graph_construction.py:164-181 — replacement of ==0.0,
    * not a floor: values in (0, 0.01) pass through unchanged). */
  def haversineWeightM(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val a = greatest(lit(0.0), least(lit(1.0), haversineA(lon1, lat1, lon2, lat2)))
    val d = lit(2.0 * R_GRAPH_M) * asin(sqrt(a))
    when(d === 0.0, 0.01).otherwise(d)
  }

  /** Grid-flavour haversine in km: min(1, √a) clamp (reference grid_creation.py:107-111). */
  def haversineGridKm(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    lit(2.0 * R_GRID_KM) * asin(least(lit(1.0), sqrt(haversineA(lon1, lat1, lon2, lat2))))

  /** Equirectangular distance² (radians² scaled): cheap pre-rank before exact
    * haversine (reference poi_query.py:29-36). x=Δλ·cosφ0, y=Δφ, d²=x²+y². */
  def equirectDist2(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val x = (rad(lon2) - rad(lon1)) * cos(rad(lat1))
    val y = rad(lat2) - rad(lat1)
    x * x + y * y
  }

  /** Web-Mercator x (EPSG:3857) from lon degrees (reference snap_poi_to_nodes.py:82-84,
    * pyproj boundary — deterministic closed form, no library needed). */
  def mercatorX(lon: Column): Column = lit(R_GRAPH_M_3857) * rad(lon)

  /** Web-Mercator y from lat degrees. */
  def mercatorY(lat: Column): Column =
    lit(R_GRAPH_M_3857) * log(tan(lit(math.Pi / 4) + rad(lat) / 2))

  /** WGS84 semi-major axis used by EPSG:3857. */
  val R_GRAPH_M_3857: Double = 6378137.0

  /** km per degree of longitude at given latitude (reference grid_creation.py:15). */
  def kmPerDegLon(latDeg: Column): Column = lit(111.32) * cos(rad(latDeg))

  /** bbox (minlon,minlat,maxlon,maxlat) struct from center point + radius
    * meters, spherical-earth degree deltas (reference grid_extraction_script.py:18-27):
    * dlat = r/R·180/π, dlon = dlat/cos(lat). */
  def bboxFromPointRadius(lon: Column, lat: Column, radiusM: Column): Column = {
    val dLat = radiusM / lit(R_QUERY_M) * lit(180.0 / math.Pi)
    val dLon = dLat / cos(rad(lat))
    struct(
      (lon - dLon).as("minlon"), (lat - dLat).as("minlat"),
      (lon + dLon).as("maxlon"), (lat + dLat).as("maxlat"))
  }

  /** ×1e7 int32 coordinate quantization (truncating, numpy astype semantics;
    * reference graph_construction.py:294-295). */
  def quantizeE7(coord: Column): Column = (coord * lit(1e7)).cast("int")

  /** `sanitize_key`: lower → non-[a-z0-9._-] runs → "_" → collapse "_" runs →
    * strip edge "_" → default "cat" → truncate 60 (reference precompute_poi_reach.py:22-30).
    *
    * Implemented as ONE regex pass instead of the spec's three: dropping
    * `_` from the allowed class makes junk-and-underscore runs a single
    * match (`"a_!_b"` → `"a_b"` directly), which subsumes the separate
    * `_+` collapse — a literal `_` rewrites to itself; and after the
    * collapse each edge holds at most one `_`, so the `^_|_$` strip is
    * exactly `trim(_)`. Equivalence argued case-by-case in the q16 gate
    * (same oracle mirrors the three-pass spec form); measured ~2× less
    * regex CPU on the sanitize-heavy scan. */
  def sanitizeKey(c: Column): Column =
    call_function("graft_sanitize_key", c.cast("string"))

  /** The pre-round-9 column composition — kept as the parity reference
    * the native expression is fuzzed against (SanitizeKeySpec); the q16
    * oracle still replays the spec's regex form in DuckDB. */
  private[graft] def sanitizeKeyComposed(c: Column): Column = {
    val s = trim(regexp_replace(lower(c.cast("string")), "[^a-z0-9.-]+", "_"), "_")
    substring(when(s === "", "cat").otherwise(s), 1, 60)
  }

  /** Tag normalization: lower(trim()), null → "" (reference graph_construction.py:34-35). */
  def normTag(c: Column): Column = lower(trim(coalesce(c, lit(""))))

  /** grid id "r{row}_c{col}" (reference grid_creation.py:90). */
  def gridId(row: Column, col: Column): Column =
    concat(lit("r"), row.cast("string"), lit("_c"), col.cast("string"))
}
