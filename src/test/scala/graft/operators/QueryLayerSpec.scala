package graft.operators

import graft.SparkSpec
import graft.sources.Sinks

class QueryLayerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val nodes = Seq(
    (0, 18.600, 54.350), (1, 18.601, 54.350), (2, 18.700, 54.400), (3, 18.900, 54.500))
    .toDF("node_idx", "lon", "lat")

  test("snapPoints: nearest node, haversine cutoff yields -1") {
    val pts = Seq((10L, 18.6002, 54.3501), (11L, 18.0, 54.0)).toDF("query_id", "lon", "lat")
    val got = QueryLayer.snapPoints(pts, nodes, maxSnapM = 300.0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(10L) == 0)
    assert(got(11L) == -1) // ~45 km away from everything
  }

  test("snapPoints plans the brute-force fallback only when a point is undecided") {
    // every node row the snap reads is counted: a decided batch makes one
    // pass over the nodes (each node looks its cell up in the literal cell
    // map), a far point one more (each node explodes the literal array of
    // the undecided points); each pass is one job, the points ride in the
    // plan as literals with no broadcast of their own
    val read = spark.sparkContext.longAccumulator("nodes read")
    val counted = nodes.as[(Int, Double, Double)].map { n => read.add(1); n }
      .toDF("node_idx", "lon", "lat")
    def passes(pts: Seq[(Long, Double, Double)]): (Long, Int) = {
      read.reset()
      val (_, jobs) = countingJobs(QueryLayer.snapPoints(pts.toDF("query_id", "lon", "lat"), counted))
      (read.sum / nodes.count(), jobs)
    }
    val decided = Seq((10L, 18.6002, 54.3501), (12L, 18.7001, 54.4001))
    val (p1, j1) = passes(decided)
    val (p2, j2) = passes(decided :+ ((11L, 18.0, 54.0)))
    assert(p1 == 1 && p2 == 2, s"node passes: decided $p1, with a far point $p2")
    assert(j1 == 1 && j2 == 2, s"jobs: decided $j1, with a far point $j2")
  }

  test("snapPoints: bucketed path == brute-force argmin on a dense lattice") {
    // 21×21 node lattice at ~70 m pitch; query points sit at lattice
    // points, cell corners, mid-edges, and far outside — exercising the
    // resolved path, cell-boundary ties, and the -1 fallback. A second
    // lattice near 80° N (~39 m × 55 m pitch, where a lon cell is ~6×
    // its height) is probed from beyond its east edge and above its top
    // row — points whose |lat| exceeds every node's — and two polar
    // nodes answer points at 89.99°. Further points sit exactly on
    // floor(lat / aDeg) row boundaries. Near-radius probes close to the
    // pole put each point's nearest node east at 0.995 g, in the row
    // below, and a decoy due south at 0.998 g in the point's own column:
    // a lon cell too narrow for the guarantee (sized by the node's own
    // latitude, or not widened at all) returns the decoy. The oracle is
    // the argmin the ORIGINAL all-pairs operator computed: equirect d²
    // rank (node_idx tie-break), haversine on the winner, -1 past cutoff.
    val latticeNodes = (for { i <- 0 until 21; j <- 0 until 21 }
      yield (i * 21 + j, 18.60 + i * 0.001, 54.35 + j * 0.001)).toSeq
    val northNodes = (for { i <- 0 until 21; j <- 0 until 21 }
      yield (1000 + i * 21 + j, 18.60 + i * 0.002, 80.00 + j * 0.0005)).toSeq
    val polarNodes = Seq((2000, 10.0, 89.992), (2001, 100.0, 89.995))
    val g = 300.0 / 6371000.0 // the operator's guarantee radius, radians
    val aDeg = math.toDegrees(g) // its row height
    val probes = for { (lat0, b) <- Seq(89.972, 89.978, 89.984).zipWithIndex; s <- 0 until 12 } yield {
      val id = b * 12 + s
      val nLat = (math.floor(lat0 / aDeg) + 0.95) * aDeg
      val qLat = nLat + 0.2 * aDeg
      val qLon = -180.0 + s * 30.5
      val y = math.toRadians(qLat) - math.toRadians(nLat)
      val dLon = math.toDegrees(math.sqrt(math.pow(0.995 * g, 2) - y * y) / math.cos(math.toRadians(qLat)))
      (Seq((7000 + 2 * id, qLon + dLon, nLat), (7001 + 2 * id, qLon, qLat - 0.998 * aDeg)),
        (8000L + id, qLon, qLat))
    }
    val allNodes = latticeNodes ++ northNodes ++ polarNodes ++ probes.flatMap(_._1)
    val nodesDf = allNodes.toDF("node_idx", "lon", "lat")
    // rows 20145..20151 cross the 54° lattice, rows 29652..29655 the 80° one
    val rowEdges = for {
      (k, n) <- ((20145 to 20151) ++ (29652 to 29655)).zipWithIndex
      (lon, m) <- Seq(18.6003, 18.6071, 18.6190).zipWithIndex
    } yield (3000L + n * 3 + m, lon, k * aDeg)
    val beyondTop = for { (dl, i) <- Seq(0.003, 0.008, 0.011, 0.0125, 0.014).zipWithIndex
                          (dn, j) <- Seq(-0.004, 0.0, 0.0004, 0.001, 0.002, 0.0026).zipWithIndex }
      yield (4000L + i * 10 + j, 18.64 + dl, 80.01 + dn)
    val polar = Seq((5000L, 10.5, 89.99), (5001L, 100.2, 89.99), (5002L, -170.0, 89.99))
    val qpts = (for { i <- 0 until 10; j <- 0 until 10 }
      yield ((i * 10 + j).toLong, 18.6002 + i * 0.0021, 54.3498 + j * 0.0019)).toSeq ++
      Seq((900L, 18.0, 54.0), (901L, 18.62003, 54.36001)) ++
      (for { i <- 0 until 10; j <- 0 until 10 }
        yield (1000L + i * 10 + j, 18.6003 + i * 0.0043, 79.9997 + j * 0.0011)) ++
      rowEdges ++ beyondTop ++ polar ++ probes.map(_._2)
    val ptsDf = qpts.toDF("query_id", "lon", "lat")
    val got = QueryLayer.snapPoints(ptsDf, nodesDf, maxSnapM = 300.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq.sortBy(_._1)
    // both mirror GeoFunctions' evaluation order (radians, then the
    // difference), which the 1e-9 m distance check needs near the pole
    def equirect2(qlon: Double, qlat: Double, lon: Double, lat: Double): Double = {
      val x = (math.toRadians(lon) - math.toRadians(qlon)) * math.cos(math.toRadians(qlat))
      val y = math.toRadians(lat) - math.toRadians(qlat)
      x * x + y * y
    }
    def hav(qlon: Double, qlat: Double, lon: Double, lat: Double): Double = {
      val sLat = math.sin((math.toRadians(lat) - math.toRadians(qlat)) / 2)
      val sLon = math.sin((math.toRadians(lon) - math.toRadians(qlon)) / 2)
      val a = sLat * sLat + math.cos(math.toRadians(qlat)) * math.cos(math.toRadians(lat)) * sLon * sLon
      2.0 * 6371000.0 * math.asin(math.sqrt(a))
    }
    val want = qpts.map { case (id, qlon, qlat) =>
      val (ni, nlon, nlat) = allNodes
        .minBy { case (ni, lon, lat) => (equirect2(qlon, qlat, lon, lat), ni) }
      val d = hav(qlon, qlat, nlon, nlat)
      (id, if (d > 300.0) -1 else ni, d)
    }.sortBy(_._1)
    assert(got.map(r => (r._1, r._2)) == want.map(r => (r._1, r._2)))
    got.zip(want).foreach { case (g, w) => assert(math.abs(g._3 - w._3) < 1e-9) }
  }

  test("snapPoints: one row per distinct point; no coordinate or no node gives -1 and a null distance") {
    // 12 is given twice and 13 as both -0.0 and 0.0: one row each, as a
    // GROUP BY (query_id, lon, lat) gives
    val pts = Seq[(Long, java.lang.Double, java.lang.Double)](
      (10L, null, null), (11L, 18.6002, null), (12L, 18.6002, 54.3501), (12L, 18.6002, 54.3501),
      (13L, -0.0, 54.35), (13L, 0.0, 54.35))
      .toDF("query_id", "lon", "lat")
    def snap(n: org.apache.spark.sql.DataFrame): Map[Long, (Int, Option[Double])] = {
      val rows = QueryLayer.snapPoints(pts, n).collect()
        .map(r => r.getLong(0) -> (r.getInt(1), Option(r.getAs[java.lang.Double](2)).map(_.toDouble)))
      assert(rows.length == 4, rows.toSeq)
      rows.toMap
    }
    val got = snap(nodes)
    assert(got.keySet == Set(10L, 11L, 12L, 13L))
    assert(got(10L) == (-1, None) && got(11L) == (-1, None), got)
    assert(got(12L)._1 == 0 && got(12L)._2.exists(_ < 300.0), got)
    assert(got(13L)._1 == -1 && got(13L)._2.exists(_ > 300.0), got)
    val none = snap(nodes.filter(org.apache.spark.sql.functions.lit(false)))
    assert(none == Map(10L -> (-1, None), 11L -> (-1, None), 12L -> (-1, None), 13L -> (-1, None)), none)
  }

  test("snapPoints -> pointQuery: one resolved point runs in at most 2 Spark jobs") {
    // The plan's contract: one pass over the nodes per query, the probe
    // cells a literal map each node row looks its cell up in, merged on
    // the driver; the brute-force pass runs only for an undecided point;
    // the reach side is read for the snapped keys alone, and each reach
    // row explodes its query ids from a literal map. Broadcasting the
    // local probe cells and the snapped side of a reach join ran 4 jobs
    // here; cutting a candidate aggregate 7; re-running the join and
    // aggregate in a lazily planned fallback branch 9, and a per-query
    // aggregate over the node table on top of that 13.
    val pts = Seq((1L, 18.6002, 54.3501)).toDF("query_id", "lon", "lat")
    val reach = Seq((0, "supermarket", 400.0, 360.0, 7L), (2, "school", 90.0, 81.0, 8L))
      .toDF("node_idx", "category", "dist_m", "time_s", "poi_id")
    val (got, jobs) = countingJobs {
      QueryLayer.pointQuery(QueryLayer.snapPoints(pts, nodes), reach, radiusM = 1000.0)
        .select("query_id", "category").as[(Long, String)].collect().toSeq
    }
    assert(got == Seq((1L, "supermarket")))
    assert(jobs <= 2, s"$jobs Spark jobs for one point query")
  }

  test("pointQuery reads only the snapped nodes' reach rows from JDBC") {
    val url = "jdbc:derby:memory:querylayerspec;create=true"
    Sinks.writeJdbc(Seq((0, "supermarket", 400.0, 360.0, 7L), (1, "school", 90.0, 81.0, 8L),
      (2, "school", 300.0, 270.0, 9L)).toDF("node_idx", "category", "dist_m", "time_s", "poi_id"),
      url, "reach")
    def snap(pts: Seq[(Long, Double, Double)]): org.apache.spark.sql.DataFrame =
      QueryLayer.snapPoints(pts.toDF("query_id", "lon", "lat"), nodes)
    def keyed(snapped: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      QueryLayer.pointQuery(snapped, Sinks.readJdbc(spark, url, "reach"), radiusM = 1000.0)
    def query(pts: Seq[(Long, Double, Double)]): org.apache.spark.sql.DataFrame = keyed(snap(pts))
    def pushed(df: org.apache.spark.sql.DataFrame): String = {
      val plan = df.queryExecution.executedPlan.toString
      plan.linesIterator.find(_.contains("PushedFilters")).getOrElse(fail(plan))
    }
    val one = query(Seq((1L, 18.6002, 54.3501)))
    assert(pushed(one).contains("EqualTo(node_idx,0)"), pushed(one))
    assert(one.select("query_id", "poi_id").as[(Long, Long)].collect().toSeq == Seq((1L, 7L)))
    val batch = query(Seq((1L, 18.6002, 54.3501), (2L, 18.7001, 54.4001), (3L, 18.0, 54.0)))
    assert(pushed(batch).contains("In(node_idx, [0,2])"), pushed(batch))
    assert(batch.select("query_id", "poi_id").as[(Long, Long)].collect().toSet == Set((1L, 7L), (2L, 9L)))
    // the keys of a local snap are collected without a job, and no key
    // leaves no reach scan
    val far = snap(Seq((1L, 18.0, 54.0), (2L, 19.5, 55.0)))
    val (rows, jobs) = countingJobs(keyed(far).collect())
    assert(rows.isEmpty && jobs == 0, s"${rows.length} rows, $jobs jobs")
  }

  test("nodesNear: radius branch when matches exist, k-nearest fallback otherwise") {
    val inRadius = QueryLayer.nodesNear(nodes, 18.600, 54.350, radiusM = 200.0)
      .select("node_idx").as[Int].collect().toSet
    assert(inRadius == Set(0, 1))
    val fallback = QueryLayer.nodesNear(nodes, 10.0, 50.0, radiusM = 100.0, fallbackK = 2)
      .select("node_idx").as[Int].collect().toSet
    assert(fallback.size == 2) // nothing within 100 m -> 2 nearest instead
  }

  test("pointQuery joins reach and filters by radius") {
    val snapped = Seq((10L, 0), (11L, -1)).toDF("query_id", "node_idx")
    val reach = Seq((0, "supermarket", 400.0, 360.0, 7L), (0, "school", 900.0, 810.0, 8L))
      .toDF("node_idx", "category", "dist_m", "time_s", "poi_id")
    val got = QueryLayer.pointQuery(snapped, reach, radiusM = 800.0)
      .select("query_id", "category").as[(Long, String)].collect().toSeq
    assert(got == Seq((10L, "supermarket"))) // school filtered, -1 snap dropped
  }

  test("pointQuery returns the multiset of the equi-join it replaces") {
    // ids 1 and 2 snap to node 0; id 3 sits at two coordinates that snap
    // to node 1 and at a third that snaps to node 2, as does a null id;
    // node 5 has no reach rows; -1 is no snap; rows past 800 m drop out
    val snapped = Seq[(java.lang.Long, Int)](
      (1L, 0), (2L, 0), (3L, 1), (3L, 1), (3L, 2), (null, 2), (4L, 5), (6L, -1))
      .toDF("query_id", "node_idx")
    val reach = Seq((0, "supermarket", 400.0, 360.0, 7L), (0, "school", 900.0, 810.0, 8L),
      (1, "park", 100.0, 90.0, 9L), (2, "school", 300.0, 270.0, 10L), (2, "pub", 801.0, 700.0, 11L),
      (3, "bakery", 50.0, 45.0, 12L)).toDF("node_idx", "category", "dist_m", "time_s", "poi_id")
    def multiset(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
      df.collect().toSeq.map(_.toSeq).groupMapReduce(identity)(_ => 1)(_ + _)
    // the reach key as an Int, as the snap's, and as a Long
    for (r <- Seq(reach, reach.withColumn("node_idx", $"node_idx".cast("long")))) {
      val want = snapped.filter($"node_idx" >= 0).join(r, "node_idx").filter($"dist_m" <= 800.0)
        .select("query_id", "category", "dist_m", "time_s", "poi_id")
      val got = QueryLayer.pointQuery(snapped, r, radiusM = 800.0)
      assert(got.schema.map(_.dataType) == want.schema.map(_.dataType), got.schema)
      assert(multiset(want) == Map(Seq(1L, "supermarket", 400.0, 360.0, 7L) -> 1,
        Seq(2L, "supermarket", 400.0, 360.0, 7L) -> 1, Seq(3L, "park", 100.0, 90.0, 9L) -> 2,
        Seq(3L, "school", 300.0, 270.0, 10L) -> 1, Seq(null, "school", 300.0, 270.0, 10L) -> 1))
      assert(multiset(got) == multiset(want))
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("Broadcast"), plan)
    }
  }

  test("cropCompleteWays keeps whole ways touching the bbox") {
    val members = Seq(
      (1L, 1L, 18.25, 54.25), (1L, 2L, 18.9, 54.9), // way 1 straddles
      (2L, 3L, 19.5, 55.5), (2L, 4L, 19.6, 55.6)) // way 2 fully outside
      .toDF("way_id", "node_id", "lon", "lat")
    val got = QueryLayer.cropCompleteWays(members, 18.0, 54.0, 18.5, 54.5)
      .select("node_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L)) // both members of way 1, incl. the outside one
  }

  test("accuracy applies the 20m + offset tolerance rule") {
    val v = Seq(
      (100.0, 110.0, 0.0), // |d|=10 <= 20 -> pass
      (100.0, 135.0, 0.0), // |d|=35 > 20 -> fail
      (100.0, 135.0, 20.0)) // |d|=35 <= 40 -> pass
      .toDF("map_m", "algo_m", "offset_m")
    val r = QueryLayer.accuracy(v).head
    assert(r.getDouble(0) == 2.0 / 3.0 && r.getLong(1) == 3L)
  }
}
