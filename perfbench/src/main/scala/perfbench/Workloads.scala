package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Derive, SparkEntry}
import graft.operators._
import graft.sources.Sinks

/** Shared state of one benchmark process: the session, the optional
  * probe of the traced run, and the frames a traced boundary cached. */
final class Ctx(val spark: SparkSession, val probe: Option[Probe]) {
  var tracing = false
  var op = 0
  private val pinned = mutable.ArrayBuffer.empty[DataFrame]

  def span[T](name: String)(body: => T): T = probe match {
    case Some(p) if tracing => p.span(name, op)(body)
    case _ => body
  }

  /** In a traced operation, materialize `df` here so the enclosing span
    * holds its work; untraced operations leave the plan as the pipeline
    * composes it. */
  def boundary(df: DataFrame): DataFrame =
    if (!tracing) df
    else { val c = df.cache(); c.count(); pinned += c; c }

  /** Releases what traced boundaries cached during the operation. */
  def endOp(): Unit = { pinned.foreach(_.unpersist(true)); pinned.clear() }
}

object Workloads {
  val Names: Seq[String] = Seq("point_query", "query_suite")

  def reset(spark: SparkSession, gc: Boolean): Unit = {
    spark.catalog.clearCache()
    spark.sqlContext.tableNames().foreach(t => try spark.catalog.dropTempView(t) catch { case _: Throwable => })
    if (gc) System.gc()
  }

  /** The set-up every workload shares: open each input table (read its footer). */
  def openInputs(spark: SparkSession, dir: String): Unit =
    Stage.Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)
}

/** The reach-table build chain in the order `graft.Pipeline` composes it:
  * extract → snap → graph → tiling → bounded Dijkstra → owner dedup →
  * summary → JDBC write. */
object GeoChain {
  final case class Built(nodes: DataFrame, snapped: DataFrame, sym: DataFrame, reach: DataFrame,
                         summary: DataFrame, reachRows: Long)

  def build(ctx: Ctx, dir: String, url: String): Built = {
    val spark = ctx.spark
    import spark.implicits._
    val elements = Derive.elements(spark, dir)
    val pois0 = ctx.span("PoiExtract.extractJoin") {
      val p = PoiExtract.extractJoin(PoiExtract.tagPreFilter(elements)).cache()
      p.count(); p
    }
    val nodes = Derive.geoNodes(spark, dir).cache()
    val snapped = ctx.span("SnapJoin.nearestNode") {
      val s = SnapJoin.nearestNode(
          pois0.select(col("elem_id").as("poi_id"), col("lon"), col("lat")), nodes, "poi_id")
        .filter(col("node_idx") >= 0)
        .join(pois0.select(col("elem_id").as("poi_id"), col("category")), Seq("poi_id"))
        .cache()
      s.count(); s
    }
    ctx.span("GraphOps.cleanWalkableEdges") {
      GraphOps.cleanWalkableEdges(Derive.ways(spark, dir)).count()
    }
    val sym = ctx.span("GraphOps.symmetrizeDedup") {
      val s = ctx.boundary(GraphOps.symmetrizeDedup(Derive.edges(nodes)))
      s.count(); s
    }
    val Row(minLon: Double, maxLon: Double, minLat: Double, maxLat: Double) =
      nodes.agg(min("lon"), max("lon"), min("lat"), max("lat")).head()
    val l = Grid.Lattice(minLon, minLat, maxLon, maxLat, tileKm = 3.0, bufferKm = 2.0)
    val nodeTiles = ctx.span("Grid.assignBuffered") {
      ctx.boundary(Grid.assignBuffered(nodes, l).select(col("node_idx"), col("grid_id")).cache())
    }
    val edgesT = sym
      .join(nodeTiles.withColumnRenamed("node_idx", "u"), Seq("u"))
      .join(nodeTiles.withColumnRenamed("node_idx", "v"), Seq("v", "grid_id"))
      .select(col("grid_id").as("tile"), col("u"), col("v"), col("w"))
      .as[TileEdge]
    val srcsT = snapped.join(nodeTiles, Seq("node_idx"))
      .select(col("grid_id").as("tile"), col("category"), col("node_idx"), col("poi_id"))
      .as[TileSource]
    val owner = Grid.assignOwner(nodes, l).select(col("node_idx"), col("grid_id").as("tile"))
    val tiled = ctx.span("Dijkstra.reach") {
      ctx.boundary(Dijkstra.reach(edgesT, srcsT, limitM = 1000.0).toDF())
    }
    val reach = ctx.span("owner_dedup") {
      val r = tiled.join(owner, Seq("tile", "node_idx"))
        .select("tile", "category", "node_idx", "dist_m", "time_s", "poi_id")
        .cache()
      r.select("tile").distinct().count()
      r
    }
    val reachRows = reach.count()
    val summary = ctx.span("Dijkstra.reachSummary") {
      val s = Dijkstra.reachSummary(reach, snapped.select("category", "poi_id"), limitM = 1000.0)
      s.count(); s
    }
    ctx.span("Sinks.writeJdbc") {
      Sinks.writeJdbc(reach, url, "reach")
      Sinks.writeJdbc(summary, url, "reach_summary")
    }
    Built(nodes, snapped, sym, reach, summary, reachRows)
  }

  val ReachCols: Seq[String] = Seq("category", "node_idx", "dist_m", "time_s", "poi_id")

  /** Owner-deduplicated tiled reach must equal one global single-tile run. */
  def tilingDiff(spark: SparkSession, b: Built): Long = {
    import spark.implicits._
    val global = Dijkstra.reach(
      b.sym.select(lit("t0").as("tile"), col("u"), col("v"), col("w")).as[TileEdge],
      b.snapped.select(lit("t0").as("tile"), col("category"), col("node_idx"), col("poi_id"))
        .as[TileSource],
      limitM = 1000.0).toDF()
    val cols = ReachCols.map(col)
    b.reach.select(cols: _*).exceptAll(global.select(cols: _*))
      .unionAll(global.select(cols: _*).exceptAll(b.reach.select(cols: _*)))
      .count()
  }
}

/** point_query: the serving path. Set-up builds and persists the reach
  * table the way `Pipeline` does (so set-up time is the geo build). The
  * points come from a fixed pool drawn with the staging seed; `--seed`
  * picks which pool point each query asks. A query is one point, snapped,
  * joined with the table read back over JDBC, and collected; the batch pass
  * asks the whole pool in one query. */
final class PointQuery(dir: String, seed: Long, url: String) {
  private var built: GeoChain.Built = _
  private var pool: IndexedSeq[(Double, Double)] = _
  private val rnd = new scala.util.Random(seed)
  // sequence number of each single query -> (pool index, rendered rows)
  private val answers = mutable.LinkedHashMap.empty[Int, (Int, Seq[String])]

  def setup(ctx: Ctx): Unit = {
    Workloads.reset(ctx.spark, gc = false)
    Workloads.openInputs(ctx.spark, dir)
    built = GeoChain.build(ctx, dir, url)
    // positions of the nodes the reach table covers, in node order
    val reached = built.reach.select("node_idx").distinct().join(built.nodes, "node_idx").orderBy("node_idx")
      .select("lon", "lat").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    // each point is such a node moved by up to ~70 m, so it snaps inside
    // the 300 m limit and has an answer
    val r = new scala.util.Random(Stage.Seed)
    pool = IndexedSeq.fill(PointQuery.PoolSize) {
      val (lon, lat) = reached(r.nextInt(reached.length))
      (lon + (r.nextDouble() - 0.5) * 1e-3, lat + (r.nextDouble() - 0.5) * 5e-4)
    }
  }

  /** Reach rows and digest of the table just built, and proof that the
    * tiled reach equals one global single-tile run. */
  def reachCheck(ctx: Ctx): String = {
    val (n, h) = Stage.digest(built.reach.select(GeoChain.ReachCols.map(col): _*))
    val d = GeoChain.tilingDiff(ctx.spark, built)
    s"reach rows=$n digest=$h" + (if (d == 0) "" else s" tiling_diff=$d")
  }

  /** Rows the JDBC sink wrote in the last build (reach and summary). */
  def writtenRows: Long = built.reachRows + built.summary.count()

  private def ask(ctx: Ctx, ids: Seq[Int]): Seq[Row] = {
    val spark = ctx.spark
    import spark.implicits._
    val pts = ids.map(i => (i.toLong, pool(i)._1, pool(i)._2)).toDF("query_id", "lon", "lat")
    val snapped = ctx.span("QueryLayer.snapPoints") { ctx.boundary(QueryLayer.snapPoints(pts, built.nodes)) }
    val reach = ctx.span("Sinks.readJdbc") { ctx.boundary(Sinks.readJdbc(spark, url, "reach")) }
    ctx.span("QueryLayer.pointQuery") {
      QueryLayer.pointQuery(snapped, reach, radiusM = 1000.0).collect().toSeq
    }
  }

  private def render(r: Row): String = s"${r.getString(1)}|${r.getDouble(2)}|${r.getDouble(3)}|${r.getLong(4)}"

  /** Single query number `seq`: the next seeded pool point. */
  def query(ctx: Ctx, seq: Int): Unit = {
    val i = rnd.nextInt(pool.size)
    answers(seq) = (i, ask(ctx, Seq(i)).map(render).sorted)
  }

  /** Every pool point in one query. */
  def batch(ctx: Ctx): Seq[Row] = ask(ctx, pool.indices)

  /** Row count and order-independent digest of a batch answer. */
  def batchDigest(rows: Seq[Row]): String = {
    val lines = rows.map(r => s"${r.getLong(0)}|${render(r)}").sorted
    s"rows=${lines.size} digest=${scala.util.hashing.MurmurHash3.orderedHash(lines)}"
  }

  /** Single answers that are empty or differ from their point's rows in
    * `batch`, as (sequence number, reason). */
  def mismatches(batch: Seq[Row]): Seq[(Int, String)] = {
    val byPoint = batch.groupBy(_.getLong(0).toInt).map { case (q, rs) => q -> rs.map(render).sorted }
    answers.toSeq.collect {
      case (s, (i, got)) if got.isEmpty => (s, s"point $i: no rows")
      case (s, (i, got)) if got != byPoint.getOrElse(i, Nil) =>
        (s, s"point $i: ${got.size} rows, batched ${byPoint.getOrElse(i, Nil).size}")
    }
  }
}

object PointQuery {
  val PoolSize = 128
}

/** query_suite: a fixed list of engine queries and text-layer operator
  * calls, each timed through the noop sink the engine's bench uses and
  * grouped by the layer it exercises. */
final class QuerySuite(dir: String) {
  val entries: Seq[String] = QuerySuite.Entries.map(_._1)
  private val fns = QuerySuite.Entries.map(e => e._1 -> e._3).toMap

  def setup(ctx: Ctx): Unit = Workloads.openInputs(ctx.spark, dir)

  def run(ctx: Ctx, entry: String): Unit =
    fns(entry)(ctx.spark, dir).write.format("noop").mode("overwrite").save()

  /** Result row count and digest of `entry`, from one more execution. */
  def observe(ctx: Ctx, entry: String): String = {
    val (n, h) = Stage.digest(fns(entry)(ctx.spark, dir))
    Workloads.reset(ctx.spark, gc = false)
    s"rows=$n digest=$h"
  }

  /** The near-dup join's yield: accepted over MinHash candidate pairs. */
  def acceptRatio(ctx: Ctx): Double = {
    val sh = TextOps.shingleTable(QuerySuite.corpus(ctx.spark, dir), "doc_id").cache()
    val cand = TextOps.minhashCandidates(sh, "doc_id").cache()
    val accepted = ctx.span("TextOps.jaccardVerify") { TextOps.jaccardVerify(cand, sh, "doc_id", 0.5).count() }
    val ratio = accepted.toDouble / math.max(1L, cand.count())
    cand.unpersist(true); sh.unpersist(true)
    ratio
  }
}
object QuerySuite {
  type Fn = (SparkSession, String) => DataFrame
  private def q(name: String, group: String): (String, String, Fn) = (name, group, SparkEntry.queries(name))

  /** The curation corpus and its held-out benchmark split, as `graft.CorpusPipeline` splits them. */
  def corpus(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text", "source")
      .filter(col("doc_id") % 5 =!= 0)
  private def heldOut(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text", "source")
      .filter(col("doc_id") % 5 === 0)

  /** (entry, layer group, frame). */
  val Entries: Seq[(String, String, Fn)] = Seq(
    q("q361_dsv2_stream", "streaming"),
    q("q84_dsv2_scan", "sources.v2"),
    q("q41_ann_ivf", "SimilarityOps"),
    q("q69_funnel", "EventOps"),
    q("q71_components", "GraphOps"),
    q("q103_range_join_rule", "expressions"),
    q("q01_pricing_summary", "tpch"),
    ("CorpusOps.decontaminate", "text", (s, d) => CorpusOps.decontaminate(corpus(s, d), heldOut(s, d), n = 8)),
    ("TextOps.nearDupDropIds", "text", (s, d) => TextOps.nearDupDropIds(corpus(s, d), "doc_id")),
    ("CorpusOps.repetitionStats", "text", (s, d) => CorpusOps.repetitionStats(corpus(s, d))),
    ("TextOps.charEntropy", "text", (s, d) => TextOps.charEntropy(corpus(s, d))),
    ("TextOps.dupSpanMask", "text", (s, d) => TextOps.dupSpanMask(corpus(s, d), "doc_id", n = 8, minDocs = 2)),
    ("Bpe.merges", "text", (s, d) => Bpe.merges(corpus(s, d), rounds = 6)))
  val Groups: Seq[String] = Entries.map(_._2).distinct
}
