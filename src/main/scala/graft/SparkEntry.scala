package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Wkt
import graft.operators._
import graft.sources.{Sinks, ValidatedSource}
import graft.sources.v2.{GraftCsv, GraftCsvAggScan, GraftCsvScan}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Conventions for oracle (DuckDB) hash-parity:
  *  - every query ends in a total ORDER BY (all columns tie-broken);
  *  - money sums go through round(x*100)/100 so the sum is over exactly
  *    representable integer cents (order-independent, engine-independent);
  *  - graph edge weights are integer-valued doubles (Derive.scala), so path
  *    sums in the Dijkstra kernel are exact;
  *  - every computed column is aliased identically in Spark and SQL.
  */
object SparkEntry {

  /** Source-table schema pin (round-15, guide §6 "never infer types at
    * scale"): a bare `spark.read.parquet` re-lists the path and re-infers
    * the schema from footers on EVERY call — measured 85-100 ms warm per
    * read vs 15-17 ms schema-pinned, i.e. the single largest slice of the
    * ~0.25 s driver-side floor every sub-second query pays (the Bench
    * warm-up loop already pre-reads these schemas precisely because they
    * are setup, not computation). The pin memoizes METADATA of immutable
    * source files only — every query still scans the parquet data itself
    * fresh on every run; gate fixtures written at runtime (rtPath) never
    * go through [[t]]. */
  private val tSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()
  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = tSchemas.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    GraftSession.canonTs(spark.read.schema(schema).parquet(path))
  }

  /** Unique-per-invocation fixture location for the q48-q52 round-trip
    * queries: concurrent gate runs on one machine must not race on a
    * shared /tmp path (or Derby in-memory DB name). The UUID goes in the
    * PARENT directory so the leaf keeps its name — the validated source
    * sniffs the extension off it. All fixtures live under one per-JVM
    * base that a shutdown hook removes — a gate run leaves /tmp as it
    * found it (round-6 hygiene advice). Deletion can't happen earlier:
    * the round-trip results are LAZY reads over these files. */
  private lazy val rtBase: String = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_rt/" +
      java.util.UUID.randomUUID().toString.take(8)
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(base))
    }
    base
  }
  private def rtPath(tag: String): String =
    s"$rtBase/${java.util.UUID.randomUUID().toString.take(8)}/$tag"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A-ops / pushdown: TPC-H Q1-shaped pricing summary (SURVEY A1-analog).
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          (sum(round(col("l_extendedprice") * 100)) / 100).as("sum_base_price"),
          (sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)) / 100).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // P-ops: projection + predicate pushdown to the parquet scan.
    "q02_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_discount") > 0.05 && col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // J1-analog: broadcast dimension joins + aggregation.
    "q03_revenue_by_nation" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg((sum(round(col("o_totalprice") * 100)) / 100).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    }),

    // J6-analog: left-semi join (EXISTS).
    "q04_semi_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // S5-analog (empty-tile deletion): left-anti join (NOT EXISTS).
    "q05_anti_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // W5-analog: grouped top-k via row_number window.
    "q06_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }),

    // W3/A8-analog: running sum (cumulative distance along a path).
    "q07_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("running_value", sum(round(col("value") * 100)).over(w) / 100)
        .select("user_id", "event_id", "running_value")
        .orderBy("user_id", "event_id")
    }),

    // U3-analog: union + distinct.
    "q08_union_distinct" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy("nationkey")
    }),

    // J1: broadcast rekey of external osm ids -> dense node indices;
    // a dangling endpoint (-5) is dropped like the reference's dropna.
    "q09_rekey" -> ((s, dir) => {
      val n = Derive.nodes(s, dir)
      val raw = Derive.edges(n)
        .select((col("u") * 10 + 7).as("u"), (col("v") * 10 + 7).as("v"), col("w"))
        .union(s.range(1).select(lit(-5L).as("u"), lit(7L).as("v"), lit(1.0).as("w")))
      GraphOps.rekeyEdges(raw, n)
        .select("u", "v", "w").orderBy("u", "v")
    }),

    // P1+P2: tag normalization + the walkability truth table over dirty tags.
    "q10_walkability" -> ((s, dir) => {
      GraphOps.cleanWalkableEdges(Derive.ways(s, dir))
        .select("way_id", "highway_n", "foot_n", "sidewalk_n")
        .orderBy("way_id")
    }),

    // J7: reciprocity QA on a partially-symmetrized edge set.
    "q11_reciprocity" -> ((s, dir) => {
      val e = Derive.edges(Derive.nodes(s, dir))
      val dirPlus = e.union(
        e.filter(col("u") % 3 === 0)
          .select(col("v").as("u"), col("u").as("v"), col("w")))
      GraphOps.reciprocity(dirPlus)
    }),

    // A4: degree statistics QA (mean over ALL nodes incl zero-degree).
    "q12_degree_stats" -> ((s, dir) => {
      val n = Derive.nodes(s, dir)
      GraphOps.degreeStats(GraphOps.symmetrizeDedup(Derive.edges(n)), n)
    }),

    // A5+F1: weight/haversine sanity ratios with rank-based percentiles.
    "q13_weight_sanity" -> ((s, dir) => {
      val n = Derive.nodes(s, dir)
      val ec = Derive.edges(n)
        .join(n.select(col("node_idx").as("u"), col("lon").as("lon_u"), col("lat").as("lat_u")), Seq("u"))
        .join(n.select(col("node_idx").as("v"), col("lon").as("lon_v"), col("lat").as("lat_v")), Seq("v"))
      GraphOps.weightSanity(ec)
    }),

    // F1 (three radii) + F3 + P14: scalar geo functions over consecutive
    // node pairs; rounded — libm trig may drift 1 ulp vs the JVM.
    "q14_geo_distances" -> ((s, dir) => {
      import graft.functions.GeoFunctions._
      val n = Derive.nodes(s, dir)
      val b = n.select((col("node_idx") - 1).as("node_idx"),
        col("lon").as("lon2"), col("lat").as("lat2"))
      n.join(b, Seq("node_idx"))
        .select(
          col("node_idx"),
          round(haversineM(col("lon"), col("lat"), col("lon2"), col("lat2")), 6).as("hav_query_m"),
          round(haversineWeightM(col("lon"), col("lat"), col("lon2"), col("lat2")), 6).as("hav_graph_m"),
          round(haversineGridKm(col("lon"), col("lat"), col("lon2"), col("lat2")), 9).as("hav_grid_km"),
          haversineWeightM(col("lon"), col("lat"), col("lon"), col("lat")).as("zero_w"),
          round(kmPerDegLon(col("lat")), 9).as("km_per_deg_lon"),
          round(bboxFromPointRadius(col("lon"), col("lat"), lit(500.0)).getField("minlon"), 9).as("bb_minlon"),
          round(bboxFromPointRadius(col("lon"), col("lat"), lit(500.0)).getField("maxlat"), 9).as("bb_maxlat"))
        .orderBy("node_idx")
    }),

    // F7+F2+F6+F10: Web-Mercator, equirectangular d², ×1e7 quantization, grid_id.
    "q15_mercator" -> ((s, dir) => {
      import graft.functions.GeoFunctions._
      Derive.nodes(s, dir)
        .select(
          col("node_idx"),
          round(mercatorX(col("lon")), 4).as("merc_x"),
          round(mercatorY(col("lat")), 4).as("merc_y"),
          round(equirectDist2(col("lon"), col("lat"), lit(18.5), lit(54.35)), 12).as("eq_d2"),
          quantizeE7(col("lon")).as("lon_e7"),
          quantizeE7(col("lat")).as("lat_e7"),
          gridId(floor(col("node_idx") / 40).cast("int"), (col("node_idx") % 40).cast("int")).as("grid_id"))
        .orderBy("node_idx")
    }),

    // F4: sanitize_key over dirty strings (specials, leading junk, >60 chars).
    "q16_sanitize" -> ((s, dir) => {
      import graft.functions.GeoFunctions._
      // The part table is one small parquet file = one input partition,
      // but the projection is CPU-bound (per-row byte walks over
      // repeat()-widened strings): repartition spreads the codegen'd
      // walk across cores. History: the regex composition measured
      // 2.9 s -> 1.2 s warm from this repartition alone; the round-9
      // native graft_sanitize_key byte walk then took the query to
      // 0.42 s warm and its 10x ratio from 7.4 to 1.17 - at real scale
      // the input arrives multi-partition and the exchange is noise
      // next to the compute it parallelizes.
      t(s, dir, "part")
        .repartition(s.sparkContext.defaultParallelism)
        .select(
          col("p_partkey"),
          sanitizeKey(col("p_brand")).as("k_brand"),
          sanitizeKey(concat(lit("##"), col("p_type"))).as("k_type"),
          sanitizeKey(repeat(col("p_name"), 8)).as("k_long"))
        .orderBy("p_partkey")
    }),

    // A3+G1: per-category reach summary over all 20 categories.
    "q17_reach_summary" -> ((s, dir) => {
      import s.implicits._
      val n = Derive.nodes(s, dir)
      val sym = GraphOps.symmetrizeDedup(Derive.edges(n))
        .select(lit("t0").as("tile"), col("u"), col("v"), col("w")).as[TileEdge]
      val pois = Derive.pois(s, dir)
      val srcs = pois
        .select(lit("t0").as("tile"), col("category"), col("node_idx"), col("poi_id"))
        .as[TileSource]
      Dijkstra.reachSummary(Dijkstra.reach(sym, srcs, 1000.0).toDF(), pois, 1000.0)
        .orderBy("category")
    }),

    // G3+W3: canonical shortest-path backtrack + running cumulative distance.
    "q18_path" -> ((s, dir) => {
      import s.implicits._
      val n = Derive.nodes(s, dir)
      val sym = GraphOps.symmetrizeDedup(Derive.edges(n))
        .select(lit("t0").as("tile"), col("u"), col("v"), col("w")).as[TileEdge]
      val srcs = Derive.pois(s, dir)
        .filter(col("category") === "supermarket")
        .select(lit("t0").as("tile"), col("category"), col("node_idx"), col("poi_id"))
        .as[TileSource]
      // far-reachable nodes (3-4 hops) plus never-reachable ones (dropped)
      val targets = Seq(1372, 298, 632, 938, 98, 57, 444, 1400).map("t0" -> _)
      val w = Window.partitionBy("target_idx").orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Dijkstra.shortestPaths(sym, srcs, targets, 1000.0)
        .withColumn("cum_m", sum("step_m").over(w))
        .select("target_idx", "seq", "node_idx", "step_m", "cum_m", "poi_id", "category")
        .orderBy("target_idx", "seq")
    }),

    // P9+P10+P11+P13: dirty-ingest coercion — case-insensitive resolution,
    // try_cast with -1 sentinel, negative synthetic-id fallback, final casts.
    "q19_coercion" -> ((s, dir) => {
      val w = Window.partitionBy(expr("try_cast(id_str AS BIGINT)").isNull)
        .orderBy("p_partkey")
      Derive.messy(s, dir)
        .withColumn("parsed", expr("try_cast(id_str AS BIGINT)"))
        .select(
          col("p_partkey"),
          when(col("parsed").isNull, -row_number().over(w))
            .otherwise(col("parsed")).cast("long").as("poi_id"),
          coalesce(expr("try_cast(node_idx AS INT)"), lit(-1)).as("node_idx"),
          col("name"))
        .orderBy("p_partkey")
    }),

    // W1/G5-analog: the derived node table itself (row_number indexing + grid math).
    "q20_nodes" -> ((s, dir) => {
      Derive.nodes(s, dir).orderBy("node_idx")
    }),

    // U1+P4+A1: symmetrize + self-loop drop + parallel-edge min-dedup.
    // Parallel edges injected as a +10 m duplicate of every edge.
    "q21_sym_dedup" -> ((s, dir) => {
      val e = Derive.edges(Derive.nodes(s, dir))
      GraphOps.symmetrizeDedup(e.union(e.withColumn("w", col("w") + 10)))
        .orderBy("u", "v")
    }),

    // A2: out-degrees of the symmetrized graph.
    "q22_degrees" -> ((s, dir) => {
      val e = Derive.edges(Derive.nodes(s, dir))
      GraphOps.outDegrees(GraphOps.symmetrizeDedup(e))
        .orderBy("node_idx")
    }),

    // J2-J4: bucketed NN spatial snap join; oracle is a brute-force argmin.
    "q23_snap" -> ((s, dir) => {
      val n = Derive.nodes(s, dir)
      val p = Derive.pois(s, dir).select("poi_id", "lon", "lat")
      SnapJoin.nearestNode(p, n, "poi_id", maxSnapM = 300.0, quantize = 2)
        .orderBy("poi_id")
    }),

    // S2/S3/U2: TAG_MAP-driven POI extraction (per-category filter + union).
    "q24_poi_extract" -> ((s, dir) => {
      PoiExtract.extractUnion(PoiExtract.tagPreFilter(Derive.elements(s, dir)))
        .select("elem_id", "category", "key", "value", "name", "lon", "lat")
        .orderBy("elem_id", "category")
    }),

    // J4+P7+W4+W6+U4: the user-facing point query (reference entry point C):
    // equirect-argmin snap + haversine refine + cutoff, reach lookup,
    // radius filter, distance sort.
    "q38_point_query" -> ((s, dir) => {
      import s.implicits._
      val n = Derive.nodes(s, dir)
      val sym = GraphOps.symmetrizeDedup(Derive.edges(n))
        .select(lit("t0").as("tile"), col("u"), col("v"), col("w")).as[TileEdge]
      val srcs = Derive.pois(s, dir)
        .select(lit("t0").as("tile"), col("category"), col("node_idx"), col("poi_id"))
        .as[TileSource]
      val reach = Dijkstra.reach(sym, srcs, limitM = 1000.0).toDF()
      val qp = n.filter(col("node_idx") % 300 === 7)
        .select(col("node_idx").cast("long").as("query_id"),
          (col("lon") + 1.1e-4).as("lon"), (col("lat") - 0.9e-4).as("lat"))
      val snapped = QueryLayer.snapPoints(qp, n, maxSnapM = 300.0)
      QueryLayer.pointQuery(snapped, reach, radiusM = 800.0)
        .orderBy("query_id", "category", "dist_m", "poi_id")
    }),

    // A7: the reference's accuracy-metric semantics (metrics.csv rule:
    // pass ⇔ |map − algo| ≤ 20 m + per-location offset).
    "q39_accuracy" -> ((s, dir) => {
      import s.implicits._
      val n = Derive.nodes(s, dir)
      val sym = GraphOps.symmetrizeDedup(Derive.edges(n))
        .select(lit("t0").as("tile"), col("u"), col("v"), col("w")).as[TileEdge]
      val srcs = Derive.pois(s, dir).filter(col("category") === "supermarket")
        .select(lit("t0").as("tile"), col("category"), col("node_idx"), col("poi_id"))
        .as[TileSource]
      val validation = Dijkstra.reach(sym, srcs, limitM = 1000.0).toDF()
        .select(col("node_idx"),
          (col("dist_m") + (col("node_idx") % 61) - 30).as("map_m"),
          col("dist_m").as("algo_m"),
          (col("node_idx") % 7).cast("double").as("offset_m"))
      QueryLayer.accuracy(validation, toleranceM = 20.0)
    }),

    // S4: bbox crop with complete-ways semantics (osmium extract analog).
    "q43_bbox_crop" -> ((s, dir) => {
      QueryLayer.cropCompleteWays(Derive.wayMembers(s, dir), 18.2, 54.2, 18.6, 54.5)
        .select("way_id", "node_id", "lon", "lat")
        .orderBy("way_id", "node_id")
    }),

    // S5/A6: element counts by type (osmium count analog).
    "q44_counts_by_type" -> ((s, dir) => {
      QueryLayer.countsByType(Derive.elements(s, dir))
        .orderBy("type")
    }),

    // G1(b): Pregel-style whole-graph reach — same semantics as the
    // per-tile kernel (shared oracle with q26), different execution
    // geometry: iterative distributed frontier relaxation, for graphs
    // where one tile exceeds executor memory.
    "q45_reach_pregel" -> ((s, dir) => {
      val n = Derive.nodes(s, dir)
      val sym = GraphOps.symmetrizeDedup(Derive.edges(n))
      val srcs = Derive.pois(s, dir)
        .filter(col("category") === "supermarket")
        .select(col("category"), col("node_idx"), col("poi_id"))
      Dijkstra.reachIterative(sym, srcs, limitM = 1000.0)
        .select("node_idx", "dist_m", "time_s", "poi_id")
        .orderBy("node_idx")
    }),

    // -------- LLM-data-pipeline operators over documents/embeddings --------

    // Exact dedup: md5(text) grouping with keep-min-id; corpus gets exact
    // copies of doc_id<50 planted so the collapse path is exercised.
    "q30_exact_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val corpus = d.union(
        d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      corpus
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("text_hash")
    }),

    // MinHash-LSH near-dup: banded signatures -> bucket join -> exact
    // Jaccard verify. Finds the driver's 25 planted near-dup pairs.
    "q31_minhash_lsh" -> ((s, dir) => {
      val sh = TextOps.shingleTable(t(s, dir, "documents"), "doc_id").cache()
      val cand = TextOps.minhashCandidates(sh, "doc_id")
      Materialize.thenRelease(
        TextOps.jaccardVerify(cand, sh, "doc_id", threshold = 0.5)
          .orderBy("id1", "id2"),
        sh)
    }),

    // SimHash near-dup: 64-bit shingle simhash, 4x16-bit pigeonhole blocks
    // (4x65,536 buckets — the 32-bit/8-bit form capped at 1,024 buckets,
    // a quadratic within-bucket ceiling at corpus scale). Shingles come
    // from the staged shingleTable (bound words attribute), not the inline
    // form — see TextOps.shinglesFromWords.
    "q32_simhash" -> ((s, dir) => {
      val terms = TextOps.shingleTable(t(s, dir, "documents"), "doc_id")
        // explode_outer: identical on the guaranteed-non-empty shingle
        // arrays, but avoids the inferred size-filter that would push a
        // second full shingle evaluation into the scan (see CorpusOps)
        .select(col("doc_id"), explode_outer(col("sh")).as("term"))
      TextOps.simhashPairs(TextOps.simhash64(terms, "doc_id"), "doc_id", 3)
        .orderBy("id1", "id2")
    }),

    // Corpus statistics by (lang, source) — explicit sum/count (not avg())
    // so the division is the same IEEE op in both engines.
    "q33_text_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          (sum("n_chars") / count(lit(1))).as("avg_chars"),
          sum(size(TextOps.words(col("text")))).as("sum_tokens"),
          max("n_chars").as("max_chars"),
          min("n_chars").as("min_chars"))
        .orderBy("lang", "source")
    }),

    // Language-ID heuristic: marker-token scores, argmax, confusion counts.
    "q34_langid" -> ((s, dir) => {
      TextOps.langId(t(s, dir, "documents"))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    }),

    // Quality metrics: token/length/stopword/uniqueness ratios per doc.
    "q35_quality" -> ((s, dir) => {
      TextOps.qualityMetrics(t(s, dir, "documents"))
        .select("doc_id", "n_tokens", "mean_token_len", "stop_ratio", "uniq_ratio")
        .orderBy("doc_id")
    }),

    // Token counting: whitespace, subword-run (BPE-ish), chars/4 estimate.
    "q36_tokens" -> ((s, dir) => {
      TextOps.tokenCounts(t(s, dir, "documents"))
        .select("doc_id", "tok_ws", "tok_sub", "tok_est4")
        .orderBy("doc_id")
    }),

    // Min-k md5 fingerprint (winnowing-style document sketch). Docs too
    // short to shingle are excluded — shingleTable's size(sh)>0 filter is
    // exactly the oracle's len(w)>=3 (a <3-token doc has no shingles, so no
    // fingerprint, not an empty one): shingleTable's size(w) >= 3 gate IS
    // the oracle's len(w) >= 3. Staged shingles: the inline
    // fingerprint(text) form re-ran split() per shingle (O(tokens²), 13 s
    // at sf0.1 — the round-2 verdict's slowest query).
    "q37_fingerprint" -> ((s, dir) => {
      TextOps.shingleTable(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), TextOps.fingerprintFromShingles(col("sh")).as("fp"))
        .orderBy("doc_id")
    }),

    // Brute-force cosine top-k over quantized-integer vectors (baseline).
    "q40_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.bruteTopK(e, e.filter(col("vec_id") < 5), 3)
        .orderBy("qid", "rank")
    }),

    // IVF-bucketed ANN: nearest-centroid clusters, probe 2 buckets.
    "q41_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.ivfTopK(e,
        e.filter(col("vec_id") % 100 === 0),
        e.filter(col("vec_id") < 5), k = 3, nprobe = 2)
        .orderBy("qid", "rank")
    }),

    // Random-hyperplane LSH near-dup join over embeddings (+20 exact copies).
    "q42_embed_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.select("vec_id", "embedding").union(
        e.filter(col("vec_id") < 20)
          .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      SimilarityOps.lshNearDup(corpus, e.filter(col("vec_id").between(50, 57)), 0.99)
        .orderBy("id1", "id2")
    }),

    // The composed training-data pipeline: exact dedup (keep min id) →
    // MinHash-LSH near-dup drop (keep the smaller id of each verified
    // pair) → quality gate. One pass over documents + one LSH bucket join;
    // survivors are what a pretraining corpus would keep.
    "q47_corpus_clean" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val exactKeep = docs
        .groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val nearDrop = TextOps.nearDupDropIds(docs, "doc_id", threshold = 0.5)
      val quality = TextOps.qualityMetrics(docs)
        .filter(col("n_tokens") >= 20 && col("uniq_ratio") >= 0.2)
        .select("doc_id")
      exactKeep
        .join(nearDrop, Seq("doc_id"), "left_anti")
        .join(quality, Seq("doc_id"), "left_semi")
        .orderBy("doc_id")
    }),

    // G5/F11: the tile-lattice generator (spark.range + column math).
    "q25_grid" -> ((s, dir) => {
      Grid.tiles(s, TestLattice).orderBy("row", "col")
    }),

    // W7: head-limit after a total order (the reference's default-4-tiles
    // selection, extract_map_from_json.py:46).
    "q46_head_limit" -> ((s, dir) => {
      Grid.tiles(s, TestLattice).orderBy("row", "col").limit(4)
    }),

    // §4 buffer replication: closed-form buffered tile assignment — the
    // oracle cross-checks it with an explicit containment join.
    "q28_assign_tiles" -> ((s, dir) => {
      Grid.assignBuffered(Derive.elements(s, dir).select("elem_id", "lon", "lat"), TestLattice)
        .select("elem_id", "grid_id")
        .orderBy("elem_id", "grid_id")
    }),

    // G1 multi-tile: same reach as q26 but cut into row-stripe tiles with
    // 4-row buffers (2x the 1000 m / >=250 m-per-edge hop radius) and an
    // owner-tile filter — proves tile-local routing equals the global
    // oracle while running >1 cogroup task.
    "q27_multi_tile_reach" -> ((s, dir) => {
      import s.implicits._
      val n = Derive.nodes(s, dir)
      val sym = GraphOps.symmetrizeDedup(Derive.edges(n))
      def rowOf(c: org.apache.spark.sql.Column) = floor(c / Derive.GridW)
      val rU = rowOf(col("u")); val rV = rowOf(col("v"))
      val rmin = least(rU, rV); val rmax = greatest(rU, rV)
      val eT = sym.withColumn("tid", explode(sequence(
          greatest(ceil((rmax - 13) / 10.0), lit(0L)).cast("int"),
          floor((rmin + 4) / 10.0).cast("int"))))
        .select(concat(lit("t"), col("tid")).as("tile"), col("u"), col("v"), col("w"))
        .as[TileEdge]
      val r = rowOf(col("node_idx"))
      val sT = Derive.pois(s, dir)
        .filter(col("category") === "supermarket")
        .withColumn("tid", explode(sequence(
          greatest(ceil((r - 13) / 10.0), lit(0L)).cast("int"),
          floor((r + 4) / 10.0).cast("int"))))
        .select(concat(lit("t"), col("tid")).as("tile"), col("category"),
          col("node_idx"), col("poi_id"))
        .as[TileSource]
      Dijkstra.reach(eT, sT, limitM = 1000.0)
        .filter(col("tile") ===
          concat(lit("t"), floor(col("node_idx") / (Derive.GridW * 10)).cast("int")))
        .select(col("node_idx"), col("dist_m"), col("time_s"), col("poi_id"))
        .orderBy("node_idx")
    }),

    // G1+J5: bounded multi-source Dijkstra reach, one tile, one category.
    // Ties resolve to min poi_id (deterministic lexicographic kernel).
    "q26_dijkstra_reach" -> ((s, dir) => {
      import s.implicits._
      val n = Derive.nodes(s, dir)
      val sym = GraphOps.symmetrizeDedup(Derive.edges(n))
        .select(lit("t0").as("tile"), col("u"), col("v"), col("w")).as[TileEdge]
      val srcs = Derive.pois(s, dir)
        .filter(col("category") === "supermarket")
        .select(lit("t0").as("tile"), col("category"), col("node_idx"), col("poi_id"))
        .as[TileSource]
      Dijkstra.reach(sym, srcs, limitM = 1000.0)
        .select(col("node_idx"), col("dist_m"), col("time_s"), col("poi_id"))
        .orderBy("node_idx")
    }),

    // ---- round-trip gate queries: the sinks/sources that round 2 covered
    // only by ScalaTest. Each writes a deterministic projection of a source
    // table through the sink, reads it back through the paired source, and
    // hashes against the oracle's direct view of the same data — a lossy or
    // misnamed round-trip breaks the hash.
    //
    // These five lambdas are the ONE documented exception to the engine's
    // "building a query runs nothing" contract: the operator under test IS
    // the write→read-back pair, so the fixture write happens at
    // construction. Fixture paths and the Derby DB name are unique per
    // invocation (rtPath) so concurrent runs cannot race.

    // S10: CSV sink + schema-pinned CSV source (ints + quoted strings).
    "q48_csv_roundtrip" -> ((s, dir) => {
      val path = rtPath("q48_csv")
      val src = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      Sinks.writeCsv(src, path)
      Sinks.readCsv(s, path, src.schema).orderBy("n_nationkey")
    }),

    // S11: JSON sink/source — doubles survive textually (Jackson writes the
    // shortest repr that parses back to the same IEEE value).
    "q49_json_roundtrip" -> ((s, dir) => {
      val path = rtPath("q49_json")
      val src = t(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      Sinks.writeJson(src, path)
      Sinks.readJson(s, path, src.schema).orderBy("s_suppkey")
    }),

    // S12+U3: text-lines sink + tolerant id-list reader; the duplicate-heavy
    // nationkey column exercises the first-seen dedup (the gate compare is
    // order-insensitive, so the oracle checks the distinct SET).
    "q50_text_roundtrip" -> ((s, dir) => {
      val path = rtPath("q50_text")
      Sinks.writeTextLines(t(s, dir, "customer"), "c_nationkey", path)
      Sinks.readIdLines(s, path).orderBy("id")
    }),

    // S16: JDBC sink/source against in-memory Derby (the driver Spark ships;
    // the DB stage the reference promises but never implements).
    "q51_jdbc_roundtrip" -> ((s, dir) => {
      val url = s"jdbc:derby:memory:graftq51_${java.util.UUID.randomUUID().toString.take(8)};create=true"
      val src = t(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      Sinks.writeJdbc(src, url, "supplier_rt")
      Sinks.readJdbc(s, url, "supplier_rt").orderBy("s_suppkey")
    }),

    // S7: the full validated read — extension sniff, case-insensitive header
    // resolution (Poi_Id/CATEGORY/Node_Idx/LAT), numeric coercion with the
    // -1 sentinel for 'n/a' — over a messy CSV fixture derived
    // deterministically from `part` (so DuckDB can mirror the expectation).
    "q52_validated_source" -> ((s, dir) => {
      val path = rtPath("q52_pois.csv.d")
      t(s, dir, "part").select(
          col("p_partkey").as("Poi_Id"),
          concat(lit("cat"), (col("p_partkey") % 5).cast("string")).as("CATEGORY"),
          when(col("p_partkey") % 11 === 0, lit("n/a"))
            .otherwise((col("p_partkey") % 1500).cast("string")).as("Node_Idx"),
          (lit(18.4) + (col("p_partkey") % 97) * lit(2e-3)).as("lon"),
          (lit(54.3) + ((col("p_partkey") * 13) % 89) * lit(2e-3)).as("LAT"))
        .write.mode("overwrite").option("header", "true").csv(path)
      ValidatedSource.readPois(s, path).orderBy("poi_id")
    }),

    // P3: valid-endpoint filter over edges with injected dangling (-1/-9)
    // endpoints — the reference's dropna-after-rekey guard.
    "q53_valid_endpoints" -> ((s, dir) => {
      val withBad = Derive.edges(Derive.nodes(s, dir)).select(
        when(col("u") % 53 === 0, lit(-1)).otherwise(col("u")).as("u"),
        when(col("v") % 71 === 0, lit(-9)).otherwise(col("v")).as("v"),
        col("w"))
      GraphOps.validEndpoints(withBad).orderBy("u", "v")
    }),

    // P8: distance-window node filter, BOTH branches in one result — a
    // center that hits (radius branch) and a far center whose empty radius
    // falls back to the k nearest (knn branch).
    "q54_nodes_near" -> ((s, dir) => {
      val n = Derive.nodes(s, dir)
      val hit = QueryLayer.nodesNear(n, 18.45, 54.35, 500.0)
        .withColumn("branch", lit("radius"))
      val miss = QueryLayer.nodesNear(n, 18.0, 54.0, 100.0, fallbackK = 7)
        .withColumn("branch", lit("knn"))
      // mm quantization for the GATE only: the knn branch's ~42 km
      // distances diverge from DuckDB in the last ulps of asin/cos (libm
      // vs libm); the operator itself stays full-precision.
      hit.unionByName(miss)
        .select(col("branch"), col("node_idx"),
          round(col("center_dist_m"), 3).as("center_dist_mm3"))
        .orderBy("branch", "node_idx")
    }),

    // P12: WKT geometry → centroid normalization (shapely semantics:
    // point itself / multipoint arithmetic mean / length-weighted line /
    // shoelace polygon; unsupported type → null) over a part-derived WKT
    // fixture with integer
    // coordinates, so every shoelace sum is exact and the one division per
    // coordinate is the same IEEE op in both engines. The oracle does NOT
    // reparse strings — it recomputes centroids straight from the integer
    // arithmetic, an independent check of the whole parse+math path.
    "q55_wkt_centroid" -> ((s, dir) => {
      val p = col("p_partkey")
      def istr(c: org.apache.spark.sql.Column) = c.cast("int").cast("string")
      def xy(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        concat(istr(x), lit(" "), istr(y))
      val a = p % 100; val b = (p * 7) % 100
      val cc = p % 5 + 1; val dd = (p * 3) % 7 + 1
      val m = p % 5
      val wkt = when(m === 0, concat(lit("POINT ("), xy(a, b), lit(")")))
        .when(m === 1, concat(lit("LINESTRING ("), xy(a, b), lit(", "),
          xy(a + cc, b + dd), lit(", "), xy(a + cc + 3, b), lit(")")))
        .when(m === 2, concat(lit("POLYGON (("), xy(a, b), lit(", "),
          xy(a + cc, b), lit(", "), xy(a, b + dd), lit(", "), xy(a, b), lit("))")))
        .when(m === 3, concat(lit("MULTIPOINT (("), xy(a, b), lit("), ("),
          xy(a + cc, b + dd), lit("))")))
        .otherwise(concat(lit("GEOM ("), xy(a, b), lit(")")))
      t(s, dir, "part").select(p.as("elem_id"), wkt.as("wkt"))
        .select(col("elem_id"),
          Wkt.geomType(col("wkt")).as("typ"),
          Wkt.points(col("wkt")).as("pts"))
        .select(col("elem_id"), col("typ"),
          Wkt.centroid(col("typ"), col("pts")).as("c"))
        .select(col("elem_id"), col("typ"),
          col("c.x").as("cx"), col("c.y").as("cy"))
        .orderBy("elem_id")
    }),

    // Gopher-style repetition quality metrics; repetitive suffixes planted
    // on doc_id%10==0 so the dup-2gram path fires on real rows. All ratios
    // are exact integer divisions (engine-identical IEEE ops).
    "q56_repetition" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" spam spam spam spam")))
          .otherwise(col("text")).as("text"))
      CorpusOps.repetitionStats(docs).orderBy("doc_id")
    }),

    // Deterministic stratified sampling (mixture weighting): md5-bucket
    // thresholds per source, map-side only — reproducible across engines,
    // runs, and partitionings.
    "q57_stratified_sample" -> ((s, dir) => {
      val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.125)
      CorpusOps.sampleByHash(t(s, dir, "documents"), rates)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // PII scrubbing over planted emails/phones/card numbers; result keyed
    // by md5 of the scrubbed text so the gate checks every replacement
    // byte without hauling full text through the compare.
    "q58_pii_scrub" -> ((s, dir) => {
      val corpus = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" call +1 555 123 4567")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0, lit(" card 4111111111111111")).otherwise(lit("")))
          .as("text"))
      CorpusOps.scrubPii(corpus)
        .select(col("doc_id"), col("n_pii"), md5(col("text")).as("scrubbed_md5"))
        .orderBy("doc_id")
    }),

    // Per-domain frequency cap (anti-SEO-farm gate): partitioned window,
    // deterministic doc_id tie-break.
    "q59_domain_cap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("d"), (col("doc_id") % 37).cast("string")).as("domain"))
      CorpusOps.capPerDomain(docs, cap = 8)
        .orderBy("domain", "doc_id")
    }),

    // Distributed Lloyd k-means (IVF centroid training): k=4, 2 fixed
    // iterations, exact-integer assignment, requantized means. Long-form
    // output (scalar cells only); the oracle unrolls both rounds.
    "q60_kmeans" -> ((s, dir) => {
      SimilarityOps.kmeansCentroids(t(s, dir, "embeddings"), k = 4, iters = 2, dim = 64)
        .select(col("cid"), col("n"), posexplode(col("cv")))
        .toDF("cid", "n", "pos", "cval")
        .orderBy("cid", "pos")
    }),

    // The streaming corpus-intake operator on bounded input (batch twin of
    // StreamPipeline stage 4). WHICH row survives content dedup is
    // engine-arbitrary, so the oracle-checkable contract is the surviving
    // (text_hash, n_tokens) set — unique after dedup and identical for
    // identical texts.
    "q61_doc_intake" -> ((s, dir) => {
      graft.streaming.StreamOps.cleanDocStream(t(s, dir, "documents"))
        .select(col("text_hash"),
          size(TextOps.words(col("text"))).as("n_tokens"))
        .orderBy("text_hash")
    }),

    // Benchmark decontamination (the eval-leak gate): every 5th document
    // plays the benchmark; corpus docs sharing any distinct 8-gram shingle
    // with it are flagged with their overlap count. Near-dups of benchmark
    // docs light up here — exactly the leak class the stage exists for.
    "q62_decontaminate" -> ((s, dir) => {
      val all = t(s, dir, "documents")
      CorpusOps.contaminated(
          all.filter(col("doc_id") % 5 =!= 0),
          all.filter(col("doc_id") % 5 === 0), n = 8)
        .orderBy("doc_id")
    }),

    // Token-window chunking (training-segment packing): 32-token windows,
    // stride 16, tail kept. Chunk text travels as md5 so the gate hashes
    // every byte without hauling full text through the compare.
    "q63_chunking" -> ((s, dir) => {
      CorpusOps.chunkTokens(t(s, dir, "documents"), size = 32, stride = 16)
        .select(col("doc_id"), col("chunk_idx"),
          md5(col("chunk_text")).as("chunk_md5"), col("n_tokens"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // ------------------------------------------------- event-stream ops
    // (EventOps scaladoc: Spark reads the nanos parquet ts as a long;
    // `ts div 1000` == DuckDB's µs-truncated read — all comparisons are
    // integer-micros end to end.)

    // Distributed as-of join: attribute each purchase to the LATEST
    // preceding view by the same user (inclusive ties). The Spark side is
    // the union-window single-shuffle shape; the oracle is DuckDB's
    // native ASOF LEFT JOIN — two different algorithms, one answer.
    "q64_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_id").as("id"), EventOps.tsUs("ts").as("ts_us"),
        col("event_type"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
      val views = ev.filter(col("event_type") === "view").drop("event_type")
      EventOps.asofJoin(purchases, views, "user_id", Seq("value"))
        .select(col("user_id"), col("id").as("event_id"), col("ts_us"),
          round(col("value") * 100).cast("long").as("purchase_cents"),
          col("asof_id").as("view_id"), col("asof_ts_us").as("view_ts_us"),
          round(col("asof_value") * 100).cast("long").as("view_cents"))
        .orderBy("user_id", "event_id")
    }),

    // Gap-based sessionization (30-min inactivity gap) + per-session
    // rollup; lag/cumsum windows share one shuffle + sort.
    "q65_sessionize" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_id").as("id"), EventOps.tsUs("ts").as("ts_us"),
        col("value"))
      EventOps.sessionize(ev, "user_id", gapUs = 30L * 60 * 1000000)
        .orderBy("user_id", "session_idx")
    }),

    // Tumbling-window rollup through Spark's streaming-compatible
    // window() (epoch-aligned hourly buckets == date_trunc in UTC).
    "q66_time_rollup" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        EventOps.tsUs("ts").as("ts_us"), col("event_type"), col("value"))
      EventOps.tumblingRollup(ev, "1 hour")
        .orderBy("bucket_us", "event_type")
    }),

    // Rolling trailing-24h per-user aggregate via a RANGE window frame on
    // integer micros (peers included identically in both engines).
    "q67_rolling_window" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_id").as("id"), EventOps.tsUs("ts").as("ts_us"),
        col("value"))
      EventOps.rollingAgg(ev, "user_id", windowUs = 24L * 3600 * 1000000)
        .withColumnRenamed("id", "event_id")
        .orderBy("user_id", "event_id")
    }),

    // JSON property extraction (get_json_object ≡ json_extract_string)
    // feeding a grouped rollup.
    "q68_json_props" -> ((s, dir) => {
      t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("value"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .orderBy("k_bucket")
    }),

    // Ordered-funnel conversion: first signup → first strictly-later
    // purchase per user, with time-to-convert.
    "q69_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        EventOps.tsUs("ts").as("ts_us"), col("event_type"))
      EventOps.funnel(ev, "user_id", "signup", "purchase")
        .orderBy("user_id")
    }),

    // SemDeDup-style semantic dedup: k-means clusters (the q60 trainer) →
    // within-cluster exact-cosine prune, keep-min policy. Same planted
    // +10000 copies as q42 — every copy must be dropped, every original
    // must survive.
    "q70_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.select("vec_id", "embedding").union(
        e.filter(col("vec_id") < 20)
          .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      SimilarityOps.semDedup(corpus, k = 4, iters = 2, dim = 64, threshold = 0.99)
        .orderBy("vec_id")
    }),

    // Connected components over the verified MinHash near-dup pairs:
    // cluster-level dedup canonicalization — component = smallest doc id
    // reachable through near-dup edges (vs the pairwise keep-min rule,
    // which can keep several docs of one transitive group).
    "q71_components" -> ((s, dir) => {
      val sh = TextOps.shingleTable(t(s, dir, "documents"), "doc_id").cache()
      val pairs = Materialize.thenRelease(
        TextOps.jaccardVerify(
          TextOps.minhashCandidates(sh, "doc_id"), sh, "doc_id", threshold = 0.5),
        sh)
      GraphOps.connectedComponents(pairs.select("id1", "id2"))
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    // EXACT all-pairs n-gram Jaccard (no LSH): inverted shingle index +
    // size-ratio prune. Ground truth for the q31 approximate chain.
    "q72_jaccard_allpairs" -> ((s, dir) =>
      TextOps.jaccardAllPairs(
          TextOps.shingleTable(t(s, dir, "documents"), "doc_id"), "doc_id",
          threshold = 0.5)
        .orderBy("id1", "id2")),

    // Deterministic training-order shuffle + balanced sharding (the final
    // corpus-build stage): seeded md5 order, shard = hash mod N, per-shard
    // positions.
    "q73_shuffle_shard" -> ((s, dir) =>
      CorpusOps.shuffleShard(t(s, dir, "documents"), "doc_id",
          seed = "graft-r5", nShards = 8)
        .orderBy("shard", "pos")),

    // Deterministic integer PageRank (micro-unit ranks, 5 rounds) over the
    // symmetrized walkable graph — bit-exact distributed by construction
    // (all-integer mass updates), mirrored as 5 unrolled CTE rounds.
    "q74_pagerank" -> ((s, dir) => {
      val sym = GraphOps.symmetrizeDedup(Derive.edges(Derive.nodes(s, dir)))
      GraphOps.pageRank(sym, iters = 5)
        .select(col("node"), col("rank").as("rank_micro"))
        .orderBy("node")
    }),

    // Exact global-percentile quality gate: drop the bottom quartile of
    // the corpus by distinct-token ratio (reduce-then-window percentile —
    // the value-domain-bounded exact form; production = percentile_approx).
    "q75_quality_gate" -> ((s, dir) =>
      CorpusOps.qualityPercentileGate(t(s, dir, "documents"), frac = 0.25)
        .orderBy("doc_id")),

    // TF-IDF top-3 characteristic terms per document (round-6 idf for
    // cross-engine ln parity; term-string tie-break).
    "q76_tfidf" -> ((s, dir) =>
      TextOps.tfidfTopTerms(t(s, dir, "documents"), k = 3)
        .orderBy("doc_id", "rank")),

    // CDC latest-wins snapshot: the event feed as a changelog — 'error'
    // events are tombstones, anything else upserts the user's state
    // (integer cents). One shuffle + per-key sort (log compaction).
    "q77_cdc_snapshot" -> ((s, dir) => {
      EventOps.cdcSnapshot(cdcFeed(s, dir), "user_id", "state_cents")
        .orderBy("user_id")
    }),

    // SCD type-2 history over the per-user event-type state: run-collapsed
    // versioned validity intervals, last version open-ended. Three windows,
    // one shuffle.
    "q78_scd2" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_id").as("id"), EventOps.tsUs("ts").as("ts_us"),
        col("event_type"))
      EventOps.scd2(ev, "user_id", "event_type")
        .orderBy("user_id", "version")
    }),

    // Bigram-LM quality score: corpus-trained conditional bigram
    // probabilities in integer micro-units, floored per-doc mean — the
    // deterministic stand-in for perplexity ranking.
    "q79_bigram_lm" -> ((s, dir) =>
      TextOps.bigramLmScore(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // Asymmetric containment near-dup (|A∩B|/|A| ≥ 0.8): catches short
    // docs absorbed into longer ones, which Jaccard's union denominator
    // hides. Inverted-index self-join, no all-pairs.
    "q80_containment" -> ((s, dir) =>
      TextOps.containmentPairs(
          TextOps.shingleTable(t(s, dir, "documents"), "doc_id"), "doc_id",
          threshold = 0.8)
        .orderBy("id1", "id2")),

    // Bloom-pruned decontamination: broadcast Bloom of benchmark 8-grams
    // prunes the corpus map-side, exact join verifies — bit-identical to
    // q62 (same oracle), but the corpus never shuffles at scale.
    "q81_bloom_decontaminate" -> ((s, dir) => {
      val all = t(s, dir, "documents")
      CorpusOps.contaminatedBloom(
          all.filter(col("doc_id") % 5 =!= 0),
          all.filter(col("doc_id") % 5 === 0), n = 8)
        .orderBy("doc_id")
    }),

    // URL canonicalization dedup over deterministically messy synthetic
    // fetch URLs (case, default port, tracking params, fragments,
    // trailing slash).
    "q82_url_dedup" -> ((s, dir) => {
      val hosts = array(lit("Example.COM"), lit("example.com:443"), lit("news.site.org"))
      val tails = array(lit("?utm_source=feed"), lit("/"),
        lit("?id=7&utm_campaign=x"), lit("#sec2"))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"),
          element_at(hosts, (col("doc_id") % 3).cast("int") + 1),
          lit("/art/"), (col("doc_id") % 50).cast("string"),
          element_at(tails, (col("doc_id") % 4).cast("int") + 1)).as("url"))
      CorpusOps.dedupByUrl(docs).orderBy("canon_url")
    }),

    // Per-language exact token-length percentile report (rank-based
    // p50/p90/p99, reduce-then-window).
    "q83_length_report" -> ((s, dir) =>
      CorpusOps.lengthReport(t(s, dir, "documents"), "lang")
        .orderBy("lang")),

    // DSv2 source end to end: write a customer slice as CSV, read it back
    // through graft.sources.v2.GraftCsv with a filter the SCAN evaluates
    // (pushed, not post-scan) and a pruned projection — result must equal
    // the oracle's view of the original table.
    "q84_dsv2_scan" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val path = rtPath("q84_dsv2")
      val src = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      Sinks.writeCsv(src.repartition(4), path)
      s.read.schema(StructType(Seq(
          StructField("c_custkey", LongType), StructField("c_name", StringType),
          StructField("c_nationkey", LongType), StructField("c_acctbal", DoubleType))))
        .format("graft.sources.v2.GraftCsv").load(path)
        .filter(col("c_nationkey") < 5 && col("c_acctbal") >= 0.0)
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }),

    // Corpus vocabulary: global top-50 tokens by frequency (Zipf view,
    // TakeOrderedAndProject — no global sort).
    "q85_vocab_report" -> ((s, dir) =>
      TextOps.vocabReport(t(s, dir, "documents"), k = 50)
        .orderBy("rank")),

    // Pretraining concat-and-chunk packing manifest: 64-token sequences
    // over the deterministic 4-shard shuffle order.
    "q86_pack_offsets" -> ((s, dir) =>
      CorpusOps.packOffsets(t(s, dir, "documents"), capacity = 64,
          seed = "graft-r6", nShards = 4)
        .orderBy("shard", "start_tok"))
,
    // Sketch-based distinct counting with a VERIFIED error bound: exact
    // per-language distinct-token counts next to HyperLogLog++
    // (approx_count_distinct, the constant-memory 100 TB path), asserting
    // the sketch lands within 5%. The HLL estimate itself is
    // engine-specific, so the oracle pins the exact count and the BOUND
    // (a boolean both engines can agree on), not the estimate.
    "q87_distinct_sketch" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("lang"), explode_outer(TextOps.words(col("text"))).as("tok"))
      toks.groupBy("lang")
        .agg(countDistinct(col("tok")).as("n_distinct"),
          approx_count_distinct(col("tok")).as("approx"))
        .select(col("lang"), col("n_distinct"),
          (abs(col("approx") - col("n_distinct")) * 100 <= col("n_distinct") * 5)
            .as("approx_ok"))
        .orderBy("lang")
    }),

    // Salted equi-join gate: SkewOps.saltedJoin must be RESULT-IDENTICAL
    // to the plain inner join it replaces (the oracle IS the plain join) —
    // lineitem×supplier revenue by nation, integer cents.
    "q88_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey").as("s_suppkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"))
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      SkewOps.saltedJoin(li, sup, "s_suppkey", saltFactor = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"), sum("price_c").as("revenue_c"))
        .orderBy("s_nationkey")
    }),

    // Bucket-expansion range join: ship-day points against 25 overlapping
    // promo windows (half-open day intervals) — an equi-join on the bucket
    // key instead of the nested-loop Spark would otherwise plan.
    "q89_range_join" -> ((s, dir) => {
      val pts = t(s, dir, "lineitem").select(
        expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE'1995-01-01') AS BIGINT)").as("d"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
      val ivs = s.range(25).select(col("id").cast("int").as("interval_id"),
        (col("id") * 97L).as("lo_day"), (col("id") * 97L + 150L).as("hi_day"))
      val hits = RangeJoinOps
        .bucketRangeJoin(pts, "d", ivs, "lo_day", "hi_day", bucketWidth = 128L)
        .groupBy("interval_id")
        .agg(count(lit(1)).as("n_items"), sum("qty").as("sum_qty"))
      ivs.join(hits, Seq("interval_id"), "left")
        .select(col("interval_id"), col("lo_day"), col("hi_day"),
          coalesce(col("n_items"), lit(0L)).as("n_items"),
          coalesce(col("sum_qty"), lit(0L)).as("sum_qty"))
        .orderBy("interval_id")
    }),

    // One-scan column profiler over lineitem's key/flag/date columns.
    "q90_profile" -> ((s, dir) =>
      ProfileOps.profile(t(s, dir, "lineitem"),
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_returnflag", "l_linestatus", "l_shipdate"))
        .orderBy("col_name")),

    // MinHash estimator calibration: signature-agreement fraction (k=32)
    // vs the exact n-gram Jaccard on every exact near-dup pair — the
    // in-query contract |est − exact| ≤ 0.3 (≈3.4σ at J=0.5, fixed hash
    // family so deterministic) that justifies the q31 LSH chain.
    "q91_minhash_estimate" -> ((s, dir) => {
      val sh = TextOps.shingleTable(t(s, dir, "documents"), "doc_id").cache()
      // jaccardAllPairs returns a MATERIALIZED frame (localCheckpoint) —
      // its three consumers below re-read stored partitions, no extra cache
      val exact = TextOps.jaccardAllPairs(sh, "doc_id", threshold = 0.5)
      // signatures are only consumed for docs that appear in an exact
      // pair — semi-join BEFORE the k×|shingles| permutation arithmetic
      // (the near-dup population is a sliver of the corpus: computing
      // sigs for everyone was the dominant cost of this query, 5.9 s →
      // 2.6 s at sf0.1)
      val pairIds = exact.select(col("id1").as("doc_id"))
        .union(exact.select(col("id2").as("doc_id"))).distinct()
      val sigs = sh.join(broadcast(pairIds), Seq("doc_id"), "leftsemi")
        .select(col("doc_id"), TextOps.shingleHashes(col("sh")).as("hs"))
        .select(col("doc_id"), TextOps.minhashSignature(col("hs"), k = 32).as("sig"))
      Materialize.thenRelease(
        exact
          .join(sigs.select(col("doc_id").as("id1"), col("sig").as("sig1")), Seq("id1"))
          .join(sigs.select(col("doc_id").as("id2"), col("sig").as("sig2")), Seq("id2"))
          .withColumn("est", aggregate(
            zip_with(col("sig1"), col("sig2"), (a, b) => when(a === b, 1).otherwise(0)),
            lit(0), (acc, x) => acc + x) / lit(32.0))
          .select(col("id1"), col("id2"), col("jaccard"),
            (abs(col("est") - col("jaccard")) <= 0.3).as("est_ok"))
          .orderBy("id1", "id2"),
        sh)
    }),

    // Native grouped top-k aggregate (TypedImperativeAggregate): top-3
    // orders per status by price, WITHOUT a window sort — the map-side
    // partial reduces each group to ≤3 pairs per partition before the
    // shuffle (the oracle is the classic window-rank form).
    "q92_native_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"),
          col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(call_function("graft_top_k", col("price_c"), col("o_orderkey"), lit(3)).as("top"))
        .select(col("o_orderstatus"), posexplode(col("top")))
        .select(col("o_orderstatus"), (col("pos") + 1).cast("long").as("rn"),
          col("col.key").as("price_c"), col("col.payload").as("o_orderkey"))
        .orderBy("o_orderstatus", "rn")
    }),

    // Exact duplicated-span masking (Lee et al. ACL'22 re-expressed
    // relationally): tokens covered by any 8-gram occurring in ≥2 distinct
    // docs are masked; per-doc token accounting.
    "q93_dup_span_mask" -> ((s, dir) =>
      TextOps.dupSpanMask(t(s, dir, "documents"), "doc_id", n = 8, minDocs = 2)
        .orderBy("doc_id")),

    // ROLLUP lattice with GROUPING indicators — subtotal + grand-total rows
    // in one pass (Spark expands grouping sets map-side; still ONE shuffle).
    "q94_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("total_c"),
          grouping("o_orderstatus").cast("long").as("g_status"),
          grouping("o_orderpriority").cast("long").as("g_prio"))
        .orderBy(col("g_status"), col("g_prio"),
          col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // Pivot (crosstab): value cents by day-of-month × event_type, explicit
    // value list so the output schema is static (no driver-side distinct
    // scan — the implicit-values form collects the pivot domain first).
    "q95_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .select(
          // ts is raw epoch NANOS (bigint) on the Spark side; the oracle's
          // DuckDB reader sees a native timestamp — micros → UTC timestamp
          dayofmonth(timestamp_micros(EventOps.tsUs("ts"))).cast("long").as("day"),
          col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
        .groupBy("day")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum("value_c"))
        .orderBy("day")),

    // Incremental aggregate maintenance: partial aggregates of a base slice
    // and a late-arriving delta slice are MERGED (sums add, min/max
    // combine, avg derived from the sums) and must equal the full
    // recompute — the oracle IS the full recompute. This is the contract
    // that lets a 100 TB rollup absorb a day's delta without re-reading
    // 100 TB.
    "q96_incremental_agg" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        EventOps.tsUs("ts").as("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
      // 2024-01-25 00:00:00 UTC in epoch micros — the base/delta split point
      val cutUs = 1706140800000000L
      def partial(df: DataFrame): DataFrame = df.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("value_c").as("sum_c"),
          min("value_c").as("min_c"), max("value_c").as("max_c"))
      partial(ev.filter(col("ts_us") < cutUs))
        .unionByName(partial(ev.filter(col("ts_us") >= cutUs)))
        .groupBy("event_type")
        .agg(sum("n").as("n"), sum("sum_c").as("sum_c"),
          min("min_c").as("min_c"), max("max_c").as("max_c"))
        .select(col("event_type"), col("n"), col("sum_c"), col("min_c"),
          col("max_c"), expr("sum_c div n").as("avg_c"))
        .orderBy("event_type")
    }),

    // BPE merge induction (tokenizer training): 4 rounds of most-frequent
    // adjacent-pair fusion over the corpus vocabulary — the oracle replays
    // the identical algorithm as 4 unrolled CTE rounds.
    "q97_bpe_merges" -> ((s, dir) =>
      Bpe.merges(t(s, dir, "documents"), rounds = 4).orderBy("round")),

    // Exact threshold heavy hitters via per-partition Misra-Gries
    // candidates + broadcast exact recount — shuffle O(partitions ×
    // capacity), not O(distinct keys). The bar is N-RELATIVE (freq ≥
    // ⌈3N/4000⌉, exact integer arithmetic mirrored in the oracle), so
    // "heavy" keeps meaning heavy at any scale and the no-false-negative
    // precondition minFreq·capacity ≥ N holds by construction
    // (3·16384 ≥ 4000).
    "q98_heavy_hitters" -> ((s, dir) =>
      HeavyHitters.thresholdHittersRel(t(s, dir, "lineitem").select("l_partkey"),
        "l_partkey", capacity = 16384, num = 3, den = 4000)),

    // Z-order clustered layout: write lineitem Morton-clustered on
    // (partkey, suppkey), read back through a 2-D box predicate — the
    // layout prunes row groups on BOTH columns; the result answers to the
    // plain-filter oracle over the original table.
    "q99_zorder_scan" -> ((s, dir) => {
      val path = rtPath("zorder.parquet")
      ZOrder.writeClustered(
        t(s, dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity"),
        "l_partkey", "l_suppkey", path)
      s.read.parquet(path)
        .filter(col("l_partkey").between(500, 700) &&
          col("l_suppkey").between(50, 90))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("sum_qty"))
        .orderBy("l_partkey")
    }),

    // MERGE upsert: snapshot(before cut) merged with the post-cut delta
    // must equal the snapshot of the WHOLE feed (incremental snapshot
    // maintenance) — the oracle is q77's full-feed snapshot.
    "q100_merge_upsert" -> ((s, dir) => {
      val feed = cdcFeed(s, dir)
      val cutUs = 1706140800000000L // 2024-01-25 00:00:00 UTC
      val base = EventOps.cdcSnapshot(
        feed.filter(col("ts_us") < cutUs), "user_id", "state_cents")
      EventOps.mergeUpsert(base, feed.filter(col("ts_us") >= cutUs),
          "user_id", "state_cents")
        .orderBy("user_id")
    }),

    // Window-function breadth over one (event_type, ts) ordering: lag,
    // lead, first_value, ntile, percent_rank, cume_dist share a single
    // shuffle + per-partition sort.
    "q101_window_suite" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts_us", "id")
      t(s, dir, "events")
        .select(col("event_type"), col("event_id").as("id"),
          EventOps.tsUs("ts").as("ts_us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
        .select(col("event_type"), col("id"), col("ts_us"),
          lag("value_c", 1).over(w).as("prev_c"),
          lead("value_c", 1).over(w).as("next_c"),
          first("value_c").over(w).as("first_c"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("event_type", "ts_us", "id")
    }),

    // Fuzzy catalog dedup: DISTINCT part names (the bounded name domain,
    // tiny at any corpus size), blocked on the noun, Levenshtein ≤ 3
    // within blocks — never all-pairs on the raw table.
    "q102_fuzzy_names" -> ((s, dir) => {
      val names = t(s, dir, "part").select("p_name").distinct()
        .select(col("p_name"), split(col("p_name"), " ").getItem(1).as("noun"))
      names.alias("a").join(names.alias("b"),
          col("a.noun") === col("b.noun") && col("a.p_name") < col("b.p_name"))
        .select(col("a.p_name").as("name1"), col("b.p_name").as("name2"),
          levenshtein(col("a.p_name"), col("b.p_name")).cast("long").as("dist"))
        .filter(col("dist") <= 3)
        .orderBy("name1", "name2")
    }),

    // The RewriteRangeJoin optimizer rule end-to-end: the join is written
    // as the NAIVE inequality join (what a user would type; Spark alone
    // plans a nested loop) and the injected rule turns it into the
    // bucket-expansion equi-join. Runs in its own newSession() so the
    // bucket-width conf cannot leak into sibling queries; the session
    // inherits the GraftExtensions registration.
    "q103_range_join_rule" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set(graft.expressions.RewriteRangeJoin.WidthConfKey, "128")
      val pts = s2.read.parquet(s"$dir/lineitem.parquet").select(
        expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE'1995-01-01') AS BIGINT)").as("d"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
      val ivs = s2.range(25).select(col("id").cast("int").as("interval_id"),
        (col("id") * 97L).as("lo_day"), (col("id") * 97L + 150L).as("hi_day"))
      pts.join(ivs, col("d") >= col("lo_day") && col("d") < col("hi_day"))
        .groupBy("interval_id")
        .agg(count(lit(1)).as("n_items"), sum("qty").as("sum_qty"))
        .orderBy("interval_id")
    }),

    // Per-node triangle counts over the triangulated lattice (the plain
    // lattice is triangle-free): oriented wedge join, each triangle found
    // once, fanned out to its corners.
    "q104_triangles" -> ((s, dir) =>
      GraphOps.triangleCounts(Derive.edgesDiag(Derive.nodes(s, dir)))
        .orderBy("node"))
    ,

    // SQL surface: correlated scalar subquery + NOT EXISTS anti-semantics
    // (Catalyst decorrelates both into joins — the plan is a join, not a
    // per-row re-execution).
    "q105_subqueries" -> ((s, dir) => {
      Seq("orders", "customer").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(n))
      s.sql(
        """SELECT c_custkey,
          |       (SELECT count(*) FROM orders o
          |        WHERE o.o_custkey = c.c_custkey) AS n_orders,
          |       EXISTS(SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_totalprice > 90000) AS has_big
          |FROM customer c
          |WHERE NOT EXISTS (SELECT 1 FROM orders o
          |                  WHERE o.o_custkey = c.c_custkey
          |                    AND o.o_orderstatus = 'F')
          |ORDER BY c_custkey""".stripMargin)
    }),

    // SQL surface: INTERSECT ALL / EXCEPT ALL bag semantics on the
    // (custkey, priority) projection of two order-status slices.
    "q106_set_ops" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """WITH f AS (SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
          |     o AS (SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'O')
          |SELECT 'both' AS side, o_custkey, o_orderpriority, count(*) AS n FROM
          |  (SELECT * FROM f INTERSECT ALL SELECT * FROM o)
          |GROUP BY 2, 3
          |UNION ALL
          |SELECT 'f_only', o_custkey, o_orderpriority, count(*) FROM
          |  (SELECT * FROM f EXCEPT ALL SELECT * FROM o)
          |GROUP BY 2, 3
          |ORDER BY side, o_custkey, o_orderpriority""".stripMargin)
    }),

    // CUBE lattice (all 2^k grouping combinations) + GROUPING indicators —
    // completes the multi-dimensional aggregation family next to q94's
    // ROLLUP and q95's pivot. One shuffle: Spark expands the grouping sets
    // map-side, partial-aggregates, and shuffles once on the expanded key.
    "q107_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_items"),
          expr("CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)")
            .as("price_c"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"))
        .orderBy(col("g_flag"), col("g_status"),
          col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first))
    ,

    // S6-sibling: ORC sink/source round-trip — write the events slice as
    // ORC, read it back self-describing (no caller schema), values must
    // equal the oracle's view of the ORIGINAL parquet table bit-for-bit
    // (IEEE doubles included: both containers store binary doubles).
    "q108_orc_roundtrip" -> ((s, dir) => {
      val path = rtPath("q108_orc")
      val src = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      Sinks.writeOrc(src, path)
      Sinks.readOrc(s, path).orderBy("event_id")
    }),

    // Sketch-based quantiles with a VERIFIED rank bound (q87's discipline
    // applied to percentile_approx): exact all-integer rank percentiles
    // per event type next to the KLL-style sketch — the constant-memory
    // 100 TB path — asserting the sketch value's EXACT rank lands within
    // 2% of target (the sketch guarantees 1/accuracy = 0.1%). The sketch
    // estimate itself is engine-specific, so the oracle pins the exact
    // percentiles and the BOUND, not the estimate.
    "q109_quantile_sketch" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
      val byV = ev.groupBy("event_type", "value_c").agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy("event_type").orderBy("value_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = byV
        .withColumn("cum", sum("cnt").over(wCum))
        .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
      val exact = cum.groupBy("event_type").agg(
        max("n").as("n_events"),
        min(when(col("cum") * 2 >= col("n"), col("value_c"))).as("p50_c"),
        min(when(col("cum") * 10 >= col("n") * 9, col("value_c"))).as("p90_c"))
      val approx = ev.groupBy("event_type").agg(
        percentile_approx(col("value_c"), lit(0.5), lit(1000)).as("a50"),
        percentile_approx(col("value_c"), lit(0.9), lit(1000)).as("a90"))
      // exact rank of each sketch value: largest cum at value_c <= estimate
      val ranks = cum.join(broadcast(approx), "event_type")
        .groupBy("event_type")
        .agg(max(col("n")).as("n"),
          max(when(col("value_c") <= col("a50"), col("cum"))).as("r50"),
          max(when(col("value_c") <= col("a90"), col("cum"))).as("r90"))
      exact.join(ranks.select(col("event_type"),
          (abs(col("r50") * 100 - col("n") * 50) <= col("n") * 2).as("p50_ok"),
          (abs(col("r90") * 100 - col("n") * 90) <= col("n") * 2).as("p90_ok")),
        "event_type")
        .orderBy("event_type")
    }),

    // Character-entropy quality metric (gibberish / binary-junk detector):
    // per-doc Shannon entropy in nats over char counts, rounded 5 dp.
    "q110_char_entropy" -> ((s, dir) =>
      TextOps.charEntropy(t(s, dir, "documents")).orderBy("doc_id"))
    ,

    // BM25 retrieval: global top-20 docs for a pinned 3-term query —
    // integer micro-unit contributions make the per-doc sum order-free.
    "q111_bm25" -> ((s, dir) =>
      TextOps.bm25(t(s, dir, "documents"),
        Seq("spark", "join", "window"), topK = 20))
    ,

    // 3-core of the deterministically thinned (85%) triangulated lattice:
    // iterative peeling to fixpoint (9 rounds at sf0.01); the oracle
    // unrolls 11 rounds — peeling is idempotent past the fixpoint, so the
    // two spare rounds are no-ops.
    "q112_kcore" -> ((s, dir) => {
      val e = Derive.edgesDiag(Derive.nodes(s, dir))
        .filter((col("u") * 37 + col("v") * 61) % 100 < 85)
      GraphOps.kCore(e, k = 3).orderBy("node")
    }),

    // PPJoin-style prefix-filtered containment: must be RESULT-IDENTICAL
    // to the exact posting self-join — q80's oracle verbatim. Candidates
    // come only from each doc's rarest (1−t)·sz shingles; the exact
    // array-intersect verify kills false ones.
    "q113_containment_prefix" -> ((s, dir) =>
      TextOps.containmentPairsPrefix(
          TextOps.shingleTable(t(s, dir, "documents"), "doc_id"), "doc_id",
          thrNum = 4, thrDen = 5)
        .orderBy("id1", "id2"))
    ,

    // SQL surface: correlated LATERAL subquery with ORDER BY + LIMIT —
    // per-nation top-2 customers by balance. Catalyst decorrelates the
    // lateral into a window-ranked join, not a per-row re-execution.
    "q114_lateral" -> ((s, dir) => {
      Seq("nation", "customer").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(n))
      s.sql(
        """SELECT n_name, c.c_custkey, c.c_acctbal
          |FROM nation, LATERAL (
          |  SELECT c_custkey, c_acctbal FROM customer
          |  WHERE c_nationkey = n_nationkey
          |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
          |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin)
    }),

    // Interval-overlap join via two-sided bucket expansion: 25 promo
    // windows × per-order activity spans [d0, d0 + 1 + orderkey%60) —
    // every overlapping pair exactly once, no nested loop, no distinct.
    "q115_interval_overlap" -> ((s, dir) => {
      val promos = s.range(25).select(col("id").cast("int").as("promo_id"),
        (col("id") * 97L).as("p_lo"), (col("id") * 97L + 150L).as("p_hi"))
      val spans = t(s, dir, "orders").select(
        col("o_orderkey"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1995-01-01') AS BIGINT)").as("o_lo"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
        .withColumn("o_hi", col("o_lo") + 1 + col("o_orderkey") % 60)
      RangeJoinOps.bucketIntervalJoin(
          promos, "p_lo", "p_hi", spans, "o_lo", "o_hi", bucketWidth = 64L)
        .groupBy("promo_id")
        .agg(count(lit(1)).as("n_orders"), sum("price_c").as("sum_price_c"))
        .orderBy("promo_id")
    }),

    // Product-quantization ANN: 4 subspaces × 16 dims, 8-centroid
    // codebooks (2 Lloyd rounds each, the q60 machinery), ADC top-10 for
    // 3 queries — codes + integer distance tables, bit-exact.
    "q116_pq_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.pqTopK(e, e.filter(col("vec_id") < 3), k = 10,
          m = 4, ksub = 8, iters = 2, dim = 64)
        .orderBy("qid", "rank")
    }),

    // Weekly cohort retention over the events stream — all-integer epoch
    // week math, cohort = week of first activity per user.
    "q117_cohort_retention" -> ((s, dir) =>
      EventOps.cohortRetention(t(s, dir, "events"))
        .orderBy("cohort_wk", "wk_offset"))
    ,

    // Schema evolution: two parquet file generations under one table path
    // (v=1 lacks n_regionkey), read back with mergeSchema + partition
    // discovery — missing columns null-fill, the data-lake contract.
    "q118_schema_evolution" -> ((s, dir) => {
      val path = rtPath("q118_se")
      t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
        .write.mode("overwrite").parquet(s"$path/v=1")
      t(s, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .write.mode("overwrite").parquet(s"$path/v=2")
      s.read.option("mergeSchema", "true").parquet(path)
        .orderBy("v", "n_nationkey")
    }),

    // Exact-integer z-score outliers: |x−μ| > 2σ with all denominators
    // cleared — no float mean, no sqrt, no rounding-boundary hazard.
    "q119_zscore_outliers" -> ((s, dir) =>
      EventOps.zscoreOutliers(t(s, dir, "events"))
        .orderBy("event_id"))
    ,

    // Incremental JOIN maintenance (the IVM delta-join identity,
    // completing the family: q96 maintains aggregates, q100 maintains
    // MERGE state): (A∪ΔA)⋈(B∪ΔB) = A⋈B ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB. The
    // result is computed as base-join ∪ three delta joins — only the
    // delta sides rescan at refresh time — and must hash against the
    // full recompute, which IS the oracle.
    "q120_incremental_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val ords = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey").as("c_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
      val cA = cust.filter(col("c_custkey") % 10 =!= 0)
      val cD = cust.filter(col("c_custkey") % 10 === 0)
      val oA = ords.filter(col("o_orderkey") % 7 =!= 0)
      val oD = ords.filter(col("o_orderkey") % 7 === 0)
      val joined = cA.join(oA, "c_custkey")           // the standing view
        .union(cD.join(oA, "c_custkey"))              // ΔA ⋈ B
        .union(cA.join(oD, "c_custkey"))              // A ⋈ ΔB
        .union(cD.join(oD, "c_custkey"))              // ΔA ⋈ ΔB
      joined.groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"), sum("price_c").as("revenue_c"))
        .orderBy("c_nationkey")
    }),

    // SQL surface: explicit GROUPING SETS — an asymmetric set list that
    // neither ROLLUP (q94) nor CUBE (q107) expresses.
    "q121_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
          |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
          |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |                        (o_orderpriority), ())
          |ORDER BY g_status, g_prio,
          |         o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    }),

    // UNPIVOT (melt) — the inverse of q95's pivot: wide per-flag measures
    // back to long (flag, measure, value) form.
    "q122_unpivot" -> ((s, dir) => {
      val agg = t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        expr("CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)").as("sum_qty"),
        expr("CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)").as("sum_price_c"),
        expr("CAST(sum(CAST(round(l_discount * 1000) AS BIGINT)) AS BIGINT)").as("sum_disc_milli"))
      agg.unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price_c"), col("sum_disc_milli")),
          "measure", "value")
        .orderBy("l_returnflag", "measure")
    }),

    // IGNORE NULLS window surface: forward-fill (last_value) and
    // last-seen (lag) across NULLed-out error readings — the standard
    // sensor-gap-fill idiom.
    "q123_ignore_nulls" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("events")
      s.sql(
        """WITH ev AS (SELECT user_id, event_id AS id, ts div 1000 AS ts_us,
          |                   CASE WHEN event_type = 'error' THEN NULL
          |                        ELSE CAST(round(value * 100) AS BIGINT) END AS v
          |            FROM events)
          |SELECT user_id, id, v,
          |       last_value(v) IGNORE NULLS OVER w2 AS filled,
          |       lag(v) IGNORE NULLS OVER w1 AS prev_seen
          |FROM ev
          |WINDOW w1 AS (PARTITION BY user_id ORDER BY ts_us, id),
          |       w2 AS (PARTITION BY user_id ORDER BY ts_us, id
          |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |ORDER BY user_id, ts_us, id""".stripMargin)
    }),

    // DSv2 WRITE path end to end: executors write per-task temp files,
    // the driver's commit renames them into the table (two-phase, v1
    // committer shape), truncate honors mode=overwrite — then read back
    // through the same V2 source; must equal the oracle's original table.
    "q124_dsv2_write" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val path = rtPath("q124_dsv2w")
      val src = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      src.repartition(4).write.format("graft.sources.v2.GraftCsv")
        .mode("overwrite").save(path)
      s.read.schema(StructType(Seq(
          StructField("c_custkey", LongType), StructField("c_name", StringType),
          StructField("c_acctbal", DoubleType))))
        .format("graft.sources.v2.GraftCsv").load(path)
        .orderBy("c_custkey")
    }),

    // Small-file compaction is RESULT-INVARIANT: scatter the documents
    // table into 64 files, compact, hash the compacted table against the
    // original's oracle.
    "q125_compaction" -> ((s, dir) => {
      val path = rtPath("q125_compact")
      t(s, dir, "documents").repartition(64)
        .write.mode("overwrite").parquet(path)
      Compaction.compact(s, path, targetBytes = 8L << 20)
      s.read.parquet(path).orderBy("doc_id")
    }),

    // TPC-H Q8-shaped 7-table join (market share): the deep-join
    // optimizer evidence — three broadcast dims + two fact joins, one
    // aggregation. Catalyst picks the join order; integer cents keep the
    // volume sums exact.
    "q126_market_share" -> ((s, dir) => {
      val vol = t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_type") === "PROMO"),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation"))
            .select(col("n_nationkey").as("cn_key"), col("n_regionkey")),
          col("c_nationkey") === col("cn_key"))
        .join(broadcast(t(s, dir, "region")).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation"))
            .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")),
          col("s_nationkey") === col("sn_key"))
      vol.groupBy(year(col("o_orderdate")).as("o_year"), col("supp_nation"))
        .agg(expr("CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)")
          .as("volume_c"), count(lit(1)).as("n_items"))
        .orderBy("o_year", "supp_nation")
    }),

    // Null-safe equality join (<=>): match rows on a NULLABLE key where
    // NULL must equal NULL — the dimension-with-unknown-bucket idiom.
    "q127_null_safe_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        when(col("event_type") === "error", lit(null).cast("string"))
          .otherwise(col("event_type")).as("etype"))
      val dim = s.createDataFrame(Seq(
        ("click", 1L), ("view", 2L), ("purchase", 3L), ("signup", 4L),
        (null.asInstanceOf[String], 99L))).toDF("etype", "bucket")
      ev.join(broadcast(dim), ev("etype") <=> dim("etype"), "left")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("bucket").asc_nulls_first)
    }),

    // Tokenizer APPLY: encode the corpus vocabulary with the q97-learned
    // merge table (replayed in order) — the downstream consumer of BPE
    // training, gate-checked by replaying the same replaces in SQL.
    "q128_bpe_encode" -> ((s, dir) => {
      import s.implicits._
      val merges = Bpe.merges(t(s, dir, "documents"), rounds = 4)
        .orderBy("round").select("left", "right")
        .as[(String, String)].collect().toSeq
      val words = Bpe.vocab(t(s, dir, "documents")).select("word", "freq")
      Bpe.encode(words, merges)
        .join(words, Seq("word"))
        .select(col("word"), col("freq"),
          concat_ws("|", col("tokens")).as("tokens"),
          size(col("tokens")).cast("long").as("n_tokens"))
        .orderBy("word")
    }),

    // Spark 4 VARIANT type: parse the JSON props column once into a
    // variant, extract a typed field — the semi-structured fast path
    // (shredded binary encoding, no per-access string re-parse).
    "q129_variant" -> ((s, dir) =>
      t(s, dir, "events")
        .select(expr("variant_get(parse_json(props), '$.k', 'long')").as("k"),
          col("event_id"))
        .groupBy((col("k") % 7).as("k_mod"))
        .agg(count(lit(1)).as("n"), min("event_id").as("first_event"))
        .orderBy("k_mod"))
    ,

    // Running DISTINCT count over a window — Spark has no windowed
    // count(DISTINCT); the engine idiom is size(collect_set) over the
    // running frame, hash-checked against DuckDB's native windowed
    // DISTINCT. Kept to one user slice: the running set is per-row state,
    // the demonstration doesn't need 10k rows of it.
    "q130_windowed_distinct" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events").filter(col("user_id") < 10)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("ts_us"), col("event_type"))
        .withColumn("n_types_seen",
          size(collect_set(col("event_type")).over(w)).cast("long"))
        .select("user_id", "event_id", "n_types_seen")
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // Exact median parity: on integer cents both engines' interpolation
    // formulas land on the same exactly-representable half-integers.
    "q131_median" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
        .groupBy("event_type")
        .agg(median(col("value_c")).as("median_c"),
          count(lit(1)).as("n"))
        .orderBy("event_type"))
    ,

    // Three-step ordered funnel (signup → strictly-later view →
    // strictly-later purchase): each stage is a min-over-later-events
    // aggregation on the previous stage's anchor — the MATCH_RECOGNIZE
    // workload expressed as two ordered gathers, no self-join explosion.
    "q132_funnel3" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_type"), expr("ts div 1000").as("ts_us"))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts_us").as("t_signup"))
      val s2 = s1.join(ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us").as("tv")), Seq("user_id"), "left")
        .groupBy(col("user_id"), col("t_signup"))
        .agg(min(when(col("tv") > col("t_signup"), col("tv"))).as("t_view"))
      val s3 = s2.join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us").as("tp")), Seq("user_id"), "left")
        .groupBy(col("user_id"), col("t_signup"), col("t_view"))
        .agg(min(when(col("tp") > col("t_view"), col("tp"))).as("t_purchase"))
      s3.select(col("user_id"), col("t_signup"), col("t_view"), col("t_purchase"),
          (col("t_view").isNotNull.cast("long") +
            col("t_purchase").isNotNull.cast("long") + 1).as("stages_reached"))
        .orderBy("user_id")
    }),

    // Time-weighted average (monitoring-style TWA): per user, each
    // reading holds until the next one; TWA = Σ(value·Δt) div Σ(Δt) in
    // exact integer cents×µs (the metric a gauge aggregator computes).
    "q133_time_weighted_avg" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("ts_us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
        .withColumn("next_us", lead(col("ts_us"), 1).over(w))
        .filter(col("next_us").isNotNull) // last reading: no holding period
        .withColumn("dt_us", col("next_us") - col("ts_us"))
      ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum("dt_us").as("span_us"),
          // guarded div: the aggregate evaluates BEFORE the span_us > 0
          // filter, and under ANSI mode a user whose held intervals are
          // all zero-length would throw DIVIDE_BY_ZERO instead of being
          // filtered (round-6 advice)
          expr("CASE WHEN sum(dt_us) > 0 THEN sum(value_c * dt_us) div sum(dt_us) END")
            .as("twa_c"))
        .filter(col("span_us") > 0)
        .orderBy("user_id")
    }),

    // Winsorized robust mean: clamp each value into its group's exact
    // rank [p05, p95] band (the q109 all-integer percentile discipline),
    // then an integer mean — the outlier-resistant KPI form.
    "q134_winsorized_mean" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
      val byV = ev.groupBy("event_type", "value_c").agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy("event_type").orderBy("value_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = byV
        .withColumn("cum", sum("cnt").over(wCum))
        .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
      val bands = cum.groupBy("event_type").agg(
        min(when(col("cum") * 100 >= col("n") * 5, col("value_c"))).as("p05_c"),
        min(when(col("cum") * 100 >= col("n") * 95, col("value_c"))).as("p95_c"))
      ev.join(broadcast(bands), Seq("event_type"))
        .select(col("event_type"), col("p05_c"), col("p95_c"),
          greatest(col("p05_c"), least(col("p95_c"), col("value_c"))).as("w"))
        .groupBy("event_type", "p05_c", "p95_c")
        .agg(count(lit(1)).as("n"), expr("sum(w) div count(1)").as("wins_mean_c"))
        .orderBy("event_type")
    }),

    // Hopping (sliding) windows: 10-minute windows every 5 minutes —
    // every event lands in exactly two windows; q66's tumbling sibling.
    "q135_hopping_window" -> ((s, dir) =>
      t(s, dir, "events")
        .select(expr("timestamp_micros(ts div 1000)").as("tts"),
          col("event_type"), col("value"))
        .groupBy(window(col("tts"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)").as("sum_c"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("event_type"), col("n"), col("sum_c"))
        .orderBy("win_start_us", "event_type"))
    ,

    // Higher-order-function surface over a bound tokens array: filter /
    // exists / aggregate / transform+array_max, mirrored by DuckDB's
    // list_* family.
    "q136_hof_surface" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.words(col("text")).as("w"))
        .select(col("doc_id"),
          size(filter(col("w"), t => length(t) >= 5)).cast("long").as("n_long_tokens"),
          exists(col("w"), t => t === "spark").cast("long").as("has_spark"),
          aggregate(col("w"), lit(0L), (acc, t) => acc + length(t)).as("sum_token_len"),
          array_max(transform(col("w"), t => length(t))).cast("long").as("max_token_len"))
        .orderBy("doc_id"))
    ,

    // Frequent-items sketch (approx_top_k, DataSketches) with the q87/q98
    // discipline: capacity ≥ the key domain makes the sketch EXACT (the
    // Misra-Gries precondition), so the true top-10 must all appear in
    // the sketch's top-20 — the oracle pins the exact top-10 and the
    // membership flag, never the engine-specific estimates.
    "q137_approx_topk" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sk = li.agg(expr("approx_top_k(l_partkey, 20, 65536)").as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item").as("l_partkey"), lit(1L).as("in_sketch_top20"))
      val exact = li.groupBy("l_partkey").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("l_partkey")).limit(10)
      exact.join(sk, Seq("l_partkey"), "left")
        .select(col("l_partkey"), col("freq"),
          coalesce(col("in_sketch_top20"), lit(0L)).as("in_sketch_top20"))
        .orderBy(col("freq").desc, col("l_partkey"))
    }),

    // Regex extraction surface: pull every number out of the JSON props
    // blob (regexp_extract_all) and aggregate — the log-mining idiom.
    "q138_regex_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          // Spark extracts group 1 by default — the pattern needs the
          // capture group; DuckDB's default is the full match (same text)
          explode(expr("regexp_extract_all(props, '([0-9]+)')")).as("num"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_nums"),
          sum(col("num").cast("long")).as("sum_nums"))
        .orderBy("event_type"))
    ,

    // dbt-style constraint audit: one row per declared data-quality rule
    // with its violation count — referential integrity (anti-joins),
    // domain rules, uniqueness, and an expected-nonzero canary so the
    // report is provably not vacuous.
    "q139_constraint_audit" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val ev = t(s, dir, "events")
      def check(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("violations"))
          .select(lit(name).as("check"), col("violations"))
      check("lineitem_orphan_order",
          li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti"))
        .union(check("order_orphan_customer",
          o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")))
        .union(check("negative_extendedprice", li.filter(col("l_extendedprice") < 0)))
        .union(check("null_orderkey", o.filter(col("o_orderkey").isNull)))
        .union(check("duplicate_orderkey",
          o.groupBy("o_orderkey").agg(count(lit(1)).as("n")).filter(col("n") > 1)))
        .union(check("error_events_canary", ev.filter(col("event_type") === "error")))
        .orderBy("check")
    }),

    // Point-in-time SCD2 lookup: join probe events (purchases) to the
    // q78 validity intervals — each probe lands in exactly ONE interval
    // (the history tiles each user's timeline; zero-length tied-ts
    // intervals contain nothing by the half-open rule).
    "q140_scd2_lookup" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_id").as("id"), EventOps.tsUs("ts").as("ts_us"), col("event_type"))
      val hist = EventOps.scd2(ev, "user_id", "event_type")
        .select(col("user_id"), col("version"), col("event_type").as("state"),
          col("valid_from_us"), col("valid_to_us"))
      val probes = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), EventOps.tsUs("ts").as("p_us"))
      probes.join(hist, Seq("user_id"))
        .filter(col("p_us") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("p_us") < col("valid_to_us")))
        .select("user_id", "event_id", "version", "state")
        .orderBy("user_id", "event_id")
    }),

    // Nested data modeling round-trip: collapse each customer's orders
    // into a sorted ARRAY<STRUCT>, then explode back — the flattened view
    // must equal the original relation (the lakehouse nest/unnest
    // contract; sort_array pins the nested order deterministically).
    "q141_nested_roundtrip" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
      val nested = o.groupBy("o_custkey")
        .agg(sort_array(collect_list(struct(col("o_orderkey"), col("price_c"))))
          .as("orders"))
      nested.select(col("o_custkey"), explode(col("orders")).as("e"))
        .select(col("o_custkey"), col("e.o_orderkey").as("o_orderkey"),
          col("e.price_c").as("price_c"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Calendar rollup: ISO-week truncation (both engines start weeks on
    // Monday) — output as epoch days for cross-engine date hashing.
    "q142_week_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(expr("CAST(datediff(CAST(date_trunc('week', o_orderdate) AS DATE), DATE'1970-01-01') AS BIGINT)")
          .as("week_day"))
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("sum_c"))
        .orderBy("week_day"))
    ,

    // Conditional-aggregate breadth: count_if / bool_or / bool_and /
    // max_by-min_by (on the UNIQUE event_id ordering key — ties would be
    // engine-arbitrary) — same names, same semantics in DuckDB.
    "q143_conditional_aggs" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
        .groupBy("user_id")
        .agg(expr("count_if(event_type = 'purchase')").as("n_purchases"),
          expr("bool_or(event_type = 'error')").as("had_error"),
          expr("bool_and(value_c >= 0)").as("all_nonneg"),
          expr("max_by(event_type, event_id)").as("last_type"),
          expr("min_by(event_type, event_id)").as("first_type"))
        .orderBy("user_id"))
    ,

    // BI share-of-total + ranking: per-nation revenue share in integer
    // ppm (whole-table window sum), with rank and dense_rank over the
    // revenue ORDER — rank functions depend only on ordering values, so
    // ties (if any) resolve identically in both engines.
    "q144_share_rank" -> ((s, dir) => {
      val rev = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
          .as("revenue_c"))
      rev
        .withColumn("share_ppm",
          expr("(1000000 * revenue_c) div sum(revenue_c) OVER ()"))
        .withColumn("rnk", rank().over(Window.orderBy(col("revenue_c").desc)).cast("long"))
        .withColumn("dense_rnk",
          dense_rank().over(Window.orderBy(col("revenue_c").desc)).cast("long"))
        .orderBy(col("rnk"), col("n_name"))
    }),

    // Forward as-of: each purchase attributed to the user's NEXT error
    // (inclusive, min-id at timestamp ties) — q64's backward machinery
    // run through time reversal.
    "q145_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_id").as("id"), EventOps.tsUs("ts").as("ts_us"),
        col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .drop("event_type", "value_c")
      val errors = ev.filter(col("event_type") === "error").drop("event_type")
      EventOps.asofJoinForward(purchases, errors, "user_id", Seq("value_c"))
        .select("user_id", "id", "asof_id", "asof_ts_us", "asof_value_c")
        .orderBy("user_id", "id")
    }),

    // REAL image decode through the JDK's own PNG codec: per doc, generate
    // a gradient image keyed by (doc_id-derived dims, seed), encode with
    // ImageIO.write, decode with ImageIoDecoder, and emit exact integer
    // Rec.601 band sums over the DECODED pixels. PNG is lossless, so the
    // oracle reproduces every value from the pixel law alone — a stub
    // decode (byte-length dims, md5 features) cannot hash-match this.
    // Batch kernel shape: one partition-local map, no shuffle until the
    // final sort.
    "q146_imageio_decode" -> ((s, dir) => {
      import s.implicits._
      MultimodalOps.decodePngGate(
        t(s, dir, "documents").select(col("doc_id").cast("long"))
          .filter(col("doc_id") < 200).as[Long])
        .toDF()
        .orderBy("doc_id")
    }),

    // REAL audio decode via javax.sound.sampled: per user, synthesize a
    // deterministic mono PCM16 WAV (RIFF bytes built by hand), decode it
    // with the JDK parser, and emit frame count, channel count, and exact
    // integer band sums of |amplitude| over the DECODED samples — all
    // reproducible from the sample law in the oracle.
    "q147_wav_decode" -> ((s, dir) => {
      import s.implicits._
      MultimodalOps.decodeWavGate(
        t(s, dir, "events").select(col("user_id").cast("long")).distinct()
          .filter(col("user_id") < 100).as[Long])
        .toDF()
        .orderBy("user_id")
    }),

    // Line-level exact dedup (C4 §2.2 / RefinedWeb): repeated lines
    // survive only at their first (doc, pos) occurrence, docs reassembled
    // from survivors. The synthetic corpus has no cross-doc duplicate
    // lines by construction, so the gate plants a shared 10-word
    // boilerplate line at the head of every 4th document (mirrored in the
    // oracle) — it must survive in exactly one document.
    "q148_line_dedup" -> ((s, dir) => {
      val boiler = (0 until 10).map(i => s"bl$i").mkString(" ")
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0, concat(lit(boiler + " "), col("text")))
          .otherwise(col("text")).as("text"))
      CorpusOps.dedupLines(docs, lineWords = 10)
        .orderBy("doc_id")
    }),

    // Forest root+depth by pointer jumping: ⌈log₂ depth⌉ self-join
    // rounds vs the oracle's depth-many recursive-CTE steps — the
    // deterministic synthetic forest (parent ≈ 3 ids back) is ~170 deep
    // at sf0.01, so the engine converges in 9 doublings where the naive
    // walk chains ~170 joins.
    "q149_pointer_jumping" -> ((s, dir) => {
      val h = conv(substring(md5(
        concat(lit("pj:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long")
      val parents = t(s, dir, "documents").select(col("doc_id").as("id"),
        when(col("doc_id") === 0, lit(0L))
          .otherwise(col("doc_id") - 1 - pmod(h, least(col("doc_id"), lit(5L))))
          .as("parent"))
      GraphOps.pointerJumpRoots(parents)
        .select(col("id").as("doc_id"), col("root"), col("depth"))
        .orderBy("doc_id")
    }),

    // Duffield-Lund-Thorup priority sampling: weight-proportional k-sample
    // in exact integer math, top-k via TakeOrderedAndProject (no global
    // sort).
    "q150_priority_sample" -> ((s, dir) =>
      CorpusOps.prioritySample(t(s, dir, "documents"), k = 25)
        .orderBy(col("priority").desc, col("doc_id"))),

    // Symmetric int8 vector quantization with integer-exact rounding and
    // a per-vector reconstruction-cosine quality metric; gate emits the
    // ×1e6-floored cosine so the float never crosses the engine boundary.
    "q151_int8_quant" -> ((s, dir) =>
      SimilarityOps.int8Quantize(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("m"), col("nnz8"), col("sum_q8"),
          floor(col("cos8") * 1e6).cast("long").as("cos8_micro"))
        .orderBy("vec_id")),

    // Calendar-function surface: trunc to quarter/week, month end,
    // ISO day-of-week, end-of-month-clamped add_months — the date
    // breadth a reporting layer leans on, over a deterministic order
    // subset.
    "q152_calendar" -> ((s, dir) => {
      def epochDay(c: org.apache.spark.sql.Column) =
        datediff(c.cast("date"), lit("1970-01-01").cast("date"))
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"),
          epochDay(col("o_orderdate")).cast("long").as("day"),
          epochDay(date_trunc("quarter", col("o_orderdate"))).cast("long").as("quarter_day"),
          epochDay(date_trunc("week", col("o_orderdate"))).cast("long").as("week_day"),
          epochDay(last_day(col("o_orderdate"))).cast("long").as("month_end_day"),
          (weekday(col("o_orderdate")) + 1).cast("long").as("isodow"),
          epochDay(add_months(col("o_orderdate"), 1)).cast("long").as("next_month_day"))
        .orderBy("o_orderkey")
    }),

    // 2-D skyline (Pareto front of cheap-and-large parts): sort + running
    // max, one window — the oracle runs the quadratic NOT EXISTS
    // dominance join, same rows.
    "q153_skyline" -> ((s, dir) =>
      ProfileOps.skyline(
          t(s, dir, "part").select(
            round(col("p_retailprice") * 100).cast("long").as("cost"),
            col("p_size").cast("long").as("gain")),
          "cost", "gain")
        .orderBy("cost", "gain")),

    // Equi-width histogram of event values: row-local bucket arithmetic,
    // map-side-combined 20-key aggregate, integer-cent sums.
    "q154_histogram" -> ((s, dir) =>
      ProfileOps.histogram(t(s, dir, "events"), "value", 0.0, 500.0, 20)
        .orderBy("bucket")),

    // Merkle-style table reconciliation: orders vs a deterministically
    // drifted copy (keys ≡0 mod 501 re-priced, ≡0 mod 503 dropped, two
    // injected keys). Engine compares 256 xor-checksum buckets first and
    // re-reads only the disagreeing slice; oracle brute-forces the full
    // outer join.
    "q155_table_diff" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val base = orders.select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val drifted = base
        .filter(col("o_orderkey") % 503 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 501 === 0, col("price_c") + 1)
            .otherwise(col("price_c")).as("price_c"))
        .union(base.sparkSession.range(2).select(
          (col("id") + 9000001L).as("o_orderkey"), (col("id") + 42L).as("price_c")))
      ReconcileOps.tableDiff(base, drifted, "o_orderkey",
          concat_ws("|", col("o_orderkey"), col("price_c")))
        .select(col("key").as("o_orderkey"), col("status"))
        .orderBy("o_orderkey")
    }),

    // Stratified weighted sampling: per-source top-5 by the same integer
    // priority as q150, but through the native graft_top_k aggregate —
    // bounded map-side partials instead of a row_number window sort.
    "q156_group_priority_sample" -> ((s, dir) =>
      CorpusOps.prioritySampleByGroup(t(s, dir, "documents"), k = 5)
        .orderBy("source", "rn")),

    // Gaps-and-islands: merge each customer's overlapping-or-touching
    // order activity spans into maximal disjoint islands — two shared-
    // shuffle windows, no interval self-join, no transitive closure.
    "q157_interval_coalesce" -> ((s, dir) => {
      val spans = t(s, dir, "orders").select(
        col("o_custkey").cast("long").as("cust"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1995-01-01') AS BIGINT)").as("lo"),
        col("o_orderkey"))
        .withColumn("hi", col("lo") + 5L + col("o_orderkey") % 25)
        .drop("o_orderkey")
      RangeJoinOps.coalesceIntervals(spans, "cust", "lo", "hi")
        .orderBy("cust", "lo")
    }),

    // Robust outliers: |x − median| > 3·MAD in doubled integer lanes
    // (half-/quarter-cents), the 50%-breakdown complement to q119's
    // z-score gate — same events table, so the two flag sets can be
    // compared directly.
    "q158_mad_outliers" -> ((s, dir) =>
      EventOps.madOutliers(t(s, dir, "events"))
        .orderBy("event_id"))
    ,

    // First-order Markov transition matrix of the event stream, with
    // exact integer micro-unit row-conditional probabilities.
    "q159_markov_transitions" -> ((s, dir) =>
      EventOps.markovTransitions(t(s, dir, "events"))
        .orderBy("from_type", "to_type")),

    // Quantile normalization of per-language doc lengths onto the global
    // length distribution — global order statistics WITHOUT a global
    // sort: reduced-domain cumulative table + the bucket range join.
    "q160_quantile_normalize" -> ((s, dir) =>
      ProfileOps.quantileNormalize(
          t(s, dir, "documents"), groupCol = "lang",
          valueCol = "n_chars", idCol = "doc_id")
        .orderBy("doc_id")),

    // Hybrid-retrieval rank fusion: the q111 BM25 top-20 fused with an
    // entropy-quality ranking of the same candidates via reciprocal-rank
    // fusion (k=60) — rank-only combining, no score calibration.
    "q161_rrf_fusion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val a = TextOps.bm25(docs, Seq("spark", "join", "window"), topK = 20)
        .select(col("doc_id"), col("rank"))
      val b = TextOps.charEntropy(
          docs.join(broadcast(a.select("doc_id")), Seq("doc_id")))
        .withColumn("rank", row_number().over(
          // 20 candidate rows: the single-partition window is the
          // re-rank set, never the corpus
          Window.orderBy(col("entropy_nat").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"))
      TextOps.rrfFuse(a, b, "doc_id")
        .orderBy(col("rrf_micro").desc, col("doc_id"))
    }),

    // Market-basket affinity: brand pairs co-purchased within an order,
    // support ≥ 3, lift in exact micro-units (N·n_ab·10⁶ div n_a·n_b).
    "q162_copurchase" -> ((s, dir) => {
      val items = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand"))
      AffinityOps.copurchasePairs(items, "l_orderkey", "p_brand", minSupport = 3L)
        .orderBy("item_i", "item_j")
    }),

    // Local clustering coefficient of the road graph: triangles over
    // wedges per node, micro-unit exact; degree-<2 nodes emit 0.
    "q163_clustering_coeff" -> ((s, dir) =>
      GraphOps.clusteringCoeff(Derive.edgesDiag(Derive.nodes(s, dir)))
        .orderBy("node")),

    // Behavioral 3-gram paths: the 20 most common consecutive event-type
    // triples, two leads over one shared per-user window.
    "q164_path_trigrams" -> ((s, dir) =>
      EventOps.pathTrigrams(t(s, dir, "events"), k = 20)),

    // ANN eval harness: recall@10 and reciprocal rank of the q41 IVF
    // retrieval against the exact brute-force ranking, per query —
    // integer micro-units, no float score compares.
    "q165_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
      val exact = SimilarityOps.bruteTopK(e, queries, k = 10)
      val approx = SimilarityOps.ivfTopK(e,
        e.filter(col("vec_id") % 100 === 0), queries, k = 10, nprobe = 2)
      SimilarityOps.annRecall(exact, approx, k = 10).orderBy("qid")
    }),

    // Week-over-week rate change per event type vs the previous OBSERVED
    // week — exact integer relative deltas over the reduced
    // (type, week) domain.
    "q166_rate_change" -> ((s, dir) =>
      EventOps.rateChange(t(s, dir, "events"))
        .orderBy("event_type", "wk")),

    // Per-language embedding centroid drift vs the global centroid, in
    // cleared-denominator DECIMAL(38,0) — the q119 idiom on vectors.
    "q167_centroid_drift" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
        .join(t(s, dir, "documents").select(col("doc_id"), col("lang")),
          col("vec_id") === col("doc_id"))
      SimilarityOps.centroidDrift(vecs, "lang").orderBy("lang")
    }),

    // Mixture-rate planning: uniform target shares over the observed
    // sources, pinned 120k-char budget — some sources cap at rate 10⁶
    // (deficit reported), the rest get exact ppm keep rates.
    "q168_mixture_rates" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val srcs = docs.select(col("source")).distinct()
      val shares = srcs.crossJoin(broadcast(srcs.agg(count(lit(1)).as("ns"))))
        .select(col("source"), expr("1000000 div ns").as("share_ppm"))
      CorpusOps.mixtureRates(docs, shares, totalChars = 120000L)
        .orderBy("source")
    }),

    // Dataset card: per-source doc/char volumes, exact mean and median
    // lengths, language spread, corpus share in ppm.
    "q169_dataset_card" -> ((s, dir) =>
      CorpusOps.datasetCard(t(s, dir, "documents"))
        .orderBy("source")),

    // Pairwise language centroid cosines — the 1/n factors cancel, so
    // the exact integer sum vectors carry the whole computation; one
    // float sqrt/divide at the boundary, micro-floored.
    "q170_centroid_cos" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
        .join(t(s, dir, "documents").select(col("doc_id"), col("lang")),
          col("vec_id") === col("doc_id"))
      SimilarityOps.centroidCos(vecs, "lang").orderBy("g_a", "g_b")
    }),

    // CDC feed extraction from two snapshots: old = orders, new = a
    // deterministic drift (every 509th key deleted, 511th re-priced,
    // 513th cloned to a fresh key = insert); the feed must carry op +
    // the NEW payload. applyFeed ∘ changeFeed ≡ identity is pinned by
    // ReconcileOpsSpec; the gate hashes the feed itself.
    "q171_change_feed" -> ((s, dir) => {
      val a = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val b = a.filter(col("k") % 509 =!= 0)
        .withColumn("price_c",
          when(col("k") % 511 === 0, col("price_c") + 100)
            .otherwise(col("price_c")))
        .unionByName(a.filter(col("k") % 513 === 0)
          .select((col("k") + 20000000L).as("k"), col("o_custkey"),
            col("o_orderstatus"), (col("price_c") + 5).as("price_c")))
      ReconcileOps.changeFeed(a, b, "k",
        Seq("o_custkey", "o_orderstatus", "price_c")).orderBy("k")
    }),

    // Per-type value trend: exact-integer least squares of daily cents
    // against the epoch-day x, micro-unit slope/intercept.
    "q172_ols_trend" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        EventOps.tsUs("ts").as("ts_us"),
        round(col("value") * 100).cast("long").as("y"))
        .withColumn("x", expr("ts_us div 86400000000"))
      ProfileOps.olsFit(ev, "event_type", "x", "y").orderBy("event_type")
    }),

    // Daily spine densification + exact linear interpolation over the
    // sparse per-user purchase series.
    "q173_gap_fill" -> ((s, dir) =>
      EventOps.gapFillDaily(
        t(s, dir, "events").filter(col("event_type") === "purchase"))
        .orderBy("user_id", "d")),

    // CUSUM drift alarm: first event where cumulative excess over
    // $60.00 crosses $300.00 (58/150 users at sf0.01 — a real split).
    "q174_cusum" -> ((s, dir) =>
      EventOps.cusum(t(s, dir, "events"), targetC = 6000L, hC = 30000L)
        .orderBy("user_id")),

    // RFM segmentation: quintile scores over the reduced per-user table.
    "q175_rfm" -> ((s, dir) =>
      EventOps.rfm(t(s, dir, "events")).orderBy("user_id")),

    // Equi-depth histogram of lineitem prices: 16 buckets of ~N/16 rows,
    // edges at exact order statistics — no global sort (reduced-domain
    // cumulative + bucket range join, the q160 machinery).
    "q176_equidepth_hist" -> ((s, dir) =>
      ProfileOps.equidepthHistogram(
        t(s, dir, "lineitem").select(
          round(col("l_extendedprice") * 100).cast("long").as("price_c")),
        "price_c", 16).orderBy("bucket")),

    // A/B experiment readout: per-event-type 2×2 contingency (variant by
    // user-id parity, success = value ≥ $50) + exact-integer rates, risk
    // ratio, and the chi² statistic via its rational closed form — no
    // float stats, every decision number engine-reproducible.
    "q177_ab_report" -> ((s, dir) =>
      EventOps.abTestReport(t(s, dir, "events")).orderBy("event_type")),

    // PMI collocations: adjacent-pair association by the exact rational
    // exp(PMI) ratio (ranking-equivalent to PMI, float-log-free).
    "q178_pmi_colloc" -> ((s, dir) =>
      TextOps.pmiCollocations(t(s, dir, "documents"))
        .orderBy(col("pmi_ratio_ppm").desc, col("w1"), col("w2"))),

    // Integer EWMA (α=1/2) of per-user purchase cents: a recurrence with
    // no relational closed form, run as ONE codegen'd HOF fold over the
    // per-key sorted array; the oracle replays it as a recursive CTE.
    "q179_ewma" -> ((s, dir) =>
      EventOps.ewmaHalf(t(s, dir, "events")).orderBy("user_id")),

    // Top principal embedding direction via exact-integer power iteration
    // (3 unrolled rounds, max-abs-1000 renormalization); the oracle
    // unrolls the same three rounds in SQL.
    "q180_power_iteration" -> ((s, dir) =>
      SimilarityOps.topDirection(t(s, dir, "embeddings"), dim = 64)
        .orderBy("dim"))
    ,

    // End-to-end ENTITY RESOLUTION over part names — the full dedup-merge
    // pipeline as one job: q102's blocked Levenshtein candidates → edge
    // list → connected components (transitive merge closure) → per-entity
    // golden record (min-key canonical + attribute ranges). Names with no
    // fuzzy match stay their own singleton entity via the left join.
    // Blocking keeps candidate generation an equi-join (never all-pairs);
    // the closure is the q71 pointer machinery on a distinct-name domain
    // that vocabulary, not corpus size, bounds.
    "q181_entity_resolution" -> ((s, dir) => {
      val names = t(s, dir, "part").select("p_name").distinct()
        .select(col("p_name"), split(col("p_name"), " ").getItem(1).as("noun"))
      val cand = names.alias("a").join(names.alias("b"),
          col("a.noun") === col("b.noun") && col("a.p_name") < col("b.p_name"))
        .filter(levenshtein(col("a.p_name"), col("b.p_name")) <= 3)
        .select(col("a.p_name").as("id1"), col("b.p_name").as("id2"))
      val comp = GraphOps.connectedComponents(cand)
        .withColumnRenamed("id", "p_name")
      val lab = names.select("p_name")
        .join(comp, Seq("p_name"), "left")
        .select(col("p_name"),
          coalesce(col("component"), col("p_name")).as("entity"))
      val parts = t(s, dir, "part").select(col("p_name"), col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("price_c"))
      lab.join(parts, "p_name")
        .groupBy("entity")
        .agg(countDistinct("p_name").as("n_names"),
          count(lit(1)).as("n_parts"),
          min("p_partkey").as("canonical_key"),
          min("price_c").as("min_price_c"),
          max("price_c").as("max_price_c"))
        .orderBy("entity")
    }),

    // Weekday seasonal baseline + residual anomaly counts: the exact
    // two-pass decomposition, |types|·7 profile rows broadcast back.
    "q182_seasonal" -> ((s, dir) =>
      EventOps.seasonalProfile(t(s, dir, "events"))
        .orderBy("event_type", "isodow")),

    // Count-min sketch calibrated against exact counts: every estimate
    // must sit at-or-above its true frequency (the one-sided CMS bound,
    // measured per key — the q87/q91 sketch-calibration discipline).
    "q183_countmin" -> ((s, dir) =>
      HeavyHitters.countMin(t(s, dir, "events"), "user_id")
        .select(col("k").cast("long").as("user_id"), col("true_n"),
          col("est_n"), col("within_bound"))
        .orderBy("user_id")),

    // Mode-label community detection (deterministic synchronous LPA,
    // 3 unrolled rounds) over the q112 sparsified lattice — communities
    // within components, the q71/q112 graph family's missing member.
    "q184_label_prop" -> ((s, dir) => {
      val e = Derive.edgesDiag(Derive.nodes(s, dir))
        .filter((col("u") * 37 + col("v") * 61) % 100 < 85)
      GraphOps.labelPropagation(e, rounds = 3).orderBy("node")
    }),

    // Calibration / reliability curve: value-cents deciles (reduced-
    // domain quantile bins, no row-level global sort) vs purchase rate
    // in ppm — the score-vs-outcome table every quality/ranking score
    // gets audited with.
    "q185_calibration" -> ((s, dir) =>
      ProfileOps.calibrationBins(
        t(s, dir, "events").select(
          round(col("value") * 100).cast("long").as("v_c"),
          (col("event_type") === "purchase").as("conv")),
        "v_c", "conv", nb = 10).orderBy("bin")),

    // Ingest quarantine split: per-row reason codes from a rule battery
    // (the production shape of q139's count-only audit — violating rows
    // leave the pipeline WITH their diagnosis, clean rows pass through).
    "q186_quarantine" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("reasons", filter(array(
          when(col("value") > 480.0, lit("value_range")),
          when(col("event_type") === "error", lit("error_type")),
          when(col("user_id") % 97 === 0, lit("denylisted_user"))),
          x => x.isNotNull))
        .filter(size(col("reasons")) > 0)
        .select(col("event_id"), concat_ws(",", col("reasons")).as("reasons"))
        .orderBy("event_id"))
    ,

    // Split-overlap contamination report — the eval-hygiene table next
    // to q62's per-doc decontamination: deterministic 80/10/10 split by
    // doc_id, distinct 8-grams per split, and each held-out split's
    // gram-level overlap with train in ppm plus the count of its docs
    // carrying ≥1 train-seen gram. The join keys the gram string against
    // the distinct train set (semi-join shape) — never doc×doc.
    "q187_split_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("split",
          when(col("doc_id") % 10 <= 7, lit("train"))
            .when(col("doc_id") % 10 === 8, lit("val"))
            .otherwise(lit("test")))
      val grams = TextOps.shingleTable(docs, "doc_id", n = 8)
        .join(docs.select("doc_id", "split"), "doc_id")
        .select(col("split"), col("doc_id"), explode(col("sh")).as("g"))
      val train = grams.filter(col("split") === "train")
        .select("g").distinct().withColumn("hit", lit(1L))
      grams.filter(col("split") =!= "train")
        .select("split", "doc_id", "g").distinct()
        .join(train, Seq("g"), "left")
        .groupBy("split")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
          countDistinct("doc_id").as("n_docs"),
          countDistinct(when(col("hit").isNotNull, col("doc_id"))).as("n_docs_hit"))
        .withColumn("overlap_ppm", expr("(n_hit * 1000000) div n_grams"))
        .orderBy("split")
    }),

    // Rollup cascade: the day grain is re-aggregated FROM the hour
    // grain (sum of counts, sum of sums — the production pattern where
    // coarse rollups never touch raw data), and the oracle computes the
    // day grain DIRECTLY from raw — the gate IS the re-aggregability
    // identity that makes cascaded rollups safe.
    "q189_rollup_cascade" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        EventOps.tsUs("ts").as("ts_us"),
        round(col("value") * 100).cast("long").as("v_c"))
      val hourly = ev
        .groupBy(col("event_type"), expr("ts_us div 3600000000").as("hr"))
        .agg(count(lit(1)).as("n"), sum("v_c").as("sum_c"))
      hourly
        .groupBy(col("event_type"), expr("hr div 24").as("d"))
        .agg(sum("n").as("n"), sum("sum_c").as("sum_c"))
        .orderBy("event_type", "d")
    }),

    // Order-independent dataset fingerprint — content-addressed dataset
    // versioning: per-row md5-derived 60-bit hashes folded with XOR (and
    // count + min/max as collision witnesses), so ANY permutation or
    // repartitioning of the same rows fingerprints identically, and one
    // changed row flips it. The q155 Merkle machinery's global form.
    "q190_dataset_fingerprint" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(conv(substring(md5(concat_ws("|",
            col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice") * 100).cast("long"))), 1, 15), 16, 10)
          .cast("long").as("h"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor_fp"),
          min("h").as("min_h"), max("h").as("max_h"))),

    // SQL-surface: GROUP BY ALL / ORDER BY ALL (the analyst shorthand
    // both engines resolve from the select list — same text runs in
    // Spark 4 and DuckDB verbatim).
    "q191_group_by_all" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |       count(*) AS n,
          |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
          |FROM orders
          |GROUP BY ALL
          |ORDER BY ALL""".stripMargin)
    }),

    // SQL-surface: the error-safe try_* family under ANSI mode —
    // try_divide / try_cast return NULL where strict ANSI would raise
    // (the ingest posture for dirty numeric text and zero denominators).
    "q192_try_surface" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          expr("try_divide(CAST(round(value * 100) AS BIGINT)," +
            " event_id % 7)").as("per7"),
          expr("try_cast(substr(props, 1, 2) AS BIGINT)").as("bad_cast"),
          expr("try_add(9223372036854775807L, CASE WHEN event_id % 2 = 0" +
            " THEN 1 ELSE 0 END)").as("ovf"))
        .withColumn("per7_c",
          expr("CAST(floor(per7 * 100) AS BIGINT)")) // pin float → exact
        .drop("per7")
        .orderBy("event_id")),

    // Vocabulary drift between two corpus snapshots (doc-id parity as
    // old/new crawl): per-term 2×2 chi² against the half totals, exact
    // rational micro-units (the q177 closed form per TERM — the corpus
    // monitor that catches a source changing register/language between
    // crawls). Two map-side-combined counts; the statistic is computed
    // on the |vocabulary| domain only.
    "q188_vocab_drift" -> ((s, dir) => {
      def dec(c: Column): Column = c.cast("decimal(38,0)")
      val toks = t(s, dir, "documents")
        .select((col("doc_id") % 2 === 0).as("old_half"),
          explode(split(col("text"), " ")).as("term"))
      // feeds the totals AND the scored rows
      val counts = Materialize.cut(toks.groupBy("term").agg(
        sum(when(col("old_half"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("old_half"), 1L).otherwise(0L)).as("cb")))
      val tot = counts.agg(sum("ca").as("na"), sum("cb").as("nb"))
      counts.filter(col("ca") + col("cb") >= 40)
        .crossJoin(broadcast(tot))
        .withColumn("dlt",
          dec(col("ca")) * dec(col("nb") - col("cb")) -
            dec(col("na") - col("ca")) * dec(col("cb")))
        .withColumn("num",
          dec(col("na") + col("nb")) * col("dlt") * col("dlt") * dec(lit(1000000L)))
        .withColumn("den",
          dec(col("ca") + col("cb")) *
            dec((col("na") - col("ca")) + (col("nb") - col("cb"))) *
            dec(col("na")) * dec(col("nb")))
        // ANSI guard (q177's pattern): an empty snapshot half (na or nb = 0)
        // or a >=40-count term spanning the entire corpus makes den 0 and
        // IntegralDivide raise DIVIDE_BY_ZERO; such degenerate margins carry
        // no drift signal, so score them NULL (oracle mirrors the CASE).
        .select(col("term"), col("ca"), col("cb"),
          when(col("den") > 0, expr("num div den")).as("chi2_micro"))
        .orderBy(col("chi2_micro").desc, col("term"))
        .limit(30)
    }),

    // SemDeDup in its PRODUCTION configuration (round-7 verdict #4): the
    // cluster count scales with the corpus — k = ⌈n/125⌉, the knob that
    // keeps the within-cluster pairwise step at n²/k ≈ 125·n comparisons
    // regardless of corpus size (SemDeDup's own 50k clusters for LAION).
    // q70 pins k=4 as the reproducibility twin; THIS row hash-verifies the
    // k∝n path itself — the count() is a one-scalar steering read, and the
    // oracle computes the identical ⌈n/125⌉ from the same corpus.
    "q193_semdedup_prod" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.select("vec_id", "embedding").union(
        e.filter(col("vec_id") < 20)
          .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      val k = ((corpus.count() + 124L) / 125L).toInt
      SimilarityOps.semDedup(corpus, k = k, iters = 2, dim = 64, threshold = 0.99)
        .orderBy("vec_id")
    }),

    // STREAMING oracle gate (round-7 verdict #5): the watermarked windowed
    // aggregation driven through a real file-source stream and the
    // foreachBatch idempotent MERGE sink into parquet — the first gate row
    // whose result is PRODUCED BY Structured Streaming. Update mode: every
    // touched window re-emits per micro-batch and the MERGE keeps the
    // latest, so the converged sink equals the batch aggregate the oracle
    // computes. Exact integers: epoch-µs window starts, cent sums.
    "q194_stream_windows" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        expr("timestamp_micros(ts div 1000)").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      streaming.StreamGate.windowedGate(s, ev, rtPath("q194_stream"))
        .orderBy("window_us", "event_type")
    }),

    // Streaming gap sessionization through the same harness, APPEND mode:
    // a session emits exactly once when the watermark passes its end +
    // gap (a far-future sentinel flushes the tail; its own session never
    // closes, so it is absent by construction). session_window merges on
    // strict <gap, so the oracle breaks sessions on diff >= gap.
    "q195_stream_sessions" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        expr("timestamp_micros(ts div 1000)").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      streaming.StreamGate.sessionGate(s, ev, rtPath("q195_stream"),
          gap = "30 minutes")
        .orderBy("user_id", "start_us")
    }),

    // S6c: XML round-trip through Spark 4's NATIVE xml source (spark-xml
    // folded into core in 4.0) — schema-pinned read recovers exact types,
    // so the round-trip must equal the original projection. Strings ride
    // through writer-side escaping; money stays integer cents.
    "q196_xml_roundtrip" -> ((s, dir) => {
      val path = rtPath("q196_xml")
      val src = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("total_c"))
      Sinks.writeXml(src, path)
      Sinks.readXml(s, path, src.schema).orderBy("o_orderkey")
    }),

    // SQL-surface: WITH RECURSIVE (Spark 4's UnionLoop execution) — the
    // declarative twin of the hand-built iterative operators (q26/q45/
    // q71/q74): bounded-depth BFS over the symmetrized lattice from a
    // seed set, minimum hop count per reached node. Same text in both
    // engines (the recursion limit conf is Spark-side only).
    "q197_recursive_cte" -> ((s, dir) => {
      Seq("customer").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(recursiveCteSql)
    }),

    // SQL-surface: LISTAGG ... WITHIN GROUP (Spark 4.0) — deterministic
    // ordered string aggregation (the report/export idiom). Restricted to
    // a keyed subset so group strings stay bounded; the ORDER BY makes
    // the result partitioning-independent.
    "q198_listagg" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") % 500 === 0)
        .select(col("o_orderstatus"),
          concat(col("o_orderpriority"), lit("#"), col("o_orderkey")).as("tag"))
        .groupBy("o_orderstatus")
        .agg(expr("listagg(tag, ',') WITHIN GROUP (ORDER BY tag)").as("tags"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    // Mergeable HLL sketches (Spark 4 DataSketches surface): per-day
    // PARTIAL sketches union-merged per type must estimate within the
    // same 5% bound as the one-shot sketch — the constant-memory
    // re-aggregability contract (q96/q189's identity, sketch form) that
    // incremental distinct-count maintenance at 100 TB rests on. The
    // estimates are engine-specific, so the oracle pins the exact counts
    // and the bounds (q87 discipline). HIP estimators are order-dependent
    // under union, so both paths are bound-checked, not equality-checked.
    "q199_hll_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        EventOps.tsUs("ts").as("ts_us"), col("user_id"))
        .withColumn("d", expr("ts_us div 86400000000"))
      val partial = ev.groupBy("event_type", "d")
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      val merged = partial.groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est_merged"))
      val direct = ev.groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est_direct"),
          countDistinct(col("user_id")).as("n_exact"))
      merged.join(direct, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("est_merged") - col("n_exact")) * 100 <= col("n_exact") * 5)
            .as("merge_ok"),
          (abs(col("est_direct") - col("n_exact")) * 100 <= col("n_exact") * 5)
            .as("approx_ok"))
        .orderBy("event_type")
    }),

    // Sorted-neighborhood ER candidates (Hernández-Stolfo): each name is
    // compared only to its next w−1 neighbors in (block, name) sort order —
    // O(N·w) candidates where the q102 blocked self-join pays O(Σ block²).
    // Same distinct-name domain and Levenshtein verify as q102, so the two
    // gates bracket the classic ER candidate-generation tradeoff.
    "q200_snm_names" -> ((s, dir) => {
      val names = t(s, dir, "part").select("p_name").distinct()
        .select(col("p_name"), split(col("p_name"), " ").getItem(0).as("blk"))
      TextOps.sortedNeighborhoodPairs(names, "blk", "p_name", w = 4, maxDist = 6)
        .orderBy("name1", "name2")
    }),

    // Winnowing fingerprints (Schleimer et al. SIGMOD'03): window-min
    // selection over positional gram hashes — any shared ≥(w+n−1)-token run
    // between docs shares a fingerprint, at ~2/(w+1) selection density.
    // Entirely per-row HOFs (no explode, no window shuffle): the projection
    // scales with the scan by construction.
    "q201_winnow" -> ((s, dir) =>
      TextOps.winnowFingerprints(t(s, dir, "documents")).orderBy("doc_id")),

    // Two-sample Kolmogorov-Smirnov in exact integers (cleared n_a·n_b
    // denominator): distribution drift between order-status populations.
    // One reduced-domain cumulative window; the argmax is a max_by on the
    // same domain.
    "q202_ks_test" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderstatus").as("g"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      ProfileOps.ksTest(o, "g", "cents", "F", "O")
    }),

    // Gini concentration of corpus CHARACTER mass over sources (exact ppm,
    // cleared denominators) + top-decile share — the skew headline that
    // drives domain-cap (q59) and mixture (q168) tuning. Mass = n_chars
    // (doc counts are uniform-by-construction here, which would pin the
    // statistic at 0 and gate nothing).
    "q203_gini_sources" -> ((s, dir) =>
      ProfileOps.giniConcentration(t(s, dir, "documents"), "source",
        weightCol = Some("n_chars"))),

    // Mergeable EXACT distinct counts via Spark's bitmap aggregates:
    // per-day partial bitmaps OR-merged per type must equal the one-shot
    // exact count — q199's re-aggregability contract with equality instead
    // of a 5% bound (bitmaps are exact; the cost is memory ∝ id-range
    // rather than the sketch's constant, the documented tradeoff).
    "q204_bitmap_distinct" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        EventOps.tsUs("ts").as("ts_us"), col("user_id"))
        .withColumn("d", expr("ts_us div 86400000000"))
      val merged = ev
        .groupBy(col("event_type"), col("d"),
          expr("bitmap_bucket_number(user_id)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
        .groupBy("event_type", "bkt")
        .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("c"))
        .groupBy("event_type").agg(sum("c").as("n_merged"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      merged.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_exact"), col("n_merged"))
        .orderBy("event_type")
    }),

    // STREAMING CDC gate: the mapGroupsWithState latest-wins compaction
    // driven through the file-source stream + MERGE sink; the converged
    // snapshot answers to the SAME oracle as the batch operator (q77) —
    // the third streaming-fed gate row (windows q194, sessions q195).
    "q205_stream_cdc" -> ((s, dir) =>
      streaming.StreamGate.cdcGate(s, cdcFeed(s, dir), rtPath("q205_stream"))
        .orderBy("user_id")),

    // Tokenizer fertility report: ONE global BPE tokenizer (the q97/q128
    // machinery), per-LANGUAGE chars-per-token and tokens-per-word in
    // exact milli units — the compression-budget table every multilingual
    // pretraining mix is planned against (languages the tokenizer serves
    // badly cost more tokens per character). Encoding runs on the
    // distinct-word domain, never the corpus.
    "q206_tokenizer_fertility" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val mergeTable = Bpe.merges(docs, rounds = 4)
        .orderBy("round").select("left", "right")
        .as[(String, String)].collect().toSeq
      val lw = docs
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
      val toks = Bpe.encode(lw.select("word").distinct(), mergeTable)
        .select(col("word"), size(col("tokens")).cast("long").as("n_tok"))
      lw.join(toks, Seq("word"))
        .groupBy("lang")
        .agg(sum(col("freq")).as("n_words"),
          sum(col("freq") * length(col("word"))).as("n_chars"),
          sum(col("freq") * col("n_tok")).as("n_tokens"))
        .select(col("lang"), col("n_words"), col("n_tokens"),
          expr("(n_chars * 1000) div n_tokens").as("chars_per_token_milli"),
          expr("(n_tokens * 1000) div n_words").as("tokens_per_word_milli"))
        .orderBy("lang")
    }),

    // Map-type surface: per-user event-type count MAPS via
    // map_from_entries + transform_values-family HOFs (size / element_at /
    // map_filter / aggregate over map_values) — the oracle computes the
    // same report relationally, so the gate checks the map semantics, not
    // a DuckDB MAP dialect.
    "q207_map_surface" -> ((s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      counts.groupBy("user_id")
        .agg(map_from_entries(sort_array(
          collect_list(struct(col("event_type"), col("n"))))).as("m"))
        .select(col("user_id"), size(col("m")).cast("long").as("n_types"),
          element_at(col("m"), "view").as("views"),
          expr("CAST(size(map_filter(m, (k, v) -> v >= 20)) AS BIGINT)")
            .as("n_hot"),
          expr("aggregate(map_values(m), 0L, (acc, x) -> acc + x)").as("total"))
        .orderBy("user_id")
    }),

    // Array set-operation surface: per-user DISTINCT event-type sets
    // before/after a global 20% time cut, compared with array_union /
    // array_intersect / array_except — "which behaviors only appear
    // later" as array algebra; the oracle is the relational form
    // (UNION / JOIN / ANTI JOIN on the distinct pairs).
    "q208_array_setops" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        EventOps.tsUs("ts").as("ts_us"))
      val cut = ev.agg((min(col("ts_us")) +
        expr("(max(ts_us) - min(ts_us)) div 5")).as("cut"))
      ev.crossJoin(broadcast(cut))
        .groupBy("user_id")
        .agg(
          sort_array(collect_set(when(col("ts_us") < col("cut"),
            col("event_type")))).as("a"),
          sort_array(collect_set(when(col("ts_us") >= col("cut"),
            col("event_type")))).as("b"))
        .select(col("user_id"),
          size(array_union(col("a"), col("b"))).cast("long").as("n_union"),
          size(array_intersect(col("a"), col("b"))).cast("long").as("n_inter"),
          size(array_except(col("b"), col("a"))).cast("long").as("n_new"),
          concat_ws(",", array_sort(array_intersect(col("a"), col("b"))))
            .as("inter_csv"))
        .orderBy("user_id")
    }),

    // FOURTH streaming gate: transformWithState running counts (Spark 4's
    // arbitrary-stateful API, RocksDB store) through the MERGE sink — the
    // converged sink must equal batch HAVING with the q98-style N-relative
    // threshold. Elevates transformWithState from spec-only to
    // oracle-gated.
    "q209_stream_heavy" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        expr("timestamp_micros(ts div 1000)").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      val minFreq = (3 * ev.count() + 399) / 400
      streaming.StreamGate.heavyGate(s, ev, rtPath("q209_stream"), minFreq)
        .orderBy("k")
    }),

    // Spark 4 collation surface: case-mangled part names grouped under
    // UTF8_LCASE — COLLATION EQUALITY drives the grouping (not a lower()
    // rewrite on the engine side); the oracle is the lower()-normalized
    // relational twin, which coincides for the ASCII name domain. The
    // group key is re-exposed as CAST(lower(k) AS STRING) because the
    // collated representative Spark keeps per group is whichever variant
    // a partition saw first — nondeterministic across runs by contract.
    "q210_collation" -> ((s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"),
        when(col("p_partkey") % 3 === 0, upper(col("p_name")))
          .otherwise(col("p_name")).as("name"))
      p.groupBy(expr("collate(name, 'UTF8_LCASE')").as("k"))
        .agg(count(lit(1)).as("n_parts"),
          countDistinct(col("name")).as("n_variants"),
          min("name").as("first_variant"))
        .select(expr("CAST(lower(k) AS STRING)").as("name_lc"),
          col("n_parts"), col("n_variants"), col("first_variant"))
        .orderBy("name_lc")
    }),

    // Near-dup cluster CANONICALIZATION — the "keep one" decision that
    // turns q71's component ids into an actual dedup action: per cluster,
    // keep the member with the most characters (ties → larger doc_id, via
    // one lexicographic struct max — no per-cluster sort), report the
    // drop count and the full member list. The production form of
    // CorpusPipeline's LSH-drop stage, here oracle-gated end to end
    // (LSH candidates → verified pairs → components → golden record).
    "q211_neardup_canon" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = TextOps.shingleTable(docs, "doc_id").cache()
      val pairs = Materialize.thenRelease(
        TextOps.jaccardVerify(
          TextOps.minhashCandidates(sh, "doc_id"), sh, "doc_id",
          threshold = 0.5),
        sh)
      GraphOps.connectedComponents(pairs.select("id1", "id2"))
        .join(docs.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
        .groupBy("component")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars"), col("id"))).as("best"),
          sort_array(collect_list(col("id"))).as("members"))
        .select(col("component"), col("n_members"),
          col("best.id").as("keep_id"), col("best.n_chars").as("keep_chars"),
          (col("n_members") - 1).as("n_dropped"),
          expr("array_join(transform(members, x -> CAST(x AS STRING)), ',')")
            .as("members_csv"))
        .orderBy("component")
    }),

    // ROUGE-2 overlap eval between adjacent doc pairs (2k as reference,
    // 2k+1 as candidate): multiset bigram intersection Σ min(ca, cb) via a
    // counted gram equi-join — never a per-pair array materialization —
    // with precision/recall/F1 as exact integer milli ratios. The
    // n-gram-overlap eval every summarization/dedup pipeline scores with;
    // at scale the join is bounded by shared-gram volume, not pair count.
    "q212_rouge_overlap" -> ((s, dir) => {
      val w = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
      val grams = w.select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(element_at(w, i + 1), ' ', element_at(w, i + 2)))"))
        .as("g"))
      // one gram pass feeds both pair sides
      val cnt = Materialize.cut(grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c")))
      val a = cnt.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("pair_id"), col("g"), col("c").as("ca"))
      val b = cnt.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") - 1).as("pair_id"), col("g"), col("c").as("cb"))
      val inter = a.join(b, Seq("pair_id", "g"))
        .groupBy("pair_id").agg(sum(least(col("ca"), col("cb"))).as("inter"))
      val tots = cnt.groupBy("doc_id").agg(sum(col("c")).as("n"))
      val na = tots.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("pair_id"), col("n").as("na"))
      val nb = tots.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") - 1).as("pair_id"), col("n").as("nb"))
      na.join(nb, Seq("pair_id"))
        .join(inter, Seq("pair_id"), "left")
        .select(col("pair_id"), coalesce(col("inter"), lit(0L)).as("inter"),
          col("na"), col("nb"))
        .select(col("pair_id"), col("inter"), col("na"), col("nb"),
          expr("(inter * 1000) div nb").as("p_milli"),
          expr("(inter * 1000) div na").as("r_milli"),
          expr("(inter * 2000) div (na + nb)").as("f1_milli"))
        .orderBy("pair_id")
    }),

    // Jensen-Shannon divergence between the two corpus halves' unigram
    // distributions (q188's chi² companion: bounded, symmetric, the
    // standard corpus-drift metric). Per-term contributions are rounded
    // to integer MICRO-nats before summing — float summation order can
    // then never affect the result — and the ln/÷ chain is mirrored
    // op-for-op in the oracle (same IEEE arithmetic on both engines).
    "q213_jsd_drift" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select((col("doc_id") % 2 === 0).as("old_half"),
          explode(split(col("text"), " ")).as("term"))
      // feeds the totals AND the scored rows
      val counts = Materialize.cut(toks.groupBy("term").agg(
        sum(when(col("old_half"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("old_half"), 1L).otherwise(0L)).as("cb")))
      val tot = counts.agg(sum("ca").as("na"), sum("cb").as("nb"))
      counts.filter(col("ca") + col("cb") >= 40)
        .crossJoin(broadcast(tot))
        .withColumn("p", col("ca").cast("double") / col("na").cast("double"))
        .withColumn("q", col("cb").cast("double") / col("nb").cast("double"))
        .withColumn("m", (col("p") + col("q")) / lit(2.0d))
        .withColumn("contrib",
          when(col("ca") > 0, col("p") * log(col("p") / col("m")) * lit(0.5d))
            .otherwise(lit(0.0d)) +
          when(col("cb") > 0, col("q") * log(col("q") / col("m")) * lit(0.5d))
            .otherwise(lit(0.0d)))
        .select(col("term"), col("ca"), col("cb"),
          floor(col("contrib") * lit(1000000.0d) + lit(0.5d)).as("jsd_micro"))
        .orderBy(col("jsd_micro").desc, col("term"))
        .limit(30)
    }),

    // Bucketed-table co-located join: orders and customer written with
    // bucketBy(8, custkey) + sortBy, then joined — the bucketing metadata
    // makes the sort-merge join SHUFFLE-FREE on both sides (asserted in
    // PlanContractSpec with broadcast disabled), the storage-level answer
    // to "pre-partition the big fact join" that salting/AQE can't give.
    // Cents-integer price sum (q03's device) keeps the total exact.
    "q214_bucketed_join" -> ((s, dir) => {
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val ot = s"q214_orders_$tag"
      val ct = s"q214_cust_$tag"
      t(s, dir, "orders").write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", rtPath("q214_o")).saveAsTable(ot)
      t(s, dir, "customer").write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", rtPath("q214_c")).saveAsTable(ct)
      val o = s.table(ot)
      val c = s.table(ct)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          (sum(round(col("o_totalprice") * 100)) / 100).as("sum_price"))
        .orderBy("c_mktsegment")
    }),

    // Hive-style partitioned layout + partition PRUNING: documents written
    // partitionBy(lang), then a lang-filtered aggregate — the filter must
    // resolve at the DIRECTORY level (PartitionFilters in the scan, see
    // PlanContractSpec), never by reading and discarding rows. At 100 TB
    // this is the difference between listing one directory and scanning
    // the corpus; the oracle is the same aggregate over the unpartitioned
    // table.
    "q215_partition_prune" -> ((s, dir) => {
      val path = rtPath("q215_part")
      t(s, dir, "documents").write.mode("overwrite")
        .partitionBy("lang").parquet(path)
      s.read.parquet(path).filter(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("source")
    }),

    // FIFTH streaming gate: the stream-stream interval join (purchase →
    // view attribution, watermark-bounded state on both sides) through
    // the MERGE sink — the last major Structured Streaming join shape
    // promoted from spec-only batch equivalence to a DuckDB oracle row.
    "q216_stream_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        expr("timestamp_micros(ts div 1000)").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      streaming.StreamGate.attrGate(s, ev, rtPath("q216_stream"))
        .orderBy("purchase_id", "view_id")
    }),

    // Tokenizer LOSSLESSNESS: BPE-encode every distinct word, detokenize
    // by plain concatenation, and report how many words survive the round
    // trip (all of them must — BPE merges never drop characters). The
    // oracle replays the identical 4 merge rounds in SQL, so a drifted
    // merge table or a symbol-splitting bug breaks n_exact, not just
    // token counts. Complements q206 (fertility) and q128 (encode).
    "q217_bpe_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val mergeTable = Bpe.merges(docs, rounds = 4)
        .orderBy("round").select("left", "right")
        .as[(String, String)].collect().toSeq
      val words = docs.select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0).distinct()
      Bpe.encode(words, mergeTable)
        .select(col("word"), concat_ws("", col("tokens")).as("detok"),
          size(col("tokens")).cast("long").as("n_tok"))
        .agg(count(lit(1)).as("n_words"),
          sum(when(col("detok") === col("word"), 1L).otherwise(0L))
            .as("n_exact"),
          sum("n_tok").as("n_tokens"),
          max("n_tok").as("max_tokens_per_word"))
    }),

    // SIXTH streaming gate: dropDuplicatesWithinWatermark (Spark 4's
    // bounded-state exactly-once repair) over a feed with planted
    // duplicate deliveries (every 7th event arrives twice) — the
    // converged sink must equal the distinct event set. Elevates
    // streaming dedup from spec-only batch equivalence to an oracle row.
    "q218_stream_dedup" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        expr("timestamp_micros(ts div 1000)").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      val feed = ev.unionAll(ev.filter(col("event_id") % 7 === 0))
      streaming.StreamGate.dedupGate(s, feed, rtPath("q218_stream"))
        .orderBy("event_id")
    }),

    // Matryoshka-style dimension ablation: the exact top-10 cosine
    // ranking at the full 64 dims vs the same ranking on the first 32
    // dims, scored with the q165 recall@k/reciprocal-rank machinery —
    // the "how much retrieval quality does a cheaper prefix embedding
    // keep" report an embedding-storage decision needs.
    "q219_mrl_ablation" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      def half(df: DataFrame): DataFrame =
        df.withColumn("embedding", slice(col("embedding"), 1, 32))
      val q = e.filter(col("vec_id") < 5)
      SimilarityOps.annRecall(
          SimilarityOps.bruteTopK(e, q, 10),
          SimilarityOps.bruteTopK(half(e), half(q), 10), k = 10)
        .orderBy("qid")
    }),

    // IMAGE near-dup via perceptual dHash over REAL decoded pixels: the
    // textured PNGs are decoded with the JDK codec, dHash-sampled to a
    // 9×8 luma grid, and paired with the SAME pigeonhole block join text
    // dedup uses (TextOps.simhashPairs) — multimodal dedup, decode side
    // real, oracle replaying the pixel law at the sampled coordinates.
    "q220_image_dhash" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id").cast("long"))
        .filter(col("doc_id") < 200).as[Long]
      TextOps.simhashPairs(MultimodalOps.dhashGate(ids), "asset_id",
          maxHamming = 3)
        .orderBy("id1", "id2")
    }),

    // REAL video frame sampling through the JDK's own multi-frame
    // container codec (multi-page TIFF): per asset, synthesize an
    // id-keyed N-frame container, decode EVERY page with ImageReader,
    // sample 4 frames at the stride law j·N div 4, and emit each sampled
    // frame's exact integer Rec.601 luma sum. TIFF is lossless, so the
    // oracle reproduces all values from the pixel law — the former
    // byte-slicing stub cannot hash-match per-frame pixel sums. This
    // closes the last stubbed decode path with a real codec.
    "q221_video_frames" -> ((s, dir) => {
      import s.implicits._
      MultimodalOps.videoFrameGate(
        t(s, dir, "documents").select(col("doc_id").cast("long"))
          .filter(col("doc_id") < 200).as[Long])
        .toDF()
        .orderBy("asset_id", "frame_idx")
    }),

    // Unicode NFC normalization via the native codegen'd expression
    // (graft_normalize — java.text.Normalizer inside whole-stage
    // codegen): per doc, plant a DECOMPOSED vowel + combining-diacritic
    // pair (all 20 combos have precomposed NFC forms), normalize, and
    // emit the composed string plus codepoint lengths before/after. The
    // oracle is DuckDB's own nfc_normalize — an identity "normalizer"
    // fails on every planted row (len_norm = len_raw − 1 only under real
    // composition). The corpus text itself is the ASCII fast path the
    // expression's isNormalized guard skips allocation for.
    "q222_nfc_normalize" -> ((s, dir) => {
      val vowels = array(Seq("a", "e", "i", "o", "u").map(lit): _*)
      val marks = array(Seq("\u0300", "\u0301", "\u0302", "\u0303").map(lit): _*)
      t(s, dir, "documents")
        .withColumn("raw", concat(substring(col("text"), 1, 20), lit(" "),
          element_at(vowels, (col("doc_id") % 5 + 1).cast("int")),
          element_at(marks, (col("doc_id") % 4 + 1).cast("int"))))
        .select(col("doc_id"), length(col("raw")).as("len_raw"),
          expr("graft_normalize(raw, 'NFC')").as("norm"))
        .withColumn("len_norm", length(col("norm")))
        .orderBy("doc_id")
    }),

    // Jaro-Winkler fuzzy scoring via the native codegen'd expression —
    // q102's blocked catalog-dedup shape (distinct names, noun blocks,
    // never all-pairs) with the transposition-tolerant prefix-weighted
    // scorer entity resolution pairs with edit distance. The oracle is
    // DuckDB's OWN jaro_winkler_similarity — an independent
    // implementation the expression must match bit-for-bit on every
    // block pair (double-exact hash compare, no rounding).
    "q223_jaro_winkler" -> ((s, dir) => {
      val names = t(s, dir, "part").select("p_name").distinct()
        .select(col("p_name"), split(col("p_name"), " ").getItem(1).as("noun"))
      names.alias("a").join(names.alias("b"),
          col("a.noun") === col("b.noun") && col("a.p_name") < col("b.p_name"))
        .select(col("a.p_name").as("name1"), col("b.p_name").as("name2"),
          expr("graft_jaro_winkler(a.p_name, b.p_name)").as("jw"))
        .filter(col("jw") >= 0.8)
        .orderBy("name1", "name2")
    }),

    // IVF-PQ with residual quantization — the FAISS IVFADC composition
    // (coarse 4-list Lloyd, exact long residuals, 4×16-dim residual
    // codebooks, 2-probe ADC top-10 for 3 queries). Everything on the
    // exact integer grid, so the DuckDB oracle unrolls the full pipeline
    // (coarse training + assignment + residuals + 4 residual codebook
    // trainings + probes + ADC) and must hash-match bit-for-bit.
    "q224_ivfpq_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.ivfpqTopK(e, e.filter(col("vec_id") < 3), k = 10,
          nlist = 4, nprobe = 2, m = 4, ksub = 8, iters = 2, dim = 64)
        .orderBy("qid", "rank")
    }),

    // Semantic decontamination — the embedding-space complement of the
    // 8-gram overlap gates (q62/q81/q187): for every benchmark vector
    // (odd ids, bounded), the exact max-cosine train neighbor (even ids)
    // and a contamination flag at 0.9. Scale shape: the SMALL benchmark
    // side broadcasts against the train scan (one pass, no shuffle of
    // the big side), argmax via the shared (cos desc, id) tie rule; at
    // corpus scale the same contract runs over ivfpqTopK candidates.
    "q226_semantic_decontam" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val train = e.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("near_id"), SimilarityOps.quantize(col("embedding")).as("tv"))
      val bench = e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 40)
        .select(col("vec_id"), SimilarityOps.quantize(col("embedding")).as("bv"))
      val w = Window.partitionBy("vec_id").orderBy(col("c").desc, col("near_id"))
      train.join(broadcast(bench))
        .withColumn("c", SimilarityOps.cosQ(col("bv"), col("tv")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("near_id"),
          floor(col("c") * 1e6).cast("long").as("cos_micro"))
        .withColumn("contaminated", col("cos_micro") >= 900000L)
        .orderBy("vec_id")
    }),

    // Corpus blocklist filter via the plan-time-compiled Aho-Corasick
    // expression: ONE text walk whatever the term count, vs the
    // per-term contains scan the declarative spelling pays. The term
    // set stresses the automaton (overlapping terms, a term inside
    // another, matches crossing word boundaries); substring semantics
    // mirror DuckDB contains exactly.
    "q225_blocklist" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          expr("graft_blocklist_hits(text, " +
            "array('scan slow', 'slow', 'low', 'par', 'spark', " +
            "'fast table', 'he lin', 'merge batch'))").as("hits"))
        .select(col("doc_id"), size(col("hits")).as("n_hits"),
          array_join(col("hits"), ",").as("hits_csv"))
        .orderBy("doc_id")
    }),

    // Hilbert-clustered layout (q99's Morton twin): write lineitem
    // clustered on the CONTINUOUS curve via the native graft_hilbert
    // expression, read back through a 2-D box — results must answer to
    // the plain-filter oracle (the layout is result-invariant by
    // contract). Hilbert beats Morton exactly where file splits don't
    // land on aligned quadrants: measured 25% tighter total box area at
    // 10 files on a uniform grid (ZOrderSpec).
    "q227_hilbert_scan" -> ((s, dir) => {
      val path = rtPath("hilbert.parquet")
      ZOrder.writeClusteredHilbert(
        t(s, dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity"),
        "l_partkey", "l_suppkey", path, files = 10)
      s.read.parquet(path)
        .filter(col("l_partkey").between(300, 520) &&
          col("l_suppkey").between(20, 60))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("sum_qty"))
        .orderBy("l_partkey")
    }),

    // Transparent materialized-view rewrite (the third injected optimizer
    // rule): the query below is written against the BASE lineitem scan —
    // subset grouping, a group-column filter, count/sum/min/max — and
    // RewriteAggToSummary answers it from the pre-aggregated summary
    // instead. The in-query require pins that the rewrite actually fired
    // (executed plan scans the summary path); the oracle computes from
    // the RAW table, so the rewritten result must be value-identical.
    // Own newSession: the MV registration must not leak to siblings.
    // l_quantity is integral-valued, so double sums are exact and
    // order-independent (the q01 precedent).
    "q228_mv_rewrite" -> ((s, dir) => {
      val s2 = s.newSession()
      val base = s"$dir/lineitem.parquet"
      val sumPath = rtPath("mv_lineitem.parquet")
      Mv.createSummary(s2, base, sumPath,
        Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
      Mv.register(s2, "li_by_flag_status", base, sumPath,
        Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
      val q = s2.read.parquet(base)
        .filter(col("l_returnflag") =!= "N")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("l_quantity").as("sum_qty"),
          min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"))
        .orderBy("l_returnflag")
      require(q.queryExecution.executedPlan.toString.contains("mv_lineitem"),
        "MV rewrite did not fire — plan still scans the base table")
      q
    }),

    // TPC-H Q21's correlated shape — the hardest decorrelation stress in
    // the suite: EXISTS (another supplier on the order) AND NOT EXISTS
    // (another FAILED supplier on the order), both correlated to the
    // outer lineitem on (orderkey, <> suppkey). Identical statement text
    // in both engines; Catalyst must decorrelate to semi/anti joins
    // (never a per-row subquery loop).
    "q229_tpch_q21_shape" -> ((s, dir) => {
      for (tb <- Seq("lineitem", "orders")) t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ21Sql)
    }),

    // TPC-H Q13's shape: LEFT join with an ON-clause predicate on the
    // RIGHT side (not a WHERE — the zero-order customers must survive),
    // count(right key) per customer, then the distribution of counts.
    "q230_tpch_q13_shape" -> ((s, dir) => {
      for (tb <- Seq("customer", "orders")) t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ13Sql)
    }),

    // Linear multi-touch attribution: every view inside the 30-minute
    // look-back of a purchase gets an exact integer share of 10^6
    // micro-units (10^6 div n each, remainder to the earliest touch) —
    // per-conversion credit sums to exactly 10^6, no float weights.
    "q231_multi_touch" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        EventOps.tsUs("ts").as("ts_us"), col("event_type"))
      EventOps.multiTouchAttribution(ev, "user_id", "view", "purchase",
          windowUs = 1800000000L)
        .orderBy("conv_id", "touch_id")
    }),

    // Group-median imputation — the feature-store fill rule: planted
    // missing cells (event_id % 7 = 0, mirrored) are imputed with the
    // EXACT per-type median of the surviving values. Doubled-cents lanes
    // (q131's device) keep the even-count half-cent interpolation an
    // exact integer in both engines.
    "q232_median_impute" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
        .withColumn("missing", col("event_id") % 7 === 0)
      val med = ev.filter(!col("missing"))
        .groupBy("event_type")
        .agg(expr("CAST(round(median(value_c) * 2) AS BIGINT)").as("med2"))
      ev.join(med, Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          when(col("missing"), col("med2")).otherwise(col("value_c") * 2)
            .as("value2_c"),
          col("missing").as("imputed"))
        .orderBy("event_id")
    }),

    // k-anonymity audit — training-data governance: equivalence classes
    // over the quasi-identifiers (nation, segment, account-balance
    // band), class sizes, and the k>=5 anonymity flag. The re-identifiable
    // classes (n < 5) are what a release pipeline must suppress or
    // generalize.
    "q233_k_anonymity" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(count(lit(1)).as("n"))
        .withColumn("anonymous", col("n") >= 5)
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    }),

    // DYNAMIC pivot: the column set is discovered from the data (driver-
    // steered distinct over the bounded type domain — the documented
    // steering-scalar pattern), then pivoted per day. The oracle spells
    // the same columns as CASE sums; absent cells are zero-filled.
    "q234_dynamic_pivot" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts_us", EventOps.tsUs("ts"))
        .select(expr("ts_us div 86400000000").as("day"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
      val types = ev.select("event_type").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      ev.groupBy("day")
        .pivot("event_type", types)
        .agg(sum("value_c"))
        .na.fill(0L)
        .orderBy("day")
    }),

    // Join elimination via a declared RELY-style unique key (the fourth
    // injected optimizer rule): the query LEFT-joins the nation dimension
    // but reads only customer columns, so the join is provably a no-op —
    // the plan must not scan nation at all (in-query require), and the
    // result must equal the join-free oracle, which is also the
    // semantic proof of the elimination. Own newSession: the uniqueness
    // declaration must not leak to siblings.
    "q235_join_elim" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.graft.unique.nation_pk",
        s"$dir/nation.parquet|n_nationkey")
      val c = s2.read.parquet(s"$dir/customer.parquet")
      val n = s2.read.parquet(s"$dir/nation.parquet")
      val q = c.join(n, c("c_nationkey") === n("n_nationkey"), "left")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("bal_c"))
        .orderBy("c_mktsegment")
      require(!q.queryExecution.executedPlan.toString.contains("nation.parquet"),
        "dimension join was not eliminated")
      q
    }),

    // MMR diversified re-rank (λ = 0.7): the stage after retrieval —
    // top-10 brute candidates per query, greedy selection of 5
    // maximizing 7·rel − 3·max-sim-to-selected in exact integer
    // micro-units, ties by vec_id. The oracle unrolls all five greedy
    // rounds; the per-query loop runs as a partition-local batch kernel
    // over the (already bounded) candidate list.
    "q236_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.mmrRerank(e, e.filter(col("vec_id") < 3),
          kCand = 10, kOut = 5)
        .orderBy("qid", "pos")
    }),

    // Incremental MV refresh — the IVM identity end to end: build the
    // summary on ~2/3 of lineitem, append the remaining third to the
    // base directory, refresh the summary from the DELTA ONLY (the
    // summary never re-reads the base), and the rewritten query over the
    // refreshed summary must equal the oracle over the WHOLE raw table.
    // Plan-pinned like q228: the require proves the query scanned the
    // summary.
    "q237_mv_incremental" -> ((s, dir) => {
      val s2 = s.newSession()
      val basePath = rtPath("mvinc_base.parquet")
      val sumPath = rtPath("mvinc_sum.parquet")
      val li = s2.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity")
      li.filter(col("l_orderkey") % 3 =!= 0)
        .write.mode("overwrite").parquet(basePath)
      Mv.createSummary(s2, basePath, sumPath,
        Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
      val delta = li.filter(col("l_orderkey") % 3 === 0)
      delta.write.mode("append").parquet(basePath)
      Mv.refreshIncremental(s2, delta, sumPath,
        Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
      Mv.register(s2, "mvinc", basePath, sumPath,
        Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
      val q = s2.read.parquet(basePath)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"),
          max("l_quantity").as("max_qty"))
        .orderBy("l_returnflag", "l_linestatus")
      require(q.queryExecution.executedPlan.toString.contains("mvinc_sum"),
        "MV rewrite did not fire after the incremental refresh")
      q
    }),

    // DSv2 FILE SKIPPING: the custom source's write path now records
    // per-file numeric min/max in a manifest, and the scan prunes files
    // whose stats refute the pushed filters at PLANNING time — the
    // custom-source analogue of parquet row-group pruning (and of
    // Iceberg/Delta manifest skipping). Orders are range-clustered on
    // o_orderkey into 8 files, so the key-range query must plan a strict
    // subset of files (in-query require on the scan node's file counts)
    // while answering exactly like the raw-table oracle.
    "q238_dsv2_skipping" -> ((s, dir) => {
      val path = rtPath("dsv2skip")
      t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.format("graft.sources.v2.GraftCsv").mode("overwrite").save(path)
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_custkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_totalprice", org.apache.spark.sql.types.DoubleType)))
      val q = s.read.schema(sch).format("graft.sources.v2.GraftCsv").load(path)
        .filter(col("o_orderkey") >= 2000 && col("o_orderkey") < 3000)
        .groupBy(expr("o_orderkey div 100").as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("price_c"))
        .orderBy("bucket")
      // ≤10-row eager checkpoint: one execution, whose scan node reports
      // the files it read (the q336 discipline)
      val out = Materialize.cut(q)
      val counts = GraftCsv.scans(q).map(GraftCsv.fileCounts)
      require(counts.length == 1 &&
          counts.forall { case (kept, total) => total == 8 && kept < total },
        s"file skipping did not prune: (kept, total) per scan $counts")
      out
    }),

    // STREAMING incremental view maintenance (SEVENTH streaming gate):
    // the summary parquet is folded forward per micro-batch via
    // Mv.refreshIncremental behind per-batchId marker files (the
    // transactional-foreachBatch idempotence pattern — refresh is not
    // naturally idempotent), and the converged summary must hash-match
    // the one-shot aggregate over the whole events stream.
    "q239_stream_mv" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        expr("timestamp_micros(ts div 1000)").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      streaming.StreamGate.mvGate(s, ev, rtPath("q239_stream"))
        .orderBy("event_type")
    }),

    // Ed-Join prefix-filtered edit-distance join (the q113 discipline
    // applied to levenshtein): candidates only from each name's d·q+1
    // RAREST positional q-grams, exact-verify after — the oracle is the
    // brute quadratic join, so the gate IS the completeness proof (the
    // prefix filter must lose no pair). Typo variants are planted on
    // every 40th part name so the result exercises real matches, not
    // just vocabulary-adjacent names.
    "q240_edit_join" -> ((s, dir) => {
      val base = t(s, dir, "part").select(col("p_name").as("name"))
      val typos = t(s, dir, "part").filter(col("p_partkey") % 40 === 0)
        .select(concat(lit("x"), substring(col("p_name"), 2, 1000)).as("name"))
      TextOps.editDistanceJoin(base.union(typos), "name", d = 2)
        .orderBy("n1", "n2")
    }),

    // M4 downsampling (error-free line rendering): per (event_type,
    // bucket) only the first/last/min/max points survive — the dashboard
    // query that turns a metrics table into |series|·4·width rows. All
    // selections by total struct orders, exact integers.
    "q241_m4_downsample" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        col("event_id").as("id"), EventOps.tsUs("ts").as("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
      EventOps.m4Downsample(ev, "event_type", nBuckets = 50)
        .orderBy("event_type", "bucket", "ts_us", "value_c")
    }),

    // Binary embedding retrieval: sign-bit codes (4×16-bit blocks),
    // Hamming top-50 candidate scan (XOR + popcount, no vector data),
    // exact-cosine rerank to top-5 — the 32×-compression pattern modern
    // embedding stores use. Both stages replayed in the oracle.
    "q242_binary_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.binaryTopK(e, e.filter(col("vec_id") < 3), k = 5)
        .orderBy("qid", "rank")
    }),

    // Referential-consistent pseudonymization — the release-pipeline
    // tokenization rule: the same salted-hash mapping applied to BOTH
    // sides of a foreign key keeps every join intact. The per-nation
    // aggregate over the PSEUDONYM join must equal the raw-key join
    // (consistency proof), and sample_pid forces the oracle to replay
    // the exact mapping (salt || key, md5, 16 hex chars).
    "q243_pseudonymize" -> ((s, dir) => {
      def pseudo(c: Column): Column =
        substring(md5(concat(lit("graft-s1:"), c.cast("string"))), 1, 16)
      val cust = t(s, dir, "customer")
        .select(pseudo(col("c_custkey")).as("pid"), col("c_nationkey"))
      val ords = t(s, dir, "orders")
        .select(pseudo(col("o_custkey")).as("pid"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
      cust.join(ords, Seq("pid"))
        .groupBy("c_nationkey")
        .agg(countDistinct("pid").as("n_cust"), count(lit(1)).as("n_orders"),
          sum("price_c").as("rev_c"), min("pid").as("sample_pid"))
        .orderBy("c_nationkey")
    }),

    // Incremental LSH ingest: the corpus band index is PERSISTED (every
    // 10th doc held out as the "daily batch"), the batch probes it, and
    // the verified near-dup pairs must equal the full recompute
    // restricted to pairs touching a new doc — the identity that lets a
    // production pipeline dedup ingest without re-signing the corpus.
    "q244_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = TextOps.shingleTable(docs, "doc_id").cache()
      val corpusBands = TextOps.minhashBands(
        sh.filter(col("doc_id") % 10 =!= 0), "doc_id")
      val newBands = TextOps.minhashBands(
        sh.filter(col("doc_id") % 10 === 0), "doc_id")
      val cand = TextOps.minhashCandidatesIncremental(corpusBands, newBands, "doc_id")
      Materialize.thenRelease(
        TextOps.jaccardVerify(cand, sh, "doc_id", threshold = 0.5)
          .orderBy("id1", "id2"),
        sh)
    }),

    // Full Damerau-Levenshtein (unrestricted transpositions) via the
    // native graft_damerau expression — planted adjacent-char swaps make
    // the transposition advantage VISIBLE in the result (dd < lev rows),
    // and DuckDB's own damerau_levenshtein is the independent
    // integer-exact oracle. Blocked on the noun like q102/q223.
    "q245_damerau" -> ((s, dir) => {
      val base = t(s, dir, "part").select(col("p_name").as("name"))
      // swap chars 3 and 4 of every 25th name: damerau 1, levenshtein 2
      val swapped = t(s, dir, "part").filter(col("p_partkey") % 25 === 0)
        .select(concat(substring(col("p_name"), 1, 2),
          substring(col("p_name"), 4, 1), substring(col("p_name"), 3, 1),
          substring(col("p_name"), 5, 1000)).as("name"))
      val names = base.union(swapped).distinct()
        .select(col("name"), split(col("name"), " ").getItem(1).as("noun"))
      names.alias("a").join(names.alias("b"),
          col("a.noun") === col("b.noun") && col("a.name") < col("b.name"))
        .select(col("a.name").as("name1"), col("b.name").as("name2"),
          expr("graft_damerau(a.name, b.name)").as("dd"),
          levenshtein(col("a.name"), col("b.name")).as("lev"))
        .filter(col("dd") <= 2)
        .orderBy("name1", "name2")
    }),

    // CUPED variance reduction (Deng et al., WSDM'13) — the modern A/B
    // readout next to q177's chi²: per user, pre-period covariate x and
    // post-period metric y (integer cents); pooled θ = cov(x,y)/var(x)
    // kept as an EXACT rational (cleared-denominator DECIMAL(38)
    // numerator/denominator, emitted as strings so no engine division
    // rounds); the adjusted treatment-control lift is the exact rational
    // [(Yt·nc − Yc·nt)·θd − θn·(Xt·nc − Xc·nt)] / (nt·nc·θd), with a
    // double rendering computed from the exact integers (deterministic
    // in both engines). One row out; everything reduces map-side.
    "q246_cuped" -> ((s, dir) => {
      val cut = 1705363200000000L // 2024-01-16 00:00:00 UTC
      def dec(c: Column): Column = c.cast("decimal(38,0)")
      val u = t(s, dir, "events")
        .select(col("user_id"), EventOps.tsUs("ts").as("ts_us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy("user_id")
        .agg(sum(when(col("ts_us") < cut, col("cents")).otherwise(0L)).as("x"),
          sum(when(col("ts_us") >= cut, col("cents")).otherwise(0L)).as("y"))
      val tot = u.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      val arms = u.groupBy((col("user_id") % 2).as("arm"))
        .agg(count(lit(1)).as("na"), sum("x").as("xa"), sum("y").as("ya"))
        .agg(
          sum(when(col("arm") === 1, col("na"))).as("nt"),
          sum(when(col("arm") === 0, col("na"))).as("nc"),
          sum(when(col("arm") === 1, col("xa"))).as("xt"),
          sum(when(col("arm") === 0, col("xa"))).as("xc"),
          sum(when(col("arm") === 1, col("ya"))).as("yt"),
          sum(when(col("arm") === 0, col("ya"))).as("yc"))
      tot.crossJoin(broadcast(arms)) // 1×1: explicit broadcast (the q90 rule)
        .select(col("nt").cast("long").as("n_t"), col("nc").cast("long").as("n_c"),
          (dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))).as("tn"),
          (dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))).as("td"),
          (dec(col("yt")) * dec(col("nc")) - dec(col("yc")) * dec(col("nt"))).as("dy"),
          (dec(col("xt")) * dec(col("nc")) - dec(col("xc")) * dec(col("nt"))).as("dx"),
          (dec(col("nt")) * dec(col("nc"))).as("nn"))
        .select(col("n_t"), col("n_c"),
          col("tn").cast("string").as("theta_num"),
          col("td").cast("string").as("theta_den"),
          (col("dy").cast("double") / col("nn").cast("double")).as("raw_diff"),
          (col("dy") * col("td") - col("tn") * col("dx")).cast("string").as("adj_num"),
          (col("nn") * col("td")).cast("string").as("adj_den"),
          ((col("dy") * col("td") - col("tn") * col("dx")).cast("double") /
            (col("nn") * col("td")).cast("double")).as("adj_diff"))
    }),

    // Sample-ratio mismatch — the A/B sanity gate that must run BEFORE
    // any readout: chi² of observed arm counts against the 50/50 design,
    // exact rational (chi² = (nt−nc)²/(nt+nc) for two equal-probability
    // arms — cleared to integers), plus the mismatch in ppm. A biased
    // assignment invalidates q177/q246 silently; this is the tripwire.
    "q247_srm" -> ((s, dir) => {
      t(s, dir, "events").select(col("user_id")).distinct()
        .agg(
          sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_c"))
        .select(col("n_t"), col("n_c"),
          ((col("n_t") - col("n_c")) * (col("n_t") - col("n_c"))).as("chi2_num"),
          (col("n_t") + col("n_c")).as("chi2_den"),
          expr("abs(n_t - n_c) * 1000000 div (n_t + n_c)").as("mismatch_ppm"),
          // chi² > 3.84 ⇔ num > 3.84·den ⇔ 100·num > 384·den (exact ints)
          ((col("n_t") - col("n_c")) * (col("n_t") - col("n_c")) * 100 >
            (col("n_t") + col("n_c")) * 384).as("srm_alarm"))
    }),

    // LSH recall EVALUATION — measuring the near-dup detector instead of
    // assuming it: exact Jaccard ≥ 0.5 pairs (the q72 inverted-index
    // ground truth) vs the pairs the banded MinHash surfaces (q31's
    // machinery); recall in exact ppm. The eval every production dedup
    // deployment owes its corpus.
    "q248_lsh_recall" -> ((s, dir) => {
      val sh = TextOps.shingleTable(t(s, dir, "documents"), "doc_id").cache()
      val exact = TextOps.jaccardAllPairs(sh, "doc_id", threshold = 0.5)
        .select("id1", "id2")
      val lsh = TextOps.jaccardVerify(
        TextOps.minhashCandidates(sh, "doc_id"), sh, "doc_id", threshold = 0.5)
        .select("id1", "id2")
      Materialize.thenRelease(
        exact
          .join(lsh.withColumn("found", lit(1L)), Seq("id1", "id2"), "left")
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("found"), lit(0L))).as("n_found"))
          .select(col("n_true"), col("n_found"),
            expr("n_found * 1000000 div n_true").as("recall_ppm")),
        sh)
    }),

    // Accent folding for search/dedup normalization: NFD via the native
    // graft_normalize, then strip the combining marks (\p{Mn}) — the
    // composition every search index applies before matching. The
    // oracle is DuckDB's INDEPENDENT strip_accents implementation, so
    // the decomposition tables and the mark class must agree exactly on
    // the planted precomposed+decomposed accent mix.
    "q249_accent_fold" -> ((s, dir) => {
      val vowels = array(Seq("a", "e", "i", "o", "u").map(lit): _*)
      val marks = array(Seq("\u0300", "\u0301", "\u0302", "\u0303").map(lit): _*)
      val pre = array(Seq("\u00e9", "\u00e0", "\u0129", "\u00f4", "\u00fa").map(lit): _*)
      t(s, dir, "documents")
        .withColumn("raw", concat(substring(col("text"), 1, 15), lit(" "),
          element_at(pre, (col("doc_id") % 5 + 1).cast("int")),
          element_at(vowels, (col("doc_id") % 5 + 1).cast("int")),
          element_at(marks, (col("doc_id") % 4 + 1).cast("int"))))
        .select(col("doc_id"),
          regexp_replace(expr("graft_normalize(raw, 'NFD')"), "\\p{Mn}", "")
            .as("folded"))
        .withColumn("len_folded", length(col("folded")))
        .orderBy("doc_id")
    }),

    // Monotone-streak detection (the "3 consecutive increases" alert
    // rule): per event_type ordered by time, runs of strictly-increasing
    // values via the gaps-and-islands double-rank device; report each
    // maximal streak of length >= 4 with its exact rise.
    "q250_streaks" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts_us", "id")
      val ev = t(s, dir, "events").select(col("event_type"),
          col("event_id").as("id"), EventOps.tsUs("ts").as("ts_us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
        .withColumn("up",
          when(col("value_c") > lag("value_c", 1).over(w), 1).otherwise(0))
        .withColumn("rn", row_number().over(w))
      // island id: rn − running count of 'up' flags is constant within a
      // run of consecutive increases
      val runs = ev.withColumn("upcum",
          sum("up").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("island", col("rn") - col("upcum"))
        .filter(col("up") === 1)
        .groupBy("event_type", "island")
        .agg((count(lit(1)) + 1).as("streak_len"),
          min("ts_us").as("from_ts"), max("ts_us").as("to_ts"),
          (max("value_c") - min("value_c")).as("max_minus_min"))
        .filter(col("streak_len") >= 4)
      runs.select("event_type", "streak_len", "from_ts", "to_ts", "max_minus_min")
        .orderBy("event_type", "from_ts")
    }),

    // Label engineering for churn models: per (user, event), did the
    // user return within 7 days — the point-in-time-correct label rule
    // (only FUTURE events count, via lead over the user's timeline).
    "q251_churn_labels" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "id")
      t(s, dir, "events").select(col("user_id"), col("event_id").as("id"),
          EventOps.tsUs("ts").as("ts_us"))
        .withColumn("next_us", lead("ts_us", 1).over(w))
        .select(col("user_id"), col("id"), col("ts_us"),
          when(col("next_us").isNotNull &&
            col("next_us") - col("ts_us") <= 604800000000L, 1)
            .otherwise(0).as("returned_7d"),
          (col("next_us") - col("ts_us")).as("gap_us"))
        .orderBy("user_id", "ts_us", "id")
    }),

    // Kaplan–Meier survival of time-to-first-purchase, right-censored at
    // each user's last event: the step table lives on the reduced
    // duration-days domain; the ppm survival product is an integer HOF
    // fold whose recurrence the oracle replays as a recursive CTE.
    "q252_kaplan_meier" -> ((s, dir) =>
      EventOps.kaplanMeier(t(s, dir, "events")).orderBy("t_days")),

    // Benford first-digit audit of order totals (cents): the nine
    // round(1e6·log10(1+1/d)) constants — which sum to exactly 1e6 —
    // are inlined identically in both engines; per-digit chi-square
    // contributions in exact integer micro-units, N via a 9-row window.
    "q253_benford" -> ((s, dir) =>
      ProfileOps.benford(
        t(s, dir, "orders").select(
          round(col("o_totalprice") * 100).cast("long").as("cents")),
        "cents").orderBy("digit")),

    // Largest-remainder (Hamilton) apportionment of an exact 1e6-slot
    // sampling budget across (source, lang) cells — the hard-budget
    // allocator behind q168's mixture rates; sum(alloc) = seats by
    // construction (conservation spec-pinned at two SFs).
    "q254_apportion" -> ((s, dir) =>
      CorpusOps.apportion(t(s, dir, "documents"), Seq("source", "lang"),
        seats = 1000000L).orderBy("source", "lang")),

    // Newman degree assortativity of the q184-sparsified triangulated
    // lattice: denominators cleared in DECIMAL(38) lanes, sign-safe
    // truncated ppm — 1 row, 4 exact sums.
    "q255_assortativity" -> ((s, dir) => {
      val e = Derive.edgesDiag(Derive.nodes(s, dir))
        .filter((col("u") * 37 + col("v") * 61) % 100 < 85)
      GraphOps.assortativity(e)
    }),

    // Lag-1..3 autocorrelation per event_type series in cleared-
    // denominator integers — the periodicity probe next to q182's
    // weekday profile; one shared per-series window sort feeds all
    // three leads, sign-safe ppm ratios.
    "q256_autocorr" -> ((s, dir) =>
      EventOps.autocorrelation(t(s, dir, "events"))
        .orderBy("event_type", "lag")),

    // Kleinberg HITS hubs/authorities: 3 synchronous integer-milli
    // rounds (div-by-max renorm) over the sparsified DIRECTED lattice;
    // the oracle unrolls all six gather+renorm steps.
    "q257_hits" -> ((s, dir) => {
      val e = Derive.edgesDiag(Derive.nodes(s, dir))
        .filter((col("u") * 37 + col("v") * 61) % 100 < 85)
      GraphOps.hits(e, iters = 3).orderBy("node")
    }),

    // Mann–Whitney U between the view and click value distributions:
    // doubled-rank integers with textbook average-rank tie handling —
    // the nonparametric shift test next to q202's KS distance.
    "q258_mann_whitney" -> ((s, dir) =>
      ProfileOps.mannWhitney(
        t(s, dir, "events").select(col("event_type"),
          round(col("value") * 100).cast("long").as("v_c")),
        "event_type", "v_c", "view", "click")),

    // IPF raking: reweight the odd-doc panel's (source, lang) cells to
    // the FULL corpus margins — 2 rounds of the truncating micro-unit
    // recurrence, each half-round mirrored in the oracle's CTE chain.
    "q259_ipf_rake" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      CorpusOps.ipfRake(d.filter(col("doc_id") % 2 === 1), d)
        .orderBy("source", "lang")
    }),

    // Positional phrase search ("value table part", exact consecutive
    // match): anchor posting list + per-word (doc, pos+i) equi-joins —
    // the inverted-index form, no LIKE scan.
    "q260_phrase_search" -> ((s, dir) =>
      TextOps.phraseSearch(t(s, dir, "documents"),
        Seq("value", "table", "part")).orderBy("doc_id")),

    // Exact lower weighted median of price cents weighted by quantity,
    // per return flag — reduced (group, value) domain, no global sort.
    "q261_weighted_median" -> ((s, dir) =>
      ProfileOps.weightedMedian(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"),
          col("l_quantity").cast("long").as("qty")),
        "l_returnflag", "price_c", "qty").orderBy("l_returnflag")),

    // Good–Turing count-of-counts smoothing over the corpus unigrams:
    // r* = (r+1)·N_{r+1}/N_r in truncated micro units on the tiny
    // distinct-frequency domain.
    "q262_good_turing" -> ((s, dir) =>
      TextOps.goodTuring(t(s, dir, "documents")).orderBy("r")),

    // Time-RANGE window frames: trailing-1-hour per-user sum/count via
    // rangeBetween on the µs axis — the value-based frame surface (peers
    // at the same ts all join the frame, unlike ROWS).
    "q263_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-3600000000L, 0)
      t(s, dir, "events").select(col("user_id"), col("event_id").as("id"),
          EventOps.tsUs("ts").as("ts_us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("v_c"))
        .select(col("user_id"), col("id"), col("ts_us"),
          sum("v_c").over(w).as("hour_sum_c"),
          count(lit(1)).over(w).as("hour_n"))
        .orderBy("user_id", "ts_us", "id")
    }),

    // TPC-H Q17's shape — TWO correlated scalar aggregate subqueries in
    // the WHERE clause ("below 1/5 of the part's average quantity",
    // cross-multiplied into exact integers so no float boundary row can
    // flip) — identical statement text in both engines; Catalyst must
    // decorrelate both scalars into aggregate joins.
    "q264_tpch_q17_shape" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(tpchQ17Sql)
    }),

    // Gonzalez farthest-point (k-center) seeding over the embedding
    // corpus, k = 4: exact quantized distances, broadcast-seed scans,
    // 1-row argmax steering per round; the oracle unrolls all three
    // picks with least-of-seeds distance CTEs.
    "q265_kcenter_seeds" -> ((s, dir) =>
      SimilarityOps.kcenterSeeds(t(s, dir, "embeddings"), k = 4)
        .orderBy("seed_rank")),

    // Binary-segmentation change-point localization per event series:
    // argmax of the cleared-denominator between-segment contrast on the
    // shared per-series window — q174's CUSUM names the wave, this
    // names the split position.
    "q266_binary_segmentation" -> ((s, dir) =>
      EventOps.binarySegmentation(t(s, dir, "events")).orderBy("event_type")),

    // Kendall tau-a between quantity and discount over the CELL domain
    // (|A|·|B| cells, never row pairs): exact concordant/discordant/tie
    // masses plus the sqrt-free tau-a in sign-safe ppm.
    "q267_kendall_tau" -> ((s, dir) =>
      ProfileOps.kendallTau(
        t(s, dir, "lineitem").select(
          col("l_quantity").cast("long").as("qty"),
          round(col("l_discount") * 100).cast("long").as("disc_c")),
        "qty", "disc_c")),

    // Deterministic stratified train/val/test split: per-source md5
    // ranking + the exact r·1000 <= n_s·permille boundary rule — the
    // id-pure assignment no re-run or re-partition can move.
    "q268_stratified_split" -> ((s, dir) =>
      CorpusOps.stratifiedSplit(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // WordPiece greedy maximal-munch encoding over a corpus-derived
    // piece vocabulary (chars + top-20 substrings) — the BERT-family
    // inference tokenizer next to q97/q128's BPE; the oracle rebuilds
    // the same vocabulary in SQL and replays the longest-match walk as
    // a recursive CTE with length-guarded joins.
    "q269_wordpiece" -> ((s, dir) =>
      Bpe.wordpieceEncode(t(s, dir, "documents")).orderBy("w")),

    // Qini uplift curve: per score decile (descending, reduced-domain
    // bins) the cumulative incremental conversions of treated over
    // rate-scaled control, denominator cleared — the targeting-model
    // evaluation next to q177's A/B readout.
    "q270_qini" -> ((s, dir) =>
      EventOps.qiniCurve(t(s, dir, "events")).orderBy("bin")),

    // Exact ROC curve over the value-cents score domain: one operating
    // point per distinct score, cumulative TP/FP and ppm rates — the
    // threshold-tuning artifact whose trapezoid area is q258's AUC.
    "q271_roc_curve" -> ((s, dir) =>
      ProfileOps.rocCurve(
        t(s, dir, "events").select(
          (col("event_type") === "purchase").as("label"),
          round(col("value") * 100).cast("long").as("v_c")),
        "label", "v_c").orderBy(col("v").desc)),

    // Diff-in-differences: parity arms × exact-median time split, the
    // contrast composed from four truncated mean_micro terms.
    "q272_did" -> ((s, dir) =>
      EventOps.didReadout(t(s, dir, "events"))),

    // Measured LSH PRECISION at four thresholds — the q248-recall
    // companion: every band-join candidate exact-verified, pass rates in
    // ppm. Detector evaluation as a hash-checked fact.
    "q273_lsh_precision" -> ((s, dir) => {
      val sh = TextOps.shingleTable(t(s, dir, "documents"), "doc_id").cache()
      val jac = TextOps.minhashCandidates(sh, "doc_id")
        .join(sh.select(col("doc_id").as("id1"), col("sh").as("sh1")), Seq("id1"))
        .join(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")), Seq("id2"))
        .select(expr("(size(array_intersect(sh1, sh2)) * 1000000)" +
          " div size(array_union(sh1, sh2))").as("jac_ppm"))
      val out = jac
        .select(explode(array(Seq(500000, 600000, 700000, 800000).map(lit): _*))
          .as("thr"), col("jac_ppm"))
        .groupBy("thr")
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("jac_ppm") >= col("thr"), 1L).otherwise(0L)).as("n_pass"))
        .select(col("thr"), col("n_cand"), col("n_pass"),
          expr("CASE WHEN n_cand = 0 THEN NULL" +
            " ELSE (n_pass * 1000000) div n_cand END").as("precision_ppm"))
        .orderBy("thr")
      Materialize.thenRelease(out, sh)
    }),

    // Newman modularity of the q184 label-propagation communities —
    // detect (q184) then SCORE: exact per-community masses and the
    // global Q in sign-safe ppm over the same symmetrized graph.
    "q274_modularity" -> ((s, dir) => {
      val e = Derive.edgesDiag(Derive.nodes(s, dir))
        .filter((col("u") * 37 + col("v") * 61) % 100 < 85)
      GraphOps.modularity(e, GraphOps.labelPropagation(e, rounds = 3))
        .orderBy("community")
    }),

    // TPC-H Q20's nesting pattern: IN subquery whose body filters
    // through a correlated scalar aggregate in HAVING — identical
    // statement text in both engines, three decorrelation levels.
    "q275_tpch_q20_shape" -> ((s, dir) => {
      for (tb <- Seq("lineitem", "supplier", "part"))
        t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ20Sql)
    }),

    // DSv2 BLOOM file skipping: the documents table written through
    // GraftCsv in an INTERLEAVED key layout (file f holds doc_id ≡ f
    // mod 8, so every file's [min, max] covers every probe and range
    // stats cannot prune) — each of the three point lookups must still
    // plan a strict file subset through the per-file Bloom filters
    // (require'd on its own scan node), and the rows must hash-match the
    // plain parquet filter. False positives only KEEP files, so the result
    // is exact by construction.
    "q276_bloom_skip" -> ((s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val path = rtPath("bloomskip")
      t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .repartition(8, col("doc_id") % 8)
        .write.format("graft.sources.v2.GraftCsv").mode("overwrite").save(path)
      val sch = StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("n_chars", LongType)))
      val rd = s.read.schema(sch).format("graft.sources.v2.GraftCsv").load(path)
      val probes = Seq(40L, 41L, 1002L)
      val q = probes.map(k => rd.filter(col("doc_id") === k))
        .reduce(_ unionByName _).orderBy("doc_id")
      // few-row eager checkpoint: one execution (the q336 discipline); each
      // single-key probe's scan node must show it pruned through the blooms
      val out = Materialize.cut(q)
      val counts = GraftCsv.scans(q).map(GraftCsv.fileCounts)
      require(counts.length == probes.length &&
          counts.forall { case (kept, total) => total == 8 && kept <= 2 },
        s"bloom skipping did not prune for keys $probes: (kept, total) per scan $counts")
      out
    }),

    // Theil–Sen robust trend per event series: median of pairwise daily
    // slopes over the |T|²/2 calendar-pair domain, exact truncated
    // micro units — the 29%-breakdown complement to q172's OLS.
    "q277_theil_sen" -> ((s, dir) =>
      EventOps.theilSen(t(s, dir, "events")).orderBy("event_type")),

    // FIFTH injected optimizer rule, and the first semantics-RELAXING
    // one: COUNT(DISTINCT x) → HLL++ behind an explicit session opt-in
    // (spark.graft.approx.countdistinct). The gate runs the UNCHANGED
    // count-distinct query in an opted-in session, requires in-plan that
    // the rewrite fired, and emits the q87-style within-5% flag the
    // oracle pins TRUE against the exact counts — so a broken sketch
    // rewrite hash-fails even though the estimate itself is approximate.
    "q278_approx_distinct_rule" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.graft.approx.countdistinct", "true")
      val est = t(s2, dir, "documents")
        .select(col("lang"), explode(TextOps.words(col("text"))).as("tok"))
        .groupBy("lang").agg(countDistinct(col("tok")).as("est"))
      val plan = est.queryExecution.optimizedPlan.toString()
      require(plan.contains("approx_count_distinct") &&
        !plan.contains("count(distinct"),
        s"approx rewrite did not fire:\n$plan")
      // estimates are a |langs|-row steering table; compare in the
      // DEFAULT session where the rule is off and counts stay exact
      val estRows = est.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      import s.implicits._
      val estDf = estRows.toDF("lang", "est")
      t(s, dir, "documents")
        .select(col("lang"), explode(TextOps.words(col("text"))).as("tok"))
        .groupBy("lang").agg(countDistinct(col("tok")).as("n_distinct"))
        .join(broadcast(estDf), Seq("lang"))
        .select(col("lang"), col("n_distinct"),
          (abs(col("est") - col("n_distinct")) * 100 <= col("n_distinct") * 5)
            .as("approx_ok"))
        .orderBy("lang")
    }),

    // Spearman rank correlation per language between document length and
    // token count — the monotone-association twin of q267's Kendall tau,
    // exact over the value-cell domain (average ranks in doubled lanes).
    "q279_spearman" -> ((s, dir) =>
      ProfileOps.spearman(
        t(s, dir, "documents").select(col("lang"), col("n_chars"),
          size(TextOps.words(col("text"))).cast("long").as("n_tokens")),
        "lang", "n_chars", "n_tokens")
        .orderBy("lang")),

    // Clustering-validity check for the q60 configuration: per-cluster
    // mean simplified silhouette in exact integer ppm (squared-distance
    // law, mirrored verbatim in the Lloyd-unrolled oracle).
    "q280_silhouette" -> ((s, dir) =>
      SimilarityOps.silhouetteSimplified(
        t(s, dir, "embeddings"), k = 4, iters = 2, dim = 64)
        .orderBy("cid")),

    // Holt double exponential smoothing (α = β = ½) over per-type daily
    // revenue — level + trend + one-step forecast as an integer two-state
    // fold, the q179 EWMA's trend-aware extension.
    "q281_holt_trend" -> ((s, dir) =>
      EventOps.holtHalf(t(s, dir, "events")).orderBy("event_type")),

    // l-diversity audit over the q233 quasi-identifier classes with the
    // market segment as the sensitive attribute — distinct-l plus the
    // top-value concentration share per equivalence class.
    "q282_l_diversity" -> ((s, dir) =>
      ProfileOps.lDiversity(
        t(s, dir, "customer").select(col("c_nationkey"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"),
          col("c_mktsegment")),
        Seq("c_nationkey", "bal_band"), "c_mktsegment", l = 3)
        .orderBy("c_nationkey", "bal_band")),

    // nDCG@10 of the q165 IVF retrieval against exact brute-force rank —
    // graded relevance from the exact ranking, inlined integer log
    // discounts (the Benford device), all-integer micro/ppm emission.
    "q283_ndcg" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
      val exact = SimilarityOps.bruteTopK(e, queries, k = 10)
      val approx = SimilarityOps.ivfTopK(e,
        e.filter(col("vec_id") % 100 === 0), queries, k = 10, nprobe = 2)
      SimilarityOps.ndcgAtK(exact, approx, k = 10).orderBy("qid")
    }),

    // Pairwise Pearson correlation matrix over the four lineitem measures
    // in cents lanes — ONE scan for all 15 moments, n²-truncated
    // scale-free emission pieces, signed rho²-ppm headline.
    "q284_corr_matrix" -> ((s, dir) =>
      ProfileOps.pearsonMatrix(t(s, dir, "lineitem"), Seq(
        ("quantity_c", expr("CAST(round(l_quantity * 100) AS BIGINT)")),
        ("price_c", expr("CAST(round(l_extendedprice * 100) AS BIGINT)")),
        ("discount_c", expr("CAST(round(l_discount * 100) AS BIGINT)")),
        ("tax_c", expr("CAST(round(l_tax * 100) AS BIGINT)"))))
        .orderBy("col_a", "col_b")),

    // One-step-ahead Holt forecast backtest — the q281 recurrence with
    // error-mass accumulators folded in the SAME single pass: MAE, signed
    // bias, and weighted MAPE per event type.
    "q285_holt_backtest" -> ((s, dir) =>
      EventOps.holtBacktest(t(s, dir, "events")).orderBy("event_type")),

    // r×c chi-square independence test of order status × market segment
    // over the DENSIFIED value lattice (absent cells still contribute
    // their expectation) — exact integer micro units, cell-domain windows.
    "q286_chi2_indep" -> ((s, dir) =>
      ProfileOps.chi2Independence(
        t(s, dir, "orders").join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey")),
        "o_orderstatus", "c_mktsegment")
        .orderBy("a", "b")),

    // TextRank keywords: integer-micro PageRank over the symmetrized
    // adjacent-token co-occurrence graph, global top-20.
    "q287_textrank" -> ((s, dir) =>
      TextOps.textrank(t(s, dir, "documents"), iters = 3, k = 20)),

    // Grid-density clustering of the node cloud: the cell lattice is
    // integer-exact (lat·500 and lon·500 land on integers by the node
    // layout), dense = strictly above mean occupancy, clusters =
    // components of 8-neighbor-adjacent dense cells.
    "q288_dbscan_grid" -> ((s, dir) =>
      Grid.gridDensityClusters(Derive.nodes(s, dir), invCellDeg = 500.0)
        .orderBy("cluster")),

    // Inter-arrival burstiness per event type: per-(type, user) gap
    // sequences, exact integer CV² in milli — Poisson scores ≈1000.
    "q289_interarrival" -> ((s, dir) =>
      EventOps.interarrival(t(s, dir, "events")).orderBy("event_type")),

    // Multinomial naive Bayes on the id-parity split: micro-nat
    // log-likelihood table, unseen fallback, train-share priors,
    // argmax confusion matrix.
    "q290_naive_bayes" -> ((s, dir) =>
      TextOps.naiveBayes(t(s, dir, "documents"))
        .orderBy("lang", "pred_lang")),

    // Isotonic (PAV) recalibration of the q185 reliability curve — the
    // monotone fit via the exact minimax identity over bin triples; the
    // fitted rate must be non-decreasing in bin by construction.
    "q291_isotonic" -> ((s, dir) =>
      ProfileOps.isotonicFit(
        ProfileOps.calibrationBins(
          t(s, dir, "events").select(
            round(col("value") * 100).cast("long").as("v_c"),
            (col("event_type") === "purchase").as("conv")),
          "v_c", "conv", nb = 10),
        "bin", "n", "outcomes")
        .orderBy("bin")),

    // First-view → first-purchase-at-or-after conversion latency: exact
    // order-statistic percentiles over the reduced latency domain.
    "q292_conversion_latency" -> ((s, dir) =>
      EventOps.conversionLatency(t(s, dir, "events"))),

    // Johnson–Lindenstrauss ±1 projection distortion histogram: 64 → 16
    // dims through the md5-derived sign matrix (inlined literals on the
    // engine side, re-derived in SQL by the oracle), consecutive-pair
    // squared-distance ratios in exact ppm of the dOut·distIn expectation.
    "q293_jl_distortion" -> ((s, dir) =>
      SimilarityOps.jlDistortion(t(s, dir, "embeddings"),
        dIn = 64, dOut = 16, stride = 20).orderBy("band")),

    // GPT-2-style pretokenization audit: per language the pretoken
    // totals plus an order-independent (token, count) multiset
    // fingerprint — a tokenization drift tripwire between engines.
    "q294_pretokenize" -> ((s, dir) =>
      TextOps.pretokenizeReport(t(s, dir, "documents"), PretokenPattern)
        .orderBy("lang")),

    // TPC-H Q22's shape — IN-list prefilter, TWO scalar subqueries
    // forming an integer-exact above-average-balance predicate (the
    // cleared-denominator form: bal_c·count > sum_c, so no
    // order-dependent double average crosses an engine), and the
    // NOT EXISTS anti-join — identical statement text in both engines.
    "q296_tpch_q22_shape" -> ((s, dir) => {
      for (tb <- Seq("customer", "orders")) t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ22Sql)
    }),

    // TPC-H Q15's shape — the revenue view consumed twice (per-supplier
    // aggregate + its own max as a scalar subquery), integer centi-cent
    // revenue lanes; identical statement text in both engines.
    "q297_tpch_q15_shape" -> ((s, dir) => {
      for (tb <- Seq("lineitem", "supplier")) t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ15Sql)
    }),

    // Sliding 7-day exact median of daily revenue per type: Spark builds
    // it from a sorted bounded window frame (collect + element picks, the
    // per-key-bounded contract), DuckDB runs its native windowed median —
    // both interpolate even frames onto the same representable midpoint.
    "q298_moving_median" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-6, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"),
          expr("CAST(round(value * 100) AS BIGINT)").as("xc"))
        .groupBy("event_type", "day").agg(sum("xc").as("x"))
        .withColumn("arr", sort_array(collect_list("x").over(w)))
        .select(col("event_type"), col("day"), col("x"),
          expr("""CASE WHEN size(arr) % 2 = 1
                 |     THEN CAST(element_at(arr, CAST((size(arr) + 1) div 2 AS INT)) AS DOUBLE)
                 |     ELSE (element_at(arr, CAST(size(arr) div 2 AS INT))
                 |           + element_at(arr, CAST(size(arr) div 2 + 1 AS INT))) / 2.0
                 |END""".stripMargin).as("med7"))
        .orderBy("event_type", "day")
    }),

    // The hashing trick (Weinberger et al. 2009): tokens land in 64
    // buckets by md5, fixed ±1 bucket weights derive from md5 parity
    // (inlined literals engine-side, re-derived in SQL by the oracle —
    // the q293 device), and per-language the linear scores aggregate
    // exactly. The plumbing every shallow text classifier at scale uses.
    "q299_feature_hashing" -> ((s, dir) => {
      val wts = (0 until 64).map(b => SimilarityOps.jlSign(101, b).toLong)
      t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          explode(TextOps.words(col("text"))).as("tok"))
        .select(col("lang"), col("doc_id"),
          element_at(array(wts.map(lit): _*),
            (conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
              % 64 + 1).cast("int")).as("w"))
        .groupBy("lang", "doc_id").agg(sum("w").as("logit"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("logit") > 0, 1L).otherwise(0L)).as("n_pos"),
          sum("logit").as("sum_logit"))
        .select(col("lang"), col("n_docs"), col("n_pos"),
          expr("(n_pos * 1000000) div n_docs").as("pos_ppm"),
          col("sum_logit"))
        .orderBy("lang")
    }),

    // Held-out bigram LM evaluation: Laplace costs in integer micro-nats
    // (rounded once per cell), two-tier unseen fallback, per-language
    // exact cost mass over the val split.
    "q300_lm_perplexity" -> ((s, dir) =>
      TextOps.bigramPerplexity(t(s, dir, "documents")).orderBy("lang")),

    // Covariate-balance SMD for the A/B assignment — the continuous
    // partner of q247's SRM tripwire; exact moment pieces, floor-double
    // emission.
    "q301_covariate_balance" -> ((s, dir) =>
      EventOps.covariateBalance(t(s, dir, "events")).orderBy("metric")),

    // Cohort LTV curves: users cohorted by first-seen epoch week, their
    // revenue mass laid out by weeks-since-signup, cumulated per cohort
    // over the WEEK domain (the q117 retention matrix's revenue twin),
    // exact integer per-user LTV. One per-user reduce, one (cohort, age)
    // reduce, one window over the bounded week lattice.
    "q308_cohort_ltv" -> ((s, dir) => {
      val wk = 604800000000L // micros per epoch week
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr(s"(ts div 1000) div $wk").as("wk"),
          expr("CAST(round(value * 100) AS BIGINT)").as("xc"))
      // feeds cohort sizes AND the age join
      val signup = Materialize.cut(ev.groupBy("user_id").agg(min("wk").as("cohort_wk")))
      val sizes = signup.groupBy("cohort_wk")
        .agg(count(lit(1)).as("n_users"))
      val aged = ev.join(signup, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("age_wk"))
        .agg(sum("xc").as("rev_c"))
      val w = Window.partitionBy("cohort_wk").orderBy("age_wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      aged.withColumn("cum_rev_c", sum("rev_c").over(w))
        .join(sizes, Seq("cohort_wk"))
        .select(col("cohort_wk"), col("age_wk"), col("n_users"),
          col("rev_c"), col("cum_rev_c"),
          expr("cum_rev_c div n_users").as("ltv_per_user_c"))
        .orderBy("cohort_wk", "age_wk")
    }),

    // Production-depth BPE ROUNDTRIP: train to depth 2000 (q309's
    // schedule), then encode the ENTIRE distinct-word vocabulary with the
    // full table (the priority-loop kernel — spec-pinned identical to an
    // in-order replay) and require losslessness word by word. The oracle lists every distinct
    // word with ok=true, so ANY word whose tokens fail to reassemble —
    // or that goes missing — flips the hash. This is q217's 4-merge
    // roundtrip at tokenizer-production depth.
    "q316_bpe_deep_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val table = Bpe.merges(docs, 2000)
        .orderBy("round")
        .select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val words = docs.select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0).distinct()
      Bpe.encode(words, table)
        .select(col("word"),
          (concat_ws("", col("tokens")) === col("word") &&
            size(col("tokens")) >= 1).as("ok"))
        .orderBy("word")
    }),

    // TPC-H Q2's shape (round-8 verdict #7): the correlated MIN-COST
    // subquery — the supplier(s) achieving the per-part minimum cost
    // inside a region, the min computed by a correlated scalar subquery
    // that repeats the 4-table join. partsupp is derived from lineitem
    // as a shared CTE (the testdata has no partsupp table); integer
    // centi-cost lane. Identical statement text in both engines.
    "q312_tpch_q2_shape" -> ((s, dir) => {
      for (tb <- Seq("lineitem", "part", "supplier", "nation", "region"))
        t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ2Sql)
    }),

    // TPC-H Q4's shape: EXISTS with a correlated equi conjunct plus a
    // correlated NON-equi comparison (l_shipdate > o_orderdate stands in
    // for commit<receipt, absent from the schema) — the semi-join
    // decorrelation stress. Identical statement text.
    "q313_tpch_q4_shape" -> ((s, dir) => {
      for (tb <- Seq("orders", "lineitem"))
        t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ4Sql)
    }),

    // TPC-H Q11's shape: per-group value vs a GLOBAL scalar fraction —
    // HAVING sum(group) * 1000 > (SELECT sum(all)) in DECIMAL(38,0)
    // lanes (cleared-denominator: no double fraction crosses an engine,
    // and the *1000 cannot ceiling at any corpus size). Identical text.
    "q314_tpch_q11_shape" -> ((s, dir) => {
      for (tb <- Seq("lineitem", "supplier", "nation"))
        t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ11Sql)
    }),

    // TPC-H Q18's shape: IN over a grouped-HAVING subquery (large-volume
    // orders), then the 3-table join re-aggregates per (customer, order).
    // Identical statement text.
    "q315_tpch_q18_shape" -> ((s, dir) => {
      for (tb <- Seq("customer", "orders", "lineitem"))
        t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ18Sql)
    }),

    // TPC-H Q16's shape: NOT IN subquery (null-aware anti-join — the
    // suppliers under a complaint-style predicate) feeding a
    // count(DISTINCT) over a grouped cross of part attributes; partsupp
    // derived as the distinct (part, supp) pairs. Identical text.
    "q317_tpch_q16_shape" -> ((s, dir) => {
      for (tb <- Seq("lineitem", "part", "supplier"))
        t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ16Sql)
    }),

    // TPC-H Q19's shape: the disjunctive OR-of-ANDs join predicate —
    // the CNF-extraction / common-conjunct-pushdown stress (each branch
    // pairs part attributes with lineitem ranges). Identical text;
    // integer centi-cent revenue lane.
    "q318_tpch_q19_shape" -> ((s, dir) => {
      for (tb <- Seq("lineitem", "part"))
        t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ19Sql)
    }),

    // Round 10 completes the TPC-H shape suite — all 22 queries now run
    // as identical-statement-text gates (Q1 lives as q01's typed twin +
    // q306's DECIMAL form). Q3/Q5/Q10: the classic multi-way star joins
    // with date windows and top-k under total orders; Q6: the no-join
    // scan-reduce pushdown baseline; Q7/Q8: nation-pair and market-share
    // shapes scanning nation twice; Q9: profit over the derived partsupp;
    // Q12/Q14: join + CASE-pivot conditional aggregation.
    "q319_tpch_q3_shape" -> ((s, dir) => {
      for (tb <- Seq("customer", "orders", "lineitem"))
        t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ3Sql)
    }),
    "q320_tpch_q5_shape" -> ((s, dir) => {
      for (tb <- Seq("customer", "orders", "lineitem", "supplier", "nation", "region"))
        t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ5Sql)
    }),
    "q321_tpch_q6_shape" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(tpchQ6Sql)
    }),
    "q322_tpch_q7_shape" -> ((s, dir) => {
      for (tb <- Seq("supplier", "lineitem", "orders", "customer", "nation"))
        t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ7Sql)
    }),
    "q323_tpch_q8_shape" -> ((s, dir) => {
      for (tb <- Seq("part", "supplier", "lineitem", "orders", "customer", "nation", "region"))
        t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ8Sql)
    }),
    "q324_tpch_q9_shape" -> ((s, dir) => {
      for (tb <- Seq("part", "supplier", "lineitem", "orders", "nation"))
        t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ9Sql)
    }),
    "q325_tpch_q10_shape" -> ((s, dir) => {
      for (tb <- Seq("customer", "orders", "lineitem", "nation"))
        t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ10Sql)
    }),
    "q326_tpch_q12_shape" -> ((s, dir) => {
      for (tb <- Seq("orders", "lineitem"))
        t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ12Sql)
    }),
    "q327_tpch_q14_shape" -> ((s, dir) => {
      for (tb <- Seq("lineitem", "part"))
        t(s, dir, tb).createOrReplaceTempView(tb)
      s.sql(tpchQ14Sql)
    }),

    // Interpolated Kneser-Ney bigram evaluation (D = 1/2, doubled
    // integer lanes): continuation counts, three cost tiers, micro-nat
    // per-cell rounding — the production n-gram smoothing next to
    // q300's Laplace baseline.
    "q328_kneser_ney" -> ((s, dir) =>
      TextOps.kneserNey(t(s, dir, "documents")).orderBy("lang")),

    // DSIR-style importance-weighted data selection: hashed-unigram
    // bucket LMs for target (lang = 'en') vs the raw pool, integer
    // micro-nat log-ratio weights, exact integer doc scores, top-20
    // under a total order.
    "q329_dsir_select" -> ((s, dir) =>
      CorpusOps.dsirSelect(t(s, dir, "documents"), col("lang") === "en")),

    // Corpus-level BLEU-2 over the q212 adjacent pairing: clipped
    // unigram/bigram precision in exact integer pieces, brevity penalty
    // and the headline score derived from those same integers with ONE
    // final rounding (shared-libm exp/sqrt).
    "q330_bleu_corpus" -> ((s, dir) =>
      TextOps.bleuCorpus(t(s, dir, "documents"))),

    // Landmark distance sketch: hop-bounded multi-source BFS from the
    // deterministic landmark set over the symmetrized lattice — the
    // precomputed table that answers d(u,v) <= d(u,l) + d(l,v) at query
    // time. Oracle = bounded WITH RECURSIVE replay.
    "q331_landmark_sketch" -> ((s, dir) => {
      val n = Derive.nodes(s, dir)
      GraphOps.landmarkSketch(n, Derive.edges(n))
        .orderBy("node", "landmark")
    }),

    // STREAM-STATIC enrichment join (the tenth streaming gate): each
    // micro-batch joins the pinned user->segment dimension (stateless
    // per-batch broadcast), the running (segment, type) aggregate folds
    // through the update-mode MERGE sink, converging to the batch
    // group-by the oracle replays.
    "q334_stream_enrich" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        expr("timestamp_micros(ts div 1000)").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      streaming.StreamGate.enrichGate(s, ev, rtPath("q334_stream"))
        .orderBy("segment", "event_type")
    }),

    // Rendezvous (HRW) sharding audit: owners under 5 and 6 shards from
    // per-(doc, shard) md5 argmax — growing the fleet moves only the
    // docs the NEW shard wins (the minimal-movement law; moved_in = 0
    // on every pre-existing shard).
    "q332_rendezvous_shards" -> ((s, dir) =>
      CorpusOps.rendezvousShards(t(s, dir, "documents"))),

    // Spark's RUNTIME BLOOM-FILTER join pruning (the fact-fact
    // semi-join reduction a 100 TB star join lives on): an opted-in
    // session lowers the application-side threshold, the optimizer
    // injects might_contain(bloom_filter_agg(..)) on the lineitem scan
    // side of the shuffle join — required IN-PLAN — and the result must
    // still hash-match the plain-join oracle (result identity under the
    // injected filter).
    "q333_runtime_bloom" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // the default 10MB creation-side cap made the injection (correctly)
      // decline at 100x data — caught by the k=100 scale session's require;
      // the opted-in gate raises the knob so the injection contract holds
      // at every measured scale (production tunes this to creation cost)
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "512MB")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = t(s2, dir, "lineitem")
      val ord = t(s2, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderstatus") === "F")
      val df = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .as("rev_c"))
        .orderBy("l_returnflag")
      val plan = df.queryExecution.optimizedPlan.toString()
      require(plan.contains("might_contain"),
        s"runtime bloom filter did not inject:\n$plan")
      df
    }),

    // STREAMING KILL-AND-RESUME (round-8 verdict #3): the windowed-agg
    // gate run as phase-1-half → stop → drop the last checkpoint commit
    // (the deterministic at-least-once redelivery) → restart from the
    // SAME checkpoint with the MERGE fold seeded from the durable sink.
    // State-store restore (windows straddling the kill) AND idempotent
    // absorption of the replayed batch are both required to hash-match
    // q194's batch oracle; a require() asserts the replay happened.
    "q310_stream_recovery" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        expr("timestamp_micros(ts div 1000)").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      streaming.StreamGate.windowedRecoveryGate(s, ev, rtPath("q310_stream"))
        .orderBy("window_us", "event_type")
    }),

    // The NON-idempotent leg under the same kill: refreshIncremental
    // double-counts on redelivery, so the per-batchId marker files are
    // the whole exactly-once story — this gate replays a committed batch
    // after restart and the summary must still hash-match the one-shot
    // aggregate (q239's oracle). A skipped marker = double count = hash
    // mismatch.
    "q311_stream_mv_recovery" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        expr("timestamp_micros(ts div 1000)").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      streaming.StreamGate.mvRecoveryGate(s, ev, rtPath("q311_stream"))
        .orderBy("event_type")
    }),

    // Full-depth BPE training (the production depth): the ENTIRE
    // depth-2000 merge schedule runs inside one partition-local heap
    // kernel over the pooled vocabulary — ONE Spark job. The gate emits
    // the first 4 learned merges and hashes them against q97's 4-round
    // unrolled-CTE oracle: a 2000-round run must start with the same
    // schedule as a 4-round one. Equality at every depth with a
    // round-at-a-time reference is spec-pinned (BpeSpec, fixed +
    // randomized corpora).
    "q309_bpe_deep" -> ((s, dir) =>
      Bpe.merges(t(s, dir, "documents"), rounds = 2000)
        .filter(col("round") <= 4).orderBy("round")),

    // DECIMAL-typed aggregation surface: TPC-H Q1's reduce with the
    // measures CAST to DECIMAL(12,2) — exact decimal sums and the
    // decimal-product scale rules, identical statement text both engines.
    "q306_decimal_q1" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(decimalQ1Sql)
    }),

    // NULL-semantics surface: null group keys, null-skipping vs row
    // counts, DISTINCT under nulls, coalesce/nullif — shared text.
    "q307_null_surface" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql(nullSurfaceSql)
    }),

    // Simpson's-paradox audit: pooled vs per-weekday A/B contrast in
    // exact integers, sign-flip flags per stratum.
    "q303_simpson_audit" -> ((s, dir) =>
      EventOps.simpsonAudit(t(s, dir, "events")).orderBy("dow")),

    // Skip-gram (±2 window) PMI collocations — one corpus scan feeds
    // unigrams and both pair offsets; exact integer exp(PMI) ranking.
    "q304_skipgram_pmi" -> ((s, dir) =>
      TextOps.skipgramPmi(t(s, dir, "documents"), minCount = 20, k = 50)),

    // Named-WINDOW SQL surface: one WINDOW clause shared by two window
    // functions, identical statement text in both engines.
    "q305_named_window" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(namedWindowSql)
    }),

    // ABC / Pareto classification of parts by revenue: ONE reduce to the
    // part domain, a cumulative window over that reduced domain under a
    // total (revenue desc, partkey) order, START-based class boundaries
    // in exact integers (the q185 cum−cnt device), 3-row class report.
    "q302_abc_pareto" -> ((s, dir) => {
      val w = Window.orderBy(col("rev_cc").desc, col("p_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)" +
          " * (100 - CAST(round(l_discount * 100) AS BIGINT))")).as("rev_cc"))
        .withColumn("cum", sum("rev_cc").over(w))
        .withColumn("total", expr("sum(rev_cc) OVER ()"))
        // DECIMAL comparison lanes: total·90 in LONG passes 2⁶³ around
        // 10⁸ lineitems — same truncation-free comparison, no ceiling
        .withColumn("cls", expr(
          """CASE WHEN CAST(cum - rev_cc AS DECIMAL(38,0)) * 100
            |          < CAST(total AS DECIMAL(38,0)) * 70 THEN 'A'
            |     WHEN CAST(cum - rev_cc AS DECIMAL(38,0)) * 100
            |          < CAST(total AS DECIMAL(38,0)) * 90 THEN 'B'
            |     ELSE 'C' END""".stripMargin))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_parts"), sum("rev_cc").as("revenue_cc"),
          // DECIMAL lane: class revenue ×10⁶ passes 2⁶³ near 10⁷ rows
          expr("(CAST(sum(rev_cc) AS DECIMAL(38,0)) * 1000000)" +
            " div any_value(total)").cast("long").as("share_ppm"))
        .orderBy("cls")
    }),

    // The SIXTH injected optimizer rule end-to-end: a radius predicate
    // over the native graft_haversine_m gains a provably-containing
    // lat/lon bounding box that Spark pushes into the parquet scan
    // (PushedFilters — asserted in PlanContractSpec), with the exact
    // haversine kept as residual; the oracle runs the PLAIN filter.
    "q295_radius_pushdown" -> ((s, dir) => {
      val path = rtPath("q295_nodes")
      Derive.nodes(s, dir).write.mode("overwrite").parquet(path)
      def dist = call_function("graft_haversine_m",
        col("lon"), col("lat"), lit(18.45), lit(54.36))
      s.read.parquet(path)
        .filter(dist <= lit(2500.0))
        // round(·,6): raw trig crosses the engine boundary nowhere (libm
        // last-ulp differences) — the q43 device; the FILTER itself is
        // ulp-safe because the node lattice's distance set is discrete
        .select(col("node_idx"), col("lon"), col("lat"),
          round(dist, 6).as("dist_m"))
        .orderBy("node_idx")
    }),

    // WEIGHTED landmark distance sketch (round-10 verdict #3): q331's
    // structure under the reference's actual routing semantics — meters,
    // not hops. Bounded frontier Bellman-Ford from the deterministic
    // landmark set: per round one broadcast(frontier) map-side join over
    // the edge scan + one ball-bounded min-aggregate; only improved
    // nodes expand. Oracle = bounded WITH RECURSIVE path replay (min
    // over ≤4-hop paths within the 1200 m budget, exact integer meters).
    "q335_landmark_weighted" -> ((s, dir) => {
      val n = Derive.nodes(s, dir)
      GraphOps.landmarkSketchWeighted(n, Derive.edges(n))
        .orderBy("node", "landmark")
    }),

    // AQE SKEW-JOIN evidence (round-10 verdict #4): the q333 in-plan-
    // require device applied to OptimizeSkewedJoin. A deliberately
    // skewed fact side (75% of lineitem rows collapse onto skey 0) sort-
    // merge-joins the 97-row key dimension under an opted-in session
    // whose skew thresholds are RELATIVE to the input (production tunes
    // them to map-output stats; a fixed byte knob would stop firing at
    // 1x or split one partition into thousands at 100x). Spark's own
    // skew split — not the manual q88 salting — must appear in the final
    // adaptive plan (skew=true on the SMJ node), and the result must
    // still hash-match the plain-join oracle.
    "q336_skew_join_aqe" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.adaptive.enabled", "true")
      s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // no broadcast anywhere (compile-time or AQE runtime): the gate is
      // about the SMJ skew path, and a 97-row dim would otherwise BHJ
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // splitting the skewed partition breaks the join's output
      // partitioning and the downstream agg re-shuffles anyway; force
      // tells AQE that trade is intended
      s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      val li = t(s2, dir, "lineitem")
      // 1-row steering scalar (the neighborEdges/hi class): thresholds
      // sized to the input keep both the detection (skewed partition >
      // threshold) and the split arity (~skew-mass/advisory ≈ constant)
      // scale-invariant from sf0.01 through the 100x session
      val nRows = li.count()
      val adv = math.max(4L << 10, nRows * 24 / 400)
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        adv.toString)
      s2.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        (2 * adv).toString)
      // repartition(32): AQE splits a skewed partition at MAP-OUTPUT
      // granularity, so the join shuffle needs several mappers — a toy
      // parquet file is one row group = ONE mapper = unsplittable (the
      // probe measured exactly that). Production fact scans have
      // thousands of mappers; this guarantees the precondition at every
      // measured scale for one bounded extra pass.
      val left = li.select(
        when(col("l_orderkey") % 4 =!= 0, lit(0L))
          .otherwise(col("l_orderkey") % 97).as("skey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"))
        .repartition(32)
      // localCheckpoint: OptimizeSkewedJoin's pattern is SMJ over
      // Sort(stage) DIRECTLY — a dim built by an aggregation would sit
      // as Sort(HashAggregate(stage)) under the join and silently never
      // match (measured). Materializing the 97-row dim gives the join
      // the scan→shuffle→SMJ geometry a real pre-built dimension has.
      val right = Materialize.cut(t(s2, dir, "part")
        .groupBy((col("p_partkey") % 97).as("skey"))
        .agg(count(lit(1)).as("pw")))
      val df = left.join(right, "skey")
        .groupBy("skey")
        .agg(count(lit(1)).as("n"), sum("price_c").as("rev_c"),
          min("pw").as("pw"))
        .orderBy("skey")
      // materialize THIS df's QueryExecution (≤97-row key domain) so the
      // adaptive plan is final and the skew requirement is checkable,
      // exactly like q333's require — via an EAGER localCheckpoint, so
      // the one execution both finalizes the plan and IS the returned
      // result (the former collect() + returned-frame pair re-ran the
      // whole skew-split join a second time in the sink)
      val out = Materialize.cut(df)
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("skew=true"),
        s"AQE OptimizeSkewedJoin did not fire:\n$plan")
      out
    }),

    // MEASURED parquet write path (round-10 verdict #6): the persistence
    // stage gets a throughput row, not just round-trip correctness — the
    // body writes the FULL lineitem table to a fresh parquet sink, then
    // re-reads and reduces it; the bench/scale rows therefore time a
    // sized write + full scan-back, and the oracle proves the round trip
    // lossless (count + exact centi-cent revenue + key checksum).
    "q337_sink_parquet" -> ((s, dir) => {
      val path = rtPath("q337_lineitem")
      t(s, dir, "lineitem").write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .as("rev_c"),
          sum(col("l_orderkey")).as("key_sum"))
        .orderBy("l_returnflag")
    }),

    // MEASURED JDBC write path (same verdict item, S16's sized twin):
    // the full orders table into an on-disk Derby database (disk-backed,
    // unlike q51's 1k-row in-memory round trip, so the measured cost is
    // a real sustained INSERT stream bounded by the sink, not by heap),
    // read back through the JDBC source and reduced; oracle on orders.
    "q338_sink_jdbc" -> ((s, dir) => {
      val url = s"jdbc:derby:${rtPath("q338_derby")};create=true"
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
      Sinks.writeJdbc(src, url, "orders_sink")
      Sinks.readJdbc(s, url, "orders_sink")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("price_c")).as("price_c_sum"),
          sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderstatus")
    }),

    // DYNAMIC partition pruning in-plan gate (the q333/q336 require
    // device applied to DPP — the third runtime-pruning mechanism after
    // the runtime Bloom join and the AQE skew split). The fact side is
    // written hive-partitioned on the join key; the dimension filter
    // (region 0 keeps 5 of 25 nations) is NOT on the join key, so no
    // static rule can prune the fact — only Spark's PartitionPruning
    // rule, which plants a dynamicpruning subquery into the scan's
    // PartitionFilters and reuses the join's broadcast to evaluate it.
    // At 100 TB this is the difference between scanning 5 and 25
    // partitions of a date/tenant-partitioned fact. require() proves the
    // mechanism fired; the plain-join oracle proves it dropped nothing.
    "q339_dpp" -> ((s, dir) => {
      val path = rtPath("q339_fact")
      t(s, dir, "lineitem").select(
          (col("l_suppkey") % 25).cast("int").as("nkey"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"))
        .write.mode("overwrite").partitionBy("nkey").parquet(path)
      val fact = s.read.parquet(path)
      val dim = t(s, dir, "nation").filter(col("n_regionkey") === 0)
        .select(col("n_nationkey").cast("int").as("nkey"), col("n_name"))
      val df = fact.join(dim, "nkey")
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), sum("price_c").as("rev_c"))
        .orderBy("n_name")
      // materialize (≤5-row result — the q336 one-execution discipline:
      // the eager checkpoint finalizes the plan AND is the returned frame)
      val out = Materialize.cut(df)
      val plan = df.queryExecution.executedPlan.toString
      require(plan.toLowerCase.contains("dynamicpruning"),
        s"dynamic partition pruning did not fire:\n$plan")
      out
    }),

    // SQL PIPE syntax (Spark 4's |> operator chain): the linear
    // FROM → WHERE → EXTEND → AGGREGATE → WHERE → ORDER BY form of the
    // ordinary grouped reduce — same logical plan, new parser surface.
    // The oracle is the standard-SQL spelling of the identical query, so
    // the gate pins that the pipe chain lowers to exactly the relational
    // semantics the classic form has.
    "q340_pipe_syntax" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """FROM orders
          ||> WHERE o_orderstatus IS NOT NULL
          ||> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
          ||> AGGREGATE count(*) AS n, sum(price_c) AS price_c_sum
          |   GROUP BY o_orderstatus
          ||> WHERE n > 5
          ||> ORDER BY o_orderstatus""".stripMargin)
    }),

    // DSv2 AGGREGATE pushdown (metadata-only query): a global
    // count/count(col)/min/max over the custom source is answered from
    // the write-time manifest — one stats row per file, zero data bytes
    // read — the parquet-footer trick implemented in our own source.
    // Nulls are planted on every 10th o_custkey so the count(col) lane
    // (rows − nulls) is exercised, not just count(*). require() pins
    // that the pushdown was ACCEPTED (the spec proves the stronger
    // claim: data files truncated to their header still answer); the
    // oracle proves the manifest-derived answer equals the data's.
    "q341_dsv2_agg" -> ((s, dir) => {
      val path = rtPath("dsv2agg")
      t(s, dir, "orders").select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 0, lit(null).cast("long"))
            .otherwise(col("o_custkey")).as("o_custkey"),
          col("o_totalprice"))
        .repartition(8)
        .write.format("graft.sources.v2.GraftCsv").mode("overwrite").save(path)
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_custkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_totalprice", org.apache.spark.sql.types.DoubleType)))
      val df = s.read.schema(sch).format("graft.sources.v2.GraftCsv").load(path)
        .agg(count(lit(1)).as("n"), count(col("o_custkey")).as("n_cust"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
      // 1-row eager checkpoint: one execution finalizes the plan for the
      // require and is the returned frame (the q336 discipline)
      val out = Materialize.cut(df)
      require(GraftCsv.scans(df).exists(_.scan.isInstanceOf[GraftCsvAggScan]),
        "aggregate pushdown was not accepted — the scan read data files")
      out
    }),

    // TEMPERATURE-scaled mixture (mT5/XLM-R α-sampling, α = 1/2): a
    // deliberately imbalanced 8:4:2:1:1 source split (doc_id-derived, so
    // the imbalance is visible at every SF) is reweighted by sqrt mass
    // and a 100k-doc budget apportioned under exact largest-remainder
    // conservation. sqrt is IEEE-correctly-rounded in both engines —
    // every downstream division is integer-exact DECIMAL arithmetic.
    "q342_temperature_mixture" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 16 < 8, "webA")
          .when(col("doc_id") % 16 < 12, "webB")
          .when(col("doc_id") % 16 < 14, "books")
          .when(col("doc_id") % 16 === 14, "code")
          .otherwise("wiki").as("source"))
      CorpusOps.temperatureMixture(docs, budget = 100000L)
        .orderBy("source")
    }),

    // UNIGRAM-LM (SentencePiece) segmentation — the tokenizer trio
    // completed (BPE q97/q309 merge rules, WordPiece q269 greedy
    // longest-match, and now Kudo-2018 min-cost Viterbi over piece
    // log-probs). Vocabulary, piece costs, and the per-word DP are ALL
    // re-derived independently by the oracle (vocab selection included),
    // and the recursive CTE replays EVERY segmentation path — the gate
    // is therefore an optimality proof, not just a value match.
    "q343_unigram_segment" -> ((s, dir) =>
      TextOps.unigramSegment(t(s, dir, "documents"))
        .orderBy("w"))
,
    // STORAGE-PARTITIONED JOIN (the Iceberg SPJ shape, implemented in the
    // custom DSv2 source): both sides are written KEY-GROUPED
    // (partition_col routes every row to a key-pure file; `_keys.csv`
    // records file → key), the scans report KeyGroupedPartitioning over
    // identity(k) with HasPartitionKey splits, and under
    // spark.sql.sources.v2.bucketing.enabled Spark lines the key groups
    // up and plans the join with ZERO shuffle — the q214 bucketed-join
    // contract moved from Spark's Hive-bucket layout into a source we
    // own end to end. require() pins the no-exchange plan; the plain
    // oracle pins the values.
    "q344_spj" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val fmt = "graft.sources.v2.GraftCsv"
      val pa = rtPath("spj_li"); val pb = rtPath("spj_ord")
      t(s2, dir, "lineitem").select(
          (col("l_orderkey") % 32).cast("long").as("k"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"))
        .repartition(32, col("k"))
        .write.format(fmt).option("partition_col", "k")
        .mode("overwrite").save(pa)
      t(s2, dir, "orders").select(
          (col("o_orderkey") % 32).cast("long").as("k"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("oprice_c"))
        .groupBy("k").agg(count(lit(1)).as("n_ord"),
          sum("oprice_c").as("osum_c"))
        .repartition(32, col("k"))
        .write.format(fmt).option("partition_col", "k")
        .mode("overwrite").save(pb)
      val sa = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("price_c", org.apache.spark.sql.types.LongType)))
      val sb = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_ord", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("osum_c", org.apache.spark.sql.types.LongType)))
      val a = s2.read.schema(sa).format(fmt).load(pa)
      val b = s2.read.schema(sb).format(fmt).load(pb)
      val df = a.join(b, "k").groupBy("k")
        .agg(count(lit(1)).as("n_li"), sum("price_c").as("rev_c"),
          min("n_ord").as("n_ord"), min("osum_c").as("osum_c"))
        .orderBy("k")
      // The SPJ decision is STATIC planning (v2 bucketing reports the
      // key-grouped partitioning; no AQE rule can introduce a join-input
      // exchange later, and broadcast demotion is disabled above), so the
      // require reads the initial physical plan — the former ≤32-row
      // steering collect() executed the whole join a second time purely
      // to finalize AQE (guide §1.2: don't compute things you throw away).
      val plan = df.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        s"storage-partitioned join still shuffles:\n$plan")
      df
    }),

    // PARAMETERIZED SQL (named parameter markers, the injection-safe
    // production query surface): the statement text carries :cap/:excl
    // markers and the values arrive as a typed args map — the oracle is
    // the same query with the literals inlined, so the gate pins that
    // binding is positionally and type-faithful.
    "q345_param_sql" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderstatus, count(*) AS n,
          |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |            AS BIGINT) AS price_c_sum
          |FROM orders
          |WHERE o_totalprice < :cap AND o_orderstatus <> :excl
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
        Map("cap" -> 150000.0, "excl" -> "Z"))
    }),

    // HYPERBALL / ANF neighborhood function (Boldi-Vigna): per node the
    // ≤2-hop ball size over the node lattice — exact counts from the
    // bounded reach-pair closure (the gate lane), and the mergeable-HLL
    // sketch rounds next to them (the 100 TB lane: one join + one
    // hll_union_agg per hop, constant memory per node). The q87 device:
    // the oracle pins the exact counts and the bound flag; at these ball
    // sizes the sparse-mode sketch is exact, so sketch_ok = TRUE is a
    // hard cross-engine agreement, not a hope.
    "q346_neighborhood" -> ((s, dir) => {
      val n = Derive.nodes(s, dir)
      GraphOps.neighborhoodFunction(n, Derive.edges(n))
        .orderBy("node")
    }),

    // GROUPED aggregate pushdown (q341's proof, grouped — round-11
    // verdict #3): under a key-pure layout every keyed file's whole-file
    // stats ARE one group's exact partials, so GROUP BY the partition
    // key — the "count/min/max per tenant" query a partitioned store
    // answers daily — reads ZERO data bytes: one (key, partials…) row
    // per file off the manifest, Spark folds per key. require() pins
    // that the grouped lane (not the data scan) answered; the oracle
    // proves the manifest-derived groups equal the data's. The spec adds
    // the stronger truncate-to-header proof.
    "q347_dsv2_group_agg" -> ((s, dir) => {
      val path = rtPath("dsv2gagg")
      t(s, dir, "orders").select(
          (col("o_custkey") % 16).cast("long").as("k"),
          col("o_orderkey"),
          when(col("o_orderkey") % 10 === 0, lit(null).cast("long"))
            .otherwise(col("o_custkey")).as("o_custkey"))
        .repartition(16, col("k"))
        .write.format("graft.sources.v2.GraftCsv").option("partition_col", "k")
        .mode("overwrite").save(path)
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_custkey", org.apache.spark.sql.types.LongType)))
      val df = s.read.schema(sch).format("graft.sources.v2.GraftCsv").load(path)
        .groupBy("k")
        .agg(count(lit(1)).as("n"), count(col("o_custkey")).as("n_cust"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("k")
      // ≤16-row eager checkpoint: one execution (the q336 discipline)
      val out = Materialize.cut(df)
      require(GraftCsv.scans(df).map(_.scan).exists {
          case a: GraftCsvAggScan => a.pushedDesc.contains("group_by=k")
          case _ => false
        },
        "grouped aggregate pushdown was not accepted — the scan read data files")
      out
    }),

    // STATISTICS-driven join strategy (SupportsReportStatistics — round-11
    // verdict #4): without reported stats a DSv2 relation sizes at
    // spark.sql.defaultSizeInBytes = Long.MaxValue and a 25-row dim joins
    // by sort-merge; with exact manifest rowCount + on-disk bytes the
    // planner broadcasts it. Both directions are require'd on the SAME
    // query: under the default 10 MB threshold the reported few-hundred-
    // byte dim plans BHJ; with the threshold forced below the reported
    // size the identical query plans SMJ — the flip proves a finite,
    // specific size is read off the scan, not a lucky default. AQE is off
    // in the gate session so the STATIC planner decision is the whole
    // story. Result identity both ways; oracle is the plain join.
    "q348_dsv2_stats_join" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.adaptive.enabled", "false")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
      val fmt = "graft.sources.v2.GraftCsv"
      val pd = rtPath("statsdim"); val pf = rtPath("statsfact")
      t(s2, dir, "nation").select(col("n_nationkey").cast("long").as("k"),
          col("n_name"))
        .coalesce(1).write.format(fmt).mode("overwrite").save(pd)
      t(s2, dir, "lineitem").select(
          (col("l_suppkey") % 25).cast("long").as("k"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"))
        .repartition(8)
        .write.format(fmt).mode("overwrite").save(pf)
      val sd = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_name", org.apache.spark.sql.types.StringType)))
      val sf = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("price_c", org.apache.spark.sql.types.LongType)))
      def joined = s2.read.schema(sf).format(fmt).load(pf)
        .join(s2.read.schema(sd).format(fmt).load(pd), "k")
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_li"), sum("price_c").as("rev_c"))
        .orderBy("n_name")
      val p1 = joined.queryExecution.executedPlan.toString
      require(p1.contains("BroadcastHashJoin"),
        s"reported stats did not enable a broadcast join:\n$p1")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
      val p2 = joined.queryExecution.executedPlan.toString
      require(p2.contains("SortMergeJoin") && !p2.contains("BroadcastHashJoin"),
        s"threshold below the reported size must plan SMJ:\n$p2")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
      joined
    }),

    // SHARDED JDBC sink (round-11 verdict #2 — q338's 186× at 100× was
    // the suite's only super-linear row, honestly attributed to ONE
    // embedded Derby endpoint): the same full-orders INSERT stream hash-
    // routed across 8 independent on-disk Derby databases — 8 lock
    // spaces, 8 shallower B-trees, one pass over the data with one
    // transaction per Spark partition. Read-back is the union of all
    // shards; the oracle (identical to q338's) proves the sharded write
    // lost and duplicated nothing.
    "q349_sink_jdbc_sharded" -> ((s, dir) => {
      val base = rtPath("q349_derby")
      // shard-count knob for scale sessions (16-shard 100× row); the
      // oracle is shard-count-invariant (union read-back)
      val nShards = sys.env.get("SPARK_GRAFT_JDBC_SHARDS").map(_.toInt).getOrElse(8)
      val urls = (0 until nShards).map(i => s"jdbc:derby:$base/shard$i;create=true")
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
      // key routing (round-12 verdict #5): balance is data-determined by
      // hash(o_orderkey), not inherited from the upstream partitioning
      Sinks.writeJdbcSharded(src, urls, "orders_sink", shardKey = "o_orderkey")
      Sinks.readJdbcSharded(s, urls, "orders_sink")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("price_c")).as("price_c_sum"),
          sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderstatus")
    }),

    // STORAGE-PARTITIONED JOIN UNDER SKEW (q344's contract meeting q336's
    // problem — round-11 verdict #6): 75% of the fact's rows carry one
    // key. Plain key-grouped planning merges ALL of that key's files into
    // one task — the zero-shuffle join would serialize on the skewed key
    // at 100 TB. The fact is written with a per-key salt (the dominant
    // key's rows spread over 16 writer tasks → 16 key-pure files; tail
    // keys 1 file each) and the join runs under partially-clustered
    // distribution: Spark keeps the dominant key's splits as SEPARATE
    // tasks and replicates the dim's matching group across them. Two
    // in-plan requires: still zero hashpartitioning exchanges, AND more
    // join tasks than key values (proof the splits were not merged — a
    // plain SPJ plans exactly |keys|). Oracle is the plain join.
    "q350_spj_skew" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s2.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s2.conf.set("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val fmt = "graft.sources.v2.GraftCsv"
      val pa = rtPath("spjskew_li"); val pb = rtPath("spjskew_ord")
      val skewKey = when(col("l_orderkey") % 4 < 3, lit(0L))
        .otherwise(col("l_orderkey") % 29 + 1).cast("long")
      t(s2, dir, "lineitem").select(skewKey.as("k"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"))
        // salt ONLY the dominant key across 16 writer tasks: its file
        // count (= split count) is what partially-clustered parallelism
        // feeds on; tail keys stay one file each
        .withColumn("salt", when(col("k") === 0L,
          pmod(hash(col("price_c")), lit(16))).otherwise(lit(0)))
        .repartition(32, col("k"), col("salt")).drop("salt")
        // no_cluster: this layout OWNS its routing — the salt spreads the
        // dominant key across tasks on purpose; the write's default
        // required clustering would collapse those splits back into one
        .write.format(fmt).option("partition_col", "k")
        .option("no_cluster", "true")
        .mode("overwrite").save(pa)
      t(s2, dir, "orders").select(
          (when(col("o_orderkey") % 4 < 3, lit(0L))
            .otherwise(col("o_orderkey") % 29 + 1)).cast("long").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n_ord"))
        .repartition(30, col("k"))
        .write.format(fmt).option("partition_col", "k")
        .mode("overwrite").save(pb)
      val sa = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("price_c", org.apache.spark.sql.types.LongType)))
      val sb = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_ord", org.apache.spark.sql.types.LongType)))
      val a = s2.read.schema(sa).format(fmt).load(pa)
      val b = s2.read.schema(sb).format(fmt).load(pb)
      val j = a.join(b, "k")
      // split-group proof: a plain SPJ plans exactly one task per key
      // value (30 here); partially-clustered must keep the dominant
      // key's ~16 splits as separate tasks (planning-only read)
      val nParts = j.rdd.getNumPartitions
      require(nParts > 30,
        s"partially-clustered SPJ merged the skewed key's splits: $nParts tasks")
      val df = j.groupBy("k")
        .agg(count(lit(1)).as("n_li"), sum("price_c").as("rev_c"),
          min("n_ord").as("n_ord"))
        .orderBy("k")
      // Static-planning require (the q344 rationale): partially-clustered
      // SPJ split-grouping and the exchange-free join subtree are both
      // decided before execution — the former ≤30-row steering collect()
      // re-executed the whole skewed join only to finalize AQE.
      val plan = df.queryExecution.executedPlan.toString
      // the JOIN subtree must be exchange-free (that is the SPJ win: the
      // fact never shuffles). The re-aggregate ABOVE the join shuffles by
      // design — partially-clustered output has the same key in several
      // tasks, so the final agg exchanges ≤|keys| partial rows per task,
      // exactly what a map-side combine emits; scope the require below
      // the join node.
      val finalSection = plan.split("== Initial Plan ==").head
      val smjAt = finalSection.indexOf("SortMergeJoin")
      require(smjAt >= 0, s"expected a sort-merge SPJ:\n$plan")
      require(!finalSection.substring(smjAt).contains("Exchange hashpartitioning"),
        s"skewed storage-partitioned join shuffled its inputs:\n$plan")
      df
    }),

    // RUNTIME file filtering inside the custom source (the FOURTH runtime
    // pruning mechanism, after q333's Bloom join, q336's AQE skew split,
    // and q339's hive-partition DPP — this one we implement, not just
    // consume): GraftCsvScan names its numeric columns runtime-filterable
    // (SupportsRuntimeFiltering), so the q339 query shape — dim filter on
    // n_regionkey, NOT on the join key — makes Spark's PartitionPruning
    // rule plant a dynamicpruning IN-subquery on OUR scan, evaluate it
    // off the join's reused broadcast, and hand the surviving keys to
    // scan.filter(); the file list re-prunes through the write-time
    // manifest (min/max ranges + blooms) before a single reader opens.
    // The fact is range-partitioned on the key so file ranges are
    // disjoint and the IN-set provably skips files. Two requires: the
    // dynamicpruning filter is ON the scan in the executed plan, and the
    // runtime-filtered scan node read strictly fewer files than exist.
    // Oracle is the plain join — runtime pruning must drop nothing.
    "q351_dsv2_runtime_filter" -> ((s, dir) => {
      val fmt = "graft.sources.v2.GraftCsv"
      val path = rtPath("dsv2rt")
      t(s, dir, "lineitem").select(
          (col("l_suppkey") % 25).cast("long").as("k"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"))
        .repartitionByRange(8, col("k"))
        .write.format(fmt).mode("overwrite").save(path)
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("price_c", org.apache.spark.sql.types.LongType)))
      val fact = s.read.schema(sch).format(fmt).load(path)
      val dim = t(s, dir, "nation").filter(col("n_regionkey") === 0)
        .select(col("n_nationkey").cast("long").as("k"), col("n_name"))
      // broadcast the DIM explicitly: DPP's reuseBroadcastOnly contract
      // evaluates the IN-set off the join's own broadcast, so the
      // FILTERING side must be the build side — at gate SF the fact is
      // small enough that the planner would otherwise build on IT and
      // the pruning filter would degrade to a true literal (measured
      // during the build; at 100 TB the hint matches what size stats
      // would pick anyway)
      val df = fact.join(broadcast(dim), "k")
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_li"), sum("price_c").as("rev_c"))
        .orderBy("n_name")
      // ≤5-row eager checkpoint: one execution (the q336 discipline)
      val out = Materialize.cut(df)
      val plan = df.queryExecution.executedPlan.toString
      require(plan.toLowerCase.contains("dynamicpruning"),
        s"no dynamicpruning runtime filter reached the custom scan:\n$plan")
      val counts = GraftCsv.scans(df).filter(_.runtimeFilters.nonEmpty)
        .map(GraftCsv.fileCounts)
      require(counts.nonEmpty && counts.forall { case (kept, total) => kept > 0 && kept < total },
        s"runtime re-planning did not skip files: (kept, total) per scan $counts")
      out
    }),

    // QUANTILE SKETCH with a proven rank bound (the q87 exact+bound
    // device applied to order statistics): percentile_approx — the
    // mergeable GK summary a 100 TB percentile runs on (map-side partials
    // merge; no global sort) — probed at p50/p90/p99 of the price lane,
    // its published rank guarantee (|rank − q·n| ≤ n/accuracy) VERIFIED
    // in exact cleared-integer lanes and emitted as a flag the oracle
    // pins TRUE; the exact ⌈q·n⌉-rank values ride alongside off the
    // reduced distinct-value domain. A sketch outside its bound flips
    // the hash.
    "q352_quantile_sketch" -> ((s, dir) =>
      ProfileOps.quantileSketch(
        t(s, dir, "lineitem").select(
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c")), "c")
        .orderBy("q_ppm")),

    // WINDOW GROUP LIMIT (Spark 3.5+'s rank-filter pushdown): a
    // row_number() ≤ k predicate over a window lets the planner insert
    // WindowGroupLimit — each shuffle partition keeps only its per-group
    // top-k rows BEFORE the full window sort materializes. At 100 TB
    // "top 3 per group" without this is a full per-group sort of
    // everything; with it the map side already discards all but k rows
    // per group per partition. require() pins the operator in-plan; the
    // oracle replays the same ranked filter. Total tie-break
    // (price desc, orderkey, linenumber) makes the row set deterministic.
    "q353_window_group_limit" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag"), col("l_linestatus"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"),
        col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy("l_returnflag", "l_linestatus")
        .orderBy(col("price_c").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
      val df = li.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .withColumn("rn", col("rn").cast("long"))
        .orderBy("l_returnflag", "l_linestatus", "rn")
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("WindowGroupLimit"),
        s"rank filter did not plan a WindowGroupLimit:\n$plan")
      df
    }),

    // OBSERVED METRICS (Dataset.observe): the data-quality counters a
    // production ingest keeps — row count, byte mass, null-language
    // count, max id — collected as accumulators RIDING the pipeline's
    // own action, zero extra passes over the data (at 100 TB a separate
    // metrics query is a second full scan). The gate result is the
    // metrics row itself; the oracle recomputes the same aggregates from
    // the table, so any drift between the piggy-backed counters and the
    // ground truth flips the hash.
    "q354_observed_metrics" -> ((s, dir) => {
      val obs = org.apache.spark.sql.Observation()
      val staged = t(s, dir, "documents").observe(obs,
        count(lit(1)).as("n_docs"),
        sum(octet_length(col("text")).cast("long")).as("bytes"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("null_lang"),
        max(col("doc_id")).as("max_id"))
      // the action the metrics ride: the corpus language profile (a real
      // pipeline output — the observe node adds no pass and no shuffle)
      staged.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      s.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(m("n_docs"), m("bytes"), m("null_lang"),
          m("max_id"))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_docs",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("bytes",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("null_lang",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("max_id",
            org.apache.spark.sql.types.LongType))))
    }),

    // RECURSIVE CTE (Spark 4's WITH RECURSIVE — the UnionLoop execution
    // surface): hop-bounded BFS from node 0 over a deterministic 25-node
    // functional graph derived from nation, as IDENTICAL statement text
    // in both engines. Every prior closure oracle in the suite ran WITH
    // RECURSIVE on the DuckDB side only; this gate runs the recursion in
    // Spark itself and pins min-hop distances — the iterative-plan
    // surface (frontier expansion, loop termination on empty step)
    // exercised end to end.
    "q355_recursive_cte" -> ((s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("nation")
      s.sql(SharedSql.recursiveBfs)
    }),

    // TOP-N pushdown into the custom source (the pagination query at
    // 100 TB): ORDER BY key LIMIT 100 over a range-partitioned layout —
    // the scan drops every file whose whole [min, max] range provably
    // sorts after ≥ 100 other rows, so the answer comes from the first
    // file or two; Spark's own TakeOrdered re-sorts the survivors, which
    // is why PARTIAL pushdown can prune aggressively yet never change a
    // value. Unique keys make the row set deterministic. Two requires:
    // the pushdown was accepted, and strictly fewer files than exist
    // were read. Oracle is the same ORDER BY ... LIMIT.
    "q356_dsv2_topn" -> ((s, dir) => {
      val fmt = "graft.sources.v2.GraftCsv"
      val path = rtPath("dsv2topn")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
        .repartitionByRange(8, col("k"))
        .write.format(fmt).mode("overwrite").save(path)
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("price_c", org.apache.spark.sql.types.LongType)))
      val df = s.read.schema(sch).format(fmt).load(path)
        .orderBy("k").limit(100)
      // ≤100-row eager checkpoint: one execution (the q336 discipline)
      val out = Materialize.cut(df)
      val scans = GraftCsv.scans(df)
      require(scans.map(_.scan).exists {
          case g: GraftCsvScan => g.topNPush.exists(_._1.name == "k")
          case _ => false
        },
        s"top-n pushdown was not accepted: ${scans.map(_.scan.description)}")
      val counts = scans.map(GraftCsv.fileCounts)
      require(counts.nonEmpty && counts.forall { case (kept, total) => kept > 0 && kept < total },
        s"top-n pruning read every file: (kept, total) per scan $counts")
      out
    }),

    // LIMIT pushdown (the "first page of an unordered table" probe): a
    // bare LIMIT over the custom source reads only a file prefix whose
    // manifest row counts already cover the limit — at 100 TB that is
    // one file opened instead of all of them. An unordered LIMIT's rows
    // are nondeterministic, so the gate pins what IS deterministic: the
    // row COUNT after Spark's own re-applied limit, plus the two
    // requires (pushdown accepted; fewer files than exist read).
    "q357_dsv2_limit" -> ((s, dir) => {
      val fmt = "graft.sources.v2.GraftCsv"
      val path = rtPath("dsv2limit")
      t(s, dir, "orders").select(col("o_orderkey").as("k"))
        .repartition(8)
        .write.format(fmt).mode("overwrite").save(path)
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))
      val limited = s.read.schema(sch).format(fmt).load(path).limit(500)
      val df = limited.agg(count(lit(1)).as("n"))
      // 1-row eager checkpoint: one execution (the q336 discipline)
      val out = Materialize.cut(df)
      val scans = GraftCsv.scans(df)
      require(scans.map(_.scan).exists {
          case g: GraftCsvScan => g.limitPush.contains(500)
          case _ => false
        },
        s"limit pushdown was not accepted: ${scans.map(_.scan.description)}")
      val counts = scans.map(GraftCsv.fileCounts)
      require(counts.nonEmpty && counts.forall { case (kept, total) => kept > 0 && kept < total },
        s"limit pruning read every file: (kept, total) per scan $counts")
      out
    }),

    // ELEVENTH streaming gate: the LEFT OUTER stream-stream join — the
    // one supported join shape the suite lacked. Outer (null-padded)
    // rows emit on state EVICTION, not on data arrival: a purchase with
    // no view in its lookback can only surface once the view-side
    // watermark has passed its whole window, which is why the staged
    // stream ends with a sentinel row BOTH branches admit (it advances
    // both watermarks past every real row; q216's inner gate needs no
    // sentinel because inner matches emit on arrival). The batch oracle
    // is the plain LEFT JOIN with the -1 null lane.
    "q358_stream_outer_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        expr("timestamp_micros(ts div 1000)").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      streaming.StreamGate.attrOuterGate(s, ev, rtPath("q358_stream"))
        .orderBy("purchase_id", "view_id")
    }),

    // WRITE-SIDE distribution requirement (RequiresDistributionAndOrdering):
    // the keyed write itself asks Spark to cluster rows by the partition
    // column, so the key-pure layout no longer depends on the caller
    // remembering a repartition — the input here is deliberately
    // SCATTERED (round-robin 16 ways; without the requested shuffle each
    // task would see every key and land ~24×16 files). require() pins
    // exactly one key-pure file per key — the planner inserted the
    // clustering exchange. The read-back then answers through the
    // grouped manifest pushdown over that layout; plain-SQL oracle.
    "q359_dsv2_write_distribution" -> ((s, dir) => {
      val fmt = "graft.sources.v2.GraftCsv"
      val path = rtPath("dsv2wdist")
      t(s, dir, "orders").select((col("o_custkey") % 24).cast("long").as("k"),
          col("o_orderkey"))
        .repartition(16)
        .write.format(fmt).option("partition_col", "k")
        .mode("overwrite").save(path)
      val files = graft.sources.v2.GraftCsv.listDataFiles(path)
      require(files.size == 24,
        s"write-side clustering must land one key-pure file per key, got ${files.size}")
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType)))
      s.read.schema(sch).format(fmt).load(path)
        .groupBy("k")
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
        .orderBy("k")
    }),

    // CATALOG SQL surface (TableCatalog over the custom source): the full
    // DDL/DML lifecycle a database user expects — CREATE NAMESPACE,
    // CREATE TABLE … PARTITIONED BY (k), INSERT INTO, METADATA-ONLY
    // DELETE, SELECT — resolving through `spark.sql.catalog.graft`. The
    // PARTITIONED BY declaration flows into the INSERT as the keyed
    // layout (one key-pure file per key via the write's own required
    // clustering), which is exactly what licenses the DELETE to drop
    // whole files from manifest stats alone: require() pins 16 → 12
    // files with zero rows rewritten. Oracle is the plain filtered
    // aggregate over the source table.
    "q360_catalog_sql" -> ((s, dir) => {
      val s2 = s.newSession()
      val wh = rtPath("graft_wh")
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.v2.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      t(s2, dir, "orders").createOrReplaceTempView("orders_src")
      s2.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
      s2.sql("""CREATE TABLE graft.gate.orders_t (k BIGINT, price_c BIGINT)
               |PARTITIONED BY (k)""".stripMargin)
      s2.sql("""INSERT INTO graft.gate.orders_t
               |SELECT o_orderkey % 16 AS k,
               |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
               |FROM orders_src""".stripMargin)
      s2.sql("DELETE FROM graft.gate.orders_t WHERE k >= 12")
      val files = graft.sources.v2.GraftCsv.listDataFiles(s"$wh/gate/orders_t")
      require(files.size == 12,
        s"metadata-only delete must leave 12 of 16 key-pure files, got ${files.size}")
      s2.sql("""SELECT k, count(*) AS n, CAST(sum(price_c) AS BIGINT) AS price_sum
               |FROM graft.gate.orders_t GROUP BY k ORDER BY k""".stripMargin)
    }),

    // STREAMING read of the custom source (MicroBatchStream): the source
    // story completed — batch read, batch write, catalog DDL, and now
    // incremental ingest through the SAME pruning/pushdown reader. An
    // offset is the file SET visible at capture (the two-phase write
    // commit makes files atomic units), so each micro-batch reads
    // exactly the newly-landed files. Half the data is staged before the
    // stream starts, half is APPENDED while it runs — require() pins ≥2
    // micro-batches (incremental offsets, not one catch-all batch); the
    // update-mode aggregate converges through the keyed MERGE and must
    // equal the plain batch aggregate over everything.
    "q361_dsv2_stream" -> ((s, dir) => {
      val fmt = "graft.sources.v2.GraftCsv"
      val in = rtPath("dsv2stream_in")
      val ck = rtPath("dsv2stream_ck")
      val src = t(s, dir, "orders").select(
        (col("o_orderkey") % 8).cast("long").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
      // stage the even-cent half before the stream starts
      src.filter(col("price_c") % 2 === 0)
        .repartition(2).write.format(fmt).mode("append").save(in)
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("price_c", org.apache.spark.sql.types.LongType)))
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      // AtomicReference, not a plain var: written on the micro-batch
      // thread, read on the main thread after stop() — the explicit
      // happens-before (round-12 ADVICE #4)
      val state = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
      val q = s.readStream.schema(sch).format(fmt).load(in)
        .groupBy("k")
        .agg(count(lit(1)).as("n"), sum("price_c").as("sum_c"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ck)
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) nBatches.incrementAndGet()
          val snap = Materialize.cut(b)
          val prev = state.get()
          state.set(if (prev == null) snap
            else Materialize.cut(snap.unionByName(prev.join(snap, Seq("k"), "left_anti"))))
          ()
        }.start()
      q.processAllAvailable()
      // append the odd half WHILE the stream runs: the next offset must
      // pick up exactly the new files
      src.filter(col("price_c") % 2 =!= 0)
        .repartition(2).write.format(fmt).mode("append").save(in)
      q.processAllAvailable()
      q.stop()
      require(nBatches.get() >= 2,
        s"incremental offsets should yield >= 2 data micro-batches, got ${nBatches.get()}")
      state.get().orderBy("k")
    }),

    // ADMISSION CONTROL on the DSv2 streaming read (round-12 verdict #1 —
    // the suite's one non-waived `weak`): a CATCH-UP START, the most
    // common production event, must not plan the whole backlog into one
    // micro-batch. The full table is staged BEFORE the stream starts
    // (12 files); `maxFilesPerTrigger=3` flows through
    // SupportsAdmissionControl.getDefaultReadLimit, so discovery admits
    // ≤3 files per trigger and the backlog drains in ≥4 BOUNDED
    // micro-batches — require()d from the file count each batch reports
    // in the query's progress, alongside the companion redesign this gate
    // rides on: offsets are now constant-size generation cursors into a
    // discovery log (the round-12 file-list offset grew O(table) per
    // trigger). Oracle = the one-shot batch aggregate: rate limiting
    // changes pacing, never sums.
    "q362_stream_admission" -> ((s, dir) => {
      val fmt = "graft.sources.v2.GraftCsv"
      val in = rtPath("admstream_in")
      val ck = rtPath("admstream_ck")
      t(s, dir, "orders").select(
          (col("o_orderkey") % 8).cast("long").as("k"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
        .repartition(12).write.format(fmt).mode("append").save(in)
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("price_c", org.apache.spark.sql.types.LongType)))
      val state = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
      val q = s.readStream.schema(sch).format(fmt)
        .option("maxFilesPerTrigger", "3").load(in)
        .groupBy("k")
        .agg(count(lit(1)).as("n"), sum("price_c").as("sum_c"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ck)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val snap = Materialize.cut(b)
          val prev = state.get()
          state.set(if (prev == null) snap
            else Materialize.cut(snap.unionByName(prev.join(snap, Seq("k"), "left_anti"))))
          ()
        }.start()
      q.processAllAvailable()
      // committed offsets must be compact generation cursors, not file lists
      val lastOff = q.lastProgress.sources.apply(0).endOffset
      require(lastOff != null && lastOff.length <= 32 && lastOff.contains("gen"),
        s"offset must be a constant-size generation cursor, got: $lastOff")
      val batches = GraftCsv.batchFiles(q)
      q.stop()
      require(batches.length >= 4,
        s"12-file backlog under maxFilesPerTrigger=3 must drain in >= 4 micro-batches, got $batches")
      require(batches.forall(_ <= 3),
        s"admission control exceeded maxFilesPerTrigger: $batches")
      state.get().orderBy("k")
    }),

    // COPY-ON-WRITE row-level DELETE on the catalog table (round-12
    // verdict #3 — "delete one user's rows", the shape q360's
    // metadata-only precondition declines): the predicate crosses file
    // boundaries, so execution goes three ways PER FILE from manifest
    // stats alone — all-match files DROP (metadata-only, zero rows
    // read), no-match files stay untouched, and ONLY the mixed files are
    // rewritten, one Spark task per file, with stats/bloom/keys metadata
    // regenerated. require()s pin both lanes (2 metadata drops for
    // k >= 14, all 14 remaining key files rewritten). Oracle is the
    // complement-filtered aggregate over the source table.
    "q363_catalog_cow_delete" -> ((s, dir) => {
      val s2 = s.newSession()
      val wh = rtPath("graft_wh363")
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.v2.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      t(s2, dir, "orders").createOrReplaceTempView("orders_src")
      s2.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
      s2.sql("""CREATE TABLE graft.gate.orders_cow (k BIGINT, price_c BIGINT)
               |PARTITIONED BY (k)""".stripMargin)
      s2.sql("""INSERT INTO graft.gate.orders_cow
               |SELECT o_orderkey % 16 AS k,
               |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
               |FROM orders_src""".stripMargin)
      s2.sql("DELETE FROM graft.gate.orders_cow WHERE price_c < 10000000 OR k >= 14")
      val (dropped, rewritten, _) = graft.sources.v2.GraftCsv.lastDeleteStats.get()
      require(dropped == 2,
        s"k >= 14 covers 2 key-pure files: metadata-only drops, got $dropped")
      require(rewritten == 14,
        s"every remaining key file is price-mixed: expected 14 rewrites, got $rewritten")
      val files = graft.sources.v2.GraftCsv.listDataFiles(s"$wh/gate/orders_cow")
      require(files.size == 14, s"expected 14 surviving files, got ${files.size}")
      s2.sql("""SELECT k, count(*) AS n, CAST(sum(price_c) AS BIGINT) AS price_sum
               |FROM graft.gate.orders_cow GROUP BY k ORDER BY k""".stripMargin)
    }),

    // KEY-HASH SHARD ROUTING under a deliberately narrow input
    // partitioning (round-12 verdict #5: pid-mod-N routing inherited the
    // upstream partitioning — a coalesced input would feed 3 of 8 shards
    // and flood those three). Rows route by a mixed hash of o_orderkey,
    // so shard balance is DATA-determined: the gate coalesces the input
    // to 3 partitions ON PURPOSE, then asserts every shard is fed and
    // max ≤ 1.5× mean. Oracle (q349's shape) proves the union read-back
    // lost and duplicated nothing.
    "q364_sink_jdbc_balance" -> ((s, dir) => {
      val base = rtPath("q364_derby")
      val urls = (0 until 8).map(i => s"jdbc:derby:$base/shard$i;create=true")
      val src = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
        .coalesce(3) // the adversarial upstream partitioning
      Sinks.writeJdbcSharded(src, urls, "orders_bal", shardKey = "o_orderkey")
      // per-shard balance counts run as CONCURRENT jobs (guide §2.6 —
      // independent endpoints; 8 serial one-task count jobs were pure
      // driver-gap wall). Values and the requires below are unchanged.
      val counts = {
        val res = new Array[Long](urls.length)
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val ts = urls.zipWithIndex.map { case (u, i) =>
          val th = new Thread(() => {
            try res(i) = Sinks.readJdbc(s, u, "orders_bal").count()
            catch { case e: Throwable => errs.add(e) }
          }, s"graft-q364-count-$i")
          th.start(); th
        }
        ts.foreach(_.join())
        if (!errs.isEmpty) throw errs.peek()
        res.toSeq
      }
      val mean = counts.sum.toDouble / counts.length
      require(counts.forall(_ > 0), s"key routing left a shard empty: $counts")
      require(counts.max <= 1.5 * mean,
        s"shard imbalance under key routing: $counts (mean $mean)")
      Sinks.readJdbcSharded(s, urls, "orders_bal")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("price_c")).as("price_c_sum"),
          sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderstatus")
    })
  )

  /** q355's WITH RECURSIVE text — ONE string, both engines (the
    * identical-statement-text device): a 25-node functional graph (two
    * out-edges per node, affine maps mod 25), 6-hop bounded BFS from
    * node 0, min hop per reached node. The UNION ALL recursion is
    * path-enumeration bounded by branching^depth = 2^6 per seed — the
    * gate-sized shape; the production frontier pattern (only improved
    * nodes expand) is q331/q335's lane. */
  object SharedSql {
    val recursiveBfs: String =
      """WITH RECURSIVE e AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS u,
        |         CAST((n_nationkey * 7 + 3) % 25 AS BIGINT) AS v FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS BIGINT) AS u,
        |         CAST((n_nationkey * 11 + 5) % 25 AS BIGINT) AS v FROM nation
        |),
        |r(v, d) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT e.v, CAST(r.d + 1 AS BIGINT) FROM r JOIN e ON e.u = r.v
        |  WHERE r.d < 6
        |)
        |SELECT r.v AS v, min(r.d) AS hops
        |FROM r GROUP BY r.v ORDER BY 1""".stripMargin
  }

  /** The ASCII-explicit GPT-2-ish pretokenizer alternation shared by
    * q294's engine and oracle sides (single-quote-free for SQL inlining
    * aside from the contraction branch, which the oracle escapes). */
  private val PretokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ']+| +"

  /** q296's shared text: TPC-H Q22's shape over the columns this corpus
    * has — nation keys stand in for phone prefixes, and the
    * above-average-balance predicate is the CLEARED-DENOMINATOR integer
    * form (bal_c · count > sum_c) so no order-dependent double average
    * ever crosses an engine boundary. */
  /** TPC-H Q2's shape — correlated min-cost scalar subquery repeating
    * the region join; partsupp derived from lineitem (shared CTE). */
  private lazy val tpchQ2Sql: String =
    """WITH partsupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ps_supplycost_c
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT p.p_partkey, ps.ps_suppkey, s.s_name, n.n_name, ps.ps_supplycost_c
      |FROM part p, partsupp ps, supplier s, nation n, region r
      |WHERE p.p_partkey = ps.ps_partkey
      |  AND s.s_suppkey = ps.ps_suppkey
      |  AND s.s_nationkey = n.n_nationkey
      |  AND n.n_regionkey = r.r_regionkey
      |  AND r.r_name = 'EUROPE'
      |  AND p.p_size BETWEEN 10 AND 20
      |  AND ps.ps_supplycost_c = (
      |    SELECT min(ps2.ps_supplycost_c)
      |    FROM partsupp ps2, supplier s2, nation n2, region r2
      |    WHERE ps2.ps_partkey = p.p_partkey
      |      AND s2.s_suppkey = ps2.ps_suppkey
      |      AND s2.s_nationkey = n2.n_nationkey
      |      AND n2.n_regionkey = r2.r_regionkey
      |      AND r2.r_name = 'EUROPE')
      |ORDER BY p.p_partkey, ps.ps_suppkey""".stripMargin

  /** TPC-H Q4's shape — EXISTS with correlated equi + non-equi conjuncts. */
  private lazy val tpchQ4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE EXISTS (SELECT * FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q11's shape — group value vs global scalar fraction, cleared
    * denominators in DECIMAL(38,0) lanes. */
  private lazy val tpchQ11Sql: String =
    """WITH ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |             * CAST(round(l_quantity) AS BIGINT)) AS val_c
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT ps.ps_partkey, CAST(sum(ps.val_c) AS BIGINT) AS value_c
      |FROM ps, supplier s, nation n
      |WHERE ps.ps_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
      |  AND n.n_name IN ('NATION_3', 'NATION_8', 'NATION_13')
      |GROUP BY ps.ps_partkey
      |HAVING CAST(sum(ps.val_c) AS DECIMAL(38,0)) * 1000 >
      |       CAST((SELECT sum(ps2.val_c)
      |             FROM ps ps2, supplier s2, nation n2
      |             WHERE ps2.ps_suppkey = s2.s_suppkey
      |               AND s2.s_nationkey = n2.n_nationkey
      |               AND n2.n_name IN ('NATION_3', 'NATION_8', 'NATION_13'))
      |            AS DECIMAL(38,0))
      |ORDER BY value_c DESC, ps_partkey""".stripMargin

  /** TPC-H Q18's shape — IN over a grouped-HAVING subquery. */
  private lazy val tpchQ18Sql: String =
    """SELECT c.c_custkey, o.o_orderkey,
      |       CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
      |FROM customer c, orders o, lineitem l
      |WHERE o.o_orderkey IN (
      |        SELECT l_orderkey FROM lineitem
      |        GROUP BY l_orderkey
      |        HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 250)
      |  AND c.c_custkey = o.o_custkey
      |  AND o.o_orderkey = l.l_orderkey
      |GROUP BY c.c_custkey, o.o_orderkey
      |ORDER BY total_qty DESC, o.o_orderkey""".stripMargin

  /** TPC-H Q16's shape — NOT IN (null-aware anti-join) + count(DISTINCT). */
  private lazy val tpchQ16Sql: String =
    """WITH partsupp AS (
      |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      |  FROM lineitem)
      |SELECT p.p_brand, p.p_type, p.p_size,
      |       count(DISTINCT ps.ps_suppkey) AS supplier_cnt
      |FROM partsupp ps, part p
      |WHERE p.p_partkey = ps.ps_partkey
      |  AND p.p_brand <> 'Brand#13'
      |  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      |  AND ps.ps_suppkey NOT IN (
      |        SELECT s_suppkey FROM supplier WHERE s_acctbal < 500.0)
      |GROUP BY p.p_brand, p.p_type, p.p_size
      |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size""".stripMargin

  /** TPC-H Q19's shape — disjunctive OR-of-ANDs join predicate. */
  private lazy val tpchQ19Sql: String =
    """SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |             * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_cc,
      |       count(*) AS n
      |FROM lineitem l, part p
      |WHERE p.p_partkey = l.l_partkey
      |  AND ((p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
      |        AND l.l_quantity >= 1 AND l.l_quantity <= 21)
      |    OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 30
      |        AND l.l_quantity >= 10 AND l.l_quantity <= 30)
      |    OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 50
      |        AND l.l_quantity >= 20 AND l.l_quantity <= 40))""".stripMargin

  /** TPC-H Q3's shape — the 3-table shipping-priority join with opposed
    * date predicates on two tables, grouped per order, top-10 by revenue
    * under a total order (o_orderkey tiebreak). Centi-cent lanes. */
  private lazy val tpchQ3Sql: String =
    """SELECT o.o_orderkey,
      |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_cc,
      |       o.o_orderpriority
      |FROM customer c, orders o, lineitem l
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND c.c_custkey = o.o_custkey
      |  AND l.l_orderkey = o.o_orderkey
      |  AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
      |  AND CAST(l.l_shipdate AS DATE) > DATE '1998-03-15'
      |GROUP BY o.o_orderkey, o.o_orderpriority
      |ORDER BY revenue_cc DESC, o.o_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5's shape — the 6-table local-supplier-volume join whose
    * distinguishing constraint is the NON-hierarchical c_nationkey =
    * s_nationkey cycle edge. Centi-cent lanes. */
  private lazy val tpchQ5Sql: String =
    """SELECT n.n_name,
      |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_cc
      |FROM customer c, orders o, lineitem l, supplier s, nation n, region r
      |WHERE c.c_custkey = o.o_custkey
      |  AND l.l_orderkey = o.o_orderkey
      |  AND l.l_suppkey = s.s_suppkey
      |  AND c.c_nationkey = s.s_nationkey
      |  AND s.s_nationkey = n.n_nationkey
      |  AND n.n_regionkey = r.r_regionkey
      |  AND r.r_name = 'ASIA'
      |  AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
      |GROUP BY n.n_name
      |ORDER BY revenue_cc DESC, n.n_name""".stripMargin

  /** TPC-H Q6's shape — the pure scan-and-reduce forecast query (no join
    * at all: the predicate-pushdown baseline). The discount band runs in
    * exact integer percent so no double equality crosses an engine. */
  private lazy val tpchQ6Sql: String =
    """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cp,
      |       count(*) AS n
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      |  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q7's shape — the two-nation volume-shipping join: nation
    * scanned TWICE under different predicates, the symmetric OR pair
    * filter, and a year extraction in the group key. */
  private lazy val tpchQ7Sql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |       CAST(sum(volume_cc) AS BIGINT) AS revenue_cc
      |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |             CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
      |             CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |             * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS volume_cc
      |      FROM supplier s, lineitem l, orders o, customer c,
      |           nation n1, nation n2
      |      WHERE s.s_suppkey = l.l_suppkey
      |        AND o.o_orderkey = l.l_orderkey
      |        AND c.c_custkey = o.o_custkey
      |        AND s.s_nationkey = n1.n_nationkey
      |        AND c.c_nationkey = n2.n_nationkey
      |        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |        AND CAST(l.l_shipdate AS DATE) BETWEEN DATE '1996-01-01'
      |                                           AND DATE '1997-12-31') shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q8's shape — market share: the 8-table join (nation twice,
    * region gating the CUSTOMER side while the measured nation is the
    * SUPPLIER side). The share ratio is emitted as its two exact
    * centi-cent masses (num, den) — no double fraction crosses. */
  private lazy val tpchQ8Sql: String =
    """SELECT o_year,
      |       CAST(sum(CASE WHEN nation = 'NATION_5' THEN volume_cc
      |                     ELSE 0 END) AS BIGINT) AS nation_volume_cc,
      |       CAST(sum(volume_cc) AS BIGINT) AS total_volume_cc
      |FROM (SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
      |             CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |             * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS volume_cc,
      |             n2.n_name AS nation
      |      FROM part p, supplier s, lineitem l, orders o, customer c,
      |           nation n1, nation n2, region r
      |      WHERE p.p_partkey = l.l_partkey
      |        AND s.s_suppkey = l.l_suppkey
      |        AND l.l_orderkey = o.o_orderkey
      |        AND o.o_custkey = c.c_custkey
      |        AND c.c_nationkey = n1.n_nationkey
      |        AND n1.n_regionkey = r.r_regionkey
      |        AND r.r_name = 'AMERICA'
      |        AND s.s_nationkey = n2.n_nationkey
      |        AND CAST(o.o_orderdate AS DATE) BETWEEN DATE '1996-01-01'
      |                                            AND DATE '1997-12-31'
      |        AND p.p_type = 'ECONOMY') all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** TPC-H Q9's shape — product-type profit: partsupp derived as the
    * min-cost (part, supp) reduction (the schema carries no partsupp),
    * profit = revenue − supplycost·qty in one centi-cent lane, LIKE on
    * p_name, nation × year grouping with the spec's DESC year order. */
  private lazy val tpchQ9Sql: String =
    """WITH partsupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ps_supplycost_c
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT nation, o_year, CAST(sum(amount_cc) AS BIGINT) AS sum_profit_cc
      |FROM (SELECT n.n_name AS nation,
      |             CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
      |             CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |             * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
      |             - ps.ps_supplycost_c * CAST(round(l.l_quantity) AS BIGINT) * 100
      |               AS amount_cc
      |      FROM part p, supplier s, lineitem l, partsupp ps, orders o, nation n
      |      WHERE s.s_suppkey = l.l_suppkey
      |        AND ps.ps_suppkey = l.l_suppkey
      |        AND ps.ps_partkey = l.l_partkey
      |        AND p.p_partkey = l.l_partkey
      |        AND o.o_orderkey = l.l_orderkey
      |        AND s.s_nationkey = n.n_nationkey
      |        AND p.p_name LIKE '%gear%') profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  /** TPC-H Q10's shape — returned-item report: 4-table join, a quarter
    * date window, the returnflag filter, top-20 customers by lost
    * revenue under a total order. */
  private lazy val tpchQ10Sql: String =
    """SELECT c.c_custkey, c.c_name,
      |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_cc,
      |       n.n_name
      |FROM customer c, orders o, lineitem l, nation n
      |WHERE c.c_custkey = o.o_custkey
      |  AND l.l_orderkey = o.o_orderkey
      |  AND CAST(o.o_orderdate AS DATE) >= DATE '1996-10-01'
      |  AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
      |  AND l.l_returnflag = 'R'
      |  AND c.c_nationkey = n.n_nationkey
      |GROUP BY c.c_custkey, c.c_name, n.n_name
      |ORDER BY revenue_cc DESC, c.c_custkey
      |LIMIT 20""".stripMargin

  /** TPC-H Q12's shape — conditional two-way counting per ship class
    * (l_linestatus stands in for l_shipmode, l_shipdate > o_orderdate
    * for the commit<receipt lateness test the schema lacks): the
    * join + CASE-pivot aggregation. */
  private lazy val tpchQ12Sql: String =
    """SELECT l.l_linestatus AS ship_class,
      |       CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
      |                       OR o.o_orderpriority = '2-HIGH'
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o.o_orderpriority <> '1-URGENT'
      |                      AND o.o_orderpriority <> '2-HIGH'
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders o, lineitem l
      |WHERE o.o_orderkey = l.l_orderkey
      |  AND l.l_shipdate > o.o_orderdate
      |  AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'
      |GROUP BY l.l_linestatus
      |ORDER BY l.l_linestatus""".stripMargin

  /** TPC-H Q14's shape — promotion effect: the CASE-filtered share of a
    * one-month join window, emitted as its two exact centi-cent masses
    * (promo, total) instead of the spec's 100·promo/total double. */
  private lazy val tpchQ14Sql: String =
    """SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO'
      |                     THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |                          * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
      |                     ELSE 0 END) AS BIGINT) AS promo_revenue_cc,
      |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS total_revenue_cc
      |FROM lineitem l, part p
      |WHERE l.l_partkey = p.p_partkey
      |  AND CAST(l.l_shipdate AS DATE) >= DATE '1996-09-01'
      |  AND CAST(l.l_shipdate AS DATE) < DATE '1996-10-01'""".stripMargin

  /** q194/q310 shared oracle: the 10-minute tumbling batch aggregate the
    * streaming (and killed-and-resumed) windowed gates must converge to. */
  private lazy val streamWindowsOracle: String =
    """WITH ev AS (SELECT epoch_us(ts) AS ts_us, event_type,
      |                   CAST(round(value * 100) AS BIGINT) AS cents
      |            FROM events)
      |SELECT ts_us - ts_us % 600000000 AS window_us, event_type,
      |       count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q239/q311 shared oracle: the one-shot aggregate the incrementally
    * maintained (and killed-and-resumed) summary must converge to. */
  private lazy val streamMvOracle: String =
    """SELECT event_type, count(*) AS mv_cnt,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mv_sum_cents,
      |       CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mv_min_cents,
      |       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mv_max_cents
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q97/q309 shared oracle: 4 unrolled BPE merge rounds as CTEs —
    * DuckDB replays the identical wrapped-symbol replace algorithm. */
  private lazy val bpeMerges4Oracle: String = {
    def roundCte(i: Int): String = {
      val prev = s"r${i - 1}"
      s"""p$i AS (
         |  SELECT l, r, sum(freq) AS w FROM (
         |    SELECT freq, s[i] AS l, s[i + 1] AS r FROM (
         |      SELECT freq, s, unnest(range(1, len(s))) AS i
         |      FROM (SELECT freq, string_split(trim(repr), '  ') AS s FROM $prev)
         |      WHERE len(s) >= 2))
         |  GROUP BY l, r),
         |m$i AS (SELECT l, r, w FROM p$i ORDER BY w DESC, l, r LIMIT 1),
         |r$i AS (SELECT freq, replace(repr,
         |          ' ' || (SELECT l FROM m$i) || '  ' || (SELECT r FROM m$i) || ' ',
         |          ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ') AS repr
         |        FROM $prev)""".stripMargin
    }
    val rounds = (1 to 4).map(roundCte).mkString(",\n")
    val selects = (1 to 4).map(i =>
      s"""SELECT $i AS round, l AS "left", r AS "right", CAST(w AS BIGINT) AS weight FROM m$i""")
      .mkString("\nUNION ALL ")
    s"""WITH words AS (
       |  SELECT w AS word, count(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY w),
       |r0 AS (SELECT freq,
       |  ' ' || array_to_string(list_transform(range(1, len(word) + 1), i -> word[i]), '  ') || ' ' AS repr
       |  FROM words),
       |$rounds
       |SELECT * FROM (
       |$selects)
       |ORDER BY round""".stripMargin
  }

  private lazy val tpchQ22Sql: String =
    """SELECT c_nationkey AS cntry, count(*) AS numcust,
      |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_c
      |FROM customer c
      |WHERE c_nationkey IN (3, 7, 11, 17, 21)
      |  AND CAST(round(c_acctbal * 100) AS BIGINT) *
      |      (SELECT count(*) FROM customer
      |       WHERE c_acctbal > 0.0 AND c_nationkey IN (3, 7, 11, 17, 21))
      |      > (SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |         FROM customer
      |         WHERE c_acctbal > 0.0 AND c_nationkey IN (3, 7, 11, 17, 21))
      |  AND NOT EXISTS (SELECT * FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderstatus = 'F')
      |GROUP BY c_nationkey
      |ORDER BY cntry""".stripMargin

  /** q297's shared text: TPC-H Q15's shape — the revenue view consumed
    * twice (group-by + its own max), integer centi-cent lanes
    * (price_c · (100 − disc_pct) is exact). */
  private lazy val tpchQ15Sql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS total_revenue_cc
      |  FROM lineitem GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name,
      |       CAST(r.total_revenue_cc AS BIGINT) AS total_revenue_cc
      |FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
      |WHERE r.total_revenue_cc = (SELECT max(total_revenue_cc) FROM revenue)
      |ORDER BY s.s_suppkey""".stripMargin

  /** q305's shared text: the WINDOW clause — one named window feeding a
    * running sum and a rank, pre-filter in a subquery so the window sees
    * every row. Unique ordering keys make the default RANGE frame and
    * rank deterministic in both engines. */
  private lazy val namedWindowSql: String =
    """SELECT * FROM (
      |  SELECT o_orderstatus, o_orderkey,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS run_c,
      |         CAST(rank() OVER w AS BIGINT) AS rnk
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)) t
      |WHERE o_orderkey % 97 = 0
      |ORDER BY o_orderstatus, o_orderkey""".stripMargin

  /** q306's shared text: Q1's reduce in DECIMAL(12,2) lanes — decimal
    * sums are exact, and both engines' double→decimal(2) casts agree on
    * 2-dp-semantics data (the nearest double of a 2-dp value is never
    * within rounding distance of a .005 boundary). */
  private lazy val decimalQ1Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_qty_c,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_price_c,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |                * CAST(l_discount AS DECIMAL(12,2))) * 10000 AS BIGINT) AS sum_disc_price_cc
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q307's shared text: the NULL-semantics battery — null group keys,
    * count(*) vs null-skipping count(col) vs count(DISTINCT col),
    * coalesce and nullif, explicit NULLS FIRST (the engines' DEFAULT null
    * sort order differs, so the text pins it). */
  private lazy val nullSurfaceSql: String =
    """WITH t AS (SELECT c_custkey,
      |                  CASE WHEN c_custkey % 5 = 0 THEN NULL
      |                       ELSE c_nationkey END AS nk,
      |                  CASE WHEN c_custkey % 7 = 0 THEN NULL
      |                       ELSE c_mktsegment END AS seg
      |           FROM customer)
      |SELECT nk, count(*) AS n_rows, count(seg) AS n_seg,
      |       count(DISTINCT seg) AS n_seg_d,
      |       CAST(sum(CASE WHEN seg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_seg,
      |       coalesce(min(seg), '<none>') AS min_seg,
      |       CAST(max(nullif(c_custkey % 3, 0)) AS BIGINT) AS max_nn
      |FROM t GROUP BY nk
      |ORDER BY nk NULLS FIRST""".stripMargin

  /** q229's shared text (both engines run it verbatim): TPC-H Q21's
    * double-correlated EXISTS / NOT EXISTS shape over the columns this
    * corpus has — 'R'-flagged lineitems standing in for late receipts. */
  private lazy val tpchQ21Sql: String =
    """SELECT l1.l_suppkey, count(*) AS numwait
      |FROM lineitem l1 JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY l1.l_suppkey
      |ORDER BY numwait DESC, l_suppkey
      |LIMIT 20""".stripMargin

  /** q264's shared text: TPC-H Q17's correlated-scalar-aggregate shape
    * with the 0.2·avg threshold cross-multiplied into exact integers
    * (qty < sum/(5·cnt) ⇔ 5·qty·cnt < sum — quantities are integral, so
    * both engines compare the same exact values; a float avg would risk
    * a last-ulp boundary flip). Two correlated scalars per row force the
    * full decorrelation path. */
  private lazy val tpchQ17Sql: String =
    """SELECT l.l_partkey, count(*) AS n_small,
      |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
      |            AS BIGINT) AS small_rev_c
      |FROM lineitem l
      |WHERE l.l_returnflag = 'A'
      |  AND 5 * CAST(l.l_quantity AS BIGINT) *
      |      (SELECT count(*) FROM lineitem l2
      |       WHERE l2.l_partkey = l.l_partkey)
      |      < (SELECT sum(CAST(l3.l_quantity AS BIGINT))
      |         FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey)
      |GROUP BY l.l_partkey
      |ORDER BY n_small DESC, l_partkey
      |LIMIT 50""".stripMargin

  /** q275's shared text: TPC-H Q20's nesting pattern — an IN subquery
    * whose body GROUPs and filters through a correlated scalar aggregate
    * in the HAVING clause (supplier dominates an eighth of a small
    * part's shipped quantity). Three nesting levels for the decorrelator;
    * integer-exact threshold (quantities are integral). */
  private lazy val tpchQ20Sql: String =
    """SELECT s.s_suppkey, count(*) AS n_dominant
      |FROM supplier s JOIN (
      |  SELECT l.l_suppkey, l.l_partkey
      |  FROM lineitem l
      |  WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 10)
      |  GROUP BY l.l_suppkey, l.l_partkey
      |  HAVING sum(CAST(l.l_quantity AS BIGINT)) * 8 >
      |         (SELECT sum(CAST(l2.l_quantity AS BIGINT))
      |          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      |) d ON d.l_suppkey = s.s_suppkey
      |GROUP BY s.s_suppkey
      |ORDER BY n_dominant DESC, s_suppkey
      |LIMIT 40""".stripMargin

  /** q230's shared text: TPC-H Q13 — LEFT join with the predicate in the
    * ON clause (zero-order customers must survive), then the
    * distribution of per-customer order counts. */
  private lazy val tpchQ13Sql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      |      FROM customer c LEFT JOIN orders o
      |        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      |      GROUP BY c.c_custkey) cc
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q197's shared text: Spark executes it via UnionLoop; DuckDB runs the
    * identical statement as the oracle. Depth-bounded (d < 3), so the
    * cyclic symmetrized graph terminates in both engines. */
  private lazy val recursiveCteSql: String =
    s"""WITH RECURSIVE
       |${Derive.Sql.nodes},
       |${Derive.Sql.edges},
       |${Derive.Sql.symEdges},
       |hops(v, d) AS (
       |  SELECT node_idx AS v, 0 AS d FROM nodes WHERE node_idx % 500 = 3
       |  UNION ALL
       |  SELECT s.v, h.d + 1 FROM hops h JOIN sym s ON s.u = h.v WHERE h.d < 3
       |)
       |SELECT CAST(v AS INT) AS v, CAST(min(d) AS INT) AS d
       |FROM hops GROUP BY v ORDER BY v""".stripMargin

  /** Shared by q128 (per-word encode replay) and q206 (per-language
    * fertility over the same encoding): the 4-round BPE merge replay on
    * the global vocabulary — words → r0 (wrapped char repr) → r4. Each
    * round recomputes the argmax pair exactly as Bpe.merges learns it
    * (weight desc, then (l, r) ascending), so the replayed tokenization
    * IS the engine's. */
  private lazy val bpeReplayPrefix: String = {
    def roundCte(i: Int): String = {
      val prev = s"r${i - 1}"
      s"""p$i AS (
         |  SELECT l, r, sum(freq) AS w FROM (
         |    SELECT freq, s[i] AS l, s[i + 1] AS r FROM (
         |      SELECT freq, s, unnest(range(1, len(s))) AS i
         |      FROM (SELECT freq, string_split(trim(repr), '  ') AS s FROM $prev)
         |      WHERE len(s) >= 2))
         |  GROUP BY l, r),
         |m$i AS (SELECT l, r, w FROM p$i ORDER BY w DESC, l, r LIMIT 1),
         |r$i AS (SELECT word, freq, replace(repr,
         |          ' ' || (SELECT l FROM m$i) || '  ' || (SELECT r FROM m$i) || ' ',
         |          ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ') AS repr
         |        FROM $prev)""".stripMargin
    }
    s"""WITH words AS (
       |  SELECT w AS word, count(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY w),
       |r0 AS (SELECT word, freq,
       |  ' ' || array_to_string(list_transform(range(1, len(word) + 1), i -> word[i]), '  ') || ' ' AS repr
       |  FROM words),
       |${(1 to 4).map(roundCte).mkString(",\n")}""".stripMargin
  }

  /** Shared by q77 (batch latest-wins snapshot) and q205 (the streaming
    * mapGroupsWithState twin through the MERGE sink): both compact the
    * same feed, so both answer to this oracle. */
  private lazy val cdcSnapshotOracle: String =
    """WITH f AS (SELECT user_id, event_id AS id, epoch_us(ts) AS ts_us,
      |                  CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
      |                  CAST(round(value * 100) AS BIGINT) AS state_cents
      |           FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |                  ORDER BY ts_us DESC, id DESC) AS rn FROM f)
      |SELECT user_id, id, ts_us, state_cents FROM r
      |WHERE rn = 1 AND op <> 'd'
      |ORDER BY user_id""".stripMargin

  /** Shared q77 input: the events table viewed as a CDC feed. */
  private def cdcFeed(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("user_id"),
      col("event_id").as("id"), EventOps.tsUs("ts").as("ts_us"),
      when(col("event_type") === "error", lit("d")).otherwise(lit("u")).as("op"),
      round(col("value") * 100).cast("long").as("state_cents"))

  // -------------------------------------------------------------- oracle SQL

  /** Shared by q62 (exact decontamination) and q81 (Bloom-pruned variant):
    * the Bloom pre-filter is result-invariant by construction (no false
    * negatives; false positives die in the exact verify join), so both
    * queries answer to the SAME oracle. */
  /** Shared by q80 (exact containment posting self-join) and q113 (prefix-
    * filtered variant): prefix filtering only prunes CANDIDATES — the
    * exact per-pair verify recomputes containment from the full shingle
    * arrays, so both answer to the same oracle. */
  private lazy val containmentOracle: String =
    s"""WITH ${LlmSql.docShingles},
       |idx AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM sh),
       |agg AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.sz AS s1,
       |         count(*) AS inter
       |  FROM idx a JOIN idx b
       |    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2, 3)
       |SELECT id1, id2, inter / s1 AS containment
       |FROM agg WHERE inter / s1 >= CAST(0.8 AS DOUBLE)
       |ORDER BY id1, id2""".stripMargin

  private val decontOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id,
      |              list_distinct(list_transform(generate_series(0, len(w) - 8),
      |                i -> array_to_string(w[i+1:i+8], ' '))) AS sh
      |       FROM w WHERE len(w) >= 8),
      |ds AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % 5 <> 0),
      |bs AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 5 = 0)
      |SELECT ds.doc_id, count(*) AS n_overlap
      |FROM ds JOIN bs ON ds.s = bs.s
      |GROUP BY ds.doc_id
      |ORDER BY ds.doc_id""".stripMargin

  private val P = Derive.Sql.prelude

  /** Tricity-ish lattice used by q25/q28. */
  val TestLattice: Grid.Lattice = Grid.Lattice(18.30, 54.25, 18.80, 54.65, 10.0, 2.0)

  /** SQL mirror of Grid.tiles: the lattice constants are embedded as literal
    * doubles (Double.toString round-trips exactly), so both engines run
    * identical IEEE arithmetic — no trig at SQL time. */
  private def tilesSql(l: Grid.Lattice): String = {
    def d(x: Double): String = s"CAST($x AS DOUBLE)"
    s"""g AS (
       |  SELECT CAST(ri AS INT) AS row, CAST(ci AS INT) AS col
       |  FROM generate_series(0, ${l.nRows - 1}) t1(ri)
       |  CROSS JOIN generate_series(0, ${l.nCols - 1}) t2(ci)),
       |tcenter AS (
       |  SELECT row, col,
       |         ${d(l.firstCenterLon)} - col * ${d(l.dlonTile)} AS c_lon,
       |         ${d(l.firstCenterLat)} - row * ${d(l.dlatTile)} AS c_lat
       |  FROM g),
       |tbox AS (
       |  SELECT row, col, c_lon, c_lat,
       |         c_lon - ${d(l.halfLon)} AS t_minlon, c_lat - ${d(l.halfLat)} AS t_minlat,
       |         c_lon + ${d(l.halfLon)} AS t_maxlon, c_lat + ${d(l.halfLat)} AS t_maxlat
       |  FROM tcenter),
       |tiles AS (
       |  SELECT concat('r', CAST(row AS VARCHAR), '_c', CAST(col AS VARCHAR)) AS grid_id,
       |         row, col, c_lon, c_lat, t_minlon, t_minlat, t_maxlon, t_maxlat,
       |         t_minlon - ${d(l.dlonBuf)} AS b_minlon, t_minlat - ${d(l.dlatBuf)} AS b_minlat,
       |         t_maxlon + ${d(l.dlonBuf)} AS b_maxlon, t_maxlat + ${d(l.dlatBuf)} AS b_maxlat
       |  FROM tbox
       |  WHERE NOT (t_maxlon <= ${d(l.minlon)} OR t_minlon >= ${d(l.maxlon)})
       |    AND NOT (t_maxlat <= ${d(l.minlat)} OR t_minlat >= ${d(l.maxlat)}))""".stripMargin
  }

  /** SQL fragments mirroring TextOps/SimilarityOps exactly (md5 hashing and
    * quantized-integer vector math are engine-portable by construction). */
  private object LlmSql {
    /** Distinct 3-gram shingle sets per doc (mirror of TextOps.shingles). */
    val docShingles: String =
      """sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(0, len(w) - 3),
        |           i -> array_to_string(w[i+1:i+3], ' '))) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') w FROM documents)
        |  WHERE len(w) >= 3)""".stripMargin

    /** Quantized vector (mirror of SimilarityOps.quantize). */
    def qvec(e: String): String =
      s"list_transform($e, x -> CAST(round(CAST(x AS DOUBLE) * 1e7) AS BIGINT))"

    /** Exact integer dot product (mirror of SimilarityOps.dotQ). */
    def dot(a: String, b: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])) AS BIGINT)"

    /** Cosine (mirror of SimilarityOps.cosQ). */
    def cos(a: String, b: String): String =
      s"(CAST(${dot(a, b)} AS DOUBLE) / (sqrt(CAST(${dot(a, a)} AS DOUBLE)) * sqrt(CAST(${dot(b, b)} AS DOUBLE))))"
  }

  /** CTE chain doc shingles → minhash signatures → LSH bands → candidate
    * pairs `cand(id1, id2)` — the DuckDB mirror of TextOps.minhashCandidates,
    * shared by q31 (jaccard-verified pairs) and q71 (components over them). */
  private lazy val minhashCandSql: String = {
    val p = TextOps.MinhashP
    val sigElems = (0 until 12)
      .map(i => s"list_min(list_transform(hs, h -> (h * ${TextOps.hashA(i)} + ${TextOps.hashB(i)}) % $p))")
      .mkString(", ")
    val bandRows = (0 until 6)
      .map(b => s"SELECT doc_id, $b AS band, md5(concat(CAST(sig[${2 * b + 1}] AS VARCHAR), ',', CAST(sig[${2 * b + 2}] AS VARCHAR))) AS bkey FROM sig")
      .mkString("\nUNION ALL ")
    s"""${LlmSql.docShingles},
       |hs AS (SELECT doc_id, list_transform(sh, s -> CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) % $p) hs FROM sh),
       |sig AS (SELECT doc_id, [$sigElems] sig FROM hs),
       |bands AS ($bandRows),
       |cand AS (SELECT DISTINCT a.doc_id id1, b.doc_id id2
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** SQL mirror of SimilarityOps.kmeansCentroids / assignToCentroids over a
    * `qv(vec_id, qv)` CTE; shared by q60 (training output) and q70
    * (SemDeDup, which chains a final assignment onto the trained c2). */
  private object KmeansSql {
    /** Exact-integer-L2 argmin assignment of qv against centroid CTE
      * `cPrev(cid, cv)` (Σ(a−c)² ≡ Spark's |a|²−2a·c+|c|² in exact
      * 64-bit integers), ties to the smaller cid. */
    def assign(cPrev: String, a: String, dim: Int, src: String = "qv"): String =
      s"""$a AS (
         |  SELECT vec_id, qv, cid FROM (
         |    SELECT vec_id, qv, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM (
         |      SELECT v.vec_id, v.qv, c.cid,
         |             list_sum(list_transform(range(1, ${dim + 1}),
         |               i -> (v.qv[i] - c.cv[i]) * (v.qv[i] - c.cv[i]))) AS dist
         |      FROM $src v CROSS JOIN $cPrev c))
         |  WHERE rn = 1)""".stripMargin

    /** Per-dimension requantized-mean centroid update; an empty cluster
      * keeps its previous centroid. */
    def update(aPrev: String, cPrev: String, c: String): String =
      s"""${c}_long AS (
         |  SELECT cid, pos, CAST(round(sum(val) / count(*)) AS BIGINT) AS cval
         |  FROM (SELECT cid, unnest(qv) AS val, generate_subscripts(qv, 1) AS pos
         |        FROM $aPrev)
         |  GROUP BY cid, pos),
         |$c AS (
         |  SELECT p.cid, coalesce(l.cv, p.cv) AS cv
         |  FROM $cPrev p LEFT JOIN
         |       (SELECT cid, list(cval ORDER BY pos) AS cv FROM ${c}_long GROUP BY cid) l
         |    ON l.cid = p.cid)""".stripMargin

    /** c0 (k smallest vec_ids) → assign a1 → update c1 → assign a2 →
      * update c2: the fixed two-iteration Lloyd chain both gate queries
      * pin. */
    def twoRounds(k: Int, dim: Int, prefix: String = "", src: String = "qv"): String =
      s"""${prefix}c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, qv AS cv
         |       FROM (SELECT vec_id, qv FROM $src ORDER BY vec_id LIMIT $k)),
         |${assign(s"${prefix}c0", s"${prefix}a1", dim, src)},
         |${update(s"${prefix}a1", s"${prefix}c0", s"${prefix}c1")},
         |${assign(s"${prefix}c1", s"${prefix}a2", dim, src)},
         |${update(s"${prefix}a2", s"${prefix}c1", s"${prefix}c2")}""".stripMargin

    /** [[twoRounds]] with a DATA-DEPENDENT k: `kSql` is a scalar subquery
      * (e.g. ⌈n/125⌉ over the corpus) evaluated inside the c0 seed filter —
      * the q193 production-configuration mirror, where the engine computes
      * the same k from a driver-side count. */
    def twoRoundsDynK(kSql: String, dim: Int, src: String = "qv"): String =
      s"""c0 AS (SELECT CAST(rn - 1 AS INT) AS cid, qv AS cv
         |       FROM (SELECT qv, row_number() OVER (ORDER BY vec_id) AS rn FROM $src)
         |       WHERE rn <= ($kSql)),
         |${assign("c0", "a1", dim, src)},
         |${update("a1", "c0", "c1")},
         |${assign("c1", "a2", dim, src)},
         |${update("a2", "c1", "c2")}""".stripMargin
  }

  /** Shared by q26 (single tile) and q27 (multi-tile + owner dedup): the
    * tiling must not change results, so both hash against the same global
    * recursive-CTE Dijkstra. */
  private val dijkstraReachSql: String =
    s"""WITH RECURSIVE $P,
       |walk(node, poi, dist) AS (
       |  SELECT node_idx, min(poi_id), CAST(0 AS DOUBLE)
       |  FROM pois WHERE category = 'supermarket' GROUP BY node_idx
       |  UNION
       |  SELECT s.v, w.poi, w.dist + s.w
       |  FROM walk w JOIN sym s ON s.u = w.node
       |  WHERE w.dist + s.w <= 1000),
       |best AS (SELECT node, min(dist) AS dist_m FROM walk GROUP BY node)
       |SELECT b.node AS node_idx, b.dist_m, b.dist_m / 1.111 AS time_s,
       |       min(w.poi) AS poi_id
       |FROM best b JOIN walk w ON w.node = b.node AND w.dist = b.dist_m
       |GROUP BY b.node, b.dist_m
       |ORDER BY node_idx""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       sum(round(l_extendedprice*100))/100 AS sum_base_price,
        |       sum(round(l_extendedprice*(1-l_discount)*100))/100 AS sum_disc_price,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem WHERE l_discount > 0.05 AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_revenue_by_nation" ->
      """SELECT n_name, sum(round(o_totalprice*100))/100 AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q04_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_mktsegment = 'BUILDING'
        |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q05_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q06_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q07_running_sum" ->
      """SELECT user_id, event_id,
        |       sum(round(value*100)) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)/100 AS running_value
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q08_union_distinct" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,

    "q09_rekey" ->
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.edges},
         |raw AS (SELECT u*10+7 AS u, v*10+7 AS v, w FROM edges
         |        UNION ALL SELECT -5, 7, 1.0)
         |SELECT nu.node_idx AS u, nv.node_idx AS v, r.w
         |FROM raw r
         |JOIN nodes nu ON r.u = nu.osm_node_id
         |JOIN nodes nv ON r.v = nv.osm_node_id
         |ORDER BY u, v""".stripMargin,

    "q10_walkability" ->
      s"""WITH ${Derive.Sql.ways},
         |norm AS (SELECT way_id,
         |  lower(trim(coalesce(highway,''))) AS highway_n,
         |  lower(trim(coalesce(foot,''))) AS foot_n,
         |  lower(trim(coalesce(sidewalk,''))) AS sidewalk_n,
         |  lower(trim(coalesce(motorroad,''))) AS motorroad_n
         |  FROM ways)
         |SELECT way_id, highway_n, foot_n, sidewalk_n FROM norm
         |WHERE (highway_n IN ('footway','path','pedestrian','steps','platform','crossing','living_street','cycleway','track','residential','unclassified','service')
         |   OR (highway_n IN ('primary','primary_link','secondary','secondary_link','tertiary','tertiary_link')
         |       AND (sidewalk_n IN ('yes','both','left','right') OR foot_n IN ('yes','designated','permissive'))))
         |  AND NOT (highway_n IN ('motorway','motorway_link','trunk','trunk_link') OR motorroad_n = 'yes')
         |ORDER BY way_id""".stripMargin,

    "q11_reciprocity" ->
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.edges},
         |dp AS (SELECT u, v, w FROM edges
         |       UNION ALL SELECT v, u, w FROM edges WHERE u % 3 = 0),
         |rev AS (SELECT DISTINCT v AS u, u AS v FROM dp)
         |SELECT CAST(count(r.u) AS DOUBLE) / count(*) AS reciprocity
         |FROM dp e LEFT JOIN rev r ON e.u = r.u AND e.v = r.v""".stripMargin,

    "q12_degree_stats" ->
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.edges},
         |${Derive.Sql.symEdges},
         |deg AS (SELECT n.node_idx, coalesce(d.degree, 0) AS degree
         |        FROM nodes n LEFT JOIN (
         |          SELECT u AS node_idx, count(*) AS degree FROM sym GROUP BY u) d
         |        USING (node_idx))
         |SELECT avg(degree) AS mean_degree, max(degree) AS max_degree,
         |       count(CASE WHEN degree = 0 THEN 1 END) AS zero_degree_nodes
         |FROM deg""".stripMargin,

    "q13_weight_sanity" ->
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.edges},
         |ec AS (SELECT round(e.w / ${Derive.Sql.havM("nu.lon", "nu.lat", "nv.lon", "nv.lat")}, 6) AS ratio
         |       FROM edges e
         |       JOIN nodes nu ON nu.node_idx = e.u
         |       JOIN nodes nv ON nv.node_idx = e.v),
         |br AS (SELECT ratio, CAST(count(*) AS BIGINT) AS cnt FROM ec GROUP BY ratio),
         |cum AS (SELECT ratio, cnt,
         |               CAST(sum(cnt) OVER (ORDER BY ratio
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |        FROM br),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
         |               CAST(coalesce(sum(CASE WHEN ratio > 2.0 THEN cnt END), 0) AS BIGINT) AS outs
         |        FROM br)
         |SELECT min(CASE WHEN cum >= total * 0.5 THEN ratio END) AS p50_ratio,
         |       min(CASE WHEN cum >= total * 0.9 THEN ratio END) AS p90_ratio,
         |       max(outs) AS outliers_gt2
         |FROM cum CROSS JOIN tot""".stripMargin,

    "q14_geo_distances" -> {
      val r = Derive.Sql.rad _
      val dLat = s"(${r("n2.lat")} - ${r("n.lat")})"
      val dLon = s"(${r("n2.lon")} - ${r("n.lon")})"
      val aGrid = s"(sin($dLat/2)*sin($dLat/2) + cos(${r("n.lat")})*cos(${r("n2.lat")})*sin($dLon/2)*sin($dLon/2))"
      s"""WITH ${Derive.Sql.nodes}
         |SELECT n.node_idx,
         |  round(${Derive.Sql.havM("n.lon", "n.lat", "n2.lon", "n2.lat")}, 6) AS hav_query_m,
         |  round(${Derive.Sql.havWeightM("n.lon", "n.lat", "n2.lon", "n2.lat")}, 6) AS hav_graph_m,
         |  round(2 * 6371.0088 * asin(least(1.0, sqrt($aGrid))), 9) AS hav_grid_km,
         |  CAST(0.01 AS DOUBLE) AS zero_w,
         |  round(111.32 * cos(${r("n.lat")}), 9) AS km_per_deg_lon,
         |  round(n.lon - (500.0 / 6371000.0 * (180.0 / pi())) / cos(${r("n.lat")}), 9) AS bb_minlon,
         |  round(n.lat + 500.0 / 6371000.0 * (180.0 / pi()), 9) AS bb_maxlat
         |FROM nodes n JOIN nodes n2 ON n2.node_idx = n.node_idx + 1
         |ORDER BY n.node_idx""".stripMargin
    },

    "q15_mercator" -> {
      val r = Derive.Sql.rad _
      s"""WITH ${Derive.Sql.nodes}
         |SELECT node_idx,
         |  round(6378137.0 * ${r("lon")}, 4) AS merc_x,
         |  round(6378137.0 * ln(tan(pi()/4 + ${r("lat")}/2)), 4) AS merc_y,
         |  round((${r("18.5")} - ${r("lon")}) * cos(${r("lat")}) * ((${r("18.5")} - ${r("lon")}) * cos(${r("lat")}))
         |        + (${r("54.35")} - ${r("lat")}) * (${r("54.35")} - ${r("lat")}), 12) AS eq_d2,
         |  CAST(trunc(lon * 1e7) AS INT) AS lon_e7,
         |  CAST(trunc(lat * 1e7) AS INT) AS lat_e7,
         |  concat('r', CAST(CAST(floor(node_idx / 40) AS INT) AS VARCHAR), '_c',
         |         CAST(CAST(node_idx % 40 AS INT) AS VARCHAR)) AS grid_id
         |FROM nodes ORDER BY node_idx""".stripMargin
    },

    "q16_sanitize" -> {
      def san(e: String): String = {
        val s0 = s"lower(CAST($e AS VARCHAR))"
        val s1 = s"regexp_replace($s0, '[^a-z0-9._-]+', '_', 'g')"
        val s2 = s"regexp_replace($s1, '_+', '_', 'g')"
        val s3 = s"regexp_replace($s2, '^_|_$$', '', 'g')"
        s"substring(CASE WHEN $s3 = '' THEN 'cat' ELSE $s3 END, 1, 60)"
      }
      s"""SELECT p_partkey,
         |  ${san("p_brand")} AS k_brand,
         |  ${san("concat('##', p_type)")} AS k_type,
         |  ${san("repeat(p_name, 8)")} AS k_long
         |FROM part ORDER BY p_partkey""".stripMargin
    },

    "q17_reach_summary" ->
      s"""WITH RECURSIVE ${Derive.Sql.prelude},
         |seeds AS (SELECT category, node_idx AS node, min(poi_id) AS poi
         |          FROM pois GROUP BY category, node_idx),
         |walk(category, node, poi, dist) AS (
         |  SELECT category, node, poi, CAST(0 AS DOUBLE) FROM seeds
         |  UNION
         |  SELECT w.category, s.v, w.poi, w.dist + s.w
         |  FROM walk w JOIN sym s ON s.u = w.node
         |  WHERE w.dist + s.w <= 1000),
         |best AS (SELECT category, node, min(dist) AS dist_m
         |         FROM walk GROUP BY category, node),
         |nsrc AS (SELECT category, count(*) AS n_sources FROM pois GROUP BY category)
         |SELECT b.category, n.n_sources, count(*) AS n_within,
         |       median(b.dist_m) AS median_dist_m,
         |       median(b.dist_m) / 1.111 AS median_time_s,
         |       CAST(1000.0 AS DOUBLE) AS limit_m
         |FROM best b JOIN nsrc n USING (category)
         |GROUP BY b.category, n.n_sources
         |ORDER BY category""".stripMargin,

    "q18_path" ->
      s"""WITH RECURSIVE ${Derive.Sql.prelude},
         |seeds AS (SELECT node_idx AS node, min(poi_id) AS poi
         |          FROM pois WHERE category = 'supermarket' GROUP BY node_idx),
         |walk(node, poi, dist) AS (
         |  SELECT node, poi, CAST(0 AS DOUBLE) FROM seeds
         |  UNION
         |  SELECT s.v, w.poi, w.dist + s.w FROM walk w JOIN sym s ON s.u = w.node
         |  WHERE w.dist + s.w <= 1000),
         |best AS (SELECT node, min(dist) AS dist_m FROM walk GROUP BY node),
         |reach AS (SELECT b.node, b.dist_m, min(w.poi) AS poi
         |          FROM best b JOIN walk w ON w.node = b.node AND w.dist = b.dist_m
         |          GROUP BY b.node, b.dist_m),
         |prv AS (SELECT v, u FROM (
         |    SELECT s.v, ru.node AS u,
         |           row_number() OVER (PARTITION BY s.v ORDER BY ru.dist_m, ru.node) AS rn
         |    FROM sym s
         |    JOIN reach ru ON ru.node = s.u
         |    JOIN reach rv ON rv.node = s.v
         |    WHERE ru.dist_m + s.w = rv.dist_m AND ru.poi = rv.poi) WHERE rn = 1),
         |back(target, node, back_k) AS (
         |  SELECT node, node, 0 FROM reach WHERE node IN (1372, 298, 632, 938, 98, 57, 444, 1400)
         |  UNION ALL
         |  SELECT b.target, p.u, b.back_k + 1 FROM back b JOIN prv p ON p.v = b.node),
         |pl AS (SELECT target, max(back_k) AS plen FROM back GROUP BY target),
         |steps AS (
         |  SELECT b.target AS target_idx, pl.plen - b.back_k AS seq, b.node AS node_idx,
         |         CASE WHEN b.back_k = pl.plen THEN 0.0
         |              ELSE r.dist_m - rp.dist_m END AS step_m,
         |         rt.poi AS poi_id
         |  FROM back b
         |  JOIN pl ON pl.target = b.target
         |  JOIN reach r ON r.node = b.node
         |  JOIN reach rt ON rt.node = b.target
         |  LEFT JOIN prv p ON p.v = b.node AND b.back_k < pl.plen
         |  LEFT JOIN reach rp ON rp.node = p.u)
         |SELECT target_idx, seq, node_idx, step_m,
         |       sum(step_m) OVER (PARTITION BY target_idx ORDER BY seq
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_m,
         |       poi_id, 'supermarket' AS category
         |FROM steps ORDER BY target_idx, seq""".stripMargin,

    "q19_coercion" ->
      s"""WITH ${Derive.Sql.messy},
         |parsed AS (SELECT p_partkey, TRY_CAST(id_str AS BIGINT) AS parsed,
         |                  node_idx, name FROM messy)
         |SELECT p_partkey,
         |       CAST(CASE WHEN parsed IS NULL
         |            THEN -(row_number() OVER (PARTITION BY parsed IS NULL ORDER BY p_partkey))
         |            ELSE parsed END AS BIGINT) AS poi_id,
         |       coalesce(TRY_CAST(node_idx AS INT), -1) AS node_idx,
         |       name
         |FROM parsed ORDER BY p_partkey""".stripMargin,

    "q20_nodes" ->
      s"""WITH ${Derive.Sql.nodes}
         |SELECT * FROM nodes ORDER BY node_idx""".stripMargin,

    "q21_sym_dedup" ->
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.edges},
         |dup AS (SELECT u, v, w FROM edges UNION ALL SELECT u, v, w + 10 AS w FROM edges),
         |sym AS (SELECT u, v, w FROM dup UNION ALL SELECT v AS u, u AS v, w FROM dup)
         |SELECT u, v, min(w) AS w FROM sym WHERE u <> v GROUP BY u, v ORDER BY u, v""".stripMargin,

    "q22_degrees" ->
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.edges},
         |${Derive.Sql.symEdges}
         |SELECT u AS node_idx, count(*) AS degree FROM sym GROUP BY u ORDER BY node_idx""".stripMargin,

    "q23_snap" -> {
      val r = Derive.Sql.rad _
      def mx(lon: String) = s"(6378137.0 * ${r(lon)})"
      def my(lat: String) = s"(6378137.0 * ln(tan(pi()/4 + ${r(lat)}/2)))"
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.pois},
         |pm AS (SELECT poi_id, round(${mx("lon")}, 2) AS px, round(${my("lat")}, 2) AS py FROM pois),
         |nm AS (SELECT node_idx, round(${mx("lon")}, 2) AS nx, round(${my("lat")}, 2) AS ny FROM nodes),
         |cand AS (SELECT p.poi_id, n.node_idx,
         |                sqrt((p.px-n.nx)*(p.px-n.nx) + (p.py-n.ny)*(p.py-n.ny)) AS d
         |         FROM pm p CROSS JOIN nm n),
         |best AS (SELECT poi_id, node_idx, d,
         |                row_number() OVER (PARTITION BY poi_id ORDER BY d, node_idx) AS rn
         |         FROM cand WHERE d <= 300.0)
         |SELECT p.poi_id, coalesce(b.node_idx, -1) AS node_idx, b.d AS dist_to_node_m
         |FROM pois p LEFT JOIN best b ON b.poi_id = p.poi_id AND b.rn = 1
         |ORDER BY p.poi_id""".stripMargin
    },

    "q24_poi_extract" ->
      s"""WITH ${Derive.Sql.elements},
         |${Derive.Sql.tagDim}
         |SELECT e.elem_id, t.category, e.key, e.value, e.name, e.lon, e.lat
         |FROM elements e JOIN tagdim t ON e.key = t.key AND e.value = t.value
         |ORDER BY e.elem_id, t.category""".stripMargin,

    "q38_point_query" -> {
      val r = Derive.Sql.rad _
      val d2 = s"((${r("n.lon")} - ${r("q.q_lon")}) * cos(${r("q.q_lat")}) * ((${r("n.lon")} - ${r("q.q_lon")}) * cos(${r("q.q_lat")})) + (${r("n.lat")} - ${r("q.q_lat")}) * (${r("n.lat")} - ${r("q.q_lat")}))"
      s"""WITH RECURSIVE $P,
         |seeds AS (SELECT category, node_idx AS node, min(poi_id) AS poi
         |          FROM pois GROUP BY category, node_idx),
         |walk(category, node, poi, dist) AS (
         |  SELECT category, node, poi, CAST(0 AS DOUBLE) FROM seeds
         |  UNION
         |  SELECT w.category, s.v, w.poi, w.dist + s.w
         |  FROM walk w JOIN sym s ON s.u = w.node
         |  WHERE w.dist + s.w <= 1000),
         |best AS (SELECT category, node, min(dist) AS dist_m
         |         FROM walk GROUP BY category, node),
         |reach AS (SELECT b.category, b.node, b.dist_m, min(w.poi) AS poi_id
         |          FROM best b JOIN walk w
         |            ON w.category = b.category AND w.node = b.node AND w.dist = b.dist_m
         |          GROUP BY b.category, b.node, b.dist_m),
         |qp AS (SELECT CAST(node_idx AS BIGINT) AS query_id,
         |              lon + 1.1e-4 AS q_lon, lat - 0.9e-4 AS q_lat
         |       FROM nodes WHERE node_idx % 300 = 7),
         |snap AS (SELECT query_id, node_idx, n_lon, n_lat, q_lon, q_lat FROM (
         |    SELECT q.query_id, n.node_idx, n.lon AS n_lon, n.lat AS n_lat,
         |           q.q_lon, q.q_lat,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY $d2, n.node_idx) AS rn
         |    FROM qp q CROSS JOIN nodes n) WHERE rn = 1),
         |snapped AS (SELECT query_id,
         |                   CASE WHEN ${Derive.Sql.havM("q_lon", "q_lat", "n_lon", "n_lat")} > 300.0
         |                        THEN -1 ELSE node_idx END AS node_idx
         |            FROM snap)
         |SELECT s.query_id, r.category, r.dist_m, r.dist_m / 1.111 AS time_s, r.poi_id
         |FROM snapped s JOIN reach r ON r.node = s.node_idx
         |WHERE s.node_idx >= 0 AND r.dist_m <= 800.0
         |ORDER BY s.query_id, r.category, r.dist_m, r.poi_id""".stripMargin
    },

    "q39_accuracy" ->
      s"""WITH RECURSIVE $P,
         |walk(node, dist) AS (
         |  SELECT node_idx, CAST(0 AS DOUBLE)
         |  FROM pois WHERE category = 'supermarket' GROUP BY node_idx
         |  UNION
         |  SELECT s.v, w.dist + s.w FROM walk w JOIN sym s ON s.u = w.node
         |  WHERE w.dist + s.w <= 1000),
         |best AS (SELECT node, min(dist) AS dist_m FROM walk GROUP BY node),
         |val AS (SELECT node, dist_m + (node % 61) - 30 AS map_m, dist_m AS algo_m,
         |               CAST(node % 7 AS DOUBLE) AS offset_m
         |        FROM best),
         |p AS (SELECT CASE WHEN abs(map_m - algo_m) <= 20.0 + offset_m THEN 1 ELSE 0 END AS passed
         |      FROM val)
         |SELECT sum(passed) / count(*) AS accuracy, count(*) AS n_cases FROM p""".stripMargin,

    "q43_bbox_crop" ->
      s"""WITH ${Derive.Sql.wayMembers},
         |keep AS (SELECT DISTINCT way_id FROM way_members
         |         WHERE lon BETWEEN 18.2 AND 18.6 AND lat BETWEEN 54.2 AND 54.5)
         |SELECT w.way_id, w.node_id, w.lon, w.lat
         |FROM way_members w JOIN keep USING (way_id)
         |ORDER BY way_id, node_id""".stripMargin,

    "q44_counts_by_type" ->
      s"""WITH ${Derive.Sql.elements}
         |SELECT key AS type, count(*) AS n FROM elements
         |GROUP BY key ORDER BY type""".stripMargin,

    "q47_corpus_clean" -> {
      val p = TextOps.MinhashP
      val sigElems = (0 until 12)
        .map(i => s"list_min(list_transform(hs, h -> (h * ${TextOps.hashA(i)} + ${TextOps.hashB(i)}) % $p))")
        .mkString(", ")
      val bandRows = (0 until 6)
        .map(b => s"SELECT doc_id, $b AS band, md5(concat(CAST(sig[${2 * b + 1}] AS VARCHAR), ',', CAST(sig[${2 * b + 2}] AS VARCHAR))) AS bkey FROM sig")
        .mkString("\nUNION ALL ")
      s"""WITH ${LlmSql.docShingles},
         |hs AS (SELECT doc_id, list_transform(sh, s -> CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) % $p) hs FROM sh),
         |sig AS (SELECT doc_id, [$sigElems] sig FROM hs),
         |bands AS ($bandRows),
         |cand AS (SELECT DISTINCT a.doc_id id1, b.doc_id id2
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |near_drop AS (SELECT DISTINCT id2 AS doc_id
         |  FROM cand JOIN sh s1 ON s1.doc_id = id1 JOIN sh s2 ON s2.doc_id = id2
         |  WHERE len(list_intersect(s1.sh, s2.sh)) / len(list_distinct(list_concat(s1.sh, s2.sh))) >= 0.5),
         |exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |quality AS (SELECT doc_id FROM (
         |    SELECT doc_id, len(w) AS n_tokens,
         |           len(list_distinct(w)) / len(w) AS uniq_ratio
         |    FROM (SELECT doc_id, string_split(text, ' ') w FROM documents))
         |  WHERE n_tokens >= 20 AND uniq_ratio >= 0.2)
         |SELECT e.doc_id FROM exact_keep e
         |WHERE e.doc_id NOT IN (SELECT doc_id FROM near_drop)
         |  AND e.doc_id IN (SELECT doc_id FROM quality)
         |ORDER BY e.doc_id""".stripMargin
    },

    "q30_exact_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id < 50)
        |SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM corpus GROUP BY md5(text) ORDER BY text_hash""".stripMargin,

    "q31_minhash_lsh" ->
      s"""WITH $minhashCandSql
         |SELECT id1, id2,
         |       len(list_intersect(s1.sh, s2.sh)) / len(list_distinct(list_concat(s1.sh, s2.sh))) AS jaccard
         |FROM cand JOIN sh s1 ON s1.doc_id = id1 JOIN sh s2 ON s2.doc_id = id2
         |WHERE len(list_intersect(s1.sh, s2.sh)) / len(list_distinct(list_concat(s1.sh, s2.sh))) >= 0.5
         |ORDER BY id1, id2""".stripMargin,

    // 64-bit simhash mirrored as 4x16-bit int blocks (see TextOps.simhash64:
    // a packed 64-bit value would go negative at bit 63 and signed-shift
    // semantics diverge across engines; int blocks stay positive).
    "q32_simhash" -> {
      val sums = (0 until 64).map { j =>
        val half = if (j < 32) "hlo" else "hhi"
        s"sum(CASE WHEN ($half >> ${j % 32}) & 1 = 1 THEN 1 ELSE -1 END) s$j"
      }.mkString(", ")
      val blockVals = (0 until 4).map { b =>
        (0 until 16)
          .map(j => s"CASE WHEN s${16 * b + j} > 0 THEN ${1 << j} ELSE 0 END")
          .mkString("CAST(", " + ", s" AS INTEGER) AS b$b")
      }.mkString(", ")
      val blockRows = (0 until 4)
        .map(b => s"SELECT doc_id, b0, b1, b2, b3, $b AS blk, b$b AS bval FROM sim")
        .mkString("\nUNION ALL ")
      val ham = (0 until 4).map(b => s"bit_count(xor(xb$b, yb$b))").mkString(" + ")
      s"""WITH ${LlmSql.docShingles},
         |terms AS (SELECT doc_id, unnest(sh) term FROM sh),
         |h AS (SELECT doc_id,
         |             CAST(concat('0x', substring(md5(term), 1, 8)) AS BIGINT) hlo,
         |             CAST(concat('0x', substring(md5(term), 9, 8)) AS BIGINT) hhi
         |      FROM terms),
         |sm AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
         |sim AS (SELECT doc_id, $blockVals FROM sm),
         |blocks AS ($blockRows),
         |cand AS (SELECT DISTINCT a.doc_id id1, b.doc_id id2,
         |                a.b0 xb0, a.b1 xb1, a.b2 xb2, a.b3 xb3,
         |                b.b0 yb0, b.b1 yb1, b.b2 yb2, b.b3 yb3
         |         FROM blocks a JOIN blocks b
         |           ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id)
         |SELECT id1, id2, CAST($ham AS INTEGER) AS hamming
         |FROM cand WHERE $ham <= 3
         |ORDER BY id1, id2""".stripMargin
    },

    // CAST(sum(..) AS BIGINT): DuckDB widens sum(BIGINT) to HUGEINT, which
    // the driver's hasher renders differently from Spark's long even when
    // the value is identical (the round-2 q33 hash mismatch — the ONLY
    // oracle query that produced a HUGEINT column). The sums fit in int64
    // by construction (≤ 553 chars × 500 docs per group at sf0.01), so the
    // cast is lossless; avg_chars then divides BIGINT/BIGINT → the same
    // IEEE double op Spark performs on long/long.
    "q33_text_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(n_chars) AS BIGINT) / count(*) AS avg_chars,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |       max(n_chars) AS max_chars, min(n_chars) AS min_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "q34_langid" -> {
      val scores = TextOps.LangMarkers.map { case (l, ms) =>
        val list = ms.map(m => s"'$m'").mkString("[", ", ", "]")
        s"len(list_filter(string_split(text, ' '), t -> list_contains($list, t))) AS score_$l"
      }.mkString(",\n       ")
      val m = TextOps.LangMarkers.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
      val pred = TextOps.LangMarkers.map { case (l, _) => s"WHEN score_$l = m THEN '$l'" }.mkString(" ")
      s"""WITH scored AS (
         |  SELECT lang,
         |       $scores
         |  FROM documents),
         |p AS (SELECT lang, CASE $pred END AS pred_lang
         |      FROM (SELECT lang, score_de, score_en, score_es, score_fr, score_zh, $m AS m FROM scored))
         |SELECT lang, pred_lang, count(*) AS n FROM p
         |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin
    },

    "q35_quality" ->
      """SELECT doc_id, len(w) AS n_tokens,
        |       (length(text) - (len(w) - 1)) / len(w) AS mean_token_len,
        |       len(list_filter(w, t -> list_contains(['a', 'the'], t))) / len(w) AS stop_ratio,
        |       len(list_distinct(w)) / len(w) AS uniq_ratio
        |FROM (SELECT doc_id, text, string_split(text, ' ') w FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q36_tokens" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS tok_ws,
        |       len(regexp_extract_all(text, '[aeiou]+')) +
        |       len(regexp_extract_all(text, '[b-df-hj-np-tv-z]+')) AS tok_sub,
        |       CAST(ceil(length(text) / 4) AS INT) AS tok_est4
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q37_fingerprint" ->
      s"""WITH ${LlmSql.docShingles}
         |SELECT doc_id, array_to_string(list_sort(list_transform(sh, s -> md5(s)))[1:4], ',') AS fp
         |FROM sh ORDER BY doc_id""".stripMargin,

    "q40_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, ${LlmSql.qvec("embedding")} AS qq
         |           FROM embeddings WHERE vec_id < 5),
         |v AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv FROM embeddings),
         |c AS (SELECT qid, vec_id, ${LlmSql.cos("qq", "qv")} AS cos
         |      FROM q CROSS JOIN v WHERE qid <> vec_id),
         |r AS (SELECT qid, vec_id, cos,
         |             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
         |      FROM c)
         |SELECT qid, rank, vec_id, cos FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "q41_ann_ivf" ->
      s"""WITH cents AS (SELECT vec_id AS cid, ${LlmSql.qvec("embedding")} AS cv
         |               FROM embeddings WHERE vec_id % 100 = 0),
         |v AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv FROM embeddings),
         |assigned AS (
         |  SELECT cid, vec_id, qv FROM (
         |    SELECT c.cid, v.vec_id, v.qv,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${LlmSql.cos("v.qv", "c.cv")} DESC, c.cid) AS crn
         |    FROM v CROSS JOIN cents c) WHERE crn = 1),
         |q AS (SELECT vec_id AS qid, ${LlmSql.qvec("embedding")} AS qq
         |      FROM embeddings WHERE vec_id < 5),
         |probes AS (
         |  SELECT qid, qq, cid FROM (
         |    SELECT q.qid, q.qq, c.cid,
         |           row_number() OVER (PARTITION BY q.qid
         |             ORDER BY ${LlmSql.cos("q.qq", "c.cv")} DESC, c.cid) AS prn
         |    FROM q CROSS JOIN cents c) WHERE prn <= 2),
         |r AS (SELECT qid, vec_id, cos,
         |             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
         |      FROM (SELECT p.qid, a.vec_id, ${LlmSql.cos("p.qq", "a.qv")} AS cos
         |            FROM probes p JOIN assigned a ON a.cid = p.cid
         |            WHERE p.qid <> a.vec_id))
         |SELECT qid, rank, vec_id, cos FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "q42_embed_neardup" ->
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 20),
         |planes AS (SELECT vec_id AS pid, ${LlmSql.qvec("embedding")} AS pv
         |           FROM embeddings WHERE vec_id BETWEEN 50 AND 57),
         |cv AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv FROM corpus),
         |bits AS (SELECT c.vec_id, p.pid,
         |                CASE WHEN ${LlmSql.dot("c.qv", "p.pv")} > 0 THEN 1 ELSE 0 END AS bit,
         |                c.qv
         |         FROM cv c CROSS JOIN planes p),
         |sigs AS (SELECT vec_id, string_agg(CAST(bit AS VARCHAR), '' ORDER BY pid) AS bucket,
         |                first(qv) AS qv
         |         FROM bits GROUP BY vec_id),
         |pairs AS (SELECT a.vec_id id1, b.vec_id id2, ${LlmSql.cos("a.qv", "b.qv")} AS cos
         |          FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT id1, id2, cos FROM pairs WHERE cos >= 0.99 ORDER BY id1, id2""".stripMargin,

    "q25_grid" ->
      s"""WITH ${tilesSql(TestLattice)}
         |SELECT * FROM tiles ORDER BY row, col""".stripMargin,

    "q46_head_limit" ->
      s"""WITH ${tilesSql(TestLattice)}
         |SELECT * FROM tiles ORDER BY row, col LIMIT 4""".stripMargin,

    "q28_assign_tiles" ->
      s"""WITH ${Derive.Sql.elements},
         |${tilesSql(TestLattice)}
         |SELECT e.elem_id, t.grid_id
         |FROM elements e JOIN tiles t
         |  ON e.lon >= t.b_minlon AND e.lon <= t.b_maxlon
         | AND e.lat >= t.b_minlat AND e.lat <= t.b_maxlat
         |ORDER BY e.elem_id, t.grid_id""".stripMargin,

    "q26_dijkstra_reach" -> dijkstraReachSql,

    "q27_multi_tile_reach" -> dijkstraReachSql,

    "q45_reach_pregel" -> dijkstraReachSql,

    // ---- round-trip sinks/sources: the oracle sees the SOURCE table
    // directly; any loss or rename in the write→read-back path breaks the
    // hash against it.

    "q48_csv_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q49_json_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "q50_text_roundtrip" ->
      """SELECT DISTINCT CAST(c_nationkey AS VARCHAR) AS id
        |FROM customer ORDER BY id""".stripMargin,

    "q51_jdbc_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    // Mirrors the q52 fixture generator AND the validated-read contract:
    // same lon/lat arithmetic (proven IEEE-identical in the nodes prelude),
    // 'n/a' → -1 sentinel, final int cast.
    "q52_validated_source" ->
      """SELECT p_partkey AS poi_id,
        |       'cat' || CAST(p_partkey % 5 AS VARCHAR) AS category,
        |       CAST(CASE WHEN p_partkey % 11 = 0 THEN -1
        |                 ELSE p_partkey % 1500 END AS INT) AS node_idx,
        |       18.4 + (p_partkey % 97) * 2e-3 AS lon,
        |       54.3 + ((p_partkey * 13) % 89) * 2e-3 AS lat
        |FROM part ORDER BY poi_id""".stripMargin,

    "q53_valid_endpoints" ->
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.edges},
         |bad AS (
         |  SELECT CASE WHEN u % 53 = 0 THEN -1 ELSE u END AS u,
         |         CASE WHEN v % 71 = 0 THEN -9 ELSE v END AS v, w
         |  FROM edges)
         |SELECT u, v, w FROM bad WHERE u >= 0 AND v >= 0
         |ORDER BY u, v""".stripMargin,

    // Mirrors the q55 fixture's integer arithmetic and computes centroids
    // DIRECTLY from it (no string re-parse) — an independent oracle for the
    // whole Wkt parse+centroid path. Parity: coordinates are exact integer
    // doubles, so shoelace sums are exact in any order; the linestring has
    // exactly 2 segments, so its double sums are order-safe by IEEE
    // commutativity; each final division is one identical IEEE op.
    "q55_wkt_centroid" -> {
      def seg(expr: String) = s"list_transform(range(1, len(pt)), i -> $expr)"
      val dx = "(pt[i+1].x - pt[i].x)"; val dy = "(pt[i+1].y - pt[i].y)"
      val len = s"sqrt($dx*$dx + $dy*$dy)"
      val cross = "(pt[i].x*pt[i+1].y - pt[i+1].x*pt[i].y)"
      s"""WITH base AS (
         |  SELECT p_partkey AS elem_id, CAST(p_partkey % 5 AS INT) AS m,
         |         CAST(p_partkey % 100 AS DOUBLE) AS a,
         |         CAST((p_partkey*7) % 100 AS DOUBLE) AS b,
         |         CAST(p_partkey % 5 + 1 AS DOUBLE) AS c,
         |         CAST((p_partkey*3) % 7 + 1 AS DOUBLE) AS d
         |  FROM part),
         |pts AS (
         |  SELECT elem_id, m, a, b, CASE m
         |    WHEN 0 THEN [{'x': a, 'y': b}]
         |    WHEN 1 THEN [{'x': a, 'y': b}, {'x': a+c, 'y': b+d}, {'x': a+c+3, 'y': b}]
         |    WHEN 2 THEN [{'x': a, 'y': b}, {'x': a+c, 'y': b}, {'x': a, 'y': b+d}, {'x': a, 'y': b}]
         |    WHEN 3 THEN [{'x': a, 'y': b}, {'x': a+c, 'y': b+d}]
         |    ELSE [{'x': a, 'y': b}] END AS pt
         |  FROM base),
         |agg AS (
         |  SELECT elem_id, m, a, b,
         |         list_sum(${seg(s"(pt[i].x + pt[i+1].x)/2 * $len")}) AS lsx,
         |         list_sum(${seg(s"(pt[i].y + pt[i+1].y)/2 * $len")}) AS lsy,
         |         list_sum(${seg(len)}) AS sl,
         |         list_sum(${seg(s"(pt[i].x + pt[i+1].x) * $cross")}) AS psx,
         |         list_sum(${seg(s"(pt[i].y + pt[i+1].y) * $cross")}) AS psy,
         |         list_sum(${seg(cross)}) AS psa,
         |         list_sum(list_transform(pt, p -> p.x)) / len(pt) AS mx,
         |         list_sum(list_transform(pt, p -> p.y)) / len(pt) AS my
         |  FROM pts)
         |SELECT elem_id,
         |       CASE m WHEN 0 THEN 'POINT' WHEN 1 THEN 'LINESTRING'
         |              WHEN 2 THEN 'POLYGON' WHEN 3 THEN 'MULTIPOINT'
         |              ELSE 'GEOM' END AS typ,
         |       CASE m WHEN 0 THEN a WHEN 1 THEN lsx/sl
         |              WHEN 2 THEN psx/(psa*3) WHEN 3 THEN mx END AS cx,
         |       CASE m WHEN 0 THEN b WHEN 1 THEN lsy/sl
         |              WHEN 2 THEN psy/(psa*3) WHEN 3 THEN my END AS cy
         |FROM agg ORDER BY elem_id""".stripMargin
    },

    // DuckDB `/` on integers yields DOUBLE (like Spark's int/int column
    // division); both sides divide the same exact integers, so the ratios
    // are bit-identical. len() is cast to INTEGER to match Spark's size().
    "q56_repetition" ->
      """WITH corpus AS (
        |  SELECT doc_id, CASE WHEN doc_id % 10 = 0
        |    THEN text || ' spam spam spam spam' ELSE text END AS text
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |g AS (SELECT doc_id, CAST(len(w) AS INTEGER) AS n_words,
        |             list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g2
        |      FROM w),
        |gm AS (SELECT doc_id, n_words, CAST(len(g2) AS INTEGER) AS n_2grams,
        |              CAST(len(g2) - len(list_distinct(g2)) AS INTEGER) AS n_dup_2grams
        |       FROM g),
        |tok AS (SELECT doc_id, unnest(w) AS tok FROM w),
        |tc AS (SELECT doc_id, tok, count(*) AS n FROM tok GROUP BY 1, 2),
        |ts AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS top_tok_n FROM tc GROUP BY 1)
        |SELECT doc_id, n_words, n_2grams, n_dup_2grams,
        |       CASE WHEN n_2grams > 0 THEN n_dup_2grams / n_2grams
        |            ELSE 0.0 END AS dup_2gram_ratio,
        |       CASE WHEN n_words > 0 THEN coalesce(top_tok_n, 0) / n_words
        |            ELSE 0.0 END AS top_tok_share
        |FROM gm JOIN ts USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q57_stratified_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE CAST(concat('0x', substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 <
        |      CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
        |                  WHEN 'src2' THEN 2500 WHEN 'src3' THEN 1250 ELSE 0 END
        |ORDER BY doc_id""".stripMargin,

    // Shares CorpusOps' literal PII patterns (no escapes, Java/RE2-common
    // subset); DuckDB regexp_replace needs the 'g' flag to match Spark's
    // replace-all default.
    "q58_pii_scrub" -> {
      val (e, p, c) = (CorpusOps.EmailPat, CorpusOps.PhonePat, CorpusOps.CardPat)
      s"""WITH corpus AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0 THEN ' call +1 555 123 4567' ELSE '' END ||
         |    CASE WHEN doc_id % 13 = 0 THEN ' card 4111111111111111' ELSE '' END AS text
         |  FROM documents),
         |s1 AS (SELECT doc_id, text,
         |              regexp_replace(text, '$e', '<EMAIL>', 'g') AS t1 FROM corpus),
         |s2 AS (SELECT doc_id, text, t1,
         |              regexp_replace(t1, '$p', '<PHONE>', 'g') AS t2 FROM s1)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '$e')) +
         |            len(regexp_extract_all(t1, '$p')) +
         |            len(regexp_extract_all(t2, '$c')) AS INTEGER) AS n_pii,
         |       md5(regexp_replace(t2, '$c', '<NUMBER>', 'g')) AS scrubbed_md5
         |FROM s2 ORDER BY doc_id""".stripMargin
    },

    "q59_domain_cap" ->
      """WITH d AS (SELECT doc_id, 'd' || CAST(doc_id % 37 AS VARCHAR) AS domain FROM documents),
        |r AS (SELECT doc_id, domain,
        |             row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
        |      FROM d)
        |SELECT doc_id, domain FROM r WHERE rn <= 8 ORDER BY domain, doc_id""".stripMargin,

    // Mirrors kmeansCentroids with both Lloyd rounds unrolled as CTEs.
    // Distances use the direct Σ(a−c)² form (the Spark side's
    // |a|²−2a·c+|c|² is the same exact integer); means divide an exact
    // HUGEINT-widened sum by count → DOUBLE (sums ≈1e10 ≪ 2⁵³, so the
    // division input is exact), then round half-away-from-zero like Spark.
    "q60_kmeans" ->
      s"""WITH qv AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv FROM embeddings),
         |${KmeansSql.twoRounds(k = 4, dim = 64)},
         |sizes AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM a2 GROUP BY cid)
         |SELECT c.cid, CAST(coalesce(s.n, 0) AS BIGINT) AS n,
         |       CAST(c.pos - 1 AS INT) AS pos, c.cval
         |FROM (SELECT cid, unnest(cv) AS cval, generate_subscripts(cv, 1) AS pos FROM c2) c
         |LEFT JOIN sizes s ON s.cid = c.cid
         |ORDER BY c.cid, c.pos""".stripMargin,

    "q61_doc_intake" ->
      """SELECT DISTINCT md5(text) AS text_hash,
        |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
        |FROM documents
        |WHERE len(string_split(text, ' ')) >= 20
        |ORDER BY text_hash""".stripMargin,

    // 8-gram mirror of TextOps.shinglesFromWords (distinct, len>=n guard,
    // w[i+1:i+8] is DuckDB's inclusive 8-element slice of Spark's
    // slice(w, i+1, 8)).
    "q62_decontaminate" -> decontOracle,

    // w[s+1 : least(s+32, len)] is DuckDB's inclusive slice of Spark's
    // slice(w, s+1, 32) (tail-shortened identically); chunk_idx = s/16
    // (only trailing starts are dropped, so it stays contiguous). The
    // WHERE mirrors the suffix-duplicate start filter (s=0 or the
    // previous window, ending at s+32-16, didn't reach the end).
    "q63_chunking" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, w, unnest(range(0, len(w), 16)) AS s FROM w)
        |SELECT doc_id, CAST(s / 16 AS INT) AS chunk_idx,
        |       md5(array_to_string(w[s+1 : least(s+32, len(w))], ' ')) AS chunk_md5,
        |       CAST(least(s+32, len(w)) - s AS INT) AS n_tokens
        |FROM c
        |WHERE s = 0 OR s + 16 < len(w)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q54_nodes_near" -> {
      val dHit = Derive.Sql.havM("CAST(18.45 AS DOUBLE)", "CAST(54.35 AS DOUBLE)", "lon", "lat")
      val dMiss = Derive.Sql.havM("CAST(18.0 AS DOUBLE)", "CAST(54.0 AS DOUBLE)", "lon", "lat")
      // Full BOTH-branch mirror of nodesNear for each query point (in-radius
      // if any node qualifies, else the k nearest) — which branch fires
      // depends on node density, i.e. on the scale factor, so the oracle
      // must decide it from the data exactly like the operator does.
      def near(cte: String, label: String, r: String, k: Int) =
        s"""(SELECT '$label' AS branch, node_idx, center_dist_m FROM $cte
           | WHERE (SELECT count(*) FROM $cte WHERE center_dist_m <= $r) > 0
           |   AND center_dist_m <= $r)
           |UNION ALL
           |(SELECT '$label' AS branch, node_idx, center_dist_m FROM $cte
           | WHERE (SELECT count(*) FROM $cte WHERE center_dist_m <= $r) = 0
           | QUALIFY row_number() OVER (ORDER BY center_dist_m, node_idx) <= $k)""".stripMargin
      s"""WITH ${Derive.Sql.nodes},
         |dh AS (SELECT node_idx, $dHit AS center_dist_m FROM nodes),
         |dm AS (SELECT node_idx, $dMiss AS center_dist_m FROM nodes)
         |SELECT branch, node_idx, round(center_dist_m, 3) AS center_dist_mm3 FROM (
         |${near("dh", "radius", "500.0", 200)}
         |UNION ALL
         |${near("dm", "knn", "100.0", 7)})
         |ORDER BY branch, node_idx""".stripMargin
    },

    // --------------------------------------------- event-stream oracles
    // epoch_us(ts) == Spark's `ts div 1000` on the nanos-long read (both
    // floor; all harness timestamps positive). DuckDB widens SUM to
    // HUGEINT, so every aggregate is CAST back to BIGINT for the gate.

    // Native DuckDB ASOF LEFT JOIN vs the Spark union-window shape; the
    // right side is pre-deduped to max-id per (user, ts) exactly like the
    // operator, so ties are deterministic in both engines.
    "q64_asof_join" ->
      """WITH ev AS (SELECT user_id, event_id AS id, epoch_us(ts) AS ts_us,
        |                  event_type, value FROM events),
        |p AS (SELECT user_id, id, ts_us, value FROM ev WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, id, ts_us, value FROM (
        |        SELECT *, row_number() OVER (PARTITION BY user_id, ts_us
        |                                     ORDER BY id DESC) AS rn
        |        FROM ev WHERE event_type = 'view')
        |      WHERE rn = 1)
        |SELECT p.user_id, p.id AS event_id, p.ts_us,
        |       CAST(round(p.value * 100) AS BIGINT) AS purchase_cents,
        |       v.id AS view_id, v.ts_us AS view_ts_us,
        |       CAST(round(v.value * 100) AS BIGINT) AS view_cents
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
        |ORDER BY 1, 2""".stripMargin,

    "q65_sessionize" ->
      """WITH ev AS (SELECT user_id, event_id AS id, epoch_us(ts) AS ts_us,
        |                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |g AS (SELECT user_id, id, ts_us, cents,
        |        CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id
        |               ORDER BY ts_us, id) <= 1800000000 THEN 0 ELSE 1 END AS new_sess
        |      FROM ev),
        |s AS (SELECT user_id, ts_us, cents,
        |        CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |      FROM g)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(ts_us) AS start_us, max(ts_us) AS end_us,
        |       max(ts_us) - min(ts_us) AS duration_us,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    "q66_time_rollup" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q67_rolling_window" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |                  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT user_id, event_id, ts_us,
        |       CAST(count(*) OVER w AS BIGINT) AS n_trail,
        |       CAST(sum(cents) OVER w AS BIGINT) AS sum_cents_trail
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "q68_json_props" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q69_funnel" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |entry AS (SELECT user_id, min(ts_us) AS entry_us
        |          FROM ev WHERE event_type = 'signup' GROUP BY user_id),
        |ex AS (SELECT e.user_id, e.entry_us,
        |              min(CASE WHEN p.ts_us > e.entry_us THEN p.ts_us END) AS exit_us
        |       FROM entry e LEFT JOIN ev p
        |         ON p.user_id = e.user_id AND p.event_type = 'purchase'
        |       GROUP BY e.user_id, e.entry_us)
        |SELECT user_id, entry_us, exit_us,
        |       CASE WHEN exit_us IS NOT NULL THEN 1 ELSE 0 END AS converted,
        |       exit_us - entry_us AS ttc_us
        |FROM ex ORDER BY user_id""".stripMargin,

    // SemDeDup: the q60 two-round Lloyd chain over the q42 planted-copy
    // corpus, a final c2 assignment, within-cluster cosine pairs >= 0.99,
    // keep-min survivors.
    "q70_semdedup" ->
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 20),
         |qv AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv FROM corpus),
         |${KmeansSql.twoRounds(k = 4, dim = 64)},
         |${KmeansSql.assign("c2", "a3", 64)},
         |pairs AS (
         |  SELECT b.vec_id AS dropped_id
         |  FROM a3 a JOIN a3 b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE ${LlmSql.cos("a.qv", "b.qv")} >= 0.99)
         |SELECT a.vec_id, a.cid FROM a3 a
         |WHERE NOT EXISTS (SELECT 1 FROM pairs d WHERE d.dropped_id = a.vec_id)
         |ORDER BY a.vec_id""".stripMargin,

    // Min-label-propagation fixpoint mirrored as a transitive-closure
    // recursive CTE: component(v) = min id reachable from v.
    "q71_components" ->
      s"""WITH RECURSIVE $minhashCandSql,
         |vp AS (
         |  SELECT id1, id2
         |  FROM cand JOIN sh s1 ON s1.doc_id = id1 JOIN sh s2 ON s2.doc_id = id2
         |  WHERE len(list_intersect(s1.sh, s2.sh)) / len(list_distinct(list_concat(s1.sh, s2.sh))) >= 0.5),
         |sym AS (SELECT id1 AS a, id2 AS b FROM vp UNION SELECT id2, id1 FROM vp),
         |reach(a, b) AS (
         |  SELECT a, a FROM sym GROUP BY a
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b)
         |SELECT a AS doc_id, min(b) AS component
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    "q72_jaccard_allpairs" ->
      s"""WITH ${LlmSql.docShingles},
         |idx AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM sh),
         |agg AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.sz AS s1, b.sz AS s2,
         |         count(*) AS inter
         |  FROM idx a JOIN idx b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |   AND least(a.sz, b.sz) >= 0.5 * greatest(a.sz, b.sz)
         |  GROUP BY 1, 2, 3, 4)
         |SELECT id1, id2, inter / (s1 + s2 - inter) AS jaccard
         |FROM agg WHERE inter / (s1 + s2 - inter) >= 0.5
         |ORDER BY id1, id2""".stripMargin,

    "q73_shuffle_shard" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |         CAST(concat('0x', substring(md5(concat('graft-r5:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
         |  FROM documents)
         |SELECT doc_id, CAST(h % 8 AS INTEGER) AS shard,
         |       CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
         |FROM h ORDER BY shard, pos""".stripMargin,

    // Five unrolled integer-mass PageRank rounds: contrib = rank // deg,
    // rank' = 150000 + 850·Σcontrib // 1000 — pure BIGINT arithmetic, so
    // any engine computes the identical result in any summation order.
    "q74_pagerank" -> {
      val rounds = (1 to 5).map { r =>
        s"""c$r AS (SELECT s.v AS node, sum(p.rank // d.deg) AS m
           |        FROM p${r - 1} p JOIN se s ON s.u = p.node
           |        JOIN dg d ON d.node = p.node
           |        GROUP BY s.v),
           |p$r AS (SELECT n.node,
           |               CAST(150000 + (850 * coalesce(c.m, 0)) // 1000 AS BIGINT) AS rank
           |        FROM pn n LEFT JOIN c$r c ON c.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.edges},
         |${Derive.Sql.symEdges},
         |se AS (SELECT DISTINCT u, v FROM sym WHERE u <> v),
         |pn AS (SELECT u AS node FROM se UNION SELECT v FROM se),
         |dg AS (SELECT u AS node, count(*) AS deg FROM se GROUP BY u),
         |p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM pn),
         |$rounds
         |SELECT node, rank AS rank_micro FROM p5 ORDER BY node""".stripMargin
    },

    "q75_quality_gate" ->
      """WITH scored AS (
        |  SELECT doc_id, len(list_distinct(w)) / len(w) AS uniq_ratio
        |  FROM (SELECT doc_id, string_split(text, ' ') w FROM documents)),
        |byval AS (SELECT uniq_ratio, count(*) AS cnt FROM scored GROUP BY uniq_ratio),
        |cum AS (SELECT uniq_ratio,
        |               sum(cnt) OVER (ORDER BY uniq_ratio
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |        FROM byval),
        |thr AS (SELECT min(CASE WHEN cum >= 0.25 * (SELECT sum(cnt) FROM byval)
        |                        THEN uniq_ratio END) AS thr FROM cum)
        |SELECT s.doc_id, s.uniq_ratio
        |FROM scored s, thr WHERE s.uniq_ratio >= thr.thr
        |ORDER BY doc_id""".stripMargin,

    "q76_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
        |idf AS (SELECT term,
        |               round(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / count(*)), 6) AS idf
        |        FROM tf GROUP BY term),
        |scored AS (
        |  SELECT t.doc_id, t.term, t.tf * i.idf AS score
        |  FROM tf t JOIN idf i ON i.term = t.term),
        |ranked AS (
        |  SELECT doc_id, term, score,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |           ORDER BY score DESC, term) AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, score FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // Mirrors cdcFeed + cdcSnapshot: latest (ts, id) row per user wins,
    // tombstoned keys ('error' → op 'd') drop out.
    "q77_cdc_snapshot" -> cdcSnapshotOracle,

    // Mirrors EventOps.scd2: run-collapse on event_type (lag), version =
    // row_number over surviving changes, interval close = lead.
    "q78_scd2" ->
      """WITH ev AS (SELECT user_id, event_id AS id, epoch_us(ts) AS ts_us,
        |                   event_type FROM events),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
        |                  ORDER BY ts_us, id) AS prev_state FROM ev),
        |k AS (SELECT user_id, id, ts_us, event_type FROM c
        |      WHERE prev_state IS NULL OR event_type <> prev_state),
        |v AS (SELECT user_id,
        |        CAST(row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts_us, id) AS INT) AS version,
        |        event_type, ts_us AS valid_from_us,
        |        lead(ts_us) OVER (PARTITION BY user_id
        |          ORDER BY ts_us, id) AS valid_to_us
        |      FROM k)
        |SELECT user_id, version, event_type, valid_from_us, valid_to_us,
        |       CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM v ORDER BY user_id, version""".stripMargin,

    // Mirrors bigramLmScore: c1 = bigram-prefix counts, c2 = bigram
    // counts, p_micro = (1e6*c2) div c1, score = floored per-doc mean.
    "q79_bigram_lm" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
        |        i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS bg
        |      FROM w WHERE len(w) >= 2),
        |bb AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM b),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bb GROUP BY w1),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bb GROUP BY w1, w2),
        |sc AS (SELECT bb.doc_id, (1000000 * c2.c2) // c1.c1 AS p_micro
        |       FROM bb JOIN c2 ON bb.w1 = c2.w1 AND bb.w2 = c2.w2
        |               JOIN c1 ON bb.w1 = c1.w1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(p_micro) // count(*) AS BIGINT) AS score_micro
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Mirrors containmentPairs: inverted index, count per directed pair,
    // containment = inter / |A| (exact small-int division).
    "q80_containment" -> containmentOracle,

    // Prefix filtering is result-invariant by the pigeonhole argument (the
    // exact verify kills false candidates) — SAME oracle as q80.
    "q113_containment_prefix" -> containmentOracle,

    "q81_bloom_decontaminate" -> decontOracle,

    // Mirrors the q82 URL synthesis + CorpusOps.canonicalUrl rule chain
    // (DuckDB regexp flavor: 'g' flag = Spark's replace-all, \1 = $1).
    "q82_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         'https://' ||
        |         (['Example.COM', 'example.com:443', 'news.site.org'])[CAST(doc_id % 3 AS INT) + 1] ||
        |         '/art/' || CAST(doc_id % 50 AS VARCHAR) ||
        |         (['?utm_source=feed', '/', '?id=7&utm_campaign=x', '#sec2'])[CAST(doc_id % 4 AS INT) + 1]
        |           AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(url, '#.*', '', 'g') AS u FROM u),
        |s2 AS (SELECT doc_id,
        |         regexp_replace(u, '(?:utm_[a-zA-Z]+|fbclid|gclid|ref)=[^&]*&?', '', 'g') AS u
        |       FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(u, '[?&]$', '', 'g') AS u FROM s2),
        |parts AS (
        |  SELECT doc_id,
        |         lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://.*', 1)) AS scheme,
        |         lower(regexp_extract(u, '^[^:]+://([^/?#]+).*', 1)) AS host,
        |         regexp_extract(u, '^[^:]+://[^/?#]*(.*)', 1) AS rest
        |  FROM s3),
        |canon AS (
        |  SELECT doc_id,
        |         scheme || '://' || regexp_replace(host, ':(80|443)$', '', 'g') ||
        |         CASE WHEN regexp_replace(rest, '^(.*[^/])/$', '\1', 'g') IN ('', '/')
        |              THEN '/' ELSE regexp_replace(rest, '^(.*[^/])/$', '\1', 'g') END
        |           AS canon_url
        |  FROM parts)
        |SELECT canon_url, min(doc_id) AS doc_id, count(*) AS n_variants
        |FROM canon GROUP BY canon_url ORDER BY canon_url""".stripMargin,

    // Mirrors lengthReport: reduce to distinct (lang, len), partitioned
    // cumsum, all-integer rank percentile.
    "q83_length_report" ->
      """WITH l AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS len
        |           FROM documents),
        |b AS (SELECT lang, len, count(*) AS cnt FROM l GROUP BY 1, 2),
        |c AS (SELECT lang, len, cnt,
        |        sum(cnt) OVER (PARTITION BY lang ORDER BY len
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER (PARTITION BY lang) AS n
        |      FROM b)
        |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
        |       min(CASE WHEN cum * 100 >= n * 50 THEN len END) AS p50_tok,
        |       min(CASE WHEN cum * 100 >= n * 90 THEN len END) AS p90_tok,
        |       min(CASE WHEN cum * 100 >= n * 99 THEN len END) AS p99_tok
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    // The DSv2 round-trip reads back what was written from `customer`, so
    // the oracle is the original table under the same filter/projection.
    "q84_dsv2_scan" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_nationkey < 5 AND c_acctbal >= 0
        |ORDER BY c_custkey""".stripMargin,

    "q85_vocab_report" ->
      """WITH tf AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |f AS (SELECT term, count(*) AS freq FROM tf GROUP BY term),
        |r AS (SELECT term, freq,
        |        CAST(row_number() OVER (ORDER BY freq DESC, term) AS INT) AS rank
        |      FROM f)
        |SELECT rank, term, freq FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin,

    // Mirrors packOffsets: q73's md5 shard/pos chain (seed graft-r6, 4
    // shards) + one per-shard cumsum window; HUGEINT window sums cast
    // back to BIGINT.
    "q86_pack_offsets" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substring(md5(concat('graft-r6:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |s AS (SELECT doc_id, CAST(h % 4 AS INTEGER) AS shard,
        |             CAST(row_number() OVER (PARTITION BY h % 4 ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        |      FROM h),
        |t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |      FROM documents),
        |c AS (SELECT s.doc_id, shard, pos, n_tok,
        |        CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_tok
        |      FROM s JOIN t ON s.doc_id = t.doc_id)
        |SELECT doc_id, shard, end_tok - n_tok AS start_tok, end_tok,
        |       CAST((end_tok - n_tok) // 64 AS BIGINT) AS first_seq,
        |       CAST((end_tok - 1) // 64 AS BIGINT) AS last_seq
        |FROM c ORDER BY shard, start_tok""".stripMargin,

    // The oracle asserts the exact counts and the 5% sketch contract as a
    // constant-true bound (the HLL estimate is engine-specific).
    "q87_distinct_sketch" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT lang, count(DISTINCT tok) AS n_distinct, TRUE AS approx_ok
        |FROM toks GROUP BY lang ORDER BY lang""".stripMargin,

    // The salted join must equal the PLAIN join — that equality is the
    // entire point of the gate row, so the oracle is the unsalted form.
    "q88_salted_join" ->
      """SELECT s_nationkey,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // Plain BETWEEN-style range join (DuckDB handles the inequality join
    // directly); intervals synthesized identically to the Spark side.
    "q89_range_join" ->
      """WITH ivs AS (
        |  SELECT CAST(i AS INTEGER) AS interval_id,
        |         CAST(i * 97 AS BIGINT) AS lo_day,
        |         CAST(i * 97 + 150 AS BIGINT) AS hi_day
        |  FROM generate_series(0, 24) t(i)),
        |pts AS (
        |  SELECT datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS d,
        |         CAST(round(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem),
        |hits AS (
        |  SELECT interval_id, count(*) AS n, CAST(sum(qty) AS BIGINT) AS sq
        |  FROM ivs JOIN pts ON d >= lo_day AND d < hi_day
        |  GROUP BY interval_id)
        |SELECT interval_id, lo_day, hi_day,
        |       coalesce(n, 0) AS n_items, coalesce(sq, 0) AS sum_qty
        |FROM ivs LEFT JOIN hits USING (interval_id)
        |ORDER BY interval_id""".stripMargin,

    // One UNION ALL branch per profiled column; strings/ints render via
    // CAST, the timestamp via strftime to match Spark's pinned format.
    "q90_profile" -> {
      def branch(c: String, isTs: Boolean): String = {
        val mn = if (isTs) s"strftime(min($c), '%Y-%m-%d %H:%M:%S')" else s"CAST(min($c) AS VARCHAR)"
        val mx = if (isTs) s"strftime(max($c), '%Y-%m-%d %H:%M:%S')" else s"CAST(max($c) AS VARCHAR)"
        s"""SELECT '$c' AS col_name, count($c) AS n_nonnull,
           |       count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct,
           |       $mn AS min_val, $mx AS max_val FROM lineitem""".stripMargin
      }
      (Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_returnflag", "l_linestatus").map(branch(_, isTs = false)) :+
        branch("l_shipdate", isTs = true))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // Exact pairs + exact Jaccard re-stated from the q72 oracle; the
    // estimator bound is engine-side (fixed hash family → deterministic),
    // asserted as a constant-true column like q87's sketch contract.
    "q91_minhash_estimate" ->
      s"""WITH ${LlmSql.docShingles},
         |idx AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM sh),
         |agg AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.sz AS s1, b.sz AS s2,
         |         count(*) AS inter
         |  FROM idx a JOIN idx b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |   AND least(a.sz, b.sz) >= 0.5 * greatest(a.sz, b.sz)
         |  GROUP BY 1, 2, 3, 4)
         |SELECT id1, id2, inter / (s1 + s2 - inter) AS jaccard, TRUE AS est_ok
         |FROM agg WHERE inter / (s1 + s2 - inter) >= 0.5
         |ORDER BY id1, id2""".stripMargin,

    // The window-rank form the native aggregate replaces: same ordering
    // contract (price desc, orderkey asc tie-break).
    "q92_native_topk" ->
      """WITH r AS (
        |  SELECT o_orderstatus,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |         o_orderkey,
        |         row_number() OVER (
        |           PARTITION BY o_orderstatus
        |           ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey
        |         ) AS rn
        |  FROM orders)
        |SELECT o_orderstatus, CAST(rn AS BIGINT) AS rn, price_c, o_orderkey
        |FROM r WHERE rn <= 3
        |ORDER BY o_orderstatus, rn""".stripMargin,

    // Positional 8-grams (1-based list slice w[i:i+7] = Spark's
    // slice(w, i+1, 8) at pos i), duplicated across ≥2 docs, coverage via
    // a bounded 0..7 position expansion, distinct, count per doc.
    "q93_dup_span_mask" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i:i+7], ' ')) AS g
        |      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
        |            FROM w WHERE len(w) >= 8)),
        |dup AS (SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT doc_id, pos + j AS p
        |        FROM g JOIN dup USING (g)
        |        CROSS JOIN generate_series(0, 7) s(j)),
        |cnt AS (SELECT doc_id, count(*) AS dup_tokens FROM cov GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(coalesce(cnt.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |       CAST(len(string_split(d.text, ' ')) - coalesce(cnt.dup_tokens, 0) AS BIGINT) AS kept_tokens
        |FROM documents d LEFT JOIN cnt USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q94_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_c,
        |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio,
        |         o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    // Conditional-aggregation mirror of the pivot: one CASE branch per
    // pivot value; a day×type cell with no rows is NULL on both sides.
    "q95_pivot" -> {
      val branches = Seq("click", "error", "purchase", "signup", "view").map { v =>
        s"""CAST(sum(CASE WHEN event_type = '$v'
           |         THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS "$v"""".stripMargin
      }
      s"""SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS day,
         |       ${branches.mkString(",\n       ")}
         |FROM events GROUP BY 1 ORDER BY day""".stripMargin
    },

    // The oracle is the FULL recompute — merged partials must equal it.
    "q96_incremental_agg" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_c,
        |       CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_c,
        |       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_c,
        |       CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |            // count(*) AS BIGINT) AS avg_c
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Four unrolled BPE rounds over the corpus vocabulary. Same wrapped
    // symbol encoding (" a  b "), same greedy left-to-right non-regex
    // replace, same (w DESC, l, r) argmax tie-break as Bpe.merges.
    "q97_bpe_merges" -> bpeMerges4Oracle,

    // The depth-2000 schedule's first 4 merges must equal the 4-round
    // replay — the SAME unrolled-CTE oracle as q97.
    "q309_bpe_deep" -> bpeMerges4Oracle,

    // Every distinct word must survive the full-depth encode→reassemble
    // roundtrip: the oracle is the word list itself with ok=true.
    "q316_bpe_deep_roundtrip" ->
      """SELECT w AS word, true AS ok
        |FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
        |      FROM documents)
        |WHERE len(w) > 0
        |ORDER BY word""".stripMargin,

    // The exact form the sketch must reproduce; the N-relative bar uses
    // the same ceil-division integer arithmetic as the engine
    // ((N*3 + 3999) // 4000, floored at 1).
    "q98_heavy_hitters" ->
      """SELECT l_partkey, count(*) AS freq FROM lineitem
        |GROUP BY l_partkey
        |HAVING count(*) >= GREATEST(1, ((SELECT count(*) FROM lineitem) * 3 + 3999) // 4000)
        |ORDER BY l_partkey""".stripMargin,

    // The clustered layout must be result-invariant: plain filter + agg
    // over the ORIGINAL table.
    "q99_zorder_scan" ->
      """SELECT l_partkey, count(*) AS n,
        |       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 500 AND 700 AND l_suppkey BETWEEN 50 AND 90
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,

    // Incremental merge must equal the full-feed snapshot — q77's oracle.
    "q100_merge_upsert" ->
      """WITH f AS (SELECT user_id, event_id AS id, epoch_us(ts) AS ts_us,
        |                  CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
        |                  CAST(round(value * 100) AS BIGINT) AS state_cents
        |           FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |                  ORDER BY ts_us DESC, id DESC) AS rn FROM f)
        |SELECT user_id, id, ts_us, state_cents FROM r
        |WHERE rn = 1 AND op <> 'd'
        |ORDER BY user_id""".stripMargin,

    // Identical default frames in both engines (RANGE UNBOUNDED PRECEDING
    // TO CURRENT ROW for first_value; whole-partition for ntile /
    // percent_rank / cume_dist); (ts_us, id) makes the order total so the
    // rational-valued ranks are bit-identical IEEE doubles.
    "q101_window_suite" ->
      """WITH ev AS (SELECT event_type, event_id AS id, epoch_us(ts) AS ts_us,
        |                   CAST(round(value * 100) AS BIGINT) AS value_c
        |            FROM events)
        |SELECT event_type, id, ts_us,
        |       lag(value_c, 1) OVER w AS prev_c,
        |       lead(value_c, 1) OVER w AS next_c,
        |       first_value(value_c) OVER w AS first_c,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume
        |FROM ev
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, id)
        |ORDER BY event_type, ts_us, id""".stripMargin,

    "q102_fuzzy_names" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part),
        |s AS (SELECT p_name, string_split(p_name, ' ')[2] AS noun FROM n)
        |SELECT a.p_name AS name1, b.p_name AS name2,
        |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM s a JOIN s b ON a.noun = b.noun AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY name1, name2""".stripMargin,

    // Plain inequality join (DuckDB plans IE-join natively) — the rule's
    // bucket expansion must be result-identical.
    "q103_range_join_rule" ->
      """WITH ivs AS (
        |  SELECT CAST(i AS INTEGER) AS interval_id,
        |         CAST(i * 97 AS BIGINT) AS lo_day,
        |         CAST(i * 97 + 150 AS BIGINT) AS hi_day
        |  FROM generate_series(0, 24) t(i)),
        |pts AS (
        |  SELECT datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS d,
        |         CAST(round(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem)
        |SELECT interval_id, count(*) AS n_items,
        |       CAST(sum(qty) AS BIGINT) AS sum_qty
        |FROM ivs JOIN pts ON d >= lo_day AND d < hi_day
        |GROUP BY interval_id ORDER BY interval_id""".stripMargin,

    // Same oriented-wedge enumeration (edgesDiag is already low→high).
    "q104_triangles" ->
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.edgesDiag},
         |tri AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM ediag e1
         |  JOIN ediag e2 ON e2.u = e1.v
         |  JOIN ediag e3 ON e3.u = e1.u AND e3.v = e2.v)
         |SELECT node, count(*) AS n_tri
         |FROM (SELECT unnest([a, b, c]) AS node FROM tri)
         |GROUP BY node ORDER BY node""".stripMargin,

    "q105_subqueries" ->
      """SELECT c_custkey,
        |       (SELECT count(*) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |       EXISTS(SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 90000) AS has_big
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "q106_set_ops" ->
      """WITH f AS (SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
        |     o AS (SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'O')
        |SELECT 'both' AS side, o_custkey, o_orderpriority, count(*) AS n FROM
        |  (SELECT * FROM f INTERSECT ALL SELECT * FROM o)
        |GROUP BY 2, 3
        |UNION ALL
        |SELECT 'f_only', o_custkey, o_orderpriority, count(*) FROM
        |  (SELECT * FROM f EXCEPT ALL SELECT * FROM o)
        |GROUP BY 2, 3
        |ORDER BY side, o_custkey, o_orderpriority""".stripMargin,

    "q107_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_c,
        |       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status,
        |         l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    // Round-trip must reproduce the ORIGINAL table exactly.
    "q108_orc_roundtrip" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    // Exact all-integer rank percentiles; the sketch bound is pinned TRUE
    // (the estimate itself is engine-specific, the bound is not).
    "q109_quantile_sketch" ->
      """WITH ev AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS value_c
        |            FROM events),
        |byv AS (SELECT event_type, value_c, count(*) AS cnt FROM ev GROUP BY 1, 2),
        |cum AS (SELECT event_type, value_c, cnt,
        |               sum(cnt) OVER (PARTITION BY event_type ORDER BY value_c) AS cum,
        |               sum(cnt) OVER (PARTITION BY event_type) AS n
        |        FROM byv)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
        |       CAST(min(CASE WHEN cum * 2 >= n THEN value_c END) AS BIGINT) AS p50_c,
        |       CAST(min(CASE WHEN cum * 10 >= n * 9 THEN value_c END) AS BIGINT) AS p90_c,
        |       TRUE AS p50_ok, TRUE AS p90_ok
        |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Same per-char counting (1-based substr indexing), same H formula
    // shape: ln(n) − Σc·ln(c)/n, rounded 5 dp.
    "q110_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, text[i] AS ch
        |  FROM (SELECT doc_id, text, unnest(range(1, len(text) + 1)) AS i
        |        FROM documents WHERE len(text) > 0)),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |agg AS (SELECT doc_id, sum(c) AS n_chars, count(*) AS n_distinct_chars,
        |               sum(c * ln(CAST(c AS DOUBLE))) AS clogc
        |        FROM c GROUP BY doc_id)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(n_distinct_chars AS BIGINT) AS n_distinct_chars,
        |       round(ln(CAST(n_chars AS DOUBLE)) - clogc / n_chars, 5) AS entropy_nat
        |FROM agg ORDER BY doc_id""".stripMargin,

    // Same constants (k1=1.2, b=0.75, Lucene +1 idf), same one-op-per-step
    // arithmetic shape, same 6-dp stage rounding and integer micro sum.
    "q111_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |         unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM toks
        |       WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2, 3),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |stats AS (SELECT count(*) AS n,
        |                 sum(len(string_split(text, ' '))) AS sum_dl
        |          FROM documents),
        |sc AS (SELECT tf.doc_id AS doc_id,
        |              CAST(round(1000000 * (
        |                round(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1), 6) *
        |                round(tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl /
        |                  round(CAST(s.sum_dl AS DOUBLE) / s.n, 6))), 6))) AS BIGINT) AS contrib
        |       FROM tf JOIN df d USING (term) CROSS JOIN stats s),
        |agg AS (SELECT doc_id, count(*) AS n_hit_terms,
        |               CAST(sum(contrib) AS BIGINT) AS score_micro
        |        FROM sc GROUP BY doc_id),
        |top AS (SELECT * FROM agg ORDER BY score_micro DESC, doc_id LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INT) AS rank,
        |       doc_id, score_micro, n_hit_terms
        |FROM top ORDER BY rank""".stripMargin,

    // 11 unrolled peel rounds (fixpoint at sf0.01 is round 9; peeling is
    // idempotent after that, so the spare rounds change nothing).
    // VALID AT sf0.01 ONLY: at a larger gate scale the erosion depth can
    // exceed 11, and then this ORACLE (not the engine — the engine loops
    // to a real fixpoint) returns a not-yet-converged edge set and the
    // gate fails with a misleading hash mismatch. If the gate scale ever
    // changes, re-measure the fixpoint depth and regenerate the round
    // count (round-6 advice).
    "q112_kcore" -> {
      // MATERIALIZED: each round references its predecessor several times
      // — default CTE inlining would expand the 11-round chain
      // exponentially (observed as a file-handle blowup on the base scan).
      def round(i: Int): String = {
        val prev = s"e${i - 1}"
        s"""d$i AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
           |  SELECT u AS node FROM $prev UNION ALL SELECT v AS node FROM $prev)
           |  GROUP BY node),
           |e$i AS MATERIALIZED (SELECT u, v FROM $prev
           |  WHERE u IN (SELECT node FROM d$i WHERE deg >= 3)
           |    AND v IN (SELECT node FROM d$i WHERE deg >= 3))""".stripMargin
      }
      val rounds = (1 to 11).map(round).mkString(",\n")
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.edgesDiag},
         |e0 AS MATERIALIZED (SELECT u, v FROM ediag WHERE (u * 37 + v * 61) % 100 < 85),
         |$rounds
         |SELECT node, count(*) AS deg FROM (
         |  SELECT u AS node FROM e11 UNION ALL SELECT v AS node FROM e11)
         |GROUP BY node ORDER BY node""".stripMargin
    },

    // DuckDB plans the correlated lateral natively; same text as Spark.
    "q114_lateral" ->
      """SELECT n_name, c.c_custkey, c.c_acctbal
        |FROM nation, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin,

    // Plain inequality overlap join — the bucket expansion must be
    // result-identical, each pair exactly once.
    "q115_interval_overlap" ->
      """WITH promos AS (
        |  SELECT CAST(i AS INTEGER) AS promo_id,
        |         CAST(i * 97 AS BIGINT) AS p_lo,
        |         CAST(i * 97 + 150 AS BIGINT) AS p_hi
        |  FROM generate_series(0, 24) t(i)),
        |sp AS (
        |  SELECT datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS o_lo,
        |         datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |           + 1 + o_orderkey % 60 AS o_hi,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders)
        |SELECT promo_id, count(*) AS n_orders,
        |       CAST(sum(price_c) AS BIGINT) AS sum_price_c
        |FROM promos JOIN sp ON p_lo < o_hi AND o_lo < p_hi
        |GROUP BY promo_id ORDER BY promo_id""".stripMargin,

    // Four independent 2-round Lloyd chains (one per 16-dim subspace, the
    // q60 CTE machinery with prefixed names), a final assignment per
    // subspace for the codes, then ADC: per-query × sub-centroid exact
    // integer distance table joined to the codes and summed.
    "q116_pq_ann" -> {
      val m = 4; val sub = 16; val ksub = 8
      def qvS(s: Int): String =
        s"""qv$s AS (SELECT vec_id,
           |  ${LlmSql.qvec(s"embedding[${s * sub + 1}:${(s + 1) * sub}]")} AS qv
           |  FROM embeddings)""".stripMargin
      val qvs = (0 until m).map(qvS).mkString(",\n")
      val chains = (0 until m)
        .map(s => KmeansSql.twoRounds(ksub, sub, prefix = s"s$s", src = s"qv$s"))
        .mkString(",\n")
      val finals = (0 until m)
        .map(s => KmeansSql.assign(s"s${s}c2", s"s${s}a3", sub, src = s"qv$s"))
        .mkString(",\n")
      val codes = (0 until m)
        .map(s => s"SELECT vec_id, $s AS s, cid FROM s${s}a3")
        .mkString("\nUNION ALL ")
      val dts = (0 until m).map(s =>
        s"""SELECT q.vec_id AS qid, $s AS s, c.cid,
           |       list_sum(list_transform(range(1, ${sub + 1}),
           |         i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS d
           |FROM qv$s q CROSS JOIN s${s}c2 c WHERE q.vec_id < 3""".stripMargin)
        .mkString("\nUNION ALL ")
      s"""WITH $qvs,
         |$chains,
         |$finals,
         |codes AS MATERIALIZED ($codes),
         |dt AS MATERIALIZED ($dts),
         |adist AS (
         |  SELECT dt.qid, codes.vec_id, CAST(sum(dt.d) AS BIGINT) AS adist
         |  FROM codes JOIN dt ON dt.s = codes.s AND dt.cid = codes.cid
         |  WHERE dt.qid <> codes.vec_id
         |  GROUP BY dt.qid, codes.vec_id),
         |ranked AS (
         |  SELECT qid, CAST(row_number() OVER (
         |           PARTITION BY qid ORDER BY adist, vec_id) AS INT) AS rank,
         |         vec_id, adist
         |  FROM adist)
         |SELECT qid, rank, vec_id, adist FROM ranked
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
    },

    "q117_cohort_retention" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk
        |            FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id)
        |SELECT cohort_wk, wk - cohort_wk AS wk_offset,
        |       count(DISTINCT user_id) AS n_users
        |FROM ev JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The merged view IS the oracle: generation 1 rows null-fill the
    // column generation 2 added.
    "q118_schema_evolution" ->
      """SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey,
        |       CAST(1 AS INT) AS v
        |FROM nation
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey, CAST(2 AS INT) AS v
        |FROM nation
        |ORDER BY v, n_nationkey""".stripMargin,

    // Same cleared-denominator integer predicate (DuckDB's HUGEINT sums
    // only widen it; values are identical).
    "q119_zscore_outliers" ->
      """WITH ev AS (SELECT event_id, event_type,
        |                   CAST(round(value * 100) AS BIGINT) AS value_c
        |            FROM events),
        |st AS (SELECT event_type, count(*) AS n, sum(value_c) AS s,
        |              sum(value_c * value_c) AS ss
        |       FROM ev GROUP BY event_type)
        |SELECT event_id, event_type, value_c
        |FROM ev JOIN st USING (event_type)
        |WHERE (n * value_c - s) * (n * value_c - s) > 4 * (n * ss - s * s)
        |ORDER BY event_id""".stripMargin,

    // The oracle IS the full recompute — the incremental union must
    // reproduce it exactly.
    "q120_incremental_join" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q121_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderpriority), ())
        |ORDER BY g_status, g_prio,
        |         o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    // The oracle stacks the three measures explicitly — it checks Spark's
    // UNPIVOT surface, so it must not itself depend on UNPIVOT dialect.
    "q122_unpivot" ->
      """WITH agg AS (
        |  SELECT l_returnflag,
        |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
        |         CAST(sum(CAST(round(l_discount * 1000) AS BIGINT)) AS BIGINT) AS sum_disc_milli
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
        |UNION ALL
        |SELECT l_returnflag, 'sum_price_c', sum_price_c FROM agg
        |UNION ALL
        |SELECT l_returnflag, 'sum_disc_milli', sum_disc_milli FROM agg
        |ORDER BY l_returnflag, measure""".stripMargin,

    // DuckDB spells IGNORE NULLS inside the call; semantics identical.
    "q123_ignore_nulls" ->
      """WITH ev AS (SELECT user_id, event_id AS id, epoch_us(ts) AS ts_us,
        |                   CASE WHEN event_type = 'error' THEN NULL
        |                        ELSE CAST(round(value * 100) AS BIGINT) END AS v
        |            FROM events)
        |SELECT user_id, id, v,
        |       last_value(v IGNORE NULLS) OVER w2 AS filled,
        |       lag(v IGNORE NULLS) OVER w1 AS prev_seen
        |FROM ev
        |WINDOW w1 AS (PARTITION BY user_id ORDER BY ts_us, id),
        |       w2 AS (PARTITION BY user_id ORDER BY ts_us, id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, id""".stripMargin,

    // Write+read round-trip must reproduce the ORIGINAL table (doubles
    // textual via Double.toString — exact round-trip by definition).
    "q124_dsv2_write" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // Compaction changes layout, never contents.
    "q125_compaction" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q126_market_share" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        |       sn.n_name AS supp_nation,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS volume_c,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // IS NOT DISTINCT FROM == Spark's <=>.
    "q127_null_safe_join" ->
      """WITH ev AS (SELECT event_id,
        |                   CASE WHEN event_type = 'error' THEN NULL
        |                        ELSE event_type END AS etype
        |            FROM events),
        |dim(etype, bucket) AS (VALUES
        |  ('click', CAST(1 AS BIGINT)), ('view', 2), ('purchase', 3),
        |  ('signup', 4), (NULL, 99))
        |SELECT bucket, count(*) AS n_events
        |FROM ev LEFT JOIN dim ON ev.etype IS NOT DISTINCT FROM dim.etype
        |GROUP BY bucket ORDER BY bucket NULLS FIRST""".stripMargin,

    // Replay the same 4 learned merges over each vocabulary word (the
    // q97 wrapped-symbol encoding; merges applied in training order).
    "q128_bpe_encode" ->
      s"""$bpeReplayPrefix
         |SELECT word, CAST(freq AS BIGINT) AS freq,
         |       array_to_string(string_split(trim(repr), '  '), '|') AS tokens,
         |       CAST(len(string_split(trim(repr), '  ')) AS BIGINT) AS n_tokens
         |FROM r4 ORDER BY word""".stripMargin,

    "q129_variant" ->
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 7 AS k_mod,
        |       count(*) AS n, min(event_id) AS first_event
        |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin,

    "q130_windowed_distinct" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
        |            FROM events WHERE user_id < 10)
        |SELECT user_id, event_id,
        |       count(DISTINCT event_type) OVER (
        |         PARTITION BY user_id ORDER BY ts_us, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_types_seen
        |FROM ev ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q131_median" ->
      """SELECT event_type,
        |       median(CAST(round(value * 100) AS BIGINT)) AS median_c,
        |       count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q132_funnel3" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (SELECT user_id, min(ts_us) AS t_signup FROM ev
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT s1.user_id AS user_id, t_signup,
        |              min(CASE WHEN e.ts_us > t_signup THEN e.ts_us END) AS t_view
        |       FROM s1 LEFT JOIN ev e
        |         ON e.user_id = s1.user_id AND e.event_type = 'view'
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id AS user_id, t_signup, t_view,
        |              min(CASE WHEN e.ts_us > t_view THEN e.ts_us END) AS t_purchase
        |       FROM s2 LEFT JOIN ev e
        |         ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |       GROUP BY 1, 2, 3)
        |SELECT user_id, t_signup, t_view, t_purchase,
        |       CAST(t_view IS NOT NULL AS BIGINT)
        |         + CAST(t_purchase IS NOT NULL AS BIGINT) + 1 AS stages_reached
        |FROM s3 ORDER BY user_id""".stripMargin,

    "q133_time_weighted_avg" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |                   CAST(round(value * 100) AS BIGINT) AS value_c
        |            FROM events),
        |l AS (SELECT user_id, value_c, ts_us,
        |             lead(ts_us) OVER (PARTITION BY user_id
        |                               ORDER BY ts_us, event_id) AS next_us
        |      FROM ev)
        |SELECT user_id, count(*) AS n_intervals,
        |       CAST(sum(next_us - ts_us) AS BIGINT) AS span_us,
        |       CAST(sum(value_c * (next_us - ts_us)) // sum(next_us - ts_us) AS BIGINT) AS twa_c
        |FROM l WHERE next_us IS NOT NULL
        |GROUP BY user_id HAVING sum(next_us - ts_us) > 0
        |ORDER BY user_id""".stripMargin,

    "q134_winsorized_mean" ->
      """WITH ev AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS value_c
        |            FROM events),
        |byv AS (SELECT event_type, value_c, count(*) AS cnt FROM ev GROUP BY 1, 2),
        |cum AS (SELECT event_type, value_c, cnt,
        |               sum(cnt) OVER (PARTITION BY event_type ORDER BY value_c) AS cum,
        |               sum(cnt) OVER (PARTITION BY event_type) AS n
        |        FROM byv),
        |bands AS (SELECT event_type,
        |                 CAST(min(CASE WHEN cum * 100 >= n * 5 THEN value_c END) AS BIGINT) AS p05_c,
        |                 CAST(min(CASE WHEN cum * 100 >= n * 95 THEN value_c END) AS BIGINT) AS p95_c
        |          FROM cum GROUP BY event_type)
        |SELECT ev.event_type AS event_type, p05_c, p95_c, count(*) AS n,
        |       CAST(sum(greatest(p05_c, least(p95_c, value_c)))
        |            // count(*) AS BIGINT) AS wins_mean_c
        |FROM ev JOIN bands ON ev.event_type = bands.event_type
        |GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin,

    // Each event belongs to exactly two 10-min/5-min hop windows: the
    // 5-min floor and the one before it.
    "q135_hopping_window" ->
      """WITH ev AS (SELECT epoch_us(ts) AS us, event_type,
        |                   CAST(round(value * 100) AS BIGINT) AS v_c
        |            FROM events),
        |hop AS (SELECT (us // 300000000) * 300000000 - k * 300000000 AS win_start_us,
        |               event_type, v_c
        |        FROM ev CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1)) t(k))
        |SELECT win_start_us, event_type, count(*) AS n,
        |       CAST(sum(v_c) AS BIGINT) AS sum_c
        |FROM hop GROUP BY 1, 2 ORDER BY win_start_us, event_type""".stripMargin,

    "q136_hof_surface" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id,
        |       CAST(len(list_filter(w, t -> len(t) >= 5)) AS BIGINT) AS n_long_tokens,
        |       CAST(list_contains(w, 'spark') AS BIGINT) AS has_spark,
        |       CAST(list_sum(list_transform(w, t -> len(t))) AS BIGINT) AS sum_token_len,
        |       CAST(list_max(list_transform(w, t -> len(t))) AS BIGINT) AS max_token_len
        |FROM d ORDER BY doc_id""".stripMargin,

    // Exact top-10 by (freq DESC, key); membership in the exact-capacity
    // sketch is pinned TRUE.
    "q137_approx_topk" ->
      """SELECT l_partkey, count(*) AS freq, CAST(1 AS BIGINT) AS in_sketch_top20
        |FROM lineitem GROUP BY l_partkey
        |ORDER BY freq DESC, l_partkey LIMIT 10""".stripMargin,

    "q138_regex_extract" ->
      """WITH x AS (SELECT event_type,
        |                  unnest(regexp_extract_all(props, '[0-9]+')) AS num
        |           FROM events)
        |SELECT event_type, count(*) AS n_nums,
        |       CAST(sum(CAST(num AS BIGINT)) AS BIGINT) AS sum_nums
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q139_constraint_audit" ->
      """SELECT 'lineitem_orphan_order' AS "check", count(*) AS violations
        |FROM lineitem WHERE NOT EXISTS
        |  (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |UNION ALL
        |SELECT 'order_orphan_customer', count(*) FROM orders WHERE NOT EXISTS
        |  (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |UNION ALL
        |SELECT 'negative_extendedprice', count(*) FROM lineitem
        |WHERE l_extendedprice < 0
        |UNION ALL
        |SELECT 'null_orderkey', count(*) FROM orders WHERE o_orderkey IS NULL
        |UNION ALL
        |SELECT 'duplicate_orderkey', count(*) FROM
        |  (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
        |UNION ALL
        |SELECT 'error_events_canary', count(*) FROM events
        |WHERE event_type = 'error'
        |ORDER BY "check"""".stripMargin,

    // q78's interval machinery + the probe containment join.
    "q140_scd2_lookup" ->
      """WITH ev AS (SELECT user_id, event_id AS id, epoch_us(ts) AS ts_us,
        |                   event_type FROM events),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
        |                  ORDER BY ts_us, id) AS prev_state FROM ev),
        |k AS (SELECT user_id, id, ts_us, event_type FROM c
        |      WHERE prev_state IS NULL OR event_type <> prev_state),
        |v AS (SELECT user_id,
        |        CAST(row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts_us, id) AS INT) AS version,
        |        event_type, ts_us AS valid_from_us,
        |        lead(ts_us) OVER (PARTITION BY user_id
        |          ORDER BY ts_us, id) AS valid_to_us
        |      FROM k),
        |p AS (SELECT user_id, event_id, epoch_us(ts) AS p_us FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.user_id AS user_id, event_id, version, v.event_type AS state
        |FROM p JOIN v ON v.user_id = p.user_id
        |  AND p_us >= valid_from_us
        |  AND (valid_to_us IS NULL OR p_us < valid_to_us)
        |ORDER BY user_id, event_id""".stripMargin,

    // Nest → unnest must reproduce the original relation.
    "q141_nested_roundtrip" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q142_week_rollup" ->
      """SELECT datediff('day', DATE '1970-01-01',
        |                CAST(date_trunc('week', o_orderdate) AS DATE)) AS week_day,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_c
        |FROM orders GROUP BY 1 ORDER BY week_day""".stripMargin,

    "q143_conditional_aggs" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |                   CAST(round(value * 100) AS BIGINT) AS value_c
        |            FROM events)
        |SELECT user_id,
        |       CAST(count_if(event_type = 'purchase') AS BIGINT) AS n_purchases,
        |       bool_or(event_type = 'error') AS had_error,
        |       bool_and(value_c >= 0) AS all_nonneg,
        |       max_by(event_type, event_id) AS last_type,
        |       min_by(event_type, event_id) AS first_type
        |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q144_share_rank" ->
      """WITH rev AS (
        |  SELECT n_name,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name)
        |SELECT n_name, revenue_c,
        |       CAST((1000000 * revenue_c) // sum(revenue_c) OVER () AS BIGINT) AS share_ppm,
        |       CAST(rank() OVER (ORDER BY revenue_c DESC) AS BIGINT) AS rnk,
        |       CAST(dense_rank() OVER (ORDER BY revenue_c DESC) AS BIGINT) AS dense_rnk
        |FROM rev ORDER BY rnk, n_name""".stripMargin,

    // Brute-force forward attribution: per-(user, ts) the MIN-id error is
    // the representative (the time-reversed dedup rule), then the
    // earliest representative at or after each purchase.
    "q145_asof_forward" ->
      """WITH ev AS (SELECT user_id, event_id AS id, epoch_us(ts) AS ts_us,
        |                   event_type,
        |                   CAST(round(value * 100) AS BIGINT) AS value_c
        |            FROM events),
        |p AS (SELECT user_id, id, ts_us FROM ev WHERE event_type = 'purchase'),
        |e AS (SELECT user_id, id AS rid, ts_us AS rts, value_c FROM ev
        |      WHERE event_type = 'error'),
        |ed AS (SELECT user_id, rts, min(rid) AS rid FROM e GROUP BY 1, 2),
        |edv AS (SELECT ed.user_id AS user_id, ed.rts AS rts, ed.rid AS rid,
        |               e.value_c AS value_c
        |        FROM ed JOIN e ON e.user_id = ed.user_id
        |          AND e.rts = ed.rts AND e.rid = ed.rid),
        |nt AS (SELECT p.user_id AS user_id, p.id AS id, min(v.rts) AS a_ts
        |       FROM p LEFT JOIN edv v
        |         ON v.user_id = p.user_id AND v.rts >= p.ts_us
        |       GROUP BY 1, 2)
        |SELECT nt.user_id AS user_id, nt.id AS id, v.rid AS asof_id,
        |       nt.a_ts AS asof_ts_us, v.value_c AS asof_value_c
        |FROM nt LEFT JOIN edv v
        |  ON v.user_id = nt.user_id AND v.rts = nt.a_ts
        |ORDER BY user_id, id""".stripMargin,

    // The decode gate's proof: every value the ENGINE produced by
    // ImageIO-decoding a PNG it encoded is recomputed here from the pixel
    // law alone (lossless codec => decoded pixels == generated pixels).
    // Integer-only arithmetic on both sides: x*255//(w-1) gradients,
    // Rec.601 milli-luma 299r+587g+114b, band = y*4//h.
    "q146_imageio_decode" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |                  16 + CAST(doc_id % 17 AS INT) AS w,
        |                  16 + CAST(doc_id % 13 AS INT) AS h
        |           FROM documents WHERE doc_id < 200),
        |ys AS (SELECT doc_id, w, h, unnest(range(0, h)) AS y FROM d),
        |px AS (SELECT doc_id, w, h, y, unnest(range(0, w)) AS x FROM ys),
        |lum AS (SELECT doc_id, w, h, y * 4 // h AS band,
        |               299 * (x * 255 // (w - 1)) + 587 * (y * 255 // (h - 1)) +
        |               114 * ((x + y + doc_id % 256) % 256) AS luma
        |        FROM px)
        |SELECT doc_id, 'png' AS format,
        |       any_value(w) AS width, any_value(h) AS height,
        |       CAST(sum(CASE WHEN band = 0 THEN luma END) AS BIGINT) AS band0_luma1000,
        |       CAST(sum(CASE WHEN band = 1 THEN luma END) AS BIGINT) AS band1_luma1000,
        |       CAST(sum(CASE WHEN band = 2 THEN luma END) AS BIGINT) AS band2_luma1000,
        |       CAST(sum(CASE WHEN band = 3 THEN luma END) AS BIGINT) AS band3_luma1000
        |FROM lum GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same proof for audio: the sample law i·(user_id%16+3) mod 8192 −
    // 4096 is recomputed per decoded frame; band = i*4//n, |amplitude|
    // sums in exact integers.
    "q147_wav_decode" ->
      """WITH u AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id
        |           FROM events WHERE user_id < 100),
        |d AS (SELECT user_id, 400 + CAST(user_id % 7 AS INT) * 50 AS n FROM u),
        |s AS (SELECT user_id, n, unnest(range(0, n)) AS i FROM d),
        |v AS (SELECT user_id, n, i * 4 // n AS band,
        |             abs((i * (user_id % 16 + 3)) % 8192 - 4096) AS a
        |      FROM s)
        |SELECT user_id, 'wav' AS format,
        |       CAST(any_value(n) AS BIGINT) AS n_frames,
        |       CAST(1 AS INT) AS channels,
        |       CAST(sum(CASE WHEN band = 0 THEN a END) AS BIGINT) AS band0_abs,
        |       CAST(sum(CASE WHEN band = 1 THEN a END) AS BIGINT) AS band1_abs,
        |       CAST(sum(CASE WHEN band = 2 THEN a END) AS BIGINT) AS band2_abs,
        |       CAST(sum(CASE WHEN band = 3 THEN a END) AS BIGINT) AS band3_abs
        |FROM v GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Line dedup: 10-word lines, global first-occurrence keep
    // (row_number over the LINE TEXT ordered by doc, pos), docs rebuilt
    // from survivors in position order; the boilerplate injection matches
    // the engine side verbatim.
    "q148_line_dedup" ->
      """WITH src AS (SELECT doc_id,
        |        CASE WHEN doc_id % 4 = 0
        |             THEN 'bl0 bl1 bl2 bl3 bl4 bl5 bl6 bl7 bl8 bl9 ' || text
        |             ELSE text END AS text
        |      FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM src),
        |l AS (SELECT doc_id, CAST(s // 10 AS INT) AS pos,
        |             array_to_string(w[s+1 : least(s+10, len(w))], ' ') AS line
        |      FROM (SELECT doc_id, w, unnest(range(0, len(w), 10)) AS s FROM w)),
        |kept AS (SELECT doc_id, pos, line FROM l
        |         QUALIFY row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1),
        |agg AS (SELECT doc_id, count(*) AS kept_lines,
        |               string_agg(line, ' ' ORDER BY pos) AS text_dedup
        |        FROM kept GROUP BY doc_id)
        |SELECT w.doc_id, (len(w.w) + 9) // 10 AS n_lines,
        |       COALESCE(a.kept_lines, CAST(0 AS BIGINT)) AS kept_lines,
        |       COALESCE(a.text_dedup, '') AS text_dedup
        |FROM w LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Pointer jumping's oracle is the naive walk the operator replaces: a
    // depth-many recursive CTE up the same deterministic forest.
    "q149_pointer_jumping" ->
      """WITH RECURSIVE p AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN doc_id = 0 THEN 0
        |              ELSE doc_id - 1 -
        |                   (CAST(concat('0x', substring(md5('pj:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |                    % least(doc_id, 5)) END AS parent
        |  FROM documents),
        |walk AS (
        |  SELECT id, parent AS anc,
        |         CASE WHEN parent = id THEN 0 ELSE 1 END AS depth FROM p
        |  UNION ALL
        |  SELECT w.id, p2.parent AS anc, w.depth + 1 AS depth
        |  FROM walk w JOIN p p2 ON p2.id = w.anc
        |  WHERE p2.parent <> p2.id)
        |SELECT id AS doc_id, anc AS root, CAST(depth AS BIGINT) AS depth
        |FROM walk
        |QUALIFY row_number() OVER (PARTITION BY id ORDER BY depth DESC) = 1
        |ORDER BY doc_id""".stripMargin,

    // Priority sampling: qᵢ = wᵢ·2³² div (h32+1), all positive integers,
    // so // (floor) ≡ div (trunc).
    "q150_priority_sample" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
        |       (CAST(n_chars AS BIGINT) * 4294967296) //
        |       (CAST(concat('0x', substring(md5('graft-ps:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
        |         AS priority
        |FROM documents
        |ORDER BY priority DESC, doc_id
        |LIMIT 25""".stripMargin,

    // int8 quantization mirror: same ×1e7 integer domain, same
    // round(p/q) = (2p+q) div 2q identity, same cosine expression.
    "q151_int8_quant" ->
      s"""WITH v AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv FROM embeddings),
         |mm AS (SELECT vec_id, qv,
         |              list_max(list_transform(qv, x -> abs(x))) AS m FROM v),
         |q8t AS (SELECT vec_id, qv, m,
         |               list_transform(qv, x ->
         |                 CAST(CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END AS BIGINT)
         |                 * ((2 * abs(x) * 127 + greatest(m, 1)) // (2 * greatest(m, 1)))) AS q8
         |        FROM mm)
         |SELECT vec_id, m,
         |       CAST(list_sum(list_transform(q8, x -> CASE WHEN x <> 0 THEN 1 ELSE 0 END)) AS BIGINT) AS nnz8,
         |       CAST(list_sum(q8) AS BIGINT) AS sum_q8,
         |       CAST(floor(${LlmSql.cos("qv", "q8")} * 1e6) AS BIGINT) AS cos8_micro
         |FROM q8t ORDER BY vec_id""".stripMargin,

    // Calendar surface: DuckDB isodow == Spark weekday+1 (Mon=1);
    // both engines clamp month-add to the last day of shorter months.
    "q152_calendar" ->
      """SELECT o_orderkey,
        |       datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
        |       datediff('day', DATE '1970-01-01', CAST(date_trunc('quarter', o_orderdate) AS DATE)) AS quarter_day,
        |       datediff('day', DATE '1970-01-01', CAST(date_trunc('week', o_orderdate) AS DATE)) AS week_day,
        |       datediff('day', DATE '1970-01-01', last_day(CAST(o_orderdate AS DATE))) AS month_end_day,
        |       isodow(o_orderdate) AS isodow,
        |       datediff('day', DATE '1970-01-01', CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE)) AS next_month_day
        |FROM orders WHERE o_orderkey % 97 = 0
        |ORDER BY o_orderkey""".stripMargin,

    // Skyline oracle: the quadratic NOT EXISTS dominance join over the
    // same distinct coordinates.
    "q153_skyline" ->
      """WITH pts AS (SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS cost,
        |                    CAST(p_size AS BIGINT) AS gain, count(*) AS n_rows
        |             FROM part GROUP BY 1, 2)
        |SELECT cost, gain, n_rows FROM pts p
        |WHERE NOT EXISTS (SELECT 1 FROM pts q
        |                  WHERE q.cost <= p.cost AND q.gain >= p.gain
        |                    AND (q.cost < p.cost OR q.gain > p.gain))
        |ORDER BY cost, gain""".stripMargin,

    // Histogram: [0,500)/20 → width 25.0 (exactly representable); edge
    // buckets clamp; sums in integer cents.
    "q154_histogram" ->
      """WITH b AS (SELECT least(greatest(CAST(floor((value - 0.0) / 25.0) AS BIGINT), 0), 19) AS bucket,
        |                  CAST(round(value * 100) AS BIGINT) AS v_c
        |           FROM events)
        |SELECT bucket, CAST(bucket AS DOUBLE) * 25.0 AS lo_edge,
        |       count(*) AS n, CAST(sum(v_c) AS BIGINT) AS sum_c
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // Table diff oracle: brute-force full outer join of the same base and
    // deterministically drifted copy the engine compares bucket-first.
    "q155_table_diff" ->
      """WITH base AS (SELECT o_orderkey,
        |                     CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |              FROM orders),
        |drifted AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 501 = 0 THEN price_c + 1 ELSE price_c END AS price_c
        |  FROM base WHERE o_orderkey % 503 <> 0
        |  UNION ALL
        |  SELECT * FROM (VALUES (9000001, 42), (9000002, 43)) t(o_orderkey, price_c)),
        |j AS (SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |             CASE WHEN b.o_orderkey IS NULL THEN 'missing_b'
        |                  WHEN a.o_orderkey IS NULL THEN 'missing_a'
        |                  WHEN a.price_c <> b.price_c THEN 'changed' END AS status
        |      FROM base a FULL JOIN drifted b ON a.o_orderkey = b.o_orderkey)
        |SELECT o_orderkey, status FROM j WHERE status IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,

    // Per-source top-5 by the q150 priority formula; the oracle ranks
    // with the window the engine's bounded aggregate replaces.
    "q156_group_priority_sample" ->
      """WITH p AS (
        |  SELECT source, doc_id,
        |         (CAST(n_chars AS BIGINT) * 4294967296) //
        |         (CAST(concat('0x', substring(md5('graft-ps:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
        |           AS priority
        |  FROM documents),
        |r AS (SELECT source,
        |             CAST(row_number() OVER (
        |               PARTITION BY source
        |               ORDER BY priority DESC, doc_id) AS BIGINT) AS rn,
        |             priority, doc_id
        |      FROM p)
        |SELECT source, rn, priority, doc_id FROM r
        |WHERE rn <= 5 ORDER BY source, rn""".stripMargin,

    // Same two-window island scan in DuckDB — identical (lo, hi) sort
    // keys, strict-gap island starts (touching spans merge).
    "q157_interval_coalesce" ->
      """WITH iv AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS cust,
        |         CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS lo,
        |         CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
        |           + 5 + o_orderkey % 25 AS hi
        |  FROM orders),
        |m AS (SELECT cust, lo, hi,
        |             max(hi) OVER (PARTITION BY cust ORDER BY lo, hi
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_hi
        |      FROM iv),
        |f AS (SELECT cust, lo, hi,
        |             CASE WHEN prev_hi IS NULL OR lo > prev_hi THEN 1 ELSE 0 END AS brk
        |      FROM m),
        |i AS (SELECT cust, lo, hi,
        |             sum(brk) OVER (PARTITION BY cust ORDER BY lo, hi
        |               ROWS UNBOUNDED PRECEDING) AS island
        |      FROM f)
        |SELECT cust, min(lo) AS lo, max(hi) AS hi, count(*) AS n_merged
        |FROM i GROUP BY cust, island
        |ORDER BY cust, lo""".stripMargin,

    // MAD mirror: medians doubled into integer lanes exactly as the
    // engine does (m2 half-cents, dev2 integer, mad4 quarter-cents).
    "q158_mad_outliers" ->
      """WITH ev AS (SELECT event_id, event_type,
        |                   CAST(round(value * 100) AS BIGINT) AS value_c
        |            FROM events),
        |med AS (SELECT event_type,
        |               CAST(round(2 * median(value_c)) AS BIGINT) AS m2
        |        FROM ev GROUP BY event_type),
        |dev AS (SELECT event_id, ev.event_type, value_c,
        |               abs(2 * value_c - m2) AS dev2
        |        FROM ev JOIN med USING (event_type)),
        |mad AS (SELECT event_type,
        |               CAST(round(2 * median(dev2)) AS BIGINT) AS mad4
        |        FROM dev GROUP BY event_type)
        |SELECT event_id, d.event_type, value_c, dev2
        |FROM dev d JOIN mad USING (event_type)
        |WHERE 2 * dev2 > 3 * mad4
        |ORDER BY event_id""".stripMargin,

    // Markov mirror: same per-user (ts, event_id) successor order, same
    // integer div probability.
    "q159_markov_transitions" ->
      """WITH ev AS (SELECT user_id, event_id, event_type AS from_type,
        |                   epoch_us(ts) AS ts_us
        |            FROM events),
        |nx AS (SELECT from_type,
        |              lead(from_type) OVER (PARTITION BY user_id
        |                ORDER BY ts_us, event_id) AS to_type
        |       FROM ev),
        |p AS (SELECT from_type, to_type, count(*) AS n FROM nx
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n) AS total FROM p GROUP BY 1)
        |SELECT p.from_type, to_type, n,
        |       CAST((n * 1000000) // total AS BIGINT) AS p_micro
        |FROM p JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // Quantile-normalize mirror: the oracle takes the direct route the
    // engine avoids — a global row_number — and must land on the same
    // ⌈r·N/n_g⌉-th order statistic.
    "q160_quantile_normalize" ->
      """WITH v AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |           FROM documents),
        |r AS (SELECT doc_id, lang, n_chars,
        |             CAST(row_number() OVER (PARTITION BY lang
        |               ORDER BY n_chars, doc_id) AS BIGINT) AS r,
        |             count(*) OVER (PARTITION BY lang) AS n_g,
        |             count(*) OVER () AS n_total
        |      FROM v),
        |g AS (SELECT n_chars AS q_n_chars,
        |             CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS gr
        |      FROM v)
        |SELECT doc_id, lang, n_chars, q_n_chars
        |FROM r JOIN g ON (r.r * r.n_total + r.n_g - 1) // r.n_g = g.gr
        |ORDER BY doc_id""".stripMargin,

    // RRF mirror: the q111 BM25 pipeline (same constants and stage
    // rounding) + the q110 entropy law over the 20 candidates, fused
    // with the same 10⁹ div (60 + rank) integer reciprocals.
    "q161_rrf_fusion" ->
      """WITH toks AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |         unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM toks
        |       WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2, 3),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |stats AS (SELECT count(*) AS n,
        |                 sum(len(string_split(text, ' '))) AS sum_dl
        |          FROM documents),
        |sc AS (SELECT tf.doc_id AS doc_id,
        |              CAST(round(1000000 * (
        |                round(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1), 6) *
        |                round(tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl /
        |                  round(CAST(s.sum_dl AS DOUBLE) / s.n, 6))), 6))) AS BIGINT) AS contrib
        |       FROM tf JOIN df d USING (term) CROSS JOIN stats s),
        |agg AS (SELECT doc_id, count(*) AS n_hit_terms,
        |               CAST(sum(contrib) AS BIGINT) AS score_micro
        |        FROM sc GROUP BY doc_id),
        |top AS (SELECT * FROM agg ORDER BY score_micro DESC, doc_id LIMIT 20),
        |a AS (SELECT doc_id,
        |             CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank_a
        |      FROM top),
        |ch AS (SELECT doc_id, text[i] AS ch
        |       FROM (SELECT doc_id, text, unnest(range(1, len(text) + 1)) AS i
        |             FROM documents
        |             WHERE len(text) > 0 AND doc_id IN (SELECT doc_id FROM a))),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |ent AS (SELECT doc_id,
        |               round(ln(CAST(sum(c) AS DOUBLE))
        |                 - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 5) AS entropy_nat
        |        FROM c GROUP BY doc_id),
        |b AS (SELECT doc_id,
        |             CAST(row_number() OVER (ORDER BY entropy_nat DESC, doc_id) AS BIGINT) AS rank_b
        |      FROM ent)
        |SELECT a.doc_id AS doc_id, rank_a, rank_b,
        |       (1000000000 // (60 + rank_a)) + (1000000000 // (60 + rank_b)) AS rrf_micro
        |FROM a JOIN b ON a.doc_id = b.doc_id
        |ORDER BY rrf_micro DESC, doc_id""".stripMargin,

    // Market-basket mirror: same distinct-presence semantics, same
    // cleared-denominator lift.
    "q162_copurchase" ->
      """WITH present AS (
        |  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM present),
        |sup AS (SELECT item, count(*) AS n_i FROM present GROUP BY item),
        |pairs AS (SELECT a.item AS item_i, b.item AS item_j, count(*) AS n_ab
        |          FROM present a JOIN present b ON a.basket = b.basket
        |            AND a.item < b.item
        |          GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT item_i, item_j, n_ab,
        |       CAST((n_ab * n_baskets * 1000000) // (sa.n_i * sb.n_i) AS BIGINT) AS lift_micro
        |FROM pairs
        |JOIN sup sa ON sa.item = item_i
        |JOIN sup sb ON sb.item = item_j
        |CROSS JOIN nb
        |ORDER BY item_i, item_j""".stripMargin,

    // Clustering-coefficient mirror: the q104 oriented triangle join +
    // distinct undirected degrees, same cleared-denominator micro form.
    "q163_clustering_coeff" ->
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.edgesDiag},
         |tri AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM ediag e1
         |  JOIN ediag e2 ON e2.u = e1.v
         |  JOIN ediag e3 ON e3.u = e1.u AND e3.v = e2.v),
         |tc AS (SELECT node, count(*) AS n_tri
         |       FROM (SELECT unnest([a, b, c]) AS node FROM tri)
         |       GROUP BY node),
         |deg AS (SELECT node, count(*) AS degree
         |        FROM (SELECT u AS node FROM ediag
         |              UNION ALL SELECT v FROM ediag)
         |        GROUP BY node)
         |SELECT d.node, d.degree,
         |       CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_tri,
         |       CAST(CASE WHEN d.degree < 2 THEN 0
         |            ELSE (2 * COALESCE(tc.n_tri, 0) * 1000000)
         |                 // (d.degree * (d.degree - 1)) END AS BIGINT) AS c_micro
         |FROM deg d LEFT JOIN tc ON tc.node = d.node
         |ORDER BY d.node""".stripMargin,

    // Path-trigram mirror: two leads over the same (user; ts, event_id)
    // order, global count, top-20 with the same lexicographic tie rule.
    "q164_path_trigrams" ->
      """WITH ev AS (SELECT user_id, event_id, event_type AS e1,
        |                   epoch_us(ts) AS ts_us
        |            FROM events),
        |tri AS (SELECT e1,
        |               lead(e1, 1) OVER (PARTITION BY user_id
        |                 ORDER BY ts_us, event_id) AS e2,
        |               lead(e1, 2) OVER (PARTITION BY user_id
        |                 ORDER BY ts_us, event_id) AS e3
        |        FROM ev),
        |cnt AS (SELECT e1, e2, e3, count(*) AS n FROM tri
        |        WHERE e3 IS NOT NULL GROUP BY 1, 2, 3),
        |top AS (SELECT * FROM cnt ORDER BY n DESC, e1, e2, e3 LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, e1, e2, e3) AS BIGINT) AS rank,
        |       e1, e2, e3, n
        |FROM top ORDER BY rank""".stripMargin,

    // ANN-recall mirror: the q40 brute ranking and the q41 IVF pipeline
    // side by side, intersected on (qid, vec_id).
    "q165_ann_recall" ->
      s"""WITH q AS (SELECT vec_id AS qid, ${LlmSql.qvec("embedding")} AS qq
         |           FROM embeddings WHERE vec_id < 5),
         |v AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv FROM embeddings),
         |ex AS (SELECT qid, vec_id, rank FROM (
         |         SELECT qid, vec_id,
         |                row_number() OVER (PARTITION BY qid
         |                  ORDER BY ${LlmSql.cos("qq", "qv")} DESC, vec_id) AS rank
         |         FROM q CROSS JOIN v WHERE qid <> vec_id) WHERE rank <= 10),
         |cents AS (SELECT vec_id AS cid, ${LlmSql.qvec("embedding")} AS cv
         |          FROM embeddings WHERE vec_id % 100 = 0),
         |assigned AS (
         |  SELECT cid, vec_id, qv FROM (
         |    SELECT c.cid, v.vec_id, v.qv,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${LlmSql.cos("v.qv", "c.cv")} DESC, c.cid) AS crn
         |    FROM v CROSS JOIN cents c) WHERE crn = 1),
         |probes AS (
         |  SELECT qid, qq, cid FROM (
         |    SELECT q.qid, q.qq, c.cid,
         |           row_number() OVER (PARTITION BY q.qid
         |             ORDER BY ${LlmSql.cos("q.qq", "c.cv")} DESC, c.cid) AS prn
         |    FROM q CROSS JOIN cents c) WHERE prn <= 2),
         |ap AS (SELECT qid, vec_id, rank FROM (
         |         SELECT qid, vec_id,
         |                row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
         |         FROM (SELECT p.qid, a.vec_id, ${LlmSql.cos("p.qq", "a.qv")} AS cos
         |               FROM probes p JOIN assigned a ON a.cid = p.cid
         |               WHERE p.qid <> a.vec_id)) WHERE rank <= 10),
         |hits AS (SELECT ex.qid AS qid, count(*) AS n_hits,
         |                min(CASE WHEN ex.rank = 1 THEN ap.rank END) AS rr_rank
         |         FROM ex JOIN ap ON ex.qid = ap.qid AND ex.vec_id = ap.vec_id
         |         GROUP BY ex.qid)
         |SELECT q.qid AS qid,
         |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |       CAST((COALESCE(h.n_hits, 0) * 1000000) // 10 AS BIGINT) AS recall_micro,
         |       CAST(CASE WHEN h.rr_rank IS NULL THEN 0
         |            ELSE 1000000 // h.rr_rank END AS BIGINT) AS rr_micro
         |FROM q LEFT JOIN hits h ON h.qid = q.qid
         |ORDER BY qid""".stripMargin,

    // Rate-change mirror: identical epoch-week buckets and integer
    // relative deltas over observed weeks.
    "q166_rate_change" ->
      """WITH wk AS (SELECT event_type,
        |                   epoch_us(ts) // 604800000000 AS wk,
        |                   count(*) AS n
        |            FROM events GROUP BY 1, 2),
        |lagged AS (SELECT event_type, wk,
        |                  lag(wk) OVER (PARTITION BY event_type ORDER BY wk) AS prev_wk,
        |                  n,
        |                  lag(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev_n
        |           FROM wk)
        |SELECT event_type, CAST(wk AS BIGINT) AS wk,
        |       CAST(prev_wk AS BIGINT) AS prev_wk,
        |       n, prev_n,
        |       CAST(((n - prev_n) * 1000000) // prev_n AS BIGINT) AS delta_micro
        |FROM lagged WHERE prev_n IS NOT NULL
        |ORDER BY event_type, wk""".stripMargin,

    // Centroid-drift mirror: same quantized lanes, same cleared
    // denominators; HUGEINT sums == DECIMAL(38,0).
    "q167_centroid_drift" ->
      s"""WITH vl AS (SELECT e.vec_id, d.lang, ${LlmSql.qvec("e.embedding")} AS qv
         |            FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         |comps AS (SELECT lang, i AS d, qv[i] AS x
         |          FROM (SELECT lang, qv, unnest(range(1, len(qv) + 1)) AS i
         |                FROM vl)),
         |per AS (SELECT lang, d, sum(x) AS s_g, count(*) AS n_g
         |        FROM comps GROUP BY 1, 2),
         |tot AS (SELECT d, sum(x) AS s, count(*) AS n FROM comps GROUP BY d),
         |agg AS (SELECT lang, first(n_g) AS n_vec, first(n) AS n_all,
         |               sum((n * s_g - n_g * s) * (n * s_g - n_g * s)) AS drift_num
         |        FROM per JOIN tot USING (d) GROUP BY lang)
         |SELECT lang, CAST(n_vec AS BIGINT) AS n_vec,
         |       CAST(drift_num // (n_vec * n_all * n_vec * n_all) AS BIGINT) AS drift_q2
         |FROM agg ORDER BY lang""".stripMargin,

    // Mixture-rate mirror: same uniform shares, same pinned budget, same
    // ppm arithmetic with the cap-and-report-deficit policy.
    "q168_mixture_rates" ->
      """WITH w AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS w_chars
        |           FROM documents GROUP BY source),
        |ns AS (SELECT count(*) AS n FROM w),
        |sh AS (SELECT source, CAST(1000000 // n AS BIGINT) AS share_ppm
        |       FROM w CROSS JOIN ns),
        |j AS (SELECT w.source AS source, w_chars, share_ppm,
        |             CAST((120000 * share_ppm) // 1000000 AS BIGINT) AS want_chars
        |      FROM w JOIN sh ON w.source = sh.source),
        |r AS (SELECT source, w_chars, want_chars,
        |             CAST(least(1000000, (want_chars * 1000000) // w_chars) AS BIGINT) AS rate_ppm
        |      FROM j)
        |SELECT source, w_chars, want_chars, rate_ppm,
        |       CAST((w_chars * rate_ppm) // 1000000 AS BIGINT) AS planned_chars,
        |       CAST(greatest(0, want_chars - w_chars) AS BIGINT) AS deficit_chars
        |FROM r ORDER BY source""".stripMargin,

    // Dataset-card mirror: HUGEINT sums cast back, median-of-BIGINT
    // half-integer parity as in q131.
    "q169_dataset_card" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |                    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |                    CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars,
        |                    median(CAST(n_chars AS BIGINT)) AS median_chars,
        |                    count(DISTINCT lang) AS n_langs
        |             FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents)
        |SELECT source, n_docs, sum_chars, mean_chars, median_chars, n_langs,
        |       CAST((sum_chars * 1000000) // total_chars AS BIGINT) AS share_ppm
        |FROM per CROSS JOIN tot ORDER BY source""".stripMargin,

    // Centroid-cosine mirror: identical sum vectors, identical one-float
    // boundary (both engines convert the same exact integers to double).
    "q170_centroid_cos" ->
      s"""WITH vl AS (SELECT e.vec_id, d.lang, ${LlmSql.qvec("e.embedding")} AS qv
         |            FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         |comps AS (SELECT lang, i AS d, qv[i] AS x
         |          FROM (SELECT lang, qv, unnest(range(1, len(qv) + 1)) AS i
         |                FROM vl)),
         |sums AS (SELECT lang, d, sum(x) AS s FROM comps GROUP BY 1, 2),
         |p AS (SELECT a.lang AS g_a, b.lang AS g_b,
         |             sum(a.s * b.s) AS dab, sum(a.s * a.s) AS daa,
         |             sum(b.s * b.s) AS dbb
         |      FROM sums a JOIN sums b ON a.d = b.d AND a.lang < b.lang
         |      GROUP BY 1, 2)
         |SELECT g_a, g_b,
         |       CAST(floor(1000000.0 * CAST(dab AS DOUBLE) /
         |            (sqrt(CAST(daa AS DOUBLE)) * sqrt(CAST(dbb AS DOUBLE)))) AS BIGINT) AS cos_micro
         |FROM p ORDER BY g_a, g_b""".stripMargin,

    // Change-feed mirror: identical drift construction, full outer join
    // with IS DISTINCT FROM payload compare (null-safe, like Spark <=>).
    "q171_change_feed" ->
      """WITH a AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
        |                  CAST(round(o_totalprice*100) AS BIGINT) AS price_c
        |           FROM orders),
        |b AS (SELECT k, o_custkey, o_orderstatus,
        |             CASE WHEN k % 511 = 0 THEN price_c + 100
        |                  ELSE price_c END AS price_c
        |      FROM a WHERE k % 509 <> 0
        |      UNION ALL
        |      SELECT k + 20000000, o_custkey, o_orderstatus, price_c + 5
        |      FROM a WHERE k % 513 = 0),
        |f AS (SELECT coalesce(a.k, b.k) AS k,
        |             CASE WHEN a.k IS NULL THEN 'i'
        |                  WHEN b.k IS NULL THEN 'd'
        |                  WHEN (a.o_custkey IS DISTINCT FROM b.o_custkey)
        |                    OR (a.o_orderstatus IS DISTINCT FROM b.o_orderstatus)
        |                    OR (a.price_c IS DISTINCT FROM b.price_c) THEN 'u'
        |             END AS op,
        |             b.o_custkey AS o_custkey,
        |             b.o_orderstatus AS o_orderstatus,
        |             b.price_c AS price_c
        |      FROM a FULL JOIN b ON a.k = b.k)
        |SELECT k, op, o_custkey, o_orderstatus, price_c
        |FROM f WHERE op IS NOT NULL ORDER BY k""".stripMargin,

    // OLS mirror: BIGINT day/cents, HUGEINT sums == DECIMAL(38,0),
    // cleared-denominator closed forms, // truncation == div.
    "q172_ols_trend" ->
      """WITH ev AS (SELECT event_type,
        |                   epoch_us(ts) // 86400000000 AS x,
        |                   CAST(round(value*100) AS BIGINT) AS y
        |            FROM events),
        |s AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x*x) AS sxx, sum(x*y) AS sxy
        |      FROM ev GROUP BY 1),
        |d AS (SELECT *, n*sxx - sx*sx AS den FROM s
        |      WHERE n*sxx - sx*sx <> 0)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |       CAST(((n*sxy - sx*sy) * 1000000) // den AS BIGINT) AS slope_micro,
        |       CAST(((sy*sxx - sx*sxy) * 1000000) // den AS BIGINT) AS intercept_micro
        |FROM d ORDER BY event_type""".stripMargin,

    // Gap-fill mirror: per-user range() spine, IGNORE NULLS neighbor
    // carry (the q123 idiom), identical truncating interpolation div.
    "q173_gap_fill" ->
      """WITH daily AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d,
        |                      CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v_c
        |               FROM events WHERE event_type = 'purchase'
        |               GROUP BY 1, 2),
        |sp AS (SELECT user_id, unnest(range(min(d), max(d) + 1)) AS d
        |       FROM daily GROUP BY user_id),
        |j AS (SELECT sp.user_id AS user_id, sp.d AS d, daily.v_c AS v_c
        |      FROM sp LEFT JOIN daily
        |        ON sp.user_id = daily.user_id AND sp.d = daily.d),
        |w AS (SELECT user_id, d, v_c,
        |             last_value(v_c IGNORE NULLS) OVER wp AS prev_v,
        |             last_value(CASE WHEN v_c IS NOT NULL THEN d END IGNORE NULLS)
        |               OVER wp AS prev_d,
        |             first_value(v_c IGNORE NULLS) OVER wn AS next_v,
        |             first_value(CASE WHEN v_c IS NOT NULL THEN d END IGNORE NULLS)
        |               OVER wn AS next_d
        |      FROM j
        |      WINDOW wp AS (PARTITION BY user_id ORDER BY d
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |             wn AS (PARTITION BY user_id ORDER BY d
        |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, CAST(d AS BIGINT) AS d,
        |       CAST(CASE WHEN v_c IS NOT NULL THEN v_c * 1000000
        |            ELSE prev_v * 1000000 +
        |                 ((next_v - prev_v) * (d - prev_d) * 1000000)
        |                   // (next_d - prev_d) END AS BIGINT) AS val_micro,
        |       CASE WHEN v_c IS NOT NULL THEN 'obs' ELSE 'fill' END AS src
        |FROM w ORDER BY user_id, d""".stripMargin,

    // CUSUM mirror: same closed form S_i = P_i − min(0, min prefix),
    // same (ts, id) order, first alarm via row_number.
    "q174_cusum" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |                   CAST(round(value*100) AS BIGINT) - 6000 AS dx
        |            FROM events),
        |w AS (SELECT user_id, event_id, ts_us,
        |             sum(dx) OVER (PARTITION BY user_id
        |               ORDER BY ts_us, event_id) AS p
        |      FROM ev),
        |s AS (SELECT user_id, ts_us, event_id,
        |             p - least(0, min(p) OVER (PARTITION BY user_id
        |               ORDER BY ts_us, event_id)) AS s_c
        |      FROM w),
        |al AS (SELECT user_id, ts_us, event_id, s_c,
        |              row_number() OVER (PARTITION BY user_id
        |                ORDER BY ts_us, event_id) AS rn
        |       FROM s WHERE s_c > 30000)
        |SELECT user_id, ts_us AS alarm_ts_us, event_id AS alarm_event_id,
        |       CAST(s_c AS BIGINT) AS s_c
        |FROM al WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // RFM mirror: identical reduced per-user table, identical ntile
    // orderings with the user_id tie-break.
    "q175_rfm" ->
      """WITH per AS (SELECT user_id,
        |                    max(epoch_us(ts) // 86400000000) AS last_day,
        |                    count(*) AS n,
        |                    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS mon_c
        |             FROM events GROUP BY 1),
        |mx AS (SELECT max(last_day) AS max_day FROM per),
        |sc AS (SELECT user_id, (max_day - last_day) AS recency_days, n, mon_c,
        |              CAST(ntile(5) OVER (ORDER BY (max_day - last_day) DESC, user_id) AS BIGINT) AS r_score,
        |              CAST(ntile(5) OVER (ORDER BY n ASC, user_id) AS BIGINT) AS f_score,
        |              CAST(ntile(5) OVER (ORDER BY mon_c ASC, user_id) AS BIGINT) AS m_score
        |       FROM per CROSS JOIN mx)
        |SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days,
        |       n, mon_c, r_score, f_score, m_score,
        |       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
        |         CAST(m_score AS VARCHAR) AS segment
        |FROM sc ORDER BY user_id""".stripMargin,

    // Equi-depth mirror: the oracle MAY afford the global sort — bucket
    // of rank r is ceil(r·nb/N)−1 = (r·nb−1)//N, grouped min/max/count.
    "q176_equidepth_hist" ->
      """WITH v AS (SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS v
        |           FROM lineitem),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS r,
        |             count(*) OVER () AS n
        |      FROM v),
        |b AS (SELECT v, (r * 16 - 1) // n AS bucket FROM r)
        |SELECT CAST(bucket AS BIGINT) AS bucket, min(v) AS lo_v,
        |       max(v) AS hi_v, count(*) AS n
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same 2×2 contingency, rates/lift/chi² via the same exact rational
    // forms — HUGEINT mirrors the engine's DECIMAL(38,0), `//` mirrors
    // `div` (both truncate toward zero).
    "q177_ab_report" ->
      """WITH ev AS (SELECT event_type, (user_id % 2 = 0) AS in_a,
        |                   (value >= 50.0) AS succ
        |            FROM events),
        |ct AS (SELECT event_type,
        |         sum(CASE WHEN in_a AND succ THEN 1 ELSE 0 END) AS sa,
        |         sum(CASE WHEN in_a AND NOT succ THEN 1 ELSE 0 END) AS fa,
        |         sum(CASE WHEN NOT in_a AND succ THEN 1 ELSE 0 END) AS sb,
        |         sum(CASE WHEN NOT in_a AND NOT succ THEN 1 ELSE 0 END) AS fb
        |       FROM ev GROUP BY 1)
        |SELECT event_type, CAST(sa + fa + sb + fb AS BIGINT) AS n,
        |       CAST(sa AS BIGINT) AS sa, CAST(fa AS BIGINT) AS fa,
        |       CAST(sb AS BIGINT) AS sb, CAST(fb AS BIGINT) AS fb,
        |       CAST(CASE WHEN sa + fa > 0 THEN
        |              sa * 1000000 // (sa + fa) END AS BIGINT) AS p_a_ppm,
        |       CAST(CASE WHEN sb + fb > 0 THEN
        |              sb * 1000000 // (sb + fb) END AS BIGINT) AS p_b_ppm,
        |       CAST(CASE WHEN sb > 0 AND sa + fa > 0 THEN
        |              CAST(sa AS HUGEINT) * (sb + fb) * 1000000
        |                // (CAST(sa + fa AS HUGEINT) * sb) END AS BIGINT) AS lift_ppm,
        |       CAST(CASE WHEN (sa + fa) * (sb + fb) * (sa + sb) * (fa + fb) > 0 THEN
        |              CAST(sa + fa + sb + fb AS HUGEINT)
        |              * (CAST(sa AS HUGEINT) * fb - CAST(fa AS HUGEINT) * sb)
        |              * (CAST(sa AS HUGEINT) * fb - CAST(fa AS HUGEINT) * sb)
        |              * 1000000
        |            // (CAST(sa + fa AS HUGEINT) * (sb + fb) * (sa + sb) * (fa + fb))
        |            END AS BIGINT) AS chi2_micro
        |FROM ct ORDER BY event_type""".stripMargin,

    // Same unigram/bigram MLE ratio in HUGEINT, same minCount and total
    // (ratio DESC, w1, w2) order at the LIMIT boundary.
    "q178_pmi_colloc" ->
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT t, count(*) AS c
        |        FROM (SELECT unnest(w) AS t FROM w) GROUP BY 1),
        |nu AS (SELECT CAST(sum(c) AS HUGEINT) AS n_uni FROM uni),
        |bc AS (SELECT w1, w2, count(*) AS cxy FROM (
        |         SELECT w[i] AS w1, w[i+1] AS w2
        |         FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
        |               FROM w WHERE len(w) >= 2))
        |       GROUP BY 1, 2 HAVING count(*) >= 20),
        |nb AS (SELECT CAST(sum(len(w) - 1) AS HUGEINT) AS n_bi
        |       FROM w WHERE len(w) >= 2)
        |SELECT w1, w2, CAST(cxy AS BIGINT) AS cxy,
        |       CAST(CAST(cxy AS HUGEINT) * n_uni * n_uni * 1000000
        |            // (n_bi * u1.c * u2.c) AS BIGINT) AS pmi_ratio_ppm
        |FROM bc CROSS JOIN nu CROSS JOIN nb
        |JOIN uni u1 ON u1.t = bc.w1
        |JOIN uni u2 ON u2.t = bc.w2
        |ORDER BY pmi_ratio_ppm DESC, w1, w2 LIMIT 50""".stripMargin,

    // The fold replayed as a recursive CTE over the same (ts, event_id)
    // row order; `//` on the all-positive cents matches `div`.
    "q179_ewma" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS x,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |nn AS (SELECT user_id, max(rn) AS n FROM ev GROUP BY 1),
        |f AS (SELECT user_id, rn, x AS s FROM ev WHERE rn = 1
        |      UNION ALL
        |      SELECT e.user_id, e.rn, (f.s + e.x) // 2
        |      FROM f JOIN ev e ON e.user_id = f.user_id AND e.rn = f.rn + 1)
        |SELECT f.user_id, CAST(nn.n AS BIGINT) AS n, CAST(f.s AS BIGINT) AS ewma_c
        |FROM f JOIN nn ON nn.user_id = f.user_id AND f.rn = nn.n
        |ORDER BY f.user_id""".stripMargin,

    // Three power-iteration rounds unrolled in SQL: same quantization,
    // same truncated means, same max-abs-1000 renormalization. DuckDB
    // subscripts are 1-based, so v0 lights j=1 (= engine dim 0) and the
    // output shifts back to 0-based dims.
    "q180_power_iteration" -> {
      def rnd(i: Int, prev: String): String =
        s"""d$i AS (SELECT vec_id, sum(y.y * $prev.v) AS dot
           |        FROM y JOIN $prev USING (j) GROUP BY vec_id),
           |w$i AS (SELECT j, sum(CAST(y.y AS HUGEINT) * dot) AS w
           |        FROM y JOIN d$i USING (vec_id) GROUP BY j),
           |v$i AS (SELECT j, CAST(CASE WHEN mx = 0 THEN 0
           |                       ELSE w * 1000 // mx END AS BIGINT) AS v
           |        FROM w$i CROSS JOIN (SELECT max(abs(w)) AS mx FROM w$i))""".stripMargin
      s"""WITH x AS (SELECT vec_id,
         |             list_transform(embedding,
         |               e -> CAST(round(CAST(e AS DOUBLE) * 1e7) AS BIGINT)) AS xc
         |           FROM embeddings),
         |u AS (SELECT vec_id, unnest(xc) AS v, generate_subscripts(xc, 1) AS j
         |      FROM x),
         |m AS (SELECT j, sum(v) // count(*) AS mj FROM u GROUP BY j),
         |y AS (SELECT vec_id, j, u.v - mj AS y FROM u JOIN m USING (j)),
         |v0 AS (SELECT j, CASE WHEN j = 1 THEN 1000 ELSE 0 END AS v
         |       FROM (SELECT DISTINCT j FROM y)),
         |${rnd(1, "v0")},
         |${rnd(2, "v1")},
         |${rnd(3, "v2")}
         |SELECT CAST(j - 1 AS BIGINT) AS dim, v AS comp
         |FROM v3 ORDER BY dim""".stripMargin
    },

    // q102's candidate SQL + the q71 transitive-closure recursion over the
    // fuzzy-match edges, singletons restored by the left join, then the
    // same golden-record aggregate.
    "q181_entity_resolution" ->
      """WITH RECURSIVE n AS (SELECT DISTINCT p_name FROM part),
        |s AS (SELECT p_name, string_split(p_name, ' ')[2] AS noun FROM n),
        |cand AS (SELECT a.p_name AS id1, b.p_name AS id2
        |         FROM s a JOIN s b ON a.noun = b.noun AND a.p_name < b.p_name
        |         WHERE levenshtein(a.p_name, b.p_name) <= 3),
        |sym AS (SELECT id1 AS a, id2 AS b FROM cand
        |        UNION SELECT id2, id1 FROM cand),
        |reach(a, b) AS (
        |  SELECT a, a FROM sym GROUP BY a
        |  UNION
        |  SELECT r.a, s2.b FROM reach r JOIN sym s2 ON s2.a = r.b),
        |comp AS (SELECT a AS p_name, min(b) AS component FROM reach GROUP BY a),
        |lab AS (SELECT n.p_name, coalesce(c.component, n.p_name) AS entity
        |        FROM n LEFT JOIN comp c ON c.p_name = n.p_name),
        |pp AS (SELECT p_name, p_partkey,
        |              CAST(round(p_retailprice * 100) AS BIGINT) AS price_c
        |       FROM part)
        |SELECT entity, count(DISTINCT l.p_name) AS n_names, count(*) AS n_parts,
        |       min(p_partkey) AS canonical_key, min(price_c) AS min_price_c,
        |       max(price_c) AS max_price_c
        |FROM lab l JOIN pp ON pp.p_name = l.p_name
        |GROUP BY entity ORDER BY entity""".stripMargin,

    // Same epoch-day weekday arithmetic, truncated seasonal means, same
    // |residual| > $100 bar; LEFT JOIN restores zero-anomaly cells.
    "q182_seasonal" ->
      """WITH ev AS (SELECT event_type,
        |                   (epoch_us(ts) // 86400000000 + 3) % 7 + 1 AS isodow,
        |                   CAST(round(value * 100) AS BIGINT) AS v_c
        |            FROM events),
        |prof AS (SELECT event_type, isodow, count(*) AS n,
        |                sum(v_c) // count(*) AS mean_c
        |         FROM ev GROUP BY 1, 2),
        |anom AS (SELECT e.event_type, e.isodow, count(*) AS n_anom
        |         FROM ev e JOIN prof p USING (event_type, isodow)
        |         WHERE abs(e.v_c - p.mean_c) > 10000
        |         GROUP BY 1, 2)
        |SELECT event_type, CAST(isodow AS BIGINT) AS isodow, n,
        |       CAST(mean_c AS BIGINT) AS mean_c,
        |       coalesce(n_anom, 0) AS n_anom
        |FROM prof LEFT JOIN anom USING (event_type, isodow)
        |ORDER BY event_type, isodow""".stripMargin,

    // Same md5 row hashes, same d×w grid, same min-of-rows estimate; the
    // exact join reproduces the calibration columns.
    "q183_countmin" ->
      """WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
        |ii AS (SELECT unnest(generate_series(0, 3)) AS i),
        |b AS (SELECT k, i,
        |             CAST(concat('0x', substring(md5(concat(CAST(i AS VARCHAR), ':', k)), 1, 8))
        |                  AS BIGINT) % 1024 AS bucket
        |      FROM ev CROSS JOIN ii),
        |cms AS (SELECT i, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
        |keys_ AS (SELECT k, count(*) AS true_n FROM ev GROUP BY 1),
        |est AS (SELECT k, true_n, min(cnt) AS est_n FROM (
        |          SELECT ky.k, ky.true_n, cm.cnt
        |          FROM keys_ ky CROSS JOIN ii
        |          JOIN cms cm ON cm.i = ii.i AND cm.bucket =
        |            CAST(concat('0x', substring(md5(concat(CAST(ii.i AS VARCHAR), ':', ky.k)), 1, 8))
        |                 AS BIGINT) % 1024)
        |        GROUP BY 1, 2)
        |SELECT CAST(k AS BIGINT) AS user_id, true_n, est_n,
        |       CASE WHEN est_n >= true_n THEN 1 ELSE 0 END AS within_bound
        |FROM est ORDER BY user_id""".stripMargin,

    // Three synchronous LPA rounds unrolled (MATERIALIZED per round —
    // the q112 lesson: default CTE inlining expands multi-reference
    // chains exponentially), same (cnt DESC, label) tie-break.
    "q184_label_prop" -> {
      def round(i: Int): String =
        s"""v$i AS MATERIALIZED (SELECT s.u AS node, l.label, count(*) AS cnt
           |  FROM sym s JOIN l${i - 1} l ON l.node = s.v GROUP BY 1, 2),
           |l$i AS MATERIALIZED (SELECT node, label FROM (
           |  SELECT node, label, row_number() OVER (PARTITION BY node
           |    ORDER BY cnt DESC, label) AS rn FROM v$i) WHERE rn = 1)""".stripMargin
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.edgesDiag},
         |e0 AS MATERIALIZED (SELECT u, v FROM ediag WHERE (u * 37 + v * 61) % 100 < 85),
         |sym AS MATERIALIZED (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
         |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM sym),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT node, label AS community FROM l3 ORDER BY node""".stripMargin
    },

    // Same reduced-domain first-rank decile rule, same ppm truncation.
    "q185_calibration" ->
      """WITH dom AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |                    count(*) AS cnt,
        |                    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ys
        |             FROM events GROUP BY 1),
        |cum AS (SELECT v, cnt, ys,
        |               sum(cnt) OVER (ORDER BY v
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end,
        |               sum(cnt) OVER () AS n_total
        |        FROM dom),
        |b AS (SELECT ((cum_end - cnt) * 10) // n_total AS bin, cnt, v, ys FROM cum)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(sum(cnt) AS BIGINT) AS n,
        |       min(v) AS lo_v, max(v) AS hi_v,
        |       CAST(sum(ys) AS BIGINT) AS outcomes,
        |       CAST(sum(ys) * 1000000 // sum(cnt) AS BIGINT) AS rate_ppm
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same rule battery, same reason order (list literal order is the
    // CASE construction order in both engines).
    "q186_quarantine" ->
      """SELECT event_id,
        |       array_to_string(list_filter(
        |         [CASE WHEN value > 480.0 THEN 'value_range' END,
        |          CASE WHEN event_type = 'error' THEN 'error_type' END,
        |          CASE WHEN user_id % 97 = 0 THEN 'denylisted_user' END],
        |         x -> x IS NOT NULL), ',') AS reasons
        |FROM events
        |WHERE len(list_filter(
        |         [CASE WHEN value > 480.0 THEN 'value_range' END,
        |          CASE WHEN event_type = 'error' THEN 'error_type' END,
        |          CASE WHEN user_id % 97 = 0 THEN 'denylisted_user' END],
        |         x -> x IS NOT NULL)) > 0
        |ORDER BY event_id""".stripMargin,

    // Same split rule, same per-doc-distinct 8-grams, same (doc, gram)
    // accounting; hits via LEFT JOIN against the distinct train set.
    "q187_split_overlap" ->
      """WITH d AS (SELECT doc_id, text,
        |             CASE WHEN doc_id % 10 <= 7 THEN 'train'
        |                  WHEN doc_id % 10 = 8 THEN 'val'
        |                  ELSE 'test' END AS split
        |           FROM documents),
        |w AS (SELECT doc_id, split, string_split(text, ' ') AS w FROM d),
        |g AS (SELECT doc_id, split,
        |             unnest(list_distinct(list_transform(
        |               generate_series(0, len(w) - 8),
        |               i -> array_to_string(w[i+1:i+8], ' ')))) AS g
        |      FROM w WHERE len(w) >= 8),
        |tr AS (SELECT DISTINCT g FROM g WHERE split = 'train'),
        |ho AS (SELECT split, doc_id, g.g,
        |              CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END AS hit
        |       FROM g LEFT JOIN tr ON tr.g = g.g WHERE split <> 'train')
        |SELECT split, count(*) AS n_grams, CAST(sum(hit) AS BIGINT) AS n_hit,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT CASE WHEN hit = 1 THEN doc_id END) AS BIGINT) AS n_docs_hit,
        |       CAST(sum(hit) * 1000000 // count(*) AS BIGINT) AS overlap_ppm
        |FROM ho GROUP BY split ORDER BY split""".stripMargin,

    // Same text as the engine ran — both resolve ALL from the select list.
    "q191_group_by_all" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        |FROM orders
        |GROUP BY ALL
        |ORDER BY ALL""".stripMargin,

    // The try_* semantics mirrored as explicit CASE guards (DuckDB's
    // TRY_CAST exists; its division and addition raise where Spark's
    // try_ forms return NULL, so the guards state the semantics).
    "q192_try_surface" ->
      """SELECT event_id,
        |       TRY_CAST(substring(props, 1, 2) AS BIGINT) AS bad_cast,
        |       CASE WHEN event_id % 2 = 0 THEN NULL
        |            ELSE 9223372036854775807 END AS ovf,
        |       CASE WHEN event_id % 7 = 0 THEN NULL
        |            ELSE CAST(floor(CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE)
        |                 / (event_id % 7) * 100) AS BIGINT) END AS per7_c
        |FROM events ORDER BY event_id""".stripMargin,

    // The oracle computes the DAY grain directly from raw rows — the
    // engine's hour→day cascade must reproduce it exactly.
    "q189_rollup_cascade" ->
      """SELECT event_type,
        |       (epoch_us(ts) // 3600000000) // 24 AS d,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_c
        |FROM events
        |GROUP BY 1, 2 ORDER BY event_type, d""".stripMargin,

    // Same row rendering, same 60-bit md5 prefix, same XOR fold.
    "q190_dataset_fingerprint" ->
      """WITH h AS (SELECT CAST(concat('0x', substring(md5(
        |             concat_ws('|', CAST(l_orderkey AS VARCHAR),
        |               CAST(l_linenumber AS VARCHAR),
        |               CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR))),
        |             1, 15)) AS BIGINT) AS h
        |           FROM lineitem)
        |SELECT count(*) AS n_rows, bit_xor(h) AS xor_fp,
        |       min(h) AS min_h, max(h) AS max_h
        |FROM h""".stripMargin,

    // Same per-term 2×2 chi² in HUGEINT, same minCount and total order
    // at the LIMIT boundary.
    "q188_vocab_drift" ->
      """WITH toks AS (SELECT (doc_id % 2 = 0) AS old_half,
        |                     unnest(string_split(text, ' ')) AS term
        |              FROM documents),
        |counts AS (SELECT term,
        |             sum(CASE WHEN old_half THEN 1 ELSE 0 END) AS ca,
        |             sum(CASE WHEN NOT old_half THEN 1 ELSE 0 END) AS cb
        |           FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(ca) AS HUGEINT) AS na,
        |               CAST(sum(cb) AS HUGEINT) AS nb
        |        FROM counts)
        |SELECT term, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
        |       CAST(CASE WHEN CAST(ca + cb AS HUGEINT)
        |                        * ((na - ca) + (nb - cb)) * na * nb > 0
        |            THEN (na + nb)
        |              * (CAST(ca AS HUGEINT) * (nb - cb) - (na - ca) * cb)
        |              * (CAST(ca AS HUGEINT) * (nb - cb) - (na - ca) * cb)
        |              * 1000000
        |            // (CAST(ca + cb AS HUGEINT) * ((na - ca) + (nb - cb)) * na * nb)
        |            END AS BIGINT) AS chi2_micro
        |FROM counts CROSS JOIN tot
        |WHERE ca + cb >= 40
        |ORDER BY chi2_micro DESC, term LIMIT 30""".stripMargin,

    // SemDeDup production config: identical machinery to q70, k computed
    // as ⌈n/125⌉ from the same corpus the engine counts.
    "q193_semdedup_prod" ->
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 20),
         |qv AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv FROM corpus),
         |${KmeansSql.twoRoundsDynK("SELECT (count(*) + 124) // 125 FROM corpus", 64)},
         |${KmeansSql.assign("c2", "a3", 64)},
         |pairs AS (
         |  SELECT b.vec_id AS dropped_id
         |  FROM a3 a JOIN a3 b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE ${LlmSql.cos("a.qv", "b.qv")} >= 0.99)
         |SELECT a.vec_id, a.cid FROM a3 a
         |WHERE NOT EXISTS (SELECT 1 FROM pairs d WHERE d.dropped_id = a.vec_id)
         |ORDER BY a.vec_id""".stripMargin,

    // The streaming windowed aggregate converges to the plain 10-minute
    // tumbling batch aggregate (epoch-aligned floor, integer cents).
    "q194_stream_windows" -> streamWindowsOracle,

    // Kill-and-resume must converge to the SAME batch aggregate: a lost
    // state store or a double-applied redelivered batch cannot match.
    "q310_stream_recovery" -> streamWindowsOracle,

    // Gap sessions with session_window's STRICT-< merge rule: a new
    // session starts when the gap to the previous event is >= 30 min.
    "q195_stream_sessions" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |                   CAST(round(value * 100) AS BIGINT) AS cents
        |            FROM events),
        |d AS (SELECT user_id, ts_us, cents,
        |             CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
        |                       >= 1800000000 THEN 1 ELSE 0 END AS brk
        |      FROM ev),
        |s AS (SELECT user_id, ts_us, cents,
        |             sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
        |                            ROWS UNBOUNDED PRECEDING) AS session_idx
        |      FROM d)
        |SELECT user_id, min(ts_us) AS start_us, count(*) AS n_events,
        |       max(ts_us) AS last_us, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, start_us""".stripMargin,

    // The XML container adds nothing the projection doesn't have — the
    // round-trip must reproduce the original rows exactly.
    "q196_xml_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS total_c
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // Same statement text as the engine side (q191 discipline): DuckDB's
    // recursive-CTE evaluator is the oracle for Spark's UnionLoop.
    "q197_recursive_cte" -> recursiveCteSql,

    // DuckDB's ordered string_agg mirrors LISTAGG WITHIN GROUP.
    "q198_listagg" ->
      """SELECT o_orderstatus,
        |       string_agg(tag, ',' ORDER BY tag) AS tags,
        |       count(*) AS n
        |FROM (SELECT o_orderstatus,
        |             o_orderpriority || '#' || CAST(o_orderkey AS VARCHAR) AS tag
        |      FROM orders WHERE o_orderkey % 500 = 0)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Sketch estimates are engine-specific: the oracle pins the exact
    // distinct counts and the 5% bounds (TRUE), like q87/q109.
    "q199_hll_merge" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |       TRUE AS merge_ok, TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Same (block, name) window + w−1 leads + Levenshtein verify; UNION
    // dedups like the engine's distinct.
    "q200_snm_names" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part),
        |s AS (SELECT p_name, string_split(p_name, ' ')[1] AS blk FROM n),
        |l AS (SELECT p_name,
        |        lead(p_name, 1) OVER w AS nb1,
        |        lead(p_name, 2) OVER w AS nb2,
        |        lead(p_name, 3) OVER w AS nb3
        |      FROM s WINDOW w AS (PARTITION BY blk ORDER BY p_name)),
        |p AS (SELECT p_name AS name1, nb1 AS name2 FROM l WHERE nb1 IS NOT NULL
        |      UNION SELECT p_name, nb2 FROM l WHERE nb2 IS NOT NULL
        |      UNION SELECT p_name, nb3 FROM l WHERE nb3 IS NOT NULL)
        |SELECT name1, name2,
        |       CAST(levenshtein(name1, name2) AS BIGINT) AS dist
        |FROM p WHERE levenshtein(name1, name2) <= 6
        |ORDER BY name1, name2""".stripMargin,

    // Positional 3-gram hashes (docShingles' md5 convention, NOT distinct),
    // window-4 minima, distinct selected set — identical integer summaries.
    "q201_winnow" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         CASE WHEN len(w) >= 6 THEN
        |           list_transform(generate_series(0, len(w) - 3),
        |             i -> CAST(concat('0x', substring(md5(array_to_string(w[i+1:i+3], ' ')), 1, 8)) AS BIGINT))
        |         ELSE [] END AS h
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |m AS (SELECT doc_id,
        |        list_distinct(list_transform(generate_series(0, len(h) - 4),
        |          i -> list_min(h[i+1:i+4]))) AS fp
        |      FROM g)
        |SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp,
        |       CAST(coalesce(list_sum(fp), 0) AS BIGINT) AS sum_fp,
        |       CAST(list_min(fp) AS BIGINT) AS min_fp
        |FROM m ORDER BY doc_id""".stripMargin,

    // Same reduced-domain ECDF gaps with the n_a·n_b denominator cleared;
    // the argmax value ties broken to the smallest v.
    "q202_ks_test" ->
      """WITH f AS (SELECT o_orderstatus AS g,
        |                  CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |           FROM orders WHERE o_orderstatus IN ('F', 'O')),
        |dom AS (SELECT v, sum(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS ca,
        |               sum(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS cb
        |        FROM f GROUP BY v),
        |cum AS (SELECT v,
        |          sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fa,
        |          sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fb
        |        FROM dom),
        |tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM dom),
        |gaps AS (SELECT v, na, nb, abs(fa * nb - fb * na) AS gap
        |         FROM cum CROSS JOIN tot),
        |mg AS (SELECT max(gap) AS mx FROM gaps)
        |SELECT CAST(min(na) AS BIGINT) AS n_a, CAST(min(nb) AS BIGINT) AS n_b,
        |       CAST(max(gap) AS BIGINT) AS d_num,
        |       CAST(max(gap) * 1000000 // (min(na) * min(nb)) AS BIGINT) AS d_micro,
        |       CAST(min(CASE WHEN gap = mx THEN v END) AS BIGINT) AS at_v
        |FROM gaps CROSS JOIN mg""".stripMargin,

    // Same ascending (mass, key) ranking and cleared-denominator closed
    // forms in BIGINT (counts are far below overflow here).
    "q203_gini_sources" ->
      """WITH m AS (SELECT source AS k, sum(n_chars) AS x FROM documents GROUP BY 1),
        |r AS (SELECT k, x, row_number() OVER (ORDER BY x, k) AS i FROM m),
        |t AS (SELECT count(*) AS n, sum(x) AS s FROM m)
        |SELECT CAST(min(n) AS BIGINT) AS n_keys, CAST(min(s) AS BIGINT) AS total,
        |       CAST(((2 * sum(i * x) - (min(n) + 1) * min(s)) * 1000000)
        |            // (min(n) * min(s)) AS BIGINT) AS gini_ppm,
        |       CAST((sum(CASE WHEN i > n - (n + 9) // 10 THEN x ELSE 0 END)
        |             * 1000000) // min(s) AS BIGINT) AS top_decile_ppm
        |FROM r CROSS JOIN t""".stripMargin,

    // Bitmaps are exact: the merged count must EQUAL the direct distinct
    // count (no bound column — a miscounting merge hash-mismatches).
    "q204_bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |       count(DISTINCT user_id) AS n_merged
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The streaming compaction converges to the batch snapshot: q77's
    // oracle verbatim.
    "q205_stream_cdc" -> cdcSnapshotOracle,

    // Same global 4-round replay as q128, joined to per-(lang, word)
    // frequencies; milli ratios with cleared integer division.
    "q206_tokenizer_fertility" ->
      s"""$bpeReplayPrefix,
         |tok AS (SELECT word,
         |          CAST(len(string_split(trim(repr), '  ')) AS BIGINT) AS n_tok
         |        FROM r4),
         |lw AS (SELECT lang, w AS word, count(*) AS freq
         |       FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
         |             FROM documents)
         |       WHERE len(w) > 0 GROUP BY lang, w)
         |SELECT lang, CAST(sum(freq) AS BIGINT) AS n_words,
         |       CAST(sum(freq * n_tok) AS BIGINT) AS n_tokens,
         |       CAST((sum(freq * len(word)) * 1000) // sum(freq * n_tok)
         |            AS BIGINT) AS chars_per_token_milli,
         |       CAST((sum(freq * n_tok) * 1000) // sum(freq)
         |            AS BIGINT) AS tokens_per_word_milli
         |FROM lw JOIN tok USING (word)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // The relational form of the per-user count-map report (the gate
    // checks Spark's map semantics, not a DuckDB MAP dialect).
    "q207_map_surface" ->
      """SELECT user_id, count(*) AS n_types,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN n END) AS BIGINT) AS views,
        |       CAST(sum(CASE WHEN n >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
        |       CAST(sum(n) AS BIGINT) AS total
        |FROM (SELECT user_id, event_type, count(*) AS n
        |      FROM events GROUP BY 1, 2)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Relational mirror of the array set algebra: UNION / JOIN /
    // ANTI JOIN over the distinct (user, type) pairs each side of the cut.
    "q208_array_setops" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts FROM events),
        |cut AS (SELECT min(ts) + (max(ts) - min(ts)) // 5 AS cut FROM ev),
        |a AS (SELECT DISTINCT user_id, event_type
        |      FROM ev CROSS JOIN cut WHERE ts < cut),
        |b AS (SELECT DISTINCT user_id, event_type
        |      FROM ev CROSS JOIN cut WHERE ts >= cut),
        |u AS (SELECT user_id, count(DISTINCT event_type) AS n_union
        |      FROM (SELECT * FROM a UNION SELECT * FROM b) GROUP BY user_id),
        |i AS (SELECT a.user_id, count(*) AS n_inter,
        |             string_agg(a.event_type, ',' ORDER BY a.event_type) AS inter_csv
        |      FROM a JOIN b USING (user_id, event_type) GROUP BY a.user_id),
        |x AS (SELECT b.user_id, count(*) AS n_new
        |      FROM b ANTI JOIN a USING (user_id, event_type) GROUP BY b.user_id)
        |SELECT user_id, n_union,
        |       coalesce(n_inter, 0) AS n_inter,
        |       coalesce(n_new, 0) AS n_new,
        |       coalesce(inter_csv, '') AS inter_csv
        |FROM u LEFT JOIN i USING (user_id) LEFT JOIN x USING (user_id)
        |ORDER BY user_id""".stripMargin,

    // The transformWithState running counts converge to batch HAVING at
    // the N-relative threshold (q98's ceil form).
    "q209_stream_heavy" ->
      """WITH n AS (SELECT count(*) AS c FROM events)
        |SELECT user_id AS k, count(*) AS freq FROM events
        |GROUP BY user_id
        |HAVING count(*) >= (3 * (SELECT c FROM n) + 399) // 400
        |ORDER BY k""".stripMargin,

    // lower()-normalized twin of the UTF8_LCASE collation grouping
    // (coincident on the ASCII name domain).
    "q210_collation" ->
      """WITH m AS (
        |  SELECT CASE WHEN p_partkey % 3 = 0 THEN upper(p_name)
        |              ELSE p_name END AS name
        |  FROM part)
        |SELECT lower(name) AS name_lc, count(*) AS n_parts,
        |       count(DISTINCT name) AS n_variants, min(name) AS first_variant
        |FROM m GROUP BY lower(name) ORDER BY name_lc""".stripMargin,

    // q71's recursive component closure extended to the golden-record
    // pick: rank members by (n_chars, id) DESC per component.
    "q211_neardup_canon" ->
      s"""WITH RECURSIVE $minhashCandSql,
         |vp AS (
         |  SELECT id1, id2
         |  FROM cand JOIN sh s1 ON s1.doc_id = id1 JOIN sh s2 ON s2.doc_id = id2
         |  WHERE len(list_intersect(s1.sh, s2.sh)) / len(list_distinct(list_concat(s1.sh, s2.sh))) >= 0.5),
         |sym AS (SELECT id1 AS a, id2 AS b FROM vp UNION SELECT id2, id1 FROM vp),
         |reach(a, b) AS (
         |  SELECT a, a FROM sym GROUP BY a
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b),
         |comp AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a),
         |m AS (SELECT c.component, c.id, d.n_chars
         |      FROM comp c JOIN documents d ON d.doc_id = c.id),
         |best AS (SELECT component, id AS keep_id, n_chars AS keep_chars,
         |                row_number() OVER (PARTITION BY component
         |                  ORDER BY n_chars DESC, id DESC) AS rn
         |         FROM m),
         |agg AS (SELECT component, count(*) AS n_members,
         |               string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members_csv
         |        FROM m GROUP BY component)
         |SELECT a.component, a.n_members, b.keep_id, b.keep_chars,
         |       a.n_members - 1 AS n_dropped, a.members_csv
         |FROM agg a JOIN best b ON b.component = a.component AND b.rn = 1
         |ORDER BY a.component""".stripMargin,

    // Counted-bigram multiset intersection per adjacent pair; same
    // integer milli ratios.
    "q212_rouge_overlap" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |g AS (SELECT doc_id,
        |             unnest(list_transform(generate_series(1, len(w) - 1),
        |               i -> w[i] || ' ' || w[i + 1])) AS g
        |      FROM w),
        |cnt AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |tots AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS pair_id, CAST(sum(least(a.c, b.c)) AS BIGINT) AS inter
        |  FROM cnt a JOIN cnt b ON b.g = a.g AND b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 2 = 0 GROUP BY a.doc_id),
        |pairs AS (
        |  SELECT na.doc_id AS pair_id, na.n AS na, nb.n AS nb
        |  FROM tots na JOIN tots nb ON nb.doc_id = na.doc_id + 1
        |  WHERE na.doc_id % 2 = 0)
        |SELECT p.pair_id, coalesce(i.inter, 0) AS inter, p.na, p.nb,
        |       (coalesce(i.inter, 0) * 1000) // p.nb AS p_milli,
        |       (coalesce(i.inter, 0) * 1000) // p.na AS r_milli,
        |       (coalesce(i.inter, 0) * 2000) // (p.na + p.nb) AS f1_milli
        |FROM pairs p LEFT JOIN inter i ON i.pair_id = p.pair_id
        |ORDER BY p.pair_id""".stripMargin,

    // Op-for-op mirror of the JSD chain: same p/q/m doubles, same
    // p * ln(p/m) * 0.5 association, same floor(x·1e6 + 0.5) micro round.
    "q213_jsd_drift" ->
      """WITH toks AS (
        |  SELECT doc_id % 2 = 0 AS old_half,
        |         unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |counts AS (
        |  SELECT term,
        |         CAST(sum(CASE WHEN old_half THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(sum(CASE WHEN old_half THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM toks GROUP BY term),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |               CAST(sum(cb) AS BIGINT) AS nb FROM counts),
        |scored AS (
        |  SELECT term, ca, cb,
        |         CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS p,
        |         CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS q
        |  FROM counts CROSS JOIN tot WHERE ca + cb >= 40),
        |c AS (
        |  SELECT term, ca, cb, p, q, (p + q) / 2.0 AS m FROM scored),
        |jsd AS (
        |  SELECT term, ca, cb,
        |         (CASE WHEN ca > 0 THEN p * ln(p / m) * 0.5 ELSE 0.0 END) +
        |         (CASE WHEN cb > 0 THEN q * ln(q / m) * 0.5 ELSE 0.0 END) AS contrib
        |  FROM c)
        |SELECT term, ca, cb,
        |       CAST(floor(contrib * 1000000.0 + 0.5) AS BIGINT) AS jsd_micro
        |FROM jsd ORDER BY jsd_micro DESC, term LIMIT 30""".stripMargin,

    // The bucketed tables hold exactly the source rows, so the oracle is
    // the plain join (bucket layout is a physical property, not a result).
    "q214_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       sum(round(o_totalprice * 100)) / 100 AS sum_price
        |FROM orders JOIN customer ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // Partition layout is physical; the answer is the plain filtered
    // aggregate.
    "q215_partition_prune" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,

    // The converged stream-stream join sink equals the bounded interval
    // join: views within 4 hours before their user's purchase.
    "q216_stream_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id,
        |                  epoch_us(ts) AS p_us,
        |                  CAST(round(value * 100) AS BIGINT) AS purchase_cents
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS v_us
        |      FROM events WHERE event_type = 'view')
        |SELECT p.purchase_id, p.user_id, p.p_us, v.view_id, v.v_us,
        |       p.purchase_cents
        |FROM p JOIN v ON v.user_id = p.user_id
        | AND v.v_us <= p.p_us AND v.v_us >= p.p_us - 14400000000
        |ORDER BY p.purchase_id, v.view_id""".stripMargin,

    // Replay the same 4 merge rounds, detokenize by concatenation.
    "q217_bpe_roundtrip" ->
      s"""$bpeReplayPrefix,
         |tok AS (SELECT word, string_split(trim(repr), '  ') AS toks FROM r4)
         |SELECT count(*) AS n_words,
         |       CAST(sum(CASE WHEN array_to_string(toks, '') = word
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |       CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         |       CAST(max(len(toks)) AS BIGINT) AS max_tokens_per_word
         |FROM tok""".stripMargin,

    // The planted duplicate deliveries collapse back to the distinct
    // event set.
    "q218_stream_dedup" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        |       CAST(round(value * 100) AS BIGINT) AS cents
        |FROM events ORDER BY event_id""".stripMargin,

    // Same q165 scoring tail; the approximate side is the exact ranking
    // over the 32-dim embedding prefix.
    "q219_mrl_ablation" ->
      s"""WITH q AS (SELECT vec_id AS qid, ${LlmSql.qvec("embedding")} AS qq,
         |                  ${LlmSql.qvec("embedding[1:32]")} AS qh
         |           FROM embeddings WHERE vec_id < 5),
         |v AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv,
         |             ${LlmSql.qvec("embedding[1:32]")} AS vh
         |      FROM embeddings),
         |ex AS (SELECT qid, vec_id, rank FROM (
         |         SELECT qid, vec_id,
         |                row_number() OVER (PARTITION BY qid
         |                  ORDER BY ${LlmSql.cos("qq", "qv")} DESC, vec_id) AS rank
         |         FROM q CROSS JOIN v WHERE qid <> vec_id) WHERE rank <= 10),
         |ap AS (SELECT qid, vec_id, rank FROM (
         |         SELECT qid, vec_id,
         |                row_number() OVER (PARTITION BY qid
         |                  ORDER BY ${LlmSql.cos("qh", "vh")} DESC, vec_id) AS rank
         |         FROM q CROSS JOIN v WHERE qid <> vec_id) WHERE rank <= 10),
         |hits AS (SELECT ex.qid AS qid, count(*) AS n_hits,
         |                min(CASE WHEN ex.rank = 1 THEN ap.rank END) AS rr_rank
         |         FROM ex JOIN ap ON ex.qid = ap.qid AND ex.vec_id = ap.vec_id
         |         GROUP BY ex.qid)
         |SELECT q.qid AS qid,
         |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |       CAST((COALESCE(h.n_hits, 0) * 1000000) // 10 AS BIGINT) AS recall_micro,
         |       CAST(CASE WHEN h.rr_rank IS NULL THEN 0
         |            ELSE 1000000 // h.rr_rank END AS BIGINT) AS rr_micro
         |FROM q LEFT JOIN hits h ON h.qid = q.qid
         |ORDER BY qid""".stripMargin,

    // Pixel-law replay of the dHash: nearest-neighbor sample coordinates
    // sx = c·w/9, sy = r·h/8, luma = 114·((sx²·31 + sy²·17 + seed·97) mod
    // 256) (the textured PNG has r = g = 0), then the q32 pigeonhole
    // block join + exact Hamming.
    "q220_image_dhash" -> {
      val blockSums = (0 until 4).map { b =>
        s"CAST(sum(CASE WHEN k >= ${16 * b} AND k < ${16 * (b + 1)} " +
          s"THEN bit * (1 << (k % 16)) ELSE 0 END) AS INTEGER) AS b$b"
      }.mkString(", ")
      val blockRows = (0 until 4)
        .map(b => s"SELECT id, b0, b1, b2, b3, $b AS blk, b$b AS bval FROM sim")
        .mkString("\nUNION ALL ")
      val ham = (0 until 4).map(b => s"bit_count(xor(xb$b, yb$b))").mkString(" + ")
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id,
         |                  16 + CAST(doc_id % 3 AS INT) AS w,
         |                  16 + CAST(doc_id % 2 AS INT) AS h,
         |                  CAST(doc_id % 8 AS INT) AS seed
         |           FROM documents WHERE doc_id < 200),
         |g AS (SELECT id, r, c,
         |             114 * (((c*w//9)*(c*w//9)*31 + (r*h//8)*(r*h//8)*17
         |                     + seed*97) % 256) AS luma
         |      FROM d, range(0, 8) AS t1(r), range(0, 9) AS t2(c)),
         |bits AS (SELECT a.id, CAST(a.r * 8 + a.c AS INTEGER) AS k,
         |                CASE WHEN n.luma > a.luma THEN 1 ELSE 0 END AS bit
         |         FROM g a JOIN g n ON n.id = a.id AND n.r = a.r AND n.c = a.c + 1
         |         WHERE a.c < 8),
         |sim AS (SELECT id, $blockSums FROM bits GROUP BY id),
         |blocks AS ($blockRows),
         |cand AS (SELECT DISTINCT a.id id1, b.id id2,
         |                a.b0 xb0, a.b1 xb1, a.b2 xb2, a.b3 xb3,
         |                b.b0 yb0, b.b1 yb1, b.b2 yb2, b.b3 yb3
         |         FROM blocks a JOIN blocks b
         |           ON a.blk = b.blk AND a.bval = b.bval AND a.id < b.id)
         |SELECT id1, id2, CAST($ham AS INTEGER) AS hamming
         |FROM cand WHERE $ham <= 3
         |ORDER BY id1, id2""".stripMargin
    },

    // Pixel-law replay of the sampled video frames: frame f pixel
    // (x, y) has r = (x·7+f·13)%256, g = (y·11+f·5)%256,
    // b = (x+y+f+seed)%256; sampled frame indices are j·N div 4. TIFF
    // losslessness makes the decoded sums equal the law's sums exactly.
    "q221_video_frames" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS asset_id,
        |                  6 + CAST(doc_id % 5 AS INT) AS n,
        |                  12 + CAST(doc_id % 5 AS INT) AS w,
        |                  12 + CAST(doc_id % 3 AS INT) AS h,
        |                  CAST(doc_id % 9 AS INT) AS seed
        |           FROM documents WHERE doc_id < 200),
        |f AS (SELECT asset_id, n, w, h, seed,
        |             CAST(j * n // 4 AS INT) AS frame_idx
        |      FROM d, range(0, 4) AS t(j)),
        |ys AS (SELECT asset_id, n, w, h, seed, frame_idx, unnest(range(0, h)) AS y FROM f),
        |px AS (SELECT asset_id, n, w, h, seed, frame_idx, y, unnest(range(0, w)) AS x FROM ys),
        |lum AS (SELECT asset_id, n, w, h, frame_idx,
        |               299 * ((x * 7 + frame_idx * 13) % 256) +
        |               587 * ((y * 11 + frame_idx * 5) % 256) +
        |               114 * ((x + y + frame_idx + seed) % 256) AS luma
        |        FROM px)
        |SELECT asset_id, any_value(n) AS n_frames, frame_idx,
        |       any_value(w) AS width, any_value(h) AS height,
        |       CAST(sum(luma) AS BIGINT) AS luma1000
        |FROM lum GROUP BY asset_id, frame_idx
        |ORDER BY asset_id, frame_idx""".stripMargin,

    // DuckDB's own Unicode NFC implementation is the oracle: the planted
    // vowel + combining mark (chr(768 + k)) must compose to the single
    // precomposed codepoint, shrinking the codepoint length by exactly 1.
    "q222_nfc_normalize" ->
      """WITH d AS (SELECT doc_id,
        |        substring(text, 1, 20) || ' ' ||
        |        chr(CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 97 WHEN 1 THEN 101
        |            WHEN 2 THEN 105 WHEN 3 THEN 111 ELSE 117 END) ||
        |        chr(768 + CAST(doc_id % 4 AS INT)) AS raw
        |      FROM documents)
        |SELECT doc_id, CAST(length(raw) AS INT) AS len_raw,
        |       nfc_normalize(raw) AS norm,
        |       CAST(length(nfc_normalize(raw)) AS INT) AS len_norm
        |FROM d ORDER BY doc_id""".stripMargin,

    // DuckDB's independent Jaro-Winkler implementation scores the same
    // noun blocks; the engine expression must match every double exactly.
    "q223_jaro_winkler" ->
      """WITH names AS (SELECT DISTINCT p_name,
        |                      string_split(p_name, ' ')[2] AS noun
        |               FROM part)
        |SELECT a.p_name AS name1, b.p_name AS name2,
        |       jaro_winkler_similarity(a.p_name, b.p_name) AS jw
        |FROM names a JOIN names b
        |  ON a.noun = b.noun AND a.p_name < b.p_name
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.8
        |ORDER BY name1, name2""".stripMargin,

    // Full IVFADC replay: coarse 2-round Lloyd + assignment (the q60
    // CTEs), exact long residuals, four residual-slice codebook
    // trainings, 2-probe selection by exact L2, and the ADC sum over
    // (list, subspace, code) — every intermediate on the integer grid.
    "q224_ivfpq_ann" -> {
      val m = 4; val sub = 16; val ksub = 8; val nlist = 4; val nprobe = 2
      val rvs = (0 until m).map(s =>
        s"rv$s AS (SELECT vec_id, rv[${s * sub + 1}:${(s + 1) * sub}] AS qv FROM resid)")
        .mkString(",\n")
      val chains = (0 until m)
        .map(s => KmeansSql.twoRounds(ksub, sub, prefix = s"r$s", src = s"rv$s"))
        .mkString(",\n")
      val finals = (0 until m)
        .map(s => KmeansSql.assign(s"r${s}c2", s"r${s}a3", sub, src = s"rv$s"))
        .mkString(",\n")
      val codes = (0 until m)
        .map(s => s"SELECT vec_id, $s AS s, cid AS scid FROM r${s}a3")
        .mkString("\nUNION ALL ")
      val dts = (0 until m).map(s =>
        s"""SELECT p.qid, p.cid, $s AS s, c.cid AS scid,
           |       list_sum(list_transform(range(1, ${sub + 1}),
           |         i -> (p.qr[${s * sub} + i] - c.cv[i]) * (p.qr[${s * sub} + i] - c.cv[i]))) AS d
           |FROM probes p CROSS JOIN r${s}c2 c""".stripMargin)
        .mkString("\nUNION ALL ")
      s"""WITH qv AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv FROM embeddings),
         |${KmeansSql.twoRounds(nlist, 64, prefix = "g", src = "qv")},
         |${KmeansSql.assign("gc2", "ga3", 64, src = "qv")},
         |resid AS MATERIALIZED (
         |  SELECT a.vec_id, a.cid,
         |         list_transform(range(1, 65), i -> a.qv[i] - c.cv[i]) AS rv
         |  FROM ga3 a JOIN gc2 c ON c.cid = a.cid),
         |$rvs,
         |$chains,
         |$finals,
         |codes AS MATERIALIZED (
         |  SELECT u.vec_id, r.cid, u.s, u.scid
         |  FROM ($codes) u JOIN resid r ON r.vec_id = u.vec_id),
         |probes AS MATERIALIZED (
         |  SELECT qid, cid, qr FROM (
         |    SELECT q.vec_id AS qid, c.cid,
         |           list_transform(range(1, 65), i -> q.qv[i] - c.cv[i]) AS qr,
         |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |             list_sum(list_transform(range(1, 65),
         |               i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))), c.cid) AS prn
         |    FROM qv q CROSS JOIN gc2 c WHERE q.vec_id < 3)
         |  WHERE prn <= $nprobe),
         |dt AS MATERIALIZED ($dts),
         |adist AS (
         |  SELECT dt.qid, codes.vec_id, CAST(sum(dt.d) AS BIGINT) AS adist
         |  FROM codes JOIN dt ON dt.cid = codes.cid AND dt.s = codes.s AND dt.scid = codes.scid
         |  WHERE dt.qid <> codes.vec_id
         |  GROUP BY dt.qid, codes.vec_id),
         |ranked AS (
         |  SELECT qid, CAST(row_number() OVER (
         |           PARTITION BY qid ORDER BY adist, vec_id) AS INT) AS rank,
         |         vec_id, adist
         |  FROM adist)
         |SELECT qid, rank, vec_id, adist FROM ranked
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
    },

    // Exact cross-set argmax replay: same cosine, same floor-micro
    // boundary, same (cos desc, id) tie rule.
    "q226_semantic_decontam" -> {
      val cos = LlmSql.cos("b.qv", "t.qv")
      s"""WITH e AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv FROM embeddings),
         |t AS (SELECT vec_id, qv FROM e WHERE vec_id % 2 = 0),
         |b AS (SELECT vec_id, qv FROM e WHERE vec_id % 2 = 1 AND vec_id < 40),
         |sc AS (SELECT b.vec_id, t.vec_id AS near_id, $cos AS c
         |       FROM b CROSS JOIN t),
         |r AS (SELECT vec_id, near_id, c, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY c DESC, near_id) AS rn
         |      FROM sc)
         |SELECT vec_id, near_id, CAST(floor(c * 1e6) AS BIGINT) AS cos_micro,
         |       CAST(floor(c * 1e6) AS BIGINT) >= 900000 AS contaminated
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin
    },

    // The oracle scans once per term (the shape the automaton replaces);
    // sorted-distinct hit lists must agree exactly.
    "q225_blocklist" ->
      """WITH h AS (SELECT doc_id,
        |        list_sort(list_distinct(list_filter(
        |          ['scan slow', 'slow', 'low', 'par', 'spark',
        |           'fast table', 'he lin', 'merge batch'],
        |          t -> contains(text, t)))) AS hits
        |      FROM documents)
        |SELECT doc_id, CAST(len(hits) AS INT) AS n_hits,
        |       coalesce(array_to_string(hits, ','), '') AS hits_csv
        |FROM h ORDER BY doc_id""".stripMargin,

    // Layout result-invariance: the Hilbert clustering must answer the
    // box query identically to the plain filter over the original table.
    "q227_hilbert_scan" ->
      """SELECT l_partkey, count(*) AS n,
        |       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 300 AND 520 AND l_suppkey BETWEEN 20 AND 60
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,

    // The oracle computes from the RAW table — the summary-answered plan
    // must be value-identical (re-aggregated partials, q189's identity).
    "q228_mv_rewrite" ->
      """SELECT l_returnflag, count(*) AS n,
        |       sum(l_quantity) AS sum_qty,
        |       min(l_quantity) AS min_qty,
        |       max(l_quantity) AS max_qty
        |FROM lineitem WHERE l_returnflag <> 'N'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Same statement text both engines (the q191/q197 device).
    "q229_tpch_q21_shape" -> tpchQ21Sql,
    "q230_tpch_q13_shape" -> tpchQ13Sql,

    // Exact per-conversion split replay: same window, same remainder-to-
    // earliest rule, integer micro-units.
    "q231_multi_touch" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
        |            FROM events),
        |t AS (SELECT user_id, event_id AS touch_id, ts_us AS touch_us
        |      FROM ev WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS conv_id, ts_us AS conv_us
        |      FROM ev WHERE event_type = 'purchase'),
        |j AS (SELECT c.conv_id, t.touch_id, c.user_id, t.touch_us
        |      FROM c JOIN t USING (user_id)
        |      WHERE t.touch_us <= c.conv_us
        |        AND t.touch_us > c.conv_us - 1800000000),
        |r AS (SELECT conv_id, touch_id, user_id,
        |             count(*) OVER (PARTITION BY conv_id) AS n,
        |             row_number() OVER (PARTITION BY conv_id
        |               ORDER BY touch_us, touch_id) AS rk
        |      FROM j)
        |SELECT conv_id, touch_id, user_id,
        |       CAST(1000000 // n +
        |            CASE WHEN rk = 1 THEN 1000000 % n ELSE 0 END AS BIGINT)
        |         AS weight_micro
        |FROM r ORDER BY conv_id, touch_id""".stripMargin,

    // Exact median replay in doubled-cents lanes; the planted missing
    // rule is mirrored verbatim.
    "q232_median_impute" ->
      """WITH ev AS (SELECT event_id, event_type,
        |                   CAST(round(value * 100) AS BIGINT) AS value_c,
        |                   event_id % 7 = 0 AS missing
        |            FROM events),
        |med AS (SELECT event_type,
        |               CAST(round(median(value_c) * 2) AS BIGINT) AS med2
        |        FROM ev WHERE NOT missing GROUP BY event_type)
        |SELECT event_id, ev.event_type,
        |       CASE WHEN missing THEN med2 ELSE value_c * 2 END AS value2_c,
        |       missing AS imputed
        |FROM ev JOIN med ON med.event_type = ev.event_type
        |ORDER BY event_id""".stripMargin,

    // Equivalence classes over the quasi-identifiers; k = 5.
    "q233_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |       CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |       count(*) AS n, count(*) >= 5 AS anonymous
        |FROM customer
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // The oracle spells the dynamically-discovered columns as CASE sums
    // under the SAME names; absent cells are zero like na.fill.
    "q234_dynamic_pivot" -> {
      val cases = Seq("click", "error", "purchase", "signup", "view").map(t =>
        s"COALESCE(CAST(sum(CASE WHEN event_type = '$t' THEN value_c END) AS BIGINT), 0) AS $t")
        .mkString(",\n       ")
      s"""WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type,
         |                   CAST(round(value * 100) AS BIGINT) AS value_c
         |            FROM events)
         |SELECT day,
         |       $cases
         |FROM ev GROUP BY day ORDER BY day""".stripMargin
    },

    // Join-free by construction — the oracle IS the semantic proof that
    // a left join to a unique key with left-only projection is a no-op.
    "q235_join_elim" ->
      """SELECT c_mktsegment, count(*) AS n_cust,
        |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_c
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // Full greedy unroll: candidate relevance, pairwise candidate
    // similarity, then five rounds of argmax(7·rel − 3·maxsim) with the
    // (score DESC, vec_id) tie rule — every score an exact integer.
    "q236_mmr_rerank" -> {
      val ln = 7; val ldiff = 3; val kC = 10; val kO = 5
      val head =
        s"""WITH e AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv FROM embeddings),
           |cand AS MATERIALIZED (
           |  SELECT qid, vec_id, rel, qv FROM (
           |    SELECT q.vec_id AS qid, v.vec_id,
           |           CAST(floor(1e6 * ${LlmSql.cos("q.qv", "v.qv")}) AS BIGINT) AS rel,
           |           v.qv,
           |           row_number() OVER (PARTITION BY q.vec_id
           |             ORDER BY ${LlmSql.cos("q.qv", "v.qv")} DESC, v.vec_id) AS rn
           |    FROM e q CROSS JOIN e v
           |    WHERE q.vec_id < 3 AND v.vec_id <> q.vec_id) rr
           |  WHERE rn <= $kC),
           |sim AS MATERIALIZED (
           |  SELECT a.qid, a.vec_id AS a, b.vec_id AS b,
           |         CAST(floor(1e6 * ${LlmSql.cos("a.qv", "b.qv")}) AS BIGINT) AS s
           |  FROM cand a JOIN cand b ON b.qid = a.qid AND b.vec_id <> a.vec_id),
           |s1 AS (SELECT qid, vec_id, CAST($ln AS BIGINT) * rel AS score, 1 AS pos FROM (
           |         SELECT qid, vec_id, rel, row_number() OVER (
           |           PARTITION BY qid ORDER BY $ln * rel DESC, vec_id) AS rn FROM cand) r1
           |       WHERE rn = 1)""".stripMargin
      val rounds = (2 to kO).map { r =>
        val selPrev = (1 until r).map(i => s"SELECT qid, vec_id FROM s$i")
          .mkString(" UNION ALL ")
        s"""p$r AS (
           |  SELECT c.qid, c.vec_id, $ln * c.rel - $ldiff * max(sim.s) AS score
           |  FROM cand c
           |  JOIN ($selPrev) sel ON sel.qid = c.qid
           |  JOIN sim ON sim.qid = c.qid AND sim.a = c.vec_id AND sim.b = sel.vec_id
           |  WHERE NOT EXISTS (SELECT 1 FROM ($selPrev) sp
           |                    WHERE sp.qid = c.qid AND sp.vec_id = c.vec_id)
           |  GROUP BY c.qid, c.vec_id, c.rel),
           |s$r AS (SELECT qid, vec_id, score, $r AS pos FROM (
           |         SELECT qid, vec_id, score, row_number() OVER (
           |           PARTITION BY qid ORDER BY score DESC, vec_id) AS rn FROM p$r) r$r
           |       WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val all = (1 to kO).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
      s"""$head,
         |$rounds
         |SELECT qid, CAST(pos AS INT) AS pos, vec_id, score AS score_micro
         |FROM ($all) u ORDER BY qid, pos""".stripMargin
    },

    // base(2/3) + delta(1/3) = the whole table — the oracle computes
    // straight from raw lineitem, so a wrong merge (double count, lost
    // group, +0-coalesced null) cannot hash-match.
    "q237_mv_incremental" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       sum(l_quantity) AS sum_qty, max(l_quantity) AS max_qty
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // The raw-table answer: skipping may touch fewer files, never fewer
    // matching rows.
    "q238_dsv2_skipping" ->
      """SELECT o_orderkey // 100 AS bucket, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_c
        |FROM orders
        |WHERE o_orderkey >= 2000 AND o_orderkey < 3000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The one-shot aggregate the per-batch folds must converge to —
    // exact integer cents, so a double-applied or lost batch cannot
    // hash-match.
    "q239_stream_mv" -> streamMvOracle,

    // The marker-gated refresh under kill-and-replay converges to the
    // same one-shot aggregate; a double-counted replayed batch cannot.
    "q311_stream_mv_recovery" -> streamMvOracle,

    // The brute quadratic form IS the oracle: result identity proves the
    // prefix filter complete (the q80/q113 contrast-pair pattern).
    "q240_edit_join" ->
      """WITH names AS (
        |  SELECT DISTINCT name FROM (
        |    SELECT p_name AS name FROM part
        |    UNION ALL
        |    SELECT 'x' || substring(p_name, 2) FROM part WHERE p_partkey % 40 = 0))
        |SELECT a.name AS n1, b.name AS n2,
        |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM names a JOIN names b
        |  ON a.name < b.name
        | AND abs(length(a.name) - length(b.name)) <= 2
        |WHERE levenshtein(a.name, b.name) <= 2
        |ORDER BY n1, n2""".stripMargin,

    // Window replay of the four role selections under the same total
    // tie orders; coinciding roles dedup via DISTINCT.
    "q241_m4_downsample" ->
      """WITH ev AS (SELECT event_type, event_id AS id, epoch_us(ts) AS ts_us,
        |                   CAST(round(value * 100) AS BIGINT) AS value_c
        |            FROM events),
        |r AS (SELECT min(ts_us) AS tmin, max(ts_us) AS tmax FROM ev),
        |b AS (SELECT ev.*, ((ts_us - tmin) * 50) // (tmax - tmin + 1) AS bucket
        |      FROM ev, r),
        |ranked AS (SELECT *,
        |  row_number() OVER (PARTITION BY event_type, bucket
        |    ORDER BY ts_us, id) AS r_first,
        |  row_number() OVER (PARTITION BY event_type, bucket
        |    ORDER BY ts_us DESC, id DESC) AS r_last,
        |  row_number() OVER (PARTITION BY event_type, bucket
        |    ORDER BY value_c, ts_us, id) AS r_vmin,
        |  row_number() OVER (PARTITION BY event_type, bucket
        |    ORDER BY value_c DESC, ts_us DESC, id DESC) AS r_vmax
        |  FROM b)
        |SELECT DISTINCT event_type, bucket, ts_us, value_c
        |FROM ranked
        |WHERE r_first = 1 OR r_last = 1 OR r_vmin = 1 OR r_vmax = 1
        |ORDER BY event_type, bucket, ts_us, value_c""".stripMargin,

    // Sign-bit blocks, XOR+bit_count Hamming, candidate window, exact
    // cosine rerank — both stages replayed with the shared tie rules.
    "q242_binary_rerank" -> {
      def blk(src: String, b: Int): String =
        s"CAST(list_sum(list_transform(range(0, 16), j -> " +
          s"CASE WHEN $src[${b * 16} + j + 1] > 0 THEN (1 << j) ELSE 0 END)) AS INT)"
      val ham = (0 until 4).map(b => s"bit_count(xor(c.b$b, qq.b$b))").mkString(" + ")
      s"""WITH e AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv FROM embeddings),
         |c AS (SELECT vec_id, qv, ${(0 until 4).map(b => s"${blk("qv", b)} AS b$b").mkString(", ")} FROM e),
         |qq AS (SELECT vec_id AS qid, qv AS qvq,
         |       ${(0 until 4).map(b => s"${blk("qv", b)} AS b$b").mkString(", ")}
         |       FROM e WHERE vec_id < 3),
         |h AS (SELECT qq.qid, c.vec_id, qq.qvq, c.qv,
         |             CAST($ham AS INT) AS hamming,
         |             row_number() OVER (PARTITION BY qq.qid
         |               ORDER BY $ham, c.vec_id) AS hrank
         |      FROM c CROSS JOIN qq WHERE c.vec_id <> qq.qid),
         |r AS (SELECT qid, vec_id, hamming, ${LlmSql.cos("qvq", "qv")} AS cos,
         |             row_number() OVER (PARTITION BY qid
         |               ORDER BY ${LlmSql.cos("qvq", "qv")} DESC, vec_id) AS rank
         |      FROM h WHERE hrank <= 50)
         |SELECT qid, CAST(rank AS INT) AS rank, vec_id, hamming, cos
         |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    },

    // The oracle replays the identical mapping (DuckDB's md5 agrees with
    // Spark's) and the identical join — equality with the raw-key join
    // is implied by injectivity at this scale.
    "q243_pseudonymize" ->
      """WITH c AS (SELECT substring(md5('graft-s1:' || CAST(c_custkey AS VARCHAR)), 1, 16) AS pid,
        |                  c_nationkey
        |           FROM customer),
        |o AS (SELECT substring(md5('graft-s1:' || CAST(o_custkey AS VARCHAR)), 1, 16) AS pid,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |      FROM orders)
        |SELECT c_nationkey, count(DISTINCT c.pid) AS n_cust,
        |       count(*) AS n_orders,
        |       CAST(sum(price_c) AS BIGINT) AS rev_c,
        |       min(c.pid) AS sample_pid
        |FROM c JOIN o ON o.pid = c.pid
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // The oracle is the FULL band replay restricted to pairs touching a
    // new (doc_id % 10 = 0) doc — the incremental == restricted-full
    // identity, verified through the same exact-Jaccard gate as q31.
    "q244_incremental_dedup" ->
      s"""WITH $minhashCandSql
         |SELECT id1, id2,
         |       len(list_intersect(s1.sh, s2.sh)) / len(list_distinct(list_concat(s1.sh, s2.sh))) AS jaccard
         |FROM cand JOIN sh s1 ON s1.doc_id = id1 JOIN sh s2 ON s2.doc_id = id2
         |WHERE (id1 % 10 = 0 OR id2 % 10 = 0)
         |  AND len(list_intersect(s1.sh, s2.sh)) / len(list_distinct(list_concat(s1.sh, s2.sh))) >= 0.5
         |ORDER BY id1, id2""".stripMargin,

    // DuckDB's own full-DL implementation is the oracle; the planted
    // swaps mirror the engine's substring surgery verbatim.
    "q245_damerau" ->
      """WITH names AS (
        |  SELECT DISTINCT name, string_split(name, ' ')[2] AS noun FROM (
        |    SELECT p_name AS name FROM part
        |    UNION ALL
        |    SELECT substring(p_name, 1, 2) || substring(p_name, 4, 1) ||
        |           substring(p_name, 3, 1) || substring(p_name, 5)
        |    FROM part WHERE p_partkey % 25 = 0))
        |SELECT a.name AS name1, b.name AS name2,
        |       CAST(damerau_levenshtein(a.name, b.name) AS INT) AS dd,
        |       CAST(levenshtein(a.name, b.name) AS INT) AS lev
        |FROM names a JOIN names b
        |  ON a.noun = b.noun AND a.name < b.name
        |WHERE damerau_levenshtein(a.name, b.name) <= 2
        |ORDER BY name1, name2""".stripMargin,

    // HUGEINT replay of the cleared-denominator rationals; strings pin
    // exactness, the doubles are computed from the same exact integers.
    "q246_cuped" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |                   CAST(round(value * 100) AS BIGINT) AS cents
        |            FROM events),
        |u AS (SELECT user_id,
        |             sum(CASE WHEN ts_us < 1705363200000000 THEN cents ELSE 0 END) AS x,
        |             sum(CASE WHEN ts_us >= 1705363200000000 THEN cents ELSE 0 END) AS y
        |      FROM ev GROUP BY user_id),
        |tot AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |               CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |               CAST(sum(x*x) AS HUGEINT) AS sxx, CAST(sum(x*y) AS HUGEINT) AS sxy
        |        FROM u),
        |arms AS (SELECT CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS nt,
        |                CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS nc,
        |                CAST(sum(CASE WHEN user_id % 2 = 1 THEN x ELSE 0 END) AS HUGEINT) AS xt,
        |                CAST(sum(CASE WHEN user_id % 2 = 0 THEN x ELSE 0 END) AS HUGEINT) AS xc,
        |                CAST(sum(CASE WHEN user_id % 2 = 1 THEN y ELSE 0 END) AS HUGEINT) AS yt,
        |                CAST(sum(CASE WHEN user_id % 2 = 0 THEN y ELSE 0 END) AS HUGEINT) AS yc
        |         FROM u),
        |f AS (SELECT n*sxy - sx*sy AS tn, n*sxx - sx*sx AS td,
        |             yt*nc - yc*nt AS dy, xt*nc - xc*nt AS dx, nt*nc AS nn,
        |             nt, nc
        |      FROM tot, arms)
        |SELECT CAST(nt AS BIGINT) AS n_t, CAST(nc AS BIGINT) AS n_c,
        |       CAST(tn AS VARCHAR) AS theta_num, CAST(td AS VARCHAR) AS theta_den,
        |       CAST(dy AS DOUBLE) / CAST(nn AS DOUBLE) AS raw_diff,
        |       CAST(dy*td - tn*dx AS VARCHAR) AS adj_num,
        |       CAST(nn*td AS VARCHAR) AS adj_den,
        |       CAST(dy*td - tn*dx AS DOUBLE) / CAST(nn*td AS DOUBLE) AS adj_diff
        |FROM f""".stripMargin,

    // Exact arm counts over distinct users; the alarm threshold in pure
    // integer arithmetic.
    "q247_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (SELECT CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |             CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c
        |      FROM u)
        |SELECT n_t, n_c,
        |       (n_t - n_c) * (n_t - n_c) AS chi2_num,
        |       n_t + n_c AS chi2_den,
        |       abs(n_t - n_c) * 1000000 // (n_t + n_c) AS mismatch_ppm,
        |       (n_t - n_c) * (n_t - n_c) * 100 > (n_t + n_c) * 384 AS srm_alarm
        |FROM a""".stripMargin,

    // Ground truth = the q72 exact inverted-index pairs; found = the q31
    // banded-MinHash pairs; recall in exact ppm.
    "q248_lsh_recall" ->
      s"""WITH $minhashCandSql,
         |idx AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM sh),
         |agg AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.sz AS s1, b.sz AS s2,
         |         count(*) AS inter
         |  FROM idx a JOIN idx b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |   AND least(a.sz, b.sz) >= 0.5 * greatest(a.sz, b.sz)
         |  GROUP BY 1, 2, 3, 4),
         |exact AS (SELECT id1, id2 FROM agg WHERE inter / (s1 + s2 - inter) >= 0.5),
         |lsh AS (SELECT c.id1, c.id2 FROM cand c
         |        JOIN sh s1 ON s1.doc_id = c.id1 JOIN sh s2 ON s2.doc_id = c.id2
         |        WHERE len(list_intersect(s1.sh, s2.sh)) / len(list_distinct(list_concat(s1.sh, s2.sh))) >= 0.5)
         |SELECT count(*) AS n_true,
         |       CAST(sum(CASE WHEN l.id1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
         |       CAST(sum(CASE WHEN l.id1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000
         |         // count(*) AS recall_ppm
         |FROM exact e LEFT JOIN lsh l ON l.id1 = e.id1 AND l.id2 = e.id2""".stripMargin,

    // DuckDB's independent strip_accents must agree with NFD + \p{Mn}
    // removal on the precomposed+decomposed mix.
    "q249_accent_fold" ->
      """WITH d AS (SELECT doc_id,
        |        substring(text, 1, 15) || ' ' ||
        |        chr(CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 233 WHEN 1 THEN 224
        |            WHEN 2 THEN 297 WHEN 3 THEN 244 ELSE 250 END) ||
        |        chr(CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 97 WHEN 1 THEN 101
        |            WHEN 2 THEN 105 WHEN 3 THEN 111 ELSE 117 END) ||
        |        chr(768 + CAST(doc_id % 4 AS INT)) AS raw
        |      FROM documents)
        |SELECT doc_id, strip_accents(raw) AS folded,
        |       CAST(length(strip_accents(raw)) AS INT) AS len_folded
        |FROM d ORDER BY doc_id""".stripMargin,

    // The same gaps-and-islands double rank, replayed.
    "q250_streaks" ->
      """WITH ev AS (SELECT event_type, event_id AS id, epoch_us(ts) AS ts_us,
        |                   CAST(round(value * 100) AS BIGINT) AS value_c
        |            FROM events),
        |w AS (SELECT *, CASE WHEN value_c > lag(value_c) OVER
        |               (PARTITION BY event_type ORDER BY ts_us, id)
        |             THEN 1 ELSE 0 END AS up,
        |             row_number() OVER (PARTITION BY event_type
        |               ORDER BY ts_us, id) AS rn
        |      FROM ev),
        |i AS (SELECT *, rn - sum(up) OVER (PARTITION BY event_type
        |               ORDER BY ts_us, id ROWS UNBOUNDED PRECEDING) AS island
        |      FROM w),
        |r AS (SELECT event_type, island, count(*) + 1 AS streak_len,
        |             min(ts_us) AS from_ts, max(ts_us) AS to_ts,
        |             max(value_c) - min(value_c) AS max_minus_min
        |      FROM i WHERE up = 1 GROUP BY 1, 2)
        |SELECT event_type, CAST(streak_len AS BIGINT) AS streak_len,
        |       from_ts, to_ts, max_minus_min
        |FROM r WHERE streak_len >= 4 ORDER BY event_type, from_ts""".stripMargin,

    // Point-in-time label: only the strictly-next event decides.
    "q251_churn_labels" ->
      """WITH ev AS (SELECT user_id, event_id AS id, epoch_us(ts) AS ts_us FROM events),
        |w AS (SELECT *, lead(ts_us) OVER (PARTITION BY user_id
        |               ORDER BY ts_us, id) AS next_us FROM ev)
        |SELECT user_id, id, ts_us,
        |       CAST(CASE WHEN next_us IS NOT NULL
        |                  AND next_us - ts_us <= 604800000000
        |             THEN 1 ELSE 0 END AS INT) AS returned_7d,
        |       next_us - ts_us AS gap_us
        |FROM w ORDER BY user_id, ts_us, id""".stripMargin,

    // The KM product replayed as a recursive CTE over the rn-ordered
    // step table — same censoring convention (censored-at-t stays in
    // n_i), same truncating integer recurrence.
    "q252_kaplan_meier" ->
      """WITH RECURSIVE subj AS (
        |  SELECT user_id,
        |         CASE WHEN min(CASE WHEN event_type = 'purchase'
        |                       THEN epoch_us(ts) END) IS NOT NULL
        |              THEN 1 ELSE 0 END AS observed,
        |         (coalesce(min(CASE WHEN event_type = 'purchase'
        |                        THEN epoch_us(ts) END),
        |                   max(epoch_us(ts))) - min(epoch_us(ts)))
        |           // 86400000000 AS dur_d
        |  FROM events GROUP BY user_id),
        |bydur AS (SELECT dur_d, count(*) AS c_all, sum(observed) AS d
        |          FROM subj GROUP BY 1),
        |st AS (SELECT dur_d, d,
        |              sum(c_all) OVER (ORDER BY dur_d DESC
        |                ROWS UNBOUNDED PRECEDING) AS n_risk
        |       FROM bydur),
        |ev AS (SELECT dur_d, d, n_risk,
        |              row_number() OVER (ORDER BY dur_d) AS rn
        |       FROM st WHERE d >= 1),
        |km AS (SELECT rn, dur_d, d, n_risk,
        |              (1000000 * (n_risk - d)) // n_risk AS s
        |       FROM ev WHERE rn = 1
        |       UNION ALL
        |       SELECT e.rn, e.dur_d, e.d, e.n_risk,
        |              (km.s * (e.n_risk - e.d)) // e.n_risk
        |       FROM km JOIN ev e ON e.rn = km.rn + 1)
        |SELECT dur_d AS t_days, CAST(d AS BIGINT) AS d_events,
        |       CAST(n_risk AS BIGINT) AS n_at_risk, CAST(s AS BIGINT) AS surv_ppm
        |FROM km ORDER BY t_days""".stripMargin,

    // Same nine inlined constants (1-based list subscript = digit), same
    // string-head digit extraction, same micro-unit chi-square.
    "q253_benford" ->
      """WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders),
        |d AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
        |             count(*) AS obs
        |      FROM v WHERE cents > 0 GROUP BY 1),
        |e AS (SELECT digit, obs, sum(obs) OVER () AS n,
        |             ([301030, 176091, 124939, 96910, 79181,
        |               66947, 57992, 51153, 45757])[digit] AS exp_ppm
        |      FROM d)
        |SELECT digit, obs, CAST(n AS BIGINT) AS n,
        |       CAST((obs * 1000000) // n AS BIGINT) AS obs_ppm,
        |       CAST(exp_ppm AS BIGINT) AS exp_ppm,
        |       CAST(((CAST(obs AS HUGEINT) * 1000000 - CAST(exp_ppm AS HUGEINT) * n)
        |             * (CAST(obs AS HUGEINT) * 1000000 - CAST(exp_ppm AS HUGEINT) * n))
        |            // (CAST(exp_ppm AS HUGEINT) * n) AS BIGINT) AS chi2_micro
        |FROM e ORDER BY digit""".stripMargin,

    // Same truncating base, same remainder ranking with the (source,
    // lang) tiebreak, same shortfall top-up.
    "q254_apportion" ->
      """WITH cells AS (SELECT source, lang, count(*) AS cnt
        |               FROM documents GROUP BY 1, 2),
        |w AS (SELECT source, lang, cnt, sum(cnt) OVER () AS total FROM cells),
        |b AS (SELECT source, lang, cnt,
        |             (cnt * 1000000) // total AS base,
        |             (cnt * 1000000) % total AS rem
        |      FROM w),
        |r AS (SELECT *, 1000000 - sum(base) OVER () AS shortfall,
        |             row_number() OVER (ORDER BY rem DESC, source, lang) AS rk
        |      FROM b)
        |SELECT source, lang, cnt, CAST(base AS BIGINT) AS base,
        |       CAST(base + CASE WHEN rk <= shortfall THEN 1 ELSE 0 END
        |            AS BIGINT) AS alloc
        |FROM r ORDER BY source, lang""".stripMargin,

    // Same symmetrized edge list, same four exact sums, same sign-safe
    // cleared-denominator ppm (HUGEINT lanes mirror DECIMAL(38)).
    "q255_assortativity" ->
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.edgesDiag},
         |e0 AS (SELECT u, v FROM ediag WHERE (u * 37 + v * 61) % 100 < 85),
         |sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
         |deg AS (SELECT u AS node, count(*) AS deg FROM sym GROUP BY 1),
         |wd AS (SELECT ju.deg AS ju, kv.deg AS kv
         |       FROM sym s JOIN deg ju ON ju.node = s.u
         |                  JOIN deg kv ON kv.node = s.v),
         |agg AS (SELECT count(*) AS m, sum(ju * kv) AS s_jk,
         |               sum(ju + kv) AS s_j, sum(ju * ju + kv * kv) AS s_q
         |        FROM wd),
         |fin AS (SELECT m, s_jk, s_j, s_q,
         |               4 * CAST(m AS HUGEINT) * s_jk
         |                 - CAST(s_j AS HUGEINT) * s_j AS num,
         |               2 * CAST(m AS HUGEINT) * s_q
         |                 - CAST(s_j AS HUGEINT) * s_j AS den
         |        FROM agg)
         |SELECT CAST(m AS BIGINT) AS m, CAST(s_jk AS BIGINT) AS s_jk,
         |       CAST(s_j AS BIGINT) AS s_j, CAST(s_q AS BIGINT) AS s_q,
         |       CAST(CASE WHEN den <= 0 THEN NULL
         |                 WHEN num < 0 THEN -(((- num) * 1000000) // den)
         |                 ELSE (num * 1000000) // den END AS BIGINT) AS r_ppm
         |FROM fin""".stripMargin,

    // Same full-series-mean convention, same n²-cleared products in
    // HUGEINT, same abs-then-truncate ppm.
    "q256_autocorr" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id AS id,
        |                   CAST(round(value * 100) AS BIGINT) AS x
        |            FROM events),
        |l AS (SELECT event_type, x,
        |             lead(x, 1) OVER w AS x_1,
        |             lead(x, 2) OVER w AS x_2,
        |             lead(x, 3) OVER w AS x_3
        |      FROM ev WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, id)),
        |st AS (SELECT event_type, count(*) AS n, sum(x) AS s FROM l GROUP BY 1),
        |y AS (SELECT l.event_type, st.n,
        |             CAST(st.n AS HUGEINT) * l.x - st.s AS y,
        |             CASE WHEN x_1 IS NULL THEN NULL
        |                  ELSE CAST(st.n AS HUGEINT) * x_1 - st.s END AS y1,
        |             CASE WHEN x_2 IS NULL THEN NULL
        |                  ELSE CAST(st.n AS HUGEINT) * x_2 - st.s END AS y2,
        |             CASE WHEN x_3 IS NULL THEN NULL
        |                  ELSE CAST(st.n AS HUGEINT) * x_3 - st.s END AS y3
        |      FROM l JOIN st USING (event_type)),
        |a AS (SELECT event_type, n, sum(y * y) AS den,
        |             sum(CASE WHEN y1 IS NULL THEN 0 ELSE y * y1 END) AS num_1,
        |             sum(CASE WHEN y2 IS NULL THEN 0 ELSE y * y2 END) AS num_2,
        |             sum(CASE WHEN y3 IS NULL THEN 0 ELSE y * y3 END) AS num_3
        |      FROM y GROUP BY 1, 2),
        |u AS (SELECT event_type, n, den, 1 AS lag, num_1 AS num FROM a
        |      UNION ALL SELECT event_type, n, den, 2, num_2 FROM a
        |      UNION ALL SELECT event_type, n, den, 3, num_3 FROM a)
        |SELECT event_type, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n,
        |       CAST(CASE WHEN den <= 0 THEN NULL
        |                 WHEN num < 0 THEN -(((- num) * 1000000) // den)
        |                 ELSE (num * 1000000) // den END AS BIGINT) AS r_ppm
        |FROM u ORDER BY event_type, lag""".stripMargin,

    // All six HITS gather+renorm steps unrolled; coalesce-0 mirrors the
    // left joins, the div-by-max renorm is the same integer recurrence.
    "q257_hits" -> {
      def half(i: Int, outCol: String, src: String,
               joinOn: String, groupOn: String): String =
        s"""g$i AS MATERIALIZED (SELECT nd.node, coalesce(g.$outCol, 0) AS $outCol
           |  FROM nd LEFT JOIN (SELECT e0.$groupOn AS node, sum($src.${if (outCol == "h") "a" else "h"}) AS $outCol
           |    FROM e0 JOIN $src ON $src.node = e0.$joinOn GROUP BY 1) g USING (node)),
           |r$i AS MATERIALIZED (SELECT node,
           |    CASE WHEN mx = 0 THEN 0 ELSE ($outCol * 1000) // mx END AS $outCol
           |  FROM g$i CROSS JOIN (SELECT max(abs($outCol)) AS mx FROM g$i))""".stripMargin
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.edgesDiag},
         |e0 AS MATERIALIZED (SELECT u, v FROM ediag
         |  WHERE (u * 37 + v * 61) % 100 < 85),
         |nd AS MATERIALIZED (SELECT DISTINCT node FROM
         |  (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)),
         |a0 AS (SELECT node, 1000 AS a FROM nd),
         |${half(1, "h", "a0", joinOn = "v", groupOn = "u")},
         |${half(2, "a", "r1", joinOn = "u", groupOn = "v")},
         |${half(3, "h", "r2", joinOn = "v", groupOn = "u")},
         |${half(4, "a", "r3", joinOn = "u", groupOn = "v")},
         |${half(5, "h", "r4", joinOn = "v", groupOn = "u")},
         |${half(6, "a", "r5", joinOn = "u", groupOn = "v")}
         |SELECT nd.node, CAST(r5.h AS BIGINT) AS h, CAST(r6.a AS BIGINT) AS a
         |FROM nd JOIN r5 USING (node) JOIN r6 USING (node)
         |ORDER BY node""".stripMargin
    },

    // Same doubled-rank tie handling, same cleared-variance lane, same
    // truncated ppm effect size.
    "q258_mann_whitney" ->
      """WITH dom AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |                    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ca,
        |                    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cb
        |             FROM events WHERE event_type IN ('view', 'click')
        |             GROUP BY 1),
        |c AS (SELECT v, ca, cb, ca + cb AS t,
        |             sum(ca + cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_end
        |      FROM dom),
        |a AS (SELECT sum(ca) AS n_a, sum(cb) AS n_b,
        |             sum(ca * (2 * (cum_end - t) + t + 1)) AS r2_a,
        |             sum(t * t * t - t) AS t_ties
        |      FROM c),
        |f AS (SELECT n_a, n_b, r2_a - n_a * (n_a + 1) AS u2_a, t_ties,
        |             n_a + n_b AS n FROM a)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |       CAST(u2_a AS BIGINT) AS u2_a, CAST(t_ties AS BIGINT) AS t_ties,
        |       CAST((CAST(n_a AS HUGEINT) * n_b *
        |             (CAST(n AS HUGEINT) * n * n - n - t_ties)) // 1000000
        |            AS BIGINT) AS var12nn1_micro,
        |       CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
        |            ELSE (u2_a * 1000000) // (2 * n_a * n_b) END
        |            AS BIGINT) AS auc_ppm
        |FROM f""".stripMargin,

    // Four half-rounds unrolled, the same truncating micro recurrence
    // with the margin windows over the cell domain.
    "q259_ipf_rake" -> {
      def half(i: Int, prev: String, margin: String, part: String): String =
        s"""r$i AS (SELECT source, lang, cnt, t_row, t_col,
           |  (w * $margin * 1000000) // (sum(cnt * w) OVER (PARTITION BY $part)) AS w
           |  FROM $prev)""".stripMargin
      s"""WITH cells AS (SELECT source, lang, count(*) AS cnt FROM documents
         |               WHERE doc_id % 2 = 1 GROUP BY 1, 2),
         |tr AS (SELECT source, count(*) AS t_row FROM documents GROUP BY 1),
         |tc AS (SELECT lang, count(*) AS t_col FROM documents GROUP BY 1),
         |r0 AS (SELECT c.source, c.lang, c.cnt, tr.t_row, tc.t_col,
         |              CAST(1000000 AS HUGEINT) AS w
         |       FROM cells c JOIN tr USING (source) JOIN tc USING (lang)),
         |${half(1, "r0", "t_row", "source")},
         |${half(2, "r1", "t_col", "lang")},
         |${half(3, "r2", "t_row", "source")},
         |${half(4, "r3", "t_col", "lang")}
         |SELECT source, lang, cnt, CAST(w AS BIGINT) AS w_micro,
         |       CAST(cnt * w AS BIGINT) AS mass_micro
         |FROM r4 ORDER BY source, lang""".stripMargin
    },

    // Same positional inverted-index joins; generate_subscripts is
    // 1-based, shifted to the engine's 0-based positions.
    "q260_phrase_search" ->
      """WITH toks AS (SELECT doc_id,
        |                     generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
        |                     unnest(string_split(text, ' ')) AS w
        |              FROM documents),
        |a AS (SELECT doc_id, pos FROM toks WHERE w = 'value'),
        |m AS (SELECT a.doc_id, a.pos
        |      FROM a JOIN toks t1 ON t1.doc_id = a.doc_id
        |                         AND t1.pos = a.pos + 1 AND t1.w = 'table'
        |             JOIN toks t2 ON t2.doc_id = a.doc_id
        |                         AND t2.pos = a.pos + 2 AND t2.w = 'part')
        |SELECT doc_id, count(*) AS n_hits, min(pos) AS first_pos
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same reduced-domain cumulative weights, same lower-median rule.
    "q261_weighted_median" ->
      """WITH dom AS (SELECT l_returnflag AS g,
        |                    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |                    sum(CAST(l_quantity AS BIGINT)) AS w
        |             FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT g, v, w,
        |             sum(w) OVER (PARTITION BY g ORDER BY v
        |               ROWS UNBOUNDED PRECEDING) AS cum,
        |             sum(w) OVER (PARTITION BY g) AS w_total
        |      FROM dom)
        |SELECT g AS l_returnflag, min(v) AS median_v,
        |       CAST(min(w_total) AS BIGINT) AS w_total
        |FROM c WHERE cum * 2 >= w_total GROUP BY g ORDER BY g""".stripMargin,

    // Same count-of-counts domain, same truncated micro smoothing; the
    // max count's missing successor reports NULL in both engines.
    "q262_good_turing" ->
      """WITH counts AS (SELECT w, count(*) AS r
        |                FROM (SELECT unnest(string_split(text, ' ')) AS w
        |                      FROM documents)
        |                GROUP BY w),
        |nr AS (SELECT r, count(*) AS n_r FROM counts GROUP BY r),
        |m AS (SELECT r, n_r, r * n_r AS mass,
        |             sum(r * n_r) OVER () AS total_mass FROM nr)
        |SELECT m.r, CAST(m.n_r AS BIGINT) AS n_r,
        |       CAST((m.mass * 1000000) // m.total_mass AS BIGINT) AS mass_ppm,
        |       CAST(((m.r + 1) * s.n_r * 1000000) // m.n_r AS BIGINT) AS r_star_micro
        |FROM m LEFT JOIN nr s ON s.r = m.r + 1
        |ORDER BY m.r""".stripMargin,

    // RANGE frames are value-based in both engines: all ts peers join
    // the frame, so ties need no id tiebreak to hash-match.
    "q263_range_frame" ->
      """WITH ev AS (SELECT user_id, event_id AS id, epoch_us(ts) AS ts_us,
        |                   CAST(round(value * 100) AS BIGINT) AS v_c
        |            FROM events)
        |SELECT user_id, id, ts_us,
        |       CAST(sum(v_c) OVER w AS BIGINT) AS hour_sum_c,
        |       CAST(count(*) OVER w AS BIGINT) AS hour_n
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, id""".stripMargin,

    // Identical statement text — DuckDB decorrelates the same scalars.
    "q264_tpch_q17_shape" -> tpchQ17Sql,

    // Three picks unrolled: per-seed distance CTEs, least-fold, and the
    // (mind2 DESC, id) argmax mirroring max_by's tiebreak.
    "q265_kcenter_seeds" ->
      """WITH x AS (SELECT vec_id AS id,
        |             list_transform(embedding,
        |               e -> CAST(round(CAST(e AS DOUBLE) * 1e7) AS BIGINT)) AS xc
        |           FROM embeddings),
        |u AS (SELECT id, unnest(xc) AS val, generate_subscripts(xc, 1) AS j FROM x),
        |s0 AS (SELECT min(id) AS id FROM x),
        |u0 AS (SELECT j, val FROM u WHERE id = (SELECT id FROM s0)),
        |dA AS (SELECT u.id, sum((u.val - u0.val) * (u.val - u0.val)) AS d2
        |       FROM u JOIN u0 USING (j) GROUP BY u.id),
        |p1 AS (SELECT id, d2 FROM dA ORDER BY d2 DESC, id LIMIT 1),
        |u1 AS (SELECT j, val FROM u WHERE id = (SELECT id FROM p1)),
        |dB AS (SELECT u.id, sum((u.val - u1.val) * (u.val - u1.val)) AS d2
        |       FROM u JOIN u1 USING (j) GROUP BY u.id),
        |m2 AS (SELECT dA.id, least(dA.d2, dB.d2) AS mind2 FROM dA JOIN dB USING (id)),
        |p2 AS (SELECT id, mind2 FROM m2 ORDER BY mind2 DESC, id LIMIT 1),
        |u2 AS (SELECT j, val FROM u WHERE id = (SELECT id FROM p2)),
        |dC AS (SELECT u.id, sum((u.val - u2.val) * (u.val - u2.val)) AS d2
        |       FROM u JOIN u2 USING (j) GROUP BY u.id),
        |m3 AS (SELECT m2.id, least(m2.mind2, dC.d2) AS mind2 FROM m2 JOIN dC USING (id)),
        |p3 AS (SELECT id, mind2 FROM m3 ORDER BY mind2 DESC, id LIMIT 1)
        |SELECT CAST(0 AS INT) AS seed_rank, (SELECT id FROM s0) AS vec_id,
        |       CAST(0 AS BIGINT) AS mind2
        |UNION ALL SELECT 1, id, CAST(d2 AS BIGINT) FROM p1
        |UNION ALL SELECT 2, id, CAST(mind2 AS BIGINT) FROM p2
        |UNION ALL SELECT 3, id, CAST(mind2 AS BIGINT) FROM p3
        |ORDER BY seed_rank""".stripMargin,

    // Same cleared-denominator contrast, same truncated key, same
    // (key DESC, p) argmax.
    "q266_binary_segmentation" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id AS id,
        |                   CAST(round(value * 100) AS BIGINT) AS x
        |            FROM events),
        |r AS (SELECT event_type, ts_us,
        |             row_number() OVER w AS p,
        |             sum(x) OVER (PARTITION BY event_type ORDER BY ts_us, id
        |               ROWS UNBOUNDED PRECEDING) AS s_l,
        |             count(*) OVER (PARTITION BY event_type) AS n,
        |             sum(x) OVER (PARTITION BY event_type) AS s
        |      FROM ev WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, id)),
        |sc AS (SELECT event_type, ts_us, p, n,
        |              CAST(s_l AS HUGEINT) * (n - p)
        |                - (CAST(s AS HUGEINT) - s_l) * p AS d
        |       FROM r WHERE p < n),
        |k AS (SELECT event_type, ts_us, p, n, d,
        |             (d * d) // (CAST(p AS HUGEINT) * (n - p) * 1000000) AS key
        |      FROM sc),
        |b AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |               ORDER BY key DESC, p) AS rk FROM k)
        |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(p AS BIGINT) AS split_pos,
        |       ts_us AS split_ts_us, CAST(key AS BIGINT) AS score_scaled,
        |       CAST(CASE WHEN d > 0 THEN -1 WHEN d < 0 THEN 1 ELSE 0 END AS INT) AS dir
        |FROM b WHERE rk = 1 ORDER BY event_type""".stripMargin,

    // Same cell-domain pair masses, same margin tie counts, same
    // sign-safe 2(P−Q)·10⁶ div n(n−1).
    "q267_kendall_tau" ->
      """WITH cells AS (SELECT CAST(l_quantity AS BIGINT) AS a,
        |                      CAST(round(l_discount * 100) AS BIGINT) AS b,
        |                      count(*) AS cnt
        |               FROM lineitem GROUP BY 1, 2),
        |p AS (SELECT sum(CASE WHEN y.b > x.b THEN x.cnt * y.cnt ELSE 0 END) AS p_conc,
        |             sum(CASE WHEN y.b < x.b THEN x.cnt * y.cnt ELSE 0 END) AS q_disc
        |      FROM cells x JOIN cells y ON x.a < y.a),
        |ma AS (SELECT sum((m * (m - 1)) // 2) AS ties_a, sum(m) AS n
        |       FROM (SELECT a, sum(cnt) AS m FROM cells GROUP BY a)),
        |mb AS (SELECT sum((m * (m - 1)) // 2) AS ties_b
        |       FROM (SELECT b, sum(cnt) AS m FROM cells GROUP BY b))
        |SELECT CAST(n AS BIGINT) AS n, CAST(p_conc AS BIGINT) AS p_conc,
        |       CAST(q_disc AS BIGINT) AS q_disc, CAST(ties_a AS BIGINT) AS ties_a,
        |       CAST(ties_b AS BIGINT) AS ties_b,
        |       CAST(CASE WHEN p_conc >= q_disc
        |             THEN (CAST(p_conc - q_disc AS HUGEINT) * 2000000)
        |                  // (n * (n - 1))
        |             ELSE -((CAST(q_disc - p_conc AS HUGEINT) * 2000000)
        |                  // (n * (n - 1)))
        |        END AS BIGINT) AS taua_ppm
        |FROM p, ma, mb""".stripMargin,

    // The oracle rebuilds the SAME vocabulary (chars + top-20 substrings,
    // (cnt DESC, s) total order) and replays the maximal munch as a
    // recursive CTE — longest match via length-guarded LEFT JOINs.
    "q269_wordpiece" ->
      """WITH RECURSIVE words AS MATERIALIZED (
        |  SELECT DISTINCT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |subs AS (
        |  SELECT unnest(flatten([
        |    [substring(w, CAST(i AS INT), CAST(l AS INT))
        |     FOR i IN generate_series(1, length(w) - l + 1)]
        |    FOR l IN [2, 3, 4]])) AS s
        |  FROM words WHERE length(w) >= 2),
        |top AS (SELECT s FROM (SELECT s, count(*) AS cnt FROM subs GROUP BY s)
        |        ORDER BY cnt DESC, s LIMIT 20),
        |chs AS (SELECT DISTINCT unnest([substring(w, CAST(i AS INT), 1)
        |                         FOR i IN generate_series(1, length(w))]) AS s
        |        FROM words),
        |voc AS MATERIALIZED (SELECT DISTINCT s FROM
        |  (SELECT s FROM top UNION ALL SELECT s FROM chs)),
        |enc AS (
        |  SELECT w, CAST(1 AS BIGINT) AS p, CAST([] AS VARCHAR[]) AS ts FROM words
        |  UNION ALL
        |  SELECT w, p + length(piece), list_append(ts, piece) FROM (
        |    SELECT e.w, e.p, e.ts,
        |           coalesce(v4.s, v3.s, v2.s,
        |                    substring(e.w, CAST(e.p AS INT), 1)) AS piece
        |    FROM enc e
        |    LEFT JOIN voc v4 ON e.p + 3 <= length(e.w)
        |                    AND v4.s = substring(e.w, CAST(e.p AS INT), 4)
        |    LEFT JOIN voc v3 ON e.p + 2 <= length(e.w)
        |                    AND v3.s = substring(e.w, CAST(e.p AS INT), 3)
        |    LEFT JOIN voc v2 ON e.p + 1 <= length(e.w)
        |                    AND v2.s = substring(e.w, CAST(e.p AS INT), 2)
        |    WHERE e.p <= length(e.w)))
        |SELECT w, array_to_string(ts, '|') AS pieces,
        |       CAST(len(ts) AS BIGINT) AS n_pieces
        |FROM enc WHERE p > length(w) ORDER BY w""".stripMargin,

    // Same per-user reduce, same descending decile bins, same cleared
    // cumulative contrast.
    "q270_qini" ->
      """WITH users AS (SELECT user_id % 2 = 0 AS treated,
        |                      sum(CAST(round(value * 100) AS BIGINT)) AS score,
        |                      max(CASE WHEN event_type = 'purchase'
        |                          THEN 1 ELSE 0 END) AS y
        |               FROM events GROUP BY user_id),
        |dom AS (SELECT score, count(*) AS cnt,
        |               sum(CASE WHEN treated THEN 1 ELSE 0 END) AS nt,
        |               sum(CASE WHEN treated THEN y ELSE 0 END) AS rt,
        |               sum(CASE WHEN NOT treated THEN y ELSE 0 END) AS rc
        |        FROM users GROUP BY score),
        |c AS (SELECT *, sum(cnt) OVER (ORDER BY score DESC
        |               ROWS UNBOUNDED PRECEDING) AS cum_end,
        |             sum(cnt) OVER () AS n_total
        |      FROM dom),
        |b AS (SELECT ((cum_end - cnt) * 10) // n_total AS bin,
        |             cnt, nt, rt, rc FROM c),
        |g AS (SELECT bin, sum(cnt) AS n, sum(nt) AS nt,
        |             sum(rt) AS rt, sum(rc) AS rc
        |      FROM b GROUP BY bin),
        |k AS (SELECT bin,
        |             sum(n) OVER w AS n_cum, sum(nt) OVER w AS nt_cum,
        |             sum(rt) OVER w AS rt_cum, sum(rc) OVER w AS rc_cum
        |      FROM g WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)),
        |f AS (SELECT bin, nt_cum, rt_cum, n_cum - nt_cum AS nc_cum, rc_cum,
        |             CAST(rt_cum AS HUGEINT) * (n_cum - nt_cum)
        |               - CAST(rc_cum AS HUGEINT) * nt_cum AS num
        |      FROM k)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(nt_cum AS BIGINT) AS nt_cum,
        |       CAST(rt_cum AS BIGINT) AS rt_cum, CAST(nc_cum AS BIGINT) AS nc_cum,
        |       CAST(rc_cum AS BIGINT) AS rc_cum,
        |       CAST(CASE WHEN nc_cum = 0 THEN NULL
        |                 WHEN num < 0 THEN -(((- num) * 1000000) // nc_cum)
        |                 ELSE (num * 1000000) // nc_cum END AS BIGINT) AS qini_micro
        |FROM f ORDER BY bin""".stripMargin,

    // Same descending reduced-domain cumulative, same ppm truncation.
    "q271_roc_curve" ->
      """WITH dom AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |                    sum(CASE WHEN event_type = 'purchase'
        |                        THEN 1 ELSE 0 END) AS tp_v,
        |                    sum(CASE WHEN event_type = 'purchase'
        |                        THEN 0 ELSE 1 END) AS fp_v
        |             FROM events GROUP BY 1),
        |c AS (SELECT v,
        |             sum(tp_v) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING) AS tp,
        |             sum(fp_v) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING) AS fp,
        |             sum(tp_v) OVER () AS p, sum(fp_v) OVER () AS n
        |      FROM dom)
        |SELECT v, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |       CAST(CASE WHEN p > 0 THEN (tp * 1000000) // p END AS BIGINT) AS tpr_ppm,
        |       CAST(CASE WHEN n > 0 THEN (fp * 1000000) // n END AS BIGINT) AS fpr_ppm
        |FROM c ORDER BY v DESC""".stripMargin,

    // Same banded candidates (shared minhash CTE), same exact ppm
    // Jaccard, same threshold grid.
    "q273_lsh_precision" ->
      s"""WITH $minhashCandSql,
         |j AS (SELECT (len(list_intersect(s1.sh, s2.sh)) * 1000000)
         |             // len(list_distinct(list_concat(s1.sh, s2.sh))) AS jac_ppm
         |      FROM cand JOIN sh s1 ON s1.doc_id = id1
         |                JOIN sh s2 ON s2.doc_id = id2),
         |t AS (SELECT unnest([500000, 600000, 700000, 800000]) AS thr),
         |g AS (SELECT thr, count(*) AS n_cand,
         |             sum(CASE WHEN jac_ppm >= thr THEN 1 ELSE 0 END) AS n_pass
         |      FROM t CROSS JOIN j GROUP BY thr)
         |SELECT CAST(thr AS INT) AS thr, CAST(n_cand AS BIGINT) AS n_cand,
         |       CAST(n_pass AS BIGINT) AS n_pass,
         |       CAST(CASE WHEN n_cand = 0 THEN NULL
         |            ELSE (n_pass * 1000000) // n_cand END AS BIGINT) AS precision_ppm
         |FROM g ORDER BY thr""".stripMargin,

    // The q184 label-propagation rounds rebuilt, then the exact
    // modularity masses over the same symmetrized edge set.
    "q274_modularity" -> {
      def round(i: Int): String =
        s"""v$i AS MATERIALIZED (SELECT s.u AS node, l.label, count(*) AS cnt
           |  FROM sym s JOIN l${i - 1} l ON l.node = s.v GROUP BY 1, 2),
           |l$i AS MATERIALIZED (SELECT node, label FROM (
           |  SELECT node, label, row_number() OVER (PARTITION BY node
           |    ORDER BY cnt DESC, label) AS rn FROM v$i) WHERE rn = 1)""".stripMargin
      s"""WITH ${Derive.Sql.nodes},
         |${Derive.Sql.edgesDiag},
         |e0 AS MATERIALIZED (SELECT u, v FROM ediag WHERE (u * 37 + v * 61) % 100 < 85),
         |sym AS MATERIALIZED (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
         |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM sym),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |wl AS (SELECT s.u, s.v, lu.label AS cu, lv.label AS cv
         |       FROM sym s JOIN l3 lu ON lu.node = s.u
         |                  JOIN l3 lv ON lv.node = s.v),
         |perc AS (SELECT cu AS community, count(*) AS d_sum,
         |                sum(CASE WHEN cu = cv THEN 1 ELSE 0 END) AS e_in_dir
         |         FROM wl GROUP BY 1),
         |nn AS (SELECT label AS community, count(*) AS n_nodes FROM l3 GROUP BY 1),
         |jj AS (SELECT p.community, nn.n_nodes, p.e_in_dir, p.d_sum,
         |              sum(p.d_sum) OVER () AS m_dir
         |       FROM perc p JOIN nn USING (community)),
         |c AS (SELECT *, m_dir * e_in_dir - d_sum * d_sum AS contrib FROM jj),
         |f AS (SELECT *, sum(contrib) OVER () AS qtot FROM c)
         |SELECT community, CAST(n_nodes AS BIGINT) AS n_nodes,
         |       CAST(e_in_dir AS BIGINT) AS e_in_dir,
         |       CAST(d_sum AS BIGINT) AS d_sum, CAST(contrib AS BIGINT) AS contrib,
         |       CAST(CASE WHEN qtot < 0
         |            THEN -(((- CAST(qtot AS HUGEINT)) * 1000000)
         |                   // (CAST(m_dir AS HUGEINT) * m_dir))
         |            ELSE ((CAST(qtot AS HUGEINT)) * 1000000)
         |                 // (CAST(m_dir AS HUGEINT) * m_dir) END AS BIGINT) AS q_ppm
         |FROM f ORDER BY community""".stripMargin
    },

    // Identical statement text — DuckDB runs the same three levels.
    "q275_tpch_q20_shape" -> tpchQ20Sql,

    // The data law is a plain filter — the skipping being exercised on
    // the Spark side cannot change the answer, only the files read.
    "q276_bloom_skip" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (40, 41, 1002) ORDER BY doc_id""".stripMargin,

    // Same daily reduce, same abs-then-truncate pair slopes, same lower
    // medians over the reduced domains.
    "q277_theil_sen" ->
      """WITH pts AS (SELECT event_type, epoch_us(ts) // 86400000000 AS t,
        |                    sum(CAST(round(value * 100) AS BIGINT)) AS y
        |             FROM events GROUP BY 1, 2),
        |pairs AS (SELECT a.event_type,
        |                 CASE WHEN b.y - a.y < 0
        |                      THEN -(((a.y - b.y) * 1000000) // (b.t - a.t))
        |                      ELSE ((b.y - a.y) * 1000000) // (b.t - a.t) END AS slope
        |          FROM pts a JOIN pts b
        |            ON b.event_type = a.event_type AND a.t < b.t),
        |sdom AS (SELECT event_type, slope, count(*) AS c FROM pairs GROUP BY 1, 2),
        |scum AS (SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY slope
        |              ROWS UNBOUNDED PRECEDING) AS cum,
        |              sum(c) OVER (PARTITION BY event_type) AS ntot FROM sdom),
        |sm AS (SELECT event_type, min(slope) AS slope_micro, min(ntot) AS n_pairs
        |       FROM scum WHERE cum * 2 >= ntot GROUP BY 1),
        |resid AS (SELECT p.event_type, p.y * 1000000 - sm.slope_micro * p.t AS r
        |          FROM pts p JOIN sm USING (event_type)),
        |rdom AS (SELECT event_type, r, count(*) AS c FROM resid GROUP BY 1, 2),
        |rcum AS (SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY r
        |              ROWS UNBOUNDED PRECEDING) AS cum,
        |              sum(c) OVER (PARTITION BY event_type) AS ntot FROM rdom),
        |im AS (SELECT event_type, min(r) AS intercept_micro FROM rcum
        |       WHERE cum * 2 >= ntot GROUP BY 1),
        |np AS (SELECT event_type, count(*) AS n_points FROM pts GROUP BY 1)
        |SELECT np.event_type, CAST(np.n_points AS BIGINT) AS n_points,
        |       CAST(sm.n_pairs AS BIGINT) AS n_pairs,
        |       CAST(sm.slope_micro AS BIGINT) AS slope_micro,
        |       CAST(im.intercept_micro AS BIGINT) AS intercept_micro
        |FROM np JOIN sm USING (event_type) JOIN im USING (event_type)
        |ORDER BY np.event_type""".stripMargin,

    // Exact counts + the pinned TRUE flag (the q87 sketch-gate pattern:
    // the oracle cannot model Spark's HLL++, so it pins the CONTRACT).
    "q278_approx_distinct_rule" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT lang, count(DISTINCT tok) AS n_distinct, TRUE AS approx_ok
        |FROM toks GROUP BY lang ORDER BY lang""".stripMargin,

    // Same exact lower-median time cut, same four truncated mean terms.
    "q272_did" ->
      """WITH ev AS (SELECT user_id % 2 = 0 AS treated, epoch_us(ts) AS ts_us,
        |                   CAST(round(value * 100) AS BIGINT) AS v_c
        |            FROM events),
        |dom AS (SELECT ts_us, count(*) AS cnt FROM ev GROUP BY 1),
        |cut AS (SELECT min(ts_us) AS cut_us FROM (
        |          SELECT ts_us,
        |                 sum(cnt) OVER (ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS cum,
        |                 sum(cnt) OVER () AS n
        |          FROM dom) WHERE cum * 2 >= n),
        |cells AS (SELECT
        |    sum(CASE WHEN treated AND ts_us > cut_us THEN 1 ELSE 0 END) AS n_tp,
        |    sum(CASE WHEN treated AND ts_us > cut_us THEN v_c ELSE 0 END) AS s_tp,
        |    sum(CASE WHEN treated AND ts_us <= cut_us THEN 1 ELSE 0 END) AS n_tr,
        |    sum(CASE WHEN treated AND ts_us <= cut_us THEN v_c ELSE 0 END) AS s_tr,
        |    sum(CASE WHEN NOT treated AND ts_us > cut_us THEN 1 ELSE 0 END) AS n_cp,
        |    sum(CASE WHEN NOT treated AND ts_us > cut_us THEN v_c ELSE 0 END) AS s_cp,
        |    sum(CASE WHEN NOT treated AND ts_us <= cut_us THEN 1 ELSE 0 END) AS n_cr,
        |    sum(CASE WHEN NOT treated AND ts_us <= cut_us THEN v_c ELSE 0 END) AS s_cr
        |  FROM ev CROSS JOIN cut)
        |SELECT CAST(n_tp AS BIGINT) AS n_tp, CAST(s_tp AS BIGINT) AS s_tp,
        |       CAST(n_tr AS BIGINT) AS n_tr, CAST(s_tr AS BIGINT) AS s_tr,
        |       CAST(n_cp AS BIGINT) AS n_cp, CAST(s_cp AS BIGINT) AS s_cp,
        |       CAST(n_cr AS BIGINT) AS n_cr, CAST(s_cr AS BIGINT) AS s_cr,
        |       CAST(CASE WHEN n_tp = 0 OR n_tr = 0 OR n_cp = 0 OR n_cr = 0 THEN NULL
        |            ELSE ((s_tp * 1000000) // n_tp) - ((s_tr * 1000000) // n_tr)
        |             - (((s_cp * 1000000) // n_cp) - ((s_cr * 1000000) // n_cr))
        |            END AS BIGINT) AS did_micro
        |FROM cells""".stripMargin,

    // Same md5 ranking (identical hex in both engines), same exact
    // integer permille boundaries.
    "q268_stratified_split" ->
      """WITH h AS (SELECT source, doc_id,
        |                  md5(concat_ws(':', 'split', CAST(doc_id AS VARCHAR))) AS h
        |           FROM documents),
        |r AS (SELECT source, doc_id,
        |             row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS r,
        |             count(*) OVER (PARTITION BY source) AS n_s
        |      FROM h)
        |SELECT source, doc_id,
        |       CASE WHEN r * 1000 <= n_s * 800 THEN 'train'
        |            WHEN r * 1000 <= n_s * 900 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM r ORDER BY doc_id""".stripMargin,

    // Same doubled average ranks over the cell domain, same HUGEINT
    // Pearson pieces, same n-divided truncation lanes for the headline.
    "q279_spearman" ->
      """WITH rows_ AS (SELECT lang, n_chars AS a,
        |                      CAST(len(string_split(text, ' ')) AS BIGINT) AS b
        |               FROM documents),
        |cells AS (SELECT lang, a, b, count(*) AS cnt FROM rows_ GROUP BY 1, 2, 3),
        |ma AS (SELECT lang, a,
        |              2 * sum(m) OVER (PARTITION BY lang ORDER BY a
        |                  ROWS UNBOUNDED PRECEDING) - m + 1 AS da
        |       FROM (SELECT lang, a, sum(cnt) AS m FROM cells GROUP BY 1, 2)),
        |mb AS (SELECT lang, b,
        |              2 * sum(m) OVER (PARTITION BY lang ORDER BY b
        |                  ROWS UNBOUNDED PRECEDING) - m + 1 AS db
        |       FROM (SELECT lang, b, sum(cnt) AS m FROM cells GROUP BY 1, 2)),
        |mom AS (SELECT c.lang, sum(cnt) AS n,
        |               sum(cnt * da) AS sa, sum(cnt * db) AS sb,
        |               sum(CAST(cnt AS HUGEINT) * da * db) AS sab,
        |               sum(CAST(cnt AS HUGEINT) * da * da) AS sa2,
        |               sum(CAST(cnt AS HUGEINT) * db * db) AS sb2
        |        FROM cells c JOIN ma USING (lang, a) JOIN mb USING (lang, b)
        |        GROUP BY 1),
        |p AS (SELECT lang, n,
        |             CAST(n AS HUGEINT) * sab - CAST(sa AS HUGEINT) * sb AS num,
        |             CAST(n AS HUGEINT) * sa2 - CAST(sa AS HUGEINT) * sa AS den_a,
        |             CAST(n AS HUGEINT) * sb2 - CAST(sb AS HUGEINT) * sb AS den_b
        |      FROM mom)
        |SELECT lang, CAST(n AS BIGINT) AS n,
        |       CAST(CASE WHEN num >= 0 THEN num // 1000
        |            ELSE -((-num) // 1000) END AS BIGINT) AS num_milli,
        |       CAST(den_a // 1000 AS BIGINT) AS den_a_milli,
        |       CAST(den_b // 1000 AS BIGINT) AS den_b_milli,
        |       CAST(CASE WHEN den_a = 0 OR den_b = 0 THEN NULL
        |            WHEN (den_a // n) * (den_b // n) = 0 THEN NULL
        |            WHEN num >= 0 THEN
        |              ((num // n) * (num // n) * 1000000)
        |                // ((den_a // n) * (den_b // n))
        |            ELSE
        |              -((((-num) // n) * ((-num) // n) * 1000000)
        |                // ((den_a // n) * (den_b // n)))
        |            END AS BIGINT) AS rho2s_ppm
        |FROM p ORDER BY lang""".stripMargin,

    // Full Lloyd-chain replay (the q60 CTEs), then both distances per
    // point ranked by (dist, cid) — rn=1/rn=2 are the fold's (a, b).
    "q280_silhouette" ->
      s"""WITH qv AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv FROM embeddings),
         |${KmeansSql.twoRounds(k = 4, dim = 64)},
         |d AS (SELECT v.vec_id, c.cid,
         |             list_sum(list_transform(range(1, 65),
         |               i -> (v.qv[i] - c.cv[i]) * (v.qv[i] - c.cv[i]))) AS dist
         |      FROM qv v CROSS JOIN c2 c),
         |r AS (SELECT vec_id, cid, dist,
         |             row_number() OVER (PARTITION BY vec_id
         |                 ORDER BY dist, cid) AS rn
         |      FROM d),
         |ab AS (SELECT r1.cid, r1.dist AS a2, r2.dist AS b2
         |       FROM r r1 JOIN r r2
         |         ON r2.vec_id = r1.vec_id AND r2.rn = 2
         |       WHERE r1.rn = 1),
         |s AS (SELECT cid,
         |             CASE WHEN b2 = 0 THEN 0
         |                  ELSE (CAST(b2 - a2 AS HUGEINT) * 1000000) // b2
         |             END AS s_ppm
         |      FROM ab)
         |SELECT CAST(cid AS INT) AS cid, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(s_ppm) // count(*) AS BIGINT) AS mean_s_ppm
         |FROM s GROUP BY cid ORDER BY cid""".stripMargin,

    // Same daily reduce, same sign-safe halving recurrence replayed as a
    // recursive CTE carrying the (level, trend) pair.
    "q281_holt_trend" -> {
      def half(v: String): String =
        s"CASE WHEN ($v) >= 0 THEN ($v) // 2 ELSE -((-($v)) // 2) END"
      val lNew = half("f.l + f.b + e.x")
      s"""WITH RECURSIVE d AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |         sum(CAST(round(value * 100) AS BIGINT)) AS x
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT event_type, day, x,
         |             row_number() OVER (PARTITION BY event_type
         |                 ORDER BY day) AS rn
         |      FROM d),
         |nn AS (SELECT event_type, max(rn) AS n FROM r GROUP BY 1),
         |f AS (SELECT event_type, rn, x AS l, CAST(0 AS BIGINT) AS b
         |      FROM r WHERE rn = 1
         |      UNION ALL
         |      SELECT e.event_type, e.rn,
         |             $lNew AS l,
         |             ${half(s"f.b + ($lNew) - f.l")} AS b
         |      FROM f JOIN r e
         |        ON e.event_type = f.event_type AND e.rn = f.rn + 1)
         |SELECT f.event_type, CAST(nn.n AS BIGINT) AS n_days,
         |       CAST(f.l AS BIGINT) AS level_c, CAST(f.b AS BIGINT) AS trend_c,
         |       CAST(f.l + f.b AS BIGINT) AS forecast_c
         |FROM f JOIN nn ON nn.event_type = f.event_type AND f.rn = nn.n
         |ORDER BY f.event_type""".stripMargin
    },

    // Same (qi, sensitive) cell reduce, same class-level aggregate.
    "q282_l_diversity" ->
      """WITH cell AS (SELECT c_nationkey,
        |                     CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |                     c_mktsegment, count(*) AS cnt
        |              FROM customer GROUP BY 1, 2, 3)
        |SELECT c_nationkey, bal_band, CAST(sum(cnt) AS BIGINT) AS n,
        |       count(*) AS l_distinct,
        |       CAST((max(cnt) * 1000000) // sum(cnt) AS BIGINT) AS top_share_ppm,
        |       count(*) >= 3 AS diverse
        |FROM cell GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q165's exact + IVF ranking CTEs, then the same inlined integer
    // discount table and the same compile-time IDCG literal.
    "q283_ndcg" -> {
      val dRows = SimilarityOps.NdcgDiscountMicro.zipWithIndex
        .map { case (dm, i) => s"(${i + 1}, $dm)" }.mkString(", ")
      val idcg = SimilarityOps.NdcgDiscountMicro.zipWithIndex
        .map { case (dm, i) => dm * (10 - i) }.sum
      s"""WITH q AS (SELECT vec_id AS qid, ${LlmSql.qvec("embedding")} AS qq
         |           FROM embeddings WHERE vec_id < 5),
         |v AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv FROM embeddings),
         |ex AS (SELECT qid, vec_id, rank FROM (
         |         SELECT qid, vec_id,
         |                row_number() OVER (PARTITION BY qid
         |                  ORDER BY ${LlmSql.cos("qq", "qv")} DESC, vec_id) AS rank
         |         FROM q CROSS JOIN v WHERE qid <> vec_id) WHERE rank <= 10),
         |cents AS (SELECT vec_id AS cid, ${LlmSql.qvec("embedding")} AS cv
         |          FROM embeddings WHERE vec_id % 100 = 0),
         |assigned AS (
         |  SELECT cid, vec_id, qv FROM (
         |    SELECT c.cid, v.vec_id, v.qv,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${LlmSql.cos("v.qv", "c.cv")} DESC, c.cid) AS crn
         |    FROM v CROSS JOIN cents c) WHERE crn = 1),
         |probes AS (
         |  SELECT qid, qq, cid FROM (
         |    SELECT q.qid, q.qq, c.cid,
         |           row_number() OVER (PARTITION BY q.qid
         |             ORDER BY ${LlmSql.cos("q.qq", "c.cv")} DESC, c.cid) AS prn
         |    FROM q CROSS JOIN cents c) WHERE prn <= 2),
         |ap AS (SELECT qid, vec_id, rank FROM (
         |         SELECT qid, vec_id,
         |                row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
         |         FROM (SELECT p.qid, a.vec_id, ${LlmSql.cos("p.qq", "a.qv")} AS cos
         |               FROM probes p JOIN assigned a ON a.cid = p.cid
         |               WHERE p.qid <> a.vec_id)) WHERE rank <= 10),
         |d(i, dm) AS (VALUES $dRows),
         |g AS (SELECT ap.qid, sum(COALESCE(11 - ex.rank, 0) * d.dm) AS dcg
         |      FROM ap JOIN d ON d.i = ap.rank
         |      LEFT JOIN ex ON ex.qid = ap.qid AND ex.vec_id = ap.vec_id
         |      GROUP BY ap.qid)
         |SELECT q.qid AS qid,
         |       CAST(COALESCE(g.dcg, 0) AS BIGINT) AS dcg_micro,
         |       CAST((COALESCE(g.dcg, 0) * 1000000) // $idcg AS BIGINT) AS ndcg_ppm
         |FROM q LEFT JOIN g ON g.qid = q.qid
         |ORDER BY qid""".stripMargin
    },

    // Same single moment row (HUGEINT == DECIMAL(38,0) lanes), same
    // n²-truncated pieces, same signed rho²-ppm law per pair.
    "q284_corr_matrix" -> {
      val cols = Seq("quantity_c" -> "l_quantity",
        "price_c" -> "l_extendedprice", "discount_c" -> "l_discount",
        "tax_c" -> "l_tax")
      val lanes = cols.map { case (n, src) =>
        s"CAST(round($src * 100) AS BIGINT) AS $n" }.mkString(",\n        |           ")
      val sums = cols.map(_._1).map(n =>
        s"sum(CAST($n AS HUGEINT)) AS s_$n, sum(CAST($n AS HUGEINT) * $n) AS s2_$n")
        .mkString(",\n        |       ")
      val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
        yield (cols(i)._1, cols(j)._1)
      val sps = pairs.map { case (a, b) =>
        s"sum(CAST($a AS HUGEINT) * $b) AS sp_${a}_$b" }
        .mkString(",\n        |       ")
      val rows = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
           |             CAST(n AS HUGEINT) * sp_${a}_$b - s_$a * s_$b AS num,
           |             CAST(n AS HUGEINT) * s2_$a - s_$a * s_$a AS den_a,
           |             CAST(n AS HUGEINT) * s2_$b - s_$b * s_$b AS den_b
           |      FROM m""".stripMargin
      }.mkString("\n      UNION ALL\n      ")
      s"""WITH b AS (SELECT $lanes
         |           FROM lineitem),
         |m AS (SELECT count(*) AS n,
         |       $sums,
         |       $sps
         |      FROM b),
         |p AS ($rows),
         |p2 AS (SELECT col_a, col_b, n,
         |              CASE WHEN num >= 0 THEN num // (n * n)
         |                   ELSE -((-num) // (n * n)) END AS num_nn,
         |              den_a // (n * n) AS den_a_nn,
         |              den_b // (n * n) AS den_b_nn
         |       FROM p)
         |SELECT col_a, col_b, CAST(n AS BIGINT) AS n,
         |       CAST(num_nn AS BIGINT) AS num_nn,
         |       CAST(den_a_nn AS BIGINT) AS den_a_nn,
         |       CAST(den_b_nn AS BIGINT) AS den_b_nn,
         |       CAST(CASE WHEN den_a_nn = 0 OR den_b_nn = 0 THEN NULL
         |            WHEN num_nn >= 0 THEN
         |              (CAST(num_nn AS HUGEINT) * num_nn * 1000000)
         |                // (CAST(den_a_nn AS HUGEINT) * den_b_nn)
         |            ELSE
         |              -((CAST(num_nn AS HUGEINT) * num_nn * 1000000)
         |                // (CAST(den_a_nn AS HUGEINT) * den_b_nn))
         |            END AS BIGINT) AS rho2s_ppm
         |FROM p2 ORDER BY col_a, col_b""".stripMargin
    },

    // q281's recursive replay extended with the same three error masses.
    "q285_holt_backtest" -> {
      def half(v: String): String =
        s"CASE WHEN ($v) >= 0 THEN ($v) // 2 ELSE -((-($v)) // 2) END"
      val lNew = half("f.l + f.b + e.x")
      s"""WITH RECURSIVE d AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |         sum(CAST(round(value * 100) AS BIGINT)) AS x
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT event_type, day, x,
         |             row_number() OVER (PARTITION BY event_type
         |                 ORDER BY day) AS rn
         |      FROM d),
         |nn AS (SELECT event_type, max(rn) AS n FROM r GROUP BY 1),
         |f AS (SELECT event_type, rn, x AS l, CAST(0 AS BIGINT) AS b,
         |             CAST(0 AS BIGINT) AS sae, CAST(0 AS BIGINT) AS se,
         |             CAST(0 AS BIGINT) AS sax
         |      FROM r WHERE rn = 1
         |      UNION ALL
         |      SELECT e.event_type, e.rn,
         |             $lNew AS l,
         |             ${half(s"f.b + ($lNew) - f.l")} AS b,
         |             f.sae + abs(e.x - (f.l + f.b)),
         |             f.se + (e.x - (f.l + f.b)),
         |             f.sax + abs(e.x)
         |      FROM f JOIN r e
         |        ON e.event_type = f.event_type AND e.rn = f.rn + 1)
         |SELECT f.event_type, CAST(nn.n AS BIGINT) AS n_days,
         |       CAST(nn.n - 1 AS BIGINT) AS n_eval,
         |       CAST(f.sae AS BIGINT) AS sae_c,
         |       CAST(f.se AS BIGINT) AS se_c,
         |       CAST(f.sax AS BIGINT) AS sax_c,
         |       CAST(CASE WHEN nn.n = 1 THEN NULL
         |            ELSE f.sae // (nn.n - 1) END AS BIGINT) AS mae_c,
         |       CAST(CASE WHEN nn.n = 1 THEN NULL
         |            WHEN f.se >= 0 THEN f.se // (nn.n - 1)
         |            ELSE -((-f.se) // (nn.n - 1)) END AS BIGINT) AS bias_c,
         |       CAST(CASE WHEN f.sax = 0 THEN NULL
         |            ELSE (f.sae * 1000) // f.sax END AS BIGINT) AS wmape_milli
         |FROM f JOIN nn ON nn.event_type = f.event_type AND f.rn = nn.n
         |ORDER BY f.event_type""".stripMargin
    },

    // Same densified lattice, same cell-domain margins, same truncated
    // micro contributions; dof from the two scalar distinct counts.
    "q286_chi2_indep" ->
      """WITH src AS (SELECT o_orderstatus AS a, c_mktsegment AS b
        |             FROM orders JOIN customer ON o_custkey = c_custkey),
        |obs0 AS (SELECT a, b, count(*) AS obs FROM src GROUP BY 1, 2),
        |lat AS (SELECT da.a, db.b
        |        FROM (SELECT DISTINCT a FROM obs0) da
        |        CROSS JOIN (SELECT DISTINCT b FROM obs0) db),
        |cells AS (SELECT l.a, l.b, COALESCE(o.obs, 0) AS obs
        |          FROM lat l LEFT JOIN obs0 o ON o.a = l.a AND o.b = l.b),
        |m AS (SELECT a, b, obs,
        |             sum(obs) OVER (PARTITION BY a) AS row_n,
        |             sum(obs) OVER (PARTITION BY b) AS col_n,
        |             sum(obs) OVER () AS n
        |      FROM cells),
        |c2 AS (SELECT a, b, obs, row_n, col_n, n,
        |              CAST(((CAST(obs AS HUGEINT) * n - CAST(row_n AS HUGEINT) * col_n)
        |                * (CAST(obs AS HUGEINT) * n - CAST(row_n AS HUGEINT) * col_n)
        |                * 1000000)
        |                // (CAST(n AS HUGEINT) * row_n * col_n) AS BIGINT)
        |                AS chi2_micro_cell
        |       FROM m)
        |SELECT a, b, CAST(obs AS BIGINT) AS obs,
        |       CAST(row_n AS BIGINT) AS row_n, CAST(col_n AS BIGINT) AS col_n,
        |       CAST(n AS BIGINT) AS n, chi2_micro_cell,
        |       CAST(sum(chi2_micro_cell) OVER () AS BIGINT) AS chi2_micro,
        |       CAST(((SELECT count(DISTINCT a) FROM obs0) - 1)
        |            * ((SELECT count(DISTINCT b) FROM obs0) - 1) AS BIGINT) AS dof
        |FROM c2 ORDER BY a, b""".stripMargin,

    // Same successor-pair edges, same symmetrized distinct set, q74's
    // integer damped rounds, same (rank desc, term) top-20 cut.
    "q287_textrank" -> {
      val rounds = (1 to 3).map { r =>
        s"""c$r AS (SELECT s.v AS node, sum(p.rank // d.deg) AS m
           |        FROM p${r - 1} p JOIN se s ON s.u = p.node
           |        JOIN dg d ON d.node = p.node
           |        GROUP BY s.v),
           |p$r AS (SELECT n.node,
           |               CAST(150000 + (850 * coalesce(c.m, 0)) // 1000 AS BIGINT) AS rank
           |        FROM pn n LEFT JOIN c$r c ON c.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
         |pp AS (SELECT w[i] AS a, w[i + 1] AS b
         |       FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
         |             FROM w)
         |       WHERE w[i] <> w[i + 1]),
         |se AS (SELECT DISTINCT u, v FROM (
         |         SELECT a AS u, b AS v FROM pp
         |         UNION ALL SELECT b, a FROM pp)),
         |pn AS (SELECT u AS node FROM se UNION SELECT v FROM se),
         |dg AS (SELECT u AS node, count(*) AS deg FROM se GROUP BY u),
         |p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM pn),
         |$rounds
         |SELECT node AS term, rank AS rank_micro FROM p3
         |ORDER BY rank DESC, node LIMIT 20""".stripMargin
    },

    // Same integer cell lattice, same strictly-above-mean density cut,
    // same packed cell ids; the component closure is the q211 recursive
    // min-reachability replay over the 8-neighbor edges + self-pairs.
    "q288_dbscan_grid" -> {
      val offs = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1),
        (0, 1), (1, -1), (1, 0), (1, 1))
        .map { case (dy, dx) =>
          s"SELECT cell_id AS id1, (cy + $dy) * 1000000 + (cx + $dx) AS id2 FROM dense" }
        .mkString("\n         UNION ALL ")
      s"""WITH RECURSIVE ${Derive.Sql.nodes},
         |cells AS (SELECT CAST(floor(lat * 500.0) AS BIGINT) AS cy,
         |                 CAST(floor(lon * 500.0) AS BIGINT) AS cx,
         |                 count(*) AS n_pts
         |          FROM nodes GROUP BY 1, 2),
         |dense AS (SELECT cy, cx, n_pts, cy * 1000000 + cx AS cell_id
         |          FROM (SELECT cy, cx, n_pts,
         |                       sum(n_pts) OVER () // count(n_pts) OVER () AS mean_occ
         |                FROM cells)
         |          WHERE n_pts > mean_occ),
         |cand AS ($offs
         |         UNION ALL SELECT cell_id, cell_id FROM dense),
         |sym AS (SELECT c.id1 AS a, c.id2 AS b FROM cand c
         |        JOIN dense d ON d.cell_id = c.id2),
         |reach(a, b) AS (
         |  SELECT a, a FROM sym GROUP BY a
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b),
         |comp AS (SELECT a AS cell_id, min(b) AS cluster FROM reach GROUP BY a)
         |SELECT c.cluster, count(*) AS n_cells,
         |       CAST(sum(d.n_pts) AS BIGINT) AS n_points,
         |       min(d.cy) AS min_cy, max(d.cy) AS max_cy,
         |       min(d.cx) AS min_cx, max(d.cx) AS max_cx
         |FROM comp c JOIN dense d ON d.cell_id = c.cell_id
         |GROUP BY c.cluster ORDER BY c.cluster""".stripMargin
    },

    // Same (type, user, ts, id)-ordered gap walk, same truncated second
    // lanes, same cleared CV² milli law.
    "q289_interarrival" ->
      """WITH e AS (SELECT event_type, user_id,
        |                  epoch_us(ts) AS ts_us, event_id
        |           FROM events),
        |g AS (SELECT event_type,
        |             (ts_us - lag(ts_us) OVER (PARTITION BY event_type, user_id
        |                 ORDER BY ts_us, event_id)) // 1000000 AS g
        |      FROM e),
        |m AS (SELECT event_type, count(*) AS n_gaps, sum(g) AS sg,
        |             sum(CAST(g AS HUGEINT) * g) AS sg2
        |      FROM g WHERE g IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_gaps, CAST(sg AS BIGINT) AS sum_gap_s,
        |       CAST(sg // n_gaps AS BIGINT) AS mean_gap_s,
        |       CAST(CASE WHEN sg = 0 THEN NULL
        |            ELSE ((CAST(n_gaps AS HUGEINT) * sg2
        |                    - CAST(sg AS HUGEINT) * sg) * 1000)
        |                 // (CAST(sg AS HUGEINT) * sg) END AS BIGINT) AS cv2_milli
        |FROM m ORDER BY event_type""".stripMargin,

    // Same micro-nat per-cell floors (shared-libm ln, the q213 device),
    // same Laplace table, same unseen fallback and priors, same argmax.
    "q290_naive_bayes" ->
      """WITH toks AS (SELECT doc_id, lang,
        |                     unnest(string_split(text, ' ')) AS term
        |              FROM documents),
        |ct AS (SELECT lang, term, count(*) AS c FROM toks
        |       WHERE doc_id % 10 < 8 GROUP BY 1, 2),
        |tc AS (SELECT lang, sum(c) AS tc FROM ct GROUP BY 1),
        |vv AS (SELECT count(DISTINCT term) AS v FROM ct),
        |lp AS (SELECT ct.lang AS cls, ct.term,
        |              CAST(floor(ln(CAST(ct.c + 1 AS DOUBLE)
        |                / CAST(tc.tc + vv.v AS DOUBLE)) * 1000000.0 + 0.5)
        |                AS BIGINT) AS lp
        |       FROM ct JOIN tc USING (lang) CROSS JOIN vv),
        |nd AS (SELECT lang, count(*) AS nd FROM documents
        |       WHERE doc_id % 10 < 8 GROUP BY 1),
        |classes AS (SELECT tc.lang AS cls,
        |                   CAST(floor(ln(1.0 / CAST(tc.tc + vv.v AS DOUBLE))
        |                     * 1000000.0 + 0.5) AS BIGINT) AS lp0,
        |                   CAST(floor(ln(CAST(nd.nd AS DOUBLE)
        |                     / CAST((SELECT sum(nd) FROM nd) AS DOUBLE))
        |                     * 1000000.0 + 0.5) AS BIGINT) AS prior
        |            FROM tc CROSS JOIN vv JOIN nd ON nd.lang = tc.lang),
        |vd AS (SELECT doc_id, lang AS true_lang, term, count(*) AS cnt
        |       FROM toks WHERE doc_id % 10 >= 8 GROUP BY 1, 2, 3),
        |sc AS (SELECT vd.doc_id, vd.true_lang, k.cls,
        |              sum(vd.cnt * COALESCE(lp.lp, k.lp0)) + any_value(k.prior) AS score
        |       FROM vd CROSS JOIN classes k
        |       LEFT JOIN lp ON lp.cls = k.cls AND lp.term = vd.term
        |       GROUP BY 1, 2, 3),
        |pred AS (SELECT doc_id, true_lang, cls,
        |                row_number() OVER (PARTITION BY doc_id
        |                    ORDER BY score DESC, cls) AS rn
        |         FROM sc)
        |SELECT true_lang AS lang, cls AS pred_lang, count(*) AS n_docs
        |FROM pred WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q185's bin CTEs, then the same minimax triples with the same
    // 10^16-scaled HUGEINT fraction keys.
    "q291_isotonic" ->
      """WITH dom AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |                    count(*) AS cnt,
        |                    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ys
        |             FROM events GROUP BY 1),
        |cum0 AS (SELECT v, cnt, ys,
        |                sum(cnt) OVER (ORDER BY v
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end,
        |                sum(cnt) OVER () AS n_total
        |         FROM dom),
        |bb AS (SELECT ((cum_end - cnt) * 10) // n_total AS bin, cnt, ys FROM cum0),
        |b AS (SELECT CAST(bin AS BIGINT) AS bin, CAST(sum(cnt) AS BIGINT) AS n,
        |             CAST(sum(ys) AS BIGINT) AS pos
        |      FROM bb GROUP BY 1),
        |c AS (SELECT bin, n, pos,
        |             sum(n) OVER (ORDER BY bin
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
        |             sum(pos) OVER (ORDER BY bin
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
        |      FROM b),
        |segs AS (SELECT j.bin AS j, k.bin AS k,
        |                k.cp - (j.cp - j.pos) AS p,
        |                k.cn - (j.cn - j.n) AS n
        |         FROM c j JOIN c k ON j.bin <= k.bin),
        |tri AS (SELECT (CAST(p AS HUGEINT) * 10000000000000000) // n AS key,
        |               unnest(generate_series(j, k)) AS i, j
        |        FROM segs),
        |mk AS (SELECT i, j, min(key) AS mk FROM tri GROUP BY 1, 2),
        |fit AS (SELECT i, max(mk) AS fit_key FROM mk GROUP BY i)
        |SELECT b.bin, b.n, b.pos,
        |       CAST(fit.fit_key AS BIGINT) AS fit_scaled,
        |       CAST(fit.fit_key // 10000000000 AS BIGINT) AS fit_ppm
        |FROM b JOIN fit ON fit.i = b.bin
        |ORDER BY b.bin""".stripMargin,

    // Same first-from / first-to-after joins, same truncated second
    // lanes, same ceil-rank percentile rule over the reduced domain.
    "q292_conversion_latency" ->
      """WITH ev AS (SELECT event_type AS et, user_id AS u,
        |                   epoch_us(ts) AS ts_us
        |            FROM events),
        |f AS (SELECT u, min(ts_us) AS t0 FROM ev WHERE et = 'view' GROUP BY u),
        |lat AS (SELECT (min(p.ts_us) - min(f.t0)) // 1000000 AS lat_s
        |        FROM ev p JOIN f ON f.u = p.u
        |        WHERE p.et = 'purchase' AND p.ts_us >= f.t0
        |        GROUP BY p.u),
        |dom AS (SELECT lat_s, count(*) AS cnt FROM lat GROUP BY 1),
        |cum AS (SELECT lat_s, cnt,
        |               sum(cnt) OVER (ORDER BY lat_s
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |               sum(cnt) OVER () AS n_conv
        |        FROM dom),
        |nf AS (SELECT count(*) AS n_from FROM f)
        |SELECT CAST(nf.n_from AS BIGINT) AS n_from,
        |       CAST(any_value(n_conv) AS BIGINT) AS n_conv,
        |       CAST((any_value(n_conv) * 1000000) // nf.n_from AS BIGINT) AS conv_ppm,
        |       min(CASE WHEN cum * 100 >= n_conv * 25 THEN lat_s END) AS p25_s,
        |       min(CASE WHEN cum * 100 >= n_conv * 50 THEN lat_s END) AS p50_s,
        |       min(CASE WHEN cum * 100 >= n_conv * 75 THEN lat_s END) AS p75_s,
        |       min(CASE WHEN cum * 100 >= n_conv * 90 THEN lat_s END) AS p90_s,
        |       max(lat_s) AS max_s
        |FROM cum CROSS JOIN nf
        |GROUP BY nf.n_from""".stripMargin,

    // The sign matrix is RE-DERIVED from md5 in SQL (the engine inlines
    // the same parities as literals), then the same HUGEINT distance
    // lanes and the same ppm ratio law.
    "q293_jl_distortion" ->
      s"""WITH qv AS (SELECT vec_id, ${LlmSql.qvec("embedding")} AS qv
         |            FROM embeddings),
         |smat AS (SELECT o.o, i.i,
         |                CASE WHEN CAST(concat('0x', substring(
         |                       md5(concat('jl:', o.o, ':', i.i)), 1, 8)) AS BIGINT)
         |                     % 2 = 0 THEN 1 ELSE -1 END AS s
         |         FROM (SELECT unnest(generate_series(0, 15)) AS o) o
         |         CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) i),
         |comp AS (SELECT vec_id, i, qv[i + 1] AS x
         |         FROM (SELECT vec_id, qv,
         |                      unnest(generate_series(0, 63)) AS i
         |               FROM qv)),
         |y AS (SELECT c.vec_id, m.o, sum(m.s * c.x) AS y
         |      FROM comp c JOIN smat m ON m.i = c.i GROUP BY 1, 2),
         |pairs AS (SELECT a.vec_id AS id, a.qv AS qa, b.qv AS qb
         |          FROM qv a JOIN qv b ON b.vec_id = a.vec_id + 1
         |          WHERE a.vec_id % 20 = 0),
         |din AS (SELECT id, list_sum(list_transform(range(1, 65),
         |               i -> CAST(qa[i] - qb[i] AS HUGEINT) * (qa[i] - qb[i])))
         |               AS d_in
         |        FROM pairs),
         |dout AS (SELECT p.id,
         |                sum(CAST(ya.y - yb.y AS HUGEINT) * (ya.y - yb.y)) AS d_out
         |         FROM pairs p
         |         JOIN y ya ON ya.vec_id = p.id
         |         JOIN y yb ON yb.vec_id = p.id + 1 AND yb.o = ya.o
         |         GROUP BY p.id),
         |r AS (SELECT CAST((d_out * 1000000) // (16 * d_in) AS BIGINT) AS ratio_ppm
         |      FROM din JOIN dout USING (id) WHERE d_in > 0)
         |SELECT ratio_ppm // 100000 AS band, count(*) AS n_pairs,
         |       min(ratio_ppm) AS min_ratio_ppm, max(ratio_ppm) AS max_ratio_ppm
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // Identical pattern text (RE2 and java.util.regex walk the same
    // ASCII-explicit alternation), same multiset-fingerprint fold.
    "q294_pretokenize" -> {
      val pat = PretokenPattern.replace("'", "''")
      s"""WITH toks AS (SELECT lang,
         |                     unnest(regexp_extract_all(text, '$pat')) AS tok
         |              FROM documents),
         |cnt AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY 1, 2)
         |SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
         |       count(*) AS n_distinct,
         |       CAST(bit_xor(CAST(concat('0x', substring(
         |         md5(concat(tok, ':', CAST(c AS VARCHAR))), 1, 15)) AS BIGINT))
         |         AS BIGINT) AS xor_fp
         |FROM cnt GROUP BY lang ORDER BY lang""".stripMargin
    },

    "q296_tpch_q22_shape" -> tpchQ22Sql,
    "q297_tpch_q15_shape" -> tpchQ15Sql,
    "q312_tpch_q2_shape" -> tpchQ2Sql,
    "q313_tpch_q4_shape" -> tpchQ4Sql,
    "q314_tpch_q11_shape" -> tpchQ11Sql,
    "q315_tpch_q18_shape" -> tpchQ18Sql,
    "q317_tpch_q16_shape" -> tpchQ16Sql,
    "q318_tpch_q19_shape" -> tpchQ19Sql,
    "q319_tpch_q3_shape" -> tpchQ3Sql,
    "q320_tpch_q5_shape" -> tpchQ5Sql,
    "q321_tpch_q6_shape" -> tpchQ6Sql,
    "q322_tpch_q7_shape" -> tpchQ7Sql,
    "q323_tpch_q8_shape" -> tpchQ8Sql,
    "q324_tpch_q9_shape" -> tpchQ9Sql,
    "q325_tpch_q10_shape" -> tpchQ10Sql,
    "q326_tpch_q12_shape" -> tpchQ12Sql,
    "q327_tpch_q14_shape" -> tpchQ14Sql,

    // Same train reduce, same continuation/head/type tables, same three
    // cleared-rational tiers, same micro-nat per-cell floors (shared-libm
    // ln), same DECIMAL cost mass.
    "q328_kneser_ney" ->
      """WITH pr AS (SELECT doc_id, lang, w[i] AS a, w[i + 1] AS b
        |            FROM (SELECT doc_id, lang, string_split(text, ' ') AS w,
        |                         unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
        |                  FROM documents)),
        |cab AS (SELECT a, b, count(*) AS cab FROM pr
        |        WHERE doc_id % 10 < 8 GROUP BY 1, 2),
        |heads AS (SELECT a, sum(cab) AS ca, count(*) AS n1a FROM cab GROUP BY a),
        |conts AS (SELECT b, count(*) AS n1b FROM cab GROUP BY b),
        |bt AS (SELECT count(*) AS btot FROM cab),
        |vp AS (SELECT lang, a, b, count(*) AS cnt FROM pr
        |       WHERE doc_id % 10 >= 8 GROUP BY 1, 2, 3),
        |j AS (SELECT vp.lang, vp.cnt,
        |             CASE WHEN cab.cab IS NOT NULL THEN 'seen'
        |                  WHEN heads.ca IS NOT NULL AND conts.n1b IS NOT NULL THEN 'cont'
        |                  ELSE 'backoff' END AS tier,
        |             CASE WHEN cab.cab IS NOT NULL THEN
        |                    CAST(floor(-ln(
        |                      CAST((2 * cab.cab - 1) * bt.btot + heads.n1a * conts.n1b AS DOUBLE)
        |                      / CAST(2 * heads.ca * bt.btot AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
        |                  WHEN heads.ca IS NOT NULL AND conts.n1b IS NOT NULL THEN
        |                    CAST(floor(-ln(
        |                      CAST(heads.n1a * conts.n1b AS DOUBLE)
        |                      / CAST(2 * heads.ca * bt.btot AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
        |                  ELSE CAST(floor(-ln(1.0 / CAST(bt.btot AS DOUBLE))
        |                    * 1000000.0 + 0.5) AS BIGINT) END AS cost
        |      FROM vp
        |      LEFT JOIN cab ON cab.a = vp.a AND cab.b = vp.b
        |      LEFT JOIN heads ON heads.a = vp.a
        |      LEFT JOIN conts ON conts.b = vp.b
        |      CROSS JOIN bt)
        |SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |       CAST(sum(CASE WHEN tier = 'seen' THEN cnt ELSE 0 END) AS BIGINT) AS n_seen,
        |       CAST(sum(CASE WHEN tier = 'cont' THEN cnt ELSE 0 END) AS BIGINT) AS n_cont,
        |       CAST(sum(CASE WHEN tier = 'backoff' THEN cnt ELSE 0 END) AS BIGINT) AS n_backoff,
        |       CAST(sum(CAST(cnt AS HUGEINT) * cost) AS BIGINT) AS cost_sum_micro,
        |       CAST(sum(CAST(cnt AS HUGEINT) * cost) // sum(cnt) AS BIGINT) AS per_bigram_cost_micro
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin,

    // The batch group-by the converged stream-static enrichment must
    // equal (segment derived the same way, exact cent lanes).
    "q334_stream_enrich" ->
      """SELECT CAST(user_id % 4 AS INT) AS segment, event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same per-(doc, shard) md5 keys, same argmax owners (arg_max skips
    // the NULL-keyed rows that restrict the old fleet), same reduces.
    "q332_rendezvous_shards" ->
      """WITH k AS (SELECT doc_id, s,
        |                  CAST(concat('0x', substring(md5(concat(
        |                    CAST(doc_id AS VARCHAR), ':', CAST(s AS VARCHAR))),
        |                    1, 15)) AS BIGINT) AS k
        |           FROM documents, (SELECT unnest(generate_series(0, 5)) AS s)),
        |o AS (SELECT doc_id,
        |             CAST(arg_max(CASE WHEN s < 5 THEN s END,
        |                          CASE WHEN s < 5 THEN k END) AS INT) AS o_old,
        |             CAST(arg_max(s, k) AS INT) AS o_new
        |      FROM k GROUP BY doc_id),
        |na AS (SELECT o_new AS shard, count(*) AS n_new,
        |              sum(CASE WHEN o_old = o_new THEN 0 ELSE 1 END) AS moved_in
        |       FROM o GROUP BY 1),
        |oa AS (SELECT o_old AS shard, count(*) AS n_old FROM o GROUP BY 1)
        |SELECT coalesce(oa.shard, na.shard) AS shard,
        |       CAST(coalesce(oa.n_old, 0) AS BIGINT) AS n_old,
        |       CAST(coalesce(na.n_new, 0) AS BIGINT) AS n_new,
        |       CAST(coalesce(na.moved_in, 0) AS BIGINT) AS moved_in
        |FROM oa FULL OUTER JOIN na ON na.shard = oa.shard
        |ORDER BY shard""".stripMargin,

    // The PLAIN join aggregate — result identity proves the injected
    // bloom filter is a pure pruning (never drops a matching row).
    "q333_runtime_bloom" ->
      """SELECT l.l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'F'
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,

    // Same landmark rule, same symmetrized lattice, same hop bound; the
    // recursive UNION replays the frontier expansion, min(dist) dedups.
    "q331_landmark_sketch" -> {
      s"""WITH RECURSIVE ${Derive.Sql.nodes},
         |${Derive.Sql.edges},
         |${Derive.Sql.symEdges},
         |lm AS (SELECT node_idx AS landmark FROM nodes
         |       WHERE node_idx % 37 = 0 ORDER BY node_idx LIMIT 3),
         |reach(landmark, node, dist) AS (
         |  SELECT landmark, landmark, 0 FROM lm
         |  UNION
         |  SELECT r.landmark, s.v, r.dist + 1
         |  FROM reach r JOIN sym s ON s.u = r.node
         |  WHERE r.dist < 4)
         |SELECT landmark, node, CAST(min(dist) AS INT) AS dist
         |FROM reach GROUP BY 1, 2 ORDER BY node, landmark""".stripMargin
    },

    // Same counted-gram equi-joins, same clip-by-reference min, same
    // integer pieces feeding one shared-libm exp/sqrt rounding.
    "q330_bleu_corpus" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c1 AS (SELECT doc_id, g, count(*) AS c
        |       FROM (SELECT doc_id, unnest(w) AS g FROM w) GROUP BY 1, 2),
        |c2 AS (SELECT doc_id, g, count(*) AS c
        |       FROM (SELECT doc_id, w[i] || ' ' || w[i + 1] AS g
        |             FROM (SELECT doc_id, w,
        |                          unnest(generate_series(1, len(w) - 1)) AS i
        |                   FROM w)) GROUP BY 1, 2),
        |cl1 AS (SELECT coalesce(sum(least(ca.c, cr.c)), 0) AS clip1
        |        FROM c1 ca JOIN c1 cr
        |          ON cr.doc_id = ca.doc_id - 1 AND cr.g = ca.g
        |        WHERE ca.doc_id % 2 = 1),
        |t1 AS (SELECT coalesce(sum(c), 0) AS tot1 FROM c1 WHERE doc_id % 2 = 1),
        |cl2 AS (SELECT coalesce(sum(least(ca.c, cr.c)), 0) AS clip2
        |        FROM c2 ca JOIN c2 cr
        |          ON cr.doc_id = ca.doc_id - 1 AND cr.g = ca.g
        |        WHERE ca.doc_id % 2 = 1),
        |t2 AS (SELECT coalesce(sum(c), 0) AS tot2 FROM c2 WHERE doc_id % 2 = 1),
        |lens AS (SELECT sum(CASE WHEN doc_id % 2 = 0 THEN len(w) ELSE 0 END) AS ref_tokens,
        |                sum(CASE WHEN doc_id % 2 = 1 THEN len(w) ELSE 0 END) AS cand_tokens
        |         FROM w)
        |SELECT CAST(ref_tokens AS BIGINT) AS ref_tokens,
        |       CAST(cand_tokens AS BIGINT) AS cand_tokens,
        |       CAST(clip1 AS BIGINT) AS clip1, CAST(tot1 AS BIGINT) AS tot1,
        |       CAST(clip2 AS BIGINT) AS clip2, CAST(tot2 AS BIGINT) AS tot2,
        |       CAST(CASE WHEN tot1 > 0 THEN (clip1 * 1000000) // tot1 END AS BIGINT) AS p1_ppm,
        |       CAST(CASE WHEN tot2 > 0 THEN (clip2 * 1000000) // tot2 END AS BIGINT) AS p2_ppm,
        |       CAST(CASE WHEN tot2 > 0 AND clip1 > 0 AND clip2 > 0 THEN
        |              floor(1000000.0
        |                * (CASE WHEN cand_tokens >= ref_tokens THEN 1.0
        |                        ELSE exp(1.0 - CAST(ref_tokens AS DOUBLE)
        |                                 / CAST(cand_tokens AS DOUBLE)) END)
        |                * sqrt((CAST(clip1 AS DOUBLE) / CAST(tot1 AS DOUBLE))
        |                       * (CAST(clip2 AS DOUBLE) / CAST(tot2 AS DOUBLE)))
        |                + 0.5) END AS BIGINT) AS bleu2_micro
        |FROM cl1, t1, cl2, t2, lens""".stripMargin,

    // Same md5 bucket hash, same Laplace micro-nat costs rounded before
    // the subtraction, same integer doc scores and total-order top-20.
    "q329_dsir_select" ->
      """WITH tb AS (SELECT doc_id, lang, lang = 'en' AS is_target,
        |                   CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) % 128 AS f
        |            FROM (SELECT doc_id, lang,
        |                         unnest(string_split(text, ' ')) AS tok
        |                  FROM documents)),
        |pb AS (SELECT f, count(*) AS c_raw,
        |              sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_tgt
        |       FROM tb GROUP BY f),
        |tt AS (SELECT sum(c_raw) AS t_raw, sum(c_tgt) AS t_tgt FROM pb),
        |lam AS (SELECT f,
        |               CAST(floor(-ln(CAST(c_raw + 1 AS DOUBLE)
        |                 / CAST(t_raw + 128 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
        |             - CAST(floor(-ln(CAST(c_tgt + 1 AS DOUBLE)
        |                 / CAST(t_tgt + 128 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lambda
        |        FROM pb CROSS JOIN tt),
        |ds AS (SELECT doc_id, lang, f, count(*) AS cnt FROM tb GROUP BY 1, 2, 3)
        |SELECT ds.doc_id, ds.lang,
        |       CAST(sum(ds.cnt * lam.lambda) AS BIGINT) AS score_micro
        |FROM ds JOIN lam USING (f)
        |GROUP BY 1, 2 ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin,

    // Same train reduce, same per-cell micro-nat floors (shared-libm ln),
    // same two-tier fallback coalesce, same integer val charge.
    "q300_lm_perplexity" ->
      """WITH pr AS (SELECT doc_id, lang, w[i] AS a, w[i + 1] AS b
        |            FROM (SELECT doc_id, lang, string_split(text, ' ') AS w,
        |                         unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
        |                  FROM documents)),
        |cab AS (SELECT a, b, count(*) AS cab FROM pr
        |        WHERE doc_id % 10 < 8 GROUP BY 1, 2),
        |ca AS (SELECT a, sum(cab) AS ca FROM cab GROUP BY 1),
        |vv AS (SELECT count(DISTINCT b) AS v FROM cab),
        |cost_ab AS (SELECT cab.a, cab.b,
        |                   CAST(floor(-ln(CAST(cab.cab + 1 AS DOUBLE)
        |                     / CAST(ca.ca + vv.v AS DOUBLE)) * 1000000.0 + 0.5)
        |                     AS BIGINT) AS cost_ab
        |            FROM cab JOIN ca USING (a) CROSS JOIN vv),
        |cost_a AS (SELECT a, CAST(floor(-ln(1.0 / CAST(ca + vv.v AS DOUBLE))
        |                     * 1000000.0 + 0.5) AS BIGINT) AS cost_a0
        |           FROM ca CROSS JOIN vv),
        |g AS (SELECT CAST(floor(-ln(1.0 / CAST(v AS DOUBLE))
        |                * 1000000.0 + 0.5) AS BIGINT) AS cost_00 FROM vv),
        |vp AS (SELECT lang, a, b, count(*) AS cnt FROM pr
        |       WHERE doc_id % 10 >= 8 GROUP BY 1, 2, 3)
        |SELECT vp.lang, CAST(sum(vp.cnt) AS BIGINT) AS n_bigrams,
        |       CAST(sum(vp.cnt * COALESCE(cost_ab.cost_ab, cost_a.cost_a0,
        |            g.cost_00)) AS BIGINT) AS cost_sum_micro,
        |       CAST(sum(vp.cnt * COALESCE(cost_ab.cost_ab, cost_a.cost_a0,
        |            g.cost_00)) // sum(vp.cnt) AS BIGINT) AS per_bigram_cost_micro
        |FROM vp
        |LEFT JOIN cost_ab ON cost_ab.a = vp.a AND cost_ab.b = vp.b
        |LEFT JOIN cost_a ON cost_a.a = vp.a
        |CROSS JOIN g
        |GROUP BY vp.lang ORDER BY vp.lang""".stripMargin,

    // Same per-user reduce, same melted moments, same exact variance
    // pieces, same floor-double SMD law.
    "q301_covariate_balance" ->
      """WITH per AS (SELECT user_id % 2 = 0 AS in_a, count(*) AS n_ev,
        |                    sum(CAST(round(value * 100) AS BIGINT)) AS sum_c
        |             FROM events GROUP BY user_id),
        |melted AS (SELECT in_a, 'n_events' AS metric, CAST(n_ev AS BIGINT) AS x FROM per
        |           UNION ALL
        |           SELECT in_a, 'sum_cents', CAST(sum_c AS BIGINT) FROM per),
        |m AS (SELECT metric, in_a, count(*) AS n, sum(x) AS sx,
        |             CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * x)
        |               - CAST(sum(x) AS HUGEINT) * sum(x) AS vnum,
        |             CAST(count(*) AS HUGEINT) * (count(*) - 1) AS vden
        |      FROM melted GROUP BY 1, 2)
        |SELECT a.metric, a.n AS n_a, b.n AS n_b,
        |       CAST(a.sx AS BIGINT) AS sum_a, CAST(b.sx AS BIGINT) AS sum_b,
        |       CASE WHEN CAST(a.vnum AS DOUBLE) / CAST(a.vden AS DOUBLE)
        |                 + CAST(b.vnum AS DOUBLE) / CAST(b.vden AS DOUBLE) = 0.0
        |            THEN NULL
        |            ELSE CAST(floor(1000.0 *
        |              (CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE)
        |               - CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE))
        |              / sqrt((CAST(a.vnum AS DOUBLE) / CAST(a.vden AS DOUBLE)
        |                      + CAST(b.vnum AS DOUBLE) / CAST(b.vden AS DOUBLE))
        |                     / 2.0)) AS BIGINT)
        |       END AS smd_milli
        |FROM m a JOIN m b ON b.metric = a.metric AND a.in_a AND NOT b.in_a
        |ORDER BY a.metric""".stripMargin,

    // DuckDB's NATIVE windowed median over the same daily reduce — its
    // even-frame interpolation lands on the same representable midpoint
    // as the engine's (a + b) / 2.0 element picks.
    "q298_moving_median" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |                  sum(CAST(round(value * 100) AS BIGINT)) AS x
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, day, CAST(x AS BIGINT) AS x,
        |       CAST(median(x) OVER (PARTITION BY event_type ORDER BY day
        |         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS med7
        |FROM d ORDER BY event_type, day""".stripMargin,

    // Same md5 bucket hash, the ±1 weights RE-DERIVED from md5 parity
    // (the engine inlines the same values), same exact linear scores.
    "q299_feature_hashing" ->
      """WITH toks AS (SELECT lang, doc_id,
        |                     unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |wt AS (SELECT b,
        |              CASE WHEN CAST(concat('0x', substring(
        |                     md5(concat('jl:101:', b)), 1, 8)) AS BIGINT)
        |                   % 2 = 0 THEN 1 ELSE -1 END AS w
        |       FROM (SELECT unnest(generate_series(0, 63)) AS b)),
        |lg AS (SELECT lang, doc_id, sum(wt.w) AS logit
        |       FROM toks JOIN wt
        |         ON wt.b = CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) % 64
        |       GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN logit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |       CAST((sum(CASE WHEN logit > 0 THEN 1 ELSE 0 END) * 1000000)
        |            // count(*) AS BIGINT) AS pos_ppm,
        |       CAST(sum(logit) AS BIGINT) AS sum_logit
        |FROM lg GROUP BY lang ORDER BY lang""".stripMargin,

    // Same integer weekday arithmetic, same (dow, arm) reduce, same
    // sign-safe ppm lanes and flip law over the dow-domain windows.
    "q303_simpson_audit" ->
      """WITH s AS (SELECT ((epoch_us(ts) // 86400000000) + 3) % 7 + 1 AS dow,
        |                  user_id % 2 = 0 AS in_a, value >= 50.0 AS succ
        |           FROM events),
        |m AS (SELECT dow,
        |             sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS n_a,
        |             sum(CASE WHEN in_a AND succ THEN 1 ELSE 0 END) AS s_a,
        |             sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS n_b,
        |             sum(CASE WHEN NOT in_a AND succ THEN 1 ELSE 0 END) AS s_b
        |      FROM s GROUP BY dow),
        |x AS (SELECT dow, n_a, s_a, n_b, s_b,
        |             CAST(s_a AS HUGEINT) * n_b - CAST(s_b AS HUGEINT) * n_a AS diff_num,
        |             sum(n_a) OVER () AS p_na, sum(s_a) OVER () AS p_sa,
        |             sum(n_b) OVER () AS p_nb, sum(s_b) OVER () AS p_sb
        |      FROM m),
        |y AS (SELECT *,
        |             CAST(p_sa AS HUGEINT) * p_nb - CAST(p_sb AS HUGEINT) * p_na AS pooled_num
        |      FROM x)
        |SELECT CAST(dow AS BIGINT) AS dow,
        |       CAST(n_a AS BIGINT) AS n_a, CAST(s_a AS BIGINT) AS s_a,
        |       CAST(n_b AS BIGINT) AS n_b, CAST(s_b AS BIGINT) AS s_b,
        |       CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
        |            WHEN diff_num >= 0 THEN
        |              (diff_num * 1000000) // (CAST(n_a AS HUGEINT) * n_b)
        |            ELSE
        |              -(((-diff_num) * 1000000) // (CAST(n_a AS HUGEINT) * n_b))
        |            END AS BIGINT) AS diff_ppm,
        |       CAST(CASE WHEN pooled_num >= 0 THEN
        |              (pooled_num * 1000000) // (CAST(p_na AS HUGEINT) * p_nb)
        |            ELSE
        |              -(((-pooled_num) * 1000000) // (CAST(p_na AS HUGEINT) * p_nb))
        |            END AS BIGINT) AS pooled_diff_ppm,
        |       (diff_num > 0 AND pooled_num < 0)
        |         OR (diff_num < 0 AND pooled_num > 0) AS flips
        |FROM y ORDER BY dow""".stripMargin,

    // Same one-scan (t, n1, n2) generate, same canonicalized unordered
    // pairs, same exact exp(PMI) integer ratio and (ratio, w1, w2) cut.
    "q304_skipgram_pmi" ->
      """WITH tri AS (SELECT w[i] AS t,
        |                    CASE WHEN i + 1 <= len(w) THEN w[i + 1] END AS n1,
        |                    CASE WHEN i + 2 <= len(w) THEN w[i + 2] END AS n2
        |             FROM (SELECT string_split(text, ' ') AS w FROM documents),
        |                  unnest(generate_series(1, len(w))) AS u(i)),
        |uni AS (SELECT t, count(*) AS c FROM tri GROUP BY t),
        |nu AS (SELECT count(*) AS n_uni FROM tri),
        |pr AS (SELECT least(t, n1) AS w1, greatest(t, n1) AS w2 FROM tri
        |       WHERE n1 IS NOT NULL AND t <> n1
        |       UNION ALL
        |       SELECT least(t, n2), greatest(t, n2) FROM tri
        |       WHERE n2 IS NOT NULL AND t <> n2),
        |pc AS (SELECT w1, w2, count(*) AS cxy FROM pr GROUP BY 1, 2),
        |np AS (SELECT sum(cxy) AS n_pairs FROM pc)
        |SELECT w1, w2, cxy,
        |       CAST((CAST(cxy AS HUGEINT) * n_uni * n_uni * 1000000)
        |            // (CAST(n_pairs AS HUGEINT) * ux.c * uy.c) AS BIGINT)
        |         AS pmi_ratio_ppm
        |FROM pc CROSS JOIN nu CROSS JOIN np
        |JOIN uni ux ON ux.t = w1 JOIN uni uy ON uy.t = w2
        |WHERE cxy >= 20
        |ORDER BY pmi_ratio_ppm DESC, w1, w2 LIMIT 50""".stripMargin,

    "q305_named_window" -> namedWindowSql,
    "q306_decimal_q1" -> decimalQ1Sql,
    "q307_null_surface" -> nullSurfaceSql,

    // Same first-seen cohorting, same (cohort, age) reduce, same
    // bounded-week cumulative, same truncated per-user division.
    "q308_cohort_ltv" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
        |                   CAST(round(value * 100) AS BIGINT) AS xc
        |            FROM events),
        |signup AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1),
        |sizes AS (SELECT cohort_wk, count(*) AS n_users FROM signup GROUP BY 1),
        |aged AS (SELECT s.cohort_wk, e.wk - s.cohort_wk AS age_wk,
        |                sum(e.xc) AS rev_c
        |         FROM ev e JOIN signup s ON s.user_id = e.user_id
        |         GROUP BY 1, 2),
        |c AS (SELECT cohort_wk, age_wk, rev_c,
        |             sum(rev_c) OVER (PARTITION BY cohort_wk ORDER BY age_wk
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev_c
        |      FROM aged)
        |SELECT c.cohort_wk, CAST(c.age_wk AS BIGINT) AS age_wk,
        |       CAST(z.n_users AS BIGINT) AS n_users,
        |       CAST(c.rev_c AS BIGINT) AS rev_c,
        |       CAST(c.cum_rev_c AS BIGINT) AS cum_rev_c,
        |       CAST(c.cum_rev_c // z.n_users AS BIGINT) AS ltv_per_user_c
        |FROM c JOIN sizes z ON z.cohort_wk = c.cohort_wk
        |ORDER BY c.cohort_wk, c.age_wk""".stripMargin,

    // Same part-domain reduce, same total (rev desc, partkey) order,
    // same start-based integer class boundaries.
    "q302_abc_pareto" ->
      """WITH pr AS (SELECT l_partkey AS p_partkey,
        |                   sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                       * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_cc
        |            FROM lineitem GROUP BY 1),
        |c AS (SELECT p_partkey, rev_cc,
        |             sum(rev_cc) OVER (ORDER BY rev_cc DESC, p_partkey
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |             sum(rev_cc) OVER () AS total
        |      FROM pr),
        |k AS (SELECT CASE WHEN CAST(cum - rev_cc AS HUGEINT) * 100
        |                       < CAST(total AS HUGEINT) * 70 THEN 'A'
        |                  WHEN CAST(cum - rev_cc AS HUGEINT) * 100
        |                       < CAST(total AS HUGEINT) * 90 THEN 'B'
        |                  ELSE 'C' END AS cls,
        |             rev_cc, total
        |      FROM c)
        |SELECT cls, count(*) AS n_parts,
        |       CAST(sum(rev_cc) AS BIGINT) AS revenue_cc,
        |       CAST((sum(rev_cc) * 1000000) // any_value(total) AS BIGINT) AS share_ppm
        |FROM k GROUP BY cls ORDER BY cls""".stripMargin,

    // The PLAIN haversine filter — no bbox anywhere: the oracle is the
    // result-identity proof that the injected bounding box is residual-
    // safe. Same operand order, same double literals, same 2R scale.
    "q295_radius_pushdown" -> {
      val d = Derive.Sql.havM("lon", "lat", "18.45", "54.36")
      s"""WITH ${Derive.Sql.nodes}
         |SELECT node_idx, lon, lat, round($d, 6) AS dist_m
         |FROM nodes
         |WHERE $d <= 2500.0
         |ORDER BY node_idx""".stripMargin
    },

    // Same landmark rule, same symmetrized weighted lattice; the
    // recursive UNION replays every ≤4-hop path inside the 1200 m
    // budget (weights positive, so pruning prefixes over the budget
    // equals the total-only bound the operator applies), min(dist_m)
    // picks the optimum — exactly the frontier Bellman-Ford table.
    "q335_landmark_weighted" ->
      s"""WITH RECURSIVE ${Derive.Sql.nodes},
         |${Derive.Sql.edges},
         |${Derive.Sql.symEdges},
         |lm AS (SELECT node_idx AS landmark FROM nodes
         |       WHERE node_idx % 37 = 0 ORDER BY node_idx LIMIT 3),
         |reach(landmark, node, dist_m, hops) AS (
         |  SELECT landmark, landmark, CAST(0 AS BIGINT), 0 FROM lm
         |  UNION
         |  SELECT r.landmark, s.v, r.dist_m + CAST(s.w AS BIGINT), r.hops + 1
         |  FROM reach r JOIN sym s ON s.u = r.node
         |  WHERE r.hops < 4 AND r.dist_m + CAST(s.w AS BIGINT) <= 1200)
         |SELECT landmark, node, min(dist_m) AS dist_m
         |FROM reach GROUP BY 1, 2 ORDER BY node, landmark""".stripMargin,

    // The PLAIN join — no skew machinery anywhere: result identity under
    // AQE's skew split is the whole contract (the q333 device).
    "q336_skew_join_aqe" ->
      """WITH l AS (SELECT CAST(CASE WHEN l_orderkey % 4 <> 0 THEN 0
        |                            ELSE l_orderkey % 97 END AS BIGINT) AS skey,
        |                  CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
        |           FROM lineitem),
        |     r AS (SELECT CAST(p_partkey % 97 AS BIGINT) AS skey,
        |                  count(*) AS pw
        |           FROM part GROUP BY 1)
        |SELECT l.skey, count(*) AS n,
        |       CAST(sum(l.price_c) AS BIGINT) AS rev_c,
        |       min(r.pw) AS pw
        |FROM l JOIN r ON r.skey = l.skey
        |GROUP BY l.skey ORDER BY l.skey""".stripMargin,

    // Round-trip identity: the reduce over the re-read sink must equal
    // the same reduce over the source table — count, exact centi-cent
    // revenue, key checksum.
    "q337_sink_parquet" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |            AS BIGINT) AS rev_c,
        |       CAST(sum(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q338_sink_jdbc" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS price_c_sum,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // The PLAIN join — no partitioned layout, no pruning: result identity
    // under the dynamicpruning-pruned scan is the whole contract.
    "q339_dpp" ->
      """SELECT n.n_name, count(*) AS n,
        |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
        |            AS BIGINT) AS rev_c
        |FROM lineitem l JOIN nation n ON n.n_nationkey = l.l_suppkey % 25
        |WHERE n.n_regionkey = 0
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,

    // The standard-SQL spelling of q340's pipe chain.
    "q340_pipe_syntax" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS price_c_sum
        |FROM orders WHERE o_orderstatus IS NOT NULL
        |GROUP BY o_orderstatus HAVING count(*) > 5
        |ORDER BY o_orderstatus""".stripMargin,

    // The same aggregates over the DATA (DuckDB never sees the manifest):
    // manifest-derived answers must equal data-derived answers exactly.
    "q341_dsv2_agg" ->
      """SELECT count(*) AS n,
        |       count(CASE WHEN o_orderkey % 10 = 0 THEN NULL
        |                  ELSE o_custkey END) AS n_cust,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |       min(o_totalprice) AS min_price,
        |       max(o_totalprice) AS max_price
        |FROM orders""".stripMargin,

    // Same α = 1/2 law in HUGEINT lanes: sqrt is correctly rounded in
    // both engines, every later step is exact integer arithmetic.
    "q342_temperature_mixture" ->
      """WITH d AS (SELECT CASE WHEN doc_id % 16 < 8 THEN 'webA'
        |                       WHEN doc_id % 16 < 12 THEN 'webB'
        |                       WHEN doc_id % 16 < 14 THEN 'books'
        |                       WHEN doc_id % 16 = 14 THEN 'code'
        |                       ELSE 'wiki' END AS source
        |           FROM documents),
        |c AS (SELECT source, count(*) AS n_docs FROM d GROUP BY 1),
        |w AS (SELECT source, n_docs,
        |             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0)
        |               AS BIGINT) AS w_micro FROM c),
        |tw AS (SELECT source, n_docs, w_micro,
        |              sum(CAST(w_micro AS HUGEINT)) OVER () AS w_total
        |       FROM w),
        |b AS (SELECT source, n_docs, w_micro,
        |             CAST((CAST(w_micro AS HUGEINT) * 1000000) // w_total
        |               AS BIGINT) AS share_ppm,
        |             CAST((CAST(w_micro AS HUGEINT) * 100000) // w_total
        |               AS BIGINT) AS base,
        |             (CAST(w_micro AS HUGEINT) * 100000) % w_total AS rem
        |      FROM tw),
        |r AS (SELECT *, sum(base) OVER () AS allocated,
        |             row_number() OVER (ORDER BY rem DESC, source) AS rk
        |      FROM b)
        |SELECT source, n_docs, w_micro, share_ppm,
        |       CAST(base + CASE WHEN rk <= 100000 - allocated
        |                        THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY source""".stripMargin,

    // The oracle re-derives EVERYTHING — word counts, the overlap-counted
    // substring inventory, the top-150 selection, the micro-nat costs —
    // then replays every segmentation path of every selected word with a
    // recursive CTE and takes the min: the engine's Viterbi dp must land
    // on exactly that optimum for every word.
    "q343_unigram_segment" ->
      """WITH RECURSIVE
        |tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |words AS (SELECT w, count(*) AS cnt FROM tok
        |          WHERE len(w) BETWEEN 2 AND 12 GROUP BY w),
        |pos AS (SELECT w, cnt, unnest(range(1, len(w) + 1)) AS s FROM words),
        |multi AS (SELECT piece, c FROM (
        |            SELECT substr(w, s, l) AS piece,
        |                   CAST(sum(cnt) AS BIGINT) AS c
        |            FROM pos CROSS JOIN (VALUES (2), (3), (4)) lv(l)
        |            WHERE s + l - 1 <= len(w) GROUP BY 1)
        |          ORDER BY c DESC, piece LIMIT 150),
        |chars AS (SELECT substr(w, s, 1) AS piece,
        |                 CAST(sum(cnt) AS BIGINT) AS c
        |          FROM pos GROUP BY 1),
        |vocab AS (SELECT * FROM chars UNION ALL SELECT * FROM multi),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM vocab),
        |vc AS (SELECT piece, CAST(len(piece) AS INTEGER) AS l,
        |              CAST(floor(-ln(CAST(c AS DOUBLE) / total) * 1000000.0
        |                + 0.5) AS BIGINT) AS cost
        |       FROM vocab CROSS JOIN tot),
        |sel AS (SELECT w, cnt FROM words ORDER BY cnt DESC, w LIMIT 2000),
        |dp(w, i, cost) AS (
        |  SELECT w, 0, CAST(0 AS BIGINT) FROM sel
        |  UNION
        |  SELECT d.w, d.i + v.l, d.cost + v.cost
        |  FROM dp d JOIN vc v
        |    ON d.i + v.l <= len(d.w) AND substr(d.w, d.i + 1, v.l) = v.piece)
        |SELECT s.w, CAST(s.cnt AS BIGINT) AS cnt,
        |       min(d.cost) AS cost_micro
        |FROM sel s JOIN dp d ON d.w = s.w AND d.i = len(s.w)
        |GROUP BY s.w, s.cnt ORDER BY s.w""".stripMargin,

    // The PLAIN join — no keyed layout, no SPJ: result identity under
    // the zero-exchange plan is the whole contract (the q214/q336
    // device).
    "q344_spj" ->
      """WITH a AS (SELECT l_orderkey % 32 AS k,
        |                  CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
        |           FROM lineitem),
        |     b AS (SELECT o_orderkey % 32 AS k, count(*) AS n_ord,
        |                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |                    AS BIGINT) AS osum_c
        |           FROM orders GROUP BY 1)
        |SELECT a.k, count(*) AS n_li,
        |       CAST(sum(a.price_c) AS BIGINT) AS rev_c,
        |       min(b.n_ord) AS n_ord, min(b.osum_c) AS osum_c
        |FROM a JOIN b ON b.k = a.k
        |GROUP BY a.k ORDER BY a.k""".stripMargin,

    // q345's statement with the parameter values inlined as literals.
    "q345_param_sql" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS price_c_sum
        |FROM orders
        |WHERE o_totalprice < 150000.0 AND o_orderstatus <> 'Z'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Exact ≤2-hop ball sizes via bounded recursive closure; the sketch
    // bound flag is pinned TRUE (sparse-mode HLL is exact at these ball
    // sizes — a wrong estimate fails the hash).
    "q346_neighborhood" ->
      """WITH RECURSIVE %NODES%,
        |%EDGES%,
        |%SYM%,
        |r(v, m, d) AS (
        |  SELECT node_idx, node_idx, 0 FROM nodes
        |  UNION
        |  SELECT r.v, s.v, r.d + 1 FROM r JOIN sym s ON s.u = r.m
        |  WHERE r.d < 2)
        |SELECT v AS node, count(DISTINCT m) AS exact_ball, TRUE AS sketch_ok
        |FROM r GROUP BY 1 ORDER BY node""".stripMargin
          .replace("%NODES%", Derive.Sql.nodes)
          .replace("%EDGES%", Derive.Sql.edges)
          .replace("%SYM%", Derive.Sql.symEdges),

    // The same grouped aggregates over the DATA (DuckDB never sees the
    // manifest or keys metadata): per-key manifest partials folded by
    // Spark must equal data-derived groups exactly.
    "q347_dsv2_group_agg" ->
      """SELECT o_custkey % 16 AS k, count(*) AS n,
        |       count(CASE WHEN o_orderkey % 10 = 0 THEN NULL
        |                  ELSE o_custkey END) AS n_cust,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY 1 ORDER BY k""".stripMargin,

    // The plain join — result identity under BOTH planned strategies
    // (broadcast from reported stats, sort-merge under the forced
    // threshold) is the contract.
    "q348_dsv2_stats_join" ->
      """SELECT n.n_name, count(*) AS n_li,
        |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
        |            AS BIGINT) AS rev_c
        |FROM lineitem l JOIN nation n ON n.n_nationkey = l.l_suppkey % 25
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,

    // Identical to q338's oracle: the sharded write + union read-back
    // must reduce to exactly what one sink (and the source table) does.
    "q349_sink_jdbc_sharded" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS price_c_sum,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // The plain skewed join — the partially-clustered zero-shuffle plan
    // must change nothing about the values.
    "q350_spj_skew" ->
      """WITH a AS (SELECT CASE WHEN l_orderkey % 4 < 3 THEN 0
        |                       ELSE l_orderkey % 29 + 1 END AS k,
        |                  CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
        |           FROM lineitem),
        |     b AS (SELECT CASE WHEN o_orderkey % 4 < 3 THEN 0
        |                       ELSE o_orderkey % 29 + 1 END AS k,
        |                  count(*) AS n_ord
        |           FROM orders GROUP BY 1)
        |SELECT a.k, count(*) AS n_li,
        |       CAST(sum(a.price_c) AS BIGINT) AS rev_c,
        |       min(b.n_ord) AS n_ord
        |FROM a JOIN b ON b.k = a.k
        |GROUP BY a.k ORDER BY a.k""".stripMargin,

    // The plain join — the runtime IN-set prunes FILES, never rows the
    // join would keep, so the region-filtered join must be value-identical.
    "q351_dsv2_runtime_filter" ->
      """SELECT n.n_name, count(*) AS n_li,
        |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
        |            AS BIGINT) AS rev_c
        |FROM lineitem l JOIN nation n ON n.n_nationkey = l.l_suppkey % 25
        |WHERE n.n_regionkey = 0
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,

    // Exact ⌈q·n⌉-rank order statistics; the bound flag is pinned TRUE —
    // the engine computed it from the sketch's actual rank bracket, so a
    // sketch outside its published n/accuracy guarantee flips the hash.
    "q352_quantile_sketch" ->
      """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |           FROM lineitem),
        |n AS (SELECT count(*) AS n FROM v),
        |d AS (SELECT c, count(*) AS cnt FROM v GROUP BY c),
        |cum AS (SELECT c, sum(cnt) OVER (ORDER BY c) AS cum FROM d),
        |q(q_ppm) AS (VALUES (500000), (900000), (990000))
        |SELECT q.q_ppm,
        |       (SELECT min(cum.c) FROM cum, n
        |        WHERE CAST(cum.cum AS HUGEINT) * 1000000
        |              >= CAST(q.q_ppm AS HUGEINT) * n.n) AS exact_c,
        |       TRUE AS sketch_ok
        |FROM q ORDER BY q.q_ppm""".stripMargin,

    // The same ranked filter replayed: per (returnflag, linestatus) the
    // top-3 rows under the total (price desc, orderkey, linenumber) order.
    "q353_window_group_limit" ->
      """SELECT * FROM (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
        |         l_orderkey, l_linenumber,
        |         row_number() OVER (
        |           PARTITION BY l_returnflag, l_linestatus
        |           ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT) DESC,
        |                    l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) t
        |WHERE rn <= 3
        |ORDER BY l_returnflag, l_linestatus, rn""".stripMargin,

    // Ground truth for the piggy-backed counters: the same aggregates
    // computed from the table — any accumulator drift flips the hash.
    "q354_observed_metrics" ->
      """SELECT count(*) AS n_docs,
        |       CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS bytes,
        |       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS null_lang,
        |       max(doc_id) AS max_id
        |FROM documents""".stripMargin,

    // IDENTICAL statement text — the recursion itself is the surface
    // under test; both engines run the same WITH RECURSIVE.
    "q355_recursive_cte" -> SharedSql.recursiveBfs,

    // Unique keys → the top-100 row set is deterministic; the pruned
    // scan must deliver exactly these rows.
    "q356_dsv2_topn" ->
      """SELECT o_orderkey AS k,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin,

    // Only the COUNT of an unordered LIMIT is deterministic — the gate's
    // value contract; the file-prefix prune is pinned by the requires.
    "q357_dsv2_limit" ->
      """SELECT count(*) AS n
        |FROM (SELECT * FROM orders LIMIT 500) t""".stripMargin,

    // q216's oracle with LEFT JOIN and the -1 null lane: every purchase
    // appears — matched ones per view, unmatched ones once, null-padded.
    "q358_stream_outer_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id,
        |                  epoch_us(ts) AS p_us,
        |                  CAST(round(value * 100) AS BIGINT) AS purchase_cents
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS view_id, user_id AS v_user, epoch_us(ts) AS v_us
        |      FROM events WHERE event_type = 'view')
        |SELECT p.purchase_id, p.user_id, p.p_us,
        |       COALESCE(v.view_id, -1) AS view_id,
        |       COALESCE(v.v_us, -1) AS v_us,
        |       p.purchase_cents
        |FROM p LEFT JOIN v ON v.v_user = p.user_id
        | AND v.v_us <= p.p_us AND v.v_us >= p.p_us - 14400000000
        |ORDER BY p.purchase_id, view_id""".stripMargin,

    // The write-side clustering must change the LAYOUT (the require),
    // never the data: plain grouped reduce over the source table.
    "q359_dsv2_write_distribution" ->
      """SELECT o_custkey % 24 AS k, count(*) AS n,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1 ORDER BY k""".stripMargin,

    // The whole CREATE/INSERT/DELETE/SELECT lifecycle must equal the
    // plain filtered aggregate — the metadata-only delete dropped
    // exactly the k >= 12 files and nothing else.
    "q360_catalog_sql" ->
      """SELECT o_orderkey % 16 AS k, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS price_sum
        |FROM orders WHERE o_orderkey % 16 < 12
        |GROUP BY 1 ORDER BY k""".stripMargin,

    // The converged streaming aggregate over both halves must equal the
    // one-shot batch aggregate — incremental file-set offsets lose and
    // duplicate nothing.
    "q361_dsv2_stream" ->
      """SELECT o_orderkey % 8 AS k, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_c
        |FROM orders GROUP BY 1 ORDER BY k""".stripMargin,

    // Rate-limited catch-up must converge to the one-shot batch
    // aggregate — admission control changes pacing, never values.
    "q362_stream_admission" ->
      """SELECT o_orderkey % 8 AS k, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_c
        |FROM orders GROUP BY 1 ORDER BY k""".stripMargin,

    // The complement-filtered aggregate: rows surviving the DELETE are
    // exactly NOT(price_c < 1e7 OR k >= 14), whether they lived in a
    // dropped, rewritten, or untouched file.
    "q363_catalog_cow_delete" ->
      """SELECT k, count(*) AS n, CAST(sum(price_c) AS BIGINT) AS price_sum
        |FROM (SELECT o_orderkey % 16 AS k,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |      FROM orders)
        |WHERE NOT (price_c < 10000000 OR k >= 14)
        |GROUP BY k ORDER BY k""".stripMargin,

    // Identical to q349's oracle: key-hash routing re-partitions rows
    // across shards but the union read-back must reduce to exactly what
    // the source table holds.
    "q364_sink_jdbc_balance" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS price_c_sum,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  )
}
