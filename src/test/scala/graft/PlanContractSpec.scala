package graft

/** Plan-shape contracts over the gate queries — the scale dossier's
  * "no cartesian, no accidental nested loop" audit as a REGRESSION TEST:
  * every SparkEntry query's physical plan (the set ScaleBench measures,
  * since it runs `Harness.select`) is built against sf0.001 and
  * must contain no CartesianProduct, and BroadcastNestedLoopJoin only
  * where a query legitimately broadcasts a 1-row scalar (or a small
  * query side, or runs a k-NN fallback) — the allowlist below, each entry
  * justified in the PLANS.md dossier. A new operator that accidentally
  * plans a cross join fails here before any benchmark has to catch it.
  *
  * Plans only — nothing executes beyond the driver-steered control some
  * operators run while BUILDING their frame (k-means rounds, BPE argmax,
  * the q38 snap),
  * which is why this uses the tiny sf0.001 directory. */
class PlanContractSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries where BroadcastNestedLoopJoin is the intended shape:
    * 1-row scalar broadcasts (crossJoin of a single aggregate row), a
    * small broadcast query side, or a k-NN fallback branch. */
  private val bnljAllowed: Set[String] = Set(
    "q13_weight_sanity",        // 1-row totals broadcast
    "q23_snap", "q26_dijkstra_reach", "q27_multi_tile_reach", // 1-row snap-radius / bound scalars
    "q40_cosine_topk",          // 5-row query side broadcast, qid<>vec_id residual
    "q219_mrl_ablation",        // the q40 shape twice (full-dim + 32-dim rankings)
    "q226_semantic_decontam",   // the q40 shape: 20-row benchmark side broadcast
    "q236_mmr_rerank",          // candidate retrieval IS bruteTopK (the q40 shape)
    "q161_rrf_fusion",          // 20-doc re-rank side broadcast
    "q162_copurchase",          // 1-row basket-count scalar
    "q38_point_query",          // Derive.pois' 1-row node-count scalar (the q26 class)
    "q39_accuracy",             // scalar accuracy denominator
    "q54_nodes_near",           // k-NN fallback branch
    "q60_kmeans", "q70_semdedup", "q116_pq_ann", // centroid-array 1-row frames
    "q280_silhouette",          // the same centsArray 1-row frame (two-nearest fold)
    "q224_ivfpq_ann",           // nlist-row coarse-centroid broadcast + centsArray frames
    "q41_ann_ivf", "q165_ann_recall",            // centsArray 1-row frame
    "q283_ndcg",                // the q165 shape (brute + IVF rankings joined)
    "q87_distinct_sketch",      // sketch-vs-exact scalar compare
    "q91_minhash_estimate",     // corpus-stats scalar
    "q98_heavy_hitters",        // N-relative threshold scalar
    "q109_quantile_sketch",     // sketch bound scalar
    "q110_char_entropy",        // corpus-entropy scalar
    "q111_bm25",                // corpus stats (N, avgdl) scalar
    "q156_group_priority_sample",
    "q160_quantile_normalize", "q176_equidepth_hist", // nTotal scalar
    "q175_rfm",                 // max-day 1-row cross join
    "q177_ab_report",
    "q178_pmi_colloc",          // n_uni/n_bi 1-row totals
    "q180_power_iteration",     // max-abs renorm scalar
    "q183_countmin",
    "q185_calibration",         // n_total scalar
    "q187_split_overlap", "q188_vocab_drift",
    "q213_jsd_drift",           // (na, nb) 1-row totals broadcast (q188's class)
    "q79_bigram_lm", "q83_length_report", "q85_vocab_report",
    "q168_mixture_rates", "q169_dataset_card",
    // round-8 full-coverage additions (each the same 1-row/tiny
    // broadcast class as above):
    "q17_reach_summary", "q18_path", // Dijkstra kernel bound scalars (the q26/q27 class)
    "q75_quality_gate",              // percentile-threshold scalar (two 1-row broadcasts)
    "q76_tfidf",                     // corpus-N scalar
    "q42_embed_neardup",             // fixed hyperplane table broadcast (8 rows)
    "q90_profile",                   // 1-row basic-aggs × 1-row distinct-aggs
    "q202_ks_test",                  // (n_a, n_b) 1-row totals broadcast
    "q203_gini_sources",             // (n, S) 1-row totals broadcast
    "q208_array_setops",             // 1-row time-cut scalar broadcast
    "q241_m4_downsample",            // global (tmin, tmax) 1-row range broadcast
    "q242_binary_rerank",            // the q40 shape: 3-query code broadcast
    "q246_cuped",                    // 1-row totals x 1-row arms cross join
    "q257_hits",                     // 6× 1-row max-abs renorm scalars (the q180 class)
    "q267_kendall_tau",              // cell-domain a<a' pair join (|A|·|B| cells) + 1-row margins
    "q286_chi2_indep",               // r×c value-lattice densification (two tiny distinct frames)
    "q288_dbscan_grid",              // mean-occupancy scalar window + dense-cell domain
    "q290_naive_bayes",              // 1-row vocab-size + |classes|-row broadcast crossJoins
    "q291_isotonic",                 // bin-domain j<=k triple join (d ~ 10 rows) + n_total scalar
    "q292_conversion_latency",       // two 1-row totals broadcasts (n_conv, n_from)
    "q300_lm_perplexity",            // 1-row vocab-size + 1-row global-fallback broadcasts
    "q304_skipgram_pmi",             // (n_uni, n_pairs) 1-row totals broadcasts (the q178 class)
    "q272_did",                      // 1-row median-cut scalar broadcast
    "q328_kneser_ney",               // 1-row bigram-type-count (B) broadcast (the q300 class)
    "q329_dsir_select",              // 1-row (t_raw, t_tgt) totals broadcast (the q178 class)
    "q330_bleu_corpus",              // five 1-row piece frames crossJoined (clip/tot/lens scalars)
    "q352_quantile_sketch")          // |q|-row (3) sketch-probe broadcast crossJoined twice (rank bracket + exact lane)

  /** q240's brute bucket: all-pairs over strings too short for the gram
    * bound — EMPTY on every realistic name domain (p_names are 20+
    * chars); the shape exists in the plan, the data never does. (q38's
    * snap runs its passes, the brute-force one only for an undecided
    * point, while its frame is built, so its plan holds the snap as a
    * local relation; QueryLayerSpec proves that rule.) */
  private val cartAllowed: Set[String] = Set("q240_edit_join")

  test("headline query plans: no CartesianProduct; BNLJ only where allowlisted") {
    val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString()
      val cart = plan.contains("CartesianProduct") && !cartAllowed(name)
      val bnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)
      (if (cart) Seq(s"$name: CartesianProduct") else Nil) ++
        (if (bnlj) Seq(s"$name: unexpected BroadcastNestedLoopJoin") else Nil)
    }
    assert(failures.isEmpty, s"plan contract violations:\n${failures.mkString("\n")}")
  }

  test("q224 ivfpq: no vector-typed column crosses a shuffle at query time") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    // the IVFADC scale claim (PLANS.md q224 dossier): vectors are reduced
    // to scalar code rows before anything shuffles — codebooks, ADC
    // tables, and the coarse centroids all travel by BROADCAST, so the
    // only exchanges carry (qid, vec_id, distance)-shaped scalars. The
    // Lloyd trainings run eagerly behind localCheckpoints (train time,
    // not query time) and are not part of this plan.
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case s: ShuffleExchangeExec => s +: s.children.flatMap(shuffles)
      case other => other.children.flatMap(shuffles)
    }
    val plan = SparkEntry.queries("q224_ivfpq_ann")(spark, sfDir)
      .queryExecution.executedPlan
    val found = shuffles(plan)
    assert(found.nonEmpty, "expected scalar shuffles (aggregate/top-k)")
    val offenders = found.filter(_.output.exists(
      _.dataType.isInstanceOf[ArrayType]))
    assert(offenders.isEmpty,
      "vector-typed columns crossed a shuffle:\n" + offenders.map(
        _.output.map(a => s"${a.name}:${a.dataType.simpleString}")
          .mkString(", ")).mkString("\n"))
  }

  test("bucketed tables join exchange-free (q214's layout contract)") {
    // Broadcast disabled so the contract actually exercises the bucketed
    // sort-merge path — with broadcast on, a small side would hide a
    // missing bucket layout behind a BroadcastHashJoin.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dir = sfDir
      val base = java.nio.file.Files.createTempDirectory("graft-bucket").toString
      def tbl(name: String, src: String, key: String): Unit =
        spark.read.parquet(s"$dir/$src.parquet").write.mode("overwrite")
          .bucketBy(8, key).sortBy(key)
          .option("path", s"$base/$name").saveAsTable(name)
      tbl("bucket_spec_orders", "orders", "o_custkey")
      tbl("bucket_spec_cust", "customer", "c_custkey")
      val o = spark.table("bucket_spec_orders")
      val c = spark.table("bucket_spec_cust")
      val plan = o.join(c, o("o_custkey") === c("c_custkey"))
        .queryExecution.executedPlan.toString()
      assert(plan.contains("SortMergeJoin"), s"expected SortMergeJoin:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bucket_spec_orders")
      spark.sql("DROP TABLE IF EXISTS bucket_spec_cust")
    }
  }

  test("partitioned layout prunes at the directory level (q215's contract)") {
    val base = java.nio.file.Files.createTempDirectory("graft-part").toString
    spark.read.parquet(s"$sfDir/documents.parquet").write
      .mode("overwrite").partitionBy("lang").parquet(base)
    val plan = spark.read.parquet(base)
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
      .select("source", "n_chars")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("lang"),
      s"lang filter must land in PartitionFilters (directory prune):\n$plan")
  }
}
