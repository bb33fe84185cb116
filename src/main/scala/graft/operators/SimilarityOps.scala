package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Similarity search over an embedding column (builder brief: brute-force
  * cosine top-k baseline + a bucketed scale path; near-dup join).
  *
  * All vector math runs over QUANTIZED integers: components are mapped to
  * round(x·1e7) longs, so dot products and squared norms are exact 64-bit
  * integers (64 dims × (3e6)² ≈ 6e14 ≪ 2⁶³) and the only floating-point
  * steps are sqrt + divide — IEEE-exact and therefore identical in every
  * engine. That buys (a) bit-reproducible results distributed or not, and
  * (b) a DuckDB-checkable oracle. The ~1e-7 relative quantization error is
  * far below any retrieval-relevant signal.
  */
object SimilarityOps {

  /** Per-group embedding centroid drift vs the global centroid — the
    * distribution monitor for a multi-source embedding corpus ("is this
    * language/domain/shard drifting away from the population?"), the
    * vector sibling of the tabular profile ops. Per group g with n_g
    * vectors and per-dimension quantized sums S_g, against global (N,
    * S): squared centroid distance Σ_d (S_g[d]/n_g − S[d]/N)² is made
    * EXACT by clearing denominators —
    *
    *   drift_num = Σ_d (N·S_g[d] − n_g·S[d])²  [= dist² · (n_g·N)²]
    *
    * computed in DECIMAL(38,0) (the q119 z-score idiom: terms reach
    * ~10²⁹ at scale — past 2⁶³, inside 38 digits; DuckDB's HUGEINT is
    * the same integer), then reported as the exact integral quotient
    * `drift_q2 = drift_num div (n_g·N)²` — the squared centroid
    * distance in quantized units² (≲ dims·(2·10⁷)² ≈ 10¹⁶, back inside
    * BIGINT), so groups are comparable with NO float mean and no
    * epsilon. Shape: one posexplode to (group, dim, x) rows, two
    * partial-aggregated shuffles on (group, dim)/(dim) — both tiny
    * domains — and a broadcast join on dim. Output:
    * (group, n_vec, drift_q2). */
  def centroidDrift(vectors: DataFrame, groupCol: String,
                    embCol: String = "embedding"): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val comps = vectors
      .select(col(groupCol), posexplode(quantize(col(embCol))).as(Seq("d", "x")))
    val per = comps.groupBy(col(groupCol), col("d"))
      .agg(sum("x").as("s_g"), count(lit(1)).as("n_g"))
    val glob = comps.groupBy(col("d"))
      .agg(sum("x").as("s"), count(lit(1)).as("n"))
    per.join(broadcast(glob), Seq("d"))
      .select(col(groupCol), col("n_g"), col("n"),
        (dec(col("n")) * dec(col("s_g")) - dec(col("n_g")) * dec(col("s"))).as("diff"))
      .groupBy(col(groupCol))
      .agg(first(col("n_g")).as("n_vec"), first(col("n")).as("n_all"),
        sum(col("diff") * col("diff")).cast("decimal(38,0)").as("drift_num"))
      .select(col(groupCol), col("n_vec"),
        expr("CAST(drift_num div (CAST(n_vec AS DECIMAL(38,0)) * n_all" +
          " * n_vec * n_all) AS BIGINT)").as("drift_q2"))
  }

  /** Pairwise cosine similarity BETWEEN group centroids ([[centroidDrift]]'s
    * cross-group sibling): how aligned are two languages'/domains' mean
    * embeddings. Key identity: cos of the centroids equals cos of the
    * per-dimension SUM vectors — the 1/n factors cancel in the ratio —
    * so no rational centroid is ever materialized. Dot products of sum
    * vectors run in DECIMAL(38,0) (components ≤ n·10⁷ ≈ 10¹¹ squared
    * and summed over dims pass 2⁶³ long before they threaten 38
    * digits); the one float step is the final sqrt/divide ratio,
    * micro-floored — the [[int8Quantize]] boundary discipline.
    *
    * Shape: one posexplode + one (group, dim) aggregate, then an
    * all-pairs join over the GROUP table (|groups|² rows — groups are
    * few by definition; the corpus never self-joins). Output:
    * (g_a, g_b, cos_micro), g_a < g_b. */
  def centroidCos(vectors: DataFrame, groupCol: String,
                  embCol: String = "embedding"): DataFrame = {
    val sums = vectors
      .select(col(groupCol).as("g"), posexplode(quantize(col(embCol))).as(Seq("d", "x")))
      .groupBy(col("g"), col("d")).agg(sum("x").cast("decimal(38,0)").as("s"))
    val pairs = sums.as("a")
      .join(sums.as("b"), col("a.d") === col("b.d") && col("a.g") < col("b.g"))
      .select(col("a.g").as("g_a"), col("b.g").as("g_b"),
        (col("a.s") * col("b.s")).as("ab"),
        (col("a.s") * col("a.s")).as("aa"),
        (col("b.s") * col("b.s")).as("bb"))
      .groupBy("g_a", "g_b")
      .agg(sum("ab").as("dab"), sum("aa").as("daa"), sum("bb").as("dbb"))
    pairs.select(col("g_a"), col("g_b"),
      floor(lit(1000000.0) * col("dab").cast("double") /
        (sqrt(col("daa").cast("double")) * sqrt(col("dbb").cast("double"))))
        .cast("long").as("cos_micro"))
  }

  /** Quantize float components to round(x·1e7) longs — the native
    * codegen'd [[graft.expressions.Quantize]] kernel since round 14 (one
    * compiled loop per row; a `transform` HOF form re-interprets the
    * round/cast tree per component). */
  def quantize(emb: Column): Column =
    call_function("graft_quantize", emb)

  /** Exact integer dot product of two quantized vectors, via the native
    * codegen'd [[graft.expressions.DotQ]] expression (registered by
    * GraftExtensions — every session in this engine has it). The
    * higher-order equivalent [[dotQHof]] computes the same value ~3× slower
    * (interpreted lambdas + an intermediate array per row). */
  def dotQ(a: Column, b: Column): Column =
    call_function("graft_dot_q", a, b)

  /** Reference implementation of [[dotQ]] in pure built-ins; kept for
    * equivalence testing and for sessions without GraftExtensions. */
  def dotQHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Cosine similarity of two quantized vectors (double; deterministic). */
  def cosQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") /
      (sqrt(dotQ(a, a).cast("double")) * sqrt(dotQ(b, b).cast("double")))

  /** Brute-force cosine top-k: the CORRECTNESS baseline. Broadcasts the
    * (small) query set against the full vector table — one pass, no shuffle
    * of the big side, then a per-query top-k window. Fine for few queries;
    * for query sets at scale use [[ivfTopK]]. */
  def bruteTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val v = vectors.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val q = queries.select(col("vec_id").as("qid"), quantize(col("embedding")).as("qq"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    v.join(broadcast(q), col("qid") =!= col("vec_id"))
      .withColumn("cos", cosQ(col("qq"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "cos")
  }

  /** ANN quality evaluation — recall@k and reciprocal rank of an
    * approximate retrieval against the exact one, per query. The eval
    * harness every ANN deployment needs: [[ivfTopK]]/[[pqTopK]] trade
    * recall for probe cost, and this measures the trade instead of
    * assuming it.
    *
    * Inputs are two (qid, rank, vec_id) rankings (both produced by this
    * module's top-k operators). Per query: `n_hits` = |exact∩approx|
    * ids, `recall_micro` = n_hits·10⁶ div k, and `rr_micro` = 10⁶ div
    * (approx rank of the exact #1 neighbor), 0 if the approx list missed
    * it — all exact integers, no float score comparison anywhere (the
    * rankings already encode the scores).
    *
    * Shape: one equi-join on (qid, vec_id) — k rows per query per side —
    * plus a per-qid aggregate; cost is |queries|·k, independent of the
    * corpus. */
  def annRecall(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"bad k=$k")
    val e = exact.select(col("qid"), col("rank").cast("long").as("e_rank"), col("vec_id"))
    val a = approx.select(col("qid"), col("rank").cast("long").as("a_rank"), col("vec_id"))
    val hits = e.join(a, Seq("qid", "vec_id"))
      .groupBy("qid")
      .agg(count(lit(1)).as("n_hits"),
        min(when(col("e_rank") === 1, col("a_rank"))).as("rr_rank"))
    e.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr(s"(coalesce(n_hits, 0L) * 1000000) div $k").as("recall_micro"),
        expr("CASE WHEN rr_rank IS NULL THEN 0 ELSE 1000000 div rr_rank END")
          .as("rr_micro"))
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign: parity of the first
    * 8 md5 hex chars of "jl:o:i" — derivable identically in the JVM (plan
    * time, inlined as literals) and in DuckDB SQL (computed per cell), so
    * the oracle re-proves the matrix derivation, not just the algebra. */
  def jlSign(o: Int, i: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"jl:$o:$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
  }

  /** Johnson–Lindenstrauss distortion audit of a ±1 random projection
    * (Achlioptas 2003: database-friendly random projections): quantized
    * vectors are projected dIn → dOut through the [[jlSign]] matrix
    * (inlined literal sums — pure codegen, no matrix join on the engine
    * side), consecutive-id pairs sampled at `stride` are measured before
    * and after, and the squared-distance ratio lands in exact ppm of its
    * expectation E‖S(a−b)‖² = dOut·‖a−b‖²:
    *
    *   ratio_ppm = (distOut · 10⁶) div (dOut · distIn)
    *
    * in DECIMAL(38) lanes (a single output coordinate square can pass
    * 2⁶³). Output: one row per 0.1-wide ratio band — (band, n_pairs,
    * min/max ratio_ppm) — the distortion histogram JL promises
    * concentrates at 10⁶. Identical vectors (distIn = 0) are excluded. */
  def jlDistortion(vectors: DataFrame, dIn: Int, dOut: Int,
                   stride: Int): DataFrame = {
    require(dIn > 0 && dOut > 0 && stride > 0, "bad jl params")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val q = vectors.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val proj: Column = array((0 until dOut).map { o =>
      val terms = (0 until dIn).map { i =>
        val s = if (jlSign(o, i) > 0) "+" else "-"
        s"$s element_at(qv, ${i + 1})"
      }.mkString(" ")
      expr(s"($terms)")
    }: _*)
    val y = q.select(col("vec_id"), col("qv"), proj.as("y"))
    val a = y.select(col("vec_id").as("id"), col("qv").as("qa"),
      col("y").as("ya")).filter(col("id") % stride === 0)
    val b = y.select((col("vec_id") - 1).as("id"), col("qv").as("qb"),
      col("y").as("yb"))
    val dists = a.join(b, Seq("id"))
      .select(
        expr("aggregate(zip_with(qa, qb, (x, z) -> (x - z) * (x - z)), " +
          "CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v)").as("d_in"),
        expr("aggregate(zip_with(ya, yb, (x, z) -> CAST(x - z AS DECIMAL(38,0)) * (x - z)), " +
          "CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v)").as("d_out"))
      .filter(col("d_in") > 0)
      .select(expr(s"(d_out * 1000000) div ($dOut * d_in)")
        .cast("long").as("ratio_ppm"))
    dists.groupBy(expr("ratio_ppm div 100000").as("band"))
      .agg(count(lit(1)).as("n_pairs"),
        min("ratio_ppm").as("min_ratio_ppm"),
        max("ratio_ppm").as("max_ratio_ppm"))
  }

  /** Round-half-up micro units of the nDCG position discounts
    * 1/log₂(i+1), i = 1..10 — inlined as shared constants in engine and
    * oracle (the Benford device: NEITHER engine ever evaluates a log, so
    * there is no float-parity surface). */
  val NdcgDiscountMicro: Seq[Long] = Seq(1000000L, 630930L, 500000L,
    430677L, 386853L, 356207L, 333333L, 315465L, 301030L, 289065L)

  /** nDCG@k of an approximate ranking against the exact one — the GRADED
    * retrieval-quality complement to [[annRecall]]'s set-overlap recall:
    * the exact top-k defines graded relevance rel = k+1−exact_rank (top
    * exact hit is worth k, …, the k-th is worth 1, anything outside the
    * exact top-k is worth 0), and the approximate ranking is scored by
    * DCG = Σ rel(doc at rank i) · D_i with D_i = round(10⁶/log₂(i+1))
    * from [[NdcgDiscountMicro]]. IDCG is the same sum over the ideal
    * ordering (rel k…1) — a compile-time integer. All integer micro
    * units; ndcg_ppm = dcg·10⁶ div idcg.
    *
    * Shape: identical to [[annRecall]] — one (qid, vec_id) equi-join over
    * k-row-per-query frames plus a per-qid aggregate; cost independent of
    * corpus size. Queries whose approx list misses every exact hit (or is
    * empty) report 0, not NULL. */
  def ndcgAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k > 0 && k <= NdcgDiscountMicro.size, s"bad k=$k")
    val d = NdcgDiscountMicro.take(k)
    val idcg = d.zipWithIndex.map { case (di, i) => di * (k - i) }.sum
    val e = exact.select(col("qid"), col("rank").cast("long").as("e_rank"),
      col("vec_id"))
    val a = approx.select(col("qid"), col("rank").cast("long").as("a_rank"),
      col("vec_id"))
    val dcg = a.join(e, Seq("qid", "vec_id"), "left")
      .select(col("qid"),
        (coalesce(lit(k + 1L) - col("e_rank"), lit(0L)) *
          element_at(array(d.map(lit): _*), col("a_rank").cast("int")))
          .as("g"))
      .groupBy("qid").agg(sum("g").as("dcg"))
    e.select("qid").distinct()
      .join(dcg, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("dcg"), lit(0L)).as("dcg_micro"),
        expr(s"(coalesce(dcg, 0L) * 1000000) div ${idcg}L").as("ndcg_ppm"))
  }

  /** IVF-style bucketed ANN: assign every vector to its nearest centroid
    * (broadcast centroids — one map-side pass), probe only the `nprobe`
    * nearest centroid buckets per query. At scale the cluster assignment is
    * the partitioning key: probing touches nprobe/nlist of the data instead
    * of all of it. Recall is approximate by design; the oracle replicates
    * the algorithm, not exact search. */
  def ivfTopK(vectors: DataFrame, centroids: DataFrame, queries: DataFrame,
              k: Int, nprobe: Int = 2): DataFrame = {
    val cents = broadcast(centroids.select(col("vec_id").as("cid"), quantize(col("embedding")).as("cv")))
    // corpus-side assignment is the [[nearestCid]] zero-shuffle fold (in
    // its cosine form — IVF buckets by angle): the former crossJoin +
    // per-vector ranking window shuffled the WHOLE vector table once per
    // retrieval. The probe side keeps the window — it needs top-nprobe,
    // and the query set is small by contract.
    val assigned = vectors
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("na", dotQ(col("qv"), col("qv")))
      .crossJoin(centsArray(cents))
      .select(nearestCidCos(col("qv"), col("na"), col("cs")).as("cid"),
        col("vec_id"), col("qv"))
    val wProbe = Window.partitionBy("qid").orderBy(col("ccos").desc, col("cid"))
    val probes = queries
      .select(col("vec_id").as("qid"), quantize(col("embedding")).as("qq"))
      .crossJoin(cents)
      .withColumn("ccos", cosQ(col("qq"), col("cv")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("qid"), col("qq"), col("cid"))
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    probes.join(assigned, Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("cos", cosQ(col("qq"), col("qv")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "cos")
  }

  /** Centroid set as ONE broadcast row holding a cid-sorted array of
    * (cid, cv, nc=|cv|²) structs — the operand for map-side assignment.
    * k×(dim+1) longs ≪ any broadcast threshold; the single-row aggregate
    * replaces a k-way crossJoin fan-out. */
  private def centsArray(cents: DataFrame): DataFrame =
    broadcast(cents
      .select(struct(col("cid"), col("cv"),
        dotQ(col("cv"), col("cv")).as("nc")).as("c"))
      .agg(sort_array(collect_list(col("c"))).as("cs")))

  /** Argmin cluster id by exact-integer L2 (|a|²−2a·c+|c|², ties to the
    * smaller cid): a fold over the cid-sorted centroid array with strict
    * `<`, so the first (smallest-cid) minimum wins — identical semantics
    * to the former per-vector ranking window, with ZERO shuffle: the old
    * shape cross-joined every vector against k centroid rows and ran a
    * `row_number` window partitioned by vec_id, i.e. a full shuffle of the
    * vector table per assignment (×2 training rounds ×every consumer of the
    * assignment — measured 4.6 s warm on q70 at sf0.1). The fold is a pure
    * map over the scan: 1.6 s, and at cluster scale it removes the only
    * data-sized shuffle in k-means training. The finish lambda extracts
    * `cid` so consumers never re-embed the fold subtree per field access
    * (the getField trap). */
  private def nearestCid(qv: Column, na: Column, cs: Column): Column =
    aggregate(cs,
      struct(lit(Long.MaxValue).as("dist"), lit(Int.MaxValue).as("cid")),
      (acc, c) => {
        val d = na - lit(2L) * dotQ(qv, c.getField("cv")) + c.getField("nc")
        when(d < acc.getField("dist"),
          struct(d.as("dist"), c.getField("cid").as("cid"))).otherwise(acc)
      },
      acc => acc.getField("cid"))

  /** [[nearestCid]]'s rule in COSINE form — the IVF bucketing metric:
    * argmax cos over the cid-sorted centroid array by a strict-`>` fold,
    * so exact ties keep the first (smallest) cid — identical semantics
    * to `row_number() OVER (ORDER BY ccos DESC, cid)`, zero shuffle.
    * The cosine is the same [[cosQ]] double both the former window and
    * the oracle compute, so results are bit-identical. */
  private def nearestCidCos(qv: Column, na: Column, cs: Column): Column =
    aggregate(cs,
      struct(lit(-2.0).as("cos"), lit(Long.MaxValue).as("cid")),
      (acc, c) => {
        // A zero-norm side (na or nc = 0) makes the ratio 0/0 = NaN, which
        // the strict-`>` fold would never admit — the vector would keep the
        // Long.MaxValue sentinel cid, an unprobed bucket, and silently drop
        // out of recall. nanvl pins the undefined cosine to -1.0 so such a
        // vector lands deterministically in the first (smallest-cid)
        // centroid, matching the former NaN-first row_number window.
        val cosv = nanvl(dotQ(qv, c.getField("cv")).cast("double") /
          (sqrt(na.cast("double")) * sqrt(c.getField("nc").cast("double"))),
          lit(-1.0))
        when(cosv > acc.getField("cos"),
          struct(cosv.as("cos"), c.getField("cid").cast("long").as("cid")))
          .otherwise(acc)
      },
      acc => acc.getField("cid"))

  /** Lloyd k-means over quantized vectors — the centroid TRAINING step
    * for [[ivfTopK]], which otherwise buckets on whatever vectors the
    * caller sampled. Deterministic and engine-mirrorable by construction:
    *  - init: the k smallest vec_ids' vectors (a data-independent rule);
    *  - assignment: argmin exact-integer squared L2 (|a|² − 2a·c + |c|²,
    *    three native dotQ calls — all 64-bit-exact on quantized input),
    *    ties to the smaller cluster id;
    *  - update: per-dimension mean RE-QUANTIZED with round() (identical
    *    half-away-from-zero in Spark and DuckDB; dim sums ≈1e10 ≪ 2⁵³
    *    stay exact through the one double division);
    *  - an empty cluster keeps its previous centroid (size 0).
    *
    * Returns (cid, n, cv: array<long>) for all k clusters, n = final
    * assignment size (0 for a cluster that kept its previous centroid),
    * as a materialized k-row frame. Training is [[lloydDriverQ]]: this
    * corpus is its one group. */
  def kmeansCentroids(vectors: DataFrame, k: Int, iters: Int, dim: Int): DataFrame =
    kmeansCentroidsQ(
      vectors.select(col("vec_id"), quantize(col("embedding")).as("qv")),
      k, iters, dim)

  /** Driver-side centroid row for the Lloyd trainer: k·(dim+1) longs —
    * CONTROL-PLANE sized (bounded by the k/dim parameters, never by the
    * corpus), the same bounded-steering-read class as quantileNormalize's
    * bucket totals and the AQE gates' ≤97-row plan finalizers. */
  private[operators] case class Cent(cid: Int, n: Long, cv: Array[Long])

  /** |cv|² in driver Scala — the exact Long arithmetic [[dotQ]] runs
    * (same wrap-on-overflow), precomputing the `nc` literal the
    * assignment fold reads per centroid. */
  private def normSqL(cv: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
    s
  }

  /** The codebooks as a LITERAL grp → centroid-array map: per group the
    * same cid-sorted (cid, cv, nc=|cv|²) struct array [[centsArray]]
    * aggregates into a broadcast 1-row frame, embedded directly in the
    * assignment expression. Field order and cid sort match, so the
    * [[nearestCid]] fold is bit-identical; what changes is the JOB SHAPE
    * — no broadcast exchange and no re-execution of training lineage per
    * consumer. With one group (grp a literal 0) the lookup constant-folds
    * to the group's array. */
  private def booksLit(books: Map[Int, Seq[Cent]]): Column =
    map(books.toSeq.sortBy(_._1).flatMap { case (g, cs) =>
      Seq(lit(g), array(cs.sortBy(_.cid).map(c =>
        struct(lit(c.cid).as("cid"), typedLit(c.cv.toSeq).as("cv"),
          lit(normSqL(c.cv)).as("nc"))): _*)) }: _*)

  /** An ungrouped (vec_id, qv) frame as the trainer's one group, grp = 0. */
  private def oneGroup(qvIn: DataFrame): DataFrame =
    qvIn.select(lit(0).as("grp"), col("vec_id"), col("qv"))

  /** One Spark job per Lloyd round for every group at once: assignment =
    * the [[nearestCid]] fold over the row's own group's literal centroid
    * array (pure map, zero shuffle, so m sub-codebooks train in ONE pass
    * whatever m is), update = the partial-aggregated ((grp, cid) →
    * count(1), per-dimension round(sum/count) re-quantized mean)
    * expressions, collected as ≤ groups·k control rows. An empty cluster
    * keeps its previous centroid with n = 0 — the left-join/coalesce
    * rule, applied driver-side. */
  private def lloydRounds(qvNa: DataFrame, init: Map[Int, Seq[Cent]],
                          iters: Int, dim: Int): Map[Int, Seq[Cent]] = {
    var books = init
    (1 to iters).foreach { _ =>
      val upd = qvNa
        .select(col("grp"),
          nearestCid(col("qv"), col("na"),
            element_at(booksLit(books), col("grp"))).as("cid"),
          col("qv"))
        .groupBy("grp", "cid")
        .agg(count(lit(1)).as("n"), array((1 to dim).map(i =>
          round(sum(element_at(col("qv"), i)) / count(lit(1))).cast("long")): _*).as("ucv"))
        .collect()
      val byKey = upd.map(r =>
        (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getSeq[Long](3).toArray))).toMap
      books = books.map { case (g, cs) => g -> cs.map(c =>
        byKey.get((g, c.cid)).map { case (n, u) => Cent(c.cid, n, u) }
          .getOrElse(Cent(c.cid, 0L, c.cv))) } // empty keeps previous
    }
    books
  }

  /** The seed rule — per group, the k smallest vec_ids' vectors in vec_id
    * order, cid = position — as ONE job shaped like TakeOrdered: each
    * partition keeps its k smallest (vec_id, qv) per grp in a bounded
    * max-heap, and the driver merges the partitions' lists and keeps k
    * per group. At most partitions·groups·k rows reach the driver, and
    * nothing shuffles (a window over grp would add an exchange, and a job,
    * even for one group). Input (grp, vec_id: long, qv). */
  private def lloydSeeds(base: DataFrame, k: Int): Map[Int, Seq[Cent]] =
    base.rdd.mapPartitions { rows =>
      val heaps = mutable.HashMap.empty[Int, mutable.PriorityQueue[(Long, Array[Long])]]
      rows.foreach { r =>
        val h = heaps.getOrElseUpdate(r.getInt(0),
          mutable.PriorityQueue.empty(Ordering.by[(Long, Array[Long]), Long](_._1)))
        val id = r.getLong(1)
        if (h.size < k || id < h.head._1) {
          if (h.size == k) h.dequeue()
          h.enqueue(id -> r.getSeq[Long](2).toArray)
        }
      }
      heaps.iterator.flatMap { case (g, h) => h.iterator.map { case (id, qv) => (g, id, qv) } }
    }.collect()
      .groupBy(_._1).map { case (g, rs) =>
        g -> rs.sortBy(_._2).take(k).toSeq.zipWithIndex
          .map { case ((_, _, qv), i) => Cent(i, 0L, qv) } }

  /** The Lloyd trainer: driver-round Lloyd over an already-quantized
    * (grp, vec_id, qv) frame, every group training its own k centroids in
    * the same jobs — one seed job ([[lloydSeeds]]) plus one job per round
    * ([[lloydRounds]]). Returns each group's centroids as control rows.
    * An ungrouped caller is one group ([[oneGroup]]). */
  private[operators] def lloydDriverQ(grouped: DataFrame, k: Int, iters: Int,
                                      dim: Int): Map[Int, Seq[Cent]] = {
    require(k > 0 && iters > 0 && dim > 0,
      s"bad kmeans params k=$k iters=$iters dim=$dim")
    val base = grouped.select(col("grp"),
      col("vec_id").cast("long").as("vec_id"), col("qv"))
    lloydRounds(base.withColumn("na", dotQ(col("qv"), col("qv"))),
      lloydSeeds(base, k), iters, dim)
  }

  /** Materialized (grp, cid, n, cv) frame from control rows: literal
    * rows, no scan of the training input. */
  private def centsFrame(spark: org.apache.spark.sql.SparkSession,
                         books: Map[Int, Seq[Cent]]): DataFrame =
    spark.range(1).select(explode(array(books.toSeq.sortBy(_._1).flatMap {
      case (g, cs) => cs.sortBy(_.cid).map(c =>
        struct(lit(g).as("grp"), lit(c.cid).as("cid"),
          lit(c.n).as("n"), typedLit(c.cv.toSeq).as("cv"))) }: _*)).as("c"))
      .select(col("c.grp").as("grp"), col("c.cid").as("cid"),
        col("c.n").as("n"), col("c.cv").as("cv"))

  /** [[assignToCentroidsQ]] against LITERAL codebooks: input (grp,
    * vec_id, qv), output (grp, cid, vec_id, qv). Each row folds over its
    * own group's codebook, looked up by grp in [[booksLit]] — zero
    * joins, stays lazy. */
  private def assignLit(grouped: DataFrame, books: Map[Int, Seq[Cent]]): DataFrame =
    grouped.select(col("grp"), col("vec_id"), col("qv"))
      .withColumn("na", dotQ(col("qv"), col("qv")))
      .select(col("grp"),
        nearestCid(col("qv"), col("na"),
          element_at(booksLit(books), col("grp"))).as("cid"),
        col("vec_id"), col("qv"))

  /** [[kmeansCentroids]] over an ALREADY-quantized (vec_id, qv) frame —
    * the form residual training needs (residuals are exact differences of
    * quantized vectors; re-quantizing them would be wrong). Returns the
    * trained centroids as a materialized k-row frame. */
  def kmeansCentroidsQ(qvIn: DataFrame, k: Int, iters: Int, dim: Int): DataFrame =
    centsFrame(qvIn.sparkSession, lloydDriverQ(oneGroup(qvIn), k, iters, dim))
      .drop("grp")

  /** Assign every vector to its exact-integer-L2 nearest centroid (the
    * k-means assignment rule: argmin |a|² − 2a·c + |c|², ties to the
    * smaller cluster id). Broadcast centroid array + per-row fold — one
    * shuffle-free map pass over the big table.
    * Input cents: (cid, cv quantized); output (cid, vec_id, qv). */
  def assignToCentroids(vectors: DataFrame, cents: DataFrame): DataFrame =
    assignToCentroidsQ(
      vectors.select(col("vec_id"), quantize(col("embedding")).as("qv")), cents)

  /** [[assignToCentroids]] over an already-quantized (vec_id, qv) frame. */
  def assignToCentroidsQ(qvIn: DataFrame, cents: DataFrame): DataFrame =
    qvIn.select(col("vec_id"), col("qv"))
      .withColumn("na", dotQ(col("qv"), col("qv")))
      .crossJoin(centsArray(cents.select(col("cid"), col("cv"))))
      .select(nearestCid(col("qv"), col("na"), col("cs")).as("cid"),
        col("vec_id"), col("qv"))

  /** [[nearestCid]]'s fold extended to carry the TWO smallest exact-L2
    * distances: (d1, cid of d1, d2) with strict-`<` admission, so ties keep
    * the earlier (smaller) cid for d1 and the duplicate distance lands in
    * d2 — identical semantics to ranking all k distances by (dist, cid)
    * and taking rn=1 and rn=2. One pass over the cid-sorted centroid
    * array, zero shuffle. */
  private def nearestTwo(qv: Column, na: Column, cs: Column): Column =
    aggregate(cs,
      struct(lit(Long.MaxValue).as("d1"), lit(Int.MaxValue).as("cid"),
        lit(Long.MaxValue).as("d2")),
      (acc, c) => {
        val d = na - lit(2L) * dotQ(qv, c.getField("cv")) + c.getField("nc")
        when(d < acc.getField("d1"),
          struct(d.as("d1"), c.getField("cid").as("cid"),
            acc.getField("d1").as("d2")))
          .when(d < acc.getField("d2"),
            struct(acc.getField("d1").as("d1"), acc.getField("cid").as("cid"),
              d.as("d2")))
          .otherwise(acc)
      })

  /** Simplified silhouette of a k-means clustering (the centroid-distance
    * variant of Rousseeuw 1987's silhouette — the form every large-scale
    * clustering validity check uses, because the full formulation needs
    * per-point mean distances to every cluster, an O(n²) pairwise pass):
    * per point, a = squared L2 to its own (nearest) centroid and b =
    * squared L2 to the second-nearest, s = (b − a)·10⁶ div b ∈ [0, 10⁶]
    * — entirely in exact integers over the ×1e7-quantized vectors, with
    * SQUARED distances throughout (both engines mirror the same law, and
    * staying off sqrt keeps the metric integer-exact; b ≥ a ≥ 0 by
    * construction, so no sign handling is needed). s = 0 when b = 0 (the
    * point coincides with two centroids). The (b−a)·10⁶ product can reach
    * 64·(2·10⁷)²·10⁶ ≈ 2.6·10²², so it runs in a DECIMAL(38) lane.
    *
    * Shape at scale: training is [[kmeansCentroidsQ]] (driver-round Lloyd,
    * zero data-sized shuffle), scoring is ONE map pass over the vector
    * table (the k·(dim+1)-long centroid array broadcasts from a
    * LocalRelation), and the only shuffle is the k-row final aggregate.
    * Output: (cid, n, mean_s_ppm) — per-cluster mean simplified
    * silhouette in exact truncated ppm. */
  def silhouetteSimplified(vectors: DataFrame, k: Int, iters: Int,
                           dim: Int): DataFrame = {
    val qv = vectors.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val cents = kmeansCentroidsQ(qv, k, iters, dim)
    qv.withColumn("na", dotQ(col("qv"), col("qv")))
      .crossJoin(centsArray(cents))
      .select(nearestTwo(col("qv"), col("na"), col("cs")).as("m"))
      .select(col("m.cid").as("cid"),
        expr("""CASE WHEN m.d2 = 0 THEN 0
               |     ELSE (CAST(m.d2 - m.d1 AS DECIMAL(38,0)) * 1000000)
               |            div m.d2 END""".stripMargin).as("s_ppm"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"), sum("s_ppm").as("s_sum"))
      .select(col("cid"), col("n"),
        expr("s_sum div n").cast("long").as("mean_s_ppm"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, SemDeDup:
    * cluster embeddings, then prune near-duplicates WITHIN each cluster —
    * the cluster structure turns a corpus-quadratic pairwise scan into
    * k independent bucket-local ones).
    *
    *  1. train centroids with [[kmeansCentroids]] (deterministic Lloyd);
    *  2. assign every vector to its nearest centroid ([[assignToCentroids]]);
    *  3. self-join within cluster only (the shuffle key IS cid), exact
    *     quantized cosine per pair;
    *  4. drop policy = the engine-wide near-dup rule: for every pair with
    *     cos ≥ threshold, the larger vec_id is dropped (keep-min —
    *     identical to the LSH/corpus-clean stages, so pipelines can swap
    *     dedupers without changing survivors' identity semantics).
    *
    * Scale: step 3 is quadratic per CLUSTER, not per corpus — with k
    * clusters of n/k docs it is n²/k comparisons, and k grows with the
    * corpus (SemDeDup used 50k clusters for LAION-scale); clusters are
    * also independent partitions, so the join parallelizes on cid.
    *
    * Returns the SURVIVORS: (vec_id, cid), one row per kept vector. */
  def semDedup(vectors: DataFrame, k: Int, iters: Int, dim: Int,
               threshold: Double): DataFrame = {
    val cents = kmeansCentroids(vectors, k, iters, dim).select("cid", "cv")
    // the assignment is built ONCE (one job) before its THREE consumers
    // below run: the self-join's two sides and the survivor select. A lazy
    // cache() would be filled by both join sides' tasks at once, so a
    // partition could be assigned twice.
    val assigned = Materialize.cut(assignToCentroids(vectors, cents))
    val dropped = assigned.alias("a").join(assigned.alias("b"), Seq("cid"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .filter(cosQ(col("a.qv"), col("b.qv")) >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
    assigned.select("vec_id", "cid").join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Product-quantization ANN (Jégou, Douze, Schmid: "Product Quantization
    * for Nearest Neighbor Search", IEEE TPAMI 2011): split each vector into
    * `m` subspaces, train an independent [[kmeansCentroids]] codebook of
    * `ksub` centroids per subspace, ENCODE every vector as its m nearest
    * sub-centroid ids (m bytes-ish instead of dim doubles — the memory
    * compression that lets a 100 TB corpus's index live in RAM), and
    * answer queries by ASYMMETRIC DISTANCE (ADC): per query, precompute
    * the m×ksub table of exact integer |q_s − c_{s,j}|² distances, then a
    * vector's approximate distance is m table lookups summed — no vector
    * data touched at query time, just codes.
    *
    * Scale shape: training is m small independent Lloyd runs; encoding is
    * a broadcast-codebook map pass (zero shuffle, like
    * [[assignToCentroids]]); the query scan is codes ⨯ broadcast distance
    * tables — a pure map over the code table — followed by the per-query
    * top-k window. Everything integer-exact on the quantized grid, so the
    * result (including the ADC distances) is bit-identical in any engine.
    *
    * Returns (qid, rank, vec_id, adist): per query the k code-nearest
    * vectors, ties on adist broken by vec_id. Recall is approximate by
    * design (codes quantize); the oracle replicates the algorithm. */
  def pqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
             m: Int = 4, ksub: Int = 8, iters: Int = 2,
             dim: Int = 64): DataFrame = {
    require(m > 0 && dim % m == 0, s"bad pq m=$m dim=$dim")
    val sub = dim / m
    // ONE frame of every subspace slice (grp = subspace id): quantize once,
    // slice per subspace — quantize is elementwise, so slice(quantize(v))
    // equals the former quantize(slice(v)) exactly. All m codebooks then
    // train as ONE Lloyd run (a group per subspace) and all m encoders run
    // as ONE assignment pass (guide §2.4: operations keyed the same way
    // share exchanges) — formerly m separate checkpointed chains whose
    // per-job overhead dominated the gate (q116: 46 jobs → ~1/m of that)
    // and whose m scans per round dominate at corpus scale.
    def sliced(df: DataFrame, idOut: String): DataFrame =
      df.select(col("vec_id").as(idOut), quantize(col("embedding")).as("qv0"))
        .select(col(idOut), posexplode(array((0 until m).map(s =>
          slice(col("qv0"), s * sub + 1, sub)): _*)).as(Seq("grp", "qv")))
    val subQ = sliced(vectors, "vec_id")
    // Codebooks live on the DRIVER as control rows (m×ksub×sub longs —
    // tiny at any corpus size): training is the driver-round Lloyd with
    // one group per subspace (one job per round), and both consumers —
    // the encoder and the ADC tables — read them as literals / a
    // LocalRelation, so no training lineage is ever re-planned or
    // re-executed downstream.
    val booksC = lloydDriverQ(subQ, ksub, iters, sub)
    val books = centsFrame(vectors.sparkSession, booksC)
      .select(col("grp").as("s"), col("cid"), col("cv"))
    // codes: one row per vector, array of m sub-centroid ids (s-ordered)
    val codes = assignLit(subQ, booksC)
      .select(col("vec_id"), col("grp").as("s"), col("cid"))
      .groupBy("vec_id")
      .agg(transform(sort_array(collect_list(struct(col("s"), col("cid")))),
        p => p.getField("cid")).as("codes"))
    // per-query ADC tables: dt[s+1][j+1] = |q_s − c_{s,j}|², exact ints
    val dte = sliced(queries, "qid")
      .select(col("qid"), col("grp").as("s"), col("qv").as("qq"))
      .join(books, Seq("s"))
      .withColumn("d",
        dotQ(col("qq"), col("qq")) - lit(2L) * dotQ(col("qq"), col("cv")) +
          dotQ(col("cv"), col("cv")))
    val dt = dte.groupBy("qid", "s")
      .agg(transform(sort_array(collect_list(struct(col("cid"), col("d")))),
        p => p.getField("d")).as("ds"))
      .groupBy("qid")
      .agg(transform(sort_array(collect_list(struct(col("s"), col("ds")))),
        p => p.getField("ds")).as("dt"))
    val wTop = Window.partitionBy("qid").orderBy(col("adist").asc, col("vec_id"))
    codes.crossJoin(broadcast(dt))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("adist", expr(
        s"aggregate(sequence(0, ${m - 1}), 0L, (acc, s) -> " +
          "acc + element_at(element_at(dt, s + 1), CAST(element_at(codes, s + 1) AS INT) + 1))"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "adist")
  }

  /** IVF-PQ with RESIDUAL quantization — the FAISS IVFADC composition
    * (Jégou et al. 2011 §IV: coarse quantizer + product-quantized
    * residuals), i.e. the index structure actually deployed for
    * billion-vector corpora: [[ivfTopK]] alone still scans raw vectors in
    * probed lists, [[pqTopK]] alone scans every code; this probes
    * `nprobe`/`nlist` of the corpus AND touches only m-byte codes there.
    *
    *  1. coarse: [[kmeansCentroidsQ]] (nlist lists, exact-integer Lloyd);
    *  2. residual r = v − c(v) — EXACT long subtraction on the quantized
    *     grid (no re-quantization, hence the Q variants);
    *  3. m sub-codebooks trained on residual slices; codes = per-vector
    *     m sub-centroid ids (broadcast-fold assignment, zero shuffle);
    *  4. query: probe the nprobe L2-nearest coarse lists; per probed
    *     list, the query RESIDUAL q − c builds the m×ksub ADC table;
    *     candidate distance = m lookups summed — exact integers end to
    *     end, so results are bit-identical in any engine.
    *
    * Scale shape: training touches vectors once per Lloyd round; encoding
    * is a broadcast map pass; the query scan is codes ⋈ broadcast ADC
    * rows on (list, subspace, code) — map-side join, partial-aggregated
    * sum, then the per-query top-k. Nothing vector-sized shuffles at
    * query time.
    *
    * Returns (qid, rank, vec_id, adist), ties on adist broken by vec_id;
    * recall approximate by design — [[annRecall]] measures it, the q224
    * oracle replays the algorithm. */
  def ivfpqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                nlist: Int = 4, nprobe: Int = 2, m: Int = 4, ksub: Int = 8,
                iters: Int = 2, dim: Int = 64): DataFrame = {
    require(m > 0 && dim % m == 0, s"bad ivfpq m=$m dim=$dim")
    require(nprobe > 0 && nprobe <= nlist, s"bad ivfpq nprobe=$nprobe nlist=$nlist")
    val sub = dim / m
    val qvAll = vectors.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    // Composition discipline: coarse centroids and residual codebooks are
    // DRIVER control rows (nlist·dim and m·ksub·sub longs — parameter-
    // sized), so the nested Lloyd lineages that used to stack into one
    // plan Catalyst re-optimized per consumer (22 s at sf0.1 with lazy
    // caches; 37 jobs with per-round broadcasts) are gone: every
    // downstream stage reads them as literals. Only the corpus-sized
    // residual table still materializes via Materialize.cut (one job).
    val coarse = lloydDriverQ(oneGroup(qvAll), nlist, iters, dim)
    // coarse assignment + exact residual per vector, both against the
    // literal centroid array (cids are 0..nlist-1 by the seed rule, so
    // the centroid vector is an element_at lookup — no join at all)
    val coarseC = coarse(0).sortBy(_.cid)
    val coarseCvs: Seq[Seq[Long]] = coarseC.map(_.cv.toSeq)
    val resid = Materialize.cut(assignLit(oneGroup(qvAll), coarse)
      .select(col("cid"), col("vec_id"),
        zip_with(col("qv"),
          element_at(typedLit(coarseCvs), col("cid") + lit(1)),
          (a, b) => a - b).as("rv")))
    // ONE frame of every residual slice (grp = subspace id): all m
    // residual codebooks train in ONE driver-round Lloyd and all m
    // encoders run as ONE literal-fold assignment pass (guide §2.4).
    val rsliced = resid.select(col("vec_id"),
        posexplode(array((0 until m).map(s =>
          slice(col("rv"), s * sub + 1, sub)): _*)).as(Seq("grp", "qv")))
    val booksC = lloydDriverQ(rsliced, ksub, iters, sub)
    val books = centsFrame(vectors.sparkSession, booksC)
      .select(col("grp").as("s"), col("cid").as("scid"), col("cv"))
    // flat code rows (coarse list, subspace, sub-centroid id) per vector
    val codes = assignLit(rsliced, booksC)
      .select(col("vec_id"), col("grp").as("s"), col("cid").as("scid"))
      .join(resid.select("vec_id", "cid"), Seq("vec_id"))
    // probe the nprobe exact-L2-nearest coarse lists per query — ranked by
    // a per-row fold over the LITERAL centroid array, NOT a window: the
    // former row_number form shuffled the query vectors through its
    // partitionBy(qid) exchange (caught by PlanContractSpec's
    // no-array-type-crosses-a-shuffle pin; same (cdist asc, cid asc) tie
    // rule via the struct field order, so results are bit-identical)
    val q = queries.select(col("vec_id").as("qid"), quantize(col("embedding")).as("qq"))
    val centsArr = array(coarseC.map(c =>
      struct(lit(c.cid).as("cid"), typedLit(c.cv.toSeq).as("cv"))): _*)
    val probes = q
      .select(col("qid"), col("qq"), explode(slice(array_sort(
        transform(centsArr, c => struct(
          (dotQ(col("qq"), col("qq")) -
            lit(2L) * dotQ(col("qq"), c.getField("cv")) +
            dotQ(c.getField("cv"), c.getField("cv"))).as("cdist"),
          c.getField("cid").as("cid"), c.getField("cv").as("cv")))),
        1, nprobe)).as("p"))
      .select(col("qid"), col("p.cid").as("cid"),
        zip_with(col("qq"), col("p.cv"), (a, b) => a - b).as("qr"))
    // ADC rows: per (query, probed list, subspace, sub-centroid) the exact
    // |query-residual-slice − sub-centroid|² — qid×nprobe×m×ksub rows,
    // broadcastable at any corpus size (independent of |vectors|)
    val dte = (0 until m).map { s =>
        probes.select(col("qid"), col("cid"), lit(s).as("s"),
          slice(col("qr"), s * sub + 1, sub).as("qrs"))
      }
      .reduce(_ union _)
      .join(broadcast(books), Seq("s"))
      .withColumn("d",
        dotQ(col("qrs"), col("qrs")) - lit(2L) * dotQ(col("qrs"), col("cv")) +
          dotQ(col("cv"), col("cv")))
      .select("qid", "cid", "s", "scid", "d")
    val wTop = Window.partitionBy("qid").orderBy(col("adist").asc, col("vec_id"))
    codes.join(broadcast(dte), Seq("cid", "s", "scid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy("qid", "vec_id")
      .agg(sum("d").as("adist"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "adist")
  }

  /** MMR diversified re-ranking (Carbonell & Goldstein, SIGIR'98) — the
    * stage after retrieval: from each query's candidate list, greedily
    * select `kOut` items maximizing
    * `λ·relevance − (1−λ)·max-similarity-to-already-selected`, so the
    * result is relevant AND non-redundant (a dedup-adjacent contract:
    * near-identical top hits collapse to one representative).
    *
    * All scoring is exact integer micro-units: relevance =
    * `floor(10⁶·cos(query, cand))` (the engine-wide cosine), pairwise
    * candidate similarity likewise, and the MMR score
    * `λn·rel − (λd−λn)·maxsim` stays in Long. The greedy loop runs as a
    * partition-local batch kernel per query (`flatMapGroups` — the
    * candidate list is small by contract; retrieval already bounded it),
    * so nothing quadratic ever leaves an executor. Ties break by
    * vec_id, making the selection bit-reproducible; the q236 oracle
    * unrolls the greedy rounds in SQL.
    *
    * Returns (qid, pos, vec_id, score_micro): pos = selection order
    * (1-based), score_micro = the MMR objective at selection time
    * (pos 1 carries λn·rel — no diversity term yet). */
  def mmrRerank(vectors: DataFrame, queries: DataFrame, kCand: Int, kOut: Int,
                lambdaNum: Long = 7, lambdaDen: Long = 10): DataFrame = {
    require(kOut > 0 && kOut <= kCand, s"bad mmr k=$kOut cand=$kCand")
    require(lambdaNum >= 0 && lambdaNum <= lambdaDen && lambdaDen > 0,
      s"bad mmr lambda $lambdaNum/$lambdaDen")
    val spark = vectors.sparkSession
    import spark.implicits._
    val qv = vectors.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val cands = bruteTopK(vectors, queries, kCand)
      .select(col("qid"), col("vec_id"),
        floor(col("cos") * 1e6).cast("long").as("rel_micro"))
      .join(qv, Seq("vec_id"))
      .select(col("qid"), col("vec_id"), col("rel_micro"), col("qv"))
      .as[(Long, Long, Long, Array[Long])]
    cands.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cs = it.toArray.sortBy(_._2) // vec_id order: deterministic base
      def cosMicro(a: Array[Long], b: Array[Long]): Long = {
        var dot = 0L; var na = 0L; var nb = 0L
        var i = 0
        while (i < a.length) {
          dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        math.floor(1e6 * (dot.toDouble /
          (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)))).toLong
      }
      val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
      var pos = 1
      while (pos <= math.min(kOut, cs.length)) {
        var bestIdx = -1
        var bestScore = Long.MinValue
        var i = 0
        while (i < cs.length) {
          if (!selected.contains(i)) {
            val maxSim = if (selected.isEmpty) 0L
              else selected.map(j => cosMicro(cs(i)._4, cs(j)._4)).max
            val score = lambdaNum * cs(i)._3 - (lambdaDen - lambdaNum) * maxSim
            // strict >: on ties the smaller vec_id (earlier in the
            // vec_id-sorted array) wins
            if (score > bestScore) { bestScore = score; bestIdx = i }
          }
          i += 1
        }
        selected += bestIdx
        out += ((qid, pos, cs(bestIdx)._2, bestScore))
        pos += 1
      }
      out.iterator
    }.toDF("qid", "pos", "vec_id", "score_micro")
  }

  /** Binary (1-bit) embedding quantization + Hamming-candidate retrieval
    * with exact rerank — the 32×-compression retrieval pattern modern
    * embedding APIs ship (sign bit per dimension; Hamming distance as
    * the cheap first pass, exact cosine reranking the short candidate
    * list). 64 dims pack into four 16-bit blocks (the q32/q220 device:
    * a packed 64-bit code goes negative at bit 63 and signed-shift
    * semantics diverge across engines).
    *
    * Retrieval: per query, the `cand` Hamming-nearest codes (ties by
    * vec_id) form the candidate list — a pure map scan over codes, XOR +
    * bit_count per row, no vector data touched — then exact quantized
    * cosine reranks candidates to the final top-k. Recall is approximate
    * by design (sign bits quantize hard); the q242 oracle replays both
    * stages bit-for-bit.
    *
    * Returns (qid, rank, vec_id, hamming, cos). */
  def binaryTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                 cand: Int = 50, dim: Int = 64): DataFrame = {
    require(k > 0 && cand >= k, s"bad binary topk k=$k cand=$cand")
    require(dim % 16 == 0, s"dim $dim must pack into 16-bit blocks")
    val nb = dim / 16
    def blocks(qv: Column, prefix: String): Seq[Column] =
      (0 until nb).map(b => aggregate(
        transform(sequence(lit(0), lit(15)),
          j => when(element_at(qv, lit(b * 16) + j + 1) > 0,
            pow(lit(2), j).cast("int")).otherwise(lit(0))),
        lit(0), (acc, x) => acc + x).as(s"$prefix$b"))
    val v = vectors.select(col("vec_id") +: quantize(col("embedding")).as("qv") +: Nil: _*)
      .select(col("vec_id"), col("qv"))
    val corpus = v.select(col("vec_id") +: col("qv") +: blocks(col("qv"), "b"): _*)
    val q = queries.select(col("vec_id").as("qid"), quantize(col("embedding")).as("qq"))
      .select(col("qid") +: col("qq") +: blocks(col("qq"), "qb"): _*)
    val ham = (0 until nb).map(b =>
      expr(s"bit_count(b$b ^ qb$b)")).reduce(_ + _)
    val wHam = Window.partitionBy("qid").orderBy(col("hamming").asc, col("vec_id"))
    val wCos = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    corpus.join(broadcast(q), col("qid") =!= col("vec_id"))
      .withColumn("hamming", ham.cast("int"))
      .withColumn("hrank", row_number().over(wHam))
      .filter(col("hrank") <= cand)
      .withColumn("cos", cosQ(col("qq"), col("qv")))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "hamming", "cos")
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * 4×-compression step before shipping vectors to an ANN index or a
    * GPU: per-vector scale m = max|component|, q8ᵢ = round(xᵢ·127/m)
    * ∈ [-127, 127].
    *
    * All arithmetic stays in the exact integer domain (inputs are the
    * ×1e7-quantized longs): the rounding is the integer identity
    * round(p/q) = (2p+q) div 2q for p,q > 0, applied to |value| and
    * re-signed — bit-identical on every engine, no float division. The
    * returned `cos8` (cosine between the vector and its int8 form;
    * scale-invariant, so the dequantization step cancels) is the
    * reconstruction-quality metric pipelines gate on.
    *
    * Each derived column is staged through its own projection — the HOF
    * lambdas must see bound attributes, not each other's subtrees (the
    * inlining trap measured at 76 s vs 3 s on the LSH chain). */
  def int8Quantize(vectors: DataFrame): DataFrame =
    vectors
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("m", array_max(transform(col("qv"), x => abs(x))))
      // SQL `div` = exact integer division (the Scala Column `/` would go
      // through double); sign(x) re-signs the |x|-domain rounding;
      // greatest(m,1) keeps the all-zero vector (m=0) at q8=0 instead of
      // a division by zero
      .withColumn("q8", expr(
        "transform(qv, x -> CAST(sign(x) AS BIGINT) * " +
          "((2 * abs(x) * 127 + greatest(m, 1)) div (2 * greatest(m, 1))))"))
      .select(col("vec_id"), col("m"),
        aggregate(col("q8"), lit(0L),
          (acc, x) => acc + when(x =!= 0L, 1L).otherwise(0L)).as("nnz8"),
        aggregate(col("q8"), lit(0L), (acc, x) => acc + x).as("sum_q8"),
        cosQ(col("qv"), col("q8")).as("cos8"))

  /** Embedding near-duplicate pairs via random-hyperplane LSH: sign bit per
    * (broadcast) hyperplane → bucket key → bucket-join (NO all-pairs) →
    * exact cosine verify ≥ threshold. Vectors with cosine 1.0 always share
    * a bucket; high-cosine pairs shard out with probability (1-θ/π)^planes. */
  def lshNearDup(vectors: DataFrame, hyperplanes: DataFrame,
                 threshold: Double): DataFrame = {
    val planes = broadcast(hyperplanes
      .select(col("vec_id").as("pid"), quantize(col("embedding")).as("pv")))
    val sigs = vectors
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .crossJoin(planes)
      .withColumn("bit", when(dotQ(col("qv"), col("pv")) > 0, lit(1)).otherwise(lit(0)))
      .groupBy("vec_id")
      // bucket key = the sign bits concatenated in plane order (string key:
      // no arithmetic, order pinned by sort_array over (pid, bit))
      .agg(
        concat_ws("", transform(
          sort_array(collect_list(struct(col("pid"), col("bit")))),
          s => s.getField("bit").cast("string"))).as("bucket"),
        first(col("qv")).as("qv"))
    sigs.alias("a").join(sigs.alias("b"), Seq("bucket"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosQ(col("a.qv"), col("b.qv")))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"), col("cos"))
  }

  /** Top principal direction of the embedding cloud by POWER ITERATION in
    * EXACT integer arithmetic — the first step of every embedding-space
    * whitening / spectral-diagnostic pass, kept oracle-checkable:
    *
    *  1. quantize components (round(x·1e7) longs) and center each
    *     dimension at its truncated integer mean;
    *  2. iterate v ← Yᵀ(Y·v), renormalizing each round to max-abs 1000 by
    *     truncating integer division — the float-free stand-in for unit
    *     norm. Truncation loses <0.1% per round, irrelevant for a
    *     direction estimate and IDENTICAL in every engine (both Spark
    *     `div` and the oracle's `//` truncate toward zero).
    *
    * Per round: the Y·v dot is a codegen'd zip_with/aggregate fold per
    * row (≤64·2e7·1000 ≈ 10¹², exact in long); the Yᵀ gather is one
    * posexplode + (dim)-grouped sum in DECIMAL(38,0) (terms reach
    * n·2e7·10¹² ≈ 10²³ at 100× scale — past 2⁶³, inside 38 digits). The
    * driver collects only the 64-long direction between rounds to bind
    * it as the next literal (the BPE/k-means steering pattern — control,
    * not data). Output: (dim, comp), dim 0-based, max |comp| = 1000.
    *
    * `iters` is a FIXED unroll count, not convergence-tested: every
    * engine must run the same arithmetic. 3 rounds separate the top
    * eigenvector whenever the spectral gap is modest (λ₂/λ₁ ≤ 0.9 →
    * residual ≤ 0.73); for a direction ESTIMATE that is plenty, and the
    * output is well-defined either way. */
  def topDirection(vectors: DataFrame, dim: Int, iters: Int = 3,
                   embCol: String = "embedding"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val x = vectors.select(quantize(col(embCol)).as("xc"))
    val u = x.select(posexplode(col("xc")).as(Seq("j", "v")))
    val means: Array[Long] = u.groupBy("j")
      .agg(sum("v").as("s"), count(lit(1)).as("cnt"))
      .select(col("j"), expr("s div cnt").as("m"))
      .orderBy("j").collect().map(r => r.getLong(1))
    require(means.length == dim, s"expected $dim dims, got ${means.length}")
    val mlit = array(means.toIndexedSeq.map(lit(_)): _*)
    // sever: every round rescans Y, not its lineage
    val y = Materialize.cut(x.select(zip_with(col("xc"), mlit, (a, b) => a - b).as("y")))
    def round(v: Array[Long]): DataFrame = {
      val vlit = array(v.toIndexedSeq.map(lit(_)): _*)
      y.select(col("y"),
          aggregate(zip_with(col("y"), vlit, (a, b) => a * b),
            lit(0L), (acc, t) => acc + t).as("dot"))
        .select(posexplode(col("y")).as(Seq("j", "yj")), col("dot"))
        .groupBy("j").agg(sum(dec(col("yj")) * dec(col("dot"))).as("w"))
    }
    def renorm(w: DataFrame): DataFrame =
      w.crossJoin(broadcast(w.agg(max(abs(col("w"))).as("mx"))))
        // degenerate cloud (all-zero gather): keep the zero vector rather
        // than tripping ANSI div-by-zero — same CASE in the oracle
        .select(col("j"),
          expr("CASE WHEN mx = 0 THEN CAST(0 AS BIGINT) ELSE (w * 1000) div mx END")
            .as("comp"))
    var v = Array.tabulate(dim)(j => if (j == 0) 1000L else 0L)
    for (_ <- 1 until iters)
      v = renorm(round(v)).orderBy("j").collect().map(_.getLong(1))
    renorm(round(v))
      .select(col("j").cast("long").as("dim"), col("comp"))
      .orderBy("dim")
  }

  /** Gonzalez farthest-point traversal (k-center seeding, Gonzalez 1985;
    * the deterministic cousin of k-means++): seed 0 is the smallest id,
    * each next seed is the vector MAXIMIZING its min squared distance to
    * the seeds picked so far (tie → smallest id). The classic 2-approx
    * cover seeding for IVF/PQ codebooks — unlike Lloyd it needs no
    * iteration-to-convergence and its output is order-free.
    *
    * Exact integers end to end: quantized components, d² via the zip_with
    * fold (≤ 2³⁰ per term · dims, far under 2⁶³). Each round is ONE scan
    * computing least-of-s distances against BROADCAST seed literals (no
    * join, no shuffle — the q60 centroid-fold shape), and the argmax is a
    * 1-row driver steering scalar (the kmeans/BPE control class). Work is
    * k scans of the corpus; the k·k seed-literal rebuild is O(k²·dim)
    * driver arithmetic. Output: (seed_rank, id, mind2) — mind2 is the
    * picked vector's covering radius at pick time (0 for seed 0). */
  def kcenterSeeds(vectors: DataFrame, k: Int, embCol: String = "embedding",
                   idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, s"bad k=$k")
    val spark = vectors.sparkSession
    import spark.implicits._
    // k scans of the quantized table, not its lineage
    val x = Materialize.cut(vectors
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("xc")))
    def vecOf(id: Long): IndexedSeq[Long] =
      x.filter(col("id") === id).select("xc").head().getSeq[Long](0).toIndexedSeq
    val firstId = x.agg(min("id")).head().getLong(0)
    var picked = Vector((firstId, 0L))
    for (_ <- 1 until k) {
      val dists = picked.map { case (sid, _) =>
        val sLit = array(vecOf(sid).map(lit(_)): _*)
        aggregate(zip_with(col("xc"), sLit, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, t) => acc + t)
      }
      val mind = dists.reduce(least(_, _))
      val r = x.select(col("id"), mind.as("mind2"))
        .agg(max_by(struct(col("id"), col("mind2")),
          struct(col("mind2"), (-col("id")).as("ni"))).as("b"))
        .select("b.id", "b.mind2").head()
      picked :+= ((r.getLong(0), r.getLong(1)))
    }
    picked.zipWithIndex
      .map { case ((id, d2), i) => (i, id, d2) }
      .toDF("seed_rank", idCol, "mind2")
  }
}
