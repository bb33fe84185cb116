package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.Materialize

/** Dataset profiling — the "what is in this table" pass every ingestion
  * pipeline runs before trusting 100 TB of new parquet: per-column row /
  * null / distinct counts and value ranges, computed in ONE aggregation
  * over the data.
  *
  * Shape matters at scale: profiling k columns as k separate queries scans
  * the table k times. This runs exactly TWO aggregations (and the
  * per-column result rows are unpivoted driver-free from the joined
  * 1-row results):
  *
  *  1. counts + min/max — a global fold with no grouping key;
  *  2. the `count(DISTINCT …)` measures — Spark's multi-distinct Expand
  *     (k× row multiplication) into a partial/final aggregate pair.
  *
  * They are deliberately NOT one `agg`: `min`/`max` over a STRING column
  * have a non-fixed-width aggregation buffer, which disqualifies
  * HashAggregate, and one aggregate node is all-or-nothing — mixing them
  * with the distincts demoted the whole Expand plan to SortAggregate,
  * i.e. a full sort of k×N expanded rows on an (k cols + gid) key
  * (measured: 12-40 s at sf0.1 with GC-bound variance, vs 1.3 s split;
  * at 100 TB the expand-sort would spill catastrophically). Split, the
  * string min/max sit in a keyless fold (SortAggregate without grouping
  * needs NO Sort node) and the distinct pipeline keeps an all-long
  * buffer → HashAggregate end to end.
  */
object ProfileOps {

  /** Profile `cols` of `df` in one scan. Output: one row per column —
    * (col_name, n_nonnull, n_null, n_distinct, min_val, max_val), min/max
    * rendered as canonical strings (timestamps as "yyyy-MM-dd HH:mm:ss" in
    * the session zone, everything else via CAST) so heterogeneous column
    * types fit one schema. `n_distinct` counts non-null values. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    def fmt(c: Column, name: String): Column = types(name) match {
      // CAST(timestamp AS string) is engine-specific about fractional
      // seconds; pin the render format instead
      case TimestampType => date_format(c, "yyyy-MM-dd HH:mm:ss")
      case _ => c.cast("string")
    }
    val basicAggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__cnt"),
        min(col(c)).as(s"${c}__min"),
        max(col(c)).as(s"${c}__max"))
    } :+ count(lit(1)).as("__total")
    val ndAggs = cols.map(c => countDistinct(col(c)).as(s"${c}__nd"))
    // broadcast: both sides are single-row aggregates; without the hint
    // Spark has no stats for the agg output and plans a CartesianProduct
    // (harmless at 1×1 but outside the engine's no-cartesian contract)
    val row = df.agg(basicAggs.head, basicAggs.tail: _*)
      .crossJoin(broadcast(df.agg(ndAggs.head, ndAggs.tail: _*)))
    val entries = cols.map { c =>
      struct(lit(c).as("col_name"),
        col(s"${c}__cnt").as("n_nonnull"),
        (col("__total") - col(s"${c}__cnt")).as("n_null"),
        col(s"${c}__nd").as("n_distinct"),
        fmt(col(s"${c}__min"), c).as("min_val"),
        fmt(col(s"${c}__max"), c).as("max_val"))
    }
    row.select(explode(array(entries: _*)).as("p")).select("p.*")
  }

  /** 2-D skyline (Pareto front): the distinct (cost, gain) points not
    * strictly dominated by any other point — dominated means another
    * point is ≤ on cost AND ≥ on gain with at least one strict. The
    * classic quadratic formulation is a NOT EXISTS inequality self-join
    * (the oracle runs exactly that); at scale this instead SORTS once by
    * (cost asc, gain desc) and keeps a point iff its gain strictly
    * exceeds the running max of everything cheaper — one shuffle
    * (the sort), one window, O(n log n), no self-join. The two are
    * equivalent because under that order every potential dominator of a
    * row precedes it.
    *
    * Input rows are first collapsed to distinct coordinates with a
    * multiplicity count (identical points never dominate each other, so
    * they survive or fall together). Output: (cost, gain, n_rows). */
  def skyline(df: DataFrame, costCol: String, gainCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = df.groupBy(col(costCol).as("cost"), col(gainCol).as("gain"))
      .agg(count(lit(1)).as("n_rows"))
    // single global window: the skyline fold is inherently sequential in
    // the sorted order. The sort itself is distributed (range exchange);
    // only the streaming max-scan is single-partition — n distinct
    // coordinates after the groupBy collapse, not n rows. For truly
    // massive coordinate domains, partition by a cost-range prefix and
    // stitch (documented trade; not needed at gate scale).
    val w = Window.orderBy(col("cost").asc, col("gain").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts
      .withColumn("best_prev", max(col("gain")).over(w))
      .filter(col("best_prev").isNull || col("gain") > col("best_prev"))
      .select("cost", "gain", "n_rows")
  }

  /** Quantile normalization: remap every row's value onto the GLOBAL
    * value distribution at the same within-group rank — the
    * cross-source score-calibration step (per-language length norms,
    * per-domain quality scores) that makes thresholds comparable across
    * heterogeneous corpus slices. Row with rank r of n_g in its group
    * maps to the ⌈r·N/n_g⌉-th smallest global value (exact integer
    * ceil; r = row_number ordered by (value, id), so ties and the
    * target rank are engine-reproducible).
    *
    * Scale shape — the global order statistic WITHOUT a global window:
    * (a) per-group ranks partition by the group key; (b) the global
    * distribution is collapsed to (distinct value → count) and
    * cumulated over the REDUCED distinct-value domain (the q13/skyline
    * trade, documented there); (c) each row's target rank t is located
    * in the cumulative table by [[RangeJoinOps.bucketRangeJoin]] — an
    * equi-join on rank buckets, not a sort — so the big side never
    * globally sorts or broadcasts. Output: (id, group, value, q_value). */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
                        idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = df.select(col(idCol), col(groupCol), col(valueCol).cast("long").as("v"))
    val perGroup = Window.partitionBy(col(groupCol))
    val r = rows
      .withColumn("r", row_number().over(
        perGroup.orderBy(col("v"), col(idCol))).cast("long"))
      .withColumn("n_g", count(lit(1)).over(perGroup))
    // cumulative rank span per distinct global value: value v covers
    // target ranks (cum_end - cnt, cum_end]
    // PrefixSum (round-15): the cum_end window used to be a global
    // single-partition cumsum over the distinct-value domain; the
    // bucket-parallel form is value-identical, and its localCheckpoint
    // replaces the .cache() this site held (same multi-consumer
    // materialization, self-cleaning instead of CacheManager-pinned).
    val cum = PrefixSum.runningSums(
        rows.groupBy(col("v").as("qv")).agg(count(lit(1)).as("cnt")),
        "qv", Seq("cnt" -> "cum_end"))
      .select(col("qv"), (col("cum_end") - col("cnt")).as("lo"), col("cum_end").as("hi"))
    // ADAPTIVE bucket width = the average span width N/|distinct| — a
    // fixed width over the rank domain [1, N] is a scale bug: span widths
    // grow ∝ N (counts grow, the value domain doesn't), so a constant W
    // explodes each span into ∝N bucket copies (measured: 4.9× wall at
    // 10× data before this fix). At W ≈ N/|d| the expansion is ≤ 2|d|
    // rows and each point meets ~2 candidate spans AT ANY SCALE. The two
    // driver-side scalars are a count + max over the already-cached
    // REDUCED domain — tiny control reads, not data movement.
    val nd = cum.count()
    val nTotal = if (nd == 0) 0L else cum.agg(max(col("hi"))).head.getLong(0)
    val withT = r
      .withColumn("t", expr(s"(r * $nTotal + n_g - 1) div n_g"))
    // t ∈ (lo, hi] ⟺ t−1 ∈ [lo, hi) — bucketRangeJoin's half-open form
    RangeJoinOps.bucketRangeJoin(
        withT.withColumn("t0", col("t") - 1L), "t0", cum, "lo", "hi",
        bucketWidth = math.max(1L, nTotal / math.max(1L, nd)))
      .select(col(idCol), col(groupCol), col("v").as(valueCol), col("qv").as(s"q_$valueCol"))
  }

  /** Fixed-range equi-width histogram of a numeric column: `nb` buckets
    * over [lo, hi), everything below lo clamps into bucket 0, everything
    * at/above hi into bucket nb−1 (the open-ended edge buckets real
    * profilers use). One scan, one tiny aggregate — the bucket index is
    * pure row-local arithmetic, so this is a map-side-combined groupBy
    * on ≤ nb keys regardless of input size. Sums are emitted in ×100
    * integer cents (the engine-portable micro-unit idiom): a float sum
    * over shuffled partitions is order-dependent, an integer sum is not.
    * Output: (bucket, lo_edge, n, sum_c), only non-empty buckets. */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
                nb: Int): DataFrame = {
    require(nb > 0 && hi > lo, s"bad histogram spec [$lo,$hi)/$nb")
    val width = (hi - lo) / nb
    val bucket = least(greatest(
      floor((col(valueCol) - lo) / width).cast("long"), lit(0L)), lit(nb - 1L))
    df.select(bucket.as("bucket"),
        round(col(valueCol) * 100).cast("long").as("v_c"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("v_c").as("sum_c"))
      .select(col("bucket"), (lit(lo) + col("bucket") * width).as("lo_edge"),
        col("n"), col("sum_c"))
  }

  /** Per-group simple (one-variable) least-squares fit in EXACT integer
    * arithmetic — trend detection over grouped series (is this event
    * type's value drifting up?) without a single float until the
    * boundary. The closed forms need only four sums:
    *
    *   slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)
    *
    * Numerators and the shared denominator are computed in DECIMAL(38,0)
    * (n·Σxy at 10⁵ rows/group × day-scale x × cent-scale y crosses 2⁶³ —
    * the q119 overflow lesson, applied before the harness catches it)
    * and emitted in exact micro-units via `(10⁶·num) div den` — integer
    * division truncating toward zero in BOTH engines. Groups with a
    * degenerate design (all x equal → den = 0) are dropped, stated in
    * the contract, rather than divided by zero under ANSI.
    *
    * Shape: ONE map-side-combined aggregate to |groups| rows; the
    * arithmetic after it is per-group scalar math. No window, no join. */
  def olsFit(df: DataFrame, groupCol: String, xCol: String,
             yCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val sums = df
      .select(col(groupCol), dec(col(xCol)).as("x"), dec(col(yCol)).as("y"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
    sums
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .filter(col("den") =!= lit(0))
      .withColumn("s_num", (col("n") * col("sxy") - col("sx") * col("sy")) * 1000000L)
      .withColumn("i_num", (col("sy") * col("sxx") - col("sx") * col("sxy")) * 1000000L)
      .select(col(groupCol), col("n").cast("long").as("n"),
        expr("s_num div den").cast("long").as("slope_micro"),
        expr("i_num div den").cast("long").as("intercept_micro"))
  }

  /** EQUI-DEPTH histogram — `nb` buckets each holding ~N/nb rows, bucket
    * edges at the exact order statistics — the complement of
    * [[histogram]]'s fixed-width form (equi-width collapses under skew:
    * one hot bucket, the rest empty; equi-depth IS the quantile sketch
    * made exact). Bucket b (0-based) holds global ranks
    * (b·N div nb, (b+1)·N div nb], ranks ordered by (value, id) so ties
    * split deterministically and every engine agrees.
    *
    * NO GLOBAL SORT: like [[quantileNormalize]], the value domain is
    * first collapsed to distinct values with counts (map-side-combined),
    * the cumulative rank span of each distinct value is a window over
    * that REDUCED domain, and each bucket edge (an order statistic at
    * rank t) is located by a bucket range join of the 2·nb edge ranks
    * against the spans. The full table is touched exactly once.
    * Edge-rank lookup ignores the id tie-break — an order statistic at
    * rank t has a well-defined VALUE regardless of how ties are indexed.
    *
    * Output: (bucket, lo_v, hi_v, n) — lo_v/hi_v the min/max VALUE in
    * the bucket, n its exact row count; empty buckets (nb > N) omitted. */
  def equidepthHistogram(df: DataFrame, valueCol: String,
                         nb: Int): DataFrame = {
    require(nb > 0, s"bad bucket count $nb")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val vals = df.select(col(valueCol).cast("long").as("v"))
    // reduced domain: one row per distinct value, its global rank span
    val cum = vals.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum_end", sum(col("cnt")).over(
        Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("v"), (col("cum_end") - col("cnt")).as("span_lo"),
        col("cum_end").as("span_hi"))
      .cache()
    // adaptive bucket width — see [[quantileNormalize]]: W ≈ N/|distinct|
    // (the average span width) keeps the bucket expansion ≤ 2|d| and the
    // per-edge candidate count ~2 at any scale; a constant W explodes
    // spans ∝ N because span widths grow with row counts
    val nd = cum.count()
    val nTotal = if (nd == 0) 0L else cum.agg(max(col("span_hi"))).head.getLong(0)
    // 2·nb edge ranks: bucket b needs order statistics at lo = b·N/nb+1
    // and hi = (b+1)·N/nb  (empty buckets — hi < lo — drop here)
    val edges = spark.range(nb.toLong).toDF("bucket")
      .select(col("bucket"),
        (expr(s"(bucket * $nTotal) div " + nb) + 1L).as("t_lo"),
        expr(s"((bucket + 1) * $nTotal) div " + nb).as("t_hi"))
      .filter(col("t_hi") >= col("t_lo"))
    val melted = edges.select(col("bucket"), lit("lo").as("which"),
        col("t_lo").as("t"), (col("t_hi") - col("t_lo") + 1L).as("n"))
      .unionByName(edges.select(col("bucket"), lit("hi").as("which"),
        col("t_hi").as("t"), (col("t_hi") - col("t_lo") + 1L).as("n")))
    // t ∈ (span_lo, span_hi] ⟺ t−1 ∈ [span_lo, span_hi)
    RangeJoinOps.bucketRangeJoin(
        melted.withColumn("t0", col("t") - 1L), "t0",
        cum, "span_lo", "span_hi",
        bucketWidth = math.max(1L, nTotal / math.max(1L, nd)))
      .groupBy(col("bucket"))
      .agg(min(when(col("which") === "lo", col("v"))).as("lo_v"),
        min(when(col("which") === "hi", col("v"))).as("hi_v"),
        min(col("n")).as("n"))
  }

  /** Calibration curve: bin rows into `nb` value-quantile bins and report
    * each bin's outcome rate in ppm — the reliability-diagram table every
    * score column (quality classifier, ranking score, risk model) gets
    * checked against ("is the outcome monotone in the score?").
    *
    * Bins are VALUE-quantiles on the reduced distinct-value domain: a
    * value lands in the bin of its tie-run's FIRST global rank
    * (lo_rank·nb div N), so tied rows always share a bin and no
    * row-level global sort exists anywhere — the only ordered pass is
    * the cumulative window over distinct values (the q160/q176
    * reduced-domain discipline). Ties can make bins uneven; that is the
    * honest semantics of quantile-binning a discrete score.
    * Output: (bin, n, lo_v, hi_v, outcomes, rate_ppm). */
  def calibrationBins(df: DataFrame, valueCol: String, outcomeCol: String,
                      nb: Int): DataFrame = {
    require(nb > 0, s"bad bin count $nb")
    import org.apache.spark.sql.expressions.Window
    // reduced domain, materialized once: it feeds both the total and the
    // cumulative window (localCheckpoint — one corpus scan, no unpersist
    // bookkeeping, ContextCleaner-reclaimed)
    val dom = Materialize.cut(df
      .select(col(valueCol).cast("long").as("v"),
        col(outcomeCol).cast("boolean").as("y"))
      .groupBy("v").agg(count(lit(1)).as("cnt"),
        sum(when(col("y"), 1L).otherwise(0L)).as("ys")))
    val cum = dom.withColumn("cum_end", sum(col("cnt")).over(
        Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.crossJoin(broadcast(dom.agg(sum(col("cnt")).as("n_total"))))
      .withColumn("bin", expr(s"((cum_end - cnt) * $nb) div n_total"))
      .groupBy("bin")
      .agg(sum("cnt").as("n"), min("v").as("lo_v"), max("v").as("hi_v"),
        sum("ys").as("outcomes"))
      .withColumn("rate_ppm", expr("(outcomes * 1000000) div n"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic in EXACT integers: the D
    * statistic max_x |F_a(x) − F_b(x)| is computed with the n_a·n_b
    * common denominator cleared — d_num = max_x |c_a(x)·n_b − c_b(x)·n_a|
    * over the merged value domain, so the comparison is integer-exact and
    * bit-identical across engines (the q119/q172 cleared-denominator
    * discipline; floats appear nowhere). The drift-detection primitive for
    * "did this feed's distribution move between snapshots?" gates.
    *
    * Shape: one aggregation to the distinct-value domain (per-group counts
    * per value), one cumulative window over that REDUCED domain (the
    * q160/q176 exception — never over rows), one argmax. Output one row:
    * (n_a, n_b, d_num, d_micro, at_v) with d_micro = d_num·10⁶ div
    * (n_a·n_b) and at_v the smallest value attaining the max (ties in the
    * argmax are broken by value for determinism). */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
             groupA: String, groupB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dom = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(valueCol).cast("long").as("v"),
        (col(groupCol) === groupA).as("isa"))
      .groupBy("v")
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb"))
    // PrefixSum (round-15): fa/fb used to be two global single-partition
    // cumsum windows over the distinct-value domain; the bucket-parallel
    // form is value-identical and checkpoints the domain itself (the
    // localCheckpoint this site used to place on `dom`).
    val cum = PrefixSum.runningSums(dom, "v", Seq("ca" -> "fa", "cb" -> "fb"))
    val gaps = cum
      .crossJoin(broadcast(cum.agg(sum("ca").as("na"), sum("cb").as("nb"))))
      .select(col("v"), col("na"), col("nb"),
        abs(col("fa") * col("nb") - col("fb") * col("na")).as("gap"))
    gaps
      // the argmax rides the same reduced domain: max_by with a (gap, −v)
      // tie-break = smallest value attaining the max, deterministic
      .agg(min("na").as("n_a"), min("nb").as("n_b"), max("gap").as("d_num"),
        max_by(col("v"), struct(col("gap"), (-col("v")).as("nv"))).as("at_v"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        expr("(d_num * 1000000) div (n_a * n_b)").as("d_micro"), col("at_v"))
  }

  /** Two-sample Mann–Whitney U (Wilcoxon rank-sum) in EXACT integers —
    * the nonparametric "did the distribution shift?" companion to
    * [[ksTest]], with the textbook tie handling: tied values take the
    * AVERAGE rank, which is fractional, so everything is carried in
    * DOUBLED rank units (2·avgrank = 2·cumBefore + t + 1, always an
    * integer). Emitted pieces, all exact:
    *  - u2_a = 2·U_A = Σ_v c_a(v)·(2·cumBefore(v)+t(v)+1) − n_a·(n_a+1)
    *  - t_ties = Σ_v (t³−t), the tie-correction mass
    *  - var12nn1 = 12·n·(n−1)·Var(U) = n_a·n_b·(n³−n − t_ties)
    *    (DECIMAL(38) lane — n³·n_a·n_b passes 2⁶³ around n ≈ 5·10⁴)
    *  - auc_ppm = the common-language effect size U_A/(n_a·n_b) in
    *    truncated ppm — u2_a·10⁶ div (2·n_a·n_b).
    * Shape: ONE aggregation to the distinct-value domain, one cumulative
    * window over that reduced domain (the q160/q202 exception), one
    * keyless fold. No row-level sort anywhere. */
  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String,
                  groupA: String, groupB: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val dom = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(valueCol).cast("long").as("v"),
        (col(groupCol) === groupA).as("isa"))
      .groupBy("v")
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb"))
      .withColumn("t", col("ca") + col("cb"))
    val cum = dom.withColumn("cum_end", sum(col("t")).over(
      Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.agg(
        sum("ca").as("n_a"), sum("cb").as("n_b"),
        sum(col("ca") * (lit(2) * (col("cum_end") - col("t")) + col("t") + 1))
          .as("r2_a"),
        sum(col("t") * col("t") * col("t") - col("t")).as("t_ties"))
      .select(col("n_a"), col("n_b"),
        (col("r2_a") - col("n_a") * (col("n_a") + 1)).as("u2_a"), col("t_ties"))
      .withColumn("n", col("n_a") + col("n_b"))
      .select(col("n_a"), col("n_b"), col("u2_a"), col("t_ties"),
        // the product lives in a DECIMAL(38) lane; the ppm emission goes
        // through `div` (exact truncating integral quotient → BIGINT)
        ((dec(col("n_a")) * dec(col("n_b"))) *
          (dec(col("n")) * dec(col("n")) * dec(col("n"))
            - dec(col("n")) - dec(col("t_ties")))).as("var_lane"),
        // empty-arm guard: the q177/q133 discipline — a degenerate input
        // reports NULL instead of tripping ANSI DIVIDE_BY_ZERO
        expr("CASE WHEN n_a = 0 OR n_b = 0 THEN NULL" +
          " ELSE (u2_a * 1000000) div (2 * n_a * n_b) END").as("auc_ppm"))
      .select(col("n_a"), col("n_b"), col("u2_a"), col("t_ties"),
        // var12nn1·10⁻⁶ in ppm units keeps the emitted value in BIGINT
        // range at any realistic n (n³·n_a·n_b div 10⁶ ≤ 2⁶³ up to
        // n ≈ 10⁶ per side); the lane itself never rounds
        expr("var_lane div 1000000").as("var12nn1_micro"), col("auc_ppm"))
  }

  /** Kendall rank correlation, exact, via the CELL domain: with both
    * variables reduced to their (a, b) value cells, the concordant /
    * discordant pair masses are
    *   P = Σ_{a<a', b<b'} n·n',  Q = Σ_{a<a', b>b'} n·n'
    * — a pair join over |A|·|B| CELLS (bounded by the value domains,
    * never by rows: the O(n log n) merge-sort trick is pointless when
    * the domain is small, and the naive O(n²) row join would be a
    * scale-killer). Tie masses n1/n2 come from the per-value margins.
    * Emits tau-a in sign-safe truncated ppm — 2(P−Q)·10⁶ div (n(n−1)),
    * the sqrt-free variant (tau-b's denominator needs a square root, so
    * its exact pieces P, Q, ties_a, ties_b are emitted instead).
    * The cells table is tiny, so the inequality pair join is an
    * intended broadcast nested loop (plan-contract allowlisted). */
  def kendallTau(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // three consumers of the tiny cell table
    val cells = Materialize.cut(df
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cnt")))
    val pairs = cells.alias("x").join(broadcast(cells.alias("y")),
        col("x.a") < col("y.a"))
      .agg(
        sum(when(col("y.b") > col("x.b"), col("x.cnt") * col("y.cnt"))
          .otherwise(0L)).as("p_conc"),
        sum(when(col("y.b") < col("x.b"), col("x.cnt") * col("y.cnt"))
          .otherwise(0L)).as("q_disc"))
    val margA = cells.groupBy("a").agg(sum("cnt").as("m"))
      .agg(sum(expr("(m * (m - 1)) div 2")).as("ties_a"), sum("m").as("n"))
    val margB = cells.groupBy("b").agg(sum("cnt").as("m"))
      .agg(sum(expr("(m * (m - 1)) div 2")).as("ties_b"))
    pairs.crossJoin(broadcast(margA)).crossJoin(broadcast(margB))
      .select(col("n"), col("p_conc"), col("q_disc"),
        col("ties_a"), col("ties_b"),
        expr("""CASE WHEN p_conc >= q_disc
                |  THEN (CAST(p_conc - q_disc AS DECIMAL(38,0)) * 2000000)
                |       div (n * (n - 1))
                |  ELSE -((CAST(q_disc - p_conc AS DECIMAL(38,0)) * 2000000)
                |       div (n * (n - 1))) END""".stripMargin).as("taua_ppm"))
  }

  /** Spearman rank correlation per group, exact, over the CELL domain —
    * the monotone-association complement to [[kendallTau]]: both variables
    * are reduced to their per-group (a, b) value cells, ranks are AVERAGE
    * ranks carried in DOUBLED integer lanes (2·r̄ = 2·cnt_smaller + m + 1
    * for a tie block of mass m — always an integer), and rho is Pearson
    * over those ranks. Every moment (Σw·2r_a·2r_b, Σw·(2r)², …) comes from
    * the cells joined to the per-variable rank margins, so no row-level
    * window or sort ever runs — the only windows are per-group cumulative
    * sums over the VALUE domains.
    *
    * Emission keeps the no-float discipline: the exact Pearson pieces
    * num = n·S_ab − S_a·S_b and den_x = n·S_x2 − S_x² live in DECIMAL(38)
    * lanes and are reported as sign-safe milli-truncated BIGINTs, plus a
    * single headline `rho2s_ppm` — SIGN(num)·(num′²·10⁶ div (den_a′·den_b′))
    * with each piece first truncated by n (num′ = |num| div n) to keep the
    * squared product inside DECIMAL(38) at any n up to ~10⁵ per group. The
    * truncation is deterministic and mirrored verbatim in the oracle. A
    * degenerate group (either variable constant → den = 0) reports NULL
    * rather than tripping ANSI DIVIDE_BY_ZERO (the q177 guard discipline). */
  def spearman(df: DataFrame, groupCol: String, aCol: String,
               bCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // consumed by both margins and the moment join
    val cells = Materialize.cut(df
      .select(col(groupCol).as("g"), col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .groupBy("g", "a", "b").agg(count(lit(1)).as("cnt")))
    // doubled average rank per value cell: 2·r̄ = 2·(cum − m) + m + 1
    def marg(vc: String): DataFrame = {
      val w = Window.partitionBy("g").orderBy(vc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.groupBy("g", vc).agg(sum("cnt").as("m"))
        .select(col("g"), col(vc),
          (lit(2) * sum("m").over(w) - col("m") + 1).as(s"d$vc"))
    }
    cells
      .join(marg("a"), Seq("g", "a"))
      .join(marg("b"), Seq("g", "b"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_cells"), sum("cnt").as("n"),
        sum(col("cnt") * col("da")).as("sa"),
        sum(col("cnt") * col("db")).as("sb"),
        sum(dec(col("cnt")) * dec(col("da")) * dec(col("db"))).as("sab"),
        sum(dec(col("cnt")) * dec(col("da")) * dec(col("da"))).as("sa2"),
        sum(dec(col("cnt")) * dec(col("db")) * dec(col("db"))).as("sb2"))
      .select(col("g").as(groupCol), col("n"),
        (dec(col("n")) * col("sab") - dec(col("sa")) * dec(col("sb"))).as("num"),
        (dec(col("n")) * col("sa2") - dec(col("sa")) * dec(col("sa"))).as("den_a"),
        (dec(col("n")) * col("sb2") - dec(col("sb")) * dec(col("sb"))).as("den_b"))
      .select(col(groupCol), col("n"),
        expr("""CASE WHEN num >= 0 THEN num div 1000
               |     ELSE -((-num) div 1000) END""".stripMargin)
          .cast("long").as("num_milli"),
        expr("den_a div 1000").cast("long").as("den_a_milli"),
        expr("den_b div 1000").cast("long").as("den_b_milli"),
        // the n-divided pieces re-enter DECIMAL(38) lanes before squaring:
        // (num div n) is a BIGINT whose square would overflow 2⁶³ past
        // n ≈ 2·10³ — the cast keeps the whole product exact to n ≈ 10⁵
        expr("""CASE WHEN den_a = 0 OR den_b = 0 THEN NULL
               |     WHEN CAST(den_a div n AS DECIMAL(38,0))
               |          * CAST(den_b div n AS DECIMAL(38,0)) = 0 THEN NULL
               |     WHEN num >= 0 THEN
               |       (CAST(num div n AS DECIMAL(38,0))
               |          * CAST(num div n AS DECIMAL(38,0)) * 1000000)
               |         div (CAST(den_a div n AS DECIMAL(38,0))
               |          * CAST(den_b div n AS DECIMAL(38,0)))
               |     ELSE
               |       -((CAST((-num) div n AS DECIMAL(38,0))
               |          * CAST((-num) div n AS DECIMAL(38,0)) * 1000000)
               |         div (CAST(den_a div n AS DECIMAL(38,0))
               |          * CAST(den_b div n AS DECIMAL(38,0))))
               |END""".stripMargin).cast("long").as("rho2s_ppm"))
  }

  /** Exact ROC curve — one operating point per DISTINCT score value,
    * thresholded at "score ≥ v" (descending cumulative over the reduced
    * score domain, the q185/q202 device): cumulative TP/FP plus
    * tpr_ppm = TP·10⁶ div P and fpr_ppm = FP·10⁶ div N, all exact
    * integers. The curve's trapezoid area is q258's AUC (= U/(n₁·n₀)) —
    * emitted there; here the full curve is the artifact, threshold
    * tuning's input table. Row count is bounded by the score DOMAIN,
    * never the corpus. */
  def rocCurve(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    val dom = df.select(col(scoreCol).cast("long").as("v"),
        when(col(labelCol), 1L).otherwise(0L).as("y"))
      .groupBy("v")
      .agg(sum("y").as("tp_v"), (count(lit(1)) - sum("y")).as("fp_v"))
    val wDesc = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(lit(1))
    dom
      .select(col("v"),
        sum("tp_v").over(wDesc).as("tp"), sum("fp_v").over(wDesc).as("fp"),
        sum("tp_v").over(wAll).as("p"), sum("fp_v").over(wAll).as("n"))
      .select(col("v"), col("tp"), col("fp"),
        when(col("p") > 0, expr("(tp * 1000000) div p")).as("tpr_ppm"),
        when(col("n") > 0, expr("(fp * 1000000) div n")).as("fpr_ppm"))
  }

  /** Exact lower weighted median per group — the smallest value v whose
    * cumulative weight reaches half the group's total (2·cum ≥ W), the
    * robust location estimate when rows carry mass (quantities, token
    * counts). Reduced-domain shape: one aggregation to the (group, value)
    * domain, one per-group cumulative window over it, one min_by fold —
    * no row-level sort, no global window. */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String): DataFrame = {
    val dom = df.select(col(groupCol).as("g"), col(valueCol).cast("long").as("v"),
        col(weightCol).cast("long").as("wt"))
      .groupBy("g", "v").agg(sum("wt").as("w"))
    val cum = dom.select(col("g"), col("v"), col("w"),
      sum("w").over(Window.partitionBy("g").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
      sum("w").over(Window.partitionBy("g")).as("w_total"))
    cum.filter(col("cum") * 2 >= col("w_total"))
      .groupBy("g")
      .agg(min("v").as("median_v"), min("w_total").as("w_total"))
      .select(col("g").as(groupCol), col("median_v"), col("w_total"))
  }

  /** Gini concentration of an integer mass over keys, exact: with
    * per-key masses x_(1) ≤ … ≤ x_(n) (ties ranked by key for a total
    * order), G = (2·Σ i·x_(i) − (n+1)·S) / (n·S) — reported in ppm with
    * the denominator cleared (G_num·10⁶ div (n·S)), plus the top-decile
    * mass share in ppm (the "what fraction of the corpus do the biggest
    * ⌈n/10⌉ sources own?" skew headline for domain-cap tuning, q59's
    * planning twin).
    *
    * Shape: one aggregation to the key domain, one rank window over that
    * reduced domain (|keys| rows), integer arithmetic after. Output one
    * row: (n_keys, total, gini_ppm, top_decile_ppm). */
  def giniConcentration(df: DataFrame, keyCol: String,
                        weightCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mass = Materialize.cut(df.groupBy(col(keyCol).as("k"))
      .agg(weightCol.map(w => sum(col(w).cast("long")))
        .getOrElse(count(lit(1))).as("x")))
    val ranked = mass.withColumn("i",
      row_number().over(Window.orderBy(col("x"), col("k"))).cast("long"))
    ranked.crossJoin(broadcast(
        mass.agg(count(lit(1)).as("n"), sum("x").as("s"))))
      .agg(min("n").as("n_keys"), min("s").as("total"),
        sum(expr("i * x")).as("ixs"),
        // top decile = the ⌈n/10⌉ LARGEST masses = ranks > n − ⌈n/10⌉
        // (integer `div`, not `/` — Spark's `/` on longs returns DOUBLE)
        sum(when(col("i") > col("n") - expr("(n + 9) div 10"), col("x"))
          .otherwise(0L)).as("top_mass"))
      .select(col("n_keys"), col("total"),
        expr("((2 * ixs - (n_keys + 1) * total) * 1000000) div (n_keys * total)")
          .as("gini_ppm"),
        expr("(top_mass * 1000000) div total").as("top_decile_ppm"))
  }

  /** Benford's-law first-digit audit (Benford 1938; Nigrini's fraud-
    * detection battery) — the data-quality tripwire for fabricated or
    * truncated numeric columns: natural multi-order-of-magnitude amounts
    * follow P(d) = log₁₀(1+1/d), and a synthetic column betrays itself by
    * a flat (or spiked) digit histogram.
    *
    * Exact-integer end to end: the expected probabilities are the nine
    * CONSTANTS round(10⁶·log₁₀(1+1/d)) — which sum to exactly 10⁶ —
    * inlined identically in the oracle, so no engine ever evaluates a
    * log. First digit comes from the decimal string head (identical
    * semantics everywhere; non-positive values are excluded before the
    * cast so ANSI never sees a '-'). χ² contribution per digit in micro
    * units: ((obs·10⁶ − exp_ppm·N)²) div (exp_ppm·N) — DECIMAL(38) lanes
    * (the squared term passes 2⁶³ near 10⁷ rows). N comes from a window
    * sum over the NINE-row digit table — no scalar broadcast join.
    * Output: (digit, obs, n, obs_ppm, exp_ppm, chi2_micro). */
  def benford(values: DataFrame, valCol: String): DataFrame = {
    val expPpm = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
    val obs = values.filter(col(valCol) > 0)
      .select(substring(col(valCol).cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("obs"))
    val w = Window.partitionBy(lit(1)) // 9-row domain
    obs.withColumn("n", sum("obs").over(w))
      .withColumn("exp_ppm", element_at(array(expPpm.map(lit): _*), col("digit")))
      .select(col("digit"), col("obs"), col("n"),
        expr("(obs * 1000000) div n").as("obs_ppm"), col("exp_ppm"),
        expr("""((CAST(obs AS DECIMAL(38,0)) * 1000000 - CAST(exp_ppm AS DECIMAL(38,0)) * n)
                |  * (CAST(obs AS DECIMAL(38,0)) * 1000000 - CAST(exp_ppm AS DECIMAL(38,0)) * n))
                |  div (CAST(exp_ppm AS DECIMAL(38,0)) * n)""".stripMargin)
          .as("chi2_micro"))
  }

  /** Isotonic regression (PAV) calibration fit over an ORDERED bin domain,
    * exact — computed via the minimax identity (Robertson–Wright–Dykstra
    * 1988, eq. 1.9–1.13): the pool-adjacent-violators solution satisfies
    *
    *   fit_i = max_{j ≤ i} min_{k ≥ i} mean(pos_{j..k} / n_{j..k})
    *
    * so instead of the inherently sequential stack-merge loop (hostile to
    * both SQL engines), the fit is a closed-form double reduction over all
    * (j ≤ i ≤ k) bin triples — O(d³) in the BIN domain, the reduced-domain
    * license every percentile/cell operator here already uses (d ≤ ~100
    * calibration bins → ≤ 10⁵ triple rows, nothing).
    *
    * Exactness: segment means p/n are compared via the scaled key
    * ⌊p·10¹⁶ div n⌋ in a DECIMAL(38) lane — distinct fractions with
    * denominators ≤ N differ by ≥ 1/N², i.e. ≥ 10¹⁶/N² ≥ 2 scaled units
    * for N ≤ 7·10⁷ rows, so the truncated keys order EXACTLY (and equal
    * fractions collide onto the same key, which min/max are insensitive
    * to). Output per bin: (bin, n, pos, fit_scaled, fit_ppm) with fit_ppm
    * the truncated ppm of the isotonic rate — non-decreasing in bin by
    * construction of the identity. */
  def isotonicFit(bins: DataFrame, binCol: String = "bin",
                  nCol: String = "n", posCol: String = "pos"): DataFrame = {
    // d rows; feeds cumulative, triples, and emission
    val b = Materialize.cut(bins.select(col(binCol).cast("long").as("bin"),
      col(nCol).cast("long").as("n"), col(posCol).cast("long").as("pos")))
    val wc = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = b.select(col("bin"), col("n"), col("pos"),
      sum("n").over(wc).as("cn"), sum("pos").over(wc).as("cp"))
    val segs = cum.select(col("bin").as("j"), col("cn").as("cnj"),
        col("cp").as("cpj"), col("n").as("nj"), col("pos").as("pj"))
      // explicit broadcast: the k side is the d-row bin domain, and the
      // j<=k predicate would otherwise plan a CartesianProduct
      .join(broadcast(cum.select(col("bin").as("k"), col("cn").as("cnk"),
        col("cp").as("cpk"))), col("j") <= col("k"))
      .select(col("j"), col("k"),
        (col("cpk") - (col("cpj") - col("pj"))).as("p"),
        (col("cnk") - (col("cnj") - col("nj"))).as("n"))
    val tri = segs
      .select(col("j"), col("k"),
        expr("(CAST(p AS DECIMAL(38,0)) * 10000000000000000) div n").as("key"))
      .select(col("key"), explode(expr("sequence(j, k)")).as("i"),
        col("j"))
    val fit = tri.groupBy("i", "j").agg(min("key").as("mk"))
      .groupBy("i").agg(max("mk").as("fit_key"))
    b.join(fit, col("bin") === col("i"))
      .select(col("bin"), col("n"), col("pos"),
        col("fit_key").cast("long").as("fit_scaled"),
        expr("CAST(fit_key div 10000000000 AS BIGINT)").as("fit_ppm"))
  }

  /** Pearson χ² test of independence over an r×c contingency table — the
    * general-shape extension of the 2×2 A/B chi² (q177): per cell,
    * E = row_margin·col_margin/n and the contribution
    * (O − E)²/E = (O·n − R·C)² / (n·R·C), carried exactly in DECIMAL(38)
    * lanes and emitted in truncated micro units; the table-wide statistic
    * and the degrees of freedom (r−1)(c−1) ride every row via windows.
    *
    * Shape: ONE shuffle to the (a, b) cell domain; margins and totals are
    * windows OVER THE CELL DOMAIN (r·c rows — bounded by the category
    * cardinalities, not the data), the Benford device — no second scan,
    * no scalar broadcast join. Output per cell: (a, b, obs, row_n, col_n,
    * n, chi2_micro_cell, chi2_micro, dof). */
  def chi2Independence(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // r·c rows, consumed by the lattice and the join
    val obs0 = Materialize.cut(df.select(col(aCol).as("a"), col(bCol).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("obs")))
    // densify to the full r×c value lattice: an UNOBSERVED cell has O = 0
    // but E = R·C/n > 0 and still contributes to the statistic — dropping
    // it would understate chi² exactly when the dependence is strongest
    val cells = obs0.select("a").distinct()
      .crossJoin(broadcast(obs0.select("b").distinct()))
      .join(obs0, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("obs"), lit(0L)).as("obs"))
    val wa = Window.partitionBy("a")
    val wb = Window.partitionBy("b")
    val w = Window.partitionBy(lit(1)) // the r×c cell domain
    cells
      .withColumn("row_n", sum("obs").over(wa))
      .withColumn("col_n", sum("obs").over(wb))
      .withColumn("n", sum("obs").over(w))
      .withColumn("chi2_micro_cell",
        expr("""((CAST(obs AS DECIMAL(38,0)) * n - CAST(row_n AS DECIMAL(38,0)) * col_n)
               |  * (CAST(obs AS DECIMAL(38,0)) * n - CAST(row_n AS DECIMAL(38,0)) * col_n)
               |  * 1000000)
               |  div (CAST(n AS DECIMAL(38,0)) * row_n * col_n)""".stripMargin)
          .cast("long"))
      .withColumn("chi2_micro", sum("chi2_micro_cell").over(w))
      .withColumn("dof",
        ((size(collect_set("a").over(w)) - 1) *
          (size(collect_set("b").over(w)) - 1)).cast("long"))
      .select("a", "b", "obs", "row_n", "col_n", "n",
        "chi2_micro_cell", "chi2_micro", "dof")
  }

  /** l-diversity audit (Machanavajjhala et al. 2007) — the sensitive-value
    * complement to the k-anonymity class-size check: per quasi-identifier
    * equivalence class, how many DISTINCT sensitive values appear
    * (distinct l-diversity) and how concentrated the class is on its most
    * frequent sensitive value (top_share_ppm — the piece an entropy- or
    * recursive-(c,l) policy would threshold). A class where every member
    * shares one sensitive value leaks the attribute even when the class
    * is k-anonymous.
    *
    * Shape: ONE shuffle to the (qi…, sensitive) cell domain, then a
    * strictly smaller reduce to the class domain — never a distinct over
    * raw rows. Output: (qi…, n, l_distinct, top_share_ppm, diverse). */
  def lDiversity(df: DataFrame, qiCols: Seq[String], sensCol: String,
                 l: Int): DataFrame = {
    require(qiCols.nonEmpty && l >= 1, s"bad l-diversity params $qiCols l=$l")
    df.groupBy((qiCols :+ sensCol).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .groupBy(qiCols.map(col): _*)
      .agg(sum("cnt").as("n"), count(lit(1)).as("l_distinct"),
        max("cnt").as("top"))
      .select(qiCols.map(col) ++ Seq(col("n"), col("l_distinct"),
        expr("(top * 1000000) div n").as("top_share_ppm"),
        (col("l_distinct") >= l).as("diverse")): _*)
  }

  /** Pairwise Pearson correlation matrix over integer-lane columns, exact
    * — the one-scan "which measures move together" profile: ALL sums,
    * squared sums, and cross products for every unordered column pair come
    * from a SINGLE global aggregate (4 columns → 1 scan with 15 partial
    * sums, not 6 queries), held as a 1-row localCheckpoint the per-pair
    * projections then union over.
    *
    * Exactness discipline: moments accumulate in DECIMAL(38) lanes;
    * num = n·S_ab − S_a·S_b and den_x = n·S_x2 − S_x² are emitted divided
    * by n² (truncating — num div n² ≈ covariance, den div n² ≈ variance,
    * both scale-FREE constants of the data distribution, so the BIGINT
    * emission lanes cannot overflow at any corpus size; the raw pieces
    * grow ∝ n² and would pass 2⁶³ around 10⁷ rows). The headline
    * rho2s_ppm = SIGN(num) · (num_nn²·10⁶ div (den_a_nn·den_b_nn)) is
    * computed from those SAME truncated pieces, mirrored verbatim in the
    * oracle; a constant column (den = 0 after truncation) reports NULL.
    * Output: (col_a, col_b, n, num_nn, den_a_nn, den_b_nn, rho2s_ppm). */
  def pearsonMatrix(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2, "pearsonMatrix needs at least two columns")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val names = cols.map(_._1)
    val base = df.select(cols.map { case (n, c) => c.cast("long").as(n) }: _*)
    val pairs = for {
      i <- names.indices; j <- names.indices if i < j
    } yield (names(i), names(j))
    val aggs = Seq(count(lit(1)).as("n")) ++
      names.flatMap(n => Seq(sum(dec(col(n))).as(s"s_$n"),
        sum(dec(col(n)) * dec(col(n))).as(s"s2_$n"))) ++
      pairs.map { case (a, b) =>
        sum(dec(col(a)) * dec(col(b))).as(s"sp_${a}_$b") }
    // 1-row moment frame, checkpointed: six pair projections re-reading a
    // live aggregate would re-run the scan per branch of the union
    val m = Materialize.cut(base.agg(aggs.head, aggs.tail: _*))
    pairs.map { case (a, b) =>
      m.select(lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
        (dec(col("n")) * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b"))
          .as("num"),
        (dec(col("n")) * col(s"s2_$a") - col(s"s_$a") * col(s"s_$a"))
          .as("den_a"),
        (dec(col("n")) * col(s"s2_$b") - col(s"s_$b") * col(s"s_$b"))
          .as("den_b"))
        // n² in a DECIMAL lane: a LONG n·n overflows past ~3·10⁹ rows —
        // ANSI would throw loudly, but the operator shouldn't have a
        // row-count ceiling at all
        .select(col("col_a"), col("col_b"), col("n"),
          expr("""CASE WHEN num >= 0 THEN num div (CAST(n AS DECIMAL(38,0)) * n)
                 |     ELSE -((-num) div (CAST(n AS DECIMAL(38,0)) * n)) END"""
            .stripMargin).cast("long").as("num_nn"),
          expr("(den_a div (CAST(n AS DECIMAL(38,0)) * n))")
            .cast("long").as("den_a_nn"),
          expr("(den_b div (CAST(n AS DECIMAL(38,0)) * n))")
            .cast("long").as("den_b_nn"))
        .select(col("col_a"), col("col_b"), col("n"), col("num_nn"),
          col("den_a_nn"), col("den_b_nn"),
          expr("""CASE WHEN den_a_nn = 0 OR den_b_nn = 0 THEN NULL
                 |     WHEN num_nn >= 0 THEN
                 |       (CAST(num_nn AS DECIMAL(38,0)) * num_nn * 1000000)
                 |         div (CAST(den_a_nn AS DECIMAL(38,0)) * den_b_nn)
                 |     ELSE
                 |       -((CAST(num_nn AS DECIMAL(38,0)) * num_nn * 1000000)
                 |         div (CAST(den_a_nn AS DECIMAL(38,0)) * den_b_nn))
                 |END""".stripMargin).cast("long").as("rho2s_ppm"))
    }.reduce(_ unionByName _)
  }

  /** Mergeable quantile sketch with a PROVEN rank-error bound (the q87
    * exact+bound device applied to order statistics): Spark's
    * `percentile_approx` — a Greenwald-Khanna-style summary, the
    * mergeable bounded-memory structure a 100 TB percentile actually
    * runs on (map-side partials merge associatively; no global sort) —
    * probed at each requested quantile, next to the EXACT ⌈q·n⌉-rank
    * values computed over the reduced distinct-value domain (one
    * shuffle to the value lattice + one cumulative window — the gate
    * lane; the sketch is the production lane).
    *
    * The cross-engine contract: the sketch's returned value never
    * crosses the boundary raw (two engines' sketches differ). Instead
    * the engine verifies GK's guarantee — the returned value holds SOME
    * rank r ∈ (r_lo, r_hi] with |r − q·n| ≤ n/accuracy — in exact
    * cleared-integer lanes ((r_lo+1)·10⁶ ≤ q_ppm·n + ε_ppm·n and
    * r_hi·10⁶ ≥ q_ppm·n − ε_ppm·n, DECIMAL(38,0) so no row-count
    * ceiling), and emits the verdict as `sketch_ok`; the oracle pins
    * TRUE. A sketch drifting outside its published bound flips the
    * hash. r_lo/r_hi come from ONE broadcast pass (|q| probe values
    * against the data), not a sort.
    *
    * Output: (q_ppm, exact_c, sketch_ok), one row per quantile. */
  def quantileSketch(df: DataFrame, valueCol: String,
                     qPpms: Seq[Int] = Seq(500000, 900000, 990000),
                     accuracy: Int = 10000): DataFrame = {
    require(accuracy > 0 && 1000000 % accuracy == 0,
      s"accuracy must divide 1e6 for exact ppm lanes: $accuracy")
    val epsPpm = 1000000L / accuracy
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val v = df.select(col(valueCol).cast("long").as("c"))
    // one aggregate: the sketch (all quantiles) + the row count
    val approx = v.agg(
      percentile_approx(col("c"),
        array(qPpms.map(q => lit(q / 1e6)): _*), lit(accuracy)).as("vas"),
      count(lit(1)).as("n"))
    val probes = approx
      .select(col("n"), posexplode(col("vas")).as(Seq("pos", "va")))
      .select(element_at(array(qPpms.map(lit(_)): _*),
        col("pos").cast("int") + 1).as("q_ppm"), col("va"), col("n"))
    // rank bracket of each probe value: one broadcast pass, |q| counters
    val ranks = v.crossJoin(broadcast(probes))
      .groupBy(col("q_ppm"), col("va"), col("n"))
      .agg(sum(when(col("c") <= col("va"), 1L).otherwise(0L)).as("r_hi"),
        sum(when(col("c") < col("va"), 1L).otherwise(0L)).as("r_lo"))
    // exact ⌈q·n⌉-rank values over the reduced distinct-value domain
    // (cum ≥ q·n for integer cum ⟺ cum ≥ ⌈q·n⌉; cleared to ppm lanes)
    val domain = v.groupBy(col("c")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("c"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
    val exact = domain
      .crossJoin(broadcast(probes.select(col("q_ppm"), col("n"))))
      .filter(dec(col("cum")) * lit(1000000L) >= dec(col("q_ppm")) * dec(col("n")))
      .groupBy(col("q_ppm")).agg(min(col("c")).as("exact_c"))
    ranks.join(exact, Seq("q_ppm"))
      .select(col("q_ppm"), col("exact_c"),
        ((dec(col("r_lo")) + lit(1)) * lit(1000000L) <=
          dec(col("q_ppm")) * dec(col("n")) + lit(epsPpm) * dec(col("n")) &&
          dec(col("r_hi")) * lit(1000000L) >=
            dec(col("q_ppm")) * dec(col("n")) - lit(epsPpm) * dec(col("n")))
          .as("sketch_ok"))
  }
}
