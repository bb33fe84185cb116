package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Event-stream relational operators over the harness `events` table
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Timestamp convention: the harness parquet stores TIMESTAMP(NANOS);
  * GraftSession reads it as a BIGINT of epoch NANOSECONDS
  * (`spark.sql.legacy.parquet.nanosAsLong`), while DuckDB's reader
  * truncates the same column to microsecond TIMESTAMP. The engine-portable
  * meeting point is epoch MICROSECONDS: Spark `ts div 1000` equals DuckDB
  * `epoch_us(ts)` exactly (both floor; all harness timestamps are
  * positive). Every operator here therefore works in `ts_us` longs —
  * integer arithmetic end to end, no IEEE or timezone drift.
  *
  * Monetary sums use the engine-wide integer-cents discipline
  * (`round(value*100)` summed as longs): float addition is
  * order-dependent, so a distributed sum of raw doubles would not be
  * reproducible across partitionings, let alone engines.
  *
  * Scale shape (all five operators): ONE hash shuffle on the partition
  * key (user_id), then sorted-window passes within each partition. No
  * range-condition joins (Spark plans those as broadcast-nested-loop or
  * cartesian), no per-key collect, no driver loop. At 100 TB the only
  * concern is per-user row counts — windows stream within a partition, so
  * skewed users cost time, not memory; a hot-key salting pass (SkewOps)
  * composes in front if one user dominates.
  */
object EventOps {

  /** Epoch-micros column from the nanos-long `ts` column (exact integer
    * `div` — `ts / 1000` through doubles would round at 1.7e18 magnitudes,
    * where the double ulp is 256 ns). Takes the column NAME because the
    * DSL has no integer-division operator. */
  def tsUs(tsCol: String): Column = expr(s"($tsCol) div 1000")

  private def cents(value: Column): Column = round(value * 100).cast("long")

  /** Distributed as-of join (point-in-time lookup / attribution): for each
    * left row, attach the LATEST right row with `right.ts_us <= left.ts_us`
    * within the same `key` — e.g. "which view preceded this purchase".
    * Inclusive on equal timestamps, like DuckDB/kdb ASOF.
    *
    * Implementation is the union-window shape, the scalable form of as-of:
    * tag right rows side=0 and left rows side=1, union, ONE shuffle on the
    * key, sort each partition by (ts_us, side, id), and carry the most
    * recent right payload forward with last(ignoreNulls) over an
    * unbounded-preceding window. A naive `left JOIN right ON key AND rts <=
    * lts` + argmax would be a range join that explodes quadratically per
    * key; this form is a single sort-merge pass. Right rows that share
    * (key, ts_us) are first reduced to the max-id row so the carried match
    * is deterministic in every engine.
    *
    * Left rows with no preceding right row keep NULL match columns (the
    * as-of LEFT join contract).
    *
    * @param left     rows to annotate; must carry `key`, `id`, `ts_us`
    * @param right    rows to look up;  must carry `key`, `id`, `ts_us`
    * @param payload  right columns (besides id/ts) to carry, e.g. value
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               payload: Seq[String]): DataFrame = {
    // Deterministic right side: one row per (key, ts_us) — the max id wins.
    val wDedup = Window.partitionBy(key, "ts_us").orderBy(col("id").desc)
    val r = right
      .withColumn("rn", row_number().over(wDedup)).filter(col("rn") === 1)
      .select(Seq(col(key), lit(0).as("side"), col("id"), col("ts_us")) ++
        payload.map(col): _*)
    val lCols = left.columns.toSeq
    val l = left.withColumn("side", lit(1))
    // Union with aligned schemas: right contributes match-source columns,
    // left contributes its own; each side NULL-pads the other's.
    val matchCols = Seq("id", "ts_us") ++ payload
    val rAligned = r.select(
      Seq(col(key), col("side")) ++
        lCols.filterNot(c => c == key).map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        matchCols.map(c => col(c).as(s"m_$c")): _*)
    val lAligned = l.select(
      Seq(col(key), col("side")) ++
        lCols.filterNot(c => c == key).map(col) ++
        matchCols.map(c => lit(null).cast(rAligned.schema(s"m_$c").dataType).as(s"m_$c")): _*)
    val w = Window.partitionBy(key)
      .orderBy(col("_ord_ts"), col("side"), col("_ord_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rAligned.union(lAligned)
      // union output binds by position; re-derive the sort keys from
      // whichever side populated them
      .withColumn("_ord_ts", coalesce(col("ts_us"), col("m_ts_us")))
      .withColumn("_ord_id", coalesce(col("id"), col("m_id")))
      .select(Seq(col("*")) ++
        matchCols.map(c => last(col(s"m_$c"), ignoreNulls = true).over(w).as(s"asof_$c")): _*)
    carried.filter(col("side") === 1)
      .select(Seq(col(key)) ++ lCols.filterNot(_ == key).map(col) ++
        matchCols.map(c => col(s"asof_$c")): _*)
  }

  /** FORWARD as-of join: attach the EARLIEST right row with
    * `right.ts_us >= left.ts_us` — the "what happens next" attribution
    * (purchase → next error, request → next deploy). Implemented by TIME
    * REVERSAL over [[asofJoin]]: negate ts_us and id on both sides, run
    * the backward as-of, negate back. The backward tie rules flip into
    * exactly the right forward ones: "latest right ≤ t, max id at ties"
    * becomes "earliest right ≥ t, MIN id at ties" — one implementation,
    * two directions, same single-shuffle merge-carry plan. */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: String,
                      payload: Seq[String]): DataFrame = {
    def neg(df: DataFrame): DataFrame = df
      .withColumn("ts_us", -col("ts_us")).withColumn("id", -col("id"))
    asofJoin(neg(left), neg(right), key, payload)
      .withColumn("ts_us", -col("ts_us")).withColumn("id", -col("id"))
      .withColumn("asof_ts_us", -col("asof_ts_us"))
      .withColumn("asof_id", -col("asof_id"))
  }

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event of the same key exceeds `gapUs`. Two window passes over
    * the SAME (key, ts, id) sort order — Spark evaluates both in one
    * shuffle + one sort — then a per-session aggregate.
    *
    * Returns one row per session: (key, session_idx, n_events, start_us,
    * end_us, duration_us, sum_cents).
    */
  def sessionize(events: DataFrame, key: String, gapUs: Long): DataFrame = {
    val wOrd = Window.partitionBy(key).orderBy(col("ts_us"), col("id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("new_sess",
        when(col("ts_us") - lag(col("ts_us"), 1).over(wOrd) <= gapUs, lit(0))
          .otherwise(lit(1))) // first row per key: lag NULL → comparison NULL → 1
      .withColumn("session_idx", sum(col("new_sess")).over(wRun))
      .groupBy(col(key), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"),
        sum(cents(col("value"))).as("sum_cents"))
  }

  /** Tumbling-window rollup via Spark's streaming-compatible `window()`
    * function (epoch-aligned buckets, identical batch or streaming):
    * per (bucket, event_type) counts + integer-cents sums. The bucket is
    * surfaced as `bucket_us` (epoch micros of the window start) — the
    * cross-engine-stable scalar form of the window struct.
    *
    * Purely map-side until the final aggregate: one shuffle on
    * (bucket, event_type) with partial aggregation — the minimal plan for
    * a rollup at any scale.
    */
  def tumblingRollup(events: DataFrame, width: String): DataFrame =
    events
      .withColumn("win", window(timestamp_micros(col("ts_us")), width))
      .groupBy(unix_micros(col("win.start")).as("bucket_us"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))

  /** Rolling time-window aggregate: for every event, the count and
    * integer-cents sum of the same key's events in the trailing
    * `windowUs` (inclusive frame [ts_us - windowUs, ts_us] — RANGE frames
    * include ordering-value peers identically in Spark and DuckDB).
    * One shuffle + one sort per key; the range frame slides in O(n).
    */
  def rollingAgg(events: DataFrame, key: String, windowUs: Long): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col("ts_us"))
      .rangeBetween(-windowUs, Window.currentRow)
    events.select(
      col(key), col("id"), col("ts_us"),
      count(lit(1)).over(w).as("n_trail"),
      sum(cents(col("value"))).over(w).as("sum_cents_trail"))
  }

  /** CDC latest-wins snapshot: collapse a change feed (upserts + deletes)
    * to the current state of every key — the batch form of materializing a
    * changelog, e.g. rebuilding a user-profile table from its event
    * history. Rows must carry (key, id, ts_us, op) plus the tracked
    * `stateCol`; `op` is 'u' (upsert) or 'd' (delete).
    *
    * The winner per key is the row with the greatest (ts_us, id) — the id
    * tie-break makes equal-timestamp feeds deterministic in every engine.
    * A key whose winning row is a delete is absent from the snapshot (the
    * tombstone contract).
    *
    * ONE shuffle on the key + a per-partition sort (row_number window) —
    * the same shape as a streaming `mapGroupsWithState` compaction, and at
    * 100 TB the standard log-compaction plan: no join, no global sort,
    * partial nothing (every change row is needed until its key's max is
    * known, so a window — not an aggregate with max_by — keeps the full
    * winning row without a second self-join pass). */
  def cdcSnapshot(changes: DataFrame, key: String,
                  stateCol: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col("ts_us").desc, col("id").desc)
    changes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "d")
      .select(col(key), col("id"), col("ts_us"), col(stateCol))
  }

  /** MERGE (upsert + delete) of a change-feed delta into a base snapshot —
    * the batch form of `MERGE INTO base USING delta`: matched keys take
    * the delta state (or are deleted on a tombstone), unmatched delta keys
    * insert, unmatched base keys persist. The delta is first compacted to
    * one winning row per key — greatest (ts_us, id), KEEPING tombstones,
    * unlike [[cdcSnapshot]] which drops them — so multi-change deltas
    * apply atomically.
    *
    * Contract (checked by the q100 gate): for a feed split at any cut,
    * `mergeUpsert(cdcSnapshot(before), after) == cdcSnapshot(whole feed)`
    * — incremental snapshot maintenance. Upsert rows must carry complete
    * state (the merge does not patch individual columns).
    *
    * Cost: the delta compaction window + ONE shuffle join on the key —
    * at 100 TB the delta is the small side and the base is the
    * hash-partitioned table you already own, so the merge is a single
    * co-partitioned pass. */
  def mergeUpsert(base: DataFrame, delta: DataFrame, key: String,
                  stateCol: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col("ts_us").desc, col("id").desc)
    val compacted = delta
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(key), col("id"), col("ts_us"), col("op"), col(stateCol))
    base.select(col(key), col("id"), col("ts_us"), col(stateCol)).alias("b")
      .join(compacted.alias("d"), Seq(key), "full_outer")
      // matched tombstone deletes; a key with no delta row keeps base
      // (op is NULL there → the inequality is NULL → coalesce keeps it)
      .filter(coalesce(col("d.op") =!= "d", lit(true)))
      .select(col(key),
        coalesce(col("d.id"), col("b.id")).as("id"),
        coalesce(col("d.ts_us"), col("b.ts_us")).as("ts_us"),
        coalesce(col(s"d.$stateCol"), col(s"b.$stateCol")).as(stateCol))
  }

  /** SCD type-2 history: turn the same change feed into versioned validity
    * intervals per key — the warehouse "slowly changing dimension" shape
    * used for point-in-time training snapshots. Consecutive changes that
    * do NOT alter `stateCol` are collapsed into one version (a re-upsert
    * of the same value extends the current interval instead of opening a
    * new one), then each surviving change becomes
    * [valid_from_us, valid_to_us) with the last version open-ended
    * (valid_to_us NULL, is_current = 1).
    *
    * Three window passes — lag (run-collapse), row_number (version),
    * lead (interval close) — all over the one (key, ts_us, id) sort
    * order, so Spark plans a single shuffle + a single per-partition sort.
    * Interval semantics follow the as-of convention: a state is valid
    * from its own change-time inclusive to the next change exclusive. */
  def scd2(changes: DataFrame, key: String, stateCol: String): DataFrame = {
    val wOrd = Window.partitionBy(key).orderBy(col("ts_us"), col("id"))
    val changed = changes
      .withColumn("prev_state", lag(col(stateCol), 1).over(wOrd))
      // first row per key: lag NULL → keep (NULL-safe inequality; parens
      // required — unary_! binds tighter than <=>)
      .filter(!(col(stateCol) <=> col("prev_state")))
    changed
      .withColumn("version", row_number().over(wOrd))
      .withColumn("valid_from_us", col("ts_us"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(wOrd))
      .select(col(key), col("version"), col(stateCol),
        col("valid_from_us"), col("valid_to_us"),
        when(col("valid_to_us").isNull, lit(1)).otherwise(lit(0)).as("is_current"))
  }

  /** Ordered-funnel conversion: per key, the first `fromType` event and the
    * first `toType` event STRICTLY after it; converted keys carry the
    * time-to-convert. Two conditional-min aggregates — the first pass finds
    * the funnel entry, the second (one self-aggregate over the same
    * shuffle key, merged by join) finds the earliest qualifying exit.
    * No window, no per-key ordering needed: min() is enough because
    * "first" is a total order on ts_us (ties broken upstream by µs
    * truncation being injective on the ns source — and the aggregate is
    * min-deterministic regardless).
    */
  def funnel(events: DataFrame, key: String,
             fromType: String, toType: String): DataFrame = {
    val entry = events.filter(col("event_type") === fromType)
      .groupBy(col(key)).agg(min(col("ts_us")).as("entry_us"))
    val exit = events.filter(col("event_type") === toType)
      .select(col(key), col("ts_us"))
    entry.join(exit, Seq(key), "left")
      .groupBy(col(key), col("entry_us"))
      .agg(min(when(col("ts_us") > col("entry_us"), col("ts_us"))).as("exit_us"))
      .select(col(key), col("entry_us"), col("exit_us"),
        when(col("exit_us").isNotNull, lit(1)).otherwise(lit(0)).as("converted"),
        (col("exit_us") - col("entry_us")).as("ttc_us"))
  }

  /** Linear multi-touch attribution — the marketing-analytics complement
    * of [[funnel]] and the as-of join: for every conversion event, every
    * touch event by the same key inside the look-back window
    * `(conv_us − windowUs, conv_us]`, each credited an exact integer
    * share of one million micro-units: `10⁶ div n` per touch, with the
    * division REMAINDER going to the earliest touch (ties by touch id) —
    * so per-conversion credit sums to exactly 10⁶ and the split is
    * bit-reproducible in any engine (no float weights).
    *
    * Scale shape: one per-key equi-join (conversions ⋈ touches on the
    * key) with the window as residual, then two window functions over
    * conv_id — the shuffle key is the conversion, bounded by touches
    * actually inside the window. Input needs (event_id, ts_us,
    * event_type, key). */
  def multiTouchAttribution(events: DataFrame, key: String,
                            touchType: String, convType: String,
                            windowUs: Long): DataFrame = {
    require(windowUs > 0, s"bad attribution window $windowUs")
    val touches = events.filter(col("event_type") === touchType)
      .select(col(key), col("event_id").as("touch_id"), col("ts_us").as("touch_us"))
    val convs = events.filter(col("event_type") === convType)
      .select(col(key), col("event_id").as("conv_id"), col("ts_us").as("conv_us"))
    val wN = Window.partitionBy("conv_id")
    val wRank = Window.partitionBy("conv_id").orderBy("touch_us", "touch_id")
    convs.join(touches, Seq(key))
      .filter(col("touch_us") <= col("conv_us") &&
        col("touch_us") > col("conv_us") - windowUs)
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("rk", row_number().over(wRank))
      .select(col("conv_id"), col("touch_id"), col(key),
        (expr("1000000 div n") +
          when(col("rk") === 1, expr("1000000 % n")).otherwise(lit(0L)))
          .as("weight_micro"))
  }

  /** M4 time-series downsampling (Jugel et al., VLDB'14) — the
    * error-free rendering aggregation: per (series, time bucket) keep
    * only the FIRST, LAST, MIN-value and MAX-value points (≤4 rows per
    * pixel column), which provably reproduces the exact line rendering
    * of the full series at that horizontal resolution. The dashboard
    * query shape: a 100 TB metrics table downsampled to
    * |series|·4·width rows.
    *
    * Deterministic by total tie orders: first/last by (ts, id),
    * min/max value by (value, ts, id) — all struct-ordered aggregates,
    * one shuffle on (series, bucket), map-side combined. Buckets are
    * uniform over the GLOBAL [tmin, tmax] range (a 1-row scalar
    * broadcast), exact integer arithmetic. Rows where the four roles
    * coincide dedup, hence ≤4. Output (series, bucket, ts_us, value_c). */
  def m4Downsample(events: DataFrame, seriesCol: String,
                   nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"bad bucket count $nBuckets")
    val rng = events.agg(min("ts_us").as("tmin"), max("ts_us").as("tmax"))
    def pt(c: Column): Column =
      struct(c.getField("ts_us").as("ts_us"), c.getField("value_c").as("value_c"))
    events.crossJoin(broadcast(rng))
      .withColumn("bucket",
        expr(s"((ts_us - tmin) * $nBuckets) div (tmax - tmin + 1)"))
      .groupBy(col(seriesCol), col("bucket"))
      .agg(
        min(struct(col("ts_us"), col("id"), col("value_c"))).as("p_first"),
        max(struct(col("ts_us"), col("id"), col("value_c"))).as("p_last"),
        min(struct(col("value_c"), col("ts_us"), col("id"))).as("p_vmin"),
        max(struct(col("value_c"), col("ts_us"), col("id"))).as("p_vmax"))
      .select(col(seriesCol), col("bucket"),
        explode(array(pt(col("p_first")), pt(col("p_last")),
          pt(col("p_vmin")), pt(col("p_vmax")))).as("p"))
      .select(col(seriesCol), col("bucket"),
        col("p.ts_us").as("ts_us"), col("p.value_c").as("value_c"))
      .distinct()
  }

  /** Weekly cohort-retention matrix — the standard product-analytics view:
    * users are grouped by the epoch week of their FIRST event (the
    * cohort), and each cell (cohort_wk, wk_offset) counts the distinct
    * cohort members active `wk_offset` weeks later. All-integer epoch math
    * (µs div week-µs), so cells are bit-identical in any engine.
    *
    * Scale shape: the cohort table is one partial-aggregated shuffle to
    * |users| rows (≪ events — broadcast/bucket-join at scale), then one
    * count-distinct aggregation over (cohort, offset); nothing global,
    * nothing quadratic. */
  def cohortRetention(events: DataFrame, key: String = "user_id",
                      tsCol: String = "ts"): DataFrame = {
    val ev = events.select(col(key), tsUs(tsCol).as("ts_us"))
      .select(col(key), expr("ts_us div 604800000000").as("wk"))
    val cohorts = ev.groupBy(col(key)).agg(min("wk").as("cohort_wk"))
    ev.join(cohorts, Seq(key))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("wk_offset"))
      .agg(countDistinct(col(key)).as("n_users"))
  }

  /** Per-group z-score outliers in PURE 64-bit integer arithmetic: flag
    * rows with |x − μ| > `sigmas`·σ by clearing the denominators —
    *
    *   (n·x − Σx)² > sigmas² · (n·Σx² − (Σx)²)
    *
    * (both sides = n⁴·the real quantities). No float mean, no sqrt, no
    * boundary-rounding hazard: the predicate is exact, so the flagged set
    * is bit-identical on any partitioning and any engine — the property
    * that makes an outlier gate auditable in a data pipeline.
    *
    * The predicate arithmetic runs in DECIMAL(38,0): the squared terms
    * reach n²·x² ≈ 10²¹ at only 10⁵ rows/group — past 2⁶³, where Spark's
    * ANSI mode rightly throws (caught by the 10× scale harness). Exact
    * decimal keeps the determinism claim at any realistic group size
    * (overflow now needs n·x > 10¹⁹); DuckDB's HUGEINT sums are the same
    * integers. Tungsten handles ≤38-digit decimals as two longs — still
    * an order of magnitude cheaper than any float-tolerance scheme. */
  def zscoreOutliers(events: DataFrame, groupCol: String = "event_type",
                     valueCol: String = "value", sigmas: Int = 2): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val ev = events.select(col("event_id"), col(groupCol),
      cents(col(valueCol)).as("value_c"))
    val stats = ev.groupBy(col(groupCol)).agg(count(lit(1)).as("n"),
      sum(dec(col("value_c"))).as("s"),
      sum(dec(col("value_c")) * dec(col("value_c"))).as("ss"))
    val dev = dec(col("n")) * dec(col("value_c")) - col("s")
    ev.join(stats, Seq(groupCol))
      .filter(dev * dev > lit(sigmas.toLong * sigmas) *
        (dec(col("n")) * col("ss") - col("s") * col("s")))
      .select(col("event_id"), col(groupCol), col("value_c"))
  }

  /** Per-group ROBUST outliers via median absolute deviation: flag rows
    * with |x − median| > k·MAD. The z-score gate ([[zscoreOutliers]])
    * breaks down exactly when outliers matter most — the outliers
    * themselves inflate μ and σ until they mask each other — while the
    * median/MAD pair has a 50% breakdown point (Hampel; Leys et al.,
    * J. Exp. Soc. Psych. '13).
    *
    * Exactness on an engine boundary: medians of integers land on half-
    * integers, so everything is DOUBLED into exact integer lanes —
    * m2 = round(2·median(x_c)) (half-cents), dev2 = |2·x_c − m2|
    * (half-cents, integer), mad4 = round(2·median(dev2)) (quarter-cents)
    * — and the flag predicate |x−m| > k·MAD clears denominators to the
    * all-integer 2·dev2 > k·mad4. No float compare anywhere, so the
    * flagged set is partitioning- and engine-independent.
    *
    * Shape: two small per-group aggregates (exact median over the
    * reduced group domain) broadcast back onto the row stream — two
    * scans, no window, no self-join. Production note at petabyte group
    * sizes: swap `median` for `percentile_approx(…, 0.5)` and keep the
    * same doubling algebra. */
  def madOutliers(events: DataFrame, groupCol: String = "event_type",
                  valueCol: String = "value", k: Int = 3): DataFrame = {
    val ev = events.select(col("event_id"), col(groupCol),
      cents(col(valueCol)).as("value_c"))
    val med = ev.groupBy(col(groupCol))
      .agg(round(median(col("value_c")) * 2).cast("long").as("m2"))
    val dev = ev.join(broadcast(med), Seq(groupCol))
      .withColumn("dev2", abs(col("value_c") * 2 - col("m2")))
    val mad = dev.groupBy(col(groupCol))
      .agg(round(median(col("dev2")) * 2).cast("long").as("mad4"))
    dev.join(broadcast(mad), Seq(groupCol))
      .filter(col("dev2") * 2 > lit(k.toLong) * col("mad4"))
      .select(col("event_id"), col(groupCol), col("value_c"), col("dev2"))
  }

  /** First-order Markov transition matrix of the event stream: for every
    * ordered (from_type → to_type) pair, the observed count and the
    * transition probability P(to | from) — the behavioral-model summary
    * (next-action prediction, anomaly scoring, funnel discovery) every
    * event pipeline eventually wants. Successors are per-user in strict
    * (ts, event_id) order — the same deterministic tie rule as the
    * as-of/sessionize family — so the pair stream is reproducible.
    *
    * Probability is emitted in exact integer micro-units
    * (n·10⁶ div row_total): the denominator is the from-type's total
    * outgoing count, so rows of the matrix sum to ≤10⁶ with only the
    * div-truncation deficit. Shape: one per-user window (hash shuffle on
    * user, the per-key depth constant at scale) + one tiny
    * (|types|², map-side-combined) aggregate; the probability join is a
    * broadcast. */
  def markovTransitions(events: DataFrame, userCol: String = "user_id",
                        typeCol: String = "event_type",
                        tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col("ts_us"), col("event_id"))
    val pairs = events
      .select(col(userCol), col("event_id"), col(typeCol).as("from_type"),
        tsUs(tsCol).as("ts_us"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum("n").as("total"))
    pairs.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 1000000) div total").as("p_micro"))
  }

  /** Top-k most common length-3 event paths (behavioral sequence mining,
    * [[markovTransitions]]' higher-order sibling): every consecutive
    * (e, e', e'') triple per user in strict (ts, event_id) order,
    * counted corpus-wide, top-k by frequency.
    *
    * Shape: TWO leads over ONE shared window spec — a single hash
    * shuffle on the user key and a single per-key sort produce both
    * successors — then a map-side-combined count on the ≤|types|³
    * domain, then `orderBy().limit(k)` which Spark plans as
    * TakeOrderedAndProject (per-partition heaps, no global sort).
    * Output: (rank, e1, e2, e3, n), ties broken lexicographically. */
  def pathTrigrams(events: DataFrame, k: Int = 20,
                   userCol: String = "user_id", typeCol: String = "event_type",
                   tsCol: String = "ts"): DataFrame = {
    require(k > 0, s"bad k=$k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col("ts_us"), col("event_id"))
    val top = events
      .select(col(userCol), col("event_id"), col(typeCol).as("e1"),
        tsUs(tsCol).as("ts_us"))
      .withColumn("e2", lead(col("e1"), 1).over(w))
      .withColumn("e3", lead(col("e1"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(k)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))).cast("long"))
      .select(col("rank"), col("e1"), col("e2"), col("e3"), col("n"))
  }

  /** Week-over-week volume change per event type — the rate-anomaly
    * monitor (traffic drops, ingestion stalls, bot bursts) run over any
    * event feed. Weeks are epoch-aligned integer buckets
    * (ts_us div 7·86400·10⁶, the [[cohortRetention]] convention);
    * `delta_micro` = (n − prev)·10⁶ div prev is the exact integer
    * relative change vs the PREVIOUS OBSERVED week for that type —
    * sparse form: a type absent for whole weeks compares across the gap
    * (the zero-count weeks are the anomaly the reader sees in wk/prev_wk
    * being non-adjacent).
    *
    * Shape: one map-side-combined aggregate to (type, week) — a tiny
    * domain — then a lag window partitioned by type over the reduced
    * table. Output: (event_type, wk, prev_wk, n, prev_n, delta_micro),
    * first observed week of each type omitted (no baseline). */
  def rateChange(events: DataFrame, typeCol: String = "event_type",
                 tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = events
      .select(col(typeCol), tsUs(tsCol).as("ts_us"))
      .select(col(typeCol), expr("ts_us div 604800000000").as("wk"))
      .groupBy(col(typeCol), col("wk")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(typeCol)).orderBy(col("wk"))
    weekly
      .withColumn("prev_wk", lag(col("wk"), 1).over(w))
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .filter(col("prev_n").isNotNull)
      // deltas go negative — `div` truncates toward zero, and so does
      // DuckDB's integer `//` (measured: −71e6//476 = −149159, the
      // truncated value), so the two engines agree on negative deltas
      .select(col(typeCol), col("wk"), col("prev_wk"), col("n"), col("prev_n"),
        expr("((n - prev_n) * 1000000) div prev_n").as("delta_micro"))
  }

  /** One-sided CUSUM change-point detection (Page 1954): per key, find
    * the FIRST event where the cumulative upward drift of the value
    * series above `targetC` exceeds decision bound `hC` — the sequential
    * drift alarm (billing spikes, sensor drift, metric creep) that a
    * plain threshold misses because no single value is anomalous.
    *
    * The textbook recursion S_i = max(0, S_{i−1} + x_i − target) is not
    * a window aggregate, but it has an exact closed form: with prefix
    * P_i = Σ_{j≤i}(x_j − target) and P_0 = 0,
    *
    *   S_i = P_i − min(0, min_{j≤i} P_j)
    *
    * — a running sum and a running min over ONE shared (key, ts, id)
    * window sort, all integer cents, engine-exact. The first S_i > h per
    * key is then a min_by over the alarm rows. One hash shuffle on the
    * key, one per-partition sort, one tiny aggregate.
    *
    * Output: (key, alarm_ts_us, alarm_event_id, s_c) — one row per key
    * that ever alarms; quiet keys are absent (the monitoring contract). */
  def cusum(events: DataFrame, targetC: Long, hC: Long,
            keyCol: String = "user_id", tsCol: String = "ts",
            valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col(keyCol), col("event_id"), tsUs(tsCol).as("ts_us"),
        (cents(col(valueCol)) - targetC).as("dx"))
      .withColumn("p", sum(col("dx")).over(w))
      .withColumn("s_c", col("p") - least(lit(0L), min(col("p")).over(w)))
      .filter(col("s_c") > hC)
      .groupBy(col(keyCol))
      .agg(min(struct(col("ts_us"), col("event_id"), col("s_c"))).as("first"))
      .select(col(keyCol), col("first.ts_us").as("alarm_ts_us"),
        col("first.event_id").as("alarm_event_id"), col("first.s_c").as("s_c"))
  }

  /** RFM segmentation — the classic customer scoring: per key, Recency
    * (days since last event, against the corpus max day), Frequency
    * (event count), Monetary (integer-cents sum), each scored 1..nt by
    * quantile (nt=5 → quintiles, 5 = best), segment = the concatenated
    * code ("555" = recent, frequent, high-spend).
    *
    * Scores are `ntile(nt)` with the metric ordered so the best value
    * lands in tile nt, ties broken by the key — deterministic and
    * engine-identical. The three ntile windows are unpartitioned BUT run
    * over the REDUCED per-key table (one row per key, |keys| ≪ N — the
    * q13 reduced-domain exception); at billions of keys the production
    * swap is approx-quantile cut points against the same reduced table,
    * same downstream algebra. */
  def rfm(events: DataFrame, nt: Int = 5, keyCol: String = "user_id",
          tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    require(nt > 0, s"bad tile count $nt")
    val day = 86400000000L
    val per = events
      .select(col(keyCol), tsUs(tsCol).as("ts_us"),
        cents(col(valueCol)).as("v_c"))
      .groupBy(col(keyCol))
      .agg(max(expr(s"ts_us div $day")).as("last_day"),
        count(lit(1)).as("n"), sum(col("v_c")).as("mon_c"))
    val maxDay = per.agg(max(col("last_day")).as("max_day"))
    def tileW(o: Column*) = ntile(nt).over(Window.orderBy(o: _*)).cast("long")
    per.crossJoin(broadcast(maxDay))
      .select(col(keyCol), (col("max_day") - col("last_day")).as("recency_days"),
        col("n"), col("mon_c"))
      .withColumn("r_score", tileW(col("recency_days").desc, col(keyCol)))
      .withColumn("f_score", tileW(col("n").asc, col(keyCol)))
      .withColumn("m_score", tileW(col("mon_c").asc, col(keyCol)))
      .withColumn("segment", concat(col("r_score"), col("f_score"), col("m_score")))
  }

  /** Daily time-spine densification with EXACT linear interpolation — the
    * gap-filler every time-series feature pipeline needs: each key's
    * daily value series (sum of cents per observed day) is completed to
    * every day between its first and last observation; missing days get
    * the linear interpolation between the surrounding observed days, in
    * micro-cents with the division exact and truncating identically in
    * both engines.
    *
    * Shape: per-key daily aggregate (one shuffle), per-key min/max day +
    * `sequence()` explode for the spine (no cross join against a global
    * calendar — each key fans out only its own span), left join of spine
    * to observations (same key+day hash), then the q123 IGNORE NULLS
    * window idiom — last/first over one per-key sort carry
    * (prev_d, prev_v) and (next_d, next_v) across the gaps. Interp:
    *
    *   val_micro = prev_v·10⁶ + ((next_v − prev_v)·(d − prev_d)·10⁶)
    *                 div (next_d − prev_d)
    *
    * Spine edges are observed days by construction, so filled rows
    * always have both neighbors. Output: (key, d, val_micro, src) with
    * src ∈ obs | fill. */
  def gapFillDaily(events: DataFrame, keyCol: String = "user_id",
                   tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    val day = 86400000000L
    val daily = events
      .select(col(keyCol), tsUs(tsCol).as("ts_us"), cents(col(valueCol)).as("v_c"))
      .select(col(keyCol), expr(s"ts_us div $day").as("d"), col("v_c"))
      .groupBy(col(keyCol), col("d")).agg(sum(col("v_c")).as("v_c"))
    val spine = daily.groupBy(col(keyCol))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col(keyCol), explode(sequence(col("d0"), col("d1"))).as("d"))
    val wPrev = Window.partitionBy(col(keyCol)).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col(keyCol)).orderBy(col("d"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(daily, Seq(keyCol, "d"), "left")
      .withColumn("prev_v", last(col("v_c"), ignoreNulls = true).over(wPrev))
      .withColumn("prev_d",
        last(when(col("v_c").isNotNull, col("d")), ignoreNulls = true).over(wPrev))
      .withColumn("next_v", first(col("v_c"), ignoreNulls = true).over(wNext))
      .withColumn("next_d",
        first(when(col("v_c").isNotNull, col("d")), ignoreNulls = true).over(wNext))
      .select(col(keyCol), col("d"),
        when(col("v_c").isNotNull, col("v_c") * 1000000L)
          .otherwise(expr("prev_v * 1000000 + ((next_v - prev_v) * (d - prev_d) * 1000000) div (next_d - prev_d)"))
          .as("val_micro"),
        when(col("v_c").isNotNull, lit("obs")).otherwise(lit("fill")).as("src"))
  }

  /** A/B experiment readout: per event_type 2×2 contingency table
    * (variant A = even user_id, "success" = value ≥ threshold) plus the
    * three decision numbers, ALL in exact integer arithmetic so the
    * readout is reproducible across engines and partitionings:
    *
    *  - per-variant success rates in ppm (truncating integer division);
    *  - relative lift of A over B in ppm: sa·(sb+fb)·1e6 div ((sa+fa)·sb)
    *    — the risk ratio, a monotone transform of the log-lift;
    *  - the chi-square statistic in micro-units via its exact rational
    *    closed form N·(sa·fb − fa·sb)²·1e6 div ((sa+fa)(sb+fb)(sa+sb)(fa+fb)).
    *
    * The chi² numerator reaches N⁵/16: DECIMAL(38,0) intermediates keep it
    * exact to N ≈ 2×10⁶ per cell group (the 100× gate scale); the quotient
    * itself is ≤ N·1e6, comfortably a long. One aggregation, one shuffle on
    * event_type; the contingency build is a map-side conditional sum. */
  def abTestReport(events: DataFrame, succThreshold: Double = 50.0): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val ev = events.select(col("event_type"),
      (col("user_id") % 2 === 0).as("in_a"),
      (col("value") >= succThreshold).as("succ"))
    val ct = ev.groupBy("event_type").agg(
      sum(when(col("in_a") && col("succ"), 1L).otherwise(0L)).as("sa"),
      sum(when(col("in_a") && !col("succ"), 1L).otherwise(0L)).as("fa"),
      sum(when(!col("in_a") && col("succ"), 1L).otherwise(0L)).as("sb"),
      sum(when(!col("in_a") && !col("succ"), 1L).otherwise(0L)).as("fb"))
    // `div` (IntegralDivide) on DECIMAL operands is the EXACT truncating
    // integral quotient — decimal `/` would round at its result scale and
    // a one-ulp round-up at a quotient boundary would diverge from the
    // oracle's `//`. Products stay below 10³⁸ up to ~2×10⁶ rows per cell.
    ct.withColumn("n", col("sa") + col("fa") + col("sb") + col("fb"))
      .withColumn("dlt", dec(col("sa")) * dec(col("fb")) - dec(col("fa")) * dec(col("sb")))
      .withColumn("num", dec(col("n")) * col("dlt") * col("dlt") * dec(lit(1000000L)))
      .withColumn("den", dec(col("sa") + col("fa")) * dec(col("sb") + col("fb")) *
        dec(col("sa") + col("sb")) * dec(col("fa") + col("fb")))
      .select(col("event_type"), col("n"),
        col("sa"), col("fa"), col("sb"), col("fb"),
        // zero-margin guards: a type with an empty variant (or an empty
        // contingency margin) reports NULL instead of tripping ANSI
        // DIVIDE_BY_ZERO — the q133 discipline (unhit on this data,
        // guarded for degenerate inputs)
        when(col("sa") + col("fa") > 0,
          expr("(sa * 1000000) div (sa + fa)")).as("p_a_ppm"),
        when(col("sb") + col("fb") > 0,
          expr("(sb * 1000000) div (sb + fb)")).as("p_b_ppm"),
        when(col("sb") > 0 && col("sa") + col("fa") > 0, expr(
          "(CAST(sa AS DECIMAL(38,0)) * (sb + fb) * 1000000) div ((sa + fa) * sb)"))
          .as("lift_ppm"),
        when(col("den") > 0, expr("num div den")).as("chi2_micro"))
  }

  /** Weekday seasonal profile + anomaly counts — the classic two-pass
    * seasonal-baseline decomposition, exact-integer end to end: pass 1
    * aggregates the (type, ISO weekday) seasonal mean in truncated cents;
    * pass 2 re-scans with the tiny profile broadcast back and counts
    * events whose |value − seasonal mean| exceeds `anomC`. Two scans is
    * the honest cost of an exact baseline-then-residual pass (a one-scan
    * form needs the mean before it finishes reading); the profile itself
    * is ≤ |types|·7 rows at any corpus size. ISO weekday comes from pure
    * epoch-day arithmetic ((day+3) % 7 + 1; day 0 = Thursday) — no
    * calendar library, identical in every engine.
    * Output: (event_type, isodow, n, mean_c, n_anom). */
  def seasonalProfile(events: DataFrame, anomC: Long = 10000L): DataFrame = {
    val ev = events.select(col("event_type"), tsUs("ts").as("ts_us"),
        cents(col("value")).as("v_c"))
      .withColumn("isodow", expr("(ts_us div 86400000000 + 3) % 7 + 1"))
    val prof = ev.groupBy("event_type", "isodow")
      .agg(count(lit(1)).as("n"), sum("v_c").as("sum_c"))
      .withColumn("mean_c", expr("sum_c div n"))
    val anom = ev
      .join(broadcast(prof.select("event_type", "isodow", "mean_c")),
        Seq("event_type", "isodow"))
      .filter(abs(col("v_c") - col("mean_c")) > anomC)
      .groupBy("event_type", "isodow").agg(count(lit(1)).as("n_anom"))
    prof.join(anom, Seq("event_type", "isodow"), "left")
      .select(col("event_type"), col("isodow"), col("n"), col("mean_c"),
        coalesce(col("n_anom"), lit(0L)).as("n_anom"))
  }

  /** Integer exponential moving average, α = 1/2: per key, over the
    * (ts, event_id)-ordered value-cents sequence,
    *
    *   s₁ = x₁;   sᵢ = (sᵢ₋₁ + xᵢ) div 2
    *
    * A recurrence has no closed relational form, but it IS a left fold —
    * expressed here as one `aggregate` higher-order function over the
    * per-key sorted array (codegen'd, no UDF): ONE shuffle on the key,
    * then a per-key fold of strictly bounded state (a single long).
    * `collect_list` holds one user's purchase history in memory — the
    * per-key-bounded assumption every sessionizer here shares; at 100 TB
    * user histories are bounded, corpus size grows the number of keys.
    * Values must be non-negative: truncating div agrees across engines
    * on positives (all graft monetary columns are).
    * Output: (key, n, ewma_c). */
  def ewmaHalf(events: DataFrame, typeFilter: String = "purchase",
               keyCol: String = "user_id", tsCol: String = "ts",
               valueCol: String = "value"): DataFrame =
    events.filter(col("event_type") === typeFilter)
      .select(col(keyCol), tsUs(tsCol).as("ts_us"), col("event_id"),
        cents(col(valueCol)).as("x"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("x"))))
          .as("seq"))
      .select(col(keyCol), col("n"),
        expr("aggregate(slice(seq, 2, size(seq) - 1), seq[0].x," +
          " (acc, e) -> (acc + e.x) div 2)").as("ewma_c"))

  /** Holt linear-trend double exponential smoothing, α = β = 1/2 — the
    * two-state extension of [[ewmaHalf]]: per event type, over the
    * day-ordered daily revenue-cents series,
    *
    *   l₁ = x₁, b₁ = 0
    *   lₜ = half(lₜ₋₁ + bₜ₋₁ + xₜ)          (level: forecast blended with obs)
    *   bₜ = half(bₜ₋₁ + (lₜ − lₜ₋₁))        (trend: slope blended with drift)
    *
    * where half(v) is the SIGN-SAFE truncating halve —
    * CASE WHEN v ≥ 0 THEN v div 2 ELSE −((−v) div 2) END — because the
    * trend state goes negative on declining series and truncating division
    * must agree across engines (Spark's `div` truncates toward zero;
    * DuckDB's `//` floors), so negatives are routed through the positive
    * lane in BOTH. The recurrence is a left fold with two-long bounded
    * state, run as one codegen'd `aggregate` HOF over the per-key sorted
    * day array (≤ calendar-span elements — the per-key-bounded contract
    * every fold here shares): ONE shuffle to the (type, day) domain, one
    * k-row fold. Output: (event_type, n_days, level_c, trend_c,
    * forecast_c = l + b, the one-step-ahead forecast). */
  /** Simpson's-paradox audit of the A/B readout: the pooled success-rate
    * contrast vs the same contrast WITHIN each ISO-weekday stratum, all
    * in exact integers — diff_num = s_a·n_b − s_b·n_a carries the sign
    * without any division, ppm rates come from a DECIMAL lane, and a
    * stratum FLIPS when its contrast sign opposes the pooled sign (the
    * aggregation-reversal every stratified readout must check before
    * trusting the pooled number). Weekday is pure integer epoch-day
    * arithmetic (((day + 3) mod 7) + 1 — ISO, Thursday epoch), identical
    * in both engines. One reduce to the (dow, arm) domain; pooled masses
    * are windows over the ≤7-row dow domain. */
  def simpsonAudit(events: DataFrame, succThreshold: Double = 50.0,
                   userCol: String = "user_id", tsCol: String = "ts",
                   valueCol: String = "value"): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val w = Window.partitionBy(lit(1)) // the dow domain
    events
      .select(expr(s"((($tsCol div 1000) div 86400000000) + 3) % 7 + 1")
          .as("dow"),
        (col(userCol) % 2 === 0).as("in_a"),
        (col(valueCol) >= succThreshold).as("succ"))
      .groupBy("dow")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("in_a") && col("succ"), 1L).otherwise(0L)).as("s_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("in_a") && col("succ"), 1L).otherwise(0L)).as("s_b"))
      .withColumn("diff_num",
        dec(col("s_a")) * dec(col("n_b")) - dec(col("s_b")) * dec(col("n_a")))
      .withColumn("p_na", sum("n_a").over(w))
      .withColumn("p_sa", sum("s_a").over(w))
      .withColumn("p_nb", sum("n_b").over(w))
      .withColumn("p_sb", sum("s_b").over(w))
      .withColumn("pooled_num",
        dec(col("p_sa")) * dec(col("p_nb")) - dec(col("p_sb")) * dec(col("p_na")))
      .select(col("dow"), col("n_a"), col("s_a"), col("n_b"), col("s_b"),
        expr("""CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
               |     WHEN diff_num >= 0 THEN
               |       (diff_num * 1000000) div (CAST(n_a AS DECIMAL(38,0)) * n_b)
               |     ELSE
               |       -(((-diff_num) * 1000000) div (CAST(n_a AS DECIMAL(38,0)) * n_b))
               |END""".stripMargin).cast("long").as("diff_ppm"),
        expr("""CASE WHEN pooled_num >= 0 THEN
               |       (pooled_num * 1000000) div (CAST(p_na AS DECIMAL(38,0)) * p_nb)
               |     ELSE
               |       -(((-pooled_num) * 1000000) div (CAST(p_na AS DECIMAL(38,0)) * p_nb))
               |END""".stripMargin).cast("long").as("pooled_diff_ppm"),
        ((col("diff_num") > 0 && col("pooled_num") < 0) ||
          (col("diff_num") < 0 && col("pooled_num") > 0)).as("flips"))
  }

  /** Covariate-balance audit for the q177 experiment assignment
    * (arm A = even user id): per user-level covariate (event count,
    * revenue-cents mass) the per-arm moments are folded exactly, and the
    * standardized mean difference
    *
    *   SMD = (mean_A − mean_B) / sqrt((var_A + var_B) / 2)
    *
    * is emitted as floor(1000·SMD) — doubles derived from the SAME exact
    * integer pieces in both engines (the q170 floor-double device), with
    * sample variances' num/den kept in DECIMAL lanes until the final
    * division. |SMD| ≲ 0.1 is the conventional "balanced" bar; a skewed
    * assignment shows up here before any readout is trusted (the q247
    * SRM tripwire's continuous-covariate partner). Zero pooled variance
    * reports NULL. Output per covariate: (metric, n_a, n_b, sum_a,
    * sum_b, smd_milli). */
  def covariateBalance(events: DataFrame, userCol: String = "user_id",
                       valueCol: String = "value"): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // one per-user reduce feeds both melted metrics
    val per = Materialize.cut(events.groupBy(col(userCol).as("u"))
      .agg(count(lit(1)).as("n_ev"), sum(cents(col(valueCol))).as("sum_c"))
      .select((col("u") % 2 === 0).as("in_a"), col("n_ev"), col("sum_c")))
    val melted = per.select(col("in_a"), lit("n_events").as("metric"),
        col("n_ev").as("x"))
      .union(per.select(col("in_a"), lit("sum_cents"), col("sum_c")))
    val m = melted.groupBy("metric", "in_a")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(dec(col("x")) * dec(col("x"))).as("sx2"))
      // exact variance pieces: num = n·Σx² − (Σx)², den = n·(n−1)
      .select(col("metric"), col("in_a"), col("n"), col("sx"),
        (dec(col("n")) * col("sx2") - dec(col("sx")) * dec(col("sx")))
          .as("vnum"),
        (dec(col("n")) * (dec(col("n")) - 1)).as("vden"))
    val a = m.filter(col("in_a"))
      .select(col("metric"), col("n").as("n_a"), col("sx").as("sum_a"),
        col("vnum").as("vnum_a"), col("vden").as("vden_a"))
    val b = m.filter(!col("in_a"))
      .select(col("metric"), col("n").as("n_b"), col("sx").as("sum_b"),
        col("vnum").as("vnum_b"), col("vden").as("vden_b"))
    a.join(b, Seq("metric"))
      .select(col("metric"), col("n_a"), col("n_b"), col("sum_a"),
        col("sum_b"),
        expr("""CASE WHEN CAST(vnum_a AS DOUBLE) / CAST(vden_a AS DOUBLE)
               |          + CAST(vnum_b AS DOUBLE) / CAST(vden_b AS DOUBLE) = 0.0
               |     THEN NULL
               |     ELSE CAST(floor(1000.0 *
               |       (CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
               |        - CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE))
               |       / sqrt((CAST(vnum_a AS DOUBLE) / CAST(vden_a AS DOUBLE)
               |               + CAST(vnum_b AS DOUBLE) / CAST(vden_b AS DOUBLE))
               |              / 2.0)) AS BIGINT)
               |END""".stripMargin).as("smd_milli"))
  }

  /** Conversion-latency report: per user, the seconds between the FIRST
    * `fromType` event and the first `toType` event AT OR AFTER it, then
    * the exact latency distribution — count, conversion share in ppm, and
    * exact order-statistic percentiles (p25/p50/p75/p90, the ⌈q·n⌉ rank
    * rule) computed over the REDUCED latency-value domain with one
    * cumulative window, never a row-level global sort (the q83/q160
    * discipline). One row out.
    *
    * Shape: two per-user reduces (first-from, first-to-after-from joined
    * on the user key), one reduce to the distinct-latency domain. */
  def conversionLatency(events: DataFrame, fromType: String = "view",
                        toType: String = "purchase",
                        typeCol: String = "event_type",
                        userCol: String = "user_id",
                        tsCol: String = "ts"): DataFrame = {
    val ev = events.select(col(typeCol).as("et"), col(userCol).as("u"),
      tsUs(tsCol).as("ts_us"))
    // feeds the join AND the denominator
    val from = Materialize.cut(ev.filter(col("et") === fromType)
      .groupBy("u").agg(min("ts_us").as("t0")))
    val lat = ev.filter(col("et") === toType)
      .join(from, Seq("u"))
      .filter(col("ts_us") >= col("t0"))
      .groupBy("u").agg(min("ts_us").as("t1"), min("t0").as("t0m"))
      .select(expr("(t1 - t0m) div 1000000").as("lat_s"))
    val dom = lat.groupBy("lat_s").agg(count(lit(1)).as("cnt"))
    val wc = Window.orderBy("lat_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dom.select(col("lat_s"), col("cnt"),
      sum("cnt").over(wc).as("cum"))
    def pct(q: Int): Column =
      min(when(col("cum") * 100 >= col("n_conv") * q, col("lat_s")))
        .as(s"p${q}_s")
    cum.crossJoin(broadcast(dom.agg(sum("cnt").as("n_conv"))))
      .crossJoin(broadcast(from.agg(count(lit(1)).as("n_from"))))
      .groupBy("n_from", "n_conv")
      .agg(pct(25), pct(50), pct(75), pct(90), max("lat_s").as("max_s"))
      .select(col("n_from"), col("n_conv"),
        expr("(n_conv * 1000000) div n_from").as("conv_ppm"),
        col("p25_s"), col("p50_s"), col("p75_s"), col("p90_s"), col("max_s"))
  }

  /** Inter-arrival burstiness profile per event type: gaps are the
    * second-truncated deltas between CONSECUTIVE events of the same
    * (type, user) sequence (ties broken by event id — a total order, so
    * both engines walk identical sequences), and the headline is the
    * squared coefficient of variation in exact milli units,
    *
    *   cv2_milli = ((n·Σg² − (Σg)²) · 1000) div (Σg)²
    *
    * — the Poisson yardstick: an exponential (memoryless) arrival process
    * scores ≈1000, bursty traffic scores above, a metronome scores 0. The
    * num lives in a DECIMAL(38) lane (n·Σg² passes 2⁶³ near 10⁷ events);
    * an all-zero gap mass reports NULL. One lag window per (type, user)
    * partition + one reduce to the type domain — per-key depth is what it
    * is in the data; 10× users means 10× partitions, not deeper ones. */
  def interarrival(events: DataFrame, typeCol: String = "event_type",
                   userCol: String = "user_id", tsCol: String = "ts",
                   idCol: String = "event_id"): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val w = Window.partitionBy("event_type", "user")
      .orderBy("ts_us", "event_id")
    events
      .select(col(typeCol).as("event_type"), col(userCol).as("user"),
        tsUs(tsCol).as("ts_us"), col(idCol).as("event_id"))
      .withColumn("prev", lag("ts_us", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"),
        expr("(ts_us - prev) div 1000000").as("g"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), sum("g").as("sum_gap_s"),
        sum(dec(col("g")) * dec(col("g"))).as("sg2"))
      .select(col("event_type"), col("n_gaps"), col("sum_gap_s"),
        expr("sum_gap_s div n_gaps").as("mean_gap_s"),
        expr("""CASE WHEN sum_gap_s = 0 THEN NULL
               |     ELSE ((CAST(n_gaps AS DECIMAL(38,0)) * sg2
               |             - CAST(sum_gap_s AS DECIMAL(38,0)) * sum_gap_s) * 1000)
               |          div (CAST(sum_gap_s AS DECIMAL(38,0)) * sum_gap_s) END"""
          .stripMargin).cast("long").as("cv2_milli"))
  }

  /** One-step-ahead BACKTEST of [[holtHalf]] — the "is the forecast any
    * good" readout: the same (level, trend) recurrence additionally
    * accumulates, per step t ≥ 2, the error of the forecast made BEFORE
    * seeing xₜ (f = lₜ₋₁ + bₜ₋₁):
    *
    *   sae += |xₜ − f|   (absolute error mass)
    *   se  += (xₜ − f)   (signed bias mass)
    *   sax += |xₜ|       (actual mass, the WMAPE denominator)
    *
    * — still ONE five-long-state codegen'd fold per key, same shuffle
    * shape as [[holtHalf]]. Metrics are single divisions of the folded
    * masses (no per-term ratio, so no per-term zero guards): mae_c and
    * sign-safe bias_c over n_eval = n_days − 1, wmape_milli =
    * sae·1000 div sax. A single-day series (n_eval = 0) and an all-zero
    * actual mass report NULL rather than tripping ANSI. */
  def holtBacktest(events: DataFrame, typeCol: String = "event_type",
                   tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    def half(v: String): String =
      s"CASE WHEN ($v) >= 0 THEN ($v) div 2 ELSE -((-($v)) div 2) END"
    val lNew = half("acc.l + acc.b + e.x")
    events
      .select(col(typeCol).as("event_type"),
        expr(s"((($tsCol) div 1000)) div 86400000000").as("day"),
        cents(col(valueCol)).as("xc"))
      .groupBy("event_type", "day").agg(sum("xc").as("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sort_array(collect_list(struct(col("day"), col("x")))).as("seq"))
      .select(col("event_type"), col("n_days"),
        expr(s"""aggregate(slice(seq, 2, size(seq) - 1),
                |  named_struct('l', seq[0].x, 'b', CAST(0 AS BIGINT),
                |    'sae', CAST(0 AS BIGINT), 'se', CAST(0 AS BIGINT),
                |    'sax', CAST(0 AS BIGINT)),
                |  (acc, e) -> named_struct(
                |    'l', $lNew,
                |    'b', ${half(s"acc.b + ($lNew) - acc.l")},
                |    'sae', acc.sae + abs(e.x - (acc.l + acc.b)),
                |    'se', acc.se + (e.x - (acc.l + acc.b)),
                |    'sax', acc.sax + abs(e.x)))""".stripMargin)
          .as("st"))
      .select(col("event_type"), col("n_days"),
        (col("n_days") - 1).as("n_eval"),
        col("st.sae").as("sae_c"), col("st.se").as("se_c"),
        col("st.sax").as("sax_c"),
        expr("CASE WHEN n_days = 1 THEN NULL ELSE st.sae div (n_days - 1) END")
          .as("mae_c"),
        expr("""CASE WHEN n_days = 1 THEN NULL
               |     WHEN st.se >= 0 THEN st.se div (n_days - 1)
               |     ELSE -((-st.se) div (n_days - 1)) END""".stripMargin)
          .as("bias_c"),
        expr("CASE WHEN st.sax = 0 THEN NULL ELSE (st.sae * 1000) div st.sax END")
          .as("wmape_milli"))
  }

  def holtHalf(events: DataFrame, typeCol: String = "event_type",
               tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    def half(v: String): String =
      s"CASE WHEN ($v) >= 0 THEN ($v) div 2 ELSE -((-($v)) div 2) END"
    val lNew = half("acc.l + acc.b + e.x")
    events
      .select(col(typeCol).as("event_type"),
        expr(s"((($tsCol) div 1000)) div 86400000000").as("day"),
        cents(col(valueCol)).as("xc"))
      .groupBy("event_type", "day").agg(sum("xc").as("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sort_array(collect_list(struct(col("day"), col("x")))).as("seq"))
      .select(col("event_type"), col("n_days"),
        expr(s"""aggregate(slice(seq, 2, size(seq) - 1),
                |  named_struct('l', seq[0].x, 'b', CAST(0 AS BIGINT)),
                |  (acc, e) -> named_struct(
                |    'l', $lNew,
                |    'b', ${half(s"acc.b + ($lNew) - acc.l")}))""".stripMargin)
          .as("st"))
      .select(col("event_type"), col("n_days"),
        col("st.l").as("level_c"), col("st.b").as("trend_c"),
        (col("st.l") + col("st.b")).as("forecast_c"))
  }

  /** Kaplan–Meier survival curve (Kaplan & Meier, JASA 1958) in exact
    * integer ppm — time-to-first-`eventType` per user, right-censored at
    * the user's last observed event.
    *
    * Subjects: one row per user; duration = whole days from the user's
    * first event to their first `eventType` event (observed) or to their
    * last event (censored). The estimator's step table lives on the
    * REDUCED duration domain (distinct day counts, bounded by the data's
    * calendar span — never row count), so:
    *  - the at-risk counts n_i come from ONE reverse-cumulative window
    *    over that tiny domain (the q160/q175 reduced-domain exception to
    *    the no-unpartitioned-window rule);
    *  - the survival product S_i = S_{i-1}·(n_i−d_i)/n_i is an integer
    *    recurrence in ppm units, S_i = (S_{i-1}·(n_i−d_i)) div n_i — run
    *    as one codegen'd HOF fold over the collected step array (≤ span
    *    days long), replayable bit-for-bit as a recursive CTE. S ≤ 10⁶
    *    and n ≤ |users| keep the product far under 2⁶³.
    * The censored-at-t convention is the standard one: censoring happens
    * AFTER events at the same time, so tied censored subjects stay in n_i.
    * Output: (t_days, d_events, n_at_risk, surv_ppm), one row per event
    * time. */
  def kaplanMeier(events: DataFrame, eventType: String = "purchase",
                  keyCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    val dayUs = 86400000000L
    val subj = events
      .select(col(keyCol), tsUs(tsCol).as("ts_us"), col("event_type"))
      .groupBy(col(keyCol))
      .agg(min("ts_us").as("start_us"), max("ts_us").as("end_us"),
        min(when(col("event_type") === eventType, col("ts_us"))).as("first_evt_us"))
      .select(
        when(col("first_evt_us").isNotNull, 1L).otherwise(0L).as("observed"),
        expr(s"(coalesce(first_evt_us, end_us) - start_us) div ${dayUs}L")
          .as("dur_d"))
    val byDur = subj.groupBy("dur_d")
      .agg(count(lit(1)).as("c_all"), sum("observed").as("d"))
    // reverse-cumulative at-risk over the reduced duration domain
    val wRev = Window.orderBy(col("dur_d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val steps = byDur.withColumn("n_risk", sum("c_all").over(wRev))
      .filter(col("d") >= 1)
      .select(col("dur_d").as("t"), col("d"), col("n_risk").as("n"))
    steps
      .agg(sort_array(collect_list(struct(col("t"), col("d"), col("n")))).as("a"))
      .select(explode(expr(
        """aggregate(a,
          |  named_struct('s', CAST(1000000 AS BIGINT),
          |    'out', CAST(array() AS ARRAY<STRUCT<t: BIGINT, d: BIGINT, n: BIGINT, s: BIGINT>>)),
          |  (acc, e) -> named_struct(
          |    's', (acc.s * (e.n - e.d)) div e.n,
          |    'out', array_append(acc.out, named_struct('t', e.t, 'd', e.d,
          |      'n', e.n, 's', (acc.s * (e.n - e.d)) div e.n))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.t").as("t_days"), col("r.d").as("d_events"),
        col("r.n").as("n_at_risk"), col("r.s").as("surv_ppm"))
  }

  /** Lag-k autocorrelation of a per-series value sequence, exact to the
    * last integer: for series x₁..xₙ (cents, ordered by time with the id
    * tiebreak) and the FULL-series mean convention,
    * r_k = Σᵢ(xᵢ−x̄)(xᵢ₊ₖ−x̄) / Σᵢ(xᵢ−x̄)², computed with denominators
    * cleared by n² — num_k = Σ(n·xᵢ−S)(n·xᵢ₊ₖ−S), den = Σ(n·xᵢ−S)² where
    * S = Σx — in DECIMAL(38,0) lanes (n·x ~ 10⁹ squared per term times n
    * terms passes 2⁶³ past ~10⁵ rows/series). The ratio is emitted in
    * sign-safe truncated ppm: sign(num)·((|num|·10⁶) div den) — both
    * engines agree on abs-then-truncate, whereas a signed integer
    * division would expose their floor-vs-truncate difference.
    * One window pass per series (the leads share the sort); series
    * count × lags bounds the output, not row count. */
  def autocorrelation(events: DataFrame, lags: Seq[Int] = Seq(1, 2, 3),
                      seriesCol: String = "event_type", tsCol: String = "ts",
                      valueCol: String = "value"): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), s"lags must be >= 1: $lags")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val w = Window.partitionBy(seriesCol).orderBy("ts_us", "id")
    val rows = events.select(col(seriesCol), tsUs(tsCol).as("ts_us"),
        col("event_id").as("id"), cents(col(valueCol)).as("x"))
      .select(col(seriesCol) +: col("x") +:
        lags.map(k => lead("x", k).over(w).as(s"x_$k")): _*)
    // per-series totals: |series| rows, broadcast back for the second pass
    // (the q182 two-pass baseline discipline — an exact mean needs the
    // whole series before the residual products can start)
    val stats = rows.groupBy(seriesCol)
      .agg(count(lit(1)).as("n"), sum("x").as("s"))
    val joined = rows.join(broadcast(stats), Seq(seriesCol))
      .withColumn("y", dec(col("n")) * dec(col("x")) - dec(col("s")))
    val aggs = joined.groupBy(col(seriesCol), col("n")).agg(
      sum(col("y") * col("y")).as("den"),
      lags.map(k => sum(when(col(s"x_$k").isNotNull,
        col("y") * (dec(col("n")) * dec(col(s"x_$k")) - dec(col("s"))))
        .otherwise(dec(lit(0)))).as(s"num_$k")): _*)
    aggs.select(col(seriesCol), col("n"), col("den"),
        explode(array(lags.map(k =>
          struct(lit(k).as("lag"), col(s"num_$k").as("num"))): _*)).as("e"))
      .select(col(seriesCol), col("e.lag").as("lag"), col("n"),
        expr("""CASE WHEN den <= 0 THEN NULL
                |     WHEN e.num < 0 THEN -(((- e.num) * 1000000) div den)
                |     ELSE (e.num * 1000000) div den END""".stripMargin).as("r_ppm"))
  }

  /** Theil–Sen robust trend (Theil 1950; Sen 1968) — the median-of-
    * pairwise-slopes estimator with a 29% breakdown point, the robust
    * complement to q172's least-squares fit (one wild day drags OLS,
    * not this). Exact and domain-bounded: the series reduces to DAILY
    * points first (t = epoch day, y = Σ cents), so the pair join is
    * |T|²/2 over the calendar span — never row pairs. Each pair's slope
    * lands in sign-safe truncated micro units ((Δy·10⁶) div Δt,
    * abs-then-divide), the per-series LOWER MEDIAN comes from a
    * cumulative window over the slope domain, and the intercept is the
    * lower median of the exact residuals y·10⁶ − slope·t. Both engines
    * replay the same truncations, so the estimator is hash-stable.
    * Output: (series, n_points, n_pairs, slope_micro, intercept_micro). */
  def theilSen(events: DataFrame, seriesCol: String = "event_type",
               tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    val dayUs = 86400000000L
    // three consumers: pair join ×2, residual pass
    val pts = Materialize.cut(events.select(col(seriesCol),
        expr(s"(${tsCol} div 1000) div ${dayUs}L").as("t"),
        cents(col(valueCol)).as("x"))
      .groupBy(col(seriesCol), col("t")).agg(sum("x").as("y")))
    def lowerMedian(df: DataFrame, vCol: String, out: String): DataFrame = {
      val dom = df.groupBy(col(seriesCol), col(vCol)).agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(seriesCol).orderBy(vCol)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dom.withColumn("cum", sum("c").over(wCum))
        .withColumn("ntot", sum("c").over(Window.partitionBy(seriesCol)))
        .filter(col("cum") * 2 >= col("ntot"))
        .groupBy(col(seriesCol))
        .agg(min(col(vCol)).as(out), min("ntot").as(s"n_$out"))
    }
    val pairs = pts.alias("a").join(pts.alias("b"),
        col(s"a.$seriesCol") === col(s"b.$seriesCol") && col("a.t") < col("b.t"))
      .select(col(s"a.$seriesCol").as(seriesCol),
        expr("""CASE WHEN b.y - a.y < 0
                |  THEN -(((a.y - b.y) * 1000000) div (b.t - a.t))
                |  ELSE ((b.y - a.y) * 1000000) div (b.t - a.t) END"""
          .stripMargin).as("slope"))
    val slope = lowerMedian(pairs, "slope", "slope_micro")
    val nPts = pts.groupBy(col(seriesCol)).agg(count(lit(1)).as("n_points"))
    val resid = pts.join(slope.select(col(seriesCol), col("slope_micro")), Seq(seriesCol))
      .select(col(seriesCol),
        (col("y") * 1000000L - col("slope_micro") * col("t")).as("r"))
    val icept = lowerMedian(resid, "r", "intercept_micro")
    nPts.join(slope, Seq(seriesCol)).join(icept, Seq(seriesCol))
      .select(col(seriesCol), col("n_points"),
        col("n_slope_micro").as("n_pairs"), col("slope_micro"),
        col("intercept_micro"))
  }

  /** Qini uplift curve (Radcliffe 2007) — the standard targeting-model
    * evaluation: order the population by score (best first), and at each
    * decile report the incremental conversions of the TREATED top slice
    * over the rate-scaled control, Qini_k = Rt_k − Rc_k·Nt_k/Nc_k, in
    * sign-safe truncated micro units with the denominator cleared
    * (qini_micro = (Rt·Nc − Rc·Nt)·10⁶ div Nc — exact integers, no rate
    * float). Deciles come from the REDUCED per-user score domain via the
    * q185 cumulative-bin device (descending: bin 0 = best); cumulative
    * counts over the ≤10-row bin table. Treatment = even user id (the
    * q177 arm convention), outcome = the user ever converts.
    * Output: one row per decile with cumulative (Nt, Rt, Nc, Rc) and
    * qini_micro. */
  def qiniCurve(events: DataFrame, convType: String = "purchase",
                nb: Int = 10): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val users = events.select(col("user_id"), cents(col("value")).as("v_c"),
        (col("event_type") === convType).as("conv"))
      .groupBy("user_id")
      .agg(sum("v_c").as("score"),
        max(when(col("conv"), 1L).otherwise(0L)).as("y"))
      .select((col("user_id") % 2 === 0).as("treated"), col("score"), col("y"))
    // reduced score domain, DESCENDING cumulative → decile of the top slice
    val dom = users.groupBy("score")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("treated"), 1L).otherwise(0L)).as("nt"),
        sum(when(col("treated"), col("y")).otherwise(0L)).as("rt"),
        sum(when(!col("treated"), col("y")).otherwise(0L)).as("rc"))
    val wDesc = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(lit(1))
    val binned = dom
      .withColumn("cum_end", sum("cnt").over(wDesc))
      .withColumn("n_total", sum("cnt").over(wAll))
      .withColumn("bin", expr(s"((cum_end - cnt) * $nb) div n_total"))
      .groupBy("bin")
      .agg(sum("cnt").as("n"), sum("nt").as("nt"),
        sum("rt").as("rt"), sum("rc").as("rc"))
    val wBin = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binned
      .select(col("bin"),
        sum("n").over(wBin).as("n_cum"), sum("nt").over(wBin).as("nt_cum"),
        sum("rt").over(wBin).as("rt_cum"), sum("rc").over(wBin).as("rc_cum"))
      .withColumn("nc_cum", col("n_cum") - col("nt_cum"))
      .withColumn("num",
        dec(col("rt_cum")) * col("nc_cum") - dec(col("rc_cum")) * col("nt_cum"))
      .select(col("bin"), col("nt_cum"), col("rt_cum"), col("nc_cum"), col("rc_cum"),
        expr("""CASE WHEN nc_cum = 0 THEN NULL
                |     WHEN num < 0 THEN -(((- num) * 1000000) div nc_cum)
                |     ELSE (num * 1000000) div nc_cum END""".stripMargin)
          .as("qini_micro"))
  }

  /** Diff-in-differences readout, exact: arms by user parity (q177's
    * convention), periods split at the EXACT median event time (the
    * lower median over the reduced timestamp domain — both engines pick
    * the same boundary row). Emits the four cell masses and the DiD
    * contrast composed from four truncated mean_micro terms — each term
    * a deterministic integral division, so the composition is
    * bit-identical across engines (the q177 p_ppm discipline).
    * Output: 1 row. */
  def didReadout(events: DataFrame, tsCol: String = "ts",
                 valueCol: String = "value"): DataFrame = {
    val ev = events.select((col("user_id") % 2 === 0).as("treated"),
      tsUs(tsCol).as("ts_us"), cents(col(valueCol)).as("v_c"))
    // exact lower-median boundary on the reduced ts domain
    val dom = ev.groupBy("ts_us").agg(count(lit(1)).as("cnt"))
    val wAsc = Window.orderBy("ts_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cut = dom
      .withColumn("cum", sum("cnt").over(wAsc))
      .withColumn("n", sum("cnt").over(Window.partitionBy(lit(1))))
      .filter(col("cum") * 2 >= col("n"))
      .agg(min("ts_us").as("cut_us"))
    ev.crossJoin(broadcast(cut))
      .select(col("treated"), (col("ts_us") > col("cut_us")).as("post"), col("v_c"))
      .agg(
        sum(when(col("treated") && col("post"), 1L).otherwise(0L)).as("n_tp"),
        sum(when(col("treated") && col("post"), col("v_c")).otherwise(0L)).as("s_tp"),
        sum(when(col("treated") && !col("post"), 1L).otherwise(0L)).as("n_tr"),
        sum(when(col("treated") && !col("post"), col("v_c")).otherwise(0L)).as("s_tr"),
        sum(when(!col("treated") && col("post"), 1L).otherwise(0L)).as("n_cp"),
        sum(when(!col("treated") && col("post"), col("v_c")).otherwise(0L)).as("s_cp"),
        sum(when(!col("treated") && !col("post"), 1L).otherwise(0L)).as("n_cr"),
        sum(when(!col("treated") && !col("post"), col("v_c")).otherwise(0L)).as("s_cr"))
      .select(col("n_tp"), col("s_tp"), col("n_tr"), col("s_tr"),
        col("n_cp"), col("s_cp"), col("n_cr"), col("s_cr"),
        // empty-cell guard: the q177/q133 discipline (unhit on this data)
        expr("""CASE WHEN n_tp = 0 OR n_tr = 0 OR n_cp = 0 OR n_cr = 0 THEN NULL
                |ELSE ((s_tp * 1000000) div n_tp) - ((s_tr * 1000000) div n_tr)
                | - (((s_cp * 1000000) div n_cp) - ((s_cr * 1000000) div n_cr))
                |END""".stripMargin).as("did_micro"))
  }

  /** Binary-segmentation change-point LOCALIZATION (Scott & Knott 1974;
    * the first split of the classic recursive scheme) — where q174's
    * CUSUM raises the alarm, this names the position: per series the
    * split p maximizing the between-segment contrast
    * n_L·n_R·(mean_L − mean_R)², evaluated exactly with denominators
    * cleared — d = S_L·n_R − S_R·n_L (DECIMAL(38) lane), ranking key
    * d² div (n_L·n_R·10⁶), the ÷10⁶ keeping the key in BIGINT to ~10⁷
    * rows/series. Both engines argmax the SAME truncated integer key
    * with the position tiebreak, so truncation can never diverge them.
    * One window sort per series feeds the position, prefix sum, and
    * totals; the argmax is a grouped max_by — no self-joins, no
    * quadratic split table. Output: (series, n, split_pos, split_ts_us,
    * score_scaled, dir) with dir = sign(mean_R − mean_L). */
  def binarySegmentation(events: DataFrame, seriesCol: String = "event_type",
                         tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val w = Window.partitionBy(seriesCol).orderBy("ts_us", "id")
    val rows = events.select(col(seriesCol), tsUs(tsCol).as("ts_us"),
        col("event_id").as("id"), cents(col(valueCol)).as("x"))
      .select(col(seriesCol), col("ts_us"),
        row_number().over(w).as("p"),
        sum("x").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("s_l"),
        count(lit(1)).over(Window.partitionBy(seriesCol)).as("n"),
        sum("x").over(Window.partitionBy(seriesCol)).as("s"))
    rows.filter(col("p") < col("n"))
      .withColumn("d", dec(col("s_l")) * (col("n") - col("p"))
        - (dec(col("s")) - dec(col("s_l"))) * col("p"))
      .withColumn("key",
        expr("(d * d) div (CAST(p AS DECIMAL(38,0)) * (n - p) * 1000000)"))
      .groupBy(seriesCol)
      .agg(max("n").as("n"),
        max_by(struct(col("p"), col("ts_us"), col("key"), col("d")),
          struct(col("key"), (-col("p")).as("np"))).as("b"))
      .select(col(seriesCol), col("n"), col("b.p").cast("long").as("split_pos"),
        col("b.ts_us").as("split_ts_us"), col("b.key").as("score_scaled"),
        when(col("b.d") > 0, -1).when(col("b.d") < 0, 1).otherwise(0).as("dir"))
  }
}
