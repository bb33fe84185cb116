package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Materialized summary tables ("materialized views") + the registration
  * half of the [[graft.expressions.RewriteAggToSummary]] optimizer rule —
  * the warehouse feature where `GROUP BY` queries over a 100 TB fact
  * table are answered from a pre-aggregated summary a fraction of the
  * size, WITHOUT the query author knowing the summary exists.
  *
  * The summary stores re-aggregable partials per grouping-domain row:
  * `mv_cnt` = count(*), and per value column v `mv_sum_v` / `mv_min_v` /
  * `mv_max_v`. Any aggregate over a grouping subset re-aggregates them
  * (sum of sums, min of mins, sum of counts) — the q96/q189 rollup
  * identity, applied by the optimizer instead of by hand.
  *
  * Usage:
  * {{{
  *   Mv.createSummary(spark, basePath, sumPath, Seq("a", "b"), Seq("x"))
  *   Mv.register(spark, "orders_by_ab", basePath, sumPath,
  *     Seq("a", "b"), Seq("x"))
  *   // any groupBy("a")/agg(sum("x"), count(*)) over basePath now scans
  *   // the summary — verify with .explain or the q228 plan contract
  * }}}
  *
  * Create BEFORE register: the summary-building aggregate itself scans
  * the base table, and registering first would rewrite the builder onto
  * the summary it is about to write. */
object Mv {

  val ConfPrefix = "spark.graft.mv."

  /** Build + write the summary parquet for (groupCols, valueCols): one
    * row per grouping-domain value with re-aggregable partials. */
  def createSummary(spark: SparkSession, basePath: String, summaryPath: String,
                    groupCols: Seq[String], valueCols: Seq[String]): Unit =
    createSummaryFrom(spark.read.parquet(basePath), summaryPath, groupCols, valueCols)

  /** [[createSummary]] over an arbitrary frame — the form streaming
    * maintenance seeds with (an empty batch projection) and incremental
    * refresh shares its partial definitions with. */
  def createSummaryFrom(df: DataFrame, summaryPath: String,
                        groupCols: Seq[String], valueCols: Seq[String]): Unit = {
    require(groupCols.nonEmpty && valueCols.nonEmpty, "empty MV spec")
    df.groupBy(groupCols.map(col): _*)
      .agg(partials(valueCols).head, partials(valueCols).tail: _*)
      .write.mode("overwrite").parquet(summaryPath)
  }

  private def partials(valueCols: Seq[String]): Seq[Column] =
    count(lit(1)).as("mv_cnt") +:
      valueCols.flatMap(v => Seq(
        sum(col(v)).as(s"mv_sum_$v"),
        min(col(v)).as(s"mv_min_$v"),
        max(col(v)).as(s"mv_max_$v")))

  /** Register the summary with the optimizer rule (session-scoped conf).
    * Value format is positional and pipe-separated; paths must be the
    * same strings queries read from. */
  def register(spark: SparkSession, name: String, basePath: String,
               summaryPath: String, groupCols: Seq[String],
               valueCols: Seq[String]): Unit =
    spark.conf.set(ConfPrefix + name,
      s"$basePath|$summaryPath|${groupCols.mkString(",")}|${valueCols.mkString(",")}")

  /** Remove a registration. */
  def unregister(spark: SparkSession, name: String): Unit =
    spark.conf.unset(ConfPrefix + name)

  /** Incremental refresh — the IVM identity the partials were chosen
    * for: `merge(partials(base), partials(delta)) ≡ partials(base ∪
    * delta)` (q96/q189's re-aggregability, applied to the summary).
    * Reads ONLY the delta and the |grouping domain|-sized summary, never
    * the base table — at warehouse scale that is the difference between
    * a refresh proportional to the day's ingest and one proportional to
    * the table's history. Null semantics per group: a value column with
    * no non-null rows keeps a null sum/min/max partial, exactly like the
    * full recompute (asymmetric coalesce, not +0). The merged summary is
    * materialized BEFORE the overwrite (it reads the path it replaces). */
  def refreshIncremental(spark: SparkSession, deltaDf: DataFrame,
                         summaryPath: String, groupCols: Seq[String],
                         valueCols: Seq[String]): Unit = {
    val aggs = partials(valueCols)
    val delta = deltaDf.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val cur = spark.read.parquet(summaryPath)
    def both(n: String, merge: (Column, Column) => Column): Column = {
      val (a, b) = (col(s"a.$n"), col(s"b.$n"))
      when(a.isNull, b).when(b.isNull, a).otherwise(merge(a, b)).as(n)
    }
    val keys = groupCols.map(g =>
      coalesce(col(s"a.$g"), col(s"b.$g")).as(g))
    val merged = Materialize.cut(cur.alias("a").join(delta.alias("b"),
        groupCols.map(g => col(s"a.$g") <=> col(s"b.$g")).reduce(_ && _),
        "full_outer")
      .select(keys ++ (both("mv_cnt", _ + _) +: valueCols.flatMap(v => Seq(
        both(s"mv_sum_$v", _ + _),
        both(s"mv_min_$v", least(_, _)),
        both(s"mv_max_$v", greatest(_, _))))): _*))
    merged.write.mode("overwrite").parquet(summaryPath)
  }
}
