package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query harness the gate-query mains (Verify, Bench, ScaleBench,
  * SkewBench) share: which queries run, the session state each one starts
  * from, and how a run is timed. Each decision lives here once, so the
  * mains cannot drift apart on them (a spec scans src/main for copies).
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** `SparkEntry.queries` in name order, restricted to `only`, a
    * comma-separated list of query names (the `SPARK_GRAFT_ONLY` local
    * iteration aid; unset runs every query). A listed name that is not a
    * query fails: a typo must not turn into a run of nothing that
    * exits 0. */
  def select(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    val names = only.fold(all.keySet)(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = names -- all.keySet
    require(names.nonEmpty, "SPARK_GRAFT_ONLY lists no query")
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    names.toSeq.sorted.map(n => n -> all(n))
  }

  /** The one session reset, called before every run. Gate queries and
    * operators cache frames, register temp views and cut lineage; 144
    * queries in one JVM with no reset let those accumulate until
    * late-alphabet queries paid up to 17x (q93 41 s in-session vs 2.3 s
    * isolated). So each run starts with no cached partitions and no temp
    * views, and every persisted RDD block (the `Materialize.cut` blocks,
    * which the SQL cache does not hold) is unpersisted with a blocking
    * call: waiting for the GC-driven ContextCleaner once let 100x-sized
    * pinned blocks pile up until a scaled run had no free execution
    * memory. No RDD state crosses a query boundary, so this is always
    * safe.
    *
    * `newQuery` adds one `System.gc()` for whatever the cleaner still
    * holds. It is paid per query, not per run: between the runs of one
    * query a second full GC buys nothing, and at 250 queries the extra
    * GCs cost a session minutes of pause time. */
  def reset(spark: SparkSession, newQuery: Boolean): Unit = {
    spark.catalog.clearCache()
    spark.sqlContext.tableNames().foreach { t =>
      try spark.catalog.dropTempView(t) catch { case _: Throwable => }
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    if (newQuery) System.gc()
  }

  /** Runs `df` to a noop sink: Right(wall seconds), or Left(the error's
    * first line, cut at 160 characters). `df` is by-name, so the eager
    * work some queries do while building their frame is timed too. */
  def timed(df: => DataFrame): Either[String, Double] = {
    val t0 = System.nanoTime()
    try {
      df.write.format("noop").mode("overwrite").save()
      Right((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable => Left(e.toString.takeWhile(_ != '\n').take(160))
    }
  }

  /** One run of query `q` on `dir`: `reset`, then `timed`. */
  def run(spark: SparkSession, q: Query, dir: String, newQuery: Boolean): Either[String, Double] = {
    reset(spark, newQuery)
    timed(q(spark, dir))
  }

  /** Warms the session (JVM, codegen, FS) outside any query's timing. */
  def warm(spark: SparkSession): Unit = spark.range(1).count()

  /** Three decimals in Locale.ROOT: the default locale could print a
    * comma decimal separator and corrupt a JSON line. */
  def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
}
