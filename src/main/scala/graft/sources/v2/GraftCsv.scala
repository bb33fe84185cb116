package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{EmptyRelation, LogicalPlan}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.{EmptyRelationExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, LogicalQueryStage}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 implementation of the engine's validated-CSV contract
  * (SURVEY.md §2.1 S7) — the "own a source end to end" demonstration the
  * file-format story needs: instead of reading everything and filtering in
  * the plan, the SCAN ITSELF prunes columns and evaluates pushed
  * predicates, which is the mechanism that makes "don't read what you
  * don't need" real at 100 TB (same contract Parquet honors via
  * PushedFilters/ReadSchema; here it is implemented, not just consumed).
  *
  * Surface: `spark.read.schema(s).format("graft.sources.v2.GraftCsv")
  * .load(dir)` over header-first, comma-separated, quote-free files (the
  * Sinks.writeCsv output shape). Supported types: int/long/double/string;
  * empty cell = NULL (the validated-source coercion contract).
  *
  * What Spark hands the implementation, and what it does with it:
  *  - `pruneColumns(required)` → the reader parses ONLY the required
  *    fields of each line (a row is never fully materialized; at scale
  *    this is the CSV analogue of Parquet column pruning — token-skipping
  *    instead of byte-skipping, the best a row format can do);
  *  - `pushFilters(filters)` → Eq/Gt/Ge/Lt/Le/In/IsNull/IsNotNull on any
  *    column are accepted and evaluated PER LINE inside the partition
  *    reader, before the row is emitted; unsupported shapes (And/Or/
  *    StringContains/...) are returned as postScanFilters and Spark keeps
  *    its own Filter node for them — the standard split contract;
  *  - `SupportsRuntimeFiltering` → the scan names its numeric columns as
  *    runtime-filterable; a join over the source with a selective build
  *    side gets a dynamicpruning IN-set planted by Spark's own
  *    PartitionPruning rule, delivered at execution time, and the file
  *    list RE-prunes through the manifest (min/max + bloom) before any
  *    reader opens — runtime file skipping driven by the join, the DPP
  *    mechanism implemented inside the source;
  *  - `pushLimit` / `pushTopN` (both PARTIAL) → a bare LIMIT reads only
  *    a row-count-sufficient file prefix; `ORDER BY col LIMIT n` drops
  *    every file that provably holds no top-n row (≥ n rows sort
  *    strictly before its whole [min, max] range) — the pagination
  *    query's answer comes from a handful of files, and Spark's own
  *    final limit/TakeOrdered guarantees pruning never changes it;
  *  - partition planning → one InputPartition per data file (a real
  *    multi-executor source; a production variant would further split by
  *    byte range with line-boundary fixup, which header-bearing CSV makes
  *    offset-dependent — out of scope for the contract demo);
  *  - `pushAggregation(agg)` → a global COUNT/COUNT(col)/MIN/MAX over the
  *    table is answered from the write-time stats manifest with ZERO data
  *    bytes read (the parquet-footer metadata-only query, implemented) —
  *    see the method scaladoc for the exactness preconditions;
  *  - `partition_col` write option + `outputPartitioning()` → KEY-GROUPED
  *    layout: every landed file is key-pure, the scan reports
  *    KeyGroupedPartitioning(identity(k)) with HasPartitionKey splits,
  *    and two tables keyed on the join column join with ZERO shuffle
  *    under spark.sql.sources.v2.bucketing.enabled (the Iceberg
  *    storage-partitioned-join shape). The WRITE requests clustering by
  *    the key itself (RequiresDistributionAndOrdering), so the key-pure
  *    layout holds without a caller-side repartition; `no_cluster` opts
  *    out for salted layouts that own their routing.
  *
  * Pushed-filter evaluation happens on the TYPED parsed value of only the
  * referenced columns, so a filtered scan parses `referenced ∪ required`
  * fields per line and drops failing lines without building output rows.
  *
  * What a scan skipped and pushed down is read off the query that ran it,
  * per scan node ([[GraftCsv.scans]]): the files it read out of the
  * table's total (SQL metrics, updated by runtime re-planning), and the
  * accepted aggregate, limit or top-n pushdown. A stream reports each
  * micro-batch's file count in that batch's progress
  * ([[GraftCsv.batchFiles]]).
  */
class GraftCsv extends TableProvider {

  // user-supplied schema is the contract (never infer at scale); header
  // inference exists so schema-less exploration still works
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = GraftCsv.listDataFiles(options.get("path"))
    // empty/nonexistent target: no schema to infer — legal for the WRITE
    // path (the writer takes its schema from the incoming data); a read
    // of an empty table with a user schema yields an empty result
    if (files.isEmpty) return StructType(Nil)
    val fs = files.head.getFileSystem(new Configuration())
    val in = fs.open(files.head)
    val header = try {
      new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8")).readLine()
    } finally in.close()
    StructType(header.split(",", -1).map(n => StructField(n, StringType)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftCsvTable(schema, properties.get("path"))
}

object GraftCsv {
  /** Data files under `path` (header-bearing part files; no _SUCCESS etc). */
  def listDataFiles(path: String): Seq[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    if (!fs.exists(p)) Seq.empty
    else if (fs.getFileStatus(p).isFile) Seq(p)
    else fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName.toString)
  }

  /** Per-(file, numeric column) write-time statistics: the manifest rows
    * behind file skipping. min/max rendered as text ("" = no non-NaN
    * non-null value in the file); `bloom` is a base64 64-Kibit 4-hash
    * Bloom filter over the column's values (integer columns only,
    * "" = none) — the equality-predicate complement to min/max range
    * pruning: interleaved key layouts leave every file's range covering
    * every probe, but a point lookup still prunes through the blooms
    * (the Delta/Iceberg bloom-skipping shape, re-implemented in the
    * custom source). `nan` marks a double column that contains at least
    * one NaN — min/max then cover only the finite values and can prove
    * NOTHING about comparisons (Spark orders NaN above every double and
    * NaN = NaN is true), so skipping and min/max pushdown both stand
    * down for that column (parquet drops stats for NaN-bearing columns;
    * same posture, made explicit). */
  case class ColStat(col: String, min: String, max: String, nulls: Long,
                     bloom: String = "", nan: Boolean = false)

  /** One manifest row as read back: min/max text, null count, file row
    * count, bloom, NaN marker. */
  case class FileColStats(min: String, max: String, nulls: Long, rows: Long,
                          bloom: String, nan: Boolean)

  private[v2] val ManifestName = "_stats.csv"

  /** Key-grouped layout metadata (`file,col,value` lines): each keyed
    * file's single partition-key value — what lets the scan report
    * KeyGroupedPartitioning for storage-partitioned joins. */
  private[v2] val KeysName = "_keys.csv"

  private[sources] def readKeys(path: String): Map[String, (String, Long)] = {
    val m = new Path(path, KeysName)
    val fs = m.getFileSystem(new Configuration())
    if (!fs.exists(m)) return Map.empty
    val in = fs.open(m)
    // tolerant like readManifest: a malformed value cell drops the LINE,
    // so a corrupt keys file degrades to the unordered-layout fallback
    // (keyedLayout voids the claim when any file lacks a key) instead of
    // failing every scan of the table with a NumberFormatException
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().flatMap { l =>
      l.split(",", -1) match {
        case Array(f, c, v) =>
          scala.util.Try(v.toLong).toOption.map(n => f -> ((c, n)))
        case _ => None
      }
    }.toMap finally in.close()
  }

  private[v2] def writeKeys(path: String,
                            entries: Map[String, (String, Long)]): Unit = {
    val m = new Path(path, KeysName)
    val fs = m.getFileSystem(new Configuration())
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(fs.create(m, true), "UTF-8"))
    try entries.toSeq.sortBy(_._1).foreach { case (f, (c, v)) =>
      out.write(s"$f,$c,$v"); out.newLine()
    } finally out.close()
  }

  /** Bloom geometry: m = 2¹⁶ bits, k = 4 double-hashed probes. At the
    * gate's ~7.5k keys/file that is m/n ≈ 8.7 → ~2% false-positive rate;
    * false positives only KEEP a file (never skip a match). */
  private[v2] val BloomBits = 1 << 16
  private[v2] val BloomK = 4

  /** splitmix64 finalizer — deterministic, dependency-free. */
  private[v2] def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private[v2] def bloomBits(v: Long): Array[Int] = {
    val h1 = mix64(v)
    val h2 = mix64(v ^ 0x5DEECE66DL) | 1L
    Array.tabulate(BloomK)(j =>
      (((h1 + j * h2) % BloomBits + BloomBits) % BloomBits).toInt)
  }

  private[v2] def bloomMayContain(b64: String, v: Long): Boolean = {
    if (b64.isEmpty) return true // no bloom: cannot rule the file out
    val bytes = java.util.Base64.getDecoder.decode(b64)
    bloomBits(v).forall { bit =>
      (bytes(bit >>> 3) & (1 << (bit & 7))) != 0
    }
  }

  /** Driver metrics of a [[GraftCsvScan]] node: the files its latest
    * partition planning kept and the files the table holds. Runtime (DPP)
    * re-planning updates both, so the executed node shows the final
    * skip decision. Read them off the node with [[fileCounts]]. */
  val FilesRead = "filesRead"
  val FilesTotal = "filesTotal"

  /** Streaming source metric: the files of the micro-batch the stream
    * planned, reported in that batch's progress (see [[batchFiles]]). */
  val BatchFiles = "filesInBatch"

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** The GraftCsv scan nodes of `df`'s executed plan, AQE query stages
    * included, in plan order. Each node carries its own scan facts: a
    * [[GraftCsvAggScan]] with its `pushedDesc`, or a [[GraftCsvScan]]
    * with its pushed limit/top-n and the [[fileCounts]] it reported. Read
    * them after `df` has run (a node reports file counts when it plans
    * its partitions). */
  def scans(df: Dataset[_]): Seq[BatchScanExec] = scanNodes(df.queryExecution.executedPlan)

  // AQE replaces a subtree whose stage ran empty with an EmptyRelation;
  // the stages that ran stay reachable through the logical plan it keeps
  private def scanNodes(plan: SparkPlan): Seq[BatchScanExec] = PlanWalk.flatMap(plan) {
    case b: BatchScanExec if b.scan.isInstanceOf[GraftCsvScan] ||
      b.scan.isInstanceOf[GraftCsvAggScan] => Seq(b)
    case e: EmptyRelationExec => ranStages(e.logical).flatMap(scanNodes)
    case _ => Nil
  }

  private def ranStages(plan: LogicalPlan): Seq[SparkPlan] = plan.flatMap {
    case s: LogicalQueryStage => Seq(s.physicalPlan)
    case e: EmptyRelation => ranStages(e.logical)
    case _ => Nil
  }

  /** (files read, files total) a [[GraftCsvScan]] node reported. */
  def fileCounts(node: BatchScanExec): (Long, Long) =
    (node.metrics(FilesRead).value, node.metrics(FilesTotal).value)

  /** Files each micro-batch of a one-GraftCsv-source stream planned,
    * oldest first: one entry per progress batchId that read input rows
    * (only the last `spark.sql.streaming.numRecentProgressUpdates`
    * batches are kept). */
  def batchFiles(q: StreamingQuery): Seq[Int] =
    q.recentProgress.filter(_.numInputRows > 0).groupBy(_.batchId).toSeq
      .sortBy(_._1).map(_._2.head.sources.head.metrics.get(BatchFiles).toInt)

  /** (droppedFiles, rewrittenFiles, keptFiles) of the last catalog
    * DELETE — the require hook for the copy-on-write gate: a predicate
    * crossing file boundaries must show BOTH metadata-only drops and
    * row-level rewrites, with untouched files proven untouched. It stays
    * process-global: a DELETE is a side effect of a command, whose plan
    * carries no scan node and no progress, and the file listing after it
    * cannot tell a metadata-only drop from a rewrite that came out empty. */
  val lastDeleteStats =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int, Int)]((0, 0, 0))

  // ---- row-level filter evaluation (the copy-on-write DELETE's license) ----

  /** Is `f` a shape/type combination [[evalRow3]] can decide on every
    * row? Checked BEFORE a DELETE is accepted: canDeleteWhere must never
    * promise a rewrite it cannot perform. Leaf values must be
    * TYPE-ALIGNED with the column (exact integrals for int/long — the
    * same posture as [[cmpBStrict]]), columns must exist. */
  private[v2] def evaluable(f: Filter, schema: StructType): Boolean = {
    def aligned(col: String, v: Any): Boolean =
      schema.fields.find(_.name == col).exists(_.dataType match {
        case IntegerType | LongType => v match {
          case _: java.lang.Byte | _: java.lang.Short |
               _: java.lang.Integer | _: java.lang.Long => true
          case _ => false
        }
        case DoubleType => v.isInstanceOf[Number]
        case StringType => v.isInstanceOf[String] || v.isInstanceOf[UTF8String]
        case _ => false
      })
    def hasCol(c: String): Boolean = schema.fieldNames.contains(c)
    f match {
      case And(l, r) => evaluable(l, schema) && evaluable(r, schema)
      case Or(l, r) => evaluable(l, schema) && evaluable(r, schema)
      case Not(c) => evaluable(c, schema)
      case _: AlwaysTrue | _: AlwaysFalse => true
      case IsNull(c) => hasCol(c)
      case IsNotNull(c) => hasCol(c)
      case EqualTo(c, v) => v != null && aligned(c, v)
      case EqualNullSafe(c, v) => v == null && hasCol(c) || v != null && aligned(c, v)
      case GreaterThan(c, v) => v != null && aligned(c, v)
      case GreaterThanOrEqual(c, v) => v != null && aligned(c, v)
      case LessThan(c, v) => v != null && aligned(c, v)
      case LessThanOrEqual(c, v) => v != null && aligned(c, v)
      case In(c, vs) => vs != null && vs.filter(_ != null).forall(aligned(c, _))
      case _ => false // StringContains etc.: undeclared, DELETE declines
    }
  }

  /** -0.0 → 0.0 so equality/ordering matches Spark SQL (which normalizes
    * signed zeros); NaN then orders above every double and equals itself
    * under java.lang.Double.compare — exactly Spark's semantics. */
  private def normD(d: Double): Double = if (d == 0.0d) 0.0d else d

  private def rowVal(row: InternalRow, i: Int, dt: DataType): Any =
    if (row.isNullAt(i)) null
    else dt match {
      case IntegerType => row.getInt(i)
      case LongType => row.getLong(i)
      case DoubleType => row.getDouble(i)
      case StringType => row.getUTF8String(i).toString
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }

  private def cmpVals(c: Any, v: Any): Int = (c, v) match {
    case (x: Int, y: Number) => java.lang.Long.compare(x.toLong, y.longValue())
    case (x: Long, y: Number) => java.lang.Long.compare(x, y.longValue())
    case (x: Double, y: Number) =>
      java.lang.Double.compare(normD(x), normD(y.doubleValue()))
    // UTF8String BINARY (code-point) order, not java String.compareTo
    // (UTF-16 code-unit order) — the two diverge on supplementary
    // characters, and a DELETE verdict must rank strings exactly as
    // Spark SQL does
    case (x: String, y) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y.toString))
    case _ => throw new IllegalArgumentException(s"incomparable $c vs $v")
  }

  /** SQL three-valued evaluation of `f` on one row: Some(true/false) or
    * None for UNKNOWN (a NULL operand under a value predicate). The
    * DELETE removes exactly the rows evaluating Some(true) — UNKNOWN
    * keeps the row, matching `DELETE ... WHERE` semantics (a bare
    * two-valued evaluator would mis-delete under Not(): NOT(k = 5) on a
    * NULL k is UNKNOWN in SQL, not TRUE). Callers must have vetted the
    * shape with [[evaluable]] and pass a prebuilt name→ordinal map (this
    * runs once per row in the rewrite hot loop). */
  private[v2] def evalRow3(f: Filter, row: InternalRow, schema: StructType,
                           fieldIdx: Map[String, Int]): Option[Boolean] = {
    def v(c: String): Any = { val i = fieldIdx(c); rowVal(row, i, schema(i).dataType) }
    def leaf(c: String, fv: Any)(p: Int => Boolean): Option[Boolean] = {
      val cv = v(c)
      if (cv == null || fv == null) None else Some(p(cmpVals(cv, fv)))
    }
    f match {
      case And(l, r) =>
        (evalRow3(l, row, schema, fieldIdx), evalRow3(r, row, schema, fieldIdx)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }
      case Or(l, r) =>
        (evalRow3(l, row, schema, fieldIdx), evalRow3(r, row, schema, fieldIdx)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      case Not(c) => evalRow3(c, row, schema, fieldIdx).map(!_)
      case _: AlwaysTrue => Some(true)
      case _: AlwaysFalse => Some(false)
      case IsNull(c) => Some(v(c) == null)
      case IsNotNull(c) => Some(v(c) != null)
      case EqualNullSafe(c, fv) =>
        val cv = v(c)
        if (fv == null) Some(cv == null)
        else Some(cv != null && cmpVals(cv, fv) == 0)
      case EqualTo(c, fv) => leaf(c, fv)(_ == 0)
      case GreaterThan(c, fv) => leaf(c, fv)(_ > 0)
      case GreaterThanOrEqual(c, fv) => leaf(c, fv)(_ >= 0)
      case LessThan(c, fv) => leaf(c, fv)(_ < 0)
      case LessThanOrEqual(c, fv) => leaf(c, fv)(_ <= 0)
      case In(c, vs) =>
        val cv = v(c)
        if (cv == null) None
        else if (vs.exists(x => x != null && cmpVals(cv, x) == 0)) Some(true)
        else if (vs.contains(null)) None // x IN (..., NULL): no match ⇒ UNKNOWN
        else Some(false)
      case other => throw new IllegalStateException(s"unvetted filter $other")
    }
  }

  /** EXECUTOR-side copy-on-write of one mixed file: stream its rows,
    * drop those the DELETE predicate proves Some(true), land the
    * survivors via the writer's own temp + stats + bloom machinery. A
    * key-pure input yields one sink; a file that mixes key values (a
    * programmatic write overriding partition_col can land one) splits
    * into one key-pure replacement PER VALUE — every sink's commit is
    * returned, none dropped. Empty Seq = nothing survives (the file
    * simply disappears). Runs as one Spark task per mixed file — the
    * rewrite cost scales with AFFECTED bytes and cluster width, never
    * with table size or driver memory.
    *
    * Attempt safety: the temp name carries the Spark task ATTEMPT id, so
    * a speculative/retried duplicate attempt can never interleave writes
    * into a sibling attempt's temp file; losers' strays die with the
    * `_tmp-<delId>` directory. On any mid-file failure the writer aborts
    * (closes + deletes its temps) before rethrowing. */
  private[v2] def rewriteWithoutMatches(tableDir: String, fileName: String,
                                        schema: StructType, filters: Array[Filter],
                                        partCol: Option[String], delId: String,
                                        idx: Int): Seq[GraftCsvFileCommit] = {
    val src = new Path(new Path(tableDir), fileName)
    val fieldIdx = schema.fieldNames.zipWithIndex.toMap
    val attemptId = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId()).getOrElse(idx.toLong)
    val reader = new GraftCsvReader(schema, schema, Array.empty, src.toString)
    val writer = new GraftCsvWriter(schema, tableDir, delId, idx, attemptId, partCol)
    var wrote = false
    try {
      try {
        while (reader.next()) {
          val row = reader.get()
          val doomed =
            filters.forall(f => evalRow3(f, row, schema, fieldIdx).contains(true))
          if (!doomed) { writer.write(row); wrote = true }
        }
      } catch { case e: Throwable => writer.abort(); throw e }
    } finally reader.close()
    if (wrote) writer.commit().asInstanceOf[GraftCsvCommit].files
    else { writer.abort(); Seq.empty }
  }

  /** Manifest: file → col → [[FileColStats]]. Absent or unparseable →
    * empty (files without stats are never skipped). Rows may be 6-field
    * (pre-bloom), 7-field (pre-NaN-marker) or 8-field; a missing NaN
    * marker reads as `nan = true` for doubles ONLY when min/max are
    * blank-but-rows-nonzero is impossible to distinguish here, so legacy
    * 7-field rows read `nan = false` — legacy manifests written before
    * NaN tracking are regenerated on the next write of the table. */
  private[sources] def readManifest(path: String): Map[String, Map[String, FileColStats]] = {
    val m = new Path(path, ManifestName)
    val fs = m.getFileSystem(new Configuration())
    if (!fs.exists(m)) return Map.empty
    val in = fs.open(m)
    try {
      val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      lines.flatMap { l =>
        l.split(",", -1) match {
          case Array(f, c, mn, mx, nulls, rows) =>
            Some((f, c, FileColStats(mn, mx, nulls.toLong, rows.toLong, "", nan = false)))
          case Array(f, c, mn, mx, nulls, rows, bloom) =>
            Some((f, c, FileColStats(mn, mx, nulls.toLong, rows.toLong, bloom, nan = false)))
          case Array(f, c, mn, mx, nulls, rows, bloom, nan) =>
            Some((f, c, FileColStats(mn, mx, nulls.toLong, rows.toLong, bloom, nan == "1")))
          case _ => None
        }
      }.groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    } finally in.close()
  }

  private[v2] def writeManifest(path: String,
                                entries: Map[String, (Long, Seq[ColStat])]): Unit = {
    val m = new Path(path, ManifestName)
    val fs = m.getFileSystem(new Configuration())
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(fs.create(m, true), "UTF-8"))
    try entries.toSeq.sortBy(_._1).foreach { case (file, (rows, stats)) =>
      stats.foreach { s =>
        out.write(s"$file,${s.col},${s.min},${s.max},${s.nulls},$rows,${s.bloom},${if (s.nan) "1" else "0"}")
        out.newLine()
      }
    } finally out.close()
  }

  /** Can `file` (with these stats) possibly satisfy every pushed filter?
    * Missing stats for a referenced column → cannot rule the file out.
    * Integer columns compare in EXACT Long arithmetic (the manifest
    * stores exact bounds); doubles in Double. A NaN-bearing double
    * column never skips on value comparisons: its min/max cover only
    * the finite values, while under Spark semantics NaN orders above
    * every double (so `x > v` can match via a NaN the bounds don't see)
    * and NaN = NaN is true. */
  private[v2] def mayMatch(stats: Map[String, FileColStats],
                           schema: StructType, filters: Array[Filter]): Boolean =
    filters.forall { f =>
      val colOpt = f.references.headOption.flatMap(stats.get)
      val dtOpt = f.references.headOption
        .flatMap(c => schema.fields.find(_.name == c)).map(_.dataType)
      (colOpt, dtOpt) match {
        case (Some(FileColStats(mn, mx, nulls, rows, bloom, nan)), Some(dt)) =>
          // cmp(bound, v): sign of (bound − filter value), exact per type
          def cmpMin(v: Any): Int = cmpB(mn, v, dt)
          def cmpMax(v: Any): Int = cmpB(mx, v, dt)
          // bloom probe: integer equality only (doubles carry no bloom)
          def bloomOk(v: Any): Boolean = (dt, v) match {
            case (IntegerType | LongType, n: Number) =>
              bloomMayContain(bloom, n.longValue())
            case _ => true
          }
          f match {
            case _ if rows == 0 => false
            case IsNull(_) => nulls > 0
            case IsNotNull(_) => nulls < rows
            // NaN present: range bounds prove nothing about comparisons
            case _ if nan => true
            // value comparisons never match an all-null column
            case _ if mn.isEmpty => false
            case EqualTo(_, v) => cmpMin(v) <= 0 && cmpMax(v) >= 0 && bloomOk(v)
            // IN = disjunction of equalities: the file survives if ANY
            // probe value is inside its range and its bloom — the shape
            // runtime (DPP) filters arrive in, and the reason point-probe
            // pruning works on interleaved layouts at all
            case In(_, vs) => vs.exists(v =>
              v != null && cmpMin(v) <= 0 && cmpMax(v) >= 0 && bloomOk(v))
            case GreaterThan(_, v) => cmpMax(v) > 0
            case GreaterThanOrEqual(_, v) => cmpMax(v) >= 0
            case LessThan(_, v) => cmpMin(v) < 0
            case LessThanOrEqual(_, v) => cmpMin(v) <= 0
            case _ => true // shapes stats don't cover
          }
        case _ => true // no stats for this file/column: never skip
      }
    }

  private def cmpB(bound: String, v: Any, dt: DataType): Int = (dt, v) match {
    case (DoubleType, n: Number) => java.lang.Double.compare(bound.toDouble, n.doubleValue())
    case (_, n: Number) => java.lang.Long.compare(bound.toLong, n.longValue())
    case _ => 0 // non-numeric filter value against numeric stats: no skip
  }

  /** [[mustMatch]]'s comparator. [[cmpB]]'s defaults (return 0 for a
    * non-Number value, truncate via Number.longValue on int/long columns)
    * are safely CONSERVATIVE in mayMatch — "cannot exclude" only keeps a
    * file — but a mustMatch verdict licenses deleting a whole file, so
    * the filter value must be TYPE-ALIGNED before any comparison is
    * trusted: exact integrals for int/long columns (a truncated 3.7 must
    * never prove k = 3 for every row), any Number for doubles. None =
    * not provable (round-12 ADVICE #1). */
  private def cmpBStrict(bound: String, v: Any, dt: DataType): Option[Int] = (dt, v) match {
    case (DoubleType, n: Number) =>
      Some(java.lang.Double.compare(bound.toDouble, n.doubleValue()))
    case (IntegerType | LongType,
          _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer | _: java.lang.Long) =>
      Some(java.lang.Long.compare(bound.toLong, v.asInstanceOf[Number].longValue()))
    case _ => None
  }

  /** Does EVERY row of a file (with these stats) provably satisfy every
    * filter? The dual of [[mayMatch]], and deliberately one-sided: a
    * `true` licenses deleting the whole file (metadata-only DELETE), so
    * every unprovable shape answers `false` — NaN-bearing doubles (the
    * bounds exclude NaN), all-null columns under value predicates,
    * missing stats, unknown filter shapes. And/Or recurse (all-match-l
    * AND all-match-r / all-match-either is sound, if incomplete). */
  private[v2] def mustMatchAll(stats: Map[String, FileColStats],
                               schema: StructType, filters: Array[Filter]): Boolean =
    filters.forall(mustMatch(stats, schema, _))

  private def mustMatch(stats: Map[String, FileColStats],
                        schema: StructType, f: Filter): Boolean = f match {
    case And(l, r) => mustMatch(stats, schema, l) && mustMatch(stats, schema, r)
    case Or(l, r) => mustMatch(stats, schema, l) || mustMatch(stats, schema, r)
    case _: AlwaysTrue => true
    case _ =>
      val colOpt = f.references.headOption.flatMap(stats.get)
      val dtOpt = f.references.headOption
        .flatMap(c => schema.fields.find(_.name == c)).map(_.dataType)
      (colOpt, dtOpt) match {
        case (Some(FileColStats(mn, mx, nulls, rows, _, nan)), Some(dt)) =>
          def cmpMin(v: Any): Option[Int] = cmpBStrict(mn, v, dt)
          def cmpMax(v: Any): Option[Int] = cmpBStrict(mx, v, dt)
          f match {
            case _ if rows == 0 => true // empty file: vacuously all-match
            case IsNull(_) => nulls == rows
            case IsNotNull(_) => nulls == 0
            case _ if nan => false // NaN outside the bounds: unprovable
            case _ if mn.isEmpty => false // all-null: value predicates fail
            case EqualTo(_, v) =>
              nulls == 0 && cmpMin(v).contains(0) && cmpMax(v).contains(0)
            case In(_, vs) => nulls == 0 && mn == mx &&
              vs.exists(v => v != null && cmpMin(v).contains(0))
            case GreaterThan(_, v) => nulls == 0 && cmpMin(v).exists(_ > 0)
            case GreaterThanOrEqual(_, v) => nulls == 0 && cmpMin(v).exists(_ >= 0)
            case LessThan(_, v) => nulls == 0 && cmpMax(v).exists(_ < 0)
            case LessThanOrEqual(_, v) => nulls == 0 && cmpMax(v).exists(_ <= 0)
            case _ => false // shapes stats cannot prove for every row
          }
        case _ => false // no stats: never provable
      }
  }
}

class GraftCsvTable(tblSchema: StructType, path: String)
  extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graftcsv:$path"
  override def schema(): StructType = tblSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCsvScanBuilder(tblSchema, path,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftCsvWriteBuilder(info.schema(), path, info.queryId(),
      Option(info.options().get("partition_col")),
      Option(info.options().get("no_cluster")).exists(_.toBoolean))
}

/** WRITE path of the V2 contract — the "own a sink end to end"
  * counterpart of the pruning/pushdown scan: executors stream rows to
  * per-task TEMP files under `_tmp-<queryId>/`; each task's commit message
  * carries its temp path; the DRIVER's `commit` renames them into place
  * (and under `overwrite`/truncate first deletes the previous
  * generation). Files therefore appear in the table only after every
  * task succeeded — speculative duplicates and failed attempts abort and
  * delete their own temp file, never the table. This is the same
  * rename-based two-phase protocol Hadoop FileOutputCommitter v1 uses;
  * on object stores a production variant substitutes multipart-upload
  * completion for rename, same shape.
  *
  * Cell contract matches the reader: int/long/double/string, NULL = empty
  * cell, quote-free — a cell containing the separator or a newline is
  * rejected LOUDLY at write time (the validated-source philosophy: fail
  * the job, don't corrupt the table). */
class GraftCsvWriteBuilder(schema: StructType, path: String, queryId: String,
                           partitionCol: Option[String], noCluster: Boolean = false)
  extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  /** Keyed writes REQUEST clustering by the partition column
    * (RequiresDistributionAndOrdering): Spark plans the shuffle that
    * routes each key's rows to exactly one task, so every key lands in
    * exactly ONE key-pure file — the manual repartition-by-key contract
    * becomes something the engine asks for instead of something the
    * caller must remember. What clustering does NOT bound is keys PER
    * task (AQE may coalesce the inserted shuffle, concentrating many
    * keys in few tasks on small volumes), so the per-task open-sink cap
    * stays as the loud guard and its documented remedy — repartition by
    * the key with enough partitions — stays valid for extreme key
    * cardinality. `no_cluster` opts out entirely for layouts that own
    * their routing (the q350/SpjSkewSpec salted writes spread the
    * dominant key across tasks ON PURPOSE — a required clustering would
    * collapse the very splits partially-clustered SPJ feeds on). */
  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    override def toBatch: BatchWrite =
      new GraftCsvBatchWrite(schema, path, queryId, doTruncate, partitionCol)
    override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
      partitionCol match {
        case Some(kc) if !noCluster =>
          org.apache.spark.sql.connector.distributions.Distributions.clustered(
            Array(org.apache.spark.sql.connector.expressions.Expressions.identity(kc)))
        case _ =>
          org.apache.spark.sql.connector.distributions.Distributions.unspecified()
      }
    override def requiredOrdering(): Array[SortOrder] = Array.empty
  }
}

class GraftCsvBatchWrite(schema: StructType, path: String, queryId: String,
                         truncate: Boolean, partitionCol: Option[String])
  extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftCsvWriterFactory(schema, path, queryId, partitionCol)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val base = new Path(path)
    val fs = base.getFileSystem(new Configuration())
    if (truncate) {
      GraftCsv.listDataFiles(path).foreach(f => fs.delete(f, false))
      fs.delete(new Path(base, GraftCsv.KeysName), false)
    }
    val files = messages.flatMap { case GraftCsvCommit(fcs) => fcs }
    files.foreach { fc =>
      val t = new Path(fc.tmpFile)
      require(fs.rename(t, new Path(base, t.getName)),
        s"commit rename failed for ${fc.tmpFile}")
    }
    fs.delete(new Path(base, s"_tmp-$queryId"), true)
    // file-skipping manifest: per-file numeric min/max/null stats, written
    // by the DRIVER after every task's rename landed (the manifest names
    // only files that exist). Truncate starts a fresh manifest; appends
    // keep prior generations' entries (stale rows for deleted files are
    // harmless — planning keys on the current listing).
    val prior = if (truncate) Map.empty[String, (Long, Seq[GraftCsv.ColStat])]
      else GraftCsv.readManifest(path).map { case (f, cols) =>
        val rows = cols.values.headOption.map(_.rows).getOrElse(0L)
        f -> ((rows, cols.toSeq.map { case (c, s) =>
          GraftCsv.ColStat(c, s.min, s.max, s.nulls, s.bloom, s.nan)
        }))
      }
    val added = files.map(fc =>
      new Path(fc.tmpFile).getName -> ((fc.rows, fc.stats))).toMap
    GraftCsv.writeManifest(path, prior ++ added)
    // key-grouped layout metadata (the storage-partitioned-join contract):
    // every keyed file records its single key value; the scan groups
    // files by value and reports KeyGroupedPartitioning. Append keeps the
    // prior generation's rows for files that still exist.
    partitionCol.foreach { kc =>
      val priorKeys = if (truncate) Map.empty[String, (String, Long)]
        else GraftCsv.readKeys(path)
      val addedKeys = files.flatMap(fc => fc.key.map(v =>
        new Path(fc.tmpFile).getName -> ((kc, v)))).toMap
      GraftCsv.writeKeys(path, priorKeys ++ addedKeys)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val base = new Path(path)
    base.getFileSystem(new Configuration())
      .delete(new Path(base, s"_tmp-$queryId"), true)
  }
}

/** One landed file: temp path, row count, skipping stats, and (keyed
  * layouts only) the single partition-key value every row carries. */
case class GraftCsvFileCommit(tmpFile: String, rows: Long,
                              stats: Seq[GraftCsv.ColStat],
                              key: Option[Long])

case class GraftCsvCommit(files: Seq[GraftCsvFileCommit]) extends WriterCommitMessage

class GraftCsvWriterFactory(schema: StructType, path: String, queryId: String,
                            partitionCol: Option[String])
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftCsvWriter(schema, path, queryId, partitionId, taskId, partitionCol)
}

object GraftCsvWriter {
  /** Concurrent per-task FileSink cap for keyed writes (each is an open
    * buffered stream + one 8 KiB bloom per int/long column). 256 keys/task
    * × 32 tasks covers any sane pre-repartitioned layout while bounding a
    * task's sink memory under ~16 MB even on wide integer schemas. */
  val MaxOpenSinksPerTask = 256
}

class GraftCsvWriter(schema: StructType, path: String, queryId: String,
                     partitionId: Int, taskId: Long,
                     partitionCol: Option[String])
  extends DataWriter[InternalRow] {

  private val fs =
    new Path(path).getFileSystem(new Configuration())
  private val keyIdx: Option[Int] = partitionCol.map { kc =>
    val i = schema.fieldNames.indexOf(kc)
    require(i >= 0, s"partition_col '$kc' not in schema ${schema.simpleString}")
    require(schema(i).dataType == IntegerType || schema(i).dataType == LongType,
      s"partition_col '$kc' must be int/long (keyed layout contract)")
    i
  }

  /** One open output file + its running skipping stats. The plain write
    * has exactly one; a keyed write (`partition_col`) holds one per key
    * value seen by this task, so every landed file is KEY-PURE — the
    * property KeyGroupedPartitioning reports to the planner. */
  private class FileSink(val tmp: Path, val key: Option[Long]) {
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(fs.create(tmp, true), "UTF-8"))
    out.write(schema.fieldNames.mkString(","))
    out.newLine()

    // per-column running stats for the skipping manifest (numeric columns
    // only — string ranges don't skip well and would need cell escaping).
    // Integer columns track min/max in EXACT Long lanes: a double lane
    // would round past 2^53 and a rounded-tighter bound wrongly skips a
    // matching file (stats must always be conservative).
    val statMinL = Array.fill[Long](schema.length)(Long.MaxValue)
    val statMaxL = Array.fill[Long](schema.length)(Long.MinValue)
    val statMinD = Array.fill[Double](schema.length)(Double.PositiveInfinity)
    val statMaxD = Array.fill[Double](schema.length)(Double.NegativeInfinity)
    // statSeen = "a rangeable value was seen": any non-null for int/long,
    // a non-NaN non-null for double (NaN never updates min/max — the
    // bounds must stay conservative, see ColStat.nan)
    val statSeen = new Array[Boolean](schema.length)
    val statNaN = new Array[Boolean](schema.length)
    val statNulls = new Array[Long](schema.length)
    // per-integer-column Bloom bitsets for equality skipping (8 KiB each)
    val statBloom: Array[Array[Byte]] = schema.fields.map { f =>
      if (f.dataType == IntegerType || f.dataType == LongType)
        new Array[Byte](GraftCsv.BloomBits / 8)
      else null
    }
    var rowCount = 0L

    def trackStats(row: InternalRow): Unit = {
      rowCount += 1
      // tight per-row loop (runs once per written row per numeric column):
      // type dispatch via the precomputed dtTag array and the bloom bits
      // set inline — the former per-value Array[Int] from bloomBits was
      // measurable allocation churn at file-write rates (same math)
      var n = 0
      while (n < numericIdx.length) {
        val i = numericIdx(n)
        if (row.isNullAt(i)) statNulls(i) += 1
        else if (dtTag(i) == 2) {
          val v = row.getDouble(i)
          if (java.lang.Double.isNaN(v)) statNaN(i) = true
          else {
            statSeen(i) = true
            if (v < statMinD(i)) statMinD(i) = v
            if (v > statMaxD(i)) statMaxD(i) = v
          }
        } else {
          statSeen(i) = true
          val v = if (dtTag(i) == 0) row.getInt(i).toLong else row.getLong(i)
          if (v < statMinL(i)) statMinL(i) = v
          if (v > statMaxL(i)) statMaxL(i) = v
          val h1 = GraftCsv.mix64(v)
          val h2 = GraftCsv.mix64(v ^ 0x5DEECE66DL) | 1L
          val bloom = statBloom(i)
          var j = 0
          while (j < GraftCsv.BloomK) {
            val bit = (((h1 + j * h2) % GraftCsv.BloomBits + GraftCsv.BloomBits)
              % GraftCsv.BloomBits).toInt
            bloom(bit >>> 3) = (bloom(bit >>> 3) | (1 << (bit & 7))).toByte
            j += 1
          }
        }
        n += 1
      }
    }

    def renderStat(i: Int, isMin: Boolean): String =
      if (!statSeen(i)) "" // no rangeable value (all null, or all NaN)
      else schema(i).dataType match {
        case DoubleType => (if (isMin) statMinD(i) else statMaxD(i)).toString
        case _ => (if (isMin) statMinL(i) else statMaxL(i)).toString
      }

    def toCommit: GraftCsvFileCommit = {
      out.close()
      GraftCsvFileCommit(tmp.toString, rowCount,
        numericIdx.toSeq.map(i => GraftCsv.ColStat(schema(i).name,
          renderStat(i, isMin = true), renderStat(i, isMin = false), statNulls(i),
          bloom = if (statBloom(i) != null && statSeen(i))
            java.util.Base64.getEncoder.encodeToString(statBloom(i)) else "",
          nan = statNaN(i))),
        key)
    }
  }

  private val numericIdx: Array[Int] = schema.fields.zipWithIndex.collect {
    case (f, i) if f.dataType == IntegerType || f.dataType == LongType ||
      f.dataType == DoubleType => i
  }
  // 0=int, 1=long, 2=double, 3=string — one array lookup per cell instead
  // of a DataType pattern match in the per-row hot loops
  private val dtTag: Array[Int] = schema.fields.map(_.dataType match {
    case IntegerType => 0
    case LongType => 1
    case DoubleType => 2
    case StringType => 3
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  })

  private def tmpPath(suffix: String): Path = new Path(
    new Path(path, s"_tmp-$queryId"),
    f"part-$partitionId%05d-$taskId$suffix.csv")

  // plain write: one sink; keyed write: lazily one sink per key value
  private val sinks = new java.util.LinkedHashMap[Long, FileSink]()
  private lazy val plainSink = new FileSink(tmpPath(""), None)

  private def sinkFor(row: InternalRow): FileSink = keyIdx match {
    case None => plainSink
    case Some(ki) =>
      require(!row.isNullAt(ki),
        s"NULL in partition_col '${schema(ki).name}' (keyed layout contract)")
      val k = if (schema(ki).dataType == IntegerType) row.getInt(ki).toLong
        else row.getLong(ki)
      var s = sinks.get(k)
      if (s == null) {
        // each sink holds an open stream plus an 8 KiB bloom array per
        // int/long column: an unbounded key domain in one task would
        // silently exhaust handles/heap. Fail LOUDLY (the validated-source
        // philosophy) and name the fix: route rows so each task sees a
        // bounded key set — `df.repartition(n, col(k))` before the write.
        require(sinks.size() < GraftCsvWriter.MaxOpenSinksPerTask,
          s"keyed write: task $taskId opened ${sinks.size()} file sinks " +
            s"(one per distinct '${schema(ki).name}' value) — repartition " +
            "by the partition column before writing so each task holds at " +
            s"most ${GraftCsvWriter.MaxOpenSinksPerTask} keys")
        s = new FileSink(tmpPath(s"-k$k"), Some(k))
        sinks.put(k, s)
      }
      s
  }

  private def cell(row: InternalRow, i: Int): String =
    if (row.isNullAt(i)) ""
    else dtTag(i) match {
      case 0 => row.getInt(i).toString
      case 1 => row.getLong(i).toString
      case 2 => row.getDouble(i).toString
      case _ =>
        val s = row.getUTF8String(i).toString
        // numeric toString can never contain the separator/newline; only
        // string cells need the quote-free contract check
        require(!s.contains(',') && !s.contains('\n') && !s.contains('\r'),
          s"cell value contains the separator/newline (quote-free contract): '$s'")
        s
    }

  // reused per-row line buffer: the former per-row Range + String seq +
  // mkString allocated several objects per cell at file-write rates
  private val lineBuf = new java.lang.StringBuilder(128)

  override def write(row: InternalRow): Unit = {
    val sink = sinkFor(row)
    lineBuf.setLength(0)
    var i = 0
    while (i < schema.length) {
      if (i > 0) lineBuf.append(',')
      if (!row.isNullAt(i)) lineBuf.append(cell(row, i))
      i += 1
    }
    sink.out.write(lineBuf.toString)
    sink.out.newLine()
    sink.trackStats(row)
  }

  private def allSinks: Seq[FileSink] = keyIdx match {
    case None => Seq(plainSink)
    case Some(_) => sinks.values.asScala.toSeq
  }

  override def commit(): WriterCommitMessage =
    GraftCsvCommit(allSinks.map(_.toCommit))

  override def abort(): Unit = allSinks.foreach { s =>
    s.out.close()
    fs.delete(s.tmp, false)
  }

  override def close(): Unit = ()
}

class GraftCsvScanBuilder(fullSchema: StructType, path: String,
                          streamMaxFiles: Option[Int] = None)
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggScan: Option[GraftCsvAggScan] = None
  private var limitPush: Option[Int] = None
  private var topNPush: Option[(StructField, Boolean, Int)] = None

  /** LIMIT pushdown, PARTIAL (`isPartiallyPushed` = true, Spark keeps
    * its own limit on top): with no pushed filters, any prefix of files
    * whose manifest row counts already sum to ≥ limit provably holds
    * enough rows, so the scan reads that prefix and nothing else — the
    * "first page of an unordered table" query stops after one or two
    * files instead of scanning 100 TB. Declines under pushed filters
    * (manifest rows bound RAW rows, not matching rows — a pruned prefix
    * could under-deliver). */
  override def pushLimit(limit: Int): Boolean = {
    if (pushed.nonEmpty || limit <= 0) return false
    limitPush = Some(limit)
    true
  }

  /** TOP-N pushdown, PARTIAL: `ORDER BY col LIMIT n` over one int/long
    * column prunes every file that PROVABLY holds no top-n row — file f
    * drops when other files' stats place ≥ n rows strictly before all
    * of f (g.max < f.min ascending; g.min > f.max descending), in exact
    * Long lanes off the manifest. Sound under overlapping ranges (the
    * bound only ever keeps extra files); Spark's final TakeOrdered
    * re-sorts whatever survives, so pruning can never change the
    * answer. Declines when any file lacks stats or has NULLs in the
    * sort column (null ordering would poison the bound), when filters
    * are pushed, or on multi-key orderings. */
  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = {
    if (pushed.nonEmpty || orders.length != 1 || limit <= 0) return false
    val o = orders.head
    val field = (o.expression match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        fullSchema.fields.find(_.name == r.fieldNames.head)
      case _ => None
    }).filter(f => f.dataType == IntegerType || f.dataType == LongType)
      .getOrElse(return false)
    val files = GraftCsv.listDataFiles(path)
    if (files.isEmpty) return false
    val manifest = GraftCsv.readManifest(path)
    val st = files.map(f =>
      manifest.getOrElse(f.getName, Map.empty).get(field.name))
    if (st.exists(s => s.isEmpty || s.get.nulls > 0 || s.get.min.isEmpty))
      return false
    topNPush = Some((field, o.direction == SortDirection.ASCENDING, limit))
    true
  }

  override def isPartiallyPushed: Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** A filter is pushable when it references one column with a
    * line-evaluable comparison; everything else stays with Spark. */
  private def pushable(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: IsNull | _: IsNotNull |
         _: In =>
      f.references.length == 1 && fullSchema.fieldNames.contains(f.references.head)
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (p, rest) = filters.partition(pushable)
    pushed = p
    rest // residual: Spark keeps a post-scan Filter for these
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** AGGREGATE pushdown — the metadata-only-query contract: a global
    * MIN/MAX/COUNT over the table is answered from the write-time
    * manifest (one row per file: min of file, max of file, rows,
    * rows − nulls) without opening a single data file — the custom-source
    * analogue of parquet answering count(*)/min/max from footers. At
    * 100 TB this turns a full scan into |files| manifest lines.
    *
    * Accepted only when the answer is PROVABLY exact from stats:
    * no pushed filters (stats describe whole files), every function one
    * of CountStar / Count(numeric col, non-distinct) / Min(numeric col) /
    * Max(numeric col), no Min/Max over a double column any file marks
    * NaN-bearing (its stats cover only finite values while Spark's max
    * must return NaN — parquet's drop-stats-on-NaN posture), and EVERY
    * current data file carries manifest stats for every referenced
    * column (a file written outside the committing sink has none →
    * decline, scan data).
    *
    * GROUPING is accepted in exactly one shape: GROUP BY the key column
    * of a proven key-pure layout (`partition_col` writes + `_keys.csv`
    * covering every current file). Each file then holds rows of a single
    * key value, so its whole-file stats ARE that group's partials — the
    * scan emits one (key, partials…) row per file and Spark's final
    * aggregate folds per key, the "count per tenant/partition" query
    * answered with zero data bytes read. Any other grouping declines.
    *
    * Partial pushdown (`supportCompletePushDown` stays false): the scan
    * emits one stats row per file and Spark's final aggregate folds them
    * (min of mins, sum of counts) — the same shape a real multi-executor
    * listing would stream. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (pushed.nonEmpty) return false
    val files = GraftCsv.listDataFiles(path)
    if (files.isEmpty) return false
    val manifest = GraftCsv.readManifest(path)
    val perFile = files.map(f => manifest.getOrElse(f.getName, Map.empty))
    // rows-per-file comes off any stat row; a file with no stats at all
    // cannot even answer count(*) — decline everything
    if (perFile.exists(_.isEmpty)) return false

    def namedCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 =>
          fullSchema.fields.find(_.name == r.fieldNames.head)
        case _ => None
      }
    def numericField(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      namedCol(e).filter(f =>
        f.dataType == IntegerType || f.dataType == LongType ||
          f.dataType == DoubleType)
    def parseBound(raw: String, dt: DataType): Any =
      if (raw.isEmpty) null // all-null file: MIN/MAX over it is NULL
      else dt match {
        case IntegerType => raw.toInt
        case LongType => raw.toLong
        case DoubleType => raw.toDouble
        case _ => null
      }
    type FileStats = Map[String, GraftCsv.FileColStats]
    def rowsOf(s: FileStats): Long = s.values.head.rows

    // grouping: only GROUP BY the key column of a key-pure layout
    val groupField: Option[StructField] = aggregation.groupByExpressions match {
      case Array() => None
      case Array(g) =>
        val keys = GraftCsv.readKeys(path)
        val field = namedCol(g).filter(f =>
          f.dataType == IntegerType || f.dataType == LongType)
        val pure = field.exists(f => files.forall(df =>
          keys.get(df.getName).exists(_._1 == f.name)))
        if (!pure) return false
        field
      case _ => return false // multi-column grouping: no manifest lane
    }

    // each answerable function → (output field, referenced column if any,
    // per-file stats extractor). Carrying the column NAME in the tuple —
    // not re-parsed from the display name — keeps the every-file-stats
    // check exact even for columns like "star" (count → "count_star").
    case class Planned(field: StructField, ref: Option[String],
                       minMaxRef: Option[StructField], extract: FileStats => Any)
    val planned: Array[Option[Planned]] =
      aggregation.aggregateExpressions.map {
        case _: CountStar =>
          Some(Planned(StructField("count_star", LongType, nullable = false),
            None, None, rowsOf))
        case c: Count if !c.isDistinct =>
          numericField(c.column).map { f =>
            Planned(StructField(s"count_${f.name}", LongType, nullable = false),
              Some(f.name), None,
              s => s.get(f.name).map(t => t.rows - t.nulls).orNull)
          }
        case m: Min =>
          numericField(m.column).map { f =>
            Planned(StructField(s"min_${f.name}", f.dataType, nullable = true),
              Some(f.name), Some(f),
              s => s.get(f.name).map(t => parseBound(t.min, f.dataType)).orNull)
          }
        case m: Max =>
          numericField(m.column).map { f =>
            Planned(StructField(s"max_${f.name}", f.dataType, nullable = true),
              Some(f.name), Some(f),
              s => s.get(f.name).map(t => parseBound(t.max, f.dataType)).orNull)
          }
        case _ => None // SUM/AVG/distinct/...: stats cannot answer exactly
      }
    if (planned.exists(_.isEmpty)) return false
    val plans = planned.flatten
    // referenced columns must have stats in EVERY file (a 6-field legacy
    // row or a missing column row yields null and a wrong exact answer)
    val refCols = plans.flatMap(_.ref).distinct
    if (refCols.exists(c => perFile.exists(s => !s.contains(c)))) return false
    // Min/Max over a NaN-bearing double: stats bounds exclude NaN while
    // Spark's answer must include it (NaN sorts above all) — decline
    val minMaxDoubles = plans.flatMap(_.minMaxRef)
      .filter(_.dataType == DoubleType).map(_.name).distinct
    if (minMaxDoubles.exists(c => perFile.exists(s => s.get(c).exists(_.nan))))
      return false

    val aggFields = plans.map(_.field)
    val fields = groupField.toArray ++ aggFields
    val keysByFile = groupField.map(_ => GraftCsv.readKeys(path))
    val rows = files.zip(perFile).map { case (df, s) =>
      val keyCell: Array[Any] = (groupField, keysByFile) match {
        case (Some(gf), Some(keys)) =>
          val v = keys(df.getName)._2
          Array[Any](if (gf.dataType == IntegerType) v.toInt else v)
        case _ => Array.empty[Any]
      }
      keyCell ++ plans.map(p => p.extract(s))
    }
    val desc = (groupField.map(f => s"group_by=${f.name}").toSeq ++
      aggregation.aggregateExpressions.map(_.toString)).mkString(", ")
    aggScan = Some(new GraftCsvAggScan(StructType(fields), rows, path, desc))
    true
  }

  override def build(): Scan = aggScan.getOrElse(
    new GraftCsvScan(fullSchema, required, pushed, path, limitPush, topNPush,
      streamMaxFiles))
}

/** Scan produced by an accepted aggregate pushdown: one partition per
  * data file, each emitting a single pre-extracted stats row. No data
  * file is ever opened — only the manifest was read, on the driver, at
  * planning time. */
class GraftCsvAggScan(aggSchema: StructType, rows: Seq[Array[Any]],
                      path: String, val pushedDesc: String)
  extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftCsvAggScan path=$path, PushedAggregation: [$pushedDesc]"
  override def planInputPartitions(): Array[InputPartition] =
    rows.map(r => GraftCsvAggPartition(r)).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCsvAggReaderFactory
}

case class GraftCsvAggPartition(values: Array[Any]) extends InputPartition

class GraftCsvAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val vals = partition.asInstanceOf[GraftCsvAggPartition].values
      private var done = false
      override def next(): Boolean = if (done) false else { done = true; true }
      override def get(): InternalRow = InternalRow.fromSeq(vals.toSeq)
      override def close(): Unit = ()
    }
}

/** The data scan. `limitPush` and `topNPush` are the accepted LIMIT and
  * ORDER BY ... LIMIT pushdowns (top-n: sort column, ascending, n). */
class GraftCsvScan(fullSchema: StructType, required: StructType,
                   pushed: Array[Filter], path: String,
                   val limitPush: Option[Int] = None,
                   val topNPush: Option[(StructField, Boolean, Int)] = None,
                   streamMaxFiles: Option[Int] = None)
  extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportStatistics with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftCsvScan path=$path, ReadSchema: ${required.simpleString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      limitPush.map(n => s", PushedLimit: $n").getOrElse("") +
      topNPush.map { case (f, asc, n) =>
        s", PushedTopN: ${f.name} ${if (asc) "ASC" else "DESC"} LIMIT $n"
      }.getOrElse("")

  /** RUNTIME (dynamic-partition-pruning) filters — the fourth runtime
    * pruning mechanism in the suite, this one inside the source we own:
    * Spark's PartitionPruning rule sees `filterAttributes` cover the join
    * key, plants a dynamicpruning subquery on the scan, evaluates it off
    * the join's (reused) broadcast at execution time, and hands the
    * resulting IN-set here via `filter()`. BatchScanExec then RE-plans
    * input partitions, so the file list shrinks through the same
    * manifest min/max + bloom proof static skipping uses — the Iceberg
    * runtime-file-filtering shape. File-level only, by contract: rows
    * the IN-set would drop still flow, and the join above (which implies
    * the filter) keeps semantics — pruning is a license to read less,
    * never a license to change the answer. */
  private var runtime: Array[Filter] = Array.empty

  /** Any column with manifest stats can prune files; numeric columns are
    * exactly the ones the writers track (int/long carry blooms too). */
  override def filterAttributes(): Array[NamedReference] =
    fullSchema.fields.collect {
      case f if f.dataType == IntegerType || f.dataType == LongType ||
        f.dataType == DoubleType =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }

  override def filter(filters: Array[Filter]): Unit = runtime = filters

  // (read, total) files of the latest keptFiles: the scan node's driver
  // metrics, posted when BatchScanExec builds its input RDD
  private var fileCounts = (0, 0)

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new GraftCsvFilesRead, new GraftCsvFilesTotal)

  override def reportDriverMetrics(): Array[CustomTaskMetric] = {
    def metric(n: String, v: Int): CustomTaskMetric = new CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
    Array(metric(GraftCsv.FilesRead, fileCounts._1),
      metric(GraftCsv.FilesTotal, fileCounts._2))
  }

  /** Files surviving manifest skipping, in listing order. */
  private def keptFiles: Seq[Path] = {
    val all = GraftCsv.listDataFiles(path)
    // file skipping: drop files whose manifest min/max PROVE no line can
    // pass the pushed (or runtime-supplied) filters — the custom-source
    // analogue of parquet row-group pruning, decided at planning time
    // from |files| manifest rows instead of any data read. Files without
    // stats always scan.
    val effective = pushed ++ runtime
    val manifest =
      if (effective.isEmpty && limitPush.isEmpty && topNPush.isEmpty)
        Map.empty[String, Map[String, GraftCsv.FileColStats]]
      else GraftCsv.readManifest(path)
    val filtered = all.filter { f =>
      manifest.get(f.getName)
        .forall(stats => GraftCsv.mayMatch(stats, fullSchema, effective))
    }
    val kept = boundPrune(filtered, manifest)
    fileCounts = (kept.length, all.length)
    kept
  }

  /** Limit/top-n file pruning. Both bounds were accepted only with zero
    * pushed filters; they additionally stand down if a runtime filter
    * arrived (a runtime-pruned sibling file's rows can no longer witness
    * the "≥ n rows provably before f" argument, so the only sound prune
    * is the runtime one). Missing stats anywhere → keep everything. */
  private def boundPrune(all: Seq[Path],
                         manifest: Map[String, Map[String, GraftCsv.FileColStats]]): Seq[Path] = {
    if (runtime.nonEmpty) return all
    (topNPush, limitPush) match {
      case (Some((field, asc, n)), _) =>
        val st = all.map(f => manifest.getOrElse(f.getName, Map.empty).get(field.name))
        if (st.exists(s => s.isEmpty || s.get.nulls > 0 || s.get.min.isEmpty))
          return all
        val bounds = all.zip(st.map(_.get)).map { case (f, s) =>
          (f, s.min.toLong, s.max.toLong, s.rows)
        }
        // f survives unless ≥ n rows sort strictly before its whole range
        bounds.filter { case (f, mn, mx, _) =>
          val before = bounds.iterator.collect {
            case (g, gmn, gmx, rows)
              if (g ne f) && (if (asc) gmx < mn else gmn > mx) => rows
          }.sum
          before < n
        }.map(_._1)
      case (None, Some(n)) =>
        // minimal listing-order prefix with ≥ n manifest rows
        var acc = 0L
        val kept = Seq.newBuilder[Path]
        for (f <- all) {
          if (acc < n) {
            kept += f
            manifest.get(f.getName).flatMap(_.values.headOption) match {
              case Some(s) => acc += s.rows
              case None => return all // a stats-less file voids the bound
            }
          }
        }
        if (acc >= n) kept.result() else all
      case _ => all
    }
  }

  /** Statistics the planner's JOIN-STRATEGY decision runs on: exact row
    * counts from the manifest, on-disk bytes from the file listing — both
    * over the files that SURVIVE manifest skipping, so a selective pushed
    * filter shrinks the reported size and a post-filter small side
    * becomes broadcastable. Without this a DSv2 relation reports
    * `spark.sql.defaultSizeInBytes` (Long.MaxValue) and a 25-row dim
    * table plans a sort-merge join; at 100× data that is the difference
    * between a planned BHJ and an accidental SMJ on every dim join over
    * the source. Files without manifest rows fall back to byte length
    * only (row count absent → OptionalLong.empty, the honest unknown). */
  override def estimateStatistics(): Statistics = {
    val kept = keptFiles
    val manifest = GraftCsv.readManifest(path)
    val fs = new Path(path).getFileSystem(new Configuration())
    val bytes = kept.map(f => fs.getFileStatus(f).getLen).sum
    val rowsPerFile = kept.map(f =>
      manifest.get(f.getName).flatMap(_.values.headOption).map(_.rows))
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        if (rowsPerFile.forall(_.isDefined))
          java.util.OptionalLong.of(rowsPerFile.flatten.sum)
        else java.util.OptionalLong.empty()
    }
  }

  /** Key-grouped layout, when this table proves one: every kept file is
    * listed in `_keys.csv` under one shared key column. Returns
    * (key column field, value → files). A file the keys metadata does
    * not cover (e.g. written without `partition_col` into the same dir)
    * voids the claim — correctness first, the layout is then unordered. */
  private def keyedLayout(kept: Seq[Path]): Option[(StructField, Seq[(Long, Seq[Path])])] = {
    val keys = GraftCsv.readKeys(path)
    if (keys.isEmpty) return None
    val entries = kept.map(f => keys.get(f.getName).map(kv => (f, kv)))
    if (entries.exists(_.isEmpty)) return None
    val flat = entries.flatten
    val cols = flat.map(_._2._1).distinct
    if (cols.length != 1) return None
    fullSchema.fields.find(_.name == cols.head).map { field =>
      (field, flat.groupBy(_._2._2).toSeq.sortBy(_._1)
        .map { case (v, fs) => (v, fs.map(_._1)) })
    }
  }

  /** Storage-partitioned-join contract: a keyed layout reports
    * KeyGroupedPartitioning over identity(keyCol) — Spark then plans
    * joins between two tables keyed on the same column with ZERO
    * shuffle (spark.sql.sources.v2.bucketing.enabled): each key group
    * on the left lines up with the same key's group on the right, the
    * exchange that dominates repeated fact-to-fact joins at 100 TB
    * happens once, at write time. identity (not bucket) on purpose: a
    * path-based provider has no FunctionCatalog for Spark to resolve a
    * bucket transform against. */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val kept = keptFiles
    keyedLayout(kept) match {
      case Some((field, groups)) if required.fieldNames.contains(field.name) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.identity(field.name)),
          groups.length)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(kept.length)
    }
  }

  /** Keyed layouts emit ONE SPLIT PER FILE, each carrying its partition
    * key — Spark's own `groupPartitions` merges same-key splits when
    * storage-partitioned planning is on, and crucially may KEEP them
    * separate under partially-clustered distribution (the SPJ skew path:
    * a dominant key's many files stay parallel splits and the other
    * side's group is replicated across them, instead of one task
    * swallowing the whole key). Pre-grouping here would delete that
    * choice; per-file splits also give a plain non-SPJ read file-level
    * parallelism instead of key-level. */
  override def planInputPartitions(): Array[InputPartition] = {
    val kept = keptFiles
    keyedLayout(kept) match {
      case Some((field, groups)) if required.fieldNames.contains(field.name) =>
        groups.flatMap { case (v, fs) =>
          fs.map(f => GraftCsvKeyedPartition(Seq(f.toString), v,
            field.dataType == IntegerType): InputPartition)
        }.toArray
      case _ => kept.map(f =>
        GraftCsvPartition(f.toString): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCsvReaderFactory(fullSchema, required, pushed)

  /** STREAMING read of the same table (`readStream.format(...)`): the
    * source is an append-only directory and the two-phase write commit
    * (temp + rename) makes a file either fully visible or absent, never
    * half-written. Round-13 redesign (round-12 verdict #1/#2): an offset
    * is a constant-size GENERATION number — a cursor into the stream's
    * own append-only discovery log under the checkpoint — and discovery
    * honors `SupportsAdmissionControl`, so a catch-up start drains a
    * million-file backlog in bounded micro-batches instead of one giant
    * stage. Each micro-batch still reads through the same
    * pruning/pushdown reader the batch scan uses. */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftCsvMicroBatchStream(fullSchema, required, pushed, path,
      checkpointLocation, streamMaxFiles)
}

/** Streaming offset: a monotonic discovery-log GENERATION number. The
  * JSON is `{"gen":N}` — constant-size no matter how many files the
  * table has accumulated, which is what keeps every `latestOffset`
  * serialization and checkpoint line O(1) at millions of files (the
  * round-12 file-list offset was O(files) per trigger). The mapping
  * generation → file names lives in the source's own discovery log under
  * the checkpoint (one small file per generation, written two-phase), so
  * `planInputPartitions(start, end)` reads only the (start, end] log
  * entries — O(batch), never O(table). */
case class GraftCsvOffset(gen: Long)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"gen":$gen}"""
}

object GraftCsvOffset {
  private val GenRe = """\{\s*"gen"\s*:\s*(\d+)\s*\}""".r
  def fromJson(json: String): GraftCsvOffset = json.trim match {
    case GenRe(n) => GraftCsvOffset(n.toLong)
    case other => throw new IllegalStateException(
      s"""unreadable GraftCsv stream offset '$other' — expected {"gen":N}. """ +
        "A pre-generation-log checkpoint (file-list offsets) cannot be " +
        "resumed by this version; restart the query with a fresh checkpoint.")
  }
}

/** MicroBatchStream over the GraftCsv directory with ADMISSION CONTROL.
  *
  * Discovery: `latestOffset(start, limit)` lists the directory, diffs
  * against the files already admitted (replayed from the discovery log
  * at construction), caps the fresh set at the trigger's `ReadLimit`
  * (`maxFilesPerTrigger` read option → ReadMaxFiles; default
  * all-available), appends ONE log entry naming the admitted files, and
  * returns the new generation. A catch-up start over a large backlog
  * therefore drains in ceil(backlog / maxFilesPerTrigger) bounded
  * micro-batches — rate-limited ingest, state-store pressure bounded per
  * batch — instead of the unbounded single batch the round-12 design
  * planned (its verdict finding #1).
  *
  * Crash safety: the log entry is written (two-phase, temp + rename)
  * BEFORE the engine checkpoints the offset, so a crash between the two
  * replays that generation from the log on restart — the committed
  * checkpoint offset, not the log tail, decides what has been processed;
  * at file granularity nothing is skipped or double-admitted. The
  * in-memory admitted-set is O(known files) on the driver — the same
  * bound Spark's own FileStreamSource carries; its production remedies
  * (log compaction + retention age) apply unchanged because the log
  * format is one generation per file.
  *
  * File names may be arbitrary (the log is line-per-name, no quoting
  * grammar), except CR/LF which the line format cannot carry — such
  * names are rejected LOUDLY at admission rather than corrupting the
  * log (round-12 ADVICE: the old inline-JSON offset silently corrupted
  * on a quote or comma in a name). */
class GraftCsvMicroBatchStream(fullSchema: StructType, required: StructType,
                               pushed: Array[Filter], path: String,
                               checkpointLocation: String,
                               maxFilesPerTrigger: Option[Int])
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadAllAvailable, ReadMaxFiles, CompositeReadLimit}

  private val logDir = new Path(checkpointLocation, "graft_discovery_log")
  private val fs = logDir.getFileSystem(new Configuration())

  private def genPath(g: Long): Path = new Path(logDir, f"$g%020d")
  private def compactPath(g: Long): Path = new Path(logDir, f"$g%020d.compact")

  private def readLog(p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  private def readGen(g: Long): Seq[String] = readLog(genPath(g))

  private def writeLogAtomic(dest: Path, names: Iterable[String]): Unit = {
    val tmp = new Path(logDir, s".tmp-${dest.getName}")
    fs.mkdirs(logDir)
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(fs.create(tmp, true), "UTF-8"))
    try names.foreach { n => out.write(n); out.newLine() }
    finally out.close()
    require(fs.rename(tmp, dest), s"discovery-log write failed for ${dest.getName}")
  }

  /** Every K generations a `.compact` SNAPSHOT of the full admitted set
    * is written next to the deltas (the FileStreamSourceLog shape):
    * startup replay seeds from the newest snapshot and applies only the
    * deltas after it — O(files + K·batch) instead of O(generations ×
    * avg-batch) over the stream's whole life. Deltas are retained (batch
    * REPLANNING after a restart reads exact (start, end] deltas, and
    * only the engine knows its committed offset); a production retention
    * lever deletes deltas older than both the newest snapshot and the
    * engine's committed watermark. */
  private val CompactEvery = 10L

  // Replay the discovery log once at construction: the admitted-file set
  // and the current generation. A fresh checkpoint starts at gen 0/empty.
  private val seen = scala.collection.mutable.HashSet[String]()
  private var curGen: Long = 0L
  if (fs.exists(logDir)) {
    val all = fs.listStatus(logDir).filter(_.isFile).map(_.getPath)
      .filter(p => !p.getName.startsWith(".") && !p.getName.startsWith("_"))
    val (compacts, deltas) = all.partition(_.getName.endsWith(".compact"))
    val compactGen = compacts.map(_.getName.stripSuffix(".compact").toLong)
      .sorted.lastOption.getOrElse(0L)
    if (compactGen > 0) seen ++= readLog(compactPath(compactGen))
    deltas.map(_.getName.toLong).filter(_ > compactGen).sorted
      .foreach(g => seen ++= readGen(g))
    curGen = (compactGen +: deltas.map(_.getName.toLong).toSeq).max
  }

  override def initialOffset(): Offset = GraftCsvOffset(0L)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  /** The engine drives admission-control sources through the two-arg
    * overload below; this one existing at all is an API leftover. */
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "GraftCsv streaming uses latestOffset(start, limit) (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val fresh = GraftCsv.listDataFiles(path).map(_.getName).filterNot(seen)
    fresh.find(n => n.contains("\n") || n.contains("\r")).foreach { n =>
      throw new IllegalArgumentException(
        s"data file name contains CR/LF and cannot enter the discovery log: '$n'")
    }
    def cap(l: ReadLimit): Option[Int] = l match {
      case m: ReadMaxFiles => Some(m.maxFiles)
      case c: CompositeReadLimit =>
        c.getReadLimits.flatMap(cap(_)).sorted.headOption
      case _: ReadAllAvailable => None
      case _ => None // shapes this source has no lever for (rows/bytes)
    }
    val admitted = cap(limit).map(fresh.take).getOrElse(fresh)
    if (admitted.isEmpty) GraftCsvOffset(curGen)
    else {
      val next = curGen + 1
      // two-phase log append: the entry appears complete or not at all
      writeLogAtomic(genPath(next), admitted)
      seen ++= admitted
      curGen = next
      // periodic snapshot for O(1)-ish startup replay; written AFTER the
      // delta so a crash between the two just re-snapshots next time
      if (next % CompactEvery == 0) writeLogAtomic(compactPath(next), seen)
      GraftCsvOffset(curGen)
    }
  }

  override def reportLatestOffset(): Offset = GraftCsvOffset(curGen)

  override def deserializeOffset(json: String): Offset =
    GraftCsvOffset.fromJson(json)

  // files of the batch planned last; the engine reads the source metrics
  // after running that batch, so its progress carries its own count
  private var plannedFiles = 0

  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): util.Map[String, String] =
    Map(GraftCsv.BatchFiles -> plannedFiles.toString).asJava

  // the last planned (start, end] and its partitions: the engine plans
  // each micro-batch several times, and a log entry never changes once
  // written, so each entry is read once
  private var lastPlanned: ((Long, Long), Array[InputPartition]) = ((-1L, -1L), Array.empty)

  /** The batch = the files named by log generations (start, end] — read
    * from O(batch) small log entries, never by re-listing or re-diffing
    * the whole table. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val range = (start.asInstanceOf[GraftCsvOffset].gen, end.asInstanceOf[GraftCsvOffset].gen)
    if (lastPlanned._1 != range) {
      val base = new Path(path)
      lastPlanned = range -> ((range._1 + 1) to range._2).flatMap(readGen)
        .map(n => GraftCsvPartition(new Path(base, n).toString): InputPartition).toArray
    }
    plannedFiles = lastPlanned._2.length
    lastPlanned._2
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCsvReaderFactory(fullSchema, required, pushed)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class GraftCsvFilesRead extends CustomSumMetric {
  override def name(): String = GraftCsv.FilesRead
  override def description(): String = "files read"
}

class GraftCsvFilesTotal extends CustomSumMetric {
  override def name(): String = GraftCsv.FilesTotal
  override def description(): String = "files total"
}

case class GraftCsvPartition(file: String) extends InputPartition

/** All files of one partition-key group; `partitionKey` is what Spark's
  * key-grouped planning lines up across join sides. */
case class GraftCsvKeyedPartition(files: Seq[String], key: Long, keyIsInt: Boolean)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    if (keyIsInt) InternalRow(key.toInt) else InternalRow(key)
}

class GraftCsvReaderFactory(fullSchema: StructType, required: StructType,
                            pushed: Array[Filter]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case GraftCsvPartition(f) =>
        new GraftCsvReader(fullSchema, required, pushed, f)
      case GraftCsvKeyedPartition(files, _, _) =>
        new PartitionReader[InternalRow] {
          private val readers = files.iterator
          private var cur: GraftCsvReader = _
          override def next(): Boolean = {
            while (true) {
              if (cur != null && cur.next()) return true
              if (cur != null) cur.close()
              if (!readers.hasNext) { cur = null; return false }
              cur = new GraftCsvReader(fullSchema, required, pushed, readers.next())
            }
            false
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
    }
}

/** Per-partition reader: streams one file line by line, parses only the
  * fields the scan needs (required ∪ filter-referenced), applies pushed
  * filters on the typed values, and emits pruned InternalRows. */
class GraftCsvReader(fullSchema: StructType, required: StructType,
                     pushed: Array[Filter], file: String)
  extends PartitionReader[InternalRow] {

  private val fieldIdx: Map[String, Int] =
    fullSchema.fieldNames.zipWithIndex.toMap
  // field positions (in file order) that must be parsed at all —
  // precomputed as a positional Boolean array: the former per-cell
  // Set[String] lookup hashed a field-name string once per cell per row
  private val neededNames: Set[String] =
    required.fieldNames.toSet ++ pushed.flatMap(_.references)
  private val needed: Array[Boolean] =
    fullSchema.fieldNames.map(neededNames.contains)
  private val dts: Array[DataType] = fullSchema.fields.map(_.dataType)
  private val outIdx: Array[Int] = required.fieldNames.map(fieldIdx)

  private val in = {
    val p = new Path(file)
    p.getFileSystem(new Configuration()).open(p)
  }
  private val reader = new java.io.BufferedReader(
    new java.io.InputStreamReader(in, "UTF-8"))
  reader.readLine() // header

  private var current: InternalRow = _

  /** Typed parse of one cell; empty = NULL (validated-source contract). */
  private def parse(raw: String, dt: DataType): Any =
    if (raw.isEmpty) null
    else dt match {
      case IntegerType => raw.toInt
      case LongType => raw.toLong
      case DoubleType => raw.toDouble
      case StringType => UTF8String.fromString(raw)
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }

  /** Engine-side comparison on parsed values (types align with the
    * schema, so the cast in `compare` is total). Strings compare in
    * UTF8String BINARY order — java String.compareTo's UTF-16 code-unit
    * order diverges on supplementary characters, and a pushed filter
    * must keep exactly the rows Spark's own Filter node would. */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Int, y: Number) => java.lang.Long.compare(x.toLong, y.longValue())
    case (x: Long, y: Number) => java.lang.Long.compare(x, y.longValue())
    case (x: Double, y: Number) => java.lang.Double.compare(x, y.doubleValue())
    case (x: UTF8String, y) => x.compareTo(UTF8String.fromString(y.toString))
    case _ => throw new IllegalArgumentException(s"incomparable $a vs $b")
  }

  /** Filters pre-bound to field POSITIONS at construction — the former
    * per-row `eval` resolved `fieldIdx(c)` (a string-keyed map lookup)
    * once per filter reference per row. Same semantics per shape. */
  private def bind(f: Filter): Array[Any] => Boolean = f match {
    case EqualTo(c, v) => val i = fieldIdx(c)
      vals => vals(i) != null && cmp(vals(i), v) == 0
    case GreaterThan(c, v) => val i = fieldIdx(c)
      vals => vals(i) != null && cmp(vals(i), v) > 0
    case GreaterThanOrEqual(c, v) => val i = fieldIdx(c)
      vals => vals(i) != null && cmp(vals(i), v) >= 0
    case LessThan(c, v) => val i = fieldIdx(c)
      vals => vals(i) != null && cmp(vals(i), v) < 0
    case LessThanOrEqual(c, v) => val i = fieldIdx(c)
      vals => vals(i) != null && cmp(vals(i), v) <= 0
    case IsNull(c) => val i = fieldIdx(c); vals => vals(i) == null
    case IsNotNull(c) => val i = fieldIdx(c); vals => vals(i) != null
    case In(c, vs) => val i = fieldIdx(c)
      vals => vals(i) != null && vs.exists(v => v != null && cmp(vals(i), v) == 0)
    case other => throw new IllegalStateException(s"unpushable filter $other")
  }
  private val boundFilters: Array[Array[Any] => Boolean] = pushed.map(bind)

  override def next(): Boolean = {
    var line = reader.readLine()
    while (line != null) {
      val cells = line.split(",", -1)
      val vals = new Array[Any](dts.length)
      var i = 0
      val lim = if (cells.length < dts.length) cells.length else dts.length
      while (i < lim) {
        if (needed(i)) vals(i) = parse(cells(i), dts(i))
        i += 1
      }
      var ok = true
      var p = 0
      while (ok && p < boundFilters.length) { ok = boundFilters(p)(vals); p += 1 }
      if (ok) {
        // fresh backing array per row (downstream operators may buffer the
        // row), built directly — InternalRow.fromSeq(outIdx.toSeq.map(...))
        // allocated two intermediate collections per row
        val out = new Array[Any](outIdx.length)
        var o = 0
        while (o < outIdx.length) { out(o) = vals(outIdx(o)); o += 1 }
        current = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
        return true
      }
      line = reader.readLine()
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
