package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{count, lit}

import graft.sources.v2.{GraftCsv, GraftCsvAggScan, GraftCsvScan}

/** What the one GraftCsv scan node of a frame's executed plan reports,
  * read after the frame has run. */
object ScanFacts {
  private def onlyScan(df: Dataset[_]): BatchScanExec = {
    val nodes = GraftCsv.scans(df)
    assert(nodes.length == 1, s"expected one GraftCsv scan node, got ${nodes.length}")
    nodes.head
  }

  /** The accepted aggregate pushdown ("" = the scan read data). */
  def pushedAgg(df: Dataset[_]): String = onlyScan(df).scan match {
    case a: GraftCsvAggScan => a.pushedDesc
    case _ => ""
  }

  /** The accepted bound pushdown: "topn=<col> asc|desc <n>", "limit=<n>",
    * or "" for neither. */
  def pushedBound(df: Dataset[_]): String = onlyScan(df).scan match {
    case g: GraftCsvScan => (g.topNPush, g.limitPush) match {
      case (Some((f, asc, n)), _) => s"topn=${f.name} ${if (asc) "asc" else "desc"} $n"
      case (None, Some(n)) => s"limit=$n"
      case _ => ""
    }
    case _ => ""
  }

  /** (files read, files total) of the data scan. */
  def fileCounts(df: Dataset[_]): (Int, Int) = {
    val (read, total) = GraftCsv.fileCounts(onlyScan(df))
    (read.toInt, total.toInt)
  }

  /** `df.count()`, run as a frame of its own so its scan can be read:
    * (count, file counts). */
  def countWithFiles(df: DataFrame): (Long, (Int, Int)) = {
    val c = df.agg(count(lit(1)))
    (c.collect().head.getLong(0), fileCounts(c))
  }
}
