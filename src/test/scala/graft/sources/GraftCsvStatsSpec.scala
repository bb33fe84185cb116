package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.ScanFacts._

/** Round-12 GraftCsv surface: NaN-safe stats (min/max pushdown + file
  * skipping stand down for NaN-bearing double columns), tolerant keys
  * metadata, the per-task open-sink bound, GROUPED aggregate pushdown
  * over a key-pure layout, and planner statistics reporting
  * (SupportsReportStatistics → stats-driven join strategy). */
class GraftCsvStatsSpec extends SparkSpec {
  import spark.implicits._

  private val fmt = "graft.sources.v2.GraftCsv"

  test("NaN doubles: max()/min() pushdown declines; answer honors NaN-above-all") {
    val out = java.nio.file.Files.createTempDirectory("graftcsv-nan").toString
    val sch = StructType(Seq(StructField("id", LongType), StructField("x", DoubleType)))
    // file 1: finite values; file 2: contains a NaN (and the largest finite)
    Seq((1L, Some(1.5)), (2L, Some(2.5))).toDF("id", "x")
      .coalesce(1).write.format(fmt).mode("overwrite").save(out)
    Seq((3L, Some(9.5)), (4L, Some(Double.NaN)), (5L, Option.empty[Double]))
      .toDF("id", "x")
      .coalesce(1).write.format(fmt).mode("append").save(out)
    def rd = spark.read.schema(sch).format(fmt).load(out)
    // min/max over x must NOT be answered from the manifest (stats see
    // only finite values; Spark's max must be NaN)
    val mm = rd.agg(min($"x").as("mn"), max($"x").as("mx"))
    val r = mm.collect().head
    assert(pushedAgg(mm).isEmpty,
      "min/max over a NaN-bearing double must decline the manifest lane")
    assert(r.getDouble(0) == 1.5 && r.getDouble(1).isNaN)
    // count(x) is still manifest-answerable: NaN is a VALUE, not a null
    val cq = rd.agg(count(lit(1)).as("n"), count($"x").as("nx"))
    val c = cq.collect().head
    assert(pushedAgg(cq).nonEmpty, "count lanes must still push")
    assert(c.getLong(0) == 5 && c.getLong(1) == 4)
    // min/max over id (int lane, no NaN possible) still pushes
    val idq = rd.agg(min($"id"), max($"id"))
    val ids = idq.collect().head
    assert(pushedAgg(idq).nonEmpty)
    assert(ids.getLong(0) == 1L && ids.getLong(1) == 5L)
  }

  test("NaN doubles: file skipping never drops a NaN-bearing file on value predicates") {
    import graft.sources.v2.GraftCsv
    val out = java.nio.file.Files.createTempDirectory("graftcsv-nanskip").toString
    val sch = StructType(Seq(StructField("id", LongType), StructField("x", DoubleType)))
    // finite-only file spans [1.0, 2.0]; NaN file's finite span is [0.5, 0.6]
    // but holds a NaN — under Spark semantics NaN > 100.0 is TRUE, so the
    // NaN file must survive a `x > 100` probe its finite bounds fail
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x")
      .coalesce(1).write.format(fmt).mode("overwrite").save(out)
    Seq((3L, 0.5), (4L, 0.6), (5L, Double.NaN)).toDF("id", "x")
      .coalesce(1).write.format(fmt).mode("append").save(out)
    def rd = spark.read.schema(sch).format(fmt).load(out)
    val big = rd.filter($"x" > 100.0).select("id").as[Long]
    val got = big.collect().toSet
    assert(got == Set(5L), s"NaN row lost or extra rows: $got")
    val (kept, total) = fileCounts(big)
    assert(total == 2 && kept == 1, s"finite file should skip, NaN file must not: $kept/$total")
    // an all-NaN file renders blank bounds + nan marker, never Infinity
    val out2 = java.nio.file.Files.createTempDirectory("graftcsv-allnan").toString
    Seq((1L, Double.NaN), (2L, Double.NaN)).toDF("id", "x")
      .coalesce(1).write.format(fmt).mode("overwrite").save(out2)
    val st = GraftCsv.readManifest(out2).values.head("x")
    assert(st.min == "" && st.max == "" && st.nan, s"bad all-NaN stats: $st")
    assert(spark.read.schema(sch).format(fmt).load(out2)
      .filter($"x" > 0.0).count() == 2) // NaN > 0.0 is true in Spark
  }

  test("corrupt _keys.csv degrades to the unordered layout, reads still succeed") {
    import graft.sources.v2.GraftCsv
    val out = java.nio.file.Files.createTempDirectory("graftcsv-badkeys").toString
    val sch = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    (0 until 40).map(i => (i.toLong % 4, i.toLong)).toDF("k", "v")
      .repartition(4, $"k")
      .write.format(fmt).option("partition_col", "k").mode("overwrite").save(out)
    def rd = spark.read.schema(sch).format(fmt).load(out)
    assert(rd.count() == 40)
    // corrupt one value cell: the LINE drops, the layout claim voids
    // (one file now lacks a key), and the scan falls back to unordered —
    // instead of a NumberFormatException failing every read of the table
    val kf = new java.io.File(s"$out/_keys.csv")
    val lines = scala.io.Source.fromFile(kf).getLines().toList
    val pw = new java.io.PrintWriter(kf)
    pw.println(lines.head.split(",").take(2).mkString(",") + ",not-a-number")
    lines.tail.foreach(pw.println)
    pw.close()
    new java.io.File(kf.getParent, s".${kf.getName}.crc").delete()
    assert(GraftCsv.readKeys(out).size == lines.size - 1)
    assert(rd.count() == 40)
    assert(rd.agg(sum($"v")).collect().head.getLong(0) == (0 until 40).sum)
  }

  test("keyed write fails loudly past the per-task open-sink bound") {
    val out = java.nio.file.Files.createTempDirectory("graftcsv-sinks").toString
    // 1 task × 500 distinct keys > the 256-sink cap → loud contract
    // error. no_cluster opts out of the write's own required clustering,
    // which would otherwise re-route the keys and make the bound
    // unreachable (that protection is the point of the next assertion).
    val wide = (0 until 500).map(i => (i.toLong, i.toLong)).toDF("k", "v").coalesce(1)
    val e = intercept[Exception] {
      wide.write.format(fmt).option("partition_col", "k")
        .option("no_cluster", "true").mode("overwrite").save(out)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("repartition by the partition column")), e.toString)
    // the DEFAULT keyed write requests clustering from the planner
    // (RequiresDistributionAndOrdering): keys SCATTERED over 16
    // round-robin partitions still land one key-pure file per key —
    // without the requested shuffle each task would see most keys and
    // land ~16 files per key. (AQE may coalesce the inserted shuffle,
    // so clustering bounds files-per-key, not keys-per-task — the sink
    // cap above stays the guard for extreme cardinality.)
    import graft.sources.v2.GraftCsv
    (0 until 4000).map(i => (i.toLong % 200, i.toLong)).toDF("k", "v")
      .repartition(16)
      .write.format(fmt).option("partition_col", "k").mode("overwrite").save(out)
    assert(GraftCsv.listDataFiles(out).size == 200, "one key-pure file per key")
    val sch = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    assert(spark.read.schema(sch).format(fmt).load(out).count() == 4000)
    // the manual repartition-by-key route still works too
    (0 until 500).map(i => (i.toLong % 8, i.toLong)).toDF("k", "v")
      .repartition(8, $"k")
      .write.format(fmt).option("partition_col", "k").mode("overwrite").save(out)
    assert(spark.read.schema(sch).format(fmt).load(out).count() == 500)
  }

  test("grouped aggregate pushdown: GROUP BY the partition key answers from the manifest") {
    import graft.sources.v2.GraftCsv
    val out = java.nio.file.Files.createTempDirectory("graftcsv-gagg").toString
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType), StructField("x", DoubleType)))
    val df = (0 until 400).map(i =>
      (i.toLong % 5, i.toLong, if (i % 10 == 0) None else Some(i * 0.5)))
      .toDF("k", "v", "x")
    df.repartition(4, $"k")
      .write.format(fmt).option("partition_col", "k").mode("overwrite").save(out)
    def rd = spark.read.schema(sch).format(fmt).load(out)
    def grouped = rd.groupBy($"k").agg(
      count(lit(1)).as("n"), count($"x").as("nx"),
      min($"v").as("mnv"), max($"v").as("mxv"))
    val g1 = grouped
    val r1 = g1.collect().sortBy(_.getLong(0))
    assert(pushedAgg(g1).contains("group_by=k"),
      s"grouped pushdown not accepted: '${pushedAgg(g1)}'")
    val expect = (0 until 400).map(i => (i.toLong % 5, i)).groupBy(_._1)
      .map { case (k, rows) =>
        (k, rows.size.toLong, rows.count(_._2 % 10 != 0).toLong,
          rows.map(_._2).min.toLong, rows.map(_._2).max.toLong)
      }.toSeq.sortBy(_._1)
    assert(r1.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq == expect)
    // the metadata-only proof, grouped: truncate every data file to its
    // header — the grouped answer must not move (manifest + keys only)
    GraftCsv.listDataFiles(out).foreach { p =>
      val f = new java.io.File(p.toUri.getPath)
      val header = scala.io.Source.fromFile(f).getLines().next()
      val w = new java.io.PrintWriter(f); w.println(header); w.close()
      new java.io.File(f.getParent, s".${f.getName}.crc").delete()
    }
    assert(rd.select("v").collect().isEmpty, "files were not truncated")
    val r2 = grouped.collect().sortBy(_.getLong(0))
    assert(r2.toSeq == r1.toSeq, "grouped manifest-only answer drifted")
  }

  test("grouped pushdown declines: non-key grouping, unkeyed table, expression group") {
    val out = java.nio.file.Files.createTempDirectory("graftcsv-gaggn").toString
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType), StructField("s", StringType)))
    val df = (0 until 100).map(i => (i.toLong % 4, i.toLong, s"s${i % 3}"))
      .toDF("k", "v", "s")
    df.repartition(4, $"k")
      .write.format(fmt).option("partition_col", "k").mode("overwrite").save(out)
    def rd = spark.read.schema(sch).format(fmt).load(out)
    def declined(q: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
      val r = q.collect()
      assert(pushedAgg(q).isEmpty, "pushdown should have been declined")
      r
    }
    // GROUP BY a non-key column: files are not pure in it
    assert(declined(rd.groupBy($"s").agg(count(lit(1)))).length == 3)
    // GROUP BY an expression over the key: no manifest lane
    assert(declined(rd.groupBy(($"k" % 2).as("k2")).agg(count(lit(1))))
      .length == 2)
    // unkeyed table: GROUP BY anything declines
    val out2 = java.nio.file.Files.createTempDirectory("graftcsv-gaggn2").toString
    df.repartition(2).write.format(fmt).mode("overwrite").save(out2)
    assert(declined(spark.read.schema(sch).format(fmt).load(out2)
      .groupBy($"k").agg(count(lit(1)))).length == 4)
  }

  test("a column literally named 'star' does not alias count(*)'s stats coverage") {
    val out = java.nio.file.Files.createTempDirectory("graftcsv-star").toString
    val sch = StructType(Seq(StructField("star", LongType), StructField("v", LongType)))
    (0 until 50).map(i => (i.toLong, i.toLong * 2)).toDF("star", "v")
      .repartition(2).write.format(fmt).mode("overwrite").save(out)
    def rd = spark.read.schema(sch).format(fmt).load(out)
    val q = rd.agg(count(lit(1)).as("n"), count($"star").as("ns"),
      min($"star").as("mn"))
    val r = q.collect().head
    assert(pushedAgg(q).nonEmpty)
    assert(r.getLong(0) == 50 && r.getLong(1) == 50 && r.getLong(2) == 0L)
  }

  test("SupportsReportStatistics: exact rows + bytes drive the join strategy both ways") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false") // gate the STATIC planner decision
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
    val dimPath = java.nio.file.Files.createTempDirectory("graftcsv-dim").toString
    val factPath = java.nio.file.Files.createTempDirectory("graftcsv-fact").toString
    import s2.implicits._
    (0 until 20).map(i => (i.toLong, s"d$i")).toDF("k", "name")
      .coalesce(1).write.format(fmt).mode("overwrite").save(dimPath)
    (0 until 2000).map(i => (i.toLong % 20, i.toLong)).toDF("k", "v")
      .repartition(2).write.format(fmt).mode("overwrite").save(factPath)
    val dimSch = StructType(Seq(StructField("k", LongType), StructField("name", StringType)))
    val factSch = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    def dim = s2.read.schema(dimSch).format(fmt).load(dimPath)
    def fact = s2.read.schema(factSch).format(fmt).load(factPath)
    def joined = fact.join(dim, "k").groupBy($"name")
      .agg(sum($"v").as("sv")).orderBy("name")
    // reported size (~a few hundred bytes) < 10 MB threshold → BHJ; a
    // source without stats reports Long.MaxValue and could never broadcast
    val p1 = joined.queryExecution.executedPlan.toString
    assert(p1.contains("BroadcastHashJoin"), s"stats did not enable BHJ:\n$p1")
    val r1 = joined.collect()
    // threshold below the reported dim size → the SAME join plans SMJ:
    // the flip proves a finite, specific size is being read off the scan
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
    val p2 = joined.queryExecution.executedPlan.toString
    assert(p2.contains("SortMergeJoin") && !p2.contains("BroadcastHashJoin"),
      s"threshold below reported size must plan SMJ:\n$p2")
    val r2 = joined.collect()
    assert(r1.toSeq == r2.toSeq, "join strategy changed the answer")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
    // numRows is exact: Catalyst's rowCount matches the table
    val stats = fact.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(2000)), s"rowCount: ${stats.rowCount}")
  }

  test("IN pushdown: evaluated per line, pruned per file through range + bloom stats") {
    val out = java.nio.file.Files.createTempDirectory("graftcsv-in").toString
    val sch = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    (0 until 100).map(i => (i.toLong, i.toLong * 2)).toDF("k", "v")
      .repartitionByRange(4, $"k") // 4 files with disjoint k ranges
      .write.format(fmt).mode("overwrite").save(out)
    def rd = spark.read.schema(sch).format(fmt).load(out)
    val q = rd.filter($"k".isin(3L, 97L)).select("v").as[Long]
    // the IN reached the scan (not a residual Spark filter)…
    val scanDesc = q.queryExecution.executedPlan.toString
    assert(scanDesc.contains("In(k"), s"IN not pushed:\n$scanDesc")
    // …answers exactly…
    assert(q.collect().toSet == Set(6L, 194L))
    // …and only the two files whose range covers a probe value were read
    val (kept, total) = fileCounts(q)
    assert(total == 4 && kept == 2, s"IN should prune to 2 of 4 files: $kept/$total")
    // a probe set entirely outside every range reads nothing
    val none = rd.filter($"k".isin(1000L, -5L))
    assert(none.collect().isEmpty)
    assert(fileCounts(none) == ((0, 4)))
    // …which the scan node still reports after AQE drops its empty stage
    val noGroups = rd.filter($"k".isin(1000L, -5L)).groupBy("v").count()
    assert(noGroups.collect().isEmpty)
    assert(fileCounts(noGroups) == ((0, 4)))
  }

  test("two scans of one table in one query report their own file counts") {
    import graft.sources.v2.GraftCsv
    val out = java.nio.file.Files.createTempDirectory("graftcsv-twoscans").toString
    val sch = StructType(Seq(StructField("k", LongType), StructField("m", LongType)))
    (0 until 100).map(i => (i.toLong, i.toLong % 7)).toDF("k", "m")
      .repartitionByRange(4, $"k") // 4 files with disjoint k ranges
      .write.format(fmt).mode("overwrite").save(out)
    def rd = spark.read.schema(sch).format(fmt).load(out)
    // k = 7 lies in one file's range; m = 3 occurs in every file
    val q = rd.filter($"k" === 7L).unionByName(rd.filter($"m" === 3L))
    assert(q.collect().length == 1 + 14)
    val counts = GraftCsv.scans(q).map(GraftCsv.fileCounts)
    assert(counts.sorted == Seq((1L, 4L), (4L, 4L)), s"per-scan (read, total): $counts")
  }

  test("runtime (DPP) filtering: the join's IN-set re-prunes the file list at execution") {
    import graft.sources.v2.GraftCsv
    val factPath = java.nio.file.Files.createTempDirectory("graftcsv-rtf").toString
    val dimPath = java.nio.file.Files.createTempDirectory("graftcsv-rtd").toString
    // fact: 1000 rows over 20 keys, range-partitioned into 5 key-disjoint
    // files; dim: 20 keys tagged 0..4, the filter (tag = 0) keeps keys
    // {0, 5, 10, 15} — NOT a key predicate, so only runtime pruning can
    // shrink the fact's file list
    (0 until 1000).map(i => (i.toLong % 20, i.toLong)).toDF("k", "v")
      .repartitionByRange(5, $"k")
      .write.format(fmt).mode("overwrite").save(factPath)
    (0 until 20).map(i => (i.toLong, i % 5)).toDF("k", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val factSch = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    val fact = spark.read.schema(factSch).format(fmt).load(factPath)
    val dim = spark.read.parquet(dimPath).filter($"tag" === 0)
    // broadcast the dim so IT is the build side: DPP (reuseBroadcastOnly)
    // evaluates the IN-set off the build side's broadcast — if the tiny
    // fact broadcasts instead, the planted filter degrades to true
    val j = fact.join(broadcast(dim), "k")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
    val r = j.collect().head
    val expect = (0 until 1000).filter(i => i % 20 % 5 == 0)
    assert(r.getLong(0) == expect.size && r.getLong(1) == expect.map(_.toLong).sum,
      "runtime pruning changed the answer")
    // the dynamicpruning filter was planted on OUR scan…
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), s"no DPP filter:\n$plan")
    // …and the execution-time re-planning skipped at least one file: the
    // 4 probe keys can hit at most 4 of the 5 disjoint range files
    val runtimeScans = GraftCsv.scans(j).filter(_.runtimeFilters.nonEmpty)
    assert(runtimeScans.length == 1, s"no runtime-filtered scan node:\n$plan")
    val (kept, total) = GraftCsv.fileCounts(runtimeScans.head)
    assert(total == 5 && kept > 0 && kept < total,
      s"runtime filter did not re-prune: $kept/$total")
  }

  test("top-n pushdown: dominated files drop, both directions, overlap-safe, null-decline") {
    val out = java.nio.file.Files.createTempDirectory("graftcsv-topn").toString
    val sch = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    (0 until 100).map(i => (i.toLong, i.toLong * 3)).toDF("k", "v")
      .repartitionByRange(4, $"k") // 4 files, disjoint k ranges
      .write.format(fmt).mode("overwrite").save(out)
    def rd = spark.read.schema(sch).format(fmt).load(out)
    // ascending: only the lowest-range file can hold the top 5
    val ascQ = rd.orderBy($"k").limit(5).as[(Long, Long)]
    val asc = ascQ.collect().toSeq
    assert(asc == (0L to 4L).map(i => (i, i * 3)))
    assert(pushedBound(ascQ).startsWith("topn=k asc"), pushedBound(ascQ))
    assert(fileCounts(ascQ) == ((1, 4)), fileCounts(ascQ).toString)
    // descending mirrors
    val descQ = rd.orderBy($"k".desc).limit(5).as[(Long, Long)]
    val desc = descQ.collect().toSeq
    assert(desc == (99L to 95L by -1).map(i => (i, i * 3)))
    assert(pushedBound(descQ).startsWith("topn=k desc"))
    assert(fileCounts(descQ) == ((1, 4)))
    // overlapping ranges: two files both span small keys — neither is
    // provably dominated, both must survive, answer exact
    val out2 = java.nio.file.Files.createTempDirectory("graftcsv-topn2").toString
    Seq(1L, 3L, 50L).toDF("k").coalesce(1)
      .write.format(fmt).mode("overwrite").save(out2)
    Seq(2L, 4L, 60L).toDF("k").coalesce(1)
      .write.format(fmt).mode("append").save(out2)
    Seq(100L, 101L, 102L).toDF("k").coalesce(1)
      .write.format(fmt).mode("append").save(out2)
    val sch1 = StructType(Seq(StructField("k", LongType)))
    val overlap = spark.read.schema(sch1).format(fmt).load(out2)
      .orderBy($"k").limit(4).as[Long]
    val got = overlap.collect().toSeq
    assert(got == Seq(1L, 2L, 3L, 4L))
    // 6 rows provably precede the [100,102] file → it drops; 2 kept of 3
    assert(fileCounts(overlap) == ((2, 3)))
    // a NULL in the sort column declines the pushdown, answer unchanged
    val out3 = java.nio.file.Files.createTempDirectory("graftcsv-topn3").toString
    (0 until 40).map(i => if (i == 7) None else Some(i.toLong)).toDF("k")
      .repartitionByRange(2, $"k")
      .write.format(fmt).mode("overwrite").save(out3)
    val nullQ = spark.read.schema(sch1).format(fmt).load(out3)
      .orderBy($"k".desc).limit(3).as[Option[Long]]
    val withNull = nullQ.collect().toSeq
    assert(withNull == Seq(Some(39L), Some(38L), Some(37L)))
    assert(pushedBound(nullQ).isEmpty,
      "null-bearing sort column must decline top-n pushdown")
  }

  test("limit pushdown: a row-sufficient file prefix is read, count exact") {
    val out = java.nio.file.Files.createTempDirectory("graftcsv-lim").toString
    val sch = StructType(Seq(StructField("k", LongType)))
    (0 until 400).map(_.toLong).toDF("k").repartition(8)
      .write.format(fmt).mode("overwrite").save(out)
    def rd = spark.read.schema(sch).format(fmt).load(out)
    val lim = rd.limit(60).agg(count(lit(1)))
    assert(lim.collect().head.getLong(0) == 60)
    assert(pushedBound(lim) == "limit=60")
    val (kept, total) = fileCounts(lim)
    assert(total == 8 && kept < total && kept >= 2, s"$kept/$total")
    // limit past the table reads everything and returns everything
    val (all, counts) = countWithFiles(rd.limit(100000))
    assert(all == 400)
    assert(counts == ((8, 8)))
    // a pushed filter declines the limit bound (raw rows ≠ matching rows)
    val filtered = rd.filter($"k" >= 200L).limit(60).agg(count(lit(1)))
    assert(filtered.collect().head.getLong(0) == 60)
    assert(pushedBound(filtered).isEmpty,
      "limit pushdown must decline under pushed filters")
  }
}
