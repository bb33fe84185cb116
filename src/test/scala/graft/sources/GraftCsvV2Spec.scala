package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.ScanFacts._

class GraftCsvV2Spec extends SparkSpec {
  import spark.implicits._

  private val fmt = "graft.sources.v2.GraftCsv"

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graftcsv").toString
    val df = (0 until 100).map(i =>
      (i, s"name$i", if (i % 10 == 0) None else Some(i * 1.5), i.toLong * 3))
      .toDF("id", "name", "score", "big")
    // two part files → two input partitions (multi-executor shape)
    Sinks.writeCsv(df.repartition(2), d)
    d
  }

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType),
    StructField("score", DoubleType), StructField("big", LongType)))

  private def v2 = spark.read.schema(schema).format(fmt).load(dir)

  test("V2 write: two-phase commit lands clean files; V2 read-back round-trips") {
    val out = java.nio.file.Files.createTempDirectory("graftcsv-w").toString
    val df = (0 until 50).map(i =>
      (i, s"w$i", if (i % 7 == 0) None else Some(i * 2.5), i.toLong))
      .toDF("id", "name", "score", "big")
    df.repartition(3).write.format(fmt).mode("append").save(out)
    val back = spark.read.schema(schema).format(fmt).load(out)
      .as[(Int, String, Option[Double], Long)].collect().toSet
    assert(back == df.as[(Int, String, Option[Double], Long)].collect().toSet)
    // commit cleaned up: no temp dirs, exactly the 3 task files
    val files = new java.io.File(out).listFiles.toSeq.map(_.getName)
    assert(!files.exists(_.startsWith("_tmp")), files.toString)
    assert(files.count(_.startsWith("part-")) == 3, files.toString)
  }

  test("V2 write: overwrite truncates the previous generation") {
    val out = java.nio.file.Files.createTempDirectory("graftcsv-t").toString
    Seq((1, "a", Some(1.0), 1L), (2, "b", Some(2.0), 2L))
      .toDF("id", "name", "score", "big")
      .write.format(fmt).mode("overwrite").save(out)
    Seq((9, "z", Some(9.0), 9L)).toDF("id", "name", "score", "big")
      .write.format(fmt).mode("overwrite").save(out)
    val got = spark.read.schema(schema).format(fmt).load(out)
      .as[(Int, String, Option[Double], Long)].collect().toSeq
    assert(got == Seq((9, "z", Some(9.0), 9L)))
  }

  test("V2 write: a cell containing the separator fails the job loudly") {
    val out = java.nio.file.Files.createTempDirectory("graftcsv-b").toString
    val bad = Seq((1, "has,comma", Some(1.0), 1L)).toDF("id", "name", "score", "big")
    val e = intercept[Exception] {
      bad.write.format(fmt).mode("append").save(out)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("quote-free contract")), e.toString)
  }

  test("round-trip equals the native csv reader, including NULL cells") {
    val native = Sinks.readCsv(spark, dir, schema)
      .as[(Int, String, Option[Double], Long)].collect().toSet
    val got = v2.as[(Int, String, Option[Double], Long)].collect().toSet
    assert(got == native && got.size == 100)
  }

  test("schema inference reads the header (all-string exploration mode)") {
    val inferred = spark.read.format(fmt).load(dir)
    assert(inferred.schema.fieldNames.toSeq == Seq("id", "name", "score", "big"))
    assert(inferred.schema.fields.forall(_.dataType == StringType))
    assert(inferred.count() == 100)
  }

  test("column pruning reaches the scan: ReadSchema carries only requested fields") {
    val plan = v2.select("name").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<name:string>"),
      s"pruned schema not in scan description:\n$plan")
  }

  test("supported filters are pushed; results match the unpushed plan") {
    val q = v2.filter(col("id") >= 90 && col("score").isNotNull).select("id", "big")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThanOrEqual(id,90)") &&
      plan.contains("IsNotNull(score)"), s"filters not pushed:\n$plan")
    val got = q.as[(Int, Long)].collect().toSet
    assert(got == (91 until 100).map(i => (i, i.toLong * 3)).toSet) // 90 has NULL score
  }

  test("unsupported filters stay as residual Spark filters, answers still exact") {
    val q = v2.filter(col("name").contains("name9") || col("id") === 3)
    val plan = q.queryExecution.executedPlan.toString
    // Or/Contains is not pushable → scan shows no pushed filters, Spark
    // keeps its own Filter node, and the result is unchanged
    assert(plan.contains("PushedFilters: []"), s"unexpected push:\n$plan")
    assert(plan.contains("Filter"), s"residual filter missing:\n$plan")
    val ids = q.select("id").as[Int].collect().toSet
    assert(ids == (Set(3, 9, 90, 91, 92, 93, 94, 95, 96, 97, 98, 99)))
  }

  test("pushed string comparisons rank in UTF8 binary order (supplementary chars)") {
    // U+1F600 (a UTF-16 surrogate pair) vs U+FFFF: java String.compareTo
    // says surrogate(0xD83D) < 0xFFFF; Spark's UTF8String binary order
    // says the code point U+1F600 > U+FFFF. A pushed filter must keep
    // exactly the rows Spark's own Filter node would — regression pin
    // for the round-13 comparator fix (in-reader eval + DELETE verdict).
    val d = java.nio.file.Files.createTempDirectory("graftcsv-utf8").toString
    val rows = Seq((1, "😀"), (2, "￾"), (3, "plain")).toDF("id", "name")
    rows.coalesce(1).write.format(fmt).mode("overwrite").save(d)
    val sch = StructType(Seq(StructField("id", IntegerType), StructField("name", StringType)))
    val probe = "￿"
    val pushedQ = spark.read.schema(sch).format(fmt).load(d)
      .filter(col("name") < probe).select("id")
    assert(pushedQ.queryExecution.executedPlan.toString.contains("LessThan(name,"),
      "comparison did not push")
    val expected = rows.filter(col("name") < probe).select("id")
      .as[Int].collect().toSet // Spark's own evaluation = the contract
    assert(pushedQ.as[Int].collect().toSet == expected)
    assert(expected == Set(2, 3), s"Spark semantics changed? $expected")
  }

  test("pushed filter on a column OUTSIDE the projection still works") {
    // score is filter-referenced but not in the output: the reader parses
    // it for the predicate yet emits only (id)
    val got = v2.filter(col("score") < 15.0).select("id").as[Int].collect().toSet
    assert(got == (0 until 10).filter(_ % 10 != 0).toSet)
  }

  test("scan plans one partition per data file") {
    val files = graft.sources.v2.GraftCsv.listDataFiles(dir)
    assert(files.size == 2)
    assert(v2.rdd.getNumPartitions == 2)
  }

  test("file skipping: range-disjoint files are pruned at planning time, results exact") {
    import graft.sources.v2.GraftCsv
    val out = java.nio.file.Files.createTempDirectory("graftcsv-skip").toString
    val df = (0 until 400).map(i => (i.toLong, i % 50, s"n$i")).toDF("k", "m", "name")
    // range-partition on k so the 4 files carry disjoint [min, max] ranges
    df.repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format(fmt).mode("overwrite").save(out)
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("m", IntegerType), StructField("name", StringType)))
    def rd = spark.read.schema(sch).format(fmt).load(out)
    // the manifest exists and carries one entry per file per numeric col
    val manifest = GraftCsv.readManifest(out)
    assert(manifest.size == 4 && manifest.values.forall(_.keySet == Set("k", "m")))
    // a tight range predicate must plan ONLY the file(s) containing it
    val range = rd.filter(col("k") >= 120 && col("k") <= 130).select("k").as[Long]
    val got = range.collect().toSet
    assert(got == (120L to 130L).toSet)
    val (kept, total) = fileCounts(range)
    assert(total == 4 && kept < total, s"no skipping happened: $kept/$total")
    // equality probe: exactly one file survives planning
    val (one, oneFiles) = countWithFiles(rd.filter(col("k") === 7))
    assert(one == 1)
    assert(oneFiles._1 == 1)
    // a filter matching nothing skips every file
    val (none, noneFiles) = countWithFiles(rd.filter(col("k") > 100000))
    assert(none == 0)
    assert(noneFiles._1 == 0)
    // un-skippable column (m spans every file): nothing pruned, result exact
    val (m3, m3Files) = countWithFiles(rd.filter(col("m") === 3))
    assert(m3 == 8)
    assert(m3Files._1 == 4)
    // APPEND merges the manifest: new files get entries, old ones survive
    (1000 until 1100).map(i => (i.toLong, i % 50, s"n$i")).toDF("k", "m", "name")
      .coalesce(1).write.format(fmt).mode("append").save(out)
    assert(GraftCsv.readManifest(out).size == 5)
    val (appended, appendedFiles) = countWithFiles(rd.filter(col("k") >= 1000))
    assert(appended == 100)
    assert(appendedFiles._1 == 1, "append file not isolated by skip")
  }

  test("file skipping stays conservative: all-null columns and IsNull/IsNotNull") {
    val out = java.nio.file.Files.createTempDirectory("graftcsv-skipnull").toString
    val sch = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    // file 1: b entirely null; file 2: b fully populated
    Seq((1L, Option.empty[Long]), (2L, None)).toDF("a", "b")
      .coalesce(1).write.format(fmt).mode("overwrite").save(out)
    Seq((3L, Option(30L)), (4L, Some(40L))).toDF("a", "b")
      .coalesce(1).write.format(fmt).mode("append").save(out)
    def rd = spark.read.schema(sch).format(fmt).load(out)
    // value predicate on b: the all-null file is provably unmatchable
    assert(countWithFiles(rd.filter(col("b") > 0)) == ((2L, (1, 2))))
    // IsNull keeps only the all-null file; IsNotNull only the populated one
    assert(countWithFiles(rd.filter(col("b").isNull)) == ((2L, (1, 2))))
    assert(countWithFiles(rd.filter(col("b").isNotNull)) == ((2L, (1, 2))))
  }

  test("bloom skipping prunes equality probes that min/max cannot") {
    val out = java.nio.file.Files.createTempDirectory("graftcsv-bloom").toString
    val sch = StructType(Seq(StructField("k", LongType), StructField("name", StringType)))
    // interleaved layout: file f holds keys ≡ f (mod 4), so every file's
    // [min, max] range covers every probe — range stats are useless here
    // sparse keys (residues 0-3 mod 8) so absent-but-in-range probes exist
    (0 until 4).foreach { f =>
      (0 until 500).map(i => (i.toLong * 8 + f, s"v${i * 8 + f}"))
        .toDF("k", "name")
        .coalesce(1).write.format(fmt)
        .mode(if (f == 0) "overwrite" else "append").save(out)
    }
    def rd = spark.read.schema(sch).format(fmt).load(out)
    // the equality probe prunes through the blooms to (almost) one file;
    // correctness first: exactly the right row comes back
    val probe = rd.filter(col("k") === 402L).as[(Long, String)]
    assert(probe.collect().toSeq == Seq((402L, "v402")))
    val (kept, total) = fileCounts(probe)
    assert(total == 4 && kept < 4, s"bloom should prune: kept=$kept of $total")
    // a probe for an ABSENT key inside every range scans nothing (up to
    // Bloom false positives, which only ever keep extra files) and
    // returns empty — never a wrong row
    assert(rd.filter(col("k") === 1005L).count() == 0)
    // range predicates are unaffected by blooms
    assert(rd.filter(col("k") >= 3992L).count() == 4)
    // every value written IS found (no false negatives, the safety law)
    val probes = Seq(0L, 1L, 994L, 3995L)
    probes.foreach { v =>
      assert(rd.filter(col("k") === v).count() == 1, s"lost key $v")
    }
  }

  test("aggregate pushdown: count/min/max answered from the manifest ALONE") {
    import graft.sources.v2.GraftCsv
    val out = java.nio.file.Files.createTempDirectory("graftcsv-agg").toString
    val df = (0 until 200).map(i =>
      (i, s"n$i", if (i % 10 == 0) None else Some(i * 1.5), i.toLong * 3))
      .toDF("id", "name", "score", "big")
    df.repartition(3).write.format(fmt).mode("overwrite").save(out)
    def rd = spark.read.schema(schema).format(fmt).load(out)
    def aggQ = rd.agg(
      count(lit(1)).as("n"), count($"score").as("n_score"),
      min($"id").as("min_id"), max($"id").as("max_id"),
      min($"score").as("min_s"), max($"big").as("max_b"))
    val q1 = aggQ
    val r1 = q1.collect().head
    assert(pushedAgg(q1).nonEmpty, "pushdown not accepted")
    assert(r1.getLong(0) == 200 && r1.getLong(1) == 180) // 20 planted nulls
    assert(r1.getInt(2) == 0 && r1.getInt(3) == 199)
    assert(r1.getDouble(4) == 1.5 && r1.getLong(5) == 597L)
    // THE metadata-only proof: truncate every data file to its header.
    // A data-reading plan now sees zero rows; the aggregate still answers
    // the original values, because only the manifest was consulted.
    GraftCsv.listDataFiles(out).foreach { p =>
      val f = new java.io.File(p.toUri.getPath)
      val header = scala.io.Source.fromFile(f).getLines().next()
      val w = new java.io.PrintWriter(f); w.println(header); w.close()
      // drop Hadoop LocalFS checksum siblings — the truncated file would
      // otherwise fail CRC before our reader even saw it
      new java.io.File(f.getParent, s".${f.getName}.crc").delete()
    }
    assert(rd.select("id").collect().isEmpty, "files were not truncated")
    val r2 = aggQ.collect().head
    assert(r2 == r1, s"manifest-only answer drifted: $r2 vs $r1")
  }

  test("aggregate pushdown declines every shape stats cannot answer exactly") {
    val out = java.nio.file.Files.createTempDirectory("graftcsv-aggn").toString
    val df = (0 until 100).map(i =>
      (i, s"n$i", if (i % 10 == 0) None else Some(i * 1.5), i.toLong * 3))
      .toDF("id", "name", "score", "big")
    df.repartition(2).write.format(fmt).mode("overwrite").save(out)
    def rd = spark.read.schema(schema).format(fmt).load(out)
    def declined(q: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
      val r = q.collect()
      assert(pushedAgg(q).isEmpty,
        "pushdown should have been declined (scan must read data)")
      r
    }
    // a pushed filter invalidates whole-file stats
    assert(declined(rd.filter($"id" >= 50).agg(min($"id")))
      .head.getInt(0) == 50)
    // SUM has no manifest lane
    assert(declined(rd.agg(sum($"big"))).head.getLong(0) == 14850L)
    // grouping has no manifest lane
    assert(declined(rd.groupBy($"id" % 2).agg(max($"id"))).length == 2)
    // DISTINCT count cannot come from min/max/nulls
    assert(declined(rd.agg(countDistinct($"id"))).head.getLong(0) == 100)
    // string columns carry no stats
    assert(declined(rd.agg(min($"name"))).head.getString(0) == "n0")
    // one unanswerable function poisons the whole pushdown (all-or-nothing)
    val mixed = declined(rd.agg(min($"id"), sum($"id"))).head
    assert(mixed.getInt(0) == 0 && mixed.getLong(1) == 4950L)
    // a table whose manifest is gone answers from data — never wrongly skips
    new java.io.File(s"$out/_stats.csv").delete()
    val noStats = declined(rd.agg(count(lit(1)), min($"id"))).head
    assert(noStats.getLong(0) == 100 && noStats.getInt(1) == 0)
  }
}
