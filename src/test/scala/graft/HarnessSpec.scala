package graft

import org.apache.spark.storage.StorageLevel

class HarnessSpec extends SparkSpec {

  test("select: an unknown SPARK_GRAFT_ONLY name fails and the message names it") {
    val err = intercept[IllegalArgumentException] {
      Harness.select(Some("q01_pricing_summary,q01_pricing_sumary,q999_nope"))
    }
    assert(err.getMessage.contains("q01_pricing_sumary, q999_nope"), err.getMessage)
    assert(!err.getMessage.contains("q01_pricing_summary"), err.getMessage)
    intercept[IllegalArgumentException](Harness.select(Some(",")))
  }

  test("select: unset returns every gate query in name order; a list keeps its names") {
    val all = Harness.select(None).map(_._1)
    assert(all.size == 363)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    assert(Harness.select(Some("q80_containment,q01_pricing_summary")).map(_._1) ==
      Seq("q01_pricing_summary", "q80_containment"))
  }

  test("reset leaves no cached frame, temp view or persisted RDD block") {
    val cached = spark.range(10).toDF("x").cache()
    cached.count()
    cached.createOrReplaceTempView("harness_spec_view")
    Materialize.cut(spark.range(5).toDF("y"))
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Harness.reset(spark, newQuery = false)
    assert(cached.storageLevel == StorageLevel.NONE)
    assert(!spark.catalog.tableExists("harness_spec_view"))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("timed: seconds on success, the error's first line cut at 160 characters on failure") {
    assert(Harness.timed(spark.range(3).toDF()).exists(_ >= 0))
    val err = Harness.timed(throw new IllegalStateException("x" * 200 + "\nsecond line"))
    assert(err == Left(("java.lang.IllegalStateException: " + "x" * 200).take(160)))
  }

  test("session reset and query selection live in Harness.scala only") {
    // One reset policy and one selection: no other main clears the
    // cache, drops views, unpersists RDDs or reads the query subset.
    val hits = SourceScan.outside("Harness.scala") { line =>
      Seq("catalog.clearCache", "getPersistentRDDs", "dropTempView", "\"SPARK_GRAFT_ONLY\"")
        .exists(line.contains)
    }
    assert(hits.isEmpty, hits.mkString("query-harness code outside Harness:\n", "\n", ""))
  }
}
