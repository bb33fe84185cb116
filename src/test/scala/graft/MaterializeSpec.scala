package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class MaterializeSpec extends SparkSpec {

  test("fixpoint runs at most cap rounds, then fails naming the operator and the cap") {
    assert(Materialize.fixpoint("counter", 0, cap = 3)(_ + 1)(_ == 3) == 3)
    var rounds = 0
    val err = intercept[IllegalStateException] {
      Materialize.fixpoint("spinner", 0, cap = 7) { s => rounds += 1; s + 1 }(_ => false)
    }
    assert(rounds == 7)
    assert(err.getMessage == "spinner did not converge within 7 rounds")
  }

  test("fixpoint: a cut state that loses its blocks fails the next round loudly") {
    // The cut truncates lineage, so lost blocks cannot be recomputed: the
    // round that reads them must fail by name, never return a partial
    // fixpoint or silently re-run the upstream plan.
    def dropBlocks(df: DataFrame): Unit = df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = true)
    }
    var rounds = 0
    val err = intercept[Exception] {
      Materialize.fixpoint("dropped", Materialize.cut(spark.range(0, 100).toDF("x")), cap = 10) {
        s =>
          rounds += 1
          if (rounds == 3) dropBlocks(s)
          Materialize.cut(s.select((col("x") + 1).as("x")))
      }(_.agg(min("x")).head().getLong(0) >= 5)
    }
    assert(rounds == 3)
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("[CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND]")), err)
  }

  test("cutCounting: the count rides the cut's own job; empty inputs count 0") {
    import spark.implicits._
    val src = spark.range(0, 100).toDF("x")
    val ((cut, n), jobs) = countingJobs(Materialize.cutCounting(src, col("x") % 3 === 0))
    assert(n == 34 && jobs == 1, s"count $n in $jobs jobs")
    assert(cut.count() == 100)
    // null conditions do not count
    assert(Materialize.cutCounting(src, when(col("x") > 1, lit(true)))._2 == 98)
    val empties = Seq(src.filter(lit(false)), spark.range(0).toDF("x"),
      Seq.empty[Long].toDF("x"), src.filter(col("x") < 0).groupBy("x").count())
    empties.foreach { df =>
      val (c, m) = Materialize.cutCounting(df, lit(true))
      assert(m == 0 && c.isEmpty)
    }
  }

  test("every lineage cut in src/main goes through Materialize.cut") {
    // The cut policy (localCheckpoint here, reliable checkpoint where
    // executors can be lost) is decided in one function only while no
    // other source calls localCheckpoint itself.
    val hits = SourceScan.outside("Materialize.scala")(_.contains(".localCheckpoint("))
    assert(hits.isEmpty, hits.mkString("localCheckpoint outside Materialize.cut:\n", "\n", ""))
  }
}
