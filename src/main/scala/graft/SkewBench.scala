package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-proof harness for the containment dedup family: the prefix
  * filter's payoff claim (TextOps.containmentPairsPrefix) targets
  * HEAVY-TAILED posting lists — boilerplate shingles shared by a constant
  * FRACTION of the corpus, whose posting lists therefore grow linearly
  * with corpus size and whose posting self-join grows QUADRATICALLY. The
  * uniform synthetic corpus cannot exhibit that tail (every posting list
  * is short and scale-invariant), so SCALECHECK's 10× rows for q80/q113
  * show only the prefix machinery's fixed costs (round-6 verdict,
  * "Missing" #2). This harness plants the tail and measures the claim.
  *
  * Materialization: a fixed 12-word boilerplate span (→ 10 shared 3-gram
  * shingles) is appended to ~30% of documents (doc_id % 10 < 3). The k×
  * copy reuses ScaleBench's injective per-copy token rewrite for the
  * ORIGINAL text — so organic near-dup structure scales linearly, exactly
  * as in SCALECHECK — but the boilerplate is appended AFTER the rewrite
  * and stays GLOBAL across copies, the way real boilerplate ("all rights
  * reserved…") spans a constant fraction of any crawl regardless of its
  * size. At k× the boilerplate posting lists hold 0.3·k·N docs each:
  *  - q80 (exact posting self-join) must enumerate every co-boilerplate
  *    pair — ~10·C(0.3·k·N, 2) join rows, k² growth — before its verify
  *    can reject them (the pairs share only the 10 boilerplate shingles,
  *    containment ≈ 10/|A| ≪ 0.8, so the OUTPUT is unchanged: all that
  *    work is provably wasted, which is the point);
  *  - q113's prefix side ranks each doc's shingles by ascending document
  *    frequency and joins only the rarest ⌈(1−t)·sz⌉+1 — boilerplate
  *    shingles (df = 0.3·k·N vs ≤ a few hundred for everything else)
  *    never enter any prefix, so the hot posting lists are never join
  *    keys and candidate generation stays ~linear in k.
  * Both queries must still return the SAME pair set (the q113 gate
  * contract); this harness re-verifies that identity on the skewed base
  * corpus before timing anything.
  *
  * Usage: `sbt "runMain graft.SkewBench [srcDir] [k] [outDir]"`
  * (defaults /root/testdata/sf0.1, 10, /tmp/graft_skew). Prints one JSON
  * line: {"metric":"skew","k":…,"queries":{q:{"base":s,"scaled":s,
  * "ratio":r}},…}; results land in SCALECHECK.md's skew section.
  */
object SkewBench {
  import Harness.fmt

  /** 12 tokens → 10 interior 3-gram shingles; the `bp_` namespace cannot
    * collide with corpus vocabulary or with ScaleBench's `c<i>_` rewrite
    * prefixes. */
  val Boilerplate: String = (0 until 12).map(i => s"bp_w$i").mkString(" ")

  /** Append the global boilerplate to ~30% of docs (deterministic by id;
    * offsets of a multiple of 10 preserve membership across copies). */
  private def plantBoilerplate(d: DataFrame): DataFrame = d
    .withColumn("text",
      when(col("doc_id") % 10 < 3, concat(col("text"), lit(" " + Boilerplate)))
        .otherwise(col("text")))
    .withColumn("n_chars", length(col("text")).cast("long"))

  /** Writes `$out/base/documents.parquet` (source + boilerplate) and
    * `$out/scaled/documents.parquet` (k copies, per-copy token rewrite,
    * then the SAME global boilerplate). Only the documents table: the
    * containment queries read nothing else. */
  def materialize(spark: SparkSession, src: String, out: String, k: Int): Long = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDoc = docs.count()
    plantBoilerplate(docs)
      .write.mode("overwrite").parquet(s"$out/base/documents.parquet")
    val scaled = (0 until k)
      .map(i => plantBoilerplate(ScaleBench.documentCopy(docs, i, nDoc)))
      .reduce(_ unionByName _)
    scaled.write.mode("overwrite").parquet(s"$out/scaled/documents.parquet")
    nDoc
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val out = args.lift(2).getOrElse("/tmp/graft_skew")
    val exact = "q80_containment"
    val prefix = "q113_containment_prefix"
    // SPARK_GRAFT_ONLY restricts the TIMED set — the k=100 spot run times
    // only the prefix variant, because the exact form's scaled run is the
    // proven k² shape (≈10·C(0.3·k·N, 2) join rows: minutes at 10×, hours
    // at 100× — measuring it again teaches nothing). The base-corpus
    // result-identity gate below always runs.
    val timedSet = Harness.select().filter { case (q, _) => q == exact || q == prefix }
    val spark = GraftSession.get("graft-skewbench")
    Harness.warm(spark)

    val t0 = System.nanoTime()
    val nDoc = materialize(spark, src, out, k)
    val tMat = (System.nanoTime() - t0) / 1e9

    // Result-identity gate on the skewed corpus BEFORE timing: the prefix
    // variant must remain bit-equal to the exact form with the planted
    // tail present (same contract its gate row proves on the uniform
    // corpus). q113's gate threshold is 4/5 = q80's 0.8.
    val base = s"$out/base"
    val e = SparkEntry.queries(exact)(spark, base)
    val p = SparkEntry.queries(prefix)(spark, base)
    val diff = e.exceptAll(p).count() + p.exceptAll(e).count()
    val pairs = e.count()
    require(diff == 0,
      s"prefix variant diverged from exact on the skewed corpus: $diff differing rows")

    // Same discipline as ScaleBench: untimed base run absorbs codegen for
    // the plan shape, and every run starts from Harness.reset.
    val rows = timedSet.map { case (name, q) =>
      Harness.run(spark, q, base, newQuery = true)
      val b = Harness.run(spark, q, base, newQuery = false)
      (name, b, Harness.run(spark, q, s"$out/scaled", newQuery = false))
    }
    val qs = rows.map { case (q, b, s) =>
      val ratio = (b, s) match {
        case (Right(bb), Right(ss)) if bb > 0 => fmt(ss / bb)
        case _ => "-1"
      }
      s""""$q":{"base":${b.fold(_ => "-1", fmt)},"scaled":${s.fold(_ => "-1", fmt)},"ratio":$ratio}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"skew","k":$k,"n_docs_base":$nDoc,"boiler_pct":30,""" +
      s""""boiler_shingles":10,"materialize_sec":${fmt(tMat)},""" +
      s""""base_pairs":$pairs,"exact_vs_prefix_diff":$diff,"queries":$qs,"src":"$src"}""")
    rows.foreach { case (q, b, s) =>
      b.left.foreach(e => System.err.println(s"[skew] $q base FAILED: $e"))
      s.left.foreach(e => System.err.println(s"[skew] $q scaled FAILED: $e"))
    }
    spark.stop()
    if (rows.exists(r => r._2.isLeft || r._3.isLeft)) sys.exit(1)
  }
}
