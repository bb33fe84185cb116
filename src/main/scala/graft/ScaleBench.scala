package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-proof harness: materializes a k× copy of an sf directory and times
  * every gate query (`Harness.select`, in name order) on BOTH the source
  * and the scaled data, printing per-query seconds and the scaling
  * ratio — converting the "would this hold at 10×?" design arguments
  * into measurements when no larger driver-side sf exists.
  *
  * Scaling is union-of-key-offset copies, preserving the invariants the
  * engine derives from (SURVEY §1.1 / Derive.scala):
  *  - dense synthetic keys stay dense (customer/part keys offset by
  *    copy × count, so arithmetic node ids keep working);
  *  - foreign keys follow their parents (orders.o_custkey, lineitem's
  *    order/part keys), so join fan-outs stay uniform instead of skewing
  *    every reference onto the first copy;
  *  - dimension tables (region/nation/supplier) are NOT replicated — their
  *    key domains are closed and replication would corrupt joins;
  *  - document text is rewritten per copy with an injective token prefix:
  *    Jaccard similarity is invariant under token renaming, so each copy's
  *    planted near-dup pairs survive, but copies do NOT pair with each
  *    other — near-dup work scales linearly instead of blowing up
  *    quadratically on artificial cross-copy duplicates.
  *
  * Usage: `sbt "runMain graft.ScaleBench [srcDir] [k] [outDir]"`
  * (defaults /root/testdata/sf0.1, 10, /tmp/graft_scale). Prints one JSON
  * line: {"metric":"scale","k":10,"queries":{q:{"base":s,"scaled":s}},...}.
  */
object ScaleBench {
  import Harness.fmt

  /** Copy `i` of the documents table: doc ids offset by `i * nDoc`, and
    * every token of the text prefixed with `c<i>_`. The prefix is
    * injective, so each copy's near-dup pairs survive (Jaccard similarity
    * is invariant under token renaming) but copies never pair with each
    * other. "c${i}_" has a separator, not "c$i": an unseparated prefix is
    * not injective once k > 10 (copy 1 + token "0x" would collide with
    * copy 10 + token "x"), which would silently create the cross-copy
    * near-dups this rewrite exists to prevent. */
  def documentCopy(d: DataFrame, i: Int, nDoc: Long): DataFrame = d
    .withColumn("doc_id", col("doc_id") + lit(i * nDoc))
    .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"c${i}_" + "$1"))

  def materialize(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    val nCust = read("customer").count()
    val nPart = read("part").count()
    val nOrd = read("orders").count()
    val nDoc = read("documents").count()
    val nVec = read("embeddings").count()

    def copies(t: String)(f: (DataFrame, Int) => DataFrame): Unit =
      write((0 until k).map(i => f(read(t), i)).reduce(_ unionByName _), t)

    copies("customer")((d, i) => d.withColumn("c_custkey", col("c_custkey") + lit(i * nCust)))
    copies("part")((d, i) => d.withColumn("p_partkey", col("p_partkey") + lit(i * nPart)))
    copies("orders")((d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * nOrd))
      .withColumn("o_custkey", col("o_custkey") + lit(i * nCust)))
    copies("lineitem")((d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * nOrd))
      .withColumn("l_partkey", col("l_partkey") + lit(i * nPart)))
    copies("documents")((d, i) => documentCopy(d, i, nDoc)
      // text-derived columns must follow the rewrite or the scaled table
      // is internally inconsistent for any n_chars consumer; cast keeps
      // the source's BIGINT type (length() alone would narrow to INT)
      .withColumn("n_chars", length(col("text")).cast("long")))
    // embeddings: rotate dimensions by 7·i per copy — the embedding analog
    // of the documents token rewrite. Identical copies would otherwise be
    // exact cross-copy near-dups (cos = 1), making every LSH bucket's
    // within-bucket pair count grow quadratically in k BY CONSTRUCTION of
    // the scaled corpus rather than by the operator (caught as q42's 3.6×
    // when the harness went full-coverage). A circular shift preserves
    // norms and within-copy geometry exactly; cross-copy cosines drop to
    // background. Shifts repeat mod 64 (dim), so copies ≥64 additionally
    // NEGATE the vector (negation also preserves all within-copy cosines)
    // — the (shift, sign) pair is injective through k = 128.
    copies("embeddings")((d, i) => d
      .withColumn("vec_id", col("vec_id") + lit(i * nVec))
      .withColumn("embedding", if (i == 0) col("embedding") else {
        val s = (7 * i) % 64
        val rot =
          if (s == 0) "embedding"
          else s"concat(slice(embedding, ${s + 1}, ${64 - s}), slice(embedding, 1, $s))"
        expr(if (i >= 64) s"transform($rot, x -> -x)" else rot)
      }))
    // events: offset event ids AND user ids per copy — k independent user
    // populations over the same time range, so per-user session/as-of/
    // funnel work scales linearly (offsetting only event_id would multiply
    // every user's per-key event count by k instead, quadratic-ing the
    // within-key windows)
    val nEvt = read("events").count()
    val nUsr = read("events").agg(max("user_id")).head.getLong(0) + 1
    copies("events")((d, i) => d
      .withColumn("event_id", col("event_id") + lit(i * nEvt))
      .withColumn("user_id", col("user_id") + lit(i * nUsr)))
    Seq("region", "nation", "supplier").foreach(t => write(read(t), t))
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val out = args.lift(2).getOrElse("/tmp/graft_scale")
    val selected = Harness.select()
    val spark = GraftSession.get("graft-scalebench")
    Harness.warm(spark)

    val t0 = System.nanoTime()
    // Local iteration aid: reuse an already-materialized scaled copy
    // (full runs leave this unset and always rebuild)
    if (!sys.env.contains("SPARK_GRAFT_SKIP_MAT")) materialize(spark, src, out, k)
    val tMat = (System.nanoTime() - t0) / 1e9

    // Per query: one UNTIMED base run first (absorbs whole-stage-codegen
    // compilation + JIT for the plan shape — otherwise the cold base
    // deflates the ratio and 10x data can read as fake sublinearity), then
    // timed base, then timed scaled; every run starts from Harness.reset,
    // so caches and persisted blocks created inside a query (q31's
    // shingle table, the lineage cuts) can't leak into the next
    // measurement.
    // Two timing layouts. Interleaved (default, k=10 full runs): per query
    // warm→base→scaled, so each ratio is measured back-to-back. Bases-first
    // (SPARK_GRAFT_BASES_FIRST, for k=100 spot runs): ALL base timings in a
    // first block, then all scaled runs — at k=100 a single scaled query
    // holds ~100 s of heap churn, and the k=100 session measured the NEXT
    // query's base up to 7× over its isolated cost when interleaved (q110
    // 18.0 s vs 2.4 s in the 10× session); sequencing the small runs before
    // any big one removes that pollution without changing the warm-plan/
    // cold-cache contract (codegen warm-up is plan-shape-, not data-bound).
    val rows = if (sys.env.contains("SPARK_GRAFT_BASES_FIRST")) {
      val bases = selected.map { case (name, q) =>
        Harness.run(spark, q, src, newQuery = true)
        (name, q, Harness.run(spark, q, src, newQuery = false))
      }
      bases.map { case (name, q, b) => (name, b, Harness.run(spark, q, out, newQuery = true)) }
    } else selected.map { case (name, q) =>
      Harness.run(spark, q, src, newQuery = true)
      val base = Harness.run(spark, q, src, newQuery = false)
      (name, base, Harness.run(spark, q, out, newQuery = false))
    }
    val qs = rows.map { case (q, b, s) =>
      val base = b.fold(_ => "-1", fmt)
      val scaled = s.fold(_ => "-1", fmt)
      val ratio = (b, s) match {
        case (Right(bb), Right(ss)) if bb > 0 => fmt(ss / bb)
        case _ => "-1"
      }
      s""""$q":{"base":$base,"scaled":$scaled,"ratio":$ratio}"""
    }.mkString("{", ",", "}")
    val errors = rows.collect {
      case (q, Left(_), _) => s""""$q""""
      case (q, _, Left(_)) => s""""$q""""
    }.distinct.mkString("[", ",", "]")
    val line = s"""{"metric":"scale","k":$k,"materialize_sec":${fmt(tMat)},"queries":$qs,"errors":$errors,"src":"$src"}"""
    println(line)
    // Same self-reporting rule as Bench: the full result survives in a
    // file regardless of how the console is captured.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "scale_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[scale] could not write $outPath: $e") }
    rows.foreach { case (q, b, s) =>
      b.left.foreach(e => System.err.println(s"[scale] $q base FAILED: $e"))
      s.left.foreach(e => System.err.println(s"[scale] $q scaled FAILED: $e"))
    }
    spark.stop()
    if (rows.exists(r => r._2.isLeft || r._3.isLeft)) sys.exit(1)
  }
}
