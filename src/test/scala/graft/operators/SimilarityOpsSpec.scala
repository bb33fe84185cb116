package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilarityOpsSpec extends SparkSpec {
  import spark.implicits._

  private def randomVecs(seed: Int, n: Int, dim: Int = 16): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)((rnd.nextGaussian() / 4).toFloat)))
  }

  private lazy val vecs = randomVecs(1, 60).toDF("vec_id", "embedding")

  /** Plain-Scala Lloyd over quantized (vec_id, qv) rows: seeds are the k
    * smallest vec_ids (cid = position); each vector goes to its exact
    * integer-L2 nearest centroid, ties to the smaller cid; the new
    * centroid is the per-dimension mean rounded HALF_UP on the double
    * quotient, as Spark's `round` does; an empty cluster keeps its
    * previous centroid with n = 0. Returns (cid, n, cv). */
  private def refLloyd(qv: Seq[(Long, Seq[Long])], k: Int,
                       iters: Int): Seq[(Int, Long, Seq[Long])] = {
    def dot(a: Seq[Long], b: Seq[Long]): Long = a.zip(b).map { case (x, y) => x * y }.sum
    val dim = qv.head._2.length
    var cents = qv.sortBy(_._1).take(k).map(v => (0L, v._2)).toIndexedSeq
    (1 to iters).foreach { _ =>
      val members = qv.groupBy { case (_, v) =>
        cents.indices.minBy(c =>
          (dot(v, v) - 2 * dot(v, cents(c)._2) + dot(cents(c)._2, cents(c)._2), c))
      }
      cents = cents.indices.map(c => members.get(c) match {
        case Some(vs) => (vs.size.toLong, (0 until dim).map(d =>
          BigDecimal(vs.map(_._2(d)).sum.toDouble / vs.size)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
        case None => (0L, cents(c)._2)
      })
    }
    cents.zipWithIndex.map { case ((n, cv), c) => (c, n, cv) }
  }

  private def quantized(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Long])] =
    df.select(col("vec_id"), SimilarityOps.quantize(col("embedding")))
      .as[(Long, Seq[Long])].collect().toSeq

  private val centers = Seq(Seq(0.9f, 0.9f), Seq(0.9f, -0.9f), Seq(-0.9f, 0.9f), Seq(-0.9f, -0.9f))

  /** `n` vectors in 4 tight clusters around `centers` (dims 0/1), vector
    * i in cluster i % 4. */
  private def planted(seed: Int, n: Int, dim: Int): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val c = centers(i % 4)
      (i.toLong, Seq.tabulate(dim)(d =>
        (if (d < 2) c(d) else 0.0f) + (rnd.nextGaussian() / 50).toFloat))
    }
  }

  test("cosQ: self-similarity is 1.0 to an ulp; bounded by [-1, 1]") {
    // n/(sqrt(n)*sqrt(n)) is 1 ± 1 ulp (sqrt(n)² ≠ n exactly); what matters
    // is that the SAME double comes out of every engine, not that it's 1.0
    val self = vecs.select(SimilarityOps.cosQ(
      SimilarityOps.quantize(col("embedding")),
      SimilarityOps.quantize(col("embedding")))).as[Double].collect()
    assert(self.forall(x => math.abs(x - 1.0) <= 1e-15))
    val cross = vecs.alias("a").crossJoin(vecs.alias("b"))
      .select(SimilarityOps.cosQ(
        SimilarityOps.quantize(col("a.embedding")),
        SimilarityOps.quantize(col("b.embedding")))).as[Double].collect()
    assert(cross.forall(c => c >= -1.0000001 && c <= 1.0000001))
  }

  test("bruteTopK matches a local reference computation") {
    val data = randomVecs(2, 40)
    val df = data.toDF("vec_id", "embedding")
    val got = SimilarityOps.bruteTopK(df, df.filter(col("vec_id") < 2), k = 3)
      .select("qid", "rank", "vec_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
    def qz(v: Seq[Float]): Seq[Long] = v.map(x => math.round(x.toDouble * 1e7))
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) * math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    for (q <- 0L to 1L) {
      val qv = qz(data(q.toInt)._2)
      val expect = data.filter(_._1 != q)
        .map { case (id, v) => (id, cos(qv, qz(v))) }
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1)
      assert(got(q) == expect, s"query $q")
    }
  }

  test("ivfTopK: every result comes from a probed cluster; ranks are 1..k") {
    val df = randomVecs(3, 50).toDF("vec_id", "embedding")
    val centroids = df.filter(col("vec_id") % 10 === 0) // 5 centroids
    val got = SimilarityOps.ivfTopK(df, centroids, df.filter(col("vec_id") < 3), k = 3)
      .collect()
    assert(got.nonEmpty)
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length))
    }
  }

  test("lshNearDup finds exact copies and nothing below threshold") {
    val base = randomVecs(4, 50)
    val corpus = (base ++ base.take(5).map { case (id, v) => (id + 1000, v) })
      .toDF("vec_id", "embedding")
    val planes = base.slice(20, 28).map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    val got = SimilarityOps.lshNearDup(corpus, planes, threshold = 0.99)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert((0 until 5).forall(i => got.contains((i.toLong, i + 1000L))))
    // random gaussian pairs essentially never reach cos 0.99
    assert(got.size == 5)
  }

  test("kmeansCentroids: separates planted clusters; centroids near true centers") {
    // 4 tight clusters around axis-aligned centers ±0.9 in dims 0/1
    val dim = 8
    val data = planted(11, 80, dim)
    val df = data.toDF("vec_id", "embedding")
    val got = SimilarityOps.kmeansCentroids(df, k = 4, iters = 3, dim = dim)
      .as[(Int, Long, Seq[Long])].collect().sortBy(_._1)
    assert(got.length == 4)
    assert(got.map(_._2).sum == 80) // every vector assigned exactly once
    assert(got.forall(_._2 == 20)) // balanced planted clusters recovered
    // each true center matched by exactly one learned centroid (≤0.1 away
    // in the two signal dims, quantized scale 1e7)
    val learned = got.map(_._3.take(2).map(_.toDouble / 1e7))
    centers.foreach { c =>
      val hits = learned.count(l =>
        math.abs(l(0) - c(0)) < 0.1 && math.abs(l(1) - c(1)) < 0.1)
      assert(hits == 1, s"center $c matched $hits learned centroids")
    }
  }

  test("kmeansCentroids equals the plain-Scala Lloyd reference bit for bit") {
    // seeds 0 and 2 coincide, so cid 2 is empty in round 1 (ties go to
    // cid 0); round 2 takes all three of cid 0's members away from it,
    // so cid 0 ends with n = 0 and its round-1 centroid
    val emptying = Seq((-4, 2), (-3, -5), (-4, 2), (-3, -2), (3, -3), (-4, -3), (-1, -1))
      .zipWithIndex.map { case ((x, y), i) => (i.toLong, Seq(x / 10f, y / 10f)) }
    val fixtures = Seq(
      ("random", randomVecs(41, 70, dim = 8), 5, 3, 8),
      ("planted", planted(11, 80, 8), 4, 3, 8),
      ("empty cluster", emptying, 3, 2, 2))
    fixtures.foreach { case (name, rows, k, iters, dim) =>
      val df = rows.toDF("vec_id", "embedding")
      val want = refLloyd(quantized(df), k, iters)
      if (name == "empty cluster") assert(want.exists(_._2 == 0L), want)
      val got = SimilarityOps.kmeansCentroids(df, k, iters, dim)
        .as[(Int, Long, Seq[Long])].collect().sortBy(_._1).toSeq
      assert(got == want, name)
    }
  }

  test("Lloyd trainer: m groups at once equal each group trained alone") {
    val dim = 4
    // the same vec_ids in every group, as product quantization slices them
    val grouped = (0 until 3).flatMap(g => randomVecs(50 + g, 25, dim).map {
        case (id, v) => (g, id, v) })
      .toDF("grp", "vec_id", "embedding")
      .select(col("grp"), col("vec_id"), SimilarityOps.quantize(col("embedding")).as("qv"))
    def train(df: org.apache.spark.sql.DataFrame): Map[Int, Seq[(Int, Long, Seq[Long])]] =
      SimilarityOps.lloydDriverQ(df, k = 3, iters = 2, dim = dim)
        .map { case (g, cs) => g -> cs.map(c => (c.cid, c.n, c.cv.toSeq)) }
    val all = train(grouped)
    assert(all.keySet == Set(0, 1, 2))
    (0 until 3).foreach { g =>
      val one = grouped.filter(col("grp") === g)
      assert(train(one.withColumn("grp", lit(0))) == Map(0 -> all(g)), s"group $g")
      assert(all(g) == refLloyd(one.select(col("vec_id"), col("qv"))
        .as[(Long, Seq[Long])].collect().toSeq, 3, 2), s"group $g")
    }
  }

  test("Lloyd trainer job pins: one seed job, two jobs a round") {
    // counted over the frame build only; a round is the update
    // aggregate's shuffle-map job plus its collect
    val df = planted(19, 40, 8).toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") === 0)
    Seq(1, 3).foreach { iters =>
      val (_, jobs) = countingJobs(SimilarityOps.kmeansCentroids(df, 4, iters, 8))
      assert(jobs <= 1 + 2 * iters, s"kmeansCentroids iters=$iters: $jobs jobs")
    }
    Seq(1, 2).foreach { iters =>
      val (_, pq) = countingJobs(SimilarityOps.pqTopK(df, q, k = 3,
        m = 4, ksub = 4, iters = iters, dim = 8))
      assert(pq <= 1 + 2 * iters, s"pqTopK iters=$iters: $pq jobs")
      // coarse training, the residual cut, then the residual codebooks
      val (_, ivfpq) = countingJobs(SimilarityOps.ivfpqTopK(df, q, k = 3,
        nlist = 4, nprobe = 1, m = 4, ksub = 4, iters = iters, dim = 8))
      assert(ivfpq <= 3 + 4 * iters, s"ivfpqTopK iters=$iters: $ivfpq jobs")
    }
  }

  test("ivfTopK over kmeans-trained centroids matches bruteTopK on clustered data") {
    val dim = 8
    val data = planted(12, 60, dim)
    val df = data.toDF("vec_id", "embedding")
    val trained = SimilarityOps.kmeansCentroids(df, k = 4, iters = 3, dim = dim)
      .select(col("cid").cast("long").as("vec_id"),
        transform(col("cv"), x => x.cast("double") / 1e7).as("embedding"))
    val queries = df.filter(col("vec_id") < 3)
    val ivf = SimilarityOps.ivfTopK(df, trained, queries, k = 3, nprobe = 1)
      .select("qid", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    val brute = SimilarityOps.bruteTopK(df, queries, k = 3)
      .select("qid", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    // with tight clusters, a query's true top-3 live in its own cluster,
    // so probing ONE trained bucket already reproduces exact search
    assert(ivf == brute)
  }

  test("semDedup drops planted copies (keep-min), keeps everything else") {
    val centers = Seq(Seq(0.9f, 0.9f), Seq(-0.9f, -0.9f))
    val rnd = new scala.util.Random(23)
    val dim = 8
    val base = (0 until 40).map { i =>
      val c = centers(i % 2)
      val v = Seq.tabulate(dim)(d =>
        (if (d < 2) c(d) else 0.0f) + (rnd.nextGaussian() / 10).toFloat)
      (i.toLong, v)
    }
    // plant exact copies of vectors 0..4 under ids 100..104
    val corpus = (base ++ base.take(5).map { case (id, v) => (id + 100L, v) })
      .toDF("vec_id", "embedding")
    val survivors = SimilarityOps.semDedup(corpus, k = 2, iters = 3, dim = dim, threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert((100L to 104L).forall(!survivors.contains(_)), "every copy dropped")
    assert((0L until 40L).forall(survivors.contains), "every original kept (keep-min)")
  }

  test("semDedup survivors + within-cluster near-dup pairs partition the corpus") {
    // sanity on random data at a modest threshold: survivors are unique,
    // and no surviving pair in the SAME cluster is >= threshold
    val rnd = new scala.util.Random(31)
    val dim = 6
    val corpus = (0 until 50).map { i =>
      (i.toLong, Seq.fill(dim)((rnd.nextGaussian() / 3).toFloat))
    }.toDF("vec_id", "embedding")
    val thr = 0.95
    val kept = SimilarityOps.semDedup(corpus, k = 3, iters = 2, dim = dim, threshold = thr)
    val keptIds = kept.select("vec_id").as[Long].collect()
    assert(keptIds.length == keptIds.distinct.length)
    val pairsLeft = kept.alias("a").join(kept.alias("b"), Seq("cid"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .join(corpus.select(col("vec_id").as("a_id"), col("embedding").as("ea")),
        col("a.vec_id") === col("a_id"))
      .join(corpus.select(col("vec_id").as("b_id"), col("embedding").as("eb")),
        col("b.vec_id") === col("b_id"))
      .filter(SimilarityOps.cosQ(SimilarityOps.quantize(col("ea")),
        SimilarityOps.quantize(col("eb"))) >= thr)
      .count()
    assert(pairsLeft == 0, "no near-dup pair survives within a cluster")
  }

  test("pqTopK: a planted duplicate ranks first; clustered recall matches brute force") {
    val dim = 8
    val base = planted(13, 60, dim)
    val dup = (99L, base.head._2) // exact copy of vec 0
    val df = (base :+ dup).toDF("vec_id", "embedding")
    val got = SimilarityOps.pqTopK(df, df.filter(col("vec_id") === 0), k = 5,
        m = 4, ksub = 4, iters = 2, dim = dim)
      .select("qid", "rank", "vec_id", "adist")
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2)
    // the exact copy shares every sub-code with the query, so its ADC
    // distance is the minimum possible (other same-code vectors may tie —
    // ADC can't see within-cell differences; ties break by vec_id)
    val minDist = got.map(_._4).min
    assert(got.find(_._3 == 99L).exists(_._4 == minDist), got.toSeq.toString)
    // all top-5 come from the query's own planted cluster (i % 4 == 0)
    assert(got.forall(r => r._3 == 99L || r._3 % 4 == 0), got.toSeq.toString)
    // adists are non-decreasing with rank and non-negative
    assert(got.map(_._4).toSeq == got.map(_._4).sorted.toSeq)
    assert(got.forall(_._4 >= 0))
  }

  test("ivfpqTopK: probed-cluster containment, planted duplicate at minimum ADC distance") {
    val dim = 8
    val base = planted(17, 60, dim)
    val dup = (99L, base.head._2) // exact copy of vec 0
    val df = (base :+ dup).toDF("vec_id", "embedding")
    val got = SimilarityOps.ivfpqTopK(df, df.filter(col("vec_id") === 0), k = 5,
        nlist = 4, nprobe = 1, m = 4, ksub = 4, iters = 2, dim = dim)
      .select("qid", "rank", "vec_id", "adist")
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2)
    assert(got.length == 5 && got.map(_._2).toSeq == (1 to 5))
    // the exact copy has residual identical to the query's residual in the
    // probed list, so its ADC distance is the minimum (ties break by id)
    val minDist = got.map(_._4).min
    assert(got.find(_._3 == 99L).exists(_._4 == minDist), got.toSeq.toString)
    // with nprobe=1 everything retrieved comes from the query's own
    // well-separated cluster (i % 4 == 0 by construction)
    assert(got.forall(r => r._3 == 99L || r._3 % 4 == 0), got.toSeq.toString)
    assert(got.map(_._4).toSeq == got.map(_._4).sorted.toSeq)
    assert(got.forall(_._4 >= 0))
    // determinism: an identical second run returns the identical ranking
    val again = SimilarityOps.ivfpqTopK(df, df.filter(col("vec_id") === 0), k = 5,
        nlist = 4, nprobe = 1, m = 4, ksub = 4, iters = 2, dim = dim)
      .select("qid", "rank", "vec_id", "adist")
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2)
    assert(got.toSeq == again.toSeq)
  }

  test("mmrRerank: diversity beats pure relevance on planted near-dups; deterministic") {
    // Geometry chosen so the diversity term can actually win: high
    // relevance to the query LOWER-BOUNDS mutual similarity (cos(a,b) >=
    // 2 cos(q,a) cos(q,b) - 1 on the sphere), so the near-dup cluster
    // sits at rel ~0.90 with mutual sim ~1.0, and the diverse candidates
    // at rel 0.85/0.80 on the OPPOSITE side of the query (mutual sim
    // ~0.53/0.72). Pure relevance ranks the cluster 1-2-3; MMR at λ=0.7
    // must rank cluster, B, C (each later cluster member scores
    // 0.7*0.90 - 0.3*1.0 = 0.33 < B's 0.43 and C's 0.34).
    val a = Seq(0.9f, 0.436f, 0f, 0f, 0f, 0f, 0f, 0f)
    val df = Seq(
      (0L, Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),           // the query
      (1L, a), (2L, a.updated(2, 0.002f)), (3L, a.updated(2, -0.002f)),
      (4L, Seq(0.85f, -0.527f, 0f, 0f, 0f, 0f, 0f, 0f)),    // B
      (5L, Seq(0.8f, 0f, 0.6f, 0f, 0f, 0f, 0f, 0f)))        // C
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.mmrRerank(df, df.filter(col("vec_id") === 0),
        kCand = 5, kOut = 3)
      .select("pos", "vec_id", "score_micro")
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1, 2, 3))
    // pos 1 is a cluster member (most relevant)
    assert(Set(1L, 2L, 3L).contains(got(0)._2), got.toSeq.toString)
    // pos 2 and 3 are the DIVERSE candidates, not the remaining copies
    assert(got(1)._2 == 4L, got.toSeq.toString)
    assert(got(2)._2 == 5L, got.toSeq.toString)
    // determinism
    val again = SimilarityOps.mmrRerank(df, df.filter(col("vec_id") === 0),
        kCand = 5, kOut = 3)
      .select("pos", "vec_id", "score_micro")
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == again.toSeq)
  }

  test("binaryTopK: exact copy at Hamming 0 and rank 1; recall against brute on clusters") {
    val rnd = new scala.util.Random(41)
    val dim = 16
    val base = (0 until 40).map { i =>
      val c = centers(i % 4)
      (i.toLong, Seq.tabulate(dim)(d =>
        (c(d % 2) * (if (d < 8) 1 else -1) + rnd.nextGaussian() / 40).toFloat))
    }
    val dup = (99L, base.head._2)
    val df = (base :+ dup).toDF("vec_id", "embedding")
    val got = SimilarityOps.binaryTopK(df, df.filter(col("vec_id") === 0),
        k = 5, cand = 20, dim = dim)
      .select("rank", "vec_id", "hamming", "cos")
      .as[(Int, Long, Int, Double)].collect().sortBy(_._1)
    assert(got.length == 5 && got.map(_._1).toSeq == (1 to 5))
    // the exact copy shares every sign bit and every component
    assert(got.head._2 == 99L && got.head._3 == 0 && got.head._4 > 0.9999)
    // cosines are non-increasing with rank (the rerank is exact)
    assert(got.map(_._4).toSeq == got.map(_._4).sortBy(-_).toSeq)
    // with cand = corpus size the result EQUALS brute-force top-k
    val all = SimilarityOps.binaryTopK(df, df.filter(col("vec_id") === 0),
        k = 5, cand = 41, dim = dim)
      .select("rank", "vec_id").as[(Int, Long)].collect().toSet
    val brute = SimilarityOps.bruteTopK(df, df.filter(col("vec_id") === 0), 5)
      .select("rank", "vec_id").as[(Int, Long)].collect().toSet
    assert(all == brute)
  }

  test("annRecall: hit counting, MRR from exact #1, zero-hit queries kept") {
    val exact = Seq(
      (1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L),
      (2L, 1L, 20L), (2L, 2L, 21L), (2L, 3L, 22L),
      (3L, 1L, 30L), (3L, 2L, 31L), (3L, 3L, 32L))
      .toDF("qid", "rank", "vec_id")
    val approx = Seq(
      (1L, 1L, 11L), (1L, 2L, 10L), (1L, 3L, 99L),  // 2 hits, exact#1 at rank 2
      (2L, 1L, 20L), (2L, 2L, 21L), (2L, 3L, 22L),  // perfect
      (3L, 1L, 98L), (3L, 2L, 97L), (3L, 3L, 96L))  // zero hits
      .toDF("qid", "rank", "vec_id")
    val got = SimilarityOps.annRecall(exact, approx, k = 3)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 666666L, 500000L)))
    assert(got(2L) == ((2L, 3L, 1000000L, 1000000L)))
    assert(got(3L) == ((3L, 0L, 0L, 0L)))
  }

  test("centroidCos: orthogonal groups 0, identical groups 1e6, n cancels") {
    val vecs = Seq(
      (0L, "A", Seq(1.0f, 0.0f)), (1L, "A", Seq(1.0f, 0.0f)),
      (2L, "B", Seq(0.0f, 1.0f)),                    // orthogonal to A
      (3L, "C", Seq(2.0f, 0.0f)))                    // parallel to A
      .toDF("vec_id", "g", "embedding")
    val got = SimilarityOps.centroidCos(vecs, "g")
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("A", "B")) == 0L)
    assert(got(("A", "C")) == 1000000L)  // scale and group size cancel
    assert(got(("B", "C")) == 0L)
    assert(got.keySet == Set(("A", "B"), ("A", "C"), ("B", "C"))) // g_a < g_b once
  }

  test("centroidDrift: hand-computable two-group drift, identical groups drift 0") {
    // dim 2; group A vectors (1,0),(1,0); group B (0,1),(0,1)
    // quantized: A sums (2e7, 0), B sums (0, 2e7); global (2e7, 2e7), N=4
    // diff per dim for A: |4·2e7 − 2·2e7| = 4e7 → drift_num = 2·(4e7)²
    // → drift_q2 = 2·(4e7)² div (2·4)² = 2·1.6e15/64 = 5e13
    val vecs = Seq(
      (0L, "A", Seq(1.0f, 0.0f)), (1L, "A", Seq(1.0f, 0.0f)),
      (2L, "B", Seq(0.0f, 1.0f)), (3L, "B", Seq(0.0f, 1.0f)))
      .toDF("vec_id", "g", "embedding")
    val got = SimilarityOps.centroidDrift(vecs, "g")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map("A" -> ((2L, 50000000000000L)), "B" -> ((2L, 50000000000000L))))
    val same = Seq(
      (0L, "A", Seq(1.0f, 2.0f)), (1L, "B", Seq(1.0f, 2.0f)))
      .toDF("vec_id", "g", "embedding")
    val zero = SimilarityOps.centroidDrift(same, "g")
      .as[(String, Long, Long)].collect()
    assert(zero.forall(_._3 == 0L))
  }

  test("topDirection: recovers a planted dominant axis; bounded and deterministic") {
    val rnd = new scala.util.Random(17)
    // variance planted on dim 5 (±10), noise ±0.01 elsewhere → the top
    // principal direction is e5 up to sign
    val vecs = (0L until 60L).map { i =>
      val sign = if (i % 2 == 0) 1.0f else -1.0f
      (i, Seq.tabulate(8)(j =>
        if (j == 5) sign * 10.0f else (rnd.nextInt(21) - 10) / 1000.0f))
    }.toDF("vec_id", "embedding")
    val got = SimilarityOps.topDirection(vecs, dim = 8)
      .as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    assert(got.length == 8)
    assert(got.map(math.abs).max == 1000L)     // renormalized to max-abs 1000
    assert(math.abs(got(5)) == 1000L)          // the planted axis dominates
    assert(got.zipWithIndex.filter(_._2 != 5).forall(c => math.abs(c._1) < 20))
    // fixed unroll + integer arithmetic → bit-identical reruns
    val again = SimilarityOps.topDirection(vecs, dim = 8)
      .as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    assert(got.toSeq == again.toSeq)
  }

  test("kcenterSeeds: hand-checked farthest-point picks on a line") {
    // 1-dim points 0.0, 1.0, 0.4, 0.45 (quantized ×1e7): seed0 = id 0;
    // pick1 = id 1 (d² = 1e14); then min-dists are id2 1.6e13 (to 0),
    // id3 2.025e13 (to 0) -> pick2 = id 3
    val vecs = Seq((0L, Seq(0.0f)), (1L, Seq(1.0f)), (2L, Seq(0.4f)),
      (3L, Seq(0.45f))).toDF("vec_id", "embedding")
    val got = SimilarityOps.kcenterSeeds(vecs, k = 3)
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0, 0L, 0L), (1, 1L, 100000000000000L),
      (2, 3L, 20250000000000L)))
    // the covering radius sequence is non-increasing after the first pick
    val radii = got.drop(1).map(_._3)
    assert(radii == radii.sorted.reverse)
  }

  test("jlDistortion matches a BigInt reference incl. sign matrix and bands") {
    val dIn = 8; val dOut = 4; val stride = 2
    val data = randomVecs(31, 40, dim = dIn)
    val got = SimilarityOps
      .jlDistortion(data.toDF("vec_id", "embedding"), dIn, dOut, stride)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val q = data.toDF("vec_id", "embedding")
      .select(col("vec_id"), SimilarityOps.quantize(col("embedding")))
      .as[(Long, Seq[Long])].collect().toMap
    val ratios = q.keys.filter(id => id % stride == 0 && q.contains(id + 1))
      .toSeq.sorted.flatMap { id =>
      val (a, b) = (q(id), q(id + 1))
      val dInSq = a.zip(b).map { case (x, z) => BigInt(x - z) * BigInt(x - z) }.sum
      val ya = (0 until dOut).map(o => (0 until dIn)
        .map(i => BigInt(SimilarityOps.jlSign(o, i)) * a(i)).sum)
      val yb = (0 until dOut).map(o => (0 until dIn)
        .map(i => BigInt(SimilarityOps.jlSign(o, i)) * b(i)).sum)
      val dOutSq = ya.zip(yb).map { case (x, z) => (x - z) * (x - z) }.sum
      if (dInSq == 0) None
      else Some((dOutSq * 1000000 / (dOut * dInSq)).toLong)
    }
    val want = ratios.groupBy(_ / 100000).toSeq.sortBy(_._1)
      .map { case (band, rs) => (band, rs.size.toLong, rs.min, rs.max) }
    assert(got == want)
  }

  test("ndcgAtK: perfect, reversed, missing-doc, and empty rankings") {
    val k = 3
    val d = SimilarityOps.NdcgDiscountMicro.take(k)
    val idcg = d.zipWithIndex.map { case (di, i) => di * (k - i) }.sum
    // exact top-3 for qid 1 is docs 10, 20, 30; qid 2 has NO approx rows
    val exact = Seq((1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 30L),
      (2L, 1L, 10L), (2L, 2L, 20L), (2L, 3L, 30L))
      .toDF("qid", "rank", "vec_id")
    def score(approx: Seq[(Long, Long, Long)]): (Long, Long) = {
      val got = SimilarityOps
        .ndcgAtK(exact, approx.toDF("qid", "rank", "vec_id"), k)
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      assert(got.toSeq.map(_._1) == Seq(1L, 2L) && got(1) == ((2L, 0L, 0L)))
      (got(0)._2, got(0)._3)
    }
    // perfect ordering reproduces IDCG -> ndcg exactly 10^6
    assert(score(Seq((1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 30L))) ==
      ((idcg, 1000000L)))
    // reversed: rel (1, 2, 3) against discounts (d1, d2, d3)
    val revDcg = 1 * d(0) + 2 * d(1) + 3 * d(2)
    assert(score(Seq((1L, 1L, 30L), (1L, 2L, 20L), (1L, 3L, 10L))) ==
      ((revDcg, revDcg * 1000000L / idcg)))
    // only the top exact doc retrieved, at rank 1; strangers score 0
    assert(score(Seq((1L, 1L, 10L), (1L, 2L, 98L), (1L, 3L, 99L))) ==
      ((3 * d(0), 3 * d(0) * 1000000L / idcg)))
  }

  test("silhouetteSimplified: pure duplicate clusters score exactly 10^6") {
    // 4 distinct prototypes, every point an exact copy; vec_ids 0-3 are
    // one per cluster so Lloyd seeds one centroid in each. Centroids land
    // ON the points -> a = 0, b > 0 -> s = 1e6 for every point.
    val protos = Seq(
      Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f),
      Seq(0f, 0f, 1f, 0f), Seq(0f, 0f, 0f, 1f))
    val vecs = (0 until 20).map(i => (i.toLong, protos(i % 4)))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.silhouetteSimplified(vecs, k = 4, iters = 2, dim = 4)
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == (0 until 4).map(c => (c, 5L, 1000000L)))
  }

  test("silhouetteSimplified: coincident centroids give s = 0 (b = 0 lane)") {
    // all points identical, k = 2: both centroids coincide, every point
    // has d1 = d2 = 0 and the b = 0 guard must emit 0, not divide
    val vecs = (0L until 8L).map((_, Seq(0.5f, -0.25f)))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.silhouetteSimplified(vecs, k = 2, iters = 2, dim = 2)
      .as[(Int, Long, Long)].collect().toSeq
    assert(got == Seq((0, 8L, 0L))) // ties assign to the smaller cid
  }

  test("silhouetteSimplified matches a BigInt two-nearest reference") {
    val vecs = randomVecs(21, 80, dim = 8).toDF("vec_id", "embedding")
    val q = vecs.select(col("vec_id"), SimilarityOps.quantize(col("embedding")))
      .as[(Long, Seq[Long])].collect()
    // same params → same deterministic Lloyd → same centroids the
    // operator trains internally
    val cents = SimilarityOps.kmeansCentroids(vecs, k = 5, iters = 2, dim = 8)
      .select("cid", "cv").as[(Int, Seq[Long])].collect().sortBy(_._1)
    val want = q.map { case (_, v) =>
      val ds = cents.map { case (cid, cv) =>
        (v.zip(cv).map { case (a, b) => BigInt(a - b) * BigInt(a - b) }.sum, cid)
      }.sortBy(identity).take(2)
      val (a, cid) = ds(0); val b = ds(1)._1
      (cid, if (b == 0) BigInt(0) else (b - a) * 1000000 / b)
    }.groupBy(_._1).map { case (cid, ss) =>
      (cid, ss.size.toLong, (ss.map(_._2).sum / ss.size).toLong)
    }.toSeq.sortBy(_._1)
    val got = SimilarityOps
      .silhouetteSimplified(vecs, k = 5, iters = 2, dim = 8)
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == want)
  }
}
