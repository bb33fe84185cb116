package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // ---- reference BPE, written from the algorithm's definition; it shares
  // no code, heap or occurrence index with Bpe's kernels

  /** A word's initial symbols: one per code point. */
  private def codePoints(w: String): List[String] =
    w.codePoints.toArray.toList.map(cp => new String(Character.toChars(cp)))

  /** Code-point order of two strings (Spark's and DuckDB's string order). */
  private def cpLess(a: String, b: String): Boolean = {
    import scala.math.Ordering.Implicits.seqOrdering
    Ordering[List[Int]].lt(a.codePoints.toArray.toList, b.codePoints.toArray.toList)
  }

  /** One merge pass: fuse (l, r) greedily left to right, no overlaps. */
  private def mergeOnce(s: List[String], l: String, r: String): List[String] = s match {
    case a :: b :: rest if a == l && b == r => (l + r) :: mergeOnce(rest, l, r)
    case a :: rest => a :: mergeOnce(rest, l, r)
    case Nil => Nil
  }

  /** Each round recounts the frequency-weighted pairs at every adjacent
    * position, merges the heaviest (ties: (left, right) ascending in
    * code-point order), and stops when no pair remains. */
  private def refMerges(texts: Seq[String], rounds: Int): Seq[(Int, String, String, Long)] = {
    var words: Seq[(List[String], Long)] = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).toSeq.map { case (w, ws) => (codePoints(w), ws.size.toLong) }
    (1 to rounds).iterator.map { round =>
      val counts = words.flatMap { case (s, f) => s.zip(s.tail).map(_ -> f) }
        .groupMapReduce(_._1)(_._2)(_ + _).toSeq
      if (counts.isEmpty) None
      else {
        val ((l, r), w) = counts.sortWith { case (((l1, r1), w1), ((l2, r2), w2)) =>
          if (w1 != w2) w1 > w2
          else if (l1 != l2) cpLess(l1, l2)
          else cpLess(r1, r2)
        }.head
        words = words.map { case (s, f) => (mergeOnce(s, l, r), f) }
        Some((round, l, r, w))
      }
    }.takeWhile(_.isDefined).flatten.toSeq
  }

  /** Tokenize by replaying the merge table in order. */
  private def refEncode(word: String, mergeTable: Seq[(String, String)]): List[String] =
    mergeTable.foldLeft(codePoints(word)) { case (s, (l, r)) => mergeOnce(s, l, r) }

  private def table(df: DataFrame): Seq[(Int, String, String, Long)] =
    df.orderBy("round").as[(Int, String, String, Long)].collect().toSeq

  private def docsOf(texts: Seq[String]): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("merges: hand-computed rounds on a tiny corpus") {
    // vocab: ab×3, abc×2. Round 1 pairs: (a,b)=5, (b,c)=2 → merge (a,b).
    // Round 2: ab is one symbol; pairs: (ab,c)=2 → merge (ab,c).
    val docs = Seq((1L, "ab ab abc"), (2L, "ab abc")).toDF("doc_id", "text")
    val got = Bpe.merges(docs, rounds = 2)
      .orderBy("round").as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq((1, "a", "b", 5L), (2, "ab", "c", 2L)))
  }

  test("merges: greedy left-to-right on overlapping runs (a a a -> aa a)") {
    // "aaaa": round-1 pair (a,a) has count 3 (overlaps counted, as in BPE);
    // the merge pass fuses non-overlapping left-to-right: a a a a → aa aa.
    // Round 2 must therefore see (aa,aa)=1, NOT (a,a) remnants.
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val got = Bpe.merges(docs, rounds = 2)
      .orderBy("round").as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
  }

  test("merges: ties break on (left, right) ascending") {
    // (a,b) and (b,a) both occur twice in "abab"+"baba"? Compute: "abab"
    // pairs a-b, b-a, a-b; "bab" pairs b-a, a-b. (a,b)=3, (b,a)=2 — use a
    // symmetric corpus instead: "ab"×2 and "ba"×2 → (a,b)=2, (b,a)=2;
    // the winner must be (a,b) by lexicographic tie-break.
    val docs = Seq((1L, "ab ab ba ba")).toDF("doc_id", "text")
    val got = Bpe.merges(docs, rounds = 1)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq((1, "a", "b", 2L)))
  }

  test("merges == reference trainer row-for-row on fixed fixtures, at full depth") {
    val fixtures = Seq(
      Seq("ab ab abc", "ab abc"),
      Seq("aaaa"),                       // overlap-count + greedy merge
      Seq("ab ab ba ba"),                // lexicographic tie
      Seq("the cat sat on the mat", "the cat ate the rat"))
    fixtures.foreach { texts =>
      // rounds=50 over-asks on every fixture: both must exhaust at the
      // same depth with identical (round, left, right, weight) rows
      assert(table(Bpe.merges(docsOf(texts), 50)) == refMerges(texts, 50))
    }
  }

  test("merges/encode treat supplementary-plane chars as one symbol") {
    // "😀" is U+1F600 (two UTF-16 code units): substr/length split by
    // CODE POINT, so the kernels must too — a surrogate-pair split would
    // learn a different table and fail the replay equivalence
    val texts = Seq("a😀b a😀b 😀😀 a😀b", "😀😀 b😀")
    val docs = docsOf(texts)
    val got = table(Bpe.merges(docs, 20))
    assert(got == refMerges(texts, 20) && got.nonEmpty)
    val mergeTable = got.map(r => (r._2, r._3))
    val words = docs.select(explode(split(col("text"), " ")).as("word")).distinct()
    val viaKernel = Bpe.encode(words, mergeTable)
      .as[(String, Seq[String])].collect().toMap
    val replay = texts.flatMap(_.split(" ")).distinct
      .map(w => w -> refEncode(w, mergeTable)).toMap
    assert(viaKernel == replay)
    assert(viaKernel.forall { case (w, ts) => ts.mkString == w })
  }

  test("merges == reference trainer on a random corpus (checks the heap/index)") {
    val rnd = new scala.util.Random(41)
    val words = Vector("aa", "ab", "ba", "abc", "cab", "aab", "bba", "ccc",
      "abab", "baba", "aabb", "x", "y", "xy", "yx")
    val texts = (0 until 40).map { _ =>
      Seq.fill(1 + rnd.nextInt(8))(words(rnd.nextInt(words.length))).mkString(" ")
    }
    val got = table(Bpe.merges(docsOf(texts), 30))
    assert(got == refMerges(texts, 30) && got.nonEmpty)
  }

  test("merges runs production depth in one kernel pass") {
    // a corpus whose vocabulary admits hundreds of merges: the kernel must
    // learn them all in ONE job (no per-round Spark round-trips) and stop
    // exactly when no adjacent pair remains
    val rnd = new scala.util.Random(7)
    val docs = (0 until 200).map { i =>
      (i.toLong, (0 until 6).map(_ =>
        (0 until (3 + rnd.nextInt(8))).map(_ => ('a' + rnd.nextInt(6)).toChar)
          .mkString).mkString(" "))
    }.toDF("doc_id", "text")
    // the job count does not grow with depth: the vocabulary aggregate and
    // the one training task, never a Spark job per merge round
    val (rows30, jobs) = countingJobs(Bpe.merges(docs, 30).collect().length)
    assert(rows30 == 30)
    assert(jobs <= 3, s"$jobs Spark jobs for 30 merge rounds")
    val got = Bpe.merges(docs, 2000)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
    // the depth cap is honored exactly (this corpus admits >2000 merges)
    assert(got.length == 2000, s"expected 2000 rounds, got ${got.length}")
    // rounds are dense 1..n and weights are positive
    assert(got.map(_._1).toSeq == (1 to got.length))
    assert(got.forall(_._4 > 0))
    // exhaustion is real: two over-asks land on the same full schedule
    val full = Bpe.merges(docs, 5000)
      .as[(Int, String, String, Long)].collect()
    val again = Bpe.merges(docs, 9000)
      .as[(Int, String, String, Long)].collect()
    assert(full.length > 2000 && again.length == full.length)
    // and the capped run is the exact prefix of the full schedule
    assert(full.sortBy(_._1).take(2000).toSeq == got.toSeq)
  }

  test("encode == the in-order replay on a trained table (priority loop)") {
    val rnd = new scala.util.Random(13)
    val texts = (0 until 60).map { _ =>
      (0 until 4).map(_ =>
        (0 until (2 + rnd.nextInt(7))).map(_ => ('a' + rnd.nextInt(4)).toChar)
          .mkString).mkString(" ")
    }
    val docs = docsOf(texts)
    val mergeTable = table(Bpe.merges(docs, 500)).map(r => (r._2, r._3))
    assert(mergeTable.length > 20)
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0).distinct()
    val got = Bpe.encode(words, mergeTable)
      .as[(String, Seq[String])].collect().toMap
    val replay = texts.flatMap(_.split(" ")).filter(_.nonEmpty).distinct
      .map(w => w -> refEncode(w, mergeTable)).toMap
    assert(got == replay)
    // and the segmentation is lossless
    assert(got.forall { case (w, ts) => ts.mkString == w })
  }

  test("encode replays the merge table in order") {
    val words = Seq("ab", "abc", "cab", "x").toDF("word")
    val got = Bpe.encode(words, Seq(("a", "b"), ("ab", "c")))
      .as[(String, Seq[String])].collect().toMap
    assert(got("ab") == Seq("ab"))
    assert(got("abc") == Seq("abc"))
    assert(got("cab") == Seq("c", "ab"))
    assert(got("x") == Seq("x"))
  }

  test("wordpieceEncode: greedy longest match, total, lossless") {
    // distinct words {ababc, abc}: every substring of length 2-4 lands in
    // the top-20, so greedy takes 'abab' first in 'ababc' then the 'c'
    val docs = Seq((1L, "ababc abc")).toDF("doc_id", "text")
    val got = Bpe.wordpieceEncode(docs)
      .as[(String, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("ababc") == (("ababc", "abab|c", 2L)))
    assert(got("abc") == (("abc", "abc", 1L)))
    // lossless on a wider corpus: concatenating the pieces restores the
    // word, and the encoder is total (chars are always in the vocab)
    val wide = Seq((1L, "table value spark fast merge window"),
      (2L, "agg row scan slow customer query")).toDF("doc_id", "text")
    val all = Bpe.wordpieceEncode(wide).as[(String, String, Long)].collect()
    assert(all.length == 12)
    assert(all.forall { case (w, p, n) =>
      p.split("\\|").mkString == w && p.split("\\|").length.toLong == n })
  }

  test("wordpieceEncode: vocab strings with quotes/backslashes are escaped") {
    // "don't" puts ' into the character vocab and "n't"/"on'" style
    // substrings into the piece candidates — unescaped SQL literals would
    // fail the expr() parse before any row is processed
    val docs = Seq((1L, "don't can't it\\s don't")).toDF("doc_id", "text")
    val all = Bpe.wordpieceEncode(docs).as[(String, String, Long)].collect()
    assert(all.length == 3)
    assert(all.forall { case (w, p, n) =>
      p.split("\\|").mkString == w && p.split("\\|").length.toLong == n })
  }
}
