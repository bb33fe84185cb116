package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize

/** Byte-pair-encoding merge induction (tokenizer training) and encoding —
  * Sennrich et al., "Neural Machine Translation of Rare Words with Subword
  * Units", ACL'16. Each round finds the most frequent adjacent symbol pair
  * across the corpus (weighted by word frequency) and fuses it into a new
  * symbol.
  *
  * Distributed shape: the corpus collapses to the (word, freq) VOCABULARY
  * in one aggregation — the only corpus-sized step (Heaps' law keeps the
  * vocabulary ~10⁶ rows even at 100 TB). The merge decision is inherently
  * sequential, so the whole schedule then trains in ONE task over the
  * pooled vocabulary: `repartition(1).mapPartitions(trainKernel)`, a
  * single Spark job whatever the depth, executor memory ~ O(vocab).
  * Encoding is a partition-local kernel per word, the merge table riding
  * the closure (a production table is ~32k rows — broadcast-sized).
  *
  * Every merge pass is greedy, left to right and non-overlapping
  * ("a a a" merges to "aa a"). That is exactly what one non-regex
  * `replace(" l  r " -> " lr ")` does on the space-wrapped symbol string
  * `[a,b] → " a  b "` (symbols never contain spaces, and adjacent wrapped
  * symbols share no characters, so there are no false matches) — which is
  * why the DuckDB oracle's unrolled `replace` CTE replays the kernels'
  * tables and segmentations bit-for-bit.
  */
object Bpe {

  /** The (word, freq) vocabulary of a document corpus. */
  def vocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Run up to `rounds` BPE merges; returns the merge table
    * (round, left, right, weight) — the learned tokenizer. Ties broken
    * deterministically: highest weight, then (left, right) ascending in
    * code-point order. Stops early when no adjacent pair remains.
    *
    * The kernel keeps exact pair counts (freq-weighted, every adjacent
    * POSITION, overlaps included) in a hash map with a lazy-deletion
    * max-heap over (weight desc, left asc, right asc); each
    * round touches only the words that CONTAIN the merged pair (an exact
    * occurrence index, maintained incrementally), so total work is
    * Σ_rounds |affected words| · |word|, not rounds × vocab. */
  def merges(docs: DataFrame, rounds: Int, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(rounds >= 1, s"bad rounds=$rounds")
    vocab(docs, textCol).as[(String, Long)]
      .repartition(1)
      .mapPartitions(it => trainKernel(it, rounds))
      .toDF("round", "left", "right", "weight")
  }

  /** Initial 1-symbol-per-CHARACTER split, by CODE POINT — Spark's and
    * DuckDB's `substr`/`length` (the oracle's split) count code points, so
    * a supplementary-plane char (emoji, rare CJK) is ONE symbol; the
    * naive `w.map(_.toString)` would split it into two lone surrogates
    * and the kernels would learn a different table than the replay. */
  private def codePointSymbols(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** Code-point order == UTF-8 binary order — the collation Spark's
    * string sort (and DuckDB's) applies; java.lang.String.compareTo is
    * UTF-16 order, which disagrees above U+FFFF. */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** The in-memory trainer: (word, freq) → (round, left, right, weight). */
  private def trainKernel(words: Iterator[(String, Long)],
                          rounds: Int): Iterator[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val ws = words.toArray
    val symsArr: Array[mutable.ArrayBuffer[String]] =
      ws.map(w => mutable.ArrayBuffer.from(codePointSymbols(w._1)))
    val freq: Array[Long] = ws.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.BitSet]
    // max-heap: highest weight first, then (left, right) ascending in
    // code-point order — the oracle's ORDER BY w DESC, l, r tie-break
    val ord = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val cl = cpCompare(b._2, a._2)
          if (cl != 0) cl else cpCompare(b._3, a._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    def bumpCount(p: (String, String), d: Long): Unit = {
      val c = counts.getOrElse(p, 0L) + d
      if (c == 0L) counts.remove(p) else counts(p) = c
    }
    // initial exact counts + occurrence index
    var wi = 0
    while (wi < symsArr.length) {
      val s = symsArr(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        bumpCount(p, freq(wi))
        where.getOrElseUpdate(p, mutable.BitSet.empty) += wi
        i += 1
      }
      wi += 1
    }
    counts.foreach { case (p, w) => heap.enqueue((w, p._1, p._2)) }
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    var round = 1
    var done = false
    while (round <= rounds && !done) {
      // lazy deletion: an entry is live only if it matches the current count
      var top: Option[(Long, String, String)] = None
      while (top.isEmpty && heap.nonEmpty) {
        val e = heap.dequeue()
        if (counts.get((e._2, e._3)).contains(e._1)) top = Some(e)
      }
      top match {
        case None => done = true
        case Some((w, l, r)) =>
          learned += ((round, l, r, w))
          val p = (l, r)
          val merged = l + r
          val affected = where.getOrElse(p, mutable.BitSet.empty).toArray
          val touched = mutable.HashSet.empty[(String, String)]
          affected.foreach { wi =>
            val s = symsArr(wi)
            // subtract the word's current pairs (counts + index)
            var i = 0
            while (i < s.length - 1) {
              val q = (s(i), s(i + 1))
              bumpCount(q, -freq(wi))
              where.get(q).foreach(_ -= wi)
              touched += q
              i += 1
            }
            // greedy left-to-right non-overlapping merge — the oracle's
            // replace(" l  r " -> " lr ") on the wrapped form
            val out = new mutable.ArrayBuffer[String](s.length)
            i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == l && s(i + 1) == r) { out += merged; i += 2 }
              else { out += s(i); i += 1 }
            }
            symsArr(wi) = out
            // re-add the new pairs
            i = 0
            while (i < out.length - 1) {
              val q = (out(i), out(i + 1))
              bumpCount(q, freq(wi))
              where.getOrElseUpdate(q, mutable.BitSet.empty) += wi
              touched += q
              i += 1
            }
          }
          touched.foreach(q => counts.get(q).foreach(w2 => heap.enqueue((w2, q._1, q._2))))
          round += 1
      }
    }
    learned.result().iterator
  }

  /** Tokenize words with a learned merge table. Returns (word, tokens
    * array).
    *
    * Per word, repeatedly merge the LOWEST-RANK adjacent pair present
    * (greedy left-to-right within a rank). That loop is row-identical to
    * replaying the table in order: a pair learned at rank i can only
    * involve symbols that existed before i, so merging a later pair can
    * never create an earlier pair — by induction the in-order replay and
    * the min-rank-first loop produce the same segmentation (BpeSpec pins
    * it against an in-order replay). */
  def encode(words: DataFrame, mergeTable: Seq[(String, String)],
             wordCol: String = "word"): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val rank: Map[(String, String), Int] =
      mergeTable.zipWithIndex.map { case (p, i) => p -> i }.toMap
    words.select(col(wordCol).cast("string")).as[String].mapPartitions { it =>
      it.map { w =>
        var s: Vector[String] = codePointSymbols(w).toVector
        var done = false
        while (!done && s.length >= 2) {
          // lowest-rank pair present
          var best = Int.MaxValue
          var i = 0
          while (i < s.length - 1) {
            rank.get((s(i), s(i + 1))).foreach(r => if (r < best) best = r)
            i += 1
          }
          if (best == Int.MaxValue) done = true
          else {
            val (l, r) = mergeTable(best)
            val out = Vector.newBuilder[String]
            var j = 0
            while (j < s.length) {
              if (j < s.length - 1 && s(j) == l && s(j + 1) == r) {
                out += (l + r); j += 2
              } else { out += s(j); j += 1 }
            }
            s = out.result()
          }
        }
        (w, s)
      }
    }.toDF(wordCol, "tokens")
  }

  /** WordPiece-style GREEDY maximal-munch encoding (Wu et al. 2016;
    * the inference-side algorithm of the BERT tokenizer family) — the
    * ordering-free counterpart to BPE's merge replay: at each position
    * take the LONGEST vocabulary piece starting there, fall back to the
    * single character. The vocabulary is corpus-derived and fully
    * deterministic: every character of the distinct-word domain (making
    * the tokenizer total) plus the `topSub` most frequent substrings of
    * length 2..`maxPiece`, counted once per (word, position) occurrence
    * over DISTINCT words, ties broken lexicographically.
    *
    * Distributed shape: like [[merges]], everything past the first scan
    * runs on the word VOCABULARY, not the corpus; the learned piece list
    * is a driver-collected steering table inlined as an array literal,
    * so the encode pass is one codegen'd HOF fold per word — each step
    * advances by the matched piece length, replayed step-for-step by the
    * oracle's recursive CTE (longest-match selection via length-guarded
    * LEFT JOINs + coalesce).
    * Output: (w, pieces '|'-joined, n_pieces). */
  def wordpieceEncode(docs: DataFrame, topSub: Int = 20, maxPiece: Int = 4,
                      textCol: String = "text"): DataFrame = {
    require(maxPiece >= 2 && topSub >= 0, s"bad maxPiece=$maxPiece topSub=$topSub")
    // consumed by the substring count AND the encode
    val words = Materialize.cut(docs
      .select(explode(split(col(textCol), " ")).as("w")).distinct()
      .filter(length(col("w")) >= 1))
    val subs = words.select(explode(expr(
        s"""flatten(transform(sequence(2, $maxPiece),
           |  L -> CASE WHEN length(w) >= L
           |       THEN transform(sequence(1, length(w) - L + 1),
           |                      i -> substring(w, i, L))
           |       ELSE CAST(array() AS ARRAY<STRING>) END))""".stripMargin)).as("s"))
      .groupBy("s").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("s")).limit(topSub)
      .select("s").collect().map(_.getString(0))
    val chars = words
      .select(explode(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
        .as("c")).distinct().collect().map(_.getString(0))
    val vocab = (chars ++ subs).distinct.sorted
    // corpus-derived strings go into single-quoted SQL literals: escape
    // backslashes and quotes, or a word like "don't" crashes the parse
    def sqlLit(v: String): String =
      "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val vocLit = vocab.map(sqlLit).mkString("array(", ", ", ")")
    def pieceCase(p: String): String =
      (maxPiece to 2 by -1).map(l =>
        s"WHEN $p + ${l - 1} <= length(w) AND array_contains($vocLit, substring(w, $p, $l)) " +
          s"THEN substring(w, $p, $l)")
        .mkString("CASE ", " ", s" ELSE substring(w, $p, 1) END")
    val piece = pieceCase("acc.p")
    words.select(col("w"), expr(
        s"""aggregate(sequence(1, length(w)),
           |  named_struct('p', 1, 'ts', CAST(array() AS ARRAY<STRING>)),
           |  (acc, x) -> CASE WHEN acc.p > length(w) THEN acc
           |    ELSE named_struct('p', acc.p + length($piece),
           |                      'ts', array_append(acc.ts, $piece)) END,
           |  acc -> acc.ts)""".stripMargin).as("ts"))
      .select(col("w"), array_join(col("ts"), "|").as("pieces"),
        size(col("ts")).cast("long").as("n_pieces"))
  }
}
