package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-copy table reconciliation — "are these two 100 TB tables the
  * same, and if not, WHICH keys differ" — the audit every replicated /
  * migrated / re-ingested dataset needs. The brute-force answer is a full
  * outer join of the two tables (the oracle runs exactly that); at scale
  * that shuffles both tables end to end just to confirm they are equal.
  *
  * This instead runs MERKLE-STYLE: each side folds locally to `nb`
  * (bucket, xor-of-row-fingerprints) summary rows — a map-side-combined
  * aggregate, NO cross-table shuffle, summaries small enough to collect —
  * and only buckets whose checksums disagree are re-read row-level, with
  * a bucket-membership filter that prunes the second pass to the
  * mismatched slice on both sides. Equal tables cost two scans and a
  * 2·nb-row compare; a 10-key drift costs two scans plus a joined re-read
  * of ~(10/nb)-th of the data.
  *
  * XOR is the right fold: commutative + associative (partition-order
  * free), and a single changed row flips the bucket checksum with
  * probability 1 − 2⁻⁶⁴. Fingerprints are xxhash64 over a
  * caller-supplied CANONICAL row rendering — integers and pinned-format
  * strings only, never raw float casts. xxhash64 rather than the repo's
  * usual md5: the fingerprint never crosses an engine boundary (the
  * oracle brute-forces the diff and compares only the key/status
  * output), and xxhash64 is a codegen'd single-pass hash where md5
  * costs a digest + hex parse per row — A/B on the 1.5M-row
  * reconciliation cases (SCALECHECK.md): equal 1.03 → 0.76 s, scattered drift 2.49 → 1.94 s.
  *
  * HONEST LOCAL LIMIT (SCALECHECK.md, 10× orders, all columns): on ONE node
  * with narrow rows the brute join is never worse — its shuffle is
  * in-memory and ~free, while every Merkle regime pays extra scans
  * (equal 0.76 s vs brute 0.89 s is the only win; drifted regimes lose
  * ~1.3-2.2×). The operator's value is structural, not local wall-clock:
  * the checksum pass is map-side only — the thing shipped across the
  * network is 256 summary rows, not the table — which is what makes
  * "are these equal" affordable when the copies are 100 TB on two
  * clusters and a cross-site join is not even expressible. SCALECHECK.md
  * "Reconciliation" carries the full three-regime table.
  */
object ReconcileOps {

  /** 64-bit row fingerprint from the canonical rendering. */
  def fingerprint(canonical: Column): Column = xxhash64(canonical)

  /** Disagreeing-bucket list for `a` vs `b` — the Merkle first pass.
    * Each side folds map-side to `nb` (bucket, xor-of-fingerprints, n)
    * summary rows; a bucket is bad when either signature or count
    * differs (or the bucket exists on one side only). ≤ `nb` rows. */
  def badBuckets(a: DataFrame, b: DataFrame, keyCol: String,
                 canon: Column, nb: Int): Array[Long] = {
    def summarize(df: DataFrame): DataFrame = df
      .select(pmod(col(keyCol), lit(nb.toLong)).as("bucket"),
        fingerprint(canon).as("fp"))
      .groupBy("bucket")
      // bit_xor is Spark SQL's (and any engine's) xor-fold aggregate
      .agg(expr("bit_xor(fp)").as("sig"), count(lit(1)).as("n"))
    summarize(a).as("sa")
      .join(summarize(b).as("sb"), Seq("bucket"), "full")
      .filter(col("sa.sig").isNull || col("sb.sig").isNull ||
        col("sa.sig") =!= col("sb.sig") || col("sa.n") =!= col("sb.n"))
      .select(col("bucket"))
      .collect().map(_.getLong(0))
  }

  /** Keys whose rows differ between `a` and `b`, found bucket-first.
    * `canon` is an unresolved column expression rendering a row
    * canonically (string concat of key + payload fields, integers and
    * pinned formats only) — it resolves against either side. Output is
    * (key, status) with status ∈ missing_a | missing_b | changed.
    *
    * The disagreeing-bucket list (≤ nb rows) is collected and the prune
    * decision made driver-side — the same tiny-control-decision family
    * as Bpe's per-round argmax. Three regimes, measured on
    * the 10× orders copy (SCALECHECK.md "Reconciliation"):
    *
    *  - no drift: zero bad buckets → the second pass folds to a
    *    constant-false filter, so equal tables cost exactly the two
    *    map-side checksum scans (no cross-table shuffle at all);
    *  - localized drift (bad ≤ nb/2): slices filter to the bad buckets
    *    BEFORE the row-level join, so the full-outer compare joins only
    *    the mismatched fraction;
    *  - scattered drift (bad > nb/2): with k drifted keys hitting
    *    min(k, nb) buckets, pruning cannot save the second pass — a
    *    ~0.4 % uniform drift already dirties all 256 buckets — so the
    *    prune layer is SKIPPED rather than paid for: the row compare
    *    runs unfiltered, and the only overhead vs the brute join is the
    *    checksum pass that diagnosed the regime. (First measured form
    *    kept the bucket join unconditionally: 2.1 s vs 0.9 s brute on
    *    exactly this case — the adaptive skip is what makes the
    *    operator safe to reach for by default.)
    */
  def tableDiff(a: DataFrame, b: DataFrame, keyCol: String,
                canon: Column, nb: Int = 256): DataFrame = {
    require(nb > 0, s"bad bucket count $nb")
    val bad = badBuckets(a, b, keyCol, canon, nb)
    val prune: DataFrame => DataFrame =
      if (bad.isEmpty) df => df.filter(lit(false)) // folds to empty scan
      else if (bad.length * 2 <= nb)
        df => df.filter(col("bucket").isin(bad.toSeq: _*))
      else identity
    def slice(df: DataFrame): DataFrame = prune(df
      .select(col(keyCol).as("key"),
        pmod(col(keyCol), lit(nb.toLong)).as("bucket"),
        fingerprint(canon).as("fp")))
    slice(a).select(col("key"), col("fp").as("fp_a"))
      .join(slice(b).select(col("key"), col("fp").as("fp_b")), Seq("key"), "full")
      .select(col("key"),
        when(col("fp_b").isNull, lit("missing_b"))
          .when(col("fp_a").isNull, lit("missing_a"))
          .when(col("fp_a") =!= col("fp_b"), lit("changed")).as("status"))
      .filter(col("status").isNotNull)
  }

  /** CDC feed EXTRACTION — [[tableDiff]]'s constructive sibling: not just
    * WHICH keys differ between snapshot `a` (old) and `b` (new), but the
    * minimal change feed that replays A into B: one row per drifted key,
    * `op` ∈ i(nsert) | u(pdate) | d(elete), payload columns carrying the
    * NEW values (null on delete). This is how a snapshot-only source
    * (nightly dump, no changelog) is turned into an incremental feed for
    * downstream CDC consumers ([[graft.operators.EventOps.cdcSnapshot]],
    * mergeUpsert, SCD2) — the round-trip law
    * `applyFeed(a, changeFeed(a,b)) == b` is pinned by spec and the q171
    * gate hashes the feed itself against the oracle's full-outer form.
    *
    * Shape: one full outer join on the key — inherently row-level (the
    * feed must CARRY the new payload, so unlike tableDiff there is no
    * checksum shortcut) — with null-safe payload comparison (`<=>`
    * negation), so NULL→value and value→NULL transitions are real
    * updates, not misses. One shuffle each side, hash join, no window. */
  def changeFeed(a: DataFrame, b: DataFrame, keyCol: String,
                 payload: Seq[String]): DataFrame = {
    require(payload.nonEmpty, "empty payload column list")
    val an = a.select((keyCol +: payload).map(col): _*).as("a")
    val bn = b.select((keyCol +: payload).map(col): _*).as("b")
    val differs = payload
      .map(c => !(col(s"a.$c") <=> col(s"b.$c"))).reduce(_ || _)
    val outCols =
      coalesce(col(s"a.$keyCol"), col(s"b.$keyCol")).as(keyCol) +:
      when(col(s"a.$keyCol").isNull, lit("i"))
        .when(col(s"b.$keyCol").isNull, lit("d"))
        .when(differs, lit("u")).as("op") +:
      payload.map(c => col(s"b.$c").as(c))
    an.join(bn, col(s"a.$keyCol") === col(s"b.$keyCol"), "full")
      .select(outCols: _*)
      .filter(col("op").isNotNull)
  }

  /** Replay a [[changeFeed]] onto snapshot `a`: drop deleted + updated
    * keys, then union the feed's new rows. Anti-join + union — no window,
    * no full outer. The spec asserts the round-trip law against `b`. */
  def applyFeed(a: DataFrame, feed: DataFrame, keyCol: String,
                payload: Seq[String]): DataFrame = {
    val touched = feed.select(col(keyCol))
    a.select((keyCol +: payload).map(col): _*)
      .join(touched, Seq(keyCol), "left_anti")
      .unionByName(feed.filter(col("op") =!= "d")
        .select((keyCol +: payload).map(col): _*))
  }
}
