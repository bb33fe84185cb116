package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Text-analysis + deduplication operators for the training-data pipeline
  * (builder brief: dedup, text analysis over `documents`).
  *
  * Design rules:
  *  - everything is built from `org.apache.spark.sql.functions` (split /
  *    transform / aggregate / md5 / conv) — no UDFs, so the plan stays
  *    columnar and portable;
  *  - all hashing is md5-based: identical in every engine, which makes the
  *    operators oracle-checkable bit-for-bit (Murmur-style `hash()` differs
  *    between Spark and DuckDB);
  *  - NOTHING does an all-pairs comparison. Candidate generation is always
  *    a bucketed equi-join (LSH bands for MinHash, bit-blocks for SimHash),
  *    the O(n²) verify runs only inside buckets. That is the difference
  *    between "works on 60k rows" and "works on 100 TB".
  */
object TextOps {

  /** Whitespace tokens. */
  def words(text: Column): Column = split(text, " ")

  /** The shared micro-nat rounding device (q213/q300 discipline): −ln(x)
    * floored ONCE per cell to integer micro-nats, so both engines sum
    * only integers and float order cannot move a hash bit. ONE
    * definition on purpose — the rounding law is a cross-engine parity
    * contract, and per-operator copies could silently diverge. */
  private[operators] def microNatNeg(x: Column): Column =
    floor(-log(x) * lit(1e6) + lit(0.5)).cast("long")

  /** Word n-gram shingles (distinct) from a words-array column, the
    * MinHash/Jaccard unit. Documents shorter than n words yield an empty
    * set. Since round 14 this is the NATIVE codegen'd kernel
    * [[graft.expressions.ShingleOps.shingles]] — one compiled loop per row
    * instead of a CodegenFallback `transform` lambda whose expression tree
    * Catalyst re-interprets per array element (guide §4; ShingleOpsSpec
    * pins equivalence to the original composition: same concat_ws
    * null-skipping, same first-occurrence distinct order, empty array on
    * the old `when(size(w) >= n)` guard's otherwise branch). The historic
    * subtree-capture trap (passing `split(text)` directly re-executed the
    * split per shingle index, O(tokens²) per document — measured 13.0 s →
    * ~1 s for q37 at sf0.1) no longer applies to the native form, but hot
    * paths still stage `words(text).as("w")` first so the split shows up
    * once in the plan. */
  def shinglesFromWords(w: Column, n: Int = 3): Column =
    call_function("graft_shingles", w, lit(n))

  /** Convenience single-expression form for tests/small frames ONLY — it
    * inlines `split(text)` into the transform lambda (the O(tokens²) trap
    * documented on [[shinglesFromWords]]). Hot paths go through
    * [[shingleTable]], which stages the words array first. */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromWords(words(text), n)

  /** Mersenne prime 2³¹−1: the MinHash permutation modulus. Hash values and
    * multipliers stay below 2³¹, so a·h + b < 2⁶² — no 64-bit overflow in
    * any engine. ONE definition, owned by the native kernel object. */
  val MinhashP: Long = graft.expressions.ShingleOps.P

  /** Fixed permutation coefficients (seeded once; embedded as literals in
    * the SQL oracle mirrors too). Owned by [[graft.expressions.ShingleOps]]
    * since round 14 (the native kernel needs them); values unchanged. */
  val hashA: IndexedSeq[Long] = graft.expressions.ShingleOps.hashA
  val hashB: IndexedSeq[Long] = graft.expressions.ShingleOps.hashB

  /** One md5 pass per shingle → 31-bit base hash. The k permutations are
    * then pure arithmetic ((a·h+b) mod P) — hashing each shingle k times
    * was the dominant cost of the signature (k× md5 work for no recall).
    * Native kernel since round 14 (mirrors
    * `transform(sh, s -> conv(substring(md5(s),1,8),16,10) % P)` exactly —
    * ShingleOpsSpec). */
  def shingleHashes(shingleCol: Column): Column =
    call_function("graft_shingle_hashes", shingleCol)

  /** MinHash signature over pre-hashed shingles: sig[i] = min (a_i·h + b_i)
    * mod P. Returns array<long> of length k. Native kernel since round 14:
    * the k=12..32 permutations fold in ONE pass over the hash array
    * instead of k interpreted `transform`+`array_min` lambda passes. */
  def minhashSignature(hashesCol: Column, k: Int = 12): Column =
    call_function("graft_minhash_sig", hashesCol, lit(k))

  /** LSH banding: fold the signature into `bands` bands of `rows` values and
    * hash each band. Output: array<struct<band:int, bkey:string>> to explode;
    * docs sharing any (band, bkey) are candidate near-duplicates. With
    * k=12, bands=6, rows=2: P(candidate) = 1-(1-s²)⁶ — ≈0.92 at s=0.5.
    * Native kernel since round 14 (same decimal-rendered, comma-joined,
    * md5-hashed band key). */
  def lshBands(sig: Column, bands: Int = 6, rows: Int = 2): Column =
    call_function("graft_lsh_bands", sig, lit(bands), lit(rows))

  /** The (id, shingle-set) table feeding both candidate generation and
    * verification. Compute it ONCE per pipeline and `.cache()` it when both
    * stages run — shingling is the dominant scan cost and recomputing it
    * per consumer triples the work. */
  def shingleTable(docs: DataFrame, idCol: String, n: Int = 3,
                   textCol: String = "text"): DataFrame =
    docs.select(col(idCol), words(col(textCol)).as("w"))
      // no-shingles ⇔ fewer than n words (n-or-more words always yield ≥1
      // distinct n-gram). Filtering on the CHEAP size(w) predicate here —
      // instead of size(sh) > 0 after the shingle projection — matters:
      // the optimizer pushes the filter below the projection, and a
      // size(sh) predicate re-embeds the ENTIRE shingle subtree into the
      // pushed Filter, evaluating shingling twice per row (observed in
      // the q62 physical plan; Filter and Project don't share
      // subexpressions even inside one codegen stage)
      .filter(size(col("w")) >= n)
      // separate select: the lambda in shinglesFromWords must see the bound
      // attribute `w`, not the split() subtree (see its scaladoc; Catalyst's
      // CollapseProject keeps the boundary because `w` is non-cheap and
      // referenced multiple times)
      .select(col(idCol), shinglesFromWords(col("w"), n).as("sh"))

  /** Candidate pairs from banded signatures: explode bands, self-join on
    * (band, bkey), `id1 < id2`, distinct. ONE shuffle on the band key; no
    * all-pairs. `shingleDf` from [[shingleTable]]. */
  def minhashCandidates(shingleDf: DataFrame, idCol: String,
                        k: Int = 12, bands: Int = 6): DataFrame = {
    val banded = minhashBands(shingleDf, idCol, k, bands)
    banded.alias("a")
      .join(banded.alias("b"), Seq("band", "bkey"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
      .distinct()
  }

  /** The banded-signature table (id, band, bkey) — the LSH INDEX a
    * deployment persists so ingest batches probe it incrementally
    * instead of re-signing the corpus.
    *
    * Stage hashes → signature → bands through separate projections:
    * nesting the expressions would inline the k-hash signature tree into
    * every band element (k × bands recomputations of the shingle set —
    * measured 76 s vs 3 s at sf0.1). Each select materializes its column
    * once per row; higher-order exprs see bound attributes, not subtrees. */
  def minhashBands(shingleDf: DataFrame, idCol: String,
                   k: Int = 12, bands: Int = 6): DataFrame =
    shingleDf
      .select(col(idCol), shingleHashes(col("sh")).as("hs"))
      .select(col(idCol), minhashSignature(col("hs"), k).as("sig"))
      .select(col(idCol), explode(lshBands(col("sig"), bands, k / bands)).as("b"))
      .select(col(idCol), col("b.band").as("band"), col("b.bkey").as("bkey"))

  /** Incremental LSH ingest — the daily-batch shape: candidates for NEW
    * docs against the SAVED corpus band index plus the new batch itself,
    * without touching any existing document's text or signature. The
    * identity `incremental(new, corpus) == full(corpus ∪ new) restricted
    * to pairs touching a new id` is what q244 gates: the probe side is
    * |new| bands, the join fans out only through shared buckets. Output
    * (id1, id2) with id1 < id2. */
  def minhashCandidatesIncremental(corpusBands: DataFrame, newBands: DataFrame,
                                   idCol: String): DataFrame = {
    val all = corpusBands.unionByName(newBands)
    newBands.alias("a")
      .join(all.alias("b"), Seq("band", "bkey"))
      .filter(col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("id1"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("id2"))
      .distinct()
  }

  /** Duplicated-span masking (the exact-substring deduplication of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL'22 — their suffix-array dedup re-expressed relationally): a word
    * n-gram occurring in ≥ `minDocs` DISTINCT documents is a duplicated
    * span; every token position covered by any duplicated span is masked.
    * Returns per-document (n_tokens, dup_tokens, kept_tokens).
    *
    * Relational shape instead of a suffix array: positional n-grams are a
    * single generate pass (md5 per gram so the shuffle carries a 32-char
    * key, not the span text); the duplicated-gram set is the output of one
    * count-distinct aggregation and is TINY relative to the corpus (only
    * grams that actually repeat across documents); coverage is an equi-join
    * back to the positional grams followed by a bounded explode (n
    * positions per hit) and a distinct. Nothing is ever all-pairs and no
    * suffix structure is materialized — every stage is a shuffle on a hash
    * key, which is what survives 100 TB. */
  def dupSpanMask(docs: DataFrame, idCol: String, n: Int = 8, minDocs: Int = 2,
                  textCol: String = "text"): DataFrame = {
    val w = docs.select(col(idCol), words(col(textCol)).as("w"))
    // positional (NOT distinct) n-grams: coverage needs every occurrence.
    // cache: TWO consumers (the duplicated-gram aggregate and the
    // coverage join) — uncached, the generate pass (split + per-position
    // md5, the dominant corpus scan) runs twice (round-6 verdict #2);
    // released via Materialize.thenRelease below.
    // positional gram hashing is the native per-row kernel since round 14
    // (one compiled loop; was an interpreted transform+slice+md5 lambda
    // per position — guide §4), posexplode'd so array order = position
    val grams = w.filter(size(col("w")) >= n)
      .select(col(idCol), posexplode(
        call_function("graft_gram_hashes", col("w"), lit(n))))
      .select(col(idCol), col("pos"), col("col").as("g"))
      .cache()
    val dup = grams.groupBy("g")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("g")
    val covered = grams.join(dup, Seq("g"))
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
      .groupBy(idCol).agg(count(lit(1)).as("dup_tokens"))
    Materialize.thenRelease(
      docs.select(col(idCol), size(words(col(textCol))).cast("long").as("n_tokens"))
        .join(covered, Seq(idCol), "left")
        .select(col(idCol), col("n_tokens"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          (col("n_tokens") - coalesce(col("dup_tokens"), lit(0L))).as("kept_tokens")),
      grams)
  }

  /** The ids MinHash-LSH near-dup removal drops: for every verified pair
    * (id1 < id2), the LARGER id — so each near-dup group keeps its
    * smallest member. Computes [[shingleTable]] once (cached) for both the
    * candidate and verify stages. Shared by the q47 oracle query and the
    * CorpusPipeline so the drop policy has exactly one definition. */
  def nearDupDropIds(docs: DataFrame, idCol: String,
                     threshold: Double = 0.5): DataFrame = {
    val sh = shingleTable(docs, idCol).cache()
    Materialize.thenRelease(
      jaccardVerify(minhashCandidates(sh, idCol), sh, idCol, threshold)
        .select(col("id2").as(idCol)).distinct(),
      sh)
  }

  /** EXACT all-pairs n-gram Jaccard near-dup join — no LSH approximation —
    * via a COUNT-based inverted shingle index: explode (id, sz, shingle),
    * self-join on the shingle, count shared shingles per surviving pair,
    * jaccard = inter / (|A|+|B|−inter). Two prunes keep it off all-pairs:
    * the join only enumerates pairs sharing ≥1 shingle, and the size-ratio
    * filter min(|A|,|B|) ≥ τ·max(|A|,|B|) — necessary for J ≥ τ since
    * J ≤ min/max — drops incompatible pairs before the aggregation.
    *
    * Counting beats verifying: a PPJoin-style prefix-filter + exact
    * array_intersect verify variant was MEASURED SLOWER here (8.3 s vs
    * 2.6 s at sf0.1) — with ~10⁶ qualifying pair rows, per-pair set
    * intersection over ~50-element string arrays dwarfs the count
    * aggregation, which never re-touches the arrays. At corpus scale the
    * candidate count is governed by hot-shingle posting lists (m docs
    * sharing a shingle → m² pair rows); the production path is PPJoin
    * prefix filtering (Xiao et al., WWW'08: index each doc's
    * |A|−⌈τ|A|⌉+1 rarest shingles — result-identical) layered on THIS
    * aggregation, worth its extra frequency-ranking shuffle only once
    * posting lists actually explode. Complements [[minhashCandidates]]
    * (approximate — a pair whose bands never collide is lost): this is
    * the ground-truth variant for thresholds where exactness matters more
    * than the band-collision savings. `shingleDf` from [[shingleTable]]. */
  def jaccardAllPairs(shingleDf: DataFrame, idCol: String,
                      threshold: Double = 0.5): DataFrame = {
    val index = shingleDf
      .select(col(idCol), size(col("sh")).as("sz"), col("sh"))
      // explode_outer: identical on the guaranteed-non-empty shingle
      // arrays, but avoids the inferred size-filter re-evaluating the
      // upstream projection inside the scan (see shingleTable)
      .select(col(idCol), col("sz"), explode_outer(col("sh")).as("shingle"))
      // cache: both sides of the self-join scan the postings — uncached,
      // the shingle computation runs twice (ReuseExchange does not kick in
      // below a sort-merge join's per-side sorts)
      .cache()
    val inter = index.alias("a").join(index.alias("b"), Seq("shingle"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol") &&
        least(col("a.sz"), col("b.sz")) >= lit(threshold) * greatest(col("a.sz"), col("b.sz")))
      .groupBy(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"),
        col("a.sz").as("s1"), col("b.sz").as("s2"))
      .agg(count(lit(1)).as("inter"))
    Materialize.thenRelease(
      inter
        .withColumn("jaccard", col("inter") / (col("s1") + col("s2") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("id1"), col("id2"), col("jaccard")),
      index)
  }

  /** Asymmetric CONTAINMENT pairs: C(A→B) = |A∩B| / |A| over shingle
    * sets — the near-dup signal symmetric Jaccard misses: a short
    * document wholly quoted inside a much longer one has tiny Jaccard
    * (union is huge) but containment ≈ 1. The standard dedup policy pairs
    * both: Jaccard for same-size near-dups, containment for
    * wrapper/boilerplate absorption.
    *
    * Same inverted-index shape as [[jaccardAllPairs]] (posting-list
    * equi-join on the shingle, count co-occurrences, verify per pair) but
    * WITHOUT the size-ratio prune — a contained doc may be 100× smaller
    * than its container, which is exactly the case the prune would drop.
    * The cost guard is instead `minShingles` (ignore docs too short to
    * make containment meaningful) and, at 100 TB, dropping
    * stop-shingles: posting lists above a frequency cap contribute
    * candidates quadratically yet only ever RAISE the denominator-free
    * intersection — production would frequency-filter the index first
    * (PPJoin-style); the exact form here is the oracle contract.
    *
    * Emits BOTH directions (A in B, B in A) when both clear `threshold`;
    * `containment` is an exact small-int division, bit-identical in any
    * engine. */
  def containmentPairs(shingleDf: DataFrame, idCol: String,
                       threshold: Double = 0.9, minShingles: Int = 1): DataFrame = {
    val index = shingleDf
      .select(col(idCol), size(col("sh")).as("sz"), col("sh"))
      .filter(col("sz") >= minShingles)
      .select(col(idCol), col("sz"), explode_outer(col("sh")).as("shingle"))
      // both sides of the self-join scan the postings (see jaccardAllPairs)
      .cache()
    // Count each unordered pair ONCE (a < b halves the join output and the
    // aggregate's intermediate), then emit both directions from the
    // counted row — containment is asymmetric only in its denominator.
    val pairs = index.alias("a").join(index.alias("b"), Seq("shingle"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("ida"), col(s"b.$idCol").as("idb"),
        col("a.sz").as("sa"), col("b.sz").as("sb"))
      .agg(count(lit(1)).as("inter"))
    Materialize.thenRelease(
      pairs
        .select(explode(array(
            struct(col("ida").as("id1"), col("idb").as("id2"),
              (col("inter") / col("sa")).as("containment")),
            struct(col("idb").as("id1"), col("ida").as("id2"),
              (col("inter") / col("sb")).as("containment")))).as("p"))
        .select(col("p.id1"), col("p.id2"), col("p.containment"))
        .filter(col("containment") >= threshold),
      index)
  }

  /** [[containmentPairs]] with PPJoin-style PREFIX FILTERING — the 100 TB
    * layering that operator's scaladoc names, made concrete and proven
    * result-identical (the gate hashes it against the exact form's
    * oracle). Threshold is an exact rational `thrNum/thrDen` so the
    * pigeonhole arithmetic stays integer (a double `ceil(0.8·sz)` can land
    * on the wrong side for exact multiples).
    *
    * Pigeonhole: C(A→B) ≥ t needs |A∩B| ≥ ⌈t·|A|⌉, so if A's shingles are
    * ranked in a GLOBAL canonical order (ascending document frequency,
    * then shingle) and B misses all of A's first |A|−⌈t·|A|⌉+1, the
    * intersection can't reach the bar. Candidates therefore come from
    * joining only A's PREFIX postings (≈(1−t)·|A| rows, the RAREST
    * shingles — frequency ranking makes prefix postings short precisely
    * where posting lists are long) against the full index; the exact
    * containment is then recomputed per candidate pair from the two
    * shingle arrays, so false candidates die and the result is
    * bit-identical to the exact form. Cost: the quadratic posting
    * self-join shrinks by ~(1−t) on one side AND avoids the hottest
    * posting lists on that side; everything else is bucket-local.
    *
    * When it pays: the prune targets HEAVY-TAILED posting lists (real
    * corpora: boilerplate shingles with 10⁵⁺-doc postings, which the
    * rarity prefix never joins on). On the synthetic gate corpus the
    * vocabulary is tiny and uniform — every posting list is short — so
    * the measured 10× harness shows the prefix machinery's fixed costs
    * (df aggregate, per-doc rank window, array verify) without its
    * payoff; SCALECHECK reports both numbers honestly. */
  def containmentPairsPrefix(shingleDf: DataFrame, idCol: String,
                             thrNum: Long = 9, thrDen: Long = 10,
                             minShingles: Int = 1): DataFrame = {
    require(thrNum > 0 && thrDen > 0 && thrNum <= thrDen,
      s"bad threshold $thrNum/$thrDen")
    val base = shingleDf.select(col(idCol).as("id"), col("sh"))
      .filter(size(col("sh")) >= minShingles)
      .cache() // consumed by the postings AND both verify array joins
    // NOT shingle-partitioned (round-15, measured both ways): an explicit
    // repartition(shingle) before the cache would let the df-count
    // aggregate and both join consumers share one exchange — but the
    // df aggregate already map-side-reduces to the (small) vocabulary
    // before its exchange, so the "shared" exchange trades tiny partial-
    // agg shuffles for a full shuffle of the exploded postings INTO the
    // cache build; measured at 100× (8 g heap, same copy, back-to-back
    // binaries) that trade runs 304.7 s → 450.9 s (+48%, GC pressure at
    // the documented heap cliff) and is flat-to-negative at sf0.1.
    val postings = base
      .select(col("id"), size(col("sh")).as("sz"),
        explode_outer(col("sh")).as("shingle"))
      .cache() // df-count side + prefix side + candidate full side
    val dfreq = postings.groupBy("shingle").agg(count(lit(1)).as("df"))
    val wRank = Window.partitionBy("id")
      .orderBy(col("df").asc, col("shingle").asc)
    // EXPLICIT width on the per-id exchange (round-15, guide §2.5): the
    // window's implicit ENSURE_REQUIREMENTS shuffle is byte-light here,
    // so AQE coalesced it to ~5 partitions — and because every
    // downstream step (rank filter, candidate join, pair-distinct, both
    // verify joins, the array_intersect verify) keeps or subsumes the
    // id clustering, the WHOLE compute-heavy tail inherited those 5
    // tasks (measured: the final stage held ~7 task-seconds in a 2 s
    // wall at tasks=5). An explicit partition count is exempt from AQE
    // coalescing; never below today's width (max of core count and the
    // session's shuffle partitions — both deployment-sized, no local
    // constant).
    val idWidth = math.max(
      shingleDf.sparkSession.sparkContext.defaultParallelism,
      shingleDf.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    val prefix = postings.join(dfreq, Seq("shingle"))
      .repartition(idWidth, col("id"))
      .withColumn("rnk", row_number().over(wRank))
      // prefix length p = sz − ⌈t·sz⌉ + 1, all-integer ceil
      .filter(col("rnk") <=
        col("sz") - expr(s"(sz * $thrNum + ${thrDen - 1}) div $thrDen") + 1)
    val cand = prefix.select(col("id").as("id1"), col("shingle"))
      .join(postings.select(col("id").as("id2"), col("shingle")), Seq("shingle"))
      .filter(col("id1") =!= col("id2"))
      .select("id1", "id2").distinct()
    Materialize.thenRelease(
      cand
        .join(base.select(col("id").as("id1"), col("sh").as("sh1")), Seq("id1"))
        .join(base.select(col("id").as("id2"), col("sh").as("sh2")), Seq("id2"))
        .withColumn("containment",
          size(array_intersect(col("sh1"), col("sh2"))) / size(col("sh1")))
        .filter(col("containment") >= lit(thrNum.toDouble / thrDen.toDouble))
        .select(col("id1"), col("id2"), col("containment")),
      postings, base)
  }

  /** Ed-Join-style edit-distance similarity join (Xiao, Wang, Lin,
    * VLDB'08): all pairs of distinct strings with levenshtein ≤ d,
    * WITHOUT the all-pairs scan — the scale path for fuzzy catalog /
    * entity matching where q102's semantic blocking has no block key.
    *
    * Filter theory (both conservative, so the result is EXACT after the
    * verify): d edit operations destroy at most d·q of a string's
    * positional q-grams, so a true pair's gram-BAG overlap is at least
    * max(|Gs|,|Gt|) − d·q; by prefix filtering over the global
    * (rarity, gram, occ) order, such a pair must share a bag element
    * within each side's d·q+1 RAREST grams. Candidates therefore come
    * from a prefix×prefix equi-join on (gram, occurrence-index) — bag
    * elements, so duplicated grams pair by occurrence and multiplicity
    * is respected — plus the |len diff| ≤ d length filter; each
    * candidate is verified with the exact levenshtein. Strings short
    * enough that the gram bound degenerates (len ≤ d·q+q−1 — the bound
    * hits zero, a pair can share NO gram) fall into a tiny brute
    * bucket, keeping the operator total.
    *
    * Scale shape: the join touches only d·q+1 rows per string per side
    * (frequent grams never generate candidates), the q113 discipline
    * applied to edit distance. Returns (n1, n2, dist), n1 < n2. */
  def editDistanceJoin(names: DataFrame, nameCol: String, d: Int,
                       q: Int = 2): DataFrame = {
    require(d >= 1 && q >= 2, s"bad edit-join params d=$d q=$q")
    val shortMax = d * q + q - 1
    val n = names.select(col(nameCol).as("name")).distinct().cache()
    // EVERY string with at least one gram is indexed — a short string's
    // pair with a long partner still satisfies the gram bound (the long
    // side retains ≥ |G_long| − d·q grams, all of which the short side
    // must hold), so excluding short strings from the index loses
    // cross-length pairs. The brute bucket below covers only pairs where
    // BOTH sides are short enough for the bound to degenerate.
    val grams = n.filter(length(col("name")) >= q)
      .select(col("name"), posexplode(expr(
        s"transform(sequence(1, length(name) - ${q - 1}), i -> substring(name, i, $q))"))
        .as(Seq("p", "g")))
      .withColumn("occ", row_number().over(
        Window.partitionBy("name", "g").orderBy("p")))
      .select("name", "g", "occ")
      .cache()
    val dfreq = grams.groupBy("g", "occ").agg(count(lit(1)).as("df"))
    val wRank = Window.partitionBy("name")
      .orderBy(col("df").asc, col("g").asc, col("occ").asc)
    val prefix = grams.join(dfreq, Seq("g", "occ"))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= d * q + 1)
    val cand = prefix.select(col("name").as("n1"), col("g"), col("occ"))
      .join(prefix.select(col("name").as("n2"), col("g"), col("occ")),
        Seq("g", "occ"))
      .filter(col("n1") < col("n2"))
      .select("n1", "n2").distinct()
    val shorts = n.filter(length(col("name")) <= shortMax)
    val shortPairs = shorts.select(col("name").as("n1"))
      .crossJoin(shorts.select(col("name").as("n2")))
      .filter(col("n1") < col("n2"))
    Materialize.thenRelease(
      cand.union(shortPairs).distinct() // buckets overlap on mid-length pairs
        .filter(abs(length(col("n1")) - length(col("n2"))) <= d)
        .withColumn("dist", levenshtein(col("n1"), col("n2")).cast("long"))
        .filter(col("dist") <= d)
        .select("n1", "n2", "dist"),
      n, grams)
  }

  /** Exact shingle-set Jaccard for candidate pairs: |A∩B| / |A∪B|. */
  def jaccardVerify(pairs: DataFrame, shingleDf: DataFrame, idCol: String,
                    threshold: Double = 0.5): DataFrame =
    pairs
      .join(shingleDf.select(col(idCol).as("id1"), col("sh").as("sh1")), Seq("id1"))
      .join(shingleDf.select(col(idCol).as("id2"), col("sh").as("sh2")), Seq("id2"))
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))) / size(array_union(col("sh1"), col("sh2"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))

  /** 64-bit SimHash from exploded (id, term) rows: per bit j, sum ±1 by the
    * j-th bit of each 64-bit term hash; simhash bit j = 1 iff the sum is
    * positive. Terms should be SHINGLES for near-dup detection — unigrams
    * over a small shared vocabulary make every document's profile similar
    * and the hashes collapse (measured: 725 spurious hd≤3 pairs with
    * unigrams vs 20 true ones with 3-gram shingles on the test corpus).
    *
    * The hash is materialized as FOUR 16-bit block columns b0..b3 (bits
    * 0-15, 16-31, 32-47, 48-63), not one packed long: bit 63 of a packed
    * value flips the sign of a signed 64-bit integer and `>>` semantics on
    * negatives differ across engines, while int blocks keep every value
    * positive and the block join engine-portable. The blocks ARE the
    * pigeonhole join keys, so nothing downstream wants the packed form.
    *
    * Why 64/16 and not the classic 32/8: 8-bit blocks give 4×256 = 1,024
    * buckets total — at corpus scale every bucket holds ~n/1024 docs and
    * the within-bucket verify join goes quadratic. 16-bit blocks give
    * 4×65,536 buckets, a 256× smaller per-bucket population, and the wider
    * hash halves the false-collision rate per bit budget.
    *
    * The term hash takes bits 0..31 from md5 hex chars 1-8 and bits 32..63
    * from chars 9-16 (two independent 32-bit halves — portable: both
    * engines parse 8 hex chars into a non-negative int64 exactly).
    * Input: df with (idCol, "term"); output: (idCol, b0..b3:int). */
  def simhash64(termsDf: DataFrame, idCol: String): DataFrame = {
    val hashed = termsDf.select(col(idCol),
      conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long").as("hlo"),
      conv(substring(md5(col("term")), 9, 8), 16, 10).cast("long").as("hhi"))
    def bit(j: Int): Column =
      shiftright(if (j < 32) col("hlo") else col("hhi"), j % 32).bitwiseAND(lit(1L))
    val sums = (0 until 64).map(j => sum(when(bit(j) === 1L, 1).otherwise(-1)).as(s"s$j"))
    hashed.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .select(col(idCol) +: (0 until 4).map { b =>
        (0 until 16).map(j => when(col(s"s${16 * b + j}") > 0, lit(1 << j)).otherwise(lit(0)))
          .reduce(_ + _).cast("int").as(s"b$b")
      }: _*)
  }

  /** SimHash near-dup candidates by the pigeonhole block trick: two hashes
    * within Hamming distance 3 differ in ≤3 of 4 blocks, so they AGREE on
    * ≥1 block — bucket-join per (block index, block value), no all-pairs,
    * then verify the exact Hamming distance as the sum of per-block
    * `bit_count(xor)`. Input: [[simhash64]] output; result:
    * (id1, id2, hamming ≤ maxHamming). */
  def simhashPairs(sim: DataFrame, idCol: String, maxHamming: Int = 3): DataFrame = {
    val bcols = (0 until 4).map(b => s"b$b")
    val blocks = sim.select(
        col(idCol) +: bcols.map(col) :+
          explode(array((0 until 4).map { b =>
            struct(lit(b).as("blk"), col(s"b$b").as("bval"))
          }: _*)).as("e"): _*)
      .select(col(idCol) +: bcols.map(col) :+
        col("e.blk").as("blk") :+ col("e.bval").as("bval"): _*)
    blocks.alias("a").join(blocks.alias("b"), Seq("blk", "bval"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(Seq(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2")) ++
        bcols.map(c => col(s"a.$c").as(s"x$c")) ++
        bcols.map(c => col(s"b.$c").as(s"y$c")): _*)
      .distinct()
      .withColumn("hamming",
        bcols.map(c => bit_count(col(s"x$c").bitwiseXOR(col(s"y$c"))))
          .reduce(_ + _).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** Marker vocabularies for the language-ID heuristic: disjoint sets of the
    * most lang-distinctive tokens (by frequency lift) in the corpus. A real
    * deployment derives these from character n-gram profiles; the mechanism
    * (score per language, argmax, lexicographic tie-break) is identical. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("customer", "hash", "big", "row"),
    "en" -> Seq("order", "window", "table", "group"),
    "es" -> Seq("agg", "slow", "merge", "value"),
    "fr" -> Seq("query", "scan", "data", "batch"),
    "zh" -> Seq("dup", "the", "fast", "join"))

  /** Language-ID: count marker tokens per language (with multiplicity),
    * predict the argmax, ties to the lexicographically smallest language.
    * Appends score columns and `pred_lang`. */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val w = words(col(textCol))
    val scored = LangMarkers.foldLeft(docs) { case (df, (lang, markers)) =>
      df.withColumn(s"score_$lang",
        size(filter(w, t => t.isin(markers: _*))))
    }
    val m = greatest(LangMarkers.map { case (l, _) => col(s"score_$l") }: _*)
    // when-chain in declaration order: the FIRST (lexicographically
    // smallest) language reaching the max wins ties
    val pred = LangMarkers.map(_._1).reverse
      .foldLeft(lit(null).cast("string")) { case (rest, lang) =>
        when(col(s"score_$lang") === m, lit(lang)).otherwise(rest)
      }
    scored.withColumn("pred_lang", pred)
  }

  /** Per-document quality metrics (length/stopword/uniqueness heuristics —
    * the standard pretraining quality gates, all exact integer ratios). */
  def qualityMetrics(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val w = words(col(textCol))
    val stop = Seq("a", "the")
    docs
      .withColumn("n_tokens", size(w))
      .withColumn("mean_token_len",
        (length(col(textCol)) - (col("n_tokens") - 1)) / col("n_tokens"))
      .withColumn("stop_ratio", size(filter(w, t => t.isin(stop: _*))) / col("n_tokens"))
      .withColumn("uniq_ratio", size(array_distinct(w)) / col("n_tokens"))
  }

  /** TF-IDF top-k characteristic terms per document — the standard
    * keyword/topic signal a corpus pipeline attaches before mixing.
    *
    * tf = exact term count per (doc, term); idf = round(ln(N/df), 6) —
    * the 6-decimal round absorbs last-ulp libm ln() differences between
    * engines (the weightSanity precedent), and tf·idf of identical
    * operands is then bit-identical everywhere. Ties in the per-doc
    * ranking break on the term string, so top-k is deterministic.
    *
    * Shape: two partial-aggregated shuffles (doc,term) → (term), a
    * broadcast of the corpus size, and a per-doc ranking window — the
    * word-count pattern end to end; nothing global, nothing quadratic. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val terms = docs.select(col(idCol), words(col(textCol)).as("w"))
      .select(col(idCol), explode_outer(col("w")).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(df, Seq("term")).crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * round(log(col("n").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("score"))
  }

  /** Bigram language-model quality score — the KenLM-shaped "how natural
    * is this document under the corpus's own n-gram statistics" signal
    * used to rank training data (high = typical phrasing, low = gibberish
    * / boilerplate / wrong-language).
    *
    * The model is the corpus itself: c1(w1) counts bigrams starting with
    * w1, c2(w1,w2) counts the exact bigram, so p(w2|w1) = c2/c1 is a
    * proper conditional (Σ_w2 c2 = c1). Probabilities live in integer
    * MICRO-units — p_micro = (10⁶·c2) div c1 — and the per-document score
    * is the floored mean of its bigram p_micros: all-integer arithmetic,
    * so the score is bit-identical on any partitioning and any engine
    * (a log-prob float sum would be order-dependent). Documents under 2
    * tokens have no bigrams and no row.
    *
    * Shape: the word-count pattern twice (partial-aggregated shuffles on
    * w1 and (w1,w2)) + two equi-joins of the bigram stream against
    * vocabulary-sized count tables — the exact shape of scoring against
    * any external n-gram table at 100 TB, where the model side is orders
    * of magnitude smaller than the corpus and broadcast/bucketed joins
    * apply. Nothing global, nothing quadratic. */
  def bigramLmScore(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val w = docs.select(col(idCol), words(col(textCol)).as("w"))
      .filter(size(col("w")) >= 2)
    val bg = w.select(col(idCol),
        // w is a bound attribute (staged projection above) — the lambda
        // must not capture the split subtree (see shinglesFromWords)
        explode_outer(transform(sequence(lit(0), size(col("w")) - 2),
          i => struct(element_at(col("w"), i + 1).as("w1"),
                      element_at(col("w"), i + 2).as("w2")))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
      // three physical consumers (c1 aggregate, c2 aggregate, the scored
      // stream) — uncached, the tokenize+explode scan runs three times
      .cache()
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    Materialize.thenRelease(
      bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .select(col(idCol), expr("(1000000 * c2) div c1").as("p_micro"))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(p_micro) div count(1)").as("score_micro")),
      bg)
  }

  /** Per-document character-entropy quality metric: Shannon entropy (nats)
    * of the character distribution — the standard cheap gibberish/
    * binary-junk detector (natural prose sits ~2.8-3.3 nats; base64 blobs
    * and repeated-char padding land far outside). Companion to
    * [[qualityMetrics]] and [[bigramLmScore]] in the quality family.
    *
    * H = ln(n) − (Σ c·ln c)/n over per-char counts c — one explode +
    * two partial-aggregated shuffles, nothing global. Characters come from
    * substr indexing over a BOUND text attribute (`split(text, "")` has
    * engine-specific empty-string edges; substr does not). The entropy is
    * rounded to 5 dp: every term is a single IEEE op on integer counts, so
    * cross-engine drift is bounded by summation order (≤ a few ulp),
    * orders of magnitude inside the rounding grid.
    *
    * PRECONDITION (round-14 advice): `idCol` must be unique — the round-14
    * one-pass form emits one row per INPUT row, where the aggregation it
    * replaced silently merged duplicate ids into one row over the
    * concatenated distribution. Every corpus feeding this operator keys
    * by a unique doc_id; a caller with duplicate ids must pre-merge. */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    // Per-doc char statistics are ONE native row pass since round 14
    // (graft_char_stats): the previous form exploded every code point and
    // aggregated the per-char rows back down — |text| rows per document
    // through a hashpartitioning exchange, only to be counted (guide
    // §2.4: the shuffle is removed outright, and the per-char interpreted
    // substr lambda with it). Σ c·ln c was an order-arbitrary shuffle sum
    // before and a fixed-order sum now; consumers round to 5 dp, which
    // absorbs summation-order noise in both forms (gate-verified).
    docs.select(col(idCol), col(textCol).as("t"))
      .filter(length(col("t")) > 0)
      .select(col(idCol), call_function("graft_char_stats", col("t")).as("s"))
      .select(col(idCol), col("s.n_chars").as("n_chars"),
        col("s.n_distinct_chars").as("n_distinct_chars"),
        round(log(col("s.n_chars")) - col("s.clogc") / col("s.n_chars"), 5)
          .as("entropy_nat"))
  }

  /** BM25 keyword retrieval (Robertson/Spärck Jones; the Lucene `+1` idf
    * form, which keeps idf positive even for terms in most docs): score
    * every document against a pinned query-term set, return the global
    * top-k. The missing retrieval sibling of [[tfidfTopTerms]] — tf-idf
    * ranks terms *within* a doc, BM25 ranks *docs* for a query, with
    * saturation (k1) and length normalization (b).
    *
    * Determinism: idf and the tf-normalization are each rounded to 6 dp
    * (both engines compute them from integer tf/dl/df/N with structurally
    * identical single IEEE ops), then the per-term contribution is cast to
    * integer micro-units, so the per-doc sum is an ORDER-FREE integer sum
    * — bit-identical on any partitioning and any engine.
    *
    * Scale shape: the corpus stream is filtered to query terms BEFORE the
    * tf aggregation (a map-side `isin` prune — the inverted-index access
    * an external search engine would do); df and the corpus stats are
    * tiny broadcasts; the final top-k is TakeOrderedAndProject (per-
    * partition heaps, no global sort). */
  def bm25(docs: DataFrame, queryTerms: Seq[String], topK: Int = 20,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val toks = docs.select(col(idCol), words(col(textCol)).as("w"))
      .select(col(idCol), size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("term"))
    val tf = toks.filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.select(words(col(textCol)).as("w"))
      .agg(count(lit(1)).as("n"), sum(size(col("w")).cast("long")).as("sum_dl"))
    val scored = tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl6", expr("round(CAST(sum_dl AS DOUBLE) / n, 6)"))
      // k1 = 1.2, b = 0.75 are inlined so the arithmetic SHAPE (one op per
      // step, same constants) is textually mirrorable in the SQL oracle
      .withColumn("idf6", expr("round(ln((n - df + 0.5) / (df + 0.5) + 1), 6)"))
      .withColumn("tfn6",
        expr("round(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl6)), 6)"))
      .withColumn("contrib_micro",
        expr("CAST(round(1000000 * (idf6 * tfn6)) AS BIGINT)"))
    val perDoc = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_terms"),
        sum("contrib_micro").as("score_micro"))
      .orderBy(col("score_micro").desc, col(idCol)).limit(topK)
    perDoc.withColumn("rank", row_number().over(
        Window.orderBy(col("score_micro").desc, col(idCol))))
      .select(col("rank"), col(idCol), col("score_micro"), col("n_hit_terms"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR '09): merge
    * two ranked candidate lists into one by summing 1/(k + rank) per
    * list — the standard hybrid-retrieval combiner (BM25 × vector, or
    * relevance × quality) precisely because it needs NO score
    * calibration, only ranks. k=60 is the paper's constant.
    *
    * Scores are exact integers: 10⁹ div (k + rank) per contribution —
    * ranks are small, so the reciprocal grid is far coarser than the
    * div truncation, and the fused total is engine-portable with no
    * float epsilon. A document present in only one list contributes
    * only that list's term (full outer merge). Both inputs must carry
    * (idCol, rank). Output: (id, rank_a, rank_b, rrf_micro). */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String = "doc_id",
              k: Int = 60): DataFrame = {
    require(k >= 0, s"bad k=$k")
    def contrib(rankCol: String): Column = expr(
      s"CASE WHEN $rankCol IS NULL THEN 0 ELSE 1000000000 div ($k + $rankCol) END")
    val fa = a.select(col(idCol), col("rank").cast("long").as("rank_a"))
    val fb = b.select(col(idCol), col("rank").cast("long").as("rank_b"))
    fa.join(fb, Seq(idCol), "full")
      .select(col(idCol), col("rank_a"), col("rank_b"),
        (contrib("rank_a") + contrib("rank_b")).as("rrf_micro"))
  }

  /** Corpus vocabulary report: the global top-k tokens by frequency with a
    * dense rank — the Zipf-curve / tokenizer-training view of the corpus
    * (vocab construction starts from exactly this table).
    *
    * Scale shape: one partial-aggregated shuffle to (term, freq) — the
    * word-count reduction — then `orderBy(...).limit(k)`, which Spark
    * plans as TakeOrderedAndProject: each partition keeps a k-row heap and
    * the driver merges k·p rows. NO global sort of the vocabulary ever
    * materializes; the rank window runs over the k survivors only.
    * Ties break on the term string, so the report is deterministic. */
  def vocabReport(docs: DataFrame, k: Int = 100,
                  textCol: String = "text"): DataFrame = {
    val tf = docs.select(explode_outer(words(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(k)
    tf.withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("term"))))
      .select(col("rank"), col("term"), col("freq"))
  }

  /** Token counting: whitespace tokens, a BPE-ish unit count (vowel runs +
    * consonant runs ≈ subword segments), and the chars/4 LLM heuristic. */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("tok_ws", size(words(col(textCol))))
      .withColumn("tok_sub",
        size(regexp_extract_all(col(textCol), lit("[aeiou]+"), lit(0))) +
          size(regexp_extract_all(col(textCol), lit("[b-df-hj-np-tv-z]+"), lit(0))))
      .withColumn("tok_est4", ceil(length(col(textCol)) / 4).cast("int"))

  /** Document fingerprint from a BOUND shingle-array column (use
    * [[shingleTable]] to produce it): the k smallest md5(shingle) values,
    * joined — a deterministic min-k sketch (winnowing-style) usable as a
    * compact near-dup key prefix. */
  def fingerprintFromShingles(sh: Column, k: Int = 4): Column =
    concat_ws(",", slice(array_sort(transform(sh, s => md5(s))), 1, k))

  /** Convenience single-expression form for tests ONLY — inlines the full
    * shingle tree (and its split) into the transform lambda; see the
    * [[shinglesFromWords]] scaladoc for why that is O(tokens²). */
  def fingerprint(text: Column, n: Int = 3, k: Int = 4): Column =
    fingerprintFromShingles(shingles(text, n), k)

  /** PMI collocations: adjacent word pairs ranked by an EXACT integer
    * monotone transform of pointwise mutual information,
    *
    *   ratio_ppm = c(xy)·N_uni²·10⁶ div (N_bi·c(x)·c(y))
    *               (= exp(PMI) in ppm, PMI with bigram/unigram MLEs)
    *
    * — the log is monotone, so ranking by the rational ratio IS ranking by
    * PMI, with none of the cross-engine float-log drift. DECIMAL(38,0)
    * intermediates keep c·N²·10⁶ exact to ~10⁹-token corpora; past that
    * drop the ppm scale (the ranking is scale-invariant).
    *
    * Shape: the corpus is scanned EXACTLY ONCE — each token is exploded
    * with its successor (null for the last token of a doc) and counted by
    * (t, nxt), one map-side-combined shuffle on the distinct-bigram
    * domain. Everything else (unigram counts, both corpus totals, the
    * ratio join) derives from that small aggregate, which is
    * localCheckpoint'd so its four consumers don't re-run the explode
    * (the first version scanned the corpus three times and scaled 10×
    * at 10× data; one scan puts the growth on the vocabulary instead).
    * `minCount` suppresses the low-support noise PMI is notorious for.
    * Output: top `k` of (w1, w2, cxy, pmi_ratio_ppm). */
  def pmiCollocations(docs: DataFrame, minCount: Long = 20, k: Int = 50,
                      textCol: String = "text"): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // (token, successor-or-null) counts: ONE generate pass over the corpus
    val pc = Materialize.cut(docs.select(words(col(textCol)).as("w"))
      // greatest(..., 0) keeps the slice length total: size(w) = 0 would
      // make it -1 and throw at runtime. Unreachable while the tokenizer
      // maps empty text to [""], but that precondition shouldn't be
      // load-bearing here.
      .select(explode(expr(
        "zip_with(w, concat(slice(w, 2, greatest(size(w) - 1, 0)), array(CAST(NULL AS STRING)))," +
          " (a, b) -> struct(a AS t, b AS nxt))")).as("p"))
      .groupBy(col("p.t").as("t"), col("p.nxt").as("nxt"))
      .agg(count(lit(1)).as("c")))
    val uni = pc.groupBy("t").agg(sum("c").as("c"))
    val nUni = pc.agg(sum("c").as("n_uni"))
    val nBi = pc.filter(col("nxt").isNotNull).agg(sum("c").as("n_bi"))
    val bi = pc.filter(col("nxt").isNotNull).filter(col("c") >= minCount)
      .select(col("t").as("w1"), col("nxt").as("w2"), col("c").as("cxy"))
    // scalar totals are hint-broadcast; the UNIGRAM joins are not — uni is
    // the full vocabulary, which grows with the corpus (Heaps' law organic,
    // linearly under ScaleBench's injective rewrite), the q162 growing-
    // broadcast lesson. AQE still broadcasts a small vocab on its own.
    bi.crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .join(uni.withColumnRenamed("t", "w1").withColumnRenamed("c", "cx"), "w1")
      .join(uni.withColumnRenamed("t", "w2").withColumnRenamed("c", "cy"), "w2")
      .withColumn("num", dec(col("cxy")) * dec(col("n_uni")) * dec(col("n_uni")) *
        dec(lit(1000000L)))
      .withColumn("den", dec(col("n_bi")) * dec(col("cx")) * dec(col("cy")))
      .select(col("w1"), col("w2"), col("cxy"),
        expr("num div den").as("pmi_ratio_ppm"))
      .orderBy(col("pmi_ratio_ppm").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Skip-gram collocations — [[pmiCollocations]] widened to the ±2
    * context window word2vec-style statistics use: pairs come from BOTH
    * the adjacent and the distance-2 successor, canonicalized to the
    * unordered (least, greatest) form so left/right context folds
    * together. Everything derives from ONE corpus scan (the q178 lesson):
    * a single explode produces (token, succ1, succ2) rows that feed the
    * unigram table and both pair offsets; ranking is the same exact
    * integer exp(PMI) ratio num div den with cleared denominators in
    * DECIMAL(38) lanes. */
  def skipgramPmi(docs: DataFrame, minCount: Long = 20, k: Int = 50,
                  textCol: String = "text"): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // ONE corpus scan feeds unigrams + both offsets
    val tri = Materialize.cut(docs.select(words(col(textCol)).as("w"))
      .select(explode(expr(
        """transform(sequence(1, size(w)), i -> struct(
          |  element_at(w, i) AS t,
          |  CASE WHEN i + 1 <= size(w) THEN element_at(w, i + 1) END AS n1,
          |  CASE WHEN i + 2 <= size(w) THEN element_at(w, i + 2) END AS n2))"""
          .stripMargin)).as("p"))
      .select(col("p.t").as("t"), col("p.n1").as("n1"), col("p.n2").as("n2")))
    val uni = tri.groupBy("t").agg(count(lit(1)).as("c"))
    val nUni = broadcast(tri.agg(count(lit(1)).as("n_uni")))
    val pairsRaw = tri.filter(col("n1").isNotNull)
      .select(least(col("t"), col("n1")).as("w1"),
        greatest(col("t"), col("n1")).as("w2"))
      .union(tri.filter(col("n2").isNotNull)
        .select(least(col("t"), col("n2")).as("w1"),
          greatest(col("t"), col("n2")).as("w2")))
      .filter(col("w1") =!= col("w2"))
    val pc = Materialize.cut(pairsRaw.groupBy("w1", "w2").agg(count(lit(1)).as("cxy")))
    val nPairs = broadcast(pc.agg(sum("cxy").as("n_pairs")))
    pc.filter(col("cxy") >= minCount)
      .crossJoin(nUni).crossJoin(nPairs)
      .join(uni.withColumnRenamed("t", "w1").withColumnRenamed("c", "cx"), "w1")
      .join(uni.withColumnRenamed("t", "w2").withColumnRenamed("c", "cy"), "w2")
      .withColumn("num", dec(col("cxy")) * dec(col("n_uni")) * dec(col("n_uni")) *
        dec(lit(1000000L)))
      .withColumn("den", dec(col("n_pairs")) * dec(col("cx")) * dec(col("cy")))
      .select(col("w1"), col("w2"), col("cxy"),
        expr("num div den").as("pmi_ratio_ppm"))
      .orderBy(col("pmi_ratio_ppm").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    * SIGMOD'03, the MOSS scheme; cf. the reference's fingerprint sketches):
    * hash every positional word `n`-gram, slide a window of `w` consecutive
    * hashes, and select each window's MINIMUM — the selected set is the
    * fingerprint. The winnowing guarantee: any shared run of at least
    * `w + n − 1` tokens between two documents contributes at least one
    * COMMON fingerprint, while the expected density of selected positions
    * is only 2/(w+1) — a principled sub-sample for plagiarism/overlap
    * detection, unlike top-k sketches which an adversarial prefix can
    * dominate.
    *
    * Shape: everything is per-row higher-order functions — positional gram
    * hashes, window minima, distinct — with NO explode and NO window
    * shuffle; the only aggregate-free pass is the projection itself, so the
    * operator is embarrassingly parallel and scales with the scan (the
    * canonical winnowing selection is doc-local by definition). Output per
    * doc: fingerprint count, their sum and min (order-independent integer
    * summaries the oracle reproduces hash-exactly; the raw set stays
    * available via [[winnowSelect]] for joins). */
  /** Positional gram hashes (NOT distinct — winnowing is positional). The
    * `when` guard keeps the expression total: sequence(0, −1) silently
    * steps BACKWARDS in Spark (the pmi slice lesson). `w` must be a
    * materialized attribute (the [[shinglesFromWords]] capture trap). */
  def winnowGramHashes(w: Column, n: Int = 3): Column =
    call_function("graft_winnow_hashes", w, lit(n)) // native since round 14

  /** Distinct window-of-`win` minima over a MATERIALIZED hash-array
    * attribute — passing the [[winnowGramHashes]] expression here directly
    * would recompute the whole gram-hash array once per window index
    * (O(grams²) md5 work; the same capture trap, one level up). */
  def winnowMins(hs: Column, win: Int = 4): Column =
    call_function("graft_winnow_mins", hs, lit(win)) // native since round 14

  /** Convenience single-expression winnowing selection for tests/small
    * frames ONLY (inlines the gram array into the window lambda — the
    * documented O(grams²) trap; hot paths stage via [[winnowGramHashes]] →
    * [[winnowMins]] as [[winnowFingerprints]] does). */
  def winnowSelect(w: Column, n: Int = 3, win: Int = 4): Column =
    winnowMins(winnowGramHashes(w, n), win)

  /** Per-doc winnowing fingerprint summary (the gate face): each HOF stage
    * rides its own projection, so every array is a materialized attribute
    * and the md5 pass runs exactly once per gram. */
  def winnowFingerprints(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", n: Int = 3,
                         win: Int = 4): DataFrame =
    docs.select(col(idCol), words(col(textCol)).as("w"))
      .select(col(idCol), winnowGramHashes(col("w"), n).as("hs"))
      .select(col(idCol), winnowMins(col("hs"), win).as("fp"))
      .select(col(idCol), size(col("fp")).cast("long").as("n_fp"),
        coalesce(aggregate(col("fp"), lit(0L), (acc, x) => acc + x), lit(0L))
          .as("sum_fp"),
        array_min(col("fp")).as("min_fp"))

  /** Sorted-neighborhood method (Hernández & Stolfo SIGMOD'95): sort the
    * records within each block by a key and compare each record only to its
    * next `w − 1` neighbors in that order — the classic entity-resolution
    * candidate generator whose cost is O(N log N + N·w) instead of the
    * blocked self-join's O(Σ block²). Implemented as `w − 1` `lead()`
    * columns over a (block, key) window — one shuffle on the block key,
    * per-partition sort, NO self-join — then a Levenshtein verify on the
    * stacked neighbor pairs. Blocks bound the window partitions, so the
    * sort never goes global; feed a duplicate-free key domain (q200 passes
    * DISTINCT names) so the neighbor order is total and deterministic.
    * Output: (name1, name2, dist) candidate pairs with dist <= maxDist. */
  def sortedNeighborhoodPairs(df: DataFrame, blockCol: String, keyCol: String,
                              w: Int = 4, maxDist: Int = 6): DataFrame = {
    val win = Window.partitionBy(blockCol).orderBy(keyCol)
    val nb = (1 until w).map(i => lead(col(keyCol), i).over(win).as(s"nb$i"))
    val staged = df.select(Seq(col(blockCol), col(keyCol)) ++ nb: _*)
    val pairs = (1 until w).map(i =>
      staged.filter(col(s"nb$i").isNotNull)
        .select(col(keyCol).as("name1"), col(s"nb$i").as("name2")))
      .reduce(_ unionByName _)
    pairs
      .withColumn("dist", levenshtein(col("name1"), col("name2")).cast("long"))
      .filter(col("dist") <= maxDist)
      // distinct: a pair seen at offsets i and j (duplicate keys in the
      // window) must count once, like every other candidate generator here
      .distinct()
  }

  /** Exact multi-word PHRASE search over the corpus — the positional
    * inverted-index form: tokens carry their position, the phrase's
    * first word selects candidate (doc, pos) anchors, and each further
    * word is an equi-join on (doc, pos + i). Candidate volume is bounded
    * by the FIRST word's posting list (pick rare-first in a production
    * ranker); no LIKE scan, no per-row regex — the joins are all
    * hash-partitionable by doc. Output: (id, n_hits, first_pos) per
    * document containing the exact consecutive phrase. */
  def phraseSearch(docs: DataFrame, phrase: Seq[String], idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val toks = docs
      .select(col(idCol), posexplode(words(col(textCol))).as(Seq("pos", "w")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("w"))
    val anchor = toks.filter(col("w") === phrase.head)
      .select(col(idCol), col("pos"))
    phrase.zipWithIndex.drop(1).foldLeft(anchor) { case (acc, (word, i)) =>
      acc.join(
        toks.filter(col("w") === word)
          .select(col(idCol), (col("pos") - i).as("pos")),
        Seq(idCol, "pos"))
    }
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"), min("pos").as("first_pos"))
  }

  /** Good–Turing frequency smoothing (Good 1953; the Katz-backoff core):
    * from the unigram count table, the count-of-counts N_r and the
    * smoothed count r* = (r+1)·N_{r+1}/N_r in exact truncated micro
    * units — the "how much probability mass do unseen/rare events
    * deserve" table every count-based LM needs. The r domain (distinct
    * frequencies) is tiny — Zipf puts it at O(√tokens) — so the N_{r+1}
    * lookup is a self-join on that reduced domain, never the corpus.
    * Also emits each r's share of total token mass in ppm; the r with no
    * successor (the max count, typically) reports NULL r*. */
  def goodTuring(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("r"))
    val nr = counts.groupBy("r").agg(count(lit(1)).as("n_r"))
    val total = Window.partitionBy(lit(1)) // |distinct r| rows
    nr.withColumn("mass", col("r") * col("n_r"))
      .withColumn("total_mass", sum("mass").over(total))
      .join(nr.select((col("r") - 1).as("r"), col("n_r").as("n_r1")), Seq("r"), "left")
      .select(col("r"), col("n_r"),
        expr("(mass * 1000000) div total_mass").as("mass_ppm"),
        expr("((r + 1) * n_r1 * 1000000) div n_r").as("r_star_micro"))
  }

  /** Held-out bigram language-model evaluation — the bits-per-token-style
    * quality readout every tokenizer/corpus change gets judged by: a
    * Laplace-smoothed bigram LM is fit on the id-parity train split
    * (cost(a,b) = −ln((c_ab + 1)/(c_a + V)), V = the successor
    * vocabulary), every (class, bigram) cost is rounded ONCE to integer
    * micro-nats (the q213/q290 shared-libm device — after that both
    * engines sum only integers), and the val split is charged per bigram
    * with two fallback tiers: unseen successor under a seen head pays
    * −ln(1/(c_a + V)), a fully unseen head pays −ln(1/V). Output per
    * language: (n_bigrams, cost_sum_micro, per_bigram_cost_micro) —
    * exact integers, order-free.
    *
    * Shape: one successor explode, one (a, b) train reduce, the val side
    * joins the vocabulary-sized cost table — never a per-row subquery. */
  def bigramPerplexity(docs: DataFrame, textCol: String = "text",
                       langCol: String = "lang",
                       idCol: String = "doc_id"): DataFrame = {
    val pairs = docs.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
        words(col(textCol)).as("w"))
      .select(col("doc_id"), col("lang"), explode(expr(
        "zip_with(w, concat(slice(w, 2, greatest(size(w) - 1, 0)), array(CAST(NULL AS STRING)))," +
          " (a, b) -> struct(a AS a, b AS b))")).as("p"))
      .filter(col("p.b").isNotNull)
      .select(col("doc_id"), col("lang"), col("p.a").as("a"), col("p.b").as("b"))
    // feeds heads, vocab, and the cost table
    val cab = Materialize.cut(pairs.filter(col("doc_id") % 10 < 8)
      .groupBy("a", "b").agg(count(lit(1)).as("cab")))
    val ca = cab.groupBy("a").agg(sum("cab").as("ca"))
    val v = broadcast(cab.agg(countDistinct("b").as("v")))
    val costAb = cab.join(ca, Seq("a")).crossJoin(v)
      .select(col("a"), col("b"),
        microNatNeg((col("cab") + 1).cast("double") /
          (col("ca") + col("v")).cast("double")).as("cost_ab"))
    val costA = ca.crossJoin(v)
      .select(col("a"),
        microNatNeg(lit(1.0) / (col("ca") + col("v")).cast("double"))
          .as("cost_a0"))
    val costGlobal = broadcast(v
      .select(microNatNeg(lit(1.0) / col("v").cast("double")).as("cost_00")))
    pairs.filter(col("doc_id") % 10 >= 8)
      .groupBy("lang", "a", "b").agg(count(lit(1)).as("cnt"))
      .join(costAb, Seq("a", "b"), "left")
      .join(costA, Seq("a"), "left")
      .crossJoin(costGlobal)
      .groupBy("lang")
      .agg(sum("cnt").as("n_bigrams"),
        // DECIMAL lane: Σ cnt·cost (micro-nats) passes 2⁶³ near 10¹³
        // val bigrams — the mass must have no corpus-size ceiling
        sum(col("cnt").cast("decimal(38,0)") * coalesce(col("cost_ab"),
          col("cost_a0"), col("cost_00"))).as("cost_sum_d"))
      .select(col("lang"), col("n_bigrams"),
        col("cost_sum_d").cast("long").as("cost_sum_micro"),
        expr("cost_sum_d div n_bigrams").cast("long")
          .as("per_bigram_cost_micro"))
  }

  /** Corpus-level BLEU-2 (Papineni et al. 2002) over the q212 adjacent
    * pairing (even doc = reference, odd doc = candidate): the MT/genai
    * eval twin of ROUGE — candidate-side clipped n-gram precision for
    * n = 1, 2 plus the brevity penalty. Every piece is an exact integer
    * (clipped counts via Σ min(c_cand, c_ref) counted-gram equi-joins,
    * token totals from one scan); the headline score is derived from
    * those SAME integers in one double expression with a single final
    * rounding — bleu2_micro = ⌊10⁶·BP·√(p1·p2) + ½⌋ with
    * BP = min(1, e^(1 − ref/cand)) — so both engines share libm
    * exp/sqrt on identical inputs (the q301 discipline). Zero-mass
    * guards: a corpus with no bigram candidates reports NULL.
    *
    * Shape: one gram pass per order feeds a counted equi-join bounded by
    * shared-gram volume (never per-pair arrays), one row out. */
  def bleuCorpus(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val w = docs.select(col(idCol).as("doc_id"),
      words(col(textCol)).as("w"))
    def counted(n: Int) = w.filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $n), i -> " +
          (1 to n).map(j => s"element_at(w, i + $j)")
            .mkString("concat_ws(' ', ", ", ", ")") + ")")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    def clipTot(n: Int) = {
      val cnt = counted(n)
      val ref = cnt.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("pair_id"), col("g"), col("c").as("cr"))
      val cand = cnt.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") - 1).as("pair_id"), col("g"), col("c").as("cc"))
      val clip = cand.join(ref, Seq("pair_id", "g"))
        .agg(coalesce(sum(least(col("cc"), col("cr"))), lit(0L))
          .as(s"clip$n"))
      val tot = cand.agg(coalesce(sum("cc"), lit(0L)).as(s"tot$n"))
      broadcast(clip).crossJoin(broadcast(tot))
    }
    val lens = w.select((col("doc_id") % 2 === 0).as("is_ref"),
        size(col("w")).cast("long").as("len"))
      .groupBy().pivot("is_ref", Seq(true, false)).sum("len")
      // coalesce the pivot lanes: a corpus with only one doc-id parity
      // pivots the missing side to NULL, but the oracle's
      // sum(CASE ... ELSE 0 END) reads 0 on any non-empty corpus — the
      // two engines must agree on that degenerate edge (round-10 advice)
      .select(coalesce(col("true"), lit(0L)).as("ref_tokens"),
        coalesce(col("false"), lit(0L)).as("cand_tokens"))
    // hint every operand at THIS level too: the inner hints live on the
    // children of each 1-row join, so the outer crossJoins would
    // otherwise plan a CartesianProduct (unknown-size join outputs)
    broadcast(lens).crossJoin(broadcast(clipTot(1)))
      .crossJoin(broadcast(clipTot(2)))
      .select(col("ref_tokens"), col("cand_tokens"),
        col("clip1"), col("tot1"), col("clip2"), col("tot2"),
        when(col("tot1") > 0, expr("(clip1 * 1000000) div tot1"))
          .as("p1_ppm"),
        when(col("tot2") > 0, expr("(clip2 * 1000000) div tot2"))
          .as("p2_ppm"),
        when(col("tot2") > 0 && col("clip1") > 0 && col("clip2") > 0,
          floor(lit(1e6)
            * when(col("cand_tokens") >= col("ref_tokens"), lit(1.0))
                .otherwise(exp(lit(1.0) - col("ref_tokens").cast("double")
                  / col("cand_tokens").cast("double")))
            * sqrt((col("clip1").cast("double") / col("tot1").cast("double"))
              * (col("clip2").cast("double") / col("tot2").cast("double")))
            + lit(0.5)).cast("long")).as("bleu2_micro"))
  }

  /** Interpolated KNESER-NEY bigram evaluation — the production n-gram
    * smoothing (Kneser & Ney 1995; the KenLM default) next to q300's
    * Laplace baseline, with absolute discount D = 1/2 so every
    * probability is an EXACT integer rational (doubled lanes clear the
    * half):
    *
    *   seen (a,b):  p = ((2·c_ab − 1)·B + N1a·N1b) / (2·c_a·B)
    *   cont-only:   p = (N1a·N1b) / (2·c_a·B)       (λ(a)·p_cont(b))
    *   backoff:     p = 1/B                         (uniform over types)
    *
    * where c_a = Σ_b c_ab, N1a = |{b : c_ab>0}| (distinct successors),
    * N1b = |{a : c_ab>0}| (distinct predecessors — the continuation
    * count that makes KN KN), B = |{(a,b) : c_ab>0}| (bigram types).
    * Each val cell's cost is −ln(p) rounded ONCE to integer micro-nats
    * from the same exact num/den pieces in both engines (the q213/q300
    * shared-libm device), so float order cannot move the hash. Trained
    * on the id-parity split, charged on the val split; per language:
    * bigram count, the three tier counts, exact cost mass, per-bigram
    * cost. Integer lanes ride DECIMAL(38,0): the N1a·N1b and
    * (2·c_ab−1)·B products are bounded by B², which passes the BIGINT
    * ceiling near ~10⁹ bigram types — the decimal lane keeps the
    * arithmetic exact (and the final ÷ is the one double) to ~10¹⁹
    * types, far past any corpus (round-8 width-audit precedent: widen
    * BEFORE the cliff). DECIMAL→double and BIGINT→double round to the
    * same nearest double, so the widening is bit-inert at every scale
    * both engines can reach.
    *
    * Shape: one successor explode, one (a,b) train reduce feeding three
    * reduced tables (heads, continuations, the B scalar), the val side
    * joins those — never a per-row subquery, nothing corpus-sized after
    * the reduce. */
  def kneserNey(docs: DataFrame, textCol: String = "text",
                langCol: String = "lang",
                idCol: String = "doc_id"): DataFrame = {
    val pairs = docs.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
        words(col(textCol)).as("w"))
      .select(col("doc_id"), col("lang"), explode(expr(
        "zip_with(w, concat(slice(w, 2, greatest(size(w) - 1, 0)), array(CAST(NULL AS STRING)))," +
          " (a, b) -> struct(a AS a, b AS b))")).as("p"))
      .filter(col("p.b").isNotNull)
      .select(col("doc_id"), col("lang"), col("p.a").as("a"), col("p.b").as("b"))
    // feeds heads, continuations, B, and the val join
    val cab = Materialize.cut(pairs.filter(col("doc_id") % 10 < 8)
      .groupBy("a", "b").agg(count(lit(1)).as("cab")))
    val heads = cab.groupBy("a")
      .agg(sum("cab").as("ca"), count(lit(1)).as("n1a"))
    val conts = cab.groupBy("b").agg(count(lit(1)).as("n1b"))
    val btot = broadcast(cab.agg(count(lit(1)).as("btot")))
    val d38 = "decimal(38,0)"
    val denom = (lit(2L) * col("ca").cast(d38) * col("btot")).cast("double")
    pairs.filter(col("doc_id") % 10 >= 8)
      .groupBy("lang", "a", "b").agg(count(lit(1)).as("cnt"))
      .join(cab, Seq("a", "b"), "left")
      .join(heads, Seq("a"), "left")
      .join(conts, Seq("b"), "left")
      .crossJoin(btot)
      .withColumn("cost",
        when(col("cab").isNotNull, microNatNeg(
          ((lit(2L) * col("cab").cast(d38) - 1L) * col("btot")
            + col("n1a").cast(d38) * col("n1b")).cast("double") / denom))
        .when(col("ca").isNotNull && col("n1b").isNotNull, microNatNeg(
          (col("n1a").cast(d38) * col("n1b")).cast("double") / denom))
        .otherwise(microNatNeg(lit(1.0) / col("btot").cast("double"))))
      .withColumn("tier",
        when(col("cab").isNotNull, lit("seen"))
          .when(col("ca").isNotNull && col("n1b").isNotNull, lit("cont"))
          .otherwise(lit("backoff")))
      .groupBy("lang")
      .agg(sum("cnt").as("n_bigrams"),
        sum(when(col("tier") === "seen", col("cnt")).otherwise(0L)).as("n_seen"),
        sum(when(col("tier") === "cont", col("cnt")).otherwise(0L)).as("n_cont"),
        sum(when(col("tier") === "backoff", col("cnt")).otherwise(0L)).as("n_backoff"),
        // DECIMAL lane: the cost mass has no corpus-size ceiling (q300's law)
        sum(col("cnt").cast("decimal(38,0)") * col("cost")).as("cost_sum_d"))
      .select(col("lang"), col("n_bigrams"), col("n_seen"), col("n_cont"),
        col("n_backoff"),
        col("cost_sum_d").cast("long").as("cost_sum_micro"),
        expr("cost_sum_d div n_bigrams").cast("long")
          .as("per_bigram_cost_micro"))
  }

  /** GPT-2-family PRETOKENIZATION audit: split text with the
    * contraction / letter-run / digit-run / punctuation-run / space-run
    * alternation every BPE-style tokenizer applies before merges, then
    * report per language the total pretoken count, the distinct pretoken
    * count, and an ORDER-INDEPENDENT multiset fingerprint — per distinct
    * (token, count) cell a 60-bit md5-derived hash, XOR-folded (the q190
    * device), so ANY tokenization difference between engines flips the
    * gate even though no token string crosses the boundary.
    *
    * The pattern is deliberately ASCII-explicit (no \\s, no \\p classes)
    * so the Java regex engine and RE2 walk identical automata; both are
    * leftmost-first on alternations. One explode + one (lang, token)
    * reduce + one language reduce. */
  def pretokenizeReport(docs: DataFrame, pattern: String,
                        langCol: String = "lang",
                        textCol: String = "text"): DataFrame =
    docs.select(col(langCol).as("lang"),
        explode(call_function("regexp_extract_all",
          col(textCol), lit(pattern), lit(0))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"),
        expr("""bit_xor(CAST(conv(substring(md5(concat(tok, ':', CAST(c AS STRING))), 1, 15), 16, 10) AS BIGINT))""")
          .as("xor_fp"))

  /** Multinomial naive-Bayes language classifier, trained and evaluated
    * in one job over the id-parity split (doc_id % 10 < 8 trains, the
    * rest evaluates — q268's deterministic-split discipline): per-class
    * Laplace-smoothed token log-likelihoods
    *
    *   lp(ℓ, t) = ln((c_ℓt + 1) / (tc_ℓ + V))
    *
    * are rounded to integer MICRO-NATS once per (class, term) — the q213
    * device: after the per-cell floor(x·10⁶ + 0.5) both engines sum only
    * integers, so float summation ORDER cannot move a single hash bit;
    * ln parity per cell is the same shared-libm assumption q76/q213
    * already gate. Unseen terms take the class's ln(1/(tc+V)) floor; the
    * class prior is the train-doc share. Prediction is argmax over
    * (score desc, class asc) — a total order. Output: the confusion
    * matrix (lang, pred_lang, n_docs).
    *
    * Scale shape: training is ONE (class, term) reduce; scoring joins the
    * val (doc, term) counts against the vocabulary-sized lp table per
    * class (classes are a bounded broadcast), then one per-doc argmax
    * window over |classes| rows per doc. */
  def naiveBayes(docs: DataFrame, labelCol: String = "lang",
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def microNat(x: Column): Column =
      floor(log(x) * lit(1e6) + lit(0.5)).cast("long")
    val toks = docs.select(col(idCol).as("doc_id"),
      col(labelCol).as("lang"), explode(words(col(textCol))).as("term"))
    // feeds class totals, vocab size, and lp rows
    val ct = Materialize.cut(toks.filter(col("doc_id") % 10 < 8)
      .groupBy("lang", "term").agg(count(lit(1)).as("c")))
    val tc = ct.groupBy("lang").agg(sum("c").as("tc"))
    val v = broadcast(ct.agg(countDistinct("term").as("v")))
    val lp = ct.join(tc, Seq("lang")).crossJoin(v)
      .select(col("lang").as("cls"), col("term"),
        microNat((col("c") + 1).cast("double") /
          (col("tc") + col("v")).cast("double")).as("lp"))
    val prior = docs.filter(col(idCol) % 10 < 8)
      .groupBy(col(labelCol).as("lang")).agg(count(lit(1)).as("nd"))
      .withColumn("nall", expr("sum(nd) OVER ()"))
    val classes = broadcast(tc.crossJoin(v)
      .select(col("lang").as("cls"),
        microNat(lit(1.0) / (col("tc") + col("v")).cast("double")).as("lp0"))
      .join(prior.select(col("lang").as("cls"),
        microNat(col("nd").cast("double") / col("nall").cast("double"))
          .as("prior")), Seq("cls")))
    val vd = toks.filter(col("doc_id") % 10 >= 8)
      .groupBy(col("doc_id"), col("lang").as("true_lang"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val scored = vd.crossJoin(classes)
      .join(lp, Seq("cls", "term"), "left")
      .groupBy("doc_id", "true_lang", "cls")
      .agg((sum(col("cnt") * coalesce(col("lp"), col("lp0")))
        + first(col("prior"))).as("score"))
    val wDoc = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("cls"))
    scored.withColumn("rn", row_number().over(wDoc)).filter(col("rn") === 1)
      .groupBy(col("true_lang").as("lang"), col("cls").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the word co-occurrence graph — an edge per ADJACENT token pair
    * (window 1, the q178 successor machinery), symmetrized and
    * deduplicated, then [[GraphOps.pageRank]]'s exact integer-micro
    * damped iteration and a global top-k (TakeOrderedAndProject, rank
    * desc / term asc ties).
    *
    * Scale shape: the corpus is scanned ONCE to generate successor pairs
    * (the edge frame is localCheckpointed — PageRank's per-round
    * nodes/deg/edges reuse must not replay the corpus explode), and every
    * subsequent round runs on the VOCABULARY-sized graph, which Heaps'
    * law grows far slower than the corpus. */
  def textrank(docs: DataFrame, iters: Int = 3, k: Int = 20,
               textCol: String = "text"): DataFrame = {
    val pairs = docs.select(words(col(textCol)).as("w"))
      .select(explode(expr(
        "zip_with(w, concat(slice(w, 2, greatest(size(w) - 1, 0)), array(CAST(NULL AS STRING)))," +
          " (a, b) -> struct(a AS t, b AS nxt))")).as("p"))
      .filter(col("p.nxt").isNotNull && col("p.t") =!= col("p.nxt"))
      .select(col("p.t").as("a"), col("p.nxt").as("b"))
    val sym = Materialize.cut(pairs
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    GraphOps.pageRank(sym, iters, "a", "b")
      .orderBy(col("rank").desc, col("node"))
      .limit(k)
      .select(col("node").as("term"), col("rank").as("rank_micro"))
  }

  /** SentencePiece-style UNIGRAM-LM segmentation (Kudo 2018) — the third
    * tokenizer family next to BPE (q97/q309, merge-rule driven) and
    * WordPiece (q269, greedy longest-match): each piece carries an
    * independent log-probability and a word's tokenization is its
    * MIN-COST (max-likelihood) segmentation, found by Viterbi DP over
    * character positions.
    *
    * Deterministic instantiation, every lane oracle-mirrorable:
    *  - the piece inventory is DATA-DERIVED — every single character of
    *    the word corpus (so every word provably segments; the byte-
    *    fallback guarantee) plus the `topPieces` most frequent substrings
    *    of length 2..`maxPieceLen`, overlap-counted and weighted by word
    *    frequency, ties broken by piece text;
    *  - piece costs are −ln(c_piece / c_total) floored ONCE to integer
    *    micro-nats through the SAME microNatNeg column device the LM
    *    gates prove (q300/q328), so the DP sums and compares only
    *    integers and no float-order effect can cross an engine boundary;
    *  - the DP is ONE codegen'd higher-order aggregate per word — the
    *    accumulator is the dp array of per-prefix min costs; step i
    *    appends min over the ≤ maxPieceLen pieces ending at i (a
    *    vocabulary miss pays an unreachable sentinel). No join, no
    *    shuffle: the whole Viterbi is a projection over the word table.
    *
    * The vocabulary (≤ topPieces + |alphabet| rows) is a bounded steering
    * read inlined as a literal MAP — the BPE-merge-table license; a
    * production 32-64k vocabulary ships the same plan as a broadcast
    * array fold. Gate scope bounds words to length 2..`maxWordLen` and
    * the `topWords` most frequent (so the oracle's exhaustive recursive
    * path replay stays polynomial); the operator itself has no such
    * bound — dp cost is O(len · maxPieceLen) per word. */
  def unigramSegment(docs: DataFrame, textCol: String = "text",
                     topPieces: Int = 150, topWords: Int = 2000,
                     maxPieceLen: Int = 4, maxWordLen: Int = 12): DataFrame = {
    // reduced word domain, consumed three times below
    val words = Materialize.cut(docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")).between(2, maxWordLen))
      .groupBy("w").agg(count(lit(1)).as("cnt")))
    val pos = words.select(col("w"), col("cnt"),
      explode(sequence(lit(1), length(col("w")))).as("s"))
    val multi = pos
      .select(col("w"), col("cnt"), col("s"),
        explode(lit((2 to maxPieceLen).toArray)).as("l"))
      .filter(col("s") + col("l") - 1 <= length(col("w")))
      .select(col("w").substr(col("s"), col("l")).as("piece"), col("cnt"))
      .groupBy("piece").agg(sum("cnt").as("c"))
      .orderBy(col("c").desc, col("piece")).limit(topPieces)
    val chars = pos
      .select(col("w").substr(col("s"), lit(1)).as("piece"), col("cnt"))
      .groupBy("piece").agg(sum("cnt").as("c"))
    val vocab = chars.unionByName(multi)
    // bounded steering reads (≤ topPieces + |alphabet| rows — the BPE
    // merge-table license): total piece mass, then per-piece costs
    // through the gate-proven micro-nat device.
    val total = vocab.agg(sum("c")).collect()(0).getLong(0)
    val costMap: Map[String, Long] = vocab
      .select(col("piece"),
        microNatNeg(col("c").cast("double") / lit(total.toDouble)).as("cost"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vm = typedlit(costMap)
    val Big = 1000000000000L // unreachable: > maxWordLen · any real cost
    val dp = aggregate(
      sequence(lit(1), length(col("w"))),
      array(lit(0L)),
      (acc, i) => {
        val cands = (1 to maxPieceLen).map { l =>
          when(i >= l,
            get(acc, i - lit(l)) + coalesce(
              element_at(vm, col("w").substr(i - lit(l) + lit(1), lit(l))),
              lit(Big)))
            .otherwise(lit(Big))
        }
        concat(acc, array(least(cands: _*)))
      },
      acc => element_at(acc, -1))
    words.orderBy(col("cnt").desc, col("w")).limit(topWords)
      .select(col("w"), col("cnt"), dp.as("cost_micro"))
  }
}
