package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark-owned input staging.
  *
  * The engine's tables (a TPC-H-like star schema plus `events`,
  * `documents` and `embeddings`) are generated here from a fixed seed with
  * Spark's built-in functions only, in a plain session without the engine's
  * extensions, so no engine change can alter the bytes the benchmark reads.
  * Every column is a pure function of its row key and the seed (xxhash64),
  * which makes the output independent of partitioning and task order.
  *
  * The generated shapes keep the invariants the engine derives from:
  * dense customer and part keys (node ids are arithmetic on them), foreign
  * keys inside their parent's domain, and a document corpus with planted
  * exact duplicates, near duplicates, boilerplate spam and low-entropy
  * padding so every curation stage has something to remove.
  */
object Stage {
  val Seed = 42L
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Uniform integer in [0, n) drawn from (seed, salt, key). */
  private def draw(key: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(Seed), lit(salt), key), lit(n))

  private def pick(vals: Seq[String], key: Column, salt: Int): Column =
    element_at(array(vals.map(lit): _*), (draw(key, salt, vals.size) + 1).cast("int"))

  private def cents(key: Column, salt: Int, lo: Long, hi: Long): Column =
    ((draw(key, salt, hi - lo) + lo) / 100.0).cast("double")

  val Words: Seq[String] = Seq("the", "a", "data", "spark", "join", "table", "row", "column",
    "filter", "group", "sort", "merge", "hash", "scan", "window", "stream", "batch",
    "query", "order", "line", "part", "customer", "key", "value", "agg", "small", "big",
    "fast", "slow", "vector")

  /** Base tables at scale factor `sf` (lineitem ≈ 6M·sf rows). */
  def generate(spark: SparkSession, sf: Double): Map[String, DataFrame] = {
    def n(base: Double, floor: Long): Long = math.max(floor, math.round(base * sf))
    val nCust = n(150000, 150)
    val nSupp = n(10000, 10)
    val nPart = n(200000, 200)
    val nOrd = n(1500000, 1500)
    val nEvt = n(1000000, 1000)
    val nUsers = math.max(10L, nEvt / 67)
    val nDoc = n(50000, 50)
    val nVec = n(20000, 20)
    val id = col("id")
    // whole days after 1995-01-01, as timestamps
    def day(key: Column, salt: Int): Column =
      timestamp_seconds(lit(788918400L) + draw(key, salt, 2404) * 86400L)

    val region = spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name"))
    val nation = spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"), (id % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      draw(id, 1, 25).cast("int").as("c_nationkey"),
      cents(id, 2, -99999, 999999).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id, 3).as("c_mktsegment"))
    val supplier = spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      draw(id, 4, 25).cast("int").as("s_nationkey"),
      cents(id, 5, -99999, 999999).as("s_acctbal"))
    val part = spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick(Seq("red", "blue", "green", "small", "large", "shiny", "matte"), id, 6),
        pick(Seq("widget", "bolt", "ring", "gear", "spring", "valve", "panel"), id, 7)).as("p_name"),
      concat(lit("Brand#"), (draw(id, 8, 25) + 1).cast("string")).as("p_brand"),
      pick(Seq("ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"), id, 9).as("p_type"),
      (draw(id, 10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice"))
    val orders = spark.range(nOrd).select(id.as("o_orderkey"),
      draw(id, 11, nCust).as("o_custkey"),
      pick(Seq("F", "O", "P"), id, 12).as("o_orderstatus"),
      cents(id, 13, 100000, 50000000).as("o_totalprice"),
      day(id, 14).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id, 15).as("o_orderpriority"))
    // four lines per order on average: line l of order o exists when its
    // draw clears the threshold, so the key set is a pure function of o
    val lineitem = spark.range(nOrd).select(id.as("o"), explode(sequence(lit(1), lit(7))).as("ln"))
      .where(draw(col("o") * 8 + col("ln"), 16, 7) < 4 || col("ln") === 1)
      .select(col("o").as("l_orderkey"),
        draw(col("o") * 8 + col("ln"), 17, nPart).as("l_partkey"),
        draw(col("o") * 8 + col("ln"), 18, nSupp).as("l_suppkey"),
        col("ln").cast("int").as("l_linenumber"),
        (draw(col("o") * 8 + col("ln"), 19, 50) + 1).cast("double").as("l_quantity"),
        cents(col("o") * 8 + col("ln"), 20, 90000, 10500000).as("l_extendedprice"),
        (draw(col("o") * 8 + col("ln"), 21, 11) / 100.0).as("l_discount"),
        (draw(col("o") * 8 + col("ln"), 22, 9) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), col("o") * 8 + col("ln"), 23).as("l_returnflag"),
        pick(Seq("F", "O"), col("o") * 8 + col("ln"), 24).as("l_linestatus"),
        day(col("o") * 8 + col("ln"), 25).as("l_shipdate"))
    val tsMicros = lit(1704067200000000L) + id * lit(25920000L) + draw(id, 26, 25920000L)
    val events = spark.range(nEvt).select(id.as("event_id"),
      timestamp_micros(tsMicros).as("ts"),
      draw(id, 27, nUsers).as("user_id"),
      pick(Seq("click", "signup", "error", "view", "purchase"), id, 28).as("event_type"),
      (draw(id, 29, 2500) / 100.0).as("value"),
      format_string("{\"k\": %d}", draw(id, 30, 100)).as("props"))
    val documents = spark.range(nDoc).select(id.as("doc_id"), docText(id).as("text"),
      pick(Seq("en", "en", "en", "zh", "es", "fr", "de"), id, 31).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // ten cluster centres plus small per-vector noise, 64 dimensions
    val dims = sequence(lit(1), lit(64))
    val embeddings = spark.range(nVec).select(id.as("vec_id"),
      draw(id, 32, 10).cast("int").as("label"))
      .select(col("vec_id"),
        transform(dims, i => (
          (pmod(xxhash64(lit(Seed), lit(33), col("label"), i), lit(2001L)) - 1000) / 4000.0 +
            (pmod(xxhash64(lit(Seed), lit(34), col("vec_id"), i), lit(2001L)) - 1000) / 20000.0)
          .cast("float")).as("embedding"),
        col("label"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }

  /** Document text: 10-120 words from [[Words]], with planted structure —
    * every 50th document repeats document id−7 verbatim (exact dup), every
    * 23rd is document id−11 with its first and last words replaced (near
    * dup), every 97th is repetitive spam, every 131st is low-entropy
    * padding. */
  private def docText(id: Column): Column = {
    def words(key: Column): Column = {
      val len = draw(key, 35, 111) + 10
      array_join(transform(sequence(lit(1L), len), i =>
        element_at(array(Words.map(lit): _*), (pmod(xxhash64(lit(Seed), lit(36), key, i), lit(Words.size.toLong)) + 1).cast("int"))), " ")
    }
    val base = words(id)
    val near = words(id - 11)
    val nearEdited = concat(lit("dup "), regexp_replace(near, "\\S+$", "dup"))
    when(id % 50 === 49, words(id - 7))
      .when(id % 23 === 22, nearEdited)
      .when(id % 97 === 96, array_join(array_repeat(lit("buy now cheap"), 12), " "))
      .when(id % 131 === 130, array_join(array_repeat(lit("aaaa"), 30), " "))
      .otherwise(base)
  }

  /** Order-independent content digest of a table: row count and the sum of
    * per-row xxhash64 over every column, reduced modulo a 32-bit prime so
    * the sum cannot overflow. */
  def digest(df: DataFrame): (Long, Long) = {
    val h = pmod(xxhash64(df.columns.map(col): _*), lit(4294967291L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Writes every table at scale factor `sf` under `out` and returns their digests. */
  def write(spark: SparkSession, sf: Double, out: String): Seq[(String, Long, Long)] = {
    val tables = generate(spark, sf)
    Tables.map { t =>
      // one file per table keeps the file layout independent of the core count
      tables(t).coalesce(1).write.mode("overwrite").parquet(s"$out/$t.parquet")
      val (n, h) = digest(spark.read.parquet(s"$out/$t.parquet"))
      (t, n, h)
    }
  }
}
