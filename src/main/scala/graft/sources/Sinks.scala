package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** File + database sinks/sources (SURVEY.md §2.1 S6, S10-S12, S16).
  *
  * The reference's pipeline stages hand data to each other through files:
  * CSV debug/summary dumps (graph_construction.py:245-281,
  * precompute_poi_reach.py:222-228), a JSON grid file
  * (grid_creation.py:134-138), a one-id-per-line text file
  * (json_to_txt_conversion.py:26-29), and a PROMISED-but-absent database
  * stage (README.md:2). Here each boundary is a thin, typed wrapper over
  * Spark's native writers/readers — partition-parallel by construction —
  * plus the JDBC sink the reference never shipped.
  */
object Sinks {

  // ---------------------------------------------------------------- CSV (S10)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Schema-pinned CSV read: never infer types at scale (inference is an
    * extra full pass over the data). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  // --------------------------------------------------------------- JSON (S11)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  // --------------------------------------------------- text id lists (S12/U3)

  /** One value per line (reference json_to_txt_conversion.py:26-29). */
  def writeTextLines(df: DataFrame, column: String, path: String): Unit =
    df.select(col(column).cast("string").as("value"))
      .write.mode("overwrite").text(path)

  /** Tolerant id-list reader (reference extract_map_from_json.py:18-38):
    * splits lines on commas, trims, drops blanks and '#' comments, dedups
    * keeping FIRST-SEEN order.
    *
    * First-seen order is well-defined for a SINGLE text file (the
    * reference's shape): `monotonically_increasing_id` follows Spark's
    * split packing, so across a multi-file directory "first" follows
    * partition order, not any particular file order — which is itself
    * undefined for a directory. Feed one file when order matters. */
  def readIdLines(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.text(path)
      .withColumn("line", monotonically_increasing_id())
      // posexplode: keep the WITHIN-line position too — ids on one line
      // share the line id, and first-seen order must respect both
      .select(col("line"), posexplode(split(col("value"), ",")).as(Seq("elem", "id")))
      .select(col("line"), col("elem"), trim(col("id")).as("id"))
      .filter(col("id") =!= "" && !col("id").startsWith("#"))
    raw.groupBy("id")
      .agg(min(struct(col("line"), col("elem"))).as("pos"))
      .orderBy("pos")
      .select("id")
  }

  // ----------------------------------------------------------------- ORC (S6)

  /** Columnar sibling of the parquet sink (S6): same self-describing
    * schema, predicate-pushdown and column-pruning story, different
    * container — the interchange format when the downstream consumer is
    * Hive/Trino-shaped. Spark's reader recovers types (including IEEE
    * doubles, bit-exact) without a caller-supplied schema. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  // ----------------------------------------------------------------- XML (S6c)

  /** XML sink/source over Spark 4's NATIVE xml data source (the spark-xml
    * package was folded into core in 4.0) — the interchange format when
    * the downstream consumer is a feed/config system. Values are escaped
    * by the writer, so arbitrary text columns survive; the reader is
    * schema-pinned like [[readCsv]] (inference is an extra pass, and XML
    * carries no types of its own). */
  def writeXml(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("rowTag", "row").xml(path)

  def readXml(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("rowTag", "row").schema(schema).xml(path)

  // --------------------------------------------------------------- JDBC (S16)

  /** The DB-persistence stage the reference promises but never implements
    * (README.md:2) — the declared engine approach supplies it. Plain
    * `df.write.jdbc`: Spark parallelizes one INSERT batch per partition.
    * Tested against in-memory Derby (the JDBC driver shipped with Spark). */
  def writeJdbc(df: DataFrame, url: String, table: String,
                props: Properties = new Properties()): Unit =
    df.write.mode("overwrite").jdbc(url, table, props)

  def readJdbc(spark: SparkSession, url: String, table: String,
               props: Properties = new Properties()): DataFrame =
    spark.read.jdbc(url, table, props)

  // ------------------------------------------------- sharded JDBC (S16 @ scale)

  /** SHARDED JDBC sink — the scale-safe form of [[writeJdbc]]. A single
    * database endpoint is the one stage of the persistence story Spark
    * cannot parallelize away: every INSERT lands in one lock space and
    * one B-tree, so the sink's cost grows super-linearly with data
    * (measured: 186× for 100× data into one embedded Derby — round-11
    * SCALECHECK). Sharding hash-routes each row to one of N independent
    * target databases: N lock spaces, N B-trees each ~1/N deep, N log
    * streams — the aggregate-insert path stays linear while
    * any single row remains findable by re-computing its shard.
    *
    * Routing (round-12 verdict #5 — pid-mod-N inherited whatever the
    * upstream partitioning was, so a coalesced or skewed input could
    * flood one shard): each ROW routes by a mixed hash of its `shardKey`
    * value — shard balance is DATA-determined (uniform for any
    * reasonably-spread key domain, independent of how the input happens
    * to be partitioned), and any single row remains findable by
    * re-computing its shard from the key alone. NULL keys route to
    * shard 0.
    *
    * Still one pass over the data (`foreachPartition`, no repartition):
    * a task lazily opens at most one connection PER SHARD it actually
    * feeds, batches inserts per connection, and commits each as ONE
    * transaction — the same per-partition transactional semantics
    * Spark's native JDBC writer uses (and the same caveat: a task retry
    * after its commit can duplicate rows; a production variant stages
    * into per-attempt tables and promotes on the driver, the GraftCsv
    * two-phase shape). DDL runs once per shard on the driver before any
    * task starts. Supported cell types: int/long/double/string — the
    * validated-source contract.
    *
    * Read-back is [[readJdbcSharded]]: the UNION of all shards — order
    * is not meaningful, exactly as for a multi-partition table. */
  def writeJdbcSharded(df: DataFrame, urls: Seq[String], table: String,
                       shardKey: String): Unit = {
    require(urls.nonEmpty, "writeJdbcSharded needs at least one target URL")
    val schema = df.schema
    val ddlCols = schema.fields.map { f =>
      val t = f.dataType match {
        case org.apache.spark.sql.types.LongType => "BIGINT"
        case org.apache.spark.sql.types.IntegerType => "INTEGER"
        case org.apache.spark.sql.types.DoubleType => "DOUBLE"
        case org.apache.spark.sql.types.StringType => "VARCHAR(4000)"
        case other => throw new IllegalArgumentException(
          s"writeJdbcSharded: unsupported type $other for column ${f.name}")
      }
      s"${f.name} $t"
    }.mkString(", ")
    // Provision shards CONCURRENTLY (round-15): with `;create=true` URLs
    // each first connection CREATES its database — measured ~0.7 s apiece
    // in embedded Derby, and the serial loop made 8 shards cost ~5.6 s of
    // pure driver wall (the bench joblog's maxGap). The creations are
    // independent endpoints — provisioning them in parallel is exactly
    // what a production sharded sink does; per-shard DDL is unchanged.
    val ddlErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ddlThreads = urls.map { url =>
      val t = new Thread(() => {
        try {
          val conn = java.sql.DriverManager.getConnection(url)
          try {
            val st = conn.createStatement()
            try st.executeUpdate(s"DROP TABLE $table")
            catch { case _: java.sql.SQLException => () } // first generation
            st.executeUpdate(s"CREATE TABLE $table ($ddlCols)")
            st.close()
          } finally conn.close()
        } catch { case e: Throwable => ddlErrors.add(e) }
      }, s"graft-jdbc-ddl-${url.hashCode}")
      t.start(); t
    }
    ddlThreads.foreach(_.join())
    if (!ddlErrors.isEmpty) throw ddlErrors.peek()
    val n = urls.length
    val urlsArr = urls.toArray
    val insertSql =
      s"INSERT INTO $table VALUES (${Seq.fill(schema.length)("?").mkString(",")})"
    val types = schema.fields.map(_.dataType)
    val ki = schema.fieldNames.indexOf(shardKey)
    require(ki >= 0,
      s"writeJdbcSharded: shard key '$shardKey' not in ${schema.simpleString}")
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        // per-shard lazy connection + statement + open-batch counter
        val open = new java.util.HashMap[Int, (java.sql.Connection, java.sql.PreparedStatement)]()
        val inBatch = new java.util.HashMap[Int, Integer]()
        def shardOf(row: org.apache.spark.sql.Row): Int =
          if (row.isNullAt(ki)) 0
          else {
            // splitmix64 finalizer over the key's canonical long/hash —
            // sequential or clustered key domains still spread evenly
            val raw: Long = types(ki) match {
              case org.apache.spark.sql.types.LongType => row.getLong(ki)
              case org.apache.spark.sql.types.IntegerType => row.getInt(ki).toLong
              case org.apache.spark.sql.types.DoubleType =>
                java.lang.Double.doubleToLongBits(row.getDouble(ki))
              case _ => row.getString(ki).hashCode.toLong
            }
            var z = raw + 0x9E3779B97F4A7C15L
            z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
            z = z ^ (z >>> 31)
            java.lang.Math.floorMod(z, n.toLong).toInt
          }
        try {
          rows.foreach { row =>
            val s = shardOf(row)
            var entry = open.get(s)
            if (entry == null) {
              val c = java.sql.DriverManager.getConnection(urlsArr(s))
              c.setAutoCommit(false)
              entry = (c, c.prepareStatement(insertSql))
              open.put(s, entry)
              inBatch.put(s, 0)
            }
            val ps = entry._2
            var i = 0
            while (i < types.length) {
              if (row.isNullAt(i)) ps.setObject(i + 1, null)
              else types(i) match {
                case org.apache.spark.sql.types.LongType => ps.setLong(i + 1, row.getLong(i))
                case org.apache.spark.sql.types.IntegerType => ps.setInt(i + 1, row.getInt(i))
                case org.apache.spark.sql.types.DoubleType => ps.setDouble(i + 1, row.getDouble(i))
                case _ => ps.setString(i + 1, row.getString(i))
              }
              i += 1
            }
            ps.addBatch()
            val b = inBatch.get(s) + 1
            if (b == 1000) { ps.executeBatch(); inBatch.put(s, 0) }
            else inBatch.put(s, b)
          }
          open.forEach { (s, entry) =>
            if (inBatch.get(s) > 0) entry._2.executeBatch()
            entry._2.close()
            entry._1.commit()
          }
        } finally open.forEach((_, entry) => entry._1.close())
      }
    }
  }

  /** Union read over every shard of a [[writeJdbcSharded]] table. Each
    * shard contributes its own JDBC scan (partition-parallel on a real
    * cluster); no merge key is needed because shard routing carries no
    * ordering contract — same as any multi-partition table. */
  def readJdbcSharded(spark: SparkSession, urls: Seq[String], table: String,
                      props: Properties = new Properties()): DataFrame =
    urls.map(u => spark.read.jdbc(u, table, props)).reduce(_.unionByName(_))
}
