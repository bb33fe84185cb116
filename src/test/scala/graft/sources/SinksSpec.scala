package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.SparkSpec

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").resolve("out").toString

  private lazy val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, -1.0))
    .toDF("id", "tag", "x")

  test("CSV round-trip (S10)") {
    val p = tmp("csv")
    Sinks.writeCsv(df, p)
    val schema = StructType(Seq(StructField("id", LongType), StructField("tag", StringType),
      StructField("x", DoubleType)))
    val back = Sinks.readCsv(spark, p, schema)
    assert(back.as[(Long, Option[String], Double)].collect().toSet ==
      df.as[(Long, Option[String], Double)].collect().toSet)
  }

  test("JSON round-trip (S11)") {
    val p = tmp("json")
    Sinks.writeJson(df, p)
    val back = Sinks.readJson(spark, p, df.schema)
    assert(back.as[(Long, Option[String], Double)].collect().toSet ==
      df.as[(Long, Option[String], Double)].collect().toSet)
  }

  test("ORC round-trip is schema- and value-exact without a caller schema (S6)") {
    val p = tmp("orc")
    Sinks.writeOrc(df, p)
    val back = Sinks.readOrc(spark, p)
    // self-describing: names+types recovered (nullability relaxes to true
    // on any file-format read — parquet behaves identically)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.as[(Long, Option[String], Double)].collect().toSet ==
      df.as[(Long, Option[String], Double)].collect().toSet)
  }

  test("XML round-trip with escaping-hostile strings (S6c)") {
    val p = tmp("xml")
    // markup metacharacters must survive the writer's escaping
    val hostile = Seq((1L, "<b>&amp;", 1.5), (2L, "\"quoted\" 'text'", 2.5),
      (3L, null, -1.0)).toDF("id", "tag", "x")
    Sinks.writeXml(hostile, p)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("tag", StringType), StructField("x", DoubleType)))
    val back = Sinks.readXml(spark, p, schema)
    assert(back.as[(Long, Option[String], Double)].collect().toSet ==
      hostile.as[(Long, Option[String], Double)].collect().toSet)
  }

  test("text id list round-trip preserves first-seen order, skips junk (S12/U3)") {
    val p = Files.createTempDirectory("graft-ids").resolve("ids").toString
    // write a messy file by hand: comments, commas, dupes, blanks
    val raw = Seq("r0_c1, r0_c2", "# comment", "", "r0_c2", "  r1_c0  ", "r0_c1")
    raw.toDF("value").coalesce(1).write.text(p)
    val got = Sinks.readIdLines(spark, p).as[String].collect().toSeq
    assert(got == Seq("r0_c1", "r0_c2", "r1_c0"))
  }

  test("JDBC round-trip against in-memory Derby (S16)") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    Sinks.writeJdbc(df, url, "reach_summary")
    val back = Sinks.readJdbc(spark, url, "reach_summary")
    assert(back.as[(Long, Option[String], Double)].collect().toSet ==
      df.as[(Long, Option[String], Double)].collect().toSet)
  }

  test("sharded JDBC key routing: deterministic, null-safe, partitioning-independent") {
    val urls = (0 until 4).map(i => s"jdbc:derby:memory:gshard$i;create=true")
    val rows = (0 until 400).map(i =>
      (if (i == 7) None else Some(i.toLong), s"v$i"))
    val src = rows.toDF("k", "v")
    // ONE input partition — pid routing would put everything in shard 0;
    // key routing must still spread by hash(k)
    Sinks.writeJdbcSharded(src.coalesce(1), urls, "t_keyed", shardKey = "k")
    val perShard = urls.map(u => Sinks.readJdbc(spark, u, "t_keyed")
      .as[(Option[Long], String)].collect().toSet)
    assert(perShard.count(_.nonEmpty) == 4, "every shard must be fed from one partition")
    val mean = rows.size.toDouble / urls.size
    assert(perShard.map(_.size).max <= 1.6 * mean, s"imbalance: ${perShard.map(_.size)}")
    // nothing lost or duplicated, the union equals the source, and the
    // NULL key routed to shard 0 (the documented contract)
    assert(perShard.map(_.size).sum == rows.size)
    assert(perShard.reduce(_ ++ _) == rows.toSet)
    assert(perShard(0).exists(_._1.isEmpty), "NULL key must route to shard 0")
    // DETERMINISTIC routing: the same key lands in the same shard on a
    // re-write with a DIFFERENT upstream partitioning — any single row
    // stays findable by recomputing its shard from the key alone
    Sinks.writeJdbcSharded(src.repartition(8), urls, "t_keyed2", shardKey = "k")
    val perShard2 = urls.map(u => Sinks.readJdbc(spark, u, "t_keyed2")
      .as[(Option[Long], String)].collect().toSet)
    assert(perShard2 == perShard, "routing must depend on the key, not the partitioning")
  }
}
