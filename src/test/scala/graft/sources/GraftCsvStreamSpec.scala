package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Streaming read of the GraftCsv source (MicroBatchStream): file-set
  * offsets, append discovery, checkpoint restart, and the reuse of the
  * batch reader's pruning/pushdown inside micro-batches. */
class GraftCsvStreamSpec extends SparkSpec {
  import spark.implicits._

  private val fmt = "graft.sources.v2.GraftCsv"
  private val sch = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType)))

  test("file-set offsets: appends become new micro-batches, none replayed") {
    val in = java.nio.file.Files.createTempDirectory("gstream-in").toString
    val ck = java.nio.file.Files.createTempDirectory("gstream-ck").toString
    (0 until 50).map(i => (i.toLong % 4, i.toLong)).toDF("k", "v")
      .coalesce(1).write.format(fmt).mode("append").save(in)
    val seen = scala.collection.mutable.ArrayBuffer[Seq[(Long, Long)]]()
    val q = spark.readStream.schema(sch).format(fmt).load(in)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen += b.select("k", "v").as[(Long, Long)].collect().toSeq
        ()
      }.start()
    q.processAllAvailable()
    (50 until 80).map(i => (i.toLong % 4, i.toLong)).toDF("k", "v")
      .coalesce(1).write.format(fmt).mode("append").save(in)
    q.processAllAvailable()
    q.stop()
    val batches = seen.filter(_.nonEmpty)
    assert(batches.size == 2, s"expected 2 data batches, got ${batches.size}")
    assert(batches(0).map(_._2).toSet == (0L until 50L).toSet)
    assert(batches(1).map(_._2).toSet == (50L until 80L).toSet) // no replay
  }

  test("checkpoint restart resumes from the committed file set") {
    val in = java.nio.file.Files.createTempDirectory("grestart-in").toString
    val ck = java.nio.file.Files.createTempDirectory("grestart-ck").toString
    val sink = scala.collection.mutable.ArrayBuffer[Long]()
    def run(): Unit = {
      val q = spark.readStream.schema(sch).format(fmt).load(in)
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          sink ++= b.select("v").as[Long].collect(); ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    (0 until 30).map(i => (i.toLong % 3, i.toLong)).toDF("k", "v")
      .coalesce(1).write.format(fmt).mode("append").save(in)
    run()
    (30 until 45).map(i => (i.toLong % 3, i.toLong)).toDF("k", "v")
      .coalesce(1).write.format(fmt).mode("append").save(in)
    run() // a fresh query on the same checkpoint must read ONLY the append
    assert(sink.sorted == (0L until 45L), s"restart lost or replayed rows: ${sink.size}")
  }

  test("offset JSON round-trips exactly and is CONSTANT-SIZE (checkpoint contract)") {
    import graft.sources.v2.GraftCsvOffset
    Seq(0L, 1L, 42L, 123456789L, Long.MaxValue).foreach { g =>
      val off = GraftCsvOffset(g)
      assert(GraftCsvOffset.fromJson(off.json()) == off, off.json())
    }
    // hand-written checkpoint lines (whitespace-tolerant)
    assert(GraftCsvOffset.fromJson("""{ "gen" : 7 }""") == GraftCsvOffset(7L))
    // the offset never grows with the table: a generation that admitted a
    // million files serializes in the same handful of bytes as gen 1
    assert(GraftCsvOffset(1L).json().length <= 12)
    assert(GraftCsvOffset(1000000000L).json().length <= 20)
    // a legacy (round-12) file-list offset fails LOUDLY with guidance,
    // never silently misreads
    val e = intercept[IllegalStateException] {
      GraftCsvOffset.fromJson("""["a.csv","b.csv"]""")
    }
    assert(e.getMessage.contains("fresh checkpoint"), e.getMessage)
  }

  test("admission control: a staged backlog drains in bounded micro-batches") {
    import graft.sources.v2.GraftCsv
    val in = java.nio.file.Files.createTempDirectory("gadm-in").toString
    val ck = java.nio.file.Files.createTempDirectory("gadm-ck").toString
    // 10-file backlog staged BEFORE the stream starts — the catch-up shape
    (0 until 100).map(i => (i.toLong % 4, i.toLong)).toDF("k", "v")
      .repartition(10).write.format(fmt).mode("append").save(in)
    assert(GraftCsv.listDataFiles(in).size == 10)
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val dataBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.schema(sch).format(fmt)
      .option("maxFilesPerTrigger", "3").load(in)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select("v").as[Long].collect()
        if (rows.nonEmpty) dataBatches.incrementAndGet()
        got ++= rows; ()
      }.start()
    q.processAllAvailable()
    val batches = GraftCsv.batchFiles(q)
    q.stop()
    assert(batches.length >= 4, s"10 files / 3 per trigger → ≥4 batches, got $batches")
    assert(batches.forall(_ <= 3), s"a batch exceeded maxFilesPerTrigger: $batches")
    // each batch is planned several times, yet reports one file count
    assert(batches.length == dataBatches.get() && batches.sum == 10,
      s"${dataBatches.get()} data micro-batches, file counts $batches")
    assert(got.sorted == (0L until 100L), "rate limiting must not lose/replay rows")
  }

  test("a re-planned batch reuses its partitions: each log entry is read once") {
    import graft.sources.v2.{GraftCsv, GraftCsvMicroBatchStream}
    val in = java.nio.file.Files.createTempDirectory("gmemo-in").toString
    val ck = java.nio.file.Files.createTempDirectory("gmemo-ck").toString
    (0 until 20).map(i => (i.toLong % 4, i.toLong)).toDF("k", "v")
      .repartition(2).write.format(fmt).mode("append").save(in)
    val stream = new GraftCsvMicroBatchStream(sch, sch, Array.empty, in, ck, None)
    val start = stream.initialOffset()
    val end = stream.latestOffset(start, stream.getDefaultReadLimit)
    val planned = stream.planInputPartitions(start, end).toSeq
    assert(planned.size == 2)
    // the engine plans a batch several times; the second planning of the
    // same (start, end] must not read the log entry again
    val entry = java.nio.file.Paths.get(ck, "graft_discovery_log", f"${1L}%020d")
    java.nio.file.Files.delete(entry)
    assert(stream.planInputPartitions(start, end).toSeq == planned)
    assert(stream.metrics(java.util.Optional.empty()).get(GraftCsv.BatchFiles) == "2")
    // an empty range plans nothing and reports 0 files
    assert(stream.planInputPartitions(end, end).isEmpty)
    assert(stream.metrics(java.util.Optional.empty()).get(GraftCsv.BatchFiles) == "0")
  }

  test("discovery-log compaction: snapshot written, replay from it stays exact") {
    val in = java.nio.file.Files.createTempDirectory("gcomp-in").toString
    val ck = java.nio.file.Files.createTempDirectory("gcomp-ck").toString
    // 12 files at maxFilesPerTrigger=1 → 12 generations → a .compact
    // snapshot at gen 10
    (0 until 48).map(i => (i.toLong % 4, i.toLong)).toDF("k", "v")
      .repartition(12).write.format(fmt).mode("append").save(in)
    val sink = scala.collection.mutable.ArrayBuffer[Long]()
    def run(): Unit = {
      val q = spark.readStream.schema(sch).format(fmt)
        .option("maxFilesPerTrigger", "1").load(in)
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          sink ++= b.select("v").as[Long].collect(); ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    run()
    // the engine hands the source a per-source checkpoint subdir
    // (ck/sources/<i>), so locate the log by walking the checkpoint
    import scala.jdk.CollectionConverters._
    val names = java.nio.file.Files.walk(java.nio.file.Paths.get(ck))
      .iterator().asScala
      .filter(_.getParent.getFileName.toString == "graft_discovery_log")
      .map(_.getFileName.toString).toSeq
    assert(names.nonEmpty, "discovery log not found under the checkpoint")
    assert(names.exists(_.endsWith(".compact")),
      s"12 generations must leave a compaction snapshot: $names")
    // a FRESH query on the same checkpoint replays through the snapshot +
    // post-snapshot deltas; the append must be the only new data read
    (48 until 60).map(i => (i.toLong % 4, i.toLong)).toDF("k", "v")
      .repartition(3).write.format(fmt).mode("append").save(in)
    run()
    assert(sink.sorted == (0L until 60L), s"snapshot replay lost/replayed rows: ${sink.size}")
  }

  test("admission control survives restart: no skip, no replay, still bounded") {
    import graft.sources.v2.GraftCsv
    val in = java.nio.file.Files.createTempDirectory("gadmr-in").toString
    val ck = java.nio.file.Files.createTempDirectory("gadmr-ck").toString
    (0 until 60).map(i => (i.toLong % 3, i.toLong)).toDF("k", "v")
      .repartition(6).write.format(fmt).mode("append").save(in)
    val sink = scala.collection.mutable.ArrayBuffer[Long]()
    // the file count of each micro-batch the run read
    def run(): Seq[Int] = {
      val q = spark.readStream.schema(sch).format(fmt)
        .option("maxFilesPerTrigger", "2").load(in)
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          sink ++= b.select("v").as[Long].collect(); ()
        }.start()
      q.processAllAvailable()
      try GraftCsv.batchFiles(q) finally q.stop()
    }
    // drains the 6-file backlog in 3 bounded batches
    assert(run().forall(_ <= 2))
    (60 until 80).map(i => (i.toLong % 3, i.toLong)).toDF("k", "v")
      .repartition(4).write.format(fmt).mode("append").save(in)
    // a fresh query on the same checkpoint reads ONLY the append
    assert(run().forall(_ <= 2))
    assert(sink.sorted == (0L until 80L), s"restart lost or replayed rows: ${sink.size}")
  }

  test("a stream over an empty table stays silent until the first file lands") {
    val in = java.nio.file.Files.createTempDirectory("gempty-in").toString
    val ck = java.nio.file.Files.createTempDirectory("gempty-ck").toString
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.schema(sch).format(fmt).load(in)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.select("v").as[Long].collect(); ()
      }.start()
    q.processAllAvailable()
    assert(got.isEmpty, "no files, no rows")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .coalesce(1).write.format(fmt).mode("append").save(in)
    q.processAllAvailable(); q.stop()
    assert(got.sorted == Seq(10L, 20L))
  }

  test("pruning and pushdown apply per micro-batch") {
    val in = java.nio.file.Files.createTempDirectory("gprune-in").toString
    val ck = java.nio.file.Files.createTempDirectory("gprune-ck").toString
    (0 until 40).map(i => (i.toLong % 4, i.toLong)).toDF("k", "v")
      .coalesce(1).write.format(fmt).mode("append").save(in)
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.schema(sch).format(fmt).load(in)
      .filter($"k" === 1L).select("v") // filter pushes, k prunes away
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.as[Long].collect(); ()
      }.start()
    q.processAllAvailable(); q.stop()
    assert(got.sorted == (0 until 40).filter(_ % 4 == 1).map(_.toLong))
  }
}
