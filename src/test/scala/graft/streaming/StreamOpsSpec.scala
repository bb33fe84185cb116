package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, unix_micros}

import graft.SparkSpec

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  private val batch1 = Seq(
    Event(1, ts(1), 10, "click", 1.0),
    Event(2, ts(2), 10, "click", 2.0),
    Event(3, ts(11), 11, "view", 3.0),
    Event(4, ts(12), 10, "click", 4.0))

  test("windowedCounts (complete mode) equals the batch twin") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("wc_complete")
      .outputMode("complete").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      val streamed = spark.table("wc_complete")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      val batch = StreamOps.windowedCountsBatch(batch1.toDF())
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(streamed == batch)
      assert(batch.map(_._1).size == 2) // two 10-minute windows
    } finally q.stop()
  }

  test("windowedCounts (append mode): watermark finalizes old windows") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("wc_append")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      // nothing final yet: watermark (max ts - 20 min) is before window ends
      assert(spark.table("wc_append").count() == 0)
      mem.addData(Event(99, ts(59), 12, "late-driver", 0.0))
      q.processAllAvailable()
      val rows = spark.table("wc_append")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      // watermark now 00:39 -> both 00:00 and 00:10 windows are closed
      assert(rows == Set(
        (ts(0), "click", 2L, 3.0),
        (ts(10), "view", 1L, 3.0),
        (ts(10), "click", 1L, 4.0)))
    } finally q.stop()
  }

  test("userRunningTotals accumulates state across micro-batches") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Event]
    // idleTimeout=None: with a timeout registered the engine schedules
    // wake-up batches forever and processAllAvailable never settles
    val q = StreamOps.userRunningTotals(mem.toDS(), idleTimeout = None)
      .writeStream.format("memory").queryName("totals")
      .outputMode("update").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(Event(5, ts(20), 10, "click", 10.0))
      q.processAllAvailable()
      val last = spark.table("totals").as[UserTotal].collect()
        .groupBy(_.user_id).map { case (u, rows) => u -> rows.maxBy(_.n_events) }
      assert(last(10L) == UserTotal(10L, 4L, 17.0))
      assert(last(11L) == UserTotal(11L, 1L, 3.0))
    } finally q.stop()
  }

  test("file-source stream (readStream) produces the same windows as batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    batch1.toDF().coalesce(1).write.mode("overwrite").json(s"$dir/in")
    val stream = spark.readStream
      .schema(batch1.toDF().schema)
      .json(s"$dir/in")
    val q = StreamOps.windowedCounts(stream)
      .writeStream.format("memory").queryName("wc_file")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("wc_file")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      val batch = StreamOps.windowedCountsBatch(batch1.toDF())
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("dedupStream drops repeated event ids across batches") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(Event(1, ts(3), 10, "click", 1.0), Event(6, ts(4), 12, "view", 6.0))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").as[Long].collect().toSeq.sorted
      assert(ids == Seq(1L, 2L, 3L, 4L, 6L))
    } finally q.stop()
  }

  test("stream-static broadcast enrichment equals the batch join") {
    implicit val ctx = spark.sqlContext
    // the bread-and-butter streaming shape: enrich a stream against a
    // static dimension — planned as a broadcast join per micro-batch,
    // no state, results identical to the batch join of the same rows
    val dim = Seq(("click", "engagement"), ("view", "engagement"),
      ("purchase", "revenue"), ("signup", "growth"), ("error", "ops"))
      .toDF("event_type", "family")
    val mem = MemoryStream[Event]
    val q = mem.toDF()
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("event_type"))
      .select("event_id", "family")
      .writeStream.format("memory").queryName("ss_enrich")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      val streamed = spark.table("ss_enrich").as[(Long, String)].collect().toSet
      val batch = batch1.toDF().join(dim, Seq("event_type"))
        .select("event_id", "family").as[(Long, String)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("dedupBoundedStream: dups drop within the horizon, state evicts past it") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.dedupBoundedStream(mem.toDF(), horizon = "10 minutes")
      .writeStream.format("memory").queryName("dedup_bounded")
      .outputMode("append").start()
    try {
      mem.addData(Event(1, ts(1), 10, "click", 1.0))
      q.processAllAvailable()
      // in-horizon duplicate: dropped
      mem.addData(Event(1, ts(5), 10, "click", 1.0))
      q.processAllAvailable()
      // advance the watermark far past id 1's state (59 - 10 > 1)...
      mem.addData(Event(2, ts(59), 11, "view", 2.0))
      q.processAllAvailable()
      // ...then REPLAY id 1: its state was evicted, so it re-emits — the
      // documented within-horizon contract, pinned here as semantics
      mem.addData(Event(1, ts(58), 10, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("dedup_bounded").select("event_id")
        .as[Long].collect().toSeq
      assert(got.sorted == Seq(1L, 1L, 2L), s"got $got")
    } finally q.stop()
  }

  test("sessionCloseTws: event-time timers close sessions when the watermark passes") {
    implicit val ctx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Event]
    val q = StreamOps.sessionCloseTws(mem.toDS(), gap = "10 minutes")
      .writeStream.format("memory").queryName("tws_sessions")
      .outputMode("append").start()
    def closed(): Seq[(Long, Long, Long)] =
      spark.table("tws_sessions").as[SessionClosed].collect()
        .map(c => (c.user_id, c.n_events, c.total_cents)).toSeq
    try {
      // user 10's session: events at minutes 1 and 3 → timer armed at 13
      mem.addData(Event(1, ts(1), 10, "click", 1.0),
        Event(2, ts(3), 10, "click", 2.0), Event(3, ts(0), 99, "view", 0.5))
      q.processAllAvailable()
      assert(closed().isEmpty) // watermark still at minute 3
      // sentinel advances the watermark past 13 → user 10's session closes
      mem.addData(Event(4, ts(30), 99, "view", 0.5))
      q.processAllAvailable()
      assert(closed().sorted == Seq((10L, 2L, 300L)))
      // user 10 reopens (timer re-arms at 41); sentinel at 60 closes it
      mem.addData(Event(5, ts(31), 10, "click", 4.0))
      q.processAllAvailable()
      mem.addData(Event(6, ts(59), 99, "view", 0.5))
      q.processAllAvailable()
      assert(closed().sorted == Seq((10L, 1L, 400L), (10L, 2L, 300L)))
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("cleanDocStream: content dedup across batches + token quality gate") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val long1 = "w " * 24 + "tail" // 25 tokens: passes the gate
    val q = StreamOps.cleanDocStream(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("doc_clean")
      .outputMode("append").start()
    try {
      mem.addData((1L, long1), (2L, "too short"))
      q.processAllAvailable()
      // a later-batch content duplicate of doc 1 must NOT re-emit
      mem.addData((3L, long1), (4L, "x " * 30 + "y"))
      q.processAllAvailable()
      val got = spark.table("doc_clean").select("doc_id").as[Long].collect().toSeq.sorted
      assert(got == Seq(1L, 4L), s"got $got")
    } finally q.stop()
  }

  test("sessionizeStream (append): watermark closes sessions; late events respected") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Event]
    // user 10: events at min 1,2 then min 12 → 5-minute gap splits into
    // two sessions; user 11 has one singleton session
    val q = StreamOps.sessionizeStream(mem.toDF(), gap = "5 minutes",
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      // advance the watermark far past every session end + gap
      mem.addData(Event(99, ts(59), 12, "sentinel", 0.0))
      q.processAllAvailable()
      val got = spark.table("sess")
        .select("user_id", "n_events", "first_ts", "last_ts", "sum_cents")
        .as[(Long, Long, Timestamp, Timestamp, Long)].collect().toSet
      assert(got.contains((10L, 2L, ts(1), ts(2), 300L))) // 1.0+2.0 → 300 cents
      assert(got.contains((10L, 1L, ts(12), ts(12), 400L)))
      assert(got.contains((11L, 1L, ts(11), ts(11), 300L)))
    } finally q.stop()
  }

  test("attributionJoin (stream-stream): joins views in the lookback, drops outside") {
    implicit val ctx = spark.sqlContext
    val views = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.attributionJoin(purchases.toDF(), views.toDF(),
        lookback = "15 minutes")
      .writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    try {
      // user 10: views at min 1, 2, 40; purchase at min 12 → views 1,2
      // are inside the 15-minute lookback, view 40 is in the future
      views.addData(
        Event(1, ts(1), 10, "view", 0.0),
        Event(2, ts(2), 10, "view", 0.0),
        Event(3, ts(40), 10, "view", 0.0),
        Event(4, ts(2), 11, "view", 0.0)) // other user: never joins
      purchases.addData(Event(50, ts(12), 10, "purchase", 9.99))
      q.processAllAvailable()
      val got = spark.table("attr")
        .select("purchase_id", "view_id", "purchase_cents")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((50L, 1L, 999L), (50L, 2L, 999L)))
    } finally q.stop()
  }

  test("attributionJoin on bounded frames equals the batch join") {
    val rnd = new scala.util.Random(11)
    val evs = (1 to 200).map { i =>
      Event(i.toLong, new Timestamp(1700000000000L + rnd.nextInt(3600) * 1000L),
        (rnd.nextInt(5) + 1).toLong,
        if (rnd.nextBoolean()) "view" else "purchase", rnd.nextInt(50) / 10.0)
    }
    val df = evs.toDF()
    val streamedShape = StreamOps.attributionJoin(
        df.filter(col("event_type") === "purchase"),
        df.filter(col("event_type") === "view"), lookback = "10 minutes")
      .select("purchase_id", "view_id").as[(Long, Long)].collect().toSet
    // independent brute force
    val vs = evs.filter(_.event_type == "view")
    val want = (for {
      p <- evs.filter(_.event_type == "purchase")
      v <- vs if v.user_id == p.user_id &&
        v.ts.getTime <= p.ts.getTime && v.ts.getTime >= p.ts.getTime - 600000L
    } yield (p.event_id, v.event_id)).toSet
    assert(streamedShape == want)
  }

  test("attributionJoinOuter: unmatched purchase emits its null-padded row on eviction") {
    implicit val ctx = spark.sqlContext
    val views = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.attributionJoinOuter(purchases.toDF(), views.toDF(),
        lookback = "15 minutes")
      .writeStream.format("memory").queryName("attr_outer")
      .outputMode("append").start()
    try {
      views.addData(Event(1, ts(1), 10, "view", 0.0))
      purchases.addData(
        Event(50, ts(12), 10, "purchase", 9.99), // matches view 1
        Event(51, ts(12), 99, "purchase", 5.0))  // no view for user 99
      q.processAllAvailable()
      val matched = spark.table("attr_outer")
        .select("purchase_id", "view_id").as[(Long, Long)].collect().toSet
      // inner rows flow immediately; the outer row CANNOT have emitted yet
      // (a matching view could still arrive inside the watermark)
      assert(matched == Set((50L, 1L)), s"premature outer emission: $matched")
      // far-future rows push both watermarks past purchase 51's window →
      // its join state evicts and the null-padded row emits in the
      // watermark-advance batch
      views.addData(Event(2, ts(600), 10, "view", 0.0))
      purchases.addData(Event(52, ts(600), 10, "purchase", 1.0))
      q.processAllAvailable()
      val after = spark.table("attr_outer")
        .select("purchase_id", "view_id").as[(Long, Long)].collect().toSet
      assert(after == Set((50L, 1L), (51L, -1L), (52L, 2L)), after.toString)
    } finally q.stop()
  }

  test("attributionJoinOuter on bounded frames equals the batch left join") {
    val rnd = new scala.util.Random(12)
    val evs = (1 to 200).map { i =>
      Event(i.toLong, new Timestamp(1700000000000L + rnd.nextInt(3600) * 1000L),
        (rnd.nextInt(5) + 1).toLong,
        if (rnd.nextBoolean()) "view" else "purchase", rnd.nextInt(50) / 10.0)
    }
    val df = evs.toDF()
    val got = StreamOps.attributionJoinOuter(
        df.filter(col("event_type") === "purchase"),
        df.filter(col("event_type") === "view"), lookback = "10 minutes")
      .select("purchase_id", "view_id").as[(Long, Long)].collect().toSet
    val vs = evs.filter(_.event_type == "view")
    val want = evs.filter(_.event_type == "purchase").flatMap { p =>
      val ms = vs.filter(v => v.user_id == p.user_id &&
        v.ts.getTime <= p.ts.getTime && v.ts.getTime >= p.ts.getTime - 600000L)
      if (ms.isEmpty) Seq((p.event_id, -1L))
      else ms.map(v => (p.event_id, v.event_id))
    }.toSet
    assert(got == want)
  }

  test("sessionizeStream on a bounded frame equals EventOps.sessionize(gap − 1µs)") {
    // random events over a handful of users; the strict-< vs <= boundary
    // is bridged by the documented gap − 1 µs equivalence
    val rnd = new scala.util.Random(7)
    val evs = (1 to 120).map { i =>
      Event(i.toLong, new Timestamp(1700000000000L + rnd.nextInt(7200) * 1000L),
        (rnd.nextInt(4) + 1).toLong, "e", rnd.nextInt(100) / 10.0)
    }
    val viaSessionWindow = StreamOps.sessionizeStream(evs.toDF(), gap = "10 minutes")
      .select(col("user_id"), unix_micros(col("first_ts")).as("start_us"),
        col("n_events"), col("sum_cents"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = graft.operators.EventOps.sessionize(
        evs.toDF()
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id").as("id"), col("value")),
        key = "user_id", gapUs = 10L * 60 * 1000000 - 1)
      .select(col("user_id"), col("start_us"), col("n_events"), col("sum_cents"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaSessionWindow == batch)
  }

  test("cdcSnapshotStream converges to the batch snapshot across out-of-order batches") {
    implicit val ctx = spark.sqlContext
    val feed = Seq(
      Change(1, 0, 100, "u", 10), Change(1, 1, 200, "u", 20),
      Change(2, 2, 100, "u", 30), Change(2, 3, 200, "d", 0),
      Change(3, 4, 100, "d", 0), Change(3, 5, 200, "u", 40),
      Change(4, 6, 100, "u", 50), Change(4, 7, 100, "u", 60))
    val mem = MemoryStream[Change]
    val q = StreamOps.cdcSnapshotStream(mem.toDS())
      .writeStream.format("memory").queryName("cdc_snap")
      .outputMode("update").start()
    try {
      // deliver OUT OF ORDER across micro-batches: late rows must lose
      val (late, early) = feed.partition(_.ts_us > 100)
      mem.addData(late: _*)
      q.processAllAvailable()
      mem.addData(early: _*)
      q.processAllAvailable()
      // sink contract: the converged (max ts_us, id) update per key wins,
      // tombstones delete. State is monotone in (ts_us, id), so the max
      // emitted row IS the final state — no reliance on sink row order.
      val lastPerKey = spark.table("cdc_snap").as[Change].collect()
        .groupBy(_.user_id)
        .map { case (_, rows) => rows.maxBy(c => (c.ts_us, c.id)) }.toSeq
      val streamed = lastPerKey.filter(_.op != "d")
        .map(c => (c.user_id, c.id, c.ts_us, c.state_cents)).toSet
      val batch = graft.operators.EventOps.cdcSnapshot(
          feed.toDF(), "user_id", "state_cents")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(streamed.map(_._1) == Set(1L, 3L, 4L)) // 2 tombstoned
    } finally q.stop()
  }

  test("heavyHittersStream converges to the batch HAVING form across batches") {
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    // three arrival waves over a skewed key domain; key 1 crosses the bar
    // only in wave 3, key 2 crosses in wave 2
    val waves = Seq(
      Seq.fill(30)(1L) ++ Seq.fill(45)(2L) ++ Seq.fill(20)(rnd.nextLong(50L) + 10L),
      Seq.fill(10)(1L) ++ Seq.fill(15)(2L) ++ Seq.fill(20)(rnd.nextLong(50L) + 10L),
      Seq.fill(25)(1L) ++ Seq.fill(20)(rnd.nextLong(50L) + 10L))
    val mem = MemoryStream[Long]
    val q = StreamOps.heavyHittersStream(mem.toDS(), minFreq = 50L)
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("update").start()
    try {
      val seen = scala.collection.mutable.Buffer.empty[Seq[Long]]
      waves.foreach { w =>
        mem.addData(w: _*)
        q.processAllAvailable()
        seen += w
        // after each prefix: streamed hitters == batch HAVING over prefix
        val streamed = spark.table("hh_stream").as[KeyCount].collect()
          .groupBy(_.k).map { case (k, rows) => (k, rows.map(_.freq).max) }
        val batch = seen.flatten.groupBy(identity).view
          .mapValues(_.size.toLong).filter(_._2 >= 50L).toMap
        assert(streamed == batch, s"after ${seen.size} wave(s)")
      }
      assert(spark.table("hh_stream").as[KeyCount].collect()
        .groupBy(_.k).keySet == Set(1L, 2L))
    } finally q.stop()
  }

  test("heavyHittersTws (transformWithState) matches the mapGroupsWithState twin") {
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    val waves = Seq(
      Seq.fill(30)(1L) ++ Seq.fill(45)(2L) ++ Seq.fill(20)(rnd.nextLong(50L) + 10L),
      Seq.fill(10)(1L) ++ Seq.fill(15)(2L) ++ Seq.fill(20)(rnd.nextLong(50L) + 10L),
      Seq.fill(25)(1L) ++ Seq.fill(20)(rnd.nextLong(50L) + 10L))
    // transformWithState requires the RocksDB state store backend
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Long]
    val q = StreamOps.heavyHittersTws(mem.toDS(), minFreq = 50L)
      .writeStream.format("memory").queryName("hh_tws")
      .outputMode("update").start()
    try {
      val seen = scala.collection.mutable.Buffer.empty[Seq[Long]]
      waves.foreach { w =>
        mem.addData(w: _*)
        q.processAllAvailable()
        seen += w
        val streamed = spark.table("hh_tws").as[KeyCount].collect()
          .groupBy(_.k).map { case (k, rows) => (k, rows.map(_.freq).max) }
        val batch = seen.flatten.groupBy(identity).view
          .mapValues(_.size.toLong).filter(_._2 >= 50L).toMap
        assert(streamed == batch, s"after ${seen.size} wave(s)")
      }
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("foreachBatch idempotent MERGE sink: at-least-once delivery converges") {
    // The sink-side exactly-once story: Structured Streaming guarantees
    // at-LEAST-once delivery to foreachBatch, so the sink must be
    // idempotent — and mergeUpsert is (latest-(ts,id)-wins: re-applying
    // a batch re-selects the same winners). Batch 0 is deliberately
    // applied TWICE to simulate redelivery; the folded state must still
    // equal the one-shot batch snapshot of the whole feed.
    implicit val ctx = spark.sqlContext
    val feed = Seq(
      Change(1, 0, 100, "u", 10), Change(2, 1, 100, "u", 20),
      Change(1, 2, 200, "u", 30), Change(3, 3, 200, "u", 40),
      Change(2, 4, 300, "d", 0), Change(4, 5, 300, "u", 50))
    val mem = MemoryStream[Change]
    var state = Seq.empty[(Long, Long, Long, Long)]
      .toDF("user_id", "id", "ts_us", "state_cents")
    var replayed = false
    val q = mem.toDS().toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        def applyBatch(): Unit = {
          // localCheckpoint: `state` would otherwise carry every earlier
          // batch's lineage, so each batch re-plans an ever-deeper chain
          state = graft.operators.EventOps
            .mergeUpsert(state, batch, "user_id", "state_cents")
            .localCheckpoint()
        }
        applyBatch()
        if (id == 0 && !replayed) { replayed = true; applyBatch() }
      }
      .start()
    try {
      mem.addData(feed.take(3): _*); q.processAllAvailable()
      mem.addData(feed.drop(3): _*); q.processAllAvailable()
      assert(replayed) // the redelivery really happened
      val got = state.as[(Long, Long, Long, Long)].collect().toSet
      val want = graft.operators.EventOps
        .cdcSnapshot(feed.toDF(), "user_id", "state_cents")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == want)
      assert(got.map(_._1) == Set(1L, 3L, 4L)) // user 2 tombstoned
    } finally q.stop()
  }
}
