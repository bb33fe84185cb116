package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.Materialize

/** Drives the streaming operators end-to-end for the CORRECTNESS GATE:
  * a real file-source stream, the production `foreachBatch` idempotent
  * MERGE sink, and a parquet result table the DuckDB oracle can hash —
  * the batch-equivalence specs in StreamOpsSpec pin the semantics; these
  * runs make the windowed-agg and sessionize paths first-class oracle
  * rows instead of spec-only components (round-7 verdict #5).
  *
  * Sink contract ("foreachBatch idempotent MERGE", StreamOpsSpec): the
  * engine guarantees at-LEAST-once delivery to foreachBatch, so the sink
  * folds each batch by KEY — delete-then-insert (anti-join ∪ batch) — and
  * re-applying a delivered batch reproduces the same state. The converged
  * state is written ONCE to a parquet table and read back, so the gate
  * hashes a real sink table, not an in-memory frame.
  *
  * Staging note: the chunk ranking uses one global row_number window —
  * STAGING-ONLY code simulating time-ordered log-file arrival at gate
  * scale (the StreamPipeline caveat); the operators under test never
  * depend on it.
  */
object StreamGate {

  /** Physical plan of the last executed micro-batch of the most recent
    * gate run, captured before stop() — streaming plans exist only at
    * runtime (state-store operators are planned per batch), so the
    * PLANS.md dossier reads this instead of the sink-scan the gate
    * returns. Harness-only plumbing; never read by an operator. */
  @volatile var lastStreamPlan: String = ""

  private def captureExplain(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(bos)(q.explain())
      lastStreamPlan = bos.toString("UTF-8")
    } catch { case e: Throwable =>
      // never fail the gate over diagnostics, but never go SILENT either
      // (the round-1 swallowed-failure lesson): the dossier shows the cause
      lastStreamPlan = s"<plan capture failed: $e>"
    }

  /** Write `events` (ts TIMESTAMP) as `nChunks` time-ordered parquet files
    * under `in` (sequential appends — deterministic arrival order), plus
    * an optional far-future sentinel row that advances the watermark past
    * every real window/session so append-mode state flushes. */
  private def stageChunks(events: DataFrame, nChunks: Int, in: String,
                          sentinel: Boolean,
                          orderCols: Seq[String] = Seq("ts", "event_id"),
                          from: Int = 0, until: Int = Int.MaxValue): Unit = {
    val total = events.count()
    val ranked = events
      .withColumn("rk",
        row_number().over(Window.orderBy(orderCols.map(col): _*)) - 1)
      .withColumn("chunk", (col("rk") * nChunks / total).cast("int"))
      .drop("rk")
      .cache()
    // [from, until) lets the recovery gates stage a PREFIX now and the
    // remainder after the kill — the chunk split is a deterministic
    // function of (events, nChunks), so two calls agree on boundaries
    (from until math.min(nChunks, until)).foreach { i =>
      ranked.filter(col("chunk") === i).drop("chunk")
        .coalesce(1).write.mode("append").parquet(in)
    }
    if (sentinel && until >= nChunks)
      ranked.agg(max("ts").as("maxts"))
        .select(lit(-1L).as("event_id"),
          (col("maxts") + expr("INTERVAL 24 HOURS")).as("ts"),
          lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
          lit(0.0).as("value"))
        .coalesce(1).write.mode("append").parquet(in)
    ranked.unpersist()
  }

  /** Run `op` over a file-source stream of `events`, folding every output
    * batch through the idempotent MERGE (keyed delete-then-insert) into a
    * parquet sink table; returns the converged table. `outputMode` is
    * "update" for running aggregates (every changed key re-emits; the
    * MERGE keeps the latest) or "append" for watermark-finalized rows
    * (each emitted once; the MERGE makes redelivery harmless). */
  private def runMerged(spark: SparkSession, events: DataFrame, work: String,
                        op: DataFrame => DataFrame, keys: Seq[String],
                        outputMode: String, sentinel: Boolean,
                        orderCols: Seq[String] = Seq("ts", "event_id"),
                        seed: Option[DataFrame] = None): DataFrame = {
    val in = s"$work/in"
    stageChunks(events, nChunks = 4, in, sentinel, orderCols)
    val staged = spark.read.parquet(in)
    val stream = spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    // empty frame with the op's exact output schema seeds the MERGE fold —
    // derived by running the op on an empty BATCH frame (the batch-
    // equivalence path), except for ops that cannot run in batch mode at
    // all (transformWithState needs the StateStoreCoordinator that only a
    // streaming query creates) — those pass the empty frame explicitly
    var state = Materialize.cut(seed.getOrElse(op(staged.limit(0))))
    // Stateful operators keep one state-store instance PER shuffle
    // partition PER micro-batch: at the session's 32 partitions a 5-batch
    // run pays 160 store open/commit cycles per stateful operator (the
    // stream-stream join keeps FOUR stores per partition), which is the
    // dominant fixed cost of every streaming gate — not the data. Size
    // the state partitioning to the gate's state volume instead, the
    // same spark.sql.shuffle.partitions sizing any production streaming
    // job does. Results are partition-count-invariant; the batch twins
    // run at the session default. Restored in the finally.
    val partsKey = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.get(partsKey)
    spark.conf.set(partsKey, "4")
    try {
    val q = op(stream).writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode(outputMode)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // localCheckpoint: without it `state` carries every earlier
        // batch's lineage, so each batch re-plans an ever-deeper fold
        // chain; keyed delete-then-insert is the idempotent MERGE from
        // StreamOpsSpec
        state = Materialize.cut(batch.unionByName(state.join(batch, keys, "left_anti")))
        ()
      }
      .start()
    // default micro-batch trigger + processAllAvailable, NOT AvailableNow:
    // append-mode emission happens in the no-data batch that follows the
    // final watermark advance, and processAllAvailable settles only after
    // it (the termination pattern StreamPipeline has proven green at both
    // gate SFs); AvailableNow can stop at the last data batch
    q.processAllAvailable()
    captureExplain(q)
    q.stop()
    val sink = s"$work/sink"
    state.write.mode("overwrite").parquet(sink)
    spark.read.parquet(sink)
    } finally spark.conf.set(partsKey, prevParts)
  }

  /** GATE: [[StreamOps.windowedCounts]] through the update-mode MERGE sink.
    * Update mode re-emits a window whenever a batch touches it, so the
    * converged sink equals the full batch aggregate with no sentinel
    * needed; the watermark still bounds state (arrival is time-ordered, so
    * nothing is late-dropped). Output in exact integers: epoch-µs window
    * start and cent sums (the double round-trip through sum_value/100 is
    * exact — cent sums are integers far below 2^53). */
  def windowedGate(spark: SparkSession, events: DataFrame, work: String): DataFrame =
    runMerged(spark, events, work, StreamOps.windowedCounts,
      keys = Seq("window_start", "event_type"), outputMode = "update",
      sentinel = false)
      .select(expr("unix_micros(window_start)").as("window_us"),
        col("event_type"), col("n"),
        round(col("sum_value") * 100).cast("long").as("sum_cents"))

  /** GATE: [[StreamOps.sessionizeStream]] through the append-mode MERGE
    * sink. Append emits each session exactly once when the watermark
    * passes its end + gap; the far-future sentinel flushes the tail
    * sessions, and its own session never closes, so the sentinel is
    * absent from the sink by construction. */
  def sessionGate(spark: SparkSession, events: DataFrame, work: String,
                  gap: String): DataFrame =
    runMerged(spark, events, work, StreamOps.sessionizeStream(_, gap),
      keys = Seq("user_id", "window_start"), outputMode = "append",
      sentinel = true)
      .select(col("user_id"),
        expr("unix_micros(first_ts)").as("start_us"),
        col("n_events"),
        expr("unix_micros(last_ts)").as("last_us"), col("sum_cents"))

  /** GATE: [[StreamOps.cdcSnapshotStream]] (mapGroupsWithState latest-wins
    * compaction) through the update-mode MERGE sink. Every micro-batch
    * re-emits each touched user's best-so-far change; the MERGE keeps the
    * latest, so the converged sink is the per-user terminal state — equal
    * to the BATCH snapshot of the whole feed (q77's operator and oracle).
    * Tombstones ride the state like any change and are dropped at read,
    * exactly as [[graft.operators.EventOps.cdcSnapshot]] does. */
  def cdcGate(spark: SparkSession, feed: DataFrame, work: String): DataFrame = {
    import spark.implicits._
    runMerged(spark, feed, work,
      df => StreamOps.cdcSnapshotStream(df.as[Change]).toDF(),
      keys = Seq("user_id"), outputMode = "update", sentinel = false,
      orderCols = Seq("ts_us", "id"))
      .filter(col("op") =!= "d")
      .select(col("user_id"), col("id"), col("ts_us"), col("state_cents"))
  }

  /** GATE: [[StreamOps.heavyHittersTws]] (Spark 4 transformWithState,
    * RocksDB-backed running counts) through the update-mode MERGE sink.
    * Every batch re-emits each ≥ minFreq key's running count; the MERGE
    * keeps the latest, so the converged sink is exactly the batch
    * `HAVING count(*) >= minFreq` set with final counts. The RocksDB
    * provider conf is scoped to this run and restored after (the API
    * requires that backing store; the session default elsewhere is the
    * HDFS-backed store). */
  def heavyGate(spark: SparkSession, events: DataFrame, work: String,
                minFreq: Long): DataFrame = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      runMerged(spark, events, work,
        df => StreamOps.heavyHittersTws(
          df.select(col("user_id")).as[Long], minFreq).toDF(),
        keys = Seq("k"), outputMode = "update", sentinel = false,
        seed = Some(spark.emptyDataset[KeyCount].toDF()))
    } finally old match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  /** GATE: [[StreamOps.attributionJoin]] — the watermark-bounded
    * stream-stream interval join — through the append-mode MERGE sink.
    * One staged file-source stream is filtered into both sides
    * (purchases, views), so each micro-batch advances both watermarks in
    * lockstep; inner-join rows emit as soon as they match, so no sentinel
    * is needed, and (purchase_id, view_id) is a unique MERGE key because
    * event ids are unique. The converged sink must equal the bounded
    * interval join of the same inputs — the oracle's relational form. */
  def attrGate(spark: SparkSession, events: DataFrame, work: String): DataFrame =
    runMerged(spark, events, work,
      df => StreamOps.attributionJoin(
        df.filter(col("event_type") === "purchase"),
        df.filter(col("event_type") === "view"),
        // 4 h lookback: the gate corpus is a sparse 30-day stream, and the
        // default 15 min yields a 9-row result — too thin to exercise the
        // join state across micro-batch boundaries
        lookback = "4 hours"),
      keys = Seq("purchase_id", "view_id"), outputMode = "append",
      sentinel = false)
      .select(col("purchase_id"), col("user_id"),
        expr("unix_micros(p_ts)").as("p_us"),
        col("view_id"), expr("unix_micros(v_ts)").as("v_us"),
        col("purchase_cents"))

  /** GATE: the LEFT OUTER stream-stream join ([[StreamOps
    * .attributionJoinOuter]]) through the MERGE sink. Outer rows emit on
    * state EVICTION, so the stream must end with a watermark advance
    * past every real purchase's lookback: sentinel = true stages the
    * far-future marker row, and BOTH filtered branches admit event_type
    * "sentinel" alongside their own type so the marker reaches both
    * watermark nodes (the GLOBAL watermark is the min over the two).
    * The sentinel's own join output (it matches only itself, at
    * user −1) is dropped AFTER the streaming merge, never inside the
    * streamed plan: a `purchase_id != -1` filter there gets pushed
    * below the purchase-side EventTimeWatermark node (it references no
    * event-time column), the sentinel then never advances maxSeen(p_ts),
    * and every purchase inside the last watermark-delay of the real
    * stream silently keeps its outer row buffered forever — measured on
    * the gate corpus as exactly the final two unmatched purchases
    * missing. */
  def attrOuterGate(spark: SparkSession, events: DataFrame, work: String): DataFrame =
    runMerged(spark, events, work,
      df => StreamOps.attributionJoinOuter(
        df.filter(col("event_type").isin("purchase", "sentinel")),
        df.filter(col("event_type").isin("view", "sentinel")),
        lookback = "4 hours"),
      keys = Seq("purchase_id", "view_id"), outputMode = "append",
      sentinel = true)
      .filter(col("purchase_id") =!= -1L)
      .select(col("purchase_id"), col("user_id"),
        expr("unix_micros(p_ts)").as("p_us"),
        col("view_id"),
        coalesce(expr("unix_micros(v_ts)"), lit(-1L)).as("v_us"),
        col("purchase_cents"))

  /** GATE: STREAMING incremental view maintenance — the MV lifecycle's
    * streaming leg: every micro-batch folds into the summary parquet via
    * [[graft.operators.Mv.refreshIncremental]] (delta partials merged by
    * key; the base stream is never re-read), so the sink IS the
    * continuously-maintained summary table the batch rewrite rule
    * answers queries from. refreshIncremental is NOT naturally
    * idempotent (re-applying a delivered batch double-counts), so the
    * driver applies the transactional-foreachBatch pattern the at-least-
    * once contract requires: a per-batchId marker file under `_applied/`
    * gates each refresh — a redelivered batch is skipped, a restart
    * resumes exactly where the markers end. The converged summary must
    * hash-match the one-shot aggregate over the whole stream. */
  def mvGate(spark: SparkSession, events: DataFrame, work: String): DataFrame = {
    import graft.operators.Mv
    val in = s"$work/in"
    stageChunks(events, nChunks = 4, in, sentinel = false)
    val staged = spark.read.parquet(in)
    def project(df: DataFrame): DataFrame =
      df.select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val sumPath = s"$work/mv"
    Mv.createSummaryFrom(project(staged.limit(0)), sumPath,
      Seq("event_type"), Seq("cents"))
    val stream = spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val fs = new Path(work).getFileSystem(new Configuration())
    val q = project(stream).writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = new Path(s"$work/_applied/$batchId")
        if (!fs.exists(marker)) {
          Mv.refreshIncremental(spark, batch, sumPath,
            Seq("event_type"), Seq("cents"))
          fs.create(marker, true).close()
        }
        ()
      }
      .start()
    q.processAllAvailable()
    captureExplain(q)
    q.stop()
    spark.read.parquet(sumPath)
  }

  /** Simulate a crash after a committed batch: delete the LAST entry in
    * the checkpoint's commits log, so the restarted query replays that
    * batch (same batchId, same input files, state restored from the
    * prior version) — the deterministic form of the at-least-once
    * redelivery every foreachBatch sink must survive. Returns the
    * replayed batchId. */
  private def dropLastCommit(spark: SparkSession, ckpt: String): Long = {
    val fs = new Path(ckpt).getFileSystem(new Configuration())
    val ids = fs.listStatus(new Path(s"$ckpt/commits"))
      .map(_.getPath.getName).filter(_.forall(_.isDigit)).map(_.toLong)
    require(ids.nonEmpty, s"no commits under $ckpt")
    val last = ids.max
    require(fs.delete(new Path(s"$ckpt/commits/$last"), false),
      s"could not delete commit $last")
    last
  }

  /** RECOVERY GATE (round-8 verdict #3): [[StreamOps.windowedCounts]]
    * killed mid-stream and resumed from the same checkpoint. Phase 1
    * consumes HALF the staged files and stops; the driver-side MERGE
    * state is made durable (the sink parquet — a restarted driver owns
    * no memory); the last checkpoint commit is then DELETED so the
    * restart must both (a) restore the aggregation state store for
    * windows straddling the kill point and (b) REDELIVER the final
    * pre-kill batch to the sink, which the keyed MERGE must absorb
    * idempotently. Phase 2 stages the remaining files, restarts from the
    * same checkpoint with the fold seeded from the durable sink, and
    * converges. The gate requires the redelivery actually happened
    * (first phase-2 batchId == the dropped commit) and hashes the
    * converged sink against the SAME batch oracle as q194 — a lost
    * state store or a double-applied batch cannot hash-match. */
  def windowedRecoveryGate(spark: SparkSession, events: DataFrame,
                           work: String): DataFrame = {
    val in = s"$work/in"
    val ckpt = s"$work/ckpt"
    val sink = s"$work/sink"
    val nChunks = 6
    stageChunks(events, nChunks, in, sentinel = false, until = nChunks / 2)
    val schema = spark.read.parquet(in).schema
    val keys = Seq("window_start", "event_type")
    val partsKey = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.get(partsKey)
    spark.conf.set(partsKey, "4")
    try {
      def runPhase(seed: DataFrame): (DataFrame, Seq[Long]) = {
        var state = Materialize.cut(seed)
        val delivered = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(in)
        val q = StreamOps.windowedCounts(stream).writeStream
          .option("checkpointLocation", ckpt)
          .outputMode("update")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            delivered.add(batchId)
            state = Materialize.cut(batch.unionByName(state.join(batch, keys, "left_anti")))
            ()
          }
          .start()
        q.processAllAvailable()
        q.stop()
        (state, delivered.asScala.toSeq)
      }
      // phase 1: half the stream, stop, persist the sink
      val (s1, _) = runPhase(StreamOps.windowedCounts(
        spark.read.parquet(in).limit(0)))
      s1.write.mode("overwrite").parquet(sink)
      // the crash: the engine forgets the last batch ever committed
      val dropped = dropLastCommit(spark, ckpt)
      // phase 2: remaining files appear, restart from the SAME checkpoint,
      // fold seeded from the durable sink only
      stageChunks(events, nChunks, in, sentinel = false, from = nChunks / 2)
      val (s2, delivered2) = runPhase(spark.read.parquet(sink))
      require(delivered2.headOption.contains(dropped),
        s"expected redelivery of batch $dropped, got ${delivered2.take(3)}")
      s2.write.mode("overwrite").parquet(sink)
      spark.read.parquet(sink)
        .select(expr("unix_micros(window_start)").as("window_us"),
          col("event_type"), col("n"),
          round(col("sum_value") * 100).cast("long").as("sum_cents"))
    } finally spark.conf.set(partsKey, prevParts)
  }

  /** RECOVERY GATE: the marker-gated streaming MV ([[mvGate]]) killed and
    * resumed. refreshIncremental is NOT idempotent — a redelivered batch
    * would double-count — so the per-batchId marker under `_applied/` is
    * the whole exactly-once story, and this gate finally exercises it
    * under a real redelivery instead of a clean run: phase 1 folds half
    * the stream into the summary, the last checkpoint commit is deleted,
    * phase 2 restarts from the same checkpoint — the replayed batch MUST
    * be skipped by its marker (double-count = hash mismatch vs the
    * one-shot oracle) while the new batches refresh through. */
  def mvRecoveryGate(spark: SparkSession, events: DataFrame,
                     work: String): DataFrame = {
    import graft.operators.Mv
    val in = s"$work/in"
    val ckpt = s"$work/ckpt"
    val sumPath = s"$work/mv"
    val nChunks = 6
    stageChunks(events, nChunks, in, sentinel = false, until = nChunks / 2)
    val schema = spark.read.parquet(in).schema
    def project(df: DataFrame): DataFrame =
      df.select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    Mv.createSummaryFrom(project(spark.read.parquet(in).limit(0)), sumPath,
      Seq("event_type"), Seq("cents"))
    val fs = new Path(work).getFileSystem(new Configuration())
    def runPhase(): Seq[Long] = {
      val delivered = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      val q = project(stream).writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          delivered.add(batchId)
          val marker = new Path(s"$work/_applied/$batchId")
          if (!fs.exists(marker)) {
            Mv.refreshIncremental(spark, batch, sumPath,
              Seq("event_type"), Seq("cents"))
            fs.create(marker, true).close()
          }
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      delivered.asScala.toSeq
    }
    runPhase()
    val dropped = dropLastCommit(spark, ckpt)
    stageChunks(events, nChunks, in, sentinel = false, from = nChunks / 2)
    val delivered2 = runPhase()
    require(delivered2.headOption.contains(dropped),
      s"expected redelivery of batch $dropped, got ${delivered2.take(3)}")
    spark.read.parquet(sumPath)
  }

  /** GATE: `dropDuplicatesWithinWatermark` (Spark 4's bounded-state
    * streaming dedup) through the append-mode MERGE sink. The input
    * carries planted duplicate deliveries; each event_id is emitted once
    * on first arrival and later copies are suppressed while their key is
    * inside the watermark horizon — exactly the at-least-once →
    * exactly-once repair every ingest pipeline needs, with state the
    * watermark can evict (plain dropDuplicates would pin every key
    * forever). The converged sink must equal the distinct event set. */
  def dedupGate(spark: SparkSession, events: DataFrame, work: String): DataFrame = {
    def project(df: DataFrame): DataFrame =
      df.select(col("event_id"), expr("unix_micros(ts)").as("ts_us"),
        col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    runMerged(spark, events, work,
      df => project(df.withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark("event_id")),
      keys = Seq("event_id"), outputMode = "append", sentinel = false,
      // dropDuplicatesWithinWatermark refuses batch frames outright, so
      // the MERGE fold's schema seed cannot come from the batch twin —
      // pass the projected empty frame directly (heavyGate's pattern)
      seed = Some(project(events.limit(0))))
  }

  /** GATE: STREAM-STATIC enrichment join — the dimension-lookup shape
    * every streaming pipeline starts with (enrich each event against a
    * slow dimension, then aggregate). The static side is computed once
    * before the stream starts (localCheckpoint pins it); Spark re-joins
    * it per micro-batch with NO state for the join itself — only the
    * downstream running aggregate is stateful (update mode, no
    * watermark: segment x type is a bounded key domain). Converges to
    * the batch group-by the oracle replays. */
  def enrichGate(spark: SparkSession, events: DataFrame, work: String): DataFrame = {
    val dim = Materialize.cut(events.select(col("user_id")).distinct()
      .withColumn("segment", (col("user_id") % 4).cast("int")))
    runMerged(spark, events, work,
      st => st.join(broadcast(dim), Seq("user_id"))
        .groupBy("segment", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_cents")),
      keys = Seq("segment", "event_type"), outputMode = "update",
      sentinel = false)
  }
}
