package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark process entry points.
  *
  *   stage <sf> <outDir>
  *       writes the generated tables and prints their digests.
  *   run <workload> <seed> <seconds> <trace 0|1> <runNo> <dataDir> <workDir> <pins> <resultFile>
  *       sets up the workload, times one cold round and then warm rounds
  *       for `seconds`, checks every output off the clock, and writes the
  *       result JSON to `resultFile`. `runNo` counts the workload's runs in
  *       this checkout; query_suite checks alternate halves by it.
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "stage" :: sf :: out :: Nil => stage(sf.toDouble, out)
    case "run" :: wl :: seed :: secs :: trace :: runNo :: data :: work :: pins :: result :: Nil =>
      val code = new Runner(wl, seed.toLong, secs.toDouble, trace == "1", runNo.toLong, data, work, pins, result).run()
      sys.exit(code)
    case _ =>
      System.err.println("usage: stage <sf> <out> | run <workload> <seed> <seconds> <trace> <runNo> " +
        "<dataDir> <workDir> <pins> <resultFile>")
      sys.exit(2)
  }

  private def stage(sf: Double, out: String): Unit = {
    val spark = SparkSession.builder().master("local[*]").appName("perfbench-stage")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rows = Stage.write(spark, sf, out)
    spark.stop()
    println(Json.obj(rows.map { case (t, n, h) => t -> Json.obj(Seq("rows" -> n, "digest" -> h)) }))
  }
}

/** One timed operation. */
final case class OpRec(workload: String, name: String, seq: Int, round: Int, phase: String,
                       traced: Boolean, wallS: Double, rootSpan: Int, var err: Option[String])

final class Runner(wlName: String, seed: Long, seconds: Double, traced: Boolean, runNo: Long,
                   dataDir: String, workDir: String, pinsPath: String, resultPath: String) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
  private val failures = mutable.ArrayBuffer.empty[String]
  private val observed = mutable.LinkedHashMap.empty[String, String]
  private val pins: Map[String, String] = Json.readFlat(pinsPath)
  private var opId = 0

  private def now: Long = System.nanoTime()

  def run(): Int = {
    val spark = GraftSession.get("perfbench")
    val probe = if (traced) Some(new Probe(spark)) else None
    val ctx = new Ctx(spark, probe)
    spark.range(1).count() // session warm-up, as the engine's bench does
    val main = timeWorkload(ctx, wlName, checked = true)
    val tour =
      if (!traced) Nil
      else {
        // the rest of the layers: the other workload, set up once and one
        // traced cold round, unchecked
        Workloads.Names.filterNot(_ == wlName).map(timeWorkload(ctx, _, checked = false))
      }
    val metrics = probe match {
      case None => endToEnd(main, tracedSide = false)
      case Some(p) =>
        p.settle()
        val layers = Layers.metrics(p, cores, wlName, main +: tour) ++
          Layers.overhead(endToEnd(main, tracedSide = false), endToEnd(main, tracedSide = true))
        writeTrace(p, main +: tour)
        p.close()
        layers
    }
    spark.stop()

    val ops = (main +: tour).flatMap(_.ops)
    val failedOps = ops.filter(_.err.isDefined)
    failedOps.foreach(o => failures += s"${o.workload}/${o.name}#${o.seq}: ${o.err.get}")
    val attempted = ops.size
    val failed = failedOps.size
    val result = Json.obj(Seq(
      "correct" -> (failed == 0 && failures.isEmpty),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> v, "unit" -> u)) }),
      "detail" -> Json.obj(Seq(
        "workload" -> wlName, "seed" -> seed, "seconds" -> seconds, "trace" -> traced, "run_no" -> runNo,
        "error_rate" -> (if (attempted == 0) 1.0 else failed.toDouble / attempted),
        "failures" -> failures.take(20).toSeq,
        "observed" -> Json.obj(observed.toSeq),
        // wall seconds of each of the workload's operations, by name and phase
        "entries" -> Json.obj(main.ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, os) =>
          n -> Json.obj(os.groupBy(_.phase).toSeq.sortBy(_._1).map { case (ph, xs) => ph -> xs.map(_.wallS).toSeq })
        }),
        "jvm" -> Json.obj(Seq(
          "cores" -> cores,
          "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
          "java" -> System.getProperty("java.version"),
          "spark" -> org.apache.spark.SPARK_VERSION))))))
    Files.write(Paths.get(resultPath), result.getBytes(StandardCharsets.UTF_8))
    if (failed == 0 && failures.isEmpty) 0 else 1
  }

  private def timeWorkload(ctx: Ctx, name: String, checked: Boolean): Timed = name match {
    case "point_query" => pointQuery(ctx, checked)
    case "query_suite" => querySuite(ctx, checked)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** point_query: one reach build as set-up, single-point queries, then
    * the batch pass over the whole point pool, timed as `warm_s`. Off the
    * clock: the reach table and the batch answer equal their pins, and every
    * single answer equals its point's rows in the batch. */
  private def pointQuery(ctx: Ctx, checked: Boolean): Timed = {
    val w = new PointQuery(dataDir, seed, s"jdbc:derby:memory:perfbench_${seed}_point_query;create=true")
    val t = new Timed("point_query")
    // one build per run: a repeat would cost a whole reach build
    timeSetup(ctx, t, reps = 1)(w.setup(ctx))
    val reach = if (checked) Some(observe(w.reachCheck(ctx))) else None
    // measured: single-query latency keeps falling over the first twenty or
    // so queries as the query path is compiled
    timeRounds(ctx, t, Seq("query"), warmup = if (checked) 6 else 0, window = checked)((_, seq) => w.query(ctx, seq))
    if (checked) {
      // seven passes (the first also compiles the batch plan); traced runs
      // alternate untraced and traced passes, four of each
      val batches = (1 to (if (traced) 8 else 7)).map { rep =>
        timeOp(ctx, t, "batch", rep, "pass", tracedOp = traced && rep % 2 == 0)(w.batch(ctx))
      }
      // a wrong reach table fails every operation
      reach.foreach(v => pinCheck("point_query/setup", v, t.ops.toSeq))
      t.ops.filter(_.phase == "pass").zip(batches).foreach {
        case (o, Some(rows)) => pinCheck("point_query/batch", observe(w.batchDigest(rows)), Seq(o))
        case _ =>
      }
      batches.flatten.headOption match {
        case Some(rows) => w.mismatches(rows).foreach { case (s, why) => fail(t.ops(s), why) }
        case None => failures += "point_query: no batch answer to check the single queries against"
      }
    }
    if (traced) t.layerValues = Map("Sinks.writeJdbc.rows" -> w.writtenRows.toDouble)
    t
  }

  /** query_suite: every entry in a round. Off the clock, the row count and
    * digest of half the entries equal their pins: the half alternates with
    * the run number, so consecutive runs check every entry. (Checking all of
    * them would add a third execution of every entry to each run, more than
    * the run budget allows.) */
  private def querySuite(ctx: Ctx, checked: Boolean): Timed = {
    val w = new QuerySuite(dataDir)
    val t = new Timed("query_suite")
    timeSetup(ctx, t, reps = if (checked) 3 else 1)(w.setup(ctx))
    timeRounds(ctx, t, w.entries, warmup = 0, window = checked)((entry, _) => w.run(ctx, entry))
    if (checked) w.entries.zipWithIndex.filter { case (_, i) => (i + runNo) % 2 == 0 }.foreach { case (e, _) =>
      pinCheck(s"query_suite/$e", observe(w.observe(ctx, e)), t.ops.filter(_.name == e).toSeq)
    }
    if (traced) {
      ctx.tracing = true
      ctx.op = -2
      t.layerValues = Map("TextOps.jaccardVerify.accept_ratio" -> w.acceptRatio(ctx))
      ctx.tracing = false
    }
    t
  }

  /** Set-up, `reps` times: each rep's wall and, if traced, its root span. */
  private def timeSetup(ctx: Ctx, t: Timed, reps: Int)(body: => Unit): Unit = {
    t.sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    ctx.op = -1
    for (_ <- 1 to reps) {
      ctx.tracing = traced
      val t0 = now
      ctx.span(s"${t.workload}.setup")(body)
      t.setups += (now - t0) / 1e9
      ctx.probe.filter(_ => traced).foreach(p => t.setupSpans += p.spans.lastIndexWhere(_.parent < 0))
      ctx.tracing = false
    }
  }

  /** One cold round, `warmup` rounds no metric reads, then, if `window`,
    * warm rounds for `seconds` (traced runs alternate untraced and traced
    * rounds, at least one of each). `run` gets the operation's name and
    * sequence number. */
  private def timeRounds(ctx: Ctx, t: Timed, names: Seq[String], warmup: Int, window: Boolean)
                        (run: (String, Int) => Unit): Unit = {
    def round(r: Int, phase: String, tracedRound: Boolean): Unit = names.foreach { n =>
      if (names.size > 1) Workloads.reset(ctx.spark, gc = n == names.head)
      timeOp(ctx, t, n, r, phase, tracedRound)(run(n, t.ops.size))
    }
    round(0, "cold", traced)
    (1 to warmup).foreach(r => round(-r, "warmup", tracedRound = false))
    if (window) {
      val start = now
      var r = 1
      while ((now - start) / 1e9 < seconds || (traced && r <= 2)) {
        round(r, "warm", tracedRound = traced && r % 2 == 0)
        r += 1
      }
    }
  }

  /** Times one operation and records it; its result, or None if it threw. */
  private def timeOp[T](ctx: Ctx, t: Timed, name: String, round: Int, phase: String, tracedOp: Boolean)
                       (body: => T): Option[T] = {
    ctx.tracing = tracedOp
    ctx.op = opId
    opId += 1
    val seq = t.ops.size
    val t0 = now
    val res = try Right(ctx.span(s"${t.workload}.$name")(body)) catch { case e: Throwable => Left(firstLine(e)) }
    val wall = (now - t0) / 1e9
    val root = ctx.probe.filter(_ => tracedOp).map(_.spans.lastIndexWhere(_.parent < 0)).getOrElse(-1)
    t.ops += OpRec(t.workload, name, seq, round, phase, tracedOp, wall, root, res.left.toOption)
    ctx.tracing = false
    ctx.endOp()
    res.toOption
  }

  /** A check value, or the first line of the error computing it. */
  private def observe(value: => String): String =
    try value catch { case e: Throwable => "error " + firstLine(e) }

  /** Records an observed value; fails `os` unless it equals its pin. */
  private def pinCheck(key: String, value: String, os: Seq[OpRec]): Unit = {
    observed(key) = value
    pins.get(key) match {
      case Some(p) if p == value =>
      case Some(p) => os.foreach(fail(_, s"$key: got '$value', pinned '$p'"))
      case None => os.foreach(fail(_, s"$key: no pinned value (got '$value')"))
    }
  }

  private def fail(o: OpRec, why: String): Unit = if (o.err.isEmpty) o.err = Some(why)

  private def firstLine(e: Throwable): String = e.toString.takeWhile(_ != '\n').take(200)

  /** The end-to-end metrics of one workload, from its untraced or its
    * traced operations. */
  private def endToEnd(t: Timed, tracedSide: Boolean): Seq[(String, (Double, String))] = {
    val cold = t.ops.filter(_.phase == "cold")
    val warm = t.ops.filter(o => o.phase == "warm" && o.traced == tracedSide)
    // a steady pass: point_query's batch over the whole pool, or one warm suite round
    val batches = t.ops.filter(o => o.phase == "pass" && o.traced == tracedSide)
    val passes =
      if (batches.nonEmpty) batches.map(_.wallS).toSeq
      else warm.groupBy(_.round).values.map(_.map(_.wallS).sum).toSeq
    // a failed operation counts as missing every latency limit
    def lat(o: OpRec): Double = if (o.err.isDefined) Double.PositiveInfinity else o.wallS
    val lats =
      if (warm.map(_.name).distinct.size > 1) warm.groupBy(_.name).values.map(os => Stats.median(os.map(lat).toSeq)).toSeq
      else warm.map(lat).toSeq
    Seq(
      "setup_s" -> (t.sessionS + Stats.median(t.setups.toSeq), "s"),
      "cold_s" -> (cold.map(_.wallS).sum, "s"),
      "warm_s" -> (Stats.median(passes), "s"),
      "p50_ms" -> (Stats.quantile(lats, 0.5) * 1e3, "ms"),
      "p90_ms" -> (Stats.quantile(lats, 0.9) * 1e3, "ms"),
      "qps" -> (warm.count(_.err.isEmpty) / math.max(1e-9, warm.map(_.wallS).sum), "1/s"))
  }

  private def writeTrace(p: Probe, timed: Seq[Timed]): Unit = {
    val spans = p.spans.map { s =>
      val c = p.total(s.id)
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.nanos / 1e9, "self_s" -> p.selfS(s),
        "jobs" -> c.jobs, "tasks" -> c.tasks, "task_s" -> c.taskMs / 1e3, "plan_ms" -> c.planMs,
        "shuffle_mb" -> c.shuffleBytes / 1e6, "gap_s" -> p.gapS(s)))
    }
    val opsJson = timed.flatMap(_.ops).map(o => Json.obj(Seq("workload" -> o.workload, "name" -> o.name, "seq" -> o.seq,
      "round" -> o.round, "phase" -> o.phase, "traced" -> o.traced, "wall_s" -> o.wallS, "span" -> o.rootSpan)))
    Files.write(Paths.get(s"$workDir/trace-$wlName-$seed.json"),
      Json.obj(Seq("spans" -> spans.toSeq, "ops" -> opsJson.toSeq))
        .getBytes(StandardCharsets.UTF_8))
  }
}

/** Timing record of one workload inside a run. */
final class Timed(val workload: String) {
  var sessionS = 0.0
  val setups = mutable.ArrayBuffer.empty[Double]
  val setupSpans = mutable.ArrayBuffer.empty[Int]
  val ops = mutable.ArrayBuffer.empty[OpRec]
  var layerValues: Map[String, Double] = Map.empty
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    if (s(hi).isInfinite || s(lo).isInfinite) s(if (pos - lo > 0) hi else lo)
    else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
