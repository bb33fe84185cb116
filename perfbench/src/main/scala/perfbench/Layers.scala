package perfbench

/** Per-layer metrics of the traced run.
  *
  * Engine-wide counters (`driver.*`, `exec.*`) come from the named
  * workload's traced warm rounds, summed over a round and reported as the
  * median round. Module metrics come from the workload that calls the
  * module: geo operators from point_query's set-up (the reach build), the
  * query layer from point_query's single queries, and text operators and
  * the suite groups from query_suite's entries. Each `<module>.<fn>.s` of a
  * geo operator or `.ms` of the query layer is the span's self time.
  */
object Layers {
  type Metric = (String, (Double, String))

  val GeoSpans: Seq[String] = Seq("PoiExtract.extractJoin", "SnapJoin.nearestNode",
    "GraphOps.symmetrizeDedup", "Grid.assignBuffered", "Dijkstra.reach", "Dijkstra.reachSummary",
    "Sinks.writeJdbc")
  val QuerySpans: Seq[String] = Seq("QueryLayer.snapPoints", "QueryLayer.pointQuery", "Sinks.readJdbc")
  val TextSpans: Seq[String] = Seq("CorpusOps.decontaminate", "TextOps.nearDupDropIds",
    "CorpusOps.repetitionStats", "TextOps.charEntropy", "TextOps.dupSpanMask", "Bpe.merges")

  def metrics(p: Probe, cores: Int, main: String, timed: Seq[Timed]): Seq[Metric] = {
    val all = timed.map(t => t.workload -> t).toMap
    def tracedOps(wl: String): Seq[OpRec] = {
      val os = all(wl).ops.toSeq.filter(o => o.traced && o.rootSpan >= 0 && o.phase != "pass")
      val warm = os.filter(_.phase == "warm")
      if (warm.nonEmpty) warm else os
    }
    def med(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)

    // engine-wide counters per traced round of the named workload
    val rounds = tracedOps(main).groupBy(_.round).values.toSeq
    def perRound(f: Seq[OpRec] => Double): Double = med(rounds.map(f))
    def sumC(os: Seq[OpRec])(f: Counters => Double): Double = os.map(o => f(p.total(o.rootSpan))).sum
    val engine: Seq[Metric] = Seq(
      "driver.plan_ms" -> (perRound(os => sumC(os)(_.planMs.toDouble)), "ms"),
      "driver.jobs" -> (perRound(os => sumC(os)(_.jobs.toDouble)), "count"),
      "driver.gap_s" -> (perRound(os => os.map(o => p.gapS(p.spans(o.rootSpan))).sum), "s"),
      "exec.task_s" -> (perRound(os => sumC(os)(_.taskMs / 1e3)), "s"),
      "exec.cpu_s" -> (perRound(os => sumC(os)(_.cpuNs / 1e9)), "s"),
      "exec.gc_s" -> (perRound(os => sumC(os)(_.gcMs / 1e3)), "s"),
      "exec.tasks" -> (perRound(os => sumC(os)(_.tasks.toDouble)), "count"),
      "exec.shuffle_mb" -> (perRound(os => sumC(os)(_.shuffleBytes / 1e6)), "MB"),
      "exec.spill_mb" -> (perRound(os => sumC(os)(_.spillBytes / 1e6)), "MB"),
      "exec.busy" -> (perRound(os => sumC(os)(_.taskMs / 1e3) / (os.map(_.wallS).sum * cores)), "ratio"))

    // geo operators: the traced reach builds of point_query's set-up
    val builds = all("point_query").setupSpans.toSeq
    def geoSpans(name: String): Seq[Seq[Span]] = builds.map(b => descendants(p, b).filter(_.name == name))
    def geoSelf(name: String): Double = med(geoSpans(name).map(_.map(p.selfS).sum))
    def reachC(f: Counters => Double): Double = med(geoSpans("Dijkstra.reach").map(_.map(s => f(p.total(s.id))).sum))
    val geo = GeoSpans.map(n => s"$n.s" -> (geoSelf(n), "s")) ++ Seq(
      "Dijkstra.reach.task_s" -> (reachC(_.taskMs / 1e3), "s"),
      "Dijkstra.reach.shuffle_mb" -> (reachC(_.shuffleBytes / 1e6), "MB"),
      "Dijkstra.reach.max_task_s" -> (reachC(_.maxTaskMs / 1e3), "s"),
      "Sinks.writeJdbc.rows_per_s" -> (all("point_query").layerValues("Sinks.writeJdbc.rows") /
        geoSelf("Sinks.writeJdbc"), "rows/s"))

    // query layer: the spans inside each traced point query
    val query = QuerySpans.map { n =>
      s"$n.ms" -> (med(tracedOps("point_query").map(o =>
        descendants(p, o.rootSpan).filter(_.name == n).map(p.selfS).sum)) * 1e3, "ms")
    }

    // query-suite entries and groups, per traced round
    val suiteRounds = tracedOps("query_suite").groupBy(_.round).values.toSeq
    def entry(n: String)(f: OpRec => Double): Double = med(suiteRounds.flatMap(_.filter(_.name == n).map(f)))
    val text = TextSpans.map(n => s"$n.s" -> (entry(n)(_.wallS), "s")) ++ Seq(
      "Bpe.merges.jobs" -> (entry("Bpe.merges")(o => p.total(o.rootSpan).jobs.toDouble), "count"),
      "TextOps.jaccardVerify.accept_ratio" ->
        (all("query_suite").layerValues("TextOps.jaccardVerify.accept_ratio"), "ratio"))
    val groupOf = QuerySuite.Entries.map(e => e._1 -> e._2).toMap
    val suite = QuerySuite.Groups.flatMap { g =>
      def agg(f: OpRec => Double): Double =
        med(suiteRounds.map(_.filter(o => groupOf(o.name) == g).map(f).sum))
      Seq(
        s"suite.$g.wall_s" -> (agg(_.wallS), "s"),
        s"suite.$g.plan_ms" -> (agg(o => p.total(o.rootSpan).planMs.toDouble), "ms"),
        s"suite.$g.jobs" -> (agg(o => p.total(o.rootSpan).jobs.toDouble), "count"),
        s"suite.$g.task_s" -> (agg(o => p.total(o.rootSpan).taskMs / 1e3), "s"))
    }
    engine ++ geo ++ query ++ text ++ suite
  }

  /** Tracing overhead: warm-side metrics paired within the run (untraced
    * and traced rounds alternate), as traced/untraced − 1 (for qps,
    * untraced/traced − 1, so positive always means slower); set-up and the
    * cold round are traced as a whole and reported as measured. */
  def overhead(untraced: Seq[Metric], traced: Seq[Metric]): Seq[Metric] = {
    val u = untraced.toMap
    val tr = traced.toMap
    Seq("trace.setup_s" -> tr("setup_s"), "trace.cold_s" -> tr("cold_s")) ++
      Seq("warm_s", "p50_ms", "p90_ms").map(m => s"trace.overhead.$m" -> (tr(m)._1 / u(m)._1 - 1, "ratio")) :+
      ("trace.overhead.qps" -> (u("qps")._1 / tr("qps")._1 - 1, "ratio"))
  }

  def descendants(p: Probe, root: Int): Seq[Span] = {
    val kids = p.children(root)
    kids ++ kids.flatMap(k => descendants(p, k.id))
  }
}
