package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer, or the operation (pass, query) around
  * such calls. Times are epoch milliseconds (the clock Spark stamps its
  * events with) plus a nanosecond duration for the span itself. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startMs: Long, var endMs: Long = -1L, var nanos: Long = 0L)

/** Counters accumulated for one span from the listener events it caused. */
final class Counters {
  var jobs = 0
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var maxTaskMs = 0L
  var planMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans and the Spark counters behind them, for the traced run only.
  *
  * A `SparkListener` attributes each job, and each task of its stages, to
  * the span that was open on the client thread when the job was submitted
  * (carried as a job-local property). A `QueryExecutionListener` reads each
  * action's planning-tracker phases (analysis, optimization, planning) and
  * attributes them to the innermost span whose interval holds them. Spans
  * stay in memory until the run ends. */
final class Probe(spark: SparkSession) {
  private val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  def counter(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)
      s.foreach { id =>
        jobStart.put(e.jobId, (id, e.time))
        e.stageIds.foreach(st => stageSpan.put(st, id))
        counter(id).synchronized(counter(id).jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (id, t0) =>
        val c = counter(id); c.synchronized(c.jobIntervals += ((t0, e.time)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val m = e.taskMetrics
        val c = counter(id)
        if (m != null) c.synchronized {
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.maxTaskMs = math.max(c.maxTaskMs, e.taskInfo.duration)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
      val at = ph.values.map(_.startTimeMs).foldLeft(Long.MaxValue)(math.min)
      if (at != Long.MaxValue) plans.add((at, ms))
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Runs `body` inside a span named `name`; nested calls become children. */
  def span[T](name: String, op: Int)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, name, parent, op, System.currentTimeMillis())
    spans += s
    stack.push(s)
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      s.nanos = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      stack.pop()
      sc.setLocalProperty(Prop, prev)
    }
  }

  /** Waits until every listener event so far has been delivered, then
    * attributes planning time to the innermost span holding it. */
  def settle(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    var p = plans.poll()
    while (p != null) {
      val (at, ms) = p
      val holder = spans.filter(s => s.startMs <= at && (s.endMs < 0 || at <= s.endMs))
        .sortBy(s => depth(s)).lastOption
      holder.foreach(s => counter(s.id).planMs += ms)
      p = plans.poll()
    }
  }

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** The span's duration minus the part of it its children cover. */
  def selfS(s: Span): Double = (s.nanos - children(s.id).map(_.nanos).sum) / 1e9

  /** Counters of a span and all its descendants. */
  def total(id: Int): Counters = {
    val acc = new Counters
    def add(i: Int): Unit = {
      Option(counters.get(i)).foreach { c =>
        acc.jobs += c.jobs; acc.tasks += c.tasks; acc.taskMs += c.taskMs; acc.cpuNs += c.cpuNs
        acc.gcMs += c.gcMs; acc.shuffleBytes += c.shuffleBytes; acc.spillBytes += c.spillBytes
        acc.maxTaskMs = math.max(acc.maxTaskMs, c.maxTaskMs); acc.planMs += c.planMs
        acc.jobIntervals ++= c.jobIntervals
      }
      children(i).foreach(k => add(k.id))
    }
    add(id)
    acc
  }

  /** Wall time of a span not covered by any of its jobs: driver time. */
  def gapS(s: Span): Double = {
    val iv = total(s.id).jobIntervals.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    math.max(0.0, s.nanos / 1e9 - covered / 1e3)
  }

  def close(): Unit = {
    settle()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}
