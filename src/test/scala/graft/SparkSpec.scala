package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; scalatest
  * suites run sequentially in the forked test JVM). */
object TestSession {
  // keep Derby's log out of the repo tree (same as GraftSession)
  System.setProperty("derby.stream.error.file",
    s"${System.getProperty("java.io.tmpdir")}/graft_derby.log")

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // bucketing spec needs SMJ
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** Runs `body` and returns its value with the number of Spark jobs it
    * started. Only jobs carrying this thread's local property are
    * counted, and the listener bus is drained on both sides, since
    * events reach listeners asynchronously. */
  def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = "graft.spec.countingJobs"
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null)) jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(counter)
    sc.setLocalProperty(tag, "1")
    val out = try body finally {
      sc.setLocalProperty(tag, null)
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(counter)
    }
    (out, jobs.get)
  }
}
