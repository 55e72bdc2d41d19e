package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one lazy SparkSession per JVM across suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // no nanosAsLong here: Tables.eventsRaw enables it on demand, only
      // when the testdata's events.ts is actually TIMESTAMP(NANOS)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  /** A suite's end releases the swept memos it filled and the blocks they
    * pin, so the next suite on the shared session starts without them.
    * Suites run one at a time in the forked test JVM, so no running suite
    * loses a block. */
  override protected def afterAll(): Unit =
    try Harness.clearResidue(spark) finally super.afterAll()

  /** Spark jobs `body` submits, counted exactly: they carry a fresh job
    * group, and the listener bus is drained before the count is read. */
  protected def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(counter)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      org.apache.spark.sql.graftshim.GraftEvents.drain(sc)
    } finally sc.removeSparkListener(counter)
    jobs.get
  }

  /** SQL executions started while `body` runs; the listener bus is drained
    * before and after, so only `body`'s own count (run it on one thread). */
  protected def executionsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    org.apache.spark.sql.graftshim.GraftEvents.drain(sc)
    val executions = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        if (e.isInstanceOf[org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart])
          executions.incrementAndGet()
    }
    sc.addSparkListener(counter)
    try {
      body
      org.apache.spark.sql.graftshim.GraftEvents.drain(sc)
    } finally sc.removeSparkListener(counter)
    executions.get
  }
}
