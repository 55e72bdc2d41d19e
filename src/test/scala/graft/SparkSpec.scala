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
}
