package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Re-measures the crossover behind `DriverPlan.RowBudget`: wall time of a
  * group-by over one `createDataFrame` frame, and of a join then group-by
  * of two, evaluated on the driver (with no budget) and collected on Spark,
  * as the frames grow. Each query is planned afresh per run, as an ask
  * plans it; a warm-up round runs first and each time is the best of 3.
  *
  *   sbt "Test/runMain org.apache.spark.sql.graftshim.DriverCrossover [rows,rows,…]"
  *
  * One line per shape and size: rows a side, driver and Spark ms, and
  * whether the plan stays within `RowBudget` (the driver path takes it).
  * `SPARK_GRAFT_CPUS` sets the local cores (default 4). */
object DriverCrossover {

  private val shapes = Seq(
    "group_by" -> "SELECT k, count(*) AS n, sum(v) AS s FROM a GROUP BY k",
    "join_group_by" -> ("SELECT a.k, count(*) AS n, sum(b.v) AS s FROM a JOIN b " +
      "ON a.id = b.id GROUP BY a.k"))

  private def frame(spark: SparkSession, n: Int, salt: Int): DataFrame =
    spark.createDataFrame((0 until n).map(i => (i, (i * 7919 + salt) % 1000, i * 0.5)))
      .toDF("id", "k", "v")

  private def bestMs(body: => Any): Long =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime
      body
      (System.nanoTime - t0) / 1000000
    }.min

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.fold(Seq(40000, 80000, 120000, 160000, 240000, 320000))(
      _.split(",").toSeq.map(_.toInt))
    val spark = graft.Harness.session(4)
    try {
      def measure(n: Int): Seq[(String, Long, Long, Boolean)] = {
        frame(spark, n, 1).createOrReplaceTempView("a")
        frame(spark, n, 2).createOrReplaceTempView("b")
        def plan(sql: String) = spark.sql(sql).queryExecution.optimizedPlan
        shapes.map { case (name, sql) =>
          val driver = bestMs(DriverPlan.rows(plan(sql), Long.MaxValue).get)
          val onSpark = bestMs(spark.sql(sql).collect())
          (name, driver, onSpark, DriverPlan.rows(plan(sql)).isDefined)
        }
      }
      measure(sizes.head)
      for (n <- sizes; (name, driver, onSpark, fits) <- measure(n))
        println(s"$name rows_a_side=$n driver_ms=$driver spark_ms=$onSpark within_budget=$fits")
    } finally spark.stop()
  }
}
