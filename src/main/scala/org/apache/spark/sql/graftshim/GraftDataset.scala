package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Bridge to the package-private Dataset constructor so library code can
  * materialize a DataFrame from a hand-built LogicalPlan (the standard
  * extension-library pattern; Spark exposes no public equivalent). */
object GraftDataset {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Release the storage blocks behind a `localCheckpoint()`'d DataFrame.
    * `Dataset.unpersist` only uncaches CacheManager entries; a checkpoint's
    * blocks belong to the materialized RDD inside its LogicalRDD leaf and
    * otherwise live until GC — which in an iterative loop means one
    * generation of blocks accumulating per round (r2 ADVICE). */
  def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Rows of `df`, counted over its column-pruned plan (`select()`, a
    * `Project(Nil)` that keeps every row and reads no column) with
    * `toRdd.count()`: one job with no exchange for a scan, where
    * `Dataset.count()` over several partitions plans an aggregate whose
    * exchange costs a second job under AQE. It runs as one SQL execution whose call site is the
    * caller's line (`count at <caller's file>:<line>`), so listeners see it
    * like any other action. */
  def count(df: DataFrame): Long = {
    val qe = df.select().queryExecution
    SQLExecution.withNewExecutionId(qe, Some("count"))(qe.toRdd.count())
  }

  /** The first `n` rows of `local`, the optimized plan of `df`, decoded by
    * the deserializer `df.collect()` uses (the frame's encoder resolved
    * against the plan's output): the rows `df.limit(n).collect()` returns,
    * with no SQL execution. */
  def localHead(df: DataFrame, local: LocalRelation, n: Int): Array[Row] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val fromRow = ds.exprEnc
      .resolveAndBind(local.output, ds.sparkSession.sessionState.analyzer)
      .createDeserializer()
    local.data.iterator.take(n).map(fromRow).toArray
  }
}
