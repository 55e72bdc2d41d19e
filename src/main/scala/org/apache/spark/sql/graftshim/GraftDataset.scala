package org.apache.spark.sql.graftshim

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
import org.apache.spark.sql.execution.{CollectLimitExec, CollectTailExec, FileSourceScanExec, SQLExecution, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.internal.SQLConf
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

  /** Whether `df` reads one small file and needs no exchange of its own,
    * so that it can be bound into a larger plan as `Repartition(1, shuffle =
    * false)`: its `CoalesceExec(1)` reports `SinglePartition`, so an
    * aggregate, DISTINCT, ORDER BY, window or shuffled join over it plans no
    * exchange, while the scan runs in the one task it runs in anyway.
    *
    * True when its physical plan (`queryExecution.sparkPlan`, planned once
    * per frame) is a chain of single-child nodes, none of which is an
    * exchange, a top-level LIMIT/OFFSET form or requires a child
    * distribution, ending in one non-bucketed file scan that reads one file
    * of at most `spark.sql.files.openCostInBytes` (4 MB by default) and at
    * most `spark.sql.files.maxPartitionBytes`. Spark never cuts a split
    * smaller than the lesser of the two, so that file is one split on any
    * session; and the operators above the scan, which then run in its one
    * task, read at most that many bytes. A larger frame keeps the
    * `spark.sql.shuffle.partitions` tasks its exchanges give it. The test
    * reads the scan's file listing and builds no reader. False for a
    * streaming frame, and for one whose planning fails: unwrapped, its plan
    * raises that error when run. */
  def singleSplit(df: DataFrame): Boolean = {
    def scan(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case s: FileSourceScanExec => Some(s).filterNot(_.bucketedScan)
      // bound inside a plan, the top-level forms of LIMIT and OFFSET gather
      // their input to one partition through an exchange
      case _: Exchange | _: CollectLimitExec | _: CollectTailExec | _: TakeOrderedAndProjectExec =>
        None
      case _ => p.children match {
        case Seq(child) if p.requiredChildDistribution.forall(_ == UnspecifiedDistribution) =>
          scan(child)
        case _ => None
      }
    }
    val qe = df.queryExecution
    val conf = qe.sparkSession.sessionState.conf
    !df.isStreaming && (try scan(qe.sparkPlan).exists { s =>
      val files = s.selectedPartitions
      files.totalNumberOfFiles == 1 &&
        files.totalFileSize <= math.min(conf.filesOpenCostInBytes, conf.filesMaxPartitionBytes)
    } catch { case NonFatal(_) => false })
  }

  /** The rows `df.collect()` returns, computed on the calling thread when
    * every leaf of its optimized plan is a `LocalRelation` or a
    * `OneRowRelation` and the plan
    * qualifies for `DriverPlan` (covered operators, deterministic, within
    * its row budget): no Spark job and no SQL execution. The rows are
    * evaluated under the session's conf and decoded by the deserializer
    * `collect` uses. None when the plan does not qualify; the caller then
    * collects on Spark. An error the evaluation raises (or the optimizer,
    * as `collect` would) is thrown. */
  def driverRows(df: DataFrame): Option[Array[Row]] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val plan = ds.queryExecution.optimizedPlan
    val session = ds.sparkSession.sessionState
    SQLConf.withExistingConf(session.conf)(DriverPlan.rows(plan)).map { rows =>
      val fromRow = ds.exprEnc.resolveAndBind(plan.output, session.analyzer).createDeserializer()
      rows.iterator.map(fromRow).toArray
    }
  }
}
