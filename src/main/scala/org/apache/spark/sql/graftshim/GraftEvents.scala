package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Bridges for listener-side measurement: the listener bus and an RDD's
  * operation scope are `private[spark]` (same shim pattern as
  * [[GraftDataset]]). */
object GraftEvents {

  /** Block until every event posted so far has reached every listener, so
    * a listener's counts are read after the bus drains, not after a
    * sleep. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** Each RDD of `stage` as (RDD id, name of the operation scope that
    * created it, e.g. `Exchange` or `WholeStageCodegen (2)`). */
  def rddScopes(stage: StageInfo): Seq[(Int, Option[String])] =
    stage.rddInfos.map(r => (r.id, r.scope.map(_.name)))
}
