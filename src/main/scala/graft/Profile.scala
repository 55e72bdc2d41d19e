package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.graftshim.GraftEvents

/** Dev measurement tool (guide §1): run named queries `n` times each in one
  * JVM under Bench's hygiene (Harness session, warm-up, clearResidue before
  * every run, toRdd force) with a stage listener attached. Each run prints
  * one census line — wall seconds, jobs, stages, tasks, summed executor
  * task time, GC, shuffle read/write — and a failed run prints its error,
  * never a time. A slow run's census shows WHERE the extra time went (an
  * extra exchange that should have been reused, a replanned join, a
  * skewed stage), which a wall-clock number alone cannot. After each query
  * the slowest 8 stages of its last successful run follow. Not part of the
  * driver contract.
  *
  * Usage: Profile [-sf <dir>] [-n <runs>] q_a q_b ...   (default sf0.1, 2)
  *
  * To reproduce the bench's suite context (several qids interleaved in
  * one JVM), run Bench with SPARK_GRAFT_ONLY and SPARK_GRAFT_ORDER_SEED.
  */
object Profile {

  private[graft] final case class Stage(id: Int, name: String, ms: Long,
      tasks: Int, taskMs: Long, gcMs: Long, shufRead: Long, shufWrite: Long,
      input: Long)

  /** Collects one run's jobs and completed stages. Events arrive on the
    * listener-bus thread while the main thread resets and reads, so every
    * access holds the lock. */
  private final class Census extends SparkListener {
    private var jobs = 0
    private val stages = scala.collection.mutable.ArrayBuffer.empty[Stage]
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      val st = Stage(si.stageId, stageLabel(si.name, GraftEvents.rddScopes(si)),
        si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
        si.numTasks, m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead)
      synchronized { stages += st }
    }
    def reset(): Unit = synchronized { jobs = 0; stages.clear() }
    def snapshot(): (Int, Vector[Stage]) = synchronized { (jobs, stages.toVector) }
  }

  /** A stage's label: the operation scope of the last RDD it builds that
    * has one (RDD ids grow from parent to child), e.g. `Exchange` or
    * `WholeStageCodegen (2)`; the first line of its call-site name only
    * when no RDD has a scope. AQE submits query stages from a pool thread,
    * so their call site reads `… at CompletableFuture.java:…` and names no
    * operator. */
  private[graft] def stageLabel(callSite: String,
      rddScopes: Seq[(Int, Option[String])]): String =
    rddScopes.sortBy(-_._1).collectFirst { case (_, Some(scope)) => scope }
      .getOrElse(callSite.takeWhile(_ != '\n'))

  /** One run's line, pure so BenchVerdictSpec pins it: a failed run prints
    * its error with no time and no census. */
  private[graft] def runLine(qid: String, run: Int,
      result: Either[String, Double], jobs: Int, stages: Seq[Stage]): String =
    result match {
      case Left(e) => s"ERR $qid $run: $e"
      case Right(sec) =>
        f"RUN $qid%-24s $run%2d sec=$sec%7.3f jobs=$jobs%3d " +
          f"stages=${stages.size}%3d tasks=${stages.map(_.tasks).sum}%5d " +
          f"taskSec=${stages.map(_.taskMs).sum / 1e3}%8.2f " +
          f"gcSec=${stages.map(_.gcMs).sum / 1e3}%6.2f " +
          f"shufR=${stages.map(_.shufRead).sum / 1048576}%6dMB " +
          f"shufW=${stages.map(_.shufWrite).sum / 1048576}%6dMB"
    }

  def main(args: Array[String]): Unit = {
    var sfDir = "/root/testdata/sf0.1"
    var n = 2
    val qids = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) args(i) match {
      case "-sf" => sfDir = args(i + 1); i += 2
      case "-n" => n = args(i + 1).toInt; i += 2
      case q => qids += q; i += 1
    }
    val spark = Harness.session(defaultCpus = 32)
    Harness.warmup(spark, sfDir)
    val census = new Census
    spark.sparkContext.addSparkListener(census)
    for (qid <- qids) {
      val fn = SparkEntry.queries(qid)
      var lastOk: Option[(Int, Vector[Stage])] = None
      for (run <- 1 to n) {
        Harness.clearResidue(spark)
        census.reset()
        val result = Harness.timed(Harness.force(fn(spark, sfDir)))
        // stage completions arrive async on the listener bus
        GraftEvents.drain(spark.sparkContext)
        val (jobs, stages) = census.snapshot()
        println(runLine(qid, run, result, jobs, stages))
        if (result.isRight) lastOk = Some((run, stages))
      }
      lastOk match {
        case None => println(s"  $qid: no successful run, no stage table")
        case Some((run, stages)) =>
          println(s"  $qid run $run, slowest stages:")
          stages.sortBy(-_.ms).take(8).foreach { st =>
            println(f"  stage ${st.id}%4d ${st.ms}%6dms tasks=${st.tasks}%4d " +
              f"taskMs=${st.taskMs}%7d gcMs=${st.gcMs}%5d " +
              f"shR=${st.shufRead / 1000}%8dKB shW=${st.shufWrite / 1000}%8dKB " +
              f"in=${st.input / 1000}%8dKB " + st.name.take(90))
          }
      }
    }
    spark.stop()
  }
}
