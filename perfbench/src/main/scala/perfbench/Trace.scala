package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** One timed interval of the traced run. `root` is the op or ask id all
  * spans of one request share; `name` is the layer boundary ("op", "ask",
  * "construct", "plan.analyze", ...). Times are epoch milliseconds, the
  * clock Spark's listener events use. */
final case class Span(root: String, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spark work attributed to one job: the job's own interval plus the sums
  * of its tasks' metrics. */
final class JobAgg(val id: Int, val root: String, val phase: String,
    val start: Double) {
  @volatile var end: Double = start
  var stages, tasks = 0
  var taskMs, cpuNs, gcMs, inB, shrB, shwB, spillB, outB = 0L
  var firstLaunch: Double = Double.MaxValue
}

/** The traced run's recorder, registered only from the benchmark's side:
  * a SparkListener (jobs, stages, tasks, and SQL executions such as the
  * ask's describe and result queries), and spans the harness opens around
  * each call into a layer. Spans stay in memory until [[write]].
  *
  * Attribution: the calling thread's job group is the request's root id
  * and the local property `perfbench.phase` its current span, so jobs and
  * SQL executions map to the right request even with two ask clients.
  * (A QueryExecutionListener cannot attribute: its events carry neither
  * the job group nor the SQL execution id.) */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = offsetMs + System.nanoTime() / 1e6

  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, JobAgg]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** SQL execution id -> (job group, call site, start, end). */
  private val execs = new ConcurrentHashMap[Long, (String, String, Double, Double)]()

  def register(): Unit = sc.addSparkListener(this)

  def unregister(): Unit = {
    drain()
    sc.removeSparkListener(this)
  }

  /** Block until the listener bus has delivered every posted event. */
  def drain(): Unit = BenchBus.drain(sc)

  /** Tag work the calling thread submits as belonging to `root`. */
  def enter(root: String): Unit = sc.setJobGroup(root, null)
  def leave(): Unit = { sc.clearJobGroup(); sc.setLocalProperty(PhaseKey, null) }

  /** Time `body` as span `name` of `root`; jobs it submits carry `name`. */
  def span[T](root: String, name: String)(body: => T): T = {
    val outer = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, name)
    val t0 = nowMs
    try body
    finally {
      spans.add(Span(root, name, t0, nowMs))
      sc.setLocalProperty(PhaseKey, outer)
    }
  }

  def add(s: Span): Unit = spans.add(s)

  // ---- SparkListener ----
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val j = new JobAgg(e.jobId, prop(GroupKey).orNull,
      prop(PhaseKey).getOrElse("other"), e.time.toDouble)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  private def jobOf(stageId: Int): Option[JobAgg] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    jobOf(e.stageInfo.stageId).foreach(j => j.synchronized(j.stages += 1))

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    jobOf(e.stageId).foreach(j => j.synchronized {
      j.firstLaunch = math.min(j.firstLaunch, e.taskInfo.launchTime.toDouble)
    })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- jobOf(e.stageId); m <- Option(e.taskMetrics)) j.synchronized {
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.inB += m.inputMetrics.bytesRead
      j.shrB += m.shuffleReadMetrics.totalBytesRead
      j.shwB += m.shuffleWriteMetrics.bytesWritten
      j.spillB += m.diskBytesSpilled
      j.outB += m.outputMetrics.bytesWritten
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, (s.jobGroupId.orNull, s.description,
        s.time.toDouble, Double.NaN))
    case s: SparkListenerSQLExecutionEnd =>
      execs.computeIfPresent(s.executionId,
        (_, e) => e.copy(_4 = s.time.toDouble))
    case _ =>
  }

  // ---- read-out (after drain) ----
  def jobsOf(root: String): Seq[JobAgg] =
    jobs.values.asScala.filter(_.root == root).toSeq

  /** Finished SQL executions of `root` as (call site, duration ms). */
  def queriesOf(root: String): Seq[(String, Double)] =
    execs.values.asScala.toSeq.collect {
      case (g, site, a, b) if g == root && !b.isNaN => (site, b - a)
    }

  /** Write spans, jobs and SQL executions as JSON lines. */
  def write(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.start).map { s =>
      ListMap("type" -> "span", "root" -> s.root, "name" -> s.name,
        "start_ms" -> s.start, "ms" -> s.ms, "self_ms" -> selfMs(s))
    } ++ jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      ListMap("type" -> "job", "root" -> j.root, "parent" -> j.phase,
        "id" -> j.id, "start_ms" -> j.start, "ms" -> (j.end - j.start),
        "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs)
    } ++ execs.asScala.toSeq.sortBy(_._1).map { case (id, (g, site, a, b)) =>
      ListMap("type" -> "query", "root" -> g, "id" -> id, "site" -> site,
        "start_ms" -> a, "ms" -> (b - a))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.map(Main.json.writeValueAsString).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
  }

  /** A span's duration minus the part its children cover. A root span's
    * children are the other spans of its root; a phase span's children
    * are the jobs submitted under it. */
  def selfMs(s: Span): Double = {
    val kids =
      if (s.name == "op" || s.name == "ask")
        spans.asScala.filter(k => k.root == s.root && (k ne s))
          .map(k => (k.start, k.end)).toSeq
      else jobsOf(s.root).filter(_.phase == s.name).map(j => (j.start, j.end))
    s.ms - Tracer.covered(kids, s.start, s.end)
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  val GroupKey = "spark.jobGroup.id"
  val PhaseKey = "perfbench.phase"

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    for ((a, b) <- intervals.map { case (a, b) => (a max lo, b min hi) }
        .filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (b > reach) { total += b - (a max reach); reach = b }
    }
    total
  }

  /** Shuffle and broadcast exchanges in an executed plan, through AQE
    * stages and subqueries. */
  def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: Exchange => e }.size
}
