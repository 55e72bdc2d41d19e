package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A closed loop of one client running `ops` (SparkEntry query ids) one
  * after another, in an order the seed shuffles. Each op builds its query
  * with `SparkEntry.queries(q)(spark, dir)` and forces it with
  * `queryExecution.toRdd.count()`, as Bench does; residue is cleared before
  * every timed op. */
final class OpsWorkload(spark: SparkSession, dir: String, ops: Seq[String],
    seed: Long, checkDir: String, scratchDir: String) extends Workload {

  private val order = new scala.util.Random(seed).shuffle(ops)
  private val fns = order.map(q => q -> SparkEntry.queries(q)).toMap
  private val timeoutMs = 60000.0

  /** Write each op's full result as parquet (as Verify does) for the
    * oracle compare. Doubles as the warm-up pass. */
  def prepare(): Seq[Check] = {
    val tsKey = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try order.map { q =>
      OpsWorkload.clearResidue(spark)
      val path = s"$checkDir/$q"
      val error =
        try { fns(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(path); null }
        catch { case e: Throwable => Main.message(e) }
      Check(q, path, error, SparkEntry.oracleSql.get(q))
    } finally spark.conf.unset(tsKey)
  }

  def segment(tracer: Option[Tracer], count: Int, firstPass: Int): Segment = {
    val recs = ArrayBuffer.empty[Rec]
    val passes = ArrayBuffer.empty[Pass]
    val probe = new Probe
    var p = firstPass
    while (passes.size < count) {
      val ps = new Stopwatch
      for (q <- order) recs += (tracer match {
        case None => runOp(q, p)
        case Some(t) => tracedOp(q, p, t, probe)
      })
      passes += Pass(p, ps.wallMs / 1e3, ps.cpuMs / 1e3)
      p += 1
    }
    Segment(tracer.isDefined, passes.toSeq, recs.toSeq,
      tracer.map(t => probe.layers(t, recs.size)).getOrElse(Nil))
  }

  private def finish(q: String, p: Int, t0: Stopwatch,
      outcome: => Long): Rec = {
    val (rows, error) =
      try (outcome, null)
      catch { case e: Throwable => (-1L, Main.message(e)) }
    val ms = t0.wallMs
    val status =
      if (error != null) "threw" else if (ms > timeoutMs) "timeout" else "ok"
    Rec(q, "op", 0, p, ms, t0.cpuMs, status, rows, error)
  }

  private def runOp(q: String, p: Int): Rec = {
    OpsWorkload.clearResidue(spark)
    finish(q, p, new Stopwatch, fns(q)(spark, dir).queryExecution.toRdd.count())
  }

  /** Per-layer observations of the traced ops. */
  private final class Probe {
    val exchanges = ArrayBuffer.empty[Int]
    val files = ArrayBuffer.empty[Long]
    val roots = ArrayBuffer.empty[Span]

    def layers(t: Tracer, n: Int): Seq[(String, Double)] = {
      t.drain()
      val spans = t.spans.toArray(Array.empty[Span]).toSeq
      def per(name: String) = spans.filter(_.name == name).map(_.ms).sum / n
      val constructJobs =
        roots.map(r => t.jobsOf(r.root).count(_.phase == "construct")).sum
      Seq("ops.construct_ms" -> per("construct"),
        "ops.construct_jobs" -> constructJobs.toDouble / n,
        "plan.analyze_ms" -> per("plan.analyze"),
        "plan.optimize_ms" -> per("plan.optimize"),
        "plan.physical_ms" -> per("plan.physical"),
        "plan.exchanges" -> exchanges.sum.toDouble / n) ++
        Layers.exec(t, roots.toSeq, spark.sparkContext.defaultParallelism) ++
        Seq("exec.output_files" -> files.sum.toDouble / n) ++ Layers.noEngine
    }
  }

  /** The traced op: construct, then a fresh QueryExecution of the built
    * plan with analysis, optimization and physical planning forced one at
    * a time, then execution. Construction already analyzes the plan once
    * (Spark analyzes eagerly), so `plan.analyze` is a second analysis. */
  private def tracedOp(q: String, p: Int, t: Tracer, probe: Probe): Rec = {
    OpsWorkload.clearResidue(spark)
    val root = s"$q#$p"
    val before = OpsWorkload.countFiles(scratchDir)
    t.enter(root)
    val start = t.nowMs
    val rec = finish(q, p, new Stopwatch, {
      val df = t.span(root, "construct")(fns(q)(spark, dir))
      val qe = t.span(root, "plan.analyze") {
        val qe = spark.sessionState.executePlan(df.queryExecution.logical)
        qe.analyzed
        qe
      }
      t.span(root, "plan.optimize")(qe.optimizedPlan)
      t.span(root, "plan.physical")(qe.executedPlan)
      val rows = t.span(root, "exec")(qe.toRdd.count())
      probe.exchanges += Tracer.exchanges(qe.executedPlan)
      rows
    })
    val span = Span(root, "op", start, t.nowMs)
    t.add(span)
    t.leave()
    probe.roots += span
    probe.files += OpsWorkload.countFiles(scratchDir) - before
    rec
  }
}

object OpsWorkload {

  /** Bench's residue rule: drop result memos and persisted blocks so no
    * timed op reads another op's result. Kept on purpose: the `Tables`
    * reader frames, the codegen cache and the KMeans codebook. */
  def clearResidue(spark: SparkSession): Unit = {
    graft.ops.Dedup.clearCaches()
    graft.ops.TextAnalysis.clearCaches()
    graft.ops.Curation.clearCaches(spark)
    graft.ops.Graph.clearCaches()
    graft.ops.Similarity.clearPersists(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Data files under `dir` (names not starting with `.` or `_`). */
  def countFiles(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => java.nio.file.Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).count()
      finally s.close()
    }
  }
}

/** Exec-layer metrics shared by the ops and ask workloads: Spark work
  * attributed to each root span, averaged per op. */
object Layers {
  /** The layers a workload does not pass through read 0. */
  val noOps: Seq[(String, Double)] = Seq("ops.construct_ms", "ops.construct_jobs",
    "plan.analyze_ms", "plan.optimize_ms", "plan.physical_ms", "plan.exchanges")
    .map(_ -> 0.0)
  val noEngine: Seq[(String, Double)] = Seq("engine.describe_ms",
    "engine.llm_calls", "engine.llm_ms", "engine.guard_ms", "engine.exec_ms",
    "engine.self_ms", "engine.cache_hit_ratio", "engine.attempts_per_ask",
    "engine.wrong_answers").map(_ -> 0.0)

  def exec(t: Tracer, roots: Seq[Span], cores: Int): Seq[(String, Double)] = {
    val n = roots.size.max(1).toDouble
    val byRoot = roots.map(r => r -> t.jobsOf(r.root))
    val js = byRoot.flatMap(_._2)
    val jobWall = byRoot.map { case (r, j) =>
      Tracer.covered(j.map(x => (x.start, x.end)), r.start, r.end) }.sum
    val taskMs = js.map(_.taskMs).sum.toDouble
    def mb(f: JobAgg => Long) = js.map(f).sum / 1e6 / n
    Seq("exec.wall_ms" -> jobWall / n,
      "exec.jobs" -> js.size / n,
      "exec.stages" -> js.map(_.stages).sum / n,
      "exec.tasks" -> js.map(_.tasks).sum / n,
      "exec.task_ms" -> taskMs / n,
      "exec.cpu_ms" -> js.map(_.cpuNs).sum / 1e6 / n,
      "exec.gc_ms" -> js.map(_.gcMs).sum / n,
      "exec.wait_ms" -> js.filter(_.firstLaunch < Double.MaxValue)
        .map(j => j.firstLaunch - j.start).sum / n,
      "exec.busy_ratio" -> taskMs / (roots.map(_.ms).sum.max(1e-9) * cores),
      "exec.input_mb" -> mb(_.inB),
      "exec.shuffle_read_mb" -> mb(_.shrB),
      "exec.shuffle_write_mb" -> mb(_.shwB),
      "exec.spill_mb" -> mb(_.spillB),
      "exec.output_mb" -> mb(_.outB))
  }
}
