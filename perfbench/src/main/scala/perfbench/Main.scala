package perfbench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.Tables

/** One timed op (a query or an ask) as the client saw it: wall and
  * process-CPU milliseconds. `status` is "ok", "threw", "timeout" or
  * "wrong"; `rows` is the row count the op produced (ops) or -1. */
final case class Rec(op: String, kind: String, client: Int, pass: Int,
    ms: Double, cpuMs: Double, status: String, rows: Long, error: String)

/** One pass over the workload's op list, with its wall and CPU seconds. */
final case class Pass(index: Int, wallS: Double, cpuS: Double)

/** Wall time and the CPU time of the whole JVM (driver and executor
  * threads, JIT, GC) since creation. On a shared machine, hypervisor steal
  * and other tenants stretch wall time but not the process's CPU time. */
final class Stopwatch {
  private val w0 = System.nanoTime()
  private val c0 = Stopwatch.cpuNs()
  def wallMs: Double = (System.nanoTime() - w0) / 1e6
  def cpuMs: Double = (Stopwatch.cpuNs() - c0) / 1e6
}

object Stopwatch {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
}

/** An op's full output, written for the oracle compare, or the error that
  * kept it from being written. */
final case class Check(op: String, path: String, error: String,
    oracle: Option[String])

/** A stretch of passes run either untraced or traced. */
final case class Segment(traced: Boolean, passes: Seq[Pass], recs: Seq[Rec],
    layers: Seq[(String, Double)])

trait Workload {
  /** Untimed work before the first timed op: build inputs and expected
    * outputs, run the output checks, warm up. Returns the check outputs
    * run.py compares against the DuckDB oracle. */
  def prepare(): Seq[Check]

  /** Run `count` passes over the op list. */
  def segment(tracer: Option[Tracer], count: Int, firstPass: Int): Segment
}

/** The benchmark's JVM side, started by perfbench/run.py:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --out FILE --check DIR --scratch DIR --trace-out FILE
  *     [--ops q1,q2,...] [--clients N]
  *
  * Sets up once and records the set-up time, prepares the workload,
  * runs it for about S seconds (with --trace 1: half traced,
  * then half untraced), and writes every record to --out as JSON. */
object Main {
  /** Nominal seconds per pass: the op lists are sized to about this. */
  val PassS = 6.5
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val dir = opt("data")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

    // Set-up, once per run and cold: from JVM start until the first timed
    // op could run — session, reader resolution, warm-up. Timed both as
    // wall time and as the JVM's CPU time since process start.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val spark = session(cpus)
    val resolveMs = resolveTables(spark, dir)
    warmUp(spark, dir)
    val setupWallS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val setupCpuS = Stopwatch.cpuNs() / 1e9

    val workload: Workload = opt("workload") match {
      case w if w.startsWith("ops_") =>
        new OpsWorkload(spark, dir, opt("ops").split(",").toSeq,
          opt("seed").toLong, opt("check"), opt("scratch"))
      case w if w.startsWith("ask_") =>
        new AskWorkload(spark, dir, opt("clients").toInt, opt("seed").toLong)
      case w => sys.error(s"unknown workload $w")
    }
    val prep = new Stopwatch
    val checks = workload.prepare()
    val prepareWallS = prep.wallMs / 1e3
    // A fixed number of passes: one per PassS of --seconds, at least two
    // (one per half of a traced run). The JIT keeps speeding passes up long
    // after warm-up, so a deadline made slow runs fit fewer passes, all
    // earlier on the warm-up curve, which widened the spread.
    def fit(s: Double, least: Int) = math.max(least, math.round(s / PassS).toInt)
    val liveHeap = liveHeapMb()

    val segments =
      if (!traced) Seq(workload.segment(None, fit(seconds, 2), 0))
      else {
        // traced half first: the first timed passes still warm the JIT,
        // so this order can only overstate the tracing overhead
        val tracer = new Tracer(spark)
        tracer.register()
        val traced = workload.segment(Some(tracer), fit(seconds / 2, 1), 0)
        tracer.unregister()
        tracer.write(opt("trace-out"))
        Seq(workload.segment(None, fit(seconds / 2, 1), traced.passes.size),
          traced)
      }

    val result = ListMap(
      "setup_cpu_s" -> setupCpuS,
      "setup_wall_s" -> setupWallS,
      "resolve_ms" -> resolveMs,
      "prepare_wall_s" -> prepareWallS,
      "checks" -> checks,
      "segments" -> segments.map(s => ListMap("traced" -> s.traced,
        "passes" -> s.passes, "recs" -> s.recs, "layers" -> ListMap(s.layers: _*))),
      "live_heap_mb" -> liveHeap,
      "peak_rss_mb" -> peakRssMb(),
      "stamp" -> ListMap("nproc" -> Runtime.getRuntime.availableProcessors,
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "jvm" -> System.getProperty("java.version"),
        "spark" -> spark.version))
    json.writeValue(new java.io.File(opt("out")), result)
    spark.stop()
  }

  /** Bench's session settings. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** First `Tables` resolution of every table; returns the total ms. */
  def resolveTables(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    tables.foreach {
      case "events" => Tables.events(spark, dir)
      case t => Tables(spark, dir, t)
    }
    (System.nanoTime() - t0) / 1e6
  }

  /** Bench's warm-up queries. */
  def warmUp(spark: SparkSession, dir: String): Unit =
    for (w <- Seq("q_group_agg", "q_join_inner", "q_window_over", "q_topk",
        "q_str_funcs"))
      graft.SparkEntry.queries(w)(spark, dir).count()

  /** High-water mark of this process's resident memory (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally src.close()
  }

  /** Heap still reachable once the workload is prepared (set-up, checks
    * and warm-up done, the same work in every run): used heap after full
    * collections. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300) // lets Spark's ContextCleaner drop what the GC freed
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}
