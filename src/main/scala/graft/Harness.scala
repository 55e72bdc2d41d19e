package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The mains' one copy of bench hygiene: the session every main builds
  * (Bench, Profile, ScaleRehearsal, Explain, Verify, Smoke, Demo), and the
  * warm-up, residue clear and min-of-2 timing the measurement mains share
  * — so a fix to any of them (a memo clear, a session conf) reaches every
  * tool at once. */
object Harness {

  /** The bench session: `local[SPARK_GRAFT_CPUS]` (default `defaultCpus`)
    * with as many shuffle partitions. */
  def session(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // nanosAsLong is enabled on demand by Tables.eventsRaw, only when
      // events.ts is actually TIMESTAMP(NANOS)
      .config("spark.ui.enabled", "false")
      // the default 100-entry codegen cache thrashes under a 200+-query
      // suite: every timed run re-pays Janino compilation and C2 warmup
      // of brand-new classes, whose cost depends on JVM-global JIT/code-
      // cache state — the r12 variance root cause (DESIGN.md). A session
      // serving this many distinct queries holds them all.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** JIT the common scan/agg/join/window code paths first, so measured
    * numbers are steady-state rather than first-query codegen and
    * classloading noise. */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    for (w <- Seq("q_group_agg", "q_join_inner", "q_window_over", "q_topk",
        "q_str_funcs")) {
      try SparkEntry.queries(w)(spark, sfDir).count()
      catch { case _: Throwable => }
    }

  /** Release anything a previous query left so no timing pays another
    * query's residue: the session's swept memos ([[SessionMemo.Swept]]),
    * cached tables, and any still-registered RDD blocks (spark.ml fit
    * internals, leaked localCheckpoint generations). The other scopes and
    * the codegen cache are kept on purpose (see their declarations). */
  def clearResidue(spark: SparkSession): Unit = {
    SessionMemo.clear(spark, SessionMemo.Swept)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** The timed body: force through toRdd, NOT count(). A count() on top
    * lets Catalyst re-optimize with every output column pruned, and for
    * plans ending in a row-preserving join (unique-keyed left join — e.g.
    * q_span_merge/q_span_flag) the whole analytical subtree collapses to
    * a bare file scan, timing an empty plan. toRdd executes the query's
    * own physical plan, all columns included, with zero driver transfer
    * beyond partition counts. */
  def force(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** One timed run, or the error it threw: a failed run is never a time. */
  def timed(body: => Any): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { body; Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(String.valueOf(e).take(200)) }
  }

  /** The fastest successful run, or the last error when none succeeded —
    * so a run that breaks fast can never read as a speed-up. */
  def best(runs: Seq[Either[String, Double]]): Either[String, Double] = {
    val ok = runs.collect { case Right(t) => t }
    if (ok.nonEmpty) Right(ok.min) else runs.last
  }

  /** Min of 2 isolated runs: each run rebuilds its own caches
    * (clearResidue before it, outside the timer), and the min discards
    * transient host contention / GC pauses — the round-3 bench recorded
    * 2-10× inflation on ~30 UNCHANGED queries purely from driver-host
    * load, which single-shot timing cannot distinguish from a plan
    * regression. */
  def minOf2(spark: SparkSession)(body: => Any): Either[String, Double] =
    best((1 to 2).map { _ =>
      clearResidue(spark)
      timed(body)
    })
}
