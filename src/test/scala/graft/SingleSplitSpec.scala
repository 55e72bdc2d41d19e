package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graftshim.GraftDataset
import org.apache.spark.sql.types.StructType

import graft.engine._

/** Asks over frames that read one small file: `DriverRowsSpec`'s frames
  * `t` and `u`, each written as one parquet file. The guard binds
  * such a frame as `Repartition(1, shuffle = false)`, so an aggregate,
  * DISTINCT or ORDER BY over it runs as one Spark job; every corpus query
  * must answer as `spark.sql` does over temp views of the same files (the
  * unwrapped plan). Frames that read more than one file or a file larger
  * than `spark.sql.files.openCostInBytes`, carry an exchange of their own or
  * are bucketed are bound as they are. */
class SingleSplitSpec extends SparkSpec {
  import DriverRowsSpec._

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft_single_split").toString

  /** `table` written as `files` parquet files under `name`. */
  private def write(name: String, table: (String, Seq[Row]), files: Int = 1): String = {
    val path = s"$dir/$name"
    frame(spark, table).repartition(files).write.parquet(path)
    path
  }

  private lazy val (tPath, uPath) = (write("t", T), write("u", U))
  private lazy val tables = Seq("t" -> spark.read.parquet(tPath), "u" -> spark.read.parquet(uPath))

  /** A session of its own holding temp views `t` and `u` over the same
    * files: `spark.sql` there runs the plan with no frame bound. */
  private lazy val views: SparkSession = {
    val s = spark.newSession()
    s.read.parquet(tPath).createOrReplaceTempView("t")
    s.read.parquet(uPath).createOrReplaceTempView("u")
    s
  }

  private val bucketed = "single_split_bucketed"

  override protected def afterAll(): Unit =
    try spark.sql(s"DROP TABLE IF EXISTS $bucketed")
    finally try org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    finally super.afterAll()

  private def session(sql: String) =
    new GraftSession(spark, FakeLlm(s"```sql\n$sql\n```"), GraftConfig(maxRetries = 0))

  private def bound(sql: String, frames: Seq[(String, DataFrame)]): LogicalPlan =
    SqlGuard.accept(spark, sql, frames).fold(fail(_), identity)

  private def coalesced(plan: LogicalPlan): Int =
    plan.collect { case Repartition(1, false, _) => 1 }.size

  private def ran(sql: String): DataFrame =
    session(sql).runSql(tables, sql).fold(e => fail(e.message), identity)

  for ((name, sql, ordered) <- corpus) test(s"single-split frames answer as the unwrapped plan: $name") {
    val ans = session(sql).askNamed(tables, name)
    sameAnswer(ans, views.sql(sql), ordered)
  }

  test("a single-file frame is bound as one partition, each time it is read") {
    assert(tables.forall { case (_, df) => GraftDataset.singleSplit(df) })
    assert(coalesced(bound("SELECT * FROM t JOIN u ON t.id = u.id", tables)) == 2)
    assert(coalesced(bound("SELECT a.id FROM t a JOIN t b ON a.id = b.id", tables)) == 2)
  }

  for ((name, sql) <- Seq(
      ("count(*)", "SELECT count(*) AS n FROM t"),
      ("count(DISTINCT)", "SELECT count(DISTINCT g) AS n FROM t"),
      ("GROUP BY … ORDER BY", "SELECT g, sum(x) AS s FROM t GROUP BY g ORDER BY g NULLS FIRST")))
    test(s"$name over a single-split frame runs one job, the unwrapped plan more") {
      // the ask's preview: its first 21 rows
      assert(jobsOf(ran(sql).limit(21).collect()) == 1)
      assert(jobsOf(views.sql(sql).limit(21).collect()) > 1)
    }

  test("a multi-file frame, a frame with an exchange and a bucketed table are bound unwrapped") {
    val twoFiles = spark.read.parquet(write("u2", U, files = 2))
    assert(twoFiles.inputFiles.length == 2)
    // one bucket in one file: only its bucketing keeps it unwrapped
    frame(spark, T).coalesce(1).write.bucketBy(1, "id")
      .option("path", s"$dir/bucketed").saveAsTable(bucketed)
    val buckets = spark.table(bucketed)
    assert(buckets.inputFiles.length == 1)
    for (df <- Seq(twoFiles, tables.head._2.groupBy("g").count(), buckets)) {
      assert(!GraftDataset.singleSplit(df), df.queryExecution.sparkPlan)
      assert(coalesced(bound("SELECT * FROM v", Seq("v" -> df))) == 0)
    }
  }

  /** Whether `df` is bound as one partition with conf `key` at `value`. */
  private def singleSplitWith(key: String, value: String)(df: => DataFrame): Boolean = {
    val was = spark.conf.get(key)
    spark.conf.set(key, value)
    try GraftDataset.singleSplit(df) finally spark.conf.set(key, was)
  }

  for (key <- Seq("spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes"))
    test(s"a file larger than $key is bound unwrapped, split or not") {
      val path = s"$dir/t_csv_gz"
      if (!new java.io.File(path).exists)
        spark.read.parquet(tPath).write.option("compression", "gzip").csv(path)
      def gz = spark.read.schema(StructType.fromDDL(T._1)).csv(path)
      def parquet = spark.read.parquet(tPath)
      assert(GraftDataset.singleSplit(gz) && GraftDataset.singleSplit(parquet))
      assert(!singleSplitWith(key, "64")(gz))
      assert(!singleSplitWith(key, "64")(parquet))
    }

  test("a single-split frame joined to a multi-split one hash-partitions both sides") {
    val frames = Seq("t" -> tables.head._2, "u" -> spark.read.parquet(write("u3", U, files = 3)))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val sql = "SELECT t.id, u.k FROM t JOIN u ON t.id = u.id"
      val out = session(sql).runSql(frames, sql).fold(e => fail(e.message), identity)
      val plan = out.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
      assert(shuffles.size == 2, plan)
      assert(shuffles.forall(_.outputPartitioning match {
        case h: HashPartitioning => h.numPartitions == n
        case _ => false
      }), plan)
      assert(plan.collect { case c: CoalesceExec => c }.size == 1, plan)
      assert(out.collect().map(_.toString).sorted.toSeq ==
        views.sql(sql).collect().map(_.toString).sorted.toSeq)
    } finally spark.conf.set(key, was)
  }
}
