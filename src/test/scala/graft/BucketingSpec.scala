package graft

import org.apache.spark.sql.functions._

/** Storage-layout scale patterns: bucketing for shuffle-free co-located
  * joins and partitionBy for partition-pruned scans — the two levers that
  * decide whether a 100 TB join/scan shuffles or not. Asserted on plans,
  * not vibes. */
class BucketingSpec extends SparkSpec {

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("bucketed tables join without any exchange") {
    // tables get explicit paths, so no warehouse config is needed
    val wh = java.nio.file.Files.createTempDirectory("graft_wh")
    // disable auto-broadcast so only co-location can avoid the shuffle
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sf)
        .write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/orders_b").saveAsTable("orders_b")
      Tables.lineitem(spark, sf)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
        .write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/li_b").saveAsTable("li_b")

      val joined = spark.table("orders_b")
        .join(spark.table("li_b"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(countOccurrences(plan, "Exchange") == 0,
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS li_b")
    }
  }

  test("q_bucket_join runs concurrently without scratch-table collisions") {
    // two simultaneous invocations (the driver and a user pipeline, say):
    // per-run uuid-namespaced table names and scratch paths mean neither
    // clobbers the other's bucketed tables mid-join, and each verdict is
    // read off the final AQE plan of the join that actually ran
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fn = ops.Layout.queries("q_bucket_join")
    val runs = Future.sequence(Seq(
      Future(fn(spark, sf).collect()), Future(fn(spark, sf).collect())))
    val Seq(a, b) = Await.result(runs, 5.minutes)
    assert(a.nonEmpty && a.sameElements(b),
      "concurrent runs must agree row-for-row")
    assert(a.forall(_.getAs[Int]("exchange_free") == 1),
      "both concurrent joins must be exchange-free")
  }

  test("a query that throws after saving its scratch table still drops it") {
    def saved(): (String, String) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_scratch").toString
      val tbl = s"graft_scratch_${java.util.UUID.randomUUID().toString.take(8)}"
      spark.range(3).write.option("path", s"$dir/t").saveAsTable(tbl)
      (dir, tbl)
    }
    def gone(dir: String, tbl: String) =
      !spark.catalog.tableExists(tbl) && !new java.io.File(dir).exists
    // `no such table!` does not parse, so its DROP throws ahead of the real
    // table's: the query's own error still surfaces, with the failed DROP
    // suppressed into it, and the rest of the cleanup still runs
    for (bad <- Seq(Nil, Seq("no such table!"))) {
      val (dir, tbl) = saved()
      val err = intercept[IllegalStateException] {
        ops.dropAfter(spark, dir, bad :+ tbl: _*)(throw new IllegalStateException("failed mid-query"))
      }
      assert(err.getMessage == "failed mid-query", "the query's own error surfaces")
      assert(err.getSuppressed.length == bad.size, err.getSuppressed.toSeq)
      assert(gone(dir, tbl), s"the scratch outlives its failed query (with $bad)")
    }
    // a query that succeeded reports its failed cleanup, after finishing it
    val (dir, tbl) = saved()
    intercept[org.apache.spark.sql.AnalysisException] {
      ops.dropAfter(spark, dir, "no such table!", tbl)(1)
    }
    assert(gone(dir, tbl), "a failed DROP stops the remaining cleanup")
    // q_compact_files counts its files through the Hadoop filesystem and
    // keeps both of its dirs under one scratch dir that dropAfter deletes
    val layout = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_SCRATCH",
      System.getProperty("java.io.tmpdir")), "graft_layout")
    def compactDirs = Option(layout.list).toSeq.flatten.filter(_.startsWith("compact_")).toSet
    val left = compactDirs
    val r = ops.Layout.queries("q_compact_files")(spark, sf).collect().head
    assert(r.getAs[Int]("files_before") == 64 && r.getAs[Int]("files_after") > 0, r)
    assert(compactDirs == left, "q_compact_files leaves its scratch dirs behind")
  }

  test("q_dedup_index: bucketed band index probes with zero corpus-side exchange") {
    val r = SparkEntry.queries("q_dedup_index")(spark, sf).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Int]("corpus_side_exchange_free") == 1,
      "the saved index must never reshuffle when the batch probes it")
    assert(r.head.getAs[Long]("n_candidates") > 0L,
      "mutated batch docs must collide with their corpus originals")
    assert(r.head.getAs[Long]("n_index_rows") == 4L * Tables.documents(spark, sf).count(),
      "index carries 4 band rows per corpus doc")
  }

  test("partitionBy layout gives partition-pruned scans") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part")
    Tables.lineitem(spark, sf)
      .write.mode("overwrite").partitionBy("l_returnflag")
      .parquet(dir.toString)
    val pruned = spark.read.parquet(dir.toString)
      .filter(col("l_returnflag") === "A")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"partition filter must prune directories:\n$scan")
    val full = spark.read.parquet(dir.toString).count()
    assert(pruned.count() < full)
  }
}
