package graft

import org.apache.spark.sql.functions._

/** The driver has regenerated `events.ts` as both TIMESTAMP(NANOS) and
  * TIMESTAMP(MICROS, NTZ) across rounds; fabricate both layouts so neither
  * regeneration can silently re-break the dispatch again (the r6 break:
  * StreamingSpec hardcoded `ts DIV 1000` against micros data). Spark cannot
  * WRITE parquet TIMESTAMP(NANOS), but a plain INT64 column reads back
  * exactly like a NANOS column does under nanosAsLong=true (a raw-nanos
  * Long), so the Long branch is covered by a raw-long fabrication.
  */
class TablesSpec extends SparkSpec {

  private def fabricate(df: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir.toString
  }

  // one known instant: 2024-03-01T12:34:56.789 UTC
  private val micros = 1709296496789000L
  private val wallClock = java.time.LocalDateTime.ofEpochSecond(
    micros / 1000000L, ((micros % 1000000L) * 1000L).toInt,
    java.time.ZoneOffset.UTC)

  test("events dispatch: micros/NTZ layout passes through unchanged") {
    import spark.implicits._
    val d = fabricate(Seq((1L, micros)).toDF("event_id", "us")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts")))
    assert(Tables.events(spark, d).select("ts").head.get(0) == wallClock)
    assert(!Tables.eventsLayout(spark, d).tsIsLong)
  }

  test("events dispatch: raw-long nanos layout truncates to the same micros") {
    import spark.implicits._
    // sub-microsecond noise (+321 ns) must truncate away, not round
    val d = fabricate(Seq((1L, micros * 1000L + 321L)).toDF("event_id", "ts"))
    assert(Tables.events(spark, d).select("ts").head.get(0) == wallClock)
    assert(Tables.eventsLayout(spark, d).tsIsLong)
  }

  test("events dispatch: adjusted-to-UTC (LTZ) layout normalizes to the same wall clock") {
    import spark.implicits._
    // a plain TimestampType column lands as INT96 or adjusted-to-UTC
    // micros depending on writer conf — either reads back as TimestampType,
    // exercising the defensive third branch of both dispatch points
    val d = fabricate(Seq((1L, micros)).toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts")))
    assert(Tables.events(spark, d).select("ts").head.get(0) == wallClock)
    val lay = Tables.eventsLayout(spark, d)
    assert(!lay.tsIsLong)
    val r = spark.read.schema(lay.schema).parquet(s"$d/events.parquet")
      .select(lay.tsTimestampExpr.as("t"), lay.tsMicrosExpr.as("us")).head
    assert(r.getLong(1) == micros, "LTZ layout must yield the same micros")
  }

  test("EventsLayout stream schema + normalizers agree across layouts") {
    import spark.implicits._
    def full(ts: org.apache.spark.sql.Column) = Seq(1L).toDF("event_id")
      .select(col("event_id"), ts.as("ts"), lit(7L).as("user_id"),
        lit("click").as("event_type"), lit(1.0).as("value"),
        lit("{}").as("props"))
    val ntzDir = fabricate(
      full(timestamp_micros(lit(micros)).cast("timestamp_ntz")))
    val longDir = fabricate(full(lit(micros * 1000L)))
    val out = Seq(ntzDir, longDir).map { d =>
      val lay = Tables.eventsLayout(spark, d)
      spark.read.schema(lay.schema).parquet(s"$d/events.parquet")
        .select(lay.tsTimestampExpr.as("t"), lay.tsMicrosExpr.as("us"))
        .head
    }
    assert(out(0) == out(1), "both layouts must normalize identically")
    assert(out(0).getLong(1) == micros)
  }

  test("Harness.clearResidue drops persisted blocks and cached tables, " +
      "and keeps the reader frames") {
    val li = Tables.lineitem(spark, sf)
    li.select("l_orderkey").persist().count()
    // an RDD only the persistent-RDD sweep can see (spark.ml fit internals)
    spark.sparkContext.parallelize(1 to 4).persist().count()
    li.createOrReplaceTempView("graft_residue_probe")
    spark.catalog.cacheTable("graft_residue_probe")
    spark.table("graft_residue_probe").count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    assert(spark.catalog.isCached("graft_residue_probe"))
    // a swept memo (the persisted simhash signatures) and a fitted model
    SparkEntry.queries("q_dedup_simhash")(spark, sf).queryExecution.toRdd.count()
    ops.Similarity.prewarmCodebook(spark, sf)
    def scopes = SessionMemo.entries(spark).map(_._2).toSet
    assert(scopes.contains(SessionMemo.Swept))
    try {
      Harness.clearResidue(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      assert(!spark.catalog.isCached("graft_residue_probe"))
      assert(!scopes.contains(SessionMemo.Swept), "swept memos must go")
      // reader metadata and the KMeans codebook are declared keeps
      assert(Tables.lineitem(spark, sf) eq li)
      assert(SessionMemo.entries(spark)
        .contains("Similarity" -> SessionMemo.FittedModel))
    } finally spark.catalog.dropTempView("graft_residue_probe")
  }

  test("a suite's end releases the swept memos it filled") {
    def swept = SessionMemo.entries(spark).exists(_._2 == SessionMemo.Swept)
    val probe = new SparkSpec {
      test("fills a swept memo") {
        SparkEntry.queries("q_dedup_simhash")(spark, sf).queryExecution.toRdd.count()
        assert(swept)
      }
    }
    val silent = new org.scalatest.Reporter {
      def apply(e: org.scalatest.events.Event): Unit = ()
    }
    val status = probe.run(None, org.scalatest.Args(silent))
    assert(status.succeeds(), "the probe suite's test filled a swept memo")
    assert(!swept, "its afterAll released it")
  }
}
