package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.Q

/** Storage-layout & one-pass-pipeline operators — the levers that decide
  * whether a 100 TB job shuffles, scans, or skips:
  *
  *   - bucketed tables (co-located joins with ZERO exchanges),
  *   - partitionBy layout (directory-level partition pruning),
  *   - range-clustered file layout (min/max file skipping for selective
  *     scans),
  *   - `Dataset.observe` (corpus telemetry collected during the write
  *     pass — no second scan).
  *
  * These are not "queries" in the reference's sense — the reference is a
  * single-node engine where data layout is a file on disk — but they are
  * exactly what replaces the reference's implicit "everything is local"
  * assumption when the same pipelines run on a cluster. Each query embeds
  * a plan- or metrics-derived verdict column (exchange-free, pruned,
  * clustered-beats-scattered, observed-equals-scanned) that the DuckDB
  * oracle asserts, so the layout property itself is correctness-gated, not
  * just the row values.
  */
object Layout {

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  val queries: Map[String, Q] = Map(
    // Bucketed co-located join: write BOTH join sides bucketed+sorted by
    // the join key, then sort-merge-join them. Bucketing pre-shuffles the
    // data once at write time, so every later join/aggregate on the bucket
    // key is exchange-free — at 100 TB this converts the dominant repeated
    // cost (a full shuffle of the fact table per join) into a one-time
    // layout decision. hint("merge") keeps the demonstration honest: the
    // join must co-locate through SortMergeJoin, not hide behind a
    // broadcast. The `exchange_free` verdict comes from the join's FINAL
    // post-execution AQE plan (the join is drained first, so replanning
    // can't leave the verdict describing a plan that never ran), and the
    // scratch tables/paths are namespaced per run so concurrent sessions
    // can't clobber each other or read a verdict off another run's tables.
    "q_bucket_join" -> ((s, d) => {
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val wh = scratch(s"graft_layout/bucket_wh_$tag")
      val ordersTbl = s"graft_orders_bkt_$tag"
      val liTbl = s"graft_li_bkt_$tag"
      dropAfter(s, wh, ordersTbl, liTbl) {
        Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
          .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$wh/orders_bkt").saveAsTable(ordersTbl)
        Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n_lines"))
          .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$wh/li_bkt").saveAsTable(liTbl)
        val joined = s.table(ordersTbl).hint("merge")
          .join(s.table(liTbl), col("o_orderkey") === col("l_orderkey"))
        // ONE execution (the r12 shape drained the bare join a first full
        // time just to finalize its AQE plan for the verdict, then the
        // checkpoint re-ran it inside the real query — the q_recommend_probe
        // fix, guide §1.4). The join is a subtree of the executed final
        // plan; the only other exchange there keys on o_orderstatus (the
        // report aggregate), so the verdict checks exactly the property the
        // demonstration makes: no exchange on either JOIN key + both scans
        // bucketed.
        val pre = joined.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"), sum("n_lines").as("total_lines"),
            round(sum("o_totalprice"), 2).as("total_price"))
          .orderBy("o_orderstatus")
        val out0 = pre.localCheckpoint(true)
        val finalPlan = pre.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val joinKeyExchanges =
          countOccurrences(finalPlan, "Exchange hashpartitioning(o_orderkey") +
            countOccurrences(finalPlan, "Exchange hashpartitioning(l_orderkey")
        out0.withColumn("exchange_free",
          lit(if (joinKeyExchanges == 0 && finalPlan.contains("Bucketed: true")) 1
            else 0))
      }
    }),

    // partitionBy layout: write lineitem hive-partitioned by l_returnflag,
    // read back with a partition predicate. The scan must prune at the
    // DIRECTORY level (PartitionFilters in the FileSourceScan) — at 100 TB
    // a partition-pruned scan reads 1/3 of the files; an unpruned one
    // reads everything and filters rows after IO. `partition_pruned` is
    // derived from the scan plan and asserted by the oracle.
    "q_sink_partitioned" -> ((s, d) => {
      val path = scratch("graft_layout/li_by_flag")
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
      // a zero-row frame leaves no partition directories (only _SUCCESS),
      // and a partition-less parquet read cannot infer a schema — detect
      // via a driver-side listing and substitute the written schema
      val p0 = new org.apache.hadoop.fs.Path(path)
      val fs = p0.getFileSystem(s.sparkContext.hadoopConfiguration)
      val hasParts = fs.listStatus(p0).exists(_.isDirectory)
      val readBack =
        if (hasParts) s.read.parquet(path)
        else s.range(0).select(lit(0L).as("l_orderkey"),
          lit(0d).as("l_quantity"), lit("").as("l_returnflag"))
      val pruned = readBack.filter(col("l_returnflag") === "R")
      val planStr = pruned.queryExecution.executedPlan.toString
      val hasPruning = planStr.contains("PartitionFilters: [") &&
        planStr.contains("l_returnflag")
      pruned.agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("total_qty"))
        .withColumn("partition_pruned", lit(if (hasPruning) 1 else 0))
    }),

    // Range-clustered file layout: the same rows written two ways —
    // repartitionByRange(l_shipdate) (each file covers a contiguous date
    // range) vs hash-scattered by order key — then the same 3-month
    // predicate against both. input_file_name() counts the files that
    // actually contributed rows: clustering confines the window to ~1 of 8
    // files while the scattered layout touches all 8. This is the layout
    // half of min/max skipping — parquet footer stats can only skip files
    // whose ranges exclude the predicate, which only happens when the
    // write clustered the sort key. Verdict: clustered touches strictly
    // fewer files (and at most 2 — a range boundary may split the window).
    "q_layout_prune" -> ((s, d) => {
      val lo = lit(java.sql.Timestamp.valueOf("1995-06-01 00:00:00"))
      val hi = lit(java.sql.Timestamp.valueOf("1995-09-01 00:00:00"))
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity", "l_shipdate")
      val clusteredPath = scratch("graft_layout/li_clustered")
      val scatteredPath = scratch("graft_layout/li_scattered")
      li.repartitionByRange(8, col("l_shipdate"))
        .write.mode("overwrite").parquet(clusteredPath)
      li.repartition(8, col("l_orderkey"))
        .write.mode("overwrite").parquet(scatteredPath)
      // ONE filtered scan of the clustered layout computes the row stats
      // AND its contributing-file count (the r12 shape scanned it twice:
      // once for stats, once for input_file_name — guide §1.4 don't
      // compute things twice); only the scattered layout needs its own
      // scan, whose whole point is counting touched files
      val cl = s.read.parquet(clusteredPath)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        // input_file_name() is non-deterministic: project it first, then
        // aggregate the projected column
        .select(col("l_quantity"), input_file_name().as("f"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("total_qty"),
          countDistinct(col("f")).as("nc"))
      val scat = s.read.parquet(scatteredPath)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(input_file_name().as("f"))
        .agg(countDistinct(col("f")).as("ns"))
      cl.crossJoin(scat)
        .select(col("n_rows"), col("total_qty"),
          (col("nc") < col("ns") && col("nc") <= 2).cast("int")
            .as("clustered_skips_files"))
    }),

    // Z-ORDER clustering — the multi-dimensional generalization of
    // q_layout_prune's 1D range clustering: interleaving the bits of a
    // 16×16 (date-bucket, quantity-bucket) grid gives every file a
    // z-curve range, i.e. locality in BOTH dimensions at once, so a 2D
    // box predicate (a date window AND a quantity band) skips files that
    // a hash-scattered layout must all touch. This is the standard lake
    // layout move (Delta/Iceberg `ZORDER BY`) re-expressed with plain
    // Spark: a row-local bit-interleave expression + repartitionByRange
    // on the z-value at write time. The z computation is pure integer
    // arithmetic (shiftleft/&/|) — deterministic in both engines; the
    // verdict (z-ordered touches strictly fewer contributing files than
    // scattered) is measured from input_file_name(), not assumed.
    "q_layout_zorder" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate")
        // 4-bit buckets: x = shipdate position in the ~7-year range,
        // y = quantity position in [1, 50]
        .withColumn("xb", least(lit(15), greatest(lit(0),
          floor(datediff(col("l_shipdate"),
            lit("1992-01-01").cast("date")) / 160).cast("int"))))
        .withColumn("yb", least(lit(15), greatest(lit(0),
          floor((col("l_quantity").cast("int") - 1) * 16 / 50).cast("int"))))
        .withColumn("z", expr(
          "shiftleft(xb & 8, 4) | shiftleft(yb & 8, 3) | " +
            "shiftleft(xb & 4, 3) | shiftleft(yb & 4, 2) | " +
            "shiftleft(xb & 2, 2) | shiftleft(yb & 2, 1) | " +
            "shiftleft(xb & 1, 1) | (yb & 1)"))
      val zPath = scratch("graft_layout/li_zorder")
      val scatteredPath = scratch("graft_layout/li_zscattered")
      li.repartitionByRange(8, col("z"))
        .drop("xb", "yb", "z")
        .write.mode("overwrite").parquet(zPath)
      li.repartition(8, col("l_orderkey"))
        .drop("xb", "yb", "z")
        .write.mode("overwrite").parquet(scatteredPath)
      val lo = lit(java.sql.Date.valueOf("1995-01-01"))
      val hi = lit(java.sql.Date.valueOf("1996-01-01"))
      def box(df: DataFrame) = df
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
          col("l_quantity") >= 41)
      // one box-scan of the z-ordered layout serves stats AND its
      // file count (q_layout_prune rationale)
      val zs = box(s.read.parquet(zPath))
        // non-deterministic input_file_name() projected before the agg
        .select(col("l_extendedprice"), input_file_name().as("f"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_extendedprice"), 2).as("total_price"),
          countDistinct(col("f")).as("nz"))
      val scat = box(s.read.parquet(scatteredPath))
        .select(input_file_name().as("f"))
        .agg(countDistinct(col("f")).as("ns"))
      zs.crossJoin(scat)
        .select(col("n_rows"), col("total_price"),
          (col("nz") < col("ns")).cast("int").as("zorder_skips_files"))
    }),

    // Small-file compaction — the table-maintenance pass every long-running
    // ingest needs: incremental appends leave a directory of KB-sized
    // files whose per-file open/footer/seek cost dominates scans long
    // before data volume does (at 100 TB a million 100 KB files is a
    // planner and NameNode incident, not a table). The pathological layout
    // is simulated by writing documents across 64 splits; compaction is a
    // single rewrite through repartition(target) with target =
    // ceil(rows / rowsPerFile) — the planned file count, derived from data,
    // not guessed. Verdicts computed in-query: the file count collapses to
    // exactly the target, and an order-independent content digest
    // (bit_xor of row hashes) proves the rewrite lost nothing. File counts
    // are driver-side directory metadata, same contract as q_sink_zstd.
    "q_compact_files" -> ((s, d) => {
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val dir = scratch(s"graft_layout/compact_$tag")
      val (smallPath, bigPath) = (s"$dir/small", s"$dir/big")
      dropAfter(s, dir) {
        val docs = Tables.documents(s, d).select("doc_id", "text", "source")
        // the source-side row count AND content digest ride the pathological
        // write as an Observation (the q_observe pattern, guide §1.4): the
        // r12 shape paid a separate count() job over smallPath to size the
        // rewrite plus a THIRD full corpus scan just to digest the original
        // rows — both now collected on the rows already streaming through
        // the first write, zero extra scans.
        val obs = org.apache.spark.sql.Observation(
          "compact_src_" + tag)
        docs.repartition(64)
          .observe(obs, count(lit(1)).as("n0"),
            expr("bit_xor(xxhash64(doc_id, text, source))").as("dg0"))
          .write.mode("overwrite").parquet(smallPath)
        val nRows = obs.get("n0").asInstanceOf[Long]
        // bit_xor over zero rows is NULL — normalize so the empty-corpus
        // comparison below stays an exact match (read-back digest is NULL
        // too) without tripping ANSI null semantics in the verdict
        val dg0 = Option(obs.get("dg0")).map(_.asInstanceOf[Long])
        val rowsPerFile = 4096L
        val target = math.max(1L, (nRows + rowsPerFile - 1) / rowsPerFile).toInt
        s.read.parquet(smallPath).repartition(target)
          .write.mode("overwrite").parquet(bigPath)
        // through the scratch dir's Hadoop filesystem, local or remote
        def nFiles(p: String): Int = {
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(path)
            .count(_.getPath.getName.endsWith(".parquet"))
        }
        s.read.parquet(bigPath)
          .agg(count(lit(1)).as("n"),
            expr("bit_xor(xxhash64(doc_id, text, source))").as("dg"))
          .select(col("n").as("n_docs"),
            lit(nFiles(smallPath)).as("files_before"),
            lit(nFiles(bigPath)).as("files_after"),
            (col("n") === lit(nRows) &&
              coalesce(col("dg"), lit(0L)) === lit(dg0.getOrElse(0L)))
              .cast("int").as("content_match"))
          .localCheckpoint(true)
      }
    }),

    // One-pass observed metrics: Dataset.observe collects aggregates ON
    // the rows streaming through an action — here a full write pass — so
    // pipeline telemetry (row counts, byte totals, id bounds) costs zero
    // extra scans. At 100 TB a separate stats pass is hours; observe is
    // free. The observed values ARE the output; the oracle recomputes them
    // with a dedicated scan, so any divergence between "metrics collected
    // in passing" and "metrics computed directly" turns the row red.
    "q_observe" -> ((s, d) => {
      val obs = org.apache.spark.sql.Observation(
        "corpus_stats_" + java.util.UUID.randomUUID().toString)
      Tables.documents(s, d)
        .observe(obs, count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .write.mode("overwrite").format("noop").save()
      val m = obs.get
      import s.implicits._
      Seq((m("n_docs").asInstanceOf[Long], m("total_chars").asInstanceOf[Long],
        m("min_id").asInstanceOf[Long], m("max_id").asInstanceOf[Long]))
        .toDF("n_docs", "total_chars", "min_id", "max_id")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_bucket_join" ->
      ("WITH li AS (SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY l_orderkey) " +
        "SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(n_lines) AS BIGINT) AS total_lines, " +
        "round(sum(o_totalprice), 2) AS total_price, 1 AS exchange_free " +
        "FROM orders JOIN li ON o_orderkey = l_orderkey " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "q_sink_partitioned" ->
      ("SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS total_qty, " +
        "1 AS partition_pruned FROM lineitem WHERE l_returnflag = 'R'"),
    "q_layout_prune" ->
      ("SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS total_qty, " +
        "1 AS clustered_skips_files FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_shipdate < TIMESTAMP '1995-09-01'"),
    "q_layout_zorder" ->
      ("SELECT count(*) AS n_rows, round(sum(l_extendedprice), 2) AS total_price, " +
        "1 AS zorder_skips_files FROM lineitem " +
        "WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01' " +
        "AND l_quantity >= 41"),
    "q_compact_files" ->
      ("SELECT count(*) AS n_docs, 64 AS files_before, " +
        "CAST(ceil(count(*) / 4096.0) AS INTEGER) AS files_after, " +
        "1 AS content_match FROM documents"),
    "q_observe" ->
      ("SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
        "min(doc_id) AS min_id, max(doc_id) AS max_id FROM documents")
  )
}
