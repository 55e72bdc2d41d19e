package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.Q

/** Sources & sinks beyond parquet — SURVEY.md §2.3: CSV / JSON read
  * (pl.read_csv / read_json) and write+read-back round-trips
  * (write_csv / write_parquet / write_json).
  *
  * The driver ships parquet only, so the CSV/JSON scans are round-trips:
  * write a projection to a scratch dir, read it back through the format's
  * real reader (header + schema inference for CSV, schema inference for
  * JSON), aggregate. The oracle aggregates the source table directly — a
  * lossless round-trip is exactly what makes them hash-equal.
  *
  * Also: sample(fraction, seed) and spark.ml KMeans for the reference's
  * segment_customers shortcut (/root/reference/helpers/shortcuts.py:354-376).
  * Both are nondeterministic/approximate across engines, so their queries
  * emit a self-computed tolerance verdict (binomial bounds / cluster
  * invariants) that the DuckDB oracle asserts — checkable, not rows-only.
  */
object Sources {

  /** status-level money summary — identical shape for every round-trip. */
  private def summarize(df: DataFrame): DataFrame =
    df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")

  private val summarySql =
    "SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total " +
      "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"

  val queries: Map[String, Q] = Map(
    // write_csv → read_csv(header, inferSchema) round-trip.
    "q_scan_csv" -> ((s, d) => {
      val path = scratch("graft_io/orders_csv")
      Tables.orders(s, d).select("o_orderstatus", "o_totalprice")
        .write.mode("overwrite").option("header", "true").csv(path)
      summarize(s.read.option("header", "true").option("inferSchema", "true")
        .csv(path))
    }),

    // write_json → read_json round-trip.
    "q_scan_json" -> ((s, d) => {
      val path = scratch("graft_io/orders_json")
      Tables.orders(s, d).select("o_orderstatus", "o_totalprice")
        .write.mode("overwrite").json(path)
      val r = s.read.json(path)
      // a zero-row frame writes no JSON data files, so schema inference
      // returns zero columns — substitute the written schema (total on
      // empty, like the parquet round-trip)
      summarize(
        if (r.columns.isEmpty)
          s.range(0).select(lit("").as("o_orderstatus"),
            lit(0d).as("o_totalprice"))
        else r)
    }),

    // write_parquet → read-back round-trip (the sink path of the t1/t2
    // workhorse format).
    "q_sink_parquet" -> ((s, d) => {
      val path = scratch("graft_io/orders_parquet")
      Tables.orders(s, d).select("o_orderstatus", "o_totalprice")
        .write.mode("overwrite").parquet(path)
      summarize(s.read.parquet(path))
    }),

    // Plain-text round-trip — the `.txt` dump format LLM pipelines ingest
    // (one document per line; documents with embedded newlines belong in
    // jsonl — q_scan_json's slot). The read-back has no ids, so the
    // content verdict is ORDER-INDEPENDENT: bit_xor of xxhash64(line) over
    // the file must equal the same digest over the table (a commutative
    // multiset-parity digest — no sort, no collect, no ANSI sum overflow,
    // scan-speed on both sides).
    "q_scan_text" -> ((s, d) => {
      val path = scratch("graft_io/docs_txt")
      Tables.documents(s, d).select("text")
        .write.mode("overwrite").text(path)
      val file = s.read.text(path)
        .agg(count(lit(1)).as("n_lines"),
          expr("bit_xor(xxhash64(value))").as("file_digest"))
      val table = Tables.documents(s, d)
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(xxhash64(text))").as("table_digest"))
      file.crossJoin(table)
        .select(col("n_lines"), col("n_docs"),
          (col("n_lines") === col("n_docs") &&
            col("file_digest") === col("table_digest")).cast("int")
            .as("content_match"))
    }),

    // Compression-codec decision — at 100 TB the parquet codec IS a
    // storage/scan-cost lever: zstd compresses text columns markedly
    // tighter than the snappy default at similar scan speed. The same
    // frame is written under both codecs; the verdict compares actual
    // on-disk bytes (driver-side directory stat — metadata, not data,
    // through the driver) and proves both stay readable with equal row
    // counts.
    "q_sink_zstd" -> ((s, d) => {
      val snappyPath = scratch("graft_io/docs_snappy")
      val zstdPath = scratch("graft_io/docs_zstd")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      docs.write.mode("overwrite")
        .option("compression", "snappy").parquet(snappyPath)
      docs.write.mode("overwrite")
        .option("compression", "zstd").parquet(zstdPath)
      def bytes(p: String): Long =
        org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(p))
      val zstdSmaller = if (bytes(zstdPath) < bytes(snappyPath)) 1 else 0
      val nSnappy = s.read.parquet(snappyPath)
        .agg(count(lit(1)).as("n_snappy"))
      val nZstd = s.read.parquet(zstdPath)
        .agg(count(lit(1)).as("n_zstd"))
      nSnappy.crossJoin(nZstd)
        .select(col("n_snappy").as("n_docs"),
          (col("n_snappy") === col("n_zstd")).cast("int").as("roundtrip_ok"),
          lit(zstdSmaller).as("zstd_smaller"))
    }),

    // write_orc → read-back round-trip (columnar alternative to parquet,
    // built into spark-sql).
    "q_scan_orc" -> ((s, d) => {
      val path = scratch("graft_io/orders_orc")
      Tables.orders(s, d).select("o_orderstatus", "o_totalprice")
        .write.mode("overwrite").orc(path)
      summarize(s.read.orc(path))
    }),

    // pl.read_avro parity (SURVEY §2.3): the spark-avro datasource jar is
    // absent from this build, so graft.sources.AvroIO implements the
    // object-container format on avro-core directly — per-partition
    // container writes, binaryFile-scan + mapPartitions decode reads.
    // Same lossless round-trip contract as the CSV/JSON/ORC scans.
    "q_scan_avro" -> ((s, d) => {
      val path = scratch("graft_io/orders_avro")
      graft.sources.AvroIO.write(
        Tables.orders(s, d).select("o_orderstatus", "o_totalprice"), path)
      summarize(graft.sources.AvroIO.read(s, path))
    }),

    // polars read_ipc parity (SURVEY §2.3): Spark has no native Arrow IPC
    // file reader, so graft.sources.ArrowIO implements the random-access
    // IPC format on the arrow-vector jars Spark already ships — polars
    // reads these files and vice versa.
    "q_scan_arrow" -> ((s, d) => {
      val path = scratch("graft_io/orders_arrow")
      graft.sources.ArrowIO.write(
        Tables.orders(s, d).select("o_orderstatus", "o_totalprice"), path)
      summarize(graft.sources.ArrowIO.read(s, path))
    }),

    // Excel ingest parity (reference helpers/from_excel.py:11-24 —
    // pandas.read_excel). No POI/spark-excel jars in this build, so
    // graft.sources.ExcelIO implements .xlsx (ZIP + SpreadsheetML) on the
    // JDK alone: per-partition workbook writes, binaryFile-scan + StAX
    // decode reads. Cells surface as strings (Excel's untyped-cell
    // reality); the query casts explicitly — same lossless round-trip
    // contract as the other scans.
    "q_scan_excel" -> ((s, d) => {
      val path = scratch("graft_io/orders_xlsx")
      graft.sources.ExcelIO.write(
        Tables.orders(s, d).select("o_orderstatus", "o_totalprice"), path)
      summarize(graft.sources.ExcelIO.read(s, path)
        .select(col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice")))
    }),

    // sample(fraction, seed): Bernoulli row sampling. Sampling RNGs differ
    // between engines, so the oracle can't compare the sampled count — the
    // query emits the total plus its OWN binomial verdict (count within
    // 5σ of n·p), and the oracle asserts the verdict is 1: a broken
    // sampler turns this row red instead of unverifiable.
    "q_sample" -> ((s, d) => {
      val sampled = Tables.orders(s, d)
        .sample(withReplacement = false, 0.1, seed = 42)
        .agg(count(lit(1)).as("n_sampled"))
      val total = Tables.orders(s, d).agg(count(lit(1)).as("n_total"))
      sampled.crossJoin(total)
        .select(col("n_total"),
          (abs(col("n_sampled") - col("n_total") * 0.1)
            <= lit(5) * sqrt(col("n_total") * 0.1 * 0.9))
            .cast("int").as("in_binomial_bounds"))
    }),

    // Deterministic hash-mod sampling — the reproducible-at-scale
    // alternative to RNG sampling: membership depends only on the key, so
    // the sample is stable across engines, partitionings, and reruns
    // (and therefore fully oracle-checkable). 1/16 of rows via the first
    // md5 hex digit. Row-local, scan speed.
    "q_sample_det" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(expr("substring(md5(CAST(o_orderkey AS STRING)), 1, 1) = '0'"))
        .agg(count(lit(1)).as("n_sampled"),
          round(sum("o_totalprice"), 2).as("total"))),

    // Deterministic per-group stratified sample — k docs per source,
    // chosen by md5-hash order within the group (reproducible across
    // engines/partitionings, unlike RNG sampling, and unbiased because the
    // hash order is independent of any data column). Scale shape: the
    // rank-filter plans as WindowGroupLimit (asserted in PlanSpec), so
    // every task pre-trims to k rows per group BEFORE the shuffle — the
    // low-cardinality `source` key never routes a whole source's rows to
    // one task, only ≤ k·n_partitions survivors per group.
    "q_group_sample" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 25)
        .select(col("source"), col("rn"), col("doc_id"))
        .orderBy("source", "rn")
    }),

    // Training-shard sink — the last step of a curation run: write the
    // corpus as bounded-size shards (range-clustered by doc_id so shard
    // files are contiguous id runs, maxRecordsPerFile bounding each file),
    // then read back and verify the shard contract from the files
    // themselves: row count preserved, no file exceeds the bound, and the
    // file count is at least the bound's implied minimum. At 100 TB this
    // is exactly how training shards are produced (writer-side splitting;
    // no post-hoc repartition pass), and the verdict columns are computed
    // from the actual shard listing, not assumed.
    "q_shard_write" -> ((s, d) => {
      val path = scratch("graft_io/doc_shards")
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      docs.repartitionByRange(8, col("doc_id"))
        .write.mode("overwrite").option("maxRecordsPerFile", 32).parquet(path)
      val perFile = s.read.parquet(path)
        .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("n"))
      val stats = perFile.agg(count(lit(1)).as("n_files"),
        sum("n").as("n_rows"), max("n").as("max_per_file"))
      val total = docs.agg(count(lit(1)).as("n_total"))
      stats.crossJoin(total).select(col("n_total"),
        (col("n_rows") === col("n_total")).cast("int").as("rows_preserved"),
        (col("max_per_file") <= 32).cast("int").as("file_size_bounded"),
        (col("n_files") >= ceil(col("n_total").cast("double") / 32.0))
          .cast("int").as("sharding_effective"))
    }),

    // segment_customers → spark.ml KMeans (k=3, fixed seed) on account
    // balance. ML fits are iterative/approximate with no SQL equivalent, so
    // the oracle checks the invariants instead of the centroids: every
    // customer assigned (n_points = count(*)) to one of exactly 3 nonempty
    // clusters — a degenerate fit (empty/collapsed cluster, dropped rows)
    // turns this row red instead of unverifiable.
    "q_segment" -> ((s, d) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.feature.VectorAssembler
      val feats = new VectorAssembler()
        .setInputCols(Array("c_acctbal")).setOutputCol("features")
        // a null balance cannot be clustered; default handleInvalid
        // "error" would abort the whole fit on one dirty row
        .setHandleInvalid("skip")
        .transform(Tables.customer(s, d))
      // KMeans cannot fit on zero rows — an empty customer table has zero
      // clusters and zero points (total, and the invariant agg still runs)
      val assigned =
        if (feats.isEmpty) feats.withColumn("prediction", lit(0))
        else {
          val model = new KMeans().setK(3).setSeed(42L)
            .setFeaturesCol("features")
          model.fit(feats).transform(feats)
        }
      assigned
        .agg(countDistinct(col("prediction")).as("n_clusters"),
          count(lit(1)).as("n_points"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_sample" ->
      "SELECT count(*) AS n_total, 1 AS in_binomial_bounds FROM orders",
    "q_segment" ->
      ("SELECT CAST(3 AS BIGINT) AS n_clusters, count(*) AS n_points " +
        "FROM customer"),
    "q_sample_det" ->
      ("SELECT count(*) AS n_sampled, round(sum(o_totalprice), 2) AS total " +
        "FROM orders WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'"),
    "q_group_sample" ->
      ("SELECT source, rn, doc_id FROM " +
        "(SELECT source, doc_id, CAST(row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rn " +
        "FROM documents) WHERE rn <= 25 ORDER BY source, rn"),
    "q_shard_write" ->
      ("SELECT count(*) AS n_total, 1 AS rows_preserved, " +
        "1 AS file_size_bounded, 1 AS sharding_effective FROM documents"),
    "q_scan_csv" -> summarySql,
    "q_scan_json" -> summarySql,
    "q_scan_orc" -> summarySql,
    "q_scan_avro" -> summarySql,
    "q_scan_arrow" -> summarySql,
    "q_scan_excel" -> summarySql,
    "q_sink_parquet" -> summarySql,
    "q_scan_text" ->
      ("SELECT count(*) AS n_lines, count(*) AS n_docs, 1 AS content_match " +
        "FROM documents"),
    "q_sink_zstd" ->
      ("SELECT count(*) AS n_docs, 1 AS roundtrip_ok, 1 AS zstd_smaller " +
        "FROM documents")
  )
}
