package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale rehearsal — converts the "would survive 100 TB" claims from
  * plan-reading into measurement (VERDICT r5 top item).
  *
  * Synthesizes a `mult`× corpus from the sf0.1 documents table:
  *   - `mult` id-offset replicas; replica k > 0 suffixes every word with
  *     `_rk`, so its 3-word shingles are disjoint from every other
  *     replica's. Each replica therefore carries the SAME internal
  *     near-dup structure as the base corpus with ZERO cross-replica
  *     collisions — the workload is genuinely mult× the base workload,
  *     not one mult-wide exact-duplicate family (which would measure the
  *     O(k²) pair blow-up of a degenerate corpus, not scaling).
  *   - plus a planted 600-member boilerplate family (shared 60-word head,
  *     unique tails — near-dups, NOT exact dups) whose modal LSH buckets
  *     exceed the default 512 cap, so the rehearsal also proves the cap +
  *     star-edge co-travel machinery fires on data big enough to need it.
  *
  * Also synthesizes a mult× embeddings table: replica k's vectors are
  * circularly shifted by k positions (one fixed permutation per replica —
  * within-replica inner products are exactly the base corpus', while
  * cross-replica signatures decorrelate; see [[embReplica]]).
  *
  * Runs the six workloads the r5 verdict names (nearDedup,
  * leakageSafeSplit, decontaminate, packSequences, perplexity, tfidf),
  * plus the similarity family (q_ann_lsh, q_dedup_embedding) and span
  * mining (q_span_dedup), at
  * 1× (straight off `sfDir`) and at mult× (the synthesized corpus), each
  * timed as min-of-2 isolated runs through [[Harness.minOf2]] (Bench's
  * residue clearing), and emits one JSON line with per-workload times,
  * mult×/1× ratios (a workload with no successful run goes to an
  * `errors` object), and the two scale-correctness verdicts:
  * `cap_fired` (oversized-bucket telemetry observed nonzero at mult×) and
  * `plant_one_split` (the whole planted family landed in a single
  * leakageSafeSplit split via star edges — the co-travel guarantee holding
  * exactly where id-keyed hashing would scatter it).
  *
  * Usage: runMain graft.ScaleRehearsal [sfDir] [mult]
  */
object ScaleRehearsal {
  private val IdStride = 100000000L // replica k ids = base + k·stride
  private val PlantBase = 9000000000L
  // steady-probe ids: clear of every replica (≤ 59·IdStride + base ≈
  // 5.9e9) and the plant family (9e9..)
  private val ProbeIdOffset = 20000000000L

  /** The embed_dedup_wide width rule — one source for the batch workload
    * and the streaming embedding_ingest row (a drifted copy would make
    * the two rows measure different design points while published side
    * by side): +1 signature bit per corpus doubling keeps expected
    * bucket occupancy, hence the quadratic in-bucket verification,
    * constant as the corpus grows. */
  private def widthForMult(m: Int): Int =
    8 + math.ceil(math.log(math.max(m, 1)) / math.log(2)).toInt

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      // ALL control chars (not just \n\r\t): one raw U+0000-001F in an
      // exception message would make the error line unparseable JSON
      .replaceAll("\\p{Cntrl}", " ") + "\""

  /** Replica k of the base corpus: ids offset, every word suffixed so the
    * shingle space is disjoint from all other replicas. k = 0 is the base
    * corpus unchanged. */
  private def replica(base: DataFrame, k: Int): DataFrame =
    if (k == 0) base
    else base.select(
      (col("doc_id") + lit(k * IdStride)).as("doc_id"),
      regexp_replace(col("text"), "(\\S+)", "$1_r" + k).as("text"),
      col("lang"), col("source"), col("n_chars"))

  /** Replica k of the embeddings table: ids offset, the vector circularly
    * shifted by k positions. A shift is one fixed permutation applied to
    * every vector of the replica, so all pairwise inner products WITHIN a
    * replica are exactly the base corpus' (the replica repeats the base
    * workload's neighbor structure), while cross-replica cosines — and
    * hence LSH signatures — are decorrelated: the corpus is genuinely
    * k× the workload, not one k-deep exact-duplicate pile-up that would
    * square the in-bucket pair counts. */
  private def embReplica(base: DataFrame, k: Int, dim: Int): DataFrame = {
    val s = k % dim
    if (s == 0) base.select((col("vec_id") + lit(k * IdStride)).as("vec_id"),
      col("embedding"), col("label"))
    else base.select(
      (col("vec_id") + lit(k * IdStride)).as("vec_id"),
      expr(s"concat(slice(embedding, ${s + 1}, ${dim - s}), slice(embedding, 1, $s))")
        .as("embedding"),
      col("label"))
  }

  /** The planted boilerplate family: `n` docs sharing a 60-word head with
    * a unique trailing word — near-duplicates that exact dedup cannot
    * collapse and whose modal (band, bkey) buckets exceed `maxBucket`. */
  private def plant(spark: SparkSession, n: Int): DataFrame = {
    val head = (1 to 60).map(i => s"boiler$i").mkString(" ")
    spark.range(1, n + 1L).select(
      (col("id") + lit(PlantBase)).as("doc_id"),
      concat(lit(head + " tail"), col("id")).as("text"),
      lit("en").as("lang"),
      lit("plant").as("source"),
      length(concat(lit(head + " tail"), col("id"))).as("n_chars"))
  }

  /** Skewed probe: ~30% of all events (event_id % 10 < 3) collapse onto
    * hot key 0; the rest keep their user key. */
  private def skewProbe(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d).select(col("event_id"),
      when(pmod(col("event_id"), lit(10L)) < 3, lit(0L))
        .otherwise(col("user_id")).as("k"),
      col("value"))

  /** Build side for the skew join: the per-user event-count dimension. */
  private def skewBuild(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d).groupBy(col("user_id").as("k"))
      .agg(count(lit(1)).as("u_events"))

  /** The chunk cache a stream ramps over: `corpus` split by `idCol` mod
    * `n` into one parquet file per chunk under `dir`, mtimes ascending so
    * the file source feeds them in order under maxFilesPerTrigger=1
    * (rename preserves the mtimes set here). Built once per dir and
    * reused across runs.
    *
    * The cache's completeness marker is the directory's EXISTENCE, so it
    * must become visible only complete: chunks build into a _build
    * staging dir renamed into place in one step — a run killed mid-build
    * leaves only the staging dir (deleted and redone next run), never a
    * partial cache that would ramp over a fraction of the corpus and
    * publish it labeled mult× (review finding). The file-count check
    * heals any partial cache left by older runs. */
  private def chunkCache(dir: java.io.File, n: Int, corpus: DataFrame,
      idCol: String): Unit = {
    if (dir.exists() && Option(dir.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .count(_.getName.startsWith("chunk_")) != n)
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    if (!dir.exists()) {
      val bld = new java.io.File(s"${dir}_build")
      org.apache.commons.io.FileUtils.deleteQuietly(bld)
      bld.mkdirs()
      for (k <- 0 until n) {
        val tmp = s"${dir}_tmp_$k"
        corpus.filter(pmod(col(idCol), lit(n.toLong)) === k)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val f = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(bld, f"chunk_$k%02d.parquet")
        java.nio.file.Files.copy(f.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(1000000L * (k + 1))
      }
      java.nio.file.Files.move(bld.toPath, dir.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Run `body` under temporary SQL confs, restoring priors after. */
  private def withSkewConfs(spark: SparkSession, confs: Map[String, String])(
      body: => Unit): Unit = {
    val old = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    // optional comma-separated workload filter for fast local iteration;
    // the per-round jsonl lines are always full (no filter) runs
    val onlyWl = args.lift(2).map(_.split(",").toSet).getOrElse(Set.empty[String])
    // SPARK_GRAFT_STATE_STORE=rocksdb swaps the streaming workloads'
    // state backend to RocksDBStateStoreProvider — the configuration the
    // 100 TB deployment story assumes (state on executor-local disk, not
    // heap; DESIGN.md). Parity under the swap is pinned by StreamingSpec;
    // this knob lets the rehearsal MEASURE it, and the emitted line
    // carries which backend produced the numbers.
    val stateStore = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "hdfs")
    val spark = Harness.session(defaultCpus = 32)
    val cpus = spark.conf.get("spark.sql.shuffle.partitions").toInt
    if (stateStore == "rocksdb")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")

    // ---- synthesize the mult× corpus into a scratch documents.parquet ----
    // keyed by (mult, FULL sf path): the stream-source chunk dirs below
    // are built once and reused, so a scratch keyed by mult alone would
    // feed a different-sf run chunks from the previous corpus while
    // labeling the output line with the new sf — and keying by basename
    // alone would collide two corpora sharing a leaf name (/a/sf0.1 vs
    // /b/sf0.1), the same bug one directory level up. String.hashCode is
    // spec-pinned, so the tag is stable across JVMs.
    val sfCanon = new java.io.File(sfDir).getCanonicalPath
    val sfTag =
      new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9.]", "_") +
        "_" + (sfCanon.hashCode.toLong & 0xffffffffL).toHexString
    val scratch = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_scale_x${mult}_$sfTag").getAbsolutePath
    val bigDir = s"$scratch/corpus"
    val base = Tables.documents(spark, sfDir)
    val big = (0 until mult).map(replica(base, _)).reduce(_ unionByName _)
      .unionByName(plant(spark, 600))
    big.repartition(cpus)
      .write.mode("overwrite").parquet(s"$bigDir/documents.parquet")
    val nBig = Tables.documents(spark, bigDir).count()

    val embBase = Tables.embeddings(spark, sfDir)
    val dim = embBase.selectExpr("size(embedding)").first().getInt(0)
    (0 until mult).map(embReplica(embBase, _, dim)).reduce(_ unionByName _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$bigDir/embeddings.parquet")

    // events: mult× replicas on DISJOINT user/id spaces, each time-shifted
    // by 35 days. Per-user structure (gaps, sessions, funnels) is
    // preserved inside every replica, so user-partitioned analytics
    // should scale ~linearly; the time shift keeps co-presence pairs from
    // exploding quadratically across replicas (a genuine property of
    // "everyone online at once", not of the operators).
    val evBase = Tables.events(spark, sfDir)
    (0 until mult).map { k =>
      evBase.select(
        (col("event_id") + lit(k * 100000000L)).as("event_id"),
        (col("ts") + expr(s"INTERVAL ${k * 35} DAYS")).as("ts"),
        (col("user_id") + lit(k * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$bigDir/events.parquet")

    // lineitem/orders: mult× replicas on DISJOINT key spaces — orderkey
    // shifted by IdStride, customer/supplier dimensions by 1e6 per
    // replica so the dimension tables grow with the corpus (the axis the
    // validate scan and the recommendation serving index rehearse
    // against). Per-order structure is preserved inside every replica.
    val DimStride = 1000000L
    val liBase = Tables.lineitem(spark, sfDir)
    (0 until mult).map { k =>
      liBase.select(liBase.columns.map {
        case "l_orderkey" => (col("l_orderkey") + lit(k * IdStride)).as("l_orderkey")
        case "l_suppkey" => (col("l_suppkey") + lit(k * DimStride)).as("l_suppkey")
        case c => col(c)
      }: _*)
    }.reduce(_ unionByName _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$bigDir/lineitem.parquet")
    val ordBase = Tables.orders(spark, sfDir)
    (0 until mult).map { k =>
      ordBase.select(ordBase.columns.map {
        case "o_orderkey" => (col("o_orderkey") + lit(k * IdStride)).as("o_orderkey")
        case "o_custkey" => (col("o_custkey") + lit(k * DimStride)).as("o_custkey")
        case c => col(c)
      }: _*)
    }.reduce(_ unionByName _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$bigDir/orders.parquet")

    // ---- recommendation serving-index rehearsal state (r8 task 6) ----
    // The item-item matrix is the corpus-scale artifact; the PROBE BATCH
    // is pinned to the 1× slice — a serving batch does not grow with the
    // index. The batch is collected to the driver once (cache clearing
    // between timed runs must not push a recompute into the serve
    // timing); the index builds once per dir via the memo, so min-of-2
    // absorbs the build into the discarded first run and times serve-only.
    lazy val serveBatch: DataFrame = {
      val rows = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey").cast("long").as("c"))
        .join(Tables.lineitem(spark, sfDir)
            .select(col("l_orderkey"), col("l_suppkey").cast("long").as("sk")),
          col("o_orderkey") === col("l_orderkey"))
        .select("c", "sk").distinct()
        .filter(pmod(col("c"), lit(37L)) === 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      import spark.implicits._
      rows.toDF("c", "sk")
    }
    lazy val serveBatchBounds: (Long, Long) = {
      val sks = serveBatch.select("sk").collect().map(_.getLong(0))
      require(sks.nonEmpty,
        "recommend_serve needs a non-empty probe batch: no customer in " +
          s"$sfDir satisfies c % 37 == 5 — pick a different slice")
      (sks.min, sks.max)
    }
    val serveTables = scala.collection.mutable.Map.empty[String, String]
    def serveSetup(d: String): String = serveTables.getOrElseUpdate(d, {
      val tag = if (d == sfDir) "base" else "big"
      val tbl = s"graft_serve_sims_$tag"
      // same matrix build as q_recommend_probe (dimension-bounded pair
      // formation, top-20 truncation), saved bucketed AND sorted by the
      // probe key. Honest attribution (r9 review): the measured serve
      // query BROADCASTS the batch, so no matrix-side exchange exists for
      // bucketing to kill THERE — the flatness comes from the in-file
      // sort giving parquet row-group min/max the batch's key range
      // prunes against. bucketBy is still load-bearing twice over: Spark
      // only permits sortBy on a bucketed write, and the bucket layout is
      // what q_recommend_probe's non-broadcast (large-batch) regime
      // merge-joins against exchange-free.
      val e0 = Tables.orders(spark, d)
        .select(col("o_orderkey"), col("o_custkey").cast("long").as("c"))
        .join(Tables.lineitem(spark, d)
            .select(col("l_orderkey"), col("l_suppkey").cast("long").as("sk")),
          col("o_orderkey") === col("l_orderkey"))
        .select("c", "sk").distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the SAME matrix build the qids serve (Graph.itemSims) — this was
      // an inline copy that had already drifted from the probe qid's
      // (review finding); the rehearsal must measure the shipped shape
      ops.Graph.itemSims(e0)
        .write.mode("overwrite").bucketBy(8, "s1").sortBy("s1")
        .option("path", s"$scratch/serve_$tag").saveAsTable(tbl)
      e0.unpersist(blocking = false)
      tbl
    })

    // Each workload takes a corpus dir and forces a full result. The first
    // three drive the public curation APIs; the last three are the shipped
    // qids (they read documents.parquet from the dir themselves).
    val workloads: Seq[(String, String => Unit)] = Seq(
      "near_dedup" -> { d: String =>
        ops.Dedup.nearDedup(Tables.documents(spark, d), "doc_id", "text")
          .count(): Unit
      },
      "leakage_split" -> { d: String =>
        ops.Dedup.leakageSafeSplit(Tables.documents(spark, d), "doc_id", "text")
          .groupBy("split").count().collect(): Unit
      },
      "decontaminate" -> { d: String =>
        val docs = Tables.documents(spark, d)
        val eval = docs.filter(col("doc_id") % 97 === 3)
          .select(col("text").as("eval_text"))
        ops.Curation.decontaminate(docs, "doc_id", "text", eval, "eval_text")
          .count(): Unit
      },
      "pack_sequences" -> { d: String =>
        SparkEntry.queries("q_pack_sequences")(spark, d).count(): Unit
      },
      "perplexity" -> { d: String =>
        SparkEntry.queries("q_perplexity")(spark, d).count(): Unit
      },
      "tfidf" -> { d: String =>
        SparkEntry.queries("q_tfidf")(spark, d).count(): Unit
      },
      // similarity family (reads embeddings.parquet from the dir): a fixed
      // 50-query set against a mult×-growing corpus — the realistic ANN
      // scaling axis — and the LSH-bucketed embedding self-join dedup
      "ann_lsh" -> { d: String =>
        SparkEntry.queries("q_ann_lsh")(spark, d).count(): Unit
      },
      "embed_dedup" -> { d: String =>
        SparkEntry.queries("q_dedup_embedding")(spark, d).count(): Unit
      },
      // cross-document duplicated-span mining over the documents corpus
      "span_dedup" -> { d: String =>
        SparkEntry.queries("q_span_dedup")(spark, d).count(): Unit
      },
      // bucketed band-index build + incremental batch probe (the index
      // build scales with the corpus; the probe side stays batch-sized)
      "dedup_index" -> { d: String =>
        SparkEntry.queries("q_dedup_index")(spark, d).count(): Unit
      },
      // the WIDTH-SCALED embedding dedup: 8 bits at 1×, 8 + log2(mult)
      // at mult× — the knob that keeps bucket occupancy (and the
      // quadratic in-bucket verification) constant as the corpus grows.
      // Contrast with embed_dedup above, which holds width fixed at 8
      // and measures the occupancy blow-up instead.
      "embed_dedup_wide" -> { d: String =>
        val bits = if (d == bigDir) widthForMult(mult) else 8
        ops.Similarity.embeddingNearDup(
          Tables.embeddings(spark, d), "vec_id", "embedding", bits)
          .count(): Unit
      },
      // the DEFAULT path: no width passed at all — embeddingNearDup's
      // autoBits (max(8, ceil(log2(n/2)))) must pick a width that keeps
      // this near-linear without the caller knowing mult. This is the
      // point the r6 verdict demanded: default-path ratio within ~2× of
      // linear at 60×.
      "embed_dedup_auto" -> { d: String =>
        ops.Similarity.embeddingNearDup(
          Tables.embeddings(spark, d), "vec_id", "embedding")
          .count(): Unit
      },
      // SemDeDup under auto-k (k ≈ √n): assignment n·k + within-cluster
      // verification n·(n/k) makes the method Θ(n^1.5) — expect a ratio
      // near mult^1.5/mult (≈7.7 at 60×), NOT linear. Published next to
      // embed_dedup_auto deliberately: same near-dup goal, linear LSH vs
      // exact-within-cluster semantic clusters — the rehearsal measures
      // the price of the quality-motivated method so the choice between
      // semDedup and embeddingNearDup at 100 TB is a measured trade, not
      // a guess.
      "semdedup" -> { d: String =>
        ops.Similarity.semDedup(
          Tables.embeddings(spark, d), "vec_id", "embedding")
          .count(): Unit
      },
      // CCNet-style duplicated-block strip: inventory aggregate + one
      // per-occurrence equi-join — NO pair expansion, so the planted
      // 600-member family costs 600 joined rows, not 600² pairs
      "strip_boilerplate" -> { d: String =>
        SparkEntry.queries("q_strip_boilerplate")(spark, d).count(): Unit
      },
      // training-window chunking: pure row-local explode, the linearity
      // baseline every other workload is judged against
      "chunk_stride" -> { d: String =>
        SparkEntry.queries("q_chunk_stride")(spark, d).count(): Unit
      },
      // PQ/ADC: code assignment + LUT scan both linear in the corpus;
      // the fixed 20-query LUT broadcast never grows
      "ann_pq" -> { d: String =>
        SparkEntry.queries("q_ann_pq")(spark, d).count(): Unit
      },
      // one distributed covariance pass (treeAggregate) + projection scan
      "embed_pca" -> { d: String =>
        SparkEntry.queries("q_embed_pca")(spark, d).count(): Unit
      },
      // L-BFGS gradient passes over the train split + row-local scoring
      "quality_classifier" -> { d: String =>
        SparkEntry.queries("q_quality_classifier")(spark, d).count(): Unit
      },
      // the composed strip → gate → chunk → pack chain: the end-to-end
      // number a pretraining prep run actually pays
      "pipeline_pretrain" -> { d: String =>
        SparkEntry.queries("q_pipeline_pretrain")(spark, d).count(): Unit
      },
      // the hand-rolled Avro container IO (graft.sources.AvroIO): write
      // the corpus as per-partition containers, read it back through the
      // binaryFile+decode path — both sides must scale linearly in rows
      "avro_roundtrip" -> { d: String =>
        val p = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"), "graft_scale_avro").toString
        graft.sources.AvroIO.write(
          Tables.documents(spark, d).select("doc_id", "text")
            .repartition(32), p)
        graft.sources.AvroIO.read(spark, p).count(): Unit
      },
      // Misra-Gries heavy hitters: the k-entry sketch partial-aggregates
      // per partition, so cost must track the token stream linearly while
      // the shuffled state stays k entries regardless of mult
      "heavy_hitters" -> { d: String =>
        SparkEntry.queries("q_heavy_hitters")(spark, d).count(): Unit
      },
      // span-interval merge: the replicated corpus makes EVERY span
      // cross-document duplicated (df >= mult), so the per-occurrence
      // inventory join runs at its worst case — cost must stay linear in
      // occurrences, never pairs
      // (forced via toRdd, not count(): the final left join has unique
      // right keys, so a bare count() lets Catalyst prune the whole span
      // subtree and times an empty plan — same rationale as Bench)
      "span_merge" -> { d: String =>
        SparkEntry.queries("q_span_merge")(spark, d)
          .queryExecution.toRdd.count(): Unit
      },
      // BPE training is vocabulary-bounded: replicas add counts, not
      // words, so the merge loop after the one corpus-scan word count
      // should be nearly mult-independent (the Zipf-vocab scale claim,
      // measured)
      "bpe_train" -> { d: String =>
        SparkEntry.queries("q_bpe_train")(spark, d).count(): Unit
      },
      // event-analytics family over the replicated event stream: all
      // user-partitioned (disjoint replica users), so the one user_id
      // shuffle should scale ~linearly with rows
      "evt_funnel" -> { d: String =>
        SparkEntry.queries("q_funnel")(spark, d)
          .queryExecution.toRdd.count(): Unit
      },
      "evt_markov" -> { d: String =>
        SparkEntry.queries("q_markov")(spark, d)
          .queryExecution.toRdd.count(): Unit
      },
      "evt_survival" -> { d: String =>
        SparkEntry.queries("q_survival_km")(spark, d)
          .queryExecution.toRdd.count(): Unit
      },
      // interval overlap: time-shifted replicas keep concurrency constant,
      // so the bucket join should track rows, not rows²
      "evt_overlap" -> { d: String =>
        SparkEntry.queries("q_join_overlap")(spark, d)
          .queryExecution.toRdd.count(): Unit
      },
      // ---- JOIN-skew remediation, measured head-to-head (r7 task 3):
      // ~30% of probe rows collapse onto ONE hot key, so an unsalted
      // shuffle join lands a third of the corpus in a single reduce task.
      // Three variants, same result set, merge-hinted SMJ + broadcast
      // disabled in all, so the timing difference is purely the remedy:
      //
      // skew_aqe — Spark's AQE skew-join splits the hot partition at
      //   runtime (thresholds lowered to local-rehearsal sizes; at real
      //   100 TB partition sizes the DEFAULTS fire). VERIFIED to plan
      //   SortMergeJoin(skew=true) + AQEShuffleRead skewed — but ONLY
      //   because the build side is materialized first: OptimizeSkewedJoin
      //   pattern-matches Sort-over-ShuffleQueryStage on BOTH children.
      // skew_aqe_blind — identical join, but the build side is the
      //   upstream aggregate directly (the everyday "join to a dimension
      //   you just aggregated" shape). The aggregate between the shuffle
      //   and the join defeats the rule — AQE CANNOT split here, measured
      //   as the gap between this row's ratio and skew_aqe's.
      // skew_salted — the explicit (key, salt) rewrite; works in every
      //   plan shape, costs a build-side ×R explode.
      "skew_aqe" -> { d: String =>
        withSkewConfs(spark, Map(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.skewJoin.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m")) {
          // localCheckpoint cuts the aggregate lineage so both join
          // children are bare shuffles — the shape OptimizeSkewedJoin needs
          skewProbe(spark, d)
            .join(skewBuild(spark, d).localCheckpoint(true).hint("merge"), "k")
            .groupBy(pmod(col("k"), lit(97L)).as("g"))
            .agg(sum("value").as("v"), sum("u_events").as("e"))
            .queryExecution.toRdd.count(): Unit
        }
      },
      "skew_aqe_blind" -> { d: String =>
        withSkewConfs(spark, Map(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.skewJoin.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m")) {
          skewProbe(spark, d).join(skewBuild(spark, d).hint("merge"), "k")
            .groupBy(pmod(col("k"), lit(97L)).as("g"))
            .agg(sum("value").as("v"), sum("u_events").as("e"))
            .queryExecution.toRdd.count(): Unit
        }
      },
      "skew_salted" -> { d: String =>
        withSkewConfs(spark, Map(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          // isolate the manual remedy: AQE must not also split
          "spark.sql.adaptive.skewJoin.enabled" -> "false")) {
          val r = 32L
          val probe = skewProbe(spark, d)
            .withColumn("salt", pmod(xxhash64(col("event_id")), lit(r)))
          val build = skewBuild(spark, d)
            .withColumn("salt", explode(sequence(lit(0L), lit(r - 1))))
          probe.join(build.hint("merge"), Seq("k", "salt"))
            .groupBy(pmod(col("k"), lit(97L)).as("g"))
            .agg(sum("value").as("v"), sum("u_events").as("e"))
            .queryExecution.toRdd.count(): Unit
        }
      },
      // 64-bit banded-H≤3 simhash dedup (the Manku design shipped this
      // round): 4-band pigeonhole equi-join + hot-bucket cap — candidate
      // volume tracks band-bucket occupancy, so the replicated corpus
      // (all-distinct signatures) plus the 600-member plant (one capped
      // boilerplate bucket) must stay near-linear, never pairwise
      "simhash64_dedup" -> { d: String =>
        // no clearCaches here: simhashNearDupPairs consults no memo, and
        // Harness.minOf2 already clears residue OUTSIDE the measured region
        ops.Dedup.simhashNearDupPairs(
          Tables.documents(spark, d), "doc_id", "text")
          .count(): Unit
      },
      // expectation-suite validation (q_validate): fused row checks + PK
      // groupBy + FK anti-join = three passes over lineitem/orders
      // regardless of check count — the "scan-speed" claim, so the ratio
      // must track the replicated lineitem ~linearly
      "validate" -> { d: String =>
        SparkEntry.queries("q_validate")(spark, d)
          .queryExecution.toRdd.count(): Unit
      },
      // recommendation SERVING join against the bucketed+sorted item-item
      // index: the index grows mult× (replicated orders/lineitem with
      // disjoint dimensions) while the probe batch stays pinned at the 1×
      // slice. Bucketing keeps the matrix side exchange-free and the
      // batch's key range reaches the sorted bucket files as a parquet
      // min/max row-group filter, so serve latency must stay ~FLAT (the
      // ratio this row exists to measure) — a serving system pays for
      // what the batch touches, not for how big the index has grown
      "recommend_serve" -> { d: String =>
        val tbl = serveSetup(d)
        val (lo, hi) = serveBatchBounds
        spark.table(tbl)
          .filter(col("s1").between(lo, hi))
          .join(broadcast(serveBatch), col("sk") === col("s1"))
          .groupBy(col("c"), col("s2"))
          .agg(sum(col("jac").cast("decimal(38,0)")).as("score"),
            count(lit(1)).as("n_paths"))
          .queryExecution.toRdd.count(): Unit
      })

    val selected =
      if (onlyWl.isEmpty) workloads
      else workloads.filter { case (n, _) => onlyWl(n) }

    // warm the scan/agg/join JIT paths once so 1× numbers aren't codegen
    // noise (same rationale as Bench's warmup); a workload that throws
    // here throws again under the timer and is reported there
    selected.foreach { case (_, fn) => Harness.timed(fn(sfDir)) }

    // min-of-2 at each scale; a workload with no successful run at either
    // scale has no ratio and goes to the line's `errors` object instead
    val timings = selected.map { case (name, fn) =>
      name -> (for {
        t1 <- Harness.minOf2(spark)(fn(sfDir))
        tN <- Harness.minOf2(spark)(fn(bigDir))
      } yield (t1, tN))
    }

    // Work-level scaling probe (r12): candidate-pair COUNTS for the
    // width-scaled embedding dedup — deterministic, JVM-context-free,
    // the quantity the DESIGN claims linear (n · occupancy with
    // occupancy pinned by the width rule). Wall-clock of the same stage
    // swings 2-4× with JIT/GC context (DESIGN.md "Round 12"), so scaling
    // verdicts for this family read the count line, not the time row.
    if (sys.env.get("SPARK_GRAFT_EMBED_CAND").contains("1")) {
      val w = widthForMult(mult)
      def cand(dir: String, bits: Int): Long = {
        Harness.clearResidue(spark)
        ops.Similarity.embeddingCandidates(
          Tables.embeddings(spark, dir), "vec_id", "embedding", bits).count()
      }
      val c1 = cand(sfDir, w)
      val cN = cand(bigDir, w)
      println(s"""{"metric":"embed_cand","mult":$mult,"bits":$w,""" +
        s""""cand_x1":$c1,"cand_xN":$cN,""" +
        s""""cand_ratio":${f"${cN.toDouble / math.max(c1, 1L)}%.2f"},""" +
        s""""sf":"$sfDir"}""")
    }

    // ---- scale-correctness verdicts on the mult× corpus ----
    // (skipped under a workload filter — iteration runs time, full runs judge)
    val (ovB, ovD, capFired, onePlantSplit) =
      if (onlyWl.nonEmpty) (-1L, -1L, false, false)
      else {
        Harness.clearResidue(spark)
        val obs = Observation()
        ops.Dedup.nearDedup(Tables.documents(spark, bigDir), "doc_id", "text",
          obs = Some(obs)).count()
        val b = obs.get("oversized_buckets").asInstanceOf[Long]
        val dd = obs.get("oversized_docs").asInstanceOf[Long]

        Harness.clearResidue(spark)
        val plantSplits = ops.Dedup
          .leakageSafeSplit(Tables.documents(spark, bigDir), "doc_id", "text")
          .filter(col("source") === "plant")
          .select("split").distinct().count()
        (b, dd, b >= 1L && dd > 512L, plantSplits == 1L)
      }

    // ---- streaming dedup-at-ingest rehearsal (r9 verdict task 5) ----
    // The batch workloads above prove the BATCH designs sublinear; the
    // ingest story (StreamingDedup.detectSimhash) has correctness parity
    // tests but had no at-scale measurement. Drive the mult× corpus
    // through the stateful simhash pipeline as `streamChunks` file-source
    // microbatches and read per-batch throughput plus state-store size
    // off StreamingQueryProgress. The claim under measurement: per-batch
    // processing RATE stays flat while bucket state grows by the whole
    // corpus — each arrival probes only ITS (band, bkey) bucket (bounded
    // by maxBucket), never the accumulated corpus. A rate that decayed
    // with batch index would falsify the flat-ingest-cost design.
    // Skipped under a workload filter unless named (iteration runs time,
    // full runs judge).
    val streamChunks = 8
    def runStreamWorkload(name: String,
        pipeline: DataFrame => DataFrame,
        srcTag: String = "stream_src",
        chunkSource: () => DataFrame =
          () => Tables.documents(spark, bigDir).select("doc_id", "text"),
        idCol: String = "doc_id"): String = {
      Harness.clearResidue(spark)
      // a fresh measurement every run: a surviving checkpoint from a
      // previous run at this scratch would resume from committed offsets,
      // see no new files, and emit an empty-batches junk line (or, after
      // a mid-stream kill, process only the leftover files with restored
      // state) — the chunk files are reusable, the stream progress is not
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$scratch/stream_ckpt_$name"))
      val srcDir = s"$scratch/$srcTag"
      // steady_* files are a PROBE, not corpus: left behind they would
      // join the next run's ramp feed (mtime-ordered) and double-count
      Option(new java.io.File(srcDir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("steady_"))
        .foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))
      chunkCache(new java.io.File(srcDir), streamChunks, chunkSource(), idCol)
      val schema = chunkSource().schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      // noop sink: pair volume at mult× would swamp a memory sink
      val q = pipeline(stream)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$scratch/stream_ckpt_$name").start()
      val steadyChunks = 2
      var rampCutoff = Long.MaxValue
      try {
        q.processAllAvailable()
        rampCutoff = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
        // STEADY-STATE probe: with every bucket at its design occupancy,
        // feed the first 2 chunks' CONTENT under FRESH ids (+ProbeIdOffset)
        // and measure those batches — the within-ramp rate decline
        // (buckets filling from empty) is paid once per deployment; what
        // a long-lived pipeline runs at is THIS rate. Fresh ids matter:
        // a re-delivered id short-circuits at the already-a-member check
        // BEFORE the verification loop in the simhash/minhash paths, so
        // re-feeding identical rows would measure a cheaper code path
        // than a real arrival pays (self-review find) — the probe rows
        // must be NEW docs whose content lands in full buckets, paying
        // the full pairing + admission cost, which also means probe
        // batches DO grow state by their own rows.
        // Staged atomically: the file source is actively polling srcDir
        // between the two processAllAvailable calls, so the file must
        // appear with its final bytes AND synthetic mtime in one step —
        // a half-copied footer fails the microbatch, and a file listed
        // with a present-day mtime before setLastModified runs would
        // push SeenFilesMap's purge boundary past the other probe file.
        for (k <- 0 until steadyChunks) {
          // probe content is deterministic per (srcTag, k), so it builds
          // ONCE into a cache sibling of the chunk cache — the staged
          // copy below is consumed by the mtime-ordered feed and deleted
          // at the next run's workload start, but the two full-corpus
          // scan+coalesce(1) jobs that build it need not be re-paid per
          // run (review finding). Same atomic discipline as the chunks:
          // a kill mid-build leaves only the tmp dir, never a partial
          // cache file.
          val cached = new java.io.File(
            s"$scratch/${srcTag}_probe_$k.parquet")
          if (!cached.exists()) {
            val tmp = s"$scratch/steady_tmp_$k"
            chunkSource()
              .filter(pmod(col(idCol), lit(streamChunks.toLong)) === k)
              .withColumn(idCol, col(idCol) + lit(ProbeIdOffset))
              .coalesce(1).write.mode("overwrite").parquet(tmp)
            val built = new java.io.File(tmp).listFiles()
              .filter(_.getName.endsWith(".parquet")).head
            java.nio.file.Files.move(built.toPath, cached.toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
          // per-run throwaway copy: REPLACE_EXISTING heals a copy killed
          // mid-write on a previous run; the mtime is set BEFORE the
          // atomic move into the polled dir
          val stage = new java.io.File(s"$scratch/steady_stage_$k.parquet")
          java.nio.file.Files.copy(cached.toPath, stage.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          stage.setLastModified(1000000L * (streamChunks + k + 1))
          // no REPLACE_EXISTING: leftovers were cleaned at workload start,
          // and combining it with ATOMIC_MOVE is implementation-specific
          java.nio.file.Files.move(stage.toPath,
            new java.io.File(srcDir, f"steady_$k%02d.parquet").toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        q.processAllAvailable()
      } finally q.stop()
      val batches = q.recentProgress.toSeq
        .filter(_.numInputRows > 0).sortBy(_.batchId)
        .map { p =>
          val sec = p.durationMs.get("triggerExecution").toDouble / 1000.0
          val stateRows = p.stateOperators.headOption
            .map(_.numRowsTotal).getOrElse(-1L)
          // bytes, not just rows: the designs differ in state PER ROW
          // (MinHash stores 8 hex-slot signatures per doc across ~6×
          // more buckets; the embedding path stores whole float vectors
          // per bucket member), so rows alone understate the memory
          // claim an operator sizes executors against
          val stateBytes = p.stateOperators.headOption
            .map(_.memoryUsedBytes).getOrElse(-1L)
          (p.batchId, p.numInputRows, sec, stateRows, stateBytes)
        }
      val bj = batches.map { case (id, rows0, sec, st, sb) =>
        val rps = if (sec > 0) rows0 / sec else 0.0
        s"""{"batch":$id,"rows":$rows0,"sec":${f"$sec%.3f"},""" +
          s""""rows_per_sec":${f"$rps%.0f"},"state_rows":$st,""" +
          s""""state_bytes":$sb}"""
      }.mkString("[", ",", "]")
      // rate ratio last/first over the RAMP batches: ~1.0 = flat ingest
      // cost while state grew by the whole corpus; the median of the
      // last 3 vs batch 0 damps one-off GC noise (batch 0 also pays JIT
      // warmup, so read the per-batch series, not just the ratio). The
      // steady probe batches report separately: steady_rows_per_sec is
      // the rate at design occupancy, the number a long-lived pipeline
      // runs at after the one-time fill ramp. Split on the batchId
      // recorded BEFORE the probe files were staged, not on position —
      // a zero-row ramp batch (filtered out above) would otherwise
      // shift a probe batch into the ramp set.
      val (ramp, steady) = batches.partition(_._1 <= rampCutoff)
      val rates = ramp.map { case (_, r, s0, _, _) =>
        if (s0 > 0) r / s0 else 0.0 }
      val rateRatio =
        if (rates.length >= 2 && rates.head > 0) {
          val tail3 = rates.takeRight(3).sorted
          tail3(tail3.length / 2) / rates.head
        } else 0.0
      // LOWER median: with 2 probe samples the upper-median index would
      // report the max — a systematically optimistic number; the lower
      // one is the conservative sizing input
      val steadyRps = {
        val rs = steady.map { case (_, r, s0, _, _) =>
          if (s0 > 0) r / s0 else 0.0 }.sorted
        if (rs.isEmpty) 0.0 else rs((rs.length - 1) / 2)
      }
      s"""{"metric":"streaming_rehearsal","mult":$mult,""" +
        s""""workload":"$name","chunks":$streamChunks,""" +
        s""""state_store":"$stateStore",""" +
        s""""rate_last_over_first":${f"$rateRatio%.2f"},""" +
        s""""steady_rows_per_sec":${f"$steadyRps%.0f"},""" +
        s""""batches":$bj,"sf":"$sfDir"}"""
    }
    // All three stateful ingest designs measured: the 64-bit banded
    // simhash (row-local kernel + in-bucket Hamming), the 8-slot MinHash
    // banding (row-local kernel + in-bucket agreement estimate), and the
    // hyperplane-LSH embedding path (row-local projection + in-bucket
    // exact cosine) — same flat-ingest-cost claim, different kernels and
    // bucket geometry. The embedding row carries the batch
    // embed_dedup_wide width rule (widthForMult) EXPLICITLY: a stream
    // cannot autoBits — there is no corpus n at plan time — so width is
    // an ingest-deployment knob the operator must set from the expected
    // corpus size; this row measures the design at the width that rule
    // picks for mult×.
    //
    // The batch line prints FIRST: the streams run minutes of stateful
    // checkpointed work, and a failure there must not discard the ~34
    // batch timings already measured. Each stream workload is likewise
    // fault-isolated — one failed design emits an error line, the others
    // still report. Selectable per name (plus the legacy collective key
    // "streaming_simhash" older invocations used).
    val wl = timings.collect { case (n, Right((t1, tN))) =>
      s""""$n":{"x1":${f"$t1%.3f"},"x$mult":${f"$tN%.3f"},""" +
        s""""ratio":${f"${tN / t1}%.2f"}}"""
    }.mkString("{", ",", "}")
    val errors = timings.collect { case (n, Left(e)) => s""""$n":${jsonStr(e)}""" }
    val errJson =
      if (errors.isEmpty) "" else errors.mkString(""""errors":{""", ",", "},")
    println(s"""{"metric":"scale_rehearsal","mult":$mult,"rows_x$mult":$nBig,""" +
      s""""workloads":$wl,$errJson"oversized_buckets":$ovB,"oversized_docs":$ovD,""" +
      s""""cap_fired":$capFired,"plant_one_split":$onePlantSplit,""" +
      s""""sf":"$sfDir"}""")

    def wantStream(n: String): Boolean =
      onlyWl.isEmpty || onlyWl(n) || onlyWl("streaming_simhash")
    // one stream workload's line, or its error line if it throws —
    // run only when `want` selects it
    def isolated(want: String => Boolean)(n: String)(run: => String)
        : Option[String] =
      if (!want(n)) None
      else try Some(run) catch {
        case e: Exception => Some(
          s"""{"metric":"streaming_rehearsal","mult":$mult,""" +
            s""""workload":"$n","error":${jsonStr(e.toString.take(300))},""" +
            s""""sf":"$sfDir"}""")
      }
    val streamJsons = Seq(
      isolated(wantStream)("simhash_ingest")(
        runStreamWorkload("simhash_ingest",
          st => streaming.StreamingDedup.detectSimhash(st).toDF())),
      isolated(wantStream)("minhash_ingest")(
        runStreamWorkload("minhash_ingest",
          st => streaming.StreamingDedup.detect(st).toDF())),
      isolated(wantStream)("embedding_ingest")(
        runStreamWorkload("embedding_ingest",
          st => streaming.StreamingDedup
            .detectEmbedding(st, bits = widthForMult(mult)).toDF(),
          srcTag = "stream_emb_src",
          chunkSource = () => Tables.embeddings(spark, bigDir)
            .select("vec_id", "embedding"),
          idCol = "vec_id"))).flatten
    streamJsons.foreach(println)

    // ---- compacting-generation ingest rehearsal (r11 verdict task 3) ----
    // The pure-stateful rows above measure the scale-killer the r10
    // verdict flagged: MinHash state grows linearly with everything ever
    // ingested, and the embedding rate declines as buckets fill. These
    // rows measure the FIX at 3× that horizon: 24 chunks in 3 generations
    // of 8 — generation 0 runs the plain stateful path; at each boundary
    // the generation is compacted into the bucketed history index
    // (StreamingDedup.compact*Index) and the stream restarts with a FRESH
    // checkpoint, so later generations detect new-vs-new through
    // one-generation-bounded state and new-vs-history through the
    // stream-static bucketed index join (index side never shuffles).
    // Claims under measurement: per-batch rate holds (>= 0.8
    // last-over-first at 24 chunks), and state_rows RESETS each
    // generation instead of growing monotonically. Compaction time is
    // reported per boundary — it is the scheduled maintenance cost, not
    // part of any batch's rate.
    val compactChunks = 24
    val genSize = 8
    def runCompactingWorkload(name: String,
        statefulPipeline: DataFrame => DataFrame,
        indexedPipeline: (DataFrame, DataFrame) => DataFrame,
        compactGen: (DataFrame, String, String) => DataFrame,
        srcTag: String,
        chunkSource: () => DataFrame,
        idCol: String): String = {
      Harness.clearResidue(spark)
      val cacheDir = new java.io.File(s"$scratch/${srcTag}_c24")
      chunkCache(cacheDir, compactChunks, chunkSource(), idCol)
      val schema = chunkSource().schema
      val runTag = java.util.UUID.randomUUID().toString
        .replace("-", "").take(8)
      val idxTbl = s"graft_cmp_idx_$runTag"
      val idxPath = s"$scratch/cmp_idx_$runTag"
      // (gen, batchId, rows, sec, stateRows, stateBytes)
      val allBatches = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Long, Long, Double, Long, Long)]
      val compactSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
      // r12 (r11 verdict task 3): the generation boundary is DECIDED BY
      // THE POLICY at runtime, not scheduled by this harness. The state-
      // row threshold is calibrated off the first batch (aiming ~genSize
      // chunks per generation when state grows roughly linearly per
      // chunk), then StreamingDedup.CompactionPolicy runs the recipe in
      // its scaladoc: fire → stop → compact → fresh checkpoint → resume
      // with the index join.
      var policy: streaming.StreamingDedup.CompactionPolicy = null
      val genChunks = scala.collection.mutable.ArrayBuffer.empty[Int]
      var gen = 0
      try {
        var index: DataFrame = null
        var batchesThisGen = 0
        var genFirstChunk = 0
        var genDir: java.io.File = null
        var q: org.apache.spark.sql.streaming.StreamingQuery = null
        def startGen(): Unit = {
          genDir = new java.io.File(s"$scratch/${srcTag}_pgen$gen")
          org.apache.commons.io.FileUtils.deleteQuietly(genDir)
          genDir.mkdirs()
          val ckpt = s"$scratch/cmp_ckpt_${name}_$gen"
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(ckpt))
          val stream = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(genDir.toString)
          val out = if (gen == 0) statefulPipeline(stream)
            else indexedPipeline(stream, index)
          q = out.writeStream.format("noop")
            .option("checkpointLocation", ckpt).start()
          batchesThisGen = 0
        }
        def drainProgress(): Unit =
          q.recentProgress.toSeq.filter(_.numInputRows > 0)
            .sortBy(_.batchId).foreach { p =>
              val sec =
                p.durationMs.get("triggerExecution").toDouble / 1000.0
              val st = p.stateOperators.headOption
                .map(_.numRowsTotal).getOrElse(-1L)
              val sb = p.stateOperators.headOption
                .map(_.memoryUsedBytes).getOrElse(-1L)
              allBatches += ((gen, p.batchId, p.numInputRows, sec, st, sb))
            }
        def closeGen(lastChunk: Int): Unit = {
          q.stop()
          drainProgress()
          genChunks += (lastChunk - genFirstChunk + 1)
          // boundary compaction, timed (the operator's maintenance cost)
          val t0 = System.nanoTime()
          val genCorpus = chunkSource().filter(
            pmod(col(idCol), lit(compactChunks.toLong))
              .between(genFirstChunk, lastChunk))
          index = compactGen(genCorpus, s"$idxPath/idx", idxTbl)
          compactSecs += (System.nanoTime() - t0) / 1e9
          gen += 1
          genFirstChunk = lastChunk + 1
        }
        startGen()
        for (k <- 0 until compactChunks) {
          val srcF = new java.io.File(cacheDir, f"chunk_$k%02d.parquet")
          val dst = new java.io.File(genDir, srcF.getName)
          java.nio.file.Files.copy(srcF.toPath, dst.toPath)
          dst.setLastModified(1000000L * (k + 1))
          q.processAllAvailable()
          batchesThisGen += 1
          if (policy == null) {
            // calibrate once, off the first batch's observed state rows
            val s0 = Option(q.lastProgress)
              .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
            policy = streaming.StreamingDedup.CompactionPolicy(
              maxStateRows = math.max(1L, s0 * genSize))
          }
          if (k == compactChunks - 1) closeGen(k)
          else if (policy.shouldCompact(q.lastProgress, batchesThisGen)) {
            closeGen(k)
            startGen()
          }
        }
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $idxTbl")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(idxPath))
      }
      val nGens = gen
      val rates = allBatches.map { case (_, _, r, s0, _, _) =>
        if (s0 > 0) r / s0 else 0.0 }
      val rateRatio =
        if (rates.length >= 2 && rates.head > 0) {
          val t3 = rates.takeRight(3).toSeq.sorted
          t3(t3.length / 2) / rates.head
        } else 0.0
      val genMedians = (0 until nGens).map { g =>
        val rs = allBatches.filter(_._1 == g).map { case (_, _, r, s0, _, _) =>
          if (s0 > 0) r / s0 else 0.0 }.toSeq.sorted
        if (rs.isEmpty) 0.0 else rs((rs.length - 1) / 2)
      }
      val stateMaxPerGen = (0 until nGens).map { g =>
        allBatches.filter(_._1 == g).map(_._5).maxOption.getOrElse(-1L) }
      val bj = allBatches.map { case (g, id, rows0, sec, st, sb) =>
        val rps = if (sec > 0) rows0 / sec else 0.0
        s"""{"gen":$g,"batch":$id,"rows":$rows0,"sec":${f"$sec%.3f"},""" +
          s""""rows_per_sec":${f"$rps%.0f"},"state_rows":$st,""" +
          s""""state_bytes":$sb}"""
      }.mkString("[", ",", "]")
      s"""{"metric":"streaming_rehearsal","mult":$mult,""" +
        s""""workload":"$name","chunks":$compactChunks,""" +
        s""""generations":$nGens,"gen_size_target":$genSize,""" +
        s""""gen_chunks":${genChunks.mkString("[", ",", "]")},""" +
        s""""policy_max_state_rows":${
          Option(policy).map(_.maxStateRows).getOrElse(-1L)},""" +
        s""""state_store":"$stateStore",""" +
        s""""rate_last_over_first":${f"$rateRatio%.2f"},""" +
        s""""rate_gen_medians":${genMedians.map(v => f"$v%.0f")
          .mkString("[", ",", "]")},""" +
        s""""state_rows_max_per_gen":${stateMaxPerGen.mkString("[", ",", "]")},""" +
        s""""compact_secs":${compactSecs.map(v => f"$v%.1f")
          .mkString("[", ",", "]")},""" +
        s""""batches":$bj,"sf":"$sfDir"}"""
    }
    // selectable ONLY by their own names (plus full runs): the legacy
    // collective key must keep meaning the three pure-stateful rows
    def wantCompact(n: String): Boolean = onlyWl.isEmpty || onlyWl(n)
    val compactJsons = Seq(
      isolated(wantCompact)("minhash_ingest_compacting")(
        runCompactingWorkload("minhash_ingest_compacting",
          st => streaming.StreamingDedup.detect(st).toDF(),
          (st, idx) => streaming.StreamingDedup.nearDupPairsWithIndex(
            streaming.StreamingDedup.withBandKeys(st, "doc_id", "text"),
            idx),
          (gc, p, t) => streaming.StreamingDedup.compactMinhashIndex(
            gc, "doc_id", "text", p, t),
          "stream_src",
          () => Tables.documents(spark, bigDir).select("doc_id", "text"),
          "doc_id")),
      isolated(wantCompact)("embedding_ingest_compacting")(
        runCompactingWorkload("embedding_ingest_compacting",
          st => streaming.StreamingDedup
            .detectEmbedding(st, bits = widthForMult(mult)).toDF(),
          (st, idx) => {
            import spark.implicits._
            streaming.StreamingDedup.embeddingPairsWithIndex(
              streaming.StreamingDedup.withProbeKeys(st, "vec_id",
                "embedding", widthForMult(mult))
                .as[streaming.StreamingDedup.ProbedVec], idx)
          },
          (gc, p, t) => streaming.StreamingDedup.compactEmbeddingIndex(
            gc, "vec_id", "embedding", widthForMult(mult), p, t),
          "stream_emb_src",
          () => Tables.embeddings(spark, bigDir)
            .select("vec_id", "embedding"),
          "vec_id")),
      isolated(wantCompact)("simhash_ingest_compacting")(
        runCompactingWorkload("simhash_ingest_compacting",
          st => streaming.StreamingDedup.detectSimhash(st).toDF(),
          (st, idx) => streaming.StreamingDedup.simhashPairsWithIndex(
            streaming.StreamingDedup.withSimhashBandKeys(st, "doc_id",
              "text"), idx),
          (gc, p, t) => streaming.StreamingDedup.compactSimhashIndex(
            gc, "doc_id", "text", p, t),
          "stream_src",
          () => Tables.documents(spark, bigDir).select("doc_id", "text"),
          "doc_id"))).flatten
    compactJsons.foreach(println)
    spark.stop()
  }
}
