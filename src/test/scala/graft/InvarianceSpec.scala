package graft

/** Partition-count invariance: the same query must produce byte-identical
  * results whatever `spark.sql.shuffle.partitions` is — the local stand-in
  * for "the answer doesn't change when the cluster size does". Covers the
  * operators whose implementations are most sensitive to partitioning:
  * decimal aggregation merge order, positional zip (count-offset indexing),
  * LSH bucket joins, the custom as-of merge pass, binned/cut-point scale
  * twins, and running windows. */
class InvarianceSpec extends SparkSpec {

  private val qids = Seq(
    "q_group_agg",        // decimal partial+final merge order
    "q_cumsum",           // running window per key
    "q_roc_binned",       // distributed bins + bounded cumulative window
    "q_qcut_cutpoints",   // broadcast cut points
    "q_hstack",           // 2-pass count-offset positional zip
    "q_row_count",        // same, single-frame
    "q_dedup_embedding",  // LSH signature equi-join
    "q_join_asof_native", // custom sort-merge as-of exec
    "q_transpose",        // melt+pivot
    "q_pipeline_curate",  // composed curation pipeline
    "q_dedup_clusters",   // iterative min-label connected components
    "q_contamination",    // broadcast benchmark-shingle join
    "q_tfidf",            // two-level aggregates + per-doc rank window
    "q_perplexity",       // zipf head/tail union + tf-weighted rounded mean
    "q_pack_sequences",   // bucketed running-sum packing
    "q_repetition",       // per-doc max-count aggregate (tie-independent)
    "q_ngram_entropy",    // double Σ c·ln c merge order under 4dp round
    "q_dedup_simhash_pairs", // 17-probe signature equi-join
    "q_ann_ivf_probe2",   // two-cell query fanout + rank windows
    "q_split_stratified", // hash-membership split (must not depend on layout)
    "q_source_balance",   // hash-threshold downsampling (exact-int counts)
    "q_sample_temperature", // per-mix hash thresholds from a global min
    "q_group_sample",     // hash-order window rank (WindowGroupLimit path)
    "q_minhash_sim",      // signature-agreement estimate vs exact Jaccard
    "q_dedup_incremental", // cross-set banding + exact/near labeling
    "q_embed_centroids",  // (label, dim) double-avg under 4dp round
    "q_span_dedup",       // two-level span aggregate + deterministic top-20
    "q_knn_label",        // rank window + two-level vote argmax
    "q_length_buckets",   // broadcast percentile cut points + rollup
    "q_corpus_report",    // double-avg merge order under 4dp round
    "q_strip_boilerplate", // cross-doc block inventory join + per-doc reassembly
    "q_chunk_stride",     // row-local windowing (pure scan, should be trivially invariant)
    "q_ann_pq",           // code argmin + ADC double-sum under 6dp round
    "q_pipeline_pretrain", // composed strip → gate → chunk → pack chain
    "q_bigram_lm",        // tf-weighted transcendental sum under 4dp round
    "q_bpe_pairs",        // vocab-weighted pair counts + deterministic top-20 cut
    "q_quality_classifier_binned", // LR fit (treeAggregate order) + binned AUC:
                          // thresholded verdicts must absorb partition-order ulps
    "q_cdc_apply",        // max(struct) latest-wins merge order
    "q_heavy_hitters",    // sketch content varies with partitioning — the
                          // OUTPUT (exact counts + guarantee verdicts) must not
    "q_heavy_hitters_grouped", // same, per group
    "q_interleave",       // count-offset per-source index + broadcast ranks
    "q_rolling_corr",     // 6dp-rounded windowed sums, closed-form corr
    "q_rolling_ewm",      // ordered frame collect + dyadic-weight fold
    "q_dedup_url",        // canonical-key aggregate
    "q_span_merge",       // span-inventory join + per-doc island windows
    "q_markov",           // lag window + bounded transition normalization
    "q_ab_test",          // exact-int conversion flags, 1-row verdict
    "q_pagerank",         // fixed-point integer power iteration
    "q_bpe_train",        // greedy merge loop: exact counts + lexicographic ties
    "q_target_encode",    // double-avg shrinkage under 4dp round
    "q_standardize",      // two-pass moments under 4dp round
    "q_degree_dist",      // exact-integer degree histogram
    "q_copurchase_sim",   // exact-integer set overlap + 6dp jaccard
    "q_rfm",              // integer-cents RFM cube + broadcast cut points
    "q_basket_lift",      // exact-integer support/confidence/lift
    "q_survival_km",      // bounded KM table, exp∘Σln under 6dp round
    "q_chi2",             // bounded contingency stats under 4dp round
    "q_winsorize",        // broadcast clip band, 4dp means
    "q_cooccur_pmi",      // exact-int counts, one ln per pair at 4dp
    "q_gini",             // integer-cents Lorenz bins, single final division
    "q_acf",              // bounded 2dp daily series, 4dp correlations
    "q_changepoint",      // bounded cumulative scan, deterministic argmax
    "q_recommend",        // exact micro-Jaccard integer scores
    "q_bpe_apply",        // memoized merges + exact count-weighted totals
    "q_skyline",          // exact-integer dominance staircase
    "q_triangles",        // exact-integer wedge-close census
    "q_zipf_fit",         // bounded top-100 regression under 4dp round
    "q_backtest_sma",     // bounded daily walk-forward, 4dp errors
    "q_join_overlap",     // bucket-decomposed interval join, exact micros
    "q_quality_ensemble", // row-local votes, exact-integer tallies
    "q_bm25",             // exact-int tf/df/dl + shared avgdl, 4dp cut
    "q_markov_eval",      // hash-split argmax predictor, exact counts
    "q_incremental_rollup", // decimal-exact merge-vs-full verdict
    "q_cohort_ltv",       // integer-cents cumulative grid
    "q_funnel_time",      // integer-seconds latencies, exact percentiles
    "q_seasonality")      // bounded hour grid, single exact divisions

  test("results are invariant under shuffle-partition counts 3/13/32") {
    val original = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (qid <- qids) {
        val runs = Seq("3", "13", "32").map { n =>
          spark.conf.set("spark.sql.shuffle.partitions", n)
          // no memoized plan or BPE merges may leak across configs
          SessionMemo.clear(spark, SessionMemo.Swept)
          SparkEntry.queries(qid)(spark, sf).collect().map(_.toString).toSeq
        }
        assert(runs(0) == runs(1) && runs(1) == runs(2),
          s"$qid changes results across shuffle-partition counts")
        assert(runs(0).nonEmpty, s"$qid returned no rows")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", original)
  }

  /** Third determinism axis (after shuffle-partition count and input file
    * layout): Adaptive Query Execution re-plans at stage boundaries —
    * coalescing post-shuffle partitions, flipping sort-merge joins to
    * broadcast, splitting skewed partitions. All of that changes merge
    * order and join physicalization at runtime, which is exactly what a
    * production cluster does per-run as data volumes drift. The answer
    * must not. Covers the join/aggregate-heavy qids where AQE has the
    * most replanning freedom. */
  private val aqeQids = Seq(
    "q_group_agg",         // partial+final decimal merge
    "q_group_agg_salted",  // two-level salted aggregate (AQE may coalesce the salt stage)
    "q_join_skew_salted",  // manual salt under AQE's own skew handling
    "q_join_inner",        // SMJ <-> BHJ flip candidate
    "q_join_asof_native",  // custom exec must survive AQE wrapping
    "q_dedup_minhash",     // banding joins + bucket caps
    "q_split_leakage",     // banding -> verify -> CC chain (iterative joins)
    "q_recommend",         // multi-stage CF: pair joins + windows
    "q_tfidf",             // two-level aggregates + rank window
    "q_dsir",              // explode -> aggregate -> broadcast LLR
    "q_pagerank",          // iterative BSP joins
    "q_incremental_rollup") // merge-vs-full decimal verdict

  test("results are invariant under AQE on/off") {
    val original = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      for (qid <- aqeQids) {
        val runs = Seq("false", "true").map { on =>
          spark.conf.set("spark.sql.adaptive.enabled", on)
          SessionMemo.clear(spark, SessionMemo.Swept)
          SparkEntry.queries(qid)(spark, sf).collect().map(_.toString).toSeq
        }
        assert(runs(0) == runs(1), s"$qid changes results when AQE toggles")
        assert(runs(0).nonEmpty, s"$qid returned no rows")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", original)
  }
}
