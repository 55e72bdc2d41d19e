package graft

/** Driver-run benchmark: every registered query at SPARK_GRAFT_SF_DIR,
  * one JSON line (driver contract). A small warmup pass JITs the common
  * scan/agg/join/window code paths first so measured numbers are
  * steady-state rather than first-query codegen+classloading noise. */
object Bench {
  /** THE spike threshold: 3× the main-pass canary min. One definition —
    * the heal-pass flagging, the contention verdict, the emitted
    * spike_threshold field, and (via that field) bench_diff.py all read
    * this; a second derivation anywhere reintroduces the basis drift the
    * r10 review closed. */
  private[graft] def spikeThreshold(mainCanaries: Seq[Double]): Double =
    if (mainCanaries.nonEmpty) 3 * mainCanaries.min else 0.0

  /** The contention verdict, pure so the semantics the stress runs
    * validated stay pinned by spec: returns (contended, spikedRows,
    * spikeThreshold).
    *
    *  - `spikeThreshold` = 3× the MAIN-pass canary min — the single basis
    *    shared by the heal-pass flagging, this verdict, and
    *    tools/bench_diff.py's row exclusion;
    *  - `spikedRows` counts POST-heal per-query canaries above it (rows
    *    still dirty after their retry — what a consumer must exclude);
    *  - `contended` = sustained load (main-pass canary median > 2× min —
    *    healing cannot affect it by construction) OR >5% of rows still
    *    spiked. A transient burst whose rows all healed reads
    *    contended=0; a box loaded the whole time keeps its retry
    *    canaries high and stays contended=1. */
  private[graft] def contentionVerdict(
      mainCanaries: Seq[Double],
      postHealCanaries: Iterable[Double]): (Int, Int, Double) = {
    val cMin0 = if (mainCanaries.nonEmpty) mainCanaries.min else 0.0
    val threshold = spikeThreshold(mainCanaries)
    val stillSpiked =
      if (cMin0 > 0) postHealCanaries.count(_ > threshold) else 0
    val n = postHealCanaries.size
    val spiked = if (n > 0 && stillSpiked.toDouble / n > 0.05) 1 else 0
    val sorted = mainCanaries.sorted
    val med = if (sorted.isEmpty) 0.0 else sorted(sorted.length / 2)
    val contended =
      if ((cMin0 > 0 && med > 2 * cMin0) || spiked == 1) 1 else 0
    (contended, stillSpiked, threshold)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(defaultCpus = 4)
    Harness.warmup(spark, sfDir)

    // Load canary: q_group_agg re-timed immediately before every query.
    // min-of-2 per query discards transient spikes but is helpless against
    // SUSTAINED host load covering both runs (this faked broad regressions
    // in the r3 and r5 driver benches); a fixed workload interleaved
    // through the whole window rises with that load, so a contended window
    // is machine-detectable from the JSON itself: healthy runs keep the
    // canary series flat (median ≈ min), contended ones don't.
    val canaryFn = SparkEntry.queries("q_group_agg")
    def canaryTime(): Double = {
      val t0 = System.nanoTime()
      try canaryFn(spark, sfDir).count() catch { case _: Throwable => }
      (System.nanoTime() - t0) / 1e9
    }

    // SPARK_GRAFT_ONLY=qid1,qid2 restricts the run to a subset — for
    // re-adjudicating a single query's timing without paying the full
    // sweep (the one-JSON-line contract is unchanged)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // empty/blank env var means the full suite
    val selected = only match {
      case Some(set) => SparkEntry.queries.filter { case (k, _) => set(k) }
      case None => SparkEntry.queries
    }
    val canaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    // (name, preceding canary): lets a consumer exclude exactly the rows
    // timed next to a load spike instead of distrusting the whole run
    val canaryBefore =
      scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Default order is alphabetical; SPARK_GRAFT_ORDER_SEED shuffles it
    // deterministically. Per-query numbers are CONTRACTUALLY
    // order-independent (clearResidue drops every memo/persist/cache
    // before each timed run), and the shuffle knob is how that claim gets
    // audited: two runs with different seeds must agree within host noise.
    val ordered = selected.toSeq.sortBy(_._1)
    val runOrder = sys.env.get("SPARK_GRAFT_ORDER_SEED") match {
      case Some(seed) => new scala.util.Random(seed.toLong).shuffle(ordered)
      case None => ordered
    }
    def minOf2(fn: Tables.Q): Either[String, Double] =
      Harness.minOf2(spark)(Harness.force(fn(spark, sfDir)))
    val results =
      scala.collection.mutable.LinkedHashMap.empty[String, Either[String, Double]]
    for ((name, fn) <- runOrder) {
      Harness.clearResidue(spark)
      val c = canaryTime()
      canaries += c
      canaryBefore(name) = c
      results(name) = minOf2(fn)
    }
    // Self-healing (r9 verdict task): a spiked canary marks the adjacent
    // measurement as load-contaminated; instead of only FLAGGING it for
    // exclusion, re-run exactly those queries once and keep the min —
    // bounded extra work (one min-of-2 per flagged row), and the retry
    // canary replaces the row's canary_before only if it is cleaner, so a
    // still-loaded box stays visibly contaminated rather than silently
    // "healed". Both the r8 and r9 driver artifacts were contended; this
    // turns such a run's numbers usable instead of merely discardable.
    var healed = 0
    // ONE spike threshold for everything downstream: the heal-pass
    // flagging here, the contended verdict below, and bench_diff.py's
    // row exclusion all read spikeThreshold(mainCanaries) — the single
    // definition the verdict function also uses. (Deriving the verdict
    // or the exclusion from the post-heal series min instead — heal
    // canaries can be lower if the box quieted — would exclude rows the
    // heal pass never retried and retroactively flip verdicts.)
    val mainCanaries = canaries.toVector // heal-pass samples appended after
    val spikeThr = spikeThreshold(mainCanaries)
    if (spikeThr > 0) {
      val flagged = runOrder.filter { case (n, _) =>
        canaryBefore(n) > spikeThr }
      for ((name, fn) <- flagged) {
        Harness.clearResidue(spark)
        val c = canaryTime()
        canaries += c
        if (c < canaryBefore(name)) canaryBefore(name) = c
        results(name) = Harness.best(Seq(results(name), minOf2(fn)))
        healed += 1
      }
    }
    // The ANN/SemDeDup rows measure the memoized-codebook steady state
    // (Harness.clearResidue keeps the FittedModel scope).
    // r12 verdict task 3: meter the excluded work explicitly — one
    // `ann_codebook_fit` line that pays the fit from COLD (memo
    // evicted before each run), min-of-2 like every other row, so the
    // published numbers' meaning is unambiguous: q_ann_* = serve cost on
    // a warm codebook, ann_codebook_fit = the once-per-session fit.
    // Full-suite runs only — a subset run stays exactly the rows asked
    // for (additive: no existing row removed or renamed).
    if (only.isEmpty) {
      Harness.clearResidue(spark)
      val c = canaryTime()
      canaries += c
      canaryBefore("ann_codebook_fit") = c
      results("ann_codebook_fit") = Harness.best((1 to 2).map { _ =>
        SessionMemo.clear(spark, SessionMemo.FittedModel)
        Harness.timed(ops.Similarity.prewarmCodebook(spark, sfDir))
      })
    }
    val line = renderLine(sfDir,
      results.toSeq.collect { case (k, Right(t)) => k -> t }, mainCanaries,
      canaries.toSeq, canaryBefore.toSeq, healed,
      errors = results.toSeq.collect { case (k, Left(e)) => k -> e })
    // Belt and braces: the full untruncated line also lands in the repo so
    // tools/bench_diff.py can always diff complete per-query maps.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")), line)
    catch { case _: Throwable => }
    println(line)
    spark.stop()
  }

  /** The one output line, pure so BenchVerdictSpec pins its layout.
    *
    * The driver records only the LAST ~2,000 chars of this line
    * (BENCH_r06 lost the whole per-query map to the canary series that
    * used to print after it; BENCH_r11 kept 89/231 query rows but lost
    * the verdict fields, which all sat at the HEAD). Layout is therefore
    * tail-optimized twice over: the per-query map — the main signal next
    * round's regression triage has — comes second-to-last with values
    * ms-rounded, and the line ENDS with a ~300-char `summary` object that
    * repeats every verdict field (total, rows, contended, spiked,
    * healed, spike_threshold, canary min/median/max) plus a 16-hex
    * SHA-256 prefix of the exact `queries` map text. Any tail window
    * ≥ the summary's size preserves a complete, independently-parseable
    * verdict, and the digest lets tools/bench_diff.py authenticate the
    * committed full artifact (BENCH_FULL.json) as THIS run and recover
    * the complete map from it.
    *
    * Rows with no successful run are not in `results`: they go to an
    * `errors` map (qid → the last run's error) ahead of `canary_before`,
    * which is absent when every row ran, leaving the line unchanged. */
  private[graft] def renderLine(sfDir: String,
      results: Seq[(String, Double)], mainCanaries: Seq[Double],
      allCanaries: Seq[Double], canaryBefore: Seq[(String, Double)],
      healed: Int, errors: Seq[(String, String)] = Nil): String = {
    def r3(v: Double): String = f"$v%.3f"
    val qs = results.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // min/median/max read the MAIN-pass series (the samples interleaved
    // with the measurements — the actual load signal); the published
    // "series" keeps the heal-pass samples appended at the end for
    // transparency (first `results.size` entries = main pass, the last
    // `healed` = heal retries).
    val cs = mainCanaries.sorted
    val (cMin, cMed, cMax) =
      if (cs.isEmpty) (0.0, 0.0, 0.0)
      else (cs.head, cs(cs.length / 2), cs.last)
    // Two independent contention criteria (r8 lesson: a run with 22 canary
    // samples past 1 s — max 12.5 s — still had median ≈ 1.6×min, so the
    // median-only flag said "clean" while 14 of the 20 worst per-query
    // inflations sat next to a spiked canary): sustained load lifts the
    // MEDIAN of the fixed workload; spiky load leaves the median alone
    // but fires individual rows. Semantics live in contentionVerdict
    // (pure, spec-pinned); the empirical validation is DESIGN.md's
    // deliberate-load experiments.
    val (contended, stillSpiked, spikeThr) =
      contentionVerdict(mainCanaries, canaryBefore.map(_._2))
    val canaryJson =
      s"""{"workload":"q_group_agg","min":${r3(cMin)},"median":${r3(cMed)},""" +
        s""""max":${r3(cMax)},"contended":$contended,""" +
        s""""spiked_samples":$stillSpiked,"healed":$healed,""" +
        s""""spike_threshold":${r3(spikeThr)},""" +
        s""""series":${allCanaries.map(r3).mkString("[", ",", "]")}}"""
    // canary_before: each query's immediately-preceding canary, keyed by
    // qid — a contaminated row is mechanically excludable (bench_diff.py
    // drops rows whose canary exceeded 3×min) without guessing from the
    // positional series. Sits BEFORE the queries map: under the driver's
    // last-2,000-chars truncation it is sacrificed first.
    val cbJson = canaryBefore.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val quote = new com.fasterxml.jackson.databind.ObjectMapper()
    val errJson =
      if (errors.isEmpty) ""
      else errors.sortBy(_._1)
        .map { case (k, e) => "\"" + k + "\":" + quote.writeValueAsString(e) }
        .mkString("\"errors\":{", ",", "},")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(qs.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val summaryJson =
      s"""{"total":${r3(total)},"rows":${results.size},""" +
        s""""contended":$contended,"spiked_samples":$stillSpiked,""" +
        s""""healed":$healed,"spike_threshold":${r3(spikeThr)},""" +
        s""""canary_min":${r3(cMin)},"canary_median":${r3(cMed)},""" +
        s""""canary_max":${r3(cMax)},"sf":"$sfDir",""" +
        s""""queries_sha256_16":"$digest","full_path":"BENCH_FULL.json"}"""
    s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""sf":"$sfDir","load_canary":$canaryJson,$errJson""" +
      s""""canary_before":$cbJson,"queries":$qs,"summary":$summaryJson}"""
  }
}
