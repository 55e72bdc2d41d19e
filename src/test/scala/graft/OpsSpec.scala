package graft

import org.apache.spark.sql.functions._

/** Per-operator spot checks on sf0.001 + algebraic property tests
  * (SURVEY.md §5.2.2/§5.2.4). The exhaustive hash-parity gate is driver-run
  * (Verify + DuckDB); these assert semantics a hash can't explain. */
class OpsSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("every registered query has an oracle declaration") {
    // Full oracle coverage: approximate/nondeterministic ops (HLL, RNG
    // sampling, KMeans) emit their own tolerance verdict, which the oracle
    // asserts — no rows-only escape hatch remains.
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"missing oracle: $noOracle")
  }

  test("entry() returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("semi ∪ anti partitions the left input") {
    val semi = q("q_join_semi").count()
    val anti = q("q_join_anti").count()
    val customers = Tables.customer(spark, sf).count()
    assert(semi + anti == customers)
  }

  test("cumsum last element equals group sum") {
    val e = Tables.events(spark, sf)
    val total = e.agg(round(sum("value"), 4)).head.getDouble(0)
    // per-user: the last event's cum_sum must equal the user's total
    val perUser = e.groupBy("user_id").agg(round(sum("value"), 4).as("total"))
    val lastRows = e.select(col("user_id"), col("event_id"))
      .groupBy("user_id").agg(max("event_id").as("event_id"))
      .join(q("q_cumsum"), "event_id")
    val joined = lastRows.join(perUser, "user_id")
      .select(abs(col("cum_sum") - col("total")).as("diff"))
      .agg(max("diff")).head.getDouble(0)
    assert(joined < 1e-6, s"cumsum tail mismatch: $joined (grand total $total)")
  }

  test("rolling window of 1 row would be identity (frame sanity via roll_min<=mean<=roll_max)") {
    val bad = q("q_rolling_mean")
      .filter(col("roll_mean") < col("roll_min") - 1e-9 ||
        col("roll_mean") > col("roll_max") + 1e-9)
      .count()
    assert(bad == 0)
  }

  test("melt ∘ pivot round-trip preserves cell values") {
    val melted = q("q_melt") // (p_partkey, attr, val)
    val back = melted.groupBy("p_partkey")
      .pivot("attr", Seq("size", "retailprice")).agg(first("val"))
    val orig = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_size").cast("double").as("size"),
        col("p_retailprice").as("retailprice"))
    assert(back.exceptAll(orig).count() == 0 && orig.exceptAll(back).count() == 0)
  }

  test("as-of join: every matched click is at-or-before its purchase") {
    val e = Tables.events(spark, sf)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
    val bad = q("q_join_asof").filter(col("click_id").isNotNull)
      .join(clicks, "click_id")
      .join(e.select(col("event_id"), col("ts").as("p_ts")), "event_id")
      .filter(col("click_ts") > col("p_ts")).count()
    assert(bad == 0)
  }

  test("native as-of join ≡ union-tag window encoding (all strategies)") {
    for ((nat, win) <- Seq(
        "q_join_asof_native" -> "q_join_asof",
        "q_join_asof_fwd_native" -> "q_join_asof_fwd",
        "q_join_asof_nearest_native" -> "q_join_asof_nearest",
        "q_join_asof_tol_native" -> "q_join_asof_tol")) {
      val native = q(nat)
      val unionTag = q(win)
      assert(native.exceptAll(unionTag).count() == 0 &&
        unionTag.exceptAll(native).count() == 0,
        s"$nat must match $win row-for-row")
    }
  }

  test("native as-of nearest/tolerance rejects date-typed time columns") {
    // DateType's internal value is a DAY count: letting it through would
    // silently compare days against a microsecond tolerance (r2 ADVICE)
    val l = Tables.orders(spark, sf)
      .select(col("o_custkey").as("lk"), col("o_orderdate").cast("date").as("lts"))
    val r = Tables.orders(spark, sf)
      .select(col("o_custkey").as("rk"), col("o_orderdate").cast("date").as("rts"))
    for (bad <- Seq(
        () => ops.AsOf.join(l, r, "lk", "rk", "lts", "rts", strategy = "nearest"),
        () => ops.AsOf.join(l, r, "lk", "rk", "lts", "rts",
          toleranceMicros = Some(1000L)))) {
      val e = intercept[IllegalArgumentException](bad())
      assert(e.getMessage.contains("Timestamp"), e.getMessage)
    }
    // backward/forward never compare distances — dates stay legal there
    assert(ops.AsOf.join(l, r, "lk", "rk", "lts", "rts").columns.contains("rts"))
  }

  test("pipeline_curate removes most planted near-dups, keeps provenance") {
    val out = q("q_pipeline_curate").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val planted = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0).count()
    val survivors = out.getOrElse("mutated", 0L)
    assert(survivors < planted,
      s"near-dup removal must drop planted copies (survived $survivors of $planted)")
    assert(out.values.sum > 0, "curated corpus must be non-empty")
  }

  test("dedup_minhash finds the planted near-duplicate pairs with high recall") {
    val pairs = q("q_dedup_minhash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 0).select("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 100000L)).toSet
    val recall = planted.count(pairs.contains).toDouble / planted.size
    assert(recall >= 0.8, s"minhash recall $recall over ${planted.size} planted pairs")
  }

  test("semdedup: scaled family fully dropped, kept set τ-clean") {
    val r = q("q_semdedup").collect().head
    val nScaled = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 10 === 0 && col("embedding").isNotNull).count()
    assert(r.getAs[Long]("n_scaled") == nScaled)
    // every ×2 copy shares its source's cluster (cosine-identical
    // centroid scores) and must fall to the keep-min policy
    assert(r.getAs[Long]("n_scaled_dropped") == nScaled)
    assert(r.getAs[Int]("partition_ok") == 1)
    assert(r.getAs[Int]("kept_clean") == 1)
    assert(r.getAs[Int]("perturbed_recall_floor") == 1)
  }

  test("dedup_cross_source: mutated copies surface as cross-source dup cells") {
    val rows = q("q_dedup_cross_source").collect()
    // every mutated doc (first word replaced) near-dups its source doc, so
    // ('mutated', srcX) cells must exist and carry high max_jaccard
    val mutatedCells = rows.filter(r =>
      r.getAs[String]("src_lo") == "mutated" || r.getAs[String]("src_hi") == "mutated")
    assert(mutatedCells.nonEmpty, "no mutated-source dup cells found")
    assert(mutatedCells.forall(_.getAs[Double]("max_jaccard") >= 0.5))
    // the matrix is in unordered-cell form: src_lo <= src_hi everywhere
    assert(rows.forall(r =>
      r.getAs[String]("src_lo") <= r.getAs[String]("src_hi")))
  }

  test("fertility: one row per language, chars-per-token at least 1000 milli") {
    val rows = q("q_fertility").collect()
    val langs = Tables.documents(spark, sf)
      .select(coalesce(col("lang"), lit("unknown"))).distinct().count()
    assert(rows.length == langs)
    rows.foreach { r =>
      // a token never has more characters than its document, so fertility
      // in milli-units is >= 1000 whenever any token exists
      assert(r.getAs[Long]("total_tokens") > 0L)
      assert(r.getAs[Long]("cpt_milli") >= 1000L,
        s"${r.getAs[String]("lang")}: ${r.getAs[Long]("cpt_milli")}")
    }
  }

  test("boxplot_stats: a NULL group keeps its quartiles (null-safe rejoin)") {
    // regression: the quartile rejoin used an EqualTo key, so the NULL
    // l_returnflag group (null-injected corpora) silently lost q1/med/q3
    // on the Spark side while the oracle's plain GROUP BY kept them
    val dir = java.nio.file.Files.createTempDirectory("graft_nullflag").toString
    Tables.lineitem(spark, sf)
      .withColumn("l_returnflag",
        when(col("l_orderkey") % 3 === 0, lit(null: String))
          .otherwise(col("l_returnflag")))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = SparkEntry.queries("q_boxplot_stats")(spark, dir).collect()
    val nullRow = rows.find(_.isNullAt(0))
    assert(nullRow.isDefined, "the NULL group must appear")
    assert(!nullRow.get.isNullAt(2) && !nullRow.get.isNullAt(3) &&
      !nullRow.get.isNullAt(4),
      s"NULL group must keep real quartiles, got ${nullRow.get}")
  }

  test("validate: six checks, real pk duplicates caught, clean checks pass") {
    val rows = q("q_validate").collect()
    assert(rows.map(_.getAs[String]("check_name")).toSeq ==
      Seq("discount_range", "fk_orders", "pk_unique", "price_positive",
        "quantity_range", "shipdate_not_null"))
    val byC = rows.map(r => r.getAs[String]("check_name") -> r).toMap
    // the driver testdata carries genuine (l_orderkey, l_linenumber)
    // duplicates — the suite must FAIL that check, not rubber-stamp it
    assert(byC("pk_unique").getAs[Long]("n_violations") > 0L)
    assert(byC("pk_unique").getAs[Int]("pass") == 0)
    for (c <- Seq("discount_range", "fk_orders", "price_positive",
        "quantity_range", "shipdate_not_null")) {
      assert(byC(c).getAs[Long]("n_violations") == 0L, s"$c should be clean")
      assert(byC(c).getAs[Int]("pass") == 1)
    }
  }

  test("dedup_report: one row per method, planted near-dups measured") {
    val rows = q("q_dedup_report").collect()
    assert(rows.map(_.getAs[String]("method")).toSeq ==
      Seq("exact", "minhash", "simhash"), "fixed method order")
    val byM = rows.map(r => r.getAs[String]("method") -> r).toMap
    // the mutated corpus plants only NEAR-dups (first word replaced), so
    // exact-hash finds nothing while minhash@0.5 must catch some
    assert(byM("exact").getAs[Long]("docs_dropped") == 0L)
    assert(byM("minhash").getAs[Long]("docs_dropped") >= 1L)
    // token mass and rate move with the doc counts
    rows.foreach { r =>
      val d = r.getAs[Long]("docs_dropped")
      assert(r.getAs[Long]("tokens_dropped") >= d,
        "every dropped doc carries at least one token in this corpus")
      assert(r.getAs[Long]("drop_bp") >= 0L && r.getAs[Long]("drop_bp") <= 10000L)
    }
  }

  test("dedup_embedding: all scaled dups, some reflected dups, no false pairs") {
    val found = q("q_dedup_embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // +100000 = pure ×2 scalings: signature-invariant, so EVERY one must
    // be recovered (probe 0 alone suffices)
    val scaled = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 10 === 0).select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 100000L)).toSet
    assert(scaled.subsetOf(found), s"missing scaled dups: ${scaled -- found}")
    // +200000 = reflections just past hyperplane 0: signature bit 0 flips
    // by construction, so the r2 exact-signature equi-join found ZERO of
    // these — only the Hamming-1 probes can. Recall is partial by design
    // (reflections that drop below cos 0.99 or flip a second bit stay out).
    val reflected = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 10 === 5).select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 200000L)).toSet
    val reflectedFound = found.intersect(reflected)
    assert(reflectedFound.nonEmpty,
      "multi-probe must recover reflected near-dups the exact join misses")
    // and nothing beyond the two planted families crosses cos >= 0.99
    assert((found -- scaled -- reflected).isEmpty,
      s"unexpected pairs: ${found -- scaled -- reflected}")
  }

  test("ann_bruteforce: 5 neighbors per query, cosine within [-1, 1], ranks 1..5") {
    val rows = q("q_ann_bruteforce").collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 20)
    assert(byQ.values.forall(_.map(_.getInt(1)).sorted.sameElements(1 to 5)))
    assert(rows.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
  }

  test("pii_redact: planted PII is counted and fully scrubbed") {
    val out = q("q_pii_redact")
    // every planted class was seen at least once across the corpus
    val sums = out.agg(sum("n_emails"), sum("n_urls"), sum("n_phones")).head()
    assert(sums.getLong(0) > 0 && sums.getLong(1) > 0 && sums.getLong(2) > 0)
    // and nothing matching any PII pattern survives redaction
    val leaked = out.filter(
      col("redacted").rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}") ||
        col("redacted").rlike("https?://") ||
        col("redacted").rlike("\\d{3}-\\d{3}-\\d{4}")).count()
    assert(leaked == 0, s"$leaked docs still contain PII after redaction")
  }

  test("split_stratified: partitions the corpus, train is the largest split") {
    val rows = q("q_split_stratified").collect()
    val bySplit = rows.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum)
    assert(bySplit.values.sum == Tables.documents(spark, sf).count())
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
  }

  test("contamination: one row per train doc, ratios in [0,1], proves absence too") {
    val out = q("q_contamination").collect()
    val trainDocs = Tables.documents(spark, sf).filter(col("doc_id") >= 20).count()
    assert(out.length == trainDocs, "clean docs must appear with contamination 0")
    assert(out.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
    assert(out.forall(r => r.getLong(2) <= r.getLong(1)), "shared <= total shingles")
  }

  test("perplexity: positive scores, every doc covered") {
    val rows = q("q_perplexity").collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    assert(rows.forall(r => r.getLong(1) > 0 && r.getDouble(2) > 0.0))
  }

  test("source_balance: downsample only, smallest source kept whole") {
    val rows = q("q_source_balance").collect()
    assert(rows.forall(r => r.getLong(2) <= r.getLong(1)), "n_after <= n_before")
    val minBefore = rows.map(_.getLong(1)).min
    // the smallest source's threshold caps at 0xffff — it must keep
    // (essentially) everything, not be silently truncated to 1/16th
    rows.filter(_.getLong(1) == minBefore).foreach { r =>
      assert(r.getDouble(3) >= 0.99, s"smallest source truncated: $r")
    }
  }

  test("pack_sequences: conserves tokens, packs bounded by budget + one doc") {
    val toks = Tables.documents(spark, sf)
      .select(expr("CAST(size(filter(split(text, '[^a-zA-Z0-9]+'), x -> length(x) > 0)) AS LONG)").as("n"))
    val total = toks.agg(sum("n")).head.getLong(0)
    val maxDoc = toks.agg(max("n")).head.getLong(0)
    val packs = q("q_pack_sequences").collect()
    assert(packs.map(_.getLong(3)).sum == total, "every token lands in exactly one pack")
    assert(packs.forall(_.getLong(3) <= 2048 + maxDoc),
      "a pack holds at most the budget plus the one straddling document")
  }

  test("tfidf: top-3 per doc, ranks 1..k, positive scores") {
    val rows = q("q_tfidf").collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.values.forall(_.length <= 3))
    assert(byDoc.values.forall(g =>
      g.map(_.getInt(1)).sorted.sameElements(1 to g.length)))
    assert(rows.forall(_.getDouble(3) > 0.0))
  }

  test("probesExpr: exactly the 9 signatures at Hamming distance <= 1") {
    import spark.implicits._
    val sigs = Seq("00000000", "10101010", "11111111", "01100110")
    val out = sigs.toDF("sig")
      .selectExpr("sig", ops.Similarity.probesExpr("sig", "spark") + " AS probes")
      .collect()
    for (r <- out) {
      val sig = r.getString(0)
      val probes = r.getSeq[String](1)
      assert(probes.length == 9 && probes.distinct.length == 9)
      assert(probes.head == sig, "probe 0 is the exact signature")
      assert(probes.forall(p =>
        p.length == 8 && p.zip(sig).count { case (a, b) => a != b } <= 1))
      // all 8 one-bit flips present
      assert(probes.tail.forall(p =>
        p.zip(sig).count { case (a, b) => a != b } == 1))
    }
  }

  test("lang_id predictions are deterministic members of the label set") {
    val preds = q("q_lang_id").select("pred").distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(Set("de", "en", "es", "fr")))
  }

  test("ivf nprobe=2 dominates single-probe recall per query") {
    val ivf = q("q_ann_ivf").filter("rank = 1").collect()
      .map(r => r.getAs[Long]("q") -> r.getAs[Double]("cos")).toMap
    val p2 = q("q_ann_ivf_probe2").filter("rank = 1").collect()
      .map(r => r.getAs[Long]("q") -> r.getAs[Double]("cos")).toMap
    // probing a second cell can only add candidates: every query keeps a
    // best-neighbor at least as close, and queries whose own cell was
    // empty may gain one
    assert(ivf.keySet.subsetOf(p2.keySet))
    assert(ivf.forall { case (k, c) => p2(k) >= c - 1e-9 })
  }

  test("minhash calibration: counts monotone in threshold, rates bounded") {
    val rows = q("q_minhash_calibration").collect()
      .map(r => (r.getAs[Double]("threshold"),
        (r.getAs[Long]("n_pred"), r.getAs[Long]("n_true"), r.getAs[Long]("n_both"))))
      .sortBy(_._1).toList
    assert(rows.map(_._1) == List(0.5, 0.6, 0.7, 0.8))
    assert(rows.forall { case (_, (p, t, b)) => b <= p && b <= t })
    // raising the threshold can only shrink every count
    assert(rows.map(_._2).sliding(2).forall {
      case List((p1, t1, b1), (p2, t2, b2)) => p2 <= p1 && t2 <= t1 && b2 <= b1
      case _ => true
    })
  }

  test("dedup keep-best: multi-member clusters keep one canonical doc") {
    val rows = q("q_dedup_keep_best").collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val n = r.getAs[Long]("n_members")
      n >= 2L && r.getAs[Long]("n_dropped") == n - 1 &&
        r.getAs[Int]("keep_quality") >= 1
    })
    // mutated twins (+100000) tie on token count with their originals, so
    // the lowest-id tie-break must keep the original in every such pair
    val twins = rows.filter(r =>
      r.getAs[Long]("n_members") == 2L && r.getAs[Long]("cluster_id") < 100000L)
    assert(twins.nonEmpty &&
      twins.forall(_.getAs[Long]("keep_id") < 100000L))
  }

  test("corpus report: one row per source, dup accounting consistent") {
    val rows = q("q_corpus_report").collect()
    val nSources = q("q_corpus_report").select("source").distinct().count()
    assert(rows.nonEmpty && rows.length.toLong == nSources)
    assert(rows.forall { r =>
      val n = r.getAs[Long]("n_docs"); val u = r.getAs[Long]("n_uniq_texts")
      val dr = r.getAs[Double]("dup_rate")
      u >= 1L && u <= n && dr >= 0.0 && dr < 1.0 &&
        math.abs(dr - (1.0 - u.toDouble / n)) < 1e-3 &&
        r.getAs[Long]("total_tokens") > 0L
    })
  }

  test("length buckets: bucketed padding never exceeds the unbucketed baseline") {
    val rows = q("q_length_buckets").collect()
      .map(r => r.getAs[Int]("bucket") ->
        (r.getAs[Long]("n_docs"), r.getAs[Int]("max_tokens"),
          r.getAs[Long]("sum_tokens"))).toMap
    assert(rows.keySet == Set(0, 1, 2, 3, 4))
    val (n0, max0, sum0) = rows(0)
    val buckets = (1 to 4).map(rows)
    assert(buckets.map(_._1).sum == n0 && buckets.map(_._3).sum == sum0,
      "quartile buckets must partition the corpus")
    val baselineCells = n0 * max0.toLong
    val bucketedCells = buckets.map { case (n, m, _) => n * m.toLong }.sum
    assert(bucketedCells <= baselineCells,
      "length bucketing must not increase padded cells")
  }

  test("strip boilerplate: order-preserving subsequence, dup accounting exact") {
    val rows = q("q_strip_boilerplate").collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), expr("filter(split(text, ' '), x -> length(x) > 0)").as("w"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[scala.collection.Seq[String]]("w")).toMap
    assert(rows.length == docs.size, "one cleaned row per document")
    assert(rows.exists(_.getAs[Long]("n_removed") > 0),
      "the corpus' duplicated docs must produce stripped blocks")
    rows.foreach { r =>
      val w = docs(r.getAs[Long]("doc_id"))
      val nb = (w.length + 7) / 8
      assert(r.getAs[Long]("n_blocks") == nb.toLong, "ceil(n/8) blocks")
      val rem = r.getAs[Long]("n_removed")
      assert(rem >= 0 && rem <= nb)
      val clean = r.getAs[String]("clean_text")
      if (rem == 0) assert(clean == w.mkString(" "), "no-op docs round-trip")
      // surviving words are an order-preserving subsequence of the original
      var i = 0
      clean.split(' ').filter(_.nonEmpty).foreach { t =>
        i = w.indexOf(t, i)
        assert(i >= 0, s"cleaned token '$t' out of order / not in source")
        i += 1
      }
    }
  }

  test("chunk stride: contiguous ids, faithful windows, tail never dropped") {
    val rows = q("q_chunk_stride").collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), expr("filter(split(text, ' '), x -> length(x) > 0)").as("w"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[scala.collection.Seq[String]]("w")).toMap
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == docs.keySet,
      "every document is chunked")
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, ch) =>
      val w = docs(id)
      val sorted = ch.sortBy(_.getAs[Int]("chunk_id"))
      assert(sorted.map(_.getAs[Int]("chunk_id")).toSeq == (0 until sorted.length),
        "chunk ids contiguous from 0")
      sorted.foreach { r =>
        val cid = r.getAs[Int]("chunk_id")
        val toks = r.getAs[String]("chunk_text").split(' ').filter(_.nonEmpty)
        assert(toks.length == r.getAs[Int]("n_tokens"))
        assert(toks.length <= 16 && toks.sameElements(
          w.slice(cid * 8, cid * 8 + toks.length)),
          "chunk = window of the source at stride 8")
      }
      val last = sorted.last
      assert(last.getAs[Int]("chunk_id") * 8 + last.getAs[Int]("n_tokens") == w.length,
        "the final chunk reaches the last token")
    }
  }

  test("pipeline pretrain: dense contiguous packs under the greedy bound") {
    val packs = q("q_pipeline_pretrain").collect()
    assert(packs.nonEmpty, "the pipeline must emit a pack manifest")
    assert(packs.forall { r =>
      val b = r.getAs[Long]("bucket")
      b >= 0 && b < 16 && r.getAs[Long]("n_chunks") > 0 &&
        r.getAs[Long]("pack_tokens") > 0 &&
        // greedy bound: a pack overflows its 256 budget by at most one
        // chunk's tail (chunks are <= 16 tokens)
        r.getAs[Long]("pack_tokens") <= 256L + 15L
    })
    packs.groupBy(_.getAs[Long]("bucket")).foreach { case (b, rs) =>
      val ids = rs.map(_.getAs[Long]("pack_id")).sorted.toSeq
      assert(ids == (0L until ids.length), s"bucket $b pack ids not contiguous: $ids")
    }
    assert(packs.groupBy(_.getAs[Long]("bucket")).values.exists(_.size >= 2),
      "packing must actually split some bucket into multiple sequences")
  }

  test("embed pca: orthonormal basis, bounded projections, monotone capture") {
    val r = q("q_embed_pca").collect()(0)
    assert(r.getAs[Long]("n_vecs") == Tables.embeddings(spark, sf).count())
    for (c <- Seq("orth_ok", "var_monotone", "var_bounded",
        "proj_bounded", "capture_monotone"))
      assert(r.getAs[Int](c) == 1, s"$c verdict failed")
  }

  test("quality classifier: exact split accounting, learned-signal verdicts") {
    val r = q("q_quality_classifier").collect()(0)
    assert(r.getAs[Long]("n_docs") == Tables.documents(spark, sf).count())
    assert(r.getAs[Long]("n_train") + r.getAs[Long]("n_test") ==
      r.getAs[Long]("n_docs"), "hash split partitions the corpus")
    // measured: AUC >= 0.98, accuracy >= 0.93 at every sf (floors 0.75)
    assert(r.getAs[Int]("auc_floor") == 1 && r.getAs[Int]("acc_floor") == 1)
  }

  test("ann pq: sound ADC ranking; recalls exact-L2 neighbors on this corpus") {
    val pq = q("q_ann_pq").collect()
    pq.groupBy(_.getAs[Long]("q")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
      val d = sorted.map(_.getAs[Double]("adc_dist"))
      assert(d.forall(_ >= 0) && d.zip(d.tail).forall { case (a, b) => a <= b },
        "ADC distance non-decreasing with rank")
    }
    // recall vs exact L2 top-3: deterministic on this corpus (9/60 at
    // sf0.001 — isotropic random vectors are PQ's worst case; the test
    // pins "substantially better than the 0-2 hits random ranking gives").
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, sf)
    val qs = e.filter(col("vec_id") < 20).select(col("vec_id").as("q"), col("embedding").as("eq"))
    val cs = e.select(col("vec_id").as("b"), col("embedding").as("eb"))
    val w = Window.partitionBy("q").orderBy(asc("l2"), asc("b"))
    val truth = qs.join(cs, col("q") =!= col("b"))
      .withColumn("l2", expr("aggregate(zip_with(eq, eb, (x, y) -> " +
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), " +
        "0D, (a, v) -> a + v)"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select("q", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = pq.count(r => truth((r.getAs[Long]("q"), r.getAs[Long]("neighbor"))))
    assert(hits >= 5, s"PQ recall collapsed: $hits/${truth.size} exact-L2 top-3 hits")
  }

  test("ann recall report: probe2 never loses to single-probe, rates bounded") {
    val rows = q("q_ann_recall").collect()
      .map(r => r.getAs[String]("variant") ->
        (r.getAs[Long]("n_truth"), r.getAs[Long]("n_hits"),
          r.getAs[Double]("recall"))).toMap
    assert(rows.keySet == Set("ivf1", "ivf2", "lsh", "pq"))
    assert(rows.values.forall { case (t, h, r) =>
      t > 0 && h >= 0 && h <= t && r >= 0.0 && r <= 1.0
    })
    assert(rows("ivf2")._2 >= rows("ivf1")._2,
      "searching two cells can only add candidates")
  }

  test("knn label vote: one verdict per query, votes bounded by k") {
    val rows = q("q_knn_label").collect()
    assert(rows.length == 20, "one row per query vector")
    assert(rows.forall { r =>
      val v = r.getAs[Long]("votes")
      v >= 1L && v <= 5L &&
        r.getAs[Boolean]("correct") ==
          (r.getAs[Int]("pred_label") == r.getAs[Int]("true_label"))
    })
  }

  test("repetition signals stay in range across the corpus") {
    val rows = q("q_repetition").collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val dup = r.getAs[Double]("dup_word_frac")
      val top = r.getAs[Double]("top_bigram_frac")
      dup >= 0.0 && dup < 1.0 && top > 0.0 && top <= 1.0
    })
  }

  test("ngram entropy is bounded by ln(n_grams) and low for repetitive text") {
    val rows = q("q_ngram_entropy").collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val h = r.getAs[Double]("entropy")
      val n = r.getAs[Long]("n_grams")
      // the query rounds to 4dp, so the ln(n) ceiling can overshoot by 5e-5
      h >= 0.0 && h <= math.log(n.toDouble) + 5e-5
    })
  }

  test("gopher quality filter: keep is the conjunction, verdicts are mixed") {
    val rows = q("q_quality_gopher").collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      r.getAs[Boolean]("keep") ==
        (r.getAs[Boolean]("words_ok") && r.getAs[Boolean]("mean_len_ok") &&
          r.getAs[Boolean]("stop_ok") && r.getAs[Boolean]("alpha_ok"))
    })
    // the rules must actually discriminate on the corpus (not all-pass)
    val keeps = rows.map(_.getAs[Boolean]("keep")).toSet
    assert(keeps == Set(true, false), s"expected mixed verdicts, got $keeps")
  }

  test("dsir: target-language docs score higher than the rest on average") {
    val rows = q("q_dsir").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Int]("n_grams") >= 0))
    // the LLR must discriminate: mean score of the target slice (lang='en')
    // strictly exceeds the mean of the rest
    val byLang = q("q_dsir").join(
        Tables.documents(spark, sf).select("doc_id", "lang"), "doc_id")
      .groupBy(col("lang") === "en").agg(avg("dsir_logw").as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getAs[Double]("m")).toMap
    assert(byLang(true) > byLang(false),
      s"target slice must out-score the rest: $byLang")
    // keep is exactly the sign of the score
    assert(rows.forall(r =>
      r.getAs[Boolean]("keep") == (r.getAs[Double]("dsir_logw") > 0)))
  }

  test("editdist dedup: planted first-word mutations verify as near-dups") {
    val rows = q("q_dedup_editdist").collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val rel = r.getAs[Double]("rel_dist"); rel >= 0.0 && rel <= 1.0 })
    // the corpus plants doc x -> x+100000 copies differing only in the
    // first word; banding must surface them and the DP must verify them
    val planted = rows.filter(r => r.getAs[Long]("b") == r.getAs[Long]("a") + 100000)
    assert(planted.nonEmpty, "planted mutation pairs must be candidates")
    assert(planted.forall(_.getAs[Boolean]("near_dup")),
      "a one-word edit in a multi-hundred-char doc is a near-dup")
  }

  test("rollup/cube: subtotal lattice is self-consistent") {
    for (name <- Seq("q_rollup", "q_cube")) {
      val rows = q(name).collect()
      val detail = rows.filter(_.getAs[Int]("gid") == 0)
      val total = rows.filter(_.getAs[Int]("gid") == 3)
      assert(total.length == 1, s"$name must have exactly one grand-total row")
      assert(total.head.getAs[Long]("n_rows") ==
        detail.map(_.getAs[Long]("n_rows")).sum)
      // decimal-exact sums: the grand total equals the detail sum to the cent
      assert(math.abs(total.head.getAs[Double]("sum_qty") -
        detail.map(_.getAs[Double]("sum_qty")).sum) < 0.05)
      val gids = rows.map(_.getAs[Int]("gid")).toSet
      assert(gids == (if (name == "q_rollup") Set(0, 1, 3) else Set(0, 1, 2, 3)),
        s"$name grouping-set ids: $gids")
    }
  }

  test("grouping sets: only the requested lattice levels, totals agree") {
    val rows = q("q_grouping_sets").collect()
    val gids = rows.map(_.getAs[Int]("gid")).toSet
    assert(gids == Set(1, 2, 3), s"requested sets only, no detail level: $gids")
    // both single-column subtotal levels must sum to the same grand total
    val total = rows.filter(_.getAs[Int]("gid") == 3)
    assert(total.length == 1)
    for (g <- Seq(1, 2)) {
      assert(rows.filter(_.getAs[Int]("gid") == g)
        .map(_.getAs[Long]("n_rows")).sum == total.head.getAs[Long]("n_rows"),
        s"gid=$g subtotal rows must partition the corpus")
    }
  }

  test("salted join: multiset equals the unsalted join, plan is SMJ on (key, salt)") {
    val salted = q("q_join_skew_salted").collect()
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_lines"),
        expr("round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)")
          .as("sum_qty"))
      .orderBy("o_orderstatus").collect()
    assert(salted.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq,
      "salting must not change the join result")
    val plan = SparkEntry.queries("q_join_skew_salted")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), "merge hint must pin a shuffle join")
    assert(!plan.contains("BroadcastHashJoin"),
      "a broadcast would make the salt demonstration moot")
  }

  test("scd2: intervals chain gaplessly, exactly one current row per key") {
    val rows = q("q_scd2").collect()
    assert(rows.nonEmpty)
    val byKey = rows.groupBy(r =>
      (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
    byKey.foreach { case (k, rs) =>
      assert(rs.count(_.getAs[Boolean]("is_current")) == 1,
        s"$k must have exactly one open interval")
      // rows arrive ordered by valid_from, event_id; each valid_to equals
      // the next row's valid_from (contiguous history, no gaps/overlaps)
      rs.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[java.time.LocalDateTime]("valid_to") ==
            b.getAs[java.time.LocalDateTime]("valid_from"),
            s"$k history must chain: ${a} -> ${b}")
        case _ =>
      }
    }
  }

  test("dsir resample: fixed deterministic budget = global top-k by gumbel key") {
    val rows = q("q_dsir_resample").collect()
    assert(rows.length == 100)
    val ids = rows.map(_.getLong(0))
    assert(ids.toSet.size == 100, "selection must be without replacement")
    assert(ids.sameElements(ids.sorted), "output ordered by doc_id")
    // deterministic reproducibility: a fresh plan selects the identical set
    val again = q("q_dsir_resample").collect().map(_.getLong(0))
    assert(again.sameElements(ids))
    // top-k property: fewer than k docs in the full scored corpus can
    // out-key the worst selected doc (recompute keys from q_dsir scores)
    val minSel = rows.map(_.getAs[Double]("gumbel_key")).min
    val full = q("q_dsir").withColumn("gk", expr(
      "round(dsir_logw - ln(-ln((CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10) AS DOUBLE) + 0.5) / 16777216.0)), 6) + 0.0"))
    assert(full.filter(col("gk") > minSel).count() < 100)
  }

  test("span dedup: duplicated 8-word spans span >= 2 docs") {
    val rows = q("q_span_dedup").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall { r =>
      val df = r.getAs[Long]("df"); val occ = r.getAs[Long]("n_occ")
      df >= 2 && occ >= df &&
        r.getAs[String]("span").split(' ').length == 8
    })
  }

  test("span flag: every doc accounted, keep inverts boilerplate hits") {
    val rows = q("q_span_flag").collect()
    val nDocs = q("q_token_count").count()
    assert(rows.length.toLong == nDocs, "one verdict row per document")
    assert(rows.forall { r =>
      r.getAs[Boolean]("keep") == (r.getAs[Long]("n_boiler_hits") == 0L)
    })
    // the mined inventory must actually hit documents on this corpus
    assert(rows.exists(_.getAs[Long]("n_boiler_hits") > 0L))
  }

  test("incremental dedup: verbatim copies exact, mutated never exact") {
    val rows = q("q_dedup_incremental").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(rows.nonEmpty)
    // every +300000 batch doc is a verbatim corpus copy → must hash-match
    val verbatim = rows.filterKeys(_ >= 300000)
    assert(verbatim.nonEmpty && verbatim.values.forall(_ == "exact_dup"))
    // every +100000 doc had its first word replaced → exact match impossible
    val mutated = rows.filterKeys(k => k >= 100000 && k < 300000)
    assert(mutated.nonEmpty && mutated.values.forall(_ != "exact_dup"))
    // and the near-dup detector must catch at least some of the mutations
    assert(mutated.values.count(_ == "near_dup") > 0)
  }

  test("minhash estimate agrees with exact Jaccard on average") {
    val rows = q("q_minhash_sim").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      assert(est >= 0.0 && est <= 1.0)
    }
    // the estimator is unbiased with sd ≤ 1/(2√8) per pair; over the pair
    // set the MEAN error should be well inside one per-pair sd
    val meanErr = rows.map(r =>
      r.getAs[Double]("est_jaccard") - r.getAs[Double]("jaccard")).sum / rows.length
    assert(math.abs(meanErr) < 0.25, s"mean estimator bias $meanErr")
  }

  test("group sample takes exactly min(k, group size) per source") {
    val bySource = q("q_group_sample").groupBy("source")
      .agg(count(lit(1)).as("n"), max("rn").as("max_rn")).collect()
    val sizes = Tables.documents(spark, sf).groupBy("source")
      .agg(count(lit(1)).as("total")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("total")).toMap
    assert(bySource.nonEmpty && bySource.length == sizes.size)
    bySource.foreach { r =>
      val want = math.min(25L, sizes(r.getAs[String]("source")))
      assert(r.getAs[Long]("n") == want && r.getAs[Int]("max_rn") <= 25)
    }
  }

  test("temperature sampling keeps the smallest mix whole, flattens the rest") {
    val rows = q("q_sample_temperature").collect()
      .map(r => r.getAs[String]("mix_src") ->
        (r.getAs[Long]("n_before"), r.getAs[Double]("kept_frac"))).toMap
    assert(rows.keySet == Set("big", "mid", "small"))
    // keep rate must decrease with source size (√(m/n) is monotone), and
    // the hash realization should sit near the target rate
    val (nBig, fBig) = rows("big"); val (nMid, fMid) = rows("mid")
    val (nSmall, fSmall) = rows("small")
    assert(nBig > nMid && nMid > nSmall)
    assert(fSmall > fMid && fMid > fBig)
    for (((n, f), m) <- Seq(rows("big"), rows("mid"), rows("small"))
        .map((_, nSmall))) {
      val target = math.sqrt(m.toDouble / n)
      // binomial 5σ slack on a few hundred rows
      assert(math.abs(f - target) <= 5 * math.sqrt(target * (1 - target) / n) + 1e-9,
        s"kept_frac $f vs target $target for n=$n")
    }
  }

  test("shard write verdicts all hold") {
    val r = q("q_shard_write").collect().head
    assert(r.getAs[Int]("rows_preserved") == 1)
    assert(r.getAs[Int]("file_size_bounded") == 1)
    assert(r.getAs[Int]("sharding_effective") == 1)
  }

  test("epoch shuffle: different epochs reorder the SAME set") {
    def order(epoch: String) = Tables.documents(spark, sf)
      .select(col("doc_id"),
        md5(concat(lit(s"$epoch|"), col("doc_id").cast("string"))).as("k"))
      .orderBy("k").select("doc_id").collect().map(_.getLong(0)).toSeq
    val e1 = order("epoch1"); val e2 = order("epoch2")
    assert(e1.toSet == e2.toSet, "epochs must cover the identical corpus")
    assert(e1 != e2, "different epoch seeds must produce different orders")
  }

  test("cdc apply: updates win, deletes vanish, re-inserts resurrect") {
    val rows = q("q_cdc_apply").collect()
    val byKey = rows.map(r => r.getAs[Long]("o_orderkey") -> r).toMap
    // every surviving %13 key must be a seq-4 re-insert (i.e. %26)
    val del = byKey.keys.filter(k => k % 13 == 0)
    assert(del.forall(k => k % 26 == 0 &&
      byKey(k).getAs[Long]("last_seq") == 4L))
    // %7-only keys are seq-2 updates with status R
    val upd = byKey.collect {
      case (k, r) if k % 7 == 0 && k % 13 != 0 => r }
    assert(upd.nonEmpty && upd.forall(r =>
      r.getAs[Long]("last_seq") == 2L && r.getAs[String]("status") == "R"))
    // a deleted-not-resurrected key must be absent
    assert(!byKey.keys.exists(k => k % 13 == 0 && k % 26 != 0))
  }

  test("heavy hitters: guarantees hold and in-sketch flags are 1") {
    val rows = q("q_heavy_hitters").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("in_sketch") == 1))
    assert(rows.forall(_.getAs[Int]("bound_ok") == 1))
  }

  test("grouped heavy hitters: per-group guarantees hold for every source") {
    val rows = q("q_heavy_hitters_grouped").collect()
    val nSrc = Tables.documents(spark, sf).select("source").distinct().count()
    assert(rows.map(_.getAs[String]("source")).distinct.length == nSrc,
      "every source must surface its own heavy hitters")
    assert(rows.forall(_.getAs[Int]("in_sketch") == 1))
    assert(rows.forall(_.getAs[Int]("bound_ok") == 1))
  }

  test("interleave: schedule head is round-robin while sources last") {
    val rows = q("q_interleave").collect()
    val nSrc = Tables.documents(spark, sf)
      .select("source").distinct().count().toInt
    // positions strictly increase and are unique
    val pos = rows.map(_.getAs[Long]("pos"))
    assert(pos.sameElements(pos.sorted) && pos.distinct.length == pos.length)
    // while every source still has documents left, each consecutive
    // nSrc-sized block covers all sources exactly once
    val head = rows.take(rows.length / nSrc * nSrc)
    head.grouped(nSrc).take(5).foreach { block =>
      assert(block.map(_.getAs[String]("source")).distinct.length == nSrc)
    }
  }

  test("url dedup: all planted variants collapse to one canonical form") {
    val rows = q("q_dedup_url").collect()
    val nDocs = Tables.documents(spark, sf).count()
    // unification: exactly one group per 8 consecutive doc_ids (ids are
    // contiguous from 0), so any leftover variant splits a group and
    // raises the count
    assert(rows.length == ((nDocs + 7) / 8).toInt,
      s"expected ${(nDocs + 7) / 8} canonical groups, got ${rows.length}")
    assert(rows.count(_.getAs[Long]("n_raw") == 8L) >= rows.length - 1,
      "every full group must unify all 8 raw variants")
    assert(rows.forall(r => !r.getAs[String]("canonical_url").contains("utm_")
      && !r.getAs[String]("canonical_url").contains("#")
      && !r.getAs[String]("canonical_url").contains(":80")
      && !r.getAs[String]("canonical_url").contains("www.")
      && !r.getAs[String]("canonical_url").endsWith("/")))
  }

  test("rolling ewm: convex combination stays inside the frame's hull") {
    import org.apache.spark.sql.expressions.Window
    val w10 = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc).rowsBetween(-9, 0)
    val hull = Tables.events(spark, sf)
      .select(col("event_id"), min("value").over(w10).as("lo"),
        max("value").over(w10).as("hi"))
    val bad = q("q_rolling_ewm").join(hull, "event_id")
      .filter(col("ewm") < col("lo") - 1e-9 || col("ewm") > col("hi") + 1e-9)
      .count()
    assert(bad == 0)
    // a 1-row history is the identity
    val first = q("q_rolling_ewm").filter(col("n_hist") === 1)
      .join(Tables.events(spark, sf), "event_id")
      .filter(abs(col("ewm") - round(col("value"), 4)) > 1e-9).count()
    assert(first == 0)
  }

  test("funnel: stage counts partition the user base") {
    val rows = q("q_funnel").collect()
    val total = rows.map(_.getAs[Long]("n_users")).sum
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(total == users, "every user lands in exactly one stage")
    assert(rows.map(_.getAs[Int]("stage")).forall(s => s >= 0 && s <= 3))
  }

  test("markov: per-prev transition probabilities sum to 1") {
    val rows = q("q_markov").collect()
    assert(rows.nonEmpty)
    // transition count = events - one chain start per user
    val nTrans = rows.map(_.getAs[Long]("n")).sum
    val events = Tables.events(spark, sf).count()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(nTrans == events - users)
    for ((_, rs) <- rows.groupBy(_.getAs[String]("prev_type"))) {
      val pSum = rs.map(_.getAs[Double]("p")).sum
      assert(math.abs(pSum - 1.0) < 1e-4, s"row-stochastic violation: $pSum")
    }
  }

  test("ab_test: variants partition the user base; verdict matches z") {
    val r = q("q_ab_test").collect().head
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == users)
    assert(r.getAs[Long]("conv_a") <= r.getAs[Long]("n_a"))
    assert(r.getAs[Long]("conv_b") <= r.getAs[Long]("n_b"))
    val sig = math.abs(r.getAs[Double]("z")) > 1.96
    assert(r.getAs[Int]("significant") == (if (sig) 1 else 0))
  }

  test("span_merge: islands are maximal, bounded by the doc's own words") {
    val rows = q("q_span_merge").collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length == nDocs, "one accounting row per document")
    for (r <- rows) {
      val (ni, dw, nw) = (r.getAs[Long]("n_islands"),
        r.getAs[Long]("dup_words"), r.getAs[Long]("n_words"))
      assert(dw >= ni * 8, "every merged island spans at least 8 words")
      assert(dw <= nw, "duplicated words cannot exceed the doc's words")
      val f = r.getAs[Double]("dup_frac")
      assert(f >= 0.0 && f <= 1.0)
    }
    // consistency with span_flag: a doc hit by top-20 boilerplate spans
    // must show a non-zero duplicated region here (its inventory is a
    // superset of the top-20)
    val flagged = q("q_span_flag").filter(col("n_boiler_hits") > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val withDup = rows.filter(_.getAs[Long]("dup_words") > 0)
      .map(_.getAs[Long]("doc_id")).toSet
    assert(flagged.subsetOf(withDup))
  }

  test("pagerank: teleport floor and mass ceiling hold for every node") {
    val rows = q("q_pagerank").collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val nNodes = (Tables.customer(spark, sf).select("c_custkey").distinct()
      .count() + Tables.supplier(spark, sf).count())
    for (r <- rows) {
      val pr = r.getAs[Long]("pr")
      // every node keeps at least the teleport share (0.15 in 1e-7 units)
      assert(pr >= 1500000L, s"below teleport floor: $pr")
      // and no node can exceed the whole graph's rank mass
      assert(pr <= nNodes * 10000000L)
      assert(r.getAs[String]("node").matches("[cs]\\d+"))
    }
    // output is rank-descending
    val prs = rows.map(_.getAs[Long]("pr")).toSeq
    assert(prs == prs.sorted.reverse)
  }

  test("bpe_train: greedy merge invariants + round-1 agreement with q_bpe_pairs") {
    val rows = q("q_bpe_train").orderBy("iter").collect()
    assert(rows.length == 5)
    for (r <- rows) {
      val (l, rr, m) = (r.getAs[String]("lhs"), r.getAs[String]("rhs"),
        r.getAs[String]("merged"))
      assert(l.nonEmpty && rr.nonEmpty && m == l + rr)
      assert(!m.contains("|"), "symbols never contain the sentinel")
    }
    // each merge can only reduce (or tie) the achievable max pair count
    val freqs = rows.map(_.getAs[Long]("freq")).toSeq
    assert(freqs == freqs.sorted.reverse, s"non-increasing violated: $freqs")
    // round 1 operates on single-char symbols — must agree with the
    // one-shot char-pair counter's top entry
    val top = q("q_bpe_pairs").orderBy(desc("freq"), asc("pair"))
      .limit(1).collect().head
    assert(rows.head.getAs[String]("merged") == top.getAs[String]("pair"))
    assert(rows.head.getAs[Long]("freq") == top.getAs[Long]("freq"))
  }

  test("target_encode: shrinkage lands between category and global mean") {
    for (r <- q("q_target_encode").collect()) {
      val (raw, enc, g) = (r.getAs[Double]("raw_mean"),
        r.getAs[Double]("encoded"), r.getAs[Double]("global_mean"))
      assert(enc >= math.min(raw, g) - 1e-9 && enc <= math.max(raw, g) + 1e-9,
        s"encoding must interpolate raw↔global: $raw $enc $g")
    }
  }

  test("standardize: post-transform groups read mean 0 / stddev 1") {
    val rows = q("q_standardize").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Double]("mean_z") == 0.0)
      assert(r.getAs[Double]("std_z") == 1.0)
      assert(r.getAs[Double]("min_z") < 0 && r.getAs[Double]("max_z") > 0)
    }
  }

  test("degree_dist: both graph sides carry the same edge mass") {
    val rows = q("q_degree_dist").collect()
    val mass = rows.groupBy(_.getAs[String]("side"))
      .view.mapValues(_.map(r =>
        r.getAs[Long]("deg") * r.getAs[Long]("n_nodes")).sum).toMap
    assert(mass.keySet == Set("c", "s"))
    assert(mass("c") == mass("s"),
      "sum of customer degrees must equal sum of supplier degrees")
  }

  test("copurchase_sim: jaccard bounded, pairs canonical") {
    val rows = q("q_copurchase_sim").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    for (r <- rows) {
      assert(r.getAs[Long]("s1") < r.getAs[Long]("s2"))
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0)
      assert(r.getAs[Long]("shared") >= 1)
    }
  }

  test("rfm: cells cover the user base; buckets stay in 1..4") {
    val rows = q("q_rfm").collect()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == users)
    for (r <- rows; b <- Seq("r_bucket", "f_bucket", "m_bucket")) {
      val v = r.getAs[Int](b)
      assert(v >= 1 && v <= 4, s"$b out of range: $v")
    }
  }

  test("basket_lift: rule algebra holds on every emitted rule") {
    val rows = q("q_basket_lift").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    for (r <- rows) {
      val (ab, a, b) = (r.getAs[Long]("supp_ab"),
        r.getAs[Long]("supp_a"), r.getAs[Long]("supp_b"))
      assert(ab <= math.min(a, b), "joint support bounded by each side")
      val conf = r.getAs[Double]("confidence")
      assert(conf > 0.0 && conf <= 1.0)
      assert(r.getAs[Double]("lift") > 0.0)
      assert(r.getAs[Long]("s1") < r.getAs[Long]("s2"))
    }
  }

  test("survival_km: monotone non-increasing curve with correct risk accounting") {
    val rows = q("q_survival_km").orderBy("t").collect()
    assert(rows.nonEmpty)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.head.getAs[Long]("n_risk") == users,
      "everyone is at risk at the first observed duration")
    var prevSurv = 1.0
    var prevRisk = users
    for (r <- rows) {
      val (nr, d, c, sv) = (r.getAs[Long]("n_risk"), r.getAs[Long]("n_events"),
        r.getAs[Long]("n_censored"), r.getAs[Double]("surv"))
      assert(nr <= prevRisk, "at-risk can only shrink")
      assert(d + c >= 1 && d + c <= nr)
      assert(sv <= prevSurv + 1e-9 && sv >= 0.0 && sv <= 1.0)
      prevSurv = sv; prevRisk = nr
    }
    // every user leaves exactly once (death or censoring)
    val leavers = rows.map(r =>
      r.getAs[Long]("n_events") + r.getAs[Long]("n_censored")).sum
    assert(leavers == users)
  }

  test("chi2: statistic non-negative, cramers_v in [0,1], margins coherent") {
    val r = q("q_chi2").collect().head
    assert(r.getAs[Long]("n") ==
      Tables.orders(spark, sf).count(), "every order lands in one cell")
    assert(r.getAs[Double]("chi2") >= 0.0)
    val v = r.getAs[Double]("cramers_v")
    assert(v >= 0.0 && v <= 1.0)
    assert(r.getAs[Long]("dof") >= 1)
  }

  test("winsorize: clipping only pulls the mean toward the center") {
    val rows = q("q_winsorize").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n")).sum
    val clipped = rows.map(r =>
      r.getAs[Long]("n_clip_low") + r.getAs[Long]("n_clip_high")).sum
    // p01/p99 band: ~2% clipped overall, never more than 5%
    assert(clipped > 0 && clipped.toDouble / total < 0.05)
  }

  test("cooccur_pmi: counts coherent, pmi bounded by the rarer word") {
    val rows = q("q_cooccur_pmi").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    for (r <- rows) {
      val (ab, a, b) = (r.getAs[Long]("c_ab"),
        r.getAs[Long]("c_a"), r.getAs[Long]("c_b"))
      assert(ab >= 20 && ab <= math.min(a, b))
      // PMI <= -ln(p(rarer word)): c_ab <= min(c_a, c_b) bounds it
      val n = Tables.documents(spark, sf)
        .select(expr("filter(split(text, ' '), x -> length(x) > 0)").as("w"))
        .agg(sum(size(col("w")))).head.getLong(0)
      assert(r.getAs[Double]("pmi") <=
        math.log(n.toDouble / math.max(a, b)) + 1e-6)
    }
  }

  test("gini: concentration index stays in [0, 1) per segment") {
    val rows = q("q_gini").collect()
    assert(rows.nonEmpty)
    val customers = Tables.orders(spark, sf)
      .select("o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == customers,
      "every ordering customer lands in exactly one segment")
    for (r <- rows) {
      val g = r.getAs[Double]("gini")
      assert(g >= 0.0 && g < 1.0)
      assert(r.getAs[Double]("total_spend") > 0.0)
    }
  }

  test("acf: correlations bounded, pair counts shrink with lag") {
    val rows = q("q_acf").orderBy("k").collect()
    assert(rows.length == 10)
    val nDays = Tables.events(spark, sf)
      .select(col("ts").cast("date")).distinct().count()
    var prevPairs = Long.MaxValue
    for (r <- rows) {
      assert(math.abs(r.getAs[Double]("acf")) <= 1.0 + 1e-9)
      val np = r.getAs[Long]("n_pairs")
      assert(np < nDays && np <= prevPairs)
      prevPairs = np
    }
  }

  test("changepoint: the cut splits the series and maximizes the gap") {
    val r = q("q_changepoint").collect().head
    val nDays = Tables.events(spark, sf)
      .select(col("ts").cast("date")).distinct().count()
    assert(r.getAs[Long]("n_before") + r.getAs[Long]("n_after") == nDays)
    assert(r.getAs[Long]("n_before") >= 1 && r.getAs[Long]("n_after") >= 1)
    assert(r.getAs[Double]("gap") >= 0.0)
  }

  test("recommend: never suggests an already-owned supplier, ranks dense") {
    val recs = q("q_recommend").collect()
    assert(recs.nonEmpty)
    val owned = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (r <- recs) {
      assert(!owned.contains((r.getAs[Long]("custkey"), r.getAs[Long]("rec"))),
        "a recommendation must be a NEW supplier")
      assert(r.getAs[Int]("rnk") >= 1 && r.getAs[Int]("rnk") <= 3)
      assert(r.getAs[Double]("score") > 0.0)
    }
    // per-customer ranks are dense from 1
    for ((_, rs) <- recs.groupBy(_.getAs[Long]("custkey")))
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq ==
        (1 to rs.length).toSeq)
  }

  test("bpe_apply: merges only ever shorten the token stream") {
    val r = q("q_bpe_apply").collect().head
    val (chars, toks) = (r.getAs[Long]("chars_total"),
      r.getAs[Long]("tokens_total"))
    assert(toks <= chars && toks > 0)
    assert(r.getAs[Double]("compression") == chars.toDouble / toks)
    // corpus accounting: every non-sentinel word occurrence is tokenized
    val nWords = Tables.documents(spark, sf)
      .select(explode(expr("filter(split(text, ' '), x -> length(x) > 0)"))
        .as("w"))
      .filter(!col("w").contains("|")).count()
    assert(r.getAs[Long]("n_words") == nWords)
  }

  test("skyline: frontier is mutually non-dominated and revenue-anchored") {
    val rows = q("q_skyline").collect()
    assert(rows.nonEmpty)
    // ordered by revenue desc, customer reach must strictly increase —
    // the defining staircase of a max-max Pareto frontier
    val ncs = rows.map(_.getAs[Long]("n_custs")).toSeq
    assert(ncs == ncs.sorted.distinct.sorted,
      s"reach must strictly increase along falling revenue: $ncs")
    val revs = rows.map(_.getAs[Double]("revenue")).toSeq
    assert(revs == revs.sorted.reverse)
  }

  test("triangles: census bounded by the complete graph") {
    val r = q("q_triangles").collect().head
    val (n, e, t) = (r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"),
      r.getAs[Long]("n_triangles"))
    assert(e <= n * (n - 1) / 2)
    assert(t <= n * (n - 1) * (n - 2) / 6)
    if (e == n * (n - 1) / 2) // complete projection ⇒ all triples close
      assert(t == n * (n - 1) * (n - 2) / 6)
  }

  test("zipf_fit: regression sane; backtest_sma: errors non-negative") {
    val z = q("q_zipf_fit").collect().head
    assert(z.getAs[Long]("n_terms") >= 2)
    assert(z.getAs[Double]("slope") <= 0.0,
      "rank-frequency slope can never be positive")
    val r2 = z.getAs[Double]("r2")
    assert(r2 >= 0.0 && r2 <= 1.0)
    val b = q("q_backtest_sma").collect().head
    val nDays = Tables.events(spark, sf)
      .select(col("ts").cast("date")).distinct().count()
    assert(b.getAs[Long]("n_evals") == math.max(nDays - 7, 0))
    assert(b.getAs[Double]("mae") >= 0.0 && b.getAs[Double]("mape") >= 0.0)
  }

  test("zipf_fit: degenerate all-equal counts yield NULL, never NaN") {
    // all-distinct words → every top-100 count is 1 → syy term is 0 →
    // r2's denominator is exactly 0. Spark's ANSI double division gives
    // NaN there while DuckDB's `/` gives NULL — the one value that
    // hash-diverges between the engines, so the query must emit the
    // explicit NULL (r10 review finding)
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_zipf_degen").toString
    (0L until 8L).toSeq.map(i => (i, s"uniq${i}a uniq${i}b uniq${i}c", "en",
        "src", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val z = SparkEntry.queries("q_zipf_fit")(spark, dir).collect().head
    // constant y over varying x: slope is a legitimate 0/nonzero = 0.0 in
    // both engines; only r2's denominator (the zero y-variance term) hits
    // 0/0
    assert(z.getAs[Double]("slope") == 0.0,
      s"slope is 0/nonzero = 0.0 on a constant-count corpus, got $z")
    assert(z.isNullAt(z.fieldIndex("r2")),
      s"r2 must be NULL on a constant-count corpus, got $z")

    // single distinct term: x-variance is ALSO zero → slope and r2 both
    // hit 0/0 and must be NULL
    val dir1 = java.nio.file.Files
      .createTempDirectory("graft_zipf_degen1").toString
    Seq((0L, "same same same", "en", "src", 14L),
        (1L, "same same", "en", "src", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir1/documents.parquet")
    val z1 = SparkEntry.queries("q_zipf_fit")(spark, dir1).collect().head
    assert(z1.getAs[Long]("n_terms") == 1L)
    assert(z1.isNullAt(z1.fieldIndex("slope")) &&
      z1.isNullAt(z1.fieldIndex("r2")),
      s"one-term corpus must yield NULL slope and r2, got $z1")
  }

  test("ann_ivf: zero-norm and null embeddings excluded, never NULL cos") {
    // vec_id 7 is the all-zero vector — deliberately inside BOTH the
    // centroid range (< 16: exercises the NULL-nc centroid guard) and the
    // query range (< 30: exercises the query-side csim drop); vec_id 8 is
    // a null embedding. Neither may appear as q or neighbor, and no
    // emitted cosine may be NULL — the exact parity contract the oracles'
    // `csim IS NOT NULL` asgn filter mirrors (r10 ADVICE finding).
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_degen").toString
    val rows = (0L until 40L).map { i =>
      val emb: Option[Seq[Float]] =
        if (i == 8L) None
        else if (i == 7L) Some(Seq.fill(64)(0.0f))
        else Some((0 until 64).map(j => math.sin(i * 131.0 + j).toFloat))
      (i, emb, (i % 8).toInt)
    }
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    for (qid <- Seq("q_ann_ivf", "q_ann_ivf_probe2")) {
      val out = SparkEntry.queries(qid)(spark, dir).collect()
      assert(out.nonEmpty, s"$qid must still return neighbors")
      val banned = Set(7L, 8L)
      assert(!out.exists(r => banned(r.getAs[Long]("q")) ||
          banned(r.getAs[Long]("neighbor"))),
        s"$qid must exclude zero-norm/null vectors entirely")
      assert(out.forall(r => !r.isNullAt(r.fieldIndex("cos"))),
        s"$qid must never emit a NULL cosine")
    }
  }

  test("qcut_cutpoints: an all-NULL-price group keeps its rows, bucket 4") {
    // exactCont omits a group whose values are all NULL; the cuts join
    // must be LEFT so those orders survive with NULL cuts and fall
    // through to bucket 4 — DuckDB's grouped percentile() keeps a
    // NULL-cuts row and takes the same otherwise branch (r10 ADVICE).
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_qcut_degen").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0L until 20L).map { i =>
      val status = if (i < 5) "X" else if (i < 12) "F" else "O"
      val price: Option[Double] =
        if (status == "X") None else Some(100.0 + i)
      (i, i % 7, status, price, ts, "1-URGENT")
    }
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q_qcut_cutpoints")(spark, dir).collect()
    assert(out.length == 20, "no order may be dropped by the cuts join")
    val x = out.filter(_.getAs[String]("o_orderstatus") == "X")
    assert(x.length == 5 && x.forall(_.getAs[Int]("quartile") == 4),
      "all-NULL-price group falls through to bucket 4 (oracle parity)")
  }

  test("join_overlap: canonical pairs with positive, bounded overlap") {
    val rows = q("q_join_overlap").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // total observed span bounds any pair's overlap
    val span = Tables.events(spark, sf)
      .agg((max(unix_micros(col("ts").cast("timestamp")))
        - min(unix_micros(col("ts").cast("timestamp")))) / 1000000L)
      .head.getAs[Any](0).toString.toDouble
    for (r <- rows) {
      assert(r.getAs[Long]("ua") < r.getAs[Long]("ub"))
      assert(r.getAs[Long]("n_pairs") >= 1)
      val ov = r.getAs[Long]("overlap_secs")
      assert(ov >= 0 && ov <= span * r.getAs[Long]("n_pairs"))
    }
  }

  test("quality_ensemble: vote accounting is internally consistent") {
    val rows = q("q_quality_ensemble").collect()
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    for (r <- rows) {
      val n = r.getAs[Long]("n_docs")
      val (g, rep, e) = (r.getAs[Long]("keep_gopher"),
        r.getAs[Long]("keep_rep"), r.getAs[Long]("keep_entropy"))
      val (ens, un) = (r.getAs[Long]("keep_ensemble"), r.getAs[Long]("unanimous"))
      assert(Seq(g, rep, e, ens, un).forall(v => v >= 0 && v <= n))
      assert(un <= ens, "unanimity implies majority")
      assert(ens <= g + rep + e, "majority needs at least two votes")
      // majority keep can never exceed the two most permissive gates
      val sorted = Seq(g, rep, e).sorted.reverse
      assert(ens <= sorted(1) + sorted(0) - math.max(0, sorted(0) + sorted(1) - n)
        || ens <= n)
    }
  }

  test("bm25: hits bounded by query size, scores positive-descending") {
    val rows = q("q_bm25").collect()
    assert(rows.nonEmpty && rows.length <= 10)
    for (r <- rows) {
      assert(r.getAs[Long]("n_terms_hit") >= 1 && r.getAs[Long]("n_terms_hit") <= 3)
      assert(r.getAs[Double]("score") > 0.0)
    }
    val scores = rows.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("markov_eval: test transitions partition; accuracy consistent") {
    val r = q("q_markov_eval").collect().head
    val events = Tables.events(spark, sf).count()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(r.getAs[Long]("n_train") + r.getAs[Long]("n_test") == events - users)
    assert(r.getAs[Long]("n_correct") <= r.getAs[Long]("n_test"))
    assert(r.getAs[Double]("accuracy") ==
      r.getAs[Long]("n_correct").toDouble / r.getAs[Long]("n_test"))
  }

  test("incremental_rollup: merge path is bit-exact with full recompute") {
    val r = q("q_incremental_rollup").collect().head
    assert(r.getAs[Long]("n_mismatch") == 0)
    assert(r.getAs[Int]("match") == 1)
    assert(r.getAs[Long]("n_groups") > 0)
  }

  test("cohort_ltv: per-member value is cumulative and non-decreasing") {
    val rows = q("q_cohort_ltv").collect()
    assert(rows.nonEmpty)
    for ((_, rs) <- rows.groupBy(_.getAs[java.sql.Date]("cohort_week"))) {
      val ordered = rs.sortBy(_.getAs[Int]("week_offset"))
      val ltvs = ordered.map(_.getAs[Double]("ltv_per_member")).toSeq
      assert(ltvs == ltvs.sorted, "cumulative LTV can never decrease")
      assert(ltvs.forall(_ >= 0.0))
      assert(ordered.map(_.getAs[Long]("n_members")).distinct.length == 1)
    }
  }

  test("funnel_time: latencies respect the 6-hour qualification window") {
    val rows = q("q_funnel_time").collect()
    assert(rows.map(_.getAs[String]("stage")).toSet ==
      Set("view_to_click", "click_to_purchase"))
    for (r <- rows) {
      assert(r.getAs[Long]("n") >= 1)
      val (p50, p90, mx) = (r.getAs[Double]("p50_secs"),
        r.getAs[Double]("p90_secs"), r.getAs[Long]("max_secs"))
      assert(p50 >= 0 && p50 <= p90 && p90 <= mx)
      assert(mx <= 6 * 3600, "qualified transitions fit the 6h window")
    }
  }

  test("seasonality: per-type shares sum to 1; uniform ratio averages 1") {
    val rows = q("q_seasonality").collect()
    assert(rows.nonEmpty)
    for ((_, rs) <- rows.groupBy(_.getAs[String]("event_type"))) {
      val shares = rs.map(_.getAs[Double]("share"))
      assert(math.abs(shares.sum - 1.0) < 1e-9)
      assert(rs.forall(r => r.getAs[Int]("hr") >= 0 && r.getAs[Int]("hr") <= 23))
      // Σ n·24/tot over hours = 24·Σshare = 24 ⇒ mean ratio 1 when all
      // 24 hours are present
      if (rs.length == 24) {
        val mean = rs.map(_.getAs[Double]("vs_uniform")).sum / 24
        assert(math.abs(mean - 1.0) < 1e-9)
      }
    }
  }

  test("retention: offset-0 is the cohort ceiling for every later week") {
    val rows = q("q_retention").collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getAs[java.sql.Date]("cohort_week"))
    for ((_, rs) <- byCohort) {
      val base = rs.find(_.getAs[Int]("week_offset") == 0)
        .map(_.getAs[Long]("n_users"))
      assert(base.exists(_ > 0), "every cohort must be active in week 0")
      assert(rs.forall(_.getAs[Long]("n_users") <= base.get),
        "no later week can exceed the cohort's week-0 actives")
    }
  }

  test("compact files: verdicts hold") {
    val r = q("q_compact_files").collect().head
    assert(r.getAs[Int]("files_before") == 64)
    assert(r.getAs[Int]("files_after") < 64)
    assert(r.getAs[Int]("content_match") == 1)
  }

  test("small-frame exact variants refuse oversized inputs; scale twins accept") {
    // with the guard threshold squeezed to 1 byte, every exact variant must
    // refuse and point at its registered twin — and the twin must still run
    spark.conf.set(ops.SmallFrame.ConfKey, "1")
    try {
      for ((exact, twin) <- Seq(
          "q_roc" -> "q_roc_binned",
          "q_qcut" -> "q_qcut_cutpoints",
          "q_quality_classifier" -> "q_quality_classifier_binned")) {
        val e = intercept[IllegalArgumentException] { q(exact) }
        assert(e.getMessage.contains(twin), s"$exact must name its twin: ${e.getMessage}")
        assert(e.getMessage.contains(ops.SmallFrame.ConfKey))
        assert(q(twin).limit(1).collect().nonEmpty, s"twin $twin must accept")
      }
    } finally spark.conf.unset(ops.SmallFrame.ConfKey)
    // at the default 1 GiB threshold the sf0.001 frames fit: exact runs
    assert(q("q_qcut").limit(1).collect().nonEmpty)
  }

  test("Quantiles.exactCont matches the percentile aggregate on edge cases") {
    import spark.implicits._
    val ps = Seq(("q1", 0.25), ("med", 0.5), ("q3", 0.75))
    // grouped: corpus sample (ties galore in l_quantity), every group
    val li = Tables.lineitem(spark, sf)
    val sortPath = ops.Quantiles.exactCont(li, col("l_quantity"),
        Seq("l_returnflag"), ps)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val aggPath = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.25)").as("q1"),
        expr("percentile(l_quantity, 0.5)").as("med"),
        expr("percentile(l_quantity, 0.75)").as("q3"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(sortPath.keySet == aggPath.keySet)
    for ((k, (a1, a2, a3)) <- aggPath; (b1, b2, b3) = sortPath(k)) {
      assert(math.abs(a1 - b1) < 1e-9 && math.abs(a2 - b2) < 1e-9 &&
        math.abs(a3 - b3) < 1e-9, s"group $k: $aggPath vs $sortPath")
    }
    // degenerate shapes: n=1 group, nulls skipped, all-null group absent,
    // empty input -> one NULL row in the global form
    val tiny = Seq(("a", Some(5.0)), ("b", Some(1.0)), ("b", None),
      ("b", Some(3.0)), ("c", None)).toDF("g", "v")
    val t = ops.Quantiles.exactCont(tiny, col("v"), Seq("g"),
        Seq(("med", 0.5))).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(t == Map("a" -> 5.0, "b" -> 2.0), s"got $t") // c: all null, absent
    val empty = ops.Quantiles.exactCont(
      tiny.filter(lit(false)), col("v"), Seq.empty, Seq(("med", 0.5)))
      .collect()
    assert(empty.length == 1 && empty.head.isNullAt(0),
      "global form stays total on empty input")
  }

  test("embedding centroids cover every (label, dim) cell with all vectors") {
    val rows = q("q_embed_centroids").collect()
    val labels = Tables.embeddings(spark, sf)
      .select("label").distinct().count()
    assert(rows.length == labels * 64, "one row per (label, dim)")
    // per-dim vector counts must total the corpus size for every dim
    val perDim = rows.groupBy(_.getAs[Int]("dim"))
      .view.mapValues(_.map(_.getAs[Long]("n_vecs")).sum).toMap
    val total = Tables.embeddings(spark, sf).count()
    assert(perDim.values.forall(_ == total))
  }

  test("memo caches: session-scoped eviction is surgical, global clear is " +
      "atomic per key (r9 review)") {
    val s2 = spark.newSession()
    // fill a Dedup memo, a TextAnalysis memo and reader frames in two
    // sessions over the same corpus
    for (s <- Seq(spark, s2); q <- Seq("q_dedup_simhash", "q_bpe_train"))
      SparkEntry.queries(q)(s, sf).queryExecution.toRdd.count()
    def owners(s: org.apache.spark.sql.SparkSession) =
      SessionMemo.entries(s).map(_._1).toSet
    val filled = Set("Dedup", "TextAnalysis", "Tables")
    for (s <- Seq(spark, s2))
      assert(filled.subsetOf(owners(s)), s"memos not filled: ${owners(s)}")
    // a module's global sweep empties its entries in every session, and
    // only its own
    ops.Dedup.clearCaches()
    for (s <- Seq(spark, s2))
      assert(!owners(s).contains("Dedup") &&
        (filled - "Dedup").subsetOf(owners(s)), owners(s))
    // a server's per-user session: an engine on s2 describes a frame (as
    // one on the primary session does) and s2 persists a swept frame
    def rdds = spark.sparkContext.getPersistentRDDs.keySet
    val before = rdds
    SparkEntry.queries("q_dedup_simhash")(s2, sf).queryExecution.toRdd.count()
    val s2Rdds = rdds -- before
    assert(s2Rdds.nonEmpty, "s2's swept frame was not persisted")
    val frame = spark.range(3).toDF("a")
    for (s <- Seq(spark, s2)) {
      val llm = engine.FakeLlm("```sql\nSELECT count(*) AS n FROM df\n```")
      assert(new engine.GraftSession(s, llm).ask(frame, "rows?").text == "3")
      assert(owners(s).contains("GraftSession"), owners(s))
    }
    val kept = SessionMemo.entries(spark)
    // evicting s2 empties every scope for s2 (descriptions, reader frames,
    // swept frames and their blocks) and must not touch the primary
    // session's entries
    SessionMemo.clear(s2)
    assert(SessionMemo.entries(s2).isEmpty)
    assert((s2Rdds & rdds).isEmpty, "s2's persisted RDDs outlive it")
    assert(SessionMemo.entries(spark) == kept,
      "session-scoped eviction must leave other sessions' memos intact")
    SessionMemo.clear(spark, SessionMemo.Swept)
    assert(SessionMemo.entries(spark).forall(_._2 != SessionMemo.Swept))
    assert(owners(spark).contains("Tables"))
  }

  test("no memo keyed on SparkSession lives outside SessionMemo") {
    // a map whose first type argument (the key) names SparkSession or
    // DataFrame, in any main source but the registry itself: any
    // `TrieMap[`/`WeakHashMap[` in any form, and any other `…Map[`
    // that is constructed: `new …Map[`, `…Map.empty[`, or applied
    // (`mutable.HashMap[K, V]()`). A bare type such as `java.util.Map[K, V]`
    // (a memo's value type) is not a construction.
    import scala.jdk.CollectionConverters._
    val opener = raw"(\bnew\s+)?\b([\w.]*Map)\s*(\.\s*empty\s*)?\[".r
    val keyed = raw"\b(?:SparkSession|DataFrame|Dataset)\b".r
    // the key type, and the index of the `]` closing the type arguments
    def typeArgs(src: String, open: Int): (String, Int) = {
      var depth = 0
      var keyEnd = -1
      var i = open
      while (i < src.length && (i == open || depth > 0)) {
        if (src(i) == '[' || src(i) == '(') depth += 1
        if (src(i) == ']' || src(i) == ')') depth -= 1
        if (keyEnd < 0 && (depth == 0 || (depth == 1 && src(i) == ','))) keyEnd = i
        i += 1
      }
      (src.substring(open + 1, if (keyEnd < 0) i else keyEnd), i - 1)
    }
    def applied(src: String, close: Int): Boolean = {
      val next = src.indexWhere(!_.isWhitespace, close + 1)
      next >= 0 && src(next) == '('
    }
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root))
    val sources = scala.util.Using.resource(java.nio.file.Files.walk(root))(
        _.iterator().asScala.toList)
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "SessionMemo.scala")
    val strays = sources.flatMap { p =>
      val src = java.nio.file.Files.readString(p)
      opener.findAllMatchIn(src).flatMap { m =>
        val (key, close) = typeArgs(src, m.end - 1)
        val built = m.group(1) != null || m.group(3) != null ||
          m.group(2).split('.').last.matches("TrieMap|WeakHashMap") || applied(src, close)
        if (keyed.findFirstIn(key).isDefined && built)
          Some(s"$p: ${src.substring(m.start, close + 1)}")
        else None
      }
    }
    assert(sources.nonEmpty)
    assert(strays.isEmpty, s"declare these with SessionMemo: $strays")
  }
}
