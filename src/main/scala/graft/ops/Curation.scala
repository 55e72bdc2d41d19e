package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{SessionMemo, Tables}
import graft.Tables.Q

/** Training-data curation operators beyond the dedup/similarity families
  * (builder-prompt mandate: "the operations a large-scale training-data
  * pipeline would need"): PII redaction, deterministic stratified splits,
  * benchmark decontamination, and per-document term salience.
  *
  * Scale design: PII redaction and split assignment are row-local (scan
  * speed, zero shuffles before the output sort). Decontamination joins the
  * corpus against the BENCHMARK shingle set — benchmarks are tiny by
  * nature, so the eval side broadcasts and the corpus never shuffles.
  * Term salience is explode → partial+final aggregates → one window
  * partitioned by doc_id (high-cardinality key — no hot partitions).
  *
  * Determinism notes: the corpus carries no PII, so the redaction query
  * PLANTS deterministic emails/URLs/phones derived from doc_id (same
  * construction in both dialects). Salience uses a log-free rational idf
  * (cnt·N / (words·df)): products of exact integers divided once — IEEE
  * double division is bit-identical across engines, whereas ln() may
  * differ in the last ulp and flip rank ties.
  */
object Curation {

  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val urlRe = "https?://[A-Za-z0-9./_-]+"
  private val phoneRe = "\\d{3}-\\d{3}-\\d{4}"

  /** Size of the broadcast vocabulary head for term-keyed joins. Term
    * frequency is Zipfian: the top few thousand terms carry most of the
    * token mass, so shuffling rows by raw term routes a huge share of the
    * corpus to a handful of tasks. Joining the head against a broadcast
    * and shuffling only the tail bounds every shuffled key's row count by
    * the head's K-th frequency. 4096 × ~a-few-hundred-bytes is a trivial
    * broadcast; at 100 TB raise toward 64K — still megabytes. */
  private val zipfHeadK = 4096

  /** Skew-safe join of `rows` against a (key, count) table: broadcast-join
    * the top-`zipfHeadK` keys by count (the Zipf head), shuffle-join only
    * the residual tail. Output = rows ⋈ counts with the count column
    * appended, exactly as a plain inner equi-join would produce (every key
    * in `rows` exists in `counts` by construction — the counts are
    * aggregated from the same rows). The two branches under the union share
    * the `rows` aggregate subtree: AQE's runtime stage cache dedups the
    * identical exchanges (verified: final plan has one scan, one `rows`
    * shuffle, one `counts` shuffle, ReusedExchange elsewhere). */
  private[graft] def zipfJoin(rows: org.apache.spark.sql.DataFrame,
      counts: org.apache.spark.sql.DataFrame, key: String,
      headK: Int = zipfHeadK): org.apache.spark.sql.DataFrame = {
    val cntCol = counts.columns.filter(_ != key).head
    val head = counts.orderBy(desc(cntCol), asc(key)).limit(headK)
    val withHead = rows.join(broadcast(head), Seq(key), "left")
    withHead.filter(col(cntCol).isNotNull)
      .unionByName(withHead.filter(col(cntCol).isNull).drop(cntCol)
        .join(counts, Seq(key)))
  }

  /** 3-word shingles, distinct per doc — same construction as the dedup
    * chain, over the raw documents table. */
  private val duckDocShingles =
    "sh AS (SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i + 1], w[i + 2]) AS shingle FROM " +
      "(SELECT doc_id, string_split(text, ' ') AS w, " +
      "unnest(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1))) AS i FROM documents))"

  /** PUBLIC API — count and scrub emails/URLs/phones in `textCol`:
    * appends `n_emails`/`n_urls`/`n_phones` and a `redacted` column.
    * Row-local; at any scale this runs at scan speed.
    *
    * Counts are INDEPENDENT per-category matches on the ORIGINAL text,
    * while redaction applies the replacements in sequence (email → URL →
    * phone) — so text where categories overlap (a phone number inside a
    * URL path, an email inside a URL) counts once per matching category
    * but redacts under whichever placeholder lands first. Audits should
    * reconcile counts against the original text, not against placeholder
    * occurrences in `redacted`. */
  def redactPii(df: org.apache.spark.sql.DataFrame, textCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(emailRe), lit(0))))
      .withColumn("n_urls",
        size(regexp_extract_all(col(textCol), lit(urlRe), lit(0))))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(phoneRe), lit(0))))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), emailRe, "<EMAIL>"),
            urlRe, "<URL>"),
          phoneRe, "<PHONE>"))

  /** PUBLIC API — greedy sequence packing, the pre-training batching step:
    * pack items into token-budget sequences. Exact greedy packing is
    * inherently sequential, so the scalable form shards by id residue and
    * packs greedily WITHIN shards: the running token sum is a window
    * partitioned by bucket, and the pack id is the budget quotient of the
    * tokens before each item — contiguous-chunk semantics, so the item
    * that STRADDLES a budget boundary belongs to the pack it starts in
    * and `pack_tokens` may exceed `budget` by up to that one item (the
    * bound OpsSpec pins; trainers that need a hard cap truncate the
    * straddler, the standard document-packing trade). First-fit packing
    * that closes a pack on overflow would be sequential per shard — a
    * driver loop at scale — for a marginally tighter fit. `buckets`
    * bounds the parallelism — it defaults to the session's shuffle
    * parallelism so the window stage scales with the cluster instead of
    * capping at a constant. Numeric ids shard by residue (deterministic,
    * oracle-checkable); non-numeric ids (UUIDs, URLs) shard by xxhash64 —
    * a plain long cast would turn every such id into the SAME null bucket
    * and serialize the corpus through one window partition. Output:
    * (bucket, pack_id, n_docs, pack_tokens); deterministic given
    * (idCol, tokenCol). */
  def packSequences(df: org.apache.spark.sql.DataFrame, idCol: String,
      tokenCol: String, budget: Long = 2048L,
      buckets: Int = 0): org.apache.spark.sql.DataFrame = {
    val b = if (buckets > 0) buckets
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val idIsNumeric = df.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val bucket =
      if (idIsNumeric) pmod(col(idCol).cast("long"), lit(b.toLong))
      else pmod(xxhash64(col(idCol)), lit(b.toLong))
    val w = Window.partitionBy("bucket").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol),
        bucket.as("bucket"),
        col(tokenCol).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("pack_id",
        floor(col("cum_before").cast("double") / budget.toDouble).cast("long"))
      .groupBy("bucket", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))
  }

  /** Per-session ledger of bloom probe registrations, keyed by function
    * name: (name, broadcast) for each probe [[registerBloom]] created. Each
    * decontamination pass registers a UUID-named temp function holding a
    * broadcast of the full serialized bitset; without a release hook a
    * long-lived session accumulates both (review finding). Swept: the
    * release drops the function and destroys its broadcast, so frames
    * returned by earlier decontaminate() calls stop being executable —
    * release between pipeline runs, not mid-plan. */
  private val bloomLedger = SessionMemo[String,
      (String, org.apache.spark.broadcast.Broadcast[Array[Byte]])](
    "Curation", SessionMemo.Swept, { case (session, (fname, bc)) =>
      session.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(fname))
      bc.destroy()
    })

  /** Build a bloom filter over xxhash64 of `shingles.shingle`, broadcast
    * the serialized bytes, register a session-unique probe function, and
    * return its name. The single home of the zero-row guard:
    * `stat.bloomFilter`'s aggregate returns a null buffer on zero input
    * rows and NPEs deserializing it, so an empty shingle set substitutes
    * an explicit empty filter — matches nothing, the correct semantics
    * (the guard lived only in q_contamination_bloom's inline copy before,
    * leaving the public API to crash on an empty eval set — review
    * finding). */
  private def registerBloom(s: SparkSession, shingles: DataFrame,
      expected: Long, fpp: Double): String = {
    val bloom =
      if (expected <= 0L)
        org.apache.spark.util.sketch.BloomFilter.create(100L, fpp)
      else shingles.select(xxhash64(col("shingle")).as("h"))
        .stat.bloomFilter("h", expected, fpp)
    val bc = s.sparkContext.broadcast(
      graft.functions.BloomFunctions.serialize(bloom))
    val fname = "graft_bloom_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    graft.functions.BloomFunctions.registerBroadcast(s, fname, bc)
    bloomLedger.put(s, fname, (fname, bc))
    fname
  }

  /** Release every bloom probe function and broadcast [[registerBloom]]
    * created for `session`. perfbench's `OpsWorkload.clearResidue` is its
    * only caller, and it goes with the next benchmark change; teardown is
    * [[graft.SessionMemo.clear]]. */
  def clearCaches(session: SparkSession): Unit =
    SessionMemo.sweep("Curation", Some(session))

  /** PUBLIC API — benchmark decontamination: remove from `df` every row
    * whose `textCol` shares at least one 3-word shingle with `evalDf`'s
    * `evalTextCol`. Scale shape: the EVAL side (small by nature — it must
    * fit a broadcast regardless) is shingled, counted driver-side to size
    * a bloom filter over its xxhash64 values, and the corpus is
    * prefiltered by the row-local codegen'd broadcast-bloom probe — a few
    * bit-tests per row, no join, no shuffle of the corpus — before an
    * exact broadcast join on the tiny surviving fraction removes bloom
    * false positives. Blooms have no false negatives, so the result is
    * exactly the broadcast-join answer at a fraction of the cost when the
    * eval set is large. The filter bytes travel as a BROADCAST, not a
    * plan literal: the plan stays flat (a handle, not megabytes of
    * bitset) and executors fetch the bytes once each, regardless of task
    * count. The eval shingle set is collected to a local relation once
    * its cache has served the count and the bloom build — the returned
    * plan's exact join reads the local rows, so the shingling never
    * recomputes at action time and no cache outlives this call. Call
    * [[graft.SessionMemo.clear]] when returned frames are no longer live
    * to release the bloom broadcasts. */
  def decontaminate(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, evalDf: org.apache.spark.sql.DataFrame,
      evalTextCol: String, fpp: Double = 0.01): org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    val trainSh = Dedup.shinglesOf(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .distinct()
    // per-row ids, not a constant: shinglesOf's FanOut hash-partitions by
    // doc_id, and lit(0L) would collapse the fan-out into ONE partition —
    // strictly worse than not fanning at all (review finding). The ids
    // are dropped right after the explode, so their values never reach
    // the output.
    val evalSh = Dedup.shinglesOf(
      evalDf.select(monotonically_increasing_id().as("doc_id"),
        col(evalTextCol).as("text")))
      .select("shingle").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEval = evalSh.count()
    val fname = registerBloom(s, evalSh, nEval, fpp)
    // materialize the eval shingles locally while the cache is hot: the
    // returned plan is lazy, so an unpersist here with a cache-dependent
    // plan would recompute the whole eval shingling at action time
    // (review finding) — and never unpersisting would leak the cache.
    // The set fits by the same argument as the broadcast join it feeds.
    import s.implicits._
    val evalLocal = evalSh.as[String].collect().toSeq.toDF("shingle")
    evalSh.unpersist(blocking = false)
    val contaminated = trainSh
      .filter(call_function(fname, xxhash64(col("shingle"))))
      .join(broadcast(evalLocal), Seq("shingle"))
      .select(col("doc_id").as(idCol)).distinct()
    df.join(contaminated, Seq(idCol), "left_anti")
  }

  /** PUBLIC API — temperature-scaled source resampling, the standard
    * multilingual/multi-source mixing step: with per-source counts c_i,
    * keep source i at rate (c_min/c_i)^(1−1/T), so surviving counts are
    * ∝ c_i^(1/T). T=1 keeps everything EXACTLY (a rate ≥ 1 maps to a
    * sentinel threshold above every hex prefix, so the smallest source —
    * and every source at T=1 — is kept whole, not 65535/65536ths of it);
    * T→∞ flattens to the uniform balance of q_source_balance; typical
    * training mixes use T≈2-5 to up-weight small sources without
    * discarding most of the big ones. Membership is the deterministic
    * hash-threshold filter (first 4 md5 hex digits of the id below a
    * per-source threshold): reproducible across engines/partitionings, and
    * at scale a row-local filter against a broadcast per-source threshold
    * table — the corpus never shuffles. */
  def temperatureSample(df: org.apache.spark.sql.DataFrame, idCol: String,
      sourceCol: String, temperature: Double = 2.0): org.apache.spark.sql.DataFrame = {
    require(temperature >= 1.0, "temperature must be >= 1")
    val bySource = df.groupBy(sourceCol).agg(count(lit(1)).as("_n_before"))
    val minCount = bySource.agg(min("_n_before").as("_m"))
    // T=2 (the common default, and the oracle-verified path) computes the
    // exponent 0.5 as an explicit sqrt: pow(x, 0.5) is not guaranteed to
    // be the correctly-rounded sqrt, and a 1-ulp difference at an integer
    // boundary of 65536·rate would flip a threshold digit across engines.
    // Other temperatures need pow, whose cross-engine determinism is
    // platform-correctly-rounded in practice but not IEEE-guaranteed.
    val e = 1.0 - 1.0 / temperature
    val frac = col("_m").cast("double") / col("_n_before")
    val rate = if (e == 0.5) sqrt(frac) else pow(frac, lit(e))
    // rate ≥ 1 means keep-all: 'g' sorts after 'f', so it compares greater
    // than any 4-hex-digit md5 prefix — exact, unlike capping at 0xffff
    // (which silently drops the ~1/65536 of ids whose prefix is 'ffff')
    val thresholds = bySource.crossJoin(broadcast(minCount))
      .select(col(sourceCol),
        when(floor(lit(65536.0) * rate) >= 65536L, lit("g"))
          .otherwise(lpad(lower(hex(
            floor(lit(65536.0) * rate).cast("long"))), 4, "0"))
          .as("_thresh"))
    df.join(broadcast(thresholds), sourceCol)
      .filter(substring(md5(col(idCol).cast("string")), 1, 4) < col("_thresh"))
      .drop("_thresh")
  }

  /** PUBLIC API — deterministic train/val/test membership (12/2/2
    * sixteenths) from the first hex digit of md5(`idCol`): appends a
    * `split` column. Hash-based, so the assignment is reproducible across
    * engines, partitionings, and reruns — auditable held-out sets. */
  def stratifiedSplit(df: org.apache.spark.sql.DataFrame, idCol: String): org.apache.spark.sql.DataFrame = {
    val h = substring(md5(col(idCol).cast("string")), 1, 1)
    df.withColumn("split",
      when(h < "c", "train").when(h < "e", "val").otherwise("test"))
  }

  /** Shared DSIR scoring pipeline (q_dsir / q_dsir_resample): per-doc
    * hashed-bigram bucket counts → corpus/target histograms → 16-row LLR
    * table → per-doc log importance weight. See the q_dsir entry's comment
    * for the explode + hash-aggregate scale rationale. Output: (doc_id,
    * n_grams, dsir_logw), unordered. */
  private def dsirScored(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val words = docs.select(col("doc_id"), col("lang"),
      expr("filter(split(text, ' '), x -> length(x) > 0)").as("w"))
    // small-input widening through the shared FanOut gate: its size
    // estimate short-circuits FIRST, so a big corpus never materializes
    // the RDD lineage (the r7 watch-item) — and unlike the raw
    // inputFiles.length probe this used before, one large SPLITTABLE
    // file (whose scan already plans many tasks) can't trigger a
    // pointless full-corpus shuffle
    val wide = FanOut(words, col("doc_id"))
    val grams = wide.select(col("doc_id"), col("lang"), explode_outer(expr(
      "concat(w, CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), " +
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) " +
        "ELSE CAST(array() AS ARRAY<STRING>) END)")).as("t"))
    val perDoc = grams
      .groupBy(col("doc_id"), col("lang"),
        expr("substring(md5(t), 1, 1)").as("h"))
      .agg(count(col("t")).as("c"))
    val hist = s.range(16)
      .select(expr("substring('0123456789abcdef', CAST(id AS INT) + 1, 1)").as("h"))
      .join(perDoc.where(col("h").isNotNull).groupBy("h")
          .agg(sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("t"),
            sum("c").as("r")),
        Seq("h"), "left")
      .na.fill(0L, Seq("t", "r"))
    // corpus totals via an empty-frame window — 16 rows, one partition
    val all = Window.partitionBy()
    val llrTab = hist.select(col("h"),
      (log((col("t") + 1.0) / (sum("t").over(all) + 16.0)) -
        log((col("r") + 1.0) / (sum("r").over(all) + 16.0))).as("llr"))
    perDoc
      .join(broadcast(llrTab), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(sum("c").cast("int").as("n_grams"),
        // + 0.0 canonicalizes IEEE negative zero (q_embed_centroids precedent)
        (round(coalesce(sum(col("c") * col("llr")), lit(0.0)), 4) + lit(0.0))
          .as("dsir_logw"))
  }

  val queries: Map[String, Q] = Map(
    // PII redaction: plant a deterministic email / URL / phone (by doc_id
    // residue), then count and redact all three classes with anchored
    // regexes. Row-local — at 100 TB this runs at scan speed.
    "q_pii_redact" -> ((s, d) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com")))
          .when(col("doc_id") % 7 === 1,
            concat(lit(" see https://site"), col("doc_id").cast("string"),
              lit(".example.org/docs")))
          .when(col("doc_id") % 7 === 2,
            concat(lit(" call 415-555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")))
      redactPii(Tables.documents(s, d).withColumn("aug", aug), "aug")
        .select("doc_id", "n_emails", "n_urls", "n_phones", "redacted")
        .orderBy("doc_id")
    }),

    // URL-canonicalization dedup — the first dedup pass of every web-crawl
    // pipeline: the same page arrives under scheme/host case variants,
    // default ports, trailing slashes, tracking parameters, fragments and
    // www prefixes; canonicalizing BEFORE content dedup collapses these
    // for free (string ops at scan speed, zero shuffles before the final
    // group-by on the canonical key) instead of paying shingle/LSH cost on
    // byte-identical pages. The corpus carries no URLs, so 8 raw variants
    // of a canonical URL are PLANTED per doc_id residue (the q_pii_redact
    // pattern) and the chain lower → strip fragment → strip utm_* params →
    // strip dangling ?/& → strip :80 → strip www → strip trailing slash
    // must collapse all 8 — group sizes below 8 turn the row red.
    "q_dedup_url" -> ((s, d) => {
      val gs = expr("CAST(doc_id DIV 8 AS STRING)")
      val host = concat(lit("example"), gs, lit(".com"))
      val path = concat(lit("/p/"), gs)
      val raw = when(col("doc_id") % 8 === 0,
          concat(lit("http://"), host, path))
        .when(col("doc_id") % 8 === 1,
          concat(lit("HTTP://"), upper(host), path))
        .when(col("doc_id") % 8 === 2,
          concat(lit("http://"), host, lit(":80"), path))
        .when(col("doc_id") % 8 === 3,
          concat(lit("http://"), host, path, lit("/")))
        .when(col("doc_id") % 8 === 4,
          concat(lit("http://"), host, path, lit("?utm_source=news")))
        .when(col("doc_id") % 8 === 5,
          concat(lit("http://"), host, path, lit("#section2")))
        .when(col("doc_id") % 8 === 6,
          concat(lit("http://"), host, path,
            lit("?utm_campaign=x&utm_source=y")))
        .otherwise(concat(lit("http://www."), host, path))
      val canon =
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(lower(raw), "#.*$", ""),
                  "utm_[a-z]+=[^&#]*&?", ""),
                "[?&]+$", ""),
              ":80/", "/"),
            "://www\\.", "://"),
          "/$", "")
      Tables.documents(s, d)
        .select(col("doc_id"), canon.as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_raw"), min("doc_id").as("keep_id"))
        .orderBy("canonical_url")
    }),

    // Deterministic stratified split: membership from the first hex digit
    // of md5(doc_id) — 12/2/2 sixteenths train/val/test. Hash-based
    // assignment is reproducible across engines, partitionings, and reruns
    // (unlike RNG splits), which is what makes held-out sets auditable.
    // Per-(split, source) stats are one partial+final aggregate.
    "q_split_stratified" -> ((s, d) => {
      graft.functions.TextTokenize.register(s)
      stratifiedSplit(Tables.documents(s, d), "doc_id")
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("graft_token_count(text)")).as("n_tokens"))
        .orderBy("split", "source")
    }),

    // Benchmark decontamination: fraction of each training doc's distinct
    // 3-word shingles that appear in the eval set (doc_id < 20 stands in
    // for the benchmark). The eval shingle set is tiny by nature →
    // broadcast; the corpus side never shuffles for the join, and the
    // per-doc rollup is a partial+final aggregate on a high-cardinality
    // key. The report includes clean docs (contamination 0) — a
    // decontamination pass must prove absence, not just list hits.
    "q_contamination" -> ((s, d) => {
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          expr("explode(transform(sequence(1, greatest(size(w) - 2, 1)), " +
            "i -> concat_ws(' ', try_element_at(w, i), " +
            "try_element_at(w, i + 1), try_element_at(w, i + 2))))").as("shingle"))
        .distinct()
      val evalSet = sh.filter(col("doc_id") < 20).select("shingle").distinct()
      val train = sh.filter(col("doc_id") >= 20)
      val sizes = train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val shared = train.join(broadcast(evalSet), Seq("shingle"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      sizes.join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          round(coalesce(col("n_shared"), lit(0L)).cast("double") / col("n_shingles"), 6)
            .as("contamination"))
        .orderBy("doc_id")
    }),

    // Bloom-prefiltered decontamination — the same semantics as
    // q_contamination's broadcast join, restructured for eval sets too big
    // to broadcast as a hash table: build a bloom filter over the eval
    // shingles' xxhash64 (driver-side over the SMALL side only, shipped as
    // a BROADCAST so the plan carries a handle, not the bitset), prefilter
    // the corpus with the row-local codegen'd broadcast-bloom probe — a
    // few bit-tests per row, no join, no shuffle — and exact-join only the
    // tiny surviving fraction to kill the bounded-rate false positives.
    // Blooms are never false-negative, so the two-stage result must equal
    // the exact broadcast-join ground truth computed alongside:
    // `bloom_no_fn` asserts count equality, `bloom_fp_bounded` asserts the
    // prefilter passed at most truth + max(50, 5·fpp·n) shingle rows. Both
    // verdicts are data-dependent computations, not assumptions — a broken
    // hash contract or a drifting bloom implementation turns this row red.
    "q_contamination_bloom" -> ((s, d) => {
      val sh = FanOut(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          expr("explode(transform(sequence(1, greatest(size(w) - 2, 1)), " +
            "i -> concat_ws(' ', try_element_at(w, i), " +
            "try_element_at(w, i + 1), try_element_at(w, i + 2))))").as("shingle"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val evalSet = sh.filter(col("doc_id") < 20).select("shingle").distinct()
      val train = sh.filter(col("doc_id") >= 20)
      val fpp = 0.01
      // shared bloom lifecycle (build + zero-row guard + broadcast +
      // probe registration) — the inline copy had drifted from the
      // public decontaminate(), leaving the empty-eval NPE guard in only
      // one of the two (review finding). Sizing stays the qid's fixed
      // 100000 so the fp-bound verdict keeps its calibrated basis.
      val fname = registerBloom(s, evalSet,
        if (evalSet.isEmpty) 0L else 100000L, fpp)
      val prefiltered = train
        .filter(call_function(fname, xxhash64(col("shingle"))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val viaBloom = prefiltered.join(broadcast(evalSet), Seq("shingle"))
        .agg(countDistinct(col("doc_id")).as("n_contaminated"),
          count(lit(1)).as("n_true_shingles"))
      val truth = train.join(broadcast(evalSet), Seq("shingle"))
        .agg(countDistinct(col("doc_id")).as("n_truth"))
      val nTrain = train.agg(count(lit(1)).as("n_train_shingles"))
      val nPre = prefiltered.agg(count(lit(1)).as("n_prefiltered"))
      val out = viaBloom.crossJoin(truth).crossJoin(nTrain).crossJoin(nPre)
        .select(col("n_contaminated"),
          (col("n_contaminated") === col("n_truth")).cast("int")
            .as("bloom_no_fn"),
          (col("n_prefiltered") <= col("n_true_shingles") +
            greatest(lit(50.0), lit(5 * fpp) * col("n_train_shingles")))
            .cast("int").as("bloom_fp_bounded"))
        .localCheckpoint(true)
      prefiltered.unpersist(blocking = false)
      sh.unpersist(blocking = false)
      out
    }),

    // Unigram LM quality score — the cheap stand-in for "filter by language
    // model perplexity", the classic curation heuristic: per-doc mean
    // negative log-probability of its tokens under the corpus unigram
    // distribution. High = unusual/garbled text. Skew design: the join
    // against corpus term counts never sees token-level rows (they
    // pre-aggregate to (doc, term, tf) on a high-cardinality compound key)
    // and never shuffles the Zipf head ("the" alone would route a few
    // percent of all rows to one task) — zipfJoin broadcasts the head,
    // shuffles only the bounded-frequency tail. avg over tokens becomes the
    // tf-weighted mean Σ tf·nll / Σ tf — identical value, and the 4dp round
    // absorbs summation-order ulps exactly as it already must across
    // engines (same precedent as q_cumprod's exp∘Σln).
    "q_perplexity" -> ((s, d) => {
      val terms = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(expr("filter(split(text, ' '), x -> length(x) > 0)")).as("term"))
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val termCounts = tf.groupBy("term").agg(sum("tf").as("cnt"))
      val total = termCounts.agg(sum("cnt").as("t"))
      zipfJoin(tf, termCounts, "term")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(sum("tf").as("n_tokens"),
          round(sum(col("tf").cast("double") *
              -log(col("cnt").cast("double") / col("t"))) / sum("tf"), 4)
            .as("avg_nll"))
        .orderBy("doc_id")
    }),

    // Bigram LM quality score — q_perplexity's unigram model upgraded one
    // order: per-doc mean negative log-probability of each token given its
    // predecessor, add-one smoothed over the corpus vocabulary (the
    // KenLM-shaped filter real curation stacks run). The scale-critical
    // move is that bigram FORMATION is row-local: adjacent pairs come from
    // a `transform` over each doc's own token array (no positional
    // self-join, no window over an exploded token stream — the corpus is
    // never shuffled just to find neighbors). Counting and joining then
    // reuse q_perplexity's skew shape exactly: pre-aggregate to
    // (doc, bigram, tf) on a compound key, zipfJoin both the bigram-count
    // and the context-count lookups so the Zipf head ("of the") broadcasts
    // instead of routing the corpus through one task, and the vocabulary
    // size joins as a 1-row broadcast.
    "q_bigram_lm" -> ((s, d) => {
      // deliberately NOT fanned out: all four consumers immediately
      // partial-aggregate, so their groupBys ARE the data reduction and a
      // raw-doc exchange per consumer costs more than the parallel explode
      // buys (measured 2.1s -> 3.9s fanned)
      val toks = Tables.documents(s, d).select(col("doc_id"),
        expr("filter(split(text, ' '), x -> length(x) > 0)").as("l"))
      val big = toks.filter(size(col("l")) >= 2).select(col("doc_id"),
        explode(expr("transform(sequence(1, size(l) - 1), i -> " +
          "struct(element_at(l, i) AS w1, element_at(l, i + 1) AS w2))"))
          .as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val tf = big.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
        .withColumn("bg", concat_ws(" ", col("w1"), col("w2")))
      val bc = big.groupBy("w1", "w2").agg(count(lit(1)).as("cbg"))
        .select(concat_ws(" ", col("w1"), col("w2")).as("bg"), col("cbg"))
      val cc = big.groupBy("w1").agg(count(lit(1)).as("cw1"))
      val v = toks.select(explode(col("l")).as("term"))
        .agg(countDistinct("term").as("v"))
      zipfJoin(zipfJoin(tf, bc, "bg"), cc, "w1")
        .crossJoin(broadcast(v))
        .groupBy("doc_id")
        .agg(sum("tf").as("n_bigrams"),
          round(sum(col("tf").cast("double") *
              -log((col("cbg") + lit(1.0)) / (col("cw1") + col("v")))) /
              sum("tf"), 4)
            .as("avg_nll"))
        .orderBy("doc_id")
    }),

    // DSIR-style data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score every document by
    // the log-likelihood ratio of its hashed n-gram features under a
    // TARGET distribution (the lang='en' slice — the in-domain proxy) vs
    // the RAW corpus distribution. Features are word unigrams + adjacent
    // bigrams hashed into 16 buckets (first md5 hex digit — the same
    // cross-engine hash as q_feature_hash), add-one smoothed.
    //
    // Scale shape — explode + hash-aggregate, NOT per-row HOF counting: a
    // row-local `transform(sequence(0,15), i -> size(filter(hs, ...)))`
    // formulation looks shuffle-free but measured 70 s at sf0.1, because
    // (a) CollapseProject inlines the md5 pass into the 16-iteration
    // lambda (16 md5 scans per doc at runtime — one lexical reference is
    // not one evaluation), (b) InferFiltersFromGenerate duplicates the
    // whole featurization into a `size(...) > 0` filter, and (c) higher-
    // order functions are CodegenFallback (interpreted). Exploding the
    // grams instead keeps everything in whole-stage codegen: md5 runs
    // exactly once per gram as a hash-aggregate grouping key, map-side
    // combine collapses each partition to ≤17 rows per doc before the
    // exchange, so the shuffle carries docs×17 tiny rows — the corpus
    // text itself never shuffles. The (doc, bucket) count frame then
    // feeds BOTH the 16-key histogram and the per-doc scoring join;
    // Spark's ReuseExchange dedupes the shared subtree so featurization
    // runs once. The LLR table is 16 rows broadcast back onto the counts.
    // explode_outer keeps zero-gram docs (h NULL, c 0) so empty documents
    // surface with score 0 exactly as the oracle computes them.
    "q_dsir" -> ((s, d) =>
      dsirScored(s, d)
        .withColumn("keep", col("dsir_logw") > 0)
        .orderBy("doc_id")),

    // The "R" in DSIR — importance RESAMPLING of a fixed training budget
    // from the scored corpus via the Gumbel-top-k trick: sampling k docs
    // without replacement with probability ∝ exp(logw) is exactly taking
    // the top k by logw + Gumbel noise. The noise is DETERMINISTIC (the
    // library's reproducibility contract, like q_sample_det): u is the
    // first 6 md5 hex digits of the doc id mapped into (0,1) — exact in
    // both engines since (v + 0.5) / 2^24 is a dyadic rational — and
    // g = -ln(-ln(u)). Scale shape: scoring is q_dsir's pipeline; the
    // budget selection is orderBy(key).limit(k) = TakeOrderedAndProject,
    // a per-partition top-k merge that moves only k rows — never a
    // global sort of the corpus. Keys are rounded to 6 dp with a doc_id
    // tie-break so the selection boundary is engine-stable.
    "q_dsir_resample" -> ((s, d) => {
      val keyed = dsirScored(s, d).select(col("doc_id"), col("dsir_logw"),
        (round(col("dsir_logw") - log(-log(
          (expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10) AS DOUBLE)")
            + 0.5) / 16777216.0)), 6) + lit(0.0)).as("gumbel_key"))
      keyed.orderBy(col("gumbel_key").desc, col("doc_id")).limit(100)
        .orderBy("doc_id")
    }),

    // Source rebalancing: deterministic hash-threshold downsampling so
    // every source contributes the same row count as the smallest one (the
    // "data mixing" step before training). Membership = first 4 md5 hex
    // digits of doc_id below a per-source threshold — reproducible across
    // engines/partitionings, and at scale it's a row-local filter against
    // a broadcast per-source threshold table (no shuffle of the corpus).
    "q_source_balance" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bySource = docs.groupBy("source").agg(count(lit(1)).as("n_before"))
      val minCount = bySource.agg(min("n_before").as("m"))
      // rate ≥ 1 (the smallest source computes exactly 65536) maps to the
      // 'g' sentinel — it sorts after every 4-hex-digit prefix, so the
      // source that should keep everything keeps EVERYTHING. The earlier
      // least(65535) cap silently dropped the ~1/65536 of its ids whose
      // prefix is 'ffff' (and a bare 4-char lpad would have truncated
      // 65536's five hex digits to '1000' — 1/16th); the sentinel is the
      // same keep-all rule temperatureSample uses, so the two mixing
      // surfaces agree at the boundary.
      val thresholds = bySource.crossJoin(broadcast(minCount))
        .select(col("source"), col("n_before"),
          when(floor(lit(65536.0) * col("m") / col("n_before")) >= 65536L,
            lit("g"))
            .otherwise(lpad(lower(hex(
              floor(lit(65536.0) * col("m") / col("n_before")).cast("long"))),
              4, "0"))
            .as("thresh"))
      docs.join(broadcast(thresholds), "source")
        .filter(expr("substring(md5(CAST(doc_id AS STRING)), 1, 4)") < col("thresh"))
        .groupBy("source", "n_before")
        .agg(count(lit(1)).as("n_after"))
        .select(col("source"), col("n_before"), col("n_after"),
          round(col("n_after").cast("double") / col("n_before"), 4).as("kept_frac"))
        .orderBy("source")
    }),

    // Temperature-scaled source resampling (T=2): keep rate
    // sqrt(min_count/count) per source, so surviving counts are ∝ √c_i —
    // the standard multilingual-mix reweighting between "keep everything"
    // (T=1) and q_source_balance's uniform flattening (T=∞). The qid
    // routes through the PUBLIC temperatureSample so the oracle checks
    // the path library users call — the two had drifted (the API's
    // rate≥1 keep-all sentinel vs an inline least(65535) cap that
    // silently dropped the ~1/65536 of smallest-source ids whose hash
    // prefix is 'ffff'; review finding). T=2 evaluates the rate as an
    // explicit sqrt inside the API (pow(x, 0.5) is not guaranteed to be
    // the correctly-rounded sqrt).
    "q_sample_temperature" -> ((s, d) => {
      // the shipped sources are uniform (25 docs each), which would make
      // reweighting a no-op — derive a deterministically SKEWED mix label
      // (250/150/100 split by id residue) so the query demonstrates real
      // temperature flattening: keep rates √(100/250)=.63, √(100/150)=.82, 1
      val docs = Tables.documents(s, d).withColumn("mix_src",
        when(col("doc_id") % 500 < 250, "big")
          .when(col("doc_id") % 500 < 400, "mid").otherwise("small"))
      val bySource = docs.groupBy("mix_src").agg(count(lit(1)).as("n_before"))
      temperatureSample(docs, "doc_id", "mix_src", temperature = 2.0)
        .groupBy("mix_src").agg(count(lit(1)).as("n_after"))
        .join(broadcast(bySource), "mix_src")
        .select(col("mix_src"), col("n_before"), col("n_after"),
          round(col("n_after").cast("double") / col("n_before"), 4).as("kept_frac"))
        .orderBy("mix_src")
    }),

    // Deterministic source interleave — the training-schedule half of data
    // mixing: q_source_balance decides HOW MUCH of each source survives,
    // this decides the ORDER the trainer consumes it in (round-robin
    // across sources so no batch is single-source, hash-shuffled within
    // each source so the interleave is also an epoch shuffle). Scale
    // shape: the within-source position is Reshape's 2-pass count-offset
    // global index (sort exchange reused by both passes, no single-
    // partition window over the corpus); the per-source offset table and
    // the source-rank table are tiny broadcast aggregates; the interleave
    // position i·S + rank is then row-local, and the head of the schedule
    // is TakeOrderedAndProject. Positions are unique by construction
    // ((i, rank) is unique), so the output is engine-deterministic.
    "q_interleave" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(concat(lit("mix|"), col("doc_id").cast("string"))).as("k"))
      val g = Reshape.withGlobalIndex(docs.orderBy("source", "k"), "gidx")
      val offs = g.groupBy("source").agg(min("gidx").as("off"))
      val ranks = docs.select("source").distinct()
        .withColumn("src_rank",
          row_number().over(Window.orderBy("source")).cast("long"))
      val nSrc = ranks.agg(count(lit(1)).as("n_src"))
      g.join(broadcast(offs), "source")
        .join(broadcast(ranks), "source")
        .crossJoin(broadcast(nSrc))
        .select(((col("gidx") - col("off")) * col("n_src") + col("src_rank"))
            .as("pos"),
          col("doc_id"), col("source"))
        .orderBy("pos")
        .limit(300)
    }),

    // Sequence packing via the public packSequences (budget 2048). The qid
    // pins buckets=16 for oracle parity; library callers get the
    // cluster-proportional default (shuffle parallelism), so the window
    // stage is never capped at a constant task count at scale.
    "q_pack_sequences" -> ((s, d) => {
      graft.functions.TextTokenize.register(s)
      packSequences(
        Tables.documents(s, d).select(col("doc_id"),
          expr("graft_token_count(text)").as("n_tokens")),
        "doc_id", "n_tokens", 2048L, 16)
        .orderBy("bucket", "pack_id")
    }),

    // Per-source corpus report card — the observability surface a curation
    // run publishes per ingest: volume, language spread, exact-dup rate,
    // token mass, and a quality mean, keyed by provenance. Scale shape:
    // THREE distinct-first aggregates joined on the tiny source key — no
    // multi-count-distinct Expand (which would triple the corpus rows
    // through one exchange); each distinct collapses map-side on a
    // high-cardinality compound key before its per-source rollup.
    "q_corpus_report" -> ((s, d) => {
      graft.functions.TextTokenize.register(s)
      val docs = Tables.documents(s, d)
      val base = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("graft_token_count(text)")).as("total_tokens"),
          // nullif: zero-char docs contribute no alpha-ratio sample (avg
          // skips NULL) instead of throwing the ANSI divide-by-zero
          round(avg(expr(
            "CAST(graft_alpha_count(text) AS DOUBLE) / nullif(length(text), 0)")), 4)
            .as("avg_alpha"))
      val langs = docs.select("source", "lang").distinct()
        .groupBy("source").agg(count(lit(1)).as("n_langs"))
      val uniq = docs.select(col("source"), md5(col("text")).as("h"))
        .distinct()
        .groupBy("source").agg(count(lit(1)).as("n_uniq_texts"))
      base.join(langs, "source").join(uniq, "source")
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("n_uniq_texts"),
          round(lit(1.0) - col("n_uniq_texts").cast("double") / col("n_docs"), 4)
            .as("dup_rate"),
          col("total_tokens"), col("avg_alpha"))
        .orderBy("source")
    }),

    // Length-bucketed batching — the padding-efficiency primitive:
    // grouping similar-length docs before fixed-shape batching shrinks the
    // padded-cell waste (bucket 0 reports the unbucketed baseline; buckets
    // 1-4 are token-count quartiles). Scale shape mirrors
    // q_qcut_cutpoints: ONE tiny percentile aggregate broadcast back onto
    // the corpus (row-local bucket assignment, no global sort window),
    // then an ordinary partial+final per-bucket aggregate. Total bucketed
    // padding is provably <= the baseline (each bucket's max <= the global
    // max) — the win a training-data pipeline cashes at 100 TB.
    "q_length_buckets" -> ((s, d) => {
      graft.functions.TextTokenize.register(s)
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), expr("graft_token_count(text)").as("n_tokens"))
      val cuts = toks.agg(
        expr("percentile(n_tokens, 0.25)").as("c1"),
        expr("percentile(n_tokens, 0.5)").as("c2"),
        expr("percentile(n_tokens, 0.75)").as("c3"))
      val bucketed = toks.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("n_tokens"),
          when(col("n_tokens") <= col("c1"), 1)
            .when(col("n_tokens") <= col("c2"), 2)
            .when(col("n_tokens") <= col("c3"), 3)
            .otherwise(4).as("bucket"))
      val base = toks.select(col("doc_id"), col("n_tokens"),
        lit(0).as("bucket"))
      bucketed.unionByName(base)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          max("n_tokens").as("max_tokens"),
          sum("n_tokens").as("sum_tokens"))
        .select(col("bucket"), col("n_docs"), col("max_tokens"),
          col("sum_tokens"),
          // nullif: an all-empty-text bucket has max_tokens 0 — padding is
          // undefined (NULL), not an ANSI divide-by-zero
          round(lit(1.0) - col("sum_tokens").cast("double") /
            nullif(col("n_docs") * col("max_tokens"), lit(0)), 4).as("padding_frac"))
        .orderBy("bucket")
    }),

    // Per-document term salience (tf-idf shape, log-free rational idf —
    // see class note): top-3 terms per doc by cnt·N/(words·df), ties to
    // the lexicographically first term. Explode → two partial+final
    // aggregates → joins → one window on doc_id. The document-frequency
    // join keys on `term` over (doc,term)-distinct rows — milder than
    // token-level but still Zipf-headed (stopwords appear in nearly every
    // doc), so it goes through the same broadcast-head/shuffled-tail
    // zipfJoin; the doc_id-keyed join is high-cardinality and safe.
    // BM25 ranked retrieval — the IR scoring function behind every lexical
    // search/RAG retrieval stage, run for a fixed 3-term query. Scale
    // shape: only rows containing a QUERY term survive the first filter
    // (row-local), so the per-(doc, term) frequencies are a
    // map-side-combined aggregate over a corpus slice; document lengths
    // come from one aggregate; N/df/avgdl are dimension-sized broadcasts;
    // the top-10 is a TakeOrdered heap. Inputs to every score are exact
    // integers plus one identically-derived avgdl, so scores are
    // engine-deterministic under the 4 dp cut.
    "q_bm25" -> ((s, d) => {
      val qTerms = Seq("data", "fast", "the")
      val k1 = 1.2; val b = 0.75
      val terms = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(expr("filter(split(text, ' '), x -> length(x) > 0)")).as("term"))
      val dl = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot"))
      val qt = terms.filter(col("term").isin(qTerms: _*))
      val tf = qt.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("avgdl", col("tot").cast("double") / col("n_docs"))
        .withColumn("idf", log((col("n_docs") - col("df") + 0.5)
          / (col("df") + 0.5) + 1.0))
        .withColumn("sc", col("idf") * (col("tf") * lit(k1 + 1))
          / (col("tf") + lit(k1) * (lit(1 - b)
            + lit(b) * col("dl") / col("avgdl"))))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms_hit"), round(sum("sc"), 4).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
    }),

    "q_tfidf" -> ((s, d) => {
      val terms = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(expr("filter(split(text, ' '), x -> length(x) > 0)")).as("term"))
      val termCounts = terms.groupBy("doc_id", "term")
        .agg(count(lit(1)).as("cnt"))
      val docWords = terms.groupBy("doc_id").agg(count(lit(1)).as("n_words"))
      val docFreq = termCounts.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
      zipfJoin(termCounts, docFreq, "term")
        .join(docWords, "doc_id")
        .crossJoin(broadcast(nDocs))
        .withColumn("score",
          // both products in decimal(38,0): cnt·n_docs and n_words·df
          // each multiply two corpus-scale longs (~1e12 docs × per-doc
          // term counts at 100 TB) — a silent 2^63 wrap flips tf-idf
          // ranks; the decimal→double cast before the division is
          // value-identical to the long path below 2^53
          (col("cnt").cast("decimal(38,0)") * col("n_docs")).cast("double")
            / (col("n_words").cast("decimal(38,0)") * col("df"))
              .cast("double"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"),
          round(col("score"), 6).as("tfidf"))
        .orderBy("doc_id", "rank")
    })
  )

  /** Shared DuckDB CTE prefix for the DSIR pair — ends in `scored`
    * (doc_id, n_grams, dsir_logw), the dialect twin of [[dsirScored]]. */
  private val dsirOracleCtes: String =
    "WITH base AS (SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> length(x) > 0) AS w FROM documents), " +
      "gr AS (SELECT doc_id, lang, list_concat(w, CASE WHEN len(w) >= 2 " +
      "THEN [w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1] for i in range(1, len(w))] " +
      "ELSE [] END) AS g FROM base), " +
      "hsh AS (SELECT doc_id, lang, g, list_transform(g, t -> substr(md5(t), 1, 1)) AS hs FROM gr), " +
      "cnt AS (SELECT doc_id, lang, CAST(len(g) AS INTEGER) AS n_grams, " +
      "list_transform(range(0, 16), i -> CAST(len(list_filter(hs, h -> " +
      "h = substr('0123456789abcdef', CAST(i AS INTEGER) + 1, 1))) AS BIGINT)) AS cnt FROM hsh), " +
      "hist AS (SELECT CAST(u.b AS INTEGER) AS b, " +
      "sum(CASE WHEN lang = 'en' THEN cnt[CAST(u.b AS INTEGER)] ELSE 0 END) AS t, " +
      "sum(cnt[CAST(u.b AS INTEGER)]) AS r " +
      "FROM cnt CROSS JOIN (SELECT unnest(range(1, 17)) AS b) u GROUP BY 1), " +
      "llr AS (SELECT list_transform(range(1, 17), i -> " +
      "ln((tl[CAST(i AS INTEGER)] + 1.0) / (tt + 16.0)) - ln((rl[CAST(i AS INTEGER)] + 1.0) / (rt + 16.0))) AS llr " +
      "FROM (SELECT list(t ORDER BY b) AS tl, list(r ORDER BY b) AS rl, " +
      "sum(t) AS tt, sum(r) AS rt FROM hist)), " +
      "scored AS (SELECT c.doc_id, c.n_grams, " +
      "round(list_sum(list_transform(range(1, 17), i -> cnt[CAST(i AS INTEGER)] * llr[CAST(i AS INTEGER)])), 4) + 0.0 AS dsir_logw " +
      "FROM cnt c CROSS JOIN llr)"

  val oracle: Map[String, String] = Map(
    "q_dedup_url" ->
      ("WITH b AS (SELECT doc_id, CAST(doc_id // 8 AS VARCHAR) AS g FROM documents), " +
        "r AS (SELECT doc_id, CASE doc_id % 8 " +
        "WHEN 0 THEN 'http://example' || g || '.com/p/' || g " +
        "WHEN 1 THEN 'HTTP://' || upper('example' || g || '.com') || '/p/' || g " +
        "WHEN 2 THEN 'http://example' || g || '.com:80/p/' || g " +
        "WHEN 3 THEN 'http://example' || g || '.com/p/' || g || '/' " +
        "WHEN 4 THEN 'http://example' || g || '.com/p/' || g || '?utm_source=news' " +
        "WHEN 5 THEN 'http://example' || g || '.com/p/' || g || '#section2' " +
        "WHEN 6 THEN 'http://example' || g || '.com/p/' || g || '?utm_campaign=x&utm_source=y' " +
        "ELSE 'http://www.example' || g || '.com/p/' || g END AS raw FROM b), " +
        "c AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(" +
        "regexp_replace(regexp_replace(regexp_replace(lower(raw), " +
        "'#.*$', ''), 'utm_[a-z]+=[^&#]*&?', '', 'g'), '[?&]+$', ''), " +
        "':80/', '/'), '://www\\.', '://'), '/$', '') AS canonical_url FROM r) " +
        "SELECT canonical_url, count(*) AS n_raw, min(doc_id) AS keep_id " +
        "FROM c GROUP BY canonical_url ORDER BY canonical_url"),
    "q_pii_redact" ->
      ("WITH a AS (SELECT doc_id, text || CASE " +
        "WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' " +
        "WHEN doc_id % 7 = 1 THEN ' see https://site' || CAST(doc_id AS VARCHAR) || '.example.org/docs' " +
        "WHEN doc_id % 7 = 2 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') " +
        "ELSE '' END AS aug FROM documents) " +
        s"SELECT doc_id, CAST(len(regexp_extract_all(aug, '$emailRe')) AS INTEGER) AS n_emails, " +
        s"CAST(len(regexp_extract_all(aug, '$urlRe')) AS INTEGER) AS n_urls, " +
        s"CAST(len(regexp_extract_all(aug, '$phoneRe')) AS INTEGER) AS n_phones, " +
        s"regexp_replace(regexp_replace(regexp_replace(aug, '$emailRe', '<EMAIL>', 'g'), " +
        s"'$urlRe', '<URL>', 'g'), '$phoneRe', '<PHONE>', 'g') AS redacted " +
        "FROM a ORDER BY doc_id"),
    "q_split_stratified" ->
      ("SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train' " +
        "WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val' " +
        "ELSE 'test' END AS split, source, count(*) AS n_docs, " +
        "CAST(sum(len(list_filter(str_split_regex(text, '[^a-zA-Z0-9]+'), x -> length(x) > 0))) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY split, source ORDER BY split, source"),
    "q_contamination" ->
      (s"WITH $duckDocShingles, " +
        "ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20), " +
        "tr AS (SELECT * FROM sh WHERE doc_id >= 20), " +
        "sizes AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id), " +
        "shared AS (SELECT doc_id, count(*) AS n_shared FROM tr JOIN ev USING (shingle) GROUP BY doc_id) " +
        "SELECT s.doc_id, s.n_shingles, coalesce(h.n_shared, 0) AS n_shared, " +
        "round(CAST(coalesce(h.n_shared, 0) AS DOUBLE) / s.n_shingles, 6) AS contamination " +
        "FROM sizes s LEFT JOIN shared h ON s.doc_id = h.doc_id ORDER BY s.doc_id"),
    "q_contamination_bloom" ->
      (s"WITH $duckDocShingles, " +
        "ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20), " +
        "tr AS (SELECT * FROM sh WHERE doc_id >= 20) " +
        "SELECT count(DISTINCT tr.doc_id) AS n_contaminated, " +
        "1 AS bloom_no_fn, 1 AS bloom_fp_bounded " +
        "FROM tr JOIN ev USING (shingle)"),
    "q_perplexity" ->
      ("WITH terms AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS term FROM documents), " +
        "tc AS (SELECT term, count(*) AS cnt FROM terms GROUP BY term), " +
        "tot AS (SELECT count(*) AS t FROM terms) " +
        "SELECT doc_id, count(*) AS n_tokens, " +
        "round(avg(-ln(CAST(tc.cnt AS DOUBLE) / tot.t)), 4) AS avg_nll " +
        "FROM terms JOIN tc ON terms.term = tc.term CROSS JOIN tot " +
        "GROUP BY doc_id ORDER BY doc_id"),
    "q_bigram_lm" ->
      ("WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS l FROM documents), " +
        "big AS (SELECT doc_id, unnest([l[i+1] for i in range(len(l)-1)]) AS w1, " +
        "unnest([l[i+2] for i in range(len(l)-1)]) AS w2 FROM toks WHERE len(l) >= 2), " +
        "tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM big GROUP BY ALL), " +
        "bc AS (SELECT w1, w2, count(*) AS cbg FROM big GROUP BY ALL), " +
        "cc AS (SELECT w1, count(*) AS cw1 FROM big GROUP BY ALL), " +
        "v AS (SELECT count(DISTINCT term) AS v FROM (SELECT unnest(l) AS term FROM toks)) " +
        "SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams, " +
        "round(sum(tf * -ln((cbg + 1.0) / (cw1 + v))) / sum(tf), 4) AS avg_nll " +
        "FROM tf JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v " +
        "GROUP BY doc_id ORDER BY doc_id"),
    "q_dsir" ->
      (dsirOracleCtes + " SELECT doc_id, n_grams, dsir_logw, dsir_logw > 0 AS keep " +
        "FROM scored ORDER BY doc_id"),
    "q_dsir_resample" ->
      (dsirOracleCtes + ", keyed AS (SELECT doc_id, dsir_logw, " +
        "round(dsir_logw - ln(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT + 0.5) / 16777216.0)), 6) + 0.0 AS gumbel_key " +
        "FROM scored) " +
        "SELECT doc_id, dsir_logw, gumbel_key FROM " +
        "(SELECT * FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT 100) " +
        "ORDER BY doc_id"),
    "q_source_balance" ->
      ("WITH bysrc AS (SELECT source, count(*) AS n_before FROM documents GROUP BY source), " +
        "mn AS (SELECT min(n_before) AS m FROM bysrc), " +
        "th AS (SELECT source, n_before, " +
        "CASE WHEN CAST(floor(65536.0 * mn.m / n_before) AS BIGINT) >= 65536 THEN 'g' " +
        "ELSE lpad(lower(to_hex(CAST(floor(65536.0 * mn.m / n_before) AS BIGINT))), 4, '0') END AS thresh " +
        "FROM bysrc CROSS JOIN mn), " +
        "kept AS (SELECT d.source, th.n_before, count(*) AS n_after " +
        "FROM documents d JOIN th ON d.source = th.source " +
        "WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < th.thresh " +
        "GROUP BY d.source, th.n_before) " +
        "SELECT source, n_before, n_after, " +
        "round(CAST(n_after AS DOUBLE) / n_before, 4) AS kept_frac " +
        "FROM kept ORDER BY source"),
    "q_interleave" ->
      ("WITH k AS (SELECT doc_id, source, " +
        "md5('mix|' || CAST(doc_id AS VARCHAR)) AS k FROM documents), " +
        "r AS (SELECT doc_id, source, " +
        "row_number() OVER (PARTITION BY source ORDER BY k) - 1 AS i FROM k), " +
        "sr AS (SELECT source, row_number() OVER (ORDER BY source) AS src_rank " +
        "FROM (SELECT DISTINCT source FROM documents)), " +
        "n AS (SELECT count(*) AS n_src FROM sr) " +
        "SELECT CAST(r.i * n.n_src + sr.src_rank AS BIGINT) AS pos, " +
        "r.doc_id, r.source " +
        "FROM r JOIN sr USING (source) CROSS JOIN n " +
        "ORDER BY pos LIMIT 300"),
    "q_sample_temperature" ->
      ("WITH dm AS (SELECT doc_id, CASE WHEN doc_id % 500 < 250 THEN 'big' " +
        "WHEN doc_id % 500 < 400 THEN 'mid' ELSE 'small' END AS mix_src FROM documents), " +
        "bysrc AS (SELECT mix_src, count(*) AS n_before FROM dm GROUP BY mix_src), " +
        "mn AS (SELECT min(n_before) AS m FROM bysrc), " +
        "th AS (SELECT mix_src, n_before, " +
        "CASE WHEN CAST(floor(65536.0 * sqrt(CAST(mn.m AS DOUBLE) / n_before)) AS BIGINT) >= 65536 THEN 'g' " +
        "ELSE lpad(lower(to_hex(CAST(floor(65536.0 * sqrt(CAST(mn.m AS DOUBLE) / n_before)) AS BIGINT))), 4, '0') END AS thresh " +
        "FROM bysrc CROSS JOIN mn), " +
        "kept AS (SELECT d.mix_src, th.n_before, count(*) AS n_after " +
        "FROM dm d JOIN th ON d.mix_src = th.mix_src " +
        "WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < th.thresh " +
        "GROUP BY d.mix_src, th.n_before) " +
        "SELECT mix_src, n_before, n_after, " +
        "round(CAST(n_after AS DOUBLE) / n_before, 4) AS kept_frac " +
        "FROM kept ORDER BY mix_src"),
    "q_pack_sequences" ->
      ("WITH t AS (SELECT doc_id, doc_id % 16 AS bucket, " +
        "CAST(len(list_filter(str_split_regex(text, '[^a-zA-Z0-9]+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "c AS (SELECT doc_id, bucket, n_tokens, " +
        "coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM t) " +
        "SELECT bucket, CAST(floor(CAST(cum_before AS DOUBLE) / 2048.0) AS BIGINT) AS pack_id, " +
        "count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens " +
        "FROM c GROUP BY bucket, pack_id ORDER BY bucket, pack_id"),
    "q_corpus_report" ->
      ("WITH base AS (SELECT source, count(*) AS n_docs, " +
        "CAST(sum(len(list_filter(str_split_regex(text, '[^a-zA-Z0-9]+'), x -> length(x) > 0))) AS BIGINT) AS total_tokens, " +
        "round(avg(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / nullif(length(text), 0)), 4) AS avg_alpha " +
        "FROM documents GROUP BY source), " +
        "langs AS (SELECT source, count(*) AS n_langs FROM " +
        "(SELECT DISTINCT source, lang FROM documents) GROUP BY source), " +
        "uniq AS (SELECT source, count(*) AS n_uniq_texts FROM " +
        "(SELECT DISTINCT source, md5(text) AS h FROM documents) GROUP BY source) " +
        "SELECT b.source, b.n_docs, l.n_langs, u.n_uniq_texts, " +
        "round(1.0 - CAST(u.n_uniq_texts AS DOUBLE) / b.n_docs, 4) AS dup_rate, " +
        "b.total_tokens, b.avg_alpha " +
        "FROM base b JOIN langs l ON b.source = l.source " +
        "JOIN uniq u ON b.source = u.source ORDER BY b.source"),
    "q_length_buckets" ->
      ("WITH toks AS (SELECT doc_id, " +
        "CAST(len(list_filter(str_split_regex(text, '[^a-zA-Z0-9]+'), x -> length(x) > 0)) AS INTEGER) AS n_tokens " +
        "FROM documents), " +
        "cuts AS (SELECT quantile_cont(n_tokens, 0.25) AS c1, " +
        "quantile_cont(n_tokens, 0.5) AS c2, quantile_cont(n_tokens, 0.75) AS c3 FROM toks), " +
        "b AS (SELECT doc_id, n_tokens, " +
        "CASE WHEN n_tokens <= c1 THEN 1 WHEN n_tokens <= c2 THEN 2 " +
        "WHEN n_tokens <= c3 THEN 3 ELSE 4 END AS bucket FROM toks, cuts " +
        "UNION ALL SELECT doc_id, n_tokens, 0 AS bucket FROM toks) " +
        "SELECT bucket, count(*) AS n_docs, CAST(max(n_tokens) AS INTEGER) AS max_tokens, " +
        "CAST(sum(n_tokens) AS BIGINT) AS sum_tokens, " +
        "round(1.0 - CAST(sum(n_tokens) AS DOUBLE) / nullif(count(*) * max(n_tokens), 0), 4) AS padding_frac " +
        "FROM b GROUP BY bucket ORDER BY bucket"),
    "q_bm25" ->
      ("WITH terms AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS term FROM documents), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id), " +
        "st AS (SELECT count(*) AS n_docs, sum(dl) AS tot FROM dl), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM terms " +
        "WHERE term IN ('data', 'fast', 'the') GROUP BY 1, 2), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
        "sc AS (SELECT tf.doc_id, " +
        "ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) " +
        "* (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / (tot * 1.0 / n_docs))) AS s " +
        "FROM tf JOIN df ON tf.term = df.term JOIN dl ON tf.doc_id = dl.doc_id, st) " +
        "SELECT doc_id, count(*) AS n_terms_hit, round(sum(s), 4) AS score " +
        "FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10"),
    "q_tfidf" ->
      ("WITH terms AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS term FROM documents), " +
        "tc AS (SELECT doc_id, term, count(*) AS cnt FROM terms GROUP BY doc_id, term), " +
        "dw AS (SELECT doc_id, count(*) AS n_words FROM terms GROUP BY doc_id), " +
        "dfreq AS (SELECT term, count(*) AS df FROM tc GROUP BY term), " +
        "nd AS (SELECT count(*) AS n_docs FROM documents), " +
        "scored AS (SELECT tc.doc_id, tc.term, " +
        "(tc.cnt * nd.n_docs) / (dw.n_words * dfreq.df) AS score " +
        "FROM tc JOIN dw ON tc.doc_id = dw.doc_id " +
        "JOIN dfreq ON tc.term = dfreq.term CROSS JOIN nd), " +
        "ranked AS (SELECT doc_id, term, score, " +
        "CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER) AS rank " +
        "FROM scored) " +
        "SELECT doc_id, rank, term, round(score, 6) AS tfidf FROM ranked " +
        "WHERE rank <= 3 ORDER BY doc_id, rank")
  )
}
