package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{SessionMemo, Tables}
import graft.Tables.Q

/** Deduplication operators for LLM training-data pipelines (builder-prompt
  * mandate): exact, MinHash+LSH banding, SimHash, n-gram Jaccard,
  * embedding-cosine near-dup.
  *
  * The shipped corpus has no near-duplicates, so each query unions in
  * deterministically mutated copies (doc_id/vec_id + 100000, every 10th row)
  * — the operator must find exactly those planted pairs. All hashing is md5
  * (identical lowercase hex in Spark, the oracle, and JVM MessageDigest), so
  * signatures agree bit-for-bit across engines.
  *
  * Scale design: MinHash banding is the O(n) path — shingle explode →
  * per-doc signature (one shuffle on doc_id, map-side combined mins) → band
  * self-join keyed on (band, bucket-hash), which only materializes colliding
  * candidates, never the n² pair space. Jaccard verification touches
  * candidates only. SimHash is fully row-local (one pass, zero shuffles
  * before the bucket count). Embedding near-dup is LSH-bucketed (shared
  * hyperplane machinery with Similarity.scala): signature equi-join, exact
  * cosine within buckets only — no driver collect, no all-pairs product.
  */
object Dedup {

  /** Release every session's memoized dedup stages. perfbench's
    * `OpsWorkload.clearResidue` is its only caller, and it goes with the
    * next benchmark change; teardown is [[graft.SessionMemo.clear]]. */
  def clearCaches(): Unit = SessionMemo.sweep("Dedup", None)

  private def sweptFrames = SessionMemo[String, DataFrame](
    "Dedup", SessionMemo.Swept, SessionMemo.unpersist)

  /** documents ∪ mutated copies (first word replaced). */
  private def textCorpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val mutated = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), "^[^ ]+", "zzz").as("text"))
    base.unionByName(mutated)
  }

  private val duckCorpus =
    "corpus AS (SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '^[^ ]+', 'zzz') AS text " +
      "FROM documents WHERE doc_id % 10 = 0)"

  /** distinct (doc_id, 3-word shingle). try_element_at: trailing windows
    * shorter than 3 words degrade gracefully (concat_ws skips nulls), same
    * as the oracle's out-of-range list index → NULL.
    *
    * Persisted + memoized per (session, sfDir): the shingle set feeds the
    * signature chain AND the Jaccard verification twice — recomputing the
    * explode+distinct per consumer would multiply the dominant shuffle.
    * (The at-scale equivalent: materialize the shingle table once per
    * dedup run.) */
  private val shingleCache = sweptFrames

  /** Raw exploded shingle stream over any (doc_id, text) corpus — NOT
    * distinct, NOT persisted. Feeds the signature aggregation, where `min`
    * is idempotent over duplicates, so the distinct's full-width shuffle is
    * pure waste there. */
  private[ops] def shinglesOf(corpus: DataFrame): DataFrame =
    // fan the explode across cores when the source plans fewer tasks than
    // slots: the shingle blow-up (~3× corpus bytes) and its md5s otherwise
    // run on the scan's task count — one, for single-row-group testdata
    FanOut(corpus, col("doc_id"))
      // split once per row — inside the lambda it would re-split per
      // shingle element
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        expr("explode(transform(sequence(1, greatest(size(w) - 2, 1)), " +
          "i -> concat_ws(' ', try_element_at(w, i), " +
          "try_element_at(w, i + 1), try_element_at(w, i + 2))))").as("shingle"))

  private def shingleStream(s: SparkSession, d: String): DataFrame =
    shinglesOf(textCorpus(s, d))

  private def shingles(s: SparkSession, d: String): DataFrame =
    shingleCache.getOrElseUpdate(s, d,
      shingleStream(s, d)
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private val duckShingles =
    "sh AS (SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i + 1], w[i + 2]) AS shingle FROM " +
      "(SELECT doc_id, string_split(text, ' ') AS w, " +
      "unnest(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1))) AS i FROM corpus))"

  // 8-permutation MinHash signature per doc. The 8 hash functions are the
  // 4-hex-digit slices of ONE md5 per shingle — for distinct shingles each
  // slice is an independent uniform 16-bit hash, which is all banding
  // needs, at 1/8th the hashing cost of 8 salted md5s. The Spark side runs
  // the row-local kernel [[signaturesOf]]; this relational form stays as
  // the oracle (and FunctionsSpec pins the kernel to it).
  private val duckSig =
    "sig AS (SELECT doc_id, " +
      (0 to 7).map(k => s"min(substr(md5(shingle), ${4 * k + 1}, 4)) AS s$k").mkString(", ") +
      " FROM sh GROUP BY doc_id)"

  /** The 8-slot MinHash signature computed row-locally in one codegen'd
    * pass (TextStatKernels.minhash8 — string-exact equal to the relational
    * explode → min(md5-slice) form `duckSig`, which stays as the oracle).
    * Use this
    * whenever the caller has the (doc_id, text) corpus in hand: it removes
    * the shingle explode AND the signature aggregate's shuffle, so the
    * banding chain starts from a plain scan. The null-text filter mirrors
    * the relational form, where `explode(null)` drops the row. */
  private[ops] def signaturesOf(corpus: DataFrame): DataFrame = {
    graft.functions.TextStats.register(corpus.sparkSession)
    // the md5 pass is the stage's whole cost — fan it across cores when
    // the source plans fewer tasks than slots (no-op at scale)
    FanOut(corpus.filter(col("text").isNotNull), col("doc_id"))
      .select(col("doc_id"),
        expr("graft_minhash8(split(text, ' '))").as("sig"))
      .select(col("doc_id"), col("sig.*"))
  }

  /** 4 bands × 2 rows: band bucket key = md5 of the two row signatures.
    * One explode pass, not a 4-way self-union — a union of selects would
    * re-evaluate the whole shingle→signature subtree once per band. */
  private def bands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array((0 to 3).map(b =>
        struct(lit(b).as("band"),
          md5(concat(col(s"s${2 * b}"), col(s"s${2 * b + 1}"))).as("bkey"))): _*))
        .as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))

  private val duckBands =
    "bands AS (" + (0 to 3).map(b =>
      s"SELECT doc_id, $b AS band, md5(s${2 * b} || s${2 * b + 1}) AS bkey FROM sig")
      .mkString(" UNION ALL ") + ")"

  /** Full signature→band chain over any (doc_id, text) corpus — one
    * row-local kernel scan, no shingle explode, no aggregate. */
  private def bandsOf(corpus: DataFrame): DataFrame =
    bands(signaturesOf(corpus))

  /** Hot-bucket cap for LSH pair expansion. "Buckets stay tiny" holds for
    * organic text but NOT for mass-duplicated boilerplate — the #1
    * real-world dedup input — where one (band, bkey) can collect millions
    * of docs and its pair expansion is O(k²) in a single task. Buckets
    * larger than this are dropped: exact dedup upstream already collapses
    * identical docs, so a bucket this big is a boilerplate cluster every
    * member of which collides with the others in EVERY band — dropping the
    * pathological expansion loses no usable near-dup signal. Observable via
    * [[oversizedBuckets]]. */
  private[graft] val defaultMaxBucket = 512

  /** Diagnostic twin of [[candidatePairs]]: the (band, bkey, size) of
    * buckets the cap would drop. At scale, count/log this per dedup run
    * (it is a bucket-level aggregate — tiny) so silent truncation is
    * visible in pipeline telemetry. */
  private[graft] def oversizedBuckets(bands: DataFrame,
      maxBucket: Int = defaultMaxBucket): DataFrame =
    bands.groupBy("band", "bkey").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucket)

  /** Pairs of doc_ids sharing a band bucket. A groupBy + in-bucket pair
    * expansion instead of a self-join: one pass over the signature subtree
    * (a self-join would evaluate the whole shingle→signature chain twice).
    * The bucket-size gate runs BEFORE collect_list — a count aggregate plus
    * a join-back on (band, bkey), both landing on the same exchange as the
    * collect (one shuffle total via exchange reuse) — so a degenerate hot
    * bucket never materializes a multi-million-entry aggregation buffer,
    * let alone its O(k²) pair expansion.
    *
    * `obs`: when supplied, a `CollectMetrics` node over the bucket-size
    * aggregate reports `oversized_buckets` / `oversized_docs` as the plan
    * executes — dropped-bucket telemetry for free, no second scan (same
    * machinery as q_observe). */
  private[graft] def candidatePairs(bands: DataFrame,
      maxBucket: Int = defaultMaxBucket,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val sizes0 = bands.groupBy("band", "bkey").agg(count(lit(1)).as("bsz"))
    val sizes = obs.map(o => sizes0.observe(o,
        sum(when(col("bsz") > maxBucket, 1L).otherwise(0L))
          .as("oversized_buckets"),
        sum(when(col("bsz") > maxBucket, col("bsz")).otherwise(0L))
          .as("oversized_docs")))
      .getOrElse(sizes0)
    val keep = sizes
      .filter(col("bsz").between(2, maxBucket))
      .select("band", "bkey")
    bands.join(keep, Seq("band", "bkey"))
      .groupBy("band", "bkey")
      .agg(collect_list(col("doc_id")).as("ids"))
      .select(explode(expr(
        "filter(flatten(transform(ids, x -> transform(ids, y -> struct(x AS a, y AS b)))), p -> p.a < p.b)"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b")).distinct()
  }

  /** Exact Jaccard over banding candidates only, with a caller-supplied
    * signature frame (from [[signaturesOf]]): intersection counts come
    * from the candidate←shingle equi-joins (never an all-pairs product),
    * sizes from a per-doc aggregate. Returns (a, b, jaccard) UNROUNDED and
    * UNFILTERED — callers apply their own threshold/rounding semantics.
    * `sh` must be a distinct (doc_id, shingle) set; pass it persisted when
    * the caller consumes it more than once. Pass the
    * SAME (possibly persisted) signatures when the caller also consumes
    * them elsewhere, so the shingle→signature aggregate is evaluated once
    * per run instead of once per consumer. */
  private def jaccardPairsFrom(sh: DataFrame, sig: DataFrame,
      maxBucket: Int = defaultMaxBucket,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val pairs = candidatePairs(bands(sig), maxBucket, obs)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.as("sa"), col("a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy("a", "b").agg(count(lit(1)).as("ni"))
    inter
      .join(sizes.as("za"), col("a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("b") === col("zb.doc_id"))
      .select(col("a"), col("b"),
        (col("ni").cast("double") / (col("za.n") + col("zb.n") - col("ni")))
          .as("jaccard"))
  }

  /** PUBLIC API — fuzzy (near-duplicate) dedup, the full pipeline a
    * training-data run wants as one call: 3-word-shingle MinHash+LSH
    * banding candidates → exact Jaccard ≥ `threshold` verification on
    * candidates only → transitive clustering (A~B~C collapses even when A
    * and C never collide) → keep the minimum-id member of every cluster.
    * Returns `df` minus the dropped near-duplicates, schema unchanged.
    * Scale shape: every stage is an equi-join or partial+final aggregate;
    * the id column must be numeric and unique (run [[exactDedup]] first —
    * it also removes the identical-doc mass that would otherwise flood
    * LSH buckets; `maxBucket` then caps whatever boilerplate remains).
    *
    * `obs`: pass an `Observation` to receive `oversized_buckets` /
    * `oversized_docs` (the (band, bkey) buckets the `maxBucket` cap
    * dropped, and the rows they held) once the run executes — docs whose
    * ONLY collisions live in dropped buckets get no verified pairs and are
    * all kept, so a nonzero metric means this call did NOT collapse some
    * mass-boilerplate family. Run those through [[exactDedup]] first, or
    * raise `maxBucket`.
    *
    * Memory: the returned frame is backed by one localCheckpoint'd drop
    * list (the component labels themselves are freed before returning);
    * long-lived sessions should materialize the result and then release it
    * with `GraftDataset.freeLocalCheckpoint` (reliable-checkpoint mode
    * instead leaves per-round snapshot files in `checkpointDir`, which the
    * caller owns and deletes). */
  def nearDedup(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxBucket: Int = defaultMaxBucket,
      checkpointDir: Option[String] = None,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val corpus = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val sh = shinglesOf(corpus).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // signatures from the row-local kernel (scan); `sh` is built only for
    // the exact-Jaccard verification joins
    val verified = jaccardPairsFrom(sh, signaturesOf(corpus), maxBucket, obs)
      .filter(col("jaccard") >= threshold).select("a", "b")
    // the component loop materializes eagerly, so `sh` can be released
    // as soon as the drop list derives from the checkpoint-backed labels
    val comps = connectedComponents(verified, checkpointDir)
    val dropIds = comps.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol)).localCheckpoint(true)
    // the labels frame is strictly larger than the drop list and dead once
    // the drop list is snapshotted — free it here instead of leaking one
    // generation per call in a long-running pipeline
    org.apache.spark.sql.graftshim.GraftDataset.freeLocalCheckpoint(comps)
    sh.unpersist(blocking = false)
    df.join(dropIds, Seq(idCol), "left_anti")
  }

  /** PUBLIC API — [[nearDedup]] with a quality-aware keep policy: within
    * each near-dup cluster the surviving row is the one with the HIGHEST
    * `qualityCol` value (ties to the lowest id), not the lowest id — the
    * canonical-selection step a production pipeline runs so dedup keeps
    * the best copy of every duplicated document. One min(struct)
    * aggregate per cluster label; same banding/verify/CC chain, same
    * scale shape, same `obs` telemetry as [[nearDedup]]. */
  def nearDedupKeepBest(df: DataFrame, idCol: String, textCol: String,
      qualityCol: String, threshold: Double = 0.5,
      maxBucket: Int = defaultMaxBucket,
      checkpointDir: Option[String] = None,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val corpus = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val sh = shinglesOf(corpus).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verified = jaccardPairsFrom(sh, signaturesOf(corpus), maxBucket, obs)
      .filter(col("jaccard") >= threshold).select("a", "b")
    val comps = connectedComponents(verified, checkpointDir)
    // keep = per-cluster argmax(quality, ties lowest id); docs outside any
    // cluster keep themselves (left join, coalesce to own id)
    val labeled = df
      .join(comps.select(col("id").as(idCol), col("cluster_id")),
        Seq(idCol), "left")
      .withColumn("graft_label", coalesce(col("cluster_id"), col(idCol)))
    val keepIds = labeled.groupBy("graft_label")
      .agg(min(struct((-col(qualityCol)).as("nq"), col(idCol).as("id"))).as("m"))
      .select(col("m.id").as(idCol)).localCheckpoint(true)
    org.apache.spark.sql.graftshim.GraftDataset.freeLocalCheckpoint(comps)
    sh.unpersist(blocking = false)
    df.join(keepIds, Seq(idCol), "left_semi")
  }

  /** PUBLIC API — leakage-safe train/val/test split: appends a `split`
    * column whose hash key is the near-dup CLUSTER label rather than the
    * row id, so every near-duplicate family lands in ONE split — id-keyed
    * hash splits route most near-dup pairs across the train/held-out
    * boundary (independent hashes), leaking training text into eval sets.
    * Pipeline: shingle → MinHash banding candidates → Jaccard ≥ `threshold`
    * verification → connected components → split on
    * md5(coalesce(cluster_id, id)) (12/2/2 sixteenths, same thresholds as
    * [[graft.ops.Curation.stratifiedSplit]]). Schema = `df` + `split`.
    * Same scale shape as [[nearDedup]]; `checkpointDir` as in
    * [[connectedComponents]].
    *
    * Oversized buckets do NOT weaken the co-travel guarantee here: a
    * (band, bkey) bucket past `maxBucket` skips the O(k²) pair expansion
    * (and Jaccard verification), but its members are still chained into
    * one component through O(k) star edges to the bucket's minimum id —
    * exactly the mass-boilerplate families the cap targets are the worst
    * leakage offenders, so they are over-grouped (conservative: the whole
    * bucket co-travels unverified) rather than silently scattered across
    * splits by independent id hashes. `obs` reports the affected bucket /
    * doc counts as in [[nearDedup]].
    *
    * Memory: the returned frame is backed by the loop's final
    * localCheckpoint'd label frame; materialize the result and release it
    * with `GraftDataset.freeLocalCheckpoint` in long-lived sessions
    * (reliable mode: per-round snapshot files accumulate in
    * `checkpointDir`, which the caller owns and deletes). */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxBucket: Int = defaultMaxBucket,
      checkpointDir: Option[String] = None,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val corpus = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val sh = shinglesOf(corpus).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the signature frame feeds BOTH the verified-pair chain and the
    // oversized-bucket star edges; with the row-local kernel it is a plain
    // scan, persisted so the md5 pass runs once across both consumers
    val sig = signaturesOf(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bb = bands(sig)
    val verified = jaccardPairsFrom(sh, sig, maxBucket, obs)
      .filter(col("jaccard") >= threshold).select("a", "b")
    // star edges for capped buckets: every member connects to the bucket's
    // min id — O(k) edges per bucket, never the O(k²) expansion the cap
    // exists to avoid, and transitive merging across bands/buckets is the
    // component loop's job
    val ovKeys = oversizedBuckets(bb, maxBucket).select("band", "bkey")
    val ovMembers = bb.join(ovKeys, Seq("band", "bkey"))
    val star = ovMembers
      .join(ovMembers.groupBy("band", "bkey").agg(min("doc_id").as("a")),
        Seq("band", "bkey"))
      .filter(col("doc_id") =!= col("a"))
      .select(col("a"), col("doc_id").as("b")).distinct()
    val comps = connectedComponents(verified.unionByName(star), checkpointDir)
    sig.unpersist(blocking = false)
    sh.unpersist(blocking = false)
    val label = coalesce(col("cluster_id"), col(idCol)).cast("string")
    val h = substring(md5(label), 1, 1)
    df.join(comps.select(col("id").as(idCol), col("cluster_id")),
        Seq(idCol), "left")
      .withColumn("split",
        when(h < "c", "train").when(h < "e", "val").otherwise("test"))
      .drop("cluster_id")
  }

  /** Full banding pipeline, memoized: the candidate set is consumed by both
    * the minhash query and the Jaccard verifier. */
  private val pairsCache = sweptFrames

  /** ONE persisted copy of the corpus MinHash signature table per
    * (session, dir) — the same lifecycle as [[shingleCache]] (swept
    * between bench timings). Why (r12):
    * [[candidatePairs]] consumes its band table TWICE (bucket-size gate +
    * the collect join-back); the exchanges are reused, but the per-shingle
    * md5 KERNEL above them re-ran once per consumer — two ~18 s task-time
    * passes at sf0.1 in every banding query. With the signatures persisted
    * the kernel runs once per run and each consumer re-derives only the
    * cheap 4-md5-per-doc band explode. q_minhash_sim/q_minhash_calibration
    * previously carried private copies of exactly this persist; they ride
    * the memo now (one build per run instead of one per query in a Verify
    * session). */
  private val minhashSigCache = sweptFrames

  private def cachedSignatures(s: SparkSession, d: String): DataFrame =
    minhashSigCache.getOrElseUpdate(s, d,
      signaturesOf(textCorpus(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    pairsCache.getOrElseUpdate(s, d,
      // signatures come from the row-local minhash8 kernel: the whole
      // candidate chain up to the band groupBy is a single scan — no
      // shingle explode, no signature aggregate shuffle
      candidatePairs(bands(cachedSignatures(s, d)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Mirrors [[candidatePairs]] INCLUDING the `defaultMaxBucket` cap: both
    * engines compute the same capped semantics, so parity does not depend
    * on the shipped corpus happening to have no oversized bucket (a latent
    * data-dependent divergence otherwise — r4 ADVICE). */
  private val duckPairs =
    s"bkeep AS (SELECT band, bkey FROM bands GROUP BY band, bkey " +
      s"HAVING count(*) BETWEEN 2 AND $defaultMaxBucket), " +
      "pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x " +
      "JOIN bkeep k ON x.band = k.band AND x.bkey = k.bkey " +
      "JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)"

  private val duckChain =
    s"WITH $duckCorpus, $duckShingles, $duckSig, $duckBands, $duckPairs"

  /** 16 simhash bit sums, one per bit, weighted by word multiplicity.
    * All 16 bits read nibbles of ONE md5 per word (`hs` is the precomputed
    * per-word hash column): for distinct words each hex digit is an
    * independent uniform sign, which is all simhash needs — same trick as
    * the MinHash permutations, at 1/16th the hashing cost of 16 salted
    * md5s per word (hashing dominated the simhash signature pass). */
  private def simhashBitSum(j: Int, dialect: String): String = dialect match {
    case "spark" =>
      // retained as the executable spec of TextStatKernels.simhash16 (the
      // Spark side now runs that one-pass codegen'd kernel instead of 16
      // interpreted folds; the kernel's ±count-per-distinct-word sum is
      // integer-exact equal to this per-occurrence fold)
      s"aggregate(hs, 0, " +
        s"(acc, h) -> acc + IF(substr(h, ${j + 1}, 1) <= '7', 1, -1))"
    case _ =>
      s"list_sum(list_transform(hs, " +
        s"h -> CASE WHEN substr(h, ${j + 1}, 1) <= '7' THEN 1 ELSE -1 END))"
  }

  /** Per-doc 16-bit simhash signatures, persisted + memoized per
    * (session, sfDir): consumed twice by the bucket-count join-back. */
  private val simhashCache = sweptFrames

  private def simhashSigs(s: SparkSession, d: String): DataFrame =
    simhashCache.getOrElseUpdate(s, d, {
      graft.functions.TextStats.register(s)
      // one codegen'd row-local pass: md5 ONCE per distinct word, ±count
      // per digest nibble (TextStatKernels.simhash16 — integer-exact equal
      // to the oracle's per-occurrence 16-fold relational form, which is
      // also what simhashBitSum documents). The coalesce preserves the
      // relational form's null-text behavior: every bit sum NULL → every
      // bit '0'.
      FanOut(textCorpus(s, d), col("doc_id"))
        .select(col("doc_id"),
          coalesce(
            expr("graft_simhash16(filter(split(text, ' '), x -> length(x) > 0))"),
            lit("0000000000000000")).as("simhash"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Corpus-derived simhash width — the text path's analog of
    * Similarity.autoBits, with a PAIR-collision target instead of a bucket
    * -occupancy one, because simhash's same/adjacent-signature test IS the
    * verdict (no Jaccard/cosine verification stage absorbs false
    * candidates). Expected random exact-signature collisions are
    * ~n²/2^(bits+1), so bits = 2·⌈log2(n)⌉ keeps the signature space at
    * least n² — integer-exact via bit length (no log/ceil float edge to
    * diverge from the oracle's SQL re-derivation). Floor 16 (the
    * historical width, right up to ~2^8 docs), cap 64 (two md5s' nibble
    * budget — and the published web-scale width, Manku et al. WWW'07).
    * NOTE the rule bounds the BIRTHDAY component only: a template-heavy
    * corpus collides on genuine distributional similarity at any width
    * (measured at sf0.01: 8218bp at 16 bits → 3200bp at 32), which is why
    * the production pair path ([[simhashNearDupPairs]]) also widens the
    * Hamming radius via banding instead of leaning on width alone. */
  private[graft] def autoBitsSimhash(n: Long): Int = {
    val m = math.max(n, 2L) - 1
    val bitLen = 64 - java.lang.Long.numberOfLeadingZeros(m)
    math.min(64, math.max(16, 2 * bitLen))
  }

  /** Per-doc 64-bit simhash signatures (the Manku WWW'07 operating
    * point), persisted + memoized per (session, sfDir) like the 16-bit
    * table. Same kernel family: nibbles 0-31 from md5(word), 32-63 from
    * md5('x1:' || word), ±multiplicity per distinct word. */
  private val simhash64Cache = sweptFrames

  private def simhash64Sigs(s: SparkSession, d: String): DataFrame =
    simhash64Cache.getOrElseUpdate(s, d, {
      graft.functions.TextStats.register(s)
      FanOut(textCorpus(s, d), col("doc_id"))
        .select(col("doc_id"),
          coalesce(
            expr("graft_simhash(filter(split(text, ' '), x -> length(x) > 0), 64)"),
            lit("0" * 64)).as("simhash"))
        // the signature packed into two longs ONCE per doc: candidate
        // verification then runs as bit_count(xor) — one codegen'd
        // instruction pair per half — instead of a 64-step substring
        // fold per candidate pair (the template corpus yields ~520k
        // candidates at sf0.1; the fold was the dominant cost, measured
        // 10 s → see q_dedup_simhash64_pairs)
        .withColumn("h1",
          expr("CAST(conv(substring(simhash, 1, 32), 2, 10) AS BIGINT)"))
        .withColumn("h2",
          expr("CAST(conv(substring(simhash, 33, 32), 2, 10) AS BIGINT)"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** PUBLIC API — simhash near-duplicate pairs at Hamming distance ≤
    * `maxHamming` over `bits`-wide signatures, the published simhash
    * dedup design (Manku, Jain, Das Sarma, WWW'07: 64-bit, H ≤ 3 — the
    * defaults). Candidates come from the PIGEONHOLE banding: the
    * signature splits into maxHamming+1 equal bands, and any pair within
    * the radius agrees exactly on at least one band, so candidates are a
    * band-value equi-join (shared with the MinHash machinery, including
    * its hot-bucket cap) — never a pair scan. Exact Hamming distance is
    * verified on candidates only. Returns (a, b, hamming) with a < b.
    *
    * Width/radius are the precision/recall knobs: at sf0.01 the 16-bit
    * H≤1 legacy path drops 8218bp of the corpus (birthday + template
    * over-merge) while 64-bit H≤3 drops 1163bp with BETTER mutated-copy
    * recall (41/50 vs 47/50 at 452 total drops) — below even MinHash@0.5's
    * 1345bp.
    *
    * PRECONDITION (same contract as every Dedup entry point): `idCol`
    * values are unique. The cross-band dedup rides a `.distinct()` on the
    * premise that `hamming` is functional in (a, b); duplicate ids with
    * DIFFERENT texts would yield conflicting (a, b, hamming) rows that
    * survive distinct and inflate the pair set. Run [[exactDedup]] (or a
    * keep-first on the id) upstream if ids can repeat. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 64, maxHamming: Int = 3,
      maxBucket: Int = defaultMaxBucket): DataFrame = {
    val nBands = maxHamming + 1
    require(bits % nBands == 0,
      s"bits ($bits) must divide into maxHamming+1 ($nBands) equal bands")
    val bw = bits / nBands
    val s = df.sparkSession
    graft.functions.TextStats.register(s)
    // ONE kernel pass: the md5-per-distinct-word signature is the
    // dominant cost, so the packed chunks travel THROUGH the banding and
    // the capped pair expansion instead of re-joining a recomputed
    // signature frame per pair side (the shared candidatePairs carries
    // ids only, which would execute the kernel 3× here — r9 review).
    // Hamming is popcount-of-xor per 32-bit chunk — scalar codegen per
    // candidate, not a bits-step substring fold (measured 10 s → ~2 s at
    // sf0.1 on the 64-bit qid's ~520k template-corpus candidates).
    val nChunks = (bits + 31) / 32
    val sigs = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        coalesce(expr(
          s"graft_simhash(filter(split(`${textCol.replace("`", "``")}`, ' '), " +
            s"x -> length(x) > 0), $bits)"),
          lit("0" * bits)).as("simhash"))
      .filter(col("doc_id").isNotNull)
      .withColumn("pk", array((0 until nChunks).map(c =>
        expr(s"CAST(conv(substring(simhash, ${c * 32 + 1}, 32), 2, 10) AS BIGINT)")): _*))
    val banded = sigs.select(col("doc_id"), col("pk"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          substring(col("simhash"), b * bw + 1, bw).as("bkey"))): _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bkey").as("bkey"),
        col("doc_id"), col("pk"))
    // same hot-bucket cap semantics as candidatePairs (BETWEEN 2 AND cap)
    val keep = banded.groupBy("band", "bkey")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, maxBucket))
      .select("band", "bkey")
    banded.join(keep, Seq("band", "bkey"))
      .groupBy("band", "bkey")
      .agg(collect_list(struct(col("doc_id"), col("pk"))).as("ms"))
      .select(explode(expr(
        "filter(flatten(transform(ms, x -> transform(ms, y -> " +
          "struct(x.doc_id AS a, y.doc_id AS b, x.pk AS pa, y.pk AS pb)))), " +
          "p -> p.a < p.b)")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"),
        expr("aggregate(zip_with(p.pa, p.pb, (u, v) -> bit_count(u ^ v)), " +
          "0, (acc, h) -> acc + h)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // hamming is functional in (a, b), so the cross-band dedup can ride
      // the same distinct
      .distinct()
  }

  /** Banded Hamming≤3 verified pairs over the memoized 64-bit signature
    * table — the query-layer face of [[simhashNearDupPairs]] (same
    * pigeonhole banding, same hot-bucket cap), sharing the
    * per-(session, sfDir) signature persist with the report. */
  private def simhash64PairsOf(s: SparkSession, d: String): DataFrame = {
    val sigs = simhash64Sigs(s, d)
    val banded = sigs.select(col("doc_id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          substring(col("simhash"), b * 16 + 1, 16).as("bkey"))): _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bkey").as("bkey"),
        col("doc_id"))
    candidatePairs(banded)
      .join(sigs.select(col("doc_id").as("a"),
        col("h1").as("a1"), col("h2").as("a2")), Seq("a"))
      .join(sigs.select(col("doc_id").as("b"),
        col("h1").as("b1"), col("h2").as("b2")), Seq("b"))
      // popcount-of-xor per packed half: integer-exact equal to the
      // character fold, at scalar cost per candidate
      .withColumn("hamming",
        (expr("bit_count(a1 ^ b1)") + expr("bit_count(a2 ^ b2)")).cast("int"))
      .filter(col("hamming") <= 3)
  }

  /** PUBLIC API — exact content dedup, keep-first: one row per distinct
    * value of `textCol`, the survivor being the row that sorts lowest by
    * the frame's column order (put the keep-priority column first). A
    * map-side-combined struct-min aggregate: no sort, no window, one
    * narrow shuffle on the content hash. */
  def exactDedup(df: DataFrame, textCol: String): DataFrame = {
    val cols = df.columns
    df.groupBy(md5(col(textCol)).as("_h"))
      .agg(min(struct(cols.map(col): _*)).as("_m"))
      .select(cols.map(c => col(s"_m.$c").as(c)): _*)
  }

  /** PUBLIC API — connected components over an undirected edge list.
    * Input: columns `a`, `b` (one row per pair). Output: `(id, cluster_id)`
    * for every node that appears in any pair, labeled by its component's
    * minimum id. Iterative min-label propagation with pointer jumping
    * (O(log diameter) rounds); each round is one equi-join + min-aggregate
    * with localCheckpoint'd lineage, the driver does control flow only
    * (one convergence count per round), and the previous round's blocks
    * are freed as soon as the next is materialized. The returned frame is
    * checkpoint-backed — callers that reduce it to something small should
    * release it with `GraftDataset.freeLocalCheckpoint` when done.
    *
    * `checkpointDir`: None (default) uses executor-local checkpoints —
    * fastest, but a lost executor loses its blocks and fails the job. On a
    * production cluster pass Some(dir) with a shared filesystem (HDFS/
    * object store) path: each round then snapshots to RELIABLE storage via
    * `checkpoint()`, so the iteration survives executor loss. The caller
    * owns the directory's lifecycle (delete it after the result is
    * consumed); Spark can also reap it via
    * `spark.cleaner.referenceTracking.cleanCheckpoints`. */
  def connectedComponents(pairs: DataFrame,
      checkpointDir: Option[String] = None): DataFrame =
    connectedComponents(pairs, checkpointDir, None)

  /** [[connectedComponents]] with a per-round plan probe: when present,
    * `roundPlanProbe` receives each round's FINAL (post-AQE)
    * executed-plan string right after the round materializes. Test seam
    * (PlanSpec pins the no-edge-reshuffle-per-round property through
    * it); an Option so the production path (None, via the public
    * two-arg overload) never pays the per-round plan-toString render. */
  private[graft] def connectedComponents(pairs: DataFrame,
      checkpointDir: Option[String],
      roundPlanProbe: Option[String => Unit]): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    def cp(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(true)
    // local-checkpoint blocks pile up in block-manager storage unless
    // freed per generation; reliable checkpoints live in files the caller
    // owns, and their RDDs hold no block-manager storage to release
    def free(df: DataFrame): Unit =
      if (checkpointDir.isEmpty)
        org.apache.spark.sql.graftshim.GraftDataset.freeLocalCheckpoint(df)
    // snapshot the pair list BEFORE the symmetric self-union: the pair
    // subtree (often the whole banding+verification chain, possibly
    // carrying a CollectMetrics observation) then executes exactly once —
    // not once per union branch — and observed metrics can't double-count
    val p = cp(pairs.select(col("a"), col("b")))
    // repartition BY dst before the checkpoint — the q_pagerank move
    // (Graph.scala): every min-label round joins `edges` on dst, and a
    // checkpoint of the raw union carries unknown partitioning, so each
    // round re-shuffled the FULL edge table (the largest frame in the
    // loop — one exchange per round, and one more AQE replan per round
    // feeding the clean-run timing variance the r10 verdict flagged).
    // Dataset.checkpoint preserves the physical partitioning on its
    // LogicalRDD, so after this one-time shuffle every round's join
    // moves only the (node, label) table; PlanSpec pins it per round
    // through roundPlanProbe.
    val edges = cp(p.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(p.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("dst")))
    free(p)
    // seed with min(id, min neighbor) — the first propagation round fused
    // into initialization as one aggregate (edges are symmetric, so every
    // node appears as src): same fixpoint, one fewer join+count round
    var labels = cp(edges.groupBy("src").agg(min("dst").as("nmin"))
      .select(col("src").as("id"),
        least(col("src"), col("nmin")).as("label")))
    var changed = 1L
    while (changed > 0) {
      // min over neighbors' labels (one equi-join + partial-min agg) ...
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src").as("id")).agg(min("nl").as("nmin"))
      // ... plus pointer jumping — label(label(x)) — so convergence takes
      // O(log diameter) rounds instead of O(diameter) on similarity chains
      val jump = labels
        .join(labels.select(col("id").as("label"), col("label").as("jl")),
          Seq("label"), "left")
      // the convergence count rides the checkpoint materialization as a
      // CollectMetrics observation (r12): the previous shape carried the
      // old label through the checkpoint and ran a second
      // filter(label≠old).count() job over it per round — one extra
      // pass + one extra job + barrier every round, and one extra column
      // in every round's checkpoint blocks. The observed sum is computed
      // on exactly the rows the checkpoint writes, so the loop spends ONE
      // job per round (guide §1/§2: don't compute things twice; the
      // at-scale effect is one fewer full scan of the label table per
      // round).
      val obs = org.apache.spark.sql.Observation()
      val roundDf = jump
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label")),
            coalesce(col("jl"), col("label"))).as("label"),
          col("label").as("old"))
        .observe(obs,
          sum((col("label") =!= col("old")).cast("long")).as("changed"))
        .select(col("id"), col("label"))
      val next = cp(roundDf)
      // probe the PRE-checkpoint frame: the eager cp above executed its
      // plan, so this reads the round's FINAL AQE plan (cp's return value
      // is just the checkpoint-RDD scan and would show nothing)
      roundPlanProbe.foreach(_(roundDf.queryExecution.executedPlan.toString))
      // sum over an empty label table is NULL — treat as converged
      changed = obs.get.get("changed") match {
        case Some(v: Long) => v
        case _ => 0L
      }
      // the previous round's checkpoint blocks are dead once `next` is
      // materialized and compared — free them now instead of letting one
      // generation per round pile up in block-manager storage
      // (Dataset.unpersist can't: these are RDD blocks behind a
      // LogicalRDD, not CacheManager entries)
      free(labels)
      labels = next
    }
    free(edges)
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup: hash-groupBy on content digest, keep lowest id.
    "q_dedup_exact" -> ((s, d) =>
      textCorpus(s, d)
        .groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")),

    // MinHash + LSH banding: candidate near-dup pairs.
    "q_dedup_minhash" -> ((s, d) =>
      minhashPairs(s, d).orderBy("a", "b")),

    // n-gram Jaccard: exact similarity, verified on banding candidates only.
    // Candidates are rebuilt from the SAME persisted distinct shingle set
    // the verifier joins against (min over distinct = min over raw), so
    // one explode+distinct serves the entire query instead of a second
    // raw explode just for signatures.
    "q_dedup_ngram" -> ((s, d) =>
      jaccardPairsFrom(shingles(s, d), cachedSignatures(s, d))
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("a", "b")),

    // Edit-distance verification of LSH candidates — the short-text fuzzy-
    // dedup metric: shingle Jaccard is blind to token ORDER (two docs with
    // the same words shuffled score 1.0), levenshtein is not. Scale shape:
    // candidates come from the SAME bucket-capped banding pipeline as the
    // Jaccard family (never n² pairs), texts attach via two high-
    // cardinality equi-joins, and each pair costs one row-local O(n·m) DP.
    // rel_dist normalizes by the longer side — a single IEEE division on
    // identical integer operands, bit-equal across engines.
    "q_dedup_editdist" -> ((s, d) => {
      val corpus = textCorpus(s, d)
      minhashPairs(s, d)
        .join(corpus.select(col("doc_id").as("a"), col("text").as("ta")), "a")
        .join(corpus.select(col("doc_id").as("b"), col("text").as("tb")), "b")
        .select(col("a"), col("b"),
          levenshtein(col("ta"), col("tb")).as("edit_dist"),
          // the lit(1) floor: two empty texts are distance 0 of length 0 —
          // rel_dist 0.0 (identical), not an ANSI divide-by-zero
          round(levenshtein(col("ta"), col("tb")).cast("double") /
            greatest(length(col("ta")), length(col("tb")), lit(1)), 4).as("rel_dist"))
        .withColumn("near_dup", col("rel_dist") <= 0.2)
        .orderBy("a", "b")
    }),

    // MinHash similarity ESTIMATION vs ground truth — the calibration view
    // a dedup rollout needs before trusting signature-only thresholds at
    // scale (where exact Jaccard on all candidates is the expensive part):
    // for every banding candidate pair, the estimated Jaccard (fraction of
    // agreeing signature positions, the unbiased MinHash estimator) next to
    // the exact shingle Jaccard and the absolute error. Signature join is
    // two high-cardinality equi-joins on doc id; the pair set is the
    // bucket-capped candidate set, never n².
    "q_minhash_sim" -> ((s, d) => {
      val sh = shingles(s, d)
      // the signature frame is consumed THREE times here (banding plus
      // both sides of the estimator join) — the session-memoized persist
      // (cachedSignatures) runs the md5 pass once across consumers AND
      // across the other banding queries in the same run; the tiny result
      // is checkpointed eagerly so nothing here outlives the query
      val sig = cachedSignatures(s, d)
      val sigA = sig.select(col("doc_id").as("a") +:
        (0 to 7).map(k => col(s"s$k").as(s"a$k")): _*)
      val sigB = sig.select(col("doc_id").as("b") +:
        (0 to 7).map(k => col(s"s$k").as(s"b$k")): _*)
      val matches = (0 to 7)
        .map(k => when(col(s"a$k") === col(s"b$k"), 1).otherwise(0))
        .reduce(_ + _)
      val out = jaccardPairsFrom(sh, sig)
        .join(sigA, "a").join(sigB, "b")
        .select(col("a"), col("b"),
          round(matches / lit(8.0), 4).as("est_jaccard"),
          round(col("jaccard"), 4).as("jaccard"),
          round(abs(matches / lit(8.0) - col("jaccard")), 4).as("abs_err"))
        .orderBy("a", "b")
        .localCheckpoint(true)
      // no unpersist: sig is the session memo, swept by SessionMemo
      out
    }),

    // Persistent dedup INDEX — the layout-integration flagship: at 100 TB
    // the corpus band-signature table is built ONCE and saved bucketed by
    // the probe key, so every incremental batch joins it with ZERO
    // corpus-side exchange — the corpus is never reshuffled per batch,
    // only the (much smaller) batch side moves. The probe key folds
    // (band, bkey) into one md5 so the join key IS the bucket key (a
    // two-column join would not satisfy the single-column bucketing).
    // The merge hint pins the sort-merge path a TB-scale batch would take
    // (broadcast would hide the bucketing win at toy scale); the verdict
    // reads the FINAL AQE plan after a drain: exactly one Exchange (the
    // batch side) and a bucketed corpus scan. Scratch table + path are
    // uuid-namespaced per run (concurrent-session safe, q_bucket_join
    // precedent).
    "q_dedup_index" -> ((s, d) => {
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val wh = scratch(s"graft_dedup_idx_$tag")
      val idxTbl = s"graft_band_idx_$tag"
      dropAfter(s, wh, idxTbl) {
        val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"))
        bandsOf(corpus)
          .select(md5(concat(col("band").cast("string"), col("bkey")))
            .as("probe"), col("doc_id"))
          .write.mode("overwrite").bucketBy(8, "probe")
          .option("path", s"$wh/band_idx").saveAsTable(idxTbl)
        val batch = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            regexp_replace(col("text"), "^[^ ]+", "zzz").as("text"))
        val batchProbe = bandsOf(batch)
          .select(md5(concat(col("band").cast("string"), col("bkey")))
            .as("probe"), col("doc_id").as("bid"))
        val joined = s.table(idxTbl).hint("merge")
          .join(batchProbe, Seq("probe"))
        joined.queryExecution.toRdd.foreach(_ => ())
        val finalPlan = joined.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        // the batch chain legitimately shuffles internally (its signature
        // aggregate); the verdict counts only JOIN-KEY exchanges: exactly
        // one side (the batch) may repartition on `probe`, and the corpus
        // scan must come in bucketed
        val probeExchanges = finalPlan
          .split(java.util.regex.Pattern.quote("Exchange hashpartitioning(probe"), -1)
          .length - 1
        val verdict =
          if (probeExchanges == 1 && finalPlan.contains("Bucketed: true")) 1 else 0
        joined.select(col("bid"), col("doc_id")).distinct()
          .agg(count(lit(1)).as("n_candidates"))
          .crossJoin(batch.agg(count(lit(1)).as("n_batch_docs")))
          .crossJoin(s.table(idxTbl).agg(count(lit(1)).as("n_index_rows")))
          .withColumn("corpus_side_exchange_free", lit(verdict))
          .localCheckpoint(true)
      }
    }),

    // Persistent EMBEDDING dedup index — the vector face of q_dedup_index:
    // the corpus is signed once (8-bit hyperplane LSH) and saved BUCKETED
    // BY the signature, so an incremental vector batch probes it with
    // ZERO corpus-side exchange. Multi-probe recall lives entirely on the
    // batch side (the batch explodes to its Hamming≤1 probe signatures and
    // equi-joins `sig`), so widening recall never touches the corpus
    // layout. Exact cosine (codegen'd dot_f) verifies candidates only.
    // Batch plants: ×2 scalings (+100000, signature-invariant) and
    // hyperplane-0 reflections (+200000, flip exactly bit 0 — provably
    // invisible without the probes). Verdict audits the FINAL AQE plan:
    // exactly one join-key Exchange (the batch) + a bucketed corpus scan.
    "q_embed_index" -> ((s, d) => {
      graft.functions.FloatDotProduct.register(s)
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val wh = scratch(s"graft_embed_idx_$tag")
      val idxTbl = s"graft_embed_idx_$tag"
      dropAfter(s, wh, idxTbl) {
        val e = Tables.embeddings(s, d)
        e.select(col("vec_id"), col("embedding"))
          .withColumn("nrm", expr("sqrt(dot_f(embedding, embedding))"))
          .withColumn("sig", expr(Similarity.sigExpr("spark")))
          .write.mode("overwrite").bucketBy(8, "sig")
          .option("path", s"$wh/embed_idx").saveAsTable(idxTbl)
        val scaled = e.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 100000).as("vec_id"),
            expr("transform(embedding, x -> CAST(x * 2 AS FLOAT))").as("embedding"))
        val perturbed = e.filter(col("vec_id") % 10 === 5)
          .withColumn("d0", expr(Similarity.dotPlane(0, "spark")))
          .select((col("vec_id") + 200000).as("vec_id"),
            expr("zip_with(embedding, " + Similarity.planeLit(0, "spark") +
              ", (x, h) -> CAST(CAST(x AS DOUBLE) - d0 * 1.05 / 64 * h AS FLOAT))")
              .as("embedding"))
        val batch = scaled.unionByName(perturbed)
        val batchProbe = batch
          .withColumn("nb", expr("sqrt(dot_f(embedding, embedding))"))
          .withColumn("sig0", expr(Similarity.sigExpr("spark")))
          .select(col("vec_id").as("bid"), col("embedding").as("eb"),
            col("nb"),
            explode(expr(Similarity.probesExpr("sig0", "spark"))).as("sig"))
        val joined = s.table(idxTbl).hint("merge")
          .join(batchProbe, Seq("sig"))
          .withColumn("cos",
            round(expr("dot_f(embedding, eb)") / (col("nrm") * col("nb")), 6))
          .filter(col("cos") >= 0.99)
        joined.queryExecution.toRdd.foreach(_ => ())
        val finalPlan = joined.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val probeExchanges = finalPlan
          .split(java.util.regex.Pattern.quote("Exchange hashpartitioning(sig"), -1)
          .length - 1
        val verdict =
          if (probeExchanges == 1 && finalPlan.contains("Bucketed: true")) 1 else 0
        joined.select(col("bid"), col("vec_id")).distinct()
          .agg(count(lit(1)).as("n_pairs"))
          .crossJoin(batch.agg(count(lit(1)).as("n_batch_vecs")))
          .crossJoin(s.table(idxTbl).agg(count(lit(1)).as("n_index_rows")))
          .withColumn("corpus_side_exchange_free", lit(verdict))
          .localCheckpoint(true)
      }
    }),

    // Threshold calibration table — before trusting SIGNATURE-ONLY dedup
    // at scale (where exact Jaccard on every candidate is the expensive
    // verify stage), a rollout sweeps thresholds and reads
    // precision/recall of the 8-position estimator against exact Jaccard
    // on the SAME candidate set. One explode(thresholds) over the pair
    // frame + one partial+final aggregate per threshold — the pair set is
    // computed once (persisted signature subtree, as q_minhash_sim).
    "q_minhash_calibration" -> ((s, d) => {
      val sh = shingles(s, d)
      val sig = cachedSignatures(s, d)
      val sigA = sig.select(col("doc_id").as("a") +:
        (0 to 7).map(k => col(s"s$k").as(s"a$k")): _*)
      val sigB = sig.select(col("doc_id").as("b") +:
        (0 to 7).map(k => col(s"s$k").as(s"b$k")): _*)
      val matches = (0 to 7)
        .map(k => when(col(s"a$k") === col(s"b$k"), 1).otherwise(0))
        .reduce(_ + _)
      val out = jaccardPairsFrom(sh, sig)
        .join(sigA, "a").join(sigB, "b")
        .select((matches / lit(8.0)).as("est"), col("jaccard"))
        .select(col("est"), col("jaccard"), explode(array(
          lit(0.5), lit(0.6), lit(0.7), lit(0.8))).as("threshold"))
        .groupBy("threshold")
        .agg(sum(when(col("est") >= col("threshold"), 1L).otherwise(0L))
            .as("n_pred"),
          sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L))
            .as("n_true"),
          sum(when(col("est") >= col("threshold") &&
              col("jaccard") >= col("threshold"), 1L).otherwise(0L))
            .as("n_both"))
        .select(col("threshold"), col("n_pred"), col("n_true"), col("n_both"),
          when(col("n_pred") > 0,
            round(col("n_both").cast("double") / col("n_pred"), 4))
            .as("precision"),
          when(col("n_true") > 0,
            round(col("n_both").cast("double") / col("n_true"), 4))
            .as("recall"))
        .orderBy("threshold")
        .localCheckpoint(true)
      // no unpersist: sig is the session memo, swept by SessionMemo
      out
    }),

    // Incremental (batch-vs-corpus) dedup — the continuous-ingest shape: a
    // NEW batch is deduped against the EXISTING corpus without ever
    // comparing corpus docs to each other (that work is already done; at
    // 100 TB re-deduping the corpus per batch would dwarf the batch cost).
    // Stage 1: exact — batch content hashes left-semi/anti against the
    // corpus hash set (narrow equi-join on the digest). Stage 2: fuzzy —
    // only the surviving novel batch docs are shingled and signed, and
    // their band keys equi-join the CORPUS bands (cross-set only: no
    // batch×batch or corpus×corpus pairs), with exact Jaccard verified on
    // the cross candidates alone. Batch rows: planted mutated copies
    // (+100000, near-dups) and verbatim copies (+300000, exact dups).
    // Output: every batch doc labeled kept / exact_dup / near_dup.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          regexp_replace(col("text"), "^[^ ]+", "zzz").as("text"))
        .unionByName(docs.filter(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 300000).as("doc_id"), col("text")))
      val corpusHashes = corpus.select(md5(col("text")).as("h")).distinct()
      val hashed = batch.withColumn("h", md5(col("text")))
      val exactIds = hashed.join(corpusHashes, Seq("h"), "left_semi")
        .select("doc_id")
      val novel = hashed.join(corpusHashes, Seq("h"), "left_anti").drop("h")
      val bsh = shinglesOf(novel).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val csh = shinglesOf(corpus).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // bands from the row-local kernel scan; bsh/csh stay persisted for
      // the size + intersection joins below only
      val bb = bands(signaturesOf(novel))
        .select(col("doc_id").as("bid"), col("band"), col("bkey"))
      val cb = bands(signaturesOf(corpus))
        .select(col("doc_id").as("cid"), col("band"), col("bkey"))
      // cross-set candidates are a plain equi-join on the band key — no
      // in-bucket pair expansion exists here, so no bucket cap is needed:
      // a hot bucket costs |batch∩bucket|·|corpus∩bucket| join rows,
      // bounded map-side, never a single-task O(k²) blowup
      val cand = bb.join(cb, Seq("band", "bkey")).select("bid", "cid").distinct()
      val bsz = bsh.groupBy("doc_id").agg(count(lit(1)).as("bn"))
        .select(col("doc_id").as("bid"), col("bn"))
      val csz = csh.groupBy("doc_id").agg(count(lit(1)).as("cn"))
        .select(col("doc_id").as("cid"), col("cn"))
      val inter = cand
        .join(bsh.as("x"), col("bid") === col("x.doc_id"))
        .join(csh.as("y"),
          col("cid") === col("y.doc_id") && col("x.shingle") === col("y.shingle"))
        .groupBy("bid", "cid").agg(count(lit(1)).as("ni"))
      val nearIds = inter.join(bsz, Seq("bid")).join(csz, Seq("cid"))
        .filter(col("ni").cast("double") / (col("bn") + col("cn") - col("ni")) >= 0.5)
        .select(col("bid").as("doc_id")).distinct()
      val out = batch.select("doc_id")
        .join(exactIds.withColumn("st_e", lit(1)), Seq("doc_id"), "left")
        .join(nearIds.withColumn("st_n", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("st_e") === 1, "exact_dup")
            .when(col("st_n") === 1, "near_dup")
            .otherwise("kept").as("status"))
        .orderBy("doc_id")
        .localCheckpoint(true)
      bsh.unpersist(blocking = false)
      csh.unpersist(blocking = false)
      out
    }),

    // SimHash: 16-bit row-local signature; bucket size flags near-dups.
    // Bucket size is a partial+final aggregate joined back on the
    // signature, NOT `count(*) over (partition by simhash)`: the signature
    // space is ≤65,536 keys, so the window shape would shuffle every row of
    // a popular signature to ONE task and buffer the whole bucket (multi-GB
    // single-task partitions at 100 TB). The groupBy is map-side combined
    // and the join-back shuffles both sides by the same key — same result,
    // no whole-bucket buffering. The signature table is persisted so the
    // join's two consumers share one evaluation of the 16-bit-sum subtree
    // (at scale: materialize signatures once per dedup run) — without it
    // the self-join doubles the dominant md5-per-word cost.
    "q_dedup_simhash" -> ((s, d) => {
      val sigs = simhashSigs(s, d)
      val bucketCounts = sigs.groupBy("simhash")
        .agg(count(lit(1)).as("n_bucket"))
      sigs.join(bucketCounts, Seq("simhash"))
        .select(col("doc_id"), col("simhash"), col("n_bucket"))
        .orderBy("doc_id")
    }),

    // SimHash near-dup PAIRS — the usable form of simhash dedup (bucket
    // sizes alone only see exact-signature collisions): pairs of docs
    // whose 16-bit signatures are within Hamming distance 1, found by
    // exploding one side over the 17 probe signatures (exact + 16
    // one-bit flips) and equi-joining on the probe — same multi-probe
    // machinery as the embedding path, shuffles by signature, no pair
    // scan. Each qualifying pair matches via exactly one probe (the flip
    // is an involution), so no distinct is needed. Output carries the
    // exact Hamming distance.
    "q_dedup_simhash_pairs" -> ((s, d) => {
      val sigs = simhashSigs(s, d)
      val left = sigs.select(col("doc_id").as("a"), col("simhash").as("sa"),
        explode(expr(Similarity.probesExpr("simhash", "spark", 16)))
          .as("simhash"))
      left.join(sigs.select(col("doc_id").as("b"), col("simhash")),
          Seq("simhash"))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"),
          expr("aggregate(sequence(1, 16), 0, (acc, i) -> acc + " +
            "IF(substring(sa, i, 1) = substring(simhash, i, 1), 0, 1))")
            .as("hamming"))
        .orderBy("a", "b")
    }),

    // SimHash near-dup pairs at the PUBLISHED operating point (Manku,
    // Jain, Das Sarma, WWW'07): 64-bit signature (two md5 nibble budgets
    // per distinct word), Hamming ≤ 3, candidates via the 4-band
    // pigeonhole equi-join — any pair within the radius agrees exactly on
    // ≥ 1 band, so the candidate stage shares the MinHash banding
    // machinery (including its hot-bucket cap) and never scans pairs.
    // The 16-bit H≤1 qid above stays as the narrow-width executable spec;
    // this one is what a production crawl dedup would run (measured at
    // sf0.01: 1163bp dropped vs the 16-bit form's 8218bp, with better
    // mutated-copy recall).
    "q_dedup_simhash64_pairs" -> ((s, d) =>
      simhash64PairsOf(s, d)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy("a", "b")),

    // The corpus-derived simhash width rule under cross-engine parity —
    // the text path's twin of q_dedup_embedding_auto: Spark derives
    // bits = clamp(16, 64, 2·bitlen(n-1)) (signature space ≥ n², so the
    // BIRTHDAY component of over-merge is bounded at any corpus size) and
    // signs the width-scaled signature table with a distinct count; the
    // oracle re-derives the same rule in integer SQL (length(bin(n-1)) —
    // no float log to ulp-diverge) and recomputes the signatures at that
    // width. Pair results stay width-INdependent on purpose (they would
    // legitimately change whenever the corpus count does).
    "q_dedup_simhash_auto" -> ((s, d) => {
      graft.functions.TextStats.register(s)
      val c = textCorpus(s, d)
      val width = autoBitsSimhash(c.count())
      c.select(coalesce(
          expr(s"graft_simhash(filter(split(text, ' '), " +
            s"x -> length(x) > 0), $width)"),
          lit("0" * width)).as("sig"))
        .agg(count(lit(1)).as("n_corpus"),
          countDistinct("sig").as("n_distinct_sigs"))
        .select(col("n_corpus"), lit(width).cast("int").as("bits_used"),
          col("n_distinct_sigs"))
    }),

    // Incremental simhash index — the 64-bit banded design under the
    // q_dedup_index contract, completing the index triad (MinHash bands,
    // embedding signatures, simhash bands): the corpus's (band, bkey)
    // table is the expensive artifact, saved ONCE bucketed by the folded
    // probe key; each ingest batch probes it with ZERO corpus-side
    // exchange. The simhash batch side is even cheaper than MinHash's:
    // the signature is a row-local kernel, so the batch chain has no
    // internal shuffle at all — its one exchange IS the probe
    // repartition. Verdict machine-read off the final AQE plan, pinned
    // by the oracle.
    "q_simhash_index" -> ((s, d) => {
      graft.functions.TextStats.register(s)
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val wh = scratch(s"graft_sh_idx_$tag")
      val idxTbl = s"graft_simhash_idx_$tag"
      dropAfter(s, wh, idxTbl) {
        def bandedProbe(df: DataFrame): DataFrame = df
          .filter(col("text").isNotNull)
          .select(col("doc_id"),
            coalesce(expr(
              "graft_simhash(filter(split(text, ' '), x -> length(x) > 0), 64)"),
              lit("0" * 64)).as("sig"))
          .select(col("doc_id"), explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"),
              substring(col("sig"), b * 16 + 1, 16).as("bkey"))): _*)).as("bb"))
          .select(md5(concat(col("bb.band").cast("string"), col("bb.bkey")))
            .as("probe"), col("doc_id"))
        bandedProbe(Tables.documents(s, d).select(col("doc_id"), col("text")))
          .write.mode("overwrite").bucketBy(8, "probe")
          .option("path", s"$wh/sh_idx").saveAsTable(idxTbl)
        val batch = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            regexp_replace(col("text"), "^[^ ]+", "zzz").as("text"))
        val batchProbe = bandedProbe(batch).withColumnRenamed("doc_id", "bid")
        val joined = s.table(idxTbl).hint("merge").join(batchProbe, Seq("probe"))
        joined.queryExecution.toRdd.foreach(_ => ())
        val finalPlan = joined.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val probeExchanges = finalPlan
          .split(java.util.regex.Pattern.quote("Exchange hashpartitioning(probe"), -1)
          .length - 1
        val verdict =
          if (probeExchanges == 1 && finalPlan.contains("Bucketed: true")) 1 else 0
        joined.select(col("bid"), col("doc_id")).distinct()
          .agg(count(lit(1)).as("n_candidates"))
          .crossJoin(batch.agg(count(lit(1)).as("n_batch_docs")))
          .crossJoin(s.table(idxTbl).agg(count(lit(1)).as("n_index_rows")))
          .withColumn("corpus_side_exchange_free", lit(verdict))
          .localCheckpoint(true)
      }
    }),

    // Transitive dedup clustering — the dedup endgame: VERIFIED near-dup
    // pairs (banding candidates that pass the Jaccard >= 0.5 check) become
    // connected components (doc A ~ B ~ C is one cluster even if A and C
    // never collide directly), labeled by the component's min doc id.
    // Verification before clustering matters twice over: banding false
    // positives must not merge unrelated clusters, and the verified graph's
    // components have tiny diameter (frequent-shingle candidate chains do
    // not survive verification), so the min-label loop converges in a
    // couple of rounds. Each round is one equi-join + min-aggregate; the
    // driver loop is control flow only (one convergence count per round) —
    // the data never leaves the cluster.
    "q_dedup_clusters" -> ((s, d) => {
      val p = jaccardPairsFrom(shingles(s, d), cachedSignatures(s, d))
        .filter(col("jaccard") >= 0.5).select("a", "b")
      val comps = connectedComponents(p)
      // materialize the (tiny) rollup eagerly so the loop's working state
      // can be released before returning
      val out = comps.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"))
        .orderBy("cluster_id")
        .localCheckpoint(true)
      org.apache.spark.sql.graftshim.GraftDataset.freeLocalCheckpoint(comps)
      out
    }),

    // Quality-aware canonical selection — the keep POLICY layer over
    // near-dup clustering: production dedup keeps each family's
    // highest-quality member (here: token count, ties to the lowest id),
    // not blindly the lowest id. Same banding→verify→CC chain as
    // q_dedup_clusters, then ONE min(struct) aggregate picks the canonical
    // doc per cluster — no per-cluster window, no second shuffle beyond
    // the label key. Reports multi-member clusters with their kept doc and
    // drop count (singletons are identity keeps).
    "q_dedup_keep_best" -> ((s, d) => {
      graft.functions.TextTokenize.register(s)
      val p = jaccardPairsFrom(shingles(s, d), cachedSignatures(s, d))
        .filter(col("jaccard") >= 0.5).select("a", "b")
      val comps = connectedComponents(p)
      val labeled = textCorpus(s, d)
        .join(comps.select(col("id").as("doc_id"), col("cluster_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("label"),
          expr("graft_token_count(text)").as("quality"))
      val out = labeled.groupBy("label")
        .agg(min(struct((-col("quality")).as("nq"), col("doc_id"))).as("m"),
          count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
        .select(col("label").as("cluster_id"), col("m.doc_id").as("keep_id"),
          (-col("m.nq")).as("keep_quality"), col("n_members"),
          (col("n_members") - 1).as("n_dropped"))
        .orderBy("cluster_id")
        .localCheckpoint(true)
      org.apache.spark.sql.graftshim.GraftDataset.freeLocalCheckpoint(comps)
      out
    }),

    // Leakage-safe train/val/test split — hash-split by near-dup CLUSTER
    // label, not by doc id: a naive per-doc hash split routes ~7/8 of
    // verified near-dup pairs across split boundaries (the planted
    // mutated twins have different ids, so independent hashes), silently
    // leaking training text into the held-out sets. Keying the split on
    // the connected-component label makes every near-dup family co-travel
    // by construction. The query measures BOTH policies on the same
    // verified pair set: leaky_naive (id-keyed, nonzero) vs leaky_grouped
    // (cluster-keyed, zero) — the oracle computes both exactly through
    // its recursive-CTE cluster chain, so the leakage accounting itself
    // is parity-checked, not asserted.
    "q_split_leakage" -> ((s, d) => {
      def splitOf(c: org.apache.spark.sql.Column) = {
        val h = substring(md5(c.cast("string")), 1, 1)
        when(h < "c", "train").when(h < "e", "val").otherwise("test")
      }
      val p = jaccardPairsFrom(shingles(s, d), cachedSignatures(s, d))
        .filter(col("jaccard") >= 0.5).select("a", "b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val comps = connectedComponents(p)
      val labels = textCorpus(s, d).select("doc_id")
        .join(comps.select(col("id").as("doc_id"), col("cluster_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("label"))
      val spl = labels.withColumn("split", splitOf(col("label")))
      val counts = spl.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("label")).as("n_clusters"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
      val grouped = p
        .join(spl.select(col("doc_id").as("a"), col("split").as("sa")), Seq("a"))
        .join(spl.select(col("doc_id").as("b"), col("split").as("sb")), Seq("b"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
            .as("leaky_grouped"))
      val naive = p.agg(
        sum(when(splitOf(col("a")) =!= splitOf(col("b")), 1L).otherwise(0L))
          .as("leaky_naive"))
      val out = counts.crossJoin(grouped).crossJoin(naive)
        .localCheckpoint(true)
      org.apache.spark.sql.graftshim.GraftDataset.freeLocalCheckpoint(comps)
      p.unpersist(blocking = false)
      out
    }),

    // End-to-end curation pipeline — the composed shape a training-data
    // run actually executes, every stage the distributed one: (1) row-local
    // quality gate at scan speed; (2) exact dedup keep-first via a window
    // over the content hash (high-cardinality partition key — no hot
    // groups); (3) MinHash banding near-dup candidates + Jaccard
    // verification on candidates only, dropping the higher id of each
    // verified pair; (4) per-source survivor stats. Provenance (source)
    // rides the whole pipeline.
    "q_pipeline_curate" -> ((s, d) => {
      graft.functions.TextTokenize.register(s)
      val docs = Tables.documents(s, d)
      val corpus0 = docs.select(col("doc_id"), col("text"), col("source"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            regexp_replace(col("text"), "^[^ ]+", "zzz").as("text"),
            lit("mutated").as("source")))
      val quality = corpus0.filter(length(col("text")) >= 50 &&
        expr("size(filter(split(text, ' '), x -> length(x) > 0))") >= 10)
      // keep-first exact dedup (public exactDedup: struct-min keyed on the
      // content hash; doc_id leads the frame, so min = lowest id's row)
      val exact = exactDedup(quality, "text")
      // ONE distinct shingle set serves both the signature chain and the
      // Jaccard verifier (identical subtrees → exchange reuse), since min
      // over distinct shingles equals min over the raw stream
      val sh = shinglesOf(exact).distinct()
      val dropIds = jaccardPairsFrom(sh, signaturesOf(exact))
        .filter(col("jaccard") >= 0.5)
        .select(col("b").as("doc_id")).distinct()
      exact.join(dropIds, Seq("doc_id"), "left_anti")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("graft_token_count(text)")).as("total_tokens"))
        .orderBy("source")
    }),

    // Embedding-cosine near-dup, LSH-bucketed with MULTI-PROBE recall:
    // each vector gets the 8-bit random-hyperplane signature
    // (Similarity.sigExpr), and candidates are pairs whose signatures are
    // within Hamming distance 1 — one side explodes over the 9 probe
    // signatures (exact + 8 one-bit flips), then a plain equi-join on the
    // probe. Still shuffles by signature, no driver collect, no n² pair
    // space. Why multi-probe (r2 verdict): TWO planted near-dup families —
    //   +100000: pure ×2 scalings, signature-INVARIANT by construction
    //            (any single-probe join finds them — weak evidence);
    //   +200000: reflections just past hyperplane 0
    //            (y = x − 1.05·dot(x,h0)/64·h0, norm-preserving up to the
    //            5% overshoot), which flip signature bit 0 EXACTLY — the
    //            exact-signature equi-join is provably blind to every one
    //            of them; only the Hamming-1 probes can recover them.
    // Exact cosine (codegen'd dot_f kernel) is verified within buckets
    // only; the oracle runs the identical probing so results hash-match.
    "q_dedup_embedding" -> ((s, d) =>
      embeddingPairs(s, d).orderBy("a", "b")),

    // Semantic dedup endgame — the embedding-space analog of
    // q_dedup_clusters: cosine-verified near-dup pairs (multi-probe LSH
    // candidates, exact dot within buckets) become transitive clusters via
    // the same min-label connectedComponents loop, labeled by component
    // minimum. (The planted families here are disjoint by construction —
    // %10=0 scalings vs %10=5 reflections — so this corpus yields size-2
    // clusters; multi-hop transitivity itself is pinned by ApiSpec's
    // 64-node-chain connectedComponents test.)
    "q_dedup_embedding_clusters" -> ((s, d) => {
      val comps = connectedComponents(embeddingPairs(s, d).select("a", "b"))
      val out = comps.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"))
        .orderBy("cluster_id")
        .localCheckpoint(true)
      org.apache.spark.sql.graftshim.GraftDataset.freeLocalCheckpoint(comps)
      out
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus
    // with learned k-means centroids, then prune within-cluster cosine
    // near-duplicates — the third embedding-dedup strategy next to
    // multi-probe LSH (q_dedup_embedding) and exact-hash. Scale shape:
    // the fit runs on the RAW table and is memoized driver-side
    // (Similarity.fittedCentroids, shared with q_ann_ivf_kmeans — the
    // published practice fits on a sample); assignment is a broadcast
    // argmin (one narrow shuffle); pair formation is WITHIN clusters only
    // (k scales ∝ n/occupancy at 100 TB, keeping per-cluster quadratic
    // verification constant — same knob as the LSH auto-width). Keep
    // policy = keep-min-id: a vector is dropped iff a smaller-id vector
    // ≥ τ cosine shares its cluster, which makes the kept set provably
    // τ-clean within every cluster.
    //
    // k-means assignments aren't reproducible in SQL, so like
    // q_ann_ivf_kmeans this is a SELF-VERDICT query: the oracle pins the
    // exactly-predictable facts — corpus size; the ×2-scaled family
    // (+100000) has cosine EXACTLY 1 with its source and identical
    // rounded csim to every centroid (scaling by 2 is exact in IEEE
    // binary fp and cancels in the cosine), so each scaled copy provably
    // lands in its source's cluster and MUST be dropped — plus verdicts:
    // kept/dropped partition the corpus, the kept set has no ≥ τ
    // within-cluster pair (recomputed from the kept frame, catching any
    // drop-set derivation bug), and recall on the perturbed family
    // (+200000 — these CAN legitimately straddle a centroid boundary)
    // clears a 0.7 floor.
    "q_semdedup" -> ((s, d) => {
      val tau = 0.95
      val corpus = embCorpus(s, d).filter(col("embedding").isNotNull)
      val n = corpus.withColumn("nrm",
        expr("sqrt(dot_f(embedding, embedding))"))
      val raw = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          expr("sqrt(dot_f(embedding, embedding))").as("nrm"))
      val kcents = Similarity.fittedCentroidFrame(s, d, raw)
      val assigned = Similarity.ivfAssign(n, kcents, "vec_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dropped = Similarity.withinClusterDropIds(assigned, "vec_id", tau)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val kept = assigned.join(dropped, Seq("vec_id"), "left_anti")
      // independent PAIR-level recompute over the KEPT frame only — not
      // the drop-id set the decision came from
      def sides(df: DataFrame, tag: String) = df.select(
        col("cid"), col("vec_id").as(tag), col("embedding").as(s"e$tag"),
        col("nrm").as(s"n$tag"))
      val keptDirty = sides(kept, "a").join(sides(kept, "b"), Seq("cid"))
        .filter(col("a") < col("b"))
        .filter(expr("dot_f(ea, eb)") / (col("na") * col("nb")) >= tau)
        .agg(count(lit(1)).as("n_dirty"))
      val counts = assigned.agg(
        count(lit(1)).as("n_corpus"),
        sum((col("vec_id") >= 100000 && col("vec_id") < 200000).cast("long"))
          .as("n_scaled"),
        sum((col("vec_id") >= 200000).cast("long")).as("n_perturbed"))
      val dropStats = assigned.join(dropped, Seq("vec_id")).agg(
        count(lit(1)).as("n_dropped"),
        sum((col("vec_id") >= 100000 && col("vec_id") < 200000).cast("long"))
          .as("n_scaled_dropped"),
        sum((col("vec_id") >= 200000).cast("long")).as("n_perturbed_dropped"))
      val keptCount = kept.agg(count(lit(1)).as("n_kept"))
      val out = counts.crossJoin(dropStats).crossJoin(keptCount)
        .crossJoin(keptDirty)
        .select(col("n_corpus"),
          coalesce(col("n_scaled"), lit(0L)).as("n_scaled"),
          coalesce(col("n_scaled_dropped"), lit(0L)).as("n_scaled_dropped"),
          (col("n_kept") + col("n_dropped") === col("n_corpus"))
            .cast("int").as("partition_ok"),
          (col("n_dirty") === 0).cast("int").as("kept_clean"),
          // vacuously passing on a corpus with no perturbed family; the
          // dropped-side sum is NULL (not 0) when the drop set is empty,
          // so coalesce or the verdict itself would go NULL instead of 0
          (when(coalesce(col("n_perturbed"), lit(0L)) > 0,
            coalesce(col("n_perturbed_dropped"), lit(0L)).cast("double")
              / col("n_perturbed"))
            .otherwise(1d) >= 0.7).cast("int").as("perturbed_recall_floor"))
        .localCheckpoint(true)
      dropped.unpersist(blocking = false)
      assigned.unpersist(blocking = false)
      out
    }),

    // Which sources duplicate each other — the crawl-triage view a
    // curation run reads before choosing dedup ORDER (dedup the pair with
    // the biggest overlap first): MinHash-banded candidates, exact
    // shingle-Jaccard verification at 0.5, each verified pair mapped to
    // its unordered (source, source) cell. Everything upstream is the
    // memoized shingle/signature machinery shared with q_dedup_ngram;
    // the add-on is two broadcast-sized dimension joins and one narrow
    // aggregate. max_jaccard (not avg) keeps cross-engine float parity
    // order-free.
    "q_dedup_cross_source" -> ((s, d) => {
      val verified = jaccardPairsFrom(shingles(s, d),
          cachedSignatures(s, d))
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
      val doc = Tables.documents(s, d)
      // coalesce: a NULL source would otherwise group/sort differently
      // across engines (Spark NULLS FIRST vs DuckDB NULLS LAST)
      val srcmap = doc.select(col("doc_id"),
          coalesce(col("source"), lit("unknown")).as("source"))
        .unionByName(doc.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            lit("mutated").as("source")))
      verified
        .join(srcmap.select(col("doc_id").as("a"), col("source").as("sa")), "a")
        .join(srcmap.select(col("doc_id").as("b"), col("source").as("sb")), "b")
        .groupBy(least(col("sa"), col("sb")).as("src_lo"),
          greatest(col("sa"), col("sb")).as("src_hi"))
        .agg(count(lit(1)).as("n_pairs"),
          max(col("jaccard")).as("max_jaccard"))
        .orderBy("src_lo", "src_hi")
    }),

    // Dedup method comparison report — the rollout-decision table: what
    // would each strategy (exact hash, MinHash+Jaccard@0.5, SimHash
    // Hamming≤1) remove from THIS corpus, in docs and token mass? All
    // three ride their existing memoized machinery (hash groups; banding
    // candidates + verification; 17-probe signature join), so the report
    // costs three drop-set joins and three 1-row aggregates on top.
    // Uniform keep-min policy: a doc is dropped iff a smaller-id
    // near-dup witnesses it (for exact: iff it isn't its hash group's
    // minimum). drop_bp = basis points as exact integer division — a
    // rounded double ratio here would sit on the Spark-HALF_UP vs
    // DuckDB-HALF_EVEN knife edge for unlucky counts.
    // The simhash method is the published production design (Manku, Jain,
    // Das Sarma, WWW'07): 64-bit signature, Hamming ≤ 3 via 4-band
    // pigeonhole candidates. The r8 table measured why the legacy 16-bit
    // H≤1 form had to go — exact 0bp / minhash@0.5 1345bp / simhash-16
    // 8218bp at sf0.01, birthday + template over-merge; this design reads
    // 1163bp with better mutated-copy recall (41/50), BELOW minhash.
    // Width alone cannot fix it (still 3200bp at 32 bits — the residual
    // is genuine distributional similarity of the template corpus), which
    // is why the radius widens via banding rather than width alone.
    "q_dedup_report" -> ((s, d) => {
      graft.functions.TextTokenize.register(s)
      // persisted MINUS the text column: all four consumers (the 1-row
      // total and the three per-method drop joins) need only
      // (doc_id, tok), and each previously re-scanned the corpus and
      // re-ran the token-count kernel (guide §2.3 project early / §2.4
      // duplicated subtrees). Released by clearResidue's sweep.
      val tokc = textCorpus(s, d)
        .select(col("doc_id"), expr("graft_token_count(text)").as("tok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = tokc.agg(count(lit(1)).as("n_docs"))
      val keepIds = textCorpus(s, d)
        .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val exactDropped = tokc.join(keepIds, Seq("doc_id"), "left_anti")
      val nearIds = jaccardPairsFrom(shingles(s, d),
          cachedSignatures(s, d))
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .select(col("b").as("doc_id")).distinct()
      val shIds = simhash64PairsOf(s, d)
        .select(col("b").as("doc_id")).distinct()
      def methodRow(name: String, dropped: DataFrame) =
        dropped.agg(count(lit(1)).as("docs_dropped"),
            coalesce(sum("tok"), lit(0L)).as("tokens_dropped"))
          .withColumn("method", lit(name))
      val rows = methodRow("exact", exactDropped)
        .unionByName(methodRow("minhash", tokc.join(nearIds, Seq("doc_id"))))
        .unionByName(methodRow("simhash", tokc.join(shIds, Seq("doc_id"))))
      rows.crossJoin(broadcast(total))
        .select(col("method"), col("docs_dropped"), col("tokens_dropped"),
          when(col("n_docs") > 0,
            expr("docs_dropped * 10000 DIV n_docs")).otherwise(lit(0L))
            .as("drop_bp"))
        .orderBy("method")
    })
  )

  /** Cosine-verified embedding near-dup pairs (a, b, cos): corpus = the
    * embeddings table plus two planted near-dup families (×2 scalings =
    * signature-invariant; hyperplane-0 reflections = flip signature bit 0
    * exactly, recoverable only by the Hamming≤1 probes); candidates via
    * the multi-probe signature equi-join; exact cosine (codegen'd dot_f)
    * within buckets only. Shared by the pair query and the semantic
    * clustering query. */
  /** The planted embedding corpus (vec_id, embedding): the embeddings
    * table plus the two near-dup families — ×2 scalings (+100000,
    * cosine-exactly-1 with their source) and hyperplane-0 reflections
    * (+200000, cos ≥ 0.99 with their source). Shared by the LSH pair
    * queries and q_semdedup. */
  private def embCorpus(s: SparkSession, d: String): DataFrame = {
    graft.functions.FloatDotProduct.register(s)
    val e = Tables.embeddings(s, d)
    val scaled = e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, x -> CAST(x * 2 AS FLOAT))").as("embedding"))
    val perturbed = e.filter(col("vec_id") % 10 === 5)
      .withColumn("d0", expr(Similarity.dotPlane(0, "spark")))
      .select((col("vec_id") + 200000).as("vec_id"),
        expr("zip_with(embedding, " + Similarity.planeLit(0, "spark") +
          ", (x, h) -> CAST(CAST(x AS DOUBLE) - d0 * 1.05 / 64 * h AS FLOAT))")
          .as("embedding"))
    e.select(col("vec_id"), col("embedding"))
      .unionByName(scaled).unionByName(perturbed)
  }

  private def embeddingPairs(s: SparkSession, d: String): DataFrame = {
    val n = embCorpus(s, d).select(col("vec_id"), col("embedding"),
      expr("sqrt(dot_f(embedding, embedding))").as("nrm"),
      expr(Similarity.sigExpr("spark")).as("sig"))
    val left = n.select(col("vec_id").as("a"), col("embedding").as("ea"),
      col("nrm").as("na"),
      explode(expr(Similarity.probesExpr("sig", "spark"))).as("sig"))
    val right = n.select(col("vec_id").as("b"), col("embedding").as("eb"),
      col("nrm").as("nb"), col("sig"))
    left.join(right, Seq("sig")).filter(col("a") < col("b"))
      .withColumn("cos", round(expr("dot_f(ea, eb)") / (col("na") * col("nb")), 6))
      .filter(col("cos") >= 0.99)
      .select("a", "b", "cos")
  }

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      (s"WITH $duckCorpus " +
        "SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM corpus " +
        "GROUP BY md5(text) ORDER BY doc_id"),
    "q_dedup_minhash" ->
      (s"$duckChain SELECT a, b FROM pairs ORDER BY a, b"),
    // Self-verdict oracle (k-means isn't SQL-reproducible — see the Spark
    // side's rationale): pins corpus size, the provably-droppable scaled
    // family (every ×2 copy shares its source's cluster and must fall to
    // the keep-min policy), and the three verdict booleans.
    "q_semdedup" ->
      (s"WITH $duckEmbCorpus " +
        "SELECT (SELECT count(*) FROM corpus0 WHERE embedding IS NOT NULL) AS n_corpus, " +
        "(SELECT count(*) FROM embeddings WHERE embedding IS NOT NULL AND vec_id % 10 = 0) AS n_scaled, " +
        "(SELECT count(*) FROM embeddings WHERE embedding IS NOT NULL AND vec_id % 10 = 0) AS n_scaled_dropped, " +
        "1 AS partition_ok, 1 AS kept_clean, 1 AS perturbed_recall_floor"),
    "q_dedup_cross_source" ->
      (s"$duckChain, " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT p.a, p.b, count(*) AS ni FROM pairs p " +
        "JOIN sh sa ON sa.doc_id = p.a " +
        "JOIN sh sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle " +
        "GROUP BY p.a, p.b), " +
        "jac AS (SELECT i.a, i.b, round(CAST(ni AS DOUBLE) / (za.n + zb.n - ni), 4) AS jaccard " +
        "FROM inter i JOIN sizes za ON za.doc_id = i.a JOIN sizes zb ON zb.doc_id = i.b " +
        "WHERE round(CAST(ni AS DOUBLE) / (za.n + zb.n - ni), 4) >= 0.5), " +
        "srcmap AS (SELECT doc_id, coalesce(source, 'unknown') AS source FROM documents " +
        "UNION ALL SELECT doc_id + 100000 AS doc_id, 'mutated' AS source " +
        "FROM documents WHERE doc_id % 10 = 0) " +
        "SELECT least(sa.source, sb.source) AS src_lo, " +
        "greatest(sa.source, sb.source) AS src_hi, " +
        "count(*) AS n_pairs, max(j.jaccard) AS max_jaccard " +
        "FROM jac j JOIN srcmap sa ON sa.doc_id = j.a " +
        "JOIN srcmap sb ON sb.doc_id = j.b " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "q_dedup_report" ->
      (s"$duckChain, $duckSimhash64Chain, " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT p.a, p.b, count(*) AS ni FROM pairs p " +
        "JOIN sh sa ON sa.doc_id = p.a " +
        "JOIN sh sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle " +
        "GROUP BY p.a, p.b), " +
        "neardrop AS (SELECT DISTINCT i.b AS doc_id FROM inter i " +
        "JOIN sizes za ON za.doc_id = i.a JOIN sizes zb ON zb.doc_id = i.b " +
        "WHERE round(CAST(ni AS DOUBLE) / (za.n + zb.n - ni), 4) >= 0.5), " +
        "shdrop AS (SELECT DISTINCT b AS doc_id FROM sh64near), " +
        "tokc AS (SELECT doc_id, CAST(len(list_filter(" +
        "str_split_regex(text, '[^a-zA-Z0-9]+'), x -> length(x) > 0)) AS BIGINT) AS tok " +
        "FROM corpus), " +
        "total AS (SELECT count(*) AS n_docs FROM corpus), " +
        "m AS (SELECT 'exact' AS method, count(*) AS docs_dropped, " +
        "CAST(coalesce(sum(tok), 0) AS BIGINT) AS tokens_dropped FROM tokc " +
        "WHERE doc_id NOT IN (SELECT min(doc_id) FROM corpus GROUP BY md5(text)) " +
        "UNION ALL SELECT 'minhash', count(*), CAST(coalesce(sum(tok), 0) AS BIGINT) " +
        "FROM tokc WHERE doc_id IN (SELECT doc_id FROM neardrop) " +
        "UNION ALL SELECT 'simhash', count(*), CAST(coalesce(sum(tok), 0) AS BIGINT) " +
        "FROM tokc WHERE doc_id IN (SELECT doc_id FROM shdrop)) " +
        "SELECT m.method, m.docs_dropped, m.tokens_dropped, " +
        "CASE WHEN t.n_docs > 0 THEN m.docs_dropped * 10000 // t.n_docs " +
        "ELSE CAST(0 AS BIGINT) END AS drop_bp " +
        "FROM m, total t ORDER BY method"),
    "q_dedup_editdist" ->
      (s"$duckChain SELECT p.a, p.b, " +
        "CAST(levenshtein(ca.text, cb.text) AS INTEGER) AS edit_dist, " +
        "round(CAST(levenshtein(ca.text, cb.text) AS DOUBLE) / " +
        "greatest(length(ca.text), length(cb.text), 1), 4) AS rel_dist, " +
        "round(CAST(levenshtein(ca.text, cb.text) AS DOUBLE) / " +
        "greatest(length(ca.text), length(cb.text), 1), 4) <= 0.2 AS near_dup " +
        "FROM pairs p JOIN corpus ca ON ca.doc_id = p.a " +
        "JOIN corpus cb ON cb.doc_id = p.b ORDER BY a, b"),
    "q_dedup_ngram" ->
      (s"$duckChain, " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT p.a, p.b, count(*) AS ni FROM pairs p " +
        "JOIN sh sa ON sa.doc_id = p.a " +
        "JOIN sh sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle " +
        "GROUP BY p.a, p.b) " +
        "SELECT i.a, i.b, round(CAST(ni AS DOUBLE) / (za.n + zb.n - ni), 4) AS jaccard " +
        "FROM inter i JOIN sizes za ON za.doc_id = i.a JOIN sizes zb ON zb.doc_id = i.b " +
        "WHERE round(CAST(ni AS DOUBLE) / (za.n + zb.n - ni), 4) >= 0.5 ORDER BY a, b"),
    "q_minhash_sim" -> {
      val est = "(" + (0 to 7)
        .map(k => s"CASE WHEN x.s$k = y.s$k THEN 1 ELSE 0 END")
        .mkString(" + ") + ") / 8.0"
      s"$duckChain, " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT p.a, p.b, count(*) AS ni FROM pairs p " +
        "JOIN sh sa ON sa.doc_id = p.a " +
        "JOIN sh sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle GROUP BY p.a, p.b), " +
        "jac AS (SELECT i.a, i.b, CAST(ni AS DOUBLE) / (za.n + zb.n - ni) AS jaccard " +
        "FROM inter i JOIN sizes za ON za.doc_id = i.a JOIN sizes zb ON zb.doc_id = i.b) " +
        s"SELECT j.a, j.b, round($est, 4) AS est_jaccard, " +
        "round(j.jaccard, 4) AS jaccard, " +
        s"round(abs($est - j.jaccard), 4) AS abs_err " +
        "FROM jac j JOIN sig x ON x.doc_id = j.a JOIN sig y ON y.doc_id = j.b " +
        "ORDER BY j.a, j.b"
    },
    "q_dedup_index" -> {
      def shCte(name: String, src: String) =
        s"$name AS (SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i + 1], w[i + 2]) AS shingle FROM " +
          "(SELECT doc_id, string_split(text, ' ') AS w, " +
          "unnest(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1))) AS i " +
          s"FROM $src))"
      def sigCte(name: String, src: String) =
        s"$name AS (SELECT doc_id, " +
          (0 to 7).map(k => s"min(substr(md5(shingle), ${4 * k + 1}, 4)) AS s$k").mkString(", ") +
          s" FROM $src GROUP BY doc_id)"
      def bandsCte(name: String, src: String) =
        s"$name AS (" + (0 to 3).map(b =>
          s"SELECT doc_id, $b AS band, md5(s${2 * b} || s${2 * b + 1}) AS bkey FROM $src")
          .mkString(" UNION ALL ") + ")"
      "WITH corpus AS (SELECT doc_id, text FROM documents), " +
        "batch AS (SELECT doc_id + 100000 AS doc_id, " +
        "regexp_replace(text, '^[^ ]+', 'zzz') AS text FROM documents WHERE doc_id % 10 = 0), " +
        shCte("cshx", "corpus") + ", " + shCte("bshx", "batch") + ", " +
        sigCte("csigx", "cshx") + ", " + sigCte("bsigx", "bshx") + ", " +
        bandsCte("cbx", "csigx") + ", " + bandsCte("bbx", "bsigx") + ", " +
        "cand AS (SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid " +
        "FROM bbx bb JOIN cbx cb ON bb.band = cb.band AND bb.bkey = cb.bkey) " +
        "SELECT (SELECT count(*) FROM cand) AS n_candidates, " +
        "(SELECT count(*) FROM batch) AS n_batch_docs, " +
        "(SELECT count(*) FROM cbx) AS n_index_rows, " +
        "1 AS corpus_side_exchange_free"
    },
    "q_minhash_calibration" -> {
      val est = "(" + (0 to 7)
        .map(k => s"CASE WHEN x.s$k = y.s$k THEN 1 ELSE 0 END")
        .mkString(" + ") + ") / 8.0"
      s"$duckChain, " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT p.a, p.b, count(*) AS ni FROM pairs p " +
        "JOIN sh sa ON sa.doc_id = p.a " +
        "JOIN sh sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle GROUP BY p.a, p.b), " +
        "jac AS (SELECT i.a, i.b, CAST(ni AS DOUBLE) / (za.n + zb.n - ni) AS jaccard " +
        "FROM inter i JOIN sizes za ON za.doc_id = i.a JOIN sizes zb ON zb.doc_id = i.b), " +
        s"pe AS (SELECT CAST($est AS DOUBLE) AS est, j.jaccard FROM jac j " +
        "JOIN sig x ON x.doc_id = j.a JOIN sig y ON y.doc_id = j.b), " +
        "th AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8]) AS DOUBLE) AS threshold), " +
        "g AS (SELECT threshold, " +
        "CAST(sum(CASE WHEN est >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_pred, " +
        "CAST(sum(CASE WHEN jaccard >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_true, " +
        "CAST(sum(CASE WHEN est >= threshold AND jaccard >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_both " +
        "FROM pe CROSS JOIN th GROUP BY threshold) " +
        "SELECT threshold, n_pred, n_true, n_both, " +
        "CASE WHEN n_pred > 0 THEN round(CAST(n_both AS DOUBLE) / n_pred, 4) END AS precision, " +
        "CASE WHEN n_true > 0 THEN round(CAST(n_both AS DOUBLE) / n_true, 4) END AS recall " +
        "FROM g ORDER BY threshold"
    },
    "q_dedup_incremental" -> {
      def shCte(name: String, src: String) =
        s"$name AS (SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i + 1], w[i + 2]) AS shingle FROM " +
          "(SELECT doc_id, string_split(text, ' ') AS w, " +
          "unnest(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1))) AS i " +
          s"FROM $src))"
      def sigCte(name: String, src: String) =
        s"$name AS (SELECT doc_id, " +
          (0 to 7).map(k => s"min(substr(md5(shingle), ${4 * k + 1}, 4)) AS s$k").mkString(", ") +
          s" FROM $src GROUP BY doc_id)"
      def bandsCte(name: String, src: String) =
        s"$name AS (" + (0 to 3).map(b =>
          s"SELECT doc_id, $b AS band, md5(s${2 * b} || s${2 * b + 1}) AS bkey FROM $src")
          .mkString(" UNION ALL ") + ")"
      "WITH batch AS (SELECT doc_id + 100000 AS doc_id, " +
        "regexp_replace(text, '^[^ ]+', 'zzz') AS text FROM documents WHERE doc_id % 10 = 0 " +
        "UNION ALL SELECT doc_id + 300000 AS doc_id, text FROM documents WHERE doc_id % 7 = 3), " +
        "ch AS (SELECT DISTINCT md5(text) AS h FROM documents), " +
        "hb AS (SELECT doc_id, text, md5(text) AS h FROM batch), " +
        "ex AS (SELECT hb.doc_id FROM hb JOIN ch ON hb.h = ch.h), " +
        "novel AS (SELECT hb.doc_id, hb.text FROM hb LEFT JOIN ch ON hb.h = ch.h WHERE ch.h IS NULL), " +
        shCte("bsh", "novel") + ", " + shCte("cshd", "documents") + ", " +
        sigCte("bsig", "bsh") + ", " + sigCte("csig", "cshd") + ", " +
        bandsCte("bbands", "bsig") + ", " + bandsCte("cbands", "csig") + ", " +
        "cand AS (SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid FROM bbands bb " +
        "JOIN cbands cb ON bb.band = cb.band AND bb.bkey = cb.bkey), " +
        "bsz AS (SELECT doc_id AS bid, count(*) AS bn FROM bsh GROUP BY doc_id), " +
        "csz AS (SELECT doc_id AS cid, count(*) AS cn FROM cshd GROUP BY doc_id), " +
        "inter AS (SELECT cand.bid, cand.cid, count(*) AS ni FROM cand " +
        "JOIN bsh x ON cand.bid = x.doc_id " +
        "JOIN cshd y ON cand.cid = y.doc_id AND x.shingle = y.shingle " +
        "GROUP BY cand.bid, cand.cid), " +
        "near AS (SELECT DISTINCT i.bid AS doc_id FROM inter i " +
        "JOIN bsz ON i.bid = bsz.bid JOIN csz ON i.cid = csz.cid " +
        "WHERE CAST(ni AS DOUBLE) / (bn + cn - ni) >= 0.5) " +
        "SELECT b.doc_id, CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup' " +
        "WHEN n.doc_id IS NOT NULL THEN 'near_dup' ELSE 'kept' END AS status " +
        "FROM batch b LEFT JOIN ex e ON b.doc_id = e.doc_id " +
        "LEFT JOIN near n ON b.doc_id = n.doc_id ORDER BY b.doc_id"
    },
    "q_dedup_simhash" ->
      (s"WITH $duckCorpus, hw AS (SELECT doc_id, " +
        "list_transform(list_filter(string_split(text, ' '), x -> length(x) > 0), w -> md5(w)) AS hs " +
        "FROM corpus), bits AS (SELECT doc_id, " +
        (0 until 16).map(j => s"${simhashBitSum(j, "duck")} AS b$j").mkString(", ") +
        " FROM hw) " +
        "SELECT doc_id, " +
        (0 until 16).map(j => s"CASE WHEN b$j > 0 THEN '1' ELSE '0' END").mkString(" || ") +
        " AS simhash, count(*) OVER (PARTITION BY " +
        (0 until 16).map(j => s"CASE WHEN b$j > 0 THEN '1' ELSE '0' END").mkString(" || ") +
        ") AS n_bucket FROM bits ORDER BY doc_id"),
    "q_dedup_simhash_pairs" ->
      (s"WITH $duckCorpus, $duckSimhashChain " +
        "SELECT p.doc_id AS a, s2.doc_id AS b, " +
        "CAST(list_sum(list_transform(generate_series(1, 16), i -> " +
        "CASE WHEN substr(p.sa, CAST(i AS INTEGER), 1) = substr(s2.simhash, CAST(i AS INTEGER), 1) THEN 0 ELSE 1 END)) AS INTEGER) AS hamming " +
        "FROM probed p JOIN sigs s2 ON p.psig = s2.simhash AND p.doc_id < s2.doc_id " +
        "ORDER BY a, b"),
    "q_dedup_simhash64_pairs" ->
      (s"WITH $duckCorpus, $duckSimhash64Chain " +
        "SELECT a, b, hamming FROM sh64near ORDER BY a, b"),
    "q_dedup_simhash_auto" ->
      (s"WITH $duckCorpus, $duckSimhash64Chain, " +
        // integer-exact width rule: 2 * bit-length(n-1), clamped [16, 64]
        "w AS (SELECT GREATEST(16, LEAST(64, " +
        "2 * length(bin(GREATEST(count(*), 2) - 1)))) AS bits FROM corpus) " +
        "SELECT (SELECT count(*) FROM corpus) AS n_corpus, " +
        "CAST((SELECT bits FROM w) AS INTEGER) AS bits_used, " +
        // a width-w signature is the w-prefix of the 64-bit one (bit j is
        // computed independently of the width), so the width-scaled table
        // is verified off the shared sigs64 CTE
        "count(DISTINCT substr(simhash, 1, (SELECT bits FROM w))) AS n_distinct_sigs " +
        "FROM sigs64"),
    "q_simhash_index" -> {
      def bitsum64(j: Int): String = {
        val h = if (j < 32) "hs" else "hs2"
        val k = if (j < 32) j else j - 32
        s"list_sum(list_transform($h, h -> " +
          s"CASE WHEN substr(h, ${k + 1}, 1) <= '7' THEN 1 ELSE -1 END))"
      }
      def hwCte(name: String, src: String) =
        s"$name AS (SELECT doc_id, " +
          "list_transform(list_filter(string_split(text, ' '), x -> length(x) > 0), w -> md5(w)) AS hs, " +
          "list_transform(list_filter(string_split(text, ' '), x -> length(x) > 0), w -> md5('x1:' || w)) AS hs2 " +
          s"FROM $src WHERE text IS NOT NULL)"
      def sigCte(name: String, src: String) =
        s"$name AS (SELECT doc_id, " +
          (0 until 64).map(j => s"CASE WHEN ${bitsum64(j)} > 0 THEN '1' ELSE '0' END")
            .mkString(" || ") + s" AS sig FROM $src)"
      def bandCte(name: String, src: String) =
        s"$name AS (SELECT doc_id, band, " +
          "substr(sig, CAST(band * 16 + 1 AS INTEGER), 16) AS bkey " +
          s"FROM (SELECT doc_id, sig, unnest([0, 1, 2, 3]) AS band FROM $src))"
      "WITH batch AS (SELECT doc_id + 100000 AS doc_id, " +
        "regexp_replace(text, '^[^ ]+', 'zzz') AS text FROM documents WHERE doc_id % 10 = 0), " +
        hwCte("chw", "documents") + ", " + hwCte("bhw", "batch") + ", " +
        sigCte("csig", "chw") + ", " + sigCte("bsig", "bhw") + ", " +
        bandCte("cband", "csig") + ", " + bandCte("bband", "bsig") + ", " +
        "cand AS (SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid " +
        "FROM bband bb JOIN cband cb ON bb.band = cb.band AND bb.bkey = cb.bkey) " +
        "SELECT (SELECT count(*) FROM cand) AS n_candidates, " +
        "(SELECT count(*) FROM batch) AS n_batch_docs, " +
        "(SELECT count(*) FROM cband) AS n_index_rows, " +
        "1 AS corpus_side_exchange_free"
    },
    "q_dedup_clusters" ->
      (s"WITH RECURSIVE $duckCorpus, $duckShingles, $duckSig, $duckBands, $duckPairs, " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT p.a, p.b, count(*) AS ni FROM pairs p " +
        "JOIN sh sa ON sa.doc_id = p.a " +
        "JOIN sh sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle GROUP BY p.a, p.b), " +
        "verified AS (SELECT i.a, i.b FROM inter i " +
        "JOIN sizes za ON za.doc_id = i.a JOIN sizes zb ON zb.doc_id = i.b " +
        "WHERE CAST(ni AS DOUBLE) / (za.n + zb.n - ni) >= 0.5), " +
        "edges AS (SELECT a, b FROM verified UNION SELECT b AS a, a AS b FROM verified), " +
        "reach(src, dst) AS (SELECT a AS src, b AS dst FROM edges " +
        "UNION SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a), " +
        "labels AS (SELECT src AS id, least(src, min(dst)) AS label FROM reach GROUP BY src) " +
        "SELECT label AS cluster_id, count(*) AS n_members FROM labels " +
        "GROUP BY label ORDER BY cluster_id"),
    "q_dedup_keep_best" ->
      (s"WITH RECURSIVE $duckCorpus, $duckShingles, $duckSig, $duckBands, $duckPairs, " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT p.a, p.b, count(*) AS ni FROM pairs p " +
        "JOIN sh sa ON sa.doc_id = p.a " +
        "JOIN sh sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle GROUP BY p.a, p.b), " +
        "verified AS (SELECT i.a, i.b FROM inter i " +
        "JOIN sizes za ON za.doc_id = i.a JOIN sizes zb ON zb.doc_id = i.b " +
        "WHERE CAST(ni AS DOUBLE) / (za.n + zb.n - ni) >= 0.5), " +
        "edges AS (SELECT a, b FROM verified UNION SELECT b AS a, a AS b FROM verified), " +
        "reach(src, dst) AS (SELECT a AS src, b AS dst FROM edges " +
        "UNION SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a), " +
        "labels AS (SELECT src AS id, least(src, min(dst)) AS label FROM reach GROUP BY src), " +
        "fl AS (SELECT c.doc_id, coalesce(l.label, c.doc_id) AS label, " +
        "CAST(len(list_filter(str_split_regex(c.text, '[^a-zA-Z0-9]+'), x -> length(x) > 0)) AS INTEGER) AS quality " +
        "FROM corpus c LEFT JOIN labels l ON c.doc_id = l.id), " +
        "agg AS (SELECT label AS cluster_id, count(*) AS n_members FROM fl GROUP BY label), " +
        "win AS (SELECT label AS cluster_id, doc_id AS keep_id, quality AS keep_quality, " +
        "row_number() OVER (PARTITION BY label ORDER BY quality DESC, doc_id) AS r FROM fl) " +
        "SELECT a.cluster_id, w.keep_id, w.keep_quality, a.n_members, " +
        "a.n_members - 1 AS n_dropped FROM agg a " +
        "JOIN win w ON w.cluster_id = a.cluster_id AND w.r = 1 " +
        "WHERE a.n_members >= 2 ORDER BY a.cluster_id"),
    "q_split_leakage" ->
      (s"WITH RECURSIVE $duckCorpus, $duckShingles, $duckSig, $duckBands, $duckPairs, " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT p.a, p.b, count(*) AS ni FROM pairs p " +
        "JOIN sh sa ON sa.doc_id = p.a " +
        "JOIN sh sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle GROUP BY p.a, p.b), " +
        "verified AS (SELECT i.a, i.b FROM inter i " +
        "JOIN sizes za ON za.doc_id = i.a JOIN sizes zb ON zb.doc_id = i.b " +
        "WHERE CAST(ni AS DOUBLE) / (za.n + zb.n - ni) >= 0.5), " +
        "edges AS (SELECT a, b FROM verified UNION SELECT b AS a, a AS b FROM verified), " +
        "reach(src, dst) AS (SELECT a AS src, b AS dst FROM edges " +
        "UNION SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a), " +
        "labels AS (SELECT src AS id, least(src, min(dst)) AS label FROM reach GROUP BY src), " +
        "fl AS (SELECT c.doc_id, coalesce(l.label, c.doc_id) AS label " +
        "FROM corpus c LEFT JOIN labels l ON c.doc_id = l.id), " +
        "spl AS (SELECT doc_id, label, " +
        "CASE WHEN substr(md5(CAST(label AS VARCHAR)), 1, 1) < 'c' THEN 'train' " +
        "WHEN substr(md5(CAST(label AS VARCHAR)), 1, 1) < 'e' THEN 'val' " +
        "ELSE 'test' END AS split FROM fl), " +
        "cnt AS (SELECT count(*) AS n_docs, count(DISTINCT label) AS n_clusters, " +
        "CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train, " +
        "CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val, " +
        "CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test FROM spl), " +
        "vg AS (SELECT count(*) AS n_pairs, " +
        "CAST(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END) AS BIGINT) AS leaky_grouped " +
        "FROM verified v JOIN spl sa ON v.a = sa.doc_id JOIN spl sb ON v.b = sb.doc_id), " +
        "vn AS (SELECT CAST(sum(CASE WHEN " +
        "(CASE WHEN substr(md5(CAST(v.a AS VARCHAR)), 1, 1) < 'c' THEN 'train' " +
        "WHEN substr(md5(CAST(v.a AS VARCHAR)), 1, 1) < 'e' THEN 'val' ELSE 'test' END) <> " +
        "(CASE WHEN substr(md5(CAST(v.b AS VARCHAR)), 1, 1) < 'c' THEN 'train' " +
        "WHEN substr(md5(CAST(v.b AS VARCHAR)), 1, 1) < 'e' THEN 'val' ELSE 'test' END) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS leaky_naive FROM verified v) " +
        "SELECT cnt.n_docs, cnt.n_clusters, cnt.n_train, cnt.n_val, cnt.n_test, " +
        "vg.n_pairs, vg.leaky_grouped, vn.leaky_naive " +
        "FROM cnt CROSS JOIN vg CROSS JOIN vn"),
    "q_pipeline_curate" ->
      ("WITH corpus0 AS (SELECT doc_id, text, source FROM documents UNION ALL " +
        "SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '^[^ ]+', 'zzz') AS text, " +
        "'mutated' AS source FROM documents WHERE doc_id % 10 = 0), " +
        "quality AS (SELECT * FROM corpus0 WHERE length(text) >= 50 AND " +
        "len(list_filter(string_split(text, ' '), x -> length(x) > 0)) >= 10), " +
        "exactfull AS (SELECT doc_id, text, source FROM " +
        "(SELECT q.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM quality q) " +
        "WHERE rn = 1), " +
        "corpus AS (SELECT doc_id, text FROM exactfull), " +
        s"$duckShingles, $duckSig, $duckBands, $duckPairs, " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT p.a, p.b, count(*) AS ni FROM pairs p " +
        "JOIN sh sa ON sa.doc_id = p.a " +
        "JOIN sh sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle GROUP BY p.a, p.b), " +
        "dropids AS (SELECT DISTINCT i.b AS doc_id FROM inter i " +
        "JOIN sizes za ON za.doc_id = i.a JOIN sizes zb ON zb.doc_id = i.b " +
        "WHERE CAST(ni AS DOUBLE) / (za.n + zb.n - ni) >= 0.5) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(len(list_filter(str_split_regex(text, '[^a-zA-Z0-9]+'), x -> length(x) > 0))) AS BIGINT) AS total_tokens " +
        "FROM exactfull e LEFT JOIN dropids dr ON e.doc_id = dr.doc_id " +
        "WHERE dr.doc_id IS NULL GROUP BY source ORDER BY source"),
    "q_dedup_embedding" ->
      (s"WITH $duckEmbedChain " +
        "SELECT a, b, cos FROM vp ORDER BY a, b"),
    // the embedding index probe re-derived: batch plants signed + probed
    // against the base-corpus signature table, exact cosine on candidates
    "q_embed_index" ->
      ("WITH pert0 AS (SELECT vec_id, embedding, " +
        s"${Similarity.dotPlane(0, "duck")} AS d0 " +
        "FROM embeddings WHERE vec_id % 10 = 5), " +
        "batchv0 AS (SELECT vec_id + 100000 AS vec_id, " +
        "list_transform(embedding, x -> CAST(x * 2 AS FLOAT)) AS embedding " +
        "FROM embeddings WHERE vec_id % 10 = 0 " +
        "UNION ALL SELECT vec_id + 200000 AS vec_id, " +
        s"list_transform(list_zip(embedding, ${Similarity.planeLit(0, "duck")}), " +
        "p -> CAST(CAST(p[1] AS DOUBLE) - d0 * 1.05 / 64 * p[2] AS FLOAT)) AS embedding " +
        "FROM pert0), " +
        "nidx AS (SELECT vec_id, embedding, " +
        "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm, " +
        s"${Similarity.sigExpr("duck")} AS sig FROM embeddings), " +
        "batchv AS (SELECT vec_id, embedding, " +
        "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm, " +
        s"${Similarity.sigExpr("duck")} AS sig FROM batchv0), " +
        "probed AS (SELECT vec_id, embedding, nrm, " +
        s"unnest(${Similarity.probesExpr("sig", "duck")}) AS psig FROM batchv), " +
        "cand AS (SELECT DISTINCT b.vec_id AS bid, c.vec_id AS cid " +
        "FROM probed b JOIN nidx c ON b.psig = c.sig " +
        "WHERE round(list_sum(list_transform(list_zip(b.embedding, c.embedding), " +
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (b.nrm * c.nrm), 6) >= 0.99) " +
        "SELECT (SELECT count(*) FROM cand) AS n_pairs, " +
        "(SELECT count(*) FROM batchv) AS n_batch_vecs, " +
        "(SELECT count(*) FROM nidx) AS n_index_rows, " +
        "1 AS corpus_side_exchange_free"),
    "q_dedup_embedding_clusters" ->
      (s"WITH RECURSIVE $duckEmbedChain, " +
        "edges AS (SELECT a, b FROM vp UNION SELECT b AS a, a AS b FROM vp), " +
        "reach(src, dst) AS (SELECT a AS src, b AS dst FROM edges " +
        "UNION SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a), " +
        "labels AS (SELECT src AS id, least(src, min(dst)) AS label FROM reach GROUP BY src) " +
        "SELECT label AS cluster_id, count(*) AS n_members FROM labels " +
        "GROUP BY label ORDER BY cluster_id")
  )

  /** DuckDB mirror of [[embeddingPairs]], ending in a `vp(a, b, cos)` CTE. */
  /** DuckDB mirror of the simhash signature + Hamming≤1 probe chain
    * (hw/bits/sigs/probed CTEs over `corpus`) — shared by the pair query
    * and the method-comparison report. */
  private lazy val duckSimhashChain =
    "hw AS (SELECT doc_id, " +
      "list_transform(list_filter(string_split(text, ' '), x -> length(x) > 0), w -> md5(w)) AS hs " +
      "FROM corpus), bits AS (SELECT doc_id, " +
      (0 until 16).map(j => s"${simhashBitSum(j, "duck")} AS b$j").mkString(", ") +
      " FROM hw), sigs AS (SELECT doc_id, " +
      (0 until 16).map(j => s"CASE WHEN b$j > 0 THEN '1' ELSE '0' END").mkString(" || ") +
      " AS simhash FROM bits), " +
      "probed AS (SELECT doc_id, simhash AS sa, " +
      s"unnest(${Similarity.probesExpr("simhash", "duck", 16)}) AS psig FROM sigs)"

  /** DuckDB mirror of the 64-bit banded-H≤3 chain ([[simhash64PairsOf]]):
    * hw64/b64/sigs64/banded64/bkeep64/cand64/sh64near CTEs over `corpus`.
    * Bit j < 32 reads nibble j of md5(word); j ≥ 32 reads nibble j−32 of
    * the salted md5('x1:' || word) — byte-identical to the kernel. The
    * bucket cap mirrors candidatePairs' (same stance as duckPairs). */
  private lazy val duckSimhash64Chain = {
    def bitsum64(j: Int): String = {
      val h = if (j < 32) "hs" else "hs2"
      val k = if (j < 32) j else j - 32
      s"list_sum(list_transform($h, h -> " +
        s"CASE WHEN substr(h, ${k + 1}, 1) <= '7' THEN 1 ELSE -1 END))"
    }
    "hw64 AS (SELECT doc_id, " +
      "list_transform(list_filter(string_split(text, ' '), x -> length(x) > 0), w -> md5(w)) AS hs, " +
      "list_transform(list_filter(string_split(text, ' '), x -> length(x) > 0), w -> md5('x1:' || w)) AS hs2 " +
      "FROM corpus), b64 AS (SELECT doc_id, " +
      (0 until 64).map(j => s"${bitsum64(j)} AS b$j").mkString(", ") +
      " FROM hw64), sigs64 AS (SELECT doc_id, " +
      (0 until 64).map(j => s"CASE WHEN b$j > 0 THEN '1' ELSE '0' END").mkString(" || ") +
      " AS simhash FROM b64), " +
      "banded64 AS (SELECT doc_id, simhash, band, " +
      "substr(simhash, CAST(band * 16 + 1 AS INTEGER), 16) AS bkey " +
      "FROM (SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS band FROM sigs64)), " +
      "bkeep64 AS (SELECT band, bkey FROM banded64 GROUP BY band, bkey " +
      s"HAVING count(*) BETWEEN 2 AND $defaultMaxBucket), " +
      "cand64 AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM banded64 x " +
      "JOIN bkeep64 k ON x.band = k.band AND x.bkey = k.bkey " +
      "JOIN banded64 y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id), " +
      "sh64near AS (SELECT a, b, hamming FROM (" +
      "SELECT c.a, c.b, CAST(list_sum(list_transform(range(1, 65), i -> " +
      "CASE WHEN substr(sa.simhash, CAST(i AS INTEGER), 1) = " +
      "substr(sb.simhash, CAST(i AS INTEGER), 1) THEN 0 ELSE 1 END)) AS INTEGER) AS hamming " +
      "FROM cand64 c JOIN sigs64 sa ON sa.doc_id = c.a " +
      "JOIN sigs64 sb ON sb.doc_id = c.b) WHERE hamming <= 3)"
  }

  /** DuckDB mirror of [[embCorpus]] (pert0 + corpus0 CTEs). */
  private lazy val duckEmbCorpus =
    "pert0 AS (SELECT vec_id, embedding, " +
      s"${Similarity.dotPlane(0, "duck")} AS d0 " +
      "FROM embeddings WHERE vec_id % 10 = 5), " +
      "corpus0 AS (SELECT vec_id, embedding FROM embeddings UNION ALL " +
      "SELECT vec_id + 100000 AS vec_id, list_transform(embedding, x -> CAST(x * 2 AS FLOAT)) AS embedding " +
      "FROM embeddings WHERE vec_id % 10 = 0 UNION ALL " +
      "SELECT vec_id + 200000 AS vec_id, " +
      s"list_transform(list_zip(embedding, ${Similarity.planeLit(0, "duck")}), " +
      "p -> CAST(CAST(p[1] AS DOUBLE) - d0 * 1.05 / 64 * p[2] AS FLOAT)) AS embedding " +
      "FROM pert0)"

  private lazy val duckEmbedChain =
    s"$duckEmbCorpus, " +
      "n AS (SELECT vec_id, embedding, " +
      "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm, " +
      s"${Similarity.sigExpr("duck")} AS sig FROM corpus0), " +
      "probed AS (SELECT vec_id, embedding, nrm, " +
      s"unnest(${Similarity.probesExpr("sig", "duck")}) AS psig FROM n), " +
      "vp AS (SELECT a.vec_id AS a, b.vec_id AS b, " +
      "round(list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (a.nrm * b.nrm), 6) AS cos " +
      "FROM probed a JOIN n b ON a.psig = b.sig AND a.vec_id < b.vec_id " +
      "WHERE round(list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (a.nrm * b.nrm), 6) >= 0.99)"
}
