package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.Q

/** Text analysis for LLM training-data pipelines (builder-prompt mandate):
  * token counting, quality scoring, language ID, document fingerprinting.
  *
  * All row-local expressions (whole-stage codegen, zero shuffles except the
  * output sort) — at 100 TB these run at scan speed with full parallelism.
  * Hashes are md5 (identical lowercase hex in Spark and the oracle).
  */
object TextAnalysis {

  /** tokens = maximal alphanumeric runs (row-local). Byte-scan kernel, not
    * `split(text, '[^a-zA-Z0-9]+')`: java.util.regex measured ~30× slower
    * than the scan and anti-scaling under executor threads — see
    * [[graft.functions.TextKernels]]. Register via
    * `TextTokenize.register(s)` in any query that uses these. */
  private val toks = "graft_tokens(text)"
  private val words =
    "filter(split(text, ' '), x -> length(x) > 0)"

  private val stop = Seq("the", "a", "of", "and", "to")
  private val langWords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "data", "and", "fast"),
    "es" -> Seq("el", "la", "de", "los", "que"),
    "fr" -> Seq("le", "la", "les", "des", "et"))

  private def sqlSet(ws: Seq[String]) = ws.map("'" + _ + "'").mkString(", ")

  /** One row per sliding 8-word window of every document (docs shorter
    * than 8 words contribute none) — shared by q_span_dedup/q_span_flag. */
  private def spanFrame(s: SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id"), expr(words).as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 7), i -> array_join(slice(w, i, 8), ' '))"))
        .as("span"))

  /** Spans appearing in >= 2 distinct docs with their doc frequency and
    * total occurrences. Distinct-first two-level aggregate: the
    * (span, doc) partial collapses in-doc repeats map-side, then one
    * aggregate per span — no count(DISTINCT) Expand. */
  private def topSpans(spans: org.apache.spark.sql.DataFrame) = {
    val perDoc = spans.groupBy("span", "doc_id")
      .agg(count(lit(1)).as("occ"))
    perDoc.groupBy("span")
      .agg(count(lit(1)).as("df"), sum(col("occ")).as("n_occ"))
      .filter(col("df") >= 2)
  }

  /** PUBLIC API — CCNet-style duplicated-segment removal, parameterized.
    * Cuts each document into non-overlapping `blockWords`-word blocks,
    * strips every block whose distinct-document frequency reaches `minDf`,
    * and reassembles the survivors in order. Returns
    * (idCol, n_blocks, n_removed, clean_text). Scale shape: distinct-first
    * inventory aggregate, one per-OCCURRENCE equi-join on the block key
    * (no pair expansion — a 10⁶-document boilerplate family costs 10⁶
    * joined rows, never 10¹² pairs, so no bucket cap is needed), and one
    * per-doc reassembly aggregate bounded by the document's own length. */
  def stripBoilerplate(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, blockWords: Int = 8, minDf: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    val bw = blockWords
    val blocks = df
      .select(col(idCol).as("doc_id"),
        expr(s"filter(split($textCol, ' '), x -> length(x) > 0)").as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(w) - 1) div $bw), " +
          s"i -> array_join(slice(w, CAST(i * $bw + 1 AS INT), $bw), ' '))"))
        .as(Seq("bi", "btxt")))
    val dup = blocks.groupBy("btxt", "doc_id").agg(count(lit(1)).as("occ"))
      .groupBy("btxt").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("btxt"), lit(true).as("is_dup"))
    blocks.join(dup, Seq("btxt"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_removed"),
        collect_list(when(col("is_dup").isNull,
          struct(col("bi"), col("btxt")))).as("kept"))
      .select(col("doc_id").as(idCol), col("n_blocks"), col("n_removed"),
        expr("array_join(transform(array_sort(kept), x -> x.btxt), ' ')")
          .as("clean_text"))
  }

  /** PUBLIC API — fixed-window token chunking with stride: context windows
    * of `window` words starting every `stride` words; the final window may
    * run short so trailing tokens are never dropped; documents shorter
    * than `window` yield one chunk. Returns (idCol, chunk_id, n_tokens,
    * chunk_text). Entirely row-local — chunking runs at scan speed. */
  def chunkStride(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int = 16, stride: Int = 8)
      : org.apache.spark.sql.DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    df.select(col(idCol).as("doc_id"),
        expr(s"filter(split($textCol, ' '), x -> length(x) > 0)").as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), size(col("w")).as("n_words"),
        posexplode(expr(
          s"transform(sequence(0, (greatest(size(w) - $window, 0) + ${stride - 1}) div $stride), " +
            s"i -> array_join(slice(w, CAST(i * $stride + 1 AS INT), $window), ' '))"))
          .as(Seq("chunk_id", "chunk_text")))
      .select(col("doc_id").as(idCol), col("chunk_id"),
        least(lit(window), col("n_words") - col("chunk_id") * stride)
          .as("n_tokens"),
        col("chunk_text"))
  }

  /** count of words belonging to a marker set (same text in Spark + DuckDB
    * dialects modulo size()/len()). */
  private def score(ws: Seq[String], lenFn: String) =
    s"$lenFn(filter($words, w -> w IN (${sqlSet(ws)})))"
  private def scoreDuck(ws: Seq[String]) =
    s"len(list_filter(list_filter(string_split(text, ' '), x -> length(x) > 0), w -> list_contains([${sqlSet(ws)}], w)))"

  val queries: Map[String, Q] = Map(
    // token counting (whitespace + regex tokenizer, BPE-ish granularity).
    "q_token_count" -> ((s, d) => {
      graft.functions.TextTokenize.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("graft_token_count(text)").as("n_tokens"),
          expr(s"size(array_distinct($toks))").as("n_uniq_tokens"),
          expr(s"size($words)").as("n_words"))
        .orderBy("doc_id")
    }),

    // Tokenizer fertility per language — chars-per-token is THE metric
    // that decides tokenizer/vocab choice per language slice (a language
    // whose fertility is 2× pays 2× the context budget for the same
    // text). One map-side-combined aggregate at scan speed; the ratio is
    // published in exact integer milli-units (chars·1000 DIV tokens) so
    // parity never rides a rounded-double knife edge.
    "q_fertility" -> ((s, d) => {
      graft.functions.TextTokenize.register(s)
      Tables.documents(s, d)
        .groupBy(coalesce(col("lang"), lit("unknown")).as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(length(col("text"))), lit(0L)).as("total_chars"),
          coalesce(sum(expr("graft_token_count(text)")), lit(0L))
            .as("total_tokens"))
        .select(col("lang"), col("n_docs"), col("total_chars"),
          col("total_tokens"),
          when(col("total_tokens") > 0,
            expr("total_chars * 1000 DIV total_tokens")).otherwise(lit(0L))
            .as("cpt_milli"))
        .orderBy("lang")
    }),

    // quality scoring: length / word stats / stopword ratio / alpha ratio.
    "q_quality_score" -> ((s, d) => {
      graft.functions.TextTokenize.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(col("text")).as("n_chars"),
          expr(s"size($words)").as("n_words"),
          // nullif guards: zero-word / zero-char docs (dirty ingests) make
          // the per-word and per-char ratios undefined — NULL, not an ANSI
          // divide-by-zero (real corpora are unchanged: denominators > 0)
          expr(s"round(CAST(length(text) AS DOUBLE) / nullif(size($words), 0), 4)")
            .as("avg_word_len"),
          expr(s"round(CAST(${score(stop, "size")} AS DOUBLE) / nullif(size($words), 0), 4)")
            .as("stopword_ratio"),
          expr("round(CAST(graft_alpha_count(text) AS DOUBLE) / nullif(length(text), 0), 4)")
            .as("alpha_ratio"))
        .orderBy("doc_id")
    }),

    // language ID: marker-word scoring per language, argmax with a fixed
    // de<en<es<fr tie order; `correct` compares against the labeled lang.
    "q_lang_id" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(
        (col("doc_id") +: col("lang") +:
          langWords.map { case (l, ws) => expr(score(ws, "size")).as(s"s_$l") }): _*)
      scored.select(col("doc_id"), col("lang"),
          col("s_de"), col("s_en"), col("s_es"), col("s_fr"),
          expr("CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de' " +
            "WHEN s_en >= s_es AND s_en >= s_fr THEN 'en' " +
            "WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END").as("pred"))
        // one copy of the argmax: correct derives from pred, so a tie-order
        // edit cannot silently apply to one of two identical CASE blocks
        .select(col("doc_id"), col("s_de"), col("s_en"), col("s_es"),
          col("s_fr"), col("pred"), (col("pred") === col("lang")).as("correct"))
        .orderBy("doc_id")
    }),

    // document fingerprinting: min-hash over rolling 4-char shingles
    // (winnowing-style rolling fingerprint, SURVEY-mandated).
    "q_fingerprint" -> ((s, d) =>
      // ~length(text) md5s per row: fan the scan when it plans < slots tasks
      FanOut(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"),
          expr("greatest(length(text) - 3, 1)").as("n_shingles"),
          expr("array_min(transform(sequence(1, greatest(length(text) - 3, 1)), i -> md5(substring(text, i, 4))))")
            .as("fp"))
        .orderBy("doc_id")),

    // Repetition quality signals (Gopher-style filters): fraction of
    // repeated words and the share of word 2-grams claimed by the most
    // frequent one — the classic detectors for degenerate/boilerplate text.
    // Word stats are row-local; the top-bigram count is an explode →
    // (doc, gram) partial+final aggregate → per-doc max, every key
    // high-cardinality. Only the max COUNT is emitted (not the gram), so
    // ties cannot make the result nondeterministic.
    // The bigram multiset folds INSIDE the row (graft_top_bigram_count, a
    // codegen'd kernel): the explode → (doc, gram) shuffle → per-doc max →
    // join-back formulation moves ~corpus-sized gram rows through an
    // exchange whose keys never leave their document — at 100 TB that is
    // a corpus-scale shuffle for a row-local statistic. This form is one
    // scan, zero shuffles (output sort aside).
    "q_repetition" -> ((s, d) => {
      graft.functions.TextStats.register(s)
      FanOut(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), expr(words).as("w"))
        .select(col("doc_id"),
          size(col("w")).as("n_words"),
          size(array_distinct(col("w"))).as("n_uniq_words"),
          expr("graft_top_bigram_count(w)").as("top_bigram"))
        .select(col("doc_id"), col("n_words"),
          round(lit(1.0) - col("n_uniq_words").cast("double") /
            nullif(col("n_words"), lit(0)), 4)
            .as("dup_word_frac"),
          col("top_bigram"),
          round(col("top_bigram").cast("double") /
            greatest(col("n_words") - 1, lit(1)), 4).as("top_bigram_frac"))
        .orderBy("doc_id")
    }),

    // Gopher-style rule-based quality FILTER (Rae et al. 2021, table A1
    // analog adapted to the synthetic corpus): where q_quality_score emits
    // raw signals, this emits the curation DECISION — per-rule boolean
    // verdicts and the conjunctive keep flag a pipeline partitions on.
    // Entirely row-local (one scan, zero shuffles): at 100 TB this runs at
    // scan speed and the keep flag drives a pushed-down filter.
    "q_quality_gopher" -> ((s, d) => {
      graft.functions.TextTokenize.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr(s"size($words)").as("n_words"),
          // nullif: zero-word / zero-char docs yield NULL signals (and a
          // false keep via the words_ok conjunct), not an ANSI error
          expr(s"round(aggregate($words, CAST(0 AS BIGINT), (a, x) -> a + length(x)) " +
            s"/ CAST(nullif(size($words), 0) AS DOUBLE), 4)").as("mean_wlen"),
          expr(score(stop, "size")).as("stop_hits"),
          expr("round(CAST(graft_alpha_count(text) AS DOUBLE) / nullif(length(text), 0), 4)")
            .as("alpha_ratio"))
        .withColumn("words_ok", col("n_words").between(30, 10000))
        .withColumn("mean_len_ok", col("mean_wlen").between(3.5, 10.0))
        .withColumn("stop_ok", col("stop_hits") >= 3)
        .withColumn("alpha_ok", col("alpha_ratio") >= 0.75)
        .withColumn("keep",
          col("words_ok") && col("mean_len_ok") && col("stop_ok") && col("alpha_ok"))
        .orderBy("doc_id")
    }),

    // Quality ENSEMBLE — three independent row-local gates (gopher rule
    // conjunction, duplicate-word repetition, char-trigram entropy) vote
    // per document; majority keeps. Single-rule filters each have blind
    // spots (gopher misses fluent spam, entropy misses short off-topic
    // text); the ensemble's agreement stats are the curation dial a pipeline
    // owner actually tunes. Scale shape: every signal folds inside the
    // row (codegen'd kernels), the repetition test is exact integer
    // algebra, and the per-source report is one map-side-combined
    // aggregate — the whole gate runs at scan speed.
    "q_quality_ensemble" -> ((s, d) => {
      graft.functions.TextTokenize.register(s)
      graft.functions.TextStats.register(s)
      val voted = FanOut(Tables.documents(s, d), col("doc_id"))
        .select(col("source"),
          expr(s"size($words)").as("n_words"),
          expr(s"size(array_distinct($words))").as("n_uniq"),
          // nullif: a zero-word / zero-char doc votes false on the gopher
          // gate (NULL signal, false conjunction) instead of throwing
          expr(s"round(aggregate($words, CAST(0 AS BIGINT), (a, x) -> a + length(x)) " +
            s"/ CAST(nullif(size($words), 0) AS DOUBLE), 4)").as("mean_wlen"),
          expr(score(stop, "size")).as("stop_hits"),
          expr("round(CAST(graft_alpha_count(text) AS DOUBLE) / nullif(length(text), 0), 4)")
            .as("alpha_ratio"),
          expr("graft_trigram_stats(text)").as("st"))
        .withColumn("v_gopher",
          (col("n_words").between(30, 10000)
            && col("mean_wlen").between(3.5, 10.0)
            && col("stop_hits") >= 3 && col("alpha_ratio") >= 0.75)
            .cast("int"))
        // duplicate-word share <= 30%, tested in exact integer form
        .withColumn("v_rep",
          ((col("n_words") - col("n_uniq")) * 10 <= col("n_words") * 3)
            .cast("int"))
        .withColumn("v_ent",
          (round(log(col("st.n_grams").cast("double"))
            - col("st.clc") / col("st.n_grams"), 4) >= 2.0).cast("int"))
        .withColumn("votes", col("v_gopher") + col("v_rep") + col("v_ent"))
      voted.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("v_gopher").as("keep_gopher"),
          sum("v_rep").as("keep_rep"),
          sum("v_ent").as("keep_entropy"),
          sum((col("votes") >= 2).cast("long")).as("keep_ensemble"),
          sum((col("votes") === 3).cast("long")).as("unanimous"))
        .orderBy("source")
    }),

    // Cross-document duplicated-span mining — the scalable analog of
    // exact-substring dedup (RefinedWeb/Gopher run suffix arrays; the
    // distributed shape is hashed sliding spans): every 8-word window of
    // every doc, aggregated corpus-wide, keeping spans that appear in >= 2
    // distinct documents — the boilerplate inventory a cleaning pass
    // strips. Scale shape: distinct (span, doc) FIRST (partial map-side
    // combine collapses each doc's in-doc repeats), then one partial+final
    // aggregate per span — no count(DISTINCT) Expand, no second shuffle of
    // raw occurrences. At 100 TB the span key would be xxhash64(span) (8
    // bytes, not ~50-char strings) with strings rejoined only for the
    // surviving top-k; the string key is kept here for the SQL oracle.
    "q_span_dedup" -> ((s, d) =>
      topSpans(spanFrame(s, d))
        .orderBy(desc("df"), desc("n_occ"), asc("span"))
        .limit(20)),

    // The actionable half of span mining: flag each document by how many
    // of its span-positions hit the mined boilerplate inventory, plus the
    // keep verdict a cleaning pass filters on. Scale shape: the inventory
    // is the BOUNDED top-k from q_span_dedup, so it broadcasts onto the
    // corpus-side span stream — no shuffle of the corpus, the join is a
    // broadcast hash probe at scan speed; zero-hit docs ride a cheap
    // left-anti-style coalesce, never a full outer shuffle.
    "q_span_flag" -> ((s, d) => {
      val spans = spanFrame(s, d)
      val boiler = topSpans(spans)
        .orderBy(desc("df"), desc("n_occ"), asc("span")).limit(20)
        .select("span")
      val hits = spans.join(broadcast(boiler), Seq("span"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_boiler_hits"))
      Tables.documents(s, d).select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_boiler_hits"), lit(0L)).as("n_boiler_hits"))
        .withColumn("keep", col("n_boiler_hits") === 0)
        .orderBy("doc_id")
    }),

    // Duplicated-REGION accounting — the per-document completion of span
    // mining: merge every duplicated 8-word span's [pos, pos+8) interval
    // into maximal islands and report how much of each document is
    // cross-document duplicated text (the CCNet/RefinedWeb "dup fraction"
    // cleaning signal; q_span_dedup surfaces WHAT repeats, this says WHERE
    // and HOW MUCH per doc). Scale shape: the duplicated-span inventory is
    // a distinct-first aggregate; spans rejoin it by span key (per
    // OCCURRENCE — no pair expansion); the island merge is the classic
    // prev-max-end window, partitioned by doc_id with frames bounded by
    // the doc's own span count — both windows and the island aggregate
    // share ONE doc_id shuffle, nothing global.
    "q_span_merge" -> ((s, d) => {
      // fan the span explode (8-word windows per position) off the scan's
      // task count; the doc_id fan-out partitioning is the SAME
      // distribution the island windows need, so they ride it for free
      val spans = FanOut(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), expr(words).as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(1, size(w) - 7), i -> array_join(slice(w, i, 8), ' '))"))
          .as(Seq("pos", "span")))
      val dup = spans.select("span", "doc_id").distinct()
        .groupBy("span").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2).select("span")
      val ord = Window.partitionBy("doc_id").orderBy("pos")
      val hits = spans.join(dup, Seq("span"))
        .withColumn("prev_end", max(col("pos") + 8)
          .over(ord.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_isl",
          (col("prev_end").isNull || col("pos") > col("prev_end"))
            .cast("long"))
        .withColumn("island", sum(col("new_isl")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val perDoc = hits.groupBy("doc_id", "island")
        .agg(min("pos").as("st"), max(col("pos") + 8).as("en"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("en") - col("st")).as("dup_words"))
      Tables.documents(s, d)
        .select(col("doc_id"), size(expr(words)).cast("long").as("n_words"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_islands"), lit(0L)).as("n_islands"),
          coalesce(col("dup_words"), lit(0L)).as("dup_words"),
          col("n_words"),
          when(col("n_words") === 0, 0.0).otherwise(
            round(coalesce(col("dup_words"), lit(0L)).cast("double")
              / col("n_words"), 4)).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // Hashing-trick featurization — the text→vector bridge (Weinberger et
    // al. 2009): each doc becomes a 16-dim token-hash count vector (dim =
    // first md5 hex digit of the token) plus its L2 norm, the fixed-width
    // input a downstream similarity/clustering stage consumes without a
    // vocabulary. Entirely row-local (one scan, zero shuffles — at 100 TB
    // featurization runs at scan speed); the count vector is emitted
    // serialized (array_join) per the harness' scalar-columns contract.
    "q_feature_hash" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), expr(words).as("w"))
        // hash each token ONCE (md5 dominates), then fold the cheap digit
        // stream into the 16 bins — the per-dimension-filter formulation
        // re-hashes every token 16 times and benches ~10× slower
        .withColumn("dig", expr(
          "transform(w, t -> CAST(conv(substring(md5(t), 1, 1), 16, 10) AS INT))"))
        .withColumn("fh", expr(
          "aggregate(dig, array_repeat(0, 16), " +
            "(acc, dg) -> transform(acc, (v, i) -> v + IF(i = dg, 1, 0)))"))
        .select(col("doc_id"),
          array_join(col("fh"), ",").as("fh"),
          round(sqrt(expr(
            "aggregate(fh, 0L, (a, x) -> a + CAST(x AS BIGINT) * x)").cast("double")), 4)
            .as("l2"))
        .orderBy("doc_id")),

    // Bounded-memory heavy hitters — the Misra-Gries sketch
    // (functions/HeavyHitters.scala) run as a real aggregate over the
    // corpus word stream: one k-entry map per partition rides Spark's
    // map-side combine, so the exact groupBy's full term shuffle is
    // replaced by k-row partials — the 100 TB shape for "what are the top
    // terms" when the vocabulary itself doesn't fit anywhere. The sketch's
    // retained set depends on partition merge order, so the output
    // surfaces only its partition-INDEPENDENT guarantees, computed against
    // the exact counts in the same query: every term with cnt > n/k must
    // be present (in_sketch), never overcounted, and undercounted by at
    // most n/k (bound_ok). The oracle re-derives the exact heavy-hitter
    // table and asserts both verdicts — a broken sketch turns rows red.
    "q_heavy_hitters" -> ((s, d) => {
      graft.functions.HeavyHittersAgg.register(s)
      val k = graft.functions.HeavyHittersAgg.defaultK
      val terms = Tables.documents(s, d)
        .select(explode(expr(words)).as("term"))
      val sketch = terms.agg(expr("mg_sketch(term)").as("mg"),
        count(lit(1)).as("n"))
      val exact = terms.groupBy("term").agg(count(lit(1)).as("cnt"))
      exact.crossJoin(sketch)
        .filter(col("cnt") > col("n") / lit(k.toDouble))
        // try_element_at, not element_at: under Spark 4's default ANSI
        // mode a missing map key THROWS — which would crash the query on
        // exactly the broken-sketch regression the in_sketch=0 verdict
        // exists to surface (review finding)
        .select(col("term"), col("cnt"), col("n").as("n_terms"),
          expr("try_element_at(mg, term)").isNotNull.cast("int")
            .as("in_sketch"),
          (coalesce(expr("try_element_at(mg, term)"), lit(0L)) <= col("cnt")
            && col("cnt") - coalesce(expr("try_element_at(mg, term)"), lit(0L))
              <= col("n") / lit(k.toDouble)).cast("int").as("bound_ok"))
        .orderBy(desc("cnt"), asc("term"))
    }),

    // The sketch in its most realistic deployment: PER-GROUP heavy hitters
    // (per-source vocabulary profiling — "what does each corpus slice talk
    // about"). One mg_sketch aggregate per source rides the same
    // partial-aggregation tree, so state is k entries PER GROUP per
    // partition — the per-language/per-domain top-terms job that cannot
    // exact-groupBy a 100 TB (source, term) space. Same
    // partition-independent guarantees as q_heavy_hitters, now asserted
    // within each group against that group's own n/k threshold.
    "q_heavy_hitters_grouped" -> ((s, d) => {
      graft.functions.HeavyHittersAgg.register(s)
      val k = graft.functions.HeavyHittersAgg.defaultK
      val terms = Tables.documents(s, d)
        .select(col("source"), explode(expr(words)).as("term"))
      val sk = terms.groupBy("source")
        .agg(expr("mg_sketch(term)").as("mg"), count(lit(1)).as("n"))
      val exact = terms.groupBy("source", "term")
        .agg(count(lit(1)).as("cnt"))
      exact.join(sk, "source")
        .filter(col("cnt") > col("n") / lit(k.toDouble))
        .select(col("source"), col("term"), col("cnt"),
          // try_element_at: same ANSI missing-key rationale as
          // q_heavy_hitters
          expr("try_element_at(mg, term)").isNotNull.cast("int")
            .as("in_sketch"),
          (coalesce(expr("try_element_at(mg, term)"), lit(0L)) <= col("cnt")
            && col("cnt") - coalesce(expr("try_element_at(mg, term)"), lit(0L))
              <= col("n") / lit(k.toDouble)).cast("int").as("bound_ok"))
        .orderBy(asc("source"), desc("cnt"), asc("term"))
    }),

    // CCNet-style duplicated-segment REMOVAL — where q_span_flag only emits
    // a keep verdict, this actually rewrites the corpus: documents are cut
    // into NON-OVERLAPPING 8-word blocks (the segment analog of CCNet's
    // paragraph hashing — this corpus has no newlines, so fixed word blocks
    // are the deterministic segmentation), any block appearing in >= 2
    // distinct documents is stripped from every document, and the surviving
    // blocks are reassembled in order as the cleaned text. Scale shape:
    // blocks are (doc, pos, text) rows — the duplicated-block inventory is
    // a distinct-first two-level aggregate (in-doc repeats collapse
    // map-side, no count-distinct Expand), the strip is one equi-join on
    // the block key (at 100 TB the key is xxhash64(block), 8 bytes), and
    // reassembly is one per-doc aggregate whose buffer is bounded by the
    // document's own block count. No window, no driver collect.
    "q_strip_boilerplate" -> ((s, d) =>
      stripBoilerplate(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // Fixed-window token chunking with stride — the doc→training-sample
    // cut every pretraining pipeline runs (context windows of C tokens,
    // overlapping by C−S so no boundary context is lost; the final window
    // is allowed to run short so trailing tokens are never dropped).
    // Window C=16 words, stride S=8 at this corpus' doc lengths. Entirely
    // row-local (explode over per-row start offsets — zero shuffles except
    // the output sort): at 100 TB chunking runs at scan speed and the
    // output is immediately shard-writable.
    "q_chunk_stride" -> ((s, d) =>
      chunkStride(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id", "chunk_id")),

    // END-TO-END pretraining prep — the composition a real corpus run
    // executes as ONE lazy plan: strip cross-doc boilerplate blocks
    // (stripBoilerplate) → Gopher-rule quality gate on the CLEANED text
    // (fully-stripped docs die here: empty text fails the word-count
    // rule) → cut survivors into stride-8 context windows (chunkStride)
    // → greedy-pack the chunks into 256-token training sequences
    // (packSequences, 16 hash buckets). Every stage keeps its individual
    // operator's scale shape — block equi-join, row-local gate, row-local
    // chunking, bucketed running-sum packing — so the composition
    // introduces NO new shuffle beyond its parts, and Catalyst pipelines
    // the gate into the chunk explode. Output is the pack manifest
    // (bucket, pack_id, n_chunks, pack_tokens); the DuckDB oracle
    // recomputes the entire four-stage chain.
    "q_pipeline_pretrain" -> ((s, d) => {
      graft.functions.TextTokenize.register(s)
      val stripped = stripBoilerplate(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("clean_text").as("text"))
      val kept = stripped
        .withColumn("n_words", expr(s"size($words)"))
        .filter(col("n_words").between(30, 10000))
        // divisors guarded with greatest(., 1): identical for every row
        // that can pass the word-count rule, and Catalyst is free to
        // reorder the (ANSI) division past the filter without tripping
        // DIVIDE_BY_ZERO on fully-stripped empty docs
        .withColumn("mean_wlen",
          expr(s"round(aggregate($words, CAST(0 AS BIGINT), (a, x) -> a + length(x)) " +
            s"/ CAST(greatest(size($words), 1) AS DOUBLE), 4)"))
        .withColumn("stop_hits", expr(score(stop, "size")))
        .withColumn("alpha_ratio",
          expr("round(CAST(graft_alpha_count(text) AS DOUBLE) / greatest(length(text), 1), 4)"))
        .filter(col("mean_wlen").between(3.5, 10.0) &&
          col("stop_hits") >= 3 && col("alpha_ratio") >= 0.75)
        .select("doc_id", "text")
      val chunks = chunkStride(kept, "doc_id", "text")
      // ×10000, not ×1000: the words_ok gate admits up to 10000 words →
      // 1249 chunks, so a ×1000 key COLLIDED doc N's chunk 1000 with doc
      // N+1's chunk 0 — duplicate cids make the pack window tie-ordered
      // (nondeterministic vs the oracle) and mis-attribute chunks (review
      // finding). 10000 > max chunk_id keeps (doc, chunk) injective;
      // precondition |doc_id| < 2^63/10⁴ ≈ 9.2e14, comfortable for any
      // row-numbered corpus id space.
      Curation.packSequences(
          chunks.select((col("doc_id") * 10000 + col("chunk_id")).as("cid"),
            col("n_tokens")),
          "cid", "n_tokens", 256L, 16)
        .select(col("bucket"), col("pack_id"),
          col("n_docs").as("n_chunks"), col("pack_tokens"))
        .orderBy("bucket", "pack_id")
    }),

    // Character-trigram Shannon entropy per doc — low entropy flags
    // repetitive/degenerate text, high entropy flags binary-ish noise;
    // a standard cheap quality gate next to perplexity.
    // H = ln n − Σ c·ln c / n, rounded to 4dp (transcendental-sum
    // precedent as q_perplexity). The trigram counts fold INSIDE the row
    // (graft_trigram_stats): the explode → groupBy (doc_id, gram)
    // formulation shuffles one row per CHARACTER of the corpus — ~3× the
    // corpus bytes at 100 TB — for a statistic whose keys never leave
    // their document. This form is a pure scan, zero shuffles.
    "q_ngram_entropy" -> ((s, d) => {
      graft.functions.TextStats.register(s)
      // the per-doc trigram fold is the whole cost — fan it when the scan
      // plans < slots tasks (no-op at scale, see FanOut)
      FanOut(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), expr("graft_trigram_stats(text)").as("st"))
        .select(col("doc_id"),
          col("st.n_grams").as("n_grams"),
          col("st.n_uniq_grams").as("n_uniq_grams"),
          round(log(col("st.n_grams").cast("double")) -
            col("st.clc") / col("st.n_grams"), 4).as("entropy"))
        .orderBy("doc_id")
    }),

    // BPE merge-pair counting — the inner loop of byte-pair-encoding
    // tokenizer training: the corpus-wide frequency of every adjacent
    // character pair, top-20 (ties broken by pair text, so the cut is
    // deterministic). The scale move is the same one real BPE trainers
    // make: aggregate the corpus to its DISTINCT word vocabulary first
    // (Zipf: the vocab is orders of magnitude smaller than the corpus),
    // then generate pairs row-locally over vocab entries weighted by word
    // count — the per-character explode happens on the vocabulary, never
    // on the 100 TB token stream.
    "q_bpe_pairs" -> ((s, d) => {
      // named to NOT shadow the object-level `words` expression string —
      // the shadow forced an inline duplicate of the tokenization that a
      // future edit to the shared definition would silently miss
      val wordRows = Tables.documents(s, d)
        .select(explode(expr(words)).as("w"))
      val wc = wordRows.groupBy("w").agg(count(lit(1)).as("c"))
      wc.filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"), col("c"))
        .groupBy("pair").agg(sum("c").as("freq"))
        .orderBy(desc("freq"), asc("pair"))
        .limit(20)
    }),

    // Pointwise mutual information over adjacent word pairs — the
    // collocation detector ("new york" ≫ chance) used for phrase mining
    // and tokenizer-vocabulary seeding. PMI = ln(N·c_ab / (c_a·c_b)) on
    // EXACT integer counts (one ln per surviving pair, 4 dp). Scale
    // shape: pair formation is row-local (transform over each doc's word
    // array); unigram and pair counts are map-side-combined aggregates;
    // the unigram table joins the bounded (freq ≥ 20) pair survivors —
    // Zipf head, broadcast-sized at any corpus — and the top-20 is a
    // TakeOrdered heap.
    "q_cooccur_pmi" -> ((s, d) => {
      val docsW = Tables.documents(s, d).select(expr(words).as("w"))
      val uni = docsW.select(explode(col("w")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
      val tot = docsW.agg(sum(size(col("w"))).as("n"))
      val pairs = docsW.filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> named_struct('t1', element_at(w, i), 't2', element_at(w, i + 1)))"))
          .as("p"))
        .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 20)
      pairs
        .join(uni.select(col("t").as("t1"), col("c").as("c_a")), Seq("t1"))
        .join(uni.select(col("t").as("t2"), col("c").as("c_b")), Seq("t2"))
        .crossJoin(broadcast(tot))
        .select(col("t1"), col("t2"), col("c_ab"), col("c_a"), col("c_b"),
          // c_a·c_b in DOUBLE: Zipf-head unigram counts at 100 TB reach
          // ~1e12, whose BIGINT product (~1e24) overflows int64 and under
          // ANSI mode aborts the query for exactly the most frequent
          // pairs — the double product loses ulps, not the query
          round(log(col("n").cast("double") * col("c_ab")
            / (col("c_a").cast("double") * col("c_b"))), 4).as("pmi"))
        .orderBy(desc("pmi"), desc("c_ab"), asc("t1"), asc("t2"))
        .limit(20)
    }),

    // Zipf-law fit — least-squares slope of ln(freq) over ln(rank) for
    // the top-100 terms, the one-number sanity check that a corpus has a
    // natural-language frequency profile (slope ≈ −1) rather than
    // template spam. Scale shape: term counts are one map-side-combined
    // aggregate, the top-100 cut is a TakeOrdered heap with a
    // deterministic (freq, term) tie-break, and the regression runs over
    // the BOUNDED 100-row frame in a single closed-form aggregate.
    "q_zipf_fit" -> ((s, d) => {
      val top = Tables.documents(s, d)
        .select(explode(expr(words)).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("t")).limit(100)
      val rw = Window.orderBy(desc("c"), asc("t"))
      top.withColumn("r", row_number().over(rw))
        .select(log(col("r").cast("double")).as("x"),
          log(col("c").cast("double")).as("y"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        // zero denominators (all-equal counts → syy degenerate; n=1 →
        // sxx degenerate) must yield NULL, not NaN: DuckDB's `/` returns
        // NULL on a zero divisor while Spark's ANSI double division
        // returns NaN — the one value that hash-diverges between engines
        // on a degenerate corpus (review finding)
        .withColumn("sld", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("r2d",
          col("sld") * (col("n") * col("syy") - col("sy") * col("sy")))
        .withColumn("sl", when(col("sld") =!= 0.0,
          (col("n") * col("sxy") - col("sx") * col("sy")) / col("sld")))
        .select(col("n").as("n_terms"),
          round(col("sl"), 4).as("slope"),
          round((col("sy") - col("sl") * col("sx")) / col("n"), 4)
            .as("intercept"),
          round(when(col("r2d") =!= 0.0,
            pow(col("n") * col("sxy") - col("sx") * col("sy"), 2)
              / col("r2d")), 4)
            .as("r2"))
    }),

    // BPE tokenizer TRAINING — the full iterative merge loop, not just one
    // round of pair counts (q_bpe_pairs): 5 greedy merges, each picking
    // the corpus-wide most frequent adjacent symbol pair (ties to the
    // lexicographically first) and fusing it across the vocabulary.
    // Output = the learned merge table, the artifact a tokenizer ships.
    // Scale shape: trains on the DISTINCT word vocabulary weighted by
    // count (Zipf: orders of magnitude smaller than the corpus — the same
    // move every real BPE trainer makes); each round is one row-local pair
    // explode + one map-side-combined aggregate + a 1-ROW collect (the
    // winning pair — control flow only, like a KMeans centroid pull);
    // merge application is a row-local string rewrite on the persisted
    // vocab. Symbols ride a '|'-sentinel encoding; the rewrite applies
    // replace() 3× so odd-aligned runs fuse — a deterministic greedy
    // variant mirrored EXACTLY by the oracle (both engines scan
    // left-to-right, non-overlapping).
    "q_bpe_train" -> ((s, d) => {
      import s.implicits._
      bpeMerges(s, d).toDF("iter", "lhs", "rhs", "merged", "freq")
    }),

    // BPE tokenizer APPLICATION — the deploy half of q_bpe_train: rewrite
    // the vocabulary with the learned merge table and report the corpus
    // compression it buys (chars → tokens). Scale shape: the merge table
    // is 5 driver-side strings (memoized per session/corpus, the KMeans-
    // centroid pattern); application is a row-local replace chain over
    // the DISTINCT vocabulary, and corpus totals are count-weighted
    // map-side-combined sums — exact integers with ONE final division, so
    // the ratio is bit-identical in any engine.
    "q_bpe_apply" -> ((s, d) => {
      val ms = bpeMerges(s, d)
      // ride the SAME persisted char vocabulary the trainer just used
      // (r13): the r12 shape rebuilt it from scratch — a second documents
      // scan + explode + groupBy(w) inside the same query — because the
      // trainer's persist was private and dropped on exit. seq0 (the
      // frozen char-level encoding) is just the cached pre-merge seq.
      var vocab = cachedCharVocab(s, d)
        .select(col("c"), col("seq"), col("seq").as("seq0"))
      for ((_, l, r, m, _) <- ms) {
        val from = lit("|" + l + "|" + r + "|"); val to = lit("|" + m + "|")
        vocab = vocab.withColumn("seq",
          replace(replace(replace(col("seq"), from, to), from, to), from, to))
      }
      vocab
        .select(col("c"),
          expr("size(filter(split(seq, '\\\\|'), x -> length(x) > 0))")
            .cast("long").as("toks"),
          expr("size(filter(split(seq0, '\\\\|'), x -> length(x) > 0))")
            .cast("long").as("chars"))
        .agg(count(lit(1)).as("n_vocab"),
          sum("c").as("n_words"),
          sum(col("c") * col("chars")).as("chars_total"),
          sum(col("c") * col("toks")).as("tokens_total"))
        .select(col("n_vocab"), col("n_words"), col("chars_total"),
          col("tokens_total"),
          (col("chars_total").cast("double") / col("tokens_total"))
            .as("compression"))
    })
  )

  /** (c, seq): distinct-word counts with the char-level symbol encoding —
    * the BPE working set. ONE persisted copy per (session, dir), shared by
    * the trainer ([[bpeMerges]]) and the applier (q_bpe_apply), which
    * previously each rebuilt it with their own documents scan + explode +
    * groupBy(w). Cleared (with unpersist) by [[clearCaches]], which
    * Harness.clearResidue calls between timed runs — each bench timing
    * still pays one full build. */
  private def bpeCharVocab(s: SparkSession, d: String) =
    Tables.documents(s, d)
      .select(explode(expr(words)).as("w"))
      .filter(!col("w").contains("|")) // '|' is the symbol sentinel
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(col("c"),
        concat(lit("|"), regexp_replace(col("w"), "(.)", "$1|")).as("seq"))

  private val vocabCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), org.apache.spark.sql.DataFrame]

  private def cachedCharVocab(s: SparkSession, d: String) =
    vocabCache.getOrElseUpdate((s, d), bpeCharVocab(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private val bpeCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Seq[(Int, String, String, String, Long)]]

  /** Drop memoized BPE merge tables and the persisted char vocabulary
    * (test/bench isolation hook — the Similarity.centroidCache pattern;
    * eviction is atomic per key: remove, then unpersist the removed
    * value). */
  def clearCaches(): Unit = {
    bpeCache.clear()
    vocabCache.keys.foreach(k =>
      vocabCache.remove(k).foreach(_.unpersist(blocking = false)))
  }

  /** Session-scoped eviction (merge tables are driver-side Seqs — no
    * unpersist needed; the vocab frame releases its executor blocks). */
  def clearCaches(session: org.apache.spark.sql.SparkSession): Unit = {
    bpeCache.keys.filter(_._1 eq session).foreach(bpeCache.remove)
    vocabCache.keys.filter(_._1 eq session).foreach(k =>
      vocabCache.remove(k).foreach(_.unpersist(blocking = false)))
  }

  /** The training loop behind q_bpe_train/q_bpe_apply, memoized per
    * (session, corpus): 5 greedy rounds, each one row-local pair explode +
    * one map-side-combined aggregate + a 1-row winning-pair collect. */
  private def bpeMerges(s: SparkSession, d: String)
      : Seq[(Int, String, String, String, Long)] =
    bpeCache.getOrElseUpdate((s, d), {
      val wc = cachedCharVocab(s, d)
      var vocab: org.apache.spark.sql.DataFrame = wc
      val merges = Seq.newBuilder[(Int, String, String, String, Long)]
      // stop early when no mergeable pair remains (empty corpus, or every
      // word fused to a single symbol) — the greedy pick is total
      var exhausted = false
      for (i <- 1 to 5 if !exhausted) {
        val topOpt = vocab
          .select(col("c"),
            expr("filter(split(seq, '\\\\|'), x -> length(x) > 0)").as("sy"))
          .filter(size(col("sy")) >= 2)
          .select(col("c"), explode(expr(
            "transform(sequence(1, size(sy) - 1), " +
              "j -> concat(element_at(sy, j), '|', element_at(sy, j + 1)))"))
            .as("pair"))
          .groupBy("pair").agg(sum("c").as("freq"))
          .orderBy(desc("freq"), asc("pair")).limit(1)
          .collect().headOption
        topOpt match {
          case None => exhausted = true
          case Some(top) =>
            val pair = top.getString(0)
            val Array(l, r) = pair.split("\\|", 2)
            merges += ((i, l, r, l + r, top.getLong(1)))
            val from = lit("|" + pair + "|"); val to = lit("|" + l + r + "|")
            vocab = vocab.withColumn("seq",
              replace(replace(replace(col("seq"), from, to), from, to), from, to))
        }
      }
      // no unpersist: the vocab is the shared memo now (q_bpe_apply reads
      // it right after training); clearCaches releases it
      merges.result()
    })

  /** The BPE oracle's per-iteration CTE triple (pair counts → top-1 pick →
    * vocab rewrite), unrolled — replays the exact greedy recurrence,
    * including the 3× replace() merge application. */
  private def bpeIter(i: Int): String = {
    val rw = "'|' || pair || '|', '|' || replace(pair, '|', '') || '|'"
    s"p$i AS (SELECT pair, CAST(sum(c) AS BIGINT) AS freq FROM " +
      s"(SELECT c, unnest([sy[j+1] || '|' || sy[j+2] for j in range(len(sy)-1)]) AS pair " +
      s"FROM (SELECT c, list_filter(string_split(seq, '|'), x -> length(x) > 0) AS sy " +
      s"FROM v${i - 1}) WHERE len(sy) >= 2) GROUP BY pair), " +
      s"t$i AS (SELECT pair, freq FROM p$i ORDER BY freq DESC, pair LIMIT 1), " +
      // LEFT JOIN ON true, not a comma cross join: when the merges
      // exhaust before round 5 (tiny vocabulary), t$i is EMPTY and a
      // cross join would wipe v$i — and every later vocabulary — to zero
      // rows, failing parity against Spark's early-stop trainer (review
      // finding); with no winning pair the round is a no-op rewrite
      s"v$i AS (SELECT w, c, CASE WHEN pair IS NULL THEN seq " +
      s"ELSE replace(replace(replace(seq, $rw), $rw), $rw) END AS seq " +
      s"FROM v${i - 1} LEFT JOIN t$i ON true)"
  }

  /** Shared WITH prefix for the two BPE oracles: char-encoded vocabulary +
    * the 5 unrolled merge iterations. */
  private def bpeChain: String =
    s"WITH w0 AS (SELECT w, count(*) AS c FROM " +
      s"(SELECT unnest($duckWords) AS w FROM documents) " +
      "WHERE NOT contains(w, '|') GROUP BY w), " +
      raw"v0 AS (SELECT w, c, '|' || regexp_replace(w, '(.)', '\1|', 'g') AS seq FROM w0), " +
      (1 to 5).map(bpeIter).mkString(", ")

  private val duckToks =
    "list_filter(str_split_regex(text, '[^a-zA-Z0-9]+'), x -> length(x) > 0)"
  private val duckWords =
    "list_filter(string_split(text, ' '), x -> length(x) > 0)"

  private val duckCase =
    "CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de' " +
      "WHEN s_en >= s_es AND s_en >= s_fr THEN 'en' " +
      "WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END"

  val oracle: Map[String, String] = Map(
    "q_heavy_hitters" ->
      (s"WITH terms AS (SELECT unnest($duckWords) AS term FROM documents), " +
        "n AS (SELECT count(*) AS n FROM terms), " +
        "exact AS (SELECT term, count(*) AS cnt FROM terms GROUP BY term) " +
        "SELECT term, cnt, n.n AS n_terms, 1 AS in_sketch, 1 AS bound_ok " +
        // defaultK interpolated, not hardcoded: a k bump must move both
        // engines' thresholds together or verification fails with no
        // code-level hint why (review finding)
        s"FROM exact, n WHERE cnt > n.n / ${graft.functions.HeavyHittersAgg.defaultK}.0 " +
        "ORDER BY cnt DESC, term ASC"),
    "q_heavy_hitters_grouped" ->
      (s"WITH terms AS (SELECT source, unnest($duckWords) AS term FROM documents), " +
        "n AS (SELECT source, count(*) AS n FROM terms GROUP BY source), " +
        "exact AS (SELECT source, term, count(*) AS cnt FROM terms GROUP BY source, term) " +
        "SELECT exact.source, term, cnt, 1 AS in_sketch, 1 AS bound_ok " +
        "FROM exact JOIN n ON exact.source = n.source " +
        s"WHERE cnt > n.n / ${graft.functions.HeavyHittersAgg.defaultK}.0 " +
        "ORDER BY exact.source ASC, cnt DESC, term ASC"),
    "q_bpe_pairs" ->
      ("WITH words AS (SELECT unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS w FROM documents), " +
        "wc AS (SELECT w, count(*) AS c FROM words GROUP BY w), " +
        "pairs AS (SELECT unnest([substr(w, i+1, 2) for i in range(length(w)-1)]) AS pair, c " +
        "FROM wc WHERE length(w) >= 2) " +
        "SELECT pair, CAST(sum(c) AS BIGINT) AS freq FROM pairs " +
        "GROUP BY pair ORDER BY freq DESC, pair ASC LIMIT 20"),
    "q_fertility" ->
      ("SELECT coalesce(lang, 'unknown') AS lang, count(*) AS n_docs, " +
        "CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS total_chars, " +
        s"CAST(coalesce(sum(len($duckToks)), 0) AS BIGINT) AS total_tokens, " +
        s"CASE WHEN coalesce(sum(len($duckToks)), 0) > 0 " +
        s"THEN CAST(coalesce(sum(length(text)), 0) AS BIGINT) * 1000 // CAST(sum(len($duckToks)) AS BIGINT) " +
        "ELSE CAST(0 AS BIGINT) END AS cpt_milli " +
        "FROM documents GROUP BY 1 ORDER BY lang"),
    "q_token_count" ->
      (s"SELECT doc_id, CAST(len($duckToks) AS INTEGER) AS n_tokens, " +
        s"CAST(len(list_distinct($duckToks)) AS INTEGER) AS n_uniq_tokens, " +
        s"CAST(len($duckWords) AS INTEGER) AS n_words " +
        "FROM documents ORDER BY doc_id"),
    "q_quality_score" ->
      (s"SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars, " +
        s"CAST(len($duckWords) AS INTEGER) AS n_words, " +
        s"round(CAST(length(text) AS DOUBLE) / nullif(len($duckWords), 0), 4) AS avg_word_len, " +
        s"round(CAST(${scoreDuck(stop)} AS DOUBLE) / nullif(len($duckWords), 0), 4) AS stopword_ratio, " +
        "round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / nullif(length(text), 0), 4) AS alpha_ratio " +
        "FROM documents ORDER BY doc_id"),
    "q_lang_id" ->
      ("WITH scored AS (SELECT doc_id, lang, " +
        langWords.map { case (l, ws) =>
          s"CAST(${scoreDuck(ws)} AS INTEGER) AS s_$l" }.mkString(", ") +
        " FROM documents) " +
        s"SELECT doc_id, s_de, s_en, s_es, s_fr, $duckCase AS pred, " +
        s"($duckCase) = lang AS correct FROM scored ORDER BY doc_id"),
    "q_fingerprint" ->
      ("SELECT doc_id, n_shingles, " +
        "min(md5(substr(text, CAST(i AS INTEGER), 4))) AS fp FROM " +
        "(SELECT doc_id, text, CAST(greatest(length(text) - 3, 1) AS INTEGER) AS n_shingles, " +
        "unnest(generate_series(1, greatest(length(text) - 3, 1))) AS i FROM documents) " +
        "GROUP BY doc_id, n_shingles ORDER BY doc_id"),
    "q_repetition" ->
      (s"WITH base AS (SELECT doc_id, $duckWords AS w FROM documents), " +
        "stats AS (SELECT doc_id, CAST(len(w) AS INTEGER) AS n_words, " +
        "CAST(len(list_distinct(w)) AS INTEGER) AS n_uniq_words FROM base), " +
        "grams AS (SELECT doc_id, concat_ws(' ', w[i], w[i + 1]) AS gram FROM " +
        "(SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i FROM base)), " +
        "gc AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram), " +
        "top AS (SELECT doc_id, max(c) AS top_bigram FROM gc GROUP BY doc_id) " +
        "SELECT s.doc_id, s.n_words, " +
        "round(1.0 - CAST(n_uniq_words AS DOUBLE) / nullif(n_words, 0), 4) AS dup_word_frac, " +
        "CAST(top_bigram AS BIGINT) AS top_bigram, " +
        "round(CAST(top_bigram AS DOUBLE) / greatest(n_words - 1, 1), 4) AS top_bigram_frac " +
        "FROM stats s JOIN top t ON s.doc_id = t.doc_id ORDER BY s.doc_id"),
    "q_quality_ensemble" ->
      ("WITH tri AS (SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS gram FROM " +
        "(SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 2, 1))) AS i FROM documents)), " +
        "gc AS (SELECT doc_id, gram, count(*) AS c FROM tri GROUP BY 1, 2), " +
        "ent AS (SELECT doc_id, round(ln(CAST(sum(c) AS DOUBLE)) " +
        "- sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / sum(c), 4) AS entropy " +
        "FROM gc GROUP BY doc_id), " +
        "v AS (SELECT d.source, " +
        s"CASE WHEN (len($duckWords) BETWEEN 30 AND 10000) AND " +
        s"(round(list_sum(list_transform($duckWords, x -> length(x))) " +
        s"/ CAST(nullif(len($duckWords), 0) AS DOUBLE), 4) BETWEEN 3.5 AND 10.0) AND " +
        s"(${scoreDuck(stop)} >= 3) AND " +
        "(round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / nullif(length(text), 0), 4) >= 0.75) " +
        "THEN 1 ELSE 0 END AS v_gopher, " +
        s"CASE WHEN (len($duckWords) - len(list_distinct($duckWords))) * 10 " +
        s"<= len($duckWords) * 3 THEN 1 ELSE 0 END AS v_rep, " +
        "CASE WHEN e.entropy >= 2.0 THEN 1 ELSE 0 END AS v_ent " +
        "FROM documents d JOIN ent e ON d.doc_id = e.doc_id) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(v_gopher) AS BIGINT) AS keep_gopher, " +
        "CAST(sum(v_rep) AS BIGINT) AS keep_rep, " +
        "CAST(sum(v_ent) AS BIGINT) AS keep_entropy, " +
        "count(*) FILTER (v_gopher + v_rep + v_ent >= 2) AS keep_ensemble, " +
        "count(*) FILTER (v_gopher + v_rep + v_ent = 3) AS unanimous " +
        "FROM v GROUP BY source ORDER BY source"),
    "q_quality_gopher" ->
      (s"SELECT doc_id, CAST(len($duckWords) AS INTEGER) AS n_words, " +
        s"round(list_sum(list_transform($duckWords, x -> length(x))) " +
        s"/ CAST(nullif(len($duckWords), 0) AS DOUBLE), 4) AS mean_wlen, " +
        s"CAST(${scoreDuck(stop)} AS INTEGER) AS stop_hits, " +
        "round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / nullif(length(text), 0), 4) AS alpha_ratio, " +
        s"len($duckWords) BETWEEN 30 AND 10000 AS words_ok, " +
        s"round(list_sum(list_transform($duckWords, x -> length(x))) " +
        s"/ CAST(nullif(len($duckWords), 0) AS DOUBLE), 4) BETWEEN 3.5 AND 10.0 AS mean_len_ok, " +
        s"${scoreDuck(stop)} >= 3 AS stop_ok, " +
        "round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / nullif(length(text), 0), 4) >= 0.75 AS alpha_ok, " +
        s"(len($duckWords) BETWEEN 30 AND 10000) AND " +
        s"(round(list_sum(list_transform($duckWords, x -> length(x))) " +
        s"/ CAST(nullif(len($duckWords), 0) AS DOUBLE), 4) BETWEEN 3.5 AND 10.0) AND " +
        s"(${scoreDuck(stop)} >= 3) AND " +
        "(round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / nullif(length(text), 0), 4) >= 0.75) AS keep " +
        "FROM documents ORDER BY doc_id"),
    "q_cooccur_pmi" ->
      (s"WITH dw AS (SELECT $duckWords AS w FROM documents), " +
        "uni AS (SELECT unnest(w) AS t FROM dw), " +
        "uc AS (SELECT t, count(*) AS c FROM uni GROUP BY t), " +
        "tot AS (SELECT CAST(sum(len(w)) AS BIGINT) AS n FROM dw), " +
        "pr AS (SELECT unnest([{'t1': w[i+1], 't2': w[i+2]} for i in range(len(w)-1)], recursive := true) " +
        "FROM dw WHERE len(w) >= 2), " +
        "pc AS (SELECT t1, t2, count(*) AS c_ab FROM pr GROUP BY 1, 2 HAVING count(*) >= 20) " +
        "SELECT t1, t2, c_ab, ca.c AS c_a, cb.c AS c_b, " +
        "round(ln(n * 1.0 * c_ab / (ca.c * 1.0 * cb.c)), 4) AS pmi " +
        "FROM pc JOIN uc ca ON pc.t1 = ca.t JOIN uc cb ON pc.t2 = cb.t, tot " +
        "ORDER BY pmi DESC, c_ab DESC, t1, t2 LIMIT 20"),
    "q_zipf_fit" ->
      (s"WITH tc AS (SELECT t, count(*) AS c FROM " +
        s"(SELECT unnest($duckWords) AS t FROM documents) GROUP BY t " +
        "ORDER BY c DESC, t LIMIT 100), " +
        "xy AS (SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, t) AS DOUBLE)) AS x, " +
        "ln(CAST(c AS DOUBLE)) AS y FROM tc), " +
        "a AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, " +
        "sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy FROM xy), " +
        "sl AS (SELECT *, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS s FROM a) " +
        "SELECT n AS n_terms, round(s, 4) AS slope, " +
        "round((sy - s * sx) / n, 4) AS intercept, " +
        "round(pow(n * sxy - sx * sy, 2) " +
        "/ ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2 FROM sl"),
    "q_bpe_apply" ->
      (bpeChain + ", " +
        "tk AS (SELECT c, " +
        "len(list_filter(string_split(seq, '|'), x -> length(x) > 0)) AS na, " +
        raw"len(list_filter(string_split('|' || regexp_replace(w, '(.)', '\1|', 'g'), '|'), x -> length(x) > 0)) AS nb " +
        "FROM v5), " +
        "agg AS (SELECT CAST(count(*) AS BIGINT) AS n_vocab, " +
        "CAST(sum(c) AS BIGINT) AS n_words, " +
        "CAST(sum(c * nb) AS BIGINT) AS chars_total, " +
        "CAST(sum(c * na) AS BIGINT) AS tokens_total FROM tk) " +
        "SELECT n_vocab, n_words, chars_total, tokens_total, " +
        "CAST(chars_total AS DOUBLE) / tokens_total AS compression FROM agg"),
    "q_bpe_train" ->
      (bpeChain + " " +
        "SELECT * FROM (" +
        (1 to 5).map { i =>
          s"SELECT CAST($i AS INTEGER) AS iter, " +
            "split_part(pair, '|', 1) AS lhs, split_part(pair, '|', 2) AS rhs, " +
            s"replace(pair, '|', '') AS merged, freq FROM t$i"
        }.mkString(" UNION ALL ") +
        ") ORDER BY iter"),
    "q_span_merge" ->
      (s"WITH base AS (SELECT doc_id, $duckWords AS w FROM documents), " +
        "spans AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, " +
        "array_to_string(w[CAST(i AS INTEGER):CAST(i AS INTEGER) + 7], ' ') AS span " +
        "FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i " +
        "FROM base WHERE len(w) >= 8)), " +
        "dup AS (SELECT span FROM (SELECT span, doc_id FROM spans GROUP BY 1, 2) " +
        "GROUP BY span HAVING count(*) >= 2), " +
        "hits AS (SELECT s.doc_id, s.pos FROM spans s JOIN dup USING (span)), " +
        "isl AS (SELECT doc_id, pos, CASE WHEN " +
        "max(pos + 8) OVER w IS NULL OR pos > max(pos + 8) OVER w " +
        "THEN 1 ELSE 0 END AS new_isl FROM hits " +
        "WINDOW w AS (PARTITION BY doc_id ORDER BY pos " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), " +
        "isl2 AS (SELECT doc_id, pos, sum(new_isl) OVER " +
        "(PARTITION BY doc_id ORDER BY pos) AS island FROM isl), " +
        "merged AS (SELECT doc_id, island, min(pos) AS st, max(pos + 8) AS en " +
        "FROM isl2 GROUP BY 1, 2), " +
        "per_doc AS (SELECT doc_id, count(*) AS n_islands, " +
        "sum(en - st) AS dup_words FROM merged GROUP BY 1), " +
        s"nw AS (SELECT doc_id, len($duckWords) AS n_words FROM documents) " +
        "SELECT nw.doc_id, CAST(coalesce(n_islands, 0) AS BIGINT) AS n_islands, " +
        "CAST(coalesce(dup_words, 0) AS BIGINT) AS dup_words, " +
        "CAST(n_words AS BIGINT) AS n_words, " +
        "CASE WHEN n_words = 0 THEN 0.0 " +
        "ELSE round(coalesce(dup_words, 0) * 1.0 / n_words, 4) END AS dup_frac " +
        "FROM nw LEFT JOIN per_doc ON nw.doc_id = per_doc.doc_id " +
        "ORDER BY nw.doc_id"),
    "q_span_dedup" ->
      (s"WITH base AS (SELECT doc_id, $duckWords AS w FROM documents), " +
        "spans AS (SELECT doc_id, array_to_string(w[CAST(i AS INTEGER):CAST(i AS INTEGER) + 7], ' ') AS span " +
        "FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i FROM base WHERE len(w) >= 8)), " +
        "per_doc AS (SELECT span, doc_id, count(*) AS occ FROM spans GROUP BY span, doc_id) " +
        "SELECT span, count(*) AS df, CAST(sum(occ) AS BIGINT) AS n_occ " +
        "FROM per_doc GROUP BY span HAVING count(*) >= 2 " +
        "ORDER BY df DESC, n_occ DESC, span LIMIT 20"),
    "q_span_flag" ->
      (s"WITH base AS (SELECT doc_id, $duckWords AS w FROM documents), " +
        "spans AS (SELECT doc_id, array_to_string(w[CAST(i AS INTEGER):CAST(i AS INTEGER) + 7], ' ') AS span " +
        "FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i FROM base WHERE len(w) >= 8)), " +
        "per_doc AS (SELECT span, doc_id, count(*) AS occ FROM spans GROUP BY span, doc_id), " +
        "boiler AS (SELECT span FROM (SELECT span, count(*) AS df, CAST(sum(occ) AS BIGINT) AS n_occ " +
        "FROM per_doc GROUP BY span HAVING count(*) >= 2 ORDER BY df DESC, n_occ DESC, span LIMIT 20)), " +
        "hits AS (SELECT doc_id, count(*) AS n_boiler_hits FROM spans JOIN boiler USING (span) GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(coalesce(h.n_boiler_hits, 0) AS BIGINT) AS n_boiler_hits, " +
        "coalesce(h.n_boiler_hits, 0) = 0 AS keep " +
        "FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id ORDER BY d.doc_id"),
    "q_feature_hash" ->
      (s"WITH base AS (SELECT doc_id, $duckWords AS w FROM documents), " +
        "fh AS (SELECT doc_id, list_transform(range(0, 16), i -> " +
        "len(list_filter(w, t -> substr(md5(t), 1, 1) = substr('0123456789abcdef', CAST(i AS INTEGER) + 1, 1)))) AS v " +
        "FROM base) " +
        "SELECT doc_id, array_to_string(v, ',') AS fh, " +
        "round(sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE)), 4) AS l2 " +
        "FROM fh ORDER BY doc_id"),
    "q_strip_boilerplate" ->
      (s"WITH base AS (SELECT doc_id, $duckWords AS w FROM documents WHERE len($duckWords) > 0), " +
        "blk AS (SELECT doc_id, CAST(i AS INTEGER) AS bi, " +
        "array_to_string(w[CAST(i * 8 + 1 AS INTEGER):CAST(i * 8 + 8 AS INTEGER)], ' ') AS btxt " +
        "FROM (SELECT doc_id, w, unnest(generate_series(0, (len(w) - 1) // 8)) AS i FROM base)), " +
        "per_doc AS (SELECT btxt, doc_id FROM blk GROUP BY btxt, doc_id), " +
        "dup AS (SELECT btxt FROM per_doc GROUP BY btxt HAVING count(*) >= 2) " +
        "SELECT b.doc_id, count(*) AS n_blocks, " +
        "CAST(sum(CASE WHEN d.btxt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed, " +
        "coalesce(string_agg(b.btxt, ' ' ORDER BY b.bi) FILTER (WHERE d.btxt IS NULL), '') AS clean_text " +
        "FROM blk b LEFT JOIN dup d USING (btxt) " +
        "GROUP BY b.doc_id ORDER BY b.doc_id"),
    "q_chunk_stride" ->
      (s"WITH base AS (SELECT doc_id, $duckWords AS w FROM documents WHERE len($duckWords) > 0), " +
        "ch AS (SELECT doc_id, CAST(len(w) AS INTEGER) AS n_words, CAST(i AS INTEGER) AS chunk_id, " +
        "array_to_string(w[CAST(i * 8 + 1 AS INTEGER):CAST(i * 8 + 16 AS INTEGER)], ' ') AS chunk_text " +
        "FROM (SELECT doc_id, w, unnest(generate_series(0, (greatest(len(w) - 16, 0) + 7) // 8)) AS i FROM base)) " +
        "SELECT doc_id, chunk_id, CAST(least(16, n_words - chunk_id * 8) AS INTEGER) AS n_tokens, chunk_text " +
        "FROM ch ORDER BY doc_id, chunk_id"),
    "q_pipeline_pretrain" ->
      (s"WITH base AS (SELECT doc_id, $duckWords AS w FROM documents WHERE len($duckWords) > 0), " +
        "blk AS (SELECT doc_id, CAST(i AS INTEGER) AS bi, " +
        "array_to_string(w[CAST(i * 8 + 1 AS INTEGER):CAST(i * 8 + 8 AS INTEGER)], ' ') AS btxt " +
        "FROM (SELECT doc_id, w, unnest(generate_series(0, (len(w) - 1) // 8)) AS i FROM base)), " +
        "per_doc AS (SELECT btxt, doc_id FROM blk GROUP BY btxt, doc_id), " +
        "dup AS (SELECT btxt FROM per_doc GROUP BY btxt HAVING count(*) >= 2), " +
        "stripped AS (SELECT b.doc_id, " +
        "coalesce(string_agg(b.btxt, ' ' ORDER BY b.bi) FILTER (WHERE d.btxt IS NULL), '') AS text " +
        "FROM blk b LEFT JOIN dup d USING (btxt) GROUP BY b.doc_id), " +
        "sw AS (SELECT doc_id, text, " +
        "list_filter(string_split(text, ' '), x -> length(x) > 0) AS w FROM stripped), " +
        "kept AS (SELECT doc_id, w FROM sw WHERE len(w) BETWEEN 30 AND 10000 " +
        "AND round(list_sum(list_transform(w, x -> length(x))) / CAST(len(w) AS DOUBLE), 4) BETWEEN 3.5 AND 10.0 " +
        "AND len(list_filter(w, x -> list_contains(['the', 'a', 'of', 'and', 'to'], x))) >= 3 " +
        "AND round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text), 4) >= 0.75), " +
        "ch AS (SELECT doc_id, CAST(i AS INTEGER) AS chunk_id, " +
        "least(16, CAST(len(w) AS INTEGER) - CAST(i AS INTEGER) * 8) AS n_tokens " +
        "FROM (SELECT doc_id, w, unnest(generate_series(0, (greatest(len(w) - 16, 0) + 7) // 8)) AS i FROM kept)), " +
        "t AS (SELECT (doc_id * 10000 + chunk_id) AS cid, " +
        "(doc_id * 10000 + chunk_id) % 16 AS bucket, CAST(n_tokens AS BIGINT) AS n_tokens FROM ch), " +
        "c AS (SELECT cid, bucket, n_tokens, " +
        "coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY cid " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM t) " +
        "SELECT bucket, CAST(floor(CAST(cum_before AS DOUBLE) / 256.0) AS BIGINT) AS pack_id, " +
        "count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens " +
        "FROM c GROUP BY bucket, pack_id ORDER BY bucket, pack_id"),
    "q_ngram_entropy" ->
      ("WITH tri AS (SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS gram FROM " +
        "(SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 2, 1))) AS i FROM documents)), " +
        "gc AS (SELECT doc_id, gram, count(*) AS c FROM tri GROUP BY doc_id, gram) " +
        "SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams, count(*) AS n_uniq_grams, " +
        "round(ln(CAST(sum(c) AS DOUBLE)) - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / sum(c), 4) AS entropy " +
        "FROM gc GROUP BY doc_id ORDER BY doc_id")
  )
}
