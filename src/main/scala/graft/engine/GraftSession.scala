package graft.engine

import java.security.MessageDigest
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftshim.GraftDataset

import graft.SessionMemo

/** Typed error surface — SURVEY.md §2.1 exceptions mapping
  * (/root/reference/helpers/exceptions.py:8-73). The reference's silent
  * retry-exhaustion fall-through (SURVEY §7.5.2) is fixed: exhaustion is a
  * first-class error. */
sealed trait GraftError { def message: String }
final case class NoSqlFound(message: String) extends GraftError
final case class BadSql(message: String) extends GraftError
final case class RetriesExhausted(message: String) extends GraftError

/** One failed generation inside the correction loop: the SQL that was
  * tried and why it didn't survive (SqlGuard rejection reason, analysis
  * error, or runtime error). The reference keeps this trail in `_logs` /
  * `last_error`; here it rides on the Answer so callers see WHY retries
  * happened — a Rejected verdict is no longer silently folded into "it
  * eventually worked" or a bare exhaustion message. */
final case class Attempt(sql: String, error: String)

/** Engine configuration — SURVEY.md §2.1 `PolarsAI.__init__` mapping
  * (/root/reference/polarsai/__init__.py:78-163): verbosity, cache toggle,
  * conversational answers, retry budget, prompt overrides. */
final case class GraftConfig(
    verbose: Boolean = false,
    conversational: Boolean = false,
    enableCache: Boolean = true,
    // file-backed write-through cache (reference helpers/cache.py:24-44 is
    // pickle-on-disk; here a JSON map) — survives across sessions
    cachePath: Option[String] = None,
    maxRetries: Int = 3,
    showSql: Boolean = false,
    anonymizeHead: Boolean = false,
    // exact row count per frame described (reference shape parity): at
    // most one count job, none for a driver-local frame. Flip off at large
    // scale to use free optimizer stats / "unknown" for non-local frames.
    exactRowCount: Boolean = true,
    // generated SQL may ONLY call these functions — DEFAULT ON with the
    // curated deterministic analytics surface, matching the reference's
    // ALWAYS-ON import whitelist (__init__.py:351-384, constants.py:69-83);
    // the env-leak denylist still applies on top. Pass None to opt out
    // (any function the parser accepts), or a custom set to narrow/extend.
    functionAllowlist: Option[Set[String]] = Some(SqlGuard.defaultFunctionAllowlist),
    customPrompts: Map[String, (String, Seq[Prompts.TableCtx]) => String] = Map.empty,
    // automatic chart-artifact capture (reference save_charts /
    // add_save_chart, helpers/save_chart.py:52-116): every chart-shaped
    // answer writes its Vega-Lite spec to {chartDir}/{promptId}.json and
    // records the path on the Answer — the JVM analog of the reference's
    // one-PNG-per-prompt_id export tree (save_chart.py:79, :106-107)
    saveCharts: Boolean = false,
    chartDir: String = "graft_charts")

/** The answer envelope: rendered text plus the raw result and telemetry.
  * `sql` is the SQL that ran (on a failed ask, the last SQL it tried);
  * `attempts` is the correction-loop trail — empty when the first
  * generation succeeded; `promptId` is fresh per ask (the reference's
  * `last_prompt_id`). */
final case class Answer(
    text: String,
    df: Option[DataFrame],
    sql: Option[String],
    error: Option[GraftError],
    attempts: Seq[Attempt] = Nil,
    /** Path of the Vega-Lite spec captured for this answer — set only when
      * config.saveCharts is on and the ask was chart-shaped. */
    chartPath: Option[String] = None,
    promptId: String)

/** The conversational engine — SURVEY.md §2.1 `run`/`run_code` mapping:
  * the reference's cache → head/shape → prompt → codegen → sanitize →
  * execute → retry → answer loop (/root/reference/polarsai/__init__.py:
  * 214-341,490-582) rebuilt Spark-natively with SQL as the codegen target.
  *
  * Execution runs the very plan the guard checked: each ask's frames are
  * bound as `df` / `df1..dfN` into that plan (the reference's per-call
  * exec namespace, :530-537), never into the session catalog, so
  * concurrent asks cannot see each other's frames. Catalyst analyzes,
  * optimizes, and distributes the generated query — the stage where the
  * reference runs single-machine eager Polars kernels.
  */
final class GraftSession(
    val spark: SparkSession,
    val llm: LlmClient,
    val config: GraftConfig = GraftConfig(),
    // when present, this session is a withConfig view sharing the parent's
    // cache (and skipping the file load — the parent already did it)
    sharedCache: Option[scala.collection.concurrent.TrieMap[String, String]] = None) {

  /** Cache keyed on question + schema fingerprint + view names — fixing the
    * reference's prompt-text-only keying that returns stale code after a
    * schema change (SURVEY §7.5.1; helpers/cache.py:24-44). Optionally
    * file-backed (config.cachePath): loaded once here, written through on
    * every successful update via atomic tmp+rename. */
  // TrieMap: askNamed writes while persistCache iterates — a plain mutable
  // map could throw ConcurrentModificationException / persist a torn
  // snapshot under concurrent asks on one session (r2 ADVICE)
  private val cache = sharedCache.getOrElse(
    scala.collection.concurrent.TrieMap.empty[String, String])
  locally {
    if (sharedCache.isEmpty) for (p <- config.cachePath) {
      val f = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(f) && java.nio.file.Files.size(f) > 0) {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val tree = mapper.readTree(java.nio.file.Files.readAllBytes(f))
        tree.properties().forEach(e => cache(e.getKey) = e.getValue.asText())
      }
    }
  }

  /** Per-call config override, the reference's run(...,
    * is_conversational_answer=, show_code=, anonymize_df=,
    * use_error_correction_framework=) parameter surface
    * (polarsai/__init__.py:214-236): a lightweight session view with the
    * modified config that SHARES this session's SQL cache (and its
    * write-through file), so overriding rendering/retry behavior never
    * re-generates SQL already paid for. `logs` are per-view; table
    * descriptions belong to the SparkSession (see `GraftSession.described`).
    *
    *   session.withConfig(_.copy(conversational = true)).ask(df, q)
    *   session.withConfig(_.copy(maxRetries = 0)).ask(df, q)  // no correction loop
    */
  def withConfig(f: GraftConfig => GraftConfig): GraftSession =
    new GraftSession(spark, llm, f(config), Some(cache))

  // Locked on the SHARED cache map, not `this`: a parent session and its
  // withConfig views are distinct objects sharing one cache + file — a
  // `this` lock would let two views race the same tmp file (one move
  // wins, the loser throws NoSuchFileException out of a successful ask).
  // The tmp name is unique per write as well, so even an unrelated
  // session pointed at the same path cannot interleave a torn file.
  private def persistCache(): Unit = for (p <- config.cachePath) cache.synchronized {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    cache.foreach { case (k, v) => root.put(k, v) }
    val target = java.nio.file.Paths.get(p)
    val tmp = java.nio.file.Paths.get(
      p + s".tmp.${ProcessHandle.current().pid()}.${Thread.currentThread().getId}")
    java.nio.file.Files.write(tmp, mapper.writeValueAsBytes(root))
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  // telemetry mirroring the reference's fields (polarsai/__init__.py:73-76,
  // 594-606): a stable id per engine instance; the per-ask id, SQL and
  // trail ride on each Answer
  val processId: String = java.util.UUID.randomUUID().toString
  /** Appended under its own lock: concurrent asks on one session all log
    * here. Readers racing a live ask should lock it too. */
  val logs: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  private def log(msg: String): Unit = {
    logs.synchronized { logs += msg }
    if (config.verbose) println(s"[graft] $msg")
  }

  /** Single-table entry point (reference `run(df, prompt)`). */
  def ask(df: DataFrame, question: String): Answer =
    ask(Seq(df), question)

  /** Multi-table entry point: tables are bound as `df` (single) or
    * `df1..dfN` (multiple), like the reference (:532-537). */
  def ask(dfs: Seq[DataFrame], question: String): Answer = {
    val names =
      if (dfs.length == 1) Seq("df")
      else dfs.indices.map(i => s"df${i + 1}")
    askNamed(names.zip(dfs), question)
  }

  /** Named-table entry point: real table names in prompts and SQL — the
    * ergonomic superset of the reference's positional df1..dfN binding. */
  def askNamed(tables0: Seq[(String, DataFrame)], question: String): Answer = {
    val t0 = System.nanoTime()
    val promptId = java.util.UUID.randomUUID().toString
    val attempts = mutable.ArrayBuffer.empty[Attempt]
    def failed(err: GraftError) = Answer(envelope(err.message), None,
      attempts.lastOption.map(_.sql), Some(err), attempts.toList, promptId = promptId)
    try {
      // A description costs a row count and a head collect per frame, and
      // only prompts read it: a cache hit whose SQL runs clean builds none.
      lazy val tables = tables0.map { case (n, df) => GraftSession.describe(spark, config, n, df) }

      val key = cacheKey(question, tables0)
      val cached = if (config.enableCache) cache.get(key) else None
      val sql0 = cached.getOrElse(generate(question, tables))
      if (config.showSql) println(sql0)

      run(question, sql0, tables, tables0, attempts) match {
        case Right((df, executedSql, head)) =>
          // Cache the SQL that actually executed — a first generation that
          // needed the correction loop must not replay its bad draft on the
          // next identical ask, and failures are never cached.
          if (config.enableCache && !cached.contains(executedSql)) {
            cache(key) = executedSql
            persistCache()
          }
          Answer(render(question, df, head), Some(df), Some(executedSql), None,
            attempts.toList, promptId = promptId)
        case Left(err) =>
          if (config.enableCache && cache.remove(key).isDefined) persistCache()
          failed(err)
      }
    } catch {
      // a response with no extractable fence/SQL is its own failure mode
      // (reference NoCodeFoundError, helpers/exceptions.py) — surface the
      // typed error, not a generic BadSql
      case e: GraftSession.NoSqlInResponse => failed(NoSqlFound(e.getMessage))
      case e: Exception => failed(BadSql(String.valueOf(e.getMessage)))
    } finally log(s"Executed in: ${(System.nanoTime() - t0) / 1000000}ms")
  }

  /** prompt → LLM → fence extraction (parse gate happens in run()). */
  private def generate(question: String, tables: Seq[Prompts.TableCtx]): String = {
    val prompt = config.customPrompts.get(Prompts.GenerateSqlKey)
      .map(f => f(question, tables))
      .getOrElse(Prompts.generateSql(question, tables, LocalDate.now()))
    val sql = SqlExtractor.extract(llm.predict(prompt))
    if (sql.isEmpty)
      throw new GraftSession.NoSqlInResponse("No SQL found in LLM response")
    sql
  }

  /** guard → execute → ≤maxRetries correction loop (reference run_code,
    * :540-554; retries rebuild the prompt with the engine's error text).
    *
    * A bounded result (limit 21, the render preview size) is materialized
    * INSIDE the loop so execution-time failures (ANSI arithmetic, cast
    * errors) feed the correction prompt like the reference's run_code does,
    * instead of first surfacing at render and bypassing the retries.
    * The preview is collected through `GraftDataset.driverRows`: when every
    * leaf of its optimized plan is a `LocalRelation` or a `OneRowRelation`
    * and the plan qualifies (covered nodes, deterministic, no subquery,
    * under the row budget) it is computed on this thread with no Spark job;
    * otherwise it runs on Spark. There a frame that reads one file of at
    * most `spark.sql.files.openCostInBytes` (4 MB by default) is bound as
    * `Repartition(1, shuffle = false)` (`SqlGuard.accept`),
    * so an aggregate, DISTINCT or ORDER BY over it runs as one job with no
    * exchange, and the returned frame (`Answer.df`) carries that
    * `Coalesce 1`. Either way an evaluation error fails the try. Returns the
    * frame, the SQL that actually succeeded, and the collected preview rows
    * (so render doesn't re-execute); every failed try lands on `attempts`. */
  private def run(question: String, firstSql: String,
      tables: => Seq[Prompts.TableCtx], frames: Seq[(String, DataFrame)],
      attempts: mutable.Buffer[Attempt]): Either[GraftError, (DataFrame, String, Array[Row])] = {
    def loop(sql: String, attempt: Int): Either[GraftError, (DataFrame, String, Array[Row])] =
      guarded(sql, frames).flatMap { out =>
        val preview = out.limit(21)
        caught(GraftDataset.driverRows(preview).getOrElse(preview.collect())).map((out, sql, _))
      } match {
        case Right(done) => Right(done)
        case Left(err) =>
          attempts += Attempt(sql, err)
          log(s"attempt ${attempt + 1} failed: $err")
          if (attempt >= config.maxRetries) Left(RetriesExhausted(err))
          else loop(SqlExtractor.extract(llm.predict(
            Prompts.correctError(question, sql, err, tables))), attempt + 1)
      }
    loop(firstSql, 0)
  }

  /** The plan the guard checked, with the frames bound into it (no catalog
    * views), analyzed. Left is the guard's reason or the analysis error. */
  private def guarded(sql: String, frames: Seq[(String, DataFrame)]): Either[String, DataFrame] =
    SqlGuard.accept(spark, sql, frames, config.functionAllowlist)
      .flatMap(plan => caught(GraftDataset.ofRows(spark, plan)))

  private def caught[A](body: => A): Either[String, A] =
    try Right(body) catch { case e: Exception => Left(String.valueOf(e.getMessage)) }

  /** Result extraction (reference :556-582): a 1×1 frame renders as the
    * scalar; otherwise a bounded tabular preview. Optionally rephrased by a
    * second LLM call (conversational_answer, :197-212 — broken in the
    * reference, SURVEY §7.5.3; intended semantics restored here). */
  private def render(question: String, df: DataFrame, head: Array[Row]): String = {
    val cols = df.columns
    val text =
      if (head.length == 1 && cols.length == 1) String.valueOf(head(0).get(0))
      else {
        val shown = head.take(20).map(_.toSeq.map(String.valueOf).mkString("\t"))
        val more = if (head.length > 20) "\n…" else ""
        (cols.mkString("\t") +: shown).mkString("\n") + more
      }
    if (config.conversational) llm.predict(Prompts.generateResponse(question, text))
    else text
  }

  /** Reference's exact error envelope (polarsai/__init__.py:334-341). */
  private def envelope(err: String): String =
    "Unfortunately, I was not able to answer your question, " +
      s"because of the following error:\n\n$err\n"

  /** MD5 of `question||name:header|…`, from schemas alone: it runs no Spark
    * job. The header is cut at its first line break (a column name may hold
    * one) so keys stay byte-identical to those in existing cachePath files. */
  private def cacheKey(question: String, tables: Seq[(String, DataFrame)]): String = {
    val fingerprint = tables.map { case (n, df) =>
      s"$n:${Prompts.schemaHeader(df).linesIterator.take(1).mkString}" }
      .mkString("|")
    MessageDigest.getInstance("MD5")
      .digest(s"$question||$fingerprint".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Empties the answer cache (shared with withConfig views, and its
    * cachePath file) and every GraftSession's table descriptions on
    * `spark`, so the next prompt re-counts and re-reads every frame. */
  def clearCache(): Unit = { cache.clear(); GraftSession.described.clear(spark); persistCache() }
  def cacheSize: Int = cache.size

  /** Chart-aware ask: the normal ask-loop plus, when config.saveCharts is
    * on, a per-answer Vega-Lite artifact at {chartDir}/{promptId}.json —
    * parity with the reference's add_save_chart rewrite that saves one PNG
    * per prompt_id under its exports/charts tree (helpers/save_chart.py:79,
    * :106-107). The Shortcuts plot* recipes route here, which is exactly
    * the set of asks the reference's plt.show()-detection fires on.
    *
    * (x, y) are the caller's requested fields; the generated SQL may have
    * aliased them, so missing names fall back to the answer frame's first
    * two columns — the reference likewise saves whatever the generated
    * code actually plotted. Capture failures degrade to an uncaptured
    * answer (the ask itself already succeeded); the failure is logged. */
  def askChart(df: DataFrame, question: String, kind: Charts.Kind,
      x: String, y: String, color: Option[String] = None): Answer = {
    val a = ask(df, question)
    if (!config.saveCharts || a.df.isEmpty) a
    else {
      val out = a.df.get
      val cols = out.columns
      def resolve(want: String, fallback: Int) =
        if (cols.contains(want)) want else cols(math.min(fallback, cols.length - 1))
      // a rect (heatmap) without a color field is blank — default to the
      // third output column (the aggregated measure) when the requested
      // name didn't survive the generated SQL's aliasing
      val colorField = color.filter(cols.contains).orElse(
        if (kind == Charts.Rect && cols.length >= 3) Some(cols(2)) else None)
      try {
        val spec = Charts.vegaLite(out, kind, resolve(x, 0), resolve(y, 1),
          color = colorField)
        val dir = java.nio.file.Paths.get(config.chartDir)
        java.nio.file.Files.createDirectories(dir)
        val path = dir.resolve(s"${a.promptId}.json")
        java.nio.file.Files.write(path, spec.getBytes("UTF-8"))
        log(s"Chart saved to: $path")
        a.copy(chartPath = Some(path.toString))
      } catch { case e: Exception =>
        log(s"chart capture failed: ${String.valueOf(e.getMessage)}")
        a
      }
    }
  }

  /** Guarded SQL passthrough: run caller-supplied SQL through the same
    * SqlGuard sandbox as LLM-generated SQL, against the given tables. For
    * callers who want the safety rails without the LLM round-trip. A table
    * that reads one small file is bound as one partition, as in an ask. */
  def runSql(tables: Seq[(String, DataFrame)], sql: String): Either[GraftError, DataFrame] =
    guarded(sql, tables).left.map(BadSql(_))
}

object GraftSession {
  /** Thrown when the LLM response has no extractable SQL at the INITIAL
    * generation (inside the correction loop an empty extraction feeds the
    * trail instead); mapped to the typed NoSqlFound error in askNamed. */
  private[engine] final class NoSqlInResponse(msg: String)
    extends RuntimeException(msg)

  /** Prompt text per SparkSession, text-shaping flags (`anonymizeHead`,
    * `exactRowCount`) and, weakly, frame object: every GraftSession on a
    * SparkSession describes a frame (even one bound as `df1` and `df2`)
    * once, and a dropped frame stays collectable. A frame's plan and file
    * listing are fixed at build; `clearCache()` invalidates (after in-place rewrites). */
  private val described = SessionMemo[(Boolean, Boolean), java.util.Map[DataFrame, Prompts.TableCtx]](
    "GraftSession", SessionMemo.Metadata, SessionMemo.noRelease)

  /** `df` described under `name`: from the memo, or built outside its lock. */
  private def describe(spark: SparkSession, config: GraftConfig, name: String, df: DataFrame) = {
    val frames = described.getOrElseUpdate(spark,
      (config.anonymizeHead, config.exactRowCount), SessionMemo.weakFrames())
    Option(frames.get(df)).getOrElse {
      val ctx = Prompts.describe(name, df, anonymize = config.anonymizeHead,
        exactRowCount = config.exactRowCount)
      frames.put(df, ctx); ctx
    }.copy(name = name)
  }
}

/** Canned-prompt shortcut recipes — SURVEY.md §2.2
  * (/root/reference/helpers/shortcuts.py). Pure prompt templating over
  * ask(), exactly like the reference (each method builds an English prompt
  * and delegates); the `{window}` f-string bug in the reference's rolling_*
  * shortcuts (SURVEY §7.5.6) is fixed by actually interpolating. */
final class Shortcuts(session: GraftSession) {
  private def run(df: DataFrame, prompt: String): Answer = session.ask(df, prompt)

  def cleanData(df: DataFrame): Answer =
    run(df, "Remove duplicate rows and rows with null values, and return the cleaned data")
  def imputeMissingValues(df: DataFrame): Answer =
    run(df, "Fill missing values with the column mean")
  def generateFeatures(df: DataFrame): Answer =
    run(df, "Generate new derived feature columns from the existing columns")
  def plotHistogram(df: DataFrame, column: String): Answer =
    session.askChart(df,
      s"Bucket the column $column into fixed-width bins and count rows per bin",
      Charts.Bar, column, "n")
  def plotCorrelationHeatmap(df: DataFrame): Answer =
    session.askChart(df,
      "Compute the correlation between every pair of numeric columns",
      Charts.Rect, "col1", "col2")
  def plotConfusionMatrix(df: DataFrame, truth: String, pred: String): Answer =
    session.askChart(df, s"Count rows by ($truth, $pred) pairs",
      Charts.Rect, truth, pred)
  def boxplot(df: DataFrame, column: String, by: String): Answer =
    run(df, s"Compute min, 25th/50th/75th percentile and max of $column grouped by $by")
  def rollingMean(df: DataFrame, column: String, window: Int): Answer =
    run(df, s"Calculate the rolling mean of $column over a trailing window of $window rows")
  def rollingMedian(df: DataFrame, column: String, window: Int): Answer =
    run(df, s"Calculate the rolling median of $column over a trailing window of $window rows")
  def rollingStd(df: DataFrame, column: String, window: Int): Answer =
    run(df, s"Calculate the rolling standard deviation of $column over a trailing window of $window rows")

  // Chart shortcuts (shortcuts.py:82-241): the reference renders matplotlib;
  // here each returns the aggregated frame and, with config.saveCharts on,
  // auto-captures the matching-mark Vega-Lite spec per answer (askChart).
  def plotPieChart(df: DataFrame, labels: String, values: String): Answer =
    session.askChart(df, s"Sum $values per $labels so each row is one pie slice",
      Charts.Arc, labels, values)
  def plotBarChart(df: DataFrame, x: String, y: String): Answer =
    session.askChart(df, s"Aggregate $y per $x for a bar chart, ordered by $x",
      Charts.Bar, x, y)
  def plotLineChart(df: DataFrame, x: String, y: String): Answer =
    session.askChart(df, s"Return $x and $y ordered by $x for a line chart",
      Charts.Line, x, y)
  def plotScatterChart(df: DataFrame, x: String, y: String): Answer =
    session.askChart(df, s"Return the $x and $y columns as points for a scatter chart",
      Charts.Point, x, y)
  def plotRocCurve(df: DataFrame, yTrue: String, score: String): Answer =
    session.askChart(df,
      s"Compute the ROC curve points: true positive rate and false positive rate of $yTrue swept over $score thresholds",
      Charts.Line, "fpr", "tpr")
  def segmentCustomers(df: DataFrame, features: Seq[String], n: Int): Answer =
    run(df, s"Cluster the rows into $n segments using ${features.mkString(", ")} and count rows per segment")

  // Round-7 analytics recipes — conversational front doors onto the same
  // aggregation shapes the q_* operators pin (funnel/retention/markov/
  // A-B/anomaly): the LLM writes the SQL, SqlGuard validates it, and the
  // ops layer is the reference implementation a caller can diff against.
  def funnel(df: DataFrame, user: String, stages: Seq[String]): Answer =
    run(df, s"Count how many distinct $user reach each stage of the ordered funnel ${stages.mkString(" -> ")}")
  def retention(df: DataFrame, user: String, ts: String): Answer =
    run(df, s"Group $user by their first-$ts week cohort and count distinct active users per later week offset")
  def transitionMatrix(df: DataFrame, user: String, state: String): Answer =
    run(df, s"Count transitions between consecutive $state values per $user ordered by time")
  def abTest(df: DataFrame, user: String, metric: String): Answer =
    run(df, s"Split $user into two groups by a hash and compare their average $metric")
  def anomalies(df: DataFrame, group: String, value: String): Answer =
    run(df, s"For each $group, count rows whose $value deviates from the group median by more than 3 scaled median absolute deviations")
}
