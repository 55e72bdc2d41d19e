package graft.engine

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graftshim.GraftDataset

/** Prompt templates — SURVEY.md §2.1 prompt-template mapping.
  *
  * Mirrors the reference's template set (GeneratePythonCode /
  * MultipleDataframes / CorrectError / CorrectMultipleDataframesError /
  * GenerateResponse, the reference's prompts package) with the codegen target
  * switched from arbitrary Python to Spark SQL: the safe analog of the
  * reference's AST import-whitelist is parsing to a LogicalPlan and
  * validating it (SqlGuard). The generation prompt is overridable via
  * GraftConfig.customPrompts (key [[GenerateSqlKey]]), like the reference's
  * `non_default_prompts` (polarsai/__init__.py:90,148-150); the correction
  * and rephrase templates are not. Schema reaches the model exactly the
  * way the reference does it: a stringified head + shape per table
  * (polarsai/__init__.py:278-287) — text, not a programmatic schema channel.
  */
object Prompts {

  final case class TableCtx(name: String, rows: Long, cols: Int, head: String) {
    def rowsText: String = if (rows >= 0) rows.toString else "an unknown number of"
  }

  /** Row count for the prompt of a frame whose rows are not on the driver
    * (`describe` reads a driver-local frame's count itself). The reference
    * embeds exact df.shape — O(1) in polars; here it costs at most one
    * Spark job:
    *  - `exact = true` (reference parity) counts the frame over its
    *    column-pruned plan as one SQL execution (`GraftDataset.count`):
    *    one job with no exchange for a scan, no column read;
    *  - `exact = false` takes Catalyst's stats estimate when the optimizer
    *    has one (free), else -1 ("unknown") rather than scanning. */
  def rowCount(df: DataFrame, exact: Boolean): Long =
    if (exact) GraftDataset.count(df)
    else df.queryExecution.optimizedPlan.stats.rowCount.map(_.longValue).getOrElse(-1L)

  /** Render schema + first rows as text (the prompt's only schema channel).
    * Collect is bounded to `n` rows — never a full materialization.
    *
    * `anonymize`: the reference's `anonymize_df` parameter is accepted but
    * dead (SURVEY §7.5.5 — the upstream privacy feature was dropped in the
    * port). Implemented here for real: cell values are replaced by
    * deterministic type-shaped placeholders, so the model still sees shape
    * and dtypes but no data leaves the cluster in prompts.
    *
    * A driver-local frame (optimized plan a `LocalRelation`) is read from
    * its row array: its length, and the head decoded as `collect` would,
    * with no SQL execution. Any other frame costs at most two Spark jobs:
    * one for the head collect and one for the row count (see `rowCount`;
    * none for an estimate). The count reads no column, so it is kept apart
    * from the head rather than folded into one all-columns pass.
    * GraftSession calls it once per frame object per session and reuses
    * the result. */
  def describe(name: String, df: DataFrame, n: Int = 5,
      anonymize: Boolean = false, exactRowCount: Boolean = true): TableCtx = {
    val header = schemaHeader(df)
    def mask(v: Any, rowIdx: Int): String = v match {
      case null => "null"
      case _: String => s"str_$rowIdx"
      case _: Int | _: Long | _: Short | _: Byte => (1000 + rowIdx).toString
      case _: Double | _: Float => s"${1000 + rowIdx}.0"
      case _: Boolean => (rowIdx % 2 == 0).toString
      case other => s"${other.getClass.getSimpleName.toLowerCase}_$rowIdx"
    }
    val (head, count) = df.queryExecution.optimizedPlan match {
      // a `createDataFrame` frame, also after filters and projections the
      // optimizer folds into it: exact in both count modes, at no cost
      case local: LocalRelation =>
        (GraftDataset.localHead(df, local, n), local.data.length.toLong)
      case _ => (df.limit(n).collect(), rowCount(df, exactRowCount))
    }
    val rows = head.zipWithIndex.map { case (r, i) =>
      r.toSeq.map { v =>
        if (anonymize) mask(v, i)
        else if (v == null) "null" else v.toString
      }.mkString(" | ")
    }
    TableCtx(name, count, df.schema.fields.length,
      (header +: rows).mkString("\n"))
  }

  /** The schema line that opens `describe`'s table text:
    * `name (type) | name (type) | …`. Runs no Spark job. */
  def schemaHeader(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name} (${f.dataType.simpleString})")
      .mkString(" | ")

  /** The per-table block shared by the generation and correction prompts. */
  private def tableBlock(tables: Seq[TableCtx]): String =
    tables.map(t =>
      s"Table `${t.name}`, with ${t.rowsText} rows and ${t.cols} columns. " +
        s"Schema and first rows:\n${t.head}").mkString("\n\n")

  /** The `GraftConfig.customPrompts` key of the generation prompt. */
  val GenerateSqlKey = "generate_sql"

  /** Analog of GeneratePythonCodePrompt/MultipleDataframesPrompt (injects
    * today's date like generate_python_code.py:33). */
  def generateSql(question: String, tables: Seq[TableCtx],
      today: LocalDate = LocalDate.now()): String = {
    s"""Today is $today.
       |You are provided with the following tables, registered as Spark SQL views:
       |
       |${tableBlock(tables)}
       |
       |When asked about the data, your response should be a single Spark SQL
       |SELECT query over those views, wrapped in ```sql fences. Do not use
       |DDL or DML statements.
       |
       |Question: $question
       |
       |SQL:""".stripMargin
  }

  /** Analog of CorrectErrorPrompt / CorrectMultipleDataframesErrorPrompt
    * (correct_error_prompt.py:29-45): failed code + engine error fed back. */
  def correctError(question: String, failedSql: String, error: String,
      tables: Seq[TableCtx]): String = {
    s"""${tableBlock(tables)}
       |
       |The user asked: $question
       |You generated this Spark SQL query:
       |```sql
       |$failedSql
       |```
       |It fails with the following error:
       |$error
       |
       |Correct the SQL and answer again with a single SELECT query in
       |```sql fences.
       |
       |SQL:""".stripMargin
  }

  /** Analog of GenerateResponsePrompt (generate_response.py:17-22). */
  def generateResponse(question: String, answer: String): String =
    s"""Question: $question
       |Answer: $answer
       |
       |Rewrite the answer as a single conversational sentence.""".stripMargin
}

/** SQL extraction from raw model output — SURVEY.md §2.1 `Query.generate_code`
  * mapping (llm/base.py:41-104): split on ``` fences, strip the language tag
  * and stray backticks; the parse-validity gate lives in SqlGuard. */
object SqlExtractor {

  def extract(response: String): String = {
    var code = response
    val fenced = code.contains("```")
    if (fenced) {
      val parts = code.split("```", -1)
      // take the first fenced block's body (mirror _extract_code's
      // "separate code from the rest" behavior)
      if (parts.length >= 2) code = parts(1)
    }
    code = code.trim
    for (tag <- Seq("sql", "SQL", "spark", "python")) {
      if (code.startsWith(tag + "\n") || code.startsWith(tag + " "))
        code = code.substring(tag.length)
      else if (code == tag) code = ""
    }
    code = code.replace("`", "").trim
    // Unfenced fallback is gated on a statement-starter shape (the
    // reference's _is_python_code ast gate, llm/base.py:92-93): a prose
    // apology without a fence must surface as "no SQL found", not be fed
    // to the parser as if it were a query. Fenced content passes through
    // untouched — even DDL, which SqlGuard then rejects onto the trail.
    val looksLikeSql =
      code.nonEmpty && "(?is)^(select|with|values|table|\\().*".r.matches(code)
    if (fenced || looksLikeSql) code else ""
  }
}
