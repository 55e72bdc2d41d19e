package graft.engine

import scala.util.control.NoStackTrace

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedGenerator, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Expression, PlanExpression, UnresolvedNamedLambdaVariable, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, SubqueryAlias, UnresolvedWith, WithWindowDefinition}

/** Pre-execution SQL validation — SURVEY.md §2.1 `_clean_code` /
  * `_check_imports` mapping (/root/reference/polarsai/__init__.py:403-430,
  * 351-384).
  *
  * The reference sandboxes generated Python by AST surgery against an import
  * whitelist; the SQL-target analog is stronger: parse to a LogicalPlan and
  * accept only plans built entirely from a closed allowlist of read-only
  * query node types. Anything else — DDL/DML/command nodes, statement kinds
  * introduced by newer parsers (e.g. EXECUTE IMMEDIATE), table references
  * outside the registered views — fails CLOSED. A denylist of
  * environment-leaking functions (the analog of the reference's weak
  * `__builtins__` whitelist, SURVEY §7.5.8) is applied on top, with an
  * optional caller-supplied function allowlist mirroring the reference's
  * whitelist philosophy (/root/reference/polarsai/constants.py:69-83).
  *
  * One walk checks the plan and returns it bound: each relation naming a
  * caller's frame becomes that frame's analyzed plan, so the plan that runs
  * is the plan that was checked ([[accept]]); [[check]] is the same walk
  * with no frame to bind.
  */
object SqlGuard {

  sealed trait Verdict
  case object Ok extends Verdict
  final case class Rejected(reason: String) extends Verdict

  /** The complete set of logical-plan node types a read-only SELECT can
    * parse to on Spark 4.1. Any node outside this set is rejected, so new
    * statement kinds (EXECUTE IMMEDIATE parses to
    * UnresolvedExecuteImmediate, scripting blocks, etc.) fail closed
    * instead of slipping past a pattern denylist. */
  private val allowedNodes: Set[String] = Set(
    // projection / predicates / aggregation
    "Project", "Filter", "Aggregate", "UnresolvedHaving", "Distinct",
    "Deduplicate",
    // ordering / limiting
    "Sort", "GlobalLimit", "LocalLimit", "Limit", "Offset", "Tail",
    // relations
    "UnresolvedRelation", "SubqueryAlias", "OneRowRelation",
    "UnresolvedInlineTable", "ResolvedInlineTable", "LocalRelation",
    "UnresolvedTableValuedFunction", "UnresolvedTVFAliases", "Range",
    // joins / set ops (Except/Intersect override nodeName to append
    // " All" for their ALL variants — r11 acceptance-suite finding:
    // EXCEPT ALL failed closed as an unaudited statement kind)
    "Join", "LateralJoin", "Union", "Except", "Intersect",
    "Except All", "Intersect All",
    // CTEs / subquery plumbing
    "UnresolvedWith", "With", "UnresolvedSubqueryColumnAliases",
    "CTERelationRef", "Sample",
    // windows / reshape
    "WithWindowDefinition", "Pivot", "Unpivot", "Generate",
    // DISTRIBUTE BY / CLUSTER BY — a shuffle directive, read-only
    "RepartitionByExpression",
    // |> pipe syntax: a per-stage wrapper that desugars to ordinary query
    // nodes at analysis; its child plans and expressions are walked like
    // any other node, and the fuzz suite pins that pipe-stage poisons
    // (unknown tables, banned functions, poisoned subqueries) still
    // reject (r11 acceptance-suite finding: benign pipes failed closed)
    "PipeOperator",
    // hints are advisory only
    "UnresolvedHint")

  /** Table-valued functions that generate rows without touching the
    * environment. Everything else fails closed. */
  private val allowedTvfs: Set[String] = Set(
    "range", "explode", "explode_outer", "posexplode", "posexplode_outer",
    "inline", "inline_outer", "stack", "json_tuple", "variant_explode",
    "variant_explode_outer")

  /** Curated DEFAULT-ON function allowlist — the SQL analog of the
    * reference's always-on import whitelist
    * (/root/reference/polarsai/__init__.py:351-384): generated SQL may
    * only call the deterministic, environment-free analytics surface below
    * unless the caller explicitly opts out (`functionAllowlist = None`).
    * Deliberately absent: nondeterministic generators (`rand`, `uuid`,
    * `shuffle`, `monotonically_increasing_id`), execution-layout probes
    * (`spark_partition_id`), and everything in [[bannedFunctions]] (which
    * applies on top regardless). `raise_error` IS allowed — the engine's
    * runtime-error capture/retry loop depends on errors surfacing at
    * execution, matching the reference's behavior of letting generated
    * code fail and feeding the message back. */
  val defaultFunctionAllowlist: Set[String] = Set(
    // aggregates
    "count", "sum", "avg", "mean", "min", "max", "median", "mode",
    "stddev", "stddev_pop", "stddev_samp", "std", "variance", "var_pop",
    "var_samp", "skewness", "kurtosis", "corr", "covar_pop", "covar_samp",
    "percentile", "percentile_approx", "approx_percentile",
    "approx_count_distinct", "count_if", "any_value", "first",
    "first_value", "last", "last_value", "collect_list", "collect_set",
    "array_agg", "bool_and", "bool_or", "every", "any", "some", "bit_and",
    "bit_or", "bit_xor", "grouping", "grouping_id", "sum_distinct",
    // windows
    "row_number", "rank", "dense_rank", "ntile", "percent_rank",
    "cume_dist", "lag", "lead", "nth_value", "window", "session_window",
    "window_time",
    // math
    "abs", "ceil", "ceiling", "floor", "round", "bround", "rint", "exp",
    "expm1", "ln", "log", "log10", "log2", "log1p", "sqrt", "cbrt", "pow",
    "power", "mod", "pmod", "factorial", "sign", "signum", "greatest",
    "least", "positive", "negative", "try_add", "try_subtract",
    "try_multiply", "try_divide", "try_mod", "div", "e", "pi", "sin",
    "cos", "tan", "cot", "sec", "csc", "asin", "acos", "atan", "atan2",
    "sinh", "cosh", "tanh", "asinh", "acosh", "atanh", "degrees",
    "radians", "width_bucket", "conv",
    // bits
    "shiftleft", "shiftright", "shiftrightunsigned", "bit_count", "getbit",
    // strings
    "length", "len", "char_length", "character_length", "octet_length",
    "bit_length", "lower", "lcase", "upper", "ucase", "initcap", "trim",
    "ltrim", "rtrim", "btrim", "lpad", "rpad", "concat", "concat_ws",
    "substring", "substr", "left", "right", "instr", "locate", "position",
    "charindex", "replace", "translate", "overlay", "repeat", "reverse",
    "space", "split", "split_part", "substring_index", "format_number",
    "format_string", "printf", "ascii", "chr", "char", "elt", "find_in_set",
    "levenshtein", "soundex", "sentences", "initials",
    "regexp_extract", "regexp_extract_all", "regexp_replace",
    "regexp_like", "regexp", "rlike", "like", "ilike", "regexp_count",
    "regexp_substr", "regexp_instr", "contains", "startswith", "endswith",
    // hashing / encoding (deterministic, env-free)
    "md5", "sha", "sha1", "sha2", "hash", "xxhash64", "crc32", "base64",
    "unbase64", "hex", "unhex", "encode", "decode", "to_binary",
    "to_char", "to_varchar", "to_number", "try_to_binary", "try_to_number",
    // null / conditional (`between`: Spark 4 parses a BETWEEN b AND c to
    // UnresolvedFunction("between") — r11 acceptance-suite finding)
    "coalesce", "nullif", "nullifzero", "zeroifnull", "nvl", "nvl2",
    "ifnull", "if", "isnull", "isnotnull", "nanvl", "equal_null",
    "try_cast", "typeof", "assert_true", "raise_error", "between",
    // dates / times (current_* here are time, not environment identity)
    "current_date", "curdate", "current_timestamp", "now", "localtimestamp",
    "date_add", "dateadd", "date_sub", "datediff", "date_diff",
    "add_months", "months_between", "last_day", "next_day", "trunc",
    "date_trunc", "year", "quarter", "month", "day", "dayofmonth",
    "dayofweek", "weekday", "dayofyear", "weekofyear", "week", "hour",
    "minute", "second", "unix_timestamp", "to_unix_timestamp",
    "from_unixtime", "to_date", "try_to_date", "to_timestamp",
    "try_to_timestamp", "to_utc_timestamp", "from_utc_timestamp",
    "make_date", "make_timestamp", "make_interval", "make_dt_interval",
    "make_ym_interval", "timestampadd", "timestampdiff", "date_format",
    "extract", "date_part", "datepart", "unix_date", "unix_seconds",
    "unix_millis", "unix_micros", "date_from_unix_date",
    "timestamp_seconds", "timestamp_millis", "timestamp_micros",
    "dayname", "monthname",
    // arrays / maps / higher-order
    "array", "array_contains", "array_distinct", "array_except",
    "array_intersect", "array_join", "array_max", "array_min",
    "array_position", "array_remove", "array_repeat", "array_union",
    "array_append", "array_prepend", "array_compact", "array_insert",
    "array_size", "arrays_overlap", "arrays_zip", "size", "cardinality",
    "element_at", "try_element_at", "get", "slice", "sort_array",
    "array_sort", "flatten", "sequence", "zip_with", "transform",
    "filter", "exists", "forall", "aggregate", "reduce", "map_keys",
    "map_values", "map_entries", "map_from_arrays", "map_from_entries",
    "map_concat", "map_contains_key", "map_filter", "map_zip_with",
    "transform_keys", "transform_values", "str_to_map", "map",
    // generators (also gated by the TVF allowlist when table-valued)
    "explode", "explode_outer", "posexplode", "posexplode_outer",
    "inline", "inline_outer", "stack",
    // structs / json / csv
    "struct", "named_struct", "to_json", "from_json", "get_json_object",
    "json_tuple", "json_array_length", "json_object_keys",
    "schema_of_json", "to_csv", "from_csv", "schema_of_csv",
    // graft-registered kernels
    "dot_f", "might_contain_l")

  /** Functions that leak environment or files into results. Includes every
    * FunctionRegistry alias (`user`, `current_schema`, …) — banning only the
    * canonical name leaves the alias executable. */
  private val bannedFunctions = Set(
    "reflect", "java_method", "input_file_name", "input_file_block_start",
    "input_file_block_length", "current_user", "user", "session_user",
    "current_catalog", "current_database", "current_schema",
    "current_timezone", "version",
    // Spark 4's try_* wrapper over CallMethodViaReflection — identical
    // reflective reach (getenv/getProperty), just NULL-on-error; banning
    // only reflect/java_method left this alias executable (r11 fuzz find)
    "try_reflect")

  /** The subset of [[bannedFunctions]] that Spark's literal-function
    * fallback also resolves from a BARE single-part attribute (no parens):
    * `SELECT current_user FROM t` leaks identity with zero
    * UnresolvedFunction nodes in the parsed plan. */
  private val bareLiteralFunctions =
    Set("current_user", "user", "session_user")

  /** Session-variable namespace check (r11 verdict task 5): Spark
    * resolves an otherwise-unresolvable attribute `v` / `session.v` /
    * `system.session.v` as a SQL session variable — a read channel into
    * whatever the HOST session DECLAREd (DECLARE/SET VARIABLE themselves
    * are Commands and already rejected, so generated SQL cannot create
    * variables, but it could read pre-existing ones through the explicit
    * namespace). The guard has view names but not schemas, so it cannot
    * tell a real `session.field` struct access from the variable
    * fallback — same stance as [[bareLiteralFunctions]]: fail closed on
    * the ADDRESSABLE namespace forms and tell the caller to qualify
    * (`df.session.field` resolves the column and passes). Bare 1-part
    * names stay legal — banning every possible column name is absurd,
    * and that channel only exists if the host declared a variable whose
    * name shadows no column, which the engine's own sessions never do. */
  private def isVariableNamespace(parts: Seq[String]): Boolean = {
    val lc = parts.map(_.toLowerCase)
    (lc.length == 3 && lc(0) == "system" && lc(1) == "session") ||
      (lc.length == 2 && lc(0) == "session")
  }

  def parse(spark: SparkSession, sql: String): Either[String, LogicalPlan] =
    try Right(spark.sessionState.sqlParser.parsePlan(sql))
    catch {
      case e: Exception => Left(e.getMessage)
      // ANTLR recursion blows the stack on pathologically nested
      // generated SQL (thousands of parens / OR terms) — that must be a
      // Rejected verdict feeding the correction loop, not an Error that
      // takes down the session (fail-closed means fail CAUGHT)
      case _: StackOverflowError =>
        Left("parser stack overflow: query too deeply nested")
    }

  /** The plan `sql` parses to, checked, with each relation naming a frame
    * replaced by that frame's analyzed plan — or why it is refused. The
    * walk does not enter a frame's plan: it is the caller's, not generated,
    * and holds nodes outside the allowlist. */
  def accept(spark: SparkSession, sql: String, frames: Seq[(String, DataFrame)],
      functionAllowlist: Option[Set[String]] = None): Either[String, LogicalPlan] =
    guard(spark, sql, frames, Set.empty, functionAllowlist)

  /** The same walk with no frame to bind: Ok if `sql` reads only
    * `allowedViews` (and its own CTEs) under the function rules. */
  def check(spark: SparkSession, sql: String, allowedViews: Set[String],
      functionAllowlist: Option[Set[String]] = None): Verdict =
    guard(spark, sql, Nil, allowedViews, functionAllowlist).fold(Rejected(_), _ => Ok)

  /** Thrown inside the walk, caught at its root. */
  private final class Refused(val reason: String) extends Exception with NoStackTrace
  private def refuse(reason: String): Nothing = throw new Refused(reason)

  /** Parse `sql`, check the plan and bind `frames` into it, in one walk.
    *
    * The walk is SCOPE-AWARE on CTE names (r9 review finding): a name
    * defined by `WITH x AS (...)` is a legal relation target only INSIDE
    * that WITH's subtree — the earlier implementation collected CTE names
    * globally, so a decoy `(WITH secrets AS (SELECT 1) SELECT ...)`
    * anywhere in the query legalized reading a real catalog table named
    * `secrets` from an unrelated branch. Scoping is the standard prefix
    * rule (a definition body sees the outer scope plus the definitions
    * BEFORE it, and itself too under WITH RECURSIVE; the main query sees
    * them all) — an under-approximation that fails closed on anything more
    * exotic. Subquery plans inside expressions — including expressions
    * held by named WINDOW definitions, the Map both QueryPlan.expressions
    * and collectWithSubqueries skip (r8 function bypass; r9 fuzz-found
    * plan bypass) — are walked with the scope of the node that holds them.
    *
    * A relation name means, in this order: a CTE visible at that point; a
    * frame, bound as `SubqueryAlias(name, frame plan)`; a view of
    * `views`, left unbound; else the plan is refused.
    *
    * @param functionAllowlist when set, ONLY these function names may be
    *   called (the reference's whitelist mode); the env-leak denylist still
    *   applies on top, so allowlisting `current_user` does not re-enable it.
    */
  private def guard(spark: SparkSession, sql: String,
      frames: Seq[(String, DataFrame)], views: Set[String],
      functionAllowlist: Option[Set[String]]): Either[String, LogicalPlan] = {
    val wlLower = functionAllowlist.map(_.map(_.toLowerCase))
    val byName = frames.map { case (n, df) => n.toLowerCase -> (n, df) }.toMap
    val viewsLower = views.map(_.toLowerCase)

    def checkFnName(n: String): Unit =
      if (bannedFunctions.contains(n)) refuse(s"function not allowed: $n")
      else wlLower.foreach { wl =>
        if (!wl.contains(n)) refuse(s"function not in allowlist: $n")
      }
    // shared by UnresolvedAttribute AND UnresolvedNamedLambdaVariable:
    // inside a lambda body the parser wraps EVERY attribute (not just
    // the lambda's own arguments) as a lambda variable, and the
    // analyzer rewrites unmatched ones back to plain attributes — so a
    // bare identity keyword or a variable-namespace reference inside
    // `transform(arr, x -> ...)` resolves exactly like the top-level
    // form (r12 fuzz find: the lambda wrapping skipped both checks)
    def checkAttrParts(parts: Seq[String]): Unit =
      if (parts.length == 1 &&
          bareLiteralFunctions.contains(parts.head.toLowerCase))
        refuse(
          s"bare identity keyword not allowed: ${parts.head.toLowerCase} " +
            "(resolves to the function when no such column exists; " +
            "alias the column if one does)")
      else if (isVariableNamespace(parts))
        refuse(
          s"session-variable namespace not allowed: " +
            s"${parts.mkString(".")} " +
            "(resolves to a SQL session variable when no such column " +
            "exists; qualify the column with its table/alias if one does)")

    def walk(p: LogicalPlan, ctes: Set[String]): LogicalPlan = {
      // Fail-closed node allowlist: Command subclasses, DDL/DML, EXECUTE
      // IMMEDIATE, and any statement kind we have not audited land here.
      if (p.isInstanceOf[Command])
        refuse(s"command node not allowed: ${p.nodeName}")
      if (!allowedNodes.contains(p.nodeName))
        refuse(s"statement not allowed: ${p.nodeName}")

      // Row-generating TVFs only; no metadata/catalog TVFs.
      if (p.nodeName == "UnresolvedTableValuedFunction") {
        val name = p.productIterator.collectFirst {
          case parts: Seq[_] if parts.forall(_.isInstanceOf[String]) =>
            parts.mkString(".").toLowerCase
          case s: String => s.toLowerCase
        }.getOrElse("")
        if (!allowedTvfs.contains(name))
          refuse(s"table function not allowed: $name")
      }

      // ONE pre-order traversal of each expression tree serves every scan
      // (the checks are independent, so the first rejection in tree order
      // wins — a multi-poison query may report a different ONE of its
      // poisons than scan-type ordering would; the verdict is Rejected
      // either way):
      //  - deferred IDENTIFIER() (fuzz-found r10 bypass): the name lives
      //    in a string literal until analysis — no UnresolvedFunction
      //    exists to scan, and a deferred name cannot be checked
      //    statically, so it fails closed (the relation form is already
      //    outside the node allowlist as PlanWithUnresolvedIdentifier);
      //  - bare literal-function keywords (fuzz-found r10 bypass):
      //    analysis resolves an otherwise-unresolvable single-part
      //    attribute named current_user/user/session_user as the nullary
      //    function; the guard has view NAMES but not schemas, so it
      //    cannot tell a real column from the fallback — fail closed;
      //  - function/generator names against the denylist + allowlist.
      //    LATERAL VIEW generators parse to UnresolvedGenerator, not
      //    UnresolvedFunction, so both are matched;
      //  - subquery PLANS (scalar subqueries, EXISTS, IN-lists, lateral),
      //    walked and bound with THIS node's scope.
      def expr(e: Expression): Expression = e.transformDown {
        case d if d.nodeName == "ExpressionWithUnresolvedIdentifier" =>
          refuse("deferred IDENTIFIER() not allowed: name not statically checkable")
        case a: UnresolvedAttribute => checkAttrParts(a.nameParts); a
        case lv: UnresolvedNamedLambdaVariable => checkAttrParts(lv.nameParts); lv
        case f: UnresolvedFunction =>
          checkFnName(f.nameParts.mkString(".").toLowerCase); f
        case g: UnresolvedGenerator =>
          checkFnName(g.name.unquotedString.toLowerCase); g
        case pe: PlanExpression[LogicalPlan @unchecked] if pe.plan.isInstanceOf[LogicalPlan] =>
          pe.withNewPlan(walk(pe.plan, ctes))
      }

      p match {
        case r: UnresolvedRelation =>
          // STREAM(t) / STREAM t parses to the SAME UnresolvedRelation
          // node with isStreaming=true (r12 fuzz find: the name-only
          // check validated a streaming read of an allowed view) — the
          // guard surface is batch analytics, so streaming reads fail
          // closed regardless of the relation name
          if (r.isStreaming)
            refuse("streaming relation not allowed: " +
              r.multipartIdentifier.mkString("."))
          val name = r.multipartIdentifier.mkString(".").toLowerCase
          if (ctes(name)) r
          else byName.get(name) match {
            case Some((n, df)) => SubqueryAlias(n, df.queryExecution.analyzed)
            case None if viewsLower(name) => r
            case None =>
              val scope = ctes ++ byName.keySet ++ viewsLower
              refuse(s"unknown table: $name " +
                s"(allowed: ${scope.toSeq.sorted.mkString(", ")})")
          }
        // Named WINDOW definitions are invisible to QueryPlan.expressions
        // (the r8 bypass), so they are walked here.
        case w: WithWindowDefinition =>
          w.copy(windowDefinitions = w.windowDefinitions.map { case (k, v) =>
            k -> expr(v).asInstanceOf[WindowSpecDefinition] },
            child = walk(w.child, ctes))
        // A WITH extends the scope: each definition body sees the outer
        // scope plus the definitions before it, the main query sees them all.
        case w: UnresolvedWith =>
          var seen = ctes
          val defs = w.cteRelations.map { case (n, body, depth) =>
            val inBody = if (w.allowRecursion) seen + n.toLowerCase else seen
            seen += n.toLowerCase
            (n, walk(body, inBody).asInstanceOf[SubqueryAlias], depth)
          }
          w.copy(child = walk(w.child, seen), cteRelations = defs)
        case _ => p.mapExpressions(expr).mapChildren(walk(_, ctes))
      }
    }

    parse(spark, sql).left.map(err => s"parse error: $err").flatMap { plan =>
      // Same containment stance as parse(): fail-closed means fail CAUGHT.
      // A plan deep enough to blow the walk's stack (it recurses per node
      // and per subquery) must surface as a rejection, not escape as a JVM
      // Error.
      try Right(walk(plan, Set.empty))
      catch {
        case r: Refused => Left(r.reason)
        case _: StackOverflowError => Left("query too deeply nested to validate")
      }
    }
  }
}
