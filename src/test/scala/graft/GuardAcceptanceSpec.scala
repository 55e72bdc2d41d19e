package graft

import graft.engine.SqlGuard

/** Legal-SQL acceptance suite for the SqlGuard sandbox (r11 verdict
  * task 4) — the FALSE-POSITIVE side the fuzz suite doesn't measure.
  * Five fuzz-found bypasses have been closed on the poison side; this
  * suite pins that the closures did not over-reject: ≥100 representative
  * legal analytic statements (CTEs, windows, pivot/unpivot, lateral,
  * TVFs, interval arithmetic, grouping sets, set ops, subqueries, the
  * Shortcuts-generated SQL shapes) must all validate Ok. The rejections
  * the guard makes BY DESIGN (bare identity keywords, deferred
  * IDENTIFIER(), nondeterministic functions under allowlist mode) are
  * enumerated and asserted Rejected right next to the acceptance corpus,
  * so the deliberate false-positive surface stays documented and bounded.
  */
class GuardAcceptanceSpec extends SparkSpec {

  private val views = Set("df", "t2")
  private val allowMode = Some(SqlGuard.defaultFunctionAllowlist)

  private def check(sql: String, mode: Option[Set[String]]) =
    SqlGuard.check(spark, sql, views, mode)

  /** Legal under BOTH modes: every called function is on the default
    * allowlist (operators, casts, literals and interval arithmetic are
    * expression nodes, not function calls — always legal). */
  private val legalBoth: Seq[String] = Seq(
    // --- plain projection / filtering / expressions
    "SELECT a, b FROM df",
    "SELECT DISTINCT a FROM df",
    "SELECT a AS x, b + 1 AS y FROM df WHERE a > 0",
    "SELECT * FROM df WHERE a BETWEEN 1 AND 10",
    "SELECT a FROM df WHERE b IN (1, 2, 3)",
    "SELECT a FROM df WHERE b IS NOT NULL AND c LIKE 'x%'",
    "SELECT a FROM df WHERE b RLIKE '^[0-9]+$'",
    "SELECT CASE WHEN a > 0 THEN 'pos' WHEN a < 0 THEN 'neg' ELSE 'zero' END AS s FROM df",
    "SELECT CAST(a AS DOUBLE) AS d, TRY_CAST(b AS INT) AS i FROM df",
    "SELECT a IS DISTINCT FROM b AS neq FROM df",
    "SELECT coalesce(a, b, 0) AS c, nullif(a, 0) AS n, nvl(a, -1) AS v FROM df",
    "SELECT if(a > 0, 'y', 'n') AS flag FROM df",
    "SELECT greatest(a, b, c) AS g, least(a, b, c) AS l FROM df",
    // --- math / string / date function surface
    "SELECT abs(a), round(b, 2), floor(c), ceil(c), sqrt(abs(a)) FROM df",
    "SELECT pow(a, 2) AS sq, exp(a) AS e, ln(abs(a) + 1) AS lg FROM df",
    "SELECT pmod(a, 7) AS m, sign(a) AS s, width_bucket(a, 0, 100, 10) AS wb FROM df",
    "SELECT lower(s) AS lo, upper(s) AS up, trim(s) AS t, length(s) AS n FROM df",
    "SELECT TRIM(BOTH 'x' FROM s) AS t FROM df",
    "SELECT substring(s, 1, 3) AS pre, SUBSTRING(s FROM 2 FOR 4) AS mid FROM df",
    "SELECT concat_ws('-', a, b) AS k, split(s, ',') AS parts FROM df",
    "SELECT regexp_extract(s, '([0-9]+)', 1) AS num, regexp_replace(s, '\\\\s+', ' ') AS norm FROM df",
    "SELECT position('x' IN s) AS p, instr(s, 'y') AS i FROM df",
    "SELECT lpad(s, 10, '0') AS padded, repeat(s, 2) AS twice, reverse(s) AS rev FROM df",
    "SELECT levenshtein(a, b) AS dist, soundex(s) AS sx FROM df",
    "SELECT md5(s) AS h1, sha2(s, 256) AS h2, xxhash64(s) AS h3, crc32(s) AS h4 FROM df",
    "SELECT base64(cast(s AS BINARY)) AS b64, hex(a) AS hx FROM df",
    "SELECT year(ts) AS y, month(ts) AS m, dayofweek(ts) AS dow, hour(ts) AS h FROM df",
    "SELECT date_trunc('month', ts) AS mo, date_format(ts, 'yyyy-MM') AS ym FROM df",
    "SELECT date_add(d, 7) AS nxt, datediff(d2, d1) AS delta, add_months(d, 1) AS m1 FROM df",
    "SELECT unix_timestamp(ts) AS ut, from_unixtime(1700000000) AS t0 FROM df",
    "SELECT to_date(s, 'yyyy-MM-dd') AS d, to_timestamp(s) AS ts2 FROM df",
    "SELECT EXTRACT(YEAR FROM ts) AS y, date_part('month', ts) AS m FROM df",
    "SELECT make_date(2024, 1, a) AS d FROM df",
    "SELECT current_date AS today, current_timestamp AS now_ts FROM df",
    // interval arithmetic (literals are expression nodes, not functions)
    "SELECT ts + INTERVAL '1' DAY AS tomorrow FROM df",
    "SELECT ts - INTERVAL '2' HOUR AS earlier, d + INTERVAL '1-2' YEAR TO MONTH AS later FROM df",
    "SELECT ts + make_interval(0, 0, 0, a) AS shifted FROM df",
    // --- arrays / maps / structs / higher-order functions
    "SELECT array(1, 2, 3) AS arr, map('k', 1) AS m, struct(a, b) AS st FROM df",
    "SELECT arr[0] AS head, m['k'] AS v, st.a AS field FROM df",
    "SELECT element_at(arr, 1) AS e, size(arr) AS n, array_contains(arr, 1) AS has FROM df",
    "SELECT sort_array(arr) AS sorted, array_distinct(arr) AS uniq, flatten(aa) AS flat FROM df",
    "SELECT transform(arr, x -> x * 2) AS doubled FROM df",
    "SELECT filter(arr, x -> x > 0) AS pos, exists(arr, x -> x = 1) AS has1 FROM df",
    "SELECT aggregate(arr, 0, (acc, x) -> acc + x) AS total FROM df",
    "SELECT zip_with(a1, a2, (x, y) -> x * y) AS prods FROM df",
    "SELECT map_keys(m) AS ks, map_values(m) AS vs, map_filter(m, (k, v) -> v > 0) AS mf FROM df",
    "SELECT sequence(1, a) AS seq, slice(arr, 1, 2) AS s2 FROM df",
    "SELECT named_struct('x', a, 'y', b) AS st FROM df",
    // --- json / csv
    "SELECT get_json_object(js, '$.name') AS name, json_array_length(js) AS n FROM df",
    "SELECT to_json(struct(a, b)) AS js, from_json(js, 'a INT, b STRING') AS parsed FROM df",
    "SELECT schema_of_json('{\"a\": 1}') AS sch FROM df",
    "SELECT from_csv(s, 'a INT, b STRING') AS row FROM df",
    // --- aggregation
    "SELECT count(*) AS n FROM df",
    "SELECT a, count(*) AS n, sum(b) AS s, avg(c) AS m FROM df GROUP BY a",
    "SELECT a, min(b) AS lo, max(b) AS hi, stddev(b) AS sd FROM df GROUP BY a HAVING count(*) > 1",
    "SELECT a, count(DISTINCT b) AS nd FROM df GROUP BY a",
    "SELECT corr(a, b) AS r, covar_samp(a, b) AS cv, skewness(a) AS sk, kurtosis(a) AS ku FROM df",
    "SELECT percentile(a, 0.5) AS med, percentile_approx(a, array(0.25, 0.75), 100) AS qs FROM df",
    "SELECT approx_count_distinct(a) AS acd, count_if(a > 0) AS pos FROM df",
    "SELECT collect_list(a) AS all_a, collect_set(b) AS uniq_b FROM df GROUP BY c",
    "SELECT any_value(a) AS some_a, first(b) AS fb, last(b) AS lb FROM df GROUP BY c",
    "SELECT bool_and(a > 0) AS all_pos, bool_or(b > 0) AS any_pos FROM df",
    "SELECT sum(a) FILTER (WHERE b > 0) AS pos_sum FROM df",
    "SELECT a, sum(b) AS s FROM df GROUP BY a ORDER BY s DESC LIMIT 10",
    "SELECT a, b, sum(c) AS s FROM df GROUP BY GROUPING SETS ((a), (a, b), ())",
    "SELECT a, b, sum(c) AS s, grouping_id() AS gid FROM df GROUP BY ROLLUP (a, b)",
    "SELECT a, b, sum(c) AS s FROM df GROUP BY CUBE (a, b)",
    "SELECT a, sum(b) AS s FROM df GROUP BY ALL",
    // --- windows (incl. Shortcuts rolling-mean/median/std shapes)
    "SELECT a, row_number() OVER (ORDER BY b) AS rn FROM df",
    "SELECT a, rank() OVER (PARTITION BY c ORDER BY b DESC) AS r, dense_rank() OVER (PARTITION BY c ORDER BY b) AS dr FROM df",
    "SELECT a, lag(b, 1) OVER (PARTITION BY c ORDER BY ts) AS prev, lead(b, 1) OVER (PARTITION BY c ORDER BY ts) AS nxt FROM df",
    "SELECT a, avg(b) OVER (PARTITION BY c ORDER BY ts ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS roll_mean FROM df",
    "SELECT a, percentile(b, 0.5) OVER (ORDER BY ts ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS roll_med FROM df",
    "SELECT a, stddev(b) OVER (ORDER BY ts ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS roll_std FROM df",
    "SELECT a, sum(b) OVER (PARTITION BY c ORDER BY ts RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW) AS day_sum FROM df",
    "SELECT a, sum(b) OVER (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM df",
    "SELECT a, ntile(4) OVER (ORDER BY b) AS quartile, percent_rank() OVER (ORDER BY b) AS pr FROM df",
    "SELECT a, first_value(b) OVER (PARTITION BY c ORDER BY ts) AS fst, nth_value(b, 2) OVER (PARTITION BY c ORDER BY ts) AS snd FROM df",
    "SELECT row_number() OVER w AS rn, sum(b) OVER w AS s FROM df WINDOW w AS (PARTITION BY c ORDER BY ts)",
    "SELECT cume_dist() OVER (ORDER BY b) AS cd FROM df",
    // --- joins
    "SELECT df.a, t2.x FROM df JOIN t2 ON df.a = t2.a",
    "SELECT df.a, t2.x FROM df LEFT JOIN t2 ON df.a = t2.a AND t2.x > 0",
    "SELECT df.a FROM df LEFT SEMI JOIN t2 ON df.a = t2.a",
    "SELECT df.a FROM df LEFT ANTI JOIN t2 ON df.a = t2.a",
    "SELECT df.a, t2.x FROM df FULL OUTER JOIN t2 ON df.a = t2.a",
    "SELECT df.a, t2.x FROM df CROSS JOIN t2",
    "SELECT a, x FROM df JOIN t2 USING (a)",
    "SELECT df.a, t2.x FROM df, t2 WHERE df.a = t2.a",
    "SELECT df.a FROM df JOIN t2 ON df.ts BETWEEN t2.t0 AND t2.t1",
    "SELECT /*+ BROADCAST(t2) */ df.a, t2.x FROM df JOIN t2 ON df.a = t2.a",
    "SELECT /*+ MERGE(t2) */ df.a FROM df JOIN t2 ON df.a = t2.a",
    // --- set ops
    "SELECT a FROM df UNION ALL SELECT a FROM t2",
    "SELECT a FROM df UNION SELECT a FROM t2",
    "SELECT a FROM df INTERSECT SELECT a FROM t2",
    "SELECT a FROM df EXCEPT SELECT a FROM t2",
    "SELECT a FROM df EXCEPT ALL SELECT a FROM t2",
    "SELECT a FROM df INTERSECT ALL SELECT a FROM t2",
    // mode() is an allowlisted aggregate; its WITHIN GROUP ordered-set
    // form must stay legal in both modes too
    "SELECT mode() WITHIN GROUP (ORDER BY a) AS m FROM df",
    // --- CTEs
    "WITH top AS (SELECT a, sum(b) AS s FROM df GROUP BY a) SELECT * FROM top WHERE s > 100",
    "WITH x AS (SELECT a FROM df), y AS (SELECT a FROM x WHERE a > 0) SELECT count(*) AS n FROM y",
    "WITH c(k, v) AS (SELECT a, b FROM df) SELECT k, v FROM c",
    "WITH agg AS (SELECT a, count(*) AS n FROM df GROUP BY a) SELECT df.a, agg.n FROM df JOIN agg ON df.a = agg.a",
    // --- subqueries
    "SELECT a FROM df WHERE EXISTS (SELECT 1 FROM t2 WHERE t2.a = df.a)",
    "SELECT a FROM df WHERE NOT EXISTS (SELECT 1 FROM t2 WHERE t2.a = df.a)",
    "SELECT a FROM df WHERE a IN (SELECT a FROM t2 WHERE x > 0)",
    "SELECT a FROM df WHERE a NOT IN (SELECT a FROM t2)",
    "SELECT a, (SELECT max(x) FROM t2) AS mx FROM df",
    "SELECT a FROM df WHERE b > (SELECT avg(x) FROM t2)",
    "SELECT sub.a FROM (SELECT a, b FROM df WHERE a > 0) sub WHERE sub.b < 10",
    "SELECT a FROM df, LATERAL (SELECT max(x) AS mx FROM t2 WHERE t2.a = df.a) lj",
    // --- TVFs / generators / inline tables
    "SELECT id FROM range(1, 100)",
    "SELECT id * 2 AS even FROM range(0, 50, 2)",
    "SELECT * FROM explode(array(1, 2, 3))",
    "SELECT * FROM posexplode(array('a', 'b'))",
    "SELECT df.a, v FROM df LATERAL VIEW explode(arr) lv AS v",
    "SELECT df.a, p, v FROM df LATERAL VIEW posexplode(arr) lv AS p, v",
    "SELECT df.a, v FROM df LATERAL VIEW OUTER explode(arr) lv AS v",
    "SELECT x, y FROM VALUES (1, 'a'), (2, 'b') AS tab(x, y)",
    "SELECT * FROM (VALUES (1), (2)) AS t(n) WHERE n > 1",
    "SELECT stack(2, 'a', 1, 'b', 2) AS (k, v) FROM df",
    // --- reshape: pivot / unpivot
    "SELECT * FROM (SELECT a, b, c FROM df) src PIVOT (sum(c) FOR b IN (1, 2, 3))",
    "SELECT * FROM (SELECT a, b, c FROM df) src PIVOT (sum(c) AS s, avg(c) AS m FOR b IN (1, 2))",
    "SELECT k, v FROM (SELECT a, b, c FROM df) src UNPIVOT (v FOR k IN (b, c))",
    // --- sampling / shuffle directives / limits
    "SELECT a FROM df TABLESAMPLE (10 PERCENT)",
    "SELECT a FROM df TABLESAMPLE (20 ROWS)",
    "SELECT a FROM df DISTRIBUTE BY a SORT BY b",
    "SELECT a FROM df CLUSTER BY a",
    "SELECT a FROM df ORDER BY a NULLS FIRST, b DESC NULLS LAST",
    "SELECT a FROM df ORDER BY a LIMIT 10 OFFSET 5",
    "SELECT a FROM df LIMIT 100",
    // --- Shortcuts-generated analytics shapes (histogram / confusion /
    //     boxplot / value counts — the session's canned SQL)
    "SELECT floor(a / 10) * 10 AS bucket, count(*) AS n FROM df GROUP BY 1 ORDER BY 1",
    "SELECT width_bucket(a, 0, 100, 20) AS bucket, count(*) AS n FROM df GROUP BY 1 ORDER BY 1",
    "SELECT truth, pred, count(*) AS n FROM df GROUP BY truth, pred ORDER BY truth, pred",
    "SELECT c AS grp, percentile(a, 0.25) AS q1, percentile(a, 0.5) AS med, percentile(a, 0.75) AS q3, min(a) AS lo, max(a) AS hi FROM df GROUP BY c",
    "SELECT b AS value, count(*) AS n FROM df GROUP BY b ORDER BY n DESC, value LIMIT 20",
    // statement forms without a SELECT keyword (still pure reads)
    "TABLE df",
    "VALUES (1, 'a'), (2, 'b')",
    // ORDER BY ALL / null-safe equality / :: cast shorthand (Spark 4)
    "SELECT a, b FROM df ORDER BY ALL",
    "SELECT a FROM df WHERE a <=> b",
    "SELECT a :: DOUBLE AS d, b :: STRING AS s2 FROM df",
    // pipe syntax desugars to ordinary read-only nodes
    "FROM df |> WHERE a > 1 |> SELECT a, b",
    "FROM df |> SELECT a, b + 1 AS y |> WHERE y > 2 |> LIMIT 10",
    // COLLATE is an expression node (no function call involved), so the
    // collation surface is legal under BOTH modes; only the collation()
    // FUNCTION stays deny-only below
    "SELECT a COLLATE UNICODE_CI AS ci FROM df",
    "SELECT startswith(s COLLATE UTF8_LCASE, 'abc') AS p FROM df",
    "SELECT CAST(s AS STRING COLLATE UNICODE_CI) AS cs FROM df",
    // --- legal twins of the r12 rejection classes (scripting, session
    //     variables, streaming, function DDL) — the batch-analytic shapes
    //     a user actually wants stay legal while the namespace rejects
    // session-ish NAMES are not the session-variable NAMESPACE
    "SELECT session_id FROM df",
    "SELECT df.session.field FROM df", // qualified struct access: escape hatch
    "SELECT sessions.a FROM df AS sessions",
    "SELECT a AS session FROM df",
    "SELECT s.a, s.b FROM df s WHERE s.a > 0",
    // sessionization the BATCH way (session_window is allowlisted)
    "SELECT session_window(ts, '5 minutes') AS sw, count(*) AS n FROM df GROUP BY 1",
    "SELECT window(ts, '10 seconds') AS w, count(*) AS n FROM df GROUP BY 1",
    "SELECT window_time(window(ts, '1 hour')) AS wt FROM df GROUP BY window(ts, '1 hour')",
    // multi-statement INTENT expressed as one legal statement (the
    // scripting twins: what BEGIN...END users actually need)
    "WITH step1 AS (SELECT a, b FROM df WHERE a > 0), " +
      "step2 AS (SELECT a, sum(b) AS s FROM step1 GROUP BY a) " +
      "SELECT * FROM step2 WHERE s > 10",
    "SELECT CASE WHEN (SELECT max(a) FROM df) > 0 THEN 1 ELSE 2 END AS branch",
    "WITH v1 AS (SELECT max(a) AS mx FROM df) SELECT df.a FROM df, v1 WHERE df.a > v1.mx - 10",
    // the function surface a CREATE FUNCTION user wants, inline
    "SELECT a * a AS sq FROM df",
    "SELECT transform(arr, x -> x * x) AS sqs FROM df",
    // more everyday analytics breadth (corpus floor is now 150)
    "SELECT a, b FROM df WHERE (a, b) IN (SELECT a, x FROM t2)",
    // Spark has no quantified comparisons (= ANY / > ALL); the
    // equivalent legal spellings:
    "SELECT a FROM df WHERE a IN (SELECT a FROM t2)",
    "SELECT a FROM df WHERE a > (SELECT max(a) FROM t2 WHERE x < 0)",
    "SELECT count(*) FILTER (WHERE a IS NULL) AS n_null, count(*) AS n FROM df",
    "SELECT bit_and(a) AS ba, bit_or(a) AS bo, bit_xor(a) AS bx FROM df",
    "SELECT a DIV 10 AS bucket, count(*) AS n FROM df GROUP BY 1",
    "SELECT a % 7 AS m, -a AS neg, +a AS pos FROM df",
    "SELECT * FROM df WHERE ts >= DATE '2024-01-01' AND ts < TIMESTAMP '2024-07-01 00:00:00'",
    "SELECT array_agg(DISTINCT a) AS uniq FROM df",
    "SELECT a, sum(b) AS s FROM df GROUP BY a WITH ROLLUP",
    // multi-poison-free kitchen sink: CTE + window + join + grouping
    "WITH base AS (SELECT df.a, t2.x, df.ts FROM df JOIN t2 ON df.a = t2.a) " +
      "SELECT a, x, avg(x) OVER (PARTITION BY a ORDER BY ts ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS r " +
      "FROM base WHERE x IS NOT NULL ORDER BY a, ts LIMIT 1000")

  /** Legal under DENY mode only: functions off the curated default
    * allowlist (allowlist-mode rejection for these is the documented
    * whitelist philosophy, not a false positive — each line notes why). */
  private val legalDenyOnly: Seq[String] = Seq(
    // ordered-set aggregates (not yet on the curated list)
    "SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY a) AS med FROM df",
    "SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY a) AS med FROM df",
    "SELECT listagg(s, ',') WITHIN GROUP (ORDER BY a) AS joined FROM df",
    // named function arguments (mask is off-list; the arg shape is legal)
    "SELECT mask(s, lowerChar => 'q') AS masked FROM df",
    "SELECT mask(s, upperChar => 'X', digitChar => '#') AS masked FROM df",
    // sketches / stats beyond the curated list
    "SELECT hll_sketch_estimate(hll_sketch_agg(a)) AS nd FROM df",
    "SELECT histogram_numeric(a, 10) AS hist FROM df",
    "SELECT regr_slope(b, a) AS m, regr_intercept(b, a) AS c FROM df",
    "SELECT regr_r2(b, a) AS r2, regr_count(b, a) AS n FROM df",
    // string/url helpers off-list (deterministic, env-free)
    "SELECT url_encode(s) AS e, url_decode(url_encode(s)) AS rt FROM df",
    "SELECT parse_url('https://example.com/p?q=1', 'HOST') AS host FROM df",
    "SELECT luhn_check(s) AS valid FROM df",
    "SELECT char(65) AS a65, bin(a) AS b2 FROM df",
    // variant family (Spark 4 semi-structured surface)
    "SELECT parse_json('{\"a\": 1}') AS v FROM df",
    "SELECT try_parse_json(js) AS v FROM df",
    "SELECT variant_get(parse_json(js), '$.a', 'int') AS a FROM df",
    "SELECT try_variant_get(parse_json(js), '$.a', 'int') AS a FROM df",
    "SELECT schema_of_variant(parse_json(js)) AS sch FROM df",
    "SELECT is_variant_null(try_parse_json(js)) AS isn FROM df",
    "SELECT * FROM variant_explode(parse_json('[1, 2]'))",
    // nondeterministic generators — deny mode allows, allowlist mode
    // rejects BY DESIGN (reproducibility, not safety)
    "SELECT rand() AS r FROM df",
    "SELECT uuid() AS u FROM df",
    "SELECT monotonically_increasing_id() AS rid FROM df",
    "SELECT shuffle(array(1, 2, 3)) AS mixed FROM df",
    "SELECT random() AS r FROM df",
    // execution-layout probe — same stance
    "SELECT spark_partition_id() AS pid FROM df",
    // the collation() FUNCTION is off the curated list (the COLLATE
    // clause itself is an expression node — legal both modes, above)
    "SELECT collation(s COLLATE UTF8_LCASE) AS coll FROM df",
    // r12 additions: deterministic aggregates/math off the curated list
    "SELECT a, max_by(b, c) AS best, min_by(b, c) AS worst FROM df GROUP BY a",
    "SELECT hypot(a, b) AS h FROM df",
    "SELECT try_sum(a) AS s, try_avg(a) AS m FROM df")

  test("acceptance corpus has >= 150 statements") {
    assert(legalBoth.size + legalDenyOnly.size >= 150,
      s"corpus too small: ${legalBoth.size} + ${legalDenyOnly.size}")
  }

  test("every legal analytic statement validates Ok under deny mode") {
    for (sql <- legalBoth ++ legalDenyOnly) {
      val v = check(sql, None)
      assert(v == SqlGuard.Ok, s"legal SQL rejected (deny mode): $v\n$sql")
    }
  }

  test("allowlist-compatible statements validate Ok under the default " +
      "function allowlist") {
    for (sql <- legalBoth) {
      val v = check(sql, allowMode)
      assert(v == SqlGuard.Ok, s"legal SQL rejected (allow mode): $v\n$sql")
    }
  }

  test("a WITH RECURSIVE body reads its own name, in both modes") {
    val sql = "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL " +
      "SELECT n + 1 FROM r WHERE n < 3) SELECT sum(n) FROM r"
    for (mode <- Seq(None, allowMode))
      assert(check(sql, mode) == SqlGuard.Ok, s"recursive CTE rejected ($mode)")
  }

  test("the deny-only corpus rejects under allowlist mode with a " +
      "function-level reason (whitelist philosophy, not a traversal bug)") {
    for (sql <- legalDenyOnly) {
      check(sql, allowMode) match {
        case SqlGuard.Rejected(reason) =>
          assert(reason.contains("function not in allowlist") ||
            reason.contains("table function not allowed"),
            s"unexpected rejection reason '$reason' for:\n$sql")
        case SqlGuard.Ok => fail(s"expected allowlist rejection: $sql")
      }
    }
  }

  test("the INTENDED rejections stay rejected — the deliberate " +
      "false-positive surface, enumerated") {
    // Each entry is a rejection BY DESIGN with its rationale; anything
    // the guard rejects beyond this list and the allowlist-mode function
    // gate is an over-rejection bug the suites above would catch.
    val intended: Seq[(String, String)] = Seq(
      ("SELECT current_user FROM df",
        "bare identity keyword: resolves to the nullary function when no " +
          "such column exists; guard has no schema to tell them apart"),
      ("SELECT user FROM df", "bare identity keyword (same fallback)"),
      ("SELECT session_user FROM df", "bare identity keyword (same fallback)"),
      ("SELECT a FROM IDENTIFIER('df')",
        "deferred IDENTIFIER() relation: name not statically checkable, " +
          "even when it would resolve to an allowed view"),
      ("SELECT IDENTIFIER('abs')(a) FROM df",
        "deferred IDENTIFIER() function: same fail-closed stance"),
      ("SELECT try_reflect('java.lang.Math', 'abs', a) FROM df",
        "try_reflect is reflective reach even on harmless targets"),
      // r12 classes (legal twins live in legalBoth above)
      ("SELECT session.v FROM df",
        "session-variable namespace: resolves to a host-declared SQL " +
          "variable when no such column exists; qualify a real struct " +
          "column as df.session.v"),
      ("SELECT system.session.v FROM df",
        "session-variable namespace (fully qualified form)"),
      ("BEGIN SELECT a FROM df; END",
        "SQL scripting block: unaudited statement kind, fail closed"),
      ("SELECT * FROM STREAM(df)",
        "streaming relation: the guard surface is batch-only"),
      ("CREATE TEMPORARY FUNCTION f AS 'com.example.Udf'",
        "UDF registration is arbitrary-code reach (Command gate)"))
    for ((sql, why) <- intended; mode <- Seq(None, allowMode)) {
      assert(check(sql, mode) != SqlGuard.Ok,
        s"intended rejection was Ok ($why): $sql")
    }
  }
}
