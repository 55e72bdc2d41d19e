package graft

import org.apache.spark.sql.Row
import graft.engine._

/** Engine e2e through FakeLlm — the reference's own test seam
  * (llm/deprecated/fake.py), SURVEY.md §5.2.3. */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def freshDf = Seq(
    (1, "banana", 5), (2, "banana", 4), (3, "apple", 3),
    (4, "apple", 2), (5, "banana", 1)).toDF("a", "fruits", "b")

  test("canned SQL end-to-end: scalar answer") {
    val llm = FakeLlm("```sql\nSELECT CAST(sum(a) AS BIGINT) AS s FROM df\n```")
    val s = new GraftSession(spark, llm)
    val ans = s.ask(freshDf, "what is the sum of the A column?")
    assert(ans.error.isEmpty, ans.text)
    assert(ans.text == "15")
    assert(llm.lastPrompt.get.contains("what is the sum of the A column?"))
    assert(llm.lastPrompt.get.contains("Table `df`"))
    // telemetry id parity (reference process_id / last_prompt_id)
    assert(s.processId.nonEmpty)
    assert(ans.promptId.nonEmpty)
    assert(s.ask(freshDf, "and the B column?").promptId != ans.promptId,
      "each ask gets a fresh prompt id")
  }

  test("tabular answer renders header + rows") {
    val llm = FakeLlm("```sql\nSELECT fruits, count(*) AS n FROM df GROUP BY fruits ORDER BY fruits\n```")
    val ans = new GraftSession(spark, llm).ask(freshDf, "count by fruit")
    assert(ans.error.isEmpty)
    assert(ans.text.linesIterator.next() == "fruits\tn")
    assert(ans.text.contains("apple\t2") && ans.text.contains("banana\t3"))
  }

  test("retry loop: invalid SQL then valid SQL succeeds on attempt 2") {
    val llm = FakeLlm(
      "```sql\nSELECT nope_column FROM df\n```",
      "```sql\nSELECT count(*) AS n FROM df\n```")
    val s = new GraftSession(spark, llm)
    val ans = s.ask(freshDf, "how many rows?")
    assert(ans.error.isEmpty, ans.text)
    assert(ans.text == "5")
    assert(llm.callCount == 2)
    assert(llm.allPrompts(1).contains("nope_column")) // correction prompt carries the failed SQL
  }

  test("retries exhausted surfaces a typed error (reference defect 7.5.2 fixed)") {
    val llm = FakeLlm("```sql\nSELECT nope FROM df\n```") // sticks on bad SQL
    val s = new GraftSession(spark, llm, GraftConfig(maxRetries = 2))
    val ans = s.ask(freshDf, "?")
    assert(ans.error.exists(_.isInstanceOf[RetriesExhausted]))
    assert(ans.text.startsWith("Unfortunately, I was not able to answer your question"))
    // every failed try is on the trail: initial generation + 2 retries
    assert(ans.attempts.length == 3 &&
      ans.attempts.forall(a => a.sql.contains("nope") && a.error.nonEmpty))
  }

  test("correction-loop trail: per-try (sql, error) recorded on the Answer") {
    // try 1: SqlGuard-rejected (unbound table); try 2: analysis error;
    // try 3: succeeds. The reference keeps this in _logs/last_error; here
    // the Answer must carry both failures in order so a caller can see WHY
    // generations failed even though the ask ultimately succeeded.
    val llm = FakeLlm(
      "```sql\nSELECT x FROM secrets\n```",
      "```sql\nSELECT nope_column FROM df\n```",
      "```sql\nSELECT count(*) AS n FROM df\n```")
    val s = new GraftSession(spark, llm, GraftConfig(maxRetries = 2))
    val ans = s.ask(freshDf, "how many rows?")
    assert(ans.error.isEmpty, ans.text)
    assert(ans.text == "5")
    assert(ans.attempts.map(_.sql.split("FROM ")(1).trim) ==
      Seq("secrets", "df"), ans.attempts)
    assert(ans.attempts.forall(_.error.nonEmpty))
    assert(ans.attempts(0).error != ans.attempts(1).error,
      "guard rejection and engine error must be distinguishable")
    assert(s.logs.filter(_.startsWith("attempt")) == ans.attempts.zipWithIndex.map {
      case (a, i) => s"attempt ${i + 1} failed: ${a.error}" },
      "session telemetry mirrors the Answer")
    // a later clean ask resets the trail
    val ans2 = s.ask(freshDf, "count again differently?")
    assert(ans2.error.isEmpty && ans2.attempts.isEmpty)
  }

  test("guard rejects DML/DDL injection") {
    for (bad <- Seq(
        "DROP TABLE df",
        "INSERT INTO df VALUES (1, 'x', 2)",
        "CREATE TABLE t AS SELECT * FROM df",
        "UPDATE df SET a = 1")) {
      val ans = new GraftSession(spark, FakeLlm(s"```sql\n$bad\n```"),
        GraftConfig(maxRetries = 0)).ask(freshDf, "?")
      assert(ans.error.isDefined, s"should reject: $bad")
    }
  }

  test("guard rejects unknown tables and env-leaking functions") {
    val unknown = new GraftSession(spark,
      FakeLlm("```sql\nSELECT * FROM secrets\n```"), GraftConfig(maxRetries = 0))
      .ask(freshDf, "?")
    assert(unknown.error.isDefined)
    val leak = new GraftSession(spark,
      FakeLlm("```sql\nSELECT input_file_name() FROM df\n```"),
      GraftConfig(maxRetries = 0)).ask(freshDf, "?")
    assert(leak.error.isDefined)
  }

  test("guard rejects unknown relations hidden in subqueries and CTE bodies") {
    // IN-subquery referencing an unregistered table
    val sub = new GraftSession(spark,
      FakeLlm("```sql\nSELECT a FROM df WHERE a IN (SELECT x FROM secrets)\n```"),
      GraftConfig(maxRetries = 0)).ask(freshDf, "?")
    assert(sub.error.isDefined, "subquery relation must be validated")
    // CTE whose *body* reads an unregistered table (innerChildren path)
    val cte = new GraftSession(spark,
      FakeLlm("```sql\nWITH t AS (SELECT x FROM secrets) SELECT count(*) FROM t\n```"),
      GraftConfig(maxRetries = 0)).ask(freshDf, "?")
    assert(cte.error.isDefined, "CTE body relations must be validated")
    // scalar subquery with a banned function
    val fn = new GraftSession(spark,
      FakeLlm("```sql\nSELECT (SELECT current_user()) AS u FROM df\n```"),
      GraftConfig(maxRetries = 0)).ask(freshDf, "?")
    assert(fn.error.isDefined, "banned functions inside subqueries must be caught")
    // statement-level bans beyond DML: SET / EXPLAIN / SHOW
    for (bad <- Seq("SET spark.sql.ansi.enabled=false",
        "EXPLAIN SELECT * FROM df", "SHOW TABLES")) {
      val ans = new GraftSession(spark, FakeLlm(s"```sql\n$bad\n```"),
        GraftConfig(maxRetries = 0)).ask(freshDf, "?")
      assert(ans.error.isDefined, s"should reject: $bad")
    }
  }

  test("guard fails closed on EXECUTE IMMEDIATE and unlisted statement kinds") {
    // EXECUTE IMMEDIATE parses to UnresolvedExecuteImmediate (not a
    // Command), carrying its payload as a string literal — a denylist
    // regex never sees the inner SQL. The node allowlist rejects it.
    for (bad <- Seq(
        "EXECUTE IMMEDIATE 'DROP TABLE df'",
        "EXECUTE IMMEDIATE 'SELECT 1'",
        "DECLARE v INT")) {
      val ans = new GraftSession(spark, FakeLlm(s"```sql\n$bad\n```"),
        GraftConfig(maxRetries = 0)).ask(freshDf, "?")
      assert(ans.error.isDefined, s"should reject: $bad")
    }
  }

  test("guard bans env-leak function aliases, incl. via UNION exfil") {
    for (fn <- Seq("user()", "current_schema()", "session_user()",
        "current_timezone()", "current_database()")) {
      val ans = new GraftSession(spark, FakeLlm(s"```sql\nSELECT $fn FROM df\n```"),
        GraftConfig(maxRetries = 0)).ask(freshDf, "?")
      assert(ans.error.isDefined, s"should reject alias: $fn")
    }
    // UNION-based exfil through an otherwise registered-view-only query
    val u = new GraftSession(spark,
      FakeLlm("```sql\nSELECT fruits FROM df UNION ALL SELECT current_schema()\n```"),
      GraftConfig(maxRetries = 0)).ask(freshDf, "?")
    assert(u.error.isDefined, "UNION branch functions must be validated")
  }

  test("guard sees through named WINDOW specs and LATERAL VIEW generators") {
    // WithWindowDefinition keeps its specs in a Map the default
    // expression traversal skips — a banned function hidden in a WINDOW
    // clause was a verified bypass
    val w = new GraftSession(spark, FakeLlm(
      "```sql\nSELECT max(a) OVER w AS m FROM df WINDOW w AS " +
        "(PARTITION BY CASE WHEN current_user() = 'root' THEN a ELSE 0 END)\n```"),
      GraftConfig(maxRetries = 0)).ask(freshDf, "?")
    assert(w.error.isDefined, "banned function inside WINDOW spec must reject")
    // LATERAL VIEW parses to UnresolvedGenerator, not UnresolvedFunction:
    // it must count against a caller allowlist like any other call
    val s = new GraftSession(spark, FakeLlm("unused"),
      GraftConfig(functionAllowlist = Some(Set("count"))))
    assert(s.runSql(Seq("t" -> freshDf),
      "SELECT c FROM t LATERAL VIEW explode(array(1, 2)) x AS c").isLeft,
      "generator outside the allowlist must reject")
    val s2 = new GraftSession(spark, FakeLlm("unused"),
      GraftConfig(functionAllowlist = Some(Set("explode", "array"))))
    assert(s2.runSql(Seq("t" -> freshDf),
      "SELECT c FROM t LATERAL VIEW explode(array(1, 2)) x AS c").isRight,
      "allowlisted generator passes")
  }

  test("guard sees through SUBQUERIES inside named WINDOW specs " +
      "(r9 fuzz finding)") {
    // windowDefinitions is invisible twice over: not in
    // QueryPlan.expressions (the r8 bypass) and therefore not in
    // collectWithSubqueries either — so a whole subquery PLAN inside a
    // WINDOW spec (its relations, TVFs, functions) went unvalidated.
    // Found by SqlGuardFuzzSpec; pinned here explicitly.
    for (smuggled <- Seq(
        "(SELECT max(a) FROM secrets)", // unknown table
        "(SELECT max(x) FROM sql_keywords())", // catalog TVF
        "(SELECT current_user())")) { // banned function
      val ans = new GraftSession(spark, FakeLlm(
        s"```sql\nSELECT row_number() OVER w AS r FROM df WINDOW w AS " +
          s"(PARTITION BY $smuggled ORDER BY a)\n```"),
        GraftConfig(maxRetries = 0)).ask(freshDf, "?")
      assert(ans.error.isDefined,
        s"subquery smuggled through a WINDOW spec must reject: $smuggled")
    }
  }

  test("guard scopes CTE names: a decoy CTE cannot legalize a catalog " +
      "table elsewhere (r9 review finding)") {
    val s = new GraftSession(spark, FakeLlm("unused"), GraftConfig())
    // decoy: an inner WITH defines `secrets`; the OUTER branch references
    // the name out of scope — pre-fix the globally-collected CTE names
    // legalized it, and at execution it would resolve against the session
    // catalog (an unvalidated table read through the sandbox)
    assert(s.runSql(Seq("t" -> freshDf),
      "SELECT a FROM secrets UNION ALL SELECT a FROM " +
        "(WITH secrets AS (SELECT 1 AS a) SELECT a FROM secrets) z").isLeft,
      "out-of-scope CTE name must not resolve")
    // in-scope chains still pass (each def sees the ones before it)
    assert(s.runSql(Seq("t" -> freshDf),
      "WITH c1 AS (SELECT a FROM t), c2 AS (SELECT a FROM c1) " +
        "SELECT a FROM c2").isRight, "chained CTEs must stay legal")
    // prefix scoping fails closed: a later definition is not visible
    // to an earlier body
    assert(s.runSql(Seq("t" -> freshDf),
      "WITH c1 AS (SELECT a FROM c2), c2 AS (SELECT a FROM t) " +
        "SELECT a FROM c1").isLeft, "forward CTE reference must reject")
    // and a nested WITH's names do not leak to its parent scope
    assert(s.runSql(Seq("t" -> freshDf),
      "SELECT a FROM (WITH inner1 AS (SELECT a FROM t) " +
        "SELECT a FROM inner1) z JOIN inner1 ON 1 = 1").isLeft,
      "nested CTE name must not escape its subtree")
  }

  test("guard never lets a parser blow-up escape as a JVM Error") {
    // thousands of nested parens can blow ANTLR's recursion (stack-size
    // dependent) — whatever happens, parse() must return an Either, not
    // let StackOverflowError escape through the ask loop
    for (depth <- Seq(2000, 8000, 20000)) {
      val deep = "(" * depth + "1" + ")" * depth
      val v = SqlGuard.parse(spark, s"SELECT $deep AS x FROM df")
      assert(v.isLeft || v.isRight) // totality: no Throwable escaped
    }
    // and the VALIDATE walk (hand-rolled recursion per plan node and per
    // subquery) has the same containment: a plan deep enough to survive
    // ANTLR must come back as a verdict, never as a StackOverflowError
    // escaping check() (r9 advice)
    for (depth <- Seq(500, 4000)) {
      val nested = ("SELECT a FROM (" * depth) + "SELECT a FROM df" +
        (") t" * depth)
      val verdict = SqlGuard.check(spark, nested, Set("df"))
      assert(verdict != null) // totality: Ok or Rejected, nothing thrown
    }
  }

  test("guard TVF allowlist: range passes, unlisted table functions fail closed") {
    val s = new GraftSession(spark, FakeLlm("unused"))
    val ok = s.runSql(Seq("t" -> freshDf), "SELECT count(*) AS n FROM range(10)")
    assert(ok.isRight && ok.toOption.get.head.getLong(0) == 10L)
    assert(s.runSql(Seq("t" -> freshDf), "SELECT * FROM mystery_tvf(1)").isLeft)
  }

  test("guard allows read-only shuffle directives (DISTRIBUTE BY)") {
    val s = new GraftSession(spark, FakeLlm("unused"))
    val ok = s.runSql(Seq("t" -> freshDf),
      "SELECT a, fruits FROM t DISTRIBUTE BY fruits")
    assert(ok.isRight, ok.left.toOption.map(_.message).getOrElse(""))
  }

  test("functionAllowlist mode: only listed functions may be called") {
    val cfg = GraftConfig(maxRetries = 0, functionAllowlist = Some(Set("count")))
    val ok = new GraftSession(spark,
      FakeLlm("```sql\nSELECT count(*) AS n FROM df\n```"), cfg).ask(freshDf, "?")
    assert(ok.error.isEmpty, ok.text)
    val bad = new GraftSession(spark,
      FakeLlm("```sql\nSELECT sum(a) AS s FROM df\n```"), cfg).ask(freshDf, "?")
    assert(bad.error.isDefined, "sum is not in the allowlist")
  }

  test("curated function allowlist is ON by default, with explicit opt-out") {
    // nondeterministic generators are off the curated default list
    val rej = new GraftSession(spark,
      FakeLlm("```sql\nSELECT rand() AS r FROM df\n```"),
      GraftConfig(maxRetries = 0)).ask(freshDf, "?")
    assert(rej.error.isDefined, "rand() must be rejected by the default allowlist")
    // a representative analytics query passes the default list untouched
    val ok = new GraftSession(spark, FakeLlm(
      "```sql\nSELECT fruits, count(*) AS n, round(avg(a), 2) AS m, " +
        "max(coalesce(b, 0)) AS mx FROM df GROUP BY fruits ORDER BY fruits\n```"))
      .ask(freshDf, "stats")
    assert(ok.error.isEmpty, s"curated list must admit standard analytics: ${ok.text}")
    // opt-out (None) restores the parser-wide surface ...
    val optOut = new GraftSession(spark,
      FakeLlm("```sql\nSELECT rand() AS r FROM df\n```"),
      GraftConfig(maxRetries = 0, functionAllowlist = None)).ask(freshDf, "?")
    assert(optOut.error.isEmpty, "opt-out must allow off-list functions again")
    // ... but the env-leak denylist still applies on top of the opt-out
    val stillBanned = new GraftSession(spark,
      FakeLlm("```sql\nSELECT current_user() AS u FROM df\n```"),
      GraftConfig(maxRetries = 0, functionAllowlist = None)).ask(freshDf, "?")
    assert(stillBanned.error.isDefined, "denylist applies even when opted out")
  }

  test("guard allows CTEs over registered views") {
    val llm = FakeLlm(
      "```sql\nWITH t AS (SELECT a FROM df WHERE a > 2) SELECT count(*) AS n FROM t\n```")
    val ans = new GraftSession(spark, llm).ask(freshDf, "?")
    assert(ans.error.isEmpty, ans.text)
    assert(ans.text == "3")
  }

  test("cache: identical question+schema skips the LLM; different question does not") {
    val llm = FakeLlm("```sql\nSELECT count(*) AS n FROM df\n```")
    val s = new GraftSession(spark, llm)
    assert(s.ask(freshDf, "how many rows?").text == "5")
    assert(s.ask(freshDf, "how many rows?").text == "5")
    assert(llm.callCount == 1) // second ask served from cache
    s.ask(freshDf, "how many rows are there?")
    assert(llm.callCount == 2)
  }

  test("cache stores the corrected SQL, not the failed first draft") {
    val llm = FakeLlm(
      "```sql\nSELECT nope FROM df\n```",
      "```sql\nSELECT count(*) AS n FROM df\n```")
    val s = new GraftSession(spark, llm)
    assert(s.ask(freshDf, "how many rows?").text == "5")
    assert(llm.callCount == 2)
    assert(s.ask(freshDf, "how many rows?").text == "5")
    assert(llm.callCount == 2,
      "repeat ask must replay the corrected SQL from cache, not the bad draft")
  }

  test("persistent cache survives sessions (reference cache.py parity)") {
    val path = java.nio.file.Files.createTempFile("graft_cache", ".json").toString
    val llm1 = FakeLlm("```sql\nSELECT count(*) AS n FROM df\n```")
    val s1 = new GraftSession(spark, llm1, GraftConfig(cachePath = Some(path)))
    assert(s1.ask(freshDf, "how many rows?").text == "5")
    assert(llm1.callCount == 1)
    // a brand-new session with the same cache file never calls the LLM
    val llm2 = FakeLlm("unused")
    val s2 = new GraftSession(spark, llm2, GraftConfig(cachePath = Some(path)))
    assert(s2.ask(freshDf, "how many rows?").text == "5")
    assert(llm2.callCount == 0)
    s2.clearCache()
    val llm3 = FakeLlm("```sql\nSELECT count(*) AS n FROM df\n```")
    val s3 = new GraftSession(spark, llm3, GraftConfig(cachePath = Some(path)))
    s3.ask(freshDf, "how many rows?")
    assert(llm3.callCount == 1, "clearCache must empty the file too")
  }

  test("a cache hit runs no describe work; a cold ask still does") {
    // Every evaluation of the frame bumps the accumulator once per row, and
    // accumulators are merged before collect returns, so deltas are exact.
    val scanned = spark.sparkContext.longAccumulator("scanned")
    val seen = org.apache.spark.sql.functions.udf { (a: Long) => scanned.add(1); true }
    val df = spark.range(1, 6, 1, 1).toDF("a").filter(seen($"a"))
    val llm = FakeLlm("```sql\nSELECT count(*) AS n FROM df\n```")
    val s = new GraftSession(spark, llm)
    def delta(q: String): Long = {
      val before = scanned.value
      assert(s.ask(df, q).text == "5")
      scanned.value - before
    }
    val cold = delta("how many rows?")
    assert(llm.lastPrompt.get.contains("with 5 rows"), llm.lastPrompt.get)
    val hit = delta("how many rows?")
    assert(llm.callCount == 1)
    assert(hit == 5, "a hit scans the frame once: the result query")
    assert(cold == 15, "a cold ask scans for the count, the head and the result")
  }

  test("a frame object is described once per session, until clearCache") {
    val scanned = spark.sparkContext.longAccumulator("described")
    val seen = org.apache.spark.sql.functions.udf { (a: Long) => scanned.add(1); true }
    def frame = spark.range(1, 6, 1, 1).toDF("a").filter(seen($"a"))
    val df = frame
    def delta(s: GraftSession, dfs: Seq[org.apache.spark.sql.DataFrame], q: String): Long = {
      val before = scanned.value
      val ans = s.ask(dfs, q)
      assert(ans.error.isEmpty && ans.text == "5", ans.text)
      scanned.value - before
    }
    def tableBlock(prompt: String): String =
      prompt.substring(prompt.indexOf("Table `"), prompt.indexOf("\n\nWhen asked"))
    val llm = FakeLlm("```sql\nSELECT count(*) AS n FROM df\n```")
    val s = new GraftSession(spark, llm)
    assert(delta(s, Seq(df), "how many rows?") == 15, "count + head + result")
    val first = tableBlock(llm.lastPrompt.get)
    assert(first.contains("with 5 rows"), first)
    assert(delta(s, Seq(df), "and how many rows now?") == 5,
      "a second cold question on the same frame scans for its result only")
    assert(llm.callCount == 2, "both questions were cold")
    assert(tableBlock(llm.lastPrompt.get) == first)
    // descriptions belong to the SparkSession: a second engine on it reuses
    // them, and either engine's clearCache drops them for both
    val other = FakeLlm("```sql\nSELECT count(*) AS n FROM df\n```")
    val s2 = new GraftSession(spark, other)
    assert(delta(s2, Seq(df), "rows, asked elsewhere?") == 5,
      "a second session's cold ask on a described frame scans for its result only")
    assert(tableBlock(other.lastPrompt.get) == first)
    s2.clearCache()
    assert(delta(s, Seq(df), "how many rows, once more?") == 15,
      "clearCache drops the descriptions")
    s.clearCache()
    assert(delta(s2, Seq(df), "rows, asked elsewhere, again?") == 15,
      "the first session's clearCache drops them for the second too")
    assert(delta(s, Seq(frame), "how many rows in the new frame?") == 15,
      "a new frame object with the same rows is described afresh")

    // one frame bound under two names is described once
    val two = FakeLlm("```sql\nSELECT count(*) AS n FROM df1\n```")
    val twice = frame
    assert(delta(new GraftSession(spark, two), Seq(twice, twice), "rows in df1?") == 15)
    assert(two.lastPrompt.get.contains("Table `df1`") &&
      two.lastPrompt.get.contains("Table `df2`"), two.lastPrompt.get)

    // descriptions are kept per flag pair: anonymizeHead applies even to a
    // frame the parent has already described with real values
    val fruit = freshDf
    s.ask(fruit, "how many fruit rows?")
    assert(llm.lastPrompt.get.contains("banana"))
    s.withConfig(_.copy(anonymizeHead = true)).ask(fruit, "how many fruits?")
    val masked = llm.lastPrompt.get
    assert(masked.contains("str_0") && !masked.contains("banana") &&
      !masked.contains("apple"), masked)
    s.ask(fruit, "how many fruit rows, again?")
    assert(llm.lastPrompt.get.contains("banana"), "the parent keeps its unmasked description")
  }

  test("a described frame stays collectable once the caller drops it") {
    val llm = FakeLlm("```sql\nSELECT count(*) AS n FROM df\n```")
    val s = new GraftSession(spark, llm)
    // the frame's only strong reference is local to this method
    def describedAndDropped(): java.lang.ref.WeakReference[org.apache.spark.sql.DataFrame] = {
      val df = spark.range(1, 6, 1, 1).toDF("a")
      assert(s.ask(df, "how many rows?").text == "5")
      assert(llm.lastPrompt.get.contains("with 5 rows"), llm.lastPrompt.get)
      new java.lang.ref.WeakReference(df)
    }
    val ref = describedAndDropped()
    var rounds = 0
    while (ref.get != null && rounds < 50) {
      System.gc()
      Thread.sleep(20)
      rounds += 1
    }
    assert(ref.get == null, s"the description memo pins a dropped frame ($rounds GCs)")
  }

  test("describing a frame runs one job per statistic, none for driver-local rows") {
    val local = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "x"), Row(2L, "y"), Row(3L, "z")),
      org.apache.spark.sql.types.StructType.fromDDL("a BIGINT, s STRING"))
    var ctx: Prompts.TableCtx = null
    assert(jobsOf { ctx = Prompts.describe("df", local) } == 0,
      "a createDataFrame frame's count and head are read on the driver")
    assert(ctx.rows == 3 && ctx.head.linesIterator.size == 4, ctx)
    assert(jobsOf { ctx = Prompts.describe("df", freshDf.filter($"b" > 2)) } == 0,
      "a filter the optimizer folds into the local rows stays driver-local")
    assert(ctx.rows == 3, ctx)
    assert(jobsOf { ctx = Prompts.describe("df", spark.range(1, 6, 1, 1).toDF()) } == 2,
      "one count job and one head job")
    assert(ctx.rows == 5, ctx)
    // over several partitions Dataset.count() needs an exchange, which
    // costs a second job under AQE; the column-pruned count needs none
    assert(jobsOf { ctx = Prompts.describe("df", spark.range(0, 100, 1, 4).toDF()) } == 2,
      "one count job and one head job, also over several partitions")
    assert(ctx.rows == 100, ctx)
  }

  test("a driver-local frame's head renders as its collect does, with no " +
      "SQL execution") {
    import org.apache.spark.sql.types._
    val schema = StructType.fromDDL(
      "d DATE, amt DECIMAL(12,3), ts TIMESTAMP, tags ARRAY<STRING>, s STRING")
    val rows = (1 to 7).map { i =>
      if (i == 3) Row(null, null, null, null, null)
      else Row(java.sql.Date.valueOf(s"2024-01-0$i"),
        new java.math.BigDecimal(s"$i.25"),
        java.sql.Timestamp.valueOf(s"2024-03-0$i 12:34:56.789"),
        Seq(s"t$i", null), if (i % 2 == 0) null else s"v$i")
    }
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val want = (Prompts.schemaHeader(local) +: local.limit(5).collect().map(
      _.toSeq.map(v => if (v == null) "null" else v.toString).mkString(" | ")))
      .mkString("\n")
    var ctx: Prompts.TableCtx = null
    assert(executionsOf { ctx = Prompts.describe("df", local) } == 0,
      "describing a driver-local frame runs no SQL execution")
    assert(ctx.head == want, ctx.head)
    assert(ctx.rows == 7 && ctx.head.linesIterator.size == 6, ctx)
  }

  /** `body`'s answer with the Spark jobs and SQL executions it ran. */
  private def counted(body: => Answer): (Int, Int, Answer) = {
    var ans: Answer = null
    var jobs = 0
    val executions = executionsOf { jobs = jobsOf { ans = body } }
    (jobs, executions, ans)
  }

  test("asks over driver-local frames run no Spark job and no SQL execution; " +
      "over a scanned frame they still run on Spark") {
    val sql = "```sql\nSELECT CAST(sum(a) AS BIGINT) AS s FROM df\n```"
    val dir = java.nio.file.Files.createTempDirectory("graft_scanned").toString
    try {
      freshDf.write.mode("overwrite").parquet(dir)
      for ((shape, frame, local) <- Seq(("local", freshDf, true),
          ("scanned", spark.read.parquet(dir), false))) {
        // Spark records a failed analysis as one SQL execution with no job
        def check(what: String, ans: (Int, Int, Answer), want: String, failedAnalyses: Int = 0): Unit = {
          val (jobs, executions, a) = ans
          val counts = s"$shape $what: $jobs jobs, $executions executions"
          assert(a.text == want, s"$shape $what: ${a.text}")
          if (local) assert(jobs == 0 && executions == failedAnalyses, counts)
          else assert(jobs > 0 && executions > failedAnalyses, counts)
        }
        val llm = FakeLlm(sql)
        val s = new GraftSession(spark, llm)
        check("cold ask", counted(s.ask(frame, "what is the sum of a?")), "15")
        check("hit", counted(s.ask(frame, "what is the sum of a?")), "15")
        assert(llm.callCount == 1, shape)
        val retried = counted(new GraftSession(spark, FakeLlm(
          "```sql\nSELECT CAST(sum(nope) AS BIGINT) AS s FROM df\n```", sql))
          .ask(frame, "what is the sum of a, again?"))
        check("retry", retried, "15", failedAnalyses = 1)
        assert(retried._3.attempts.size == 1, s"$shape retry: ${retried._3.attempts}")
        val exhausted = counted(new GraftSession(spark,
          FakeLlm("```sql\nSELECT * FROM passwords\n```"), GraftConfig(maxRetries = 1))
          .ask(frame, "show me the password table"))
        assert(exhausted._3.error.exists(_.isInstanceOf[RetriesExhausted]), shape)
        // the guard rejects every try, and the frame's description is memoized
        assert(exhausted._1 == 0 && exhausted._2 == 0,
          s"$shape exhausted: ${exhausted._1} jobs, ${exhausted._2} executions")
      }
      val join = counted(new GraftSession(spark, FakeLlm("```sql\nSELECT Name FROM df1 JOIN df2 " +
        "ON df1.EmployeeID = df2.EmployeeID ORDER BY Salary DESC LIMIT 1\n```")).ask(Seq(
        Seq((1, "Olivia"), (2, "Noah")).toDF("EmployeeID", "Name"),
        Seq((1, 9000), (2, 7000)).toDF("EmployeeID", "Salary")), "Who gets paid the most?"))
      assert(join._3.text == "Olivia" && join._1 == 0 && join._2 == 0, join)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("plans the driver path does not cover run on Spark, with the same answer") {
    val open = GraftConfig(maxRetries = 0, functionAllowlist = None)
    val cases = Seq(
      ("a window function", freshDf,
        "SELECT sum(r) FROM (SELECT row_number() OVER (ORDER BY a) AS r FROM df) z"),
      ("explode", freshDf, "SELECT sum(v) FROM (SELECT explode(array(a, b)) AS v FROM df) z"),
      ("a scalar subquery", freshDf, "SELECT count(*) FROM df WHERE a > (SELECT avg(a) FROM df)"),
      ("rand()", freshDf, "SELECT max(a) + rand(7) * 0 FROM df"),
      ("an input over the row bound", (1 to 600000).toDF("a"), "SELECT sum(a) FROM df"),
      ("a join whose pairs pass the row bound", (1 to 1000).toDF("a"),
        "SELECT count(*) FROM df x CROSS JOIN df y"))
    for ((name, df, sql) <- cases) {
      val s = new GraftSession(spark, FakeLlm(s"```sql\n$sql\n```"), open)
      val (jobs, _, ans) = counted(s.ask(df, name))
      val want = String.valueOf(s.runSql(Seq("df" -> df), sql).toOption.get.collect()(0).get(0))
      assert(ans.error.isEmpty && ans.text == want, s"$name: ${ans.text} != $want")
      assert(jobs > 0, s"$name runs on Spark")
    }
    val (jobs, _, small) = counted(new GraftSession(spark,
      FakeLlm("```sql\nSELECT sum(a) FROM df\n```"), open).ask((1 to 1000).toDF("a"), "sum?"))
    assert(small.text == "500500" && jobs == 0, "the same query under the bound runs on the driver")
  }

  test("rowCount(exact) equals Dataset.count on every frame shape") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rowcount").toString
    try {
      spark.range(0, 100, 1, 3).selectExpr("id", "id % 7 AS k", "'v' || id AS v")
        .write.mode("overwrite").parquet(dir)
      val table = spark.read.parquet(dir)
      val keys = spark.range(0, 7).selectExpr("id AS k", "id * 10 AS w")
      val frames = Seq(
        "local" -> freshDf,
        "empty local" -> Seq.empty[(Int, String)].toDF("a", "s"),
        "range" -> spark.range(1, 6, 1, 1).toDF("a"),
        "filtered parquet" -> table.filter($"k" === 3 && $"v" =!= "v3"),
        "aggregate" -> table.groupBy("k").count(),
        "limit" -> table.limit(7),
        "union" -> table.union(table.filter($"k" < 2)),
        "left join" -> table.join(keys, Seq("k"), "left"))
      for ((shape, df) <- frames) {
        val n = df.count()
        assert(Prompts.rowCount(df, exact = true) == n, shape)
        assert(n > 0 || shape == "empty local", shape)
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("exactRowCount = false: driver-local rows are still counted exactly; " +
      "other frames say unknown and run only the head job") {
    val llm = FakeLlm("```sql\nSELECT count(*) AS n FROM df\n```")
    val s = new GraftSession(spark, llm, GraftConfig(exactRowCount = false))
    assert(s.ask(freshDf, "how many rows?").text == "5")
    assert(llm.lastPrompt.get.contains("Table `df`, with 5 rows"), llm.lastPrompt.get)
    val range = spark.range(1, 6, 1, 1).toDF("a")
    assert(s.ask(range, "how many rows?").text == "5")
    assert(llm.lastPrompt.get.contains("Table `df`, with an unknown number of rows"),
      llm.lastPrompt.get)
    var ctx: Prompts.TableCtx = null
    assert(jobsOf { ctx = Prompts.describe("df", range, exactRowCount = false) } == 1,
      "the head collect only")
    assert(ctx.rows == -1, ctx)
  }

  test("cache key format on disk is unchanged; a failing cached SQL " +
      "builds the full table block for its correction") {
    val path = java.nio.file.Files.createTempFile("graft_cache_key", ".json")
    try {
      val question = "how many rows?"
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$question||df:a (int) | fruits (string) | b (int)".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.nio.file.Files.write(path,
        s"""{"$key": "SELECT nope FROM df"}""".getBytes("UTF-8"))
      val llm = FakeLlm("```sql\nSELECT count(*) AS n FROM df\n```")
      val ans = new GraftSession(spark, llm, GraftConfig(cachePath = Some(path.toString)))
        .ask(freshDf, question)
      assert(ans.error.isEmpty, ans.text)
      assert(ans.text == "5")
      assert(ans.attempts.map(_.sql) == Seq("SELECT nope FROM df"))
      assert(llm.callCount == 1, "the stale hit costs one correction call, no generation")
      assert(llm.lastPrompt.get.startsWith(
        "Table `df`, with 5 rows and 3 columns. Schema and first rows:\n" +
          "a (int) | fruits (string) | b (int)\n1 | banana | 5\n2 | banana | 4\n" +
          "3 | apple | 3\n4 | apple | 2\n5 | banana | 1\n"), llm.lastPrompt.get)
      // the corrected SQL replaces the stale entry under the same key
      val tree = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(path))
      assert(tree.get(key).asText() == "SELECT count(*) AS n FROM df")
    } finally java.nio.file.Files.deleteIfExists(path)
  }

  test("failed asks are not cached") {
    val llm = FakeLlm("```sql\nSELECT nope FROM df\n```")
    val s = new GraftSession(spark, llm, GraftConfig(maxRetries = 0))
    assert(s.ask(freshDf, "?").error.isDefined)
    assert(s.cacheSize == 0)
  }

  test("execution-time errors feed the correction loop, not just analysis errors") {
    // raise_error passes parse + analysis and first fails when rows are
    // materialized — the bounded collect inside run() must catch it and
    // retry (reference run_code retries on execution exceptions too).
    val llm = FakeLlm(
      "```sql\nSELECT raise_error('boom') AS x FROM df\n```",
      "```sql\nSELECT count(*) AS n FROM df\n```")
    val s = new GraftSession(spark, llm)
    val ans = s.ask(freshDf, "?")
    assert(ans.error.isEmpty, ans.text)
    assert(ans.text == "5")
    assert(llm.callCount == 2)
    assert(llm.allPrompts(1).contains("raise_error"),
      "correction prompt carries the runtime-failing SQL")
  }

  test("multi-table binding df1..dfN (reference :532-535) + join answer") {
    val employees = Seq((1, "Olivia", "Eng"), (2, "Noah", "Ops"))
      .toDF("EmployeeID", "Name", "Department")
    val salaries = Seq((1, 9000), (2, 7000)).toDF("EmployeeID", "Salary")
    val llm = FakeLlm(
      "```sql\nSELECT Name FROM df1 JOIN df2 ON df1.EmployeeID = df2.EmployeeID ORDER BY Salary DESC LIMIT 1\n```")
    val ans = new GraftSession(spark, llm).ask(Seq(employees, salaries), "Who gets paid the most?")
    assert(ans.error.isEmpty, ans.text)
    assert(ans.text == "Olivia")
    assert(llm.lastPrompt.get.contains("Table `df1`") &&
      llm.lastPrompt.get.contains("Table `df2`"))
  }

  test("askNamed binds real table names") {
    val llm = FakeLlm(
      "```sql\nSELECT count(*) AS n FROM fruit_sales WHERE fruits = 'banana'\n```")
    val ans = new GraftSession(spark, llm)
      .askNamed(Seq("fruit_sales" -> freshDf), "how many banana rows?")
    assert(ans.error.isEmpty, ans.text)
    assert(ans.text == "3")
    assert(llm.lastPrompt.get.contains("Table `fruit_sales`"))
  }

  test("anonymizeHead: prompts carry schema but no real data values") {
    val llm = FakeLlm("```sql\nSELECT count(*) AS n FROM df\n```")
    val s = new GraftSession(spark, llm, GraftConfig(anonymizeHead = true))
    s.ask(freshDf, "how many rows?")
    val p = llm.lastPrompt.get
    assert(p.contains("fruits (string)"), "schema must still be visible")
    assert(!p.contains("banana") && !p.contains("beetle") && !p.contains("audi"),
      "real cell values must not appear in the prompt")
    assert(p.contains("str_0"), "placeholders stand in for values")
  }

  test("conversational answer uses a second LLM round-trip") {
    val llm = FakeLlm(
      "```sql\nSELECT count(*) AS n FROM df\n```",
      "There are 5 rows in your data.")
    val s = new GraftSession(spark, llm, GraftConfig(conversational = true))
    assert(s.ask(freshDf, "how many rows?").text == "There are 5 rows in your data.")
    assert(llm.callCount == 2)
  }

  test("error envelope matches the reference string contract") {
    val ans = new GraftSession(spark, FakeLlm("no code here at all"),
      GraftConfig(maxRetries = 0)).ask(freshDf, "?")
    assert(ans.text.startsWith(
      "Unfortunately, I was not able to answer your question, because of the following error:"))
  }

  test("shortcuts delegate through ask() with canned prompts") {
    val llm = FakeLlm("```sql\nSELECT fruits, count(*) AS n FROM df GROUP BY fruits ORDER BY fruits\n```")
    val s = new GraftSession(spark, llm)
    val ans = new Shortcuts(s).plotHistogram(freshDf, "fruits")
    assert(ans.error.isEmpty)
    assert(llm.lastPrompt.get.contains("fruits"))
  }

  test("analytics shortcuts (funnel/markov/ab) delegate with canned prompts") {
    val llm = FakeLlm("```sql\nSELECT fruits, count(*) AS n FROM df GROUP BY fruits ORDER BY fruits\n```")
    val s = new GraftSession(spark, llm)
    val sc = new Shortcuts(s)
    assert(sc.funnel(freshDf, "fruits", Seq("view", "buy")).error.isEmpty)
    assert(llm.lastPrompt.get.contains("view -> buy"))
    assert(sc.transitionMatrix(freshDf, "fruits", "b").error.isEmpty)
    assert(llm.lastPrompt.get.contains("transitions between consecutive"))
    assert(sc.abTest(freshDf, "fruits", "b").error.isEmpty)
    assert(llm.lastPrompt.get.contains("hash"))
  }

  test("chart shortcuts aggregate and feed Charts.vegaLite marks") {
    val llm = FakeLlm("```sql\nSELECT fruits, CAST(sum(b) AS BIGINT) AS total FROM df GROUP BY fruits ORDER BY fruits\n```")
    val s = new GraftSession(spark, llm)
    val ans = new Shortcuts(s).plotPieChart(freshDf, "fruits", "b")
    assert(ans.error.isEmpty, ans.text)
    assert(llm.lastPrompt.get.contains("pie slice"))
    val spec = Charts.vegaLite(ans.df.get, Charts.Bar, "fruits", "total")
    assert(spec.contains("\"banana\"") && spec.contains("\"mark\": \"bar\""))
  }

  test("saveCharts: plotBarChart leaves exactly one parseable spec per ask " +
      "whose inline data equals the answer frame") {
    val dir = java.nio.file.Files.createTempDirectory("graft_charts")
    try {
      val llm = FakeLlm("```sql\nSELECT fruits, CAST(sum(b) AS BIGINT) AS total FROM df GROUP BY fruits ORDER BY fruits\n```")
      val s = new GraftSession(spark, llm,
        GraftConfig(saveCharts = true, chartDir = dir.toString))
      val ans = new Shortcuts(s).plotBarChart(freshDf, "fruits", "total")
      assert(ans.error.isEmpty, ans.text)
      val files = java.nio.file.Files.list(dir).toArray.map(_.toString)
      assert(files.length == 1, s"expected exactly one spec file: ${files.toSeq}")
      assert(ans.chartPath.contains(files(0)))
      assert(files(0).endsWith(s"${ans.promptId}.json"))
      val tree = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(files(0))))
      assert(tree.path("mark").asText() == "bar")
      // inline data == the answer frame, row for row
      val vals = tree.path("data").path("values")
      val rows = ans.df.get.collect()
      assert(vals.size() == rows.length)
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(vals.get(i).path("fruits").asText() == r.getString(0))
        assert(vals.get(i).path("total").asLong() == r.getLong(1))
      }
    } finally {
      java.nio.file.Files.list(dir).forEach(java.nio.file.Files.delete(_))
      java.nio.file.Files.delete(dir)
    }
  }

  test("saveCharts off: no artifact, no chartPath") {
    val dir = java.nio.file.Files.createTempDirectory("graft_charts_off")
    try {
      val llm = FakeLlm("```sql\nSELECT fruits, CAST(sum(b) AS BIGINT) AS total FROM df GROUP BY fruits\n```")
      val s = new GraftSession(spark, llm, GraftConfig(chartDir = dir.toString))
      val ans = new Shortcuts(s).plotBarChart(freshDf, "fruits", "total")
      assert(ans.error.isEmpty && ans.chartPath.isEmpty)
      assert(java.nio.file.Files.list(dir).count() == 0)
    } finally java.nio.file.Files.delete(dir)
  }

  test("saveCharts: pie capture uses the arc mark with theta/color encoding; " +
      "aliased columns fall back to the frame's own") {
    val dir = java.nio.file.Files.createTempDirectory("graft_charts_pie")
    try {
      // LLM aliased the requested (fruits, b) to (f, s): capture must fall
      // back to the answer frame's actual columns, like the reference saves
      // whatever the generated code plotted
      val llm = FakeLlm("```sql\nSELECT fruits AS f, CAST(sum(b) AS BIGINT) AS s FROM df GROUP BY fruits ORDER BY f\n```")
      val ses = new GraftSession(spark, llm,
        GraftConfig(saveCharts = true, chartDir = dir.toString))
      val ans = new Shortcuts(ses).plotPieChart(freshDf, "fruits", "b")
      assert(ans.error.isEmpty && ans.chartPath.isDefined, ans.text)
      val tree = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(ans.chartPath.get)))
      assert(tree.path("mark").asText() == "arc")
      assert(tree.path("encoding").path("theta").path("field").asText() == "s")
      assert(tree.path("encoding").path("color").path("field").asText() == "f")
    } finally {
      java.nio.file.Files.list(dir).forEach(java.nio.file.Files.delete(_))
      java.nio.file.Files.delete(dir)
    }
  }

  test("no fence in the LLM response surfaces the typed NoSqlFound error") {
    val llm = FakeLlm("I could not write a query for that, sorry.")
    val ans = new GraftSession(spark, llm).ask(freshDf, "?")
    assert(ans.error.exists(_.isInstanceOf[NoSqlFound]), ans.error.toString)
    assert(ans.text.startsWith("Unfortunately"))
    assert(ans.df.isEmpty && ans.sql.isEmpty)
  }

  test("DDL fence: SqlGuard Rejected lands on the attempt trail, " +
      "correction loop heals on the next draft") {
    val llm = FakeLlm(
      "```sql\nDROP TABLE df\n```",
      "```sql\nSELECT count(*) AS n FROM df\n```")
    val s = new GraftSession(spark, llm)
    val ans = s.ask(freshDf, "how many rows?")
    assert(ans.error.isEmpty, ans.text)
    assert(ans.text == "5")
    assert(ans.attempts.length == 1)
    assert(ans.attempts.head.sql.contains("DROP TABLE"))
    assert(ans.attempts.head.error.nonEmpty, "the Rejected reason rides the trail")
    // the correction prompt carried the rejection back to the LLM
    assert(llm.allPrompts(1).contains("DROP TABLE"))
  }

  test("Charts.vegaLite inlines aggregated data with typed encodings") {
    val agg = freshDf.groupBy("fruits").count()
    val spec = Charts.vegaLite(agg, Charts.Bar, "fruits", "count")
    assert(spec.contains("\"mark\": \"bar\""))
    assert(spec.contains("\"field\": \"fruits\", \"type\": \"nominal\""))
    assert(spec.contains("\"field\": \"count\", \"type\": \"quantitative\""))
    assert(spec.contains("\"fruits\": \"banana\", \"count\": 3"))
    // guard: refuses to inline unaggregated data beyond maxRows
    intercept[IllegalArgumentException] {
      Charts.vegaLite(freshDf, Charts.Point, "a", "b", maxRows = 2)
    }
  }

  test("Charts.vegaLite escapes column names in data keys and encodings") {
    val df = Seq(("x", 1L)).toDF("fr\"uit", "n")
    val spec = Charts.vegaLite(df, Charts.Bar, "fr\"uit", "n")
    assert(spec.contains("\"fr\\\"uit\""), spec)
    assert(!spec.contains("\"fr\"uit\""), "unescaped name would break the JSON")
  }

  test("runSql: guarded passthrough accepts queries, rejects DDL") {
    val s = new GraftSession(spark, FakeLlm("unused"))
    val ok = s.runSql(Seq("t" -> freshDf), "SELECT count(*) AS n FROM t")
    assert(ok.isRight && ok.toOption.get.head.getLong(0) == 5L)
    assert(s.runSql(Seq("t" -> freshDf), "DROP TABLE t").isLeft)
    assert(s.runSql(Seq("t" -> freshDf), "SELECT * FROM other").isLeft)
  }

  test("HttpLlm round-trips an OpenAI-compatible endpoint (in-process stub)") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var seenAuth = ""
    @volatile var seenBody = ""
    server.createContext("/v1/chat/completions", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        seenAuth = ex.getRequestHeaders.getFirst("Authorization")
        seenBody = new String(ex.getRequestBody.readAllBytes, "UTF-8")
        val content = "```sql\\nSELECT count(*) AS n FROM df\\n```"
        val resp =
          s"""{"choices":[{"message":{"role":"assistant","content":"$content"}}]}"""
            .getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp)
        ex.close()
      }
    })
    server.start()
    try {
      val llm = new HttpLlm(
        url = s"http://127.0.0.1:${server.getAddress.getPort}/v1",
        model = "stub-model", apiKey = "sk-test")
      val ans = new GraftSession(spark, llm).ask(freshDf, "how many rows?")
      assert(ans.error.isEmpty, ans.text)
      assert(ans.text == "5")
      assert(seenAuth == "Bearer sk-test")
      assert(seenBody.contains("\"model\":\"stub-model\"") &&
        seenBody.contains("how many rows?"))
    } finally server.stop(0)
  }

  test("HttpLlm surfaces HTTP errors and malformed payloads as exceptions") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/err/chat/completions", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val resp = """{"error":"rate limited"}""".getBytes("UTF-8")
        ex.sendResponseHeaders(429, resp.length)
        ex.getResponseBody.write(resp); ex.close()
      }
    })
    server.createContext("/bad/chat/completions", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val resp = """{"unexpected":"shape"}""".getBytes("UTF-8")
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp); ex.close()
      }
    })
    val flakyCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/flaky/chat/completions", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val resp =
          if (flakyCalls.incrementAndGet() == 1) {
            ex.sendResponseHeaders(503, 2); "{}".getBytes("UTF-8")
          } else {
            val ok = """{"choices":[{"message":{"content":"pong"}}]}""".getBytes("UTF-8")
            ex.sendResponseHeaders(200, ok.length); ok
          }
        ex.getResponseBody.write(resp); ex.close()
      }
    })
    val limitedCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/limited/chat/completions", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val resp =
          if (limitedCalls.incrementAndGet() == 1) {
            val b = """{"error":"rate limited"}""".getBytes("UTF-8")
            ex.sendResponseHeaders(429, b.length); b
          } else {
            val ok = """{"choices":[{"message":{"content":"recovered"}}]}""".getBytes("UTF-8")
            ex.sendResponseHeaders(200, ok.length); ok
          }
        ex.getResponseBody.write(resp); ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val err = intercept[RuntimeException] {
        new HttpLlm(url = s"$base/err", maxAttempts = 2, backoffMs = 1).predict("hi")
      }
      assert(err.getMessage.contains("429"))
      assert(err.getMessage.contains("attempt 2/2"),
        s"exhaustion must report attempts burned: ${err.getMessage}")
      val bad = intercept[RuntimeException] {
        new HttpLlm(url = s"$base/bad").predict("hi")
      }
      assert(bad.getMessage.contains("choices"))
      // transient 503 heals on retry
      assert(new HttpLlm(url = s"$base/flaky", backoffMs = 1).predict("hi") == "pong")
      assert(flakyCalls.get() == 2)
      // rate-limit 429 then 200: the backoff loop (LlmClient.predict)
      // retries instead of surfacing the 429
      assert(new HttpLlm(url = s"$base/limited", backoffMs = 1)
        .predict("hi") == "recovered")
      assert(limitedCalls.get() == 2)
    } finally server.stop(0)
  }

  test("concurrent asks on one session: answers correct, cache file not torn") {
    // r2 ADVICE: askNamed writes the cache while persistCache serializes it;
    // with a plain mutable.Map that's a ConcurrentModificationException /
    // torn snapshot waiting to happen. Hammer one session from 8 threads.
    val tmp = java.nio.file.Files.createTempFile("graft_cache_cc", ".json")
    try {
      val llm = FakeLlm("```sql\nSELECT count(*) AS n FROM df\n```")
      val s = new GraftSession(spark, llm,
        GraftConfig(cachePath = Some(tmp.toString)))
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (1 to 8).map { i =>
        new Thread(() => {
          try {
            // distinct questions → distinct cache keys → concurrent writes
            val ans = s.ask(freshDf, s"how many rows? (variant $i)")
            if (ans.error.isDefined || ans.text != "5")
              failures.add(s"$i: ${ans.text}")
          } catch { case e: Throwable => failures.add(s"$i: $e") }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(failures.isEmpty, failures.toString)
      // the persisted snapshot must be valid JSON holding all 8 entries
      val tree = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(tmp))
      assert(tree.size() == 8, s"expected 8 cached entries, got ${tree.size()}")
      // every ask logged its duration: none lost to a racing append
      assert(s.logs.count(_.startsWith("Executed in")) == 8, s.logs.toString)
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  test("concurrent asks each read their own frame, on one shared session " +
      "and on one session per thread") {
    // Every ask binds its own one-row frame as `df`: a binding in the shared
    // session catalog lets a racing ask answer from another thread's frame.
    val llm = FakeLlm("```sql\nSELECT v FROM df\n```")
    val shared = new GraftSession(spark, llm)
    for ((shape, sessionOf) <- Seq[(String, () => GraftSession)](
        "one shared session" -> (() => shared),
        "one session per thread" -> (() => new GraftSession(spark, llm)))) {
      val frames = (0 until 8).map(t => (0 until 10).map(i => Seq(t * 100L + i).toDF("v")))
      val answers = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Answer)]()
      val threads = frames.zipWithIndex.map { case (dfs, t) =>
        val s = sessionOf()
        new Thread(() => dfs.zipWithIndex.foreach { case (df, i) =>
          answers.add((t * 100L + i, s.ask(df, "what is v?"))) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val all = answers.toArray(Array.empty[(Long, Answer)]).toSeq
      assert(all.size == 80, shape)
      val wrong = all.collect { case (v, a) if a.error.nonEmpty || a.text != v.toString => (v, a.text) }
      assert(wrong.size == 0, s"$shape: ${wrong.size} of 80 wrong, e.g. ${wrong.take(3)}")
      assert(all.map(_._2.promptId).distinct.size == 80, shape)
    }
  }

  test("frames bind into the checked plan under SQL name scoping, through " +
      "ask and runSql, leaving the session catalog untouched") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{avg, row_number, sum}
    val df = freshDf
    val other = Seq((1, "x"), (3, "y"), (9, "z")).toDF("a", "tag")
    def scalar(d: DataFrame): String = String.valueOf(d.head().get(0))
    val avgA = df.agg(avg("a")).head().getDouble(0)
    // (case, frames, SQL, DataFrame-API value)
    val cases = Seq[(String, Seq[(String, DataFrame)], String, String)](
      ("a CTE named df shadows the frame", Seq("df" -> df),
        "WITH df AS (SELECT 42 AS a) SELECT a FROM df", "42"),
      ("a CTE body reads the outer df", Seq("df" -> df),
        "WITH df AS (SELECT a * 10 AS a FROM df) SELECT sum(a) FROM df",
        scalar(df.agg(sum($"a" * 10)))),
      ("aliased self-join", Seq("df" -> df),
        "SELECT count(*) FROM df x JOIN df y ON x.fruits = y.fruits",
        df.as("x").join(df.as("y"), $"x.fruits" === $"y.fruits").count().toString),
      ("LATERAL", Seq("df" -> df),
        "SELECT sum(t.n) FROM df, LATERAL (SELECT count(*) AS n FROM df d2 " +
          "WHERE d2.a <= df.a) t",
        df.as("l").join(df.as("r"), $"r.a" <= $"l.a").count().toString),
      ("EXISTS", Seq("df" -> df),
        "SELECT count(*) FROM df WHERE EXISTS (SELECT 1 FROM df d2 WHERE d2.b = df.a + 2)",
        df.as("l").join(df.as("r"), $"r.b" === $"l.a" + 2, "left_semi").count().toString),
      ("a subquery in a named WINDOW", Seq("df" -> df),
        "SELECT sum(r) FROM (SELECT row_number() OVER w AS r FROM df " +
          "WINDOW w AS (PARTITION BY a > (SELECT avg(a) FROM df) ORDER BY a)) z",
        scalar(df.select(row_number().over(Window.partitionBy($"a" > avgA).orderBy("a"))
          .as("r")).agg(sum("r")))),
      ("upper-case DF", Seq("df" -> df), "SELECT sum(a) FROM DF", scalar(df.agg(sum("a")))),
      ("a two-frame join", Seq("df1" -> df, "df2" -> other),
        "SELECT count(*) FROM df1 JOIN df2 ON df1.a = df2.a",
        df.join(other, "a").count().toString),
      ("WITH RECURSIVE df refers to itself", Seq("df" -> df),
        "WITH RECURSIVE df AS (SELECT 1 AS n UNION ALL SELECT n + 1 FROM df " +
          "WHERE n < 3) SELECT sum(n) FROM df",
        scalar(spark.range(1, 4).agg(sum("id")))),
      ("WITH RECURSIVE r refers to itself", Seq("df" -> df),
        "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL SELECT n + 1 FROM r " +
          "WHERE n < 3) SELECT sum(n) FROM r", "6"))
    // A caller's own view named df: a relation left unbound would read it.
    val decoy = Seq((100, "decoy", 100)).toDF("a", "fruits", "b")
    decoy.createOrReplaceTempView("df")
    Seq("df1", "df2").foreach(spark.catalog.dropTempView)
    try {
      val views = spark.catalog.listTables().collect().map(_.name).toSet
      for ((name, frames, sql, want) <- cases) {
        val ans = new GraftSession(spark, FakeLlm(s"```sql\n$sql\n```"),
          GraftConfig(maxRetries = 0)).askNamed(frames, name)
        assert(ans.error.isEmpty && ans.text == want, s"ask, $name: ${ans.text}")
        val direct = new GraftSession(spark, FakeLlm("unused")).runSql(frames, sql)
        assert(direct.map(scalar) == Right(want), s"runSql, $name: $direct")
      }
      assert(spark.table("df").collect().toSeq == decoy.collect().toSeq,
        "the caller's view named df is unchanged")
      assert(spark.catalog.listTables().collect().map(_.name).toSet == views,
        "no ask leaves a view in the session catalog")
    } finally spark.catalog.dropTempView("df")
  }

  test("withConfig: per-call overrides share the parent's SQL cache") {
    val llm = FakeLlm("```sql\nSELECT CAST(sum(a) AS BIGINT) AS s FROM df\n```")
    val s = new GraftSession(spark, llm)
    assert(s.ask(freshDf, "sum of a?").text == "15")
    assert(llm.callCount == 1)
    // the conversational view reuses the cached SQL (no new generation
    // call) and only pays the one rephrase call
    val conv = s.withConfig(_.copy(conversational = true))
    val ans = conv.ask(freshDf, "sum of a?")
    assert(llm.callCount == 2, "cached SQL: only the rephrase round-trip")
    assert(ans.error.isEmpty)
    // retries can be disabled per call without touching the parent config
    assert(s.withConfig(_.copy(maxRetries = 0)).config.maxRetries == 0)
    assert(s.config.maxRetries == 3)
  }

  test("ProcessLlm pipes the prompt to a local command and runs the ask loop") {
    // Stub "model": records its stdin (proof the prompt travelled over the
    // pipe, not argv) and answers with a fenced SQL completion.
    val dir = java.nio.file.Files.createTempDirectory("graft_pllm")
    val seen = dir.resolve("seen_prompt.txt")
    val script = dir.resolve("model.sh")
    java.nio.file.Files.write(script,
      s"""#!/bin/sh
         |cat > $seen
         |printf '%s\\n' '```sql' 'SELECT CAST(sum(a) AS BIGINT) AS s FROM df' '```'
         |""".stripMargin.getBytes("UTF-8"))
    script.toFile.setExecutable(true)
    val llm = new ProcessLlm(Seq(script.toString), timeoutSec = 30)
    assert(llm.name == s"ProcessLlm($script)")
    val ans = new GraftSession(spark, llm).ask(freshDf, "what is the sum of a?")
    assert(ans.error.isEmpty, ans.text)
    assert(ans.text == "15")
    val prompt = new String(java.nio.file.Files.readAllBytes(seen), "UTF-8")
    assert(prompt.contains("what is the sum of a?") && prompt.contains("Table `df`"))
  }

  test("ProcessLlm error envelope: exit code, timeout, big-output no-deadlock") {
    // Non-zero exit carries the command's stderr in the exception.
    val boom = intercept[RuntimeException] {
      new ProcessLlm(Seq("/bin/sh", "-c", "echo model blew up >&2; exit 3"))
        .predict("hi")
    }
    assert(boom.getMessage.contains("exit 3") &&
      boom.getMessage.contains("model blew up"))
    // A hung command is killed at the deadline, not waited on forever.
    val slow = intercept[RuntimeException] {
      new ProcessLlm(Seq("/bin/sh", "-c", "sleep 60"), timeoutSec = 1).predict("hi")
    }
    assert(slow.getMessage.contains("timed out"))
    // Output beyond the OS pipe buffer (~64 KiB) must not deadlock: the
    // reader threads drain stdout concurrently with waitFor.
    val big = new ProcessLlm(
      Seq("/bin/sh", "-c", "cat > /dev/null; head -c 200000 /dev/zero | tr '\\0' x"),
      timeoutSec = 30).predict("hi")
    assert(big.length == 200000 && big.forall(_ == 'x'))
    // extraEnv reaches the child (model path / n_ctx style knobs).
    val env = new ProcessLlm(Seq("/bin/sh", "-c", "cat > /dev/null; echo $GRAFT_MODEL"),
      extraEnv = Map("GRAFT_MODEL" -> "tiny.gguf")).predict("hi")
    assert(env.trim == "tiny.gguf")
    // A prompt past the ~64 KiB pipe buffer fed to a command that never
    // reads stdin: the stdin write must not block the caller past the
    // deadline (it rides its own thread; destroyForcibly unblocks it).
    val bigPrompt = "x" * 200000
    val t0 = System.nanoTime()
    val stall = intercept[RuntimeException] {
      new ProcessLlm(Seq("/bin/sh", "-c", "sleep 60"), timeoutSec = 2)
        .predict(bigPrompt)
    }
    assert(stall.getMessage.contains("timed out"))
    assert((System.nanoTime() - t0) / 1e9 < 30, "must fail at the deadline")
    // A grandchild that inherits stdout: the JDK reaper usually
    // force-closes the parent's pipe at exit (fast success), but that is
    // a race with our blocked read — when the reaper loses, boundedGet
    // bails at the deadline. Either outcome is fine; a hang is not.
    val t1 = System.nanoTime()
    val orphan =
      try new ProcessLlm(Seq("/bin/sh", "-c", "sleep 60 & echo hi"),
        timeoutSec = 3).predict("hi")
      catch {
        case e: RuntimeException if e.getMessage.contains("pipe still open") =>
          "bounded-path"
      }
    assert(orphan == "bounded-path" || orphan.trim == "hi")
    assert((System.nanoTime() - t1) / 1e9 < 30,
      "a grandchild on stdout must never hang predict()")
  }

  test("ProcessLlm timeout kills the whole process TREE, not just the wrapper") {
    // The documented setup is `command` = a wrapper script that forks the
    // actual model process. SIGKILLing only the wrapper would leave the
    // grandchild running inference (holding memory/GPU) indefinitely —
    // the kill must sweep descendants first.
    val dir = java.nio.file.Files.createTempDirectory("graft_pllm_tree")
    val pidFile = dir.resolve("grandchild.pid")
    val t0 = System.nanoTime()
    val boom = intercept[RuntimeException] {
      new ProcessLlm(Seq("/bin/sh", "-c",
        s"sleep 60 & echo $$! > $pidFile; wait"), timeoutSec = 2).predict("hi")
    }
    assert(boom.getMessage.contains("timed out"))
    assert((System.nanoTime() - t0) / 1e9 < 30, "must fail at the deadline")
    val pid = new String(java.nio.file.Files.readAllBytes(pidFile), "UTF-8").trim.toLong
    // SIGKILL delivery is async; give it a short grace loop, then demand
    // the grandchild is gone (it would otherwise live the full 60 s)
    def alive: Boolean = {
      val h = java.lang.ProcessHandle.of(pid)
      h.isPresent && h.get.isAlive
    }
    val gone = (1 to 50).exists { _ =>
      if (alive) { Thread.sleep(100); false } else true
    }
    assert(gone, s"grandchild $pid must be SIGKILLed with its parent")
  }

  test("ProcessLlm shares ONE deadline across waitFor and the pipe drains") {
    // Pre-fix, a command that used most of the budget before exiting —
    // leaving a grandchild holding stdout/stderr open — could stretch
    // predict() to ~3× timeoutSec (full fresh window per boundedGet).
    // Post-fix every wait gets only the REMAINING budget, so the whole
    // call is bounded by ~timeoutSec regardless of which waits engage.
    val t0 = System.nanoTime()
    val r =
      try new ProcessLlm(Seq("/bin/sh", "-c",
        "sleep 60 & sleep 3; echo done"), timeoutSec = 4).predict("hi")
      catch {
        // when the JDK reaper loses the close race, the bounded path wins
        case e: RuntimeException if e.getMessage.contains("pipe still open") =>
          "bounded-path"
      }
    assert(r == "bounded-path" || r.trim == "done")
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 8,
      f"one shared deadline must bound predict() near timeoutSec, took $secs%.1f s")
  }

  test("SqlExtractor handles fences, tags and bare SQL") {
    assert(SqlExtractor.extract("```sql\nSELECT 1\n```") == "SELECT 1")
    assert(SqlExtractor.extract("```\nSELECT 1\n```") == "SELECT 1")
    assert(SqlExtractor.extract("Here you go:\n```sql\nSELECT 1\n```\nEnjoy!") == "SELECT 1")
    assert(SqlExtractor.extract("SELECT 1") == "SELECT 1")
  }
}
