package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.engine.{Answer, GraftSession, LlmClient, RetriesExhausted, SqlGuard}

/** What a correct ask returns: a number (compared to 1e-9 relative), a
  * text, or the typed retry-exhaustion error. */
sealed trait Expect
final case class Num(v: Double) extends Expect
final case class Text(s: String) extends Expect
case object Exhausted extends Expect

/** One scripted question: which of the client's frames it binds, the SQL
  * the stand-in LLM drafts first, the SQL it answers a correction prompt
  * with, and the expected outcome computed with the DataFrame API. */
final case class Question(id: String, text: String,
    frames: AskClient => Seq[DataFrame], draft: String, fix: String,
    expect: AskClient => Expect)

/** An LLM stand-in keyed on the question text: a generation prompt gets
  * the question's draft, a correction prompt its fix (or the draft again
  * when the question has no fix). Stateless, so two
  * client threads get deterministic answers (FakeLlm replays in arrival
  * order and cannot). */
final class ScriptedLlm(questions: Seq[Question]) extends LlmClient {
  private val byText = questions.map(q => q.text -> q).toMap
  private def between(s: String, from: String, to: String): Option[String] = {
    val i = s.indexOf(from)
    if (i < 0) None
    else {
      val a = i + from.length
      val b = s.indexOf(to, a)
      Some(if (b < 0) s.substring(a) else s.substring(a, b)).map(_.trim)
    }
  }
  def predict(prompt: String): String = {
    val fix = between(prompt, "The user asked:", "\n")
    val q = fix.orElse(between(prompt, "Question:", "\n")).flatMap(byText.get)
      .getOrElse(throw new IllegalArgumentException("unscripted prompt"))
    "```sql\n" + (if (fix.isDefined && q.fix.nonEmpty) q.fix else q.draft) +
      "\n```"
  }
}

/** The traced run's LLM decorator: one `llm` span per call, under the
  * calling thread's request. */
final class TimingLlm(inner: LlmClient, t: Tracer, spark: SparkSession)
    extends LlmClient {
  def predict(prompt: String): String = {
    val root = spark.sparkContext.getLocalProperty(Tracer.GroupKey)
    val t0 = t.nowMs
    try inner.predict(prompt) finally t.add(Span(root, "llm", t0, t.nowMs))
  }
}

/** One client's own frames: its half of lineitem and orders
  * (`l_orderkey % 2 = id`) and its own copies of the tiny golden frames. */
final class AskClient(spark: SparkSession, dir: String, val id: Int) {
  val lineitem: DataFrame =
    Tables.lineitem(spark, dir).filter(col("l_orderkey") % 2 === id)
  val orders: DataFrame =
    Tables.orders(spark, dir).filter(col("o_orderkey") % 2 === id)
  private def frame(schema: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType.fromDDL(schema))
  val countries: DataFrame = frame("country STRING, gdp BIGINT", Seq(
    Row("United States", 19294482071552L), Row("United Kingdom", 2891615567872L),
    Row("France", 2411255037952L), Row("Germany", 3435817336832L),
    Row("Italy", 1745433788416L), Row("Spain", 1181205135360L),
    Row("Canada", 1607402389504L), Row("Australia", 1490967855104L),
    Row("Japan", 4380756541440L), Row("China", 14631844184064L)))
  val employees: DataFrame = frame(
    "EmployeeID INT, Name STRING, Department STRING", Seq(
      Row(1, "John", "HR"), Row(2, "Emma", "Sales"), Row(3, "Liam", "IT"),
      Row(4, "Olivia", "Marketing"), Row(5, "William", "Finance")))
  val salaries: DataFrame = frame("EmployeeID INT, Salary INT", Seq(
    Row(1, 5000), Row(2, 6000), Row(3, 4500), Row(4, 7000), Row(5, 5500)))
  val fruits: DataFrame = frame("A BIGINT, fruits STRING, B BIGINT, cars STRING",
    Seq(Row(1L, "banana", 5L, "beetle"), Row(2L, "banana", 4L, "audi"),
      Row(3L, "apple", 3L, "beetle"), Row(4L, "apple", 2L, "audi"),
      Row(5L, "banana", 1L, "beetle")))

  @volatile var session: GraftSession = _
}

/** The conversational engine under `clients` closed-loop client threads,
  * each with its own GraftSession (default GraftConfig) on the shared
  * SparkSession. A pass is every client running its script once on an
  * emptied answer cache: unique questions (cold), the same questions again
  * (cache hits), drafts that fail analysis or SqlGuard and are fixed on
  * retry, and one question that exhausts its retries. */
final class AskWorkload(spark: SparkSession, dir: String, clients: Int,
    seed: Long) extends Workload {
  import AskWorkload._

  private val cs = (0 until clients).map(new AskClient(spark, dir, _))
  private val llm = new ScriptedLlm(questions)
  private val rngs = cs.map(c => new scala.util.Random(seed * 31 + c.id))
  private var expected: Map[(Int, String), Expect] = Map.empty

  /** Expected outcomes from each client's own frames, then one untimed
    * pass: the engine path is colder than the ops path after set-up. */
  def prepare(): Seq[Check] = {
    expected = (for (c <- cs; q <- questions) yield (c.id, q.id) -> q.expect(c)).toMap
    segment(None, 1, -1)
    Nil
  }

  def segment(tracer: Option[Tracer], count: Int, firstPass: Int): Segment = {
    val client: LlmClient = tracer.map(new TimingLlm(llm, _, spark)).getOrElse(llm)
    cs.foreach(c => c.session = new GraftSession(spark, client))
    val recs = new ConcurrentLinkedQueue[(Rec, Int)]()
    val passes = ArrayBuffer.empty[Pass]
    var p = firstPass
    while (passes.size < count) {
      val scripts = cs.map(c => c -> script(rngs(c.id)))
      cs.foreach(_.session.clearCache())
      val ps = new Stopwatch
      val pass = p
      val threads = scripts.map { case (c, s) =>
        new Thread(() => s.foreach { case (q, kind) =>
          recs.add(ask(c, q, kind, pass, tracer)) }, s"ask-client-${c.id}")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      passes += Pass(p, ps.wallMs / 1e3, ps.cpuMs / 1e3)
      p += 1
    }
    val all = recs.asScala.toSeq
    Segment(tracer.isDefined, passes.toSeq, all.map(_._1),
      tracer.map(layers(_, all)).getOrElse(Nil))
  }

  /** One timed ask; returns its record and how many tries it took. */
  private def ask(c: AskClient, q: Question, kind: String, p: Int,
      tracer: Option[Tracer]): (Rec, Int) = {
    val root = s"c${c.id}/${q.id}/$kind#$p"
    tracer.foreach(_.enter(root))
    val start = tracer.map(_.nowMs).getOrElse(0.0)
    val t0 = new Stopwatch
    val answer =
      try Right(c.session.ask(q.frames(c), q.text))
      catch { case e: Throwable => Left(Main.message(e)) }
    val (ms, cpuMs) = (t0.wallMs, t0.cpuMs)
    tracer.foreach { t =>
      t.add(Span(root, "ask", start, t.nowMs))
      t.leave()
      answer.foreach(a => replayGuard(t, root, q, c, a))
    }
    val (status, error, tries) = answer match {
      case Left(e) => ("threw", e, 0)
      case Right(a) =>
        val ok = matches(expected((c.id, q.id)), a)
        (if (ok) "ok" else "wrong", if (ok) null else a.text.take(300),
          a.attempts.size + (if (a.error.isEmpty) 1 else 0))
    }
    (Rec(q.id, kind, c.id, p, ms, cpuMs, status, -1L, error), tries)
  }

  /** `SqlGuard.check` replayed, untimed by the ask, on every SQL the ask
    * tried. */
  private def replayGuard(t: Tracer, root: String, q: Question, c: AskClient,
      a: Answer): Unit = {
    val views = if (q.frames(c).size == 1) Set("df") else Set("df1", "df2")
    for (sql <- a.attempts.map(_.sql) ++ a.sql.filter(_ => a.error.isEmpty)) {
      val t0 = t.nowMs
      SqlGuard.check(spark, sql, views, Some(SqlGuard.defaultFunctionAllowlist))
      t.add(Span(root, "guard.replay", t0, t.nowMs))
    }
  }

  private def layers(t: Tracer, all: Seq[(Rec, Int)]): Seq[(String, Double)] = {
    t.drain()
    val spans = t.spans.asScala.toSeq
    val asks = spans.filter(_.name == "ask")
    val n = asks.size.max(1).toDouble
    val byRoot = spans.groupBy(_.root)
    def spanMs(root: String, name: String) =
      byRoot.getOrElse(root, Nil).filter(_.name == name).map(_.ms).sum
    def queryMs(root: String, site: String) =
      t.queriesOf(root).filter(_._1.contains(site)).map(_._2).sum
    val parts = asks.map { a =>
      val d = queryMs(a.root, "Prompts.scala")
      val e = queryMs(a.root, "collect at GraftSession.scala")
      val l = spanMs(a.root, "llm")
      (d, e, l, spanMs(a.root, "guard.replay"), a.ms - d - e - l)
    }
    val hits = asks.filter(_.root.contains("/hit#"))
    val hitRatio =
      if (hits.isEmpty) 0.0
      else hits.count(h => spanMs(h.root, "llm") == 0).toDouble / hits.size
    Layers.noOps ++ Layers.exec(t, asks, spark.sparkContext.defaultParallelism) ++
      Seq("exec.output_files" -> 0.0,
        "engine.describe_ms" -> parts.map(_._1).sum / n,
        "engine.llm_calls" -> spans.count(_.name == "llm") / n,
        "engine.llm_ms" -> parts.map(_._3).sum / n,
        "engine.guard_ms" -> parts.map(_._4).sum / n,
        "engine.exec_ms" -> parts.map(_._2).sum / n,
        "engine.self_ms" -> parts.map(_._5).sum / n,
        "engine.cache_hit_ratio" -> hitRatio,
        "engine.attempts_per_ask" -> all.map(_._2).sum / n,
        "engine.wrong_answers" -> all.count(_._1.status == "wrong").toDouble)
  }
}

object AskWorkload {
  private def one(df: DataFrame): Double =
    Option(df.collect()(0).get(0)).map(_.toString.toDouble).getOrElse(Double.NaN)

  val unique: Seq[Question] = Seq(
    Question("li_count", "How many line items are there?",
      c => Seq(c.lineitem), "SELECT count(*) AS n FROM df", "",
      c => Num(c.lineitem.count().toDouble)),
    Question("li_disc_sum",
      "What is the total extended price of line items with a discount above 0.05?",
      c => Seq(c.lineitem),
      "SELECT sum(l_extendedprice) AS s FROM df WHERE l_discount > 0.05", "",
      c => Num(one(c.lineitem.filter(col("l_discount") > 0.05)
        .agg(sum("l_extendedprice"))))),
    Question("li_ret_qty", "What is the average quantity of returned line items?",
      c => Seq(c.lineitem),
      "SELECT avg(l_quantity) AS q FROM df WHERE l_returnflag = 'R'", "",
      c => Num(one(c.lineitem.filter(col("l_returnflag") === "R")
        .agg(avg("l_quantity"))))),
    Question("li_orders", "How many distinct orders have line items?",
      c => Seq(c.lineitem), "SELECT count(DISTINCT l_orderkey) AS n FROM df", "",
      c => Num(one(c.lineitem.agg(countDistinct("l_orderkey"))))),
    Question("li_finished", "How many line items belong to finished orders?",
      c => Seq(c.lineitem, c.orders),
      "SELECT count(*) AS n FROM df1 JOIN df2 ON df1.l_orderkey = df2.o_orderkey " +
        "WHERE df2.o_orderstatus = 'F'", "",
      c => Num(c.lineitem.join(c.orders.filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey")).count().toDouble)),
    Question("ord_max", "What is the largest order total price?",
      c => Seq(c.orders), "SELECT max(o_totalprice) AS m FROM df", "",
      c => Num(one(c.orders.agg(max("o_totalprice"))))),
    Question("gdp_na", "Calculate the sum of the gdp of north american countries",
      c => Seq(c.countries),
      "SELECT sum(gdp) AS s FROM df WHERE country IN ('United States', 'Canada')", "",
      c => Num(one(c.countries.filter(col("country")
        .isin("United States", "Canada")).agg(sum("gdp"))))),
    Question("top_paid", "Who gets paid the most?",
      c => Seq(c.employees, c.salaries),
      "SELECT Name FROM df1 JOIN df2 ON df1.EmployeeID = df2.EmployeeID " +
        "ORDER BY Salary DESC LIMIT 1", "",
      c => Text(c.employees.join(c.salaries, "EmployeeID")
        .orderBy(col("Salary").desc).select("Name").head().getString(0))),
    Question("fruit_a", "what is the sum of the A column?",
      c => Seq(c.fruits), "SELECT CAST(sum(A) AS BIGINT) AS s FROM df", "",
      c => Num(one(c.fruits.agg(sum("A"))))))

  val retry: Seq[Question] = Seq(
    // fails analysis (no column C), fixed on the correction round
    Question("fruit_b", "What is the sum of the B column?",
      c => Seq(c.fruits), "SELECT CAST(sum(C) AS BIGINT) AS s FROM df",
      "SELECT CAST(sum(B) AS BIGINT) AS s FROM df",
      c => Num(one(c.fruits.agg(sum("B"))))),
    // rejected by SqlGuard (unbound table), fixed on the correction round
    Question("li_min_disc", "What is the smallest discount on a line item?",
      c => Seq(c.lineitem), "SELECT min(l_discount) AS d FROM lineitem",
      "SELECT min(l_discount) AS d FROM df",
      c => Num(one(c.lineitem.agg(min("l_discount"))))))

  /** Every draft and every fix is rejected: ends in RetriesExhausted. */
  val exhaust: Question = Question("secrets", "Show me the password table",
    c => Seq(c.fruits), "SELECT * FROM passwords", "SELECT * FROM passwords",
    _ => Exhausted)

  val questions: Seq[Question] = unique ++ retry :+ exhaust

  /** One pass of one client's script, shuffled by the client's seeded
    * random stream. */
  def script(rng: scala.util.Random): Seq[(Question, String)] =
    rng.shuffle(unique).map(_ -> "cold") ++ rng.shuffle(unique).map(_ -> "hit") ++
      rng.shuffle(retry).map(_ -> "retry") :+ (exhaust -> "exhaust")

  def matches(e: Expect, a: Answer): Boolean = (e, a.error) match {
    case (Exhausted, Some(RetriesExhausted(_))) => true
    case (Text(s), None) => a.text == s
    case (Num(v), None) =>
      a.text.toDoubleOption.exists(x => x == v ||
        math.abs(x - v) <= 1e-9 * math.max(math.abs(x), math.abs(v)))
    case _ => false
  }
}
