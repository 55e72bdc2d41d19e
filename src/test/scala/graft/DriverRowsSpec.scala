package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.engine._

/** The ask's driver path against Spark: every query of the corpus runs over
  * `createDataFrame` frames, so the ask answers it with no Spark job; its
  * text must equal the text rendered from the same SQL collected on Spark
  * (`runSql`), and a runtime failure must carry the same error class. The
  * plans the driver path leaves to Spark run there, with the same answer. */
class DriverRowsSpec extends SparkSpec {
  import DriverRowsSpec._

  private lazy val tables = Seq("t" -> frame(spark, T), "u" -> frame(spark, U), "w" -> frame(spark, W))

  /** (name, SQL): FROM-less SELECTs, whose plans read a `OneRowRelation`. */
  private val fromLess = Seq(
    ("a FROM-less select", "SELECT 1 + 1 AS two"),
    ("a union with a FROM-less select", "SELECT g FROM t UNION SELECT 'PEAR'"))

  /** (name, SQL): plans that key on a collated string, where bytes are not
    * values ('Apple' and 'apple' are one key under UTF8_LCASE), so they run
    * on Spark. */
  private val onSpark = Seq(
    ("group by a collated key", "SELECT count(*) AS n FROM w GROUP BY s COLLATE UTF8_LCASE"),
    ("count distinct over a collated column",
      "SELECT count(DISTINCT s COLLATE UTF8_LCASE) AS n FROM w"),
    ("union over a collated column", "SELECT count(*) AS n FROM " +
      "(SELECT s COLLATE UTF8_LCASE AS c FROM w UNION SELECT upper(s) COLLATE UTF8_LCASE FROM w) z"),
    ("join on a collated key", "SELECT count(*) AS n FROM w a JOIN w b " +
      "ON a.s COLLATE UTF8_LCASE = b.s"))

  for ((name, sql, ordered) <- corpus) test(s"driver rows equal Spark's: $name") {
    assert(check(name, sql, ordered) == 0, "the ask runs on the driver: no Spark job")
  }

  for ((name, sql) <- fromLess) test(s"driver rows equal Spark's: $name") {
    assert(check(name, sql, ordered = false) == 0, "the ask runs on the driver: no Spark job")
  }

  for ((name, sql) <- onSpark) test(s"runs on Spark with Spark's answer: $name") {
    assert(check(name, sql, ordered = false) > 0, "the ask runs on Spark")
  }

  /** Asks `sql` and compares the answer with Spark's collect of the same
    * SQL; returns the Spark jobs the ask submitted. */
  private def check(name: String, sql: String, ordered: Boolean): Int = {
    val session = new GraftSession(spark, FakeLlm(s"```sql\n$sql\n```"), GraftConfig(maxRetries = 0))
    var ans: Answer = null
    val jobs = jobsOf { ans = session.askNamed(tables, name) }
    sameAnswer(ans, session.runSql(tables, sql).fold(e => fail(e.message), identity), ordered)
    jobs
  }
}

object DriverRowsSpec {
  import org.scalatest.Assertions._

  /** (DDL, rows) of the frames `t` and `u` the corpus reads, and of `w`,
    * the mixed-case strings the collated cases read. */
  val T: (String, Seq[Row]) = ("id INT, g STRING, x BIGINT, amt DECIMAL(10,2), f DOUBLE, s STRING", Seq(
    Row(1, "a", 3L, BigDecimal("10.25").bigDecimal, 1.5, "7"),
    Row(2, "b", 5L, BigDecimal("3.10").bigDecimal, 0.25, "x"),
    Row(3, "a", null, BigDecimal("7.00").bigDecimal, 2.75, "12"),
    Row(4, null, 2L, null, -0.0, null),
    Row(5, "c", 5L, BigDecimal("99.99").bigDecimal, 0.0, "5"),
    Row(6, "b", 8L, BigDecimal("0.01").bigDecimal, null, "q"),
    Row(7, "a", 1L, BigDecimal("1.50").bigDecimal, 3.0, "3"),
    Row(8, "b", 6L, BigDecimal("4.40").bigDecimal, Double.NaN, "6"),
    Row(null, "c", 4L, BigDecimal("2.25").bigDecimal, 1.5, "8")))
  val U: (String, Seq[Row]) = ("id INT, k STRING, y INT", Seq(
    Row(1, "a", 4), Row(2, "b", 9), Row(2, "z", 1), Row(null, "c", 6),
    Row(5, null, 2), Row(9, "a", 7)))
  val W: (String, Seq[Row]) = ("s STRING", Seq(
    Row("Apple"), Row("apple"), Row("APPLE"), Row("pear"), Row("Pear"), Row(null)))

  /** `table` as a `createDataFrame` frame. */
  def frame(spark: SparkSession, table: (String, Seq[Row])): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(table._2: _*), StructType.fromDDL(table._1))

  /** (name, SQL, whether its ORDER BY is total). */
  val corpus = Seq(
    ("group by", "SELECT g, count(*) AS n, sum(x) AS sx, min(s) AS ms FROM t GROUP BY g", false),
    ("having", "SELECT g, sum(x) AS sx FROM t GROUP BY g HAVING sum(x) > 5 " +
      "ORDER BY g NULLS FIRST", true),
    ("group by a double with NaN and -0.0", "SELECT f, count(*) AS n FROM t GROUP BY f", false),
    ("count distinct", "SELECT g, count(DISTINCT x) AS dx, count(DISTINCT f) AS df " +
      "FROM t GROUP BY g", false),
    ("two distinct groups", "SELECT count(DISTINCT g) AS dg, count(DISTINCT x) AS dx, " +
      "count(DISTINCT f) AS df FROM t", false),
    ("aggregate filter", "SELECT g, count(*) FILTER (WHERE f > 1.0) AS c, " +
      "sum(x) FILTER (WHERE id > 3) AS sf, max(s) FILTER (WHERE x < 5) AS m FROM t GROUP BY g", false),
    ("distinct with filter", "SELECT count(DISTINCT x) FILTER (WHERE id > 2) AS c FROM t", false),
    ("global aggregate over no rows", "SELECT count(*) AS n, sum(x) AS s, avg(f) AS a " +
      "FROM t WHERE id > 100", false),
    ("group by over no rows", "SELECT g, count(*) AS n FROM t WHERE id > 100 GROUP BY g", false),
    ("avg and decimal sums", "SELECT g, avg(x) AS ax, avg(amt) AS aa, sum(amt) AS sa, " +
      "sum(amt * 3) AS s3 FROM t GROUP BY g ORDER BY g NULLS LAST", true),
    ("stddev and percentiles", "SELECT stddev(x) AS sd, variance(f) AS v, " +
      "percentile(x, 0.5) AS med, percentile_approx(x, 0.5) AS pa, median(amt) AS ma FROM t", false),
    ("collect and count_if", "SELECT g, sort_array(collect_set(x)) AS xs, count_if(f > 1) AS c " +
      "FROM t GROUP BY g", false),
    ("inner join", "SELECT t.id, t.g, u.k, u.y FROM t JOIN u ON t.id = u.id", false),
    ("left join", "SELECT t.id, u.k FROM t LEFT JOIN u ON t.id = u.id", false),
    ("right join", "SELECT t.id, u.id AS uid, u.k FROM t RIGHT JOIN u ON t.id = u.id", false),
    ("full join", "SELECT t.id, u.id AS uid FROM t FULL JOIN u ON t.id = u.id AND u.y > 1", false),
    ("semi join", "SELECT id, g FROM t LEFT SEMI JOIN u ON t.id = u.id", false),
    ("anti join", "SELECT id, g FROM t LEFT ANTI JOIN u ON t.id = u.id", false),
    ("NOT IN with a null", "SELECT id FROM t WHERE id NOT IN (SELECT id FROM u)", false),
    ("NOT IN without nulls", "SELECT id FROM t WHERE id NOT IN " +
      "(SELECT id FROM u WHERE id IS NOT NULL)", false),
    ("IN subquery", "SELECT id FROM t WHERE g IN (SELECT k FROM u WHERE y > 5)", false),
    ("correlated EXISTS", "SELECT id FROM t WHERE EXISTS " +
      "(SELECT 1 FROM u WHERE u.id = t.id AND u.y > t.x)", false),
    ("EXISTS in a disjunction", "SELECT id FROM t WHERE x > 6 OR EXISTS " +
      "(SELECT 1 FROM u WHERE u.k = t.g AND u.y > 6)", false),
    ("non-equi join", "SELECT t.id, u.y FROM t JOIN u ON t.x > u.y AND t.g = 'a'", false),
    ("self join on a double key", "SELECT a.id, b.id AS bid FROM t a JOIN t b ON a.f = b.f " +
      "AND a.id < b.id", false),
    ("null-safe join", "SELECT t.id, u.y FROM t JOIN u ON t.g <=> u.k", false),
    ("cross join", "SELECT count(*) AS n, sum(t.x * u.y) AS s FROM t CROSS JOIN u", false),
    ("join then aggregate", "SELECT u.k, count(*) AS n, sum(t.amt) AS s FROM t " +
      "JOIN u ON t.g = u.k GROUP BY u.k ORDER BY u.k", true),
    ("order by nulls last, limit", "SELECT id, x FROM t ORDER BY x DESC NULLS LAST, id LIMIT 5", true),
    ("order by nulls first, offset", "SELECT id, g FROM t ORDER BY g ASC NULLS FIRST, id " +
      "NULLS FIRST OFFSET 3", true),
    ("limit and offset", "SELECT id FROM t ORDER BY id NULLS LAST LIMIT 3 OFFSET 2", true),
    ("top aggregate", "SELECT g, sum(x) AS s FROM t GROUP BY g ORDER BY s DESC NULLS FIRST, " +
      "g LIMIT 2", true),
    ("union", "SELECT g FROM t UNION SELECT k FROM u", false),
    ("union all", "SELECT g FROM t UNION ALL SELECT k FROM u", false),
    ("intersect", "SELECT g FROM t INTERSECT SELECT k FROM u", false),
    ("except", "SELECT g FROM t EXCEPT SELECT k FROM u", false),
    ("case", "SELECT id, CASE WHEN x > 3 THEN 'big' WHEN x IS NULL THEN 'none' " +
      "ELSE 'small' END AS c FROM t", false),
    ("casts over an aggregate", "SELECT g, CAST(sum(x) AS STRING) AS s, " +
      "CAST(avg(f) AS DECIMAL(10,3)) AS a, CAST(max(amt) AS INT) AS m, " +
      "CAST(max(s) AS DOUBLE) AS d FROM t WHERE s <> 'x' AND s <> 'q' GROUP BY g " +
      "ORDER BY g NULLS FIRST", true),
    ("case over an aggregate", "SELECT g, CASE WHEN sum(x) > 6 THEN 'many' ELSE 'few' END AS c " +
      "FROM t GROUP BY g", false),
    // runtime failures: the same error class on both paths
    ("divide by zero", "SELECT g, sum(x) DIV (min(id) - min(id)) AS q FROM t GROUP BY g", false),
    ("overflow", "SELECT sum(x) + 9223372036854775807 AS s FROM t", false),
    ("invalid cast", "SELECT CAST(max(s) AS INT) AS n FROM t", false))

  /** `GraftSession`'s rendering of a preview: a 1×1 result as its scalar,
    * otherwise a header and up to 20 tab-separated rows. */
  def render(cols: Array[String], head: Array[Row]): String =
    if (head.length == 1 && cols.length == 1) String.valueOf(head(0).get(0))
    else (cols.mkString("\t") +: head.take(20).map(_.toSeq.map(String.valueOf).mkString("\t")))
      .mkString("\n") + (if (head.length > 20) "\n…" else "")

  private val errorClass = "\\[([A-Z_]+(?:\\.[A-Z_]+)?)\\]".r
  def classOf(message: String): Option[String] =
    errorClass.findFirstMatchIn(message).map(_.group(1))

  /** Asserts that `ans` is the ask's rendering of `want`'s first 21 rows
    * (in any row order unless `ordered`), or, when collecting them fails,
    * an error of the same class. */
  def sameAnswer(ans: Answer, want: DataFrame, ordered: Boolean): Unit =
    scala.util.Try(want.limit(21).collect()) match {
      case scala.util.Failure(e) =>
        val cls = classOf(String.valueOf(e.getMessage))
        assert(cls.isDefined, e.getMessage)
        assert(ans.error.isDefined && classOf(ans.error.get.message) == cls, ans.text)
      case scala.util.Success(rows) =>
        assert(ans.error.isEmpty, ans.text)
        val text = render(want.columns, rows)
        if (ordered || rows.length <= 1) assert(ans.text == text)
        else assert(ans.text.linesIterator.toSeq.sorted == text.linesIterator.toSeq.sorted,
          s"\n${ans.text}\n---- Spark:\n$text")
    }
}
