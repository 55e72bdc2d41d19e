package graft

import graft.engine.{FakeLlm, GraftConfig, GraftSession, Shortcuts}

/** Usage example: the conversational engine over the driver's test tables.
  * With FakeLlm the whole loop is deterministic and offline; a live
  * LlmClient implementation drops into the same seam. */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Harness.session(defaultCpus = 8)
    spark.sparkContext.setLogLevel("ERROR")

    val llm = FakeLlm(
      "```sql\nSELECT count(*) AS n FROM df WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'\n```",
      "```sql\nSELECT c_name FROM df1 JOIN df2 ON c_custkey = o_custkey GROUP BY c_name ORDER BY sum(o_totalprice) DESC LIMIT 1\n```")
    val session = new GraftSession(spark, llm, GraftConfig(showSql = true))

    val orders = Tables.orders(spark, sfDir)
    val a1 = session.ask(orders, "How many orders are fulfilled and high-priority?")
    println(s"Q: How many orders are fulfilled and high-priority?\nA: ${a1.text}\n")

    val customer = Tables.customer(spark, sfDir)
    val a2 = session.ask(Seq(customer, orders), "Which customer spent the most?")
    println(s"Q: Which customer spent the most?\nA: ${a2.text}\n")

    println(s"telemetry: cacheSize=${session.cacheSize} sql=${a2.sql}")

    // chart-question path: aggregated data + a renderable Vega-Lite spec
    import org.apache.spark.sql.functions.{count => cnt, lit}
    val byStatus = orders.groupBy("o_orderstatus").agg(cnt(lit(1)).as("n"))
    println(engine.Charts.vegaLite(byStatus, engine.Charts.Bar, "o_orderstatus", "n"))
    spark.stop()
  }
}
