package graft

/** Dev smoke: read every table, print schemas, run every registered query. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Harness.session(defaultCpus = 8)
    spark.sparkContext.setLogLevel("ERROR")

    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try {
        val df = if (t == "events") Tables.events(spark, sfDir)
                 else Tables(spark, sfDir, t)
        println(s"== $t: ${df.schema.simpleString}")
      } catch {
        case e: Throwable => println(s"== $t: READ FAILED ${e.getMessage}")
      }
    }

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val n = fn(spark, sfDir).count()
        println(f"OK   $name%-22s rows=$n")
      } catch {
        case e: Throwable =>
          println(s"FAIL $name: ${e.toString.linesIterator.next()}")
      }
    }
    spark.stop()
  }
}
