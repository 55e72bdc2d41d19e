package graft

/** Dev tool: dump formatted physical plans for named queries (or a default
  * set of the shuffle-heavy ones) to review pushdown/broadcast/shuffle
  * shape — the "is this the plan I'd want at 100 TB" loop. */
object Explain {
  def main(args: Array[String]): Unit = {
    // -sf <dir>: explain against a specific corpus (default sf0.01)
    val sfIdx = args.indexOf("-sf")
    val sfDir = if (sfIdx >= 0) args(sfIdx + 1) else "/root/testdata/sf0.01"
    // -x: execute each query first, so AQE's FINAL plan prints (runtime
    // stage reuse / skew splits are invisible in the static plan)
    val execute = args.contains("-x")
    val named = args.toSeq.zipWithIndex.collect {
      case (a, i) if a != "-x" && a != "-sf" && i != sfIdx + 1 => a
    }
    val names = if (named.nonEmpty) named
      else Seq("q_group_agg", "q_join_inner", "q_join_asof", "q_topk",
        "q_dedup_minhash", "q_ann_lsh", "q_window_tumbling", "q_rolling_mean")
    val spark = Harness.session(defaultCpus = 8)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      val df = SparkEntry.queries(n)(spark, sfDir)
      // collect() (not count()) — count plans a separate queryExecution,
      // leaving THIS one un-finalized
      if (execute) df.collect()
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
