package graft

import java.nio.file.Files

/** Input-file-layout invariance: every registered query must return
  * byte-identical rows whether a table arrives as one parquet file or as
  * seven hash-scrambled ones.
  *
  * Why this matters at 100 TB: the corpus never arrives as one file per
  * table — it arrives as thousands of files whose count, sizes, and row
  * order are an accident of the upstream writer (and change on every
  * re-ingest or compaction). Any query whose answer shifts with the file
  * layout is nondeterministic in production even though it looks stable
  * against the single-file test corpus: scan order feeds partition order,
  * partition order feeds aggregation merge order, `first`/`collect_list`
  * content, and round-robin repartition assignment. InvarianceSpec pins
  * the shuffle-partition axis; this pins the scan axis. Combined with the
  * DuckDB oracle (which fixes the single-file answer), a green run here
  * means the multi-file answer is the oracle answer.
  *
  * The scramble is `repartition(7)` — rows hash-scattered across 7 files
  * in arbitrary order, the harshest layout change short of corruption.
  */
class LayoutInvarianceSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The corpus re-written as 7 hash-scrambled files per table. */
  private lazy val multiFileSf: String = {
    val dir = Files.createTempDirectory("graft_multi_sf").toString
    tables.foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").repartition(7)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  /** Queries whose OUTPUT is legitimately a function of the corpus file
    * layout (they measure files/scan shape as their deliverable), with the
    * reason each is exempt rather than fixed. Everything else must match. */
  private val exempt: Map[String, String] = Map.empty

  test("every registered query returns identical rows on a 7-file corpus") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if exempt.contains(name) => None
      case (name, fn) =>
        try {
          // memoized artifacts (BPE merges, dedup indexes) are keyed per
          // corpus dir, but clear anyway so no plan state leaks across runs
          SessionMemo.clear(spark, SessionMemo.Swept)
          val base = fn(spark, sf).collect().map(_.toString).toSeq
          SessionMemo.clear(spark, SessionMemo.Swept)
          val multi = fn(spark, multiFileSf).collect().map(_.toString).toSeq
          if (base == multi) None
          else {
            val firstDiff = base.zip(multi).indexWhere { case (a, b) => a != b }
            Some(s"$name: ${base.length} vs ${multi.length} rows, first diff " +
              s"at $firstDiff: ${base.lift(firstDiff).getOrElse("<none>")} vs " +
              s"${multi.lift(firstDiff).getOrElse("<none>")}")
          }
        } catch {
          case e: Throwable =>
            Some(s"$name: threw ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries depend on the input file layout:\n" +
        failures.mkString("\n"))
  }
}
