package graft

package object ops {

  /** Scratch path `name` for files and tables a query writes. On a cluster
    * set SPARK_GRAFT_SCRATCH to a shared filesystem (HDFS/S3/NFS) visible
    * to every executor; the local tmpdir is only correct in local mode. */
  private[graft] def scratch(name: String): String =
    sys.env.get("SPARK_GRAFT_SCRATCH").map(root => s"${root.stripSuffix("/")}/$name")
      .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), name).toString)

  /** `body`, then drop the scratch `tables` and delete `dir` through its Hadoop
    * filesystem (DROP keeps an external table's files), also when `body` throws, as
    * Verify runs on past a failed query. Every step runs; a failed one is suppressed
    * into `body`'s error, or thrown. `body`'s result must not read the tables lazily. */
  private[graft] def dropAfter[A](s: org.apache.spark.sql.SparkSession, dir: String,
      tables: String*)(body: => A): A = {
    var thrown: Throwable = null
    def attempt(step: => Any): Unit = try step catch {
      case scala.util.control.NonFatal(e) =>
        if (thrown == null) thrown = e else thrown.addSuppressed(e)
    }
    try body catch { case t: Throwable => thrown = t; throw t }
    finally {
      val bodyFailed = thrown != null
      tables.foreach(t => attempt(s.sql(s"DROP TABLE IF EXISTS $t")))
      attempt { val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true) }
      if (!bodyFailed && thrown != null) throw thrown
    }
  }
}
