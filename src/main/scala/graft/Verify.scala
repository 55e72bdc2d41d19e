package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The driver's checker canonicalizes result rows with a pandas
    * sort over EVERY output column, which only works on scalars — a raw
    * array/struct/map column crashes the whole compare (round-2 regression:
    * q_embed_quantize's `array<int>` column). Refuse such schemas at dump
    * time so a new query cannot ship a shape the harness cannot grade;
    * serialize collections first (array_join / to_json).  */
  private[graft] def requireScalarOutput(
      name: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val complex = schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[StructType] ||
          f.dataType.isInstanceOf[MapType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }
    require(complex.isEmpty,
      s"$name declares non-scalar output columns the driver harness cannot " +
        s"canonicalize: ${complex.mkString(", ")} — serialize them " +
        "(array_join / to_json) before registering")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional extra args: qids to dump (default all). The driver always
    // calls with exactly two args; the filter is for fast local iteration.
    val only = args.drop(2).toSet
    val spark = Harness.session(defaultCpus = 4)
    // Write LTZ timestamps as INT64 micros (not INT96) so the driver's
    // DuckDB-side read sees the same values it computes.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        requireScalarOutput(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
