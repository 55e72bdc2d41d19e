package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.GraftDataset

/** Chart-capture analog — SURVEY.md §2.1 `add_save_chart` mapping
  * (/root/reference/helpers/save_chart.py:52-116).
  *
  * The reference rewrites generated matplotlib code to save PNGs; there is
  * no matplotlib on the JVM, so chart questions return the aggregated
  * result DataFrame plus a renderable Vega-Lite JSON spec artifact (SURVEY
  * §2.2 mapping). Data is inlined from an already-aggregated (small) frame —
  * the aggregation ran distributed; only the plotted points are collected.
  */
object Charts {

  sealed abstract class Kind(val mark: String)
  case object Bar extends Kind("bar")
  case object Line extends Kind("line")
  case object Point extends Kind("point")
  case object Area extends Kind("area")
  /** Pie slice — encoded as theta (angle) + color, per Vega-Lite's arc
    * idiom, instead of x/y. */
  case object Arc extends Kind("arc")
  /** Heatmap cell — nominal x/y + a quantitative color field. */
  case object Rect extends Kind("rect")

  private def jsonVal(v: Any): String = v match {
    case null => "null"
    case _: Int | _: Long | _: Double | _: Float | _: Short | _: Byte => v.toString
    case b: Boolean => b.toString
    case other => "\"" + other.toString.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }

  private def fieldType(df: DataFrame, name: String): String =
    df.schema(name).dataType.typeName match {
      case "string" | "boolean" => "nominal"
      case "timestamp" | "timestamp_ntz" | "date" => "temporal"
      case _ => "quantitative"
    }

  /** Build a Vega-Lite v5 spec with inline data from an aggregated frame.
    * `maxRows` guards against accidentally inlining an unaggregated table.
    * `color` adds a third encoded field (heatmap cells, grouped series);
    * Arc re-targets (x, y) to (color, theta) — the pie idiom. */
  def vegaLite(df: DataFrame, kind: Kind, x: String, y: String,
      maxRows: Int = 5000, color: Option[String] = None): String = {
    // df.col resolves names directly (no expression parsing), so column
    // names containing quotes/spaces reach the escaper instead of erroring.
    val fields = (Seq(x, y) ++ color).distinct
    val points = df.select(fields.map(df.col): _*).limit(maxRows + 1)
    val rows = GraftDataset.driverRows(points).getOrElse(points.collect())
    require(rows.length <= maxRows,
      s"chart data exceeds $maxRows rows — aggregate before plotting")
    // Column names pass through the same escaping as cell values — a quote
    // or backslash in a name must not break the JSON or inject spec keys.
    val values = rows.map { r =>
      fields.zipWithIndex
        .map { case (f, i) => s"${jsonVal(f)}: ${jsonVal(r.get(i))}" }
        .mkString("{", ", ", "}")
    }.mkString("[", ",", "]")
    def enc(f: String) = s"""{"field": ${jsonVal(f)}, "type": "${fieldType(df, f)}"}"""
    val encoding = kind match {
      case Arc =>
        s""""theta": ${enc(y)}, "color": ${enc(x)}"""
      case _ =>
        val base = s""""x": ${enc(x)}, "y": ${enc(y)}"""
        color.fold(base)(c => s"""$base, "color": ${enc(c)}""")
    }
    s"""{
       |  "$$schema": "https://vega.github.io/schema/vega-lite/v5.json",
       |  "mark": "${kind.mark}",
       |  "data": {"values": $values},
       |  "encoding": {$encoding}
       |}""".stripMargin
  }
}
