package graft.sources

import graft.Json
import org.apache.spark.sql.{DataFrame, Row}

/** Chart sink (plots.py:21-141, meta_workflow.py:94-184): the reference
  * renders matplotlib PNGs of the final small aggregate tables. A
  * headless engine should not link a rasterizer; the equivalent
  * engine-side capability is a CHART-SPEC sink — deterministic Vega-Lite
  * v5 JSON with the data inlined — which any front end (vega-cli,
  * browser, notebook) renders to the same pixels. JSON specs are
  * diffable and golden-file testable where PNGs are not.
  *
  * Charts only ever consume the final SMALL aggregates (top-10 cards,
  * 5 deck types — bounded by construction in the reference too), so the
  * collect here is driver-safe at any input scale.
  */
object ChartSpec {

  /** plots.py:21-60 — top-n bar chart of a card/deck stats table. */
  def barSpec(df: DataFrame, title: String, xField: String, yField: String,
      topN: Int = 10): String =
    render(df.limit(topN), title, "bar", xField, "nominal", yField, "quantitative")

  /** plots.py:64-97 — share pie (arc mark, theta = value). */
  def pieSpec(df: DataFrame, title: String, categoryField: String,
      valueField: String): String = {
    val rows = df.limit(50).collect()
    val cols = df.limit(0).columns
    s"""{
       |  "$$schema": "https://vega.github.io/schema/vega-lite/v5.json",
       |  "title": ${Json.str(title)},
       |  "data": {"values": ${values(rows, cols)}},
       |  "mark": {"type": "arc"},
       |  "encoding": {
       |    "theta": {"field": ${Json.str(valueField)}, "type": "quantitative"},
       |    "color": {"field": ${Json.str(categoryField)}, "type": "nominal"}
       |  }
       |}""".stripMargin
  }

  /** Write a spec produced by barSpec/pieSpec. */
  def writeChartSpec(spec: String, path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, spec)
  }

  private def render(df: DataFrame, title: String, mark: String,
      xField: String, xType: String, yField: String, yType: String): String = {
    val rows = df.collect()
    val cols = df.limit(0).columns
    s"""{
       |  "$$schema": "https://vega.github.io/schema/vega-lite/v5.json",
       |  "title": ${Json.str(title)},
       |  "data": {"values": ${values(rows, cols)}},
       |  "mark": {"type": ${Json.str(mark)}},
       |  "encoding": {
       |    "x": {"field": ${Json.str(xField)}, "type": ${Json.str(xType)}, "sort": null, "axis": {"labelAngle": -45}},
       |    "y": {"field": ${Json.str(yField)}, "type": ${Json.str(yType)}}
       |  }
       |}""".stripMargin
  }

  /** Inline data values: row order preserved (callers pass pre-sorted
    * aggregates), column order = schema order, so output is byte-stable
    * for golden-file tests. */
  private def values(rows: Array[Row], cols: Array[String]): String =
    rows.map { r =>
      cols.zipWithIndex.map { case (c, i) =>
        s"${Json.str(c)}: ${jsonVal(r.get(i))}"
      }.mkString("{", ", ", "}")
    }.mkString("[", ", ", "]")

  private def jsonVal(v: Any): String = v match {
    case null => "null"
    case s: String => Json.str(s)
    case b: Boolean => b.toString
    case d: Double => if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) f"$d%.1f" else d.toString
    case f: Float => jsonVal(f.toDouble)
    case n: Number => n.toString
    case other => Json.str(other.toString)
  }
}
