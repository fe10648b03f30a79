package graft.lifecycle

import org.apache.spark.sql.DataFrame

/** Plot surface (SURVEY §1.1 "Plots" row): the reference captures rendered
  * matplotlib PNGs / plotly JSON from executed code
  * (bambooai/code_executor.py:143-183). The engine's declarative
  * equivalent: return the aggregated result table plus a plot-spec JSON the
  * UI renders — no figure rendering inside the engine, no exec.
  */
object PlotSpec {

  /** The reference's plot_2d helper parameter surface
    * (default_prompts.yaml:1290-1313): a plotly-express call reduced to
    * its declarative inputs — plot type, x/y columns, title, axis-label
    * remaps, a series color, and hover columns. */
  final case class Plot2d(plotType: String, x: String, ys: Seq[String],
      title: String, labels: Map[String, String] = Map.empty,
      color: Option[String] = None, hoverData: Seq[String] = Nil)

  /** plotly-express plot types → Vega-Lite marks (both public grammars);
    * unknown types fall back to point, the exploratory default. */
  private val MarkOf = Map("scatter" -> "point", "line" -> "line",
    "bar" -> "bar", "area" -> "area", "histogram" -> "bar")

  private def vlType(dt: org.apache.spark.sql.types.DataType): String =
    dt match {
      case _: org.apache.spark.sql.types.NumericType => "quantitative"
      case org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => "temporal"
      case _ => "nominal"
    }

  private[lifecycle] def jsonValue(v: Any): String = v match {
    case null => "null"
    // NaN/Infinity (e.g. an avg over an empty group) have no JSON literal
    // — Number.toString would emit invalid JSON, so map to null
    case d: java.lang.Double if d.isNaN || d.isInfinite => "null"
    case f: java.lang.Float if f.isNaN || f.isInfinite => "null"
    case n: java.lang.Number => n.toString
    case b: java.lang.Boolean => b.toString
    case other => Json.str(other.toString)
  }

  /** Vega-Lite v5 emission of the [[Plot2d]] contract over an aggregated
    * frame: inline `data.values` row objects, the mark mapped from the
    * plotly type, typed x/y encodings (column dtype → quantitative /
    * temporal / nominal) with label remaps as axis titles, hover columns
    * as the tooltip channel, and multi-series y folded into
    * (series, value) with color carrying the series — the same
    * declarative semantics plot_2d renders through plotly, in the other
    * public grammar. Deterministic: key order is fixed and rows follow
    * the frame's order (callers sort upstream). */
  def toVegaLite(spec: Plot2d, df: DataFrame, maxRows: Int = 1000): String = {
    val cols = (spec.x +: spec.ys) ++ spec.hoverData.filterNot(
      c => c == spec.x || spec.ys.contains(c))
    val schema = df.select(cols.head, cols.tail: _*).schema
    val rows = df.select(cols.head, cols.tail: _*).limit(maxRows).collect()
      .map { r =>
        cols.indices.map(i => Json.str(cols(i)) + ": " + jsonValue(r.get(i)))
          .mkString("{", ", ", "}")
      }.mkString("[", ", ", "]")
    def axisTitle(c: String) = spec.labels.getOrElse(c, c)
    def enc(channel: String, field: String, dtype: String, extra: String = "") =
      s""""$channel": {"field": ${Json.str(field)}, "type": "$dtype"$extra, "title": ${Json.str(axisTitle(field))}}"""
    // plotly's histogram bins x itself; Vega-Lite says so explicitly
    val xEnc = enc("x", spec.x, vlType(schema(spec.x).dataType),
      if (spec.plotType == "histogram") ", \"bin\": true" else "")
    val mark = MarkOf.getOrElse(spec.plotType, "point")
    // histograms drop the tooltip channel: a non-aggregated field channel
    // in an aggregated encoding becomes a group-by dimension in Vega-Lite,
    // re-splitting each bin into per-value bars (plotly histogram hover
    // shows bin range + total, not arbitrary columns, so nothing is lost)
    val tooltip =
      if (spec.hoverData.isEmpty || spec.plotType == "histogram") ""
      else ", \"tooltip\": [" + spec.hoverData.map(c =>
        s"""{"field": ${Json.str(c)}, "type": "${vlType(schema(c).dataType)}"}""")
        .mkString(", ") + "]"
    // histogram y must AGGREGATE per bin (plotly's histfunc defaults to
    // sum when y is given, and Plot2d always carries a y) — without it
    // Vega-Lite overplots one bar per source row and multi-row bins
    // render the max row instead of the bin total
    val yAgg =
      if (spec.plotType == "histogram") ", \"aggregate\": \"sum\"" else ""
    val (transform, yEnc, colorEnc) =
      if (spec.ys.length == 1) {
        val c = spec.color.map(col =>
          s""", "color": {"value": ${Json.str(col)}}""").getOrElse("")
        ("", enc("y", spec.ys.head, vlType(schema(spec.ys.head).dataType),
          yAgg), c)
      } else {
        val fold = spec.ys.map(Json.str).mkString(", ")
        (s""""transform": [{"fold": [$fold], "as": ["series", "value"]}], """,
          s""""y": {"field": "value", "type": "quantitative"$yAgg}""",
          """, "color": {"field": "series", "type": "nominal"}""")
      }
    s"""{"$$schema": "https://vega.github.io/schema/vega-lite/v5.json", """ +
      s""""title": ${Json.str(spec.title)}, """ +
      s""""data": {"values": $rows}, """ +
      transform +
      s""""mark": {"type": "$mark"}, """ +
      s""""encoding": {$xEnc, $yEnc$colorEnc$tooltip}}"""
  }
}
