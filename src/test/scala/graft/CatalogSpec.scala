package graft

import org.apache.spark.sql.functions._
import graft.lifecycle.{FunctionCatalog, Ontology, PlotSpec}

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  test("scalar helpers: pace and semicircle conversion formulas") {
    val df = Seq((4.0, 1073741824L)).toDF("speed", "semis")
    val out = df.select(
      FunctionCatalog.paceMinPerKm(col("speed")).as("pace"),
      FunctionCatalog.semicirclesToDegrees(col("semis")).as("deg"))
      .collect()(0)
    assert(math.abs(out.getDouble(0) - 1000.0 / 240.0) < 1e-12)
    assert(math.abs(out.getDouble(1) - 90.0) < 1e-9) // 2^30 semicircles = 90°
  }

  test("compute_dataframe_index view template over events") {
    val idx = FunctionCatalog.tables("compute_dataframe_index")
      .impl(Tables.load(spark, sf, "events"))
    assert(idx.columns.toSeq ==
      Seq("user_id", "start_time", "end_time", "duration_s", "n_rows", "avg_value"))
    assert(idx.count() == 15) // one row per user at sf0.001
    val bad = idx.filter(col("duration_s") < 0 || col("n_rows") <= 0).count()
    assert(bad == 0)
  }

  test("unknown helper names are rejected (no invented functions)") {
    assert(!FunctionCatalog.scalars.contains("exec_python"))
    assert(!FunctionCatalog.tables.contains("rm_rf"))
    // the ontology front-end checks its helpers against the same maps
    val yaml =
      """containers:
        |  - name: events
        |    columns: [user_id, ts]
        |functions:
        |  - pace_min_per_km
        |  - exec_python
        |""".stripMargin
    assert(Ontology.parseYaml(yaml) == Left("unknown helper functions: exec_python"))
  }

  test("plot spec maps non-finite doubles to null — the JSON stays valid") {
    import spark.implicits._
    // an avg over an empty group produces NaN; Number.toString would emit
    // the invalid-JSON literal NaN into the inline data values
    val df = Seq(("a", 1.5), ("b", Double.NaN), ("c", Double.PositiveInfinity))
      .toDF("k", "v")
    val vl = PlotSpec.toVegaLite(
      PlotSpec.Plot2d("bar", "k", Seq("v"), "t"), df)
    assert(!vl.contains("NaN") && !vl.contains("Infinity"), vl)
    assert(vl.contains(""""k": "b", "v": null"""), vl)
    assert(vl.contains(""""k": "c", "v": null"""), vl)
    assert(vl.contains(""""v": 1.5"""), vl)
  }

  test("plot_2d vega-lite emission: golden shape for the reference helper contract") {
    import spark.implicits._
    // tiny deterministic frame standing in for an aggregated result
    val df = Seq(("2024-01", 3L, 1.5, "a"), ("2024-02", 5L, 2.5, "b"))
      .toDF("month", "n", "avg_v", "tag")
    // single-series line with label remap, explicit color, hover column —
    // the full plot_2d parameter surface (default_prompts.yaml:1290-1313)
    val single = PlotSpec.toVegaLite(PlotSpec.Plot2d(
      "line", "month", Seq("n"), "Orders",
      labels = Map("month" -> "Month", "n" -> "Orders / month"),
      color = Some("#336699"), hoverData = Seq("tag")), df)
    val goldenSingle =
      """{"$schema": "https://vega.github.io/schema/vega-lite/v5.json", """ +
        """"title": "Orders", """ +
        """"data": {"values": [{"month": "2024-01", "n": 3, "tag": "a"}, """ +
        """{"month": "2024-02", "n": 5, "tag": "b"}]}, """ +
        """"mark": {"type": "line"}, """ +
        """"encoding": {"x": {"field": "month", "type": "nominal", "title": "Month"}, """ +
        """"y": {"field": "n", "type": "quantitative", "title": "Orders / month"}, """ +
        """"color": {"value": "#336699"}, """ +
        """"tooltip": [{"field": "tag", "type": "nominal"}]}}"""
    assert(single == goldenSingle, single)

    // multi-series scatter folds ys into (series, value) carried by color
    val multi = PlotSpec.toVegaLite(PlotSpec.Plot2d(
      "scatter", "month", Seq("n", "avg_v"), "Two series"), df)
    assert(multi.contains(""""transform": [{"fold": ["n", "avg_v"], "as": ["series", "value"]}]"""))
    assert(multi.contains(""""mark": {"type": "point"}"""))
    assert(multi.contains(""""y": {"field": "value", "type": "quantitative"}"""))
    assert(multi.contains(""""color": {"field": "series", "type": "nominal"}"""))

    // histogram asks Vega-Lite to bin x AND aggregate y per bin — plotly
    // sums y per bin when y is given; without the aggregate Vega-Lite
    // overplots one bar per source row and multi-row bins render wrong
    val hist = PlotSpec.toVegaLite(PlotSpec.Plot2d(
      "histogram", "avg_v", Seq("n"), "H"), df)
    assert(hist.contains(""""x": {"field": "avg_v", "type": "quantitative", "bin": true"""))
    assert(hist.contains(""""y": {"field": "n", "type": "quantitative", "aggregate": "sum""""))
    // multi-series histogram aggregates the folded value channel too
    val histMulti = PlotSpec.toVegaLite(PlotSpec.Plot2d(
      "histogram", "avg_v", Seq("n", "avg_v"), "H2"), df)
    assert(histMulti.contains(
      """"y": {"field": "value", "type": "quantitative", "aggregate": "sum"}"""))
    // histogram hover columns are dropped: a non-aggregated tooltip field
    // would become a group-by dim in Vega-Lite and re-split the bins
    val histHover = PlotSpec.toVegaLite(PlotSpec.Plot2d(
      "histogram", "avg_v", Seq("n"), "H3", hoverData = Seq("tag")), df)
    assert(!histHover.contains("tooltip"))
  }
}
