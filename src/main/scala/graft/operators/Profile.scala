package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Inspection operators I1-I4 (SURVEY §2.9): the reference's first-class
  * profiling surface that feeds the planner prompt.
  *
  * Text formats replicate bambooai/utils.py:52-86 exactly:
  * - numeric:     `col: numeric(n=N) range=MIN-MAX mean=M[ missing=K]`
  * - all-missing: `col: numeric all_missing`
  * - categorical: `col: categorical(n=N) unique=U values=[a, b, c]` (≤10
  *   uniques → top-3 by count) or ` samples=[v1, v2...]` (first 2 non-null)
  * - preview (I2): `DF Head:\n<rows 25..25+n>\n\nDF Summary:\n<I1>` with
  *   fallback to row 1 when 25+2n exceeds the row count (utils.py:107-110).
  *
  * Intentional deviations (SURVEY §7.5): top-3 tie-break is (count desc,
  * value asc) — pandas keeps hash order on ties, which is not reproducible;
  * and `%.1f` uses Java half-up at the exact .x5 boundary where CPython is
  * half-even — both are golden-tested.
  *
  * Scale: the numeric profile is ONE aggregate pass with 5 expressions per
  * column — never N scans (SURVEY §4 physical notes). Categorical top-3 runs
  * one groupBy per low-cardinality column; at 100 TB these become
  * approx_count_distinct + a sampled value_counts behind the same API.
  */
object Profile {

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  private def f1(v: Double): String = f"$v%.1f"

  /** The I1 single-pass stats aggregate: count/min/max/mean/missing for every
    * column, plus a distinct count per categorical column. `approx=true`
    * routes the distinct counts through [[ScaleOps.distinctCountAgg]]
    * (HyperLogLog++ sketches) so the plan carries NO exact-distinct Expand
    * rewrite — with 2+ categorical columns the exact form multiplies every
    * input row per distinct group before the shuffle, which is the first
    * thing that stalls on a wide 100 TB table. Package-visible so the scale
    * gate can assert the plan shape directly. */
  private[graft] def summaryAgg(df: DataFrame, approx: Boolean): DataFrame = {
    val aggs = df.schema.fields.flatMap { f =>
      val c = col(f.name)
      val base = Seq(
        count(c).as(s"${f.name}__n"),
        sum(when(c.isNull, 1).otherwise(0)).as(s"${f.name}__missing"))
      if (isNumeric(f.dataType))
        base ++ Seq(min(c).cast("double").as(s"${f.name}__min"),
          max(c).cast("double").as(s"${f.name}__max"),
          avg(c.cast("double")).as(s"${f.name}__mean"))
      else base :+ ScaleOps.distinctCountAgg(c, approx).as(s"${f.name}__unique")
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** I1: dataframe_summary_to_string (utils.py:52-86). `approx=true` is the
    * 100 TB mode: identical text format, sketch-based distinct counts
    * (HLL++ is exact below its sparse-mode threshold, so small tables render
    * byte-identically; huge cardinalities show the ±2% estimate — acceptable
    * for a planner prompt that only branches on `unique <= 10`).
    *
    * Every call runs the profile's Spark jobs again. Per-request callers
    * that profile a bound table read [[graft.lifecycle.EngineSession.profile]]
    * instead, which computes this string once per binding version. */
  def summaryString(df: DataFrame, approx: Boolean = false): String = {
    val fields = df.schema.fields
    val row = summaryAgg(df, approx).collect()(0)
    def g(n: String): Any = row.get(row.fieldIndex(n))

    // ONE job computes every categorical column's top-3 values: explode each
    // row into (column, value) pairs, count, rank per column with the
    // WindowGroupLimit shape. Previously this launched one groupBy job per
    // low-cardinality column and one limit job per high-cardinality column —
    // fine at notebook scale, a planner stall with wide schemas on a
    // cluster. High-cardinality samples are the top-2 by frequency (the
    // earlier arbitrary limit(2) rows were order-undefined anyway).
    val catFields = fields.filterNot(f => isNumeric(f.dataType))
    val catTops: Map[String, Seq[String]] =
      if (catFields.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("cname").orderBy(desc("cnt"), col("value"))
        df.select(explode(array(catFields.map(f =>
            struct(lit(f.name).as("cname"),
              col(f.name).cast("string").as("value"))).toIndexedSeq: _*)).as("p"))
          .select(col("p.cname"), col("p.value"))
          .filter(col("value").isNotNull)
          .groupBy("cname", "value").agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .collect()
          .groupBy(_.getString(0))
          .view.mapValues(_.sortBy(_.getInt(3)).map(_.getString(1)).toSeq)
          .toMap
      }

    fields.map { f =>
      val n = g(s"${f.name}__n").asInstanceOf[Long]
      val missing = g(s"${f.name}__missing").asInstanceOf[Long]
      val missingInfo = if (missing > 0) s" missing=$missing" else ""
      if (isNumeric(f.dataType)) {
        if (n == 0) s"${f.name}: numeric all_missing"
        else {
          val mn = g(s"${f.name}__min").asInstanceOf[Double]
          val mx = g(s"${f.name}__max").asInstanceOf[Double]
          val me = g(s"${f.name}__mean").asInstanceOf[Double]
          s"${f.name}: numeric(n=$n) range=${f1(mn)}-${f1(mx)} mean=${f1(me)}$missingInfo"
        }
      } else {
        val unique = g(s"${f.name}__unique").asInstanceOf[Long]
        val tops = catTops.getOrElse(f.name, Seq.empty)
        val samples =
          if (unique <= 10) s" values=[${tops.mkString(", ")}]"
          else s" samples=[${tops.take(2).mkString(", ")}...]"
        s"${f.name}: categorical(n=$n) unique=$unique$samples$missingInfo"
      }
    }.mkString("\n")
  }

  /** Pandas-like to_string(index=False): right-aligned fixed-width columns. */
  def renderTable(df: DataFrame): String = renderTable(df.columns.toSeq, df.collect().toSeq)

  /** [[renderTable]] over rows already collected: runs no Spark job. */
  def renderTable(cols: Seq[String], collected: Seq[Row]): String = {
    val rows = collected.map(_.toSeq.map {
      case null => "NaN"
      case v => v.toString
    })
    val widths = cols.indices.map { i =>
      (cols(i).length +: rows.map(_(i).length)).max
    }
    val header = cols.indices.map(i => cols(i).reverse.padTo(widths(i), ' ').reverse)
      .mkString(" ")
    val body = rows.map(r =>
      cols.indices.map(i => r(i).reverse.padTo(widths(i), ' ').reverse)
        .mkString(" "))
    (header +: body).mkString("\n")
  }

  /** I2: dataframe_to_string (utils.py:89-133) — head rows [25, 25+n) with
    * fallback to row 1, plus `summary`, the I1 string of `df`. Spark tables
    * are unordered, so the caller supplies the ordering that defines
    * "row 25". The summary is passed in so a caller holding a memoized
    * profile ([[graft.lifecycle.EngineSession.profile]]) does not run the
    * I1 jobs again. */
  def dataframeToString(df: DataFrame, orderCols: Seq[String], summary: String,
      numRows: Int = 5): String = {
    val total = df.count()
    val firstRow = if (25 + numRows * 2 > total) 1 else 25
    val slice = df.orderBy(orderCols.map(col): _*)
      .offset(firstRow).limit(numRows)
    s"DF Head:\n${renderTable(slice)}\n\nDF Summary:\n$summary"
  }

  /** I4: computeDataframeSample — head(100) preview (utils.py:252-271). */
  def sample(df: DataFrame, n: Int = 100): DataFrame = df.limit(n)
}
