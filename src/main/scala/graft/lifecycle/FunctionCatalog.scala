package graft.lifecycle

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** §2.11 helper-function registry: the reference stores verbatim pandas
  * function bodies in the ontology and injects them into generated code
  * (default_prompts.yaml:1084-1094 "Extract VERBATIM ... NO invented
  * functions"; examples :1236-1313; code-gen requirement 9 :1977).
  *
  * Engine-side inversion (SURVEY §2.11): the registry maps ontology function
  * NAMES to vetted Spark implementations, so plans reference functions by
  * name and never inject code. Two kinds:
  *  - scalar helpers → Column => Column (registered, codegen-able);
  *  - table helpers → parameterized DataFrame pipelines ("view templates").
  *
  * Each entry carries the objects it applies to, mirroring the ontology's
  * `applicable_objects` (default_prompts.yaml:1235-1313).
  */
object FunctionCatalog {

  final case class ScalarEntry(name: String, description: String,
      applicableTo: Seq[String], impl: Column => Column)
  final case class TableEntry(name: String, description: String,
      applicableTo: Seq[String], impl: DataFrame => DataFrame)

  /** pace = 1000/(speed*60) min/km (default_prompts.yaml:74). */
  val paceMinPerKm: Column => Column =
    speed => lit(1000.0) / (speed * 60.0)

  /** semicircle → degrees conversion `*(180/2**31)` (web_app/app.py:391-393). */
  val semicirclesToDegrees: Column => Column =
    c => c * (180.0 / math.pow(2, 31))

  /** The reference's `compute_dataframe_index` (default_prompts.yaml:
    * 1244-1289): per-activity multi-agg index — generalized to (groupKey,
    * time, measure) so it applies to any activity-shaped table. */
  def dataframeIndex(groupKey: String, ts: String,
      measures: Seq[String]): DataFrame => DataFrame = { df =>
    val aggs =
      Seq(min(col(ts)).as("start_time"), max(col(ts)).as("end_time"),
        (unix_timestamp(max(col(ts)).cast("timestamp")) -
          unix_timestamp(min(col(ts)).cast("timestamp"))).as("duration_s"),
        count(lit(1)).as("n_rows")) ++
        measures.map(m => round(avg(col(m)), 6).as(s"avg_$m"))
    df.groupBy(col(groupKey)).agg(aggs.head, aggs.tail: _*)
  }

  val scalars: Map[String, ScalarEntry] = Map(
    "pace_min_per_km" -> ScalarEntry("pace_min_per_km",
      "pace in minutes per km from speed in m/s",
      Seq("activity", "events"), paceMinPerKm),
    "semicircles_to_degrees" -> ScalarEntry("semicircles_to_degrees",
      "GPS semicircle units to degrees",
      Seq("activity"), semicirclesToDegrees))

  val tables: Map[String, TableEntry] = Map(
    "compute_dataframe_index" -> TableEntry("compute_dataframe_index",
      "per-group session index: start/end/duration/count + measure means",
      Seq("activity", "events"),
      dataframeIndex("user_id", "ts", Seq("value"))))
}
