package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The 100 TB operating mode of the profile aggregates (SURVEY §4
  * "physical execution notes"): approximate aggregates behind the same
  * API, the switch a deployment flips when the exact defaults stop
  * scaling.
  */
object ScaleOps {

  /** Exact vs approximate profile aggregates behind one switch: the exact
    * forms are the t2 defaults; at scale `approx=true` swaps
    * percentile→percentile_approx and countDistinct→approx_count_distinct
    * (single-pass sketches, no sort / no exact dedup shuffle). */
  def percentileAgg(c: Column, p: Double, approx: Boolean): Column =
    if (approx) percentile_approx(c, lit(p), lit(10000))
    else percentile(c, lit(p))

  def distinctCountAgg(c: Column, approx: Boolean): Column =
    if (approx) approx_count_distinct(c) else countDistinct(c)
}
