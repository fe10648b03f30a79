package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table layer: loads the driver corpus (TESTDATA.md), which the entry
  * points bind as views by name, mirroring the reference's df /
  * aux-dataset injection (reference: bambooai/code_executor.py:128-140
  * binds `df` into the exec scope; web_app/code_executor_api.py:33-65
  * caches tables by df_id).
  *
  * Spark-first: a "table" is an immutable DataFrame plan registered in the
  * session catalog under a stable name; re-binding a name is the engine's
  * equivalent of the reference's mutable-`df` semantics.
  *
  * Timestamp policy (SURVEY §1.2, §7.5): everything is UTC and
  * timezone-naive (TIMESTAMP_NTZ), matching the reference's tz-strip at load
  * (web_app/app.py:210-224) and keeping parity with the DuckDB oracle, which
  * reads parquet timestamps as naive microsecond values. The seed-42
  * fixtures' `events.ts` is microsecond parquet and reads as TIMESTAMP_NTZ
  * directly. An `events` file with nanosecond timestamps (pandas' default
  * parquet writer), which Spark's vectorized reader rejects, reads as raw
  * nanos (legacy nanosAsLong, part of [[Spark.readPolicy]]) and is
  * floor-converted to microseconds, the same truncation DuckDB applies.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // a no-op on sessions built by [[Spark.local]], which carry the policy
    // from the start; sessions built elsewhere get the same single map
    Spark.readPolicy.foreach { case (k, v) => spark.conf.set(k, v) }
    if (name == "events") {
      val raw = spark.read.parquet(path(sfDir, name))
      // ns timestamps read as raw longs; µs ones (the seed-42 fixtures,
      // the ScaleFixtures widenings of them) are already NTZ
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => raw.withColumn("ts",
          expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
        case _ => raw
      }
    } else spark.read.parquet(path(sfDir, name))
  }
}
