package graft.lifecycle

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A11 engine telemetry: one record per LLM call
  * (bambooai/log_manager.py:45-53,82-122 — token counts and elapsed time).
  * The roll-up is the engine's own group-agg surface: `/metrics` groups
  * these rows per stage ([[ExecutorApi]]).
  */
object Telemetry {

  final case class CallLog(chainId: String, agent: String, model: String,
      promptTokens: Long, completionTokens: Long, elapsedS: Double)

  def toDF(spark: SparkSession, logs: Seq[CallLog]): DataFrame = {
    import spark.implicits._
    logs.toDF()
  }
}
