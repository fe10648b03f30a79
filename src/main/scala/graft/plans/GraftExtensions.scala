package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.CosineSimilarity

/** SparkSessionExtensions entry point: registers the engine's native
  * functions at session build time, so a deployment enables the engine with
  *
  *   spark.sql.extensions=graft.plans.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)`), instead of per-session
  * imperative registration. The injectedFunctions path survives session
  * cloning, which the temp-function registry does not. Every engine
  * session installs it ([[graft.Spark.local]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      exprs => CosineSimilarity(exprs.head, exprs(1))))
  }
}
