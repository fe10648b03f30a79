package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.CosineSimilarity

/** SparkSessionExtensions entry point and the engine's one SQL-name
  * surface: it injects `cosine_sim` for the validator-admitted `/execute`
  * SQL ([[SqlValidator]]'s default extra function). Operators never look a
  * function up by name; they build their expressions as typed Columns
  * (the `graft.functions` builders). A deployment enables it with
  *
  *   spark.sql.extensions=graft.plans.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)`); injected functions survive
  * session cloning. Every engine session installs it
  * ([[graft.Spark.local]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier(GraftExtensions.CosineSim),
      new ExpressionInfo(classOf[CosineSimilarity].getName,
        GraftExtensions.CosineSim),
      exprs => CosineSimilarity(exprs.head, exprs(1))))
  }
}

object GraftExtensions {
  val CosineSim = "cosine_sim"
}
