package graft.functions

import org.apache.spark.sql.SparkSession

/** The F14 safe-eval calculator of SURVEY §2.8, the one scalar helper the
  * oracle queries do not exercise: [[graft.lifecycle.ReAct]] runs it as
  * its `calculate` action.
  */
object ScalarExtras {

  /** F14: the ReAct `calculate:` action (google_search.py:370-377) — the
    * reference `eval()`s arithmetic; here the expression is validated by
    * [[graft.plans.SqlValidator]] with an EMPTY relation allow-list before
    * execution, so a crafted payload cannot smuggle a subquery over a
    * registered view or call reflect/java_method: only relation-free,
    * allow-listed scalar expressions reach Catalyst. */
  def calculate(spark: SparkSession, expression: String): Either[String, Double] = {
    val sql = s"SELECT CAST(($expression) AS DOUBLE)"
    graft.plans.SqlValidator.validate(spark, sql,
        allowedRelations = Set.empty, extraAllowedFunctions = Set.empty) match {
      case Left(reason) => Left(reason)
      case Right(_) =>
        try {
          val v = spark.sql(sql).collect()(0)
          if (v.isNullAt(0)) Left("null result") else Right(v.getDouble(0))
        } catch { case e: Exception =>
          Left(graft.plans.Lifecycle.condense(e.getMessage))
        }
    }
  }
}
