package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Remaining scalar-function surface of SURVEY §2.8 not already exercised by
  * the oracle queries: F7 unicode→ASCII normalize, F8 wrap/truncate, F14
  * safe-eval calculator, F15 base64/zlib helpers.
  */
object ScalarExtras {

  /** F7: NFKD + ASCII-ignore label normalization (utils.py:389), for
    * label paths only (presentation, never the hot path). */
  def asciiNormalize(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKD)
      .replaceAll("[^\\p{ASCII}]", "")

  /** F8: textwrap.wrap(width) (utils.py:392) — greedy word wrap. */
  def wrap(text: String, width: Int): Seq[String] = {
    val words = text.split("\\s+").filter(_.nonEmpty)
    val lines = Seq.newBuilder[String]
    var cur = new StringBuilder
    words.foreach { w =>
      if (cur.isEmpty) cur ++= w
      else if (cur.length + 1 + w.length <= width) { cur += ' '; cur ++= w }
      else { lines += cur.toString; cur = new StringBuilder(w) }
    }
    if (cur.nonEmpty) lines += cur.toString
    lines.result()
  }

  /** F8: `[:37] + "..."` truncation (utils.py:422-427). */
  def truncateLabel(s: String, n: Int = 37): String =
    if (s.length <= n) s else s.take(n) + "..."

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

  /** F15: base64 column helper (code_executor.py:150-151) — a built-in. */
  def b64(c: Column): Column = base64(c.cast("binary"))
}
