package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd cosine similarity over two float/double array columns.
  *
  * Semantics mirror the reference (bambooai/qa_retrieval.py:90-98 and the
  * matrix form in google_search.py:253-255): dot(a,b)/(‖a‖·‖b‖), with 0.0
  * when either norm is zero (qa_retrieval.py:95-96 guards the zero vector).
  *
  * Why a Catalyst Expression and not a UDF (SURVEY §4 "custom Catalyst work"):
  * the composed built-in form `aggregate(zip_with(a,b,...),...)` allocates an
  * intermediate array per row and breaks whole-stage codegen into three
  * higher-order-function evals; this expression is a single fused loop that
  * participates in WholeStageCodegen — the difference is ~10× per-row cost on
  * a 64-dim embedding scan, which at 100 TB is the difference between a
  * CPU-bound and an IO-bound similarity pass.
  *
  * Accumulation is double-precision left-to-right regardless of input element
  * type (floats are widened first), matching the DuckDB oracle's
  * `list_dot_product(a::DOUBLE[], b::DOUBLE[])` bit-for-bit.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  private def isFloatArr(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val aF = isFloatArr(left); val bF = isFloatArr(right)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val aGet = if (isFloatArr(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val bGet = if (isFloatArr(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $aGet;
         |  double $y = $bGet;
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
         |  : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column builder: `cosine_sim(a, b)`. Similarity pipelines round the
    * result through [[Round6.of]]: Spark's own `round` pays a
    * BigDecimal-via-string conversion PER CANDIDATE — the profiled
    * per-candidate bottleneck of the ×1000 runs. */
  def of(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
}
