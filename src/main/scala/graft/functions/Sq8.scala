package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Int8 scalar quantization (SQ8) of embedding columns — the standard
  * memory/scan-reduction step for vector serving at scale (FAISS's
  * `ScalarQuantizer` shape, public practice): each vector is stored as one
  * byte per element plus one per-vector scale instead of 8-byte doubles,
  * an ~8x raw reduction that turns a 100 TB float corpus into a ~12 TB
  * scan at a ~0.5% cosine error.
  *
  * Code layout: `[8-byte IEEE-754 big-endian scale][n int8 codes]`, where
  * `scale` = max |v_i| and `code_i` = round(v_i / scale * 127). The scale
  * rides INSIDE the binary so the quantized column is self-contained — no
  * second column to keep aligned through shuffles.
  *
  * Cosine over codes needs NO dequantization: with v_i ≈ code_i·s/127 the
  * scale cancels from dot/(‖a‖‖b‖), so [[CosineSimQ8]] loops raw bytes
  * against the double-precision query — a single fused whole-stage-codegen
  * loop like [[CosineSimilarity]], reading 1/8th the bytes.
  *
  * The reference has no quantization surface (its embeddings sit in pandas
  * float arrays, qa_retrieval.py:90-98); this is a scale extension.
  */
case class Sq8Encode(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "sq8_encode"

  private def isFloatArr: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Byte](8 + n)
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val x = if (isFloatArr) a.getFloat(i).toDouble else a.getDouble(i)
      val ax = math.abs(x)
      if (ax > maxAbs) maxAbs = ax
      i += 1
    }
    val bits = java.lang.Double.doubleToLongBits(maxAbs)
    var j = 0
    while (j < 8) { out(j) = (bits >>> (56 - 8 * j)).toByte; j += 1 }
    i = 0
    while (i < n) {
      val x = if (isFloatArr) a.getFloat(i).toDouble else a.getDouble(i)
      out(8 + i) =
        if (maxAbs == 0.0) 0.toByte
        else math.round(x / maxAbs * 127.0).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val maxAbs = ctx.freshName("maxAbs"); val i = ctx.freshName("i")
      val x = ctx.freshName("x"); val ax = ctx.freshName("ax")
      val bits = ctx.freshName("bits"); val j = ctx.freshName("j")
      val get =
        if (isFloatArr) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[8 + $n];
         |double $maxAbs = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $get;
         |  double $ax = java.lang.Math.abs($x);
         |  if ($ax > $maxAbs) $maxAbs = $ax;
         |}
         |long $bits = java.lang.Double.doubleToLongBits($maxAbs);
         |for (int $j = 0; $j < 8; $j++) {
         |  $out[$j] = (byte) ($bits >>> (56 - 8 * $j));
         |}
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $get;
         |  $out[8 + $i] = ($maxAbs == 0.0) ? (byte) 0
         |    : (byte) java.lang.Math.round($x / $maxAbs * 127.0);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Cosine similarity of an SQ8 code (left, binary) against a raw
  * double/float array query (right) — the probe hot path. The per-vector
  * scale cancels from the cosine, so the loop reads raw bytes: same fused
  * whole-stage-codegen shape as [[CosineSimilarity]], 1/8th the input. */
case class CosineSimQ8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim_q8"

  private def isFloatArr: Boolean = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val c = l.asInstanceOf[Array[Byte]]
    val q = r.asInstanceOf[ArrayData]
    val n = math.min(c.length - 8, q.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = c(8 + i).toDouble
      val y = if (isFloatArr) q.getFloat(i).toDouble else q.getDouble(i)
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
      val bGet =
        if (isFloatArr) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |int $n = java.lang.Math.min($a.length - 8, $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a[8 + $i];
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

object Sq8 {
  /** Column builder: `sq8_encode(v)`. */
  def encode(v: Column): Column = column(Sq8Encode(expression(v)))

  /** Column builder: `cosine_sim_q8(code, q)`. */
  def cosine(code: Column, q: Column): Column =
    column(CosineSimQ8(expression(code), expression(q)))
}
