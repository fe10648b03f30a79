package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Product quantization (PQ) — the serving tier past SQ8: split each vector
  * into M subvectors, quantize each against its own Kc-entry codebook, store
  * ONE BYTE per subvector. At M=8 over 64 dims that is 8 B/vector vs SQ8's
  * 72 B and raw's 512 B — the compression that makes a 100 TB embedding
  * corpus probe-able from memory. The shape is FAISS's IVFPQ (public
  * practice: Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011); the reference has no quantization surface at all
  * (pandas float arrays, qa_retrieval.py:90-98).
  *
  * Scoring is ADC (asymmetric distance computation): the query stays full
  * precision, and per query a driver-side M×Kc lookup table of
  * subspace-dot-products replaces all float math in the scan — the scan
  * loop is M byte-indexed adds per row ([[PqAdcSim]]), whole-stage
  * codegen'd. Cosine decomposes as
  *   cos(q, x) ≈ Σ_m dot(q_m, c_{m,code_m}) / (‖q‖ · √(Σ_m ‖c_{m,code_m}‖²))
  * with ‖q‖ folded into the dot LUT by the caller, so the expression needs
  * only the two LUTs (dot and norm²), both typedLit metadata (M·Kc
  * doubles). PQ ranks a SHORTLIST; exact rerank on a finer representation
  * recovers recall (VectorOps.ivfProbePq overfetches then reranks on the
  * SQ8 codes stored alongside — the standard refine stage).
  *
  * Code layout: M bytes, codebook geometry carried by the expressions'
  * (m, kc) parameters — the codebook itself lives in the index's
  * `pq_codebook` parquet, not in each row.
  */
case class PqEncode(left: Expression, right: Expression, m: Int, kc: Int)
    extends BinaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode"

  // a float-typed vector column (raw embeddings) must be read with
  // getFloat — ArrayData.getDouble on a float-backed array reads the
  // wrong bytes SILENTLY (same trap Sq8Encode/CosineSimQ8 guard against)
  private def isFloatArr: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // left: array<double|float> vector; right: flat codebook array<double>
  // of length m*kc*dsub laid out [(mi, k, d)] — assignment is L2 argmin
  // per subspace (the PQ training objective; ties break to the lower code)
  override def nullSafeEval(v: Any, cb: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val c = cb.asInstanceOf[ArrayData]
    val dsub = a.numElements() / m
    val out = new Array[Byte](m)
    var mi = 0
    while (mi < m) {
      var best = 0; var bestD = Double.MaxValue; var k = 0
      while (k < kc) {
        var d2 = 0.0; var d = 0
        while (d < dsub) {
          val x = if (isFloatArr) a.getFloat(mi * dsub + d).toDouble
                  else a.getDouble(mi * dsub + d)
          val diff = x - c.getDouble((mi * kc + k) * dsub + d)
          d2 += diff * diff
          d += 1
        }
        if (d2 < bestD) { bestD = d2; best = k }
        k += 1
      }
      out(mi) = best.toByte
      mi += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, c) => {
      val dsub = ctx.freshName("dsub"); val out = ctx.freshName("out")
      val mi = ctx.freshName("mi"); val k = ctx.freshName("k")
      val d = ctx.freshName("d"); val d2 = ctx.freshName("d2")
      val diff = ctx.freshName("diff"); val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val get =
        if (isFloatArr) s"(double) $a.getFloat($mi * $dsub + $d)"
        else s"$a.getDouble($mi * $dsub + $d)"
      s"""
         |int $dsub = $a.numElements() / $m;
         |byte[] $out = new byte[$m];
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  int $best = 0; double $bestD = Double.MAX_VALUE;
         |  for (int $k = 0; $k < $kc; $k++) {
         |    double $d2 = 0.0;
         |    for (int $d = 0; $d < $dsub; $d++) {
         |      double $diff = $get
         |        - $c.getDouble(($mi * $kc + $k) * $dsub + $d);
         |      $d2 += $diff * $diff;
         |    }
         |    if ($d2 < $bestD) { $bestD = $d2; $best = $k; }
         |  }
         |  $out[$mi] = (byte) $best;
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** ADC cosine of a PQ code against a query's precomputed LUTs: first =
  * code (binary, M bytes), second = dot LUT (array<double>, M·Kc, already
  * divided by ‖q‖), third = norm² LUT (array<double>, M·Kc). The scan
  * does M indexed adds and one sqrt per row — no per-dimension float math
  * anywhere. */
case class PqAdcSim(first: Expression, second: Expression, third: Expression,
    kc: Int) extends TernaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_sim"

  override def nullSafeEval(code: Any, dotL: Any, normL: Any): Any = {
    val c = code.asInstanceOf[Array[Byte]]
    val dl = dotL.asInstanceOf[ArrayData]
    val nl = normL.asInstanceOf[ArrayData]
    var dot = 0.0; var n2 = 0.0; var mi = 0
    while (mi < c.length) {
      val idx = mi * kc + (c(mi) & 0xff)
      dot += dl.getDouble(idx)
      n2 += nl.getDouble(idx)
      mi += 1
    }
    if (n2 == 0.0) 0.0 else dot / math.sqrt(n2)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, dl, nl) => {
      val dot = ctx.freshName("dot"); val n2 = ctx.freshName("n2")
      val mi = ctx.freshName("mi"); val idx = ctx.freshName("idx")
      s"""
         |double $dot = 0.0; double $n2 = 0.0;
         |for (int $mi = 0; $mi < $c.length; $mi++) {
         |  int $idx = $mi * $kc + ($c[$mi] & 0xff);
         |  $dot += $dl.getDouble($idx);
         |  $n2 += $nl.getDouble($idx);
         |}
         |${ev.value} = ($n2 == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($n2);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object Pq {
  /** Column builder: `pq_encode(v, codebook, m, kc)` (`m` and `kc` are
    * codegen geometry, not data). */
  def encode(v: Column, codebook: Column, m: Int, kc: Int): Column =
    column(PqEncode(expression(v), expression(codebook), m, kc))

  /** Column builder: `pq_adc_sim(code, dot_lut, norm_lut, kc)`. */
  def adcSim(code: Column, dotLut: Column, normLut: Column, kc: Int): Column =
    column(PqAdcSim(expression(code), expression(dotLut),
      expression(normLut), kc))
}
