package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Per-vector suffix-of-squares checkpoints for the early-exit candidate
  * verify ([[CosineSimBounded]]): element 0 is the FULL sum of squares
  * (left-to-right, the exact accumulation order of
  * [[CosineSimilarity]]'s `na`/`nb`, so `sqrt(out[0])` reproduces the
  * norm bit-for-bit), and element j ≥ 1 is the suffix sum Σ_{i ≥ 64j} v_i²
  * (accumulated right-to-left — order-insensitive because suffixes feed
  * only the Cauchy-Schwarz BOUND, never a returned value).
  *
  * Cost model: 2·dim mult-adds ONCE PER VECTOR, amortized over the
  * vector's many candidate-pair appearances in a banded self-join —
  * that amortization is what lets the per-PAIR verify drop from 3·dim
  * fused mult-adds ([[CosineSimilarity]] recomputes both norms per pair)
  * to a lone early-exiting dot. Output length ceil(dim/64): 1 entry at
  * the 64-dim fixture arm (no checkpoints — the bound never fires, the
  * verify degenerates to a plain dot), 6 at the production 384-dim point.
  */
case class VecSufSq(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vec_sufsq"

  private def isFloatArr: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val L = math.max(1, (n + 63) / 64)
    val out = new Array[Double](L)
    var fwd = 0.0
    var i = 0
    while (i < n) {
      val x = if (isFloatArr) a.getFloat(i).toDouble else a.getDouble(i)
      fwd += x * x
      i += 1
    }
    out(0) = fwd
    var s = 0.0
    i = n - 1
    while (i >= 64) {
      val x = if (isFloatArr) a.getFloat(i).toDouble else a.getDouble(i)
      s += x * x
      if ((i & 63) == 0) out(i >> 6) = s
      i -= 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val L = ctx.freshName("L")
      val out = ctx.freshName("out"); val fwd = ctx.freshName("fwd")
      val s = ctx.freshName("s"); val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val get = if (isFloatArr) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |int $L = java.lang.Math.max(1, ($n + 63) / 64);
         |double[] $out = new double[$L];
         |double $fwd = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $get;
         |  $fwd += $x * $x;
         |}
         |$out[0] = $fwd;
         |double $s = 0.0;
         |for (int $i = $n - 1; $i >= 64; $i--) {
         |  double $x = $get;
         |  $s += $x * $x;
         |  if (($i & 63) == 0) $out[$i >> 6] = $s;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Threshold-aware cosine verify with Cauchy-Schwarz early exit — the
  * per-candidate kernel of the banded near-dup verify at high dimension
  * (BASELINE §5's named remedy for the 6× per-candidate FLOP growth at
  * 384-dim vs 64).
  *
  * Returns EXACTLY [[CosineSimilarity]]'s value (same left-to-right
  * double accumulation, same `dot / (sqrt(na)·sqrt(nb))` final form, same
  * 0.0 on a zero norm) for every pair whose cosine is not provably below
  * `pruneBelow`, and the sentinel -2.0 (outside cosine range, fails any
  * ≥-threshold filter) for pairs it abandons. A pair may be abandoned
  * only on proof: at each 64-element checkpoint the remaining dot is
  * bounded by sqrt(suffixA²·suffixB²) (Cauchy-Schwarz, suffix sums
  * precomputed per vector by [[VecSufSq]]); the pair is dropped when
  * `dot + bound < (pruneBelow − 1e-9)·‖a‖‖b‖` — the 1e-9 relative
  * margin dominates the ≤ ~1e-13 relative float error of the bound
  * arithmetic, so any pair whose exact cosine could reach `pruneBelow`
  * always completes the full loop and returns the bit-exact value.
  * Callers therefore set `pruneBelow` at (or just below) their filter
  * threshold — minus the round-half-up allowance when they filter a
  * ROUNDED sim — and the surviving row set and every surviving sim are
  * identical to the [[CosineSimilarity]] plan's: oracle- and
  * digest-exact by construction.
  *
  * Why it pays: candidates × dim multiplications is the verify bill of
  * the RP-LSH banded families. With norms amortized per vector the
  * per-pair cost is the dot alone, and for a sub-threshold candidate the
  * bound proves failure once the remaining energy fraction falls under
  * `pruneBelow − dot_partial` — near-orthogonal 384-dim candidates (the
  * overwhelming majority in every bucket) abandon at ~70% of the dot,
  * on top of the 3→1 mult-per-element cut.
  */
case class CosineSimBounded(vecA: Expression, vecB: Expression,
    sufA: Expression, sufB: Expression, pruneBelow: Double)
  extends Expression {

  override def children: Seq[Expression] = Seq(vecA, vecB, sufA, sufB)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim_bounded"
  override def foldable: Boolean = false

  private def isFloatArr(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a0 = vecA.eval(input); val b0 = vecB.eval(input)
    val sa0 = sufA.eval(input); val sb0 = sufB.eval(input)
    if (a0 == null || b0 == null || sa0 == null || sb0 == null) return null
    val a = a0.asInstanceOf[ArrayData]; val b = b0.asInstanceOf[ArrayData]
    val sa = sa0.asInstanceOf[ArrayData]; val sb = sb0.asInstanceOf[ArrayData]
    // EQUAL-LENGTH PRECONDITION: the full-vector norms come from the
    // suffix checkpoints (sa[0]/sb[0]) while CosineSimilarity computes
    // norms over min(lenA, lenB) elements — the documented bit-equality
    // holds ONLY for uniform-dim pairs, so a mixed-length caller must
    // fail loudly here rather than silently diverge from the cosine_sim
    // plan (every in-repo pipeline guarantees uniform dim upstream via
    // rp_band_keys' own length check).
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException("cosine_sim_bounded: vector " +
        s"lengths differ (${a.numElements()} vs ${b.numElements()}) — " +
        "bit-equality with cosine_sim requires uniform dimension")
    val n = math.min(a.numElements(), b.numElements())
    val naF = sa.getDouble(0); val nbF = sb.getDouble(0)
    if (naF == 0.0 || nbF == 0.0) return 0.0
    val normProd = math.sqrt(naF) * math.sqrt(nbF)
    val t = (pruneBelow - 1e-9) * normProd
    val lim = math.min(sa.numElements(), sb.numElements())
    val aF = isFloatArr(vecA); val bF = isFloatArr(vecB)
    var dot = 0.0; var i = 0
    while (i < n) {
      if (i > 0 && (i & 63) == 0 && (i >> 6) < lim &&
          dot + math.sqrt(sa.getDouble(i >> 6) * sb.getDouble(i >> 6)) < t)
        return -2.0
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      i += 1
    }
    dot / (math.sqrt(naF) * math.sqrt(nbF))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val aC = vecA.genCode(ctx); val bC = vecB.genCode(ctx)
    val saC = sufA.genCode(ctx); val sbC = sufB.genCode(ctx)
    val n = ctx.freshName("n"); val naF = ctx.freshName("naF")
    val nbF = ctx.freshName("nbF"); val t = ctx.freshName("t")
    val lim = ctx.freshName("lim"); val dot = ctx.freshName("dot")
    val i = ctx.freshName("i"); val x = ctx.freshName("x")
    val y = ctx.freshName("y"); val pruned = ctx.freshName("pruned")
    val aGet =
      if (isFloatArr(vecA)) s"(double) ${aC.value}.getFloat($i)"
      else s"${aC.value}.getDouble($i)"
    val bGet =
      if (isFloatArr(vecB)) s"(double) ${bC.value}.getFloat($i)"
      else s"${bC.value}.getDouble($i)"
    val nullChecks = children.zip(Seq(aC, bC, saC, sbC))
      .filter(_._1.nullable).map(_._2.isNull)
    val anyNull = if (nullChecks.isEmpty) "false" else nullChecks.mkString(" || ")
    ev.copy(code = code"""
      |${aC.code}
      |${bC.code}
      |${saC.code}
      |${sbC.code}
      |boolean ${ev.isNull} = $anyNull;
      |double ${ev.value} = -1.0;
      |if (!${ev.isNull}) {
      |  if (${aC.value}.numElements() != ${bC.value}.numElements()) {
      |    throw new IllegalArgumentException(
      |      "cosine_sim_bounded: vector lengths differ (" +
      |      ${aC.value}.numElements() + " vs " + ${bC.value}.numElements() +
      |      ") - bit-equality with cosine_sim requires uniform dimension");
      |  }
      |  int $n = java.lang.Math.min(${aC.value}.numElements(),
      |    ${bC.value}.numElements());
      |  double $naF = ${saC.value}.getDouble(0);
      |  double $nbF = ${sbC.value}.getDouble(0);
      |  if ($naF == 0.0 || $nbF == 0.0) {
      |    ${ev.value} = 0.0;
      |  } else {
      |    double $t = ($pruneBelow - 1e-9) *
      |      (java.lang.Math.sqrt($naF) * java.lang.Math.sqrt($nbF));
      |    int $lim = java.lang.Math.min(${saC.value}.numElements(),
      |      ${sbC.value}.numElements());
      |    double $dot = 0.0;
      |    boolean $pruned = false;
      |    for (int $i = 0; $i < $n; $i++) {
      |      if ($i > 0 && ($i & 63) == 0 && ($i >> 6) < $lim &&
      |          $dot + java.lang.Math.sqrt(${saC.value}.getDouble($i >> 6) *
      |            ${sbC.value}.getDouble($i >> 6)) < $t) {
      |        $pruned = true;
      |        break;
      |      }
      |      double $x = $aGet;
      |      double $y = $bGet;
      |      $dot += $x * $y;
      |    }
      |    ${ev.value} = $pruned ? -2.0
      |      : $dot / (java.lang.Math.sqrt($naF) * java.lang.Math.sqrt($nbF));
      |  }
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vecA = newChildren(0), vecB = newChildren(1),
      sufA = newChildren(2), sufB = newChildren(3))
}

object CosineSimBounded {
  /** Column builder: `vec_sufsq(v)`. */
  def sufSq(v: Column): Column = column(VecSufSq(expression(v)))

  /** Column builder: `cosine_sim_bounded(a, b, sufa, sufb, pruneBelow)`. */
  def of(a: Column, b: Column, sufA: Column, sufB: Column,
      pruneBelow: Double): Column =
    column(CosineSimBounded(expression(a), expression(b), expression(sufA),
      expression(sufB), pruneBelow))
}
