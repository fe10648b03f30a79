package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Bit-equal fast `round(x, 6)` for doubles — the per-candidate constant
  * killer (round 15).
  *
  * Why: Spark's `Round` on a DOUBLE routes EVERY row through
  * `BigDecimal.valueOf(x)` = `new BigDecimal(Double.toString(x))` —
  * a shortest-decimal-repr conversion (FloatingDecimal) plus a BigInteger
  * parse plus a scaled BigDecimal divide, ~1 µs with allocation. In the
  * banded near-dup verify and the KNN rank stages that cost lands once
  * per CANDIDATE, and jstack profiles of the ×1000×384 run showed ~half
  * of all executor samples inside FloatingDecimal/BigDecimal — the round,
  * not the dot, was the per-candidate bottleneck.
  *
  * The fast path is pure double arithmetic: `r = floor(|x|·1e6 + 0.5)`,
  * result `copysign(r / 1e6, x)` (exact: 1e6 is integer-exact, division
  * and the decimal→double conversion both round-to-nearest the same real
  * value). It is PROVABLY equal to Spark's string-path rounding whenever
  * the scaled value is at least 1e-6 away from a .5 boundary: the decimal
  * value of the shortest repr differs from `|x|·1e6` by ≤ ~2 ulp
  * (≤ 3e-8 for |x| ≤ 100), so both sit on the same side of the boundary
  * and round identically. Inside the 1e-6 guard band — probability ~2e-6
  * for continuous data — and for |x| > 100 (where the scaled double's
  * ulp approaches the band) or non-finite inputs, it falls back to the
  * EXACT Spark arithmetic (`BigDecimal.valueOf(...).setScale(6,
  * HALF_UP)`), so equality holds on EVERY input, boundary cases included
  * (Round6Spec drives exact boundary doubles, their ulp neighbours, and
  * a generative sweep through Spark's own `round`).
  *
  * Behavioral mirror (verified against Spark 4.1.2): NaN/±Inf pass
  * through; results that round to zero return POSITIVE 0.0 regardless of
  * input sign (BigDecimal has no signed zero); HALF_UP is away-from-zero.
  */
case class Round6(child: Expression) extends UnaryExpression
  with ImplicitCastInputTypes {

  // analysis-time: demand a double (int/float/decimal inputs get an
  // implicit cast, mirroring Spark's round; without this, interpreted
  // eval threw ClassCastException where codegen silently widened — the
  // two execution paths diverged on non-double inputs)
  override def inputTypes = Seq(DoubleType)

  override def dataType: DataType = DoubleType
  override def prettyName: String = "round6"

  override def nullSafeEval(v: Any): Any =
    Round6.round6(v.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val ax = ctx.freshName("ax"); val s = ctx.freshName("s")
      val d = ctx.freshName("d"); val r = ctx.freshName("r")
      s"""
         |double $ax = java.lang.Math.abs($v);
         |if ($ax <= 100.0) {
         |  double $s = $ax * 1.0E6;
         |  double $d = $s - java.lang.Math.floor($s);
         |  if (java.lang.Math.abs($d - 0.5) <= 1.0E-6) {
         |    ${ev.value} = graft.functions.Round6.exact($v);
         |  } else {
         |    double $r = java.lang.Math.floor($s + 0.5);
         |    ${ev.value} = ($r == 0.0) ? 0.0
         |      : java.lang.Math.copySign($r / 1.0E6, $v);
         |  }
         |} else {
         |  ${ev.value} = graft.functions.Round6.exact($v);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Round6 {
  /** Spark's exact arithmetic (the fallback; also handles non-finite). */
  def exact(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The full fast-path-with-fallback kernel (mirrors the codegen). */
  def round6(x: Double): Double = {
    val ax = math.abs(x)
    if (ax <= 100.0) {
      val s = ax * 1.0e6
      val d = s - math.floor(s)
      if (math.abs(d - 0.5) <= 1.0e-6) exact(x)
      else {
        val r = math.floor(s + 0.5)
        if (r == 0.0) 0.0 else math.copySign(r / 1.0e6, x)
      }
    } else exact(x)
  }

  /** Column builder: `round6(x)`. */
  def of(x: Column): Column = column(Round6(expression(x)))

  /** Bit-equal replication of the integer-sum mean's per-element scaling,
    * `CAST(round(x * 1e8, 0) AS BIGINT)`, for the driver-hosted Lloyd loop
    * (VectorOps.kmeansCentroidsLocal): Spark's Round on a double is
    * `BigDecimal.valueOf(s).setScale(0, HALF_UP).doubleValue()` and the
    * bigint cast truncates toward zero. Fast path mirrors [[round6]]'s
    * guard-band argument at scale 0: for |s| ≤ 1e9 (ulp ≈ 1.2e-7, so the
    * shortest-decimal repr sits within 6e-8 of s — ≥ 8× inside the 1e-6
    * band) the away-from-zero `floor(|s| + 0.5)` is provably the same
    * integer; near a .5 boundary or beyond 1e9 it falls back to the exact
    * BigDecimal arithmetic (Round6Spec drives the equality generatively
    * and at the boundaries). */
  def microLong(x: Double): Long = {
    val s = x * 1.0e8
    val as = math.abs(s)
    if (as <= 1.0e9) {
      val d = as - math.floor(as)
      if (math.abs(d - 0.5) <= 1.0e-6) exactMicro(s)
      else {
        val r = math.floor(as + 0.5)
        (if (s < 0) -r else r).toLong
      }
    } else exactMicro(s)
  }

  private def exactMicro(s: Double): Long =
    if (java.lang.Double.isNaN(s) || java.lang.Double.isInfinite(s)) s.toLong
    else java.math.BigDecimal.valueOf(s)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
}
