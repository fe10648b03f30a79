package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** 128-bit random-hyperplane sign sketch — the candidate-gating half of the
  * sketch-gated near-dup ([[graft.operators.VectorOps
  * .nearDupPairsHighSimOver]], the v12 query's core).
  *
  * Why a sketch: a recall target at the dedup band (cos ≥ 0.8) needs the
  * band count to GROW with corpus size (per-band hit rate p^planes falls as
  * planes track log₂ n — the round-15/16 verdict's decay analysis), and at
  * tens of bands the near-dup pipeline can no longer afford to carry the
  * full vector into every band's bucket (≈3 KB × bands per vector of
  * shuffle at 384-dim). The sketch replaces the vector in the banded
  * stream: 128 sign bits in two longs (24 B a row at ANY dimension), with
  * hamming distance h estimating the angle (E[h] = 128·θ/π — the
  * Goemans-Williamson hyperplane identity, public LSH theory). Bucket
  * pairs are gated on h ≤ H ([[SketchHammingGate]]); only gate survivors
  * — output-scale, not candidate-scale — gather their vectors for the
  * exact round6 verify.
  *
  * Sign family: the same splitmix64-avalanche construction as
  * [[graft.operators.VectorOps]] `rpSign` (round 15's fix), in its own
  * plane namespace (offset 2000, like RankDedup's 1000) so sketch bits are
  * independent of every band key. Bit j of word j>>6 is
  * [dot(v, plane_j) > 0] with the plane dot accumulated left-to-right —
  * the exact textual order the DuckDB oracle evaluates, so bits (and hence
  * every gate decision) match the oracle bit-for-bit; the oracle computes
  * the identical gate as a ±1-list dot product (agree − disagree =
  * 128 − 2h ⟹ h ≤ H ⟺ list_dot_product(pmA, pmB) ≥ 128 − 2H).
  */
case class RpSketch(child: Expression, signs: Array[Array[Double]])
  extends UnaryExpression {

  require(signs.length == 128, "rp_sketch is a fixed 128-bit sketch")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rp_sketch"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != signs(0).length)
      throw new IllegalArgumentException(
        s"rp_sketch: vector length ${v.numElements()} != plane dimension ${signs(0).length}")
    val n = signs(0).length
    val words = new Array[Long](2)
    var j = 0
    while (j < 128) {
      var dot = 0.0
      var k = 0
      while (k < n) { dot += signs(j)(k) * v.getDouble(k); k += 1 }
      if (dot > 0.0) words(j >> 6) |= 1L << (j & 63)
      j += 1
    }
    new GenericArrayData(words)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sRef = ctx.addReferenceObj("sketchSigns", signs, "double[][]")
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val words = ctx.freshName("words")
      val j = ctx.freshName("j"); val k = ctx.freshName("k")
      val dot = ctx.freshName("dot")
      s"""
         |if ($c.numElements() != $sRef[0].length) {
         |  throw new IllegalArgumentException("rp_sketch: vector length " +
         |    $c.numElements() + " != plane dimension " + $sRef[0].length);
         |}
         |int $n = $sRef[0].length;
         |long[] $words = new long[2];
         |for (int $j = 0; $j < 128; $j++) {
         |  double $dot = 0.0;
         |  for (int $k = 0; $k < $n; $k++) {
         |    $dot += $sRef[$j][$k] * $c.getDouble($k);
         |  }
         |  if ($dot > 0.0) $words[$j >> 6] |= 1L << ($j & 63);
         |}
         |${ev.value} = new $gad($words);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RpSketch {
  /** Column builder: the sketch of `v` under the given 128-plane sign
    * matrix. */
  def of(v: Column, signs: Array[Array[Double]]): Column =
    column(RpSketch(expression(v), signs))
}

/** Bucket-local SKETCH-GATED pair enumeration: enumerates each bucket's
  * C(m,2) pairs inside the generator, over (id, sketch-word0,
  * sketch-word1) members — 24 B each, dimension-independent — emitting
  * only the (a_id, b_id) pairs whose sketch hamming distance is ≤
  * `maxHamming`. The per-candidate cost is two XOR+popcount
  * (≈ns), so tens of bands stay affordable where vector-carrying buckets
  * would shuffle ≈3 KB × bands per vector. Pairs are normalized
  * (a_id < b_id) and deduped by the caller's distinct before the gather +
  * exact verify. Gate semantics and the false-negative budget live in
  * [[graft.operators.OperatingPoint.sketchMaxHamming]].
  */
case class SketchHammingGate(child: Expression, maxHamming: Int)
  extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("a_id", LongType, nullable = false),
    StructField("b_id", LongType, nullable = false)))

  override def prettyName: String = "sketch_gate_pairs"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr0 = child.eval(input)
    if (arr0 == null) return Nil
    val arr = arr0.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m < 2) return Nil
    if (m > SketchHammingGate.MaxBucket)
      throw new IllegalStateException(s"sketch_gate_pairs: bucket occupancy " +
        s"$m exceeds the skew cap ${SketchHammingGate.MaxBucket} — the " +
        "blocking is not holding candidates linear (raise planes per band / " +
        "re-derive the operating point)")
    val ids = new Array[Long](m)
    val s0 = new Array[Long](m)
    val s1 = new Array[Long](m)
    var i = 0
    while (i < m) {
      val r = arr.getStruct(i, 3)
      ids(i) = r.getLong(0); s0(i) = r.getLong(1); s1(i) = r.getLong(2)
      i += 1
    }
    val h = maxHamming
    new scala.collection.AbstractIterator[InternalRow] {
      private var ii = 0
      private var jj = 1
      private var row: InternalRow = _
      private def advance(): Unit = {
        row = null
        while (row == null && ii < m - 1) {
          if (java.lang.Long.bitCount(s0(ii) ^ s0(jj)) +
              java.lang.Long.bitCount(s1(ii) ^ s1(jj)) <= h) {
            val a = ids(ii); val b = ids(jj)
            row = InternalRow(if (a < b) a else b, if (a < b) b else a)
          }
          jj += 1
          if (jj >= m) { ii += 1; jj = ii + 1 }
        }
      }
      advance()
      override def hasNext: Boolean = row != null
      override def next(): InternalRow = {
        val out = row; advance(); out
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SketchHammingGate {
  /** Skew cap: a bucket past 2^16 members fails LOUDLY with the remedy
    * instead of grinding through C(m,2) pairs in one task. The
    * candidates-linear gate (VectorGateSpec) bounds Σ C(occ,2) at 500·n,
    * under which max occupancy sits orders of magnitude below the cap. */
  val MaxBucket: Int = 1 << 16

  /** Column builder: the generator `sketch_gate_pairs(members,
    * maxHamming)`. */
  def of(members: Column, maxHamming: Int): Column =
    column(SketchHammingGate(expression(members), maxHamming))
}
