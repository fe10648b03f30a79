package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused top-k nearest-centroid rank: for one vector column and a FIXED
  * centroid matrix (driver-collected, K·dim doubles riding the stage's
  * task-binary broadcast), emit `array<struct<csim: double, cid: int>>` —
  * the k best cells by (round6(cosine) DESC, cid ASC), best-first.
  *
  * This is the assignment shape Lloyd/IVF actually wants (MLlib's KMeans
  * does the same: centroids live on the driver between passes and each
  * row ranks them in a tight loop). The former form materialized the rank
  * as DATA — `crossJoin(broadcast(cent))` expanded n·K rows (each
  * carrying the full vector) and re-aggregated them through a
  * heap-aggregate — so every Lloyd pass paid n·K UnsafeRow writes plus an
  * ObjectHashAggregate pass just to compute a per-row argmax
  * (optimization guide §2.3 "shuffle keys, not payloads" applied to an
  * aggregation: don't materialize rank candidates at all). Here the loop
  * runs inside whole-stage codegen via one static call; per row the work
  * is exactly K fused cosine+round6 evaluations and a k-bounded insertion
  * — no expansion, no aggregate, no exchange.
  *
  * BIT-EQUAL contract with the form it replaces (the v5/v13 oracles and
  * every ×N digest ride on this):
  *  - cosine: the same accumulation loop as [[CosineSimilarity]]
  *    (left-to-right doubles, min-length, zero-norm → 0.0);
  *  - rounding: [[Round6.round6]] (the bit-equal fast HALF_UP);
  *  - rank: (csim DESC, cid ASC) with [[java.lang.Double.compare]] —
  *    the same total order `topk_rows(struct(csim, cid), k)` applies
  *    (TypeUtils' double ordering IS Double.compare), ties impossible
  *    past csim because cids are unique;
  *  - output: best-first, exactly `topk_rows`' eval order, so
  *    `element_at(_, 1)` / `explode` call sites are drop-in.
  *
  * Size guard: callers gate on K·dim (see VectorOps.TopCellsMaxDoubles) —
  * the matrix serializes into the task binary, which Spark broadcasts
  * once per stage; beyond the guard the distributed crossJoin+heap form
  * remains the honest plan. */
case class TopCells(child: Expression, k: Int, cids: Array[Int],
    cents: Array[Array[Double]]) extends UnaryExpression {

  require(k >= 1, s"top_cells k=$k must be >= 1")
  require(cids.length == cents.length, "cids/cents length mismatch")

  override def dataType: DataType = ArrayType(TopCells.entryType,
    containsNull = false)
  override def prettyName: String = "top_cells"

  // the kernel reads raw doubles; a float-array child would misread
  // through ArrayData.getDouble, so demand array<double> at analysis
  // (every caller ranks the canonical double-cast `v`)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"top_cells needs array<double>, got ${other.simpleString}")
    }

  override def nullSafeEval(v: Any): Any =
    TopCells.topk(v.asInstanceOf[ArrayData], cids, cents, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("cids", cids, "int[]")
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.functions.TopCells.topk($v, $cidsRef, $centsRef, $k);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // case-class equality falls back to ARRAY REFERENCE identity on
  // cids/cents, so two semantically identical top_cells calls never
  // compared equal and Catalyst canonicalization / common-subexpression
  // reuse could not dedup them — compare contents instead
  override def equals(o: Any): Boolean = o match {
    case t: TopCells => t.k == k && t.child == child &&
      java.util.Arrays.equals(t.cids, cids) &&
      t.cents.length == cents.length &&
      cents.indices.forall(i => java.util.Arrays.equals(t.cents(i), cents(i)))
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(k),
      Integer.valueOf(java.util.Arrays.hashCode(cids)),
      Integer.valueOf(cents.length))
}

object TopCells {
  private[functions] val entryType = StructType(Seq(
    StructField("csim", DoubleType, nullable = false),
    StructField("cid", IntegerType, nullable = false)))

  /** round6(cosine) of an ArrayData row vector against one centroid —
    * the shared rank kernel: the same accumulation loop as
    * [[CosineSimilarity]] (left-to-right doubles, min-length, zero-norm
    * → 0.0), then [[Round6.round6]]. */
  private def cosRound6(v: ArrayData, c: Array[Double]): Double = {
    val n = math.min(v.numElements(), c.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = v.getDouble(i); val y = c(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val raw = if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    Round6.round6(raw)
  }

  /** The kernel (shared by interpreted eval and codegen): K fused
    * cosine+round6 evaluations, k-bounded insertion, best-first output. */
  def topk(v: ArrayData, cids: Array[Int], cents: Array[Array[Double]],
      k: Int): ArrayData = {
    val kept = math.min(k, cents.length)
    // insertion arrays ordered best-first (k is tiny: 1-4 at every caller)
    val simK = new Array[Double](kept)
    val cidK = new Array[Int](kept)
    var filled = 0
    var j = 0
    while (j < cents.length) {
      val csim = cosRound6(v, cents(j))
      val cid = cids(j)
      // rank order: csim DESC (Double.compare — Spark's double ordering),
      // cid ASC; insert iff it beats the current worst or there is room
      if (filled < kept || beats(csim, cid, simK(filled - 1), cidK(filled - 1))) {
        var p = if (filled < kept) filled else kept - 1
        while (p > 0 && beats(csim, cid, simK(p - 1), cidK(p - 1))) {
          simK(p) = simK(p - 1); cidK(p) = cidK(p - 1)
          p -= 1
        }
        simK(p) = csim; cidK(p) = cid
        if (filled < kept) filled += 1
      }
      j += 1
    }
    val out = new Array[Any](filled)
    var r = 0
    while (r < filled) {
      out(r) = InternalRow(simK(r), cidK(r))
      r += 1
    }
    new GenericArrayData(out)
  }

  private[functions] def beats(sim: Double, cid: Int, sim2: Double, cid2: Int): Boolean = {
    val c = java.lang.Double.compare(sim, sim2)
    c > 0 || (c == 0 && cid < cid2)
  }

  /** Plain-array argmax twin of [[topk]] (k=1) for the RDD-hosted Lloyd
    * loop: same cosine accumulation, same [[Round6.round6]], same
    * (csim DESC, cid ASC) policy — returns the winning cid (-1 on an
    * empty matrix). Kept textually parallel to [[topk]] so the two
    * kernels cannot drift silently. */
  def argmax(v: Array[Double], cids: Array[Int],
      cents: Array[Array[Double]]): Int = {
    var bestSim = 0.0; var bestCid = -1; var any = false
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(v.length, c.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val x = v(i); val y = c(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val raw = if (na == 0.0 || nb == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      val csim = Round6.round6(raw)
      if (!any || beats(csim, cids(j), bestSim, bestCid)) {
        bestSim = csim; bestCid = cids(j); any = true
      }
      j += 1
    }
    bestCid
  }

  /** Column builder: `top(vecCol, k, centroids)` with centroids as
    * (cid, components) pairs in any order (ranking is order-independent:
    * the comparator is total). */
  def top(vec: Column, k: Int, centroids: Array[(Int, Array[Double])]): Column =
    column(TopCells(expression(vec), k,
      centroids.map(_._1), centroids.map(_._2)))
}
