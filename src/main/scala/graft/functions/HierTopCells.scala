package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused two-level (hierarchical k-means) top-k membership rank: for one
  * vector column and a FIXED two-level centroid structure (driver-hosted
  * super matrix + per-super local matrices, riding the stage's
  * task-binary broadcast like [[TopCells]]), emit
  * `array<struct<csim: double, cid: int>>` — the k best COMPOSITE cells
  * (cid = sup·kl + lc) over the top-`probes` supers' locals, by
  * (round6(cosine) DESC, cid ASC), best-first.
  *
  * This fuses hierCellMembers' former phase D, which materialized the
  * rank as DATA twice per vector: an n·K₁ `crossJoin(broadcast(sup))` +
  * heap aggregate to pick the probed supers, then an `explode` +
  * broadcast join against the local-centroid frame (n·probes·Kl
  * expansion rows, each carrying the full vector) + a second heap
  * aggregate — two exchanges and two ObjectHashAggregate passes around
  * what is per row a pure rank (guide §2.3/§4, the same treatment
  * [[TopCells]] gave the flat path). Here per row the work is exactly
  * K₁ + Σ(probed Kl) fused cosine+round6 evaluations and two bounded
  * insertions — no expansion, no join, no aggregate, no exchange.
  *
  * BIT-EQUAL contract with the composed form (HierCellsSpec pins it,
  * and the ×N digests of the v13hier/v13_auto sweeps ride on it):
  *  - cosine+rounding: [[TopCells.cosRound6]], the shared kernel;
  *  - super probe: top-`probes` by (csim DESC, sup ASC) — exactly
  *    `topk_rows(struct(csim, sup), probes)`;
  *  - local candidates: the probed supers' CURRENT locals — a probed
  *    super absent from the trained structure contributes nothing
  *    (the composed form's inner join dropped it);
  *  - final rank: top-k by (csim DESC, cid ASC) over composite cids —
  *    exactly `topk_rows(struct(csim, cid), k)`;
  *  - output: best-first, so `explode` call sites are drop-in.
  *
  * Locals are passed as arrays PARALLEL to supCids (locCids(j) are the
  * local ids of super supCids(j)) — plain int[][]/double[][][] reference
  * objects, no hash lookup in the row loop.
  *
  * Size guard: callers gate on (K₁ + K)·dim
  * (VectorOps.HierTopCellsMaxDoubles) — the structure serializes into
  * the task binary, the same bytes the composed form's
  * broadcast(loc) shipped; beyond the guard the composed join form
  * remains the honest plan. */
case class HierTopCells(child: Expression, probes: Int, k: Int, kl: Int,
    supCids: Array[Int], supCents: Array[Array[Double]],
    locCids: Array[Array[Int]], locCents: Array[Array[Array[Double]]])
  extends UnaryExpression {

  require(probes >= 1 && k >= 1 && kl >= 1)
  require(supCids.length == supCents.length &&
    supCids.length == locCids.length && supCids.length == locCents.length,
    "parallel super/local arrays length mismatch")

  override def dataType: DataType = ArrayType(TopCells.entryType,
    containsNull = false)
  override def prettyName: String = "hier_top_cells"

  // raw-double kernel: demand array<double> at analysis (same as TopCells)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hier_top_cells needs array<double>, got ${other.simpleString}")
    }

  override def nullSafeEval(v: Any): Any =
    HierTopCells.topkHier(v.asInstanceOf[ArrayData], probes, k, kl,
      supCids, supCents, locCids, locCents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val supCidsRef = ctx.addReferenceObj("supCids", supCids, "int[]")
    val supCentsRef = ctx.addReferenceObj("supCents", supCents, "double[][]")
    val locCidsRef = ctx.addReferenceObj("locCids", locCids, "int[][]")
    val locCentsRef = ctx.addReferenceObj("locCents", locCents, "double[][][]")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.functions.HierTopCells.topkHier($v, $probes,
         |  $k, $kl, $supCidsRef, $supCentsRef, $locCidsRef, $locCentsRef);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // content equality (the TopCells lesson: array fields default to
  // reference identity, defeating Catalyst canonicalization)
  override def equals(o: Any): Boolean = o match {
    case t: HierTopCells => t.probes == probes && t.k == k && t.kl == kl &&
      t.child == child && java.util.Arrays.equals(t.supCids, supCids) &&
      t.supCents.length == supCents.length &&
      supCents.indices.forall(i =>
        java.util.Arrays.equals(t.supCents(i), supCents(i))) &&
      locCids.indices.forall(i =>
        java.util.Arrays.equals(t.locCids(i), locCids(i))) &&
      locCents.indices.forall(i => t.locCents(i).length == locCents(i).length &&
        locCents(i).indices.forall(l =>
          java.util.Arrays.equals(t.locCents(i)(l), locCents(i)(l))))
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(probes),
      Integer.valueOf(k), Integer.valueOf(kl),
      Integer.valueOf(java.util.Arrays.hashCode(supCids)))
}

object HierTopCells {

  /** The kernel (interpreted eval + codegen; NOT named `eval` — see
    * ShingleHashes.evalHashes on static-forwarder suppression): rank the
    * supers, then one bounded insertion pass over the probed supers'
    * locals. */
  def topkHier(v: ArrayData, probes: Int, k: Int, kl: Int,
      supCids: Array[Int], supCents: Array[Array[Double]],
      locCids: Array[Array[Int]], locCents: Array[Array[Array[Double]]])
      : ArrayData = {
    // --- super probe: top-`probes` INDICES by (csim DESC, supCid ASC),
    // the exact topk_rows(struct(csim, sup), probes) policy
    val pKept = math.min(probes, supCents.length)
    val pSim = new Array[Double](pKept)
    val pIdx = new Array[Int](pKept)
    var pFilled = 0
    var j = 0
    while (j < supCents.length) {
      val csim = TopCells.cosRound6(v, supCents(j))
      val cid = supCids(j)
      if (pFilled < pKept ||
          TopCells.beats(csim, cid, pSim(pFilled - 1), supCids(pIdx(pFilled - 1)))) {
        var p = if (pFilled < pKept) pFilled else pKept - 1
        while (p > 0 && TopCells.beats(csim, cid, pSim(p - 1), supCids(pIdx(p - 1)))) {
          pSim(p) = pSim(p - 1); pIdx(p) = pIdx(p - 1)
          p -= 1
        }
        pSim(p) = csim; pIdx(p) = j
        if (pFilled < pKept) pFilled += 1
      }
      j += 1
    }
    // --- composite rank over the probed supers' locals: top-k by
    // (csim DESC, cid ASC) — the exact topk_rows(struct(csim, cid), k)
    val kept = k // locals may number fewer; filled tracks reality
    val simK = new Array[Double](kept)
    val cidK = new Array[Int](kept)
    var filled = 0
    var s = 0
    while (s < pFilled) {
      val si = pIdx(s)
      val lcs = locCents(si); val lids = locCids(si)
      val supBase = supCids(si) * kl
      var l = 0
      while (l < lcs.length) {
        val csim = TopCells.cosRound6(v, lcs(l))
        val cid = supBase + lids(l)
        if (filled < kept ||
            TopCells.beats(csim, cid, simK(filled - 1), cidK(filled - 1))) {
          var p = if (filled < kept) filled else kept - 1
          while (p > 0 && TopCells.beats(csim, cid, simK(p - 1), cidK(p - 1))) {
            simK(p) = simK(p - 1); cidK(p) = cidK(p - 1)
            p -= 1
          }
          simK(p) = csim; cidK(p) = cid
          if (filled < kept) filled += 1
        }
        l += 1
      }
      s += 1
    }
    val out = new Array[Any](filled)
    var r = 0
    while (r < filled) {
      out(r) = InternalRow(simK(r), cidK(r))
      r += 1
    }
    new GenericArrayData(out)
  }

  /** Column builder (the TopCells pattern). */
  def top(vec: Column, probes: Int, k: Int, kl: Int,
      sup: Array[(Int, Array[Double])],
      locs: Array[(Array[Int], Array[Array[Double]])]): Column =
    column(HierTopCells(expression(vec), probes, k, kl,
      sup.map(_._1), sup.map(_._2), locs.map(_._1), locs.map(_._2)))
}
