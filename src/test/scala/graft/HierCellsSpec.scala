package graft

import org.apache.spark.sql.functions._
import graft.functions.{CosineSimBounded, Round6}
import graft.operators.VectorOps

/** Equality gate for the fused two-level membership
  * (hierCellMembersLocal: RDD-hosted phases B/C + the HierTopCells
  * phase-D rank) against the composed broadcast-join form it replaced
  * (hierCellMembersJoin) — the v13hier/v13_auto ×N digests and the
  * semDedupPairsHier results ride on membership being bit-identical. */
class HierCellsSpec extends SparkSpec {

  import spark.implicits._

  private val rnd = new scala.util.Random(20260818)
  private def randVec(dim: Int): Array[Double] =
    Array.fill(dim)(rnd.nextDouble() * 2 - 1)

  private def frame(n: Int, dim: Int) =
    (0L until n.toLong).map(id => (id, randVec(dim).toSeq))
      .toDF("vec_id", "v").localCheckpoint()

  test("fused == composed membership on random frames (several k, iters)") {
    for ((n, dim, k, iters) <- Seq((300, 8, 8, 2), (500, 16, 37, 3),
        (200, 12, 165, 1))) {
      val e = frame(n, dim)
      val fused = VectorOps.hierCellMembersLocal(e, k, iters)
        .select("vec_id", "cid")
      val composed = VectorOps.hierCellMembersJoin(e, k, iters)
        .select("vec_id", "cid")
      assert(fused.exceptAll(composed).count() == 0 &&
        composed.exceptAll(fused).count() == 0,
        s"hier membership arms differ at n=$n dim=$dim k=$k iters=$iters")
    }
  }

  test("guarded dispatch: beyond-ceiling routes to the join form, under it to the fused rank") {
    val e = frame(120, 8)
    val joined = VectorOps.hierCellMembersGuarded(e, 8, 1, maxDoubles = 1L)
    assert(joined.queryExecution.executedPlan.toString
      .contains("topk_rows"), "forced-join route should plan the heap form")
    val fused = VectorOps.hierCellMembersGuarded(e, 8, 1,
      maxDoubles = VectorOps.HierTopCellsMaxDoubles)
    assert(fused.queryExecution.executedPlan.toString
      .contains("hier_top_cells"), "under-guard route should plan the fused rank")
    assert(fused.select("vec_id", "cid")
      .exceptAll(joined.select("vec_id", "cid")).count() == 0)
  }

  test("empty corpus routes to the join form and yields zero rows") {
    val e = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "v")
    assert(VectorOps.hierCellMembers(e, 8, 2).count() == 0L)
  }

  test("semDedupPairsHierOver is unchanged by the fused arms (pairs, self-joined)") {
    val e = frame(400, 16)
    val pairs = VectorOps.semDedupPairsHierOver(e, 37, 2, 0.30)
      .select("a_id", "b_id", "sim")
    // replay with the composed membership via the guarded seam
    val member = VectorOps.hierCellMembersJoin(e, 37, 2)
      .select(col("vec_id"), col("v"), CosineSimBounded.sufSq(col("v")).as("sfx"),
        col("cid")).localCheckpoint(eager = false)
    val sim = CosineSimBounded.of(col("a.v"), col("x.v"), col("a.sfx"),
      col("x.sfx"), 0.30 - 1e-6)
    val composed = member.as("a").join(member.as("x"),
        col("a.cid") === col("x.cid") && col("a.vec_id") < col("x.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("x.vec_id").as("b_id"),
        Round6.of(sim).as("sim"))
      .filter(col("sim") >= 0.30).distinct()
    assert(pairs.exceptAll(composed).count() == 0 &&
      composed.exceptAll(pairs).count() == 0)
  }
}
