package graft

import graft.operators.OperatingPoint

/** Pins the corpus-size → operating-point derivation (the executable form
  * of BASELINE.md's scale rule) and the size-selected join strategy of
  * the rank-upsert sim-join. */
class OperatingPointSpec extends SparkSpec {

  test("rp planes: +1 bit per corpus doubling over the 4@2000 anchor") {
    assert(OperatingPoint.rpPlanesPerBand(500) == 4)   // below anchor: base
    assert(OperatingPoint.rpPlanesPerBand(2000) == 4)  // anchor
    assert(OperatingPoint.rpPlanesPerBand(4000) == 5)
    assert(OperatingPoint.rpPlanesPerBand(20000) == 7) // 10x: round(log2 10)=3
    assert(OperatingPoint.rpPlanesPerBand(200000) == 11)
    assert(OperatingPoint.rpPlanesPerBand(2000L << 40) == 24) // ceiling
    // dim adds NO bits since r15: the r14 dim surcharge was fit to the
    // raw-LCG sign family whose period-7 plane negations broke the bucket
    // math (see rpPlanesPerBand scaladoc + VectorOps.mix64); under the
    // mixed family candidates truly halve per plane at any dim, and the
    // per-candidate dot is round6/early-exit cheap
    assert(OperatingPoint.rpPlanesPerBand(2000, 64) == 4)    // anchors
    assert(OperatingPoint.rpPlanesPerBand(20000, 384) == 7)  // == 64-dim point
    assert(OperatingPoint.rpPlanesPerBand(2000000L, 64) == 14)  // the x1000 run
    assert(OperatingPoint.rpPlanesPerBand(2000000L, 384) == 14) // its 384 sibling
  }

  test("surprisal keep ceiling: fixture median reproduces the 7.0 literal") {
    // t13/c5 pin the keep ceiling at average surprisal 7.0, calibrated as
    // ~2.06x the sf0.1 fixture's median (3.402214): recompute that median
    // with the shipped scoring so the pin cannot drift from its reason
    val sf01 = new java.io.File(sf).getParent + "/sf0.1"
    val scored = graft.operators.TextOps.perplexityFilter(spark, sf01)
      .select("avg_surprisal", "keep").collect()
      .map(r => (r.getDouble(0), r.getBoolean(1)))
    val avg = scored.map(_._1).sorted
    val median = avg((avg.length - 1) / 2)
    assert(median == 3.402214, s"fixture median surprisal $median over ${avg.length} docs")
    assert(math.abs(7.0 / median - 2.06) < 0.005, s"ceiling/median ${7.0 / median}")
    // keep is exactly the pinned cut
    assert(scored.forall { case (a, k) => k == (a <= 7.0) })
  }

  test("derivations are monotonic in corpus size") {
    val ns = Seq(1L, 10L, 100L, 1000L, 10000L, 100000L, 1000000L, 100000000L)
    def mono(f: Long => Int) =
      ns.zip(ns.tail).foreach { case (a, b) => assert(f(a) <= f(b)) }
    mono(OperatingPoint.rpPlanesPerBand(_))
    mono(OperatingPoint.rpPlanesPerBand(_, 384))
  }

  test("auto rank-upsert pins sort-merge on the sim-join at scale estimates") {
    import org.apache.spark.sql.functions.col
    val e = Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val store = e.select(col("vec_id").as("id"), col("v"),
      (col("vec_id") % 11).as("rank"))
    val cand = store.limit(20).select((col("id") + 10000).as("id"),
      col("v"), col("rank"))
    // assert on the pre-checkpoint sim-join itself — the final upsert
    // frame's executedPlan hides it behind the localCheckpoint boundary
    val big = graft.operators.RankDedup.bandedMatches(store, cand,
      dim = 64, planes = 7, forceShuffle = true)
    val bigPlan = big.queryExecution.executedPlan.toString
    assert(bigPlan.contains("SortMergeJoin"), bigPlan)
    assert(!bigPlan.contains("BroadcastHashJoin"), bigPlan)
    val small = graft.operators.RankDedup.bandedMatches(store, cand,
      dim = 64, planes = 4, forceShuffle = false)
    assert(!small.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    // and the upsert-level derivation picks the strategy from the estimate:
    // below the threshold (the anchor fixture) the planner's choice, above
    // it the banded side outgrows a broadcast build (measured broadcast
    // 20.4s vs sort-merge 2.2-3.6s at 10x — BASELINE.md §skew)
    assert(!OperatingPoint.preferShuffleJoin(500, 4, 64))
    assert(OperatingPoint.preferShuffleJoin(20000, 2, 64))
    assert(OperatingPoint.preferShuffleJoin(100000L, 8, 64))
    assert(graft.operators.RankDedup.upsert(store, cand,
      storeCountEstimate = Some(100000L)).count() >= 0) // executes end-to-end
  }
}
