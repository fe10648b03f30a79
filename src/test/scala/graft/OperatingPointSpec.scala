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
    assert(OperatingPoint.surprisalKeepMicro(3402214L) == 7000000L) // anchor
    // proportional in the corpus base rate: +ln 1000 per word (the x1000
    // disjoint-vocab shift) moves the ceiling past the shifted median
    val shifted = 3402214L + 6907755L // + ln(1000) * 1e6
    assert(OperatingPoint.surprisalKeepMicro(shifted) > shifted)
    intercept[IllegalArgumentException](OperatingPoint.surprisalKeepMicro(0))
  }

  test("pq codebook size: doubles with corpus, >=64 points/centroid, cap 256") {
    assert(OperatingPoint.pqCodebookSize(200) == 16)     // floor
    assert(OperatingPoint.pqCodebookSize(2000) == 16)    // anchor
    assert(OperatingPoint.pqCodebookSize(5000) == 32)
    assert(OperatingPoint.pqCodebookSize(20000) == 128)
    assert(OperatingPoint.pqCodebookSize(200000) == 256) // byte-code ceiling
    // the training-density guard: growth can never outrun 64 points/code
    assert(OperatingPoint.pqCodebookSize(8000) <= 8000 / 64)
    // 100 TB regime: an uncapped 16<<extraBits wraps Int past n≈2.7e11
    // and would collapse the derivation to the FLOOR at exactly the scale
    // the ceiling exists for
    assert(OperatingPoint.pqCodebookSize(300000000000L) == 256)
    assert(OperatingPoint.pqCodebookSize(Long.MaxValue / 2) == 256)
  }

  test("cluster index parts: ~1k docs/bucket in pow2 steps, floor 64, cap 64k") {
    assert(OperatingPoint.clusterIndexParts(530) == 64)     // fixture floor
    assert(OperatingPoint.clusterIndexParts(65536) == 64)   // 64k docs = 64 buckets
    assert(OperatingPoint.clusterIndexParts(100000) == 128) // pow2Ceil(97)
    assert(OperatingPoint.clusterIndexParts(1000000) == 1024)
    assert(OperatingPoint.clusterIndexParts(10000000000L) == 65536) // cap
  }

  test("shuffle shards: ~64k docs/shard in pow2 steps, floor 8, cap 64k") {
    assert(OperatingPoint.shuffleShards(500) == 8)        // fixture floor
    assert(OperatingPoint.shuffleShards(524288) == 8)     // 8 * 64k docs
    assert(OperatingPoint.shuffleShards(1000000) == 16)   // pow2Ceil(15)
    assert(OperatingPoint.shuffleShards(100000000) == 2048)
    assert(OperatingPoint.shuffleShards(100000000000L) == 65536) // cap
  }

  test("band index buckets: same growth target, floor 16, cap 4096") {
    assert(OperatingPoint.bandIndexBuckets(530) == 16)      // fixture floor
    assert(OperatingPoint.bandIndexBuckets(100000) == 128)
    assert(OperatingPoint.bandIndexBuckets(10000000000L) == 4096) // cap =
    // the bound on the probe's driver-side distinct-bkb collect
  }

  test("derivations are monotonic in corpus size") {
    val ns = Seq(1L, 10L, 100L, 1000L, 10000L, 100000L, 1000000L, 100000000L)
    def mono(f: Long => Int) =
      ns.zip(ns.tail).foreach { case (a, b) => assert(f(a) <= f(b)) }
    mono(OperatingPoint.rpPlanesPerBand(_))
    mono(OperatingPoint.rpPlanesPerBand(_, 384))
    mono(OperatingPoint.clusterIndexParts)
    mono(OperatingPoint.bandIndexBuckets)
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
