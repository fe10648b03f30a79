package graft

import graft.operators.{DedupOps, OperatingPoint, VectorOps}

/** Pins the corpus-size → operating-point derivation (the executable form
  * of BASELINE.md's scale rule) and proves the AUTO library entrypoints
  * reduce to the pinned oracle configs at the fixture anchor sizes — so the
  * auto path is hash-equivalent to the oracle-gated queries exactly where
  * the oracle can check it. */
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

  test("ivf cells: K ~ 16*sqrt(n/2000), floored and capped") {
    assert(OperatingPoint.ivfCells(100) == 8)      // floor
    assert(OperatingPoint.ivfCells(2000) == 16)    // anchor
    assert(OperatingPoint.ivfCells(20000) == 51)   // 10x ~ the probed K=50
    assert(OperatingPoint.ivfCells(200000) == 160)
    assert(OperatingPoint.ivfCells(2000L << 40) == (1 << 20)) // ceiling
  }

  test("semdedup cells: K = n/128 blocking grain, floored and capped") {
    assert(OperatingPoint.semDedupCells(100) == 8)        // floor
    assert(OperatingPoint.semDedupCells(2000) == 15)
    assert(OperatingPoint.semDedupCells(21180) == 165)    // the x10 gate's K
    assert(OperatingPoint.semDedupCells(2118000) == 16546) // x1000
    assert(OperatingPoint.semDedupCells(Long.MaxValue / 2) == (1 << 20)) // cap, no overflow
  }

  test("semdedup occupancy dial: K = n/c, candidates ~ 2c·n, gate-capped") {
    // the COST dial (BASELINE §5 occupancy rows): the ×10 sweep measured
    // recall FLAT in c at dim 64 and DECREASING at dim 384, so finer is
    // cheaper at equal-or-better recall; ceiling 240 because the measured
    // bill (~2c·n + top-2 spill) crosses the family's 500·n gate at
    // c=250 (measured 504-508·n)
    assert(OperatingPoint.semDedupCells(21180, 64) == 330)  // finer, cheaper
    assert(OperatingPoint.semDedupCells(21180, 128) == 165) // == default
    assert(OperatingPoint.semDedupCells(21180, 192) == 110)
    assert(OperatingPoint.semDedupCells(21180, 240) == 88)  // gate ceiling
    intercept[IllegalArgumentException] {
      OperatingPoint.semDedupCells(21180, 250) // measured 504·n: over gate
    }
    intercept[IllegalArgumentException] {
      OperatingPoint.semDedupCells(21180, 4) // below the floor
    }
  }

  test("dedup blocker policy: recall contract > sim band > survey") {
    // the three measured scale laws as a dispatch table (BASELINE §5 r16)
    assert(OperatingPoint.dedupBlocker(0.8, Some(0.9)) == "rp-highsim")
    assert(OperatingPoint.dedupBlocker(0.3, Some(0.9)) == "rp-highsim")
    assert(OperatingPoint.dedupBlocker(0.8, None) == "sem")
    assert(OperatingPoint.dedupBlocker(0.7, None) == "sem")
    assert(OperatingPoint.dedupBlocker(0.69, None) == "rp-survey")
    assert(OperatingPoint.dedupBlocker(0.3, None) == "rp-survey")
    intercept[IllegalArgumentException] {
      OperatingPoint.dedupBlocker(1.0, None)
    }
    intercept[IllegalArgumentException] {
      OperatingPoint.dedupBlocker(0.8, Some(1.0))
    }
  }

  test("simhash chunk bits: 8@5300 anchor, 60-bit fingerprint ceiling") {
    assert(OperatingPoint.simhashChunkBits(530) == 8)
    assert(OperatingPoint.simhashChunkBits(5300) == 8)
    assert(OperatingPoint.simhashChunkBits(53000) == 10) // clamped from 11
    assert(OperatingPoint.simhashChunkBits(5300L << 20) == 10)
  }

  test("wide simhash chunk bits: same rule, two-word 21-bit ceiling") {
    assert(OperatingPoint.simhashChunkBitsWide(5300) == 8)   // anchor
    assert(OperatingPoint.simhashChunkBitsWide(53000) == 11) // past the old cap
    assert(OperatingPoint.simhashChunkBitsWide(5300000) == 18) // sixth decade
    assert(OperatingPoint.simhashChunkBitsWide(5300L << 40) == 21) // ceiling
    // the wide rule equals the narrow rule wherever the narrow cap allows
    (1L to 9L).map(i => i * 2000).foreach { n =>
      assert(OperatingPoint.simhashChunkBitsWide(n) ==
        OperatingPoint.simhashChunkBits(n), s"n=$n")
    }
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
    mono(OperatingPoint.ivfCells)
    mono(OperatingPoint.semDedupCells(_))
    mono(OperatingPoint.simhashChunkBits)
    mono(OperatingPoint.clusterIndexParts)
    mono(OperatingPoint.bandIndexBuckets)
  }

  test("auto near-dup == pinned oracle query at the anchor-regime fixture") {
    // sf0.001 embeddings: n=500 -> auto picks planes=4, the pinned config,
    // so the result sets must be identical row-for-row.
    val pinned = SparkEntry.queries("v3_neardup_embeddings")(spark, sf)
      .collect().map(_.toSeq).toSet
    val e = Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val auto = VectorOps.nearDupPairsAuto(e).collect().map(_.toSeq).toSet
    assert(auto == pinned)
    assert(auto.nonEmpty)
  }

  test("auto simhash pairs == pinned oracle query at the anchor regime") {
    val pinned = SparkEntry.queries("dd6_simhash_pairs")(spark, sf)
      .collect().map(_.toSeq).toSet
    val auto = DedupOps.simhashPairsAutoQ(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(auto == pinned)
    assert(auto.nonEmpty)
  }

  test("auto near-dup pins sort-merge above the broadcast-size threshold") {
    // below threshold (the anchor fixture): planner's choice, no hint
    assert(!OperatingPoint.preferShuffleJoin(500, 4, 64))
    // above: the banded side outgrows a broadcast build (SkewProbe measured
    // broadcast 20.4s vs sort-merge 2.2-3.6s at 10x — BASELINE.md §skew)
    assert(OperatingPoint.preferShuffleJoin(20000, 2, 64))
    val e = Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    // the countEstimate, not the actual fixture size, drives the strategy —
    // so the at-scale plan shape is assertable on the small fixture
    val big = VectorOps.nearDupPairsAuto(e, countEstimate = Some(100000L))
    val plan = big.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
    val small = VectorOps.nearDupPairsAuto(e, countEstimate = Some(500L))
    assert(!small.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
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
    // and the upsert-level derivation picks the strategy from the estimate
    assert(OperatingPoint.preferShuffleJoin(100000L, 8, 64))
    assert(graft.operators.RankDedup.upsert(store, cand,
      storeCountEstimate = Some(100000L)).count() >= 0) // executes end-to-end
  }

  test("auto knn join returns full k-NN shape at derived K") {
    import org.apache.spark.sql.functions.col
    val e = Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val out = VectorOps.knnJoinAuto(e, countEstimate = Some(500L))
    // every query vector gets up to 3 neighbors; rk bounded
    assert(out.groupBy("a_id").count().filter(col("count") > 3).count() == 0)
    assert(out.count() > 0)
  }

  test("h1 knobs: grain-anchored floor and link multiplier") {
    // word floor: paragraph-grain corpora hold the jusText-style 5; one
    // word per doubling of the median block above the anchor (16 words)
    assert(OperatingPoint.h1MinWords(16L) == 5)
    assert(OperatingPoint.h1MinWords(8L) == 5)   // below anchor: floor
    assert(OperatingPoint.h1MinWords(32L) == 6)
    assert(OperatingPoint.h1MinWords(256L) == 9) // book-grain blocks
    assert(OperatingPoint.h1MinWords(1L << 40) == 20) // ceiling
    // link multiplier: anchor ~64 anchor tags per kiloword of block text
    // at mult 3; link-dense corpora loosen, link-sparse tighten
    assert(OperatingPoint.h1LinkDensityMult(64L) == 3)
    assert(OperatingPoint.h1LinkDensityMult(128L) == 2)
    assert(OperatingPoint.h1LinkDensityMult(32L) == 4)
    assert(OperatingPoint.h1LinkDensityMult(8L) == 6)
    assert(OperatingPoint.h1LinkDensityMult(1L) == 6)    // clamp high
    assert(OperatingPoint.h1LinkDensityMult(100000L) == 2) // clamp low
  }

  test("h1 auto derives the pinned anchor knobs on the fixture corpus") {
    import org.apache.spark.sql.functions.{col, expr}
    import graft.operators.TextOps
    val html = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        expr(TextOps.htmlFixture("cast(doc_id as string)")).as("html"))
    // the measured fixture profile sits at the anchor point, so the
    // derivation returns exactly the pinned (5, 3) — which is what keeps
    // the oracle-gated h1/h2 output unchanged under auto
    val (medianNw, apk) = TextOps.h1Profile(html)
    assert(OperatingPoint.h1MinWords(medianNw) == 5, s"median=$medianNw")
    assert(OperatingPoint.h1LinkDensityMult(apk) == 3, s"apk=$apk")
    val auto = TextOps.htmlExtractAuto(html).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    val pinned = TextOps.htmlExtract(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(auto == pinned && auto.nonEmpty)
  }
}
