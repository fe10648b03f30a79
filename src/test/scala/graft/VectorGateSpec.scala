package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.VectorOps

/** Hard gate for the one oracle-less query (v5_kmeans_ivf, float-iterative
  * so no DuckDB hash-match is possible): quality vs the brute-force ground
  * truth plus Lloyd's-iteration invariants. Referenced from
  * SparkEntry.rowsOnlyQueries so the driver's rows-only check is not the
  * only signal on v5.
  *
  * The recall floor is pinned just below the measured value at each sf
  * (measured: sf0.001 → 0.9, sf0.01 → 1.0 for the 2-of-8-cell probe; the
  * fixtures are deterministic so these are stable), so a centroid-update or
  * probing regression that halves recall fails the gate rather than sliding
  * under the former lax 0.5 floor.
  */
class VectorGateSpec extends SparkSpec {

  private lazy val e = VectorOps.vecsCheckpointed(spark, sf)

  private def recallAt10(dir: String): Double = {
    val ds = VectorOps.vecsCheckpointed(spark, dir)
    val probe = ds.filter(col("vec_id") === 1).select(col("v").as("p"))
    val brute = ds.crossJoin(broadcast(probe)).filter(col("vec_id") =!= 1)
      .select(col("vec_id"), expr("cosine_sim(v, p)").as("sim"))
      .orderBy(desc("sim"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val ivf = VectorOps.kmeansIvf(spark, dir)
      .collect().map(_.getLong(0)).toSet
    brute.intersect(ivf).size / 10.0
  }

  test("v5 recall@10 vs v1-style brute force meets the pinned floor (sf0.001)") {
    val recall = recallAt10(sf)
    info(s"recall@10 sf0.001 = $recall")
    assert(recall >= 0.85, s"recall@10 $recall below pinned floor 0.85 (measured 0.9)")
  }

  test("v5 recall@10 vs v1-style brute force meets the pinned floor (sf0.01)") {
    val recall = recallAt10("/root/testdata/sf0.01")
    info(s"recall@10 sf0.01 = $recall")
    assert(recall >= 0.95, s"recall@10 $recall below pinned floor 0.95 (measured 1.0)")
  }

  test("auto blocking: candidates stay linear AND high-sim recall holds (x10, both dims)") {
    // The two sides of the AUTO blocking contract, both MEASURED (round
    // 15, after the sign-family fix — VectorOps.mix64 scaladoc):
    //  (a) candidate pairs ∝ n. This is the gate the round-15 bug class
    //      needed: the raw-LCG family's period-7 plane negations capped
    //      key entropy, candidates ran 196-1646× the n²/2^planes math at
    //      ×1000, and NOTHING failed until a full-scale run ground for
    //      hours. Any future family/derivation change that re-correlates
    //      key bits fails here instead.
    //  (b) recall at the v3 GATE band (≥ 0.30 — the operator's own
    //      threshold; the natural fixture has NO ≥0.8 pairs, max base sim
    //      0.60) vs PLANTED ground truth: within-copy cosines replicate
    //      the 2000-vector base corpus exactly (synthDv's shared-rotation
    //      construction) and cross-copy sims sit σ-far below at either
    //      dim, so truth(×10) = 10 × brute-force truth(base) — free and
    //      exact. The dedup-relevant ≥0.8 band is gated SEPARATELY on the
    //      twin-planted fixtures (the next test), where that band exists.
    // Floors pinned just below measured (the v5 discipline). Candidate
    // budget: bucket occupancy at the derived point is the ANCHOR's
    // (n/2^planes tracks 2000/2^4 by construction), so candidates/n ≈
    // bands·anchorOcc/2 ≈ 250 uniform — the cap allows 2× for real-data
    // skew, and the broken family sat 5-50× above it. Recall is over the
    // PLANTED pair set (the base corpus's ≥0.30 pairs, replicated exactly
    // within every copy by synthDv's shared-rotation construction) — the
    // honest AUTO recall at the derived point is LOW by design (the
    // candidates-stay-linear contract trades it away; the pinned 4-plane
    // form keeps the high-recall anchor), so this is a REGRESSION floor,
    // not a quality claim.
    import graft.operators.OperatingPoint
    for ((dir, dim, recallFloor) <- Seq(
        ("target/sfdv_smoke", 64, 0.10),
        ("target/sfdv_smoke384", 384, 0.10))) {
      if (!new java.io.File(s"$dir/embeddings.parquet").exists())
        ScaleFixtures.synthDv(spark, "/root/testdata/sf0.1", dir, copies = 10,
          dim = dim)
      val ds = VectorOps.vecsCheckpointed(spark, dir)
      val n = ds.count()
      val planes = OperatingPoint.rpPlanesPerBand(n, dim)
      assert(planes == 7, s"x10 operating point moved: planes=$planes — " +
        "re-measure the floors before re-pinning")
      val cands = VectorOps.rpBandedCandidateCount(ds, 4, planes, dim)
      val base = ds.filter(col("vec_id") < 1000000L)
      val planted = base.as("a").crossJoin(base.as("x"))
        .filter(col("a.vec_id") < col("x.vec_id"))
        .filter(expr("round(cosine_sim(a.v, x.v), 6)") >= 0.30)
        .select(col("a.vec_id").as("pa"), col("x.vec_id").as("pb"))
        .localCheckpoint()
      val plantedN = planted.count()
      val foundPlanted = VectorOps.nearDupPairsAuto(ds, dim = dim)
        .filter((col("a_id") / 1000000L).cast("long") ===
          (col("b_id") / 1000000L).cast("long"))
        .select((col("a_id") % 1000000L).as("pa"),
          (col("b_id") % 1000000L).as("pb"))
        .join(planted, Seq("pa", "pb")).count()
      val recall = foundPlanted.toDouble / (plantedN * 10.0)
      info(f"dim=$dim: candidates=$cands%,d (${cands.toDouble / n}%.1f·n, " +
        f"cap 500·n); planted recall $foundPlanted%,d / ${plantedN * 10}%,d " +
        f"= $recall%.3f (floor $recallFloor)")
      assert(cands <= 500L * n,
        f"dim=$dim candidates $cands%,d exceed 500·n — key entropy regression?")
      assert(recall >= recallFloor,
        f"dim=$dim planted recall $recall%.3f < pinned floor $recallFloor")
    }
  }

  test("dedup-band (>=0.8) recall floors on the twin-planted fixtures: " +
      "high-sim op holds its target; v3's survey floor pinned (x10, both dims)") {
    // The band production dedup cares about, measured against PLANTED
    // high-sim twins (ScaleFixtures.synthDv twins=true: ~0.82-0.96 cosines,
    // replicated exactly per copy — the band the natural fixture lacks).
    // Floors pinned just below measured (the v5 discipline; r16 recall rows
    // in BASELINE.md):
    //  - nearDupPairsHighSim (target recall 0.9 @ sim 0.8): measured
    //    0.9745 / 0.9764 at dims 64/384 → floor 0.95. This operator's
    //    bands GROW with the corpus (OperatingPoint.rpHighSimBands), so
    //    the floor is scale-stable by construction — the ×1000 rows in
    //    BASELINE §5 confirm.
    //  - nearDupPairsAuto (the candidates-linear survey point): measured
    //    0.8208 / 0.8151 at ×10 → REGRESSION floor 0.78, not a quality
    //    claim — its recall DECAYS with corpus size by construction
    //    (planes grow, bands don't; ~0.15 predicted and measured at
    //    ×1000), which is exactly why the high-sim operator exists.
    for ((dir, dim) <- Seq(("target/sfdvt_smoke", 64),
        ("target/sfdvt_smoke384", 384))) {
      if (!new java.io.File(s"$dir/embeddings.parquet").exists())
        ScaleFixtures.synthDv(spark, "/root/testdata/sf0.1", dir, copies = 10,
          dim = dim, twins = true)
      val ds = VectorOps.vecsCheckpointed(spark, dir)
      val n = ds.count()
      val copies = 10L
      val base = ds.filter(col("vec_id") < 1000000L).localCheckpoint()
      val twins = base.filter(col("vec_id") >= 500000L)
        .select((col("vec_id") - 500000L).as("pa"), col("v").as("tv"))
      val truth = base.join(twins, base("vec_id") === twins("pa"))
        .select(col("pa"), (col("pa") + 500000L).as("pb"),
          expr("round6(cosine_sim(v, tv))").as("ts"))
        .filter(col("ts") >= 0.8).localCheckpoint()
      val planted = truth.count()
      assert(planted > 50, s"twin fixture $dir lost its planted >=0.8 band")
      def recallOf(found: org.apache.spark.sql.DataFrame): Double = {
        val hits = found
          .filter((col("a_id") / 1000000L).cast("long") ===
            (col("b_id") / 1000000L).cast("long"))
          .select((col("a_id") % 1000000L).as("pa"),
            (col("b_id") % 1000000L).as("pb"))
          .join(truth, Seq("pa", "pb")).count()
        hits.toDouble / (planted * copies)
      }
      val hs = recallOf(VectorOps.nearDupPairsHighSim(ds,
        countEstimate = Some(n), dim = dim))
      val v3 = recallOf(VectorOps.nearDupPairsAuto(ds,
        countEstimate = Some(n), dim = dim))
      info(f"dim=$dim planted=$planted x$copies: highSim recall=$hs%.4f " +
        f"(floor 0.95), v3_auto recall=$v3%.4f (regression floor 0.78)")
      assert(hs >= 0.95, f"dim=$dim high-sim >=0.8 recall $hs%.4f < 0.95")
      assert(v3 >= 0.78, f"dim=$dim v3_auto >=0.8 recall $v3%.4f < 0.78")
    }
  }

  test("learned-cell (SemDeDup) blocker: candidates stay linear AND " +
      "dedup-band recall holds on the twin fixtures (x10, both dims)") {
    // The sem family's version of the auto-blocking contract
    // (semDedupPairsAuto): K = n/128 pins ~128-vector cell occupancy, so
    // top-2 membership candidates ≈ 2n²/K = 256·n — same 500·n cap as
    // the RP gate. Recall at the ≥0.8 band vs the planted twins: a twin
    // pair is found iff the two vectors share a top-2 learned cell. NOTE
    // the fixture is ADVERSARIAL for a data-adaptive blocker — the synth
    // corpus is near-uniform random (no cluster structure to learn), so
    // the measured number is the blocker's floor geometry, not its
    // clustered-corpus behavior. Floors pinned just below measured
    // (r16 recall rows, BASELINE.md: >=0.8 recall 0.9189 at dim 64 / 0.9679 at
    // dim 384 — the higher dim blocks BETTER here because top-2 learned
    // cells carry more of the neighborhood when random cosines
    // concentrate near 0).
    import graft.operators.OperatingPoint
    for ((dir, dim, recallFloor) <- Seq(
        ("target/sfdvt_smoke", 64, 0.88),
        ("target/sfdvt_smoke384", 384, 0.93))) {
      if (!new java.io.File(s"$dir/embeddings.parquet").exists())
        ScaleFixtures.synthDv(spark, "/root/testdata/sf0.1", dir, copies = 10,
          dim = dim, twins = true)
      val ds = VectorOps.vecsCheckpointed(spark, dir)
      val n = ds.count()
      val k = OperatingPoint.semDedupCells(n)
      val cands = VectorOps.semDedupCandidateCount(ds, k, 3)
      val base = ds.filter(col("vec_id") < 1000000L).localCheckpoint()
      val twins = base.filter(col("vec_id") >= 500000L)
        .select((col("vec_id") - 500000L).as("pa"), col("v").as("tv"))
      val truth = base.join(twins, base("vec_id") === twins("pa"))
        .select(col("pa"), (col("pa") + 500000L).as("pb"),
          expr("round6(cosine_sim(v, tv))").as("ts"))
        .filter(col("ts") >= 0.8).localCheckpoint()
      val planted = truth.count()
      def recallOf(found: org.apache.spark.sql.DataFrame): Double =
        found
          .filter((col("a_id") / 1000000L).cast("long") ===
            (col("b_id") / 1000000L).cast("long"))
          .select((col("a_id") % 1000000L).as("pa"),
            (col("b_id") % 1000000L).as("pb"))
          .join(truth, Seq("pa", "pb")).count().toDouble / (planted * 10L)
      val recall = recallOf(
        VectorOps.semDedupPairsFlatAuto(ds, countEstimate = Some(n)))
      // the TWO-LEVEL arm (the form the auto operator takes past
      // OperatingPoint.semHierCells — the 100 TB training-cost answer):
      // same planted truth, floored 2pp under flat. At 2 super probes the
      // boundary approximation cost 7pp (0.847 vs 0.919 at dim 64);
      // SuperProbes=4 buys it back at pure rank cost. Candidates gated
      // too: hier membership is still ≤ 2 cells/vector.
      val recallH = recallOf(
        VectorOps.semDedupPairsHierAuto(ds, countEstimate = Some(n)))
      val candsH = VectorOps.semDedupCandidateCount(ds, k, 3, hier = true)
      info(f"dim=$dim K=$k flat: candidates=$cands%,d " +
        f"(${cands.toDouble / n}%.1f·n, cap 500·n), >=0.8 recall " +
        f"$recall%.4f (floor $recallFloor); hier: candidates=$candsH%,d " +
        f"(${candsH.toDouble / n}%.1f·n), recall $recallH%.4f")
      assert(cands <= 500L * n,
        f"dim=$dim sem candidates $cands%,d exceed 500·n")
      assert(recall >= recallFloor,
        f"dim=$dim sem >=0.8 recall $recall%.4f < floor $recallFloor")
      assert(candsH <= 500L * n,
        f"dim=$dim hier candidates $candsH%,d exceed 500·n")
      assert(recallH >= recallFloor - 0.02,
        f"dim=$dim hier >=0.8 recall $recallH%.4f < floor ${recallFloor - 0.02}")
    }
  }

  test("dedupPairsAuto front door: each policy arm equals its direct operator") {
    // the dispatcher adds POLICY, not computation — every arm must be
    // row-identical to calling the underlying operator directly, so the
    // three blockers' oracle/digest/recall evidence transfers verbatim
    def rows(df: DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val n = Some(e.count())
    // recall contract -> the n^rho-band high-sim point
    assert(rows(VectorOps.dedupPairsAuto(e, 0.8, Some(0.9), n)) ==
      rows(VectorOps.nearDupPairsHighSim(e, 0.8, 0.9, threshold = 0.8,
        countEstimate = n)))
    // dedup band, no contract -> the learned-cell blocker
    assert(rows(VectorOps.dedupPairsAuto(e, 0.8, None, n)) ==
      rows(VectorOps.semDedupPairsAuto(e, 0.8, n)))
    // survey band -> the candidates-linear RP point
    assert(rows(VectorOps.dedupPairsAuto(e, 0.3, None, n)) ==
      rows(VectorOps.nearDupPairsAuto(e, 0.3, n)))
  }

  test("embed retention: SemDeDup keep-farthest semantics on a hand-built cluster") {
    // component 7 = {v0 near the mean, v1 near, v2 the outlier}; component
    // 9 = a singleton. The SemDeDup policy keeps the member FARTHEST from
    // the integer-sum mean (min round6 cosine), so v2 is canonical and the
    // singleton keeps itself at sim 1.0.
    import spark.implicits._
    val e = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.9, 0.1)), (2L, Array(0.6, 0.4)),
      (3L, Array(0.0, 1.0)))
      .toDF("vec_id", "v")
    val comps = Seq((0L, 7L), (1L, 7L), (2L, 7L), (3L, 9L))
      .toDF("vec_id", "component")
    val rows = VectorOps.embedRetentionOver(e, comps)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3), r.getLong(4))).toMap
    assert(rows(2)._3 && rows(2)._4 == 2L, s"outlier v2 must be kept: $rows")
    assert(!rows(0)._3 && rows(0)._4 == 2L)
    assert(!rows(1)._3 && rows(1)._4 == 2L)
    assert(rows(3)._3 && rows(3)._4 == 3L && rows(3)._2 == 1.0,
      s"singleton keeps itself at sim 1: ${rows(3)}")
    // the outlier really is the min-sim member
    assert(rows(2)._2 < rows(0)._2 && rows(2)._2 < rows(1)._2)
  }

  test("Lloyd objective is non-increasing across every iteration") {
    def meanSim(iters: Int): Double =
      VectorOps.kmeansAssign(e, VectorOps.kmeansCentroids(e, iters))
        .agg(avg("sim")).collect()(0).getDouble(0)
    val sims = (0 to 3).map(meanSim)
    info(s"mean assignment sim per iteration: ${sims.mkString(" -> ")}")
    // Lloyd's objective (1 - mean assignment sim) must not increase at ANY
    // step, not just end-to-end — a mid-training divergence is a bug even
    // if iteration 3 lands above the seed. Tiny epsilon absorbs float-sum
    // nondeterminism across shuffle orders.
    val eps = 1e-9
    sims.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      assert(b >= a - eps, s"iteration ${i + 1} degraded the objective: $a -> $b")
    }
    // and the first update must strictly improve on the raw-vector seed
    assert(sims(1) > sims(0), s"first iteration did not improve: ${sims(0)} -> ${sims(1)}")
  }

  test("centroid set keeps all K cells alive through training") {
    val cent = VectorOps.kmeansCentroids(e, 3).collect()
    assert(cent.length == 8, s"expected 8 centroids, got ${cent.length}")
    assert(cent.forall(_.getSeq[Double](1).length == 64))
  }

  test("mmr: lambda=1 equals plain top-k; near-dup of a selected result is deferred") {
    // candidates: c1 most relevant, c2 a near-duplicate of c1 with the
    // second-best relevance, c3/c4 distinct directions
    def unit(xs: Double*): Array[Double] = {
      val n = math.sqrt(xs.map(x => x * x).sum)
      xs.map(_ / n).toArray
    }
    val c1 = unit(1.0, 0.02, 0.0)
    val c2 = unit(1.0, 0.00, 0.02) // cos(c1,c2) ≈ 0.999…
    val c3 = unit(0.2, 1.0, 0.0)
    val c4 = unit(0.2, 0.0, 1.0)
    val cands = Seq((1L, c1, 0.95), (2L, c2, 0.94),
      (3L, c3, 0.60), (4L, c4, 0.55))
    // λ=1: pure relevance order, exactly the plain top-k
    val plain = VectorOps.mmrSelect(cands, 3, 1.0).map(_._1)
    assert(plain == Seq(1L, 2L, 3L))
    // λ=0.5: after c1 is selected, c2's redundancy penalty (~0.5·1.0)
    // drops it below the distinct directions — diversity wins
    val diverse = VectorOps.mmrSelect(cands, 3, 0.5).map(_._1)
    assert(diverse.head == 1L && !diverse.tail.take(1).contains(2L),
      s"near-duplicate selected second: $diverse")
    assert(diverse.toSet.subsetOf(Set(1L, 2L, 3L, 4L)) && diverse.size == 3)
    // deterministic
    assert(VectorOps.mmrSelect(cands, 3, 0.5) == VectorOps.mmrSelect(cands, 3, 0.5))
    // the query shape: 10 ranked rows, ranks 1..10, sims within shortlist
    val q = VectorOps.mmrRerank(spark, sf).collect()
    assert(q.length == 10 && q.map(_.getInt(0)).toSeq == (1 to 10))
    assert(q.map(_.getLong(1)).distinct.length == 10)
  }
}
