package graft.operators

/** Corpus-size-derived operating points.
  *
  * A bucketed index-then-verify operator has a knob that must grow with
  * the corpus or candidate work goes quadratic. RP-LSH banding (the
  * [[RankDedup.upsert]] default): candidate pairs per band ∝ n²/2^planes,
  * so holding per-bucket occupancy constant needs
  * `planes += log2(corpus growth)` — measured at 10× (fixed 4-bit config:
  * 63-71× work at 10× data; scaled config: ~linear).
  *
  * Anchors are the measured sf0.1 fixture points (n≈2000 embeddings)
  * where the pinned configs are known-good; derived points were validated
  * against the hand-scaled 10× rows of BASELINE.md §5.
  *
  * The oracle-gated queries in SparkEntry deliberately do NOT use these —
  * they pin fixture constants so the DuckDB oracle (static SQL text) can
  * mirror the exact blocking structure.
  */
object OperatingPoint {

  /** Extra bits over the anchor so 2^bits tracks n: one bit per
    * doubling, rounded. Never negative — below the anchor the base config
    * is already sparse enough. */
  private def extraBits(n: Long, anchorN: Long): Int = {
    require(n > 0, s"corpus count must be positive, got $n")
    math.max(0, math.round(math.log(n.toDouble / anchorN) / math.log(2.0)).toInt)
  }

  private def clamp(v: Int, lo: Int, hi: Int): Int = math.min(hi, math.max(lo, v))

  /** RP-LSH sign planes per band for embedding near-dup blocking.
    * Anchor: 4 planes at n=2000 (the sf0.1 fixture; ~6× candidate
    * reduction there), +1 bit per corpus doubling — candidate pairs per
    * band ≈ n²/2^(planes+1), so one bit per doubling holds CANDIDATES
    * ∝ n. The honest trade: more planes per band lower banding recall
    * (per-band hit rate (1−θ/π)^planes), the documented
    * candidates-stay-linear contract — the pinned 4-plane oracle form
    * is unchanged. Ceiling 24: 16M buckets per band is past any
    * realistic occupancy need and keys stay cheap ints.
    *
    * `dim` no longer adds bits (round 15). The r14 "+1 per dim
    * doubling" surcharge was fit to the RAW-LCG sign family whose
    * period-7 plane negations capped a 14-plane key at ~7 effective
    * bits ([[VectorOps.mix64]]): under that family candidates NEVER
    * halved past 7 planes (measured 1.66e11 at ×1000×64 where the
    * formula predicted ~1e9), so extra "planes" looked like the only
    * lever and verify cost grew with dim. With the mixed family the
    * bucket math actually holds (measured: 8.4e8 at ×1000×64,
    * 7.0e7 at ×1000×384 — BASELINE.md §5 round 15), the per-candidate dot is
    * round6/early-exit cheap, and the surcharge would only buy recall
    * loss. The parameter stays so call sites keep declaring the dim
    * they derived for (and for corpora where a future re-derivation
    * wants it). */
  def rpPlanesPerBand(n: Long, dim: Int = 64): Int =
    clamp(4 + extraBits(n, 2000L), 4, 24)

  /** Hamming gate for the 128-bit RP sign sketch
    * ([[graft.functions.RpSketch]]): bit-flip probability per plane for a
    * sim-s pair is θ = acos(s)/π, so h ~ Binomial(128, θ); the gate at
    * mean + 3σ passes a true targetSim pair with ≥ 99.8% probability (the
    * one-sided 3σ normal bound — the sketch's documented recall factor)
    * while random pairs (θ ≈ 0.5, mean 64) sit ≥ 4σ above it for any
    * targetSim ≥ 0.55. At targetSim 0.8: mean 26.2, σ 4.57 → H = 40
    * (gate-equivalent cosine ≈ cos(40π/128) ≈ 0.55 — everything the
    * verify could keep completes the gate with margin). */
  def sketchMaxHamming(targetSim: Double): Int = {
    require(targetSim > 0.0 && targetSim < 1.0,
      s"targetSim=$targetSim outside (0,1)")
    val theta = math.acos(targetSim) / math.Pi
    val mean = 128.0 * theta
    val sd = math.sqrt(128.0 * theta * (1.0 - theta))
    math.min(127, math.ceil(mean + 3.0 * sd).toInt)
  }

  /** Join-strategy knob for the banded self-joins: once the banded side
    * (n·bands rows carrying the dim-double vector) outgrows a
    * broadcast-friendly size, the self-join must be a shuffle join — both
    * because the build side stops fitting, and because a broadcast plan
    * serializes the probe work into the scan's few input partitions while
    * a shuffle spreads buckets over all reducers AND lets AQE skew-join
    * split the hot ones. Measured at 10x sf0.1:
    * broadcast 20.4s vs sort-merge 3.6s, and 2.2s with AQE skew splitting
    * (BASELINE.md §skew). 8 MB threshold: conservatively under Spark's
    * 10 MB default autoBroadcastJoinThreshold, ~40 bytes/row overhead. */
  def preferShuffleJoin(n: Long, bands: Int, dim: Int): Boolean =
    n.toDouble * bands * (8.0 * dim + 40.0) > 8.0 * 1024 * 1024
}
