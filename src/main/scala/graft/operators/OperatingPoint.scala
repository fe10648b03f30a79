package graft.operators

/** Corpus-size-derived operating points.
  *
  * A bucketed index-then-verify operator has a knob that must grow with
  * the corpus or candidate work goes quadratic. RP-LSH banding (the
  * [[RankDedup.upsert]] default): candidate pairs per band ∝ n²/2^planes,
  * so holding per-bucket occupancy constant needs
  * `planes += log2(corpus growth)` — measured at 10× (fixed 4-bit config:
  * 63-71× work at 10× data; scaled config: ~linear). The at-rest indexes
  * ([[ClusterIndex]], [[SpanIndex]], [[ShardManifest]], the IVF-PQ
  * codebooks) derive their geometry here once, when they are written.
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
  private[graft] def extraBits(n: Long, anchorN: Long): Int = {
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

  /** t13/c5 keep ceiling (micro-scaled average surprisal) derived from the
    * corpus's OWN surprisal distribution — a QUALITY operating point: it
    * tracks where the corpus's typical document sits, not a universal
    * constant. The pinned 7.0 literal is calibrated to the
    * fixture corpus (median avg-surprisal 3.402214 at sf0.1, so 7.0 cuts
    * ~2.06× median — a loose high-perplexity-tail ceiling, CCNet-style);
    * on a corpus whose base rate shifts (the ×1000 disjoint-vocabulary
    * widening adds ln 1000 ≈ +6.9 to every word's surprisal; a multi-domain
    * crawl shifts it less dramatically but in the same way) the literal
    * degenerates to keep-nothing even though relative quality is unchanged
    * — measured in round 13. Anchored so the fixture median reproduces the
    * pinned gate EXACTLY: surprisalKeepMicro(3402214) == 7000000.
    * The oracle-gated t13/c5 stay pinned at 7.0 (static SQL mirrors the
    * exact filter — the fixture-pin discipline). */
  def surprisalKeepMicro(medianSurprisalMicro: Long): Long = {
    require(medianSurprisalMicro > 0,
      s"median surprisal must be positive, got $medianSurprisalMicro")
    medianSurprisalMicro * 7000000L / 3402214L
  }

  /** Next power of two ≥ x (x already clamped to int range by callers). */
  private def pow2Ceil(x: Long): Int = {
    require(x <= (1L << 30), s"pow2Ceil input $x out of range")
    if (x <= 1L) 1 else Integer.highestOneBit((x - 1).toInt) << 1
  }

  /** Component-bucket count for the at-rest cluster index
    * ([[ClusterIndex]]): labels and edges are bucketed by component hash so
    * an append reads and rewrites only the touched buckets. The knob must
    * grow with the corpus or each bucket rewrite grows linearly with it —
    * target ≈1k docs per bucket (a label row carries the doc's shingle-hash
    * set, so 1k docs ≈ a few MB of parquet — comfortably above
    * small-file territory, bounded rewrite work per touched component).
    * Power-of-two steps so the knob moves in doublings like the LSH bit
    * knobs. Floor 64 keeps fixture artifacts readable and pruning
    * demonstrable; cap 64k bounds the partition-directory count (at the cap
    * a 1e10-doc corpus holds ~150k docs/bucket — the scale where this
    * artifact graduates to a transactional table format anyway, per the
    * [[ClusterIndex]] scaladoc). Derived ONCE at [[ClusterIndex.write]] and
    * persisted in the index `_meta` — appends must keep using the layout
    * the artifact was written with, never re-derive from the grown count. */
  def clusterIndexParts(n: Long): Int = {
    require(n > 0, s"corpus count must be positive, got $n")
    clamp(pow2Ceil(math.min(n / 1024L, 1L << 16)), 64, 1 << 16)
  }

  /** Bucket count for the cluster index's at-rest LSH band table
    * (`bands/`, partitioned by `bkb = pmod(bk, B)`): an append's candidate
    * probe joins its batch's band keys against the stored table, and with
    * the table bucketed the probe reads ONLY the buckets the batch's keys
    * hash into (partition pruning on `bkb`) instead of scanning every
    * stored band row. The batch's distinct `bkb` set is collected to drive
    * the pruning `isin` — bounded by B, so the cap (4096) is also the
    * bound on that driver-side metadata. Floor 16 keeps a small append's
    * probe visibly pruned on fixtures (a one-doc batch touches ≤ NumBands
    * buckets). Same ~1k-docs-per-bucket growth target as
    * [[clusterIndexParts]]; persisted in `_meta` alongside it. */
  def bandIndexBuckets(n: Long): Int = {
    require(n > 0, s"corpus count must be positive, got $n")
    clamp(pow2Ceil(math.min(n / 1024L, 1L << 12)), 16, 1 << 12)
  }

  /** Shard count for the t15 training-order manifest
    * ([[ShardManifest]]): the per-shard rank window and the
    * loader fleet both parallelize at S, so S must grow with the corpus —
    * target ~64k docs per shard (a loader's working unit: tens to a few
    * hundred MB of text) in power-of-two steps. Floor 8 keeps fixture
    * manifests multi-shard; cap 64k bounds the shard-dir count like
    * [[clusterIndexParts]]. */
  def shuffleShards(n: Long): Int = {
    require(n > 0, s"corpus count must be positive, got $n")
    clamp(pow2Ceil(math.min(n / 65536L, 1L << 16)), 8, 1 << 16)
  }

  /** PQ codebook size per subspace (IVF-PQ ADC serving): k-means needs
    * enough training points per centroid to generalize (public practice —
    * FAISS warns below ~39 points/centroid and recommends 256 entries only
    * for large corpora), so Kc grows with n between the fixture-measured
    * 16 (2k vectors ≈ 125 points/centroid) and the byte-code ceiling 256,
    * holding ≥64 training points per centroid: one doubling of Kc per
    * doubling of corpus past the anchor. M stays at dim/8 granularity —
    * subspace width is geometry (dim must divide), not corpus size. */
  def pqCodebookSize(n: Long): Int = {
    // shift capped at the ceiling's exponent (256 = 16 << 4): an uncapped
    // `16 << extraBits` wraps past 2^31 around n ≈ 2.7e11 — the 100 TB
    // embedding-corpus regime — and the clamp would collapse to the FLOOR
    val kcRaw = 16 << math.min(4, extraBits(n, 2000L))
    clamp(kcRaw, 16, math.min(256L, math.max(16L, n / 64L)).toInt)
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
