package graft.operators

/** Corpus-size-derived operating points for the LSH / IVF family.
  *
  * Every bucketed index-then-verify operator in this library has one knob
  * that must grow with the corpus or candidate work goes quadratic:
  *
  *  - RP-LSH banding (v3/v6 near-dup, dd5 rank-upsert): candidate pairs per
  *    band ∝ n²/2^planes, so holding per-bucket occupancy constant needs
  *    `planes += log2(corpus growth)` — measured in ScaleProbe (fixed 4-bit
  *    config: 63-71× work at 10× data; scaled config: ~linear).
  *  - IVF cell count (v4 batch k-NN): assignment costs n·K and candidate
  *    verify costs ~2n²/K, balanced at K ≈ √n (both terms n^1.5) — the
  *    standard IVF operating point; probed sub-linear in time at 10×.
  *  - SimHash chunk width (dd6): buckets per chunk = 2^chunkBits, same
  *    `+= log2(growth)` rule; the 6-chunk pigeonhole guarantee (any pair
  *    within Hamming 5 shares an intact chunk) is width-independent.
  *
  * These rules previously lived only in BASELINE.md prose and had to be
  * applied by hand; this object is the executable form. Anchors are the
  * measured sf0.1 fixture points (n≈2000 embeddings / n≈5300 planted docs)
  * where the pinned configs are known-good; derived points were validated
  * against the hand-scaled 10× ScaleProbe rows.
  *
  * The oracle-gated queries in SparkEntry deliberately do NOT use these —
  * they pin fixture constants so the DuckDB oracle (static SQL text) can
  * mirror the exact blocking structure. The library entrypoints
  * ([[VectorOps.nearDupPairsAuto]], [[VectorOps.knnJoinAuto]],
  * [[RankDedup.upsert]] default, [[DedupOps.simhashPairsAuto]]) derive from
  * a passed-in estimate or a cheap `count()`.
  */
object OperatingPoint {

  /** Extra sign/chunk bits over the anchor so 2^bits tracks n: one bit per
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
    * (per-band hit rate (1−θ/π)^planes), the AUTO family's documented
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

  /** Band count for the HIGH-SIM RP-LSH operating point
    * ([[VectorOps.nearDupPairsHighSim]]) — the round-16 answer to the
    * verdict's recall-decay analysis: with planes growing log₂ n
    * ([[rpPlanesPerBand]], the candidates-stay-linear contract), per-band
    * hit rate for a sim-s pair is p^planes with p = 1 − acos(s)/π, so at
    * FIXED bands recall decays with corpus size by construction (measured
    * 0.123 at ×10; ~0.15 predicted at ×1000 even at s = 0.8). Holding
    * recall R at the target sim therefore requires
    * bands ≥ ln(1−R) / ln(1−p^planes) — bands grow ~n^ρ, the public LSH
    * price (Indyk-Motwani), and the candidate bill stays affordable
    * because the banded stream carries 24-byte sketches, not vectors
    * ([[graft.functions.SketchHammingGate]]). Derived points: 5 bands at
    * the 2k anchor, 11 at ×10, 57 at ×1000 (s=0.8, R=0.9). Cap 512: past
    * it the keygen (bands·planes plane dots per vector) approaches
    * brute-force assignment cost and the corpus has outgrown this
    * single-table operating point. */
  def rpHighSimBands(n: Long, dim: Int = 64, targetSim: Double = 0.8,
      targetRecall: Double = 0.9): Int = {
    require(targetSim > 0.0 && targetSim < 1.0 &&
      targetRecall > 0.0 && targetRecall < 1.0,
      s"targetSim=$targetSim targetRecall=$targetRecall outside (0,1)")
    val planes = rpPlanesPerBand(n, dim)
    val p = 1.0 - math.acos(targetSim) / math.Pi
    val q = math.pow(p, planes)
    clamp(math.ceil(math.log(1.0 - targetRecall) /
      math.log(1.0 - q)).toInt, 4, 512)
  }

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

  /** IVF coarse-quantizer cell count: K ≈ √n, anchored at the measured
    * K=16 @ n=2000 point (16·√(n/2000)). Floor 8 keeps the probe-2-of-K
    * semantics meaningful on tiny inputs; ceiling 1<<20 bounds the
    * broadcast centroid table (~256 MB of 64-dim doubles). */
  def ivfCells(n: Long): Int = {
    require(n > 0, s"corpus count must be positive, got $n")
    clamp(math.round(16.0 * math.sqrt(n / 2000.0)).toInt, 8, 1 << 20)
  }

  /** Cell count for the LEARNED-cell near-dup blocker
    * ([[graft.operators.VectorOps.semDedupPairsAuto]], the SemDeDup
    * shape) — a BLOCKING grain, not [[ivfCells]]'s serving grain: dedup
    * needs candidates ∝ n, and with top-2 membership candidates ≈
    * Σ C(m,2) ≈ 2n²/K, so K = n/128 pins ~128-vector occupancy and
    * candidates ≈ 256·n (inside the embedding family's measured 500·n
    * gate). The serving point K ≈ √n would put occupancy ∝ √n and
    * candidates ∝ n^1.5 — fine for per-query probes, quadratic death for
    * all-pairs. Floor 8 keeps fixture cells meaningful; the 1<<20 cap
    * bounds the broadcast centroid table like [[ivfCells]] — past it
    * (n ≈ 1.3e8 per table) the corpus has outgrown single-table Lloyd
    * and wants the two-level quantizer documented at the operator.
    *
    * `occupancy` is the family's COST dial — and measuring it RETIRED
    * the prior hypothesis: BASELINE §5 had claimed "candidates ≈ 2c·n
    * buys recall linearly in c", but the ×10 twin-fixture sweep
    * (RpRecallProbe `semflat:<c>`, c ∈ {64,128,192,250}) measured ≥0.8
    * recall FLAT in c at dim 64 (0.905-0.919 across a 4× bill) and
    * monotonically DECREASING at dim 384 (0.979 at c=64 → 0.944 at
    * c=250): at the production dim FINER cells win on recall AND bill
    * at once, because high-dim twins sit deep inside whatever cell
    * contains them while coarse mod-init Lloyd cells are just worse
    * separators. What recall actually rides on is corpus GROWTH at
    * constant occupancy (K ∝ n fragmentation — the ~0.1/decade law in
    * BASELINE §5), which no fixed dial fixes. So: dial DOWN for a
    * cheaper bill at equal-or-better recall — confirmed one decade up
    * at the production grain (×100×384, two-level arm: c=64 reads
    * 0.896 at 127·n vs c=128's 0.874 at 254·n) — and dial up only to
    * re-measure. The cap 240 keeps the
    * measured bill (≈ 2c·n + ~2% top-2 spill) inside the embedding
    * family's 500·n candidates-linear gate — c=250 measured 504-508·n,
    * OVER the gate, which is why the ceiling sits below the naive
    * 500/2; recall-critical callers should move to [[rpHighSimBands]]'s
    * recall-targeted operating point instead of dialing past the gate. */
  def semDedupCells(n: Long, occupancy: Int = 128): Int = {
    require(n > 0, s"corpus count must be positive, got $n")
    require(occupancy >= 8 && occupancy <= 240,
      s"occupancy=$occupancy outside [8, 240] (240 keeps the measured " +
        "~2c·n bill inside the 500·n family gate; 250 measured 504·n)")
    // min on the Long BEFORE toInt: n/occ overflows Int past n ≈ 2.1e11
    clamp(math.min(1L << 20, n / occupancy.toLong).toInt, 8, 1 << 20)
  }

  /** Cell-count threshold where the learned-cell blocker switches from
    * flat Lloyd to the two-level structure
    * ([[graft.operators.VectorOps.hierCellMembers]]): flat training costs
    * n·K ranked cosines per pass (with K = n/128 that is n²·dim/128 —
    * measured in hours at the ×1000×384 grain), two-level costs
    * n·(4√(2K) + 5·K/√(2K)). At K = 1024 (n ≈ 131k) the flat bill is
    * ~16× the two-level one and growing with √n — past here the
    * approximation (top-2-super probe, recall-gated) buys an order of
    * magnitude; below it flat is cheap and exact, and the ×10 gate
    * fixtures stay on it so both arms keep measured recall rows. */
  def semHierCells: Int = 1024

  /** Which near-dup blocker to run — the three measured scale laws
    * (BASELINE §5 r16: one planted-twin fixture family, three designs)
    * folded into one executable policy, so a caller states WHAT they
    * need (sim band, recall guarantee) instead of which of the three
    * operators to pick:
    *
    *  - `"rp-highsim"` when a recall TARGET is stated: the n^ρ-band LSH
    *    ([[graft.operators.VectorOps.nearDupPairsHighSim]]) is the only
    *    measured design that HOLDS its recall as the corpus grows
    *    (planted ≥0.8 recall 0.975 at ×10 → 0.986 at ×1000) — bands grow
    *    to pay for planes, the banded stream carries 24 B sketches.
    *  - `"sem"` for dedup-band work (targetSim ≥ 0.7) without an explicit
    *    recall contract: the learned-cell blocker
    *    ([[graft.operators.VectorOps.semDedupPairsAuto]]) is
    *    data-adaptive (density-following cells, no hyperplane luck), its
    *    candidate bill is a flat ≈ 2·occupancy·n independent of the band
    *    count, and at the production dim its near-identical-band recall
    *    is competitive (0.930 at [0.9,1.0] ×1000×384) — the SemDeDup
    *    shape production embedding dedup actually runs.
    *  - `"rp-survey"` below the dedup band: the cheap candidates-linear
    *    RP-LSH point ([[graft.operators.VectorOps.nearDupPairsAuto]]) —
    *    the only blocker measured at the 0.30 gate; its recall DECAYS
    *    with corpus size by construction (0.821 ×10 → 0.447 ×1000), the
    *    documented survey trade.
    */
  def dedupBlocker(targetSim: Double,
      recallTarget: Option[Double] = None): String = {
    require(targetSim > 0.0 && targetSim < 1.0,
      s"targetSim=$targetSim outside (0,1)")
    recallTarget.foreach(r => require(r > 0.0 && r < 1.0,
      s"recallTarget=$r outside (0,1)"))
    recallTarget match {
      case Some(_)                  => "rp-highsim"
      case None if targetSim >= 0.7 => "sem"
      case None                     => "rp-survey"
    }
  }

  /** SimHash chunk width (fingerprint = 6·chunkBits wide).
    * Anchor: 8 bits at n≈5300 (sf0.1 planted corpus). Ceiling 10: the
    * 60-bit fingerprint is the widest a single BIGINT md5-fold word hash
    * supports (15 hex digits); past that the word hash itself must widen
    * (e.g. xxhash64 pairs), which is a different operator variant. */
  def simhashChunkBits(n: Long): Int = clamp(8 + extraBits(n, 5300L), 8, 10)

  /** Chunk width for the WIDE-fingerprint SimHash variant
    * ([[graft.operators.DedupOps]] `simhashPairsWide`: xxhash64-pair word
    * hashes, 6 chunks across two 63-bit BIGINT words) — the same
    * +1-bit-per-doubling rule as [[simhashChunkBits]], but the ceiling is
    * the two-word geometry's 21 (6·21 = 126-bit fingerprint), not the
    * single-BIGINT fold's 10: bits keep growing through ~43M docs, so at
    * the sixth decade (5M docs → 18 bits) chunk buckets hold ~20 docs
    * where the narrow form's 10-bit cap left ~800 and went
    * candidate-quadratic (BASELINE §5 r13). */
  def simhashChunkBitsWide(n: Long): Int = clamp(8 + extraBits(n, 5300L), 8, 21)

  /** Gram-representation switch for the t7 decontamination broadcast:
    * above this corpus size the eval set's distinct 8-gram table is
    * md5-folded to 48-bit longs before broadcasting — 8 bytes per gram
    * instead of ~50-byte strings (the fixture's mean 8-gram), shrinking
    * the broadcast ~6x and turning every probe comparison into a long
    * equality. Below it the string form stays: the table is tiny either
    * way and strings mirror exactly into the static DuckDB oracle.
    * Anchor: the sf0.1 fixture (~5.3k docs) stays on strings; one decade
    * up crosses over. Collisions only ever FLAG an extra document — the
    * conservative direction for a contamination check. */
  def hashDecontaminationGrams(n: Long): Boolean = n > 20000L

  /** Calibration-sample size for the t13 perplexity filter's model build
    * (TextOps.perplexityAuto): above this many documents the unigram
    * model trains on a deterministic md5-bucket sample of ~this size and
    * the model-build cost stops scaling with the corpus — the CCNet shape
    * (the LM is trained once on a calibration corpus, not on the data
    * being filtered). The value is vocabulary-saturation reasoning, not a
    * latency knob: Heaps' law puts the fixture corpus's vocab growth at
    * ~n^0.5, so by ~1e5 documents new text mostly re-observes the
    * existing head and sampled counts preserve ln((c+1)/(n+v)) to within
    * the keep threshold's slack (PipelineOpsSpec measures ≥ 97%
    * keep-decision parity at a forced half-corpus sample on the
    * fixture). */
  def perplexityCalibrationDocs: Long = 100000L

  /** t13/c5 keep ceiling (micro-scaled average surprisal) derived from the
    * corpus's OWN surprisal distribution — a QUALITY operating point like
    * [[h1MinWords]]: it tracks where the corpus's typical document sits,
    * not a universal constant. The pinned 7.0 literal is calibrated to the
    * fixture corpus (median avg-surprisal 3.402214 at sf0.1, so 7.0 cuts
    * ~2.06× median — a loose high-perplexity-tail ceiling, CCNet-style);
    * on a corpus whose base rate shifts (the ×1000 disjoint-vocabulary
    * widening adds ln 1000 ≈ +6.9 to every word's surprisal; a multi-domain
    * crawl shifts it less dramatically but in the same way) the literal
    * degenerates to keep-nothing even though relative quality is unchanged
    * — measured in round 13. Anchored so the fixture median reproduces the
    * pinned gate EXACTLY: surprisalKeepMicro(3402214) == 7000000.
    * The oracle-gated t13/c5 stay pinned at 7.0 (static SQL mirrors the
    * exact filter — the fixture-pin discipline); the auto entrypoints
    * derive from the corpus median. */
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
    * ([[TextOps.shuffleShardAuto]]): the per-shard rank window and the
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

  /** Signed doubling steps of x relative to the anchor ([[extraBits]]
    * without the zero floor): −1 per halving, +1 per doubling, rounded. */
  private[graft] def stepBits(x: Long, anchorX: Long): Int = {
    require(x > 0, s"profile stat must be positive, got $x")
    math.round(math.log(x.toDouble / anchorX) / math.log(2.0)).toInt
  }

  /** h1 content-block word floor (keep a block iff words ≥ floor) — a
    * QUALITY operating point: it tracks the corpus's text GRAIN, not its
    * size, so unlike the bit/bucket knobs it does not grow with n. A
    * corpus whose median content block is paragraph-length keeps the
    * jusText/CCNet-style floor of 5; a book-grain corpus (hundreds of
    * words per block) can afford a higher floor — one word per doubling
    * of the median. Anchor: the fixture corpus's measured median
    * candidate block of ~16 words at the pinned floor 5. The
    * oracle-gated h1/h2 stay pinned at the anchor (static SQL mirrors
    * the exact filter — the LSH fixture-pin discipline);
    * [[TextOps.htmlExtractAuto]] derives from a corpus block profile. */
  def h1MinWords(medianBlockWords: Long): Int =
    clamp(5 + extraBits(medianBlockWords, 16L), 5, 20)

  /** h1 link-density multiplier (keep a block iff links·mult ≤ words):
    * tracks the corpus's baseline anchor frequency — a link-dense corpus
    * (portals, wikis) must LOOSEN the multiplier or genuine content dies
    * with the nav; a link-sparse corpus can tighten it. One step per
    * doubling/halving around the anchor: the fixture corpus measures
    * ~64 anchor tags per kiloword of block text at the pinned
    * multiplier 3. Clamp [2, 6]: below 2 the filter stops meaning
    * anything (a block may be half links), above 6 paragraph-length
    * blocks with one citation link start dying. */
  def h1LinkDensityMult(anchorsPerKiloword: Long): Int =
    clamp(3 - stepBits(math.max(1L, anchorsPerKiloword), 64L), 2, 6)

  /** Join-strategy knob for the banded self-joins: once the banded side
    * (n·bands rows carrying the dim-double vector) outgrows a
    * broadcast-friendly size, the self-join must be a shuffle join — both
    * because the build side stops fitting, and because a broadcast plan
    * serializes the probe work into the scan's few input partitions while
    * a shuffle spreads buckets over all reducers AND lets AQE skew-join
    * split the hot ones. SkewProbe measured the inversion at 10x sf0.1:
    * broadcast 20.4s vs sort-merge 3.6s, and 2.2s with AQE skew splitting
    * (BASELINE.md §skew). 8 MB threshold: conservatively under Spark's
    * 10 MB default autoBroadcastJoinThreshold, ~40 bytes/row overhead. */
  def preferShuffleJoin(n: Long, bands: Int, dim: Int): Boolean =
    n.toDouble * bands * (8.0 * dim + 40.0) > 8.0 * 1024 * 1024
}
