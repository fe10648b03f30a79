package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up probe: synthesizes an N-times copy of the sf0.1 fixtures (keys
  * offset per copy so group/join/session cardinalities scale with the data,
  * matching how a larger TPC-H SF behaves), then times headline queries at
  * 1x and Nx and prints per-query scaling ratios as one JSON line.
  *
  * Purpose: turn the "would this plan survive a scale-up?" review question
  * into a measurement. A query whose ratio tracks the data growth is
  * scan/shuffle-linear; a super-linear ratio exposes a fixed-cardinality
  * blocking key or a driver-side bottleneck. Writes only under target/.
  *
  * Two modes share the machinery:
  *  - copies = 10 (default): the full per-family sweep that has anchored
  *    BASELINE.md §5 since round 3;
  *  - copies = 100: the TWO-DECADE check for the AUTO operating points —
  *    every scale claim was previously measured at one decade; this runs
  *    the SAME library entrypoints (the operator derives its own config
  *    from the corpus count, no hand knobs anywhere) against ~60M lineitem
  *    rows / ~550k planted docs / 200k vectors and verifies the log2
  *    derivation holds across both decades. The default 100x row set is
  *    the AUTO family + the broadcast-probe and cluster queries; pass an
  *    explicit name filter to probe anything else.
  *
  * Usage: runMain graft.ScaleProbe [baseSfDir] [outDir] [nameFilter] [copies]
  */
object ScaleProbe {

  private[graft] def synth(spark: SparkSession, base: String, out: String,
      copies: Int = 10): Unit = {
    val cps = spark.range(copies).select(col("id").as("cp"))
    def widen(name: String, keyShifts: Map[String, Long]): Unit = {
      val t = Tables.load(spark, base, name)
      val shifted = keyShifts.foldLeft(t.crossJoin(cps)) {
        case (df, (c, stride)) => df.withColumn(c, col(c) + col("cp") * stride)
      }.drop("cp")
      // repartition before write: the crossJoin inherits the (often
      // single-file) base layout, and a one-row-group parquet file is
      // UNSPLITTABLE — every downstream scan of the synthesized fixture
      // would run as ONE task (observed: a 13-minute single-core document
      // scan at the 100x fixture). 32 files ≈ one split per local core.
      shifted.repartition(32)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    // strides exceed each key's sf0.1 range so copies never collide
    widen("lineitem", Map("l_orderkey" -> 10000000L))
    widen("orders", Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L))
    widen("customer", Map("c_custkey" -> 1000000L))
    widen("events", Map("event_id" -> 100000000L, "user_id" -> 100000L))
    widen("documents", Map("doc_id" -> 1000000L))
    // embeddings: shift ids AND decorrelate each copy's vector — an
    // untouched copy would be an exact near-dup of every other copy, so
    // pair counts would grow c² by construction and the probe would
    // measure the synthetic corpus, not the plan. Copies 0-63 rotate by
    // cp positions (per-copy geometry identical, fixture cross-cosines
    // ≤ 0.51); past 64 the rotations repeat, so copies ≥ 64 additionally
    // flip the sign of alternating elements, which drives the cosine
    // against the same-rotation copy toward the odd/even mass difference
    // (≈ 0 for hash-style vectors) instead of 1.0.
    Tables.load(spark, base, "embeddings").crossJoin(cps)
      .withColumn("embedding", expr(
        """concat(slice(embedding, (cp % 64) + 1, 64 - (cp % 64)),
          |       slice(embedding, 1, cp % 64))""".stripMargin))
      .withColumn("embedding", expr(
        """CASE WHEN cp < 64 THEN embedding
          | ELSE transform(embedding, (x, i) ->
          |   CASE WHEN i % 2 = 0 THEN -x ELSE x END) END""".stripMargin))
      .withColumn("vec_id", col("vec_id") + col("cp") * 1000000L)
      .drop("cp")
      .repartition(32) // splittable layout — see widen()
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // small dims are shared, copied as-is
    Seq("part", "supplier", "nation", "region").foreach { n =>
      Tables.load(spark, base, n).write.mode("overwrite")
        .parquet(s"$out/$n.parquet")
    }
  }

  /** Sixth-decade doc/vector widening (round 13): [[synth]]'s embedding
    * decorrelation caps at 128 copies (64 rotations x 2 sign patterns),
    * and its documents pass KEEPS each copy's text — so text-dedup pair
    * counts grow c² with copies (432M pairs at 100 copies was already the
    * practical ceiling for a Verify dump). This widening makes BOTH
    * corpora scale to 1000 copies with bounded pair growth:
    *
    *  - documents: every copy cp ≥ 1 is its own text VARIANT — each word
    *    suffixed with `_v<cp>` (copy 0 keeps the base text verbatim).
    *    Word-shingle sets across variants are disjoint (cross-variant
    *    jaccard 0, so no c² pair blowup); within a variant the base
    *    near-dup structure is preserved EXACTLY (suffixing is a
    *    word-level bijection) and each variant's shingles land in fresh
    *    hash ranges. Copies are fully distinct on purpose: a 32-variant
    *    draft (31 exact copies per variant) made every doc a 31-member
    *    dup group, whose all-bands band collisions put the minhash pair
    *    verify's candidate shuffle near ~400 GB at ×1000 (measured: dd3
    *    filled this host's disk) — exact-dup member growth is a
    *    FIFTH-decade fact already covered by target/sf10's verbatim
    *    ×100 copies; the sixth decade's new axis is distinct-text
    *    corpus size.
    *  - embeddings: rotation by (cp % 64) as in [[synth]], then a
    *    per-copy sign PATTERN from murmur3 `hash(cp, i)` — 2^64 possible
    *    patterns, so no two copies repeat at any copy count (the r12
    *    scheme's alternating flip gave exactly 2). Same-rotation
    *    cross-copy cosines concentrate near 0 (+-1/sqrt(dim) — a
    *    mean-zero random sign walk over the squared components), so
    *    above-threshold cross-copy pairs are a thin measurable tail,
    *    not a c² explosion. Copy 0 is the identity (base rows survive
    *    verbatim; the v5 seed vectors and the v1/v4 probe ids exist).
    *
    * The recompute side needs NO mirror of either transform:
    * IndependentVerify reads the synthesized parquet as input data.
    * [[synth]] keeps the r12 scheme so the standing target/sf1 and
    * target/sf10 fixtures (and the BASELINE §5 laws priced on them)
    * remain reproducible as written. */
  private[graft] def synthDv(spark: SparkSession, base: String, out: String,
      copies: Int, dim: Int = 64, twins: Boolean = false): Unit = {
    require(copies >= 1 && copies <= 1000,
      s"copies=$copies outside [1,1000] for the doc/vector widening")
    require(dim == 64 || dim == 384,
      s"dim=$dim: the widening supports the fixture's native 64 or the " +
        "production-embedder 384 (6 rotated 64-blocks) only")
    // id stride is 1,000,000 per copy: a base fixture whose ids reach the
    // stride would silently collide copies (duplicate keys corrupt the
    // dedup/near-dup ground truth) — refuse loudly like the copies bound
    val idMax = Tables.load(spark, base, "documents")
      .agg(max(col("doc_id"))).head.getLong(0)
    val vecIdMax = Tables.load(spark, base, "embeddings")
      .agg(max(col("vec_id"))).head.getLong(0)
    require(idMax < 1000000L && vecIdMax < 1000000L,
      s"base id ranges (max doc_id=$idMax, max vec_id=$vecIdMax) must stay " +
        "under the 1,000,000 copy stride or copies collide")
    val cps = spark.range(copies).select(col("id").as("cp"))
    Tables.load(spark, base, "documents").repartition(64).crossJoin(cps)
      .withColumn("text", expr(
        """CASE WHEN cp = 0 THEN text
          | ELSE array_join(transform(split(text, ' '),
          |        w -> concat(w, '_v', cast(cp as string))), ' ')
          | END""".stripMargin))
      .withColumn("doc_id", col("doc_id") + col("cp") * 1000000L)
      .drop("cp")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val baseE0 = Tables.load(spark, base, "embeddings").repartition(64)
    // twins=true plants a HIGH-SIM near-dup twin for every 17th base vector
    // (the dd6w planted-twin discipline, ported to the embedding family):
    // twin = v + ε·rot₁₃(v) with ε ∈ {0.3, 0.5, 0.7} by id — cosines land
    // ≈{0.96, 0.89, 0.82}±, populating the dedup-relevant ≥0.8 band the
    // natural fixture lacks entirely (measured max base sim 0.60). Twin id
    // = base id + 500,000 (inside the copy stride). Twins join the base
    // BEFORE expansion/replication, so the shared-rotation construction
    // replicates each twin pair's cosine EXACTLY into every copy — recall
    // vs planted truth is then measurable at any copy count
    // (RpRecallProbe), which is what the high-sim blocking's floors gate.
    val baseE =
      if (!twins) baseE0
      else baseE0.unionByName(baseE0.filter(col("vec_id") % 17 === 0)
        .withColumn("embedding", expr(
          """zip_with(embedding,
            | concat(slice(embedding, 14, size(embedding) - 13),
            |        slice(embedding, 1, 13)),
            | (x, y) -> x + (0.3 + 0.2 * cast(vec_id % 3 as double)) * y)"""
            .stripMargin))
        .withColumn("vec_id", col("vec_id") + 500000L))
    // dim=384: 6 per-block circular shifts (b*11 % 64) of the 64-dim base,
    // SHARED by every vector — each block's dot equals the base dot, so
    // every within-copy cosine is EXACTLY the base cosine and the planted
    // near-dup structure carries to 384-dim intact, while the cross-copy
    // sign walk below now averages over 384 components (sigma = 1/sqrt(384);
    // cos >= 0.30 sits at ~5.9 sigma — the production operating point the
    // dimensionality law names, vs 2.4 sigma at 64-dim)
    val expanded =
      if (dim == 64) baseE
      else baseE.withColumn("embedding", expr(
        (0 until 6).map { b =>
          val sh = (b * 11) % 64
          s"concat(slice(embedding, ${sh + 1}, ${64 - sh}), slice(embedding, 1, $sh))"
        }.mkString("concat(", ", ", ")")))
    expanded.crossJoin(cps)
      .withColumn("embedding", expr(
        s"""concat(slice(embedding, (cp % $dim) + 1, $dim - (cp % $dim)),
           |       slice(embedding, 1, cp % $dim))""".stripMargin))
      .withColumn("embedding", expr(
        """CASE WHEN cp = 0 THEN embedding
          | ELSE transform(embedding, (x, i) ->
          |   CASE WHEN pmod(hash(cp, i), 2) = 0 THEN -x ELSE x END) END"""
          .stripMargin))
      .withColumn("vec_id", col("vec_id") + col("cp") * 1000000L)
      .drop("cp")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // the 16 pair-family queries read only documents/embeddings; the
    // remaining tables ride along at base scale so any query can run
    Seq("lineitem", "orders", "customer", "events",
        "part", "supplier", "nation", "region").foreach { n =>
      Tables.load(spark, base, n).write.mode("overwrite")
        .parquet(s"$out/$n.parquet")
    }
  }

  /** RELATIONAL-ONLY widening for the tie-class verify sweeps: the money/
    * quotient/window tie classes live in lineitem/orders/events, so the
    * fifth-decade fixture (sf0.1 × 1000 ≈ sf100) skips the embedding
    * decorrelation that caps [[synth]] at 128 copies and copies
    * documents/embeddings through at base scale. Key strides are the
    * [[synth]] ones — each exceeds its sf0.1 base range by ≥ 10x the
    * 1000-copy index, so copies never collide. */
  private[graft] def synthRelational(spark: SparkSession, base: String,
      out: String, copies: Int): Unit = {
    require(copies >= 1 && copies <= 1000,
      s"copies=$copies outside [1,1000] for the relational widening")
    val cps = spark.range(copies).select(col("id").as("cp"))
    def widen(name: String, keyShifts: Map[String, Long]): Unit = {
      // repartition the BASE before the crossJoin: shuffling 600k base
      // rows into 64 splittable output files costs nothing, while a
      // post-crossJoin repartition would shuffle all copies·base rows
      // (~60 GB of exchange at 1000 copies) through the base file's one
      // unsplittable row-group task
      val t = Tables.load(spark, base, name).repartition(64)
      val shifted = keyShifts.foldLeft(t.crossJoin(cps)) {
        case (df, (c, stride)) => df.withColumn(c, col(c) + col("cp") * stride)
      }.drop("cp")
      shifted.write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    widen("lineitem", Map("l_orderkey" -> 10000000L))
    widen("orders", Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L))
    widen("customer", Map("c_custkey" -> 1000000L))
    widen("events", Map("event_id" -> 100000000L, "user_id" -> 100000L))
    Seq("part", "supplier", "nation", "region", "documents", "embeddings")
      .foreach { n =>
        Tables.load(spark, base, n).write.mode("overwrite")
          .parquet(s"$out/$n.parquet")
      }
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = if (args.length > 3) args(3).toInt else 10
    val relationalOnly = args.length > 4 && args(4) == "relational"
    // 'dv': the sixth-decade doc/vector widening (synthesize-only, like
    // 'relational') — decorrelated documents AND embeddings to any copy
    // count in [1,1000]; see [[synthDv]]
    val dvOnly = args.length > 4 && (args(4) == "dv" || args(4) == "dvt")
    // 'dvt': the dv widening with planted high-sim twins (see synthDv) —
    // the recall-probe fixtures for the ≥0.8 dedup band
    val dvTwins = args.length > 4 && args(4) == "dvt"
    // rotation gives 64 distinct copies and the sign flip doubles that;
    // copy 128 would equal copy 64 exactly, re-creating the c² pair
    // blowup the decorrelation exists to prevent — refuse loudly
    require(relationalOnly || dvOnly || (copies >= 1 && copies <= 128),
      s"copies=$copies outside [1,128]: embedding decorrelation repeats " +
        "past 128 (64 rotations x 2 sign patterns) and exact-duplicate " +
        "copies would make the probe measure the synthetic corpus " +
        "(pass 'relational' as the 5th arg for the relational-only widening)")
    val out = if (args.length > 1) args(1) else s"target/sfx$copies"
    val spark = Spark.local(32, 32)

    if (relationalOnly) {
      synthRelational(spark, base, out, copies)
      println(s"""{"metric":"scale_synth_relational","copies":$copies}""")
      spark.stop()
      return
    }
    if (dvOnly) {
      // optional 6th arg: embedding dim (64 default, 384 = the production
      // operating point of the dimensionality law — see synthDv)
      val dim = if (args.length > 5) args(5).toInt else 64
      synthDv(spark, base, out, copies, dim, twins = dvTwins)
      println(s"""{"metric":"scale_synth_dv","copies":$copies,"dim":$dim,""" +
        s""""twins":$dvTwins}""")
      spark.stop()
      return
    }
    synth(spark, base, out, copies)

    // (name, plan at 1x, plan at Nx). For LSH/IVF operators the Nx plan
    // uses the SCALED operating point — more sign bits / more cells — because
    // that is how the operator is run on a larger corpus: the bucket count is
    // the knob that holds per-bucket occupancy (and so candidate-pair work)
    // near-linear. The fixed-config variants are probed too, to expose what
    // happens when the knob is NOT turned.
    val std = Seq("a1_group_multi_agg", "a12_pricing_summary",
      "j2_temporal_join", "j3_brand_revenue", "o6_topk_per_group",
      "w1_moving_avg", "w8_sessionize", "dd1_exact_dedup",
      "dd3_lsh_jaccard_pairs", "t3_quality_score", "s1_hourly_events",
      "v3_neardup_embeddings", "v4_knn_join", "v6_rp_lsh_neardup",
      "dd5_rank_upsert", "dd6_simhash_pairs",
      // round 6: cluster resolution (LSH pairs + CC) and the broadcast
      // n-gram decontamination probe
      "dd7_dup_clusters", "t7_decontamination",
      // round 8: per-domain caps — the synth copies multiply every domain's
      // docs Nx over the same 20 sources, i.e. exactly the mega-domain
      // growth the partial WindowGroupLimit bounds map-side
      "t10_domain_caps",
      // round 8: packing manifest (S-way sharded cumsum windows — the probe
      // shows the shard key holds the window parallel as docs grow) and the
      // span-gram inventory + scrub (gram stream and inventory shuffle both
      // scale with corpus chars; the scrub's surgery only touches affected
      // docs). NOTE the synthetic copies share every copied doc's text, so
      // at Nx EVERY doc is an (N-1)-way span carrier — the shared-gram
      // stream grows ~N·c vs the real-corpus ~N; these rows bound the
      // WORST-case inventory, and the md5-vs-rolling A/B below isolates
      // the hashing cost from that fixture artifact
      "t11_sequence_pack", "dd9_span_grams", "dd10_span_scrub",
      // round-8 continuation: the model-based curation family — t13/c5
      // shuffle the token stream once for the per-doc score and broadcast
      // the vocab-sized model (vocab grows ~log with corpus, so the
      // broadcast stays small); t12/c3/t14 are scan-speed map-side ops;
      // c4's copies explode map-side after a 5-row broadcast
      "t12_split_assign", "c3_quality_lr", "t13_perplexity",
      "t14_cdc_chunks", "c4_mixture_apply", "c5_curation_pipeline",
      // round 9: the shard-partitioned training-order manifest (the rank
      // window must scale with the shard key, like t11), the data-card
      // rollup (one projection + one grouped agg — scan-bound), the BPE
      // seam (per-doc UDF merge loop — map-side), and the MMR rerank
      // (driver-greedy over a bounded k·overfetch shortlist)
      "t15_shuffle_shard", "c7_data_card", "t5_bpe_token_count",
      "v10_mmr_rerank",
      // round 11: the per-domain data card — same projection+agg shape as
      // c7 with the t10 source grain as an extra key; must stay scan-bound
      "c8_domain_card",
      // round 10: raw-web extraction — four chained narrow regex stages,
      // no shuffle anywhere; must be scan-bound like t3/t14 — and its
      // composition with the t3 scoring pieces, still one narrow chain
      "h1_html_extract", "h2_web_curation",
      // round 10 (post noop-action fix): the rest of the map-only family,
      // re-priced under the honest action (their count()-era rows were
      // metadata row-counts — BASELINE §5 erratum)
      "t1_word_chunks", "t2_lang_id", "t4_fingerprint", "t8_repetition",
      "t9_pii_redaction")
      .map(n => (n, SparkEntry.queries(n), SparkEntry.queries(n)))
    import graft.operators.{Profile, RankDedup, VectorOps}
    // profile first-touch: exact vs sketched (HLL++) distinct counts over
    // the widened lineitem table with FOUR categorical columns — three
    // low-cardinality flags plus one ID-like high-cardinality column
    // (every real wide table has them, and they are where the exact form
    // hurts: the Expand rewrite multiplies every input row per distinct
    // group before the shuffle AND the high-card column's shuffle carries
    // one key per distinct value, while the sketch ships fixed-size HLL
    // buffers). Both sides run the SAME summaryAgg; only the distinct
    // aggregates differ. Measured at 100x the low-card-only variant is
    // FLAT for both forms — tiny distinct sets make exact cheap — so the
    // high-card column is what turns the claimed win into a number.
    def profileQ(approx: Boolean): (SparkSession, String) => DataFrame =
      (s, d) => Profile.summaryAgg(
        Tables.load(s, d, "lineitem").select(
          col("l_returnflag"), col("l_linestatus"),
          year(col("l_shipdate")).cast("string").as("l_shipyear"),
          col("l_orderkey").cast("string").as("l_okey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        approx)
    val scaled: Seq[(String, (SparkSession, String) => DataFrame,
        (SparkSession, String) => DataFrame)] = Seq(
      // 10x corpus → +log2(10) ≈ 3.3 extra sign bits holds pair work
      // (∝ n²/2^planes) linear; probe the next integer point, 4→8
      ("v6_rp_lsh_neardup_scaledbits",
        (s: SparkSession, d: String) =>
          VectorOps.rpBandedNearDup(s, d, 2, "rp_band_keys_p4", 4),
        (s: SparkSession, d: String) =>
          VectorOps.rpBandedNearDup(s, d, 2, "rp_band_keys_p8", 8)),
      ("v4_knn_join_scaledK",
        VectorOps.knnJoinK(16), VectorOps.knnJoinK(50)),
      ("dd5_rank_upsert_scaledbits",
        RankDedup.rankUpsertQueryPlanes(4), RankDedup.rankUpsertQueryPlanes(7)),
      ("dd6_simhash_pairs_scaledbits",
        graft.operators.DedupOps.simhashPairsAt(8),
        graft.operators.DedupOps.simhashPairsAt(10)),
      // AUTO rows: the same fn on both sides — the operating point is
      // derived from the corpus count inside the operator, so the Nx run
      // must pick the scaled config by itself. Done = the auto row's ratio
      // tracks the manual scaled row's, not the fixed-config row's.
      ("v6_rp_lsh_neardup_auto",
        VectorOps.nearDupPairsAutoQ(2), VectorOps.nearDupPairsAutoQ(2)),
      ("v4_knn_join_auto", VectorOps.knnJoinAutoQ, VectorOps.knnJoinAutoQ),
      ("dd5_rank_upsert_auto",
        RankDedup.rankUpsertQueryPlanes(0), RankDedup.rankUpsertQueryPlanes(0)),
      ("dd6_simhash_pairs_auto",
        graft.operators.DedupOps.simhashPairsAutoQ,
        graft.operators.DedupOps.simhashPairsAutoQ),
      // t7 AUTO: a larger corpus crosses the hashed-gram cutoff, so the
      // broadcast probe switches from ~50-byte strings to 8-byte longs by
      // itself; contrast with the fixed-string t7 row
      ("t7_decontamination_auto",
        graft.operators.TextOps.decontaminationAutoQ,
        graft.operators.TextOps.decontaminationAutoQ),
      ("profile_summary_exact", profileQ(false), profileQ(false)),
      ("profile_summary_approx", profileQ(true), profileQ(true)),
      // dd9's hashing A/B: per-window md5 (O(len·G), the oracle form) vs
      // the Karp-Rabin rolling form (O(len)) over the SAME inventory
      // pipeline — the ratio-of-ratios shows how much of dd9's scale cost
      // is hashing (which the rolling form removes) vs inventory shuffle
      // (which it shares)
      ("dd9_span_grams_rolling",
        graft.operators.DedupOps.spanGramsRolling,
        graft.operators.DedupOps.spanGramsRolling))
    // ClusterIndex.append at 1x vs Nx corpus: the fold's cost contract is
    // batch + touched buckets — and the corpus-derived layout
    // (OperatingPoint.clusterIndexParts / bandIndexBuckets) holds bucket
    // size roughly constant — so folding the SAME fixed-size batch into a
    // 1x- and an Nx-seeded index should cost about the same. Document
    // copies are word-salted per copy so the synthetic corpus doesn't
    // manufacture Nx-sized duplicate clusters (the same decorrelation the
    // embedding copies get above); the batch is salted as copy 0, so it
    // touches the same components at both scales. Seeding (write) is
    // untimed; one warm append absorbs codegen/JIT, a second disjoint
    // batch is timed.
    // Deletion shares the seeded index and the same cost contract: victims
    // are copy-0 docs, so the SAME id set is deleted at both scales and
    // the work is bounded by the victims + their touched components. Each
    // op gets one warm (disjoint) run first to absorb codegen/JIT.
    def clusterMaintSecs(c: Int, tag: String): (Double, Double) = {
      import graft.operators.ClusterIndex
      val cpsC = spark.range(c).select(col("id").as("cp"))
      val salted = Tables.load(spark, base, "documents").crossJoin(cpsC)
        .select((col("doc_id") + col("cp") * 1000000L).as("doc_id"),
          expr("concat_ws(' ', transform(split(text, ' '), " +
            "w -> concat(w, 'c', cast(cp as string))))").as("text"))
      val docsPath = s"$out/salted_docs_$tag"
      salted.write.mode("overwrite").parquet(docsPath)
      val idx = s"$out/probe_cidx_$tag"
      new scala.reflect.io.Directory(new java.io.File(idx)).deleteRecursively()
      ClusterIndex.write(spark.read.parquet(docsPath), idx)
      def batch(off: Long) = Tables.load(spark, base, "documents")
        .filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + off).as("doc_id"),
          expr("concat_ws(' ', transform(split(concat(text, ' zz qq vv'), " +
            "' '), w -> concat(w, 'c0')))").as("text"))
      ClusterIndex.append(batch(900000000L).localCheckpoint(eager = true), idx)
      val b = batch(910000000L).localCheckpoint(eager = true)
      val t0 = System.nanoTime()
      ClusterIndex.append(b, idx)
      val appendSec = (System.nanoTime() - t0) / 1e9
      def victims(m: Int, r: Int) = Tables.load(spark, base, "documents")
        .filter(col("doc_id") % m === r).select("doc_id")
        .localCheckpoint(eager = true)
      ClusterIndex.delete(victims(29, 2), idx)
      val v = victims(23, 1)
      val t1 = System.nanoTime()
      ClusterIndex.delete(v, idx)
      (appendSec, (System.nanoTime() - t1) / 1e9)
    }
    // SpanIndex maintenance at 1x vs Nx corpus: same cost contract as the
    // cluster index — append is batch-bound (pure-gains carrier writes into
    // the batch's buckets) and the ingest scrub probes only the batch's
    // gram buckets, so folding/probing the SAME fixed-size batch against a
    // 1x- and an Nx-seeded index should cost about the same. Document
    // copies are word-salted per copy (same decorrelation as the cluster
    // probe) so the synthetic corpus doesn't make every doc an Nx-way span
    // carrier; batches are salted as copy 0. One warm run per op absorbs
    // codegen/JIT before the timed run.
    def spanMaintSecs(c: Int, tag: String): (Double, Double) = {
      import graft.operators.SpanIndex
      val cpsC = spark.range(c).select(col("id").as("cp"))
      val salted = Tables.load(spark, base, "documents").crossJoin(cpsC)
        .select((col("doc_id") + col("cp") * 1000000L).as("doc_id"),
          expr("concat_ws(' ', transform(split(text, ' '), " +
            "w -> concat(w, 'c', cast(cp as string))))").as("text"))
      val docsPath = s"$out/span_salted_docs_$tag"
      salted.write.mode("overwrite").parquet(docsPath)
      val idx = s"$out/probe_sidx_$tag"
      new scala.reflect.io.Directory(new java.io.File(idx)).deleteRecursively()
      SpanIndex.write(spark.read.parquet(docsPath), idx)
      def batch(off: Long) = Tables.load(spark, base, "documents")
        .filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + off).as("doc_id"),
          expr("concat_ws(' ', transform(split(concat(text, ' zz qq vv'), " +
            "' '), w -> concat(w, 'c0')))").as("text"))
      SpanIndex.append(batch(900000000L).localCheckpoint(eager = true), idx)
      val b = batch(910000000L).localCheckpoint(eager = true)
      val t0 = System.nanoTime()
      SpanIndex.append(b, idx)
      val appendSec = (System.nanoTime() - t0) / 1e9
      val pb = batch(920000000L).localCheckpoint(eager = true)
      SpanIndex.probeScrub(pb, idx).count() // warm
      val t1 = System.nanoTime()
      SpanIndex.probeScrub(pb, idx).count()
      (appendSec, (System.nanoTime() - t1) / 1e9)
    }
    // Rebucket probe: price the geometry step-up at 1x vs Nx index size,
    // and show the artifact is back at its batch-bound design point
    // afterwards. The rebucket itself is an honest FULL rewrite — cost is
    // expected ~linear in index size, amortized across the doublings of
    // appends it buys — so its row documents the price, while the
    // post-rebucket append/scrub rows carry the flat-ratio claim. Each
    // timed rebucket is preceded by a warm one to a DIFFERENT target
    // geometry (both are real rewrites; the first absorbs codegen/JIT).
    def clusterRebucketSecs(c: Int, tag: String): (Double, Double, Double) = {
      import graft.operators.ClusterIndex
      val cpsC = spark.range(c).select(col("id").as("cp"))
      val salted = Tables.load(spark, base, "documents").crossJoin(cpsC)
        .select((col("doc_id") + col("cp") * 1000000L).as("doc_id"),
          expr("concat_ws(' ', transform(split(text, ' '), " +
            "w -> concat(w, 'c', cast(cp as string))))").as("text"))
      val docsPath = s"$out/rebucket_docs_$tag"
      salted.write.mode("overwrite").parquet(docsPath)
      val idx = s"$out/rebucket_cidx_$tag"
      new scala.reflect.io.Directory(new java.io.File(idx)).deleteRecursively()
      val seeded = spark.read.parquet(docsPath)
      ClusterIndex.write(seeded, idx)
      val n = ClusterIndex.meta(spark, idx).n
      def batch(off: Long) = Tables.load(spark, base, "documents")
        .filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + off).as("doc_id"),
          expr("concat_ws(' ', transform(split(concat(text, ' zz qq vv'), " +
            "' '), w -> concat(w, 'c0')))").as("text"))
      // design-point append (warm + timed) on the freshly-derived geometry
      ClusterIndex.append(batch(900000000L).localCheckpoint(eager = true), idx)
      val b1 = batch(910000000L).localCheckpoint(eager = true)
      val tD = System.nanoTime()
      ClusterIndex.append(b1, idx)
      val designAppend = (System.nanoTime() - tD) / 1e9
      // drift the geometry away (warm rewrite), then TIME the production
      // step: rebucket with the REAL count, landing back exactly on the
      // design geometry the OperatingPoint derives
      ClusterIndex.rebucket(spark, idx, Some(n * 16))
      val t0 = System.nanoTime()
      ClusterIndex.rebucket(spark, idx)
      val rebucketSec = (System.nanoTime() - t0) / 1e9
      val b2 = batch(920000000L).localCheckpoint(eager = true)
      val t1 = System.nanoTime()
      ClusterIndex.append(b2, idx)
      (designAppend, rebucketSec, (System.nanoTime() - t1) / 1e9)
    }
    def spanRebucketSecs(c: Int, tag: String): (Double, Double, Double) = {
      import graft.operators.SpanIndex
      val cpsC = spark.range(c).select(col("id").as("cp"))
      val salted = Tables.load(spark, base, "documents").crossJoin(cpsC)
        .select((col("doc_id") + col("cp") * 1000000L).as("doc_id"),
          expr("concat_ws(' ', transform(split(text, ' '), " +
            "w -> concat(w, 'c', cast(cp as string))))").as("text"))
      val docsPath = s"$out/rebucket_span_docs_$tag"
      salted.write.mode("overwrite").parquet(docsPath)
      val idx = s"$out/rebucket_sidx_$tag"
      new scala.reflect.io.Directory(new java.io.File(idx)).deleteRecursively()
      SpanIndex.write(spark.read.parquet(docsPath), idx)
      val n = SpanIndex.meta(spark, idx).n
      def batch(off: Long) = Tables.load(spark, base, "documents")
        .filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + off).as("doc_id"),
          expr("concat_ws(' ', transform(split(concat(text, ' zz qq vv'), " +
            "' '), w -> concat(w, 'c0')))").as("text"))
      // design-point scrub (warm + timed) on the freshly-derived geometry
      val pb = batch(920000000L).localCheckpoint(eager = true)
      SpanIndex.probeScrub(pb, idx).count() // warm
      val tD = System.nanoTime()
      SpanIndex.probeScrub(pb, idx).count()
      val designScrub = (System.nanoTime() - tD) / 1e9
      // drift away (warm rewrite), then TIME the production step back to
      // the real-count design geometry
      SpanIndex.rebucket(spark, idx, Some(n * 16))
      val t0 = System.nanoTime()
      SpanIndex.rebucket(spark, idx)
      val rebucketSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      SpanIndex.probeScrub(pb, idx).count()
      (designScrub, rebucketSec, (System.nanoTime() - t1) / 1e9)
    }
    // IVF retrain probe: seed the index with the K of a 16x-smaller corpus
    // (the index that grew via appends and drifted off K ≈ √n), then time
    // retrainIvfIndex — which grows K back to √n with warm-started Lloyd —
    // and measure the objective (mean assignment cosine) improvement. One
    // retrain per index (it mutates the artifact); write + objective warm
    // the shared plan shapes beforehand.
    def ivfRetrainSecs(d: String, tag: String): (Double, Double) = {
      import graft.operators.VectorOps
      val e = Tables.load(spark, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .localCheckpoint(eager = true)
      val kSmall = math.max(8, math.sqrt(e.count() / 16.0).toInt)
      val p = s"$out/retrain_idx_$tag"
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
      VectorOps.writeIvfIndex(e, kSmall, p)
      val objBefore = VectorOps.ivfObjective(spark, p)
      val t0 = System.nanoTime()
      VectorOps.retrainIvfIndex(spark, p)
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, VectorOps.ivfObjective(spark, p) - objBefore)
    }
    // SQ8 serving probe: seed a full-precision and a quantized IVF index
    // from the same (widened) embeddings with the same √n cell count, then
    // time the SAME probe against both and census index bytes. The scan
    // reduction is the claim (8 B doubles → 1 B codes); the probe-time
    // ratio shows how much of it survives to wall-clock at each corpus
    // scale (at toy scale scheduling dominates; the bytes ratio is the
    // 100 TB number). Seeding is untimed; one warm probe per index
    // absorbs codegen/JIT before the timed run.
    def sq8Secs(d: String, tag: String)
        : (Double, Double, Double, Long, Long, Long) = {
      import graft.operators.VectorOps
      val e = Tables.load(spark, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .localCheckpoint(eager = true)
      val k = math.max(8, math.sqrt(e.count().toDouble).toInt)
      val pF = s"$out/sq8_full_$tag"; val pQ = s"$out/sq8_q8_$tag"
      val pP = s"$out/sq8_pq_$tag"
      Seq(pF, pQ, pP).foreach(p =>
        new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively())
      VectorOps.writeIvfIndex(e, k, pF)
      VectorOps.writeIvfIndexQ8(e, k, pQ)
      VectorOps.writeIvfPqIndex(e, k, pP)
      def bytes(p: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
          else if (f.getName.endsWith(".parquet")) f.length() else 0L
        walk(new java.io.File(s"$p/index"))
      }
      val probe = e.filter(col("vec_id") === 5)
        .collect()(0).getSeq[Double](1)
      def timed(fn: => Long): Double = {
        fn; spark.catalog.clearCache()
        val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
      }
      val tF = timed(VectorOps.ivfProbe(spark, pF, probe, probes = 2).count())
      val tQ = timed(VectorOps.ivfProbeQ8(spark, pQ, probe, probes = 2).count())
      val tP = timed(VectorOps.ivfProbePq(spark, pP, probe, probes = 2).count())
      (tF, tQ, tP, bytes(pF), bytes(pQ), bytes(pP))
    }
    // noop sink, NOT count(): under Aggregate(count(1)) ColumnPruning
    // deletes every deterministic projection, so a map-only query would
    // time as a parquet metadata row-count (the round-10 h1 artifact —
    // 500k docs "processed" in 0.2 s); noop consumes all output columns
    def time(fn: (SparkSession, String) => DataFrame, d: String): Double = {
      def run(): Unit =
        fn(spark, d).write.format("noop").mode("overwrite").save()
      run() // warm: codegen/JIT for this plan shape
      // the timed run must not reuse the warmup's materializations
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      run()
      (System.nanoTime() - t0) / 1e9
    }
    // optional arg 3: comma-separated name filter (substring match) so a
    // single family can be probed without the full sweep. At 100 copies
    // the default set is the two-decade AUTO check (plus the dd7 cluster
    // and t7 broadcast queries, whose scale stories are corpus-derived).
    val nameFilter =
      if (args.length > 2 && args(2).nonEmpty) args(2).split(",").toSeq
      else if (copies != 10)
        Seq("_auto", "dd7_dup_clusters", "profile_summary", "cluster_append")
      else Seq.empty
    val selected = (std ++ scaled).filter { case (n, _, _) =>
      nameFilter.isEmpty || nameFilter.exists(n.contains)
    }
    val rows = selected.map { case (name, fn1, fnN) =>
      val t1 = time(fn1, base)
      val tN = time(fnN, out)
      (name, t1, tN, tN / t1)
    }
    val appendRows =
      if (nameFilter.isEmpty || nameFilter.exists(f =>
          Seq("cluster_append", "cluster_delete").exists(_.contains(f)))) {
        val (a1, d1) = clusterMaintSecs(1, "1x")
        val (aN, dN) = clusterMaintSecs(copies, "nx")
        Seq(("cluster_append", a1, aN, aN / a1),
          ("cluster_delete", d1, dN, dN / d1))
      } else Seq.empty
    val spanRows =
      if (nameFilter.exists(f => "span_maint".contains(f))) {
        val (a1, p1) = spanMaintSecs(1, "1x")
        val (aN, pN) = spanMaintSecs(copies, "nx")
        Seq(("span_append", a1, aN, aN / a1),
          ("span_probe_scrub", p1, pN, pN / p1))
      } else Seq.empty
    val rebucketRows =
      if (nameFilter.exists(f => "rebucket".contains(f))) {
        val (cd1, cr1, ca1) = clusterRebucketSecs(1, "1x")
        val (cdN, crN, caN) = clusterRebucketSecs(copies, "nx")
        val (sd1, sr1, sp1) = spanRebucketSecs(1, "1x")
        val (sdN, srN, spN) = spanRebucketSecs(copies, "nx")
        Seq(("cluster_append_design", cd1, cdN, cdN / cd1),
          ("cluster_rebucket", cr1, crN, crN / cr1),
          ("cluster_append_postrebucket", ca1, caN, caN / ca1),
          ("span_scrub_design", sd1, sdN, sdN / sd1),
          ("span_rebucket", sr1, srN, srN / sr1),
          ("span_scrub_postrebucket", sp1, spN, spN / sp1))
      } else Seq.empty
    // ShardManifest maintenance at 1x vs Nx: append rewrites only the
    // shard partitions the batch lands in — at the fixture's floor S=8 a
    // spread batch touches all 8, so the rewrite is the whole (tiny)
    // manifest and the honest law is rows-per-touched-shard; at the real
    // design point S is corpus-derived (~64k docs/shard) so rows/shard is
    // CONSTANT and append cost is bounded by shards-touched <= batch size.
    // Reshard is priced as the deliberate geometry step (64 -> derived S).
    def manifestSecs(c: Int, tag: String): (Double, Double) = {
      import graft.operators.ShardManifest
      val n = c * 5000L
      def ids(from: Long, cnt: Long) = spark.range(from, from + cnt)
        .select(col("id").as("doc_id"))
      val path = s"$out/probe_manifest_$tag"
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      ShardManifest.write(ids(0, n), path)
      ShardManifest.append(ids(900000000L, 500), path) // warm (codegen/JIT)
      val t0 = System.nanoTime()
      ShardManifest.append(ids(910000000L, 500), path)
      val appendSec = (System.nanoTime() - t0) / 1e9
      val p2 = s"$out/probe_manifest_rs_$tag"
      new scala.reflect.io.Directory(new java.io.File(p2)).deleteRecursively()
      ShardManifest.write(ids(0, n), p2, countEstimate = Some(1L << 22))
      val t1 = System.nanoTime()
      ShardManifest.reshard(spark, p2)
      (appendSec, (System.nanoTime() - t1) / 1e9)
    }
    // The full crawl grain end to end: documents written as an actual
    // WARC archive (response records carrying the h1 fixture HTML), then
    // Sources.warc -> htmlExtractOver timed through the noop sink. Writer
    // detail: Spark's text sink appends \n per row, so each row ends with
    // "\r\n\r" and the sink's \n completes the "\r\n\r\nWARC/" record
    // boundary the reader splits on — framing checked by a count before
    // anything is timed.
    def warcExtractSecs(d: String, tag: String): Double = {
      import graft.operators.TextOps
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val n = docs.count()
      // payload = the full HTTP message (status + blank line + entity);
      // Content-Length declares its octet count (ISO 28500 §5.1) so the
      // probe prices the reader's real length-framed reassembly path
      val payloadExpr = "concat('HTTP/1.1 200 OK', chr(13), chr(10), " +
        "chr(13), chr(10), " + TextOps.htmlFixture("cast(doc_id as string)") + ")"
      val rec = "concat('WARC/1.0', chr(13), chr(10), " +
        "'WARC-Type: response', chr(13), chr(10), " +
        "'WARC-Target-URI: http://corpus.test/', cast(doc_id as string), " +
        "chr(13), chr(10), " +
        "'Content-Type: application/http', chr(13), chr(10), " +
        "'Content-Length: ', cast(octet_length(" + payloadExpr +
        ") as string), chr(13), chr(10), " +
        "chr(13), chr(10), " + payloadExpr + ", " +
        "chr(13), chr(10), chr(13))"
      val wdir = s"$out/probe_warc_$tag"
      new scala.reflect.io.Directory(new java.io.File(wdir)).deleteRecursively()
      docs.select(expr(rec).as("value"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).text(wdir)
      val read = () => graft.sources.Sources.warc(spark, wdir)
      require(read().count() == n, s"WARC framing lost records at $tag")
      def run(): Unit = TextOps.htmlExtractOver(
        read().filter(col("warc_type") === "response")
          .select(col("url").as("doc_id"), col("body").as("html")))
        .write.format("noop").mode("overwrite").save()
      run() // warm
      val t0 = System.nanoTime()
      run()
      (System.nanoTime() - t0) / 1e9
    }
    val warcRows =
      if (nameFilter.exists(f => "warc_extract".contains(f))) {
        val t1 = warcExtractSecs(base, "1x")
        val tN = warcExtractSecs(out, "nx")
        Seq(("warc_extract", t1, tN, tN / t1))
      } else Seq.empty
    val manifestRows =
      if (nameFilter.exists(f => "manifest_maint".contains(f))) {
        val (a1, r1) = manifestSecs(1, "1x")
        val (aN, rN) = manifestSecs(copies, "nx")
        Seq(("manifest_append", a1, aN, aN / a1),
          ("manifest_reshard", r1, rN, rN / r1))
      } else Seq.empty
    val retrainRows =
      if (nameFilter.exists(f => "ivf_retrain".contains(f))) {
        val (r1, g1) = ivfRetrainSecs(base, "1x")
        val (rN, gN) = ivfRetrainSecs(out, "nx")
        Seq(("ivf_retrain", r1, rN, rN / r1),
          ("ivf_retrain_obj_gain", g1, gN, if (g1 != 0) gN / g1 else 0.0))
      } else Seq.empty
    val sq8Rows =
      if (nameFilter.exists(f => "sq8_probe".contains(f))) {
        val (f1, q1, p1, bf1, bq1, bp1) = sq8Secs(base, "1x")
        val (fN, qN, pN, bfN, bqN, bpN) = sq8Secs(out, "nx")
        Seq(("ivf_probe_full", f1, fN, fN / f1),
          ("ivf_probe_q8", q1, qN, qN / q1),
          ("ivf_probe_pq", p1, pN, pN / p1),
          ("sq8_bytes_ratio", bf1.toDouble / bq1, bfN.toDouble / bqN,
            (bfN.toDouble / bqN) / (bf1.toDouble / bq1)),
          ("pq_bytes_ratio", bf1.toDouble / bp1, bfN.toDouble / bpN,
            (bfN.toDouble / bpN) / (bf1.toDouble / bp1)))
      } else Seq.empty
    val qs = (rows ++ appendRows ++ spanRows ++ rebucketRows ++
        warcRows ++ manifestRows ++ retrainRows ++
        sq8Rows).map { case (n, t1, tN, r) =>
      f""""$n":{"t1x":$t1%.3f,"t${copies}x":$tN%.3f,"ratio":$r%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","copies":$copies,"queries":$qs}""")
    spark.stop()
  }
}
