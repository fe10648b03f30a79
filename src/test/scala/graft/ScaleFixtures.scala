package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale fixtures: synthesize an N-times copy of a base fixture (keys
  * offset per copy so group/join/session cardinalities scale with the
  * data, as a larger TPC-H SF does). The widened directories feed the
  * scale checks: [[IndependentVerify]] reads them as input data, and
  * VectorGateSpec builds its ×10 fixtures through [[synthDv]]. Writes only under the given output directory.
  *
  * Four modes, one per widening:
  *  - `synth`: [[synth]], the r12 scheme behind target/sf1 and
  *    target/sf10 (copies ≤ 128);
  *  - `relational`: [[synthRelational]], the tie-class sweep fixture
  *    (copies ≤ 1000);
  *  - `dv` / `dvt`: [[synthDv]] without / with planted high-sim twins
  *    (copies ≤ 1000; optional dim 64 or 384).
  *
  * Usage: Test/runMain graft.ScaleFixtures <synth|relational|dv|dvt>
  *   <baseSfDir> <outDir> <copies> [dim]
  */
object ScaleFixtures {

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
    // pair counts would grow c² by construction and a scale run would
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
    // (VectorGateSpec), which is what the high-sim blocking's floors gate.
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
    require(args.length >= 4, "usage: graft.ScaleFixtures " +
      "<synth|relational|dv|dvt> <baseSfDir> <outDir> <copies> [dim]")
    val Array(mode, base, out, cps) = args.take(4)
    val copies = cps.toInt
    val spark = Spark.local(32, 32)
    mode match {
      case "synth" =>
        // rotation gives 64 distinct copies and the sign flip doubles that;
        // copy 128 would equal copy 64 exactly, re-creating the c² pair
        // blowup the decorrelation exists to prevent — refuse loudly
        require(copies >= 1 && copies <= 128,
          s"copies=$copies outside [1,128]: embedding decorrelation repeats " +
            "past 128 (64 rotations x 2 sign patterns)")
        synth(spark, base, out, copies)
      case "relational" => synthRelational(spark, base, out, copies)
      case "dv" | "dvt" =>
        val dim = if (args.length > 4) args(4).toInt else 64
        synthDv(spark, base, out, copies, dim, twins = mode == "dvt")
      case other =>
        spark.stop()
        throw new IllegalArgumentException(s"unknown mode '$other'")
    }
    spark.stop()
    println(s"""{"metric":"scale_fixture","mode":"$mode","copies":$copies}""")
  }
}
