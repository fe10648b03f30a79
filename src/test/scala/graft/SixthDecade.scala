package graft

import org.apache.spark.sql.functions._

/** Sixth-decade dump harness (round 13): runs the AUTO operating-point
  * library entrypoints over a widened doc/vector fixture and dumps each
  * result as parquet for [[IndependentVerify]]'s matching `*_auto`
  * recomputes (same outDir layout as Verify, so the IV digest compare is
  * unchanged machinery).
  *
  * Why these are not SparkEntry queries: the pinned queries keep STATIC
  * DuckDB oracle SQL, which is exactly why their blocking constants are
  * pinned; the AUTO siblings derive the blocking from corpus size, so
  * their cross-engine gate is the independent plain-JVM recompute instead.
  * And the pinned forms themselves are not runnable at 1000 copies: their
  * outputs go pair-quadratic past the anchor decade BY DESIGN (the
  * OperatingPoint contract; measured projections from the x10 smoke — e.g.
  * the pinned v3 would emit ~6.2e9 pairs at x1000 — live in BASELINE §5).
  * The AUTO forms hold the pair sets ~linear, which is precisely the
  * behavior the sixth decade needs to witness.
  *
  * Usage: Test/runMain graft.SixthDecade <sfDir> <outDir> [namesCsv]
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE, SPARK_GRAFT_VERIFY_PARTS —
  * same contract as [[Verify]]. */
object SixthDecade {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.SixthDecade <sfDir> <outDir> [namesCsv]")
    val sfDir = args(0); val outDir = args(1)
    val all = Seq("v3_auto", "v6_auto", "v8_auto", "v4_auto", "dd5_auto",
      "dd6w_auto", "v12_auto", "v13_auto", "v13flat_auto", "v13hier_auto",
      "v14_auto")
    val wanted =
      if (args.length >= 3) {
        val fs = args(2).split(",").toSeq
        all.filter(n => fs.exists(n.contains))
      } else all
    val cpus = Spark.cores(4)
    val spark = Spark.local(cpus, Spark.shufflePartitions(cpus),
      logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    val parts = sys.env.get("SPARK_GRAFT_VERIFY_PARTS").map(_.toInt)
    def vecs = {
      graft.functions.CosineSimilarity.register(spark)
      Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    }
    // embedding dim comes from the FIXTURE (the 384-dim arm measures the
    // dimensionality law at the production operating point; the RP-LSH
    // planes must span whatever the data carries)
    lazy val dim = vecs.select(size(col("v"))).head.getInt(0)
    var failed = 0
    wanted.foreach { name =>
      val t0 = System.nanoTime()
      try {
        val df = name match {
          case "v3_auto"  => operators.VectorOps.nearDupPairsAuto(vecs, dim = dim)
          case "v6_auto"  =>
            operators.VectorOps.nearDupPairsAuto(vecs, bands = 2, dim = dim)
          case "v8_auto"  => operators.VectorOps.embedClustersAuto(vecs, dim = dim)
          case "v4_auto"  => operators.VectorOps.knnJoinAuto(vecs)
          case "dd5_auto" => operators.RankDedup.rankUpsertQueryPlanes(0)(spark, sfDir)
          case "v12_auto" =>
            operators.VectorOps.nearDupPairsHighSim(vecs, dim = dim)
          case "v13_auto" =>
            operators.VectorOps.semDedupPairsAuto(vecs)
          case "v13flat_auto" =>
            operators.VectorOps.semDedupPairsFlatAuto(vecs)
          case "v13hier_auto" =>
            operators.VectorOps.semDedupPairsHierAuto(vecs)
          case "dd6w_auto" =>
            // same planted corpus the pinned dd6 and its JVM recompute use,
            // so the wide variant is judged on the identical near-dup structure
            operators.DedupOps.simhashPairsWideAuto(
              operators.DedupOps.plantedCorpus(spark, sfDir))
          case "v14_auto" =>
            operators.VectorOps.embedRetentionAuto(vecs)
        }
        parts.fold(df.coalesce(1))(p => df.repartition(p))
          .write.mode("overwrite").parquet(s"$outDir/$name")
        println(f"dumped $name (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      } catch {
        case e: Throwable =>
          failed += 1
          // e.toString, not getMessage: NPE/OOM messages can be null, and a
          // scripted pipeline must see WHICH exception class fired
          System.err.println(s"[sixth-decade] $name failed: $e")
      }
    }
    spark.stop()
    // a failed dump must fail the process (mirrors IndependentVerify.main):
    // exit 0 here would let a scripted sweep proceed to IV believing every
    // dump landed
    if (failed > 0) sys.exit(1)
  }
}
