package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planted-truth recall of the embedding near-dup blockers, split by sim
  * band — the round-16 verdict's missing number ("a measured high-sim
  * recall for AUTO RP-LSH blocking at ×1000"), the embedding-family
  * counterpart of the dd6w recall row in BASELINE.md §5 round 15.
  *
  * Runs on the TWIN fixtures (`ScaleProbe.synthDv(..., twins = true)` —
  * every 17th base vector gets a planted high-sim twin at id + 500,000,
  * cosines ≈ 0.82-0.96, replicated EXACTLY into every copy by the
  * shared-rotation construction). Truth is computed from the fixture
  * itself: copy-0 twin-pair cosines give the ≥0.8 planted set (by
  * measured band), and a copy-0 brute-force sweep gives the ≥0.30 set.
  * A blocker's found-pair dump is then scored per band as
  * found / (planted × copies).
  *
  * Usage: runMain graft.RpRecallProbe <sfDir> <v3|hs|sem|dump> [dumpDir]
  *  - v3:   run [[graft.operators.VectorOps.nearDupPairsAuto]] (threshold
  *          0.30) — the candidates-linear survey point whose recall DECAYS
  *          with corpus size by construction (the number this probe makes
  *          visible)
  *  - hs:   run [[graft.operators.VectorOps.nearDupPairsHighSim]]
  *          (threshold 0.8, target recall 0.9) — the recall-targeted point
  *  - sem:  run [[graft.operators.VectorOps.semDedupPairsAuto]]
  *          (threshold 0.8) — the LEARNED-cell blocker (SemDeDup shape),
  *          scored on the same planted truth as the LSH arms; `semflat` /
  *          `semhier` pin the flat / two-level arm for A/Bs; a `:<occ>`
  *          suffix (e.g. `semflat:192`) sets the occupancy dial and also
  *          prints the measured candidate bill for the (c, candidates,
  *          recall) trade rows
  *  - dump: score an existing pair dump at [dumpDir] (a_id, b_id, sim)
  */
object RpRecallProbe {

  private val SemOcc = "(sem|semflat|semhier):(\\d+)".r

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RpRecallProbe <sfDir> " +
      "<v3|hs|sem|semflat|semhier|sem[flat|hier]:<occ>|dump> [dumpDir]")
    val sfDir = args(0); val mode = args(1)
    val spark = Spark.local(Spark.cores(16), Spark.shufflePartitions(32))
    graft.functions.CosineSimilarity.register(spark)
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint()
    val n = e.count()
    val dim = e.select(size(col("v"))).head.getInt(0)
    val copies = e.agg(max(col("vec_id"))).head.getLong(0) / 1000000L + 1L
    println(s"n=$n dim=$dim copies=$copies mode=$mode")

    // planted truth from copy 0: twin pairs (id, id + 500000) by measured
    // band, plus the base brute-force ≥0.30 set (the v3-gate band)
    val base = e.filter(col("vec_id") < 1000000L).localCheckpoint()
    val twins = base.filter(col("vec_id") >= 500000L)
      .select((col("vec_id") - 500000L).as("pa"), col("v").as("tv"))
    val truthTwin = base.join(twins, base("vec_id") === twins("pa"))
      .select(col("pa"), (col("pa") + 500000L).as("pb"),
        expr("round6(cosine_sim(v, tv))").as("ts"))
      .localCheckpoint()
    val truthAll = base.as("a").crossJoin(base.as("x"))
      .filter(col("a.vec_id") < col("x.vec_id"))
      .select(col("a.vec_id").as("pa"), col("x.vec_id").as("pb"),
        expr("round6(cosine_sim(a.v, x.v))").as("ts"))
      .filter(col("ts") >= 0.30)
      .localCheckpoint()

    val found: DataFrame = (mode match {
      case "v3" => graft.operators.VectorOps
        .nearDupPairsAuto(e, countEstimate = Some(n), dim = dim)
      case "hs" => graft.operators.VectorOps
        .nearDupPairsHighSim(e, countEstimate = Some(n), dim = dim)
      case "sem" => graft.operators.VectorOps
        .semDedupPairsAuto(e, countEstimate = Some(n))
      case "semflat" => graft.operators.VectorOps
        .semDedupPairsFlatAuto(e, countEstimate = Some(n))
      case "semhier" => graft.operators.VectorOps
        .semDedupPairsHierAuto(e, countEstimate = Some(n))
      // occupancy-dial arms (`semflat:192` etc.): the recall-vs-candidates
      // trade the sem family's targetOccupancy parameter exposes, measured
      // against the same planted truth
      case SemOcc(arm, occ) =>
        val c = occ.toInt
        val k = graft.operators.OperatingPoint.semDedupCells(n, c)
        val cands = graft.operators.VectorOps.semDedupCandidateCount(
          e, k, 3, hier = arm == "semhier")
        println(f"occupancy=$c K=$k candidates=$cands%,d " +
          f"(${cands.toDouble / n}%.1f·n, family cap 500·n)")
        arm match {
          case "sem" => graft.operators.VectorOps
            .semDedupPairsAuto(e, countEstimate = Some(n),
              targetOccupancy = c)
          case "semflat" => graft.operators.VectorOps
            .semDedupPairsFlatAuto(e, countEstimate = Some(n),
              targetOccupancy = c)
          case _ => graft.operators.VectorOps
            .semDedupPairsHierAuto(e, countEstimate = Some(n),
              targetOccupancy = c)
        }
      case "dump" => spark.read.parquet(args(2))
      case other => sys.error(s"unknown mode $other")
    }).select(col("a_id"), col("b_id"))
    // within-copy pairs mapped back to base coordinates
    val foundBase = found
      .filter((col("a_id") / 1000000L).cast("long") ===
        (col("b_id") / 1000000L).cast("long"))
      .select((col("a_id") % 1000000L).as("pa"),
        (col("b_id") % 1000000L).as("pb"))
      .localCheckpoint()

    def report(label: String, truth: DataFrame, lo: Double, hi: Double): Unit = {
      val t = truth.filter(col("ts") >= lo && col("ts") < hi).localCheckpoint()
      val planted = t.count()
      if (planted == 0) { println(f"$label%-14s planted=0 (band empty)"); return }
      val hits = foundBase.join(t, Seq("pa", "pb")).count()
      val denom = planted * copies
      println(f"$label%-14s planted=$planted%,d x$copies = $denom%,d " +
        f"found=$hits%,d recall=${hits.toDouble / denom}%.4f")
    }
    report("twin[0.9,1.0]", truthTwin, 0.9, 2.0)
    report("twin[0.8,0.9)", truthTwin, 0.8, 0.9)
    report("twin[0.3,0.8)", truthTwin, 0.3, 0.8)
    report("all >=0.8", truthAll, 0.8, 2.0)
    report("all [0.3,0.8)", truthAll, 0.3, 0.8)
    spark.stop()
  }
}
