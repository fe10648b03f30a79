package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Skew measurement for the banded LSH self-join (the v6 shape): at 10x
  * data with scaled sign bits, residual super-linearity was attributed to
  * bucket skew — some (band, key) buckets collect far more vectors than
  * others, so one shuffle partition's join work dominates the stage. On a
  * real cluster AQE's skew-join splits that partition; this probe turns the
  * attribution into a local[32] measurement by running the identical join
  * under three configs (AQE off / AQE defaults / AQE with skew thresholds
  * tuned for toy-scale partition sizes) and recording wall time plus the
  * straggler profile (max vs median task duration in the run).
  *
  * Usage: runMain graft.SkewProbe [tenXDir] [baseSfDir]
  * Prints one JSON line; results recorded in BASELINE.md §skew.
  */
object SkewProbe {

  private final class TaskStats extends SparkListener {
    val durations = scala.collection.mutable.ArrayBuffer.empty[Long]
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      if (t.taskInfo != null && t.taskInfo.successful)
        durations += t.taskInfo.duration
    }
  }

  def main(args: Array[String]): Unit = {
    val tenx = args.headOption.getOrElse("target/sfx10")
    val base = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Spark.local(32, 32)

    if (!new java.io.File(s"$tenx/embeddings.parquet").exists())
      ScaleProbe.synth(spark, base, tenx)

    // the measured join: v6 banding at the 10x operating point (8 planes,
    // 2 bands) — the exact plan ScaleProbe's scaled-bits row times
    def run(fname: String): Long =
      graft.operators.VectorOps
        .rpBandedNearDup(spark, tenx, 2, fname, 8).count()

    // Every config sets the FULL key set (runs share one session, so an
    // unset key would leak from the previous config). Toy-scale notes:
    //  - at sf0.1x10 the whole shuffle is ~tens of MB, so the 256MB default
    //    skew threshold never fires → the tuned configs use 1MB thresholds;
    //  - AQE converts this join to broadcast at toy scale (the banded side
    //    materializes small), and a broadcast join has no shuffle partitions
    //    for skew-join to split — the *_smj config pins sort-merge with
    //    broadcast thresholds -1, which is the shape the join has at 100 TB
    //    where neither side broadcasts. That config is the measurement the
    //    skew-resilience claim rests on.
    val defaults = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10m",
      "spark.sql.autoBroadcastJoinThreshold" -> "10m")
    val tuned = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m")
    val noBroadcast = Map(
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val configs = Seq(
      ("aqe_off", defaults + ("spark.sql.adaptive.enabled" -> "false")),
      ("aqe_off_smj", defaults ++ noBroadcast +
        ("spark.sql.adaptive.enabled" -> "false")),
      ("aqe_defaults", defaults),
      ("aqe_skew_tuned", defaults ++ tuned),
      ("aqe_skew_tuned_smj", defaults ++ tuned ++ noBroadcast))

    val rows = configs.map { case (name, confs) =>
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      run(s"skew_warm_$name") // warmup: codegen/JIT for this config's plan
      spark.catalog.clearCache()
      val stats = new TaskStats
      spark.sparkContext.addSparkListener(stats)
      val t0 = System.nanoTime()
      val pairs = run(s"skew_timed_$name")
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(stats)
      val ds = stats.synchronized(stats.durations.sorted.toVector)
      val maxMs = if (ds.nonEmpty) ds.last else 0L
      val p50Ms = if (ds.nonEmpty) ds(ds.length / 2) else 0L
      (name, wall, pairs, maxMs, p50Ms, ds.length)
    }
    val qs = rows.map { case (n, w, p, mx, md, nt) =>
      f""""$n":{"wall_sec":$w%.2f,"pairs":$p,"max_task_ms":$mx,"median_task_ms":$md,"tasks":$nt,"straggler_ratio":${if (md > 0) mx.toDouble / md else 0.0}%.1f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"skew_probe","join":"v6_rp_lsh_neardup@10x_8planes","configs":$qs}""")
    spark.stop()
  }
}
