package graft

/** Focused single-query timing harness: `runMain graft.QueryProbe <name>
  * [sfDir] [runs]` times one SparkEntry query repeatedly under the Bench
  * defaults (median of N is the number to trust — single runs drift ±20%
  * on this box, BASELINE.md §4). For A/B-ing one operator's plan variants
  * without paying a full Bench sweep.
  */
object QueryProbe {
  /** Probe-only names: AUTO/library forms that are not gated queries but
    * need isolated pricing (the BASELINE cost rows). */
  private val extras: Map[String, Q.Q] = Map(
    "t13_perplexity_auto" -> graft.operators.TextOps.perplexityAutoQ) ++
    Bench.scaleNamed.toMap // the ×30 scale rows, for isolated 8c/32c A/Bs

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 5
    // SPARK_GRAFT_CLUSTER_SHAPE=1 reproduces Bench's cluster arm
    // ([[Spark.clusterShape]]) so a per-query ratio can be re-measured in
    // an isolated JVM
    val cluster = sys.env.get("SPARK_GRAFT_CLUSTER_SHAPE").contains("1")
    val cpus = Spark.cores(4)
    val spark = Spark.local(cpus, cpus,
      if (cluster) Spark.clusterShape else Map.empty)
    val fn = SparkEntry.queries.getOrElse(name, extras(name))
    val n = fn(spark, sfDir).count() // row count for the report only
    // warm with the SAME action as the timed runs: a count() warmup plans
    // the PRUNED form, so the first noop run would still pay codegen/JIT
    // of the real projection pipeline and skew the median
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // timed action = noop sink (count() lets ColumnPruning delete the
    // projections of map-only queries — same fix as Bench)
    val times = (1 to runs).map { i =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"$name run $i: $dt%.3f s ($n rows)")
      dt
    }.sorted
    println(f"$name median: ${times(times.length / 2)}%.3f s " +
      f"spread: ${times.last - times.head}%.3f s")
    spark.stop()
  }
}
