package graft

/** Plan auditor: prints `.explain("formatted")` for the named queries (or a
  * representative default set) so pushdown/broadcast/shuffle shape can be
  * reviewed. Usage: runMain graft.PlanAudit [sfDir] [query ...] */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("p3_conj_filter", "j1_dim_join", "j3_brand_revenue",
        "a12_pricing_summary", "w3_cumsum", "v1_cosine_topk",
        "dd3_lsh_jaccard_pairs", "a3_orders_per_month",
        // v7: the at-rest IVF probe — PartitionFilters on the index scan
        // is the line to look for
        "v7_ivf_at_rest",
        // v9: the SQ8 quantized scan — encode+score must sit in ONE
        // whole-stage-codegen project over the scan, probe broadcast
        "v9_sq8_topk",
        // c1: the composed curation funnel — hash joins only, both filters
        // below the final projection, no materialization between stages
        // downstream of the cluster labels
        "c1_curation_funnel",
        // round-8 continuation: dd10's windows must run over the hit
        // stream only (doc_id partitioning, never SinglePartition); t13's
        // model join must be a BroadcastHashJoin against the token stream;
        // c4's lang-weight join likewise broadcasts with a map-side explode
        "dd10_span_scrub", "t13_perplexity", "c4_mixture_apply")
    // SPARK_GRAFT_CLUSTER_SHAPE=1: audit under Bench's cluster arm
    // ([[Spark.clusterShape]]) to see which joins flip when the optimizer
    // may not broadcast on stats
    val cluster = sys.env.get("SPARK_GRAFT_CLUSTER_SHAPE").contains("1")
    val spark = Spark.local(4, 4,
      if (cluster) Spark.clusterShape else Map.empty)
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
