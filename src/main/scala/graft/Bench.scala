package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. One warmup pass absorbs one-time driver costs
  * (Janino whole-stage-codegen compilation, JIT, parquet footer reads) that
  * are constant per query text; then THREE timed round-robin passes run and
  * the per-query MEDIAN is reported — single steady-state runs drift ±20%
  * on this box (BASELINE.md §4) and medians keep a regression analysis from
  * chasing noise. "spread" records per-query max-min across the timed runs
  * so the reader can see which medians are tight. Each timed run re-does
  * all data work: operator-internal materializations use localCheckpoint
  * (never matched across invocations), and the plan cache is cleared before
  * each timed query so no earlier run's cache() result can be silently
  * reused.
  *
  * Two configs are timed, and both rows ride in the one JSON line:
  *  - the local[32] defaults (shuffle.partitions = cores, broadcast on) —
  *    "queries"/"spread"/"errors"/"value" keep their historical meaning;
  *  - a CLUSTER-SHAPE config under "cluster_queries"/"cluster_spread"/
  *    "cluster_errors": static autoBroadcastJoinThreshold=-1,
  *    AQE runtime autoBroadcastJoinThreshold=10m (what a real cluster
  *    keeps — see [[Spark.clusterShape]]), and
  *    shuffle.partitions=200. A skew probe showed toy-scale plans can invert
  *    under real-cluster settings (BASELINE.md §5); this row makes plan
  *    inversion a tracked number instead of a one-off probe. A query whose
  *    cluster-shape median exceeds 2x its default median is a
  *    broadcast-dependence smell worth reading the plan for. */
object Bench {
  private val TimedRuns = 3

  /** The printed `cluster_config` object, read from the cluster arm's conf
    * map; its text is part of the JSON line's contract and stays fixed. */
  private val clusterConfig: String = {
    val c = Spark.clusterShape
    s"""{"autoBroadcastJoinThreshold":${c("spark.sql.autoBroadcastJoinThreshold")},""" +
      s""""adaptive_autoBroadcastJoinThreshold":"${c("spark.sql.adaptive.autoBroadcastJoinThreshold")}",""" +
      s""""shuffle_partitions":${c("spark.sql.shuffle.partitions")}}"""
  }

  /** The timing ACTION: the `noop` sink, not `count()`. count() plans
    * `Aggregate(count(1))`, under which Catalyst's ColumnPruning
    * legitimately deletes every deterministic projection — a map-only
    * query (h1/h2/t3/t14/t5...) collapses to a parquet metadata
    * row-count and its actual work is never executed (discovered round
    * 10 when h1 "processed" 500k docs in 0.2 s). The noop sink consumes
    * every row of every output column, so projections, HOFs, and regex
    * chains all run; shuffle/agg queries are unaffected either way. */
  private def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Warmup + TimedRuns round-robin passes; per-query (median, spread, ok). */
  private def timeAll(spark: SparkSession, sfDir: String,
      named: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
      : Seq[(String, Double, Double, Boolean)] = {
    named.foreach { case (_, fn) =>
      try materialize(fn(spark, sfDir)) catch { case _: Throwable => () }
    }
    // timed passes, round-robin over the query list so the runs of one
    // query are separated in time (closer to independent samples than
    // back-to-back repeats). clearCache() before every timed query:
    // Spark's CacheManager matches by canonicalized plan, so without it a
    // query whose pipeline calls .cache() would silently reuse an earlier
    // materialization and under-report its cost. A query that throws in
    // any run reports -1 (never a plausible wall-clock) and is listed in
    // its errors array, so a broken query cannot hide in a healthy JSON.
    val samples: Seq[Seq[(String, Double, Boolean)]] = (1 to TimedRuns).map { _ =>
      named.map { case (name, fn) =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val ok = try { materialize(fn(spark, sfDir)); true }
                 catch { case _: Throwable => false }
        (name, if (ok) (System.nanoTime() - t0) / 1e9 else -1.0, ok)
      }
    }
    named.map { case (name, _) =>
      val runs = samples.map(_.find(_._1 == name).get)
      val ok = runs.forall(_._3)
      val times = runs.map(_._2).sorted
      val median = if (ok) times(times.length / 2) else -1.0
      val spread = if (ok) times.last - times.head else -1.0
      (name, median, spread, ok)
    }
  }

  private def jsonRow(results: Seq[(String, Double, Double, Boolean)])
      : (String, String, String, Double) = {
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spreads = results.map { case (k, _, sp, _) =>
      "\"" + k + "\":" + BigDecimal(sp).setScale(4, BigDecimal.RoundingMode.HALF_UP) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, _, true) => v }.sum
    (qs, spreads, failed, total)
  }

  /** OS page-cache pre-touch: stream every fixture byte once before any
    * timing. The round-15 close measured a UNIFORM ~1.33× inflation on a
    * bench taken right after multi-GB fixture builds (73.0 → 59.9 s on an
    * idle re-run, identical code) — cold file-cache state, not a
    * regression. The in-session warmup pass already re-reads the data,
    * but making the touch explicit (and first) takes the cold-start out
    * of the FIRST warmup too and documents the protocol in code: a
    * driver/close comparison should never debate a phantom 33% again
    * (BASELINE §4 protocol paragraph). Cost: one sequential read of the
    * fixture (sf0.1 ≈ 17 MB — microseconds of steady-state noise). */
  private def touchFixture(sfDir: String): Unit = {
    val buf = new Array[Byte](1 << 20)
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().foreach(walk)
      else {
        val in = new java.io.FileInputStream(f)
        try { while (in.read(buf) >= 0) () } finally in.close()
      }
    val root = new java.io.File(sfDir)
    if (root.exists()) walk(root)
  }

  /** ×300 SCALE ROWS (round 17): the sf0.1 suite's sub-2 s queries
    * measure per-query fixed costs (planning, codegen, job launch), so
    * the driver's 8-core arm reads ≈1.00× of its 32-core arm and carries
    * NO parallelism signal (r16 verdict). These three rows time the
    * heaviest MAP-SIDE kernels (WordStats quality features, the
    * ShingleHashes+MinHash index front, SurprisalSum scoring) over a
    * ×300 in-plan expansion of the documents table (≈1.5M docs at
    * sf0.1) — computed from the parquet inputs inside the timed region
    * every run (block-offset ids, ScaleFixtures' id scheme), never
    * persisted. Timed in the DEFAULT arm only and EXCLUDED from
    * "value"/"q_ms"/"n_queries" — the headline metric keeps its
    * historical meaning; the rows ride only the named maps (additive,
    * per the bench contract). Pair-emitting operators are deliberately
    * absent: ×N copies of identical texts would go quadratic in PAIRS,
    * measuring blowup, not parallelism.
    *
    * ×n expansion with the RANGE side streaming: s.range carries
    * defaultParallelism partitions (= the core count), so the expansion
    * runs one task per core against the BROADCAST base corpus — the
    * first cut streamed the parquet side and the whole ×n job ran in the
    * scan's 2 input splits on either core count (then paid a 500 MB
    * repartition shuffle to undo it); this form is map-only AND
    * parallel, which is what lets the 8c/32c ratio carry signal. */
  private def xNdocs(s: SparkSession, d: String, n: Int):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    s.range(n.toLong).select(col("id").as("copy"))
      .crossJoin(broadcast(
        Tables.load(s, d, "documents").select(col("doc_id"), col("text"))))
      .select((col("doc_id") + col("copy") * 10000000L).as("doc_id"),
        col("text"))
  }

  // private[graft]: QueryProbe exposes these for isolated A/B pricing.
  // Factor 300 (≈1.5M docs at sf0.1): measured at ×30 the kernels carry
  // only ~1-3 CORE-seconds of compute against ~0.7 s of fixed job-chain
  // latency, so 8c/32c still read ≈1.0 — the ratio needs compute ≫
  // fixed. The t13 row is the SCORING half only (model trained on the
  // base corpus, one SurprisalSum map over the expansion): building the
  // model inside the row would add its sequential jobs, whose launch
  // latency swamps the signal at any factor.
  private[graft] val scaleNamed: Seq[(String, (SparkSession, String) =>
      org.apache.spark.sql.DataFrame)] = Seq(
    "x300_c3_quality_lr" ->
      ((s, d) => graft.operators.TextOps.qualityLrOf(xNdocs(s, d, 300))),
    "x300_dd2_minhash_index" ->
      ((s, d) => graft.operators.DedupOps.lshDocsOf(xNdocs(s, d, 300))),
    "x300_t13_score" -> ((s, d) => {
      val base = Tables.load(s, d, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
      val (model, oov) = graft.operators.TextOps.unigramModel(base)
      graft.operators.TextOps.surprisalScored(xNdocs(s, d, 300), model, oov)
    }))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Spark.cores(4)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    touchFixture(sfDir)

    val defSpark = Spark.local(cpus, cpus)
    val defResults = timeAll(defSpark, sfDir, named)
    val scaleResults = timeAll(defSpark, sfDir, scaleNamed)
    defSpark.stop()
    val (qs, spreads, failed, total) = jsonRow(defResults)
    val (sqs, _, sfailed, _) = jsonRow(scaleResults)

    val cluSpark = Spark.local(cpus, cpus, Spark.clusterShape)
    val cluResults = timeAll(cluSpark, sfDir, named)
    cluSpark.stop()
    val (cqs, cspreads, cfailed, ctotal) = jsonRow(cluResults)

    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spreads,"runs":$TimedRuns,"errors":$failed,""" +
      s""""scale10_queries":$sqs,"scale10_errors":$sfailed,""" +
      s""""cluster_config":$clusterConfig,""" +
      s""""cluster_total":$ctotal,"cluster_queries":$cqs,"cluster_spread":$cspreads,"cluster_errors":$cfailed,"sf":"$sfDir"}"""
    // Two bare JSON lines (no prefix — build.sbt's StdoutOutput passes the
    // forked stdout through raw, so a line-wise json.loads over the run's
    // output succeeds for the first time; every prior round's line arrived
    // as "[info] {...}" and parsed null).
    //  - an EARLIER full line with the NAMED per-query map (the round-1
    //    stub's documented shape: metric/value/unit/queries/sf) for a
    //    parser that scans the whole log;
    //  - the FINAL line, which must also fit ENTIRELY inside the harness's
    //    2,000-character tail-capture window (measured: a ~2.8 KB line is
    //    front-truncated there). A named map cannot fit — the 108 query
    //    names alone are ~1.8 KB — so the last line carries per-query
    //    MILLISECONDS as integer arrays in sorted-query-name order
    //    (`q_ms`/`cluster_q_ms`; names recoverable from target/bench.json
    //    or any CORRECTNESS file, which use the same sorted order). Full
    //    precision (spreads, cluster map) lands in target/bench.json.
    val r4 = (v: Double) =>
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val r2 = (v: Double) =>
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val qs4 = defResults.map { case (k, v, _, _) => "\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","queries":$qs4,"runs":$TimedRuns,"errors":$failed,""" +
      s""""cluster_config":$clusterConfig,""" +
      s""""cluster_total":${r4(ctotal)},"cluster_errors":$cfailed,"sf":"$sfDir"}"""
    println(compact)
    // a failed query's -1.0 sentinel stays -1 in the ms arrays
    val ms = (v: Double) => if (v < 0) "-1" else math.round(v * 1000).toString
    val qMs = defResults.map { case (_, v, _, _) => ms(v) }
      .mkString("[", ",", "]")
    val cMs = cluResults.map { case (_, v, _, _) => ms(v) }
      .mkString("[", ",", "]")
    val slim =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","runs":$TimedRuns,"errors":$failed,""" +
      s""""cluster_total":${r2(ctotal)},"cluster_errors":$cfailed,"n_queries":${named.length},""" +
      s""""q_ms":$qMs,"cluster_q_ms":$cMs,""" +
      s""""q_order":"queries sorted by name; named map in target/bench.json","sf":"$sfDir"}"""
    // r16's positional line, kept one-before-last so the old numbers stay
    // on the console in the old shape
    println(slim)
    // FINAL line (round 17): the driver keys per-query medians BY NAME
    // from the last JSON line inside its ~2 KB tail-capture window, and
    // r16's positional q_ms left PERF's per_query/geomean/scaling EMPTY
    // for two rounds (verdict item 2). The full 112-name map is 2.6 KB —
    // mathematically over the window (names alone are 1,666 chars) — so
    // this line carries the GREEDY COST-DESC PREFIX of the named map
    // (seconds, 2 decimals; the ×10 scale rows compete by the same rule):
    // as many of the most expensive queries as fit a hard 1,900-char
    // budget (~76 of 112, ~88% of total seconds — computed, not hoped).
    // "q_named" counts what made it; the full map is in target/bench.json
    // and the positional line above. A regression in a sub-10 ms query
    // can hide below the cut; one in anything that MATTERS cannot.
    val entries = (defResults ++ scaleResults)
      .sortBy { case (k, v, _, _) => (-v, k) }
    val base =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","runs":$TimedRuns,"errors":$failed,""" +
      s""""cluster_total":${r2(ctotal)},"cluster_errors":$cfailed,"n_queries":${named.length},"""
    val close = s""""sf":"$sfDir"}"""
    val mapKeys = """"q_named":000,"queries":{},"""
    val sb = new StringBuilder
    var nNamed = 0
    var room = true // STOP at the first non-fit: the map stays a clean
                    // cost-desc prefix, never a cherry-pick of short names
    entries.foreach { case (k, v, _, _) =>
      val e = "\"" + k + "\":" + r2(v)
      val sep = if (nNamed > 0) 1 else 0
      if (room && base.length + mapKeys.length + sb.length + sep +
          e.length + close.length <= 1900) {
        if (nNamed > 0) sb.append(',')
        sb.append(e)
        nNamed += 1
      } else room = false
    }
    println(base + s""""q_named":$nNamed,"queries":{$sb},""" + close)
    // also land the line as a FILE: scraping a JSON line out of sbt/log4j
    // console interleaving is lossy (the driver's per-query map parse has
    // failed on wrapped lines), a file read is not
    val outFile = java.nio.file.Paths.get("target/bench.json")
    java.nio.file.Files.createDirectories(outFile.getParent)
    java.nio.file.Files.write(outFile,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
