package graft

import org.apache.spark.sql.SparkSession

/** The one recipe for an engine session (SURVEY §7.5): every main and the
  * test suite build their `SparkSession` here, so the runtime policy is
  * written once:
  *  - `local[cores]` and the shuffle partition count;
  *  - UTC session time zone;
  *  - the ObjectHashAggregate sort-based fallback threshold;
  *  - UI off;
  *  - [[graft.plans.GraftExtensions]] (so `cosine_sim` resolves in every
  *    session, including `newSession()` clones);
  *  - the parquet [[readPolicy]].
  * A caller passes only what differs for it (`extra`, applied last). */
object Spark {

  /** Parquet read policy (TESTDATA.md, [[Tables]]): ns-precision
    * timestamps read as raw longs, and non-UTC-adjusted timestamps infer as
    * TIMESTAMP_NTZ. Spark 4.1 has no per-read option for either (both are
    * SQLConf reads), so the policy is fixed when the session is built: a
    * read's schema never depends on which read ran first. */
  val readPolicy: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true")

  /** Bench's cluster arm, shared with QueryProbe: 200 shuffle
    * partitions and the STATIC broadcast threshold off, because cluster
    * planners lack file-size statistics for intermediate frames — but a real
    * cluster still broadcasts at RUNTIME when AQE measures an exchange
    * small (AQE's own threshold; r13's isolated QueryProbe A/B pinned c1's
    * 2x cluster ratio to this one knob: 4.23 s -> 2.80 s with the runtime
    * threshold restored). */
  val clusterShape: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "200",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10m")

  /** `SPARK_GRAFT_CPUS`, else the caller's default. */
  def cores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** `SPARK_GRAFT_SHUFFLE`, else the caller's default. */
  def shufflePartitions(default: Int): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE").fold(default)(_.toInt)

  def local(cores: Int, shufflePartitions: Int,
      extra: Map[String, String] = Map.empty,
      logLevel: String = "ERROR"): SparkSession = {
    val conf = Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      // TopKRows (TypedImperativeAggregate) plans as ObjectHashAggregate,
      // whose sort-based fallback fires at 128 distinct keys by default —
      // the heap buffers are <= k tiny rows each, so the hash path is safe
      // far beyond the per-task group counts these plans produce
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
        (1 << 21).toString,
      "spark.ui.enabled" -> "false") ++ readPolicy ++ extra
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config(conf)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
