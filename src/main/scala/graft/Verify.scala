package graft
import java.nio.file.{Files, Paths}
import graft.lifecycle.Json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated substring filter, so one family can
    // be re-verified (e.g. against a wider fixture) without the full sweep;
    // the driver's 2-arg invocation is unchanged. oracle_sql.json is
    // filtered identically so tools/check.py checks exactly what ran.
    val (sfDir, outDir, filter) = args match {
      case Array(s, o)    => (s, o, Seq.empty[String])
      case Array(s, o, f) => (s, o, f.split(",").toSeq)
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [filterCsv]")
        sys.exit(2)
    }
    def selected(name: String): Boolean =
      filter.isEmpty || filter.exists(name.contains)
    // Optional shuffle-partition override for big-fixture sweeps: the
    // pinned-config LSH pair families have only ~bands·2^planes distinct
    // join keys, so at sf10 the default cores-sized partitioning
    // serializes the candidate work (BASELINE §5 round 11 — join-KEY
    // cardinality, not partition count, bounds parallelism); 200
    // spreads the keys. The driver's 2-arg/default invocation is
    // unchanged.
    val cpus = Spark.cores(4)
    val spark = Spark.local(cpus, Spark.shufflePartitions(cpus),
      logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    // the driver contract writes one file per query (small fixtures);
    // big-fixture sweeps set SPARK_GRAFT_VERIFY_PARTS to skip the
    // single-threaded coalesce(1) funnel — a 60M-row dump writes 32-way
    // (check.py globs, check_agg/IndependentVerify digest: all
    // order-independent, so the file count is immaterial)
    val parts = sys.env.get("SPARK_GRAFT_VERIFY_PARTS").map(_.toInt)
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        parts.fold(df.coalesce(1))(p => df.repartition(p))
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Json.str escapes every control char: a tab or CR in a query's SQL
    // would otherwise make a strict reader (Python's json.load) reject the
    // file and zero the correctness check
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
