package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Self-checking occupancy/candidate gate for the full-scale sweep scripts
  * (round-16 verdict item: "make the ×1000 sweep self-checking on
  * occupancy"). The round-15 sign-family bug ground full-scale runs for
  * hours because nothing asserted that the blocking's candidate count
  * actually followed the n²/2^planes math — the VectorGateSpec gate runs
  * at ×10, but the ×1000 evidence was a log line a human had to read.
  * This main runs BEFORE the dumps in a sweep script and exits nonzero on
  * a blowout, so the next entropy-class regression fails a fast probe
  * instead of a multi-hour grind.
  *
  * Checks, at the AUTO operating point derived from the fixture:
  *  - candidate pairs (Σ C(occ,2) over (band,key) buckets) ≤ cap·n — the
  *    same 500·n budget VectorGateSpec pins at ×10 (anchor occupancy
  *    ~125/bucket ⟹ ~250·n uniform; 2× headroom for real-data skew; the
  *    r15 broken family sat 196-1,646× above the math);
  *  - max bucket occupancy ≤ 64 × n/2^planes uniform envelope — a single
  *    hot bucket (the mean-shift / correlated-bit signature) fails even
  *    when totals still look linear.
  *
  * Usage: Test/runMain graft.OccupancyGate <sfDir> [bands=4] [capPerN=500]
  * Exit 0 = within budget, 1 = blowout (message names the failing check).
  */
object OccupancyGate {

  final case class Stats(n: Long, planes: Int, buckets: Long, maxOcc: Long,
      candidates: Long)

  /** The gate predicate, separated from main so the spec can drive it
    * against a deliberately broken configuration (the negative test the
    * verdict asked for: the assert itself must be shown to fire). */
  def check(st: Stats, bands: Int, capPerN: Long): Either[String, String] = {
    val candCap = capPerN * st.n
    val occEnvelope = math.max(64L,
      64L * st.n / math.max(1L, 1L << st.planes))
    if (st.candidates > candCap)
      Left(f"candidates ${st.candidates}%,d exceed ${capPerN}·n = $candCap%,d " +
        f"(n=${st.n}%,d planes=${st.planes} bands=$bands) — key entropy " +
        "regression? (r15 class: correlated sign bits)")
    else if (st.maxOcc > occEnvelope)
      Left(f"max bucket occupancy ${st.maxOcc}%,d exceeds the 64× uniform " +
        f"envelope $occEnvelope%,d (n=${st.n}%,d planes=${st.planes}) — " +
        "hot-bucket signature (mean shift / correlated bits)")
    else
      Right(f"occupancy OK: n=${st.n}%,d planes=${st.planes} bands=$bands " +
        f"buckets=${st.buckets}%,d maxocc=${st.maxOcc}%,d " +
        f"candidates=${st.candidates}%,d (cap $candCap%,d)")
  }

  /** Bucket stats of the v-family AUTO blocking over a (vec_id, v) frame
    * at an explicit plane count (planes ≤ 0 → derive from n and dim). */
  def stats(e: DataFrame, bands: Int, planesIn: Int = 0): Stats = {
    val s = e.sparkSession
    val n = e.count()
    val dim = e.select(size(col("v"))).head.getInt(0)
    val planes =
      if (planesIn > 0) planesIn
      else operators.OperatingPoint.rpPlanesPerBand(n, dim)
    val signs = Array.tabulate(bands * planes, dim) { (j, k0) =>
      if (((operators.VectorOps.mix64((j.toLong << 32) | (k0 + 1).toLong)
        >>> 33) & 1L) == 0L) 1.0 else -1.0
    }
    functions.RpBandKeys.register(s, signs, planes, s"occ_gate_${bands}_$planes")
    val st = e.select(posexplode(expr(s"occ_gate_${bands}_$planes(v)"))
        .as(Seq("b", "key")))
      .groupBy("b", "key").count()
      .agg(count(lit(1)).as("buckets"), max("count").as("maxocc"),
        sum(col("count") * (col("count") - 1) / 2).as("cands")).head
    Stats(n, planes, st.getLong(0), st.getLong(1), st.getDouble(2).toLong)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: OccupancyGate <sfDir> [bands] [capPerN]")
    val sfDir = args(0)
    val bands = if (args.length > 1) args(1).toInt else 4
    val capPerN = if (args.length > 2) args(2).toLong else 500L
    val spark = Spark.local(Spark.cores(16), Spark.shufflePartitions(32))
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint()
    val result = check(stats(e, bands), bands, capPerN)
    spark.stop()
    result match {
      case Right(msg) => println(s"[occupancy-gate] $msg")
      case Left(msg) =>
        System.err.println(s"[occupancy-gate] FAIL $msg")
        sys.exit(1)
    }
  }
}
