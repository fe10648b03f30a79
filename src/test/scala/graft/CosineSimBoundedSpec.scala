package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{CosineSimBounded, CosineSimilarity, Round6, RpBandKeys}
import graft.operators.VectorOps

/** Gates for the early-exit candidate verify (round 15): the load-bearing
  * property is that the bounded form is INVISIBLE in output — every
  * surviving pair and every surviving sim bit-identical to the
  * CosineSimilarity plan — while abandoning provably-sub-threshold pairs
  * partway through the dot. */
class CosineSimBoundedSpec extends SparkSpec {
  import spark.implicits._

  private def frame(vs: (Long, Seq[Double])*) =
    vs.toDF("id", "v").withColumn("sfx", CosineSimBounded.sufSq(col("v")))

  /** `cosine_sim_bounded(a.v, x.v, a.sfx, x.sfx, pruneBelow)`. */
  private def boundedSim(pruneBelow: Double) = CosineSimBounded.of(col("a.v"),
    col("x.v"), col("a.sfx"), col("x.sfx"), pruneBelow)

  /** Deterministic pseudo-random unit-ish vector. */
  private def vec(seed: Int, dim: Int): Seq[Double] =
    (0 until dim).map { k =>
      val x = (seed * 1024 + k + 7).toLong * 6364136223846793005L + 11L
      ((x >>> 11).toDouble / (1L << 53).toDouble) - 0.5
    }

  test("vec_sufsq: element 0 is the exact forward norm-square; suffixes cover") {
    val v = vec(1, 384)
    val row = frame((1L, v)).select(col("sfx")).head.getSeq[Double](0)
    assert(row.length == 6)
    // forward order exactly (left-assoc double sum)
    var fwd = 0.0
    v.foreach(x => fwd += x * x)
    assert(row.head == fwd)
    // suffix invariants: nonincreasing in j, and each >= the true suffix
    // computed forward minus float slack
    (1 until 6).foreach { j =>
      var s = 0.0
      (j * 64 until 384).foreach(i => s += v(i) * v(i))
      assert(math.abs(row(j) - s) <= 1e-12 * s, s"j=$j")
      assert(row(j) <= row(j - 1))
    }
    // 64-dim vector: single entry, no checkpoints
    assert(frame((2L, vec(2, 64))).select(col("sfx"))
      .head.getSeq[Double](0).length == 1)
  }

  test("survivors are bit-identical to cosine_sim; sub-threshold pairs prune") {
    val n = 40
    val rows = (0 until n).map(i => (i.toLong, vec(i, 384)))
    // plant a high-sim pair: 40 = tiny perturbation of 0
    val planted = rows :+ (40L -> rows.head._2.zipWithIndex.map {
      case (x, k) => if (k == 0) x + 1e-4 else x
    })
    val df = frame(planted: _*)
    val joined = df.as("a").crossJoin(df.as("x"))
      .filter(col("a.id") < col("x.id"))
    val exact = joined.select(col("a.id"), col("x.id"),
        CosineSimilarity.of(col("a.v"), col("x.v")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bounded = joined.select(col("a.id"), col("x.id"),
        boundedSim(0.299999).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.keySet == bounded.keySet)
    var prunedCount = 0
    exact.foreach { case (k, e) =>
      val b = bounded(k)
      if (b == -2.0) {
        prunedCount += 1
        assert(e < 0.299999, s"pair $k pruned but exact sim $e >= floor")
      } else assert(b == e, s"pair $k: bounded $b != exact $e (bit-equality)")
    }
    // the planted near-identical pair must survive with its exact sim
    assert(bounded((0L, 40L)) == exact((0L, 40L)) && exact((0L, 40L)) > 0.99)
    // random 384-dim pairs concentrate near 0; at the 0.30 floor the
    // Cauchy-Schwarz bound can only fire once enough energy is consumed
    // (remaining-energy fraction must drop under floor - partial dot), so
    // expect a majority — not all — of the 820 pairs to abandon
    // (measured: 549)
    assert(prunedCount > 400, s"only $prunedCount pairs pruned — bound inert?")
  }

  test("zero norms and nulls behave like cosine_sim") {
    val z = Seq.fill(384)(0.0)
    val df = frame((1L, z), (2L, vec(2, 384)))
    val out = df.as("a").crossJoin(df.as("x")).filter(col("a.id") < col("x.id"))
      .select(boundedSim(0.3))
      .head.getDouble(0)
    assert(out == 0.0)
  }

  test("end-to-end: banded near-dup output identical with early exit on/off") {
    // the early exit must be invisible in output (what makes the r15
    // wiring digest- and oracle-safe): same pair set, same sims as the
    // full-dot form of the same banded self-join, on the 384-dim planted
    // fixture
    val base = (0 until 60).map(i => (i.toLong, vec(i, 384))) ++
      (0 until 6).map(i => (100L + i,
        vec(i, 384).map(x => x * 1.0000001)))
    val e = frame(base: _*).select(col("id").as("vec_id"), col("v"))
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val withExit = pairs(VectorOps.rpBandedNearDupOver(e, bands = 4,
      planes = 7, dim = 384))
    val bk = e.select(col("vec_id"), col("v"),
      posexplode(RpBandKeys.of(col("v"), VectorOps.rpSignMatrix(4, 7, 384), 7))
        .as(Seq("b", "key")))
    val fullDot = pairs(bk.as("a").join(bk.as("x"),
        col("a.b") === col("x.b") && col("a.key") === col("x.key") &&
          col("a.vec_id") < col("x.vec_id"))
      .select(col("a.vec_id"), col("x.vec_id"),
        Round6.of(CosineSimilarity.of(col("a.v"), col("x.v"))).as("sim"))
      .filter(col("sim") >= 0.30)
      .distinct())
    assert(withExit == fullDot)
    assert(withExit.nonEmpty)
  }
}
