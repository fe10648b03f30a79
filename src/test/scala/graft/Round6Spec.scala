package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Round6

/** Bit-equality gate for the fast round6 against Spark's own round(x, 6)
  * — the whole value of the expression is that swapping it into an
  * oracle-gated plan can change NOTHING, so the spec drives the exact
  * adversarial inputs (boundary doubles, ulp neighbours, signed zeros,
  * non-finite) plus a deterministic generative sweep, comparing RAW BITS.
  */
class Round6Spec extends AnyFunSuite with SparkSpec {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Spark's own round(x, 6) via the engine (codegen path). */
  private def sparkRound(xs: Seq[Double]): Seq[Double] = {
    import spark.implicits._
    xs.toDF("x").select(round(col("x"), 6).as("r"))
      .collect().map(_.getDouble(0)).toSeq
  }

  private def ours(xs: Seq[Double]): Seq[Double] = {
    import spark.implicits._
    xs.toDF("x").select(Round6.of(col("x")).as("r"))
      .collect().map(_.getDouble(0)).toSeq
  }

  private def assertBitEqual(xs: Seq[Double]): Unit = {
    val exp = sparkRound(xs); val act = ours(xs)
    val interp = xs.map(Round6.round6) // the non-codegen kernel too
    xs.indices.foreach { i =>
      assert(bits(act(i)) == bits(exp(i)),
        s"codegen: in=${xs(i)} ours=${act(i)} spark=${exp(i)}")
      assert(bits(interp(i)) == bits(exp(i)),
        s"interpreted: in=${xs(i)} ours=${interp(i)} spark=${exp(i)}")
    }
  }

  test("boundary doubles, ulp neighbours, zeros, non-finite — raw-bit equal") {
    val boundaries = (0 until 50).flatMap { k =>
      // exact decimal .5 boundaries at scale 6, positive and negative,
      // plus their ulp neighbours (the fallback band)
      val b = (k * 2654435761L % 1000000).toDouble / 1e6 + 5e-7
      Seq(b, Math.nextDown(b), Math.nextUp(b), -b, -Math.nextDown(b))
    }
    val specials = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.0, -0.0, -1e-7, 1e-7, 4.9e-7, 5.1e-7,
      0.2999995, 0.94, 1.0, -1.0, 100.0, 100.0000005, 101.7, 123.4567895,
      -123.4567895, 1e9, -1e9, 1e300, -1e300, Double.MinPositiveValue)
    // NaN bit patterns: Spark returns the same NaN; compare via isNaN
    val (nan, rest) = (boundaries ++ specials).partition(_.isNaN)
    assertBitEqual(rest)
    nan.foreach(x => assert(Round6.round6(x).isNaN))
  }

  test("generative sweep: 20k deterministic pseudo-random doubles") {
    val xs = (0 until 20000).map { i =>
      val h = i.toLong * 6364136223846793005L + 1442695040888963407L
      val u = ((h >>> 11).toDouble / (1L << 53).toDouble) - 0.5 // [-0.5, 0.5)
      // spread across the cosine range and a few decades
      (i % 5) match {
        case 0 => u * 2.0          // [-1, 1) — the cosine range
        case 1 => u * 2e-6         // sub-resolution values
        case 2 => u * 200.0        // straddles the 100 fast-path bound
        case 3 => u * 2e7          // fallback range
        case _ => (h % 2000000L).toDouble / 1e6 // many exact 6-decimals
      }
    }
    assertBitEqual(xs)
  }
}
