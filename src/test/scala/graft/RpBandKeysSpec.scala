package graft

import org.apache.spark.sql.functions._
import graft.functions.RpBandKeys

class RpBandKeysSpec extends SparkSpec {
  import spark.implicits._

  // 2 bands x 2 planes over dim-3 vectors, hand-checkable signs
  private val signs = Array(
    Array(1.0, 1.0, 1.0),   // plane 0 (band 0, bit 0)
    Array(-1.0, 1.0, -1.0), // plane 1 (band 0, bit 1)
    Array(1.0, -1.0, 1.0),  // plane 2 (band 1, bit 0)
    Array(-1.0, -1.0, -1.0)) // plane 3 (band 1, bit 1)

  test("band keys match hand-computed sign bits") {
    val df = Seq(Seq(1.0, 2.0, 3.0)).toDF("v")
      .select(RpBandKeys.of(col("v"), signs, 2).as("k"))
    // dots: 6 > 0 (bit0), -2 (no), 2 > 0 (bit0), -6 (no) -> keys [1, 1]
    assert(df.collect()(0).getSeq[Int](0) == Seq(1, 1))
  }

  test("dimension mismatch fails loudly instead of hashing a partial dot") {
    val short = Seq(Seq(1.0, 2.0)).toDF("v")
      .select(RpBandKeys.of(col("v"), signs, 2).as("k"))
    val e = intercept[Exception] { short.collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("plane dimension")))
    // interpreted path enforces the same contract
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Seq(1.0, 2.0), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
    val i = intercept[IllegalArgumentException] {
      RpBandKeys(lit, signs, 2).eval(null)
    }
    assert(i.getMessage.contains("plane dimension"))
  }

  test("array<float> input gets an implicit cast (analysis-time contract)") {
    val df = Seq(Seq(1.0f, 2.0f, 3.0f)).toDF("v")
      .select(RpBandKeys.of(col("v"), signs, 2).as("k"))
    assert(df.collect()(0).getSeq[Int](0) == Seq(1, 1))
    // a non-array input is an analysis error, not a runtime ClassCastException
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1.0).toDF("v").select(RpBandKeys.of(col("v"), signs, 2)).collect()
    }
  }
}
