package graft

import org.apache.spark.sql.functions._
import graft.functions.SketchHammingGate

/** The sketch gate's skew cap: a bucket past [[SketchHammingGate.MaxBucket]]
  * members must fail loudly with the remedy instead of enumerating its
  * C(m,2) pairs in one task. */
class SketchHammingGateSpec extends SparkSpec {

  test("skew cap fails loudly on a bucket of 65,537 members") {
    assert(SketchHammingGate.MaxBucket == 65536)
    // constant band key => one bucket of MaxBucket + 1 members
    val members = spark.range(SketchHammingGate.MaxBucket + 1L)
      .select(lit(0).as("b"), lit(0L).as("key"),
        struct(col("id").as("vec_id"), col("id").as("s0"),
          col("id").as("s1")).as("m"))
    val ex = intercept[Exception] {
      members.groupBy(col("b"), col("key"))
        .agg(collect_list(col("m")).as("ms"))
        .select(SketchHammingGate.of(col("ms"), 0).as(Seq("a_id", "b_id")))
        .count()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.toString +: chain(t.getCause)
    assert(chain(ex).exists(_.contains("skew cap")),
      s"expected the skew-cap message in: ${chain(ex)}")
  }
}
