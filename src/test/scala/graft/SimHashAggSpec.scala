package graft

import org.apache.spark.sql.functions._
import graft.functions.SimHashAgg

class SimHashAggSpec extends SparkSpec {
  import spark.implicits._

  test("aggregate matches hand-computed weighted votes") {
    val simhash = SimHashAgg.of(col("wh"), col("w"), 4)
    // votes: wh=0b1010 w=3, wh=0b0110 w=1 →
    //  b0: -3-1=-4, b1: +3+1=4, b2: -3+1=-2, b3: +3-1=2 → bits 1,3 → 0b1010
    val df = Seq((1L, 10L, 3), (1L, 6L, 1)).toDF("id", "wh", "w")
    val r = df.groupBy("id").agg(simhash.as("fp"))
      .collect()
    assert(r(0).getLong(1) == 10L)
    // null inputs are ignored like sum
    val withNulls = Seq((1L, Some(10L), Some(3)), (1L, None, Some(1)),
      (1L, Some(6L), None)).toDF("id", "wh", "w")
    val r2 = withNulls.groupBy("id").agg(simhash.as("fp"))
      .collect()
    // only the (10, 3) row votes: bits 1 and 3 positive
    assert(r2(0).getLong(1) == 10L)
  }

  test("int inputs are implicitly cast to long (no runtime ClassCastException)") {
    val simhash = SimHashAgg.of(col("wh"), col("w"), 8)
    val df = Seq((1, 10, 3), (1, 5, 2)).toDF("id", "wh", "w") // all INT
    val r = df.groupBy("id").agg(simhash.as("fp")).collect()
    // votes: bit0 = -3+2 <= 0, bit1 = +3-2 > 0, bit2 = -3+2 <= 0, bit3 = 3-2 > 0
    assert(r(0).getLong(1) == 10L)
    // a non-castable input type is an analysis error (string would get the
    // standard implicit string->long cast, so probe with an array instead)
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq(1), 2)).toDF("wh", "w").groupBy().agg(simhash).collect()
    }
  }

  test("matches the composed 48-column sum/fold across partition merges") {
    val simhash = SimHashAgg.of(col("wh"), col("w"), 48)
    val tokens = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(word), 1, 12), 16, 10) as bigint)")
          .as("wh"),
        (length(col("word")) % 3 + 1).cast("int").as("w"))
      .repartition(7, col("wh")) // force partial buffers + merge
    val fused = tokens.groupBy("doc_id")
      .agg(simhash.as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sums = (0 until 48).map(b =>
      sum(expr(s"CASE WHEN (wh & ${1L << b}) != 0 THEN w ELSE -w END"))
        .as(s"s_$b"))
    val fp = (0 until 48).map(b =>
      s"CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    val composed = tokens.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), expr(fp).cast("bigint").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused == composed)
  }
}
