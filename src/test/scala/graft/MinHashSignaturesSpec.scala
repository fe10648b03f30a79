package graft

import org.apache.spark.sql.functions._
import graft.functions.MinHashSignatures

class MinHashSignaturesSpec extends SparkSpec {
  import spark.implicits._

  test("fused signatures match hand-computed per-slot minima") {
    val sigs = MinHashSignatures.of(col("hs"), Seq(3L, 5L), Seq(7L, 11L), 97L)
    val df = Seq(Seq(10L, 20L)).toDF("hs")
      .select(sigs.as("s"))
    // slot0: min((3*10+7)%97, (3*20+7)%97) = min(37,67); slot1: min(61,14)
    assert(df.collect()(0).getSeq[Long](0) == Seq(37L, 14L))
  }

  test("matches the composed array_min(transform(...)) form on real hashes") {
    val sigs = MinHashSignatures.of(col("hs"), Seq(3L, 5L), Seq(7L, 11L), 2147483647L)
    val df = Seq(Seq(281474976710655L, 123456789012L, 7L), Seq(42L))
      .toDF("hs")
    val fused = df.select(sigs.as("s")).collect()
      .map(_.getSeq[Long](0))
    val composed = df.select(
      expr("array_min(transform(hs, h -> (3 * (h % 2147483647) + 7) % 2147483647))"),
      expr("array_min(transform(hs, h -> (5 * (h % 2147483647) + 11) % 2147483647))"))
      .collect().map(r => Seq(r.getLong(0), r.getLong(1)))
    assert(fused.toSeq == composed.toSeq)
  }

  test("empty array yields null (list_min parity) and null stays null") {
    val sigs = MinHashSignatures.of(col("hs"), Seq(3L), Seq(7L), 97L)
    val df = Seq((1, Seq.empty[Long]), (2, Seq(5L))).toDF("id", "hs")
      .withColumn("s", sigs)
    val rows = df.orderBy("id").collect()
    assert(rows(0).isNullAt(2) && !rows(1).isNullAt(2))
    val nullIn = Seq((1, null.asInstanceOf[Seq[Long]])).toDF("id", "hs")
      .withColumn("s", sigs).collect()
    assert(nullIn(0).isNullAt(2))
  }

  test("array<int> input is implicitly cast, not misread via getLong") {
    val sigs = MinHashSignatures.of(col("hs"), Seq(3L, 5L), Seq(7L, 11L), 97L)
    val df = Seq(Seq(10, 20)).toDF("hs")
      .select(sigs.as("s"))
    assert(df.collect()(0).getSeq[Long](0) == Seq(37L, 14L))
    // non-array input is an analysis error
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("hs").select(sigs).collect()
    }
  }

  test("interpreted eval agrees with codegen path") {
    // force interpreted evaluation via the expression's eval directly
    val e = MinHashSignatures(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(10L, 20L), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      Array(3L, 5L), Array(7L, 11L), 97L)
    val out = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    assert(out.toSeq == Seq(37L, 14L))
  }
}
