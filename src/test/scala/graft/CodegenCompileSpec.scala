package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{CosineSimBounded, CosineSimilarity, Md5Prefix,
  MinHashSignatures, Round6, ShingleHashes}

/** Regression gate for the round-17 codegen-fallback find: a companion
  * method named `eval` gets NO static forwarder on the expression class
  * (Expression.eval shadows it), so the generated code's static call
  * fails Janino compilation and the whole stage silently falls back out
  * of whole-stage codegen — the bench log showed 78+15 CompileExceptions
  * per run for ShingleHashes.eval / Md5Prefix.eval while every plan
  * LOOKED fused. This suite disables the silent fallback
  * ([[SparkSpec.withCodegenOnly]]) and
  * drives each custom expression through a real whole-stage-codegen
  * stage, so a forwarder regression fails loudly instead of slowly. */
class CodegenCompileSpec extends SparkSpec {

  import spark.implicits._

  /** (doc_id, text, v) rows; `text` and `v` are nullable columns. Built
    * from an RDD, not a local Seq: ConvertToLocalRelation would evaluate a
    * projection over a LocalRelation interpreted, with no codegen at all. */
  private def fixture: DataFrame =
    spark.sparkContext.parallelize(Seq(
      (1L, "the quick brown fox jumps over the lazy dog",
        Seq(0.1, 0.2, 0.3, 0.4)),
      (2L, "a b  c", Seq(0.5, 0.0, -0.2, 0.9)),
      (3L, "", Seq(0.0, 0.0, 0.0, 0.0))
    ), 1).toDF("doc_id", "text", "v")

  /** Drives every custom expression over `df` in one codegen-only stage
    * and spot-checks one value each so the expressions genuinely ran. */
  private def driveAll(df0: DataFrame): Unit = {
    val df = df0.withColumn("words", split(col("text"), " "))
    val out = withCodegenOnly {
      df.select(col("doc_id"),
          ShingleHashes.shingles(col("words")).as("sh"),
          ShingleHashes.gramStrings(col("words"), 2).as("gs"),
          Md5Prefix.of(col("text"), 12).as("mp"),
          Round6.of(expr("cast(size(words) as double) / 7.0")).as("r6"),
          CosineSimilarity.of(col("v"), col("v")).as("cs"),
          CosineSimBounded.of(col("v"), col("v"),
            CosineSimBounded.sufSq(col("v")), CosineSimBounded.sufSq(col("v")),
            0.5).as("csb"),
          MinHashSignatures.of(ShingleHashes.shingles(col("words")),
            Seq(3L, 5L), Seq(7L, 11L), 4294967311L).as("mh"),
          element_at(graft.functions.TopCells.top(col("v"), 1,
            Array((0, Array(0.1, 0.2, 0.3, 0.4)),
              (1, Array(-0.5, 0.1, 0.0, 0.2)))), 1).as("tc"),
          graft.operators.TextOps.wordStats(col("text")).as("wst"),
          graft.functions.SimHashText.of(col("text"), 12, 48, null)
            .as("sht"),
          graft.functions.SimHashText.of(col("text"), 12, 48, {
            val m = new java.util.HashMap[
              org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
            m.put(org.apache.spark.unsafe.types.UTF8String.fromString("the"),
              java.lang.Long.valueOf(4L))
            m
          }).as("shtw"),
          graft.functions.SurprisalSum.score(col("text"), {
            val m = new java.util.HashMap[
              org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
            m.put(org.apache.spark.unsafe.types.UTF8String.fromString("the"),
              java.lang.Long.valueOf(-100L))
            m
          }, -999L).as("sps"))
        .collect()
    }
    assert(out.length == 3)
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getAs[scala.collection.Seq[Long]]("sh").nonEmpty)
    assert(r1.getAs[Long]("mp") ==
      graft.functions.Md5Prefix.evalPrefix(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          "the quick brown fox jumps over the lazy dog"), 12))
  }

  test("every registered scalar expression codegen-compiles (no silent fallback)") {
    driveAll(fixture)
  }

  // dd4 filters `text IS NOT NULL` before simhash_text: the FilterExec
  // output the expressions bind to is then non-nullable, and a
  // non-nullable expression gets no isNull variable to assign
  test("every registered scalar expression codegen-compiles over non-nullable children") {
    val df = fixture.filter(col("text").isNotNull && col("v").isNotNull)
    driveAll(df)
  }
}
