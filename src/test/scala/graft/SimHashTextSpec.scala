package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.DedupOps

/** Equality gate for the fused SimHashText fingerprint against the
  * composed explode [→ df-weight join] → aggregate forms it replaced —
  * the dd4/dd6 oracle hashes ride on the per-document fingerprints
  * being bit-identical across both the unweighted (dd4) and
  * IDF-weighted (dd6) arms. */
class SimHashTextSpec extends SparkSpec {

  import spark.implicits._

  /** The composed form [[DedupOps.simhashOf]] replaced: explode words,
    * sum per-bit ±1 votes of the digest-prefix word hash, fold the sign
    * of each sum into the fingerprint. */
  private def simhashOfComposed(df: DataFrame, bits: Int,
      digits: Int): DataFrame = {
    val sums = (0 until bits).map(b =>
      sum(expr(s"CASE WHEN (wh & ${1L << b}) != 0 THEN 1 ELSE -1 END"))
        .as(s"s_$b"))
    val fp = (0 until bits).map(b =>
      s"CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    df.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      // fused digest-prefix word hash — identical to the former
      // md5 → substring(1, digits) → conv base-16 chain (Md5PrefixSpec)
      .select(col("doc_id"),
        graft.functions.Md5Prefix.of(col("word"), digits).as("wh"))
      .groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), expr(fp).cast("bigint").as("simhash"))
  }

  private def toMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  private val adversarial = Seq(
    "", "a", " ", "  ", "a ", " a", "a  b", "the the the",
    "zz yy xx zz yy", "héllo wörld zz ünïcode",
    "x" * 300 + " zz " + "y" * 300,
    (1 to 200).map(i => Seq("the", "w" + i % 9, "", "of")(i % 4))
      .mkString(" "))
    .zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("unweighted fused == composed (several widths) incl. null text") {
    val docs = (adversarial :+ (999L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    for ((bits, digits) <- Seq((48, 12), (60, 15), (24, 6))) {
      val fused = toMap(DedupOps.simhashOf(docs, bits, digits))
      val composed = toMap(simhashOfComposed(docs, bits, digits))
      assert(fused == composed, s"unweighted arms differ at bits=$bits")
      assert(!fused.contains(999L), "null text must be dropped")
    }
  }

  test("weighted fused == composed on the sf0.001 documents corpus") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    for (bits <- Seq(48, 60)) {
      val fused = toMap(DedupOps.weightedSimhash48(spark, docs, bits))
      val composed = toMap(DedupOps.weightedSimhashJoin(spark, docs, bits))
      assert(fused == composed, s"weighted arms differ at bits=$bits")
    }
  }

  test("weighted fused == composed generative (empty tokens, repeats)") {
    val rnd = new scala.util.Random(20260818)
    val vocab = Seq("the", "a", "of", "zz", "yy", "", "thé", "rare1",
      "rare2", "x9", "midfreq")
    val texts = Seq.fill(300) {
      Seq.fill(1 + rnd.nextInt(16))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
    }
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val fused = toMap(DedupOps.weightedSimhash48(spark, docs, 48))
    val composed = toMap(DedupOps.weightedSimhashJoin(spark, docs, 48))
    assert(fused == composed)
  }

  test("fused plan is map-only: no Generate, no join, no exchange in the vote pass") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val plan = DedupOps.weightedSimhash48(spark, docs, 48)
      .queryExecution.executedPlan.toString
    assert(plan.contains("simhash_text"), plan)
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("Generate"),
      plan)
  }
}
