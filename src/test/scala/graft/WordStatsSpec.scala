package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** Equality gate for the fused WordStats expression against the composed
  * split/array_distinct/filter chain it replaced — the t3/c1/c3/c5/c7/
  * c8/c9/h2 oracle hashes ride on the three counts being bit-identical,
  * so the spec drives the real corpus plus adversarial shapes (empty
  * text, multi-space runs producing empty tokens, leading/trailing
  * spaces, unicode, stop words at every position, null text). */
class WordStatsSpec extends SparkSpec {

  import spark.implicits._

  /** The stop set the fused byte table encodes. */
  private val StopWords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** (n_words, n_distinct, n_stop) via the composed chain — the oracle. */
  private def composed(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"),
        size(col("words")).as("n_words"),
        size(array_distinct(col("words"))).as("n_distinct"),
        size(filter(col("words"),
          w => w.isInCollection(StopWords))).as("n_stop"))

  private def fused(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), TextOps.wordStats(col("text")).as("ws"))
      .select(col("doc_id"), col("ws.n_words").as("n_words"),
        col("ws.n_distinct").as("n_distinct"), col("ws.n_stop").as("n_stop"))

  private def assertEqualOn(df: org.apache.spark.sql.DataFrame): Unit = {
    val f = fused(df).collect().map(r => (r.getLong(0),
      (r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    val c = composed(df).collect().map(r => (r.getLong(0),
      (r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(f == c, s"fused/composed word stats differ:\n$f\nvs\n$c")
  }

  test("fused == composed on adversarial texts") {
    val texts = Seq(
      "", "a", " ", "  ", "a ", " a", "a  b", "the the the",
      "the a of and to in is", // every stop word once
      "The A Of", // case matters: none are stop words
      "is  is   is", // stop words between empty tokens
      "héllo wörld the ünïcode a of words",
      "ando the andy", // prefixes/suffixes of stop words
      "x" * 500 + " " + "y" * 500,
      (1 to 300).map(i => Seq("the", "w" + i % 7, "", "of")(i % 4))
        .mkString(" "))
    assertEqualOn(texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
  }

  test("null text → null stats, like split(null)") {
    val df = Seq((1L, Option("a b")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val rows = df.select(col("doc_id"), TextOps.wordStats(col("text"))
      .as("ws")).collect()
    assert(!rows.find(_.getLong(0) == 1L).get.isNullAt(1))
    assert(rows.find(_.getLong(0) == 2L).get.isNullAt(1))
  }

  test("fused == composed on the sf0.001 documents corpus") {
    assertEqualOn(Tables.load(spark, sf, "documents").select("doc_id", "text"))
  }

  test("generative: random texts over a tiny alphabet with stop words") {
    val rnd = new scala.util.Random(1717)
    val vocab = Seq("the", "a", "of", "and", "to", "in", "is",
      "word", "x", "", "thé", "IS", "aa")
    val texts = Seq.fill(400) {
      Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
    }
    assertEqualOn(texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
  }

  test("strippedLenOf == length(regexp_replace(text, ' ', ''))") {
    val texts = Seq("", "a", " ", "a  b c ", "héllo wörld  x")
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val both = df.select(col("doc_id"),
        TextOps.wordStats(col("text")).as("ws"), col("text"))
      .select(col("doc_id"),
        TextOps.strippedLenOf(col("text"), col("ws")).as("fast"),
        length(regexp_replace(col("text"), " ", "")).as("slow"))
      .collect()
    both.foreach(r => assert(r.getInt(1) == r.getInt(2), r.toString))
  }
}
