package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Equality gate for the fused ShingleHashes expression against the
  * composed three-HOF chain it replaced — the dd2/dd3/dd7/dd8/c1 oracle
  * hashes ride on the shingle-hash arrays being bit-identical, so the
  * spec drives the real corpus plus adversarial word shapes (sub-3-word
  * docs, empty strings, repeated shingles, multi-space splits, unicode). */
class ShingleHashesSpec extends SparkSpec {

  import spark.implicits._

  /** The composed three-HOF form ShingleHashes replaced: distinct 3-word
    * shingles, then 48 bits of md5 per shingle. */
  private def docShingleHashesComposed(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), expr(
        """array_distinct(transform(sequence(0, greatest(size(words)-3, 0)),
          | i -> array_join(slice(words, i+1, 3), ' ')))""".stripMargin)
        .as("shs"))
      .select(col("doc_id"), expr(
        "transform(shs, x -> cast(conv(substring(md5(x), 1, 12), 16, 10) as bigint))")
        .as("hs"))

  private def viaBoth(texts: Seq[String]): (Seq[(Long, Seq[Long])], Seq[(Long, Seq[Long])]) = {
    val corpus = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    graft.functions.ShingleHashes.register(spark)
    val fused = corpus
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), expr("shingle_hashes(words)").as("hs"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq.sortBy(_._1)
    val composed = docShingleHashesComposed(corpus)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq.sortBy(_._1)
    (fused, composed)
  }

  test("fused == composed on adversarial word shapes (order and duplicates included)") {
    val texts = Seq(
      "", "a", "a b", "a b c", "a b c d e f g",
      "x x x x x x", // every shingle identical → one distinct
      "a  b   c d", // multi-space → empty words from regex split
      "héllo wörld ünïcode shingles here",
      "the quick brown fox jumps over the lazy dog the quick brown fox",
      " leading space", "trailing space ",
      (1 to 200).map(i => s"w${i % 13}").mkString(" "))
    val (f, c) = viaBoth(texts)
    assert(f == c, s"fused/composed shingle hashes differ:\n$f\nvs\n$c")
  }

  test("fused == composed on the sf0.001 documents corpus") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    graft.functions.ShingleHashes.register(spark)
    val fused = docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), expr("shingle_hashes(words)").as("hs"))
    val composed = docShingleHashesComposed(docs)
    assert(fused.exceptAll(composed).count() == 0 &&
      composed.exceptAll(fused).count() == 0)
  }

  test("generative: random word arrays over a tiny alphabet") {
    val rnd = new scala.util.Random(816)
    val texts = Seq.fill(300) {
      val n = rnd.nextInt(9)
      Seq.fill(n)(Seq("aa", "bb", "cc", "", "dd")(rnd.nextInt(5))).mkString(" ")
    }
    val (f, c) = viaBoth(texts)
    assert(f == c)
  }

  test("gram_strings/gram_hashes == the composed 8-gram HOF chain (order and duplicates kept)") {
    val rnd = new scala.util.Random(817)
    val texts = Seq("", "one", "a b c d e f g h i j k",
      "dup dup dup dup dup dup dup dup dup dup") ++
      Seq.fill(200)(Seq.fill(rnd.nextInt(20))(s"w${rnd.nextInt(7)}").mkString(" "))
    val corpus = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    graft.functions.ShingleHashes.register(spark)
    val docs = corpus
      .select(col("doc_id"), split(col("text"), " ").as("words"))
    val gram8 =
      """transform(sequence(0, greatest(size(words)-8, 0)),
        | i -> array_join(slice(words, i+1, 8), ' '))""".stripMargin
    val composedStr = docs
      .select(col("doc_id"), posexplode(expr(gram8)).as(Seq("p", "g")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    val fusedStr = docs
      .select(col("doc_id"),
        posexplode(expr("gram_strings(words, 8)")).as(Seq("p", "g")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    assert(fusedStr == composedStr)
    val composedHash = docs
      .select(col("doc_id"), posexplode(expr(gram8)).as(Seq("p", "g")))
      .select(col("doc_id"), col("p"), expr(
        "cast(conv(substring(md5(g), 1, 12), 16, 10) as bigint)").as("g"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val fusedHash = docs
      .select(col("doc_id"),
        posexplode(expr("gram_hashes(words, 8)")).as(Seq("p", "g")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(fusedHash == composedHash)
  }

  test("md5_prefix == conv(substring(md5(x), 1, digits), 16, 10) for digits 1..15") {
    val rnd = new scala.util.Random(818)
    val xs = (Seq("", "a", "héllo", "the quick brown fox") ++
      Seq.fill(500)(rnd.alphanumeric.take(rnd.nextInt(24)).mkString))
      .toDF("x")
    graft.functions.Md5Prefix.register(spark)
    for (digits <- Seq(1, 6, 12, 15)) {
      val composed = xs.select(expr(
        s"cast(conv(substring(md5(x), 1, $digits), 16, 10) as bigint)"))
        .collect().map(_.getLong(0)).toSeq
      val fused = xs.select(expr(s"md5_prefix(x, $digits)"))
        .collect().map(_.getLong(0)).toSeq
      assert(fused == composed, s"md5_prefix mismatch at digits=$digits")
    }
  }
}
