package graft

import org.apache.spark.sql.functions._
import graft.operators.{BpeTokenizer, RegexTokenizer, TextOps, Tokenizer}

/** The tokenizer seam: GPT-2-format merges parsing, deterministic BPE
  * application, and the regex default's row-for-row parity with t5. */
class TokenizerSpec extends SparkSpec {

  private def fixture: BpeTokenizer = {
    val src = scala.io.Source.fromResource("gpt2_merges_fixture.txt",
      getClass.getClassLoader)
    try Tokenizer.fromMergesLines(src.getLines()) finally src.close()
  }

  test("merges file parses: header skipped, rank = line order") {
    val tok = fixture
    // (t,h) rank 0 beats (Ġ,t) rank 2 inside " the": Ġ,t,h,e → Ġ,th,e →
    // (th,e) rank 1 → Ġ,the — the leading-space symbol maps to Ġ exactly
    // as the public byte-encoder does, so real merges files load as-is
    assert(tok.tokenize(" the") == Seq("Ġ", "the"))
  }

  test("BPE application is greedy-by-rank and merges all occurrences") {
    val tok = fixture
    assert(tok.tokenize("the") == Seq("the"))       // t+h → th, th+e → the
    assert(tok.tokenize(" and") == Seq("Ġ", "and")) // a+n → an, an+d → and
    assert(tok.tokenize(" band") == Seq("Ġ", "b", "and"))
    // both (t,h) occurrences merge in ONE step, then (th,th) is unranked
    assert(tok.tokenize("thth") == Seq("th", "th"))
    // no ranked pair at all → pure character symbols survive
    assert(tok.tokenize(" cat") == Seq("Ġ", "c", "a", "t"))
    // deterministic, and the count is the sum over pre-tokens
    val s = "the cat and band thth"
    assert(tok.tokenize(s) == tok.tokenize(s))
    assert(tok.countTokens(s) ==
      Seq("the", " cat", " and", " band", " thth")
        .map(t => tok.tokenize(t).length).sum)
  }

  test("malformed merges lines are rejected loudly") {
    intercept[IllegalArgumentException] {
      Tokenizer.fromMergesLines(Iterator("a b", "nospace"))
    }
  }

  test("only the #version header is a comment — a '#'-symbol merge keeps its rank") {
    // real GPT-2 merges files contain lines whose first symbol is a
    // literal '#'; a blanket '#'-prefix filter would silently drop them
    val tok = Tokenizer.fromMergesLines(Iterator("#version: 0.2", "# #"))
    assert(tok.tokenize("##") == Seq("##"))
    assert(tok.tokenize("###") == Seq("##", "#"))
  }

  test("regex default matches t5's count column row-for-row") {
    val docs = Q.documents(spark, sf)
    val viaSeam = Tokenizer.tokenCountWith(docs, RegexTokenizer)
    val t5 = TextOps.tokenCount(spark, sf)
    assert(viaSeam.exceptAll(t5).isEmpty && t5.exceptAll(viaSeam).isEmpty)
  }

  test("BPE seam over the corpus matches a driver-side application") {
    val docs = Q.documents(spark, sf).limit(200)
      .select("doc_id", "text").cache()
    val tok = fixture
    val out = Tokenizer.tokenCountWith(docs, tok).cache()
    assert(out.filter(col("n_bpe_tokens") <= 0).count() == 0)
    // merging only ever shrinks the symbol stream
    assert(out.filter(col("n_bpe_tokens") > col("n_chars")).count() == 0)
    val byId = out.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_bpe_tokens"))
      .toMap
    docs.limit(5).collect().foreach { r =>
      assert(byId(r.getAs[Long]("doc_id")) ==
        tok.countTokens(r.getAs[String]("text")))
    }
  }
}
