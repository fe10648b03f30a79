package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tokenizer seam for the token-counting surface (t5 and any mixture-math
  * caller): production token budgets key on a REAL vocabulary, not a
  * pretokenizer shape, so the counting operator accepts any [[Tokenizer]].
  * The default stays the engine-portable regex form ([[RegexTokenizer]] —
  * identical in Spark and the DuckDB oracle, which is what keeps t5
  * hash-gated); [[BpeTokenizer]] is the deterministic byte-pair-merge
  * applier over a user-supplied public merges file (the GPT-2 `merges.txt`
  * format: optional `#version` header, then one space-separated symbol
  * pair per line, rank = line order).
  *
  * Reference anchor: the reference counts prompt/completion tokens with
  * provider tokenizers (output_manager.py token tallies); this seam is the
  * corpus-side equivalent.
  */
trait Tokenizer extends Serializable {
  /** Token strings for one document — deterministic, order-preserving. */
  def tokenize(text: String): Seq[String]
  def countTokens(text: String): Int = tokenize(text).length
}

/** The BPE-ish pretokenizer regex as a [[Tokenizer]]: a leading-space-
  * attached run of letters, digits, or other symbols (the GPT-2
  * pretokenizer shape reduced to ASCII — [[TextOps.BpeTokenRegex]]). */
object RegexTokenizer extends Tokenizer {
  private val re = TextOps.BpeTokenRegex.r
  override def tokenize(text: String): Seq[String] =
    re.findAllIn(text).toSeq
}

/** Deterministic BPE merge applier. Pre-tokens come from the same regex
  * shape as [[RegexTokenizer]]; within each pre-token, symbols start as
  * single characters with a leading space mapped to 'Ġ' (U+0120) exactly
  * as the public GPT-2 byte-encoder does for ASCII text — so a real
  * GPT-2-format merges file (whose ranks are written against Ġ-prefixed
  * symbols) loads unmodified. Each step merges every adjacent occurrence
  * of the LOWEST-RANK pair left-to-right, until no ranked pair remains —
  * the standard greedy BPE application, deterministic by construction
  * (rank order is total; ties cannot occur since ranks are line numbers).
  *
  * The ranks map rides to executors via closure serialization — vocab
  * merge tables are a few MB (GPT-2's is ~456k lines), broadcast-sized,
  * loaded ONCE per executor, never per row.
  */
final class BpeTokenizer(ranks: Map[(String, String), Int]) extends Tokenizer {
  private val pre = TextOps.BpeTokenRegex.r

  private def symbolsOf(preToken: String): Vector[String] = {
    val mapped =
      if (preToken.startsWith(" ")) "Ġ" + preToken.substring(1)
      else preToken
    mapped.map(_.toString).toVector
  }

  private def merge(parts: Vector[String]): Vector[String] = {
    var cur = parts
    while (cur.length > 1) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < cur.length - 1) {
        val r = ranks.getOrElse((cur(i), cur(i + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) return cur
      val out = Vector.newBuilder[String]
      var j = 0
      while (j < cur.length) {
        if (j < cur.length - 1 &&
            ranks.getOrElse((cur(j), cur(j + 1)), Int.MaxValue) == bestRank) {
          out += cur(j) + cur(j + 1); j += 2
        } else { out += cur(j); j += 1 }
      }
      cur = out.result()
    }
    cur
  }

  override def tokenize(text: String): Seq[String] =
    pre.findAllIn(text).toSeq.flatMap(t => merge(symbolsOf(t)))
}

object Tokenizer {

  /** Parse a GPT-2-format merges file already read into lines (the
    * `#version` header and blank lines skipped; rank = surviving line
    * order). Only the version header is treated as a comment — a merge
    * whose FIRST SYMBOL is a literal '#' is a legitimate line in real
    * GPT-2 merges files and must keep its rank. */
  def fromMergesLines(lines: Iterator[String]): BpeTokenizer = {
    val ranks = lines.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#version"))
      .zipWithIndex
      .map { case (l, i) =>
        val sp = l.indexOf(' ')
        require(sp > 0 && sp < l.length - 1, s"malformed merges line: '$l'")
        ((l.substring(0, sp), l.substring(sp + 1)), i)
      }.toMap
    new BpeTokenizer(ranks)
  }

  /** t5's counting shape with a pluggable tokenizer: same columns, the
    * n_bpe_tokens column computed by `tok` instead of the regex literal.
    * With [[RegexTokenizer]] this is row-for-row t5 (asserted in
    * TokenizerSpec); with a [[BpeTokenizer]] it is the real-vocab count.
    * The UDF is the honest cost here — BPE's merge loop is imperative
    * state no builtin expression composes — and it stays a narrow
    * map-side projection, no shuffle. */
  def tokenCountWith(docs: DataFrame, tok: Tokenizer): DataFrame = {
    val count = udf((text: String) => tok.countTokens(text))
    docs.select(col("doc_id"),
      length(col("text")).as("n_chars"),
      size(split(col("text"), " ")).as("n_ws_tokens"),
      count(col("text")).as("n_bpe_tokens"))
      .withColumn("chars_per_token",
        round(col("n_chars") / col("n_bpe_tokens").cast("double"), 6))
  }
}
