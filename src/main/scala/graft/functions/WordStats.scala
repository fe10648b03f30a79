package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused word statistics for the t3 quality formula: for a text column,
  * ONE pass over the bytes computes
  * `struct(n_words: int, n_distinct: int, n_stop: int)` — exactly
  *
  *  - `size(split(text, " "))`,
  *  - `size(array_distinct(split(text, " ")))`,
  *  - `size(filter(split(text, " "), w -> w IN (the stop set)))`.
  *
  * The composed chain materializes the words array (regex split), the
  * distinct array, and the filtered array, and the `filter` lambda is
  * INTERPRETED — c1's plan evaluated it three times per doc
  * (plans/r16/c1_curation_funnel_after.txt:236,316). Here the split is a
  * byte scan (the regex is the literal single space 0x20, which in UTF-8
  * can only ever encode the space character, so byte splitting IS the
  * regex split), tokens are zero-copy slices, and all three counts fall
  * out of the same loop inside whole-stage codegen.
  *
  * Split semantics replicated bit-for-bit (`split(text, " ")` = Java
  * `Pattern.split(text, -1)`): consecutive spaces yield empty tokens,
  * leading/trailing empties are KEPT (limit -1), and the empty string
  * yields `[""]` — so n_words = (number of spaces) + 1, always ≥ 1, and
  * the empty token participates in distinctness exactly like any other
  * value. The stop set ("the", "a", "of", "and", "to", "in", "is") lives
  * only in `isStop`'s byte table below; WordStatsSpec pins equality
  * against the composed chain generatively and on the corpus so the two
  * can never drift silently. */
case class WordStats(child: Expression) extends UnaryExpression
  with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = WordStats.statsType
  override def prettyName: String = "word_stats"

  override def nullSafeEval(input: Any): Any =
    WordStats.evalStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.functions.WordStats.evalStats($v);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordStats {
  private[functions] val statsType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false)))

  /** The stop set as bytes: "the", "a", "of", "and", "to", "in", "is" —
    * checked by length + byte compare, no allocation per token. */
  private def isStop(b: Array[Byte], off: Int, len: Int): Boolean = len match {
    case 1 => b(off) == 'a'
    case 2 =>
      val c0 = b(off); val c1 = b(off + 1)
      (c0 == 'o' && c1 == 'f') || (c0 == 't' && c1 == 'o') ||
        (c0 == 'i' && (c1 == 'n' || c1 == 's'))
    case 3 =>
      val c0 = b(off); val c1 = b(off + 1); val c2 = b(off + 2)
      (c0 == 't' && c1 == 'h' && c2 == 'e') ||
        (c0 == 'a' && c1 == 'n' && c2 == 'd')
    case _ => false
  }

  // NOT named `eval` — see ShingleHashes.evalHashes: Expression.eval on
  // the case class suppresses the companion's static forwarder and the
  // whole stage silently falls back out of codegen.
  def evalStats(s: UTF8String): InternalRow = {
    val b = s.getBytes
    val seen = new java.util.HashSet[UTF8String]()
    var nWords = 0; var nDistinct = 0; var nStop = 0
    var start = 0
    var i = 0
    val n = b.length
    while (i <= n) {
      if (i == n || b(i) == ' ') {
        val len = i - start
        nWords += 1
        if (isStop(b, start, len)) nStop += 1
        // fromBytes wraps the array (no copy); the set owns the slices
        if (seen.add(UTF8String.fromBytes(b, start, len))) nDistinct += 1
        start = i + 1
      }
      i += 1
    }
    InternalRow(nWords, nDistinct, nStop)
  }

  /** Column builder: `word_stats(text)`. */
  def of(text: Column): Column = column(WordStats(expression(text)))
}
