package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document surprisal reduction for the t13/c5 scoring half:
  * against a DRIVER-HOSTED unigram model (word → 1e6-scaled integer
  * log-prob, riding the stage's task-binary broadcast like TopCells'
  * centroid matrix), one byte scan of the text computes
  * `struct(n_words: int, sum_lp: bigint, n_oov: int)` — exactly what the
  * composed form produced via
  *
  *   explode(split(text, ' ')) → broadcast-join(model) →
  *     groupBy(doc_id, n_words).agg(sum(coalesce(lp, oov_lp)),
  *       sum(when(lp isNull, 1)))
  *
  * The composed plan materializes one row PER TOKEN and re-aggregates
  * them through a hash exchange just to compute a per-document sum — the
  * same §2.3 "don't materialize rank candidates as data" shape the
  * TopCells rework removed from the kmeans family. Here scoring is
  * map-only: no token explosion, no join, no exchange.
  *
  * BIT-EQUAL contract: token stream = `split(text, " ")` byte-split
  * semantics (the WordStats scaladoc pins why byte splitting IS the
  * regex split — empty tokens kept, n_words = spaces + 1); per-token
  * addend = the model's bigint lp when the token is in vocab else the
  * OOV floor; Long addition is associative and commutative, so the
  * array-order sum equals the aggregate's in any partition order.
  * Null text rows never reach the expression at the call site (the
  * composed form's explode(null) dropped them; the fused caller filters
  * text IS NOT NULL) — SurprisalSumSpec pins equality against the
  * retained join arm generatively and on the corpus. */
case class SurprisalSum(child: Expression,
    vocab: java.util.HashMap[UTF8String, java.lang.Long], oovLp: Long)
  extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = SurprisalSum.aggType
  override def prettyName: String = "surprisal_sum"

  override def nullSafeEval(input: Any): Any =
    SurprisalSum.evalSum(input.asInstanceOf[UTF8String], vocab, oovLp)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vocabRef = ctx.addReferenceObj("vocab", vocab,
      "java.util.HashMap<org.apache.spark.unsafe.types.UTF8String, java.lang.Long>")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.functions.SurprisalSum.evalSum($v, $vocabRef, ${oovLp}L);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SurprisalSum {
  private[functions] val aggType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("sum_lp", LongType, nullable = false),
    StructField("n_oov", IntegerType, nullable = false)))

  // NOT named `eval` — see ShingleHashes.evalHashes (static-forwarder
  // suppression silently kills whole-stage codegen for the stage).
  def evalSum(s: UTF8String,
      vocab: java.util.HashMap[UTF8String, java.lang.Long],
      oovLp: Long): InternalRow = {
    val b = s.getBytes
    var nWords = 0; var nOov = 0; var sum = 0L
    var start = 0; var i = 0
    val n = b.length
    while (i <= n) {
      if (i == n || b(i) == ' ') {
        nWords += 1
        val lp = vocab.get(UTF8String.fromBytes(b, start, i - start))
        if (lp == null) { nOov += 1; sum += oovLp }
        else sum += lp.longValue()
        start = i + 1
      }
      i += 1
    }
    InternalRow(nWords, sum, nOov)
  }

  /** Column builder. */
  def score(text: Column,
      vocab: java.util.HashMap[UTF8String, java.lang.Long],
      oovLp: Long): Column =
    column(SurprisalSum(expression(text), vocab, oovLp))
}
