package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document SimHash: one byte scan of the text computes the
  * `bits`-wide fingerprint — per token the [[Md5Prefix]] digest-prefix
  * word hash, a ±w vote into each of the low `bits` positions, then the
  * (vote > 0) fold. Exactly what the composed form produced via
  *
  *   explode(split(text, ' ')) [→ broadcast-join(word → weight)]
  *     → groupBy(doc_id).agg(simhash_agg(md5_prefix(word, digits), w))
  *
  * The composed plan materializes one row PER TOKEN, probes a broadcast
  * hash relation per token (weighted form), and re-aggregates through a
  * hash exchange just to compute a per-document fold — the same §2.3/§4
  * shape SurprisalSum removed from the t13 scoring half. Here the
  * fingerprint is map-only: no token explosion, no join, no exchange.
  *
  * BIT-EQUAL contract (SimHashTextSpec pins it against the composed
  * arms; the dd4/dd6 oracle hashes ride on it):
  *  - token stream: `split(text, " ")` byte-split semantics (empty
  *    tokens kept — the WordStats scaladoc pins why byte splitting IS
  *    the regex split);
  *  - word hash: [[Md5Prefix.evalPrefix]], the shared kernel;
  *  - votes: votes[b] += ((wh >> b) & 1) != 0 ? w : −w — Long adds,
  *    order-free, so the array-order sum equals the aggregate's in any
  *    partition order ([[SimHashAgg]].update/merge verbatim);
  *  - fold: fp |= (1 << b) iff votes[b] > 0 ([[SimHashAgg]].eval);
  *  - weighted form (`weights` non-null): a token ABSENT from the map
  *    contributes nothing (the composed inner join dropped it), and a
  *    document with NO matched token yields NULL — the composed
  *    groupBy emitted no row for it (callers filter nulls; impossible
  *    when the weight table is built from the same corpus, which every
  *    current caller does);
  *  - unweighted form (`weights` null): every token votes with w = 1;
  *    split yields ≥ 1 token on any non-null text, so null only on null
  *    text.
  *
  * The weight map is vocab-sized (the document-frequency table) and was
  * ALREADY broadcast-joined by the composed form — hosting it as an
  * expression reference is the same memory class (the SurprisalSum
  * argument); callers gate on [[graft.operators.DedupOps]]'s vocab
  * ceiling with the join arm retained beyond it. */
case class SimHashText(child: Expression, digits: Int, bits: Int,
    weights: java.util.HashMap[UTF8String, java.lang.Long])
  extends UnaryExpression with ImplicitCastInputTypes {

  require(digits >= 1 && digits <= 15, s"digits=$digits out of md5-fold range")
  require(bits >= 1 && bits <= 63, s"bits=$bits out of bigint range")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = weights != null || child.nullable
  override def prettyName: String = "simhash_text"

  override def nullSafeEval(input: Any): Any =
    SimHashText.evalSim(input.asInstanceOf[UTF8String], digits, bits, weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("weights", weights,
      "java.util.HashMap<org.apache.spark.unsafe.types.UTF8String, java.lang.Long>")
    nullSafeCodeGen(ctx, ev, v => {
      val tmp = ctx.freshName("fp")
      // the unweighted form is non-nullable, so Spark declares no isNull
      // variable for it: a null branch there fails Janino compilation
      val onNull =
        if (weights != null) s"if ($tmp == null) { ${ev.isNull} = true; } else "
        else ""
      s"""
         |Object $tmp = graft.functions.SimHashText.evalSim($v, $digits, $bits, $wRef);
         |$onNull{ ${ev.value} = ((java.lang.Long) $tmp).longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashText {

  // NOT named `eval` — see ShingleHashes.evalHashes (static-forwarder
  // suppression silently kills whole-stage codegen for the stage).
  // HashMap equality is content-based, so case-class equals is sound here
  // (unlike TopCells' raw arrays).
  def evalSim(s: UTF8String, digits: Int, bits: Int,
      weights: java.util.HashMap[UTF8String, java.lang.Long]): java.lang.Long = {
    val b = s.getBytes
    val votes = new Array[Long](bits)
    var any = weights == null
    var start = 0; var i = 0
    val n = b.length
    while (i <= n) {
      if (i == n || b(i) == ' ') {
        val tok = UTF8String.fromBytes(b, start, i - start)
        var w = 1L
        var vote = true
        if (weights != null) {
          val ww = weights.get(tok)
          if (ww == null) vote = false
          else { w = ww.longValue(); any = true }
        }
        if (vote) {
          val wh = Md5Prefix.evalPrefix(tok, digits)
          var bi = 0
          while (bi < bits) {
            votes(bi) += (if (((wh >> bi) & 1L) != 0L) w else -w)
            bi += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    if (!any) null
    else {
      var fp = 0L
      var bi = 0
      while (bi < bits) {
        if (votes(bi) > 0) fp |= (1L << bi)
        bi += 1
      }
      java.lang.Long.valueOf(fp)
    }
  }

  /** Column builder. `weights` null = unweighted. */
  def of(text: Column, digits: Int, bits: Int,
      weights: java.util.HashMap[UTF8String, java.lang.Long]): Column =
    column(SimHashText(expression(text), digits, bits, weights))
}
