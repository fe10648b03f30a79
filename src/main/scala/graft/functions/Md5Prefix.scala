package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused `cast(conv(substring(md5(x), 1, digits), 16, 10) as bigint)` —
  * the per-word hash of the SimHash family (dd4's 24-bit digits and
  * dd6's fingerprint-width word votes land on every word OCCURRENCE of
  * the corpus). The composed form digests the string, renders the full
  * 32-char hex, substrings it, and re-parses base-16; this expression
  * reads the same value straight off the digest bytes (the first
  * `digits` hex nibbles ARE the top nibbles of the digest), so values
  * are bit-identical by construction (Md5PrefixSpec drives the equality
  * generatively). digits ≤ 15 keeps the value inside a BIGINT, exactly
  * like the conv form it replaces. */
case class Md5Prefix(child: Expression, digits: Int) extends UnaryExpression
  with ImplicitCastInputTypes {

  require(digits >= 1 && digits <= 15, s"md5_prefix digits=$digits outside [1,15]")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix"

  override def nullSafeEval(input: Any): Any =
    Md5Prefix.evalPrefix(input.asInstanceOf[UTF8String], digits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.functions.Md5Prefix.evalPrefix($v, $digits);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Prefix {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  // NOT named `eval`: Expression.eval on the case class suppresses the
  // static forwarder scalac would otherwise emit for a companion `eval`,
  // so the generated static call fails Janino compilation and the whole
  // stage silently falls back out of codegen (see ShingleHashes.evalHashes).
  def evalPrefix(s: UTF8String, digits: Int): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var idx = 0
    while (idx < digits) {
      val b = d(idx >> 1) & 0xff
      val nibble = if ((idx & 1) == 0) b >> 4 else b & 0xf
      v = (v << 4) | nibble
      idx += 1
    }
    v
  }

  /** Column builder: `md5_prefix(x, digits)`. */
  def of(x: Column, digits: Int): Column =
    column(Md5Prefix(expression(x), digits))
}
