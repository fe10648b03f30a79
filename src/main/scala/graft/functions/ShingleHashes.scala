package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused distinct-shingle hash array: for a words array, returns the
  * 48-bit md5 hashes of the distinct 3-word shingles, first-occurrence
  * order — ONE primitive loop per document.
  *
  * Replaces the composed three-HOF chain
  * `transform(array_distinct(transform(sequence(...), i ->
  * array_join(slice(words, i+1, 3), ' '))), x ->
  * cast(conv(substring(md5(x), 1, 12), 16, 10) as bigint))`, whose
  * lambdas all evaluate INTERPRETED (per shingle: a slice allocation, a
  * join, then an md5 → hex string → substring → base-16 re-parse). The
  * fused loop builds each shingle's bytes once, digests them once, and
  * reads the hash as the first 6 digest bytes — `substring(md5hex, 1,
  * 12)` parsed base-16 IS the first 6 bytes of the digest as an unsigned
  * 48-bit integer, so values are bit-identical to the composed form and
  * the DuckDB oracle (ShingleHashesSpec pins equality generatively,
  * including sub-3-word docs, empty docs, and duplicate shingles).
  *
  * Distinctness is on the SHINGLE STRING (as in the composed form), not
  * the hash, so a 48-bit collision between distinct shingles still emits
  * both hashes — exactly like the original.
  */
case class ShingleHashes(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.evalHashes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.functions.ShingleHashes.evalHashes($v);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** String sibling of [[ShingleHashes]]: all n-gram strings (order kept,
  * duplicates kept) — the decontamination oracle's exact gram stream,
  * minus the interpreted sequence/slice/array_join lambda chain. */
case class GramStrings(child: Expression, n: Int) extends UnaryExpression
  with ImplicitCastInputTypes {

  require(n >= 1, s"gram width $n must be >= 1")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "gram_strings"

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.evalStrings(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.functions.ShingleHashes.evalStrings($v, $n);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def evalStrings(words: ArrayData, gramLen: Int): ArrayData = {
    val n = words.numElements()
    val last = math.max(n - gramLen, 0)
    val out = new Array[Any](last + 1)
    var i = 0
    while (i <= last) {
      val hi = math.min(i + gramLen, n)
      var shingle = if (i < n) words.getUTF8String(i) else UTF8String.EMPTY_UTF8
      var w = i + 1
      while (w < hi) {
        shingle = UTF8String.concat(shingle,
          UTF8String.fromString(" "), words.getUTF8String(w))
        w += 1
      }
      out(i) = shingle
      i += 1
    }
    new GenericArrayData(out)
  }

  // NOT named `eval`: the case class inherits Expression.eval, and scalac
  // suppresses a companion's static forwarder when the class has a member
  // of the same name — the generated code's static call then fails Janino
  // compilation and the WHOLE STAGE silently falls back out of codegen
  // (measured round 17: 78 CompileExceptions per bench run on this call).
  def evalHashes(words: ArrayData): ArrayData = {
    val gramLen = 3
    val n = words.numElements()
    // sequence(0, greatest(n-3, 0)) → shingle starts 0..max(n-3, 0)
    val last = math.max(n - gramLen, 0)
    val seen = new java.util.HashSet[UTF8String]()
    val out = new java.util.ArrayList[java.lang.Long](last + 1)
    val md = digest.get()
    var i = 0
    while (i <= last) {
      // slice(words, i+1, 3): up to 3 words from i, ' '-joined
      val hi = math.min(i + gramLen, n)
      var shingle = if (i < n) words.getUTF8String(i) else UTF8String.EMPTY_UTF8
      var w = i + 1
      while (w < hi) {
        shingle = UTF8String.concat(shingle,
          UTF8String.fromString(" "), words.getUTF8String(w))
        w += 1
      }
      if (seen.add(shingle)) {
        md.reset()
        val d = md.digest(shingle.getBytes)
        // first 6 digest bytes == substring(hex, 1, 12) parsed base 16
        val h = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
          ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
          ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
        out.add(h)
      }
      i += 1
    }
    val arr = new Array[Any](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j).longValue(); j += 1 }
    new GenericArrayData(arr)
  }

  /** Column builder: `shingle_hashes(words)` (3-word shingles, distinct —
    * the MinHash front). */
  def shingles(words: Column): Column =
    column(ShingleHashes(expression(words)))

  /** Column builder: `gram_strings(words, n)`. */
  def gramStrings(words: Column, n: Int): Column =
    column(GramStrings(expression(words), n))
}
