package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined span-gram selection for dd9 (DedupOps.spanGrams): all
  * `gramLen`-char grams of a document are md5-hashed and the 1-in-16 whose
  * first hex nibble is '0' come back as (off, hex) rows — identical
  * semantics to the SQL form
  * `filter(transform(sequence(..), i -> (i, md5(substring(text, i, G)))),
  * first_nibble = '0')` the DuckDB oracle evaluates.
  *
  * Why an expression: transform/filter lambdas are interpreted
  * HigherOrderFunctions — per-element closure dispatch, a struct allocation
  * per gram, and a full hex string for every gram including the 15/16 the
  * filter then discards (measured 4.6 s at sf0.1). This is one tight loop
  * per document over the text's UTF-8 bytes: a single reused MessageDigest,
  * `update(bytes, off, len)` windows with no substring copies on the ASCII
  * fast path, selection tested on the digest's FIRST BYTE (high nibble == 0
  * ⇔ hex starts with '0'), and hex encoding only for selected grams.
  * Non-ASCII text falls back to character-correct substring slicing —
  * Spark's substring is character-based, so byte windows are only valid
  * when chars are single-byte.
  */
case class SpanGramHits(child: Expression, gramLen: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("off", IntegerType, nullable = false),
    StructField("gh", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "span_gram_hits"

  private val HexChars = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HexChars(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    // zero-length text emits nothing. Output-identical to the clamp it
    // replaces: the clamped empty window hashed md5("") = d41d8..., which
    // never passes the leading-nibble selection anyway — this just makes
    // it structural.
    if (u.numBytes == 0) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val hits = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.catalyst.InternalRow]
    val bytes = u.getBytes
    var ascii = true
    var i = 0
    while (i < bytes.length && ascii) { ascii = bytes(i) >= 0; i += 1 }
    if (ascii) {
      val n = bytes.length
      val count = math.max(n - gramLen + 1, 1)
      var off = 0
      while (off < count) {
        md.update(bytes, off, math.min(gramLen, n - off))
        val d = md.digest() // digest() resets for the next window
        if ((d(0) & 0xf0) == 0)
          hits += org.apache.spark.sql.catalyst.InternalRow(off + 1, hex(d))
        off += 1
      }
    } else {
      // character-correct path: md5(substring(text, i, G)) hashes the
      // SUBSTRING's UTF-8 encoding — windowed by CODE POINTS (Spark's
      // length()/substring() semantics; UTF-16 indexing would shift
      // windows after an astral char and could split surrogate pairs)
      val cps = u.toString.codePoints().toArray
      val n = cps.length
      val count = math.max(n - gramLen + 1, 1)
      var off = 0
      while (off < count) {
        val d = md.digest(new String(cps, off, math.min(gramLen, n - off))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        if ((d(0) & 0xf0) == 0)
          hits += org.apache.spark.sql.catalyst.InternalRow(off + 1, hex(d))
        off += 1
      }
    }
    new GenericArrayData(hits.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SpanGramHits {
  /** Column builder: `span_gram_hits(text)` with the given gram length. */
  def of(text: Column, gramLen: Int): Column =
    column(SpanGramHits(expression(text), gramLen))
}

/** CDC boundary positions for t14 (TextOps.cdcChunks): every 1-indexed
  * position `i` in [window, len] where `md5(substring(text, i-window+1,
  * window))` opens with two zero hex nibbles (first digest byte == 0;
  * 1/256 of hash space → mean chunk ≈ 256 chars) — identical semantics to
  * the SQL lambda form the DuckDB oracle evaluates, fused into one loop
  * per document for the same reason as [[SpanGramHits]]: the interpreted
  * transform/filter form allocates a struct and hex string per POSITION
  * and measured 12.9 s at sf0.1; this form reuses one MessageDigest over
  * byte windows with no hex encoding at all (the selection test reads the
  * raw first byte). Non-ASCII falls back to char-correct slicing. */
case class CdcBoundaries(child: Expression, window: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cdc_boundaries"

  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val bytes = u.getBytes
    var ascii = true
    var i = 0
    while (i < bytes.length && ascii) { ascii = bytes(i) >= 0; i += 1 }
    if (ascii) {
      val n = bytes.length
      var end = window
      while (end <= n) {
        md.update(bytes, end - window, window)
        if (md.digest()(0) == 0) out += end
        end += 1
      }
    } else {
      // code-point windows — same Spark substring semantics note as
      // [[SpanGramHits]]'s fallback
      val cps = u.toString.codePoints().toArray
      val n = cps.length
      var end = window
      while (end <= n) {
        val d = md.digest(new String(cps, end - window, window)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        if (d(0) == 0) out += end
        end += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcBoundaries {
  /** Column builder: `cdc_boundaries(text)` with the given window length. */
  def of(text: Column, window: Int): Column =
    column(CdcBoundaries(expression(text), window))
}

/** Minimum per-window md5, fused — t4's fingerprint columns
  * (`array_min(transform(sequence(...), i -> md5(substring(text, i, G))))`)
  * computed in ONE loop per document. The interpreted HOF form allocates a
  * 32-char hex string per POSITION and keeps the whole per-position array
  * alive for array_min; this form reuses one MessageDigest over byte
  * windows and tracks only the running minimum DIGEST, hex-encoding once
  * at the end (measured: t4 3.71 s → see BASELINE §5 r10 after the
  * honest-action fix exposed the cost). Exact oracle parity with the SQL
  * form: the lowercase-hex alphabet is nibble-monotonic, so lexicographic
  * min over hex strings equals unsigned-byte min over digests; the
  * `greatest(len-G+1, 1)` clamp is preserved (an empty/short text hashes
  * its clamped window, including md5('') for the empty string — what the
  * DuckDB oracle computes). Non-ASCII falls back to char-correct slicing
  * like [[SpanGramHits]]. */
case class MinGramHash(child: Expression, gramLen: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def prettyName: String = "min_gram_hash"

  private val HexChars = "0123456789abcdef".toCharArray

  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytes = u.getBytes
    var ascii = true
    var i = 0
    while (i < bytes.length && ascii) { ascii = bytes(i) >= 0; i += 1 }
    var best: Array[Byte] = null
    @inline def consider(d: Array[Byte]): Unit =
      if (best == null) best = d
      else {
        var j = 0; var c = 0
        while (j < 16 && c == 0) { c = (d(j) & 0xff) - (best(j) & 0xff); j += 1 }
        if (c < 0) best = d
      }
    if (ascii) {
      val n = bytes.length
      val count = math.max(n - gramLen + 1, 1)
      var off = 0
      while (off < count) {
        md.update(bytes, off, math.min(gramLen, n - off))
        consider(md.digest()) // digest() resets for the next window
        off += 1
      }
    } else {
      // CODE-POINT windows, not UTF-16 units: Spark's length()/substring()
      // count code points, so a surrogate pair is ONE position — indexing
      // by String.length would shift every window after an astral char
      // (and could split a pair into replacement bytes)
      val cps = u.toString.codePoints().toArray
      val n = cps.length
      val count = math.max(n - gramLen + 1, 1)
      var off = 0
      while (off < count) {
        val len = math.min(gramLen, n - off)
        consider(md.digest(new String(cps, off, math.max(len, 0))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        off += 1
      }
    }
    val out = new Array[Byte](32)
    i = 0
    while (i < 16) {
      out(2 * i) = HexChars((best(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HexChars(best(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinGramHash {
  /** Column builder: the minimum md5 hex over all `gramLen`-char windows
    * of `text`. */
  def of(text: Column, gramLen: Int): Column =
    column(MinGramHash(expression(text), gramLen))
}
