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
    // zero-length text emits nothing (same guard as WinnowedGramHits).
    // Output-identical to the clamp it replaces: the clamped empty
    // window hashed md5("") = d41d8..., which never passes the
    // leading-nibble selection anyway — this just makes it structural.
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

/** The 100 TB form of [[SpanGramHits]]: a Karp-Rabin ROLLING hash makes
  * gram hashing O(len) per document instead of O(len·G) — at G=50 that is
  * the difference between hashing the corpus once and hashing it fifty
  * times. Same content-defined selection contract (a selected gram is
  * selected wherever it sits, so cross-doc span agreement needs no offset
  * alignment); the hash VALUE differs from the md5 form, so dd9's DuckDB
  * oracle stays on [[SpanGramHits]] and this form is gated by properties
  * instead (rolling == direct recompute at every offset; identical
  * selected-gram sets for a shared span; ~1/2^selBits selection rate) —
  * the same accepted-structure pattern as v5's float-order nondeterminism.
  *
  * Hash: polynomial over UTF-16 char values mod 2^64 (Long wraparound),
  * odd base so every position influences the low bits, then a murmur3
  * finalizer before both the selection test and the emitted value — the
  * raw polynomial's low bits are dominated by the trailing chars, and
  * selection keys on the low `selBits`. The ASCII fast path rolls over
  * the UTF8String's bytes without materializing a String; char==byte for
  * ASCII, so both paths compute the identical hash.
  */
case class RollingGramHits(child: Expression, gramLen: Int, selBits: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("off", IntegerType, nullable = false),
    StructField("gh", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "rolling_gram_hits"

  private val B = 1000003L
  /** B^(G-1) mod 2^64, the outgoing-char eviction multiplier. */
  private val BPow: Long = {
    var p = 1L; var i = 0
    while (i < gramLen - 1) { p *= B; i += 1 }
    p
  }
  private val selMask: Long = (1L << selBits) - 1

  @inline private def fmix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    // zero-length text emits NOTHING: the clamped empty window would
    // hash to fmix(0) = 0, which always passes the (f & selMask) == 0
    // selection, silently making every empty doc a mutual span carrier
    // (the WinnowedGramHits guard, applied here too).
    if (u.numBytes == 0) return new GenericArrayData(Array.empty[Any])
    val hits = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.catalyst.InternalRow]
    val bytes = u.getBytes
    var ascii = true
    var i = 0
    while (i < bytes.length && ascii) { ascii = bytes(i) >= 0; i += 1 }
    @inline def emit(off: Int, raw: Long): Unit = {
      val f = fmix(raw)
      if ((f & selMask) == 0L)
        hits += org.apache.spark.sql.catalyst.InternalRow(off, f)
    }
    if (ascii) {
      val n = bytes.length
      if (n < gramLen) {
        var h = 0L; var j = 0
        while (j < n) { h = h * B + bytes(j); j += 1 }
        emit(1, h)
      } else {
        var h = 0L; var j = 0
        while (j < gramLen) { h = h * B + bytes(j); j += 1 }
        emit(1, h)
        var off = 1
        while (off + gramLen <= n) {
          h = (h - bytes(off - 1) * BPow) * B + bytes(off + gramLen - 1)
          emit(off + 1, h)
          off += 1
        }
      }
    } else {
      val s = u.toString
      val n = s.length
      if (n < gramLen) {
        var h = 0L; var j = 0
        while (j < n) { h = h * B + s.charAt(j); j += 1 }
        emit(1, h)
      } else {
        var h = 0L; var j = 0
        while (j < gramLen) { h = h * B + s.charAt(j); j += 1 }
        emit(1, h)
        var off = 1
        while (off + gramLen <= n) {
          h = (h - s.charAt(off - 1) * BPow) * B + s.charAt(off + gramLen - 1)
          emit(off + 1, h)
          off += 1
        }
      }
    }
    new GenericArrayData(hits.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingGramHits {
  /** Column builder: `rolling_gram_hits(text)` with the given gram length and
    * selection width (1-in-2^selBits grams selected). */
  def of(text: Column, gramLen: Int, selBits: Int = 4): Column =
    column(RollingGramHits(expression(text), gramLen, selBits))
}

/** WINNOWED gram selection — the deterministic-coverage form the at-rest
  * span index stores ([[graft.operators.SpanIndex]]). Independent
  * 1-in-2^k selection ([[RollingGramHits]]) leaves geometric gaps between
  * selected grams: with p=1/16 a gap longer than the gram itself occurs a
  * few percent of the time per junction, so a scrub driven by those hits
  * can leave slivers of a shared span standing (observed in SpanIndexSpec
  * before this form existed). Winnowing (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003 — the MOSS fingerprinting scheme) instead selects, for
  * every window of `window` consecutive gram hashes, the RIGHTMOST
  * minimal hash. Guarantees that follow:
  *  - every window of `window` grams contributes ≥1 selection, so within
  *    a span shared by two docs, consecutive selected offsets are at most
  *    `window` apart — and with window < gramLen the selected gram
  *    INTERVALS overlap, so the island merge reconstructs the span's
  *    interior with NO gaps, deterministically;
  *  - selection depends only on the window's hash values, so any window
  *    fully inside a shared span selects the SAME gram in every carrier —
  *    alignment-invariant like the 1-in-2^k form, with boundary fuzz
  *    bounded by window-1 chars at each end of the span;
  *  - density ≈ 2/(window+1), the winnowing paper's bound.
  * Same Karp-Rabin rolling hash + murmur finalizer as [[RollingGramHits]];
  * O(len) per doc via a monotonic-deque sliding minimum. Docs shorter than
  * one window still emit their global-min gram (every NON-EMPTY doc
  * fingerprints; zero-length text emits nothing — a shared empty-string
  * fingerprint would make all empty docs mutual span carriers and let a
  * scrub report chars_cut > doc length). */
case class WinnowedGramHits(child: Expression, gramLen: Int, window: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("off", IntegerType, nullable = false),
    StructField("gh", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "winnowed_gram_hits"

  private val B = 1000003L
  private val BPow: Long = {
    var p = 1L; var i = 0
    while (i < gramLen - 1) { p *= B; i += 1 }
    p
  }

  @inline private def fmix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    val bytes = u.getBytes
    var ascii = true
    var i = 0
    while (i < bytes.length && ascii) { ascii = bytes(i) >= 0; i += 1 }
    // char accessor + length, unified over the byte fast path and the
    // String fallback (char==byte for ASCII, so both hash identically)
    val (charAt, n): (Int => Int, Int) =
      if (ascii) ((j: Int) => bytes(j).toInt, bytes.length)
      else { val s = u.toString; ((j: Int) => s.charAt(j).toInt, s.length) }
    // Zero-length text carries no span: without this guard the count
    // clamp below would fingerprint the empty string (fmix(0)), making
    // every empty doc a mutual carrier of one hot gram — and a scrub
    // would then report chars_cut > doc length on a 0-length doc.
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val count = math.max(n - gramLen + 1, 1)
    val hs = new Array[Long](count)
    var h = 0L
    var j = 0
    val firstLen = math.min(gramLen, n)
    while (j < firstLen) { h = h * B + charAt(j); j += 1 }
    hs(0) = fmix(h)
    var off = 1
    while (off < count) {
      h = (h - charAt(off - 1) * BPow) * B + charAt(off + gramLen - 1)
      hs(off) = fmix(h)
      off += 1
    }
    // winnow: rightmost minimum of each length-`window` window, deduped
    // by offset. Unsigned comparison so the murmur output is uniform.
    val sel = new java.util.TreeSet[Integer]()
    if (count <= window) {
      var best = 0; var k = 1
      while (k < count) {
        if (java.lang.Long.compareUnsigned(hs(k), hs(best)) <= 0) best = k
        k += 1
      }
      sel.add(best)
    } else {
      // monotonic deque of indices with strictly increasing hash values;
      // ties resolve to the RIGHTMOST (newer index evicts equal hashes)
      val deque = new Array[Int](count)
      var head = 0; var tail = 0 // [head, tail)
      var k = 0
      while (k < count) {
        while (tail > head && java.lang.Long.compareUnsigned(
            hs(deque(tail - 1)), hs(k)) >= 0) tail -= 1
        deque(tail) = k; tail += 1
        if (deque(head) <= k - window) head += 1
        if (k >= window - 1) sel.add(deque(head))
        k += 1
      }
    }
    val hits = new Array[Any](sel.size())
    val it = sel.iterator()
    var w = 0
    while (it.hasNext) {
      val o = it.next().intValue()
      hits(w) = org.apache.spark.sql.catalyst.InternalRow(o + 1, hs(o))
      w += 1
    }
    new GenericArrayData(hits)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowedGramHits {
  /** Column builder: `winnowed_gram_hits(text)` with the given gram length and
    * winnowing window. */
  def of(text: Column, gramLen: Int, window: Int = 16): Column =
    column(WinnowedGramHits(expression(text), gramLen, window))
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
