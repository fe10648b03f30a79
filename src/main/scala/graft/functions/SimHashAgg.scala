package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._

/** Weighted SimHash as ONE custom aggregate: accumulates the per-bit vote
  * sums for `bits` fingerprint bits in a primitive long buffer and emits the
  * folded fingerprint directly.
  *
  * Why a TypedImperativeAggregate (SURVEY §2.11's custom-aggregate tier):
  * the composed form is `bits` separate `sum(CASE WHEN (wh & m) != 0 THEN w
  * ELSE -w END)` columns — 48 aggregate expressions evaluated per input row
  * plus a 48-column fold afterwards. This operator walks the token stream
  * once, updates 48 longs per row in a tight loop, and merges partial
  * buffers with elementwise adds — order-free integer arithmetic, so the
  * result is deterministic and matches the DuckDB oracle's per-bit sums
  * exactly. Map-side partial aggregation works as usual: the buffer is the
  * 48-long vote vector, serialized as 8·bits bytes.
  *
  * Inputs: wh BIGINT (word hash; low `bits` bits are voted on), w INT/BIGINT
  * (vote weight). Null inputs are ignored, like sum.
  */
case class SimHashAgg(left: Expression, right: Expression, bits: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with BinaryLike[Expression]
  with ImplicitCastInputTypes {

  require(bits > 0 && bits <= 63)

  // Input contract: without it, an INT first argument reaches the
  // asInstanceOf[Long] below and fails at EXECUTION with a
  // ClassCastException; this turns that into an analysis-time implicit
  // cast (or a clear analysis error for non-numeric types).
  override def inputTypes = Seq(LongType, LongType)

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "simhash_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bits)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val whAny = left.eval(input)
    val wAny = right.eval(input)
    if (whAny != null && wAny != null) {
      // both children are LongType after the inputTypes implicit casts
      val wh = whAny.asInstanceOf[Long]
      val w = wAny.asInstanceOf[Long]
      var b = 0
      while (b < bits) {
        buf(b) += (if (((wh >> b) & 1L) != 0L) w else -w)
        b += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var b = 0
    while (b < bits) { buf(b) += other(b); b += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    var fp = 0L
    var b = 0
    while (b < bits) {
      if (buf(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * bits)
    var b = 0
    while (b < bits) { bb.putLong(buf(b)); b += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](bits)
    var b = 0
    while (b < bits) { out(b) = bb.getLong(); b += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SimHashAgg =
    copy(left = newLeft, right = newRight)
}

object SimHashAgg {
  /** Column builder: the aggregate `simhash_agg(wh, w)` producing a
    * `bits`-wide fingerprint. */
  def of(wh: Column, w: Column, bits: Int): Column =
    column(SimHashAgg(expression(wh), expression(w), bits)
      .toAggregateExpression())
}
