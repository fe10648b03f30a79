package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Bounded per-group top-k as ONE aggregate: a k-element heap of payload
  * structs, ordered by the struct's FIRST field DESCENDING and the
  * remaining fields ASCENDING (nulls last in either direction). `eval`
  * returns the kept rows best-first as `array<struct<...>>`; callers
  * `posexplode` it, so `pos + 1` IS the rank the equivalent
  * `row_number() OVER (ORDER BY f0 DESC, f1, ...)  <= k` window assigns.
  *
  * Why this exists (SURVEY §2.11's custom-aggregate tier; the round-13
  * sixth-decade finding): Spark plans `rank-filter-adjacent` windows as
  * `WindowGroupLimitExec`, whose map-side GroupedLimitIterator SORTS its
  * whole input partition before applying the per-group limit. For
  * knnJoinOver's final per-probe top-3 that sort runs over the
  * probe×candidate stream — ~1.6e10 rows at the ×1000 operating point
  * (2M vectors, K=506 cells), an external sort that filled this host's
  * spill disk. This aggregate holds ≤ k rows per group at every moment,
  * needs NO sort anywhere, and partial-aggregates map-side: each task
  * ships at most (groups-in-task)·k rows into the exchange, and the merge
  * is a k-bounded heap union. Work drops from O(n log n) sort + shuffle of
  * n rows to O(n log k) heap updates + shuffle of ≤ 2·groups·k rows.
  *
  * Planning note: a TypedImperativeAggregate plans as
  * ObjectHashAggregateExec, which itself falls back to a sort-based pass
  * when a task's hash map exceeds
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (default
  * 128 DISTINCT KEYS — tiny). Every engine session ([[graft.Spark.local]])
  * raises it to 1<<21 so the hash path holds at the
  * per-task group counts these plans produce (each buffer is ≤ k tiny
  * rows, so 2M buffers per task is still bounded memory); a real cluster
  * sets the same knob.
  *
  * Determinism: the (f0 DESC, f1.. ASC) comparison is a TOTAL order
  * whenever callers include a unique tie-break field (knnJoinOver: b_id;
  * t10: doc_id), so the kept set and its order are engine-independent —
  * the DuckDB `row_number()` oracles stay valid over the rewired plans.
  *
  * Null handling: null INPUT structs are ignored (like every Spark agg);
  * a null FIELD inside a kept struct sorts after every non-null value in
  * that field regardless of direction (documented contract, asserted in
  * TopKRowsSpec).
  */
case class TopKRows(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKRows.Buffer]
  with UnaryLike[Expression] {

  require(k >= 1 && k <= (1 << 20), s"topk_rows k=$k outside [1, 2^20]")

  // lazy: a Column builder constructs this before its child is resolved
  private lazy val structType: StructType = child.dataType match {
    case st: StructType => st
    case other => throw new IllegalArgumentException(
      s"topk_rows needs a struct payload, got ${other.simpleString}")
  }
  private lazy val fieldTypes: Array[DataType] = structType.fields.map(_.dataType)
  @transient private lazy val fieldOrds: Array[Ordering[Any]] =
    fieldTypes.map(TypeUtils.getInterpretedOrdering)

  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_rows"

  /** rank order: negative iff `a` outranks `b` (field 0 desc, rest asc,
    * nulls last either way). */
  private def cmp(a: InternalRow, b: InternalRow): Int = {
    var i = 0
    while (i < fieldTypes.length) {
      val av = if (a.isNullAt(i)) null else a.get(i, fieldTypes(i))
      val bv = if (b.isNullAt(i)) null else b.get(i, fieldTypes(i))
      val c =
        if (av == null && bv == null) 0
        else if (av == null) 1 // nulls last
        else if (bv == null) -1
        else if (i == 0) -fieldOrds(i).compare(av, bv)
        else fieldOrds(i).compare(av, bv)
      if (c != 0) return c
      i += 1
    }
    0
  }
  @transient private lazy val rankOrder: java.util.Comparator[InternalRow] =
    (a: InternalRow, b: InternalRow) => cmp(a, b)

  override def createAggregationBuffer(): TopKRows.Buffer =
    // heap head = WORST kept row (reverse rank order) so eviction is peek
    new TopKRows.Buffer(
      new java.util.PriorityQueue[InternalRow](
        math.min(k, 64), rankOrder.reversed()))

  private def insert(buf: TopKRows.Buffer, row: InternalRow,
      owned: Boolean): Unit = {
    val pq = buf.pq
    if (pq.size < k) pq.add(if (owned) row else row.copy())
    else if (cmp(row, pq.peek()) < 0) {
      pq.poll()
      pq.add(if (owned) row else row.copy())
    }
  }

  override def update(buf: TopKRows.Buffer, input: InternalRow)
      : TopKRows.Buffer = {
    val v = child.eval(input)
    if (v != null) insert(buf, v.asInstanceOf[InternalRow], owned = false)
    buf
  }

  override def merge(buf: TopKRows.Buffer, other: TopKRows.Buffer)
      : TopKRows.Buffer = {
    val it = other.pq.iterator()
    while (it.hasNext) insert(buf, it.next(), owned = true)
    buf
  }

  override def eval(buf: TopKRows.Buffer): Any = {
    val arr = buf.pq.toArray(new Array[InternalRow](buf.pq.size))
    java.util.Arrays.sort(arr, rankOrder) // best-first: pos + 1 == rank
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }

  @transient private lazy val ser: UnsafeProjection =
    UnsafeProjection.create(fieldTypes)

  override def serialize(buf: TopKRows.Buffer): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(256)
    val dos = new java.io.DataOutputStream(out)
    dos.writeInt(buf.pq.size)
    val it = buf.pq.iterator()
    while (it.hasNext) {
      val u = ser(it.next())
      dos.writeInt(u.getSizeInBytes)
      u.writeToStream(out, null)
    }
    dos.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKRows.Buffer = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new UnsafeRow(fieldTypes.length)
      row.pointTo(rowBytes, len)
      buf.pq.add(row) // ≤ k rows by construction on the serializing side
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKRows =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKRows =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKRows =
    copy(child = newChild)
}

object TopKRows {
  /** The aggregation state: a bounded heap whose head is the WORST kept
    * row. A wrapper class (not the bare PriorityQueue) keeps the
    * TypedImperativeAggregate type parameter nominal and gives merge a
    * stable owned-rows contract. */
  final class Buffer(val pq: java.util.PriorityQueue[InternalRow])

  private val warnedSessions =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** CONFIG CONTRACT (warn-once per session): topk_rows plans as
    * ObjectHashAggregate, which silently switches to a SORT-BASED pass
    * once a task's hash map exceeds
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * (default 128 distinct keys — tiny). The fallback is CORRECT
    * (TopKRowsSpec pins output equality at threshold=1) but reintroduces
    * the map-side sort this aggregate exists to avoid; sessions built
    * elsewhere and real clusters should raise it ([[graft.Spark.local]]
    * uses 1<<21 — each
    * buffer is ≤ k tiny rows, so millions of group buffers per task stay
    * bounded-memory). */
  private def warnLowFallbackThreshold(spark: SparkSession): Unit = {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val set = spark.conf.getAll.get(key)
    val t = set.getOrElse("128")
    // diagnostics only: an unparseable value (whitespace, "2m"-style
    // suffix) must skip the warning, never fail the query build
    val tParsed = scala.util.Try(t.trim.toLong).getOrElse(Long.MaxValue)
    if (tParsed <= 128 && warnedSessions.add(spark))
      System.err.println("[graft] WARN topk_rows: " + key + "=" + t +
        (if (set.isEmpty) " (default)" else "") +
        " — plans stay correct but fall back to a sort-based " +
        "aggregate beyond " + t + " groups/task; raise it (e.g. 1<<21) to " +
        "keep the hash path")
  }

  /** Column builder: the aggregate `topk_rows(payload_struct, k)`. Warns
    * once per session (the active one) when the fallback threshold is low. */
  def of(payload: Column, k: Int): Column = {
    SparkSession.getActiveSession.foreach(warnLowFallbackThreshold)
    column(TopKRows(expression(payload), k).toAggregateExpression())
  }
}
