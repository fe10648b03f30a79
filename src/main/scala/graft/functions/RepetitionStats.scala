package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** t8's repetition signals fused into one pass over the words array:
  * (max single-word count, 5-gram position count, distinct 5-gram count).
  *
  * Why: the SQL form computes the top-word count as
  * `array_max(transform(array_distinct(words), w -> size(filter(words,
  * x -> x = w))))` — an interpreted lambda PER DISTINCT WORD each
  * rescanning the whole array (O(distinct·n) closure dispatches), plus a
  * materialized 5-gram string array and its array_distinct copy. The
  * honest-action bench exposed it as the slowest map-side query (0.825 s
  * at sf0.1, 6.4 s at 10x). This form is one hash-map pass for word
  * counts and one hash-set pass over the gram windows — O(n) dispatches
  * total, grams joined once each and never kept.
  *
  * Exact parity with the SQL form it replaces (the DuckDB oracle is
  * unchanged): gram i = join(slice(words, i+1, 5), ' ') for i in
  * 0..greatest(n-5, 0) — the final short windows (and the whole-array
  * gram of an n<5 doc) are INCLUDED, and n_grams = greatest(n-5, 0)+1
  * exactly as size(g5) was. UTF8String equality is byte equality, the
  * same semantics array_distinct/filter(= ) apply to strings. */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("max_word_count", IntegerType, nullable = false),
    StructField("n_grams", IntegerType, nullable = false),
    StructField("n_distinct_grams", IntegerType, nullable = false)))
  override def prettyName: String = "repetition_stats"

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val words = new Array[UTF8String](n)
    var i = 0
    while (i < n) { words(i) = arr.getUTF8String(i); i += 1 }
    val counts = new java.util.HashMap[UTF8String, Int](n * 2)
    var maxCount = 0
    i = 0
    while (i < n) {
      val c = counts.merge(words(i), 1, (a, b) => a + b)
      if (c > maxCount) maxCount = c
      i += 1
    }
    val nGrams = math.max(n - 4, 1)
    val grams = new java.util.HashSet[UTF8String](nGrams * 2)
    i = 0
    while (i < nGrams) {
      val end = math.min(i + 5, n)
      val slice = new Array[UTF8String](math.max(end - i, 0))
      var j = i
      while (j < end) { slice(j - i) = words(j); j += 1 }
      grams.add(UTF8String.concatWs(UTF8String.fromString(" "), slice: _*))
      i += 1
    }
    InternalRow(maxCount, nGrams, grams.size())
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionStats {
  /** Column builder: `repetition_stats(text)`. */
  def of(text: Column): Column = column(RepetitionStats(expression(text)))
}
