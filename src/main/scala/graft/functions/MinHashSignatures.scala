package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused MinHash signature vector: for an array of shingle hashes `hs`,
  * returns [ min_i (a_j * (hs_i mod p) + b_j) mod p ]_{j < k} — all k
  * signature slots in ONE primitive loop.
  *
  * Why a Catalyst Expression (SURVEY §4 "custom Catalyst work"): the
  * composed form is k separate `array_min(transform(hs, ...))` calls, and
  * higher-order functions evaluate their lambdas interpreted — k·|hs|
  * closure invocations with boxed longs per document. On the 10x probe
  * corpus (~10M shingles) that interpretation dominated the LSH pipeline.
  * This expression emits a two-level primitive loop through codegen, so the
  * signature build runs at array-scan speed inside WholeStageCodegen.
  *
  * Semantics match the DuckDB oracle's `list_min(list_transform(...))` per
  * slot exactly (same integer arithmetic); an empty input array yields
  * null, like list_min of an empty list.
  */
case class MinHashSignatures(child: Expression, a: Array[Long],
    b: Array[Long], p: Long) extends UnaryExpression
  with ImplicitCastInputTypes {

  require(a.length == b.length && a.nonEmpty)

  // ArrayData.getLong on an array<int> silently misreads (element width
  // mismatch) — demand array<bigint>, letting the analyzer insert the
  // cast for array<int> inputs and reject non-array types outright.
  override def inputTypes = Seq(ArrayType(LongType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sigs"
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val k = a.length
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i) % p
      var j = 0
      while (j < k) {
        val v = (a(j) * h + b(j)) % p
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", a, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", b, "long[]")
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val h = ctx.freshName("h"); val v = ctx.freshName("v")
      s"""
         |int $n = $c.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $out = new long[${a.length}];
         |  java.util.Arrays.fill($out, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $h = $c.getLong($i) % ${p}L;
         |    for (int $j = 0; $j < ${a.length}; $j++) {
         |      long $v = ($aRef[$j] * $h + $bRef[$j]) % ${p}L;
         |      if ($v < $out[$j]) $out[$j] = $v;
         |    }
         |  }
         |  ${ev.value} = new $gad($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignatures {
  /** Column builder: `minhash_sigs(hs)` with the given hash-family
    * parameters. */
  def of(hs: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    column(MinHashSignatures(expression(hs), a.toArray, b.toArray, p))
}
