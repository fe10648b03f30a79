package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Random-hyperplane LSH band keys for a double vector: for each band b,
  * key_b = Σ_i [dot(v, plane_{b·p+i}) > 0] · 2^i over p planes per band,
  * with ±1 plane normals given as a sign matrix.
  *
  * Why an expression: the textual form is NumPlanes × dim ±v[k] terms —
  * 512 terms here — which exceeds Janino's 64 KB generated-method limit and
  * silently drops the whole stage out of codegen (observed: the fallback
  * made the banding stage the query's hot spot). This emits one tight
  * two-level loop instead. The dot accumulates left-to-right over k exactly
  * like the textual form the DuckDB oracle evaluates, and s·v[k] with
  * s = ±1.0 is an exact IEEE negation, so the signs of the dots — and hence
  * the keys — match the oracle bit-for-bit.
  */
case class RpBandKeys(child: Expression, signs: Array[Array[Double]],
    planesPerBand: Int)
  extends UnaryExpression
  with ImplicitCastInputTypes {

  require(signs.nonEmpty && signs.length % planesPerBand == 0)
  private def numBands: Int = signs.length / planesPerBand

  // analysis-time: demand array<double> (array<float> gets an implicit cast)
  override def inputTypes = Seq(ArrayType(DoubleType))

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "rp_band_keys"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    // A vector shorter/longer than the sign matrix would hash a PARTIAL dot
    // while the oracle's textual form always indexes v[1..dim] — fail loudly
    // instead of silently diverging if the embedding dimension ever changes.
    if (v.numElements() != signs(0).length)
      throw new IllegalArgumentException(
        s"rp_band_keys: vector length ${v.numElements()} != plane dimension ${signs(0).length}")
    val n = signs(0).length
    val keys = new Array[Int](numBands)
    var j = 0
    while (j < signs.length) {
      var dot = 0.0
      var k = 0
      while (k < n) { dot += signs(j)(k) * v.getDouble(k); k += 1 }
      if (dot > 0) keys(j / planesPerBand) |= 1 << (j % planesPerBand)
      j += 1
    }
    new GenericArrayData(keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sRef = ctx.addReferenceObj("rpSigns", signs, "double[][]")
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val keys = ctx.freshName("keys")
      val j = ctx.freshName("j"); val k = ctx.freshName("k")
      val dot = ctx.freshName("dot")
      s"""
         |if ($c.numElements() != $sRef[0].length) {
         |  throw new IllegalArgumentException("rp_band_keys: vector length " +
         |    $c.numElements() + " != plane dimension " + $sRef[0].length);
         |}
         |int $n = $sRef[0].length;
         |int[] $keys = new int[${numBands}];
         |for (int $j = 0; $j < ${signs.length}; $j++) {
         |  double $dot = 0.0;
         |  for (int $k = 0; $k < $n; $k++) {
         |    $dot += $sRef[$j][$k] * $c.getDouble($k);
         |  }
         |  if ($dot > 0) $keys[$j / $planesPerBand] |= 1 << ($j % $planesPerBand);
         |}
         |${ev.value} = new $gad($keys);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RpBandKeys {
  /** Register `<name>(v)` with the given sign matrix. Distinct band configs
    * must register under distinct names: resolution happens at DataFrame
    * construction, so a later register would not affect already-built plans,
    * but two configs alive in one session would race on a shared name. */
  def register(spark: SparkSession, signs: Array[Array[Double]],
      planesPerBand: Int, name: String = "rp_band_keys"): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => RpBandKeys(exprs.head, signs, planesPerBand),
      "scala_udf")
}
