package graft

import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity

class CosineSimilaritySpec extends SparkSpec {

  private def simOf(a: Seq[Double], b: Seq[Double]): Double = {
    import spark.implicits._
    Seq((a, b)).toDF("a", "b")
      .select(CosineSimilarity.of(col("a"), col("b")).as("s"))
      .collect()(0).getDouble(0)
  }

  test("identical vectors have similarity 1.0") {
    assert(math.abs(simOf(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)) - 1.0) < 1e-12)
  }

  test("orthogonal vectors have similarity 0.0") {
    assert(math.abs(simOf(Seq(1.0, 0.0), Seq(0.0, 1.0))) < 1e-12)
  }

  test("opposite vectors have similarity -1.0") {
    assert(math.abs(simOf(Seq(1.0, 2.0), Seq(-1.0, -2.0)) + 1.0) < 1e-12)
  }

  test("zero vector yields 0.0, matching qa_retrieval.py:95-96") {
    assert(simOf(Seq(0.0, 0.0), Seq(1.0, 2.0)) == 0.0)
  }

  test("float arrays widen to double (embeddings fixture)") {
    val e = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val self = e.select(
        CosineSimilarity.of(col("embedding"), col("embedding")).as("s"))
      .agg(min("s").as("lo"), max("s").as("hi")).collect()(0)
    assert(self.getDouble(0) > 1.0 - 1e-9 && self.getDouble(1) < 1.0 + 1e-9)
  }

  test("bounded in [-1, 1] across random pairs (property)") {
    val e = Tables.load(spark, sf, "embeddings").limit(50)
      .select(col("vec_id").as("i"), col("embedding").as("a"))
    val f = Tables.load(spark, sf, "embeddings").limit(50)
      .select(col("vec_id").as("j"), col("embedding").as("b"))
    val bad = e.crossJoin(f)
      .select(CosineSimilarity.of(col("a"), col("b")).as("s"))
      .filter(col("s") > 1.0 + 1e-9 || col("s") < -1.0 - 1e-9)
      .count()
    assert(bad == 0)
  }

  test("interpreted eval matches codegen path") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    // the SQL name resolves through the session's GraftExtensions
    val viaSql = df.select(expr("cosine_sim(a, b)")).collect()(0).getDouble(0)
    val interp = CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal(null),
      org.apache.spark.sql.catalyst.expressions.Literal(null))
    val expected = {
      val (a, b) = (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    assert(math.abs(viaSql - expected) < 1e-12)
    assert(interp.dataType.typeName == "double")
  }
}
