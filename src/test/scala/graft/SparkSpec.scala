package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (spark_guide: one
  * SparkSession per suite, lazy), built by the product factory so the
  * suite runs under the engine's session policy. Cores and partitions are
  * explicit, so SPARK_GRAFT_CPUS does not resize the test session. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Spark.local(4, 4, Map(
    "spark.app.name" -> getClass.getSimpleName,
    "spark.sql.warehouse.dir" -> "target/warehouse"))

  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with whole-stage codegen's silent interpreted fallback
    * disabled (`spark.sql.codegen.fallback=false`,
    * factoryMode=CODEGEN_ONLY), so an expression whose generated code does
    * not compile fails loudly instead of running slowly. */
  protected def withCodegenOnly[A](body: => A): A = {
    val conf = spark.conf
    val prevFallback = conf.get("spark.sql.codegen.fallback", "true")
    val prevMode = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.fallback", "false")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body finally {
      conf.set("spark.sql.codegen.fallback", prevFallback)
      conf.set("spark.sql.codegen.factoryMode", prevMode)
    }
  }
}
