package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Round6, TopCells}
import graft.operators.VectorOps

/** Focused gates for the round-16 fused-assignment rework: the TopCells
  * kernel (driver-hosted centroid rank) and Round6.microLong (the
  * integer-sum mean's per-element scaling) must be BIT-EQUAL to the
  * distributed forms they replace — the v5/v13 oracle hashes and every
  * ×N digest ride on this equality. */
class TopCellsSpec extends SparkSpec {

  import spark.implicits._

  private val rnd = new scala.util.Random(20260818)
  private def randVec(dim: Int): Array[Double] =
    Array.fill(dim)(rnd.nextDouble() * 2 - 1)

  test("microLong == CAST(round(x * 1e8, 0) AS BIGINT) on random, boundary and extreme doubles") {
    // stay inside the bigint cast range (|x|·1e8 < 2^63): beyond it the
    // production column form THROWS under ANSI, so there is no behavior
    // to match — microLong is only ever fed embedding components
    val boundary = Seq(0.0, -0.0, 0.005, -0.005, 0.000000005, -0.000000005,
      1.0, -1.0, 0.999999995, 123.456789125, -123.456789125,
      1e8, -1e8, 1e10, -1e10, 5e-9, 1.5e-8, 2.5e-8,
      java.lang.Double.MIN_VALUE, 4.9e-324)
    val randoms = Seq.fill(20000)(rnd.nextDouble() * 200 - 100) ++
      Seq.fill(2000)(rnd.nextGaussian() * 1e6) ++
      // values engineered near the .5 scaled boundary
      Seq.tabulate(2000)(i => (i - 1000 + 0.5) / 1e8) ++
      Seq.tabulate(500)(i => math.ulp(1.0) * i + 0.314159)
    val xs = (boundary ++ randoms).toDF("x")
    val sparkSide = xs.select(col("x"),
        round(col("x") * 1e8).cast("bigint").as("l"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    sparkSide.foreach { case (x, l) =>
      assert(Round6.microLong(x) == l,
        s"microLong($x) = ${Round6.microLong(x)} but Spark round-cast = $l")
    }
  }

  test("TopCells expression == distributed crossJoin + topk_rows heap on random frames (k=1 and k=2)") {
    val dim = 16
    val n = 500
    val e = (0L until n).map(id => (id, randVec(dim).toSeq)).toDF("vec_id", "v")
      .localCheckpoint()
    for (k <- Seq(8, 37)) {
      val cent = VectorOps.kmeansCentroids(e, 1, k, modInit = true)
        .localCheckpoint()
      // k=1: assignment arms
      val aNew = VectorOps.kmeansAssign(e, cent)
      val aOld = VectorOps.kmeansAssignDistributed(e, cent)
      assert(aNew.exceptAll(aOld).count() == 0 &&
        aOld.exceptAll(aNew).count() == 0, s"assignment arms differ at K=$k")
      // k=2: membership arms
      val mNew = VectorOps.cellMembers(e, cent)
      val mOld = VectorOps.cellMembersDistributed(e, cent)
      assert(mNew.exceptAll(mOld).count() == 0 &&
        mOld.exceptAll(mNew).count() == 0, s"membership arms differ at K=$k")
    }
  }

  test("argmax kernel == TopCells k=1 winner on random vectors (the RDD-loop twin cannot drift)") {
    val dim = 24
    val cents = Array.tabulate(19)(j => (j * 3 + 1, randVec(dim)))
    val cids = cents.map(_._1); val cs = cents.map(_._2)
    (1 to 2000).foreach { _ =>
      val v = randVec(dim)
      val viaExpr = TopCells.topk(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v),
        cids, cs, 1)
      val expected = viaExpr.getStruct(0, 2).getInt(1)
      assert(TopCells.argmax(v, cids, cs) == expected)
    }
  }

  test("fit probe: beyond-guard and empty centroid sets route WITHOUT a driver collect") {
    // beyond-guard: 2^22 doubles is the ceiling; 5M rows × dim 2 exceeds
    // it — built lazily from range(), so a collect() here would blow the
    // test JVM's heap long before the assert; the probe must answer from
    // the one-row aggregate alone
    val big = spark.range(5000000L)
      .select(col("id").cast("int").as("cid"),
        array(col("id").cast("double"), lit(1.0)).as("c"))
    assert(!VectorOps.centMatrixFits(big))
    // empty: routes to the distributed arm => ZERO rows (the join form's
    // semantics), never the fused arm's ANSI element_at throw
    val e = (0L until 5L).map(id => (id, randVec(4).toSeq)).toDF("vec_id", "v")
    val none = VectorOps.toCentFrame(spark, Array.empty)
    assert(!VectorOps.centMatrixFits(none))
    assert(VectorOps.kmeansAssign(e, none).count() == 0L)
    assert(VectorOps.cellMembers(e, none).count() == 0L)
  }

  test("Lloyd centroids from the RDD loop == one distributed means+assign step ahead (both inits)") {
    val e = (0L until 400L).map(id => (id, randVec(32).toSeq))
      .toDF("vec_id", "v").localCheckpoint()
    for (modInit <- Seq(false, true)) {
      val cents2 = VectorOps.kmeansCentroids(e, 2, 11, modInit)
      val cents3 = VectorOps.kmeansCentroids(e, 3, 11, modInit)
      val oldStep = VectorOps.centroidMeans(
        VectorOps.kmeansAssignDistributed(e, cents2)
          .select(col("cid"), col("v")))
      val a = cents3.collect().map(r => (r.getInt(0),
        r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits)))
        .sortBy(_._1).toSeq
      val b = oldStep.collect().map(r => (r.getInt(0),
        r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits)))
        .sortBy(_._1).toSeq
      assert(a == b, s"RDD-loop step-3 centroids differ from the " +
        s"distributed replay at modInit=$modInit")
    }
  }
}
