package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKRows

/** Gates for the bounded top-k heap aggregate — the WindowGroupLimit
  * replacement (round 14). The load-bearing property is EXACT row-set and
  * rank equality with the row_number window form it replaces, across
  * partitionings (partial/merge paths) and tie patterns. */
class TopKRowsSpec extends AnyFunSuite with SparkSpec {

  private def windowForm(df: org.apache.spark.sql.DataFrame, k: Int) = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("rk", row_number().over(
        Window.partitionBy("g").orderBy(desc("s"), col("id"))))
      .filter(col("rk") <= k)
      .select("g", "s", "id", "rk")
  }

  private def heapForm(df: org.apache.spark.sql.DataFrame, k: Int) = {
    df.select(col("g"), struct(col("s"), col("id")).as("cand"))
      .groupBy("g").agg(TopKRows.of(col("cand"), k).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("g"), col("t.s").as("s"), col("t.id").as("id"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getInt(0), r.getDouble(1), r.getLong(2), r.getInt(3))).toSet

  test("equals the row_number window exactly, incl. ties and tiny groups") {
    import spark.implicits._
    // deterministic pseudo-random rows: 40 groups, ~50 rows each, scores
    // quantized to force duplicate-score ties (id breaks them); group 777
    // has fewer rows than k to cover the short-group path
    val rows = (0 until 2000).map { i =>
      val g = i % 40
      val s = ((i * 2654435761L) % 17).toDouble / 16.0
      (g, s, i.toLong)
    } ++ Seq((777, 0.5, 9001L), (777, 0.5, 9002L))
    for (parts <- Seq(1, 7)) {
      val df = rows.toDF("g", "s", "id").repartition(parts)
      for (k <- Seq(1, 3, 10)) {
        assert(asSet(heapForm(df, k)) == asSet(windowForm(df, k)),
          s"parts=$parts k=$k")
      }
    }
  }

  test("plans as partial+final ObjectHashAggregate with no sort") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i % 5, i.toDouble, i.toLong))
      .toDF("g", "s", "id").repartition(3)
    val plan = heapForm(df, 3).queryExecution.executedPlan.toString
    assert(plan.split("ObjectHashAggregate").length >= 3, plan)
    assert(!plan.contains("Sort"), plan)
  }

  test("sort-based fallback path (threshold=1) yields identical output") {
    // ObjectHashAggregate falls back to a SORT-BASED pass once a task's
    // hash map exceeds spark.sql.objectHashAggregate.sortBased.
    // fallbackThreshold (default 128 keys). Harness sessions raise it to
    // 2^21 so the hash path holds; this case pins the CONTRACT that a
    // cluster left at the default is still CORRECT — the fallback drives
    // serialize + merge-under-sorted-spill, which nothing else exercises.
    import spark.implicits._
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.get(key)
    try {
      val rows = (0 until 2000).map { i =>
        (i % 40, ((i * 2654435761L) % 17).toDouble / 16.0, i.toLong)
      } ++ Seq((777, 0.5, 9001L), (777, 0.5, 9002L))
      val df = rows.toDF("g", "s", "id").repartition(7)
      val expected = asSet(windowForm(df, 3))
      spark.conf.set(key, "1")
      assert(asSet(heapForm(df, 3)) == expected)
    } finally spark.conf.set(key, prev)
    // the builder's warning names a deliberate value as set, and says
    // "(default)" only when the conf is unset (fresh sessions, each made
    // active: the warning fires once per session)
    def warning(value: Option[String]): String = {
      val s = spark.newSession()
      value.fold(s.conf.unset(key))(s.conf.set(key, _))
      val buf = new java.io.ByteArrayOutputStream()
      val err = System.err
      System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
      org.apache.spark.sql.SparkSession.setActiveSession(s)
      try TopKRows.of(col("cand"), 3)
      finally {
        org.apache.spark.sql.SparkSession.setActiveSession(spark)
        System.setErr(err)
      }
      buf.toString("UTF-8").linesIterator.find(_.contains("topk_rows")).getOrElse("")
    }
    val deliberate = warning(Some("1"))
    assert(deliberate.contains(s"$key=1 ") && !deliberate.contains("(default)"),
      deliberate)
    assert(warning(None).contains(s"$key=128 (default)"))
  }

  test("null payload structs are skipped; null fields rank last") {
    import spark.implicits._
    val df = Seq[(Int, Option[java.lang.Double], Long)](
      (1, Some(0.9), 1L), (1, None, 2L), (1, Some(0.1), 3L))
      .toDF("g", "s", "id")
    // null FIELD in the ordering slot: sorts after every non-null score
    val kept = df.select(col("g"), struct(col("s"), col("id")).as("cand"))
      .groupBy("g").agg(TopKRows.of(col("cand"), 2).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.id")).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L, 3L))
    // null whole STRUCT: ignored like every aggregate input
    val kept2 = df.select(col("g"),
        when(col("id") === 2L, lit(null))
          .otherwise(struct(col("s"), col("id"))).as("cand"))
      .groupBy("g").agg(TopKRows.of(col("cand"), 3).as("top"))
      .select(size(col("top"))).head().getInt(0)
    assert(kept2 == 2)
  }

  test("serde roundtrip preserves the heap") {
    val agg = TopKRows(
      org.apache.spark.sql.catalyst.expressions.Literal.default(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("s",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType)))), 3)
    val buf = agg.createAggregationBuffer()
    Seq((0.3, 7L), (0.9, 1L), (0.9, 0L), (0.1, 4L), (0.5, 2L)).foreach {
      case (s, id) =>
        val row = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](s, id))
        // drive update through merge-shape insertion: wrap as a buffer
        val one = agg.createAggregationBuffer()
        one.pq.add(row)
        agg.merge(buf, one)
    }
    val back = agg.deserialize(agg.serialize(buf))
    val got = agg.eval(back)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val rows = (0 until got.numElements()).map { i =>
      val r = got.getStruct(i, 2); (r.getDouble(0), r.getLong(1))
    }
    // best-first: score desc, id asc on the 0.9 tie
    assert(rows == Seq((0.9, 0L), (0.9, 1L), (0.5, 2L)))
  }
}
