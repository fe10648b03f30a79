package graft

import graft.operators.Profile

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("I1 numeric + categorical summary format matches utils.py:52-86") {
    val df = Seq(
      (1.0, Some("run"), Some(10)),
      (2.0, Some("run"), None),
      (3.0, Some("ride"), Some(30))
    ).toDF("speed", "sport", "hr")
    val s = Profile.summaryString(df)
    val lines = s.split("\n")
    assert(lines(0) == "speed: numeric(n=3) range=1.0-3.0 mean=2.0")
    assert(lines(1) == "sport: categorical(n=3) unique=2 values=[run, ride]")
    assert(lines(2) == "hr: numeric(n=2) range=10.0-30.0 mean=20.0 missing=1")
  }

  test("I1 all-missing numeric column") {
    val df = Seq.empty[Option[Double]].toDF("x")
      .union(Seq(Option.empty[Double], Option.empty[Double]).toDF("x"))
    assert(Profile.summaryString(df).startsWith("x: numeric all_missing"))
  }

  test("I1 high-cardinality categorical uses samples=[..]") {
    val df = (1 to 20).map(i => s"cat$i").toDF("c")
    val s = Profile.summaryString(df)
    assert(s.contains("unique=20"))
    assert(s.contains("samples=["))
    assert(s.contains("..."))
  }

  test("I2 preview starts at row 25, falls back to row 1 on short tables") {
    val long = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val head = Profile.dataframeToString(long, Seq("id"), Profile.summaryString(long))
    assert(head.startsWith("DF Head:\n"))
    assert(head.contains("v25") && !head.contains("v24") && !head.contains("v30"))
    val short = (0 until 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val s2 = Profile.dataframeToString(short, Seq("id"), Profile.summaryString(short))
    assert(s2.contains("v1") && !s2.contains("v0 ") && s2.contains("DF Summary"))
  }

  test("I1 profile invariants on the fixture: min <= mean <= max (property)") {
    val df = Tables.load(spark, sf, "lineitem")
      .select("l_quantity", "l_extendedprice", "l_discount")
    val s = Profile.summaryString(df)
    s.split("\n").foreach { line =>
      val rng = "range=([-0-9.]+)-([-0-9.]+) mean=([-0-9.]+)".r
      rng.findFirstMatchIn(line).foreach { m =>
        val (lo, hi, mean) = (m.group(1).toDouble, m.group(2).toDouble,
          m.group(3).toDouble)
        assert(lo <= mean + 0.05 && mean <= hi + 0.05, line)
      }
    }
  }

  test("I1 approx mode: same text, no exact-distinct Expand in the plan") {
    import org.apache.spark.sql.catalyst.plans.logical.Expand
    // two categorical columns force the exact path through Spark's
    // RewriteDistinctAggregates Expand (row multiplication per distinct
    // group); the approx path must plan as a single partial-aggregate pass.
    val df = Seq(
      (1.0, "run", "am"), (2.0, "run", "pm"), (3.0, "ride", "am")
    ).toDF("speed", "sport", "period")
    val exactPlan = Profile.summaryAgg(df, approx = false)
      .queryExecution.optimizedPlan
    val approxPlan = Profile.summaryAgg(df, approx = true)
      .queryExecution.optimizedPlan
    assert(exactPlan.collect { case e: Expand => e }.nonEmpty,
      "fixture should trigger the exact-distinct Expand rewrite")
    assert(approxPlan.collect { case e: Expand => e }.isEmpty,
      "approx profile must not carry the Expand rewrite")
    assert(!approxPlan.toString.toLowerCase.contains("count(distinct"))
    // HLL++ is exact at these cardinalities -> byte-identical text.
    assert(Profile.summaryString(df, approx = true) ==
      Profile.summaryString(df))
  }
}
