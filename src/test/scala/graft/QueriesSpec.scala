package graft

/** Driver-contract smoke: every declared query runs at sf0.001 and every
  * query has an oracle (the t2 gate requires both). */
class QueriesSpec extends SparkSpec {

  test("flagship entry returns rows (t1 smoke, SURVEY §7.3)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has a matching oracle entry or is declared rows-only") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"dangling oracles: ${o.diff(q)}")
    assert(q.diff(o) == SparkEntry.rowsOnlyQueries,
      s"queries missing an oracle and not declared rows-only: ${q.diff(o).diff(SparkEntry.rowsOnlyQueries)}")
  }

  // Under codegen-only, so this pass is also the standing gate that every
  // query's whole-stage codegen compiles. Rows are counted from each
  // query's own executed plan: count() would let Catalyst prune map-only
  // projections, which would then never compile.
  test("all queries execute and return rows at sf0.001") {
    val empty = withCodegenOnly {
      SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val n = fn(spark, sf).queryExecution.toRdd.count()
        if (n == 0) Some(name) else None
      }
    }
    queryPassRan = true
    assert(empty.isEmpty, s"queries with zero rows: $empty")
  }

  private var queryPassRan = false

  // Operators build their engine expressions as typed Columns, so the
  // pass above leaves no temporary function behind: the only name beyond
  // the builtins is the cosine_sim GraftExtensions injects for /execute.
  test("the query pass leaves no temporary function in the session registry") {
    assume(queryPassRan, "needs the query pass above")
    val temp = spark.sessionState.catalog.listTemporaryFunctions()
      .map(_.funcName).toSet
    assert(temp.subsetOf(Set("cosine_sim")),
      s"temporary functions left behind: ${temp - "cosine_sim"}")
  }
}
