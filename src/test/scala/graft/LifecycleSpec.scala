package graft

import org.apache.spark.sql.functions._
import graft.lifecycle.EngineSession
import graft.plans.{Lifecycle, SqlValidator}

class LifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def session(): EngineSession = {
    val es = new EngineSession(spark)
    es.bind("df", Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "tag"))
    es
  }

  test("validator accepts read-only SELECT over registered views") {
    val es = session()
    assert(es.runValidatedSql("SELECT tag, count(*) FROM df GROUP BY tag").isRight)
  }

  test("validator rejects DDL/DML (reg_ex.py blacklist analog)") {
    val es = session()
    assert(es.runValidatedSql("DROP TABLE df").isLeft)
    assert(es.runValidatedSql("INSERT INTO df VALUES (4, 'x')").isLeft)
    assert(es.runValidatedSql("CREATE TABLE t AS SELECT 1").isLeft)
  }

  test("validator rejects unknown relations and unknown functions") {
    val es = session()
    val r = es.runValidatedSql("SELECT * FROM secrets")
    assert(r.isLeft && r.left.exists(_.contains("secrets")))
    val f = SqlValidator.validate(spark, "SELECT evil_udf(id) FROM df", Set("df"))
    assert(f.isLeft && f.left.exists(_.contains("evil_udf")))
  }

  test("validator recurses into subquery expressions (scalar/IN/EXISTS)") {
    val es = session()
    // a forbidden relation hidden in a scalar subquery must be rejected
    val scalar = es.runValidatedSql("SELECT (SELECT max(x) FROM secrets LIMIT 1)")
    assert(scalar.isLeft && scalar.left.exists(_.contains("secrets")))
    val in = es.runValidatedSql("SELECT id FROM df WHERE id IN (SELECT x FROM secrets)")
    assert(in.isLeft && in.left.exists(_.contains("secrets")))
    val exists = es.runValidatedSql(
      "SELECT id FROM df WHERE EXISTS (SELECT 1 FROM secrets)")
    assert(exists.isLeft && exists.left.exists(_.contains("secrets")))
    // nested two levels deep
    val nested = es.runValidatedSql(
      "SELECT (SELECT (SELECT max(x) FROM secrets) FROM df LIMIT 1)")
    assert(nested.isLeft && nested.left.exists(_.contains("secrets")))
    // an allow-listed relation in a subquery still passes
    assert(es.runValidatedSql(
      "SELECT id FROM df WHERE id IN (SELECT id FROM df)").isRight)
  }

  test("validator accepts CTE aliases but still checks CTE bodies") {
    val es = session()
    assert(es.runValidatedSql(
      "WITH t AS (SELECT id FROM df) SELECT * FROM t").isRight)
    // nested: CTE referencing an earlier CTE
    assert(es.runValidatedSql(
      "WITH a AS (SELECT id FROM df), b AS (SELECT * FROM a) SELECT * FROM b")
      .isRight)
    // a forbidden relation inside the CTE body is still rejected
    val bad = es.runValidatedSql(
      "WITH t AS (SELECT x FROM secrets) SELECT * FROM t")
    assert(bad.isLeft && bad.left.exists(_.contains("secrets")))
  }

  test("CTE exemption is scoped: sibling-scope references are still checked") {
    val es = session()
    // a CTE named like a real view inside ONE subquery must not excuse a
    // reference to the actual view in a SIBLING scope
    val r = graft.plans.SqlValidator.validate(spark,
      "SELECT (WITH df AS (SELECT 1 AS id) SELECT max(id) FROM df) + " +
        "(SELECT max(id) FROM df)",
      allowedRelations = Set.empty)
    assert(r.isLeft && r.left.exists(_.contains("df")))
    // and calculate() stays closed to the same trick
    import graft.functions.ScalarExtras
    assert(ScalarExtras.calculate(spark,
      "(WITH df AS (SELECT 1 AS id) SELECT max(id) FROM df) + (SELECT max(id) FROM df)").isLeft)
    // try_reflect is denied like reflect
    val tr = graft.plans.SqlValidator.validate(spark,
      "SELECT try_reflect('java.lang.System','getenv','PATH')", Set.empty)
    assert(tr.isLeft)
    assert(es != null)
  }

  test("validator denies reflect/java_method even though they are builtins") {
    val top = SqlValidator.validate(spark,
      "SELECT reflect('java.lang.System','getenv','PATH')", Set.empty)
    assert(top.isLeft && top.left.exists(_.contains("reflect")))
    val sub = SqlValidator.validate(spark,
      "SELECT (SELECT java_method('java.lang.System','getenv','PATH'))", Set.empty)
    assert(sub.isLeft && sub.left.exists(_.contains("java_method")))
    val user = SqlValidator.validate(spark, "SELECT current_user()", Set.empty)
    assert(user.isLeft)
  }

  test("calculate() routes through the validator (no subquery/reflect escape)") {
    import graft.functions.ScalarExtras
    assert(ScalarExtras.calculate(spark, "1 + 2 * 3") == Right(7.0))
    assert(ScalarExtras.calculate(spark, "round(pow(2, 10) / 3, 2)").isRight)
    val es = session() // registers view df — calculate must still not see it
    assert(es != null)
    assert(ScalarExtras.calculate(spark, "(SELECT max(id) FROM df)").isLeft)
    assert(ScalarExtras.calculate(spark,
      "length(reflect('java.lang.System','getenv','PATH'))").isLeft)
  }

  test("validator covers every clause position (union/having/lateral/order)") {
    val es = session()
    // forbidden relation in a UNION branch
    val u = es.runValidatedSql(
      "SELECT id FROM df UNION ALL SELECT x FROM secrets")
    assert(u.isLeft && u.left.exists(_.contains("secrets")))
    // forbidden relation in a HAVING subquery
    val h = es.runValidatedSql(
      "SELECT tag, count(*) FROM df GROUP BY tag " +
        "HAVING count(*) > (SELECT max(x) FROM secrets)")
    assert(h.isLeft && h.left.exists(_.contains("secrets")))
    // forbidden relation in a joined position
    val j = es.runValidatedSql(
      "SELECT * FROM df JOIN secrets ON df.id = secrets.x")
    assert(j.isLeft && j.left.exists(_.contains("secrets")))
    // denied function inside an ORDER BY subquery
    val o = es.runValidatedSql(
      "SELECT id FROM df ORDER BY (SELECT reflect('a','b'))")
    assert(o.isLeft)
    // lateral view over an allowed relation still passes
    assert(es.runValidatedSql(
      "SELECT id, t.w FROM df LATERAL VIEW explode(array(tag)) t AS w").isRight)
  }

  test("validator rejects EXECUTE IMMEDIATE and other opaque plan leaves") {
    // EXECUTE IMMEDIATE parses to UnresolvedExecuteImmediate whose inner SQL
    // is an opaque string literal — the relation/function walks see nothing,
    // so it must be stopped by the default-deny leaf check.
    val ei = SqlValidator.validate(spark,
      "EXECUTE IMMEDIATE 'SELECT reflect(\"java.lang.System\", \"getProperty\", \"user.dir\")'",
      Set.empty)
    assert(ei.isLeft && ei.left.exists(_.contains("disallowed plan nodes")))
    // table-valued functions are an unchecked function namespace — denied
    val tvf = SqlValidator.validate(spark, "SELECT * FROM range(10)", Set.empty)
    assert(tvf.isLeft && tvf.left.exists(_.contains("disallowed plan nodes")))
    // ...while the legitimate read-only leaves still pass
    assert(SqlValidator.validate(spark, "SELECT 1", Set.empty).isRight)
    assert(SqlValidator.validate(spark,
      "SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(id, tag)", Set.empty).isRight)
  }

  test("validator denies paren-less session-introspection barewords") {
    // SELECT current_user (no parens) parses as UnresolvedAttribute and is
    // resolved post-validation by the analyzer's literal-function rule
    for (bare <- Seq("current_user", "session_user", "user", "current_database")) {
      val r = SqlValidator.validate(spark, s"SELECT $bare", Set.empty)
      assert(r.isLeft && r.left.exists(_.contains(bare)), s"bareword $bare passed")
    }
    // qualified references can only resolve to columns — still allowed
    val es = session()
    assert(es.runValidatedSql("SELECT df.id FROM df").isRight)
  }

  test("allow-listed custom function cosine_sim passes validation") {
    val v = SqlValidator.validate(spark,
      "SELECT cosine_sim(array(1.0d), array(1.0d))", Set.empty)
    assert(v.isRight)
  }

  test("mutable-df semantics: rebind replaces, failed runs keep it") {
    val es = session()
    val original = es.current("df").get
    // a statement that fails every repair never rebinds: the reference's
    // original_df restore needs no snapshot
    val failed = es.executeWithRepair("SELECT nope FROM df", (_, _) => None)
    assert(failed.df.isEmpty && es.current("df").exists(_ eq original))
    assert(spark.sql("SELECT count(*) FROM df").collect()(0).getLong(0) == 3)
    es.bind("df", Seq((9, "z")).toDF("id", "tag"))
    assert(spark.sql("SELECT count(*) FROM df").collect()(0).getLong(0) == 1)
  }

  test("a rebind releases the previous version to the collector") {
    val es = session()
    // the first DataFrame is reachable only through the session
    def bindFresh(): java.lang.ref.WeakReference[org.apache.spark.sql.DataFrame] = {
      val first = Seq((7, "y")).toDF("id", "tag")
      es.bind("gc_v", first)
      new java.lang.ref.WeakReference(first)
    }
    val first = bindFresh()
    es.bind("gc_v", Seq((8, "x")).toDF("id", "tag"))
    var tries = 0
    while (first.get != null && tries < 20) {
      System.gc(); Thread.sleep(50); tries += 1
    }
    assert(first.get == null, s"the replaced version is still held after $tries collections")
    assert(es.current("gc_v").get.collect().map(_.getInt(0)).toSeq == Seq(8))
  }

  test("repair loop: bad query repaired by callback within bound") {
    val es = session()
    var calls = 0
    val res = es.executeWithRepair("SELECT nope FROM df", (_, err) => {
      calls += 1
      assert(err.length <= Lifecycle.ErrorCap)
      Some("SELECT id FROM df")
    })
    assert(res.df.nonEmpty && res.attempts == 1 && calls == 1)
  }

  test("repair loop: bounded at MAX_ERROR_CORRECTIONS=5 (bambooai.py:110)") {
    val es = session()
    var calls = 0
    val res = es.executeWithRepair("SELECT nope FROM df",
      (_, _) => { calls += 1; Some("SELECT still_nope FROM df") })
    assert(res.df.isEmpty && calls == 5 && res.errors.nonEmpty)
  }

  test("error text is condensed to 1000 chars (code_executor.py:319-321)") {
    assert(Lifecycle.condense("x" * 5000).length == 1000)
    assert(Lifecycle.condense(null) == "")
  }
}
