package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedInlineTable, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, OneRowRelation}

/** Plan validation — the Spark-native replacement for the reference's
  * generated-code sanitization (bambooai/messages/reg_ex.py:56-136: module
  * blacklist, savefig rewrite, main-block inlining).
  *
  * Design stance (SURVEY §7.1): the LLM emits Spark SQL, never code, so
  * "sanitization" becomes Catalyst analysis — parse the statement, reject
  * anything that is not a read-only query, and enforce allow-lists on the
  * relations and functions the plan touches. There is no code path to
  * escape: an allow-listed SELECT cannot write, import, or exec.
  */
object SqlValidator {

  final case class Validated(plan: LogicalPlan, relations: Set[String],
      functions: Set[String])

  /** Builtins that are registry members but NOT read-only in any useful
    * sense: CallMethodViaReflection invokes arbitrary static Java methods
    * (`reflect('java.lang.System','getenv',...)` would exfiltrate driver
    * env into results), so registry membership alone is not a safety proof.
    * Session/env introspection builtins are denied for the same reason. */
  val DeniedBuiltins: Set[String] = Set(
    "reflect", "java_method", "try_reflect",
    "current_user", "session_user", "user", "current_database",
    "current_catalog", "current_schema", "input_file_name")

  /** Parse + statically check a SQL string. Returns Left(reason) on
    * rejection. `allowedRelations` is the registered view catalog;
    * `extraAllowedFunctions` extends the Spark builtin registry (builtins
    * are allowed except [[DeniedBuiltins]]). The walk recurses into
    * subquery expressions (scalar subqueries, IN/EXISTS) — a relation or
    * function hidden inside `(SELECT ... FROM t)` is checked exactly like
    * a top-level one. */
  def validate(spark: SparkSession, sql: String,
      allowedRelations: Set[String],
      extraAllowedFunctions: Set[String] = Set(GraftExtensions.CosineSim))
      : Either[String, Validated] = {
    val plan =
      try spark.sessionState.sqlParser.parsePlan(sql)
      catch { case e: Exception =>
        return Left(s"parse error: ${Lifecycle.condense(e.getMessage)}")
      }
    // Every plan node, including the plans nested inside subquery
    // expressions at any depth AND the CTE definitions of UnresolvedWith.
    // An explicit walk, not collectWithSubqueries: UnresolvedWith keeps
    // its cteRelations OUT of `children`, so the generic traversal never
    // sees an UNREFERENCED CTE's body — a reflect() or table-valued
    // function hidden in a never-used CTE would pass the function and
    // leaf screens (found by the round-13 generative property; Spark
    // happens to drop unreferenced CTEs unanalyzed today, but the gate
    // must not lean on that).
    val allNodes: Seq[LogicalPlan] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
      def go(n: LogicalPlan): Unit = {
        buf += n
        n match {
          case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
            w.cteRelations.foreach { case (_, defn, _) => go(defn) }
            go(w.child)
          case other => other.children.foreach(go)
        }
        n.expressions.foreach(_.foreach {
          case pe: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
            pe.plan match {
              case lp: LogicalPlan => go(lp)
              case _ =>
            }
          case _ =>
        })
      }
      go(plan)
      buf.toSeq
    }

    // Command covers DDL; DML statements (INSERT/...) parse to dedicated
    // statement nodes that only become commands after analysis — match both.
    val writeShaped = allNodes.exists {
      case _: Command => true
      case _: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement => true
      case _: org.apache.spark.sql.catalyst.plans.logical.ParsedStatement => true
      case _ => false
    }
    if (writeShaped)
      return Left("rejected: not a read-only query (command/DDL/DML)")

    // Default-deny on plan LEAVES: a read-only parsed query sources rows only
    // from relations, VALUES lists, or the implicit one-row relation. Anything
    // else — UnresolvedExecuteImmediate (whose inner SQL is an opaque string
    // the walk below cannot see), UnresolvedTableValuedFunction (a function
    // namespace the relation/function checks don't cover), future parser
    // additions — is rejected by name rather than silently passed through.
    val badLeaves = allNodes.filter(_.children.isEmpty).collect {
      case p if !p.isInstanceOf[UnresolvedRelation] &&
        !p.isInstanceOf[UnresolvedInlineTable] &&
        !p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation] &&
        !p.isInstanceOf[OneRowRelation] => p.nodeName
    }
    if (badLeaves.nonEmpty)
      return Left(s"rejected: disallowed plan nodes ${badLeaves.distinct.mkString(", ")}")

    // Relations are gathered with a SCOPED walk: a CTE alias (WITH t AS ...)
    // exempts references to `t` only inside that WITH's subtree — and each
    // CTE definition only sees aliases defined before it. A global exemption
    // would let a CTE named like a real view in one subquery scope excuse a
    // reference to the actual view in a sibling scope. Only single-part
    // references can resolve to a CTE; qualified names are always checked.
    val rels = scala.collection.mutable.Set.empty[String]
    def walkPlan(p: LogicalPlan, scope: Set[String]): Unit = p match {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        var s = scope
        w.cteRelations.foreach { case (name, defn, _) =>
          walkPlan(defn, s)
          s += name.toLowerCase
        }
        walkPlan(w.child, s)
      case r: UnresolvedRelation =>
        val parts = r.multipartIdentifier
        if (!(parts.length == 1 && scope.contains(parts.head.toLowerCase)))
          rels += parts.last.toLowerCase
      case other =>
        other.children.foreach(walkPlan(_, scope))
        other.expressions.foreach(_.foreach {
          case pe: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
            pe.plan match {
              case lp: LogicalPlan => walkPlan(lp, scope)
              case _ =>
            }
          case _ =>
        })
    }
    walkPlan(plan, Set.empty)
    val badRels = rels.toSet.diff(allowedRelations.map(_.toLowerCase))
    if (badRels.nonEmpty)
      return Left(s"rejected: unknown relations ${badRels.mkString(", ")}")

    var fns = Set.empty[String]
    // Paren-less forms of session-introspection builtins (SELECT current_user,
    // user, session_user, current_database) parse as single-part
    // UnresolvedAttribute and are resolved post-validation by the analyzer's
    // literal-function rule — screen those names too. Qualified references
    // (t.user) can only resolve to columns, so only single-part names are
    // checked; a bare column genuinely named `user` is a rejected false
    // positive we accept (alias it, or qualify it with the table name).
    var barewordDenied = Set.empty[String]
    def collectFns(e: Expression): Unit = {
      e.foreach {
        case f: UnresolvedFunction =>
          fns += f.nameParts.last.toLowerCase
        case a: UnresolvedAttribute if a.nameParts.length == 1 &&
            DeniedBuiltins.contains(a.nameParts.head.toLowerCase) =>
          barewordDenied += a.nameParts.head.toLowerCase
        case _ =>
      }
    }
    allNodes.foreach(node => node.expressions.foreach(collectFns))
    if (barewordDenied.nonEmpty)
      return Left(s"rejected: denied functions ${barewordDenied.mkString(", ")}")
    val denied = fns.intersect(DeniedBuiltins)
    if (denied.nonEmpty)
      return Left(s"rejected: denied functions ${denied.mkString(", ")}")
    val builtin = fns.filter(n =>
      spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    val unknown = fns.diff(builtin).diff(extraAllowedFunctions.map(_.toLowerCase))
    if (unknown.nonEmpty)
      return Left(s"rejected: non-allow-listed functions ${unknown.mkString(", ")}")

    Right(Validated(plan, rels.toSet, fns))
  }
}

/** Error-text handling shared by the repair loop. */
object Lifecycle {
  /** The reference truncates tracebacks to 1000 chars before feeding the
    * error-corrector LLM (bambooai/code_executor.py:319-321). */
  val ErrorCap = 1000
  def condense(msg: String): String = {
    val m = Option(msg).getOrElse("")
    if (m.length <= ErrorCap) m else m.take(ErrorCap)
  }
}
