package graft.lifecycle

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, GraftDatasetShim, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{SubqueryAlias, UnresolvedWith}
import graft.operators.Profile
import graft.plans.{Lifecycle, SqlValidator}

/** The engine's conversational query lifecycle (SURVEY §3, Spark shape):
  * NL → (LLM) plan → SQL → validate (Catalyst parse + allow-list) → execute →
  * bounded error-repair loop → result; with the reference's mutable-`df`
  * semantics recast as immutable view bindings.
  *
  * Mappings to the reference:
  * - `bind`/`current`: `df` injected into exec scope and read back after
  *   execution (code_executor.py:128-140, bambooai.py:783);
  * - `original_df = df.copy()` restore-on-error (code_executor.py:103,
  *   code_executor_api.py:192-193) needs no snapshot here: a failed
  *   statement never rebinds, and plans are immutable values;
  * - `executeWithRepair`: the execute ⇄ error-correct loop, ≤5 retries
  *   (bambooai.py:110,760-816), error text capped at 1000 chars
  *   (code_executor.py:319-321);
  * - the LRU of table handles (code_executor_api.py:33-65) is the versions
  *   map + Spark's own block-manager caching (`df.cache()` on bind when
  *   `cache=true`).
  *
  * Each name holds one version, and the version carries its I1 profile
  * ([[graft.operators.Profile.summaryString]], the string every question
  * starts from, bambooai.py:550-565 `_process_question`). The memo contract:
  * - one profile per binding version, computed at most once, on the first
  *   `profile(name)` call; concurrent first callers wait on that one
  *   computation;
  * - the profile is a snapshot of the bound plan, the reference's value
  *   semantics for a pandas `df`: a rebind replaces the version, so new
  *   data gets a new profile and the old version is released;
  * - `unbind` drops the view and the version, profile included.
  *
  * The bindings are shared across the serving pool's threads: every read
  * and write of them holds this session's monitor, which is never held
  * while a profile computes.
  *
  * The repair callback abstracts the Error Corrector agent: production wires
  * an LLM client; tests wire scripted fixtures (SURVEY §7.5 non-determinism
  * quarantine).
  */
final case class RepairResult(df: Option[DataFrame], attempts: Int,
    errors: List[String])

final class EngineSession(val spark: SparkSession) {

  val MaxErrorCorrections = 5 // bambooai.py:110

  /** One binding version: the bound plan and its profile. A lazy val is
    * thread-safe, so the profile runs once however many callers ask. */
  private final class Version(val df: DataFrame) {
    lazy val profile: String = Profile.summaryString(df)
  }

  // guarded by `this`
  private val versions = mutable.Map.empty[String, Version]

  /** Bind (or rebind) a named table; a rebind releases the previous
    * version. */
  def bind(name: String, df: DataFrame, cache: Boolean = false): Unit = {
    val v = new Version(if (cache) df.cache() else df)
    synchronized {
      v.df.createOrReplaceTempView(name)
      versions.update(name, v)
    }
  }

  def current(name: String): Option[DataFrame] =
    synchronized(versions.get(name).map(_.df))

  def names: Set[String] = synchronized(versions.keySet.toSet)

  /** The I1 profile of the current version of `name`, computed on first
    * use and reused until the name is rebound; None if unbound. */
  def profile(name: String): Option[String] =
    synchronized(versions.get(name)).map(_.profile)

  /** Drop a binding: its temp view and its version. */
  def unbind(name: String): Unit = synchronized {
    versions.remove(name)
    spark.catalog.dropTempView(name)
  }

  /** Validate (read-only + relation/function allow-list) then run the
    * validator's parsed plan, so the statement is parsed once. With `df`,
    * the statement also sees that table as the relation `df`, scoped to
    * this one statement: an outer CTE over the table's analyzed plan, which
    * a `WITH df AS …` inside the statement still shadows. Building the
    * DataFrame analyzes it, so analysis failures surface here and are
    * condensed into the Left channel for the repair loop. */
  def runValidatedSql(sql: String,
      df: Option[DataFrame] = None): Either[String, DataFrame] =
    SqlValidator.validate(spark, sql, names ++ df.map(_ => "df")).flatMap { v =>
      val plan = df.fold(v.plan)(d => UnresolvedWith(v.plan,
        Seq(("df", SubqueryAlias("df", d.queryExecution.analyzed), None))))
      try Right(GraftDatasetShim.ofRows(spark, plan))
      catch { case e: Exception => Left(Lifecycle.condense(e.getMessage)) }
    }

  /** Execute with the bounded repair loop: on failure the condensed error
    * (≤1000 chars) goes to `repair`, which returns a corrected SQL or None
    * to give up. Mirrors bambooai.py:760-848. */
  def executeWithRepair(sql: String,
      repair: (String, String) => Option[String]): RepairResult = {
    var attempt = 0
    var current = sql
    var errors = List.empty[String]
    while (attempt <= MaxErrorCorrections) {
      runValidatedSql(current) match {
        case Right(df) => return RepairResult(Some(df), attempt, errors.reverse)
        case Left(err) => errors ::= Lifecycle.condense(err)
      }
      if (attempt == MaxErrorCorrections)
        return RepairResult(None, attempt, errors.reverse)
      repair(current, errors.head) match {
        case Some(next) => current = next; attempt += 1
        case None => return RepairResult(None, attempt, errors.reverse)
      }
    }
    RepairResult(None, attempt, errors.reverse)
  }
}
