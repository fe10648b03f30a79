package graft.lifecycle

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Profile
import graft.plans.{Lifecycle, SqlValidator}

/** The engine's conversational query lifecycle (SURVEY §3, Spark shape):
  * NL → (LLM) plan → SQL → validate (Catalyst parse + allow-list) → execute →
  * bounded error-repair loop → result; with the reference's mutable-`df`
  * semantics recast as versioned immutable view bindings.
  *
  * Mappings to the reference:
  * - `bind`/`current`: `df` injected into exec scope and read back after
  *   execution (code_executor.py:128-140, bambooai.py:783);
  * - `rollback`: `original_df = df.copy()` restore-on-error
  *   (code_executor.py:103, code_executor_api.py:192-193) — free here
  *   because plans are immutable values;
  * - `executeWithRepair`: the execute ⇄ error-correct loop, ≤5 retries
  *   (bambooai.py:110,760-816), error text capped at 1000 chars
  *   (code_executor.py:319-321);
  * - the LRU of table handles (code_executor_api.py:33-65) is the versions
  *   map + Spark's own block-manager caching (`df.cache()` on bind when
  *   `cache=true`).
  *
  * Bindings are versions, and each version carries its I1 profile
  * ([[graft.operators.Profile.summaryString]], the string every question
  * starts from, bambooai.py:550-565 `_process_question`). The memo contract:
  * - one profile per binding version, computed at most once, on the first
  *   `profile(name)` call; concurrent first callers wait on that one
  *   computation;
  * - the profile is a snapshot of the bound plan, the reference's value
  *   semantics for a pandas `df`: a rebind pushes a fresh version, so new
  *   data gets a new profile, and `rollback` restores the older version
  *   together with its profile;
  * - `unbind` drops the view and the whole version stack, profiles
  *   included.
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

  // guarded by `this`; the head of each stack is the current version
  private val versions = mutable.Map.empty[String, List[Version]]

  /** Bind (or rebind) a named table; previous plan stays on the version
    * stack for rollback. */
  def bind(name: String, df: DataFrame, cache: Boolean = false): Unit = {
    val v = new Version(if (cache) df.cache() else df)
    synchronized {
      v.df.createOrReplaceTempView(name)
      versions.updateWith(name)(vs => Some(v :: vs.getOrElse(Nil)))
    }
  }

  def current(name: String): Option[DataFrame] =
    synchronized(versions.get(name).map(_.head.df))

  def names: Set[String] = synchronized(versions.keySet.toSet)

  /** The I1 profile of the current version of `name`, computed on first
    * use and reused until the name is rebound; None if unbound. */
  def profile(name: String): Option[String] =
    synchronized(versions.get(name).map(_.head)).map(_.profile)

  /** Restore the previous version of a binding (the error-restore snapshot).
    * Returns false if there is no prior version. */
  def rollback(name: String): Boolean = synchronized {
    versions.get(name) match {
      case Some(_ :: prev :: rest) =>
        prev.df.createOrReplaceTempView(name)
        versions.update(name, prev :: rest)
        true
      case _ => false
    }
  }

  /** Drop a binding: its temp view and its whole version stack. */
  def unbind(name: String): Unit = synchronized {
    versions.remove(name)
    spark.catalog.dropTempView(name)
  }

  /** Validate (read-only + relation/function allow-list) then run.
    * spark.sql analyzes eagerly, so analysis failures surface here and are
    * condensed into the Left channel for the repair loop. */
  def runValidatedSql(sql: String): Either[String, DataFrame] =
    SqlValidator.validate(spark, sql, names).flatMap { _ =>
      try Right(spark.sql(sql))
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
