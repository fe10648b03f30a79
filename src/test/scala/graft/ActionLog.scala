package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the actions (`collect`, `count`, …) that finish in `spark` while
  * a block runs, on any thread. [[JobLog]] counts only the calling thread's
  * jobs; the serving surface runs its Spark work on pool threads, so a spec
  * of an HTTP request counts actions here instead. The suites of the forked
  * test JVM run one at a time, so the block's own work is all that lands. */
final class ActionLog(spark: SparkSession) extends QueryExecutionListener {
  private val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    seen.add(funcName -> qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    seen.add(funcName -> qe)

  /** `body`'s result and the (action name, query) of every action that
    * finished while it ran. Listener events arrive asynchronously, so the
    * bus is drained on both sides of the block. */
  def during[T](body: => T): (T, Seq[(String, QueryExecution)]) = {
    spark.listenerManager.register(this)
    try {
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      seen.clear()
      val r = body
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      (r, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(this)
  }
}
