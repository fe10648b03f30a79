package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Records the Spark jobs submitted inside `apply` blocks, with the local
  * properties each job was submitted under. Jobs are matched by a job group
  * private to this log, so jobs of other threads and other suites sharing
  * the SparkContext never count. Reads drain the listener bus first, so a
  * count taken right after an action is exact. */
final class JobLog(spark: SparkSession) extends SparkListener {
  private val group = s"joblog-${java.util.UUID.randomUUID()}"
  private val started = new ConcurrentLinkedQueue[Properties]()
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties)
      .filter(_.getProperty("spark.jobGroup.id") == group)
      .foreach(started.add)

  /** Runs `body` on the calling thread with its jobs attributed to this log. */
  def apply[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, "JobLog")
    try body finally sc.clearJobGroup()
  }

  /** The properties of every job recorded so far, in submission order. */
  def jobs: Seq[Properties] = {
    org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    started.asScala.toSeq
  }

  def count: Int = jobs.size

  /** `body`'s result and the number of jobs it submitted. */
  def counted[T](body: => T): (T, Int) = {
    val before = count
    val r = apply(body)
    (r, count - before)
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}
