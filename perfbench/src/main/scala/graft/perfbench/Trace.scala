package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds. Spark's listener events and planning
  * phases carry epoch milliseconds, so every span of a trace uses this one
  * clock; it advances with System.nanoTime for sub-millisecond resolution. */
object Clock {
  private val base = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def us(): Long = base + System.nanoTime() / 1000L
}

/** One timed interval. `parent` is 0 when the parent is found later by
  * interval containment (listener spans). A span with `start` < 0 carries
  * only a duration (`end` holds it): compile time is known per call, not
  * where it fell. */
final case class Span(id: Long, parent: Long, name: String, req: String,
    start: Long, end: Long)

/** Spans kept in memory and written out once, at the end of the run. A
  * disabled log records nothing and costs one branch per call. */
final class SpanLog(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def add(parent: Long, name: String, req: String, start: Long, end: Long): Long =
    if (!enabled) 0L
    else { val id = ids.incrementAndGet(); spans.add(Span(id, parent, name, req, start, end)); id }

  def duration(parent: Long, name: String, req: String, micros: Long): Unit =
    if (enabled && micros > 0) add(parent, name, req, -1L, micros)

  /** Time `f`, handing it this span's id so nested spans can name it. */
  def timed[T](parent: Long, name: String, req: String)(f: Long => T): T =
    if (!enabled) f(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = Clock.us()
      try f(id) finally spans.add(Span(id, parent, name, req, t0, Clock.us()))
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Counter snapshot; deltas between two snapshots give one region's cost. */
final case class Counters(jobs: Long, stages: Long, tasks: Long,
    taskRunMs: Long, taskCpuNs: Long, taskGcMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long, compileNs: Long, classes: Long,
    fallbacks: Long, jvmGcMs: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs,
    taskGcMs - o.taskGcMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, compileNs - o.compileNs,
    classes - o.classes, fallbacks - o.fallbacks, jvmGcMs - o.jvmGcMs)
}

/** The per-layer probe of a traced run, built only from Spark's public
  * listener interfaces and static codegen counters:
  *  - `spark`: a SparkListener counts jobs, stages and tasks and sums task
  *    run time, CPU, GC, shuffle and spill bytes; each job becomes a span;
  *  - `catalyst`: a QueryExecutionListener turns the analysis, optimization
  *    and planning phases of every executed query into spans;
  *  - `codegen`: CodeGenerator's cumulative compile time and class count,
  *    plus a log appender that counts the fallback warnings Spark logs when
  *    generated code fails to compile. */
final class LayerProbe(spark: SparkSession, spans: SpanLog) {
  private val jobs, stages, tasks = new LongAdder
  private val taskRunMs, taskCpuNs, taskGcMs = new LongAdder
  private val shuffleWrite, shuffleRead, spill = new LongAdder
  private val fallbacks = new LongAdder
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  /** op label -> jobs started under it (set as a local property per op) */
  val jobsByOp = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.increment()
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(LayerProbe.OpKey)))
        .getOrElse("")
      jobStarts.put(e.jobId, (e.time, op))
      if (op.nonEmpty) jobsByOp.computeIfAbsent(op, _ => new LongAdder).increment()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, op) =>
        spans.add(0L, "spark.job", op, t0 * 1000L, e.time * 1000L)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      Option(e.taskMetrics).foreach { m =>
        taskRunMs.add(m.executorRunTime); taskCpuNs.add(m.executorCpuTime)
        taskGcMs.add(m.jvmGCTime)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        if (Set("analysis", "optimization", "planning")(phase))
          spans.add(0L, s"catalyst.$phase", "", s.startTimeMs * 1000L, s.endTimeMs * 1000L)
      }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val appender = new AbstractAppender("perfbench-codegen-fallbacks",
      null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getLevel.isMoreSpecificThan(Level.WARN) &&
          LayerProbe.isFallback(e.getMessage.getFormattedMessage)) fallbacks.increment()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    // the session runs at log level ERROR; the codegen fallbacks are WARNs
    LayerProbe.CodegenLoggers.foreach(Configurator.setLevel(_, Level.WARN))
    ctx.updateLoggers()
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
    appender.stop()
  }

  def snapshot(): Counters = {
    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
    Counters(jobs.sum, stages.sum, tasks.sum, taskRunMs.sum, taskCpuNs.sum,
      taskGcMs.sum, shuffleWrite.sum, shuffleRead.sum, spill.sum,
      CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      fallbacks.sum, LayerProbe.jvmGcMs())
  }
}

object LayerProbe {
  val OpKey = "perfbench.op"
  val CodegenLoggers = Seq(
    "org.apache.spark.sql.execution.WholeStageCodegenExec",
    "org.apache.spark.sql.catalyst.expressions.codegen",
    "org.apache.spark.sql.catalyst.expressions.CodeGeneratorWithInterpretedFallback")

  def isFallback(msg: String): Boolean = {
    val m = Option(msg).getOrElse("").toLowerCase
    m.contains("failed to compile") || m.contains("falling back to interpreter") ||
      m.contains("whole-stage codegen disabled")
  }

  def jvmGcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakBytes(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum

  /** Live heap: used bytes after explicit full collections. The pauses
    * between them let Spark's ContextCleaner drop the broadcasts and
    * shuffles whose handles the previous collection freed. */
  def liveHeapBytes(): Long = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}
