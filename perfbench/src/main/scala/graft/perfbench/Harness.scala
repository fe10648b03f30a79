package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, count, lit, round, sum, xxhash64}
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.{Bench, SparkEntry}

/** The JVM half of the benchmark. run.py generates every seeded input and
  * checks every output; this side only drives the program and times it.
  *
  *   --mode suite|serve  --data DIR  --scale-data DIR  --work DIR
  *   --inputs FILE  --seconds N  --trace 0|1  --cpus N
  *
  * Writes `result.json` into --work: set-up and timed samples, outputs to
  * check, box facts and, traced, the layer counters and spans. */
object Harness {
  val mapper = new ObjectMapper()

  final case class Args(mode: String, data: String, scaleData: String, work: Path,
      inputs: JsonNode, seconds: Double, trace: Boolean, cpus: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("mode"), m("data"), m("scale-data"), Paths.get(m("work")).toAbsolutePath,
      mapper.readTree(Paths.get(m("inputs")).toFile), m("seconds").toDouble,
      m("trace") == "1", m("cpus").toInt)
  }

  /** The session of Bench's default arm: local[cpus], one shuffle partition
    * per core, UTC, and the same ObjectHashAggregate fallback threshold.
    * Scratch directories stay inside the work directory. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        String.valueOf(1 << 21))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Seconds from JVM start to now: the cold set-up before the first timed
    * request. */
  def setupSeconds(): Double =
    (Clock.us() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L) / 1e6

  /** Mutable JSON object builder over Jackson's tree model. */
  final class Obj {
    val node = mapper.createObjectNode()
    def put(k: String, v: Any): Obj = {
      v match {
        case null => node.putNull(k)
        case x: Int => node.put(k, x)
        case x: Long => node.put(k, x)
        case x: Double => node.put(k, x)
        case x: Boolean => node.put(k, x)
        case x: String => node.put(k, x)
        case x: Obj => node.set[JsonNode](k, x.node)
        case x: JsonNode => node.set[JsonNode](k, x)
        case xs: Iterable[_] => node.set[JsonNode](k, mapper.valueToTree[JsonNode](
          xs.map { case o: Obj => o.node; case e => e }.toSeq.asJava))
        case x => node.put(k, x.toString)
      }
      this
    }
  }

  def box(spark: SparkSession): Obj = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    new Obj()
      .put("available_processors", Runtime.getRuntime.availableProcessors)
      .put("xmx_mb", Runtime.getRuntime.maxMemory / (1 << 20))
      .put("gc", java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getName).mkString(","))
      .put("jdk", System.getProperty("java.vm.name") + " " + System.getProperty("java.version"))
      .put("jvm_args", rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens"))
        .mkString(" "))
      .put("spark", spark.version)
      .put("master", spark.sparkContext.master)
  }

  def counters(c: Counters): Obj = new Obj()
    .put("jobs", c.jobs).put("stages", c.stages).put("tasks", c.tasks)
    .put("task_run_ms", c.taskRunMs).put("task_cpu_ns", c.taskCpuNs)
    .put("task_gc_ms", c.taskGcMs).put("shuffle_write_bytes", c.shuffleWrite)
    .put("shuffle_read_bytes", c.shuffleRead).put("spill_bytes", c.spill)
    .put("compile_ns", c.compileNs).put("classes", c.classes)
    .put("fallbacks", c.fallbacks).put("jvm_gc_ms", c.jvmGcMs)

  def spansJson(spans: SpanLog): JsonNode = mapper.valueToTree[JsonNode](
    spans.all.map(s => Seq[Any](s.id, s.parent, s.name, s.req, s.start, s.end).asJava).asJava)

  /** One operation of the suite loop: clear Spark's plan cache (as
    * Bench does, so no earlier run's cache() result is reused), build the
    * DataFrame, drain it through the `noop` sink. Returns (build, action)
    * microseconds. */
  def runOp(spark: SparkSession, spans: SpanLog, parent: Long, req: String,
      build: () => DataFrame): (Long, Long) = {
    spark.sparkContext.setLocalProperty(LayerProbe.OpKey, req)
    spans.timed(parent, "harness.op", req) { id =>
      spark.catalog.clearCache()
      def phase[T](name: String)(f: => T): (T, Long) = spans.timed(id, name, req) { pid =>
        val c0 = if (spans.enabled) CodeGenerator.compileTime else 0L
        val t0 = Clock.us()
        val r = f
        val t1 = Clock.us()
        if (spans.enabled)
          spans.duration(pid, "codegen.compile", req, (CodeGenerator.compileTime - c0) / 1000)
        (r, t1 - t0)
      }
      val (df, b) = phase("operators.build")(build())
      val (_, x) = phase("spark.action")(
        df.write.format("noop").mode("overwrite").save())
      (b, x)
    }
  }

  /** The suite loop: a named list of DataFrame builders, per-pass orders
    * from the inputs, a warmup pass in each set-up, then timed passes until
    * the deadline; outputs are checked after the timed region. */
  def suite(a: Args, named: Map[String, (SparkSession, String) => DataFrame], out: Obj): Unit = {
    val passes = a.inputs.get("passes").asScala.map(_.asScala.map(_.asText).toSeq).toSeq
    val warmup = a.inputs.get("warmup").asScala.map(_.asText).toSeq
    val spark = session(a)
    val off = new SpanLog(false)
    warmup.foreach { q =>
      try runOp(spark, off, 0L, q, () => named(q)(spark, a.data))
      catch { case _: Exception => () } // a failing query shows in the timed samples
    }
    out.put("setup_s", setupSeconds()).put("box", box(spark))

    val spans = new SpanLog(a.trace)
    val probe = new LayerProbe(spark, spans)
    if (a.trace) probe.install()
    LayerProbe.resetHeapPeak()
    val c0 = probe.snapshot()
    val samples = new java.util.ArrayList[Obj]()
    val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passCounters = scala.collection.mutable.ArrayBuffer.empty[Obj]
    val t0 = Clock.us()
    val deadline = t0 + (a.seconds * 1e6).toLong
    spans.timed(0L, "harness.timed", "timed") { root =>
      var p = 0
      while (Clock.us() < deadline && p < passes.length) {
        val pc0 = if (a.trace) probe.snapshot() else c0
        val ps = Clock.us()
        var complete = true
        passes(p).foreach { q =>
          if (complete && Clock.us() < deadline) {
            val sample = new Obj().put("op", q).put("pass", p)
            try {
              val (b, x) = runOp(spark, spans, root, q, () => named(q)(spark, a.data))
              sample.put("build_us", b).put("action_us", x)
            } catch {
              case e: Exception => sample.put("error", String.valueOf(e.getMessage))
            }
            samples.add(sample)
          } else complete = false
        }
        if (complete) {
          passWalls += (Clock.us() - ps) / 1e6
          if (a.trace) passCounters += counters(probe.snapshot() - pc0)
        }
        p += 1
      }
    }
    val wall = (Clock.us() - t0) / 1e6
    val c1 = probe.snapshot()
    val heapPeak = LayerProbe.heapPeakBytes()
    out.put("timed_s", wall).put("pass_s", passWalls).put("samples", samples.asScala)
      .put("heap_live_mb", LayerProbe.liveHeapBytes() / 1048576.0)
      .put("heap_peak_mb", heapPeak / 1048576.0)
    if (a.trace) {
      probe.uninstall()
      out.put("counters", counters(c1 - c0)).put("pass_counters", passCounters)
        .put("jobs_by_op", probe.jobsByOp.asScala.map { case (k, v) =>
          new Obj().put("op", k).put("jobs", v.sum) })
        .put("spans", spansJson(spans))
    }
    spark.sparkContext.setLocalProperty(LayerProbe.OpKey, null)
    suiteCheck(a, named, spark, out)
    spark.stop()
  }

  /** Suite check, outside the timed region. Each query's full output lands
    * as parquet with its oracle SQL beside it, for run.py to compare row
    * count and an order-independent hash against DuckDB. Each scale row is
    * reduced to its row count plus the order-independent sum of a 64-bit
    * hash over every output column, for run.py to compare with the pins;
    * floating-point columns are rounded to 6 decimals first, so the digest
    * does not depend on summation order across core counts. */
  def suiteCheck(a: Args, named: Map[String, (SparkSession, String) => DataFrame],
      spark: SparkSession, out: Obj): Unit = {
    val dir = a.work.resolve("suite_out")
    val oracle = new Obj()
    val queries = a.inputs.get("queries").asScala.map(_.asText).toSeq
    queries.foreach { q =>
      named(q)(spark, a.data).write.mode("overwrite").parquet(dir.resolve(q).toString)
      SparkEntry.oracleSql.get(q).foreach(oracle.put(q, _))
    }
    out.put("oracle_sql", oracle).put("suite_out", dir.toString)
    out.put("digests", a.inputs.get("rows").asScala.map(_.asText).map { r =>
      val df = named(r)(spark, a.data)
      val cols = df.schema.fields.toIndexedSeq.map { f => f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case _ => col(f.name)
      } }
      val d = df.select(count(lit(1)).as("n"),
        sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h"))
        .collect()(0)
      new Obj().put("op", r).put("rows", d.getLong(0)).put("hash", d.get(1).toString)
    })
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val out = new Obj().put("mode", a.mode)
    a.mode match {
      case "suite" =>
        // the x300 scale rows read their own, smaller base corpus
        val named = SparkEntry.queries ++ Bench.scaleNamed.map { case (k, f) =>
          k -> ((s: SparkSession, _: String) => f(s, a.scaleData)) }
        suite(a, named, out)
      case "serve" => Serve.run(a, out)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    mapper.writeValue(a.work.resolve("result.json").toFile, out.node)
  }
}
