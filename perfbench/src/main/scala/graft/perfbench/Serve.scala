package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.lifecycle.{Agents, EngineSession, ExecutorApi}
import graft.operators.Profile
import graft.plans.SqlValidator

/** Stateless scripted LLM with zero model latency: each reply is a pure
  * function of (stage, prompt). The planner's SQL is looked up by the
  * `[Qn]` tag the question carries. Every call is marked (stage, start,
  * end) under the `[r=...]` request id, which splits a /query into its
  * profile, routing, execution and result spans. */
final class StubLlm(questions: Map[String, String]) extends Agents.LlmClient {
  val marks = new ConcurrentHashMap[String, java.util.List[Array[Any]]]()
  private val ReqId = """\[r=([^\]]+)\]""".r
  private val QTag = """\[(Q\d+)\]""".r

  def complete(stage: String, prompt: String): String = {
    val t0 = Clock.us()
    val reply = stage match {
      case "expert_selector" => "requires_dataset: true\nexpert: Data Analyst\nconfidence: 9"
      case "analyst_selector" => "analyst: Data Analyst DF\nintent: answer the question"
      case "planner" =>
        val tag = QTag.findFirstMatchIn(prompt).map(_.group(1)).getOrElse("")
        s"- run the query\nsql: ${questions.getOrElse(tag, "SELECT 1 AS x")}"
      case "summarizer" => "The result answers the question."
      case other => throw new IllegalStateException(s"unexpected LLM stage $other")
    }
    ReqId.findFirstMatchIn(prompt).foreach { m =>
      marks.computeIfAbsent(m.group(1), _ => new java.util.concurrent.CopyOnWriteArrayList())
        .add(Array[Any](stage, t0, Clock.us()))
    }
    reply
  }
}

/** The `serve` workload: ExecutorApi on loopback over the bound tables,
  * driven by `clients` closed-loop threads, one HTTP connection each. */
object Serve {
  import Harness.{mapper, Obj}

  final class Server(val spark: SparkSession, val session: EngineSession,
      val api: ExecutorApi, val port: Int, val stub: StubLlm)

  /** Statements for the stateless /execute calls, in name order: the oracle
    * SQL of the relational queries (name matching `pattern`) that the
    * validator accepts over the bound tables, less the `exclude`d ones. */
  def statements(spark: SparkSession, names: Set[String], pattern: String,
      exclude: Set[String]): Seq[(String, String)] =
    SparkEntry.oracleSql.toSeq.sortBy(_._1).filter { case (name, sql) =>
      name.matches(pattern) && !exclude(name) &&
        SqlValidator.validate(spark, sql, names).isRight
    }

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private def req(path: String, body: JsonNode) =
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(java.time.Duration.ofSeconds(120))
        .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(body))).build()

    def post(path: String, fields: (String, String)*): (Int, String) = {
      val b = mapper.createObjectNode(); fields.foreach { case (k, v) => b.put(k, v) }
      val r = http.send(req(path, b), HttpResponse.BodyHandlers.ofString())
      (r.statusCode, r.body)
    }

    /** /query: reads the SSE stream to its end; returns (status, stream text,
      * time the `result` event line arrived or -1). */
    def query(fields: (String, String)*): (Int, String, Long) = {
      val b = mapper.createObjectNode(); fields.foreach { case (k, v) => b.put(k, v) }
      val r = http.send(req("/query", b), HttpResponse.BodyHandlers.ofInputStream())
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(r.body, StandardCharsets.UTF_8))
      val sb = new StringBuilder
      var tResult = -1L
      try {
        var line = in.readLine()
        while (line != null) {
          if (line == "event: result" && tResult < 0) tResult = Clock.us()
          sb.append(line).append('\n')
          line = in.readLine()
        }
      } finally in.close()
      (r.statusCode, sb.toString, tResult)
    }
  }

  def start(a: Harness.Args, questions: Map[String, String]): Server = {
    val spark = Harness.session(a)
    val session = new EngineSession(spark)
    Tables.all.foreach(t => session.bind(t, Tables.load(spark, a.data, t)))
    val stub = new StubLlm(questions)
    val clients = a.inputs.get("clients").asInt
    val api = new ExecutorApi(session, cacheSize = clients + 2, llm = Some(stub),
      dataDir = a.work.resolve("executor_api"))
    val port = api.start(0)
    val s = new Server(spark, session, api, port, stub)
    val c = new Client(port)
    val up = c.post("/upload_dataset", "df_id" -> a.inputs.get("query_df").asText,
      "path" -> a.inputs.get("query_path").asText)
    require(up._1 == 200, s"upload of the /query table failed: $up")
    s
  }

  def stopServer(s: Server): Unit = { s.api.stop(); s.spark.stop() }

  /** One client's closed loop over its seeded script until the deadline.
    * Ops: a /query, an /execute of the statement at position `pos` of the
    * seeded order (client k starts k/clients of the way along it, so the
    * clients cover the statements evenly), or the write leg. */
  def loop(s: Server, a: Harness.Args, stmts: Seq[(String, String)], client: Int,
      ops: Seq[JsonNode], deadline: Long, phase: String): Seq[Obj] = {
    val c = new Client(s.port)
    val out = scala.collection.mutable.ArrayBuffer.empty[Obj]
    val qdf = a.inputs.get("query_df").asText
    val qs = a.inputs.get("questions")
    val offset = client * stmts.length / a.inputs.get("clients").asInt
    for (op <- ops if Clock.us() < deadline) {
      val rec = new Obj().put("kind", op.get("kind").asText).put("client", client)
        .put("cycle", op.get("cycle").asInt)
      val t0 = Clock.us()
      op.get("kind").asText match {
        case "query" =>
          val qi = op.get("question").asInt
          val rid = s"$phase-$client-${out.length}"
          val q = qs.get(qi)
          val (code, body, tRes) = c.query(
            "question" -> s"[r=$rid][${q.get("tag").asText}] ${q.get("text").asText}",
            "df_id" -> qdf)
          rec.put("rid", rid).put("question", qi).put("t_result", tRes)
            .put("status", code).put("body", body)
        case "execute" =>
          val (name, sql) = stmts((op.get("pos").asInt + offset) % stmts.length)
          val (code, body) = c.post("/execute", "sql" -> sql)
          rec.put("stmt", name).put("sql", sql).put("status", code).put("body", body)
        case "write" =>
          val w = op.get("write").asInt
          val sql = a.inputs.get("writes").get(w).get("sql").asText
          val dfId = s"w$client"
          val up = c.post("/upload_dataset", "df_id" -> dfId,
            "path" -> a.inputs.get("write_path").asText)
          rec.put("t_upload", Clock.us())
          val ex = c.post("/execute", "sql" -> sql, "df_id" -> dfId)
          rec.put("write", w).put("sql", sql).put("status", up._1).put("body", up._2)
            .put("status2", ex._1).put("body2", ex._2)
      }
      out += rec.put("t0", t0).put("t1", Clock.us())
    }
    out.toSeq
  }

  /** Runs `clients` loops in parallel; each gets its own script. */
  def drive(s: Server, a: Harness.Args, stmts: Seq[(String, String)], key: String,
      deadline: Long, phase: String): Seq[Obj] = {
    val scripts = a.inputs.get(key).asScala.toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(scripts.length)
    try {
      val fs = scripts.zipWithIndex.map { case (ops, k) =>
        pool.submit(() => loop(s, a, stmts, k, ops.asScala.toSeq, deadline, phase))
      }
      fs.flatMap(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(5, java.util.concurrent.TimeUnit.MINUTES) }
  }

  /** Direct calls, outside HTTP, once each: per statement the validation,
    * the validated analysis and the 100-row preview; Profile.summaryString
    * over the /query table. */
  def directProbe(s: Server, a: Harness.Args, stmts: Seq[(String, String)]): Obj = {
    def ms[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
    }
    val per = stmts.map { case (name, sql) =>
      val (_, v) = ms(SqlValidator.validate(s.spark, sql, s.session.names))
      val (df, r) = ms(s.session.runValidatedSql(sql).toOption.get)
      val (_, p) = ms(df.limit(100).collect())
      new Obj().put("stmt", name).put("validate_ms", v).put("analyze_ms", r).put("records_ms", p)
    }
    val qdf = s.session.current(a.inputs.get("query_df").asText).get
    new Obj().put("statements", per).put("profile_ms", ms(Profile.summaryString(qdf))._2)
  }

  def run(a: Harness.Args, out: Obj): Unit = {
    val questions = a.inputs.get("questions").asScala
      .map(q => q.get("tag").asText -> q.get("sql").asText).toMap
    val s = start(a, questions)
    // the seeded execution order: statement i (name order) sorts by key i
    val keys = a.inputs.get("order_keys")
    val stmts = statements(s.spark, s.session.names, a.inputs.get("statement_pattern").asText,
      a.inputs.get("exclude").asScala.map(_.asText).toSet).zipWithIndex
      .sortBy { case (_, i) => keys.get(i).asDouble }.map(_._1)
    drive(s, a, stmts, "warmup", Long.MaxValue, "warm")
    out.put("setup_s", Harness.setupSeconds()).put("box", Harness.box(s.spark))
      .put("statements", stmts.map(_._1))

    val probe = new LayerProbe(s.spark, new SpanLog(false))
    if (a.trace) probe.install()
    LayerProbe.resetHeapPeak()
    val c0 = probe.snapshot()
    val t0 = Clock.us()
    val ops = drive(s, a, stmts, "scripts", t0 + (a.seconds * 1e6).toLong, "t")
    val wall = (Clock.us() - t0) / 1e6
    val c1 = probe.snapshot()
    val heapPeak = LayerProbe.heapPeakBytes()
    out.put("timed_t0", t0).put("timed_s", wall).put("ops", ops)
      .put("heap_live_mb", LayerProbe.liveHeapBytes() / 1048576.0)
      .put("heap_peak_mb", heapPeak / 1048576.0)
    if (a.trace) {
      out.put("counters", Harness.counters(c1 - c0))
      // one fixed cycle, alone on the server, job-counted request by request
      val single = new Client(s.port)
      val qdf = a.inputs.get("query_df").asText
      val q0 = a.inputs.get("questions").get(0)
      def jobsOf(f: => Any): Long = { val b = probe.snapshot(); f; (probe.snapshot() - b).jobs }
      val qJobs = jobsOf(single.query("question" ->
        s"[r=probe-q][${q0.get("tag").asText}] ${q0.get("text").asText}", "df_id" -> qdf))
      val eJobs = stmts.map { case (_, sql) => jobsOf(single.post("/execute", "sql" -> sql)) }
      val w0 = a.inputs.get("writes").get(0)
      single.post("/upload_dataset", "df_id" -> "wprobe", "path" -> a.inputs.get("write_path").asText)
      single.post("/execute", "sql" -> w0.get("sql").asText, "df_id" -> "wprobe")
      val probeCycle = probe.snapshot() - c1
      out.put("probe", new Obj().put("jobs_per_query", qJobs)
        .put("jobs_per_execute", eJobs.sum.toDouble / eJobs.length)
        .put("cycle", Harness.counters(probeCycle))
        .put("llm_calls_per_query", Option(s.stub.marks.get("probe-q")).map(_.size).getOrElse(0))
        .put("direct", directProbe(s, a, stmts)))
      probe.uninstall()
      out.put("marks", s.stub.marks.asScala.map { case (rid, ms) =>
        new Obj().put("rid", rid).put("calls", ms.asScala.map(m => m.toSeq.asJava))
      })
    }
    stopServer(s)
  }
}
