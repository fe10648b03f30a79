package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import graft.lifecycle.{EngineSession, ExecutorApi}

/** Real-HTTP exercise of the serving surface: every request goes through a
  * live JDK HttpServer on an ephemeral loopback port — the wire, the status
  * codes, and the JSON shapes are the asserted contract
  * (web_app/code_executor_api.py semantics per endpoint). */
class ExecutorApiSpec extends SparkSpec {

  private def call(port: Int, path: String, body: Option[String])
      : (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000); conn.setReadTimeout(30000)
    body match {
      case Some(b) =>
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
      case None => conn.setRequestMethod("GET")
    }
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = scala.io.Source.fromInputStream(stream, "UTF-8").mkString
    conn.disconnect()
    (code, text)
  }

  test("executor API serves upload, df_utils, execute, and error contracts") {
    val api = new ExecutorApi(new EngineSession(spark))
    val port = api.start()
    try {
      // liveness
      val (hc, health) = call(port, "/health", None)
      assert(hc == 200 && health.contains("\"status\":\"ok\""))

      // upload: register the orders table under a df_id
      val (uc, up) = call(port, "/upload_dataset",
        Some(s"""{"df_id":"orders","path":"$sf/orders.parquet"}"""))
      assert(uc == 200 && up.contains("\"o_orderkey\""), up)

      // df_columns: names + dtypes
      val (cc, cols) = call(port, "/df_utils/df_columns",
        Some("""{"df_id":"orders"}"""))
      assert(cc == 200 && cols.contains("\"o_totalprice\":\"double\""), cols)

      // df_summary: the I1 profile string rides in `data`
      val (sc, summary) = call(port, "/df_utils/df_summary",
        Some("""{"df_id":"orders"}"""))
      assert(sc == 200 && summary.contains("numeric"), summary)

      // compute_df_sample: bounded head(100) record objects
      val (pc, sample) = call(port, "/df_utils/compute_df_sample",
        Some("""{"df_id":"orders"}"""))
      assert(pc == 200, sample)
      assert("\\{\"o_orderkey\":".r.findAllIn(sample).length == 100, "100 records")

      // df_to_string: the I2 row-25 head + summary, caller-named order
      val (tc, ts) = call(port, "/df_utils/df_to_string",
        Some("""{"df_id":"orders","num_rows":3,"order_by":"o_orderkey"}"""))
      assert(tc == 200 && ts.contains("DF Head:") && ts.contains("DF Summary:"), ts)

      // execute: validated SQL over the bound view; result replaces the entry
      val (ec, res) = call(port, "/execute",
        Some("""{"df_id":"orders","sql":"SELECT o_orderstatus AS status, count(*) AS n FROM df GROUP BY o_orderstatus"}"""))
      assert(ec == 200 && res.contains("\"status\"") && res.contains("\"n\""), res)
      // the cached entry is now the RESULT (reference writes the mutated df
      // back) — its columns changed accordingly
      val (c2, cols2) = call(port, "/df_utils/df_columns",
        Some("""{"df_id":"orders"}"""))
      assert(c2 == 200 && cols2.contains("\"status\"") &&
        !cols2.contains("o_orderkey"), cols2)

      // write-gated SQL is rejected by the validator, as an error PAYLOAD
      val (vc, verr) = call(port, "/execute",
        Some("""{"df_id":"orders","sql":"DROP TABLE df"}"""))
      assert(vc == 200 && verr.contains("\"error\""), verr)

      // error contract: missing df_id → 400; cache miss → 404
      assert(call(port, "/df_utils/df_summary", Some("{}"))._1 == 400)
      assert(call(port, "/df_utils/df_summary",
        Some("""{"df_id":"nope"}"""))._1 == 404)
      assert(call(port, "/execute", Some("{}"))._1 == 400)
    } finally api.stop()
  }

  test("/query streams the agent chain as SSE stage events + result") {
    val script = Map(
      "expert_selector" -> Seq(
        "requires_dataset: true\nexpert: Data Analyst\nconfidence: 9"),
      "analyst_selector" -> Seq(
        "analyst: Data Analyst DF\nintent: count orders per month of 1995"),
      "planner" -> Seq(
        "plan:\n- filter 1995\n- bucket by month\nsql: |\n" +
          "SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n " +
          "FROM df WHERE year(o_orderdate) = 1995 GROUP BY 1 ORDER BY 1"),
      "summarizer" -> Seq("Orders peaked mid-1995."))
    val api = new ExecutorApi(new EngineSession(spark),
      llm = Some(new graft.lifecycle.Agents.ScriptedLlm(script)))
    val port = api.start()
    try {
      call(port, "/upload_dataset",
        Some(s"""{"df_id":"df","path":"$sf/orders.parquet"}"""))

      // guards first: absent question → 400, unknown df → 404
      assert(call(port, "/query", Some("""{"df_id":"df"}"""))._1 == 400)
      assert(call(port, "/query",
        Some("""{"question":"q","df_id":"nope"}"""))._1 == 404)

      val (qc, stream) = call(port, "/query",
        Some("""{"question":"How many orders per month in 1995?","df_id":"df"}"""))
      assert(qc == 200, stream)
      // SSE framing: one stage event per chain LLM call, in chain order
      val events = "event: (\\w+)".r.findAllMatchIn(stream)
        .map(_.group(1)).toSeq
      assert(events == Seq("stage", "stage", "stage", "stage", "result"), events)
      val stages = "\"stage\":\"(\\w+)\"".r.findAllMatchIn(stream)
        .map(_.group(1)).toSeq
      assert(stages == Seq("expert_selector", "analyst_selector", "planner",
        "summarizer"), stages)
      // the result event carries the 12-month preview and the summary
      assert(stream.contains("\"summary\":\"Orders peaked mid-1995.\""), stream)
      assert("\\{\"month\":".r.findAllIn(stream).length == 12, stream)
    } finally api.stop()
  }

  test("file_utils aux endpoints and /execute plot_spec") {
    val api = new ExecutorApi(new EngineSession(spark))
    val port = api.start()
    try {
      // registry contract: register validates readability; remove is 404
      // once gone (nothing on storage is ever deleted)
      val (uc, up) = call(port, "/file_utils/upload_aux_dataset",
        Some(s"""{"path":"$sf/nation.parquet"}"""))
      assert(uc == 200 && up.contains("\"filepath\""), up)
      assert(call(port, "/file_utils/remove_aux_dataset",
        Some(s"""{"file_path":"$sf/nation.parquet"}"""))._1 == 200)
      assert(call(port, "/file_utils/remove_aux_dataset",
        Some(s"""{"file_path":"$sf/nation.parquet"}"""))._1 == 404)

      // per-path framing with the reference's inline-error degradation
      val (tc, ts) = call(port, "/file_utils/aux_datasets_to_string",
        Some(s"""{"file_paths":["$sf/nation.parquet","/nope.txt"],"num_rows":3}"""))
      assert(tc == 200 && ts.contains("1.\\nPath: "), ts)
      assert(ts.contains("n_name"), ts)
      assert(ts.contains("2.\\nPath: /nope.txt\\nError:"), ts)

      val (_, cs) = call(port, "/file_utils/get_aux_datasets_columns",
        Some(s"""{"file_paths":["$sf/nation.parquet"]}"""))
      assert(cs.contains("Columns:") && cs.contains("n_nationkey"), cs)

      val (_, hs) = call(port, "/file_utils/compute_aux_dataset_sample",
        Some(s"""{"file_paths":["$sf/region.parquet"]}"""))
      assert(hs.contains("\"html_results\":[") && hs.contains("<table"), hs)

      // list-shape guards: missing list → 400, empty list → message
      assert(call(port, "/file_utils/aux_datasets_to_string",
        Some("{}"))._1 == 400)
      assert(call(port, "/file_utils/aux_datasets_to_string",
        Some("""{"file_paths":[]}"""))._2
        .contains("No auxiliary datasets provided."))

      // /execute with a declarative plot request: the result preview rides
      // with a Vega-Lite spec over the SAME result frame
      call(port, "/upload_dataset",
        Some(s"""{"df_id":"orders","path":"$sf/orders.parquet"}"""))
      val (ec, res) = call(port, "/execute", Some(
        """{"df_id":"orders","plot_type":"bar","plot_x":"status",""" +
          """"plot_ys":"n","plot_title":"Orders by status",""" +
          """"sql":"SELECT o_orderstatus AS status, count(*) AS n """ +
          """FROM df GROUP BY o_orderstatus ORDER BY status"}"""))
      assert(ec == 200 && res.contains("\"plot_spec\":{"), res)
      assert(res.contains("\"mark\"") && res.contains("Orders by status"), res)
    } finally api.stop()
  }

  test("thread surface: record via /query, list, load, search, persist") {
    val script = Map(
      "expert_selector" -> Seq(
        "requires_dataset: true\nexpert: Data Analyst\nconfidence: 9"),
      "analyst_selector" -> Seq(
        "analyst: Data Analyst DF\nintent: count orders per month of 1995"),
      "planner" -> Seq(
        "plan:\n- filter 1995\n- bucket by month\nsql: |\n" +
          "SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n " +
          "FROM df WHERE year(o_orderdate) = 1995 GROUP BY 1 ORDER BY 1"),
      "summarizer" -> Seq("Orders peaked mid-1995."))
    val dir = java.nio.file.Paths.get("target/api_threads")
    new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    val prompts = scala.collection.mutable.Buffer.empty[(String, String)]
    def mkApi(st: graft.lifecycle.SessionStore) = new ExecutorApi(
      new EngineSession(spark),
      llm = Some(new graft.lifecycle.Agents.LlmClient {
        private val inner = new graft.lifecycle.Agents.ScriptedLlm(script)
        def complete(stage: String, prompt: String): String = {
          prompts += ((stage, prompt)); inner.complete(stage, prompt)
        }
      }),
      store = Some(st))
    val api = mkApi(new graft.lifecycle.SessionStore(dir))
    val port = api.start()
    try {
      // fresh conversation id
      val (nc, nb) = call(port, "/new_conversation", Some("{}"))
      assert(nc == 200 && nb.contains("\"thread_id\""), nb)
      val tid = "\"thread_id\":\"([^\"]+)\"".r
        .findFirstMatchIn(nb).get.group(1)

      // a /query with the thread_id records user + assistant turns
      call(port, "/upload_dataset",
        Some(s"""{"df_id":"df","path":"$sf/orders.parquet"}"""))
      val (qc, _) = call(port, "/query", Some(
        s"""{"question":"How many orders per month in 1995?","df_id":"df","thread_id":"$tid"}"""))
      assert(qc == 200)

      val (lc, lt) = call(port, s"/load_thread/$tid", Some("{}"))
      assert(lc == 200 && lt.contains("\"role\":\"user\"") &&
        lt.contains("\"role\":\"assistant\"") &&
        lt.contains("Orders peaked mid-1995."), lt)
      val (gc, gt) = call(port, "/get_threads", None)
      assert(gc == 200 && gt.contains(s"\"thread_id\":\"$tid\"") &&
        gt.contains("\"n_messages\":2"), gt)
      // substring search over message content, case-insensitive; and a miss
      val (sc2, hits) = call(port, "/search_threads",
        Some("""{"query":"peaked MID-1995"}"""))
      assert(sc2 == 200 && hits.contains(tid), hits)
      assert(!call(port, "/search_threads",
        Some("""{"query":"zebra unicorns"}"""))._2.contains(tid))
      assert(call(port, "/load_thread/nope", Some("{}"))._1 == 404)

      // delete_chain removes memory + disk; a reload then 404s
      val (nc2, nb2) = call(port, "/new_conversation", Some("{}"))
      val tid2 = "\"thread_id\":\"([^\"]+)\"".r
        .findFirstMatchIn(nb2).get.group(1)
      call(port, "/query", Some(
        s"""{"question":"How many orders per month in 1995?","df_id":"df","thread_id":"$tid2"}"""))
      assert(call(port, s"/load_thread/$tid2", Some("{}"))._1 == 200)
      assert(call(port, s"/delete_chain/$tid2", Some("{}"))._1 == 200)
      assert(call(port, s"/load_thread/$tid2", Some("{}"))._1 == 404)
      assert(call(port, s"/delete_chain/$tid2", Some("{}"))._1 == 404)

      // a FOLLOW-UP on the same thread sees the prior turns: the chain's
      // prompts carry the windowed conversation ahead of the new question
      // (the first query's prompts did not — the thread was empty)
      assert(!prompts.exists(_._2.contains("PRIOR CONVERSATION")), "fresh")
      prompts.clear()
      val (fc2, _) = call(port, "/query", Some(
        s"""{"question":"And which month peaked?","df_id":"df","thread_id":"$tid"}"""))
      assert(fc2 == 200)
      val expertPrompt = prompts.find(_._1 == "expert_selector").get._2
      assert(expertPrompt.contains("PRIOR CONVERSATION"), expertPrompt.take(200))
      assert(expertPrompt.contains("Orders peaked mid-1995."), expertPrompt)
      assert(expertPrompt.contains("QUESTION: And which month peaked?"))

      // persistence: a NEW store over the same dir restores the thread
      api.stop()
      val api2 = mkApi(new graft.lifecycle.SessionStore(dir))
      val port2 = api2.start()
      try {
        val (rc, rt) = call(port2, s"/load_thread/$tid", Some("{}"))
        assert(rc == 200 && rt.contains("Orders peaked mid-1995."), rt)
      } finally api2.stop()
    } finally api.stop()
  }

  test("favourites persist per chain; download streams the table as CSV") {
    val dataDir = java.nio.file.Paths.get("target/api_data")
    new scala.reflect.io.Directory(dataDir.toFile).deleteRecursively()
    val api = new ExecutorApi(new EngineSession(spark), dataDir = dataDir)
    val port = api.start()
    try {
      // favourite write + per-chain overwrite (one file per chain_id)
      val (fc, fb) = call(port, "/storage/favourites",
        Some("""{"thread_id":"t1","chain_id":"c1","rank":8,"task":"monthly orders","content":"SELECT 1"}"""))
      assert(fc == 200 && fb.contains("Solution saved"), fb)
      call(port, "/storage/favourites",
        Some("""{"thread_id":"t1","chain_id":"c1","rank":9,"task":"updated","content":"SELECT 2"}"""))
      val files = dataDir.resolve("favourites/t1").toFile.listFiles()
      assert(files.length == 1 && files.head.getName == "c1.json")
      val saved = java.nio.file.Files.readString(files.head.toPath)
      assert(saved.contains("\"rank\":9") && saved.contains("updated"), saved)
      assert(call(port, "/storage/favourites", Some("{}"))._1 == 400)

      // feedback records append-only; the vector-db status reports memory
      val (fbc, fbb) = call(port, "/submit_feedback",
        Some("""{"feedback":"great answer","rating":5}"""))
      assert(fbc == 200 && fbb.contains("feedback-1.json"), fbb)
      call(port, "/submit_feedback", Some("""{"feedback":"second","rating":3}"""))
      assert(dataDir.resolve("feedback").toFile.listFiles().length == 2)
      assert(call(port, "/submit_feedback", Some("{}"))._1 == 400)
      // restart seeding is max-index-based: with feedback-1 deleted a
      // count-based seed would write feedback-2.json again and overwrite
      java.nio.file.Files.delete(dataDir.resolve("feedback/feedback-1.json"))
      val api3 = new ExecutorApi(new EngineSession(spark), dataDir = dataDir)
      val port3 = api3.start()
      try {
        val (_, fb3) = call(port3, "/submit_feedback",
          Some("""{"feedback":"after restart","rating":4}"""))
        assert(fb3.contains("feedback-3.json"), fb3)
        val second = java.nio.file.Files.readString(
          dataDir.resolve("feedback/feedback-2.json"))
        assert(second.contains("second"), second)
      } finally api3.stop()
      assert(call(port, "/get_vector_db_status", None)._2
        .contains("\"enabled\":false"))

      // download: header + rows stream as CSV, bounded by max_rows
      call(port, "/upload_dataset",
        Some(s"""{"df_id":"orders","path":"$sf/orders.parquet"}"""))
      val (dc, csv) = call(port, "/download_generated_dataset?df_id=orders", None)
      assert(dc == 200, csv)
      val lines = csv.split("\n")
      assert(lines.head.startsWith("o_orderkey,"), lines.head)
      assert(lines.length == 1501, s"${lines.length} lines")
      val (cc, capped) = call(port,
        "/download_generated_dataset?df_id=orders&max_rows=10", None)
      assert(cc == 200 && capped.split("\n").length == 11)
      assert(call(port, "/download_generated_dataset", None)._1 == 400)
      assert(call(port, "/download_generated_dataset?df_id=nope", None)._1 == 404)
    } finally api.stop()
  }

  test("dataset management + chain-preview routes mirror the reference contracts") {
    val dataDir = java.nio.file.Paths.get("target/api_data_mgmt")
    new scala.reflect.io.Directory(dataDir.toFile).deleteRecursively()
    val api = new ExecutorApi(new EngineSession(spark), dataDir = dataDir)
    val port = api.start()
    try {
      // remove with nothing loaded: the reference's 400 + message
      val (r0, m0) = call(port, "/remove_primary_dataset",
        Some("""{"df_id":"orders"}"""))
      assert(r0 == 400 &&
        m0.contains("No primary dataset is currently loaded."), m0)
      // preview with nothing loaded degrades to a 200 Info table, not 4xx
      val (p0, b0) = call(port, "/get_primary_dataset_preview",
        Some("""{"df_id":"orders"}"""))
      assert(p0 == 200 && b0.contains("dataframe_html") &&
        b0.contains("No primary dataset"), b0)

      // loaded: preview carries the double-encoded reference envelope
      call(port, "/upload_dataset",
        Some(s"""{"df_id":"orders","path":"$sf/orders.parquet"}"""))
      val (p1, b1) = call(port, "/get_primary_dataset_preview",
        Some("""{"df_id":"orders"}"""))
      assert(p1 == 200 && b1.contains("o_orderkey"), b1)
      assert(b1.contains("""\"type\":\"dataframe\""""),
        "dataframe_html must be the reference's nested-JSON string")

      // remove: 200 once, 400 after (and the preview degrades again)
      val (r1, m1) = call(port, "/remove_primary_dataset",
        Some("""{"df_id":"orders"}"""))
      assert(r1 == 200 && m1.contains("removed successfully"), m1)
      assert(call(port, "/remove_primary_dataset",
        Some("""{"df_id":"orders"}"""))._1 == 400)
      assert(call(port, "/get_primary_dataset_preview",
        Some("""{"df_id":"orders"}"""))._2.contains("No primary dataset"))

      // aux preview: missing path is the one 400; an UNREGISTERED path is
      // the reference's 200 error-table (authorization by registry);
      // a registered path renders
      assert(call(port, "/get_dataset_preview", Some("{}"))._1 == 400)
      val (a0, ab0) = call(port, "/get_dataset_preview",
        Some(s"""{"file_path":"$sf/customer.parquet"}"""))
      assert(a0 == 200 && ab0.contains("not authorized"), ab0)
      call(port, "/file_utils/upload_aux_dataset",
        Some(s"""{"path":"$sf/customer.parquet"}"""))
      val (a1, ab1) = call(port, "/get_dataset_preview",
        Some(s"""{"file_path":"$sf/customer.parquet"}"""))
      assert(a1 == 200 && ab1.contains("c_custkey"), ab1)

      // chain preview: 404 before any favourite; malformed path is 400
      assert(call(port, "/get_chain_preview/t9/c9", None)._1 == 404)
      assert(call(port, "/get_chain_preview/onlyone", None)._1 == 400)
      // a favourited chain embedding the engine's /execute plot_spec (the
      // nested braces exercise the balanced-brace extraction)
      call(port, "/storage/favourites",
        Some("""{"thread_id":"t9","chain_id":"c9","rank":5,"task":"plot",""" +
          """"content":"chart \"plot_spec\":{\"$schema\":\"https://vega.github.io/schema/vega-lite/v5.json\",\"mark\":\"bar\",\"width\":{\"step\":2}} end"}"""))
      val (gc, gp) = call(port, "/get_chain_preview/t9/c9", None)
      assert(gc == 200 && gp.contains("\"hasPlotly\":true"), gp)
      assert(gp.contains("\"plotSpec\":{") && gp.contains("vega-lite") &&
        gp.contains("\"step\":2"), gp)
      // the reference's own data-plotly-json attribute form, &quot;-unescaped
      call(port, "/storage/favourites",
        Some("""{"thread_id":"t9","chain_id":"c10","rank":5,"task":"plotly",""" +
          """"content":"<div data-plotly-json=\"{&quot;data&quot;:[1]}\"></div>"}"""))
      val (qc, qp) = call(port, "/get_chain_preview/t9/c10", None)
      assert(qc == 200 && qp.contains("\"hasPlotly\":true"), qp)
      assert(qp.contains("""{\"data\":[1]}"""), qp)
      // a plot-less chain reports hasPlotly=false at 200
      call(port, "/storage/favourites",
        Some("""{"thread_id":"t9","chain_id":"c11","rank":1,"task":"sql",""" +
          """"content":"SELECT 1"}"""))
      val (nc, np) = call(port, "/get_chain_preview/t9/c11", None)
      assert(nc == 200 && np.contains("\"hasPlotly\":false"), np)
      // a plot_spec with BALANCED braces but invalid JSON must degrade to
      // hasPlotly:false, not splice a syntactically broken response body
      call(port, "/storage/favourites",
        Some("""{"thread_id":"t9","chain_id":"c12","rank":1,"task":"bad",""" +
          """"content":"x \"plot_spec\":{\"mark\": } end"}"""))
      val (bc, bp) = call(port, "/get_chain_preview/t9/c12", None)
      assert(bc == 200 && bp.contains("\"hasPlotly\":false"), bp)
    } finally api.stop()
  }

  test("/execute resolves cosine_sim on a fresh session (no operator ran first)") {
    // a new session carries no temp functions: cosine_sim must come from
    // the session's extensions, since the validator admits it by default
    val api = new ExecutorApi(new EngineSession(spark.newSession()))
    val port = api.start()
    try {
      val (uc, up) = call(port, "/upload_dataset",
        Some(s"""{"df_id":"orders","path":"$sf/orders.parquet"}"""))
      assert(uc == 200, up)
      val (ec, res) = call(port, "/execute", Some("""{"df_id":"orders",""" +
        """"sql":"SELECT cosine_sim(array(1d, 0d), array(1d, 0d)) AS s FROM df LIMIT 1"}"""))
      assert(ec == 200 && res.contains("\"data\":[{\"s\":1.0}]"), res)
    } finally api.stop()
  }

  test("LRU eviction drops the bound temp view; .json document upload parses") {
    val session = new EngineSession(spark)
    val api = new ExecutorApi(session, cacheSize = 2)
    val port = api.start()
    try {
      // a pretty-printed .json DOCUMENT routes to the multiLine reader —
      // the line reader would silently bind an all-corrupt table
      val doc = "target/api_doc_upload.json"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(doc),
        "[\n {\"k\": 1, \"v\": \"x\"},\n {\"k\": 2, \"v\": \"y\"}\n]\n")
      val (jc, jb) = call(port, "/upload_dataset",
        Some(s"""{"df_id":"conf","path":"$doc"}"""))
      assert(jc == 200 && jb.contains("\"k\"") && jb.contains("\"v\""), jb)
      assert(!jb.contains("_corrupt_record"), jb)

      // cacheSize=2: the third upload LRU-evicts "conf" — its temp view
      // must go with it, not leak in the catalog for the server's life
      call(port, "/upload_dataset",
        Some(s"""{"df_id":"orders","path":"$sf/orders.parquet"}"""))
      assert(spark.catalog.tableExists("conf"))
      call(port, "/upload_dataset",
        Some(s"""{"df_id":"customer","path":"$sf/customer.parquet"}"""))
      assert(!spark.catalog.tableExists("conf"),
        "evicted df_id left its temp view bound")
      // ... and its session binding: the validator's allow-list no longer
      // names it, and its version stack is released
      assert(!session.names.contains("conf"), session.names)
      assert(session.current("conf").isEmpty)
      assert(spark.catalog.tableExists("orders") &&
        spark.catalog.tableExists("customer"))
    } finally api.stop()
  }

  test("the profile follows the binding: df_summary and /query see the " +
      "/execute result, not the upload") {
    val analystPrompt = new java.util.concurrent.atomic.AtomicReference("")
    val scripted = new graft.lifecycle.Agents.ScriptedLlm(Map(
      "expert_selector" -> Seq(
        "requires_dataset: true\nexpert: Data Analyst\nconfidence: 9"),
      "analyst_selector" -> Seq("analyst: Data Analyst DF\nintent: count rows"),
      "planner" -> Seq("plan:\n- count\nsql: |\nSELECT count(*) AS n FROM stale"),
      "summarizer" -> Seq("counted")))
    val capture = new graft.lifecycle.Agents.LlmClient {
      def complete(stage: String, prompt: String): String = {
        if (stage == "analyst_selector") analystPrompt.set(prompt)
        scripted.complete(stage, prompt)
      }
    }
    val api = new ExecutorApi(new EngineSession(spark), llm = Some(capture))
    val port = api.start()
    val n = "o_orderkey: numeric\\(n=(\\d+)\\)".r
    def rowsIn(text: String): Long = n.findFirstMatchIn(text)
      .getOrElse(fail(s"no o_orderkey profile line in: $text")).group(1).toLong
    def summaryRows(): Long = {
      val (c, b) = call(port, "/df_utils/df_summary", Some("""{"df_id":"stale"}"""))
      assert(c == 200, b)
      rowsIn(b)
    }
    def queryRows(): Long = {
      val (c, b) = call(port, "/query",
        Some("""{"question":"How many rows?","df_id":"stale"}"""))
      assert(c == 200 && b.contains("event: result"), b)
      rowsIn(analystPrompt.get)
    }
    try {
      val all = spark.read.parquet(s"$sf/orders.parquet")
      val kept = all.filter("o_orderstatus = 'F'").count()
      assert(kept > 0 && kept < all.count())
      call(port, "/upload_dataset",
        Some(s"""{"df_id":"stale","path":"$sf/orders.parquet"}"""))
      assert(summaryRows() == all.count())
      assert(queryRows() == all.count())

      // the result replaces the binding: a memo keyed by the name would
      // keep answering with the upload's counts
      val (ec, eb) = call(port, "/execute", Some(
        """{"df_id":"stale","sql":"SELECT * FROM df WHERE o_orderstatus = 'F'"}"""))
      assert(ec == 200 && !eb.contains("\"error\""), eb)
      assert(summaryRows() == kept)
      assert(queryRows() == kept)
    } finally api.stop()
  }

  test("telemetry call-log is bounded; /metrics totals survive rotation") {
    val api = new ExecutorApi(new EngineSession(spark), callLogCap = 5)
    val port = api.start()
    try {
      // 12 calls across 2 agents through a cap-5 ring: 7 oldest roll up
      (1 to 12).foreach { i =>
        api.recordCall(graft.lifecycle.Telemetry.CallLog(s"chain-$i",
          if (i % 2 == 0) "planner" else "coder", "default",
          promptTokens = 100, completionTokens = 10, elapsedS = 0.5))
      }
      assert(api.callLogSize <= 5, s"ring grew to ${api.callLogSize}")
      val (mc, m) = call(port, "/metrics", Some("{}"))
      assert(mc == 200, m)
      // every call's mass survives the eviction roll-up: 6 calls per
      // agent, 600 prompt tokens each, 3.0s elapsed each
      assert(m.contains("\"agent\":\"planner\"") &&
        m.contains("\"agent\":\"coder\""), m)
      assert("\"n_calls\":6".r.findAllIn(m).length == 2, m)
      assert("\"prompt_tokens\":600".r.findAllIn(m).length == 2, m)
      assert("\"elapsed_s\":3.0".r.findAllIn(m).length == 2, m)
    } finally api.stop()
  }

  test("ontology + planning preferences shape the /query chain") {
    val distilled = "```yaml\ncontainers:\n  - name: activity\n" +
      "    columns: [activity_id, user_id]\n  - name: events\n" +
      "    columns: [event_id, user_id]\nlinks:\n  - from: events\n" +
      "    to: activity\n    on: user_id\nfunctions:\n" +
      "  - pace_min_per_km\n```"
    val script = Map(
      "expert_selector" -> Seq(
        "requires_dataset: true\nexpert: Data Analyst\nconfidence: 9"),
      "analyst_selector" -> Seq(
        "analyst: Data Analyst DF\nintent: count orders per month of 1995"),
      "dataframe_inspector" -> Seq(distilled),
      "planner" -> Seq(
        "plan:\n- filter 1995\nsql: |\n" +
          "SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n " +
          "FROM df WHERE year(o_orderdate) = 1995 GROUP BY 1 ORDER BY 1"),
      "summarizer" -> Seq("Orders peaked mid-1995."))
    val api = new ExecutorApi(new EngineSession(spark),
      llm = Some(new graft.lifecycle.Agents.ScriptedLlm(script)))
    val port = api.start()
    try {
      // planning toggle round-trip (app.py:430-482)
      assert(call(port, "/get_planning_state", None)._2
        .contains("\"planning\":false"))
      assert(call(port, "/update_planning",
        Some("""{"planning":true}"""))._2.contains("\"planning\":true"))
      assert(call(port, "/get_planning_state", None)._2
        .contains("\"planning\":true"))
      assert(call(port, "/update_planning", Some("{}"))._1 == 400)

      // ontology update validates AT UPDATE TIME; bad TTL never sticks
      assert(call(port, "/update_ontology",
        Some("""{"ttl":"ex:Broken a owl:Class"}"""))._1 == 400)
      assert(call(port, "/get_ontology_state", None)._2
        .contains("\"current_state\":false"))
      val ttl =
        """@prefix ex: <http://example.org/fitness#> .
          |@prefix owl: <http://www.w3.org/2002/07/owl#> .
          |@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
          |ex:Activity a owl:Class ;
          |  rdfs:label "Recorded activity session" .
          |ex:Event a owl:Class .
          |ex:hasEvent a owl:ObjectProperty ;
          |  rdfs:domain ex:Activity ;
          |  rdfs:range ex:Event .
          |""".stripMargin
      val (oc, ob) = call(port, "/update_ontology",
        Some(s"""{"ttl":${graft.lifecycle.Json.str(ttl)}}"""))
      assert(oc == 200 && ob.contains("\"classes\":2"), ob)
      assert(call(port, "/get_ontology_state", None)._2
        .contains("\"current_state\":true"))

      // /query now distills the ontology per question: the inspector call
      // shows up as a stage event and the data model streams as an
      // `ontology` event ahead of the chain
      call(port, "/upload_dataset",
        Some(s"""{"df_id":"df","path":"$sf/orders.parquet"}"""))
      val (qc, stream) = call(port, "/query",
        Some("""{"question":"How many orders per month in 1995?","df_id":"df"}"""))
      assert(qc == 200, stream)
      assert(stream.contains("\"stage\":\"dataframe_inspector\""), stream)
      assert(stream.contains("event: ontology"), stream)
      assert(stream.contains("graph TD") &&
        stream.contains("events -->|user_id| activity"), stream)
      assert(stream.contains("\"summary\":\"Orders peaked mid-1995.\""), stream)

      // explicit clear, the reference's ontology_path="" contract
      assert(call(port, "/update_ontology",
        Some("""{"ontology_path":""}"""))._2.contains("\"current_state\":false"))
    } finally api.stop()
  }

  test("/submit_rank stores the chain; the next query replays from memory") {
    val script = Map(
      "expert_selector" -> Seq(
        "requires_dataset: true\nexpert: Data Analyst\nconfidence: 9"),
      "analyst_selector" -> Seq(
        "analyst: Data Analyst DF\nintent: count orders per month of 1995"),
      "planner" -> Seq(
        "plan:\n- filter 1995\n- bucket by month\nsql: |\n" +
          "SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n " +
          "FROM df WHERE year(o_orderdate) = 1995 GROUP BY 1 ORDER BY 1"),
      "summarizer" -> Seq("Orders peaked mid-1995."))
    val mem = new graft.lifecycle.EpisodicMemory(spark)
    val memDir = "target/api_memory"
    new scala.reflect.io.Directory(new java.io.File(memDir)).deleteRecursively()
    val api = new ExecutorApi(new EngineSession(spark),
      llm = Some(new graft.lifecycle.Agents.ScriptedLlm(script)),
      memory = Some(mem), memoryDir = Some(memDir))
    val port = api.start()
    try {
      // rank before any chain → 404; then run a chain
      assert(call(port, "/submit_rank", Some("""{"rank":8}"""))._1 == 404)
      call(port, "/upload_dataset",
        Some(s"""{"df_id":"df","path":"$sf/orders.parquet"}"""))
      val (c1, s1) = call(port, "/query",
        Some("""{"question":"How many orders per month in 1995?","df_id":"df"}"""))
      assert(c1 == 200 && s1.contains("\"stage\":\"planner\""), s1)

      // a rank below the threshold does not store
      val (_, low) = call(port, "/submit_rank", Some("""{"rank":3}"""))
      assert(low.contains("\"stored\":false") && mem.size == 0, low)
      // step 11: rank >= MinRank stores through the rank-dedup gate
      val (rc, stored) = call(port, "/submit_rank", Some("""{"rank":8}"""))
      assert(rc == 200 && stored.contains("\"stored\":true") && mem.size == 1,
        stored)
      // learning persisted: a fresh memory over the same dir restores it
      val reloaded = new graft.lifecycle.EpisodicMemory(spark)
      reloaded.load(memDir)
      assert(reloaded.size == 1)

      // same intent again: the memory hit skips the Planner entirely
      val (c2, s2) = call(port, "/query",
        Some("""{"question":"How many orders per month in 1995?","df_id":"df"}"""))
      assert(c2 == 200 && !s2.contains("\"stage\":\"planner\""), s2)
      assert("\\{\"month\":".r.findAllIn(s2).length == 12, s2)

      // A11 telemetry: per-stage roll-up of the tapped calls — chain 1
      // called the planner once, chain 2 (memory hit) did not, so the
      // planner row shows exactly one call across both chains
      val (mc, mj) = call(port, "/metrics", None)
      assert(mc == 200, mj)
      assert(mj.contains("\"agent\":\"planner\",\"n_calls\":1"), mj)
      assert(mj.contains("\"agent\":\"expert_selector\",\"n_calls\":2"), mj)
      assert(mj.contains("\"prompt_tokens\""), mj)
    } finally api.stop()
  }

  /** Multipart POST with real bytes (the reference's browser upload path,
    * app.py:566-618) — binary-safe on purpose: the parquet case round-trips
    * a payload containing every byte value through the parser. */
  private def postMultipart(port: Int, fieldName: String, fileName: String,
      content: Array[Byte]): (Int, String) = {
    val boundary = "----graftTestBoundary42"
    val conn = URI.create(s"http://127.0.0.1:$port/upload").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000); conn.setReadTimeout(30000)
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type",
      s"multipart/form-data; boundary=$boundary")
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    ascii(s"--$boundary\r\n")
    ascii("Content-Disposition: form-data; name=\"note\"\r\n\r\nhello\r\n")
    ascii(s"--$boundary\r\n")
    ascii(s"""Content-Disposition: form-data; name="$fieldName"; filename="$fileName"""" + "\r\n")
    ascii("Content-Type: application/octet-stream\r\n\r\n")
    out.write(content)
    ascii(s"\r\n--$boundary--\r\n")
    conn.getOutputStream.write(out.toByteArray)
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = scala.io.Source.fromInputStream(stream, "UTF-8").mkString
    conn.disconnect()
    (code, text)
  }

  test("/upload: multipart bytes spool through the format dispatch; bad parts 400") {
    val api = new ExecutorApi(new EngineSession(spark),
      dataDir = java.nio.file.Paths.get("target/executor_api_upload"))
    val port = api.start()
    try {
      // csv upload binds a queryable view named for the file
      val csv = "a,b\n1,x\n2,y\n".getBytes(StandardCharsets.UTF_8)
      val (cc, cb) = postMultipart(port, "file", "sales data.csv", csv)
      assert(cc == 200 && cb.contains("successfully uploaded"), cb)
      assert(cb.contains("\"df_id\":\"sales_data\""), cb)
      assert(cb.contains("\"a\"") && cb.contains("\"b\""), cb)
      val (sc, sb) = call(port, "/df_utils/compute_df_sample",
        Some("""{"df_id":"sales_data"}"""))
      assert(sc == 200 && sb.contains("\"x\""), sb)

      // parquet upload: ship REAL parquet bytes (binary round-trip)
      val pqDir = "target/upload_fixture_pq"
      new scala.reflect.io.Directory(new java.io.File(pqDir)).deleteRecursively()
      Tables.load(spark, sf, "region").coalesce(1)
        .write.mode("overwrite").parquet(pqDir)
      val part = new java.io.File(pqDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val bytes = java.nio.file.Files.readAllBytes(part.toPath)
      val (pc, pb) = postMultipart(port, "file", "regions.parquet", bytes)
      assert(pc == 200 && pb.contains("\"df_id\":\"regions\""), pb)
      assert(pb.contains("r_name"), pb)

      // reference error contract: wrong field name = no file part; empty
      // filename = no selected file; unsupported extension = invalid type
      assert(postMultipart(port, "not_file", "x.csv", csv)._1 == 400)
      assert(postMultipart(port, "file", "", csv)._1 == 400)
      val (tc, tb) = postMultipart(port, "file", "x.exe", csv)
      assert(tc == 400 && tb.contains("Invalid file type"), tb)
      // a structurally broken payload of a valid type is a 500 with the
      // load error, not a bound-but-poisoned view
      val (xc, _) = postMultipart(port, "file", "broken.parquet",
        "this is not parquet".getBytes(StandardCharsets.UTF_8))
      assert(xc == 500)
      assert(call(port, "/df_utils/compute_df_sample",
        Some("""{"df_id":"broken"}"""))._1 == 404)
      // a raw-crawl archive binds as the records table — the serving
      // front door for the h1/h2 extraction pipeline
      val warcBytes = ("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Target-URI: http://x.test/\r\nContent-Type: application/http\r\n\r\n" +
        "HTTP/1.1 200 OK\r\n\r\n<html><body><p>crawled page body</p></body></html>" +
        "\r\n\r\n").getBytes(StandardCharsets.UTF_8)
      val (wc, wb) = postMultipart(port, "file", "crawl.warc", warcBytes)
      assert(wc == 200 && wb.contains("\"df_id\":\"crawl\""), wb)
      assert(wb.contains("warc_type") && wb.contains("crawled page body"), wb)

      // uppercase extensions pass the case-insensitive gate AND reach the
      // right reader (the spool lowercases the suffix for the dispatch)
      val (uc, ub) = postMultipart(port, "file", "REPORT.CSV", csv)
      assert(uc == 200 && ub.contains("\"df_id\":\"REPORT\""), ub)
      // a text file misnamed .jsonl FAILS CLEANLY: jsonlAuto rejects the
      // corrupt-only probe at registration and the rollback leaves no
      // cached df behind (the round-9 poisoned-binding class, both layers)
      val (jc, jb) = postMultipart(port, "file", "notjson.jsonl",
        "plain text line\nanother line\n".getBytes(StandardCharsets.UTF_8))
      assert(jc == 500 && jb.contains("no data schema"), jb)
      assert(call(port, "/df_utils/compute_df_sample",
        Some("""{"df_id":"notjson"}"""))._1 == 404)

      // bare boundary bytes INSIDE a part's content (not CRLF-anchored)
      // must not truncate the part: RFC 2046 frames parts on the
      // line-initial "\r\n--boundary" form only
      val tricky = "a,b\n1,x------graftTestBoundary42y\n2,z\n"
        .getBytes(StandardCharsets.UTF_8)
      val (bc, bb) = postMultipart(port, "file", "tricky.csv", tricky)
      assert(bc == 200, bb)
      val (bsc, bsb) = call(port, "/df_utils/compute_df_sample",
        Some("""{"df_id":"tricky"}"""))
      assert(bsc == 200 && bsb.contains("graftTestBoundary42y"), bsb)

      // rollback must RESTORE a pre-existing healthy binding when a
      // failed upload derives the same df_id (inv.csv then a broken
      // inv.parquet) — not tear down the working view
      val inv = "k,v\n7,keepme\n".getBytes(StandardCharsets.UTF_8)
      assert(postMultipart(port, "file", "inv.csv", inv)._1 == 200)
      assert(postMultipart(port, "file", "inv.parquet",
        "not parquet".getBytes(StandardCharsets.UTF_8))._1 == 500)
      val (rc2, rb2) = call(port, "/df_utils/compute_df_sample",
        Some("""{"df_id":"inv"}"""))
      assert(rc2 == 200 && rb2.contains("keepme"), rb2)
    } finally api.stop()
  }

  test("concurrency: racing /execute, /upload_dataset eviction churn, and " +
      "/remove_primary_dataset never cross bindings, crash, or go partial") {
    // the round-13 property: with the request pool, every /execute response
    // must be a COMPLETE result of the df_id it named (old or new binding,
    // or a clean 404 after a remove) — never another request's table, a
    // 5xx, or a torn response. Two tables with disjoint column names make
    // any cross-request binding leak visible in the JSON itself.
    val dir = "target/executor_race"
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/a.csv"),
      "ka,va\n" + (1 to 50).map(i => s"$i,a$i").mkString("\n") + "\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b.csv"),
      "kb,vb\n" + (1 to 50).map(i => s"$i,b$i").mkString("\n") + "\n")
    val api = new ExecutorApi(new EngineSession(spark))
    val port = api.start()
    try {
      def upload(id: String, f: String): (Int, String) = call(port,
        "/upload_dataset", Some(s"""{"df_id":"$id","path":"$dir/$f"}"""))
      assert(upload("race_x", "a.csv")._1 == 200)
      assert(upload("race_y", "b.csv")._1 == 200)

      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def worker(id: String, own: String, other: String): Runnable = () => {
        var i = 0
        while (i < 25) {
          try {
            val (c, b) = call(port, "/execute",
              Some(s"""{"df_id":"$id","sql":"SELECT * FROM df"}"""))
            if (c == 200 && !b.contains("\"error\"")) {
              // a complete result of THIS request's table, never the other's
              if (!b.contains(own) || b.contains(other))
                errors.add(s"$id cross-binding or torn response: $b")
            } else if (c != 404)
              // 404 = cleanly removed mid-race; anything else is a failure
              errors.add(s"$id unexpected $c: $b")
          } catch { case e: Exception => errors.add(s"$id threw: $e") }
          i += 1
        }
      }
      val churn: Runnable = () => {
        var i = 0
        while (i < 15) {
          try {
            // evict/re-bind X, remove then restore Y — the mutation mix the
            // verdict names, against live /execute traffic
            upload("race_x", "a.csv")
            call(port, "/remove_primary_dataset", Some("""{"df_id":"race_y"}"""))
            upload("race_y", "b.csv")
          } catch { case e: Exception => errors.add(s"churn threw: $e") }
          i += 1
        }
      }
      val threads = Seq(
        new Thread(worker("race_x", "\"ka\"", "\"kb\"")),
        new Thread(worker("race_y", "\"kb\"", "\"ka\"")),
        new Thread(churn))
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(threads.forall(!_.isAlive), "race threads hung")
      assert(errors.isEmpty, errors.toArray.mkString("\n"))
      // the server survived the race and still answers
      val (hc, hb) = call(port, "/health", None)
      assert(hc == 200 && hb.contains("ok"), hb)
    } finally api.stop()
  }

  test("saturation: overflow requests get 503, /health stays live, " +
      "threads stay bounded, and permits recover") {
    // round-14 property: the request pool is FIXED-SIZE and fronted by an
    // admission semaphore — a burst beyond maxConcurrent must be REJECTED
    // loudly (503), not grow a thread per request (the r13 cached pool) and
    // not queue behind the slow work; /health bypasses the gate.
    val api = new ExecutorApi(new EngineSession(spark), maxConcurrent = 2)
    val port = api.start()
    try {
      val slowSql = // a few hundred ms of real aggregation work; the double
        // cast keeps the square from overflowing int under ANSI mode
        "SELECT sum(CAST(x AS DOUBLE) * x) AS s FROM " +
          "(SELECT explode(sequence(1, 3000000)) AS x)"
      val codes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
      val okBodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val ready = new java.util.concurrent.CyclicBarrier(12)
      val threads = (1 to 12).map { _ =>
        new Thread(() => {
          ready.await()
          val (c, b) = call(port, "/execute", Some(s"""{"sql":"$slowSql"}"""))
          codes.add(c)
          if (c == 200) okBodies.add(b)
        })
      }
      threads.foreach(_.start())
      Thread.sleep(300) // mid-storm: liveness must not queue behind work
      val (hc, _) = call(port, "/health", None)
      assert(hc == 200)
      // count the POOL's own threads by name, not Thread.activeCount —
      // under a full-suite run the JVM carries hundreds of Spark threads
      // that have nothing to do with this server
      import scala.jdk.CollectionConverters._
      val apiThreads = Thread.getAllStackTraces.keySet.asScala
        .count(_.getName == "executor-api")
      threads.foreach(_.join(60000))
      assert(threads.forall(!_.isAlive), "storm threads hung")
      val cs = codes.toArray(new Array[Integer](0)).map(_.intValue).toSeq
      assert(cs.count(_ == 503) >= 1, s"no rejection in $cs")
      assert(cs.count(_ == 200) >= 1, s"no success in $cs")
      assert(cs.forall(c => c == 200 || c == 503), cs.toString)
      // each admitted request held real work and finished it
      okBodies.forEach(b => assert(!b.contains("\"error\""), b))
      // pool threads bounded by maxConcurrent + 4 for THIS server (a few
      // more may linger from other tests' just-stopped servers): never
      // thread-per-request growth (12 concurrent vs a 6-thread pool)
      assert(apiThreads <= 40, s"thread explosion: $apiThreads pool threads")
      // permits released: the server accepts work again after the storm
      val (ac, ab) = call(port, "/execute", Some("""{"sql":"SELECT 1 AS one"}"""))
      assert(ac == 200 && !ab.contains("\"error\""), s"$ac $ab")
    } finally api.stop()
  }

  test("/execute scopes df to its own request: no df_id, no df") {
    val api = new ExecutorApi(new EngineSession(spark))
    val port = api.start()
    try {
      assert(call(port, "/upload_dataset",
        Some(s"""{"df_id":"a","path":"$sf/nation.parquet"}"""))._1 == 200)
      val (c1, b1) = call(port, "/execute",
        Some("""{"df_id":"a","sql":"SELECT * FROM df"}"""))
      assert(c1 == 200 && b1.contains("\"n_name\"") && !b1.contains("\"error\""), b1)
      // no df_id: `df` names no table, whatever an earlier request saw
      val (c2, b2) = call(port, "/execute", Some("""{"sql":"SELECT * FROM df"}"""))
      assert(c2 == 200 && b2.contains("unknown relations df") &&
        !b2.contains("n_name"), b2)
      // a CTE named df inside the statement still shadows the request's df
      val (c3, b3) = call(port, "/execute", Some("""{"df_id":"a",""" +
        """"sql":"WITH df AS (SELECT 1 AS one) SELECT * FROM df"}"""))
      assert(c3 == 200 && b3.contains("\"data\":[{\"one\":1}]"), b3)
    } finally api.stop()
  }

  test("request bodies decode JSON escapes: an escaped é reads as é") {
    // Python's json.dumps sends non-ASCII as backslash-u escapes by default;
    // the per-path framing echoes the decoded path (no such file exists:
    // the JVM's file-name encoding may not carry é)
    val api = new ExecutorApi(new EngineSession(spark))
    val port = api.start()
    try {
      val path = "target/executor_unicode/données.csv"
      val escaped = path.replace("é", "\\" + "u00e9")
      val (c, b) = call(port, "/file_utils/aux_datasets_to_string",
        Some(s"""{"file_paths":["$escaped"]}"""))
      assert(c == 200 && b.contains(s"1.\\nPath: $path\\nError:"), b)
    } finally api.stop()
  }

  test("concurrent /query chains log under distinct chain ids") {
    val replies = Map(
      "expert_selector" ->
        "requires_dataset: true\nexpert: Data Analyst\nconfidence: 9",
      "analyst_selector" -> "analyst: Data Analyst DF\nintent: count nations",
      "planner" -> "plan:\n- count\nsql: |\nSELECT count(*) AS n FROM df",
      "summarizer" -> "25 nations.")
    // stateless stub: every chain gets the same replies on any thread
    val api = new ExecutorApi(new EngineSession(spark),
      llm = Some(new graft.lifecycle.Agents.LlmClient {
        def complete(stage: String, prompt: String): String = replies(stage)
      }))
    val port = api.start()
    try {
      assert(call(port, "/upload_dataset",
        Some(s"""{"df_id":"df","path":"$sf/nation.parquet"}"""))._1 == 200)
      val ready = new java.util.concurrent.CyclicBarrier(8)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
      val threads = (1 to 8).map { _ =>
        new Thread(() => {
          ready.await()
          results.add(call(port, "/query",
            Some("""{"question":"How many nations?","df_id":"df"}""")))
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(threads.forall(!_.isAlive), "query threads hung")
      results.forEach { case (c, b) =>
        assert(c == 200 && b.contains("event: result"), b)
      }
      // 8 chains, each logging its own four stage calls
      val perChain = api.callLogChainIds.groupBy(identity).map {
        case (id, calls) => id -> calls.length
      }
      assert(perChain.size == 8, perChain)
      assert(perChain.values.forall(_ == 4), perChain)
    } finally {
      // the upload cached nation in the suite-shared session; later suites
      // assert on nation's file-scan plan, so release it
      call(port, "/remove_primary_dataset", Some("""{"df_id":"df"}"""))
      api.stop()
    }
  }
}
