package graft

import graft.lifecycle.{Agents, EngineSession, LlmConfig, ReAct, Retriever, SessionStore, UserContext}
import graft.functions.ScalarExtras

class AgentsSpec extends SparkSpec {

  /** Wraps a client to record every (stage, prompt) so observation
    * threading through the ReAct transcript is assertable. */
  private final class Recording(inner: Agents.LlmClient) extends Agents.LlmClient {
    val calls = scala.collection.mutable.Buffer.empty[(String, String)]
    def complete(stage: String, prompt: String): String = {
      calls += ((stage, prompt)); inner.complete(stage, prompt)
    }
  }

  private def corpusRetriever(): Retriever = {
    import spark.implicits._
    val corpus = Seq(
      (1L, "Mount Everest rises 8849 metres above sea level in the Himalaya"),
      (2L, "The Mariana Trench descends nearly 11000 metres below the ocean"))
      .toDF("doc_id", "text")
    val r = new Retriever(spark)
    r.indexCorpus(corpus)
    r
  }

  private def fixtures(badFirst: Boolean) = Map(
    "expert_selector" -> Seq(
      "requires_dataset: true\nexpert: Data Analyst\nconfidence: 9"),
    "analyst_selector" -> Seq(
      "analyst: Data Analyst DF\nintent: count orders per month of 1995"),
    "planner" -> Seq(
      (if (badFirst)
        "plan:\n- bucket by month\nsql: SELECT month_of(o_orderdate) FROM orders"
      else
        "plan:\n- filter 1995\n- bucket by month\nsql: |\n" +
          "SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n " +
          "FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1 ORDER BY 1")),
    "error_corrector" -> Seq(
      "SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n " +
        "FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1 ORDER BY 1"),
    "summarizer" -> Seq("Orders peaked mid-1995."))

  private def session(): EngineSession = {
    val es = new EngineSession(spark)
    es.bind("orders", Tables.load(spark, sf, "orders"))
    es
  }

  test("e2e chain: route -> plan -> SQL -> result -> summary (no repair)") {
    val r = Agents.converse(session(), new Agents.ScriptedLlm(fixtures(false)),
      "How many orders per month in 1995?", "orders")
    assert(r.expert.requiresDataset && r.expert.confidence == 9)
    assert(r.analyst.intent.nonEmpty && r.plan.steps.length == 2)
    assert(r.repair.df.nonEmpty && r.repair.attempts == 0)
    assert(r.repair.df.get.count() == 12)
    assert(r.summary.contains("Orders peaked mid-1995."))
  }

  test("planning=true routes the Planner through the plan-first template") {
    val rec = new Recording(new Agents.ScriptedLlm(fixtures(false)))
    Agents.converse(session(), rec,
      "How many orders per month in 1995?", "orders", planning = true)
    val plannerPrompt = rec.calls.find(_._1 == "planner").get._2
    assert(plannerPrompt.contains(
      "implement the provided analysis plan"), plannerPrompt.take(200))
    // and the default remains the no-plan template
    val rec2 = new Recording(new Agents.ScriptedLlm(fixtures(false)))
    Agents.converse(session(), rec2,
      "How many orders per month in 1995?", "orders")
    assert(!rec2.calls.find(_._1 == "planner").get._2
      .contains("implement the provided analysis plan"))
  }

  test("e2e chain: invalid SQL goes through the repair loop once") {
    val r = Agents.converse(session(), new Agents.ScriptedLlm(fixtures(true)),
      "How many orders per month in 1995?", "orders")
    assert(r.repair.attempts == 1 && r.repair.df.nonEmpty)
    assert(r.repair.errors.head.toLowerCase.contains("month_of"))
    assert(r.repair.df.get.count() == 12)
  }

  test("the chain collects its result once: the summary renders its first " +
      "rows; no rows when the repair loop gives up") {
    val rec = new Recording(new Agents.ScriptedLlm(fixtures(false) +
      ("planner" -> Seq("plan:\n- list\nsql: SELECT o_orderkey FROM orders ORDER BY 1"))))
    val r = Agents.converse(session(), rec, "List the orders.", "orders")
    val rows = r.rows.getOrElse(fail("an answered chain carries its rows"))
    assert(rows.length == Agents.ResultRows)
    val rendered = rec.calls.find(_._1 == "summarizer").get._2
      .split("RESULT:\n", 2)(1).linesIterator.map(_.trim).toSeq
    assert(rendered == "o_orderkey" +: rows.take(Agents.SummaryRows)
      .map(_.get(0).toString), rendered)

    val stuck = new Recording(new Agents.ScriptedLlm(fixtures(true) +
      ("error_corrector" -> Seq("SELECT month_of(o_orderdate) FROM orders"))))
    val gaveUp = Agents.converse(session(), stuck, "How many orders?", "orders")
    assert(gaveUp.repair.df.isEmpty && gaveUp.repair.errors.nonEmpty)
    assert(gaveUp.rows.isEmpty && gaveUp.summary.isEmpty)
    assert(!stuck.calls.exists(_._1 == "summarizer"))
  }

  test("yaml plan parsing: steps list + block sql") {
    val p = Agents.parsePlan("plan:\n- a\n- b\nsql: |\nSELECT 1")
    assert(p.steps == Seq("a", "b") && p.sql == "SELECT 1")
  }

  test("mermaid data-model rendering (I7 shape)") {
    val m = Agents.mermaid(
      Seq(Agents.ModelNode("orders", Seq("o_orderkey", "o_custkey")),
        Agents.ModelNode("customer", Seq("c_custkey"))),
      Seq(Agents.ModelEdge("orders", "customer", "o_custkey=c_custkey")))
    assert(m.startsWith("graph TD") &&
      m.contains("orders -->|o_custkey=c_custkey| customer"))
  }

  test("session store: window eviction + save/restore roundtrip") {
    val store = new SessionStore(java.nio.file.Paths.get("target/test_sessions"))
    store.append("t1", "system", "sys prompt")
    (1 to 12).foreach { i =>
      store.append("t1", "user", s"q$i\nwith \"quotes\"")
      store.append("t1", "assistant", s"a$i")
    }
    val msgs = store.messages("t1")
    assert(msgs.count(_.role == "system") == 1)
    assert(msgs.count(_.role != "system") == 2 * store.MaxConversations - 1)
    store.save("t1")
    val store2 = new SessionStore(java.nio.file.Paths.get("target/test_sessions"))
    assert(store2.restore("t1") == msgs.length)
    assert(store2.messages("t1") == msgs)
  }

  test("session store roundtrip: backslash-adjacent escapes and controls") {
    val store = new SessionStore(java.nio.file.Paths.get("target/test_sessions"))
    // literal backslash followed by 'n' — the case sequential replace corrupts
    val tricky = Seq(
      "path C:\\new\\table", "ends with backslash \\", "\\n literal",
      "tab\there\u0001ctl", "quote \" and \\\" pair", "\\\\double\\\\")
    tricky.zipWithIndex.foreach { case (s, i) =>
      store.append("esc", s"role$i", s)
    }
    store.save("esc")
    val store2 = new SessionStore(java.nio.file.Paths.get("target/test_sessions"))
    assert(store2.restore("esc") == tricky.length)
    assert(store2.messages("esc").map(_.content) == tricky)
  }

  test("research routing: non-dataset questions go to the ReAct path, not the planner") {
    // no planner/analyst fixtures: reaching either stage would throw,
    // proving the SQL path is skipped entirely (bambooai.py:456-473)
    val llm = new Agents.ScriptedLlm(Map(
      "expert_selector" -> Seq(
        "requires_dataset: false\nexpert: Research Specialist\nconfidence: 8"),
      "theorist" -> Seq(
        "Thought: search the corpus.\nAction: search: highest mountain",
        "Answer: Everest, per the retrieved chunk."),
      "search_summarizer" -> Seq("Mount Everest is the highest mountain.")))
    val r = Agents.converse(session(), llm, "What is the highest mountain?",
      "orders", research = ReAct.searchActions(spark, corpusRetriever(), llm))
    assert(r.expert.expert == "Research Specialist" && !r.expert.requiresDataset)
    assert(r.summary.contains("Answer: Everest, per the retrieved chunk."))
    assert(r.repair.df.isEmpty && r.plan.sql.isEmpty)
    // with no research actions configured, the same routing falls through
    // to the analyst path (search-disabled degradation, bambooai.py:64-75)
    val full = new Agents.ScriptedLlm(fixtures(false) +
      ("expert_selector" -> Seq(
        "requires_dataset: false\nexpert: Research Specialist\nconfidence: 8")))
    val fallback = Agents.converse(session(), full,
      "How many orders per month in 1995?", "orders")
    assert(fallback.repair.df.nonEmpty)
  }

  test("ReAct e2e: search then calculate then final answer, observations threaded") {
    val llm = new Recording(new Agents.ScriptedLlm(Map(
      "search_executor" -> Seq(
        "Thought: I should look up the height.\nAction: search: 'height of everest'",
        "Thought: double it for the fixture question.\nAction: calculate: 8849 * 2",
        "Answer: 17698 metres"),
      "search_summarizer" -> Seq("Mount Everest is 8849 metres tall."))))
    val r = ReAct.run(llm, "What is twice the height of Everest?",
      ReAct.searchActions(spark, corpusRetriever(), llm))
    assert(!r.truncated && r.answer == "Answer: 17698 metres")
    assert(r.steps.map(s => (s.action, s.input)) == Seq(
      "search" -> "'height of everest'", "calculate" -> "8849 * 2"))
    assert(r.steps(0).observation == "Mount Everest is 8849 metres tall.")
    assert(r.steps(1).observation == "17698.0")
    // the final prompt carries the question, both responses, both observations
    val lastPrompt = llm.calls.reverse.collectFirst {
      case ("search_executor", p) => p
    }.get
    assert(lastPrompt.startsWith("Question: What is twice the height of Everest?"))
    assert(lastPrompt.contains("Observation: Mount Everest is 8849 metres tall."))
    assert(lastPrompt.contains("Observation: 17698.0"))
    // the summarizer saw the retrieved chunk as numbered context
    val sumPrompt = llm.calls.collectFirst { case ("search_summarizer", p) => p }.get
    assert(sumPrompt.contains("Everest") && sumPrompt.contains("[1]"))
  }

  test("ReAct: calculator failures come back as observations, not exceptions") {
    val llm = new Agents.ScriptedLlm(Map("search_executor" -> Seq(
      "Action: calculate: drop table x",
      "Answer: that was not arithmetic")))
    val r = ReAct.run(llm, "q", ReAct.searchActions(spark, corpusRetriever(), llm))
    assert(r.steps.length == 1 && r.steps(0).observation.nonEmpty)
    assert(r.answer == "Answer: that was not arithmetic" && !r.truncated)
  }

  test("ReAct: unknown actions raise; turn budget truncates") {
    val bad = new Agents.ScriptedLlm(Map("search_executor" -> Seq(
      "Action: rm_rf: /")))
    intercept[NoSuchElementException] {
      ReAct.run(bad, "q", Map("calculate" -> (_ => "")))
    }
    // ScriptedLlm repeats its last line, so the model never stops acting
    val loop = new Agents.ScriptedLlm(Map("search_executor" -> Seq(
      "Action: calculate: 1 + 1")))
    val r = ReAct.run(loop, "q",
      Map("calculate" -> (e => ScalarExtras.calculate(spark, e)
        .fold(identity, _.toString))))
    assert(r.truncated && r.steps.length == ReAct.MaxTurns)
    assert(r.steps.forall(_.observation == "2.0"))
  }

  test("per-stage dispatch: bound stages hit their own model, rest the default") {
    val cfg = LlmConfig.parse(
      """{"agent_configs": [
        |  {"agent": "planner", "details": {"model": "model-a", "provider":"openai", "max_tokens": 2000}},
        |  {"agent": "summarizer", "details": {"model": "model-b", "base_url": "http://alt/v1"}},
        |  {"agent": "broken", "details": {"provider": "openai"}}
        |]}""".stripMargin)
    assert(cfg == Map(
      "planner" -> LlmConfig.Binding("model-a", provider = Some("openai")),
      "summarizer" -> LlmConfig.Binding("model-b", baseUrl = Some("http://alt/v1"))))
    // braces inside string values must not mis-anchor an entry, and
    // "agent" text inside a string value is not a key (round-5 advice)
    val tricky = LlmConfig.parse(
      """{"agent_configs": [
        |  {"comment": "use {x} or { \"agent\": never }", "agent": "planner",
        |   "details": {"model": "m-a"}},
        |  {"agent": "coder", "note": "decoy \"details\": { here", "details": {"model": "m-b"}}
        |]}""".stripMargin)
    assert(tricky == Map("planner" -> LlmConfig.Binding("m-a"),
      "coder" -> LlmConfig.Binding("m-b")))
    val seen = scala.collection.mutable.Buffer.empty[(String, String)]
    def scripted(tag: String): Agents.LlmClient = (stage, _) => {
      seen += ((tag, stage)); s"$tag answer"
    }
    val d = LlmConfig.dispatch(scripted("default"), cfg,
      b => scripted(b.model))
    assert(d.complete("planner", "p") == "model-a answer")
    assert(d.complete("summarizer", "p") == "model-b answer")
    assert(d.complete("expert_selector", "p") == "default answer")
    assert(seen.toSeq == Seq("model-a" -> "planner",
      "model-b" -> "summarizer", "default" -> "expert_selector"))
  }

  test("LlmConfig.parse decodes escaped strings (\\/ and \\\" in values)") {
    // JSON encoders may escape '/' (PHP, some Java writers) and keys can
    // hold any character; the binding must carry the decoded values
    val cfg = LlmConfig.parse(
      """{"agent_configs": [{"agent": "planner", "details": {"model": "m",
        |  "base_url": "https:\/\/api.example.com\/v1",
        |  "api_key": "k\"ey\\1"}}]}""".stripMargin)
    assert(cfg == Map("planner" -> LlmConfig.Binding("m",
      baseUrl = Some("https://api.example.com/v1"),
      apiKey = Some("k\"ey\\1"))))
  }

  test("request_user_context: analyst selector asks, consumes the answer, re-routes") {
    // first analyst response is the tool call; after the channel answers,
    // the second response routes normally (anthropic_models.py:171-228 loop)
    val llm = new Recording(new Agents.ScriptedLlm(fixtures(false) +
      ("analyst_selector" -> Seq(
        "tool: request_user_context\n" +
          "query_clarification: Which year do you mean?\n" +
          "context_needed: missing_details",
        "analyst: Data Analyst DF\nintent: count orders per month of 1995"))))
    val asked = scala.collection.mutable.Buffer.empty[UserContext.Request]
    val channel = new UserContext.DirectChannel(r => {
      asked += r; Some("The year 1995.")
    })
    val r = Agents.converse(session(), llm,
      "How many orders per month?", "orders", feedback = Some(channel))
    assert(asked.toSeq ==
      Seq(UserContext.Request("Which year do you mean?", "missing_details")))
    // the re-call carried the tool result as a USER_CONTEXT line
    val analystPrompts = llm.calls.collect { case ("analyst_selector", p) => p }
    assert(analystPrompts.length == 2)
    assert(!analystPrompts(0).contains("USER_CONTEXT"))
    assert(analystPrompts(1).contains(
      "USER_CONTEXT (missing_details): The year 1995."))
    // and the chain completed end-to-end on the clarified intent
    assert(r.analyst.intent == "count orders per month of 1995")
    assert(r.repair.df.get.count() == 12)
  }

  test("request_user_context: no channel answer yields the reference timeout text") {
    val llm = new Recording(new Agents.ScriptedLlm(fixtures(false) +
      ("analyst_selector" -> Seq(
        "tool: request_user_context\nquery_clarification: Which table?\n" +
          "context_needed: not_a_known_kind", // coerces to "other"
        "analyst: Data Analyst DF\nintent: count orders per month of 1995"))))
    val r = Agents.converse(session(), llm, "How many orders?", "orders",
      feedback = Some(new UserContext.DirectChannel(_ => None)))
    val second = llm.calls.collect { case ("analyst_selector", p) => p }(1)
    assert(second.contains(s"USER_CONTEXT (other): ${UserContext.TimeoutMessage}"))
    assert(r.repair.df.nonEmpty)
    // feedback disabled (reference filter_tools feedback_enabled=False):
    // the same tool-shaped output is treated as plain text, never resolved
    val plain = Agents.converse(session(),
      new Agents.ScriptedLlm(fixtures(false) + ("analyst_selector" -> Seq(
        "tool: request_user_context\nquery_clarification: Which table?\n" +
          "context_needed: other"))),
      "How many orders?", "orders")
    assert(plain.analyst.analyst == "Data Analyst DF") // parse default
  }

  test("F14 calculator evaluates through Catalyst, no code path") {
    assert(ScalarExtras.calculate(spark, "2 * (3 + 4)") == Right(14.0))
    assert(ScalarExtras.calculate(spark, "pow(2, 10)") == Right(1024.0))
    assert(ScalarExtras.calculate(spark, "drop table x").isLeft)
  }

  test("e2e chain with MIXED provider wires: per-stage routing over real HTTP") {
    // the reference's agent_configs shape: one chain, different providers
    // per stage (models/__init__.py:121-164). Planner rides the Anthropic
    // Messages wire, summarizer the Gemini generateContent wire, the rest
    // the OpenAI-shaped default — each a REAL HTTP round-trip against a
    // local wire-shape stub, dispatched by LlmConfig
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import graft.lifecycle.{AnthropicLlmClient, GeminiLlmClient, HttpLlmClient}
    val fx = fixtures(false)
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n")
    def stageOf(body: String): String =
      "You are the ([a-z_]+) stage".r.findFirstMatchIn(body)
        .map(_.group(1)).getOrElse("?")
    val served = scala.collection.mutable.Buffer.empty[(String, String)]
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def route(path: String, wire: String, answer: String => String): Unit =
      server.createContext(path, (ex: HttpExchange) => {
        val body =
          scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
        val stage = stageOf(body)
        served.synchronized { served += ((wire, stage)) }
        val payload = answer(stage).getBytes("UTF-8")
        ex.sendResponseHeaders(200, payload.length)
        ex.getResponseBody.write(payload)
        ex.close()
      })
    route("/chat/completions", "openai", stage =>
      s"""{"choices":[{"message":{"role":"assistant","content":"${esc(fx(stage).head)}"}}]}""")
    route("/v1/messages", "anthropic", stage =>
      s"""{"content":[{"type":"text","text":"${esc(fx(stage).head)}"}]}""")
    route("/v1beta/models/", "gemini", stage =>
      s"""{"candidates":[{"content":{"parts":[{"text":"${esc(fx(stage).head)}"}]}}]}""")
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val d = LlmConfig.dispatch(
        new HttpLlmClient(base, "k", "m-default"),
        LlmConfig.parse(
          s"""{"agent_configs": [
             |  {"agent": "planner", "details": {"model": "m-claude",
             |   "provider": "anthropic", "base_url": "$base"}},
             |  {"agent": "summarizer", "details": {"model": "m-gem",
             |   "provider": "gemini", "base_url": "$base"}}
             |]}""".stripMargin),
        b =>
          if (b.provider.contains("anthropic"))
            new AnthropicLlmClient(b.baseUrl.get, "k", b.model)
          else if (b.provider.contains("gemini"))
            new GeminiLlmClient(b.baseUrl.get, "k", b.model)
          else new HttpLlmClient(b.baseUrl.get, "k", b.model))
      val r = Agents.converse(session(), d,
        "How many orders per month in 1995?", "orders")
      // identical final table to the single-provider scripted chain
      assert(r.repair.attempts == 0 && r.repair.df.get.count() == 12)
      assert(r.summary.contains("Orders peaked mid-1995."))
      // and each stage rode ITS wire, in chain order
      assert(served.toSeq == Seq(
        "openai" -> "expert_selector", "openai" -> "analyst_selector",
        "anthropic" -> "planner", "gemini" -> "summarizer"))
    } finally server.stop(0)
  }
}
