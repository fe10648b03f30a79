package graft

import java.net.InetSocketAddress
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.lifecycle.{Agents, HttpLlm, HttpLlmClient, Json}

/** Live LLM adapters against a local wire-shape stub —
  * the HTTP layer is exercised for real (JDK HttpServer on an ephemeral
  * port), no egress needed. */
class HttpAdaptersSpec extends SparkSpec {

  private def withServer(routes: Map[String, HttpExchange => (Int, String)])(
      body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    routes.foreach { case (path, handler) =>
      server.createContext(path, (ex: HttpExchange) => {
        val (code, payload) = handler(ex)
        val bytes = payload.getBytes("UTF-8")
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    }
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("LLM adapter: request carries stage+prompt, response content extracted") {
    var seenBody = ""
    var seenAuth = ""
    val response =
      """{"id":"cc-1","choices":[{"index":0,"message":{"role":"assistant",
        |"content":"analyst: Data Analyst DF\nintent: count \"big\" orders"},
        |"finish_reason":"stop"}],"usage":{"total_tokens":42}}""".stripMargin
    withServer(Map("/v1/chat/completions" -> (ex => {
      seenAuth = ex.getRequestHeaders.getFirst("Authorization")
      seenBody = scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
      (200, response)
    }))) { base =>
      val client = new HttpLlmClient(s"$base/v1", "sk-test", "test-model")
      val out = client.complete("analyst_selector", "pick the analyst: \"df\" flavor")
      assert(out == "analyst: Data Analyst DF\nintent: count \"big\" orders")
      assert(seenAuth == "Bearer sk-test")
      assert(seenBody.contains("\"model\":\"test-model\""))
      assert(seenBody.contains("analyst_selector"))
      assert(seenBody.contains("pick the analyst: \\\"df\\\" flavor"))
      // the adapter satisfies the LlmClient seam the agent chain consumes
      assert((client: Agents.LlmClient).complete("analyst_selector", "x").nonEmpty)
    }
  }

  test("LLM adapter: HTTP errors and malformed bodies fail loudly") {
    withServer(Map("/v1/chat/completions" -> (_ =>
        (429, """{"error":{"message":"rate limited"}}""")))) { base =>
      val client = new HttpLlmClient(s"$base/v1", "sk-test", "m")
      val e = intercept[RuntimeException] { client.complete("planner", "p") }
      assert(e.getMessage.contains("429"))
    }
    def content(reply: String) =
      HttpLlm.choiceContent(Json.fields(reply), "message")
    assert(content("""{"nope":1}""").isEmpty)
    assert(content(
      """{"choices":[{"message":{"content":"aA\nb"}}]}""").contains("aA\nb"))
  }

  test("LLM adapter: SSE streaming assembles deltas and reports a rate") {
    var seenBody = ""
    val sse = Seq(
      """data: {"choices":[{"delta":{"role":"assistant"}}]}""",
      """data: {"choices":[{"delta":{"content":"Hel"}}]}""",
      "",
      """data: {"choices":[{"delta":{"content":"lo "}}]}""",
      """data: {"choices":[{"delta":{"content":"world"}}]}""",
      """data: [DONE]""",
      """data: {"choices":[{"delta":{"content":"IGNORED"}}]}""").mkString("\n")
    withServer(Map("/v1/chat/completions" -> (ex => {
      seenBody = scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
      (200, sse)
    }))) { base =>
      val client = new HttpLlmClient(s"$base/v1", "sk-test", "m")
      val deltas = scala.collection.mutable.Buffer.empty[String]
      val r = client.completeStreaming("summarizer", "say hello", deltas += _)
      assert(seenBody.contains("\"stream\":true"))
      assert(r.text == "Hello world" && r.chunks == 3)
      assert(deltas.toSeq == Seq("Hel", "lo ", "world"))
      assert(r.elapsedSec > 0 && r.chunksPerSec > 0)
    }
  }

  test("LLM adapter: mid-stream error event throws, not a truncated success") {
    // the error arrives AFTER the 200 is committed and after real deltas —
    // the pump must throw instead of returning partial text as success
    val sse = Seq(
      """data: {"choices":[{"delta":{"content":"Hel"}}]}""",
      """data: {"error":{"message":"overloaded","type":"server_error"}}""",
      """data: [DONE]""").mkString("\n")
    withServer(Map("/v1/chat/completions" -> (_ => (200, sse)))) { base =>
      val client = new HttpLlmClient(s"$base/v1", "sk-test", "m")
      val e = intercept[RuntimeException](client.completeStreaming("s", "p"))
      assert(e.getMessage.contains("stream error"))
      assert(e.getMessage.contains("overloaded"))
    }
    // the word "error" INSIDE a content delta must not false-positive
    val benign = Seq(
      """data: {"choices":[{"delta":{"content":"an \"error\" string"}}]}""",
      """data: [DONE]""").mkString("\n")
    withServer(Map("/v1/chat/completions" -> (_ => (200, benign)))) { base =>
      val client = new HttpLlmClient(s"$base/v1", "sk-test", "m")
      assert(client.completeStreaming("s", "p").text == "an \"error\" string")
    }
  }

  test("LLM adapter: error events with leading fields and EOF truncation throw") {
    // gateways prepend ids/metadata to error events — detection is by the
    // error KEY plus absent delta content, not a brittle payload prefix
    val sse = Seq(
      """data: {"id":"gen-1","provider":"x","error":{"message":"quota","code":429}}""",
      """data: [DONE]""").mkString("\n")
    withServer(Map("/v1/chat/completions" -> (_ => (200, sse)))) { base =>
      val client = new HttpLlmClient(s"$base/v1", "sk-test", "m")
      val e = intercept[RuntimeException](client.completeStreaming("s", "p"))
      assert(e.getMessage.contains("stream error") && e.getMessage.contains("quota"))
    }
    // a clean close with NO stop sentinel is a truncated stream — also loud
    val cut = Seq(
      """data: {"choices":[{"delta":{"content":"par"}}]}""",
      """data: {"choices":[{"delta":{"content":"tial"}}]}""").mkString("\n")
    withServer(Map("/v1/chat/completions" -> (_ => (200, cut)))) { base =>
      val client = new HttpLlmClient(s"$base/v1", "sk-test", "m")
      val e = intercept[RuntimeException](client.completeStreaming("s", "p"))
      assert(e.getMessage.contains("without stop sentinel"))
      assert(e.getMessage.contains("7 chars")) // partial length surfaces
    }
  }

  test("Anthropic adapter: mid-stream error event throws with the message") {
    import graft.lifecycle.AnthropicLlmClient
    val sse = Seq(
      """data: {"type":"content_block_delta","index":0,"delta":{"type":"text_delta","text":"Hel"}}""",
      """data: {"type":"error","error":{"type":"overloaded_error","message":"Overloaded"}}""",
      """data: {"type":"message_stop"}""").mkString("\n")
    withServer(Map("/v1/messages" -> (_ => (200, sse)))) { base =>
      val client = new AnthropicLlmClient(base, "sk-ant-test", "m")
      val e = intercept[RuntimeException](client.completeStreaming("s", "p"))
      assert(e.getMessage.contains("stream error"))
      assert(e.getMessage.contains("Overloaded"))
    }
  }

  test("Anthropic adapter: Messages wire shape, content-block extraction") {
    import graft.lifecycle.AnthropicLlmClient
    var seenBody = ""
    var seenKey = ""
    var seenVersion = ""
    val response =
      """{"id":"msg-1","type":"message","role":"assistant",
        |"content":[{"type":"text","text":"plan:\n- bucket \"big\" orders"}],
        |"stop_reason":"end_turn","usage":{"output_tokens":12}}""".stripMargin
    withServer(Map("/v1/messages" -> (ex => {
      seenKey = ex.getRequestHeaders.getFirst("x-api-key")
      seenVersion = ex.getRequestHeaders.getFirst("anthropic-version")
      seenBody = scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
      (200, response)
    }))) { base =>
      val client = new AnthropicLlmClient(base, "sk-ant-test", "test-model")
      val out = client.complete("planner", "plan the \"big\" orders query")
      assert(out == "plan:\n- bucket \"big\" orders")
      assert(seenKey == "sk-ant-test" && seenVersion.nonEmpty)
      assert(seenBody.contains("\"model\":\"test-model\""))
      assert(seenBody.contains("\"max_tokens\":"))
      assert(seenBody.contains("planner"))
      assert(seenBody.contains("plan the \\\"big\\\" orders query"))
      // the adapter satisfies the same seam the agent chain consumes
      assert((client: Agents.LlmClient).complete("planner", "x").nonEmpty)
    }
    // "content" is a block ARRAY on this wire — the reader must walk it
    // (past the "type":"text" VALUE) and land on the text block
    assert(AnthropicLlmClient.textBlocks(Json.parse(response))
      .contains("plan:\n- bucket \"big\" orders"))
  }

  test("Anthropic adapter: SSE deltas assemble until message_stop") {
    import graft.lifecycle.AnthropicLlmClient
    var seenBody = ""
    val sse = Seq(
      """data: {"type":"message_start","message":{"id":"msg-1"}}""",
      """data: {"type":"content_block_start","index":0,"content_block":{"type":"text","text":""}}""",
      """data: {"type":"content_block_delta","index":0,"delta":{"type":"text_delta","text":"Hel"}}""",
      "",
      """data: {"type":"content_block_delta","index":0,"delta":{"type":"text_delta","text":"lo "}}""",
      """data: {"type":"content_block_delta","index":0,"delta":{"type":"text_delta","text":"world"}}""",
      """data: {"type":"content_block_stop","index":0}""",
      """data: {"type":"message_delta","delta":{"stop_reason":"end_turn"}}""",
      """data: {"type":"message_stop"}""",
      """data: {"type":"content_block_delta","index":0,"delta":{"type":"text_delta","text":"IGNORED"}}""")
      .mkString("\n")
    withServer(Map("/v1/messages" -> (ex => {
      seenBody = scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
      (200, sse)
    }))) { base =>
      val client = new AnthropicLlmClient(base, "sk-ant-test", "m")
      val deltas = scala.collection.mutable.Buffer.empty[String]
      val r = client.completeStreaming("summarizer", "say hello", deltas += _)
      assert(seenBody.contains("\"stream\":true"))
      assert(r.text == "Hello world" && r.chunks == 3)
      assert(deltas.toSeq == Seq("Hel", "lo ", "world"))
      assert(r.elapsedSec > 0 && r.chunksPerSec > 0)
    }
  }

  test("LlmConfig: anthropic provider binding dispatches to the Messages wire") {
    import graft.lifecycle.LlmConfig
    var path = ""
    val response =
      """{"content":[{"type":"text","text":"ok"}]}"""
    withServer(Map("/v1/messages" -> (ex => {
      path = ex.getRequestURI.getPath
      (200, response)
    }))) { base =>
      val cfg = s"""{"agent_configs": [
                   |  {"agent": "planner", "details": {"model": "m-ant",
                   |   "provider": "anthropic", "base_url": "$base"}}
                   |]}""".stripMargin
      val d = LlmConfig.fromEnv(Map(
        "GRAFT_LLM_API_KEY" -> "k",
        "GRAFT_LLM_BASE_URL" -> "http://127.0.0.1:1/v1",
        "GRAFT_LLM_CONFIG" -> cfg).get).get
      assert(d.boundStages == Set("planner"))
      assert(d.complete("planner", "p") == "ok")
      assert(path == "/v1/messages")
      // an unbound stage still routes to the (dead) default wire
      intercept[Exception] { d.complete("summarizer", "p") }
    }
  }

  test("LlmConfig: every reference provider routes to its wire + endpoint") {
    import graft.lifecycle.{AnthropicLlmClient, GeminiLlmClient, LlmConfig}
    def mk(provider: String, baseUrl: Option[String] = None) =
      LlmConfig.mkDefaultClient(
        LlmConfig.Binding("m", baseUrl = baseUrl, provider = Some(provider)),
        base = "http://default/v1", key = "k")
    // distinct wire shapes get their own adapters
    assert(mk("anthropic").isInstanceOf[AnthropicLlmClient])
    assert(mk("gemini").isInstanceOf[GeminiLlmClient])
    assert(mk("google").isInstanceOf[GeminiLlmClient])
    // the rest of the reference's models/ roster is OpenAI-compatible:
    // the provider name resolves its PUBLIC default endpoint
    val expect = Map(
      "deepseek" -> "https://api.deepseek.com",
      "groq" -> "https://api.groq.com/openai/v1",
      "mistral" -> "https://api.mistral.ai/v1",
      "openrouter" -> "https://openrouter.ai/api/v1",
      "gemini-openai" ->
        "https://generativelanguage.googleapis.com/v1beta/openai",
      "ollama" -> "http://localhost:11434/v1",
      "vllm" -> "http://localhost:8000/v1",
      "local" -> "http://localhost:8000/v1")
    expect.foreach { case (p, url) =>
      mk(p) match {
        case c: HttpLlmClient => assert(c.baseUrl == url, p)
        case other => fail(s"$p routed to ${other.getClass}")
      }
    }
    // an explicit base_url beats the provider default; an unknown provider
    // inherits the session default base
    assert(mk("groq", Some("http://my-gw/v1"))
      .asInstanceOf[HttpLlmClient].baseUrl == "http://my-gw/v1")
    assert(mk("something-else")
      .asInstanceOf[HttpLlmClient].baseUrl == "http://default/v1")
  }

  test("Gemini adapter: generateContent wire shape and SSE finish-chunk delta") {
    import graft.lifecycle.GeminiLlmClient
    var seenBody = ""
    var seenKey = ""
    var seenPath = ""
    val response =
      """{"candidates":[{"content":{"parts":[{"text":"plan: \"ok\""}],
        |"role":"model"},"finishReason":"STOP"}]}""".stripMargin
    withServer(Map("/v1beta/models/g-test:generateContent" -> (ex => {
      seenPath = ex.getRequestURI.getPath
      seenKey = ex.getRequestHeaders.getFirst("x-goog-api-key")
      seenBody = scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
      (200, response)
    }))) { base =>
      val client = new GeminiLlmClient(base, "g-key", "g-test")
      assert(client.complete("planner", "plan it") == "plan: \"ok\"")
      assert(seenPath.endsWith("models/g-test:generateContent"))
      assert(seenKey == "g-key")
      assert(seenBody.contains("\"system_instruction\""))
      assert(seenBody.contains("\"contents\""))
      assert(seenBody.contains("\"maxOutputTokens\""))
      assert(seenBody.contains("plan it"))
    }
    // streaming: the FINAL chunk carries finishReason AND a trailing text
    // delta in the same payload — it must be appended, then stop
    val sse = Seq(
      """data: {"candidates":[{"content":{"parts":[{"text":"Hel"}],"role":"model"}}]}""",
      """data: {"candidates":[{"content":{"parts":[{"text":"lo "}],"role":"model"}}]}""",
      """data: {"candidates":[{"content":{"parts":[{"text":"world"}],"role":"model"},"finishReason":"STOP"}]}""")
      .mkString("\n")
    withServer(Map("/v1beta/models/g-test:streamGenerateContent" -> (_ => (200, sse)))) { base =>
      val client = new GeminiLlmClient(base, "g-key", "g-test")
      val deltas = scala.collection.mutable.Buffer.empty[String]
      val r = client.completeStreaming("s", "p", deltas += _)
      assert(r.text == "Hello world" && r.chunks == 3)
      assert(deltas.toSeq == Seq("Hel", "lo ", "world"))
    }
    // mid-stream error object (no text part) throws
    val errSse = Seq(
      """data: {"candidates":[{"content":{"parts":[{"text":"Hel"}],"role":"model"}}]}""",
      """data: {"error":{"code":503,"message":"backend unavailable"}}""")
      .mkString("\n")
    withServer(Map("/v1beta/models/g-test:streamGenerateContent" -> (_ => (200, errSse)))) { base =>
      val client = new GeminiLlmClient(base, "g-key", "g-test")
      val e = intercept[RuntimeException](client.completeStreaming("s", "p"))
      assert(e.getMessage.contains("backend unavailable"))
    }
    // EOF with no finishReason and no error event = truncated stream
    val cutSse =
      """data: {"candidates":[{"content":{"parts":[{"text":"Hel"}],"role":"model"}}]}"""
    withServer(Map("/v1beta/models/g-test:streamGenerateContent" -> (_ => (200, cutSse)))) { base =>
      val client = new GeminiLlmClient(base, "g-key", "g-test")
      val e = intercept[RuntimeException](client.completeStreaming("s", "p"))
      assert(e.getMessage.contains("without stop sentinel"))
    }
  }

  test("Gemini adapter: multi-part completions concatenate, never truncate") {
    import graft.lifecycle.GeminiLlmClient
    // long outputs span SEVERAL parts entries in one candidate — taking
    // only the first silently truncates
    val response =
      """{"candidates":[{"content":{"parts":[{"text":"part one, "},
        |{"text":"part two"}],"role":"model"},"finishReason":"STOP"}]}""".stripMargin
    withServer(Map("/v1beta/models/g-test:generateContent" -> (_ => (200, response)))) { base =>
      val client = new GeminiLlmClient(base, "g-key", "g-test")
      assert(client.complete("s", "p") == "part one, part two")
    }
    // a streaming chunk carrying two parts keeps both
    val sse = Seq(
      """data: {"candidates":[{"content":{"parts":[{"text":"a"},{"text":"b"}],"role":"model"}}]}""",
      """data: {"candidates":[{"content":{"parts":[{"text":"c"}],"role":"model"},"finishReason":"STOP"}]}""")
      .mkString("\n")
    withServer(Map("/v1beta/models/g-test:streamGenerateContent" -> (_ => (200, sse)))) { base =>
      val client = new GeminiLlmClient(base, "g-key", "g-test")
      assert(client.completeStreaming("s", "p").text == "abc")
    }
  }

  test("LLM adapter: \"error\":null on healthy chunks is not a failure") {
    // some OpenAI-compatible gateways stamp "error":null on EVERY chunk;
    // a key-presence check alone would abort healthy streams
    val sse = Seq(
      """data: {"error":null,"choices":[{"delta":{"content":"Hel"}}]}""",
      """data: {"error": null,"choices":[{"delta":{"content":"lo"}}]}""",
      """data: {"error":null,"choices":[{"delta":{"role":"assistant"}}]}""",
      """data: [DONE]""").mkString("\n")
    withServer(Map("/v1/chat/completions" -> (_ => (200, sse)))) { base =>
      val client = new HttpLlmClient(s"$base/v1", "sk-test", "m")
      assert(client.completeStreaming("s", "p").text == "Hello")
    }
    // while a REAL error value still throws
    val bad = Seq(
      """data: {"error":{"message":"boom"}}""",
      """data: [DONE]""").mkString("\n")
    withServer(Map("/v1/chat/completions" -> (_ => (200, bad)))) { base =>
      val client = new HttpLlmClient(s"$base/v1", "sk-test", "m")
      val e = intercept[RuntimeException](client.completeStreaming("s", "p"))
      assert(e.getMessage.contains("boom"))
    }
  }

  test("Anthropic adapter: multi-block responses concatenate all text blocks") {
    import graft.lifecycle.AnthropicLlmClient
    // responses can interleave several text blocks (citations, around
    // tool/thinking blocks) — first-block-only would silently truncate
    val response =
      """{"id":"msg-2","type":"message","role":"assistant",
        |"content":[{"type":"text","text":"first "},
        |{"type":"tool_use","id":"t1","name":"calc","input":{}},
        |{"type":"text","text":"second"}],
        |"stop_reason":"end_turn"}""".stripMargin
    withServer(Map("/v1/messages" -> (_ => (200, response)))) { base =>
      val client = new AnthropicLlmClient(base, "sk-ant-test", "m")
      assert(client.complete("s", "p") == "first second")
    }
  }

  test("Gemini adapter: a blocked stream (finishReason != STOP) throws") {
    import graft.lifecycle.GeminiLlmClient
    // SAFETY/RECITATION/MAX_TOKENS mean blocked or cut — returning the
    // partial text as success would be silent truncation; the blocked
    // chunk's trailing text must not leak into the error-path text either
    for (reason <- Seq("SAFETY", "RECITATION", "MAX_TOKENS")) {
      val sse = Seq(
        """data: {"candidates":[{"content":{"parts":[{"text":"Hel"}],"role":"model"}}]}""",
        s"""data: {"candidates":[{"content":{"parts":[{"text":"lo"}],"role":"model"},"finishReason":"$reason"}]}""")
        .mkString("\n")
      withServer(Map("/v1beta/models/g-test:streamGenerateContent" ->
          (_ => (200, sse)))) { base =>
        val client = new GeminiLlmClient(base, "g-key", "g-test")
        val e = intercept[RuntimeException](client.completeStreaming("s", "p"))
        assert(e.getMessage.contains(reason), s"$reason: ${e.getMessage}")
        assert(e.getMessage.contains("3 chars")) // only pre-block text counted
      }
    }
  }

  test("LlmConfig: gemini provider binding dispatches to generateContent") {
    import graft.lifecycle.LlmConfig
    var path = ""
    val response =
      """{"candidates":[{"content":{"parts":[{"text":"ok"}]},"finishReason":"STOP"}]}"""
    withServer(Map("/v1beta/" -> (ex => {
      path = ex.getRequestURI.getPath
      (200, response)
    }))) { base =>
      val cfg = s"""{"agent_configs": [
                   |  {"agent": "planner", "details": {"model": "g-pro",
                   |   "provider": "gemini", "base_url": "$base"}}
                   |]}""".stripMargin
      val d = LlmConfig.fromEnv(Map(
        "GRAFT_LLM_API_KEY" -> "k",
        "GRAFT_LLM_BASE_URL" -> "http://127.0.0.1:1/v1",
        "GRAFT_LLM_CONFIG" -> cfg).get).get
      assert(d.boundStages == Set("planner"))
      assert(d.complete("planner", "p") == "ok")
      assert(path == "/v1beta/models/g-pro:generateContent")
    }
  }

  test("fromEnv: inert without a key, configured with one") {
    assert(HttpLlm.fromEnv(_ => None).isEmpty)
    val c = HttpLlm.fromEnv(Map(
      "GRAFT_LLM_API_KEY" -> "k",
      "GRAFT_LLM_BASE_URL" -> "http://localhost:1/v1").get)
    assert(c.nonEmpty)
  }

  test("LlmConfig.fromEnv: stage bindings resolve against the live adapter") {
    import graft.lifecycle.LlmConfig
    assert(LlmConfig.fromEnv(_ => None).isEmpty)
    val cfg = """{"agent_configs": [
                |  {"agent": "planner", "details": {"model": "m-plan"}}
                |]}""".stripMargin
    val d = LlmConfig.fromEnv(Map(
      "GRAFT_LLM_API_KEY" -> "k",
      "GRAFT_LLM_BASE_URL" -> "http://127.0.0.1:1/v1",
      "GRAFT_LLM_CONFIG" -> cfg).get).get
    assert(d.boundStages == Set("planner"))
    // the bound client is a real HttpLlmClient aimed at the (dead) base
    // url — the connection refusal proves dispatch reached the HTTP layer
    intercept[Exception] { d.complete("planner", "p") }
  }
}
