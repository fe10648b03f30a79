package graft.lifecycle

import java.net.HttpURLConnection

import com.fasterxml.jackson.databind.JsonNode

/** Anthropic Messages API adapter behind [[Agents.LlmClient]] — the second
  * provider wire the engine speaks natively (the reference ships one module
  * per provider, bambooai/models/__init__.py:30 + anthropic_models.py; here
  * the zoo is two PUBLIC wire shapes: OpenAI-compatible chat completions
  * in [[HttpLlmClient]], and this one). Everything below follows the
  * published API contract only:
  *
  *  - POST `{base}/v1/messages` with `x-api-key` and `anthropic-version`
  *    headers; body carries model, max_tokens (required), a `system`
  *    string, and `messages: [{role, content}]`;
  *  - non-streaming responses carry content BLOCKS
  *    (`"content":[{"type":"text","text":...}]`) — the completion is ALL
  *    text blocks concatenated (responses can interleave several, e.g.
  *    around citations or tool/thinking blocks);
  *  - streaming (`"stream":true`) is SSE: `content_block_delta` events
  *    carry `{"delta":{"type":"text_delta","text":...}}` chunks and a
  *    `message_stop` event terminates the stream.
  *
  * Selected per stage via [[LlmConfig]] bindings (`"provider":
  * "anthropic"`); env keys are shared with [[HttpLlm.fromEnv]]. JDK-only
  * HTTP, no added dependencies; HttpAdaptersSpec drives both the
  * non-streaming and SSE paths against a local wire-shape stub.
  */
final class AnthropicLlmClient(baseUrl: String, apiKey: String, model: String,
    maxTokens: Int = 4096, timeoutMs: Int = 60000) extends Agents.LlmClient {

  private def open(stage: String, prompt: String,
      stream: Boolean): HttpURLConnection = {
    val body =
      s"""{"model":${Json.str(model)},"max_tokens":$maxTokens,${if (stream) "\"stream\":true," else ""}
         |"system":${Json.str(HttpLlm.stagePrompt(stage))},
         |"messages":[{"role":"user","content":${Json.str(prompt)}}]}""".stripMargin
    HttpLlm.postJson(s"$baseUrl/v1/messages",
      Seq("x-api-key" -> apiKey, "anthropic-version" -> "2023-06-01"),
      body, timeoutMs)
  }

  override def complete(stage: String, prompt: String): String = {
    val conn = open(stage, prompt, stream = false)
    try {
      val text = HttpLlm.readBody(conn)
      // ALL text blocks, concatenated — a first-block-only read silently
      // truncates multi-block responses (the same reason the Gemini
      // adapter concatenates parts)
      val blocks = AnthropicLlmClient.textBlocks(Json.fields(text))
      if (blocks.isEmpty)
        throw new RuntimeException(
          s"no text content block in response: ${graft.plans.Lifecycle.condense(text)}")
      blocks.mkString
    } finally conn.disconnect()
  }

  /** Streaming completion over the Messages SSE event shape; same
    * [[HttpLlm.StreamResult]] telemetry as the chat-completions adapter. */
  def completeStreaming(stage: String, prompt: String,
      onDelta: String => Unit = _ => ()): HttpLlm.StreamResult = {
    val t0 = System.nanoTime()
    val conn = open(stage, prompt, stream = true)
    // the Messages contract documents mid-stream `{"type":"error",...}`
    // events after the 200 is committed (e.g. overloaded_error) — those
    // must throw, not surface a truncated completion as success
    def typed(p: JsonNode, t: String) = Json.text(p, "type").contains(t)
    try HttpLlm.ssePump(conn, t0,
      isStop = (_, p) => typed(p, "message_stop"),
      failOn = p =>
        if (typed(p, "error"))
          Some(Json.text(p.path("error"), "message")
            .getOrElse(graft.plans.Lifecycle.condense(Json.write(p))))
        else None,
      extractDelta = p =>
        if (typed(p, "content_block_delta")) Json.text(p.path("delta"), "text")
        else None,
      onDelta = onDelta)
    finally conn.disconnect()
  }
}

object AnthropicLlmClient {

  /** Every `content[i].text` of a Messages reply, in block order; blocks
    * without text (tool use, thinking) are skipped. */
  private[graft] def textBlocks(reply: JsonNode): Seq[String] =
    Json.elements(reply.path("content")).flatMap(Json.text(_, "text"))
}
