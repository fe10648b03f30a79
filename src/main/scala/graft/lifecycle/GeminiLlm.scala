package graft.lifecycle

import java.net.HttpURLConnection

import com.fasterxml.jackson.databind.JsonNode

/** Gemini generateContent adapter behind [[Agents.LlmClient]] — the third
  * provider wire the engine speaks natively (the reference ships
  * bambooai/models/gemini_models.py over the google.genai SDK, converting
  * its OpenAI-shaped messages to role/parts Content objects at
  * gemini_models.py:17-63; here the same conversion targets the public
  * REST contract directly, no SDK). Everything below follows the published
  * API shape only:
  *
  *  - POST `{base}/v1beta/models/{model}:generateContent` with an
  *    `x-goog-api-key` header; body carries `system_instruction` (parts),
  *    `contents: [{role:"user", parts:[{text}]}]`, and `generationConfig
  *    .maxOutputTokens`;
  *  - responses carry `candidates[0].content.parts[*].text`;
  *  - streaming swaps the verb for `:streamGenerateContent?alt=sse`: each
  *    SSE data event is a response chunk whose parts carry a text delta,
  *    and the FINAL chunk signals completion inline via `finishReason`
  *    (no separate stop sentinel — the pump extracts that chunk's delta
  *    before stopping on it).
  *
  * Selected per stage via [[LlmConfig]] bindings (`"provider": "gemini"`
  * or `"google"`). JDK-only HTTP through the shared [[HttpLlm.postJson]] /
  * [[HttpLlm.ssePump]] machinery; HttpAdaptersSpec drives both paths
  * against a local wire-shape stub.
  */
final class GeminiLlmClient(baseUrl: String, apiKey: String, model: String,
    maxTokens: Int = 4096, timeoutMs: Int = 60000) extends Agents.LlmClient {

  private def openFor(stage: String, prompt: String,
      stream: Boolean): HttpURLConnection = {
    val body =
      s"""{"system_instruction":{"parts":[{"text":${Json.str(HttpLlm.stagePrompt(stage))}}]},
         |"contents":[{"role":"user","parts":[{"text":${Json.str(prompt)}}]}],
         |"generationConfig":{"maxOutputTokens":$maxTokens}}""".stripMargin
    val verb =
      if (stream) s"$model:streamGenerateContent?alt=sse"
      else s"$model:generateContent"
    HttpLlm.postJson(s"$baseUrl/v1beta/models/$verb",
      Seq("x-goog-api-key" -> apiKey), body, timeoutMs)
  }

  private def candidate(payload: JsonNode): JsonNode =
    payload.path("candidates").path(0)

  /** All `candidates[0].content.parts[*].text`, concatenated — long
    * completions span SEVERAL `parts` entries (and streaming chunks may
    * carry more than one), so taking only the first would silently
    * truncate. The request leaves candidateCount at its default of 1. */
  private def allText(payload: JsonNode): Option[String] = {
    val parts = Json.elements(candidate(payload).path("content").path("parts"))
      .flatMap(Json.text(_, "text"))
    if (parts.isEmpty) None else Some(parts.mkString)
  }

  override def complete(stage: String, prompt: String): String = {
    val conn = openFor(stage, prompt, stream = false)
    try {
      val text = HttpLlm.readBody(conn)
      allText(Json.fields(text)).getOrElse(
        throw new RuntimeException(
          s"no text part in response: ${graft.plans.Lifecycle.condense(text)}"))
    } finally conn.disconnect()
  }

  /** Streaming completion; same [[HttpLlm.StreamResult]] telemetry as the
    * other wires. */
  def completeStreaming(stage: String, prompt: String,
      onDelta: String => Unit = _ => ()): HttpLlm.StreamResult = {
    val t0 = System.nanoTime()
    val conn = openFor(stage, prompt, stream = true)
    // the final chunk carries finishReason inline (and often trailing
    // text); error events carry an "error" object and no text part. Only
    // finishReason=STOP is a healthy end: SAFETY / RECITATION /
    // MAX_TOKENS mean the stream was BLOCKED or cut — surfacing the
    // partial text as success would be silent truncation, so those fail
    // like a mid-stream error (failOn runs before the delta extract, so
    // a blocked chunk's trailing text is never appended)
    def reason(p: JsonNode) = Json.text(candidate(p), "finishReason")
    try HttpLlm.ssePump(conn, t0,
      isStop = (_, p) => reason(p).contains("STOP"),
      failOn = p =>
        if (allText(p).isEmpty && Json.child(p, "error").nonEmpty)
          Some(Json.text(p.path("error"), "message")
            .getOrElse(graft.plans.Lifecycle.condense(Json.write(p))))
        else reason(p).filter(_ != "STOP")
          .map(r => s"stream blocked: finishReason=$r"),
      extractDelta = allText,
      onDelta = onDelta)
    finally conn.disconnect()
  }
}
