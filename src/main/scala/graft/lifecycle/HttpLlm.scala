package graft.lifecycle

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.JsonNode

/** Live LLM provider adapter: an OpenAI-compatible chat-completions client
  * behind [[Agents.LlmClient]] — the reference's provider dispatch surface
  * (bambooai/models/__init__.py:121-164; request/response shape
  * models/openai_models.py:126-152). JDK-only HTTP (no added deps),
  * non-streaming, env-keyed:
  *
  *   GRAFT_LLM_API_KEY   bearer key (adapter is inert without it)
  *   GRAFT_LLM_BASE_URL  default https://api.openai.com/v1
  *   GRAFT_LLM_MODEL     default gpt-4o-mini
  *
  * The `stage` name rides along as the system message so one client serves
  * every agent stage, mirroring how the reference binds a prompt template
  * per stage (default_prompts.yaml). AgentsSpec stays fixture-driven via
  * [[Agents.ScriptedLlm]]; HttpLlmSpec exercises this adapter against a
  * local wire-shape stub, so tests never need egress.
  */
final class HttpLlmClient(private[graft] val baseUrl: String,
    apiKey: String, model: String,
    timeoutMs: Int = 60000) extends Agents.LlmClient {

  private def open(stage: String, prompt: String,
      stream: Boolean): HttpURLConnection = {
    val body =
      s"""{"model":${Json.str(model)},${if (stream) "\"stream\":true," else ""}"messages":[
         |{"role":"system","content":${Json.str(HttpLlm.stagePrompt(stage))}},
         |{"role":"user","content":${Json.str(prompt)}}]}""".stripMargin
    HttpLlm.postJson(s"$baseUrl/chat/completions",
      Seq("Authorization" -> s"Bearer $apiKey"), body, timeoutMs)
  }

  override def complete(stage: String, prompt: String): String = {
    val conn = open(stage, prompt, stream = false)
    try {
      val text = HttpLlm.readBody(conn)
      HttpLlm.choiceContent(Json.fields(text), "message").getOrElse(
        throw new RuntimeException(
          s"no message content in response: ${graft.plans.Lifecycle.condense(text)}"))
    } finally conn.disconnect()
  }

  /** Streaming completion over the chat-completions SSE wire shape
    * (`"stream":true` → `data: {"choices":[{"delta":{"content":...}}]}`
    * events terminated by `data: [DONE]`) — the reference streams every
    * completion and reports tokens/sec telemetry
    * (bambooai/models/openai_models.py:126-152 delta loop, :241-244 rate).
    * `onDelta` fires per content chunk as it arrives (the UI seam); the
    * returned [[HttpLlm.StreamResult]] carries the assembled text and the
    * measured rate. */
  def completeStreaming(stage: String, prompt: String,
      onDelta: String => Unit = _ => ()): HttpLlm.StreamResult = {
    val t0 = System.nanoTime()
    val conn = open(stage, prompt, stream = true)
    // error events on this wire carry a top-level "error" and no delta
    // content (gateways add other fields around it); a delta whose content
    // TEXT mentions "error" is never a failure. The value must be
    // non-null: some OpenAI-compatible gateways emit "error":null on every
    // healthy chunk
    def delta(p: JsonNode) = HttpLlm.choiceContent(p, "delta")
    try HttpLlm.ssePump(conn, t0,
      isStop = (raw, _) => raw == "[DONE]",
      failOn = p =>
        if (delta(p).isEmpty && Json.child(p, "error").nonEmpty)
          Some(graft.plans.Lifecycle.condense(Json.write(p)))
        else None,
      extractDelta = delta,
      onDelta = onDelta)
    finally conn.disconnect()
  }
}

object HttpLlm {

  /** Assembled streaming completion: full text, delta-event count, wall
    * time, and the chunks/sec rate the reference logs as tokens-per-second
    * (openai_models.py:241-244 — the reference counts completion tokens;
    * without a tokenizer dependency the delta count is the same telemetry
    * at chunk granularity). */
  final case class StreamResult(text: String, chunks: Int,
      elapsedSec: Double, chunksPerSec: Double)

  /** Build the client from the environment; None when no key is present, so
    * callers (Demo) fall back to the scripted fixture client. */
  def fromEnv(env: String => Option[String] = sys.env.get): Option[HttpLlmClient] =
    env("GRAFT_LLM_API_KEY").filter(_.nonEmpty).map { key =>
      new HttpLlmClient(
        env("GRAFT_LLM_BASE_URL").getOrElse("https://api.openai.com/v1"),
        key,
        env("GRAFT_LLM_MODEL").getOrElse("gpt-4o-mini"))
    }

  /** POST a JSON body and return the live connection — the connection
    * setup shared by every provider wire (the adapters differ only in
    * URL, headers, and body shape). */
  private[lifecycle] def postJson(url: String, headers: Seq[(String, String)],
      body: String, timeoutMs: Int): HttpURLConnection = {
    val conn = URI.create(url).toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    conn.setRequestMethod("POST")
    conn.setRequestProperty("Content-Type", "application/json")
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    conn.setDoOutput(true)
    conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    conn
  }

  /** Drain an SSE stream into a [[StreamResult]] — the pump shared by the
    * provider wires, parameterized only by the three things that differ:
    * the stop sentinel, the mid-stream error shape, and delta extraction.
    * Each `data:` payload is parsed once ([[Json.fields]]: a payload that
    * is not a JSON object, such as `[DONE]`, has no fields); `isStop` also
    * sees the raw text.
    * Mid-stream error events arrive AFTER the HTTP 200 is committed (both
    * public wire contracts document them), so `failOn` must throw rather
    * than let the server's close return a silently truncated completion
    * as success. */
  private[lifecycle] def ssePump(conn: HttpURLConnection, t0: Long,
      isStop: (String, JsonNode) => Boolean,
      failOn: JsonNode => Option[String],
      extractDelta: JsonNode => Option[String],
      onDelta: String => Unit): StreamResult = {
    failIfError(conn)
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(conn.getInputStream, StandardCharsets.UTF_8))
    val text = new StringBuilder
    var chunks = 0
    var stopped = false
    var line = reader.readLine()
    while (line != null && !stopped) {
      if (line.startsWith("data:")) {
        val payload = line.stripPrefix("data:").trim
        if (payload.nonEmpty) {
          val node = Json.fields(payload)
          failOn(node) match {
            case Some(msg) => throw new RuntimeException(
              s"LLM stream error after ${text.length} chars: $msg")
            case None =>
              // delta before stop: some wires (Gemini) signal the end
              // INSIDE the final content-bearing chunk (finishReason),
              // so a stop-first order would drop the last delta; the
              // sentinel payloads of the other wires carry no delta
              extractDelta(node).foreach { d =>
                text.append(d); chunks += 1; onDelta(d)
              }
              if (isStop(payload, node)) stopped = true
          }
        }
      }
      if (!stopped) line = reader.readLine()
    }
    // EOF before the stop sentinel is a truncated stream (proxy idle
    // timeout, server crash) — same silent-truncation failure as an
    // unrecognized error event; both wires ALWAYS terminate a healthy
    // stream with their sentinel
    if (!stopped)
      throw new RuntimeException(
        s"LLM stream ended without stop sentinel after ${text.length} chars")
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    StreamResult(text.toString, chunks, elapsedSec,
      if (elapsedSec > 0) chunks / elapsedSec else 0.0)
  }

  /** Shared HTTP-error guard for the provider adapters. */
  private[lifecycle] def failIfError(conn: HttpURLConnection): Unit = {
    val code = conn.getResponseCode
    if (code >= 400) {
      // getErrorStream is null when the error response has no body — guard
      // so the status code is reported rather than masked by an NPE
      val text = Option(conn.getErrorStream)
        .map(scala.io.Source.fromInputStream(_, "UTF-8").mkString)
        .getOrElse("(no response body)")
      throw new RuntimeException(
        s"LLM HTTP $code: ${graft.plans.Lifecycle.condense(text)}")
    }
  }

  /** `choices[0].<key>.content` of a chat-completions payload: `key` is
    * `message` in a reply and `delta` in a stream chunk. */
  private[graft] def choiceContent(payload: JsonNode,
      key: String): Option[String] =
    Json.text(payload.path("choices").path(0).path(key), "content")

  /** The per-stage system prompt shared by every provider wire — one
    * definition so the stage contract cannot drift between adapters. */
  private[lifecycle] def stagePrompt(stage: String): String =
    s"You are the $stage stage of a data-analysis agent. " +
      "Respond with exactly the artifact the stage contract requires."

  /** Read a non-streaming response body (after [[failIfError]]). */
  private[lifecycle] def readBody(conn: HttpURLConnection): String = {
    failIfError(conn)
    scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
  }
}
