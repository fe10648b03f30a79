package graft.lifecycle

/** The `request_user_context` feedback tool (SURVEY §3.1): when a selector
  * agent finds the question ambiguous it can ask the user a clarifying
  * question and block — bounded — on the answer before routing.
  *
  * Reference semantics:
  *  - tool contract: messages/tools_definition.py:155-178
  *    (`query_clarification` + `context_needed` enum);
  *  - wait loop: context_retrieval.py:11-78 — a synchronous channel
  *    (notebook/CLI) answers immediately, and a channel with no answer
  *    falls back to a fixed timeout message. The reference's web mode,
  *    which polls `temp/[user/]feedback_<chain>.json` for up to 300 s, has
  *    no counterpart: no served route writes that file;
  *  - loop shape: models/anthropic_models.py:171-228 — the agent is re-called
  *    with the tool result appended until it stops requesting context.
  *
  * The model signals the tool call in the repo's constrained-YAML artifact
  * (the same convention as [[ReAct]] actions), not raw provider tool-use
  * blocks — the loop semantics are what carries over, not the wire format.
  */
object UserContext {

  /** context_retrieval.py:78 — returned verbatim when no feedback arrives. */
  val TimeoutMessage: String =
    "No user feedback received within timeout period. Proceeding with default assumptions."

  /** tools_definition.py:166-175 enum of context kinds. */
  val ContextKinds: Set[String] = Set("clarify_intent", "missing_details",
    "specific_example", "user_preferences", "other")

  final case class Request(queryClarification: String, contextNeeded: String)

  /** A stage output is a tool call iff it carries
    * `tool: request_user_context` plus the required parameters
    * (tools_definition.py:176 `required`). Unknown `context_needed` values
    * coerce to "other" rather than reject — the enum guards prompts, not
    * the runtime. */
  def parseRequest(text: String): Option[Request] = {
    val m = Agents.parseYamlMap(text)
    if (!m.get("tool").contains("request_user_context")) None
    else m.get("query_clarification").filter(_.nonEmpty).map { q =>
      Request(q, m.get("context_needed").filter(ContextKinds)
        .getOrElse("other"))
    }
  }

  /** Delivery seam (output_manager.request_user_feedback). `None` = no
    * answer available on this channel. */
  trait FeedbackChannel {
    def request(req: Request): Option[String]
  }

  /** Notebook/CLI mode: a synchronous callback supplies the answer
    * (output_manager.py:181). */
  final class DirectChannel(f: Request => Option[String])
      extends FeedbackChannel {
    def request(req: Request): Option[String] = f(req)
  }

  /** One resolved round: channel answer, or the reference's timeout text. */
  def resolve(channel: FeedbackChannel, req: Request): String =
    channel.request(req).getOrElse(TimeoutMessage)

  /** The tool loop (anthropic_models.py:171-228): call the stage; while the
    * output is a `request_user_context` call, resolve feedback and re-call
    * with the tool result appended as a `USER_CONTEXT (<kind>)` line. The
    * reference's loop is unbounded (the model decides when to stop); here a
    * hard cap keeps a misbehaving model from spinning — after it the last
    * response is returned as-is. */
  def completeWithContext(llm: Agents.LlmClient, stage: String,
      prompt: String, channel: Option[FeedbackChannel],
      maxRounds: Int = 3): String = {
    var p = prompt
    var out = llm.complete(stage, p)
    var rounds = 0
    while (rounds < maxRounds) {
      val req = channel.flatMap(c =>
        parseRequest(out).map(r => (c, r)))
      req match {
        case None => return out
        case Some((c, r)) =>
          p += s"\nUSER_CONTEXT (${r.contextNeeded}): ${resolve(c, r)}"
          out = llm.complete(stage, p)
          rounds += 1
      }
    }
    out
  }
}
