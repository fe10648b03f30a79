package graft.lifecycle

/** Per-stage model dispatch — the reference binds each agent stage to its
  * own model/provider via the LLM_CONFIG JSON (`agent_configs`: [{"agent":
  * ..., "details": {"model": ..., "provider": ...}}], LLM_CONFIG_sample.json;
  * resolved per call by models.init(agent) → provider dispatch,
  * bambooai/models/__init__.py:121-164). Here the provider zoo collapses to
  * three PUBLIC wire shapes — the OpenAI-compatible [[HttpLlmClient]]
  * (which reaches most gateways), the Anthropic Messages
  * [[AnthropicLlmClient]], and the Gemini generateContent
  * [[GeminiLlmClient]] — so a binding is (model, provider, base-url,
  * api-key) and dispatch is a stage→client map in front of a default
  * client.
  */
object LlmConfig {

  /** One stage binding. Unset fields inherit the default client's values;
    * `provider` selects the wire shape ("anthropic" → the Messages API,
    * "gemini"/"google" → generateContent, anything else →
    * OpenAI-compatible chat completions, mirroring the reference's
    * per-provider `details.provider` key). */
  final case class Binding(model: String, baseUrl: Option[String] = None,
      apiKey: Option[String] = None, provider: Option[String] = None)

  /** Stage-routing client: stages with a binding go to their own client,
    * everything else to the default — so partial configs behave like the
    * reference, where unconfigured agents fall back to built-in defaults
    * (models/__init__.py:34-60). */
  final class Dispatch(default: Agents.LlmClient,
      bound: Map[String, Agents.LlmClient]) extends Agents.LlmClient {
    def complete(stage: String, prompt: String): String =
      bound.getOrElse(stage, default).complete(stage, prompt)
    def boundStages: Set[String] = bound.keySet
  }

  /** Parse the `agent_configs` JSON shape into stage → Binding. Unknown
    * fields are ignored, as the reference ignores fields it doesn't read;
    * an entry naming an agent but no model is skipped (the reference falls
    * back to that provider's default model, models/__init__.py:34-60);
    * malformed JSON is rejected loudly. */
  def parse(json: String): Map[String, Binding] =
    Json.elements(Json.parse(json).path("agent_configs")).flatMap { entry =>
      val details = entry.path("details")
      for {
        agent <- Json.text(entry, "agent")
        model <- Json.text(details, "model")
      } yield agent -> Binding(model,
        baseUrl = Json.text(details, "base_url"),
        apiKey = Json.text(details, "api_key"),
        provider = Json.text(details, "provider"))
    }.toMap

  /** Assemble a dispatching client from a parsed config. `mkClient` is the
    * seam tests script; production passes a HttpLlmClient factory. */
  def dispatch(default: Agents.LlmClient, bindings: Map[String, Binding],
      mkClient: Binding => Agents.LlmClient): Dispatch =
    new Dispatch(default, bindings.map { case (stage, b) => stage -> mkClient(b) })

  /** Public default base URL per OpenAI-COMPATIBLE provider name — the
    * reference's full provider-module roster beyond the three distinct
    * wire shapes (models/: deepseek_models.py:19, openrouter_models.py:18,
    * vllm_models.py:17, gemini_models_openai.py:18, ollama_models.py:9;
    * groq/mistral ship the same chat-completions contract on their
    * published endpoints). All of these speak the one chat-completions
    * wire [[HttpLlmClient]] implements — the provider name picks the
    * endpoint, not a new adapter. */
  private[graft] val OpenAiCompatibleBases: Map[String, String] = Map(
    "openai" -> "https://api.openai.com/v1",
    "deepseek" -> "https://api.deepseek.com",
    "groq" -> "https://api.groq.com/openai/v1",
    "mistral" -> "https://api.mistral.ai/v1",
    "openrouter" -> "https://openrouter.ai/api/v1",
    "gemini-openai" -> "https://generativelanguage.googleapis.com/v1beta/openai",
    "ollama" -> "http://localhost:11434/v1",
    "vllm" -> "http://localhost:8000/v1",
    "local" -> "http://localhost:8000/v1")

  /** Environment wiring: GRAFT_LLM_CONFIG holds the agent_configs JSON;
    * per-stage clients inherit the default's base-url/key unless the
    * binding overrides them. Provider routing covers the reference's
    * whole models/ roster: "anthropic" and "gemini"/"google" get their
    * distinct wire adapters (whose endpoints are not the chat-completions
    * base — the /v1 path component belongs to a different contract), and
    * every other known name resolves its PUBLIC default endpoint from
    * [[OpenAiCompatibleBases]] over the shared chat-completions client.
    * None when no default client can be built (no GRAFT_LLM_API_KEY),
    * same inert contract as [[HttpLlm.fromEnv]]. */
  def fromEnv(env: String => Option[String] = sys.env.get): Option[Dispatch] =
    HttpLlm.fromEnv(env).map { default =>
      val base = env("GRAFT_LLM_BASE_URL").getOrElse("https://api.openai.com/v1")
      val key = env("GRAFT_LLM_API_KEY").getOrElse("")
      val bindings = env("GRAFT_LLM_CONFIG").map(parse).getOrElse(Map.empty)
      dispatch(default, bindings, b => mkDefaultClient(b, base, key))
    }

  /** The provider → client routing shared by [[fromEnv]] and tests. */
  private[graft] def mkDefaultClient(b: Binding, base: String,
      key: String): Agents.LlmClient =
    if (b.provider.contains("anthropic"))
      new AnthropicLlmClient(
        b.baseUrl.getOrElse("https://api.anthropic.com"),
        b.apiKey.getOrElse(key), b.model)
    else if (b.provider.exists(p => p == "gemini" || p == "google"))
      new GeminiLlmClient(
        b.baseUrl.getOrElse("https://generativelanguage.googleapis.com"),
        b.apiKey.getOrElse(key), b.model)
    else new HttpLlmClient(
      b.baseUrl.orElse(b.provider.flatMap(OpenAiCompatibleBases.get))
        .getOrElse(base),
      b.apiKey.getOrElse(key), b.model)
}
