package graft.lifecycle

import org.apache.spark.sql.SparkSession
import graft.functions.ScalarExtras

/** Bounded ReAct action loop — the reference's search agent
  * (bambooai/google_search.py): `Action: <name>: <input>` lines parsed with
  * the regex at :41, known-action dispatch at :52-56, and the
  * observe-then-re-prompt loop at :72-93 bounded by MAX_ITERATIONS=5 (:22).
  * Each turn the model sees the full transcript (question, its own prior
  * responses, and every `Observation: ...`); a response with no action line
  * is the final answer and ends the loop (:92-93).
  *
  * The tools are the reference's two known actions re-expressed over this
  * engine: `search` runs the [[Retriever]] chunk→embed→rerank pipeline over
  * a local corpus (google_search.py:290-299 Search.__call__) — the
  * reference's live `google_search` action has no counterpart here, as
  * no served route or config holds a search-provider key — and
  * `calculate` is the validator-gated [[ScalarExtras.calculate]] instead of
  * a bare eval (:370-377). Unknown actions raise, as in the reference
  * (:83-84). Everything model-shaped stays behind [[Agents.LlmClient]], so
  * the loop is deterministic under test with [[Agents.ScriptedLlm]].
  */
object ReAct {

  val MaxTurns = 5

  private val ActionRe = """^Action: (\w+): (.*)$""".r

  /** One executed action: the model response that requested it, the parsed
    * action name/input, and the tool's observation. */
  final case class Step(response: String, action: String, input: String,
      observation: String)

  /** `truncated` = the turn budget ran out while the model was still
    * emitting actions; `answer` is then the last response, as in the
    * reference's fall-through return (:95). */
  final case class Result(answer: String, steps: Seq[Step], truncated: Boolean)

  /** Run the loop. `actions` maps action name → tool (input → observation). */
  def run(llm: Agents.LlmClient, question: String,
      actions: Map[String, String => String],
      maxTurns: Int = MaxTurns,
      stage: String = "search_executor"): Result = {
    val transcript = new StringBuilder(s"Question: $question")
    val steps = Seq.newBuilder[Step]
    var last = ""
    var turn = 0
    while (turn < maxTurns) {
      turn += 1
      val response = llm.complete(stage, transcript.toString)
      last = response
      transcript.append('\n').append(response)
      response.linesIterator.collectFirst {
        case ActionRe(name, input) => (name, input)
      } match {
        case None =>
          return Result(response, steps.result(), truncated = false)
        case Some((name, input)) =>
          val tool = actions.getOrElse(name, throw new NoSuchElementException(
            s"Unknown action: $name: $input"))
          val obs = tool(input)
          steps += Step(response, name, input, obs)
          transcript.append("\nObservation: ").append(obs)
      }
    }
    Result(last, steps.result(), truncated = true)
  }

  /** The reference's known_actions map (google_search.py:52-56) over this
    * engine: local-corpus retrieval QA and the safe calculator. The search
    * input is quote-stripped exactly like _extract_search_query (:286-288).
    * The calculator returns error text as the observation rather than
    * raising, mirroring Calculator.__call__'s except branch (:376-377) —
    * the model gets to read the failure and retry. */
  def searchActions(spark: SparkSession, retriever: Retriever,
      llm: Agents.LlmClient): Map[String, String => String] = Map(
    "search" -> { raw =>
      val q = raw.replaceAll("['\"]", "").trim
      retriever.answer(llm, q)._2
    },
    "calculate" -> { expr =>
      ScalarExtras.calculate(spark, expr) match {
        case Right(v) => v.toString
        case Left(err) => err
      }
    })
}
