package graft.lifecycle

import org.apache.spark.sql.Row
import graft.operators.{Profile, RankDedup}

/** Agent-pipeline adapters (SURVEY §3.1, §7.2 step 6): the reference's
  * multi-stage conversational flow re-expressed with a constrained artifact —
  * the model emits YAML routing decisions and Spark SQL, never code.
  *
  * Stage map (reference: bambooai/bambooai.py:335-489):
  *   Expert Selector → Analyst Selector → [Inspector] → [Planner] →
  *   SQL Generator → execute ⇄ repair → Summarizer.
  *
  * All model traffic goes through [[LlmClient]]; [[ScriptedLlm]] replays
  * recorded fixtures so the whole lifecycle is deterministic under test
  * (SURVEY §7.5 non-determinism quarantine).
  */
object Agents {

  /** One LLM call: stage name + prompt → completion text. The reference's
    * provider dispatch (models/__init__.py:121-164) sits behind this. */
  trait LlmClient {
    def complete(stage: String, prompt: String): String
  }

  /** Deterministic fixture-backed client for tests/e2e. */
  final class ScriptedLlm(script: Map[String, Seq[String]]) extends LlmClient {
    private val cursors = scala.collection.mutable.Map.empty[String, Int]
    def complete(stage: String, prompt: String): String = {
      val outs = script.getOrElse(stage,
        throw new NoSuchElementException(s"no fixture for stage $stage"))
      val i = cursors.getOrElse(stage, 0)
      cursors(stage) = math.min(i + 1, outs.length - 1)
      outs(math.min(i, outs.length - 1))
    }
  }

  /** Routing decision of the Expert Selector (YAML
    * {requires_dataset, expert, confidence}; reg_ex._extract_expert:151-172). */
  final case class ExpertChoice(requiresDataset: Boolean, expert: String,
      confidence: Int)

  /** Analyst Selector output (reg_ex._extract_analyst:174-197). */
  final case class AnalystChoice(analyst: String, intent: String)

  /** Plan IR: the YAML plan header + the SQL body. */
  final case class Plan(steps: Seq[String], sql: String)

  /** Minimal single-document YAML mapping parser for the fixed agent
    * contracts (flat `key: value` plus one `steps:` list). The reference
    * round-trips the same shapes through yaml.safe_load with regex fallback
    * (reg_ex.py:151-231, utils.py:713-720). */
  def parseYamlMap(text: String): Map[String, String] = {
    text.linesIterator
      .map(_.replaceAll("#.*$", ""))
      .filter(_.contains(":"))
      .map { l =>
        val Array(k, v @ _*) = l.split(":", 2): @unchecked
        k.trim -> v.mkString(":").trim.stripPrefix("'").stripSuffix("'")
          .stripPrefix("\"").stripSuffix("\"")
      }.toMap
  }

  def parseExpert(text: String): ExpertChoice = {
    val m = parseYamlMap(text)
    ExpertChoice(m.getOrElse("requires_dataset", "false").toBoolean,
      m.getOrElse("expert", "Data Analyst"),
      m.getOrElse("confidence", "0").toInt)
  }

  def parseAnalyst(text: String): AnalystChoice = {
    val m = parseYamlMap(text)
    AnalystChoice(m.getOrElse("analyst", "Data Analyst DF"),
      m.getOrElse("intent", ""))
  }

  def parsePlan(text: String): Plan = {
    val lines = text.linesIterator.toSeq
    val steps = lines.filter(_.trim.startsWith("- ")).map(_.trim.drop(2))
    val sqlStart = lines.indexWhere(_.trim.toLowerCase.startsWith("sql:"))
    val sql =
      if (sqlStart < 0) ""
      else {
        val inline = lines(sqlStart).split(":", 2)(1).trim
        if (inline.nonEmpty && inline != "|") inline
        else lines.drop(sqlStart + 1).mkString("\n")
      }
    Plan(steps, sql)
  }

  /** Rows of a chain's result that reach anyone: the client's `result`
    * event carries up to this many, and the summarizer reads the first
    * [[SummaryRows]] of them. */
  val ResultRows = 100
  val SummaryRows = 10

  /** `rows` holds the result's first ≤ [[ResultRows]] rows, collected once;
    * it is empty exactly when `repair.df` is (no answer, or the research
    * path). */
  final case class ChainResult(expert: ExpertChoice, analyst: AnalystChoice,
      plan: Plan, repair: RepairResult, summary: Option[String],
      fromMemory: Boolean = false, rows: Option[Seq[Row]] = None)

  /** Full chain: profile context → route → episodic-memory probe → plan →
    * validated SQL with bounded repair → summarize → learn. Prompts carry
    * the same context the reference assembles (profile string I1;
    * bambooai.py:550-565 `_process_question`). A memory hit at sim ≥ 0.80
    * skips the Planner (bambooai.py:265-291,380-386); a result ranked ≥ 6
    * is stored back through the rank-dedup gate (:638-684).
    *
    * The validated result runs once (the reference summarizes the output of
    * its one execution, bambooai.py:885-908): one collect of ≤
    * [[ResultRows]] rows, carried on the result as `rows`. The summarizer
    * prompt renders the first [[SummaryRows]] of them, and a caller that
    * shows the result reads the same rows, so the summary describes exactly
    * what the client receives.
    *
    * Research routing (bambooai.py:456-473): when the Expert Selector picks
    * the Research Specialist — or the question does not require the
    * dataset — the chain hands the question to the theorist/search path
    * instead of the SQL planner; here that path is the bounded [[ReAct]]
    * loop over `research` actions (search + calculate). With no actions
    * provided the chain falls through to the analyst path, mirroring the
    * reference's search-disabled degradation (bambooai.py:64-75).
    *
    * User-context feedback (bambooai.py:251, tools_definition.py:155-178):
    * when `feedback` is provided, the Analyst Selector runs inside the
    * [[UserContext.completeWithContext]] tool loop — it may emit a
    * `request_user_context` call, block (bounded) on the channel's answer,
    * and re-route with the clarification appended. `feedback = None` is the
    * reference's `feedback_enabled=False` filter: the tool never surfaces. */
  def converse(es: EngineSession, llm: LlmClient, question: String,
      table: String, memory: Option[EpisodicMemory] = None,
      storeRank: Long = 0,
      research: Map[String, String => String] = Map.empty,
      feedback: Option[UserContext.FeedbackChannel] = None,
      planning: Boolean = false): ChainResult = {
    val profile = es.profile(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table $table"))

    val expert = parseExpert(llm.complete("expert_selector",
      s"QUESTION: $question"))
    if (research.nonEmpty &&
        (!expert.requiresDataset || expert.expert == "Research Specialist")) {
      val r = ReAct.run(llm, question, research, stage = "theorist")
      return ChainResult(expert, AnalystChoice(expert.expert, question),
        Plan(Nil, ""), RepairResult(None, 0, Nil), Some(r.answer))
    }
    val analyst = parseAnalyst(UserContext.completeWithContext(
      llm, "analyst_selector", s"QUESTION: $question\nDATA:\n$profile",
      feedback))

    val recalled = memory.flatMap(_.retrieve(analyst.intent, profile))
    val plan = recalled match {
      case Some(m) => Plan(
        m.record.plan.linesIterator.filter(_.trim.startsWith("- "))
          .map(_.trim.drop(2)).toSeq, m.record.sql)
      case None =>
        // planner prompt assembled by the template layer (the reference's
        // no-plan code-gen shape: question as Context, profile as the
        // DataFrame preview, intent as the Task — template_formatting.py)
        val promptGen = new PromptTemplates.CodeGenPromptGenerator(
          PromptTemplates.SparkDefaults)
        parsePlan(llm.complete("planner", promptGen.generatePrompt(
          PromptTemplates.Params(analyst = analyst.analyst, planning = planning,
            model = "default", planOrContext = question,
            dataframeHead = profile, task = analyst.intent))))
    }

    val repair = es.executeWithRepair(plan.sql, (bad, err) =>
      Some(llm.complete("error_corrector", s"SQL: $bad\nERROR: $err")))
    val rows = repair.df.map(_.limit(ResultRows).collect().toSeq)
    val summary = repair.df.zip(rows).map { case (d, rs) =>
      val rendered = Profile.renderTable(d.columns.toSeq, rs.take(SummaryRows))
      llm.complete("summarizer", s"QUESTION: $question\nRESULT:\n$rendered")
    }
    if (repair.df.nonEmpty && storeRank >= RankDedup.MinRank)
      memory.foreach(_.add(EpisodicMemory.Record(
        id = java.util.UUID.nameUUIDFromBytes(
          analyst.intent.getBytes("UTF-8")).toString,
        intent = analyst.intent, dataDescr = profile,
        plan = plan.steps.map("- " + _).mkString("\n"), sql = plan.sql,
        rank = storeRank)))
    ChainResult(expert, analyst, plan, repair, summary, recalled.nonEmpty, rows)
  }

  /** I7: mermaid rendering of a data model (utils.py:400-730 shape):
    * containers → keys/measurements, plus merge links. */
  final case class ModelNode(name: String, columns: Seq[String])
  final case class ModelEdge(from: String, to: String, on: String)

  def mermaid(nodes: Seq[ModelNode], edges: Seq[ModelEdge]): String = {
    val ns = nodes.map { n =>
      val cols = n.columns.map(c => s"    $c").mkString("\n")
      s"  ${n.name}[\"${n.name}\"]\n" +
        (if (n.columns.nonEmpty) s"  %% columns of ${n.name}:\n$cols\n" else "")
    }.mkString
    val esq = edges.map(e => s"  ${e.from} -->|${e.on}| ${e.to}").mkString("\n")
    s"graph TD\n$ns$esq"
  }
}
