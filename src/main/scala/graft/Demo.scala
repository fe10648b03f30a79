package graft

import org.apache.spark.sql.functions.col
import graft.lifecycle.{Agents, EngineSession, Ontology, ReAct, Retriever, SessionStore}
import graft.operators.Profile

/** Runnable end-to-end conversational chain (SURVEY §3.1 in Spark shape):
  * register the corpus → profile → route → plan → validated SQL → bounded
  * repair → summarize → persist the thread. The LLM is the scripted fixture
  * client (deterministic); swap in a live [[Agents.LlmClient]] to deploy.
  * Usage: runMain graft.Demo [sfDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Spark.local(4, 4)

    val es = new EngineSession(spark)
    Tables.all.foreach(n => es.bind(n, Tables.load(spark, sfDir, n)))

    // scripted agent transcript: first SQL is wrong on purpose to show the
    // bounded repair loop (bambooai.py:760-816) doing its job. With
    // GRAFT_LLM_API_KEY set, the live OpenAI-compatible adapter replaces it
    // and the chain runs against the real provider.
    val scripted = new Agents.ScriptedLlm(Map(
      "expert_selector" -> Seq(
        "requires_dataset: true\nexpert: Data Analyst\nconfidence: 9"),
      "analyst_selector" -> Seq(
        "analyst: Data Analyst DF\nintent: orders per month of 1995 with busiest month"),
      "planner" -> Seq(
        "plan:\n- filter year 1995\n- bucket by month\n- count\nsql: |\n" +
          "SELECT month_of(o_orderdate) AS month, count(*) AS n FROM orders GROUP BY 1"),
      "error_corrector" -> Seq(
        "SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n " +
          "FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1 ORDER BY 1"),
      "summarizer" -> Seq(
        "1995 orders are spread across all 12 months; the busiest month tops ~120 orders.")))
    val llm = graft.lifecycle.HttpLlm.fromEnv() match {
      case Some(live) => println("llm      : live (OpenAI-compatible)"); live
      case None => scripted
    }

    val question = "How many orders per month were placed in 1995?"
    val r = Agents.converse(es, llm, question, "orders")

    println(s"question : $question")
    println(s"expert   : ${r.expert.expert} (confidence ${r.expert.confidence})")
    println(s"intent   : ${r.analyst.intent}")
    println(s"plan     : ${r.plan.steps.mkString(" -> ")}")
    println(s"repairs  : ${r.repair.attempts} (errors seen: ${r.repair.errors.size})")
    // the rows the chain collected for its summary: the result runs once
    r.repair.df.zip(r.rows).foreach { case (df, rows) =>
      println("result   :")
      println(Profile.renderTable(df.columns.toSeq, rows.take(12)))
    }
    println(s"summary  : ${r.summary.getOrElse("<none>")}")

    val store = new SessionStore(java.nio.file.Paths.get("target/demo_sessions"))
    store.append("demo", "user", question)
    r.summary.foreach(s => store.append("demo", "assistant", s))
    println(s"persisted: ${store.save("demo")}")

    // --- ReAct search agent (round 4): bounded action loop over the local
    // documents corpus + the validator-gated calculator ---
    val corpus = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(50)
    val retriever = new Retriever(spark)
    retriever.indexCorpus(corpus)
    val reactLlm = new Agents.ScriptedLlm(Map(
      "search_executor" -> Seq(
        "Thought: look at the corpus first.\nAction: search: what do the documents describe",
        "Thought: quantify it.\nAction: calculate: 52 * 7",
        "Answer: the corpus summary plus 364 as the computed figure"),
      "search_summarizer" -> Seq(
        "The documents are synthetic prose about orders, parts, and regions.")))
    val ra = ReAct.run(reactLlm, "Summarize the corpus and compute 52*7",
      ReAct.searchActions(spark, retriever, reactLlm))
    println(s"react    : ${ra.steps.map(s => s"${s.action}(${s.input})").mkString(" -> ")}")
    ra.steps.foreach(s => println(s"  obs    : ${s.observation.take(70)}"))
    println(s"react ans: ${ra.answer}")

    // --- OWL/TTL ontology front-end (round 4): raw Turtle distilled
    // through the inspector stage into the catalog + mermaid ---
    val ttl =
      """@prefix ex: <http://example.org/shop#> .
        |ex:Order a owl:Class ; rdfs:label "Customer order" .
        |ex:LineItem a owl:Class ; rdfs:label "Order line" .
        |ex:hasLine a owl:ObjectProperty ;
        |  rdfs:domain ex:Order ; rdfs:range ex:LineItem .
        |""".stripMargin
    val distiller = new Agents.ScriptedLlm(Map("dataframe_inspector" -> Seq(
      "```yaml\ncontainers:\n  - name: orders\n    columns: [o_orderkey, o_orderdate]\n" +
        "  - name: lineitem\n    columns: [l_orderkey, l_quantity]\n" +
        "links:\n  - from: lineitem\n    to: orders\n    on: l_orderkey=o_orderkey\n```")))
    Ontology.distillTtl(distiller, ttl, Profile.summaryString(
      es.current("orders").get.limit(100)), "orders per month") match {
      case Right(model) =>
        println(s"ontology : ${model.nodes.map(_.name).mkString(", ")} " +
          s"(${model.edges.size} link)")
        println(Ontology.toMermaid(model).linesIterator.take(3).mkString("\n"))
      case Left(e) => println(s"ontology : rejected — $e")
    }

    // --- curation pipeline (round 6): clusters -> retention -> funnel ---
    // one pass over the cluster frame for both counts; the funnel is its
    // own oracle-gated query and recomputes its pipeline by design
    val clusterStats = graft.operators.DedupOps.dupClusters(spark, sfDir)
      .agg(org.apache.spark.sql.functions.count(col("doc_id")),
        org.apache.spark.sql.functions.countDistinct(col("component")))
      .head()
    val funnel = graft.operators.DedupOps.curationFunnel(spark, sfDir)
    println(s"curation : ${clusterStats.getLong(0)} docs in " +
      s"${clusterStats.getLong(1)} clusters -> " +
      s"${funnel.count()} survive retention+quality+mixture (c1)")
    val decon = graft.operators.TextOps.decontamination(spark, sfDir)
    println(s"decontam : ${decon.filter(col("contaminated") &&
      !col("is_benchmark")).count()} non-benchmark docs overlap the eval slice (t7)")
    spark.stop()
  }
}
