package graft

import org.apache.spark.sql.functions._
import graft.lifecycle.{Agents, FunctionCatalog, Ontology, Retriever}

/** Round-3 agent-surface additions: the chunk→embed→rerank retrieval tool
  * (google_search.py:184-259 shape) and I6 ontology ingestion. */
class RetrievalOntologySpec extends SparkSpec {
  import spark.implicits._

  test("retrieval e2e: answers come from the retrieved chunks") {
    // each doc repeats its own topical vocabulary so the bag-of-words hash
    // embedding has a clean dominant direction per doc
    val corpus = Seq(
      (1L, "quarterly revenue growth from parquet sales " * 12),
      (2L, "llamas camelids south america steppe grass " * 12),
      (3L, "spark shuffle partition executor cluster node " * 12)
    ).toDF("doc_id", "text")
    val r = new Retriever(spark)
    r.indexCorpus(corpus)
    val hits = r.retrieve("what is the quarterly revenue growth", k = 3)
    assert(hits.nonEmpty)
    assert(hits.head.docId == 1L, s"expected doc 1 first, got ${hits.head}")
    assert(hits.head.sim > 0.0)
    assert(hits.head.chunk.contains("revenue"))
    // sims are sorted descending and bounded
    assert(hits.map(_.sim) == hits.map(_.sim).sorted.reverse)
    assert(hits.forall(h => math.abs(h.sim) <= 1.0 + 1e-9))

    // composed tool: the summarizer stage sees the retrieved context
    var seenPrompt = ""
    val llm = new Agents.LlmClient {
      def complete(stage: String, prompt: String): String = {
        assert(stage == "search_summarizer"); seenPrompt = prompt
        "Revenue grew 12% on parquet sales."
      }
    }
    val (used, answer) = r.answer(llm, "what is the quarterly revenue growth", k = 2)
    assert(answer.contains("12%"))
    assert(used.head.docId == 1L)
    assert(seenPrompt.contains("CONTEXT"))
    assert(seenPrompt.contains(used.head.chunk.take(40)))
  }

  test("retrieval index persists to parquet and reloads bit-identical") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta " * 20),
      (2L, "epsilon zeta eta theta " * 20)).toDF("doc_id", "text")
    val r = new Retriever(spark)
    r.indexCorpus(corpus)
    val before = r.retrieve("alpha beta", k = 4)
    r.saveIndex("target/retr_index")
    // a FRESH retriever attaches the saved index — no re-embedding pass
    val r2 = new Retriever(spark)
    r2.loadIndex("target/retr_index")
    assert(r2.retrieve("alpha beta", k = 4) == before)
    intercept[IllegalStateException] { new Retriever(spark).saveIndex("x") }
  }

  test("diversified retrieve: lambda=1 equals plain top-k; duplicate chunks deferred") {
    // docs 1 and 2 are verbatim duplicates (indexed boilerplate); doc 3 is
    // a distinct topic that still shares a query term
    val corpus = Seq(
      (1L, "alpha beta gamma delta " * 20),
      (2L, "alpha beta gamma delta " * 20),
      (3L, "alpha omega sigma tau " * 20)).toDF("doc_id", "text")
    val r = new Retriever(spark)
    r.indexCorpus(corpus)
    val q = "alpha beta gamma"
    assert(r.retrieveDiverse(q, k = 3, lambda = 1.0) == r.retrieve(q, k = 3))
    // at diversity-weighted lambda the near-duplicate chunk defers: the
    // top-2 diversified hits span BOTH topics instead of the duplicate pair
    val div = r.retrieveDiverse(q, k = 2, lambda = 0.5)
    assert(div.length == 2)
    assert(div.map(_.chunk).distinct.length == 2,
      s"duplicate chunk pair survived diversification: $div")
  }

  test("retrieval rerank plans as broadcast-free top-k (v1 shape)") {
    val r = new Retriever(spark)
    r.indexCorpus(Seq((1L, "alpha beta gamma " * 30)).toDF("doc_id", "text"))
    val plan = r.retrieveDF("alpha", 3).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("ontology YAML round-trips into nodes/edges/helpers and mermaid") {
    val yaml =
      """# distilled data model (utils.py:323-367 output shape)
        |containers:
        |  - name: activity
        |    columns: [activity_id, user_id, ts, value]
        |  - name: events
        |    columns: [event_id, user_id, ts]
        |links:
        |  - from: events
        |    to: activity
        |    on: user_id
        |functions:
        |  - pace_min_per_km
        |  - compute_dataframe_index
        |""".stripMargin
    val model = Ontology.parseYaml(yaml).toOption.get
    assert(model.nodes.map(_.name) == Seq("activity", "events"))
    assert(model.nodes.head.columns == Seq("activity_id", "user_id", "ts", "value"))
    assert(model.edges == Seq(Agents.ModelEdge("events", "activity", "user_id")))
    // helpers resolve through the catalog (scalar + table tier)
    assert(FunctionCatalog.scalars.contains(model.helpers.head))
    assert(FunctionCatalog.tables.contains(model.helpers(1)))
    val mm = Ontology.toMermaid(model)
    assert(mm.startsWith("graph TD"))
    assert(mm.contains("activity") && mm.contains("events -->|user_id| activity"))
  }

  private val fixtureTtl =
    """@prefix ex: <http://example.org/fitness#> .
      |@prefix owl: <http://www.w3.org/2002/07/owl#> .
      |@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
      |
      |# a small fitness ontology, the reference's README example domain
      |ex:Activity a owl:Class ;
      |  rdfs:label "Recorded activity session" .
      |ex:Event a owl:Class ;
      |  rdfs:label "Telemetry event" .
      |ex:hasEvent a owl:ObjectProperty ;
      |  rdfs:label "activity to its events" ;
      |  rdfs:domain ex:Activity ;
      |  rdfs:range ex:Event .
      |ex:speedMs a owl:DatatypeProperty ;
      |  rdfs:domain ex:Event ;
      |  rdfs:range <http://www.w3.org/2001/XMLSchema#double> .
      |""".stripMargin

  test("TTL parse: classes, properties, labels, domain/range from the subset") {
    val onto = Ontology.parseTtl(fixtureTtl).toOption.get
    assert(onto.classes.map(_.name) == Seq("Activity", "Event"))
    assert(onto.classes.head.label.contains("Recorded activity session"))
    val hasEvent = onto.properties.find(_.name == "hasEvent").get
    assert(hasEvent.objectProperty &&
      hasEvent.domain.contains("Activity") && hasEvent.range.contains("Event"))
    val speed = onto.properties.find(_.name == "speedMs").get
    assert(!speed.objectProperty && speed.range.contains("double"))
  }

  test("TTL parse: unsupported constructs are loud rejections") {
    def left(ttl: String): String = Ontology.parseTtl(ttl) match {
      case Left(e) => e
      case Right(r) => fail(s"expected rejection, parsed $r")
    }
    assert(left("ex:A a owl:Class ; rdfs:label [ a ex:Weird ] .")
      .contains("unsupported TTL construct"))
    assert(left("ex:A rdfs:label \"\"\"multi\nline\"\"\" .")
      .contains("unsupported TTL construct"))
    assert(left("ex:A a owl:Class ; rdfs:label \"unterminated")
      .contains("unsupported TTL construct"))
    assert(left("ex:A a owl:Class ; rdfs:label \"x\"").contains("not terminated"))
    assert(left("@prefix ex: <http://example.org/> .").contains("no classes"))
  }

  test("TTL parse: '.' immediately before a comment terminates the statement") {
    // "ex:a ex:b ex:c.# note" is legal Turtle — '#' bounds the terminator
    val ttl = fixtureTtl.replace("rdfs:label \"Recorded activity session\" .",
      "rdfs:label \"Recorded activity session\".# inline note")
    val onto = Ontology.parseTtl(ttl).toOption.get
    assert(onto.classes.map(_.name) == Seq("Activity", "Event"))
    assert(onto.classes.head.label.contains("Recorded activity session"))
  }

  test("TTL e2e: distill through the LLM stage into catalog + mermaid") {
    var seenPrompt = ""
    val llm = new Agents.LlmClient {
      def complete(stage: String, prompt: String): String = {
        assert(stage == "dataframe_inspector"); seenPrompt = prompt
        """Here is the distilled model.
          |```yaml
          |containers:
          |  - name: activity
          |    columns: [activity_id, user_id, ts]
          |  - name: events
          |    columns: [event_id, user_id, ts, value]
          |links:
          |  - from: events
          |    to: activity
          |    on: user_id
          |functions:
          |  - pace_min_per_km
          |```
          |""".stripMargin
      }
    }
    val model = Ontology.distillTtl(llm, fixtureTtl,
      profile = "activity: numeric(n=3) ...", task = "pace per activity") match {
      case Right(m) => m
      case Left(e) => fail(e)
    }
    // the distiller saw the normalized ontology, the preview, and the task
    assert(seenPrompt.contains("TASK: pace per activity"))
    assert(seenPrompt.contains("Activity (Recorded activity session)"))
    assert(seenPrompt.contains("hasEvent") && seenPrompt.contains("Activity -> Event"))
    assert(seenPrompt.contains("DATAFRAME PREVIEW"))
    assert(seenPrompt.contains("no invented functions"))
    // and the output lands in the catalog + mermaid surfaces
    assert(model.nodes.map(_.name) == Seq("activity", "events"))
    assert(FunctionCatalog.scalars.contains(model.helpers.head))
    assert(Ontology.toMermaid(model).contains("events -->|user_id| activity"))
  }

  test("TTL e2e: invented helpers from the distiller are rejected") {
    val inventing = new Agents.LlmClient {
      def complete(stage: String, prompt: String): String =
        "```yaml\ncontainers:\n  - name: t\n    columns: [a]\nfunctions:\n  - invented_fn\n```"
    }
    val out = Ontology.distillTtl(inventing, fixtureTtl, "p", "t")
    assert(out.isLeft && out.left.exists(_.contains("invented_fn")))
    val unfenced = new Agents.LlmClient {
      def complete(stage: String, prompt: String): String = "containers:\n  - name: t"
    }
    assert(Ontology.distillTtl(unfenced, fixtureTtl, "p", "t")
      .left.exists(_.contains("```yaml")))
  }

  test("ontology rejects invented functions and structureless input") {
    val bad = Ontology.parseYaml(
      """containers:
        |  - name: t
        |    columns: [a]
        |functions:
        |  - totally_made_up
        |""".stripMargin)
    assert(bad.isLeft && bad.left.exists(_.contains("totally_made_up")))
    assert(Ontology.parseYaml("functions:\n  - pace_min_per_km\n").isLeft) // no containers
    val noName = Ontology.parseYaml("containers:\n  - columns: [a]\n")
    assert(noName.isLeft)
  }

  test("ontology YAML: out-of-contract constructs are loud, not mis-parsed") {
    def left(yaml: String): String = Ontology.parseYaml(yaml) match {
      case Left(e) => e
      case Right(r) => fail(s"expected rejection, parsed $r")
    }
    // block list under an item key: the key-with-no-value line is the
    // nested-mapping signature, caught before the sub-list flattens
    assert(left(
      """containers:
        |  - name: t
        |    columns:
        |      - a
        |""".stripMargin).contains("nested mapping"))
    // list item indented deeper than its list's items
    assert(left(
      """functions:
        |  - pace_min_per_km
        |      - nested
        |""".stripMargin).contains("nested list"))
    // nested mapping (key with no inline value inside an item)
    assert(left(
      """containers:
        |  - name: t
        |    meta:
        |""".stripMargin).contains("nested mapping"))
    // flow mapping
    assert(left(
      """containers:
        |  - name: t
        |    columns: {a: 1}
        |""".stripMargin).contains("flow mapping"))
    // stray prose outside the contract
    assert(left("containers:\n  - name: t\n    columns: [a]\nhello world\n")
      .contains("unrecognized line"))
  }

  // ---- parseTtl generative coverage: the last hand-rolled byte/char
  // parser without it (the WARC/multipart property tests each found a
  // real bug in round 11; same discipline here) ----

  private def holds(p: org.scalacheck.Prop, n: Int = 100): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  test("parseTtl property: rendered ontologies round-trip exactly under " +
      "random formatting (IRI vs prefixed, a vs rdf:type, comments, runs " +
      "of whitespace)") {
    import org.scalacheck.{Gen, Prop}
    final case class PCls(name: String, label: Option[String])
    final case class PProp(name: String, label: Option[String],
        domain: Option[String], range: Option[String], obj: Boolean)
    val ident = for {
      h <- Gen.alphaLowerChar
      t <- Gen.listOfN(5, Gen.alphaNumChar)
    } yield (h +: t).mkString
    val label = Gen.nonEmptyListOf(
      Gen.oneOf(Gen.alphaNumChar, Gen.const(' '))).map(_.mkString.trim)
      .suchThat(_.nonEmpty)
    val pcls = for {
      n <- ident; l <- Gen.option(label)
    } yield PCls("C" + n, l)
    val pprop = for {
      n <- ident; l <- Gen.option(label); d <- Gen.option(ident)
      r <- Gen.option(ident); o <- Gen.oneOf(true, false)
    } yield PProp("p" + n, l, d.map("C" + _), r.map("C" + _), o)
    val onto = for {
      cs <- Gen.listOfN(3, pcls)
      ps <- Gen.listOfN(3, pprop)
    } yield (cs.distinctBy(_.name), ps.distinctBy(_.name))
    val ws = Gen.oneOf(" ", "  ", "\n  ", " \t ")
    def render(cs: Seq[PCls], ps: Seq[PProp], iri: Boolean,
        typeKw: String, w: String): String = {
      def term(n: String) =
        if (iri) s"<http://example.org/onto#$n>" else s"ex:$n"
      val head = "@prefix ex: <http://example.org/onto#> .\n" +
        "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n" +
        "# generated fixture . with a dot\n"
      val cls = cs.map { c =>
        s"${term(c.name)}$w$typeKw${w}owl:Class" +
          c.label.map(l => s"$w;${w}rdfs:label$w\"$l\"").getOrElse("") +
          s"$w."
      }
      val prp = ps.map { p =>
        val kind = if (p.obj) "owl:ObjectProperty" else "owl:DatatypeProperty"
        s"${term(p.name)}$w$typeKw$w$kind" +
          p.label.map(l => s"$w;${w}rdfs:label$w\"$l\"").getOrElse("") +
          p.domain.map(d => s"$w;${w}rdfs:domain$w${term(d)}").getOrElse("") +
          p.range.map(r => s"$w;${w}rdfs:range$w${term(r)}").getOrElse("") +
          s"$w."
      }
      head + (cls ++ prp).mkString("\n")
    }
    holds(Prop.forAll(onto, Gen.oneOf(true, false),
        Gen.oneOf("a", "rdf:type"), ws) { case ((cs, ps), iri, typeKw, w) =>
      Ontology.parseTtl(render(cs, ps, iri, typeKw, w)) match {
        case Right(o) =>
          o.classes.map(c => (c.name, c.label)) ==
            cs.map(c => (c.name, c.label)) &&
          o.properties.map(p =>
            (p.name, p.label, p.domain, p.range, p.objectProperty)) ==
            ps.map(p => (p.name, p.label, p.domain, p.range, p.obj))
        case Left(e) => cs.isEmpty && ps.isEmpty &&
          e.contains("no classes or properties")
      }
    }, n = 200)
  }

  test("parseTtl property: unsupported constructs injected into valid TTL " +
      "reject loudly — never a silent mis-parse, never an exception") {
    import org.scalacheck.{Gen, Prop}
    val base = "@prefix ex: <http://e.org#> .\nex:C a owl:Class .\n"
    val bad = Gen.oneOf(
      "ex:B a owl:Class ; rdfs:label [ ] .",            // blank node
      "ex:B rdfs:domain ( ex:C ex:D ) .",               // collection
      "ex:B rdfs:label \"\"\"multi\"\"\" .",            // triple-quoted
      "ex:B rdfs:label \"line\nbreak\" .",              // multi-line literal
      "ex:B rdfs:label \"unterminated .",               // unterminated quote
      "ex:B rdfs:domain <http://e.org#unterminated .",  // unterminated IRI
      "ex:B ex:count 42 .",                             // bare numeric at '.'
      "ex:B a owl:Class")                               // missing terminator
    holds(Prop.forAll(bad, Gen.oneOf(true, false)) { (b, before) =>
      val text = if (before) b + "\n" + base else base + b
      Ontology.parseTtl(text) match {
        case Left(e) =>
          e.contains("unsupported") || e.contains("not terminated") ||
            e.contains("without object")
        case Right(_) => false
      }
    }, n = 64)
  }
}
