package graft

import java.net.InetSocketAddress
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.lifecycle.{Agents, EpisodicMemory, ReAct, Retriever, WebSearch, WebSearchTool}

/** Web-search source: provider → fetch → chunk → rerank → summarize against
  * a local wire-shape stub (serper-style /search + static pages), plus the
  * ReAct `google_search` action — the reference's Research Specialist
  * pipeline (google_search.py:100-299) with zero egress. */
class WebSearchSpec extends SparkSpec {

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

  private def page(words: String, n: Int): String =
    s"<html><head><style>.x{}</style><script>var ignored=1;</script></head>" +
      s"<body><p>${Seq.fill(n)(words).mkString(" ")}</p></body></html>"

  test("parseResponse: organic links, boxes, and nested objects") {
    val json =
      """{"searchParameters":{"q":"x"},
        |"organic":[
        | {"title":"First","link":"https://a.example/1","snippet":"s1",
        |  "sitelinks":[{"title":"sub","link":"https://a.example/sub"}]},
        | {"title":"Second","link":"https://b.example/2"}],
        |"relatedSearches":[{"query":"y"}]}""".stripMargin
    val r = WebSearch.parseResponse(json)
    // the nested sitelinks array stays inside its organic entry — only the
    // entry's own link is taken
    assert(r.organic.map(_.url) ==
      Seq("https://a.example/1", "https://b.example/2"))
    assert(r.organic.head.title == "First")
    assert(r.answerBox.isEmpty && r.knowledgeGraph.isEmpty)

    val boxed =
      """{"answerBox":{"title":"T","answer":"42","nested":{"k":"v"}},
        |"organic":[{"title":"A","link":"https://a.example"}]}""".stripMargin
    val rb = WebSearch.parseResponse(boxed)
    assert(rb.answerBox.exists(b => b.contains("\"answer\"") && b.contains("nested")))
  }

  test("parseResponse decodes JSON escapes in organic links") {
    // Go's encoding/json writes & as backslash-u0026
    val amp = "\\" + "u0026"
    val r = WebSearch.parseResponse(
      s"""{"organic":[{"title":"Q $amp A","link":"https://a.example/p?x=1${amp}y=2"}]}""")
    assert(r.organic == Seq(WebSearch.Link("Q & A", "https://a.example/p?x=1&y=2")))
  }

  test("firstUrl containment; fetcher follows redirects with a hop bound") {
    // the reference takes any answerBox string value CONTAINING https://
    // and uses the whole value as the URL (google_search.py:203-206)
    assert(WebSearch.firstUrl("""{"answer":"see https://x.example/p for details"}""")
      .contains("see https://x.example/p for details"))
    assert(WebSearch.firstUrl("""{"link":"https://y.example/q"}""")
      .contains("https://y.example/q"))
    assert(WebSearch.firstUrl("""{"answer":"42"}""").isEmpty)

    val target = page("redirect landed content words", 120)
    withServer(Map(
      "/hop" -> (ex => { ex.getResponseHeaders.add("Location", "/hop2"); (302, "") }),
      "/hop2" -> (ex => { ex.getResponseHeaders.add("Location", "/end"); (301, "") }),
      "/end" -> (_ => (200, target)),
      "/loop" -> (ex => { ex.getResponseHeaders.add("Location", "/loop"); (302, "") })
    )) { base =>
      val f = new WebSearch.HttpPageFetcher()
      assert(f.fetch(s"$base/hop")
        .exists(_.contains("redirect landed content words")))
      // a redirect cycle gives up after MaxRedirectHops instead of hanging
      assert(f.fetch(s"$base/loop").isEmpty)
    }
  }

  test("chunkPage: 512-word windows, short chunks dropped") {
    val w350 = Seq.fill(350)("word").mkString(" ")
    val chunks = WebSearch.chunkPage(w350 + " " + w350) // 700 words
    assert(chunks.size == 2)
    assert(chunks.head.split(" ").length == 512)
    assert(chunks(1).split(" ").length == 188)
    // a 700-word page at chunkWords=512 keeps both chunks (both >100 chars);
    // a tiny page yields nothing
    assert(WebSearch.chunkPage("too short to keep").isEmpty)
  }

  test("extractText: scripts/styles/tags stripped, entities decoded") {
    val t = WebSearch.extractText(
      "<html><script>x&amp;y</script><p>Tom &amp; Jerry&nbsp;&gt; others</p></html>")
    assert(t == "Tom & Jerry > others")
  }

  test("e2e organic path: fetch, chunk, Spark rerank, summarizer answer") {
    val serp =
      """{"organic":[
        | {"title":"Spark docs","link":"URL/spark"},
        | {"title":"Unrelated","link":"URL/other"},
        | {"title":"Dead","link":"URL/gone"}]}""".stripMargin
    var prompts = Vector.empty[String]
    val llm: Agents.LlmClient = (stage, prompt) => {
      assert(stage == "search_summarizer")
      prompts :+= prompt
      "Spark uses partitions."
    }
    withServer(Map(
      "/search" -> (ex => {
        val body = scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
        assert(body.contains("\"num\":5") && body.contains("spark partitions"))
        assert(ex.getRequestHeaders.getFirst("X-API-KEY") == "sk-serp")
        (200, serp.replace("URL", s"http://127.0.0.1:${ex.getLocalAddress.getPort}"))
      }),
      "/spark" -> (_ => (200, page("spark partitions shuffle executor", 200))),
      "/other" -> (_ => (200, page("cooking recipes pasta sauce", 200))),
      "/gone" -> (_ => (404, "nope")))) { base =>
      val tool = new WebSearchTool(spark,
        new WebSearch.HttpSearchProvider(base, "sk-serp"),
        new WebSearch.HttpPageFetcher(), llm)
      val out = tool.search("'spark partitions'")
      assert(out.answer == "Spark uses partitions.")
      // links: all fetched organic results reported (top-5 window)
      assert(out.links.exists(_.map(_.title) ==
        Seq("Spark docs", "Unrelated", "Dead")))
      // the summarizer prompt carries "* chunk" context lines and the query
      assert(prompts.size == 1)
      assert(prompts.head.contains("* ") &&
        prompts.head.contains("spark partitions"))
      // rerank put the on-topic page's chunks ahead of the cooking page
      val firstCtx = prompts.head.linesIterator.find(_.startsWith("* ")).get
      assert(firstCtx.contains("spark"), firstCtx.take(80))
    }
  }

  test("answerBox and knowledgeGraph short-circuit to direct answers") {
    val llm: Agents.LlmClient = (_, _) => fail("no summarizer call expected")
    withServer(Map(
      "/search" -> (_ => (200,
        """{"answerBox":{"title":"Pop","answer":"8 billion"}}""")))) { base =>
      val tool = new WebSearchTool(spark,
        new WebSearch.HttpSearchProvider(base, "k"),
        new WebSearch.HttpPageFetcher(), llm)
      val out = tool.search("world population")
      assert(out.answer.contains("8 billion") && out.links.isEmpty)
    }
    withServer(Map(
      "/search" -> (_ => (200,
        """{"knowledgeGraph":{"title":"Scala","type":"Language"}}""")))) { base =>
      val tool = new WebSearchTool(spark,
        new WebSearch.HttpSearchProvider(base, "k"),
        new WebSearch.HttpPageFetcher(), llm)
      val out = tool.search("scala")
      assert(out.answer.contains("Language") && out.links.isEmpty)
    }
  }

  test("document cap: fetching stops once MaxDocuments is reached") {
    var fetched = Vector.empty[String]
    val provider = new WebSearch.SearchProvider {
      def search(q: String) = WebSearch.Response(
        (1 to 10).map(i => WebSearch.Link(s"t$i", s"u$i")))
    }
    val fetcher = new WebSearch.PageFetcher {
      // each page yields 8 chunks (8*512 words)
      def fetch(url: String) = { fetched :+= url
        Some(Seq.fill(8 * 512)("w").mkString(" ")) }
    }
    val llm: Agents.LlmClient = (_, prompt) => "ok"
    val tool = new WebSearchTool(spark, provider, fetcher, llm)
    val out = tool.search("q")
    assert(out.answer == "ok")
    // 8 chunks/page: cap of 30 is crossed during page 4 → 5 organic fetches
    // never happen (reference breaks at len(documents) > 30, :229-230)
    assert(fetched.size == 4, fetched)
    assert(out.links.exists(_.size == 4))
  }

  test("ReAct google_search action: observation feeds the final answer") {
    val corpus = {
      import spark.implicits._
      Seq((1L, "local corpus placeholder text about nothing relevant"))
        .toDF("doc_id", "text")
    }
    val retriever = new Retriever(spark)
    retriever.indexCorpus(corpus)
    val provider = new WebSearch.SearchProvider {
      def search(q: String) = WebSearch.Response(
        answerBox = Some("""{"answer":"550 miles"}"""))
    }
    val fetcher = new WebSearch.PageFetcher { def fetch(url: String) = None }
    val llm = new Agents.ScriptedLlm(Map(
      "search_executor" -> Seq(
        "Thought: need live data\nAction: google_search: \"route length\"",
        "The route is 550 miles long."),
      "search_summarizer" -> Seq("unused")))
    val tool = new WebSearchTool(spark, provider, fetcher, llm)
    val r = ReAct.run(llm, "How long is the route?",
      ReAct.webActions(spark, tool, retriever, llm))
    assert(r.answer == "The route is 550 miles long.")
    assert(r.steps.size == 1 && r.steps.head.action == "google_search")
    assert(r.steps.head.observation.contains("550 miles"))
  }
}
