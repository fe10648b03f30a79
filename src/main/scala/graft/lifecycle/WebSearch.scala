package graft.lifecycle

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Public web-search source — the reference's Research Specialist pipeline
  * (bambooai/google_search.py): a SERP-API provider call (:148-156, 5
  * results), page fetch → 512-word chunking → short-chunk filter
  * (:159-190), ≤30-document corpus cap (:194-232), embed + cosine top-6
  * rerank (:239-259), and the search-summarizer stage over "* chunk" lines
  * (:264-283). The provider and page fetcher are HTTP seams with JDK-only
  * clients (stub-tested like [[HttpLlmClient]]), so
  * tests drive the full pipeline against a local wire-shape server.
  *
  * Spark-first split: the per-query fetch set is ≤30 small documents BY
  * CONTRACT (the reference caps it), so fetching and chunking run on the
  * driver exactly like the reference; the embed + rerank runs as a Spark
  * plan through [[Retriever]] (the v1 cosine top-k shape). Bulk corpus
  * retrieval at 100 TB is the other path the engine already has —
  * [[Retriever.indexCorpus]]/[[Retriever.loadIndex]] over a parquet table.
  */
object WebSearch {

  val SearchResults = 5 // google_search.py:22 SEARCH_RESULTS
  val ChunkWords = 512 // :20 CHUNK_SIZE
  val TopK = 6 // :21 TOP_K_RESULTS
  val MaxDocuments = 30 // :23 NUM_DOCUMENTS
  val MinDocChars = 100 // :189 — drop chunks of ≤100 chars
  val TopLinks = 5 // :225 — only the top 5 links are reported

  final case class Link(title: String, url: String)

  /** Parsed provider response (the serper.dev wire shape the reference
    * posts to, google_search.py:149-156). The two direct-answer boxes are
    * kept as JSON text — the reference returns `json.dumps(box)` as the
    * observation (:215, :219). */
  final case class Response(organic: Seq[Link] = Nil,
      answerBox: Option[String] = None, knowledgeGraph: Option[String] = None)

  /** SERP provider seam: query → ranked results. */
  trait SearchProvider { def search(query: String): Response }

  /** Page fetcher seam: url → page text, None on any fetch/parse failure
    * (the reference's bare-except-return-[] at :181-182). */
  trait PageFetcher { def fetch(url: String): Option[String] }

  /** The search result handed back to the agent loop: the answer text plus
    * the source links (None for direct answers, as in Search.__call__'s
    * `return direct_answer, None`, :297). */
  final case class SearchAnswer(answer: String, links: Option[Seq[Link]])

  /** Parse a serper-shaped response: organic [{title, link}…] plus the
    * answerBox / knowledgeGraph objects when present, re-serialized. */
  def parseResponse(json: String): Response = {
    val root = Json.parse(json)
    val organic = Json.elements(root.path("organic")).flatMap { o =>
      Json.text(o, "link").map(l =>
        Link(Json.text(o, "title").getOrElse("No title available"), l))
    }
    def box(name: String) =
      Json.child(root, name).filter(_.isObject).map(Json.write)
    Response(organic, answerBox = box("answerBox"),
      knowledgeGraph = box("knowledgeGraph"))
  }

  /** First string value containing an https:// URL in a box object. The
    * reference walks answerBox values with a substring test — `if
    * "https://" in value` — and uses the WHOLE value as the URL (:203-206),
    * so a prose value embedding a link counts; mirror that exactly. */
  private[graft] def firstUrl(boxJson: String): Option[String] = {
    val box = Json.parse(boxJson)
    box.fieldNames.asScala.flatMap(Json.text(box, _))
      .find(_.contains("https://"))
  }

  /** 512-word chunking of one page into "documents", dropping chunks of
    * ≤100 chars — google_search.py:184-190 verbatim semantics (split on
    * single spaces after newline→space normalization). */
  def chunkPage(text: String,
      chunkWords: Int = ChunkWords): Seq[String] = {
    val words = text.replace('\n', ' ').split(" ", -1)
    words.grouped(chunkWords).map(_.mkString(" "))
      .filter(_.length > MinDocChars).toSeq
  }

  // ---- JDK-only HTTP implementations of the two seams ----

  /** POSTing SERP provider (the serper.dev API shape: JSON body, X-API-KEY
    * header, google_search.py:149-153). */
  final class HttpSearchProvider(baseUrl: String, apiKey: String,
      timeoutMs: Int = 15000) extends SearchProvider {
    def search(query: String): Response = {
      val body = s"""{"q":${Json.str(query)},"gl":"us","hl":"en","num":$SearchResults,"autocorrect":true}"""
      val conn = URI.create(s"$baseUrl/search").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setRequestProperty("X-API-KEY", apiKey)
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
      try {
        val code = conn.getResponseCode
        if (code >= 400) throw new RuntimeException(s"search provider HTTP $code")
        parseResponse(scala.io.Source
          .fromInputStream(conn.getInputStream, "UTF-8").mkString)
      } finally conn.disconnect()
    }
  }

  /** GET page fetcher with a tag-stripping text extraction — the honest
    * stand-in for the reference's newspaper Article.parse (:172-180): drop
    * script/style subtrees, strip tags, decode the common entities. Payload
    * capped like [[graft.sources.Sources.fromUrl]] (driver-side fetch is
    * small-by-contract). HttpURLConnection refuses to auto-follow
    * cross-protocol (http→https) redirects, which the reference's fetcher
    * does follow — so auto-follow is off and ALL 3xx responses are chased
    * manually via the Location header (relative ones resolved against the
    * page), bounded to [[HttpPageFetcher.MaxRedirectHops]] hops. One code
    * path for both same- and cross-protocol hops keeps the behavior
    * uniform and stub-testable. */
  final class HttpPageFetcher(timeoutMs: Int = 15000,
      maxBytes: Long = 8L * 1024 * 1024) extends PageFetcher {
    def fetch(url: String): Option[String] =
      fetchHops(url, HttpPageFetcher.MaxRedirectHops)

    private def fetchHops(url: String, hops: Int): Option[String] = {
      // Either a terminal result (Left) or a redirect target (Right): the
      // connection is fully closed before the next hop opens, so a 3xx
      // chain never pins more than one keep-alive socket at a time.
      val step: Either[Option[String], String] =
        try {
          val conn = URI.create(url).toURL
            .openConnection().asInstanceOf[HttpURLConnection]
          conn.setConnectTimeout(timeoutMs)
          conn.setReadTimeout(timeoutMs)
          conn.setInstanceFollowRedirects(false)
          conn.setRequestProperty("User-Agent", "Mozilla/5.0")
          try {
            val code = conn.getResponseCode
            if (code >= 300 && code < 400) {
              Option(conn.getHeaderField("Location")).filter(_ => hops > 0) match {
                case Some(loc) => Right(URI.create(url).resolve(loc).toString)
                case None => Left(None)
              }
            } else if (code >= 400) Left(None)
            else {
              val out = new java.io.ByteArrayOutputStream()
              val in = conn.getInputStream
              val buf = new Array[Byte](8192)
              var n = in.read(buf)
              while (n >= 0 && out.size() <= maxBytes) { out.write(buf, 0, n); n = in.read(buf) }
              Left(if (out.size() > maxBytes) None
                   else Some(extractText(out.toString("UTF-8"))))
            }
          } finally conn.disconnect()
        } catch { case scala.util.control.NonFatal(_) => Left(None) }
      step match {
        case Left(result) => result
        case Right(next) => fetchHops(next, hops - 1)
      }
    }
  }

  object HttpPageFetcher { val MaxRedirectHops = 5 }

  def extractText(html: String): String =
    html
      .replaceAll("(?is)<(script|style)[^>]*>.*?</\\1>", " ")
      .replaceAll("(?s)<[^>]+>", " ")
      .replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&nbsp;", " ")
      .replaceAll("\\s+", " ").trim
}

/** The composed web-search tool: provider → fetch/chunk → Spark rerank →
  * summarizer, i.e. the reference's `Search.__call__` (google_search.py:
  * 290-299) over this engine. One instance is reusable across queries; each
  * query builds its own ≤30-document index. */
final class WebSearchTool(spark: SparkSession,
    provider: WebSearch.SearchProvider, fetcher: WebSearch.PageFetcher,
    llm: Agents.LlmClient,
    embedder: EpisodicMemory.Embedder = new EpisodicMemory.HashEmbedder()) {

  import WebSearch._

  /** Run one search. Mirrors SearchEngine.__call__ (:194-232) +
    * Search.__call__ (:290-299): answerBox → follow its URL if it has one,
    * else (or when the fetch yields fewer than 200 documents — the
    * reference's `len(documents) < 200` guard, which in practice always
    * holds) return the box JSON as a direct answer; knowledgeGraph → direct
    * answer; otherwise fetch organic links until the document cap, rerank
    * top-6, summarize. */
  def search(rawQuestion: String): SearchAnswer = {
    val question = rawQuestion.replaceAll("['\"]", "").trim // :286-288
    val resp = provider.search(question)

    var documents = Vector.empty[String]
    var links = Vector.empty[Link]
    var direct: Option[String] = None

    resp.answerBox match {
      case Some(box) =>
        val url = firstUrl(box)
        url.foreach { u =>
          documents ++= fetcher.fetch(u).toSeq.flatMap(chunkPage(_))
          links :+= Link(Json.text(Json.parse(box), "title")
            .getOrElse("No title available"), u)
        }
        if (url.isEmpty || documents.size < 200) direct = Some("\n" + box + "\n")
      case None => resp.knowledgeGraph match {
        case Some(kg) => direct = Some("\n" + kg + "\n")
        case None =>
          val it = resp.organic.iterator.zipWithIndex
          while (it.hasNext && documents.size <= MaxDocuments) {
            val (l, i) = it.next()
            documents ++= fetcher.fetch(l.url).toSeq.flatMap(chunkPage(_))
            if (i < TopLinks) links :+= l
          }
      }
    }

    direct match {
      case Some(answer) => SearchAnswer(answer, None)
      case None =>
        val docs = documents.take(MaxDocuments)
        if (docs.isEmpty) SearchAnswer("No content could be retrieved for: " +
          question, Some(links))
        else {
          // rerank as a Spark plan: each fetched document is one chunk
          // (they are already ≤ChunkWords words), v1 cosine top-k shape
          import spark.implicits._
          val retriever = new Retriever(spark, embedder, chunkWords = ChunkWords)
          retriever.indexCorpus(docs.zipWithIndex
            .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
          val contexts = retriever.retrieve(question, TopK).map(_.chunk)
          val prompt = "Based on the following context:\n" +
            contexts.map(c => s"* $c\n").mkString +
            s"\nAnswer the question: $question" // Reader's text+query shape :271-277
          SearchAnswer(llm.complete("search_summarizer", prompt), Some(links))
        }
    }
  }
}
