package graft.lifecycle

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.JsonNode
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.DataFrame

import graft.operators.Profile
import graft.plans.Lifecycle
import graft.sources.{Sources, TableCache}

/** The engine's HTTP serving surface — the reference's code-executor API
  * (web_app/code_executor_api.py) re-expressed over the Spark engine. The
  * reference runs a Flask service whose endpoints exec generated pandas code
  * against an LRU DataFrame cache and expose df-utils previews; here the
  * same endpoint contract serves the engine's declarative surface:
  *
  *   POST /execute                    run VALIDATED SQL against the cached
  *                                    table, seen as relation `df`
  *                                    (code_executor_api.py:69-206 — exec of
  *                                    generated python, recast through
  *                                    SqlValidator per SURVEY §2.12: the
  *                                    engine never executes arbitrary code)
  *   POST /upload_dataset             register a parquet/csv PATH under a
  *                                    df_id (code_executor_api.py:209-249;
  *                                    path not multipart — the engine reads
  *                                    distributed storage, it does not spool
  *                                    uploads through the driver)
  *   POST /upload                     the reference's browser upload
  *                                    (app.py:566-618): multipart/form-data
  *                                    `file` part spooled to dataDir/uploads
  *                                    and routed through the same format
  *                                    dispatch as /upload_dataset. One
  *                                    deviation from the reference's
  *                                    delete-after-load: Spark reads are
  *                                    LAZY, so the spooled file lives for
  *                                    the session (bounded by the 64 MB
  *                                    request cap per upload)
  *   GET/POST /get_threads, /load_thread/<id>, /new_conversation,
  *        /search_threads             the thread surface (app.py:1062-1469)
  *                                    over [[SessionStore]]; /query with a
  *                                    thread_id records + persists turns
  *   POST /file_utils/...             aux-dataset registry + per-path
  *                                    inspectors (ibid:379-562; registry
  *                                    instead of multipart spooling — see
  *                                    the aux section below)
  *   POST /df_utils/compute_df_sample head(100) records  (ibid:252-275, I4)
  *   POST /df_utils/df_to_string      row-25 head + summary (ibid:280-310, I2)
  *   POST /df_utils/df_summary        per-column profile   (ibid:313-353, I1)
  *   POST /df_utils/df_columns        columns + dtypes     (ibid:356-375, I3)
  *   GET  /health                     liveness + cache occupancy
  *   POST /query                      the chat surface (web_app/app.py:927-971):
  *                                    runs the full agent chain and streams
  *                                    per-stage completions as SSE events —
  *                                    the reference's output-queue → SSE
  *                                    drain collapsed to a synchronous tap
  *                                    (requires an [[Agents.LlmClient]];
  *                                    tests wire the scripted fixture)
  *
  * Error contract mirrors the reference: missing df_id → 400, cache miss →
  * 404, operator errors → 200 with an `error` key (the repair loop reads the
  * error text, it is not a transport failure).
  *
  * Scale: every response is bounded by construction — previews are
  * `limit(n)` plans (no full count except df_to_string's documented row-25
  * rule), and /execute returns a bounded preview while the full result stays
  * a named view for further SQL. JDK HttpServer; bodies parse through
  * [[Json]], and a body that is not a JSON object has no fields.
  */
final class ExecutorApi(session: EngineSession, cacheSize: Int = 4,
    llm: Option[Agents.LlmClient] = None,
    memory: Option[EpisodicMemory] = None,
    store: Option[SessionStore] = None,
    dataDir: java.nio.file.Path = java.nio.file.Paths.get("target/executor_api"),
    memoryDir: Option[String] = None,
    callLogCap: Int = 10000,
    maxConcurrent: Int = 24) {

  require(maxConcurrent >= 1, s"maxConcurrent=$maxConcurrent must be >= 1")

  // the eviction hook unbinds the id /upload_dataset bound — without it
  // every LRU eviction leaks a catalog view, the id's version stack and
  // its profiles for the server's lifetime, and the validator keeps
  // allowing the name
  private val cache = new TableCache(cacheSize,
    onEvict = id => session.unbind(id))
  private var server: Option[HttpServer] = None
  // the last successful /query chain, held for /submit_rank — the
  // reference completes learning asynchronously in a second request
  // (app.py:973-1010), so the rank arrives after the result streamed.
  // volatile: /query writes it and /submit_rank reads it from different
  // pool threads (round 13)
  @volatile private var lastChain: Option[(String, Agents.ChainResult)] = None

  /** Admission gate (round 14): at most `maxConcurrent` requests are IN
    * WORK at once; excess requests are REJECTED immediately with 503, not
    * queued and not given a new thread — the r13 pool fixed the
    * single-thread serialization but was a `newCachedThreadPool`, so a
    * slow-loris burst of /execute calls created one thread per request
    * with no cap. tryAcquire + 503 is the serving-surface shape: saturation
    * is loud and cheap (the rejecting thread frees instantly), and /health
    * bypasses the gate so liveness probes always answer. */
  private val admission = new java.util.concurrent.Semaphore(maxConcurrent)

  /** Start on `port` (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = {
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val gate = new com.sun.net.httpserver.Filter {
      override def description: String = "bounded-concurrency admission gate"
      override def doFilter(ex: HttpExchange,
          chain: com.sun.net.httpserver.Filter.Chain): Unit = {
        if (!admission.tryAcquire())
          respond(ex, 503, err("server saturated: try again"))
        else try chain.doFilter(ex) finally admission.release()
      }
    }
    // every context except /health goes through the admission gate
    def createContext(path: String,
        h: HttpHandler): Unit = {
      val c = srv.createContext(path, h)
      if (path != "/health") c.getFilters.add(gate)
    }
    srv.createContext("/health", (ex: HttpExchange) => respond(ex, 200,
      s"""{"status":"ok","cached":${cache.size}}"""))
    createContext("/execute", handler(execute))
    createContext("/upload_dataset", handler(uploadDataset))
    createContext("/upload", uploadMultipart _)
    createContext("/df_utils/compute_df_sample",
      handler(withDf(_) { (_, df) => (200, recordsJson(Profile.sample(df))) }))
    createContext("/df_utils/df_to_string", handler(dfToString))
    createContext("/df_utils/df_summary",
      handler(withDf(_) { (id, _) =>
        session.profile(id) match {
          case Some(p) => (200, s"""{"data":${Json.str(p)}}""")
          case None => (404, err("DataFrame not found in cache"))
        }
      }))
    createContext("/df_utils/df_columns",
      handler(withDf(_) { (_, df) =>
        // SQL-facing dtype names (bigint/double/string…), the vocabulary
        // the API's SQL surface speaks — not Scala's DataType class names
        val dtypes = df.schema.fields.map { f =>
          s"""${Json.str(f.name)}:${Json.str(f.dataType.simpleString)}""" }
          .mkString("{", ",", "}")
        val cols = df.columns.map(Json.str).mkString("[", ",", "]")
        (200, s"""{"columns":$cols,"dtypes":$dtypes}""")
      }))
    createContext("/query", query _)
    createContext("/submit_rank", handler(submitRank))
    createContext("/metrics", handler(_ => metrics))
    createContext("/storage/favourites", handler(storeFavourite))
    createContext("/download_generated_dataset", download _)
    createContext("/update_ontology", handler(updateOntology))
    createContext("/get_ontology_state", handler(_ => (200,
      s"""{"current_state":${ontologyTtl.nonEmpty}}""")))
    createContext("/update_planning", handler(updatePlanning))
    createContext("/get_planning_state", handler(_ => (200,
      s"""{"planning":$planning}""")))
    createContext("/get_threads", handler(_ => getThreads))
    createContext("/load_thread/", pathHandler(loadThread))
    createContext("/delete_chain/", pathHandler(deleteChain))
    createContext("/submit_feedback", handler(submitFeedback))
    createContext("/get_vector_db_status", handler(_ => (200,
      s"""{"enabled":${memory.nonEmpty},"records":${
        memory.map(_.size).getOrElse(0)}}""")))
    createContext("/new_conversation", handler(_ => newConversation))
    createContext("/search_threads", handler(searchThreads))
    createContext("/file_utils/upload_aux_dataset", handler(auxUpload))
    createContext("/file_utils/remove_aux_dataset", handler(auxRemove))
    createContext("/file_utils/aux_datasets_to_string",
      handler(auxPerPath(_, "Head:\n", df =>
        Profile.renderTable(df))))
    createContext("/file_utils/get_aux_datasets_columns",
      handler(auxPerPath(_, "Columns:\n", df =>
        df.columns.mkString(", "))))
    createContext("/file_utils/compute_aux_dataset_sample",
      handler(auxSampleHtml))
    createContext("/get_chain_preview/", pathHandler(chainPreview))
    createContext("/remove_primary_dataset",
      handler(removePrimaryDataset))
    createContext("/get_primary_dataset_preview", handler(primaryPreview))
    createContext("/get_dataset_preview", handler(datasetPreview))
    // a real pool (round 13): the former setExecutor(null) dispatched every
    // request on the server's single accept thread, so one long /execute
    // blocked /health, previews, and uploads for its whole duration — the
    // reference's Flask app serves concurrently, and so must this. Shared
    // state that request threads touch must guard itself: TableCache is
    // synchronized, EngineSession guards its bindings, /execute's Spark
    // work is serialized by execLock (see execute()), callLogs and
    // SessionStore lock, the chain counter is atomic, and the preference
    // fields are volatile.
    // BOUNDED (round 14): fixed at maxConcurrent workers + headroom so the
    // admission gate's instant 503s and /health always find a thread — the
    // r13 cached pool grew one thread per queued request with no cap. The
    // queue is unbounded but cannot build: anything past the gate's
    // permits occupies a thread only long enough to answer 503.
    val pool = new java.util.concurrent.ThreadPoolExecutor(
      maxConcurrent + 4, maxConcurrent + 4, 60L,
      java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, "executor-api"); t.setDaemon(true); t
      })
    pool.allowCoreThreadTimeOut(true)
    srv.setExecutor(pool)
    srv.start()
    server = Some(srv)
    executor = Some(pool)
    srv.getAddress.getPort
  }

  private var executor: Option[java.util.concurrent.ExecutorService] = None

  def stop(): Unit = {
    server.foreach(_.stop(0)); server = None
    executor.foreach(_.shutdown()); executor = None
  }

  // ---- endpoints ----

  /** Serializes /execute's Spark work: validation, analysis, the cache
    * write-back and the preview collect. Each statement has its own `df`
    * scope, so the lock shapes load rather than isolating requests: on
    * the closed-loop serve mix, removing it halved the /execute mean but
    * slowed /query by about a quarter and grew the live heap by a tenth
    * (ROADMAP item 1). The pool keeps every other endpoint live. */
  private val execLock = new Object

  /** /execute: `{"sql": ..., "df_id"?: ...}`. When df_id hits the cache
    * the statement sees its table as the relation `df`, scoped to this
    * request (the reference's per-exec scope injection,
    * code_executor_api.py:100-104); without df_id it runs with no `df`, so
    * a statement naming `df` fails validation unless a table is bound
    * under that name. The SQL runs through the §2.12 validator; on success
    * the RESULT replaces the cached entry (the reference writes the mutated
    * df back, :115-117) and a bounded preview returns. */
  private def execute(req: JsonNode): (Int, String) = {
    val sql = Json.text(req, "sql").getOrElse("")
    if (sql.isEmpty) return (400, err("No sql provided"))
    val dfId = Json.text(req, "df_id")
    // a miss fails up front (the reference execs with df=None and fails in
    // user code)
    val df = dfId.map(cache.get)
    if (df.exists(_.isEmpty)) return (404, err("DataFrame not found in cache"))
    execLock.synchronized {
    session.runValidatedSql(sql, df.flatten) match {
      case Left(msg) => (200, err(msg))
      case Right(result) =>
        dfId.foreach { id => cache.put(id, result); session.bind(id, result) }
        // optional declarative plot (the reference's /execute returns
        // rendered matplotlib PNGs, code_executor_api.py:119-131; the
        // engine's §1.1 deviation emits a Vega-Lite spec instead): flat
        // keys plot_type/plot_x/plot_ys(csv)/plot_title ride in the body
        val plotSpec = Json.text(req, "plot_type").map { t =>
          PlotSpec.toVegaLite(PlotSpec.Plot2d(
            plotType = t,
            x = Json.text(req, "plot_x").getOrElse(""),
            ys = Json.text(req, "plot_ys")
              .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
              .getOrElse(Nil),
            title = Json.text(req, "plot_title").getOrElse("")),
            result)
        }
        val base = recordsJson(result, limit = 100)
        (200, plotSpec.fold(base)(vl =>
          base.dropRight(1) + s""","plot_spec":$vl}"""))
    }
    } // execLock
  }

  /** /upload_dataset: `{"df_id": ..., "path": ..., "format"?: "csv"}` —
    * reads the path through the engine's source operators and caches it. */
  private def uploadDataset(req: JsonNode): (Int, String) = {
    val dfId = Json.text(req, "df_id").getOrElse("")
    val path = Json.text(req, "path").getOrElse("")
    if (dfId.isEmpty || path.isEmpty)
      return (400, err("df_id and path required"))
    val df = register(dfId, path, Json.text(req, "format"))
    val cols = df.columns.map(Json.str).mkString("[", ",", "]")
    (200, s"""{"df_id":${Json.str(dfId)},"columns":$cols}""")
  }

  /** Read `path` through the source operator its format names, then cache
    * and bind it under `dfId`. */
  private def register(dfId: String, path: String,
      fmt: Option[String]): DataFrame = {
    val df =
      if (fmt.contains("csv") || path.endsWith(".csv"))
        Sources.csv(session.spark, path)
      // .jsonl = line-delimited (head-probed schema, no full inference
      // pass); .json = a standard multi-line DOCUMENT — feeding it to
      // the line reader would silently bind an all-corrupt table
      else if (fmt.contains("jsonl") || path.endsWith(".jsonl"))
        Sources.jsonlAuto(session.spark, path)
      else if (fmt.contains("json") || path.endsWith(".json"))
        Sources.jsonDoc(session.spark, path)
      // raw-crawl archives bind as the records table (url, warc_type,
      // content_type, http_status, body) — the front door for the
      // h1/h2 extraction pipeline
      else if (fmt.contains("warc") || path.endsWith(".warc") ||
          path.endsWith(".warc.gz"))
        Sources.warc(session.spark, path)
      else Sources.parquet(session.spark, path)
    cache.put(dfId, df)
    session.bind(dfId, df)
    df
  }

  private val MaxUploadBytes = 64L * 1024 * 1024 // the S8 remote-source cap

  /** /upload — the reference's browser path (app.py:566-618): a
    * multipart/form-data `file` part is spooled under dataDir/uploads and
    * registered through the SAME format dispatch as /upload_dataset, so
    * everything behind the route (schema probe rules, .jsonl contract
    * reads, LRU + view binding) is shared. Responds with the reference's
    * envelope: message + df_id + a bounded `dataframe` preview. The
    * reference deletes its temp file after loading into pandas; Spark
    * plans read the file LAZILY, so here the spooled copy lives for the
    * session (per-upload size capped; the dir is session-scoped scratch).
    * Errors echo the reference's codes: no file part / empty filename /
    * bad type → 400, load failures → 500 with the message. */
  private def uploadMultipart(ex: HttpExchange): Unit = {
    def done(code: Int, json: String): Unit = respond(ex, code, json)
    def msg(m: String): String = s"""{"message":${Json.str(m)}}"""
    try {
      val ct = Option(ex.getRequestHeaders.getFirst("Content-Type"))
        .getOrElse("")
      val bIdx = ct.indexOf("boundary=")
      if (!ct.startsWith("multipart/form-data") || bIdx < 0)
        return done(400, msg("No file part"))
      val boundary = {
        val raw = ct.substring(bIdx + "boundary=".length).trim
        if (raw.startsWith("\"") && raw.endsWith("\"") && raw.length >= 2)
          raw.substring(1, raw.length - 1)
        else raw.takeWhile(_ != ';')
      }
      val body = readCapped(ex.getRequestBody, MaxUploadBytes)
      if (body == null)
        return done(400, msg(s"upload exceeds $MaxUploadBytes bytes"))
      MultipartForm.filePart(body, boundary) match {
        case None => done(400, msg("No file part"))
        case Some((fname, _)) if fname.isEmpty =>
          done(400, msg("No selected file"))
        case Some((fname, content)) =>
          // basename only — a client-supplied path must not traverse
          val base = fname.replace('\\', '/').split('/').last
          // slice base FIRST, lowercase only the slice (Locale.ROOT):
          // toLowerCase can change string LENGTH (e.g. Turkish dotted
          // capital I), so an index computed on base must never slice a
          // lowercased copy. .warc.gz is the one compound extension
          // (Common Crawl's wire format); everything else keys on the
          // last dot.
          val dot = base.lastIndexOf('.')
          val lastExt = if (dot < 0) ""
            else base.substring(dot).toLowerCase(java.util.Locale.ROOT)
          val ext =
            if (lastExt == ".gz" && base.length >= 8 &&
                base.substring(base.length - 8)
                  .toLowerCase(java.util.Locale.ROOT) == ".warc.gz")
              ".warc.gz"
            else lastExt
          if (!Seq(".csv", ".parquet", ".jsonl", ".json", ".warc",
              ".warc.gz").contains(ext) || base.startsWith("."))
            return done(400, msg("Invalid file type"))
          val dir = dataDir.resolve("uploads")
          java.nio.file.Files.createDirectories(dir)
          // the spool keeps a LOWERCASED extension: the gate above is
          // case-insensitive, and uploadDataset's format dispatch keys on
          // the literal suffix — 'REPORT.CSV' must not fall through to
          // the parquet reader
          val stem = base.substring(0, base.length - ext.length)
          val spooled = dir.resolve(s"${System.nanoTime()}_" +
            stem.replaceAll("[^A-Za-z0-9_-]", "_") + ext)
          java.nio.file.Files.write(spooled, content)
          val dfId = stem.replaceAll("[^A-Za-z0-9_]", "_")
          // a failure ANYWHERE past the bind must roll the whole upload
          // back: uploadDataset caches + binds the view before the
          // preview materializes, and e.g. a text file misnamed .jsonl
          // binds fine but dies rendering — without the rollback the
          // df_id would stay a cache hit over a deleted spool (poisoned).
          // Rollback must RESTORE, not just remove: a failed sales.parquet
          // after a healthy sales.csv derives the same df_id, and tearing
          // the binding down would destroy the pre-existing working view.
          val prior = cache.get(dfId)
          def rollback(): Unit = {
            prior match {
              case Some(old) =>
                cache.put(dfId, old)
                session.bind(dfId, old)
              case None => cache.remove(dfId)
            }
            java.nio.file.Files.deleteIfExists(spooled)
          }
          try {
            val df = register(dfId, spooled.toString, None)
            done(200, s"""{"message":"File successfully uploaded and processed","df_id":${Json.str(
              dfId)},"dataframe":${recordsJson(df)}}""")
          } catch { case e: Exception =>
            rollback()
            done(500, msg(Lifecycle.condense(
              Option(e.getMessage).getOrElse(e.getClass.getSimpleName))))
          }
      }
    } catch { case e: Exception =>
      done(500, msg(Lifecycle.condense(
        Option(e.getMessage).getOrElse(e.getClass.getSimpleName))))
    }
  }

  /** Read at most `cap` bytes; null when the stream exceeds the cap (the
    * driver must never buffer an unbounded request body). */
  private def readCapped(in: java.io.InputStream, cap: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      if (out.size() > cap) return null
      n = in.read(buf)
    }
    out.toByteArray
  }

  /** /df_utils/df_to_string: the I2 row-25 contract; `order_by` is a
    * comma-separated column list (Spark tables are unordered — the caller
    * names the order that defines "row 25", defaulting to schema order). */
  private def dfToString(req: JsonNode): (Int, String) = withDf(req) { (_, df) =>
    val n = Json.long(req, "num_rows").getOrElse(5L).toInt
    val orderCols = Json.text(req, "order_by")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(df.columns.toSeq)
    (200, s"""{"data":${Json.str(Profile.dataframeToString(df, orderCols, n))}}""")
  }

  /** /query: `{"question": ..., "df_id": ...}` → `text/event-stream`. The
    * reference spawns a worker thread and drains its output queue into SSE
    * (app.py:959-971, web_output_manager.py:10-47); the engine's chain is
    * synchronous, so a tap client emits one `stage` event per completed
    * LLM call in chain order, then one `result` event with the bounded
    * preview + summary (or an `error` event — errors are events on this
    * surface, the stream IS the response). */
  private def query(ex: HttpExchange): Unit = {
    val body =
      try new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      catch { case _: Exception => "" }
    val req = Json.fields(body)
    val question = Json.text(req, "question").getOrElse("")
    val dfId = Json.text(req, "df_id").getOrElse("")
    (llm, question, if (dfId.isEmpty) None else cache.get(dfId)) match {
      case (None, _, _) => respond(ex, 200, err("no LLM client configured"))
      case (_, "", _) => respond(ex, 400, err("No question provided"))
      case (_, _, None) => respond(ex, 404, err("DataFrame not found in cache"))
      case (Some(client), q, Some(_)) =>
        ex.getResponseHeaders.set("Content-Type", "text/event-stream")
        ex.sendResponseHeaders(200, 0)
        val out = ex.getResponseBody
        def emit(event: String, data: String): Unit = {
          out.write(s"event: $event\ndata: $data\n\n"
            .getBytes(StandardCharsets.UTF_8))
          out.flush()
        }
        val chainId = s"chain-${chainSeq.incrementAndGet()}"
        val tap = new Agents.LlmClient {
          def complete(stage: String, prompt: String): String = {
            val t0 = System.nanoTime()
            val text = client.complete(stage, prompt)
            recordCall(Telemetry.CallLog(chainId, stage, "default",
              graft.operators.RegexTokenizer.countTokens(prompt).toLong,
              graft.operators.RegexTokenizer.countTokens(text).toLong,
              (System.nanoTime() - t0) / 1e9))
            emit("stage", s"""{"stage":${Json.str(stage)},"text":${Json.str(text)}}""")
            text
          }
        }
        // conversation recording: with a thread_id (app.py:927-944 ties
        // every /query to one) the question and outcome land in the
        // session store and persist — restarts restore the thread
        val threadId = Json.text(req, "thread_id")
        def record(role: String, content: String): Unit =
          for { st <- store; tid <- threadId } {
            st.append(tid, role, content); st.save(tid)
          }
        // follow-up context: the thread's PRIOR turns (already bounded by
        // SessionStore's conversation window — the reference's
        // message_manager eviction) ride into the chain ahead of the
        // question, so "and per region?" style follow-ups see what they
        // follow. Captured BEFORE recording the current turn.
        val qInContext = (store, threadId) match {
          case (Some(st), Some(tid)) =>
            st.restore(tid)
            val prior = st.messages(tid)
            if (prior.isEmpty) q
            else "PRIOR CONVERSATION:\n" + prior.map(m =>
              s"${m.role}: ${m.content}").mkString("\n") +
              s"\n\nQUESTION: $q"
          case _ => q
        }
        record("user", q)
        // active ontology: distill it for THIS question through the
        // dataframe_inspector stage (I6 front-end; the tap makes the
        // distiller call visible as a stage event like every other) and
        // stream the resulting data model — distill failures are events,
        // the chain itself still runs
        for (ttl <- ontologyTtl) {
          val profile = session.profile(dfId).getOrElse("")
          Ontology.distillTtl(tap, ttl, profile, q) match {
            case Right(model) => emit("ontology",
              s"""{"nodes":${model.nodes.length},""" +
                s""""mermaid":${Json.str(Ontology.toMermaid(model))}}""")
            case Left(e) => emit("ontology", err(e))
          }
        }
        try {
          val r = Agents.converse(session, tap, qInContext, dfId, memory,
            planning = planning)
          if (r.repair.df.nonEmpty) lastChain = Some((dfId, r))
          r.repair.df match {
            case Some(d) =>
              record("assistant", r.summary.getOrElse(""))
              emit("result",
                recordsJson(d).dropRight(1) +
                  s""","summary":${r.summary.map(Json.str).getOrElse("null")}""" +
                  s""","attempts":${r.repair.attempts}}""")
            case None =>
              val msg = r.repair.errors.lastOption.getOrElse("no result")
              record("assistant", "error: " + msg)
              emit("error", err(msg))
          }
        } catch {
          case e: Exception =>
            val msg = Lifecycle.condense(
              Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
            record("assistant", "error: " + msg)
            emit("error", err(msg))
        }
        out.close()
        ex.close()
    }
  }

  /** /submit_rank: `{"rank": N}` — completes the chain's learning step
    * asynchronously (the reference's step-11 second request,
    * app.py:973-1010): a rank at or above the [[graft.operators.RankDedup
    * .MinRank]] threshold stores the LAST successful /query chain into
    * episodic memory through the rank-dedup gate (bambooai.py:638-684). */
  private def submitRank(req: JsonNode): (Int, String) = {
    val rank = Json.long(req, "rank").getOrElse(
      return (400, err("No rank provided")))
    (lastChain, memory) match {
      case (None, _) => (404, err("no completed query chain to rank"))
      case (_, None) => (200, err("no episodic memory configured"))
      case (Some((table, r)), Some(mem)) =>
        val stored = rank >= graft.operators.RankDedup.MinRank
        if (stored) {
          val profile = session.profile(table).getOrElse("")
          mem.add(EpisodicMemory.Record(
            id = java.util.UUID.nameUUIDFromBytes(
              r.analyst.intent.getBytes("UTF-8")).toString,
            intent = r.analyst.intent, dataDescr = profile,
            plan = r.plan.steps.map("- " + _).mkString("\n"), sql = r.plan.sql,
            rank = rank))
          // learning must survive restarts: persist after every store
          // (the store is conversational metadata, bounded small — one
          // overwrite is the right durability shape)
          memoryDir.foreach(mem.save)
        }
        (200, s"""{"stored":$stored,"rank":$rank}""")
    }
  }

  // A11 telemetry for the chat surface: every tapped LLM call logs
  // (chain, stage, tokens, wall time) — the reference's log_manager cost
  // accounting (log_manager.py:82-122), token counts via the engine's
  // tokenizer seam rather than a provider SDK. BOUNDED like the
  // reference's 5 MB x 3 rotation (log_manager.py:125-192): the newest
  // `callLogCap` calls stay individually queryable; older entries roll
  // into per-agent totals on eviction, so a server alive for millions of
  // calls holds O(cap + agents) memory while /metrics aggregates keep
  // every call's mass.
  private val callLogs =
    new scala.collection.mutable.ArrayDeque[Telemetry.CallLog]()
  // agent -> (n_calls, prompt_tokens, completion_tokens, elapsed_s)
  private val rolledTotals =
    scala.collection.mutable.Map.empty[String, (Long, Long, Long, Double)]
  // /query runs on pool threads: the counter is atomic so two concurrent
  // chains never share an id (Telemetry.perChain would merge them)
  private val chainSeq = new java.util.concurrent.atomic.AtomicLong()

  private[graft] def callLogSize: Int = callLogs.synchronized(callLogs.length)
  private[graft] def callLogChainIds: Seq[String] =
    callLogs.synchronized(callLogs.map(_.chainId).toSeq)

  private[graft] def recordCall(cl: Telemetry.CallLog): Unit =
    callLogs.synchronized {
      callLogs.append(cl)
      while (callLogs.length > callLogCap) {
        val old = callLogs.removeHead()
        val (n, p, c, e) = rolledTotals.getOrElse(old.agent, (0L, 0L, 0L, 0.0))
        rolledTotals(old.agent) = (n + 1, p + old.promptTokens,
          c + old.completionTokens, e + old.elapsedS)
      }
    }

  /** /metrics: per-stage roll-up of the recorded LLM calls, computed
    * through the engine's own aggregation surface (Telemetry.toDF +
    * groupBy — the A11 contract that telemetry IS a query). The live ring
    * and the rotation totals union before the final roll-up, so totals
    * are exact across evictions. */
  private def metrics: (Int, String) = {
    val (logs, rolled) = callLogs.synchronized(
      (callLogs.toSeq, rolledTotals.toMap))
    if (logs.isEmpty && rolled.isEmpty)
      return (200, """{"data":[],"columns":[]}""")
    import org.apache.spark.sql.functions.{count, lit, round, sum}
    import session.spark.implicits._
    val live = Telemetry.toDF(session.spark, logs)
      .groupBy("agent")
      .agg(count(lit(1)).cast("long").as("n_calls"),
        sum("promptTokens").as("prompt_tokens"),
        sum("completionTokens").as("completion_tokens"),
        sum("elapsedS").as("elapsed_raw"))
    val rolledDf = rolled.toSeq
      .map { case (a, (n, p, c, e)) => (a, n, p, c, e) }
      .toDF("agent", "n_calls", "prompt_tokens", "completion_tokens",
        "elapsed_raw")
    val perStage = live.unionByName(rolledDf)
      .groupBy("agent")
      .agg(sum("n_calls").as("n_calls"),
        sum("prompt_tokens").as("prompt_tokens"),
        sum("completion_tokens").as("completion_tokens"),
        round(sum("elapsed_raw"), 3).as("elapsed_s"))
      .orderBy("agent")
    (200, recordsJson(perStage))
  }

  /** /storage/favourites: persist a favourited solution as JSON under
    * `<dataDir>/favourites/<thread_id>/<chain_id>.json`
    * (app.py:1012-1060 — same per-chain overwrite-on-refave layout). */
  private def storeFavourite(req: JsonNode): (Int, String) = {
    val threadId = Json.text(req, "thread_id").getOrElse("")
    val chainId = Json.text(req, "chain_id").getOrElse("")
    if (threadId.isEmpty || chainId.isEmpty ||
        threadId.contains("/") || chainId.contains("/"))
      return (400, err("thread_id and chain_id required"))
    val rank = Json.long(req, "rank").getOrElse(0L)
    val task = Json.text(req, "task").getOrElse("")
    val content = Json.text(req, "content").getOrElse("")
    val dir = dataDir.resolve("favourites").resolve(threadId)
    java.nio.file.Files.createDirectories(dir)
    val file = dir.resolve(s"$chainId.json")
    java.nio.file.Files.writeString(file,
      s"""{"thread_id":${Json.str(threadId)},"chain_id":${Json.str(chainId)},""" +
        s""""rank":$rank,"task":${Json.str(task)},"content":${Json.str(content)}}""")
    (200, s"""{"message":"Solution saved to favourites","filename":${
      Json.str(file.toString)}}""")
  }

  /** /download_generated_dataset?df_id=...&max_rows=N — the engine form of
    * the reference's file download (app.py:1361-1431): rather than spooling
    * a generated file through the driver, the cached TABLE streams out as
    * CSV through `toLocalIterator` — the driver holds one partition at a
    * time, never the result (the 100 TB-safe download shape). `max_rows`
    * caps the export (default 1M). */
  private def download(ex: HttpExchange): Unit = {
    val params = Option(ex.getRequestURI.getQuery).getOrElse("")
      .split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
    params.get("df_id").filter(_.nonEmpty) match {
      case None => respond(ex, 400, err("Missing 'df_id' query parameter."))
      case Some(id) => cache.get(id) match {
        case None => respond(ex, 404, err("DataFrame not found in cache"))
        case Some(df) =>
          val maxRows = params.get("max_rows").flatMap(_.toLongOption)
            .getOrElse(1000000L)
          def csvField(v: Any): String = {
            val s = if (v == null) "" else v.toString
            if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
              "\"" + s.replace("\"", "\"\"") + "\""
            else s
          }
          ex.getResponseHeaders.set("Content-Type", "text/csv")
          ex.getResponseHeaders.set("Content-Disposition",
            s"attachment;filename=$id.csv")
          ex.sendResponseHeaders(200, 0)
          val out = ex.getResponseBody
          out.write((df.columns.map(csvField).mkString(",") + "\n")
            .getBytes(StandardCharsets.UTF_8))
          val it = df.limit(
            math.min(maxRows, Int.MaxValue.toLong).toInt).toLocalIterator()
          while (it.hasNext) {
            val r = it.next()
            out.write((df.columns.indices.map(i => csvField(r.get(i)))
              .mkString(",") + "\n").getBytes(StandardCharsets.UTF_8))
          }
          out.close()
          ex.close()
      }
    }
  }

  // ---- preferences: ontology + planning (app.py:430-564) ----
  // The reference uploads a .ttl file and rebuilds its instance with the
  // path; the engine takes the TTL CONTENT, validates it through the I6
  // parser at update time (a bad ontology fails the update, not a later
  // query), and /query distills it per-question through the
  // dataframe_inspector stage into an `ontology` SSE event. The planning
  // toggle selects the plan-first Planner template (app.py:430-470).

  // written by one request thread, read by another's /query
  @volatile private var ontologyTtl: Option[String] = None
  @volatile private var planning = false

  private def updateOntology(req: JsonNode): (Int, String) =
    Json.text(req, "ttl") match {
      case Some(ttl) if ttl.nonEmpty =>
        Ontology.parseTtl(ttl) match {
          case Left(e) => (400, err(e))
          case Right(o) =>
            ontologyTtl = Some(ttl)
            (200, s"""{"message":"Ontology updated.","current_state":true,""" +
              s""""classes":${o.classes.length},"properties":${o.properties.length}}""")
        }
      // the reference's explicit-clear contract: ontology_path = ""
      case _ if Json.text(req, "ontology_path").contains("") =>
        ontologyTtl = None
        (200, """{"message":"Ontology cleared.","current_state":false}""")
      case _ => (400,
        err("must include ttl content or clear via ontology_path"))
    }

  private def updatePlanning(req: JsonNode): (Int, String) =
    Json.child(req, "planning").filter(_.isBoolean) match {
      case None => (400, err("No planning boolean provided"))
      case Some(v) =>
        planning = v.booleanValue
        (200, s"""{"planning":$planning}""")
    }

  // ---- conversation threads (web_app/app.py:1062-1469) ----
  // The reference's thread surface over [[SessionStore]]: list stored +
  // live threads, load one (restoring from disk), open a fresh one, and
  // substring-search across message content. /query participates when the
  // body carries a thread_id: the question and the outcome are appended
  // and the thread persisted, so a conversation survives restarts
  // (storage_manager.py store/restore).

  private def withStore(f: SessionStore => (Int, String)): (Int, String) =
    store match {
      case None => (200, err("no session store configured"))
      case Some(st) => f(st)
    }

  private def allThreadIds(st: SessionStore): Seq[String] =
    (st.threadIds ++ st.liveThreadIds).distinct.sorted

  private def getThreads: (Int, String) = withStore { st =>
    val rows = allThreadIds(st).map { id =>
      st.restore(id)
      val ms = st.messages(id)
      s"""{"thread_id":${Json.str(id)},"n_messages":${ms.length},""" +
        s""""preview":${Json.str(ms.headOption.map(_.content.take(80)).getOrElse(""))}}"""
    }
    (200, s"""{"threads":${rows.mkString("[", ",", "]")}}""")
  }

  private def loadThread(path: String): (Int, String) =
    withStore { st =>
      val id = path.stripPrefix("/load_thread/")
      if (id.isEmpty || id.contains("/")) (400, err("thread id required"))
      else {
        st.restore(id)
        val ms = st.messages(id)
        if (ms.isEmpty) (404, err("thread not found"))
        else (200, s"""{"thread_id":${Json.str(id)},"messages":${
          ms.map(m => s"""{"role":${Json.str(m.role)},"content":${Json.str(m.content)}}""")
            .mkString("[", ",", "]")}}""")
      }
    }

  /** /delete_chain/<thread_id>: drop the thread from memory and disk
    * (app.py:1271-1311; the engine's threads are chain-granular). */
  private def deleteChain(path: String): (Int, String) =
    withStore { st =>
      val id = path.stripPrefix("/delete_chain/")
      if (id.isEmpty || id.contains("/")) (400, err("thread id required"))
      else if (st.delete(id)) (200, """{"message":"Chain deleted."}""")
      else (404, err("thread not found"))
    }

  /** /submit_feedback: persist user feedback as JSON under
    * `<dataDir>/feedback/` (app.py:1318-1359 — flat append-only records). */
  private def submitFeedback(req: JsonNode): (Int, String) = {
    val text = Json.text(req, "feedback").getOrElse("")
    if (text.isEmpty) return (400, err("No feedback provided"))
    val rating = Json.long(req, "rating").getOrElse(0L)
    val dir = dataDir.resolve("feedback")
    java.nio.file.Files.createDirectories(dir)
    val file = dir.resolve(s"feedback-${feedbackSeq.incrementAndGet()}.json")
    java.nio.file.Files.writeString(file,
      s"""{"feedback":${Json.str(text)},"rating":$rating}""")
    (200, s"""{"message":"Feedback submitted.","filename":${Json.str(file.toString)}}""")
  }

  // seeded past the HIGHEST existing record index (not the file count —
  // after deletions a count-based seed lands inside the surviving range
  // and overwrites a record) so restarts append, never overwrite
  private val feedbackSeq = new java.util.concurrent.atomic.AtomicLong(
    Option(dataDir.resolve("feedback").toFile.listFiles())
      .map(_.flatMap(f =>
        "feedback-([0-9]+)\\.json".r.findFirstMatchIn(f.getName)
          .map(_.group(1).toLong))
        .foldLeft(0L)(math.max))
      .getOrElse(0L))

  private def newConversation: (Int, String) = withStore { _ =>
    (200, s"""{"thread_id":${Json.str("thread-" +
      java.util.UUID.randomUUID().toString.take(8))}}""")
  }

  private def searchThreads(req: JsonNode): (Int, String) = withStore { st =>
    val q = Json.text(req, "query").getOrElse("")
    if (q.isEmpty) (400, err("No query provided"))
    else {
      val hits = allThreadIds(st).filter { id =>
        st.restore(id)
        st.messages(id).exists(_.content.toLowerCase.contains(q.toLowerCase))
      }
      (200, s"""{"threads":${hits.map(Json.str).mkString("[", ",", "]")}}""")
    }
  }

  // ---- aux datasets (code_executor_api.py:379-562) ----
  // The reference spools multipart uploads onto the executor's disk and
  // deletes them on request; the engine reads distributed storage by PATH,
  // so upload/remove maintain a path REGISTRY (nothing is copied, nothing
  // is deleted from storage) while the inspection endpoints take explicit
  // file_paths exactly like the reference's.

  private val auxPaths = scala.collection.mutable.LinkedHashSet.empty[String]

  private def auxUpload(req: JsonNode): (Int, String) =
    Json.text(req, "path") match {
      case None | Some("") => (400, err("No path provided"))
      case Some(p) =>
        // validate the path is readable NOW (schema fetch only) so a bad
        // registration fails at upload time like the reference's save would
        if (p.endsWith(".csv")) Sources.csvColumns(session.spark, p)
        // head-probed: registration must stay "schema fetch only", like
        // the csv header / parquet footer branches
        else if (p.endsWith(".jsonl")) Sources.jsonlSchema(session.spark, p, 1)
        else if (p.endsWith(".json")) Sources.jsonDoc(session.spark, p).schema
        // the warc schema is the reader's fixed contract; validate the
        // path resolves like the other branches (bounded: one record)
        else if (p.endsWith(".warc") || p.endsWith(".warc.gz"))
          Sources.warc(session.spark, p).limit(1).count()
        else Sources.parquetSchema(session.spark, p)
        auxPaths += p
        (200, s"""{"message":"Auxiliary dataset registered.","filepath":${Json.str(p)}}""")
    }

  private def auxRemove(req: JsonNode): (Int, String) =
    Json.text(req, "file_path") match {
      case None | Some("") => (400, err("file_path is required"))
      case Some(p) if auxPaths.remove(p) =>
        (200, """{"message":"Auxiliary dataset removed."}""")
      case _ => (404, err("File not found on executor."))
    }

  /** Shared per-path framing of the aux inspectors: `i.\nPath: p\n<label>
    * <rendered>` joined by blank lines, per-path errors inline (the
    * reference's exact degradation — one bad path never fails the batch). */
  private def auxPerPath(req: JsonNode, label: String,
      render: DataFrame => String): (Int, String) =
    Json.strings(req, "file_paths") match {
      case None => (400, err("file_paths must be a list"))
      case Some(Nil) => (200, """{"data":"No auxiliary datasets provided."}""")
      case Some(paths) =>
        val n = Json.long(req, "num_rows").getOrElse(5L).toInt
        val parts = paths.zipWithIndex.map { case (p, i) =>
          val head = s"${i + 1}.\nPath: $p\n"
          try head + label + render(auxRead(p, n))
          catch { case e: Exception =>
            head + "Error: " + Lifecycle.condense(
              Option(e.getMessage).getOrElse(e.getClass.getSimpleName)) }
        }
        (200, s"""{"data":${Json.str(parts.mkString("\n\n"))}}""")
    }

  /** compute_aux_dataset_sample: one HTML table per path
    * (code_executor_api.py:519-562), errors as single-cell tables. */
  private def auxSampleHtml(req: JsonNode): (Int, String) =
    Json.strings(req, "file_paths") match {
      case None => (400, err("file_paths must be a list"))
      case Some(paths) =>
        val n = Json.long(req, "num_rows").getOrElse(100L).toInt
        val htmls = (if (paths.isEmpty)
          Seq("<table><tr><th>Error</th></tr><tr><td>No auxiliary dataset paths provided.</td></tr></table>")
        else paths.map { p =>
          try Sources.toHtml(auxRead(p, n), n)
          catch { case e: Exception =>
            "<table><tr><th>Error</th></tr><tr><td>" + Lifecycle.condense(
              Option(e.getMessage).getOrElse(e.getClass.getSimpleName)) +
              "</td></tr></table>" }
        }).map(Json.str).mkString("[", ",", "]")
        (200, s"""{"html_results":$htmls}""")
    }

  private def auxRead(path: String, n: Int): DataFrame =
    if (path.endsWith(".csv")) Sources.csvPreview(session.spark, path, n)
    else if (path.endsWith(".parquet") || path.endsWith(".pq"))
      Sources.parquetPreview(session.spark, path, n)
    else if (path.endsWith(".jsonl"))
      Sources.jsonlPreview(session.spark, path, n)
    else if (path.endsWith(".json"))
      Sources.jsonDoc(session.spark, path).limit(n)
    else if (path.endsWith(".warc") || path.endsWith(".warc.gz"))
      Sources.warc(session.spark, path).limit(n)
    else throw new IllegalArgumentException("Unsupported file format")

  // ---- dataset management + preview routes (app.py:620-663, 823-926) ----

  /** The reference's double-encoded preview envelope: `dataframe_html` is a
    * STRING holding `{"type":"dataframe","data":<html>}` (app.py:835-837 —
    * json.dumps nested inside jsonify), preserved verbatim so a reference
    * front-end parses our responses unchanged. */
  private def dfHtmlJson(html: String): String = {
    val inner = s"""{"type":"dataframe","data":${Json.str(html)}}"""
    s"""{"dataframe_html":${Json.str(inner)}}"""
  }

  private def cellTable(k: String, v: String): String =
    s"<table><tr><th>$k</th></tr><tr><td>$v</td></tr></table>"

  private def baseName(p: String): String =
    p.substring(p.lastIndexOf('/') + 1)

  /** /remove_primary_dataset `{"df_id": ...}` — the reference rebuilds its
    * session instance with df=None keeping aux datasets (app.py:620-663);
    * the engine form evicts the cached table, whose eviction hook unbinds
    * the id (the aux registry is untouched). 400 with the reference's message
    * when nothing is loaded under that id. */
  private def removePrimaryDataset(req: JsonNode): (Int, String) = {
    val dfId = Json.text(req, "df_id").getOrElse("")
    if (dfId.nonEmpty && cache.remove(dfId))
      (200, """{"message":"Primary dataset removed successfully."}""")
    else (400, """{"message":"No primary dataset is currently loaded."}""")
  }

  /** /get_primary_dataset_preview `{"df_id": ...}` — head(100) of the
    * cached table as the reference's HTML envelope. Mirrors app.py:823-860
    * exactly in its degradation: no/unknown df_id and render failures are
    * 200 responses carrying an Info/Error single-cell table, never 4xx
    * (the sidebar renders whatever table it gets). */
  private def primaryPreview(req: JsonNode): (Int, String) = {
    val dfId = Json.text(req, "df_id").getOrElse("")
    cache.get(dfId) match {
      case None => (200, dfHtmlJson(cellTable("Info",
        "No primary dataset is currently loaded or available.")))
      case Some(df) =>
        try (200, dfHtmlJson(Sources.toHtml(df, 100)))
        catch { case e: Exception =>
          (200, dfHtmlJson(cellTable("Error",
            "Could not generate preview for the primary dataset: " +
              Lifecycle.condense(Option(e.getMessage)
                .getOrElse(e.getClass.getSimpleName)))))
        }
    }
  }

  /** /get_dataset_preview `{"file_path": ...}` — aux-dataset preview with
    * the reference's authorization rule (app.py:823-926): only a path
    * REGISTERED for this session previews; an unknown path degrades to a
    * 200 error-table (not a 4xx), missing file_path is the one 400. */
  private def datasetPreview(req: JsonNode): (Int, String) =
    Json.text(req, "file_path") match {
      case None | Some("") => (400,
        """{"message":"File path is required for auxiliary dataset preview."}""")
      case Some(p) if !auxPaths.contains(p) =>
        (200, dfHtmlJson(cellTable("Error",
          s"File not authorized or not found for preview: ${baseName(p)}")))
      case Some(p) =>
        try (200, dfHtmlJson(Sources.toHtml(auxRead(p, 100), 100)))
        catch { case _: Exception =>
          (200, dfHtmlJson(cellTable("Error",
            s"Error generating preview for ${baseName(p)}.")))
        }
    }

  /** GET /get_chain_preview/<thread_id>/<chain_id> — the thread sidebar's
    * per-chain plot preview (app.py:1211-1269). Reads the favourited
    * chain's stored fields and scans them for an embedded plot: the
    * reference's `data-plotly-json` attribute forms (returned as
    * `plotlyData`, &quot;-unescaped like the original), or the engine's
    * own Vega-Lite `plot_spec` capture (§1.1 deviation — returned as
    * `plotSpec`, with `hasPlotly` still the presence flag the sidebar
    * keys on). Missing chain file → 404 with the reference's message. */
  private def chainPreview(path: String): (Int, String) = {
    val parts = path.stripPrefix("/get_chain_preview/").split("/")
    if (parts.length != 2 || parts.exists(p => p.isEmpty || p.contains("..")))
      return (400, err("thread_id and chain_id required"))
    val (threadId, chainId) = (parts(0), parts(1))
    val file = dataDir.resolve("favourites").resolve(threadId)
      .resolve(s"$chainId.json")
    if (!java.nio.file.Files.exists(file))
      return (404, err("Chain file not found"))
    val favourite = Json.fields(java.nio.file.Files.readString(file))
    // the reference scans contentOutput/streamOutput/tabContent; the
    // engine's storeFavourite writes `content` — accept all four
    val fields = Seq("content", "contentOutput", "streamOutput", "tabContent")
      .flatMap(Json.text(favourite, _)).filter(_.nonEmpty)
    val ids = s""""threadId":${Json.str(threadId)},"chainId":${Json.str(chainId)}"""
    fields.iterator.map(extractPlotly).collectFirst { case Some(p) => p } match {
      case Some(plotly) =>
        (200, s"""{$ids,"hasPlotly":true,"plotlyData":${Json.str(plotly)}}""")
      case None =>
        fields.iterator.map(extractPlotSpec)
          .collectFirst { case Some(sp) => sp } match {
          case Some(spec) =>
            (200, s"""{$ids,"hasPlotly":true,"plotSpec":$spec}""")
          case None => (200, s"""{$ids,"hasPlotly":false}""")
        }
    }
  }

  private def extractPlotly(content: String): Option[String] = {
    val escaped = """data-plotly-json=\\"(.*?)\\"\s""".r
    val plain = """data-plotly-json="(.*?)"""".r
    escaped.findFirstMatchIn(content).orElse(plain.findFirstMatchIn(content))
      .map(_.group(1).replace("&quot;", "\""))
  }

  /** The object an embedded `"plot_spec": {...}` holds — the /execute
    * plot capture a favourited chain carries — read as one JSON value and
    * re-serialized, so the preview never splices malformed JSON: a spec
    * that does not parse (a truncated or mangled favourite could hold
    * `{"a": }`) degrades to hasPlotly:false. */
  private def extractPlotSpec(content: String): Option[String] = {
    val key = "\"plot_spec\":"
    val at = content.indexOf(key)
    if (at < 0) None
    else Json.valueAt(content, at + key.length).filter(_.isObject).map(Json.write)
  }

  // ---- plumbing ----

  /** A JSON endpoint: the request body parsed once (see [[Json.fields]]);
    * an exception answers 200 with an `error` key. */
  private def handler(f: JsonNode => (Int, String)): HttpHandler =
    (ex: HttpExchange) => {
      val (code, json) =
        try f(Json.fields(new String(ex.getRequestBody.readAllBytes(),
          StandardCharsets.UTF_8)))
        catch {
          case e: Exception => (200, err(Lifecycle.condense(
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName))))
        }
      respond(ex, code, json)
    }

  /** [[handler]] for path-parameter endpoints like /load_thread/<id>. */
  private def pathHandler(f: String => (Int, String)): HttpHandler =
    (ex: HttpExchange) => handler(_ => f(ex.getRequestURI.getPath)).handle(ex)

  /** The reference's shared df_id guard: 400 when absent, 404 on miss. */
  private def withDf(req: JsonNode)(
      f: (String, DataFrame) => (Int, String)): (Int, String) =
    Json.text(req, "df_id") match {
      case None | Some("") => (400, err("No df_id provided"))
      case Some(id) => cache.get(id) match {
        case None => (404, err("DataFrame not found in cache"))
        case Some(df) => f(id, df)
      }
    }

  private def respond(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** `{"data": [row objects...], "columns": [...]}` — the shape
    * compute_df_sample returns (code_executor_api.py:262-266), bounded by
    * `limit` BEFORE collect. */
  private def recordsJson(df: DataFrame, limit: Int = 100): String = {
    val cols = df.columns.toSeq
    val rows = df.limit(limit).collect().map { r =>
      cols.indices.map(i =>
        Json.str(cols(i)) + ":" + PlotSpec.jsonValue(r.get(i)))
        .mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    s"""{"data":$rows,"columns":${cols.map(Json.str).mkString("[", ",", "]")}}"""
  }

  private def err(msg: String): String = s"""{"error":${Json.str(msg)}}"""
}

/** Minimal byte-safe multipart/form-data parser for the /upload route —
  * parquet payloads are binary, so the body is never decoded as text;
  * only part HEADERS (delimiters, Content-Disposition) are ASCII per
  * RFC 7578. Scope is deliberately small: find the part named `file`,
  * return (filename, content bytes). */
private[lifecycle] object MultipartForm {

  private def indexOf(hay: Array[Byte], needle: Array[Byte],
      from: Int): Int = {
    var i = from
    val last = hay.length - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** The `file` part's (filename, content), or None when absent.
    *
    * Delimiters are matched in the RFC 2046 CRLF-anchored form
    * `\r\n--boundary` (only the very first delimiter may sit at offset 0
    * without the leading CRLF), so a part whose BINARY content happens to
    * contain the bare `--boundary` bytes mid-stream can never truncate
    * the part — the boundary only counts when it begins a line. */
  def filePart(body: Array[Byte], boundary: String):
      Option[(String, Array[Byte])] = {
    val bare = ("--" + boundary).getBytes("ISO-8859-1")
    val anchored = ("\r\n--" + boundary).getBytes("ISO-8859-1")
    val crlf2 = "\r\n\r\n".getBytes("ISO-8859-1")
    // `past` = index just beyond the matched "--boundary" bytes
    var past =
      if (indexOf(body, bare, 0) == 0) bare.length
      else {
        val p = indexOf(body, anchored, 0)
        if (p < 0) return None
        p + anchored.length
      }
    while (past >= 0) {
      val headStart = past + 2 // skip CRLF ending the delimiter line
      if (headStart > body.length) return None
      val headEnd = indexOf(body, crlf2, headStart)
      if (headEnd < 0) return None
      val headers = new String(body, headStart, headEnd - headStart,
        "ISO-8859-1")
      val next = indexOf(body, anchored, headEnd + 4)
      if (next < 0) return None
      val contentEnd = next // the anchored match owns the preceding CRLF
      val disp = headers.linesIterator
        .find(_.toLowerCase.startsWith("content-disposition:"))
        .getOrElse("")
      def attr(name: String): Option[String] = {
        // lookbehind so searching `name=` never matches inside `filename=`
        val m = ("(?<![A-Za-z])" + java.util.regex.Pattern.quote(name) + "=\"")
          .r.findFirstMatchIn(disp)
        m.flatMap { mm =>
          val rest = disp.substring(mm.end)
          val q = rest.indexOf('"')
          if (q >= 0) Some(rest.substring(0, q)) else None
        }
      }
      if (attr("name").contains("file"))
        return attr("filename").map(f =>
          (f, java.util.Arrays.copyOfRange(body, headEnd + 4,
            math.max(headEnd + 4, contentEnd))))
      past = next + anchored.length
    }
    None
  }
}
