package graft

import graft.lifecycle.{EngineSession, EpisodicMemory, ExecutorApi, LlmConfig}

/** Launchable serving entry: starts the [[graft.lifecycle.ExecutorApi]]
  * HTTP service over a local engine session — the runnable form of the
  * reference's `code_executor_api.py` + `web_app/app.py` pair.
  *
  * Env wiring (all optional):
  *   GRAFT_SERVE_PORT       bind port (default 8086; 0 = ephemeral)
  *   GRAFT_SERVE_TABLES     sf dir whose tables are pre-registered
  *                          (default /root/testdata/sf0.001)
  *   GRAFT_LLM_API_KEY etc. the [[LlmConfig.fromEnv]] provider wiring —
  *                          without a key the /query chat surface reports
  *                          "no LLM client configured" and every other
  *                          endpoint works (the inert-adapter contract)
  *   GRAFT_MEMORY_DIR       parquet dir for episodic-memory persistence
  *   GRAFT_THREADS_DIR      conversation-thread JSON dir
  *                          (default target/threads)
  *
  * Usage: sbt "runMain graft.Serve"   (Ctrl-C to stop)
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val cores = Spark.cores(4)
    val spark = Spark.local(cores, cores, logLevel = "WARN")

    val session = new EngineSession(spark)
    val sfDir = sys.env.getOrElse("GRAFT_SERVE_TABLES", "/root/testdata/sf0.001")
    // bind through the session (not a bare temp view) so the §2.12
    // validator's relation allow-list admits the corpus tables in /execute
    Tables.all.foreach(t => session.bind(t, Tables.load(spark, sfDir, t)))

    val memoryDir = sys.env.get("GRAFT_MEMORY_DIR")
    val memory = memoryDir.map { dir =>
      val m = new EpisodicMemory(spark)
      try m.load(dir) catch { case _: Exception => () } // first run: empty
      m
    }
    val store = new graft.lifecycle.SessionStore(java.nio.file.Paths.get(
      sys.env.getOrElse("GRAFT_THREADS_DIR", "target/threads")))
    val api = new ExecutorApi(session, cacheSize = 8,
      llm = LlmConfig.fromEnv(), memory = memory, store = Some(store),
      memoryDir = memoryDir)
    val port = api.start(sys.env.get("GRAFT_SERVE_PORT").map(_.toInt)
      .getOrElse(8086))
    println(s"graft executor api listening on 127.0.0.1:$port " +
      s"(tables from $sfDir)")
    // foreground service: park the main thread until interrupted
    try Thread.currentThread().join()
    finally { api.stop(); spark.stop() }
  }
}
