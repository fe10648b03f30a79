package graft.lifecycle

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity

/** Document-retrieval tool: chunk → embed → top-k rerank composed into the
  * agent surface — the reference's search/QA pipeline over a local corpus
  * (bambooai/google_search.py:184-259: 512-word chunks :185-188, chunk
  * embeddings :239-246, top-k cosine rerank :249-259).
  *
  * Spark-first: chunking is the same narrow slice-window transform as t1
  * (TextOps.wordChunks), embedding runs as a deterministic UDF over the
  * [[EpisodicMemory.Embedder]] seam (HashEmbedder here; a real encoder
  * drops in behind the same trait, batched via mapPartitions at scale), and
  * the rerank is the v1 shape: the question vector rides along as a
  * broadcast literal → codegen'd cosine_sim → TakeOrderedAndProject top-k.
  * The chunk index is built once (checkpoint) and probed per question — at
  * 100 TB the index is a parquet table with the embedding column and the
  * probe is a scan, no shuffle.
  */
final class Retriever(spark: SparkSession,
    embedder: EpisodicMemory.Embedder = new EpisodicMemory.HashEmbedder(),
    chunkWords: Int = 50) {

  import Retriever.Retrieved

  private var index: Option[DataFrame] = None

  /** Build the chunk index from a (doc_id, text) corpus. Embedding runs
    * through the F11 batched-mapPartitions seam (EmbedOps) — model
    * constructed per partition, texts embedded in batches. The factory
    * captures only the embedder (Serializable), never `this`. */
  def indexCorpus(corpus: DataFrame): Unit = {
    val e = embedder
    val chunks = corpus
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(words)/$chunkWords.0) as int) - 1),
           | i -> array_join(slice(words, i*$chunkWords+1, $chunkWords), ' '))""".stripMargin))
        .as(Seq("chunk_idx", "chunk")))
    val embedded = graft.operators.EmbedOps.embedColumn(
      chunks, "chunk", "emb", () => e)
    index = Some(embedded.localCheckpoint(eager = false))
  }

  /** Persist the chunk index as a parquet table — the at-scale form the
    * class doc describes: the index outlives the session and a reader
    * probes it with a scan, no re-embedding. */
  def saveIndex(path: String): Unit =
    index.getOrElse(throw new IllegalStateException(
      "indexCorpus must run before saveIndex"))
      .write.mode("overwrite").parquet(path)

  /** Attach a previously saved index; retrieval then runs without any
    * embedding pass over the corpus. */
  def loadIndex(path: String): Unit =
    index = Some(spark.read.parquet(path))

  /** Top-k chunk rerank as a DataFrame (v1 plan shape). */
  def retrieveDF(question: String, k: Int = 6): DataFrame = {
    val idx = index.getOrElse(
      throw new IllegalStateException("indexCorpus must run before retrieve"))
    val qv = typedLit(embedder.embed(question))
    idx.select(col("doc_id"), col("chunk_idx"), col("chunk"),
        round(CosineSimilarity.of(col("emb"), qv), 6).as("sim"))
      .orderBy(desc("sim"), col("doc_id"), col("chunk_idx"))
      .limit(k)
  }

  def retrieve(question: String, k: Int = 6): Seq[Retrieved] =
    retrieveDF(question, k).collect().toSeq.map(r =>
      Retrieved(r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))

  /** MMR-diversified retrieve: overfetch 3k candidates WITH their
    * embeddings, then greedy-select k via
    * [[graft.operators.VectorOps.mmrSelect]] — near-duplicate chunks (the
    * same boilerplate indexed from two pages) stop crowding the context
    * window the answer prompt is built from. λ=1 degenerates to
    * [[retrieve]] (RetrievalOntologySpec pins it). */
  def retrieveDiverse(question: String, k: Int = 6,
      lambda: Double = 0.7): Seq[Retrieved] = {
    val idx = index.getOrElse(
      throw new IllegalStateException("indexCorpus must run before retrieve"))
    val qv = typedLit(embedder.embed(question))
    val cands = idx.select(col("doc_id"), col("chunk_idx"), col("chunk"),
        col("emb"),
        round(CosineSimilarity.of(col("emb"), qv), 6).as("sim"))
      .orderBy(desc("sim"), col("doc_id"), col("chunk_idx"))
      .limit(3 * k)
      .collect()
    // key candidates by shortlist position so mmrSelect's long id maps
    // back to the full row (doc_id alone is not unique across chunks)
    val byPos = cands.zipWithIndex.map { case (r, i) => (i.toLong, r) }.toMap
    val picked = graft.operators.VectorOps.mmrSelect(
      byPos.toSeq.sortBy(_._1).map { case (i, r) =>
        (i, r.getSeq[Double](3).toArray, r.getDouble(4)) },
      k, lambda)
    picked.map { case (i, sim, _) =>
      val r = byPos(i)
      Retrieved(r.getLong(0), r.getInt(1), r.getString(2), sim)
    }
  }

  /** The composed agent tool: retrieve top-k chunks, hand them to the
    * search-summarizer stage as numbered context, return both (the
    * reference formats retrieved chunks into the QA prompt the same way,
    * google_search.py:249-269). */
  def answer(llm: Agents.LlmClient, question: String,
      k: Int = 6): (Seq[Retrieved], String) = {
    val hits = retrieve(question, k)
    val ctx = hits.zipWithIndex.map { case (h, i) =>
      s"[${i + 1}] (doc ${h.docId} chunk ${h.chunkIdx}, sim ${h.sim}) ${h.chunk}"
    }.mkString("\n")
    val ans = llm.complete("search_summarizer",
      s"QUESTION: $question\nCONTEXT:\n$ctx")
    (hits, ans)
  }
}

object Retriever {
  final case class Retrieved(docId: Long, chunkIdx: Int, chunk: String,
      sim: Double)
}
