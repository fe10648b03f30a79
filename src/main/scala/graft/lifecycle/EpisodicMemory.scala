package graft.lifecycle

import org.apache.spark.sql.SparkSession
import graft.operators.RankDedup

/** Episodic memory — the reference's vector store of solved chains
  * (bambooai/qa_retrieval.py):
  *
  *  - retrieve (§3.1 step 5, bambooai.py:265-291): embed the intent, cosine
  *    top-5 over stored intent vectors, keep matches ≥ 0.80
  *    (bambooai.py:183), rerank the qualifiers by data-description cosine
  *    (qa_retrieval.py:100-144), return {plan, sql, rank};
  *  - store (§3.1 step 11): rank ≥ 6 gate + semantic dedup-by-rank at the
  *    strong threshold 0.94 (qa_retrieval.py:146-202) via
  *    [[graft.operators.RankDedup]].
  *
  * Embeddings: the reference calls an external model (MiniLM/OpenAI,
  * qa_retrieval.py:250-261) — non-deterministic and outside t2 per SURVEY
  * §7.5, so [[HashEmbedder]] provides a deterministic bag-of-words hash
  * embedding with the same surface. Swap in a real encoder behind the same
  * trait for deployment; every downstream operator (cosine, top-k, dedup)
  * is dimension-agnostic.
  */
object EpisodicMemory {

  /** Store size at which [[EpisodicMemory.add]] switches from the
    * driver-side exact scan to the Spark RankDedup operator. A 64-dim
    * double scan over 10k vectors is ~5 MB / sub-millisecond on the
    * driver — far below any Spark job's scheduling floor — while past it
    * the banded operator's distributed shape starts to pay. */
  val SparkPathCutoff = 10000

  // Serializable: embedders ship inside executor-side closures (Retriever's
  // embed UDF, EmbedOps.embedColumn); implementations must stay free of
  // SparkSession references.
  trait Embedder extends Serializable {
    def dim: Int
    def embed(text: String): Seq[Double]
    /** Batch hook: a real encoder overrides this with one model call per
      * batch (qa_retrieval.py:250-261 embeds lists); default maps. */
    def embedBatch(texts: Seq[String]): Seq[Seq[Double]] = texts.map(embed)
  }

  /** Deterministic stand-in: tokens hash to buckets, L2-normalized. Similar
    * word bags → similar vectors, which is all the retrieval gates need. */
  final class HashEmbedder(val dim: Int = 64) extends Embedder {
    def embed(text: String): Seq[Double] = {
      val v = new Array[Double](dim)
      text.toLowerCase.split("\\W+").filter(_.nonEmpty).foreach { w =>
        val h = scala.util.hashing.MurmurHash3.stringHash(w)
        v(math.floorMod(h, dim)) += (if ((h >> 16 & 1) == 0) 1.0 else -1.0)
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v.toSeq else v.map(_ / n).toSeq
    }
  }

  /** REAL-model encoder behind the same seam: a GloVe/word2vec-format
    * TEXT model file (optional `<count> <dim>` header line, then
    * `word v1 ... vd` per line — the published format of GloVe,
    * fastText `.vec`, and word2vec text dumps). Sentence vector =
    * mean-pooled token vectors, L2-normalized — the classic
    * bag-of-embeddings sentence encoder (Wieting et al., ICLR 2016
    * showed the unweighted mean is a strong baseline; the reference's
    * sentence-transformer call sits one quality rung above the same
    * pooling shape, qa_retrieval.py:14-35).
    *
    * Execution shape: the instance ships only the PATH; the matrix loads
    * lazily on first embed and is cached PER JVM
    * ([[WordVecEmbedder.load]]), so
    * [[graft.operators.EmbedOps.embedColumn]]'s per-partition factory
    * costs one map lookup after the executor's first partition — the
    * load-once-per-executor contract the seam documents, now exercised
    * by a real model file instead of asserted. OOV tokens contribute
    * nothing; an all-OOV text embeds to the zero vector (HashEmbedder's
    * empty-text convention). */
  final class WordVecEmbedder(val modelPath: String) extends Embedder {
    @transient private lazy val model = WordVecEmbedder.load(modelPath)
    def dim: Int = model.dim
    def embed(text: String): Seq[Double] = {
      val m = model
      val v = new Array[Double](m.dim)
      var n = 0
      text.toLowerCase.split("\\W+").filter(_.nonEmpty).foreach { w =>
        m.vecs.get(w).foreach { wv =>
          var i = 0
          while (i < m.dim) { v(i) += wv(i); i += 1 }
          n += 1
        }
      }
      if (n == 0) return v.toSeq
      var i = 0
      while (i < m.dim) { v(i) /= n; i += 1 }
      val norm = math.sqrt(v.map(x => x * x).sum)
      if (norm == 0) v.toSeq else v.map(_ / norm).toSeq
    }
  }

  object WordVecEmbedder {
    final case class Model(dim: Int, vecs: Map[String, Array[Float]])

    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, Model]()

    /** Parse-once-per-JVM model load (all partitions of all tasks on an
      * executor share the entry). Fails loudly on a malformed file —
      * model-registration errors must surface at first use, not as
      * silently-zero vectors. */
    def load(path: String): Model =
      cache.computeIfAbsent(path, p => {
        val src = scala.io.Source.fromFile(p, "UTF-8")
        try {
          val lines = src.getLines().filter(_.nonEmpty)
          require(lines.hasNext, s"empty word-vector model: $p")
          var first = lines.next().trim.split("\\s+")
          var carry: Option[Array[String]] = None
          // optional word2vec header "<count> <dim>" — ambiguous with a
          // headerless 1-d model whose first vocab token is numeric
          // (e.g. "2020 7"), so the putative header is cross-checked
          // against the next row: a real header's <dim> equals that
          // row's tokens-1. On mismatch the first line is DATA and both
          // rows are kept. (The residual coincidence — numeric token
          // whose single component also equals the next row's width —
          // is inherently undecidable and reads as a header.)
          if (first.length == 2 && first.forall(_.forall(_.isDigit))) {
            require(lines.hasNext, s"header-only word-vector model: $p")
            val second = lines.next().trim.split("\\s+")
            if (first(1).toIntOption.contains(second.length - 1))
              first = second
            else carry = Some(second)
          }
          val dim = first.length - 1
          require(dim > 0, s"no vector components in first row of $p")
          def parse(tok: Array[String]): (String, Array[Float]) = {
            require(tok.length == dim + 1,
              s"inconsistent row width in $p: '${tok.take(3).mkString(" ")}…'")
            (tok(0), tok.drop(1).map(_.toFloat))
          }
          val b = Map.newBuilder[String, Array[Float]]
          b += parse(first)
          carry.foreach(b += parse(_))
          lines.foreach(l => b += parse(l.trim.split("\\s+")))
          Model(dim, b.result())
        } finally src.close()
      })
  }

  final case class Record(id: String, intent: String, dataDescr: String,
      plan: String, sql: String, rank: Long)

  final case class Match(record: Record, similarity: Double)
}

final class EpisodicMemory(spark: SparkSession,
    embedder: EpisodicMemory.Embedder = new EpisodicMemory.HashEmbedder()) {
  import EpisodicMemory._

  val RetrieveThreshold = 0.80 // bambooai.py:183
  val TopK = 5                 // qa_retrieval.py:102

  private var records = Vector.empty[(Record, Seq[Double])]

  def size: Int = records.size

  private def cos(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length && i < b.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** qa_retrieval.retrieve_matching_record:100-144 — top-k ≥ threshold,
    * reranked by data-description similarity when provided. */
  def retrieve(intent: String, dataDescr: String = ""): Option[Match] = {
    val q = embedder.embed(intent)
    val qualified = records.map { case (r, v) => Match(r, cos(q, v)) }
      .filter(_.similarity >= RetrieveThreshold)
      .sortBy(m => (-m.similarity, m.record.id))
      .take(TopK)
    if (qualified.isEmpty) None
    else if (dataDescr.isEmpty || qualified.length == 1) qualified.headOption
    else {
      val qd = embedder.embed(dataDescr)
      Some(qualified.maxBy(m =>
        (cos(qd, embedder.embed(m.record.dataDescr)), m.record.id)))
    }
  }

  /** add_record:146-202 — rank gate + semantic dedup-by-rank. The decision
    * logic is RankDedup's, but a per-turn conversational insert into a store
    * of a few hundred vectors must not pay a Spark job's scheduling latency:
    * below [[EpisodicMemory.SparkPathCutoff]] the decision runs driver-side
    * (exact cosine scan, same tie-break as the operator's window — sim desc,
    * then store id asc); at or above it, the batch-shaped
    * [[graft.operators.RankDedup.upsert]] takes over.
    *
    * Path parity: the driver scan is EXACT, the Spark path finds matches
    * through RankDedup's banded RP-LSH join, whose candidate recall is
    * probabilistic — so decisions are identical MODULO band recall (8 bands,
    * miss rate (1-p^planes)^8 with p = 1-θ/π ≥ 0.889 at the 0.94 gate,
    * i.e. ≤ ~1e-8 per pair at the default 4 planes). A true ≥0.94 match
    * that misses every band would insert on the Spark path where the local
    * path replaces/discards. EpisodicSpec asserts decision parity on
    * exact-duplicate, no-match, AND borderline ~0.95-0.99 non-identical
    * pairs, characterizing the recall caveat rather than hiding it. */
  def add(record: Record): Unit = {
    if (record.rank < RankDedup.MinRank) return
    val v = embedder.embed(record.intent)
    val (replaced, inserted) =
      if (records.size < SparkPathCutoff) decideLocal(record.rank, v)
      else decideSpark(record.rank, v)
    val kept = records.zipWithIndex.collect {
      case ((r, w), i) if !replaced(i) => (r, w)
    }
    records = kept ++ (if (inserted) Vector((record, v)) else Vector.empty)
  }

  /** Driver-side single-candidate decision: best store match ≥ 0.94 by
    * (similarity desc, index asc) — the identical ordering to RankDedup's
    * row_number window (desc(msim), sid asc), so the two paths can't pick
    * different best matches. Returns (replaced store indices, inserted). */
  private[graft] def decideLocal(rank: Long, v: Seq[Double]): (Set[Int], Boolean) = {
    var bestI = -1; var bestSim = RankDedup.StrongThreshold
    records.iterator.zipWithIndex.foreach { case ((_, w), i) =>
      val s = cos(v, w)
      if (s > bestSim || (s == bestSim && bestI < 0)) { bestSim = s; bestI = i }
    }
    if (bestI < 0) (Set.empty, true) // no qualifying match → insert (:200-202)
    else if (rank > records(bestI)._1.rank) (Set(bestI), true) // replace (:196-198)
    else (Set.empty, false) // discard
  }

  /** Persist the record store (metadata + intent vectors) as parquet —
    * the durability the reference gets from its persistent vector index
    * (qa_retrieval.py:4,247-275: the index outlives the process, so
    * learned plan/code pairs survive restarts). Store order is part of
    * the semantics (tie-breaks use the store index), so each row carries
    * its position and [[load]] restores it exactly. The store is
    * conversational metadata — bounded small by nature — so one
    * parquet table is the right physical shape (the 100 TB corpora this
    * engine processes live in the operator artifacts, not here). */
  def save(path: String): Unit = {
    import spark.implicits._
    records.zipWithIndex.map { case ((r, v), i) =>
      (i, r.id, r.intent, r.dataDescr, r.plan, r.sql, r.rank, v)
    }.toDF("pos", "id", "intent", "data_descr", "plan", "sql", "rank", "v")
      .write.mode("overwrite").parquet(path)
  }

  /** Replace the in-memory store with a previously [[save]]d one. The
    * persisted intent vectors are reused as-is, so the loading instance
    * must use the same embedder family the saving one did (retrieval
    * embeds only the QUERY side). */
  def load(path: String): Unit = {
    records = spark.read.parquet(path)
      .orderBy(org.apache.spark.sql.functions.col("pos"))
      .collect()
      .map(r => (Record(r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5), r.getLong(6)),
        r.getSeq[Double](7)))
      .toVector
  }

  /** Bulk-path decision through the oracle-gated Spark operator (dd5). */
  private[graft] def decideSpark(rank: Long, v: Seq[Double]): (Set[Int], Boolean) = {
    import spark.implicits._
    val candId = records.size.toLong // any id outside 0..size-1
    val storeDF = records.zipWithIndex.map { case ((r, w), i) =>
      (i.toLong, w, r.rank)
    }.toDF("id", "v", "rank")
    val candDF = Seq((candId, v, rank)).toDF("id", "v", "rank")
    val result = RankDedup.upsert(storeDF, candDF, embedder.dim)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    val replaced = records.indices.filter(i =>
      !result.get(i.toLong).contains("kept")).toSet
    (replaced, result.get(candId).contains("inserted"))
  }
}
