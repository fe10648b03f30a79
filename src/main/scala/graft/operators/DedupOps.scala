package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline surface:
  * exact (hash group), MinHash+LSH (shingle → minhash → band → bucket join →
  * Jaccard verify), and SimHash fingerprints.
  *
  * The reference's dedup is the episodic-memory replace gate
  * (qa_retrieval.py:146-202: replace iff sim ≥ strong-threshold and new rank
  * higher); these operators generalize it to corpus-scale text dedup.
  *
  * Scale notes (the 100 TB shape):
  * - exact dedup is one hash-shuffle on md5(text) — Spark's groupBy gives
  *   map-side partial aggregation of the min-id;
  * - MinHash signatures/bands are a narrow projection (no shuffle); the only
  *   shuffles are the band-key self-join (bounded by bucket sizes, the whole
  *   point of LSH) and the Jaccard verify on candidate pairs only;
  * - SimHash is a narrow word-explode + one groupBy(doc) — at scale the
  *   explode stays inside the stage, so cost is O(total tokens).
  *
  * MinHash hashes each distinct shingle ONCE (48 bits of md5, folded to an
  * integer with portable hex-digit arithmetic) and derives the k signature
  * values with a universal-hash family h_j(x) = (a_j·x + b_j) mod p,
  * p = 2^31−1 — the textbook scheme. One md5 per shingle instead of k, and
  * the Jaccard verify joins on the same integers instead of shingle
  * strings, which at 100 TB is the difference between shuffling long text
  * n-grams and shuffling longs. All arithmetic is engine-portable (the
  * DuckDB oracle computes the identical signatures).
  *
  * The corpus for the dup-finding queries plants perturbed copies
  * (doc_id + the corpus-derived [[plantStride]] — 100000 at the driver
  * fixtures — text + ' zz qq vv' for doc_id % 17 == 0) so every scale
  * factor contains known near-duplicates; the fixture corpus itself is
  * dup-free below sf0.1.
  */
object DedupOps {
  import graft.Q.{Q, documents}

  private val NumHashes = 12
  private val BandSize = 3
  private val NumBands = NumHashes / BandSize
  private val SimBits = 24

  /** Mersenne prime modulus for the universal-hash family. */
  private val P = 2147483647L
  /** Fixed (a_j, b_j) per signature slot — deterministic, embedded into both
    * the Spark and the DuckDB SQL so the engines agree exactly. */
  private val HashAB: Seq[(Long, Long)] = (0 until NumHashes).map { j =>
    ((1103515245L * (2 * j + 1)) % P, (12345L + 1000003L * j) % P)
  }

  // ---- plant stride (corpus-derived) ----

  /** Anchor for the plant stride: the value every driver fixture
    * (sf0.001-0.1, doc_id < 100000) derives, keeping their planted corpora
    * byte-identical across rounds. */
  private val PlantAnchor = 100000L

  private val strideByDir =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Plant stride for a fixture dir: the smallest power of 10 ABOVE every
    * base doc_id, floored at the anchor. Planted copy ids are base +
    * k·stride, and c1 recovers provenance as doc_id % stride — sound for
    * any id range by construction (a pinned 100000 mis-joined a widened
    * sf1 fixture whose ids reach 9e6, which only a loud guard caught; the
    * derivation replaces the guard). Power of 10 rather than pow2 so the
    * planted ids stay eyeball-decodable in failures (base 4352 → copy
    * 104352). One column-pruned max() scan per dir, cached — c1 builds
    * its corpus several times per query. The DuckDB oracles share the
    * derivation via [[strdCte]], so both engines shift together. */
  private def plantStride(s: SparkSession, d: String): Long =
    strideByDir.computeIfAbsent(d, _ => {
      val row = documents(s, d).agg(max("doc_id")).head()
      // max() over zero rows is NULL: surface the empty-fixture case with
      // the intended loud message instead of an opaque NPE from getLong.
      require(!row.isNullAt(0), "plantStride: empty documents table")
      val maxId = row.getLong(0)
      // 10^15 < 2^53: the pow stays exact in Double and 2·stride in Long
      require(maxId >= 0 && maxId < 1000000000000000L,
        s"plantStride: base doc_id $maxId outside derivable range")
      math.max(PlantAnchor, math.pow(10.0, maxId.toString.length).toLong)
    })

  /** The same derivation in DuckDB — a 1-row CTE every planted-corpus
    * oracle carries; digits(max id) is exact integer logic (10^len(str(m))
    * is the smallest power of 10 > m), matching `plantStride`. */
  private val strdCte =
    """strd AS (SELECT greatest(100000, CAST(power(10,
      |   length(CAST(max(doc_id) AS VARCHAR))) AS BIGINT)) AS st
      |  FROM documents)""".stripMargin

  // ---- exact dedup ----

  /** Exact dedup: canonical = min doc_id per content hash. Plants IDENTICAL
    * copies (doc_id + plant stride) so exact duplicates exist at every sf. */
  def exactDedup: Q = (s, d) => {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val corpus = docs.unionByName(docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + plantStride(s, d)).as("doc_id"), col("text")))
    val w = Window.partitionBy(md5(col("text")))
    corpus.select(col("doc_id"), min("doc_id").over(w).as("canonical"))
      .withColumn("is_dup", col("doc_id") =!= col("canonical"))
  }

  // ---- MinHash + LSH ----

  /** 3-word shingle set (distinct) over `words`, the DuckDB dialect. */
  private val shinglesDistinctDuck =
    "list_distinct(list_transform(range(0, greatest(len(words)-3, 0) + 1)," +
      " i -> array_to_string(words[(i+1):(i+3)], ' ')))"

  private def sigExprDuck(j: Int): String = {
    val (a, b) = HashAB(j)
    s"list_min(list_transform(hs, h -> ($a * (h % $P) + $b) % $P))"
  }

  /** Spark side computes ALL signature slots with the fused codegen'd
    * [[graft.functions.MinHashSignatures]] expression (one primitive loop;
    * the k-separate `array_min(transform(...))` form evaluates interpreted
    * lambdas and dominated the 10x-scale LSH probe). Values are identical
    * to the DuckDB per-slot form. */
  private def registerSigs(s: SparkSession): Unit =
    graft.functions.MinHashSignatures.register(
      s, HashAB.map(_._1), HashAB.map(_._2), P)

  /** Band key = the band's signature triple, separator-joined (no hashing
    * needed — only equality structure matters for bucketing). `||` rather
    * than concat_ws: both engines' `||` PROPAGATES null, so a null-text
    * document gets null band keys and is null-filtered out of the equi
    * self-join instead of colliding every null doc into one '' bucket
    * (concat_ws skips nulls — an O(nulls²) blow-up at corpus scale). */
  private def bandExprs(sig: Int => String): Seq[String] =
    (0 until NumBands).map { b =>
      val parts = (0 until BandSize).map(k => sig(b * BandSize + k))
      "(" + parts.mkString(" || '|' || ") + ")"
    }

  /** Shared front of the MinHash pipeline: doc_id + distinct shingle-hash
    * array (48 bits of md5 per shingle). Pure map-side projection — no
    * shuffle, scales at scan speed. The shingling + hashing runs as the
    * fused [[graft.functions.ShingleHashes]] expression (one primitive
    * loop per document); the former three-HOF chain evaluated every
    * lambda interpreted with a per-shingle hex→conv re-parse and measured
    * ~0.5 s of the ~0.7 s LSH front at sf0.1. Values are bit-identical
    * (ShingleHashesSpec pins the equality against the composed form). */
  private def docShingleHashesOf(corpus: DataFrame): DataFrame = {
    graft.functions.ShingleHashes.register(corpus.sparkSession)
    corpus
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), expr("shingle_hashes(words)").as("hs"))
  }

  private def docShingleHashes(s: SparkSession, d: String): DataFrame =
    docShingleHashesOf(plantedCorpus(s, d))

  /** Same front in DuckDB, as CTEs ending in `docs(doc_id, hs)`. Leads
    * with [[strdCte]] so every planted corpus SQL can reference `strd`. */
  private def docShingleHashesDuckOf(corpus: String): String =
    s"""$strdCte,
       | corpus AS ($corpus),
       | w AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
       | shl AS (SELECT doc_id, $shinglesDistinctDuck AS shs FROM w),
       | docs AS (SELECT doc_id,
       |   list_transform(shs, x -> ('0x' || substr(md5(x), 1, 12))::BIGINT) AS hs
       |   FROM shl)""".stripMargin

  private lazy val docShingleHashesDuck: String =
    docShingleHashesDuckOf(corpusSql)

  private[graft] def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    val st = plantStride(s, d)
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    docs.unionByName(docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + st).as("doc_id"),
        concat(col("text"), lit(" zz qq vv")).as("text")))
  }
  private val corpusSql =
    """SELECT doc_id, text FROM documents UNION ALL
      | SELECT doc_id + (SELECT st FROM strd) AS doc_id,
      |  text || ' zz qq vv' AS text
      | FROM documents WHERE doc_id % 17 = 0""".stripMargin

  val exactDedupOracle: String =
    s"""WITH $strdCte,
       | corpus AS (SELECT doc_id, text FROM documents UNION ALL
       |  SELECT doc_id + (SELECT st FROM strd) AS doc_id, text
       |  FROM documents WHERE doc_id % 17 = 0)
       |SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical,
       | doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
       |FROM corpus""".stripMargin

  /** MinHash signatures → LSH band bucket keys per document (the index-build
    * side of LSH dedup).
    *
    * Shape: per-document array ops — ONE md5 per distinct shingle, then the
    * 12 signature minima are pure integer transforms. A map-side projection
    * with NO shuffle; the explode + groupBy(doc).agg(min×k) alternative was
    * measured ~40% slower at sf0.1 and adds a shuffle of |corpus|·|shingles|
    * rows, which at 100 TB is the difference between a scan-speed pass and
    * a multi-TB exchange. */
  def minhashBands: Q = (s, d) => {
    registerSigs(s)
    val bands = bandExprs(j => s"element_at(sigv, ${j + 1})").zipWithIndex
      .map { case (e, b) => expr(e).as(s"band_$b") }
    docShingleHashes(s, d)
      .select(col("doc_id"), expr("minhash_sigs(hs)").as("sigv"))
      .select(col("doc_id") +: bands: _*)
  }

  val minhashBandsOracle: String = {
    val sigs = (0 until NumHashes).map(j => s"${sigExprDuck(j)} AS sig$j")
    val bands = bandExprs(j => s"sig$j").zipWithIndex
      .map { case (e, b) => s"$e AS band_$b" }
    s"""WITH $docShingleHashesDuck,
       | sigs AS (SELECT doc_id, ${sigs.mkString(", ")} FROM docs)
       |SELECT doc_id, ${bands.mkString(", ")} FROM sigs""".stripMargin
  }

  /** LSH candidate pairs (shared band bucket) verified by exact n-gram
    * Jaccard ≥ 0.4 over the hashed shingle sets — the full dedup-pair
    * pipeline. The shingle-hash array is computed once and reused for the
    * band index, the per-doc set size (map-side `size()`, no groupBy), and
    * the verify — which runs as a MAP-SIDE `array_intersect` on the two
    * fetched hash arrays (hs is a distinct set, so intersect size = the
    * oracle's matched-pair count). Earlier this verify exploded the shingle
    * table and re-aggregated: three extra shuffles of |corpus|·|shingles|
    * rows plus two dimension joins; under the cluster-shape config
    * (broadcast off, 200 shuffle partitions) that plan measured 3.2x its
    * default-config time, while pair-wise fetch+intersect keeps the verify
    * in the candidate-pair cardinality — the LSH point — in BOTH configs. */
  def lshJaccardPairs: Q = (s, d) =>
    lshPairsOf(s, plantedCorpus(s, d))

  /** Per-document MinHash index rows over any (doc_id, text) corpus:
    * (doc_id, hs, n, sigv) — the reusable front of the LSH family. One
    * materialized-once projection carries the hash set, its size, AND the
    * 12 signature minima — a band self-join would otherwise evaluate the
    * signature lambdas twice (once per join side). localCheckpoint, not
    * cache(): blocks are released when the plan is GC'd (no CacheManager
    * entry leaked per invocation) and a later invocation can never
    * silently reuse an earlier one's materialization through plan-equality
    * matching. [[graft.operators.ClusterIndex]] persists exactly these
    * columns so an incremental append never recomputes them for the
    * existing corpus. */
  private[graft] def lshDocsOf(corpus: DataFrame): DataFrame = {
    registerSigs(corpus.sparkSession)
    docShingleHashesOf(corpus)
      .select(col("doc_id"), col("hs"), size(col("hs")).as("n"),
        expr("minhash_sigs(hs)").as("sigv"))
      .localCheckpoint(eager = false)
  }

  /** LSH band bucket keys of an [[lshDocsOf]] frame: (doc_id, bk). */
  private[graft] def lshBandsOf(docs: DataFrame): DataFrame = {
    val bandArr = array(bandExprs(j => s"element_at(sigv, ${j + 1})").map(expr): _*)
    docs.select(col("doc_id"), explode(bandArr).as("bk"))
  }

  /** Band keys reconstructed from STORED shingle hashes (`hs`, as the
    * cluster index persists per label row) — `minhash_sigs` is
    * deterministic on `hs`, so this equals [[lshBandsOf]] ∘ [[lshDocsOf]]
    * without needing the original text. The at-rest delete path uses it to
    * locate a doc's band-index rows. */
  private[graft] def lshBandsFromStored(rows: DataFrame): DataFrame = {
    registerSigs(rows.sparkSession)
    lshBandsOf(rows.select(col("doc_id"), col("hs"),
      expr("minhash_sigs(hs)").as("sigv")))
  }

  /** Exact n-gram Jaccard ≥ 0.4 verify of candidate pairs (a_id, b_id)
    * against a (doc_id, hs, n) lookup covering both sides — a map-side
    * array_intersect on the two fetched hash sets, in candidate-pair
    * cardinality (the LSH point). */
  private[graft] def lshVerify(cand: DataFrame, lookup: DataFrame): DataFrame = {
    // round6, not round: the jaccard rounds once per CANDIDATE pair, and
    // Spark's round pays a BigDecimal-via-string per call (the r15
    // profile); bit-equal swap, oracle unchanged
    graft.functions.Round6.register(cand.sparkSession)
    cand
      .join(lookup.select(col("doc_id").as("a_id"), col("hs").as("ha"),
        col("n").as("na")), Seq("a_id"))
      .join(lookup.select(col("doc_id").as("b_id"), col("hs").as("hb"),
        col("n").as("nb")), Seq("b_id"))
      .withColumn("ninter", size(array_intersect(col("ha"), col("hb"))))
      .select(col("a_id"), col("b_id"),
        call_function("round6", col("ninter") /
          (col("na") + col("nb") - col("ninter")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.4)
  }

  /** Full banded pair discovery over an [[lshDocsOf]] frame. */
  private[graft] def lshPairsFromDocs(docs: DataFrame): DataFrame = {
    val bands = lshBandsOf(docs)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    lshVerify(cand, docs)
  }

  /** [[lshJaccardPairs]] over an arbitrary (doc_id, text) corpus — the
    * pair-producing front the cluster-resolution query (dd7) composes on. */
  private[graft] def lshPairsOf(s: SparkSession, corpus: DataFrame): DataFrame =
    lshPairsFromDocs(lshDocsOf(corpus))

  /** The full LSH-pair pipeline in DuckDB as a CTE chain ending in
    * `pairs(a_id, b_id, jaccard)` — shared by the dd3 and dd7 oracles. */
  private def lshPairsCtesOf(corpus: String): String = {
    val sigs = (0 until NumHashes).map(j => s"${sigExprDuck(j)} AS sig$j")
    val bandList = bandExprs(j => s"sig$j").mkString(", ")
    s"""${docShingleHashesDuckOf(corpus)},
       | cnt AS (SELECT doc_id, len(hs) AS n FROM docs),
       | sigs AS (SELECT doc_id, ${sigs.mkString(", ")} FROM docs),
       | bands AS (SELECT doc_id, unnest([$bandList]) AS bk FROM sigs),
       | cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |   FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
       | shd AS (SELECT doc_id, unnest(hs) AS h FROM docs),
       | inter AS (SELECT c.a_id, c.b_id, count(*) AS ninter FROM cand c
       |   JOIN shd x ON x.doc_id = c.a_id
       |   JOIN shd y ON y.doc_id = c.b_id AND y.h = x.h
       |   GROUP BY c.a_id, c.b_id),
       | pairs AS (SELECT a_id, b_id,
       |   round(ninter / CAST(ca.n + cb.n - ninter AS DOUBLE), 6) AS jaccard
       |  FROM inter JOIN cnt ca ON a_id = ca.doc_id JOIN cnt cb ON b_id = cb.doc_id
       |  WHERE round(ninter / CAST(ca.n + cb.n - ninter AS DOUBLE), 6) >= 0.4)""".stripMargin
  }

  val lshJaccardPairsOracle: String =
    s"WITH ${lshPairsCtesOf(corpusSql)}\nSELECT a_id, b_id, jaccard FROM pairs"

  // ---- duplicate-cluster resolution (dd7) ----

  /** Corpus with a planted CHAIN of near-duplicates per selected doc:
    * A (original), B = A + 3 words, C = A + 5 words. Copy ids are base +
    * k·[[plantStride]]; c1 recovers provenance as doc_id % stride, sound
    * for any fixture id range because the stride is derived per dir. */
  private def plantedCorpus3(s: SparkSession, d: String): DataFrame = {
    val st = plantStride(s, d)
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val sel = docs.filter(col("doc_id") % 17 === 0)
    docs
      .unionByName(sel.select((col("doc_id") + st).as("doc_id"),
        concat(col("text"), lit(" zz qq vv")).as("text")))
      .unionByName(sel.select((col("doc_id") + 2 * st).as("doc_id"),
        concat(col("text"), lit(" zz qq vv ww yy")).as("text")))
  }
  private val corpus3Sql =
    """SELECT doc_id, text FROM documents
      | UNION ALL SELECT doc_id + (SELECT st FROM strd) AS doc_id,
      |   text || ' zz qq vv' AS text
      |   FROM documents WHERE doc_id % 17 = 0
      | UNION ALL SELECT doc_id + 2 * (SELECT st FROM strd) AS doc_id,
      |   text || ' zz qq vv ww yy' AS text
      |   FROM documents WHERE doc_id % 17 = 0""".stripMargin

  /** dd7: transitive duplicate-cluster resolution — LSH pairs →
    * [[GraphOps.connectedComponents]] → (doc_id, component-min). The
    * direct original↔second-copy edges are dropped from the pair set
    * before clustering, simulating the band misses that make LSH edge
    * discovery probabilistic: C's membership in A's cluster is then only
    * derivable transitively through B, which is exactly the case that
    * forces cluster resolution to be a graph computation rather than a
    * per-pair min. */
  def dupClusters: Q = (s, d) => {
    val corpus = plantedCorpus3(s, d)
    GraphOps.connectedComponents(corpus.select(col("doc_id").as("id")),
        dupClusterEdges(s, d))
      .select(col("id").as("doc_id"), col("component"))
  }

  /** The dd7 edge set (canonical a < b) — exposed for the spec's
    * independent union-find cross-check. */
  private[graft] def dupClusterEdges(s: SparkSession, d: String): DataFrame = {
    val st = plantStride(s, d)
    lshPairsOf(s, plantedCorpus3(s, d))
      .filter(!(col("a_id") < st && col("b_id") >= 2 * st))
      .select(col("a_id").as("a"), col("b_id").as("b"))
  }

  /** dd7's full CTE chain (recursive min-id propagation), ending in
    * `comps(doc_id, component)` — shared with the dd8 retention oracle. */
  private lazy val compsCtes: String =
    s"""${lshPairsCtesOf(corpus3Sql)},
       | kept AS (SELECT a_id, b_id FROM pairs
       |   WHERE NOT (a_id < (SELECT st FROM strd)
       |     AND b_id >= 2 * (SELECT st FROM strd))),
       | edges AS (SELECT a_id AS u, b_id AS v FROM kept
       |   UNION ALL SELECT b_id AS u, a_id AS v FROM kept),
       | reach(id, comp) AS (
       |   SELECT doc_id, doc_id FROM corpus
       |   UNION
       |   SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.id),
       | comps AS (SELECT id AS doc_id, min(comp) AS component
       |   FROM reach GROUP BY id)""".stripMargin

  val dupClustersOracle: String =
    s"WITH RECURSIVE $compsCtes\nSELECT doc_id, component FROM comps"

  /** dd8: cluster retention — the decision step a production dedup actually
    * ships: keep exactly ONE document per duplicate cluster, by the
    * keep-the-most-complete policy (max word count, doc_id tie-break), and
    * label every other member with its canonical survivor. One window over
    * the component key; cluster sizes are near-dup groups (small by
    * nature), so the partition-by carries no skew risk at scale. */
  def clusterRetention: Q = (s, d) => {
    val words = plantedCorpus3(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_words"))
    val w = Window.partitionBy("component")
      .orderBy(desc("n_words"), col("doc_id"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dupClusters(s, d).join(words, "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
      .withColumn("canonical", first("doc_id").over(wFull))
      .select(col("doc_id"), col("component"), col("n_words"),
        col("keep"), col("canonical"))
  }

  /** c1: the curation funnel — the composed shape a pretraining pipeline
    * actually ships: duplicate-cluster retention (dd8's keepers) → quality
    * floor (t3's score ≥ 0.5) → deterministic stratified mixture (t6's
    * hash quotas). Downstream of the cluster labels (which the CC operator
    * materializes internally, by design) everything composes into one
    * declarative plan Catalyst optimizes as a whole — retention window,
    * quality join, language join, and both filters. Every stage is
    * individually oracle-gated; this gate proves the composition.
    *
    * Cluster-shape ratio, diagnosed (round-10 pinned re-measure at sf0.1,
    * 7 runs, isolated JVMs: default median 1.71 s spread 0.67, cluster
    * 3.58 s spread 0.60 — the ~2.1x is real, not noise): with
    * auto-broadcast off, the three doc_id joins (retention⋈words, ⋈qual,
    * ⋈lang) plan as SortMergeJoins. That is the CORRECT 100 TB plan —
    * all three right sides are corpus-sized projections that must
    * shuffle at scale; the default shape only broadcasts them because at
    * toy scale they fit under the threshold. The extra wall time is
    * 200-partition task overhead on three honest shuffles at sf0.1
    * (~600 near-empty tasks each), the same toy-vs-scale inversion
    * BASELINE.md §skew documents — not an un-hinted dim join (PlanGateSpec's
    * dim-shuffle gate passes c1; nothing here is fixed-cardinality). */
  def curationFunnel: Q = (s, d) => {
    val st = plantStride(s, d)
    // composes the REAL operators: TextOps' factored t3 formula pieces and
    // the t6 mixtureFilter — an inline copy would silently drift from the
    // oracle-gated queries if their weights/quotas changed
    val qual = plantedCorpus3(s, d)
      .select(col("doc_id"), TextOps.wordStats(col("text")).as("ws"))
      .select(col("doc_id"),
        TextOps.uniqRatioOf(col("ws")).as("uniq_ratio"),
        TextOps.stopRatioOf(col("ws")).as("stop_ratio"))
    val lang = documents(s, d).select(col("doc_id").as("orig_id"), col("lang"))
    val survivors = clusterRetention(s, d).filter(col("keep"))
      .join(qual, "doc_id")
      .withColumn("quality_score", TextOps.qualityScoreCol(col("n_words"),
        col("uniq_ratio"), col("stop_ratio")))
      .filter(col("quality_score") >= 0.5)
      .withColumn("orig_id", col("doc_id") % st)
      .join(lang, "orig_id")
    TextOps.mixtureFilter(survivors)
      .select(col("doc_id"), col("lang"), col("component"),
        col("n_words"), col("quality_score"), col("bucket"))
  }

  val curationFunnelOracle: String =
    s"""WITH RECURSIVE $compsCtes,
       | wd AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER)
       |   AS n_words FROM corpus),
       | ranked AS (SELECT c.doc_id, c.component, wd.n_words,
       |   row_number() OVER (PARTITION BY c.component
       |     ORDER BY wd.n_words DESC, c.doc_id) AS rn
       |  FROM comps c JOIN wd ON wd.doc_id = c.doc_id),
       | qual AS (SELECT doc_id,
       |   round(len(list_distinct(words)) / CAST(len(words) AS DOUBLE), 6)
       |    AS uniq_ratio,
       |   round(len(list_filter(words,
       |     w -> w IN ('the','a','of','and','to','in','is')))
       |     / CAST(len(words) AS DOUBLE), 6) AS stop_ratio
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM corpus)),
       | scored AS (SELECT r.doc_id, r.component, r.n_words,
       |   round(least(CAST(r.n_words AS DOUBLE) / 100.0, 1.0) * 0.4 +
       |     q.uniq_ratio * 0.3 + least(q.stop_ratio * 5.0, 1.0) * 0.3, 8)
       |    AS quality_score
       |  FROM ranked r JOIN qual q ON q.doc_id = r.doc_id WHERE r.rn = 1)
       |SELECT s.doc_id, l.lang, s.component, s.n_words, s.quality_score,
       | ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 12))::BIGINT % 100
       |  AS bucket
       |FROM scored s JOIN documents l
       |  ON l.doc_id = s.doc_id % (SELECT st FROM strd)
       |WHERE s.quality_score >= 0.5
       | AND ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 12))::BIGINT % 100
       |  < CASE l.lang WHEN 'en' THEN 60 WHEN 'fr' THEN 30 ELSE 10 END""".stripMargin

  val clusterRetentionOracle: String =
    s"""WITH RECURSIVE $compsCtes,
       | wd AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER)
       |   AS n_words FROM corpus),
       | ranked AS (SELECT c.doc_id, c.component, wd.n_words,
       |   row_number() OVER (PARTITION BY c.component
       |     ORDER BY wd.n_words DESC, c.doc_id) AS rn,
       |   first_value(c.doc_id) OVER (PARTITION BY c.component
       |     ORDER BY wd.n_words DESC, c.doc_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |    AS canonical
       |  FROM comps c JOIN wd ON wd.doc_id = c.doc_id)
       |SELECT doc_id, component, n_words, rn = 1 AS keep, canonical
       |FROM ranked""".stripMargin

  // ---- SimHash ----

  private val hexDigitsSpark = (0 until 6).map(p =>
    s"(instr('0123456789abcdef', substring(h, ${p + 1}, 1)) - 1) * ${math.pow(16, 5 - p).toLong}")
  private val hexDigitsDuck = (0 until 6).map(p =>
    s"(strpos('0123456789abcdef', substr(h, ${p + 1}, 1)) - 1) * ${math.pow(16, 5 - p).toLong}")

  private def contribExpr(wh: String, b: Int): String =
    s"CASE WHEN ($wh & ${1L << b}) != 0 THEN 1 ELSE -1 END"

  /** SimHash core over any (doc_id, text) frame: `bits`-wide fingerprint
    * from unweighted word-hash bit votes — ONE map-only byte scan per
    * document ([[graft.functions.SimHashText]]; §2.3/§4, the SurprisalSum
    * treatment: no token explosion, no groupBy exchange). The composed
    * explode + per-bit-sums form lives in SimHashTextSpec as the
    * equality oracle. Null-text docs are dropped in both
    * arms (explode(null) emits no rows; the fused arm filters them). */
  private[graft] def simhashOf(df: DataFrame, bits: Int, digits: Int): DataFrame =
    df.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.SimHashText.of(col("text"), digits, bits, null)
          .as("simhash"))

  /** SimHash: per-document fingerprint; near-dups differ in few bits. */
  def simhash: Q = (s, d) =>
    simhashOf(documents(s, d).select(col("doc_id"), col("text")),
      SimBits, SimBits / 4)

  /** IDF-weighted 48-bit SimHash (the Manku/Charikar form: features carry
    * weights, not raw counts). Unweighted simhash degenerates on a
    * distribution-homogeneous corpus — the shared common-word majority sets
    * every bit the same way (measured: 33 identical 48-bit fingerprints
    * among 531 fixture docs) — so words are weighted by integer IDF bucket:
    * df ≤ N/20 → 4, df ≤ N/5 → 2, else 1. Integer weights keep the vote
    * sums associativity-free, so Spark and DuckDB agree bit-for-bit.
    * At 100 TB the df table is the corpus vocabulary (small; broadcast) —
    * or a fixed common-word list, removing the df pass entirely. */
  /** Vocab-row ceiling for the driver-hosted weight map (the
    * SurprisalSum argument: the df table is ALREADY broadcast-joined in
    * the composed form, so expression hosting is the same memory class;
    * head(N+1) bounds the probe itself). */
  private[graft] val SimHashMaxVocab: Int = 1 << 20

  private[graft] def weightedSimhash48(s: SparkSession, df: DataFrame,
      bits: Int = 48): DataFrame = {
    // word-hash width follows the fingerprint: ceil(bits/4) hex digits of
    // md5, capped at 15 (60 bits — the BIGINT-safe fold); the pinned 48-bit
    // oracle query keeps its 12 digits exactly.
    val digits = math.min(15, (bits + 3) / 4)
    // corpus size and document frequency without countDistinct: every doc
    // has >= 1 word, and df(word) = row count over per-doc-distinct words.
    val n = df.agg(count(lit(1)).as("nd"))
    val dfreq = df
      .select(explode(array_distinct(split(col("text"), " "))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("df_"))
    // vote pass: ONE map-only byte scan per document against the
    // driver-hosted (word → IDF-bucket weight) map
    // ([[graft.functions.SimHashText]]; §2.3/§4 — the composed form
    // probed the broadcast df table once per TOKEN and re-aggregated
    // through a hash exchange). The weight TABLE build stays the honest
    // distributed groupBy above; only vocab-sized rows reach the driver,
    // guarded by [[SimHashMaxVocab]] with [[weightedSimhashJoin]] beyond
    // it and as SimHashTextSpec's equality oracle.
    val wrows = dfreq.crossJoin(broadcast(n))
      .select(col("word"),
        expr("CASE WHEN df_ * 20 <= nd THEN 4L WHEN df_ * 5 <= nd THEN 2L ELSE 1L END")
          .as("w"))
      .head(SimHashMaxVocab + 1)
    if (wrows.length > SimHashMaxVocab) weightedSimhashJoin(s, df, bits)
    else {
      val weights = new java.util.HashMap[
        org.apache.spark.unsafe.types.UTF8String, java.lang.Long](
        math.max(16, wrows.length * 2))
      wrows.foreach(r => weights.put(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)),
        java.lang.Long.valueOf(r.getLong(1))))
      df.filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.SimHashText.of(col("text"), digits, bits, weights)
            .as("simhash"))
        // a doc with NO in-vocab token yields null — the composed groupBy
        // emitted no row for it (impossible when the df table is built
        // from the same corpus, as here, but the arms must agree)
        .filter(col("simhash").isNotNull)
    }
  }

  /** The composed weighted form [[weightedSimhash48]] replaced — the
    * beyond-ceiling plan and the spec's equality oracle. */
  private[graft] def weightedSimhashJoin(s: SparkSession, df: DataFrame,
      bits: Int = 48): DataFrame = {
    // the whole vote pass is ONE custom aggregate (48-long buffer, tight
    // update loop, order-free integer merges) instead of 48 sum(CASE...)
    // columns — see graft.functions.SimHashAgg. Values are identical to
    // the DuckDB oracle's per-bit sums + fold.
    graft.functions.SimHashAgg.register(s, bits)
    graft.functions.Md5Prefix.register(s)
    val digits = math.min(15, (bits + 3) / 4)
    val words = df
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val n = df.agg(count(lit(1)).as("nd"))
    val dfreq = df
      .select(explode(array_distinct(split(col("text"), " "))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("df_"))
    words.join(broadcast(dfreq), "word").crossJoin(broadcast(n))
      .select(col("doc_id"),
        // fused digest-prefix word hash — identical to the former
        // md5 → substring → conv chain (Md5PrefixSpec pins the equality)
        expr(s"md5_prefix(word, $digits)").as("wh"),
        expr("CASE WHEN df_ * 20 <= nd THEN 4 WHEN df_ * 5 <= nd THEN 2 ELSE 1 END")
          .as("w"))
      .groupBy("doc_id").agg(expr("simhash_agg(wh, w)").as("simhash"))
  }

  /** SimHash dedup pairs: block on 8-bit chunks of the weighted 48-bit
    * fingerprint (6 chunks; the pigeonhole guarantees any pair within
    * Hamming distance 5 shares an intact chunk), then verify
    * bit_count(xor) ≤ 5 on candidates only — index-then-verify entirely in
    * integer ops, the same shape as the MinHash/LSH pipeline. The
    * pigeonhole is width-independent, so [[simhashPairsAuto]] widens the
    * chunks on a larger corpus without losing the guarantee. */
  def simhashPairs: Q = (s, d) => simhashPairsOver(plantedCorpus(s, d), 8)

  /** Library entrypoint: SimHash near-dup pairs over any (doc_id, text)
    * frame with the chunk width derived from corpus size
    * ([[OperatingPoint.simhashChunkBits]]: +1 bit per doubling over the
    * sf0.1 anchor, capped at the 60-bit fingerprint the BIGINT word-hash
    * fold supports). Pass `countEstimate` to skip the cheap count(). The
    * oracle-gated [[simhashPairs]] pins 8-bit chunks for the static
    * DuckDB oracle. */
  def simhashPairsAuto(df: DataFrame,
      countEstimate: Option[Long] = None): DataFrame = {
    val n = countEstimate.getOrElse(df.count())
    simhashPairsOver(df, OperatingPoint.simhashChunkBits(n))
  }

  /** Core of the chunk-blocked SimHash pair search over (doc_id, text). */
  private[graft] def simhashPairsOver(df: DataFrame,
      chunkBits: Int): DataFrame = {
    val s = df.sparkSession
    val mask = (1 << chunkBits) - 1
    val sh = weightedSimhash48(s, df, bits = 6 * chunkBits)
      .localCheckpoint(eager = false)
    // the fingerprint rides along into the chunk self-join, so Hamming is
    // verified inline on candidates and only the (tiny) survivor set is
    // deduplicated — no wide candidate distinct, no back-joins.
    val chunks = sh.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        s"transform(sequence(0, 5), c -> shiftright(simhash, c * $chunkBits) & $mask)"))
        .as(Seq("c", "ck")))
    chunks.as("a").join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.ck") === col("b.ck") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("int").as("hamming"))
      .filter(col("hamming") <= 5)
      .distinct()
  }

  // ---- wide-fingerprint SimHash (the sixth-decade variant, round 14) ----

  /** IDF-weighted WIDE SimHash: the fingerprint spans TWO 63-bit BIGINT
    * words (6 chunks of `chunkBits` ≤ 21 bits, chunks 0-2 in word 0,
    * 3-5 in word 1), lifting [[OperatingPoint.simhashChunkBits]]'s 10-bit
    * cap — the md5-hex fold behind the 48/60-bit form tops out at one
    * BIGINT (15 hex digits), so past ~500k docs its chunk buckets stop
    * growing and the chunk self-join goes quadratic (measured at ×1000:
    * ~9e10 candidates, BASELINE §5 r13). Word hashes here are xxhash64:
    * word 0 votes with `xxhash64(word)`, word 1 with `xxhash64(word, 1L)`
    * (Spark chains multi-argument xxhash64 as seed-threading, so the
    * second is a full avalanche re-mix of the first — the standard
    * double-hash expansion), each masked to its word's vote width. The
    * IDF weighting, 6-chunk pigeonhole (any Hamming ≤ 5 pair shares an
    * intact chunk — width-independent), candidate verify, and dedup are
    * EXACTLY [[simhashPairsOver]]'s.
    *
    * This is a NAMED VARIANT, not a knob on the pinned form: xxhash64 has
    * no DuckDB equivalent, so its cross-engine gate is the plain-JVM
    * IndependentVerify recompute (`dd6w_auto`, ×10 and ×1000)
    * plus the DedupOpsSpec recall gate against the planted corpus; the
    * md5-fold [[simhashPairs]] stays as the hash-gated oracle anchor. */
  private[graft] def wideSimhash(df: DataFrame, chunkBits: Int): DataFrame = {
    val s = df.sparkSession
    val bitsPerWord = 3 * chunkBits
    graft.functions.SimHashAgg.register(s, bitsPerWord, "simhash_agg_wide")
    val mask = (1L << bitsPerWord) - 1
    val words = df
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val n = df.agg(count(lit(1)).as("nd"))
    val dfreq = df
      .select(explode(array_distinct(split(col("text"), " "))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("df_"))
    words.join(broadcast(dfreq), "word").crossJoin(broadcast(n))
      .select(col("doc_id"),
        expr(s"xxhash64(word) & ${mask}L").as("wh0"),
        expr(s"xxhash64(word, cast(1 as bigint)) & ${mask}L").as("wh1"),
        expr("CASE WHEN df_ * 20 <= nd THEN 4 WHEN df_ * 5 <= nd THEN 2 ELSE 1 END")
          .as("w"))
      .groupBy("doc_id").agg(
        expr("simhash_agg_wide(wh0, w)").as("fp0"),
        expr("simhash_agg_wide(wh1, w)").as("fp1"))
  }

  /** Chunk-blocked near-dup pairs over the wide fingerprint — the
    * [[simhashPairsOver]] pipeline with two-word chunk extraction and a
    * two-word Hamming verify. Output (a_id, b_id, hamming), same contract. */
  private[graft] def simhashPairsWide(df: DataFrame,
      chunkBits: Int): DataFrame = {
    require(chunkBits >= 8 && chunkBits <= 21,
      s"chunkBits=$chunkBits outside [8,21] (6 chunks across two 63-bit words)")
    val mask = (1L << chunkBits) - 1
    val sh = wideSimhash(df, chunkBits).localCheckpoint(eager = false)
    val chunks = sh.select(col("doc_id"), col("fp0"), col("fp1"),
      posexplode(expr(
        s"""transform(sequence(0, 5), c ->
           |  shiftright(if(c < 3, fp0, fp1), (c % 3) * $chunkBits) & ${mask}L)"""
          .stripMargin))
        .as(Seq("c", "ck")))
    chunks.as("a").join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.ck") === col("b.ck") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        (expr("bit_count(a.fp0 ^ b.fp0)") + expr("bit_count(a.fp1 ^ b.fp1)"))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= 5)
      .distinct()
  }

  /** Library entrypoint: wide SimHash near-dup pairs with the chunk width
    * derived from corpus size ([[OperatingPoint.simhashChunkBitsWide]] —
    * same +1-bit-per-doubling rule as the narrow form, ceiling 21 instead
    * of 10, so chunk buckets keep shrinking through the sixth decade:
    * 18-bit chunks at 5M docs ≈ 20 docs per (chunk, key) bucket). */
  def simhashPairsWideAuto(df: DataFrame,
      countEstimate: Option[Long] = None): DataFrame = {
    val n = countEstimate.getOrElse(df.count())
    simhashPairsWide(df, OperatingPoint.simhashChunkBitsWide(n))
  }

  /** DuckDB CTE chain ending in sh(doc_id, simhash) over `source`, matching
    * [[simhashOf]] with the same `bits`/word-hash parameters. */
  private def simhashCtes(source: String, bits: Int, whSql: String): String = {
    val sums = (0 until bits).map(b =>
      s"sum(${contribExpr("wh", b)}) AS s_$b")
    val fp = (0 until bits).map(b =>
      s"CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM $source),
       | hashes AS (SELECT doc_id, md5(word) AS h FROM words),
       | wh AS (SELECT doc_id, $whSql AS wh FROM hashes),
       | votes AS (SELECT doc_id, ${sums.mkString(", ")} FROM wh GROUP BY doc_id),
       | sh AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM votes)""".stripMargin
  }

  val simhashOracle: String =
    s"""WITH ${simhashCtes("documents", SimBits, hexDigitsDuck.mkString(" + "))}
       |SELECT doc_id, simhash FROM sh""".stripMargin

  val simhashPairsOracle: String = {
    val bits = 48
    val sums = (0 until bits).map(b =>
      s"sum(CASE WHEN (wh & ${1L << b}) != 0 THEN w ELSE -w END) AS s_$b")
    val fp = (0 until bits).map(b =>
      s"CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""WITH $strdCte,
       | corpus AS ($corpusSql),
       | words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |   FROM corpus),
       | n AS (SELECT count(*) AS nd FROM corpus),
       | dfreq AS (SELECT word, count(*) AS df_ FROM (
       |   SELECT unnest(list_distinct(string_split(text, ' '))) AS word
       |   FROM corpus) GROUP BY word),
       | ww AS (SELECT w.doc_id,
       |   ('0x' || substr(md5(w.word), 1, 12))::BIGINT AS wh,
       |   CASE WHEN df_ * 20 <= nd THEN 4 WHEN df_ * 5 <= nd THEN 2
       |    ELSE 1 END AS w
       |   FROM words w JOIN dfreq ON w.word = dfreq.word CROSS JOIN n),
       | votes AS (SELECT doc_id, ${sums.mkString(", ")} FROM ww
       |   GROUP BY doc_id),
       | sh AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM votes),
       | chunks AS (SELECT doc_id, simhash, c, (simhash >> (c * 8)) & 255 AS ck
       |   FROM sh CROSS JOIN UNNEST(range(0, 6)) AS t(c))
       |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       | CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM chunks a JOIN chunks b
       | ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 5""".stripMargin
  }

  // ---- span-level (substring) dedup ----

  /** Span-gram geometry: 50-char grams, content-defined 1-in-16 selection
    * (an md5 whose first hex nibble is '0'). Selection keyed on CONTENT,
    * not position, is what makes the detector alignment-robust: the same
    * span selects the same grams wherever it sits in a document, so two
    * documents sharing a span agree on its selected grams without any
    * offset alignment — the winnowing/CDC principle (public practice). */
  private val SpanGram = 50
  /** Planted boilerplate (the archetypal shared span: site chrome that
    * crawls smear across pages) appended to every 19th doc so cross-doc
    * hits exist at every sf — and, at 219 chars, long enough that several
    * of its grams pass the 1/16 content-defined selection. */
  private[graft] val SpanBoiler =
    "subscribe to our newsletter for weekly updates and exclusive offers " +
      "terms of service privacy policy cookie settings all rights reserved " +
      "follow us on social media contact support for help with your account today"

  /** dd9: cross-document repeated-SPAN detection — the span-level dedup
    * modality the doc-level family (dd1 exact, dd2/dd3 MinHash, dd4/dd6
    * SimHash, v3/v6 embedding) cannot see: two long documents sharing one
    * boilerplate paragraph are nowhere near each other as WHOLE docs, but
    * the shared span still leaks verbatim into training data (the
    * exact-substring-dedup motivation of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022 — their
    * suffix-array formulation is single-machine; this is the
    * hash-inventory form that distributes).
    *
    * Pipeline: every 50-char gram of every document is hashed; grams are
    * SELECTED content-defined (1/16 of hash space), so selection is
    * alignment-invariant; one groupBy over the selected gram stream counts
    * distinct carrying docs; grams carried by ≥2 docs come back joined to
    * their per-doc offsets — a manifest of (doc, offset) span hits with
    * `is_foreign` marking copies outside the span's first-carrier doc
    * (the rows a span-removal pass would cut).
    *
    * Scale: the per-offset md5 makes the fixture form oracle-able (the
    * same shape t4's winnowing-lite fingerprint uses); at 100 TB the gram
    * hash becomes a rolling Karp-Rabin codegen Expression (O(len) per doc
    * instead of O(len·G) — same selection semantics, no oracle), the
    * selected stream is 1/16 of corpus chars, and the inventory groupBy is
    * ONE shuffle of that stream with map-side combine. Raising the
    * selection modulus trades recall for stream size the way every LSH
    * knob here does ([[OperatingPoint]] pattern). */
  def spanGrams: Q = (s, d) => {
    val g = SpanGram
    val corpus = documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 19 === 0, concat(col("text"), lit(" " + SpanBoiler)))
        .otherwise(col("text")).as("text"))
    // gram hashing + selection run fused in one native loop per document
    // ([[graft.functions.SpanGramHits]]): the transform/filter lambda form
    // is interpreted per element and hex-encodes every discarded gram —
    // measured 4.6 s vs 1.0 s at sf0.1 for identical output
    graft.functions.SpanGramHits.register(s, g)
    val grams = corpus.select(col("doc_id"),
        explode(expr("span_gram_hits(text)")).as("x"))
      .select(col("doc_id"), col("x.off"), col("x.gh"))
    val shared = grams.groupBy("gh")
      .agg(countDistinct("doc_id").as("n_docs"), min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2)
    grams.join(shared, "gh")
      .select(col("doc_id"), col("off"), col("gh"), col("n_docs"),
        col("first_doc"),
        (col("doc_id") =!= col("first_doc")).as("is_foreign"))
  }

  /** dd9's 100 TB form: the identical inventory pipeline over
    * [[graft.functions.RollingGramHits]] — O(len) Karp-Rabin gram hashing
    * instead of O(len·G) per-window md5. Hash values differ from the md5
    * form so there is no DuckDB oracle; PipelineOpsSpec gates it on the
    * boiler fixture (every planted carrier pair agrees on the shared
    * span's grams) and BASELINE.md §5 A/Bs it against [[spanGrams]]. */
  def spanGramsRolling: Q = (s, d) => {
    val corpus = documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 19 === 0, concat(col("text"), lit(" " + SpanBoiler)))
        .otherwise(col("text")).as("text"))
    graft.functions.RollingGramHits.register(s, SpanGram, 4)
    val grams = corpus.select(col("doc_id"),
        explode(expr("rolling_gram_hits(text)")).as("x"))
      .select(col("doc_id"), col("x.off"), col("x.gh"))
    val shared = grams.groupBy("gh")
      .agg(countDistinct("doc_id").as("n_docs"), min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2)
    grams.join(shared, "gh")
      .select(col("doc_id"), col("off"), col("gh"), col("n_docs"),
        col("first_doc"),
        (col("doc_id") =!= col("first_doc")).as("is_foreign"))
  }

  val spanGramsOracle: String =
    s"""WITH corpus AS (SELECT doc_id,
       |  CASE WHEN doc_id % 19 = 0 THEN text || ' $SpanBoiler'
       |   ELSE text END AS text FROM documents),
       | grams AS (SELECT doc_id, CAST(i AS INTEGER) AS off,
       |   md5(substring(text, i, $SpanGram)) AS gh
       |  FROM corpus,
       |   UNNEST(range(1, greatest(length(text) - ${SpanGram - 1}, 1) + 1))
       |    AS r(i)
       |  WHERE substring(md5(substring(text, i, $SpanGram)), 1, 1) = '0'),
       | shared AS (SELECT gh, count(DISTINCT doc_id) AS n_docs,
       |   min(doc_id) AS first_doc
       |  FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2)
       |SELECT g.doc_id, g.off, g.gh, s.n_docs, s.first_doc,
       | g.doc_id <> s.first_doc AS is_foreign
       |FROM grams g JOIN shared s USING (gh)""".stripMargin

  /** dd10: span SCRUB — the removal pass [[spanGrams]]'s manifest exists
    * for (Lee et al. cut the duplicated substrings, not the documents).
    * Foreign gram hits are merged gaps-and-islands into disjoint char
    * intervals [a, b) per doc (overlapping/adjacent 50-char windows of one
    * shared span collapse to one interval), the intervals are cut from the
    * text, and the result row carries the cut accounting plus an md5 of the
    * cleaned text so the oracle pins the SURGERY, not just the counts.
    *
    * Scale shape: the hit stream is the 1/16-selected shared-gram subset —
    * tiny next to the corpus — so both windows (running-max island break,
    * island id cumsum) and the interval groupBy run over hits only; the one
    * corpus-sized operation is the final join of per-doc interval ARRAYS
    * back to text (hash join on doc_id; the interval side is
    * affected-docs-only and broadcastable). Only affected docs are
    * returned — the unaffected corpus never shuffles. The cut itself is one
    * `aggregate` lambda walking the sorted intervals left to right, O(len)
    * per doc. Invariant pinned by PipelineOpsSpec: clean_len =
    * length(text) − chars_cut, and no scrubbed doc retains the planted
    * boilerplate. */
  def spanScrub: Q = (s, d) => {
    val corpus = documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 19 === 0, concat(col("text"), lit(" " + SpanBoiler)))
        .otherwise(col("text")).as("text"))
    val hits = spanGrams(s, d).filter(col("is_foreign"))
      .select(col("doc_id"), col("off"))
    cutSpans(corpus, hits, SpanGram)
      .select(col("doc_id"), col("n_cut_spans"), col("chars_cut"),
        length(col("clean_text")).as("clean_len"),
        md5(col("clean_text")).as("clean_md5"))
  }

  /** The span-surgery core shared by dd10 and [[SpanIndex.probeScrub]]:
    * merge `(doc_id, off)` hit windows of width `g` gaps-and-islands into
    * disjoint [a, b) char intervals, cut them from `corpus`'s text with one
    * left-to-right `aggregate` walk, and return the affected docs as
    * (doc_id, n_cut_spans, chars_cut, clean_text). Both windows and the
    * interval groupBy run over the HIT stream only; the corpus joins once
    * on doc_id against the affected-docs interval arrays. One accounting
    * nuance: `chars_cut` sums merged WINDOW extents [a, b), so for a doc
    * shorter than one gram whose whole-text hash matched, it reports the
    * window size rather than the (smaller) removed char count — clean_len
    * is exact either way (the substring arithmetic clamps), and the dd10
    * oracle computes the identical sum, so the two engines agree. */
  private[operators] def cutSpans(corpus: DataFrame, hits: DataFrame,
      g: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("off")
    val ivs = hits
      .withColumn("prev_end", max(col("off") + g)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        (col("prev_end").isNull || col("off") > col("prev_end")).cast("int"))
      .withColumn("isl", sum("brk").over(w))
      .groupBy("doc_id", "isl")
      .agg(min("off").as("a"), (max("off") + g).as("b"))
    val perDoc = ivs.groupBy("doc_id").agg(
      sort_array(collect_list(struct(col("a"), col("b")))).as("ivs"),
      count(lit(1)).cast("int").as("n_cut_spans"),
      sum(col("b") - col("a")).cast("long").as("chars_cut"))
    corpus.join(perDoc, "doc_id")
      .withColumn("clean_text", expr(
        """aggregate(ivs,
          |  named_struct('t', cast('' as string), 'p', 1),
          |  (acc, iv) -> named_struct(
          |    't', concat(acc.t, substring(text, acc.p, iv.a - acc.p)),
          |    'p', iv.b),
          |  acc -> concat(acc.t,
          |    substring(text, acc.p, greatest(length(text) - acc.p + 1, 0))))"""
          .stripMargin))
      .select("doc_id", "n_cut_spans", "chars_cut", "clean_text")
  }

  val spanScrubOracle: String =
    s"""WITH corpus AS (SELECT doc_id,
       |  CASE WHEN doc_id % 19 = 0 THEN text || ' $SpanBoiler'
       |   ELSE text END AS text FROM documents),
       | grams AS (SELECT doc_id, CAST(i AS INTEGER) AS off,
       |   md5(substring(text, i, $SpanGram)) AS gh
       |  FROM corpus,
       |   UNNEST(range(1, greatest(length(text) - ${SpanGram - 1}, 1) + 1))
       |    AS r(i)
       |  WHERE substring(md5(substring(text, i, $SpanGram)), 1, 1) = '0'),
       | shared AS (SELECT gh, min(doc_id) AS first_doc FROM grams
       |  GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
       | hits AS (SELECT g.doc_id, g.off FROM grams g
       |  JOIN shared s USING (gh) WHERE g.doc_id <> s.first_doc),
       | brks AS (SELECT doc_id, off,
       |   CASE WHEN max(off + $SpanGram) OVER (PARTITION BY doc_id
       |      ORDER BY off ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |     IS NULL OR off > max(off + $SpanGram) OVER (PARTITION BY doc_id
       |      ORDER BY off ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    THEN 1 ELSE 0 END AS brk FROM hits),
       | isl AS (SELECT doc_id, off, sum(brk) OVER (PARTITION BY doc_id
       |    ORDER BY off) AS isl FROM brks),
       | ivs AS (SELECT doc_id, isl, min(off) AS a,
       |   max(off) + $SpanGram AS b FROM isl GROUP BY doc_id, isl),
       | segs AS (SELECT doc_id,
       |   COALESCE(lag(b) OVER (PARTITION BY doc_id ORDER BY a), 1) AS p,
       |   a AS q FROM ivs
       |  UNION ALL
       |  SELECT i.doc_id, max(i.b) AS p, max(length(c.text)) + 1 AS q
       |  FROM ivs i JOIN corpus c USING (doc_id) GROUP BY i.doc_id),
       | clean AS (SELECT s.doc_id,
       |   string_agg(substring(c.text, s.p, greatest(s.q - s.p, 0)),
       |     '' ORDER BY s.p) AS clean_text
       |  FROM segs s JOIN corpus c USING (doc_id) GROUP BY s.doc_id),
       | acct AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_cut_spans,
       |   CAST(sum(b - a) AS BIGINT) AS chars_cut FROM ivs GROUP BY doc_id)
       |SELECT a.doc_id, a.n_cut_spans, a.chars_cut,
       | CAST(length(cl.clean_text) AS INTEGER) AS clean_len,
       | md5(cl.clean_text) AS clean_md5
       |FROM acct a JOIN clean cl USING (doc_id)""".stripMargin
}
