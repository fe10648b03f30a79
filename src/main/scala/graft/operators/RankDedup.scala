package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{CosineSimBounded, RpBandKeys, TopKRows}

/** D2 semantic dedup-by-rank — the reference's episodic-memory upsert
  * (bambooai/qa_retrieval.py:146-202):
  *
  * for each candidate record:
  *  - rank < 6 → dropped (MIN_USER_RANK_TO_CONSIDER, :160);
  *  - best existing match with cosine ≥ strong threshold
  *    0.80 + 0.7·(1-0.80) = 0.94 (:164-167):
  *      · candidate rank > existing rank → candidate inserted, existing
  *        deleted (:196-198);
  *      · otherwise → candidate discarded;
  *  - no qualifying match → candidate inserted (:200-202).
  *
  * Expressed Spark-first as set algebra: best-match via a bounded
  * [[graft.functions.TopKRows]] k=1 argmax over the sim-join (a heap
  * aggregate that partial-aggregates map-side — the banded match stream is
  * corpus-sized in auto mode, and a rank-adjacent row_number window here
  * planned as WindowGroupLimit whose map-side pass SORTS the whole stream;
  * the round-13/14 sixth-decade finding), then
  * (store ∖ replaced) ∪ accepted. The reference applies candidates
  * one-by-one; this operator applies a batch, which is equivalent whenever
  * candidates don't match each other (guaranteed here by the ≥0.94
  * threshold against a candidate set drawn from distinct sources).
  *
  * Scale: the sim-join is RP-LSH BANDED — candidates and store rows meet on
  * an equi-join over (band, key) buckets, and the exact ≥0.94 cosine runs on
  * bucket-mates only, so the plan is a hash join, not a
  * BroadcastNestedLoop/cartesian over store × candidates (asserted in
  * RankDedupSpec). The PINNED 8 bands × 4 planes config keeps recall
  * ≥ 99.9% at the 0.94 threshold (miss rate (1-p⁴)⁸ with p = 1-θ/π ≥
  * 0.889). AUTO mode ([[OperatingPoint.rpPlanesPerBand]]) raises planes
  * with corpus size and dimension to keep candidate counts linear,
  * trading that recall guarantee away for non-identical matches —
  * IDENTICAL vectors (what the ≥0.94 upsert gate admits in practice)
  * always share every band key, so the reference's replace/discard
  * semantics are preserved at any plane count.
  */
object RankDedup {
  import graft.Q.{Q, embeddings}

  val StrongThreshold = 0.94
  val MinRank = 6
  private val Bands = 8
  private val PlanesPerBand = 4

  /** Deterministic ±1 plane signs (mixed-seed family, round 15 — see
    * VectorOps.mix64 for the period-7 negation structure the raw LCG
    * had); independent of VectorOps' planes by the 1000-plane offset. */
  private def bandSigns(dim: Int, planes: Int): Array[Array[Double]] =
    Array.tabulate(Bands * planes, dim) { (j, k) =>
      val x = VectorOps.mix64(((j + 1000).toLong << 32) | (k + 1).toLong)
      if (((x >>> 33) & 1L) == 0L) 1.0 else -1.0
    }

  /** Batch upsert: returns the resulting store (id, rank, status). `dim` is
    * the embedding dimension (the band planes are generated for it; vectors
    * of any other length fail loudly in rp_band_keys). The default 0 means
    * MEASURE it from the store (one `size(v)` head job; empty store →
    * candidates) — the former dim-64 default was a footgun for a direct
    * caller on a 384-dim store (round-15 verdict). `planesPerBand` is
    * the bucket-sparsity knob: buckets per band = 2^planes, raised with
    * corpus size (BASELINE.md §5 prices the scaled operating point). The
    * default 0 means AUTO: derive it from the store's size via
    * [[OperatingPoint.rpPlanesPerBand]] (one cheap count(); pass
    * `storeCountEstimate` to skip it when the cardinality is known). The
    * oracle-gated [[rankUpsertQuery]] pins planes=4 explicitly so the
    * static DuckDB oracle stays exact. */
  def upsert(store: DataFrame, cand: DataFrame, dim: Int = 0,
      planesPerBand: Int = 0,
      storeCountEstimate: Option[Long] = None): DataFrame = {
    val d = if (dim > 0) dim else measureDim(store).orElse(measureDim(cand))
      .getOrElse(throw new IllegalArgumentException(
        "RankDedup.upsert: store and candidates both empty — pass dim explicitly"))
    val auto = planesPerBand <= 0
    val n = if (auto) storeCountEstimate.getOrElse(math.max(1L, store.count()))
            else 0L
    val planes = if (auto) OperatingPoint.rpPlanesPerBand(n, d) else planesPerBand
    val matches = bandedMatches(store, cand, d, planes,
      forceShuffle = auto && OperatingPoint.preferShuffleJoin(n, Bands, d))
    // best feeds both the accept and the replace branch — materialize it
    // once so the banded similarity join (the expensive part) doesn't
    // run twice. localCheckpoint rather than cache(): upsert runs once per
    // conversation turn (EpisodicMemory.store), and a cache() entry per
    // call would accumulate in the CacheManager for the session's lifetime;
    // checkpoint blocks are released when the plan is GC'd.
    // Keep-best is TopKRows k=1, NOT a row_number window: the match stream
    // is store-sized in auto mode and WindowGroupLimit's map-side pass
    // sorts its whole input partition; the heap aggregate holds one row
    // per cid and combines map-side. struct field order IS the rank order
    // (msim DESC, then sid ASC — TopKRows' field convention), identical to
    // the window's ORDER BY msim DESC, sid and to the DuckDB oracle.
    val best = bestMatch(matches).localCheckpoint(eager = false)
    val eligible = cand.filter(col("rank") >= MinRank)
    val accepted = eligible.join(best, eligible("id") === best("cid"), "left")
      .filter(col("cid").isNull || col("rank") > col("srank"))
      .select(col("id"), col("rank"), lit("inserted").as("status"))
    val replaced = best
      .join(eligible.select(col("id").as("eid")), col("cid") === col("eid"))
      .filter(col("crank") > col("srank"))
      .select(col("sid")).distinct()
    val kept = store.join(replaced, store("id") === replaced("sid"), "left_anti")
      .select(col("id"), col("rank"), lit("kept").as("status"))
    kept.unionByName(accepted)
  }

  /** Embedding dimension measured from a frame's `v` column (one head
    * job); None on an empty frame. */
  private def measureDim(df: DataFrame): Option[Int] =
    df.select(size(col("v"))).head(1).headOption.map(_.getInt(0))

  /** Keep-best of [[upsert]], pre-checkpoint — factored out so its plan
    * shape is assertable (ObjectHashAggregate, no WindowGroupLimit —
    * RankDedupSpec). struct field order IS TopKRows' rank order
    * (msim DESC, then sid ASC), identical to the retired window's
    * ORDER BY msim DESC, sid and to the DuckDB oracle's row_number. */
  private[graft] def bestMatch(matches: DataFrame): DataFrame = {
    matches
      .groupBy(col("cid"))
      .agg(TopKRows.of(struct("msim", "sid", "srank", "crank"), 1).as("top"))
      .select(col("cid"), col("top")(0).getField("crank").as("crank"),
        col("top")(0).getField("sid").as("sid"),
        col("top")(0).getField("srank").as("srank"))
  }

  /** The banded ≥-threshold similarity join of [[upsert]], pre-checkpoint —
    * factored out so its plan shape is assertable (the checkpoint boundary
    * hides it from the final frame's executedPlan). A pair meeting in
    * several bands appears once: pair columns are distinct-ed after the
    * verify, before the best-match window. `forceShuffle` pins sort-merge —
    * auto mode sets it once the banded store outgrows a broadcast build
    * side (OperatingPoint.preferShuffleJoin, the 100 TB
    * join shape where AQE skew-join can split hot buckets); the
    * oracle-gated pinned-planes path keeps the planner's choice so
    * toy-scale plans stay toy-optimal. */
  private[graft] def bandedMatches(store: DataFrame, cand: DataFrame,
      dim: Int, planes: Int, forceShuffle: Boolean): DataFrame = {
    val signs = bandSigns(dim, planes)
    def banded(df: DataFrame, p: String) = df.select(col("id").as(p + "id"),
        col("v").as(p + "v"), col("rank").as(p + "rank"),
        CosineSimBounded.sufSq(col("v")).as(p + "sfx"),
        posexplode(RpBandKeys.of(col("v"), signs, planes)).as(Seq("b", "key")))
    val bandedStore0 = banded(store, "s")
    val bandedStore =
      if (forceShuffle) bandedStore0.hint("merge") else bandedStore0
    // msim is filtered UNROUNDED at the 0.94 gate, so the early-exit
    // prune floor is the threshold itself (CosineSimBounded's internal
    // 1e-9 relative margin keeps boundary pairs on the full-dot path;
    // survivor msims are bit-identical to the cosine_sim form)
    val msim = CosineSimBounded.of(col("cv"), col("sv"), col("csfx"),
      col("ssfx"), StrongThreshold)
    banded(cand, "c").join(bandedStore, Seq("b", "key"))
      .withColumn("msim", msim)
      .filter(col("msim") >= StrongThreshold)
      .select(col("cid"), col("crank"), col("sid"), col("srank"), col("msim"))
      .distinct()
  }

  /** Oracle-gated query: store = embeddings with rank = vec_id % 11;
    * candidates = every 3rd vector re-submitted with rank (vec_id+5) % 11.
    * Identical vectors give sim 1.0 ≥ 0.94 against exactly their source
    * (random cross-pairs stay below 0.94 — verified ≤ 0.51 in the fixture),
    * so every replace/discard/insert branch is exercised deterministically. */
  def rankUpsertQuery: Q = (s, d) => {
    val e = embeddings(s, d).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val store = e.select(col("vec_id").as("id"), col("v"),
      (col("vec_id") % 11).as("rank"))
    val cand = e.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 10000).as("id"), col("v"),
        ((col("vec_id") + 5) % 11).as("rank"))
    upsert(store, cand, 64, PlanesPerBand)
  }

  val oracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       | store AS (SELECT vec_id AS id, v, vec_id % 11 AS rank FROM e),
       | cand AS (SELECT vec_id + 10000 AS id, v, (vec_id + 5) % 11 AS rank
       |   FROM e WHERE vec_id % 3 = 0),
       | matches AS (SELECT c.id AS cid, c.rank AS crank, s.id AS sid,
       |   s.rank AS srank,
       |   row_number() OVER (PARTITION BY c.id ORDER BY
       |     list_dot_product(c.v, s.v) / (sqrt(list_dot_product(c.v, c.v)) *
       |      sqrt(list_dot_product(s.v, s.v))) DESC, s.id) AS rn
       |  FROM cand c JOIN store s ON
       |   list_dot_product(c.v, s.v) / (sqrt(list_dot_product(c.v, c.v)) *
       |    sqrt(list_dot_product(s.v, s.v))) >= $StrongThreshold),
       | best AS (SELECT cid, crank, sid, srank FROM matches WHERE rn = 1),
       | eligible AS (SELECT id, rank FROM cand WHERE rank >= $MinRank),
       | accepted AS (SELECT e2.id, e2.rank, 'inserted' AS status
       |   FROM eligible e2 LEFT JOIN best b ON b.cid = e2.id
       |   WHERE b.cid IS NULL OR e2.rank > b.srank),
       | replaced AS (SELECT DISTINCT b.sid FROM best b
       |   JOIN eligible e3 ON b.cid = e3.id WHERE b.crank > b.srank)
       |SELECT id, rank, 'kept' AS status FROM store
       | WHERE id NOT IN (SELECT sid FROM replaced)
       |UNION ALL SELECT id, rank, status FROM accepted""".stripMargin
}
