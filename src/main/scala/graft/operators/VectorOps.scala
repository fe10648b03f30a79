package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import graft.functions.{CosineSimBounded, CosineSimilarity, Round6, RpBandKeys,
  RpSketch, SketchHammingGate, Sq8, TopKRows}

/** Vector similarity operators (SURVEY §2.6 O3/O4, §2.8 F10) plus the
  * large-scale ANN path a training-data pipeline needs.
  *
  * - [[cosineTopK]] is the reference's episodic-memory retrieval: embed the
  *   intent, cosine against all stored vectors, top-k (qa_retrieval.py:100-144,
  *   top_k=5 at :102; rerank form google_search.py:249-259).
  * - [[ivfTopK]] is the 100 TB scale path: an IVF-style index where vectors
  *   are bucketed by a coarse quantizer (here the label partition standing in
  *   for k-means cells), the probe scans only the top-2 nearest cells, and
  *   only those cells' vectors get exact scoring. At cluster scale the cells
  *   are parquet partitions → partition pruning turns top-k into a scan of
  *   ~2/N of the data.
  * - [[nearDupPairs]] is embedding-cosine near-duplicate detection blocked on
  *   RP-LSH band buckets (data-independent, corpus-size-tunable — the
  *   blocking key bounds the pair blow-up at any scale).
  *
  * All cosines run through the codegen'd [[graft.functions.CosineSimilarity]].
  */
object VectorOps {
  import graft.Q.{Q, embeddings}

  private def vecs(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))

  /** `round6(cosine_sim(a, b))` over two named columns. */
  private def sim6(a: String, b: String): Column =
    Round6.of(CosineSimilarity.of(col(a), col(b)))

  /** The pruned exact verify: `round6(cosine_sim_bounded(...))` abandoning a
    * pair only when provably below `threshold` (see rpBandedNearDupOver). */
  private def boundedSim6(a: String, b: String, sufA: String, sufB: String,
      threshold: Double): Column =
    Round6.of(CosineSimBounded.of(col(a), col(b), col(sufA), col(sufB),
      threshold - 1e-6))

  /** O3/F10: brute-force cosine top-10 against probe vector vec_id=0. */
  def cosineTopK: Q = (s, d) => {
    val e = vecs(s, d)
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("p"))
    e.crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), sim6("v", "p").as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(10)
  }

  /** Greedy Maximal Marginal Relevance over a bounded candidate list —
    * the DIVERSIFIED rerank every retrieval serving stack runs after the
    * ANN shortlist (Carbonell & Goldstein, SIGIR 1998): pick, k times, the
    * candidate maximizing λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s),
    * so near-duplicates of an already-selected result are penalized out.
    * Deterministic tie-break on (score desc, vec_id asc). Driver-side by
    * design: candidates are the k·overfetch shortlist a distributed probe
    * produced (the same bounded-collect contract as every top-k here) and
    * the pairwise term needs all-selected state — at N≈100 this is
    * microseconds; the DISTRIBUTED part of serving stays the candidate
    * generation. λ=1 degenerates to plain top-k (spec-pinned). */
  private[graft] def mmrSelect(cands: Seq[(Long, Array[Double], Double)],
      k: Int, lam: Double): Seq[(Long, Double, Double)] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Double], Double, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
    while (selected.size < k && remaining.nonEmpty) {
      val scored = remaining.map { c =>
        val penalty =
          if (selected.isEmpty) 0.0
          else selected.map(s => cos(c._2, s._2)).max
        (c, lam * c._3 - (1 - lam) * penalty)
      }
      val (best, score) = scored.minBy { case ((id, _, _), sc) => (-sc, id) }
      selected += ((best._1, best._2, best._3, score))
      remaining -= best
    }
    selected.toSeq.map(t => (t._1, t._3, t._4))
  }

  /** v10: MMR-diversified top-10 from the brute-force top-20 shortlist of
    * probe vec 0, λ=0.7. Hash-gated: greedy MMR at FIXED k replays exactly
    * as a k-step recursive CTE ([[mmrRerankOracle]] — carry the selected
    * id-list, argmax λ·rel − (1−λ)·max-sim per step with the same
    * (score desc, vec_id asc) tie-break). VectorGateSpec additionally pins
    * λ=1 parity with [[cosineTopK]] and the diversity property on a
    * planted near-duplicate fixture. */
  def mmrRerank: Q = (s, d) => {
    val e = vecs(s, d)
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("p"))
    val shortlist = e.crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("v"),
        sim6("v", "p").as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(20)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val picked = mmrSelect(shortlist.toSeq, 10, 0.7)
    import s.implicits._
    picked.zipWithIndex
      .map { case ((id, sim, score), i) =>
        // HALF_UP like round() in both engines (rint's HALF_EVEN would
        // diverge from the DuckDB oracle exactly at .5e-6 boundaries)
        (i + 1, id, sim, BigDecimal(score)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toDF("rank", "vec_id", "sim", "mmr_score")
  }

  /** IVF-style ANN: per-cell centroids → probe top-2 cells → exact top-10
    * within those cells only. Centroid build is one shuffle; probing is a
    * broadcast of 2 cell ids. */
  def ivfTopK: Q = (s, d) => {
    val e = vecs(s, d)
    val probe = e.filter(col("vec_id") === 1).select(col("v").as("p"))
    val dims = e.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
    val cent = dims.groupBy("label", "i").agg(avg("x").as("cx"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(i, cx))), t -> t.cx)")
        .as("c"))
    val top2 = cent.crossJoin(broadcast(probe))
      .select(col("label"), CosineSimilarity.of(col("c"), col("p")).as("csim"))
      .orderBy(desc("csim"), col("label")).limit(2)
    e.join(broadcast(top2.select("label")), Seq("label"))
      .crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= 1)
      .select(col("vec_id"), col("label"),
        sim6("v", "p").as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(10)
  }

  /** IVF with LEARNED centroids: k-means (Lloyd's, fixed iterations, cosine
    * assignment) trained in pure DataFrame ops, then probe the top-2 cells
    * and score exactly only there — the real ANN index-build shape, vs
    * [[ivfTopK]]'s label-as-quantizer stand-in.
    *
    * Scale: assignment is one broadcast of k centroids against a scan (no
    * shuffle); the centroid update is one shuffle of (cid, dim) partial
    * sums. At 100 TB the final assignment is written as a partition column,
    * so probing top-p cells is partition pruning — the query reads p/k of
    * the data. Iterative, but NOT oracle-exempt: with integer-scaled
    * component means ([[kmeansCentroids]]) and round-before-argmax
    * assignment ([[kmeansAssign]]) every Lloyd step is bit-reproducible,
    * so the DuckDB oracle ([[kmeansIvfOracle]]) replays the 3 fixed
    * iterations as chained CTEs and the full iterated pipeline is
    * hash-checked — the same replay trick the v10 MMR oracle used for
    * greedy argmax, applied to Lloyd. */
  private val KmK = 8; private val KmIters = 3

  /** Size guard for the fused-assignment path: the centroid matrix is
    * collected to the driver and rides the stage's task-binary broadcast
    * inside [[graft.functions.TopCells]], so it must stay comfortably
    * plan-sized. 2^22 doubles = 32 MB — K ≤ 65k cells at dim 64, ≤ 10.9k
    * at dim 384; the pinned K=8 fits with room to spare. Beyond it the
    * distributed crossJoin+heap form below remains the honest plan. */
  private[graft] val TopCellsMaxDoubles: Long = 1L << 22

  /** Collect a (cid, c) centroid frame to driver arrays, cid-ascending
    * (rank result is order-independent; sorting keeps runs comparable). */
  private[graft] def collectCentroids(centroids: DataFrame)
      : Array[(Int, Array[Double])] =
    centroids.select(col("cid"), col("c")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** Fit probe for the fused arm, WITHOUT materializing the matrix: one
    * count×max(dim) aggregate job whose result is a single row, so the
    * beyond-guard case (the one the distributed arm exists for) never
    * pays a driver collect at all — the former order (collect, THEN
    * check) made the guard itself the 100 TB-scale OOM. Under the guard
    * the centroid plan is evaluated twice (probe + collect); these frames
    * are vocab-sized by contract, and the former code evaluated twice in
    * the fallback case anyway (collect + broadcast). k = 0 reports
    * not-fitting so empty centroid sets route to the distributed arm,
    * which yields ZERO rows like the join form always did — the fused
    * arm's element_at(_, 1) would throw INVALID_ARRAY_INDEX per row
    * under ANSI (Spark 4's default) on an empty TopCells array. */
  private[graft] def centMatrixFits(centroids: DataFrame): Boolean = {
    val r = centroids.agg(count(lit(1)), max(size(col("c")))).head()
    val k = r.getLong(0)
    k > 0 && k * r.getInt(1).toLong <= TopCellsMaxDoubles
  }

  /** One cosine-argmax assignment pass against DRIVER-HOSTED centroids
    * (the MLlib shape: centroids live on the driver between Lloyd passes;
    * each row ranks them in one fused loop — [[graft.functions.TopCells]]).
    * Map-only: no n·K expansion, no aggregate, no exchange. Same
    * round6-before-rank, same (csim DESC, cid ASC) policy, so the v5/v13
    * oracles and every ×N digest are unchanged (TopCells' scaladoc pins
    * the bit-equality argument). */
  private[graft] def kmeansAssignLocal(e: DataFrame,
      cents: Array[(Int, Array[Double])]): DataFrame =
    e.select(col("vec_id"), col("v"),
        element_at(graft.functions.TopCells.top(col("v"), 1, cents), 1)
          .as("best"))
      // requires non-empty cents: under ANSI, element_at(_, 1) on the
      // empty TopCells array throws — [[centMatrixFits]] routes the
      // empty set to the distributed arm (zero rows, the join form's
      // behavior), so this path never sees it
      .filter(col("best").isNotNull)
      .select(col("vec_id"), col("v"),
        col("best.cid").as("cid"), col("best.csim").as("sim"))

  /** One cosine-argmax assignment pass: fused driver-hosted form when the
    * centroid matrix fits [[TopCellsMaxDoubles]] (it always does at the
    * current operating points), else the distributed crossJoin + bounded-
    * heap form. The argmax policy is identical in both: round(·,6) BEFORE
    * the rank, (csim desc, cid asc) — the [[kmeansIvfAssign]] policy,
    * shared by the Lloyd loop so the iterated path is oracle-able too.
    *
    * Round-16 scale lesson (kept for the distributed arm): the former
    * max-over-struct form carried `v` INSIDE the struct, and a struct
    * with an array field has no mutable hash-agg buffer, so Catalyst
    * planned SortAggregateExec — which SORTS the whole n·K expansion per
    * partition. Invisible at the pinned K=8 and the ×10 gate's K=165; at
    * the ×1000 blocking grain (K=16,546, 3.5e10 expansion rows) the spill
    * filled the disk. The heap agg is ObjectHashAggregate with ≤1 tiny
    * row per group — same winner by the same (sim desc, cid asc) policy. */
  private[graft] def kmeansAssign(e: DataFrame,
      centroids: DataFrame): DataFrame =
    if (centMatrixFits(centroids))
      kmeansAssignLocal(e, collectCentroids(centroids))
    else kmeansAssignDistributed(e, centroids)

  private[graft] def kmeansAssignDistributed(e: DataFrame,
      centroids: DataFrame): DataFrame = {
    e.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("v"), col("cid"),
        sim6("v", "c").as("csim"))
      .groupBy("vec_id")
      .agg(expr("first(v)").as("v"), // constant within the group
        element_at(TopKRows.of(struct("csim", "cid"), 1), 1).as("best"))
      .select(col("vec_id"), col("v"),
        col("best.cid").as("cid"), col("best.csim").as("sim"))
  }

  /** Lloyd's centroids after `iters` update steps from the deterministic
    * first-K seed (iters = 0 returns the seed itself). Exposed for the
    * recall/convergence gate in VectorGateSpec.
    *
    * HASH-STABLE by construction (what lets the iterated v5 carry a real
    * DuckDB oracle, closing the last rows-only row): a plain avg() of
    * double components is partition-order-dependent, so two engines (or
    * two runs) can diverge in the last float bits and the drift compounds
    * across iterations. Instead each component mean is
    * `sum(round(x*1e8)::bigint) / count / 1e8` — the t13/c7 integer-sum
    * discipline: the bigint sum is order-free and exact, and the two
    * final divisions are IEEE-deterministic on identical operands in any
    * engine. (No integer-quotient/`div` here — Spark's `div` truncates
    * toward zero while DuckDB's `//` floors, which differs on the
    * NEGATIVE sums embedding components produce; plain double division
    * has no tie to resolve, so it needs no quotient trick.) Assignment
    * ties are engine-independent via round(·,6)-before-argmax in
    * [[kmeansAssign]]. */
  private[graft] def kmeansCentroids(e: DataFrame, iters: Int,
      k: Int = KmK, modInit: Boolean = false): DataFrame =
    toCentFrame(e.sparkSession, kmeansCentroidsLocal(e, iters, k, modInit))

  /** Lloyd's training with DRIVER-HOSTED centroids (the MLlib loop shape):
    * each pass is ONE job — fused argmax assignment
    * ([[kmeansAssignLocal]], map-only) feeding the (cid, i) integer-sum
    * aggregation, whose K·dim result rows collect back to the driver for
    * the next pass. The former loop materialized each pass's centroids as
    * a checkpointed DataFrame and re-derived the argmax through an n·K
    * crossJoin + heap aggregate — 2 exchanges + a broadcast build + a
    * checkpoint per pass of pure plan machinery around what is,
    * per iteration, a K·dim-sized reduction (guide §1.2: fix the
    * distributed algorithm first). Centroid VALUES are bit-identical:
    * same per-element round(x·1e8)::bigint sums, same
    * sum.double / count.double / 1e8 division order, same
    * round6-before-argmax assignment — the v5/v13 oracle hashes and every
    * ×N digest pin this.
    *
    * modInit: random-partition-mean init (cid = vec_id mod K) — every
    * cell non-empty for n ≥ K regardless of the corpus's id layout (the
    * ×N fixtures hold base ids plus +1e6·copy blocks, so a first-K id
    * filter past K ≈ 2118 seeds FEWER than K cells and occupancy — hence
    * candidate count — silently multiplies). Same integer-sum mean as
    * every Lloyd step, so the init is engine-replayable. */
  private[graft] def kmeansCentroidsLocal(e: DataFrame, iters: Int,
      k: Int = KmK, modInit: Boolean = false): Array[(Int, Array[Double])] = {
    // ONE Catalyst plan for the whole training: the loop below runs on a
    // persisted RDD, so each Lloyd pass is a single ~10 ms RDD job with no
    // per-iteration analysis/optimization/codegen (measured: the former
    // per-iteration DataFrame plans spent more driver time BETWEEN jobs —
    // planning — than in them at fixture scale)
    val rdd = e.select(col("vec_id"), col("v")).rdd
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // (cid → integer component sums + count) via treeAggregate: Long
      // adds are order-free, so the totals are exactly the former
      // hash-aggregate's regardless of merge topology, and the two final
      // IEEE divisions run on identical operands — centroid VALUES are
      // bit-identical. depth=2 merges the per-partition maps on ~√P
      // executor-side combine tasks, so the driver receives O(√P) maps of
      // K·dim longs instead of P of them — the former flat collect() made
      // driver memory (and maxResultSize) LINEAR in partition count at
      // the ×1000 blocking grain (guide §5: bound what returns to the
      // driver). UNIFORM-DIM precondition asserted per cid: a ragged
      // corpus now fails loudly instead of corrupting sums (the
      // distributed posexplode arm, which averages ragged components
      // per-index, remains the honest plan for such data).
      def means(assign: (Long, Array[Double]) => Int)
          : Array[(Int, Array[Double])] = {
        type Acc = java.util.HashMap[Int, (Array[Long], Array[Long])]
        val seqOp = (acc: Acc, row: (Long, Array[Double])) => {
          val (id, v) = row
          val cid = assign(id, v)
          var slot = acc.get(cid)
          if (slot == null) {
            slot = (new Array[Long](v.length), new Array[Long](1))
            acc.put(cid, slot)
          } else require(slot._1.length == v.length,
            s"ragged vectors in cell $cid: ${slot._1.length} vs ${v.length}")
          var i = 0
          while (i < v.length) {
            slot._1(i) += graft.functions.Round6.microLong(v(i))
            i += 1
          }
          slot._2(0) += 1
          acc
        }
        val combOp = (a: Acc, b: Acc) => {
          val it = b.entrySet().iterator()
          while (it.hasNext) {
            val en = it.next()
            val slot = a.get(en.getKey)
            if (slot == null) a.put(en.getKey, en.getValue)
            else {
              val s = en.getValue._1
              require(slot._1.length == s.length,
                s"ragged vectors in cell ${en.getKey}")
              var i = 0
              while (i < s.length) { slot._1(i) += s(i); i += 1 }
              slot._2(0) += en.getValue._2(0)
            }
          }
          a
        }
        val totals = rdd.treeAggregate(new Acc)(seqOp, combOp, depth = 2)
        import scala.jdk.CollectionConverters._
        totals.entrySet().iterator().asScala.map { en =>
          val cnt = en.getValue._2(0)
          (en.getKey,
            en.getValue._1.map(s => s.toDouble / cnt.toDouble / 1e8))
        }.toArray.sortBy(_._1)
      }
      var cents: Array[(Int, Array[Double])] =
        if (modInit) means((id, _) => java.lang.Math.floorMod(id, k.toLong).toInt)
        else e.filter(col("vec_id") < k)
          .select(col("vec_id").cast("int").as("cid"), col("v"))
          .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
      for (_ <- 1 to iters) {
        val (cids, cs) = (cents.map(_._1), cents.map(_._2))
        cents = means((_, v) => graft.functions.TopCells.argmax(v, cids, cs))
      }
      cents
    } finally rdd.unpersist(blocking = false)
  }

  private[graft] def toCentFrame(s: SparkSession,
      cents: Array[(Int, Array[Double])]): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      cents.map { case (cid, c) =>
        org.apache.spark.sql.Row(cid, c.toSeq) }.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false),
          nullable = false))))
  }

  /** Component means of each cell's members, with the integer-sum
    * discipline [[kmeansCentroids]] documents (order-free bigint sums →
    * two IEEE-deterministic divisions) — shared by every Lloyd step and
    * the mod-K init. */
  private[graft] def centroidMeans(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("cid", "i")
      .agg((sum(round(col("x") * 1e8).cast("bigint")).cast("double") /
        count(lit(1)).cast("double") / lit(1e8)).as("cx"))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(i, cx))), t -> t.cx)")
        .as("c"))

  private[graft] def vecsCheckpointed(s: SparkSession, d: String): DataFrame =
    vecs(s, d).localCheckpoint(eager = false)

  def kmeansIvf: Q = (s, d) => {
    val Probes = 2; val TopK = 10
    // localCheckpoint: compute-once without leaking CacheManager entries
    // per invocation; inside kmeansCentroids it also truncates the
    // per-iteration lineage, the standard iterative-algorithm pattern.
    val e = vecsCheckpointed(s, d)
    val cent = kmeansCentroids(e, KmIters)
    def assign(centroids: DataFrame) = kmeansAssign(e, centroids)
    val probe = e.filter(col("vec_id") === 1).select(col("v").as("p"))
    val topCells = cent.crossJoin(broadcast(probe))
      .select(col("cid"), sim6("c", "p").as("csim"))
      .orderBy(desc("csim"), col("cid")).limit(Probes)
    assign(cent)
      .join(broadcast(topCells.select("cid")), Seq("cid"))
      .crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= 1)
      .select(col("vec_id"), col("cid"),
        sim6("v", "p").as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(TopK)
  }

  /** v5's oracle-able half: the kmeans-IVF probe with the centroids FIXED
    * at the deterministic iters=0 seed (the first [[KmK]] vectors), so the
    * whole assignment → top-2-cell probe → exact-score pipeline is
    * SQL-expressible and hash-checked against DuckDB — closing the one
    * rows-only gap the round-4 verdict flagged. The Lloyd-ITERATED path
    * ([[kmeansIvf]]) keeps its recall/monotonicity gate in VectorGateSpec;
    * this row pins the non-iterative machinery both paths share. round(·,6)
    * runs before the argmax so the cell choice is engine-independent (same
    * policy as [[knnJoinOver]]). */
  def kmeansIvfAssign: Q = (s, d) => {
    val Probes = 2; val TopK = 10
    val e = vecsCheckpointed(s, d)
    val cent = kmeansCentroids(e, 0) // deterministic first-K seed
    val probe = e.filter(col("vec_id") === 1).select(col("v").as("p"))
    // same max-over-struct partial-agg argmax as every other assignment
    // site (the oracle's row_number text has the identical (sim desc,
    // cid asc) tie policy, so the hash is unchanged) — this was the last
    // non-oracle-text row_number argmax in the vector family
    val assigned = kmeansAssign(e, cent).select("vec_id", "v", "cid")
    val topCells = cent.crossJoin(broadcast(probe))
      .select(col("cid"), sim6("c", "p").as("csim"))
      .orderBy(desc("csim"), col("cid")).limit(Probes)
    assigned.join(broadcast(topCells.select("cid")), Seq("cid"))
      .crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= 1)
      .select(col("vec_id"), col("cid"),
        sim6("v", "p").as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(TopK)
  }

  /** DuckDB oracle for [[kmeansIvfAssign]] — identical fixed-centroid
    * assignment, cell choice, and scoring recomputed from the raw table. */
  val kmeansIvfAssignOracle: String = {
    val cos = (a: String, b: String) =>
      s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
        s"sqrt(list_dot_product($b, $b))), 6)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       | cent AS (SELECT CAST(vec_id AS INTEGER) AS cid, v AS c FROM e
       |  WHERE vec_id < $KmK),
       | ranked AS (SELECT vec_id, v, cid, CAST(row_number() OVER (
       |    PARTITION BY vec_id ORDER BY ${cos("e.v", "cent.c")} DESC, cid)
       |   AS INTEGER) AS rn FROM e CROSS JOIN cent),
       | assigned AS (SELECT vec_id, v, cid FROM ranked WHERE rn = 1),
       | probe AS (SELECT v AS p FROM e WHERE vec_id = 1),
       | topcells AS (SELECT cid FROM cent CROSS JOIN probe
       |  ORDER BY ${cos("c", "p")} DESC, cid LIMIT 2)
       |SELECT a.vec_id, a.cid, ${cos("a.v", "p")} AS sim
       |FROM assigned a JOIN topcells USING (cid) CROSS JOIN probe
       |WHERE a.vec_id <> 1
       |ORDER BY sim DESC, a.vec_id
       |LIMIT 10""".stripMargin
  }

  /** DuckDB oracle for the Lloyd-ITERATED [[kmeansIvf]]: the 3 fixed
    * iterations unrolled as chained CTEs (assign_i → update_i), each
    * replaying exactly what the Spark loop computes — rounded-cosine
    * argmax assignment, integer-scaled component means divided as
    * doubles. KmIters is a compile-time constant, so unrolling beats a
    * recursive CTE: every step is a plain group-by, no aggregate-in-
    * recursive-term restrictions to dodge. */
  /** The Lloyd CTE builders the iterated oracles share
    * ([[kmeansIvfOracle]], [[semDedupPairsOracle]]): assignment replays
    * [[kmeansAssign]]'s rounded-cosine argmax (rnMax = 1; rnMax = 2 is
    * [[cellMembers]]'s top-2 membership — TopKRows' (f0 DESC, rest ASC)
    * order is exactly this row_number's), update replays
    * [[centroidMeans]]'s integer-sum component means. */
  private def oracleCosSql(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
      s"sqrt(list_dot_product($b, $b))), 6)"
  private def lloydAssignCte(prev: String, out: String,
      rnMax: Int = 1): String =
    s"""$out AS (SELECT vec_id, v, cid FROM (
       |  SELECT e.vec_id, e.v, c.cid, row_number() OVER (
       |    PARTITION BY e.vec_id
       |    ORDER BY ${oracleCosSql("e.v", "c.c")} DESC, c.cid) AS rn
       |  FROM e CROSS JOIN $prev c) WHERE rn <= $rnMax)""".stripMargin
  private def lloydUpdateCte(assigned: String, out: String): String =
    s"""$out AS (SELECT cid, list(cx ORDER BY i) AS c FROM (
       |  SELECT cid, i,
       |   CAST(sum(CAST(round(x * 1e8) AS BIGINT)) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) / 1e8 AS cx
       |  FROM (SELECT cid, i, v[i] AS x FROM $assigned,
       |   UNNEST(range(1, len(v)+1)) AS r(i))
       |  GROUP BY cid, i) GROUP BY cid)""".stripMargin
  /** cent0 (first-[[KmK]] seed) → KmIters chained assign/update steps,
    * ending at `cent$KmIters`. */
  private def lloydChainCtes: String = {
    val lloyd = (1 to KmIters).map { it =>
      lloydAssignCte(if (it == 1) "cent0" else s"cent${it - 1}", s"a$it") +
        ",\n " + lloydUpdateCte(s"a$it", s"cent$it")
    }.mkString(",\n ")
    s"""cent0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, v AS c FROM e
       |  WHERE vec_id < $KmK),
       | $lloyd""".stripMargin
  }

  val kmeansIvfOracle: String = {
    val cos = oracleCosSql _
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       | $lloydChainCtes,
       | ${lloydAssignCte(s"cent$KmIters", "afin")},
       | probe AS (SELECT v AS p FROM e WHERE vec_id = 1),
       | topcells AS (SELECT cid FROM cent$KmIters CROSS JOIN probe
       |  ORDER BY ${cos("c", "p")} DESC, cid LIMIT 2)
       |SELECT a.vec_id, a.cid, ${cos("a.v", "p")} AS sim
       |FROM afin a JOIN topcells USING (cid) CROSS JOIN probe
       |WHERE a.vec_id <> 1
       |ORDER BY sim DESC, a.vec_id
       |LIMIT 10""".stripMargin
  }

  /** Batch k-NN join via IVF per-cell probing (the scale path of [[ivfTopK]]
    * applied to EVERY query vector, not one probe): the first K vectors act
    * as fixed coarse-quantizer centroids; every vector is a *member* of its
    * single nearest cell and *probes* its top-2 cells; candidates are the
    * members of the probed cells; the exact top-3 is computed over candidates
    * only.
    *
    * Scale: cell assignment is a broadcast of K centroids against a scan (no
    * shuffle); the candidate join shuffles on the cell id, so evaluated
    * cosines are Σ_cells |probes(cell)|·|members(cell)| ≈ 2n²/K — K grows
    * with the corpus (K ≈ √n rule), unlike the fixture's fixed `label`
    * blocking where pair count was O(n²) with no tuning knob. The per-query
    * top-3 is the bounded [[graft.functions.TopKRows]] heap aggregate
    * (partial/final ObjectHashAggregate): ≤3 rows per query cross the final
    * shuffle and NOTHING sorts the candidate stream — measured at ×1000
    * (2M vectors, K=506): 677 s end to end where the former row_number
    * window's WindowGroupLimitExec map-side sort filled the spill disk.
    * ANN semantics: a true neighbor outside the
    * probed cells is missed — recall is tuned by the probe count. */
  def knnJoin: Q = (s, d) => knnJoinOver(vecs(s, d), 16)

  /** Core of the IVF batch k-NN join over any (vec_id, v) frame.
    *
    * Join-strategy note (probed, round 4): unlike the banded self-joins,
    * forcing sort-merge here does NOT pay at probe scale (measured 6.9s vs
    * 5.2s at 10x) — the join key is the cell id with only K distinct
    * values, so a shuffle caps parallelism at K partitions while the
    * broadcast streams members through every scan task. At cluster scale
    * members outgrow the broadcast threshold and the planner shifts to the
    * shuffle on its own, where K ≈ √n keeps per-cell partitions balanced;
    * no hint needed in either regime. */
  private[graft] def knnJoinOver(e0: DataFrame, K: Int): DataFrame = {
    val e = e0.localCheckpoint(eager = false) // feeds centroids+scan
    val cent = e.filter(col("vec_id") < K)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("c"))
    // round(·,6) before the argmax so the cell choice is engine-independent.
    // Both rank stages are the bounded [[graft.functions.TopKRows]] heap
    // aggregate (round 14), not row_number windows: Spark plans a
    // rank-adjacent window as WindowGroupLimitExec, whose map-side pass
    // SORTS its whole input partition before applying the limit — here
    // that sort would run over the n·K assignment expansion (~1e9 rows at
    // 2M×506) and again over the ~1.6e10-row probe×candidate stream, the
    // external sort that stopped the round-13 ×1000 run. The heap agg
    // holds ≤ 2 (resp. 3) rows per group at all times, combines map-side,
    // and ships only group-count·k tiny rows into each exchange. Ordering
    // (csim DESC, cid ASC) / (sim DESC, b_id ASC) is TopKRows' field
    // convention, identical to the windows it replaces, so the pinned v4
    // DuckDB oracle (written as row_number) stays hash-green.
    // The top-2 prune still lands BEFORE the checkpoint (round 13): the
    // checkpoint holds exactly 2n rows at any K.
    val ranked = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("v"), col("cid"),
        sim6("v", "c").as("csim"))
      .groupBy(col("vec_id"))
      .agg(expr("first(v)").as("v"), // constant within the group
        TopKRows.of(struct("csim", "cid"), 2).as("cells"))
      .select(col("vec_id"), col("v"),
        posexplode(col("cells")).as(Seq("pos", "cell")))
      .select(col("vec_id"), col("v"), col("cell.cid").as("cid"),
        (col("pos") + 1).as("rn"))
      .localCheckpoint(eager = false) // feeds both members and probes
    val members = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("b_id"), col("cid"), col("v").as("vb"))
    val probes = ranked
      .select(col("vec_id").as("a_id"), col("cid"), col("v").as("va"))
    probes.join(members, Seq("cid"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), struct(
        sim6("va", "vb").as("sim"),
        col("b_id")).as("cand"))
      .groupBy(col("a_id"))
      .agg(TopKRows.of(col("cand"), 3).as("top"))
      .select(col("a_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("a_id"), col("t.b_id").as("b_id"), col("t.sim").as("sim"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** DuckDB oracle for [[knnJoin]] — the identical fixed-centroid IVF
    * assignment and probing, so the ANN result (not just the exact k-NN)
    * is hash-checked. */
  val knnJoinOracle: String = {
    val cos = (a: String, b: String) =>
      s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
        s"sqrt(list_dot_product($b, $b))), 6)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       | cent AS (SELECT CAST(vec_id AS INTEGER) AS cid, v AS c FROM e
       |  WHERE vec_id < 16),
       | ranked AS (SELECT vec_id, v, cid, CAST(row_number() OVER (
       |    PARTITION BY vec_id ORDER BY ${cos("e.v", "cent.c")} DESC, cid)
       |   AS INTEGER) AS rn FROM e CROSS JOIN cent),
       | members AS (SELECT vec_id AS b_id, cid, v AS vb FROM ranked WHERE rn = 1),
       | probes AS (SELECT vec_id AS a_id, cid, v AS va FROM ranked WHERE rn <= 2),
       | cand AS (SELECT a_id, b_id, ${cos("va", "vb")} AS sim
       |  FROM probes JOIN members USING (cid) WHERE a_id <> b_id)
       |SELECT a_id, b_id, sim, rk FROM (SELECT a_id, b_id, sim,
       |  CAST(row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id)
       |   AS INTEGER) AS rk FROM cand)
       |WHERE rk <= 3""".stripMargin
  }

  // ---- random-hyperplane LSH (the data-independent ANN/blocking path) ----

  /** splitmix64-style finalizer — FULL avalanche, so sign bits behave as
    * independent coins across (j, k). Round-15 lesson: the former raw-LCG
    * family (`(j·64+k)·A + C`, bit 33) had PERIOD-7 NEGATION structure —
    * planes j and j+7 were exact complements (measured: 0/64 agreements
    * for (0,7), (2,9), (4,11)), so a 14-plane key carried ~7 bits and a
    * 17-plane key ~9: at ×1000 the "2^planes buckets" math collapsed to
    * ~13k occupied buckets with 94k-vector hot buckets — 1.66e11
    * candidate pairs where uniform occupancy predicted ~1e9
    * (BASELINE.md §5 round 15 records the occupancy). The pinned ≤4-plane
    * oracle configs never span 7 planes, which is why toy scales hid it. */
  private[graft] def mix64(z0: Long): Long = {
    var z = z0 + -7046029254386353131L // 0x9e3779b97f4a7c15
    z = (z ^ (z >>> 30)) * -4658895280553007687L // 0xbf58476d1ce4e5b9
    z = (z ^ (z >>> 27)) * -7723592293110705685L // 0x94d049bb133111eb
    z ^ (z >>> 31)
  }

  /** Deterministic ±1 hyperplane signs (mixed seeds, round 15), generated
    * once in Scala and embedded into BOTH the Spark and DuckDB SQL texts,
    * so the engines evaluate the identical sign pattern. */
  private def rpSign(j: Int, k: Int): String = {
    val x = mix64((j.toLong << 32) | k.toLong)
    if (((x >>> 33) & 1L) == 0L) "+" else "-"
  }

  /** The same signs as a (bands·planes) × dim ±1 matrix, the
    * [[graft.functions.RpBandKeys]] argument. */
  private[graft] def rpSignMatrix(bands: Int, planes: Int,
      dim: Int): Array[Array[Double]] =
    Array.tabulate(bands * planes, dim) {
      (j, k0) => if (rpSign(j, k0 + 1) == "+") 1.0 else -1.0
    }
  private val RpBands = 2
  private val V3Bands = 4 // v3's higher-recall config (more bands = more candidates)
  private val RpPlanesPerBand = 4
  private val Dim = 64

  /** Textual ±v[k] dot product with hyperplane j (left-assoc addition in
    * the same order in both engines → identical IEEE result). */
  private def rpDot(j: Int, elem: Int => String): String =
    "(" + (1 to Dim).map(k => s"${rpSign(j, k)} ${elem(k)}").mkString(" ") + ")"

  private def rpBandKey(b: Int, elem: Int => String): String =
    (0 until RpPlanesPerBand).map { i =>
      s"(CASE WHEN ${rpDot(b * RpPlanesPerBand + i, elem)} > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Embedding near-dup via random-hyperplane LSH: each vector hashes into
    * 2 band keys of 4 sign bits; candidates share a (band, key) bucket; the
    * exact cosine ≥ 0.30 verify runs on candidates only, inline in the
    * bucket self-join (dedup happens after the filter, on the tiny survivor
    * set). Data-INDEPENDENT blocking — no labels, no training pass —
    * complementing the label cells (v2/v3) and learned k-means cells (v5):
    * this is the variant that works on a cold 100 TB corpus in one pass,
    * with recall tuned by bands × bits. Measured on the fixture: ~6x
    * candidate reduction vs all-pairs at sf0.1. */
  def rpLshNearDup: Q = (s, d) => rpBandedNearDup(s, d, RpBands)

  /** Shared RP-LSH banded near-dup: band keys via the fused
    * [[graft.functions.RpBandKeys]] expression — the textual bands·planes·dim
    * ±v[k] form exceeds Janino's 64 KB method limit and falls back to
    * interpreted eval; the fused expression is one codegen'd loop. The banded
    * table is materialized once so the self-join's two sides share the key
    * computation. */
  private[graft] def rpBandedNearDup(s: SparkSession, d: String, bands: Int,
      planes: Int = RpPlanesPerBand): DataFrame =
    rpBandedNearDupOver(vecs(s, d), bands, planes)

  /** Core of the RP-LSH banded near-dup over any (vec_id, v) frame. */
  private[graft] def rpBandedNearDupOver(e: DataFrame, bands: Int,
      planes: Int, threshold: Double = 0.30,
      dim: Int = Dim): DataFrame = {
    val signs = rpSignMatrix(bands, planes, dim)
    // prune floor: the filter keeps round(sim, 6) >= threshold, so a pair
    // may be abandoned only when provably below threshold - 5e-7 (the
    // round-half-up boundary); 1e-6 leaves that boundary strictly inside
    // the must-complete band. Survivor sims are bit-identical to the
    // cosine_sim plan (CosineSimBounded's contract), so the DuckDB oracle
    // and the x1000 digests are unchanged. Suffix checkpoints are computed
    // ONCE per vector pre-explode; the banded table is materialized once
    // so the self-join's two sides share the key computation
    val bk = e.select(col("vec_id"), col("v"),
      CosineSimBounded.sufSq(col("v")).as("sfx"),
      posexplode(RpBandKeys.of(col("v"), signs, planes)).as(Seq("b", "key")))
      .localCheckpoint(eager = false)
    bk.as("a").join(bk.as("x"),
        col("a.b") === col("x.b") && col("a.key") === col("x.key") &&
          col("a.vec_id") < col("x.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("x.vec_id").as("b_id"),
        boundedSim6("a.v", "x.v", "a.sfx", "x.sfx", threshold).as("sim"))
      .filter(col("sim") >= threshold)
      .distinct()
  }

  /** The RP-LSH pair pipeline in DuckDB as a CTE chain ending in
    * `pairs(a_id, b_id, sim)` — shared by the v3/v6 and v8 oracles. */
  private def rpPairsCtes(bands: Int): String = {
    val keys = (0 until bands).map(b => rpBandKey(b, k => s"v[$k]"))
    val bIdx = (0 until bands).mkString(", ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       | bk AS (SELECT vec_id, v, b, key FROM (
       |   SELECT vec_id, v, unnest([${keys.mkString(", ")}]) AS key,
       |          unnest([$bIdx]) AS b FROM e)),
       | pairs AS (SELECT DISTINCT a.vec_id AS a_id, x.vec_id AS b_id,
       |   round(list_dot_product(a.v, x.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(x.v, x.v))), 6)
       |    AS sim
       |  FROM bk a JOIN bk x
       |   ON a.b = x.b AND a.key = x.key AND a.vec_id < x.vec_id
       |  WHERE round(list_dot_product(a.v, x.v) /
       |   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(x.v, x.v))), 6)
       |   >= 0.30)""".stripMargin
  }

  private def rpBandedNearDupOracle(bands: Int): String =
    s"WITH ${rpPairsCtes(bands)}\nSELECT a_id, b_id, sim FROM pairs"

  val rpLshNearDupOracle: String = rpBandedNearDupOracle(RpBands)

  /** Embedding near-dup pairs, production config: RP-LSH banding with
    * [[V3Bands]] bands (double [[rpLshNearDup]]'s recall — P(detect) =
    * 1-(1-p^4)^bands rises with bands), exact cosine ≥ 0.30 verify on bucket
    * candidates only (threshold calibrated so every sf yields pairs; the
    * reference's replace gate is the same shape at 0.94,
    * qa_retrieval.py:157-164).
    *
    * Scale: replaces the former fixed-`label` blocking, whose block count
    * never grew with the corpus (pairs ∝ n²). Band buckets are 2^planes per
    * band and the collision probability for near-orthogonal vectors is
    * ~2^-planes per band, so candidate pairs shrink exponentially in the
    * planes-per-band knob — at 100 TB you raise planes (16-32 bits) and
    * bands together to hold recall while keeping buckets sparse. */
  def nearDupPairs: Q = (s, d) => rpBandedNearDup(s, d, V3Bands)

  val nearDupPairsOracle: String = rpBandedNearDupOracle(V3Bands)

  /** v8: embedding-space duplicate clusters — the same transitive cluster
    * resolution dd7 gives the MinHash family, over the v3 RP-LSH pair
    * graph: LSH pair discovery is probabilistic in EVERY family, so
    * similarity ties at 0.30 chain (A~B, B~C without a found A~C) and
    * group membership is a graph property. Same
    * [[GraphOps.connectedComponents]] operator, second pair source. */
  def embedClusters: Q = (s, d) => {
    val pairs = nearDupPairs(s, d)
      .select(col("a_id").as("a"), col("b_id").as("b"))
    GraphOps.connectedComponents(
        vecs(s, d).select(col("vec_id").as("id")), pairs)
      .select(col("id").as("vec_id"), col("component"))
  }

  val embedClustersOracle: String =
    s"""WITH RECURSIVE ${rpPairsCtes(V3Bands)},
       | edges AS (SELECT a_id AS u, b_id AS w FROM pairs
       |   UNION ALL SELECT b_id AS u, a_id AS w FROM pairs),
       | reach(id, comp) AS (
       |   SELECT vec_id, vec_id FROM e
       |   UNION
       |   SELECT edges.w, r.comp FROM reach r JOIN edges ON edges.u = r.id)
       |SELECT id AS vec_id, min(comp) AS component FROM reach GROUP BY id""".stripMargin

  /** Core of v14: cluster retention for the EMBEDDING family — the
    * keep/drop decision dd8 ships for the MinHash family, with the keep
    * policy semantic dedup actually uses (SemDeDup, Abbas et al. 2023):
    * within a duplicate cluster keep the member FARTHEST from the
    * cluster's mean vector (minimum round6 cosine; vec_id tie-break
    * asc) — the diversity-preserving choice, the opposite pole from
    * dd8's keep-the-most-complete text policy and deliberately so: text
    * near-dups differ by truncation, embedding near-dups by semantic
    * drift, and keeping the outlier retains the most information.
    *
    * Scale shape: the mean rides [[centroidMeans]]'s integer-sum
    * discipline grouped by (component, i) — a cluster's bill spreads
    * over dim-many groups, so even a hub component never lands on one
    * task; the keep decision is the TopKRows k=1 heap (no window, no
    * per-component sort); vectors join the component-keyed mean on the
    * component key (clusters are near-dup groups — small by nature).
    * Singletons keep themselves (centroid_sim = 1 by construction). */
  private[graft] def embedRetentionOver(e: DataFrame,
      comps: DataFrame): DataFrame = {
    val memb = comps.join(e, "vec_id")
    val mean = centroidMeans(memb.select(col("component").as("cid"), col("v")))
      .select(col("cid").as("component"), col("c").as("cv"))
    val scored = memb.join(mean, "component")
      .select(col("vec_id"), col("component"),
        sim6("v", "cv").as("centroid_sim"))
      .localCheckpoint(eager = false) // feeds the keep rank AND the output
    val keepRow = scored
      .select(col("component"),
        struct((-col("centroid_sim")).as("ns"), col("vec_id").as("vid"))
          .as("cand"))
      .groupBy("component")
      .agg(element_at(TopKRows.of(col("cand"), 1), 1).as("k"))
      .select(col("component"), col("k.vid").as("canonical"))
    scored.join(keepRow, "component")
      .select(col("vec_id"), col("component"), col("centroid_sim"),
        (col("vec_id") === col("canonical")).as("keep"), col("canonical"))
  }

  /** v14: pinned oracle-gated form — retention over [[embedClusters]]'
    * pinned 4-band pair graph, hash-checked end to end (CC, integer-sum
    * cluster means, round6 centroid sims, the keep argmin) against the
    * DuckDB replay. */
  def embedRetention: Q = (s, d) =>
    embedRetentionOver(vecs(s, d), embedClusters(s, d))

  val embedRetentionOracle: String =
    s"""WITH RECURSIVE ${rpPairsCtes(V3Bands)},
       | edges AS (SELECT a_id AS u, b_id AS w FROM pairs
       |   UNION ALL SELECT b_id AS u, a_id AS w FROM pairs),
       | reach(id, comp) AS (
       |   SELECT vec_id, vec_id FROM e
       |   UNION
       |   SELECT edges.w, r.comp FROM reach r JOIN edges ON edges.u = r.id),
       | comps AS (SELECT id AS vec_id, min(comp) AS component
       |   FROM reach GROUP BY id),
       | memb AS (SELECT c.vec_id, c.component, e.v
       |   FROM comps c JOIN e USING (vec_id)),
       | mean AS (SELECT component, list(cx ORDER BY i) AS cv FROM (
       |   SELECT component, i,
       |    CAST(sum(CAST(round(x * 1e8) AS BIGINT)) AS DOUBLE)
       |     / CAST(count(*) AS DOUBLE) / 1e8 AS cx
       |   FROM (SELECT component, i, v[i] AS x FROM memb,
       |    UNNEST(range(1, len(v)+1)) AS r(i))
       |   GROUP BY component, i) GROUP BY component),
       | scored AS (SELECT m.vec_id, m.component,
       |   ${oracleCosSql("m.v", "mn.cv")} AS centroid_sim
       |  FROM memb m JOIN mean mn USING (component)),
       | keepr AS (SELECT component, vec_id AS canonical FROM (
       |   SELECT component, vec_id, row_number() OVER (
       |     PARTITION BY component
       |     ORDER BY centroid_sim ASC, vec_id ASC) AS rn
       |   FROM scored) WHERE rn = 1)
       |SELECT s.vec_id, s.component, s.centroid_sim,
       |  s.vec_id = k.canonical AS keep, k.canonical
       |FROM scored s JOIN keepr k USING (component)""".stripMargin

  // ---- high-sim (dedup-band) blocking: sketch-gated, recall-targeted ----

  /** Deterministic ±1 sketch-plane signs — the [[mix64]] family in its own
    * namespace (offset 2000; RankDedup owns 1000) so the 128 sketch bits
    * are independent of every band key. */
  private[graft] def sketchSign(j: Int, k: Int): String = {
    val x = mix64(((j + 2000).toLong << 32) | k.toLong)
    if (((x >>> 33) & 1L) == 0L) "+" else "-"
  }

  private[graft] def sketchSignMatrix(dim: Int): Array[Array[Double]] =
    Array.tabulate(128, dim) {
      (j, k0) => if (sketchSign(j, k0 + 1) == "+") 1.0 else -1.0
    }

  /** Core of the HIGH-SIM near-dup (round 16): banded RP-LSH blocking whose
    * banded stream carries a 24-byte sign SKETCH instead of the vector, a
    * bucket-local hamming gate emitting candidate ID pairs, and an exact
    * verify that gathers each surviving pair's vectors once.
    *
    * Why this shape: holding recall at the dedup band (cos ≥ 0.8) as the
    * corpus grows requires bands ~ n^ρ (57 bands at ×1000, BASELINE §5
    * r16), and at tens of bands the vector-carrying
    * banded self-join ([[rpBandedNearDupOver]]) would shuffle ≈3 KB ×
    * bands per vector (≈365 GB at ×1000×384). Here the banded rows are
    * (id, s0, s1, band, key) — dimension-independent 24 B payloads — the
    * per-candidate cost is two XOR+popcounts, and full vectors move
    * exactly TWICE (the two gather joins), on the output-scale survivor
    * set, not the candidate set.
    *
    * Recall = banding recall (set by the band count) × the sketch
    * gate's ≥99.8% pass rate at the target sim
    * ([[OperatingPoint.sketchMaxHamming]]'s 3σ budget). Emitted sims are
    * the exact round6(cosine) — bit-identical to every other family's
    * verify. */
  private[graft] def nearDupPairsHighSimOver(e: DataFrame, bands: Int,
      planes: Int, maxHamming: Int, threshold: Double,
      dim: Int): DataFrame = {
    // feeds the banded stream AND both gather sides
    val v = e.localCheckpoint(eager = false)
    val banded = v
      .select(col("vec_id"), RpSketch.of(col("v"), sketchSignMatrix(dim)).as("sk"),
        posexplode(RpBandKeys.of(col("v"), rpSignMatrix(bands, planes, dim), planes))
          .as(Seq("b", "key")))
      .select(col("vec_id"), col("sk")(0).as("s0"), col("sk")(1).as("s1"),
        col("b"), col("key"))
    val cand = banded.groupBy(col("b"), col("key"))
      .agg(collect_list(struct(col("vec_id"), col("s0"), col("s1"))).as("ms"))
      .select(SketchHammingGate.of(col("ms"), maxHamming)
        .as(Seq("a_id", "b_id")))
      .distinct()
    val va = v.select(col("vec_id").as("a_id"), col("v").as("va"),
      CosineSimBounded.sufSq(col("v")).as("sfa"))
    val vb = v.select(col("vec_id").as("b_id"), col("v").as("vb"),
      CosineSimBounded.sufSq(col("v")).as("sfb"))
    cand.join(va, Seq("a_id")).join(vb, Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        boundedSim6("va", "vb", "sfa", "sfb", threshold).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Oracle-gated pinned form (v12): the v6 blocking (2 bands × 4 planes)
    * with the sketch gate pinned at the 0.6 operating point — every
    * structural stage of [[nearDupPairsHighSimOver]] (sketch bits, hamming
    * gate as a ±1 dot, id-pair distinct, gather-then-verify) mirrored
    * exactly in static DuckDB SQL. The fixture has no ≥0.8 pairs (max base
    * sim 0.60), so the pinned query keeps the fixture-supported 0.30
    * verify threshold but sets the GATE at sketchMaxHamming(0.6) = 54 —
    * a gate that measurably BITES at fixture scale (a cos-0.30 pair
    * passes at only ~2/3, so the output is a strict, hash-checked subset
    * of v6's identical blocking on both engines)
    * instead of the production 0.8 point's vacuous-at-0.30 H=40…69 range;
    * the high-sim operating point itself is gated by planted-twin recall
    * (VectorGateSpec) and ×1000 digests (IndependentVerify). */
  def sketchNearDup: Q = (s, d) =>
    nearDupPairsHighSimOver(vecs(s, d), bands = RpBands,
      planes = RpPlanesPerBand,
      maxHamming = OperatingPoint.sketchMaxHamming(0.60),
      threshold = 0.30, dim = Dim)

  val sketchNearDupOracle: String = {
    val h = OperatingPoint.sketchMaxHamming(0.60)
    val keys = (0 until RpBands).map(b => rpBandKey(b, k => s"v[$k]"))
    val bIdx = (0 until RpBands).mkString(", ")
    // ±1 per sketch plane: hamming h ⟺ pm-dot = 128 − 2h, so the gate
    // h ≤ H is pm-dot ≥ 128 − 2H — list_dot_product, the oracle's native
    // primitive, over the identical textual plane dots
    val pm = (0 until 128).map { j =>
      val dot = "(" + (1 to Dim).map(k => s"${sketchSign(j, k)} v[$k]")
        .mkString(" ") + ")"
      s"(CASE WHEN $dot > 0 THEN 1 ELSE -1 END)"
    }.mkString("[", ", ", "]")
    val cos = (a: String, b: String) =>
      s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
        s"sqrt(list_dot_product($b, $b))), 6)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       | bk AS (SELECT vec_id, pm, b, key FROM (
       |   SELECT vec_id, $pm AS pm,
       |          unnest([${keys.mkString(", ")}]) AS key,
       |          unnest([$bIdx]) AS b FROM e)),
       | cand AS (SELECT DISTINCT a.vec_id AS a_id, x.vec_id AS b_id
       |  FROM bk a JOIN bk x
       |   ON a.b = x.b AND a.key = x.key AND a.vec_id < x.vec_id
       |   AND list_dot_product(a.pm, x.pm) >= ${128 - 2 * h})
       |SELECT a_id, b_id, ${cos("ea.v", "eb.v")} AS sim
       |FROM cand JOIN e ea ON cand.a_id = ea.vec_id
       |          JOIN e eb ON cand.b_id = eb.vec_id
       |WHERE ${cos("ea.v", "eb.v")} >= 0.30""".stripMargin
  }

  // ---- SemDeDup-shape near-dup: LEARNED cells as the blocking key ----

  /** Top-2-cell membership of every vector: the fused driver-hosted rank
    * ([[graft.functions.TopCells]] k=2 — map-only, no n·K expansion, no
    * exchange) when the matrix fits [[TopCellsMaxDoubles]]; the broadcast
    * crossJoin + bounded TopKRows heap beyond it. (csim DESC, cid ASC)
    * mirrors the oracle's row_number in both arms. */
  private[graft] def cellMembers(e: DataFrame, cent: DataFrame): DataFrame =
    if (centMatrixFits(cent))
      e.select(col("vec_id"), col("v"),
          explode(graft.functions.TopCells.top(col("v"), 2,
            collectCentroids(cent))).as("cell"))
        .select(col("vec_id"), col("v"), col("cell.cid").as("cid"))
    else cellMembersDistributed(e, cent)

  private[graft] def cellMembersDistributed(e: DataFrame,
      cent: DataFrame): DataFrame =
    e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("v"), col("cid"),
        sim6("v", "c").as("csim"))
      .groupBy(col("vec_id"))
      .agg(expr("first(v)").as("v"),
        TopKRows.of(struct("csim", "cid"), 2).as("cells"))
      .select(col("vec_id"), col("v"), explode(col("cells")).as("cell"))
      .select(col("vec_id"), col("v"), col("cell.cid").as("cid"))

  /** Near-dup pairs blocked on LEARNED k-means cells — the SemDeDup shape
    * (Abbas et al. 2023: cluster the embeddings, compare within clusters),
    * the data-ADAPTIVE alternative to the RP-LSH family: cells follow the
    * corpus's own density, so a mean-shifted or clustered corpus that
    * degrades data-independent hyperplane buckets still blocks well, and
    * a pair's two members land in the same cell whenever their common
    * neighborhood does — top-2 membership (each vector joins its two
    * nearest cells) covers the cell-boundary pairs single-assignment
    * SemDeDup misses.
    *
    * Structure: Lloyd centroids ([[kmeansCentroids]], hash-stable integer
    * sums) → top-2 membership ([[cellMembers]]) → co-membership self-join
    * on the cell id (a_id < b_id) → exact round6(cosine) ≥ threshold with
    * the [[graft.functions.CosineSimBounded]] early-exit verify →
    * distinct (a pair sharing both probed cells arrives twice).
    *
    * Scale: candidates = Σ_cells C(members, 2) ≈ 2n²/K, so K = n/c holds
    * candidates ≈ 2c·n — LINEAR. The bill is assignment: n·K rounded
    * cosines per Lloyd pass (n²·dim/c at the blocking grain) — affordable
    * to ×1000 measured; the mitigation at true 100 TB grain would be a
    * two-level quantizer (assign against √K super-cells, then only that
    * super-cell's fine centroids: n·2√K cosines). The LSH family's
    * counter-pitch is zero training passes; this operator is what you run
    * when the corpus clusters (real embedding corpora do — SemDeDup's
    * premise) and recall at the dedup band must not depend on hyperplane
    * luck. */
  private[graft] def semDedupPairsOver(e0: DataFrame, k: Int, iters: Int,
      threshold: Double): DataFrame = {
    val e = e0.localCheckpoint(eager = false) // feeds Lloyd + membership
    val cent = kmeansCentroids(e, iters, k)
    val member = cellMembers(e, cent)
      .select(col("vec_id"), col("v"), CosineSimBounded.sufSq(col("v")).as("sfx"),
        col("cid"))
      .localCheckpoint(eager = false) // both join sides share the assign
    member.as("a").join(member.as("x"),
        col("a.cid") === col("x.cid") && col("a.vec_id") < col("x.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("x.vec_id").as("b_id"),
        boundedSim6("a.v", "x.v", "a.sfx", "x.sfx", threshold).as("sim"))
      .filter(col("sim") >= threshold)
      .distinct()
  }

  /** Oracle-gated pinned form (v13): K = [[KmK]] cells, [[KmIters]] Lloyd
    * steps from the deterministic first-K seed (the hash-stable training
    * the v5 oracle already replays), top-2 membership, co-membership
    * pairs, exact ≥ 0.30 verify — the ENTIRE learned pipeline (training
    * included) hash-checked against DuckDB's unrolled-CTE replay. */
  def semDedupPairs: Q = (s, d) =>
    semDedupPairsOver(vecs(s, d).select(col("vec_id"), col("v")),
      KmK, KmIters, 0.30)

  val semDedupPairsOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       | $lloydChainCtes,
       | ${lloydAssignCte(s"cent$KmIters", "m", rnMax = 2)}
       |SELECT DISTINCT a.vec_id AS a_id, x.vec_id AS b_id,
       |  ${oracleCosSql("a.v", "x.v")} AS sim
       |FROM m a JOIN m x ON a.cid = x.cid AND a.vec_id < x.vec_id
       |WHERE ${oracleCosSql("a.v", "x.v")} >= 0.30""".stripMargin

  // ---- ANN at rest: the IVF index as a partitioned parquet layout ----

  /** Write an embedding corpus as an IVF index AT REST: the corpus
    * partitioned by its cell assignment (`path/index`, one directory per
    * cell) plus the tiny centroid table (`path/centroids`). This is the
    * physical form the 100 TB comments on [[ivfTopK]]/[[kmeansIvf]] assume:
    * once cells are parquet partitions, probing p of K cells is partition
    * PRUNING — the scan never opens the other K-p directories —
    * demonstrated by the PartitionFilters assertion in ScaleOpsSpec.
    * Assignment is the [[knnJoinOver]] shape: broadcast of K centroids
    * against one scan, no corpus shuffle beyond the partitioned write. */
  def writeIvfIndex(e0: DataFrame, K: Int, path: String): Unit =
    MaintenanceLock.withLock(e0.sparkSession, path) {
      val e = e0.localCheckpoint(eager = false) // feeds centroids + assignment
      val cent = e.filter(col("vec_id") < K)
        .select(col("vec_id").cast("int").as("cid"), col("v").as("c"))
      cent.write.mode("overwrite").parquet(s"$path/centroids")
      assignToCells(e, cent)
        .write.mode("overwrite").partitionBy("cid").parquet(s"$path/index")
    }

  /** Nearest-centroid assignment of a (vec_id, v) frame — broadcast of the
    * K centroid rows against one scan, as a PARTIAL aggregate:
    * max(struct(csim, -cid, v)) is the (csim desc, cid asc) order a
    * row_number window would rank by, but it combines map-side, so the
    * n·K candidate expansion collapses to n rows BEFORE the shuffle — at
    * 100x the window form was measured shuffling the full expansion (2.8B
    * rows for 2M vectors, K=√n). */
  private def assignToCells(e: DataFrame, cent: DataFrame): DataFrame =
    e.crossJoin(broadcast(cent))
      .select(col("vec_id"),
        struct(sim6("v", "c").as("csim"), (-col("cid")).as("ncid"), col("v"))
          .as("cand"))
      .groupBy("vec_id").agg(max("cand").as("best"))
      .select(col("vec_id"), col("best.v").as("v"), (-col("best.ncid")).as("cid"))

  /** Probe the at-rest IVF index: rank cells against the K-row centroid
    * table (driver-side — it is index metadata, bounded by K, the one
    * collect this operator is allowed), then exact-score ONLY the top-p
    * cells' partitions. The `isin` on the partition column is what turns
    * the probe into directory pruning. */
  def ivfProbe(s: SparkSession, path: String, probe: Seq[Double],
      probes: Int = 2, k: Int = 10): DataFrame = {
    val topCells = topCellsFor(s, path, probe, probes)
    s.read.parquet(s"$path/index")
      .filter(col("cid").isin(topCells: _*))
      .select(col("vec_id"), col("cid"),
        Round6.of(CosineSimilarity.of(col("v"), typedLit(probe.toArray)))
          .as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
  }

  /** Driver-side cell ranking of [[ivfProbe]]: cosine of the query against
    * the K-row centroid table. round(·,6) before ranking so the cell
    * choice is engine-independent — HALF_UP, the same policy as Spark's
    * round() and DuckDB's round() in the v7 oracle (math.rint is half-even
    * and could diverge on an exact .5e-6 tie between the driver ranking
    * and the oracle's). */
  private def topCellsFor(s: SparkSession, path: String, probe: Seq[Double],
      probes: Int): Seq[Int] = {
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    s.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getInt(0), r6(cos(r.getSeq[Double](1), probe))))
      .sortBy { case (cid, c) => (-c, cid) }
      .take(probes).map(_._1).toSeq
  }

  /** Oracle-gated at-rest IVF query (v7): build the cell-partitioned index
    * for this sf dir under target/, probe with vector 1, exact top-10
    * within the 2 probed cells only. The DuckDB oracle recomputes the
    * identical fixed-centroid assignment, cell choice, and scoring from the
    * raw embeddings table, so the whole write → prune → score pipeline is
    * hash-checked end-to-end (the plan-shape side — PartitionFilters on the
    * probe scan — is asserted in ScaleOpsSpec). */
  def ivfAtRest: Q = (s, d) => {
    val path = "target/ivf_at_rest/" + d.replaceAll("[^A-Za-z0-9]", "_")
    val e = vecsCheckpointed(s, d)
    writeIvfIndex(e, K = 8, path)
    val probe = e.filter(col("vec_id") === 1)
      .select(col("v")).collect()(0).getSeq[Double](0)
    ivfProbe(s, path, probe, probes = 2, k = 10)
  }

  /** O3/F10 over SQ8-QUANTIZED vectors: the [[cosineTopK]] shape scored
    * through [[graft.functions.Sq8Encode]] + [[graft.functions.CosineSimQ8]]
    * — encode and score fuse into one whole-stage-codegen pass reading the
    * corpus once. Hash-gated against a DuckDB reproduction of the exact
    * quantization rule (code_i = floor(v_i/scale*127 + 0.5), the Java
    * Math.round contract), so the quantizer itself — not just its recall —
    * is oracle-checked. */
  def sq8TopK: Q = (s, d) => {
    val e = vecs(s, d)
    val probe = e.filter(col("vec_id") === 2).select(col("v").as("p"))
    e.crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= 2)
      .select(col("vec_id"),
        Round6.of(Sq8.cosine(Sq8.encode(col("v")), col("p"))).as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(10)
  }

  /** DuckDB reproduction of the SQ8 asymmetric cosine: quantize each stored
    * vector with the same scale/round rule (floor(x+0.5) = Java Math.round —
    * DuckDB's round() is half-away-from-zero and would diverge on negative
    * codes), keep the query full precision, round(·,6) as everywhere. */
  val sq8TopKOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      | sc AS (SELECT vec_id, v,
      |   list_max(list_transform(v, x -> abs(x))) AS s FROM e),
      | c AS (SELECT vec_id,
      |   list_transform(v, x -> CASE WHEN s = 0 THEN 0.0
      |     ELSE floor(x / s * 127 + 0.5) END) AS code FROM sc),
      | p AS (SELECT v AS p FROM e WHERE vec_id = 2)
      |SELECT c.vec_id, round(list_dot_product(code, p) /
      | (sqrt(list_dot_product(code, code)) * sqrt(list_dot_product(p, p))), 6)
      |  AS sim
      |FROM c, p WHERE c.vec_id <> 2
      |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  /** DuckDB replay of the v10 greedy MMR: fixed k=10 unrolls as a 10-step
    * recursive CTE carrying the selected id-list. Each step scores every
    * remaining shortlist member λ·rel − (1−λ)·max-sim-to-selected and
    * takes the (score desc, vec_id asc) argmax — exactly [[mmrSelect]]'s
    * loop. The rel sims are round(·,6) like the Spark side; the penalty
    * cosines mirror mmrSelect's `dot / sqrt(na·nb)` form unrounded (the
    * argmax gaps are far above double noise on the fixture); the final
    * score rounds half-away-from-zero in both engines. */
  val mmrRerankOracle: String =
    """WITH RECURSIVE
      | e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      | p AS (SELECT v AS p FROM e WHERE vec_id = 0),
      | cand AS (SELECT vec_id, v, round(list_dot_product(v, p) /
      |    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(p, p))), 6)
      |   AS sim FROM e, p WHERE vec_id <> 0
      |  ORDER BY sim DESC, vec_id LIMIT 20),
      | pair AS (SELECT a.vec_id AS ai, b.vec_id AS bi,
      |   list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v) *
      |    list_dot_product(b.v, b.v)) AS c
      |  FROM cand a, cand b WHERE a.vec_id <> b.vec_id),
      | mmr AS (
      |  (SELECT CAST(1 AS INTEGER) AS rnk, vec_id, sim,
      |    0.7 * sim AS score, [vec_id] AS ids
      |   FROM cand ORDER BY 0.7 * sim DESC, vec_id LIMIT 1)
      |  UNION ALL
      |  SELECT t.rnk + 1, t.s.vec_id, t.s.sim, t.s.score,
      |    list_append(t.ids, t.s.vec_id)
      |  FROM (
      |   SELECT m.rnk, m.ids,
      |    (SELECT {'vec_id': c.vec_id, 'sim': c.sim,
      |       'score': 0.7 * c.sim - 0.3 * (SELECT max(p2.c) FROM pair p2
      |         WHERE p2.ai = c.vec_id AND list_contains(m.ids, p2.bi))}
      |     FROM cand c WHERE NOT list_contains(m.ids, c.vec_id)
      |     ORDER BY 0.7 * c.sim - 0.3 * (SELECT max(p2.c) FROM pair p2
      |         WHERE p2.ai = c.vec_id AND list_contains(m.ids, p2.bi)) DESC,
      |       c.vec_id
      |     LIMIT 1) AS s
      |   FROM mmr m WHERE m.rnk < 10) t)
      |SELECT rnk AS rank, vec_id, sim, round(score, 6) AS mmr_score
      |FROM mmr""".stripMargin

  val ivfAtRestOracle: String = {
    val cos = (a: String, b: String) =>
      s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
        s"sqrt(list_dot_product($b, $b))), 6)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       | cent AS (SELECT CAST(vec_id AS INTEGER) AS cid, v AS c FROM e
       |  WHERE vec_id < 8),
       | ranked AS (SELECT vec_id, v, cid, CAST(row_number() OVER (
       |    PARTITION BY vec_id ORDER BY ${cos("e.v", "cent.c")} DESC, cid)
       |   AS INTEGER) AS rn FROM e CROSS JOIN cent),
       | assigned AS (SELECT vec_id, v, cid FROM ranked WHERE rn = 1),
       | probe AS (SELECT v AS p FROM e WHERE vec_id = 1),
       | topcells AS (SELECT cid FROM cent CROSS JOIN probe
       |  ORDER BY ${cos("c", "p")} DESC, cid LIMIT 2)
       |SELECT a.vec_id, a.cid, ${cos("a.v", "p")} AS sim
       |FROM assigned a JOIN topcells USING (cid) CROSS JOIN probe
       |ORDER BY sim DESC, a.vec_id
       |LIMIT 10""".stripMargin
  }
}
