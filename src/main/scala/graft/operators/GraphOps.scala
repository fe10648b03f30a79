package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components — the missing last step of every
  * pair-producing dedup pipeline: LSH/SimHash/embedding near-dup emit PAIRS,
  * but retention decisions need duplicate GROUPS, and pair discovery is
  * probabilistic (a band can miss an edge of a true cluster), so group
  * membership is inherently transitive. The reference's dedup surface stops
  * at the pairwise episodic-memory gate (qa_retrieval.py:146-202); this
  * generalizes it to corpus-scale cluster resolution.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al. 2014,
  * "Connected Components in MapReduce and Beyond"), expressed as DataFrame
  * algebra. Each round is two groupBy-min + equi-join passes over the edge
  * list — every shuffle keys on a node id, so Catalyst plans plain hash
  * aggregates/joins (no cartesian anywhere, asserted in GraphOpsSpec) and
  * AQE can split a hot root's bucket. Convergence is O(log n) rounds, and
  * the per-round edge list never grows beyond the input edge count — this
  * is the 100 TB-safe formulation (naive label propagation needs
  * diameter-many rounds and a full node-label shuffle per round; collecting
  * neighborhoods to the driver is not an option at all).
  *
  * Iteration state is `localCheckpoint`ed each round to cut lineage (the
  * standard iterative-DataFrame requirement); convergence is detected by an
  * (edge-count, xxhash64-sum) signature — one cheap aggregate per round on
  * the already-materialized checkpoint.
  *
  * Node ids are BIGINT (the engine's doc_id type); both paths key on them.
  */
object GraphOps {

  /** Edge-count cutoff for the driver-side path: 1M canonical edges is a
    * few tens of MB collected and a sub-millisecond union-find — far below
    * the cost of even ONE distributed round (each round is 2 shuffling
    * joins + a checkpoint), while staying well inside driver memory. The
    * same AUTO philosophy as OperatingPoint and the EpisodicMemory insert
    * path: derive the execution shape from the data size, pin nothing. */
  val DriverPathCutoff = 1000000L

  /** Connected components of the undirected graph (`nodes`, `edges`).
    *
    * Below [[DriverPathCutoff]] canonical edges the component labels are
    * computed by driver-side union-find (near-dup graphs are pair-sparse:
    * even a 100 TB corpus with a healthy dup rate yields edge counts
    * orders below node counts — but the distributed path engages
    * automatically whenever that assumption breaks). Both paths produce
    * identical labels (GraphOpsSpec asserts it on random graphs).
    *
    * @param nodes single-column frame `id` — must cover every edge endpoint
    *              (isolated ids allowed; they become their own component)
    * @param edges two-column frame `a`, `b` (orientation/duplicates/self
    *              loops are normalized away)
    * @return frame `(id, component)` where `component` is the minimum id in
    *         the node's component
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 25): DataFrame = {
    val e = canonical(edges).localCheckpoint()
    // count-then-collect, NOT limit(cutoff+1).collect(): executeTake
    // schedules partitions incrementally (1, then ×4 per round — up to 4
    // jobs on a 32-partition checkpoint), measured SLOWER than these two
    // single-job actions over the already-materialized blocks
    if (e.count() <= DriverPathCutoff)
      componentsLocal(nodes,
        e.collect().map(r => (r.getLong(0), r.getLong(1))))
    else componentsDistributed(nodes, e, maxIter)
  }

  private def canonical(edges: DataFrame): DataFrame =
    edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()

  /** Small-graph path: union-find over the (bounded, already collected)
    * canonical edge list on the driver, labels broadcast back as a join. */
  private[graft] def componentsLocal(nodes: DataFrame,
      pairs: Array[(Long, Long)]): DataFrame = {
    // union by size + full-path compression: without balancing, a long
    // chain collected in descending order builds an O(n)-deep parent
    // chain and label resolution goes quadratic — near the 1M-edge
    // cutoff that is hours, not milliseconds. Union-by-min-id alone
    // does NOT balance (the min is not the bigger tree); roots are
    // re-labeled to the component min in a final pass instead.
    val parent = scala.collection.mutable.LongMap.empty[Long]
    val size = scala.collection.mutable.LongMap.empty[Long]
    def root(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // compress the whole walked path
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (root(a), root(b))
      if (ra != rb) {
        val (sa, sb) = (size.getOrElse(ra, 1L), size.getOrElse(rb, 1L))
        val (big, small) = if (sa >= sb) (ra, rb) else (rb, ra)
        parent(small) = big
        size(big) = sa + sb
      }
    }
    val touched = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSeq.distinct
    // component label = min id in the component (the operator's contract)
    val minOfRoot = scala.collection.mutable.LongMap.empty[Long]
    touched.foreach { n =>
      val r = root(n)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, n), n)
    }
    val session = nodes.sparkSession
    import session.implicits._
    val labels = touched.map(n => (n, minOfRoot(root(n)))).toDF("id", "lab")
    nodes.select(col("id")).join(broadcast(labels), Seq("id"), "left")
      .select(col("id"), coalesce(col("lab"), col("id")).as("component"))
  }

  /** Bulk path: the alternating-star loop. `canonicalEdges` must already be
    * canonical (a < b, no self loops, distinct) and checkpointed. */
  private[graft] def componentsDistributed(nodes: DataFrame,
      canonicalEdges: DataFrame, maxIter: Int = 25): DataFrame = {
    var e = canonicalEdges
    var sig: (Long, String) = signature(e)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == sig
      e = next; sig = nextSig; iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(bound is ~log2 of the largest component; raise maxIter)")
    // fixpoint edges form per-component stars rooted at the min id
    val members = e.select(col("b").as("id"), col("a").as("component"))
    val selfOnly = nodes.select(col("id"))
      .join(members.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    members.unionByName(selfOnly)
  }

  /** Large-star: every node connects its strictly-larger neighbors to the
    * minimum of its closed neighborhood. Input/output edges are canonical
    * (a < b). */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val mins = sym.groupBy("a").agg(min("b").as("mn"))
      .select(col("a"), least(col("mn"), col("a")).as("m"))
    sym.join(mins, "a").filter(col("b") > col("a"))
      .select(col("m").as("a"), col("b"))
      .filter(col("a") =!= col("b")).distinct()
  }

  /** Small-star: every node connects its smaller neighbors (and itself) to
    * the minimum of that set. Input must be canonical (a < b); output is. */
  private[graft] def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("b").agg(min("a").as("m"))
    e.join(mins, "b")
      .select(col("m").as("a"), col("a").as("b"))
      .unionByName(mins.select(col("m").as("a"), col("b")))
      .filter(col("a") =!= col("b")).distinct()
  }

  private def signature(e: DataFrame): (Long, String) = {
    // Convergence test is (count, hash-sum) equality between consecutive
    // rounds: two DIFFERENT edge sets colliding on both would terminate
    // early with wrong labels — accepted at ~2^-64 odds (order-independent
    // sum of per-edge xxhash64), the standard iterative-fixpoint tradeoff
    // vs. an exact except()-based comparison that would cost a join per
    // round.
    // decimal sum: a Long sum of 2^63-range hashes overflows under ANSI
    val r = e.agg(count(lit(1)),
      sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)"))).head()
    (r.getLong(0), if (r.isNullAt(1)) "" else r.getDecimal(1).toString)
  }
}
