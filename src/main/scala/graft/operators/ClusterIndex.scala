package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-cluster labels AT REST — the operational form of the dd7/dd8
  * family. The oracle-gated queries ([[DedupOps.dupClusters]],
  * [[DedupOps.clusterRetention]]) recompute the whole LSH + connected-
  * components pipeline per invocation, which is correct for a self-contained
  * gate but not how production dedup ships: there, the cluster labels are an
  * ARTIFACT materialized once and joined everywhere, maintained
  * incrementally as the corpus grows (the same at-rest treatment
  * [[VectorOps.writeIvfIndex]] gives the ANN family). The reference's dedup
  * surface is the per-pair episodic gate (qa_retrieval.py:146-202); this is
  * its corpus-scale operational shape.
  *
  * Layout under `path/`:
  *  - `labels/` — (doc_id, hs, n, n_words, component, keep, canonical),
  *    partitioned by `part` = hash-bucket of `component`. The label table
  *    AND the per-doc MinHash verify attributes in one artifact, so an
  *    append never recomputes shingle hashes for the existing corpus.
  *  - `edges/`  — (a, b, component), same component-bucket partitioning;
  *    the resolved pair graph, kept so a merge can re-run CC on ONLY the
  *    touched components' subgraph.
  *  - `bands/`  — (doc_id, bk), the at-rest LSH band index the incremental
  *    probe equi-joins against, partitioned by `bkb` = hash-bucket of `bk`
  *    so the probe reads only the buckets the batch's band keys hash into.
  *  - `_meta`   — the layout constants the artifact was written with
  *    ([[IndexMeta]]); appends use the STORED layout, never a re-derived
  *    one (re-deriving from the grown corpus would silently re-hash every
  *    bucket assignment).
  *  - `_maintenance.lock` — [[MaintenanceLock]]'s single-writer fence,
  *    held across [[write]], [[append]], and [[delete]].
  *
  * Why bucket by component hash instead of one dir per component: near-dup
  * corpora have ~as many components as documents — millions of directories
  * is a metadata explosion. Bucketing makes incremental maintenance
  * PHYSICAL partition work: an append reads only the buckets holding
  * touched components (partition pruning on `part`) and rewrites only
  * those buckets; every other bucket's files stay byte-identical (asserted
  * in ClusterIndexSpec). Both bucket counts are corpus-derived at write
  * time ([[OperatingPoint.clusterIndexParts]] /
  * [[OperatingPoint.bandIndexBuckets]]) so a bucket rewrite stays a small,
  * bounded slice of the corpus at any scale.
  */
object ClusterIndex {

  /** Layout constants persisted at `path/_meta`: the component-bucket
    * count, the band-index bucket count, and the corpus size they were
    * derived from (diagnostics). Indexes written before `_meta` existed
    * fall back to the original pinned layout (64 parts, unbucketed
    * bands — `bandBuckets == 0`). */
  final case class IndexMeta(numParts: Int, bandBuckets: Int, n: Long)

  /** Pre-`_meta` layout, also the fixture floor of the derivations. */
  private val LegacyMeta = IndexMeta(64, 0, 0L)

  def meta(s: SparkSession, path: String): IndexMeta = {
    val p = new Path(path, "_meta")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) LegacyMeta
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val kv = text.linesIterator.filter(_.contains('='))
        .map { l => val Array(k, v) = l.split("=", 2); (k.trim, v.trim) }
        .toMap
      IndexMeta(kv("num_parts").toInt, kv("band_buckets").toInt,
        kv.getOrElse("n", "0").toLong)
    }
  }

  private def writeMeta(s: SparkSession, path: String, m: IndexMeta): Unit = {
    val p = new Path(path, "_meta")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      s"num_parts=${m.numParts}\nband_buckets=${m.bandBuckets}\nn=${m.n}\n"
        .getBytes("UTF-8"))
    finally out.close()
  }

  private def partOf(c: Column, numParts: Int): Column =
    pmod(xxhash64(c), lit(numParts.toLong)).cast("int")

  /** Band-key bucket for the `bands/` partitioning; `bk` is the
    * pipe-joined signature-minima STRING, so hash it to spread. */
  private def bkbOf(bandBuckets: Int): Column =
    pmod(xxhash64(col("bk")), lit(bandBuckets.toLong)).cast("int")

  private val LabelCols = Seq("doc_id", "hs", "n", "n_words",
    "component", "keep", "canonical", "part")

  /** Test-only crash injection for the staged-rename protocol (the
    * standard failpoint pattern): set to `"after-gains:<leaf>"` and the
    * bucket rewrite of a dir ending in `<leaf>` throws AFTER the
    * unaffected-bucket gains landed but BEFORE any affected bucket
    * swapped — the exact duplicate-visible window a re-run of the same
    * [[append]] must close. Null in production; specs set and clear. */
  private[graft] val failpoint =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  private def maybeFail(stage: String, dir: String): Unit = {
    val fp = failpoint.get
    if (fp != null) fp.split(":", 2) match {
      case Array(st, leaf) if st == stage && dir.endsWith(leaf) =>
        throw new IllegalStateException(s"failpoint $fp in $dir")
      case _ => ()
    }
  }

  /** The stored band rows a batch's candidate probe must join — pruned to
    * the batch's `bkb` buckets when the index is bucketed (partition
    * pruning on the partitioned read; the distinct-`bkb` collect is
    * bounded by the `_meta` bucket count, ≤ 4096). Package-visible so the
    * spec can assert the pruned plan. */
  private[graft] def prunedBands(s: SparkSession, path: String,
      newBands: DataFrame): DataFrame = {
    val m = meta(s, path)
    val all = s.read.parquet(s"$path/bands")
    if (m.bandBuckets == 0) all
    else {
      val batchBkbs = newBands.select(bkbOf(m.bandBuckets).as("bkb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      all.filter(col("bkb").isin(batchBkbs: _*))
    }
  }

  /** Full build over a (doc_id, text) corpus: LSH pair discovery →
    * connected components → retention (keep-the-most-complete, dd8's
    * policy), persisted under `path`. Same plan family as the dd7/dd8
    * gates; ClusterIndexSpec asserts label parity with them. Bucket
    * counts are derived from the corpus size (pass `countEstimate` to
    * skip the count job) and persisted in `_meta` for [[append]]. */
  def write(corpus: DataFrame, path: String,
      countEstimate: Option[Long] = None): Unit =
    MaintenanceLock.withLock(corpus.sparkSession, path) {
      val s = corpus.sparkSession
      repairGeometry(s, path) // a stale rebucket marker must not outlive us
      val n = math.max(1L, countEstimate.getOrElse(corpus.count()))
      val m = IndexMeta(OperatingPoint.clusterIndexParts(n),
        OperatingPoint.bandIndexBuckets(n), n)
      // meta first: a crash mid-write leaves a partial artifact that is
      // rebuilt by re-running write() (Overwrite semantics); data files
      // must never exist without the layout that hashed them
      writeMeta(s, path, m)
      val docs = DedupOps.lshDocsOf(corpus)
      val pairs = DedupOps.lshPairsFromDocs(docs)
      val edges = pairs.select(col("a_id").as("a"), col("b_id").as("b"))
      val nWords = corpus.select(col("doc_id"),
        size(split(col("text"), " ")).as("n_words"))
      val cc = GraphOps.connectedComponents(
          corpus.select(col("doc_id").as("id")), edges)
        .select(col("id").as("doc_id"), col("component"))
        .localCheckpoint(eager = false) // feeds labels AND the edge bucketing
      retention(cc.join(nWords, "doc_id")
          .join(docs.select("doc_id", "hs", "n"), "doc_id"))
        .withColumn("part", partOf(col("component"), m.numParts))
        .select(LabelCols.map(col): _*)
        .write.mode(SaveMode.Overwrite).partitionBy("part")
        .parquet(s"$path/labels")
      // an edge's endpoints share a component by definition; bucket by it
      edges.join(cc.select(col("doc_id").as("a"), col("component")), Seq("a"))
        .withColumn("part", partOf(col("component"), m.numParts))
        .select("a", "b", "component", "part")
        .write.mode(SaveMode.Overwrite).partitionBy("part")
        .parquet(s"$path/edges")
      DedupOps.lshBandsOf(docs)
        .withColumn("bkb", bkbOf(m.bandBuckets))
        .write.mode(SaveMode.Overwrite).partitionBy("bkb")
        .parquet(s"$path/bands")
    }

  /** The persisted label table (doc_id, …, component, keep, canonical). */
  def labels(s: SparkSession, path: String): DataFrame =
    s.read.parquet(s"$path/labels")

  /** dd8's retention policy over (doc_id, component, n_words, …): keep
    * exactly one member per component — max word count, doc_id tie-break —
    * and label every member with the surviving canonical. */
  private def retention(members: DataFrame): DataFrame = {
    val w = Window.partitionBy("component")
      .orderBy(desc("n_words"), col("doc_id"))
    val wFull = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    members
      .withColumn("keep", row_number().over(w) === 1)
      .withColumn("canonical", first("doc_id").over(wFull))
  }

  /** Incremental maintenance: fold a batch of documents into the at-rest
    * index, re-resolving ONLY the touched components. New doc_ids are the
    * normal case (the reference's UUID contract); a doc_id already present
    * in the index is absorbed IDEMPOTENTLY under the same-id-same-content
    * contract — its stored components are force-touched, so its old rows
    * are rewritten rather than duplicated. That makes a full re-run of the
    * same batch converge to the same artifact, which is what lets a
    * caller repair a crash-interrupted fold by simply re-running it (the
    * ADVICE-identified duplicate-visible window: a crash between
    * the gains and swaps of [[rewriteBuckets]] can leave a migrated
    * component visible in two buckets — on re-run both copies' components
    * are touched, so both buckets rewrite and the duplicate dies).
    *
    * Steps, each bounded by the new batch + touched components (never the
    * stored corpus):
    *  1. band the new docs, probe the at-rest band index for new×old
    *     candidates — the probe filters the stored bands to the batch's
    *     `bkb` buckets first (partition pruning; the distinct-`bkb`
    *     collect is bounded by the `_meta` bucket count) — self-join for
    *     new×new, verify exact Jaccard against the stored (hs, n)
    *     attributes;
    *  2. touched components = components of old endpoints of the found
    *     edges, PLUS components of any stored row whose doc_id is in the
    *     batch (resubmission / crash-repair absorption); their buckets are
    *     the ONLY label/edge partitions read (partition pruning on `part`)
    *     and the only ones rewritten;
    *  3. re-run [[GraphOps.connectedComponents]] on the touched subgraph
    *     (stored edges of touched components ∪ new edges) plus the new
    *     docs, recompute retention for exactly those members;
    *  4. physical write: affected buckets are swapped wholesale with
    *     (their untouched components' rows ∪ re-resolved rows); rows whose
    *     component hashes elsewhere are APPENDED — pre-existing files in
    *     unaffected buckets are never modified (ClusterIndexSpec asserts
    *     byte-identity).
    *
    * Label parity with a full batch rebuild is exact, not approximate: the
    * band pipeline is deterministic, so old×old pair discovery equals the
    * stored edge set and components without a new edge cannot change.
    *
    * @return the affected bucket ids (diagnostics + spec assertions)
    */
  def append(newCorpus: DataFrame, path: String): Seq[Int] =
    MaintenanceLock.withLock(newCorpus.sparkSession, path) {
      appendLocked(newCorpus, path)
    }

  private def appendLocked(newCorpus: DataFrame, path: String): Seq[Int] = {
    val s = newCorpus.sparkSession
    repairGeometry(s, path)
    val m = meta(s, path)
    // eager: nd feeds candidate probing, verify lookup, and attrs below
    val nd = DedupOps.lshDocsOf(newCorpus).localCheckpoint(eager = true)
    val ndWords = newCorpus.select(col("doc_id"),
      size(split(col("text"), " ")).as("n_words"))
    val newBands = DedupOps.lshBandsOf(nd).localCheckpoint(eager = true)
    val oldBands = prunedBands(s, path, newBands)
    val oldLabels = labels(s, path)

    // 1. candidate pairs touching a new doc: new×new plus new×old
    val nn = newBands.as("a").join(newBands.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    val no = newBands.as("a").join(oldBands.as("b"), Seq("bk"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    // dropDuplicates: a crash-repair re-run sees the stored copy of a
    // batch doc alongside nd's — attributes are text-derived, so either
    // row is the same row
    val lookup = nd.select("doc_id", "hs", "n")
      .unionByName(oldLabels.select("doc_id", "hs", "n"))
      .dropDuplicates("doc_id")
    val newEdges = DedupOps.lshVerify(nn.unionByName(no).distinct(), lookup)
      .select(col("a_id").as("a"), col("b_id").as("b"))
      .localCheckpoint(eager = true)

    // 2. touched components and their physical buckets. Components of
    // stored rows carrying a batch doc_id are force-touched so a
    // resubmitted (or crash-duplicated) doc's old rows are REWRITTEN, not
    // joined by a second copy.
    val endpoints = newEdges.select(col("a").as("doc_id"))
      .unionByName(newEdges.select(col("b").as("doc_id"))).distinct()
    val batchIds = nd.select("doc_id")
    val touched = oldLabels.join(endpoints, Seq("doc_id"))
      .select("component")
      .unionByName(oldLabels.join(batchIds, Seq("doc_id"))
        .select("component"))
      .distinct().localCheckpoint(eager = true)
    // bounded by numParts — bucket METADATA, the one collect this op allows
    val affectedParts = touched
      .select(partOf(col("component"), m.numParts).as("part"))
      .distinct().collect().map(_.getInt(0)).toSeq

    // 3. re-resolve the touched subgraph + all new docs. distinct /
    // dropDuplicates throughout: a repair re-run can hold the same doc or
    // edge in both the stored and new sides.
    val oldInParts = oldLabels.filter(col("part").isin(affectedParts: _*))
    val touchedMembers = oldInParts.join(touched, Seq("component"))
      .localCheckpoint(eager = true)
    val oldEdges = s.read.parquet(s"$path/edges")
    val oldEdgesTouched = oldEdges
      .filter(col("part").isin(affectedParts: _*))
      .join(touched, Seq("component"))
      .select("a", "b")
    val subEdges = newEdges.unionByName(oldEdgesTouched)
      .dropDuplicates("a", "b")
      .localCheckpoint(eager = false) // feeds cc AND the edge rewrite
    val cc = GraphOps.connectedComponents(
        touchedMembers.select(col("doc_id").as("id"))
          .unionByName(nd.select(col("doc_id").as("id"))).distinct(),
        subEdges)
      .select(col("id").as("doc_id"), col("component"))
      .localCheckpoint(eager = false)
    val attrs = touchedMembers.select("doc_id", "hs", "n", "n_words")
      .unionByName(nd.select("doc_id", "hs", "n").join(ndWords, "doc_id")
        .select("doc_id", "hs", "n", "n_words"))
      .dropDuplicates("doc_id")
    val relabeled = retention(cc.join(attrs, "doc_id"))
      .withColumn("part", partOf(col("component"), m.numParts))
      .select(LabelCols.map(col): _*)
    val relabeledEdges = subEdges
      .join(cc.select(col("doc_id").as("a"), col("component")), Seq("a"))
      .withColumn("part", partOf(col("component"), m.numParts))
      .select("a", "b", "component", "part")

    // 4. physical write — keep rows of untouched components sharing an
    // affected bucket ride along in the rewrite. Write ORDER is part of
    // the crash contract: bands first, then edges, LABELS LAST — a doc
    // present in labels is therefore fully applied EXCEPT in the
    // duplicate-visible window a crash inside the labels rewrite leaves
    // (gains landed, swaps pending); re-running the SAME batch closes it
    // (see the idempotence notes above), so a caller keeps each batch
    // until its append returns. Candidate pairs are
    // distinct'd, so the duplicate band rows a re-run appends only add
    // join work, and the re-resolved edge rewrite recomputes the same
    // components (pair discovery was checkpointed before the first write
    // landed).
    val keepLabels = oldInParts.join(touched, Seq("component"), "left_anti")
      .select(LabelCols.map(col): _*)
    val keepEdges = oldEdges.filter(col("part").isin(affectedParts: _*))
      .join(touched, Seq("component"), "left_anti")
      .select("a", "b", "component", "part")
    // safe here: nn/no candidate discovery materialized into newEdges'
    // eager checkpoint above, so the probe never sees these new rows
    val bandWriter =
      if (m.bandBuckets == 0) newBands.write.mode(SaveMode.Append)
      else newBands.withColumn("bkb", bkbOf(m.bandBuckets))
        .write.mode(SaveMode.Append).partitionBy("bkb")
    bandWriter.parquet(s"$path/bands")
    rewriteBuckets(relabeledEdges.unionByName(keepEdges), affectedParts,
      s"$path/edges", s)
    rewriteBuckets(relabeled.unionByName(keepLabels), affectedParts,
      s"$path/labels", s)
    affectedParts
  }

  /** Incremental DELETION: remove documents from the at-rest index —
    * takedown / right-to-be-forgotten maintenance, the third operation a
    * production corpus artifact needs beside build and append. Bounded by
    * the deleted batch + its touched components, like [[append]]:
    *
    *  1. touched components = stored components of the deleted doc_ids
    *     (ids not in the index are ignored — deletion is idempotent);
    *  2. band-index rows are located WITHOUT the original text: band keys
    *     are reconstructed from the stored `hs` shingle hashes
    *     ([[DedupOps.lshBandsFromStored]] — `minhash_sigs` is
    *     deterministic on `hs`), so only the victims' `bkb` buckets are
    *     rewritten;
    *  3. the touched components' REMAINING members re-resolve over the
    *     stored edges minus edges incident to a victim — deletion can
    *     SPLIT a component (a bridge doc leaves), and a deleted keeper's
    *     survivors get a fresh retention pass;
    *  4. physical writes reuse the staged-rename protocol; write order is
    *     the mirror of [[append]]'s: bands and edges first, labels LAST,
    *     so "doc_id absent from labels" means fully deleted. A crash
    *     mid-protocol is repaired by re-running the same delete (victims
    *     still present in labels re-derive the same touched set; victims
    *     already gone are skipped).
    *
    * Requires the bucketed band layout (`_meta` with band_buckets > 0);
    * legacy flat-band indexes must be rebuilt with [[write]] first —
    * pruning a flat band dir would force a full-corpus rewrite, which this
    * op's cost contract forbids.
    *
    * @return the affected component-bucket ids (diagnostics + specs)
    */
  def delete(docIds: DataFrame, path: String): Seq[Int] =
    MaintenanceLock.withLock(docIds.sparkSession, path) {
      deleteLocked(docIds, path)
    }

  private def deleteLocked(docIds: DataFrame, path: String): Seq[Int] = {
    val s = docIds.sparkSession
    repairGeometry(s, path)
    val m = meta(s, path)
    require(m.bandBuckets > 0,
      "delete requires a bucketed band index; rebuild with ClusterIndex.write")
    val oldLabels = labels(s, path)
    // cast the victim ids to the STORED doc_id type, not a hard long:
    // labels are joined by value (no type-dependent hash routing here),
    // but a long cast on a UUID-string corpus would null every victim
    // and the takedown would silently match nothing. An id that does not
    // cast (e.g. a non-numeric string victim against a LongType index) is
    // itself a silent-empty-delete under non-ANSI semantics and an opaque
    // mid-job CAST_INVALID_INPUT under ANSI — so probe with try_cast
    // (null in BOTH modes) and reject loudly with the artifact's own
    // message, same discipline as SpanIndex.withLongDocId.
    val storedType = oldLabels.schema("doc_id").dataType
    val rawIds = docIds.select(col("doc_id")).distinct()
    val uncastable = rawIds
      .filter(col("doc_id").isNotNull &&
        expr(s"try_cast(doc_id AS ${storedType.sql})").isNull)
      .count()
    if (uncastable > 0) throw new IllegalArgumentException(
      s"ClusterIndex.delete: $uncastable victim id(s) do not cast to the " +
        s"stored doc_id type $storedType; the takedown would silently " +
        "match nothing. Map the ids to the indexed type upstream.")
    val ids = rawIds.select(col("doc_id").cast(storedType).as("doc_id"))
      .distinct().localCheckpoint(eager = true)
    // victims materialize BEFORE any rewrite: their stored hs rows are the
    // only way back to their band keys once labels change
    val victims = oldLabels.join(ids, Seq("doc_id"))
      .localCheckpoint(eager = true)
    val touched = victims.select("component").distinct()
      .localCheckpoint(eager = true)
    val affectedParts = touched
      .select(partOf(col("component"), m.numParts).as("part"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (affectedParts.isEmpty) Seq.empty
    else {
      // remaining members + remaining edges of the touched components
      val oldInParts = oldLabels.filter(col("part").isin(affectedParts: _*))
      val remaining = oldInParts.join(touched, Seq("component"))
        .join(ids, Seq("doc_id"), "left_anti")
        .localCheckpoint(eager = true)
      val oldEdges = s.read.parquet(s"$path/edges")
      val subEdges = oldEdges.filter(col("part").isin(affectedParts: _*))
        .join(touched, Seq("component"))
        .join(ids.select(col("doc_id").as("a")), Seq("a"), "left_anti")
        .join(ids.select(col("doc_id").as("b")), Seq("b"), "left_anti")
        .select("a", "b")
        .localCheckpoint(eager = false) // feeds cc AND the edge rewrite
      val cc = GraphOps.connectedComponents(
          remaining.select(col("doc_id").as("id")), subEdges)
        .select(col("id").as("doc_id"), col("component"))
        .localCheckpoint(eager = false)
      val relabeled = retention(
          cc.join(remaining.select("doc_id", "hs", "n", "n_words"), "doc_id"))
        .withColumn("part", partOf(col("component"), m.numParts))
        .select(LabelCols.map(col): _*)
      val relabeledEdges = subEdges
        .join(cc.select(col("doc_id").as("a"), col("component")), Seq("a"))
        .withColumn("part", partOf(col("component"), m.numParts))
        .select("a", "b", "component", "part")
      val keepLabels = oldInParts.join(touched, Seq("component"), "left_anti")
        .select(LabelCols.map(col): _*)
      val keepEdges = oldEdges.filter(col("part").isin(affectedParts: _*))
        .join(touched, Seq("component"), "left_anti")
        .select("a", "b", "component", "part")

      // bands: reconstruct the victims' band keys from stored hs, rewrite
      // only the bkb buckets those keys hash into
      val victimBands = DedupOps.lshBandsFromStored(
        victims.select("doc_id", "hs"))
      val victimBkbs = victimBands.select(bkbOf(m.bandBuckets).as("bkb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val keptBands = s.read.parquet(s"$path/bands")
        .filter(col("bkb").isin(victimBkbs: _*))
        .join(ids, Seq("doc_id"), "left_anti")
        .select("doc_id", "bk", "bkb")
      rewriteBuckets(keptBands, victimBkbs, s"$path/bands", s, "bkb")
      rewriteBuckets(relabeledEdges.unionByName(keepEdges), affectedParts,
        s"$path/edges", s)
      rewriteBuckets(relabeled.unionByName(keepLabels), affectedParts,
        s"$path/labels", s)
      affectedParts
    }
  }

  /** Compaction — the fourth lifecycle operation beside [[write]],
    * [[append]], and [[delete]]. Incremental maintenance fragments buckets:
    * every append lands its band rows and unaffected-bucket gains as NEW
    * files, and every bucket rewrite re-emits rows from a multi-task
    * shuffle, so a bucket touched k times holds O(k) small parquet files —
    * the classic at-rest small-files problem that degrades scan throughput
    * (per-file open/footer cost, tiny row groups) long before capacity
    * matters at 100 TB. This rewrites ONLY the buckets whose data-file
    * count exceeds `maxFiles`, coalescing each to one file per bucket
    * through the same staged-rename protocol — crash-safe, row-identical,
    * and buckets at or below the threshold stay byte-identical. The file
    * census is pure bucket METADATA (one driver-side listing per bucket,
    * bounded by the `_meta` bucket counts), and the data read is pruned to
    * the fragmented buckets. Runs under the single-writer fence like every
    * other maintenance op.
    *
    * @return compacted bucket ids per sub-artifact (diagnostics + specs)
    */
  def compact(s: SparkSession, path: String,
      maxFiles: Int = 4): Map[String, Seq[Int]] =
    MaintenanceLock.withLock(s, path) {
      repairGeometry(s, path)
      val m = meta(s, path)
      Map(
        "labels" -> compactDir(s, s"$path/labels", "part", maxFiles),
        "edges" -> compactDir(s, s"$path/edges", "part", maxFiles)) ++
        // a legacy flat band dir has no partition column to prune or swap
        // on — appends to it are plain file appends, and compacting it
        // means a full rewrite better served by write()
        (if (m.bandBuckets > 0)
          Map("bands" -> compactDir(s, s"$path/bands", "bkb", maxFiles))
        else Map.empty)
    }

  /** One partitioned dir's compaction: census the `partCol=` bucket dirs,
    * pick those holding more than `maxFiles` data files, re-emit exactly
    * their rows clustered one-task-per-bucket (`repartition(partCol)` —
    * each bucket's rows land in a single task, so the partitioned write
    * emits ONE file per bucket), and swap them in via [[rewriteBuckets]].
    * Shared with the IVF index's `cid=` cells. `dedupe` additionally
    * collapses exact-duplicate rows while rewriting — the span index's
    * carrier facts tolerate crash-duplicated rows at read time and use
    * compaction as the point where they physically disappear. */
  private[operators] def compactDir(s: SparkSession, dir: String,
      partCol: String, maxFiles: Int, dedupe: Boolean = false): Seq[Int] = {
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val fragmented = Option(fs.listStatus(new Path(dir))).toSeq.flatten
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$partCol="))
      .filter { st =>
        Option(fs.listStatus(st.getPath)).toSeq.flatten.count(f =>
          f.isFile && !f.getPath.getName.startsWith(".") &&
            !f.getPath.getName.startsWith("_")) > maxFiles
      }
      .map(_.getPath.getName.stripPrefix(s"$partCol=").toInt)
    if (fragmented.nonEmpty) {
      val rows = s.read.parquet(dir).filter(col(partCol).isin(fragmented: _*))
      rewriteBuckets(
        (if (dedupe) rows.distinct() else rows).repartition(col(partCol)),
        fragmented, dir, s, partCol)
    }
    fragmented
  }

  private val RebucketDirs = Seq("labels", "edges", "bands")

  private def promoteStagedMeta(s: SparkSession, path: String): () => Unit =
    () => {
      val staging = GeometrySwap.stagingPath(path)
      val stagedMeta = new Path(staging, "_meta")
      // meta() falls back to LegacyMeta on a missing file — promoting
      // that would silently downgrade the artifact's geometry
      require(stagedMeta.getFileSystem(s.sparkContext.hadoopConfiguration)
        .exists(stagedMeta), s"rebucket commit without a staged _meta at $staging")
      writeMeta(s, path, meta(s, staging))
    }

  /** Converge a crashed [[rebucket]] before touching the artifact — one
    * `exists` probe when healthy. Called by every locked maintenance op. */
  private def repairGeometry(s: SparkSession, path: String): Unit =
    GeometrySwap.repair(s, path, RebucketDirs, promoteStagedMeta(s, path))

  /** Re-bucket policy trigger: true when the geometry derived from the
    * CURRENT corpus size differs from the stored `_meta` one. The
    * [[OperatingPoint]] derivations move in power-of-two steps (one step
    * per corpus doubling in the growth regime), so this flips exactly when
    * the corpus has drifted past one doubling of the stored design point —
    * the point where per-bucket volume is 2x the target and appends/probes
    * start paying for it. Check it on the same cadence as [[compact]]. */
  def geometryDrifted(s: SparkSession, path: String,
      countEstimate: Option[Long] = None): Boolean = {
    val m = meta(s, path)
    val n = math.max(1L, countEstimate.getOrElse(labels(s, path).count()))
    OperatingPoint.clusterIndexParts(n) != m.numParts ||
      OperatingPoint.bandIndexBuckets(n) != m.bandBuckets
  }

  /** Geometry step-up — the lifecycle operation beside [[write]],
    * [[append]], [[delete]] and [[compact]]. Appends
    * deliberately pin the STORED `_meta` geometry (hashing consistency),
    * so an index seeded at corpus size n keeps its bucket counts while the
    * corpus grows past them — per-bucket volume drifts off the
    * ~1k-docs-per-bucket [[OperatingPoint]] design point and every later
    * probe/rewrite quietly pays the difference. Rebucket re-derives the
    * bucket counts from the CURRENT corpus size and rewrites the whole
    * artifact under them via the staged-swap protocol ([[GeometrySwap]]:
    * full staging build → commit marker → dir swaps → `_meta` promoted
    * LAST), under the single-writer fence. Row content is untouched — only
    * the partition-column values (`part`, `bkb`) are recomputed — and the
    * rewrite re-clusters one task per bucket, so a rebucket is also a full
    * compaction. A legacy flat band dir (pre-`_meta`, `bandBuckets == 0`)
    * is upgraded to the bucketed layout. No-op (returns the stored meta)
    * when the derived geometry already matches. Unlike the fixed-geometry
    * bucket rewrites, readers are NOT safe concurrent with the swap —
    * schedule rebucket in a quiesced maintenance window; a crash at any
    * step converges via the repair every maintenance op runs on entry. */
  def rebucket(s: SparkSession, path: String,
      countEstimate: Option[Long] = None): IndexMeta =
    MaintenanceLock.withLock(s, path) {
      repairGeometry(s, path)
      val old = meta(s, path)
      val n = math.max(1L, countEstimate.getOrElse(labels(s, path).count()))
      val nm = IndexMeta(OperatingPoint.clusterIndexParts(n),
        OperatingPoint.bandIndexBuckets(n), n)
      if (nm.numParts == old.numParts && nm.bandBuckets == old.bandBuckets) old
      else {
        val staging = GeometrySwap.stagingPath(path)
        labels(s, path).drop("part")
          .withColumn("part", partOf(col("component"), nm.numParts))
          .repartition(col("part"))
          .write.mode(SaveMode.Overwrite).partitionBy("part")
          .parquet(s"$staging/labels")
        s.read.parquet(s"$path/edges").drop("part")
          .withColumn("part", partOf(col("component"), nm.numParts))
          .repartition(col("part"))
          .write.mode(SaveMode.Overwrite).partitionBy("part")
          .parquet(s"$staging/edges")
        // select, not drop: a legacy flat band dir has no bkb to drop
        s.read.parquet(s"$path/bands").select("doc_id", "bk")
          .withColumn("bkb", bkbOf(nm.bandBuckets))
          .repartition(col("bkb"))
          .write.mode(SaveMode.Overwrite).partitionBy("bkb")
          .parquet(s"$staging/bands")
        writeMeta(s, staging, nm)
        GeometrySwap.commit(s, path, RebucketDirs, promoteStagedMeta(s, path))
        nm
      }
    }

  /** Replace exactly the affected `part=` bucket dirs (and append staged
    * files to any other bucket the rows hash into), two-phase: stage the
    * replacement rows as a complete durable parquet write FIRST, then
    * move staged files into their buckets with CHECKED renames (Hadoop
    * reports rename failure by returning false — an unchecked false here
    * nests dirs or strands rows, so any false aborts loudly). Appends to
    * unaffected buckets go first (pure gains), then each affected bucket
    * is swapped (retire the live dir, move the staged dir into place),
    * then the retired copies are dropped. No bucket is ever deleted
    * before its replacement exists on disk — a crash leaves every row
    * present in a live, staged, or retired location (dot-prefixed dirs
    * are invisible to parquet scans), unlike a delete-then-append whose
    * failure window loses the affected buckets outright. The residual
    * crash window is DUPLICATE-visible, not loss: appends landed but an
    * affected bucket not yet swapped still holds the old copy of a
    * migrated component until the swap completes — closed by re-running
    * the same append ([[append]]'s force-touch idempotence). Orphaned
    * staging/retired dirs from a previous crashed run are cleared on
    * entry (single-writer maintenance, enforced by [[MaintenanceLock]],
    * as with the IVF index). At 100 TB this artifact graduates to a
    * transactional table format (commit-log semantics); the staged-rename
    * protocol is the dependency-free analog. Explicit swap (rather than
    * dynamic partition overwrite) also clears a bucket whose every
    * component migrated elsewhere, which dynamic overwrite would leave
    * stale because no new row lands in it. */
  private[operators] def rewriteBuckets(rows: DataFrame, affectedParts: Seq[Int],
      dir: String, s: SparkSession, partCol: String = "part"): Unit = {
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    def renameOrFail(src: Path, dst: Path): Unit =
      if (!fs.rename(src, dst))
        throw new java.io.IOException(
          s"bucket swap aborted: rename $src -> $dst failed")
    // clear orphans from a previous crashed run before writing new ones.
    // Retired dirs are RESTORED first, not just deleted: a crash between
    // a bucket's retire-rename and its staged-rename leaves that bucket's
    // only copy under .retired-* — rename it back before dropping the dir
    // (if the staged rename did land, the live dir exists and the retired
    // copy is stale — deleted as before).
    Option(fs.listStatus(new Path(dir))).toSeq.flatten
      .map(_.getPath)
      .filter(p => p.getName.startsWith(".staging-") ||
        p.getName.startsWith(".retired-"))
      .foreach { orphan =>
        if (orphan.getName.startsWith(".retired-"))
          Option(fs.listStatus(orphan)).toSeq.flatten
            .filter(st => st.getPath.getName.startsWith(s"$partCol="))
            .foreach { st =>
              val live = new Path(dir, st.getPath.getName)
              if (!fs.exists(live)) renameOrFail(st.getPath, live)
            }
        fs.delete(orphan, true)
      }
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val staging = new Path(dir, s".staging-$stamp")
    val retired = new Path(dir, s".retired-$stamp")
    // reads the live buckets, writes a durable copy; live files untouched
    rows.write.mode(SaveMode.Overwrite).partitionBy(partCol)
      .parquet(staging.toString)
    val affected = affectedParts.toSet
    // 1. rows can land OUTSIDE the affected buckets — a re-resolved
    // component's id (min member) can change, so its hash bucket moves,
    // and brand-new components hash wherever. Those buckets GAIN the
    // staged files without their existing ones being disturbed
    // (unaffected buckets are never rewritten, only appended to) — file
    // names carry a write-UUID so moves cannot collide. Gains go first
    // so a crash mid-protocol duplicates rather than loses.
    Option(fs.listStatus(staging)).toSeq.flatten
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$partCol="))
      .foreach { st =>
        val p = st.getPath.getName.stripPrefix(s"$partCol=").toInt
        if (!affected.contains(p)) {
          val live = new Path(s"$dir/$partCol=$p")
          fs.mkdirs(live)
          fs.listStatus(st.getPath).foreach { f =>
            renameOrFail(f.getPath, new Path(live, f.getPath.getName))
          }
        }
      }
    maybeFail("after-gains", dir)
    // 2. swap the affected buckets
    fs.mkdirs(retired)
    affectedParts.foreach { p =>
      val live = new Path(s"$dir/$partCol=$p")
      if (fs.exists(live)) renameOrFail(live, new Path(retired, s"$partCol=$p"))
      val staged = new Path(staging, s"$partCol=$p")
      if (fs.exists(staged)) renameOrFail(staged, live)
    }
    fs.delete(staging, true)
    fs.delete(retired, true)
  }
}
