package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.WinnowedGramHits

/** Span-gram inventory AT REST — the operational form of the dd9/dd10
  * family, completing the at-rest artifact trio (cluster labels
  * [[ClusterIndex]], the IVF index in [[VectorOps]], and now the
  * cross-document span inventory). The oracle-gated queries recompute the
  * whole gram inventory per invocation; production boilerplate removal is
  * instead an INGEST-TIME decision: a new document arrives, its spans are
  * probed against what the corpus already carries, and the spans the corpus
  * has seen before are cut ([[probeScrub]]) — without ever rescanning the
  * stored corpus. The reference has no span surface (training-data
  * extension; Lee et al., ACL 2022 motivate the removal pass).
  *
  * Layout under `path/`:
  *  - `grams/` — carrier FACTS (gh, doc_id, off), partitioned by `gb` =
  *    pmod(gh, gramBuckets). Rows are immutable facts about a document's
  *    content, which is what makes [[append]] pure gains: new files land in
  *    their `gb=` partitions and NO existing file is ever rewritten (the
  *    cluster index can't have that — its labels are corpus-RELATIVE and
  *    must re-resolve; a carrier row is corpus-independent).
  *  - `docs/` — (doc_id, n_grams, gbs), partitioned by `db` =
  *    pmod(xxhash64(doc_id), docBuckets): the per-doc commit record, written
  *    LAST so "doc_id present in docs/" means its carriers are fully
  *    landed, and the reverse index from a doc to the gram buckets holding
  *    its rows — what lets [[delete]] prune `grams/` without a full scan.
  *  - `_meta` — gram_len, winnowing window, and both bucket counts; probes
  *    and appends always use the STORED geometry (a batch hashed with a
  *    different window would silently miss every stored gram).
  *  - `_maintenance.lock` — [[MaintenanceLock]] single-writer fence.
  *
  * Hashing is the Karp-Rabin rolling hash with WINNOWED selection
  * ([[graft.functions.WinnowedGramHits]], O(len) per doc — BASELINE.md §5
  * measures the rolling family 3-5x under the md5 window form). Winnowing
  * rather than dd9's independent 1-in-16 selection because the scrub's
  * correctness depends on it: winnowing guarantees consecutive selected
  * grams within a shared span sit at most `window` < gramLen apart, so
  * the cut intervals OVERLAP and [[probeScrub]] removes a known span's
  * interior deterministically (independent selection leaves geometric
  * gaps — a sliver of boilerplate a few percent of the time per junction).
  * The md5-oracle queries stay on [[DedupOps.spanGrams]]; SpanIndexSpec
  * pins this artifact against an independent recompute of the winnowed
  * inventory plus the coverage guarantee itself.
  *
  * Crash contract: append writes carriers first, docs/ LAST — a crash
  * between them leaves carrier rows whose doc is absent from docs/, so a
  * re-run's guard ([[freshIds]]) re-appends the doc; the duplicate carrier
  * rows this can leave are HARMLESS by construction (every read aggregates
  * with countDistinct / dropDuplicates) and are physically collapsed by
  * [[compact]]. Loss is impossible: nothing is deleted on the append path.
  *
  * Bucket-count derivations reuse the cluster index's operating points
  * ([[OperatingPoint.bandIndexBuckets]] for `gb`,
  * [[OperatingPoint.clusterIndexParts]] for `db`): both target the same
  * ~1k-docs-per-bucket growth law, and a doc carries a bounded
  * ~2·chars/(window+1) gram rows (the winnowing density bound), so
  * per-bucket volume stays a bounded multiple of the cluster index's —
  * one shared law, not a new knob.
  */
object SpanIndex {

  final case class Meta(gramLen: Int, window: Int, gramBuckets: Int,
    docBuckets: Int, n: Long)

  def meta(s: SparkSession, path: String): Meta = {
    val p = new Path(path, "_meta")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no span index at $path (missing _meta)")
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val kv = text.linesIterator.filter(_.contains('='))
      .map { l => val Array(k, v) = l.split("=", 2); (k.trim, v.trim) }
      .toMap
    Meta(kv("gram_len").toInt, kv("window").toInt,
      kv("gram_buckets").toInt, kv("doc_buckets").toInt,
      kv.getOrElse("n", "0").toLong)
  }

  private def writeMeta(s: SparkSession, path: String, m: Meta): Unit = {
    val p = new Path(path, "_meta")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write((s"gram_len=${m.gramLen}\nwindow=${m.window}\n" +
      s"gram_buckets=${m.gramBuckets}\ndoc_buckets=${m.docBuckets}\n" +
      s"n=${m.n}\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** gh is already murmur-finalized by the expression, so its low bits
    * bucket directly; doc_id is sequential and needs the hash. */
  private def gbOf(gramBuckets: Int) =
    pmod(col("gh"), lit(gramBuckets.toLong)).cast("int")
  private def dbOf(docBuckets: Int) =
    pmod(xxhash64(col("doc_id")), lit(docBuckets.toLong)).cast("int")

  /** The artifact's doc_id contract is LongType, enforced at EVERY entry
    * point (write/append/probeScrub/delete): `db` routing hashes doc_id
    * with xxhash64, which is TYPE-dependent in Spark (int, long and
    * string values hash differently), so a batch folded under one type
    * and a takedown probing under another would look in `db` buckets the
    * victims never landed in — a silently-empty delete. Integral ids
    * widen to long (hash-identical thereafter); non-integral ids (e.g.
    * UUID strings) are rejected loudly — map them to a surrogate long
    * upstream rather than letting the cast null them out. */
  private def withLongDocId(df: DataFrame): DataFrame =
    df.schema("doc_id").dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType =>
        df.withColumn("doc_id", col("doc_id").cast("long"))
      case other => throw new IllegalArgumentException(
        s"SpanIndex requires an integral doc_id (got $other): xxhash64 " +
          "bucket routing is type-dependent, so a non-long id would land " +
          "in db buckets delete() never probes. Map string ids to a " +
          "surrogate long before indexing.")
    }

  /** A corpus batch's carrier rows under the stored geometry. */
  private def gramsOf(corpus: DataFrame, m: Meta): DataFrame =
    corpus.select(col("doc_id"),
        explode(WinnowedGramHits.of(col("text"), m.gramLen, m.window)).as("x"))
      .select(col("doc_id"), col("x.off").as("off"), col("x.gh").as("gh"))
      .withColumn("gb", gbOf(m.gramBuckets))

  /** Per-doc commit rows for a batch. Driven by the BATCH ids, not the
    * gram stream: a doc whose every gram failed selection still gets a
    * commit row (n_grams=0, empty gbs) — otherwise the append guard would
    * re-fold it forever and [[delete]] could never find it. */
  private def docsOf(batchIds: DataFrame, grams: DataFrame,
      m: Meta): DataFrame =
    batchIds.join(
        grams.groupBy("doc_id").agg(
          count(lit(1)).cast("long").as("g_count"),
          sort_array(collect_set(col("gb"))).as("g_gbs")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("g_count"), lit(0L)).as("n_grams"),
        coalesce(col("g_gbs"), array().cast("array<int>")).as("gbs"))
      .withColumn("db", dbOf(m.docBuckets))

  /** Full build over a (doc_id, text) corpus. Geometry is corpus-derived
    * and persisted; `countEstimate` skips the count job. */
  def write(corpus: DataFrame, path: String, gramLen: Int = 50,
      window: Int = 16, countEstimate: Option[Long] = None): Unit =
    MaintenanceLock.withLock(corpus.sparkSession, path) {
      require(window < gramLen, s"winnowing window $window must be < gram " +
        s"length $gramLen for the scrub's overlap guarantee to hold")
      val s = corpus.sparkSession
      repairGeometry(s, path) // a stale rebucket marker must not outlive us
      val c = withLongDocId(corpus.select("doc_id", "text"))
      val n = math.max(1L, countEstimate.getOrElse(c.count()))
      val m = Meta(gramLen, window, OperatingPoint.bandIndexBuckets(n),
        OperatingPoint.clusterIndexParts(n), n)
      // meta first: data files must never exist without the geometry that
      // hashed them (a crash mid-write is repaired by re-running write)
      writeMeta(s, path, m)
      val grams = gramsOf(c, m).localCheckpoint(eager = false)
      grams.write.mode(SaveMode.Overwrite).partitionBy("gb")
        .parquet(s"$path/grams")
      docsOf(c.select("doc_id").distinct(), grams, m)
        .write.mode(SaveMode.Overwrite).partitionBy("db")
        .parquet(s"$path/docs")
    }

  /** The stored carrier facts (gh, doc_id, off, gb). Duplicate rows are
    * possible after a crashed append — aggregate distinct, as every
    * reader here does. */
  def grams(s: SparkSession, path: String): DataFrame =
    s.read.parquet(s"$path/grams")

  def docs(s: SparkSession, path: String): DataFrame =
    s.read.parquet(s"$path/docs")

  /** Batch analytics view: grams carried by ≥2 docs, with carrier count
    * and first carrier — [[DedupOps.spanGramsRolling]]'s `shared` half
    * served from the artifact instead of a corpus scan. */
  def sharedGrams(s: SparkSession, path: String): DataFrame =
    grams(s, path).groupBy("gh")
      .agg(countDistinct("doc_id").as("n_docs"), min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2)

  /** Batch doc_ids not yet committed to `docs/` — the append guard. The
    * stored side is pruned to the batch ids' `db` buckets (partition
    * pruning; the distinct-db collect is bounded by the `_meta` bucket
    * count), so the probe cost tracks the batch, not the corpus. */
  private[operators] def freshIds(s: SparkSession, path: String, m: Meta,
      batchIds: DataFrame): DataFrame = {
    val withDb = batchIds.withColumn("db", dbOf(m.docBuckets))
    val batchDbs = withDb.select("db").distinct()
      .collect().map(_.getInt(0)).toSeq
    val stored = docs(s, path).filter(col("db").isin(batchDbs: _*))
      .select("doc_id")
    withDb.join(stored, Seq("doc_id"), "left_anti").select("doc_id")
  }

  /** Incremental append of a (doc_id, text) batch: pure gains — carrier
    * files land in their `gb=` partitions, the per-doc commit rows land in
    * `docs/` LAST, and no existing file is touched. Already-committed
    * doc_ids are skipped (idempotent re-run / crash repair; see the crash
    * contract in the object doc). Returns the number of docs folded. */
  def append(batch: DataFrame, path: String): Long =
    MaintenanceLock.withLock(batch.sparkSession, path) {
      val s = batch.sparkSession
      repairGeometry(s, path)
      val m = meta(s, path)
      val b = withLongDocId(batch.select("doc_id", "text"))
      val fresh = b.dropDuplicates("doc_id")
        .join(freshIds(s, path, m, b.select("doc_id").distinct()),
          Seq("doc_id"))
        .localCheckpoint(eager = true)
      val nFresh = fresh.count()
      if (nFresh > 0) {
        val grams = gramsOf(fresh, m).localCheckpoint(eager = false)
        grams.write.mode(SaveMode.Append).partitionBy("gb")
          .parquet(s"$path/grams")
        docsOf(fresh.select("doc_id"), grams, m)
          .write.mode(SaveMode.Append).partitionBy("db")
          .parquet(s"$path/docs")
      }
      nFresh
    }

  /** Ingest-time boilerplate scrub: cut from a NEW batch every span the
    * stored corpus already carries. The batch's grams probe ONLY the
    * `gb=` buckets they hash into (partition pruning; the distinct-gb
    * collect is bounded by the `_meta` bucket count ≤ 4096), the stored
    * side aggregates to distinct gram hashes of those buckets only, and
    * the surgery reuses dd10's island-merge cut ([[DedupOps.cutSpans]]).
    * Every stored carrier is by definition an earlier arrival, so every
    * probe hit is a foreign span for the batch. Returns ALL batch docs:
    * (doc_id, n_cut_spans, chars_cut, clean_text) with zero-cut docs
    * passed through unchanged — the shape a curation ingest consumes.
    * Read-only: no lock, safe concurrent with readers (maintenance is
    * single-writer-fenced separately). */
  def probeScrub(batch: DataFrame, path: String): DataFrame = {
    val s = batch.sparkSession
    val m = meta(s, path)
    // dedupe mirrors append: duplicate doc_id rows would explode their
    // grams twice and the final left join would emit duplicated output
    val b = withLongDocId(batch.select("doc_id", "text"))
      .dropDuplicates("doc_id")
    val batchGrams = gramsOf(b, m).localCheckpoint(eager = true)
    val batchGbs = batchGrams.select("gb").distinct()
      .collect().map(_.getInt(0)).toSeq
    // Self-carrier guard: a batch doc that is ALREADY in the index would
    // match its own stored grams and scrub its entire text. Aggregate the
    // pruned buckets to per-gram carrier stats and count a hit only when
    // the corpus knows the gram from someone OTHER than the probing doc:
    // ≥2 stored carriers, or a single carrier with a different id. This
    // also makes probeScrub correct as "scrub the stored corpus against
    // itself" — feed stored docs back through and only truly shared spans
    // cut (SpanIndexSpec pins both shapes).
    val storedStats = grams(s, path).filter(col("gb").isin(batchGbs: _*))
      .groupBy("gh").agg(countDistinct("doc_id").as("n_carriers"),
        min("doc_id").as("one_carrier"))
    val hits = batchGrams.join(storedStats, Seq("gh"))
      .filter(col("n_carriers") >= 2 ||
        col("one_carrier") =!= col("doc_id"))
      .select("doc_id", "off").dropDuplicates("doc_id", "off")
    val cut = DedupOps.cutSpans(b, hits, m.gramLen)
    b.join(cut, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cut_spans"), lit(0)).as("n_cut_spans"),
        coalesce(col("chars_cut"), lit(0L)).as("chars_cut"),
        coalesce(col("clean_text"), col("text")).as("clean_text"))
  }

  /** Takedown: remove documents from the artifact. The victims' carrier
    * buckets come from their stored `docs/` rows (pruned by `db`, then the
    * union of their `gbs` — no full `grams/` scan), those `gb=` buckets are
    * rewritten minus the victims via the shared staged-rename protocol,
    * and the `docs/` rows go LAST — "absent from docs/" means fully
    * deleted, and a crash mid-protocol re-runs to convergence (victims
    * still in docs/ re-derive the same buckets; an anti-join rewrite is
    * idempotent). Unlike the cluster index, nothing re-resolves: carrier
    * facts about OTHER docs are untouched, so deletion cost is victims +
    * their buckets. Returns the rewritten gram-bucket ids. */
  def delete(victimIds: DataFrame, path: String): Seq[Int] =
    MaintenanceLock.withLock(victimIds.sparkSession, path) {
      val s = victimIds.sparkSession
      repairGeometry(s, path)
      val m = meta(s, path)
      val ids = withLongDocId(victimIds.select("doc_id"))
        .distinct().withColumn("db", dbOf(m.docBuckets))
        .localCheckpoint(eager = true)
      val victimDbs = ids.select("db").distinct()
        .collect().map(_.getInt(0)).toSeq
      val victimDocs = docs(s, path).filter(col("db").isin(victimDbs: _*))
        .join(ids.select("doc_id"), Seq("doc_id"))
        .localCheckpoint(eager = true)
      if (victimDocs.head(1).isEmpty) Seq.empty
      else {
        val victimGbs = victimDocs.select(explode(col("gbs")).as("gb"))
          .distinct().collect().map(_.getInt(0)).toSeq
        if (victimGbs.nonEmpty) {
          val kept = grams(s, path).filter(col("gb").isin(victimGbs: _*))
            .join(ids.select("doc_id"), Seq("doc_id"), "left_anti")
            .select("gh", "doc_id", "off", "gb")
          ClusterIndex.rewriteBuckets(kept, victimGbs, s"$path/grams", s,
            "gb")
        }
        // docs LAST — even for zero-gram victims, whose only trace is here
        val keptDocs = docs(s, path).filter(col("db").isin(victimDbs: _*))
          .join(ids.select("doc_id"), Seq("doc_id"), "left_anti")
          .select("doc_id", "n_grams", "gbs", "db")
        ClusterIndex.rewriteBuckets(keptDocs, victimDbs, s"$path/docs", s,
          "db")
        victimGbs
      }
    }

  /** Small-files repair, shared census/threshold/swap machinery with the
    * cluster index ([[ClusterIndex.compactDir]]). Also the point where
    * crash-duplicated carrier rows physically collapse: the gram rewrite
    * re-emits DISTINCT rows. */
  def compact(s: SparkSession, path: String,
      maxFiles: Int = 4): Map[String, Seq[Int]] =
    MaintenanceLock.withLock(s, path) {
      repairGeometry(s, path)
      Map(
        "grams" -> ClusterIndex.compactDir(s, s"$path/grams", "gb", maxFiles,
          dedupe = true),
        "docs" -> ClusterIndex.compactDir(s, s"$path/docs", "db", maxFiles))
    }

  private val RebucketDirs = Seq("grams", "docs")

  private def promoteStagedMeta(s: SparkSession, path: String): () => Unit =
    () => writeMeta(s, path, meta(s, GeometrySwap.stagingPath(path)))

  /** Converge a crashed [[rebucket]] before touching the artifact — one
    * `exists` probe when healthy. Called by every locked maintenance op
    * (not by the lockless read-only [[probeScrub]], which like every
    * reader must be quiesced across a rebucket window). */
  private def repairGeometry(s: SparkSession, path: String): Unit =
    GeometrySwap.repair(s, path, RebucketDirs, promoteStagedMeta(s, path))

  /** Re-bucket policy trigger, mirroring
    * [[ClusterIndex.geometryDrifted]]: true once the corpus has drifted
    * past one doubling of the stored design point (the bucket derivations
    * step in powers of two). Check on the [[compact]] cadence. */
  def geometryDrifted(s: SparkSession, path: String,
      countEstimate: Option[Long] = None): Boolean = {
    val m = meta(s, path)
    val n = math.max(1L, countEstimate.getOrElse(docs(s, path).count()))
    OperatingPoint.bandIndexBuckets(n) != m.gramBuckets ||
      OperatingPoint.clusterIndexParts(n) != m.docBuckets
  }

  /** Geometry step-up — the sixth lifecycle op, [[ClusterIndex.rebucket]]'s
    * counterpart. Appends pin the stored `_meta` bucket counts forever, so
    * a long-lived index drifts off the [[OperatingPoint]]
    * ~1k-docs-per-bucket growth law; rebucket re-derives BOTH bucket
    * counts from the CURRENT doc count and rewrites the artifact under
    * them via the shared staged-swap protocol ([[GeometrySwap]]: staging
    * build → commit marker → dir swaps → `_meta` LAST), lock-fenced and
    * crash-convergent. Only partition routing changes: carrier facts
    * (gh, doc_id, off) are geometry-independent and re-emitted DISTINCT
    * (crash-duplicated rows collapse, as in [[compact]]); each doc's
    * `gbs` reverse index is re-derived from its carriers' NEW gram
    * buckets; stored `n_grams` (the append-time truth) is preserved. The
    * FINGERPRINT geometry (gramLen, window) is content-derived and
    * deliberately untouched — changing it needs the original text, which
    * the artifact does not store; that is a full [[write]]. Readers must
    * be quiesced across the swap. No-op when the derived geometry already
    * matches the stored one. */
  def rebucket(s: SparkSession, path: String,
      countEstimate: Option[Long] = None): Meta =
    MaintenanceLock.withLock(s, path) {
      repairGeometry(s, path)
      val old = meta(s, path)
      val n = math.max(1L, countEstimate.getOrElse(docs(s, path).count()))
      val nm = Meta(old.gramLen, old.window, OperatingPoint.bandIndexBuckets(n),
        OperatingPoint.clusterIndexParts(n), n)
      if (nm.gramBuckets == old.gramBuckets &&
          nm.docBuckets == old.docBuckets) old
      else {
        val staging = GeometrySwap.stagingPath(path)
        val g = grams(s, path).select("gh", "doc_id", "off").distinct()
          .withColumn("gb", gbOf(nm.gramBuckets))
          .localCheckpoint(eager = false) // feeds the write AND the gbs agg
        g.repartition(col("gb")).write.mode(SaveMode.Overwrite)
          .partitionBy("gb").parquet(s"$staging/grams")
        val newGbs = g.groupBy("doc_id")
          .agg(sort_array(collect_set(col("gb"))).as("new_gbs"))
        docs(s, path).select("doc_id", "n_grams").dropDuplicates("doc_id")
          .join(newGbs, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("new_gbs"), array().cast("array<int>")).as("gbs"))
          .withColumn("db", dbOf(nm.docBuckets))
          .repartition(col("db")).write.mode(SaveMode.Overwrite)
          .partitionBy("db").parquet(s"$staging/docs")
        writeMeta(s, staging, nm)
        GeometrySwap.commit(s, path, RebucketDirs, promoteStagedMeta(s, path))
        nm
      }
    }
}
