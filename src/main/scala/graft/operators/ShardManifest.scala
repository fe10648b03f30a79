package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The PERSISTED form of t15's training-order manifest: (doc_id, skey,
  * shard, pos) at rest, partitioned by `shard` so a loader fleet reads its
  * shard as one partition prune.
  *
  * The query form ([[TextOps.shuffleShardOver]]) re-derives everything per
  * call; a real training run persists the manifest once and EXTENDS it as
  * curation appends docs. That makes shard count S geometry, with the same
  * decay-vs-stability tension the at-rest indexes have ([[ClusterIndex]],
  * [[SpanIndex]]): routing (shard = skey mod S) is append-stable only at
  * FIXED S, but a pinned S slowly overloads shards as the corpus grows
  * (~64k docs/shard is the [[OperatingPoint.shuffleShards]] design point).
  * So the artifact follows the established lifecycle discipline:
  *
  *  - [[write]] derives S from the corpus and pins it in `_meta`;
  *  - [[append]] routes ONLY at the pinned S (the scaladoc'd t15
  *    stability contract, now enforced by an operator instead of asked of
  *    the caller) and rewrites only the shard partitions the batch lands
  *    in — positions of untouched shards never move, because a shard's
  *    ranks depend only on its own keys;
  *  - [[reshard]] is the deliberate geometry step-up: re-derive S from
  *    the current count, rewrite the whole manifest under the
  *    [[GeometrySwap]] staged-swap protocol (staging build → commit
  *    marker → dir swap → `_meta` LAST), crash-convergent via
  *    [[GeometrySwap.repair]] at every locked entry point. No-op when the
  *    derived S already matches.
  *
  * skey is stored (8 bytes/doc) so maintenance never recomputes the md5
  * over ids it already ranked — append cost is the affected shards' rows,
  * reshard cost is one manifest rewrite, both corpus-text-free.
  *
  * Scale shape: every operation is shard-parallel (rank windows partition
  * by shard; never a global sort). At 100 TB the manifest is ~16 bytes per
  * document — the rewrite unit is millions of rows, not the corpus.
  */
object ShardManifest {

  final case class Meta(shards: Int, n: Long)

  def meta(s: SparkSession, path: String): Meta = {
    val p = new Path(path, "_meta")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no shard manifest at $path (missing _meta)")
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val kv = text.linesIterator.filter(_.contains('='))
      .map { l => val Array(k, v) = l.split("=", 2); (k.trim, v.trim) }
      .toMap
    Meta(kv("shards").toInt, kv("n").toLong)
  }

  private def writeMeta(s: SparkSession, path: String, m: Meta): Unit = {
    val p = new Path(path, "_meta")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"shards=${m.shards}\nn=${m.n}\n".getBytes("UTF-8"))
    finally out.close()
  }

  private val ManifestDirs = Seq("manifest")

  private def promoteStagedMeta(s: SparkSession, path: String): () => Unit =
    () => writeMeta(s, path, meta(s, GeometrySwap.stagingPath(path)))

  private def repairGeometry(s: SparkSession, path: String): Unit =
    GeometrySwap.repair(s, path, ManifestDirs, promoteStagedMeta(s, path))

  /** The t15 shuffle key: salted md5 of the id — same family, same salt as
    * the oracle-gated query form, so a persisted manifest and the query
    * agree row for row at equal S. */
  private def withSkey(ids: DataFrame): DataFrame =
    ids.select(col("doc_id"), TextOps.saltedKey("shuffle42:").as("skey"))

  private def shardOf(shards: Int) =
    pmod(col("skey"), lit(shards.toLong)).cast("int")

  private def withPos(rows: DataFrame): DataFrame =
    rows.withColumn("pos", row_number().over(
      Window.partitionBy("shard").orderBy("skey", "doc_id")))

  /** The manifest rows (doc_id, skey, shard, pos). Crash-duplicate rows
    * are collapsed on read (redelivered appends converge, as in the other
    * artifacts' readers). */
  def read(s: SparkSession, path: String): DataFrame = {
    repairGeometry(s, path)
    s.read.parquet(s"$path/manifest").dropDuplicates("doc_id")
  }

  /** Fresh manifest: S derived from the corpus size and pinned in
    * `_meta`. */
  def write(ids: DataFrame, path: String,
      countEstimate: Option[Long] = None): Meta =
    MaintenanceLock.withLock(ids.sparkSession, path) {
      val s = ids.sparkSession
      repairGeometry(s, path)
      val distinctIds = ids.select("doc_id").dropDuplicates("doc_id")
        .localCheckpoint(eager = true)
      val n = math.max(1L, countEstimate.getOrElse(distinctIds.count()))
      val m = Meta(OperatingPoint.shuffleShards(n), n)
      withPos(withSkey(distinctIds).withColumn("shard", shardOf(m.shards)))
        .repartition(col("shard"))
        .write.mode(SaveMode.Overwrite).partitionBy("shard")
        .parquet(s"$path/manifest")
      writeMeta(s, path, m)
      m
    }

  /** Extend the manifest at the PINNED S: route the batch at the stored
    * geometry, then re-rank only the shards the batch lands in. Untouched
    * shard partitions keep their files; already-present ids are absorbed
    * idempotently (redelivery converges — the rewrite is deterministic in
    * the union of stored and batch ids). Returns the affected shards. */
  def append(batch: DataFrame, path: String): Seq[Int] =
    MaintenanceLock.withLock(batch.sparkSession, path) {
      val s = batch.sparkSession
      repairGeometry(s, path)
      val m = meta(s, path)
      val add = withSkey(batch.select("doc_id").dropDuplicates("doc_id"))
        .withColumn("shard", shardOf(m.shards))
        .localCheckpoint(eager = true)
      val affected = add.select("shard").distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      if (affected.isEmpty) Seq.empty
      else {
        val stored = s.read.parquet(s"$path/manifest")
          .filter(col("shard").isin(affected: _*))
          .select("doc_id", "skey", "shard")
          .localCheckpoint(eager = true) // read once: merge AND the n delta
        val merged = stored.unionByName(add).dropDuplicates("doc_id")
        // _meta n advances by the batch ids NOT already present — counted
        // against the affected shards' rows already in hand, never a
        // whole-manifest scan (append cost must stay the affected-shards
        // law the scaladoc promises; every id routes to an affected shard
        // by construction, so the anti-join sees any duplicate)
        val newDocs = add.join(stored, Seq("doc_id"), "left_anti").count()
        // dynamic overwrite as a WRITER option, scoped to this write: the
        // session conf stays untouched for every other write sharing it
        withPos(merged).repartition(col("shard"))
          .write.mode(SaveMode.Overwrite).partitionBy("shard")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(s"$path/manifest")
        // _meta n is INFORMATIONAL (reshard/write re-derive geometry from
        // a LIVE count, never from n): the delta form keeps append off a
        // whole-manifest scan, accepting that a crash between the
        // partition write and this line makes a redelivered append see
        // its ids as already present (newDocs=0) and leave n lagging
        // until the next geometry op re-derives it. Rows are exact either
        // way — the rewrite itself is deterministic and idempotent.
        writeMeta(s, path, Meta(m.shards, m.n + newDocs))
        affected
      }
    }

  /** Geometry step-up: re-derive S from the CURRENT manifest count and
    * rewrite shard/pos under it — the deliberate re-shard the t15
    * stability contract defers pow2 crossings to. Whole-artifact
    * staged-swap ([[GeometrySwap]]); readers must be quiesced like any
    * rebucket. No-op (returns the stored meta) when S already matches. */
  def reshard(s: SparkSession, path: String,
      countEstimate: Option[Long] = None): Meta =
    MaintenanceLock.withLock(s, path) {
      repairGeometry(s, path)
      val old = meta(s, path)
      val rows = s.read.parquet(s"$path/manifest")
        .dropDuplicates("doc_id").select("doc_id", "skey")
        .localCheckpoint(eager = false)
      val n = math.max(1L, countEstimate.getOrElse(rows.count()))
      val nm = Meta(OperatingPoint.shuffleShards(n), n)
      if (nm.shards == old.shards) old
      else {
        val staging = GeometrySwap.stagingPath(path)
        withPos(rows.withColumn("shard", shardOf(nm.shards)))
          .repartition(col("shard"))
          .write.mode(SaveMode.Overwrite).partitionBy("shard")
          .parquet(s"$staging/manifest")
        writeMeta(s, staging, nm)
        GeometrySwap.commit(s, path, ManifestDirs, promoteStagedMeta(s, path))
        nm
      }
    }
}
