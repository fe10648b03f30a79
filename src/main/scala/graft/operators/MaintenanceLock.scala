package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Single-writer fence for the at-rest IVF index
  * ([[VectorOps.writeIvfIndex]]). The write overwrites two directories
  * (`centroids`, then the cell-partitioned `index`); two concurrent writers
  * to one path would interleave them and leave an index whose cells were
  * assigned against another writer's centroids — silently. The index's
  * contract is single-writer; this makes a violation fail LOUDLY instead.
  *
  * The lock is a file created with `FileSystem.create(path, overwrite =
  * false)`, which is atomic create-fails-if-exists on both HDFS and the
  * local filesystem — the same primitive Spark's own streaming metadata
  * log relies on. The file body carries an epoch-millis + UUID stamp for
  * diagnostics. Holders always delete on exit (finally), so a lock older
  * than `staleMs` can only belong to a crashed writer: it is broken and
  * re-taken (a re-run of the crashed write overwrites its partial state).
  * A LIVE second writer gets an IllegalStateException naming the held
  * stamp.
  *
  * This is an advisory fence, not a distributed lock service: the
  * create-vs-staleness race window (two writers both observing a stale
  * lock) is the well-known limit of file-based locking and is acceptable
  * insurance for an artifact whose contract is already single-writer.
  */
object MaintenanceLock {

  /** Default staleness: no index write legitimately runs this long;
    * past it the holder is presumed crashed. */
  val DefaultStaleMs: Long = 30 * 60 * 1000L

  private[graft] def lockPath(artifactRoot: String): Path =
    new Path(artifactRoot, "_maintenance.lock")

  /** Run `body` holding the artifact's maintenance lock; always releases. */
  def withLock[T](s: SparkSession, artifactRoot: String,
      staleMs: Long = DefaultStaleMs)(body: => T): T = {
    val lock = lockPath(artifactRoot)
    val fs = lock.getFileSystem(s.sparkContext.hadoopConfiguration)
    acquire(fs, lock, staleMs)
    try body
    finally fs.delete(lock, false)
  }

  private def acquire(fs: FileSystem, lock: Path, staleMs: Long): Unit = {
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lock, false)
        try out.write(
          s"${System.currentTimeMillis()} ${java.util.UUID.randomUUID()}"
            .getBytes("UTF-8"))
        finally out.close()
        true
      } catch {
        // FileAlreadyExistsException (and the local FS's plain IOException
        // for an existing target) both mean: someone holds it
        case _: java.io.IOException => false
      }
    if (tryCreate()) return
    val held =
      try Some(fs.getFileStatus(lock))
      catch { case _: java.io.FileNotFoundException => None }
    val stale = held.forall(st =>
      System.currentTimeMillis() - st.getModificationTime > staleMs)
    if (stale) {
      // crashed holder (normal exits always delete): break and re-take
      fs.delete(lock, false)
      if (tryCreate()) return
    }
    val stamp = held.map(st => s"mtime=${st.getModificationTime}")
      .getOrElse("just created by a racing writer")
    throw new IllegalStateException(
      s"concurrent maintenance on ${lock.getParent}: lock $lock is held " +
        s"($stamp). The index is single-writer; a second write would " +
        "interleave its directory overwrites. If the holder crashed, the " +
        s"lock goes stale after ${staleMs / 1000}s.")
  }
}
