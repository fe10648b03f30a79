package graft.lifecycle

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Durable conversation state: threads → chains, JSON-on-disk, mirroring
  * the reference's storage/message managers
  * (bambooai/storage_manager.py:137-243 store/restore chain JSON;
  * messages/message_manager.py:41-154 QA pairs + windowed eviction).
  */
final class SessionStore(root: Path) {
  import SessionStore.Message

  /** Context window: 4 conversation pairs → at most 2*4-1 retained beyond
    * the system message (bambooai.py:18, message_manager.py:8,128-138). */
  val MaxConversations = 4

  private val threads =
    mutable.Map.empty[String, mutable.ArrayBuffer[Message]]

  def append(threadId: String, role: String, content: String): Unit = {
    val buf = threads.getOrElseUpdate(threadId, mutable.ArrayBuffer.empty)
    buf += Message(role, content)
    // evict oldest pair beyond the window (keep an optional leading system)
    val keep = 2 * MaxConversations - 1
    val (sys, rest) = buf.toSeq.partition(_.role == "system")
    if (rest.length > keep) {
      val trimmed = sys ++ rest.takeRight(keep)
      buf.clear(); buf ++= trimmed
    }
  }

  def messages(threadId: String): Seq[Message] =
    threads.get(threadId).map(_.toSeq).getOrElse(Seq.empty)

  /** Persist one thread as JSON (storage_manager.py:137-192). */
  def save(threadId: String): Path = {
    Files.createDirectories(root)
    val body = messages(threadId).map(m =>
      s"""{"role": ${Json.str(m.role)}, "content": ${Json.str(m.content)}}""")
      .mkString("[", ",\n ", "]")
    val p = root.resolve(s"$threadId.json")
    Files.writeString(p, body)
    p
  }

  /** Restore a thread (storage_manager.py:194-243); returns its message
    * count, 0 when nothing is stored. */
  def restore(threadId: String): Int = {
    val p = root.resolve(s"$threadId.json")
    if (!Files.exists(p)) return 0
    val buf = mutable.ArrayBuffer.empty[Message]
    Json.elements(Json.parse(Files.readString(p))).foreach { m =>
      for (role <- Json.text(m, "role"); content <- Json.text(m, "content"))
        buf += Message(role, content)
    }
    threads(threadId) = buf
    buf.length
  }

  def threadIds: Seq[String] =
    if (!Files.exists(root)) Seq.empty
    else Files.list(root).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json")).toSeq.sorted

  /** Threads alive in memory (appended this process), persisted or not —
    * the union with [[threadIds]] is the full thread listing the web
    * surface serves (app.py:1062-1150 lists stored chains). */
  def liveThreadIds: Seq[String] = threads.keys.toSeq.sorted

  /** Remove a thread from memory AND disk (app.py:1271-1311 delete_chain).
    * Returns false when the thread existed in neither. */
  def delete(threadId: String): Boolean = {
    val hadLive = threads.remove(threadId).nonEmpty
    val p = root.resolve(s"$threadId.json")
    val hadFile = Files.deleteIfExists(p)
    hadLive || hadFile
  }
}

object SessionStore {
  /** One chat turn; a single type shared by every store. */
  final case class Message(role: String, content: String)
}
