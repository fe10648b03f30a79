package graft.sources

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Scan/source surface of SURVEY §2.1 (S1-S6, S11, S12) plus the JSONL
  * and WARC grains.
  *
  * Readers mirror the reference's three access grains — full read, limited
  * preview, schema-only — which exist to bound inspection cost
  * (bambooai/utils.py:135-250). In Spark the same grains are free: `limit`
  * pushes into the scan, and schema-only reads touch only the CSV header /
  * parquet footer.
  */
object Sources {

  /** S1: full CSV read with header + dtype inference (web_app/app.py:207). */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** S2: nrows=N preview read (utils.py:162) — limit short-circuits the scan. */
  def csvPreview(spark: SparkSession, path: String, n: Int): DataFrame =
    csv(spark, path).limit(n)

  /** S3: header-only scan — column names without reading data
    * (utils.py:232-234). inferSchema off → only the header line is touched. */
  def csvColumns(spark: SparkSession, path: String): Seq[String] =
    spark.read.option("header", "true").csv(path).columns.toSeq

  /** S4/S5: parquet full + limited (row-group-pruned) read (utils.py:163-172). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
  def parquetPreview(spark: SparkSession, path: String, n: Int): DataFrame =
    parquet(spark, path).limit(n)

  /** S6: schema from the parquet footer only (utils.py:235-237). */
  def parquetSchema(spark: SparkSession, path: String): StructType =
    spark.read.parquet(path).schema

  /** JSONL (one JSON object per line) — the interchange format raw
    * training-data drops arrive in; a corpus engine that reads only
    * CSV/parquet makes every ingest pay a conversion pass first. The
    * reference's surface stops at CSV uploads (web_app/app.py:207);
    * this is the training-data extension's ingest grain, with the same
    * three access levels as S1-S6.
    *
    * Schema discipline at scale: Spark's JSON inference is a FULL extra
    * scan of the data before the real one. The schema form reads with
    * zero inference (the 100 TB path — the drop's schema is part of its
    * contract); the inferred form caps the inference scan with
    * `samplingRatio` so interactive inspection of an unknown drop reads
    * a slice, not the corpus. Malformed lines surface in the standard
    * `_corrupt_record` column under PERMISSIVE mode (real drops carry
    * them; dropping silently would bias the corpus) — filter or count
    * them explicitly downstream, but keep at least one data column in
    * such a query: Spark disallows plans whose only referenced column
    * over the raw file is the corrupt-record column
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — select
    * data columns alongside, or cache() first. */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    // the corrupt-record column only materializes when it is IN the
    // schema — append it so malformed lines are visible, not null rows
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** Bounded schema probe: infer from the first `lines` lines only. The
    * text read stops after `lines` rows, so registering or previewing a
    * multi-GB drop never pays the full-file inference scan the raw-path
    * inferred read does. */
  def jsonlSchema(spark: SparkSession, path: String,
      lines: Int = 100): StructType = {
    import spark.implicits._
    spark.read.json(spark.read.text(path).limit(lines).as[String]).schema
  }

  /** Bounded preview: schema from the first lines ([[jsonlSchema]]), rows
    * via a limit that stops the scan — neither side scans the whole file. */
  def jsonlPreview(spark: SparkSession, path: String, n: Int): DataFrame =
    spark.read.schema(jsonlSchema(spark, path)).json(path).limit(n)

  /** Full JSONL read with the schema PROBED from the head
    * ([[jsonlSchema]]) instead of a whole-file inference pass — the
    * serving surface's default for `.jsonl` uploads. Lines carrying
    * fields absent from the probed head still parse (extra fields are
    * simply dropped under the narrower schema); pass an explicit
    * contract schema via [[jsonl]] when completeness matters. Fails HERE
    * (registration time) when the probe yields an empty schema — an
    * empty/all-blank file would otherwise bind a frame whose only column
    * is `_corrupt_record`, and the first query over it dies on Spark's
    * QUERY_ONLY_CORRUPT_RECORD_COLUMN analysis error; fail at upload,
    * not at a later query. */
  def jsonlProbed(spark: SparkSession, path: String): DataFrame = {
    val probed = jsonlSchema(spark, path)
    // two degenerate probes: an empty/blank head infers NO fields, a head
    // of non-JSON text (a CSV misnamed .jsonl) infers ONLY the
    // corrupt-record column — both would bind a frame whose first query
    // dies on QUERY_ONLY_CORRUPT_RECORD_COLUMN
    val dataFields = probed.fieldNames.filterNot(_ == "_corrupt_record")
    if (dataFields.isEmpty) throw new IllegalArgumentException(
      s"jsonlProbed: no data schema could be probed from $path (empty file, " +
        "blank lines, or no parseable JSON objects in the head). Supply " +
        "an explicit schema via jsonl(), or fix the file.")
    jsonl(spark, path, probed)
  }

  /** A standard (possibly pretty-printed, multi-line) JSON DOCUMENT —
    * object or array — as a DataFrame. Distinct from [[jsonl]]: feeding a
    * document to the line reader silently yields all-corrupt rows, so
    * `.json` routes here and `.jsonl` to the line forms. multiLine parses
    * one value per FILE (no intra-file split) — the interchange grain for
    * configs and API dumps, not for corpora. */
  def jsonDoc(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** WARC/WET source — the grain raw web crawls actually arrive in
    * (ISO 28500; Common Crawl's WARC responses and WET text conversions),
    * one step upstream of the h1 extraction stage. Records become rows:
    * `(url, warc_type, content_type, http_status, body, framing_valid)`,
    * with HTTP response headers stripped off `response` payloads (status
    * kept) so `body` feeds `TextOps.htmlExtractOver` directly.
    *
    * Framing: records are FRAMED by the mandatory `Content-Length` header
    * (ISO 28500 §5.1 — payload octet count), not by delimiter scanning
    * alone. The `\r\n\r\nWARC/` record boundary is used only as the
    * DISTRIBUTION trick (Hadoop TextInputFormat record delimiter, so a
    * large uncompressed WARC splits across executors at HDFS-block
    * granularity — scan-speed, no driver pass); after the split, each
    * partition reassembles sequentially: while a record's accumulated
    * payload is shorter than its declared Content-Length, the following
    * chunk is really body text that happened to contain the delimiter
    * bytes (e.g. a crawled page quoting a WARC record verbatim — certain
    * to occur in a full Common Crawl pass) and is merged back with the
    * consumed delimiter restored, reconstructing the original payload
    * byte-for-byte. Records whose final payload length still disagrees
    * with the declared Content-Length are emitted with
    * `framing_valid = false` — corruption is DETECTABLE, never silent.
    * This also flags non-UTF-8 payloads (Hadoop Text decodes with
    * replacement characters, changing the byte count): this reader
    * targets WARC's text members (response HTML, WET conversions,
    * warcinfo); a binary member (an image or PDF response) is flagged,
    * not decoded. Records with no Content-Length header (non-conformant but
    * seen in the wild) fall back to delimiter framing, valid when a
    * `WARC-Type` header parsed.
    *
    * Partition boundaries: a chunk is processed by the partition holding
    * its START, so in the astronomically-rare case that a fake delimiter
    * inside a body falls exactly across an input-split boundary of an
    * UNCOMPRESSED multi-block file, the truncated record is flagged
    * `framing_valid = false` (its demand cannot be satisfied at partition
    * end) and the orphaned tail surfaces as a headerless flagged row —
    * loud, not silent. `fileAligned = true` removes even that case by
    * forcing one split per file (exact sequential framing; Common
    * Crawl's `.gz` archives are whole-file streams and therefore always
    * file-aligned — one task per archive, file-level parallelism over
    * the thousands-of-~1GB-files layout Common Crawl ships).
    *
    * This is the one documented RDD use in the tree: a custom RECORD
    * BOUNDARY is per-partition input-format work the DataFrame reader
    * cannot express; everything downstream is a DataFrame again. */
  def warc(spark: SparkSession, path: String,
      fileAligned: Boolean = false): DataFrame = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    // delimiter stops at "WARC/" so 1.0 and 1.1 archives (ISO 28500:2017)
    // both split — a version-pinned delimiter would silently collapse a
    // 1.1 file into one mangled row per file
    conf.set("textinputformat.record.delimiter", "\r\n\r\nWARC/")
    if (fileAligned)
      conf.setLong("mapreduce.input.fileinputformat.split.minsize",
        Long.MaxValue)
    val records = spark.sparkContext.newAPIHadoopFile(path,
        classOf[TextInputFormat], classOf[LongWritable], classOf[Text], conf)
      .map(_._2.toString)
    val rows = records.mapPartitions(warcRecordIterator)
    spark.createDataFrame(rows)
  }

  /** Chunk stream → record iterator for [[warc]]. Whitespace-only
    * chunks are skipped ONLY at record position (a record chunk always
    * opens with its version/header line, so a
    * blank chunk there can only be stray terminator bytes — e.g. a file
    * truncated right after a delimiter). Inside the Content-Length
    * demand loop the iterator is consumed UNFILTERED: an empty chunk
    * there is significant — it is the gap between two adjacent delimiter
    * byte-runs in a quoting body, or a body ending exactly with the
    * delimiter bytes, and its restored `\r\n\r\nWARC/` counts toward the
    * declared length. (A blanket nonEmpty filter here mis-framed exactly
    * those bodies: the 9 restored octets went missing, so a valid record
    * was flagged short or the demand overran into the next record.) */
  private def warcRecordIterator(raw: Iterator[String]): Iterator[WarcRec] = {
    val chunks = raw.buffered
    new Iterator[WarcRec] {
      def hasNext: Boolean = {
        while (chunks.hasNext && chunks.head.trim.isEmpty) chunks.next()
        chunks.hasNext
      }
      def next(): WarcRec = { hasNext; parseWarcRecord(chunks) }
    }
  }

  /** One parsed WARC record — the row type [[warc]] emits (field order
    * IS the column order). */
  final case class WarcRec(url: String, warc_type: String,
      content_type: String, http_status: Option[Int], body: String,
      framing_valid: Boolean)

  /** UTF-8 octet count of `s` without materializing the byte array —
    * Content-Length (ISO 28500 §5.1) counts payload OCTETS, and bodies
    * can be hundreds of KB, so re-encoding a growing buffer per merge
    * step would be quadratic. Surrogate pairs count 4 (astral planes);
    * unpaired surrogates count 3, matching the replacement character
    * Hadoop Text decoding substitutes for undecodable input. */
  private def utf8Len(s: String): Long = {
    var i = 0; var n = 0L
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x80) n += 1
      else if (c < 0x800) n += 2
      else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
          Character.isLowSurrogate(s.charAt(i + 1))) { n += 4; i += 1 }
      else n += 3
      i += 1
    }
    n
  }

  /** Consume one WARC record from the chunk stream: parse the header
    * block of the chunk at the cursor, then — when Content-Length is
    * declared — keep consuming following chunks (restoring the
    * `\r\n\r\nWARC/` bytes the delimiter ate) until the payload reaches
    * the declared octet count. Well-formed mid-file records land EXACTLY
    * on the declared length (the true terminator was consumed by the
    * delimiter); the file's last record lands 4 over (it keeps its
    * `\r\n\r\n` terminator) and is trimmed. Anything else is a framing
    * anomaly → `framing_valid = false` with the best-effort body kept. */
  private def parseWarcRecord(chunks: Iterator[String]): WarcRec = {
    val rec0 = chunks.next()
    // each chunk opens with the version line: in full for the file's
    // first record ("WARC/1.0"), as the bare remainder ("1.0") after
    // the delimiter consumed the prefix — drop it either way
    val firstNl = rec0.indexOf("\r\n")
    val firstLine = if (firstNl < 0) "" else rec0.substring(0, firstNl)
    val rec =
      if (firstLine.matches("(WARC/)?\\d+\\.\\d+"))
        rec0.substring(firstNl + 2)
      else rec0
    def parseHeaders(block: String): Map[String, String] =
      block.linesIterator.flatMap { l =>
        val c = l.indexOf(':')
        if (c < 0) None else Some(l.substring(0, c).trim.toLowerCase ->
          l.substring(c + 1).trim)
      }.toMap
    val hEnd = rec.indexOf("\r\n\r\n")
    val (headers, payload0) =
      if (hEnd >= 0)
        (parseHeaders(rec.substring(0, hEnd)), rec.substring(hEnd + 4))
      else {
        // no header terminator in the chunk. Two causes: (a) an orphaned
        // body tail (record started in a previous partition, which flagged
        // it truncated) or garbage; (b) a body that BEGINS with "WARC/" or
        // "\r\nWARC/", which lets the record delimiter OVERLAP the header
        // terminator — the match consumed the terminator's CRLFs plus the
        // body's first octets, so this chunk is an unterminated header
        // block and the eaten suffix is payload. Distinguish by strict
        // header-parsing the whole chunk (every line Key: value, with
        // WARC-Type and a numeric Content-Length present — an orphan tail
        // cannot look like that), then resume demand framing from the
        // reconstructed prefix: overlap-by-2 (body starts "\r\nWARC/")
        // leaves a lone trailing CRLF on the chunk; overlap-by-4 (body
        // starts "WARC/") consumes the terminator exactly.
        val overlapHalf = rec.endsWith("\r\n")
        val headText = if (overlapHalf) rec.dropRight(2) else rec
        val hs = parseHeaders(headText)
        val headerish = headText.nonEmpty &&
          headText.linesIterator.forall(_.contains(':')) &&
          hs.contains("warc-type") &&
          hs.get("content-length").exists(_.toLongOption.isDefined)
        if (!headerish)
          return WarcRec("", "", "", None, rec, framing_valid = false)
        val prefix = if (overlapHalf) "\r\nWARC/" else "WARC/"
        (hs, prefix + (if (chunks.hasNext) chunks.next() else ""))
      }
    val declared = headers.get("content-length").flatMap(_.toLongOption)
    var payload = payload0
    var valid = true
    declared match {
      case Some(len) =>
        // demand-driven reassembly: body text containing the delimiter
        // bytes was split into phantom chunks; pull them back until the
        // declared octet count is reached
        var bytes = utf8Len(payload)
        if (bytes < len) {
          val parts = new StringBuilder(payload)
          while (bytes < len && chunks.hasNext) {
            val nxt = chunks.next()
            parts.append("\r\n\r\nWARC/").append(nxt)
            bytes += 9 + utf8Len(nxt)
          }
          payload = parts.toString
        }
        if (bytes != len) {
          // mid-file records lose their two-CRLF terminator to the
          // delimiter; the file's LAST record keeps it — strip so body
          // is position-independent (md5/dedup over body must not depend
          // on where in the archive a record sat)
          val stripped = payload.stripSuffix("\r\n\r\n")
          if (bytes - (payload.length - stripped.length) == len)
            payload = stripped
          else {
            // undershoot = truncated at partition/file end; overshoot =
            // mis-declared length or non-UTF-8 payload mangled by text
            // decoding — either way detectable, never silent
            valid = false
            payload = stripped
          }
        }
      case None =>
        // non-conformant record: fall back to delimiter framing (the
        // pre-Content-Length behavior); a body containing the delimiter
        // bytes cannot be told apart here, so validity only attests that
        // a WARC-Type header parsed
        payload = payload.stripSuffix("\r\n\r\n")
        valid = headers.contains("warc-type")
    }
    val warcType = headers.getOrElse("warc-type", "")
    val url = headers.getOrElse("warc-target-uri", "")
    // response payloads open with the HTTP message: keep the status,
    // strip the HTTP headers so body is the entity alone
    val (status, body) =
      if (warcType == "response" && payload.startsWith("HTTP/")) {
        val he = payload.indexOf("\r\n\r\n")
        val statusLine = payload.takeWhile(_ != '\r')
        val st = statusLine.split(" ").lift(1).flatMap(_.toIntOption)
        if (he < 0) (st, "") else (st, payload.substring(he + 4))
      } else (None, payload)
    WarcRec(url, warcType, headers.getOrElse("content-type", ""),
      status, body, valid)
  }

  /** S12: HTML preview sink (utils.py:314, code_executor_api.py:555).
    * Column names and cells are escaped, as pandas' `to_html` does by
    * default: a value holding markup renders as text. */
  def toHtml(df: DataFrame, n: Int = 20): String = {
    val cols = df.columns
    val head = cols.map(c => s"<th>${htmlEscape(c)}</th>").mkString
    val rows = df.limit(n).collect().map { r =>
      val tds = r.toSeq.map(v =>
        s"<td>${htmlEscape(Option(v).fold("")(_.toString))}</td>").mkString
      s"<tr>$tds</tr>"
    }.mkString("\n")
    s"<table border=\"1\"><thead><tr>$head</tr></thead><tbody>\n$rows\n</tbody></table>"
  }

  /** Escapes `&`, `<`, `>` and `"` so text placed in an HTML element or
    * attribute renders as written. */
  def htmlEscape(text: String): String = {
    val sb = new StringBuilder(text.length)
    text.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c => sb.append(c)
    }
    sb.toString
  }
}

/** S11: id→table cache with LRU eviction, the reference's DataFrameCache
  * (web_app/code_executor_api.py:33-65: max_size, move-to-end on access,
  * popitem(last=False) eviction). Spark twist: insert caches the plan's
  * blocks, eviction unpersists them.
  */
/** @param onEvict fired for every id leaving the cache (LRU overflow,
  *   explicit remove) AFTER its plan unpersists — the hook a server uses
  *   to release per-id resources it bound at insert time (e.g. a catalog
  *   temp view); without it LRU evictions leak those bindings for the
  *   server's lifetime. A re-put of a cached id replaces the plan in
  *   place: the id does not leave, so the hook does not fire, and the
  *   caller's per-id resources never pass through an unbound state. */
final class TableCache(maxSize: Int = 1,
    onEvict: String => Unit = _ => ()) {
  private val entries = mutable.LinkedHashMap.empty[String, DataFrame]

  def get(id: String): Option[DataFrame] = synchronized {
    entries.remove(id).map { df => entries.put(id, df); df } // move-to-end
  }

  def put(id: String, df: DataFrame): Unit = synchronized {
    entries.remove(id).foreach(_.unpersist())
    entries.put(id, df.cache())
    while (entries.size > maxSize) {
      val (oldest, old) = entries.head
      old.unpersist()
      entries.remove(oldest)
      onEvict(oldest)
    }
  }

  def size: Int = synchronized(entries.size)
  def ids: Seq[String] = synchronized(entries.keys.toSeq)

  /** Evict one entry (unpersisting its cached plan); false if absent. */
  def remove(id: String): Boolean = synchronized {
    entries.remove(id).map { df => df.unpersist(); onEvict(id) }.isDefined
  }
}
