package graft.sources

import java.util.Base64
import java.util.zip.{Deflater, Inflater}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Scan/source/sink surface of SURVEY §2.1 (S1-S12).
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

  /** Full inference by default (a sub-1.0 default silently infers an
    * EMPTY schema on small files — sampling skips every line); pass a
    * small `samplingRatio` explicitly when inspecting a drop too large
    * for a full inference scan. */
  def jsonlInferred(spark: SparkSession, path: String,
      samplingRatio: Double = 1.0): DataFrame =
    spark.read.option("samplingRatio", samplingRatio).json(path)

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

  /** JSONL sink: one object per line, partition-parallel like every
    * other distributed write here. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).json(path)

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
    * warcinfo); binary payloads belong to the multimodal binary-column
    * path. Records with no Content-Length header (non-conformant but
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

  /** One byte-framed WARC record — [[warcBinary]]'s row type: the same
    * columns as [[WarcRec]] with the payload kept as OCTETS. */
  final case class WarcBinRec(url: String, warc_type: String,
      content_type: String, http_status: Option[Int], body: Array[Byte],
      framing_valid: Boolean)

  /** Binary WARC reader — the bytes-capable arm of [[warc]]. The text
    * reader deliberately targets WARC's text members: Hadoop Text decodes
    * with replacement characters, so an image/PDF response member arrives
    * mangled and is flagged `framing_valid = false` — loud, but a real
    * crawl pass wants those members ROUTED, not dropped. This arm reads
    * whole archives through the `binaryFile` source (one row per archive
    * — exactly Common Crawl's thousands-of-~1GB-files layout, where the
    * .gz members are whole-file streams and per-archive tasks are the
    * parallelism unit anyway) and walks each archive SEQUENTIALLY at the
    * byte level: header block to `\r\n\r\n`, then exactly Content-Length
    * payload octets (ISO 28500 §5.1) — no text decode ever touches the
    * payload, so a JPEG member lands with its bytes intact and feeds the
    * multimodal binary column ([[graft.multimodal.Multimodal.MediaRow]]
    * payload; ImageIoCodec decodes it — spec-pinned), while a text
    * member's octets are byte-identical to what [[warc]] decodes
    * (spec-pinned too). Records without Content-Length fall back to
    * delimiter scanning; length mismatches and mid-record garbage are
    * flagged `framing_valid = false`, never silent.
    *
    * Gzip (round 13): `binaryFile` delivers raw octets — unlike the text
    * arm's TextInputFormat there is no codec layer — so a `.warc.gz`
    * archive is sniffed by its 0x1f8b magic and inflated here before the
    * walk. Common Crawl archives are CONCATENATED per-record gzip members
    * (ISO 28500 annex); `GZIPInputStream` reads member sequences natively,
    * so the whole archive inflates in one streaming pass. A corrupt
    * stream keeps the octets inflated so far (the walk then flags the
    * trailing truncation) rather than failing the task — at 100 TB one
    * rotten archive must not kill the job, and an empty inflate surfaces
    * as a single flagged row. */
  def warcBinary(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select("content").as[Array[Byte]]
      .flatMap { raw =>
        if (!startsWith(raw, GzipMagic, 0)) parseWarcBytes(raw)
        else {
          val inflated = gunzipAll(raw)
          if (inflated.isEmpty)
            Iterator(WarcBinRec("", "", "", None, raw, framing_valid = false))
          else parseWarcBytes(inflated)
        }
      }
      .toDF()
  }

  private val GzipMagic = Array(0x1f.toByte, 0x8b.toByte)

  /** Inflation ceiling for one archive: past this the member is treated as
    * corrupt (truncated octets → flagged rows), never inflated further. An
    * unbounded inflate would buffer the whole expansion on the executor —
    * an OutOfMemoryError the catch below can never see, so a gzip bomb
    * would be a single-record task killer, breaking the one-rotten-archive
    * contract. 1 GiB is ~4x Common Crawl's largest inflated archives and
    * far under the task heap at 32 tasks/128 GiB. */
  private[graft] val MaxInflatedBytes: Int = 1 << 30

  /** Inflate a (possibly multi-member) gzip stream; on a mid-stream error
    * OR on crossing [[MaxInflatedBytes]] returns the octets recovered so
    * far instead of throwing (the cap is enforced in the read loop — an
    * OutOfMemoryError cannot be caught usefully). */
  private[graft] def gunzipAll(bytes: Array[Byte],
      maxBytes: Int = MaxInflatedBytes): Array[Byte] = {
    // size hint: bytes.length * 4L can exceed Int range on ~512 MB+ inputs
    // (harmless before, but compute it in Long and clamp properly)
    val hint = math.min(math.max(bytes.length.toLong * 4L, 1024L),
      64L << 20).toInt
    val out = new java.io.ByteArrayOutputStream(hint)
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes), 64 << 10)
      val buf = new Array[Byte](64 << 10)
      var n = in.read(buf)
      while (n >= 0 && out.size() < maxBytes) {
        out.write(buf, 0, math.min(n, maxBytes - out.size()))
        n = if (out.size() >= maxBytes) -1 else in.read(buf)
      }
    } catch { case _: java.io.IOException => () }
    out.toByteArray
  }

  private val WarcMagic = "WARC/".getBytes("US-ASCII")
  private val CrlfCrlf = "\r\n\r\n".getBytes("US-ASCII")
  private val Delim = "\r\n\r\nWARC/".getBytes("US-ASCII")

  private def indexOf(hay: Array[Byte], needle: Array[Byte],
      from: Int): Int = {
    var i = math.max(from, 0)
    val last = hay.length - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }
  private def startsWith(hay: Array[Byte], needle: Array[Byte],
      at: Int): Boolean =
    at >= 0 && at + needle.length <= hay.length && {
      var j = 0
      while (j < needle.length && hay(at + j) == needle(j)) j += 1
      j == needle.length
    }

  /** Sequential byte-exact record walk over one archive's octets. */
  private[graft] def parseWarcBytes(bytes: Array[Byte]): Iterator[WarcBinRec] = {
    val out = Vector.newBuilder[WarcBinRec]
    var pos = 0
    // skip leading terminator bytes (mirrors the text iterator's
    // blank-at-record-position rule)
    def skipCrlf(): Unit =
      while (pos + 1 < bytes.length && bytes(pos) == '\r' && bytes(pos + 1) == '\n')
        pos += 2
    skipCrlf()
    while (pos < bytes.length) {
      if (!startsWith(bytes, WarcMagic, pos)) {
        // garbage at record position: surface it as one flagged row up to
        // the next delimiter (or EOF) — detectable, never silent
        val next = indexOf(bytes, Delim, pos)
        val end = if (next < 0) bytes.length else next
        out += WarcBinRec("", "", "", None,
          java.util.Arrays.copyOfRange(bytes, pos, end), framing_valid = false)
        pos = if (next < 0) bytes.length else next + 4
      } else {
        val hEnd = indexOf(bytes, CrlfCrlf, pos)
        if (hEnd < 0) {
          out += WarcBinRec("", "", "", None,
            java.util.Arrays.copyOfRange(bytes, pos, bytes.length),
            framing_valid = false)
          pos = bytes.length
        } else {
          // header block is ASCII by spec; ISO-8859-1 keeps it byte-safe
          val headText = new String(bytes, pos, hEnd - pos, "ISO-8859-1")
          val headers = headText.linesIterator.drop(1).flatMap { l =>
            val c = l.indexOf(':')
            if (c < 0) None else Some(l.substring(0, c).trim.toLowerCase ->
              l.substring(c + 1).trim)
          }.toMap
          val bodyAt = hEnd + 4
          val declared = headers.get("content-length").flatMap(_.toLongOption)
          val (payload, valid, nextPos) = declared match {
            case Some(len) if bodyAt + len <= bytes.length =>
              val end = bodyAt + len.toInt
              // a well-formed record is ALWAYS followed by its two-CRLF
              // terminator (ISO 28500 §5.2) — including the archive's
              // last record, so a truncation that happens to cut exactly
              // on the payload boundary is still detectable (round 13,
              // closing the `end == bytes.length` escape)
              val term = startsWith(bytes, CrlfCrlf, end)
              (java.util.Arrays.copyOfRange(bytes, bodyAt, end), term,
                if (term) end + 4 else end)
            case Some(_) => // declared length overruns the archive
              (java.util.Arrays.copyOfRange(bytes, bodyAt, bytes.length),
                false, bytes.length)
            case None => // non-conformant: delimiter framing
              val next = indexOf(bytes, Delim, bodyAt)
              val end = if (next < 0) bytes.length else next
              (java.util.Arrays.copyOfRange(bytes, bodyAt, end),
                headers.contains("warc-type"),
                if (next < 0) bytes.length else next + 4)
          }
          pos = nextPos
          skipCrlf()
          val warcType = headers.getOrElse("warc-type", "")
          // response payloads open with the HTTP message: keep the
          // status, strip the HTTP headers — the byte twin of [[warc]]'s
          // text-side strip
          val (status, body) =
            if (warcType == "response" &&
                startsWith(payload, "HTTP/".getBytes("US-ASCII"), 0)) {
              val he = indexOf(payload, CrlfCrlf, 0)
              val lineEnd = indexOf(payload, "\r\n".getBytes("US-ASCII"), 0)
              val statusLine = new String(payload, 0,
                if (lineEnd < 0) payload.length else lineEnd, "ISO-8859-1")
              val st = statusLine.split(" ").lift(1).flatMap(_.toIntOption)
              if (he < 0) (st, Array.empty[Byte])
              else (st, java.util.Arrays.copyOfRange(payload, he + 4, payload.length))
            } else (None, payload)
          out += WarcBinRec(headers.getOrElse("warc-target-uri", ""),
            warcType, headers.getOrElse("content-type", ""), status, body,
            valid)
        }
      }
    }
    out.result().iterator
  }

  /** S8: remote-API source — fetch a CSV payload over HTTP on the driver
    * and land it as a DataFrame (the reference has generated code download
    * data ad hoc: default_prompts.yaml:288-304, 2157). Driver-side fetch is
    * the right shape for this source: the reference's remote payloads are
    * pre-analysis API results, small by contract; bulk remote data belongs
    * to a distributed connector (S4) instead. JDK-only HTTP, no added deps. */
  def fromUrl(spark: SparkSession, url: String,
      timeoutMs: Int = 15000, maxBytes: Long = 64L * 1024 * 1024): DataFrame = {
    val conn = java.net.URI.create(url).toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    try {
      val code = conn.getResponseCode
      if (code >= 400) throw new RuntimeException(s"remote source HTTP $code: $url")
      // The whole payload lands on the driver by design (small-by-contract
      // API results); enforce that contract so an unexpectedly large URL
      // fails loudly instead of OOMing the driver. Content-Length is
      // advisory (absent on chunked responses), so the stream read is
      // capped too.
      val declared = conn.getContentLengthLong
      if (declared > maxBytes) throw new IllegalArgumentException(
        s"remote source payload $declared bytes exceeds maxBytes=$maxBytes: $url " +
          "(driver-side source is for small API results; use a distributed scan for bulk data)")
      val out = new java.io.ByteArrayOutputStream()
      val in = conn.getInputStream
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size() > maxBytes) throw new IllegalArgumentException(
          s"remote source payload exceeds maxBytes=$maxBytes: $url " +
            "(driver-side source is for small API results; use a distributed scan for bulk data)")
        n = in.read(buf)
      }
      val text = out.toString("UTF-8")
      import spark.implicits._
      spark.read.option("header", "true").option("inferSchema", "true")
        .csv(spark.createDataset(text.linesIterator.toSeq))
    } finally conn.disconnect()
  }

  /** S8 + S11 + S7: fetch once, register as a queryable view, keep the
    * materialized table in the LRU cache so a re-request is a cache hit
    * (mirrors DataFrameCache fronting the executor API,
    * web_app/code_executor_api.py:33-65). */
  def loadRemote(spark: SparkSession, name: String, url: String,
      cache: TableCache): DataFrame = {
    val df = cache.get(name).getOrElse {
      val fetched = fromUrl(spark, url)
      cache.put(name, fetched)
      fetched
    }
    df.createOrReplaceTempView(name)
    df
  }

  /** S9: CSV sink for generated result datasets
    * (template_formatting.py:77; collection code_executor.py:188-199).
    * coalesce(1) matches the reference's single-file contract — result sets
    * are post-aggregation and small; large extracts should drop coalesce. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** S10: table serialization across a process boundary — the reference
    * ships parquet+zlib+base64 strings (code_executor.py:241-250). Collect
    * the (small, post-agg) table as CSV text and wrap it the same way. */
  def serializeTable(df: DataFrame): String = {
    val header = df.columns.mkString(",")
    val rows = df.collect().map(_.toSeq.map {
      case null => ""
      case v => v.toString
    }.mkString(","))
    val raw = (header +: rows).mkString("\n").getBytes("UTF-8")
    val deflater = new Deflater()
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](math.max(64, raw.length * 2))
    val n = deflater.deflate(buf)
    deflater.end()
    Base64.getEncoder.encodeToString(buf.take(n))
  }

  /** Inverse of [[serializeTable]] (code_executor_api.py:604-613). */
  def deserializeTable(spark: SparkSession, payload: String): DataFrame = {
    val compressed = Base64.getDecoder.decode(payload)
    val inflater = new Inflater()
    inflater.setInput(compressed)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!inflater.finished()) {
      val n = inflater.inflate(buf)
      if (n == 0 && inflater.needsInput()) throw new IllegalArgumentException("truncated")
      out.write(buf, 0, n)
    }
    inflater.end()
    val lines = out.toString("UTF-8").split("\n").toSeq
    import spark.implicits._
    spark.read.option("header", "true").option("inferSchema", "true")
      .csv(lines.toDS())
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
