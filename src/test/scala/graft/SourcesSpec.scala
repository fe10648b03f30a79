package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col
import graft.sources.{Sources, TableCache}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val csvDir = {
    val dir = "target/test_csv"
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("id", "tag", "x")
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    dir
  }

  test("S9/S1 csv sink + full scan roundtrip with inferred schema") {
    val back = Sources.csv(spark, csvDir)
    assert(back.count() == 3)
    assert(back.schema("id").dataType.typeName == "integer")
    assert(back.schema("x").dataType.typeName == "double")
  }

  test("S2/S3 csv preview + header-only scan") {
    assert(Sources.csvPreview(spark, csvDir, 2).count() == 2)
    assert(Sources.csvColumns(spark, csvDir) == Seq("id", "tag", "x"))
  }

  test("S5/S6 parquet preview + footer-only schema") {
    val p = Tables.path(sf, "orders")
    assert(Sources.parquetPreview(spark, p, 5).count() == 5)
    assert(Sources.parquetSchema(spark, p).fieldNames.contains("o_orderkey"))
  }

  /** One-row parquet file whose `ts` is a TIMESTAMP(NANOS) column — the
    * shape the read policy exists for. Spark cannot write ns timestamps,
    * so parquet-mr writes it directly. */
  private def nanosParquet(path: String): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L))
    finally w.close()
    path
  }

  test("parquet read policy is fixed at session build: an events load " +
      "leaves a plain read's schema unchanged") {
    val s = spark.newSession()
    val paths = Seq(Tables.path(sf, "events"),
      nanosParquet("target/ns_ts.parquet"))
    val before = paths.map(p => Sources.parquet(s, p).schema)
    Tables.load(s, sf, "events")
    assert(paths.map(p => Sources.parquet(s, p).schema) == before)
  }

  test("Tables.load floors a ns events.ts to a µs timestamp_ntz") {
    // pandas' default parquet writer emits ns timestamps; the seed-42
    // fixtures carry µs, so this arm needs a file of its own
    nanosParquet("target/ns_events/events.parquet")
    val ev = Tables.load(spark, "target/ns_events", "events")
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
    assert(ev.collect().map(_.getAs[java.time.LocalDateTime]("ts")).toSeq ==
      Seq(java.time.LocalDateTime.parse("2023-11-14T22:13:20.123456")))
  }

  test("S11 LRU cache: move-to-end on access, evict-oldest on overflow") {
    val cache = new TableCache(maxSize = 2)
    cache.put("a", Seq(1).toDF("x"))
    cache.put("b", Seq(2).toDF("x"))
    assert(cache.get("a").nonEmpty) // a becomes most-recent
    cache.put("c", Seq(3).toDF("x")) // evicts b
    assert(cache.ids.toSet == Set("a", "c") && cache.get("b").isEmpty)
  }

  test("S11 LRU cache: onEvict fires when an id leaves, not on a re-put") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[String]
    val cache = new TableCache(maxSize = 2, onEvict = evicted += _)
    cache.put("a", Seq(1).toDF("x"))
    cache.put("b", Seq(2).toDF("x"))
    cache.put("a", Seq(3).toDF("x")) // replaced in place: a stays cached
    assert(evicted.isEmpty)
    cache.put("c", Seq(4).toDF("x")) // evicts b, the oldest
    assert(cache.remove("a"))
    assert(evicted.toSeq == Seq("b", "a"))
    assert(!cache.remove("a") && evicted.toSeq == Seq("b", "a"))
  }

  test("S12 html preview renders header and rows") {
    val html = Sources.toHtml(Seq((1, "a")).toDF("k", "v"))
    assert(html.contains("<th>k</th>") && html.contains("<td>a</td>"))
    // markup in a header or a cell renders as text, as pandas' to_html does
    val marked = Sources.toHtml(Seq((1, "<b>&x")).toDF("k", "<b>&x"))
    assert(marked.contains("<th>&lt;b&gt;&amp;x</th>") &&
      marked.contains("<td>&lt;b&gt;&amp;x</td>") && !marked.contains("<b>"),
      marked)
  }

  test("jsonl: sink/source roundtrip, schema read without inference, corrupt lines visible") {
    import org.apache.spark.sql.types._
    val dir = "target/sources_jsonl"
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    val docs = Seq((1L, "alpha text", "en"), (2L, "beta text", "de"))
      .toDF("doc_id", "text", "lang")
    docs.write.json(s"$dir/out")
    // roundtrip through the head-probed schema the upload path reads with
    val back = Sources.jsonlProbed(spark, s"$dir/out")
    assert(back.orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
      .toSeq == Seq((1L, "alpha text"), (2L, "beta text")))
    // a raw drop with a malformed line: the schema read takes the
    // contract schema verbatim (no inference pass) and surfaces the bad
    // line in _corrupt_record instead of silently dropping or nulling it
    val raw = s"$dir/drop/part.jsonl"
    new java.io.File(s"$dir/drop").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(raw),
      """{"doc_id": 10, "text": "good line"}
        |{not valid json at all
        |{"doc_id": 11, "text": "another good line"}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val read = Sources.jsonl(spark, s"$dir/drop", schema)
    assert(read.columns.contains("_corrupt_record"))
    // read full rows: Spark disallows queries referencing ONLY the
    // corrupt-record column over the raw file (the scaladoc'd pitfall)
    val rows = read.collect()
    val good = rows.filter(_.getAs[String]("_corrupt_record") == null)
      .map(_.getAs[Long]("doc_id")).toSet
    val bad = rows.count(_.getAs[String]("_corrupt_record") != null)
    assert(good == Set(10L, 11L) && bad == 1, s"good=$good bad=$bad")
    // preview is bounded
    assert(Sources.jsonlPreview(spark, s"$dir/out", 1).count() == 1)

    // head-probed schema: inference is bounded by the probe lines, and
    // jsonlProbed serves the whole file under it without a full-scan
    // inference pass
    val probed = Sources.jsonlSchema(spark, s"$dir/out", lines = 1)
    assert(probed.fieldNames.toSet == Set("doc_id", "lang", "text"))
    assert(Sources.jsonlProbed(spark, s"$dir/out").count() == 2)

    // an empty/all-blank drop fails AT REGISTRATION with a clear message
    // (binding it would die later on QUERY_ONLY_CORRUPT_RECORD_COLUMN at
    // the first query — fail at upload, not at use)
    val emptyDir = s"$dir/empty"
    new java.io.File(emptyDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$emptyDir/part.jsonl"), "\n\n")
    val emptyErr = intercept[IllegalArgumentException] {
      Sources.jsonlProbed(spark, emptyDir)
    }
    assert(emptyErr.getMessage.contains("no data schema could be probed"))
    // a CSV misnamed .jsonl probes ONLY _corrupt_record — equally
    // degenerate, equally rejected at registration
    val csvDir = s"$dir/misnamed"
    new java.io.File(csvDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$csvDir/part.jsonl"), "a,b\n1,x\n2,y\n")
    val csvErr = intercept[IllegalArgumentException] {
      Sources.jsonlProbed(spark, csvDir)
    }
    assert(csvErr.getMessage.contains("no data schema could be probed"))

    // a standard pretty-printed DOCUMENT is a different format: the line
    // reader sees only corrupt rows, jsonDoc parses it
    val docPath = s"$dir/doc/conf.json"
    new java.io.File(s"$dir/doc").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(docPath),
      """[
        |  {"name": "alpha", "weight": 2},
        |  {"name": "beta", "weight": 3}
        |]
        |""".stripMargin)
    val doc = Sources.jsonDoc(spark, docPath)
    assert(doc.columns.toSet == Set("name", "weight") && doc.count() == 2)
  }

  test("warc: records split distributed, HTTP stripped, feeds the h1 extraction; .gz reads") {
    // a three-record WARC the way a crawler writes one: warcinfo, an HTTP
    // response carrying HTML, and a WET-style text conversion
    val html = "<html><body><div id=\"nav\"><a href=\"/\">Home</a> " +
      "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>" +
      "<p>genuine article body text with many meaningful words inside</p>" +
      "</body></html>"
    def record(headers: Seq[(String, String)], payload: String): String =
      "WARC/1.0\r\n" +
        (headers :+ ("Content-Length" ->
          payload.getBytes("UTF-8").length.toString))
          .map { case (k, v) => s"$k: $v" }.mkString("\r\n") +
        "\r\n\r\n" + payload
    val warcText = Seq(
      record(Seq("WARC-Type" -> "warcinfo",
        "Content-Type" -> "application/warc-fields"),
        "software: graft-test\r\n"),
      record(Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "http://example.com/page",
        "Content-Type" -> "application/http; msgtype=response"),
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html),
      record(Seq("WARC-Type" -> "conversion",
        "WARC-Target-URI" -> "http://example.com/page",
        "Content-Type" -> "text/plain"),
        "genuine article body text with many meaningful words inside")
    ).mkString("\r\n\r\n") + "\r\n\r\n"
    val dir = "target/sources_warc"
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/crawl.warc"),
      warcText.getBytes("UTF-8"))

    val df = Sources.warc(spark, s"$dir/crawl.warc").cache()
    assert(df.count() == 3)
    // conformant records (Content-Length present, satisfied exactly) all
    // frame clean
    assert(df.collect().forall(_.getBoolean(5)))
    val byType = df.collect().map(r =>
      r.getString(1) -> r).toMap
    // response: status kept, HTTP headers stripped, body is the entity
    val resp = byType("response")
    assert(resp.getString(0) == "http://example.com/page")
    assert(resp.getInt(3) == 200)
    assert(resp.getString(4) == html, resp.getString(4))
    // conversion (WET) payload passes through EXACTLY, no status, and —
    // being the file's LAST record — with the two-CRLF record terminator
    // stripped: body must be byte-identical wherever the record sits
    val conv = byType("conversion")
    assert(conv.isNullAt(3) && conv.getString(4) ==
      "genuine article body text with many meaningful words inside",
      conv.getString(4))

    // the crawl grain composes straight into the h1 extraction: nav dies
    // on link density, the article paragraph survives
    val extracted = graft.operators.TextOps.htmlExtractOver(
      df.filter(col("warc_type") === "response")
        .select(col("url").as("doc_id"), col("body").as("html")))
      .collect()
    assert(extracted.length == 1)
    val clean = extracted.head.getAs[String]("clean_text")
    assert(clean == "genuine article body text with many meaningful words inside",
      clean)

    // Common Crawl ships gzip members; the Hadoop codec path reads the
    // same records from a .gz archive transparently
    new java.io.File(s"$dir/gz").mkdirs()
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/gz/crawl.warc.gz"))
    out.write(warcText.getBytes("UTF-8")); out.close()
    val gdf = Sources.warc(spark, s"$dir/gz/crawl.warc.gz")
    assert(gdf.count() == 3 &&
      gdf.filter(col("warc_type") === "response").count() == 1)

    // WARC/1.1 (ISO 28500:2017) splits identically — the delimiter is
    // version-agnostic, so a current-spec archive must not collapse into
    // one mangled row per file
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/crawl11.warc"),
      warcText.replace("WARC/1.0", "WARC/1.1").getBytes("UTF-8"))
    val df11 = Sources.warc(spark, s"$dir/crawl11.warc")
    assert(df11.count() == 3)
    assert(df11.filter(col("warc_type") === "response")
      .collect().head.getString(4) == html)
  }

  test("warc: a binary member is flagged; text members decode intact") {
    // a REAL JPEG via the JDK encoder — binary payload with bytes no
    // UTF-8 decode survives
    val img = new java.awt.image.BufferedImage(8, 6,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 8)
      img.setRGB(x, y, (x * 32 << 16) | (y * 40 << 8) | 128)
    val jbos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", jbos))
    val jpeg = jbos.toByteArray
    val html = "<p>genuine text body that must survive the reader</p>"
    def record(headers: Seq[(String, String)],
        payload: Array[Byte]): Array[Byte] =
      ("WARC/1.0\r\n" +
        (headers :+ ("Content-Length" -> payload.length.toString))
          .map { case (k, v) => s"$k: $v" }.mkString("\r\n") +
        "\r\n\r\n").getBytes("US-ASCII") ++ payload ++
        "\r\n\r\n".getBytes("US-ASCII")
    val archive =
      record(Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "http://example.com/page",
        "Content-Type" -> "application/http; msgtype=response"),
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html)
          .getBytes("UTF-8")) ++
      record(Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "http://example.com/logo.jpg",
        "Content-Type" -> "application/http; msgtype=response"),
        "HTTP/1.1 200 OK\r\nContent-Type: image/jpeg\r\n\r\n"
          .getBytes("US-ASCII") ++ jpeg)
    val dir = "target/sources_warc_bin"
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/crawl.warc"), archive)
    val rows = Sources.warc(spark, s"$dir/crawl.warc").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("http://example.com/page").getString(4) == html)
    assert(rows("http://example.com/page").getBoolean(5))
    assert(!rows("http://example.com/logo.jpg").getBoolean(5))
  }

  test("warc: Content-Length reassembles bodies quoting WARC records; " +
      "mismatches flagged, never silent") {
    def record(headers: Seq[(String, String)], payload: String): String =
      "WARC/1.0\r\n" +
        (headers :+ ("Content-Length" ->
          payload.getBytes("UTF-8").length.toString))
          .map { case (k, v) => s"$k: $v" }.mkString("\r\n") +
        "\r\n\r\n" + payload
    // the worst case for delimiter framing: a crawled page ABOUT the WARC
    // format whose body quotes a FULL record verbatim, preceded by a
    // blank line — the quoted text both contains the raw delimiter bytes
    // (\r\n\r\nWARC/) and header-parses as a valid record, so only the
    // outer record's declared Content-Length can arbitrate
    val inner = record(Seq("WARC-Type" -> "response",
      "WARC-Target-URI" -> "http://quoted.example/"),
      "HTTP/1.1 200 OK\r\n\r\nquoted inner body")
    val entity = "<p>the WARC format frames records like this:</p>\r\n\r\n" +
      inner + "\r\n\r\nand framing must honor Content-Length"
    val quoting = record(Seq("WARC-Type" -> "response",
      "WARC-Target-URI" -> "http://warc-tutorial.example/",
      "Content-Type" -> "application/http; msgtype=response"),
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + entity)
    val after = record(Seq("WARC-Type" -> "conversion",
      "WARC-Target-URI" -> "http://after.example/"),
      "plain text of the record after the quoting page")
    val dir = "target/sources_warc_quoted"
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/quoting.warc"),
      (Seq(quoting, after).mkString("\r\n\r\n") + "\r\n\r\n")
        .getBytes("UTF-8"))

    val rows = Sources.warc(spark, s"$dir/quoting.warc").collect()
    // exactly the TRUE records come back — the quoted record did not
    // become a phantom row and the quoting body was not truncated
    assert(rows.length == 2, rows.map(_.getString(0)).mkString(","))
    val byUrl = rows.map(r => r.getString(0) -> r).toMap
    val tut = byUrl("http://warc-tutorial.example/")
    assert(tut.getBoolean(5))
    assert(tut.getString(4) == entity, tut.getString(4))
    val conv = byUrl("http://after.example/")
    assert(conv.getBoolean(5) &&
      conv.getString(4) == "plain text of the record after the quoting page")

    // a truncated archive (declared length never satisfied — the tail of
    // the file is gone) surfaces as framing_valid = false, not as a
    // silently short body
    val cut = quoting.substring(0, quoting.length - 40)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/truncated.warc"),
      cut.getBytes("UTF-8"))
    val trows = Sources.warc(spark, s"$dir/truncated.warc").collect()
    assert(trows.length >= 1 && trows.forall(!_.getBoolean(5)))

    // a non-conformant record (no Content-Length — seen in the wild)
    // still parses via delimiter framing and attests via WARC-Type
    val legacy = "WARC/1.0\r\nWARC-Type: conversion\r\n" +
      "WARC-Target-URI: http://legacy.example/\r\n\r\nlegacy no-length body\r\n\r\n"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/legacy.warc"),
      legacy.getBytes("UTF-8"))
    val lrows = Sources.warc(spark, s"$dir/legacy.warc").collect()
    assert(lrows.length == 1 && lrows.head.getBoolean(5) &&
      lrows.head.getString(4) == "legacy no-length body")

    // fileAligned strict mode returns the identical rows (one split per
    // file — the zero-ambiguity path; .gz archives are always this shape)
    val arows = Sources.warc(spark, s"$dir/quoting.warc",
      fileAligned = true).collect()
    assert(arows.map(_.toString).sorted.sameElements(
      rows.map(_.toString).sorted))
  }

  private def warcRecord(url: String, payload: String): String =
    "WARC/1.0\r\nWARC-Type: conversion\r\n" +
      s"WARC-Target-URI: $url\r\nContent-Type: text/plain\r\n" +
      s"Content-Length: ${payload.getBytes("UTF-8").length}\r\n\r\n" + payload

  test("warc: bodies ending with the delimiter bytes / adjacent delimiter " +
      "runs frame exactly (empty split chunks carry restored octets)") {
    // the delimiter split yields EMPTY chunks for these bodies — between
    // two adjacent \r\n\r\nWARC/ runs, and between a body-final run and
    // the record separator. Each empty chunk still stands for 9 restored
    // octets of declared payload; dropping them mis-frames the archive.
    val tailBody = "quoting a delimiter at the very end:\r\n\r\nWARC/"
    val adjacentBody = "two in a row:\r\n\r\nWARC/\r\n\r\nWARC/and tail text"
    val plain = "an ordinary record after the tricky ones"
    val archive = Seq(
      warcRecord("http://tail.example/", tailBody),
      warcRecord("http://adjacent.example/", adjacentBody),
      warcRecord("http://plain.example/", plain)
    ).mkString("\r\n\r\n") + "\r\n\r\n"
    val dir = "target/sources_warc_empty_chunks"
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.warc"),
      archive.getBytes("UTF-8"))
    val rows = Sources.warc(spark, s"$dir/t.warc").collect()
    assert(rows.length == 3, rows.map(r =>
      (r.getString(0), r.getString(4))).mkString("; "))
    val byUrl = rows.map(r => r.getString(0) -> r).toMap
    assert(byUrl("http://tail.example/").getString(4) == tailBody)
    assert(byUrl("http://adjacent.example/").getString(4) == adjacentBody)
    assert(byUrl("http://plain.example/").getString(4) == plain)
    assert(rows.forall(_.getBoolean(5)), "all framing_valid")

    // last record of the file ending with the delimiter bytes: the file
    // terminator alone forms the final chunk ("\r\n\r\n", whitespace-only
    // but NOT empty) and must be consumed by the demand loop, not skipped
    // or surfaced as a phantom record
    val archive2 = warcRecord("http://only.example/", tailBody) + "\r\n\r\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t2.warc"),
      archive2.getBytes("UTF-8"))
    val rows2 = Sources.warc(spark, s"$dir/t2.warc").collect()
    assert(rows2.length == 1 && rows2.head.getBoolean(5) &&
      rows2.head.getString(4) == tailBody,
      rows2.map(r => (r.getString(4), r.getBoolean(5))).mkString("; "))
  }

  test("warc framing property: random conformant archives round-trip " +
      "byte-for-byte, framing_valid throughout") {
    import org.scalacheck.Gen
    // body pieces biased toward the byte runs the framing must survive:
    // the full delimiter, its fragments, CRLF runs, multi-byte UTF-8
    // (utf8Len's 2/3/4-octet classes), and plain words
    val piece = Gen.frequency(
      4 -> Gen.alphaNumStr.map(_.take(12)),
      2 -> Gen.const("\r\n\r\nWARC/"),
      1 -> Gen.const("\r\n\r\n"),
      1 -> Gen.const("WARC/"),
      1 -> Gen.const("\r\n"),
      1 -> Gen.const("é☃中😀"),
      1 -> Gen.const(" HTTP/1.1 200 OK "))
    val body = for {
      ps <- Gen.listOfN(8, piece)
      tail <- Gen.oneOf("", "\r\n\r\nWARC/", "\r\n\r\n", "WARC/")
    } yield ps.mkString + tail
    val archiveBodies = Gen.choose(1, 5).flatMap(Gen.listOfN(_, body))
    val cases = Gen.listOfN(30, archiveBodies)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(11L))
      .getOrElse(sys.error("gen failed"))
    val dir = "target/sources_warc_prop"
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    new java.io.File(dir).mkdirs()
    val expected = cases.zipWithIndex.flatMap { case (bodies, a) =>
      val recs = bodies.zipWithIndex.map { case (b, i) =>
        s"http://prop.example/$a/$i" -> b
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$dir/a$a%03d.warc"),
        (recs.map { case (u, b) => warcRecord(u, b) }
          .mkString("\r\n\r\n") + "\r\n\r\n").getBytes("UTF-8"))
      recs
    }.toMap
    // one distributed read over the whole landing dir (splits never span
    // files, so per-partition sequential framing matches per-file framing)
    val rows = Sources.warc(spark, s"$dir/*.warc").collect()
    assert(rows.length == expected.size,
      s"rows=${rows.length} expected=${expected.size}")
    rows.foreach { r =>
      val (url, got, valid) = (r.getString(0), r.getString(4), r.getBoolean(5))
      assert(valid, s"$url flagged invalid")
      assert(got == expected(url),
        s"$url body mismatch:\n got=${got.take(120)}\n exp=${expected(url).take(120)}")
    }
  }
}
