package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {

  test("media table types payloads and metadata per kind") {
    val m = Multimodal.mediaTable(spark, sf)
    val kinds = m.toDF().select("meta.kind").distinct()
      .collect().map(_.getString(0)).toSet
    assert(kinds == Set("image", "audio", "video"))
    assert(m.toDF().schema("payload").dataType.typeName == "binary")
  }

  test("feature extraction is deterministic with fixed dim and checksum") {
    val f1 = Multimodal.featureFrame(spark, sf)
    assert(f1.filter(size(col("embedding")) =!= Multimodal.StubCodec.FeatureDim)
      .count() == 0)
    val a = f1.orderBy("media_id").select("checksum").limit(5)
      .collect().map(_.getString(0))
    val b = Multimodal.featureFrame(spark, sf).orderBy("media_id")
      .select("checksum").limit(5).collect().map(_.getString(0))
    assert(a.sameElements(b))
    assert(a.forall(_.length == 64)) // sha-256 hex
  }

  test("frame sampling yields fixed-size windows at the given stride") {
    val frames = Multimodal.sampleFrames(Multimodal.mediaTable(spark, sf),
      frameSize = 32, stride = 64)
    val bad = frames.filter(r => r.frame.length != 32).count()
    assert(bad == 0 && frames.count() > 0)
  }

  test("real PNG payloads decode to pixel features through the Spark pipeline") {
    import spark.implicits._
    // 8x8 PNG with a distinct solid color per quadrant:
    // TL red, TR green, BL blue, BR white
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) {
      val c = (y >= 4, x >= 4) match {
        case (false, false) => 0xff0000
        case (false, true) => 0x00ff00
        case (true, false) => 0x0000ff
        case (true, true) => 0xffffff
      }
      img.setRGB(x, y, c)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val png = bos.toByteArray

    val media = Seq(
      Multimodal.MediaRow(1L, Multimodal.MediaMeta("image", 8, 8, 0), png),
      // image-kind bytes that are NOT an image fall back to the stub
      Multimodal.MediaRow(2L, Multimodal.MediaMeta("image", 0, 0, 0),
        "not a png".getBytes("UTF-8")),
      // image bytes under audio kind are not PCM audio → stub fallback
      Multimodal.MediaRow(3L, Multimodal.MediaMeta("audio", 0, 0, 16000), png)
    ).toDS()
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f.features).toMap

    val real = feats(1L)
    // quadrant layout: [meanR, meanG, meanB, meanLuma] x [TL, TR, BL, BR]
    assert(real(0) > 0.99f && real(1) < 0.01f && real(2) < 0.01f) // TL pure red
    assert(real(4) < 0.01f && real(5) > 0.99f && real(6) < 0.01f) // TR pure green
    assert(real(8) < 0.01f && real(9) < 0.01f && real(10) > 0.99f) // BL pure blue
    assert(real(12) > 0.99f && real(13) > 0.99f && real(14) > 0.99f) // BR white
    assert(math.abs(real(15) - 1.0f) < 0.01f) // white luma = 1
    assert(math.abs(real(3) - 0.299f) < 0.01f) // red luma = 0.299

    assert(feats(2L).sameElements(
      Multimodal.StubCodec.decodeFeatures("not a png".getBytes("UTF-8"))))
    assert(feats(3L).sameElements(Multimodal.StubCodec.decodeFeatures(png)))
  }

  test("real WAV payloads decode to RMS/ZCR features through the Spark pipeline") {
    import spark.implicits._
    // 0.1 s of a 440 Hz sine at 8 kHz, 16-bit mono PCM, amplitude 0.5
    val rate = 8000f; val n = 800; val amp = 0.5
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val v = (amp * math.sin(2 * math.Pi * 440 * i / rate) * 32767).toInt
      pcm(2 * i) = (v & 0xff).toByte; pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray

    val media = Seq(
      Multimodal.MediaRow(1L, Multimodal.MediaMeta("audio", 0, 0, 8000), wav),
      // non-audio bytes under audio kind fall back to the stub
      Multimodal.MediaRow(2L, Multimodal.MediaMeta("audio", 0, 0, 8000),
        "not a wav".getBytes("UTF-8"))).toDS()
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f.features).toMap

    val real = feats(1L)
    // sine RMS = amp/sqrt(2) ≈ 0.354 in every octant; ZCR = 2f/rate = 0.11
    (0 until 8).foreach { s =>
      assert(math.abs(real(s) - 0.354f) < 0.02f, s"rms octant $s: ${real(s)}")
      assert(math.abs(real(8 + s) - 0.11f) < 0.02f, s"zcr octant $s: ${real(8 + s)}")
    }
    assert(feats(2L).sameElements(
      Multimodal.StubCodec.decodeFeatures("not a wav".getBytes("UTF-8"))))
  }

  test("MJPEG video payloads decode per-frame through the Spark pipeline") {
    import spark.implicits._
    // three solid-color JPEG frames (red, green, blue) concatenated —
    // the MJPEG shape; JPEG is lossy so colors are asserted loosely
    def solidJpeg(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", bos))
      bos.toByteArray
    }
    val (r, g, b) = (solidJpeg(0xff0000), solidJpeg(0x00ff00), solidJpeg(0x0000ff))
    val mjpeg = r ++ g ++ b

    // frame delimiting finds exactly the three encoded frames
    val frames = Multimodal.MjpegCodec.frames(mjpeg)
    assert(frames.length == 3)
    assert(frames(0).sameElements(r) && frames(1).sameElements(g) &&
      frames(2).sameElements(b))

    val f0 = Multimodal.ImageIoCodec.decode(frames.head)
    assert(f0.nonEmpty, "a delimited frame must decode as an image")

    val media = Seq(
      Multimodal.MediaRow(1L, Multimodal.MediaMeta("video", 8, 8, 0), mjpeg),
      // a true-container stand-in (no JPEG markers)
      Multimodal.MediaRow(2L, Multimodal.MediaMeta("video", 0, 0, 0),
        "mp4 container bytes".getBytes("UTF-8"))).toDS()

    // clip features = mean over frames: each channel mean ≈ 1/3 (one pure
    // frame each), with luma tracking the rec601 weights
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f.features).toMap
    val clip = feats(1L)
    (0 until 4).foreach { q =>
      assert(math.abs(clip(q * 4) - 1f / 3) < 0.05f, s"quadrant $q R: ${clip(q * 4)}")
      assert(math.abs(clip(q * 4 + 1) - 1f / 3) < 0.05f, s"quadrant $q G")
      assert(math.abs(clip(q * 4 + 2) - 1f / 3) < 0.05f, s"quadrant $q B")
    }
    // container-like bytes fall back to the stub, not a crash or zeros
    assert(feats(2L).sameElements(Multimodal.StubCodec.decodeFeatures(
      "mp4 container bytes".getBytes("UTF-8"))))
  }

  test("MJPEG frames with EXIF-embedded thumbnails delimit correctly") {
    // real camera MJPEG frames carry APP1/EXIF segments whose payload is a
    // COMPLETE embedded JPEG (the thumbnail) with its own SOI/EOI — a naive
    // SOI/EOI byte scan splits the outer frame at the thumbnail's EOI; the
    // marker walk must skip the APP1 segment wholesale
    def solidJpeg(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", bos))
      bos.toByteArray
    }
    def withExifThumb(frame: Array[Byte], thumb: Array[Byte]): Array[Byte] = {
      // insert APP1 right after SOI: FFE1 <len> "Exif\0\0" <thumb bytes>
      val exifHeader = "Exif\u0000\u0000".getBytes("ISO-8859-1")
      val len = 2 + exifHeader.length + thumb.length // len includes itself
      assert(len <= 0xffff)
      val app1 = Array[Byte](0xff.toByte, 0xe1.toByte,
        ((len >> 8) & 0xff).toByte, (len & 0xff).toByte) ++ exifHeader ++ thumb
      frame.take(2) ++ app1 ++ frame.drop(2)
    }
    val thumb = solidJpeg(0xffffff)
    val (r, g) = (solidJpeg(0xff0000), solidJpeg(0x00ff00))
    val rExif = withExifThumb(r, thumb)
    val stream = rExif ++ g

    val frames = Multimodal.MjpegCodec.frames(stream)
    assert(frames.length == 2,
      s"expected 2 frames, got ${frames.length} — thumbnail EOI split the outer frame")
    assert(frames(0).sameElements(rExif) && frames(1).sameElements(g))

    // both frames decode, and the EXIF-bearing frame's pixels are
    // unaffected by the inserted segment (features match the plain frame)
    val plain = Multimodal.ImageIoCodec.decode(r).map(Multimodal.ImageIoCodec.features)
    val exif = Multimodal.ImageIoCodec.decode(frames(0)).map(Multimodal.ImageIoCodec.features)
    assert(plain.nonEmpty && exif.nonEmpty)
    assert(plain.get.sameElements(exif.get))

    // truncated trailing frame: complete frames still come back
    val truncated = rExif ++ g.take(g.length / 2)
    val partial = Multimodal.MjpegCodec.frames(truncated)
    assert(partial.length == 1 && partial(0).sameElements(rExif))
  }

  test("features feed VectorOps-compatible embedding column") {
    val f = Multimodal.featureFrame(spark, sf).limit(10)
      .select(col("media_id"), col("embedding"))
    val self = f.select(graft.functions.CosineSimilarity.of(col("embedding"),
        col("embedding")).as("s"))
      .agg(min("s")).collect()(0).getDouble(0)
    assert(self > 1.0 - 1e-6)
  }

  test("container sniff: ftyp and EBML magic accepted, everything else not") {
    import Multimodal.FfmpegCodec.looksLikeContainer
    val mp4 = Array[Byte](0, 0, 0, 0x20, 'f', 't', 'y', 'p',
      'i', 's', 'o', 'm')
    val ebml = Array(0x1a, 0x45, 0xdf, 0xa3).map(_.toByte) ++
      Array.fill[Byte](8)(0)
    assert(looksLikeContainer(mp4) && looksLikeContainer(ebml))
    assert(!looksLikeContainer("plain text payload".getBytes("UTF-8")))
    assert(!looksLikeContainer(Array[Byte](0xff.toByte, 0xd8.toByte))) // JPEG
    assert(!looksLikeContainer(Array.empty[Byte]))
  }

  test("true container decodes via the ffmpeg seam when ffmpeg is present") {
    // capability-gated: runs only where ffmpeg exists (CI containers
    // without it skip — the seam's None path is covered either way below)
    assume(Multimodal.FfmpegCodec.available, "ffmpeg not on PATH")
    val dir = java.nio.file.Files.createTempDirectory("graft-mp4-fixture")
    val mp4 = dir.resolve("clip.mp4")
    // tiny synthetic clip, generated at test time (no binary checked in)
    val gen = new ProcessBuilder("ffmpeg", "-v", "error",
      "-f", "lavfi", "-i", "testsrc=duration=2:size=64x64:rate=4",
      "-pix_fmt", "yuv420p", mp4.toString).redirectErrorStream(true).start()
    gen.getInputStream.readAllBytes()
    assert(gen.waitFor() == 0, "fixture generation failed")
    val payload = java.nio.file.Files.readAllBytes(mp4)
    assert(Multimodal.FfmpegCodec.looksLikeContainer(payload))
    val feats = Multimodal.FfmpegCodec.decodeFeatures(payload)
    assert(feats.isDefined, "container did not decode")
    assert(feats.get.length == Multimodal.ImageIoCodec.FeatureDim)
    // deterministic: same payload, same features
    assert(feats.get.sameElements(
      Multimodal.FfmpegCodec.decodeFeatures(payload).get))
    java.nio.file.Files.deleteIfExists(mp4)
    java.nio.file.Files.deleteIfExists(dir)
  }

  test("non-container payloads never reach a subprocess: seam returns None") {
    // sniff rejects, so this is None regardless of ffmpeg's presence —
    // mm1/mm2's text payloads keep flowing MJPEG-walk → stub unchanged
    val textPayload = "not a container".getBytes("UTF-8")
    assert(Multimodal.FfmpegCodec.decodeFeatures(textPayload).isEmpty)
  }
}
