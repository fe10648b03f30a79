package graft.multimodal

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque binary columns
  * with typed metadata, plus decode / feature-extract / frame-sample stages.
  *
  * The Spark-side shape is real and tested: schema (binary payload + struct
  * metadata), partition-friendly batch iteration via mapPartitions over a
  * typed Dataset, and outputs that feed straight into VectorOps (embedding
  * arrays) — this is the 100 TB layout where payloads live in parquet binary
  * columns co-partitioned with their metadata.
  *
  * Image decoding is REAL: [[ImageIoCodec]] decodes PNG/JPEG payloads with
  * the JDK's javax.imageio and derives pixel features (per-quadrant RGB +
  * luma means). Audio decoding is REAL for 16-bit PCM WAV/AIFF/AU:
  * [[WavCodec]] decodes via javax.sound.sampled and derives per-octant
  * RMS + zero-crossing features. Video decoding is REAL for MJPEG-style
  * payloads (concatenated JPEG frames): [[MjpegCodec]] delimits frames by
  * SOI/EOI markers, decodes each through ImageIO, and averages the frame
  * features. True video CONTAINERS (MP4/MKV) still fall to [[StubCodec]]'s
  * deterministic fake — the JDK ships no inter-frame codec; swap in an
  * FFmpeg/JNI-backed codec behind the same seam in production.
  * [[DefaultCodec]] routes by kind and falls back to the stub when bytes
  * don't decode, so non-media fixtures flow through unchanged.
  */
object Multimodal {

  final case class MediaMeta(kind: String, width: Int, height: Int,
      sampleRate: Int)
  final case class MediaRow(media_id: Long, meta: MediaMeta,
      payload: Array[Byte])
  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
      checksum: String, features: Array[Float])
  final case class Frame(media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** The per-kind decode seam executors run inside mapPartitions. */
  trait Codec extends Serializable {
    def decodeFeatures(kind: String, payload: Array[Byte]): Array[Float]
  }

  /** ??? in spirit for audio/video: a clearly-marked deterministic fake
    * decoder. A real implementation decodes samples/frames; this hashes byte
    * windows so the pipeline (schema, partitioning, batch shape) is
    * exercised end-to-end. */
  object StubCodec {
    val FeatureDim = 16
    def decodeFeatures(payload: Array[Byte]): Array[Float] = {
      val out = new Array[Float](FeatureDim)
      var i = 0
      while (i < payload.length) {
        out(i % FeatureDim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      out
    }
    def sha256(payload: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(payload).map("%02x".format(_)).mkString
  }

  /** Real image decode on the JDK's built-in codecs (PNG/JPEG/GIF/BMP):
    * 16 features = mean R, G, B, luma over each 2×2 spatial quadrant,
    * normalized to [0,1]. Deterministic, no external libraries, and cheap
    * enough to run inline in the partition iterator. */
  object ImageIoCodec {
    val FeatureDim = 16

    /** None when the bytes are not a decodable image — the router falls
      * back to the stub, so text-standing-in-for-media fixtures keep their
      * historical features. NonFatal, not just IOException: the JDK
      * readers throw RuntimeExceptions (CMMException, AIOOBE, IAE) on
      * corrupt-but-recognized images, and a single bad payload must not
      * fail the whole mapPartitions task. */
    def decode(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload)))
      catch { case scala.util.control.NonFatal(_) => None }

    def features(img: java.awt.image.BufferedImage): Array[Float] = {
      val (w, h) = (img.getWidth, img.getHeight)
      val sums = new Array[Double](FeatureDim)
      val counts = new Array[Long](4)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff
          val b = rgb & 0xff
          val q = (if (y * 2 >= h) 2 else 0) + (if (x * 2 >= w) 1 else 0)
          sums(q * 4) += r; sums(q * 4 + 1) += g; sums(q * 4 + 2) += b
          sums(q * 4 + 3) += 0.299 * r + 0.587 * g + 0.114 * b
          counts(q) += 1
          x += 1
        }
        y += 1
      }
      Array.tabulate(FeatureDim) { i =>
        val n = counts(i / 4)
        if (n == 0) 0f else (sums(i) / (n * 255.0)).toFloat
      }
    }
  }

  /** Real audio decode on the JDK's javax.sound.sampled (WAV/AIFF/AU,
    * 16-bit signed PCM): 16 features = per-octant RMS (8) + per-octant
    * zero-crossing rate (8) over the mono-mixed sample stream — the
    * energy/frequency profile a real audio featurizer starts from.
    * Deterministic, no external libraries. */
  object WavCodec {
    val FeatureDim = 16

    /** Mono samples in [-1,1]; None when the bytes are not 16-bit PCM
      * audio — the router falls back to the stub. */
    def decode(payload: Array[Byte]): Option[Array[Float]] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val fmt = in.getFormat
          if (fmt.getEncoding !=
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
              fmt.getSampleSizeInBits != 16) None
          else {
            val bytes = in.readAllBytes()
            val ch = fmt.getChannels
            val big = fmt.isBigEndian
            val n = bytes.length / 2 / ch
            val out = new Array[Float](n)
            var i = 0
            while (i < n) {
              var acc = 0.0f
              var c = 0
              while (c < ch) {
                val off = (i * ch + c) * 2
                val lo = bytes(off + (if (big) 1 else 0)) & 0xff
                val hi = bytes(off + (if (big) 0 else 1)).toInt
                acc += ((hi << 8) | lo).toShort / 32768.0f
                c += 1
              }
              out(i) = acc / ch
              i += 1
            }
            Some(out)
          }
        } finally in.close()
      } catch {
        // NonFatal (not just the declared UnsupportedAudioFile/IO pair):
        // corrupt-but-recognized containers can throw RuntimeExceptions
        // from the JDK parsers, and one bad payload must not fail the task
        case scala.util.control.NonFatal(_) => None
      }

    def features(samples: Array[Float]): Array[Float] = {
      val out = new Array[Float](FeatureDim)
      if (samples.isEmpty) return out
      val seg = math.max(1, samples.length / 8)
      var s = 0
      while (s < 8) {
        val from = s * seg
        val to = if (s == 7) samples.length else math.min(samples.length, from + seg)
        if (from < to) {
          var sq = 0.0; var zc = 0; var i = from
          while (i < to) {
            sq += samples(i).toDouble * samples(i)
            if (i > from && (samples(i) >= 0) != (samples(i - 1) >= 0)) zc += 1
            i += 1
          }
          out(s) = math.sqrt(sq / (to - from)).toFloat
          out(8 + s) = zc.toFloat / (to - from)
        }
        s += 1
      }
      out
    }
  }

  /** Real video decode for MJPEG-style payloads (concatenated JPEG
    * frames — the shape surveillance cams, many capture SDKs, and
    * frame-dumped fixtures produce): frames are delimited by WALKING the
    * JPEG marker structure, not by scanning raw bytes for SOI/EOI pairs.
    * The naive scan is wrong on real camera output: APPn segments carry
    * complete embedded JPEGs (EXIF thumbnails) whose own FFD8/FFD9 would
    * split the outer frame mid-segment. Walking marker-by-marker skips
    * length-prefixed segments (APPn/DQT/DHT/SOF…) wholesale, then inside
    * entropy-coded scan data honors the coding contract — 0xFF is stuffed
    * as FF00 and only restart markers FFD0-D7 may appear — so the first
    * real EOI found is the frame boundary. Each frame decodes through
    * [[ImageIoCodec]], and the clip feature is the per-dimension MEAN over
    * frames (deterministic, order-free). True containers (MP4/MKV/WebM)
    * still fall to the stub — the JDK ships no inter-frame codec; swap in
    * an FFmpeg/JNI codec behind the same [[Codec]] seam for those. */
  object MjpegCodec {
    /** Byte ranges of complete SOI…EOI frames, in stream order. A frame
      * whose marker structure is malformed or truncated ENDS delimiting
      * (complete frames so far are returned): rescanning past a bad SOI
      * could land on an EXIF thumbnail's embedded SOI inside the broken
      * frame's APP1 payload and emit the thumbnail as a top-level frame —
      * the exact corruption the marker walk exists to prevent. The common
      * malformed case is a recording cut mid-frame, where stopping is
      * also the correct answer. */
    def frames(payload: Array[Byte]): Seq[Array[Byte]] = {
      val out = Seq.newBuilder[Array[Byte]]
      val n = payload.length
      def u8(k: Int) = payload(k) & 0xff
      var i = 0
      var halted = false
      while (!halted && i + 1 < n) {
        if (u8(i) == 0xff && u8(i + 1) == 0xd8) {
          val end = frameEnd(payload, i)
          if (end > 0) {
            out += java.util.Arrays.copyOfRange(payload, i, end)
            i = end
          } else halted = true
        } else i += 1
      }
      out.result()
    }

    /** End offset (exclusive) of the frame whose SOI sits at `start`, or
      * -1 when the structure is malformed/truncated before EOI. */
    private def frameEnd(payload: Array[Byte], start: Int): Int = {
      val n = payload.length
      def u8(k: Int) = payload(k) & 0xff
      var j = start + 2
      var inScan = false
      while (j + 1 < n) {
        if (!inScan) {
          if (u8(j) != 0xff) return -1 // expected a marker
          else u8(j + 1) match {
            case 0xd9 => return j + 2 // EOI
            case 0xff => j += 1 // fill byte before a marker
            case 0x01 => j += 2 // TEM, standalone
            case m if m >= 0xd0 && m <= 0xd7 => j += 2 // RSTn, standalone
            case m =>
              if (j + 3 >= n) return -1
              val len = (u8(j + 2) << 8) | u8(j + 3) // includes len bytes
              if (len < 2) return -1
              j += 2 + len // skips APPn payloads incl. EXIF thumbnails
              if (m == 0xda) inScan = true // SOS: entropy data follows
          }
        } else {
          if (u8(j) != 0xff) j += 1
          else u8(j + 1) match {
            case 0xd9 => return j + 2 // EOI inside/after scan data
            case 0x00 => j += 2 // stuffed FF in entropy data
            case m if m >= 0xd0 && m <= 0xd7 => j += 2 // restart marker
            case _ => inScan = false // next segment header (progressive)
          }
        }
      }
      -1
    }

    /** None when no frame both delimits AND decodes — the router then
      * falls back to the stub (true-container payloads land here). */
    def decodeFeatures(payload: Array[Byte]): Option[Array[Float]] = {
      val decoded = frames(payload).flatMap(f =>
        ImageIoCodec.decode(f).map(ImageIoCodec.features))
      if (decoded.isEmpty) None
      else Some(Array.tabulate(ImageIoCodec.FeatureDim) { d =>
        decoded.map(_(d)).sum / decoded.length
      })
    }
  }

  /** True-container video decode (MP4/MKV/WebM) by shelling to `ffmpeg`
    * WHEN PRESENT — the JDK ships no inter-frame codec, and a JNI binding
    * would be a dependency this build can't take, so the capability is
    * probed once per JVM and the codec degrades to None (→ MJPEG walk →
    * stub) everywhere ffmpeg is absent. Fully deterministic when it does
    * run: fixed 1 fps sampling, fixed frame cap, mean-pooled
    * [[ImageIoCodec]] features — the same clip-feature contract as
    * [[MjpegCodec]].
    *
    * Scale shape: one bounded subprocess per payload INSIDE a
    * mapPartitions batch (the payload is already executor-local bytes; no
    * driver involvement), frame cap [[MaxFrames]] bounds the per-payload
    * work, and a wall-clock kill bounds a wedged decode — one corrupt
    * container must cost seconds, not a hung task. Payloads are sniffed
    * ([[looksLikeContainer]]) before any process spawn so the common
    * non-container case never forks. */
  object FfmpegCodec {
    /** Per-JVM capability probe — executors probe independently, so a
      * heterogeneous cluster degrades per-machine, never fails. */
    lazy val available: Boolean =
      try {
        val p = new ProcessBuilder("ffmpeg", "-version")
          .redirectErrorStream(true).start()
        p.getInputStream.readAllBytes()
        p.waitFor() == 0
      } catch { case _: java.io.IOException => false }

    /** Frames sampled per clip: enough for a stable mean, bounded work. */
    val MaxFrames = 8

    private val KillAfterSec = 30L

    /** MP4-family (`ftyp` box at offset 4) or EBML magic (MKV/WebM). */
    def looksLikeContainer(payload: Array[Byte]): Boolean = {
      def u8(k: Int) = payload(k) & 0xff
      payload.length >= 12 &&
        ((payload(4) == 'f' && payload(5) == 't' &&
          payload(6) == 'y' && payload(7) == 'p') ||
         (u8(0) == 0x1a && u8(1) == 0x45 && u8(2) == 0xdf && u8(3) == 0xa3))
    }

    /** None when ffmpeg is absent, the payload doesn't sniff as a
      * container, or no sampled frame decodes — the router then falls
      * through to the MJPEG walk and the stub. */
    def decodeFeatures(payload: Array[Byte]): Option[Array[Float]] = {
      if (!available || !looksLikeContainer(payload)) return None
      val dir = java.nio.file.Files.createTempDirectory("graft-ffmpeg")
      try {
        val in = dir.resolve("in.bin")
        java.nio.file.Files.write(in, payload)
        val p = new ProcessBuilder("ffmpeg", "-v", "error",
          "-i", in.toString, "-vf", "fps=1", "-frames:v", MaxFrames.toString,
          "-f", "image2", dir.resolve("frame%03d.jpg").toString)
          .redirectErrorStream(true).start()
        // drain on a daemon thread: a blocking readAllBytes here would run
        // BEFORE the timed waitFor, so an ffmpeg that stalls without
        // closing stdout would hang the task and the kill could never fire
        val drain = new Thread(() =>
          try p.getInputStream.readAllBytes()
          catch { case _: java.io.IOException => () })
        drain.setDaemon(true)
        drain.start()
        if (!p.waitFor(KillAfterSec, java.util.concurrent.TimeUnit.SECONDS)) {
          p.destroyForcibly(); return None
        }
        drain.join(1000)
        val frames = java.nio.file.Files.list(dir).iterator().asScala
          .filter(_.getFileName.toString.startsWith("frame"))
          .toSeq.sortBy(_.getFileName.toString)
          .flatMap(f => ImageIoCodec.decode(java.nio.file.Files.readAllBytes(f))
            .map(ImageIoCodec.features))
        if (frames.isEmpty) None
        else Some(Array.tabulate(ImageIoCodec.FeatureDim) { d =>
          frames.map(_(d)).sum / frames.length
        })
      } catch { case _: java.io.IOException => None }
      finally {
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }
  }

  /** Kind-routing codec: images decode for real via ImageIO, audio via
    * javax.sound.sampled, video via ffmpeg when present (true containers)
    * or per-frame ImageIO (MJPEG streams); stub fallback for undecodable
    * bytes in all three — one corrupt payload must not fail the task. */
  object DefaultCodec extends Codec {
    def decodeFeatures(kind: String, payload: Array[Byte]): Array[Float] =
      kind match {
        case "image" => ImageIoCodec.decode(payload)
          .map(ImageIoCodec.features)
          .getOrElse(StubCodec.decodeFeatures(payload))
        case "audio" => WavCodec.decode(payload)
          .map(WavCodec.features)
          .getOrElse(StubCodec.decodeFeatures(payload))
        case "video" => FfmpegCodec.decodeFeatures(payload)
          .orElse(MjpegCodec.decodeFeatures(payload))
          .getOrElse(StubCodec.decodeFeatures(payload))
        case _ => StubCodec.decodeFeatures(payload)
      }
  }

  /** Build a media table from the documents fixture: payload = UTF-8 bytes
    * standing in for encoded media; metadata typed per kind. */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .map { case (id, text, n) =>
        val kind = if (id % 3 == 0) "image" else if (id % 3 == 1) "audio" else "video"
        MediaRow(id, MediaMeta(kind, (n % 640).toInt, (n % 480).toInt,
          if (kind == "audio") 16000 else 0), text.getBytes("UTF-8"))
      }
  }

  /** Decode + feature-extract, batched per partition (the mapInPandas batch
    * shape: one iterator pass per partition, no per-row task overhead). */
  def extractFeatures(media: Dataset[MediaRow],
      codec: Codec = DefaultCodec): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition setup (a heavier codec would initialize once here)
      it.map { m =>
        MediaFeatures(m.media_id, m.meta.kind, m.payload.length,
          StubCodec.sha256(m.payload),
          codec.decodeFeatures(m.meta.kind, m.payload))
      }
    }
  }

  /** Frame sampling: every `stride` bytes yields a fixed-size window —
    * the video keyframe-sampling shape (real slicing, stubbed decode). */
  def sampleFrames(media: Dataset[MediaRow], frameSize: Int = 32,
      stride: Int = 64): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      m.payload.grouped(stride).zipWithIndex.collect {
        case (w, idx) if w.length >= frameSize =>
          Frame(m.media_id, idx, w.take(frameSize))
      }
    }
  }

  /** The features as a DataFrame with an embedding column compatible with
    * VectorOps (array<float>), demonstrating the media → embedding → ANN
    * hand-off. */
  def featureFrame(spark: SparkSession, sfDir: String): DataFrame =
    extractFeatures(mediaTable(spark, sfDir)).toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"), col("checksum"),
        col("features").as("embedding"))
}
