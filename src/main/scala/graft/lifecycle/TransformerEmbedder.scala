package graft.lifecycle

import java.nio.{ByteBuffer, ByteOrder}

import scala.jdk.CollectionConverters._

/** Transformer sentence encoder — the reference's embedder CLASS
  * (qa_retrieval.py:14-35 loads sentence-transformers
  * `all-MiniLM-L6-v2`), executed in pure Scala from the model's
  * published artifacts in one directory:
  *
  *  - `model.safetensors` — HuggingFace safetensors (8-byte LE header
  *    length, JSON tensor table, raw F32 data) with the standard BERT
  *    tensor names (`embeddings.word_embeddings.weight`,
  *    `encoder.layer.N.attention.self.query.weight`, ...);
  *  - `vocab.txt` — WordPiece vocabulary, one token per line;
  *  - `config.json` — for `num_attention_heads`.
  *
  * The forward pass is the BERT post-LN encoder exactly as the
  * architecture is published: token + position + type embeddings →
  * LayerNorm → N × (multi-head self-attention → add&LN → GELU FFN →
  * add&LN) → attention-mask mean-pooling → L2 normalization (the
  * sentence-transformers pooling head). A real `all-MiniLM-L6-v2`
  * checkout drops in unmodified.
  *
  * Why no ONNX/torch runtime: none is on the classpath and no
  * dependency may be added; a 6-layer 384-wide encoder over a short
  * text is ~10 MFLOP of dense matmul — plain executor-CPU work. The
  * instance ships only the PATH; weights parse once per JVM
  * ([[TransformerEmbedder.load]]) exactly like
  * [[EpisodicMemory.WordVecEmbedder]], so
  * [[graft.operators.EmbedOps.embedColumn]]'s per-partition factory
  * costs one map lookup after an executor's first partition. Texts are
  * encoded one at a time with their exact lengths (no padding), so
  * there is no mask bookkeeping to get wrong; `embedBatch` loops.
  *
  * Scope: F32 tensors (what MiniLM ships); uncased basic tokenization
  * (NFD accent strip + lowercase + punctuation split + the published
  * BERT CJK space-padding — each CJK ideograph becomes its own basic
  * token before WordPiece, so Chinese/Japanese text tokenizes exactly
  * as the reference tokenizer does) + greedy WordPiece.
  */
final class TransformerEmbedder(val modelDir: String)
    extends EpisodicMemory.Embedder {
  @transient private lazy val model = TransformerEmbedder.load(modelDir)
  def dim: Int = model.hidden
  def embed(text: String): Seq[Double] = model.encode(text)
}

object TransformerEmbedder {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Loaded]()

  /** Parse-once-per-JVM weight load; fails loudly on a malformed or
    * incomplete model directory. */
  def load(dir: String): Loaded =
    cache.computeIfAbsent(dir, d => Loaded.fromDir(d))

  // ---- safetensors ------------------------------------------------------

  final case class TensorMeta(dtype: String, shape: Seq[Int],
      begin: Long, end: Long)

  /** The safetensors container: name → F32 array. Header is an 8-byte
    * little-endian length followed by that many bytes of JSON. */
  final class SafeTensors(bytes: Array[Byte]) {
    private val headerLen =
      ByteBuffer.wrap(bytes, 0, 8).order(ByteOrder.LITTLE_ENDIAN).getLong
    require(headerLen > 0 && headerLen < bytes.length,
      s"safetensors header length $headerLen out of bounds")
    private val header = new String(bytes, 8, headerLen.toInt, "UTF-8")
    private val dataAt = 8 + headerLen.toInt
    val tensors: Map[String, TensorMeta] = {
      val root = Json.parse(header)
      require(root.isObject, s"safetensors header is not an object: $root")
      root.properties.asScala.collect {
        case e if e.getKey != "__metadata__" && e.getValue.isObject =>
          val m = e.getValue
          def longs(k: String) = Json.elements(m.path(k)).map { n =>
            require(n.isIntegralNumber, s"tensor ${e.getKey}: $k holds $n")
            n.longValue
          }
          val off = longs("data_offsets")
          require(m.path("dtype").isTextual && m.path("shape").isArray &&
            off.length == 2, s"tensor ${e.getKey}: malformed entry $m")
          e.getKey -> TensorMeta(m.path("dtype").textValue,
            longs("shape").map(_.toInt), off(0), off(1))
      }.toMap
    }

    def apply(name: String): Array[Float] = {
      val m = tensors.getOrElse(name, throw new IllegalArgumentException(
        s"model tensor missing: $name (have ${tensors.keys.toSeq.sorted.take(8).mkString(", ")}…)"))
      require(m.dtype == "F32",
        s"tensor $name dtype ${m.dtype}: only F32 safetensors supported")
      val n = ((m.end - m.begin) / 4).toInt
      require(n == m.shape.product,
        s"tensor $name size $n != shape ${m.shape.mkString("x")}")
      val buf = ByteBuffer.wrap(bytes, dataAt + m.begin.toInt, n * 4)
        .order(ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Float](n)
      buf.asFloatBuffer().get(out)
      out
    }

    def has(name: String): Boolean = tensors.contains(name)
  }

  // ---- model ------------------------------------------------------------

  final case class Layer(
      wq: Array[Float], bq: Array[Float],
      wk: Array[Float], bk: Array[Float],
      wv: Array[Float], bv: Array[Float],
      wo: Array[Float], bo: Array[Float],
      ln1g: Array[Float], ln1b: Array[Float],
      wi: Array[Float], bi: Array[Float],
      wo2: Array[Float], bo2: Array[Float],
      ln2g: Array[Float], ln2b: Array[Float])

  final case class Loaded(hidden: Int, heads: Int, inter: Int, maxPos: Int,
      vocab: Map[String, Int], unkId: Int, clsId: Int, sepId: Int,
      wordEmb: Array[Float], posEmb: Array[Float], typeEmb: Array[Float],
      lnEg: Array[Float], lnEb: Array[Float], layers: Array[Layer]) {

    // -- tokenizer: BERT uncased basic + greedy WordPiece --

    /** The published BERT `_tokenize_chinese_chars` ranges: CJK Unified
      * Ideographs + extensions A–F and the compatibility blocks. Each
      * such code point is space-padded into its OWN basic token — CJK
      * text has no word delimiters, so per-character tokens are how BERT
      * makes WordPiece language-agnostic (kana/hangul are NOT in the
      * published ranges and flow through the letter path unchanged,
      * exactly as in the reference implementation). */
    private def isCjk(cp: Int): Boolean =
      (cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0x3400 && cp <= 0x4DBF) ||
        (cp >= 0x20000 && cp <= 0x2A6DF) || (cp >= 0x2A700 && cp <= 0x2B73F) ||
        (cp >= 0x2B740 && cp <= 0x2B81F) || (cp >= 0x2B820 && cp <= 0x2CEAF) ||
        (cp >= 0xF900 && cp <= 0xFAFF) || (cp >= 0x2F800 && cp <= 0x2FA1F)

    private def basicTokens(text: String): Seq[String] = {
      val norm = java.text.Normalizer
        .normalize(text, java.text.Normalizer.Form.NFD)
        .filterNot(c => Character.getType(c) == Character.NON_SPACING_MARK)
        .toLowerCase(java.util.Locale.ROOT)
      val out = Seq.newBuilder[String]
      val cur = new StringBuilder
      def flush(): Unit = if (cur.nonEmpty) { out += cur.toString; cur.clear() }
      // iterate CODE POINTS: supplementary-plane ideographs (extension B+)
      // arrive as surrogate pairs that per-char iteration would split
      var i = 0
      while (i < norm.length) {
        val cp = norm.codePointAt(i)
        if (Character.isWhitespace(cp)) flush()
        else if (isCjk(cp) || !Character.isLetterOrDigit(cp)) {
          flush(); out += new String(Character.toChars(cp))
        }
        else cur.appendAll(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      flush()
      out.result()
    }

    private def wordPiece(word: String): Seq[Int] = {
      if (word.length > 100) return Seq(unkId)
      val pieces = Seq.newBuilder[Int]
      var start = 0
      while (start < word.length) {
        var end = word.length
        var found = -1
        while (end > start && found < 0) {
          val cand = (if (start > 0) "##" else "") + word.substring(start, end)
          vocab.get(cand) match {
            case Some(id) => found = id
            case None => end -= 1
          }
        }
        if (found < 0) return Seq(unkId) // any unmatchable span → whole word UNK
        pieces += found
        start = end
      }
      pieces.result()
    }

    def tokenize(text: String): Seq[Int] = {
      val body = basicTokens(text).flatMap(wordPiece)
      // truncate to the model's published position budget, CLS/SEP kept
      (clsId +: body.take(maxPos - 2)) :+ sepId
    }

    // -- forward pass --

    private def layerNorm(x: Array[Float], g: Array[Float],
        b: Array[Float]): Unit = {
      val h = hidden
      var p = 0
      while (p < x.length) {
        var m = 0.0; var i = 0
        while (i < h) { m += x(p + i); i += 1 }
        m /= h
        var v = 0.0; i = 0
        while (i < h) { val d = x(p + i) - m; v += d * d; i += 1 }
        v /= h
        val inv = 1.0 / math.sqrt(v + 1e-12)
        i = 0
        while (i < h) {
          x(p + i) = ((x(p + i) - m) * inv * g(i) + b(i)).toFloat
          i += 1
        }
        p += h
      }
    }

    /** y[rows×out] = x[rows×in] · W^T + b, W stored [out×in] row-major
      * (the HF linear layout). */
    private def linear(x: Array[Float], rows: Int, in: Int, out: Int,
        w: Array[Float], b: Array[Float]): Array[Float] = {
      val y = new Array[Float](rows * out)
      var r = 0
      while (r < rows) {
        var o = 0
        while (o < out) {
          var acc = b(o).toDouble
          var i = 0
          val wo = o * in
          val xr = r * in
          while (i < in) { acc += w(wo + i) * x(xr + i); i += 1 }
          y(r * out + o) = acc.toFloat
          o += 1
        }
        r += 1
      }
      y
    }

    /** Abramowitz & Stegun 7.1.26 (|err| < 1.5e-7) — exact-GELU needs
      * erf and the JDK has none. */
    private def erf(x: Double): Double = {
      val s = math.signum(x); val a = math.abs(x)
      val t = 1.0 / (1.0 + 0.3275911 * a)
      val y = 1.0 - (((((1.061405429 * t - 1.453152027) * t) + 1.421413741)
        * t - 0.284496736) * t + 0.254829592) * t * math.exp(-a * a)
      s * y
    }

    private def gelu(x: Double): Double = 0.5 * x * (1.0 + erf(x / math.sqrt(2.0)))

    def encode(text: String): Seq[Double] = {
      val ids = tokenize(text)
      val n = ids.length
      val h = hidden
      // embeddings: word + position + type(0), then LN
      val x = new Array[Float](n * h)
      var p = 0
      while (p < n) {
        val w = ids(p) * h; val ps = p * h
        var i = 0
        while (i < h) {
          x(p * h + i) = wordEmb(w + i) + posEmb(ps + i) + typeEmb(i)
          i += 1
        }
        p += 1
      }
      layerNorm(x, lnEg, lnEb)
      val dh = h / heads
      val scale = 1.0 / math.sqrt(dh.toDouble)
      layers.foreach { L =>
        val q = linear(x, n, h, h, L.wq, L.bq)
        val k = linear(x, n, h, h, L.wk, L.bk)
        val v = linear(x, n, h, h, L.wv, L.bv)
        val ctx = new Array[Float](n * h)
        var head = 0
        while (head < heads) {
          val off = head * dh
          var i = 0
          while (i < n) {
            // scores over all positions for query i, this head
            val sc = new Array[Double](n)
            var mx = Double.NegativeInfinity
            var j = 0
            while (j < n) {
              var acc = 0.0; var d = 0
              while (d < dh) { acc += q(i * h + off + d) * k(j * h + off + d); d += 1 }
              sc(j) = acc * scale
              if (sc(j) > mx) mx = sc(j)
              j += 1
            }
            var z = 0.0
            j = 0
            while (j < n) { sc(j) = math.exp(sc(j) - mx); z += sc(j); j += 1 }
            var d = 0
            while (d < dh) {
              var acc = 0.0
              j = 0
              while (j < n) { acc += sc(j) / z * v(j * h + off + d); j += 1 }
              ctx(i * h + off + d) = acc.toFloat
              d += 1
            }
            i += 1
          }
          head += 1
        }
        val attn = linear(ctx, n, h, h, L.wo, L.bo)
        var t = 0
        while (t < n * h) { x(t) = x(t) + attn(t); t += 1 }
        layerNorm(x, L.ln1g, L.ln1b)
        val mid = linear(x, n, h, inter, L.wi, L.bi)
        t = 0
        while (t < n * inter) { mid(t) = gelu(mid(t)).toFloat; t += 1 }
        val ffn = linear(mid, n, inter, h, L.wo2, L.bo2)
        t = 0
        while (t < n * h) { x(t) = x(t) + ffn(t); t += 1 }
        layerNorm(x, L.ln2g, L.ln2b)
      }
      // sentence-transformers pooling: attention-mask mean (all positions
      // are real here — no padding by construction), then L2 normalize
      val pooled = new Array[Double](h)
      var i = 0
      while (i < n * h) { pooled(i % h) += x(i); i += 1 }
      var norm = 0.0
      i = 0
      while (i < h) { pooled(i) /= n; norm += pooled(i) * pooled(i); i += 1 }
      norm = math.sqrt(norm)
      if (norm == 0) pooled.toSeq else pooled.map(_ / norm).toSeq
    }
  }

  object Loaded {
    def fromDir(dir: String): Loaded = {
      val base = java.nio.file.Paths.get(dir)
      def need(f: String): java.nio.file.Path = {
        val p = base.resolve(f)
        require(java.nio.file.Files.isRegularFile(p),
          s"transformer model dir $dir is missing $f")
        p
      }
      val st = new SafeTensors(java.nio.file.Files.readAllBytes(
        need("model.safetensors")))
      // HF checkpoints name tensors either bare ("embeddings...") or
      // model-prefixed ("bert.embeddings...") — probe once
      val prefix =
        if (st.has("embeddings.word_embeddings.weight")) ""
        else if (st.has("bert.embeddings.word_embeddings.weight")) "bert."
        else throw new IllegalArgumentException(
          s"no BERT embedding tensors found in $dir/model.safetensors")
      def t(name: String): Array[Float] = st(prefix + name)
      def shape(name: String): Seq[Int] = st.tensors(prefix + name).shape
      val hidden = shape("embeddings.word_embeddings.weight")(1)
      val maxPos = shape("embeddings.position_embeddings.weight")(0)
      val interDim = shape("encoder.layer.0.intermediate.dense.weight")(0)
      val nLayers = Iterator.from(0)
        .takeWhile(i => st.has(s"${prefix}encoder.layer.$i.attention.self.query.weight"))
        .size
      require(nLayers > 0, s"no encoder layers found in $dir")
      val config = new String(java.nio.file.Files.readAllBytes(
        need("config.json")), "UTF-8")
      val heads = Json.long(Json.parse(config), "num_attention_heads")
        .getOrElse(throw new IllegalArgumentException(
          s"config.json in $dir lacks num_attention_heads")).toInt
      require(hidden % heads == 0,
        s"hidden $hidden not divisible by $heads heads")
      val vocabLines = scala.io.Source.fromFile(need("vocab.txt").toFile,
        "UTF-8")
      val vocab = try vocabLines.getLines().zipWithIndex
        .map { case (tok, i) => tok.trim -> i }.toMap
      finally vocabLines.close()
      def special(tok: String): Int = vocab.getOrElse(tok,
        throw new IllegalArgumentException(s"vocab.txt in $dir lacks $tok"))
      val layers = (0 until nLayers).map { i =>
        val p = s"encoder.layer.$i."
        Layer(
          t(p + "attention.self.query.weight"), t(p + "attention.self.query.bias"),
          t(p + "attention.self.key.weight"), t(p + "attention.self.key.bias"),
          t(p + "attention.self.value.weight"), t(p + "attention.self.value.bias"),
          t(p + "attention.output.dense.weight"), t(p + "attention.output.dense.bias"),
          t(p + "attention.output.LayerNorm.weight"), t(p + "attention.output.LayerNorm.bias"),
          t(p + "intermediate.dense.weight"), t(p + "intermediate.dense.bias"),
          t(p + "output.dense.weight"), t(p + "output.dense.bias"),
          t(p + "output.LayerNorm.weight"), t(p + "output.LayerNorm.bias"))
      }.toArray
      Loaded(hidden, heads, interDim, maxPos, vocab,
        special("[UNK]"), special("[CLS]"), special("[SEP]"),
        t("embeddings.word_embeddings.weight"),
        t("embeddings.position_embeddings.weight"),
        t("embeddings.token_type_embeddings.weight"),
        t("embeddings.LayerNorm.weight"), t("embeddings.LayerNorm.bias"),
        layers)
    }
  }
}
