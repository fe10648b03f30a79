package graft

import java.math.{BigDecimal => JBD, RoundingMode}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.parallel.CollectionConverters._

/** Independent single-machine recompute of the pair-family queries — the
  * correctness check "of the second kind" for fixtures where the DuckDB
  * replay is quadratic (BASELINE §5 round 11: the sf10 sweep left exactly
  * the dd2/3/5/6/7/8/9/10, v3/4/5/6/8, c1/c5 compositions unchecked
  * because the ORACLE cost, not the operators, was the bound; the v8
  * union-find exemption at sf1 is the precedent this generalizes).
  *
  * Everything here is deliberately NOT Spark dataflow and NOT the
  * operators' code: each pipeline is re-derived from its spec in plain
  * sequential Scala (MessageDigest md5, inline LCG plane signs,
  * left-associative float loops — the exact arithmetic the scaladocs pin),
  * parallelized only with scala.collection.parallel over independent work
  * units. Spark appears ONLY as parquet IO: reading the fixture tables and
  * the `graft.Verify` output directories. Results are compared as
  * order-independent multiset digests (count + two summed 64-bit md5
  * folds per canonical row), so a 60M-row pair set needs no sort and no
  * driver-side set.
  *
  * The fixture's synthesized shape is what makes several recomputes cheap
  * where the DuckDB replay was quadratic: key-strided copies share
  * IDENTICAL text, so shingle/simhash/span work runs once per distinct
  * text and doc-level pair sets expand from text-group pairs — an
  * optimization available to a from-scratch recompute precisely because
  * it is independent of the engines' generic plans.
  *
  * Usage: Test/runMain graft.IndependentVerify <sfDir> <verifyOutDir> [namesCsv]
  */
object IndependentVerify {

  // ---------- md5 / rounding / digest primitives ----------

  private val mdTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private def md5bytes(s: String): Array[Byte] = {
    val md = mdTL.get(); md.reset()
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
  private val HexChars = "0123456789abcdef".toCharArray
  private def toHex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2); var i = 0
    while (i < d.length) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf); i += 1
    }
    new String(out)
  }
  private def md5hex(s: String): String = toHex(md5bytes(s))
  /** First 12 hex chars of md5 as a long — the repo-wide 48-bit fold. */
  private def hex12(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).substring(0, 12), 16)

  /** Spark's `xxhash64(s)` over a string column: XXH64 of the UTF-8 bytes,
    * seed 42. The XXH64 primitive is reused from Spark's public catalyst
    * class the same way md5 reuses MessageDigest — a hash CONSTANT; the
    * pipeline around it is what this file recomputes independently.
    * Spec-pinned against the SQL function in DedupSpec. */
  private[graft] def xxh64(s: String): Long = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
  }
  /** Spark's `xxhash64(s, 1L)`: multi-argument xxhash64 seed-chains, so
    * the long literal re-mixes the string hash. */
  private[graft] def xxh64b(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(1L, xxh64(s))

  /** Spark's round(col, scale) on doubles: HALF_UP on the shortest decimal
    * representation (BigDecimal.valueOf). */
  private def rnd(x: Double, scale: Int): Double =
    JBD.valueOf(x).setScale(scale, RoundingMode.HALF_UP).doubleValue
  private def rndLong(x: Double): Long =
    JBD.valueOf(x).setScale(0, RoundingMode.HALF_UP).longValue

  private def pack(d: Array[Byte], off: Int): Long = {
    var v = 0L; var i = 0
    while (i < 8) { v = (v << 8) | (d(off + i) & 0xffL); i += 1 }
    v
  }

  /** Order-independent multiset digest: row count plus two wrap-around
    * sums of independent 64-bit halves of each row's md5. */
  final class Digest {
    var n = 0L; var a = 0L; var b = 0L
    def add(row: String): Unit = {
      val d = md5bytes(row); n += 1; a += pack(d, 0); b += pack(d, 8)
    }
    def merge(o: Digest): Digest = { n += o.n; a += o.a; b += o.b; this }
    def same(o: Digest): Boolean = n == o.n && a == o.a && b == o.b
    override def toString = s"n=$n a=${java.lang.Long.toHexString(a)} b=${java.lang.Long.toHexString(b)}"
  }
  private val Sep = '\u0001'

  private def mergeAll(ds: Iterable[Digest]): Digest =
    ds.foldLeft(new Digest)(_ merge _)

  // ---------- output-side: canonical digest of a Verify parquet dump ----------

  /** Digest a query's output parquet with the SAME canonicalization code
    * the expected side uses (shared JVM formatting — Long/Int/Boolean
    * toString, java.lang.Double.toString, strings verbatim). Executors
    * only parallelize the md5 folding; no SQL expressions touch values. */
  private def digestOutput(spark: SparkSession, dir: String,
      cols: Seq[String]): Digest = {
    val df = spark.read.parquet(dir).select(cols.map(org.apache.spark.sql.functions.col): _*)
    val types = df.schema.fields.map(_.dataType.typeName)
    val parts = df.rdd.mapPartitions { it =>
      val dg = new Digest
      it.foreach { r =>
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i < types.length) {
          if (i > 0) sb.append(Sep)
          if (r.isNullAt(i)) sb.append("\u0000null")
          else types(i) match {
            case "long"    => sb.append(r.getLong(i))
            case "integer" => sb.append(r.getInt(i))
            case "boolean" => sb.append(r.getBoolean(i))
            case "double"  => sb.append(java.lang.Double.toString(r.getDouble(i)))
            case "string"  => sb.append(r.getString(i))
            case t => throw new IllegalArgumentException(s"unhandled type $t in $dir")
          }
          i += 1
        }
        dg.add(sb.toString)
      }
      Iterator((dg.n, dg.a, dg.b))
    }.collect()
    val dg = new Digest
    parts.foreach { case (n, a, b) => dg.n += n; dg.a += a; dg.b += b }
    dg
  }

  // ---------- fixture loads (Spark as IO only) ----------

  final case class Doc(id: Long, text: String, lang: String)
  final case class Vec(id: Long, v: Array[Double])

  private def loadDocs(spark: SparkSession, d: String): Array[Doc] =
    Tables.load(spark, d, "documents").select("doc_id", "text", "lang")
      .collect().map(r => Doc(r.getLong(0), r.getString(1), r.getString(2)))

  private def loadVecs(spark: SparkSession, d: String): Array[Vec] = {
    import org.apache.spark.sql.functions.col
    // the float→double widening cast is exact and is precisely what the
    // operators' vecs() projection does
    Tables.load(spark, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => Vec(r.getLong(0), r.getSeq[Double](1).toArray))
  }

  /** plantStride re-derived: smallest power of 10 above max doc_id,
    * floored at 100000. */
  private def stride(docs: Array[Doc]): Long = {
    val m = docs.iterator.map(_.id).max
    math.max(100000L, math.pow(10.0, m.toString.length).toLong)
  }

  // ---------- MinHash / LSH (dd2, dd3, dd7, dd8, c1) ----------

  private val P = 2147483647L
  private val HashAB: Array[(Long, Long)] = (0 until 12).map { j =>
    ((1103515245L * (2 * j + 1)) % P, (12345L + 1000003L * j) % P)
  }.toArray

  private def words(text: String): Array[String] = text.split(" ", -1)

  /** Distinct 3-word shingles → 48-bit md5 folds, in first-occurrence
    * order (order is irrelevant downstream — mins and set ops only). */
  private def shingleHashes(text: String): Array[Long] = {
    val w = words(text)
    val upper = math.max(w.length - 3, 0)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= upper) {
      val end = math.min(i + 3, w.length)
      seen.add(w.slice(i, end).mkString(" "))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator(); var k = 0
    while (it.hasNext) { out(k) = hex12(it.next()); k += 1 }
    out
  }

  private def minhashSigs(hs: Array[Long]): Array[Long] =
    HashAB.map { case (a, b) =>
      var m = Long.MaxValue; var i = 0
      while (i < hs.length) {
        val v = (a * (hs(i) % P) + b) % P
        if (v < m) m = v; i += 1
      }
      m
    }

  private def bandKeys(sig: Array[Long]): Array[String] =
    Array.tabulate(4)(b => s"${sig(3 * b)}|${sig(3 * b + 1)}|${sig(3 * b + 2)}")

  /** A group of docs sharing IDENTICAL text (the synth fixture's shape). */
  final case class TextGroup(text: String, ids: Array[Long],
      hs: Array[Long], sig: Array[Long], bands: Array[String]) {
    lazy val hsSet: java.util.HashSet[Long] = {
      val s = new java.util.HashSet[Long](hs.length * 2); hs.foreach(s.add); s
    }
  }

  private def groupByText(corpus: Iterable[(Long, String)]): Array[TextGroup] = {
    val m = new java.util.HashMap[String, java.util.ArrayList[java.lang.Long]]()
    corpus.foreach { case (id, t) =>
      m.computeIfAbsent(t, _ => new java.util.ArrayList[java.lang.Long]()).add(id)
    }
    val groups = new java.util.ArrayList[(String, Array[Long])](m.size)
    m.forEach((t, ids) => groups.add(
      (t, ids.toArray(new Array[java.lang.Long](0)).map(_.longValue))))
    val arr = new Array[TextGroup](groups.size)
    (0 until groups.size).par.foreach { i =>
      val (t, ids) = groups.get(i)
      val hs = shingleHashes(t)
      val sig = minhashSigs(hs)
      arr(i) = TextGroup(t, ids.sorted, hs, sig, bandKeys(sig))
    }
    arr
  }

  /** 2-copy planted corpus (the dd2/dd3/dd6 shape). */
  private def planted2(docs: Array[Doc], st: Long): Iterable[(Long, String)] =
    docs.iterator.map(d => (d.id, d.text)).toVector ++
      docs.iterator.filter(_.id % 17 == 0)
        .map(d => (d.id + st, d.text + " zz qq vv")).toVector

  /** 3-copy planted chain corpus (dd7/dd8/c1). */
  private def planted3(docs: Array[Doc], st: Long): Iterable[(Long, String)] =
    docs.iterator.map(d => (d.id, d.text)).toVector ++
      docs.iterator.filter(_.id % 17 == 0)
        .map(d => (d.id + st, d.text + " zz qq vv")).toVector ++
      docs.iterator.filter(_.id % 17 == 0)
        .map(d => (d.id + 2 * st, d.text + " zz qq vv ww yy")).toVector

  private def exactJaccard6(a: TextGroup, b: TextGroup): Double = {
    var inter = 0; var i = 0
    val (small, big) = if (a.hs.length <= b.hs.length) (a, b) else (b, a)
    while (i < small.hs.length) {
      if (big.hsSet.contains(small.hs(i))) inter += 1
      i += 1
    }
    rnd(inter.toDouble / (a.hs.length + b.hs.length - inter).toDouble, 6)
  }

  /** All group pairs (gi < gj by index; gi==gj allowed when the group has
    * ≥2 members) that share a band bucket AND pass Jaccard ≥ 0.4, with the
    * rounded jaccard. Group-level is exact because band keys and shingle
    * sets are text-functions: every doc pair across (or within) two text
    * groups shares bucket membership and jaccard identically. */
  private def lshGroupPairs(groups: Array[TextGroup])
      : Vector[(Int, Int, Double)] = {
    // pair keys pack as (gi << 32) | gj — loud guard instead of silent
    // aliasing (the same discipline as dd7Components' group-span require);
    // 32-bit halves hold any realistic distinct-text count (round 13: the
    // sixth-decade fixture has 5.6M distinct texts, past the old 2e6 form)
    require(groups.length.toLong < (1L << 31),
      s"pair-key packing assumes <2^31 distinct text groups, got ${groups.length}")
    val buckets = new java.util.HashMap[String, java.util.ArrayList[Integer]]()
    groups.zipWithIndex.foreach { case (g, gi) =>
      var b = 0
      while (b < 4) {
        buckets.computeIfAbsent(b + ":" + g.bands(b),
          _ => new java.util.ArrayList[Integer]()).add(gi)
        b += 1
      }
    }
    val cand = new java.util.HashSet[Long]()
    buckets.forEach { (_, lst) =>
      var i = 0
      while (i < lst.size) {
        if (groups(lst.get(i)).ids.length >= 2)
          cand.add((lst.get(i).toLong << 32) | lst.get(i).toLong)
        var j = i + 1
        while (j < lst.size) {
          val x = math.min(lst.get(i), lst.get(j))
          val y = math.max(lst.get(i), lst.get(j))
          cand.add((x.toLong << 32) | y.toLong)
          j += 1
        }
        i += 1
      }
    }
    val pairs = cand.toArray(new Array[java.lang.Long](0)).map(_.longValue)
    pairs.par.flatMap { pk =>
      val gi = (pk >>> 32).toInt; val gj = (pk & 0xffffffffL).toInt
      val j6 = exactJaccard6(groups(gi), groups(gj))
      if (j6 >= 0.4) Some((gi, gj, j6)) else None
    }.toVector
  }

  /** Expand group pairs to doc pairs (a < b), invoking f per pair. */
  private def expandPairs(groups: Array[TextGroup],
      gp: Vector[(Int, Int, Double)], f: (Long, Long, Double) => Unit): Unit =
    gp.foreach { case (gi, gj, sim) =>
      val A = groups(gi).ids; val B = groups(gj).ids
      if (gi == gj) {
        var i = 0
        while (i < A.length) {
          var j = i + 1
          while (j < A.length) { f(A(i), A(j), sim); j += 1 }
          i += 1
        }
      } else {
        var i = 0
        while (i < A.length) {
          var j = 0
          while (j < B.length) {
            val a = A(i); val b = B(j)
            if (a < b) f(a, b, sim) else if (b < a) f(b, a, sim)
            j += 1
          }
          i += 1
        }
      }
    }

  // ---------- union-find (dd7/v8 labels) ----------

  final class UnionFind {
    val parent = new scala.collection.mutable.LongMap[Long]()
    val size = new scala.collection.mutable.LongMap[Long]()
    def root(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (root(a), root(b))
      if (ra != rb) {
        val (sa, sb) = (size.getOrElse(ra, 1L), size.getOrElse(rb, 1L))
        val (big, small) = if (sa >= sb) (ra, rb) else (rb, ra)
        parent(small) = big; size(big) = sa + sb
      }
    }
    /** Map every node to the min id of its component. */
    def labels(nodes: Iterable[Long]): scala.collection.mutable.LongMap[Long] = {
      val minOf = new scala.collection.mutable.LongMap[Long]()
      nodes.foreach { n =>
        val r = root(n)
        val cur = minOf.getOrElse(r, Long.MaxValue)
        if (n < cur) minOf(r) = n
      }
      val out = new scala.collection.mutable.LongMap[Long]()
      nodes.foreach(n => out(n) = minOf(root(n)))
      out
    }
  }

  // ---------- quality / mixture / split scalar pieces ----------

  private val StopWords = Set("the", "a", "of", "and", "to", "in", "is")
  final case class Quality(nWords: Int, uniq: Double, stop: Double,
      score: Double)
  private def quality(text: String): Quality = {
    val w = words(text)
    val n = w.length
    val uniq = rnd(w.distinct.length.toDouble / n.toDouble, 6)
    val stop = rnd(w.count(StopWords.contains).toDouble / n.toDouble, 6)
    val score = rnd(math.min(n.toDouble / 100.0, 1.0) * 0.4 +
      uniq * 0.3 + math.min(stop * 5.0, 1.0) * 0.3, 8)
    Quality(n, uniq, stop, score)
  }
  private def mixtureBucket(docId: Long): Long = hex12(docId.toString) % 100
  private def mixtureQuota(lang: String): Long =
    lang match { case "en" => 60L; case "fr" => 30L; case _ => 10L }
  private def splitBucket(docId: Long): Long = hex12("split:" + docId) % 1000
  private def splitOf(docId: Long): String = {
    val b = splitBucket(docId)
    if (b < 980) "train" else if (b < 990) "val" else "test"
  }

  // ---------- RP-LSH planes / cosine (v3, v6, v8, dd5) ----------

  /** splitmix64-style finalizer mirroring VectorOps.mix64 (round 15: the
    * raw-LCG family had period-7 plane negations — see that scaladoc). */
  private def mix64(z0: Long): Long = {
    var z = z0 + -7046029254386353131L
    z = (z ^ (z >>> 30)) * -4658895280553007687L
    z = (z ^ (z >>> 27)) * -7723592293110705685L
    z ^ (z >>> 31)
  }
  /** VectorOps' plane-sign family (j 0-based plane, k 1-based component). */
  private def rpSignPos(j: Int, k: Int): Boolean = {
    val x = mix64((j.toLong << 32) | k.toLong)
    ((x >>> 33) & 1L) == 0L
  }
  /** RankDedup's family, offset by 1000 planes. */
  private def ddSignPos(j: Int, k0: Int): Boolean = {
    val x = mix64(((j + 1000).toLong << 32) | (k0 + 1).toLong)
    ((x >>> 33) & 1L) == 0L
  }

  private def buildSigns(numPlanes: Int, dim: Int,
      pos: (Int, Int) => Boolean): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim)((j, k0) => if (pos(j, k0)) 1.0 else -1.0)

  /** Band keys, left-assoc dot per plane (strictly > 0 sets the bit). */
  private def rpKeys(v: Array[Double], signs: Array[Array[Double]],
      planesPerBand: Int): Array[Int] = {
    val keys = new Array[Int](signs.length / planesPerBand)
    var j = 0
    while (j < signs.length) {
      var dot = 0.0; var k = 0
      while (k < v.length) { dot += signs(j)(k) * v(k); k += 1 }
      if (dot > 0) keys(j / planesPerBand) |= 1 << (j % planesPerBand)
      j += 1
    }
    keys
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  private def norm2(a: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * a(i); i += 1 }
    s
  }
  /** cosine_sim semantics: left-assoc dot and norms, 0.0 on zero norm. */
  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
  }
  /** Suffix-of-squares checkpoints, mirroring the library's VecSufSq:
    * slot 0 the exact forward norm-square, slot j ≥ 1 the suffix sum from
    * index 64j (backward accumulation — feeds bounds only). */
  private def sufSq(a: Array[Double]): Array[Double] = {
    val n = a.length
    val out = new Array[Double](math.max(1, (n + 63) / 64))
    var fwd = 0.0; var i = 0
    while (i < n) { fwd += a(i) * a(i); i += 1 }
    out(0) = fwd
    var s = 0.0; i = n - 1
    while (i >= 64) {
      s += a(i) * a(i)
      if ((i & 63) == 0) out(i >> 6) = s
      i -= 1
    }
    out
  }
  /** Early-exit dot mirroring the library's CosineSimBounded: the EXACT
    * left-assoc dot of [[dot]] unless the Cauchy-Schwarz suffix bound
    * proves it below `t` at a 64-element checkpoint (then -∞; callers
    * pass t with the 1e-9 relative margin already subtracted, so any pair
    * whose keep-test could pass always completes and its digest string is
    * bit-identical to the unbounded walk's). */
  private def dotGte(a: Array[Double], b: Array[Double],
      sa: Array[Double], sb: Array[Double], t: Double): Double = {
    val lim = math.min(sa.length, sb.length)
    val n = a.length
    var s = 0.0; var i = 0
    while (i < n) {
      if (i > 0 && (i & 63) == 0 && (i >> 6) < lim &&
          s + math.sqrt(sa(i >> 6) * sb(i >> 6)) < t)
        return Double.NegativeInfinity
      s += a(i) * b(i)
      i += 1
    }
    s
  }

  // ---------- per-query checks ----------

  private def checkDd2(spark: SparkSession, docs: Array[Doc], st: Long,
      out: String): (Digest, Digest) = {
    val groups = groupByText(planted2(docs, st))
    val exp = mergeAll(groups.par.map { g =>
      val dg = new Digest
      g.ids.foreach(id => dg.add(
        s"$id$Sep${g.bands(0)}$Sep${g.bands(1)}$Sep${g.bands(2)}$Sep${g.bands(3)}"))
      dg
    }.seq)
    (exp, digestOutput(spark, out,
      Seq("doc_id", "band_0", "band_1", "band_2", "band_3")))
  }

  private def checkDd3(spark: SparkSession, docs: Array[Doc], st: Long,
      out: String): (Digest, Digest) = {
    val groups = groupByText(planted2(docs, st))
    val gp = lshGroupPairs(groups)
    val exp = mergeAll(gp.par.map { case t @ (_, _, _) =>
      val dg = new Digest
      expandPairs(groups, Vector(t), (a, b, sim) =>
        dg.add(s"$a$Sep$b$Sep${java.lang.Double.toString(sim)}"))
      dg
    }.seq)
    (exp, digestOutput(spark, out, Seq("a_id", "b_id", "jaccard")))
  }

  /** dd7's group graph: LSH pairs over the 3-copy chain corpus, minus the
    * base↔second-copy edges, then connected components. Entire text
    * groups live in one id range (base < st, copy1 in [st,2st), copy2 ≥
    * 2st), so the dropped-edge rule is a property of the group pair. */
  private def dd7Components(docs: Array[Doc], st: Long)
      : (Array[TextGroup], scala.collection.mutable.LongMap[Long]) = {
    val groups = groupByText(planted3(docs, st))
    groups.foreach { g =>
      val lo = g.ids.head / st; val hi = g.ids.last / st
      require(lo == hi, s"text group spans id ranges: ${g.ids.head}..${g.ids.last}")
    }
    val gp = lshGroupPairs(groups)
    val uf = new UnionFind
    // within-group edges: a clique whenever jaccard(identical)=1 ≥ 0.4 —
    // i.e. whenever the group has ≥ 2 members (self-pairs in gp)
    gp.foreach { case (gi, gj, _) =>
      if (gi == gj) {
        val ids = groups(gi).ids
        var i = 1
        while (i < ids.length) { uf.union(ids(0), ids(i)); i += 1 }
      } else {
        val ra = groups(gi).ids.head / st; val rb = groups(gj).ids.head / st
        val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
        val dropped = lo == 0 && hi == 2 // base ↔ second-copy: LSH miss sim
        if (!dropped) uf.union(groups(gi).ids.head, groups(gj).ids.head)
      }
    }
    val allIds = groups.iterator.flatMap(_.ids).toVector
    (groups, uf.labels(allIds))
  }

  private def checkDd7(spark: SparkSession, docs: Array[Doc], st: Long,
      out: String): (Digest, Digest) = {
    val (groups, labels) = dd7Components(docs, st)
    val exp = new Digest
    groups.foreach(_.ids.foreach(id => exp.add(s"$id$Sep${labels(id)}")))
    (exp, digestOutput(spark, out, Seq("doc_id", "component")))
  }

  private def checkDd8(spark: SparkSession, docs: Array[Doc], st: Long,
      out: String): (Digest, Digest) = {
    val (groups, labels) = dd7Components(docs, st)
    val nWords = new scala.collection.mutable.LongMap[Int]()
    groups.foreach { g =>
      val n = words(g.text).length; g.ids.foreach(id => nWords(id) = n)
    }
    val byComp = groups.iterator.flatMap(_.ids).toVector.groupBy(labels(_))
    val exp = new Digest
    byComp.foreach { case (comp, ids) =>
      val ranked = ids.sortBy(id => (-nWords(id), id))
      val canonical = ranked.head
      ranked.zipWithIndex.foreach { case (id, rk) =>
        exp.add(s"$id$Sep$comp$Sep${nWords(id)}$Sep${rk == 0}$Sep$canonical")
      }
    }
    (exp, digestOutput(spark, out,
      Seq("doc_id", "component", "n_words", "keep", "canonical")))
  }

  private def checkC1(spark: SparkSession, docs: Array[Doc], st: Long,
      out: String): (Digest, Digest) = {
    val (groups, labels) = dd7Components(docs, st)
    val langOf = new scala.collection.mutable.LongMap[String]()
    docs.foreach(d => langOf(d.id) = d.lang)
    val qualOf = groups.par.map(g => (g.text, quality(g.text))).seq.toMap
    val textOf = new scala.collection.mutable.LongMap[String]()
    groups.foreach(g => g.ids.foreach(id => textOf(id) = g.text))
    val byComp = groups.iterator.flatMap(_.ids).toVector.groupBy(labels(_))
    val exp = new Digest
    byComp.foreach { case (comp, ids) =>
      val keeper = ids.minBy(id => (-qualOf(textOf(id)).nWords, id))
      val q = qualOf(textOf(keeper))
      if (q.score >= 0.5) {
        val lang = langOf(keeper % st)
        val bucket = mixtureBucket(keeper)
        if (bucket < mixtureQuota(lang))
          exp.add(s"$keeper$Sep$lang$Sep$comp$Sep${q.nWords}" +
            s"$Sep${java.lang.Double.toString(q.score)}$Sep$bucket")
      }
    }
    (exp, digestOutput(spark, out,
      Seq("doc_id", "lang", "component", "n_words", "quality_score", "bucket")))
  }

  // ---------- SimHash (dd6) ----------

  private def checkDd6(spark: SparkSession, docs: Array[Doc], st: Long,
      out: String): (Digest, Digest) = {
    val corpus = planted2(docs, st).toVector
    val nd = corpus.size.toLong
    // document frequency over per-doc-distinct words (identical texts each
    // count once per doc — group multiplicity applies)
    val grouped = groupByTextLite(corpus)
    val df = new java.util.HashMap[String, Long]()
    grouped.foreach { case (text, ids) =>
      words(text).distinct.foreach { w =>
        df.merge(w, ids.length.toLong, (a, b) => a + b)
      }
    }
    def weight(w: String): Long = {
      val f = df.get(w)
      if (f * 20 <= nd) 4L else if (f * 5 <= nd) 2L else 1L
    }
    // 48-bit weighted simhash per distinct text
    val sh = grouped.par.map { case (text, ids) =>
      val votes = new Array[Long](48)
      words(text).foreach { w =>
        val wh = hex12(w); val wt = weight(w)
        var b = 0
        while (b < 48) {
          if ((wh & (1L << b)) != 0) votes(b) += wt else votes(b) -= wt
          b += 1
        }
      }
      var fp = 0L; var b = 0
      while (b < 48) { if (votes(b) > 0) fp |= 1L << b; b += 1 }
      (fp, ids)
    }.seq.toVector
    // group by fingerprint (identical texts share one; distinct texts can
    // collide too — merge their member lists)
    val byFp = new java.util.HashMap[java.lang.Long, java.util.ArrayList[Long]]()
    sh.foreach { case (fp, ids) =>
      val l = byFp.computeIfAbsent(fp, _ => new java.util.ArrayList[Long]())
      ids.foreach(l.add)
    }
    val fps = new java.util.ArrayList[(Long, Array[Long])](byFp.size)
    byFp.forEach((fp, l) => fps.add((fp.longValue,
      l.toArray(new Array[java.lang.Long](0)).map(_.longValue).sorted)))
    val fpArr = (0 until fps.size).map(fps.get).toArray
    // pair keys pack as (i << 32) | j over distinct fingerprints — loud
    // guard instead of silent aliasing (see lshGroupPairs)
    require(fpArr.length.toLong < (1L << 31),
      s"pair-key packing assumes <2^31 distinct fingerprints, got ${fpArr.length}")
    // chunk-blocked candidates over DISTINCT fingerprints
    val buckets = new java.util.HashMap[Long, java.util.ArrayList[Integer]]()
    fpArr.zipWithIndex.foreach { case ((fp, _), i) =>
      var c = 0
      while (c < 6) {
        buckets.computeIfAbsent(c.toLong << 56 | ((fp >> (c * 8)) & 255L),
          _ => new java.util.ArrayList[Integer]()).add(i)
        c += 1
      }
    }
    val cand = new java.util.HashSet[Long]()
    buckets.forEach { (_, lst) =>
      var i = 0
      while (i < lst.size) {
        if (fpArr(lst.get(i))._2.length >= 2)
          cand.add((lst.get(i).toLong << 32) | lst.get(i).toLong)
        var j = i + 1
        while (j < lst.size) {
          val x = math.min(lst.get(i), lst.get(j))
          val y = math.max(lst.get(i), lst.get(j))
          cand.add((x.toLong << 32) | y.toLong)
          j += 1
        }
        i += 1
      }
    }
    val pairs = cand.toArray(new Array[java.lang.Long](0)).map(_.longValue)
    val exp = mergeAll(pairs.par.map { pk =>
      val dg = new Digest
      val gi = (pk >>> 32).toInt; val gj = (pk & 0xffffffffL).toInt
      val ham = java.lang.Long.bitCount(fpArr(gi)._1 ^ fpArr(gj)._1)
      if (ham <= 5) {
        val A = fpArr(gi)._2; val B = fpArr(gj)._2
        if (gi == gj) {
          var i = 0
          while (i < A.length) {
            var j = i + 1
            while (j < A.length) { dg.add(s"${A(i)}$Sep${A(j)}$Sep$ham"); j += 1 }
            i += 1
          }
        } else {
          var i = 0
          while (i < A.length) {
            var j = 0
            while (j < B.length) {
              val a = A(i); val b = B(j)
              if (a < b) dg.add(s"$a$Sep$b$Sep$ham")
              else if (b < a) dg.add(s"$b$Sep$a$Sep$ham")
              j += 1
            }
            i += 1
          }
        }
      }
      dg
    }.seq)
    (exp, digestOutput(spark, out, Seq("a_id", "b_id", "hamming")))
  }

  /** dd6w: WIDE-fingerprint SimHash pairs (xxhash64-pair word hashes, 6
    * chunks of `chunkBits` across two 63-bit words — the
    * [[graft.operators.DedupOps]] `simhashPairsWide` variant) over the
    * planted corpus, at the [[graft.operators.OperatingPoint]]
    * `simhashChunkBitsWide` width the library derives from the same corpus
    * count. Mirrors [[checkDd6]]'s distinct-text exploitation; fingerprints
    * are (fp0, fp1) pairs and Hamming sums both words. */
  private def checkDd6Wide(spark: SparkSession, docs: Array[Doc], st: Long,
      out: String): (Digest, Digest) = {
    val corpus = planted2(docs, st).toVector
    val nd = corpus.size.toLong
    val chunkBits = graft.operators.OperatingPoint.simhashChunkBitsWide(nd)
    val bitsPerWord = 3 * chunkBits
    val wMask = (1L << bitsPerWord) - 1
    val cMask = (1L << chunkBits) - 1
    val grouped = groupByTextLite(corpus)
    val df = new java.util.HashMap[String, Long]()
    grouped.foreach { case (text, ids) =>
      words(text).distinct.foreach { w =>
        df.merge(w, ids.length.toLong, (a, b) => a + b)
      }
    }
    def weight(w: String): Long = {
      val f = df.get(w)
      if (f * 20 <= nd) 4L else if (f * 5 <= nd) 2L else 1L
    }
    // word hashes are text-functions — cache once per distinct word so the
    // vote pass is hash-free (the corpus re-observes its head constantly)
    val wh = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val sh = grouped.par.map { case (text, ids) =>
      val votes0 = new Array[Long](bitsPerWord)
      val votes1 = new Array[Long](bitsPerWord)
      words(text).foreach { w =>
        val (h0, h1) = wh.computeIfAbsent(w,
          x => (xxh64(x) & wMask, xxh64b(x) & wMask))
        val wt = weight(w)
        var b = 0
        while (b < bitsPerWord) {
          votes0(b) += (if (((h0 >> b) & 1L) != 0L) wt else -wt)
          votes1(b) += (if (((h1 >> b) & 1L) != 0L) wt else -wt)
          b += 1
        }
      }
      var fp0 = 0L; var fp1 = 0L; var b = 0
      while (b < bitsPerWord) {
        if (votes0(b) > 0) fp0 |= 1L << b
        if (votes1(b) > 0) fp1 |= 1L << b
        b += 1
      }
      ((fp0, fp1), ids)
    }.seq.toVector
    // group member lists by (fp0, fp1) — identical texts share one, and
    // distinct texts can collide
    val byFp = new java.util.HashMap[(Long, Long), java.util.ArrayList[Long]]()
    sh.foreach { case (fp, ids) =>
      val l = byFp.computeIfAbsent(fp, _ => new java.util.ArrayList[Long]())
      ids.foreach(l.add)
    }
    val fps = new java.util.ArrayList[((Long, Long), Array[Long])](byFp.size)
    byFp.forEach((fp, l) => fps.add((fp,
      l.toArray(new Array[java.lang.Long](0)).map(_.longValue).sorted)))
    val fpArr = (0 until fps.size).map(fps.get).toArray
    require(fpArr.length.toLong < (1L << 31),
      s"pair-key packing assumes <2^31 distinct fingerprints, got ${fpArr.length}")
    // chunk c's value comes from word c/3 (chunkBits ≤ 21)
    @inline def chunkVal(g: Int, c: Int): Long =
      ((if (c < 3) fpArr(g)._1._1 else fpArr(g)._1._2)
        >> ((c % 3) * chunkBits)) & cMask
    // Chunk-blocked candidates over DISTINCT fingerprints, in primitive
    // buffers with the checkRpPairs first-collision dedup (a pair is
    // emitted only from the FIRST chunk whose values collide) — at the
    // sixth decade the prior global boxed HashSet held ~3e8 candidate
    // keys and blew a 48 GB heap; this walk allocates nothing per pair.
    val buckets = new java.util.HashMap[Long, IntBuf]()
    fpArr.indices.foreach { i =>
      var c = 0
      while (c < 6) {
        buckets.computeIfAbsent(c.toLong << 48 | chunkVal(i, c),
          _ => new IntBuf).add(i)
        c += 1
      }
    }
    val bucketList = Vector.newBuilder[Array[Int]]
    buckets.forEach { (bk, buf) =>
      val arr = new Array[Int](buf.n + 1)
      arr(0) = (bk >>> 48).toInt // the chunk index rides in slot 0
      System.arraycopy(buf.a, 0, arr, 1, buf.n)
      bucketList += arr
    }
    buckets.clear()
    val cross = mergeAll(bucketList.result().par.map { arr =>
      val dg = new Digest
      val c = arr(0)
      var i = 1
      while (i < arr.length) {
        val gi = arr(i); var j = i + 1
        while (j < arr.length) {
          val gj = arr(j)
          var cc = 0; var met = false
          while (cc < c && !met) {
            if (chunkVal(gi, cc) == chunkVal(gj, cc)) met = true
            cc += 1
          }
          if (!met) {
            val ham =
              java.lang.Long.bitCount(fpArr(gi)._1._1 ^ fpArr(gj)._1._1) +
                java.lang.Long.bitCount(fpArr(gi)._1._2 ^ fpArr(gj)._1._2)
            if (ham <= 5) {
              val A = fpArr(gi)._2; val B = fpArr(gj)._2
              var x = 0
              while (x < A.length) {
                var y = 0
                while (y < B.length) {
                  val a = A(x); val b = B(y)
                  if (a < b) dg.add(s"$a$Sep$b$Sep$ham")
                  else if (b < a) dg.add(s"$b$Sep$a$Sep$ham")
                  y += 1
                }
                x += 1
              }
            }
          }
          j += 1
        }
        i += 1
      }
      dg
    }.seq)
    // within-fingerprint pairs (hamming 0) once per multi-member group —
    // every fingerprint collides with itself in all six of its chunks
    val self = mergeAll(fpArr.par.map { case (_, a) =>
      val dg = new Digest
      var i = 0
      while (i < a.length) {
        var j = i + 1
        while (j < a.length) { dg.add(s"${a(i)}$Sep${a(j)}${Sep}0"); j += 1 }
        i += 1
      }
      dg
    }.seq)
    (cross.merge(self), digestOutput(spark, out, Seq("a_id", "b_id", "hamming")))
  }

  /** Growable primitive int buffer — bucket lists at sixth-decade counts
    * can't afford boxed Integers. */
  private final class IntBuf {
    var a = new Array[Int](8); var n = 0
    def add(v: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n << 1)
      a(n) = v; n += 1
    }
  }

  private def groupByTextLite(corpus: Iterable[(Long, String)])
      : Vector[(String, Array[Long])] = {
    val m = new java.util.HashMap[String, java.util.ArrayList[Long]]()
    corpus.foreach { case (id, t) =>
      m.computeIfAbsent(t, _ => new java.util.ArrayList[Long]()).add(id)
    }
    val out = Vector.newBuilder[(String, Array[Long])]
    m.forEach((t, l) => out +=
      ((t, l.toArray(new Array[java.lang.Long](0)).map(_.longValue).sorted)))
    out.result()
  }

  // ---------- span grams / scrub (dd9, dd10) ----------

  private val SpanBoiler =
    "subscribe to our newsletter for weekly updates and exclusive offers " +
      "terms of service privacy policy cookie settings all rights reserved " +
      "follow us on social media contact support for help with your account today"

  /** Selected (off, gramHash) occurrences of a text: 1-based offsets,
    * 50-char clamped windows, md5 first-nibble-0 selection. */
  private def spanHits(text: String): Array[(Int, String)] = {
    val n = text.length
    val count = math.max(n - 49, 1)
    val out = Vector.newBuilder[(Int, String)]
    var i = 1
    while (i <= count) {
      val g = text.substring(i - 1, math.min(i - 1 + 50, n))
      val d = md5bytes(g)
      if ((d(0) & 0xf0) == 0) out += ((i, toHex(d)))
      i += 1
    }
    out.result().toArray
  }

  /** dd9/dd10 shared front: per-distinct boilered text → selected grams;
    * global shared-gram inventory (n_docs = distinct carrying docs,
    * first_doc = min carrying doc). */
  private def spanInventory(docs: Array[Doc]): (
      Vector[(String, Array[Long], Array[(Int, String)])],  // key groups
      java.util.HashMap[String, (Long, Long)]) = {          // gh -> (nDocs, firstDoc)
    val corpus = docs.iterator.map { d =>
      val t = if (d.id % 19 == 0) d.text + " " + SpanBoiler else d.text
      (d.id, t)
    }.toVector
    val grouped = groupByTextLite(corpus)
    val withHits = grouped.par.map { case (t, ids) =>
      (t, ids, spanHits(t))
    }.seq.toVector
    val inv = new java.util.HashMap[String, (Long, Long)]()
    withHits.foreach { case (_, ids, hits) =>
      hits.map(_._2).distinct.foreach { gh =>
        val cur = inv.get(gh)
        if (cur == null) inv.put(gh, (ids.length.toLong, ids.min))
        else inv.put(gh, (cur._1 + ids.length, math.min(cur._2, ids.min)))
      }
    }
    (withHits, inv)
  }

  private def checkDd9(spark: SparkSession, docs: Array[Doc],
      out: String): (Digest, Digest) = {
    val (groupsH, inv) = spanInventory(docs)
    val exp = mergeAll(groupsH.par.map { case (_, ids, hits) =>
      val dg = new Digest
      hits.foreach { case (off, gh) =>
        val e = inv.get(gh)
        if (e._1 >= 2) ids.foreach { id =>
          dg.add(s"$id$Sep$off$Sep$gh$Sep${e._1}$Sep${e._2}$Sep${id != e._2}")
        }
      }
      dg
    }.seq)
    (exp, digestOutput(spark, out,
      Seq("doc_id", "off", "gh", "n_docs", "first_doc", "is_foreign")))
  }

  /** Interval-merge + cut replay for one doc's foreign hit offsets. */
  private def scrubDoc(text: String, offs: Array[Int])
      : (Int, Long, String) = {
    val sorted = offs.sorted
    val ivs = Vector.newBuilder[(Int, Int)]
    var a = sorted(0); var end = sorted(0) + 50
    var i = 1
    while (i < sorted.length) {
      val off = sorted(i)
      if (off > end) { ivs += ((a, end)); a = off; end = off + 50 }
      else if (off + 50 > end) end = off + 50
      i += 1
    }
    ivs += ((a, end))
    val intervals = ivs.result()
    val sb = new java.lang.StringBuilder
    var p = 1
    intervals.foreach { case (s0, e0) =>
      if (s0 > p) sb.append(text, p - 1, math.min(s0 - 1, text.length))
      p = e0
    }
    if (p - 1 < text.length) sb.append(text, p - 1, text.length)
    val charsCut = intervals.map { case (s0, e0) => (e0 - s0).toLong }.sum
    (intervals.length, charsCut, sb.toString)
  }

  private def checkDd10(spark: SparkSession, docs: Array[Doc],
      out: String): (Digest, Digest) = {
    val (groupsH, inv) = spanInventory(docs)
    val exp = mergeAll(groupsH.par.map { case (text, ids, hits) =>
      val dg = new Digest
      val sharedHits = hits.filter { case (_, gh) => inv.get(gh)._1 >= 2 }
      if (sharedHits.nonEmpty) {
        // docs that are the first carrier of one of this text's grams
        // have a REDUCED hit set; everyone else shares the base set
        val firstDocs = sharedHits.map(h => inv.get(h._2)._2).toSet
        val baseOffs = sharedHits.map(_._1)
        def emit(id: Long, offs: Array[Int]): Unit =
          if (offs.nonEmpty) {
            val (nSpans, cut, clean) = scrubDoc(text, offs)
            dg.add(s"$id$Sep$nSpans$Sep$cut$Sep${clean.length}$Sep${md5hex(clean)}")
          }
        ids.foreach { id =>
          if (firstDocs.contains(id))
            emit(id, sharedHits.filter(h => inv.get(h._2)._2 != id).map(_._1))
          else emit(id, baseOffs)
        }
      }
      dg
    }.seq)
    (exp, digestOutput(spark, out,
      Seq("doc_id", "n_cut_spans", "chars_cut", "clean_len", "clean_md5")))
  }

  // ---------- vector family ----------

  /** RP-LSH banding front shared by v3/v6/v8: per-vector band keys,
    * norms, and the bucket → member-index lists. */
  /** Banded RP-LSH front: per-band sign keys, norms, and the bucket lists.
    * `planes` generalizes the pinned 4-bit config to the AUTO operating
    * points (round 13: the sixth-decade checks derive planes from corpus
    * size via the same [[graft.operators.OperatingPoint]] formula the
    * library entrypoint uses — the operating point is shared CONFIG, the
    * computation below stays independent). Bucket keys are longs
    * ((band << 32) | key) so any planes ≤ 24 fits. */
  private def rpFront(vecs: Array[Vec], bands: Int, planes: Int = 4)
      : (Array[Array[Int]], Array[Double], Array[Array[Double]],
         Vector[Array[Int]]) = {
    // dim from the DATA (round 14: the 384-dim fixture arm) — the sign
    // formula itself stays `j * 64 + k` at any dim, matching
    // VectorOps.rpSign exactly
    val signs = buildSigns(bands * planes, vecs(0).v.length,
      (j, k0) => rpSignPos(j, k0 + 1))
    val n = vecs.length
    val keys = new Array[Array[Int]](n)
    (0 until n).par.foreach(i => keys(i) = rpKeys(vecs(i).v, signs, planes))
    val norms = new Array[Double](n)
    (0 until n).par.foreach(i => norms(i) = math.sqrt(norm2(vecs(i).v)))
    val sufs = new Array[Array[Double]](n)
    (0 until n).par.foreach(i => sufs(i) = sufSq(vecs(i).v))
    val buckets = new java.util.HashMap[java.lang.Long, java.util.ArrayList[Integer]]()
    (0 until n).foreach { i =>
      var b = 0
      while (b < bands) {
        buckets.computeIfAbsent((b.toLong << 32) | keys(i)(b),
          _ => new java.util.ArrayList[Integer]()).add(i)
        b += 1
      }
    }
    val bucketList = Vector.newBuilder[Array[Int]]
    buckets.forEach { (bk, lst) =>
      val arr = new Array[Int](lst.size + 1)
      arr(0) = (bk >> 32).toInt // the band index rides in slot 0
      var i = 0
      while (i < lst.size) { arr(i + 1) = lst.get(i); i += 1 }
      bucketList += arr
    }
    (keys, norms, sufs, bucketList.result())
  }

  /** True iff the pair already met in an EARLIER band — the allocation-free
    * dedup: every surviving pair is emitted exactly once, from the first
    * band whose keys collide (identical sim in every copy, so which copy
    * survives is irrelevant; that it's exactly one is what matters). */
  private def metEarlier(keys: Array[Array[Int]], i: Int, j: Int,
      band: Int): Boolean = {
    var b = 0
    while (b < band) {
      if (keys(i)(b) == keys(j)(b)) return true
      b += 1
    }
    false
  }

  /** Banded RP-LSH near-dup pair digest (v3: 4 bands, v6: 2 bands;
    * `planes` = 4 pinned, or the derived AUTO point for the `*_auto`
    * sixth-decade checks). */
  private def checkRpPairs(spark: SparkSession, vecs: Array[Vec],
      bands: Int, out: String, planes: Int = 4): (Digest, Digest) = {
    val (keys, norms, sufs, bucketList) = rpFront(vecs, bands, planes)
    val exp = mergeAll(bucketList.par.map { arr =>
      val dg = new Digest
      val band = arr(0)
      var i = 1
      while (i < arr.length) {
        val vi = vecs(arr(i)); var j = i + 1
        while (j < arr.length) {
          val vj = vecs(arr(j))
          // early-exit at the keep-test floor (margin inside the t):
          // pruned pairs are provably below 0.2999985, kept pairs carry
          // the exact dot — digests unchanged by construction
          val d = dotGte(vi.v, vj.v, sufs(arr(i)), sufs(arr(j)),
            (0.2999985 - 1e-9) * (norms(arr(i)) * norms(arr(j))))
          val raw = d / (norms(arr(i)) * norms(arr(j)))
          if (raw >= 0.2999985 && !metEarlier(keys, arr(i), arr(j), band)) {
            val sim = rnd(raw, 6)
            if (sim >= 0.30) {
              val (a, b) = if (vi.id < vj.id) (vi.id, vj.id) else (vj.id, vi.id)
              dg.add(s"$a$Sep$b$Sep${java.lang.Double.toString(sim)}")
            }
          }
          j += 1
        }
        i += 1
      }
      dg
    }.seq)
    (exp, digestOutput(spark, out, Seq("a_id", "b_id", "sim")))
  }

  /** VectorOps' sketch-plane family (offset 2000; RankDedup owns 1000). */
  private def sketchSignPos(j: Int, k: Int): Boolean = {
    val x = mix64(((j + 2000).toLong << 32) | k.toLong)
    ((x >>> 33) & 1L) == 0L
  }

  /** v12 / high-sim: sketch-gated banded near-dup
    * ([[graft.operators.VectorOps.nearDupPairsHighSimOver]]) — band
    * buckets, the 128-bit sign-sketch hamming gate (h ≤ H, bits from the
    * offset-2000 mix64 family), exact round6 verify ≥ threshold on gate
    * survivors. The gate depends only on the PAIR, never the bucket, so
    * first-band emission (metEarlier) dedups exactly like the library's
    * distinct-then-gather. */
  private def checkSketchPairs(spark: SparkSession, vecs: Array[Vec],
      out: String, bands: Int, planes: Int, maxHamming: Int,
      threshold: Double): (Digest, Digest) = {
    val (keys, norms, sufs, bucketList) = rpFront(vecs, bands, planes)
    val dim = vecs(0).v.length
    val skSigns = buildSigns(128, dim, (j, k0) => sketchSignPos(j, k0 + 1))
    val n = vecs.length
    val sk0 = new Array[Long](n)
    val sk1 = new Array[Long](n)
    (0 until n).par.foreach { i =>
      var w0 = 0L; var w1 = 0L
      val v = vecs(i).v
      var j = 0
      while (j < 128) {
        var d = 0.0; var k = 0
        while (k < dim) { d += skSigns(j)(k) * v(k); k += 1 }
        if (d > 0.0) { if (j < 64) w0 |= 1L << j else w1 |= 1L << (j - 64) }
        j += 1
      }
      sk0(i) = w0; sk1(i) = w1
    }
    val prune = threshold - 1e-6
    val exp = mergeAll(bucketList.par.map { arr =>
      val dg = new Digest
      val band = arr(0)
      var i = 1
      while (i < arr.length) {
        var j = i + 1
        while (j < arr.length) {
          val a = arr(i); val b = arr(j)
          if (java.lang.Long.bitCount(sk0(a) ^ sk0(b)) +
              java.lang.Long.bitCount(sk1(a) ^ sk1(b)) <= maxHamming &&
              !metEarlier(keys, a, b, band)) {
            val raw = dotGte(vecs(a).v, vecs(b).v, sufs(a), sufs(b),
              (prune - 1e-9) * (norms(a) * norms(b))) / (norms(a) * norms(b))
            // abandoned pairs return -Inf (checkpoints exist only past 64
            // dims — the ×64 arm never abandons, which is why only the
            // 384 arm could hit rnd(-Inf)); filter BEFORE rounding, the
            // checkRpPairs discipline
            if (raw >= prune) {
              val sim = rnd(raw, 6)
              if (sim >= threshold) {
                val (x, y) =
                  if (vecs(a).id < vecs(b).id) (vecs(a).id, vecs(b).id)
                  else (vecs(b).id, vecs(a).id)
                dg.add(s"$x$Sep$y$Sep${java.lang.Double.toString(sim)}")
              }
            }
          }
          j += 1
        }
        i += 1
      }
      dg
    }.seq)
    (exp, digestOutput(spark, out, Seq("a_id", "b_id", "sim")))
  }

  /** v8: labels from union-find over the independently recomputed v3 pair
    * set, compared row-wise against the output. Returns mismatch count in
    * the digest slot (exp == act iff zero mismatches). */
  private def checkV8(spark: SparkSession, vecs: Array[Vec],
      out: String, planes: Int = 4): (Digest, Digest) = {
    val labels = v8Labels(vecs, planes)
    val exp = new Digest
    vecs.foreach(v => exp.add(s"${v.id}$Sep${labels(v.id)}"))
    (exp, digestOutput(spark, out, Seq("vec_id", "component")))
  }

  /** Component labels from union-find over the independently recomputed
    * v3 pair set ([[checkV8]]'s front half, shared with the v14
    * retention replay). */
  private def v8Labels(vecs: Array[Vec], planes: Int)
      : scala.collection.mutable.LongMap[Long] = {
    // edges pack as (a<<32)|b — loud guard instead of silent aliasing
    require(vecs.forall(v => v.id >= 0 && v.id < (1L << 32)),
      "edge packing assumes vec_id in [0, 2^32)")
    val (keys, norms, sufs, bucketList) = rpFront(vecs, 4, planes)
    // per-bucket primitive edge arrays (first-band dedup), then one
    // sequential union-find — never a boxed global set
    val edgeChunks = bucketList.par.map { arr =>
      val band = arr(0)
      val outB = new scala.collection.mutable.ArrayBuilder.ofLong
      var i = 1
      while (i < arr.length) {
        var j = i + 1
        while (j < arr.length) {
          val raw = dotGte(vecs(arr(i)).v, vecs(arr(j)).v,
            sufs(arr(i)), sufs(arr(j)),
            (0.2999985 - 1e-9) * (norms(arr(i)) * norms(arr(j)))) /
            (norms(arr(i)) * norms(arr(j)))
          if (raw >= 0.2999985 && !metEarlier(keys, arr(i), arr(j), band) &&
              rnd(raw, 6) >= 0.30) {
            val a = vecs(arr(i)).id; val b = vecs(arr(j)).id
            outB += (if (a < b) (a << 32) | b else (b << 32) | a)
          }
          j += 1
        }
        i += 1
      }
      outB.result()
    }.seq
    val uf = new UnionFind
    edgeChunks.foreach(_.foreach(pk => uf.union(pk >>> 32, pk & 0xffffffffL)))
    uf.labels(vecs.iterator.map(_.id).toVector)
  }

  /** Shared tail of the v14 retention replays: component labels →
    * integer-sum component means (the `centroidMeans` discipline:
    * per-(component, i) bigint sums of round(x·1e8), then
    * sum/count/1e8 in the library's division order) → round6 centroid
    * sims → keep = (min sim, id asc) per component — the SemDeDup
    * keep-farthest policy [[graft.operators.VectorOps.embedRetentionOver]]
    * computes on the TopKRows heap. */
  private def retentionDigest(spark: SparkSession, vecs: Array[Vec],
      labels: scala.collection.mutable.LongMap[Long],
      out: String): (Digest, Digest) = {
    val dim = vecs(0).v.length
    val sums = new scala.collection.mutable.LongMap[Array[Long]]()
    val cnts = new scala.collection.mutable.LongMap[Long]()
    vecs.foreach { v =>
      val c = labels(v.id)
      val s = sums.getOrElseUpdate(c, new Array[Long](dim))
      var i = 0
      while (i < dim) { s(i) += rndLong(v.v(i) * 1e8); i += 1 }
      cnts(c) = cnts.getOrElse(c, 0L) + 1L
    }
    val means = new scala.collection.mutable.LongMap[Array[Double]]()
    val meanNorm = new scala.collection.mutable.LongMap[Double]()
    sums.foreach { case (c, s) =>
      val cnt = cnts(c).toDouble
      val m = new Array[Double](dim)
      var i = 0
      while (i < dim) { m(i) = s(i).toDouble / cnt / 1e8; i += 1 }
      means(c) = m; meanNorm(c) = math.sqrt(norm2(m))
    }
    val sims = new Array[Double](vecs.length)
    (0 until vecs.length).par.foreach { i =>
      val v = vecs(i); val c = labels(v.id)
      val nv = math.sqrt(norm2(v.v)); val nm = meanNorm(c)
      val raw =
        if (nv == 0.0 || nm == 0.0) 0.0 else dot(v.v, means(c)) / (nv * nm)
      sims(i) = rnd(raw, 6)
    }
    val bestIdx = new scala.collection.mutable.LongMap[Int]()
    vecs.indices.foreach { i =>
      val c = labels(vecs(i).id)
      bestIdx.get(c) match {
        case Some(j) =>
          if (sims(i) < sims(j) ||
              (sims(i) == sims(j) && vecs(i).id < vecs(j).id)) bestIdx(c) = i
        case None => bestIdx(c) = i
      }
    }
    val exp = new Digest
    vecs.indices.foreach { i =>
      val c = labels(vecs(i).id)
      val canonical = vecs(bestIdx(c)).id
      exp.add(s"${vecs(i).id}$Sep$c$Sep" +
        s"${java.lang.Double.toString(sims(i))}$Sep" +
        s"${vecs(i).id == canonical}$Sep$canonical")
    }
    (exp, digestOutput(spark, out,
      Seq("vec_id", "component", "centroid_sim", "keep", "canonical")))
  }

  /** v14 pinned: retention over [[checkV8]]'s 4-plane pair graph. */
  private def checkV14(spark: SparkSession, vecs: Array[Vec],
      out: String): (Digest, Digest) =
    retentionDigest(spark, vecs, v8Labels(vecs, 4), out)

  /** v14 AUTO: retention over the policy front door's dedup-band arm
    * ([[graft.operators.VectorOps.embedRetentionAuto]] with no recall
    * contract dispatches to the learned-cell blocker at the auto
    * operating point — same flat/hier switch as v13_auto), replayed
    * end to end: sem membership → pair edges → union-find → the shared
    * retention tail. */
  private def checkV14Auto(spark: SparkSession, vecs: Array[Vec],
      out: String): (Digest, Digest) = {
    val k = graft.operators.OperatingPoint.semDedupCells(vecs.length)
    val (cell1, cell2) =
      if (k > graft.operators.OperatingPoint.semHierCells)
        semCellsHier(vecs, k, 3)
      else semCellsFlat(vecs, k, 3, modInit = true)
    val (_, edges) =
      semPairsCompute(vecs, cell1, cell2, 0.8, collectEdges = true)
    val uf = new UnionFind
    edges.foreach(pk => uf.union(pk >>> 32, pk & 0xffffffffL))
    retentionDigest(spark, vecs,
      uf.labels(vecs.iterator.map(_.id).toVector), out)
  }

  /** v4: IVF batch k-NN join (first-`kCells` centroids, 2 probes, top-3;
    * 16 pinned, or the derived √n AUTO point for `v4_auto`). */
  private def checkV4(spark: SparkSession, vecs: Array[Vec],
      out: String, kCells: Int = 16): (Digest, Digest) = {
    val cent = vecs.filter(_.id < kCells).sortBy(_.id)
      .map(v => (v.id.toInt, v.v))
    require(cent.length == kCells,
      s"v4: expected $kCells seed centroids, found ${cent.length}")
    val n = vecs.length
    // per vector: rounded-cosine ranking over the 16 centroids
    val member = new Array[Int](n)   // rn == 1 cell
    val probe2 = new Array[Int](n)   // rn == 2 cell
    (0 until n).par.foreach { i =>
      val v = vecs(i).v
      var best: (Double, Int) = (-2.0, Int.MaxValue)
      var second: (Double, Int) = (-2.0, Int.MaxValue)
      cent.foreach { case (cid, c) =>
        val cs = rnd(cosine(v, c), 6)
        // order: csim desc, cid asc
        if (cs > best._1 || (cs == best._1 && cid < best._2)) {
          second = best; best = (cs, cid)
        } else if (cs > second._1 || (cs == second._1 && cid < second._2)) {
          second = (cs, cid)
        }
      }
      member(i) = best._2; probe2(i) = second._2
    }
    val cells = Array.fill(kCells)(new java.util.ArrayList[Integer]())
    (0 until n).foreach(i => cells(member(i)).add(i))
    val cellArr = cells.map { l =>
      val a = new Array[Int](l.size); var i = 0
      while (i < a.length) { a(i) = l.get(i); i += 1 }
      a
    }
    val exp = mergeAll((0 until n).par.map { i =>
      val dg = new Digest
      val a = vecs(i)
      // candidates: members of the two probed cells, minus self; keep a
      // raw top-K margin window, then exact round6 re-rank for the top 3.
      // If the window boundary sits within a rounding quantum of the 3rd
      // rounded sim (a deep 1e-6 tie the margin could mis-cut), redo the
      // vector with the window wide open — correctness never rides on the
      // margin, only speed does.
      val K = 24
      def rank(window: Int): Vector[(Double, Long)] = {
        val simT = new Array[Double](window)
        val bidT = new Array[Long](window)
        var m = 0 // filled
        var minIdx = -1
        Seq(member(i), probe2(i)).foreach { cid =>
          cellArr(cid).foreach { bi =>
            val b = vecs(bi)
            if (b.id != a.id) {
              val raw = cosine(a.v, b.v)
              if (m < window) {
                simT(m) = raw; bidT(m) = b.id; m += 1
                if (m == window) {
                  minIdx = 0
                  var t = 1
                  while (t < window) { if (simT(t) < simT(minIdx)) minIdx = t; t += 1 }
                }
              } else if (raw > simT(minIdx)) {
                simT(minIdx) = raw; bidT(minIdx) = b.id
                var t = 0; minIdx = 0
                while (t < window) { if (simT(t) < simT(minIdx)) minIdx = t; t += 1 }
              }
            }
          }
        }
        val full = m == window
        val floor = if (full) simT.take(m).min else Double.NegativeInfinity
        val ranked = (0 until m).map(t => (rnd(simT(t), 6), bidT(t)))
          .sortBy { case (s, bid) => (-s, bid) }.toVector
        require(ranked.length >= 3, s"v4: cell candidates < 3 for ${a.id}")
        if (full && ranked(2)._1 - floor < 2e-6) Vector.empty // margin breach
        else ranked
      }
      val ranked = {
        val r = rank(K)
        if (r.nonEmpty) r else rank(Int.MaxValue / 2 min (vecs.length + 1))
      }
      ranked.take(3).zipWithIndex.foreach { case ((s, bid), rk0) =>
        dg.add(s"${a.id}$Sep$bid$Sep${java.lang.Double.toString(s)}$Sep${rk0 + 1}")
      }
      dg
    }.seq)
    (exp, digestOutput(spark, out, Seq("a_id", "b_id", "sim", "rk")))
  }

  /** v5 shared machinery: rounded-cosine argmax assignment. */
  private def assign(vecs: Array[Vec], cent: Array[(Int, Array[Double])])
      : Array[Int] = {
    val out = new Array[Int](vecs.length)
    (0 until vecs.length).par.foreach { i =>
      var bestS = -2.0; var bestC = Int.MaxValue
      cent.foreach { case (cid, c) =>
        val cs = rnd(cosine(vecs(i).v, c), 6)
        if (cs > bestS || (cs == bestS && cid < bestC)) { bestS = cs; bestC = cid }
      }
      out(i) = bestC
    }
    out
  }

  private def top10Rows(vecs: Array[Vec], cent: Array[(Int, Array[Double])],
      assigned: Array[Int]): Vector[String] = {
    val probe = vecs.find(_.id == 1L).get.v
    val topCells = cent.map { case (cid, c) => (rnd(cosine(c, probe), 6), cid) }
      .sortBy { case (s, cid) => (-s, cid) }.take(2).map(_._2).toSet
    val rows = (0 until vecs.length).par.flatMap { i =>
      if (vecs(i).id != 1L && topCells.contains(assigned(i)))
        Some((vecs(i).id, assigned(i), rnd(cosine(vecs(i).v, probe), 6)))
      else None
    }.seq.toVector
    rows.sortBy { case (id, _, s) => (-s, id) }.take(10)
      .map { case (id, cid, s) =>
        s"$id$Sep$cid$Sep${java.lang.Double.toString(s)}" }
  }

  private def checkV5Assign(spark: SparkSession, vecs: Array[Vec],
      out: String): (Digest, Digest) = {
    val cent = vecs.filter(_.id < 8).sortBy(_.id).map(v => (v.id.toInt, v.v))
    val assigned = assign(vecs, cent)
    val exp = new Digest
    top10Rows(vecs, cent, assigned).foreach(exp.add)
    (exp, digestOutput(spark, out, Seq("vec_id", "cid", "sim")))
  }

  /** Lloyd's centroids after `iters` steps, mirroring the library's
    * kmeansCentroids: rounded-cosine argmax assignment ([[assign]]) and
    * integer-scaled component means (sum(round(x·1e8)::long)/count/1e8 —
    * order-free sums, IEEE-deterministic divisions). `modInit` seeds each
    * cell with the mean of its id-mod-K partition (the auto paths' layout-
    * independent init); otherwise cells seed from the first-K ids. */
  /** [[assign]] with the norms hoisted — bit-equal by construction:
    * [[cosine]]'s fused loop accumulates d/na/nb in the same left-assoc
    * order as [[dot]]/[[norm2]] over the same arrays, so
    * d / (sqrt(na)·sqrt(nb)) sees identical operands. At the learned-cell
    * blocking grain (K = n/128 ⇒ n·K = n²/128 rank evaluations) the
    * fused form's 3-mult loop is pure waste: norms are per-VECTOR, not
    * per-pair. */
  private def assignFast(vecs: Array[Vec], cent: Array[(Int, Array[Double])])
      : Array[Int] = {
    val vn = new Array[Double](vecs.length)
    (0 until vecs.length).par.foreach(i => vn(i) = math.sqrt(norm2(vecs(i).v)))
    val cn = cent.map { case (_, c) => math.sqrt(norm2(c)) }
    val out = new Array[Int](vecs.length)
    (0 until vecs.length).par.foreach { i =>
      var bestS = -2.0; var bestC = Int.MaxValue
      var j = 0
      while (j < cent.length) {
        val nb = cn(j)
        val raw =
          if (vn(i) == 0.0 || nb == 0.0) 0.0
          else dot(vecs(i).v, cent(j)._2) / (vn(i) * nb)
        val cs = rnd(raw, 6)
        val cid = cent(j)._1
        if (cs > bestS || (cs == bestS && cid < bestC)) { bestS = cs; bestC = cid }
        j += 1
      }
      out(i) = bestC
    }
    out
  }

  private def lloydCentroids(vecs: Array[Vec], iters: Int, k: Int,
      modInit: Boolean): Array[(Int, Array[Double])] = {
    val dim = vecs(0).v.length
    // the integer-scaled components round(x*1e8) are functions of the
    // CONSTANT vectors — precompute once, in parallel
    val scaled = new Array[Array[Long]](vecs.length)
    (0 until vecs.length).par.foreach { i =>
      scaled(i) = vecs(i).v.map(x => rndLong(x * 1e8))
    }
    def means(assigned: Array[Int]): Array[(Int, Array[Double])] = {
      val sums = new java.util.HashMap[Integer, (Array[Long], Array[Long])]()
      (0 until vecs.length).foreach { i =>
        val e = sums.computeIfAbsent(assigned(i),
          _ => (new Array[Long](dim), new Array[Long](1)))
        val v = scaled(i); var j = 0
        while (j < dim) { e._1(j) += v(j); j += 1 }
        e._2(0) += 1
      }
      val next = Vector.newBuilder[(Int, Array[Double])]
      sums.forEach { (cid, e) =>
        val c = new Array[Double](dim); var j = 0
        while (j < dim) { c(j) = e._1(j).toDouble / e._2(0).toDouble / 1e8; j += 1 }
        next += ((cid.intValue, c))
      }
      next.result().sortBy(_._1).toArray
    }
    var cent =
      if (modInit) means(vecs.map(v => (v.id % k).toInt))
      else vecs.filter(_.id < k).sortBy(_.id).map(v => (v.id.toInt, v.v))
    for (_ <- 1 to iters) cent = means(assignFast(vecs, cent))
    cent
  }

  private def checkV5Kmeans(spark: SparkSession, vecs: Array[Vec],
      out: String): (Digest, Digest) = {
    val cent = lloydCentroids(vecs, 3, 8, modInit = false)
    val assigned = assign(vecs, cent)
    val exp = new Digest
    top10Rows(vecs, cent, assigned).foreach(exp.add)
    (exp, digestOutput(spark, out, Seq("vec_id", "cid", "sim")))
  }

  /** Top-2 of `cands` cells per vector — [[assign]]'s (rnd-cosine desc,
    * cid asc) policy extended to rank 2, norms hoisted (bit-equal; see
    * [[assignFast]]). `cands(i)` lists a vector's candidate (cid, cvec,
    * cnorm) triples; rank 2 absent → -1 (fewer than two candidates). */
  private def top2Cells(vecs: Array[Vec], norms: Array[Double],
      cands: Int => Array[(Int, Array[Double], Double)])
      : (Array[Int], Array[Int]) = {
    val n = vecs.length
    val cell1 = new Array[Int](n); val cell2 = new Array[Int](n)
    (0 until n).par.foreach { i =>
      var s1 = -2.0; var c1 = Int.MaxValue; var s2 = -2.0; var c2 = Int.MaxValue
      var found = 0
      val cs0 = cands(i)
      var j = 0
      while (j < cs0.length) {
        val (cid, c, nb) = cs0(j)
        val raw =
          if (norms(i) == 0.0 || nb == 0.0) 0.0
          else dot(vecs(i).v, c) / (norms(i) * nb)
        val cs = rnd(raw, 6)
        if (cs > s1 || (cs == s1 && cid < c1)) {
          s2 = s1; c2 = c1; s1 = cs; c1 = cid
        } else if (cs > s2 || (cs == s2 && cid < c2)) { s2 = cs; c2 = cid }
        found += 1
        j += 1
      }
      cell1(i) = c1
      cell2(i) = if (found < 2) -1 else c2
    }
    (cell1, cell2)
  }

  /** Shared tail of the sem checks: co-membership pairs over the top-2
    * cell arrays (a pair sharing both cells emits once, in its smaller
    * shared cid — the library's distinct), exact early-exit verify,
    * digest. cell2 = -1 means no second membership. */
  private def semPairsDigest(spark: SparkSession, vecs: Array[Vec],
      cell1: Array[Int], cell2: Array[Int], threshold: Double,
      out: String): (Digest, Digest) = {
    val (exp, _) =
      semPairsCompute(vecs, cell1, cell2, threshold, collectEdges = false)
    (exp, digestOutput(spark, out, Seq("a_id", "b_id", "sim")))
  }

  /** The sem families' pair loop, emitting the expected-side digest and —
    * when `collectEdges` — the surviving pairs packed as (a<<32)|b for
    * the v14 retention replay's union-find (same packing/guard as
    * [[v8Labels]]; ~8 B/pair, bounded by the family's candidates-linear
    * gate). */
  private def semPairsCompute(vecs: Array[Vec],
      cell1: Array[Int], cell2: Array[Int], threshold: Double,
      collectEdges: Boolean): (Digest, Array[Long]) = {
    if (collectEdges)
      require(vecs.forall(v => v.id >= 0 && v.id < (1L << 32)),
        "edge packing assumes vec_id in [0, 2^32)")
    val n = vecs.length
    val norms = new Array[Double](n)
    val sufs = new Array[Array[Double]](n)
    (0 until n).par.foreach { i =>
      norms(i) = math.sqrt(norm2(vecs(i).v)); sufs(i) = sufSq(vecs(i).v)
    }
    val buckets = new java.util.HashMap[Integer,
      scala.collection.mutable.ArrayBuilder.ofInt]()
    def bucketOf(cid: Int) = buckets.computeIfAbsent(cid,
      _ => new scala.collection.mutable.ArrayBuilder.ofInt)
    (0 until n).foreach { i =>
      bucketOf(cell1(i)) += i
      if (cell2(i) >= 0) bucketOf(cell2(i)) += i
    }
    // smallest cid the pair shares — emission bucket (once per pair).
    // cell1 is always a real cid (≥ 0) so comparing it to a -1 sentinel
    // is harmlessly false; cell2 needs the ≥ 0 guard or two
    // single-membership vectors would "share" the sentinel
    def minShared(a: Int, b: Int): Int = {
      var m = Int.MaxValue
      if (cell1(a) == cell1(b) || cell1(a) == cell2(b)) m = cell1(a)
      if (cell2(a) >= 0 &&
          (cell2(a) == cell1(b) || cell2(a) == cell2(b)) && cell2(a) < m)
        m = cell2(a)
      m
    }
    val prune = threshold - 1.5e-6
    import scala.jdk.CollectionConverters._
    val work = buckets.entrySet().asScala.toVector
      .map(e => (e.getKey.intValue, e.getValue.result()))
    val results = work.par.map { case (cid, arr) =>
      val dg = new Digest
      val eb = new scala.collection.mutable.ArrayBuilder.ofLong
      var i = 0
      while (i < arr.length) {
        var j = i + 1
        while (j < arr.length) {
          val a = arr(i); val b = arr(j)
          if (minShared(a, b) == cid) {
            val raw = dotGte(vecs(a).v, vecs(b).v, sufs(a), sufs(b),
              (prune - 1e-9) * (norms(a) * norms(b))) / (norms(a) * norms(b))
            // abandoned pairs return -Inf: filter BEFORE rounding
            if (raw >= prune) {
              val sim = rnd(raw, 6)
              if (sim >= threshold) {
                val (x, y) =
                  if (vecs(a).id < vecs(b).id) (vecs(a).id, vecs(b).id)
                  else (vecs(b).id, vecs(a).id)
                dg.add(s"$x$Sep$y$Sep${java.lang.Double.toString(sim)}")
                if (collectEdges) eb += (x << 32) | y
              }
            }
          }
          j += 1
        }
        i += 1
      }
      (dg, eb.result())
    }.seq
    val edges =
      if (collectEdges) {
        val out = new scala.collection.mutable.ArrayBuilder.ofLong
        results.foreach(r => out ++= r._2)
        out.result()
      } else Array.emptyLongArray
    (mergeAll(results.map(_._1)), edges)
  }

  /** v13: SemDeDup-shape learned-cell near-dup
    * ([[graft.operators.VectorOps.semDedupPairsOver]]) — flat Lloyd
    * centroids, top-2 cell membership, co-membership pairs, exact
    * verify. */
  private def checkSemPairs(spark: SparkSession, vecs: Array[Vec],
      out: String, k: Int, iters: Int, threshold: Double,
      modInit: Boolean): (Digest, Digest) = {
    val (cell1, cell2) = semCellsFlat(vecs, k, iters, modInit)
    semPairsDigest(spark, vecs, cell1, cell2, threshold, out)
  }

  /** Flat-arm top-2 cell membership ([[checkSemPairs]]'s front half,
    * shared with the v14 retention replay). */
  private def semCellsFlat(vecs: Array[Vec], k: Int, iters: Int,
      modInit: Boolean): (Array[Int], Array[Int]) = {
    val cent = lloydCentroids(vecs, iters, k, modInit)
    val norms = new Array[Double](vecs.length)
    (0 until vecs.length).par.foreach(i =>
      norms(i) = math.sqrt(norm2(vecs(i).v)))
    val cands = cent.map { case (cid, c) => (cid, c, math.sqrt(norm2(c))) }
    top2Cells(vecs, norms, _ => cands)
  }

  /** v13 HIERARCHICAL arm
    * ([[graft.operators.VectorOps.semDedupPairsHierOver]]): supers via
    * Lloyd over the corpus (mod-K₁ init), home super per vector, local
    * Lloyd within each super on the composite (sup, lc) key, membership =
    * top-2 supers → top-2 composite cells over both supers' locals
    * (cid = sup·Kl + lc), then the shared pairs/verify tail. */
  private def checkSemPairsHier(spark: SparkSession, vecs: Array[Vec],
      out: String, k: Int, iters: Int, threshold: Double): (Digest, Digest) = {
    val (cell1, cell2) = semCellsHier(vecs, k, iters)
    semPairsDigest(spark, vecs, cell1, cell2, threshold, out)
  }

  /** Hier-arm top-2 composite-cell membership ([[checkSemPairsHier]]'s
    * front half, shared with the v14 retention replay). */
  private def semCellsHier(vecs: Array[Vec], k: Int,
      iters: Int): (Array[Int], Array[Int]) = {
    val n = vecs.length
    val k1 = math.max(2, math.ceil(math.sqrt(2.0 * k)).toInt)
    val kl = math.max(1, math.ceil(k.toDouble / k1).toInt)
    val norms = new Array[Double](n)
    (0 until n).par.foreach(i => norms(i) = math.sqrt(norm2(vecs(i).v)))
    val scaled = new Array[Array[Long]](n)
    (0 until n).par.foreach { i =>
      scaled(i) = vecs(i).v.map(x => rndLong(x * 1e8))
    }
    val dim = vecs(0).v.length
    // phase A: supers over the corpus; phase B: home super per vector
    val sup = lloydCentroids(vecs, iters, k1, modInit = true)
    val home = assignFast(vecs, sup)
    // phase C: local Lloyd within each super — group members by home,
    // then per super (parallel) run the mod-Kl-init Lloyd with the
    // integer-sum means over the precomputed scaled components
    val bySup = new java.util.HashMap[Integer,
      scala.collection.mutable.ArrayBuilder.ofInt]()
    (0 until n).foreach { i =>
      bySup.computeIfAbsent(home(i),
        _ => new scala.collection.mutable.ArrayBuilder.ofInt) += i
    }
    import scala.jdk.CollectionConverters._
    val superGroups = bySup.entrySet().asScala.toVector
      .map(e => (e.getKey.intValue, e.getValue.result()))
    // locals(sup) = array of (lc, centroid, norm)
    val locals = new java.util.concurrent.ConcurrentHashMap[Integer,
      Array[(Int, Array[Double], Double)]]()
    superGroups.par.foreach { case (s, members) =>
      def means(assignedLc: Array[Int]): Array[(Int, Array[Double])] = {
        val sums = new java.util.HashMap[Integer, (Array[Long], Array[Long])]()
        var m = 0
        while (m < members.length) {
          val e = sums.computeIfAbsent(assignedLc(m),
            _ => (new Array[Long](dim), new Array[Long](1)))
          val v = scaled(members(m)); var j = 0
          while (j < dim) { e._1(j) += v(j); j += 1 }
          e._2(0) += 1
          m += 1
        }
        val next = Vector.newBuilder[(Int, Array[Double])]
        sums.forEach { (lc, e) =>
          val c = new Array[Double](dim); var j = 0
          while (j < dim) {
            c(j) = e._1(j).toDouble / e._2(0).toDouble / 1e8; j += 1
          }
          next += ((lc.intValue, c))
        }
        next.result().sortBy(_._1).toArray
      }
      var loc = means(members.map(i => (vecs(i).id % kl).toInt))
      for (_ <- 1 to iters) {
        val ln = loc.map { case (_, c) => math.sqrt(norm2(c)) }
        val assignedLc = members.map { i =>
          var bestS = -2.0; var bestC = Int.MaxValue
          var j = 0
          while (j < loc.length) {
            val raw =
              if (norms(i) == 0.0 || ln(j) == 0.0) 0.0
              else dot(vecs(i).v, loc(j)._2) / (norms(i) * ln(j))
            val cs = rnd(raw, 6)
            if (cs > bestS || (cs == bestS && loc(j)._1 < bestC)) {
              bestS = cs; bestC = loc(j)._1
            }
            j += 1
          }
          bestC
        }
        loc = means(assignedLc)
      }
      locals.put(s, loc.map { case (lc, c) => (lc, c, math.sqrt(norm2(c))) })
    }
    // phase D: top-SuperProbes supers per vector ((rnd-cosine desc, sup
    // asc) — TopKRows' total order), then top-2 composite cells over the
    // probed supers' locals
    val probes = graft.operators.VectorOps.SuperProbes
    val supCands = sup.map { case (cid, c) => (cid, c, math.sqrt(norm2(c))) }
    val topSup = new Array[Array[Int]](n)
    (0 until n).par.foreach { i =>
      topSup(i) = supCands.map { case (cid, c, nb) =>
        val raw =
          if (norms(i) == 0.0 || nb == 0.0) 0.0
          else dot(vecs(i).v, c) / (norms(i) * nb)
        (rnd(raw, 6), cid)
      }.sortBy { case (cs, cid) => (-cs, cid) }.take(probes).map(_._2)
    }
    top2Cells(vecs, norms, { i =>
      topSup(i).flatMap { s =>
        locals.getOrDefault(s, Array.empty[(Int, Array[Double], Double)])
          .map { case (lc, c, nn) => (s * kl + lc, c, nn) }
      }
    })
  }

  /** dd5: banded ≥0.94 match + rank-gated upsert replay. */
  private def checkDd5(spark: SparkSession, vecs: Array[Vec],
      out: String, planes: Int = 4): (Digest, Digest) = {
    val signs = buildSigns(8 * planes, vecs(0).v.length, ddSignPos)
    final case class Item(id: Long, v: Array[Double], rank: Long, nrm: Double,
      suf: Array[Double], keys: Array[Int])
    def items(src: Array[Vec], idOff: Long, rankOff: Long): Array[Item] =
      src.map { x =>
        Item(x.id + idOff, x.v, (x.id + rankOff) % 11, math.sqrt(norm2(x.v)),
          sufSq(x.v), rpKeys(x.v, signs, planes))
      }
    val store = items(vecs, 0L, 0L)
    val cand = items(vecs.filter(_.id % 3 == 0), 10000L, 5L)
    // Bucket-centric probe walk (round 14): the r13 form walked each
    // candidate's 8 buckets inside one .par iteration, so a HOT sign-key
    // bucket was rescanned serially by every one of its candidates through
    // boxed ArrayList cells — the ×1000 recompute was killed at 55 min on
    // exactly those buckets while the Spark side spread them over 200
    // reducers. Here the work units are (bucket, candidate-chunk) pairs
    // with bounded pair count (~2^22 dot products each), over primitive
    // int arrays, so hot buckets parallelize like any other work and the
    // total is Σ|cand_b|·|store_b| dots with no serialization point.
    val sBuckets = new java.util.HashMap[java.lang.Long,
      scala.collection.mutable.ArrayBuilder.ofInt]()
    store.indices.foreach { i =>
      var b = 0
      while (b < 8) {
        sBuckets.computeIfAbsent((b.toLong << 32) | store(i).keys(b),
          _ => new scala.collection.mutable.ArrayBuilder.ofInt) += i
        b += 1
      }
    }
    val cBuckets = new java.util.HashMap[java.lang.Long,
      scala.collection.mutable.ArrayBuilder.ofInt]()
    cand.indices.foreach { i =>
      var b = 0
      while (b < 8) {
        val k = (b.toLong << 32) | cand(i).keys(b)
        if (sBuckets.containsKey(k))
          cBuckets.computeIfAbsent(k,
            _ => new scala.collection.mutable.ArrayBuilder.ofInt) += i
        b += 1
      }
    }
    val units = Vector.newBuilder[(Array[Int], Array[Int], Int, Int)]
    cBuckets.forEach { (k, cb) =>
      val sArr = sBuckets.get(k).result()
      val cArr = cb.result()
      val chunk = math.max(1, (1 << 22) / math.max(1, sArr.length))
      var f = 0
      while (f < cArr.length) {
        units += ((sArr, cArr, f, math.min(f + chunk, cArr.length)))
        f += chunk
      }
    }
    // per-unit local bests, merged with the (msim desc, sid asc) order.
    // Duplicate (cand, store) encounters across bands carry the identical
    // msim, so re-merging cannot change the max — no dedup set needed.
    val best = new java.util.concurrent.ConcurrentHashMap[Long, (Double, Long, Long)]()
    units.result().par.foreach { case (sArr, cArr, from, to) =>
      var ci = from
      while (ci < to) {
        val c = cand(cArr(ci))
        var bestSim = -2.0; var bestSid = Long.MaxValue; var bestSrank = 0L
        var i = 0
        while (i < sArr.length) {
          val s = store(sArr(i))
          // early-exit at the 0.94 gate — at 384-dim most candidates
          // abandon at the FIRST checkpoint (0.94 - sqrt(suffix energy)
          // goes positive almost immediately); kept msims are exact
          val msim = dotGte(c.v, s.v, c.suf, s.suf,
            (0.94 - 1e-9) * (c.nrm * s.nrm)) / (c.nrm * s.nrm)
          if (msim >= 0.94 &&
              (msim > bestSim || (msim == bestSim && s.id < bestSid))) {
            bestSim = msim; bestSid = s.id; bestSrank = s.rank
          }
          i += 1
        }
        if (bestSim >= 0.94) {
          val v = (bestSim, bestSid, bestSrank)
          best.merge(c.id, v, (a, b) =>
            if (b._1 > a._1 || (b._1 == a._1 && b._2 < a._2)) b else a)
        }
        ci += 1
      }
    }
    val exp = new Digest
    val replaced = new java.util.HashSet[Long]()
    cand.foreach { c =>
      if (c.rank >= 6) {
        val m = best.get(c.id)
        if (m == null || c.rank > m._3) {
          exp.add(s"${c.id}$Sep${c.rank}${Sep}inserted")
          if (m != null && c.rank > m._3) replaced.add(m._2)
        }
      }
    }
    store.foreach { s =>
      if (!replaced.contains(s.id)) exp.add(s"${s.id}$Sep${s.rank}${Sep}kept")
    }
    (exp, digestOutput(spark, out, Seq("id", "rank", "status")))
  }

  // ---------- c5 ----------

  private def checkC5(spark: SparkSession, docs: Array[Doc],
      out: String): (Digest, Digest) = {
    val grouped = groupByTextLite(docs.iterator.map(d => (d.id, d.text)).toVector)
    // unigram model over ALL tokens (group multiplicity applies)
    val freq = new java.util.HashMap[String, Long]()
    var total = 0L
    grouped.foreach { case (t, ids) =>
      val w = words(t)
      total += w.length.toLong * ids.length
      w.foreach(x => freq.merge(x, ids.length.toLong, (a, b) => a + b))
    }
    val v = freq.size.toLong
    val lp = new java.util.HashMap[String, java.lang.Long]()
    freq.forEach { (w, c) =>
      if (c >= 2)
        lp.put(w, rndLong(math.log((c + 1).toDouble / (total + v).toDouble) * 1e6))
    }
    val oovLp = rndLong(math.log(1.0 / (total + v).toDouble) * 1e6)
    // per distinct text: quality-LR keep, surprisal sums, perplexity keep
    val perText = grouped.par.map { case (t, ids) =>
      val w = words(t)
      val q = quality(t)
      val fLen = math.min(w.length.toDouble / 100.0, 1.0)
      val fStop = math.min(q.stop * 5.0, 1.0)
      val fAwl = rnd(t.replace(" ", "").length.toDouble / w.length.toDouble, 6)
      val z = rnd(-2.1 + fLen * 1.6 + q.uniq * 1.8 + fStop * 1.1 - fAwl * 0.1, 8)
      var sumLp = 0L
      w.foreach { x =>
        val e = lp.get(x)
        sumLp += (if (e == null) oovLp else e.longValue)
      }
      val keepQ = z >= 0
      val keepP = (-sumLp) / w.length.toLong <= 7000000L
      (t, ids, keepQ && keepP, w.length, sumLp)
    }.seq
    val langOf = new scala.collection.mutable.LongMap[String]()
    docs.foreach(d => langOf(d.id) = d.lang)
    // roll up kept docs per (split, lang)
    val agg = new java.util.HashMap[String, (Array[Long])]()
    perText.foreach { case (_, ids, keep, nWords, sumLp) =>
      if (keep) ids.foreach { id =>
        val key = splitOf(id) + Sep + langOf(id)
        val e = agg.computeIfAbsent(key, _ => new Array[Long](3))
        e(0) += 1; e(1) += nWords.toLong; e(2) += sumLp
      }
    }
    val exp = new Digest
    agg.forEach { (key, e) =>
      val avg = ((-e(2)) / e(1)).toDouble / 1e6
      exp.add(s"$key$Sep${e(0)}$Sep${e(1)}$Sep${java.lang.Double.toString(avg)}")
    }
    (exp, digestOutput(spark, out,
      Seq("split", "lang", "n_docs", "sum_words", "avg_surprisal")))
  }

  // ---------- main ----------

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.IndependentVerify <sfDir> <verifyOutDir> [namesCsv]")
    val sfDir = args(0); val outDir = args(1)
    val all = Seq("dd2_minhash_bands", "dd3_lsh_jaccard_pairs",
      "dd5_rank_upsert", "dd6_simhash_pairs", "dd7_dup_clusters",
      "dd8_cluster_retention", "dd9_span_grams", "dd10_span_scrub",
      "c1_curation_funnel", "c5_curation_pipeline", "v3_neardup_embeddings",
      "v4_knn_join", "v5_ivf_assign", "v5_kmeans_ivf", "v6_rp_lsh_neardup",
      "v8_embed_clusters", "v12_sketch_neardup", "v13_semdedup_pairs",
      "v14_embed_retention")
    // the AUTO operating-point recomputes (graft.SixthDecade dumps them) —
    // opt-in by name, never part of the default pinned sweep
    val autoNames = Seq("v3_auto", "v6_auto", "v8_auto", "v4_auto",
      "dd5_auto", "dd6w_auto", "v12_auto", "v13_auto", "v13flat_auto",
      "v13hier_auto", "v14_auto")
    val wanted =
      if (args.length >= 3) {
        val fs = args(2).split(",").toSeq
        // substring match selects only the PINNED sweep; an auto variant
        // must be named exactly — 'v4' against a pinned-only dump dir must
        // not drag in 'v4_auto' and fail on its missing parquet (the
        // opt-in-by-name contract)
        all.filter(n => fs.exists(n.contains)) ++ autoNames.filter(fs.contains)
      } else all
    // the verifier COLLECTS the corpus by design (plain-JVM recompute);
    // the 2M×384 fixture is ~6 GB of vectors, over the 1g default cap
    val spark = Spark.local(Spark.cores(8), 32,
      Map("spark.driver.maxResultSize" -> "0"))

    lazy val docs = loadDocs(spark, sfDir)
    lazy val st = stride(docs)
    lazy val vecs = loadVecs(spark, sfDir)
    // Embedding dim, inferred ONCE for every dim-aware dispatch arm — a
    // mixed-dimension corpus must fail loudly here, not silently derive
    // planes from whichever row loads first on each side.
    lazy val vecDim = {
      val d = vecs.headOption.map(_.v.length).getOrElse(64)
      require(vecs.forall(_.v.length == d),
        s"mixed embedding dimensions in $sfDir (first row has $d)")
      d
    }

    var failed = 0
    wanted.foreach { name =>
      val t0 = System.nanoTime()
      val path = s"$outDir/$name"
      try {
        val (exp, act) = name match {
          case "dd2_minhash_bands"     => checkDd2(spark, docs, st, path)
          case "dd3_lsh_jaccard_pairs" => checkDd3(spark, docs, st, path)
          case "dd5_rank_upsert"       => checkDd5(spark, vecs, path)
          case "dd6_simhash_pairs"     => checkDd6(spark, docs, st, path)
          case "dd7_dup_clusters"      => checkDd7(spark, docs, st, path)
          case "dd8_cluster_retention" => checkDd8(spark, docs, st, path)
          case "dd9_span_grams"        => checkDd9(spark, docs, path)
          case "dd10_span_scrub"       => checkDd10(spark, docs, path)
          case "c1_curation_funnel"    => checkC1(spark, docs, st, path)
          case "c5_curation_pipeline"  => checkC5(spark, docs, path)
          case "v3_neardup_embeddings" => checkRpPairs(spark, vecs, 4, path)
          case "v6_rp_lsh_neardup"     => checkRpPairs(spark, vecs, 2, path)
          case "v8_embed_clusters"     => checkV8(spark, vecs, path)
          case "v4_knn_join"           => checkV4(spark, vecs, path)
          case "v12_sketch_neardup"    => checkSketchPairs(spark, vecs, path,
            2, 4, graft.operators.OperatingPoint.sketchMaxHamming(0.60), 0.30)
          case "v5_ivf_assign"         => checkV5Assign(spark, vecs, path)
          case "v5_kmeans_ivf"         => checkV5Kmeans(spark, vecs, path)
          case "v13_semdedup_pairs"    => checkSemPairs(spark, vecs, path,
            8, 3, 0.30, modInit = false)
          case "v14_embed_retention"   => checkV14(spark, vecs, path)
          // AUTO operating points: derived from corpus size by the SAME
          // OperatingPoint formulas the library entrypoints use (shared
          // config, independent computation)
          case "v3_auto" => checkRpPairs(spark, vecs, 4, path,
            graft.operators.OperatingPoint.rpPlanesPerBand(vecs.length, vecDim))
          case "v6_auto" => checkRpPairs(spark, vecs, 2, path,
            graft.operators.OperatingPoint.rpPlanesPerBand(vecs.length, vecDim))
          case "v8_auto" => checkV8(spark, vecs, path,
            graft.operators.OperatingPoint.rpPlanesPerBand(vecs.length, vecDim))
          case "v4_auto" => checkV4(spark, vecs, path,
            graft.operators.OperatingPoint.ivfCells(vecs.length))
          case "dd5_auto" => checkDd5(spark, vecs, path,
            graft.operators.OperatingPoint.rpPlanesPerBand(vecs.length, vecDim))
          case "dd6w_auto" => checkDd6Wide(spark, docs, st, path)
          case "v12_auto" => checkSketchPairs(spark, vecs, path,
            graft.operators.OperatingPoint.rpHighSimBands(vecs.length, vecDim),
            graft.operators.OperatingPoint.rpPlanesPerBand(vecs.length, vecDim),
            graft.operators.OperatingPoint.sketchMaxHamming(0.8), 0.8)
          // v13_auto mirrors the library's flat/hier switch at the same
          // OperatingPoint threshold; the explicit arm names pin one form
          // for A/Bs regardless of corpus size
          case "v13_auto" =>
            val kA = graft.operators.OperatingPoint.semDedupCells(vecs.length)
            if (kA > graft.operators.OperatingPoint.semHierCells)
              checkSemPairsHier(spark, vecs, path, kA, 3, 0.8)
            else checkSemPairs(spark, vecs, path, kA, 3, 0.8, modInit = true)
          case "v13flat_auto" => checkSemPairs(spark, vecs, path,
            graft.operators.OperatingPoint.semDedupCells(vecs.length),
            3, 0.8, modInit = true)
          case "v13hier_auto" => checkSemPairsHier(spark, vecs, path,
            graft.operators.OperatingPoint.semDedupCells(vecs.length),
            3, 0.8)
          case "v14_auto" => checkV14Auto(spark, vecs, path)
        }
        val secs = (System.nanoTime() - t0) / 1e9
        val ok = exp.same(act)
        if (!ok) failed += 1
        println(f"${if (ok) "OK  " else "FAIL"} $name: expected [$exp] " +
          f"actual [$act] ($secs%.1f s)")
      } catch {
        case e: Throwable =>
          failed += 1
          println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    println(s"${wanted.size - failed} ok, $failed fail of ${wanted.size}")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
