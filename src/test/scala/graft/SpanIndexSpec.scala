package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.WinnowedGramHits
import graft.operators.{DedupOps, OperatingPoint, SpanIndex}

/** Gates for the at-rest span-gram inventory: the artifact must equal an
  * independently recomputed rolling-gram inventory, appends must be pure
  * gains (no existing file touched), the ingest-time scrub must prune its
  * probe and cut exactly the corpus-known spans, and delete/compact must
  * preserve the inventory for every surviving doc. */
class SpanIndexSpec extends SparkSpec {

  /** The dd9 fixture corpus: boilerplate planted on every 19th doc so
    * cross-document spans exist at sf0.001. */
  private def corpus: DataFrame =
    Tables.load(spark, sf, "documents")
      .selectExpr("doc_id",
        s"CASE WHEN doc_id % 19 = 0 THEN concat(text, ' ${DedupOps.SpanBoiler}') " +
          "ELSE text END AS text")

  private def fresh(path: String): String = {
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
    path
  }

  /** Independent inventory recompute straight from the expression — NOT
    * through SpanIndex's own plumbing. */
  private def directShared(docs: DataFrame): Set[(Long, Long, Long)] = {
    docs.select(col("doc_id"),
        explode(WinnowedGramHits.of(col("text"), 50, 16)).as("x"))
      .groupBy(col("x.gh").as("gh"))
      .agg(countDistinct("doc_id").as("n_docs"), min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def storedShared(path: String): Set[(Long, Long, Long)] =
    SpanIndex.sharedGrams(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def snapshot(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> (f.length(), f.lastModified())).toMap
  }

  test("write: corpus-derived geometry; sharedGrams equals direct recompute") {
    val path = fresh("target/span_index_write")
    SpanIndex.write(corpus, path)
    val m = SpanIndex.meta(spark, path)
    val n = corpus.count()
    assert(m.gramLen == 50 && m.window == 16 && m.n == n)
    assert(m.gramBuckets == OperatingPoint.bandIndexBuckets(n))
    assert(m.docBuckets == OperatingPoint.clusterIndexParts(n))
    val direct = directShared(corpus)
    assert(direct.nonEmpty, "fixture carries no shared spans")
    assert(storedShared(path) == direct)
    // every corpus doc has a commit row, even zero-gram ones
    assert(SpanIndex.docs(spark, path).count() == n)
    // physically partitioned by both bucket keys
    assert(Option(new java.io.File(s"$path/grams").listFiles()).toSeq.flatten
      .exists(_.getName.startsWith("gb=")))
    assert(Option(new java.io.File(s"$path/docs").listFiles()).toSeq.flatten
      .exists(_.getName.startsWith("db=")))
  }

  test("append: equals rebuild, never touches an existing file, guard skips applied ids") {
    val half1 = corpus.filter(col("doc_id") % 2 === 0)
    val half2 = corpus.filter(col("doc_id") % 2 === 1)
    val incr = fresh("target/span_index_incr")
    // geometry from the FULL corpus count so both paths hash identically
    // (the real contract: append uses the stored geometry)
    SpanIndex.write(half1, incr, countEstimate = Some(corpus.count()))
    val before = snapshot(s"$incr/grams") ++ snapshot(s"$incr/docs")
    val folded = SpanIndex.append(half2, incr)
    assert(folded == half2.count())
    // pure gains: every pre-append file survives byte-identical
    val after = snapshot(s"$incr/grams") ++ snapshot(s"$incr/docs")
    before.foreach { case (f, sig) =>
      assert(after.get(f).contains(sig), s"append rewrote $f")
    }
    val full = fresh("target/span_index_full")
    SpanIndex.write(corpus, full)
    assert(storedShared(incr) == storedShared(full))
    // re-append of an applied batch: guard skips every id, nothing changes
    assert(SpanIndex.append(half2, incr) == 0L)
    assert(snapshot(s"$incr/grams") ++ snapshot(s"$incr/docs") == after)
    // an appended doc's text is corpus-known to the next batch's scrub
    import spark.implicits._
    val known = half2.filter(length(col("text")) >= 200)
      .select("text").head().getString(0)
    val (nCut, clean) = SpanIndex.probeScrub(
        Seq((900003L, s"fresh opening words $known and a fresh tail"))
          .toDF("doc_id", "text"), incr)
      .collect().map(r => (r.getInt(1), r.getString(3))).head
    assert(nCut >= 1 && !clean.contains(known.substring(40, 90)),
      s"appended text survived the scrub: $clean")
  }

  test("probeScrub: cuts corpus-known spans from new docs, probe prunes buckets") {
    import spark.implicits._
    val path = fresh("target/span_index_probe")
    SpanIndex.write(corpus, path)
    // a NEW doc that embeds the corpus's planted boilerplate mid-text,
    // plus a novel doc sharing nothing
    val boiler = DedupOps.SpanBoiler
    val batch = Seq(
      (900001L, s"fresh opening words here $boiler and a fresh tail"),
      (900002L, "entirely novel content with no span shared against the " +
        "stored corpus inventory at all, nothing to cut here today")
    ).toDF("doc_id", "text")
    val out = SpanIndex.probeScrub(batch, path)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("gb"),
      s"probe does not prune the gram buckets:\n$plan")
    val rows = out.collect().map(r => r.getLong(0) ->
      (r.getInt(1), r.getLong(2), r.getString(3))).toMap
    val (n1, cut1, clean1) = rows(900001L)
    assert(n1 >= 1 && cut1 >= 50L, s"boiler not cut: n=$n1 chars=$cut1")
    assert(!clean1.contains("newsletter") && !clean1.contains("cookie"),
      s"boiler survived the scrub: $clean1")
    assert(clean1.startsWith("fresh opening"), s"scrub cut the doc's own text: $clean1")
    val (n2, cut2, clean2) = rows(900002L)
    assert(n2 == 0 && cut2 == 0L)
    assert(clean2.startsWith("entirely novel content"))
  }

  test("probeScrub self-carrier guard: stored docs keep their own text, lose only shared spans") {
    import spark.implicits._
    val path = fresh("target/span_index_self")
    // controlled corpus: A and B share one span; C's text is unique.
    // (The parquet fixture can't pin this — its tiny vocabulary makes
    // genuine 50-char sharing common, which the probe correctly cuts.)
    val rnd = new scala.util.Random(11)
    def rndText(len: Int): String =
      (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val span = rndText(260)
    val aPre = rndText(120); val bPre = rndText(150)
    val stored = Seq(
      (1L, s"$aPre $span end-a"), (2L, s"$bPre $span end-b"),
      (3L, rndText(300))).toDF("doc_id", "text")
    SpanIndex.write(stored, path)
    // feed the STORED corpus back through the probe — the dd10-at-rest
    // shape. Every doc's own grams are in the index; without the
    // self-carrier guard every doc would be scrubbed to nothing.
    val out = SpanIndex.probeScrub(stored, path).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(3))).toMap
    val (nC, cleanC) = out(3L)
    assert(nC == 0 && cleanC.length == 300,
      s"unique doc scrubbed by its own stored grams: n=$nC")
    Seq(1L -> aPre, 2L -> bPre).foreach { case (id, pre) =>
      val (n, clean) = out(id)
      assert(n >= 1, s"stored carrier $id not scrubbed")
      // shared-span interior gone, own prefix intact (window-1 edge fuzz
      // never reaches back past the span start into the doc's own text)
      assert(!clean.contains(span.substring(30, 80)),
        s"doc $id kept the shared span")
      assert(clean.startsWith(pre.take(100)),
        s"doc $id lost its own text: ${clean.take(60)}")
    }
  }

  test("winnowing: gap bound inside docs, cross-doc agreement on a shared span's interior") {
    import spark.implicits._
    val g = 50; val w = 16
    val rnd = new scala.util.Random(7)
    def rndText(len: Int): String =
      (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val span = rndText(300)
    val d1 = rndText(137) + span + rndText(90)
    val d2 = rndText(211) + span + rndText(40)
    val hits = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
      .select(col("doc_id"), explode(WinnowedGramHits.of(col("text"), g, w)).as("x"))
      .select(col("doc_id"), col("x.off"), col("x.gh")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // 1. the winnowing guarantee inside one doc: consecutive selected
    // offsets at most `window` apart (so cut intervals always overlap)
    Seq(1L, 2L).foreach { id =>
      val offs = hits.filter(_._1 == id).map(_._2).sorted
      assert(offs.head <= w, s"doc $id first selection at ${offs.head}")
      offs.sliding(2).foreach { case Array(a, b) =>
        assert(b - a <= w, s"doc $id gap $a -> $b exceeds window")
      case _ => ()
      }
    }
    // 2. cross-doc agreement: within the shared span's interior (window-1
    // fuzz at the left edge, window+gram fuzz at the right), both docs
    // select exactly the same gram hashes
    def interior(id: Long, start: Int): Set[Long] = {
      val lo = start + w      // 1-indexed: first guaranteed-covered window
      val hi = start + 300 - g - w + 1
      hits.filter(h => h._1 == id && h._2 >= lo && h._2 <= hi)
        .map(_._3).toSet
    }
    val i1 = interior(1L, 138)
    val i2 = interior(2L, 212)
    assert(i1.nonEmpty && i1 == i2,
      s"shared-span interiors disagree: ${i1.size} vs ${i2.size}")
  }

  test("delete: inventory equals rebuild without victims; idempotent; others untouched") {
    val path = fresh("target/span_index_del")
    SpanIndex.write(corpus, path)
    val victims = corpus.filter(col("doc_id") % 19 === 0).select("doc_id")
    val gbs = SpanIndex.delete(victims, path)
    assert(gbs.nonEmpty)
    val rebuilt = fresh("target/span_index_del_ref")
    SpanIndex.write(corpus.join(victims, Seq("doc_id"), "left_anti"), rebuilt,
      countEstimate = Some(corpus.count()))
    assert(storedShared(path) == storedShared(rebuilt))
    // victims fully gone from both sub-artifacts
    val vIds = victims.collect().map(_.getLong(0)).toSet
    assert(SpanIndex.docs(spark, path).select("doc_id").collect()
      .forall(r => !vIds.contains(r.getLong(0))))
    assert(SpanIndex.grams(spark, path).select("doc_id").distinct().collect()
      .forall(r => !vIds.contains(r.getLong(0))))
    // idempotent re-delete: no victims found, no buckets rewritten
    val snap = snapshot(path)
    assert(SpanIndex.delete(victims, path).isEmpty)
    assert(snapshot(path) == snap)
  }

  test("crash-duplicated carriers are read-harmless and collapse on compact") {
    import spark.implicits._
    val path = fresh("target/span_index_dup")
    SpanIndex.write(corpus, path)
    val want = storedShared(path)
    // simulate a crashed append's residue: carrier rows landed twice for
    // some docs (docs/ guard then re-folded them after the crash)
    val m = SpanIndex.meta(spark, path)
    val dupRows = SpanIndex.grams(spark, path)
      .filter(col("doc_id") % 19 === 0)
    assert(dupRows.head(1).nonEmpty)
    dupRows.write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("gb").parquet(s"$path/grams")
    // reads see through the duplicates
    assert(storedShared(path) == want)
    val distinctRows = SpanIndex.grams(spark, path).distinct().count()
    assert(SpanIndex.grams(spark, path).count() > distinctRows)
    // compaction (threshold 0 = every bucket) physically collapses them
    SpanIndex.compact(spark, path, maxFiles = 0)
    assert(SpanIndex.grams(spark, path).count() == distinctRows)
    assert(storedShared(path) == want)
  }

  test("doc_id contract: int ids route like longs; string ids rejected loudly") {
    import spark.implicits._
    val path = fresh("target/span_index_idtype")
    // build under IntegerType ids, then take down under LongType ids —
    // the normalized routing must find the victims' db buckets
    val ints = corpus.limit(40)
      .select(col("doc_id").cast("int").as("doc_id"), col("text"))
    SpanIndex.write(ints, path)
    assert(SpanIndex.docs(spark, path).schema("doc_id").dataType ==
      org.apache.spark.sql.types.LongType)
    val victims = ints.limit(3).select(col("doc_id").cast("long").as("doc_id"))
    val victimSet = victims.collect().map(_.getLong(0)).toSet
    SpanIndex.delete(victims, path)
    val left = SpanIndex.docs(spark, path).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(left.intersect(victimSet).isEmpty, "takedown missed victims")
    assert(left.nonEmpty)
    // non-integral ids would hash into unreachable buckets: fail loudly
    val err = intercept[IllegalArgumentException] {
      SpanIndex.append(Seq(("u-1", "some text")).toDF("doc_id", "text"), path)
    }
    assert(err.getMessage.contains("integral doc_id"))
  }

  test("probeScrub: duplicate batch rows collapse; empty text neither cuts nor carries") {
    import spark.implicits._
    val path = fresh("target/span_index_dupempty")
    SpanIndex.write(corpus.limit(60), path)
    val boiler = DedupOps.SpanBoiler
    val batch = Seq(
        (900L, s"fresh prose that nobody stored before $boiler"),
        (900L, s"fresh prose that nobody stored before $boiler"), // dup row
        (901L, ""), (902L, "")) // two empty docs: no mutual fmix(0) gram
      .toDF("doc_id", "text")
    val out = SpanIndex.probeScrub(batch, path).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(out.size == 3, "duplicate doc_id rows were not collapsed")
    assert(out(900L)._1 >= 1 && !out(900L)._3.contains(boiler))
    // empty docs pass through untouched: zero cuts, zero chars, and the
    // clean_len = length - chars_cut identity holds (chars_cut ≤ length)
    Seq(901L, 902L).foreach { id =>
      assert(out(id) == ((0, 0L, "")), s"empty doc $id was scrubbed")
    }
  }

  test("rebucket: inventory parity, delete finds victims via re-derived gbs, scrub unchanged") {
    val path = fresh("target/span_index_rebucket")
    val pathRef = fresh("target/span_index_rebucket_ref")
    Seq(path, pathRef).foreach(p => SpanIndex.write(corpus, p))
    val m0 = SpanIndex.meta(spark, path)

    // no drift at the design point; rebucket is a no-op
    assert(!SpanIndex.geometryDrifted(spark, path))
    assert(SpanIndex.rebucket(spark, path) == m0)

    // 100x the design point: both bucket counts step up
    val grown = 140000L
    assert(SpanIndex.geometryDrifted(spark, path, countEstimate = Some(grown)))
    val sharedBefore = storedShared(path)
    val nm = SpanIndex.rebucket(spark, path, countEstimate = Some(grown))
    assert(nm.gramLen == m0.gramLen && nm.window == m0.window,
      "rebucket must never touch the fingerprint geometry")
    assert(nm.gramBuckets == OperatingPoint.bandIndexBuckets(grown) &&
      nm.docBuckets == OperatingPoint.clusterIndexParts(grown))
    assert(nm.gramBuckets > m0.gramBuckets && nm.docBuckets > m0.docBuckets)
    assert(SpanIndex.meta(spark, path) == nm)
    assert(storedShared(path) == sharedBefore, "inventory changed")
    // carrier rows re-routed to the new gram buckets
    val misrouted = SpanIndex.grams(spark, path)
      .filter(col("gb") =!= pmod(col("gh"), lit(nm.gramBuckets.toLong))
        .cast("int")).count()
    assert(misrouted == 0)

    // the scrub serves identical results through the new geometry
    import spark.implicits._
    val probe = Seq(
        (800L, s"never indexed prose with planted ${DedupOps.SpanBoiler} tail"),
        (801L, "wholly novel text that matches nothing stored"))
      .toDF("doc_id", "text")
    def scrubOf(p: String) = SpanIndex.probeScrub(probe, p).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(3))).toMap
    assert(scrubOf(path) == scrubOf(pathRef), "scrub diverged after rebucket")

    // delete prunes via the RE-DERIVED gbs reverse index: victims must
    // disappear from both docs/ and grams/ under the new geometry
    val victims = corpus.filter(col("doc_id") % 19 === 0).limit(3)
      .select("doc_id")
    val victimSet = victims.collect().map(_.getLong(0)).toSet
    assert(victimSet.nonEmpty)
    assert(SpanIndex.delete(victims, path).nonEmpty)
    SpanIndex.delete(victims, pathRef)
    assert(SpanIndex.grams(spark, path).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet.intersect(victimSet).isEmpty,
      "delete after rebucket left victim carriers behind")
    assert(storedShared(path) == storedShared(pathRef),
      "post-delete inventory diverged between rebucketed and reference")

    // crash window: dirs swapped but old _meta live — append's entry
    // repair must promote the staged meta before folding the batch
    import graft.operators.GeometrySwap
    val path2 = fresh("target/span_index_rebucket_crash")
    SpanIndex.write(corpus, path2)
    GeometrySwap.failpoint.set("after-swap")
    try intercept[IllegalStateException] {
      SpanIndex.rebucket(spark, path2, countEstimate = Some(grown))
    } finally GeometrySwap.failpoint.set(null)
    SpanIndex.append(Seq((850L, "a fresh doc arriving mid-repair"))
      .toDF("doc_id", "text"), path2)
    assert(SpanIndex.meta(spark, path2).gramBuckets == nm.gramBuckets)
    assert(SpanIndex.docs(spark, path2).filter(col("doc_id") === 850L)
      .count() == 1)
  }
}
