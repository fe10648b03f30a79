package graft

import org.apache.spark.sql.functions._
import graft.functions.{CdcBoundaries, MinGramHash, RepetitionStats,
  SpanGramHits}
import graft.multimodal.Multimodal
import graft.operators.{DedupOps, Relational, TextOps, VectorOps}

/** Invariants for the round-2 pipeline operators (beyond the DuckDB
  * hash-match): structural properties that must hold at any scale. */
class PipelineOpsSpec extends SparkSpec {

  test("sliding windows cover each event exactly 4 times (1h/15min)") {
    val nEvents = Tables.load(spark, sf, "events").count()
    val total = Relational.slidingEvents(spark, sf)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(total == 4 * nEvents)
  }

  test("token counts are positive and bounded by character count") {
    val r = TextOps.tokenCount(spark, sf).cache()
    assert(r.filter(col("n_bpe_tokens") <= 0 || col("n_ws_tokens") <= 0)
      .count() == 0)
    // every token consumes at least one char, so counts can't exceed chars
    assert(r.filter(col("n_bpe_tokens") > col("n_chars")).count() == 0)
    assert(r.filter(col("n_ws_tokens") > col("n_chars")).count() == 0)
    assert(r.filter(col("chars_per_token") <= 0).count() == 0)
  }

  test("decontamination: benchmark docs self-flag; plan broadcasts the eval grams") {
    val out = TextOps.decontamination(spark, sf)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan) // eval grams broadcast
    val rows = out.collect()
    // every benchmark doc contains its own n-grams → contaminated
    val bench = rows.filter(_.getBoolean(1))
    assert(bench.nonEmpty && bench.forall(_.getBoolean(3)))
    // hit counts never exceed a doc's own distinct gram count
    assert(rows.forall(r => r.getLong(2) >= 0))
    // contamination is exactly n_hits > 0
    assert(rows.forall(r => r.getBoolean(3) == (r.getLong(2) > 0)))
  }

  test("frame sampling yields fixed 32-byte frames incl. frame 0 per media") {
    val frames = Multimodal.sampleFrames(Multimodal.mediaTable(spark, sf))
    assert(frames.filter(_.frame.length != 32).count() == 0)
    val nMedia = Multimodal.mediaTable(spark, sf)
      .filter(_.payload.length >= 32).count()
    assert(frames.filter(_.frame_idx == 0).count() == nMedia)
  }

  test("rp-lsh near-dup: non-empty, unique pairs, all sims >= threshold") {
    val rows = VectorOps.rpLshNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (a, b, s2) => a < b && s2 >= 0.30 })
    assert(rows.map(p => (p._1, p._2)).distinct.length == rows.length)
  }

  test("w4 two-pass rank: no SinglePartition exchange, equals global dense_rank") {
    val df = Relational.denseRerank(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan)
    // the distributed two-pass result must equal the naive global window
    val got = df.collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    val firsts = Tables.load(spark, sf, "events")
      .groupBy("user_id").agg(min("ts").as("first_ts"))
    val want = firsts.select(col("user_id"),
        dense_rank().over(org.apache.spark.sql.expressions.Window
          .orderBy("first_ts", "user_id")).as("new_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got == want)
  }

  test("v4 knn join: top-3 per query crosses shuffle via the TopKRows heap") {
    val df = VectorOps.knnJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // round 14: the rank windows are gone — the bounded heap aggregate
    // plans as partial+final ObjectHashAggregate, and NOTHING in the
    // candidate path may sort (WindowGroupLimitExec's map-side pass sorts
    // its whole input partition; that sort is what stopped the x1000 run)
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("Window"), plan)
    val rows = df.collect()
    // every query vector has <= 3 neighbors, ranks contiguous from 1
    val byA = rows.groupBy(_.getLong(0))
    assert(byA.values.forall(g => g.length <= 3 &&
      g.map(_.getInt(3)).sorted.sameElements(1 to g.length)))
    // neighbors never include the query itself
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("kmeans ivf: top-10 from at most 2 probed cells, sims in [-1,1]") {
    val rows = VectorOps.kmeansIvf(spark, sf).collect()
    assert(rows.length == 10)
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
    assert(rows.map(_.getInt(1)).distinct.length <= 2)
    assert(!rows.map(_.getLong(0)).contains(1L)) // probe excluded
  }

  test("t10 domain caps: map-side heap aggregate bounds the shuffle") {
    val df = TextOps.domainCaps(spark, sf)
    // round 14: the cap is the TopKRows heap — partial ObjectHashAggregate
    // BELOW the exchange bounds shuffle volume to partitions x domains x
    // cap (what the former WindowGroupLimit's partial pass did), with no
    // map-side sort of the corpus (what it did NOT do).
    // tree prints root-first, so the map-side (partial) aggregate is the
    // one BELOW the last Exchange in the string
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.split("ObjectHashAggregate").length >= 3,
      "expected partial + final ObjectHashAggregate:\n" + plan)
    assert(plan.split("Exchange").last.contains("ObjectHashAggregate"),
      "expected the partial aggregate below the exchange:\n" + plan)
    assert(!plan.contains("Sort"), plan)
    // each domain is actually capped, with contiguous ranks from 1
    val bySrc = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .groupBy(_._2)
    assert(bySrc.values.forall(g => g.length <= TextOps.DomainCap &&
      g.map(_._4).sorted.sameElements(1 to g.length)))
  }

  test("c2 mixture weights: shares sum to 1, weights rebalance to target") {
    val rows = TextOps.mixtureWeights(spark, sf).collect()
    val actual = rows.map(_.getDouble(3)).sum
    assert(math.abs(actual - 1.0) < 1e-4)
    // resampling each lang by its weight recovers the target share:
    // weight * actual_share == target_share (up to the 6-dec rounding)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(5) * r.getDouble(3) - r.getDouble(4)) < 1e-5)
    }
    // oversample flag is exactly weight > 1
    rows.foreach(r => assert(r.getBoolean(6) == (r.getDouble(5) > 1.0)))
  }

  test("t11 sequence pack: shard-local offsets are exact prefix sums, no single-partition window") {
    val df = TextOps.sequencePack(spark, sf)
    // the packing cumsum must partition by shard — a global concatenation
    // order would plan a SinglePartition exchange, the anti-pattern the
    // operator exists to avoid
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
    val rows = df.collect().map(r => (r.getLong(0), r.getInt(1),
      r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // within each shard, offsets in doc_id order are the exclusive prefix
    // sum of token counts: contiguous, gapless packing
    rows.groupBy(_._2).values.foreach { g =>
      val inOrder = g.sortBy(_._1)
      var off = 0L
      inOrder.foreach { case (_, _, n, start, seqId, nSeqs) =>
        assert(start == off, s"offset gap at $start vs $off")
        assert(seqId == start / TextOps.PackSeqLen)
        val lastTok = if (n == 0) start else start + n - 1
        assert(nSeqs == math.max(1L,
          lastTok / TextOps.PackSeqLen - seqId + 1))
        off += n
      }
    }
    // straddling documents exist at this sf (the manifest's reason to
    // carry n_seqs at all) and every count is positive
    assert(rows.exists(_._6 > 1))
    assert(rows.forall(_._6 >= 1))
  }

  test("dd9 span grams: planted boilerplate detected alignment-free across docs") {
    val rows = DedupOps.spanGrams(spark, sf).collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(rows.nonEmpty, "no shared span grams found — planted boilerplate missed")
    // per gram: n_docs counts distinct carriers, first_doc is the min
    // carrier, is_foreign flags exactly the non-first carriers
    rows.groupBy(_._3).values.foreach { g =>
      val docs = g.map(_._1).distinct.sorted
      assert(docs.length >= 2)
      g.foreach { case (doc, _, _, n, fd, foreign) =>
        assert(n == docs.length && fd == docs.head && foreign == (doc != fd))
      }
    }
    // alignment robustness — the reason selection is content-defined: the
    // SAME gram is found at DIFFERENT offsets in different docs (the
    // planted boilerplate starts wherever each host doc happens to end)
    assert(rows.groupBy(_._3).values.exists(g => g.map(_._2).distinct.length >= 2))
  }

  test("span gram expression matches the SQL lambda form, incl. non-ASCII and short docs") {
    import spark.implicits._
    val boiler = "x" * 60
    val docs = Seq(
      (1L, "short"),                              // shorter than one gram
      (2L, ("the quick brown fox " * 20) + boiler),
      (3L, ("lorem ipsum dolor sit amet " * 15) + boiler),
      (4L, "héllo wörld ünïcode çhars — " * 12)   // multi-byte fallback path
    ).toDF("doc_id", "text")
    val viaExpr = docs.select(col("doc_id"),
        explode(SpanGramHits.of(col("text"), 50)).as("x"))
      .select(col("doc_id"), col("x.off"), col("x.gh"))
    val viaSql = docs.select(col("doc_id"),
        explode(expr(
          """filter(transform(sequence(1, greatest(length(text) - 49, 1)),
            | i -> struct(i AS off, md5(substring(text, i, 50)) AS gh)),
            | x -> substring(x.gh, 1, 1) = '0')""".stripMargin)).as("x"))
      .select(col("doc_id"), col("x.off"), col("x.gh"))
    assert(viaExpr.exceptAll(viaSql).isEmpty && viaSql.exceptAll(viaExpr).isEmpty)
    assert(viaExpr.count() > 0) // the fixture actually exercises selection
  }

  test("dd10 span scrub: interval surgery equals an independent char-mask rebuild") {
    import spark.implicits._
    val g = 50
    // independent ground truth: mark every char covered by a foreign hit
    // window [off, off+50) and keep the unmarked chars — character-mask
    // semantics vs the operator's merged-interval surgery
    val corpus = Tables.load(spark, sf, "documents")
      .selectExpr("doc_id",
        s"CASE WHEN doc_id % 19 = 0 THEN concat(text, ' ${DedupOps.SpanBoiler}') ELSE text END AS text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val foreign = DedupOps.spanGrams(spark, sf).filter(col("is_foreign"))
      .select("doc_id", "off").collect()
      .map(r => (r.getLong(0), r.getInt(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    val out = DedupOps.spanScrub(spark, sf).collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getString(4)))
    assert(out.nonEmpty, "no docs scrubbed — planted boilerplate missed")
    assert(out.map(_._1).distinct.length == out.length)
    assert(out.map(_._1).toSet == foreign.keySet)
    val md = java.security.MessageDigest.getInstance("MD5")
    out.foreach { case (doc, nSpans, charsCut, cleanLen, cleanMd5) =>
      val text = corpus(doc)
      val cut = Array.fill(text.length)(false)
      foreign(doc).foreach { off => // off is 1-indexed
        (off - 1 until math.min(off - 1 + g, text.length))
          .foreach(cut(_) = true)
      }
      val expected = text.zipWithIndex.collect {
        case (c, i) if !cut(i) => c
      }.mkString
      assert(cleanLen == expected.length, s"doc $doc clean_len")
      assert(cleanLen == text.length - charsCut, s"doc $doc accounting")
      assert(nSpans >= 1 && charsCut >= g, s"doc $doc cut size")
      val hex = md.digest(expected.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(cleanMd5 == hex, s"doc $doc clean text md5")
    }
  }

  test("t12 split assign: deterministic, append-stable, 98/1/1 carve") {
    val a = TextOps.splitAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).sortBy(_._1)
    val b = TextOps.splitAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).sortBy(_._1)
    assert(a.sameElements(b), "split assignment is not deterministic")
    val bySplit = a.groupBy(_._3).view.mapValues(_.length).toMap
    assert(bySplit.keySet == Set("train", "val", "test") ||
      bySplit.keySet == Set("train", "val") || bySplit.keySet == Set("train"))
    assert(bySplit("train").toDouble / a.length > 0.9)
    a.foreach { case (_, bucket, split) =>
      val want = if (bucket < 980) "train" else if (bucket < 990) "val"
        else "test"
      assert(split == want)
    }
    // append-stability: a doc's split must not depend on the rest of the
    // corpus — recompute over a half-corpus view and compare
    val half = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 2 === 0)
    half.createOrReplaceTempView("half_docs")
    val halfAssign = TextOps.splitAssign(spark, sf)
      .join(half.select("doc_id"), "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val full = a.map(t => t._1 -> t._3).toMap
    halfAssign.foreach { case (id, s) => assert(full(id) == s) }
  }

  test("c3 quality lr: bounded features, keep thresholds the linear score") {
    val r = TextOps.qualityLr(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val Seq(fl, fu, fs) = Seq(1, 2, 3).map(row.getDouble)
      val z = row.getDouble(5); val keep = row.getBoolean(6)
      assert(fl >= 0 && fl <= 1 && fu >= 0 && fu <= 1 && fs >= 0 && fs <= 1)
      assert(!z.isNaN && !z.isInfinite)
      assert(keep == (z >= 0))
    }
    // the filter must actually separate: both classes present at sf0.001
    assert(r.exists(_.getBoolean(6)) && r.exists(!_.getBoolean(6)))
  }

  test("t13 perplexity: broadcast model, exact integer reduce, classes split") {
    val out = TextOps.perplexityFilter(spark, sf)
    // scoring is the fused map-only surprisal_sum pass against the
    // driver-hosted model (round 17) — no token explosion, no join, no
    // exchange; the retained join arm's broadcast shape is pinned by
    // SurprisalSumSpec
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("surprisal_sum"), s"fused scoring missing:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"unexpected join:\n$plan")
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val surprisal = r.getDouble(3)
      assert(surprisal > 0 && !surprisal.isNaN && !surprisal.isInfinite)
      assert(r.getBoolean(4) == (surprisal <= 7.0))
      assert(r.getInt(2) >= 0 && r.getInt(2) <= r.getInt(1))
    }
    // the fixture's tiny vocabulary repeats every word, so no OOV rows
    // exist here — the OOV floor is exercised by the coalesce in every
    // row's plan and the oracle hash-checks the full scoring arithmetic
  }

  test("t14 cdc chunks: exact tiling per doc, boundaries alignment-invariant") {
    import spark.implicits._
    val out = TextOps.cdcChunks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    val lens = Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "length(text) AS n").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // chunks tile each document exactly: contiguous, in order, full cover
    out.groupBy(_._1).foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.head._3 == 1, s"doc $doc first chunk start")
      sorted.sliding(2).foreach {
        case Array((_, _, s1, l1, _), (_, _, s2, _, _)) =>
          assert(s2 == s1 + l1, s"doc $doc gap at chunk start $s2")
        case _ => ()
      }
      val last = sorted.last
      assert(last._3 + last._4 - 1 == lens(doc), s"doc $doc cover")
    }
    // alignment invariance: the same passage embedded after different
    // prefixes chunks identically past its first interior boundary
    val rnd = new scala.util.Random(5)
    def t(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = t(1500)
    val pair = Seq((1L, t(83) + shared), (2L, t(211) + shared))
      .toDF("doc_id", "text")
    val chunks = graft.operators.TextOps.cdcChunksOf(pair).collect()
      .map(r => (r.getLong(0), r.getString(4)))
    val h1 = chunks.filter(_._1 == 1L).map(_._2).toSet
    val h2 = chunks.filter(_._1 == 2L).map(_._2).toSet
    assert((h1 & h2).nonEmpty,
      "no shared chunks across aligned-differently docs — CDC broken")
  }

  test("cdc boundary expression matches the SQL lambda form, incl. non-ASCII and short docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "tiny"),                                   // shorter than one window
      (2L, ("the quick brown fox jumps over it " * 40)),
      (3L, "héllo wörld ünïcode çhars everywhere " * 30)  // multi-byte path
    ).toDF("doc_id", "text")
    val viaExpr = docs.select(col("doc_id"),
        explode(CdcBoundaries.of(col("text"), 16)).as("i"))
    val viaSql = docs.select(col("doc_id"), explode(expr(
      """filter(transform(sequence(16, greatest(length(text), 16)),
        | i -> CASE WHEN i <= length(text) AND
        |   substring(md5(substring(text, i - 15, 16)), 1, 2) = '00'
        |  THEN i ELSE -1 END), x -> x > 0)""".stripMargin)).as("i"))
    assert(viaExpr.exceptAll(viaSql).isEmpty && viaSql.exceptAll(viaExpr).isEmpty)
  }

  test("c5 curation pipeline: one plan, model broadcast, keeps a strict subset") {
    val out = TextOps.curationPipeline(spark, sf)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"model scoring join not broadcast:\n$plan")
    val rows = out.collect()
    assert(rows.nonEmpty)
    val total = Tables.load(spark, sf, "documents").count()
    val kept = rows.map(_.getLong(2)).sum
    assert(kept > 0 && kept < total,
      s"filter chain kept $kept of $total — gates not engaging")
    rows.foreach { r =>
      assert(Set("train", "val", "test")(r.getString(0)))
      val s = r.getDouble(4)
      assert(s > 0 && s <= 7.0, s"roll-up surprisal $s out of the kept range")
    }
  }

  test("c4 mixture apply: resampled shares land on target, deterministic") {
    val out = TextOps.mixtureApply(spark, sf).cache()
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = byLang.values.sum.toDouble
    val target = Map("en" -> 0.40, "zh" -> 0.15, "es" -> 0.15,
      "de" -> 0.15, "fr" -> 0.15)
    target.foreach { case (lang, share) =>
      byLang.get(lang).foreach { n =>
        assert(math.abs(n / total - share) < 0.02,
          s"$lang resampled share ${n / total} vs target $share")
      }
    }
    // deterministic: the same manifest row set on a second run
    val a = out.collect().map(_.toString).sorted
    val b = TextOps.mixtureApply(spark, sf).collect().map(_.toString).sorted
    assert(a.sameElements(b))
    out.unpersist()
  }

  test("t15 shuffle-shard: reproducible order, complete shards, append-stable keys") {
    val a = TextOps.shuffleShard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val b = TextOps.shuffleShard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // reproducible without rand(): two runs identical
    assert(a.toSet == b.toSet && a.length == b.length)
    val n = Tables.load(spark, sf, "documents").count()
    assert(a.length == n, "every doc gets exactly one manifest row")
    // shards partition the corpus; positions are contiguous 1..|shard|
    val byShard = a.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0 until 8).toSet))
    byShard.foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length),
        s"shard $sh positions not contiguous")
    }
    // a doc's SHARD is a pure function of its id at fixed S
    // (append-stable routing; positions within a shard shift on append —
    // rank is corpus-relative, the shard assignment is not). The half
    // corpus goes through the PIPELINE, not a filter of the full run —
    // filtering the full output would compare a value with itself
    val half = TextOps.shuffleShardOver(
        Tables.load(spark, sf, "documents").select("doc_id")
          .filter(col("doc_id") % 2 === 0), shards = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val fullShard = a.map(t => t._1 -> t._2).toMap
    assert(half.nonEmpty &&
      half.forall { case (id, sh) => fullShard(id) == sh })
  }

  test("h1 html extract: markup gone, boilerplate dropped, kept words come from the body") {
    val out = TextOps.htmlExtract(spark, sf)
    // map-side narrow transform: no shuffle anywhere in the plan
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val clean = r.getAs[String]("clean_text")
      // no markup, comments, or undecoded basic entities survive
      assert(!clean.contains("<") && !clean.contains(">") &&
        !clean.contains("&amp;") && !clean.contains("rendered build"))
      // the planted boilerplate is gone: script payload, nav, footer
      assert(!clean.contains("track(t)") && !clean.contains("About Contact") &&
        !clean.contains("Conditions"))
      assert(r.getAs[Int]("n_kept") <= r.getAs[Int]("n_blocks"))
      assert(r.getAs[Int]("clean_len") == clean.length)
      // extraction is surgery, not synthesis: every kept word is a word
      // of the source document's body text
      val orig = docs(r.getLong(0)).split(" ").toSet
      assert(clean.split("[\\s]+").filter(_.nonEmpty).forall(orig.contains))
    }
  }

  test("t4 fused min-gram hash equals the SQL HOF form at every row") {
    import spark.implicits._
    // fixture rows exercise the clamp (short + empty), non-ASCII, and an
    // ASTRAL char (surrogate pair: Spark windows by code points, so the
    // fused fallback must too — UTF-16 indexing would shift every window
    // after the emoji)
    val docs = Tables.load(spark, sf, "documents").select(col("text"))
      .as[String].take(50).toSeq ++ Seq("", "ab", "héllo wörld répeat",
        "emoji 😀 in the middle of window text")
    val out = docs.toDF("text").select(
        MinGramHash.of(col("text"), 8).as("fused"),
        expr("""array_min(transform(sequence(1, greatest(length(text)-7, 1)),
          | i -> md5(substring(text, i, 8))))""".stripMargin).as("sql"))
      .collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1), r))
  }

  test("t8 fused repetition stats equal the SQL HOF form at every row") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").select(col("text"))
      .as[String].take(50).toSeq ++
      Seq("a", "a a a a a a", "one two three four five one two three four five")
    val out = docs.toDF("text")
      .select(expr("split(text, ' ')").as("words"))
      .select(RepetitionStats.of(col("words")).as("st"),
        expr("""array_max(transform(array_distinct(words),
          | w -> size(filter(words, x -> x = w))))""".stripMargin).as("mw"),
        expr("""transform(sequence(0, greatest(size(words)-5, 0)),
          | i -> array_join(slice(words, i+1, 5), ' '))""".stripMargin).as("g5"))
      .select(col("st.max_word_count"), col("mw"),
        col("st.n_grams"), expr("size(g5)"),
        col("st.n_distinct_grams"), expr("size(array_distinct(g5))"))
      .collect()
    out.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), r)
      assert(r.getInt(2) == r.getInt(3), r)
      assert(r.getInt(4) == r.getInt(5), r)
    }
  }

  test("rolling/md5 gram hits: zero-length text emits no grams (no mutual empty carriers)") {
    import spark.implicits._
    val r = Seq(("a", ""), ("b", ""), ("c", "x"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), size(SpanGramHits.of(col("text"), 50)).as("nm"))
      .collect().map(x => x.getString(0) -> x.getInt(1)).toMap
    // the md5 window rolls over every offset of a non-empty text, but an
    // empty text has no offset: two empty docs share NO gram
    assert(r("a") == 0 && r("b") == 0)
  }

  test("t16 bpe train: hand-checked merges on the classic corpus; " +
      "best counts non-increasing; merges feed forward") {
    import spark.implicits._
    // the Sennrich-style worked example: low x5, lower x2, newest x6.
    // Hand-derived rounds (pairs weighted by word freq, ties broken
    // (cnt DESC, left ASC, right ASC)):
    //   r1 (w,e)=8 -> we; r2 (l,o)=7 -> lo;
    //   r3 tie at 6 resolves to (e,we) -> ewe (left "e" sorts first);
    //   r4 tie at 6 resolves to (ewe,s) -> ewes — r3's and r4's winners
    //   only EXIST because of earlier rounds, pinning the feed-forward.
    val docs = Seq((1L,
      ("low " * 5) + ("lower " * 2) + ("newest " * 6).trim))
      .toDF("doc_id", "text")
    val m = TextOps.bpeTrainOver(docs, 4).collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(m.toSeq == Seq(
      (1, "w", "e", "we", 8L),
      (2, "l", "o", "lo", 7L),
      (3, "e", "we", "ewe", 6L),
      (4, "ewe", "s", "ewes", 6L)), m.mkString(", "))

    // corpus-scale invariants at the gated query's own rounds: ranks
    // complete, merged is the concatenation, and the best count can
    // never INCREASE round over round (a new pair's count is bounded by
    // the merged symbol's own count, itself the previous best)
    val full = TextOps.bpeTrain(spark, sf).collect().sortBy(_.getInt(0))
    assert(full.map(_.getInt(0)).toSeq == (1 to TextOps.BpeTrainRounds))
    full.foreach { r =>
      assert(r.getString(3) == r.getString(1) + r.getString(2))
      assert(r.getLong(4) > 0)
    }
    val cnts = full.map(_.getLong(4))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => b <= a },
      cnts.mkString(","))
  }

  test("t16 bpe train: fully-fused single-letter word emits no phantom " +
      "pairs (Spark sequence(1,0) yields [1,0]) and exhaustion ends the " +
      "merge table early on the Spark side too") {
    import spark.implicits._
    // "a" (freq 10) fuses to the single symbol a</w> in round 1. Before
    // the size(syms)>1 filter, round 2 exploded sequence(1, 0) = [1, 0]
    // for it, emitting phantom (a</w>, null)/(null, a</w>) pairs at cnt
    // 10 that beat the real (b,</w>)=1 argmax — a null merge that
    // poisons every later round. DuckDB's range(1, 1) emits no rows, so
    // this is exactly the cross-engine divergence class the oracle gate
    // exists for; pinned here at fixture scale.
    val docs = Seq((1L, ("a " * 10).trim + " b c")).toDF("doc_id", "text")
    val m = TextOps.bpeTrainOver(docs, 5).collect().sortBy(_.getInt(0))
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(m.toSeq == Seq(
      (1, "a", "</w>", "a</w>", 10L),
      (2, "b", "</w>", "b</w>", 1L),
      (3, "c", "</w>", "c</w>", 1L)), m.mkString(", "))
    // vocabulary exhausted after round 3: rounds 4-5 emit NO row (not a
    // null row) — the documented early-end contract now holds on both
    // engines.
  }

  test("t16 bpeTrainTokens: unicode-clean trainer learns per-ideograph " +
      "merges on a CJK corpus (no token gate)") {
    import spark.implicits._
    // 学习 x5, 学生 x2. Round-1 pairs: (学,习)=5, (习,</w>)=5, (学,生)=2,
    // (生,</w>)=2 — the 5-tie resolves by left ASC and 习 (U+4E60) sorts
    // before 学 (U+5B66), so (习,</w>) merges first; round 2 then fuses
    // (学, 习</w>). Characters are multi-byte but substring/replace
    // segmentation is character-based, so rounds behave exactly as in
    // the Latin fixture.
    val docs = Seq((1L, ("学习 " * 5) + ("学生 " * 2).trim))
      .toDF("doc_id", "text")
    val m = TextOps.bpeTrainTokens(docs, 3).collect().sortBy(_.getInt(0))
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(m.toSeq == Seq(
      (1, "习", "</w>", "习</w>", 5L),
      (2, "学", "习</w>", "学习</w>", 5L),
      (3, "学", "生", "学生", 2L)), m.mkString(", "))
  }

  test("h1 extract property: generated pages — kept pools survive, " +
      "nav/short/script/style/comment pools never leak") {
    import org.scalacheck.Gen
    import spark.implicits._
    // disjoint word pools per block class: leakage is then a set test,
    // not a substring heuristic
    def pool(p: String) = Gen.choose(1, 40).map(i => s"$p$i")
    val keptBlock = Gen.choose(5, 12).flatMap(n =>
      Gen.listOfN(n, pool("keep")).map(ws => s"<p>${ws.mkString(" ")}</p>"))
    val navBlock = Gen.choose(2, 4).flatMap(n =>
      Gen.listOfN(n, pool("nav")).map(ws =>
        s"""<div>${ws.map(w => s"""<a href="/$w">$w</a>""").mkString(" ")}</div>"""))
    val shortBlock = Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, pool("shrt")).map(ws => s"<li>${ws.mkString(" ")}</li>"))
    val junk = for {
      s <- pool("scrpt"); c <- pool("cmnt"); st <- pool("styl")
    } yield s"<script>var x = '$s $s';</script><!-- $c --><style>.$st {}</style>"
    val page = for {
      ks <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, keptBlock))
      ns <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, navBlock))
      ss <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, shortBlock))
      j <- junk
      blocks <- Gen.const(scala.util.Random.javaRandomToRandom(
        new java.util.Random(42)).shuffle(ks ++ ns ++ ss))
    } yield (s"<html><head>$j</head><body>${blocks.mkString}</body></html>", ks)
    val cases = Gen.listOfN(40, page)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(31L))
      .getOrElse(sys.error("gen failed"))
    val df = cases.zipWithIndex
      .map { case ((html, _), i) => (i.toLong, html) }
      .toDF("doc_id", "html")
    val out = TextOps.htmlExtractOver(df).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    cases.zipWithIndex.foreach { case ((_, keptBlocks), i) =>
      val got = out(i.toLong).split("\\s+").filter(_.nonEmpty).toSet
      val expected = keptBlocks.flatMap(_.stripPrefix("<p>")
        .stripSuffix("</p>").split(" ")).toSet
      assert(got == expected,
        s"doc $i: missing=${expected -- got} leaked=${got -- expected}")
    }
  }

  test("c9 lr train: learned gate beats both trivial baselines; " +
      "run-to-run bit-identical; c3 output untouched by the factoring") {
    val w = TextOps.lrTrain(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(w.keySet == (1 to TextOps.LrTrainRounds).toSet)
    val (wb, wl, wu, ws, wa) = w(TextOps.LrTrainRounds)

    // score the corpus with the learned weights: agreement with the
    // teacher label must beat BOTH trivial gates (always-keep = the
    // base rate, always-drop = its complement) — the zero-weight model
    // IS always-keep (margin 0 >= 0), so this pins that training moved
    val feats = TextOps.qualityFeaturesOf(
      Tables.load(spark, sf, "documents")).collect()
    val scored = feats.map { r =>
      val m = wb + wl * r.getDouble(1) + wu * r.getDouble(2) +
        ws * r.getDouble(3) + wa * (r.getDouble(4) / 10.0)
      ((m >= 0), r.getDouble(5) >= 0.5)
    }
    val n = scored.length.toDouble
    val agree = scored.count { case (p, y) => p == y } / n
    val baseKeep = scored.count(_._2) / n
    assert(agree > math.max(baseKeep, 1 - baseKeep) + 0.05,
      s"agree=$agree baseKeep=$baseKeep")

    // bit-identical re-run (the cross-engine form of this claim is the
    // DuckDB hash gate, green at sf0.001/0.01/0.1/sf1)
    val w2 = TextOps.lrTrain(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(w2 == w)

    // the feature factoring cannot have moved c3: its oracle-pinned
    // column set survives (y stays internal to the factored frame)
    assert(TextOps.qualityLr(spark, sf).columns.toSeq ==
      Seq("doc_id", "f_len", "f_uniq", "f_stop", "f_awl", "z", "keep"))
  }

  test("s3 session windows agree with w8 sessionize on session count per user") {
    val s3 = Relational.sessionWindowAgg(spark, sf)
      .groupBy("user_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val w8 = Relational.sessionize(spark, sf)
      .groupBy("user_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(s3 == w8)
  }
}
