package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/** Systemic plan-quality gate over EVERY SparkEntry query: the two
  * patterns that silently kill a plan at 1000x the data must not appear
  * anywhere in the bench surface, not just in the operators that were
  * individually audited when they were written.
  *
  *  - A [[WindowExec]] whose required child distribution collapses to
  *    [[SinglePartition]] (an un-partitioned `Window.orderBy`): the whole
  *    corpus funnels through one task — the exact anti-pattern t11's
  *    sharded cumsum and w4's two-pass rank were built to avoid, here
  *    enforced for every query so a future edit cannot reintroduce it.
  *  - A non-broadcast [[CartesianProductExec]]: an n x m row explosion.
  *    Broadcast forms (BroadcastNestedLoopJoin over a one-row probe or a
  *    bounded dim) are fine and common here; the shuffled cartesian never
  *    is.
  *
  * The gate plans (not runs) each query at sf0.001 — builders that
  * materialize driver-side shortlists (v10) or seed at-rest artifacts
  * (v7/v9) do execute those parts, which is why the whole sweep still
  * takes seconds, not minutes. */
class PlanGateSpec extends SparkSpec {

  private def offenders(p: SparkPlan): (Seq[String], Seq[String]) = {
    // a Window is single-partitioned when its partition spec is empty —
    // visible physically as a SinglePartition shuffle feeding it (or an
    // already-single child); checking the Window's own required child
    // distribution is the robust form across AQE re-plans
    val windows = p.collect {
      case w: WindowExec
          if w.requiredChildDistribution.exists {
            case org.apache.spark.sql.catalyst.plans.physical
                  .AllTuples => true
            case _ => false
          } =>
        w.simpleStringWithNodeId()
    }
    val cartesians = p.collect { case c: CartesianProductExec =>
      c.simpleStringWithNodeId()
    }
    (windows, cartesians)
  }

  /** Windows over CALENDAR-cardinality rollups: w1/w2/w10 window a
    * daily-totals frame — one row per day, bounded by the calendar
    * (~4k rows per decade) regardless of corpus size, so their single
    * partition holds a calendar's worth of rows, never a corpus's.
    * Exempted BY NAME so any new un-partitioned window over corpus-
    * cardinality data still fails loudly. */
  private val calendarWindows =
    Set("w1_moving_avg", "w2_pct_change", "w10_range_window")

  test("no query plans a single-partition window or a shuffled cartesian product") {
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      val df =
        try q(spark, sf)
        catch { case e: Exception =>
          fail(s"$name failed to build at $sf: ${e.getMessage}")
        }
      // sparkPlan, not executedPlan: AQE's AdaptiveSparkPlanExec is a
      // leaf node that hides its inner plan from collect(), which would
      // make the node-level gate silently vacuous
      val plan = df.queryExecution.sparkPlan
      val (wins, carts) = offenders(plan)
      if (!calendarWindows.contains(name))
        wins.foreach(w => bad += s"$name: single-partition window: $w")
      carts.foreach(c => bad += s"$name: shuffled cartesian: $c")
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
    // the exemption list must stay honest: every listed name still plans
    // the single-partition window it is exempted for — a rewrite that
    // removes it should also remove the exemption
    calendarWindows.foreach { n =>
      val (wins, _) = offenders(
        SparkEntry.queries(n)(spark, sf).queryExecution.sparkPlan)
      assert(wins.nonEmpty,
        s"$n no longer plans a single-partition window — drop the exemption")
    }
  }

  /** Fixed-cardinality dims: tables whose size does NOT grow with the
    * scale factor (TPC-H pins region at 5 rows and nation at 25), so they
    * are broadcast-able at ANY corpus scale and a join against them must
    * carry an EXPLICIT broadcast hint. The bench's cluster-shape config
    * disables auto-broadcast (threshold -1 — the conservative large-
    * cluster posture where the optimizer distrusts stats), and under it a
    * hint-less dim join silently degrades to a SortMergeJoin that
    * shuffles the corpus side for nothing — the toy-plan inversion
    * BASELINE.md §skew documented, promoted here from a one-time audit note to a
    * standing gate over every query. */
  private val fixedDims = Set("nation", "region")

  private def scannedTables(p: SparkPlan): Set[String] =
    p.collectLeaves().flatMap {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
      case _ => Seq.empty
    }.toSet

  /** Shuffle joins (SMJ or shuffled-hash) where one side scans ONLY
    * fixed-cardinality dim files — the side that should have been a
    * broadcast hint. */
  private def dimShuffleJoins(p: SparkPlan): Seq[String] = p.collect {
    case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if Seq(j.left, j.right).exists { side =>
          val t = scannedTables(side)
          t.nonEmpty && t.subsetOf(fixedDims)
        } => j.simpleStringWithNodeId()
    case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if Seq(j.left, j.right).exists { side =>
          val t = scannedTables(side)
          t.nonEmpty && t.subsetOf(fixedDims)
        } => j.simpleStringWithNodeId()
  }

  test("o6 per-group top-k is the bounded heap aggregate (no window sort)") {
    // round-15 rewiring of the last gated per-group top-k: the window
    // form's WindowGroupLimit bounds the shuffle but SORTS each map-side
    // input partition; the TopKRows heap needs no sort anywhere
    val plan = SparkEntry.queries("o6_topk_per_group")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("Window "), plan)
    assert(!plan.contains("Sort "), plan)
  }

  test("v14 keep decision is the bounded heap aggregate (no window)") {
    // the retention keep is (min centroid_sim, id asc) per component —
    // the dd8 shape, but on TopKRows k=1 instead of a window, so no
    // per-component sort of the corpus-sized scored stream exists
    // anywhere in the final stage (the SMJ's key sort is the honest
    // scale plan and stays). The struct ranked is (double, long) — no
    // array field, so the hash-agg path holds (the round-16 Lloyd
    // SortAggregate lesson).
    val plan = SparkEntry.queries("v14_embed_retention")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("Window "), plan)
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("no query shuffle-joins a fixed-cardinality dim when auto-broadcast is off") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1") // the bench cluster-shape posture
    try {
      val bad = scala.collection.mutable.ArrayBuffer.empty[String]
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
        dimShuffleJoins(q(spark, sf).queryExecution.sparkPlan)
          .foreach(j => bad += s"$name: un-hinted dim shuffle join: $j")
      }
      assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
      // non-vacuity: a deliberately hint-less dim join under this config
      // must be caught
      val docs = Tables.load(spark, sf, "documents")
      val nat = Tables.load(spark, sf, "nation")
      val broken = docs.join(nat, docs("doc_id") % 25 === nat("n_nationkey"))
      assert(dimShuffleJoins(broken.queryExecution.sparkPlan).nonEmpty,
        "gate no longer catches a hint-less dim shuffle join — vacuous")
      // and the hinted form of the same join passes
      val hinted = docs.join(
        org.apache.spark.sql.functions.broadcast(nat),
        docs("doc_id") % 25 === nat("n_nationkey"))
      assert(dimShuffleJoins(hinted.queryExecution.sparkPlan).isEmpty)
    } finally spark.conf.set(key, prev)
  }

  /** The third standing gate, promoted from the round-10 t4 finding: an
    * interpreted higher-order lambda that HASHES per-position SUBSTRINGS
    * (`transform(sequence(...), i -> md5(substring(text, i, G)))`) is the
    * repo's measured 7-13x trap (dd9 4.6x, t14 12.9x, t4 7.9x after
    * fusion) — HOF lambdas are interpreted per element and allocate a
    * digest string per POSITION. Every such site has a fused
    * CodegenFallback expression (SpanGramHits/CdcBoundaries/MinGramHash);
    * this gate keeps the pattern from creeping back into any query.
    * Word-slicing lambdas (array_join/slice shingles) are fine and
    * common — only a HASH over a SUBSTRING inside the lambda flags. */
  private def perPositionHashLambdas(
      df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    df.queryExecution.analyzed.foreach { plan =>
      plan.expressions.foreach { root =>
        root.foreach {
          case hof: HigherOrderFunction =>
            hof.functions.foreach { f =>
              val hashes = f.collect {
                case h @ (_: Md5 | _: Sha1 | _: Sha2 | _: Crc32 |
                    _: Murmur3Hash | _: XxHash64) => h
              }
              val hashesSubstring = hashes.exists(_.collectFirst {
                case _: Substring => ()
              }.isDefined)
              if (hashesSubstring)
                bad += hof.toString.take(100)
            }
          case _ => ()
        }
      }
    }
    bad.toSeq
  }

  test("no query plans a per-position substring-hash lambda (the fused-expression trap)") {
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      perPositionHashLambdas(q(spark, sf))
        .foreach(h => bad += s"$name: $h")
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
    // non-vacuity: t4's pre-fusion form is exactly what must be caught
    val old = Tables.load(spark, sf, "documents").select(
      org.apache.spark.sql.functions.expr(
        """array_min(transform(sequence(1, greatest(length(text)-7, 1)),
          | i -> md5(substring(text, i, 8))))""".stripMargin).as("m"))
    assert(perPositionHashLambdas(old).nonEmpty,
      "gate no longer catches the per-position md5 lambda — vacuous")
    // and a word-slicing lambda (no hash) does NOT flag
    val shingles = Tables.load(spark, sf, "documents").select(
      org.apache.spark.sql.functions.expr(
        """transform(sequence(0, greatest(size(split(text, ' '))-3, 0)),
          | i -> array_join(slice(split(text, ' '), i+1, 3), ' '))""".stripMargin)
        .as("s"))
    assert(perPositionHashLambdas(shingles).isEmpty)
  }

  /** Global final aggregates legitimately use SinglePartition (the data
    * is already one combined row per partial); this documents that the
    * gate above is about WINDOWS, not about banning the exchange type —
    * a5's plan carries the benign form and still passes. Also pins that
    * the node-level sweep is NOT vacuous: it must see the sharded
    * windows w1 genuinely plans. */
  test("benign single-partition exchanges (global agg finals) are not flagged") {
    val qe = SparkEntry.queries("a5_global_stats")(spark, sf).queryExecution
    assert(qe.executedPlan.toString.contains("Exchange SinglePartition"),
      "fixture lost its benign single-partition exchange")
    val (wins, carts) = offenders(qe.sparkPlan)
    assert(wins.isEmpty && carts.isEmpty)
    // anti-vacuity: the sweep's collect must actually reach Window nodes
    val w1 = SparkEntry.queries("w1_moving_avg")(spark, sf)
      .queryExecution.sparkPlan
    assert(w1.collect { case w: WindowExec => w }.nonEmpty,
      "plan traversal no longer reaches Window nodes — gate is vacuous")
  }
}
