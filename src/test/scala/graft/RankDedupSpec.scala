package graft

import org.apache.spark.sql.functions._
import graft.operators.RankDedup

/** D2 upsert matrix (qa_retrieval.py:146-202): sim × rank quadrants. */
class RankDedupSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (Long, Seq[Double], Long)*) =
    rows.toDF("id", "v", "rank")

  private def run(store: Seq[(Long, Seq[Double], Long)],
      cand: Seq[(Long, Seq[Double], Long)]): Map[Long, (Long, String)] = {
    RankDedup.upsert(df(store: _*), df(cand: _*), dim = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
  }

  val vA = Seq(1.0, 0.0, 0.0)
  val vB = Seq(0.0, 1.0, 0.0)

  test("similar + higher rank => replace (delete old, insert new)") {
    val out = run(store = Seq((1L, vA, 7L)), cand = Seq((100L, vA, 9L)))
    assert(out == Map(100L -> (9L, "inserted")))
  }

  test("similar + lower-or-equal rank => discard candidate") {
    val out = run(store = Seq((1L, vA, 9L)), cand = Seq((100L, vA, 7L)))
    assert(out == Map(1L -> (9L, "kept")))
  }

  test("dissimilar + eligible rank => insert alongside") {
    val out = run(store = Seq((1L, vA, 7L)), cand = Seq((100L, vB, 8L)))
    assert(out == Map(1L -> (7L, "kept"), 100L -> (8L, "inserted")))
  }

  test("rank below 6 => dropped regardless of similarity (MIN_USER_RANK)") {
    val out = run(store = Seq((1L, vA, 2L)), cand = Seq((100L, vA, 5L)))
    assert(out == Map(1L -> (2L, "kept")))
  }

  test("empty store => all eligible candidates insert") {
    val out = run(store = Seq.empty, cand = Seq((100L, vA, 6L), (101L, vB, 3L)))
    assert(out == Map(100L -> (6L, "inserted")))
  }

  test("idempotence: equal-rank resubmission against the survivor is discarded") {
    // state after a replace: 100 holds vA at rank 9
    val store2 = df((100L, vA, 9L), (2L, vB, 8L))
    val again = RankDedup.upsert(store2, df((200L, vA, 9L)), dim = 3)
    assert(again.filter(col("status") === "inserted").count() == 0)
    assert(again.count() == 2)
  }

  test("dim defaults to MEASURED from the store: a 384-dim upsert works " +
      "without passing dim (the former dim-64 default failed loudly here)") {
    def unit384(seed: Int): Seq[Double] = {
      val raw = Array.tabulate(384)(k =>
        1.0 + 0.001 * (((seed * 384 + k) * 2654435761L >>> 40) & 0xff))
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n).toSeq
    }
    val store = df((1L, unit384(1), 7L), (2L, unit384(2), 8L))
    val out = RankDedup.upsert(store, df((100L, unit384(1), 9L)))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // identical vector, higher rank => replace; the other store row keeps
    assert(out == Map(100L -> (9L, "inserted"), 2L -> (8L, "kept")))
    // and an empty store derives the dim from the candidates instead
    val ins = RankDedup.upsert(df(), df((200L, unit384(3), 9L)))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(ins == Seq((200L, "inserted")))
  }

  test("a measured dim sizes the join switch: a 2,000-row 64-dim store " +
      "plans the banded join as with dim = 64 (merge) and returns the same rows") {
    def unit64(seed: Int): Seq[Double] = {
      val rnd = new scala.util.Random(seed)
      val raw = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n).toSeq
    }
    val store = df((0 until 2000).map(i => (i.toLong, unit64(i), (i % 11).toLong)): _*)
    // every 100th store vector resubmitted, so replace, discard and drop
    // all occur; random 64-dim pairs stay far below the 0.94 gate
    val cand = df((0 until 2000 by 100).map(i =>
      (10000L + i, unit64(i), ((i + 5) % 11).toLong)): _*)
    // (sorted result rows, whether the banded join planned as sort-merge)
    def run(dim: Int): (Seq[(Long, Long, String)], Boolean) = {
      val (rows, actions) = new ActionLog(spark).during(
        RankDedup.upsert(store, cand, dim = dim).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted)
      // the keep-best checkpoint is the one action whose plan holds the join
      val plans = actions.collect { case ("localCheckpoint", qe) =>
        qe.executedPlan.toString }
      assert(plans.size == 1, actions.map(_._1))
      (rows, plans.head.contains("SortMergeJoin"))
    }
    val (pinned, pinnedMerge) = run(64)
    // 2,000 · 8 bands · (8·64 + 40) bytes > 8 MiB: the switch must fire
    assert(pinnedMerge, "dim = 64 at 2,000 store rows must pin sort-merge")
    val (measured, measuredMerge) = run(0)
    assert(measuredMerge == pinnedMerge,
      "the measured dim must size the join switch like the explicit one")
    assert(measured == pinned)
    assert(measured.count(_._3 == "inserted") > 0)
  }

  test("keep-best is the bounded heap aggregate: ObjectHashAggregate, " +
      "no WindowGroupLimit / window sort") {
    val matches = RankDedup.bandedMatches(df((1L, vA, 7L), (2L, vB, 8L)),
      df((100L, vA, 9L)), dim = 3, planes = 4, forceShuffle = false)
    val plan = RankDedup.bestMatch(matches)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("Window "), plan)
    // and the argmax agrees with the window it replaced: best match for
    // cid=100 is the identical store vector (sid=1), not the orthogonal one
    val rows = RankDedup.bestMatch(matches).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(2))).toSeq == Seq((100L, 1L)))
  }

  test("sim-join is band-blocked: equi hash join, no nested-loop/cartesian") {
    val plan = RankDedup.upsert(df((1L, vA, 7L)), df((100L, vA, 9L)), dim = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
