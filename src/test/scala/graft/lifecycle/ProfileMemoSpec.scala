package graft.lifecycle

import org.apache.spark.sql.functions.col

import graft.{JobLog, SparkSpec, Tables}
import graft.operators.Profile

/** The per-version profile memo of [[EngineSession]]: one I1 profile per
  * binding version, a snapshot of the bound plan. Spark jobs are counted
  * with a listener, so "reused" means zero jobs, not merely the same text. */
class ProfileMemoSpec extends SparkSpec {

  private lazy val orders = Tables.load(spark, sf, "orders")

  test("profile is byte-identical to Profile.summaryString, then free") {
    val es = new EngineSession(spark)
    val log = new JobLog(spark)
    try {
      es.bind("memo_t", orders)
      val direct = Profile.summaryString(es.current("memo_t").get)
      val (first, firstJobs) = log.counted(es.profile("memo_t").get)
      assert(first == direct)
      assert(firstJobs > 0, "the first call must compute the profile")
      assert(log.counted(es.profile("memo_t").get) == ((direct, 0)))
      assert(es.profile("no_such_table").isEmpty)
    } finally log.close()
  }

  test("rebind profiles the new rows; unbind releases it") {
    val es = new EngineSession(spark)
    val log = new JobLog(spark)
    try {
      es.bind("memo_v", orders)
      val before = es.profile("memo_v").get
      val fewer = orders.filter(col("o_orderstatus") === "F")
      es.bind("memo_v", fewer)
      val after = es.profile("memo_v").get
      assert(after == Profile.summaryString(fewer))
      val n = "o_orderkey: numeric\\(n=(\\d+)\\)".r
      val nBefore = n.findFirstMatchIn(before).get.group(1).toLong
      val nAfter = n.findFirstMatchIn(after).get.group(1).toLong
      assert(nAfter < nBefore, s"n=$nAfter after the rebind, n=$nBefore before")

      // a failed statement leaves the binding, so its profile stays memoized
      val failed = es.executeWithRepair("SELECT nope FROM memo_v", (_, _) => None)
      assert(failed.df.isEmpty)
      assert(log.counted(es.profile("memo_v").get) == ((after, 0)))

      es.unbind("memo_v")
      assert(es.profile("memo_v").isEmpty && es.current("memo_v").isEmpty)
      assert(!es.names.contains("memo_v"))
      assert(!spark.catalog.tableExists("memo_v"))
    } finally log.close()
  }

  test("concurrent first callers share one computation") {
    val es = new EngineSession(spark)
    val log = new JobLog(spark)
    try {
      // one call's job count, measured on a version of its own
      es.bind("memo_c", orders)
      val (_, oneCall) = log.counted(es.profile("memo_c"))
      assert(oneCall > 0)
      // a fresh version of the same plan, profiled by 4 threads at once
      es.bind("memo_c", orders)
      val start = new java.util.concurrent.CyclicBarrier(4)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (1 to 4).map(_ => new Thread(() => log {
        start.await()
        results.add(es.profile("memo_c").get)
      }))
      val (_, jobs) = log.counted {
        threads.foreach(_.start())
        threads.foreach(_.join(120000))
      }
      assert(threads.forall(!_.isAlive), "profile threads hung")
      assert(results.size == 4 && results.toArray.distinct.length == 1)
      assert(jobs == oneCall, s"4 concurrent callers ran $jobs jobs, one call $oneCall")
    } finally log.close()
  }
}
