package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TopKRows

/** Relational operator surface of SURVEY.md §2.2-§2.8: projections, filters,
  * joins, aggregations, windows, sorts, set ops, scalar functions.
  *
  * Each query is a declarative DataFrame pipeline — Catalyst handles pushdown,
  * pruning, join selection (broadcast for dims), and whole-stage codegen. At
  * 100 TB the same plans hold: dim joins (nation/region/part) broadcast;
  * fact-side aggregates are partial (map-side combine) before the shuffle;
  * window queries shuffle once on their partition key.
  *
  * Float-output policy (oracle parity): sums of 2-decimal money are rounded
  * to 2 (the true value is a 0.01 multiple, so rounding is tie-free and
  * absorbs summation-order noise); means/ratios/moments are rounded to a
  * scale with margin >> cross-engine float error and no decimal ties.
  * Integral-valued doubles (l_quantity) aggregate exactly and stay raw.
  *
  * Reference semantics citations are per-query (pgalko/BambooAI).
  */
object Relational {
  import graft.Q.{Q, lineitem, orders, customer, events, documents}

  /** Epoch seconds (floor) — stable across engines at any sub-second
    * precision; the (max-min).total_seconds() building block. */
  private def epochS(c: Column): Column = unix_timestamp(c.cast("timestamp"))

  /** S4/P1 scan+projection: full parquet read with pruned columns.
    * Ref: bambooai/web_app/app.py:228 (parquet read), default_prompts.yaml:50-59
    * (rename/select contract). Column pruning reaches the scan (ReadSchema). */
  def scanProjection: Q = (s, d) =>
    lineitem(s, d)
      .select(col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_no"),
        col("l_extendedprice").as("price"))

  /** P2 derived column: per-row arithmetic (pace = 1000/(speed*60) analog).
    * Ref: default_prompts.yaml:74. */
  def derivedColumn: Q = (s, d) =>
    orders(s, d).select(
      col("o_orderkey").as("order_key"),
      round(col("o_totalprice") * lit(0.92), 6).as("net_price"),
      round(col("o_totalprice") / lit(1000.0), 6).as("price_k"))

  /** P3/P4 conjunctive + validity filter. Ref: default_prompts.yaml:73-75. */
  def conjFilter: Q = (s, d) =>
    lineitem(s, d)
      .filter(col("l_quantity") > 25 && col("l_returnflag") === "R" &&
        col("l_extendedprice").isNotNull)
      .select(col("l_orderkey").as("order_key"), col("l_linenumber").as("line_no"),
        col("l_quantity").as("qty"), col("l_extendedprice").as("price"))

  /** P5 IN-list filter. Ref: default_prompts.yaml:103. */
  def inListFilter: Q = (s, d) =>
    orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("o_orderkey").as("order_key"),
        col("o_orderpriority").as("priority"))

  /** P6 case-insensitive string predicate. Ref: default_prompts.yaml:73. */
  def ciStringFilter: Q = (s, d) =>
    customer(s, d)
      .filter(lower(col("c_mktsegment")) === "building")
      .select(col("c_custkey").as("cust_key"), col("c_name").as("name"))

  /** P7 predicate on derived time part (dt.year == 1995).
    * Ref: default_prompts.yaml:229. Partition-prunable at scale if the fact
    * table is date-partitioned. */
  def yearFilter: Q = (s, d) =>
    orders(s, d)
      .filter(year(col("o_orderdate")) === 1995)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"))

  /** P9 row-slice sample (iloc[25:30] analog — deterministic order + offset).
    * Ref: bambooai/utils.py:107-120. */
  def rowSlice: Q = (s, d) =>
    orders(s, d).orderBy(col("o_orderkey"))
      .select(col("o_orderkey").as("order_key"), col("o_totalprice").as("price"))
      .offset(25).limit(5)

  /** J1/J3 dim joins customer⋈nation⋈region with group-agg. Both dims are
    * broadcast by Catalyst (fixed-size at any scale). Ref:
    * default_prompts.yaml:1329-1335, utils.py:692-709 (ontology merge links). */
  def dimJoin: Q = (s, d) => {
    val c = customer(s, d)
    val n = Tables.load(s, d, "nation")
    val r = Tables.load(s, d, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 2).as("total_bal"))
  }

  /** J2 temporal-granularity join: both sides aggregated to day grain, then
    * equi-joined on the date ("datetime needs aggregation to date",
    * default_prompts.yaml:1330-1335). */
  def temporalJoin: Q = (s, d) => {
    val o = orders(s, d).groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"))
    val l = lineitem(s, d).groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(count(lit(1)).as("n_ship"), sum("l_quantity").as("qty_ship"))
    o.join(l, "day").select(col("day"), col("n_orders"), col("n_ship"),
      col("qty_ship"))
  }

  /** Exact "money" sum for FIXED-CARDINALITY groupings over a growing fact
    * table (a12's four flag cells, a13/a14's cube cells, j3's ~25 brands):
    * rows-per-group grows ~N with the data, and a double sum's
    * cross-engine reproducibility decays as ~sqrt(n)·eps·sum — at sf1
    * (6M lineitem) the 4-decimal display of j3's ~1.2e10 revenue sums
    * differed between Spark's partial-agg order and DuckDB's (caught by
    * the round-11 sf1 verify sweep; 23 of 25 brands off in the last
    * digit). Same class as the t13/c7 quotient ties: the fix is the same
    * discipline — quantize each addend to 1e-4 (finer than any money
    * column's data precision), sum EXACTLY (decimal here, HUGEINT on the
    * DuckDB side), display-scale at the end. Bit-identical in both
    * engines by construction. decimal(18,0) addends rather than long:
    * a long accumulator wraps at ~1e18 = ~1e14 scaled dollars, which a
    * 100 TB revenue column exceeds; Spark widens the sum to decimal(28,0)
    * and DuckDB's BIGINT sum is already HUGEINT. The round-11 sf10 sweep
    * then retired the "date-grain sums stay plain double" carve-out this
    * paragraph used to make: w1's 6-dp ma7 display caught the day-sums'
    * low-bit divergence one decade after sf1 passed them, so dailyTotals
    * / w7 / w10 now carry the exact-cents grain too (see dailyTotals).
    *
    * Two portability rules baked in: (1) the addend quantizer is
    * floor(x·f + 0.5), NOT round(x·f) — Spark's double round goes through
    * BigDecimal.valueOf (the double's SHORTEST decimal string) while
    * DuckDB rounds the binary value, and a double whose shortest repr
    * lands exactly on .5 with the binary value just below it rounds
    * differently (expected ~1 such addend per few million rows at 1e9
    * magnitude); floor(+0.5) is pure IEEE arithmetic, so both engines
    * compute the identical addend from identical input bits. (2) the
    * quantization scale IS the display scale (f = 10^dp): quantizing
    * finer than the display would manufacture exact .5 display ties
    * (~1% of groups) that the two engines' final round would resolve
    * differently — at f = 10^dp the final round is an identity on an
    * exact dp-decimal value. Display exactness holds while the scaled
    * sum < 2^53; beyond that the decimal sum is still exact and both
    * engines display the same nearest double of it. */
  private def moneySum(addend: Column, dp: Int): Column = {
    val f = math.pow(10, dp)
    round(sum(floor(addend * f + lit(0.5)).cast("decimal(18,0)"))
      .cast("double") / f, dp)
  }

  /** J1 fact⋈dim revenue rollup (part is broadcast). */
  def brandRevenue: Q = (s, d) => {
    val l = lineitem(s, d)
    val p = Tables.load(s, d, "part")
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Full outer join (completing the join-type surface): order days vs ship
    * days — each side has dates the other lacks, so both null directions
    * are exercised. */
  def fullOuterJoin: Q = (s, d) => {
    val o = orders(s, d).groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"))
    val l = lineitem(s, d).groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(count(lit(1)).as("n_ship"))
    o.join(l, Seq("day"), "full_outer")
      .select(col("day"), col("n_orders"), col("n_ship"),
        (coalesce(col("n_orders"), lit(0L)) +
          coalesce(col("n_ship"), lit(0L))).as("activity"))
  }

  /** Ranking-function family (engine extras beyond the reference's
    * dense_rank/row_number): rank, percent_rank, ntile, cume_dist over one
    * deterministic ordering. */
  def rankFamily: Q = (s, d) => {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    orders(s, d).select(
      col("o_orderkey").as("order_key"), col("o_orderstatus").as("status"),
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      round(percent_rank().over(w), 6).as("prnk"),
      ntile(4).over(w).as("quartile"),
      round(cume_dist().over(w), 6).as("cdist"))
  }

  /** Semi join: customers that have orders (EXISTS). Declared Spark form per
    * SURVEY §2.3. */
  def semiJoin: Q = (s, d) => {
    val c = customer(s, d)
    val o = orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey").as("cust_key"), col("c_mktsegment").as("segment"))
  }

  /** Anti join: customers with no urgent orders (NOT EXISTS) — the dedup set
    * difference shape used by D2 delete+insert (qa_retrieval.py:188-202). */
  def antiJoin: Q = (s, d) => {
    val c = customer(s, d)
    val o = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey").as("cust_key"), col("c_acctbal").as("acctbal"))
  }

  /** A1 group-by multi-agg — the reference's "dataframe index" function:
    * groupby(activity_id).agg(first sport, min datetime, abs(max-min) distance,
    * mean speed/hr, max lap) (default_prompts.yaml:24-42,1244-1261). Mapped to
    * lineitem per order. Map-side partial aggregation before the shuffle. */
  def groupMultiAgg: Q = (s, d) =>
    lineitem(s, d).groupBy(col("l_orderkey").as("order_key")).agg(
      min("l_shipdate").as("first_ship"),
      abs(max("l_extendedprice") - min("l_extendedprice")).as("price_spread"),
      avg("l_quantity").as("avg_qty"),
      round(sum("l_extendedprice"), 2).as("total_price"),
      max("l_linenumber").as("max_line"),
      count(lit(1)).as("n_lines"))

  /** A2 per-group duration seconds ((max-min).total_seconds(),
    * default_prompts.yaml:45-47). */
  def groupDuration: Q = (s, d) =>
    events(s, d).groupBy(col("user_id")).agg(
      (epochS(max("ts")) - epochS(min("ts"))).as("duration_s"),
      count(lit(1)).as("n_events"))

  /** A3/W7 flagship: runs-per-month analog — orders per month of 1995.
    * Ref: default_prompts.yaml:234 (groupby(month).size()). */
  def ordersPerMonth: Q = (s, d) =>
    orders(s, d)
      .filter(year(col("o_orderdate")) === 1995)
      .groupBy(trunc(to_date(col("o_orderdate")), "month").as("month"))
      .agg(count(lit(1)).as("n"))
      .orderBy("month")

  /** W5 argmax over the A3 result: busiest month (idxmax analog,
    * default_prompts.yaml:238). */
  def topMonth: Q = (s, d) =>
    ordersPerMonth(s, d).orderBy(desc("n"), col("month")).limit(1)

  /** A4 single-column group mean. Ref: default_prompts.yaml:112. */
  def groupMean: Q = (s, d) =>
    events(s, d).groupBy(col("event_type"))
      .agg(round(avg("value"), 6).as("avg_value"), count(lit(1)).as("n"))

  /** A5/A6 global scalar stats incl. exact median/percentiles.
    * Ref: default_prompts.yaml:312-318, README.md:478. Percentiles route
    * through [[ScaleOps.percentileAgg]] — the oracle-gated default is exact,
    * a 100 TB deployment flips the same switch to percentile_approx. */
  def globalStats: Q = (s, d) =>
    orders(s, d).agg(
      count(lit(1)).as("n"),
      round(avg("o_totalprice"), 6).as("mean_price"),
      round(stddev("o_totalprice"), 4).as("sd_price"),
      min("o_totalprice").as("min_price"),
      max("o_totalprice").as("max_price"),
      round(ScaleOps.percentileAgg(col("o_totalprice"), 0.5, approx = false),
        6).as("median_price"))

  /** A6 percentile ladder 30/50/75/90. Ref: README.md:478. */
  def percentiles: Q = (s, d) => {
    val ladder = Seq(30, 50, 75, 90).map(p =>
      round(ScaleOps.percentileAgg(col("l_quantity"), p / 100.0,
        approx = false), 6).as(s"p$p"))
    lineitem(s, d).agg(ladder.head, ladder.tail: _*)
  }

  /** A7/I1 one-pass column profile: count/min/max/mean/missing per column in a
    * single agg (not N scans — SURVEY §4 "physical execution notes"). Ref:
    * bambooai/utils.py:64-74. */
  def columnProfile: Q = (s, d) =>
    lineitem(s, d).agg(
      count(lit(1)).as("n_rows"),
      min("l_quantity").as("qty_min"), max("l_quantity").as("qty_max"),
      avg("l_quantity").as("qty_mean"),
      sum(when(col("l_quantity").isNull, 1).otherwise(0)).as("qty_missing"),
      min("l_extendedprice").as("price_min"), max("l_extendedprice").as("price_max"),
      round(avg("l_extendedprice"), 6).as("price_mean"),
      sum(when(col("l_extendedprice").isNull, 1).otherwise(0)).as("price_missing"),
      min("l_discount").as("disc_min"), max("l_discount").as("disc_max"),
      round(avg("l_discount"), 6).as("disc_mean"))

  /** A8 distinct count + top-k frequent values (nunique + value_counts.head(3),
    * utils.py:76-84). Tie-break: count desc then value asc (SURVEY §7.5). */
  def distinctTopK: Q = (s, d) =>
    customer(s, d).groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("segment")).limit(3)

  /** A8b distinct counts (exact; approx_count_distinct is the 100TB path). */
  def distinctCount: Q = (s, d) =>
    orders(s, d).agg(
      countDistinct(col("o_custkey")).as("n_cust"),
      countDistinct(col("o_orderpriority")).as("n_prio"))

  /** A9 correlation between two numeric columns.
    * Ref: default_prompts.yaml:1338-1344. */
  def correlation: Q = (s, d) =>
    lineitem(s, d).agg(
      round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
      round(corr("l_discount", "l_tax"), 6).as("corr_disc_tax"))

  /** A10 aggregate over a grouped result (monthly_runs.Count.sum(),
    * default_prompts.yaml:278). */
  def sumOverGroups: Q = (s, d) =>
    ordersPerMonth(s, d).agg(sum("n").as("total_1995"))

  /** Rollup (engine extra per SURVEY §2.4 note): subtotals per
    * returnflag×linestatus. */
  def rollupAgg: Q = (s, d) =>
    lineitem(s, d)
      .rollup(col("l_returnflag").as("rflag"), col("l_linestatus").as("lstatus"))
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))

  /** Cube (engine extra, SURVEY §2.4 note): all subtotal combinations. */
  def cubeAgg: Q = (s, d) =>
    orders(s, d)
      .cube(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice"), 2).as("total"))

  /** Grouping sets via the SQL surface (the LLM-emitted-SQL path of
    * SURVEY §7.1): independent subtotals per status and per priority. */
  def groupingSets: Q = (s, d) => {
    orders(s, d).createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
        | count(*) AS n,
        | round(cast(sum(cast(floor(o_totalprice * 100 + 0.5)
        |   as decimal(18,0))) as double) / 100, 2) AS total
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
  }

  /** A15 pivot table — the pandas `pivot_table` archetype the reference's
    * generated code leans on (rows=status, columns=priority, values=count):
    * `.pivot` with the value list PINNED so Spark neither runs a discovery
    * job nor depends on data order for column layout. Plan: a single
    * two-key partial-agg + shuffle, same as a13's cube input. */
  def pivotTable: Q = (s, d) =>
    orders(s, d)
      .groupBy(col("o_orderstatus").as("status"))
      .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .toDF("status", "p_urgent", "p_high", "p_medium", "p_not_spec", "p_low")
      // a status with zero rows for some priority pivots to null; the
      // count-semantics (and the oracle's FILTER form) say 0
      .na.fill(0L)

  /** F19 unpivot/melt — the inverse reshape (pandas `melt`): wide per-line
    * measures to long (metric, value) pairs. Spark's native `unpivot`
    * expands map-side (no shuffle, no join): 3 output rows per input row. */
  def unpivotMeasures: Q = (s, d) =>
    lineitem(s, d)
      .select(col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_no"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .unpivot(Array(col("order_key"), col("line_no")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "value")

  /** Range-frame window (engine extra beyond the reference's ROWS frames):
    * trailing-7-day revenue per day — RANGE over a day-number key covers
    * calendar gaps that a ROWS frame would silently skip. */
  def rangeWindow: Q = (s, d) => {
    // same exact-cents grain as w1 (see dailyTotals): the 7-day range
    // sum is an integer cents sum — order-free in any engine
    val daily = dailyTotals(s, d)
      .withColumn("day_n", datediff(col("day"), lit("1995-01-01")))
    val w = Window.orderBy("day_n").rangeBetween(-6, 0)
    daily.select(col("day"), col("total"),
      round(sum(col("total_c")).over(w).cast("double") / 100.0, 2)
        .as("total_7d"))
  }

  /** F15 base64 encode/decode roundtrip over text payloads
    * (code_executor.py:150-151,241-250). */
  def base64Roundtrip: Q = (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      // Spark's base64 MIME-wraps at 76 chars; strip to the canonical form
      regexp_replace(base64(col("text").cast("binary")), "[\\r\\n]", "")
        .as("b64"),
      unbase64(base64(col("text").cast("binary"))).cast("string")
        .as("roundtrip"))

  /** Array aggregation (F-array surface the parquet nested types admit,
    * SURVEY §1.2): per-order sorted line-number list + its size, rendered
    * as a join-string so the oracle compare stays order-stable. */
  def arrayAgg: Q = (s, d) =>
    lineitem(s, d).groupBy(col("l_orderkey").as("order_key"))
      .agg(
        concat_ws(",", sort_array(collect_list(col("l_linenumber"))))
          .as("line_nos"),
        size(collect_list(col("l_linenumber"))).as("n_lines"))

  /** Null-handling scalars: nullif / coalesce-chain / greatest / least
    * (fillna-family, default_prompts.yaml:66-67). */
  def nullOps: Q = (s, d) =>
    customer(s, d).select(
      col("c_custkey").as("cust_key"),
      nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
      coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("DEFAULT"))
        .as("seg_filled"),
      greatest(col("c_acctbal"), lit(0.0)).as("bal_floor0"),
      least(col("c_acctbal"), lit(1000.0)).as("bal_cap1k"))

  /** TPC-H Q1-shape pricing summary: the canonical A1/A5 benchmark head. */
  def pricingSummary: Q = (s, d) =>
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag").as("rflag"), col("l_linestatus").as("lstatus"))
      .agg(
        sum("l_quantity").as("sum_qty"),
        moneySum(col("l_extendedprice"), 2).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("sum_disc_price"),
        avg("l_quantity").as("avg_qty"),
        round(avg("l_extendedprice"), 6).as("avg_price"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  // ---- Window / ordered computations (§2.5) ----

  /** Daily order totals in exact CENTS (`total_c`, bigint) plus the
    * 2-dp display form. The round-11 sf10 sweep (100x fixture) caught
    * w1's 6-dp `ma7` display off by one digit on 1 of 2,405 rows: the
    * plain double day-sums differ between engines in their low bits
    * (partial-agg order; reproducibility decays ~sqrt(n)·eps·sum), which
    * a 2-dp display absorbs but a 6-dp display of their 7-day mean does
    * not. o_totalprice is 2-decimal money, so the floor(x·100+0.5)
    * quantization is EXACT (same moneySum rule) and `total_c` is
    * bit-identical in any engine; `total` = total_c/100 follows. */
  private def dailyTotals(s: SparkSession, d: String): DataFrame =
    orders(s, d).groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
        .as("total_c"))
      .withColumn("total", round(col("total_c").cast("double") / 100.0, 2))

  /** W1 moving average (rolling(window=7).mean() analog,
    * default_prompts.yaml:309-310) over daily order totals. The 7-day
    * mean is an INTEGER quotient over the exact cents (micro-dollar
    * scaled, truncating division — positive operands, so Spark `div` and
    * DuckDB `//` agree), because windowed double aggregation is not
    * order-reproducible across engines (DuckDB uses segment trees) and a
    * 6-dp display can land within one ulp of a display midpoint at 1e9
    * magnitudes — the c7/t13 quotient discipline applied to a window. */
  def movingAvg: Q = (s, d) => {
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    dailyTotals(s, d)
      .withColumn("sc", sum(col("total_c")).over(w))
      .withColumn("cnt", count(col("total_c")).over(w))
      .select(col("day"), col("total"), expr(
        "cast((cast(sc as decimal(28,0)) * 10000) div cnt as double) / 1e6")
        .as("ma7"))
  }

  /** W2 lag-based pct_change daily return. Ref: default_prompts.yaml:308.
    *
    * Sign-split exact quotient (round 13, retiring the last rounded-double
    * display in any hash path): the 6-dp return is computed as
    * sign(n) x ((2|n|*10^6 + d) div (2d)) / 1e6 over the EXACT daily cents
    * (n = cur_c - prev_c, d = prev_c > 0) — round-half-away-from-zero of
    * n/d at 6 dp in pure integer arithmetic. The operands of `div` are
    * both non-negative, where Spark's truncate-toward-zero and DuckDB's
    * floor agree (the signed case is exactly where they diverge, which is
    * why the plain w1/c7 quotient trick never ported — see v5's scaladoc);
    * the final /1e6 of a small integer is IEEE-exact. No round() of a
    * double quotient remains anywhere in a hash-gated display. decimal(38)
    * intermediates: |n|*2e6 overflows a bigint once daily cents pass ~4.6e12
    * (a ~50 B$/day corpus — within a 100 TB run's reach). */
  def pctChange: Q = (s, d) => {
    val w = Window.orderBy(col("day"))
    dailyTotals(s, d)
      .withColumn("prev_c", lag("total_c", 1).over(w))
      .select(col("day"), col("total"),
        when(col("prev_c").isNull, lit(null).cast("double"))
          .otherwise(expr(
            """cast((case when total_c < prev_c then -1 else 1 end) *
              | ((abs(cast(total_c as decimal(38,0)) - prev_c) * 2000000
              |    + prev_c) div (cast(prev_c as decimal(38,0)) * 2))
              | as double) / 1e6""".stripMargin))
          .as("ret"))
  }

  /** W3 cumulative sum per group ordered by time.
    * Ref: web_app/app.py:378-382. One shuffle on user_id.
    *
    * Exact-cents grain (round 12, pre-empting the fifth-decade tie class):
    * event values are 2-decimal money, so each addend quantizes exactly
    * with the moneySum floor(x·100+0.5) rule and the running sum is an
    * order-free bigint. The plain double form passed sf10 only because
    * both engines evaluate ROWS UNBOUNDED PRECEDING incrementally — an
    * argument that breaks the moment either engine introduces a segment
    * tree or partial-agg reorder (exactly how w1 fell a decade after j3);
    * the integer grain removes the dependence on evaluator internals. */
  def cumSum: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d).select(col("user_id"), col("event_id"), col("value"),
      (sum(floor(col("value") * 100 + lit(0.5)).cast("long")).over(w)
        .cast("double") / 100.0).as("cum_value"))
  }

  /** W4 dense re-ranking of group ids by first timestamp
    * (activity re-keying, web_app/app.py:352-373).
    *
    * Distributed two-pass rank instead of a global-window `dense_rank`
    * (which plans an `Exchange SinglePartition` — one task ranks every
    * group, a straggler at 100× the fixture's user count): range-partition
    * on the sort key, rank within each range partition, then add each
    * partition's broadcast row-count offset. The sort key (first_ts,
    * user_id) is unique per row, so dense_rank = row_number and the
    * per-partition ranks + offsets compose to the exact global rank. The
    * offset table is one row per shuffle partition — bounded by config, not
    * data — and its prefix sum runs as a tiny triangular self-join, so NO
    * stage of the plan funnels the data itself into a single partition
    * (asserted in PipelineOpsSpec). */
  def denseRerank: Q = (s, d) => {
    val firsts = events(s, d).groupBy("user_id").agg(min("ts").as("first_ts"))
    // pin spark_partition_id before branching (checkpoint materializes once)
    val parts = firsts.repartitionByRange(col("first_ts"), col("user_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(eager = false)
    val counts = parts.groupBy("pid").agg(count(lit(1)).as("cnt"))
    val offs = counts.as("l")
      .join(counts.as("r"), col("r.pid") < col("l.pid"), "left")
      .groupBy(col("l.pid").as("pid"))
      .agg(coalesce(sum(col("r.cnt")), lit(0L)).as("off"))
    val wp = Window.partitionBy("pid").orderBy("first_ts", "user_id")
    parts.join(broadcast(offs), Seq("pid"))
      .select(col("user_id"), col("first_ts"),
        (col("off") + row_number().over(wp)).cast("int").as("new_id"))
  }

  /** W5 argmax row (loc[idxmax()] analog, default_prompts.yaml:115,238). */
  def argmaxRow: Q = (s, d) =>
    orders(s, d)
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .select(col("o_orderkey").as("order_key"), col("o_totalprice").as("price"),
        col("o_orderdate").as("odate"))
      .limit(1)

  /** W6 segmentation by cumulative value with incomplete-last-segment nulling
    * (default_prompts.yaml:78-91: segment_id = distance//1000, drop the
    * incomplete final segment per group). Grain 500.0 on event value.
    *
    * Exact-cents grain (round 12, the [[cumSum]] discipline): the bucket
    * boundary floors the EXACT bigint cents divided by 50000.0 — cents fit
    * a double exactly (≤2^53), so the one division is IEEE-identical in
    * both engines and the boundary cannot drift with accumulation order.
    * The former round-before-floor on a double running sum only held while
    * both engines summed incrementally. */
  def segmentation: Q = (s, d) => {
    val wc = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("user_id")
    val segs = events(s, d).select(col("user_id"), col("event_id"),
      floor(sum(floor(col("value") * 100 + lit(0.5)).cast("long")).over(wc)
        .cast("double") / 50000.0).as("seg_raw"))
    segs.select(col("user_id"), col("event_id"),
      when(col("seg_raw") === max("seg_raw").over(wAll), lit(null))
        .otherwise(col("seg_raw")).as("segment_id"))
  }

  /** W7/F2 time bucketing + month label (dt.to_period('M'), strftime('%B');
    * default_prompts.yaml:234-235). */
  def timeBucket: Q = (s, d) =>
    orders(s, d)
      .groupBy(trunc(to_date(col("o_orderdate")), "month").as("month"),
        date_format(col("o_orderdate"), "MMMM").as("month_name"))
      // exact month sums (see dailyTotals/moneySum): the month grain has
      // 10x a day's rows, so it crosses the double-sum display tolerance
      // a decade EARLIER than the day grain the sf10 sweep caught
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice"), 2).as("total"))

  /** O1 multi-key sort with limit. Ref: default_prompts.yaml:79. */
  def multiKeySort: Q = (s, d) =>
    lineitem(s, d)
      .orderBy(col("l_returnflag"), desc("l_quantity"), col("l_orderkey"),
        col("l_linenumber"))
      .select(col("l_returnflag").as("rflag"), col("l_quantity").as("qty"),
        col("l_orderkey").as("order_key"), col("l_linenumber").as("line_no"))
      .limit(50)

  /** O2 sort desc + latest row. Ref: default_prompts.yaml:69,96-97. */
  def latestOrder: Q = (s, d) =>
    orders(s, d).orderBy(desc("o_orderdate"), col("o_orderkey"))
      .select(col("o_orderkey").as("order_key"), col("o_orderdate").as("odate"))
      .limit(1)

  /** O5 top-k by measure (TakeOrderedAndProject — no full sort at scale). */
  def topKOrders: Q = (s, d) =>
    orders(s, d).orderBy(desc("o_totalprice"), col("o_orderkey"))
      .select(col("o_orderkey").as("order_key"), col("o_totalprice").as("price"))
      .limit(10)

  /** Top-k per group (largest orders per status) — the bounded
    * [[graft.functions.TopKRows]] heap aggregate (round 15; the last
    * gated per-group top-k still on the window form). Spark's
    * InferWindowGroupLimit does bound the window shape's shuffle
    * (`WindowGroupLimit Partial → Exchange → Final`), but its map-side
    * GroupedLimitIterator SORTS the whole input partition first — over
    * corpus-sized orders that is an O(n log n) map-side sort for a top-3.
    * The heap aggregate holds ≤ k rows per group with no sort anywhere
    * and the same shuffle bound (≤ groups·k rows per mapper). Ordering
    * (price DESC, order_key ASC) is TopKRows' field convention;
    * `pos + 1` IS the row_number the oracle's window assigns (exact
    * equivalence incl. ties is TopKRowsSpec's pinned property). */
  def topKPerGroup: Q = (s, d) => {
    orders(s, d)
      .select(col("o_orderstatus").as("status"),
        struct(col("o_totalprice"), col("o_orderkey")).as("cand"))
      .groupBy("status").agg(TopKRows.of(col("cand"), 3).as("top"))
      .select(col("status"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("status"), col("t.o_orderkey").as("order_key"),
        col("t.o_totalprice").as("price"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** D1 distinct values. Ref: web_app/app.py:358,367. */
  def distinctValues: Q = (s, d) =>
    orders(s, d).select(col("o_orderpriority").as("priority")).distinct()

  /** Set ops (union/except/intersect — D2's delete+insert shape,
    * SURVEY §2.7 note). Customers partitioned by order activity. */
  def setOps: Q = (s, d) => {
    val ck = customer(s, d).select(col("c_custkey").as("k"))
    val ok = orders(s, d).select(col("o_custkey").as("k")).distinct()
    val both = ck.intersect(ok).withColumn("cls", lit("active"))
    val onlyC = ck.except(ok).withColumn("cls", lit("inactive"))
    both.unionByName(onlyC)
  }

  /** Sessionization: gap>30min splits sessions per user (batch session-ization
    * of SURVEY §2.10 — the reference's activity/segment grouping W6). */
  def sessionize: Q = (s, d) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = events(s, d).select(col("user_id"), col("event_id"), col("ts"),
      when(epochS(col("ts")) - epochS(lag("ts", 1).over(byUser)) > 1800, 1)
        .otherwise(0).as("new_sess"))
    marked.select(col("user_id"), col("ts"),
      sum("new_sess").over(cum).as("session_id"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        (epochS(max("ts")) - epochS(min("ts"))).as("duration_s"))
  }

  // ---- Scalar functions (§2.8) ----

  /** F2/F4 date parts + arithmetic/rounding (round(3), abs, floor-div, pow;
    * default_prompts.yaml:61-63,85,229). */
  def scalarMath: Q = (s, d) =>
    lineitem(s, d).select(
      col("l_orderkey").as("order_key"), col("l_linenumber").as("line_no"),
      year(col("l_shipdate")).as("ship_year"),
      month(col("l_shipdate")).as("ship_month"),
      round(col("l_quantity") / 7, 3).as("qty_sevenths"),
      round(col("l_extendedprice") * col("l_discount"), 6).as("disc_amt"),
      abs(col("l_quantity") - 25).as("qty_dev"),
      floor(col("l_quantity") / 10).as("qty_bucket"),
      round(pow(col("l_discount"), 2), 6).as("disc_sq"))

  /** F5 casts + null handling (astype(int), fillna(0);
    * default_prompts.yaml:66-67). */
  def castsAndNulls: Q = (s, d) =>
    lineitem(s, d).select(
      col("l_orderkey").as("order_key"), col("l_linenumber").as("line_no"),
      col("l_quantity").cast("bigint").as("qty_int"),
      coalesce(col("l_returnflag"), lit("?")).as("rflag"),
      concat(col("l_returnflag"), lit("/"), col("l_linestatus")).as("flag_status"))

  /** F6 string ops: lower/trim/substring/regexp_extract/regexp_replace
    * (reg_ex.py:56-231, google_search.py:288-289). regexp_replace is
    * replace-all in Spark; oracle uses the 'g' flag. */
  def stringOps: Q = (s, d) =>
    Tables.load(s, d, "part").select(
      col("p_partkey").as("part_key"),
      lower(col("p_name")).as("name_lc"),
      trim(col("p_name")).as("name_trim"),
      substring(col("p_type"), 1, 6).as("type_prefix"),
      regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("type_head"),
      regexp_replace(col("p_brand"), "[^0-9]", "").as("brand_num"))

  /** F12 JSON extraction from the props bag (storage payloads,
    * code_executor.py:174-180). */
  def jsonExtract: Q = (s, d) =>
    events(s, d).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("bigint").as("k"))

  /** §2.10 tumbling window in batch: hourly event counts —
    * `window($"ts", "1 hour")` buckets are epoch-aligned, so the hour
    * start is the truncated timestamp. */
  def hourlyEvents: Q = (s, d) =>
    events(s, d)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))

  /** §2.10 sliding window (1 h window, 15 min slide): each event lands in 4
    * overlapping windows. Spark's `window()` generator expands in the map
    * stage, so the only shuffle is the final per-window aggregation — same
    * plan shape under readStream with a watermark. */
  def slidingEvents: Q = (s, d) =>
    events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("n"), col("total_value"))

  /** §2.10 session windows in batch: `session_window(ts, 30 min)` per user —
    * Spark's gap-session operator. Semantics: a session absorbs an event iff its timestamp is
    * strictly inside the previous window's [start, last+gap) extent, so a
    * gap of exactly 30 minutes starts a new session; window end = last
    * event + gap. One shuffle on user_id; session merging is per-key local.
    * Complements w8 (the window-function formulation): same sessions,
    * microsecond gap arithmetic here vs w8's floored-seconds contract. */
  def sessionWindowAgg: Q = (s, d) =>
    events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("total_value"))
}
