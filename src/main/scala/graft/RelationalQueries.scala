package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import java.util.concurrent.TimeUnit

/** Relational query surface: scan/filter/project/join/agg/window/distinct —
  * the capabilities the reference exposes through its Raco/Myria frontend
  * (`/root/reference/src/main/kotlin/.../opt/raco/RacoOperators.kt:110-201`:
  * Scan/FileScan/Select/Apply/Store) and its ⊕-aggregate machinery, expressed
  * directly as Catalyst plans so pushdown/pruning/partial-agg are automatic.
  *
  * Scale notes: every aggregate here is hash-agg with map-side combine; the
  * multi-way joins keep dimension tables broadcastable (region/nation/
  * customer/part are tiny relative to fact tables at any SF); no query
  * collects or loops on the driver.
  *
  * All double-valued outputs are rounded identically in the DuckDB oracle
  * (see SparkEntry.contracts) so hash comparison is robust to fp summation
  * order across 32 partitions.
  */
object RelationalQueries {
  import Tables._

  /** TPC-H Q1-style scan+aggregate: one pass over the fact table, group on
    * two low-cardinality keys. At 100 TB this is the canonical map-side
    * partial-agg query — shuffle carries ~6 groups, not rows.
    */
  def q1Agg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"), // integral values: double sum is exact in any order
        Num.centsSumExact(col("l_extendedprice")).as("sum_base_price"),
        Num.e4SumExact(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        (sum(round(col("l_discount") * 100).cast("long")).cast("double") / lit(100.0) / count(lit(1)))
          .as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Filter + projection: predicate and column pruning reach the parquet
    * scan (verified via explain in RelationalSpec — PushedFilters non-empty).
    */
  def filterPushdown(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1995-04-01").cast("timestamp") &&
              col("l_discount") > lit(0.05))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
              Num.e4Exact(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))

  /** TPC-H Q6 family: the canonical single-scan forecast query — every
    * predicate reaches the parquet scan, the aggregate is one global
    * (sum, count) pair, zero joins. At 100 TB the cost is exactly one
    * pruned columnar read.
    */
  def q6Forecast(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
              col("l_discount").between(0.05, 0.07) &&
              col("l_quantity") < 24)
      .agg(Num.e4SumExact(col("l_extendedprice") * col("l_discount")).as("revenue"),
           count(lit(1)).as("n_lines"))

  /** TPC-H Q4 family: orders (in a quarter) having at least one
    * high-discount line, counted per priority — EXISTS as a left-semi
    * join, so the fact table contributes only distinct matching keys to
    * the shuffle.
    */
  def q4PriorityExists(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
    val l = lineitem(s, d).filter(col("l_discount") >= 0.08).select(col("l_orderkey"))
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Customer–orders–lineitem 3-way join + aggregate (TPC-H Q3 family).
    * Build side (customer filtered to one segment) is small → broadcast.
    */
  def q3Join(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = orders(s, d)
    val l = lineitem(s, d)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("o_orderkey"))
      .agg(Num.e4SumExact(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_lines"))
  }

  /** 5-way join through region→nation→customer→orders→lineitem (TPC-H Q5
    * family): dims broadcast, one shuffle for the final group-by.
    */
  def q5MultiJoin(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d)
    val o = orders(s, d)
    val c = customer(s, d)
    val n = nation(s, d)
    val r = region(s, d)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(Num.e4SumExact(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q7 family (volume shipping): supplier-nation → customer-nation
    * trade volume per shipping year. The same dimension table joins twice
    * under two roles (supplier side and customer side) — both resolve
    * through broadcasts, so the only shuffle is the final group-by whose
    * key space is |nations|² · |years|, corpus-independent.
    */
  def q7Volume(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    val o = orders(s, d)
    val sup = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val cus = customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val n1 = nation(s, d)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val n2 = nation(s, d)
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cus), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(Num.e4SumExact(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"),
           count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q10 family (returned-item reporting): top 20 customers by
    * revenue lost to returns in a half-year. Revenue stays an integer
    * e4-units BIGINT so the (revenue desc, custkey) order — and therefore
    * the LIMIT-20 frontier — is a total order both engines resolve
    * identically. The global top-20 is a TakeOrdered over per-customer
    * aggregate rows, never the fact table.
    */
  def q10Returns(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1995-07-01").cast("timestamp"))
    val l = lineitem(s, d).filter(col("l_returnflag") === "R")
    val c = customer(s, d)
    val n = nation(s, d)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
        .cast("long")).as("rev_e4"))
      .orderBy(col("rev_e4").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q14 family (promotion effect): monthly promo vs total revenue.
    * Both sums stay exact integer e4 units — the promo share is a trivial
    * client-side division we deliberately do NOT emit, keeping the
    * contract integer-exact. One broadcast of the part dim, one shuffle
    * of 12 aggregate rows.
    */
  def q14Promo(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
    val p = part(s, d).select(col("p_partkey"), col("p_type"))
    val e4 = round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000).cast("long")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
        .cast("long").as("ym"))
      .agg(sum(when(col("p_type") === "PROMO", e4).otherwise(0L)).as("promo_e4"),
           sum(e4).as("total_e4"),
           count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q18 family (large-volume orders): orders whose total line
    * quantity exceeds the threshold, with their customer. The HAVING side
    * pre-aggregates the fact table to (orderkey, qty) rows BEFORE any
    * join — the join inputs are aggregate-sized; customer broadcasts.
    * Quantities are integral, so the BIGINT sum is exact in any order;
    * o_totalprice passes through untouched (no arithmetic → no fp drift).
    */
  def q18LargeOrders(s: SparkSession, d: String): DataFrame = {
    val big = lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
      .filter(col("sum_qty") > 250)
    val o = orders(s, d)
    val c = customer(s, d)
    big.join(o, big("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("sum_qty"))
  }

  /** Min-max feature normalization per event_type: (v − min)/(max − min)
    * over PICKED extremes — two IEEE subtractions and one division on
    * identical doubles, engine-exact with no quantization. Degenerate
    * single-value types emit 0.5. One bounded stats aggregate broadcast
    * back over the corpus; zero extra shuffles.
    */
  def minmaxNormalize(ev: DataFrame): DataFrame = {
    val stats = ev.groupBy(col("event_type"))
      .agg(min(col("value")).as("minv"), max(col("value")).as("maxv"))
    ev.select(col("event_id"), col("event_type"), col("value"))
      .join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("minv"), col("maxv"),
        when(col("maxv") > col("minv"),
          (col("value") - col("minv")) / (col("maxv") - col("minv")))
          .otherwise(lit(0.5d)).as("mnorm"))
  }

  /** Contract instance over the events table. */
  def minmaxQuery(s: SparkSession, d: String): DataFrame =
    minmaxNormalize(events(s, d))

  /** Deterministic A/B experiment readout: users assigned to arms by the
    * portable hash (stable across engines, re-runs and joins), then per
    * (event_type, arm) the EXACT integer moment components — n, Σcents,
    * Σcents² — from which any two-sample statistic (t, χ², effect size)
    * is one client-side formula. The contract ships no doubles at all.
    */
  def abSplitStats(ev: DataFrame): DataFrame = {
    val arm = when(pmod(graft.functions.PortableHash.hash60(
      concat(lit("ab_"), col("user_id"))), lit(2L)) === 0L, "A").otherwise("B")
    ev.select(col("event_type"), arm.as("arm"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        sum(col("cents") * col("cents")).as("sumsq_cents"))
  }

  /** Contract instance over the events table. */
  def abSplitQuery(s: SparkSession, d: String): DataFrame =
    abSplitStats(events(s, d))

  /** Per-group argmax: for each part, the supplier that shipped the
    * highest total quantity (ties → lowest suppkey). The rank window runs
    * over (part, supplier) AGGREGATE rows only — the fact table collapses
    * in the map-side-combined group-by first, so the window's sort input
    * is bounded by the key-pair space, not the corpus.
    */
  def partTopSupplier(s: SparkSession, d: String): DataFrame = {
    val per = lineitem(s, d)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).cast("long").as("qty")) // integral values: exact in any order
    val w = Window.partitionBy(col("l_partkey")).orderBy(col("qty").desc, col("l_suppkey"))
    per.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("l_partkey"), col("l_suppkey"), col("qty"))
  }

  /** Left-semi / left-anti joins (EXISTS / NOT EXISTS): customers with and
    * without orders. The reference has no outer/semi joins (SURVEY §2.4) —
    * this extends the surface with Spark built-ins.
    */
  def semiAntiJoin(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val o = orders(s, d).select(col("o_custkey"))
    val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit(true).as("has_orders"))
    val noO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit(false).as("has_orders"))
    withO.unionByName(noO)
  }

  /** Window functions (absent in the reference, SURVEY §2.6 — added as part
    * of the complete relational surface): top-3 orders per customer by
    * (totalprice, orderkey) — deterministic tie-break so the oracle matches.
    */
  def windowTopk(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
  }

  /** Running aggregate window over the events stream table: per-user
    * cumulative value ordered by time (ties broken by event_id).
    */
  def windowRunning(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("running_value", round(sum(col("value")).over(w), 2))
      .select(col("user_id"), col("event_id"), col("running_value"))
  }

  /** Trailing-interval rolling aggregate via a RANGE window frame — the
    * time-windowed running metric a ROWS frame cannot express (event gaps
    * and duplicate timestamps make row offsets wrong): per event, the
    * count and exact-cents value sum of the same user's events in the
    * trailing hour, current row included; simultaneous events (equal µs)
    * are RANGE peers and share one frame on both engines, so the output
    * is deterministic without a tiebreak column.
    *
    * Scale: one shuffle on user_id; the frame is evaluated by the
    * sliding-window aggregator (running add/remove over the sorted
    * partition), O(partition) not O(partition · frame). Cents sums keep
    * the contract fp-exact (the Num discipline).
    */
  def rollingHourRange(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(-3599999999L, 0L) // (t − 1h, t] in µs
    ev.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"), col("value"))
      .select(col("user_id"), col("event_id"), col("tus"),
        count(lit(1)).over(w).as("n_trailing"),
        (sum(round(col("value") * 100).cast("long")).over(w) / 100.0)
          .as("v_trailing"))
  }

  /** Distinct aggregates: suppliers and parts per order. */
  def distinctAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
           countDistinct(col("l_partkey")).as("n_part"))

  /** Time binning on the events table — the reference's only "window": bin
    * timestamps to fixed buckets by arithmetic (`sensor/SensorCalc.kt:386-393`,
    * `examples/sensor/SensorQuery.kt:44-50`, 120 s bins).
    */
  def eventsBin(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("bin", (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long"))
      .groupBy(col("bin"), col("event_type"))
      .agg(Num.centsSumExact(col("value")).as("sum_value"),
           count(lit(1)).as("n"))

  /** Set ops beyond Lara's ⊕-union: INTERSECT / EXCEPT on key sets. */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val buyers = orders(s, d).select(col("o_custkey").as("custkey")).distinct()
    val all = customer(s, d).select(col("c_custkey").as("custkey")).distinct()
    all.except(buyers).withColumn("status", lit("never_ordered"))
      .unionByName(all.intersect(buyers).withColumn("status", lit("ordered")))
  }

  /** Batch sessionization over the events table: gap-based session ids via
    * lag + running sum windows — the batch twin of the spec-side
    * `streaming.StreamingTwins.sessionize`, fully SQL-expressible so it
    * is oracle-checked. Timestamps are handled at millisecond grain on both
    * engines so the gap decisions agree bit-for-bit.
    */
  def sessionizeBatch(s: SparkSession, d: String, gapMs: Long = 1800000L): DataFrame = {
    val e = events(s, d).select(col("user_id"), col("event_id"),
      unix_millis(col("ts")).as("tms"), col("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tms"), col("event_id"))
    e.withColumn("ns",
        when(col("tms") - lag(col("tms"), 1).over(w) > gapMs, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("ns")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("tms")).as("session_start"),
        max(col("tms")).as("session_end"),
        count(lit(1)).as("n_events"),
        Num.centsSumExact(col("value")).as("total_value"))
  }

  /** DuckDB twin of [[sessionizeBatch]]'s gap rule as three CTEs: `e`, the
    * events with an integer time column; `s`, where `ns` = 1 when the gap
    * to the user's previous event EXCEEDS `gapMs`; `t`, the running session
    * number `sessionCol`. `unit` is the time grain: MILLISECONDS (`tms`,
    * the sessionizeBatch grain) or MICROSECONDS (`tus`, the grain that
    * replays [[sessionWindowAgg]] without mis-splitting sub-ms gaps).
    */
  private[graft] def sessionizeOracleCtes(gapMs: Long, unit: TimeUnit,
                                          sessionCol: String): String = {
    val (t, time) = unit match {
      case TimeUnit.MILLISECONDS => ("tms", "epoch_ns(ts) // 1000000")
      case TimeUnit.MICROSECONDS => ("tus", "epoch_us(ts)")
      case u => throw new IllegalArgumentException(s"sessionize oracle: no $u grain")
    }
    s"""e AS (
           SELECT user_id, event_id, $time AS $t, value FROM events),
         s AS (
           SELECT *, CASE WHEN $t - lag($t) OVER
               (PARTITION BY user_id ORDER BY $t, event_id) > ${unit.convert(gapMs, TimeUnit.MILLISECONDS)}
             THEN 1 ELSE 0 END AS ns
           FROM e),
         t AS (
           SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY $t, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS $sessionCol
           FROM s)"""
  }

  /** Sessionization via Spark's NATIVE `session_window` (the engine's own
    * merging-session operator — state-store-ready, identical semantics in
    * streaming) next to [[sessionizeBatch]]'s gaps-and-islands window
    * formulation. Split rule: STRICTLY greater than the gap splits — an
    * event exactly at prev + gap MERGES into the running session (the
    * RelationalSpec boundary test and the DuckDB oracle both pin this);
    * the window end is last event + gap — both replayed by the oracle in
    * exact integer MICROSECONDS (the millisecond grain would mis-split
    * sub-ms gaps).
    *
    * Scale: one shuffle on user_id; session merging is partition-local.
    */
  def sessionWindowAgg(s: SparkSession, d: String): DataFrame =
    sessionWindowOf(events(s, d))

  /** The native-session_window aggregation over any events-shaped frame. */
  def sessionWindowOf(ev: DataFrame): DataFrame =
    ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        Num.centsSumExact(col("value")).as("total_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"), col("total_value"))

  /** Explicit GROUPING SETS (the general form behind [[rollupAgg]]/cube):
    * per-returnflag totals, per-linestatus totals, and the grand total in
    * ONE pass, each row tagged with the engine's grouping_id bitmask —
    * the same Expand-based plan Spark uses for rollup/cube, exercised
    * with a non-hierarchical set list neither rollup nor cube can express.
    */
  def groupingSetsAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(round(col("l_quantity")).cast("long")).as("sum_qty"))

  /** CEP-style sequence pattern matching (MATCH_RECOGNIZE's core
    * `view+ purchase` shape): collapse each user's event stream into
    * maximal same-type runs (gaps-and-islands change detection), then
    * match purchase-runs whose immediately preceding run is views —
    * emitting the view-run length ("how much browsing converts") as a
    * histogram with match and purchase counts. Deterministic through the
    * (ts, event_id) total order.
    *
    * Scale: the change-detection window is per-user (never
    * unpartitioned); the run-level window runs on the COLLAPSED run
    * frame — already shrunk by the first aggregate; final output is a
    * ≤ max-run-length histogram.
    */
  def patternMatch(s: SparkSession, d: String): DataFrame =
    patternMatchOf(events(s, d))

  /** The run-pattern histogram over any events-shaped frame. */
  def patternMatchOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val seq = ev
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = seq.groupBy(col("user_id"), col("run"))
      .agg(min(col("event_type")).as("rtype"), // constant within a run
        count(lit(1)).as("rsize"))
    val wr = Window.partitionBy("user_id").orderBy("run")
    runs
      .withColumn("prev_type", lag(col("rtype"), 1).over(wr))
      .withColumn("prev_size", lag(col("rsize"), 1).over(wr))
      .filter(col("rtype") === "purchase" && col("prev_type") === "view")
      .groupBy(col("prev_size").as("views_before"))
      .agg(count(lit(1)).as("n_matches"), sum(col("rsize")).as("n_purchases"))
  }

  /** Ordered funnel analysis: for each user, the deepest prefix of
    * `stages` completed as a strictly-time-increasing event subsequence —
    * the canonical product-analytics query (ClickHouse `windowFunnel`,
    * Snowplow funnels). Greedy earliest-match is optimal for subsequence
    * matching, so the per-user sorted fold here computes exactly what the
    * oracle's stage-by-stage `min(ts where ts > prev)` chain computes.
    *
    * Plan: ONE groupBy(user) shuffle carrying (micros, type) pairs; the
    * fold runs bounded per-user work partition-local (the BM25 sorted-fold
    * pattern). No self-joins — the SQL chain formulation joins the events
    * table once PER STAGE, which at 100 TB is `stages.length` shuffles of
    * the full fact table; this is one.
    */
  def funnelStages(events: DataFrame, stages: Seq[String]): DataFrame =
    events.groupBy(col("user_id")).agg(funnelFold(stages))

  /** The greedy funnel fold as an aggregate column — shared by the batch
    * query above and the spec-side streaming twin (`StreamingTwins.windowedFunnel`)
    * so the two can never drift.
    */
  private[graft] def funnelFold(stages: Seq[String]): org.apache.spark.sql.Column = {
    require(stages.nonEmpty)
    // sentinel keeps element_at(stage+1) in bounds after the last stage —
    // ANSI mode throws on out-of-range and SQL AND does not short-circuit
    val stageArr = array((stages :+ " done").map(lit): _*)
    val evs = array_sort(collect_list(struct(
      unix_micros(col("ts")).as("us"), col("event_type").as("et"))))
    val init = struct(lit(0).as("stage"), lit(Long.MinValue).as("last"))
    aggregate(evs, init, (acc, e) =>
      when(acc.getField("stage") < stages.length &&
           e.getField("et") === element_at(stageArr, acc.getField("stage") + 1) &&
           e.getField("us") > acc.getField("last"),
        struct((acc.getField("stage") + 1).as("stage"), e.getField("us").as("last")))
      .otherwise(acc)).getField("stage").cast("long").as("funnel_stage")
  }

  /** Funnel with TIME-TO-CONVERT: depth plus the exact microseconds from
    * the stage-1 completion to the deepest completed stage (NULL below
    * depth 2 — no interval exists). Same greedy fold with the accumulator
    * widened to carry the first-stage timestamp; all integer arithmetic,
    * so the oracle's stage-chain timestamps subtract to the same value.
    */
  def funnelTiming(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty)
    val stageArr = array((stages :+ " done").map(lit): _*)
    val evs = array_sort(collect_list(struct(
      unix_micros(col("ts")).as("us"), col("event_type").as("et"))))
    val init = struct(lit(0).as("stage"), lit(Long.MinValue).as("last"),
      lit(Long.MinValue).as("first"))
    val acc = aggregate(evs, init, (a, e) =>
      when(a.getField("stage") < stages.length &&
           e.getField("et") === element_at(stageArr, a.getField("stage") + 1) &&
           e.getField("us") > a.getField("last"),
        struct((a.getField("stage") + 1).as("stage"), e.getField("us").as("last"),
          when(a.getField("stage") === 0, e.getField("us"))
            .otherwise(a.getField("first")).as("first")))
      .otherwise(a))
    events.groupBy(col("user_id")).agg(acc.as("acc"))
      .select(col("user_id"),
        col("acc.stage").cast("long").as("funnel_stage"),
        when(col("acc.stage") >= 2, col("acc.last") - col("acc.first"))
          .as("convert_us"))
  }

  /** DuckDB twin of [[funnelStages]] (and, with `timing`, of
    * [[funnelTiming]]), generated from the same stages: the classic stage
    * chain — `s<i>` is each user's earliest stage-i event strictly after
    * their `s<i-1>` — then per user the deepest completed stage and, with
    * `timing`, the µs from the stage-1 event to the deepest one.
    */
  private[graft] def funnelOracleSql(stages: Seq[String], timing: Boolean): String = {
    val n = stages.length
    val chain = stages.map(_.replace("'", "''")).zipWithIndex.map {
      case (st, 0) => s"""s1 AS (SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = '$st' GROUP BY 1)"""
      case (st, i) => s"""s${i + 1} AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN s$i ON e.user_id = s$i.user_id AND e.ts > s$i.t
                WHERE e.event_type = '$st' GROUP BY 1)"""
    }.mkString(",\n         ")
    def cases(from: Int, value: Int => String): String = (n to from by -1)
      .map(i => s"WHEN s$i.user_id IS NOT NULL THEN ${value(i)}").mkString("\n                      ")
    val convert = if (!timing) "" else s""",
                (CASE ${cases(2, i => s"epoch_us(s$i.t) - epoch_us(s1.t)")}
                      ELSE NULL END)::BIGINT AS convert_us"""
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         $chain
         SELECT u.user_id,
                (CASE ${cases(1, _.toString)}
                      ELSE 0 END)::BIGINT AS funnel_stage$convert
         FROM u
         ${(1 to n).map(i => s"LEFT JOIN s$i ON u.user_id = s$i.user_id").mkString("\n         ")}"""
  }

  /** Cohort retention: users grouped by first-seen day; for each (cohort
    * day, day offset), how many of the cohort's users were active. Day
    * index is integer epoch-day arithmetic on both engines. Two aggregates
    * off one scan shape (first-seen and active-days), joined on user —
    * shuffles carry (user, day) longs, never events.
    */
  def cohortRetention(ev: DataFrame): DataFrame = {
    val day = floor(unix_timestamp(col("ts")) / 86400).cast("long")
    val byUserDay = ev.select(col("user_id"), day.as("d"))
    val firsts = byUserDay.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
    byUserDay.distinct()
      .join(firsts, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("d") - col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Event-rate anomaly detection: per (event_type, hour) counts scored
    * against the trailing 24-hour window — z = (n − mean)/sd, the
    * monitoring query a pipeline runs on its own ingest feed. All window
    * aggregates are EXACT integer sums (S1=Σn, S2=Σn², k) so the engines
    * agree bit-for-bit; mean/sd/z are then one fixed sequence of IEEE
    * double ops on those exact integers — deterministic on both engines,
    * emitted unrounded (same stance as windowed_covariance).
    *
    * Plan: map-side-combined groupBy down to (types × hours) rows, then a
    * window partitioned by type — post-aggregation data is tiny at any
    * corpus scale; nothing event-sized crosses the window.
    */
  def rateAnomaly(ev: DataFrame, trailing: Int = 24, minHours: Int = 12): DataFrame = {
    val hour = floor(unix_timestamp(col("ts")) / 3600).cast("long")
    val counts = ev.select(col("event_type"), hour.as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(-trailing, -1)
    counts
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .withColumn("k", count(lit(1)).over(w))
      .filter(col("k") >= minHours)
      .withColumn("mean", col("s1").cast("double") / col("k"))
      .withColumn("sd", sqrt(
        (col("k") * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("k").cast("double") * (col("k") - lit(1)))))
      .select(col("event_type"), col("h"), col("n"),
        // sd = 0 (constant trailing window) has no variance basis to score
        // against: z is NULL, the row stays visible — forcing z = 0 there
        // would HIDE a spike right after flat history
        when(col("sd") === 0d, lit(null).cast("double"))
          .otherwise((col("n") - col("mean")) / col("sd")).as("z"))
  }

  /** Skyline (Pareto frontier): parts not dominated on
    * (minimize p_retailprice, maximize p_size) — the multi-objective
    * short-list query (cheapest-for-its-size). `a` dominates `b` iff
    * a.price ≤ b.price ∧ a.size ≥ b.size with one strict.
    *
    * The naive formulation is an O(n²) self-theta-join — fatal at scale.
    * This plan decomposes by price bucket: (1) distinct (price, size)
    * points — a map-side-combined agg; (2) per-bucket local skyline via a
    * PARTITIONED running-max window (a point survives iff no
    * better-priced point in its bucket has ≥ size); (3) cross-bucket
    * dominance via each bucket's max size, running-maxed over strictly
    * earlier buckets — a ≤ |buckets| frame on the approved constant-key
    * single-small-partition idiom — broadcast back. Every shuffle carries
    * points or bucket aggregates, never parts rows; the final semi-join
    * broadcasts the skyline (≤ |distinct sizes| points: per size only the
    * cheapest survives).
    *
    * Bucketing by floor(price) is sound because floor is monotone: an
    * earlier bucket holds strictly smaller prices, so its max size kills
    * exactly the cross-bucket-dominated points; equal-price dominance is
    * local to a bucket by construction.
    */
  def skyline(parts: DataFrame): DataFrame = {
    val pts = parts
      .select(col("p_retailprice").as("price"), col("p_size").cast("long").as("size"))
      .distinct()
      .withColumn("bucket", floor(col("price")).cast("long"))
    val wLoc = Window.partitionBy(col("bucket"))
      .orderBy(col("price").asc, col("size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = pts.withColumn("mx", max(col("size")).over(wLoc))
      .filter(col("mx").isNull || col("mx") < col("size"))
    val wB = Window.partitionBy(pmod(col("bucket"), lit(1L))).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prior = pts.groupBy(col("bucket")).agg(max(col("size")).as("bmx"))
      .withColumn("prior_mx", max(col("bmx")).over(wB))
      .select(col("bucket"), col("prior_mx"))
    val sky = local.join(broadcast(prior), Seq("bucket"))
      .filter(col("prior_mx").isNull || col("prior_mx") < col("size"))
      .select(col("price"), col("size"))
    parts.join(broadcast(sky),
        parts("p_retailprice") === col("price") && parts("p_size").cast("long") === col("size"),
        "left_semi")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size").cast("long").as("p_size"))
  }

  /** THREE-dimensional skyline (minimize price, maximize size and a third
    * metric) — the [[skyline]] bucket argument generalized one dimension
    * up. The third metric is SYNTHESIZED (portable hash of the part key,
    * mod 1000) so both engines derive identical points; the oracle states
    * the definitional quadratic NOT-EXISTS dominance test.
    *
    * Decomposition — dominance splits exactly three ways by the price
    * relation, each resolved without any quadratic join:
    *  - price strictly smaller, EARLIER price-bucket: a cumulative
    *    staircase `max rv over earlier buckets at size ≥ s`, computed on
    *    the size axis DENSIFIED to s = 1..size (the size domain is
    *    value-bounded — p_size ≤ 50 — so the explode is a bounded
    *    constant-factor, corpus-independent); running max over buckets
    *    within each s, broadcast back (|buckets|·|sizes| rows).
    *  - price strictly smaller, SAME bucket: the identical staircase one
    *    level down, price axis within (bucket, s) — aggregated rows of
    *    longs, windows over bounded-axis partitions.
    *  - price EQUAL: a 2-dim skyline, one running-max window over
    *    (size desc, rv desc) within the price partition (points are
    *    unique per (price, size) after the max-rv reduction, so the
    *    strictly-preceding frame is exactly the dominating set).
    * Every shuffle carries (bucket, price, size, rv) longs; the corpus
    * touches only the distinct-point reduction and the final semi-join
    * against the broadcast skyline.
    */
  def skyline3d(parts: DataFrame): DataFrame = {
    def rvOf(key: org.apache.spark.sql.Column) =
      pmod(graft.functions.PortableHash.hash60(concat(lit("sky_"), key)), lit(1000L))
    val pts0 = parts.select(col("p_retailprice").as("price"),
      col("p_size").cast("long").as("size"), rvOf(col("p_partkey")).as("rv")).distinct()
    // same-(price,size) reduction: a lower rv there is strictly dominated
    val pts = pipeline.InternalCaches.register(
      pts0.groupBy(col("price"), col("size")).agg(max(col("rv")).as("rv"))
        .withColumn("bucket", floor(col("price")).cast("long"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // (A) earlier-bucket staircase over the densified size axis
    val perBS = pts.groupBy(col("bucket"), col("size")).agg(max(col("rv")).as("mrv"))
      .select(col("bucket"), explode(sequence(lit(1L), col("size"))).as("s"), col("mrv"))
      .groupBy(col("bucket"), col("s")).agg(max(col("mrv")).as("mrv"))
    val wB = Window.partitionBy(col("s")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val priorB = perBS.withColumn("prior_rv", max(col("mrv")).over(wB))
      .select(col("bucket"), col("s").as("size"), col("prior_rv"))
    // (B) same-bucket cheaper-price staircase, one level down
    val perPS = pts
      .select(col("bucket"), col("price"), explode(sequence(lit(1L), col("size"))).as("s"),
        col("rv"))
      .groupBy(col("bucket"), col("price"), col("s")).agg(max(col("rv")).as("mrv"))
    val wP = Window.partitionBy(col("bucket"), col("s")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val priorP = perPS.withColumn("prior_rv2", max(col("mrv")).over(wP))
      .select(col("bucket"), col("price"), col("s").as("size"), col("prior_rv2"))
    // (C) equal-price 2-dim skyline window
    val wEq = Window.partitionBy(col("price")).orderBy(col("size").desc, col("rv").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val sky = pts
      .withColumn("eq_mx", max(col("rv")).over(wEq))
      .join(priorB, Seq("bucket", "size"), "left")
      .join(priorP, Seq("bucket", "price", "size"), "left")
      .filter((col("eq_mx").isNull || col("eq_mx") < col("rv")) &&
        (col("prior_rv").isNull || col("prior_rv") < col("rv")) &&
        (col("prior_rv2").isNull || col("prior_rv2") < col("rv")))
      .select(col("price"), col("size").as("ssize"), col("rv").as("srv"))
    parts.select(col("p_partkey"), col("p_retailprice"),
        col("p_size").cast("long").as("p_size"), rvOf(col("p_partkey")).as("rv"))
      .join(broadcast(sky),
        col("p_retailprice") === col("price") && col("p_size") === col("ssize") &&
          col("rv") === col("srv"),
        "left_semi")
  }

  /** First-order Markov transition counts over each user's event sequence
    * (ordered by ts, event_id) — the path-analysis complement to the
    * funnel queries: which step follows which, corpus-wide. One
    * user-partitioned lead window + a map-side-combined agg down to
    * |types|² rows; nothing event-sized crosses the second shuffle.
    */
  def eventTransitions(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type").as("from_type"), col("to_type"), col("n"))
  }

  /** Contract instance over the events table. */
  def transitionsQuery(s: SparkSession, d: String): DataFrame =
    eventTransitions(events(s, d))

  /** Second-order path mining: 3-step event-type paths per user sequence
    * (ordered by ts, event_id) — [[eventTransitions]] one step deeper,
    * where funnels and loops become visible. Two leads over the SAME
    * user-partitioned window (one sort serves both), then a map-side-
    * combined aggregate down to ≤ |types|³ rows.
    */
  def eventPaths(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("step2", lead(col("event_type"), 1).over(w))
      .withColumn("step3", lead(col("event_type"), 2).over(w))
      .filter(col("step3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).as("n"))
  }

  /** Period-over-period deltas: per (event_type, day) the event count
    * and exact cents volume next to the PREVIOUS day-with-data's values
    * (absent days don't emit rows, so "previous" is the previous
    * observed day — gap semantics live in [[gapFill]]). The lag window
    * runs over the per-day AGGREGATE rows only — bounded by calendar
    * time per type, never corpus-sized.
    */
  def periodOverPeriod(ev: DataFrame): DataFrame = {
    val daily = ev.select(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("prev_n", coalesce(lag(col("n"), 1).over(w), lit(0L)))
      .withColumn("prev_cents", coalesce(lag(col("cents"), 1).over(w), lit(0L)))
      .select(col("event_type"), col("day"), col("n"), col("prev_n"),
        (col("n") - col("prev_n")).as("delta_n"),
        col("cents"), col("prev_cents"),
        (col("cents") - col("prev_cents")).as("delta_cents"))
  }

  /** Gaps-and-islands: merge each user's overlapping intervals into
    * maximal islands. Intervals are VARIABLE length (duration derived
    * deterministically from the event value), so an early long interval
    * can span past several later short ones — the running-max-of-end
    * break test is load-bearing, unlike sessionize's prev-row gap test.
    * Touching intervals (start == running end) merge (closed-open
    * adjacency). Both windows share one (user_id, (s_ms, event_id))
    * sort; islands are per-user sequences — no global state.
    */
  def intervalMerge(ev: DataFrame): DataFrame = {
    // duration = cents × prime mod 1 day: spreads the small value domain
    // across [1 ms, 1 day] so intervals genuinely overlap (≈⅔ of events
    // merge at sf0.01) — a plain cents-ms duration is ≤ 10 s and never
    // overlaps sparse per-user event sequences
    val base = ev.select(col("user_id"),
      expr("unix_millis(ts)").as("s_ms"), col("event_id"),
      (expr("unix_millis(ts)") +
        pmod(round(col("value") * 100).cast("long") * 104729L, lit(86400000L)) + 1L)
        .as("e_ms"))
    val ord = Window.partitionBy(col("user_id")).orderBy(col("s_ms"), col("event_id"))
    val flagged = base
      .withColumn("pme", max(col("e_ms")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pme").isNull || col("s_ms") > col("pme"), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("brk")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("user_id"), col("island"))
      .agg(min(col("s_ms")).as("start_ms"), max(col("e_ms")).as("end_ms"),
        count(lit(1)).as("n_events"))
  }

  /** Cumulative distinct active users per observed day: a rolling
    * COUNT(DISTINCT) made linear by the first-touch identity — the
    * cumulative distinct count at day d is the number of users whose
    * FIRST day ≤ d. One per-user min, one per-day count, then the
    * hierarchical exclusive prefix carry over day-axis rows (bounded by
    * calendar time) — no unpartitioned window, no per-day re-scan of the
    * user set, nothing user-cardinality-sized in the cumulative step.
    */
  def rollingActives(ev: DataFrame): DataFrame = {
    val days = ev.select(expr("unix_millis(ts) div 86400000").as("day"))
    val firstDay = ev.select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("fday"))
    val newPerDay = firstDay.groupBy(col("fday")).agg(count(lit(1)).as("n_new"))
    val observed = days.distinct()
      .join(newPerDay, col("day") === col("fday"), "left")
      .select(col("day"), coalesce(col("n_new"), lit(0L)).as("n_new"))
    val prior = pipeline.TrainingData.exclusivePrefixSum(observed, "day", "n_new", "prior")
    observed.join(prior, Seq("day"))
      .select(col("day"), col("n_new"), (col("prior") + col("n_new")).as("cum_actives"))
  }

  /** Contract instance over the events table. */
  def rollingActivesQuery(s: SparkSession, d: String): DataFrame =
    rollingActives(events(s, d))

  /** Last-touch attribution: each purchase credits the user's most recent
    * STRICTLY PRIOR non-purchase event type ('none' when the purchase is
    * the user's first event). One per-user window (last-with-ignoreNulls
    * over the preceding frame), then a map-side-combined aggregate down
    * to |types|+1 rows — the fact table crosses exactly one shuffle.
    */
  def attributionLastTouch(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("att",
        last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("att"), lit("none")).as("att_type"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("cents"))
  }

  /** Referential-integrity audit across the star schema: per FK
    * relationship, the child rows whose key has no parent (orphans) and
    * the parent rows no child references (childless). Each relation is an
    * anti-join collapsing straight into a count — only keys shuffle, and
    * the dimension sides broadcast; the result is a fixed handful of
    * audit rows regardless of corpus size.
    */
  def refIntegrity(s: SparkSession, d: String): DataFrame = {
    def one(rel: String, child: DataFrame, ck: String,
            parent: DataFrame, pk: String): DataFrame = {
      val orphans = child.select(col(ck).as("k"))
        .join(parent.select(col(pk).as("k")), Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      val childless = parent.select(col(pk).as("k"))
        .join(child.select(col(ck).as("k")), Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_childless"))
      orphans.crossJoin(childless) // 1×1 rows: a deliberate scalar pairing
        .select(lit(rel).as("relationship"), col("n_orphans"), col("n_childless"))
    }
    one("lineitem->orders", lineitem(s, d), "l_orderkey", orders(s, d), "o_orderkey")
      .unionByName(one("lineitem->part", lineitem(s, d), "l_partkey", part(s, d), "p_partkey"))
      .unionByName(
        one("lineitem->supplier", lineitem(s, d), "l_suppkey", supplier(s, d), "s_suppkey"))
      .unionByName(
        one("orders->customer", orders(s, d), "o_custkey", customer(s, d), "c_custkey"))
      .unionByName(
        one("customer->nation", customer(s, d), "c_nationkey", nation(s, d), "n_nationkey"))
  }

  /** OHLC downsampling: per (event_type, hour) the opening/closing value
    * (first/last by the deterministic (ts, event_id) order) plus min/max
    * and count — the time-series resample that turns a raw feed into a
    * candle table. open/close/low/high are PICKED doubles (never summed),
    * so both engines emit bit-identical values.
    *
    * Plan: ONE shuffle on (event_type, h) serves both rank windows and
    * the final aggregate (same partition key, Catalyst reuses the
    * exchange; the two window sorts are within-partition only).
    */
  def ohlcDownsample(ev: DataFrame): DataFrame = {
    val base = ev.select(col("event_type"),
      floor(unix_timestamp(col("ts")) / 3600).cast("long").as("h"),
      col("ts"), col("event_id"), col("value"))
    val wAsc = Window.partitionBy(col("event_type"), col("h"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val wDesc = Window.partitionBy(col("event_type"), col("h"))
      .orderBy(col("ts").desc, col("event_id").desc)
    base
      .withColumn("ra", row_number().over(wAsc))
      .withColumn("rd", row_number().over(wDesc))
      .groupBy(col("event_type"), col("h"))
      .agg(max(when(col("ra") === 1, col("value"))).as("o"),
        max(when(col("rd") === 1, col("value"))).as("c"),
        min(col("value")).as("lo"), max(col("value")).as("hi"),
        count(lit(1)).as("n"))
  }

  /** Gap-fill with carry-forward (LOCF): densify each event_type's hourly
    * series over its own [min, max] hour span, filling missing hours with
    * the last observed closing value — the resample-then-interpolate step
    * every time-series pipeline needs and Spark has no native operator
    * for. `observed` = 1 marks real hours.
    *
    * Plan: the dense axis is generated from the per-type span aggregate
    * (|types| rows → sequence+explode), NOT by densifying the fact table;
    * the carry-forward window is partitioned per type over span-many rows
    * — bounded by calendar time, independent of event volume.
    */
  def gapFill(ev: DataFrame): DataFrame = {
    val base = ev.select(col("event_type"),
      floor(unix_timestamp(col("ts")) / 3600).cast("long").as("h"),
      col("ts"), col("event_id"), col("value"))
    val wDesc = Window.partitionBy(col("event_type"), col("h"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val hourly = base.withColumn("rd", row_number().over(wDesc))
      .filter(col("rd") === 1).select(col("event_type"), col("h"), col("value").as("v"))
    val dense = hourly.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("h"))
    val wFill = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dense.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("fv", last(col("v"), ignoreNulls = true).over(wFill))
      .select(col("event_type"), col("h"),
        col("v").isNotNull.cast("long").as("observed"), col("fv"))
  }

  /** Winsorization: clip each value into its event_type's [p_lo, p_hi]
    * discrete-percentile band — outlier taming before any moment-based
    * statistic. Thresholds are PICKED values (rank = ceil(q·n), the
    * discrete rule — the value at a rank is deterministic even when ties
    * make rank assignment among equal values arbitrary), so both engines
    * clip at bit-identical bounds; clipping itself is least/greatest, no
    * arithmetic on the doubles at all.
    *
    * Plan — the 100 TB shape: a naive per-type rank window sorts
    * whole-corpus partitions (|types| tasks carrying everything). Instead
    * the global rank decomposes through a VALUE-BUCKET histogram: (1)
    * map-side (type, floor(value)) counts; (2) per-type exclusive prefix
    * over the BOUNDED bucket axis (bounded by the value range, not the
    * corpus) locates the bucket containing each target rank; (3) only
    * that bucket's slice is rank-windowed (partitioned by (type, bucket))
    * to pick the threshold value. The corpus is scanned, histogrammed,
    * and clip-joined — never globally sorted.
    */
  def winsorize(ev: DataFrame, lo: Double = 0.01, hi: Double = 0.99): DataFrame = {
    val vals = ev.select(col("event_type"), col("event_id"), col("value"))
    val thr = winsorizeThresholds(ev, lo, hi)
    vals.join(broadcast(thr), Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        greatest(least(col("value"), col("vhi")), col("vlo")).as("clipped"),
        (col("value") < col("vlo") || col("value") > col("vhi")).cast("long").as("was_clipped"))
  }

  /** The per-type [vlo, vhi] discrete-percentile band of [[winsorize]],
    * exposed as its own frame (|types| rows) so the streaming
    * clip-at-ingest twin (spec-side `StreamingTwins.streamingClip`) can broadcast the
    * SAME thresholds into a stream-static join — batch and stream cannot
    * drift. Same histogram-decomposed plan as documented on [[winsorize]].
    */
  def winsorizeThresholds(ev: DataFrame, lo: Double = 0.01, hi: Double = 0.99): DataFrame = {
    val vals = ev.select(col("event_type"), col("event_id"), col("value"))
    val vb = floor(col("value")).cast("long")
    val counts = vals.groupBy(col("event_type"), vb.as("vb"))
      .agg(count(lit(1)).as("cnt"))
    val wPre = Window.partitionBy(col("event_type")).orderBy(col("vb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = counts
      .withColumn("before", coalesce(sum(col("cnt")).over(wPre), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
    // the bucket holding rank r satisfies before < r ≤ before + cnt
    // fresh column names (and so fresh attribute ids): `targets` shares
    // lineage with `vals`, and an un-aliased equi-join on the shared
    // names would be an ambiguous self-join
    def bucketFor(q: Double, tag: String) = pre
      .filter(col("before") < ceil(lit(q) * col("n")) &&
        ceil(lit(q) * col("n")) <= col("before") + col("cnt"))
      .select(col("event_type").as("t_type"), col("vb").as("t_vb"),
        (ceil(lit(q) * col("n")) - col("before")).cast("long").as("local_rank"),
        lit(tag).as("q"))
    val targets = bucketFor(lo, "lo").unionByName(bucketFor(hi, "hi"))
    val wIn = Window.partitionBy(col("event_type"), col("t_vb"), col("q"))
      .orderBy(col("value"))
    vals.join(broadcast(targets),
        col("event_type") === col("t_type") && vb === col("t_vb"))
      .select(col("event_type"), col("q"), col("value"), col("t_vb"), col("local_rank"))
      .withColumn("rn", row_number().over(wIn))
      .filter(col("rn") === col("local_rank"))
      .groupBy(col("event_type"))
      .agg(min(when(col("q") === "lo", col("value"))).as("vlo"),
        max(when(col("q") === "hi", col("value"))).as("vhi"))
  }

  /** The value at integer rank `rankSql` (a SQL expression over the
    * per-type count `n`, e.g. `"(n + 1) div 2"`) per event_type of
    * `vals(event_type, value)` — the histogram-decomposed rank pick
    * behind [[winsorizeThresholds]]/[[equiDepth]], factored for reuse:
    * (type, floor(value)) histogram → bounded-axis prefix locates the
    * target bucket → only that bucket's slice is rank-windowed. Never a
    * global sort. Negative values bucket correctly (floor is monotone
    * everywhere).
    */
  private[graft] def rankPickPerType(vals: DataFrame, rankSql: String): DataFrame = {
    val vb = floor(col("value")).cast("long")
    val counts = vals.groupBy(col("event_type"), vb.as("vb"))
      .agg(count(lit(1)).as("cnt"))
    val wPre = Window.partitionBy(col("event_type")).orderBy(col("vb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = counts
      .withColumn("before", coalesce(sum(col("cnt")).over(wPre), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
    val r = expr(rankSql)
    val targets = pre.filter(col("before") < r && r <= col("before") + col("cnt"))
      .select(col("event_type").as("t_type"), col("vb").as("t_vb"),
        (r - col("before")).cast("long").as("local_rank"))
    val wIn = Window.partitionBy(col("event_type"), col("t_vb")).orderBy(col("value"))
    vals.join(broadcast(targets),
        col("event_type") === col("t_type") && vb === col("t_vb"))
      .withColumn("rn", row_number().over(wIn))
      .filter(col("rn") === col("local_rank"))
      .select(col("event_type"), col("value").as("picked"))
  }

  /** Robust (median/MAD) dispersion profile per event_type: the lower
    * median, the median absolute deviation, and the count of |x − med| >
    * 3·MAD outliers — the outlier detector that, unlike z-scores, is not
    * itself corrupted by the outliers it hunts. Both rank picks are
    * PICKED doubles via [[rankPickPerType]] (no global sort); the
    * deviation |x − med| and the 3·MAD comparison are single IEEE ops on
    * identical inputs, so the whole contract is engine-exact.
    */
  def robustZscore(ev: DataFrame): DataFrame = {
    val vals = ev.select(col("event_type"), col("value"))
    val med = rankPickPerType(vals, "(n + 1) div 2")
      .withColumnRenamed("picked", "med")
    val dev = vals.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), abs(col("value") - col("med")).as("value"))
    val mad = rankPickPerType(dev, "(n + 1) div 2")
      .withColumnRenamed("picked", "mad")
    vals.join(broadcast(med), Seq("event_type"))
      .join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n"),
        sum((abs(col("value") - col("med")) > col("mad") * 3).cast("long"))
          .as("n_outliers"))
  }

  /** Time-weighted average per (event_type, day): each observation holds
    * until the type's next event; a day's last observation holds into
    * the next day-with-events, the whole interval assigned to the day it
    * STARTS in. Emitted as the two exact BIGINT components
    * (Σ cents·ms, Σ ms) — consumers divide; a double quotient would not
    * be an exact cross-engine contract. The type's final observation has
    * no end and is excluded from both sums.
    *
    * Plan — the no-whole-corpus-window shape: the naive lead() over a
    * per-TYPE window is |types| tasks sorting the corpus; here lead runs
    * within (type, day) partitions and only the per-day boundary rows
    * stitch through a bounded day-axis window (the concurrency_peak /
    * gap_fill idiom). Day boundaries respect the (tms, event_id) order
    * because a later day's timestamps are strictly larger, so the
    * stitched next-start is exactly the global window's lead.
    */
  def twap(ev: DataFrame): DataFrame = {
    val base = ev.select(col("event_type"),
      unix_millis(col("ts")).as("tms"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
      .withColumn("day", expr("tms div 86400000"))
    val wDay = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("tms"), col("event_id"))
    val local = base.withColumn("next_tms", lead(col("tms"), 1).over(wDay))
    val days = base.groupBy(col("event_type"), col("day"))
      .agg(min(col("tms")).as("first_tms"))
    val wD = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val stitch = days
      .withColumn("next_first", lead(col("first_tms"), 1).over(wD))
      .select(col("event_type"), col("day"), col("next_first"))
    local.join(broadcast(stitch), Seq("event_type", "day"))
      .withColumn("dur", coalesce(col("next_tms"), col("next_first")) - col("tms"))
      .filter(col("dur").isNotNull)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("cents") * col("dur")).as("num_cents_ms"),
        sum(col("dur")).as("dur_ms"),
        count(lit(1)).as("n_holds"))
  }

  /** EWMA (α = ½) over each type's hourly closing values, emitted as the
    * EXACT integer pair num = Σ_{k=0..15} close_cents_{i−k} · 2^{15−k},
    * den = Σ 2^{15−k} over the lags that exist — the quotient num/den is
    * the normalized EWMA, left to the consumer because an engine-exact
    * contract cannot ship a rounded double. Power-of-two weights over a
    * trailing-16 frame keep every product and partial sum inside BIGINT
    * (cents < 2^40 · 2^15 ≪ 2^63). The 16 lags share ONE window sort per
    * (type) over HOURLY aggregate rows — bounded by calendar time, never
    * corpus-sized.
    */
  def ewmaSmooth(ev: DataFrame): DataFrame = {
    val base = ev.select(col("event_type"),
      floor(unix_timestamp(col("ts")) / 3600).cast("long").as("h"),
      col("ts"), col("event_id"), round(col("value") * 100).cast("long").as("cents"))
    val wDesc = Window.partitionBy(col("event_type"), col("h"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val hourly = base.withColumn("rd", row_number().over(wDesc))
      .filter(col("rd") === 1).select(col("event_type"), col("h"), col("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    def lagK(k: Int) = if (k == 0) col("cents") else lag(col("cents"), k).over(w)
    val num = (0 to 15)
      .map(k => coalesce(lagK(k) * lit(1L << (15 - k)), lit(0L))).reduce(_ + _)
    val den = (0 to 15)
      .map(k => when(lagK(k).isNotNull, lit(1L << (15 - k))).otherwise(lit(0L))).reduce(_ + _)
    hourly.select(col("event_type"), col("h"), col("cents"),
      num.as("ewma_num"), den.as("ewma_den"))
  }

  /** Semi-structured extraction: the JSON `props` payload parsed per row
    * (`get_json_object` — codegen'd, no UDF), the extracted integer
    * aggregated per event_type with rows that fail to parse counted, not
    * dropped. Zero extra shuffles: parse is a per-row projection feeding
    * a map-side-combined aggregate.
    */
  def jsonExtractStats(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_parsed"),
        sum(col("k")).as("sum_k"), min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        countDistinct(col("k")).as("ndv_k"))

  /** Maximum drawdown per (event_type, day): the largest drop from any
    * earlier (global, cross-day) running peak to a value in the day —
    * exact cents. Running MAX decomposes hierarchically exactly like the
    * prefix-sum carry: a day-local running max within (type, day)
    * partitions plus a day-axis peak carry (max over prior days'
    * aggregates, bounded by calendar time) — no per-type whole-corpus
    * window task anywhere.
    */
  def maxDrawdown(ev: DataFrame): DataFrame = {
    val base = ev.select(col("event_type"),
      unix_millis(col("ts")).as("tms"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
      .withColumn("day", expr("tms div 86400000"))
    val wDay = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("tms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = base.withColumn("local_max", max(col("cents")).over(wDay))
    val wPrior = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = base.groupBy(col("event_type"), col("day"))
      .agg(max(col("cents")).as("day_max"))
      .withColumn("prior_max", max(col("day_max")).over(wPrior))
      .select(col("event_type"), col("day"), col("prior_max"))
    local.join(broadcast(carry), Seq("event_type", "day"))
      .withColumn("run_max", greatest(col("local_max"), coalesce(col("prior_max"), lit(Long.MinValue))))
      .groupBy(col("event_type"), col("day"))
      .agg(max(col("run_max") - col("cents")).as("max_drawdown_cents"),
        count(lit(1)).as("n"))
  }

  /** Quantile (rank) normalization: every value mapped to its tie-aware
    * percent rank (rank−1)/(n−1) within its event_type — the ML
    * feature-prep transform (rank-gaussianization's first half). Exactly
    * `percent_rank()`'s definition, which both engines compute as ONE
    * IEEE division of identical integers — engine-exact. Degenerate
    * single-row types normalize to 0.5 on both sides.
    *
    * Plan — the fully decomposed range sort: a per-(type, floor(value))
    * histogram gives each bucket its exclusive prefix `before` (the
    * bounded-axis window); each row's GLOBAL tie-aware rank is then
    * `before + rank-within-bucket`, computed by windows partitioned on
    * (type, bucket) — the corpus is sorted only WITHIN value buckets,
    * |buckets| independent partitions, never one task per type.
    */
  def quantileNormalize(ev: DataFrame): DataFrame = {
    val vals = ev.select(col("event_type"), col("event_id"), col("value"))
    val vb = floor(col("value")).cast("long")
    val counts = vals.groupBy(col("event_type"), vb.as("vb"))
      .agg(count(lit(1)).as("cnt"))
    val wPre = Window.partitionBy(col("event_type")).orderBy(col("vb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = counts
      .withColumn("before", coalesce(sum(col("cnt")).over(wPre), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
      .select(col("event_type").as("t_type"), col("vb").as("t_vb"),
        col("before"), col("n"))
    val wIn = Window.partitionBy(col("event_type"), col("t_vb")).orderBy(col("value"))
    vals.join(broadcast(pre),
        col("event_type") === col("t_type") && vb === col("t_vb"))
      .withColumn("lr", rank().over(wIn))
      .select(col("event_id"), col("event_type"),
        when(col("n") > 1,
          (col("before") + col("lr") - 1).cast("double") /
            (col("n") - 1).cast("double"))
          .otherwise(lit(0.5d)).as("qnorm"))
  }

  /** Equi-DEPTH histogram: the k−1 interior quantile boundaries per
    * event_type, each the PICKED value at discrete rank ⌈j·n/k⌉ (exact
    * integer arithmetic — no double q·n rounding anywhere). The
    * equi-WIDTH twin is `histogram_stats`; together they close the
    * histogram family.
    *
    * Plan — same 100 TB shape as [[winsorize]]: a (type, floor(value))
    * histogram + a prefix over the BOUNDED bucket axis locates the bucket
    * holding each target rank; only those buckets' slices are
    * rank-windowed. The corpus is scanned and histogrammed, never
    * globally sorted; one bucket slice may serve several j (duplicated by
    * the broadcast join, disambiguated by the `j` window key).
    */
  def equiDepth(ev: DataFrame, k: Int = 10): DataFrame = {
    val vals = ev.select(col("event_type"), col("value"))
    val vb = floor(col("value")).cast("long")
    val counts = vals.groupBy(col("event_type"), vb.as("vb"))
      .agg(count(lit(1)).as("cnt"))
    val wPre = Window.partitionBy(col("event_type")).orderBy(col("vb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = counts
      .withColumn("before", coalesce(sum(col("cnt")).over(wPre), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
    // integer ceil: ⌈j·n/k⌉ = (j·n + k−1) div k for positive operands
    // (SQL `div` — BIGINT-exact; a double floor(x/k) would round wrong
    // past 2^53)
    def rank(j: Int) = expr(s"(${j}L * n + ${k - 1}) div $k")
    val targets = (1 until k).map { j =>
      pre.filter(col("before") < rank(j) && rank(j) <= col("before") + col("cnt"))
        .select(col("event_type").as("t_type"), col("vb").as("t_vb"),
          (rank(j) - col("before")).cast("long").as("local_rank"),
          lit(j.toLong).as("j"))
    }.reduce(_ unionByName _)
    val wIn = Window.partitionBy(col("event_type"), col("t_vb"), col("j"))
      .orderBy(col("value"))
    vals.join(broadcast(targets),
        col("event_type") === col("t_type") && vb === col("t_vb"))
      .withColumn("rn", row_number().over(wIn))
      .filter(col("rn") === col("local_rank"))
      .select(col("event_type"), col("j").as("decile"), col("value").as("boundary"))
  }

  /** Distinct (order, brand) basket frame shared by [[basketPairs]] and
    * [[assocRules]] — computed ONCE and persisted via `InternalCaches`
    * (basketPairs reads it twice, assocRules four times; the r7 sf1.0
    * rehearsal caught each readout re-running the lineitem scan + distinct
    * shuffle). `repartition(o)` before the distinct means the aggregate
    * (grouping keys ⊇ partitioning key) AND the downstream pair self-join
    * on `o` both plan zero additional exchanges off the cached frame.
    * The part-dimension join is left to AQE: at bench scale it broadcasts
    * itself; at cluster scale part is SF-proportional (billions of rows at
    * 100 TB) and a forced broadcast hint would OOM the driver — the r6
    * version had exactly that hint.
    *
    * SIDE EFFECT (r12 advice): BUILDING a query over this frame runs the
    * eager cache-fill job below — `explain`/plan tooling over
    * basketPairs/assocRules/tripleItemsets pays full materialization, and
    * repeated builds without an `InternalCaches.release()` in between
    * accumulate duplicate cached copies (the Bench/Verify rep loops do
    * release between reps).
    */
  private def orderBrands(s: SparkSession, d: String): DataFrame = {
    val ob = pipeline.InternalCaches.register(
      lineitem(s, d).select(col("l_orderkey").as("o"), col("l_partkey"))
        .join(part(s, d).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("o"), col("p_brand").as("b"))
        .repartition(col("o"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Materialize the cache BEFORE consumers reference it: the itemset
    // queries read ob from up to eight independent BroadcastExchange
    // subqueries, and those futures launch concurrently — against a
    // lazily-cached frame each one races to compute the same partitions
    // (thundering herd; measured as 5× repeats of ob's 15 s-exec build
    // inside one triple_itemsets run). One eager pass fills the cache,
    // every future then reads it.
    ob.count()
    ob
  }

  /** Market-basket co-occurrence: for each unordered brand pair, how many
    * orders contain both — the support table association mining starts
    * from. The pair join is per-order (equi-join on the order key with
    * `brand_a < brand_b`), so the blow-up is bounded by distinct brands
    * PER ORDER (≤ items per order — single digits in order-shaped data),
    * never a global cross: shuffles carry (order, brand) pairs and the
    * |brands|²-bounded counts.
    */
  def basketPairs(s: SparkSession, d: String): DataFrame = {
    val ob = orderBrands(s, d)
    ob.select(col("o"), col("b").as("brand_a"))
      .join(ob.select(col("o"), col("b").as("brand_b")), Seq("o"))
      .filter(col("brand_a") < col("brand_b"))
      .groupBy(col("brand_a"), col("brand_b"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Peak concurrent sessions per day, by sweep-line over session
    * boundaries: +1 at each session start, −1 at each end, running sum =
    * instantaneous concurrency (starts sort before ends at equal
    * timestamps, so touching sessions count as concurrent). The global
    * prefix sum — the part Spark cannot window without a single task —
    * decomposes as day-partitioned local running sums plus the
    * hierarchical `exclusivePrefixSum` carry over per-day nets (≤ one row
    * per calendar day), the same no-unpartitioned-window idiom
    * `packSequences` uses. Days with no session boundary are absent
    * (their concurrency is flat by definition).
    */
  def concurrencyPeak(s: SparkSession, d: String): DataFrame = {
    val sess = sessionizeBatch(s, d)
    val deltas = sess.select(col("session_start").as("tms"), lit(1L).as("d"))
      .unionByName(sess.select(col("session_end").as("tms"), lit(-1L).as("d")))
      .withColumn("day", expr("tms div 86400000"))
    val wDay = Window.partitionBy(col("day")).orderBy(col("tms").asc, col("d").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = deltas.withColumn("run", sum(col("d")).over(wDay))
    val offsets = pipeline.TrainingData.exclusivePrefixSum(
      deltas.groupBy(col("day")).agg(sum(col("d")).as("net")), "day", "net", "off")
    local.join(offsets, Seq("day"))
      .groupBy(col("day"))
      .agg(max(col("off") + col("run")).as("peak"))
  }

  /** Interval-overlap join: which pairs of sessions (across different
    * users) were active at the same time, with the exact shared duration —
    * the interval×interval join Spark has no native operator for (asof and
    * point-in-band joins are covered by `asof_join` / `range_join`; this
    * closes the family). Touching counts as overlapping, consistent with
    * `concurrency_peak`.
    *
    * Plan — no quadratic join anywhere: each session explodes to the
    * 1-hour grid cells it spans (fan-out bounded by session duration, not
    * corpus size), pairs meet by an equi-join ON THE CELL, and each pair
    * is counted exactly once — in the cell containing the later start
    * (which both sessions span by definition of overlap). Per-cell pair
    * work is the intrinsic output cost of an overlap join; hot cells are
    * AQE-skew-split. The oracle states the definitional inequality join
    * (DuckDB plans it as an IEJoin). Output aggregated per user pair with
    * BIGINT millisecond overlap — engine-exact.
    */
  def intervalOverlap(s: SparkSession, d: String, cellMs: Long = 3600000L): DataFrame = {
    val sess = sessionizeBatch(s, d)
      .select(col("user_id"), col("session_start").as("st"), col("session_end").as("en"))
    val cells = sess.withColumn("cell",
      explode(sequence(expr(s"st div $cellMs"), expr(s"en div $cellMs"))))
    val a = cells.select(col("user_id").as("user_a"), col("st").as("sta"),
      col("en").as("ena"), col("cell"))
    val b = cells.select(col("user_id").as("user_b"), col("st").as("stb"),
      col("en").as("enb"), col("cell"))
    a.join(b, Seq("cell"))
      .filter(col("user_a") < col("user_b") &&
        col("sta") <= col("enb") && col("stb") <= col("ena") &&
        col("cell") === expr(s"greatest(sta, stb) div $cellMs"))
      .groupBy(col("user_a"), col("user_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(least(col("ena"), col("enb")) - greatest(col("sta"), col("stb")))
          .as("overlap_ms"))
  }

  /** BPE-ish token counting over documents (whitespace words, digits, and
    * punctuation as separate tokens) — the subword-cost proxy from
    * TextAnalysis, with a DuckDB oracle.
    */
  def bpeTokens(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"),
      size(pipeline.TextAnalysis.bpeishTokens(col("text"))).cast("long").as("n_bpe"),
      pipeline.TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws"))

  /** Global top-k via total order + limit (deterministic tie-break, so the
    * result is a well-defined set).
    */
  def topOrders(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** Left outer join with Lara default-fill: every customer appears, absent
    * order aggregates coalesce to the value default (the total-function
    * semantics of §1.1 realized with an outer join, SURVEY §7.4).
    */
  def outerJoinDefaults(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), Num.centsSumExact(col("o_totalprice")).as("spent"))
    val c = customer(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        coalesce(col("spent"), lit(0.0d)).as("total_spent"))
  }

  /** Approximate distinct counts via the KMV (k-minimum-values) sketch —
    * an approximate operator with an EXACT correctness contract: the k
    * smallest distinct `portable_hash60(user_id)` values per group are
    * deterministic, so the DuckDB oracle replays the sketch (row_number
    * over hash order) and the estimate `floor((k-1)·2^60 / h_k)` —
    * exact-double constants, one IEEE division, floor — bit-matches.
    * Fewer than k retained hashes IS the exact distinct count.
    *
    * Scale shape: no distinct pre-shuffle — partial KMV buffers build
    * map-side on raw rows (duplicates collapse in the buffer) and only
    * ≤ k longs per group cross the shuffle. The HLL++ variant (engine-
    * specific internals, no oracle possible) is spec-gated within 10% of
    * exact in `RecallGatesSpec`.
    * `exact_users` stays in the result as the oracle-side accuracy
    * witness (a real 100 TB run would drop it — it is the expensive
    * distinct the sketch exists to avoid).
    */
  def approxDistinct(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    val k = 256
    val mins = bridge.column(graft.functions.KmvSmallest(
      bridge.expression(graft.functions.PortableHash.hash60(col("user_id"))), k)
      .toAggregateExpression())
    events(s, d).groupBy(col("event_type"))
      .agg(mins.as("mins"), countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"),
        when(size(col("mins")) < k, size(col("mins")).cast("long"))
          .otherwise(floor(lit((k - 1).toDouble * math.pow(2.0, 60)) /
            element_at(col("mins"), k).cast("double")).cast("long"))
          .as("est_users"),
        col("exact_users"))
  }

  /** Portable APPROXIMATE QUANTILES: exact quantiles of a deterministic
    * bottom-k-by-hash uniform sample (`kmv_sample`). t-digest/GK sketches
    * are engine-specific; a KMV sample is not — the oracle re-draws the
    * identical sample (`row_number() OVER (ORDER BY hash) <= k`) and reads
    * the same sorted positions, so an approximate-quantile query gets an
    * exact cross-engine contract. Sample error is the classic
    * √(p(1-p)/k) — ~2% absolute rank error at k=512.
    * One pass, map-side partials, ≤ k (hash, value) pairs per group cross
    * the shuffle — no full sort of the column anywhere.
    */
  def approxQuantiles(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    val k = 512
    val sample = bridge.column(graft.functions.KmvSampleAgg(
      bridge.expression(struct(
        graft.functions.PortableHash.hash60(
          concat(lit("q_"), col("l_orderkey"), lit("_"), col("l_linenumber"))).as("h"),
        col("l_extendedprice").as("v"))), k).toAggregateExpression())
    def quant(vs: org.apache.spark.sql.Column, m: org.apache.spark.sql.Column,
              p: Double): org.apache.spark.sql.Column =
      element_at(vs, floor(lit(p) * (m - 1).cast("double")).cast("int") + 1)
    lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(sample.as("smp"), count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), array_sort(col("smp").getField("v")).as("vs"),
        size(col("smp")).as("m"), col("n_rows"))
      .select(col("l_returnflag"), col("m").cast("long").as("sample_n"),
        quant(col("vs"), col("m"), 0.1).as("p10"),
        quant(col("vs"), col("m"), 0.5).as("p50"),
        quant(col("vs"), col("m"), 0.9).as("p90"),
        quant(col("vs"), col("m"), 0.99).as("p99"),
        col("n_rows"))
  }

  /** Analytic-window variety (lead/lag/ntile) — the navigation and
    * bucketing family alongside the ranking (`window_topk`) and running
    * (`window_running`) contract queries. Per-user event sequences;
    * partitioned window (the guardrail bans unpartitioned ones).
    */
  def windowLeadLag(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, d).select(col("user_id"), col("event_id"),
      lag(col("value"), 1).over(w).as("prev_value"),
      lead(col("value"), 1).over(w).as("next_value"),
      ntile(4).over(w).as("quartile"))
  }

  /** Unpivot (melt) — the inverse of the pivot surface (reference has
    * neither; both close §2.6): wide per-line measures to long
    * (measure, val) rows, one output row per (input row × measure).
    */
  def unpivotMeasures(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "val")

  /** Scalar string function coverage (the reference's entire scalar library
    * is user lambdas — SURVEY §2.6; here they are codegen'd built-ins).
    */
  def stringFuncs(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(
      col("c_custkey"),
      upper(col("c_name")).as("name_upper"),
      substring(col("c_mktsegment"), 1, 3).as("seg3"),
      concat_ws("|", col("c_mktsegment"), col("c_name")).as("tagged"),
      length(col("c_name")).cast("long").as("name_len"),
      lpad(col("c_custkey").cast("string"), 8, "0").as("key_padded"))

  /** Date/time extraction + aggregation. */
  def dateAgg(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
           Num.centsSumExact(col("o_totalprice")).as("total"))

  /** CUBE over two dimensions (grouping-sets family). */
  def cubeAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
              col("sum_qty"), col("n"))

  /** Post-aggregation filter (HAVING). */
  def havingFilter(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity")).as("total_qty"), count(lit(1)).as("n"))
      .filter(col("total_qty") > 100.0)

  /** Conditional aggregation — a fixed-column pivot on event_type. */
  def conditionalPivot(s: SparkSession, d: String): DataFrame = {
    def bucket(t: String) = Num.centsSumExact(
      when(col("event_type") === t, col("value")).otherwise(lit(0.0d)))
    events(s, d).groupBy(col("user_id")).agg(
      bucket("click").as("click_value"),
      bucket("purchase").as("purchase_value"),
      bucket("view").as("view_value"),
      count(lit(1)).as("n_events"))
  }

  /** Exact interpolated percentiles (both engines implement the standard
    * continuous quantile; inputs are identical doubles).
    */
  def percentiles(s: SparkSession, d: String): DataFrame =
    events(s, d).groupBy(col("event_type")).agg(
      round(expr("percentile(value, 0.5)"), 6).as("p50"),
      round(expr("percentile(value, 0.95)"), 6).as("p95"),
      min(col("value")).as("vmin"), max(col("value")).as("vmax"))

  /** PORTABLE windowed covariance — the oracle-checkable contract for the
    * windowed-covariance family (its double-based batch and streaming
    * twins are test-side references).
    * Two tricks make it engine-exact:
    *  - values are cent-quantized at ingest, so per-bin aggregation — the
    *    UNBOUNDED part at 100 TB — is an exact associative integer sum
    *    (sc, n), and the bin mean sc/(100·n) is one double division of
    *    exact integers: bit-identical on both engines;
    *  - everything above bin level folds over lists SORTED by bin time
    *    (the BM25 trick): channel means and Σ u·u' products are sequential
    *    double folds in the same order on both engines. These lists are
    *    BOUNDED by windowSec/binSec (6 here) — never by event volume — so
    *    the collect_list is 100 TB-safe.
    * The covariance is emitted UNROUNDED: every upstream double is
    * bit-identical across engines, and the cent-quantized rationals land
    * exactly ON the 1e-6 grid often enough that round(·,6) itself becomes
    * the only cross-engine divergence (Spark's BigDecimal HALF_UP vs
    * DuckDB's scaled-double rounding disagree on true half-ties — observed
    * at -265.5416625). Bit-equal inputs need no absorbing round.
    */
  def windowedCovariancePortable(s: SparkSession, d: String,
                                 windowSec: Long = 21600L, binSec: Long = 3600L): DataFrame = {
    val binned = events(s, d)
      .withColumn("w", (floor(unix_timestamp(col("ts")) / windowSec) * windowSec).cast("long"))
      .withColumn("t", (floor(unix_timestamp(col("ts")) / binSec) * binSec).cast("long"))
      .groupBy(col("w"), col("t"), col("event_type").as("c"))
      .agg(sum(round(col("value") * 100).cast("long")).as("sc"), count(lit(1)).as("n"))
      .withColumn("v", col("sc") / (lit(100.0d) * col("n")))
      .cache() // reused: channel means, bin counts, both self-join sides
    pipeline.InternalCaches.register(binned)
    val mu = binned.groupBy(col("w"), col("c"))
      .agg(aggregate(array_sort(collect_list(struct(col("t"), col("v")))),
             lit(0.0d), (a, x) => a + x.getField("v")).as("sv"),
           count(lit(1)).as("bc"))
      .select(col("w"), col("c"), (col("sv") / col("bc")).as("mean"))
    val nb = binned.groupBy(col("w")).agg(countDistinct(col("t")).as("nb"))
    val u = binned.join(mu, Seq("w", "c"))
      .select(col("w"), col("t"), col("c"), (col("v") - col("mean")).as("u"))
    val u2 = u.select(col("w"), col("t"), col("c").as("c2"), col("u").as("u2"))
    u.join(u2, Seq("w", "t")).filter(col("c") <= col("c2"))
      .groupBy(col("w"), col("c"), col("c2"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("t"), (col("u") * col("u2")).as("p")))),
        lit(0.0d), (a, x) => a + x.getField("p")).as("sp"))
      .join(nb, Seq("w")).filter(col("nb") > 1)
      .select(col("w").as("win_start"), col("c"), col("c2"),
        (col("sp") / (col("nb") - 1.0)).as("cov"))
  }

  def rollupAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
              col("sum_qty"), col("n"))

  /** Generic exact data profiling: one row per profiled column with null
    * count, distinct count, and min/max rendered as strings — the schema
    * audit a pipeline runs on every new 100 TB drop before trusting it.
    *
    * Plan shape: TWO pruned scans, deliberately. Packing the regular aggs
    * (count/min/max) and the multi-distinct into ONE aggregate makes
    * Catalyst's distinct rewrite replicate every row ×(cols+1) through an
    * Expand that also drags all the regular-agg columns through the blowup
    * — measured 5.1 s vs 1.0 s at sf0.1 (ProfileProbe). Splitting gives a
    * cheap regular pass (pure map-side fold, no expand) plus a
    * distinct-only pass (Expand over just the distinct columns feeding the
    * two-stage agg), each producing ONE row, combined by a trivial 1×1
    * broadcast cross join. At 100 TB a second pruned columnar scan costs
    * less than a ×(cols+1) in-memory expand of the corpus. When estimates
    * suffice, the bounded-memory path is the KMV sketch family
    * (`functions.KmvSmallest`), same contract stance, constant shuffle.
    *
    * min/max are cast to string AFTER aggregation (scalar results per
    * column, not per row); callers profile columns whose string rendering
    * is engine-portable (integers, strings, timestamps — not raw doubles).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val regular = df.agg(
      count(lit(1)).as("n_rows"),
      cols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"),
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c"))): _*)
    val distincts = df.agg(
      count_distinct(col(cols.head)).as(s"nd_${cols.head}"),
      cols.tail.map(c => count_distinct(col(c)).as(s"nd_$c")): _*)
    val wide = regular.crossJoin(distincts)
    val stacked = cols.map(c =>
      s"'$c', n_rows - `nn_$c`, `nd_$c`, `mn_$c`, `mx_$c`").mkString(", ")
    wide.selectExpr(
      s"stack(${cols.length}, $stacked) AS (col_name, n_nulls, n_distinct, min_val, max_val)")
  }

  /** Contract instance of [[profile]] over mixed-type lineitem columns. */
  def profileStats(s: SparkSession, d: String): DataFrame =
    profile(lineitem(s, d),
      Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_shipdate"))

  /** Adaptive equi-width histogram of a numeric column — the distribution
    * half of data profiling ([[profile]] covers cardinality). Two passes:
    * exact min/max (a deterministic scalar, broadcast back), then
    * bin = (v − min)·nBins div (max − min + 1) in pure BIGINT arithmetic
    * over integer cents — `div` is exact integer division on both engines,
    * where a double `floor(a/b)` could round differently at bin edges.
    *
    * Scale: two scans (the price of data-adaptive edges), each map-side
    * combined to ≤ nBins groups; nothing data-sized shuffles.
    */
  def histogram(df: DataFrame, cents: org.apache.spark.sql.Column, nBins: Int): DataFrame = {
    val v = df.select(cents.cast("long").as("v"))
    val mm = v.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    v.crossJoin(broadcast(mm))
      .selectExpr(s"(v - mn) * $nBins div (mx - mn + 1) AS bin")
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
  }

  /** Contract instance of [[histogram]]: 32 bins over l_extendedprice cents. */
  def histogramStats(s: SparkSession, d: String): DataFrame =
    histogram(lineitem(s, d), round(col("l_extendedprice") * 100), 32)

  /** TPC-H Q13 family (customer distribution): order count per customer
    * through a CONDITIONAL left join (the predicate lives on the join, not
    * a pre-filter — customers whose only orders are urgent must still count
    * as zero), then the distribution of those counts. The left join and the
    * per-customer aggregate share `c_custkey`, so AQE plans one shuffle for
    * both; the second aggregate reduces to ≤ a few dozen count-of-count
    * groups — map-side combined to nothing.
    */
  def q13CustDist(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).select(col("c_custkey"))
    val o = orders(s, d).filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q22 family (untapped rich customers): customers with an
    * above-average positive balance and no URGENT orders, aggregated per
    * nation. (Classic Q22 tests "no orders at all", which is vacuously
    * empty on this synthetic data — every customer has orders — so the
    * anti-join predicate moves to the priority slice to keep the contract
    * non-trivial.) The global average is never materialized as a double:
    * "above average" is the exact integer cross-multiplication
    * `bal_cents · n_pos > sum_cents` against a broadcast 1-row statistics
    * frame — the scalar-subquery idiom with zero fp drift. The no-urgent-
    * orders test is a left-anti join on the filtered order fact.
    */
  def q22Inactive(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).select(col("c_custkey"), col("c_nationkey"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      .filter(col("bal_cents") > 0)
    val stats = c.agg(sum(col("bal_cents")).as("sum_cents"), count(lit(1)).as("n_pos"))
    val o = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    c.crossJoin(broadcast(stats))
      .filter(col("bal_cents") * col("n_pos") > col("sum_cents"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), sum(col("bal_cents")).as("total_bal_cents"))
  }

  /** Market-basket association rules over brand co-occurrence: every
    * POSITIVELY ASSOCIATED brand pair (lift > 1) with the exact integer
    * components of confidence and lift — (sup_ab, sup_a, sup_b,
    * n_baskets). The ratios themselves are deliberately NOT emitted:
    * confidence(a→b) = sup_ab/sup_a and lift = sup_ab·n/(sup_a·sup_b) are
    * client-side divisions of these integers, keeping the contract
    * fp-free (the q14_promo discipline). The lift test is the exact
    * cross-multiplication `sup_ab · n_baskets > sup_a · sup_b` — a plain
    * minimum-support cut cannot discriminate on this data (brand
    * co-occurrence is near-uniform: every pair clears 1%, none clears
    * 5%), while lift splits actual positive association from noise.
    *
    * Scale: pair generation is the bounded per-basket self-join of
    * [[basketPairs]] (distinct brands per order ⇒ fan-out capped by
    * basket width, never corpus²); the brand-support and basket-count
    * sides are tiny aggregates broadcast back onto ≤ |brands|² pair rows.
    */
  def assocRules(s: SparkSession, d: String): DataFrame = {
    val ob = orderBrands(s, d)
    val sup = ob.groupBy(col("b")).agg(count(lit(1)).as("sup"))
    val nB = ob.select(col("o")).distinct().agg(count(lit(1)).as("n_baskets"))
    ob.select(col("o"), col("b").as("brand_a"))
      .join(ob.select(col("o"), col("b").as("brand_b")), Seq("o"))
      .filter(col("brand_a") < col("brand_b"))
      .groupBy(col("brand_a"), col("brand_b"))
      .agg(count(lit(1)).as("sup_ab"))
      .crossJoin(broadcast(nB))
      .join(broadcast(sup.select(col("b").as("brand_a"), col("sup").as("sup_a"))), Seq("brand_a"))
      .join(broadcast(sup.select(col("b").as("brand_b"), col("sup").as("sup_b"))), Seq("brand_b"))
      .filter(col("sup_ab") * col("n_baskets") > col("sup_a") * col("sup_b"))
      .select(col("brand_a"), col("brand_b"), col("sup_ab"),
        col("sup_a"), col("sup_b"), col("n_baskets"))
  }

  /** Frequent brand TRIPLES — the apriori level-3 step over the shared
    * basket frame: level-2 pairs at 1% support generate prefix-joined
    * candidate triples, each apriori-PRUNED (its (b, c) edge must itself
    * be frequent — downward closure), and only per-order triples matching
    * a surviving candidate enter the counting shuffle. The output is the
    * definitional frequent-triple table (the oracle states the definition
    * with no pruning — the pruning must be lossless or the hash differs);
    * confidence/lift stay client-side divisions of the integers, the
    * [[assocRules]] discipline.
    *
    * Scale: per-order triple fan-out is basket-width³ (single digits
    * cubed), and the broadcast candidate semi-join cuts it BEFORE the
    * count shuffle — the candidate set is bounded by frequent-pair²
    * (hundreds), never corpus-sized. All support thresholds are exact
    * integer cross-multiplications against the basket count.
    */
  def tripleItemsets(s: SparkSession, d: String): DataFrame = {
    val ob = orderBrands(s, d)
    val nB = ob.select(col("o")).distinct().agg(count(lit(1)).as("n_baskets"))
    val sup = ob.groupBy(col("b")).agg(count(lit(1)).as("sup"))
    // L2 at the 0.1% support floor — downward closure makes pruning on
    // THIS floor provably lossless (lift alone has no closure property)
    // pairs is read by FOUR independent broadcast subqueries downstream
    // (cand's self-join sides + semi build + the triples prefix-prune) —
    // each future would re-run the per-order pair join (the orderBrands
    // thundering-herd pattern one level up); persist + materialize once.
    // The frame itself is |frequent brand pairs| — tiny.
    val pairs = pipeline.InternalCaches.register(
      ob.select(col("o"), col("b").as("x"))
        .join(ob.select(col("o"), col("b").as("y")), Seq("o"))
        .filter(col("x") < col("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("sup"))
        .crossJoin(broadcast(nB))
        .filter(col("sup") * 1000 >= col("n_baskets"))
        .select(col("x"), col("y"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    pairs.count()
    val cand = pairs.select(col("x").as("ca"), col("y").as("cb"))
      .join(pairs.select(col("x").as("ca"), col("y").as("cc")), Seq("ca"))
      .filter(col("cb") < col("cc"))
      .join(pairs.select(col("x").as("cb"), col("y").as("cc")), Seq("cb", "cc"), "left_semi")
    // EARLY prune (r9 review): semi-join the per-order PAIR stream against
    // cand's (ca, cb) prefixes BEFORE forming triples — lossless (any
    // triple surviving the full (ca,cb,cc) semi-join has its prefix in
    // cand by construction), and it cuts the per-order fan-out from
    // basket³ to |frequent-prefix-pairs-in-basket|·basket. Bounded either
    // way on ≤7-line TPC-H baskets; on a giant-basket corpus this is the
    // difference between cubic and near-quadratic per-order cost.
    val triples = ob.select(col("o"), col("b").as("ca"))
      .join(ob.select(col("o"), col("b").as("cb")), Seq("o"))
      .filter(col("ca") < col("cb"))
      .join(broadcast(cand.select(col("ca"), col("cb")).distinct()),
        Seq("ca", "cb"), "left_semi")
      .join(ob.select(col("o"), col("b").as("cc")), Seq("o"))
      .filter(col("cb") < col("cc"))
      .join(broadcast(cand), Seq("ca", "cb", "cc"), "left_semi")
      .groupBy(col("ca"), col("cb"), col("cc"))
      .agg(count(lit(1)).as("sup_abc"))
    // scale-free keep rule: 0.1% floor AND positive 3-way lift
    // (sup_abc·n² > sup_a·sup_b·sup_c, exact in DECIMAL(38) — three
    // basket-count factors overflow BIGINT at extreme scale)
    val dec = "decimal(38,0)"
    triples.crossJoin(broadcast(nB))
      .join(broadcast(sup.select(col("b").as("ca"), col("sup").as("sup_a"))), Seq("ca"))
      .join(broadcast(sup.select(col("b").as("cb"), col("sup").as("sup_b"))), Seq("cb"))
      .join(broadcast(sup.select(col("b").as("cc"), col("sup").as("sup_c"))), Seq("cc"))
      .filter(col("sup_abc") * 1000 >= col("n_baskets") &&
        col("sup_abc").cast(dec) * col("n_baskets") * col("n_baskets") >
          col("sup_a").cast(dec) * col("sup_b") * col("sup_c"))
      .select(col("ca").as("brand_a"), col("cb").as("brand_b"),
        col("cc").as("brand_c"), col("sup_abc"),
        col("sup_a"), col("sup_b"), col("sup_c"), col("n_baskets"))
  }

  /** Per-nation least-squares revenue trend — the OLS slope over (day,
    * daily revenue) points in EXACT integer components. slope = (n·Σxy −
    * Σx·Σy) / (n·Σx² − (Σx)²) is a double; emitting the numerator and
    * denominator as BIGINTs keeps the contract fp-free (the assoc_rules /
    * q14_promo discipline) — the client does one division. x is the day
    * offset from a fixed epoch (1995-01-01, keeping magnitudes small so
    * the cross-products stay far from Long overflow under ANSI mode), y
    * the day's revenue in cents.
    *
    * Scale: the fact table collapses map-side to ≤ |nations|·|days| cells
    * before the only wide shuffle; the five per-nation sums are one more
    * map-side-combined aggregate of that tiny frame. Customer→nation is a
    * broadcast dimension join.
    */
  def olsTrend(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_custkey"),
      datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
        .cast("long").as("x"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val daily = o
      .join(broadcast(customer(s, d).select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("x")).agg(sum(col("cents")).as("y"))
    daily.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("c_nationkey"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
  }

  /** Per-nation Gini concentration of positive customer balances, exact:
    * with x₁ ≤ … ≤ xₙ the per-group sorted cents, the Gini numerator
    * Σᵢ (2i − n − 1)·xᵢ rewrites to 2·Σ(i·xᵢ) − (n+1)·Σx — so one ranked
    * window pass plus one aggregate yields BIGINT-exact components (Gini
    * itself = num / (n·Σx), a client-side division). Tied balances make
    * row_number order arbitrary among them, but equal x contribute
    * identically to Σ(i·xᵢ) under any permutation of the tie block, so
    * the contract stays deterministic.
    *
    * Scale: the window partitions by nation (never unpartitioned — each
    * group sorts within its own shuffle partition); everything after is
    * a map-side-combined per-nation aggregate.
    */
  def giniConcentration(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
      .select(col("c_nationkey"), round(col("c_acctbal") * 100).cast("long").as("x"))
      .filter(col("x") > 0)
    val w = Window.partitionBy("c_nationkey").orderBy("x")
    c.select(col("c_nationkey"), col("x"), row_number().over(w).cast("long").as("i"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_cents"),
        sum(col("i") * col("x")).as("six"))
      .select(col("c_nationkey"), col("n"), col("sum_cents"),
        (lit(2L) * col("six") - (col("n") + 1L) * col("sum_cents")).as("gini_num"))
  }

  /** CUSUM changepoint detection over per-type hourly event counts: the
    * hour where the cumulative count deviates most from a uniform spread
    * of the series total. The statistic is pure BIGINT cross-multiplication
    * — `|n·prefix_i − i·total|` (the scaled form of `prefix_i − i·total/n`)
    * — so both engines agree bit-for-bit; ties resolve to the earliest
    * hour via the engine-portable max-then-join-back argmax idiom.
    *
    * Scale: the raw stream collapses to per-(type, hour) counts map-side
    * before any shuffle; the running window partitions by type (never
    * unpartitioned); per-type totals are a broadcastable aggregate of the
    * same tiny frame. Nothing event-sized crosses the wire twice.
    */
  def cusumChangepoint(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hr")
    val cum = events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"), col("hr"),
        sum(col("cnt")).over(w).as("prefix"),
        row_number().over(w).cast("long").as("i"))
    // prefix is nondecreasing per type, so max(prefix) IS the series total
    val tot = cum.groupBy(col("event_type"))
      .agg(max(col("prefix")).as("total"), max(col("i")).as("n"))
    val st = cum.join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("hr"),
        abs(col("n") * col("prefix") - col("i") * col("total")).as("stat"))
    val mx = st.groupBy(col("event_type")).agg(max(col("stat")).as("mstat"))
    st.join(broadcast(mx), Seq("event_type"))
      .filter(col("stat") === col("mstat"))
      .groupBy(col("event_type"), col("mstat")).agg(min(col("hr")).as("cp_hour"))
      .select(col("event_type"), col("cp_hour"), col("mstat").as("stat"))
  }

  /** Lag-1 autocorrelation components of the per-type daily event-count
    * series, exact: over consecutive-day pairs (prev, cur) — consecutive in
    * SERIES order, i.e. adjacent observed days, the standard acf-over-
    * observations convention — emit the BIGINT Pearson sums (n_pairs,
    * Σprev, Σcur, Σprev·cur, Σprev², Σcur²). r₁ = (n·Σpc − Σp·Σc) /
    * √((n·Σp² − Σp²)(n·Σc² − Σc²)) is the client's one fp step; the
    * contract itself is integer-only.
    *
    * Scale: the event stream collapses map-side to ≤ |types|·|days| cells
    * before the only wide shuffle; the lag window partitions by type over
    * those aggregate rows only, and the final per-type sums map-side
    * combine again.
    */
  def autocorrLag1(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    daily.select(col("event_type"), col("cnt").as("cur"),
        lag(col("cnt"), 1).over(w).as("prev"))
      .filter(col("prev").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("prev")).as("sum_prev"), sum(col("cur")).as("sum_cur"),
        sum(col("prev") * col("cur")).as("sum_pc"),
        sum(col("prev") * col("prev")).as("sum_pp"),
        sum(col("cur") * col("cur")).as("sum_cc"))
  }

  /** TPC-H Q8 family (national market share): within orders placed by
    * customers of one REGION, per order-year the revenue delivered by
    * suppliers of one NATION next to the region total — both exact e4
    * BIGINTs (the share is the client's one division, same discipline as
    * q14_promo's promo/total pair).
    *
    * Scale: all five dimension hops (customer, both nation roles, region,
    * supplier) broadcast; the lineitem↔orders join is the only fact-sized
    * shuffle and the group-by key space is |years| — corpus-independent.
    */
  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    val e4 = round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000).cast("long")
    val cus = customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val nc = nation(s, d).select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
    val r = region(s, d).filter(col("r_name") === "ASIA")
    val sup = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val ns = nation(s, d)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val l = lineitem(s, d); val o = orders(s, d)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(cus), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nc), col("c_nationkey") === col("cn_key"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(ns), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_7", e4).otherwise(0L)).as("nation_e4"),
        sum(e4).as("total_e4"))
  }

  /** TPC-H Q9 family (product-type profit): per supplier nation and order
    * year, profit = revenue − cost, exact e4 BIGINT. The synthetic schema
    * has no partsupp, so cost is the p_retailprice × quantity proxy —
    * retail cents are exact e4 integers and quantities integral, so the
    * whole measure is fp-free after the one rounding both engines share.
    *
    * Scale: supplier/nation/part broadcast; lineitem↔orders is the only
    * fact shuffle; |nations|·|years| output cells.
    */
  def q9Profit(s: SparkSession, d: String): DataFrame = {
    val profitE4 =
      round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000).cast("long") -
        round(col("p_retailprice") * 10000).cast("long") * col("l_quantity").cast("long")
    val l = lineitem(s, d)
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
    val sup = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val n = nation(s, d).select(col("n_nationkey"), col("n_name"))
    val p = part(s, d).select(col("p_partkey"), col("p_retailprice"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(profitE4).as("profit_e4"), count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q11 family (important stock): per (supplier nation, part) the
    * shipped value — retail cents × quantity, the no-partsupp proxy — kept
    * where the pair holds more than 0.1% of its nation's total. The
    * group-vs-global-scalar comparison is the exact integer
    * cross-multiplication value·1000 > total (no division anywhere).
    *
    * Scale: the fact table aggregates to |nations|·|parts| cells in one
    * shuffle; nation totals are 25 rows re-aggregated from those cells and
    * broadcast back — the fact table is read once and never joins a
    * corpus-sized frame.
    */
  def q11ImportantParts(s: SparkSession, d: String): DataFrame = {
    val valueCents = round(col("p_retailprice") * 100).cast("long") *
      col("l_quantity").cast("long")
    // cached: consumed by the nation totals AND the join-back — without the
    // persist the fact aggregate would run twice
    val perPair = graft.pipeline.InternalCaches.register(lineitem(s, d)
      .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(part(s, d).select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("s_nationkey"), col("p_partkey"))
      .agg(sum(valueCents).as("value_cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tot = perPair.groupBy(col("s_nationkey")).agg(sum(col("value_cents")).as("tot_cents"))
    perPair.join(broadcast(tot), Seq("s_nationkey"))
      .filter(col("value_cents") * lit(1000L) > col("tot_cents"))
      .join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("p_partkey"), col("value_cents"))
  }

  /** TPC-H Q17 family (small-quantity revenue): total revenue of brand
    * lineitems whose quantity is below 20% of their part's average — the
    * correlated-average rewritten as the exact integer cross-multiplication
    * 5·qty·n_p < Σqty_p (quantities are integral). Per-part stats aggregate
    * over ALL lineitems of the part; the brand restriction commutes with
    * that per-part aggregation, so both sides pre-filter through the
    * broadcast brand part list and the fact table is scanned lean twice
    * (the classic Q17 shape).
    *
    * Scale: brand parts broadcast into both scans; the per-part stats
    * frame is aggregate-sized and equi-joins back on partkey (AQE
    * broadcasts it at small SF; at 100 TB it stays a co-partitioned
    * shuffle join of one fact-sized and one aggregate-sized frame).
    */
  def q17SmallQty(s: SparkSession, d: String): DataFrame = {
    val brand = part(s, d).filter(col("p_brand") === "Brand#13").select(col("p_partkey"))
    val ls = lineitem(s, d).join(broadcast(brand), col("l_partkey") === col("p_partkey"))
    val pq = ls.groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("n_p"), sum(col("l_quantity").cast("long")).as("sumq"))
    ls.join(pq, col("l_partkey") === col("pk"))
      .filter(col("l_quantity").cast("long") * lit(5L) * col("n_p") < col("sumq"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("total_cents"),
        count(lit(1)).as("n_lines"))
  }

  /** Exact AUC (Mann–Whitney U) of `value` as a score for the positive
    * class `event_type = posType` — the model-evaluation primitive next to
    * the A/B readout: AUC = P(s_pos > s_neg) + ½P(tie), computed WITHOUT
    * per-row ranks. Scores are exact cents, so grouping by score value
    * and prefix-summing the negative counts gives
    * 2U = Σ_v np_v·(2·Σ_{v'<v} nn_v' + nn_v) — every term BIGINT, tie
    * handling exact by construction. The final AUC is one IEEE division
    * of exact integers, identical across engines.
    *
    * Scale: one aggregation to distinct score values, then the
    * hierarchical [[graft.pipeline.TrainingData.exclusivePrefixSum]]
    * (never an unpartitioned window), then a 1-row aggregate.
    */
  def aucScore(s: SparkSession, d: String, posType: String = "purchase"): DataFrame = {
    val g = events(s, d).select(
        round(col("value") * 100).cast("long").as("cents"),
        (col("event_type") === posType).cast("long").as("pos"))
      .groupBy(col("cents"))
      .agg(sum(col("pos")).as("np"), (count(lit(1)) - sum(col("pos"))).as("nn"))
    val pre = pipeline.TrainingData.exclusivePrefixSum(g, "cents", "nn", "cum_nn")
    g.join(pre, Seq("cents"))
      .agg(sum(col("np") * (lit(2L) * col("cum_nn") + col("nn"))).as("auc_num2"),
        sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
      .select(col("auc_num2"), col("n_pos"), col("n_neg"),
        (col("auc_num2").cast("double") /
          (lit(2.0d) * col("n_pos").cast("double") * col("n_neg").cast("double"))).as("auc"))
  }

  /** TPC-H Q15 family (top supplier): revenue per supplier over one
    * quarter, keep the supplier(s) AT the global maximum — Q15's create-
    * view + scalar-subquery shape as an aggregate reused twice: once for
    * the keyless max (a bounded 1×N cross join, the whitelisted
    * guardrail shape) and once as the join-back probe. Revenue stays an
    * integer e4 BIGINT so the equality against the max is exact — the
    * reason Q15's `= (SELECT max(...))` is even well-defined here.
    *
    * Scale: the revenue frame is supplier-count-sized (aggregate of the
    * fact scan) and cached — without the persist the lineitem scan would
    * run twice; the max side is ONE row broadcast.
    */
  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = graft.pipeline.InternalCaches.register(lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
        .cast("long")).as("revenue_e4"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    rev.crossJoin(broadcast(rev.agg(max(col("revenue_e4")).as("mx"))))
      .filter(col("revenue_e4") === col("mx"))
      .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("revenue_e4"))
  }

  /** TPC-H Q16 family (supplier-count by part attributes): how many
    * DISTINCT suppliers ship each surviving (brand, type, size) class,
    * excluding a blocked supplier set — the NOT-IN-subquery + grouped
    * COUNT(DISTINCT) shape. The blocked set (negative account balance)
    * becomes a broadcast LEFT ANTI join on the fact side; brand/type/size
    * predicates prune the part dimension BEFORE it broadcasts.
    *
    * Scale: both dimensions broadcast; the only shuffle is the two-phase
    * distinct aggregation (partial distinct map-side on (attrs, suppkey),
    * exact count on the reduce side).
    */
  def q16PartSuppliers(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d)
      .filter(col("p_brand") =!= "Brand#45" &&
        !col("p_type").startsWith("MEDIUM POLISHED") &&
        col("p_size").isin(3, 9, 14, 19, 23, 36, 45, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val blocked = supplier(s, d).filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(blocked), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H Q19 family (disjunctive predicate revenue): three (brand,
    * size-range, quantity-range) conjuncts OR'd together — the predicate
    * shape that defeats naive single-range pushdown and exercises
    * Catalyst's disjunction handling. Reported PER BRANCH (first matching
    * branch tags the row; branches are made disjoint by quantity range)
    * so the contract pins each conjunct's result, not just the union's
    * total.
    *
    * Scale: part broadcasts with only (partkey, brand, size); the
    * disjunction evaluates post-join in one codegen stage; one map-side-
    * combined aggregation to 3 rows.
    */
  def q19Disjunctive(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d).select(col("p_partkey"), col("p_brand"), col("p_size"))
    val branch =
      when(col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11), 1L)
      .when(col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(12, 20), 2L)
      .when(col("p_brand") === "Brand#21" && col("p_size").between(1, 15) &&
        col("l_quantity").between(21, 30), 3L)
    lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .withColumn("branch", branch)
      .filter(col("branch").isNotNull)
      .groupBy(col("branch"))
      .agg(Num.e4SumExact(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q21 family (suppliers who kept orders waiting): for finished
    * orders with lines from ≥2 suppliers, count per supplier the orders
    * where THEIR line was returned and no other supplier's was — the
    * EXISTS + NOT-EXISTS double correlated-subquery shape, lowered to a
    * LEFT SEMI join (another supplier shipped in the order) and a LEFT
    * ANTI join (no other supplier's line was returned). The return flag
    * stands in for the reference schema's receipt>commit lateness (this
    * testdata carries no commit/receipt dates).
    *
    * Scale: both non-equi conjuncts ride the orderkey equi-join as
    * residual predicates (hash semi/anti, never a cartesian); every
    * shuffled frame carries (orderkey, suppkey) longs only; the final
    * top-100 cut is deterministic because (numwait DESC, s_name) is a
    * total order over unique supplier names.
    */
  def q21Waiting(s: SparkSession, d: String): DataFrame = {
    val fOrders = orders(s, d).filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val l = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      .join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .drop("o_orderkey")
    // ONE exchange for dedup + both joins: HashPartitioning(l_orderkey)
    // satisfies the distinct's clustering (orderkey is a prefix of its
    // keys) AND the semi/anti joins' distribution, so neither re-shuffles
    // this side
    val mine = l.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey"))
      .repartition(col("l_orderkey")).dropDuplicates(Seq("l_orderkey", "l_suppkey"))
    val others = l.select(col("l_orderkey").as("ok1"), col("l_suppkey").as("other_supp"))
    val returnedOthers = l.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("r_supp"))
    mine
      .join(others, col("l_orderkey") === col("ok1") &&
        col("l_suppkey") =!= col("other_supp"), "left_semi")
      .join(returnedOthers, col("l_orderkey") === col("ok2") &&
        col("l_suppkey") =!= col("r_supp"), "left_anti")
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("numwait"))
      .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name")).limit(100)
  }

  /** SCD2 dimension build from the event stream — the slowly-changing-
    * dimension primitive next to [[snapshot_diff]]/[[cdc_merge]]'s
    * table-maintenance pair: per user, consecutive runs of equal
    * event_type collapse to ONE version row with [valid_from, valid_to)
    * validity and a per-user version number; the open (current) version
    * carries the conventional SCD2 high-date sentinel (2100-01-01 — NOT
    * NULL: a null timestamp hashes engine-dependently, and not 9999 —
    * that overflows pandas' ns-epoch range in downstream tooling).
    * Change detection is a lag over the full stream; validity stitching
    * a lead over the CHANGE rows only — the two-window composition every
    * SCD2 build reduces to. (ts, event_id) ordering makes tied
    * timestamps deterministic.
    *
    * Scale: both windows partition by user (never unpartitioned); the
    * second window's input is change-rows only, already shrunk.
    */
  def scd2Build(s: SparkSession, d: String): DataFrame =
    scd2BuildOf(events(s, d))

  /** SCD2 construction over any events-shaped frame (see [[scd2Build]]). */
  def scd2BuildOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val changes = ev
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    changes.select(col("user_id"), col("event_type"),
      col("ts").as("valid_from"),
      coalesce(lead(col("ts"), 1).over(w),
        lit("2100-01-01").cast("timestamp")).as("valid_to"),
      row_number().over(w).cast("long").as("version"))
  }

  /** CUPED experiment readout — variance-reduced A/B analysis: per
    * (event_type, arm) the exact BIGINT moment sums of per-user
    * (pre, post) cents pairs, x = the user's pre-period total and y the
    * experiment-period total, split at the fixed midpoint. θ =
    * (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) and the adjusted mean are the
    * client's fp steps; the contract is integer-only (the ols_trend
    * discipline applied to the ab_split_stats arm hash). Users with no
    * pre-period activity participate with x = 0 — the standard CUPED
    * treatment — because the per-user aggregate coalesces both phases
    * from the same row set rather than joining two filtered frames.
    *
    * Scale: one map-side-combined aggregate to |users|·|types| cells,
    * one more to |types|·2 — no joins, no windows.
    */
  def cupedAdjust(s: SparkSession, d: String): DataFrame = {
    val mid = lit("2024-01-16").cast("timestamp")
    val cents = round(col("value") * 100).cast("long")
    val arm = when(pmod(graft.functions.PortableHash.hash60(
      concat(lit("ab_"), col("user_id"))), lit(2L)) === 0L, "A").otherwise("B")
    events(s, d)
      .select(col("event_type"), col("user_id"), arm.as("arm"),
        when(col("ts") < mid, cents).otherwise(0L).as("xc"),
        when(col("ts") >= mid, cents).otherwise(0L).as("yc"))
      .groupBy(col("event_type"), col("arm"), col("user_id"))
      .agg(sum(col("xc")).as("x"), sum(col("yc")).as("y"))
      .groupBy(col("event_type"), col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_xx"))
  }

  /** KMV set algebra — audience overlap between every pair of event types
    * from MERGED bottom-k sketches, the mergeability law the ⊕-union
    * story needs at the sketch level: K = bottom-k of the two sketches'
    * union, and because any x ∈ K has h(x) below the union's k-th hash —
    * which is ≤ either side's own k-th hash — sketch membership IS set
    * membership for K's elements, so ρ = |{x ∈ K : x ∈ A ∧ x ∈ B}| is
    * computed exactly from the sketches alone. The contract emits the
    * integer internals (k_eff, inter_k, kth_hash); Jaccard ≈ inter_k/k_eff
    * and |A∩B| ≈ ρ·est_union are the client's divisions.
    *
    * Scale: the per-type sketch is the native [[graft.functions.KmvSmallest]]
    * TypedImperativeAggregate — map-side bounded state, no distinct
    * shuffle of raw users; everything after operates on |types|·k rows.
    */
  def kmvOverlap(ev: DataFrame, k: Int = 256): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    val mins = bridge.column(graft.functions.KmvSmallest(
      bridge.expression(graft.functions.PortableHash.hash60(col("user_id"))), k)
      .toAggregateExpression())
    val sk = ev.groupBy(col("event_type")).agg(mins.as("mins"))
    val ex = sk.select(col("event_type"), explode(col("mins")).as("hv"))
    val ty = sk.select(col("event_type"))
    val pr = ty.select(col("event_type").as("ta"))
      .join(ty.select(col("event_type").as("tb")), col("ta") < col("tb"))
    val mrg = pr.join(ex.withColumnRenamed("event_type", "ta"), Seq("ta"))
      .unionByName(pr.join(ex.withColumnRenamed("event_type", "tb"), Seq("tb"))
        .select(col("ta"), col("tb"), col("hv")))
    val du = mrg.groupBy(col("ta"), col("tb"), col("hv"))
      .agg(count(lit(1)).as("sides"))
    val w = Window.partitionBy("ta", "tb").orderBy("hv")
    du.select(col("ta"), col("tb"), col("hv"), col("sides"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= k)
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("k_eff"),
        sum(when(col("sides") === 2, 1L).otherwise(0L)).as("inter_k"),
        max(col("hv")).as("kth_hash"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("k_eff"), col("inter_k"), col("kth_hash"))
  }

  /** Functional-dependency audit — the data-profiling complement of
    * ref_integrity's FK check: for each CANDIDATE determinant→dependent
    * pair, the number of determinant values mapping to more than one
    * distinct dependent (violations) next to the distinct-determinant
    * total. A zero-violation row certifies the FD holds on this corpus;
    * the candidates deliberately mix keys that must hold with attribute
    * pairs that must not.
    *
    * Scale: each check is one map-side-combined two-level aggregate of a
    * single table; the union is |candidates| single-row frames.
    */
  def fdAudit(s: SparkSession, d: String): DataFrame = {
    def check(df: DataFrame, fd: String, det: org.apache.spark.sql.Column,
              dep: org.apache.spark.sql.Column): DataFrame =
      df.groupBy(det.as("k")).agg(countDistinct(dep).as("nv"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("nv") > 1, 1L).otherwise(0L)).as("violations"))
        .select(lit(fd).as("fd"), col("n_keys"), col("violations"))
    check(orders(s, d), "o_orderkey->o_custkey", col("o_orderkey"), col("o_custkey"))
      .unionByName(check(orders(s, d), "o_custkey->o_orderpriority",
        col("o_custkey"), col("o_orderpriority")))
      .unionByName(check(lineitem(s, d), "l_orderkey->l_suppkey",
        col("l_orderkey"), col("l_suppkey")))
      .unionByName(check(part(s, d), "p_brand->p_type", col("p_brand"), col("p_type")))
      .unionByName(check(customer(s, d), "c_custkey->c_mktsegment",
        col("c_custkey"), col("c_mktsegment")))
  }

  /** Inter-arrival histogram: per event type, the distribution of the gap
    * to the SAME USER's previous event (any type) across fixed duration
    * buckets — the ops/latency profile. Gaps are exact BIGINT microsecond
    * differences; the bucket ladder is integer comparisons, so both
    * engines bin identically (no fp log). Bucket labels carry a sort
    * prefix so lexical order is bucket order.
    *
    * Scale: one per-user window over (ts, event_id), then a
    * map-side-combined |types|·|buckets| aggregate.
    */
  def interarrivalHist(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val us = unix_micros(col("ts"))
    val gap = events(s, d)
      .select(col("event_type"), col("user_id"), col("ts"), col("event_id"))
      .select(col("event_type"), (us - lag(us, 1).over(w)).as("gap_us"))
      .filter(col("gap_us").isNotNull)
    val bucket = when(col("gap_us") < 1000000L, "0_lt_1s")
      .when(col("gap_us") < 10000000L, "1_1s_10s")
      .when(col("gap_us") < 60000000L, "2_10s_1m")
      .when(col("gap_us") < 600000000L, "3_1m_10m")
      .when(col("gap_us") < 3600000000L, "4_10m_1h")
      .when(col("gap_us") < 21600000000L, "5_1h_6h")
      .when(col("gap_us") < 86400000000L, "6_6h_1d")
      .otherwise("7_ge_1d")
    gap.select(col("event_type"), bucket.as("bucket"))
      .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Benford first-digit profile of order totals: the distribution of the
    * leading significant digit of o_totalprice in cents, per digit 1–9 with
    * counts — the classic fraud/quality screen. The digit comes from the
    * decimal string of the exact BIGINT cents (no log10 — fp-free and
    * engine-portable; totals are > 0 so the first character is significant).
    *
    * Scale: a 9-group map-side-combined aggregate; nothing else.
    */
  def benfordDigits(s: SparkSession, d: String): DataFrame = {
    orders(s, d)
      .select(substring(round(col("o_totalprice") * 100).cast("long").cast("string"), 1, 1)
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
  }

  /** Click→purchase interval join: every purchase paired with the same
    * user's clicks in the trailing hour — the batch twin of
    * [[graft.streaming.EventStreams.streamingIntervalJoin]]'s native
    * watermarked stream-stream join (differential spec pins equality).
    * Gaps are exact BIGINT microseconds.
    *
    * Scale — the equi key is (user, HOUR BUCKET), not user alone: the r9
    * hot-key stress (NOTES_r9.md §2) measured the user-only join at 5.5×
    * under one user owning 10% of events — every same-user (click,
    * purchase) pair materializes before the band filter, quadratic in the
    * hot key's rows. A 1-hour band can only pair a click with a purchase
    * in the click's own hour bucket or the next, so purchases probe BOTH
    * buckets (a 2-row explode) and the band becomes a residual inside
    * bucket-sized groups: pairs are clicks/hour × purchases/hour even for
    * the hottest key — the output's own growth law. No pair is duplicated
    * (a click's bucket equals exactly one of the two probes).
    */
  def clickPurchaseJoin(s: SparkSession, d: String): DataFrame =
    clickPurchaseJoinOf(events(s, d))

  /** The bucketed interval join over any events-shaped frame (see
    * [[clickPurchaseJoin]] for the contract instance; split out so specs
    * can drive the band/bucket boundaries with crafted timestamps).
    */
  def clickPurchaseJoinOf(e: DataFrame): DataFrame = {
    val hb = (t: org.apache.spark.sql.Column) => floor(unix_micros(t) / 3600000000L)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("c_ts"), col("event_id").as("click_id"),
        hb(col("ts")).as("hb"))
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("bu"), col("ts").as("b_ts"), col("event_id").as("purchase_id"),
        explode(array(hb(col("ts")), hb(col("ts")) - 1)).as("hb"))
    clicks.join(buys, col("cu") === col("bu") && clicks("hb") === buys("hb") &&
        col("c_ts") >= col("b_ts") - expr("INTERVAL 1 HOUR") && col("c_ts") <= col("b_ts"))
      .select(col("purchase_id"), col("click_id"),
        (unix_micros(col("b_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
  }

  /** k-anonymity audit with one generalization rung — the privacy
    * complement of [[graft.pipeline.TextAnalysis.piiRedact]]-style masking:
    * group the corpus by its quasi-identifiers (nation, market segment);
    * any group smaller than k generalizes its segment to '*' (suppression)
    * and re-counts within the nation; a still-small '*' rung folds to the
    * fully-generalized (-1, '*') bucket. Output is the post-generalization
    * equivalence classes with their exact sizes and a k_anonymous flag —
    * false only possible on the final bucket.
    *
    * Scale: two map-side-combined aggregates over shrinking frames
    * (|nations|·|segments| → |nations| → 1) — the corpus is scanned once.
    */
  def kAnonymity(s: SparkSession, d: String, k: Long = 5L): DataFrame =
    kAnonymityOf(customer(s, d), k)

  /** The generalization ladder over any frame with customer-shaped QI
    * columns (see [[kAnonymity]] for the contract instance).
    */
  def kAnonymityOf(cust: DataFrame, k: Long): DataFrame = {
    val cols = Seq("nat", "seg", "bal_k", "n").map(col)
    val g0 = cust
      .groupBy(col("c_nationkey").cast("long").as("nat"), col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_k"))
      .agg(count(lit(1)).as("n"))
    // rung 1: drop the most specific attribute (balance bucket; sentinel
    // -999 — real buckets can be negative, so -1 would collide)
    val l1 = g0.filter(col("n") < k)
      .groupBy(col("nat"), col("seg")).agg(sum(col("n")).as("n"))
      .withColumn("bal_k", lit(-999L))
    // rung 2: suppress the segment
    val l2 = l1.filter(col("n") < k)
      .groupBy(col("nat")).agg(sum(col("n")).as("n"))
      .withColumn("seg", lit("*")).withColumn("bal_k", lit(-999L))
    // rung 3: the fully-generalized residual bucket (may stay below k —
    // the only row allowed to report k_anonymous = false)
    val rest = l2.filter(col("n") < k)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"))
      .select(lit(-1L).as("nat"), lit("*").as("seg"), lit(-999L).as("bal_k"), col("n"))
      .filter(col("n") > 0L)
    g0.filter(col("n") >= k).select(cols: _*)
      .unionByName(l1.filter(col("n") >= k).select(cols: _*))
      .unionByName(l2.filter(col("n") >= k).select(cols: _*))
      .unionByName(rest)
      .select(col("nat"), col("seg"), col("bal_k"), col("n"),
        (col("n") >= k).as("k_anonymous"))
  }

  /** Smoothed target encoding — the categorical-feature primitive of every
    * GBDT / feature-engineering pipeline: each category's label mean shrunk
    * toward the global prior, enc = (Σy + m·prior)/(n + m). Everything is
    * EXACT integer arithmetic: labels as BIGINT cents, the prior and the
    * encoded value as cents·10⁴ floor divisions (both engines floor — all
    * quantities positive), so the contract is engine-exact with no fp mean
    * anywhere. Category = customer market segment, label = order total.
    *
    * Scale: orders pre-aggregate per CUSTOMER before touching the customer
    * dimension (the join input shrinks from |orders| to |customers|), the
    * per-segment frame is a handful of rows, and the global prior derives
    * from that frame itself (broadcast single row — no second scan).
    * Overflow: sum_cents·10⁴ stays under 2⁶³ through ~10¹⁴ cents of global
    * volume; beyond that (full 100 TB), lift the two shrink expressions to
    * DECIMAL(38,0) — ANSI mode fails loudly rather than wrapping either way.
    */
  def targetEncode(s: SparkSession, d: String, m: Int = 100): DataFrame = {
    val perCust = orders(s, d)
      .select(col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
    val seg = perCust
      .join(customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("n")).as("n_orders"), sum(col("sc")).as("sum_cents"))
    val prior = seg.agg(sum(col("sum_cents")).as("gs"), sum(col("n_orders")).as("gn"))
      .select(expr("gs * 10000 div gn").as("prior_c4"))
    seg.crossJoin(broadcast(prior))
      .select(col("c_mktsegment"), col("n_orders"), col("sum_cents"), col("prior_c4"),
        expr(s"(sum_cents * 10000 + $m * prior_c4) div (n_orders + $m)").as("encoded_c4"))
  }

  /** Frequent event-type trigrams — per-user sequential pattern mining
    * (the length-3 extension of [[transitionsQuery]]'s Markov pairs): the
    * top-k most common (e1, e2, e3) consecutive-event sequences across
    * all users, deterministically ordered. (ts, event_id) makes tied
    * timestamps a total order, so both engines see identical sequences.
    *
    * Scale: ONE per-user window sort (never unpartitioned) producing the
    * two leads, then a map-side-combined count over ≤ |types|³ groups;
    * the top-k cut moves |types|³ rows, not events.
    */
  def seqPatterns(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, d).select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .select(col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e3").isNotNull)
      .groupBy(col("e1"), col("e2"), col("e3")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("e1"), col("e2"), col("e3")).limit(k)
  }

  /** TPC-H Q2 family (min-cost supplier): the correlated-min-subquery +
    * four-dimension join shape. No partsupp in this testdata, so
    * (documented proxy, same plan): supply cost per (part, supplier) is
    * the minimum exact integer unit price ever shipped
    * (cents div quantity — both engines floor on positives); the part cut
    * is size 15 STANDARD, the region cut EUROPE. Winners are the pairs
    * matching their part's regional minimum; (acctbal DESC, nation,
    * supplier, part) is a total order so the LIMIT frontier is
    * deterministic.
    *
    * Scale: part dim broadcasts into the fact scan before the
    * (part, supplier) aggregate; the correlated min is a per-part
    * aggregate of the ALREADY-collapsed pair frame joined back — never a
    * per-row subquery; supplier/nation/region hops broadcast.
    */
  def q2MinCost(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d).filter(col("p_size") === 15 && col("p_type") === "STANDARD")
      .select(col("p_partkey"))
    val eurSupp = supplier(s, d)
      .join(broadcast(nation(s, d)
        .join(broadcast(region(s, d).filter(col("r_name") === "EUROPE")
          .select(col("r_regionkey"))), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val cost = lineitem(s, d)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"),
        expr("cast(round(l_extendedprice * 100) as bigint) div cast(round(l_quantity) as bigint)")
          .as("unit_cents"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("unit_cents")).as("cost_cents"))
      .join(broadcast(eurSupp), col("l_suppkey") === col("s_suppkey"))
    val minCost = cost.groupBy(col("l_partkey")).agg(min(col("cost_cents")).as("min_cost"))
    cost.join(minCost, Seq("l_partkey"))
      .filter(col("cost_cents") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("l_partkey").as("p_partkey"), col("cost_cents"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q12 family (shipping-priority-by-mode): the fact-fact join +
    * two-way conditional count shape. This testdata carries no ship mode or
    * commit/receipt dates, so (documented proxies, same plan): linestatus
    * stands in for the two ship modes and "late" means shipped ≥ 90 days
    * after the order date; high priority is the standard URGENT/HIGH cut.
    *
    * Scale: the shipdate window is pushed to the parquet scan; orders is
    * projected to three columns before the orderkey equi-join (broadcast
    * at small SF via AQE, shuffle-hash at 100 TB); the lateness predicate
    * rides the join as a residual; the final aggregate is two groups.
    */
  def q12Shipmode(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_linestatus").as("ship_mode"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
           sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
  }

  /** TPC-H Q20 family (excess-inventory suppliers): the two-granularity
    * correlated-aggregate + semi-join-chain shape — per (part, supplier)
    * compare one aggregate of the group against another aggregate of the
    * SAME group's subset (the availqty > ½·shipped correlation), then
    * collapse qualifying pairs onto suppliers of one nation. No partsupp
    * table in this testdata, so (documented proxy, same plan): "stock on
    * hand" is the pair's all-time shipped quantity and a pair is EXCESS
    * when 1998 moved less than a third of it; the part filter is the
    * name-prefix cut (`p_name LIKE 'red%'` — the testdata's analog of
    * Q20's `forest%`), the nation cut keeps NATION_3's suppliers.
    *
    * Scale: the red-part dimension broadcasts into the fact scan before
    * the (partkey, suppkey) hash aggregate (map-side combined, both
    * quantities from one pass — no self-join of lineitem); qualifying
    * pairs shrink to distinct suppkeys before touching the supplier dim.
    */
  def q20Excess(s: SparkSession, d: String): DataFrame = {
    val redParts = part(s, d).filter(col("p_name").startsWith("red")).select(col("p_partkey"))
    val in1998 = col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
      col("l_shipdate") < lit("1999-01-01").cast("timestamp")
    val excessSupp = lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"), col("l_shipdate"))
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("qty_total"),
           sum(when(in1998, round(col("l_quantity")).cast("long")).otherwise(0L)).as("qty_1998"))
      .filter(col("qty_total") > col("qty_1998") * 3)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_excess_parts"))
    val natSupp = supplier(s, d)
      .join(broadcast(nation(s, d).filter(col("n_name") === "NATION_3")
        .select(col("n_nationkey"))), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    excessSupp.join(natSupp, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("n_excess_parts"))
  }

  /** The A/B arm assignment shared by [[abSplitStats]], [[chi2Independence]]
    * and [[mannWhitney]] — the portable salted user hash, so every
    * experiment readout in the suite agrees on who is in which arm.
    */
  private def abArm: org.apache.spark.sql.Column =
    when(pmod(graft.functions.PortableHash.hash60(
      concat(lit("ab_"), col("user_id"))), lit(2L)) === 0L, "A").otherwise("B")

  /** DuckDB twin of [[abArm]]: `armA` where the salted user hash is even,
    * else `armB` (SQL expressions: the arm labels or 1/0 indicators).
    */
  private[graft] def abArmSql(armA: String, armB: String): String =
    s"""CASE WHEN ${graft.functions.PortableHash.duckdbHash60("'ab_' || user_id::VARCHAR")} % 2 = 0
                     THEN $armA ELSE $armB END"""

  /** χ² test of independence (2×2, per event type): does arm membership
    * predict conversion (event value ≥ $50)? The four cell counts are one
    * map-side-combined aggregate over the events scan; the statistic is
    * the closed-form N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) — a single scalar
    * expression over exact BIGINT cell counts, written with the identical
    * operation order in the DuckDB oracle so the IEEE double result is
    * bit-equal (no SUM-of-doubles anywhere; the skill-noted fp-drift trap
    * does not apply to a deterministic scalar expression tree).
    *
    * Scale: shuffle carries |event_type| × 4 longs; the statistic is
    * computed on aggregate-sized rows. At true 100 TB counts the long
    * products approach 2^63 — the products are computed in long only up
    * to ad/bc (≤ n²), then cast to double before squaring, keeping every
    * intermediate finite and deterministic.
    */
  def chi2Independence(ev: DataFrame): DataFrame = {
    val conv = round(col("value") * 100).cast("long") >= 5000L
    val cells = ev.select(col("event_type"), abArm.as("arm"), conv.as("conv"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("arm") === "A" && col("conv"), 1L).otherwise(0L)).as("a"),
           sum(when(col("arm") === "A" && !col("conv"), 1L).otherwise(0L)).as("b"),
           sum(when(col("arm") === "B" && col("conv"), 1L).otherwise(0L)).as("c"),
           sum(when(col("arm") === "B" && !col("conv"), 1L).otherwise(0L)).as("d"))
    val n = (col("a") + col("b") + col("c") + col("d")).cast("double")
    val dd = (col("a") * col("d") - col("b") * col("c")).cast("double")
    val den = ((col("a") + col("b")) * (col("c") + col("d"))).cast("double") *
              ((col("a") + col("c")) * (col("b") + col("d"))).cast("double")
    cells.select(col("event_type"), col("a"), col("b"), col("c"), col("d"),
      when(den === 0.0, 0.0).otherwise(round(n * dd * dd / den, 6)).as("chi2"))
  }

  /** Contract instance over the events table. */
  def chi2Query(s: SparkSession, d: String): DataFrame =
    chi2Independence(events(s, d))

  /** Mann–Whitney U (Wilcoxon rank-sum) per event type: the
    * non-parametric A/B readout — ranks the pooled cents-quantized values,
    * average-rank tie handling, and reports arm A's rank sum and U. All
    * outputs are DOUBLED ranks (2·avg-rank is always integral under
    * average-rank ties), so the whole statistic is BIGINT-exact and the
    * oracle comparison is immune to fp: `r2_sum_a` = 2·R_A and
    * `u2_a` = 2·U_A = 2·R_A − n_a(n_a+1).
    *
    * Plan: collapse to per-(type, value) tie-group counts first (the
    * aggregate is map-side combined; the fact table never reaches a
    * window), then ONE partitioned cumulative window over the distinct
    * value rows — avg rank of a tie group = (rows before it) + (nv+1)/2,
    * i.e. doubled: 2c + nv + 1 — then a final per-type fold. Scale: the
    * window input is bounded by distinct (type, cents) pairs, not events;
    * everything after the first aggregate is aggregate-sized.
    */
  def mannWhitney(ev: DataFrame): DataFrame = {
    val cells = ev.select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        when(abArm === "A", 1L).otherwise(0L).as("isa"))
      .groupBy(col("event_type"), col("cents"))
      .agg(sum(col("isa")).as("na"), count(lit(1)).as("nv"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    cells.withColumn("c", coalesce(sum(col("nv")).over(w), lit(0L)))
      .groupBy(col("event_type"))
      .agg(sum(col("na")).as("n_a"), sum(col("nv") - col("na")).as("n_b"),
           sum(col("na") * (lit(2L) * col("c") + col("nv") + 1L)).as("r2_sum_a"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("r2_sum_a"),
        (col("r2_sum_a") - col("n_a") * (col("n_a") + 1L)).as("u2_a"))
  }

  /** Contract instance over the events table. */
  def mannWhitneyQuery(s: SparkSession, d: String): DataFrame =
    mannWhitney(events(s, d))

  /** Incremental view maintenance of an aggregate — the relational face of
    * the Lara ⊕-mergeability law (SURVEY §2.1: MergeAgg partials combine
    * associatively; `/root/reference/src/main/kotlin/.../api/TupleOp.kt`
    * MergeUnion0's ⊕): the fact table is split into a BASE segment
    * (shipped before 1997) and a DELTA segment, each aggregated
    * INDEPENDENTLY to (sum, count) partials, and the published view is the
    * ⊕-merge of the two partial frames — never a rescan of base+delta
    * together. The DuckDB oracle recomputes the view from scratch; equality
    * IS the maintenance-correctness proof.
    *
    * Scale: this is the 100 TB shape for slowly-growing facts — the base
    * partial is aggregate-sized (persist it; here it is recomputed because
    * the contract must be self-contained), each refresh touches only the
    * delta, and the merge is a union of two aggregate-sized frames
    * re-aggregated with the same ⊕ (sum/sum/sum — all BIGINT-exact cents).
    * `n_base`/`n_delta` expose the partial provenance so the oracle also
    * verifies WHERE each row came from, not just the merged totals.
    */
  def ivmMergeAgg(s: SparkSession, d: String): DataFrame = {
    val cut = lit("1997-01-01").cast("timestamp")
    def partial(df: DataFrame, tag: String): DataFrame =
      df.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
             sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents"),
             count(lit(1)).as("n"))
        .withColumn("seg", lit(tag))
    val li = lineitem(s, d)
    val base = partial(li.filter(col("l_shipdate") < cut), "base")
    val delta = partial(li.filter(col("l_shipdate") >= cut), "delta")
    base.unionByName(delta)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("sum_qty")).as("sum_qty"),
           (sum(col("sum_cents")) / 100.0).as("sum_price"),
           sum(col("n")).as("n"),
           sum(when(col("seg") === "base", col("n")).otherwise(0L)).as("n_base"),
           sum(when(col("seg") === "delta", col("n")).otherwise(0L)).as("n_delta"))
  }

  /** Item-item collaborative filtering: for each brand, its top-5 most
    * similar brands by binary-cosine over order baskets —
    * cos(a,b) = |A∩B| / √(|A||B|), ranked by the integer-scaled square
    * `score2 = ⌊10⁶·num²/(n_a·n_b)⌋` so the ordering (and the oracle
    * comparison) never touches a double or a √. Ties break by (num desc,
    * brand_b) — fully deterministic.
    *
    * Plan: reuses the cached [[orderBrands]] basket frame (pre-partitioned
    * on the order key: the co-occurrence self-join plans zero additional
    * exchanges), co-occurrence kept in BOTH orientations (each item needs
    * its own neighbor list), per-brand basket sizes are an aggregate-sized
    * frame AQE broadcasts back. The ranking window runs over at most
    * |brands|² aggregate rows. Scale: per-order brand fan-out is bounded
    * by basket size (single digits); the num²·10⁶ intermediate runs in
    * DECIMAL(38,0) (BIGINT clears at num ~3·10⁶ co-occurrences) and the
    * quotient — at most 10⁶ since num ≤ min(na, nb) — lands back in
    * BIGINT exactly.
    */
  def itemCf(s: SparkSession, d: String): DataFrame = {
    val ob = orderBrands(s, d)
    val sizes = ob.groupBy(col("b")).agg(count(lit(1)).as("n"))
    val pairs = ob.select(col("o"), col("b").as("brand_a"))
      .join(ob.select(col("o"), col("b").as("brand_b")), Seq("o"))
      .filter(col("brand_a") =!= col("brand_b"))
      .groupBy(col("brand_a"), col("brand_b"))
      .agg(count(lit(1)).as("num"))
    val scored = pairs
      .join(sizes.select(col("b").as("brand_a"), col("n").as("na")), Seq("brand_a"))
      .join(sizes.select(col("b").as("brand_b"), col("n").as("nb")), Seq("brand_b"))
      .withColumn("score2",
        // Intermediate num²·10⁶ would clear BIGINT once num ~3e6; the
        // quotient itself is ≤ 10⁶ (num ≤ min(na, nb)), so run the product
        // in DECIMAL(38,0) and land the exact result back in BIGINT.
        expr("cast((cast(num as decimal(38,0)) * num * 1000000) div (cast(na as decimal(38,0)) * nb) as long)"))
    val w = Window.partitionBy(col("brand_a"))
      .orderBy(col("score2").desc, col("num").desc, col("brand_b"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("brand_a"), col("brand_b"), col("num"), col("score2"), col("rk"))
  }

  /** Declarative data-quality rules, evaluated as data: each rule is a SQL
    * predicate string compiled at plan time (`expr`) into a conditional
    * counter — N rules cost ONE scan with N codegen'd counters fused into
    * a single map-side-combined aggregate, not N scans (the naive
    * rule-engine shape). The same strings drive the DuckDB oracle
    * ([[dqRulesOracle]] is generated from this Seq — the anti-drift
    * pattern), so the dialect-shared subset is enforced by the gate
    * itself.
    */
  val dqRuleDefs: Seq[(String, String)] = Seq(
    "qty_range"      -> "l_quantity >= 1 AND l_quantity <= 50",
    "qty_typical"    -> "l_quantity <= 30",
    "discount_range" -> "l_discount >= 0.0 AND l_discount <= 0.10",
    "tax_range"      -> "l_tax >= 0.0 AND l_tax <= 0.08",
    "price_positive" -> "l_extendedprice > 0",
    "flag_domain"    -> "l_returnflag IN ('A', 'N', 'R')",
    "ship_window"    ->
      "l_shipdate >= TIMESTAMP '1992-01-01' AND l_shipdate < TIMESTAMP '1998-06-01'")

  /** Rule-audit summary: one row per rule with its violation count and the
    * audited total. Scale: single pruned scan of the fact table; the
    * one-row aggregate is exploded driver-free into |rules| rows.
    */
  def dqRules(s: SparkSession, d: String): DataFrame = {
    val aggs = dqRuleDefs.map { case (id, pred) =>
      sum(when(!expr(pred), 1L).otherwise(0L)).as(s"v_$id")
    } :+ count(lit(1)).as("n_total")
    lineitem(s, d).agg(aggs.head, aggs.tail: _*)
      .select(explode(array(dqRuleDefs.map { case (id, _) =>
          struct(lit(id).as("rule_id"), col(s"v_$id").as("n_violations"))
        }: _*)).as("r"), col("n_total"))
      .select(col("r.rule_id").as("rule_id"),
        col("r.n_violations").as("n_violations"), col("n_total"))
  }

  /** DuckDB oracle for [[dqRules]], generated from the SAME rule Seq. */
  def dqRulesOracle: String =
    dqRuleDefs.map { case (id, pred) =>
      s"""SELECT '$id' AS rule_id,
                 count(*) FILTER (WHERE NOT ($pred))::BIGINT AS n_violations,
                 count(*)::BIGINT AS n_total FROM lineitem"""
    }.mkString("\nUNION ALL\n")

  /** The lineitem measures of [[corrMatrix]] with their integer
    * quantizations (name → quantized-long SQL expression, valid in both
    * dialects): quantity is integral, the monetary/rate columns are
    * 2-decimal → ×100. Alphabetical, so pair enumeration is canonical.
    */
  val corrMeasures: Seq[(String, String)] = Seq(
    "l_discount"      -> "round(l_discount * 100)",
    "l_extendedprice" -> "round(l_extendedprice * 100)",
    "l_quantity"      -> "round(l_quantity)",
    "l_tax"           -> "round(l_tax * 100)")

  /** Pairwise Pearson correlation matrix over the quantized lineitem
    * measures, from EXACT integer moments in ONE scan: every Σx, Σx², Σxy
    * is a DECIMAL(38,0) sum of products of quantized longs (no double ever
    * enters an aggregate), and the textbook
    * (nΣxy−ΣxΣy)/√(nΣx²−(Σx)²)√(nΣy²−(Σy)²) is evaluated once per pair on
    * aggregate-sized rows with the identical operation order in the DuckDB
    * oracle (HUGEINT there) — decimal→double casts and IEEE √ are
    * correctly rounded in both engines, so the rounded correlation is
    * bit-equal. This is also the NUMERICALLY HONEST single-pass shape at
    * 100 TB: the naive double-moment formula loses catastrophically to
    * cancellation at n ~ 10¹², while exact integer moments cannot.
    *
    * Plan: one pruned scan, one grouping-key-free aggregate (k + k + k(k−1)/2
    * moment counters, map-side combined to a single row), the k(k−1)/2 pair
    * rows exploded driver-free.
    */
  def corrMatrix(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val qs = corrMeasures.map { case (name, q) => name -> expr(q).cast("long") }
    val moments =
      qs.map { case (n, q) => sum(q.cast(dec)).as(s"s_$n") } ++
      qs.map { case (n, q) => sum((q.cast(dec) * q.cast(dec))).as(s"ss_$n") } ++
      (for (i <- qs.indices; j <- qs.indices if i < j) yield {
        val (nx, qx) = qs(i); val (ny, qy) = qs(j)
        sum((qx.cast(dec) * qy.cast(dec))).as(s"sp_${nx}_$ny")
      }) :+ count(lit(1)).as("n")
    // DECIMAL(38) products are interpreted BigDecimal work — CPU-bound per
    // row, so a single-row-group scan (sf0.1 lineitem) would fold all 31
    // moment counters in one task (measured 1.6 s of a 2.0 s query); spread
    // the scan first, the partial aggregates then combine to one row as
    // before. No-op on many-file sources.
    val m = pipeline.Dedup.rebalance(lineitem(s, d)).agg(moments.head, moments.tail: _*)
    val pairs = for (i <- qs.indices; j <- qs.indices if i < j) yield {
      val nx = qs(i)._1; val ny = qs(j)._1
      val num = (col("n").cast(dec) * col(s"sp_${nx}_$ny") -
        col(s"s_$nx") * col(s"s_$ny")).cast("double")
      val vx = (col("n").cast(dec) * col(s"ss_$nx") - col(s"s_$nx") * col(s"s_$nx")).cast("double")
      val vy = (col("n").cast(dec) * col(s"ss_$ny") - col(s"s_$ny") * col(s"s_$ny")).cast("double")
      // A zero-variance (constant) measure has no defined correlation;
      // report 0.0 rather than let ANSI throw on 0/0.
      struct(lit(nx).as("m_x"), lit(ny).as("m_y"),
        when(vx === 0.0 || vy === 0.0, 0.0)
          .otherwise(round(num / (sqrt(vx) * sqrt(vy)), 6)).as("corr"))
    }
    m.select(explode(array(pairs: _*)).as("p"), col("n"))
      .select(col("p.m_x").as("m_x"), col("p.m_y").as("m_y"), col("n"),
        col("p.corr").as("corr"))
  }

  /** DuckDB oracle for [[corrMatrix]], generated from the SAME measure Seq
    * (HUGEINT plays DECIMAL(38,0); both are exact through these magnitudes).
    */
  def corrMatrixOracle: String = {
    val ms = corrMeasures
    val momentCols =
      ms.map { case (n, q) => s"sum(($q)::HUGEINT)::HUGEINT AS s_$n" } ++
      ms.map { case (n, q) => s"sum(($q)::HUGEINT * ($q)::HUGEINT)::HUGEINT AS ss_$n" } ++
      (for (i <- ms.indices; j <- ms.indices if i < j) yield
        s"sum((${ms(i)._2})::HUGEINT * (${ms(j)._2})::HUGEINT)::HUGEINT AS sp_${ms(i)._1}_${ms(j)._1}") :+
      "count(*)::BIGINT AS n"
    val pairSelects = for (i <- ms.indices; j <- ms.indices if i < j) yield {
      val nx = ms(i)._1; val ny = ms(j)._1
      s"""SELECT '$nx' AS m_x, '$ny' AS m_y, n,
             CASE WHEN (n::HUGEINT * ss_$nx - s_$nx * s_$nx) = 0
                    OR (n::HUGEINT * ss_$ny - s_$ny * s_$ny) = 0 THEN 0.0
             ELSE
             round((n::HUGEINT * sp_${nx}_$ny - s_$nx * s_$ny)::DOUBLE
                   / (sqrt((n::HUGEINT * ss_$nx - s_$nx * s_$nx)::DOUBLE)
                      * sqrt((n::HUGEINT * ss_$ny - s_$ny * s_$ny)::DOUBLE)), 6)
             END AS corr
          FROM m"""
    }
    s"WITH m AS (SELECT ${momentCols.mkString(", ")} FROM lineitem)\n" +
      pairSelects.mkString("\nUNION ALL\n")
  }

  /** Corpus drift between document sources: total-variation distance
    * between add-one-smoothed unigram distributions, for EVERY unordered
    * source pair — and every output is BIGINT-exact, because TV under
    * add-one smoothing clears to integers on the common denominator:
    * 2·TV·D₁·D₂ = Σ_w |(c₁+1)·D₂ − (c₂+1)·D₁| with Dᵢ = nᵢ + V (tokens +
    * global vocab). An ln-based KL would put a SUM of doubles in the
    * contract (the skill-documented cross-engine trap); TV measures the
    * same drift rationally.
    *
    * The vocab sum is SPARSE: words absent from both sources of a pair
    * contribute the constant |D₂ − D₁| each, so only actual postings are
    * joined and the absent-word mass is the closed-form correction
    * (V − V_pair)·|n₂ − n₁|. Plan: per-(source, word) counts (map-side
    * combined), each posting exploded to its S−1 pairs (S = #sources, a
    * config dimension, not data-proportional), re-grouped per (pair, word)
    * so present-one-side and present-both are handled uniformly; scalar
    * side-channels carry only V and the S-row token totals. At production
    * vocab sizes the word key would be a 64-bit hash; strings are kept
    * here because the oracle reads them.
    */
  def corpusDivergence(docs: DataFrame): DataFrame = {
    val counts = pipeline.InternalCaches.register(docs
      .select(col("source").as("s"), explode(pipeline.Dedup.tokens(col("text"))).as("w"))
      .groupBy(col("s"), col("w")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val totals = counts.groupBy(col("s")).agg(sum(col("c")).as("n_tok"),
      count(lit(1)).as("n_vocab"))
    val vocabV = counts.select(col("w")).distinct().count() // scalar side-channel: V
    val srcs = totals.select(col("s").as("t")) // S rows — broadcast dim
    val pairRows = counts.join(broadcast(srcs), col("s") =!= col("t"))
      .select(least(col("s"), col("t")).as("s1"), greatest(col("s"), col("t")).as("s2"),
        when(col("s") < col("t"), col("c")).otherwise(0L).as("c1"),
        when(col("s") > col("t"), col("c")).otherwise(0L).as("c2"), col("w"))
      .groupBy(col("s1"), col("s2"), col("w"))
      .agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2"))
    val t1 = totals.select(col("s").as("s1"), col("n_tok").as("n1"))
    val t2 = totals.select(col("s").as("s2"), col("n_tok").as("n2"))
    val tvNum = col("tv_present") +
      (lit(vocabV) - col("v_pair")) * abs(col("n2") - col("n1"))
    pairRows
      .join(broadcast(t1), Seq("s1")).join(broadcast(t2), Seq("s2"))
      .groupBy(col("s1"), col("s2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("v_pair"),
        sum(abs((col("c1") + 1L) * (col("n2") + lit(vocabV)) -
                (col("c2") + 1L) * (col("n1") + lit(vocabV)))).as("tv_present"))
      .select(col("s1"), col("s2"), col("v_pair"), col("n1"), col("n2"),
        tvNum.as("tv_num"),
        round(tvNum.cast("double") /
          (lit(2.0) * (col("n1") + lit(vocabV)).cast("double")
                    * (col("n2") + lit(vocabV)).cast("double")), 6).as("tv"))
  }

  /** Contract instance over the documents table. */
  def corpusDivergenceQuery(s: SparkSession, d: String): DataFrame =
    corpusDivergence(documents(s, d))

  /** Point-in-time (temporal) join: each event joined to the SCD2
    * dimension version valid AT its timestamp — the versioned-dimension
    * lookup every warehouse needs next to [[scd2Build]] (which makes the
    * dimension) and `asof_join` (nearest-past EVENT; this is containment
    * in a VALIDITY INTERVAL). Join = equi on the entity key + interval
    * predicate; each event lands in exactly one version (intervals
    * partition the timeline per user; an event at a version boundary
    * belongs to the NEW version — the [from, to) convention, shared with
    * the oracle down to the zero-length-interval edge when a type change
    * lands on a duplicated timestamp).
    *
    * Scale — the union + carry-forward shape, NOT an equi-join with an
    * interval residual: the r9 hot-key stress (one user owning 10% of all
    * events, NOTES_r9.md §2) measured the join form at 24.6× — a hot
    * user's |events|·|versions| same-key pairs all materialize before the
    * containment filter (the residual bound "versions-per-user" IS the
    * blowup when one user has 10⁵ of each). Instead: version-start rows
    * and event rows union into ONE per-user ordered stream and a
    * running `last(…, ignoreNulls)` carries the in-force version onto
    * each event — one shuffle, one sort, ZERO pairs. Correct because
    * SCD2 intervals partition the per-user timeline: the last version
    * starting at or before ts is exactly the one containing ts. Ordering
    * (ts, kind dim-first, version) keeps the [from, to) convention
    * bit-for-bit: an event AT a boundary sees the new version, and a
    * zero-length version (type change on a duplicated timestamp) is
    * immediately superseded by its same-ts successor — matching the
    * oracle's empty [t, t) containment. Skew-measured: 24.6× → flat
    * (a hot user is one partition's sort, not a quadratic pair set).
    */
  def temporalJoin(s: SparkSession, d: String): DataFrame =
    temporalJoinOf(events(s, d))

  /** The union + carry-forward point-in-time join over any events-shaped
    * frame (see [[temporalJoin]]; split out so specs can pin the
    * duplicated-timestamp / zero-length-interval edge with crafted rows).
    */
  def temporalJoinOf(ev: DataFrame): DataFrame = {
    val dim = scd2BuildOf(ev).select(col("user_id"),
      col("valid_from").as("ts"), lit(0).as("kind"), col("version").as("ord2"),
      col("version"), col("event_type").as("dim_type"),
      lit(null).cast("long").as("event_id"))
    val evTagged = ev.select(col("user_id"), col("ts"),
      lit(1).as("kind"), col("event_id").as("ord2"),
      lit(null).cast("long").as("version"), lit(null).cast("string").as("dim_type"),
      col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("ord2"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(evTagged)
      .select(col("user_id"), col("kind"), col("event_id"),
        last(col("version"), ignoreNulls = true).over(w).as("version"),
        last(col("dim_type"), ignoreNulls = true).over(w).as("dim_type"))
      .filter(col("kind") === 1 && col("version").isNotNull)
      .select(col("user_id"), col("event_id"), col("version"), col("dim_type"))
  }

  /** Recursive hierarchy rollup WITHOUT recursion: subtree aggregates
    * over the synthetic supplier tree parent(k) = k div 5 (keys < 5 are
    * roots). The ancestor closure is a bounded EXPRESSION — each node
    * explodes its own div-5 chain (12 levels cover 5¹² ≈ 244M keys; zeros
    * filtered), so what a recursive CTE computes row-by-row becomes one
    * explode + one re-aggregation, fully codegen'd, no driver loop and no
    * iteration at all. The DuckDB oracle IS the recursive CTE — proving
    * the unrolled closure equal to the fixpoint. Outputs per node: its
    * depth, subtree size, and subtree shipped-quantity rollup.
    *
    * Scale: closure fan-out = tree height (log₅ of the key space — 12 at
    * 244M nodes), linear in nodes; the rollup is one map-side-combined
    * aggregate on the ancestor key. The measure join stays on the
    * supplier grain (fact pre-aggregated to |suppliers| first).
    */
  def hierarchyRollup(s: SparkSession, d: String): DataFrame = {
    val qty = lineitem(s, d).groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("q"))
    val m = supplier(s, d).select(col("s_suppkey").as("node"))
      .join(qty, col("node") === col("l_suppkey"), "left")
      .select(col("node"), coalesce(col("q"), lit(0L)).as("qty"))
    // chain values strictly decrease to 0 then repeat; distinct+filter
    // keeps the positive prefix — and node 0 (the fixture's key space
    // starts at 0) keeps its own singleton chain, matching the recursive
    // oracle's anchor row
    val chain = (0 to 11).map(i => expr(s"node div ${math.pow(5, i).toLong}L"))
    val anc = m.select(col("node"), col("qty"),
        explode(filter(array_distinct(array(chain: _*)),
          a => a > 0L || col("node") === 0L)).as("anc"))
    val depth = anc.groupBy(col("node")).agg(count(lit(1)).as("depth"))
      .withColumnRenamed("node", "d_node")
    anc.groupBy(col("anc"))
      .agg(count(lit(1)).as("subtree_n"), sum(col("qty")).as("subtree_qty"))
      .join(depth, col("anc") === col("d_node"))
      .select(col("anc").as("node"), col("depth"), col("subtree_n"), col("subtree_qty"))
  }

  /** Poisson(1) inverse-CDF thresholds (cumulative pmf, 6-dp literals —
    * the SAME constants appear in the generated oracle, so the replica
    * weights are identical by construction). k caps at 7 (P ≈ 8·10⁻⁵).
    */
  val poissonCum: Seq[Double] =
    Seq(0.367879, 0.735759, 0.919699, 0.981012, 0.996340, 0.999406, 0.999917)

  private val bootstrapB = 50

  /** Bootstrap confidence interval for the mean event value, per type —
    * via the POISSON BOOTSTRAP, the resampling scheme that actually scales:
    * classical bootstrap resamples n rows WITH replacement (requires
    * global coordination per replica); Poisson bootstrap gives each row an
    * independent Poisson(1) replica weight, which is embarrassingly
    * parallel, one pass for ALL B replicas, and converges to the same CI
    * (Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
    * Google 2012). Weights are DETERMINISTIC here: the portable row hash
    * mapped through the Poisson inverse CDF — so the DuckDB oracle replays
    * the exact replicas, and every aggregate is BIGINT-exact (weighted
    * cents sums); only the final per-replica mean divides.
    *
    * Plan: events × B(=50) weighted rows (the only fan-out, bounded by the
    * replica count, not data), map-side-combined to |types|·B cells, order
    * statistics over B rows per type via a partitioned window. At 100 TB
    * the fan-out stays B× one scan and the cell frame is tiny — this is
    * exactly how production systems bootstrap petabyte metrics.
    */
  def bootstrapCi(ev: DataFrame): DataFrame = {
    val b = explode(sequence(lit(0), lit(bootstrapB - 1))).as("b")
    val u = pmod(graft.functions.PortableHash.hash60(
      concat(lit("boot_"), col("event_id"), lit("_"), col("b"))), lit(1L << 60))
      .cast("double") / lit((1L << 60).toDouble)
    val k = poissonCum.zipWithIndex.foldRight(lit(poissonCum.size.toLong)) {
      case ((thr, i), rest) => when(u < thr, i.toLong).otherwise(rest)
    }
    val cells = ev.select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"), b)
      .withColumn("k", k)
      .groupBy(col("event_type"), col("b"))
      .agg(sum(col("k") * col("cents")).as("wsum"), sum(col("k")).as("wn"))
      .withColumn("mean", when(col("wn") > 0, col("wsum").cast("double") / col("wn"))
        .otherwise(0.0))
    val w = Window.partitionBy(col("event_type")).orderBy(col("mean"), col("b"))
    val ranked = cells.withColumn("r", row_number().over(w))
    val lo = (0.025 * bootstrapB).ceil.toInt.max(1)       // 2nd of 50
    val hi = (0.975 * bootstrapB).ceil.toInt.min(bootstrapB) // 49th of 50
    ranked.filter(col("r") === lo || col("r") === hi)
      .groupBy(col("event_type"))
      .agg(max(when(col("r") === lo, col("mean"))).as("ci_lo"),
           max(when(col("r") === hi, col("mean"))).as("ci_hi"),
           count(lit(1)).as("n_picked"))
  }

  /** Contract instance over the events table. The B×-row md5 fan-out is
    * CPU-bound (one portable hash per (event, replica)); a single-file scan
    * would compute all of it in one task (the sf0.1 events table is one
    * row group — measured 5.1 s in one task of a 5.4 s query), so the scan
    * is spread first. No-op at scale (many-file sources pass through).
    */
  def bootstrapCiQuery(s: SparkSession, d: String): DataFrame =
    bootstrapCi(pipeline.Dedup.rebalance(events(s, d)))

  /** DuckDB oracle for [[bootstrapCi]], generated with the SAME Poisson
    * thresholds and hash construction.
    */
  def bootstrapCiOracle: String = {
    val kCase = poissonCum.zipWithIndex.reverse
      .foldLeft(s"${poissonCum.size}::BIGINT") { case (rest, (thr, i)) =>
        s"CASE WHEN u < $thr THEN ${i}::BIGINT ELSE $rest END"
      }
    val lo = (0.025 * bootstrapB).ceil.toInt.max(1)
    val hi = (0.975 * bootstrapB).ceil.toInt.min(bootstrapB)
    val h = graft.functions.PortableHash.duckdbHash60("'boot_' || event_id::VARCHAR || '_' || b::VARCHAR")
    s"""WITH fan AS (
          SELECT event_type, round(value * 100)::BIGINT AS cents,
                 ($h % ${1L << 60})::DOUBLE / ${(1L << 60).toDouble} AS u,
                 b
          FROM events, (SELECT unnest(range(0, $bootstrapB)) AS b)),
        cells AS (
          SELECT event_type, b,
                 sum(($kCase) * cents)::BIGINT AS wsum, sum($kCase)::BIGINT AS wn
          FROM fan GROUP BY 1, 2),
        ranked AS (
          SELECT event_type, b,
                 CASE WHEN wn > 0 THEN wsum::DOUBLE / wn ELSE 0.0 END AS mean,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY CASE WHEN wn > 0 THEN wsum::DOUBLE / wn ELSE 0.0 END, b) AS r
          FROM cells)
        SELECT event_type,
               max(CASE WHEN r = $lo THEN mean END) AS ci_lo,
               max(CASE WHEN r = $hi THEN mean END) AS ci_hi,
               count(*)::BIGINT AS n_picked
        FROM ranked WHERE r = $lo OR r = $hi GROUP BY 1"""
  }

  /** Two-sample Kolmogorov–Smirnov statistic per event type, between the
    * A/B arms — EXACT: D = max_v |F_A(v) − F_B(v)| is compared on the
    * common denominator n_A·n_B, so the contract carries the integer
    * numerator max_v |cumA(v)·n_B − cumB(v)·n_A| and the arm sizes; the
    * fp quotient is one client-side division. Same tie-group window shape
    * as [[mannWhitney]]: collapse to per-(type, value) counts first, one
    * partitioned cumulative window over distinct values, one max.
    *
    * Scale: window input is distinct (type, cents) pairs, not events;
    * everything after the first map-side-combined aggregate is
    * aggregate-sized. Numerator ≤ n_A·n_B — BIGINT through ~3·10⁹ rows
    * per side, DECIMAL beyond.
    */
  def ksTest(ev: DataFrame): DataFrame = {
    val cells = ev.select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        when(abArm === "A", 1L).otherwise(0L).as("ca"),
        when(abArm === "A", 0L).otherwise(1L).as("cb"))
      .groupBy(col("event_type"), col("cents"))
      .agg(sum(col("ca")).as("na_v"), sum(col("cb")).as("nb_v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wt = Window.partitionBy(col("event_type"))
    cells
      .withColumn("cum_a", sum(col("na_v")).over(w))
      .withColumn("cum_b", sum(col("nb_v")).over(w))
      .withColumn("n_a", sum(col("na_v")).over(wt))
      .withColumn("n_b", sum(col("nb_v")).over(wt))
      .groupBy(col("event_type"), col("n_a"), col("n_b"))
      .agg(max(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a"))).as("d_num"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("d_num"),
        // empty arm → D undefined; report 0 (the numerator is 0 too).
        // ANSI mode throws on /0 even for doubles, so the guard is load-bearing
        when(col("n_a") === 0L || col("n_b") === 0L, lit(0.0))
          .otherwise(round(col("d_num").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 6)).as("d"))
  }

  /** Contract instance over the events table. */
  def ksTestQuery(s: SparkSession, d: String): DataFrame =
    ksTest(events(s, d))

  /** Weighted median: per return flag, the quantity-weighted median of the
    * cents unit price — the smallest value whose cumulative weight reaches
    * half the total (2·cum ≥ tot on integers: no fp, no interpolation).
    * Same two-step shape as the KS/rank family: collapse to per-(group,
    * value) weight cells, one cumulative window over distinct values, one
    * argmin. Scale: window input is distinct (flag, cents) pairs.
    */
  def weightedMedian(s: SparkSession, d: String): DataFrame = {
    val cells = lineitem(s, d)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        round(col("l_quantity")).cast("long").as("wt"))
      .groupBy(col("l_returnflag"), col("cents"))
      .agg(sum(col("wt")).as("w"))
    val wc = Window.partitionBy(col("l_returnflag")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wt = Window.partitionBy(col("l_returnflag"))
    cells
      .withColumn("cum", sum(col("w")).over(wc))
      .withColumn("tot", sum(col("w")).over(wt))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("l_returnflag"), col("tot"))
      .agg(min(col("cents")).as("wmedian_cents"))
      .select(col("l_returnflag"), col("tot").as("total_weight"), col("wmedian_cents"))
  }

  /** Audience overlap via BITMAP aggregation — the roaring-bitmap-index
    * mechanism as a Spark plan: the distinct (event_type, user) audience
    * folds into per-(type, 64-user bucket) long masks (`bit_or` of
    * single-bit values — ⊕-mergeable, map-side combined), and every
    * pairwise intersection size is Σ popcount(maskA & maskB) over the
    * bucket equi-join. EXACT distinct-user intersection counts with
    * |types|² · |users|/64 work instead of a |users|-row self-join per
    * pair — the audience/segment-overlap query every ads/analytics stack
    * runs, in its production data layout.
    *
    * Scale: the masks frame is |types| · |users|/64 rows (64× smaller
    * than the audience, thousands of times smaller than events); the
    * pair join is bucket-aligned, carrying (type, bucket, long) only.
    * Adding a segment = one bit_or — no rescan of the others.
    */
  def audienceOverlap(ev: DataFrame): DataFrame = {
    val masks = ev.select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"), expr("user_id div 64").as("bucket"),
        expr("shiftleft(1L, cast(pmod(user_id, 64) as int))").as("bit"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(expr("bit_or(bit)").as("mask"))
    val a = masks.select(col("event_type").as("type_a"), col("bucket"), col("mask").as("ma"))
    val b = masks.select(col("event_type").as("type_b"), col("bucket"), col("mask").as("mb"))
    a.join(b, Seq("bucket")).filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum(bit_count(col("ma").bitwiseAND(col("mb")))).as("n_both"))
      // Pairs sharing a bucket but no users popcount to 0; the definitional
      // inner join emits no row for them — drop to match on sparse data.
      .filter(col("n_both") > 0L)
  }

  /** Contract instance over the events table. */
  def audienceOverlapQuery(s: SparkSession, d: String): DataFrame =
    audienceOverlap(events(s, d))

  /** Gaps-and-islands as ACTIVITY STREAKS: per user, every maximal run of
    * consecutive active days (island) with its bounds and length — the
    * classic engagement metric, and the canonical gaps-and-islands
    * pattern: island id = day − dense-position (constant within a
    * consecutive run). The position window partitions by user, so the
    * pattern distributes for free — no global sequence sort exists
    * anywhere in the plan.
    *
    * Scale: distinct to (user, day) grain first (map-side combined), then
    * a per-user window over active DAYS (≤ calendar span), then a
    * map-side-combined re-aggregate. One shuffle on user.
    */
  def userStreaks(s: SparkSession, d: String): DataFrame = {
    val days = events(s, d)
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days.withColumn("island", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("day")).as("streak_start"), max(col("day")).as("streak_end"),
        count(lit(1)).as("streak_len"))
      .select(col("user_id"), col("streak_start"), col("streak_end"), col("streak_len"))
  }

  /** Strict-order conversion funnel view → click → purchase: per user,
    * t₁ = first view, t₂ = first click AFTER t₁, t₃ = first purchase AFTER
    * t₂ (the standard product-analytics funnel — later steps must follow
    * the user's own earlier step, not merely exist). Output: one row per
    * step with the distinct-user count still in the funnel.
    *
    * Scale: three per-user aggregates chained by equi-joins on user_id —
    * each frame is ≤ |users| rows after its min-aggregate, every aggregate
    * map-side combines, and nothing ever windows over the raw event
    * stream. This segmented-aggregation shape (not a per-user sort) is
    * what makes funnels tractable at 100 TB.
    */
  def funnelSteps(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tus"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tus")).as("t1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("tus") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("tus")).as("t2"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("tus") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("tus")).as("t3"))
    v.agg(count(lit(1)).as("n_users")).select(lit(1L).as("step"), lit("view").as("event_type"), col("n_users"))
      .unionByName(c.agg(count(lit(1)).as("n_users"))
        .select(lit(2L).as("step"), lit("click").as("event_type"), col("n_users")))
      .unionByName(p.agg(count(lit(1)).as("n_users"))
        .select(lit(3L).as("step"), lit("purchase").as("event_type"), col("n_users")))
  }

  /** Weekly retention-cohort matrix: users cohorted by their FIRST active
    * week (relative to the corpus min day), counted distinct in every
    * later week-offset they return — the triangle every growth team reads.
    * All integer day/week arithmetic; the corpus min day is a 1-row
    * broadcast combine, never a driver round trip.
    *
    * Scale: (user, day) distinct grain first (map-side combined), one
    * groupBy(user) for the cohort anchor, an equi-join back on user_id,
    * and a count-distinct per (cohort, offset) cell — |users|·|weeks|
    * upper-bounds every frame after the first distinct. No windows.
    */
  def retentionCohorts(s: SparkSession, d: String): DataFrame = {
    val days = events(s, d)
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct()
    val base = days.agg(min(col("day")).as("d_base"))
    val first = days.groupBy(col("user_id")).agg(min(col("day")).as("d0"))
    days.join(first, Seq("user_id")).crossJoin(broadcast(base))
      .select(col("user_id"),
        expr("(d0 - d_base) div 7").as("cohort_week"),
        expr("(day - d0) div 7").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** SECOND-order Markov conditioning between event types — what
    * [[transitionsQuery]] (first-order pairs) deliberately is not: per
    * user in (ts µs, event_id) order, every (from2, from1 → to) TRIPLE is
    * counted, then each two-step context reports its predictive
    * concentration as exact integers: total continuations `n_ctx`,
    * distinct next types `n_next_distinct`, and the modal next type
    * `top_to` with its count `top_n` (argmax ties resolve to the smallest
    * type — pinned on both engines). top_n/n_ctx vs the first-order row
    * answers "does knowing one more step of history sharpen prediction" —
    * the order-selection diagnostic run before fitting any sequence model.
    *
    * Scale: one per-user window (two lags share it), then a |types|³-row
    * aggregate (map-side combined) and a |types|²-row context rollup with
    * a struct-min argmax — no second window, no join back to event grain.
    */
  def markovTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    val triples = events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("from1", lag(col("event_type"), 1).over(w))
      .withColumn("from2", lag(col("event_type"), 2).over(w))
      .filter(col("from2").isNotNull)
      .groupBy(col("from2"), col("from1"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    // argmax with deterministic ties: min over (−n, to_type) is (largest n,
    // then smallest type) — integer-exact, engine-portable
    triples.groupBy(col("from2"), col("from1"))
      .agg(sum(col("n")).as("n_ctx"),
        count(lit(1)).as("n_next_distinct"),
        min(struct((-col("n")).as("nn"), col("to_type").as("tt"))).as("mx"))
      .select(col("from2"), col("from1"), col("n_ctx"), col("n_next_distinct"),
        col("mx.tt").as("top_to"), (-col("mx.nn")).as("top_n"))
  }

  /** Wald–Wolfowitz runs test ingredients, per event type: the value
    * stream in (ts, event_id) order is signed against the type's median
    * cents (ties at the median sit out — the standard treatment), and the
    * contract reports the run count and the above/below sizes, all BIGINT
    * (the z-score is one client-side formula). A run boundary is a sign
    * change between consecutive kept events.
    *
    * Scale: the median comes from the [[weightedMedian]] cumulative-cell
    * shape (distinct-value window, unweighted); the run count is a lag
    * comparison per partition — one shuffle on the type key, aggregates
    * throughout.
    */
  def runsTest(ev: DataFrame): DataFrame = {
    val base = ev.select(col("event_type"), col("ts"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val cells = base.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("w"))
    val wc = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wt = Window.partitionBy(col("event_type"))
    val med = cells
      .withColumn("cum", sum(col("w")).over(wc))
      .withColumn("tot", sum(col("w")).over(wt))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("event_type")).agg(min(col("cents")).as("med"))
    val signed = base.join(med, Seq("event_type"))
      .filter(col("cents") =!= col("med"))
      .select(col("event_type"), col("ts"), col("event_id"),
        when(col("cents") > col("med"), 1L).otherwise(-1L).as("sgn"))
    val wo = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    signed
      .withColumn("chg", when(lag(col("sgn"), 1).over(wo).isNull ||
        lag(col("sgn"), 1).over(wo) =!= col("sgn"), 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(sum(col("chg")).as("n_runs"),
        sum(when(col("sgn") === 1L, 1L).otherwise(0L)).as("n_above"),
        sum(when(col("sgn") === -1L, 1L).otherwise(0L)).as("n_below"))
  }

  /** Contract instance over the events table. */
  def runsTestQuery(s: SparkSession, d: String): DataFrame =
    runsTest(events(s, d))

  /** Kaplan–Meier survival-curve ingredients over user activity spans:
    * lifetime t = last active day − first active day; a user still active
    * within `censorDays` of the corpus end is right-CENSORED (their true
    * lifetime is only known to be ≥ t). Per distinct lifetime the contract
    * reports the risk set (users with lifetime ≥ t — the suffix sum),
    * observed churn events, and censored exits — the exact integer table
    * the KM product-limit estimator is computed from; the fp survival
    * product is a client-side fold over ~|distinct lifetimes| rows.
    *
    * Scale: one map-side-combined per-user aggregate (the corpus is
    * scanned once), one 1-row max broadcast, then everything is
    * |distinct lifetimes|-sized; the suffix-sum window runs over those
    * cells under the constant-key convention (deliberate single SMALL
    * partition, see [[graft.pipeline.TrainingData.exclusivePrefixSum]]).
    */
  def survivalCurve(ev: DataFrame, censorDays: Long = 7L): DataFrame = {
    val day = floor(unix_timestamp(col("ts")) / 86400).cast("long")
    val spans = ev.select(col("user_id"), day.as("d"))
      .groupBy(col("user_id"))
      .agg(min(col("d")).as("first_d"), max(col("d")).as("last_d"))
    val mx = spans.agg(max(col("last_d")).as("max_d"))
    val cells = spans.crossJoin(broadcast(mx))
      .select((col("last_d") - col("first_d")).as("t"),
        when(col("max_d") - col("last_d") < censorDays, 1L).otherwise(0L).as("cen"))
      .groupBy(col("t"))
      .agg(sum(lit(1L) - col("cen")).as("n_event"), sum(col("cen")).as("n_censored"))
    val wSuffix = Window.partitionBy(pmod(col("t"), lit(1L))).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    cells
      .withColumn("n_risk", sum(col("n_event") + col("n_censored")).over(wSuffix))
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"))
  }

  /** Contract instance over the events table. */
  def survivalCurveQuery(s: SparkSession, d: String): DataFrame =
    survivalCurve(events(s, d))

  /** l-diversity audit — the companion to [[kAnonymity]]: k-anonymity
    * bounds re-identification, l-diversity bounds ATTRIBUTE disclosure (a
    * k-anonymous class whose members all share one sensitive value still
    * leaks it). Quasi-identifiers (nation, market segment) group the
    * corpus; the sensitive attribute is the coarse balance bucket; each
    * equivalence class reports its size, its count of DISTINCT sensitive
    * values, and whether that count reaches l.
    *
    * Scale: one map-side-combined aggregate to |nations|·|segments| rows
    * (count-distinct expands to the two-level aggregate Spark plans
    * natively — partials combine map-side on (QI, sensitive)).
    */
  def lDiversity(s: SparkSession, d: String, l: Long = 3L): DataFrame =
    customer(s, d)
      .groupBy(col("c_nationkey").cast("long").as("nat"), col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n"),
        countDistinct(floor(col("c_acctbal") / 1000).cast("long")).as("n_sensitive"))
      .select(col("nat"), col("seg"), col("n"), col("n_sensitive"),
        (col("n_sensitive") >= l).as("l_diverse"))

  /** RFM segmentation over orders: per customer, Recency (days from last
    * order to the corpus max), Frequency (order count), Monetary (total
    * cents); each metric scored 1–4 against its own EXACT weighted
    * quartile thresholds (smallest value with 4·cum ≥ p·tot over distinct
    * metric values — the [[weightedMedian]] cell shape, no interpolation,
    * no tie ambiguity), score = 1 + #(thresholds ≤ value). The contract
    * reports segment cell sizes — the marketing cube.
    *
    * Scale: orders collapse map-side to one row per customer; each
    * threshold frame is a 1-row aggregate over distinct metric values
    * (constant-key window cells) broadcast back — three 1×N combines, no
    * data-proportional joins anywhere.
    */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val day = floor(unix_timestamp(col("o_orderdate")) / 86400).cast("long")
    val perCust = orders(s, d)
      .select(col("o_custkey"), day.as("d"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("o_custkey"))
      .agg(max(col("d")).as("last_d"), count(lit(1)).as("freq"),
        sum(col("cents")).as("mon"))
    val mx = perCust.agg(max(col("last_d")).as("max_d"))
    val rfm = perCust.crossJoin(broadcast(mx))
      .select(col("o_custkey"), (col("max_d") - col("last_d")).as("rec"),
        col("freq"), col("mon"))
    def thresholds(c: String): DataFrame = {
      val cells = rfm.groupBy(col(c)).agg(count(lit(1)).as("w"))
      val wc = Window.partitionBy(pmod(col(c), lit(1L))).orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wt = Window.partitionBy(pmod(col(c), lit(1L)))
      cells
        .withColumn("cum", sum(col("w")).over(wc))
        .withColumn("tot", sum(col("w")).over(wt))
        .agg(min(when(col("cum") * 4 >= col("tot"), col(c))).as(s"${c}_q1"),
          min(when(col("cum") * 2 >= col("tot"), col(c))).as(s"${c}_q2"),
          min(when(col("cum") * 4 >= col("tot") * 3, col(c))).as(s"${c}_q3"))
    }
    def score(c: String): org.apache.spark.sql.Column =
      lit(1L) + (col(c) >= col(s"${c}_q1")).cast("long") +
        (col(c) >= col(s"${c}_q2")).cast("long") +
        (col(c) >= col(s"${c}_q3")).cast("long")
    rfm.crossJoin(broadcast(thresholds("rec")))
      .crossJoin(broadcast(thresholds("freq")))
      .crossJoin(broadcast(thresholds("mon")))
      .select(score("rec").as("r_score"), score("freq").as("f_score"),
        score("mon").as("m_score"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"))
  }

  /** The ranking-window family over orders-per-customer: rank / dense_rank
    * / percent_rank / cume_dist on the tie-PRONE priority key (tie-stable
    * by definition: equal keys get equal values), and ntile(4) on its own
    * fully-tiebroken window (ntile is positional, NOT tie-stable — giving
    * it the untiebroken sort would be nondeterministic; the distinct
    * window is the correctness point, not a style choice). percent_rank's
    * n=1 edge (0/0) is guarded to 0.0 on both engines. Scale: one shuffle
    * on the partition key; both windows sort within the same partitioning
    * (one exchange, two local sorts).
    */
  def windowRankFamily(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderpriority"))
    val wt = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
    val n = count(lit(1)).over(Window.partitionBy(col("o_custkey")))
    orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
      rank().over(w).cast("long").as("rnk"),
      dense_rank().over(w).cast("long").as("drnk"),
      // pr/cd are exact small-integer quotients — identical IEEE doubles on
      // both engines UNROUNDED; rounding would ADD decimal-tie risk (1/128
      // lands exactly on a 7th-decimal 5, where the engines' round() split)
      when(n > 1, percent_rank().over(w)).otherwise(0.0).as("pr"),
      cume_dist().over(w).as("cd"),
      ntile(4).over(wt).cast("long").as("nt"))
  }
}
