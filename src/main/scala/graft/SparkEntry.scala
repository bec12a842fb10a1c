package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity.duckdbCos
import graft.functions.PortableHash.duckdbHash60
import java.util.concurrent.TimeUnit

/** Driver contract — see SURVEY.md §7.
  *
  * Every entry in `contracts` is one operator/capability from SURVEY.md §2
  * (or the training-data-pipeline extension set): its Spark plan and, in
  * the same entry, the DuckDB equivalent for the hash-compare gate.
  * Double-valued outputs are rounded identically on both sides so the
  * comparison is robust to floating-point summation order; integer outputs
  * are BIGINT on both sides.
  */
object SparkEntry {

  /** Flagship query on sf=0.001: the reference's benchmark workload — the
    * covariance-matrix pipeline (`sensor/SensorCalc.kt:134-144`) on events.
    * The driver hands us an externally built session, so the events-read
    * conf is applied here, at the entry boundary (see `Tables.eventsConf`).
    */
  def entry(spark: SparkSession): DataFrame = {
    spark.conf.set(Tables.eventsConf._1, Tables.eventsConf._2)
    LaraQueries.covariance(spark, "/root/testdata/sf0.001")
  }

  /** The hash-derived Graph500-style fixture every graph query runs on:
    * lineitem keys portable-hashed into a `modulus`-node space (20011 for
    * the contract queries), directed (src, dst) edges that both engines
    * derive identically. The RAW scan is rebalanced before the md5
    * derivation: lineitem is one parquet file and the projection runs below
    * the first exchange, so unspread a single task would hash every row.
    * The scaling tools pass a modulus that grows with the data.
    */
  private[graft] def hashGraph(s: SparkSession, d: String, modulus: Long = 20011L): DataFrame =
    pipeline.Dedup.rebalance(
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")))
      .select(
        pmod(graft.functions.PortableHash.hash60(concat(lit("tv_"), col("l_orderkey"))),
          lit(modulus)).as("src"),
        pmod(graft.functions.PortableHash.hash60(concat(lit("tw_"), col("l_partkey"))),
          lit(modulus)).as("dst"))

  /** DuckDB twin of [[hashGraph]]: the directed edges as `(s, t)`. */
  private val HashEdgesSql =
    s"""SELECT ${duckdbHash60("'tv_' || l_orderkey::VARCHAR")} % 20011 AS s,
              ${duckdbHash60("'tw_' || l_partkey::VARCHAR")} % 20011 AS t
       FROM lineitem"""

  /** The canonical undirected edges `(a, b)`, a < b, of [[HashEdgesSql]]. */
  private val HashUndSql =
    s"""SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b FROM ($HashEdgesSql)
        WHERE s <> t"""

  /** The query terms bm25_score and hybrid_search score, shared by their
    * plans and generated oracles.
    */
  private val SearchTerms = Seq("spark", "join", "vector")

  /** The funnel_stages and funnel_timing stages, shared by their plans and
    * generated oracles.
    */
  private val FunnelStages = Seq("view", "click", "purchase")

  /** The retrieval_eval query batch — shared between the Spark plan and
    * the generated DuckDB oracle so the two can never drift.
    */
  val evalQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "join", "vector"),
    2L -> Seq("merge", "batch"),
    3L -> Seq("customer", "query", "window", "sort"))

  /** Generated DuckDB oracle for retrieval_eval: the bm25_score CTE chain
    * ([[pipeline.Ranking.bm25TermCtes]]) instantiated per query in
    * [[evalQueries]], then the engine's exact count-above-best-relevant
    * rank arithmetic (LEFT JOIN ON TRUE keeps the one aggregate row when
    * no doc is relevant, like Spark's agg over an empty frame).
    */
  private def retrievalEvalOracle: String = {
    val per = evalQueries.map { case (qid, terms) =>
      val nt = terms.size
      s"""${pipeline.Ranking.bm25TermCtes(terms, qid.toString)},
         b$qid AS (
           ${pipeline.Ranking.bm25OracleAgg(qid.toString)}),
         best$qid AS (
           SELECT bm25 AS bb, doc_id AS bid FROM b$qid WHERE n_matched = $nt
           ORDER BY bm25 DESC, doc_id LIMIT 1),
         e$qid AS (
           SELECT $qid::BIGINT AS query_id, count(*)::BIGINT AS n_scored,
             coalesce(sum(CASE WHEN b.n_matched = $nt THEN 1 ELSE 0 END), 0)::BIGINT AS n_rel,
             coalesce(sum(CASE WHEN b.bm25 > x.bb
                              OR (b.bm25 = x.bb AND b.doc_id < x.bid)
                              THEN 1 ELSE 0 END), 0)::BIGINT AS n_above
           FROM b$qid b LEFT JOIN best$qid x ON TRUE)"""
    }.mkString(",\n         ")
    val union = evalQueries.map { case (qid, _) => s"SELECT * FROM e$qid" }
      .mkString(" UNION ALL ")
    s"""WITH ${pipeline.Ranking.bm25CorpusCtes},
         $per
         SELECT query_id, n_scored, n_rel,
                CASE WHEN n_rel = 0 THEN 0 ELSE n_above + 1 END::BIGINT AS first_rel_rank,
                CASE WHEN n_rel = 0 THEN 0 ELSE 1000000 // (n_above + 1) END::BIGINT AS rr_e6
         FROM ($union)"""
  }

  // --- oracles shared by a batch contract and its streaming replays: a
  // replay must land on exactly its batch twin's answer, so both entries
  // hold the same value (ContractsSpec pins the pairing) ---

  /** ohlc_downsample and streaming_ohlc_replay. */
  private val OhlcSql =
    """WITH b AS (
         SELECT event_type, (floor(epoch(ts) / 3600))::BIGINT AS h,
                ts, event_id, value
         FROM events),
       r AS (
         SELECT event_type, h, value,
                row_number() OVER (PARTITION BY event_type, h
                                   ORDER BY ts, event_id) AS ra,
                row_number() OVER (PARTITION BY event_type, h
                                   ORDER BY ts DESC, event_id DESC) AS rd
         FROM b)
       SELECT event_type, h,
              max(CASE WHEN ra = 1 THEN value END) AS o,
              max(CASE WHEN rd = 1 THEN value END) AS c,
              min(value) AS lo, max(value) AS hi, count(*)::BIGINT AS n
       FROM r GROUP BY 1, 2"""

  /** events_bin and streaming_bin_replay. */
  private val EventsBinSql =
    """SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS bin, event_type,
              sum(round(value * 100)::BIGINT) / 100.0 AS sum_value, count(*)::BIGINT AS n
       FROM events GROUP BY 1, 2"""

  /** click_purchase_join and streaming_join_replay. */
  private val ClickPurchaseSql =
    """SELECT b.event_id AS purchase_id, c.event_id AS click_id,
              (epoch_us(b.ts) - epoch_us(c.ts))::BIGINT AS gap_us
       FROM events b JOIN events c
         ON c.user_id = b.user_id
        AND c.ts >= b.ts - INTERVAL 1 HOUR AND c.ts <= b.ts
       WHERE b.event_type = 'purchase' AND c.event_type = 'click'"""

  /** session_window_agg and both streaming_sessions_replay providers: the
    * 30-minute gap in µs, window end = last event + gap.
    */
  private val SessionWindowSql =
    s"""WITH ${RelationalQueries.sessionizeOracleCtes(1800000L, TimeUnit.MICROSECONDS, "sid")}
       SELECT user_id, min(tus) AS session_start_us,
              max(tus) + 1800000000 AS session_end_us,
              count(*)::BIGINT AS n_events,
              sum(round(value * 100)::BIGINT) / 100.0 AS total_value
       FROM t GROUP BY user_id, sid"""

  /** Both streaming_dedup_replay providers: distinct users per (UTC day, type). */
  private val DailyUsersSql =
    """SELECT (floor(epoch(ts) / 86400) * 86400)::BIGINT AS day, event_type,
              count(DISTINCT user_id)::BIGINT AS n_users
       FROM events GROUP BY 1, 2"""

  /** One contract query: its Spark plan over (session, sf dir) and the
    * DuckDB SQL that must return the same rows over the same parquet.
    */
  final case class Contract(name: String, plan: (SparkSession, String) => DataFrame, oracle: String)

  /** Name → plan and name → oracle views of [[contracts]]. Their key order
    * is the order Bench and Verify run in.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    contracts.map(c => c.name -> c.plan).toMap
  lazy val oracleSql: Map[String, String] = contracts.map(c => c.name -> c.oracle).toMap

  /** The contracts named in `names` (every contract when `names` is empty),
    * in [[queries]]' key order. A name that is not a contract fails here
    * with all such names listed: dropped silently, a typo would make an
    * empty run that looks clean.
    */
  def contractsNamed(names: Set[String]): Seq[Contract] = {
    val unknown = names -- queries.keySet
    require(unknown.isEmpty,
      unknown.toSeq.sorted.map(n => s"'$n'").mkString("unknown contract queries: ", ", ", ""))
    val byName = contracts.map(c => c.name -> c).toMap
    queries.keysIterator.filter(n => names.isEmpty || names(n)).map(byName).toSeq
  }

  /** Every contract query, in section order. Declared after [[HashEdgesSql]],
    * [[HashUndSql]], [[evalQueries]] and the shared twin oracles: a forward
    * reference inside an object reads null, which would end up inside the
    * oracle SQL.
    */
  val contracts: Seq[Contract] = Seq(
    // --- Lara core (SURVEY §2.1): Ext / Map / Union / Agg / Join / Rename ---
    Contract("lara_ext_wordcount", LaraQueries.extWordcount _,
      """SELECT word, count(*)::BIGINT AS cnt
         FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
               FROM documents)
         GROUP BY word"""),
    Contract("lara_map_replace", LaraQueries.mapReplace _,
      "SELECT doc_id, replace(text, 'join', 'JOIN') AS msg FROM documents"),
    Contract("lara_union_plus", LaraQueries.unionPlus _,
      """SELECT l_orderkey, sum(l_quantity) AS qty,
                sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT) / 10000.0 AS net
         FROM lineitem GROUP BY l_orderkey"""),
    Contract("lara_agg", LaraQueries.laraAgg _,
      """SELECT user_id, sum(round(value * 100)::BIGINT) / 100.0 AS sum_value,
                max(value) AS max_value
         FROM events GROUP BY user_id"""),
    Contract("lara_join_times", LaraQueries.joinTimes _,
      """SELECT p.p_partkey,
                round(sum(l.l_quantity) * p.p_retailprice * 100)::BIGINT / 100.0 AS demand_value
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY p.p_partkey, p.p_retailprice"""),
    Contract("lara_covariance", LaraQueries.covariance _,
      """WITH x AS (
           SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS t, event_type AS c,
                  avg(value) AS v
           FROM events GROUP BY 1, 2),
         m AS (SELECT c, avg(v) AS mean FROM x GROUP BY c),
         u AS (SELECT t, x.c AS c, x.v - m.mean AS v FROM x JOIN m ON x.c = m.c),
         nb AS (SELECT count(DISTINCT t) AS n FROM x)
         SELECT u1.c AS c, u2.c AS c2,
                round(sum(u1.v * u2.v) / (max(nb.n) - 1.0), 6) AS cov
         FROM u u1 JOIN u u2 ON u1.t = u2.t, nb
         WHERE u1.c <= u2.c
         GROUP BY u1.c, u2.c"""),
    // --- DAP/LAP store contract: 8 range-partitioned sorted files, zero
    // range overlaps, lossless round trip ---
    Contract("lara_store_layout", LaraQueries.storeLayout _,
      // Store-layout certificate: the layout claims (8 files, 0 overlaps)
      // are literals; rows/bounds/sum replay from the source — a lost or
      // duplicated row, a 7- or 9-file write, or overlapping file ranges
      // all hash-mismatch.
      """SELECT 8::BIGINT AS n_files, 0::BIGINT AS n_overlaps,
                count(*)::BIGINT AS total_rows,
                min(l_orderkey)::BIGINT AS min_ok, max(l_orderkey)::BIGINT AS max_ok,
                sum(round(l_quantity)::BIGINT)::BIGINT AS sum_qty
         FROM lineitem"""),
    Contract("lara_range_filter", LaraQueries.rangeFilter _,
      // MinMaxFilter + D4mRangeFilter composed: key range AND membership,
      // per-line-number sums — plain WHERE on both engines.
      """SELECT l_linenumber::BIGINT AS l_linenumber,
                sum(round(l_quantity)::BIGINT)::BIGINT AS qty,
                count(*)::BIGINT AS cnt
         FROM lineitem
         WHERE l_orderkey BETWEEN 1000 AND 3000 AND l_linenumber IN (1, 3, 5)
         GROUP BY 1"""),
    // --- relational surface (SURVEY §2.2-2.6) ---
    Contract("q1_agg", RelationalQueries.q1Agg _,
      """SELECT l_returnflag, l_linestatus,
                sum(l_quantity) AS sum_qty,
                sum(round(l_extendedprice * 100)::BIGINT) / 100.0 AS sum_base_price,
                sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT) / 10000.0 AS sum_disc_price,
                sum(round(l_discount * 100)::BIGINT)::DOUBLE / 100.0 / count(*) AS avg_disc,
                count(*)::BIGINT AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus"""),
    Contract("filter_pushdown", RelationalQueries.filterPushdown _,
      """SELECT l_orderkey, l_linenumber, l_quantity,
                round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT / 10000.0 AS net_price
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate < TIMESTAMP '1995-04-01' AND l_discount > 0.05"""),
    Contract("q3_join", RelationalQueries.q3Join _,
      """SELECT o.o_orderkey,
                sum(round(l.l_extendedprice * (1 - l.l_discount) * 10000)::BIGINT) / 10000.0 AS revenue,
                count(*)::BIGINT AS n_lines
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_mktsegment = 'BUILDING'
         GROUP BY o.o_orderkey"""),
    Contract("q5_multijoin", RelationalQueries.q5MultiJoin _,
      """SELECT n.n_name,
                sum(round(l.l_extendedprice * (1 - l.l_discount) * 10000)::BIGINT) / 10000.0 AS revenue,
                count(*)::BIGINT AS n_lines
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         GROUP BY n.n_name"""),
    Contract("q6_forecast", RelationalQueries.q6Forecast _,
      """SELECT sum(round(l_extendedprice * l_discount * 10000)::BIGINT) / 10000.0 AS revenue,
                count(*)::BIGINT AS n_lines
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),
    Contract("q4_priority", RelationalQueries.q4PriorityExists _,
      """SELECT o_orderpriority, count(*)::BIGINT AS n_orders
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-04-01'
           AND o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_discount >= 0.08)
         GROUP BY o_orderpriority"""),
    // --- TPC-H Q7 flavor: nation-pair trade volume, one dim broadcast per
    // role; Q10 flavor: integer-e4 top-20 returned-revenue customers;
    // Q14 flavor: monthly promo/total revenue as exact integers ---
    Contract("q7_volume", RelationalQueries.q7Volume _,
      // Q7 flavor: nation joins twice under two roles; volume is the shared
      // e4-exact sum convention.
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                year(l_shipdate)::BIGINT AS l_year,
                sum(round(l.l_extendedprice * (1 - l.l_discount) * 10000)::BIGINT) / 10000.0
                  AS volume,
                count(*)::BIGINT AS n_lines
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
         WHERE n1.n_name <> n2.n_name
           AND l.l_shipdate >= '1995-01-01' AND l.l_shipdate < '1997-01-01'
         GROUP BY 1, 2, 3"""),
    Contract("q10_returns", RelationalQueries.q10Returns _,
      // Q10 flavor: the LIMIT frontier is deterministic because the order
      // key (integer e4 revenue, custkey) is a total order.
      """SELECT c.c_custkey, c.c_name, n.n_name,
                sum(round(l.l_extendedprice * (1 - l.l_discount) * 10000)::BIGINT)::BIGINT
                  AS rev_e4
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE l.l_returnflag = 'R'
           AND o.o_orderdate >= '1995-01-01' AND o.o_orderdate < '1995-07-01'
         GROUP BY 1, 2, 3
         ORDER BY rev_e4 DESC, c.c_custkey
         LIMIT 20"""),
    Contract("q14_promo", RelationalQueries.q14Promo _,
      // Q14 flavor: promo and total revenue stay integer e4 — no division.
      """SELECT (year(l_shipdate) * 100 + month(l_shipdate))::BIGINT AS ym,
                sum(CASE WHEN p.p_type = 'PROMO'
                         THEN round(l.l_extendedprice * (1 - l.l_discount) * 10000)::BIGINT
                         ELSE 0 END)::BIGINT AS promo_e4,
                sum(round(l.l_extendedprice * (1 - l.l_discount) * 10000)::BIGINT)::BIGINT
                  AS total_e4,
                count(*)::BIGINT AS n_lines
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE l.l_shipdate >= '1995-01-01' AND l.l_shipdate < '1996-01-01'
         GROUP BY 1"""),
    // --- per-group argmax over pre-aggregated (part, supplier) rows ---
    Contract("part_top_supplier", RelationalQueries.partTopSupplier _,
      // Per-part argmax supplier: rank over aggregate rows; integral
      // quantities make the double sum exact in any order.
      """WITH per AS (
           SELECT l_partkey, l_suppkey, sum(l_quantity)::BIGINT AS qty
           FROM lineitem GROUP BY 1, 2),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY l_partkey
                                        ORDER BY qty DESC, l_suppkey) AS rk
           FROM per)
         SELECT l_partkey, l_suppkey, qty FROM r WHERE rk = 1"""),
    // --- Q18 flavor: HAVING-side pre-aggregation before any join ---
    Contract("q18_large_orders", RelationalQueries.q18LargeOrders _,
      // Q18 flavor: HAVING subquery join; integral quantities sum exact.
      """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice, b.sum_qty
         FROM (SELECT l_orderkey, sum(l_quantity)::BIGINT AS sum_qty FROM lineitem
               GROUP BY 1 HAVING sum(l_quantity) > 250) b
         JOIN orders o ON b.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey"""),
    // Q8 flavor: regional market share of one supplier nation, exact e4 pair;
    // Q9 flavor: nation/year profit with the retail-price cost proxy;
    // Q11 flavor: >0.1%-of-nation shipped value via integer cross-multiply;
    // Q17 flavor: small-quantity revenue, correlated avg as cross-multiply
    Contract("q8_share", RelationalQueries.q8MarketShare _,
      // Q8 flavor: one-region revenue with the nation/total e4 pair.
      """SELECT year(o.o_orderdate)::BIGINT AS o_year,
                sum(CASE WHEN ns.n_name = 'NATION_7'
                         THEN round(l.l_extendedprice * (1 - l.l_discount) * 10000)::BIGINT
                         ELSE 0 END)::BIGINT AS nation_e4,
                sum(round(l.l_extendedprice * (1 - l.l_discount) * 10000)::BIGINT)::BIGINT AS total_e4
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation nc ON c.c_nationkey = nc.n_nationkey
         JOIN region r ON nc.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation ns ON s.s_nationkey = ns.n_nationkey
         GROUP BY 1"""),
    Contract("q9_profit", RelationalQueries.q9Profit _,
      // Q9 flavor: profit e4 with the retail-price cost proxy (no partsupp).
      """SELECT n.n_name AS nation, year(o.o_orderdate)::BIGINT AS o_year,
                sum(round(l.l_extendedprice * (1 - l.l_discount) * 10000)::BIGINT
                    - round(p.p_retailprice * 10000)::BIGINT * l.l_quantity::BIGINT)::BIGINT AS profit_e4,
                count(*)::BIGINT AS n_lines
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY 1, 2"""),
    Contract("q11_important", RelationalQueries.q11ImportantParts _,
      // Q11 flavor: pairs above 0.1% of nation total, integer cross-multiply.
      """WITH pv AS (
           SELECT s.s_nationkey, l.l_partkey,
                  sum(round(p.p_retailprice * 100)::BIGINT * l.l_quantity::BIGINT)::BIGINT AS value_cents
           FROM lineitem l
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN part p ON l.l_partkey = p.p_partkey
           GROUP BY 1, 2),
         tot AS (SELECT s_nationkey, sum(value_cents)::BIGINT AS tot_cents FROM pv GROUP BY 1)
         SELECT n.n_name AS nation, pv.l_partkey AS p_partkey, pv.value_cents
         FROM pv
         JOIN tot t ON pv.s_nationkey = t.s_nationkey
         JOIN nation n ON pv.s_nationkey = n.n_nationkey
         WHERE pv.value_cents * 1000 > t.tot_cents"""),
    Contract("q17_small_qty", RelationalQueries.q17SmallQty _,
      // Q17 flavor: correlated per-part average as 5·qty·n < Σqty.
      """WITH b AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'),
         pq AS (
           SELECT l.l_partkey, count(*)::BIGINT AS n_p,
                  sum(l.l_quantity::BIGINT)::BIGINT AS sumq
           FROM lineitem l JOIN b ON l.l_partkey = b.p_partkey
           GROUP BY 1)
         SELECT sum(round(l.l_extendedprice * 100)::BIGINT)::BIGINT AS total_cents,
                count(*)::BIGINT AS n_lines
         FROM lineitem l
         JOIN b ON l.l_partkey = b.p_partkey
         JOIN pq ON l.l_partkey = pq.l_partkey
         WHERE l.l_quantity::BIGINT * 5 * pq.n_p < pq.sumq"""),
    // Q15 flavor: supplier(s) at the exact integer revenue max (view +
    // scalar-subquery shape); Q16 flavor: NOT-IN blocked suppliers +
    // grouped COUNT DISTINCT; Q19 flavor: OR-of-conjuncts revenue per
    // disjoint branch; Q21 flavor: EXISTS/NOT-EXISTS as semi/anti joins
    Contract("q15_top_supplier", RelationalQueries.q15TopSupplier _,
      // Q15 flavor: equality against the scalar max is exact because revenue
      // is an integer e4 BIGINT on both engines.
      """WITH rev AS (
           SELECT l_suppkey,
                  sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT)::BIGINT
                    AS revenue_e4
           FROM lineitem
           WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1995-04-01'
           GROUP BY 1)
         SELECT s.s_suppkey, s.s_name, r.revenue_e4
         FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
         WHERE r.revenue_e4 = (SELECT max(revenue_e4) FROM rev)"""),
    Contract("q16_part_suppliers", RelationalQueries.q16PartSuppliers _,
      """SELECT p.p_brand, p.p_type, p.p_size::BIGINT AS p_size,
                count(DISTINCT l.l_suppkey)::BIGINT AS supplier_cnt
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         WHERE p.p_brand <> 'Brand#45'
           AND p.p_type NOT LIKE 'MEDIUM POLISHED%'
           AND p.p_size IN (3, 9, 14, 19, 23, 36, 45, 49)
           AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3"""),
    Contract("q19_disjunctive", RelationalQueries.q19Disjunctive _,
      // Q19 flavor: branches are disjoint (distinct brands), so CASE's
      // first-match semantics agree between engines.
      """SELECT branch,
                sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT) / 10000.0
                  AS revenue,
                count(*)::BIGINT AS n_lines
         FROM (
           SELECT l.l_extendedprice, l.l_discount,
                  CASE WHEN p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
                            AND l.l_quantity BETWEEN 1 AND 11 THEN 1
                       WHEN p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
                            AND l.l_quantity BETWEEN 12 AND 20 THEN 2
                       WHEN p.p_brand = 'Brand#21' AND p.p_size BETWEEN 1 AND 15
                            AND l.l_quantity BETWEEN 21 AND 30 THEN 3
                  END::BIGINT AS branch
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
         WHERE branch IS NOT NULL
         GROUP BY 1"""),
    Contract("q21_waiting", RelationalQueries.q21Waiting _,
      // Q21 flavor: return flag stands in for receipt>commit lateness (no
      // commit/receipt dates in this testdata); (numwait DESC, s_name) is a
      // total order so the LIMIT frontier is deterministic.
      """WITH l AS (
           SELECT l_orderkey, l_suppkey, l_returnflag
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderstatus = 'F'),
         mine AS (
           SELECT DISTINCT l_orderkey, l_suppkey FROM l WHERE l_returnflag = 'R')
         SELECT s.s_name, w.numwait FROM (
           SELECT m.l_suppkey, count(*)::BIGINT AS numwait
           FROM mine m
           WHERE EXISTS (SELECT 1 FROM l o WHERE o.l_orderkey = m.l_orderkey
                           AND o.l_suppkey <> m.l_suppkey)
             AND NOT EXISTS (SELECT 1 FROM l r WHERE r.l_orderkey = m.l_orderkey
                               AND r.l_suppkey <> m.l_suppkey AND r.l_returnflag = 'R')
           GROUP BY 1) w
         JOIN supplier s ON w.l_suppkey = s.s_suppkey
         ORDER BY w.numwait DESC, s.s_name LIMIT 100"""),
    // Q12 flavor: late-line priority counts by mode (linestatus proxy);
    // Q20 flavor: two-granularity correlated aggregate + semi-join chain
    // (all-time-shipped stock proxy — no partsupp in this testdata);
    // Q2 flavor: correlated regional min-cost supplier (unit-cents proxy)
    Contract("q12_shipmode", RelationalQueries.q12Shipmode _,
      // Q12 flavor: linestatus is the mode proxy, late = shipped ≥ 90 days
      // after the order date (no commit/receipt dates in this testdata).
      """SELECT l.l_linestatus AS ship_mode,
                sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
                sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END)::BIGINT AS low_line_count
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
           AND l.l_shipdate < TIMESTAMP '1997-01-01'
           AND l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY
         GROUP BY 1"""),
    Contract("q20_excess", RelationalQueries.q20Excess _,
      // Q20 flavor: all-time shipped quantity is the availqty proxy (no
      // partsupp); a (part, supplier) pair is excess when 1998 moved less
      // than a third of it; red% parts, NATION_3 suppliers.
      """WITH ps AS (
           SELECT l.l_partkey, l.l_suppkey,
                  sum(round(l.l_quantity)::BIGINT) AS qty_total,
                  sum(CASE WHEN l.l_shipdate >= TIMESTAMP '1998-01-01'
                            AND l.l_shipdate < TIMESTAMP '1999-01-01'
                           THEN round(l.l_quantity)::BIGINT ELSE 0 END) AS qty_1998
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
           WHERE p.p_name LIKE 'red%'
           GROUP BY 1, 2),
         ex AS (
           SELECT l_suppkey, count(*)::BIGINT AS n_excess_parts
           FROM ps WHERE qty_total > qty_1998 * 3 GROUP BY 1)
         SELECT s.s_name, ex.n_excess_parts
         FROM ex
         JOIN supplier s ON ex.l_suppkey = s.s_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         WHERE n.n_name = 'NATION_3'"""),
    Contract("q2_min_cost", RelationalQueries.q2MinCost _,
      // Q2 flavor: min unit-cents supply cost per (part, supplier); the
      // correlated regional minimum joined back; total-order LIMIT.
      """WITH ps AS (
           SELECT l.l_partkey, l.l_suppkey,
                  min(round(l.l_extendedprice * 100)::BIGINT
                      // round(l.l_quantity)::BIGINT) AS cost_cents
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
           WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
           GROUP BY 1, 2),
         es AS (
           SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
           FROM supplier s
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE r.r_name = 'EUROPE'),
         c AS (
           SELECT ps.l_partkey, ps.cost_cents, es.s_name, es.s_acctbal, es.n_name
           FROM ps JOIN es ON ps.l_suppkey = es.s_suppkey),
         m AS (SELECT l_partkey, min(cost_cents) AS min_cost FROM c GROUP BY 1)
         SELECT c.s_acctbal, c.s_name, c.n_name, c.l_partkey AS p_partkey,
                c.cost_cents
         FROM c JOIN m ON c.l_partkey = m.l_partkey AND c.cost_cents = m.min_cost
         ORDER BY c.s_acctbal DESC, c.n_name, c.s_name, p_partkey LIMIT 100"""),
    // --- smoothed target encoding: exact-integer shrunk category means ---
    Contract("target_encode", (s, d) => RelationalQueries.targetEncode(s, d),
      // Smoothed target encoding: all-integer floor divisions (both engines
      // floor on positives), m = 100.
      """WITH pc AS (
           SELECT o_custkey, count(*)::BIGINT AS n,
                  sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sc
           FROM orders GROUP BY 1),
         seg AS (
           SELECT c.c_mktsegment, sum(pc.n)::BIGINT AS n_orders,
                  sum(pc.sc)::BIGINT AS sum_cents
           FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey
           GROUP BY 1),
         pr AS (
           SELECT (sum(sum_cents)::BIGINT * 10000) // sum(n_orders)::BIGINT AS prior_c4
           FROM seg)
         SELECT seg.c_mktsegment, seg.n_orders, seg.sum_cents, pr.prior_c4,
                (seg.sum_cents * 10000 + 100 * pr.prior_c4) // (seg.n_orders + 100)
                  AS encoded_c4
         FROM seg, pr"""),
    // --- k-anonymity audit with one suppression/generalization rung ---
    Contract("k_anonymity", (s, d) => RelationalQueries.kAnonymity(s, d),
      // k-anonymity: replay the three generalization rungs with k = 5;
      // -999 balance sentinel (real buckets can be negative).
      """WITH g0 AS (
           SELECT c_nationkey::BIGINT AS nat, c_mktsegment AS seg,
                  floor(c_acctbal / 1000)::BIGINT AS bal_k, count(*)::BIGINT AS n
           FROM customer GROUP BY 1, 2, 3),
         l1 AS (
           SELECT nat, seg, -999::BIGINT AS bal_k, sum(n)::BIGINT AS n
           FROM g0 WHERE n < 5 GROUP BY 1, 2),
         l2 AS (
           SELECT nat, '*' AS seg, -999::BIGINT AS bal_k, sum(n)::BIGINT AS n
           FROM l1 WHERE n < 5 GROUP BY 1),
         rest AS (
           SELECT -1::BIGINT AS nat, '*' AS seg, -999::BIGINT AS bal_k,
                  coalesce(sum(n), 0)::BIGINT AS n
           FROM l2 WHERE n < 5 HAVING coalesce(sum(n), 0) > 0)
         SELECT nat, seg, bal_k, n, n >= 5 AS k_anonymous
         FROM (
           SELECT * FROM g0 WHERE n >= 5
           UNION ALL SELECT * FROM l1 WHERE n >= 5
           UNION ALL SELECT * FROM l2 WHERE n >= 5
           UNION ALL SELECT * FROM rest)"""),
    // --- trailing-hour click→purchase interval join (batch twin of the
    // native stream-stream join) ---
    Contract("click_purchase_join", RelationalQueries.clickPurchaseJoin _,
      // Interval join: equi-join on user with the time band as residual.
      ClickPurchaseSql),
    // --- hashing-trick featurizer: token → signed bucket, sparse output ---
    Contract("feature_hash", (s, d) =>
      pipeline.TextAnalysis.featureHash(Tables.documents(s, d)),
      // Hashing-trick featurizer: both hash roles replayed; exactly-cancelled
      // buckets dropped on both sides.
      s"""WITH t AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS tok
           FROM documents)
         SELECT doc_id,
                ${duckdbHash60("'fh_' || tok")} % 256 AS bucket,
                sum(CASE WHEN ${duckdbHash60("'fs_' || tok")} % 2 = 0
                         THEN 1 ELSE -1 END)::BIGINT AS weight
         FROM t GROUP BY 1, 2
         HAVING sum(CASE WHEN ${duckdbHash60("'fs_' || tok")} % 2 = 0
                         THEN 1 ELSE -1 END) <> 0"""),
    // --- per-language tokenizer fertility (subwords per word) totals ---
    Contract("tokenizer_fertility", (s, d) =>
      pipeline.TextAnalysis.tokenizerFertility(Tables.documents(s, d)),
      // Tokenizer fertility: the bpe_tokens counters aggregated per lang.
      """SELECT lang, count(*)::BIGINT AS n_docs,
                sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')))::BIGINT
                  AS n_subwords,
                sum(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')))::BIGINT
                  AS n_words
         FROM documents GROUP BY 1"""),
    // --- within-document line dedup (boilerplate cleaner): lines are
    // SYNTHESIZED from the single-line fixture with a conditional repeat
    // so both engines rebuild and fingerprint the same cleaned text ---
    Contract("dedup_intradoc", (s, d) => {
      val dup = when(pmod(col("doc_id"), lit(2L)) === 0L,
        substring(col("text"), 1, 40)).otherwise(substring(col("text"), 1, 60))
      val synth = concat(col("text"), lit("\n"), substring(col("text"), 1, 40),
        lit("\n"), dup, lit("\n"), col("text"))
      pipeline.TextAnalysis.dedupLines(
        Tables.documents(s, d).select(col("doc_id"), synth.as("text")))
    },
      // Intra-doc line dedup: first-occurrence filter replayed over the
      // same synthesized lines; the md5 proves the rebuilt text.
      """WITH syn AS (
           SELECT doc_id,
                  text || chr(10) || substring(text, 1, 40) || chr(10) ||
                  CASE WHEN doc_id % 2 = 0 THEN substring(text, 1, 40)
                       ELSE substring(text, 1, 60) END || chr(10) || text AS t
           FROM documents),
         l AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM syn),
         k AS (
           SELECT doc_id, lines,
                  [lines[i] for i in range(1, len(lines) + 1)
                   if list_position(lines, lines[i]) = i] AS kept
           FROM l)
         SELECT doc_id, len(lines)::BIGINT AS n_lines, len(kept)::BIGINT AS n_kept,
                md5(array_to_string(kept, chr(10))) AS fp_clean
         FROM k"""),
    // --- CROSS-document boilerplate line removal (corpus-df rule): nav/
    // footer lines synthesized from source/lang so docs genuinely share
    // them; the md5 proves the rebuilt text on both engines ---
    Contract("boilerplate_lines", (s, d) => {
      val synth = concat(lit("NAV "), col("source"), lit("\n"), col("text"),
        lit("\n"), lit("(c) "), col("lang"))
      pipeline.TextAnalysis.dropBoilerplateLines(
        Tables.documents(s, d).select(col("doc_id"), synth.as("text")))
    },
      // Cross-doc boilerplate removal: corpus line-df rule replayed over
      // the same synthesized nav/footer lines; coalesce guards the empty
      // boilerplate set (list() over zero rows is NULL in DuckDB).
      """WITH syn AS (
           SELECT doc_id,
                  'NAV ' || source || chr(10) || text || chr(10) || '(c) ' || lang AS t
           FROM documents),
         l AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM syn),
         e AS (SELECT doc_id, unnest(lines) AS line FROM l),
         dfs AS (SELECT line, count(DISTINCT doc_id) AS dfc FROM e GROUP BY 1),
         bp AS (SELECT coalesce(list(line), []) AS bad FROM dfs WHERE dfc > 2),
         k AS (SELECT doc_id, lines,
                      [x for x in lines if NOT list_contains(bad, x)] AS kept
               FROM l, bp)
         SELECT doc_id, len(lines)::BIGINT AS n_lines, len(kept)::BIGINT AS n_kept,
                md5(array_to_string(kept, chr(10))) AS fp_clean
         FROM k"""),
    // --- reliability diagram of the quality score vs the lang label ---
    Contract("calibration_bins", (s, d) =>
      pipeline.TextAnalysis.calibrationBins(Tables.documents(s, d)),
      // Calibration: the text_quality_score formula with the lang label
      // carried; e6 snap exact because the score is already round(6).
      """WITH st AS (
           SELECT lang = 'en' AS pos,
             round(length(regexp_replace(text, '\s', '', 'g'))::DOUBLE /
               greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')), 1), 4) AS avg_token_len,
             round(len(list_filter(string_split_regex(text, '\s+'),
                 x -> x IN ('the','a','of','and','to','in','is','it','for','on')))::DOUBLE /
               greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')), 1), 4) AS stopword_ratio,
             round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')))::DOUBLE /
               greatest(length(text), 1), 4) AS punct_ratio
           FROM documents),
         q AS (
           SELECT pos,
             round(1.0 / (1.0 + exp(-(-1.0 + stopword_ratio * 8.0 +
               CASE WHEN avg_token_len BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE -1.0 END -
               punct_ratio * 4.0))), 6) AS q
           FROM st)
         SELECT least(floor(q * 10)::BIGINT, 9) AS bin, count(*)::BIGINT AS n,
                sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS n_pos,
                sum(round(q * 1000000)::BIGINT)::BIGINT AS sum_q_e6
         FROM q GROUP BY 1"""),
    // --- retrieval eval: first-relevant rank / reciprocal rank per query,
    // computed without any global sort ---
    Contract("retrieval_eval", (s, d) =>
      pipeline.Ranking.retrievalEval(Tables.documents(s, d), evalQueries),
      // Retrieval eval: the bm25_score pipeline replayed per query, the
      // first-relevant rank counted (never sorted) exactly like the engine.
      retrievalEvalOracle),
    // --- sequential pattern mining: top-k per-user event-type trigrams ---
    Contract("seq_patterns", (s, d) => RelationalQueries.seqPatterns(s, d),
      // Top-k event-type trigrams; (cnt DESC, e1, e2, e3) is a total order.
      """WITH seq AS (
           SELECT event_type AS e1,
                  lead(event_type, 1) OVER w AS e2,
                  lead(event_type, 2) OVER w AS e3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT e1, e2, e3, count(*)::BIGINT AS cnt
         FROM seq WHERE e3 IS NOT NULL
         GROUP BY 1, 2, 3
         ORDER BY cnt DESC, e1, e2, e3 LIMIT 20"""),
    // --- CEP run-pattern match: view+ purchase conversion histogram ---
    Contract("pattern_match", RelationalQueries.patternMatch _,
      // CEP run pattern: same gaps-and-islands run collapse, run-level lag.
      """WITH e AS (
           SELECT user_id, ts, event_id, event_type,
                  CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                       THEN 1 ELSE 0 END AS chg
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         r AS (
           SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
           FROM e),
         runs AS (
           SELECT user_id, run, min(event_type) AS rtype, count(*)::BIGINT AS rsize
           FROM r GROUP BY 1, 2),
         m AS (
           SELECT rtype, rsize,
                  lag(rtype) OVER wr AS prev_type,
                  lag(rsize) OVER wr AS prev_size
           FROM runs
           WINDOW wr AS (PARTITION BY user_id ORDER BY run))
         SELECT prev_size AS views_before, count(*)::BIGINT AS n_matches,
                sum(rsize)::BIGINT AS n_purchases
         FROM m WHERE rtype = 'purchase' AND prev_type = 'view'
         GROUP BY 1"""),
    // --- JL sparse random projection: 64 floats → 8 exact BIGINT coords,
    // hash-derived ±1 sign matrix both engines re-derive ---
    Contract("rand_project", (s, d) =>
      pipeline.TrainingData.randomProjection(Tables.embeddings(s, d)),
      // JL sparse projection: replay the quantization rule and the
      // hash-derived density-⅓ sign matrix, then the exact integer dot.
      s"""WITH ${pipeline.TrainingData.int8ScaleCtes("vec_id")},
         q AS (
           SELECT vec_id, list_transform(e, x -> floor(x / scale + 0.5)::BIGINT) AS qv
           FROM s),
         sg AS (
           SELECT k, i,
                  CASE (${duckdbHash60("'rp_' || k::VARCHAR || '_' || i::VARCHAR")} % 6)
                    WHEN 0 THEN 1::BIGINT WHEN 1 THEN -1::BIGINT ELSE 0::BIGINT END AS sgn
           FROM range(8) t1(k), range(64) t2(i)),
         u AS (
           SELECT vec_id, i, qv[i + 1] AS qi FROM q, range(64) t(i))
         SELECT u.vec_id, sg.k AS out_dim, sum(u.qi * sg.sgn)::BIGINT AS proj
         FROM u JOIN sg USING (i) GROUP BY 1, 2"""),
    // --- robust (median/MAD) raw-norm outlier screen over embeddings ---
    Contract("embed_outliers", (s, d) =>
      pipeline.TrainingData.embedOutliers(Tables.embeddings(s, d)),
      // Embedding-norm outliers: e3-quantized exact norms; lower-median
      // rank picks for med and MAD replayed by window rank.
      """WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         s AS (
           SELECT vec_id,
                  list_sum(list_transform(e,
                    x -> floor(x * 1000 + 0.5) * floor(x * 1000 + 0.5)))::BIGINT AS snorm
           FROM e),
         r AS (
           SELECT snorm, row_number() OVER (ORDER BY snorm) AS rk,
                  count(*) OVER () AS n
           FROM s),
         med AS (SELECT snorm AS med FROM r WHERE rk = (n + 1) // 2),
         d AS (SELECT abs(s.snorm - med.med) AS dev FROM s, med),
         r2 AS (
           SELECT dev, row_number() OVER (ORDER BY dev) AS rk,
                  count(*) OVER () AS n
           FROM d),
         mad AS (SELECT dev AS mad FROM r2 WHERE rk = (n + 1) // 2)
         SELECT count(*)::BIGINT AS n, med.med, mad.mad,
                sum(CASE WHEN abs(s.snorm - med.med) > 3 * mad.mad
                         THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
                min(s.snorm)::BIGINT AS snorm_min,
                max(s.snorm)::BIGINT AS snorm_max
         FROM s, med, mad GROUP BY med.med, mad.mad"""),
    // --- grid-density clustering (DBSCAN approximation) over the first two
    // quantized embedding coordinates shifted to [0, 254] ---
    Contract("grid_dbscan", (s, d) => {
      val pts = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .withColumn("maxabs", array_max(transform(col("e"), x => abs(x))))
        .withColumn("scale",
          when(col("maxabs") === 0.0d, 1.0d).otherwise(col("maxabs") / 127.0d))
        .select(col("vec_id").as("id"),
          (floor(element_at(col("e"), 1) / col("scale") + 0.5d).cast("long") + 127L).as("x"),
          (floor(element_at(col("e"), 2) / col("scale") + 0.5d).cast("long") + 127L).as("y"))
      operators.SpatialJoin.gridDensityClusters(pts, cellSize = 16L, minPts = 3L)
    },
      // Grid-density clusters: replay quantization for the first two dims,
      // core cells ≥ 3 points, 8-adjacency components by recursive min-label.
      s"""WITH RECURSIVE ${pipeline.TrainingData.int8ScaleCtes("vec_id")},
         pt AS (
           SELECT vec_id, floor(e[1] / scale + 0.5)::BIGINT + 127 AS x,
                  floor(e[2] / scale + 0.5)::BIGINT + 127 AS y
           FROM s),
         cells AS (
           SELECT x // 16 AS cx, y // 16 AS cy, count(*)::BIGINT AS n_points
           FROM pt GROUP BY 1, 2),
         core AS (
           SELECT cx, cy, n_points, cx * 1048576 + cy AS cell_id
           FROM cells WHERE n_points >= 3),
         edges AS (
           SELECT a.cell_id AS s, b.cell_id AS t
           FROM core a JOIN core b
             ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1),
         walk(id, lab) AS (
           SELECT s, s FROM edges
           UNION
           SELECT e.s, w.lab FROM edges e JOIN walk w ON w.id = e.t),
         lab AS (
           SELECT id, MIN(lab) AS cluster_id FROM walk GROUP BY id)
         SELECT l.cluster_id, count(*)::BIGINT AS n_cells,
                sum(c.n_points)::BIGINT AS n_points
         FROM lab l JOIN core c ON l.id = c.cell_id GROUP BY 1"""),
    // --- BPE merge training: 3 rounds of most-frequent-pair + greedy
    // left-to-right merge over the weighted word vocabulary; the output
    // IS the merge table a tokenizer ships ---
    Contract("bpe_merges", (s, d) => pipeline.Bpe.merges(Tables.documents(s, d), rounds = 3),
      // BPE merge rounds: generated greedy-merge replay (run-parity window
      // chain) from the same round count as the engine's lookbehind fold.
      s"WITH ${pipeline.Bpe.oracleCtes(rounds = 3)}"),
    // --- min-max normalization from picked extremes (engine-exact) ---
    Contract("minmax_normalize", RelationalQueries.minmaxQuery _,
      // Min-max normalization: picked extremes, one IEEE division.
      """WITH s AS (
           SELECT event_type, min(value) AS minv, max(value) AS maxv
           FROM events GROUP BY 1)
         SELECT e.event_id, e.event_type, s.minv, s.maxv,
                CASE WHEN s.maxv > s.minv THEN (e.value - s.minv) / (s.maxv - s.minv)
                     ELSE 0.5 END AS mnorm
         FROM events e JOIN s USING (event_type)"""),
    // --- hash-armed A/B readout as exact integer moment components ---
    Contract("ab_split_stats", RelationalQueries.abSplitQuery _,
      // A/B readout: hash-armed, exact integer moments only.
      s"""SELECT event_type,
                ${RelationalQueries.abArmSql("'A'", "'B'")} AS arm,
                count(*)::BIGINT AS n,
                sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents,
                sum(round(value * 100)::BIGINT * round(value * 100)::BIGINT)::BIGINT
                  AS sumsq_cents
         FROM events GROUP BY 1, 2"""),
    // --- χ² independence test (2×2 closed form over exact cell counts) ---
    Contract("chi2_independence", RelationalQueries.chi2Query _,
      // χ²: exact BIGINT cell counts; the statistic is the same scalar
      // expression tree as the Spark side (same op order → same IEEE double).
      s"""WITH armed AS (
           SELECT event_type,
                  ${RelationalQueries.abArmSql("'A'", "'B'")} AS arm,
                  round(value * 100)::BIGINT >= 5000 AS conv
           FROM events),
         cells AS (
           SELECT event_type,
                  sum(CASE WHEN arm = 'A' AND conv THEN 1 ELSE 0 END)::BIGINT AS a,
                  sum(CASE WHEN arm = 'A' AND NOT conv THEN 1 ELSE 0 END)::BIGINT AS b,
                  sum(CASE WHEN arm = 'B' AND conv THEN 1 ELSE 0 END)::BIGINT AS c,
                  sum(CASE WHEN arm = 'B' AND NOT conv THEN 1 ELSE 0 END)::BIGINT AS d
           FROM armed GROUP BY 1)
         SELECT event_type, a, b, c, d,
                CASE WHEN ((a + b) * (c + d))::DOUBLE * ((a + c) * (b + d))::DOUBLE = 0
                     THEN 0.0
                     ELSE round((a + b + c + d)::DOUBLE
                                * (a * d - b * c)::DOUBLE * (a * d - b * c)::DOUBLE
                                / (((a + b) * (c + d))::DOUBLE * ((a + c) * (b + d))::DOUBLE), 6)
                END AS chi2
         FROM cells"""),
    // --- Mann–Whitney rank-sum per type: doubled average ranks keep the
    // whole statistic BIGINT-exact; window runs over tie groups only ---
    Contract("mann_whitney", RelationalQueries.mannWhitneyQuery _,
      // Mann–Whitney: doubled average ranks (2·avg-rank is integral under
      // ties) keep every output BIGINT-exact; window over tie groups only.
      s"""WITH armed AS (
           SELECT event_type, round(value * 100)::BIGINT AS cents,
                  ${RelationalQueries.abArmSql("1", "0")} AS isa
           FROM events),
         cells AS (
           SELECT event_type, cents, sum(isa)::BIGINT AS na, count(*)::BIGINT AS nv
           FROM armed GROUP BY 1, 2),
         ranked AS (
           SELECT event_type, na, nv,
                  coalesce(sum(nv) OVER (PARTITION BY event_type ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS c
           FROM cells)
         SELECT event_type, sum(na)::BIGINT AS n_a, sum(nv - na)::BIGINT AS n_b,
                sum(na * (2 * c + nv + 1))::BIGINT AS r2_sum_a,
                (sum(na * (2 * c + nv + 1)) - sum(na) * (sum(na) + 1))::BIGINT AS u2_a
         FROM ranked GROUP BY 1"""),
    // --- incremental view maintenance: base ⊕ delta partial merge,
    // oracle-proved equal to the full recompute (⊕-mergeability law) ---
    Contract("ivm_agg", RelationalQueries.ivmMergeAgg _,
      // IVM: the oracle recomputes the maintained view from scratch —
      // equality proves the base ⊕ delta partial merge.
      """SELECT l_returnflag, l_linestatus,
                sum(round(l_quantity)::BIGINT)::BIGINT AS sum_qty,
                sum(round(l_extendedprice * 100)::BIGINT) / 100.0 AS sum_price,
                count(*)::BIGINT AS n,
                count(*) FILTER (WHERE l_shipdate < TIMESTAMP '1997-01-01')::BIGINT AS n_base,
                count(*) FILTER (WHERE l_shipdate >= TIMESTAMP '1997-01-01')::BIGINT AS n_delta
         FROM lineitem GROUP BY 1, 2"""),
    // --- item-item CF: binary-cosine brand neighbors over order baskets,
    // integer-scaled score, top-5 per item ---
    Contract("item_cf", RelationalQueries.itemCf _,
      // Item-item CF: integer-scaled binary cosine — `//` is DuckDB's
      // integer floor division, matching Spark's `div` on positives.
      """WITH ob AS (
           SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         sizes AS (SELECT b, count(*)::BIGINT AS n FROM ob GROUP BY 1),
         pairs AS (
           SELECT x.b AS brand_a, y.b AS brand_b, count(*)::BIGINT AS num
           FROM ob x JOIN ob y ON x.o = y.o AND x.b <> y.b GROUP BY 1, 2),
         scored AS (
           SELECT brand_a, brand_b, num,
                  ((num::HUGEINT * num * 1000000) // (sa.n::HUGEINT * sb.n))::BIGINT AS score2
           FROM pairs
           JOIN sizes sa ON sa.b = brand_a
           JOIN sizes sb ON sb.b = brand_b),
         ranked AS (
           SELECT brand_a, brand_b, num, score2,
                  row_number() OVER (PARTITION BY brand_a
                    ORDER BY score2 DESC, num DESC, brand_b) AS rk
           FROM scored)
         SELECT brand_a, brand_b, num, score2, rk::BIGINT AS rk
         FROM ranked WHERE rk <= 5"""),
    // --- declarative rule audit: N predicate rules fused into ONE scan ---
    Contract("dq_rules", RelationalQueries.dqRules _,
      // Rule audit: generated from the SAME rule Seq as the Spark plan.
      RelationalQueries.dqRulesOracle),
    // --- Pearson matrix from exact DECIMAL(38,0) moments, one scan ---
    Contract("corr_matrix", RelationalQueries.corrMatrix _,
      // Correlation matrix: generated from the SAME measure Seq.
      RelationalQueries.corrMatrixOracle),
    // --- corpus drift: BIGINT-exact total-variation distance between
    // per-source smoothed unigram distributions, sparse over postings ---
    Contract("corpus_divergence", RelationalQueries.corpusDivergenceQuery _,
      // Corpus TV-distance: sparse postings-pair sum + closed-form
      // absent-word correction, all BIGINT until the final division.
      """WITH toks AS (
           SELECT source AS s, x AS w
           FROM (SELECT source,
                        list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
                 FROM documents), unnest(t) AS u(x)),
         counts AS (SELECT s, w, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
         totals AS (SELECT s, sum(c)::BIGINT AS n_tok FROM counts GROUP BY 1),
         v AS (SELECT count(DISTINCT w)::BIGINT AS vv FROM counts),
         pair_rows AS (
           SELECT least(c.s, t.s) AS s1, greatest(c.s, t.s) AS s2, w,
                  sum(CASE WHEN c.s < t.s THEN c.c ELSE 0 END)::BIGINT AS c1,
                  sum(CASE WHEN c.s > t.s THEN c.c ELSE 0 END)::BIGINT AS c2
           FROM counts c JOIN totals t ON c.s <> t.s
           GROUP BY 1, 2, 3),
         agg AS (
           SELECT s1, s2, count(*)::BIGINT AS v_pair,
                  sum(abs((c1 + 1) * (t2.n_tok + vv) - (c2 + 1) * (t1.n_tok + vv)))::BIGINT
                    AS tv_present,
                  any_value(t1.n_tok)::BIGINT AS n1, any_value(t2.n_tok)::BIGINT AS n2,
                  any_value(vv)::BIGINT AS vv
           FROM pair_rows
           JOIN totals t1 ON t1.s = s1
           JOIN totals t2 ON t2.s = s2
           CROSS JOIN v
           GROUP BY 1, 2)
         SELECT s1, s2, v_pair, n1, n2,
                (tv_present + (vv - v_pair) * abs(n2 - n1))::BIGINT AS tv_num,
                round((tv_present + (vv - v_pair) * abs(n2 - n1))::DOUBLE
                      / (2.0 * (n1 + vv)::DOUBLE * (n2 + vv)::DOUBLE), 6) AS tv
         FROM agg"""),
    // --- rank/dense_rank/percent_rank/cume_dist + deterministic ntile ---
    Contract("window_rank_family", RelationalQueries.windowRankFamily _,
      // Rank-window family: pr/cd are exact quotients left UNROUNDED (see
      // the Scala scaladoc — rounding would add decimal-tie risk).
      """SELECT o_custkey, o_orderkey, o_orderpriority,
                rank() OVER w1::BIGINT AS rnk,
                dense_rank() OVER w1::BIGINT AS drnk,
                CASE WHEN count(*) OVER (PARTITION BY o_custkey) > 1
                     THEN percent_rank() OVER w1 ELSE 0.0 END AS pr,
                cume_dist() OVER w1 AS cd,
                ntile(4) OVER w2::BIGINT AS nt
         FROM orders
         WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_orderpriority),
                w2 AS (PARTITION BY o_custkey ORDER BY o_orderpriority, o_orderkey)"""),
    // --- point-in-time join against the SCD2 versioned dimension ---
    Contract("temporal_join", RelationalQueries.temporalJoin _,
      // Point-in-time join: the scd2_build dimension CTEs + interval
      // containment ([from, to) — boundary events belong to the NEW version).
      """WITH ordered AS (
           SELECT user_id, ts, event_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           FROM events),
         chg AS (SELECT * FROM ordered
                 WHERE prev_type IS NULL OR prev_type <> event_type),
         dim AS (
           SELECT user_id, event_type AS dim_type, ts AS valid_from,
                  coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                           TIMESTAMP '2100-01-01') AS valid_to,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)::BIGINT AS version
           FROM chg)
         SELECT e.user_id, e.event_id, d.version, d.dim_type
         FROM events e JOIN dim d ON e.user_id = d.user_id
           AND e.ts >= d.valid_from AND e.ts < d.valid_to"""),
    // --- Poisson bootstrap CI: hash-deterministic replica weights, one
    // pass for all 50 replicas, BIGINT-exact until the final mean ---
    Contract("bootstrap_ci", RelationalQueries.bootstrapCiQuery _,
      // Poisson bootstrap: generated with the SAME thresholds + hash.
      RelationalQueries.bootstrapCiOracle),
    // --- two-sample Kolmogorov–Smirnov, integer numerator on n_a·n_b ---
    Contract("ks_test", RelationalQueries.ksTestQuery _,
      // KS: D's integer numerator on the common denominator n_a·n_b.
      s"""WITH armed AS (
           SELECT event_type, round(value * 100)::BIGINT AS cents,
                  ${RelationalQueries.abArmSql("1", "0")} AS isa
           FROM events),
         cells AS (
           SELECT event_type, cents, sum(isa)::BIGINT AS na_v,
                  sum(1 - isa)::BIGINT AS nb_v
           FROM armed GROUP BY 1, 2),
         cum AS (
           SELECT event_type, cents, na_v, nb_v,
                  sum(na_v) OVER (PARTITION BY event_type ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_a,
                  sum(nb_v) OVER (PARTITION BY event_type ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_b,
                  sum(na_v) OVER (PARTITION BY event_type)::BIGINT AS n_a,
                  sum(nb_v) OVER (PARTITION BY event_type)::BIGINT AS n_b
           FROM cells)
         SELECT event_type, n_a, n_b,
                max(abs(cum_a * n_b - cum_b * n_a))::BIGINT AS d_num,
                CASE WHEN n_a = 0 OR n_b = 0 THEN 0.0
                     ELSE round(max(abs(cum_a * n_b - cum_b * n_a))::DOUBLE
                                / (n_a::DOUBLE * n_b::DOUBLE), 6) END AS d
         FROM cum GROUP BY 1, 2, 3"""),
    // --- quantity-weighted median unit price, integer cumulative cells ---
    Contract("weighted_median", RelationalQueries.weightedMedian _,
      // Weighted median: smallest value with 2·cum ≥ tot on integers.
      """WITH cells AS (
           SELECT l_returnflag, round(l_extendedprice * 100)::BIGINT AS cents,
                  sum(round(l_quantity)::BIGINT)::BIGINT AS w
           FROM lineitem GROUP BY 1, 2),
         c2 AS (
           SELECT l_returnflag, cents,
                  sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
                  sum(w) OVER (PARTITION BY l_returnflag)::BIGINT AS tot
           FROM cells)
         SELECT l_returnflag, tot AS total_weight, min(cents)::BIGINT AS wmedian_cents
         FROM c2 WHERE cum * 2 >= tot GROUP BY 1, 2"""),
    // --- gaps-and-islands: per-user consecutive-active-day streaks ---
    Contract("user_streaks", RelationalQueries.userStreaks _,
      // Streaks: island id = day − per-user dense position.
      """WITH days AS (
           SELECT DISTINCT user_id, (epoch(ts)::BIGINT // 86400)::BIGINT AS day
           FROM events),
         r AS (
           SELECT user_id, day,
                  day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
           FROM days)
         SELECT user_id, min(day)::BIGINT AS streak_start, max(day)::BIGINT AS streak_end,
                count(*)::BIGINT AS streak_len
         FROM r GROUP BY user_id, island"""),
    Contract("funnel_steps", RelationalQueries.funnelSteps _,
      // Strict-order funnel: each step's anchor is the user's own earlier
      // step (correlated min via join, not mere existence).
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
         v AS (SELECT user_id, min(tus) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.tus) AS t2
               FROM e JOIN v USING (user_id)
               WHERE e.event_type = 'click' AND e.tus > v.t1 GROUP BY 1),
         p AS (SELECT e.user_id, min(e.tus) AS t3
               FROM e JOIN c USING (user_id)
               WHERE e.event_type = 'purchase' AND e.tus > c.t2 GROUP BY 1)
         SELECT 1::BIGINT AS step, 'view' AS event_type, count(*)::BIGINT AS n_users FROM v
         UNION ALL
         SELECT 2::BIGINT, 'click', count(*)::BIGINT FROM c
         UNION ALL
         SELECT 3::BIGINT, 'purchase', count(*)::BIGINT FROM p"""),
    Contract("retention_cohorts", RelationalQueries.retentionCohorts _,
      // Retention cohorts: weekly first-touch cohort × week offset.
      """WITH days AS (
           SELECT DISTINCT user_id, (epoch(ts)::BIGINT // 86400)::BIGINT AS day
           FROM events),
         base AS (SELECT min(day) AS d_base FROM days),
         first AS (SELECT user_id, min(day) AS d0 FROM days GROUP BY 1)
         SELECT ((f.d0 - b.d_base) // 7)::BIGINT AS cohort_week,
                ((d.day - f.d0) // 7)::BIGINT AS week_offset,
                count(DISTINCT d.user_id)::BIGINT AS n_users
         FROM days d JOIN first f USING (user_id), base b
         GROUP BY 1, 2"""),
    Contract("markov_transitions", RelationalQueries.markovTransitions _,
      // Second-order Markov conditioning: per two-step context, predictive
      // concentration (total, distinct nexts, modal next with count; argmax
      // ties → smallest type, same pin as the Spark struct-min).
      """WITH o AS (
           SELECT user_id, event_type,
                  lag(event_type, 1) OVER w AS from1,
                  lag(event_type, 2) OVER w AS from2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         trip AS (
           SELECT from2, from1, event_type AS to_type, count(*)::BIGINT AS n
           FROM o WHERE from2 IS NOT NULL GROUP BY 1, 2, 3),
         r AS (
           SELECT from2, from1, to_type, n,
                  row_number() OVER (PARTITION BY from2, from1
                    ORDER BY n DESC, to_type) AS rk,
                  sum(n) OVER (PARTITION BY from2, from1) AS n_ctx,
                  count(*) OVER (PARTITION BY from2, from1) AS nd
           FROM trip)
         SELECT from2, from1, n_ctx::BIGINT AS n_ctx, nd::BIGINT AS n_next_distinct,
                to_type AS top_to, n::BIGINT AS top_n
         FROM r WHERE rk = 1"""),
    // --- Wald–Wolfowitz runs-test ingredients, BIGINT-exact ---
    Contract("runs_test", RelationalQueries.runsTestQuery _,
      // Runs test: median from cumulative cells, sign changes per stream.
      """WITH base AS (
           SELECT event_type, ts, event_id, round(value * 100)::BIGINT AS cents
           FROM events),
         cells AS (SELECT event_type, cents, count(*)::BIGINT AS w
                   FROM base GROUP BY 1, 2),
         c2 AS (
           SELECT event_type, cents,
                  sum(w) OVER (PARTITION BY event_type ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
                  sum(w) OVER (PARTITION BY event_type)::BIGINT AS tot
           FROM cells),
         med AS (SELECT event_type, min(cents)::BIGINT AS med
                 FROM c2 WHERE cum * 2 >= tot GROUP BY 1),
         signed AS (
           SELECT b.event_type AS et, b.ts, b.event_id,
                  CASE WHEN b.cents > m.med THEN 1 ELSE -1 END AS sgn
           FROM base b JOIN med m ON b.event_type = m.event_type
           WHERE b.cents <> m.med),
         runs AS (
           SELECT et, sgn,
                  CASE WHEN lag(sgn) OVER (PARTITION BY et ORDER BY ts, event_id) IS NULL
                         OR lag(sgn) OVER (PARTITION BY et ORDER BY ts, event_id) <> sgn
                       THEN 1 ELSE 0 END AS chg
           FROM signed)
         SELECT et AS event_type, sum(chg)::BIGINT AS n_runs,
                sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_above,
                sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)::BIGINT AS n_below
         FROM runs GROUP BY 1"""),
    // --- bitmap-index audience intersections: 64-user bucket masks,
    // popcount over the bucket join — exact distinct-user overlaps ---
    Contract("audience_overlap", RelationalQueries.audienceOverlapQuery _,
      // Audience overlap: the bitmap plan's answer IS the definitional
      // distinct-user intersection — the oracle states the definition.
      """WITH au AS (SELECT DISTINCT event_type, user_id FROM events)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
                count(*)::BIGINT AS n_both
         FROM au a JOIN au b
           ON a.user_id = b.user_id AND a.event_type < b.event_type
         GROUP BY 1, 2"""),
    // --- apriori level-3: candidate-pruned frequent brand triples ---
    Contract("triple_itemsets", RelationalQueries.tripleItemsets _,
      // Frequent triples: the definitional count with the same exact
      // threshold — the plan's apriori pruning must be lossless.
      """WITH ob AS MATERIALIZED (
           SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         nb AS (SELECT count(DISTINCT o)::BIGINT AS n_baskets FROM ob),
         sup AS (SELECT b, count(*)::BIGINT AS sup FROM ob GROUP BY 1),
         t AS (SELECT a.b AS brand_a, b2.b AS brand_b, c.b AS brand_c,
                      count(*)::BIGINT AS sup_abc
               FROM ob a JOIN ob b2 ON a.o = b2.o AND a.b < b2.b
                         JOIN ob c ON a.o = c.o AND b2.b < c.b
               GROUP BY 1, 2, 3)
         SELECT brand_a, brand_b, brand_c, sup_abc,
                sa.sup AS sup_a, sb.sup AS sup_b, sc.sup AS sup_c, n_baskets
         FROM t, nb
         JOIN sup sa ON t.brand_a = sa.b
         JOIN sup sb ON t.brand_b = sb.b
         JOIN sup sc ON t.brand_c = sc.b
         WHERE sup_abc * 1000 >= n_baskets
           AND sup_abc::HUGEINT * n_baskets * n_baskets
               > sa.sup::HUGEINT * sb.sup * sc.sup"""),
    // --- Kaplan–Meier ingredients: risk set / events / censored per t ---
    Contract("survival_curve", RelationalQueries.survivalCurveQuery _,
      // Kaplan–Meier: suffix-sum risk set over distinct lifetimes;
      // censored = still active within 7 days of the corpus max day.
      """WITH spans AS (
           SELECT user_id, min(epoch(ts)::BIGINT // 86400)::BIGINT AS first_d,
                  max(epoch(ts)::BIGINT // 86400)::BIGINT AS last_d
           FROM events GROUP BY 1),
         mx AS (SELECT max(last_d) AS max_d FROM spans),
         cells AS (
           SELECT (last_d - first_d)::BIGINT AS t,
                  sum(CASE WHEN max_d - last_d < 7 THEN 0 ELSE 1 END)::BIGINT AS n_event,
                  sum(CASE WHEN max_d - last_d < 7 THEN 1 ELSE 0 END)::BIGINT AS n_censored
           FROM spans, mx GROUP BY 1)
         SELECT t,
                sum(n_event + n_censored) OVER (ORDER BY t DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS n_risk,
                n_event, n_censored
         FROM cells"""),
    // --- l-diversity audit: distinct-sensitive-value floor per QI class ---
    Contract("l_diversity", (s, d) => RelationalQueries.lDiversity(s, d),
      // l-diversity: distinct sensitive (coarse balance bucket) per QI class.
      """SELECT c_nationkey::BIGINT AS nat, c_mktsegment AS seg,
                count(*)::BIGINT AS n,
                count(DISTINCT floor(c_acctbal / 1000)::BIGINT)::BIGINT AS n_sensitive,
                count(DISTINCT floor(c_acctbal / 1000)::BIGINT) >= 3 AS l_diverse
         FROM customer GROUP BY 1, 2"""),
    // --- RFM segmentation on exact weighted-quartile thresholds ---
    Contract("rfm_segments", RelationalQueries.rfmSegments _,
      // RFM: exact weighted-quartile thresholds (smallest v with 4·cum ≥
      // p·tot over distinct metric values), score = 1 + #(thresholds ≤ v).
      """WITH per_cust AS (
           SELECT o_custkey, max(epoch(o_orderdate)::BIGINT // 86400)::BIGINT AS last_d,
                  count(*)::BIGINT AS freq,
                  sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS mon
           FROM orders GROUP BY 1),
         mx AS (SELECT max(last_d) AS max_d FROM per_cust),
         rfm AS (SELECT o_custkey, (max_d - last_d)::BIGINT AS rec, freq, mon
                 FROM per_cust, mx),
         tr AS (
           SELECT min(CASE WHEN cum * 4 >= tot THEN rec END) AS q1,
                  min(CASE WHEN cum * 2 >= tot THEN rec END) AS q2,
                  min(CASE WHEN cum * 4 >= tot * 3 THEN rec END) AS q3
           FROM (SELECT rec, sum(w) OVER (ORDER BY rec
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   sum(w) OVER () AS tot
                 FROM (SELECT rec, count(*)::BIGINT AS w FROM rfm GROUP BY 1))),
         tf AS (
           SELECT min(CASE WHEN cum * 4 >= tot THEN freq END) AS q1,
                  min(CASE WHEN cum * 2 >= tot THEN freq END) AS q2,
                  min(CASE WHEN cum * 4 >= tot * 3 THEN freq END) AS q3
           FROM (SELECT freq, sum(w) OVER (ORDER BY freq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   sum(w) OVER () AS tot
                 FROM (SELECT freq, count(*)::BIGINT AS w FROM rfm GROUP BY 1))),
         tm AS (
           SELECT min(CASE WHEN cum * 4 >= tot THEN mon END) AS q1,
                  min(CASE WHEN cum * 2 >= tot THEN mon END) AS q2,
                  min(CASE WHEN cum * 4 >= tot * 3 THEN mon END) AS q3
           FROM (SELECT mon, sum(w) OVER (ORDER BY mon
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   sum(w) OVER () AS tot
                 FROM (SELECT mon, count(*)::BIGINT AS w FROM rfm GROUP BY 1)))
         SELECT (1 + (rec >= tr.q1)::BIGINT + (rec >= tr.q2)::BIGINT
                   + (rec >= tr.q3)::BIGINT)::BIGINT AS r_score,
                (1 + (freq >= tf.q1)::BIGINT + (freq >= tf.q2)::BIGINT
                   + (freq >= tf.q3)::BIGINT)::BIGINT AS f_score,
                (1 + (mon >= tm.q1)::BIGINT + (mon >= tm.q2)::BIGINT
                   + (mon >= tm.q3)::BIGINT)::BIGINT AS m_score,
                count(*)::BIGINT AS n_customers
         FROM rfm, tr, tf, tm GROUP BY 1, 2, 3"""),
    // --- recursive-CTE semantics as a bounded unrolled closure ---
    Contract("hierarchy_rollup", RelationalQueries.hierarchyRollup _,
      // Hierarchy rollup: the oracle IS the recursive CTE the Spark side
      // unrolls — equality proves the bounded closure equals the fixpoint.
      """WITH RECURSIVE q AS (
           SELECT l_suppkey, sum(round(l_quantity)::BIGINT)::BIGINT AS q
           FROM lineitem GROUP BY 1),
         m AS (
           SELECT s_suppkey AS node, coalesce(q.q, 0)::BIGINT AS qty
           FROM supplier LEFT JOIN q ON l_suppkey = s_suppkey),
         anc AS (
           SELECT node, qty, node AS anc FROM m
           UNION ALL
           SELECT node, qty, anc // 5 FROM anc WHERE anc // 5 > 0),
         d AS (SELECT node, count(*)::BIGINT AS depth FROM anc GROUP BY 1)
         SELECT a.anc AS node, min(d.depth)::BIGINT AS depth,
                count(*)::BIGINT AS subtree_n, sum(a.qty)::BIGINT AS subtree_qty
         FROM anc a JOIN d ON d.node = a.anc
         GROUP BY 1"""),
    // --- exact AUC (Mann–Whitney): rank-free integer pair counting via
    // the hierarchical prefix sum over distinct score values ---
    Contract("auc_score", (s, d) => RelationalQueries.aucScore(s, d),
      // Exact AUC: same grouped-by-score-value pair counting; the window
      // here is over DISTINCT score values (bounded), not rows — the engine
      // uses the hierarchical prefix sum for the same quantity.
      """WITH g AS (
           SELECT round(value * 100)::BIGINT AS cents,
                  sum((event_type = 'purchase')::BIGINT)::BIGINT AS np,
                  (count(*) - sum((event_type = 'purchase')::BIGINT))::BIGINT AS nn
           FROM events GROUP BY 1),
         p AS (
           SELECT np, nn,
                  coalesce(sum(nn) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_nn
           FROM g)
         SELECT sum(np * (2 * cum_nn + nn))::BIGINT AS auc_num2,
                sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg,
                sum(np * (2 * cum_nn + nn))::BIGINT::DOUBLE
                  / (2.0 * sum(np)::BIGINT::DOUBLE * sum(nn)::BIGINT::DOUBLE) AS auc
         FROM p"""),
    Contract("semi_anti_join", RelationalQueries.semiAntiJoin _,
      """SELECT c_custkey, TRUE AS has_orders FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)
         UNION ALL
         SELECT c_custkey, FALSE AS has_orders FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"""),
    Contract("window_topk", RelationalQueries.windowTopk _,
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders) WHERE rk <= 3"""),
    Contract("window_running", RelationalQueries.windowRunning _,
      """SELECT user_id, event_id,
                round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
         FROM events"""),
    Contract("distinct_agg", RelationalQueries.distinctAgg _,
      """SELECT l_orderkey, count(DISTINCT l_suppkey)::BIGINT AS n_supp,
                count(DISTINCT l_partkey)::BIGINT AS n_part
         FROM lineitem GROUP BY l_orderkey"""),
    Contract("events_bin", RelationalQueries.eventsBin _,
      EventsBinSql),
    Contract("set_ops", RelationalQueries.setOps _,
      """SELECT c_custkey AS custkey, 'never_ordered' AS status FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
         UNION ALL
         SELECT c_custkey AS custkey, 'ordered' AS status FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)"""),
    Contract("rollup_agg", RelationalQueries.rollupAgg _,
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
                coalesce(l_linestatus, 'ALL') AS l_linestatus,
                sum(l_quantity) AS sum_qty, count(*)::BIGINT AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),
    Contract("sessionize_batch", (s, d) => RelationalQueries.sessionizeBatch(s, d),
      s"""WITH ${RelationalQueries.sessionizeOracleCtes(1800000L, TimeUnit.MILLISECONDS, "session_id")}
         SELECT user_id, session_id, min(tms) AS session_start,
                max(tms) AS session_end, count(*)::BIGINT AS n_events,
                sum(round(value * 100)::BIGINT) / 100.0 AS total_value
         FROM t GROUP BY user_id, session_id"""),
    // --- NATIVE session_window sessionization (µs-exact split replay) ---
    Contract("session_window_agg", RelationalQueries.sessionWindowAgg _,
      // Native session_window: split when the µs gap EXCEEDS the duration
      // (an event exactly at session end still merges — spec-pinned);
      // window end = last event + gap.
      SessionWindowSql),
    // --- RANGE-frame trailing-hour rolling count/sum per user (the
    // window class ROWS frames can't express) ---
    Contract("rolling_hour_range", (s, d) =>
      RelationalQueries.rollingHourRange(Tables.events(s, d)),
      // RANGE-frame trailing hour: equal-µs events are frame peers in both
      // engines; cents sums keep the value exact.
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events)
         SELECT user_id, event_id, tus,
                count(*) OVER w::BIGINT AS n_trailing,
                (sum(round(value * 100)::BIGINT) OVER w) / 100.0 AS v_trailing
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY tus
                      RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)"""),
    // --- explicit GROUPING SETS with grouping_id bitmask ---
    Contract("grouping_sets_agg", RelationalQueries.groupingSetsAgg _,
      // GROUPING SETS: bitmask order (l_returnflag, l_linestatus) matches
      // Spark's grouping_id (first column = most significant bit).
      """SELECT l_returnflag, l_linestatus,
                GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
                count(*)::BIGINT AS n,
                sum(round(l_quantity)::BIGINT)::BIGINT AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""),
    // --- ordered funnel: deepest strictly-time-increasing stage prefix
    // per user, ONE shuffle (the SQL chain joins the fact table per stage) ---
    Contract("funnel_stages", (s, d) =>
      RelationalQueries.funnelStages(Tables.events(s, d), FunnelStages),
      // Funnel: the classic stage-chain formulation — min completion time of
      // each prefix, each stage strictly after the previous stage's earliest
      // completion. Greedy earliest-match subsequence (the Spark fold) and
      // this chain compute the same depth.
      RelationalQueries.funnelOracleSql(FunnelStages, timing = false)),
    // --- funnel with exact time-to-convert (integer microseconds) ---
    Contract("funnel_timing", (s, d) =>
      RelationalQueries.funnelTiming(Tables.events(s, d), FunnelStages),
      // Funnel timing: the stage-chain's earliest per-stage completion
      // timestamps subtract in exact integer microseconds; NULL below
      // depth 2 (no interval exists).
      RelationalQueries.funnelOracleSql(FunnelStages, timing = true)),
    // --- cohort retention: first-seen-day cohorts × active-day offsets ---
    Contract("cohort_retention", (s, d) => RelationalQueries.cohortRetention(Tables.events(s, d)),
      // Cohort retention: integer epoch-day arithmetic on both engines.
      """WITH ud AS (SELECT DISTINCT user_id,
                (floor(epoch(ts) / 86400))::BIGINT AS d FROM events),
         f AS (SELECT user_id, min(d) AS cohort_day FROM ud GROUP BY 1)
         SELECT f.cohort_day, ud.d - f.cohort_day AS offset_days,
                count(*)::BIGINT AS n_users
         FROM ud JOIN f ON ud.user_id = f.user_id
         GROUP BY 1, 2"""),
    // --- event-rate anomaly: trailing-window z-score from exact integer
    // sums (monitoring over the ingest feed itself) ---
    Contract("rate_anomaly", (s, d) => RelationalQueries.rateAnomaly(Tables.events(s, d)),
      // Rate anomaly: trailing-ROWS window of exact integer sums, then one
      // fixed IEEE double sequence (mean/sd/z) — bit-identical unrounded;
      // the sd=0 branch decided by exact integer equality.
      """WITH c AS (
           SELECT event_type, (floor(epoch(ts) / 3600))::BIGINT AS h,
                  count(*)::BIGINT AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, h, n,
                  sum(n) OVER tw AS s1, sum(n * n) OVER tw AS s2,
                  count(*) OVER tw AS k
           FROM c
           WINDOW tw AS (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         SELECT event_type, h, n,
                CASE WHEN k * s2 - s1 * s1 = 0 THEN NULL
                     ELSE (n - s1::DOUBLE / k) /
                          sqrt((k * s2 - s1 * s1)::DOUBLE / (k::DOUBLE * (k - 1)))
                END AS z
         FROM w WHERE k >= 12"""),
    // --- skyline (Pareto frontier) via bucket-decomposed running max —
    // no O(n²) dominance join ---
    Contract("skyline", (s, d) => RelationalQueries.skyline(Tables.part(s, d)),
      // Skyline: the oracle states the DEFINITION — a quadratic NOT-EXISTS
      // dominance test over distinct points — while the Spark plan is the
      // bucket-decomposed running max; agreement proves the decomposition.
      """WITH pts AS (
           SELECT DISTINCT p_retailprice AS price, p_size::BIGINT AS size FROM part),
         sky AS (
           SELECT price, size FROM pts b
           WHERE NOT EXISTS (
             SELECT 1 FROM pts a
             WHERE a.price <= b.price AND a.size >= b.size
               AND (a.price < b.price OR a.size > b.size)))
         SELECT p.p_partkey, p.p_retailprice, p.p_size::BIGINT AS p_size
         FROM part p JOIN sky s ON p.p_retailprice = s.price AND p.p_size = s.size"""),
    // --- Markov transition counts over per-user event sequences ---
    Contract("event_transitions", RelationalQueries.transitionsQuery _,
      // Markov transitions: lead over (user, ts, event_id) — deterministic
      // total order, exact integer counts.
      """WITH nx AS (
           SELECT event_type,
                  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
           FROM events)
         SELECT event_type AS from_type, to_type, count(*)::BIGINT AS n
         FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2"""),
    // --- OHLC time-series downsample (picked doubles, engine-exact) ---
    Contract("ohlc_downsample", (s, d) => RelationalQueries.ohlcDownsample(Tables.events(s, d)),
      // OHLC: first/last by deterministic (ts, event_id) rank; values are
      // picked, never summed — exact across engines.
      OhlcSql),
    // --- the SAME aggregation run through the real streaming engine
    // (file source → watermark → flatMapGroupsWithState → memory sink),
    // returned as a batch frame: the oracle certifies the streaming path
    // end-to-end, not just its batch twin ---
    Contract("streaming_ohlc_replay", streaming.EventStreams.streamingOhlcReplay _,
      // The streaming replay must land on EXACTLY the batch answer — it
      // shares ohlc_downsample's oracle (that equality is the whole point).
      OhlcSql),
    // --- native streaming session windows (the session-window state
    // store), replayed to a batch frame the same way — certified by the
    // batch session_window_agg oracle ---
    Contract("streaming_sessions_replay", streaming.EventStreams.streamingSessionsReplay _,
      // The streaming session replay must land on EXACTLY the batch
      // answer — it shares session_window_agg's oracle.
      SessionWindowSql),
    // --- streaming windowed-aggregation state store (tumbling windows,
    // append mode), replayed the same way — the third certified streaming
    // engine path; cents sums are order-independent so the streamed rows
    // are bit-equal to events_bin's oracle ---
    Contract("streaming_bin_replay", streaming.EventStreams.streamingBinReplay _,
      // The streaming windowed-agg replay must land on EXACTLY the batch
      // answer — it shares events_bin's oracle.
      EventsBinSql),
    // --- CHAINED stateful streaming (dedup store → windowed-agg store in
    // one query), replayed the same way: daily distinct users per type,
    // certified by a batch count(DISTINCT) oracle ---
    Contract("streaming_dedup_replay", streaming.EventStreams.streamingDedupReplay _,
      // Chained dedup→agg streaming replay: the batch truth is a plain
      // count(DISTINCT user) per (UTC day, type).
      DailyUsersSql),
    // --- the same two state-heaviest replays on the RocksDB state-store
    // provider (the 100 TB-state production choice): gate rows certify
    // provider-equivalence against the SAME batch oracles ---
    Contract("streaming_dedup_replay_rocksdb", streaming.EventStreams.streamingDedupReplayRocksDb _,
      // RocksDB-provider twin: the state-store provider must be invisible in
      // the result — it shares streaming_dedup_replay's oracle.
      DailyUsersSql),
    Contract("streaming_sessions_replay_rocksdb", streaming.EventStreams.streamingSessionsReplayRocksDb _,
      // RocksDB-provider twin of the session replay — same oracle.
      SessionWindowSql),
    // --- stream-stream interval join state store, replayed — certified
    // by the batch click_purchase_join oracle ---
    Contract("streaming_join_replay", streaming.EventStreams.streamingJoinReplay _,
      // Stream-stream join replay: shares the batch interval join's oracle.
      ClickPurchaseSql),
    // --- update-mode unwindowed keyed aggregation, final-state argmax ---
    Contract("streaming_counts_replay", streaming.EventStreams.streamingCountsReplay _,
      // Update-mode replay: the final state per type is the batch count
      // and exact cents sum.
      """SELECT event_type, count(*)::BIGINT AS n,
                sum(round(value * 100)::BIGINT) / 100.0 AS sum_cents
         FROM events GROUP BY 1"""),
    Contract("streaming_enrich_replay", streaming.EventStreams.streamingEnrichReplay _,
      // Stream-static enrichment replay: the per-micro-batch broadcast join
      // must land on exactly the batch join+aggregate.
      """SELECT c.c_mktsegment AS segment, e.event_type, count(*)::BIGINT AS n,
                sum(round(e.value * 100)::BIGINT) / 100.0 AS sum_cents
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1, 2"""),
    // --- LOCF gap-fill over the per-type hourly axis ---
    Contract("gap_fill", (s, d) => RelationalQueries.gapFill(Tables.events(s, d)),
      // Gap-fill: dense hourly axis from each type's span, LOCF via
      // last_value IGNORE NULLS — both engines carry the same picked double.
      """WITH b AS (
           SELECT event_type, (floor(epoch(ts) / 3600))::BIGINT AS h,
                  ts, event_id, value
           FROM events),
         r AS (
           SELECT event_type, h, value,
                  row_number() OVER (PARTITION BY event_type, h
                                     ORDER BY ts DESC, event_id DESC) AS rd
           FROM b),
         hourly AS (SELECT event_type, h, value AS v FROM r WHERE rd = 1),
         span AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
         dense AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS h FROM span),
         j AS (
           SELECT d.event_type, d.h, hr.v
           FROM dense d LEFT JOIN hourly hr ON d.event_type = hr.event_type AND d.h = hr.h)
         SELECT event_type, h, (v IS NOT NULL)::BIGINT AS observed,
                last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
         FROM j"""),
    // --- winsorization: clip to per-type discrete-percentile bands ---
    Contract("winsorize", (s, d) => RelationalQueries.winsorize(Tables.events(s, d)),
      // Winsorize: thresholds picked by the discrete rank rule, clip via
      // least/greatest — no double arithmetic anywhere.
      """WITH v AS (SELECT event_type, event_id, value FROM events),
         r AS (
           SELECT event_type, event_id, value,
                  row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM v),
         thr AS (
           SELECT event_type,
                  min(CASE WHEN rn = ceil(0.01 * n) THEN value END) AS vlo,
                  max(CASE WHEN rn = ceil(0.99 * n) THEN value END) AS vhi
           FROM r GROUP BY 1)
         SELECT event_id, v.event_type,
                greatest(least(value, vhi), vlo) AS clipped,
                (value < vlo OR value > vhi)::BIGINT AS was_clipped
         FROM v JOIN thr ON v.event_type = thr.event_type"""),
    // --- Unicode NFC canonicalization: decomposed combining sequences
    // re-composed before fingerprinting (native codegen'd expression;
    // the decomposed input is SYNTHESIZED from the ascii fixture so the
    // contract genuinely exercises composition) ---
    Contract("text_normalize", (s, d) => {
      // "e" + COMBINING ACUTE (U+0301): decomposed on purpose — NFC must
      // re-compose it to the precomposed U+00E9
      val decomposed = regexp_replace(col("text"), "e", "e\u0301")
      Tables.documents(s, d).select(col("doc_id"),
        md5(functions.TextNormalize.nfc(decomposed)).as("fp_nfc"),
        length(decomposed).cast("long").as("len_raw"),
        length(functions.TextNormalize.nfc(decomposed)).cast("long").as("len_nfc"))
    },
      // NFC: both engines implement Unicode canonical composition (JDK
      // Normalizer vs utf8proc); fingerprints and codepoint counts agree
      // exactly on the synthesized decomposed text.
      """SELECT doc_id,
                md5(nfc_normalize(replace(text, 'e', 'e' || chr(769)))) AS fp_nfc,
                length(replace(text, 'e', 'e' || chr(769)))::BIGINT AS len_raw,
                length(nfc_normalize(replace(text, 'e', 'e' || chr(769))))::BIGINT AS len_nfc
         FROM documents"""),
    // --- market-basket brand co-occurrence (per-order bounded pair join) ---
    Contract("basket_pairs", RelationalQueries.basketPairs _,
      // Basket pairs: distinct (order, brand) then the per-order pair join —
      // exact integer support counts.
      """WITH ob AS (
           SELECT DISTINCT l_orderkey AS o, p_brand AS b
           FROM lineitem JOIN part ON l_partkey = p_partkey)
         SELECT a.b AS brand_a, c.b AS brand_b, count(*)::BIGINT AS n_orders
         FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
         GROUP BY 1, 2"""),
    // --- peak concurrent sessions per day (sweep-line; hierarchical
    // prefix-sum carry, no unpartitioned window) ---
    Contract("concurrency_peak", RelationalQueries.concurrencyPeak _,
      // Concurrency peak: sweep-line over session boundaries; the oracle
      // runs ONE global running sum (single-node is fine for DuckDB), the
      // Spark plan decomposes it day-locally + hierarchical carry.
      s"""WITH ${RelationalQueries.sessionizeOracleCtes(1800000L, TimeUnit.MILLISECONDS, "session_id")},
         sess AS (
           SELECT user_id, session_id, min(tms) AS st, max(tms) AS en
           FROM t GROUP BY 1, 2),
         deltas AS (
           SELECT st AS tms, 1 AS dd FROM sess
           UNION ALL SELECT en, -1 FROM sess),
         r AS (
           SELECT tms, dd, sum(dd) OVER (ORDER BY tms, dd DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS c
           FROM deltas)
         SELECT tms // 86400000 AS day, max(c) AS peak FROM r GROUP BY 1"""),
    // --- equi-DEPTH histogram: decile boundaries per type, picked at
    // integer-ceil ranks via the winsorize bucket-rank decomposition ---
    Contract("histogram_equidepth", (s, d) => RelationalQueries.equiDepth(Tables.events(s, d)),
      // Equi-depth histogram: boundary j is the value at integer-ceil rank
      // (j·n + 9) // 10 — a picked double, deterministic under ties.
      """WITH v AS (SELECT event_type, value FROM events),
         r AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM v)
         SELECT event_type, j::BIGINT AS decile, value AS boundary
         FROM r JOIN generate_series(1, 9) AS g(j) ON rn = (j * n + 9) // 10"""),
    // --- per-row percent-rank normalization via the bucket-decomposed
    // range sort (no whole-type sort task) ---
    Contract("quantile_normalize", (s, d) =>
      RelationalQueries.quantileNormalize(Tables.events(s, d)),
      // Quantile normalization: percent_rank's definition — one IEEE
      // division of identical integers per row.
      """SELECT event_id, event_type,
                CASE WHEN n > 1 THEN (rnk - 1)::DOUBLE / (n - 1)::DOUBLE
                     ELSE 0.5 END AS qnorm
         FROM (SELECT event_id, event_type,
                      rank() OVER (PARTITION BY event_type ORDER BY value) AS rnk,
                      count(*) OVER (PARTITION BY event_type) AS n
               FROM events)"""),
    // --- 3-dim skyline: per-dimension staircase decomposition, third
    // dimension synthesized by portable hash ---
    Contract("skyline_3d", (s, d) => RelationalQueries.skyline3d(Tables.part(s, d)),
      // 3-dim skyline: the oracle states the DEFINITION (quadratic
      // NOT-EXISTS dominance over distinct points, third dim from the same
      // portable hash) — agreement proves the staircase decomposition.
      s"""WITH pts AS (
           SELECT DISTINCT p_retailprice AS price, p_size::BIGINT AS size,
                  ${duckdbHash60("'sky_' || p_partkey::VARCHAR")} % 1000 AS rv
           FROM part),
         sky AS (
           SELECT price, size, rv FROM pts b
           WHERE NOT EXISTS (
             SELECT 1 FROM pts a
             WHERE a.price <= b.price AND a.size >= b.size AND a.rv >= b.rv
               AND (a.price < b.price OR a.size > b.size OR a.rv > b.rv)))
         SELECT p.p_partkey, p.p_retailprice, p.p_size::BIGINT AS p_size,
                ${duckdbHash60("'sky_' || p.p_partkey::VARCHAR")} % 1000 AS rv
         FROM part p JOIN sky s
           ON p.p_retailprice = s.price AND p.p_size = s.size
          AND ${duckdbHash60("'sky_' || p.p_partkey::VARCHAR")} % 1000 = s.rv"""),
    // --- interval×interval overlap join over sessionized events (cell
    // decomposition, count-once-at-later-start-cell) ---
    Contract("interval_overlap", (s, d) => RelationalQueries.intervalOverlap(s, d),
      // Interval overlap: the definitional inequality join (DuckDB IEJoin);
      // closed intervals — touching counts, matching concurrency_peak.
      s"""WITH ${RelationalQueries.sessionizeOracleCtes(1800000L, TimeUnit.MILLISECONDS, "session_id")},
         sess AS (
           SELECT user_id, session_id, min(tms) AS st, max(tms) AS en
           FROM t GROUP BY 1, 2)
         SELECT a.user_id AS user_a, b.user_id AS user_b,
                count(*)::BIGINT AS n_pairs,
                sum(least(a.en, b.en) - greatest(a.st, b.st))::BIGINT AS overlap_ms
         FROM sess a JOIN sess b
           ON a.user_id < b.user_id AND a.st <= b.en AND b.st <= a.en
         GROUP BY 1, 2"""),
    // --- k-core peeling over the hash-derived graph fixture; oracle CTE
    // chain generated by the same Scala loop ---
    Contract("kcore", (s, d) =>
      sources.GraphLoader.kCore(hashGraph(s, d), k = 3, rounds = 8),
      // k-core: the peel-round CTE chain is GENERATED by the same Scala loop
      // that drives the engine's iterations (the duckdbZValue anti-drift
      // pattern); 8 unrolled rounds ⊇ the fixpoint on this fixture.
      s"""WITH und AS MATERIALIZED ($HashUndSql),
         ${sources.GraphLoader.kCoreOracleCtes(k = 3, rounds = 8)}
         SELECT v AS vertex, count(*)::BIGINT AS core_deg FROM adj8 GROUP BY v"""),
    // --- k-truss edge peel (support ≥ k−2 triangles) over the hash-derived
    // graph; oracle CTE chain generated from the same parameters ---
    Contract("ktruss", (s, d) =>
      sources.GraphLoader.kTruss(hashGraph(s, d), k = 3, rounds = 6),
      // k-truss: unrolled definitional support-and-peel rounds generated
      // from the same parameters as the engine (anti-drift pattern).
      s"""WITH und AS MATERIALIZED ($HashUndSql),
         ${sources.GraphLoader.kTrussOracleCtes(k = 3, rounds = 6)}
         SELECT a, b, sup::BIGINT AS support FROM e6"""),
    // --- fixed-round BFS hop levels over the hash-derived graph; oracle
    // CTE chain generated by the same Scala loop ---
    Contract("bfs_levels", (s, d) =>
      sources.GraphLoader.bfsLevels(hashGraph(s, d), rounds = 6),
      // BFS levels: unrolled relaxation rounds generated by the same Scala
      // loop that drives the engine (bfsOracleCtes anti-drift pattern).
      s"""WITH und AS MATERIALIZED ($HashUndSql),
         ${sources.GraphLoader.bfsOracleCtes(rounds = 6)}
         SELECT v AS vertex, dist FROM d6"""),
    // --- hop plot / effective-diameter curve: multi-seed BFS distance
    // distribution over the same hash-derived graph ---
    Contract("hop_plot", (s, d) =>
      sources.GraphLoader.hopPlot(hashGraph(s, d), rounds = 4),
      // Hop plot: the multi-seed BFS chain generated by the same Scala loop.
      s"""WITH und AS MATERIALIZED ($HashUndSql),
         ${sources.GraphLoader.hopPlotOracleCtes(rounds = 4)}
         SELECT dist AS hop, count(*)::BIGINT AS n_pairs FROM h4 GROUP BY 1"""),
    // --- multi-source shortest-path counting (Brandes forward pass,
    // integer-exact σ) over the same hash-derived graph ---
    Contract("path_counts", (s, d) =>
      sources.GraphLoader.pathCounts(hashGraph(s, d), rounds = 3),
      // Path counting: the generated frontier/σ chain; per-vertex aggregate.
      s"""WITH und AS MATERIALIZED ($HashUndSql),
         ${sources.GraphLoader.pathCountsOracleCtes(rounds = 3)}
         SELECT v AS vertex, count(*)::BIGINT AS n_seeds, min(dist)::BIGINT AS min_dist,
                sum(sigma)::BIGINT AS total_paths
         FROM p3 GROUP BY 1"""),
    // --- per-vertex seed-distance histogram (sampled-landmark harmonic
    // centrality ingredients) over the same hash-derived graph ---
    Contract("seed_distances", (s, d) =>
      sources.GraphLoader.seedDistances(hashGraph(s, d), rounds = 4),
      // Seed-distance histogram: the same generated multi-seed BFS chain,
      // pivoted per vertex on exact first-reach distance.
      s"""WITH und AS MATERIALIZED ($HashUndSql),
         ${sources.GraphLoader.hopPlotOracleCtes(rounds = 4)}
         ${sources.GraphLoader.seedDistancesOracleSelect(rounds = 4)}"""),
    // --- per-edge common-neighbor / degree counts (neighborhood Jaccard
    // components) via the degree-oriented wedge join ---
    Contract("neighbor_jaccard", (s, d) =>
      sources.GraphLoader.neighborJaccard(hashGraph(s, d)),
      // Neighborhood Jaccard components: the oracle is the definitional
      // common-neighbor join over the full adjacency.
      s"""WITH und AS MATERIALIZED ($HashUndSql),
         adj AS MATERIALIZED (SELECT a AS v, b AS w FROM und UNION ALL SELECT b, a FROM und),
         deg AS (SELECT v, count(*)::BIGINT AS deg FROM adj GROUP BY 1),
         com AS (
           SELECT e.a, e.b, count(*)::BIGINT AS common
           FROM und e
           JOIN adj x ON x.v = e.a
           JOIN adj y ON y.v = e.b AND y.w = x.w
           GROUP BY 1, 2)
         SELECT e.a, e.b, coalesce(c.common, 0)::BIGINT AS common,
                da.deg AS deg_a, db.deg AS deg_b
         FROM und e
         JOIN deg da ON da.v = e.a
         JOIN deg db ON db.v = e.b
         LEFT JOIN com c ON c.a = e.a AND c.b = e.b"""),
    // --- per-vertex local clustering coefficient components (2·tri /
    // deg·(deg−1) is the client-side division) over the hash-derived graph ---
    Contract("clustering_coeff", (s, d) =>
      sources.GraphLoader.clusteringCoefficient(hashGraph(s, d)),
      // Local clustering components: definitional a<b<c triangle join fanned
      // to its three corners, degrees from the doubled adjacency.
      s"""WITH und AS MATERIALIZED ($HashUndSql),
         adj AS (SELECT a AS v, b AS w FROM und UNION ALL SELECT b, a FROM und),
         deg AS (SELECT v, count(*)::BIGINT AS deg FROM adj GROUP BY 1),
         tri AS MATERIALIZED (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM und e1
           JOIN und e2 ON e1.b = e2.a
           JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         pv AS (
           SELECT v, count(*)::BIGINT AS n_triangles FROM (
             SELECT x AS v FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri)
           GROUP BY 1)
         SELECT d.v AS vertex, d.deg,
                coalesce(p.n_triangles, 0)::BIGINT AS n_triangles,
                (d.deg * (d.deg - 1))::BIGINT AS possible_pairs
         FROM deg d LEFT JOIN pv p ON p.v = d.v"""),
    // --- degree assortativity: one row of exact Pearson component sums
    // over ordered edge endpoint pairs ---
    Contract("degree_assort", (s, d) =>
      sources.GraphLoader.degreeAssortativity(hashGraph(s, d)),
      // Assortativity components over ordered endpoint pairs: by symmetry one
      // pass over canonical edges with both degree roles doubles out.
      s"""WITH und AS MATERIALIZED ($HashUndSql),
         adj AS (SELECT a AS v, b AS w FROM und UNION ALL SELECT b, a FROM und),
         deg AS (SELECT v, count(*)::BIGINT AS deg FROM adj GROUP BY 1)
         SELECT (count(*) * 2)::BIGINT AS n_pairs,
                sum(da.deg + db.deg)::BIGINT AS sum_deg,
                (2 * sum(da.deg * db.deg))::BIGINT AS sum_prod,
                sum(da.deg * da.deg + db.deg * db.deg)::BIGINT AS sum_sq
         FROM und e
         JOIN deg da ON da.v = e.a
         JOIN deg db ON db.v = e.b"""),
    // --- frequency-vote label propagation (community detection) over the
    // hash-derived graph; fixed synchronous rounds, min-label ties; oracle
    // CTE chain generated by the same Scala loop ---
    Contract("label_propagation", (s, d) =>
      sources.GraphLoader.labelPropagation(hashGraph(s, d), rounds = 4),
      // Label propagation: unrolled frequency-vote rounds generated by the
      // same Scala loop that drives the engine (anti-drift pattern); the
      // argmax is the portable max-then-join-back idiom on both sides.
      s"""WITH und AS MATERIALIZED ($HashUndSql),
         ${sources.GraphLoader.lpaOracleCtes(rounds = 4)}
         SELECT v AS vertex, lbl AS label FROM l4"""),
    // --- within-radius spatial self-join via grid-cell decomposition over
    // hash-derived integer coordinates; exact BIGINT squared distances;
    // oracle is the definitional quadratic join on the same subset ---
    Contract("geo_join", (s, d) => {
      val pts = Tables.events(s, d)
        .filter(pmod(graft.functions.PortableHash.hash60(
          concat(lit("gp_"), col("event_id"))), lit(37L)) === 0L)
        .select(col("event_id").as("id"),
          pmod(graft.functions.PortableHash.hash60(concat(lit("gx_"), col("event_id"))),
            lit(1000000L)).as("x"),
          pmod(graft.functions.PortableHash.hash60(concat(lit("gy_"), col("event_id"))),
            lit(1000000L)).as("y"))
      operators.SpatialJoin.gridDistanceJoin(pts, 25000L)
    },
      // Spatial within-radius join: the oracle is the DEFINITIONAL quadratic
      // inequality join over the same hash-derived point subset — proving the
      // grid decomposition loses no pair and invents none.
      s"""WITH pts AS MATERIALIZED (
           SELECT event_id AS id,
                  ${duckdbHash60("'gx_' || event_id::VARCHAR")} % 1000000 AS x,
                  ${duckdbHash60("'gy_' || event_id::VARCHAR")} % 1000000 AS y
           FROM events
           WHERE ${duckdbHash60("'gp_' || event_id::VARCHAR")} % 37 = 0)
         SELECT a.id AS a_id, b.id AS b_id,
                ((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))::BIGINT AS dist2
         FROM pts a JOIN pts b ON a.id < b.id
         WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 625000000"""),
    // --- community quality readout composed on label_propagation: size /
    // internal edges / degree sum / integer-scaled modularity term ---
    Contract("community_stats", (s, d) =>
      sources.GraphLoader.communityStats(hashGraph(s, d), rounds = 4),
      // Community stats: LPA label CTE chain (same generated loop) + exact
      // integer modularity decomposition 4·m·e_c − d_c².
      s"""WITH und AS MATERIALIZED ($HashUndSql),
         ${sources.GraphLoader.lpaOracleCtes(rounds = 4)},
         mm AS (SELECT count(*)::BIGINT AS m FROM und),
         ie AS (SELECT x.lbl AS label, count(*)::BIGINT AS internal_edges
                FROM und e JOIN l4 x ON e.a = x.v JOIN l4 y ON e.b = y.v AND x.lbl = y.lbl
                GROUP BY 1),
         dg AS (SELECT v, count(*)::BIGINT AS d
                FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
                GROUP BY 1),
         pc AS (SELECT x.lbl AS label, count(*)::BIGINT AS size, sum(d.d)::BIGINT AS degree_sum
                FROM l4 x JOIN dg d ON x.v = d.v GROUP BY 1)
         SELECT pc.label, pc.size,
                coalesce(ie.internal_edges, 0)::BIGINT AS internal_edges,
                pc.degree_sum,
                (4 * mm.m * coalesce(ie.internal_edges, 0) - pc.degree_sum * pc.degree_sum)::BIGINT AS mod_term
         FROM pc LEFT JOIN ie ON pc.label = ie.label CROSS JOIN mm"""),
    // --- association rules: integer confidence/lift components at ≥5%
    // cross-multiplied support ---
    Contract("assoc_rules", RelationalQueries.assocRules _,
      // Association rules: integer confidence/lift components; the oracle is
      // the definitional per-basket pair join with the same lift>1
      // cross-multiplication.
      """WITH ob AS MATERIALIZED (
           SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         sup AS (SELECT b, count(*)::BIGINT AS sup FROM ob GROUP BY 1),
         nb AS (SELECT count(DISTINCT o)::BIGINT AS n_baskets FROM ob),
         pr AS (SELECT a.b AS brand_a, b2.b AS brand_b, count(*)::BIGINT AS sup_ab
                FROM ob a JOIN ob b2 ON a.o = b2.o AND a.b < b2.b GROUP BY 1, 2)
         SELECT pr.brand_a, pr.brand_b, pr.sup_ab, sa.sup AS sup_a, sb.sup AS sup_b, nb.n_baskets
         FROM pr JOIN sup sa ON pr.brand_a = sa.b
                 JOIN sup sb ON pr.brand_b = sb.b
                 CROSS JOIN nb
         WHERE pr.sup_ab * nb.n_baskets > sa.sup * sb.sup"""),
    // --- TPC-H Q13 flavor: conditional left join + count-of-counts ---
    Contract("q13_custdist", RelationalQueries.q13CustDist _,
      """SELECT c_count, count(*)::BIGINT AS custdist FROM (
           SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
           FROM customer c LEFT JOIN orders o
             ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
           GROUP BY 1)
         GROUP BY 1"""),
    // --- TPC-H Q22 flavor: integer-exact above-average filter + anti join ---
    Contract("q22_inactive", RelationalQueries.q22Inactive _,
      // Q22 flavor: "above average" as exact integer cross-multiplication —
      // no double average materialized on either engine.
      """WITH c AS (
           SELECT c_custkey, c_nationkey, round(c_acctbal * 100)::BIGINT AS bal_cents
           FROM customer WHERE round(c_acctbal * 100) > 0),
         stats AS (SELECT sum(bal_cents)::BIGINT AS sum_cents, count(*)::BIGINT AS n_pos FROM c)
         SELECT c_nationkey, count(*)::BIGINT AS n_cust, sum(bal_cents)::BIGINT AS total_bal_cents
         FROM c, stats
         WHERE bal_cents * n_pos > sum_cents
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
         GROUP BY 1"""),
    // --- CUSUM changepoint per event type, BIGINT cross-multiplied stat ---
    Contract("cusum_changepoint", RelationalQueries.cusumChangepoint _,
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS hr, count(*)::BIGINT AS cnt
           FROM events GROUP BY 1, 2),
         cum AS (
           SELECT event_type, hr,
                  sum(cnt) OVER (PARTITION BY event_type ORDER BY hr)::BIGINT AS prefix,
                  row_number() OVER (PARTITION BY event_type ORDER BY hr)::BIGINT AS i
           FROM hourly),
         tot AS (SELECT event_type, max(prefix)::BIGINT AS total, max(i)::BIGINT AS n
                 FROM cum GROUP BY 1),
         st AS (SELECT c.event_type, c.hr, abs(t.n * c.prefix - c.i * t.total)::BIGINT AS stat
                FROM cum c JOIN tot t ON c.event_type = t.event_type),
         mx AS (SELECT event_type, max(stat)::BIGINT AS mstat FROM st GROUP BY 1)
         SELECT s.event_type, min(s.hr) AS cp_hour, m.mstat AS stat
         FROM st s JOIN mx m ON s.event_type = m.event_type AND s.stat = m.mstat
         GROUP BY s.event_type, m.mstat"""),
    // --- per-nation OLS revenue slope, integer numerator/denominator ---
    Contract("ols_trend", RelationalQueries.olsTrend _,
      // OLS slope components: exact integer cross-products; x is the day
      // offset from 1995-01-01 (DATE subtraction = integer days in DuckDB,
      // datediff on dates in Spark). BIGINT casts defuse DuckDB's
      // sum→HUGEINT widening.
      """WITH daily AS (
           SELECT c.c_nationkey,
                  (o.o_orderdate::DATE - DATE '1995-01-01')::BIGINT AS x,
                  sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS y
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           GROUP BY 1, 2)
         SELECT c_nationkey, count(*)::BIGINT AS n,
                (count(*) * sum(x * y) - sum(x) * sum(y))::BIGINT AS slope_num,
                (count(*) * sum(x * x) - sum(x) * sum(x))::BIGINT AS slope_den
         FROM daily GROUP BY 1"""),
    // --- lag-1 autocorrelation of per-type daily counts, exact components ---
    Contract("autocorr_lag1", RelationalQueries.autocorrLag1 _,
      // Lag-1 autocorrelation components: lag over the per-(type, day)
      // AGGREGATE series (adjacent observed days); BIGINT casts defuse
      // DuckDB's sum→HUGEINT widening.
      """WITH daily AS (
           SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS cnt
           FROM events GROUP BY 1, 2),
         lagged AS (
           SELECT event_type, cnt AS cur,
                  lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev
           FROM daily)
         SELECT event_type, count(*)::BIGINT AS n_pairs,
                sum(prev)::BIGINT AS sum_prev, sum(cur)::BIGINT AS sum_cur,
                sum(prev * cur)::BIGINT AS sum_pc,
                sum(prev * prev)::BIGINT AS sum_pp,
                sum(cur * cur)::BIGINT AS sum_cc
         FROM lagged WHERE prev IS NOT NULL
         GROUP BY 1"""),
    // --- SCD2 dimension build: equal-type runs → [valid_from, valid_to) ---
    Contract("scd2_build", RelationalQueries.scd2Build _,
      // SCD2: lag-detected change rows, lead-stitched validity intervals.
      """WITH ordered AS (
           SELECT user_id, ts, event_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           FROM events),
         chg AS (SELECT * FROM ordered
                 WHERE prev_type IS NULL OR prev_type <> event_type)
         SELECT user_id, event_type, ts AS valid_from,
                coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         TIMESTAMP '2100-01-01') AS valid_to,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)::BIGINT AS version
         FROM chg"""),
    // --- CUPED variance-reduced A/B readout, exact moment components ---
    Contract("cuped_adjust", RelationalQueries.cupedAdjust _,
      // CUPED: per-user (pre, post) cents pairs split at the fixed midpoint,
      // then per-(type, arm) exact moments; arm = the ab_split_stats hash.
      s"""WITH per_user AS (
           SELECT event_type,
                  ${RelationalQueries.abArmSql("'A'", "'B'")} AS arm,
                  user_id,
                  sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN round(value * 100)::BIGINT
                           ELSE 0 END)::BIGINT AS x,
                  sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN round(value * 100)::BIGINT
                           ELSE 0 END)::BIGINT AS y
           FROM events GROUP BY 1, 2, 3)
         SELECT event_type, arm, count(*)::BIGINT AS n_users,
                sum(x)::BIGINT AS sum_x, sum(y)::BIGINT AS sum_y,
                sum(x * y)::BIGINT AS sum_xy, sum(x * x)::BIGINT AS sum_xx
         FROM per_user GROUP BY 1, 2"""),
    // --- tf-weighted shingle-cosine near-dup pairs (exact cross-multiplied τ) ---
    Contract("tf_cosine", (s, d) =>
      pipeline.Dedup.tfCosinePairs(Tables.documents(s, d), k = 3, tauPct = 80L),
      // tf-cosine pairs: definitional 3-word-shingle tf join (the
      // Dedup.shinglesSql shingles WITHOUT list_distinct — multiplicity is
      // the payload); HUGEINT cross-multiply mirrors the engine's
      // decimal(38,0) comparison.
      s"""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents),
         tok AS (
           SELECT doc_id, unnest(
             ${pipeline.Dedup.shinglesSql(3)}) AS w
           FROM toks),
         tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
         nrm AS (SELECT doc_id, sum(tf * tf)::BIGINT AS nsq FROM tf GROUP BY 1),
         nm AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  sum(a.tf * b.tf)::BIGINT AS num
           FROM tf a JOIN tf b ON a.w = b.w AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT n.doc_a, n.doc_b, n.num, na.nsq AS nsq_a, nb.nsq AS nsq_b
         FROM nm n
         JOIN nrm na ON n.doc_a = na.doc_id
         JOIN nrm nb ON n.doc_b = nb.doc_id
         WHERE 10000::HUGEINT * n.num * n.num >= 6400::HUGEINT * na.nsq * nb.nsq"""),
    // --- Benford first-digit profile of order totals ---
    Contract("benford_digits", RelationalQueries.benfordDigits _,
      // Benford screen: first character of the exact cents string.
      """SELECT substring(round(o_totalprice * 100)::BIGINT::VARCHAR, 1, 1) AS digit,
                count(*)::BIGINT AS cnt
         FROM orders GROUP BY 1"""),
    // --- KMV sketch-merge audience overlap per event-type pair ---
    Contract("kmv_overlap", (s, d) => RelationalQueries.kmvOverlap(Tables.events(s, d)),
      // KMV overlap: replay both per-type bottom-256 sketches, merge to the
      // union's bottom-256, count two-sided members (sketch membership is
      // set membership below the union's k-th hash).
      s"""WITH h AS (
           SELECT DISTINCT event_type,
                  ${duckdbHash60("user_id::VARCHAR")} AS hv
           FROM events),
         r AS (SELECT event_type, hv,
                 row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
               FROM h),
         s AS (SELECT event_type, hv FROM r WHERE rn <= 256),
         ty AS (SELECT DISTINCT event_type FROM s),
         pr AS (SELECT t1.event_type AS ta, t2.event_type AS tb
                FROM ty t1 JOIN ty t2 ON t1.event_type < t2.event_type),
         mrg AS (
           SELECT pr.ta, pr.tb, s.hv FROM pr JOIN s ON s.event_type = pr.ta
           UNION ALL
           SELECT pr.ta, pr.tb, s.hv FROM pr JOIN s ON s.event_type = pr.tb),
         du AS (SELECT ta, tb, hv, count(*) AS sides FROM mrg GROUP BY 1, 2, 3),
         rk AS (SELECT ta, tb, hv, sides,
                  row_number() OVER (PARTITION BY ta, tb ORDER BY hv) AS rn
                FROM du)
         SELECT ta AS type_a, tb AS type_b, count(*)::BIGINT AS k_eff,
                sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END)::BIGINT AS inter_k,
                max(hv)::BIGINT AS kth_hash
         FROM rk WHERE rn <= 256 GROUP BY 1, 2"""),
    // --- functional-dependency audit over candidate det→dep pairs ---
    Contract("fd_audit", RelationalQueries.fdAudit _,
      // FD audit: candidate dependencies, violations = keys with >1 dependent.
      """SELECT 'o_orderkey->o_custkey' AS fd, count(*)::BIGINT AS n_keys,
                sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)::BIGINT AS violations
         FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS nv FROM orders GROUP BY 1)
         UNION ALL
         SELECT 'o_custkey->o_orderpriority', count(*)::BIGINT,
                sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)::BIGINT
         FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nv FROM orders GROUP BY 1)
         UNION ALL
         SELECT 'l_orderkey->l_suppkey', count(*)::BIGINT,
                sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)::BIGINT
         FROM (SELECT l_orderkey, count(DISTINCT l_suppkey) AS nv FROM lineitem GROUP BY 1)
         UNION ALL
         SELECT 'p_brand->p_type', count(*)::BIGINT,
                sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)::BIGINT
         FROM (SELECT p_brand, count(DISTINCT p_type) AS nv FROM part GROUP BY 1)
         UNION ALL
         SELECT 'c_custkey->c_mktsegment', count(*)::BIGINT,
                sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)::BIGINT
         FROM (SELECT c_custkey, count(DISTINCT c_mktsegment) AS nv FROM customer GROUP BY 1)"""),
    // --- per-type inter-arrival gap histogram, integer µs bucket ladder ---
    Contract("interarrival_hist", RelationalQueries.interarrivalHist _,
      // Inter-arrival histogram: exact µs gaps, integer bucket ladder.
      """WITH g AS (
           SELECT event_type,
                  epoch_us(ts) - lag(epoch_us(ts), 1)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
           FROM events)
         SELECT event_type,
                CASE WHEN gap_us < 1000000 THEN '0_lt_1s'
                     WHEN gap_us < 10000000 THEN '1_1s_10s'
                     WHEN gap_us < 60000000 THEN '2_10s_1m'
                     WHEN gap_us < 600000000 THEN '3_1m_10m'
                     WHEN gap_us < 3600000000 THEN '4_10m_1h'
                     WHEN gap_us < 21600000000 THEN '5_1h_6h'
                     WHEN gap_us < 86400000000 THEN '6_6h_1d'
                     ELSE '7_ge_1d' END AS bucket,
                count(*)::BIGINT AS cnt
         FROM g WHERE gap_us IS NOT NULL
         GROUP BY 1, 2"""),
    // --- per-nation Gini concentration, exact ranked-sum decomposition ---
    Contract("gini_concentration", RelationalQueries.giniConcentration _,
      // Gini numerator via the ranked-sum identity 2·Σ(i·x) − (n+1)·Σx;
      // row_number among tied x is arbitrary but the sum is tie-invariant.
      """WITH c AS (
           SELECT c_nationkey, round(c_acctbal * 100)::BIGINT AS x
           FROM customer WHERE round(c_acctbal * 100) > 0),
         r AS (SELECT c_nationkey, x,
                 row_number() OVER (PARTITION BY c_nationkey ORDER BY x)::BIGINT AS i
               FROM c)
         SELECT c_nationkey, count(*)::BIGINT AS n, sum(x)::BIGINT AS sum_cents,
                (2 * sum(i * x) - (count(*) + 1) * sum(x))::BIGINT AS gini_num
         FROM r GROUP BY 1"""),
    // --- per-key reservoir sample via the bounded heap aggregate (k rows
    // per group cross the shuffle, not the corpus) ---
    Contract("reservoir_sample", (s, d) =>
      pipeline.TrainingData.reservoirSample(Tables.events(s, d), "event_type", "event_id", 8),
      // Reservoir sample: bottom-8 by the low-52-bit portable hash
      // (hex digits 3..15 of md5 = the low 52 of the 60-bit hash60).
      """WITH h AS (
           SELECT event_type, event_id,
                  ('0x' || substring(md5('rsv_' || event_id::VARCHAR), 3, 13))::BIGINT AS hv
           FROM events),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY event_type
                                        ORDER BY hv, event_id) AS rk
           FROM h)
         SELECT event_type, event_id, rk::BIGINT AS rk FROM r WHERE rk <= 8"""),
    // --- weighted shortest paths: Bellman–Ford relaxation rounds over
    // hash-derived integer weights; generated oracle CTE chain ---
    Contract("sssp", (s, d) => {
      val und = hashGraph(s, d)
        .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
        .distinct().filter(col("a") =!= col("b"))
        .withColumn("wt",
          pmod(graft.functions.PortableHash.hash60(
            concat(lit("wt_"), col("a"), lit("_"), col("b"))), lit(9L)) + 1L)
      sources.GraphLoader.sssp(und, rounds = 8)
    },
      // SSSP: unrolled Bellman–Ford rounds from the generator; weights are
      // the portable hash of the canonical edge.
      s"""WITH wund AS MATERIALIZED (
           SELECT a, b,
                  ${duckdbHash60("'wt_' || a::VARCHAR || '_' || b::VARCHAR")}
                    % 9 + 1 AS wt
           FROM (
             $HashUndSql)),
         ${sources.GraphLoader.ssspOracleCtes(rounds = 8)}
         SELECT v AS vertex, dist FROM s8"""),
    // --- EWMA over hourly closes as exact integer (num, den) pairs ---
    Contract("ewma_smooth", (s, d) => RelationalQueries.ewmaSmooth(Tables.events(s, d)), {
      // EWMA: the same 16 power-of-two lag terms, generated once in Scala
      // for both dialects (anti-drift).
      val num = (1 to 15)
        .map(k => s"coalesce(lag(cents, $k) OVER w * ${1L << (15 - k)}, 0)").mkString(" + ")
      val den = (1 to 15)
        .map(k => s"CASE WHEN lag(cents, $k) OVER w IS NOT NULL THEN ${1L << (15 - k)} ELSE 0 END")
        .mkString(" + ")
      s"""WITH base AS (
           SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS h, ts, event_id,
                  round(value * 100)::BIGINT AS cents
           FROM events),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY event_type, h
                                        ORDER BY ts DESC, event_id DESC) AS rd
           FROM base),
         hourly AS (SELECT event_type, h, cents FROM r WHERE rd = 1)
         SELECT event_type, h, cents,
                (cents * 32768 + $num)::BIGINT AS ewma_num,
                (32768 + $den)::BIGINT AS ewma_den
         FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)"""
    }),
    // --- JSON payload extraction feeding exact per-type integer stats ---
    Contract("json_extract", (s, d) => RelationalQueries.jsonExtractStats(Tables.events(s, d)),
      // JSON extraction: ->> '$.k' is DuckDB's text-extract; both engines
      // yield NULL (counted, not dropped) on unparsable rows.
      """WITH p AS (
           SELECT event_type, TRY_CAST(props ->> '$.k' AS BIGINT) AS k FROM events)
         SELECT event_type, count(*)::BIGINT AS n, count(k)::BIGINT AS n_parsed,
                sum(k)::BIGINT AS sum_k, min(k)::BIGINT AS min_k, max(k)::BIGINT AS max_k,
                count(DISTINCT k)::BIGINT AS ndv_k
         FROM p GROUP BY 1"""),
    // --- Spark 4 VARIANT path: parse once into the binary variant
    // encoding, typed variant_get extraction (the modern semi-structured
    // column story next to json_extract's string-path get) ---
    Contract("variant_extract", (s, d) =>
      Tables.events(s, d)
        .select(expr("variant_get(parse_json(props), '$.k', 'long')").as("k"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents")),
      // Variant path: typed extraction of the same key DuckDB reads as JSON.
      """SELECT json_extract(props, '$.k')::BIGINT AS k, count(*)::BIGINT AS cnt,
                sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents
         FROM events GROUP BY 1"""),
    // --- max drawdown via the hierarchical prefix-MAX carry ---
    Contract("max_drawdown", (s, d) => RelationalQueries.maxDrawdown(Tables.events(s, d)),
      // Max drawdown: the oracle states the GLOBAL running max the
      // engine's day-local + carry decomposition must reproduce.
      """WITH b AS (
           SELECT event_type, epoch_ns(ts) // 1000000 AS tms, event_id,
                  round(value * 100)::BIGINT AS cents
           FROM events),
         r AS (
           SELECT *, tms // 86400000 AS day,
                  max(cents) OVER (PARTITION BY event_type ORDER BY tms, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS run_max
           FROM b)
         SELECT event_type, day, max(run_max - cents)::BIGINT AS max_drawdown_cents,
                count(*)::BIGINT AS n
         FROM r GROUP BY 1, 2"""),
    // --- collocation mining by integer lift cross-multiplication
    // (lift 1 = above independence: the synthetic corpus is too uniform
    // for the default lift-20 bar to select anything) ---
    Contract("collocations", (s, d) =>
      pipeline.TextAnalysis.collocations(Tables.documents(s, d), minPair = 3L, liftNum = 1L),
      // Collocations: integer lift inequality — no PMI doubles anywhere.
      """WITH toks AS (
           SELECT list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
           FROM documents),
         uni AS (
           SELECT x AS w, count(*)::BIGINT AS c1
           FROM toks, unnest(t) AS u(x) GROUP BY 1),
         n AS (SELECT sum(len(t))::BIGINT AS n_tokens FROM toks),
         bgs AS (
           SELECT x AS bgstr
           FROM toks, unnest([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS u(x)),
         bg AS (
           SELECT split_part(bgstr, ' ', 1) AS w1, split_part(bgstr, ' ', 2) AS w2,
                  count(*)::BIGINT AS n_pair
           FROM bgs GROUP BY 1, 2 HAVING count(*) >= 3)
         SELECT bg.w1, bg.w2, bg.n_pair, u1.c1 AS n_w1, u2.c1 AS n_w2, n.n_tokens
         FROM bg JOIN uni u1 ON u1.w = bg.w1 JOIN uni u2 ON u2.w = bg.w2, n
         WHERE bg.n_pair * n.n_tokens >= 1 * u1.c1 * u2.c1"""),
    // --- bigram LM commonness: corpus bigram frequencies folded back per
    // doc as exact integers (log-free LM likelihood analog) ---
    Contract("ngram_lm_score", (s, d) =>
      pipeline.TextAnalysis.bigramLmScore(Tables.documents(s, d)),
      // Bigram LM score: strict bigrams via list comprehension; corpus
      // frequency fold-back — exact integers, zero-bigram docs kept.
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
           FROM documents),
         bg AS (
           SELECT doc_id, x AS bg
           FROM toks, unnest([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS u(x)),
         cnt AS (SELECT bg, count(*)::BIGINT AS c FROM bg GROUP BY 1),
         per AS (
           SELECT doc_id, count(*)::BIGINT AS nb, sum(c)::BIGINT AS fs
           FROM bg JOIN cnt USING (bg) GROUP BY 1)
         SELECT d.doc_id, coalesce(per.nb, 0)::BIGINT AS n_bigrams,
                coalesce(per.fs, 0)::BIGINT AS freq_sum
         FROM documents d LEFT JOIN per USING (doc_id)"""),
    // --- robust median/MAD dispersion + outlier counts (two histogram
    // rank picks, no global sort) ---
    Contract("robust_zscore", (s, d) => RelationalQueries.robustZscore(Tables.events(s, d)),
      // Robust median/MAD: lower-median rank picks; |x−med| and 3·mad are
      // single IEEE ops on identical inputs — engine-exact.
      """WITH v AS (SELECT event_type, value FROM events),
         r AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM v),
         med AS (
           SELECT event_type, min(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med
           FROM r GROUP BY 1),
         dv AS (
           SELECT v.event_type, abs(value - med) AS adev
           FROM v JOIN med USING (event_type)),
         r2 AS (
           SELECT event_type, adev,
                  row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS m
           FROM dv),
         mad AS (
           SELECT event_type, min(CASE WHEN rn = (m + 1) // 2 THEN adev END) AS mad
           FROM r2 GROUP BY 1)
         SELECT v.event_type, med, mad, count(*)::BIGINT AS n,
                sum((abs(value - med) > mad * 3)::BIGINT)::BIGINT AS n_outliers
         FROM v JOIN med USING (event_type) JOIN mad USING (event_type)
         GROUP BY 1, 2, 3"""),
    // --- time-weighted average components per (type, day): day-local
    // lead + bounded day-axis stitch, exact BIGINT cents·ms ---
    Contract("twap", (s, d) => RelationalQueries.twap(Tables.events(s, d)),
      // TWAP components: the oracle states the global per-type lead; the
      // engine's day-local lead + day-axis stitch must agree exactly.
      """WITH e AS (
           SELECT event_type, epoch_ns(ts) // 1000000 AS tms, event_id,
                  round(value * 100)::BIGINT AS cents
           FROM events),
         w AS (
           SELECT *, lead(tms) OVER (PARTITION BY event_type
                                     ORDER BY tms, event_id) AS next_tms
           FROM e)
         SELECT event_type, tms // 86400000 AS day,
                sum(cents * (next_tms - tms))::BIGINT AS num_cents_ms,
                sum(next_tms - tms)::BIGINT AS dur_ms,
                count(*)::BIGINT AS n_holds
         FROM w WHERE next_tms IS NOT NULL
         GROUP BY 1, 2"""),
    // --- Levenshtein-≤1 pairs over customer names via symmetric-delete
    // blocking (equi-join on deletion variants; no quadratic compare) ---
    Contract("fuzzy_join", (s, d) =>
      pipeline.Dedup.fuzzyJoin(Tables.customer(s, d), "c_name")
        .select(col("val_a").as("name_a"), col("val_b").as("name_b")),
      // Fuzzy join: the oracle is the DEFINITIONAL quadratic Levenshtein
      // join over distinct names — agreement proves the symmetric-delete
      // blocking loses no pair.
      """WITH n AS (SELECT DISTINCT c_name AS nm FROM customer)
         SELECT a.nm AS name_a, b.nm AS name_b
         FROM n a JOIN n b ON a.nm < b.nm AND levenshtein(a.nm, b.nm) <= 1"""),
    // --- 3-step path mining (transitions one step deeper) ---
    Contract("event_paths", (s, d) => RelationalQueries.eventPaths(Tables.events(s, d)),
      // 3-step paths: two leads over the deterministic per-user order.
      """WITH nx AS (
           SELECT event_type AS step1,
                  lead(event_type, 1) OVER w AS step2,
                  lead(event_type, 2) OVER w AS step3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT step1, step2, step3, count(*)::BIGINT AS n
         FROM nx WHERE step3 IS NOT NULL GROUP BY 1, 2, 3"""),
    // --- period-over-period daily deltas (bounded day-axis lag) ---
    Contract("period_over_period", (s, d) =>
      RelationalQueries.periodOverPeriod(Tables.events(s, d)),
      // Period-over-period: lag over observed days only; exact cents.
      """WITH daily AS (
           SELECT event_type, epoch_ns(ts) // 1000000 // 86400000 AS day,
                  count(*)::BIGINT AS n,
                  sum(round(value * 100)::BIGINT)::BIGINT AS cents
           FROM events GROUP BY 1, 2),
         l AS (
           SELECT *, coalesce(lag(n) OVER w, 0)::BIGINT AS prev_n,
                  coalesce(lag(cents) OVER w, 0)::BIGINT AS prev_cents
           FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
         SELECT event_type, day, n, prev_n, (n - prev_n)::BIGINT AS delta_n,
                cents, prev_cents, (cents - prev_cents)::BIGINT AS delta_cents
         FROM l"""),
    // --- gaps-and-islands merge of variable-length intervals (running
    // max-of-end break test — not the sessionize prev-row gap) ---
    Contract("interval_merge", (s, d) => RelationalQueries.intervalMerge(Tables.events(s, d)),
      // Gaps-and-islands: the oracle states the same running-max-of-end
      // break test; durations are integer ms derived from cents (the
      // double-% dance keeps negative values portable).
      """WITH b AS (
           SELECT user_id, epoch_ns(ts) // 1000000 AS s_ms, event_id,
                  epoch_ns(ts) // 1000000 +
                    ((round(value * 100)::BIGINT * 104729 % 86400000) + 86400000) % 86400000
                    + 1 AS e_ms
           FROM events),
         f AS (
           SELECT *, max(e_ms) OVER (PARTITION BY user_id ORDER BY s_ms, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS pme
           FROM b),
         g AS (
           SELECT *, CASE WHEN pme IS NULL OR s_ms > pme THEN 1 ELSE 0 END AS brk
           FROM f),
         h AS (
           SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY s_ms, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                    AS island
           FROM g)
         SELECT user_id, island, min(s_ms)::BIGINT AS start_ms,
                max(e_ms)::BIGINT AS end_ms, count(*)::BIGINT AS n_events
         FROM h GROUP BY 1, 2"""),
    // --- rolling distinct actives via the first-touch identity + the
    // hierarchical prefix carry (linear, no rolling COUNT DISTINCT) ---
    Contract("rolling_actives", RelationalQueries.rollingActivesQuery _,
      // Rolling actives: cumulative distinct = count of first-days ≤ d.
      """WITH fd AS (
           SELECT user_id, min(epoch_ns(ts) // 1000000 // 86400000) AS fday
           FROM events GROUP BY 1),
         np AS (SELECT fday, count(*)::BIGINT AS n_new FROM fd GROUP BY 1),
         od AS (SELECT DISTINCT epoch_ns(ts) // 1000000 // 86400000 AS day FROM events)
         SELECT od.day, coalesce(np.n_new, 0)::BIGINT AS n_new,
                (SELECT count(*) FROM fd WHERE fd.fday <= od.day)::BIGINT AS cum_actives
         FROM od LEFT JOIN np ON od.day = np.fday"""),
    // --- last-touch attribution of purchases to the prior event type ---
    Contract("attribution", (s, d) => RelationalQueries.attributionLastTouch(Tables.events(s, d)),
      // Last-touch attribution: strictly-prior frame, ignore-nulls last.
      """WITH w AS (
           SELECT user_id, ts, event_id, event_type,
                  round(value * 100)::BIGINT AS cents,
                  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                             IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS att
           FROM events)
         SELECT coalesce(att, 'none') AS att_type, count(*)::BIGINT AS n_purchases,
                sum(cents)::BIGINT AS cents
         FROM w WHERE event_type = 'purchase' GROUP BY 1"""),
    // --- referential-integrity audit: orphan/childless counts per FK ---
    Contract("ref_integrity", RelationalQueries.refIntegrity _,
      // Referential integrity: NOT-EXISTS counts in both directions.
      """SELECT 'lineitem->orders' AS relationship,
                (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))::BIGINT
                  AS n_orphans,
                (SELECT count(*) FROM orders o WHERE NOT EXISTS
                  (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))::BIGINT
                  AS n_childless
         UNION ALL
         SELECT 'lineitem->part',
                (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                  (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))::BIGINT,
                (SELECT count(*) FROM part p WHERE NOT EXISTS
                  (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey))::BIGINT
         UNION ALL
         SELECT 'lineitem->supplier',
                (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                  (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))::BIGINT,
                (SELECT count(*) FROM supplier s WHERE NOT EXISTS
                  (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey))::BIGINT
         UNION ALL
         SELECT 'orders->customer',
                (SELECT count(*) FROM orders o WHERE NOT EXISTS
                  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))::BIGINT,
                (SELECT count(*) FROM customer c WHERE NOT EXISTS
                  (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))::BIGINT
         UNION ALL
         SELECT 'customer->nation',
                (SELECT count(*) FROM customer c WHERE NOT EXISTS
                  (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))::BIGINT,
                (SELECT count(*) FROM nation n WHERE NOT EXISTS
                  (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey))::BIGINT"""),
    // --- boolean conjunctive retrieval over the token index ---
    Contract("keyword_search", (s, d) =>
      pipeline.Ranking.keywordSearch(Tables.documents(s, d),
        must = Seq("spark", "join", "vector"), mustNot = Seq("slow")),
      // Conjunctive retrieval: ALL of (spark, join, vector), NONE of slow.
      """WITH toks AS (
           SELECT doc_id, source,
                  list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
           FROM documents)
         SELECT doc_id, source FROM toks
         WHERE list_contains(t, 'spark') AND list_contains(t, 'join')
           AND list_contains(t, 'vector') AND NOT list_contains(t, 'slow')"""),
    // --- entity resolution capstone: SymSpell fuzzy pairs → connected
    // components → lexicographic-min canonical per cluster (the %10
    // customer subset keeps the oracle's reachability walk bounded) ---
    Contract("entity_resolution", (s, d) =>
      pipeline.Dedup.entityResolution(
        Tables.customer(s, d).filter(col("c_custkey") % 10 === 0), "c_name"),
      // Entity resolution: reachability walk over the DEFINITIONAL
      // Levenshtein pairs; canonical = min name per component (hash-free
      // contract — the engine's internal hash ids never surface).
      """WITH RECURSIVE n AS (
           SELECT DISTINCT c_name AS nm FROM customer WHERE c_custkey % 10 = 0),
         p AS (
           SELECT a.nm AS na, b.nm AS nb
           FROM n a JOIN n b ON a.nm < b.nm AND levenshtein(a.nm, b.nm) <= 1),
         edges AS (SELECT na AS s, nb AS t FROM p UNION ALL SELECT nb, na FROM p),
         walk(id, lab) AS (
           SELECT s, s FROM edges
           UNION
           SELECT e.s, w.lab FROM edges e JOIN walk w ON w.id = e.t),
         comp AS (SELECT id, min(lab) AS canon FROM walk GROUP BY id)
         SELECT n.nm AS name, coalesce(c.canon, n.nm) AS canonical
         FROM n LEFT JOIN comp c ON n.nm = c.id"""),
    // --- leakage-safe split: whole groups assigned to one split ---
    Contract("group_split", (s, d) =>
      pipeline.TrainingData.groupSplit(Tables.documents(s, d), "source"),
      // Group split: the split bucket hashes the GROUP value, so groups
      // never straddle splits.
      s"""SELECT doc_id, source,
                CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM (SELECT doc_id, source,
                 ${duckdbHash60("'split_' || source")} % 100 AS b
               FROM documents)"""),
    Contract("windowed_covariance", (s, d) => RelationalQueries.windowedCovariancePortable(s, d),
      // Portable windowed covariance: cent-quantized exact bin sums, then
      // sorted sequential folds (the BM25 pattern) for every double
      // aggregation above bin level — bit-identical doubles on both engines,
      // compared UNROUNDED: the tidy cent-rationals land exactly on the 1e-6
      // grid, where the engines' round() tie rules disagree — rounding would
      // (and did) reintroduce the very divergence the folds eliminate.
      // The double-based batch/streaming twins remain differentials of this.
      """WITH b AS (
           SELECT (floor(epoch(ts) / 21600) * 21600)::BIGINT AS w,
                  (floor(epoch(ts) / 3600) * 3600)::BIGINT AS t,
                  event_type AS c,
                  sum(round(value * 100)::BIGINT)::BIGINT AS sc, count(*)::BIGINT AS n
           FROM events GROUP BY 1, 2, 3),
         bv AS (SELECT w, t, c, sc / (100.0 * n) AS v FROM b),
         mu AS (
           SELECT w, c,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    [x.v for x in list_sort(list(struct_pack(t := t, v := v)))]),
                    (a, h) -> a + h) / count(*) AS mean
           FROM bv GROUP BY w, c),
         nb AS (SELECT w, count(DISTINCT t)::BIGINT AS nb FROM bv GROUP BY w),
         u AS (SELECT bv.w, bv.t, bv.c, bv.v - mu.mean AS u
               FROM bv JOIN mu ON bv.w = mu.w AND bv.c = mu.c),
         sp AS (
           SELECT u1.w AS w, u1.c AS c, u2.c AS c2,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    [x.p for x in list_sort(list(struct_pack(t := u1.t, p := u1.u * u2.u)))]),
                    (a, h) -> a + h) AS sp
           FROM u u1 JOIN u u2 ON u1.w = u2.w AND u1.t = u2.t
           WHERE u1.c <= u2.c
           GROUP BY u1.w, u1.c, u2.c)
         SELECT sp.w AS win_start, c, c2, sp.sp / (nb.nb - 1.0) AS cov
         FROM sp JOIN nb ON sp.w = nb.w WHERE nb.nb > 1"""),
    Contract("bpe_tokens", RelationalQueries.bpeTokens _,
      """SELECT doc_id,
                len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))::BIGINT AS n_bpe,
                len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS n_ws
         FROM documents"""),
    Contract("string_funcs", RelationalQueries.stringFuncs _,
      """SELECT c_custkey, upper(c_name) AS name_upper,
                substring(c_mktsegment, 1, 3) AS seg3,
                concat_ws('|', c_mktsegment, c_name) AS tagged,
                length(c_name)::BIGINT AS name_len,
                lpad(c_custkey::VARCHAR, 8, '0') AS key_padded
         FROM customer"""),
    Contract("top_orders", RelationalQueries.topOrders _,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),
    Contract("outer_join_defaults", RelationalQueries.outerJoinDefaults _,
      """SELECT c.c_custkey,
                coalesce(o.n, 0) AS n_orders,
                coalesce(o.spent, 0.0) AS total_spent
         FROM customer c LEFT JOIN (
           SELECT o_custkey, count(*)::BIGINT AS n,
                  sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS spent
           FROM orders GROUP BY o_custkey) o
         ON c.c_custkey = o.o_custkey"""),
    Contract("approx_distinct", RelationalQueries.approxDistinct _,
      // KMV distinct sketch replay: the k smallest distinct portable hashes
      // are deterministic, so the oracle re-runs the SKETCH itself (not just
      // the exact count) — row_number over hash order ≤ k, estimate =
      // floor((k-1)·2^60 / h_k), every constant exactly representable in
      // double and the one division IEEE-identical on both engines.
      s"""WITH h AS (
           SELECT DISTINCT event_type,
                  ${duckdbHash60("user_id::VARCHAR")} AS hv
           FROM events),
         r AS (
           SELECT event_type, hv,
                  row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
           FROM h),
         s AS (
           SELECT event_type, count(*) AS n,
                  max(CASE WHEN rn = 256 THEN hv END) AS hk
           FROM r WHERE rn <= 256 GROUP BY event_type),
         e AS (
           SELECT event_type, count(DISTINCT user_id) AS exact_users
           FROM events GROUP BY event_type)
         SELECT s.event_type,
                CASE WHEN s.n < 256 THEN s.n
                     ELSE CAST(floor(255 * 1152921504606846976.0 / CAST(s.hk AS DOUBLE)) AS BIGINT)
                END AS est_users,
                e.exact_users
         FROM s JOIN e USING (event_type)"""),
    Contract("approx_quantiles", RelationalQueries.approxQuantiles _,
      // KMV-sample quantile replay: the oracle re-draws the identical
      // bottom-k-by-hash sample and reads the same sorted positions.
      // Colliding hashes keep min(v) — the buffer's order-independent rule.
      s"""WITH h AS (
           SELECT l_returnflag AS g, l_extendedprice AS v,
                  ${duckdbHash60("'q_' || l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR")} AS hv
           FROM lineitem),
         d AS (SELECT g, hv, min(v) AS v FROM h GROUP BY g, hv),
         r AS (SELECT g, hv, v, row_number() OVER (PARTITION BY g ORDER BY hv) AS rn FROM d),
         s AS (SELECT g, list(v ORDER BY v) AS vs, count(*) AS m
               FROM r WHERE rn <= 512 GROUP BY g),
         c AS (SELECT l_returnflag AS g, count(*) AS n_rows FROM lineitem GROUP BY 1)
         SELECT s.g AS l_returnflag, s.m AS sample_n,
                s.vs[floor(0.1 * (s.m - 1))::BIGINT + 1] AS p10,
                s.vs[floor(0.5 * (s.m - 1))::BIGINT + 1] AS p50,
                s.vs[floor(0.9 * (s.m - 1))::BIGINT + 1] AS p90,
                s.vs[floor(0.99 * (s.m - 1))::BIGINT + 1] AS p99,
                c.n_rows
         FROM s JOIN c USING (g)"""),
    Contract("unpivot_measures", RelationalQueries.unpivotMeasures _,
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS measure, l_extendedprice AS val FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount' AS measure, l_discount AS val FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax' AS measure, l_tax AS val FROM lineitem"""),
    Contract("window_lead_lag", RelationalQueries.windowLeadLag _,
      """SELECT user_id, event_id,
                lag(value) OVER w AS prev_value,
                lead(value) OVER w AS next_value,
                (ntile(4) OVER w)::INT AS quartile
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""),
    Contract("date_agg", RelationalQueries.dateAgg _,
      """SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
                count(*)::BIGINT AS n_orders,
                sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS total
         FROM orders GROUP BY 1, 2"""),
    Contract("cube_agg", RelationalQueries.cubeAgg _,
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
                coalesce(l_linestatus, 'ALL') AS l_linestatus,
                sum(l_quantity) AS sum_qty, count(*)::BIGINT AS n
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""),
    Contract("having_filter", RelationalQueries.havingFilter _,
      """SELECT l_partkey, sum(l_quantity) AS total_qty, count(*)::BIGINT AS n
         FROM lineitem GROUP BY l_partkey HAVING sum(l_quantity) > 100.0"""),
    Contract("conditional_pivot", RelationalQueries.conditionalPivot _,
      """SELECT user_id,
                sum(round(CASE WHEN event_type = 'click' THEN value ELSE 0.0 END * 100)::BIGINT) / 100.0 AS click_value,
                sum(round(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END * 100)::BIGINT) / 100.0 AS purchase_value,
                sum(round(CASE WHEN event_type = 'view' THEN value ELSE 0.0 END * 100)::BIGINT) / 100.0 AS view_value,
                count(*)::BIGINT AS n_events
         FROM events GROUP BY user_id"""),
    Contract("percentiles", RelationalQueries.percentiles _,
      """SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50,
                round(quantile_cont(value, 0.95), 6) AS p95,
                min(value) AS vmin, max(value) AS vmax
         FROM events GROUP BY event_type"""),
    // --- training-data pipeline: dedup ---
    Contract("dedup_exact", (s, d) => pipeline.Dedup.exact(Tables.documents(s, d)),
      """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
                count(*)::BIGINT AS n_copies
         FROM documents GROUP BY md5(text)"""),
    Contract("dedup_minhash", (s, d) => pipeline.Dedup.minhashPairs(Tables.documents(s, d)),
      // Portable MinHash: md5-derived 60-bit base hash per shingle, then a
      // universal-hash family (a_i·x + c_i mod 2³¹−1) with md5-derived
      // coefficients — the oracle recomputes identical signatures and
      // brute-forces band agreement (8 bands × 4 rows).
      s"""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents),
         sh AS (
           SELECT doc_id,
             ${pipeline.Dedup.shinglesSql(3)} AS s
           FROM toks),
         ${pipeline.Dedup.minhashOracleCtes(numHashes = 32)}
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                len([i for i in range(1, 33) if a.sg[i] = b.sg[i]])::DOUBLE / 32.0 AS est_jaccard
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE ${pipeline.Dedup.bandMatchSql(bands = 8, rows = 4)}"""),
    Contract("dedup_jaccard", (s, d) => pipeline.Dedup.jaccardJoin(Tables.documents(s, d)),
      // Exact inverted-index jaccard join: the oracle brute-forces all pairs
      // over *string* shingle sets (the Spark side hashes shingles — jaccard
      // is invariant up to 64-bit collisions).
      s"""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(
             ${pipeline.Dedup.shinglesSql(3)}) AS s
           FROM toks)
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  round(len(list_intersect(a.s, b.s))::DOUBLE /
                        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         WHERE jaccard >= 0.5"""),
    // --- the PRODUCTION hot-shingle valve path (r10): same exact verifier
    // with a RELATIVE cap, maxDf = max(5, N/100) — a shingle in >1% of a
    // web corpus is boilerplate, not duplication. At sf0.01 (N=500 →
    // cap 5) the valve fires on 29 natural hot trigrams and 13 of 25
    // pairs change jaccard vs dedup_jaccard, so this checks the valve
    // semantics, not a copy of the uncapped plan. The count() is the same
    // bounded scalar action class as reduceScalar. ---
    Contract("dedup_jaccard_capped", (s, d) => {
      val docs = Tables.documents(s, d)
      pipeline.Dedup.jaccardJoin(docs, maxDf = math.max(5L, docs.count() / 100))
    },
      // Capped jaccard (the production valve path): inverted-index form so
      // the df > max(5, N/100) exclusion is explicit — intersections count only cold
      // shingles, union sizes stay full-set (matches jaccardJoin's
      // n-from-full-set semantics). String shingles; jaccard is invariant
      // to the Spark side's 64-bit hashing up to collisions.
      s"""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(
             ${pipeline.Dedup.shinglesSql(3)}) AS s
           FROM toks),
         ex AS (SELECT doc_id, unnest(s) AS h FROM sh),
         hot AS (SELECT h FROM ex GROUP BY h
                 HAVING count(*) > greatest(5, (SELECT count(*) FROM documents) // 100)),
         cold AS (SELECT doc_id, h FROM ex ANTI JOIN hot USING (h)),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS shared
           FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         n AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh)
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT doc_a, doc_b,
                  round(shared::DOUBLE / (na.n + nb.n - shared), 6) AS jaccard
           FROM pairs JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id)
         WHERE jaccard >= 0.5"""),
    // --- the valve's accounting surface, aggregated hash-free: how many
    // shingles were dropped at each document frequency (the shingle hashes
    // themselves are engine-internal xxhash64 — df counts are portable) ---
    Contract("dedup_hot_shingles", (s, d) => {
      val docs = Tables.documents(s, d)
      pipeline.Dedup.hotShingles(docs, k = 3, maxDf = math.max(5L, docs.count() / 100))
        .groupBy(col("df")).agg(count(lit(1)).as("n_shingles"))
    },
      // Valve accounting, hash-free: dropped-shingle count per document
      // frequency (df > max(5, N/100) — the relative cap; 5 at the sf0.01 gate).
      s"""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(
             ${pipeline.Dedup.shinglesSql(3)}) AS s
           FROM toks),
         ex AS (SELECT doc_id, unnest(s) AS h FROM sh),
         dfs AS (SELECT h, count(*)::BIGINT AS df FROM ex GROUP BY h
                 HAVING count(*) > greatest(5, (SELECT count(*) FROM documents) // 100))
         SELECT df, count(*)::BIGINT AS n_shingles FROM dfs GROUP BY df"""),
    // --- asymmetric containment (quote/subset detection): ordered pairs
    // where ≥60% of a's shingles appear in b; integer evidence only ---
    Contract("dedup_containment", (s, d) => pipeline.Dedup.containmentJoin(Tables.documents(s, d)),
      // Asymmetric containment: same string-shingle brute force as the
      // dedup_jaccard oracle, ordered pairs, integer cross-multiplied
      // threshold (shared·1000 ≥ 600·n_a).
      s"""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(
             ${pipeline.Dedup.shinglesSql(3)}) AS s
           FROM toks)
         SELECT doc_a, doc_b, shared, n_a, n_b FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  len(list_intersect(a.s, b.s))::BIGINT AS shared,
                  len(a.s)::BIGINT AS n_a, len(b.s)::BIGINT AS n_b
           FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
         WHERE shared * 1000 >= 600 * n_a"""),
    // --- INCREMENTAL dedup: delta batch probed against a persisted
    // signature index (built here from the doc_id%5!=0 "history"; the
    // %5==0 docs are the increment) — history never rescanned ---
    Contract("dedup_incremental", (s, d) => {
      val docs = Tables.documents(s, d)
      val path = java.nio.file.Files.createTempDirectory("graft_sigidx").toString + "/idx"
      pipeline.Dedup.indexSignatures(docs.filter(col("doc_id") % 5 =!= 0), path)
      pipeline.Dedup.minhashPairsDelta(docs.filter(col("doc_id") % 5 === 0), path)
    },
      // Incremental replay: full-corpus banded pairs restricted to those
      // with >= 1 endpoint in the delta (doc_id % 5 = 0) — exactly the
      // new-vs-old + new-vs-new set the index probe discovers.
      s"""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents),
         sh AS (
           SELECT doc_id,
             ${pipeline.Dedup.shinglesSql(3)} AS s
           FROM toks),
         ${pipeline.Dedup.minhashOracleCtes(numHashes = 32)}
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                len([i for i in range(1, 33) if a.sg[i] = b.sg[i]])::DOUBLE / 32.0 AS est_jaccard
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE ${pipeline.Dedup.bandMatchSql(bands = 8, rows = 4)}
           AND (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)"""),
    Contract("dedup_simhash", (s, d) => pipeline.Dedup.simhashPairs(Tables.documents(s, d)),
      // Portable SimHash; for maxHamming=3 the 16-bit banding is lossless
      // (pigeonhole), so brute-force pairs within the Hamming radius are the
      // exact expected result.
      s"""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents),
         th AS (
           SELECT doc_id, [${duckdbHash60("x")} for x in t] AS h
           FROM toks),
         sig AS (
           SELECT doc_id,
             list_sum([CASE WHEN 2 * len([v for v in h if (v >> i) & 1 = 1]) > len(h)
                            THEN (1::BIGINT << i) ELSE 0::BIGINT END
                       for i in range(0, 64)])::BIGINT AS sg
           FROM th)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.sg, b.sg))::BIGINT AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sg, b.sg)) <= 3"""),
    // --- near-dup pairs resolved into clusters (connected components):
    // the keep/drop decision a dedup pipeline actually ships ---
    Contract("dedup_clusters", (s, d) => pipeline.Components.duplicateClusters(Tables.documents(s, d)),
      // The dedup_minhash pairs (Dedup.minhashOracleCtes signatures,
      // Dedup.bandMatchSql banding), resolved into connected components by
      // a recursive CTE (min reachable id per node ≡ the engine's min-label
      // fixpoint).
      s"""WITH RECURSIVE toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents),
         sh AS (
           SELECT doc_id,
             ${pipeline.Dedup.shinglesSql(3)} AS s
           FROM toks),
         ${pipeline.Dedup.minhashOracleCtes(numHashes = 32)},
         pairs AS (
           SELECT a.doc_id AS da, b.doc_id AS db
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           WHERE ${pipeline.Dedup.bandMatchSql(bands = 8, rows = 4)}),
         edges AS (
           SELECT da AS s, db AS t FROM pairs
           UNION ALL SELECT db, da FROM pairs),
         walk(id, lab) AS (
           SELECT s, s FROM edges
           UNION
           SELECT e.s, w.lab FROM edges e JOIN walk w ON w.id = e.t)
         SELECT id AS doc_id, MIN(lab) AS cluster_id,
                (id = MIN(lab)) AS is_canonical
         FROM walk GROUP BY id"""),
    // --- training-data pipeline: text analysis ---
    Contract("text_quality", (s, d) => pipeline.TextAnalysis.qualityStats(Tables.documents(s, d)),
      """SELECT doc_id, length(text)::BIGINT AS n_chars_m,
                len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS n_tokens,
                round(length(regexp_replace(text, '\s', '', 'g'))::DOUBLE /
                  greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')), 1), 4) AS avg_token_len,
                round(len(list_filter(string_split_regex(text, '\s+'),
                    x -> x IN ('the','a','of','and','to','in','is','it','for','on')))::DOUBLE /
                  greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')), 1), 4) AS stopword_ratio,
                round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')))::DOUBLE /
                  greatest(length(text), 1), 4) AS punct_ratio
         FROM documents"""),
    Contract("text_quality_score", (s, d) => pipeline.TextAnalysis.qualityScore(Tables.documents(s, d)),
      """WITH st AS (
           SELECT doc_id,
             round(len(list_filter(string_split_regex(text, '\s+'),
                 x -> x IN ('the','a','of','and','to','in','is','it','for','on')))::DOUBLE /
               greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')), 1), 4) AS stopword_ratio,
             round(length(regexp_replace(text, '\s', '', 'g'))::DOUBLE /
               greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')), 1), 4) AS avg_token_len,
             round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')))::DOUBLE /
               greatest(length(text), 1), 4) AS punct_ratio
           FROM documents)
         SELECT doc_id,
           round(1.0 / (1.0 + exp(-(-1.0 + stopword_ratio * 8.0 +
             CASE WHEN avg_token_len BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE -1.0 END -
             punct_ratio * 4.0))), 6) AS quality
         FROM st"""),
    Contract("text_langid", (s, d) => pipeline.TextAnalysis.langId(Tables.documents(s, d)),
      """WITH s AS (
           SELECT doc_id, ' ' || text || ' ' AS p FROM documents),
         sc AS (
           SELECT doc_id,
             (p LIKE '% the %')::INT + (p LIKE '% and %')::INT + (p LIKE '% of %')::INT + (p LIKE '% is %')::INT AS s_en,
             (p LIKE '% der %')::INT + (p LIKE '% und %')::INT + (p LIKE '% die %')::INT + (p LIKE '% ist %')::INT AS s_de,
             (p LIKE '% el %')::INT + (p LIKE '% la %')::INT + (p LIKE '% los %')::INT + (p LIKE '% es %')::INT AS s_es,
             (p LIKE '% le %')::INT + (p LIKE '% la %')::INT + (p LIKE '% et %')::INT + (p LIKE '% est %')::INT AS s_fr
           FROM s)
         SELECT doc_id,
           CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
                WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
                WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
                WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
                ELSE 'de' END AS lang_pred
         FROM sc"""),
    // --- inter-annotator agreement (Cohen's κ) between two independent
    // labeling rules — integer-exact 2×2 confusion, one double division ---
    Contract("label_agreement", (s, d) => pipeline.TextAnalysis.labelAgreement(Tables.documents(s, d)),
      // Cohen's κ: both annotator rules are integer-exact (scaled count
      // comparison / pattern containment), so the 2×2 confusion is identical
      // by construction; κ is one integer-derived double division on both
      // engines — the same IEEE value, rounded at 6.
      """WITH l AS (
           SELECT
             CASE WHEN 10000 * len(list_filter(string_split_regex(text, '\s+'),
                    x -> x IN ('the','a','of','and','to','in','is','it','for','on')))
                  >= 800 * greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')), 1)
               THEN 1 ELSE 0 END AS a,
             CASE WHEN contains(' ' || text || ' ', ' the ')
                    OR contains(' ' || text || ' ', ' and ')
                    OR contains(' ' || text || ' ', ' of ')
                    OR contains(' ' || text || ' ', ' is ')
               THEN 1 ELSE 0 END AS b
           FROM documents),
         c AS (
           SELECT sum(a * b)::BIGINT AS n11, sum(a * (1 - b))::BIGINT AS n10,
                  sum((1 - a) * b)::BIGINT AS n01, sum((1 - a) * (1 - b))::BIGINT AS n00
           FROM l),
         h AS (
           SELECT n11, n10, n01, n00,
                  n11::HUGEINT AS h11, n10::HUGEINT AS h10,
                  n01::HUGEINT AS h01, n00::HUGEINT AS h00
           FROM c)
         SELECT n11, n10, n01, n00,
           CASE WHEN ((h11 + h10 + h01 + h00) * (h11 + h10 + h01 + h00) -
                  ((h11 + h10) * (h11 + h01) + (h01 + h00) * (h10 + h00))) = 0 THEN 0.0
           ELSE
           round(((h11 + h00) * (h11 + h10 + h01 + h00) -
                  ((h11 + h10) * (h11 + h01) + (h01 + h00) * (h10 + h00)))::DOUBLE /
                 ((h11 + h10 + h01 + h00) * (h11 + h10 + h01 + h00) -
                  ((h11 + h10) * (h11 + h01) + (h01 + h00) * (h10 + h00)))::DOUBLE, 6)
           END AS kappa
         FROM h"""),
    Contract("text_fingerprint", (s, d) => pipeline.TextAnalysis.fingerprint(Tables.documents(s, d)),
      """SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
         FROM documents"""),
    Contract("text_rolling_fp", (s, d) => pipeline.TextAnalysis.rollingFingerprint(Tables.documents(s, d)),
      s"""SELECT doc_id,
                list_reduce(list_prepend(0::BIGINT,
                  [${duckdbHash60("x")} % 2147483647 for x in
                   list_filter(string_split_regex(text, '\\s+'), w -> w <> '')]),
                  (a, h) -> (a * 1000003 + h) % 2147483647) AS rolling_fp
         FROM documents"""),
    Contract("text_repetition", (s, d) => pipeline.TextAnalysis.repetitionStats(Tables.documents(s, d)),
      s"""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents),
         sh AS (
           SELECT doc_id,
             ${pipeline.Dedup.shinglesSql(2)} AS s
           FROM toks),
         bg AS (SELECT doc_id, unnest(s) AS b FROM sh),
         c AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b)
         SELECT doc_id, sum(c)::BIGINT AS n_bigrams, max(c)::BIGINT AS top_bigram_n,
                round(max(c)::DOUBLE / sum(c), 6) AS top_share
         FROM c GROUP BY doc_id"""),
    Contract("bm25_score", (s, d) =>
      pipeline.Ranking.bm25(Tables.documents(s, d), SearchTerms),
      // BM25: avgdl from an exact integer sum; per-doc total folds term
      // scores in sorted-term order (both engines sequential-fold — SUM()
      // combine order would not be portable); round(6) absorbs ln() ulps.
      s"""WITH ${pipeline.Ranking.bm25OracleCtes(SearchTerms)}
         ${pipeline.Ranking.bm25OracleAgg()}"""),
    // --- RAG composition: BM25 top-100 retrieve → exact cosine rerank
    // against doc 7's embedding → top-20 ---
    Contract("hybrid_search", (s, d) =>
      pipeline.Ranking.hybridSearch(Tables.documents(s, d), Tables.embeddings(s, d),
        SearchTerms, queryVecId = 7L, kRetrieve = 100, kFinal = 20),
      // Hybrid retrieve-then-rerank: the bm25_score pipeline cut to its
      // top-100 (bm25 desc, doc_id ties), reranked by the ann_topk cosine
      // against vec 7's embedding, cut to top-20 — both cuts replayed with
      // identical tie-breaks.
      s"""WITH ${pipeline.Ranking.bm25OracleCtes(SearchTerms)},
         bm AS (
           ${pipeline.Ranking.bm25OracleAgg()}),
         cand AS (
           SELECT doc_id, n_matched, bm25 FROM (
             SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk FROM bm)
           WHERE rk <= 100 AND doc_id <> 7),
         q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 7),
         s2 AS (
           SELECT doc_id, n_matched, bm25,
                  round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
                             ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS cos_sim
           FROM (
             SELECT c.doc_id, c.n_matched, c.bm25,
                    list_dot_product(q.qe, e.embedding::DOUBLE[]) AS dot,
                    list_dot_product(q.qe, q.qe) AS na,
                    list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS nb
             FROM cand c JOIN embeddings e ON c.doc_id = e.vec_id CROSS JOIN q))
         SELECT doc_id, n_matched, bm25, cos_sim FROM (
           SELECT *, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rk FROM s2)
         WHERE rk <= 20"""),
    // --- cross-document duplicated-trigram fraction (boilerplate signal) ---
    Contract("ngram_dupfrac", (s, d) =>
      pipeline.Dedup.duplicatedNgramStats(Tables.documents(s, d)),
      // Cross-doc duplicated-trigram fraction: identical portable trigram
      // hashes on both engines (collisions included), exact integer division.
      s"""WITH ${pipeline.Dedup.dupNgramOracleCtes("documents")}
         SELECT doc_id, count(*)::BIGINT AS n_ngrams,
                sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
                ${pipeline.Dedup.dupFracSql} AS dup_frac
         FROM ng JOIN dfreq USING (ng)
         GROUP BY doc_id"""),
    // --- duplicated-span REMOVAL (rewriting, not just scoring): tokens
    // covered by cross-corpus-hot trigrams are cut; the oracle rebuilds
    // the cleaned text and must land on the same fingerprint ---
    Contract("dedup_spans", (s, d) =>
      pipeline.Dedup.removeDuplicatedSpans(Tables.documents(s, d)),
      // Duplicated-span removal replay: positional trigram hashes (the
      // Dedup.shinglesSql shingles, WITHOUT the distinct),
      // df >= 5 hot set, coverage positions, then rebuild the cleaned text
      // and fingerprint it. coalesce('') because DuckDB's
      // array_to_string([]) is NULL where Spark's array_join is ''.
      s"""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, t,
             ${pipeline.Dedup.shinglesSql(3)} AS s
           FROM toks),
         ph AS (SELECT doc_id, t, [${duckdbHash60("x")} for x in s] AS ph FROM sh),
         np AS (SELECT doc_id, u.s['ng'] AS ng, u.s['pos'] AS pos
                FROM ph, unnest([{'ng': ph[i+1], 'pos': i} for i in range(0, len(ph))]) AS u(s)),
         dfreq AS (SELECT ng, count(DISTINCT doc_id) AS df FROM np GROUP BY ng),
         cov AS (
           SELECT DISTINCT np.doc_id, np.pos + o.o AS cpos
           FROM np JOIN dfreq USING (ng), LATERAL (SELECT unnest(range(3)) AS o) o
           WHERE dfreq.df >= 5),
         cl AS (
           SELECT p.doc_id, any_value(p.t) AS t,
                  coalesce(list(c.cpos) FILTER (c.cpos IS NOT NULL), []) AS covered
           FROM ph p LEFT JOIN cov c USING (doc_id)
           GROUP BY p.doc_id),
         fin AS (
           SELECT doc_id, t,
                  [t[i+1] for i in range(0, len(t)) if NOT list_contains(covered, i)] AS clean
           FROM cl)
         SELECT doc_id, len(t)::BIGINT AS n_tokens,
                (len(t) - len(clean))::BIGINT AS n_removed,
                ${duckdbHash60("coalesce(array_to_string(clean, ' '), '')")} AS clean_fp
         FROM fin"""),
    // --- corpus vocabulary: token → (tf, df), deterministic top-k ---
    Contract("vocab_topk", (s, d) =>
      pipeline.TextAnalysis.vocabulary(Tables.documents(s, d), minCount = 2L, k = 100),
      // Vocabulary: (tf desc, token asc) is a total order — the top-k cut is
      // deterministic, so sorted-frame comparison is exact.
      """SELECT token, tf, df FROM (
           SELECT x AS token, count(*)::BIGINT AS tf,
                  count(DISTINCT doc_id)::BIGINT AS df
           FROM documents,
                unnest(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS u(x)
           GROUP BY x)
         WHERE tf >= 2 ORDER BY tf DESC, token LIMIT 100"""),
    // --- inverted-index construction: df/tf plus the bounded posting-list
    // head (lowest maxPostings doc_ids) with truncation accounting. The
    // CONTRACT projection scalarizes the ARRAY column (comma-joined) —
    // the driver's comparer cannot sort array cells; the DSL-facing
    // Ranking.postingLists keeps the typed ARRAY<BIGINT> output ---
    Contract("posting_lists", (s, d) =>
      pipeline.Ranking.postingLists(Tables.documents(s, d), maxPostings = 20)
        .withColumn("postings",
          org.apache.spark.sql.functions.array_join(
            org.apache.spark.sql.functions.col("postings"), ",")),
      // Inverted index: posting head = the 20 lowest doc_ids per token.
      """WITH t AS (
           SELECT doc_id, x AS token
           FROM documents,
                unnest(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS u(x)),
         pd AS (SELECT token, doc_id, count(*)::BIGINT AS n FROM t GROUP BY 1, 2),
         st AS (SELECT token, count(*)::BIGINT AS df, sum(n)::BIGINT AS tf
                FROM pd GROUP BY 1),
         rk AS (SELECT token, doc_id,
                       row_number() OVER (PARTITION BY token ORDER BY doc_id) AS r
                FROM pd),
         pl AS (SELECT token, list(doc_id ORDER BY doc_id) AS postings
                FROM rk WHERE r <= 20 GROUP BY 1)
         SELECT st.token, st.df, st.tf,
                array_to_string(pl.postings, ',') AS postings,
                st.df > 20 AS truncated
         FROM st JOIN pl USING (token)"""),
    // --- count-min-sketch heavy hitters: the oracle replays the sketch
    // itself (portable salted hashes), overestimates and all ---
    Contract("heavy_hitters", (s, d) =>
      pipeline.TextAnalysis.heavyHitters(Tables.documents(s, d)),
      // Count-min heavy hitters: replay the SKETCH (4 salted md5-hash rows ×
      // 1024 buckets over the Dedup.shinglesSql trigram shingles, without
      // the per-doc distinct), estimate = min over
      // rows, top-100 by (estimate desc, ngram asc) — a total order.
      s"""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents),
         sh AS (
           SELECT ${pipeline.Dedup.shinglesSql(3)} AS s
           FROM toks),
         tri AS (SELECT x AS ngram FROM sh, unnest(s) AS u(x)),
         sketch AS (
           SELECT j.j AS row,
                  ${duckdbHash60("'cms' || j.j::VARCHAR || '|' || ngram")} % 1024 AS bucket,
                  count(*)::BIGINT AS cnt
           FROM tri, generate_series(0, 3) AS j(j) GROUP BY 1, 2),
         cand AS (SELECT DISTINCT ngram FROM tri),
         est AS (
           SELECT c.ngram, min(s.cnt) AS cms_count
           FROM cand c
           CROSS JOIN generate_series(0, 3) AS j(j)
           JOIN sketch s ON s.row = j.j
            AND s.bucket = ${duckdbHash60("'cms' || j.j::VARCHAR || '|' || c.ngram")} % 1024
           GROUP BY 1)
         SELECT ngram, cms_count FROM est
         ORDER BY cms_count DESC, ngram LIMIT 100"""),
    // --- Z-order layout: per-bucket bounding boxes over (user, hour) —
    // the min/max pruning metadata a two-dimensional clustered scan uses ---
    Contract("zorder_layout", (s, d) =>
      pipeline.Layout.zorderStats(Tables.events(s, d)),
      // Z-order layout replay: the bit-interleave expression is GENERATED by
      // the same Scala loop that builds the Spark plan (Layout.duckdbZValue),
      // so the two dialects cannot drift. bits=10, bucketBits=6 → shift 14.
      s"""WITH pts AS (
           SELECT (user_id & 1023) AS x,
                  ((floor(epoch(ts) / 3600))::BIGINT & 1023) AS y
           FROM events),
         z AS (SELECT x, y, (${pipeline.Layout.duckdbZValue("x", "y", 10)}) AS zval FROM pts)
         SELECT (zval >> 14) AS bucket, count(*)::BIGINT AS n,
                min(x) AS min_x, max(x) AS max_x,
                min(y) AS min_y, max(y) AS max_y
         FROM z GROUP BY 1"""),
    // --- CSV/JSONL ingest certification: stage → inject malformed lines →
    // read back with bad-row accounting → aggregate good + count bad ---
    Contract("csv_roundtrip", sources.Sources.csvRoundtrip _,
      // Round-trip certifications: the oracle aggregates the parquet
      // originals (text-staging fidelity is the Spark side's claim) and
      // appends the literal bad-line accounting row the injection fixes.
      """SELECT o_orderpriority, count(*)::BIGINT AS n,
                sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS price_cents,
                sum(length(o_orderpriority || ',"' || o_orderstatus))::BIGINT AS note_chars
         FROM orders GROUP BY 1
         UNION ALL
         SELECT '__bad', 7::BIGINT, 0::BIGINT, 0::BIGINT"""),
    Contract("jsonl_roundtrip", sources.Sources.jsonlRoundtrip _,
      """SELECT o_orderpriority, count(*)::BIGINT AS n,
                sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS price_cents,
                sum(length(o_orderpriority || ',"' || o_orderstatus))::BIGINT AS note_chars
         FROM orders GROUP BY 1
         UNION ALL
         SELECT '__bad', 5::BIGINT, 0::BIGINT, 0::BIGINT"""),
    // --- exact data profiling: nulls/distincts/min/max per column in ONE
    // scan (Expand + two-stage agg) ---
    Contract("profile_stats", RelationalQueries.profileStats _,
      // Data profiling: one UNION ALL branch per profiled column. Strings via
      // ::VARCHAR match Spark's cast-to-string for integers, chars and
      // zero-fraction timestamps (doubles deliberately not profiled).
      Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_shipdate")
        .map(c =>
          s"""SELECT '$c' AS col_name,
                (count(*) - count($c))::BIGINT AS n_nulls,
                count(DISTINCT $c)::BIGINT AS n_distinct,
                min($c)::VARCHAR AS min_val, max($c)::VARCHAR AS max_val
              FROM lineitem""")
        .mkString(" UNION ALL ")),
    // --- adaptive equi-width histogram in exact integer-cents arithmetic ---
    Contract("histogram_stats", RelationalQueries.histogramStats _,
      // Histogram: same two-pass plan — exact BIGINT min/max, then integer
      // floor-division bin arithmetic (// in DuckDB ≡ div in Spark for
      // non-negative operands).
      """WITH v AS (SELECT round(l_extendedprice * 100)::BIGINT AS v FROM lineitem),
         mm AS (SELECT min(v) AS mn, max(v) AS mx FROM v)
         SELECT ((v - mn) * 32) // (mx - mn + 1) AS bin, count(*)::BIGINT AS n
         FROM v, mm GROUP BY 1"""),
    // --- PII scrub: counts on deterministic synthetic PII (the corpus has
    // none) + digest of the redacted text; both engines build and redact
    // the identical string ---
    Contract("pii_redact", (s, d) =>
      pipeline.TextAnalysis.piiStats(
        Tables.documents(s, d).select(col("doc_id"), concat(
          col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com from 10."),
          pmod(col("doc_id"), lit(200L)), lit(".0."), pmod(col("doc_id") * 7, lit(250L)),
          lit(" call 555-"), lpad(pmod(col("doc_id"), lit(1000L)).cast("string"), 3, "0"),
          lit("-"), lpad(pmod(col("doc_id") * 3, lit(10000L)).cast("string"), 4, "0")
        ).as("text"))),
      // PII scrub on deterministically synthesized PII: both engines build
      // the same string, match the same RE2/java.util.regex-common patterns,
      // and digest the same redacted text. DuckDB regexp_replace needs the
      // explicit 'g' flag to match Spark's replace-all semantics.
      """WITH pii AS (
           SELECT doc_id,
             text || ' contact user' || doc_id::VARCHAR || '@example.com from 10.' ||
             (doc_id % 200)::VARCHAR || '.0.' || ((doc_id * 7) % 250)::VARCHAR ||
             ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||
             lpad(((doc_id * 3) % 10000)::VARCHAR, 4, '0') AS t
           FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
           len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ipv4,
           len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b'))::BIGINT AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
               '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g')) AS redacted_digest
         FROM pii"""),
    // --- weighted mixture sampling: per-source ppm rates, hash-determined ---
    Contract("mixture_sample", (s, d) =>
      pipeline.TrainingData.mixtureSample(Tables.documents(s, d), "source",
        Map("src0" -> 1000000L, "src1" -> 500000L, "src2" -> 250000L, "src3" -> 125000L),
        defaultPpm = 50000L).select(col("doc_id"), col("source")),
      // Mixture sampling: integer ppm thresholds (float rates would round
      // differently across engines); hash is positive so % ≡ pmod.
      s"""SELECT doc_id, source FROM documents
         WHERE ${duckdbHash60("'mix_' || doc_id::VARCHAR")} % 1000000 <
               CASE source WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000
                           WHEN 'src2' THEN 250000 WHEN 'src3' THEN 125000
                           ELSE 50000 END"""),
    // --- decontamination: eval-set docs (every 50th) vs the training rest ---
    Contract("decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      pipeline.Dedup.crossCorpusOverlap(
        docs.filter(col("doc_id") % 50 =!= 0), docs.filter(col("doc_id") % 50 === 0))
    },
      // Cross-corpus 5-shingle overlap; the engine joins on 64-bit shingle
      // hashes, the oracle on shingle strings — equal counts (same reliance
      // on collision-freedom as dedup_jaccard).
      s"""WITH tr AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents WHERE doc_id % 50 <> 0),
         ev AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents WHERE doc_id % 50 = 0),
         tsh AS (
           SELECT doc_id AS train_doc,
             unnest(list_distinct(${pipeline.Dedup.shinglesSql(5)})) AS g
           FROM tr),
         esh0 AS (
           SELECT doc_id AS eval_doc,
             list_distinct(${pipeline.Dedup.shinglesSql(5)}) AS sh
           FROM ev),
         esh AS (SELECT eval_doc, len(sh)::BIGINT AS n_eval, unnest(sh) AS g FROM esh0)
         SELECT eval_doc, train_doc, count(*)::BIGINT AS shared,
                round(count(*)::DOUBLE / n_eval, 6) AS contamination
         FROM tsh JOIN esh USING (g)
         GROUP BY eval_doc, train_doc, n_eval"""),
    // --- bloom-prefiltered decontamination: same contamination relation,
    // but the training side is screened by a distributed Bloom sketch
    // BEFORE the exact join — the result is exact (no false negatives;
    // the semi-join resolves false positives), so the oracle is the plain
    // NOT-EXISTS anti-join ---
    Contract("bloom_decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      pipeline.Dedup.bloomDecontaminate(
        docs.filter(col("doc_id") % 50 =!= 0), docs.filter(col("doc_id") % 50 === 0))
        .select(col("doc_id"), col("source"))
    },
      // Bloom prefilter is invisible to the result contract: clean = training
      // docs sharing NO distinct 5-shingle with any eval doc. Same
      // string-shingle construction as `decontaminate` (engine joins 64-bit
      // shingle hashes, oracle joins shingle strings).
      s"""WITH tr AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents WHERE doc_id % 50 <> 0),
         ev AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents WHERE doc_id % 50 = 0),
         tsh AS (
           SELECT doc_id AS train_doc,
             unnest(list_distinct(${pipeline.Dedup.shinglesSql(5)})) AS g
           FROM tr),
         esh AS (
           SELECT DISTINCT unnest(list_distinct(${pipeline.Dedup.shinglesSql(5)})) AS g
           FROM ev),
         dirty AS (SELECT DISTINCT train_doc FROM tsh JOIN esh USING (g))
         SELECT doc_id, source FROM documents
         WHERE doc_id % 50 <> 0
           AND doc_id NOT IN (SELECT train_doc FROM dirty)"""),
    // --- per-source quota sampling (hash-ranked, engine-portable) ---
    Contract("quota_sample", (s, d) =>
      pipeline.TrainingData.quotaSample(Tables.documents(s, d), "source", 50),
      s"""SELECT doc_id, source, rk FROM (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY ${duckdbHash60("'quota_' || doc_id::VARCHAR")}
                        % 1000000007, doc_id) AS rk
           FROM documents) WHERE rk <= 50"""),
    // --- weighted sampling without replacement (Efraimidis–Spirakis via
    // integer max-of-w-hashes keys — engine-exact, no pow/ln) ---
    Contract("weighted_sample", (s, d) =>
      pipeline.TrainingData.weightedSample(Tables.documents(s, d)),
      // Weighted sample: max-of-w portable hashes = Efraimidis–Spirakis
      // u^(1/w) key in pure integers; top-k by (key desc, doc_id).
      s"""WITH wdoc AS (
           SELECT doc_id, (1 + least(3, n_chars // 150))::BIGINT AS w FROM documents),
         ex AS (SELECT doc_id, w, unnest(range(1, w + 1)) AS j FROM wdoc),
         keys AS (
           SELECT doc_id, w,
                  max(${duckdbHash60("'ws_' || doc_id::VARCHAR || '_' || j::VARCHAR")}) AS sample_key
           FROM ex GROUP BY 1, 2)
         SELECT doc_id, w, sample_key FROM keys
         ORDER BY sample_key DESC, doc_id LIMIT 100"""),
    // --- snapshot reconciliation: added/removed/changed keys between two
    // snapshots, digests-only across the shuffle ---
    Contract("snapshot_diff", (s, d) => {
      val docs = Tables.documents(s, d)
      val newSnap = docs.filter(col("doc_id") % 97 =!= 0)
        .withColumn("text", when(col("doc_id") % 89 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 101 === 0)
          .withColumn("doc_id", col("doc_id") + 100000000L))
      operators.ChangeData.snapshotDiff(docs, newSnap, "doc_id", "text")
    },
      // Snapshot diff: digest-compare over a full outer join; the new
      // snapshot is derived deterministically (drop %97, revise %89,
      // add %101 under shifted ids).
      """WITH oldd AS (SELECT doc_id, md5(text) AS h FROM documents),
         newd AS (
           SELECT doc_id,
                  md5(CASE WHEN doc_id % 89 = 0 THEN text || ' v2' ELSE text END) AS h
           FROM documents WHERE doc_id % 97 <> 0
           UNION ALL
           SELECT doc_id + 100000000, md5(text) FROM documents WHERE doc_id % 101 = 0)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                CASE WHEN o.doc_id IS NULL THEN 'added'
                     WHEN n.doc_id IS NULL THEN 'removed'
                     WHEN o.h <> n.h THEN 'changed' END AS change
         FROM oldd o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id
         WHERE NOT (o.doc_id IS NOT NULL AND n.doc_id IS NOT NULL AND o.h = n.h)"""),
    // --- CDC merge (MERGE INTO): latest-op-wins upsert+delete changelog
    // applied to a base snapshot ---
    Contract("cdc_merge", (s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.filter(col("doc_id") % 3 =!= 2).select(col("doc_id"), col("text"))
      val ups = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 3 =!= 2)
        .select(col("doc_id"), lit("U").as("op"),
          concat(col("text"), lit(" [rev]")).as("text"), lit(1L).as("seq"))
      val dels = docs.filter(col("doc_id") % 11 === 0 && col("doc_id") % 3 =!= 2)
        .select(col("doc_id"), lit("D").as("op"),
          lit(null).cast("string").as("text"), lit(2L).as("seq"))
      val ins = docs.filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), lit("I").as("op"), col("text"), lit(1L).as("seq"))
      operators.ChangeData
        .cdcMerge(base, ups.unionByName(dels).unionByName(ins), "doc_id", "text", "seq", "op")
        .select(col("doc_id"), functions.PortableHash.hash60(col("text")).as("h"), col("status"))
    },
      // CDC merge: latest-seq change per key (U revises, D deletes, I
      // inserts the %3=2 keys absent from base), full-outer merge, portable
      // hash of the merged payload.
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 2),
         chg AS (
           SELECT doc_id, 'U' AS op, text || ' [rev]' AS text, 1 AS seq
           FROM documents WHERE doc_id % 5 = 0 AND doc_id % 3 <> 2
           UNION ALL
           SELECT doc_id, 'D', NULL, 2 FROM documents WHERE doc_id % 11 = 0 AND doc_id % 3 <> 2
           UNION ALL
           SELECT doc_id, 'I', text, 1 FROM documents WHERE doc_id % 3 = 2),
         latest AS (
           SELECT doc_id, op, text FROM (
             SELECT doc_id, op, text,
                    row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC, op) AS rn
             FROM chg) WHERE rn = 1),
         merged AS (
           SELECT coalesce(b.doc_id, l.doc_id) AS doc_id,
                  coalesce(l.text, b.text) AS text,
                  CASE WHEN l.op IS NULL THEN 'kept'
                       WHEN l.op = 'I' THEN 'inserted'
                       ELSE 'updated' END AS status
           FROM base b FULL OUTER JOIN latest l ON b.doc_id = l.doc_id
           WHERE l.op IS NULL OR l.op <> 'D')
         SELECT doc_id, ${duckdbHash60("text")} AS h, status
         FROM merged"""),
    // --- the capstone composition: lang filter → exact dedup → near-dup
    // clusters → split, end-to-end as ONE oracle-checked plan ---
    Contract("corpus_prepare", (s, d) => pipeline.TrainingData.prepareCorpus(Tables.documents(s, d)),
      // The full preparation chain in one recursive query: English docs,
      // exact-dedup canonical survivors, minhash-pair components (the
      // Dedup.minhashOracleCtes signatures and banding of dedup_minhash),
      // cluster-canonical keeps, hash split.
      s"""WITH RECURSIVE en AS (
           SELECT doc_id, text FROM documents WHERE lang = 'en'),
         ex AS (SELECT min(doc_id) AS doc_id FROM en GROUP BY md5(text)),
         sv AS (SELECT en.doc_id, en.text FROM en JOIN ex USING (doc_id)),
         toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM sv),
         sh AS (
           SELECT doc_id,
             ${pipeline.Dedup.shinglesSql(3)} AS s
           FROM toks),
         ${pipeline.Dedup.minhashOracleCtes(numHashes = 32)},
         pairs AS (
           SELECT a.doc_id AS da, b.doc_id AS db
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           WHERE ${pipeline.Dedup.bandMatchSql(bands = 8, rows = 4)}),
         edges AS (
           SELECT da AS s, db AS t FROM pairs
           UNION ALL SELECT db, da FROM pairs),
         walk(id, lab) AS (
           SELECT s, s FROM edges
           UNION
           SELECT e.s, w.lab FROM edges e JOIN walk w ON w.id = e.t),
         cl AS (SELECT id, MIN(lab) AS cid FROM walk GROUP BY id),
         kept AS (
           SELECT sv.doc_id FROM sv
           WHERE sv.doc_id NOT IN (SELECT id FROM cl WHERE id <> cid))
         SELECT doc_id,
                CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 ${duckdbHash60("'split_' || doc_id::VARCHAR")} % 100 AS b
               FROM kept)"""),
    // --- the round-3 curation capstone: mixture sample → PII scrub →
    // cross-doc boilerplate filter → split, as ONE oracle-checked plan ---
    Contract("corpus_curate", (s, d) =>
      pipeline.TrainingData.curateCorpus(Tables.documents(s, d), "source",
        Map("src0" -> 1000000L, "src1" -> 500000L, "src2" -> 250000L, "src3" -> 125000L),
        defaultPpm = 50000L),
      // Curation capstone: the mixture/PII/dup-ngram/split oracles composed
      // as CTEs in the same order the Spark pipeline composes the operators.
      // Boilerplate stats are computed WITHIN the sampled corpus, as the
      // operator does. Redaction is a no-op on this corpus (no PII in the
      // synthetic text) but the oracle still applies it for fidelity.
      s"""WITH sampled AS (
           SELECT doc_id, text FROM documents
           WHERE ${duckdbHash60("'mix_' || doc_id::VARCHAR")} % 1000000 <
                 CASE source WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000
                             WHEN 'src2' THEN 250000 WHEN 'src3' THEN 125000
                             ELSE 50000 END),
         clean AS (
           SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
               '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g') AS text
           FROM sampled),
         ${pipeline.Dedup.dupNgramOracleCtes("clean")},
         stats AS (
           SELECT doc_id, ${pipeline.Dedup.dupFracSql} AS dup_frac
           FROM ng JOIN dfreq USING (ng)
           GROUP BY doc_id)
         SELECT doc_id,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
           dup_frac
         FROM (SELECT doc_id, dup_frac,
                 ${duckdbHash60("'split_' || doc_id::VARCHAR")} % 100 AS b
               FROM stats WHERE dup_frac < 0.9)"""),
    // --- skew-salted join: result contract = the plain equi-join, which
    // is exactly what the oracle computes ---
    Contract("salted_join", (s, d) => {
      val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val r = Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      operators.Skew.saltedJoin(l, r, Seq("l_orderkey"), saltFactor = 8)
    },
      """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"""),
    // --- as-of (point-in-time) join: each click joined to the user's
    // latest purchase at-or-before it — operators.AsOf composition ---
    Contract("asof_join", (s, d) => {
      val e = Tables.events(s, d).withColumn("tms", unix_millis(col("ts")))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("tms"))
      // one row per (user, instant): latest purchase wins, deterministically
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("tms").as("p_tms"))
        .agg(max(col("event_id")).as("p_event_id"),
             max_by(col("value"), col("event_id")).as("p_value"))
      operators.AsOf.asOfJoin(clicks, purchases, Seq("user_id"),
        leftTime = "tms", rightTime = "p_tms",
        rightVals = Seq("p_event_id", "p_value"))
    },
      // DuckDB's native ASOF JOIN is the oracle for the union+window
      // composition (ties at equal time count; left-join nulls).
      """WITH e AS (
           SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000000 AS tms, value FROM events),
         c AS (SELECT user_id, event_id, tms FROM e WHERE event_type = 'click'),
         p AS (SELECT user_id, tms AS p_tms, max(event_id) AS p_event_id,
                      arg_max(value, event_id) AS p_value
               FROM e WHERE event_type = 'purchase' GROUP BY user_id, tms)
         SELECT c.user_id, c.event_id, c.tms, p.p_event_id, p.p_value
         FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.tms >= p.p_tms"""),
    // --- range (interval) join: parts bucketed into price bands via the
    // bucketized-prefilter equi-join (operators.Ranges) ---
    Contract("range_join", (s, d) => {
      val bands = s.range(0, 10).select(col("id").as("band"),
        (lit(900.0) + col("id") * 10.0).as("lo"),
        (lit(910.0) + col("id") * 10.0).as("hi"))
      operators.Ranges.rangeJoin(Tables.part(s, d), broadcast(bands),
        point = "p_retailprice", lo = "lo", hi = "hi", bucketWidth = 10.0)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_parts"), min(col("p_retailprice")).as("min_price"),
          max(col("p_retailprice")).as("max_price"))
    },
      """WITH bands AS (
           SELECT i AS band, 900.0 + i * 10.0 AS lo, 910.0 + i * 10.0 AS hi
           FROM range(0, 10) t(i))
         SELECT b.band, count(*)::BIGINT AS n_parts,
                min(p.p_retailprice) AS min_price, max(p.p_retailprice) AS max_price
         FROM part p JOIN bands b
           ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
         GROUP BY b.band"""),
    // --- training-data pipeline: dataset preparation ---
    Contract("corpus_split", (s, d) => pipeline.TrainingData.splitAssign(Tables.documents(s, d)),
      s"""SELECT doc_id,
                CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 ${duckdbHash60("'split_' || doc_id::VARCHAR")} % 100 AS b
               FROM documents)"""),
    // --- RAG-style overlapping chunk windows, fingerprint-exact ---
    Contract("chunk_docs", (s, d) => pipeline.TrainingData.chunkDocuments(Tables.documents(s, d)),
      // Deterministic portable-hash split: same md5 bucket formula.
      // Chunk replay: same integer chunk count, same 1-based clamped list
      // slices, same re-joined fingerprint per window.
      s"""WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents),
         n AS (
           SELECT doc_id, t,
                  (greatest(1, len(t) - 16) + 47) // 48 AS nc
           FROM t WHERE len(t) > 0),
         c AS (
           SELECT doc_id, k, t[k*48 + 1 : k*48 + 64] AS chunk
           FROM n, LATERAL (SELECT unnest(range(nc)) AS k) ks(k))
         SELECT doc_id, k::BIGINT AS chunk_idx, len(chunk)::BIGINT AS n_tokens,
                ${duckdbHash60("array_to_string(chunk, ' ')")} AS chunk_fp
         FROM c"""),
    Contract("seq_packing", (s, d) => pipeline.TrainingData.packSequences(Tables.documents(s, d)),
      // Concat-then-chunk packing: global token offsets in doc_id order and
      // the chunks each doc spans (integer arithmetic — exact). The oracle
      // uses the plain global window; the engine computes the same running
      // sum with the scalable bucketed two-level plan.
      """WITH t AS (
           SELECT doc_id,
                  len(list_filter(string_split_regex(text, '\s+'), w -> w <> ''))::BIGINT AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
                  (sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)::BIGINT AS start_token
           FROM t)
         SELECT doc_id, n_tokens, start_token,
                start_token // 512 AS first_chunk,
                (start_token + n_tokens - 1) // 512 AS last_chunk
         FROM c"""),
    Contract("embed_quantize", (s, d) => pipeline.TrainingData.quantizeEmbeddings(Tables.embeddings(s, d)),
      // Symmetric int8 quantization: identical double formula both engines
      // (floor(x/scale + 0.5) — explicit tie rule), scalar digests compared.
      s"""WITH ${pipeline.TrainingData.int8ScaleCtes("vec_id")},
         q AS (
           SELECT vec_id, scale,
                  list_transform(e, x -> floor(x / scale + 0.5)::BIGINT) AS qv
           FROM s)
         SELECT vec_id, scale,
                list_sum(qv)::BIGINT AS q_sum,
                list_min(qv) AS q_min, list_max(qv) AS q_max
         FROM q"""),
    // --- per-label int8 Gram matrix: TableMult's Join∘Agg as a HOF pair
    // expansion + one aggregate ---
    Contract("gram_matrix", (s, d) => pipeline.TrainingData.gramMatrix(Tables.embeddings(s, d)),
      // Per-label quantized Gram: replay the embed_quantize rule, expand the
      // upper triangle over the 64 fixed dimensions (the ann_lsh dim
      // convention), exact integer sums.
      s"""WITH ${pipeline.TrainingData.int8ScaleCtes("label")},
         q AS (
           SELECT label, list_transform(e, x -> floor(x / scale + 0.5)::BIGINT) AS qv
           FROM s),
         p AS (
           SELECT label, (t1.i - 1)::BIGINT AS i, (t2.j - 1)::BIGINT AS j,
                  qv[t1.i] * qv[t2.j] AS prod
           FROM q, range(1, 65) t1(i), range(1, 65) t2(j)
           WHERE t2.j >= t1.i)
         SELECT label, i, j, sum(prod)::BIGINT AS sum_prod, count(*)::BIGINT AS n_vecs
         FROM p GROUP BY 1, 2, 3"""),
    // --- per-label dominant principal direction: repeated TableMult
    // (integer power iteration) over the mean-normalized Gram matrix ---
    Contract("pca_power", (s, d) => pipeline.TrainingData.pcaPower(Tables.embeddings(s, d)),
      // PCA power iteration: replay the quantization + FULL (mirrored) Gram,
      // mean-normalize with the sign-split floor division, then the
      // generated integer renormalized matrix-vector rounds.
      s"""WITH ${pipeline.TrainingData.int8ScaleCtes("label")},
         q AS (
           SELECT label, list_transform(e, x -> floor(x / scale + 0.5)::BIGINT) AS qv
           FROM s),
         g0 AS (
           SELECT label, (t1.i - 1)::BIGINT AS i, (t2.j - 1)::BIGINT AS j,
                  sum(qv[t1.i] * qv[t2.j])::BIGINT AS sp, count(*)::BIGINT AS n
           FROM q, range(1, 65) t1(i), range(1, 65) t2(j)
           GROUP BY 1, 2, 3),
         gn AS MATERIALIZED (
           SELECT label, i, j,
                  ((CASE WHEN sp < 0 THEN -1 ELSE 1 END) * (abs(sp) // n))::BIGINT AS g
           FROM g0),
         ${pipeline.TrainingData.pcaOracleCtes(iters = 3, scale = 1000000L)}
         SELECT label, j AS pos, v AS component FROM v3"""),
    // --- training-data pipeline: similarity search ---
    Contract("ann_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      pipeline.Similarity.bruteForceTopK(emb, pipeline.Ivf.annQueries(emb), 5)
    },
      // Exact brute-force cosine top-k: DuckDB's list_dot_product on DOUBLE[]
      // is the same sequential IEEE fold as the native CosineSimilarity
      // expression, so scores are bit-identical before rounding.
      """WITH q AS (
           SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings),
         s AS (
           SELECT query_id, vec_id,
                  round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
                             ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS cos_sim
           FROM (SELECT q.query_id, c.vec_id,
                        list_dot_product(q.qe, c.ce) AS dot,
                        list_dot_product(q.qe, q.qe) AS na,
                        list_dot_product(c.ce, c.ce) AS nb
                 FROM q CROSS JOIN c WHERE c.vec_id <> q.query_id))
         SELECT query_id, vec_id, cos_sim, rk FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, vec_id) AS rk FROM s)
         WHERE rk <= 5"""),
    Contract("ann_lsh", (s, d) => {
      val emb = Tables.embeddings(s, d)
      pipeline.Similarity.lshTopK(emb, pipeline.Ivf.annQueries(emb), 5)
    },
      // Banded sign-LSH top-k: hyperplanes are md5-derived doubles
      // (Similarity.plane), recomputed by Similarity.lshBucketOracleCtes;
      // sign bits and scores are sequential double folds on both engines.
      s"""WITH ${pipeline.Similarity.lshBucketOracleCtes("vec_id")},
         s AS (
           SELECT query_id, vec_id,
                  round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
                             ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS cos_sim
           FROM (SELECT q.vec_id AS query_id, c.vec_id,
                        list_dot_product(q.ce, c.ce) AS dot,
                        list_dot_product(q.ce, q.ce) AS na,
                        list_dot_product(c.ce, c.ce) AS nb
                 FROM bk q JOIN bk c
                   ON q.vec_id < 10 AND c.vec_id <> q.vec_id
                  AND len([b for b in range(1, 5) if q.bks[b] = c.bks[b]]) > 0))
         SELECT query_id, vec_id, cos_sim, rk FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, vec_id) AS rk FROM s)
         WHERE rk <= 5"""),
    // --- per-doc keyphrases: tf·idf surrogate, exact integer ordering ---
    Contract("doc_keyphrases", (s, d) =>
      pipeline.TextAnalysis.docKeyphrases(Tables.documents(s, d), k = 3),
      // Keyphrases: 2-word-shingle tf vs corpus df, integer floor-div score.
      s"""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(
             ${pipeline.Dedup.shinglesSql(2)}) AS p
           FROM toks),
         tf AS (SELECT doc_id, p, count(*)::BIGINT AS tf FROM sh GROUP BY 1, 2),
         df AS (SELECT p, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         sc AS (SELECT t.doc_id, t.p, t.tf, d.df,
                       ((t.tf * 1000000) // d.df)::BIGINT AS score
                FROM tf t JOIN df d USING (p)),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, p) AS rk FROM sc)
         SELECT doc_id, p AS keyphrase, tf, df, rk::BIGINT AS rk
         FROM r WHERE rk <= 3"""),
    // --- hard-negative mining: top-k most-similar DIFFERENT-label vectors ---
    Contract("hard_negatives", (s, d) => {
      val emb = Tables.embeddings(s, d)
      pipeline.Similarity.hardNegatives(emb, pipeline.Ivf.annQueries(emb), 5)
    },
      // Hard negatives: the ann_topk oracle with a label-inequality filter.
      """WITH q AS (
           SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe, label AS ql
           FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS ce, label FROM embeddings),
         s AS (
           SELECT query_id, vec_id,
                  round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
                             ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS cos_sim
           FROM (SELECT q.query_id, c.vec_id,
                        list_dot_product(q.qe, c.ce) AS dot,
                        list_dot_product(q.qe, q.qe) AS na,
                        list_dot_product(c.ce, c.ce) AS nb
                 FROM q CROSS JOIN c WHERE c.label <> q.ql))
         SELECT query_id, vec_id, cos_sim, rk FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, vec_id) AS rk FROM s)
         WHERE rk <= 5"""),
    // --- deterministic hash-probed negative edges (link-prediction pairs) ---
    Contract("negative_edges", (s, d) =>
      sources.GraphLoader.negativeEdges(hashGraph(s, d), k = 3),
      // Negative edges: replay the hash probes, keep existing-vertex hits
      // that are not existing edges.
      s"""WITH und AS MATERIALIZED ($HashUndSql),
         verts AS MATERIALIZED (
           SELECT DISTINCT x AS id FROM (SELECT a AS x FROM und UNION ALL SELECT b FROM und)),
         probes AS (
           SELECT v.id AS v, t.j,
                  ${duckdbHash60("'neg_' || v.id::VARCHAR || '_' || t.j::VARCHAR")}
                    % 20011 AS neg
           FROM verts v, range(1, 4) t(j))
         SELECT p.v, p.neg, p.j
         FROM probes p
         JOIN verts x ON x.id = p.neg
         WHERE p.neg <> p.v
           AND NOT EXISTS (SELECT 1 FROM und u
                           WHERE u.a = least(p.v, p.neg) AND u.b = greatest(p.v, p.neg))"""),
    // PORTABLE IVF: integer-quantized Lloyd (ONE fixed iteration — k=16
    // converges in one round and every extra round is a full-corpus
    // assignment pass; centroids = exact integer sum vectors — cosine is
    // scale-invariant so the mean's division never happens), fully
    // replayed by the DuckDB oracle.
    Contract("ann_ivf", (s, d) => {
      val emb = Tables.embeddings(s, d)
      pipeline.Ivf.ivfTopKPortable(emb, pipeline.Ivf.annQueries(emb), 5,
        nCells = 16, nProbe = 4, iters = 1)
    },
      // Portable IVF replayed step by step (Ivf.quantizedCte and
      // Ivf.ivfChainCtes generate the chain from the plan's nCells and
      // iters): quantize (floor(x*1000+0.5)),
      // seed with the 16 lowest vec_ids, ONE Lloyd round with INTEGER-SUM
      // centroids (scale-invariant under cosine — no division anywhere),
      // assign (first-max ties → lowest cell), probe top-4 cells (reverse-
      // sort ties → highest cell), score with exact double-fold cosine on
      // the original embeddings. All doubles are sequential folds in element
      // order on both engines → bit-identical sims, identical cells, probes
      // and rankings.
      s"""WITH ${pipeline.Ivf.quantizedCte}${pipeline.Ivf.ivfChainCtes(16, rounds = 1, 64, "")},
         qp AS (
           SELECT vec_id AS query_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
             FROM simf WHERE vec_id < 10) WHERE rn <= 4),
         sc AS (
           SELECT qp.query_id, af.vec_id,
             round(${duckdbCos("q.ce", "c.ce")}, 6) AS cos_sim
           FROM qp JOIN af USING (cell)
           JOIN e q ON q.vec_id = qp.query_id
           JOIN e c ON c.vec_id = af.vec_id
           WHERE af.vec_id <> qp.query_id)
         SELECT query_id, vec_id, cos_sim, rk FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, vec_id) AS rk FROM sc)
         WHERE rk <= 5"""),
    Contract("embed_neardup", (s, d) =>
      pipeline.Similarity.embeddingNearDup(Tables.embeddings(s, d), 0.4),
      // Sign-LSH near-duplicate pairs: candidates agree on ≥1 band, verified
      // by exact cosine ≥ 0.4.
      s"""WITH ${pipeline.Similarity.lshBucketOracleCtes("vec_id")}
         SELECT id_a, id_b, cos_sim FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  round(${duckdbCos("a.ce", "b.ce")}, 6) AS cos_sim
           FROM bk a JOIN bk b
             ON a.vec_id < b.vec_id
            AND len([i for i in range(1, 5) if a.bks[i] = b.bks[i]]) > 0)
         WHERE cos_sim >= 0.4"""),
    // --- Matryoshka truncation fidelity: full-dim vs 16-dim top-5 ---
    Contract("mrl_overlap", (s, d) => {
      val emb = Tables.embeddings(s, d)
      pipeline.Similarity.mrlOverlap(emb, pipeline.Ivf.annQueries(emb), 5, 16)
    },
      // MRL truncation fidelity: two ranked retrievals (full / first-16
      // dims), id-overlap per query.
      s"""WITH q AS (
           SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings),
         sf_ AS (
           SELECT query_id, vec_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
           FROM (SELECT q.query_id, c.vec_id,
                        round(${duckdbCos("q.qe", "c.ce")}, 6) AS cos_sim
                 FROM q CROSS JOIN c WHERE c.vec_id <> q.query_id)),
         st AS (
           SELECT query_id, vec_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
           FROM (SELECT q.query_id, c.vec_id,
                        round(${duckdbCos("q.qe[1:16]", "c.ce[1:16]")}, 6) AS cos_sim
                 FROM q CROSS JOIN c WHERE c.vec_id <> q.query_id)),
         ov AS (
           SELECT a.query_id, count(*)::BIGINT AS n_common
           FROM (SELECT query_id, vec_id FROM sf_ WHERE rk <= 5) a
           JOIN (SELECT query_id, vec_id FROM st WHERE rk <= 5) b
             USING (query_id, vec_id)
           GROUP BY 1)
         SELECT f1.query_id, coalesce(ov.n_common, 0)::BIGINT AS n_common,
                f1.vec_id AS top1_full, t1.vec_id AS top1_trunc
         FROM (SELECT query_id, vec_id FROM sf_ WHERE rk = 1) f1
         JOIN (SELECT query_id, vec_id FROM st WHERE rk = 1) t1 USING (query_id)
         LEFT JOIN ov USING (query_id)"""),
    // --- product-quantization codes: 8 subspaces × 8 codewords (8-dim
    // each), one portable integer-Lloyd round per subspace; the oracle
    // replays training and assignment bit-for-bit ---
    Contract("pq_codes", (s, d) =>
      pipeline.Ivf.pqCodesPortable(Tables.embeddings(s, d)),
      // PQ codes: the per-subspace integer-Lloyd chain generated from the
      // same parameters as the Spark plan.
      pipeline.Ivf.pqOracleSql()),
    // --- the COMPOSED production scan: IVF cell pruning × PQ ADC within
    // probed cells × exact shortlist re-rank (no corpus×queries pass) ---
    Contract("ivf_pq", (s, d) => {
      val emb = Tables.embeddings(s, d)
      pipeline.Ivf.ivfPqTopK(emb, pipeline.Ivf.annQueries(emb), 5)
    },
      // IVF×PQ composed scan: both generated chains joined — cell-pruned
      // ADC shortlist, exact re-rank.
      pipeline.Ivf.ivfPqOracleSql()),
    // --- compressed-domain ADC top-k: queries scored against codeword
    // reconstructions (the IVF-PQ scan shape) ---
    Contract("pq_adc", (s, d) => {
      val emb = Tables.embeddings(s, d)
      pipeline.Ivf.pqAdcTopK(emb, pipeline.Ivf.annQueries(emb), 5)
    },
      // PQ ADC top-k: same chain, cosine vs codeword concatenation.
      pipeline.Ivf.pqAdcOracleSql()),
    // --- SemDedup-style semantic dedup: portable k-means cells, within-cell
    // near-dup, keep the lowest id per group — the oracle replays the
    // quantizer AND the keep/drop decision exactly ---
    Contract("semantic_dedup", (s, d) =>
      pipeline.Similarity.semanticDedup(Tables.embeddings(s, d), 0.4),
      // SemDedup replay, generated by Similarity.semanticDedupOracleCtes
      // from the plan's parameters: the integer-Lloyd chain up to the final
      // assignment `af`, then within-cell lower-id pairs at cosine ≥ τ
      // resolved to min dup_of — the keep/drop decision bit-matches.
      s"""WITH ${pipeline.Similarity.semanticDedupOracleCtes("p", tau = 0.4)}
         SELECT af.vec_id, af.cell::INT AS cell,
                p.dup_of IS NULL AS keep, p.dup_of
         FROM af LEFT JOIN p USING (vec_id)"""),
    // --- per-label class prototypes: exact integer sum centroids ---
    Contract("label_centroids", (s, d) =>
      pipeline.Similarity.labelCentroids(Tables.embeddings(s, d)),
      // Class prototypes: same quantization + integer sums as the IVF
      // oracle's s1 CTE, grouped by label instead of cell.
      """WITH q AS (
           SELECT label, list_transform(embedding::DOUBLE[], x -> floor(x * 1000 + 0.5)) AS qv
           FROM embeddings),
         s AS (
           SELECT label, p.pos::INT AS pos, sum(qv[p.pos + 1])::BIGINT AS component_sum
           FROM q, LATERAL (SELECT unnest(range(64)) AS pos) p
           GROUP BY label, p.pos),
         n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
         SELECT s.label, s.pos, s.component_sum, n.n_vecs
         FROM s JOIN n USING (label)"""),
    // --- kNN label confusion matrix over LSH candidates: each vector's
    // k=5 nearest candidates vote; off-diagonal cells localize confused
    // class pairs (label-quality audit) ---
    Contract("knn_purity", (s, d) =>
      pipeline.Similarity.knnLabelConfusion(Tables.embeddings(s, d), k = 5),
      // kNN label confusion: the embed_neardup planes/buckets
      // (Similarity.lshBucketOracleCtes), BOTH directions (every vector is a probe); per probe rank candidates by
      // (rounded cosine DESC, vec_id ASC) — a total order — keep rk ≤ 5,
      // then count (label_probe, label_neighbor) votes.
      s"""WITH ${pipeline.Similarity.lshBucketOracleCtes("vec_id, label")},
         cand AS (
           SELECT a.vec_id AS query_id, a.label AS label_probe,
                  b.vec_id AS vec_id, b.label AS label_neighbor,
                  round(${duckdbCos("a.ce", "b.ce")}, 6) AS cos_sim
           FROM bk a JOIN bk b
             ON a.vec_id <> b.vec_id
            AND len([i for i in range(1, 5) if a.bks[i] = b.bks[i]]) > 0),
         ranked AS (
           SELECT query_id, label_probe, vec_id, label_neighbor,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, vec_id) AS rk
           FROM cand)
         SELECT label_probe::BIGINT AS label_probe,
                label_neighbor::BIGINT AS label_neighbor,
                count(*)::BIGINT AS n_pairs
         FROM ranked WHERE rk <= 5
         GROUP BY 1, 2"""),
    // --- triangle counting: degree-oriented wedge join over a synthetic
    // graph (lineitem keys portable-hashed into a 20011-node space — both
    // engines derive identical edges) ---
    Contract("triangle_count", (s, d) =>
      sources.GraphLoader.triangleCount(hashGraph(s, d)),
      // Triangles assigned to their minimum vertex: the plain a<b<c 3-way
      // join is orientation-independent, so it checks the engine's
      // degree-oriented plan exactly.
      s"""WITH und AS ($HashUndSql)
         SELECT e1.a AS vertex, count(*)::BIGINT AS n_triangles
         FROM und e1
         JOIN und e2 ON e1.b = e2.a
         JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
         GROUP BY e1.a"""),
    // --- portable integer-mass PageRank over the same hash-derived
    // Graph500-style fixture as triangle_count: fixed 3 iterations, all
    // BIGINT arithmetic, the DuckDB oracle unrolls the identical rounds ---
    Contract("pagerank", (s, d) =>
      sources.GraphLoader.pageRankPortable(hashGraph(s, d), iters = 3),
      s"""WITH ed AS (SELECT DISTINCT s, t FROM ($HashEdgesSql) WHERE s <> t),
         nodes AS (SELECT DISTINCT v FROM (SELECT s AS v FROM ed UNION ALL SELECT t FROM ed)),
         od AS (SELECT s, count(*)::BIGINT AS deg FROM ed GROUP BY s),
         m0 AS (SELECT v, 1000000::BIGINT AS m FROM nodes),
         c1 AS (SELECT ed.t AS v, sum((m0.m * 85) // (100 * od.deg))::BIGINT AS c
                FROM ed JOIN od USING (s) JOIN m0 ON m0.v = ed.s GROUP BY ed.t),
         m1 AS (SELECT n.v, (150000 + coalesce(c1.c, 0))::BIGINT AS m
                FROM nodes n LEFT JOIN c1 USING (v)),
         c2 AS (SELECT ed.t AS v, sum((m1.m * 85) // (100 * od.deg))::BIGINT AS c
                FROM ed JOIN od USING (s) JOIN m1 ON m1.v = ed.s GROUP BY ed.t),
         m2 AS (SELECT n.v, (150000 + coalesce(c2.c, 0))::BIGINT AS m
                FROM nodes n LEFT JOIN c2 USING (v)),
         c3 AS (SELECT ed.t AS v, sum((m2.m * 85) // (100 * od.deg))::BIGINT AS c
                FROM ed JOIN od USING (s) JOIN m2 ON m2.v = ed.s GROUP BY ed.t),
         m3 AS (SELECT n.v, (150000 + coalesce(c3.c, 0))::BIGINT AS m
                FROM nodes n LEFT JOIN c3 USING (v))
         SELECT v AS vertex, m AS rank_mass FROM m3"""),
    // --- personalized (seed-teleport) PageRank over the same directed
    // hash graph: teleport mass returns only to {v : v mod 17 = 0};
    // oracle CTE chain generated from the same parameters ---
    Contract("ppr_seeds", (s, d) =>
      sources.GraphLoader.pageRankPersonalized(hashGraph(s, d), iters = 3, seedMod = 17L),
      // Personalized PageRank: same directed hash graph, teleport mass only
      // to seeds {v % 17 = 0}; rounds generated from the engine's parameters.
      s"""WITH ed AS (SELECT DISTINCT s, t FROM ($HashEdgesSql) WHERE s <> t),
         ${sources.GraphLoader.pprOracleCtes(iters = 3, seedMod = 17L,
             dampNum = 85L, dampDen = 100L, base = 150000L, init = 1000000L)}
         SELECT n.v AS vertex, coalesce(m.m, 0)::BIGINT AS rank_mass
         FROM nodes n LEFT JOIN m3 m USING (v)"""),
    // --- portable integer-mass HITS over the same directed hash graph;
    // oracle CTE chain generated from the same parameters ---
    Contract("hits_scores", (s, d) =>
      sources.GraphLoader.hitsPortable(hashGraph(s, d), iters = 2),
      // Portable HITS: unrolled hub/authority half-rounds with floor-division
      // renormalization, generated from the same parameters as the engine.
      s"""WITH ed AS (SELECT DISTINCT s, t FROM ($HashEdgesSql) WHERE s <> t),
         ${sources.GraphLoader.hitsOracleCtes(iters = 2, scale = 1000000L)}
         SELECT n.v AS vertex, coalesce(h.m, 0)::BIGINT AS hub_mass,
                coalesce(a.m, 0)::BIGINT AS auth_mass
         FROM nodes n
         LEFT JOIN h2 h ON n.v = h.v
         LEFT JOIN a2 a ON n.v = a.v"""),
    // --- relational frontend (SURVEY §3.2): op-tree lowered to Catalyst ---
    Contract("raco_frontend", (s, d) => {
      import plans.Relational._
      lower(s, Dump(
        Apply(Seq(
          "l_orderkey" -> Ref("l_orderkey"),
          "l_linenumber" -> Ref("l_linenumber"),
          "qty" -> Ref("l_quantity"),
          "taxed" -> Times(Ref("l_extendedprice"), Plus(Lit(1.0), Ref("l_tax")))),
          Select(And(Gt(Ref("l_quantity"), Lit(45.0)), Lt(Ref("l_discount"), Lit(0.02))),
            ParquetScan(s"$d/lineitem.parquet")))))
        .withColumn("taxed", round(col("taxed") * 100).cast("long") / 100.0)
    },
      """SELECT l_orderkey, l_linenumber, l_quantity AS qty,
                round(l_extendedprice * (1.0 + l_tax) * 100)::BIGINT / 100.0 AS taxed
         FROM lineitem WHERE l_quantity > 45.0 AND l_discount < 0.02"""),
    // --- direct SQL frontend with the engine's native functions
    // registered into the session — the spark.sql migration path.
    // register() is idempotent (re-registration overwrites with the same
    // builders), needed here because the driver's bare session was built
    // without `spark.sql.extensions=graft.GraftExtensions`. ---
    Contract("sql_surface", (s, d) => {
      GraftExtensions.register(s)
      Tables.documents(s, d).createOrReplaceTempView("graft_documents")
      s.sql("""SELECT doc_id, portable_hash60(text) AS h,
                      CAST(length(text) AS BIGINT) AS n
               FROM graft_documents WHERE doc_id % 7 = 0""")
    },
      s"""SELECT doc_id, ${duckdbHash60("text")} AS h,
                length(text)::BIGINT AS n
         FROM documents WHERE doc_id % 7 = 0"""),
    // --- Raco plan-text frontend (SURVEY §3.2, reference opt/raco/PTree.kt):
    // a serialized Myria plan string parsed and lowered to Catalyst. ---
    Contract("raco_plan_text", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("public_adhoc_lineitem")
      plans.Relational.lower(s, plans.RacoParser.parsePlan(
        """Dump(Apply([('l_orderkey', NamedAttributeRef('l_orderkey')),
             ('l_linenumber', NamedAttributeRef('l_linenumber')),
             ('rate', DIVIDE(DIVIDE(NamedAttributeRef('l_extendedprice'), NamedAttributeRef('l_quantity')), NumericLiteral(1000.0))),
             ('taxed_qty', TIMES(NamedAttributeRef('l_quantity'), PLUS(NumericLiteral(1.0), NamedAttributeRef('l_tax'))))],
           Select(GT(UnnamedAttributeRef(4, None), NumericLiteral(45.0)),
             Scan(RelationKey('public', 'adhoc', 'lineitem'),
               Scheme([('l_orderkey', 'LONG_TYPE'), ('l_partkey', 'LONG_TYPE'), ('l_suppkey', 'LONG_TYPE'), ('l_linenumber', 'LONG_TYPE'), ('l_quantity', 'DOUBLE_TYPE'), ('l_extendedprice', 'DOUBLE_TYPE'), ('l_discount', 'DOUBLE_TYPE'), ('l_tax', 'DOUBLE_TYPE'), ('l_returnflag', 'STRING_TYPE'), ('l_linestatus', 'STRING_TYPE'), ('l_shipdate', 'DATETIME_TYPE')]), 10000,
               RepresentationProperties(frozenset([]), None, None)))))"""))
    },
      // Both engines evaluate the same IEEE double expression trees
      // (div/div, mul of (1+tax)) in the same order — exact compare.
      """SELECT l_orderkey, l_linenumber,
                l_extendedprice / l_quantity / 1000.0 AS rate,
                l_quantity * (1.0 + l_tax) AS taxed_qty
         FROM lineitem WHERE l_quantity > 45.0"""),
    // --- multimodal columns: binary payload + stubbed decode plumbing.
    // Media derived deterministically from documents so the mapPartitions
    // kernel's observable output (byte counts) is oracle-checkable. ---
    Contract("media_features", (s, d) =>
      pipeline.Multimodal.extractFeatures(
        pipeline.Multimodal.mediaFromDocs(Tables.documents(s, d)), dim = 16)
        .select(col("media_id"), col("kind"), col("n_bytes")),
      // The audio/video decode kernel is a stub, but its observable contract —
      // one output row per media row, byte count of the binary payload — is
      // exact. (Image decode is REAL; see media_decode.)
      """SELECT doc_id AS media_id,
                CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                octet_length(encode(text))::BIGINT AS n_bytes
         FROM documents"""),
    // --- REAL image decode (JDK ImageIO): synthetic PNGs whose pixels are
    // a pure integer formula of (media_id,x,y) are encoded, round-tripped
    // through the real decoder AND the real nearest-neighbor resize
    // operator, and reduced to integer pixel sums; the oracle recomputes
    // the sums analytically (PNG is lossless ⇒ exact match). ---
    Contract("media_decode", (s, d) =>
      pipeline.Multimodal.decodePixelStats(
        pipeline.Multimodal.syntheticPngs(Tables.documents(s, d)), rw = 7, rh = 5),
      // REAL ImageIO decode: the engine encodes formula pixels to PNG,
      // decodes them back (plus a nearest-neighbor resize round trip) and
      // sums channels; the oracle evaluates the same
      // integer formula (Multimodal.pngPixelSql) analytically over a
      // lateral pixel grid. `//` is
      // DuckDB integer division — the exact resizeNN source-pixel mapping.
      s"""WITH ${pipeline.Multimodal.pngDimsCte("dims")},
         px AS (
           SELECT media_id,
             ${pipeline.Multimodal.pngPixelSql("x", "y")}
           FROM dims, LATERAL (SELECT unnest(range(w)) AS x), LATERAL (SELECT unnest(range(h)) AS y)),
         rs AS (
           SELECT media_id,
             ${pipeline.Multimodal.pngPixelSql("((x2*w)//7)", "((y2*h)//5)")}
           FROM dims, LATERAL (SELECT unnest(range(7)) AS x2), LATERAL (SELECT unnest(range(5)) AS y2)),
         o AS (SELECT media_id, sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g, sum(b)::BIGINT AS sum_b,
                      max(r)::BIGINT AS max_r, max(g)::BIGINT AS max_g, max(b)::BIGINT AS max_b
               FROM px GROUP BY media_id),
         r2 AS (SELECT media_id, sum(r)::BIGINT AS rs_sum_r, sum(g)::BIGINT AS rs_sum_g, sum(b)::BIGINT AS rs_sum_b
                FROM rs GROUP BY media_id)
         SELECT d.media_id, true AS decoded, d.w::BIGINT AS w, d.h::BIGINT AS h,
                o.sum_r, o.sum_g, o.sum_b, o.max_r, o.max_g, o.max_b,
                r2.rs_sum_r, r2.rs_sum_g, r2.rs_sum_b
         FROM dims d JOIN o USING (media_id) JOIN r2 USING (media_id)"""),
    // --- REAL audio decode (JDK javax.sound.sampled): synthetic WAVs with
    // formula samples round-trip through the real PCM codec; integer
    // sample stats recomputed analytically by the oracle. ---
    Contract("media_audio", (s, d) =>
      pipeline.Multimodal.decodeAudioStats(
        pipeline.Multimodal.syntheticWavs(Tables.documents(s, d))),
      // REAL WAV decode: the engine hand-assembles PCM containers from the
      // sample formula, parses them back with the JDK's real audio codec
      // (format chunk + frame extraction) and sums samples; the oracle
      // evaluates the same integer formula analytically. PCM is lossless.
      """WITH dims AS (SELECT doc_id AS media_id, 800 + (doc_id % 5) * 100 AS n
                       FROM documents),
         sm AS (
           SELECT media_id, n, ((media_id * 31 + i * 17) % 65536) - 32768 AS v
           FROM dims, LATERAL (SELECT unnest(range(n)) AS i))
         SELECT media_id, true AS decoded, 8000::BIGINT AS sample_rate,
                max(n)::BIGINT AS n_samples,
                sum(v)::BIGINT AS sum_s, min(v)::BIGINT AS min_s,
                max(v)::BIGINT AS max_s, sum(abs(v))::BIGINT AS sum_abs
         FROM sm GROUP BY media_id"""),
    // --- REAL video frame extraction: RIFF/AVI chunk walk + per-frame
    // DIB decode via the real ImageIO BMP codec; per-frame pixel sums
    // recomputed analytically by the oracle. ---
    Contract("media_video", (s, d) =>
      pipeline.Multimodal.decodeVideoStats(
        pipeline.Multimodal.syntheticAvis(Tables.documents(s, d))),
      // REAL AVI frame extraction + BMP decode: the engine walks the RIFF
      // chunk tree it assembled, decodes each DIB frame with the JDK BMP
      // codec and sums channels per frame; the oracle evaluates the same
      // integer formula over a (frame, x, y) grid. DIB is lossless.
      """WITH dims AS (SELECT doc_id AS media_id, 8 + doc_id % 3 AS w,
                              6 + doc_id % 2 AS h, 2 + doc_id % 3 AS nf
                       FROM documents),
         px AS (
           SELECT media_id, f, w, h,
             (media_id*7 + f*19 + x*3 + y*5) % 256 AS r,
             (media_id*11 + f*23 + x*5 + y*7) % 256 AS g,
             (media_id*13 + f*29 + x*7 + y*11) % 256 AS b
           FROM dims,
                LATERAL (SELECT unnest(range(nf)) AS f),
                LATERAL (SELECT unnest(range(w)) AS x),
                LATERAL (SELECT unnest(range(h)) AS y))
         SELECT media_id, f::BIGINT AS frame_idx, true AS decoded,
                max(w)::BIGINT AS w, max(h)::BIGINT AS h,
                sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
                sum(b)::BIGINT AS sum_b
         FROM px GROUP BY media_id, f"""),
    // --- REAL multi-frame GIF: JDK sequence writer + stock ImageIO GIF
    // reader (no hand-written walker); exact gray palette ⇒ integer-exact ---
    Contract("media_gif", (s, d) =>
      pipeline.Multimodal.decodeGifStats(
        pipeline.Multimodal.syntheticGifs(Tables.documents(s, d))),
      // REAL multi-frame GIF via the stock ImageIO plugin (writer AND
      // reader — no hand-written walker); the exact 256-gray palette makes
      // the round trip integer-exact, so the oracle evaluates the same
      // formula analytically.
      """WITH dims AS (SELECT doc_id AS media_id, 8 + doc_id % 3 AS w,
                              6 + doc_id % 2 AS h, 2 + doc_id % 3 AS nf
                       FROM documents),
         px AS (
           SELECT media_id, f, w, h,
             (media_id*7 + f*19 + x*3 + y*5) % 256 AS gray
           FROM dims,
                LATERAL (SELECT unnest(range(nf)) AS f),
                LATERAL (SELECT unnest(range(w)) AS x),
                LATERAL (SELECT unnest(range(h)) AS y))
         SELECT media_id, f::BIGINT AS frame_idx, true AS decoded,
                max(w)::BIGINT AS w, max(h)::BIGINT AS h,
                sum(gray)::BIGINT AS sum_gray
         FROM px GROUP BY media_id, f"""),
    // --- media curation capstone: real decode → integer luminance filter
    // → exact pixel-fingerprint dedup → portable split, one plan ---
    Contract("media_curate", (s, d) =>
      pipeline.Multimodal.curateMedia(Tables.documents(s, d)),
      // Media curation capstone: the Multimodal.pngSumCtes pixel sums
      // reduced to integer luminance + exact fingerprints, filtered/deduped/
      // split with the same portable integer arithmetic the engine uses.
      s"""WITH ${pipeline.Multimodal.pngSumCtes("")},
         q AS (
           SELECT media_id, w, h, sr, sg, sb,
                  (sr + sg + sb) // (3 * w * h) AS lum
           FROM st
           WHERE (sr + sg + sb) // (3 * w * h) BETWEEN 100 AND 160),
         canon AS (SELECT min(media_id) AS media_id FROM q GROUP BY w, h, sr, sg, sb)
         SELECT q.media_id, q.lum::BIGINT AS lum,
                CASE WHEN ${duckdbHash60("'msplit_' || q.media_id::VARCHAR")} % 100 < 80 THEN 'train'
                     WHEN ${duckdbHash60("'msplit_' || q.media_id::VARCHAR")} % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM q JOIN canon USING (media_id)"""),
    // --- CROSS-SURFACE capstone: text boilerplate + embedding SemDedup +
    // real media decode quality gates in ONE plan, oracle-replayed whole ---
    Contract("multimodal_curate", (s, d) =>
      pipeline.TrainingData.curateMultimodal(
        Tables.documents(s, d), Tables.embeddings(s, d)),
      // Cross-surface capstone replay: the duplicated-trigram fraction, the
      // SemDedup chain (Similarity.semanticDedupOracleCtes) and the pixel
      // sums (Multimodal.pngSumCtes), joined on doc_id + the md5 split —
      // one query.
      s"""WITH ${pipeline.Dedup.dupNgramOracleCtes("documents", "x")},
         txt AS (
           SELECT doc_id FROM ngx JOIN dfreqx USING (ng)
           GROUP BY doc_id
           HAVING ${pipeline.Dedup.dupFracSql} <= 0.65),
         ${pipeline.Similarity.semanticDedupOracleCtes("pdup")},
         sem AS (
           SELECT af.vec_id AS doc_id FROM af LEFT JOIN pdup USING (vec_id)
           WHERE pdup.dup_of IS NULL),
         ${pipeline.Multimodal.pngSumCtes("m")},
         med AS (
           SELECT media_id AS doc_id, (sr + sg + sb) // (3 * w * h) AS lum
           FROM stm
           WHERE (sr + sg + sb) // (3 * w * h) BETWEEN 100 AND 160)
         SELECT d.doc_id, med.lum::BIGINT AS lum,
                CASE WHEN ${duckdbHash60("'mmsplit_' || d.doc_id::VARCHAR")} % 100 < 80 THEN 'train'
                     WHEN ${duckdbHash60("'mmsplit_' || d.doc_id::VARCHAR")} % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM documents d
         JOIN txt USING (doc_id)
         JOIN sem USING (doc_id)
         JOIN med USING (doc_id)"""),
  )
}
