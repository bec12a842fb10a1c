package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions on the relational queries against real testdata:
  * pushdown, pruning and broadcast choices must actually appear in the
  * physical plan — the 100 TB design contract, checked at sf0.001.
  */
class RelationalSpec extends AnyFunSuite {
  import TestSpark._
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    val q = df.queryExecution
    q.executedPlan.toString() + "\n" + q.explainString(org.apache.spark.sql.execution.SimpleMode)
  }

  test("filter_pushdown: predicates and projection reach the parquet scan") {
    val p = plan(RelationalQueries.filterPushdown(spark, sf))
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("l_shipdate"), "shipdate filter not pushed")
    // column pruning: unneeded wide columns are not read
    assert(!p.contains("l_returnflag"), "scan reads pruned column")
  }

  test("lara_range_filter: MinMaxFilter/D4mRangeFilter predicates push to the scan") {
    val p = plan(LaraQueries.rangeFilter(spark, sf))
    // both the key-range cut and the membership cut must reach parquet
    // (row-group min/max skipping — the RowRangeIterator delegation)
    assert(p.contains("GreaterThanOrEqual(l_orderkey,1000)") &&
      p.contains("LessThanOrEqual(l_orderkey,3000)"),
      s"key range not pushed:\n$p")
    // the PushedFilters list truncates mid-entry in explain output, so the
    // membership pushdown is asserted on the scan's DataFilters rendering
    assert(p.contains("IN (1"), s"membership not pushed:\n$p")
  }

  test("q5_multijoin: dimension joins are broadcast") {
    val p = plan(RelationalQueries.q5MultiJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q8/q9: every dimension hop broadcasts; no cartesian") {
    for (df <- Seq(RelationalQueries.q8MarketShare(spark, sf),
      RelationalQueries.q9Profit(spark, sf))) {
      val p = plan(df)
      // q8 resolves customer + 2 nation roles + region + supplier, q9
      // supplier + nation + part — at least 3 broadcast hash joins each
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, s"missing broadcasts in:\n$p")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("q1_agg: partial (map-side) aggregation present") {
    val p = plan(RelationalQueries.q1Agg(spark, sf))
    // hash agg appears twice: partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg in:\n$p")
  }

  test("wordcount ext stays in whole-stage codegen") {
    val d = LaraQueries.extWordcount(spark, sf)
    d.collect() // finalize the AQE plan; codegen spans only appear then
    val p = d.queryExecution.executedPlan.toString()
    // codegen stages print as "*(n) Operator" in the simple plan string
    assert("""\*\(\d+\)""".r.findFirstIn(p).isDefined, s"no codegen span in:\n$p")
  }

  test("queries and oracles are consistently keyed") {
    // each contract carries its own oracle; the one slip left is a
    // duplicated name, which the `.toMap` views would silently collapse
    val names = SparkEntry.contracts.map(_.name)
    assert(names.diff(names.distinct).isEmpty, "duplicated: " + names.diff(names.distinct))
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 242)
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("portable windowed covariance ≈ the double-based batch twin (quantization only)") {
    // the contract query quantizes values to cents; its covariances must
    // track the unquantized operator within the quantization's effect on
    // the deviations (|Δmean| ≤ 0.005 ⇒ |Δcov| well under 1.0 here —
    // observed covariances are O(100))
    val p = RelationalQueries.windowedCovariancePortable(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap
    val b = streaming.StreamingTwins.windowedCovarianceBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap
    assert(p.nonEmpty && p.keySet == b.keySet)
    p.foreach { case (k, v) =>
      assert(math.abs(v - b(k)) <= 1.0, s"$k: portable $v vs batch ${b(k)}") }
  }

  test("profile: exact per-column stats in two cheap passes, null accounting, mixed types") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
    val got = RelationalQueries.profileStats(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))))
      .toMap
    assert(got.keySet == Set("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_shipdate"))
    // cross-check two columns against directly computed values
    val ok = li.agg(count_distinct(col("l_orderkey")), min(col("l_orderkey")),
      max(col("l_orderkey"))).head()
    assert(got("l_orderkey") == ((0L, ok.getLong(0), ok.getLong(1).toString, ok.getLong(2).toString)))
    val rf = li.agg(count_distinct(col("l_returnflag")), min(col("l_returnflag")),
      max(col("l_returnflag"))).head()
    assert(got("l_returnflag") == ((0L, rf.getLong(0), rf.getString(1), rf.getString(2))))
    // nulls are counted, not dropped
    val withNulls = li.withColumn("l_returnflag",
      when(col("l_linenumber") === 1, lit(null: String)).otherwise(col("l_returnflag")))
    val n = RelationalQueries.profile(withNulls, Seq("l_returnflag")).head()
    assert(n.getLong(1) == li.filter(col("l_linenumber") === 1).count())
    // two pruned scans (regular pass + distinct pass), combined by a 1×1
    // broadcast cross join; the Expand blowup carries ONLY the distinct
    // pass (see profile's scaladoc for the measured reason)
    val pl = plan(RelationalQueries.profileStats(spark, sf))
    assert(pl.contains("Expand"))
    assert(!pl.contains("Union"))
    assert(pl.contains("BroadcastNestedLoopJoin"), s"1x1 combine must broadcast:\n$pl")
    assert("Scan parquet".r.findAllIn(pl).size <= 4, // simple+executed string: 2 scans each
      s"profile must read the table at most twice:\n$pl")
  }

  test("funnelStages: greedy subsequence depth with strict time ordering") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = new StructType().add("user_id", LongType)
      .add("ts", TimestampType).add("event_type", StringType)
    def ev(u: Long, min: Long, t: String) = Row(u, new java.sql.Timestamp(min * 60000L), t)
    val evs = TestSpark.df(schema, Seq(
      // A: clean view→click→purchase
      ev(1, 1, "view"), ev(1, 2, "click"), ev(1, 3, "purchase"),
      // B: noise before — depth still found as a subsequence
      ev(2, 1, "click"), ev(2, 2, "view"), ev(2, 3, "click"), ev(2, 4, "purchase"),
      // C: view only
      ev(3, 9, "view"),
      // D: reversed order — only the view counts
      ev(4, 1, "purchase"), ev(4, 2, "click"), ev(4, 3, "view"),
      // E: click at the SAME instant as view — strictly-after required
      ev(5, 7, "view"), ev(5, 7, "click"),
      // F: never enters the funnel
      ev(6, 1, "signup"), ev(6, 2, "error")))
    val got = RelationalQueries.funnelStages(evs, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 0L))
  }

  test("funnelTiming: convert interval from stage-1 to deepest; null below depth 2") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = new StructType().add("user_id", LongType)
      .add("ts", TimestampType).add("event_type", StringType)
    def ev(u: Long, min: Long, t: String) = Row(u, new java.sql.Timestamp(min * 60000L), t)
    val evs = TestSpark.df(schema, Seq(
      ev(1, 1, "view"), ev(1, 2, "click"), ev(1, 5, "purchase"), // 4 min convert
      ev(2, 3, "view"), ev(2, 9, "click"),                        // depth 2: 6 min
      ev(3, 4, "view"),                                           // depth 1: null
      ev(4, 8, "error")))                                         // depth 0: null
    val got = RelationalQueries.funnelTiming(evs, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) null else r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((3L, 4L * 60000000L)),
      2L -> ((2L, 6L * 60000000L)),
      3L -> ((1L, null)),
      4L -> ((0L, null))))
  }

  test("cohortRetention: first-seen-day cohorts, per-offset distinct activity") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = new StructType().add("user_id", LongType).add("ts", TimestampType)
    def d(u: Long, day: Long, h: Long = 0L) =
      Row(u, new java.sql.Timestamp((day * 24 + h) * 3600000L))
    val evs = TestSpark.df(schema, Seq(
      d(1, 0), d(1, 0, 5), d(1, 1), d(1, 3), // u1: cohort 0, active 0,1,3
      d(2, 0), d(2, 3),                      // u2: cohort 0, active 0,3
      d(3, 1), d(3, 2)))                     // u3: cohort 1, active 1,2
    val got = RelationalQueries.cohortRetention(evs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // cohort day is the epoch-day index (fixture starts at epoch day 0);
    // multiple same-day events count once (u1 has two day-0 events)
    assert(got == Map(
      (0L, 0L) -> 2L, // u1,u2 on their cohort day
      (0L, 1L) -> 1L, // u1
      (0L, 3L) -> 2L, // u1,u2
      (1L, 0L) -> 1L, // u3
      (1L, 1L) -> 1L)) // u3
  }

  test("rateAnomaly: trailing-window z from exact sums; degenerate windows null out") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = new StructType().add("ts", TimestampType).add("event_type", StringType)
    // type "a": hours 0..19 have 2 events each, hour 20 has 6 (a spike
    // after FLAT history → sd = 0 → z must be NULL, not 0)
    // type "b": counts 1,2,1,2,... then a spike — scorable z
    val rows = (0 until 20).flatMap(h => Seq.fill(2)(Row(new java.sql.Timestamp(h * 3600000L), "a"))) ++
      Seq.fill(6)(Row(new java.sql.Timestamp(20 * 3600000L), "a")) ++
      (0 until 20).flatMap(h => Seq.fill(1 + h % 2)(Row(new java.sql.Timestamp(h * 3600000L), "b"))) ++
      Seq.fill(8)(Row(new java.sql.Timestamp(20 * 3600000L), "b"))
    val got = RelationalQueries.rateAnomaly(TestSpark.df(schema, rows))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    // first 12 hours are filtered (k < minHours); flat history → null z
    assert(!got.contains(("a", 5L)))
    assert(got(("a", 15L)) == ((2L, null)))
    assert(got(("a", 20L)) == ((6L, null)), "spike after flat history: unscoreable, not z=0")
    // "b" spike: trailing 20 rows alternate 1/2 → mean 1.5, sd ≈ 0.513;
    // z = (8 − 1.5)/sd ≈ 12.68 — recompute the exact formula
    val (n, s1, s2, k) = (8.0, 30L, 50L, 20L)
    val expZ = (n - s1.toDouble / k) /
      math.sqrt((k * s2 - s1 * s1).toDouble / (k.toDouble * (k - 1)))
    assert(got(("b", 20L))._2 == expZ, s"got ${got(("b", 20L))._2} want $expZ")
  }

  test("histogram: exact integer bin arithmetic matches brute force, conserves rows") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
    val got = RelationalQueries.histogramStats(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keys.forall(b => b >= 0L && b < 32L))
    assert(got.values.sum == li.count())
    // brute-force replica on collected cents
    val cents = li.select(round(col("l_extendedprice") * 100).cast("long")).collect().map(_.getLong(0))
    val (mn, mx) = (cents.min, cents.max)
    val exp = cents.groupBy(v => (v - mn) * 32 / (mx - mn + 1)).map { case (b, vs) => b -> vs.length.toLong }
    assert(got == exp)
    // min and max land in the first and last bins by construction
    assert(got.contains(0L) && got.contains(((mx - mn) * 32 / (mx - mn + 1))))
  }

  test("skyline: bucket decomposition equals brute-force dominance on random points") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // deterministic pseudo-random points, duplicates included on purpose
    // (equal points do not dominate each other — both must survive)
    val rnd = new scala.util.Random(42)
    val pts = (1 to 400).map { i =>
      Row(i.toLong, 900.0 + rnd.nextInt(1000) / 10.0, (1 + rnd.nextInt(50)))
    } ++ Seq(Row(401L, 917.3, 33), Row(402L, 917.3, 33)) // exact duplicate point
    val st = new StructType().add("p_partkey", LongType)
      .add("p_retailprice", DoubleType).add("p_size", IntegerType)
    val parts = TestSpark.df(st, pts)
    val got = RelationalQueries.skyline(parts).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    // brute force straight from the definition
    val all = pts.map(r => (r.getLong(0), r.getDouble(1), r.getInt(2).toLong))
    val exp = all.filter { case (_, p, s) =>
      !all.exists { case (_, p2, s2) => p2 <= p && s2 >= s && (p2 < p || s2 > s) }
    }.toSet
    assert(got == exp, s"missing=${exp -- got} extra=${got -- exp}")
    assert(exp.exists { case (id, _, _) => id == 401L } ==
      exp.exists { case (id, _, _) => id == 402L }, "duplicate points live or die together")
  }

  test("ohlcDownsample: first/last by (ts, event_id); ONE shuffle serves windows + agg") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val st = new StructType().add("event_id", LongType).add("ts", TimestampType)
      .add("user_id", LongType).add("event_type", StringType).add("value", DoubleType)
    // one hour bucket: open decided by event_id tie at t=0; close at t=30
    val ev = TestSpark.df(st, Seq(
      Row(2L, t(0), 1L, "a", 5.0), Row(1L, t(0), 1L, "a", 3.0),
      Row(3L, t(30), 1L, "a", 9.0), Row(4L, t(10), 1L, "a", 1.0)))
    val d = RelationalQueries.ohlcDownsample(ev)
    val r = d.collect().head
    assert((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)) ==
      ((3.0, 9.0, 1.0, 9.0, 4L)), s"got $r")
    // the windows and the aggregate share the (event_type, h) partitioning:
    // exactly one hash exchange in the FINAL plan (the AQE dump repeats
    // the pre-adaptive plan under "== Initial Plan ==" — don't count it)
    d.collect()
    val finalPlan = d.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    val shuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles:\n$finalPlan")
  }

  test("rollingHourRange: boundary exactly 1h ago excluded, peers share frames") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def t(us: Long) = new java.sql.Timestamp(us / 1000) // whole-ms fixtures
    val st = new StructType().add("event_id", LongType).add("ts", TimestampType)
      .add("user_id", LongType).add("event_type", StringType).add("value", DoubleType)
    val H = 3600000000L
    val ev = TestSpark.df(st, Seq(
      Row(1L, t(0L), 1L, "a", 1.0),        // base
      Row(2L, t(H), 1L, "a", 2.0),         // exactly 1h later: frame EXCLUDES id 1
      Row(3L, t(H + 1000L), 1L, "a", 4.0), // 1ms after the peers
      Row(4L, t(H), 1L, "a", 8.0),         // peer of id 2: same tus, shared frame
      Row(5L, t(2 * H - 1000L), 2L, "b", 16.0))) // other user: independent
    val got = RelationalQueries.rollingHourRange(ev).collect()
      .map(r => r.getLong(1) -> ((r.getLong(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((1L, 1.0)))
    // ids 2 and 4 are RANGE peers at t=1h: both see {2,4} but NOT 1
    // (the frame is (t−1h, t], the 1h-ago point falls outside)
    assert(got(2L) == ((2L, 10.0)), s"got ${got(2L)}")
    assert(got(4L) == ((2L, 10.0)), s"got ${got(4L)}")
    // id 3 is 1ms after the peers: sees 2, 4, itself
    assert(got(3L) == ((3L, 14.0)), s"got ${got(3L)}")
    assert(got(5L) == ((1L, 16.0)))
  }

  test("gapFill: missing hours carry the last close; observed flags real hours") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val st = new StructType().add("event_id", LongType).add("ts", TimestampType)
      .add("user_id", LongType).add("event_type", StringType).add("value", DoubleType)
    // type a: hours 0 and 3 observed (gap at 1, 2); close of hour 0 is 7.0
    val ev = TestSpark.df(st, Seq(
      Row(1L, t(100), 1L, "a", 2.0), Row(2L, t(200), 1L, "a", 7.0),
      Row(3L, t(3 * 3600 + 5), 1L, "a", 4.0),
      Row(4L, t(3600), 1L, "b", 1.0)))
    val got = RelationalQueries.gapFill(ev).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      ("a", 0L) -> ((1L, 7.0)), ("a", 1L) -> ((0L, 7.0)),
      ("a", 2L) -> ((0L, 7.0)), ("a", 3L) -> ((1L, 4.0)),
      ("b", 1L) -> ((1L, 1.0))), s"got $got")
  }

  test("winsorize: discrete-rank thresholds clip tails, interior untouched") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val st = new StructType().add("event_id", LongType).add("ts", TimestampType)
      .add("user_id", LongType).add("event_type", StringType).add("value", DoubleType)
    // 10 values 1..10 for one type; lo=0.15 → rank ceil(1.5)=2 → vlo=2;
    // hi=0.85 → rank ceil(8.5)=9 → vhi=9
    val ev = TestSpark.df(st, (1 to 10).map(i =>
      Row(i.toLong, t(i * 60), 1L, "a", i.toDouble)))
    val got = RelationalQueries.winsorize(ev, lo = 0.15, hi = 0.85).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getLong(3)))).toMap
    assert(got(1L) == ((2.0, 1L)) && got(10L) == ((9.0, 1L)), s"tails: $got")
    assert(got(2L) == ((2.0, 0L)) && got(9L) == ((9.0, 0L)), "boundary values pass unclipped")
    assert((3 to 8).forall(i => got(i.toLong) == ((i.toDouble, 0L))), "interior untouched")
  }

  test("concurrencyPeak: decomposed sweep equals the brute-force global sweep") {
    val sess = RelationalQueries.sessionizeBatch(spark, sf).collect()
      .map(r => (r.getLong(2), r.getLong(3))) // (start, end) ms
    val deltas = (sess.map { case (st, _) => (st, 1L) } ++
      sess.map { case (_, en) => (en, -1L) })
      .sortBy { case (t, d) => (t, -d) } // starts before ends at equal t
    var run = 0L
    val exp = scala.collection.mutable.Map.empty[Long, Long]
    for ((t, d) <- deltas) {
      run += d
      val day = t / 86400000L
      exp(day) = math.max(exp.getOrElse(day, Long.MinValue), run)
    }
    val got = RelationalQueries.concurrencyPeak(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == exp.toMap, s"missing=${exp.toMap.toSet -- got.toSet} extra=${got.toSet -- exp.toMap.toSet}")
    assert(got.values.max > 1, "fixture must actually exercise overlap")
  }

  test("basketPairs: per-order pair counts equal the brute force") {
    val li = Tables.lineitem(spark, sf)
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brand = Tables.part(spark, sf)
      .select(org.apache.spark.sql.functions.col("p_partkey"),
        org.apache.spark.sql.functions.col("p_brand")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val exp = li.map { case (o, p) => (o, brand(p)) }.distinct
      .groupBy(_._1).values.flatMap { g =>
        val bs = g.map(_._2).sorted
        for (i <- bs.indices; j <- i + 1 until bs.size) yield (bs(i), bs(j))
      }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = RelationalQueries.basketPairs(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == exp, s"diff=${(got.toSet diff exp.toSet).take(5)}")
  }

  test("equiDepth: bucket-rank decomposition equals the brute-force sorted pick") {
    import org.apache.spark.sql.functions._
    val vals = Tables.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val exp = (for {
      (t, vs) <- vals.toSeq
      j <- 1 until 10
      // integer-ceil rank, 1-based
      r = (j.toLong * vs.length + 9) / 10
    } yield (t, j.toLong) -> vs(r.toInt - 1)).toMap
    val got = RelationalQueries.equiDepth(Tables.events(spark, sf)).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == exp, s"diff=${(got.toSet diff exp.toSet).take(5)}")
    // boundaries per type are sorted in j (equal allowed under ties)
    for ((t, vs) <- vals; j <- 1 until 9)
      assert(got((t, j.toLong)) <= got((t, j + 1L)))
  }

  test("skyline3d: staircase decomposition equals brute-force 3-dim dominance") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def rv(key: Long): Long = Math.floorMod(
      graft.functions.PortableHash.md5Prefix60(s"sky_$key".getBytes("UTF-8")), 1000L)
    val rnd = new scala.util.Random(7)
    // clustered prices so buckets hold several points; duplicate (price,
    // size) pairs land different rv (hash of distinct keys) on purpose
    val pts = (1 to 500).map { i =>
      Row(i.toLong, 900.0 + rnd.nextInt(200) / 10.0, 1 + rnd.nextInt(12))
    }
    val st = new StructType().add("p_partkey", LongType)
      .add("p_retailprice", DoubleType).add("p_size", IntegerType)
    val parts = TestSpark.df(st, pts)
    val got = RelationalQueries.skyline3d(parts).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSet
    val all = pts.map(r => (r.getLong(0), r.getDouble(1), r.getInt(2).toLong))
      .map { case (k, p, s) => (k, p, s, rv(k)) }
    val exp = all.filter { case (_, p, s, v) =>
      !all.exists { case (_, p2, s2, v2) =>
        p2 <= p && s2 >= s && v2 >= v && (p2 < p || s2 > s || v2 > v) }
    }.toSet
    assert(got == exp, s"missing=${(exp diff got).take(5)} extra=${(got diff exp).take(5)}")
    assert(exp.size > 3, "fixture must exercise a non-trivial frontier")
    graft.pipeline.InternalCaches.release()
  }

  test("intervalOverlap: cell decomposition equals the brute-force quadratic join") {
    val sess = RelationalQueries.sessionizeBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))) // (user, start, end)
    val exp = (for {
      (ua, sta, ena) <- sess
      (ub, stb, enb) <- sess
      if ua < ub && sta <= enb && stb <= ena
    } yield (ua, ub) -> (math.min(ena, enb) - math.max(sta, stb)))
      .groupBy(_._1).map { case (k, vs) => k -> ((vs.size.toLong, vs.map(_._2).sum)) }
    val got = RelationalQueries.intervalOverlap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == exp, s"diff=${(got.toSet diff exp.toSet).take(5)}")
    assert(exp.nonEmpty, "fixture must actually overlap")
  }

  test("twap: day-local lead + day-axis stitch equals the brute-force global lead") {
    import org.apache.spark.sql.functions._
    val rows = Tables.events(spark, sf)
      .select(col("event_type"), unix_millis(col("ts")), col("event_id"),
        round(col("value") * 100).cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val exp = rows.groupBy(_._1).toSeq.flatMap { case (t, es) =>
      val sorted = es.sortBy(e => (e._2, e._3)).toSeq
      sorted.zip(sorted.drop(1)).map { case ((_, tms, _, cents), (_, nxt, _, _)) =>
        (t, tms / 86400000L, cents * (nxt - tms), nxt - tms)
      }
    }.groupBy(e => (e._1, e._2)).map { case (k, vs) =>
      k -> ((vs.map(_._3).sum, vs.map(_._4).sum, vs.size.toLong))
    }
    val got = RelationalQueries.twap(Tables.events(spark, sf)).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == exp, s"diff=${(got.toSet diff exp.toSet).take(3)}")
    // the fixture must actually exercise cross-day stitching
    assert(exp.keys.groupBy(_._1).exists(_._2.size > 1), "need multi-day types")
  }

  test("robustZscore: histogram rank picks equal brute-force median/MAD") {
    import org.apache.spark.sql.functions._
    val byType = Tables.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    def lowerMedian(vs: Seq[Double]): Double = vs.sorted.apply((vs.size + 1) / 2 - 1)
    val exp = byType.map { case (t, vs) =>
      val med = lowerMedian(vs)
      val mad = lowerMedian(vs.map(v => math.abs(v - med)))
      t -> ((med, mad, vs.size.toLong,
        vs.count(v => math.abs(v - med) > mad * 3).toLong))
    }
    val got = RelationalQueries.robustZscore(Tables.events(spark, sf)).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == exp, s"got=$got exp=$exp")
    assert(exp.values.exists(_._4 > 0), "fixture must have outliers")
  }

  test("quantileNormalize: bucket-decomposed rank equals percent_rank; no whole-type sort") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    val ev = Tables.events(spark, sf)
    val naive = ev.select(col("event_id"),
        percent_rank().over(W.partitionBy(col("event_type")).orderBy(col("value"))).as("pr"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = RelationalQueries.quantileNormalize(ev).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == naive, s"sample diff=${(got.toSet diff naive.toSet).take(3)}")
    // ties normalize identically (percent_rank is tie-aware by definition)
    assert(got.values.exists(v => v > 0.0 && v < 1.0))
  }

  test("eventPaths: 3-step paths equal the brute-force sliding window") {
    import org.apache.spark.sql.functions._
    val seqs = Tables.events(spark, sf)
      .select(col("user_id"), unix_millis(col("ts")), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(e => (e._2, e._3)).map(_._4).toSeq).toMap
    val exp = seqs.values.toSeq.flatMap(_.sliding(3).filter(_.size == 3).map(s => (s(0), s(1), s(2))))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = RelationalQueries.eventPaths(Tables.events(spark, sf)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(got == exp, s"diff=${(got.toSet diff exp.toSet).take(3)}")
  }

  test("periodOverPeriod: lag over observed days, first day lags zero") {
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sf)
      .select(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"),
        round(col("value") * 100).cast("long").as("cents")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(e => (e._1, e._2)).view
      .mapValues(vs => (vs.size.toLong, vs.map(_._3).sum)).toMap
    val exp = daily.map { case ((t, d), (n, c)) =>
      val prevDay = daily.keys.filter(k => k._1 == t && k._2 < d)
        .map(_._2).maxOption
      val (pn, pc) = prevDay.map(pd => daily((t, pd))).getOrElse((0L, 0L))
      (t, d) -> ((n, pn, n - pn, c, pc, c - pc))
    }
    val got = RelationalQueries.periodOverPeriod(Tables.events(spark, sf)).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))))
      .toMap
    assert(got == exp, s"diff=${(got.toSet diff exp.toSet).take(3)}")
  }

  test("eventTransitions: per-user lead pairs, ties broken by event_id") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val st = new StructType().add("event_id", LongType).add("ts", TimestampType)
      .add("user_id", LongType).add("event_type", StringType)
    // u1: a→b→c in ts order; u2: two events at the SAME ts — event_id
    // orders them (a(5) before b(6)); u3: single event, no transition
    val ev = TestSpark.df(st, Seq(
      Row(1L, t(10), 1L, "a"), Row(2L, t(20), 1L, "b"), Row(3L, t(30), 1L, "c"),
      Row(5L, t(50), 2L, "a"), Row(6L, t(50), 2L, "b"),
      Row(9L, t(90), 3L, "c")))
    val got = RelationalQueries.eventTransitions(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("a", "b") -> 2L, ("b", "c") -> 1L), s"got $got")
  }

  test("q7Volume: both nation roles broadcast; no same-nation pairs") {
    val df = RelationalQueries.q7Volume(spark, sf)
    val p = plan(df)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, s"dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getString(0) != r.getString(1)), "same-nation pair emitted")
  }

  test("q10Returns: exactly the top-20 frontier by (rev_e4 desc, custkey)") {
    val rows = RelationalQueries.q10Returns(spark, sf).collect()
      .map(r => (r.getLong(r.fieldIndex("rev_e4")), r.getLong(r.fieldIndex("c_custkey"))))
    assert(rows.length <= 20)
    // returned set must be the minimal elements under (-rev, key) ordering
    val sorted = rows.sortBy { case (rev, k) => (-rev, k) }
    assert(rows.toSeq == sorted.toSeq, "result not ordered by the contract's total order")
  }

  test("q14Promo: promo revenue never exceeds total; 12 months of 1995") {
    val rows = RelationalQueries.q14Promo(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 12)
    rows.foreach { r =>
      val ym = r.getLong(r.fieldIndex("ym"))
      assert(ym >= 199501L && ym <= 199512L, s"month outside filter: $ym")
      assert(r.getLong(r.fieldIndex("promo_e4")) <= r.getLong(r.fieldIndex("total_e4")))
    }
  }

  test("intervalMerge: running-max-of-end merges spans a prev-row gap test would split") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val st = new StructType().add("event_id", LongType).add("ts", TimestampType)
      .add("user_id", LongType).add("value", DoubleType)
    // durations here = pmod(cents·104729, 1 day)+1. Pick cents so the math
    // is easy: cents c → dur = (c·104729) % 86400000 + 1.
    def durFor(c: Long) = java.lang.Math.floorMod(c * 104729L, 86400000L) + 1L
    // u1: long interval [0, d0) spanning two short ones that do NOT touch
    // each other — one island only because of the running max; then a
    // fourth event starting exactly at the running end (touching → merges);
    // then a fifth far beyond everything (new island).
    val c0 = 500L; val d0 = durFor(c0) // 52_364_501 ms — spans most of a day
    val rows = Seq(
      Row(1L, t(0L), 1L, c0 / 100.0),
      Row(2L, t(1000L), 1L, 0.01), // dur 104730: ends long before event 3
      Row(3L, t(2000000L), 1L, 0.01), // gap from event 2, but inside event 1's span
      Row(4L, t(d0), 1L, 0.01), // starts AT the running end → touches → merges
      Row(5L, t(d0 + 200000000L), 1L, 0.01)) // beyond: new island
    val got = RelationalQueries.intervalMerge(TestSpark.df(st, rows))
      .orderBy(col("island")).collect()
      .map(r => (r.getLong(r.fieldIndex("n_events")),
        r.getLong(r.fieldIndex("start_ms")), r.getLong(r.fieldIndex("end_ms"))))
    assert(got.length == 2, s"expected 2 islands, got ${got.toSeq}")
    assert(got(0) == ((4L, 0L, d0 + 104730L)), s"island 1 wrong: ${got(0)}")
    assert(got(1)._1 == 1L)
  }

  test("rollingActives: cumulative distinct equals the brute-force COUNT DISTINCT per day") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val days = ev.map(_._2).distinct.sorted
    val expect = days.map(d => d -> ev.filter(_._2 <= d).map(_._1).distinct.length.toLong).toMap
    val got = RelationalQueries.rollingActivesQuery(spark, sf).collect()
      .map(r => r.getLong(r.fieldIndex("day")) -> r.getLong(r.fieldIndex("cum_actives"))).toMap
    assert(got == expect, "cumulative distinct disagrees with brute force")
  }

  test("attribution: purchases credit the strictly-prior non-purchase type; first → none") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val st = new StructType().add("event_id", LongType).add("ts", TimestampType)
      .add("user_id", LongType).add("event_type", StringType).add("value", DoubleType)
    val ev = TestSpark.df(st, Seq(
      Row(1L, t(10), 1L, "click", 0.0), Row(2L, t(20), 1L, "purchase", 5.0),
      Row(3L, t(30), 1L, "view", 0.0), Row(4L, t(40), 1L, "purchase", 7.0),
      Row(5L, t(5), 2L, "purchase", 3.0), // user 2's first event: none
      // same-ts tie: event_id 6 (click) precedes event_id 7 (purchase)
      Row(6L, t(50), 3L, "click", 0.0), Row(7L, t(50), 3L, "purchase", 9.0)))
    val got = RelationalQueries.attributionLastTouch(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("click" -> ((2L, 1400L)), "view" -> ((1L, 700L)),
      "none" -> ((1L, 300L))), s"got $got")
  }

  test("q18LargeOrders: every emitted order's quantity beats the bar; none missed") {
    import org.apache.spark.sql.functions._
    val per = Tables.lineitem(spark, sf).groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("long").as("q")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = per.filter(_._2 > 250).keySet
    val got = RelationalQueries.q18LargeOrders(spark, sf).collect()
      .map(r => r.getLong(r.fieldIndex("o_orderkey"))).toSet
    assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
  }

  test("minmaxNormalize: extremes map to 0/1, interior stays in band, degenerate → 0.5") {
    val rows = RelationalQueries.minmaxQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    val byType = rows.groupBy(_.getString(1))
    byType.foreach { case (_, rs) =>
      val ms = rs.map(_.getDouble(4))
      assert(ms.forall(m => m >= 0.0 && m <= 1.0))
      assert(ms.min == 0.0 && ms.max == 1.0) // real extremes present per type
    }
  }

  test("abSplitStats: arms partition each type's events; moments match brute force") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def arm(u: Long): String = {
      val hex = md.digest(s"ab_$u".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) "A" else "B"
    }
    val expect = ev.groupBy(e => (e._1, arm(e._2))).map { case (k, es) =>
      k -> ((es.size.toLong, es.map(_._3).sum, es.map(e => e._3 * e._3).sum))
    }
    val got = RelationalQueries.abSplitQuery(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expect, "moment components disagree with brute force")
  }

  test("ewmaSmooth: power-of-two lag weights over hourly closes — hand-checked") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val st = new StructType().add("event_id", LongType).add("ts", TimestampType)
      .add("event_type", StringType).add("value", DoubleType)
    // hour 0 has TWO events — the close (latest ts, then id) is 2.00;
    // hours 1 and 2 have one each
    val ev = TestSpark.df(st, Seq(
      Row(1L, t(100), "a", 1.0), Row(2L, t(200), "a", 2.0),
      Row(3L, t(3700), "a", 3.0), Row(4L, t(7300), "a", 5.0)))
    val got = RelationalQueries.ewmaSmooth(ev).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val w0 = 32768L; val w1 = 16384L; val w2 = 8192L
    assert(got == Map(
      0L -> ((200L, 200L * w0, w0)),
      1L -> ((300L, 300L * w0 + 200L * w1, w0 + w1)),
      2L -> ((500L, 500L * w0 + 300L * w1 + 200L * w2, w0 + w1 + w2))), s"got $got")
  }

  test("maxDrawdown: day-local max + prior-day carry equals the global running peak") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val st = new StructType().add("event_id", LongType).add("ts", TimestampType)
      .add("event_type", StringType).add("value", DoubleType)
    val day = 86400000L
    // day 0 peaks at 9.00; day 1 never exceeds it — its drawdowns must
    // measure against the CARRIED day-0 peak, not the local one
    val ev = TestSpark.df(st, Seq(
      Row(1L, t(0L), "a", 5.0), Row(2L, t(1000L), "a", 9.0), Row(3L, t(2000L), "a", 7.0),
      Row(4L, t(day), "a", 4.0), Row(5L, t(day + 1000L), "a", 6.0)))
    val got = RelationalQueries.maxDrawdown(ev).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    // day 0: peak path 500,900,900 vs values 500,900,700 → max dd 200
    // day 1: carried peak 900 vs 400, 600 → max dd 500
    assert(got == Map(0L -> ((200L, 3L)), 1L -> ((500L, 2L))), s"got $got")
  }

  test("jsonExtract: malformed and missing-key payloads count as rows, not parses") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val st = new StructType().add("event_type", StringType).add("props", StringType)
    val ev = TestSpark.df(st, Seq(
      Row("a", """{"k": 3}"""), Row("a", """{"k": 7}"""),
      Row("a", "not json"), Row("a", """{"other": 1}"""), Row("a", null)))
    val r = RelationalQueries.jsonExtractStats(ev).collect().head
    assert(r.getLong(r.fieldIndex("n")) == 5L)
    assert(r.getLong(r.fieldIndex("n_parsed")) == 2L)
    assert(r.getLong(r.fieldIndex("sum_k")) == 10L)
    assert(r.getLong(r.fieldIndex("ndv_k")) == 2L)
  }

  test("refIntegrity: synthetic star schema is referentially intact on the child side") {
    val rows = RelationalQueries.refIntegrity(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_orphans")) == 0L,
        s"unexpected orphans in ${r.getString(0)}")
    }
  }

  test("partTopSupplier: one winner per part; winner's qty is the max; ties → min suppkey") {
    import org.apache.spark.sql.functions._
    val per = Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).cast("long").as("qty"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = per.groupBy(_._1).map { case (pk, rs) =>
      val best = rs.minBy { case (_, sk, q) => (-q, sk) }
      pk -> ((best._2, best._3))
    }
    val got = RelationalQueries.partTopSupplier(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect, "argmax disagrees with brute force")
  }

  test("q17SmallQty: distributed cross-multiply equals an independent exact fold") {
    import org.apache.spark.sql.functions._
    val brand = Tables.part(spark, sf).filter(col("p_brand") === "Brand#13")
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val ls = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1).toLong, r.getDouble(2)))
      .filter(t => brand(t._1))
    val stats = ls.groupBy(_._1).view
      .mapValues(v => (v.size.toLong, v.map(_._2).sum)).toMap
    val small = ls.filter { t =>
      val (n, sumq) = stats(t._1); t._2 * 5 * n < sumq
    }
    val r = RelationalQueries.q17SmallQty(spark, sf).collect().head
    assert(r.getLong(r.fieldIndex("total_cents")) ==
      small.map(t => math.round(t._3 * 100)).sum,
      "small-quantity revenue disagrees with the exact fold")
    assert(r.getLong(r.fieldIndex("n_lines")) == small.size.toLong)
  }

  test("q11ImportantParts: every emitted pair beats 0.1% of its nation; none missed") {
    val got = RelationalQueries.q11ImportantParts(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    graft.pipeline.InternalCaches.release()
    val sup = Tables.supplier(spark, sf).select("s_suppkey", "s_nationkey").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val retail = Tables.part(spark, sf).select("p_partkey", "p_retailprice").collect()
      .map(r => r.getLong(0) -> math.round(r.getDouble(1) * 100)).toMap
    val nations = Tables.nation(spark, sf).select("n_nationkey", "n_name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val pairs = Tables.lineitem(spark, sf)
      .select("l_suppkey", "l_partkey", "l_quantity").collect()
      .map(r => ((sup(r.getLong(0)), r.getLong(1)),
        retail(r.getLong(1)) * r.getDouble(2).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val tot = pairs.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val expect = pairs.collect {
      case ((nk, pk), v) if v * 1000 > tot(nk) => (nations(nk), pk) -> v
    }.toMap
    assert(got == expect, s"missing=${(expect.keySet -- got.keySet).take(3)} " +
      s"extra=${(got.keySet -- expect.keySet).take(3)}")
  }

  test("autocorrLag1: per-type sums equal the brute-force adjacent-day fold") {
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    val expect = daily.groupBy(_._1).view.mapValues { v =>
      val series = v.sortBy(_._2).map(_._3)
      val pairs = series.zip(series.tail).map { case (p, c) => (p, c) }
      (pairs.size.toLong, pairs.map(_._1).sum, pairs.map(_._2).sum,
        pairs.map(t => t._1 * t._2).sum, pairs.map(t => t._1 * t._1).sum,
        pairs.map(t => t._2 * t._2).sum)
    }.toMap
    val got = RelationalQueries.autocorrLag1(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == expect, "autocorrelation components disagree with brute force")
  }

  test("scd2Build: equal-type runs collapse; validity intervals tile each user's timeline") {
    val sentinelMs = java.time.Instant.parse("2100-01-01T00:00:00Z").toEpochMilli
    val rows = RelationalQueries.scd2Build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getLong(4)))
    val byUser = rows.groupBy(_._1)
    byUser.foreach { case (u, vs) =>
      val sorted = vs.sortBy(_._5)
      // versions are 1..n dense
      assert(sorted.map(_._5) sameElements (1L to sorted.length))
      // exactly one open (sentinel) version, and it is the last
      assert(sorted.init.forall(_._4.getTime != sentinelMs) &&
        sorted.last._4.getTime == sentinelMs)
      // each valid_to equals the next valid_from (tiling, no gaps/overlap)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3, s"user $u gap at v${a._5}")
        case _ =>
      }
      // no two consecutive versions share a type (runs were collapsed)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._2 != b._2, s"user $u uncollapsed run")
        case _ =>
      }
    }
    // row-level check vs an independent fold over the raw stream
    val raw = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val expectVersions = raw.groupBy(_._1).view.mapValues { es =>
      val s = es.sortBy(e => (e._2.getTime, e._3))
      s.foldLeft(List.empty[String]) { (acc, e) =>
        if (acc.headOption.contains(e._4)) acc else e._4 :: acc
      }.reverse
    }.toMap
    byUser.foreach { case (u, vs) =>
      assert(vs.sortBy(_._5).map(_._2).toList == expectVersions(u))
    }
  }

  test("cupedAdjust: moment sums equal the brute-force per-user pre/post fold") {
    // epoch millis, not Timestamp.valueOf: the latter parses in the JVM's
    // local zone, which need not be the session's UTC
    val midMs = java.time.Instant.parse("2024-01-16T00:00:00Z").toEpochMilli
    val raw = Tables.events(spark, sf)
      .select("event_type", "user_id", "ts", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2),
        math.round(r.getDouble(3) * 100)))
    def arm(u: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab_$u".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) "A" else "B"
    }
    val perUser = raw.groupBy(t => (t._1, t._2)).map { case ((ty, u), es) =>
      (ty, arm(u),
        es.filter(_._3.getTime < midMs).map(_._4).sum,
        es.filter(_._3.getTime >= midMs).map(_._4).sum)
    }
    val expect = perUser.groupBy(t => (t._1, t._2)).view.mapValues { vs =>
      (vs.size.toLong, vs.map(_._3).sum, vs.map(_._4).sum,
        vs.map(t => t._3 * t._4).sum, vs.map(t => t._3 * t._3).sum)
    }.toMap
    val got = RelationalQueries.cupedAdjust(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == expect, "CUPED components disagree with brute force")
  }

  test("kmvOverlap: pair components equal the brute-force sketch replay") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // synthetic (type, user) incidence with real overlap; small k forces
    // genuine bottom-k truncation
    val rnd = new scala.util.Random(23)
    val rows = Seq.fill(600)((Seq("a", "b", "c")(rnd.nextInt(3)), rnd.nextInt(80).toLong))
    val st = new StructType().add("event_type", StringType).add("user_id", LongType)
    val d = df(st, rows.map(r => Row(r._1, r._2)))
    val k = 16
    def h60(u: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.map("%02x".format(_)).mkString.take(15), 16)
    }
    val byType = rows.distinct.groupBy(_._1).view
      .mapValues(_.map(t => h60(t._2)).distinct.sorted.take(k).toSet).toMap
    val types = byType.keys.toSeq.sorted
    val expect = (for {
      a <- types; b <- types if a < b
      merged = (byType(a) ++ byType(b)).toSeq.sorted.take(k)
    } yield (a, b) -> ((merged.size.toLong,
      merged.count(x => byType(a)(x) && byType(b)(x)).toLong, merged.max))).toMap
    val got = RelationalQueries.kmvOverlap(d, k).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expect, s"got $got expect $expect")
  }

  test("fdAudit: key FDs certify zero violations; attribute FDs violate") {
    val got = RelationalQueries.fdAudit(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("o_orderkey->o_custkey")._2 == 0L)   // primary key determines
    assert(got("c_custkey->c_mktsegment")._2 == 0L) // primary key determines
    assert(got("l_orderkey->l_suppkey")._2 > 0L)    // orders span suppliers
    got.values.foreach { case (n, v) => assert(v <= n) }
  }

  test("interarrivalHist: bucket counts equal a brute-force gap fold; total = rows − users") {
    val raw = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    def us(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val labels = Seq(1000000L -> "0_lt_1s", 10000000L -> "1_1s_10s",
      60000000L -> "2_10s_1m", 600000000L -> "3_1m_10m",
      3600000000L -> "4_10m_1h", 21600000000L -> "5_1h_6h",
      86400000000L -> "6_6h_1d")
    def bucket(g: Long): String =
      labels.collectFirst { case (bound, l) if g < bound => l }.getOrElse("7_ge_1d")
    val expect = raw.groupBy(_._1).values.flatMap { es =>
      val s = es.sortBy(e => (us(e._2), e._3))
      s.zip(s.tail).map { case (p, c) => (c._4, bucket(us(c._2) - us(p._2))) }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = RelationalQueries.interarrivalHist(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expect, "bucket counts disagree with brute force")
    assert(got.values.sum == raw.length - raw.map(_._1).distinct.length)
  }

  test("aucScore equals brute-force pair counting with ties, on real events") {
    val rows = Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.col("value") * 100).cast("long"),
        (org.apache.spark.sql.functions.col("event_type") === "purchase").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1) == 1L))
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val num2 = pos.iterator.map(p =>
      2L * neg.count(_ < p) + neg.count(_ == p)).sum
    val got = RelationalQueries.aucScore(spark, sf).collect().head
    assert(got.getLong(0) == num2, s"2U: got ${got.getLong(0)} want $num2")
    assert(got.getLong(1) == pos.length && got.getLong(2) == neg.length)
    assert(math.abs(got.getDouble(3) -
      num2.toDouble / (2.0 * pos.length * neg.length)) == 0.0)
  }

  test("benfordDigits: digits are 1–9 and counts sum to the order count") {
    val rows = RelationalQueries.benfordDigits(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(rows.map(_._1).toSet.subsetOf(('1' to '9').map(_.toString).toSet))
    assert(rows.map(_._2).sum == Tables.orders(spark, sf).count())
  }

  test("sessionWindowOf: exactly-at-gap still merges; one µs beyond splits; end = last + gap") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val es = new StructType().add("event_id", LongType).add("ts", TimestampType)
      .add("user_id", LongType).add("value", DoubleType)
    def t(us: Long) = java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000))
    val gapUs = 1800000000L // 30 min
    val d = df(es, Seq(
      Row(1L, t(0L), 1L, 1.0), Row(2L, t(gapUs), 1L, 2.0),         // exactly at end → merged
      Row(3L, t(0L), 2L, 3.0), Row(4L, t(gapUs + 1L), 2L, 4.0)))   // 1 µs beyond → split
    val got = RelationalQueries.sessionWindowOf(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, 0L, 2 * gapUs, 2L),
      (2L, 0L, gapUs, 1L), (2L, gapUs + 1L, 2 * gapUs + 1L, 1L)), s"got $got")
  }

  test("q20Excess: the part dimension broadcasts into the fact scan; single pair aggregate") {
    val p = plan(RelationalQueries.q20Excess(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"red-parts dim not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    // both quantity aggregates come from ONE (partkey, suppkey) hash
    // aggregate — a lineitem self-join here would be the scale mistake.
    // The path prints once per FileScan per plan representation (2 reps)
    assert("lineitem\\.parquet".r.findAllIn(p).size <= 2,
      s"lineitem scanned more than once:\n$p")
  }

  test("kAnonymityOf: all three generalization rungs fire; negative buckets don't collide") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val cs = new StructType().add("c_nationkey", IntegerType)
      .add("c_mktsegment", StringType).add("c_acctbal", DoubleType)
    val rows =
      Seq.fill(6)(Row(1, "AUTO", 100.0)) ++                       // kept at rung 0
      Seq(Row(1, "BIKE", 100.0), Row(1, "BIKE", 1100.0), Row(1, "BIKE", 2100.0)) ++
      (Seq.fill(3)(Row(2, "CAR", 100.0)) ++ Seq.fill(3)(Row(2, "CAR", 1100.0))) ++ // rung 1
      Seq(Row(3, "DOG", 100.0), Row(3, "DOG", 1100.0),
        Row(3, "EEL", 100.0), Row(3, "EEL", 1100.0)) ++           // rung 2 still small → rest
      Seq.fill(5)(Row(4, "NEG", -500.0))                          // bucket -1: kept at rung 0
    val got = RelationalQueries.kAnonymityOf(df(cs, rows), k = 5L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSet
    assert(got == Set(
      (1L, "AUTO", 0L, 6L, true),
      (2L, "CAR", -999L, 6L, true),
      (4L, "NEG", -1L, 5L, true),
      (-1L, "*", -999L, 7L, true))) // residual: (1,BIKE)=3 + nation-3's 4
  }

  test("targetEncode: exact shrink identity; encoded lands between raw mean and prior") {
    val rows = RelationalQueries.targetEncode(spark, sf).collect()
    assert(rows.length > 1)
    for (r <- rows) {
      val (n, sc, prior, enc) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(enc == (sc * 10000 + 100 * prior) / (n + 100), "floor-div shrink identity")
      val raw = sc * 10000 / n
      // floor divisions can each be off by <1 from the real-number bound
      assert(enc >= math.min(raw, prior) - 1 && enc <= math.max(raw, prior) + 1,
        s"encoded $enc outside [$raw, $prior]")
    }
  }

  test("seqPatterns: trigram counts equal a per-user brute-force fold") {
    val got = RelationalQueries.seqPatterns(spark, sf, k = 100000).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    val brute = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), (r.getTimestamp(1).getTime, r.getTimestamp(1).getNanos,
        r.getLong(2)), r.getString(3)))
      .groupBy(_._1).values
      .flatMap(_.sortBy(e => e._2).map(_._3).sliding(3).filter(_.length == 3)
        .map(t => (t(0), t(1), t(2))))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == brute)
    assert(got.nonEmpty)
  }
}
