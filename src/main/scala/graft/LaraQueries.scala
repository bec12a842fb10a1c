package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lara._

/** The Lara-algebra query surface — Ext / Union / Join (+Agg, Rename, Sort)
  * over associative tables, exercised against the driver testdata. These are
  * the reference's core capabilities (`api/TupleOp.kt`) re-expressed through
  * the `graft.lara.LaraTable` DSL.
  */
object LaraQueries {
  import Tables._

  /** Ext (flatmap/UDTF) + Agg: word count over the documents table — the
    * reference's first golden query (`examples/wordcount/WordCountQuery.kt:41-44`):
    * `Load(docs) → ext(tokenize) → agg(["word"], ⊕=+)`.
    * Tokenizer = split on single spaces, empty tokens dropped — matching the
    * reference's `filter(String::isNotEmpty)` (`WordCountQuery.kt:33-38`).
    */
  def extWordcount(s: SparkSession, d: String): DataFrame = {
    val docs = LaraTable(documents(s, d), LaraSchema(Seq("doc_id"), Seq(ValSpec("text", StringType, ""))))
    docs
      .ext(Seq("word"), Seq(ValSpec("cnt", LongType, 0L)),
        explode(transform(
          filter(split(col("text"), " "), w => w =!= ""),
          w => struct(w.as("word"), lit(1L).as("cnt")))))
      .agg(Seq("word"), Map("cnt" -> PlusFn.sumLong))
      .df
  }

  /** MinMaxFilter ∘ D4mRangeFilter as a driver-checked contract (SURVEY §2
    * rows 24–25, previously spec-only): a lineitem LaraTable keyed
    * (l_orderkey, l_linenumber) takes a key-RANGE cut (the reference's
    * `MinMaxFilter`, seek-range semantics) composed with a key-MEMBERSHIP
    * cut (`D4mRangeFilter`, `opt/D4mRangeFilter.kt:21-45`), then ⊕-aggregates
    * per line number. Both filters are plain Catalyst predicates on key
    * columns, so they push to the parquet scan (min/max row-group skipping
    * — the RowRangeIterator delegation, plan-asserted in the spec).
    */
  def rangeFilter(s: SparkSession, d: String): DataFrame = {
    val li = LaraTable(
      lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        round(col("l_quantity")).cast("long").as("qty"), lit(1L).as("cnt")),
      LaraSchema(Seq("l_orderkey", "l_linenumber"),
        Seq(ValSpec("qty", LongType, 0L), ValSpec("cnt", LongType, 0L))))
    li.whereKeyRange("l_orderkey", 1000L, 3000L)
      .whereKeyIn("l_linenumber", Seq(1L, 3L, 5L))
      .agg(Seq("l_linenumber"), Map("qty" -> PlusFn.sumLong, "cnt" -> PlusFn.sumLong))
      .df
  }

  /** Map (1:1 Ext) + Rename: the RainySunny golden query shape
    * (`examples/rainysunny/RainySunnyQuery.kt:27-36`) — string replace over a
    * val attribute, then rename.
    */
  def mapReplace(s: SparkSession, d: String): DataFrame = {
    val docs = LaraTable(documents(s, d), LaraSchema(Seq("doc_id"), Seq(ValSpec("text", StringType, ""))))
    docs
      .mapVals(Seq(ValSpec("sunny_text", StringType, "")),
        Map("sunny_text" -> regexp_replace(col("text"), "join", "JOIN")))
      .rename(Map("sunny_text" -> "msg"))
      .df
  }

  /** ⊕-Union of two tables with a common key prefix: lineitem split into two
    * disjoint halves, unioned back with ⊕=sum — exercises identity padding
    * and the common-prefix key rule (`api/TupleOp.kt:374-400,465-504`).
    * Result must equal a plain groupBy over the whole table (the oracle).
    */
  def unionPlus(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    // net carried as exact 1e-4 integer units so the ⊕-sum is order-independent
    // and bit-identical to the DuckDB oracle (see graft.Num).
    def half(f: org.apache.spark.sql.Column) = LaraTable(
      li.filter(f).select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("qty"),
        round((col("l_extendedprice") * (lit(1) - col("l_discount"))) * 10000).cast("long").as("net_e4")),
      LaraSchema(Seq("l_orderkey", "l_linenumber"),
        Seq(ValSpec("qty", DoubleType, 0.0d), ValSpec("net_e4", LongType, 0L))))
    val a = half(col("l_linenumber") <= 3)
    val b = half(col("l_linenumber") > 3)
    val u = a.union(b, Map("qty" -> PlusFn.sumDouble, "net_e4" -> PlusFn.sumLong))
    // Drop a key (aggregate to order grain) to exercise key-prefix shortening.
    u.agg(Seq("l_orderkey"), Map("qty" -> PlusFn.sumDouble, "net_e4" -> PlusFn.sumLong))
      .mapVals(Seq(ValSpec("qty", DoubleType, 0.0d), ValSpec("net", DoubleType, 0.0d)),
        Map("qty" -> col("qty"), "net" -> (col("net_e4") / 10000.0)))
      .df
  }

  /** Agg as Union-with-Empty (`api/TupleOp.kt:296,353-366`): collapse the
    * events table over all keys but user_id, with two monoids (sum, max).
    */
  def laraAgg(s: SparkSession, d: String): DataFrame = {
    val ev = LaraTable(
      events(s, d).select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("sum_value_c"), col("value").as("max_value")),
      LaraSchema(Seq("user_id", "event_id"),
        Seq(ValSpec("sum_value_c", LongType, 0L), ValSpec("max_value", DoubleType, null))))
    ev.agg(Seq("user_id"),
        Map("sum_value_c" -> PlusFn.sumLong, "max_value" -> PlusFn(null, c => max(c), greatest(_, _))))
      .mapVals(Seq(ValSpec("sum_value", DoubleType, 0.0d), ValSpec("max_value", DoubleType, null)),
        Map("sum_value" -> (col("sum_value_c") / 100.0), "max_value" -> col("max_value")))
      .df
  }

  /** ⊗-Join on a shared key prefix: per-part demand quantity ⊗ part retail
    * price (scale each part's total quantity by its price) — the Lara Join
    * with ⊗=multiply and annihilator/default 0 (`api/TupleOp.kt:611-826`),
    * ZeroDiscard on (`SensorOpt.Z`).
    */
  def joinTimes(s: SparkSession, d: String): DataFrame = {
    val demand = LaraTable(
      lineitem(s, d).groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum(col("l_quantity")).as("v")),
      LaraSchema(Seq("p_partkey"), Seq(ValSpec("v", DoubleType, 0.0d))))
    val price = LaraTable(
      part(s, d).select(col("p_partkey"), col("p_retailprice").as("v")),
      LaraSchema(Seq("p_partkey"), Seq(ValSpec("v", DoubleType, 0.0d))))
    demand.join(price, Map("v" -> TimesFn.multiplyDouble),
        zeroDiscard = true, broadcastRight = true)
      .mapVals(Seq(ValSpec("v", DoubleType, 0.0d)),
        Map("v" -> (round(col("v") * 100).cast("long") / 100.0))) // exact 2-dec snap
      .rename(Map("v" -> "demand_value"))
      .df
  }

  /** The flagship workload: covariance matrix, the reference's benchmark
    * query (`examples/sensor/SensorQuery.kt:79-117`, `sensor/SensorCalc.kt:134-144`)
    * re-targeted at the events table, through the same Lara core as the
    * sensor pipeline (`SensorPipeline.covarianceOf`):
    *   X(t,c) = ⊕-mean event value per (hour-bin, event_type)   [bin + avg]
    *   N      = ⊕-count of hour bins                             [keyless]
    *   C(c,c′) = Σ_t U(t,c)·U(t,c′) / (N−1), U = X − ⊕-mean_c(X) [⊗-join + agg]
    * then the upper triangle (`SensorOpt.S`: only c ≤ c′, pushed into the
    * t self-join), rounded to 6 places. X has three consumers (N, M, U) and
    * is computed once by [[graft.lara.LaraTable.shared]] — the reference's
    * `ReuseSource`.
    *
    * Scale shape: |t-bins| grows with data, |c| (event types) is small — so
    * X is tall-skinny; the self-join on t shuffles X once (or broadcasts at
    * small |c|·|t|); C is |c|² tiny. Same cost profile as the reference's
    * TableMult at any SF.
    */
  def covariance(s: SparkSession, d: String): DataFrame = {
    import graft.sensor.SensorPipeline.{countBins, covarianceOf, meanOver}
    val ev = LaraTable(
      events(s, d).select(col("event_id"),
        (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("t"),
        col("event_type").as("c"), col("value").as("v")),
      LaraSchema(Seq("event_id", "t", "c"), Seq(ValSpec("v", DoubleType, null))))
    val x = meanOver(ev, Seq("t", "c")).shared
    covarianceOf(x, countBins(x, lit(true)))
      .where(col("c") <= col("cp"))
      .mapVals(Seq(ValSpec("cov", DoubleType, null)), Map("cov" -> round(col("v"), 6)))
      .rename(Map("cp" -> "c2"))
      .df
  }

  /** Driver-certified store/access-path contract — the reference's DAP/LAP
    * semantic (`opt/Schema.kt:28-43`: distributed access path = cross-node
    * range split, local access path = within-node key sort) as a checkable
    * output: a lineitem-keyed LaraTable is stored with `store(path, 8)`
    * (8 range partitions over the full key, sorted within each), read
    * back, and the query emits ONE row proving the layout — exactly 8
    * files, ZERO overlaps between per-file [min, max] full-key ranges
    * (files sorted by their range; adjacent ranges must be strictly
    * disjoint), and total rows / key bounds / value sum matching the
    * source exactly (nothing lost or duplicated through the round trip).
    * The companion spec (`BucketedStoreSpec`) additionally pins row order
    * INSIDE each file.
    *
    * Scale: the store is one range-shuffle write (the partitioner samples
    * keys — bounded driver transfer); the audit is one scan with
    * `input_file_name` grouping (8 aggregate rows) and a constant-keyed
    * window over those 8 rows. The disjointness audited here is what makes
    * key-range reads at 100 TB open O(range/total · files) files instead
    * of all of them.
    */
  def storeLayout(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = lineitem(s, d).select(col("l_orderkey").as("ok"),
      col("l_linenumber").cast("long").as("ln"),
      round(col("l_quantity")).cast("long").as("qty"))
    val t = LaraTable(li, LaraSchema(Seq("ok", "ln"), Seq(ValSpec("qty", LongType, 0L))))
    val tmp = graft.sources.Sources.stagingDir(s, "graft_lstore")
    t.store(s"$tmp/t", numFiles = 8)
    // read back with the schema just written: no inference job
    val perFile = s.read.schema(t.df.schema).parquet(s"$tmp/t")
      .select(input_file_name().as("f"), col("ok"), col("ln"), col("qty"))
      .groupBy(col("f"))
      .agg(min(struct(col("ok"), col("ln"))).as("lo"),
        max(struct(col("ok"), col("ln"))).as("hi"),
        count(lit(1)).as("n"), sum(col("qty")).as("sq"),
        min(col("ok")).as("mok"), max(col("ok")).as("xok"))
    // 8 bounded rows: constant-keyed window (the exclusivePrefixSum idiom —
    // a deliberate single SMALL partition, not a data-proportional one)
    val w = Window.partitionBy(pmod(col("n"), lit(1L))).orderBy(col("lo"))
    val audit = perFile
      .withColumn("prev_hi", lag(col("hi"), 1).over(w))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("prev_hi").isNull || col("prev_hi") < col("lo"), 0L)
          .otherwise(1L)).as("n_overlaps"),
        sum(col("n")).as("total_rows"),
        min(col("mok")).as("min_ok"), max(col("xok")).as("max_ok"),
        sum(col("sq")).as("sum_qty"))
    graft.sources.Sources.localizeAndClean(audit, tmp)
  }
}
