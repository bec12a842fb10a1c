package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Salted join equals the plain join on skewed data; partitioned store
  * prunes partitions on key-prefix filters.
  */
class SkewSpec extends AnyFunSuite {
  import TestSpark._

  test("saltedJoin result equals plain join on a skewed key") {
    val st = new StructType().add("k", StringType).add("x", IntegerType)
    // 500 rows of hot key + a few cold
    val left = df(st, (1 to 500).map(i => Row("hot", i)) ++ Seq(Row("c1", 1), Row("c2", 2)))
    val right = df(new StructType().add("k", StringType).add("y", IntegerType),
      Seq(Row("hot", 10), Row("hot", 20), Row("c1", 30)))
    val plain = left.join(right, Seq("k"))
    val salted = Skew.saltedJoin(left, right, Seq("k"), saltFactor = 8)
    assert(rowSet(salted.select("k", "x", "y")) == rowSet(plain.select("k", "x", "y")))
    assert(salted.count() == 1001) // 500*2 hot + 1
  }

  test("saltedJoin spreads fully-duplicate rows via uniqueId (degenerate-salt regression)") {
    val st = new StructType().add("k", StringType).add("x", IntegerType).add("uid", LongType)
    // 500 rows identical except for the unique id: the content hash of
    // (k, x) alone would put them all in one sub-key; hashing the caller's
    // unique id spreads them while staying retry-stable
    val left = df(st, (1 to 500).map(i => Row("hot", 7, i.toLong)))
    val right = df(new StructType().add("k", StringType).add("y", IntegerType),
      Seq(Row("hot", 10), Row("hot", 20)))
    val salted = Skew.saltedJoin(left, right, Seq("k"), saltFactor = 8, uniqueId = Some("uid"))
    assert(salted.count() == 1000)
    val spread = left.select(Skew.salt(Seq(col("uid")), 8).as("s"))
      .agg(countDistinct(col("s"))).head().getLong(0)
    assert(spread == 8, s"expected all 8 sub-keys used, got $spread")
    // without a uniqueId the result is still exactly the plain join —
    // only the spread of byte-identical rows degrades (documented)
    val noUid = Skew.saltedJoin(left.drop("uid"), right, Seq("k"), saltFactor = 8)
    assert(noUid.count() == 1000)
  }

  test("asOfJoin: latest right row at-or-before each left row, per key") {
    val ls = new StructType().add("u", LongType).add("cid", LongType).add("t", LongType)
    val rs = new StructType().add("u", LongType).add("pid", LongType)
      .add("pt", LongType).add("v", DoubleType)
    val clicks = df(ls, Seq(Row(1L, 100L, 10L), Row(1L, 101L, 20L), Row(2L, 102L, 5L)))
    val purchases = df(rs, Seq(
      Row(1L, 200L, 10L, 1.5), // exactly at click 100's time → matches it (tie counts)
      Row(1L, 201L, 15L, 2.5), // latest ≤ 20 → matches click 101
      Row(3L, 202L, 1L, 9.0))) // other key: never matches
    val out = AsOf.asOfJoin(clicks, purchases, Seq("u"),
      leftTime = "t", rightTime = "pt", rightVals = Seq("pid", "v"), rightOrder = Seq("pid"))
      .collect().map(r => r.getLong(1) -> (Option(r.get(3)), Option(r.get(4)))).toMap
    assert(out(100L) == ((Some(200L), Some(1.5))))
    assert(out(101L) == ((Some(201L), Some(2.5))))
    assert(out(102L) == ((None, None))) // left-join semantics
    // deterministic tie-break: two right rows at the same (key, time) —
    // the one last in rightOrder wins
    val dupP = df(rs, Seq(Row(1L, 300L, 10L, 1.0), Row(1L, 301L, 10L, 2.0)))
    val tied = AsOf.asOfJoin(clicks.filter(col("cid") === 100L), dupP, Seq("u"),
      "t", "pt", Seq("pid", "v"), rightOrder = Seq("pid")).collect().head
    assert(tied.getLong(3) == 301L && tied.getDouble(4) == 2.0)
  }

  test("rangeJoin: bucketized prefilter equals the naive theta-join, no duplicates") {
    val ps = new StructType().add("pid", LongType).add("x", DoubleType)
    val is = new StructType().add("iid", LongType).add("lo", DoubleType).add("hi", DoubleType)
    val points = df(ps, Seq(Row(1L, 0.5), Row(2L, 10.0), Row(3L, 25.0), Row(4L, 99.0)))
    val intervals = df(is, Seq(
      Row(10L, 0.0, 10.0),   // pid 1 inside; pid 2 at hi → excluded (half-open)
      Row(11L, 10.0, 30.0),  // spans 3 buckets at width 8: pids 2 (at lo) and 3
      Row(12L, 20.0, 26.0))) // overlapping interval: pid 3 matches two intervals
    val got = Ranges.rangeJoin(points, intervals, "x", "lo", "hi", bucketWidth = 8.0)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val naive = points.join(intervals, col("x") >= col("lo") && col("x") < col("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got.sorted == naive.sorted) // same multiset: complete AND duplicate-free
    assert(got.toSet == Set((1L, 10L), (2L, 11L), (3L, 11L), (3L, 12L)))
  }

  test("storePartitioned: key filter prunes partitions at read") {
    import graft.lara._
    val st = new StructType().add("k", StringType).add("j", IntegerType).add("v", IntegerType)
    val t = LaraTable(
      df(st, Seq(Row("a", 1, 10), Row("b", 2, 20), Row("c", 3, 30))),
      LaraSchema(Seq("k", "j"), Seq(ValSpec("v", IntegerType, 0))))
    val dir = java.nio.file.Files.createTempDirectory("part_store").toString + "/t"
    t.storePartitioned(dir)
    val back = spark.read.parquet(dir).filter(col("k") === "b")
    assert(back.collect().map(r => r.getAs[Int]("v")).toSeq == Seq(20))
    val scan = back.queryExecution.executedPlan.toString()
    assert(scan.contains("PartitionFilters: [") && scan.contains("k#"),
      s"no partition filter in:\n$scan")
  }
}
