package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.pipeline.Similarity

/** The typed heap aggregate must equal the window (row_number) top-k on
  * arbitrary data — ties, small groups, k larger than the group — and its
  * plan must show a partial (map-side) aggregate.
  */
class TopKAggSpec extends AnyFunSuite {
  import TestSpark._

  private val st = new StructType()
    .add("query_id", LongType).add("vec_id", LongType).add("cos_sim", DoubleType)

  test("heap aggregate == window top-k on random data with ties") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 2000).map { i =>
      // quantized scores force plenty of ties; group sizes vary 1..400
      Row((i % 7).toLong, i.toLong, math.floor(rnd.nextDouble() * 20) / 20.0)
    } ++ Seq(Row(99L, 1L, 0.5)) // singleton group smaller than k
    val scored = df(st, rows)
    for (k <- Seq(1, 5, 50)) {
      val viaAgg = Similarity.topKTail(scored, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val viaWin = Similarity.topKTailWindow(scored, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(viaAgg == viaWin, s"k=$k")
    }
  }

  test("plan combines partial heaps map-side") {
    val scored = df(st, (1 to 100).map(i => Row(1L, i.toLong, i.toDouble)))
    val plan = Similarity.topKTail(scored, 5).queryExecution.executedPlan.toString()
    assert(plan.contains("partial_topk_by_score"), s"no partial aggregate in:\n$plan")
  }

  test("null scores/ids are ignored, not ranked") {
    val d = df(st, Seq(Row(1L, 10L, 0.9), Row(1L, null, 0.99), Row(1L, 11L, null)))
    val got = Similarity.topKTail(d, 3).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((10L, 0.9)))
  }

  test("NaN and -0.0 scores: heap == window (Double.compare total order)") {
    // NaN sorts LARGEST in Spark's SQL ordering and -0.0 < 0.0; the heap
    // must agree with the window twin on both, and NaN rows must be
    // evictable (primitive < would make them sticky in the heap)
    val rows = Seq(
      Row(1L, 1L, Double.NaN), Row(1L, 2L, Double.NaN), Row(1L, 3L, 1.0),
      Row(1L, 4L, -0.0), Row(1L, 5L, 0.0), Row(1L, 6L, -1.0),
      Row(2L, 7L, Double.NaN), Row(2L, 8L, Double.PositiveInfinity))
    val scored = df(st, rows)
    for (k <- Seq(1, 2, 3, 6)) {
      val viaAgg = Similarity.topKTail(scored, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      val viaWin = Similarity.topKTailWindow(scored, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(viaAgg == viaWin, s"k=$k")
    }
    // k=1 keeps the NaN with the smallest id, ranked above +Inf
    val top1 = Similarity.topKTail(scored, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1 == Map(1L -> 1L, 2L -> 7L))
  }

  test("topk_by_score rejects non struct<double,long> input at analysis") {
    graft.GraftExtensions.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT topk_by_score(struct(1, 2), 3)").collect()
    }
    assert(e.getMessage.contains("struct<score:double,id:bigint>")
      || e.getMessage.toLowerCase.contains("data type mismatch"))
  }
}
