package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the fused eager-checkpoint+count bridge
  * (org.apache.spark.sql.graft.bridge.localCheckpointCounted) that the
  * iterative operators' convergence probes ride on (r13): the returned
  * frame must be row-identical to the input plan, reusable across
  * multiple downstream actions (it IS a materialized checkpoint), and the
  * count must be the row count (no predicate) or the predicate count.
  */
class BridgeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import org.apache.spark.sql.graft.bridge

  test("localCheckpointCounted returns the materialization row count") {
    val df = spark.range(0L, 1000L, 1L, 4).selectExpr("id", "id % 7 as m")
    val (out, n) = bridge.localCheckpointCounted(df)
    assert(n === 1000L)
    assert(out.schema === df.schema)
    // the checkpoint is consumable repeatedly and row-identical
    assert(out.count() === 1000L)
    assert(TestSpark.rowSet(out) === TestSpark.rowSet(df))
  }

  test("localCheckpointCounted counts a per-row predicate instead") {
    val df = spark.range(0L, 100L, 1L, 3)
      .selectExpr("id", "id < 10 as small")
    val (out, n) = bridge.localCheckpointCounted(df, col("small"))
    assert(n === 10L)
    assert(out.count() === 100L) // predicate never filters the data
    assert(TestSpark.rowSet(out) === TestSpark.rowSet(df))
  }

  test("predicate binds by column name: reordering the select cannot flip convergence") {
    // every row changed (label < prev); an ordinal reading of a reordered
    // frame would compare prev < label and report convergence instead
    val base = spark.range(0L, 50L, 1L, 3).selectExpr("id", "id AS label", "id + 1 AS prev")
    for (order <- Seq(Seq("id", "prev", "label"), Seq("id", "label", "prev"),
                      Seq("prev", "label", "id"))) {
      val (_, n) = bridge.localCheckpointCounted(
        base.select(order.map(col): _*), col("label") < col("prev"))
      assert(n === 50L, s"column order $order")
    }
  }

  test("localCheckpointCounted of an empty frame counts zero") {
    val df = spark.range(0L, 50L, 1L, 2).filter(col("id") < 0L).toDF()
    val (out, n) = bridge.localCheckpointCounted(df)
    assert(n === 0L)
    assert(out.count() === 0L)
  }

  test("checkpointed frame joins and aggregates like the original") {
    // the iterative loops feed the result straight into next-round joins:
    // partitioning/ordering metadata from LogicalRDD.fromDataset must not
    // change results
    val a = spark.range(0L, 200L, 1L, 4).selectExpr("id as v", "id % 3 as d")
      .repartition(col("v"))
    val (ck, n) = bridge.localCheckpointCounted(a)
    assert(n === 200L)
    val b = spark.range(0L, 200L, 2L, 2).selectExpr("id as v")
    val joined = ck.join(b, Seq("v")).groupBy(col("d")).count()
    val expect = a.join(b, Seq("v")).groupBy(col("d")).count()
    assert(TestSpark.rowSet(joined) === TestSpark.rowSet(expect))
  }

  test("a checkpoint spanning several stored chunks per partition round-trips row for row") {
    // 2 partitions of 6000 rows × ≥ 2 KiB: every partition spans at least
    // three chunks of bridge.ChunkBytes. The plan is not adaptive, as in a
    // loop round: an adaptive plan reports no partitioning to keep.
    val rows = 12000L
    val plain = spark.newSession()
    plain.conf.set("spark.sql.adaptive.enabled", "false")
    val df = plain.range(0L, rows, 1L, 2)
      .selectExpr("id % 97 AS v", "id", "concat(repeat('x', 2048), id) AS pad", "id % 10 = 0 AS tenth")
      .repartition(2, col("v"))
    assert(rows / 2 * 2048 > 2L * bridge.ChunkBytes)
    val (out, n) = bridge.localCheckpointCounted(df)
    assert(n === rows)
    val (_, tenths) = bridge.localCheckpointCounted(df, col("tenth"))
    assert(tenths === rows / 10)
    def sorted(d: org.apache.spark.sql.DataFrame) = d.orderBy(col("id")).collect().toSeq
    assert(sorted(out) === sorted(df))
    assert(out.count() === rows)
    // the checkpoint keeps the partitioning on v: grouping by it shuffles nothing
    val grouped = out.groupBy(col("v")).agg(count(lit(1)).as("n"))
    assert(grouped.collect().map(_.getLong(1)).sum === rows)
    val plan = grouped.queryExecution.executedPlan
    assert(plan.collectFirst { case e: ShuffleExchangeExec => e }.isEmpty, plan.treeString)
  }

  test("cloneSession shares the default class loader only when the parent holds no artifacts") {
    val key = "spark.sql.artifact.isolation.enabled"
    val plain = spark.newSession()
    assert(bridge.cloneSession(plain).conf.get(key) == "false")
    assert(plain.conf.get(key) == "true", "the parent's conf must not change")
    // a session-scoped class must stay visible to the clone's tasks
    val withClass = spark.newSession()
    val name = getClass.getSimpleName + ".class"
    withClass.addArtifact(getClass.getResourceAsStream(name).readAllBytes(), name)
    assert(bridge.cloneSession(withClass).conf.get(key) == "true")
  }
}
