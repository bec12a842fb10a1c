package graft.lara

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.{SparkEntry, TestSpark}
import graft.pipeline.InternalCaches
import graft.sensor.SensorPipeline

/** Frames read by several consumers are computed once, through
  * [[LaraTable.shared]] (the reference's `ReuseSource`,
  * `sensor/SensorCalc.kt:275,322`) and `InternalCaches.checkpoint`: one
  * eager job per shared frame at build time, and a final plan that reads
  * its rows instead of a cached plan or a second scan of the source.
  */
class AutoCacheSpec extends AnyFunSuite {
  import TestSpark._

  private val sf = "perfbench/fixture" // the sf0.001 tables, relative to the build root

  object aqe extends AdaptiveSparkPlanHelper

  private def withCleanCaches[A](body: => A): A =
    try body finally {
      InternalCaches.release()
      spark.sharedState.cacheManager.clearCache()
    }

  /** `build`'s frame, the executed plans of the shared-frame executions it
    * ran, and the RDDs it left persisted.
    */
  private def built(build: () => DataFrame): (DataFrame, Seq[QueryExecution], Set[Int]) = {
    val runs = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        runs.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        runs.add(funcName -> qe)
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    spark.listenerManager.register(listener)
    val d = try {
      val d = build()
      spark.range(1).collect()
      // listener events arrive in order: once the marker collect is seen,
      // every execution of `build` has been delivered
      eventually(timeout(30.seconds)) { assert(runs.asScala.exists(_._1 == "collect")) }
      d
    } finally spark.listenerManager.unregister(listener)
    val shared = runs.asScala.toSeq.collect { case ("graftPersistPacked", qe) => qe }
    (d, shared, spark.sparkContext.getPersistentRDDs.keySet.diff(before).toSet)
  }

  /** The RDDs the leaves of `d`'s optimized plan read; fails on a leaf
    * that is not an RDD scan (a parquet relation, a cached plan).
    */
  private def leafRdds(d: DataFrame): Seq[RDD[_]] =
    d.queryExecution.optimizedPlan.collectLeaves().map {
      case l: LogicalRDD => l.rdd
      case other => fail(s"leaf that is not an RDD scan: $other")
    }

  /** `d`'s final plan reads only the one RDD that `stored` names, whose
    * partitions are all stored, and holds no cached plan, so none pins a
    * broadcast relation for a cache's lifetime (the sensor X is an A−B
    * join that AQE plans as a broadcast join at this size).
    */
  private def readsOnlyShared(name: String, d: DataFrame, stored: Set[Int]): Unit = {
    assert(stored.size == 1, s"$name: persisted RDDs the build added: $stored")
    val leaves = leafRdds(d)
    assert(leaves.nonEmpty && leaves.forall(_.dependencies.map(_.rdd.id) == Seq(stored.head)),
      s"$name: leaves read ${leaves.map(_.dependencies.map(_.rdd.id))}, the stored RDD is $stored")
    assert(d.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }.isEmpty, name)
    assert(aqe.find(d.queryExecution.executedPlan)(_.isInstanceOf[InMemoryTableScanExec]).isEmpty, name)
    assert(spark.sparkContext.getRDDStorageInfo.exists(i => i.id == stored.head &&
      i.storageLevel != StorageLevel.NONE && i.numCachedPartitions == i.numPartitions), name)
  }

  private val lines = df(new StructType().add("value", StringType),
    Seq("2020-01-01 00:00:10.000000;n;C1;f;1.5;u",
        "2020-01-01 00:00:20.000000;n;C2;f;2.5;u",
        "2020-01-01 00:02:10.000000;n;C1;f;3.5;u",
        "2020-01-01 00:02:20.000000;n;C2;f;4.5;u").map(Row(_)))

  test("covariance pins one computation of the shared subtrees, no hints") {
    withCleanCaches {
      // (name, plan, rows): the full 2x2 sensor (c, c') matrix, and the
      // contract's 5 event types, so 15 (c ≤ c′) entries
      val cases = Seq[(String, () => DataFrame, Long)](
        ("sensor", () => SensorPipeline.covariance(
          SensorPipeline.parse(lines), SensorPipeline.parse(lines)).df, 4L),
        ("lara_covariance", () => SparkEntry.queries("lara_covariance")(spark, sf), 15L))
      for ((name, build, rows) <- cases) {
        val (cov, shared, stored) = built(build)
        // X is computed once, while the plan is built; N, M and both
        // sides of the U self-join read its stored rows
        assert(shared.size == 1, s"$name: ${shared.size} shared-frame executions")
        readsOnlyShared(name, cov, stored)
        assert(cov.count() == rows, name)
        if (name == "lara_covariance") {
          val scans = aqe.collect(shared.head.executedPlan) { case s: FileSourceScanExec => s }
          assert(scans.size == 1, s"X scans events once: ${scans.mkString("\n")}")
        }
      }
    }
  }

  test("an unshared X is the reference with ReuseSource off: same rows, inlined re-scans") {
    withCleanCaches {
      val before = InternalCaches.registeredCount
      val x = SensorPipeline.binAndAvg(SensorPipeline.parse(lines))
        .join(SensorPipeline.binAndAvg(SensorPipeline.parse(lines)), Map("v" -> TimesFn(null, null, null, _ - _)))
        .rename(Map("tp" -> "t"))
      val cov = SensorPipeline.covarianceOf(x, SensorPipeline.countBins(x, col("v").isNotNull)).df
      assert(InternalCaches.registeredCount == before)
      // X's two input scans inlined into N, M and both sides of U
      assert(cov.queryExecution.optimizedPlan.collectLeaves().size >= 6)
      assert(cov.count() == 4L)
    }
  }

  test("dedup signatures are computed once for both sides of the banded self-join") {
    withCleanCaches {
      // rows: the pair counts of the cached-signature plans on the same tables
      for ((name, rows) <- Seq("dedup_simhash" -> 25L, "dedup_minhash" -> 28L)) {
        val (pairs, shared, stored) = built(() => SparkEntry.queries(name)(spark, sf))
        assert(shared.size == 1, s"$name: ${shared.size} shared-frame executions")
        readsOnlyShared(name, pairs, stored)
        assert(pairs.count() == rows, name)
        InternalCaches.release()
      }
    }
  }
}
