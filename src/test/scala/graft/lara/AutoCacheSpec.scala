package graft.lara

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.pipeline.InternalCaches

/** Automatic shared-subtree caching (`LaraTable.noteUse`) — the reference's
  * lowering-time pipeline dedup (`api/TupleOp.kt:25-26` instance map,
  * `api/Lower.kt:107-127`) re-expressed as plan-build fan-out counting plus
  * Spark's plan-keyed CacheManager.
  */
class AutoCacheSpec extends AnyFunSuite {
  import TestSpark._

  private val vd = ValSpec("v", DoubleType, null)
  private val plus = PlusFn(null, c => sum(c), (a, b) => coalesce(a + b, a, b))

  private def base(): LaraTable = {
    val d = df(
      new StructType().add("k", StringType).add("j", StringType).add("v", DoubleType),
      Seq(Row("a", "x", 1.0), Row("a", "y", 2.0), Row("b", "x", 3.0), Row("b", "y", 4.0)))
    LaraTable(d, LaraSchema(Seq("k", "j"), Seq(vd)))
  }

  private def withCleanCaches[A](body: => A): A =
    try body finally {
      InternalCaches.release()
      spark.sharedState.cacheManager.clearCache()
    }

  test("linear chains never auto-persist") {
    withCleanCaches {
      val before = InternalCaches.registeredCount
      val g = base().agg(Seq("k"), Map("v" -> plus))
      val out = g.mapVals(Seq(vd), Map("v" -> (col("v") * 2))).where(col("v") > 0)
      assert(out.df.count() == 2)
      assert(g.df.storageLevel == StorageLevel.NONE)
      assert(InternalCaches.registeredCount == before)
    }
  }

  test("second consumption of a shuffle-bearing subtree auto-persists it") {
    withCleanCaches {
      val before = InternalCaches.registeredCount
      val g = base().agg(Seq("k"), Map("v" -> plus)) // shuffle boundary
      val left = g.where(col("k") === "a")
      assert(g.df.storageLevel == StorageLevel.NONE, "single use must not persist")
      val right = g.where(col("k") === "b")
      assert(g.df.storageLevel != StorageLevel.NONE, "fan-out 2 must persist")
      assert(InternalCaches.registeredCount == before + 1)
      assert(left.df.count() == 1 && right.df.count() == 1)
      // The FIRST consumer's plan (built before the persist) also reads the
      // cache: CacheManager matches on the canonicalized plan at execution.
      val plan = left.df.queryExecution.executedPlan.toString
      assert(plan.contains("InMemory") || plan.contains("TableCacheQueryStage"), plan)
    }
  }

  test("bare scans are never auto-persisted, regardless of fan-out") {
    withCleanCaches {
      val before = InternalCaches.registeredCount
      val t = base()
      val a = t.where(col("v") > 1)
      val b = t.where(col("v") > 2)
      val c = t.mapVals(Seq(vd), Map("v" -> (col("v") + 1)))
      assert(a.df.count() + b.df.count() + c.df.count() > 0)
      assert(t.df.storageLevel == StorageLevel.NONE)
      assert(InternalCaches.registeredCount == before)
    }
  }

  test("sortKeys views share their parent's fan-out count") {
    withCleanCaches {
      val g = base().agg(Seq("k"), Map("v" -> plus))
      val v1 = g.sortKeys(Seq("k")) // metadata-only: same underlying df
      v1.mapVals(Seq(vd), Map("v" -> (col("v") * 2))) // use 1
      assert(g.df.storageLevel == StorageLevel.NONE)
      g.where(col("k") === "a") // use 2, via the original wrapper
      assert(g.df.storageLevel != StorageLevel.NONE)
    }
  }

  test("withAutoCache(false) restores recompute plans") {
    withCleanCaches {
      LaraTable.withAutoCache(false) {
        val before = InternalCaches.registeredCount
        val g = base().agg(Seq("k"), Map("v" -> plus))
        g.where(col("k") === "a").df.count()
        g.where(col("k") === "b").df.count()
        assert(g.df.storageLevel == StorageLevel.NONE)
        assert(InternalCaches.registeredCount == before)
      }
      assert(LaraTable.autoCache)
    }
  }

  test("covariance pins one computation of the shared subtrees, no hints") {
    withCleanCaches {
      import graft.sensor.SensorPipeline
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.catalyst.plans.logical.LeafNode
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
      import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
      import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
      val lines = df(new StructType().add("value", StringType),
        Seq("2020-01-01 00:00:10.000000;n;C1;f;1.5;u",
            "2020-01-01 00:00:20.000000;n;C2;f;2.5;u",
            "2020-01-01 00:02:10.000000;n;C1;f;3.5;u",
            "2020-01-01 00:02:20.000000;n;C2;f;4.5;u").map(Row(_)))
      // Raw (non-cache) leaf scans in the optimized logical plan — cache
      // substitution (withCachedData) runs before optimization, and
      // InMemoryRelation is a LeafNode, so traversal counts only scans the
      // final query recomputes itself.
      def rawLeaves(d: DataFrame): Int =
        d.queryExecution.optimizedPlan.collect {
          case l: LeafNode if !l.isInstanceOf[InMemoryRelation] => l
        }.size
      // The cached physical plans of the cache entries a plan reads (the
      // CacheManager's InMemoryRelations), nested entries included. One that
      // holds a broadcast exchange pins the broadcast relation for the
      // cache's lifetime.
      object aqe extends AdaptiveSparkPlanHelper
      def cachedPlans(p: SparkPlan): Seq[SparkPlan] =
        aqe.collect(p) { case s: InMemoryTableScanExec => s.relation.cacheBuilder.cachedPlan }
          .flatMap(c => c +: cachedPlans(c))
      def broadcastPinning(d: DataFrame): Seq[SparkPlan] =
        cachedPlans(d.queryExecution.executedPlan).distinct
          .filter(c => aqe.find(c)(_.isInstanceOf[BroadcastExchangeLike]).isDefined)
      // (name, plan, rows, minimum inlined leaves of the recompute plan)
      val cases = Seq[(String, () => DataFrame, Long, Int)](
        // the full 2x2 (c, c') matrix
        ("sensor", () => SensorPipeline.covariance(
          SensorPipeline.parse(lines), SensorPipeline.parse(lines)).df, 4L, 6),
        // the sf0.001 tables, relative to the build root: 5 event types,
        // so 15 (c ≤ c′) entries
        ("lara_covariance", () => graft.LaraQueries.covariance(spark, "perfbench/fixture"), 15L, 4))
      for ((name, build, rows, minOffLeaves) <- cases) {
        // Control: with auto-cache off, X's subtree (and its scan leaves) is
        // inlined into every consumer — the inputs are re-scanned many times.
        val (offLeaves, offRows) = LaraTable.withAutoCache(false) {
          val cov = build(); (rawLeaves(cov), cov.count())
        }
        val before = InternalCaches.registeredCount
        val cov = build()
        // Only X (consumed by N, M and U) is persisted. U, a broadcast-right
        // join over the persisted X, is recomputed by both sides of the t
        // self-join instead of being cached with M's broadcast inside it.
        assert(InternalCaches.registeredCount == before + 1, name)
        assert(offRows == rows && cov.count() == rows, name)
        // One scan of each shared input: every path in the final plan goes
        // through a cached subtree — ZERO raw leaf scans remain, vs the
        // recompute plan's inlined re-scans.
        assert(offLeaves >= minOffLeaves,
          s"$name: control plan expected >=$minOffLeaves inlined leaves, got $offLeaves")
        assert(rawLeaves(cov) == 0,
          s"$name: shared input scanned directly ${rawLeaves(cov)} times (recompute leaked past the cache)")
        // The contract's X is an aggregate over one scan, so none of its
        // cache entries may hold a broadcast; the sensor's X is itself the
        // A−B join, which AQE turns into a broadcast join at this size.
        if (name == "lara_covariance") {
          val pinning = broadcastPinning(cov)
          assert(pinning.isEmpty, s"cached plans holding a broadcast exchange:\n${pinning.mkString("\n")}")
        }
      }
    }
  }
}
