package graft.pipeline

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The cache-lifetime contract (see [[InternalCaches]]): operator-internal
  * persists are registered at creation and fully released by one
  * `InternalCaches.release()` call — a long-lived session does not leak
  * executor storage across pipeline stages.
  */
class CacheLifetimeSpec extends AnyFunSuite {
  import TestSpark._

  test("minhashPairs + triangleCount storage returns to baseline after release()") {
    InternalCaches.release() // clean slate (other suites may have registered)
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet
    val baseline = persisted

    // two internally-caching operators in one session, results consumed
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    assert(Dedup.minhashPairs(docs).collect().nonEmpty)
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val edges = df(st, Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).map(e => Row(e._1, e._2)))
    assert(graft.sources.GraphLoader.triangleCount(edges).collect().nonEmpty)

    assert(InternalCaches.registeredCount >= 3,
      "minhash sigs + triangle und/oriented must all be registered")
    assert(persisted.size > baseline.size, "internal caches should be materialized")

    InternalCaches.release()
    assert(InternalCaches.registeredCount == 0)
    assert(persisted.subsetOf(baseline),
      s"leaked persistent RDDs: ${persisted.diff(baseline)}")
  }

  test("release() before result consumption is safe — lineage recomputes") {
    InternalCaches.release()
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = Dedup.minhashPairs(docs) // lazy — internal cache registered
    InternalCaches.release()             // dropped BEFORE any action
    assert(pairs.collect().nonEmpty)     // plan recomputes from lineage
    InternalCaches.release()
  }

  test("release() frees the stored rows of a checkpoint; its frame recomputes") {
    InternalCaches.release()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val shared = InternalCaches.checkpoint(spark.range(0L, 1000L, 1L, 3).toDF("id"))
    val stored = sc.getPersistentRDDs.keySet.diff(before)
    assert(stored.size == 1)
    assert(sc.getRDDStorageInfo.exists(i => stored(i.id) && i.numCachedPartitions == 3))
    assert(InternalCaches.registeredCount == 1)

    InternalCaches.release()
    assert(InternalCaches.registeredCount == 0)
    assert(sc.getPersistentRDDs.keySet.intersect(stored).isEmpty)
    assert(!sc.getRDDStorageInfo.exists(i => stored(i.id)))
    assert(shared.count() == 1000L)
  }

  test("a streaming frame cannot be checkpointed") {
    val stream = spark.readStream.format("rate").load()
    val e = intercept[IllegalArgumentException](InternalCaches.checkpoint(stream))
    assert(e.getMessage.contains("streaming"), e.getMessage)
  }
}
