package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.graft.bridge

/** Lifetime registry for operator-INTERNAL persisted frames — the cache
  * contract for every pipeline operator that persists an intermediate the
  * caller never sees (LSH-banded signatures, shingle postings, oriented
  * edge lists, …).
  *
  * The policy (documented here, asserted by `CacheLifetimeSpec`):
  *  - operators register every internal persist at creation;
  *  - the registered frame stays cached while the RETURNED frame is being
  *    consumed — results stay lazy, and re-consuming a result within one
  *    analysis session keeps its speedup;
  *  - a long-lived session calls [[release]] between pipeline stages to
  *    drop all operator-internal executor storage at once. Releasing early
  *    is always SAFE — an unpersisted frame recomputes from lineage — it
  *    only costs time.
  * `graft.Harness.release`, which every main calls per query, pairs
  * [[release]] with `cacheManager.clearCache()` — the latter frees executor
  * storage but not registry entries, and a 70-query × 5-rep run would
  * otherwise accumulate thousands of Dataset/plan objects on the driver
  * heap.
  *
  * A frame read by several consumers is shared through [[checkpoint]],
  * which computes it once, eagerly, and registers the stored rows here.
  *
  * Identity-keyed: registering the same frame twice is a no-op. References
  * are deliberately STRONG: Spark's CacheManager pins the cached plan and
  * its executor blocks regardless of whether any Dataset wrapper is still
  * reachable, so a weakly-held registry entry would be GC'd while the
  * storage it exists to free lives on — release() would silently skip it
  * (measured: the internal frames of a consumed `minhashPairs` are
  * unreachable by the time release() runs). Driver-heap growth across a
  * many-query run is instead bounded by calling [[release]] per query
  * through `Harness.release`.
  */
object InternalCaches {
  // persisted frames and the stored RDDs of checkpoints
  private val registry = new java.util.IdentityHashMap[AnyRef, Unit]()

  /** Register an operator-internal persisted frame; returns it unchanged. */
  private[graft] def register[T <: Dataset[_]](ds: T): T = synchronized {
    registry.put(ds, ()); ds
  }

  /** `df` computed once, now: one job runs its adaptively executed plan
    * (post-shuffle partitions coalesced by the data) into packed row bytes,
    * and the frame returned reads them, so every consumer shares one
    * computation without a cached plan. The stored rows are registered
    * here and freed by [[release]]; the frame keeps its lineage, so reading
    * it after a release recomputes it.
    */
  private[graft] def checkpoint(df: DataFrame): DataFrame = {
    require(!df.isStreaming,
      "InternalCaches.checkpoint: a streaming frame has no rows to compute once")
    val (out, stored) = bridge.persistPacked(df)
    synchronized { registry.put(stored, ()) }
    out
  }

  /** Unpersist every registered internal frame and stored checkpoint
    * (blocking — storage is gone when this returns) and empty the registry.
    */
  def release(): Unit = synchronized {
    registry.keySet().forEach {
      case ds: Dataset[_] => ds.unpersist(blocking = true)
      case rdd: RDD[_] => rdd.unpersist(blocking = true)
    }
    registry.clear()
  }

  /** Number of currently registered internal frames and checkpoints (for
    * specs).
    */
  def registeredCount: Int = synchronized { registry.size() }
}
