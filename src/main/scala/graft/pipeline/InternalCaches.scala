package graft.pipeline

import org.apache.spark.sql.Dataset

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
  private val registry = new java.util.IdentityHashMap[Dataset[_], Unit]()

  /** Register an operator-internal persisted frame; returns it unchanged. */
  private[graft] def register[T <: Dataset[_]](ds: T): T = synchronized {
    registry.put(ds, ()); ds
  }

  /** Unpersist every registered internal frame (blocking — storage is gone
    * when this returns) and empty the registry.
    */
  def release(): Unit = synchronized {
    registry.keySet().forEach(ds => ds.unpersist(blocking = true))
    registry.clear()
  }

  /** Number of currently registered internal frames (for specs). */
  def registeredCount: Int = synchronized { registry.size() }
}
