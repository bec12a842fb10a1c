package graft.tools

import graft.Harness
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Memory-pressure rehearsal probe (tool, not contract surface): runs named
  * contract queries under WHATEVER heap the launching JVM granted (`-Xmx`)
  * and reports, per query, wall time plus the spill/peak-memory metrics a
  * constrained executor would show — the one 100 TB resource axis a
  * 128 GiB local box never exercises. At production scale per-task memory
  * is the binding constraint; a query that silently depends on the corpus
  * fitting in storage memory passes every wall-clock gate and then falls
  * off a cliff on a real cluster. This probe answers: under a small heap,
  * does each heavy operator DEGRADE (spill to disk, slower but correct) or
  * DIE (OOM)?
  *
  * Usage:
  *   java -Xmx6g -cp <classes:spark-jars> graft.tools.MemProbe <sfDir> [q1,q2,…]
  * With no query list, runs the built-in heavy tail (graph family,
  * streaming replays, dedup/ANN, capstones — the BENCH_FULL top end).
  * Prints one JSON line per query:
  *   {"query":…,"sec":…,"sec2":…,"spill_mem_mb":…,"spill_disk_mb":…,
  *    "peak_task_exec_mb":…,"heap_mb":…,"ok":…}
  * Spill metrics come from a SparkListener summing task-level
  * memoryBytesSpilled/diskBytesSpilled (and max peakExecutionMemory) over
  * the FINAL rep only — the first rep is JIT/page-cache warm-up, reported
  * for the cold-vs-warm delta.
  */
object MemProbe {
  /** The BENCH_FULL heavy tail: every family whose state could scale with
    * data (graph frontier/wedge machinery, streaming state stores, dedup
    * signature joins, ANN codebooks, capstone compositions, resample
    * windows) — the queries whose memory behavior at scale is worth
    * measuring. Cheap per-row scans are excluded by design.
    */
  val heavyTail: Seq[String] = Seq(
    "community_stats", "streaming_join_replay", "streaming_dedup_replay",
    "triple_itemsets", "sssp", "label_propagation", "clustering_coeff_p",
    "bfs_levels", "bootstrap_ci", "ktruss_p", "neighbor_jaccard_p",
    "fuzzy_join", "streaming_sessions_replay", "triangle_count_p",
    "streaming_bin_replay", "seed_distances", "hop_plot", "pca_power",
    "streaming_ohlc_replay", "path_counts", "pagerank", "ppr_seeds",
    "hits_scores", "entity_resolution", "degree_assort", "corpus_prepare",
    "streaming_enrich_replay", "gram_matrix", "dedup_clusters", "grid_dbscan",
    "streaming_counts_replay", "kcore", "ivf_pq", "dedup_minhash",
    "dedup_jaccard", "embed_neardup", "corpus_curate", "ann_ivf")

  /** Production-shape wedge-family plans (suffix `_p`): the four contract
    * queries whose cost is quadratic in average degree run here with the
    * GraphScaleProbe constant-degree modulus (|vertices| ~ |edges|, env
    * SPARK_GRAFT_GRAPH_MOD, default 200003 at sf1.0) instead of the fixed
    * 20011-vertex contract fixture — a ×10 corpus through the FIXED
    * modulus is a degree-densified artifact (avg degree 600, NOTES_r9 §1),
    * and its memory behavior says nothing about the production growth law.
    * The DENSE contract plans stay reachable by their plain names: one
    * deliberately-dense wedge query under a small heap is the harshest
    * spill-path exercise this box can produce, and the rehearsal runs one.
    */
  def graphPlans(s: SparkSession, d: String): Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = {
    val m = sys.env.getOrElse("SPARK_GRAFT_GRAPH_MOD", "200003").toLong
    def edges = graft.SparkEntry.hashGraph(s, d, m)
    import graft.sources.{GraphLoader => GL}
    Map(
      "triangle_count_p" -> ((_, _) => GL.triangleCount(edges)),
      "clustering_coeff_p" -> ((_, _) => GL.clusteringCoefficient(edges)),
      "ktruss_p" -> ((_, _) => GL.kTruss(edges, k = 4, rounds = 6)),
      "neighbor_jaccard_p" -> ((_, _) => GL.neighborJaccard(edges)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names =
      if (args.length > 1) args.drop(1).flatMap(_.split(",")).map(_.trim).toSeq
      else heavyTail
    // SPARK_GRAFT_AUTOCACHE=0 disables the Lara DSL's fan-out auto-persist
    // for the whole probe run — the r12 A/B: auto-cache registers MORE
    // MEMORY_AND_DISK frames, and the claim "caching never loses under
    // memory pressure" must be measured at the 6 GiB rehearsal heap, not
    // assumed (r11 verdict item 4). Default leaves the production ON state.
    sys.env.get("SPARK_GRAFT_AUTOCACHE")
      .foreach(v => graft.lara.LaraTable.autoCache = v == "1")
    val spark = Harness.session()

    val spillMem = new AtomicLong(0L)
    val spillDisk = new AtomicLong(0L)
    val peakExec = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
          peakExec.updateAndGet(p => math.max(p, m.peakExecutionMemory))
        }
      }
    })

    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val queries = graft.SparkEntry.queries ++ graphPlans(spark, sfDir)
    names.foreach { name =>
      queries.get(name) match {
        case None => println(s"""{"query":"$name","ok":false,"err":"unknown query"}""")
        case Some(fn) =>
          def rep(): (Double, Boolean, String) = {
            Harness.release(spark)
            System.gc()
            spillMem.set(0L); spillDisk.set(0L); peakExec.set(0L)
            val t0 = System.nanoTime()
            try {
              Harness.noop(fn(spark, sfDir))
              ((System.nanoTime() - t0) / 1e9, true, "")
            } catch {
              case e: Throwable =>
                ((System.nanoTime() - t0) / 1e9, false,
                  Option(e.getMessage).getOrElse(e.getClass.getName).take(160)
                    .replaceAll("[\"\\\\\\n\\r\\t]", " "))
            }
          }
          val (t1, ok1, err1) = rep() // cold (JIT + page cache)
          val (t2, ok2, err2) = if (ok1) rep() else (Double.NaN, false, err1)
          def f(v: Double) = if (v.isNaN) "null" else f"$v%.2f"
          val err = if (ok2) "" else s""","err":"${if (err2.nonEmpty) err2 else err1}""""
          println(s"""{"query":"$name","sec":${f(t2)},"sec_cold":${f(t1)}""" +
            s""","spill_mem_mb":${spillMem.get / (1024 * 1024)}""" +
            s""","spill_disk_mb":${spillDisk.get / (1024 * 1024)}""" +
            s""","peak_task_exec_mb":${peakExec.get / (1024 * 1024)}""" +
            s""","heap_mb":$heapMb,"ok":${ok1 && ok2}$err}""")
          System.out.flush()
      }
    }
    spark.stop()
  }
}
