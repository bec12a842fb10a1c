package graft.tools

import graft.Harness
import graft.Harness.resultHash

/** Concurrent-session stress (tool, not contract surface): a real cluster
  * serves many users from one SparkSession-per-app, but every harness run
  * so far executed contract queries serially — `InternalCaches` release
  * discipline, the per-JVM shared staged-events copy (streaming replays),
  * and Spark's FAIR scheduler have never been exercised under concurrency.
  * This probe runs N contract queries CONCURRENTLY in one session (FAIR
  * scheduler, one pool per query thread) and proves:
  *   1. no deadlock (bounded wait),
  *   2. no cross-query corruption — each query's result hash under
  *      concurrency equals its serial hash,
  *   3. tail latency vs serial (per-query wall times both ways).
  *
  * The result hash is [[graft.Harness.resultHash]]: order-independent,
  * computed distributed; nothing is collected but the one scalar.
  *
  * Usage: java -cp … graft.tools.ConcurrentProbe <sfDir> [q1,q2,…]
  * Default mix deliberately overlaps shared machinery: two streaming
  * replays (shared staged-events dir), two InternalCaches-registering
  * dedup/ANN queries, a cached-graph query, joins and windows.
  */
object ConcurrentProbe {
  val defaultMix: Seq[String] = Seq(
    "streaming_bin_replay", "streaming_counts_replay", // shared staged events
    "dedup_minhash", "ann_ivf",                        // InternalCaches users
    "triangle_count",                                  // cached edge frame
    "q5_multijoin", "window_topk", "corpus_prepare")   // joins/windows/capstone

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = if (args.length > 1) args.drop(1).flatMap(_.split(",")).map(_.trim).toSeq
                else defaultMix
    val spark = Harness.session(extra = Seq("spark.scheduler.mode" -> "FAIR"))
    val queries = names.map(n => n -> graft.SparkEntry.queries(n))

    // warm-up (JIT/codegen/page cache) so serial vs concurrent is not
    // measuring first-execution tax on whichever pass goes first
    queries.foreach { case (_, fn) =>
      try Harness.noop(fn(spark, sfDir))
      catch { case _: Throwable => () }
    }
    Harness.release(spark)

    // serial pass: per-query time + canonical hash
    val serial = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val h = resultHash(fn(spark, sfDir))
      name -> (((System.nanoTime() - t0) / 1e9), h)
    }.toMap
    Harness.release(spark)

    // concurrent pass: one thread per query, each in its own FAIR pool;
    // cloned sessions give each thread its own SQLConf/temp-view space
    // while sharing the SparkContext — the multi-user pattern
    val wallT0 = System.nanoTime()
    val threads = queries.map { case (name, fn) =>
      val result = new java.util.concurrent.atomic.AtomicReference[(Double, String)]()
      val t = new Thread(() => {
        val sess = spark.newSession()
        sess.sparkContext.setLocalProperty("spark.scheduler.pool", s"pool_$name")
        val t0 = System.nanoTime()
        try {
          val h = resultHash(fn(sess, sfDir))
          result.set(((System.nanoTime() - t0) / 1e9, h))
        } catch {
          case e: Throwable =>
            result.set((-1.0, s"ERR:${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}"))
        }
      }, s"probe_$name")
      t.start()
      (name, t, result)
    }
    // bounded join = the deadlock gate: a hung query fails the probe loudly
    val deadline = System.currentTimeMillis() + 20 * 60 * 1000L
    threads.foreach { case (name, t, _) =>
      t.join(math.max(1L, deadline - System.currentTimeMillis()))
      if (t.isAlive) { println(s"""{"query":"$name","deadlock":true}"""); sys.exit(2) }
    }
    val wall = (System.nanoTime() - wallT0) / 1e9

    var allMatch = true
    threads.foreach { case (name, _, r) =>
      val (concSec, concHash) = r.get()
      val (serSec, serHash) = serial(name)
      val ok = concHash == serHash && concSec >= 0
      allMatch &&= ok
      println(f"""{"query":"$name","serial_sec":$serSec%.2f,"conc_sec":$concSec%.2f,""" +
        s""""hash_match":$ok${if (ok) "" else s""","serial":"$serHash","conc":"$concHash""""}}""")
    }
    val serialTotal = serial.values.map(_._1).sum
    println(f"""{"n":${queries.size},"serial_total_sec":$serialTotal%.2f,""" +
      f""""concurrent_wall_sec":$wall%.2f,"all_hashes_match":$allMatch}""")
    spark.stop()
    if (!allMatch) sys.exit(1)
  }
}
