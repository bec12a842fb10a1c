package graft

import java.util.concurrent.atomic.AtomicReference
import org.scalatest.funsuite.AnyFunSuite
import scala.util.control.NonFatal

/** Contract queries run concurrently on one session give their serial
  * answers. The mix overlaps the machinery that only concurrency can
  * break: two streaming replays that share the per-JVM staged events copy
  * and each run on a private session clone, and a dedup query that
  * registers operator-internal caches.
  */
class ConcurrentQueriesSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "perfbench/fixture" // the sf0.001 tables, relative to the build root
  private val mix = Seq("streaming_bin_replay", "streaming_counts_replay", "dedup_minhash")

  test("concurrent replays and an InternalCaches user hash as their serial runs, within a bounded wait") {
    def run(name: String): String = Harness.resultHash(SparkEntry.queries(name)(spark, sf))
    val serial = mix.map(n => n -> run(n)).toMap
    Harness.release(spark)

    val threads = mix.map { name =>
      val result = new AtomicReference[String]()
      val t = new Thread(() =>
        result.set(try run(name) catch {
          case NonFatal(e) => s"ERR: ${Option(e.getMessage).getOrElse(e.getClass.getName)}"
        }), s"concurrent_$name")
      t.start()
      (name, t, result)
    }
    // a bounded join is the deadlock check: a hung query fails loudly
    val deadline = System.currentTimeMillis() + 10 * 60 * 1000L
    threads.foreach { case (name, t, _) =>
      t.join(math.max(1L, deadline - System.currentTimeMillis()))
      assert(!t.isAlive, s"$name still running at the deadline")
    }
    threads.foreach { case (name, _, result) =>
      assert(result.get == serial(name), s"$name: concurrent hash differs from serial")
    }
  }
}
