package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import graft.{Harness, SparkEntry, TestSpark}

/** Task retries change no answer: `FaultProbe`'s kill mode on the test
  * session. The first attempt of every stage is killed; killed attempts do
  * not count toward `spark.task.maxFailures`, so each stage re-runs its
  * task and the query must land on its clean result hash. The queries
  * cover a `Loops.fixpoint` loop whose stop test counts rows (kcore), a
  * pair stage (dedup_minhash) and a state store fed by retried
  * micro-batches (streaming_counts_replay).
  */
class RetryDeterminismSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "perfbench/fixture" // the sf0.001 tables, relative to the build root

  for (name <- Seq("kcore", "dedup_minhash", "streaming_counts_replay"))
    test(s"$name: killed first attempts leave the result hash unchanged") {
      def run(): String = {
        Harness.release(spark)
        Harness.resultHash(SparkEntry.queries(name)(spark, sf))
      }
      val clean = run()
      val injector = new FaultProbe.KillInjector(spark.sparkContext)
      spark.sparkContext.addSparkListener(injector)
      val faulted =
        try {
          injector.enabled = true
          try run() finally injector.enabled = false
        } finally spark.sparkContext.removeSparkListener(injector)
      assert(faulted == clean, s"$name: hash under task kills differs from the clean run")
      assert(injector.confirmed.get > 0,
        s"$name: no injected kill landed (${injector.attempted.get} attempted)")
    }
}
