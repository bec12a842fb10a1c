package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.TestSpark
import Loops.Round

/** The shared round skeleton: stop test, budget, AQE scope, and the
  * one-checkpoint-job-per-round discipline as seen by a real loop.
  */
class LoopsSpec extends AnyFunSuite {
  import TestSpark._

  private val aqe = "spark.sql.adaptive.enabled"

  test("fixpoint stops at the first round with no progress") {
    val seen = scala.collection.mutable.ArrayBuffer[Int]()
    val (state, converged) = Loops.fixpoint(spark, Round(0, progress = true), maxRounds = 10) {
      (s, round) => seen += round; Round(s + 1, progress = round < 3)
    }
    assert(seen == Seq(1, 2, 3))
    assert(state == 3)
    assert(converged)
  }

  test("fixpoint returns converged = false when the budget is exhausted") {
    val (state, converged) = Loops.fixpoint(spark, Round(0, progress = true), maxRounds = 4) {
      (s, _) => Round(s + 1, progress = true)
    }
    assert(state == 4)
    assert(!converged)
    // no progress to begin with: no round runs, and that is convergence
    val (idle, done) = Loops.fixpoint(spark, Round(7, progress = false), maxRounds = 4) {
      (_, _) => fail("no round may run")
    }
    assert(idle == 7 && done)
  }

  test("fixpoint restores spark.sql.adaptive.enabled when a step throws") {
    spark.conf.set(aqe, "true")
    val ex = intercept[IllegalStateException] {
      Loops.fixpoint(spark, Round(0, progress = true), maxRounds = 3) { (_, _) =>
        assert(spark.conf.get(aqe) == "false")
        throw new IllegalStateException("boom")
      }
    }
    assert(ex.getMessage == "boom")
    assert(spark.conf.get(aqe) == "true")
    // a loop that keeps AQE on never flips it
    Loops.fixpoint(spark, Round(0, progress = true), maxRounds = 1, aqeOff = false) { (s, _) =>
      assert(spark.conf.get(aqe) == "true"); Round(s, progress = true)
    }
  }

  test("kCore runs exactly one graftLocalCheckpointCounted execution per round") {
    // the GraphLoaderSpec cascade fixture: triangle 1-2-3 with pendant path
    // 3-4-5 at k = 2 peels 5, then 4, then sees the same survivor count —
    // three rounds; a budget of one stops after the first
    val es = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (1L, 2L))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val names = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        names.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        names.add(funcName)
    }
    def checkpointRuns(rounds: Int): Int = {
      names.clear()
      graft.sources.GraphLoader.kCore(d, k = 2, rounds = rounds).collect()
      // listener events arrive in order: once the final collect is seen,
      // every checkpoint execution of the loop has been delivered
      eventually(timeout(30.seconds)) { assert(names.contains("collect")) }
      names.asScala.count(_ == "graftLocalCheckpointCounted")
    }
    spark.listenerManager.register(listener)
    try {
      assert(checkpointRuns(rounds = 8) == 3)
      assert(checkpointRuns(rounds = 1) == 1)
    } finally spark.listenerManager.unregister(listener)
  }
}
