package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.graft.bridge
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

  private val edgeSchema = new StructType().add("src", LongType).add("dst", LongType)
  private def edges(es: (Long, Long)*) = df(edgeSchema, es.map(e => Row(e._1, e._2)))

  // the GraphLoaderSpec cascade fixture: triangle 1-2-3 with pendant path
  // 3-4-5 (duplicates and both directions included)
  private val cascade =
    edges((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (1L, 2L))

  /** Runs `body` and returns the checkpoint executions it made, with their
    * executed plans.
    */
  private def checkpointRuns(body: => Unit): Seq[QueryExecution] = {
    val runs = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        runs.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        runs.add(funcName -> qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).collect()
      // listener events arrive in order: once the marker collect is seen,
      // every checkpoint execution of `body` has been delivered
      eventually(timeout(30.seconds)) { assert(runs.asScala.exists(_._1 == "collect")) }
    } finally spark.listenerManager.unregister(listener)
    runs.asScala.toSeq.collect { case ("graftLocalCheckpointCounted", qe) => qe }
  }

  test("kCore runs exactly one graftLocalCheckpointCounted execution per round") {
    // at k = 2 the adjacency has a vertex of degree < 2 (5), round 1 peels
    // 5, round 2 peels 4 and leaves no degree < 2: the adjacency's counted
    // checkpoint plus two peel rounds; a budget of one stops after the first
    // peel
    def runs(rounds: Int): Int = checkpointRuns {
      graft.sources.GraphLoader.kCore(cascade, k = 2, rounds = rounds).collect()
    }.size
    assert(runs(rounds = 8) == 3)
    assert(runs(rounds = 1) == 2)
  }

  test("kCore: one Spark job per peel round, and no round plan broadcasts") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    bridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    val plans = try checkpointRuns {
      graft.sources.GraphLoader.kCore(cascade, k = 2, rounds = 8) // the rounds run here
      bridge.drainListeners(spark)
      // the adjacency's job and one job for each of the two peel rounds
      assert(jobs.get == 3)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(plans.size == 3)
    for (qe <- plans)
      assert(qe.executedPlan.collectFirst { case b: BroadcastExchangeExec => b }.isEmpty,
        qe.executedPlan.treeString)
  }

  test("kCore of an input that is already a k-core runs only the adjacency checkpoint") {
    // K4 with every edge twice and in both directions: each vertex has
    // degree 3, so at k = 3 the adjacency has no vertex to peel
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val d = edges(k4 ++ k4: _*)
    var got: Set[Row] = Set.empty
    val runs = checkpointRuns {
      got = graft.sources.GraphLoader.kCore(d, k = 3, rounds = 8).collect().toSet
    }
    assert(runs.size == 1)
    assert(got == (1L to 4L).map(v => Row(v, 3L)).toSet)
  }
}
