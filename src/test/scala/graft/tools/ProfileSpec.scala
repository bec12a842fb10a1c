package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite
import graft.{Harness, SparkEntry, TestSpark}

/** `Profile`'s per-query body on the shared test session. */
class ProfileSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private val queries = Seq("kcore", "lara_covariance")
  private lazy val dir = Files.createTempDirectory("graft_profile")
  private lazy val reports =
    queries.map(q => Profile.profile(spark, sf, q, reps = 1, plans = Some(dir -> "t")))

  private def occurrences(text: String, pattern: String): Int =
    pattern.r.findAllIn(text).length

  test("audit columns are the operator counts of the query's formatted explain") {
    for (r <- reports) {
      // cache-cold, as Profile builds it: a cached frame materialized by
      // an earlier run explains its final adaptive plan as well
      Harness.release(spark)
      val plan = SparkEntry.queries(r.query)(spark, sf).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(r.counts == Seq(
        occurrences(plan, "\\bExchange\\b"), occurrences(plan, "SortMergeJoin"),
        occurrences(plan, "BroadcastHashJoin"), occurrences(plan, "ShuffledHashJoin"),
        occurrences(plan, "\\bGenerate\\b"), occurrences(plan, "Scan parquet")), r.query)
      assert(r.lines.head.startsWith(f"[audit] ${r.query}%-34s "))
    }
  }

  test("rows equal count(); the last rep reports its stages; scanned tables") {
    for (r <- reports) {
      assert(r.rows == SparkEntry.queries(r.query)(spark, sf).count(), r.query)
      assert(r.rows > 0, r.query)
      assert(r.times.size == 1 && r.times.head > 0.0, r.query)
      assert(r.stages.nonEmpty && r.stages.forall(_.startsWith("[stage ")), r.query)
      assert(r.compiled >= 0L && r.lines.exists(l =>
        l.startsWith(s"[probe] ${r.query} rep1 ") && l.endsWith(s" janino=${r.compiled}")), r.query)
      // kcore's final plan reads only its checkpointed last round
      assert(r.tables == Map("kcore" -> Nil, "lara_covariance" -> Seq("events"))(r.query))
    }
  }

  test("the last rep's probe line carries its Spark jobs and tasks") {
    for (r <- reports) {
      assert(r.jobs > 0 && r.tasks >= r.jobs, s"${r.query}: jobs=${r.jobs} tasks=${r.tasks}")
      assert(r.lines.exists(l => l.startsWith(s"[probe] ${r.query} rep1 ") &&
        l.endsWith(s" jobs=${r.jobs} tasks=${r.tasks} janino=${r.compiled}")), r.query)
    }
  }

  test("--plans writes one formatted explain per query") {
    for (r <- reports)
      assert(Files.readString(dir.resolve(s"${r.query}_t.txt")) == r.plan, r.query)
  }

  test("the shared session is still running afterwards") {
    assert(reports.size == 2)
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3)
  }
}
