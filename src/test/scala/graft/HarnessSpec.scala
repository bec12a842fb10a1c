package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one session factory, checked as the settings it hands the builder
  * (no second SparkContext is started), plus the per-query helpers.
  */
class HarnessSpec extends AnyFunSuite {
  private def conf(master: String, env: Map[String, String],
                   extra: Seq[(String, String)] = Nil): Map[String, String] =
    Harness.conf(master, extra, env).toMap

  test("every session gets the shared settings") {
    val c = conf("local[3]", Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(c == Map(
      "spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.files.maxPartitionBytes" -> "16m",
      "spark.sql.session.timeZone" -> "UTC",
      Tables.eventsConf,
      "spark.ui.enabled" -> "false"))
  }

  test("shuffle partitions: SPARK_GRAFT_SHUFFLE_PARTS, else cpus") {
    val parts = "spark.sql.shuffle.partitions"
    assert(conf("local[2]", Map("SPARK_GRAFT_CPUS" -> "2",
      "SPARK_GRAFT_SHUFFLE_PARTS" -> "320"))(parts) == "320")
    assert(conf("local[2]", Map("SPARK_GRAFT_CPUS" -> "7"))(parts) == "7")
    assert(conf("local[2]", Map.empty)(parts) ==
      Runtime.getRuntime.availableProcessors.toString)
  }

  test("a local-cluster master gets this JVM's classpath for its executors") {
    val cp = "spark.executor.extraClassPath"
    assert(conf("local-cluster[2, 1, 1024]", Map.empty)(cp) == sys.props("java.class.path"))
    assert(!conf("local[2]", Map.empty).contains(cp))
    assert(!conf("local[2, 4]", Map.empty).contains(cp))
  }

  test("caller settings come last and win") {
    val c = Harness.conf("local[2]",
      Seq("spark.scheduler.mode" -> "FAIR", "spark.sql.shuffle.partitions" -> "1"),
      Map("SPARK_GRAFT_CPUS" -> "2"))
    assert(c.takeRight(2) == Seq("spark.scheduler.mode" -> "FAIR",
      "spark.sql.shuffle.partitions" -> "1"))
    assert(c.toMap.apply("spark.sql.shuffle.partitions") == "1")
  }

  test("resultHash ignores row order and counts rows") {
    val df = TestSpark.spark.range(0, 50).select(col("id"), (col("id") % 7).as("m"))
    val h = Harness.resultHash(df)
    assert(h == Harness.resultHash(df.orderBy(col("m").desc, col("id").desc).repartition(3)))
    assert(h.endsWith("/50"))
    assert(h != Harness.resultHash(df.filter(col("id") > 0)))
  }

  test("median of odd and even samples") {
    assert(Harness.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Harness.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
