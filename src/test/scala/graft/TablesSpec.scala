package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Contract-drift gate for `Tables.events`' dual-layout normalization.
  *
  * The driver has regenerated events.parquet mid-round before, flipping the
  * physical `ts` type from TIMESTAMP(NANOS) (read as LongType under the
  * legacy nanosAsLong conf) to micros TIMESTAMP_NTZ. `Tables.events`
  * dispatches on the physical type and must map BOTH layouts to the same
  * session-zone instants — this spec materializes one dataset in both
  * layouts and asserts the normalized reads are identical, so the next
  * data regeneration cannot silently flip semantics.
  *
  * (Spark cannot WRITE TIMESTAMP(NANOS) parquet; a real nanos file under
  * the legacy conf surfaces as a plain INT64 column, which is exactly what
  * an INT64 write produces — the LongType dispatch path is byte-for-byte
  * the one a genuine nanos file takes.)
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  test("events normalizes legacy-nanos and micros-NTZ layouts to identical instants") {
    import spark.implicits._
    // micros since epoch, including a sub-millisecond component (789 µs)
    // that the nanos path's integer div must preserve exactly
    val micros = Seq(1700000000000789L, 1700000123456789L, 1700086400000001L)
    val dir = java.nio.file.Files.createTempDirectory("graft_events_layouts")
    val nanosDir = s"$dir/nanos"
    val ntzDir = s"$dir/ntz"
    // layout A: ts as INT64 nanoseconds (what a TIMESTAMP(NANOS) file
    // yields under spark.sql.legacy.parquet.nanosAsLong=true)
    micros.map(m => (m * 1000L, m)).toDF("ts", "user_id")
      .write.mode("overwrite").parquet(s"$nanosDir/events.parquet")
    // layout B: ts as micros TIMESTAMP_NTZ (the current driver layout)
    micros.map(m => (m, m)).toDF("us", "user_id")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"), col("user_id"))
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")

    val a = Tables.events(spark, nanosDir)
    val b = Tables.events(spark, ntzDir)
    assert(a.schema("ts").dataType == TimestampType)
    assert(b.schema("ts").dataType == TimestampType)
    def instants(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      d.select(col("user_id"), unix_micros(col("ts")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ia = instants(a)
    val ib = instants(b)
    assert(ia == ib, s"layouts disagree: nanos=$ia ntz=$ib")
    // and both equal the source-of-truth micros
    assert(ia == micros.map(m => m -> m).toMap)
  }

  test("tables read with their footer schema have the schema inference gives") {
    for (dir <- Seq("perfbench/fixture", "/root/testdata/sf0.001")) {
      val names = new java.io.File(dir).list().filter(_.endsWith(".parquet")).sorted
      assert(names.length >= 10, s"$dir: ${names.mkString(", ")}")
      for (n <- names) {
        val name = n.stripSuffix(".parquet")
        assert(Tables.t(spark, dir, name).schema == spark.read.parquet(s"$dir/$n").schema,
          s"$dir/$n")
      }
    }
  }

  test("a contract that only reads tables builds with no Spark job") {
    val q1 = SparkEntry.contracts.find(_.name == "q1_agg").get
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.bridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val plan = q1.plan(spark, "perfbench/fixture")
      plan.queryExecution.executedPlan // planned too, not run
      org.apache.spark.sql.graft.bridge.drainListeners(spark)
      assert(jobs.get == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
