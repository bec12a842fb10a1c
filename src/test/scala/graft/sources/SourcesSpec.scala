package graft.sources

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** CSV source/sink semantics (reference `CSVScan`/`FileStoreIterator`,
  * `opt/Operators.kt:26-155,372-477`): malformed-row dropping, bad-row
  * accounting, header round-trip.
  */
class SourcesSpec extends AnyFunSuite {
  import TestSpark._

  private val schema = new StructType()
    .add("name", StringType).add("n", IntegerType).add("x", DoubleType)

  private def writeTemp(lines: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("csv_src")
    java.nio.file.Files.write(dir.resolve("part.csv"),
      String.join("\n", lines: _*).getBytes)
    dir.toString
  }

  test("csv drops malformed rows (DROPMALFORMED)") {
    val p = writeTemp(Seq("a,1,1.5", "bad,notint,zz", "b,2,2.5"))
    val d = Sources.csv(spark, p, schema)
    assert(rowSet(d) == Set(Seq[Any]("a", 1, 1.5), Seq[Any]("b", 2, 2.5)))
  }

  test("csvWithBadRows splits good rows from bad raw lines with counts") {
    val p = writeTemp(Seq("a,1,1.5", "bad,notint,zz", "b,2,2.5", "c,3"))
    val (good, bad) = Sources.csvWithBadRows(spark, p, schema)
    // "bad,notint,zz" (type error) and "c,3" (missing column) are both
    // flagged corrupt; permissive mode keeps nothing from them here
    assert(good.count() == 2)
    assert(bad.count() == 2)
  }

  test("jsonl: good rows split from corrupt lines; sink round-trips") {
    import org.apache.spark.sql.types._
    val js = new StructType().add("doc_id", LongType).add("text", StringType)
    val p = writeTemp(Seq(
      """{"doc_id": 1, "text": "hello"}""",
      """not json at all""",
      """{"doc_id": 2, "text": "world"}""",
      """{"doc_id": "x?", "text": 3}"""))
    val (good, bad) = Sources.jsonl(spark, p, js)
    assert(rowSet(good) == Set(Seq[Any](1L, "hello"), Seq[Any](2L, "world")))
    assert(bad.count() == 2) // broken syntax + type mismatch both accounted
    val out = java.nio.file.Files.createTempDirectory("jsonl_out").toString + "/t"
    Sources.writeJsonl(good, out)
    val (back, backBad) = Sources.jsonl(spark, out, js)
    assert(rowSet(back) == rowSet(good) && backBad.count() == 0)
  }

  test("csv sink with header round-trips") {
    val p = writeTemp(Seq("a,1,1.5"))
    val d = Sources.csv(spark, p, schema)
    val out = java.nio.file.Files.createTempDirectory("csv_out").toString + "/t"
    Sources.writeCsv(d, out, header = true)
    val back = spark.read.schema(schema).option("header", true).csv(out)
    assert(rowSet(back) == rowSet(d))
  }

  test("orc sink/scan round-trips and pushes filters to the scan") {
    val p = writeTemp(Seq("a,1,1.5", "b,2,2.5", "c,3,3.5"))
    val d = Sources.csv(spark, p, schema)
    val out = java.nio.file.Files.createTempDirectory("orc_out").toString + "/t"
    d.write.mode("overwrite").orc(out)
    val back = Sources.orc(spark, out)
    assert(rowSet(back) == rowSet(d))
    val filtered = back.filter(org.apache.spark.sql.functions.col("n") > 1)
    val plan = filtered.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThan"),
      s"no pushed filter in ORC scan:\n$plan")
    assert(filtered.count() == 2)
  }
}
