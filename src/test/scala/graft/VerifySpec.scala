package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `oracle_sql.json` as the DuckDB compare reads it back. */
class VerifySpec extends AnyFunSuite {
  private def parse(json: String): Map[String, String] =
    new ObjectMapper().readValue(json, classOf[java.util.Map[String, String]]).asScala.toMap

  test("oracleJson parses back to exactly the selected oracleSql entries") {
    assert(parse(Verify.oracleJson(SparkEntry.contracts)) == SparkEntry.oracleSql)
    assert(SparkEntry.oracleSql.size == 242)
    val some = SparkEntry.contractsNamed(Set("kcore", "retrieval_eval"))
    assert(parse(Verify.oracleJson(some)) == some.map(c => c.name -> c.oracle).toMap)
  }

  test("oracleJson escapes a tab, CR, quote, backslash and a \\u0001") {
    val sql = "SELECT '\t' AS a,\r\n \"q\" AS b, '\\d' AS c, '\u0001' AS d"
    val json = Verify.oracleJson(Seq(SparkEntry.Contract("synthetic", (s, _) => s.emptyDataFrame, sql)))
    assert(!json.exists(_ < ' '), json)
    assert(parse(json) == Map("synthetic" -> sql))
  }
}
