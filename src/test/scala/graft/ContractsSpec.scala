package graft

import org.scalatest.funsuite.AnyFunSuite

/** The contract lookup Bench (`SPARK_GRAFT_ONLY`) and Verify (extra args)
  * share: it selects in the order both have always run in, and a name that
  * is no contract fails instead of silently selecting nothing.
  */
class ContractsSpec extends AnyFunSuite {
  test("no names select every contract, in queries' key order") {
    assert(SparkEntry.contractsNamed(Set.empty).map(_.name) == SparkEntry.queries.keys.toSeq)
  }

  test("a named subset keeps queries' key order and each contract's own plan and oracle") {
    val names = Set("kcore", "lara_covariance", "q1_agg")
    val got = SparkEntry.contractsNamed(names)
    assert(got.map(_.name) == SparkEntry.queries.keys.toSeq.filter(names))
    got.foreach { c =>
      assert(c.plan eq SparkEntry.queries(c.name))
      assert(c.oracle == SparkEntry.oracleSql(c.name))
    }
  }

  test("unknown names fail fast, every one listed") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.contractsNamed(Set("q1_agg", "q1_agg_typo", "kcoer")))
    assert(e.getMessage.contains("'kcoer', 'q1_agg_typo'"), e.getMessage)
    assert(!e.getMessage.contains("'q1_agg'"), e.getMessage)
  }
}
