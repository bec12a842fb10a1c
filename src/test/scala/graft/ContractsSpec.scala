package graft

import org.scalatest.funsuite.AnyFunSuite

/** The contract lookup Bench (`SPARK_GRAFT_ONLY`) and Verify (extra args)
  * share: it selects in the order both have always run in, and a name that
  * is no contract fails instead of silently selecting nothing. Also pins
  * that each streaming replay is certified by its batch twin's oracle.
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

  test("each streaming replay holds exactly its batch twin's oracle") {
    val twins = Seq(
      "streaming_ohlc_replay" -> "ohlc_downsample",
      "streaming_bin_replay" -> "events_bin",
      "streaming_join_replay" -> "click_purchase_join",
      "streaming_sessions_replay" -> "session_window_agg",
      "streaming_sessions_replay_rocksdb" -> "session_window_agg",
      "streaming_dedup_replay_rocksdb" -> "streaming_dedup_replay")
    twins.foreach { case (replay, batch) =>
      assert(SparkEntry.oracleSql(replay) == SparkEntry.oracleSql(batch), s"$replay vs $batch")
    }
  }

  test("unknown names fail fast, every one listed") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.contractsNamed(Set("q1_agg", "q1_agg_typo", "kcoer")))
    assert(e.getMessage.contains("'kcoer', 'q1_agg_typo'"), e.getMessage)
    assert(!e.getMessage.contains("'q1_agg'"), e.getMessage)
  }
}
