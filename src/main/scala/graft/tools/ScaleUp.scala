package graft.tools

import graft.Harness
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: replicates a driver testdata directory
  * `factor`× with FOREIGN-KEY-CONSISTENT key shifts, so every contract
  * query runs unmodified on an order of magnitude more data (the empirical
  * half of the 100×-scale argument — plan shapes are necessary, measured
  * sub/linear scaling is the evidence).
  *
  * Shift discipline: replica `i` adds `i · (max_key + 1)` to every key,
  * and the SAME shift is applied to every foreign-key reference
  * (o_custkey moves with c_custkey, l_orderkey with o_orderkey, …), so
  * join fan-outs and selectivities are preserved exactly — each replica is
  * a disjoint copy of the original universe. Dimension leaves (region,
  * nation) are shared, as in TPC-H itself. Replica 0 is byte-identical to
  * the source, so the scaled directory strictly contains the original.
  *
  * documents.text gets a ` repl<i>` suffix for i > 0: replicas become
  * NEAR-duplicates (one extra token) instead of exact byte copies, which
  * keeps the dedup operators' candidate structure realistic (clusters of
  * `factor`) without degenerating every minhash band.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> [factor] [skew]
  * (tool, not contract surface — the bounded per-table max-key collects
  * are deliberate).
  *
  * `skew` (round-8 stress mode): reassigns every 10th event to user 0 —
  * ONE user owns ~10% of all events. The driver testdata is uniform, so
  * this is the only way to measure whether AQE skew-join splitting and
  * the per-user window family survive a production-shaped hot key
  * (NOTES_r9.md records the measured uniform-vs-skew Bench comparison).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val skew = args.length > 3 && args(3) == "skew"
    val spark = Harness.session()

    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def maxKey(df: DataFrame, k: String): Long =
      df.agg(max(col(k))).head().getLong(0) + 1L
    // the replica axis: a broadcast `factor`-row frame; one scan of the
    // source fans out to `factor` shifted copies
    val reps = broadcast(spark.range(0, factor).select(col("id").as("rep")))
    def scaled(df: DataFrame, shifts: Map[String, Long],
               keepRep: Boolean = false): DataFrame = {
      val cols = df.columns.map { c =>
        shifts.get(c) match {
          case Some(k) => (col(c) + col("rep") * lit(k)).as(c)
          case None => col(c)
        }
      }
      val sel = if (keepRep) cols :+ col("rep") else cols
      df.crossJoin(reps).select(sel.toIndexedSeq: _*)
    }
    // Fact tables are written as MANY files (one per shuffle partition),
    // matching how a real cluster lays out a big table. The r7 rehearsal
    // found the single-file layout this used to produce planned every scan
    // as ONE task (80 MB file < the 128 MB maxPartitionBytes default = one
    // split), serializing all 32 cores onto one — which inflated every
    // scan-bound query's sf1.0 time ~5-10× and poisoned the scaling read.
    def write(df: DataFrame, name: String, parts: Int = 32): Unit = {
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name done")
    }

    val kCust = maxKey(tbl("customer"), "c_custkey")
    val kOrd = maxKey(tbl("orders"), "o_orderkey")
    val kPart = maxKey(tbl("part"), "p_partkey")
    val kSupp = maxKey(tbl("supplier"), "s_suppkey")
    val kEv = maxKey(tbl("events"), "event_id")
    val kUser = maxKey(tbl("events"), "user_id")
    val kDoc = maxKey(tbl("documents"), "doc_id")
    val kVec = maxKey(tbl("embeddings"), "vec_id")

    write(tbl("region"), "region", parts = 1)
    write(tbl("nation"), "nation", parts = 1)
    write(scaled(tbl("customer"), Map("c_custkey" -> kCust)), "customer")
    write(scaled(tbl("supplier"), Map("s_suppkey" -> kSupp)), "supplier")
    write(scaled(tbl("part"), Map("p_partkey" -> kPart)), "part")
    write(scaled(tbl("orders"),
      Map("o_orderkey" -> kOrd, "o_custkey" -> kCust)), "orders")
    write(scaled(tbl("lineitem"),
      Map("l_orderkey" -> kOrd, "l_partkey" -> kPart, "l_suppkey" -> kSupp)),
      "lineitem")
    val evScaled = scaled(tbl("events"), Map("event_id" -> kEv, "user_id" -> kUser))
    write(
      if (skew) evScaled.withColumn("user_id",
        when(pmod(col("event_id"), lit(10L)) === 0L, lit(0L)).otherwise(col("user_id")))
      else evScaled,
      "events")
    write(scaled(tbl("documents"), Map("doc_id" -> kDoc), keepRep = true)
      .withColumn("text",
        when(col("rep") > 0, concat(col("text"), lit(" repl"), col("rep")))
          .otherwise(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("rep"),
      "documents")
    write(scaled(tbl("embeddings"), Map("vec_id" -> kVec)), "embeddings")
    println(s"[scaleup] $src -> $out factor=$factor COMPLETE")
    spark.stop()
  }
}
