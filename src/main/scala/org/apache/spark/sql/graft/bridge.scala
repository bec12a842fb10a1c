package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Predicate}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Bridge into `private[sql]` surface: Column ↔ Expression conversion for
  * custom Catalyst expressions, an eager local checkpoint fused with its
  * materialization count, and a listener-bus drain for profiling tools. Namespaced under org.apache.spark.sql by
  * necessity (the standard pattern for Spark extension libraries);
  * contains no query logic.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached every listener. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Eager local checkpoint that RETURNS the count of the materialization
    * job. `Dataset.localCheckpoint(eager = true)` already materializes the
    * checkpoint by running `rdd.count()` and THROWS THE RESULT AWAY, so an
    * iterative operator that needs its per-round row count (a convergence
    * probe: kCore/kTruss survivor counts, a frontier's isEmpty) pays a
    * SECOND driver-synchronized job per round on top of the checkpoint
    * job. This mirrors the Dataset.checkpoint internals — same
    * `executedPlan.execute().map(_.copy())`, same `localCheckpoint()`,
    * same `LogicalRDD.fromDataset` result (output partitioning/ordering
    * preserved, lineage cut) — but surfaces the count, halving the
    * driver round-trips of every fixed-point loop.
    *
    * `pred`: optional Boolean column evaluated DURING the materialization
    * pass and counted via an accumulator; the second element of the result
    * is its count (or the row count when `pred` is null). The column is
    * resolved against the frame by NAME and bound to the executed plan's
    * output, so reordering the frame's columns cannot change what it
    * counts. Accumulator counts from re-run tasks can double-count on retry,
    * which can only inflate a nonzero count, never turn zero nonzero or
    * nonzero zero — callers use it strictly as a progress test, never as a
    * result value.
    */
  def localCheckpointCounted(df: DataFrame, pred: Column = null): (DataFrame, Long) = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    // the analyzer resolves the column's names against ds's output
    val cond = Option(pred).map { p =>
      ds.select(p).queryExecution.analyzed.expressions.head match {
        case Alias(e, _) => e
        case e => e
      }
    }
    SQLExecution.withNewExecutionId(qe, Some("graftLocalCheckpointCounted")) {
      val base = qe.executedPlan.execute()
      val output = qe.executedPlan.output
      val (rdd, acc) = cond match {
        case None => (base.map(_.copy()), None)
        case Some(c) =>
          val acc = spark.sparkContext.longAccumulator("graft.checkpointPredCount")
          (base.mapPartitionsWithIndex { (i, rows) =>
            val p = Predicate.create(c, output)
            p.initialize(i)
            rows.map { r => if (p.eval(r)) acc.add(1L); r.copy() }
          }, Some(acc))
      }
      rdd.localCheckpoint()
      val total = rdd.count() // ONE job: materializes the checkpoint AND counts
      val out = Dataset.ofRows(spark,
        LogicalRDD.fromDataset(rdd, ds, isStreaming = false).newInstance())
      (out, acc.fold(total)(_.value))
    }
  }
}
