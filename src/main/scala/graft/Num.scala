package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-exact numeric helpers.
  *
  * The driver hash-compares query output against DuckDB. Double sums are
  * order-dependent and the two engines' `round()` disagree on decimal ties
  * (Spark rounds the exact binary expansion, DuckDB the shortest decimal
  * representation), so any `round(sum(double))` eventually mismatches.
  * The testdata's monetary columns are 2-decimal values, so we sum them as
  * exact integer cents (order-independent, bit-identical everywhere) and
  * divide once at the end — the division result is exactly representable,
  * both engines produce the same double.
  */
object Num {
  /** Exact sum of a 2-decimal column, as a double. */
  def centsSumExact(c: Column): Column =
    sum(round(c * 100).cast("long")) / 100.0

  /** Exact sum of a 4-decimal expression (e.g. price × (1−discount)). */
  def e4SumExact(c: Column): Column =
    sum(round(c * 10000).cast("long")) / 10000.0

  /** Exact per-row snap of a 4-decimal expression. */
  def e4Exact(c: Column): Column = round(c * 10000).cast("long") / 10000.0
}
