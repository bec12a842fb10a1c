package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.bridge

/** Parquet table loaders for the driver testdata layout
  * (`/root/testdata/sfN/NAME.parquet`, see TESTDATA.md).
  */
object Tables {
  /** Table `name` of `dir`, read with the schema of its parquet footer
    * (`bridge.parquetSchema`): building a plan over it runs no Spark job,
    * where schema inference runs one per read.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    bridge.parquetSchema(spark, path).fold(spark.read)(spark.read.schema).parquet(path)
  }

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  /** Session config required before reading a NANOS-typed events.parquet
    * (earlier driver generations): Spark 4 refuses TIMESTAMP(NANOS) by
    * default (PARQUET_TYPE_ILLEGAL); the legacy conf reads it as long.
    * Applied at session construction (Bench/Verify/tests) or at the
    * `SparkEntry.entry` boundary for externally built sessions — never as a
    * side effect of plan building, so concurrent plan builders can't race
    * the session conf. Harmless when the file carries plain micros.
    */
  val eventsConf: (String, String) = "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  def events(s: SparkSession, d: String): DataFrame = {
    require(s.conf.get(eventsConf._1, "false") == "true",
      s"set ${eventsConf._1}=true at session construction before reading events")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // The driver has shipped two physical shapes for ts; normalize BOTH to
    // a session-zone TIMESTAMP (instant) so every downstream expression and
    // the DuckDB oracle (naive UTC wall clock) see identical values:
    //  - TIMESTAMP(NANOS) → long under the legacy conf → integer `div`
    //    (not fractional `/`: double precision at ~1.7e18 nanos is only
    //    accurate to ~hundreds of nanos) → timestamp_micros
    //  - micros with isAdjustedToUTC=false → TIMESTAMP_NTZ → cast, which
    //    under the UTC session zone maps wall clock → same instant
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
