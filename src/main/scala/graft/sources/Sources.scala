package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** File sources/sinks mirroring the reference's scan surface (SURVEY §2.2).
  *
  * Reference `CSVScan`/`OpCSVScan` (`opt/Operators.kt:26-155`): skip-N
  * header rows, delimiter/quote/escape options, bad-row drop with a count
  * and warning. `FileStoreIterator` (`opt/Operators.kt:372-477`): CSV sink
  * with optional header. Parallel ingest (`parfile/ParallelFileMapper.kt`)
  * is free — Spark parallelizes file splits natively.
  */
object Sources {

  /** CSV scan with malformed rows dropped — the reference's bad-row-drop
    * semantics. Schema is explicit (the reference requires a declared
    * schema too). Multi-file paths/globs parallelize automatically.
    *
    * Caveats (Spark CSV semantics, pinned by SourcesSpec/
    * RelationalFrontendSpec): malformed-row dropping engages only when the
    * scan reads the full declared schema — under column pruning conversion
    * errors null-fill instead, and a projection-free `count()` parses no
    * columns and drops nothing. Use `csvWithBadRows` when exact accounting
    * matters.
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
          delimiter: String = ",", quote: String = "\"", escape: String = "\\",
          header: Boolean = false): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "DROPMALFORMED")
      .option("delimiter", delimiter)
      .option("quote", quote)
      .option("escape", escape)
      .option("header", header)
      .csv(path)

  /** CSV scan that also reports the bad rows, mirroring the reference's
    * dropped-row count+warn (`opt/Operators.kt:118-131`): returns
    * (good rows, bad raw lines). Both are lazy DataFrames; counting the bad
    * side is the caller's choice — at 100 TB you sample it, not collect it.
    */
  def csvWithBadRows(spark: SparkSession, path: String, schema: StructType,
                     delimiter: String = ","): (DataFrame, DataFrame) = {
    val withCorrupt = spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("delimiter", delimiter)
      .csv(path)
      .cache() // corrupt-record column requires a single materialization pass
    val good = withCorrupt.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val bad = withCorrupt.filter(col("_corrupt_record").isNotNull).select(col("_corrupt_record"))
    (good, bad)
  }

  /** CSV sink with optional header (reference `OpFileStoreIterator`). */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header).csv(path)

  /** JSONL (one JSON object per line) scan — the de-facto interchange
    * format for training corpora; same explicit-schema + bad-row
    * accounting stance as the CSV scan: returns (good rows, bad raw
    * lines). Multi-file globs parallelize natively; at 100 TB bad rows get
    * sampled, not collected.
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType): (DataFrame, DataFrame) = {
    val withCorrupt = spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache() // corrupt-record column requires a single materialization pass
    val good = withCorrupt.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val bad = withCorrupt.filter(col("_corrupt_record").isNotNull).select(col("_corrupt_record"))
    (good, bad)
  }

  /** JSONL sink (one object per line, schema carried in the data). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Driver-certified CSV round trip (contract query): stage the orders
    * table to CSV (no header; a synthesized note column with embedded
    * comma + quote exercises the quote path), inject malformed lines, read
    * it back with PERMISSIVE bad-row accounting, and emit per-priority
    * aggregates of the GOOD rows plus a `__bad` row carrying the
    * dropped-line count. The DuckDB oracle aggregates the parquet
    * originals directly and appends the literal `__bad` row — so value
    * fidelity through the text round trip (longs, doubles, quoted
    * strings), the drop decision AND the bad-row count are all inside the
    * cross-engine hash gate.
    *
    * Bad-row semantics vs the reference (deliberate divergence): the
    * reference counts+drops only FIELD-CONVERSION failures and hard-throws
    * on arity mismatch (`opt/Operators.kt:118-131`:
    * `csvRecord.size() != encoders.size => RuntimeException`). Spark's
    * PERMISSIVE mode treats both classes as corrupt records; at 100 TB an
    * abort-the-job-on-one-ragged-line stance is operationally wrong, so
    * this engine drops-and-counts both. The injected lines here fail BOTH
    * ways (wrong arity and non-numeric key), so they are dropped under
    * either semantic.
    *
    * Scale: the staging write/read is the certification cost (one table
    * pass each way, parallel file splits both directions); the aggregate
    * is map-side combined; the bad side is counted, never collected. The
    * staged copy is deleted before returning (via [[localizeAndClean]]).
    */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val ord = roundtripFrame(spark, dir)
    val tmp = stagingDir(spark, "graft_csvrt")
    writeCsv(ord, s"$tmp/data", header = false)
    val badLines = (1 to 7).map(i => s"bad_key_$i,x").mkString("\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/data/zz_bad.csv"), badLines)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderpriority", StringType),
      StructField("o_totalprice", DoubleType), StructField("o_note", StringType)))
    val (good, bad) = csvWithBadRows(spark, s"$tmp/data", schema)
    localizeAndClean(roundtripAgg(good, bad), tmp)
  }

  /** Driver-certified JSONL round trip: same contract as [[csvRoundtrip]]
    * over the JSON-lines path — stage orders as JSONL, inject 5
    * syntactically invalid lines, read back with bad-row accounting,
    * aggregate the good side, count the bad side.
    */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val ord = roundtripFrame(spark, dir)
    val tmp = stagingDir(spark, "graft_jsonrt")
    writeJsonl(ord, s"$tmp/data")
    val badLines = Seq("not json at all", "{\"o_orderkey\":", "[1,2", "{", "}")
      .mkString("\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/data/zz_bad.json"), badLines)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderpriority", StringType),
      StructField("o_totalprice", DoubleType), StructField("o_note", StringType)))
    val (good, bad) = jsonl(spark, s"$tmp/data", schema)
    localizeAndClean(roundtripAgg(good, bad), tmp)
  }

  /** Staging frame of the round-trip queries: orders keys/price plus a
    * synthesized note embedding a comma AND a quote char — the worst-case
    * text the CSV quoting / JSON escaping paths must carry losslessly
    * (the synthetic orders table has no free-text column of its own).
    */
  private def roundtripFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        concat(col("o_orderpriority"), lit(",\""), col("o_orderstatus"))
          .as("o_note"))

  /** Shared contract projection of the round-trip queries: per-priority
    * (count, exact price cents, note chars) over good rows + the
    * `__bad` accounting row.
    */
  private def roundtripAgg(good: DataFrame, bad: DataFrame): DataFrame = {
    val goodAgg = good.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"),
        sum(length(col("o_note")).cast("long")).as("note_chars"))
    val badAgg = bad.agg(count(lit(1)).as("n"))
      .select(lit("__bad").as("o_orderpriority"), col("n"),
        lit(0L).as("price_cents"), lit(0L).as("note_chars"))
    goodAgg.unionByName(badAgg)
  }

  /** Resolve a fresh scratch subdirectory for certification staging.
    * Resolution order: `SPARK_GRAFT_SCRATCH` env → `spark.graft.scratch`
    * conf → `java.io.tmpdir`. Driver-local temp is correct on `local[*]`;
    * on a real cluster staging must land on a SHARED filesystem — set the
    * env/conf to a shared path there (the default would stage to one
    * node's /tmp, invisible to executors).
    */
  def stagingDir(spark: SparkSession, prefix: String): String = {
    val root = sys.env.get("SPARK_GRAFT_SCRATCH")
      .orElse(spark.conf.getOption("spark.graft.scratch"))
      .map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    java.nio.file.Files.createDirectories(root)
    java.nio.file.Files.createTempDirectory(root, prefix).toString
  }

  /** Materialize a SMALL certification result (a handful of aggregate rows
    * by construction), delete the staging directory, and return the rows
    * as a local frame. The contract queries clean up after EVERY
    * invocation — Bench runs each 3-5 times and previously leaked a staged
    * table copy per rep. The collect is a designed bounded side-channel
    * (≤ ~10 rows), not a data-proportional one.
    */
  def localizeAndClean(df: DataFrame, stagedDir: String): DataFrame = {
    val spark = df.sparkSession
    val rows = df.collect()
    deleteRecursively(java.nio.file.Paths.get(stagedDir))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }

  /** ORC scan — the other columnar interchange format (built into Spark;
    * predicate pushdown and column pruning work as with parquet).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
