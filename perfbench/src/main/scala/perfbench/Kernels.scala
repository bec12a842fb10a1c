package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rows per second of each native SQL function `graft.GraftExtensions`
  * registers, over the generated documents and embeddings columns. Each
  * input is cached first, so a probe times the kernel and the
  * projection around it, not the scan.
  */
object Kernels {
  /** (function, input, SQL expression over that input) */
  private val probes = Seq(
    ("minhash_sig", "docs", "minhash_sig(toks, 64)"),
    ("simhash64", "docs", "simhash64(toks)"),
    ("portable_hash60", "docs", "portable_hash60(text)"),
    ("cosine_similarity", "vecs", "cosine_similarity(embedding, other)"),
    ("lsh_buckets", "vecs", "lsh_buckets(embedding, 8, 8, 64)"))

  /** Rows per probe input: enough that the kernel, not job start-up,
    * dominates a probe's time.
    */
  private val Rows = 100000L
  private val Reps = 3

  def probe(spark: SparkSession, data: String): Map[String, Double] = {
    graft.GraftExtensions.register(spark)
    def fanOut(df: DataFrame): DataFrame = {
      val copies = spark.range((Rows + df.count() - 1) / df.count()).toDF("copy")
      val out = df.crossJoin(copies).repartition(spark.sparkContext.defaultParallelism).cache()
      out.count()
      out
    }
    val inputs = Map(
      "docs" -> fanOut(spark.read.parquet(s"$data/documents.parquet")
        .select(col("text"), expr("transform(split(text, ' '), w -> xxhash64(w))").as("toks"))),
      "vecs" -> fanOut(spark.read.parquet(s"$data/embeddings.parquet")
        .select(col("embedding"),
          expr("transform(embedding, x -> x * 0.5f + 0.25f)").as("other"))))
    try probes.map { case (name, input, sql) =>
      val df = inputs(input)
      val rows = df.count().toDouble
      val secs = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        df.select(expr(sql)).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      s"kernel.$name.rows_per_s" -> rows / secs(Reps / 2)
    }.toMap
    finally inputs.values.foreach(_.unpersist(blocking = true))
  }
}
