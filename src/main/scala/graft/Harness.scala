package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The run policy every main shares — `Bench`, `Verify` and the
  * `graft.tools` mains: core count, session settings, per-query cache
  * release, the `noop` sink, medians and the order-independent result
  * hash. Not public surface.
  */
private[graft] object Harness {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  val cpus: Int = cpusOf(sys.env)

  private def cpusOf(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** Shuffle partitions scale with DATA on a real cluster, not with one
    * box's core count — the r11 sf10 lesson (32 partitions OOM where 320
    * pass). Scale rehearsals set `SPARK_GRAFT_SHUFFLE_PARTS`; otherwise
    * one partition per core.
    */
  def shufflePartitions(env: Map[String, String] = sys.env): String =
    env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpusOf(env).toString)

  /** The session settings for `master`, then `extra` (later keys win). */
  def conf(master: String, extra: Seq[(String, String)] = Nil,
           env: Map[String, String] = sys.env): Seq[(String, String)] =
    Seq(
      "spark.master" -> master,
      "spark.sql.shuffle.partitions" -> shufflePartitions(env),
      // local-mode scan sizing: the testdata tables arrive as one
      // parquet file each (sf1.0 lineitem ≈ 80 MB), and the 128 MB default
      // would plan such a scan as a single task — one core doing all the IO
      // and partial aggregation while the rest idle. 16 MB keeps ≥ #cores
      // splits once a table is big enough to matter; a real cluster reading
      // many-file tables keeps the default.
      "spark.sql.files.maxPartitionBytes" -> "16m",
      "spark.sql.session.timeZone" -> "UTC",
      Tables.eventsConf,
      "spark.ui.enabled" -> "false") ++
    // local-cluster executors are separate processes: they need this JVM's
    // classpath (sbt target dirs + the Spark jars)
    (if (master.startsWith("local-cluster"))
       Seq("spark.executor.extraClassPath" -> sys.props("java.class.path"))
     else Nil) ++ extra

  /** Gets or creates the session [[conf]] describes, logging at WARN. */
  def session(master: String = s"local[$cpus]",
              extra: Seq[(String, String)] = Nil): SparkSession = {
    val spark = conf(master, extra)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every cached frame and the operator-internal registry, so the
    * next query starts cache-cold and the driver heap does not accumulate
    * rep-scoped Dataset/plan objects.
    */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    pipeline.InternalCaches.release()
  }

  /** Runs `df` to completion through the `noop` sink. A plain `count()`
    * would let Catalyst prune every column and skip the computation of
    * scan-shaped queries.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Order-independent result hash: the DECIMAL(38,0) sum of per-row
    * xxhash64 over the row's JSON (ANSI-safe — a BIGINT sum of hashes
    * would overflow-throw), plus the row count. Distributed; only the
    * scalar reaches the driver.
    */
  def resultHash(df: DataFrame): String =
    df.select(sum(xxhash64(to_json(struct(df.columns.map(col).toIndexedSeq: _*)))
        .cast("decimal(38,0)")).as("h"),
        count(lit(1)).as("n"))
      .collect().headOption.map(r => s"${r.get(0)}/${r.getLong(1)}").getOrElse("empty")
}
