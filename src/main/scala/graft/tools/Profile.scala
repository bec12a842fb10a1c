package graft.tools

import graft.{Harness, SparkEntry}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.bridge
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One profiling pass over contract queries (tool, not contract surface).
  * Per query it prints:
  *  - `[audit]` the plan shape: exchange count, join strategies, generator
  *    and scan counts, and whether any scan carries PushedFilters — shows
  *    every operator was examined without 242 explain files;
  *  - `[tables]` the testdata tables the analyzed plan scans, to pick
  *    measurement subsets objectively (a skew rehearsal that mutates only
  *    events.user_id affects exactly the queries that read events);
  *  - with `reps > 0`, `[probe]` the time of each of `reps` timed noop
  *    writes after one untimed warm-up, the Spark jobs and tasks of the
  *    last rep (`jobs=`, `tasks=`), the number of classes Janino compiled
  *    in it (`janino=`; a warm query that regenerates its code shows a
  *    nonzero count), and one `[stage …]` line per stage
  *    of the last rep: tasks, wall, executor time, shuffle read/write —
  *    "one giant task" vs "many small tasks", shuffle- vs CPU-bound;
  *  - `[rows]` the output row count (one untimed `count()`), which
  *    separates output-bound growth from plan waste in scale rehearsals;
  *  - with `--plans <dir> <tag>`, writes `<dir>/<query>_<tag>.txt`, the
  *    formatted explain.
  *
  * Building a query's frame EXECUTES its eager internal stages
  * (localCheckpoint rounds, InternalCaches checkpoints), so the plan shown is
  * the final composed plan over those materialized leaves — the shape the
  * noop sink times. Run `all` at a small SF.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <q1,q2,…|all> [reps]
  *          [--plans <dir> <tag>]
  * `reps` defaults to 0, the plan-only audit.
  */
object Profile {
  /** Queries that materialize before returning — the csv/jsonl roundtrips
    * and lara_store_layout (a collected LocalRelation after
    * `localizeAndClean`), the queries whose every scan feeds an
    * `InternalCaches.checkpoint` and every streaming *_replay (a memory-sink
    * table) — show no LogicalRelation in their analyzed plan, so their
    * sources are listed here (kept in sync with the query bodies).
    */
  private val staticTables: Map[String, Seq[String]] = Map(
    "csv_roundtrip" -> Seq("orders"),
    "jsonl_roundtrip" -> Seq("orders"),
    "lara_store_layout" -> Seq("lineitem"),
    "lara_covariance" -> Seq("events"),
    "dedup_minhash" -> Seq("documents"),
    "dedup_simhash" -> Seq("documents"),
    "streaming_ohlc_replay" -> Seq("events"),
    "streaming_sessions_replay" -> Seq("events"),
    "streaming_bin_replay" -> Seq("events"),
    "streaming_dedup_replay" -> Seq("events"),
    "streaming_join_replay" -> Seq("events"),
    "streaming_counts_replay" -> Seq("events"),
    "streaming_enrich_replay" -> Seq("customer", "events"))

  /** What one query's pass measured; `plan` is its formatted explain, and
    * `jobs`, `tasks` and `compiled` the Spark jobs, the tasks and the
    * classes Janino compiled in the last rep.
    */
  final case class Report(query: String, plan: String, tables: Seq[String],
                          times: Seq[Double], jobs: Int, tasks: Int, compiled: Long,
                          stages: Seq[String], rows: Long) {
    /** Exchanges, sort-merge / broadcast-hash / shuffled-hash joins,
      * generators and parquet scans in [[plan]].
      */
    def counts: Seq[Int] =
      Seq("\\bExchange\\b", "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "\\bGenerate\\b", "Scan parquet").map(_.r.findAllIn(plan).length)

    def pushed: Boolean = plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []")

    def lines: Seq[String] =
      Seq(f"[audit] $query%-34s " + counts.map(c => f"$c%4d").mkString(" ") +
          " " + (if (pushed) "yes" else "-"),
        s"[tables] $query\t${tables.mkString(",")}") ++
      times.zipWithIndex.map { case (t, i) =>
        f"[probe] $query rep${i + 1} $t%.2f s" +
          (if (i == times.size - 1) s" jobs=$jobs tasks=$tasks janino=$compiled" else "")
      } ++
      stages ++
      (if (times.isEmpty) Nil
       else Seq(f"[probe] $query BEST ${times.min}%.2f s over ${times.size} reps")) :+
      s"[rows] $query $rows"
  }

  /** Profiles one query on `spark`, which it leaves running. */
  def profile(spark: SparkSession, sfDir: String, query: String, reps: Int,
              plans: Option[(Path, String)] = None): Report = {
    val fn = SparkEntry.queries(query)
    Harness.release(spark)
    val df = fn(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    plans.foreach { case (dir, tag) =>
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"${query}_$tag.txt"), plan)
    }
    val tables = staticTables.getOrElse(query, scannedTables(df)).sorted
    val rows = df.count()
    val log = new StageLog
    val (times, compiled) =
      if (reps <= 0) (Nil, 0L)
      else {
        Harness.noop(df) // warm-up (JIT + codegen), untimed
        def compilations = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        try {
          val runs = (1 to reps).map { r =>
            Harness.release(spark)
            System.gc()
            if (r == reps) { // log the last rep only
              bridge.drainListeners(spark)
              spark.sparkContext.addSparkListener(log)
            }
            val (c0, t0) = (compilations, System.nanoTime())
            Harness.noop(fn(spark, sfDir))
            ((System.nanoTime() - t0) / 1e9, compilations - c0)
          }
          bridge.drainListeners(spark)
          (runs.map(_._1), runs.last._2)
        } finally spark.sparkContext.removeSparkListener(log)
      }
    Report(query, plan, tables, times, log.jobs.get, log.tasks.get, compiled, log.lines, rows)
  }

  private def scannedTables(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(f: HadoopFsRelation, _, _, _, _) =>
        f.location.rootPaths.map(_.getName.replace(".parquet", "")).toSeq
    }.flatten.distinct

  /** One line per completed stage: tasks, wall, executor time, shuffle
    * read/write bytes and the stage name; and the jobs started and the
    * tasks ended.
    */
  private final class StageLog extends SparkListener {
    private val queue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs, tasks = new java.util.concurrent.atomic.AtomicInteger()
    def lines: Seq[String] = queue.asScala.toSeq.sorted
    override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val ms = si.taskMetrics
      val wall = (for { s <- si.submissionTime; c <- si.completionTime }
        yield c - s).getOrElse(-1L)
      queue.add(f"[stage ${si.stageId}%4d] tasks=${si.numTasks}%4d " +
        f"wall=${wall / 1000.0}%7.2fs exec=${ms.executorRunTime / 1000.0}%8.2fs " +
        f"shufR=${ms.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
        f"shufW=${ms.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB  " +
        si.name.take(90))
    }
  }

  def main(args: Array[String]): Unit = {
    val (pos, plans) = args.indexOf("--plans") match {
      case -1 => (args.toSeq, None)
      case i => (args.take(i).toSeq, Some(Paths.get(args(i + 1)) -> args(i + 2)))
    }
    require(pos.size >= 2,
      "usage: Profile <sfDir> <q1,q2,...|all> [reps] [--plans <dir> <tag>]")
    val sfDir = pos(0)
    val names =
      if (pos(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else pos(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = pos.lift(2).fold(0)(_.toInt)
    val spark = Harness.session()
    println(f"[audit] ${"query"}%-34s exch  smj  bhj  shj  gen scan pushed")
    for (q <- names) {
      try profile(spark, sfDir, q, reps, plans).lines.foreach(println)
      catch { case NonFatal(e) =>
        println(f"[audit] $q%-34s ERROR ${String.valueOf(e.getMessage).take(60)}") }
    }
    spark.stop()
  }
}
