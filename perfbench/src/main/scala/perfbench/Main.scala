package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run of one workload in one JVM: a single client runs the
  * workload's contract queries one at a time, in a fixed order, through
  * the `noop` sink (a closed loop). The first pass writes every query's
  * output for the oracle check instead. Raw timings and counters go to
  * `<out>/result.json`; `run.py` turns them into metrics.
  *
  * Usage: perfbench.Main <data dir> <out dir> <seconds> <trace 0|1> <query,...>
  */
object Main {
  private val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  /** Passes before the timed ones; the first, cold one also writes every
    * query's output for the oracle check that follows the run. On 4 cores
    * passes fall fast for the first five (14 s, then about 4 s, then 3.5 s)
    * and then by a few percent more over the next minute, while the JIT is
    * still compiling. A warm-up until they stop falling would not fit the
    * run budget.
    */
  private val WarmupPasses = 5
  /** Least passes an untraced run times whatever the seconds: three for a
    * median.
    */
  private val MinTimedPasses = 3
  /** A traced run alternates untraced (U) and traced (T) passes in blocks
    * of U T T U, at least one block, so that the passes still getting
    * faster slow both sides alike and `trace_overhead` compares like with
    * like.
    */
  private val TracedBlock = Seq(false, true, true, false)

  def main(args: Array[String]): Unit = {
    val Array(data, out, secondsArg, traceArg, queryList) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val queries = queryList.split(",").toSeq
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.Tables.eventsConf._1, graft.Tables.eventsConf._2)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    val sessionS = (System.nanoTime() - t0) / 1e9
    // input registration: file listing and footer reads of every table
    val t1 = System.nanoTime()
    Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
    val registerS = (System.nanoTime() - t1) / 1e9

    val bench = new Bench(spark, data, queries)
    val first = bench.pass(0, None, Some(s"$out/results"))
    val warmup = first.wall +: (1 until WarmupPasses).map(bench.pass(_, None).wall)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log(f"setup ${setupS}%.2f s (session $sessionS%.2f, warm-up ${warmup.map(w => f"$w%.2f").mkString(" ")})")

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val untraced, tracedPasses = mutable.ArrayBuffer[PassResult]()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var n = 0
    tracer match {
      case None =>
        while (n < MinTimedPasses || elapsed < seconds) { untraced += bench.pass(1000 + n, None); n += 1 }
      case Some(t) =>
        while (n < TracedBlock.size || n % TracedBlock.size != 0 || elapsed < seconds) {
          if (TracedBlock(n % TracedBlock.size)) {
            t.install()
            try tracedPasses += bench.pass(1000 + n, tracer) finally t.remove()
          } else untraced += bench.pass(1000 + n, None)
          n += 1
        }
    }
    log(f"timed passes ${untraced.map(p => f"${p.wall}%.2f").mkString(" ")}" +
      (if (traced) f", traced ${tracedPasses.map(p => f"${p.wall}%.2f").mkString(" ")}" else ""))

    val result = mutable.LinkedHashMap[String, Any](
      "cores" -> cores,
      "queries" -> queries,
      "session_s" -> sessionS,
      "register_s" -> registerS,
      "warmup_s" -> warmup,
      "setup_s" -> setupS,
      "peak_heap_mb" -> first.heapMb,
      "untraced" -> passRecords(untraced.toSeq))

    tracer.foreach { t =>
      result("traced") = passRecords(tracedPasses.toSeq)
      result("traced_counters") = tracedPasses.map(p => t.passMetrics(p.index, cores))
      result("kernels") = Kernels.probe(spark, data)
      writeJson(s"$out/spans.json", Map("spans" -> t.spanRecords, "jobs" -> t.jobRecords))
    }

    writeJson(s"$out/oracle_sql.json", queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    result("executions") = queries.map(q =>
      q -> Map("attempted" -> bench.attempted(q), "failed" -> bench.failed(q))).toMap
    result("errors") = bench.errors.toMap
    writeJson(s"$out/result.json", result)
    spark.stop()
  }

  private def passRecords(ps: Seq[PassResult]): Map[String, Any] = Map(
    "wall_s" -> ps.map(_.wall),
    "per_query_s" -> ps.head.perQuery.keys.map(q => q -> ps.map(_.perQuery(q))).toMap,
    "cache_mb" -> ps.map(_.cacheMb))

  private[perfbench] def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def writeJson(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(v))
}

/** One pass: `wall` is the sum of its query latencies (plan building plus
  * the sink action); `cacheMb` sums the storage memory each query still
  * holds when it ends (traced passes only); `heapMb` is the highest heap
  * occupancy after the full GC that follows each query (output pass only).
  */
final case class PassResult(index: Int, wall: Double, perQuery: Map[String, Double],
                            cacheMb: Double, heapMb: Double)

final class Bench(spark: SparkSession, data: String, queries: Seq[String]) {
  val attempted, failed = mutable.Map[String, Long]().withDefaultValue(0L)
  val errors = mutable.LinkedHashMap[String, String]()
  private val memory = ManagementFactory.getMemoryMXBean
  private val mb = 1024.0 * 1024.0

  /** Drops what the previous query cached, as the contract runners do. */
  private def release(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.pipeline.InternalCaches.release()
  }

  /** Runs `q` once through `sink`; its latency, or None when it threw. */
  private def run(q: String, pass: Int, tracer: Option[Tracer])(sink: DataFrame => Unit): Option[Double] = {
    release()
    attempted(q) += 1
    val t0 = System.nanoTime()
    def body(parent: Long): Unit = {
      val df = tracer.fold(build(q))(_.span("build", parent, q, pass)(_ => build(q)))
      tracer.fold(sink(df))(_.span("execute", parent, q, pass)(_ => sink(df)))
    }
    try {
      tracer.fold(body(0L))(_.span("query", 0L, q, pass)(body))
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case NonFatal(e) =>
        failed(q) += 1
        errors.getOrElseUpdate(q, s"${e.getClass.getName}: ${e.getMessage}")
        Main.log(s"$q failed: $e")
        None
    }
  }

  /** Heap occupancy after full GCs, once Spark's cleaner has dropped the
    * blocks (broadcasts, cached partitions) of what the previous GC found
    * unreachable: GCs 200 ms apart until one frees less than 1 MB, at most
    * five. The cleaner works asynchronously, and a fixed two GCs read
    * 100 or 115 MB on the same workload from run to run.
    */
  private def settledHeapMb(): Double = {
    def gc(): Double = { System.gc(); memory.getHeapMemoryUsage.getUsed / mb }
    var (prev, used, n) = (Double.MaxValue, gc(), 1)
    while (prev - used >= 1.0 && n < 5) {
      Thread.sleep(200)
      prev = used
      used = gc()
      n += 1
    }
    used
  }

  private def build(q: String): DataFrame = graft.SparkEntry.queries(q)(spark, data)

  /** Runs every query once through the `noop` sink, or with `outputs`,
    * writes each result to `<outputs>/<query>` and then runs a full GC, so
    * the heap holds only what the program keeps: the session and that
    * query's caches, the memory a user must provision (driver and
    * executors share one heap in local mode).
    */
  def pass(index: Int, tracer: Option[Tracer], outputs: Option[String] = None): PassResult = {
    var cache, heap = 0.0
    val lat = queries.map { q =>
      val t = run(q, index, tracer) { df =>
        outputs.fold(df.write.format("noop").mode("overwrite").save())(
          dir => df.write.mode("overwrite").parquet(s"$dir/$q"))
      }
      if (tracer.isDefined) cache += spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum / mb
      if (outputs.isDefined) heap = math.max(heap, settledHeapMb())
      q -> t.getOrElse(Double.NaN)
    }
    PassResult(index, lat.map(_._2).sum, lat.toMap, cache, heap)
  }
}
