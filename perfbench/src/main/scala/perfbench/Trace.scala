package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's own calls into the program.
  * `query` spans are the parents of `build` (plan building, including the
  * jobs eager operators run) and `execute` (the sink action).
  */
final case class Span(id: Long, name: String, parent: Long, query: String, pass: Int,
                      startNs: Long, startMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = Long.MaxValue
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Listener counters of one span. */
final class Counters {
  var jobs, stages, tasks, taskFailed = 0L
  var taskMs, cpuNs, gcMs = 0L
  var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes, spillBytes = 0L
  var peakExecMem = 0L
  var inputRecords, outputBytes, outputRecords = 0L
  var planMs, loopRounds = 0L
  var streamBatches, streamCommitMs, streamWalMs, streamPlanMs = 0L
}

/** The traced run's spans and listeners. Spans are kept in memory and
  * written out when the run ends. Jobs are attributed to the span whose id
  * the calling thread carries in the `perfbench.span` local property
  * (inherited by the threads a streaming query starts); their stages and
  * tasks follow the job. Events without a job (query-execution and
  * streaming-progress callbacks) are attributed by time to the innermost
  * span open at that moment — one query runs at a time.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.Map[Long, Counters]()
  private val stageSpan = mutable.Map[Int, Long]()
  private val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
  // every job the traced passes ran, for finding the ones that come and go
  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  // streaming run id -> (span, rows held in state after its latest batch)
  private val stateRows = mutable.Map[java.util.UUID, (Long, Long)]()

  def span[T](name: String, parent: Long, query: String, pass: Int)(body: Long => T): T = {
    val s = synchronized {
      val s = Span(spans.size + 1L, name, parent, query, pass, System.nanoTime(),
        System.currentTimeMillis())
      spans += s
      s
    }
    val outer = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body(s.id)
    finally {
      sc.setLocalProperty(SpanKey, outer)
      synchronized { s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis() }
    }
  }

  private def at(id: Long): Counters = counters.getOrElseUpdate(id, new Counters)

  /** Innermost span open at epoch-millisecond `ms`, or 0 for none. */
  private def spanAt(ms: Long): Long = {
    var i = spans.size - 1
    while (i >= 0 && !(spans(i).startMs <= ms && ms <= spans(i).endMs)) i -= 1
    if (i < 0) 0L else spans(i).id
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      def property(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val prop = property(SpanKey)
      val id = prop.map(_.toLong).getOrElse(spanAt(e.time))
      e.stageIds.foreach(stageSpan(_) = id)
      at(id).jobs += 1
      jobs(e.jobId) = mutable.Map("job" -> e.jobId, "span" -> id,
        "span_by" -> (if (prop.isDefined) "property" else "time"), "stages" -> e.stageIds.size,
        "sql_execution" -> property("spark.sql.execution.id").orNull)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_("result") = e.jobResult.toString)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      at(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val info = e.taskInfo
      val c = at(stageSpan.getOrElse(e.stageId, spanAt(info.launchTime)))
      c.tasks += 1
      if (info.failed || info.killed) c.taskFailed += 1
      c.taskMs += info.finishTime - info.launchTime
      taskIntervals += ((info.launchTime, info.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution): Unit = Tracer.this.synchronized {
      val phases = qe.tracker.phases
      val planned = Seq("optimization", "planning").flatMap(phases.get)
      val when = planned.lastOption.map(_.endTimeMs).getOrElse(System.currentTimeMillis())
      val c = at(spanAt(when))
      c.planMs += planned.map(_.durationMs).sum
      if (funcName == LoopRoundExecution) c.loopRounds += 1
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val id = spanAt(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val c = at(id)
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        c.streamBatches += 1
        c.streamWalMs += ms("walCommit")
        c.streamPlanMs += ms("queryPlanning")
        c.streamCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        stateRows(p.runId) = (id, p.stateOperators.map(_.numRowsTotal).sum)
      }
  }

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def remove(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Per-layer counters of one pass, summed over its spans. Call after
    * [[remove]], which waits until every event has been delivered.
    */
  def passMetrics(pass: Int, cores: Int): Map[String, Double] = synchronized {
    val mine = spans.filter(_.pass == pass)
    val queries = mine.filter(_.name == "query")
    val wall = queries.map(_.seconds).sum
    def sum(names: Set[String])(f: Counters => Long): Long =
      mine.filter(s => names(s.name)).flatMap(s => counters.get(s.id)).map(f).sum
    val all = sum(Set("query", "build", "execute")) _
    val built = sum(Set("build")) _
    val stateRowsHeld = stateRows.values.collect {
      case (id, rows) if mine.exists(_.id == id) => rows
    }.sum
    val rounds = all(_.loopRounds)
    val buildJobs = built(_.jobs)
    // jobs per round of the queries that ran a fixpoint loop
    val loopJobs = queries.map { q =>
      val inQuery = mine.filter(s => s.id == q.id || s.parent == q.id).flatMap(s => counters.get(s.id))
      if (inQuery.exists(_.loopRounds > 0)) mine.filter(s => s.parent == q.id && s.name == "build")
        .flatMap(s => counters.get(s.id)).map(_.jobs).sum
      else 0L
    }.sum
    val mb = 1024.0 * 1024.0
    Map(
      "build_s" -> mine.filter(_.name == "build").map(_.seconds).sum,
      "execute_s" -> mine.filter(_.name == "execute").map(_.seconds).sum,
      "build.jobs" -> buildJobs.toDouble,
      "loop.rounds" -> rounds.toDouble,
      "jobs_per_round" -> (if (rounds == 0) 0.0 else loopJobs.toDouble / rounds),
      "driver_only_s" -> queries.map(idleSeconds).sum,
      "plan_s" -> all(_.planMs) / 1e3,
      "slot_util" -> (if (wall <= 0) 0.0 else all(_.taskMs) / 1e3 / (wall * cores)),
      "jobs" -> all(_.jobs).toDouble,
      "stages" -> all(_.stages).toDouble,
      "tasks" -> all(_.tasks).toDouble,
      "task_failed" -> all(_.taskFailed).toDouble,
      "shuffle_write_mb" -> all(_.shuffleWriteBytes) / mb,
      "shuffle_write_records" -> all(_.shuffleWriteRecords).toDouble,
      "shuffle_read_mb" -> all(_.shuffleReadBytes) / mb,
      "spill_mb" -> all(_.spillBytes) / mb,
      "peak_exec_mem_mb" -> mine.flatMap(s => counters.get(s.id)).map(_.peakExecMem)
        .maxOption.getOrElse(0L) / mb,
      "task_cpu_s" -> all(_.cpuNs) / 1e9,
      "task_gc_s" -> all(_.gcMs) / 1e3,
      "scan_rows" -> all(_.inputRecords).toDouble,
      "write_mb" -> all(_.outputBytes) / mb,
      "write_rows" -> all(_.outputRecords).toDouble,
      "stream.batches" -> all(_.streamBatches).toDouble,
      "stream.commit_ms" -> all(_.streamCommitMs).toDouble,
      "stream.wal_ms" -> all(_.streamWalMs).toDouble,
      "stream.plan_ms" -> all(_.streamPlanMs).toDouble,
      "stream.state_rows" -> stateRowsHeld.toDouble)
  }

  /** Seconds of `s` during which no task was running. */
  private def idleSeconds(s: Span): Double = {
    val (lo, hi) = (s.startMs, s.endMs)
    var busy = 0L
    var cursor = lo
    for ((a, b) <- taskIntervals.sortBy(_._1) if b > lo && a < hi) {
      val from = math.max(a, cursor)
      val to = math.min(b, hi)
      if (to > from) { busy += to - from; cursor = to }
    }
    math.max(0L, hi - lo - busy) / 1e3
  }

  /** Self time of every span: its duration minus the part its children
    * cover (children of one parent never overlap: one query at a time).
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def jobRecords: Seq[Map[String, Any]] = synchronized(jobs.values.map(_.toMap).toSeq)

  def spanRecords: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "query" -> s.query,
      "pass" -> s.pass, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_s" -> selfSeconds(s)))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** The SQL execution name of the fused checkpoint+count every eager
    * fixpoint round runs (`org.apache.spark.sql.graft.bridge`).
    */
  val LoopRoundExecution = "graftLocalCheckpointCounted"
}
