package graft.tools

import graft.Harness
import graft.Harness.resultHash
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Task-failure / retry rehearsal (tool, not contract surface): at 100 TB a
  * job runs ~10^5 tasks — task retries and speculative duplicates are
  * ROUTINE, and a retry-unstable operator ships wrong answers silently.
  * Reference analog: the standalone example's re-seek/re-run determinism
  * contract (`test/.../examples/sensor/Sensor_Lara_Standalone_Example
  * .kt:38-52`) — an iterator must produce the same stream after a re-seek;
  * here a task must produce the same partition after a re-launch.
  *
  * Three modes:
  *
  *  - `kill`: a SparkListener kills the first task attempt of EVERY stage
  *    (`SparkContext.killTaskAttempt`, interrupt=true). TaskKilled does not
  *    count toward `spark.task.maxFailures` and always reschedules, so the
  *    injection reaches every stage of every query — scans, shuffle maps,
  *    codec `mapPartitions`, streaming micro-batches — without aborting
  *    jobs. Each query runs clean then faulted in one JVM; the
  *    order-independent result hashes must match. Clean hashes are written
  *    to a file for the `spec` mode to compare against.
  *
  *  - `spec`: speculation pass. `TaskSchedulerImpl` hard-disables
  *    speculation in local mode (`!isLocal` guard), so this mode runs on
  *    `local-cluster[2, cpus/2, mem]` — two real executor processes, which
  *    also exercises cross-executor shuffle fetch. Speculation is forced
  *    (multiplier 1.0, low quantile, 5 ms checks) so duplicate attempts
  *    race on most stages; hashes must equal the kill mode's clean hashes
  *    (every query is deterministic — all are DuckDB-oracle-checked).
  *
  *  - `store`: sink exactly-once under failure — streams the events table
  *    through `foreachBatch` → `appendStoreBatch` (the at-least-once
  *    idempotent sink) WITH kill injection on, compacts the store (also
  *    under injection), and asserts the store equals the direct batch
  *    write: same row multiset, no duplicate/partial batch.
  *
  *  - `execloss`: whole-executor loss — the failure class task kills
  *    cannot reach: losing an executor destroys its finished shuffle map
  *    outputs, so downstream reducers hit FetchFailed and the scheduler
  *    must RESUBMIT the parent stage (re-running already-"successful"
  *    tasks) — routine at 100 TB on spot/preempted nodes. Runs on the
  *    same 2-executor local-cluster as `spec`; ~2 s into each query one
  *    executor process is killed (SIGKILL to the child JVM — the
  *    standalone worker relaunches a replacement), and the result hash
  *    must equal the clean-hash file.
  *
  * Usage: java -cp … graft.tools.FaultProbe <sfDir>
  *        <kill|spec|execloss|store> [q1,…]
  * Output: one JSON line per query + a summary line.
  */
object FaultProbe {
  val defaultQueries: Seq[String] = Seq(
    // graph heavy tail (wedge machinery, iterative frontiers)
    "ktruss", "sssp", "label_propagation", "community_stats", "triple_itemsets",
    // dedup / ANN (banded joins, InternalCaches users)
    "dedup_jaccard", "dedup_minhash", "dedup_clusters", "ann_ivf", "ivf_pq",
    // codec mapPartitions paths (retry re-runs the decode closure)
    "media_features", "media_decode", "media_video",
    // streaming replays (kills land inside micro-batches; state must
    // survive task retry)
    "streaming_bin_replay", "streaming_sessions_replay",
    "streaming_dedup_replay", "streaming_join_replay",
    // capstone + Lara DSL (a shared subtree computed once under retry)
    "corpus_prepare", "lara_covariance")

  /** Kills the first task attempt of every stage while enabled. Tracks
    * attempted kills and confirmed TaskKilled ends (the kill is
    * best-effort: a fast task may finish before the async kill lands).
    */
  final class KillInjector(sc: org.apache.spark.SparkContext) extends SparkListener {
    @volatile var enabled = false
    private val seenStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val attempted = new AtomicInteger(0)
    val confirmed = new AtomicInteger(0)
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      if (!enabled) return
      val ti = e.taskInfo
      if (ti.attemptNumber == 0 && seenStages.add(e.stageId)) {
        attempted.incrementAndGet()
        try sc.killTaskAttempt(ti.taskId, interruptThread = true,
          reason = "faultprobe injected kill")
        catch { case NonFatal(_) => () }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = e.reason match {
      case _: org.apache.spark.TaskKilled => confirmed.incrementAndGet()
      case _ => ()
    }
    /** Count speculative attempts (spec mode). */
    val speculative = new AtomicInteger(0)
    override def onSpeculativeTaskSubmitted(e: SparkListenerSpeculativeTaskSubmitted): Unit =
      speculative.incrementAndGet()
  }

  private def hashFile: java.nio.file.Path = java.nio.file.Paths.get(
    sys.env.getOrElse("SPARK_GRAFT_FAULT_HASHES", "/tmp/faultprobe_clean_hashes.json"))

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val mode = args(1)
    val names = if (args.length > 2) args.drop(2).flatMap(_.split(",")).map(_.trim).toSeq
                else defaultQueries
    val cpus = Harness.cpus
    val master = mode match {
      // maxFailures=4 gives injected EXCEPTIONS retry room too; TaskKilled
      // alone would not need it
      case "kill" | "store" => s"local[$cpus, 4]"
      case "spec" | "execloss" => s"local-cluster[2, ${math.max(2, cpus / 2)}, 6144]"
      case other => sys.error(s"unknown mode $other")
    }
    val speculation =
      if (mode == "spec") Seq("spark.speculation" -> "true",
        "spark.speculation.multiplier" -> "1.0",
        "spark.speculation.quantile" -> "0.05",
        "spark.speculation.interval" -> "5ms")
      else Nil
    val spark = Harness.session(master, speculation)
    val injector = new KillInjector(spark.sparkContext)
    spark.sparkContext.addSparkListener(injector)

    def runClean(fn: (SparkSession, String) => DataFrame): (Double, String) = {
      Harness.release(spark)
      val t0 = System.nanoTime()
      val h = resultHash(fn(spark, sfDir))
      ((System.nanoTime() - t0) / 1e9, h)
    }

    mode match {
      case "kill" =>
        val clean = scala.collection.mutable.LinkedHashMap[String, String]()
        var allMatch = true
        for (name <- names) {
          val fn = graft.SparkEntry.queries(name)
          try Harness.noop(fn(spark, sfDir))
          catch { case NonFatal(_) => () } // warm-up
          val (cleanSec, cleanHash) = runClean(fn)
          clean(name) = cleanHash
          Harness.release(spark)
          val (a0, c0) = (injector.attempted.get, injector.confirmed.get)
          injector.enabled = true
          val t0 = System.nanoTime()
          val faultHash =
            try resultHash(fn(spark, sfDir))
            catch { case NonFatal(e) =>
              s"ERR:${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}" }
          val faultSec = (System.nanoTime() - t0) / 1e9
          injector.enabled = false
          val ok = faultHash == cleanHash
          allMatch &&= ok
          println(f"""{"query":"$name","clean_sec":$cleanSec%.2f,"fault_sec":$faultSec%.2f,""" +
            s""""kills_attempted":${injector.attempted.get - a0},""" +
            s""""kills_confirmed":${injector.confirmed.get - c0},"hash_match":$ok""" +
            (if (ok) "}" else s""","clean":"$cleanHash","faulted":"$faultHash"}"""))
        }
        val json = clean.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
        java.nio.file.Files.write(hashFile, (json + "\n").getBytes("UTF-8"))
        println(s"""{"mode":"kill","n":${names.size},"all_hashes_match":$allMatch,""" +
          s""""kills_attempted":${injector.attempted.get},"kills_confirmed":${injector.confirmed.get},""" +
          s""""clean_hashes":"$hashFile"}""")
        spark.stop()
        if (!allMatch) sys.exit(1)

      case "spec" =>
        val cleanHashes: Map[String, String] =
          if (java.nio.file.Files.exists(hashFile)) {
            val text = new String(java.nio.file.Files.readAllBytes(hashFile), "UTF-8")
            "\"([^\"]+)\":\"([^\"]+)\"".r.findAllMatchIn(text)
              .map(m => m.group(1) -> m.group(2)).toMap
          } else Map.empty
        var allMatch = true
        for (name <- names) {
          val fn = graft.SparkEntry.queries(name)
          val s0 = injector.speculative.get
          val t0 = System.nanoTime()
          val h =
            try { Harness.release(spark)
                  resultHash(fn(spark, sfDir)) }
            catch { case NonFatal(e) =>
              s"ERR:${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}" }
          val sec = (System.nanoTime() - t0) / 1e9
          val ok = cleanHashes.get(name).forall(_ == h) && !h.startsWith("ERR:")
          allMatch &&= ok
          println(f"""{"query":"$name","spec_sec":$sec%.2f,""" +
            s""""speculative_submitted":${injector.speculative.get - s0},"hash_match":$ok""" +
            (if (ok) "}" else s""","clean":"${cleanHashes.getOrElse(name, "?")}","spec":"$h"}"""))
        }
        println(s"""{"mode":"spec","n":${names.size},"all_hashes_match":$allMatch,""" +
          s""""speculative_total":${injector.speculative.get}}""")
        spark.stop()
        if (!allMatch) sys.exit(1)

      case "execloss" =>
        val cleanHashes: Map[String, String] =
          if (java.nio.file.Files.exists(hashFile)) {
            val text = new String(java.nio.file.Files.readAllBytes(hashFile), "UTF-8")
            "\"([^\"]+)\":\"([^\"]+)\"".r.findAllMatchIn(text)
              .map(m => m.group(1) -> m.group(2)).toMap
          } else Map.empty
        def executorsUp: Int =
          spark.sparkContext.statusTracker.getExecutorInfos.length - 1 // minus driver
        def awaitExecutors(n: Int, timeoutMs: Long = 90000): Boolean = {
          val deadline = System.currentTimeMillis() + timeoutMs
          while (executorsUp < n && System.currentTimeMillis() < deadline) Thread.sleep(500)
          executorsUp >= n
        }
        require(awaitExecutors(2), "local-cluster executors did not come up")
        var allMatch = true
        for (name <- names) {
          val fn = graft.SparkEntry.queries(name)
          // SIGKILL one executor JVM ~2 s into the query — node loss: its
          // completed shuffle map outputs vanish, reducers hit
          // FetchFailed, the scheduler resubmits the parent stage; the
          // standalone worker relaunches a replacement executor
          val killedPid = new java.util.concurrent.atomic.AtomicLong(-1L)
          val killer = new Thread(() => {
            try {
              Thread.sleep(2000)
              val out = new String(new ProcessBuilder("pgrep", "-f",
                "CoarseGrainedExecutorBackend").start().getInputStream.readAllBytes, "UTF-8")
              val pids = out.trim.split("\\s+").filter(_.nonEmpty).map(_.toLong).sorted
              pids.lastOption.foreach { p =>
                new ProcessBuilder("kill", "-9", p.toString).start().waitFor()
                killedPid.set(p)
              }
            } catch { case NonFatal(_) => () }
          })
          killer.setDaemon(true)
          killer.start()
          val t0 = System.nanoTime()
          val h =
            try { Harness.release(spark)
                  resultHash(fn(spark, sfDir)) }
            catch { case NonFatal(e) =>
              s"ERR:${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}" }
          val sec = (System.nanoTime() - t0) / 1e9
          killer.join(5000)
          val replaced = awaitExecutors(2)
          val ok = cleanHashes.get(name).forall(_ == h) && !h.startsWith("ERR:")
          allMatch &&= ok
          println(f"""{"query":"$name","execloss_sec":$sec%.2f,""" +
            s""""killed_pid":${killedPid.get},"replacement_up":$replaced,"hash_match":$ok""" +
            (if (ok) "}" else s""","clean":"${cleanHashes.getOrElse(name, "?")}","got":"$h"}"""))
        }
        println(s"""{"mode":"execloss","n":${names.size},"all_hashes_match":$allMatch}""")
        spark.stop()
        if (!allMatch) sys.exit(1)

      case "store" =>
        import graft.lara.{LaraSchema, LaraTable, ValSpec}
        import org.apache.spark.sql.types._
        // ground truth: the events table keyed (event_id), value cents
        val schema = LaraSchema(Seq("k"),
          Seq(ValSpec("v", LongType, 0L), ValSpec("t", StringType, null)))
        def normalized(s: SparkSession) = graft.Tables.events(s, sfDir)
          .select(col("event_id").as("k"),
            round(col("value") * 100).cast("long").as("v"),
            col("event_type").as("t"))
        val expectHash = resultHash(normalized(spark))
        val expectN = normalized(spark).count()

        injector.enabled = true
        val tmp = java.nio.file.Files.createTempDirectory("graft_faultstore").toString
        val storeDir = s"$tmp/store"
        // stream the table through foreachBatch → appendStoreBatch with
        // kill injection live: every micro-batch write sees task retries
        val srcDir = s"$tmp/in"
        normalized(spark).repartition(8).write.parquet(srcDir)
        val in = spark.readStream.schema(normalized(spark).schema)
          .option("maxFilesPerTrigger", "2").parquet(srcDir)
        val q = graft.streaming.EventStreams.streamStore(in, schema, storeDir)
          .option("checkpointLocation", s"$tmp/ckpt").start()
        q.processAllAvailable(); q.stop()
        // compact under injection too (swap + reconcile with retries live)
        val (nb, na) = LaraTable.compactStore(spark, storeDir, Seq("k"), schema.vals)
        injector.enabled = false

        val got = LaraTable.load(spark, storeDir, Seq("k"), schema.vals).df
        val gotHash = resultHash(got)
        val gotN = got.count()
        val ok = gotHash == expectHash && gotN == expectN
        println(s"""{"mode":"store","rows_expected":$expectN,"rows_got":$gotN,""" +
          s""""files_before":$nb,"files_after":$na,""" +
          s""""kills_attempted":${injector.attempted.get},"kills_confirmed":${injector.confirmed.get},""" +
          s""""hash_match":$ok${if (ok) "" else s""","expect":"$expectHash","got":"$gotHash""""}}""")
        spark.stop()
        if (!ok) sys.exit(1)
    }
  }
}
