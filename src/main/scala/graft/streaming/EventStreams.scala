package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming surface over the events schema
  * (`event_id, ts, user_id, event_type, value, props`).
  *
  * The reference has no streaming layer (its "sensor time-series" is a
  * sorted batch table — SURVEY §1.4), so this extends the engine the
  * Spark-native way: the same ⊕-aggregation semantics expressed over
  * unbounded input with watermarks bounding state.
  *
  * What lives here is what the contract queries run: the nine
  * streaming-replay certificates (`streaming_*_replay`), the three
  * operators they stream (OHLC, session windows, the interval join), and
  * the stream-to-store sink. Scale notes: windowed aggregation state is
  * pruned by the watermark, session and OHLC state is removed on timeout —
  * all bounded, all shuffle once on their grouping key, exactly like the
  * batch agg.
  */
object EventStreams {

  /** Native watermarked STREAM-STREAM interval join: each purchase pairs
    * with the same user's clicks in the trailing hour, both sides
    * unbounded. Spark's state store holds each side
    * only until the watermark passes its join-window end — the engine's
    * own bounded-state machinery, no custom state code at all. Batch twin:
    * [[graft.RelationalQueries.clickPurchaseJoin]] (exact differential).
    *
    * Scale: state is bounded by rate × (watermark + interval) per side;
    * the join shuffles both streams on user_id like the batch hash join.
    */
  def streamingIntervalJoin(events: Dataset[Event],
                            watermark: String = "2 hours"): DataFrame = {
    // (user, hour bucket) is the join's equi key — same refinement as the
    // batch twin (RelationalQueries.clickPurchaseJoin, r9 skew stress): a
    // user-only key makes the state store keep ALL of a hot user's clicks
    // under one key and scan them per arriving purchase (measured 16.2×
    // under a 10%-of-events user, NOTES_r9.md §2). Bucketing bounds every
    // state key's list to one hour of one user's clicks; purchases probe
    // the two buckets the 1-hour band can reach. Watermark eviction is
    // unchanged (the event-time band still bounds state age).
    val clicks = events.filter(_.event_type == "click")
      .select(col("user_id").as("cu"), col("ts").as("c_ts"), col("event_id").as("click_id"),
        floor(unix_micros(col("ts")) / 3600000000L).as("c_hb"))
      .withWatermark("c_ts", watermark)
    val buys = events.filter(_.event_type == "purchase")
      .select(col("user_id").as("bu"), col("ts").as("b_ts"), col("event_id").as("purchase_id"),
        explode(array(floor(unix_micros(col("ts")) / 3600000000L),
          floor(unix_micros(col("ts")) / 3600000000L) - 1)).as("b_hb"))
      .withWatermark("b_ts", watermark)
    clicks.join(buys, expr(
      "cu = bu AND c_hb = b_hb AND c_ts >= b_ts - INTERVAL 1 HOUR AND c_ts <= b_ts"))
      .select(col("purchase_id"), col("click_id"),
        (unix_micros(col("b_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
  }

  /** NATIVE streaming session windows — Spark's own merging-session state
    * (sessions extend/merge in the state store, close when the watermark
    * passes the session end), the streaming half of
    * [[graft.RelationalQueries.sessionWindowOf]]: identical grouping,
    * identical µs-exact split rule, so closed sessions EQUAL the batch
    * rows (differential spec).
    */
  def streamingSessionWindow(events: DataFrame,
                             watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("total_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"), col("total_value"))

  /** Stream-to-store sink: every micro-batch lands in a Lara store as an
    * access-path-sorted parquet append — `foreachBatch` bridges the
    * streaming plan to the batch `LaraTable` sink, so a streaming ingest
    * feeds the same stores the batch operators read. Caller starts the
    * returned writer (checkpointing, trigger policy are theirs to choose).
    *
    * foreachBatch is AT-LEAST-ONCE (a crash between the sink action and
    * the commit-log write replays the batch on recovery), so the sink is
    * idempotent per batchId: replays overwrite their own `batch=<id>`
    * directory instead of appending a duplicate copy
    * ([[graft.lara.LaraTable.appendStoreBatch]]).
    */
  def streamStore(stream: DataFrame, schema: graft.lara.LaraSchema, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, id: Long) =>
        graft.lara.LaraTable(batch, schema).appendStoreBatch(path, id)
    }

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class OhlcRow(event_type: String, h: Long, o: Double, c: Double,
                           lo: Double, hi: Double, n: Long)
  /** Six scalars of state per open (type, hour): the (ts, event_id) rank
    * keys of the current open/close candidates plus the running extrema —
    * constant size regardless of event volume.
    */
  final case class OhlcState(oTs: Long, oId: Long, o: Double,
                             cTs: Long, cId: Long, c: Double,
                             lo: Double, hi: Double, n: Long)

  /** Streaming OHLC: per (event_type, hour) the opening/closing value by
    * the deterministic (ts, event_id) order plus min/max/count — the
    * streaming twin of `RelationalQueries.ohlcDownsample`, emitted when
    * the watermark closes the hour. first/last in a streaming aggregation
    * have no order guarantee, so the fold carries the rank keys of the
    * current open/close candidates and replaces them on strict (ts, id)
    * comparison — arrival order cannot matter, which is what the
    * differential spec asserts against the batch plan on real events.
    */
  def streamingOhlc(events: Dataset[Event],
                    watermark: String = "2 hours"): Dataset[OhlcRow] = {
    import events.sparkSession.implicits._
    val hourMs = 3600000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(e => (e.event_type, e.ts.getTime / hourMs))
      .flatMapGroupsWithState[OhlcState, OhlcRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (String, Long), rows: Iterator[Event], state: GroupState[OhlcState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(OhlcRow(key._1, key._2, s.o, s.c, s.lo, s.hi, s.n))
          } else {
            var s = state.getOption.orNull
            for (e <- rows) {
              val (t, id, v) = (e.ts.getTime, e.event_id, e.value)
              s =
                if (s == null) OhlcState(t, id, v, t, id, v, v, v, 1L)
                else OhlcState(
                  if (t < s.oTs || (t == s.oTs && id < s.oId)) t else s.oTs,
                  if (t < s.oTs || (t == s.oTs && id < s.oId)) id else s.oId,
                  if (t < s.oTs || (t == s.oTs && id < s.oId)) v else s.o,
                  if (t > s.cTs || (t == s.cTs && id > s.cId)) t else s.cTs,
                  if (t > s.cTs || (t == s.cTs && id > s.cId)) id else s.cId,
                  if (t > s.cTs || (t == s.cTs && id > s.cId)) v else s.c,
                  math.min(s.lo, v), math.max(s.hi, v), s.n + 1L)
            }
            state.update(s)
            val closeAt = (key._2 + 1) * hourMs
            state.setTimeoutTimestamp(
              math.max(closeAt, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Batch-replay certification of the streaming path: runs
    * [[streamingOhlc]] to completion over the events table THROUGH the
    * real streaming engine — file source → watermark →
    * flatMapGroupsWithState → memory sink — and returns the streamed rows
    * as a batch frame, so the driver's DuckDB gate certifies the streaming
    * engine end-to-end with the SAME oracle as the batch `ohlc_downsample`
    * (the differential specs prove stream==batch to the build; this
    * makes one such proof driver-visible).
    *
    * Mechanics: the normalized events are staged to a temp parquet dir and
    * streamed from it; two far-future sentinel files are then appended so
    * the watermark sweeps every real hour closed (two, because a timeout
    * fires only in a batch AFTER the watermark passed it — the
    * differential specs' proven sentinel pattern). Sentinel rows are
    * filtered from the result. The only driver transfer is the 1-row max-ts
    * scalar; results are aggregate-sized (types × hours).
    */
  def streamingOhlcReplay(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    replayEvents(s, dir, "ohlc_replay")(in => streamingOhlc(in).toDF())
      .filter(col("event_type") =!= "__wm")
      .select(col("event_type"), col("h"), col("o"), col("c"),
        col("lo"), col("hi"), col("n"))

  /** Batch-replay certification of Spark's NATIVE streaming session
    * windows (the session-window state store, a different engine path
    * than the flatMapGroupsWithState twins): same staging/sentinel
    * machinery as [[streamingOhlcReplay]], certified by the SAME DuckDB
    * oracle as the batch `session_window_agg`. Sentinel sessions (user
    * −7) never close and are filtered; every REAL session ends ≥ 97 hours
    * before the final watermark, so all of them emit.
    */
  def streamingSessionsReplay(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    sessionsReplay(s, dir, "sessions_replay", None)

  /** Body of both session replay twins: only tag and provider differ. */
  private def sessionsReplay(s: org.apache.spark.sql.SparkSession, dir: String,
                             tag: String, provider: Option[String]): DataFrame =
    replayEvents(s, dir, tag, stateStoreProvider = provider)(in =>
        streamingSessionWindow(in.toDF()))
      .filter(col("user_id") =!= -7L)
      .select(col("user_id"), col("session_start_us"), col("session_end_us"),
        col("n_events"), col("total_value"))

  /** The RocksDB state-store provider class bundled with Spark — the
    * production provider for large streaming state (keys live off-heap in
    * RocksDB + local disk instead of the executor heap the default
    * HDFS-backed provider uses).
    */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** [[streamingSessionsReplay]] on the RocksDB state-store provider — the
    * merging session-window store exercised on the provider a real
    * 100 TB-state cluster runs. Same DuckDB oracle as the batch
    * `session_window_agg`: the gate row certifies provider-equivalence.
    */
  def streamingSessionsReplayRocksDb(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    sessionsReplay(s, dir, "sessions_replay_rocksdb", Some(RocksDbProvider))

  /** Batch-replay certification of Spark's streaming WINDOWED-AGGREGATION
    * state store — the THIRD distinct streaming engine path certified in
    * the driver's gate (after `streaming_ohlc_replay`'s
    * flatMapGroupsWithState and `streaming_sessions_replay`'s merging
    * session-window store): tumbling 1-hour event-time windows over the
    * events file stream, emitted in append mode as the watermark passes
    * each window. Cents-quantized sums and counts are order-independent
    * BIGINT folds, so the streamed rows are bit-equal to the batch
    * `events_bin` plan regardless of micro-batch arrival order — certified
    * by the SAME DuckDB oracle. Sentinel rows live in their own far-future
    * windows and are filtered by type.
    */
  def streamingBinReplay(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    replayEvents(s, dir, "bin_replay") { in =>
      in.toDF()
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(graft.Num.centsSumExact(col("value")).as("sum_value"),
          count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")).as("bin"),
          col("event_type"), col("sum_value"), col("n"))
    }.filter(col("event_type") =!= "__wm")
      .select(col("bin"), col("event_type"), col("sum_value"), col("n"))

  /** Batch-replay certification of CHAINED stateful streaming operators —
    * the streaming-dedup state store feeding the windowed-aggregation
    * store in ONE query (the multi-stateful-operator engine path none of
    * the other replays exercise): daily distinct active users per event
    * type, as watermark → per-(user, type, day-window) duplicate drop →
    * per-(day-window, type) count. The dedup key includes the time window
    * (the documented chained-stateful pattern), so dedup state expires
    * with the watermark — bounded by users active per open window, never
    * |all users ever|. Whichever duplicate row wins the dedup race is
    * irrelevant to the downstream count (the key IS the unit counted), so
    * the streamed result is deterministic and certified by a batch
    * `count(DISTINCT user_id)` DuckDB oracle. Sentinel rows live in their
    * own far-future windows and are filtered by type.
    */
  def streamingDedupReplay(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    dedupReplay(s, dir, "dedup_replay", None)

  /** Body of both dedup→agg replay twins: only tag and provider differ. */
  private def dedupReplay(s: org.apache.spark.sql.SparkSession, dir: String,
                          tag: String, provider: Option[String]): DataFrame =
    replayEvents(s, dir, tag, stateStoreProvider = provider) { in =>
      in.toDF()
        .withWatermark("ts", "1 hour")
        .withColumn("w", window(col("ts"), "1 day"))
        .dropDuplicates("user_id", "event_type", "w")
        .groupBy(col("w"), col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .select(unix_timestamp(col("w.start")).as("day"), col("event_type"),
          col("n_users"))
    }.filter(col("event_type") =!= "__wm")
      .select(col("day"), col("event_type"), col("n_users"))

  /** [[streamingDedupReplay]] on the RocksDB state-store provider — the
    * chained dedup→agg path (the biggest state of the seven replay
    * certificates) on the provider a real 100 TB-state cluster runs. Same
    * DuckDB oracle as the default-provider twin.
    */
  def streamingDedupReplayRocksDb(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    dedupReplay(s, dir, "dedup_replay_rocksdb", Some(RocksDbProvider))

  /** Batch-replay certification of the STREAM-STREAM join state store —
    * the fifth distinct streaming engine path in the driver's gate (after
    * flatMapGroupsWithState, merging session windows, windowed
    * aggregation, and chained dedup→agg): [[streamingIntervalJoin]] run
    * through the real streaming engine and certified by the SAME DuckDB
    * oracle as the batch `click_purchase_join`. Inner interval-join
    * matches emit as both sides arrive (no watermark gating on output —
    * the watermark only bounds the two join buffers), and the sentinel
    * rows are neither clicks nor purchases, so they cannot match.
    */
  def streamingJoinReplay(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    replayEvents(s, dir, "join_replay")(in => streamingIntervalJoin(in))
      .select(col("purchase_id"), col("click_id"), col("gap_us"))

  /** Batch-replay certification of UPDATE-mode unwindowed keyed
    * aggregation — the sixth distinct streaming engine path, and the one
    * append mode cannot express (an unwindowed aggregate never "closes",
    * so the engine re-emits a key's row on every micro-batch that touches
    * it). The memory sink therefore accumulates one row per (key, update);
    * the FINAL state per key is selected by the strictly-increasing count
    * (argmax via struct-max — each update of a key adds rows, so n is a
    * valid version stamp), and must equal the batch per-type count and
    * exact cents sum. State is |event_types| rows — no watermark needed,
    * nothing ever expires. Without a watermark the replay feeds no
    * sentinels: the events are its one micro-batch.
    */
  def streamingCountsReplay(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    replayEvents(s, dir, "counts_replay", mode = "update") { in =>
      in.toDF()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), graft.Num.centsSumExact(col("value")).as("sum_cents"))
    }.groupBy(col("event_type"))
      .agg(max(struct(col("n"), col("sum_cents"))).as("fin"))
      .select(col("event_type"), col("fin.n").as("n"), col("fin.sum_cents").as("sum_cents"))

  /** Stream-STATIC join replay — the SEVENTH distinct streaming engine
    * path under a driver-checked certificate (append-window / session /
    * dedup / stream-stream join / update-agg / chained dedup→agg cover the
    * stateful paths; this is the stateless per-micro-batch enrichment
    * every production ingest runs): the event stream joins a BROADCAST
    * static dimension (customer, keyed user_id = c_custkey) inside the
    * streaming plan — Spark re-resolves the batch side per micro-batch —
    * then aggregates (market segment, event type) counts and exact cents
    * in UPDATE mode. No watermark and no join state (the static side is
    * not a stream), so the replay feeds no sentinels and runs one
    * micro-batch. Certified against the plain batch join+aggregate DuckDB
    * oracle, so the stream-static path must land on exactly the batch
    * answer.
    *
    * Scale: the dimension broadcasts once per micro-batch (production
    * shape for stream enrichment — no shuffle of the stream side); the
    * aggregate state is |segments|·|types| rows.
    */
  def streamingEnrichReplay(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val dim = broadcast(s.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment")))
    replayEvents(s, dir, "enrich_replay", mode = "update") { in =>
      in.toDF().join(dim, Seq("user_id"))
        .groupBy(col("segment"), col("event_type"))
        .agg(count(lit(1)).as("n"), graft.Num.centsSumExact(col("value")).as("sum_cents"))
    }.groupBy(col("segment"), col("event_type"))
      .agg(max(struct(col("n"), col("sum_cents"))).as("fin"))
      .select(col("segment"), col("event_type"),
        col("fin.n").as("n"), col("fin.sum_cents").as("sum_cents"))
  }

  /** The replay inputs of one source dir, staged once per JVM: `events`,
    * the normalized events; `sentinels`, the two far-future sentinel files
    * in the order they are fed; `schema`, the events schema the file stream
    * reads them with.
    */
  private final case class Staged(events: String, sentinels: Seq[String],
                                  schema: org.apache.spark.sql.types.StructType)

  private val staged = new java.util.concurrent.ConcurrentHashMap[String, Staged]()

  /** Stages the replay inputs of `dir` on the first call and returns them on
    * every later one: the normalized events, both sentinel files (user −7,
    * type "__wm", ids −1 and −2, +100h and +101h past the last event) and
    * the events schema. Every replay's staging is byte-identical, so the
    * three write jobs, the max-ts scan and the parquet schema-inference job
    * run once per JVM; each replay HARD-LINKS the immutable part files into
    * its own source dir ([[linkParts]]). Each replay still owns that dir
    * because it feeds the sentinels in batch by batch — a shared dir would
    * put replay A's far-future watermark sentinels into replay B's first
    * batch.
    */
  private def stageEventsShared(s: org.apache.spark.sql.SparkSession, dir: String): Staged =
    staged.computeIfAbsent(dir, _ => {
      import s.implicits._
      val ev = graft.Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value").cast("double").as("value"))
      val root = java.nio.file.Files.createTempDirectory("graft_replay_shared")
      // one staged copy per JVM, reused by every replay — reclaimed at exit
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala
            .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
        } catch { case scala.util.control.NonFatal(_) => () }
      }))
      ev.write.parquet(s"$root/in")
      val maxMs = ev.agg(max(col("ts"))).head().getTimestamp(0).getTime
      val sentinels = Seq(-1L -> 100L, -2L -> 101L).map { case (id, hours) =>
        val out = s"$root/wm$hours"
        Seq(Event(id, new Timestamp(maxMs + hours * 3600000L), -7L, "__wm", 0.0)).toDS()
          .write.parquet(out)
        out
      }
      Staged(s"$root/in", sentinels, ev.schema)
    })

  /** Hard-links the part files of staged dir `from` into `to`, copying
    * where links fail. IOException covers both no-hard-link filesystems
    * and cross-device links (FileSystemException EXDEV, when
    * java.io.tmpdir spans devices).
    */
  private def linkParts(from: String, to: String): Unit =
    new java.io.File(from).listFiles().filter(_.getName.startsWith("part-")).foreach { f =>
      val dst = java.nio.file.Paths.get(to, f.getName)
      try java.nio.file.Files.createLink(dst, f.toPath)
      catch {
        case _: UnsupportedOperationException | _: java.io.IOException =>
          java.nio.file.Files.copy(f.toPath, dst)
      }
    }

  /** Shared machinery of the streaming-replay contract queries: run
    * `build`'s streaming plan over a file stream of the staged events
    * ([[stageEventsShared]]) into a memory sink. A plan that holds an
    * event-time watermark is then fed the two far-future sentinel files, so
    * the watermark sweeps every real window closed (two, because a
    * watermark-gated emission fires only in a batch AFTER the watermark
    * advanced — the differential specs' proven sentinel pattern); a plan
    * without one emits everything in its first batch, which is then its
    * only one. Returns the sink as a batch frame on `s0`; callers of
    * watermarked plans filter the sentinel rows. A replay collects
    * nothing; sink contents are aggregate-sized.
    *
    * Every replay runs on a private clone of `s0` (`bridge.cloneSession`:
    * own SQLConf, shared SparkContext, and the executor's default class
    * loader when `s0` holds no artifacts, so a warm replay reuses the
    * classes earlier replays compiled) that starts with a copy of `s0`'s
    * runtime conf, so a replay and its provider twin compare two
    * providers, not two configs, and no conf is ever set on `s0`. The
    * clone writes its checkpoint
    * through [[LocalCheckpointFileManager]]; `stateStoreProvider`
    * overrides `spark.sql.streaming.stateStore.providerClass` on it. The
    * production choice at 100 TB streaming state is RocksDB (state
    * off-heap + on-disk, bounded executor heap); the replay certificates
    * default to the HDFS-backed in-memory provider and the `_rocksdb`
    * contract twins pin provider-equivalence through the driver's gate.
    * `s0`'s streaming listeners are added to the clone while the query
    * runs and removed once the listener bus has delivered its last event,
    * so each of them sees every replay batch exactly once.
    */
  private def replayEvents(s0: org.apache.spark.sql.SparkSession, dir: String,
                           tag: String, mode: String = "append",
                           stateStoreProvider: Option[String] = None)
                          (build: Dataset[Event] => DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    val s = bridge.cloneSession(s0)
    s.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[LocalCheckpointFileManager].getName)
    stateStoreProvider.foreach { p =>
      s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      // Changelog checkpointing (r13): the RocksDB provider's default
      // commit uploads a FULL state snapshot per micro-batch per partition;
      // changelog mode uploads just the batch's delta and snapshots in the
      // background — the documented production setting for frequent small
      // commits, and exactly the replay shape (32 partitions × ~5 batches
      // of tiny deltas). State content, batch count and emitted rows are
      // unchanged — the provider-equivalence certificate still compares
      // the same two providers, one IO strategy cheaper.
      s.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    }
    val inputs = stageEventsShared(s, dir)
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    val src = s"$tmp/in"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    linkParts(inputs.events, src)
    import s.implicits._
    val in = s.readStream.schema(inputs.schema).parquet(src).as[Event]
    val qname = tag + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val listeners = s0.streams.listListeners()
    listeners.foreach(s.streams.addListener)
    try {
      val plan = build(in)
      val watermarked = plan.queryExecution.logical.exists(_.isInstanceOf[EventTimeWatermark])
      val q = plan.writeStream.format("memory").queryName(qname)
        .outputMode(mode).option("checkpointLocation", s"$tmp/ckpt").start()
      try {
        q.processAllAvailable() // the real events
        // the first sentinel moves the watermark past every real window; the
        // second fires the emissions that expired with it
        if (watermarked)
          inputs.sentinels.foreach { wm => linkParts(wm, src); q.processAllAvailable() }
      } finally q.stop()
    } finally if (listeners.nonEmpty) {
      bridge.drainListeners(s)
      listeners.foreach(s.streams.removeListener)
    }
    // the memory sink lives in the session, not on disk — the replay's
    // private source links + checkpoint are dead weight once the query
    // stops (same per-invocation leak class the r9 certification-staging
    // cleanup closed; Bench runs each replay 3-5 times)
    // NonFatal, not just IOException: Files.walk's lazy iteration throws
    // UncheckedIOException (a RuntimeException) when an entry vanishes
    // mid-walk -- e.g. state-store maintenance racing the delete after
    // q.stop() -- and a cleanup failure must never fail the replay itself
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    } catch { case scala.util.control.NonFatal(_) => () }
    // the sink's temp view lives in the clone; `.logical` would re-resolve
    // it there, the analyzed plan holds the sink itself
    bridge.onSession(s0, s.table(qname))
  }
}
