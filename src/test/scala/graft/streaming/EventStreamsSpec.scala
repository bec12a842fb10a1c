package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import java.sql.Timestamp

/** Streaming semantics via MemoryStream: windowed aggregation emits on
  * watermark passage; sessionization closes on gap/timeout.
  */
class EventStreamsSpec extends AnyFunSuite {
  import TestSpark._
  import EventStreams._
  import StreamingTwins._

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("windowed aggregate: counts per window/type once watermark passes") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    // the windowed-aggregation state store `streaming_bin_replay` runs
    val agg = in.toDF()
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode("append").start()
    try {
      in.addData(
        Event(1, ts(1), 10, "click", 1.0), Event(2, ts(4), 10, "click", 2.0),
        Event(3, ts(12), 11, "view", 5.0))
      q.processAllAvailable()
      // advance watermark far past the first two windows
      in.addData(Event(4, ts(60), 11, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows.contains((0L, "click", 2L, 3.0)))
      assert(rows.contains((10L, "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("windowed KMV distinct: streaming result EQUALS the batch sketch on the same rows") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val agg = windowedApproxDistinct(in.toDF(), k = 4, "10 minutes", "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("win_kmv")
      .outputMode("append").start()
    try {
      // window [0,10): 6 events over 5 distinct users (> k=4 → estimate
      // path); duplicates must collapse in the sketch state
      val evs = Seq(
        Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 11, "click", 1.0),
        Event(3, ts(3), 12, "click", 1.0), Event(4, ts(4), 13, "click", 1.0),
        Event(5, ts(5), 14, "click", 1.0), Event(6, ts(6), 10, "click", 1.0),
        Event(7, ts(12), 20, "view", 1.0))
      in.addData(evs: _*)
      q.processAllAvailable()
      in.addData(Event(8, ts(60), 21, "view", 1.0)) // advance watermark
      q.processAllAvailable()
      val streamed = spark.table("win_kmv").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2))).toSet
      // batch twin over the identical rows: same window arithmetic, same
      // sketch, same estimate — set equality, not an error bound
      val batch = windowedApproxDistinct(
        evs.toDF().withColumn("ts", col("ts").cast("timestamp")),
        k = 4, "10 minutes", "10 minutes", "5 minutes")
        .collect().map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2))).toSet
      // every batch window (the stream closed them all) matches exactly
      assert(batch.subsetOf(streamed), s"streamed=$streamed batch=$batch")
      // the 5-distinct-user click window took the estimate path (k=4):
      // its value is the KMV formula output, not the exact count
      val clickEst = batch.find(r => r._1 == 0L && r._2 == "click").get._3
      assert(clickEst > 0L && clickEst != 5L,
        s"k=4 < 5 distinct users must estimate, got $clickEst")
    } finally q.stop()
  }

  test("sessionize: gap closes sessions with correct aggregates") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val sessions = sessionize(in.toDS(), gapMs = 10 * 60000L) // 10 min gap
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // base offset keeps the first event above the initial watermark (an
      // event at exactly the watermark is dropped as late)
      val b = 60L
      // user 1: two events close together, then a long gap, then one more
      in.addData(
        Event(1, ts(b + 0), 1, "click", 1.0), Event(2, ts(b + 5), 1, "click", 2.0))
      q.processAllAvailable()
      in.addData(Event(3, ts(b + 30), 1, "click", 4.0)) // gap > 10min → closes first
      q.processAllAvailable()
      in.addData(Event(4, ts(b + 120), 2, "view", 0.0)) // push watermark forward
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000 - b,
          r.getTimestamp(2).getTime / 60000 - b, r.getInt(3), r.getDouble(4))).toSet
      assert(rows.contains((1L, 0L, 5L, 2, 3.0)), s"got $rows")
    } finally q.stop()
  }

  test("streamingDecontaminate matches the batch crossCorpusOverlap on the same docs") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val evalDocs = TestSpark.df(
      new StructType().add("doc_id", LongType).add("text", StringType),
      Seq(Row(100L, "a b c d e f"), Row(101L, "z z z unrelated words here")))
    val in = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = in.toDF().toDF("ts", "doc_id", "text")
    val out = StreamingTwins.streamingDecontaminate(docs, evalDocs, k = 3)
    val q = out.writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").start()
    try {
      in.addData((ts(10), 1L, "a b c d e f g"), (ts(11), 2L, "totally different content"))
      q.processAllAvailable()
      in.addData((ts(200), 3L, "advance the watermark"))
      q.processAllAvailable()
      val got = spark.table("decon_stream").collect()
        .map(r => (r.getLong(1), r.getLong(2)) -> (r.getLong(3), r.getDouble(4))).toMap
      val batch = graft.pipeline.Dedup.crossCorpusOverlap(
          TestSpark.df(new StructType().add("doc_id", LongType).add("text", StringType),
            Seq(Row(1L, "a b c d e f g"), Row(2L, "totally different content"))),
          evalDocs, k = 3).collect()
        .map(r => (r.getLong(1), r.getLong(0)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got.contains((1L, 100L)) && !got.exists(_._1._1 == 2L))
    } finally q.stop()
  }

  test("windowedCovariance: per-window covariance matrix matches hand-computed batch values") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val cov = StreamingTwins.windowedCovariance(in.toDS(), windowSec = 21600L, binSec = 3600L)
    val q = cov.writeStream.format("memory").queryName("cov_stream")
      .outputMode("append").start()
    try {
      def ev(id: Long, sec: Long, c: String, v: Double) =
        Event(id, new Timestamp(sec * 1000), 1L, c, v)
      // window [21600, 43200): A bins avg (2, 4, 6); B bins (10, 20, absent)
      in.addData(
        ev(1, 21700, "A", 1.0), ev(2, 21800, "A", 3.0), ev(3, 25300, "A", 4.0),
        ev(4, 28900, "A", 6.0), ev(5, 21650, "B", 10.0), ev(6, 25400, "B", 20.0))
      q.processAllAvailable()
      in.addData(ev(7, 90000, "A", 0.0)) // advance watermark far past the window
      q.processAllAvailable()
      in.addData(ev(8, 95000, "A", 0.0)) // one more batch to fire the timeout
      q.processAllAvailable()
      val got = spark.table("cov_stream")
        .filter(col("win_start") === new Timestamp(21600L * 1000))
        .collect().map(r => (r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap
      // means: A=4, B=15; nBins=3 → cov(A,A)=4, cov(A,B)=5 (shared bins), cov(B,B)=25
      assert(got == Map(("A", "A") -> 4.0, ("A", "B") -> 5.0, ("B", "B") -> 25.0), s"got $got")
    } finally q.stop()
  }

  test("streaming windowedCovariance matches the batch twin on real events") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val evs = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val in = MemoryStream[Event]
    val covStream = StreamingTwins.windowedCovariance(in.toDS())
    val q = covStream.writeStream.format("memory").queryName("cov_diff")
      .outputMode("append").start()
    try {
      in.addData(evs)
      q.processAllAvailable()
      val sentinelSec = evs.map(_.ts.getTime).max / 1000 + 100 * 3600
      in.addData(Event(-1L, new Timestamp(sentinelSec * 1000), 0L, "x", 0.0))
      q.processAllAvailable()
      in.addData(Event(-2L, new Timestamp((sentinelSec + 3600) * 1000), 0L, "x", 0.0))
      q.processAllAvailable()
      val got = spark.table("cov_diff").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap
      val batch = StreamingTwins
        .windowedCovarianceBatch(spark, "/root/testdata/sf0.001").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap
      assert(got.nonEmpty && batch.nonEmpty)
      // every closed streaming window must agree with the batch twin to
      // within ONE rounding-grid step. The tie rule is now identical on
      // both sides (HALF_UP: Spark round() ≡ covFromSums' BigDecimal
      // setScale) — the residual tolerance is only for fold-order ulp:
      // the state fold sums in arrival order, the batch aggregate in
      // partition order, and an ulp-adjacent pre-rounding value straddling
      // a grid boundary rounds one step apart (observed on this very
      // fixture: 417.508912 vs .508913).
      got.foreach { case (k, v) =>
        assert(batch.contains(k), s"window/pair $k missing from batch twin")
        assert(math.abs(batch(k) - v) <= 1.0e-6, s"$k: stream $v vs batch ${batch(k)}")
      }
      // and the stream closed every real window the batch twin has
      val sentinelWin = (sentinelSec / 21600) * 21600
      val expected = batch.keys.filterNot(_._1 >= sentinelWin)
      expected.foreach(k => assert(got.contains(k), s"window/pair $k never emitted"))
    } finally q.stop()
  }

  test("streamingSessionWindow: closed native sessions equal the batch twin on real events") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val in = MemoryStream[Event]
    val q = EventStreams.streamingSessionWindow(in.toDF())
      .writeStream.format("memory").queryName("ssw").outputMode("append").start()
    try {
      val sorted = evs.sortBy(e => (e.ts.getTime, e.event_id))
      val (a, b) = sorted.splitAt(sorted.length / 2)
      in.addData(a); q.processAllAvailable()
      in.addData(b); q.processAllAvailable()
      // sentinel far in the future closes every real session
      val sentinel = sorted.last.ts.getTime + 100L * 3600 * 1000
      in.addData(Event(-1L, new Timestamp(sentinel), -1L, "x", 0.0))
      q.processAllAvailable()
      in.addData(Event(-2L, new Timestamp(sentinel + 3600 * 1000), -1L, "x", 0.0))
      q.processAllAvailable()
      val got = spark.table("ssw").filter(col("user_id") >= 0L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSet
      val batch = graft.RelationalQueries.sessionWindowOf(
        graft.Tables.events(spark, sf)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSet
      assert(batch.nonEmpty)
      assert(got == batch, s"stream ${got.size} sessions vs batch ${batch.size}")
    } finally q.stop()
  }

  test("streamingPatternMatch: per-match rows aggregate to the batch histogram on real events") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val real = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    // close every user's tail run on BOTH sides: one far-future sentinel
    // event of a never-matching type per user (append mode cannot emit a
    // never-closed run)
    val horizon = real.map(_.ts.getTime).max + 50L * 3600 * 1000
    val sentinels = real.map(_.user_id).distinct.zipWithIndex.map { case (u, i) =>
      Event(-1000L - i, new Timestamp(horizon), u, "zzz", 0.0)
    }
    val evs = real ++ sentinels
    val in = MemoryStream[Event]
    val q = StreamingTwins.streamingPatternMatch(in.toDS())
      .writeStream.format("memory").queryName("spm").outputMode("append").start()
    try {
      val sorted = evs.sortBy(e => (e.ts.getTime, e.event_id))
      val (a, b) = sorted.splitAt(sorted.length / 2)
      in.addData(a); q.processAllAvailable()
      in.addData(b); q.processAllAvailable()
      // flush: advance the watermark past the sentinels so they drain
      in.addData(Event(-1L, new Timestamp(horizon + 10L * 3600 * 1000), -1L, "x", 0.0))
      q.processAllAvailable()
      in.addData(Event(-2L, new Timestamp(horizon + 11L * 3600 * 1000), -1L, "x", 0.0))
      q.processAllAvailable()
      val got = spark.table("spm")
        .groupBy(col("views_before"))
        .agg(count(lit(1)).as("n_matches"), sum(col("n_purchases")).as("n_purchases"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val batch = graft.RelationalQueries.patternMatchOf(
        evs.toDF().select(col("user_id"), col("ts"), col("event_id"), col("event_type")))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(batch.nonEmpty)
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("streamingIntervalJoin: native stream-stream join equals the batch twin on real events") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val in = MemoryStream[Event]
    val q = EventStreams.streamingIntervalJoin(in.toDS())
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      // two CHRONOLOGICAL slices so cross-slice pairs exercise the join
      // state without falling behind the watermark (a random split would
      // make slice 2 mostly late — watermark-dropped by design)
      val sorted = evs.sortBy(e => (e.ts.getTime, e.event_id))
      val (a, b) = sorted.splitAt(sorted.length / 2)
      in.addData(a); q.processAllAvailable()
      in.addData(b); q.processAllAvailable()
      val got = spark.table("ssj").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.RelationalQueries.clickPurchaseJoin(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.nonEmpty)
      assert(got == batch, s"stream ${got.size} pairs vs batch ${batch.size}")
    } finally q.stop()
  }

  test("streamingEnrichReplay: stream-static broadcast join lands on the batch join+aggregate") {
    val sf = "/root/testdata/sf0.001"
    val got = EventStreams.streamingEnrichReplay(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val dim = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val batch = graft.Tables.events(spark, sf).join(dim, Seq("user_id"))
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.Num.centsSumExact(col("value")).as("s"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(batch.nonEmpty)
    assert(got == batch, s"stream $got vs batch $batch")
  }

  test("RocksDB state-store replays equal their default-provider twins row-for-row") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val sf = "/root/testdata/sf0.001"
    // (replay tag, batch id) of every progress event with state operators
    // that a listener on the CALLER's session sees; the tag is the query
    // name minus its `_<uuid>` suffix
    val seen = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.stateOperators.nonEmpty)
          seen.synchronized(seen += e.progress.name.dropRight(33) -> e.progress.batchId)
    }
    def rows(d: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
      assert(d.sparkSession eq spark, "the replay's frame must be on the caller's session")
      d.collect().map(_.toSeq).toSet
    }
    spark.streams.addListener(listener)
    try {
      val dedupDefault = rows(EventStreams.streamingDedupReplay(spark, sf))
      val dedupRocks = rows(EventStreams.streamingDedupReplayRocksDb(spark, sf))
      assert(dedupDefault.nonEmpty)
      assert(dedupRocks == dedupDefault,
        s"provider changed the chained dedup→agg result: ${dedupRocks.size} vs ${dedupDefault.size} rows")
      val sessDefault = rows(EventStreams.streamingSessionsReplay(spark, sf))
      val sessRocks = rows(EventStreams.streamingSessionsReplayRocksDb(spark, sf))
      assert(sessDefault.nonEmpty)
      assert(sessRocks == sessDefault,
        s"provider changed the session-window result: ${sessRocks.size} vs ${sessDefault.size} rows")
      assert(rows(EventStreams.streamingCountsReplay(spark, sf)).nonEmpty)
    } finally spark.streams.removeListener(listener)
    // each replay returns only after the listener bus has delivered its
    // batches, and the listener sees each batch once: the counts plan has
    // no watermark, so it gets no sentinels and runs one batch; a
    // watermarked replay runs the events, two sentinels and a no-data
    // batch after each, on either provider
    def batches(tag: String): Seq[Long] = seen.synchronized(seen.collect { case (`tag`, b) => b }.toSeq)
    assert(batches("counts_replay").sorted == Seq(0L), seen)
    val twin = batches("dedup_replay_rocksdb")
    assert(twin.size >= 3 && twin.sorted == (0L until twin.size.toLong), seen)
    assert(twin.size == batches("dedup_replay").size, seen)
    // the overrides must not leak into the parent session's conf
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      != EventStreams.RocksDbProvider)
    assert(spark.conf.getOption("spark.sql.streaming.checkpointFileManagerClass").isEmpty)
  }

  test("a staged replay launches no chmod, readlink or stat process") {
    // Hadoop's local filesystem without libhadoop forks these per checkpoint
    // file; LocalCheckpointFileManager and the once-staged sentinels avoid
    // every one. Trivially green where libhadoop is loaded.
    import scala.jdk.CollectionConverters._
    val sf = "perfbench/fixture" // the sf0.001 tables, relative to the build root
    EventStreams.streamingCountsReplay(spark, sf).collect() // stages the inputs
    val jfr = java.nio.file.Files.createTempFile("graft_forks", ".jfr")
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      EventStreams.streamingCountsReplay(spark, sf).collect()
      // one known process, so an empty recording cannot pass for a clean one
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      rec.dump(jfr)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .map(_.getString("command")).toSeq
      val names = commands.map(_.trim.takeWhile(_ != ' ').split('/').last)
      assert(names.contains("true"), commands)
      val forks = commands.zip(names).collect {
        case (c, n) if Set("chmod", "readlink", "stat")(n) => c
      }
      assert(forks.isEmpty, s"${forks.size} forks, e.g. ${forks.take(5)}")
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(jfr)
    }
  }

  test("a warm replay compiles no generated class") {
    // its clone runs under the executor's default class loader, so the
    // codegen cache still holds what the previous replay compiled
    import org.apache.spark.metrics.source.CodegenMetrics
    val sf = "perfbench/fixture"
    EventStreams.streamingCountsReplay(spark, sf).collect()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    EventStreams.streamingCountsReplay(spark, sf).collect()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"$compiled classes compiled again")
  }

  test("a replay leaves the caller's artifact isolation as it was") {
    val key = "spark.sql.artifact.isolation.enabled"
    val before = spark.conf.getOption(key)
    EventStreams.streamingCountsReplay(spark, "perfbench/fixture").collect()
    assert(spark.conf.getOption(key) == before)
  }

  test("checkpoint restart recovery: a killed windowed-agg query resumes exactly-once into a file sink") {
    // the crash-recovery certificate none of the replay queries exercises:
    // process half the data, STOP the query, start a NEW query on the SAME
    // checkpoint + sink, feed the rest — the file-sink manifest plus the
    // checkpointed watermark/state must produce EXACTLY the batch answer
    // (no window lost at the kill point, none double-emitted on recovery).
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val (src, ckpt, out) = (s"$base/src", s"$base/ckpt", s"$base/out")
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value").cast("double").as("value")).as[Event]
    val sorted = ev.collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val maxMs = sorted.last.ts.getTime
    val (half1, half2) = sorted.splitAt(sorted.length / 2)
    def plan(in: org.apache.spark.sql.Dataset[Event]) = in.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.Num.centsSumExact(col("value")).as("s"))
      .select(unix_timestamp(col("window.start")).as("bin"), col("event_type"),
        col("n"), col("s"))
    def start() = plan(spark.readStream.schema(ev.schema).parquet(src).as[Event])
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    half1.toDS().write.mode("append").parquet(src)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop() // the "crash"
    half2.toDS().write.mode("append").parquet(src)
    val q2 = start() // recovery: same checkpoint, same sink
    q2.processAllAvailable()
    // two far-future sentinel batches sweep every real window closed
    for (i <- 100 to 101) {
      Seq(Event(-i.toLong, new Timestamp(maxMs + i * 3600000L), -7L, "__wm", 0.0))
        .toDS().write.mode("append").parquet(src)
      q2.processAllAvailable()
    }
    q2.stop()
    val got = spark.read.parquet(out).filter(col("event_type") =!= "__wm").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val batch = ev.toDF()
      .groupBy((floor(unix_timestamp(col("ts")) / 3600L) * 3600L).as("bin"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.Num.centsSumExact(col("value")).as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val dupCheck = spark.read.parquet(out).filter(col("event_type") =!= "__wm")
      .groupBy(col("bin"), col("event_type")).count().filter(col("count") > 1).count()
    assert(dupCheck == 0, "recovery double-emitted a closed window")
    assert(got == batch,
      s"restart recovery diverged: ${got.size} windows vs batch ${batch.size}")
  }

  test("streamStore: micro-batches append access-path-sorted files to a Lara store") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.lara.{LaraSchema, LaraTable, ValSpec}
    import org.apache.spark.sql.types.LongType
    val in = MemoryStream[(Long, Long, Long)]
    val docs = in.toDF().toDF("c", "j", "v")
    val schema = LaraSchema(Seq("c", "j"), Seq(ValSpec("v", LongType, 0L)))
    val dir = java.nio.file.Files.createTempDirectory("stream_store").toString + "/t"
    val q = EventStreams.streamStore(docs, schema, dir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("stream_store_ck").toString)
      .start()
    try {
      in.addData((2L, 20L, 1L), (1L, 10L, 2L))
      q.processAllAvailable()
      in.addData((1L, 5L, 3L))
      q.processAllAvailable()
      val back = LaraTable.load(spark, dir, Seq("c", "j"), Seq(ValSpec("v", LongType, 0L)))
      assert(back.df.count() == 3)
      assert(back.df.columns.toSeq == Seq("c", "j", "v"), "batch partition column must be projected away")
      // per-file access-path order holds (appends don't interleave files)
      val perFile = back.df.select(col("c"), col("j"), input_file_name().as("f"))
        .collect().groupBy(_.getString(2))
      perFile.values.foreach { rs =>
        val keys = rs.map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(keys == keys.sorted)
      }
      // foreachBatch is at-least-once: a replayed batch must overwrite its
      // own batch=<id> directory, not append a duplicate copy
      val replay = Seq((1L, 5L, 3L)).toDF("c", "j", "v")
      LaraTable(replay, schema).appendStoreBatch(dir, 1L)
      LaraTable(replay, schema).appendStoreBatch(dir, 1L)
      val after = LaraTable.load(spark, dir, Seq("c", "j"), Seq(ValSpec("v", LongType, 0L)))
      assert(after.df.count() == 3, s"replay duplicated rows: ${after.df.count()}")
    } finally q.stop()
  }

  test("streamingEmbeddingNearDup matches batch embeddingNearDup on real vectors") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val tau = 0.2
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val batch = graft.pipeline.Similarity.embeddingNearDup(
      graft.Tables.embeddings(spark, "/root/testdata/sf0.001"), tau)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(batch.nonEmpty, s"fixture should contain cosine ≥ $tau pairs")

    val in = MemoryStream[(java.sql.Timestamp, Long, Seq[Float])]
    val vecs = in.toDF().toDF("ts", "vec_id", "embedding")
    val out = StreamingTwins.streamingEmbeddingNearDup(vecs, tau)
    val q = out.writeStream.format("memory").queryName("emb_stream")
      .outputMode("append").start()
    try {
      // two batches: later arrivals must match against retained state
      val (first, second) = emb.splitAt(emb.length / 2)
      in.addData(first.toSeq.map { case (id, e) => (ts(60 + id), id, e) }: _*)
      q.processAllAvailable()
      in.addData(second.toSeq.map { case (id, e) => (ts(60 + id), id, e) }: _*)
      q.processAllAvailable()
      val streamed = spark.table("emb_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // same candidates (same portable LSH bands), same fused cosine fold,
      // same rounding — SET EQUALITY with identical scores
      assert(streamed == batch,
        s"streamed-only=${streamed.keySet -- batch.keySet} batch-only=${batch.keySet -- streamed.keySet}")
    } finally q.stop()
  }

  test("windowed funnel: streamed per-window depth EQUALS the batch fold on the same rows") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val stages = Seq("view", "click", "purchase")
    val agg = StreamingTwins.windowedFunnel(in.toDF(), stages, "10 minutes", "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("win_funnel")
      .outputMode("append").start()
    try {
      // window [0,10): u10 completes across MICRO-BATCHES (state must carry
      // the partial prefix); u11 has reversed order (depth 1); window
      // [10,20): u10 view only — per-window isolation
      val b1 = Seq(Event(1, ts(1), 10, "view", 0), Event(2, ts(2), 10, "click", 0),
        Event(3, ts(1), 11, "purchase", 0), Event(4, ts(2), 11, "view", 0))
      val b2 = Seq(Event(5, ts(3), 10, "purchase", 0), Event(6, ts(12), 10, "view", 0))
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      in.addData(Event(9, ts(60), 99, "error", 0)) // advance watermark
      q.processAllAvailable()
      val streamed = spark.table("win_funnel").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getLong(1)) -> r.getLong(2)).toMap
      val batch = StreamingTwins.windowedFunnel((b1 ++ b2).toDF(), stages,
        "10 minutes", "10 minutes", "5 minutes").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getLong(1)) -> r.getLong(2)).toMap
      assert(batch.view.filterKeys(_._2 != 99L).toMap.toSet.subsetOf(streamed.toSet),
        s"streamed=$streamed batch=$batch")
      assert(streamed((0L, 10L)) == 3L, "cross-micro-batch completion")
      assert(streamed((0L, 11L)) == 1L, "reversed order scores view only")
      assert(streamed((10L, 10L)) == 1L, "windows are independent")
    } finally q.stop()
  }

  test("streamingRateAnomaly: scores each closed hour against the trailing ring") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    // trailing=3, minHours=2 on hand-sized data; watermark 30 min
    val out = StreamingTwins.streamingRateAnomaly(in.toDS(), trailing = 3,
      minHours = 2, watermark = "30 minutes")
    val q = out.writeStream.format("memory").queryName("rate_stream")
      .outputMode("append").start()
    try {
      def ev(id: Long, hour: Long, minute: Long) =
        Event(id, ts(hour * 60 + minute), 1L, "click", 0.0)
      // hourly counts: h0→2, h1→1, h2→3, h3→6; ring before h3 = (1,3) after
      // trailing-trim? no: trailing=3 keeps (2,1,3) → mean=2, sd=1, z=(6-2)/1=4
      in.addData(ev(1, 0, 5), ev(2, 0, 10), ev(3, 1, 5),
        ev(4, 2, 5), ev(5, 2, 10), ev(6, 2, 15),
        ev(7, 3, 5), ev(8, 3, 10), ev(9, 3, 15), ev(10, 3, 20), ev(11, 3, 25), ev(12, 3, 30))
      q.processAllAvailable()
      // sentinels use a DIFFERENT type: a "click" sentinel would itself
      // close and score once its hour passed (k=3 ≥ minHours)
      in.addData(Event(99, ts(50 * 60), 1L, "__wm", 0.0)) // advance watermark past h3
      q.processAllAvailable()
      in.addData(Event(100, ts(52 * 60), 1L, "__wm", 0.0)) // fire the timeout
      q.processAllAvailable()
      val got = spark.table("rate_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
          (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      // h0 (k=0), h1 (k=1) below minHours; h2: ring=(2,1) mean=1.5 sd=.7071…
      val zH2 = (3.0 - 1.5) / math.sqrt((2L * 5L - 9L).toDouble / 2.0)
      assert(got.keySet == Set(("click", 2L, 3L), ("click", 3L, 6L)), s"got $got")
      assert(got(("click", 2L, 3L)) == Some(zH2))
      assert(got(("click", 3L, 6L)) == Some(4.0))
    } finally q.stop()
  }

  test("streamingRateAnomaly EQUALS the batch rateAnomaly on real events") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val in = MemoryStream[Event]
    val out = StreamingTwins.streamingRateAnomaly(in.toDS(), trailing = 24, minHours = 12)
    val q = out.writeStream.format("memory").queryName("rate_diff")
      .outputMode("append").start()
    try {
      // one batch → watermark starts at 0, nothing is late regardless of
      // file order; sentinels then close every real hour
      in.addData(evs)
      q.processAllAvailable()
      val sentinelMs = evs.map(_.ts.getTime).max + 100L * 3600000
      in.addData(Event(-1L, new Timestamp(sentinelMs), 0L, "__wm", 0.0))
      q.processAllAvailable()
      in.addData(Event(-2L, new Timestamp(sentinelMs + 3600000), 0L, "__wm", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("rate_diff").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
          (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      val batch = graft.RelationalQueries.rateAnomaly(
        graft.Tables.events(spark, dir)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
          (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      assert(batch.nonEmpty, "fixture must exercise the trailing window")
      // EXACT equality: both engines carry integer (S1, S2, k) and replay
      // the identical IEEE double op sequence — no tolerance needed
      assert(streamed == batch, {
        val onlyS = streamed.keySet -- batch.keySet
        val onlyB = batch.keySet -- streamed.keySet
        val diff = (streamed.keySet & batch.keySet).filter(k => streamed(k) != batch(k))
        s"onlyStream=$onlyS onlyBatch=$onlyB valueDiff=${diff.take(5).map(k => (k, streamed(k), batch(k)))}"
      })
    } finally q.stop()
  }

  test("streamingClip equals batch winsorize on real events; unseen types pass through") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val thr = graft.RelationalQueries
      .winsorizeThresholds(graft.Tables.events(spark, sf)).cache()
    val evs = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val in = MemoryStream[Event]
    val q = StreamingTwins.streamingClip(in.toDF(), thr)
      .writeStream.format("memory").queryName("clip_diff")
      .outputMode("append").start()
    try {
      // two micro-batches + one event of a type history never saw
      val (b1, b2) = evs.splitAt(evs.size / 2)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2 :+ Event(-7L, evs.head.ts, 0L, "novel_type", 1e9))
      q.processAllAvailable()
      val got = spark.table("clip_diff").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
      val batch = graft.RelationalQueries.winsorize(graft.Tables.events(spark, sf))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
      assert(batch.subsetOf(got), s"missing=${(batch diff got).take(5)}")
      // the novel type passed through unclipped
      assert(got.contains((-7L, "novel_type", 1e9, 0L)))
      assert(got.size == batch.size + 1)
    } finally { q.stop(); thr.unpersist() }
  }

  test("streamingOhlc EQUALS the batch ohlcDownsample on real events") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val in = MemoryStream[Event]
    val q = EventStreams.streamingOhlc(in.toDS())
      .writeStream.format("memory").queryName("ohlc_diff")
      .outputMode("append").start()
    try {
      // split across two micro-batches to force cross-batch state carry;
      // the split is mid-sequence so open/close candidates straddle it
      val (b1, b2) = evs.splitAt(evs.size / 2)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val sentinelMs = evs.map(_.ts.getTime).max + 100L * 3600000
      in.addData(Event(-1L, new Timestamp(sentinelMs), -7L, "__wm", 0.0))
      q.processAllAvailable()
      in.addData(Event(-2L, new Timestamp(sentinelMs + 3600000), -7L, "__wm", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("ohlc_diff").collect()
        .filter(_.getString(0) != "__wm")
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))).toMap
      val batch = graft.RelationalQueries.ohlcDownsample(
        graft.Tables.events(spark, dir)).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))).toMap
      assert(batch.nonEmpty)
      assert(streamed == batch, {
        val keys = (streamed.keySet ++ batch.keySet)
          .filter(k => streamed.get(k) != batch.get(k))
        s"diff=${keys.take(5).map(k => (k, streamed.get(k), batch.get(k)))}"
      })
    } finally q.stop()
  }

  test("streamingFirstTouch: per-day emission counts EQUAL the batch first-day histogram") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val in = MemoryStream[Event]
    val q = StreamingTwins.streamingFirstTouch(in.toDS())
      .writeStream.format("memory").queryName("ft_diff")
      .outputMode("append").start()
    try {
      val (b1, b2) = evs.splitAt(evs.size / 2)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val sentinelMs = evs.map(_.ts.getTime).max + 100L * 3600000
      in.addData(Event(-1L, new Timestamp(sentinelMs), -7L, "__wm", 0.0))
      q.processAllAvailable()
      in.addData(Event(-2L, new Timestamp(sentinelMs + 3600000), -7L, "__wm", 0.0))
      q.processAllAvailable()
      val rows = spark.table("ft_diff").collect()
        .map(r => (r.getLong(0), r.getLong(1))).filter(_._1 >= 0)
      // exactly-once: one row per user
      assert(rows.map(_._1).distinct.length == rows.length, "duplicate first-touch emission")
      val streamed = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val batch = evs.groupBy(_.user_id)
        .map { case (_, es) => es.map(_.ts.getTime / 86400000L).min }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(streamed == batch, s"diff=${(streamed.keySet ++ batch.keySet)
        .filter(k => streamed.get(k) != batch.get(k))}")
    } finally q.stop()
  }

  test("streamingTwapHolds: per-(type, day) hold sums EQUAL the batch twap on real events") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val in = MemoryStream[Event]
    val q = StreamingTwins.streamingTwapHolds(in.toDS())
      .writeStream.format("memory").queryName("twap_diff")
      .outputMode("append").start()
    try {
      // mid-sequence split forces the carry and the buffer across batches
      val (b1, b2) = evs.splitAt(evs.size / 2)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val sentinelMs = evs.map(_.ts.getTime).max + 100L * 3600000
      in.addData(Event(-1L, new Timestamp(sentinelMs), -7L, "__wm", 0.0))
      q.processAllAvailable()
      in.addData(Event(-2L, new Timestamp(sentinelMs + 3600000), -7L, "__wm", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("twap_diff").collect()
        .filter(_.getString(0) != "__wm")
        .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
        .groupBy(h => (h._1, h._2))
        .map { case (k, hs) =>
          k -> ((hs.map(h => h._3 * h._4).sum, hs.map(_._4).sum, hs.size.toLong))
        }
      val batch = graft.RelationalQueries.twap(graft.Tables.events(spark, dir)).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(batch.nonEmpty)
      assert(streamed == batch, {
        val keys = (streamed.keySet ++ batch.keySet)
          .filter(k => streamed.get(k) != batch.get(k))
        s"diff=${keys.take(5).map(k => (k, streamed.get(k), batch.get(k)))}"
      })
    } finally q.stop()
  }

  test("sessionize EQUALS the batch sessionizeBatch on real events") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val in = MemoryStream[Event]
    val q = StreamingTwins.sessionize(in.toDS(), gapMs = 1800000L)
      .writeStream.format("memory").queryName("sess_diff")
      .outputMode("append").start()
    try {
      in.addData(evs)
      q.processAllAvailable()
      val sentinelMs = evs.map(_.ts.getTime).max + 100L * 3600000
      in.addData(Event(-1L, new Timestamp(sentinelMs), -7L, "x", 0.0))
      q.processAllAvailable()
      in.addData(Event(-2L, new Timestamp(sentinelMs + 3600000), -7L, "x", 0.0))
      q.processAllAvailable()
      // compare on (user, start, end, n, cents): the streaming fold sums
      // doubles in time order, the batch uses exact cents — round to the
      // cents grid both engines share
      val streamed = spark.table("sess_diff").collect()
        .filter(_.getLong(0) != -7L)
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
          r.getInt(3).toLong, math.round(r.getDouble(4) * 100))).toSet
      val batch = graft.RelationalQueries.sessionizeBatch(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
          math.round(r.getDouble(5) * 100))).toSet
      assert(batch.nonEmpty && batch.size > streamed.count(_ => false),
        "fixture must produce sessions")
      assert(streamed == batch, {
        s"onlyStream=${(streamed -- batch).take(5)} onlyBatch=${(batch -- streamed).take(5)}"
      })
    } finally q.stop()
  }

  test("streamingAsOf: attribution with tie and no-touch semantics") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val out = StreamingTwins.streamingAsOf(in.toDS(), Set("click"), Set("purchase"),
      watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      // u1: click@5, purchase@8 (attributed), click@8... tie at purchase
      // time: touch at EXACTLY conv time is visible; u2: purchase@3 with
      // no touch → nulls; OUT-OF-ORDER: u1's click@5 arrives after its
      // purchase@8 in a later micro-batch, buffer must reorder
      in.addData(Event(10, ts(8), 1, "purchase", 0), Event(11, ts(8), 1, "click", 0))
      q.processAllAvailable()
      in.addData(Event(12, ts(5), 1, "click", 0), Event(13, ts(3), 2, "purchase", 0))
      q.processAllAvailable()
      in.addData(Event(99, ts(120), 9, "click", 0)) // advance watermark
      q.processAllAvailable()
      in.addData(Event(100, ts(130), 9, "click", 0)) // fire timeouts
      q.processAllAvailable()
      val got = spark.table("asof_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      // purchase 10 at ts8: touches click@5 (id 12) and click@8 (id 11);
      // equal-time click is visible and later in (ts, side, id) order → 11
      assert(got == Map((1L, 10L) -> Some(11L), (2L, 13L) -> None), s"got $got")
    } finally q.stop()
  }

  test("streamingAsOf EQUALS the batch asOfJoin on real events") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val types = evs.map(_.event_type).distinct.sorted
    assert(types.size >= 2, s"fixture needs >=2 event types, got $types")
    // split the real type alphabet: first half = touches, rest = conversions
    val (touches, convs) = types.splitAt(types.size / 2) match {
      case (a, b) => (a.toSet, b.toSet)
    }
    val in = MemoryStream[Event]
    val out = StreamingTwins.streamingAsOf(in.toDS(), touches, convs)
    val q = out.writeStream.format("memory").queryName("asof_diff")
      .outputMode("append").start()
    try {
      in.addData(evs)
      q.processAllAvailable()
      val sentinelMs = evs.map(_.ts.getTime).max + 100L * 3600000
      in.addData(Event(-1L, new Timestamp(sentinelMs), -7L, touches.head, 0.0))
      q.processAllAvailable()
      in.addData(Event(-2L, new Timestamp(sentinelMs + 3600000), -7L, touches.head, 0.0))
      q.processAllAvailable()
      val streamed = spark.table("asof_diff").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      val ev = graft.Tables.events(spark, dir)
      val left = ev.filter(col("event_type").isin(convs.toSeq: _*))
        .select(col("user_id"), col("event_id").as("conv_id"), col("ts"))
      val right = ev.filter(col("event_type").isin(touches.toSeq: _*))
        .select(col("user_id"), col("event_id").as("touch_id"), col("ts"))
      val batch = graft.operators.AsOf.asOfJoin(left, right, Seq("user_id"),
        "ts", "ts", Seq("touch_id"), rightOrder = Seq("touch_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      assert(batch.nonEmpty && batch.exists(_._2.isDefined),
        "fixture must exercise real attributions")
      assert(streamed == batch, {
        val onlyS = streamed.keySet -- batch.keySet
        val onlyB = batch.keySet -- streamed.keySet
        val diff = (streamed.keySet & batch.keySet).filter(k => streamed(k) != batch(k))
        s"onlyStream=${onlyS.take(5)} onlyBatch=${onlyB.take(5)} valueDiff=${diff.take(5).map(k => (k, streamed(k), batch(k)))}"
      })
    } finally q.stop()
  }

  test("streamingInterarrival histogram EQUALS the batch interarrivalHist on real events") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val in = MemoryStream[Event]
    val out = StreamingTwins.streamingInterarrival(in.toDS())
    val q = out.writeStream.format("memory").queryName("gap_diff")
      .outputMode("append").start()
    try {
      in.addData(evs)
      q.processAllAvailable()
      // sentinel pair for a fake user: advances the watermark past every
      // real event; its own first event emits no gap and its second stays
      // buffered, so nothing is emitted for it
      val sentinelMs = evs.map(_.ts.getTime).max + 100L * 3600000
      in.addData(Event(-1L, new Timestamp(sentinelMs), -7L, "s", 0.0))
      q.processAllAvailable()
      in.addData(Event(-2L, new Timestamp(sentinelMs + 3600000), -7L, "s", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("gap_diff")
        .groupBy(col("event_type"), col("bucket")).count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.RelationalQueries.interarrivalHist(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(batch.nonEmpty && streamed == batch,
        s"streamed=$streamed\nbatch=$batch")
    } finally q.stop()
  }

  test("streamingScd2 EQUALS the batch scd2Build's closed versions on real events") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val in = MemoryStream[Event]
    val out = StreamingTwins.streamingScd2(in.toDS())
    val q = out.writeStream.format("memory").queryName("scd2_diff")
      .outputMode("append").start()
    try {
      in.addData(evs)
      q.processAllAvailable()
      // far-future same-type sentinel pair: advances the watermark past
      // every real event (draining all closable versions) while its own
      // fake user only ever holds one OPEN version — nothing emitted for it
      val sentinelMs = evs.map(_.ts.getTime).max + 100L * 3600000
      in.addData(Event(-1L, new Timestamp(sentinelMs), -7L, "s", 0.0))
      q.processAllAvailable()
      in.addData(Event(-2L, new Timestamp(sentinelMs + 3600000), -7L, "s", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("scd2_diff").collect()
        .map(r => (r.getLong(0), r.getLong(4)) ->
          ((r.getString(1), r.getTimestamp(2), r.getTimestamp(3)))).toMap
      val open = java.time.Instant.parse("2100-01-01T00:00:00Z").toEpochMilli
      val batch = graft.RelationalQueries.scd2Build(spark, dir)
        .collect()
        .filter(r => r.getTimestamp(3).getTime != open) // closed versions only
        .map(r => (r.getLong(0), r.getLong(4)) ->
          ((r.getString(1), r.getTimestamp(2), r.getTimestamp(3)))).toMap
      assert(batch.nonEmpty, "fixture must exercise real closed versions")
      assert(streamed == batch, {
        val onlyS = streamed.keySet -- batch.keySet
        val onlyB = batch.keySet -- streamed.keySet
        val diff = (streamed.keySet & batch.keySet).filter(k => streamed(k) != batch(k))
        s"onlyStream=${onlyS.take(5)} onlyBatch=${onlyB.take(5)} " +
          s"valueDiff=${diff.take(3).map(k => (k, streamed(k), batch(k)))}"
      })
    } finally q.stop()
  }
}
