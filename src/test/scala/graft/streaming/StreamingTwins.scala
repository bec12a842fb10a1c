package graft.streaming

import graft.streaming.EventStreams.Event
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Streaming twins of batch operators, kept beside the specs as
  * independent references: each re-derives a batch operator's answer
  * through Structured Streaming state (watermarks, event-time timeouts,
  * `flatMapGroupsWithState` buffers), and its differential spec asserts
  * the two agree on the same rows. No contract query runs a twin; most of
  * the batch operators they check are contract queries.
  */
object StreamingTwins {

  /** Clip-at-ingest: each streamed value clipped into its event_type's
    * static [vlo, vhi] band — the stream-static join pattern. Thresholds
    * come from the BATCH winsorize decomposition over history
    * (`RelationalQueries.winsorizeThresholds`) and broadcast into every
    * micro-batch; the transform itself is stateless (no watermark, no
    * state store), so it runs at ingest speed and cannot reorder or drop
    * rows. Types unseen in history pass through unclipped (left join —
    * no band, no opinion at ingest). Output schema matches the batch
    * `RelationalQueries.winsorize` row-for-row; the differential spec
    * asserts exact equality on real events.
    */
  def streamingClip(events: DataFrame, thresholds: DataFrame): DataFrame =
    events.join(broadcast(thresholds), Seq("event_type"), "left")
      .select(col("event_id"), col("event_type"),
        when(col("vlo").isNull, col("value"))
          .otherwise(greatest(least(col("value"), col("vhi")), col("vlo"))).as("clipped"),
        coalesce((col("value") < col("vlo") || col("value") > col("vhi"))
          .cast("long"), lit(0L)).as("was_clipped"))

  /** Streaming windowed APPROXIMATE DISTINCT users (KMV bottom-k sketch,
    * `functions.KmvSmallest`): per (window, event_type), the k smallest
    * distinct portable user-id hashes — the sketch buffer is the
    * aggregation state, partials merge in the state store like any other
    * partial aggregate, and duplicates collapse in the buffer, so state is
    * ≤ 8·k bytes per open group NO MATTER how many events or distinct
    * users the window sees (an exact windowed countDistinct would hold
    * every user id in state). The emitted estimate is IDENTICAL to the
    * batch KMV sketch over the same rows — deterministic, so the
    * differential spec asserts equality, not approximation.
    */
  def windowedApproxDistinct(events: DataFrame, k: Int = 64,
                             windowDur: String = "1 hour",
                             slide: String = "1 hour",
                             watermark: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    val mins = bridge.column(graft.functions.KmvSmallest(
      bridge.expression(graft.functions.PortableHash.hash60(col("user_id"))), k)
      .toAggregateExpression())
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slide), col("event_type"))
      .agg(mins.as("mins"))
      .select(col("window.start").as("win_start"), col("event_type"),
        when(size(col("mins")) < k, size(col("mins")).cast("long"))
          .otherwise(floor(lit((k - 1).toDouble * math.pow(2.0, 60)) /
            element_at(col("mins"), k).cast("double")).cast("long"))
          .as("est_users"))
  }

  /** Streaming count-min sketch per event-time window — the CMS twin of
    * `pipeline.TextAnalysis.heavyHitters`, for hot-n-gram detection in a
    * document INGEST feed. The aggregation state is the sketch itself:
    * ≤ depth·width counter rows per open window REGARDLESS of stream
    * volume (an exact windowed per-n-gram count would hold the full n-gram
    * space in state). Counts are additive, so the windowed sum IS the
    * sketch — the differential spec asserts the streamed windows EQUAL the
    * batch sketch over the same rows, cell for cell. Hot-key queries probe
    * the emitted sketch exactly as the batch operator does.
    * Expects columns (ts: timestamp, text: string, ...).
    */
  def windowedHeavyHitterSketch(docs: DataFrame, n: Int = 3, depth: Int = 4,
                                width: Int = 1024,
                                windowDur: String = "10 minutes",
                                slide: String = "10 minutes",
                                watermark: String = "1 hour"): DataFrame = {
    import graft.pipeline.{Dedup, TextAnalysis}
    docs
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(Dedup.shingles(Dedup.tokens(col("text")), n)).as("ngram"))
      .select(col("ts"), explode(TextAnalysis.cmsSites(col("ngram"), depth, width)).as("rb"))
      .select(col("ts"), col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .groupBy(window(col("ts"), windowDur, slide), col("row"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start"), col("row"), col("bucket"), col("cnt"))
  }

  /** Per-window streaming funnel: the deepest strictly-time-increasing
    * stage prefix each user completes WITHIN each event-time window — the
    * streaming twin of `RelationalQueries.funnelStages`, built on the SAME
    * fold column (`funnelFold`), so the two cannot drift. State per open
    * (window, user) group is that user's in-window events — bounded by
    * per-user activity per window, pruned by the watermark. Emitted when
    * the window closes; the differential spec asserts equality with the
    * batch fold over the same rows.
    */
  def windowedFunnel(events: DataFrame, stages: Seq[String],
                     windowDur: String = "1 hour",
                     slide: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slide), col("user_id"))
      .agg(graft.RelationalQueries.funnelFold(stages))
      .select(col("window.start").as("win_start"), col("user_id"), col("funnel_stage"))

  /** Streaming decontamination at ingest: every arriving document is
    * checked against a STATIC eval-set shingle index — the streaming twin
    * of `pipeline.Dedup.crossCorpusOverlap` with the training side
    * unbounded. The eval index is a static frame in a stream-static join
    * (planned once, broadcast when small — the usual case for an eval
    * set); overlap is aggregated per (window, doc, eval_doc) with the
    * watermark bounding state, and emitted when the window closes.
    * Output: (win_start, doc_id, eval_doc, shared, contamination).
    */
  def streamingDecontaminate(docs: DataFrame, evalDocs: DataFrame, k: Int = 5,
                             windowDur: String = "10 minutes",
                             watermark: String = "1 hour"): DataFrame = {
    import graft.pipeline.Dedup
    val evalIdx = evalDocs
      .select(col("doc_id").as("eval_doc"),
        array_distinct(Dedup.shingleHashes(Dedup.tokens(col("text")), k)).as("sh"))
      .select(col("eval_doc"), size(col("sh")).cast("long").as("n_eval"),
        explode(col("sh")).as("h"))
    val streamSh = docs
      .withWatermark("ts", watermark)
      .select(col("ts"), col("doc_id"),
        explode(array_distinct(Dedup.shingleHashes(Dedup.tokens(col("text")), k))).as("h"))
    streamSh.join(evalIdx, Seq("h"))
      .groupBy(window(col("ts"), windowDur), col("doc_id"), col("eval_doc"), col("n_eval"))
      .agg(count(lit(1)).as("shared"))
      .select(col("window.start").as("win_start"), col("doc_id"), col("eval_doc"),
        col("shared"), round(col("shared").cast("double") / col("n_eval"), 6).as("contamination"))
  }

  final case class BandedVec(ts: Timestamp, vec_id: Long, band: Int,
                             bucket: Long, emb: Seq[Float])
  final case class EmbPair(vec_a: Long, vec_b: Long, cos_sim: Double)
  final case class VecBucketState(vecs: List[(Long, Seq[Float])], dropped: Long)

  /** Streaming SEMANTIC near-duplicate detection at ingestion: the
    * streaming twin of
    * `Similarity.embeddingNearDup`. Each arriving vector is exploded into
    * its portable sign-LSH band buckets and cosine-verified against the
    * per-bucket state of previously seen vectors, emitting
    * (vec_a, vec_b, cos_sim) with cos ≥ `threshold` as discovered.
    *
    * Same bounded-state discipline as the minhash twin: keyed by
    * (band, bucket) — the batch bucket-join shuffle key, so hot buckets
    * spread by bucket; per-bucket vector list capped at `maxPerBucket`
    * with the drop count carried in state (no silent cap; a capped bucket
    * keeps MATCHING against what it holds); whole-bucket state removed on
    * event-time timeout. State per bucket ≤ maxPerBucket·(8 + 4·dim)
    * bytes. The cosine is the same fused fold as the batch verify (and
    * the same HALF_UP rounding at 6), so a pair discovered by both paths
    * carries the identical score — the differential spec asserts set
    * equality against `embeddingNearDup` on the same vectors.
    */
  def streamingEmbeddingNearDup(vecs: DataFrame, threshold: Double = 0.4,
                                bands: Int = 4, planesPerBand: Int = 4, dim: Int = 64,
                                watermark: String = "1 hour",
                                stateHorizonMs: Long = 3600000L,
                                maxPerBucket: Int = 64): Dataset[EmbPair] = {
    import vecs.sparkSession.implicits._
    val banded = vecs
      .select(col("ts"), col("vec_id"), col("embedding"),
        posexplode(graft.pipeline.Similarity.lshBandBuckets(
          col("embedding"), bands, planesPerBand, dim)))
      .select(col("ts"), col("vec_id"), col("pos").as("band"),
        col("col").as("bucket"), col("embedding").as("emb"))
      .withWatermark("ts", watermark)
      .as[BandedVec]
    def cos6(a: Seq[Float], b: Seq[Float]): Double = {
      // the CosineSimilarity fold (double accumulators, element order) +
      // Spark's HALF_UP round(…, 6) — bit-identical to the batch verify
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val xi = a(i).toDouble; val yi = b(i).toDouble
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      val c = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    banded
      .groupByKey(d => (d.band, d.bucket))
      .flatMapGroupsWithState[VecBucketState, EmbPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (Int, Long), rows: Iterator[BandedVec], state: GroupState[VecBucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(VecBucketState(Nil, 0L))
            val out = List.newBuilder[EmbPair]
            var lastTs = 0L
            for (d <- rows.toSeq.sortBy(x => (x.ts.getTime, x.vec_id))) {
              lastTs = math.max(lastTs, d.ts.getTime)
              for ((id0, e0) <- st.vecs if id0 != d.vec_id) {
                val cs = cos6(e0, d.emb)
                if (cs >= threshold)
                  out += EmbPair(math.min(id0, d.vec_id), math.max(id0, d.vec_id), cs)
              }
              if (st.vecs.length < maxPerBucket)
                st = st.copy(vecs = (d.vec_id, d.emb) :: st.vecs)
              else
                st = st.copy(dropped = st.dropped + 1) // accounted, not silent
            }
            state.update(st)
            state.setTimeoutTimestamp(lastTs + stateHorizonMs)
            out.result().iterator
          }
      }
  }

  final case class Session(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Int, total_value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, total: Double)

  final case class CovRow(win_start: Timestamp, c: String, c2: String, cov: Double)
  final case class CovState(sums: Map[(Long, String), (Double, Long)])

  /** Streaming twin of the flagship covariance pipeline
    * (`LaraQueries.covariance`): per event-time window, the covariance
    * matrix of per-(bin, event_type) mean values — emitted once the
    * watermark closes the window.
    *
    * Semantics per window match the batch pipeline exactly (bin averages,
    * per-type means over present bins, Σ over bins where both types are
    * present, / (nBins − 1), c ≤ c2). Global (all-time) covariance needs
    * the full table's means and is inherently batch; the windowed form is
    * the streaming-native reading.
    *
    * State per window is the (bin, type) → (sum, count) table —
    * windowSec/binSec × |types| entries, independent of event volume —
    * and is removed on event-time timeout. One stateful operator, no
    * stream-stream join.
    */
  def windowedCovariance(events: Dataset[Event],
                         windowSec: Long = 21600L,
                         binSec: Long = 3600L,
                         watermark: String = "1 hour"): Dataset[CovRow] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(e => (e.ts.getTime / 1000 / windowSec) * windowSec)
      .flatMapGroupsWithState[CovState, CovRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (winStart: Long, rows: Iterator[Event], state: GroupState[CovState]) =>
          if (state.hasTimedOut) {
            val sums = state.get.sums
            state.remove()
            covFromSums(winStart, sums).iterator
          } else {
            var sums = state.getOption.map(_.sums).getOrElse(Map.empty)
            for (e <- rows) {
              val key = ((e.ts.getTime / 1000 / binSec) * binSec, e.event_type)
              val (s, n) = sums.getOrElse(key, (0.0d, 0L))
              sums = sums.updated(key, (s + e.value, n + 1))
            }
            state.update(CovState(sums))
            // close the window once the watermark passes its end
            val closeAt = (winStart + windowSec) * 1000
            state.setTimeoutTimestamp(math.max(closeAt, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  private def covFromSums(winStart: Long, sums: Map[(Long, String), (Double, Long)]): Seq[CovRow] = {
    // bin averages → per-type means over present bins → pairwise Σ u·u'
    val x: Map[(Long, String), Double] = sums.map { case (k, (s, n)) => k -> s / n }
    val types = x.keys.map(_._2).toSeq.distinct.sorted
    val nBins = x.keys.map(_._1).toSeq.distinct.size
    if (nBins < 2) return Seq.empty // covariance undefined for a single bin
    val mean: Map[String, Double] = types.map { c =>
      val vs = x.collect { case ((_, `c`), v) => v }
      c -> vs.sum / vs.size
    }.toMap
    for {
      c <- types; c2 <- types if c <= c2
      shared = x.keys.collect { case (t, `c`) => t }.toSet &
        x.keys.collect { case (t, `c2`) => t }.toSet
      if shared.nonEmpty
    } yield {
      val sp = shared.toSeq.sorted.map(t => (x((t, c)) - mean(c)) * (x((t, c2)) - mean(c2))).sum
      // same tie rule as the batch twin's round(_, 6): Spark's Round on
      // doubles is BigDecimal(valueOf semantics).setScale(6, HALF_UP) —
      // math.rint would round half-even and disagree by one grid step on
      // values landing exactly on the 1e-6 grid
      CovRow(new Timestamp(winStart * 1000), c, c2,
        BigDecimal(sp / (nBins - 1)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  /** Gap-based sessionization via flatMapGroupsWithState: a session closes
    * when no event arrives within `gapMs` of the last one (event time,
    * enforced by watermark timeout). Custom keyed state — the
    * `KeyValueGroupedDataset` path the reference has no equivalent for.
    */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", s"${gapMs / 1000} seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  final case class RateRow(event_type: String, h: Long, n: Long, z: Option[Double])
  /** `open`: hour → count for hours the watermark has not yet passed;
    * `ring`: the last ≤ `trailing` CLOSED (hour, count) pairs in hour order
    * — exactly the batch query's `rowsBetween(-trailing, -1)` frame.
    */
  final case class RateState(open: Map[Long, Long], ring: List[(Long, Long)])

  /** Streaming twin of `RelationalQueries.rateAnomaly`: per event_type, each
    * hourly count scored against the trailing `trailing` CLOSED hourly
    * counts — z = (n − mean)/sd — emitted when the watermark passes the end
    * of the hour. Built on the same exact-integer contract as the batch
    * query: the trailing frame is carried as (S1=Σn, S2=Σn², k) integer
    * sums, and mean/sd/z replay the batch plan's IEEE double op sequence
    * verbatim, so the differential spec asserts EQUALITY, not closeness.
    *
    * The trailing frame is row-based over hours that HAVE events (the batch
    * window is `rowsBetween`, not `rangeBetween`), so empty hours vanish
    * from the frame in both engines identically.
    *
    * State per event_type is bounded by construction: the ring holds at
    * most `trailing` pairs, and `open` holds at most watermark-horizon/1h
    * in-flight hours — independent of event volume, so a 100 TB/day feed
    * carries the same per-key state as the unit test. One shuffle on
    * event_type, the same key the batch window partitions by. The ring must
    * OUTLIVE quiet periods (the batch frame spans arbitrary gaps), so state
    * is never removed; keys are event types — a handful — and a timeout is
    * re-armed only while hours are in flight.
    */
  def streamingRateAnomaly(events: Dataset[Event], trailing: Int = 24,
                           minHours: Int = 12,
                           watermark: String = "2 hours"): Dataset[RateRow] = {
    import events.sparkSession.implicits._
    val hourMs = 3600000L

    // Close every open hour the watermark has passed, oldest first; score
    // each against the ring THEN append it — the batch frame excludes the
    // current row (`-1` upper bound).
    def closeReady(st: RateState, wm: Long): (RateState, List[RateRow]) = {
      val (ready, stillOpen) = st.open.partition { case (h, _) => (h + 1) * hourMs <= wm }
      var ring = st.ring
      val out = List.newBuilder[RateRow]
      for ((h, n) <- ready.toList.sortBy(_._1)) {
        val k = ring.size
        if (k >= minHours) {
          val s1 = ring.iterator.map(_._2).sum
          val s2 = ring.iterator.map(p => p._2 * p._2).sum
          val mean = s1.toDouble / k.toDouble
          val sd = math.sqrt((k * s2 - s1 * s1).toDouble / (k.toDouble * (k - 1).toDouble))
          out += RateRow(null, h, n,
            if (sd == 0d) None else Some((n.toDouble - mean) / sd))
        }
        ring = (ring :+ (h, n)).takeRight(trailing)
      }
      (RateState(stillOpen, ring), out.result())
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[RateState, RateRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (etype: String, rows: Iterator[Event], state: GroupState[RateState]) =>
          val prev = state.getOption.getOrElse(RateState(Map.empty, Nil))
          var open = prev.open
          for (e <- rows) {
            val h = e.ts.getTime / hourMs
            open = open.updated(h, open.getOrElse(h, 0L) + 1L)
          }
          val (next, closed) =
            closeReady(RateState(open, prev.ring), state.getCurrentWatermarkMs())
          state.update(next)
          if (next.open.nonEmpty) {
            val nextClose = (next.open.keys.min + 1) * hourMs
            state.setTimeoutTimestamp(math.max(nextClose, state.getCurrentWatermarkMs() + 1))
          }
          closed.map(_.copy(event_type = etype)).iterator
      }
  }

  final case class FirstTouch(user_id: Long, fday: Long)
  /** `fday`: the candidate (or emitted) first day; `emitted`: tombstone —
    * the watermark has passed the day, the row is out, later events of
    * this user must never re-emit. Tombstones are the honest price of
    * exactly-once first-touch: state is bounded by |users|, not events.
    */
  final case class FirstTouchState(fday: Long, emitted: Boolean)

  /** Streaming first-touch: each user's first active day, emitted once the
    * watermark passes that day's end (no earlier event can still arrive).
    * The streaming half of `RelationalQueries.rollingActives`' identity —
    * counting emissions per day downstream reproduces the batch n_new
    * exactly (differential spec), and a running total of those counts is
    * the cumulative-distinct-actives curve at ingest time.
    */
  def streamingFirstTouch(events: Dataset[Event],
                          watermark: String = "2 hours"): Dataset[FirstTouch] = {
    import events.sparkSession.implicits._
    val dayMs = 86400000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FirstTouchState, FirstTouch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[FirstTouchState]) =>
          val prev = state.getOption.getOrElse(FirstTouchState(Long.MaxValue, emitted = false))
          if (prev.emitted) {
            state.update(prev) // tombstone: suppress forever
            Iterator.empty
          } else {
            var f = prev.fday
            for (e <- rows) f = math.min(f, e.ts.getTime / dayMs)
            val wm = state.getCurrentWatermarkMs()
            if (f != Long.MaxValue && wm >= (f + 1) * dayMs) {
              state.update(FirstTouchState(f, emitted = true))
              Iterator.single(FirstTouch(uid, f))
            } else {
              state.update(FirstTouchState(f, emitted = false))
              if (f != Long.MaxValue)
                state.setTimeoutTimestamp(math.max((f + 1) * dayMs, wm + 1))
              Iterator.empty
            }
          }
      }
  }

  final case class TwapHold(event_type: String, day: Long, start_ms: Long,
                            cents: Long, dur_ms: Long)
  /** `buf`: events the watermark has not yet passed; `carryTs`/`carryCents`:
    * the latest replayed observation — the open hold awaiting its close.
    */
  final case class TwapState(buf: List[(Long, Long, Long)],
                             carryTs: Long, carryCents: Long)

  /** Streaming TWAP holds — the ingest-time twin of
    * `RelationalQueries.twap`: each replayed event closes the previous
    * observation's hold, emitting (type, start-day, start, cents, duration).
    * Summing cents·dur and dur per (type, day) reproduces the batch TWAP
    * components exactly (the differential spec does precisely that).
    * Emission is per-hold, not per-day: a day cannot close until the
    * type's NEXT event arrives — its last hold may start in the day and
    * end arbitrarily later — so holds are the honest append-mode unit.
    * The type's final observation never closes, matching the batch
    * exclusion.
    *
    * Same buffered-replay discipline as [[streamingAsOf]]: out-of-order
    * arrivals wait until the watermark passes their event time, then
    * replay in (ts, event_id) order; state is the in-flight buffer plus
    * ONE carried observation. `math.round` equals the batch
    * `round(value·100)` for the non-negative value domain (the engines
    * differ only at negative .5 ties).
    */
  def streamingTwapHolds(events: Dataset[Event],
                         watermark: String = "2 hours"): Dataset[TwapHold] = {
    import events.sparkSession.implicits._
    def drain(et: String, st: TwapState, wm: Long): (TwapState, List[TwapHold]) = {
      val (ready, still) = st.buf.partition(_._1 < wm)
      var (cTs, cC) = (st.carryTs, st.carryCents)
      val out = List.newBuilder[TwapHold]
      for ((t, _, cents) <- ready.sorted) {
        if (cTs != Long.MinValue)
          out += TwapHold(et, cTs / 86400000L, cTs, cC, t - cTs)
        cTs = t; cC = cents
      }
      (TwapState(still, cTs, cC), out.result())
    }
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[TwapState, TwapHold](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (et: String, rows: Iterator[Event], state: GroupState[TwapState]) =>
          val prev = state.getOption.getOrElse(TwapState(Nil, Long.MinValue, 0L))
          var buf = prev.buf
          for (e <- rows)
            buf = (e.ts.getTime, e.event_id, math.round(e.value * 100)) :: buf
          val (next, out) = drain(et, prev.copy(buf = buf), state.getCurrentWatermarkMs())
          state.update(next)
          if (next.buf.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(next.buf.map(_._1).min + 1, state.getCurrentWatermarkMs() + 1))
          out.iterator
      }
  }

  final case class GapRow(event_type: String, bucket: String)
  /** `buf`: in-flight events as (sec, nanos, event_id, event_type); the
    * carry is the last REPLAYED event's (sec, nanos) — the predecessor of
    * whatever drains next.
    */
  final case class GapState(buf: List[(Long, Int, Long, String)],
                            hasPrev: Boolean, prevSec: Long, prevNanos: Int)

  /** Streaming twin of `RelationalQueries.interarrivalHist`'s gap
    * derivation: per user, each drained event emits (event_type, bucket)
    * for the exact µs gap to the SAME user's previous event — the
    * streamingScd2 buffered-replay discipline (watermark-ordered
    * (ts, event_id) replay, microsecond-precise (sec, nanos) state), with
    * the histogram aggregation left to the consumer (`groupBy(type,
    * bucket).count` completes the batch query; the differential spec does
    * exactly that and asserts EQUALITY on real events).
    *
    * State per user: the in-flight buffer plus one (sec, nanos) carry.
    */
  def streamingInterarrival(events: Dataset[Event],
                            watermark: String = "2 hours"): Dataset[GapRow] = {
    import events.sparkSession.implicits._

    def bucket(gapUs: Long): String =
      if (gapUs < 1000000L) "0_lt_1s"
      else if (gapUs < 10000000L) "1_1s_10s"
      else if (gapUs < 60000000L) "2_10s_1m"
      else if (gapUs < 600000000L) "3_1m_10m"
      else if (gapUs < 3600000000L) "4_10m_1h"
      else if (gapUs < 21600000000L) "5_1h_6h"
      else if (gapUs < 86400000000L) "6_6h_1d"
      else "7_ge_1d"
    def us(sec: Long, nanos: Int): Long = sec * 1000000L + nanos / 1000L

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, GapRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, rows: Iterator[Event], state: GroupState[GapState]) =>
          val prev = state.getOption.getOrElse(GapState(Nil, hasPrev = false, 0L, 0))
          var buf = prev.buf
          for (e <- rows)
            buf = (Math.floorDiv(e.ts.getTime, 1000L), e.ts.getNanos,
              e.event_id, e.event_type) :: buf
          val wm = state.getCurrentWatermarkMs()
          val (ready, still) = buf.partition { case (sec, nanos, _, _) =>
            sec * 1000 + nanos / 1000000 < wm
          }
          var (has, ps, pn) = (prev.hasPrev, prev.prevSec, prev.prevNanos)
          val out = List.newBuilder[GapRow]
          for ((sec, nanos, _, ty) <- ready.sortBy(e => (e._1, e._2, e._3))) {
            if (has) out += GapRow(ty, bucket(us(sec, nanos) - us(ps, pn)))
            has = true; ps = sec; pn = nanos
          }
          state.update(GapState(still, has, ps, pn))
          if (still.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(still.map { case (s, n, _, _) => s * 1000 + n / 1000000 }.min + 1,
                wm + 1))
          out.result().iterator
      }
  }

  final case class Attribution(user_id: Long, conv_id: Long, conv_ts: Timestamp,
                               touch_id: Option[Long], touch_ts: Option[Timestamp],
                               lag_ms: Option[Long])
  /** `buf`: events the watermark has not yet passed, as
    * (tsMs, sideBit, event_id) — sideBit 0 = touch, 1 = conversion, the
    * same sort the batch union carries; `carryId`/`carryTs`: the latest
    * already-emitted touch (the window's `last(_, ignoreNulls)` carry).
    */
  final case class AsOfState(buf: List[(Long, Int, Long)],
                             carryId: Long, carryTs: Long)

  /** Streaming as-of join (attribution): for each conversion event, the
    * latest touch event at-or-before it by the same user — the streaming
    * twin of `operators.AsOf.asOfJoin(keys=user_id)`, with identical
    * ordering semantics: events replay in (ts, side, event_id) order with
    * touches BEFORE conversions at equal time (a touch at exactly the
    * conversion's timestamp is visible to it), latest tied touch wins.
    * Conversions with no prior touch emit null attribution (left-join
    * semantics).
    *
    * Out-of-order arrivals are buffered until the watermark passes their
    * event time, then replayed in order — emission is deterministic
    * because Spark's late filter guarantees no event older than the
    * watermark arrives afterward. State per user is the in-flight buffer
    * (bounded by per-user activity within the watermark horizon) plus ONE
    * carried touch; it shrinks to the carry alone when the user goes
    * quiet. One shuffle on user_id — the key the batch window partitions
    * by.
    */
  final case class ScdRow(user_id: Long, event_type: String, valid_from: Timestamp,
                          valid_to: Timestamp, version: Long)
  /** `buf`: events the watermark has not yet passed, as (sec, nanos,
    * event_id, event_type) — seconds + full sub-second nanos so the
    * original microsecond Timestamp round-trips exactly; the open-version
    * carry is (openType, fromSec, fromNanos, version).
    */
  final case class ScdState(buf: List[(Long, Int, Long, String)],
                            openType: Option[String], fromSec: Long, fromNanos: Int,
                            version: Long)

  /** Streaming twin of `RelationalQueries.scd2Build` — SCD2 version rows
    * built AT INGEST: per user, a run of equal event_type stays one open
    * version; when a drained event switches the type, the finished version
    * is emitted as [valid_from, valid_to) with its per-user version number.
    * Replay order is (ts, event_id) — the batch window's exact sort, tied
    * timestamps included — with out-of-order arrivals buffered until the
    * watermark passes their event time (the streamingAsOf discipline).
    * Timestamps are carried at full microsecond precision through the
    * (sec, nanos) split, so the differential spec asserts EQUALITY of
    * emitted rows against the batch build's CLOSED versions (append mode
    * cannot retract, so the still-open version is never emitted — exactly
    * the rows the batch twin marks with the 2100-01-01 sentinel).
    *
    * State per user: the in-flight buffer (bounded by per-user activity
    * within the watermark horizon) plus ONE open-version carry — it
    * shrinks to the carry alone when the user goes quiet. One shuffle on
    * user_id, the key the batch windows partition by.
    */
  def streamingScd2(events: Dataset[Event],
                    watermark: String = "2 hours"): Dataset[ScdRow] = {
    import events.sparkSession.implicits._

    def ts(sec: Long, nanos: Int): Timestamp = {
      val t = new Timestamp(sec * 1000); t.setNanos(nanos); t
    }
    def drain(uid: Long, st: ScdState, wm: Long): (ScdState, List[ScdRow]) = {
      val (ready, still) = st.buf.partition { case (sec, nanos, _, _) =>
        sec * 1000 + nanos / 1000000 < wm
      }
      var (open, fs, fn, ver) = (st.openType, st.fromSec, st.fromNanos, st.version)
      val out = List.newBuilder[ScdRow]
      for ((sec, nanos, _, ty) <- ready.sortBy(e => (e._1, e._2, e._3))) {
        open match {
          case Some(o) if o == ty => // run continues
          case Some(o) =>
            out += ScdRow(uid, o, ts(fs, fn), ts(sec, nanos), ver)
            open = Some(ty); fs = sec; fn = nanos; ver += 1
          case None =>
            open = Some(ty); fs = sec; fn = nanos; ver = 1
        }
      }
      (ScdState(still, open, fs, fn, ver), out.result())
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ScdState, ScdRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[ScdState]) =>
          val prev = state.getOption.getOrElse(ScdState(Nil, None, 0L, 0, 0L))
          var buf = prev.buf
          for (e <- rows)
            buf = (Math.floorDiv(e.ts.getTime, 1000L), e.ts.getNanos,
              e.event_id, e.event_type) :: buf
          val (next, out) =
            drain(uid, prev.copy(buf = buf), state.getCurrentWatermarkMs())
          state.update(next)
          if (next.buf.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(next.buf.map { case (s, n, _, _) => s * 1000 + n / 1000000 }.min + 1,
                state.getCurrentWatermarkMs() + 1))
          out.iterator
      }
  }

  /** (buffer, last CLOSED run, open run) for [[streamingPatternMatch]]. */
  final case class PatState(buf: List[(Long, Int, Long, String)],
                            prevType: Option[String], prevSize: Long,
                            openType: Option[String], openSize: Long)
  final case class PatMatch(user_id: Long, views_before: Long, n_purchases: Long)

  /** Streaming twin of `RelationalQueries.patternMatch` — the CEP
    * `view+ purchase` run pattern detected AT INGEST: per user, events
    * replay in the batch window's exact (ts, event_id) order (watermark-
    * buffered, the streamingScd2 discipline); a run CLOSES when a
    * different type arrives, and a closing purchase-run whose predecessor
    * run was views emits one match row. Append mode cannot retract, so a
    * user's final (never-closed) run cannot match — the differential spec
    * closes every tail run with a per-user sentinel event on BOTH sides
    * and asserts the aggregated histogram EQUALS the batch query's.
    *
    * State per user: the watermark-horizon buffer plus two (type, size)
    * run summaries — bounded like every twin here.
    */
  def streamingPatternMatch(events: Dataset[Event],
                            watermark: String = "2 hours"): Dataset[PatMatch] = {
    import events.sparkSession.implicits._
    def drain(uid: Long, st: PatState, wm: Long): (PatState, List[PatMatch]) = {
      val (ready, still) = st.buf.partition { case (sec, nanos, _, _) =>
        sec * 1000 + nanos / 1000000 < wm
      }
      var (pt, ps, ot, os) = (st.prevType, st.prevSize, st.openType, st.openSize)
      val out = List.newBuilder[PatMatch]
      for ((_, _, _, ty) <- ready.sortBy(e => (e._1, e._2, e._3))) {
        ot match {
          case Some(o) if o == ty => os += 1
          case Some(o) =>
            if (o == "purchase" && pt.contains("view")) out += PatMatch(uid, ps, os)
            pt = Some(o); ps = os; ot = Some(ty); os = 1
          case None => ot = Some(ty); os = 1
        }
      }
      (PatState(still, pt, ps, ot, os), out.result())
    }
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PatState, PatMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[PatState]) =>
          val prev = state.getOption.getOrElse(PatState(Nil, None, 0L, None, 0L))
          var buf = prev.buf
          for (e <- rows)
            buf = (Math.floorDiv(e.ts.getTime, 1000L), e.ts.getNanos,
              e.event_id, e.event_type) :: buf
          val (next, out) =
            drain(uid, prev.copy(buf = buf), state.getCurrentWatermarkMs())
          state.update(next)
          if (next.buf.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(next.buf.map { case (s, n, _, _) => s * 1000 + n / 1000000 }.min + 1,
                state.getCurrentWatermarkMs() + 1))
          out.iterator
      }
  }

  def streamingAsOf(events: Dataset[Event], touchTypes: Set[String],
                    convTypes: Set[String],
                    watermark: String = "2 hours"): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    require((touchTypes & convTypes).isEmpty, "an event type cannot be both sides")

    def drain(uid: Long, st: AsOfState, wm: Long): (AsOfState, List[Attribution]) = {
      val (ready, still) = st.buf.partition(_._1 < wm)
      var (cId, cTs) = (st.carryId, st.carryTs)
      val out = List.newBuilder[Attribution]
      for ((t, side, id) <- ready.sorted) {
        if (side == 0) { cId = id; cTs = t }
        else out += Attribution(uid, id, new Timestamp(t),
          if (cId == Long.MinValue) None else Some(cId),
          if (cId == Long.MinValue) None else Some(new Timestamp(cTs)),
          if (cId == Long.MinValue) None else Some(t - cTs))
      }
      (AsOfState(still, cId, cTs), out.result())
    }

    events
      .filter(e => touchTypes.contains(e.event_type) || convTypes.contains(e.event_type))
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, Attribution](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[AsOfState]) =>
          val prev = state.getOption.getOrElse(AsOfState(Nil, Long.MinValue, Long.MinValue))
          var buf = prev.buf
          for (e <- rows)
            buf = (e.ts.getTime, if (convTypes.contains(e.event_type)) 1 else 0,
              e.event_id) :: buf
          val (next, out) =
            drain(uid, prev.copy(buf = buf), state.getCurrentWatermarkMs())
          state.update(next)
          if (next.buf.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(next.buf.map(_._1).min + 1, state.getCurrentWatermarkMs() + 1))
          out.iterator
      }
  }

  /** Batch twin of [[windowedCovariance]]: per event-time window, the
    * covariance matrix of per-(bin, type) mean values — same in-window
    * semantics as `LaraQueries.covariance` grouped by window. Doubles
    * throughout, so it is also the unquantized reference for the
    * `RelationalQueries.windowedCovariancePortable` contract.
    */
  def windowedCovarianceBatch(s: SparkSession, d: String,
                              windowSec: Long = 21600L, binSec: Long = 3600L): DataFrame = {
    val binned = graft.Tables.events(s, d)
      .withColumn("w", (floor(unix_timestamp(col("ts")) / windowSec) * windowSec).cast("long"))
      .withColumn("t", (floor(unix_timestamp(col("ts")) / binSec) * binSec).cast("long"))
      .groupBy(col("w"), col("t"), col("event_type").as("c"))
      .agg(avg(col("value")).as("v"))
      .cache() // reused: means, bin counts, both self-join sides
    graft.pipeline.InternalCaches.register(binned)
    val m = binned.groupBy(col("w"), col("c")).agg(avg(col("v")).as("mean"))
    val nb = binned.groupBy(col("w")).agg(countDistinct(col("t")).as("nb"))
    val u = binned.join(m, Seq("w", "c"))
      .select(col("w"), col("t"), col("c"), (col("v") - col("mean")).as("v"))
    val u2 = u.select(col("w"), col("t"), col("c").as("c2"), col("v").as("v2"))
    u.join(u2, Seq("w", "t"))
      .filter(col("c") <= col("c2"))
      .groupBy(col("w"), col("c"), col("c2"))
      .agg(sum(col("v") * col("v2")).as("sp"))
      .join(nb, Seq("w")).filter(col("nb") > 1)
      .select(col("w").as("win_start"), col("c"), col("c2"),
        round(col("sp") / (col("nb") - 1.0), 6).as("cov"))
  }
}
