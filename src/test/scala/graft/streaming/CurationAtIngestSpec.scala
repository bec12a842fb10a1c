package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.pipeline.{TextAnalysis, TrainingData}

/** The per-row curation operators (PII scrub, mixture sampling) are pure
  * stateless expressions, so they run UNCHANGED on a streaming frame — the
  * scrub-at-ingest deployment a privacy pipeline wants (redact before
  * anything persists). This pins that contract: streaming output ≡ the
  * batch operators on the same rows.
  */
class CurationAtIngestSpec extends AnyFunSuite {
  import TestSpark._

  test("media decode at ingest: extractFeatures is stateless — streaming ≡ batch (real codecs)") {
    // the multimodal kernels are partition-local mapPartitions transforms
    // with no state, so a readStream of blobs can decode/triage/feature
    // at ingest with the SAME operator the batch pipeline uses
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.pipeline.Multimodal
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, LongType, StringType}
    val ds = new StructType().add("doc_id", LongType).add("text", StringType)
    val docs = TestSpark.df(ds, Seq(Row(1L, "a"), Row(4L, "b"), Row(9L, "c")))
    // real payloads of all three kinds (PNG / WAV / AVI)
    val batchMedia = Multimodal.syntheticPngs(docs)
      .union(Multimodal.syntheticWavs(docs.select((col("doc_id") + 100).as("doc_id"))))
      .union(Multimodal.syntheticAvis(docs.select((col("doc_id") + 200).as("doc_id"))))
    val rows = batchMedia.collect()
    val in = MemoryStream[Int]
    val streamMedia = in.toDF().join(broadcast(batchMedia), lit(true)) // carrier join: re-emit blobs through a stream
      .select(batchMedia.columns.toSeq.map(col): _*)
    val feats = Multimodal.extractFeatures(streamMedia, dim = 8)
    val q = feats.writeStream.format("memory").queryName("media_stream")
      .outputMode("append").start()
    try {
      in.addData(0)
      q.processAllAvailable()
      val got = spark.table("media_stream").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getSeq[Float](3))).toMap
      val batch = Multimodal.extractFeatures(batchMedia, dim = 8).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getSeq[Float](3))).toMap
      assert(got == batch, "streaming decode must equal the batch twin")
      assert(got.size == rows.length)
    } finally q.stop()
  }

  test("PII scrub + mixture sampling at ingest match their batch twins") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String, String)]
    val docs = in.toDF().toDF("doc_id", "text", "source")
    val rates = Map("keep" -> 1000000L)
    val curated = TrainingData.mixtureSample(
      docs.withColumn("text", TextAnalysis.redactPii(col("text"))),
      "source", rates, defaultPpm = 0L)
    val q = curated.writeStream.format("memory").queryName("curated_stream")
      .outputMode("append").start()
    try {
      val data = Seq(
        (1L, "mail a@b.co from 10.1.2.3", "keep"),
        (2L, "clean text", "keep"),
        (3L, "dropped source 555-123-4567", "drop"))
      in.addData(data: _*)
      q.processAllAvailable()
      val got = spark.table("curated_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      // batch twin on the identical rows
      val batch = TrainingData.mixtureSample(
        data.toDF("doc_id", "text", "source")
          .withColumn("text", TextAnalysis.redactPii(col("text"))),
        "source", rates, defaultPpm = 0L).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == batch)
      assert(got.map(_._1) == Set(1L, 2L), "source 'drop' must be sampled out")
      assert(got.find(_._1 == 1L).get._2 == "mail <EMAIL> from <IP>")
    } finally q.stop()
  }

  test("chunking at ingest: chunkDocuments is stateless — streaming ≡ batch") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val out = graft.pipeline.TrainingData.chunkDocuments(docs, size = 4, stride = 3)
    val q = out.writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      val rows = Seq(1L -> (1 to 9).map(i => s"t$i").mkString(" "), 2L -> "a b", 3L -> "")
      in.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("chunk_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = graft.pipeline.TrainingData.chunkDocuments(
        rows.toDF("doc_id", "text"), size = 4, stride = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("windowed CMS: streamed sketch EQUALS the batch sketch, cell for cell") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = in.toDF().toDF("doc_id", "ts", "text")
    val out = StreamingTwins.windowedHeavyHitterSketch(
      docs, n = 3, depth = 2, width = 8, "10 minutes", "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("cms_stream")
      .outputMode("append").start()
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    try {
      // window [0,10): repeated boilerplate trigrams + singletons, spread
      // over micro-batches so sketch state must ACCUMULATE across batches
      val w0 = Seq(
        (1L, ts(1), "a b c d"), (2L, ts(3), "a b c d"),
        (3L, ts(5), "a b c x"))
      val w1 = Seq((4L, ts(12), "q w e r"))
      in.addData(w0.take(2): _*)
      q.processAllAvailable()
      in.addData(w0.drop(2): _*)
      q.processAllAvailable()
      in.addData(w1: _*)
      q.processAllAvailable()
      in.addData((9L, ts(60), "z z z")) // advance watermark, close all
      q.processAllAvailable()
      val streamed = spark.table("cms_stream").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      val batch = StreamingTwins.windowedHeavyHitterSketch(
        (w0 ++ w1).toDF("doc_id", "ts", "text"),
        n = 3, depth = 2, width = 8, "10 minutes", "10 minutes", "5 minutes")
        .collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      assert(batch.subsetOf(streamed), s"streamed=$streamed batch=$batch")
      // the hot trigram "a b c" (3 occurrences) must dominate its cells:
      // some cell in window 0 carries count >= 3
      assert(streamed.exists(c => c._1 == 0L && c._4 >= 3L))
    } finally q.stop()
  }
}
