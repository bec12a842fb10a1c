package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Multimodal column plumbing: schema, batch shape, determinism. The decode
  * kernels are stubs; these tests pin the Spark-side contract.
  */
class MultimodalSpec extends AnyFunSuite {
  import TestSpark._

  test("synthetic media table has the declared schema") {
    val m = Multimodal.syntheticMedia(spark, 9)
    assert(m.schema == Multimodal.mediaSchema)
    assert(m.count() == 9)
    assert(m.select(countDistinct(col("kind"))).collect().head.getLong(0) == 3)
  }

  test("extractFeatures: fixed-dim features, binary column pruned, deterministic") {
    val m = Multimodal.syntheticMedia(spark, 9)
    val f = Multimodal.extractFeatures(m, dim = 8)
    assert(f.columns.toSeq == Seq("media_id", "kind", "n_bytes", "feature"))
    assert(!f.columns.contains("bytes"))
    val rows = f.collect()
    assert(rows.length == 9)
    assert(rows.forall(_.getSeq[Float](3).length == 8))
    // deterministic: same input → same features
    val again = Multimodal.extractFeatures(m, dim = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    rows.foreach(r => assert(again(r.getLong(0)) == r.getSeq[Float](3)))
  }

  test("sampleFrames: 1→n expansion for videos only, frame index/timestamps") {
    val m = Multimodal.syntheticMedia(spark, 9) // ids 2,5,8 are video
    val fr = MultimodalSpec.sampleFrames(m, everyMs = 250L)
    val byId = fr.collect().groupBy(_.getLong(0))
    assert(byId.keySet == Set(2L, 5L, 8L))
    val f2 = byId(2L).sortBy(_.getInt(1))
    assert(f2.head.getInt(1) == 0 && f2.head.getLong(2) == 0L)
    assert(f2.length == ((1000 + 2) / 250)) // duration_ms / everyMs
    assert(f2.forall(_.getAs[Array[Byte]](3).nonEmpty))
  }

  test("mediaFromDocs: deterministic media from a documents corpus, UTF-8 byte counts") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, LongType, StringType}
    val ds = new StructType().add("doc_id", LongType).add("text", StringType)
    val d = graft.TestSpark.df(ds, Seq(Row(0L, "abc"), Row(1L, "héllo"), Row(2L, "xy")))
    val m = Multimodal.mediaFromDocs(d)
    assert(m.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq ==
      Multimodal.mediaSchema.fields.map(f => (f.name, f.dataType.sql)).toSeq)
    val feats = Multimodal.extractFeatures(m, dim = 4)
      .select(col("media_id"), col("kind"), col("n_bytes")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // é is two UTF-8 bytes: the kernel must see encoded bytes, not chars
    assert(feats == Map(0L -> ("image", 3L), 1L -> ("audio", 6L), 2L -> ("video", 2L)))
  }

  test("resizeImages REAL: decodable images resampled + re-encoded, others untouched") {
    import org.apache.spark.sql.Row
    val ds = new StructType().add("doc_id", LongType).add("text", StringType)
    val docs = df(ds, Seq(Row(0L, "a"), Row(3L, "b"), Row(7L, "c")))
    val m = Multimodal.syntheticPngs(docs)
    val r = MultimodalSpec.resizeImages(m, 7, 5)
    assert(r.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq ==
      Multimodal.mediaSchema.fields.map(f => (f.name, f.dataType.sql)).toSeq)
    // every resized payload decodes to a real 7×5 image whose pixels obey
    // the SQL-portable nearest-neighbor mapping src(x2*w/7, y2*h/5)
    r.select(col("media_id"), col("bytes")).collect().foreach { row =>
      val id = row.getLong(0)
      val img = Multimodal.decodeImage(row.getAs[Array[Byte]](1)).get
      assert(img.getWidth == 7 && img.getHeight == 5)
      val (w, h) = ((16 + id % 5).toInt, (12 + id % 3).toInt)
      for (y2 <- 0 until 5; x2 <- 0 until 7) {
        val (sx, sy) = (x2 * w / 7, y2 * h / 5)
        val rgb = img.getRGB(x2, y2)
        assert(((rgb >> 16) & 0xFF) == Multimodal.pxR(id, sx, sy))
        assert(((rgb >> 8) & 0xFF) == Multimodal.pxG(id, sx, sy))
        assert((rgb & 0xFF) == Multimodal.pxB(id, sx, sy))
      }
    }
    // undecodable payloads (synthetic garbage bytes) pass through unchanged
    // — the fallback guard that keeps a batch alive on a corrupt blob
    val g = Multimodal.syntheticMedia(spark, 6)
    val gAfter = MultimodalSpec.resizeImages(g, 32, 32)
      .select(col("media_id"), col("bytes")).collect()
      .map(x => x.getLong(0) -> x.getAs[Array[Byte]](1).toSeq).toMap
    val gOrig = g.select(col("media_id"), col("bytes")).collect()
      .map(x => x.getLong(0) -> x.getAs[Array[Byte]](1).toSeq).toMap
    assert(gAfter == gOrig)
  }

  test("syntheticPngs decode REAL: pixels equal the generator formula exactly") {
    import org.apache.spark.sql.Row
    val ds = new StructType().add("doc_id", LongType).add("text", StringType)
    val docs = df(ds, Seq(Row(0L, "a"), Row(1L, "b"), Row(4L, "c"), Row(11L, "d")))
    Multimodal.syntheticPngs(docs).select(col("media_id"), col("bytes")).collect().foreach { row =>
      val id = row.getLong(0)
      val img = Multimodal.decodeImage(row.getAs[Array[Byte]](1)).get
      assert(img.getWidth == (16 + id % 5).toInt && img.getHeight == (12 + id % 3).toInt)
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val rgb = img.getRGB(x, y)
        assert(((rgb >> 16) & 0xFF) == Multimodal.pxR(id, x, y))
        assert(((rgb >> 8) & 0xFF) == Multimodal.pxG(id, x, y))
        assert((rgb & 0xFF) == Multimodal.pxB(id, x, y))
      }
    }
  }

  test("decodePixelStats: integer sums match analytic formula; garbage accounted") {
    import org.apache.spark.sql.Row
    val ds = new StructType().add("doc_id", LongType).add("text", StringType)
    val docs = df(ds, Seq(Row(2L, "a"), Row(9L, "b")))
    val stats = Multimodal.decodePixelStats(Multimodal.syntheticPngs(docs), 7, 5)
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(2L, 9L)) {
      val (w, h) = ((16 + id % 5).toInt, (12 + id % 3).toInt)
      val px = for (y <- 0 until h; x <- 0 until w) yield
        (Multimodal.pxR(id, x, y), Multimodal.pxG(id, x, y), Multimodal.pxB(id, x, y))
      val rsPx = for (y2 <- 0 until 5; x2 <- 0 until 7) yield {
        val (sx, sy) = (x2 * w / 7, y2 * h / 5)
        (Multimodal.pxR(id, sx, sy), Multimodal.pxG(id, sx, sy), Multimodal.pxB(id, sx, sy))
      }
      val r = stats(id)
      assert(r.getBoolean(1)) // decoded
      assert(r.getLong(2) == w && r.getLong(3) == h)
      assert(r.getLong(4) == px.map(_._1.toLong).sum && r.getLong(5) == px.map(_._2.toLong).sum
        && r.getLong(6) == px.map(_._3.toLong).sum)
      assert(r.getLong(7) == px.map(_._1).max && r.getLong(8) == px.map(_._2).max
        && r.getLong(9) == px.map(_._3).max)
      assert(r.getLong(10) == rsPx.map(_._1.toLong).sum && r.getLong(11) == rsPx.map(_._2.toLong).sum
        && r.getLong(12) == rsPx.map(_._3.toLong).sum)
    }
    // undecodable payload: decoded=false row, not dropped
    val bad = Multimodal.syntheticMedia(spark, 3).filter(col("kind") === "image")
    val badStats = Multimodal.decodePixelStats(bad, 7, 5).collect()
    assert(badStats.nonEmpty && badStats.forall(r => !r.getBoolean(1)))
  }

  test("syntheticWavs decode REAL: JDK codec parses container, samples equal formula") {
    import org.apache.spark.sql.Row
    val ds = new StructType().add("doc_id", LongType).add("text", StringType)
    val docs = df(ds, Seq(Row(0L, "a"), Row(3L, "b"), Row(7L, "c")))
    Multimodal.syntheticWavs(docs).select(col("media_id"), col("bytes")).collect().foreach { row =>
      val id = row.getLong(0)
      val (rate, samples) = Multimodal.decodeWav(row.getAs[Array[Byte]](1)).get
      assert(rate == 8000)
      assert(samples.length == (800 + (id % 5) * 100).toInt)
      samples.zipWithIndex.foreach { case (s, i) =>
        assert(s.toInt == Multimodal.wavSample(id, i), s"sample $i of wav $id") }
    }
  }

  test("decodeAudioStats: integer sums match analytic formula; garbage accounted") {
    import org.apache.spark.sql.Row
    val ds = new StructType().add("doc_id", LongType).add("text", StringType)
    val docs = df(ds, Seq(Row(2L, "a"), Row(9L, "b")))
    val stats = Multimodal.decodeAudioStats(Multimodal.syntheticWavs(docs))
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(2L, 9L)) {
      val n = (800 + (id % 5) * 100).toInt
      val vs = (0 until n).map(i => Multimodal.wavSample(id, i).toLong)
      val r = stats(id)
      assert(r.getBoolean(1) && r.getLong(2) == 8000L && r.getLong(3) == n.toLong)
      assert(r.getLong(4) == vs.sum && r.getLong(5) == vs.min && r.getLong(6) == vs.max)
      assert(r.getLong(7) == vs.map(math.abs).sum)
    }
    // non-audio payloads: decoded=false row, not dropped
    val bad = Multimodal.syntheticMedia(spark, 3)
    val badStats = Multimodal.decodeAudioStats(bad).collect()
    assert(badStats.length == 3 && badStats.forall(r => !r.getBoolean(1)))
  }

  test("syntheticAvis round-trip REAL: RIFF walk finds every frame, BMP codec decodes formula pixels") {
    import org.apache.spark.sql.Row
    val ds = new StructType().add("doc_id", LongType).add("text", StringType)
    val docs = df(ds, Seq(Row(0L, "a"), Row(4L, "b"), Row(11L, "c")))
    Multimodal.syntheticAvis(docs).select(col("media_id"), col("bytes")).collect().foreach { row =>
      val id = row.getLong(0)
      val (w, h, nf) = ((8 + id % 3).toInt, (6 + id % 2).toInt, (2 + id % 3).toInt)
      val frames = Multimodal.extractAviFrames(row.getAs[Array[Byte]](1)).get
      assert(frames.length == nf, s"avi $id frame count")
      frames.zipWithIndex.foreach { case (dib, f) =>
        val img = Multimodal.decodeDib(dib).get
        assert(img.getWidth == w && img.getHeight == h)
        for (y <- 0 until h; x <- 0 until w) {
          val rgb = img.getRGB(x, y)
          assert(((rgb >> 16) & 0xFF) == Multimodal.vR(id, f, x, y), s"avi $id frame $f px($x,$y) R")
          assert(((rgb >> 8) & 0xFF) == Multimodal.vG(id, f, x, y))
          assert((rgb & 0xFF) == Multimodal.vB(id, f, x, y))
        }
      }
    }
  }

  test("decodeVideoStats: per-frame sums match analytic formula; garbage accounted") {
    import org.apache.spark.sql.Row
    val ds = new StructType().add("doc_id", LongType).add("text", StringType)
    val docs = df(ds, Seq(Row(2L, "a"), Row(7L, "b")))
    val stats = Multimodal.decodeVideoStats(Multimodal.syntheticAvis(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    for (id <- Seq(2L, 7L)) {
      val (w, h, nf) = ((8 + id % 3).toInt, (6 + id % 2).toInt, (2 + id % 3).toInt)
      for (f <- 0 until nf) {
        val px = for (y <- 0 until h; x <- 0 until w) yield
          (Multimodal.vR(id, f, x, y), Multimodal.vG(id, f, x, y), Multimodal.vB(id, f, x, y))
        val r = stats((id, f.toLong))
        assert(r.getBoolean(2) && r.getLong(3) == w && r.getLong(4) == h)
        assert(r.getLong(5) == px.map(_._1.toLong).sum && r.getLong(6) == px.map(_._2.toLong).sum
          && r.getLong(7) == px.map(_._3.toLong).sum)
      }
    }
    // non-AVI payloads: one decoded=false row each, not dropped
    val bad = Multimodal.decodeVideoStats(Multimodal.syntheticMedia(spark, 3)).collect()
    assert(bad.length == 3 && bad.forall(r => !r.getBoolean(2) && r.getLong(1) == -1L))
  }

  test("extractFeatures uses REAL pixel luminance for decodable images") {
    import org.apache.spark.sql.Row
    val ds = new StructType().add("doc_id", LongType).add("text", StringType)
    val docs = df(ds, Seq(Row(5L, "a")))
    val m = Multimodal.syntheticPngs(docs)
    val feat = Multimodal.extractFeatures(m, dim = 4).collect().head.getSeq[Float](3)
    val img = Multimodal.decodeImage(
      m.select(col("bytes")).collect().head.getAs[Array[Byte]](0)).get
    assert(feat == Multimodal.luminanceStripes(img, 4).toSeq)
    // and differs from what the byte-statistics stub would have produced
    val stubbed = m.select(col("bytes")).collect().head.getAs[Array[Byte]](0)
    assert(feat != Multimodal.decodeStub(stubbed, 4).toSeq)
  }

  test("extractFeatures uses REAL codecs for audio (PCM amplitude) and video (frame luminance)") {
    import org.apache.spark.sql.Row
    val ds = new StructType().add("doc_id", LongType).add("text", StringType)
    val docs = df(ds, Seq(Row(3L, "a")))
    // audio: features = amplitude stripes over the REAL decoded samples
    val wav = Multimodal.syntheticWavs(docs)
    val aFeat = Multimodal.extractFeatures(wav, dim = 4).collect().head.getSeq[Float](3)
    val (_, samples) = Multimodal.decodeWav(
      wav.select(col("bytes")).collect().head.getAs[Array[Byte]](0)).get
    assert(aFeat == Multimodal.amplitudeStripes(samples, 4).toSeq)
    assert(aFeat != Multimodal.decodeStub(
      wav.select(col("bytes")).collect().head.getAs[Array[Byte]](0), 4).toSeq)
    // video: features = first-frame luminance stripes via the REAL BMP codec
    val avi = Multimodal.syntheticAvis(docs)
    val vFeat = Multimodal.extractFeatures(avi, dim = 4).collect().head.getSeq[Float](3)
    val frame0 = Multimodal.decodeDib(Multimodal.extractAviFrames(
      avi.select(col("bytes")).collect().head.getAs[Array[Byte]](0)).get.head).get
    assert(vFeat == Multimodal.luminanceStripes(frame0, 4).toSeq)
  }

  test("imageInfo parses REAL png/jpeg/gif/bmp headers; garbage unrecognized") {
    import org.apache.spark.sql.Row
    def png(w: Int, h: Int): Array[Byte] = {
      val b = new Array[Byte](24)
      Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte).copyToArray(b, 0)
      // 4-byte IHDR length (13) + "IHDR"
      b(11) = 13; b(12) = 'I'; b(13) = 'H'; b(14) = 'D'; b(15) = 'R'
      def be32(v: Int, off: Int): Unit = (0 until 4).foreach(i => b(off + i) = (v >>> (24 - 8 * i)).toByte)
      be32(w, 16); be32(h, 20); b
    }
    def jpeg(w: Int, h: Int): Array[Byte] = {
      // SOI, APP0 (len 4, empty), SOF0 (len 11)
      val b = scala.collection.mutable.ArrayBuffer[Byte]()
      b ++= Seq(0xFF, 0xD8).map(_.toByte)
      b ++= Seq(0xFF, 0xE0, 0x00, 0x04, 0x00, 0x00).map(_.toByte) // APP0 segment
      b ++= Seq(0xFF, 0xC0, 0x00, 0x0B, 0x08).map(_.toByte)       // SOF0, precision
      b ++= Seq((h >>> 8), h & 0xFF, (w >>> 8), w & 0xFF, 0x01).map(_.toByte)
      b ++= Seq(0x01, 0x11, 0x00).map(_.toByte)
      b.toArray
    }
    def gif(w: Int, h: Int): Array[Byte] =
      ("GIF89a".getBytes ++ Array((w & 0xFF).toByte, (w >>> 8).toByte,
        (h & 0xFF).toByte, (h >>> 8).toByte, 0.toByte, 0.toByte, 0.toByte))
    def bmp(w: Int, h: Int): Array[Byte] = {
      val b = new Array[Byte](26)
      b(0) = 'B'; b(1) = 'M'
      def le32(v: Int, off: Int): Unit = (0 until 4).foreach(i => b(off + i) = (v >>> (8 * i)).toByte)
      le32(w, 18); le32(-h, 22); b // negative height = top-down BMP; parsed as |h|
    }
    // same as jpeg() but with 0xFF fill/padding bytes before the SOF marker
    // (legal per the spec) and after the APP0 segment
    def jpegPadded(w: Int, h: Int): Array[Byte] = {
      val b = scala.collection.mutable.ArrayBuffer[Byte]()
      b ++= Seq(0xFF, 0xD8).map(_.toByte)
      b ++= Seq(0xFF, 0xE0, 0x00, 0x04, 0x00, 0x00).map(_.toByte) // APP0 segment
      b ++= Seq(0xFF, 0xFF, 0xFF).map(_.toByte)                   // fill bytes
      b ++= Seq(0xFF, 0xC0, 0x00, 0x0B, 0x08).map(_.toByte)       // SOF0, precision
      b ++= Seq((h >>> 8), h & 0xFF, (w >>> 8), w & 0xFF, 0x01).map(_.toByte)
      b ++= Seq(0x01, 0x11, 0x00).map(_.toByte)
      b.toArray
    }
    // malformed: segment declares length 1 (< 2, impossible — length
    // includes its own two bytes); must be rejected, not looped on
    def jpegBadLen: Array[Byte] =
      Seq(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x01, 0xFF, 0xC0).map(_.toByte).toArray
    val st = new StructType().add("media_id", LongType).add("kind", StringType).add("bytes", BinaryType)
    val d = df(st, Seq(
      Row(1L, "image", png(640, 480)), Row(2L, "image", jpeg(1920, 1080)),
      Row(3L, "image", gif(320, 200)), Row(4L, "image", bmp(100, 50)),
      Row(5L, "image", Array.tabulate[Byte](40)(_.toByte)),
      Row(6L, "image", jpegPadded(800, 600)), Row(7L, "image", jpegBadLen)))
    // the ImageHeader kernel as a triage projection over the blobs
    import org.apache.spark.sql.graft.bridge
    val hdr = bridge.column(graft.functions.ImageHeader(bridge.expression(col("bytes"))))
    val got = d.select(col("media_id"), col("kind"), hdr.as("h"))
      .select(col("media_id"), col("kind"),
        col("h.format"), col("h.width"), col("h.height"), col("h").isNotNull)
      .collect()
      .map(r => r.getLong(0) -> (Option(r.getString(2)), Option(r.get(3)), Option(r.get(4)), r.getBoolean(5))).toMap
    assert(got(1L) == ((Some("png"), Some(640), Some(480), true)))
    assert(got(2L) == ((Some("jpeg"), Some(1920), Some(1080), true)))
    assert(got(3L) == ((Some("gif"), Some(320), Some(200), true)))
    assert(got(4L) == ((Some("bmp"), Some(100), Some(50), true)))
    assert(got(5L) == ((None, None, None, false)))
    assert(got(6L) == ((Some("jpeg"), Some(800), Some(600), true)))
    assert(got(7L) == ((None, None, None, false)))
  }

  test("mediaFromFiles: binaryFile source ingests real files with sniffed kinds + real meta") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toFile
    try {
      // one real file per kind + one unrecognizable blob
      val img = new java.awt.image.BufferedImage(9, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 7; x <- 0 until 9) img.setRGB(x, y, (x * 29 + y * 31) & 0xFFFFFF)
      java.nio.file.Files.write(new java.io.File(dir, "a.png").toPath, Multimodal.encodePng(img))
      val samples = Array.tabulate[Short](16000)(i => (i % 97).toShort) // 1 s at 16 kHz
      java.nio.file.Files.write(new java.io.File(dir, "b.wav").toPath,
        Multimodal.encodeWav(samples, 16000))
      java.nio.file.Files.write(new java.io.File(dir, "c.avi").toPath,
        Multimodal.encodeAvi(Seq.fill(3)(Multimodal.encodeDib(img)), 9, 7, 10))
      java.nio.file.Files.write(new java.io.File(dir, "d.bin").toPath,
        Array.tabulate[Byte](50)(i => (i * 7).toByte))

      val media = MultimodalSpec.mediaFromFiles(spark, dir.getAbsolutePath)
      val rows = media.collect().map { r =>
        val m = r.getStruct(3)
        r.getString(1) -> ((r.getLong(0), m.getInt(0), m.getInt(1), m.getInt(2), m.getLong(3)))
      }.toMap
      assert(rows.keySet == Set("image", "audio", "video", "binary"))
      // portable ids: derived from the file NAME, reproducible anywhere
      assert(rows("image")._1 == graft.functions.PortableHash.local60("a.png"))
      assert((rows("image")._2, rows("image")._3) == ((9, 7)))      // header-parsed dims
      assert(rows("audio")._4 == 16000 && rows("audio")._5 == 1000L) // real rate + duration
      assert(rows("video")._5 == 300L)                               // 3 frames walked
      // and the ingested frame feeds the real decode features downstream
      val feats = Multimodal.extractFeatures(media, dim = 4).collect()
        .map(r => r.getString(1) -> r.getSeq[Float](3)).toMap
      assert(feats("image") == Multimodal.luminanceStripes(img, 4).toSeq)

      // a multi-frame GIF classifies as video and its features come from
      // the REAL first frame via the GIF reader (not the stub)
      def grayPal = {
        val g = Array.tabulate[Byte](256)(i => i.toByte)
        new java.awt.image.IndexColorModel(8, 256, g, g, g)
      }
      val gframes = (0 until 2).map { f =>
        val gi = new java.awt.image.BufferedImage(6, 5,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPal)
        for (y <- 0 until 5; x <- 0 until 6) gi.getRaster.setSample(x, y, 0, (f * 50 + x * 7 + y) % 256)
        gi
      }
      java.nio.file.Files.write(new java.io.File(dir, "e.gif").toPath,
        Multimodal.encodeGif(gframes))
      val media2 = MultimodalSpec.mediaFromFiles(spark, dir.getAbsolutePath)
      val gifRow = media2.filter(col("media_id") ===
        graft.functions.PortableHash.local60("e.gif")).collect().head
      assert(gifRow.getString(1) == "video" && gifRow.getStruct(3).getLong(3) == 200L)
      val vfeats = Multimodal.extractFeatures(media2, dim = 4).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
      assert(vfeats(graft.functions.PortableHash.local60("e.gif")) ==
        Multimodal.luminanceStripes(gframes.head, 4).toSeq)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}

/** Media operators no contract runs, kept as spec vehicles: file ingest
  * through the `binaryFile` source, Lara `extF` frame sampling, and the
  * decode → resample → PNG re-encode transform.
  */
object MultimodalSpec {
  import org.apache.spark.sql.{DataFrame, Row, SparkSession}
  import Multimodal._

  private def looksLikeAvi(b: Array[Byte]): Boolean =
    b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' '

  /** REAL file ingestion: a directory of raw media files → the media frame
    * via Spark's `binaryFile` source — the on-cluster path for an actual
    * image/audio/video corpus (one row per file; Spark parallelizes across
    * files and packs small files into read tasks). Kind comes from the
    * magic sniff, metadata from REAL header parsing — image dimensions via
    * the `MediaKernels.imageHeader` byte parser (no pixel decode in the
    * ingest pass), WAV rate/duration via the real JDK codec, AVI frame
    * count via the RIFF walk — all partition-local; payloads never
    * shuffle, and `media_id` is a portable hash of the file NAME so the
    * oracle (or a re-run anywhere) derives identical ids.
    * Unrecognized payloads ingest as kind='binary' with zeroed meta — at
    * corpus scale rejects are data, not errors.
    */
  def mediaFromFiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(dir)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .mapPartitions(_.map { case (path, bytes) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        val id = graft.functions.PortableHash.local60(name)
        if (looksLikeImage(bytes)) {
          val h = graft.functions.MediaKernels.imageHeader(bytes)
          val (w, ht) = if (h != null) (h.getInt(1), h.getInt(2)) else (0, 0)
          // a multi-frame GIF is a video; the frame count is one real
          // container parse (the same price every classifier pays)
          val gifFrames =
            if (bytes.length >= 3 && bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F')
              extractGifFrames(bytes).map(_.length).getOrElse(0)
            else 0
          if (gifFrames > 1) MediaRow(id, "video", bytes, w, ht, 0, gifFrames * 100L)
          else MediaRow(id, "image", bytes, w, ht, 0, 0L)
        } else if (looksLikeAvi(bytes)) { // before WAV: both are RIFF
          val nf = extractAviFrames(bytes).map(_.length).getOrElse(0)
          MediaRow(id, "video", bytes, 0, 0, 0, nf * 100L)
        } else if (looksLikeWav(bytes)) {
          decodeWav(bytes) match {
            case Some((rate, samples)) =>
              MediaRow(id, "audio", bytes, 0, 0, rate,
                if (rate > 0) samples.length * 1000L / rate else 0L)
            case None => MediaRow(id, "audio", bytes, 0, 0, 0, 0L)
          }
        } else MediaRow(id, "binary", bytes, 0, 0, 0, 0L)
      }).toDF()
      .select(col("media_id"), col("kind"), col("bytes"),
        struct(col("width"), col("height"), col("sample_rate"), col("duration_ms"))
          .cast(mediaSchema("meta").dataType).as("meta"))
  }

  /** Frame-sample a video payload every `everyMs` ms: 1→n rows per input —
    * the Lara Ext shape, expressed through the DSL's typed escape hatch
    * (`LaraTable.extF`, the reference `ExtFun` in full generality,
    * `api/Schema.kt:229-250`): a real codec's frame extraction is arbitrary
    * imperative logic no generator expression can state. Frame payload is
    * STUB-sliced from the source bytes.
    */
  def sampleFrames(media: DataFrame, everyMs: Long = 250L): DataFrame = {
    import graft.lara.{LaraTable, LaraSchema, ValSpec}
    val videos = media.filter(col("kind") === "video")
      .select(col("media_id"), col("bytes"), col("meta.duration_ms").as("duration_ms"))
    val t = LaraTable(videos, LaraSchema(Seq("media_id"),
      Seq(ValSpec("bytes", BinaryType, null), ValSpec("duration_ms", LongType, null))))
    t.extF(Seq("frame_idx" -> IntegerType),
      Seq(ValSpec("frame_ms", LongType, null), ValSpec("frame_bytes", BinaryType, null))) { row =>
      val bytes = row.getAs[Array[Byte]]("bytes")
      val durationMs = row.getAs[Long]("duration_ms")
      val nFrames = math.max(1, (durationMs / everyMs).toInt)
      (0 until nFrames).iterator.map { f =>
        val start = (f * bytes.length / nFrames) min (bytes.length - 1)
        val end = ((f + 1) * bytes.length / nFrames) min bytes.length
        Row(f, f * everyMs, bytes.slice(start, end)) // STUB frame decode
      }
    }.df
  }

  /** Resize images — REAL: `ImageIO` decode → nearest-neighbor resample
    * (`resizeNN`, SQL-portable integer mapping) → lossless PNG re-encode.
    * Payloads that are not decodable images (and non-image kinds) pass
    * through unchanged — the fallback guard that keeps a 100 TB batch alive
    * when a blob is corrupt.
    */
  def resizeImages(media: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val ds = media.select(
      col("media_id"), col("kind"), col("bytes"),
      col("meta.width"), col("meta.height"), col("meta.sample_rate"), col("meta.duration_ms"))
      .as[MediaRow]
    ds.map { m =>
      if (m.kind != "image") m
      else decodeImage(m.bytes) match {
        case Some(img) => m.copy(bytes = encodePng(resizeNN(img, w, h)), width = w, height = h)
        case None      => m // undecodable blob: pass through, don't kill the batch
      }
    }.toDF()
      .select(col("media_id"), col("kind"), col("bytes"),
        struct(col("width"), col("height"), col("sample_rate"), col("duration_ms"))
          .cast(mediaSchema("meta").dataType).as("meta")) // canonical (nullable) meta type
  }
}
