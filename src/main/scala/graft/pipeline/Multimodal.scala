package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column support for training-data
  * pipelines: media travels as an opaque `binary` column plus a typed
  * metadata struct; decode / feature-extract / resize / frame-sample run as
  * partition-local batch transforms.
  *
  * IMAGE decode is REAL: `javax.imageio.ImageIO` ships in the JDK, so
  * PNG/GIF/BMP/JPEG payloads are decoded to actual pixels (see
  * `decodeImage`), features/resize operate on real pixel data, and the
  * `media_decode` contract query is integer-exact oracle-checked (PNG is
  * lossless, so pixel sums of a synthetically generated image survive the
  * encode→decode round trip bit-for-bit). AUDIO decode is REAL too:
  * `javax.sound.sampled.AudioSystem` parses WAV/PCM containers (see
  * `decodeWav`, contract query `media_audio`). VIDEO frame extraction is
  * REAL for uncompressed AVI (RIFF chunk walk + per-frame DIB decode via
  * the ImageIO BMP codec — `extractAviFrames`/`decodeVideoStats`, contract
  * query `media_video`) AND for Motion-JPEG AVI (same RIFF walk, per-frame
  * JDK JPEG codec — `encodeAviMjpeg`/`decodeVideoFrame`, spec-gated since
  * JPEG is lossy); inter-frame-compressed video (H.264 …) remains the one
  * declared STUB — the JDK has no such codec — `decodeStub` derives a
  * deterministic fake feature payload from the bytes. Everything around the kernels is
  * the real Spark shape and is what matters at scale:
  *  - schema: `media_id BIGINT, kind STRING, bytes BINARY,
  *    meta STRUCT<width INT, height INT, sample_rate INT, duration_ms BIGINT>`
  *  - `mapPartitions` over a typed Dataset (the Scala analog of
  *    `mapInPandas`): one JVM-side batch per partition, no per-row UDF
  *    dispatch, output schema declared up front;
  *  - partition-local work ⇒ no shuffle; decode parallelism = partitions;
  *  - binary payloads are never shuffled by these transforms — only the
  *    extracted (small) features move downstream.
  */
object Multimodal {

  val mediaSchema: StructType = new StructType()
    .add("media_id", LongType)
    .add("kind", StringType) // image | audio | video
    .add("bytes", BinaryType)
    .add("meta", new StructType()
      .add("width", IntegerType).add("height", IntegerType)
      .add("sample_rate", IntegerType).add("duration_ms", LongType))

  final case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte],
                            width: Int, height: Int, sample_rate: Int, duration_ms: Long)
  final case class FeatureRow(media_id: Long, kind: String, n_bytes: Long,
                              feature: Array[Float])

  /** Deterministic synthetic media table (for tests/demos): payload bytes
    * are a seeded function of media_id, metadata plausible per kind.
    */
  def syntheticMedia(spark: SparkSession, n: Int): DataFrame = {
    val rows = spark.sparkContext.parallelize(0 until n, math.min(4, n)).map { i =>
      val kind = Seq("image", "audio", "video")(i % 3)
      val bytes = Array.tabulate[Byte](64 + (i % 17) * 8)(j => ((i * 31 + j * 7) % 251).toByte)
      Row(i.toLong, kind, bytes, Row(64 + i % 3, 48, 16000, 1000L + i))
    }
    spark.createDataFrame(rows, mediaSchema)
  }

  /** Deterministic media table derived from a documents corpus: the binary
    * payload is the UTF-8 encoding of the text (a stand-in for real codec
    * bytes), kind cycles by doc_id, metadata is a pure function of doc_id.
    * Because every column is a deterministic function of the source table,
    * pipelines built on it (e.g. the media_features contract query) are
    * checkable by the DuckDB oracle — `octet_length(encode(text))` must
    * equal the byte count the partition-local kernel observes.
    */
  def mediaFromDocs(docs: DataFrame): DataFrame =
    // file-count-gated rebalance: a one-file corpus would otherwise put
    // every downstream decode kernel on a single task (no-op when the
    // input already has real splits)
    Dedup.rebalance(docs).select(
      col("doc_id").as("media_id"),
      element_at(typedlit(Seq("image", "audio", "video")),
        (col("doc_id") % 3).cast(IntegerType) + 1).as("kind"),
      encode(col("text"), "UTF-8").as("bytes"),
      struct(
        (lit(64) + (col("doc_id") % 3)).cast(IntegerType).as("width"),
        lit(48).cast(IntegerType).as("height"),
        lit(16000).cast(IntegerType).as("sample_rate"),
        (lit(1000L) + col("doc_id")).as("duration_ms"))
        .cast(mediaSchema("meta").dataType).as("meta"))

  /** STUB decode kernel: a real implementation would hand `bytes` to an
    * image/audio codec here. The fake is deterministic in the payload so
    * tests can assert on it: feature[j] = normalized byte statistics of
    * stripe j.
    */
  private[pipeline] def decodeStub(bytes: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var j = 0
    while (j < bytes.length) { out(j % dim) += (bytes(j) & 0xFF) / 255.0f; j += 1 }
    val norm = math.max(1, bytes.length / dim)
    (0 until dim).foreach(i => out(i) /= norm)
    out
  }

  /** REAL image decode via the JDK's `javax.imageio.ImageIO` — no external
    * codec needed for PNG/GIF/BMP/JPEG. Returns None when the payload is
    * not a decodable image, so callers degrade to the deterministic stub
    * rather than failing the batch. Only NonFatal decode errors degrade:
    * a fatal error (OOM, interrupt) on a sick executor must fail the task,
    * not silently emit stub features. The byte source is wrapped in a
    * MemoryCacheImageInputStream explicitly — ImageIO's default disk-backed
    * cache would create and delete a temp file PER ROW inside the
    * mapPartitions hot loop (and fail outright on an unwritable tmpdir).
    */
  /** Container magic sniff — four compares instead of a full ImageIO
    * reader probe for payloads that are obviously not images. At corpus
    * scale most undecodable blobs are rejected here for free.
    */
  @inline private[pipeline] def looksLikeImage(b: Array[Byte]): Boolean =
    b.length >= 8 && (
      (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||   // PNG
      (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte) ||                         // JPEG
      (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||           // GIF
      (b(0) == 'B' && b(1) == 'M') ||                                         // BMP
      (b(0) == 'I' && b(1) == 'I' && b(2) == 0x2A.toByte && b(3) == 0) ||     // TIFF LE
      (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 0x2A.toByte))       // TIFF BE

  @inline private[pipeline] def looksLikeWav(b: Array[Byte]): Boolean =
    b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  private[pipeline] def decodeImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (!looksLikeImage(bytes)) None
    else try Option(javax.imageio.ImageIO.read(
      new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Encode pixels to PNG (lossless — the round trip is integer-exact).
    * Memory-cached output stream for the same per-row-temp-file reason as
    * [[decodeImage]].
    */
  private[pipeline] def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    javax.imageio.ImageIO.write(img, "png", ios)
    ios.flush()
    bos.toByteArray
  }

  /** Nearest-neighbor resample with the SQL-portable mapping
    * `src(x2*w/dw, y2*h/dh)` (integer division) — deterministic by
    * construction, unlike `AffineTransformOp` whose rounding is
    * implementation-defined.
    */
  private[pipeline] def resizeNN(img: java.awt.image.BufferedImage, dw: Int, dh: Int): java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(dw, dh, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val (w, h) = (img.getWidth, img.getHeight)
    var y = 0
    while (y < dh) {
      var x = 0
      while (x < dw) {
        out.setRGB(x, y, img.getRGB(x * w / dw, y * h / dh) | 0xFF000000)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Decode + feature-extract: binary column → fixed-dim float feature.
    * Partition-local batches via `mapPartitions` (the Pandas-UDF shape);
    * the binary column is pruned away after this operator.
    *
    * Every kind with a decodable payload gets REAL features: images →
    * per-stripe mean luminance over actual pixels (`ImageIO`); audio →
    * per-stripe mean absolute amplitude over actual PCM samples
    * (`javax.sound`); video → first-frame luminance stripes (RIFF walk +
    * BMP codec). Payloads no real codec can parse fall back to the
    * deterministic byte-statistics stub — the guard that keeps a 100 TB
    * batch alive on corrupt or exotic blobs.
    */
  def extractFeatures(media: DataFrame, dim: Int = 16): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val ds: Dataset[MediaRow] = media.select(
      col("media_id"), col("kind"), col("bytes"),
      col("meta.width"), col("meta.height"), col("meta.sample_rate"), col("meta.duration_ms"))
      .as[MediaRow]
    ds.mapPartitions { it =>
      // one batch per partition: amortized setup (a real codec would open
      // its context once here), streaming through rows
      it.map { m =>
        val real: Option[Array[Float]] = m.kind match {
          case "image" => decodeImage(m.bytes).map(luminanceStripes(_, dim))
          case "audio" => decodeWav(m.bytes).map { case (_, s) => amplitudeStripes(s, dim) }
          case "video" => // container-driven: uncompressed AVI or multi-frame GIF
            extractAviFrames(m.bytes).flatMap(_.headOption).flatMap(decodeDib)
              .orElse(extractGifFrames(m.bytes).flatMap(_.headOption))
              .map(luminanceStripes(_, dim))
          case _ => None
        }
        FeatureRow(m.media_id, m.kind, m.bytes.length.toLong,
          real.getOrElse(decodeStub(m.bytes, dim)))
      }
    }.toDF()
  }

  /** Mean absolute amplitude (scaled to [0,1]) per sample stripe — the
    * audio sibling of [[luminanceStripes]], over REAL decoded PCM.
    */
  private[pipeline] def amplitudeStripes(samples: Array[Short], dim: Int): Array[Float] = {
    val sums = new Array[Long](dim)
    val counts = new Array[Long](dim)
    val n = samples.length
    var i = 0
    while (i < n) {
      // Long arithmetic: i*dim in Int overflows (negative index) beyond
      // ~134M samples — a valid 4.5 h WAV at 8 kHz with dim=16. n > 0 is
      // guaranteed inside the loop (i < n).
      val s = (i.toLong * dim / n).toInt
      sums(s) += math.abs(samples(i).toLong); counts(s) += 1
      i += 1
    }
    Array.tabulate(dim)(j => if (counts(j) == 0) 0f else (sums(j).toDouble / counts(j) / 32768.0).toFloat)
  }

  /** Mean luminance (ITU-R 601 integer weights /256) per vertical stripe —
    * a real pixel-derived feature with fully deterministic arithmetic.
    */
  private[pipeline] def luminanceStripes(img: java.awt.image.BufferedImage, dim: Int): Array[Float] = {
    val sums = new Array[Long](dim)
    val counts = new Array[Long](dim)
    val (w, h) = (img.getWidth, img.getHeight)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (77 * ((rgb >> 16) & 0xFF) + 150 * ((rgb >> 8) & 0xFF) + 29 * (rgb & 0xFF)) >> 8
        val s = x * dim / w
        sums(s) += lum; counts(s) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(dim)(i => if (counts(i) == 0) 0f else (sums(i).toDouble / counts(i) / 255.0).toFloat)
  }

  // ---------------------------------------------------------------------
  // Oracle-checkable real-decode pipeline (`media_decode` contract query).
  //
  // DuckDB cannot decode PNG, so verifiability comes from making every
  // pixel a pure integer function of (media_id, x, y): the engine ENCODES
  // that formula to real PNG bytes, round-trips them through the REAL
  // decode (+ the real resize operator), and emits integer pixel sums;
  // the oracle recomputes the same sums analytically from the formula.
  // PNG is lossless ⇒ any defect in the codec plumbing breaks the hashes.
  // ---------------------------------------------------------------------

  /** Pixel formula shared by generator and oracle (per channel, mod 256). */
  @inline private[pipeline] def pxR(id: Long, x: Int, y: Int): Int = ((id * 7 + x * 3 + y * 5) % 256).toInt
  @inline private[pipeline] def pxG(id: Long, x: Int, y: Int): Int = ((id * 11 + x * 5 + y * 7) % 256).toInt
  @inline private[pipeline] def pxB(id: Long, x: Int, y: Int): Int = ((id * 13 + x * 7 + y * 11) % 256).toInt

  /** DuckDB twin of [[pxR]], [[pxG]] and [[pxB]] at pixel (`x`, `y`) of
    * image `media_id`, as the columns `r`, `g`, `b`.
    */
  private[graft] def pngPixelSql(x: String, y: String): String =
    s"""(media_id*7 + $x*3 + $y*5) % 256 AS r,
             (media_id*11 + $x*5 + $y*7) % 256 AS g,
             (media_id*13 + $x*7 + $y*11) % 256 AS b"""

  /** DuckDB twin of [[syntheticPngs]]' image sizes: the CTE
    * `name(media_id, w, h)`, one row per document.
    */
  private[graft] def pngDimsCte(name: String): String =
    s"""$name AS (SELECT doc_id AS media_id, 16 + doc_id % 5 AS w, 12 + doc_id % 3 AS h
                       FROM documents)"""

  /** Per-image channel sums of [[syntheticPngs]], analytically: the CTEs
    * `dims<sfx>`, `px<sfx>` (one row per pixel) and
    * `st<sfx>(media_id, w, h, sr, sg, sb)`.
    */
  private[graft] def pngSumCtes(sfx: String): String =
    s"""${pngDimsCte(s"dims$sfx")},
         px$sfx AS (
           SELECT media_id, w, h,
             ${pngPixelSql("x", "y")}
           FROM dims$sfx, LATERAL (SELECT unnest(range(w)) AS x), LATERAL (SELECT unnest(range(h)) AS y)),
         st$sfx AS (
           SELECT media_id, max(w) AS w, max(h) AS h,
                  sum(r)::BIGINT AS sr, sum(g)::BIGINT AS sg, sum(b)::BIGINT AS sb
           FROM px$sfx GROUP BY media_id)"""

  /** Synthetic REAL PNGs, one per document id: `w = 16 + id%5`,
    * `h = 12 + id%3`, pixels from the shared formula, encoded with the
    * JDK PNG writer. Deterministic in `doc_id` only.
    */
  def syntheticPngs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // rebalance the id list BEFORE the codec work: a one-file corpus scan
    // is one partition, and without the spread every encode/decode below
    // would run on a single task. Only doc_id longs cross the exchange —
    // binary payloads are generated after it, and stay partition-local.
    Dedup.rebalance(docs.select(col("doc_id"))).as[Long].mapPartitions { it =>
      it.map { id =>
        val w = (16 + id % 5).toInt
        val h = (12 + id % 3).toInt
        val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y, (pxR(id, x, y) << 16) | (pxG(id, x, y) << 8) | pxB(id, x, y))
            x += 1
          }
          y += 1
        }
        MediaRow(id, "image", encodePng(img), w, h, 0, 0L)
      }
    }.toDF()
      .select(col("media_id"), col("kind"), col("bytes"),
        struct(col("width"), col("height"), col("sample_rate"), col("duration_ms"))
          .cast(mediaSchema("meta").dataType).as("meta"))
  }

  // ---------------------------------------------------------------------
  // REAL audio decode (`media_audio` contract query): the JDK ships a real
  // WAV/PCM codec in `javax.sound.sampled` — same play as ImageIO for
  // images. Synthetic WAVs whose 16-bit samples are a pure integer formula
  // of (media_id, i) are container-encoded, round-tripped through the REAL
  // decoder (header parse, format negotiation, frame extraction), and
  // reduced to integer sample statistics the oracle recomputes
  // analytically. PCM is lossless ⇒ exact match. (Video remains the one
  // declared stub — the JDK has no video codec.)
  // ---------------------------------------------------------------------

  /** Sample formula shared by generator and oracle: a 16-bit signed value,
    * `((id·31 + i·17) mod 65536) − 32768`.
    */
  @inline private[pipeline] def wavSample(id: Long, i: Int): Int =
    ((id * 31 + i * 17) % 65536).toInt - 32768

  /** Hand-assembled RIFF/WAVE container (PCM mono 16-bit little-endian) —
    * the WRITER is plain byte layout (deterministic, no codec needed);
    * the READER in [[decodeWav]] is the JDK's real parser.
    */
  private[pipeline] def encodeWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2)  // block align
      .putShort(16) // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(b.putShort)
    b.array()
  }

  /** REAL WAV decode via `javax.sound.sampled.AudioSystem`: container and
    * format parsed by the JDK codec, PCM frames extracted. Returns
    * (sampleRate, samples) or None for payloads that are not valid audio
    * (NonFatal only — a sick executor must fail the task, not emit stubs).
    */
  private[pipeline] def decodeWav(bytes: Array[Byte]): Option[(Int, Array[Short])] =
    if (!looksLikeWav(bytes)) None
    else try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) None
        else {
          val raw = ais.readAllBytes()
          val bb = java.nio.ByteBuffer.wrap(raw).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN)
          val out = new Array[Short](raw.length / 2)
          var i = 0
          while (i < out.length) { out(i) = bb.getShort(i * 2); i += 1 }
          Some((fmt.getSampleRate.toInt, out))
        }
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Synthetic REAL WAVs, one per document id: `n = 800 + (id%5)·100`
    * samples at 8 kHz from the shared formula. Deterministic in `doc_id`.
    */
  def syntheticWavs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // id-only rebalance before codec work — see syntheticPngs
    Dedup.rebalance(docs.select(col("doc_id"))).as[Long].mapPartitions { it =>
      it.map { id =>
        val n = (800 + (id % 5) * 100).toInt
        val samples = Array.tabulate[Short](n)(i => wavSample(id, i).toShort)
        MediaRow(id, "audio", encodeWav(samples, 8000), 0, 0, 8000, n * 1000L / 8000L)
      }
    }.toDF()
      .select(col("media_id"), col("kind"), col("bytes"),
        struct(col("width"), col("height"), col("sample_rate"), col("duration_ms"))
          .cast(mediaSchema("meta").dataType).as("meta"))
  }

  /** Decode every audio payload with the REAL JDK codec and emit
    * integer-exact sample statistics: count, sum, min, max, sum of
    * absolute values — plus the codec-reported sample rate (a real parse
    * of the format chunk, not the metadata column). One partition-local
    * pass, zero shuffle; undecodable payloads yield decoded=false rows.
    */
  def decodeAudioStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          decodeWav(bytes) match {
            case Some((rate, samples)) =>
              var (s, sa) = (0L, 0L)
              var mn = Long.MaxValue
              var mx = Long.MinValue
              var i = 0
              while (i < samples.length) {
                val v = samples(i).toLong
                s += v; sa += math.abs(v)
                if (v < mn) mn = v
                if (v > mx) mx = v
                i += 1
              }
              (id, true, rate.toLong, samples.length.toLong, s, mn, mx, sa)
            case None =>
              (id, false, 0L, 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("media_id", "decoded", "sample_rate", "n_samples",
        "sum_s", "min_s", "max_s", "sum_abs")
  }

  // ---------------------------------------------------------------------
  // REAL video frame extraction (`media_video` contract query): the JDK
  // has no inter-frame video codec, but an UNCOMPRESSED AVI is a RIFF
  // container (same family as WAV) holding one DIB bitmap per frame —
  // fully parseable with a hand-written chunk walker (the ImageHeader
  // approach), with each extracted frame decoded by the REAL ImageIO BMP
  // codec. Frame payloads are formula pixels ⇒ the oracle recomputes the
  // per-frame integer stats analytically. MJPEG-in-AVI rides the same
  // walk with the JDK's real JPEG codec per frame (spec-gated — lossy).
  // Inter-frame video (H.264 …) remains out of scope: no JDK codec.
  // ---------------------------------------------------------------------

  /** Video pixel formula (per channel, mod 256) — frame index mixed in. */
  @inline private[pipeline] def vR(id: Long, f: Int, x: Int, y: Int): Int = ((id * 7 + f * 19 + x * 3 + y * 5) % 256).toInt
  @inline private[pipeline] def vG(id: Long, f: Int, x: Int, y: Int): Int = ((id * 11 + f * 23 + x * 5 + y * 7) % 256).toInt
  @inline private[pipeline] def vB(id: Long, f: Int, x: Int, y: Int): Int = ((id * 13 + f * 29 + x * 7 + y * 11) % 256).toInt

  /** 24bpp bottom-up DIB (BITMAPINFOHEADER + padded BGR rows) — the '00db'
    * frame payload of an uncompressed AVI. Plain byte layout, lossless.
    */
  private[pipeline] def encodeDib(img: java.awt.image.BufferedImage): Array[Byte] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val rowSize = (w * 3 + 3) / 4 * 4
    val b = java.nio.ByteBuffer.allocate(40 + rowSize * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(rowSize * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = h - 1 // bottom-up row order
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        b.put((rgb & 0xFF).toByte).put(((rgb >> 8) & 0xFF).toByte).put(((rgb >> 16) & 0xFF).toByte)
        x += 1
      }
      var p = w * 3
      while (p < rowSize) { b.put(0.toByte); p += 1 }
      y -= 1
    }
    b.array()
  }

  /** Decode a DIB frame with the REAL ImageIO BMP codec (a 14-byte
    * BITMAPFILEHEADER is prepended — a DIB is a BMP file minus it).
    */
  private[pipeline] def decodeDib(dib: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    val hdr = java.nio.ByteBuffer.allocate(14).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr.put('B'.toByte).put('M'.toByte).putInt(14 + dib.length)
      .putShort(0).putShort(0).putInt(14 + 40)
    decodeImage(hdr.array() ++ dib)
  }

  /** Minimal spec-shaped AVI: RIFF('AVI ') with an hdrl list
    * (avih + strl(strh 'vids'/handler, strf BITMAPINFOHEADER)) and a movi
    * list of frame chunks. Deterministic byte layout. Defaults produce the
    * uncompressed layout ('DIB ' handler, biCompression 0, '00db' chunks);
    * [[encodeAviMjpeg]] passes the MJPG triple for compressed streams.
    */
  private[pipeline] def encodeAvi(frames: Seq[Array[Byte]], w: Int, h: Int, fps: Int,
                                  handler: String = "DIB ", compression: Int = 0,
                                  chunkId: String = "00db"): Array[Byte] = {
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = body.length % 2
      val b = java.nio.ByteBuffer.allocate(8 + body.length + pad)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(id.getBytes("US-ASCII")).putInt(body.length).put(body)
      b.array()
    }
    def list(listType: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ children)
    val bih = {
      val b = java.nio.ByteBuffer.allocate(40).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .putInt(compression)
        .putInt(((w * 3 + 3) / 4 * 4) * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
      b.array()
    }
    val avih = {
      val b = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(1000000 / fps).putInt(0).putInt(0).putInt(0)
        .putInt(frames.length).putInt(0).putInt(1).putInt(0)
        .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
      b.array()
    }
    val strh = {
      val b = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("vids".getBytes("US-ASCII")).put(handler.getBytes("US-ASCII"))
        .putInt(0).putShort(0).putShort(0).putInt(0)
        .putInt(1).putInt(fps).putInt(0).putInt(frames.length)
        .putInt(0).putInt(-1).putInt(0)
        .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
      b.array()
    }
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", bih)))
    val movi = list("movi", frames.flatMap(f => chunk(chunkId, f)).toArray)
    chunk("RIFF", "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi)
  }

  /** REAL container parse: walk the RIFF chunk tree, descend into LIST
    * chunks, collect '00db'/'00dc' frame payloads. None for payloads that
    * are not RIFF/AVI (NonFatal only — malformed sizes etc. degrade, a
    * fatal error fails the task).
    */
  private[pipeline] def extractAviFrames(bytes: Array[Byte]): Option[Seq[Array[Byte]]] =
    try {
      val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = { val a = new Array[Byte](4); b.get(a); new String(a, "US-ASCII") }
      if (fourcc() != "RIFF") return None
      b.getInt // riff payload size
      if (fourcc() != "AVI ") return None
      val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      def walk(end: Int): Unit =
        while (b.position() < end) {
          val id = fourcc()
          val sz = b.getInt
          // bound BEFORE allocating: a corrupt blob declaring a 2 GB chunk
          // must degrade to None, not OOM the executor (OutOfMemoryError is
          // fatal and deliberately NOT caught below). The sum is computed in
          // Long: with Int arithmetic a sz near Int.MaxValue overflows the
          // sum negative, the guard passes, and the allocation OOMs anyway.
          if (sz < 0 || b.position().toLong + sz > bytes.length)
            throw new java.io.IOException(s"bad RIFF chunk size $sz")
          if (id == "LIST") {
            val listEnd = b.position() + sz
            fourcc() // list type — frames can only live in chunks below
            walk(listEnd)
          } else if (id == "00db" || id == "00dc") {
            val payload = new Array[Byte](sz); b.get(payload); frames += payload
          } else b.position(b.position() + sz)
          if (sz % 2 == 1) b.position(b.position() + 1) // RIFF even padding
        }
      walk(bytes.length)
      Some(frames.toSeq)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-frame dispatch for AVI payloads: an MJPEG stream carries one
    * complete JPEG per frame chunk (JFIF SOI 0xFFD8 magic), decoded by the
    * REAL JDK JPEG codec via [[decodeImage]]; anything else is an
    * uncompressed DIB handled by the BMP codec. This is what shrinks the
    * compressed-video stub to H.264-class only — MJPEG-in-AVI (the
    * ubiquitous capture/webcam format) decodes for real end to end.
    * Lossy ⇒ spec-gated (deterministic single-decoder fixture,
    * `MjpegSpec`), not a DuckDB contract.
    */
  private[pipeline] def decodeVideoFrame(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (payload.length >= 2 && payload(0) == 0xFF.toByte && payload(1) == 0xD8.toByte)
      decodeImage(payload)
    else decodeDib(payload)

  /** JPEG-encode one frame (JDK codec, default quality). Memory-cached
    * stream for the same per-row-temp-file reason as [[decodeImage]].
    */
  private[pipeline] def encodeJpeg(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    javax.imageio.ImageIO.write(img, "jpg", ios)
    ios.flush()
    bos.toByteArray
  }

  /** 'MJPG' little-endian fourcc — the biCompression value an MJPEG AVI
    * declares in its BITMAPINFOHEADER.
    */
  private[pipeline] val MjpgFourcc: Int =
    'M'.toInt | ('J'.toInt << 8) | ('P'.toInt << 16) | ('G'.toInt << 24)

  /** Motion-JPEG AVI: same RIFF layout as the uncompressed writer but the
    * stream handler/compression declare MJPG and each '00dc' chunk is one
    * complete JPEG image. [[extractAviFrames]] already collects '00dc'
    * chunks, so the walk needs no change — only the per-frame decode
    * dispatch ([[decodeVideoFrame]]).
    */
  private[pipeline] def encodeAviMjpeg(frames: Seq[java.awt.image.BufferedImage],
                                       w: Int, h: Int, fps: Int): Array[Byte] =
    encodeAvi(frames.map(encodeJpeg), w, h, fps,
      handler = "MJPG", compression = MjpgFourcc, chunkId = "00dc")

  /** Synthetic REAL AVIs, one per document id: `2 + id%3` DIB frames of
    * `(8 + id%3) × (6 + id%2)` formula pixels at 10 fps.
    */
  def syntheticAvis(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // id-only rebalance before codec work — see syntheticPngs
    Dedup.rebalance(docs.select(col("doc_id"))).as[Long].mapPartitions { it =>
      it.map { id =>
        val w = (8 + id % 3).toInt
        val h = (6 + id % 2).toInt
        val nf = (2 + id % 3).toInt
        val frames = (0 until nf).map { f =>
          val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y, (vR(id, f, x, y) << 16) | (vG(id, f, x, y) << 8) | vB(id, f, x, y))
              x += 1
            }
            y += 1
          }
          encodeDib(img)
        }
        MediaRow(id, "video", encodeAvi(frames, w, h, 10), w, h, 0, nf * 100L)
      }
    }.toDF()
      .select(col("media_id"), col("kind"), col("bytes"),
        struct(col("width"), col("height"), col("sample_rate"), col("duration_ms"))
          .cast(mediaSchema("meta").dataType).as("meta"))
  }

  /** Extract every frame of every video payload (REAL RIFF walk), decode
    * each with the REAL BMP codec, and emit per-frame integer pixel sums —
    * the 1→n Ext shape with actual decoding. One partition-local pass,
    * zero shuffle. Unparseable payloads yield one decoded=false row.
    */
  def decodeVideoStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          extractAviFrames(bytes) match {
            case Some(frames) if frames.nonEmpty =>
              frames.iterator.zipWithIndex.map { case (dib, f) =>
                decodeVideoFrame(dib) match {
                  case Some(img) =>
                    var (sr, sg, sb) = (0L, 0L, 0L)
                    var y = 0
                    while (y < img.getHeight) {
                      var x = 0
                      while (x < img.getWidth) {
                        val rgb = img.getRGB(x, y)
                        sr += (rgb >> 16) & 0xFF; sg += (rgb >> 8) & 0xFF; sb += rgb & 0xFF
                        x += 1
                      }
                      y += 1
                    }
                    (id, f.toLong, true, img.getWidth.toLong, img.getHeight.toLong, sr, sg, sb)
                  case None => (id, f.toLong, false, 0L, 0L, 0L, 0L, 0L)
                }
              }
            case _ => Iterator((id, -1L, false, 0L, 0L, 0L, 0L, 0L))
          }
        }
      }
      .toDF("media_id", "frame_idx", "decoded", "w", "h", "sum_r", "sum_g", "sum_b")
  }

  // ----------------------------------------------------------------- GIF

  /** Exact 256-level gray palette: any grayscale frame is representable
    * without quantization, which is what makes the GIF round trip
    * integer-exact (a true-color frame would force the writer to quantize
    * or dither — lossy and implementation-defined).
    */
  private def grayPalette: java.awt.image.IndexColorModel = {
    val g = Array.tabulate[Byte](256)(i => i.toByte)
    new java.awt.image.IndexColorModel(8, 256, g, g, g)
  }

  /** REAL multi-frame GIF encode via the JDK's sequence writer (the
    * second REAL multi-frame container after AVI — this one decoded by
    * the stock ImageIO GIF plugin end to end, no hand-written walker).
    *
    * Interlace is explicitly DISABLED: the JDK writer interlaces by
    * default, and the JDK reader mis-orders interlaced rows for images
    * under 5 rows tall (verified against an independent LZW decode —
    * the bytes are valid, the reader is wrong). Non-interlaced output
    * round-trips at every size; see MediaCodecPropSpec.
    */
  private[pipeline] def encodeGif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val param = w.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    w.setOutput(ios)
    w.prepareWriteSequence(null)
    frames.foreach(f => w.writeToSequence(new javax.imageio.IIOImage(f, null, null), param))
    w.endWriteSequence()
    w.dispose()
    ios.flush()
    bos.toByteArray
  }

  /** REAL multi-frame GIF decode: every stored frame via the JDK reader.
    * None for non-GIF payloads (magic sniff first — corrupt blobs at
    * corpus scale degrade, NonFatal only, like every other codec path).
    */
  private[pipeline] def extractGifFrames(bytes: Array[Byte]): Option[Seq[java.awt.image.BufferedImage]] =
    if (bytes.length < 6 || bytes(0) != 'G' || bytes(1) != 'I' || bytes(2) != 'F') None
    else try {
      val r = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      r.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes)), false)
      try Some((0 until r.getNumImages(true)).map(r.read(_)))
      finally r.dispose()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Synthetic REAL animated GIFs, one per document id: `2 + id%3`
    * grayscale formula frames of `(8 + id%3) × (6 + id%2)` pixels —
    * gray(x,y) = the [[vR]] formula, exactly representable in the
    * 256-gray palette, so the decode is integer-exact.
    */
  def syntheticGifs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Dedup.rebalance(docs.select(col("doc_id"))).as[Long].mapPartitions { it =>
      it.map { id =>
        val w = (8 + id % 3).toInt
        val h = (6 + id % 2).toInt
        val nf = (2 + id % 3).toInt
        val frames = (0 until nf).map { f =>
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { raster.setSample(x, y, 0, vR(id, f, x, y)); x += 1 }
            y += 1
          }
          img
        }
        MediaRow(id, "video", encodeGif(frames), w, h, 0, nf * 100L)
      }
    }.toDF()
      .select(col("media_id"), col("kind"), col("bytes"),
        struct(col("width"), col("height"), col("sample_rate"), col("duration_ms"))
          .cast(mediaSchema("meta").dataType).as("meta"))
  }

  /** REAL GIF decode → per-frame integer gray sums, partition-local (the
    * GIF sibling of [[decodeVideoStats]]; the contract query `media_gif`).
    * gray = rgb & 0xFF: the exact palette makes r = g = b = the stored
    * sample.
    */
  def decodeGifStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          extractGifFrames(bytes) match {
            case Some(frames) if frames.nonEmpty =>
              frames.iterator.zipWithIndex.map { case (img, f) =>
                var s = 0L
                var y = 0
                while (y < img.getHeight) {
                  var x = 0
                  while (x < img.getWidth) { s += img.getRGB(x, y) & 0xFF; x += 1 }
                  y += 1
                }
                (id, f.toLong, true, img.getWidth.toLong, img.getHeight.toLong, s)
              }
            case _ => Iterator((id, -1L, false, 0L, 0L, 0L))
          }
        }
      }
      .toDF("media_id", "frame_idx", "decoded", "w", "h", "sum_gray")
  }

  /** Media curation capstone — the composition proof for the multimodal
    * surface, shaped like `TrainingData.prepareCorpus`: REAL decode →
    * integer luminance quality filter → exact pixel-fingerprint dedup
    * (min-id canonical) → portable hash split, end-to-end as ONE
    * oracle-checked plan (`media_curate`). All observable values are
    * integer-exact: `lum = (Σr+Σg+Σb) div (3·w·h)`, fingerprint =
    * (w, h, channel sums), split = md5 bucket.
    */
  def curateMedia(docs: DataFrame, lumLo: Long = 100L, lumHi: Long = 160L): DataFrame = {
    val stats = decodePixelStats(syntheticPngs(docs), rw = 7, rh = 5)
      .filter(col("decoded"))
      .withColumn("lum",
        expr("(sum_r + sum_g + sum_b) div (3 * w * h)"))
      .filter(col("lum").between(lumLo, lumHi))
    // exact-fingerprint dedup: keep the min media_id per identical
    // (dims + channel sums) — shuffles seven longs per row, never pixels
    val canon = stats.groupBy(col("w"), col("h"), col("sum_r"), col("sum_g"), col("sum_b"))
      .agg(min(col("media_id")).as("media_id"))
      .select(col("media_id"))
    stats.join(canon, Seq("media_id"), "left_semi")
      .select(col("media_id"), col("lum"),
        when(pmod(graft.functions.PortableHash.hash60(
          concat(lit("msplit_"), col("media_id"))), lit(100L)) < 80, "train")
          .when(pmod(graft.functions.PortableHash.hash60(
            concat(lit("msplit_"), col("media_id"))), lit(100L)) < 90, "val")
          .otherwise("test").as("split"))
  }

  /** Decode every image payload with the REAL codec and emit integer-exact
    * pixel statistics — per-channel sum and max of the decoded image, plus
    * the same stats after a round trip through the REAL resize kernel
    * (decode → nearest-neighbor `(rw,rh)` via `resizeNN` → PNG encode →
    * decode).
    * Undecodable payloads yield null stats (accounted, not dropped).
    *
    * ONE `mapPartitions` pass, ZERO shuffle: each payload is decoded once
    * and both original and resized statistics are computed locally. (An
    * earlier formulation joined the corpus with a resized copy of itself
    * on media_id — two corpus-sized frames of PNG bytes through a
    * shuffle, a scale-killer at 100 TB; the differential spec pins this
    * fused pass to the separate resize transform's output.)
    */
  def decodePixelStats(media: DataFrame, rw: Int, rh: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        def stats(img: java.awt.image.BufferedImage): (Long, Long, Long, Long, Long, Long, Long, Long) = {
          var (sr, sg, sb) = (0L, 0L, 0L)
          var (mr, mg, mb) = (0L, 0L, 0L)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              val (r, g, b) = ((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)
              sr += r; sg += g; sb += b
              if (r > mr) mr = r
              if (g > mg) mg = g
              if (b > mb) mb = b
              x += 1
            }
            y += 1
          }
          (img.getWidth.toLong, img.getHeight.toLong, sr, sg, sb, mr, mg, mb)
        }
        it.map { case (id, orig) =>
          val res = decodeImage(orig).flatMap { img =>
            // resized stats go through a lossless round trip:
            // resample → PNG encode → decode
            decodeImage(encodePng(resizeNN(img, rw, rh))).map(rs => (stats(img), stats(rs)))
          }
          res match {
            case Some(((w, h, sr, sg, sb, mr, mg, mb), (_, _, rsr, rsg, rsb, _, _, _))) =>
              (id, true, w, h, sr, sg, sb, mr, mg, mb, rsr, rsg, rsb)
            case None =>
              (id, false, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("media_id", "decoded", "w", "h", "sum_r", "sum_g", "sum_b",
        "max_r", "max_g", "max_b", "rs_sum_r", "rs_sum_g", "rs_sum_b")
  }
}
