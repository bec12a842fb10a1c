package graft.pipeline

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Z-order (Morton) layout: interleave correctness, the grid-cell bound the
  * contract query leans on, and the end-to-end write path whose per-file
  * min/max footers actually prune in both dimensions.
  */
class LayoutSpec extends AnyFunSuite {
  import TestSpark._

  private val xySchema = new StructType().add("x", LongType).add("y", LongType)
  private def pts(rows: (Long, Long)*) =
    df(xySchema, rows.map(r => Row(r._1, r._2)))

  /** Reference interleave for the spec side (bit-by-bit, independent). */
  private def zRef(x: Long, y: Long, bits: Int): Long =
    (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum

  test("zValue matches the bit-by-bit reference, including mask wrap") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (1023L, 1023L),
      (1024L, 7L) /* wraps to x=0 */, (123456L, 789012L))
    val got = pts(rows: _*)
      .select(col("x"), col("y"), Layout.zValue(col("x"), col("y"), 10).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { case (x, y) =>
      assert(got((x, y)) == zRef(x & 1023, y & 1023, 10), s"($x,$y)")
    }
    // canonical small Morton values: (x=1,y=0)→1, (x=0,y=1)→2, (x=1,y=1)→3
    assert(got((1L, 0L)) == 1L && got((0L, 1L)) == 2L && got((3L, 5L)) == zRef(3, 5, 10))
  }

  test("zValueN: N-dim round-robin interleave; N=2 equals zValue; 3-dim cells bound all dims") {
    // reference interleave for arbitrary N
    def zRefN(vs: Seq[Long], bits: Int): Long =
      vs.zipWithIndex.map { case (v, d) =>
        (0 until bits).map(i => ((v >> i) & 1L) << (i * vs.length + d)).sum
      }.sum
    val schema = new StructType().add("x", LongType).add("y", LongType).add("w", LongType)
    val rows = Seq((3L, 5L, 9L), (0L, 0L, 0L), (1023L, 1L, 512L), (7L, 1024L, 2L))
    val d = df(schema, rows.map(r => Row(r._1, r._2, r._3)))
    val got = d.select(col("x"), col("y"), col("w"),
        Layout.zValueN(Seq(col("x"), col("y")), 10).as("z2"),
        Layout.zValue(col("x"), col("y"), 10).as("z2ref"),
        Layout.zValueN(Seq(col("x"), col("y"), col("w")), 10).as("z3"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(3) == r.getLong(4), "zValueN(2) must equal zValue")
      val (x, y, w) = (r.getLong(0) & 1023, r.getLong(1) & 1023, r.getLong(2) & 1023)
      assert(r.getLong(5) == zRefN(Seq(x, y, w), 10), s"3-dim interleave at ($x,$y,$w)")
    }
    // 3-dim grid-cell bound: top 6 z-bits fix 2 high bits of each dim
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val z3 = ev.select(
      Layout.zValueN(Seq(col("user_id"), col("event_id"),
        floor(unix_timestamp(col("ts")) / 3600)), 10).as("z"),
      col("user_id").cast("long").bitwiseAND(lit(1023L)).as("x"))
      .withColumn("bucket", shiftright(col("z"), 24))
      .groupBy("bucket").agg(min("x").as("mn"), max("x").as("mx"))
    z3.collect().foreach(r =>
      assert(r.getLong(2) - r.getLong(1) < 256, s"bucket ${r.getLong(0)} x-span"))
  }

  test("zorderStats buckets are grid cells: per-bucket span bounded by construction") {
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val stats = Layout.zorderStats(events, bits = 10, bucketBits = 6).collect()
    assert(stats.nonEmpty && stats.length <= 64)
    // top 6 z-bits fix 3 high bits of each dimension → span < 2^7 = 128
    stats.foreach { r =>
      val (minX, maxX, minY, maxY) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(maxX - minX < 128, s"bucket ${r.getLong(0)} x-span")
      assert(maxY - minY < 128, s"bucket ${r.getLong(0)} y-span")
    }
    // while the FULL data spans (nearly) the whole masked domain in x or y:
    // a single-dimension sort could not bound both spans at once
    val all = events.select(
      max(col("user_id").cast("long").bitwiseAND(lit(1023L))).as("mx"),
      max(floor(unix_timestamp(col("ts")) / 3600).cast("long").bitwiseAND(lit(1023L))) -
        min(floor(unix_timestamp(col("ts")) / 3600).cast("long").bitwiseAND(lit(1023L)))).head()
    assert(all.getLong(0) > 128 || all.getLong(1) > 128,
      "fixture should span more than one cell in at least one dimension")
    // counts conserve rows
    assert(stats.map(_.getLong(1)).sum == events.count())
  }

  test("zorderWrite: every output file's footer bbox is a small grid window") {
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString + "/ev"
    // z-order clustering: range-partition on the z-value into 8 files,
    // each sorted within, so every file's footer bounds both dimensions
    events.select(col("user_id"), floor(unix_timestamp(col("ts")) / 3600).as("hour"))
      .withColumn("zval", Layout.zValue(col("user_id"), col("hour"), 10))
      .repartitionByRange(8, col("zval"))
      .sortWithinPartitions(col("zval"))
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == events.count())
    // per-file z ranges must be disjoint (range partitioning + inner sort)
    val perFile = back
      .select(input_file_name().as("f"), col("zval"))
      .groupBy("f").agg(min("zval").as("lo"), max("zval").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    perFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, "file z-ranges overlap")
      case _ =>
    }
  }
}
