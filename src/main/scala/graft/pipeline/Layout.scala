package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Morton (Z-order) clustering.
  *
  * The reference stores tables sorted on ONE key path (SURVEY §1.3 — the
  * Accumulo row-key sort), so range pruning works on the leading dimension
  * only. At 100 TB a fact table is filtered on several dimensions at once
  * (user AND time, key AND shard); Z-order interleaves the bits of two
  * dimensions so that rows close in EITHER dimension land close in the
  * one-dimensional sort — per-file min/max footers then prune on both
  * dimensions, the technique behind Delta/Iceberg `OPTIMIZE ZORDER BY`.
  *
  * Everything here is plain codegen'd integer bit arithmetic (shifts, masks,
  * adds — disjoint bit positions, so `+` is interleave), deterministic and
  * engine-portable: the DuckDB oracle replays the exact z-values.
  *
  * Math fact the contract leans on: a bucket = the top `bucketBits` bits of
  * a 2·`bits`-bit z-value is a GRID CELL — each dimension's span inside one
  * bucket is at most 2^(bits − ⌈bucketBits/2⌉) (for even `bucketBits`),
  * regardless of data distribution. `LayoutSpec` asserts the bound; the
  * contract query emits the per-bucket bounding boxes the pruning would use.
  */
object Layout {

  /** Morton z-value: interleave the low `bits` bits of `x` (even bit
    * positions) and `y` (odd positions). Inputs are masked to `bits` bits
    * first, so out-of-range values wrap deterministically instead of
    * colliding across cells.
    */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val mask = (1L << bits) - 1
    val xm = x.cast("long").bitwiseAND(lit(mask))
    val ym = y.cast("long").bitwiseAND(lit(mask))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }
  }

  /** N-dimensional Morton z-value: round-robin bit interleave of the low
    * `bits` bits of each dimension (dimension d owns bit positions
    * i·N + d). [[zValue]] is the N=2 case; `OPTIMIZE ZORDER BY (a,b,c)`
    * shapes use N=3+. Total bits `N·bits` must fit a signed long.
    */
  def zValueN(dims: Seq[Column], bits: Int): Column = {
    require(dims.nonEmpty, "zValueN needs at least one dimension")
    require(bits >= 1 && dims.length * bits <= 63,
      s"${dims.length} dims x $bits bits exceeds a signed long")
    val mask = (1L << bits) - 1
    val n = dims.length
    dims.zipWithIndex.foldLeft(lit(0L)) { case (acc, (dim, d)) =>
      val m = dim.cast("long").bitwiseAND(lit(mask))
      (0 until bits).foldLeft(acc) { (a, i) =>
        a + shiftleft(shiftright(m, i).bitwiseAND(lit(1L)), i * n + d)
      }
    }
  }

  /** DuckDB SQL fragment computing the same z-value as [[zValue]] — the
    * oracle side of the contract, generated from the same loop so the two
    * dialects cannot drift. `x`/`y` must be already-masked BIGINT fragments.
    */
  def duckdbZValue(x: String, y: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** Per-bucket layout statistics over the events table: bucket = top
    * `bucketBits` bits of the z-value over (user_id, hour-of-epoch), with
    * each bucket's row count and bounding box in both (masked) dimensions.
    * This is exactly the min/max metadata a scan would prune with; the
    * grid-cell bound makes every box provably small (see object doc).
    *
    * One map-side-combined groupBy over ≤ 2^bucketBits groups — the
    * post-shuffle cardinality is constant in corpus size.
    */
  def zorderStats(events: DataFrame, bits: Int = 10, bucketBits: Int = 6): DataFrame = {
    require(bucketBits >= 1 && bucketBits <= 2 * bits)
    val mask = (1L << bits) - 1
    val x = col("user_id").cast("long").bitwiseAND(lit(mask))
    val y = floor(unix_timestamp(col("ts")) / 3600).cast("long").bitwiseAND(lit(mask))
    events
      .select(shiftright(zValue(col("user_id"), floor(unix_timestamp(col("ts")) / 3600), bits),
        2 * bits - bucketBits).as("bucket"),
        x.as("x"), y.as("y"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
  }
}
