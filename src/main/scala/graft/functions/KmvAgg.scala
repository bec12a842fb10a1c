package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded bottom-k DISTINCT set for [[KmvSmallest]]: the k smallest
  * distinct long values, kept sorted ascending. Insertion against a full
  * buffer is one comparison with the retained maximum (O(1) reject for the
  * common above-threshold value — after the warm-up phase the expected
  * number of accepts over n inputs is only k·ln(n/k)); an accept is a
  * binary search (which also deduplicates — a KMV sketch estimates
  * DISTINCT cardinality, so duplicate hashes must collapse) plus one
  * `System.arraycopy` shift. Memory: 8·k bytes + constant.
  */
final class KmvBuffer(val k: Int) {
  private[functions] val vals = new Array[Long](k)
  private[functions] var n = 0

  def add(v: Long): Unit = {
    if (n == k && v >= vals(n - 1)) return // common case: not among k smallest
    val i = java.util.Arrays.binarySearch(vals, 0, n, v)
    if (i >= 0) return // duplicate — distinct sketch keeps one
    val ins = -i - 1
    val last = if (n < k) { n += 1; n - 1 } else k - 1 // full: current max falls off
    System.arraycopy(vals, ins, vals, ins + 1, last - ins)
    vals(ins) = v
  }

  def mergeFrom(o: KmvBuffer): Unit = {
    var i = 0
    while (i < o.n) { add(o.vals(i)); i += 1 }
  }

  /** Retained values, ascending (already the buffer order). */
  def toArrayData: GenericArrayData =
    new GenericArrayData(java.util.Arrays.copyOf(vals, n))

  def serialize(): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * n)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putLong(vals(i)); i += 1 }
    bb.array()
  }
}

/** Bounded bottom-k-by-hash (hash, value) sample for [[KmvSampleAgg]]:
  * the k smallest distinct hashes with an attached payload value, sorted
  * ascending by hash. Same shape as [[KmvBuffer]] plus a parallel value
  * array. A colliding hash keeps the MINIMUM value — a deterministic,
  * order-independent merge rule, so a (cosmically unlikely) 60-bit
  * collision still cannot make the result depend on partition order.
  */
final class KmvSampleBuffer(val k: Int) {
  private[functions] val hs = new Array[Long](k)
  private[functions] val vs = new Array[Double](k)
  private[functions] var n = 0

  def add(h: Long, v: Double): Unit = {
    if (n == k && h > hs(n - 1)) return
    val i = java.util.Arrays.binarySearch(hs, 0, n, h)
    if (i >= 0) { if (v < vs(i)) vs(i) = v; return } // collision: keep min value
    val ins = -i - 1
    val last = if (n < k) { n += 1; n - 1 } else k - 1
    System.arraycopy(hs, ins, hs, ins + 1, last - ins)
    System.arraycopy(vs, ins, vs, ins + 1, last - ins)
    hs(ins) = h; vs(ins) = v
  }

  def mergeFrom(o: KmvSampleBuffer): Unit = {
    var i = 0
    while (i < o.n) { add(o.hs(i), o.vs(i)); i += 1 }
  }

  def toArrayData: GenericArrayData =
    new GenericArrayData((0 until n).map(i =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](hs(i), vs(i)))).toArray[Any])

  def serialize(): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * n)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putLong(hs(i)); bb.putDouble(vs(i)); i += 1 }
    bb.array()
  }
}

/** KMV (k-minimum-values / bottom-k) distinct sketch as a TYPED AGGREGATE:
  * `kmv_smallest(hash, k)` → `array<bigint>` of the k smallest DISTINCT
  * hash values per group, ascending. With a uniform hash over [0, 2^60),
  * the k-th smallest retained value h_k estimates the distinct count as
  * `(k-1) · 2^60 / h_k` (standard error ≈ 1/√(k−2)); fewer than k retained
  * values IS the exact distinct count.
  *
  * The 100 TB shape: no `distinct` pre-shuffle and no sketch-library
  * opacity — partial buffers build map-side directly on the raw rows
  * (duplicates collapse in the buffer), merge is associative, and only
  * ≤ k longs per group cross the shuffle. Built over the engine-portable
  * [[PortableHash.hash60]], the retained values — and therefore the
  * estimate — are bit-identical when the DuckDB oracle replays the sketch
  * with `row_number() OVER (ORDER BY hash) <= k`: an *approximate*
  * operator with an *exact* correctness contract, unlike HLL sketches
  * whose internals are engine-specific (that variant is spec-gated in
  * `RecallGatesSpec`).
  */
case class KmvSmallest(child: Expression, k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvBuffer] with UnaryLike[Expression] {
  require(k > 0, "kmv_smallest: k must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_smallest"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kmv_smallest requires bigint input, got ${other.catalogString}")
    }

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(b: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) b.add(v.asInstanceOf[Long])
    b
  }

  override def merge(b: KmvBuffer, o: KmvBuffer): KmvBuffer = { b.mergeFrom(o); b }

  override def eval(b: KmvBuffer): Any = b.toArrayData

  override def serialize(b: KmvBuffer): Array[Byte] = b.serialize()

  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new KmvBuffer(k)
    val m = bb.getInt
    var i = 0
    while (i < m) { b.add(bb.getLong); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(n: Int): KmvSmallest =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KmvSmallest =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): KmvSmallest =
    copy(child = newChild)
}

/** Bottom-k-by-hash UNIFORM SAMPLE as a typed aggregate:
  * `kmv_sample(struct(hash, value), k)` → `array<struct<h,v>>` ascending
  * by hash. Rows whose key-hash lands among the k smallest form a
  * uniform-without-replacement sample of the distinct keys — deterministic
  * given the hash, so unlike `TABLESAMPLE`/reservoir sampling the oracle
  * replays it exactly (`row_number() OVER (ORDER BY hash) <= k`). The
  * basis for portable approximate quantiles: exact quantiles OF the
  * deterministic sample. Same scale shape as [[KmvSmallest]]: map-side
  * partials, associative merge, ≤ k rows per group cross the shuffle.
  */
case class KmvSampleAgg(child: Expression, k: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvSampleBuffer] with UnaryLike[Expression] {
  require(k > 0, "kmv_sample: k must be positive")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("h", LongType, nullable = false),
      StructField("v", DoubleType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sample"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StructType(fields)
        if fields.length == 2 && fields(0).dataType == LongType && fields(1).dataType == DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kmv_sample requires struct<h:bigint,v:double>, got ${other.catalogString}")
    }

  override def createAggregationBuffer(): KmvSampleBuffer = new KmvSampleBuffer(k)

  override def update(b: KmvSampleBuffer, input: InternalRow): KmvSampleBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val r = v.asInstanceOf[InternalRow]
      if (!r.isNullAt(0) && !r.isNullAt(1)) b.add(r.getLong(0), r.getDouble(1))
    }
    b
  }

  override def merge(b: KmvSampleBuffer, o: KmvSampleBuffer): KmvSampleBuffer = {
    b.mergeFrom(o); b
  }

  override def eval(b: KmvSampleBuffer): Any = b.toArrayData

  override def serialize(b: KmvSampleBuffer): Array[Byte] = b.serialize()

  override def deserialize(bytes: Array[Byte]): KmvSampleBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new KmvSampleBuffer(k)
    val m = bb.getInt
    var i = 0
    while (i < m) { b.add(bb.getLong, bb.getDouble); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(n: Int): KmvSampleAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KmvSampleAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): KmvSampleAgg =
    copy(child = newChild)
}
