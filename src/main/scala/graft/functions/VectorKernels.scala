package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused single-pass kernels for the hot array loops of the dedup/ANN
  * pipelines. The HOF formulations (`transform`/`aggregate` chains) walk
  * the array once per family member / bit / hyperplane through lambda
  * indirection and allocate intermediates; these expressions make ONE pass
  * in a tight JVM loop and return the finished signature/bucket array.
  * Codegen emits a single static kernel call (the `PortableHash60`
  * pattern), so whole-stage pipelines stay intact.
  *
  * Numeric contracts are IDENTICAL to the HOF versions they replace (and
  * to the DuckDB oracle formulas): differential specs pin equality.
  */
object VectorKernels {

  private val P31 = 2147483647L // 2^31 − 1

  /** Portable minhash signature — one pass over base hashes, all
    * `numHashes` universal-hash minima maintained simultaneously.
    * Empty input yields all-null elements (list_min-of-empty semantics).
    *
    * `floorMod` (not signed `%`) keeps the kernel identical to the HOF
    * twin and the DuckDB oracle, which both use positive (pmod)
    * arithmetic: the public `minhashSignaturePortable` accepts any
    * `array<long>`, and a negative base hash (e.g. from the xxhash64
    * family) must not silently diverge from that contract. For the
    * md5-derived 60-bit bases the pipelines feed it, the two operators
    * agree and nothing changes.
    */
  def minhashSig(bases: ArrayData, a: Array[Long], c: Array[Long]): ArrayData = {
    val n = a.length
    if (bases.numElements() == 0)
      return new GenericArrayData(Array.fill[Any](n)(null))
    val sig = Array.fill(n)(Long.MaxValue)
    var t = 0
    val m = bases.numElements()
    while (t < m) {
      val b31 = java.lang.Math.floorMod(bases.getLong(t), P31)
      var i = 0
      while (i < n) {
        val v = java.lang.Math.floorMod(a(i) * b31 + c(i), P31)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      t += 1
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash — one pass over token hashes accumulating all 64 bit
    * counters. Bit i set iff strictly more than half the hashes have it.
    */
  def simhash64(hashes: ArrayData): Long = {
    val m = hashes.numElements()
    val counts = new Array[Int](64)
    var t = 0
    while (t < m) {
      val h = hashes.getLong(t)
      var i = 0
      while (i < 64) {
        counts(i) += ((h >>> i) & 1L).toInt
        i += 1
      }
      t += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) * 2 > m) sig |= (1L << i)
      i += 1
    }
    sig
  }

  /** Banded sign-LSH bucket keys — one pass per hyperplane (sequential
    * double fold, the IEEE order the oracle reproduces), all bands fused.
    *
    * A plane/embedding dimension mismatch FAILS FAST: a wrong `dim`
    * argument would otherwise map every vector to bucket 0, and the
    * bucket-size cap downstream would then drop the single oversized
    * bucket — an empty result with no error. (The HOF formulation keeps
    * its null-propagating zip_with semantics; the differential spec
    * compares the two only on matching dimensions.)
    */
  def lshBuckets(emb: ArrayData, planes: Array[Array[Double]],
                 bands: Int, planesPerBand: Int): ArrayData = {
    val out = new Array[Long](bands)
    val n = emb.numElements()
    if (planes.length > 0 && planes(0).length != n)
      throw new IllegalArgumentException(
        s"lsh_buckets: hyperplane dim ${planes(0).length} != embedding dim $n — " +
        "check the `dim` argument against the embedding column")
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var i = 0
      while (i < planesPerBand) {
        val plane = planes(b * planesPerBand + i)
        var dot = 0.0d
        var j = 0
        while (j < n) { dot += emb.getFloat(j).toDouble * plane(j); j += 1 }
        val bit = if (dot > 0) 1L else 0L
        bucket = bucket * 2 + bit
        i += 1
      }
      out(b) = bucket
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** array<long> base hashes → array<long> portable minhash signature. */
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {
  // same md5-derived coefficients as the HOF/oracle formulation
  private lazy val coefA: Array[Long] =
    Array.tabulate(numHashes)(i => PortableHash.local60(s"a_$i") % (2147483646L) + 1)
  private lazy val coefC: Array[Long] =
    Array.tabulate(numHashes)(i => PortableHash.local60(s"b_$i") % 2147483647L)

  override def dataType: DataType = ArrayType(LongType)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    VectorKernels.minhashSig(input.asInstanceOf[ArrayData], coefA, coefC)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("coefA", coefA, "long[]")
    val cRef = ctx.addReferenceObj("coefC", coefC, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.minhashSig($c, $aRef, $cRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<long> token hashes → long SimHash signature. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    VectorKernels.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<float> embedding → array<long> banded sign-LSH bucket keys. */
case class LshBuckets(child: Expression, bands: Int, planesPerBand: Int, dim: Int)
    extends UnaryExpression {
  private lazy val planes: Array[Array[Double]] =
    Array.tabulate(bands * planesPerBand)(p => graft.pipeline.Similarity.plane(p, dim))

  override def dataType: DataType = ArrayType(LongType)
  override def prettyName: String = "lsh_buckets"

  override def nullSafeEval(input: Any): Any =
    VectorKernels.lshBuckets(input.asInstanceOf[ArrayData], planes, bands, planesPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("planes", planes, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.lshBuckets($c, $pRef, $bands, $planesPerBand)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
