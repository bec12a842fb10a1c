package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Engine-portable 60-bit hash: the first 15 hex digits of md5, read as an
  * integer. Every mainstream engine (and the DuckDB correctness oracle)
  * computes the identical value:
  *
  *   Spark :  conv(substring(md5(x), 1, 15), 16, 10)::long
  *   DuckDB:  ('0x' || substring(md5(x), 1, 15))::BIGINT
  *
  * Used wherever a hash value is part of the *result contract* — minhash
  * signatures, simhash bits, LSH hyperplanes, rolling fingerprints — so the
  * driver's DuckDB oracle can recompute results exactly instead of falling
  * back to row-count checks. 15 hex digits = 60 bits keeps the value
  * strictly positive in a signed 64-bit integer on both engines.
  *
  * The engine-internal fast paths (bucket join keys, exact-dedup digests)
  * keep xxhash64 — portability only matters where the hash value itself is
  * observable in query output or influences which rows are emitted.
  */
object PortableHash {

  /** 60-bit md5-derived hash of the UTF-8 bytes of `c` (cast to string).
    * Backed by the fused native expression below: one digest call straight
    * to a long, no hex-string materialization, no base-16 re-parse — the
    * `md5 → substring → conv → cast` chain it replaces allocated two
    * strings per call. Value identical to the SQL formulation (spec-pinned).
    */
  def hash60(c: Column): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(PortableHash60(bridge.expression(c.cast("string"))))
  }

  /** The digest-prefix kernel: first 15 hex digits of md5 as an integer —
    * bytes 0..6 in full plus the high nibble of byte 7, big-endian. Called
    * from interpreted eval and generated code alike.
    */
  def md5Prefix60(bytes: Array[Byte]): Long = {
    val md = localMd.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    (v << 4) | ((d(7) & 0xFF) >>> 4)
  }

  private val localMd = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** SQL fragment (DuckDB dialect) computing the same value as `hash60`,
    * for building oracle queries: substitute the argument expression.
    */
  def duckdbHash60(arg: String): String =
    s"('0x' || substring(md5($arg), 1, 15))::BIGINT"

  /** Driver-side evaluation of the same 60-bit hash (for deriving plan
    * constants — LSH hyperplanes, universal-hash coefficients — that the
    * oracle re-derives with its md5).
    */
  def local60(s: String): Long = md5Prefix60(s.getBytes("UTF-8"))
}

/** Native fused expression for [[PortableHash.hash60]]: UTF-8 string →
  * 60-bit md5 prefix as a long, in one kernel call. Stays inside
  * whole-stage codegen via `defineCodeGen`.
  */
case class PortableHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "portable_hash60"

  override def nullSafeEval(input: Any): Any =
    PortableHash.md5Prefix60(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PortableHash.md5Prefix60(($c).getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
