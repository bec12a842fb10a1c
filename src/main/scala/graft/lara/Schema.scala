package graft.lara

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Value-attribute spec: name, Spark type, and the Lara default value.
  *
  * In the Lara algebra a table is a *total function* from the key space to
  * values: a tuple that is physically absent is semantically present with
  * every value attribute at its default. (Reference:
  * `api/Schema.kt:108-117` `ValAttribute(name, type, default)`.)
  *
  * `default == null` is legal and meaningful (reference `NDOUBLE`,
  * `api/Types.kt:58-66`): it makes null a real value, so operators use
  * "attribute absent" (column missing from one side of a union/join), never
  * `isNull`, to decide when to substitute the default.
  */
final case class ValSpec(name: String, dataType: DataType, default: Any)

/** Ordered key attributes + value attributes with defaults.
  *
  * Mirrors reference `Schema(keys, vals)` (`api/Schema.kt:150-160`): names
  * must be unique and keys/vals disjoint. Key *order* is semantic in the
  * reference (the access path, `api/Schema.kt:191-212`); here it is carried
  * as declared order and realized physically only when an operator or sink
  * needs it — Spark shuffles/sorts on demand.
  */
final case class LaraSchema(keys: Seq[String], vals: Seq[ValSpec]) {
  val valNames: Seq[String] = vals.map(_.name)
  require(keys.distinct == keys, s"duplicate key attributes in $keys")
  require(valNames.distinct == valNames, s"duplicate value attributes in $valNames")
  require(keys.intersect(valNames).isEmpty,
    s"key/value attributes overlap: ${keys.intersect(valNames)}")

  def allNames: Seq[String] = keys ++ valNames
  def valSpec(name: String): ValSpec =
    vals.find(_.name == name).getOrElse(sys.error(s"no value attribute $name in $this"))

  /** Longest common ordered key prefix — the result keys of a Lara Union.
    * Reference `intersectKeys` (`api/TupleOp.kt:374-387`): keys past the
    * common prefix must not collide between the two inputs.
    */
  def unionKeyPrefix(other: LaraSchema): Seq[String] = {
    val common = keys.zip(other.keys).takeWhile { case (a, b) => a == b }.map(_._1)
    val restA = keys.drop(common.length)
    val restB = other.keys.drop(common.length)
    require(restA.intersect(restB).isEmpty,
      s"union: keys after common prefix $common collide: $restA vs $restB " +
        "(reference api/TupleOp.kt:374-387 forbids this)")
    common
  }

  /** Union of key attrs for Join: shared keys must form a common prefix on
    * both sides (reference `unionKeys`, `api/TupleOp.kt:625-640`).
    */
  def joinKeys(other: LaraSchema): (Seq[String], Seq[String]) = {
    val shared = keys.filter(other.keys.contains)
    require(keys.take(shared.length) == shared && other.keys.take(shared.length) == shared,
      s"join: shared keys $shared must be a common ordered prefix of both $keys and ${other.keys} " +
        "(reference api/TupleOp.kt:625-640)")
    val resultKeys = keys ++ other.keys.filterNot(keys.contains)
    (shared, resultKeys)
  }
}

/** Commutative-monoid ⊕ for Union/Agg. (Reference `PlusFun(name, identity,
  * plus)`, `api/Schema.kt:265-325`.)
  *
  * `agg` builds the aggregate expression over a column — for the common
  * monoids this is a Spark built-in (codegen'd partial+final hash agg);
  * `combine` is the same monoid as a binary scalar, used where two columns
  * are merged positionally. The ⊕ identity must equal the value default of
  * the table it is applied to (checked in LaraTable.union, mirroring
  * `api/TupleOp.kt:313-320`).
  */
final case class PlusFn(
    identity: Any,
    agg: Column => Column,
    combine: (Column, Column) => Column)

object PlusFn {
  /** Sum with identity 0 (works for long and double columns). */
  def sum: PlusFn = PlusFn(0, c => org.apache.spark.sql.functions.sum(c), _ + _)
  def sumLong: PlusFn = PlusFn(0L, c => org.apache.spark.sql.functions.sum(c), _ + _)
  def sumDouble: PlusFn = PlusFn(0.0d, c => org.apache.spark.sql.functions.sum(c), _ + _)
  def min(identity: Any): PlusFn = PlusFn(identity, c => org.apache.spark.sql.functions.min(c), least(_, _))
  def max(identity: Any): PlusFn = PlusFn(identity, c => org.apache.spark.sql.functions.max(c), greatest(_, _))
  /** Logical-or over 0/1 ints — reference `anyFun` (`examples/sensor/SensorQuery.kt:72-74`). */
  def any: PlusFn = PlusFn(0, c => org.apache.spark.sql.functions.max(c), greatest(_, _))
  /** No ⊕ defined: combining two real values is an error. Reference
    * `plusErrorFun` (`api/Schema.kt:315-324`) — a union is still legal for a
    * val without ⊕ as long as no two tuples actually collide on it; the
    * violation surfaces at run time, like the reference's throw. `identity`
    * is the val's default so the identity/default law holds vacuously.
    */
  def errorFn(identity: Any, dt: DataType): PlusFn = PlusFn(
    identity,
    c => when(count(c) > 1,
        raise_error(lit("plusErrorFun: ⊕ applied to two present values")).cast(dt))
      .otherwise(first(c)),
    (a, b) => when(a.isNotNull && b.isNotNull,
      raise_error(lit("plusErrorFun: ⊕ applied to two present values")).cast(dt)
    ).otherwise(coalesce(a, b)))
}

/** ⊗ for Join, with annihilators. (Reference `TimesFun(name, leftAnnihilator,
  * rightAnnihilator, resultType, times)`, `api/Schema.kt:330-397`.) The
  * annihilators must equal the input defaults (checked in LaraTable.join,
  * mirroring `api/TupleOp.kt:649-652`); `resultZero = times(lAnn, rAnn)`
  * becomes the result's default and feeds the ZeroDiscard sparsity filter.
  */
final case class TimesFn(
    leftAnnihilator: Any,
    rightAnnihilator: Any,
    resultZero: Any,
    times: (Column, Column) => Column)

object TimesFn {
  def multiply: TimesFn = TimesFn(0, 0, 0, _ * _)
  def multiplyDouble: TimesFn = TimesFn(0.0d, 0.0d, 0.0d, _ * _)
  def subtract: TimesFn = TimesFn(null, null, null, _ - _)
  def divide: TimesFn = TimesFn(null, null, null, _ / _)
  def left: TimesFn = TimesFn(null, null, null, (a, _) => a)
}
