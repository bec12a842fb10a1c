package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity of two float vectors in a
  * single fused pass (dot product and both norms in one loop, no lambda
  * dispatch, no intermediate arrays).
  *
  * This is the ANN hot path: the `zip_with`/`aggregate` HOF formulation
  * walks each array three times through lambda-variable indirection; this
  * expression generates a tight scalar loop via `doGenCode`, keeping
  * whole-stage codegen intact. Returns 0.0 when either norm is 0; null when
  * either input is null; errors on length mismatch (a data bug worth
  * failing loudly on).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must both be array<float> or both array<double> — enforced at
  // analysis time by checkInputDataTypes below: the SQL-registered form
  // (GraftExtensions) applies no casts, and a mixed float/double pair
  // would read the packed UnsafeArrayData at the wrong element stride —
  // silent garbage instead of an error. The element type is read from the
  // plan, so the float fast path pays nothing for the double variant.
  private lazy val isDouble: Boolean = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckSuccess
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckSuccess
      case (l, r) => TypeCheckFailure(
        s"cosine_similarity requires both inputs to be array<float> or both " +
        s"array<double>, got ${l.simpleString(10)} and ${r.simpleString(10)} — " +
        "cast both sides to a common element type")
    }
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    require(y.numElements() == n,
      s"cosine_similarity: length mismatch ${n} vs ${y.numElements()}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (isDouble) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (isDouble) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val get = if (isDouble) "getDouble" else "getFloat"
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "cosine_similarity: length mismatch " + $n + " vs " + $b.numElements());
         |}
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xi = (double) $a.$get($i);
         |  final double $yi = (double) $b.$get($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column-level entry point (float arrays are cast if needed). */
  def apply(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.bridge
    val af = a.cast(ArrayType(FloatType))
    val bf = b.cast(ArrayType(FloatType))
    bridge.column(CosineSimilarity(bridge.expression(af), bridge.expression(bf)))
  }

  /** Double-array variant — for quantized integer-valued vectors whose sum
    * centroids exceed float's 2^24 exact-integer range (IVF portable
    * training). Same fused loop; element accessor chosen at codegen time.
    */
  def applyD(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.bridge
    val ad = a.cast(ArrayType(DoubleType))
    val bd = b.cast(ArrayType(DoubleType))
    bridge.column(CosineSimilarity(bridge.expression(ad), bridge.expression(bd)))
  }

  /** DuckDB twin of the kernel, for oracle SQL: the same sequential
    * `list_dot_product` folds over `a` and `b` (DOUBLE[] expressions), and
    * the same 0.0 when either norm is 0.
    */
  private[graft] def duckdbCos(a: String, b: String): String =
    s"""CASE WHEN list_dot_product($a, $a) = 0 OR list_dot_product($b, $b) = 0 THEN 0.0
             ELSE list_dot_product($a, $b)
                  / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) END"""
}
