package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's relational frontend re-expressed as a tiny algebraic
  * op-tree lowered to Catalyst.
  *
  * Reference surface (`opt/raco/RacoOperators.kt:110-201`): `Store, Dump,
  * Apply, Select, Scan, FileScan, FileStore` over scalar expressions
  * (`opt/raco/RacoOperators.kt:19-95`, `opt/Expr.kt:7-102`): literals,
  * named attribute refs, PLUS / DIVIDE / GT (+ the usual comparisons). The
  * reference compiles `Select` only when the predicate matches the leading
  * sort key (`opt/RacoToAccumulo.kt:541-643`); lowering to Catalyst makes
  * every predicate legal and pushdown automatic — the restriction was an
  * Accumulo artifact, not a semantic one.
  *
  * SQL remains available directly (`spark.sql`) — this tree exists for
  * programmatic plan construction parity.
  */
object Relational {

  // ---- scalar expression AST (reference Expr / RacoExpression) ----
  sealed trait Expr {
    /** Lower to a Catalyst Column with the child's column list in scope —
      * required to resolve positional refs (reference `UnnamedAttributeRef`,
      * `opt/raco/RacoOperators.kt:54-59`, resolved against the child
      * scheme). Type coercion is Catalyst's (the reference hand-rolls
      * LONG/DOUBLE coercion at `opt/RacoToAccumulo.kt:70-85,170-186`).
      */
    def toColumnIn(cols: Seq[String]): Column = this match {
      case Lit(v)         => lit(v)
      case Ref(name)      => col(name)
      case PosRef(i)      =>
        require(cols.nonEmpty, s"positional ref $$$i needs a child schema in scope")
        require(i >= 0 && i < cols.length, s"positional ref $$$i out of range for $cols")
        col(cols(i))
      case Plus(a, b)     => a.toColumnIn(cols) + b.toColumnIn(cols)
      case Minus(a, b)    => a.toColumnIn(cols) - b.toColumnIn(cols)
      case Times(a, b)    => a.toColumnIn(cols) * b.toColumnIn(cols)
      case Divide(a, b)   => a.toColumnIn(cols) / b.toColumnIn(cols)
      case Gt(a, b)       => a.toColumnIn(cols) > b.toColumnIn(cols)
      case Lt(a, b)       => a.toColumnIn(cols) < b.toColumnIn(cols)
      case Eq(a, b)       => a.toColumnIn(cols) === b.toColumnIn(cols)
      case And(a, b)      => a.toColumnIn(cols) && b.toColumnIn(cols)
      case Or(a, b)       => a.toColumnIn(cols) || b.toColumnIn(cols)
      case Not(a)         => !a.toColumnIn(cols)
    }
  }
  final case class Lit(v: Any) extends Expr
  final case class Ref(name: String) extends Expr
  /** Positional attribute ref (reference `UnnamedAttributeRef`). */
  final case class PosRef(i: Int) extends Expr
  final case class Plus(a: Expr, b: Expr) extends Expr
  final case class Minus(a: Expr, b: Expr) extends Expr
  final case class Times(a: Expr, b: Expr) extends Expr
  final case class Divide(a: Expr, b: Expr) extends Expr
  final case class Gt(a: Expr, b: Expr) extends Expr
  final case class Lt(a: Expr, b: Expr) extends Expr
  final case class Eq(a: Expr, b: Expr) extends Expr
  final case class And(a: Expr, b: Expr) extends Expr
  final case class Or(a: Expr, b: Expr) extends Expr
  final case class Not(a: Expr) extends Expr

  // ---- relational operator tree (reference RacoOperator) ----
  sealed trait Op
  /** Catalog table scan (reference `Scan`/`OpAccumuloBase`). When the plan
    * declares a `scheme`, its column ORDER is authoritative: positional
    * refs resolve against the operator scheme (reference
    * `RacoOperators.kt:156`), so a backing table whose physical column
    * order differs must be re-projected into declared order — otherwise
    * `PosRef` would silently bind to the wrong columns.
    */
  final case class Scan(table: String, scheme: Option[StructType] = None) extends Op
  /** Parquet path scan. */
  final case class ParquetScan(path: String) extends Op
  /** CSV file scan with declared scheme (reference `FileScan`/`OpCSVScan`). */
  final case class FileScan(path: String, schema: StructType,
                            delimiter: String = ",", header: Boolean = false) extends Op
  /** Filter (reference `Select`) — any predicate, pushdown is Catalyst's. */
  final case class Select(pred: Expr, child: Op) extends Op
  /** Projection with computed columns (reference `Apply`/`OpApplyIterator`,
    * 1 output tuple per input — `opt/Operators.kt:294`).
    */
  final case class Apply(emitters: Seq[(String, Expr)], child: Op) extends Op
  /** Catalog store (reference `Store`). */
  final case class Store(table: String, child: Op) extends Op
  /** CSV store (reference `FileStore`). */
  final case class FileStore(path: String, header: Boolean, child: Op) extends Op
  /** Collect to driver — the reference's `Dump` prints; we return rows. */
  final case class Dump(child: Op) extends Op

  /** Lower an op-tree to a DataFrame (sinks execute and return their input). */
  def lower(spark: SparkSession, op: Op): DataFrame = op match {
    case Scan(t, None)      => spark.table(t)
    case Scan(t, Some(s))   =>
      val d = spark.table(t)
      val missing = s.fieldNames.filterNot(d.columns.contains)
      require(missing.isEmpty,
        s"Scan($t): declared scheme columns ${missing.mkString(",")} absent from table (has ${d.columns.mkString(",")})")
      d.select(s.fieldNames.map(col).toSeq: _*)
    case ParquetScan(p)     => spark.read.parquet(p)
    case FileScan(p, s, d, h) => graft.sources.Sources.csv(spark, p, s, d, header = h)
    case Select(pred, c)    =>
      val child = lower(spark, c)
      child.filter(pred.toColumnIn(child.columns.toSeq))
    case Apply(emitters, c) =>
      val child = lower(spark, c)
      child.select(emitters.map { case (n, e) => e.toColumnIn(child.columns.toSeq).as(n) }: _*)
    case Store(t, c) =>
      val d = lower(spark, c); d.write.mode("overwrite").saveAsTable(t); spark.table(t)
    case FileStore(p, h, c) =>
      val d = lower(spark, c); graft.sources.Sources.writeCsv(d, p, header = h); d
    case Dump(c) => lower(spark, c)
  }

  /** Execute a topological list of stores (reference `executorsRacoOnAccumulo`
    * runs `Callable` task lists serially, `Main.kt:87-92`; Spark actions are
    * already parallel internally, so serial submission keeps the semantics).
    */
  def run(spark: SparkSession, ops: Seq[Op]): Seq[DataFrame] = ops.map(lower(spark, _))
}
