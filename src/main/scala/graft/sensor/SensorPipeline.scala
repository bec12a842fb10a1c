package graft.sensor

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lara._

/** The reference's flagship workload, end to end: Array-of-Things sensor
  * ingest + the covariance-of-differences query, expressed through the Lara
  * DSL with the exact null-default ("total function") semantics of
  * `examples/sensor/SensorQuery.kt`.
  *
  * Ingest (`sensor/SensorFileAction.kt:163-190`): semicolon lines
  * `DATE;node;CLASS;FAMILY;VALUE;unit` → triples
  * `(t = epoch-millis, c = "CLASS;FAMILY", v = double)`; drops short lines,
  * `Chemsense ID;mac_address` rows, and unparsable values.
  *
  * Query (`SensorQuery.kt:79-117`): per input table — time filter, bin t to
  * 120 s (round to nearest), average per (t′,c) via (sum,cnt); then
  * X = A−B (⊗ with null annihilators), N = #bins with any non-null value,
  * M = column means, U = X − M, C = Σ U·U′ / (N−1) per (c,c′).
  *
  * Scale notes: every stage is hash-agg or equi-join on (t′) or (c); M and
  * N are tiny (|c| and 1 rows) and broadcast; the only large shuffles are
  * the per-table bin-agg and the t′ self-join — the same asymptotics as the
  * reference's TableMult phase (`sensor/SensorCalc.kt:678-741`).
  */
object SensorPipeline {
  val BIN_SIZE = 120000L // ms, `SensorQuery.kt:37`

  private val vn = ValSpec("v", DoubleType, null)     // NDOUBLE, default null
  private val cnt = ValSpec("cnt", IntegerType, 0)
  private val v0 = ValSpec("v", IntegerType, 0)

  private val plusDoubleNull = PlusFn(null, c => sum(c), (a, b) => coalesce(a + b, a, b))
  private val plusInt = PlusFn(0, c => sum(c).cast("int"), _ + _)
  private val anyFn = PlusFn(0, c => max(c), greatest(_, _))
  private val subtractVn = TimesFn(null, null, null, _ - _)
  private val multiplyVn = TimesFn(null, null, null, _ * _)
  private val divideMinusOne = TimesFn(null, 0, null,
    (a, b) => when(a.isNotNull && b =!= 0, a / (b - 1)).otherwise(lit(null)))

  /** Parse raw semicolon sensor lines into an associative table keyed
    * (t, c) with nullable double v — `SensorFileAction.kt:163-190` drop
    * rules: <5 fields, mac_address rows, unparsable value/date.
    */
  def parse(lines: DataFrame): LaraTable = {
    val f = split(col("value"), ";")
    val parsed = lines
      .select(f.as("f"))
      .filter(size(col("f")) >= 5)
      .filter(!(col("f").getItem(2) === "Chemsense ID" && col("f").getItem(3) === "mac_address"))
      .select(
        // try_* variants: malformed dates/values become null and are dropped
        // below (ANSI mode would otherwise fail the whole scan)
        unix_millis(try_to_timestamp(col("f").getItem(0),
          lit("yyyy-MM-dd HH:mm:ss.SSSSSS"))).as("t"),
        concat_ws(";", col("f").getItem(2), col("f").getItem(3)).as("c"),
        col("f").getItem(4).try_cast(DoubleType).as("v"))
      .filter(col("t").isNotNull && col("v").isNotNull)
    LaraTable(parsed, LaraSchema(Seq("t", "c"), Seq(vn)))
  }

  /** Bin to nearest BIN_SIZE and average per (t′, c): filter → bin ext →
    * [[meanOver]] (t′, c), = the A/B prefix of `SensorQuery.kt:79-96`.
    */
  def binAndAvg(table: LaraTable, minTime: Long = 0L, maxTime: Long = Long.MaxValue): LaraTable = {
    val tm = col("t") % BIN_SIZE
    val tb = (col("t") - tm + when(tm >= BIN_SIZE / 2, BIN_SIZE).otherwise(0L)).as("tp")
    meanOver(table
      .where(col("t").between(minTime, maxTime)) // filterFun
      .ext(Seq("tp"), Seq(vn), explode(array(struct(tb, col("v"))))), // binFun
      Seq("tp", "c"))
  }

  /** ⊕-mean of the nullable double `v` per `keys`: (v, cnt) ⊕-summed over
    * the other keys, then divided — createCntFun → ⊕ → divideVnCntFun
    * (`SensorQuery.kt:87-96`). Null v stays null; an all-null group
    * (cnt = 0) is null.
    */
  def meanOver(table: LaraTable, keys: Seq[String]): LaraTable =
    table
      .mapVals(Seq(vn, cnt), Map(
        "v" -> col("v"),
        "cnt" -> when(col("v").isNotNull, 1).otherwise(0)))
      .sortKeys(keys ++ table.keys.filterNot(keys.contains))
      .agg(keys, Map("v" -> plusDoubleNull, "cnt" -> plusInt))
      .mapVals(Seq(vn), Map("v" -> when(col("cnt") =!= 0, col("v") / col("cnt")).otherwise(lit(null))))

  /** Keyless N: the number of t bins of X(t, c) in which `counted` holds
    * for at least one c (notNullFun → ⊕-any per t → ⊕-count).
    */
  def countBins(x: LaraTable, counted: Column): LaraTable =
    x.mapVals(Seq(v0), Map("v" -> when(counted, 1).otherwise(0)))
      .agg(Seq("t"), Map("v" -> anyFn))
      .agg(Seq(), Map("v" -> plusInt))

  /** The covariance core: C(c, cp) = Σ_t U(t,c) ⊗× U(t,cp) ÷ (N−1), where
    * U = X ⊗− M and M = [[meanOver]] c — over X(t, c) with nullable double
    * v and a keyless N ([[countBins]]). Returns the full (c, cp) matrix; a
    * caller that wants the symmetric half (`SensorOpt.S`) adds
    * `where(c ≤ cp)`, which Catalyst pushes through the ⊕-agg into the t
    * self-join. [[covariance]] runs it over A−B; the `lara_covariance`
    * contract (`LaraQueries.covariance`) over hour-binned events.
    *
    * X is read by M, by U and, through `n`, by N: a caller passes X
    * [[LaraTable.shared]] to compute it once, or unshared to recompute it in
    * every consumer (the reference with `ReuseSource` off). U, a
    * broadcast-right join over X, is recomputed by each side of the
    * self-join.
    */
  def covarianceOf(x: LaraTable, n: LaraTable): LaraTable = {
    val m = meanOver(x, Seq("c"))
    // U = X − M on the shared key prefix c (M is |c| rows: broadcast).
    val u = x.sortKeys(Seq("c", "t")).join(m, Map("v" -> subtractVn), broadcastRight = true)
      .sortKeys(Seq("t", "c"))
    u.join(u.rename(Map("c" -> "cp")), Map("v" -> multiplyVn))
      .sortKeys(Seq("c", "cp", "t"))
      .agg(Seq("c", "cp"), Map("v" -> plusDoubleNull))
      .join(n, Map("v" -> divideMinusOne), broadcastRight = true)
  }

  /** Full covariance query C over two parsed sensor tables. */
  def covariance(a: LaraTable, b: LaraTable): LaraTable = {
    // X = A − B on shared keys (t′, c); null annihilators = null defaults.
    val x = binAndAvg(a).join(binAndAvg(b), Map("v" -> subtractVn)).rename(Map("tp" -> "t")).shared
    // N = number of t′ bins with any non-null difference.
    covarianceOf(x, countBins(x, col("v").isNotNull))
  }
}
