package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict to the named queries (local iteration;
    // the driver always calls with exactly two args → full run)
    val only = args.drop(2).toSet
    // SPARK_GRAFT_MASTER overrides the master for multi-process rehearsal:
    // `local-cluster[2, 16, 6144]` runs the full oracle gate on two REAL
    // executor processes — closure serialization, broadcast lifecycle and
    // cross-process shuffle are exercised for every query, where plain
    // local mode shares one JVM between driver and executors and can hide
    // all three (r11 verdict item 1; needs SPARK_HOME + SPARK_SCALA_VERSION
    // in the env and a real java -cp classpath, see tools/FaultProbe).
    val spark = sys.env.get("SPARK_GRAFT_MASTER").fold(Harness.session())(Harness.session(_))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // queries caching the same frames would otherwise trip
      // "already cached" warnings across the sequential run
      Harness.release(spark)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
