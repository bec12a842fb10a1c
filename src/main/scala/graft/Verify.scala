package graft
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import SparkEntry.Contract
/** Driver-run correctness dump: each contract's plan result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict to the named queries (local iteration;
    // the driver always calls with exactly two args → full run); a name
    // that is no contract fails here, before the session starts
    val selected = SparkEntry.contractsNamed(args.drop(2).toSet)
    // SPARK_GRAFT_MASTER overrides the master for multi-process rehearsal:
    // `local-cluster[2, 16, 6144]` runs the full oracle gate on two REAL
    // executor processes — closure serialization, broadcast lifecycle and
    // cross-process shuffle are exercised for every query, where plain
    // local mode shares one JVM between driver and executors and can hide
    // all three (r11 verdict item 1; needs SPARK_HOME + SPARK_SCALA_VERSION
    // in the env and a real java -cp classpath, see tools/FaultProbe).
    val spark = sys.env.get("SPARK_GRAFT_MASTER").fold(Harness.session())(Harness.session(_))
    new java.io.File(outDir).mkdirs()
    selected.foreach { c =>
      // queries caching the same frames would otherwise trip
      // "already cached" warnings across the sequential run
      Harness.release(spark)
      try c.plan(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${c.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${c.name} failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(selected))
    spark.stop()
  }

  /** `oracle_sql.json`: each contract's name → its DuckDB SQL, in `cs`
    * order. Jackson escapes quotes, backslashes and every control char — a
    * tab or CR left raw would make the driver's json.load fail and silently
    * zero the round's correctness.
    */
  def oracleJson(cs: Seq[Contract]): String = {
    val m = new java.util.LinkedHashMap[String, String]()
    cs.foreach(c => m.put(c.name, c.oracle))
    new ObjectMapper().writeValueAsString(m)
  }
}
