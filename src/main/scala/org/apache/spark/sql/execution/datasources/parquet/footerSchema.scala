package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType

/** Reads a parquet table's schema from a footer on the driver, for
  * [[org.apache.spark.sql.graft.bridge.parquetSchema]]. Namespaced here by
  * the same necessity as the bridge; no query logic.
  */
private[sql] object footerSchema {
  /** The schema `spark.read.parquet(path)` infers, without the inference
    * job: the footer of the file Spark's non-merging inference reads (a
    * summary file first, else the first data file of the same listing),
    * converted by `ParquetFileFormat.readSchema` under the session's
    * binary-as-string, int96, NTZ and nanosAsLong settings, and from the
    * Spark schema a Spark writer stored there. None where inference does
    * more than that — schema merging on, partition columns, or a missing
    * path — so the caller lets Spark infer.
    */
  def apply(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    val root = new Path(path)
    val hadoopConf = spark.sessionState.newHadoopConf()
    if (conf.isParquetSchemaMergingEnabled || !root.getFileSystem(hadoopConf).exists(root)) None
    else {
      val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, None,
        FileStatusCache.getOrCreate(spark))
      if (index.partitionSchema.nonEmpty) None
      else {
        // ParquetUtils.splitFiles' order: by path, summary files first
        val files = index.allFiles().sortBy(_.getPath.toString)
        def named(n: String) = files.find(_.getPath.getName == n)
        named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
          .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
          .orElse(files.find(f => !summary(f.getPath.getName)))
          .flatMap { f => ParquetFileFormat.readSchema(
            ParquetFileFormat.readParquetFootersInParallel(hadoopConf, Seq(f), conf.ignoreCorruptFiles),
            spark)
          }
      }
    }
  }

  private def summary(name: String): Boolean =
    name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
      name == ParquetFileWriter.PARQUET_METADATA_FILE
}
