package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.artifact.sessionArtifacts
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.datasources.parquet.footerSchema
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform

/** Bridge into `private[sql]` surface: Column ↔ Expression conversion for
  * custom Catalyst expressions, an eager local checkpoint fused with its
  * materialization count and its lineage-keeping persisted twin, session
  * cloning, parquet footer schemas, and a listener-bus drain for profiling
  * tools and streaming replays.
  * Namespaced under org.apache.spark.sql by necessity (the standard
  * pattern for Spark extension libraries); contains no query logic.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A private session on the same SparkContext that starts with a copy of
    * `spark`'s runtime conf, temp views and registered functions; confs set
    * on the clone never reach `spark`. (`newSession()` starts from the
    * context conf only.)
    *
    * When `spark` holds no session-scoped artifacts (no added jars,
    * classes, files or archives), the clone also turns artifact isolation
    * off. An isolated session runs its tasks under an executor class loader
    * of its own UUID, and the codegen cache is keyed by class loader, so
    * every fresh clone would compile its generated classes again; with
    * nothing to isolate, the clone, and any session cloned from it, runs
    * under the executor's default loader and reuses classes compiled for
    * earlier clones. A parent with artifacts keeps an isolated clone, which
    * sees them. The conf is set before anything reads the clone's artifact
    * state, which fixes isolation on first use.
    */
  def cloneSession(spark: SparkSession): SparkSession = {
    val parent = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val clone = parent.cloneSession()
    if (!sessionArtifacts.any(parent.artifactManager))
      clone.conf.set(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key, "false")
    clone
  }

  /** `df`'s analyzed plan as a frame of `spark`. That plan already holds
    * what `df`'s temp views resolved to, so it stays valid on a session
    * where those views do not exist.
    */
  def onSession(spark: SparkSession, df: DataFrame): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[Dataset[Row]].queryExecution.analyzed)

  /** The schema `spark.read.parquet(path)` would infer, read from a parquet
    * footer on the driver instead of by an inference job; None where only
    * inference gives it (schema merging, partition columns, a missing
    * path).
    */
  def parquetSchema(spark: SparkSession, path: String): Option[StructType] =
    footerSchema(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], path)

  /** Blocks until every event posted so far has reached every listener. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Eager local checkpoint that RETURNS the count of the materialization
    * job. `Dataset.localCheckpoint(eager = true)` already materializes the
    * checkpoint by running `rdd.count()` and THROWS THE RESULT AWAY, so an
    * iterative operator that needs its per-round row count (a convergence
    * probe: kCore/kTruss peel counts, a frontier's isEmpty) pays a SECOND
    * driver-synchronized job per round on top of the checkpoint job. This
    * follows the Dataset.checkpoint internals — the executed plan's rows,
    * `localCheckpoint()`, the same `LogicalRDD.fromDataset` result (output
    * partitioning/ordering preserved, lineage cut) — but surfaces the
    * count, halving the driver round-trips of every fixed-point loop.
    *
    * Storage: each partition is stored as packed row bytes, not as one JVM
    * object per row. Its `UnsafeRow`s are copied back to back into byte
    * chunks of at most [[ChunkBytes]] (a larger row gets a chunk of its
    * own), each chunk `[rows: 8 bytes][len: 8 bytes][row bytes]…`, so the
    * block manager sizes a partition by its few arrays instead of walking
    * every row, and readers point one reused `UnsafeRow` into the chunks
    * without copying.
    *
    * `pred`: optional Boolean column evaluated DURING the materialization
    * pass and counted via an accumulator; the second element of the result
    * is its count (or the row count when `pred` is null). The column is
    * resolved against the frame by NAME and bound to the executed plan's
    * output, so reordering the frame's columns cannot change what it
    * counts. Accumulator counts from re-run tasks can double-count on retry,
    * which can only inflate a nonzero count, never turn zero nonzero or
    * nonzero zero — callers use it strictly as a progress test, never as a
    * result value.
    */
  def localCheckpointCounted(df: DataFrame, pred: Column = null): (DataFrame, Long) = {
    val (out, n, _) = packed(df, pred, "graftLocalCheckpointCounted")(_.localCheckpoint())
    (out, n)
  }

  /** [[localCheckpointCounted]]'s packed rows, persisted MEMORY_AND_DISK
    * with their lineage kept: one job computes `df`'s executed plan (its
    * adaptive partition sizing included) into stored chunks, and the frame
    * returned reads them. The second element is the stored RDD, whose
    * `unpersist` frees them; the frame stays valid after that and
    * recomputes from its lineage.
    */
  def persistPacked(df: DataFrame): (DataFrame, RDD[Array[Byte]]) = {
    val (out, _, stored) =
      packed(df, null, "graftPersistPacked")(_.persist(StorageLevel.MEMORY_AND_DISK))
    (out, stored)
  }

  /** Runs `df`'s executed plan once, as the SQL execution `name`, into
    * packed chunks that `store` marks for keeping; the frame over them,
    * the count of `pred` (or of rows), and the chunk RDD.
    */
  private def packed(df: DataFrame, pred: Column, name: String)(
      store: RDD[Array[Byte]] => Unit): (DataFrame, Long, RDD[Array[Byte]]) = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    // the analyzer resolves the column's names against ds's output
    val cond = Option(pred).map { p =>
      ds.select(p).queryExecution.analyzed.expressions.head match {
        case Alias(e, _) => e
        case e => e
      }
    }
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      val output = qe.executedPlan.output
      val acc = cond.map(_ => spark.sparkContext.longAccumulator("graft.checkpointPredCount"))
      val chunks = qe.executedPlan.execute().mapPartitionsWithIndex { (i, rows) =>
        lazy val toUnsafe = UnsafeProjection.create(output, output)
        val counted = cond.fold(rows) { c =>
          val p = Predicate.create(c, output)
          p.initialize(i)
          rows.map { r => if (p.eval(r)) acc.get.add(1L); r }
        }
        pack(counted.map {
          case u: UnsafeRow => u
          case r => toUnsafe(r)
        })
      }
      store(chunks)
      // ONE job: materializes the stored chunks AND counts their rows
      val total = spark.sparkContext.runJob(chunks,
        (it: Iterator[Array[Byte]]) => it.map(rowsIn).sum).sum
      val rows = chunks.mapPartitions(unpack(output.length), preservesPartitioning = true)
      val out = Dataset.ofRows(spark,
        LogicalRDD.fromDataset(rows, ds, isStreaming = false).newInstance())
      (out, acc.fold(total)(_.value), chunks)
    }
  }

  /** The most bytes a stored checkpoint chunk holds, unless one row alone
    * is larger.
    */
  final val ChunkBytes: Int = 4 << 20

  private val Base = Platform.BYTE_ARRAY_OFFSET

  private def rowsIn(chunk: Array[Byte]): Long = Platform.getLong(chunk, Base)

  /** `rows` packed into chunks of the [[localCheckpointCounted]] layout;
    * 8-byte prefixes keep every row 8-byte aligned.
    */
  private def pack(rows: Iterator[UnsafeRow]): Iterator[Array[Byte]] = new Iterator[Array[Byte]] {
    private var pending: UnsafeRow = null // read, did not fit the last chunk
    def hasNext: Boolean = pending != null || rows.hasNext
    def next(): Array[Byte] = {
      var buf = new Array[Byte](64 << 10)
      var pos = 8
      var n = 0L
      var row = if (pending != null) pending else rows.next()
      pending = null
      while (row != null) {
        val end = pos + 8 + row.getSizeInBytes
        if (end > ChunkBytes && n > 0) { pending = row; row = null }
        else {
          if (end > buf.length)
            buf = java.util.Arrays.copyOf(buf, math.max(end, math.min(ChunkBytes, buf.length * 2)))
          Platform.putLong(buf, Base + pos, row.getSizeInBytes.toLong)
          row.writeToMemory(buf, Base + pos + 8)
          pos = end
          n += 1
          row = if (rows.hasNext) rows.next() else null
        }
      }
      Platform.putLong(buf, Base, n)
      if (pos == buf.length) buf else java.util.Arrays.copyOf(buf, pos)
    }
  }

  /** The rows of packed chunks, each a view of its chunk through one reused
    * `UnsafeRow` (the scan over the checkpoint copies what it emits).
    */
  private def unpack(numFields: Int)(chunks: Iterator[Array[Byte]]): Iterator[InternalRow] = {
    val row = new UnsafeRow(numFields)
    chunks.flatMap { chunk =>
      var pos = 8L
      Iterator.fill(rowsIn(chunk).toInt) {
        val len = Platform.getLong(chunk, Base + pos).toInt
        row.pointTo(chunk, Base + pos + 8, len)
        pos += 8 + len
        row
      }
    }
  }
}
