package graft.lara

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An associative table: a DataFrame plus Lara key/value metadata.
  *
  * This is the engine's core abstraction — reference `TupleOp`
  * (`api/TupleOp.kt:18-33`) re-expressed declaratively: every operator
  * validates schemas eagerly (like the reference's construction-time
  * `require`s) and emits a *lazy* DataFrame expression, so Catalyst performs
  * the pipeline-splitting, sort-elision, pushdown and partial-aggregation
  * work the reference implements by hand (`api/Lower.kt:63-153`).
  *
  * Scale notes (100 TB design stance):
  *  - Operators build Catalyst plans: only the sinks (`store*`,
  *    `reduceScalar`) and [[shared]] run Spark jobs. Shuffles appear only
  *    at union/agg/join boundaries.
  *  - `union` pre-aggregates map-side automatically (hash partial agg).
  *  - `join` is a plain equi-join on the shared key prefix, so Catalyst is
  *    free to choose broadcast / shuffle-hash / sort-merge and AQE can
  *    re-plan at runtime, including skew-join splitting.
  *  - [[shared]] is the one eager operator, the reference's `ReuseSource`
  *    ('R', `sensor/SensorCalc.kt:275,322`): a table read by several
  *    consumers is computed once, where the caller says so, instead of
  *    being inlined into each of them.
  */
final case class LaraTable(df: DataFrame, schema: LaraSchema) {
  import LaraTable._

  require(schema.allNames.forall(df.columns.contains),
    s"DataFrame columns ${df.columns.toSeq} missing attributes from $schema")

  def keys: Seq[String] = schema.keys
  def vals: Seq[ValSpec] = schema.vals

  // ---------------------------------------------------------------- Ext/Map

  /** Ext: per input tuple emit 0..n tuples. Parent keys are kept, `newKeys`
    * are appended (must be disjoint from parent keys — reference
    * `api/TupleOp.kt:197-200`), values are replaced by `newVals`.
    *
    * `gen` maps the input row's columns to a generator column (typically
    * `explode(...)` of an array of structs with fields newKeys++newVals).
    * Using a generator keeps Ext inside whole-stage codegen rather than
    * falling out to an opaque flatMap.
    */
  def ext(newKeys: Seq[String], newVals: Seq[ValSpec], gen: Column): LaraTable = {
    require(newKeys.intersect(schema.keys).isEmpty,
      s"ext: new keys $newKeys must be disjoint from parent keys ${schema.keys}")
    val out = LaraSchema(schema.keys ++ newKeys, newVals)
    val exploded = df.select(schema.keys.map(col) :+ gen.as("__ext"): _*)
    val flat = (newKeys ++ newVals.map(_.name)).foldLeft(exploded) {
      (d, n) => d.withColumn(n, col(s"__ext.$n"))
    }.drop("__ext")
    LaraTable(flat.select(out.allNames.map(col): _*), out)
  }

  /** Ext with an *arbitrary* row function — the reference `ExtFun` in full
    * generality (`api/Schema.kt:229-250`: any `Tuple -> List<Tuple>`), for
    * logic no Catalyst generator expression can state (codec calls, stateful
    * per-row expansion, external libraries). Parent keys are kept, `newKeys`
    * are appended, values are replaced by `newVals`; `f` receives the full
    * input row and emits rows carrying exactly `newKeys ++ newVals` in
    * order.
    *
    * This is the DSL's escape hatch, and it is priced accordingly: the plan
    * crosses a deserialize/serialize boundary (rows leave Tungsten format,
    * whole-stage codegen is cut at this operator), so prefer `ext` with a
    * generator Column whenever the expansion is expressible. Still fully
    * distributed and pipelined — one pass per partition, no shuffle.
    */
  def extF(newKeys: Seq[(String, org.apache.spark.sql.types.DataType)], newVals: Seq[ValSpec])(
      f: org.apache.spark.sql.Row => IterableOnce[org.apache.spark.sql.Row]): LaraTable = {
    import org.apache.spark.sql.types.{StructField, StructType}
    import org.apache.spark.sql.{Encoders, Row}
    require(newKeys.map(_._1).intersect(schema.keys).isEmpty,
      s"extF: new keys ${newKeys.map(_._1)} must be disjoint from parent keys ${schema.keys}")
    val out = LaraSchema(schema.keys ++ newKeys.map(_._1), newVals)
    val inStruct = df.schema
    val keyIdx = schema.keys.map(inStruct.fieldIndex).toArray
    val outStruct = StructType(
      schema.keys.map(inStruct.apply) ++
        newKeys.map { case (n, t) => StructField(n, t) } ++
        newVals.map(v => StructField(v.name, v.dataType)))
    val genWidth = newKeys.length + newVals.length
    val flat = df.flatMap { row =>
      val keyVals = keyIdx.map(row.get(_)).toSeq
      f(row).iterator.map { gen =>
        require(gen.length == genWidth,
          s"extF: generated row has ${gen.length} fields, expected $genWidth")
        Row.fromSeq(keyVals ++ gen.toSeq)
      }
    }(Encoders.row(outStruct))
    LaraTable(flat.toDF(), out)
  }

  /** Map: 1:1 value transform; keys unchanged. Reference `MapFun`
    * (`api/Schema.kt:255-261`) requires default↦default — callers declare the
    * new defaults in `newVals` and the ZeroDiscard rewrite relies on them.
    */
  def mapVals(newVals: Seq[ValSpec], exprs: Map[String, Column]): LaraTable = {
    require(newVals.map(_.name).toSet == exprs.keySet,
      s"mapVals: declared ${newVals.map(_.name)} != computed ${exprs.keySet}")
    val out = LaraSchema(schema.keys, newVals)
    val cols = schema.keys.map(col) ++ newVals.map(v => exprs(v.name).cast(v.dataType).as(v.name))
    LaraTable(df.select(cols: _*), out)
  }

  /** Filter idiom: the reference filters by mapping to the default tuple and
    * letting ZeroDiscard drop it (`examples/sensor/SensorQuery.kt:40-42`).
    * Spark-first, that is just a predicate — pushed down to the scan.
    */
  def where(cond: Column): LaraTable = copy(df = df.filter(cond))

  /** Key-range filter — reference `MinMaxFilter` (`sensor/MinMaxFilter.kt:
    * 18-77`) / `RowRangeIterator` (`opt/Operators.kt:332-368`). On a
    * partitioned or sorted store this becomes partition pruning / min-max
    * row-group skipping automatically.
    */
  def whereKeyRange(key: String, min: Any, max: Any): LaraTable = {
    require(schema.keys.contains(key), s"$key is not a key attribute")
    where(col(key).between(lit(min), lit(max)))
  }

  /** Membership filter — reference `D4mRangeFilter` (`opt/D4mRangeFilter
    * .kt:21-45`): keep tuples whose attribute falls in a given set.
    */
  def whereKeyIn(key: String, values: Seq[Any]): LaraTable =
    where(col(key).isin(values: _*))

  // ----------------------------------------------------------------- Rename

  /** Reference `Rename` (`api/TupleOp.kt:523-567`). */
  def rename(m: Map[String, String]): LaraTable = {
    val out = LaraSchema(
      schema.keys.map(k => m.getOrElse(k, k)),
      schema.vals.map(v => v.copy(name = m.getOrElse(v.name, v.name))))
    LaraTable(df.withColumnsRenamed(m), out)
  }

  // ------------------------------------------------------------------- Sort

  /** Reference `Sort` (`api/TupleOp.kt:569-592`) changes the access path and
    * is the pipeline breaker. Spark-first this is only a *declared* key
    * reorder — physical order materializes at sinks or when
    * `sortedDf` is asked for. Requires a permutation of existing keys
    * (reference `api/TupleOp.kt:577-580`).
    */
  def sortKeys(newOrder: Seq[String]): LaraTable = {
    require(newOrder.sorted == schema.keys.sorted,
      s"sort: $newOrder must be a permutation of ${schema.keys}")
    copy(schema = schema.copy(keys = newOrder))
  }

  /** Physically realize the access path: range-partition by the *full* key
    * list (the reference's DAP, `opt/Schema.kt:28-43`) and sort within
    * partitions by the same keys (LAP). Only for sinks that need order.
    *
    * Range, not hash-on-leading-key: a low-cardinality leading key (e.g. the
    * sensor schema's event-type `c`, a handful of values) would collapse a
    * hash partitioning — and the whole downstream write — into that many
    * tasks. Range partitioning over all keys keeps full parallelism, and is
    * *stronger* than the access-path contract needs: partitions are globally
    * ordered, so key-prefix locality is preserved too.
    */
  def sortedDf: DataFrame =
    df.repartitionByRange(schema.keys.map(col): _*)
      .sortWithinPartitions(schema.keys.map(col): _*)

  // ----------------------------------------------------------------- Shared

  /** Reference `ReuseSource` ('R', `sensor/SensorCalc.kt:275,322`): this
    * table computed once, now, for the consumers the caller builds on it.
    * The one eager operator: one Spark job runs the adaptively executed
    * plan into stored rows that every consumer reads
    * ([[graft.pipeline.InternalCaches.checkpoint]], freed with the operator
    * caches).
    */
  def shared: LaraTable = copy(df = graft.pipeline.InternalCaches.checkpoint(df))

  // ------------------------------------------------------------------ Union

  /** ⊕-Union. Result keys = longest common ordered key prefix; dropped keys
    * are aggregated away with ⊕; result vals = union of val attrs, missing
    * side contributes the ⊕ identity. Reference `MergeUnion0`
    * (`api/TupleOp.kt:301-521`).
    *
    * Identity/default law: for every val present in an input, the ⊕ identity
    * must equal that input's default (`api/TupleOp.kt:313-320`) — validated
    * here at plan-build time.
    *
    * Plan shape: unionByName(allowMissingColumns) with identity fill, then
    * groupBy(commonKeys) — a single shuffle with map-side partial agg.
    */
  def union(other: LaraTable, plusFns: Map[String, PlusFn]): LaraTable = {
    val commonKeys = schema.unionKeyPrefix(other.schema)
    val outVals = unionVals(schema, other.schema, plusFns)
    val effective = outVals.map(v =>
      v.name -> plusFns.getOrElse(v.name, PlusFn.errorFn(v.default, v.dataType))).toMap
    checkIdentityLaw(schema, plusFns); checkIdentityLaw(other.schema, plusFns)

    def pad(t: LaraTable): DataFrame = {
      val cols = commonKeys.map(col) ++ outVals.map { v =>
        if (t.schema.valNames.contains(v.name)) col(v.name).cast(v.dataType).as(v.name)
        else identityLit(effective(v.name), v).as(v.name) // absent attr ⇒ ⊕ identity (putDefault, api/TupleOp.kt:499-504)
      }
      t.df.select(cols: _*)
    }
    val unioned = pad(this).unionByName(pad(other))
    LaraTable(aggregate(unioned, commonKeys, outVals, effective), LaraSchema(commonKeys, outVals))
  }

  /** N-ary ⊕-union (left fold; ⊕ associativity makes the shape free). */
  def unionAll(others: Seq[LaraTable], plusFns: Map[String, PlusFn]): LaraTable =
    others.foldLeft(this)(_.union(_, plusFns))

  /** Scalar-to-client reduce — the reference's `Reducer` side-channel
    * (`opt/Reducer.kt:25-59`, decoded at `api/ExecuteAccumulo.kt:141`):
    * ⊕-collapse every key and return the single tuple to the driver.
    */
  def reduceScalar(plusFns: Map[String, PlusFn]): org.apache.spark.sql.Row =
    agg(Seq(), plusFns).df.collect().head

  /** Agg = Union with Empty (reference `api/TupleOp.kt:296,353-366`): keep a
    * key subset (any subset, order from the current access path), ⊕ the vals
    * over the dropped keys. Direct `groupBy().agg()`.
    */
  def agg(keysKept: Seq[String], plusFns: Map[String, PlusFn]): LaraTable = {
    require(keysKept.forall(schema.keys.contains),
      s"agg: $keysKept not all in keys ${schema.keys}")
    val keptOrdered = schema.keys.filter(keysKept.contains)
    val outVals = schema.vals.filter(v => plusFns.contains(v.name))
      .map(v => v.copy(default = plusFns(v.name).identity))
    LaraTable(aggregate(df, keptOrdered, outVals, plusFns), LaraSchema(keptOrdered, outVals))
  }

  // ------------------------------------------------------------------- Join

  /** ⊗-Join on the shared key prefix. Result keys = union of keys; result
    * vals = intersection of val attrs, combined per-val by ⊗. Non-shared
    * keys on both sides yield the per-group Cartesian implicitly (equi-join
    * on the shared subset). Reference `MergeJoin` (`api/TupleOp.kt:611-826`).
    *
    * Annihilator/default law (`api/TupleOp.kt:649-652`): ⊗'s annihilators
    * must equal the input defaults — validated at plan-build.
    *
    * ZeroDiscard (`SensorOpt.Z`, `sensor/SensorCalc.kt:665-669`): when the
    * result default (`resultZero`) is non-null, rows where *all* result vals
    * equal their zero are semantically absent; `zeroDiscard=true` inserts
    * the sparsity filter, preserving sparse-matrix costs at scale.
    */
  def join(other: LaraTable, timesFns: Map[String, TimesFn],
           zeroDiscard: Boolean = false, broadcastRight: Boolean = false): LaraTable = {
    val (shared, resultKeys) = schema.joinKeys(other.schema)
    val sharedVals = schema.valNames.intersect(other.schema.valNames)
    require(timesFns.keySet == sharedVals.toSet,
      s"join: ⊗ must be given exactly for shared vals $sharedVals, got ${timesFns.keySet}")
    for (n <- sharedVals) {
      val f = timesFns(n)
      require(f.leftAnnihilator == schema.valSpec(n).default,
        s"join: left annihilator of $n (${f.leftAnnihilator}) != left default (${schema.valSpec(n).default})")
      require(f.rightAnnihilator == other.schema.valSpec(n).default,
        s"join: right annihilator of $n must equal right default")
    }
    val outVals = sharedVals.map { n =>
      val spec = schema.valSpec(n)
      ValSpec(n, spec.dataType, timesFns(n).resultZero)
    }
    val l = df.as("l")
    val r = (if (broadcastRight) broadcast(other.df) else other.df).as("r")
    // Empty shared prefix (e.g. joining a keyless global aggregate) is the
    // Lara per-group cartesian with one global group — a cross join. The
    // keyless side is a single row, so broadcast it.
    val joined =
      if (shared.isEmpty) l.crossJoin(if (other.schema.keys.isEmpty) broadcast(r) else r)
      else l.join(r, shared.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _))
    val keyCols = shared.map(k => col(s"l.$k").as(k)) ++
      schema.keys.drop(shared.length).map(k => col(s"l.$k").as(k)) ++
      other.schema.keys.drop(shared.length).map(k => col(s"r.$k").as(k))
    val valCols = outVals.map { v =>
      timesFns(v.name).times(col(s"l.${v.name}"), col(s"r.${v.name}")).cast(v.dataType).as(v.name)
    }
    var res = joined.select(keyCols ++ valCols: _*)
    if (zeroDiscard) {
      val keeps = outVals.filter(_.default != null).map(v => col(v.name) =!= lit(v.default))
      if (keeps.nonEmpty) res = res.filter(keeps.reduce(_ || _))
    }
    LaraTable(res, LaraSchema(resultKeys, outVals.toList))
  }

  // ----------------------------------------------------------------- Sinks

  /** Reference `Store` (`api/TupleOp.kt:595-605`): write sorted by access
    * path so a downstream `load` sees the declared order.
    */
  def store(path: String): Unit =
    sortedDf.write.mode("overwrite").parquet(path)

  /** [[store]] with an explicit file count: `numFiles` range partitions
    * over the full key list, sorted within each — the layout contract
    * (disjoint per-file key ranges, sorted files) becomes checkable
    * because the partition count no longer floats with the session's
    * shuffle-partition setting. The `lara_store_layout` contract query
    * certifies exactly this through the driver's oracle gate.
    */
  def store(path: String, numFiles: Int): Unit = {
    df.repartitionByRange(numFiles, schema.keys.map(col): _*)
      .sortWithinPartitions(schema.keys.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Append variant of [[store]] for incremental writers (micro-batches,
    * backfills): each call adds access-path-sorted files; a reader sees the
    * union. Global order across appends is not maintained — per-file order
    * and range-partitioned parallelism are (parquet min-max row-group
    * skipping still prunes key-range reads).
    */
  def appendStore(path: String): Unit =
    sortedDf.write.mode("append").parquet(path)

  /** Idempotent append for at-least-once callers (streaming `foreachBatch`
    * replays a batch whose sink ran but whose commit-log write was lost):
    * each batch lands in a `batch=<id>` subdirectory, written idempotently
    * via overwrite — a replay of the same id rewrites the same files
    * instead of appending a duplicate copy. NOT atomic: Spark's directory
    * overwrite is delete-then-write, so a concurrent reader during a
    * replay rewrite can observe a missing or partial batch; the contract
    * is eventual effectively-once for readers that start after the batch
    * commits, which is what foreachBatch's replay semantics need. Readers
    * load the store root as before — partition discovery surfaces `batch`
    * as a column and [[LaraTable.load]]'s schema projection drops it.
    *
    * A store must be PURE batch layout: Spark's partition discovery
    * rejects a root that mixes bare parquet files (flat [[appendStore]]
    * output) with `batch=<id>` directories, so this fails fast at write
    * time — when the mistake is made — rather than at some later read.
    */
  def appendStoreBatch(path: String, batchId: Long): Unit = {
    val root = new java.io.File(path)
    if (root.isDirectory) {
      val flat = root.listFiles()
      if (flat != null && flat.exists(f => f.isFile && f.getName.endsWith(".parquet")))
        throw new IllegalStateException(
          s"appendStoreBatch($path): store root contains flat parquet files " +
            "(appendStore layout); mixing flat files with batch=<id> partition " +
            "directories makes the store unreadable (partition discovery " +
            "rejects it). Use a fresh path or appendStore consistently.")
    }
    sortedDf.write.mode("overwrite").parquet(s"$path/batch=$batchId")
  }

  /** Store hive-partitioned by the leading key(s): the reference's manual
    * table-split management (`PropagatePartition`,
    * `sensor/SensorCalc.kt:159-173`) re-expressed as directory partitioning —
    * downstream key-prefix filters become partition pruning (no file even
    * opened). Use for low-cardinality leading keys only.
    */
  def storePartitioned(path: String, nPartitionKeys: Int = 1): Unit = {
    val pkeys = schema.keys.take(nPartitionKeys)
    df.sortWithinPartitions(schema.keys.map(col): _*)
      .write.mode("overwrite").partitionBy(pkeys: _*).parquet(path)
  }

  /** Bucketed catalog store: hash-bucket and sort by the key list so two
    * tables stored with the same bucketing join/aggregate WITHOUT a
    * shuffle — the durable form of the reference's `PropagatePartition`
    * 'P' optimization (copying split points so derived tables stay aligned,
    * `sensor/SensorCalc.kt:159-173`). The scale play for repeatedly-joined
    * 100 TB fact tables: pay the partitioning once at write.
    */
  def storeBucketed(table: String, nBuckets: Int): Unit = {
    df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, schema.keys.head, schema.keys.tail: _*)
      .sortBy(schema.keys.head, schema.keys.tail: _*)
      .saveAsTable(table)
  }
}

object LaraTable {
  /** Reference `Load` (`api/TupleOp.kt:274-283`) over parquet. */
  def load(spark: SparkSession, path: String, keys: Seq[String], vals: Seq[ValSpec]): LaraTable = {
    // project the declared schema: stores written with partition
    // directories (hive-partitioned stores, `appendStoreBatch`'s
    // `batch=<id>` idempotence layout) surface the directory keys as extra
    // columns under partition discovery — the Lara schema is the contract,
    // so anything outside it is dropped here
    val df = spark.read.parquet(path)
      .select((keys ++ vals.map(_.name)).map(col): _*)
    LaraTable(df, LaraSchema(keys, vals))
  }

  /** Compact an append-accumulated store: micro-batch appends (see
    * `appendStore` / `streaming.EventStreams.streamStore`) leave one-plus
    * files per batch — the classic small-file problem that throttles scans
    * at scale (a task and an open per file, tiny row groups, no useful
    * min-max skipping). Rewrites the store access-path-sorted into
    * `ceil(bytes / targetFileBytes)` range-partitioned files sized from
    * the store's ACTUAL on-disk bytes (a metadata-only listing), then
    * swaps directories. Returns (filesBefore, filesAfter).
    *
    * Batch-layout stores ([[appendStoreBatch]]) keep their layout: the
    * folded batches rewrite into `batch=<lowest folded id>` and the
    * HIGHEST batch id is excluded from folding — it is the only batch an
    * at-least-once writer (streaming `foreachBatch` crash replay) can
    * legally re-emit, and replaying a batch whose rows were already folded
    * would duplicate them. A batch store with fewer than two batch dirs is
    * therefore a no-op. Flat ([[appendStore]]) stores rewrite to flat
    * files as before.
    *
    * Concurrency contract (asserted by `ConcurrentMaintenanceSpec`):
    *  - Committed data is never lost: batches that land between the
    *    compaction's input listing and the directory swap are staged aside
    *    with the old tree and RECONCILED into the new store before the old
    *    tree is deleted (on path-string filesystems nothing can commit
    *    into the staged-aside tree after the rename — writers address the
    *    live `path`, so the staged tree is frozen and one reconcile pass
    *    is complete).
    *  - A writer whose committer re-creates the live root between the two
    *    swap renames is folded aside and the swap retried (bounded); its
    *    own job may fail mid-commit and must retry per its at-least-once
    *    contract — the idempotent `batch=<id>` overwrite makes the retry
    *    safe.
    *  - Readers can observe a TRANSIENT missing root between the two swap
    *    renames (two renames are not one atomic op) — retry on
    *    FileNotFound. They never observe a mixed old+new layout: each
    *    rename is atomic on HDFS/local disk.
    *  - Object stores (non-atomic copy+delete "rename", S3-style): single
    *    maintenance with NO concurrent writers is a REQUIREMENT there, not
    *    advice — measured, not argued (`ObjectStoreSemanticsSpec`): a
    *    batch committed into the live root while the stage-aside rename is
    *    mid-copy is missed by the rename's one-shot listing snapshot and
    *    destroyed by its delete phase, silently and undetectably (the data
    *    is gone before any post-hoc check can run). Single-maintenance
    *    compaction on the same filesystem is proven loss-free. Loss-free
    *    CONCURRENT compaction on such stores needs a manifest/commit
    *    service (Iceberg/Delta-style metadata layer), which this
    *    rename-protocol store deliberately does not carry (SURVEY §2).
    */
  def compactStore(spark: SparkSession, path: String, keys: Seq[String], vals: Seq[ValSpec],
                   targetFileBytes: Long = 128L * 1024 * 1024,
                   zorderBy: Seq[String] = Nil, zorderBits: Int = 10): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    require(zorderBy.isEmpty || zorderBy.size >= 2,
      "zorderBy needs >= 2 dimensions (one dimension is just the access-path sort)")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    val hPath = fs.makeQualified(new Path(path))
    // recursive: stores written by `appendStoreBatch` (batch=<id> subdirs)
    // and `storePartitioned` (hive key dirs) keep their parquet one level
    // down — a flat listing would see zero bytes and size the compaction
    // to a single file regardless of store size. Hidden segments
    // (`_temporary` of an in-flight writer, `.crc`) are skipped: they are
    // not committed data.
    // Manual walk, not fs.listFiles(p, true): the recursive iterator stats
    // every entry eagerly (LocatedFileStatus loads permissions), so a
    // concurrent writer's `_temporary` tree vanishing mid-walk crashes the
    // listing. Pruning hidden dirs BEFORE descending never touches
    // committer state, and a directory deleted mid-walk reads as empty.
    def dataFiles(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
      def walk(d: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
        val entries =
          try fs.listStatus(d)
          catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
        entries.toSeq.flatMap { s =>
          val name = s.getPath.getName
          if (name.startsWith("_") || name.startsWith(".")) Nil
          else if (s.isDirectory) walk(s.getPath)
          else if (name.endsWith(".parquet")) Seq(s)
          else Nil
        }
      }
      walk(p).toArray
    }
    def rel(root: Path, f: Path): String =
      f.toString.stripPrefix(fs.makeQualified(root).toString).stripPrefix("/")
    val batchIds = Option(fs.listStatus(hPath)).getOrElse(Array.empty)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
    val batchLayout = batchIds.nonEmpty
    val before = dataFiles(hPath)
    if (batchLayout && batchIds.length < 2) return (before.length, before.length)
    // the batch excluded from folding (see scaladoc), and the id the
    // folded rows rewrite under
    val excluded: Option[Long] = if (batchLayout) Some(batchIds.max) else None
    val foldId: Long = if (batchLayout) batchIds.min else 0L
    val folded = before.filter(f =>
      excluded.forall(b => !rel(hPath, f.getPath).startsWith(s"batch=$b/")))
    if (folded.isEmpty) return (before.length, before.length)
    val foldedRel = folded.map(f => rel(hPath, f.getPath)).toSet
    val nFiles = math.max(1, math.ceil(folded.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
    val tmp = new Path(path + ".compact.tmp")
    fs.delete(tmp, true)
    // Read EXACTLY the folded file list (not the directory): a batch
    // committed between the listing above and a directory re-list here
    // would otherwise be both folded AND reconciled — duplicated. basePath
    // keeps hive/batch partition columns resolvable from the file paths.
    val loaded = spark.read.option("basePath", path)
      .parquet(folded.map(_.getPath.toString).toIndexedSeq: _*)
      .select((keys ++ vals.map(_.name)).map(org.apache.spark.sql.functions.col): _*)
    val clustered =
      if (zorderBy.isEmpty)
        loaded
          .repartitionByRange(nFiles, keys.map(org.apache.spark.sql.functions.col): _*)
          .sortWithinPartitions(keys.map(org.apache.spark.sql.functions.col): _*)
      else {
        // Z-order layout: cluster on the Morton interleave of `zorderBy`
        // instead of the access path — every listed dimension then gets
        // useful per-file min/max pruning (grid-cell bound, see
        // `pipeline.Layout`), at the cost of the store no longer being
        // globally key-sorted on disk. Within each file rows stay sorted
        // by (zval, keys...): key-prefix scans still skip row groups via
        // parquet min/max, they just span more files than a key-sorted
        // compaction would. Sound for any reader: a Lara store's sort is
        // an access-path property re-established by `realizeSorted`, not
        // a correctness assumption of `load`.
        val z = graft.pipeline.Layout.zValueN(
          zorderBy.map(org.apache.spark.sql.functions.col), zorderBits)
        loaded
          .withColumn("__zval", z)
          .repartitionByRange(nFiles, org.apache.spark.sql.functions.col("__zval"))
          .sortWithinPartitions(
            (org.apache.spark.sql.functions.col("__zval") +: keys.map(org.apache.spark.sql.functions.col)): _*)
          .drop("__zval")
      }
    val tmpData = if (batchLayout) s"$tmp/batch=$foldId" else tmp.toString
    clustered.write.mode("overwrite").parquet(tmpData)
    val old = new Path(path + ".compact.old")
    fs.delete(old, true)
    require(fs.rename(hPath, old), s"compactStore: could not stage $path aside")
    // Swap, retrying when a concurrent writer's committer re-created the
    // live root between the two renames (mkdir-p of its output path): fold
    // whatever it put there into the staged-aside tree — the reconcile
    // pass below carries any committed files of it into the new store.
    var attempts = 0
    while (!fs.rename(tmp, hPath)) {
      attempts += 1
      require(attempts <= 16,
        s"compactStore: could not move compacted store into $path after $attempts attempts")
      if (fs.exists(hPath)) {
        fs.listStatus(hPath).foreach { st =>
          val dst = new Path(old, st.getPath.getName)
          // A colliding directory is a batch=<id> re-emit: appendStoreBatch
          // is an idempotent OVERWRITE of the batch id, so the re-emitted
          // copy REPLACES the staged original — merging the two would
          // duplicate every row of the batch (part-file names differ per
          // job UUID, so a union silently keeps both copies). Overwrite
          // also handles arbitrarily nested layouts, which the previous
          // one-level merge dropped.
          if (fs.exists(dst)) require(fs.delete(dst, true),
            s"compactStore: could not replace staged $dst with re-emitted copy")
          require(fs.rename(st.getPath, dst),
            s"compactStore: could not fold racer entry ${st.getPath} aside to $dst")
        }
        fs.delete(hPath, true)
      }
    }
    // Reconcile: every committed data file staged aside that the
    // compaction did NOT fold (the excluded last batch, plus any batch
    // committed between the input listing and the swap) moves into the
    // new store at its store-relative path. Deleting it with the old tree
    // would silently destroy a committed batch.
    // Every rename is CHECKED: a failed move (dst collision, mkdirs
    // failure, fs hiccup) must abort the pass BEFORE the staged tree is
    // deleted — an unchecked rename followed by delete(old) silently
    // destroys a committed batch, violating the loss-free contract. On
    // abort the staged tree survives at `<path>.compact.old` for manual
    // recovery, and the error says so.
    dataFiles(old).foreach { f =>
      val r = rel(old, f.getPath)
      if (!foldedRel.contains(r)) {
        val dst = new Path(hPath, r)
        require(fs.mkdirs(dst.getParent),
          s"compactStore: reconcile could not create ${dst.getParent}; " +
            s"committed data preserved at $old — reconcile manually")
        require(fs.rename(f.getPath, dst),
          s"compactStore: reconcile could not move ${f.getPath} to $dst; " +
            s"committed data preserved at $old — reconcile manually")
      }
    }
    fs.delete(old, true)
    (before.length, dataFiles(hPath).length)
  }

  /** Reference `Empty` (`api/TupleOp.kt:285-290`). */
  def empty(spark: SparkSession, schema: LaraSchema): LaraTable = {
    val st = org.apache.spark.sql.types.StructType(
      schema.keys.map(k => org.apache.spark.sql.types.StructField(k, org.apache.spark.sql.types.StringType)) ++
        schema.vals.map(v => org.apache.spark.sql.types.StructField(v.name, v.dataType)))
    LaraTable(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st), schema)
  }

  private[lara] def identityLit(fn: PlusFn, v: ValSpec): Column =
    if (fn.identity == null) lit(null).cast(v.dataType) else lit(fn.identity).cast(v.dataType)

  /** Result vals of a union: union of val attrs; types must agree where
    * shared (reference `unionValues`, `api/TupleOp.kt:391-400`). The result
    * default is the ⊕ identity.
    */
  private[lara] def unionVals(a: LaraSchema, b: LaraSchema, plusFns: Map[String, PlusFn]): Seq[ValSpec] = {
    val names = (a.valNames ++ b.valNames).distinct
    names.map { n =>
      val spec = a.vals.find(_.name == n).getOrElse(b.valSpec(n))
      b.vals.find(_.name == n).foreach { bs =>
        require(bs.dataType == spec.dataType, s"union: val $n type mismatch ${spec.dataType} vs ${bs.dataType}")
      }
      // vals without a declared ⊕ get plusErrorFun (reference
      // api/Schema.kt:315-324): legal unless two tuples actually collide
      val fn = plusFns.getOrElse(n, PlusFn.errorFn(spec.default, spec.dataType))
      spec.copy(default = fn.identity)
    }
  }

  /** ⊕ identity must equal the input's default for every val the input
    * carries (reference `api/TupleOp.kt:313-320`).
    */
  private[lara] def checkIdentityLaw(s: LaraSchema, plusFns: Map[String, PlusFn]): Unit =
    for (v <- s.vals; fn <- plusFns.get(v.name))
      require(fn.identity == v.default,
        s"union: ⊕ identity for ${v.name} (${fn.identity}) must equal input default (${v.default})")

  private[lara] def aggregate(d: DataFrame, keys: Seq[String], outVals: Seq[ValSpec],
                              plusFns: Map[String, PlusFn]): DataFrame = {
    if (outVals.isEmpty) return d.select(keys.map(col): _*).distinct()
    val aggs = outVals.map(v => plusFns(v.name).agg(col(v.name)).cast(v.dataType).as(v.name))
    if (keys.isEmpty) d.agg(aggs.head, aggs.tail: _*)
    else d.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
