package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** Deduplication operators for large-scale text corpora — exact and
  * near-duplicate. All operators are pure Catalyst plans (array HOFs +
  * hash-groupBy / bucket-join), no UDFs, no driver loops:
  *
  *  - exact:    hash text → groupBy hash. One shuffle keyed on a 128-bit
  *              digest; at 100 TB the shuffle carries (hash, doc_id), never
  *              the text.
  *  - MinHash:  shingle → minhash signature → LSH band buckets → candidate
  *              pairs within buckets. The band bucket-join is the scale
  *              path: candidate generation is linear in corpus size +
  *              quadratic only *within* a bucket (bounded by `maxBucket`),
  *              never all-pairs.
  *  - SimHash:  64-bit signature per doc; near-dup pairs via 16-bit band
  *              buckets + Hamming-distance verify. For Hamming ≤ 3 the four
  *              16-bit bands are *exhaustive* (pigeonhole: 3 flipped bits
  *              can dirty at most 3 bands), so banding loses nothing.
  *  - n-gram Jaccard: `jaccardJoin`, an *exact* set-similarity join via an
  *              inverted index on shingle hashes — one pass over the corpus,
  *              candidate pairs only for docs sharing ≥1 shingle.
  *
  * Shuffle discipline: candidate pairs are reduced on (doc_a, doc_b) id
  * pairs with their (scalar) similarity — signature arrays and shingle sets
  * never travel through the pair-dedup shuffle.
  *
  * Hashes that are observable in results (minhash signatures, simhash bits,
  * rolling fingerprints) use [[PortableHash]] so the DuckDB oracle can
  * recompute them; engine-internal join keys keep xxhash64.
  */
object Dedup {

  /** Spread a DataFrame across the cluster when the source collapsed it into
    * fewer splits than cores (e.g. one small parquet file). Signature
    * computation is CPU-bound, so the one-pass reshuffle pays for itself —
    * without it a single task computes every hash (observed 83 s → 3 s at
    * sf0.1 locally).
    *
    * KEY CONTRACT (explicit as of r13 — the r12 advice): the spread hashes
    * `keyCol`, DEFAULTING to the frame's first column, which must be a
    * high-cardinality, non-null id (doc_id / vec_id / event_id /
    * l_orderkey / media ids at every current call site). A low-cardinality,
    * skewed, or nullable key (xxhash64(NULL) is a constant) silently
    * collapses the spread back to few/one partition(s) — callers whose
    * first column is not id-shaped must pass the id column explicitly.
    *
    * Gated on the *file count* (metadata-only — `inputFiles` lists the file
    * index without forcing physical planning, unlike `.rdd`, which would
    * eagerly plan the frame and bypass AQE). At 100 TB the source has
    * thousands of files and this is a no-op; in-memory frames report zero
    * files and pass through untouched — parallelism there is whatever the
    * caller created.
    */
  private[graft] def rebalance(df: DataFrame, keyCol: String = null): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val files = df.inputFiles.length
    // Hash-partition on a deterministic key instead of round-robin: keyless
    // repartition(n) pays a full local sort of its input per task
    // (spark.sql.execution.sortBeforeRepartition, needed so retried tasks
    // reproduce the same row-to-partition map — SPARK-23207), measured at
    // 1.3-1.8 s on the 600k-row graph prologue. A hash of ONE id column
    // is retry-deterministic by construction (the guide's
    // pmod(xxhash64(id)) pattern), so the sort is skipped entirely, and
    // keeps the scan's column pruning intact (an all-column hash key was
    // measured to widen ReadSchema to every column — the plan-audit spec
    // pins this). No-op once the source has >= cores files (the 100 TB
    // case) or is file-less.
    val key = Option(keyCol).getOrElse(df.columns.head)
    if (files > 0 && files < target)
      df.repartition(target, xxhash64(col(key))) else df
  }

  /** Whitespace tokens with empties dropped. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Word k-shingles as strings ("w1 w2 w3"); docs shorter than k yield
    * their full token string as the single shingle so they still participate.
    *
    * Built by zipping the token array with its own shifted tails — O(n·k)
    * per document. (A per-index `slice` would be O(n²): slice copies.)
    */
  def shingles(toks: Column, k: Int): Column = {
    val n = size(toks)
    val joined = (2 to k).foldLeft(toks) { (acc, i) =>
      // zip_with pads the shorter side with null; concat_ws skips nulls, and
      // the final slice drops the incomplete tail shingles.
      zip_with(acc, slice(toks, lit(i), n), (a, b) => concat_ws(" ", a, b))
    }
    when(n <= k, array(concat_ws(" ", toks)))
      .otherwise(slice(joined, lit(1), n - (k - 1)))
  }

  /** DuckDB twin of [[shingles]] over the oracle's token list `t`: the
    * whole token string when there are ≤ k tokens, else every k-token
    * window (len(t) − k + 1 of them; the bound reads `len(t)` for k = 2).
    */
  private[graft] def shinglesSql(k: Int): String = {
    val last = if (k == 2) "len(t)" else s"len(t) - ${k - 2}"
    s"""CASE WHEN len(t) <= $k THEN [array_to_string(t, ' ')]
                  ELSE [array_to_string(t[i:i+${k - 1}], ' ') for i in range(1, $last)] END"""
  }

  /** k-shingle *hashes* without materializing shingle strings: hash each
    * token once, then combine k consecutive token hashes positionally
    * (zip with the array's own shifted tails). Equivalent to hashing the
    * string shingles up to 64-bit collisions, and much cheaper — no
    * per-shingle string allocation. Docs with ≤ k tokens yield one hash of
    * all tokens (mirroring `shingles`).
    */
  def shingleHashes(toks: Column, k: Int): Column = {
    val base = transform(toks, t => xxhash64(t))
    val n = size(base)
    val combined = (2 to k).foldLeft(base) { (acc, i) =>
      // tail entries mix in padding nulls; the final slice drops them
      zip_with(acc, slice(base, lit(i), n), (a, b) => xxhash64(a, b))
    }
    when(n <= k, array(aggregate(base, lit(42L), (acc, h) => xxhash64(acc, h))))
      .otherwise(slice(combined, lit(1), n - (k - 1)))
  }

  /** Exact dedup: group documents by a content digest, keep the smallest
    * doc_id as canonical, count the duplicates.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Engine-portable base hashes: one 60-bit md5 hash per shingle string.
    * Materialize this as a column before feeding [[minhashSignaturePortable]]
    * — an inlined subexpression would re-tokenize, re-shingle and re-hash
    * the document once per family member (numHashes×).
    */
  def portableBaseHashes(shingleStrings: Column): Column =
    transform(shingleStrings, s => PortableHash.hash60(s))

  /** Engine-portable MinHash signature over *materialized* base hashes: a
    * universal-hash family over the 2³¹−1 Mersenne field,
    * h_i(x) = (a_i · (x mod p) + c_i) mod p, with md5-derived coefficients
    * a_i = pHash60("a_i") mod (p−1) + 1 (nonzero), c_i = pHash60("b_i")
    * mod p — plan constants the DuckDB oracle re-derives. One md5 per
    * *shingle* total (the base hash); the 32 family members are two integer
    * ops each. Backed by the fused single-pass kernel
    * (graft.functions.MinHashSig); [[minhashSignaturePortableHof]] is the
    * HOF formulation kept as its differential-testing oracle.
    */
  def minhashSignaturePortable(baseHashes: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(graft.functions.MinHashSig(bridge.expression(baseHashes), numHashes))
  }

  /** DuckDB twin of [[portableBaseHashes]] and [[minhashSignaturePortable]]
    * over shingle lists `sh(doc_id, s)`: the CTEs `bs(doc_id, b)`, one
    * 60-bit md5 hash per shingle, and `sig(doc_id, sg)`, the `numHashes`
    * universal-hash minima with the same md5-salted coefficients.
    */
  private[graft] def minhashOracleCtes(numHashes: Int): String = {
    val p = 2147483647L // 2^31 − 1
    def h(x: String): String = PortableHash.duckdbHash60(x)
    s"""bs AS (
           SELECT doc_id, [${h("x")} for x in s] AS b
           FROM sh),
         sig AS (
           SELECT doc_id,
             [list_min([((${h("'a_' || i::VARCHAR")} % ${p - 1} + 1)
                         * (h % $p)
                         + ${h("'b_' || i::VARCHAR")} % $p)
                        % $p
                        for h in b])
              for i in range(0, $numHashes)] AS sg
           FROM bs)"""
  }

  /** DuckDB twin of the banding in [[minhashPairs]]: signatures `a.sg`
    * and `b.sg` agree on every row of at least one of `bands` bands.
    */
  private[graft] def bandMatchSql(bands: Int, rows: Int): String =
    s"""len([bb for bb in range(0, $bands)
                    if a.sg[bb*$rows+1 : bb*$rows+$rows] = b.sg[bb*$rows+1 : bb*$rows+$rows]]) > 0"""

  /** HOF formulation of [[minhashSignaturePortable]] (identical values). */
  def minhashSignaturePortableHof(baseHashes: Column, numHashes: Int): Column = {
    val p = 2147483647L // 2^31 − 1
    array((0 until numHashes).map { i =>
      val a = PortableHash.local60(s"a_$i") % (p - 1) + 1
      val c = PortableHash.local60(s"b_$i") % p
      array_min(transform(baseHashes,
        b => pmod(lit(a) * pmod(b, lit(p)) + lit(c), lit(p))))
    }: _*)
  }

  /** Drop (band, bucket) groups larger than `maxBucket` before the
    * candidate self-join: a degenerate bucket — mass-duplicated boilerplate,
    * the common case in web crawls — otherwise goes quadratic. Dropped
    * buckets are *accounted*, not silent: `oversizedBuckets` reports them,
    * and exact duplicates (the usual cause) are `Dedup.exact`'s job anyway.
    */
  private def capBuckets(banded: DataFrame, maxBucket: Int): DataFrame = {
    val counts = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__bucket_n"))
      .filter(col("__bucket_n") <= maxBucket)
    banded.join(counts, Seq("band", "bucket")).drop("__bucket_n")
  }

  /** Accounting for `maxBucket`: the (band, bucket, size) groups a capped
    * run excludes. Report/log this next to any capped result — no silent
    * truncation.
    */
  def oversizedBuckets(banded: DataFrame, maxBucket: Int): DataFrame =
    banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)

  /** MinHash+LSH near-duplicate candidate pairs.
    *
    * bands × rowsPerBand = numHashes. Two docs collide in a band iff that
    * band of the signature is identical; the per-band groupBy keys on
    * (band index, band hash) so the shuffle is by bucket — the classic
    * LSH plan that scales linearly with corpus size.
    *
    * Output: (doc_a, doc_b, est_jaccard) with doc_a < doc_b, est_jaccard =
    * fraction of agreeing minhashes. Pair dedup (a pair may collide in
    * several bands) shuffles only (doc_a, doc_b, est) — the signature
    * arrays stay on the map side. Signatures are the engine-portable
    * md5-based family, so the pairs are oracle-checkable.
    */
  def minhashPairs(docs: DataFrame, k: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                   maxBucket: Int = 100000): DataFrame = {
    val numHashes = bands * rowsPerBand
    // Materialize base hashes, then the signature, each as a column before
    // the next multi-pass HOF consumes them: an inlined subexpression would
    // re-tokenize/re-hash once per family member (numHashes×) or per band.
    // computed once: both sides of the bucket self-join read the signatures
    val sigs = InternalCaches.checkpoint(rebalance(docs)
      .select(col("doc_id"), portableBaseHashes(shingles(tokens(col("text")), k)).as("bh"))
      .select(col("doc_id"), minhashSignaturePortable(col("bh"), numHashes).as("sig")))
    val banded = sigs.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    val capped = capBuckets(banded, maxBucket)
    val a = capped.select(col("band"), col("bucket"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = capped.select(col("band"), col("bucket"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => (x === y).cast("int")),
          v => v === 1)).cast("double") / lit(numHashes)).as("est_jaccard"))
      .groupBy(col("doc_a"), col("doc_b")) // band-collision dedup on ids only
      .agg(max(col("est_jaccard")).as("est_jaccard")) // identical per pair
  }

  /** Banded portable minhash signatures (band, bucket, doc_id, sig) — the
    * frame [[indexSignatures]] persists and [[minhashPairsDelta]] probes.
    */
  private def bandedSignatures(docs: DataFrame, k: Int, bands: Int,
                               rowsPerBand: Int): DataFrame =
    rebalance(docs)
      .select(col("doc_id"), portableBaseHashes(shingles(tokens(col("text")), k)).as("bh"))
      .select(col("doc_id"),
        minhashSignaturePortable(col("bh"), bands * rowsPerBand).as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
      .select(col("band"), col("bucket"), col("doc_id"), col("sig"))

  /** Build (or `append` to) a PERSISTED signature index — the incremental
    * dedup workflow's durable state. The index stores banded minhash
    * signatures as a Lara store keyed (band, bucket, doc_id): ~34 longs
    * per document instead of the text, range-partitioned and sorted by
    * the access path, so a delta probe's (band, bucket) equi-join reads
    * bucket-clustered parquet with min-max row-group skipping.
    */
  def indexSignatures(docs: DataFrame, path: String, k: Int = 3, bands: Int = 8,
                      rowsPerBand: Int = 4, append: Boolean = false): Unit = {
    val t = graft.lara.LaraTable(bandedSignatures(docs, k, bands, rowsPerBand),
      graft.lara.LaraSchema(Seq("band", "bucket", "doc_id"),
        Seq(graft.lara.ValSpec("sig",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType), null))))
    if (append) t.appendStore(path) else t.store(path)
  }

  /** INCREMENTAL near-duplicate detection — the production batch-delta
    * shape: a new increment is deduped against the ENTIRE history without
    * rescanning or re-hashing it, by probing the [[indexSignatures]]
    * store. Emits new-vs-OLD plus new-vs-NEW candidate pairs with the
    * usual estimated jaccard (signature agreement), canonicalized
    * doc_a < doc_b. Call `indexSignatures(delta, path, append = true)`
    * afterwards to fold the increment into the index for the next batch.
    *
    * Discovery is LOSSLESS vs a full recompute (spec-pinned equivalence
    * law): banding is per-document-deterministic, so
    * `pairs(old ∪ delta) == pairs(old) ∪ pairsDelta(delta vs index(old))`.
    * Cost is |delta|·(history bucket density), never |history| — the
    * index join moves (ids, 32-long sigs) and the delta text is hashed
    * once.
    */
  def minhashPairsDelta(newDocs: DataFrame, indexPath: String, k: Int = 3,
                        bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val spark = newDocs.sparkSession
    val numHashes = bands * rowsPerBand
    val newBanded = InternalCaches.register(
      bandedSignatures(newDocs, k, bands, rowsPerBand)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val n = newBanded.select(col("band"), col("bucket"),
      col("doc_id").as("doc_n"), col("sig").as("sig_n"))
    val idx = spark.read.parquet(indexPath)
      .select(col("band"), col("bucket"), col("doc_id").as("doc_o"), col("sig").as("sig_o"))
    def est(sa: Column, sb: Column): Column =
      size(filter(zip_with(sa, sb, (x, y) => (x === y).cast("int")), v => v === 1))
        .cast("double") / lit(numHashes)
    val newVsOld = n.join(idx, Seq("band", "bucket"))
      .filter(col("doc_n") =!= col("doc_o"))
      .select(least(col("doc_n"), col("doc_o")).as("doc_a"),
        greatest(col("doc_n"), col("doc_o")).as("doc_b"),
        est(col("sig_n"), col("sig_o")).as("est_jaccard"))
    val m = newBanded.select(col("band"), col("bucket"),
      col("doc_id").as("doc_m"), col("sig").as("sig_m"))
    val newVsNew = n.join(m, Seq("band", "bucket"))
      .filter(col("doc_n") < col("doc_m"))
      .select(col("doc_n").as("doc_a"), col("doc_m").as("doc_b"),
        est(col("sig_n"), col("sig_m")).as("est_jaccard"))
    newVsOld.unionByName(newVsNew)
      .groupBy(col("doc_a"), col("doc_b")) // band-collision dedup on ids only
      .agg(max(col("est_jaccard")).as("est_jaccard"))
  }

  /** Exact n-gram Jaccard similarity join: all pairs with
    * jaccard(A, B) = |A∩B| / |A∪B| ≥ `minJaccard` over word k-shingle sets.
    *
    * Plan: inverted index on shingle hashes — explode (doc, shingle-hash),
    * self-equi-join on the hash, count shared shingles per pair, finish with
    * the inclusion–exclusion denominator. Exact for any `minJaccard > 0`
    * (every qualifying pair shares ≥ 1 shingle), one pass over the corpus,
    * and the shuffle carries (hash, doc_id, set-size) — never text. This is
    * the verify-quality operator; MinHash banding above is the cheaper
    * screen when an estimate suffices.
    *
    * `maxDf`: drop shingles occurring in more than `maxDf` documents from
    * the *index* (a boilerplate shingle shared by everything makes the join
    * quadratic). Dropping index entries can only lose candidate pairs whose
    * every shared shingle is that common — report `0` (unbounded) for exact
    * semantics, or pair a capped run with `hotShingles` accounting.
    *
    * Scaling contract (measured, NOTES_r11 §6): at duplication
    * multiplicity m the index join pays Σdf² ≈ m² per base shingle and the
    * OUTPUT is Θ(m²) pairs per cluster — semantically quadratic; no
    * implementation of all-pairs output escapes it, and `maxDf` correctly
    * does not fire on genuine cluster shingles. At mass duplication
    * (m ≳ 20) use [[minhashPairs]] as the screen and
    * `Components.duplicateClusters`/`TrainingData.prepareCorpus` to
    * cluster-canonicalize in linear state; reserve this exact verifier for
    * bounded candidate sets.
    *
    * `maxExpectedPairs` enforces that contract as a PRE-FLIGHT guard
    * (r11 review "wrong" #1: the sf10 mass-duplication corpus killed the
    * box's disk with >50 GB of spill instead of failing — a caller who
    * misses the scaladoc deserves an immediate, actionable error, not an
    * hours-long job). Before the pair shuffle runs, one extra scalar
    * aggregate over the (post-`maxDf`) index computes Σ df·(df−1)/2 —
    * the EXACT candidate-pair count the self-join must emit — and a
    * result above the budget throws, naming the scalable alternative.
    * The guard job touches only the shingle index (hash agg over longs,
    * and it populates the cache the real join reuses); the quadratic
    * shuffle is never planned. 0 disables (unguarded exact semantics).
    * The default (1e9 pairs ≈ tens of GB of pair shuffle) keeps every
    * measured in-gate scale inside budget (sf1.0 = 1.4e8 pairs, measured)
    * while sf10's mass-duplication Σ ≈ 6e9 fails in seconds.
    *
    * Memory note for IN-budget runs near the ceiling (measured, r12): the
    * pair aggregate holds one entry per candidate pair, so at sf1.0
    * (1.4e8 pairs) under a 6 GiB heap it spills ~23 GB; with the per-task
    * share sized by a core-count partition config (32) it sat near a
    * nondeterministic OOM cliff (~1/4 of runs died allocating spill-reader
    * buffers). The guard's estimate now SELF-DEFENDS: when expected pairs
    * imply > ~2M pair-keys per task, the pair stream is repartitioned to
    * cap per-task aggregate state (clamped at 4096 partitions) — the
    * partitions-scale-with-DATA rule applied from the operator's own
    * measurement instead of session config. Measured: 7/7 runs stable at
    * the previously-flaky 32-partition/6 GiB config, same warm wall
    * (~20 s), bench-scale plans byte-identical (the target only exceeds
    * the session setting when the corpus is big). Disabled with the guard
    * (maxExpectedPairs = 0 — no estimate, no defense).
    */
  def jaccardJoin(docs: DataFrame, k: Int = 3, minJaccard: Double = 0.5,
                  maxDf: Long = 0L, maxExpectedPairs: Long = 1000000000L): DataFrame = {
    val sh = InternalCaches.register(rebalance(docs)
      .select(col("doc_id"), array_distinct(shingleHashes(tokens(col("text")), k)).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
      .cache()) // exploded twice (both sides of the self-join); released via InternalCaches
    val ex0 = sh.select(col("doc_id"), col("n"), explode(col("sh")).as("h"))
    val ex =
      if (maxDf <= 0) ex0
      else {
        val hot = ex0.groupBy(col("h")).agg(count(lit(1)).as("__df")).filter(col("__df") > maxDf)
        ex0.join(hot, Seq("h"), "left_anti")
      }
    val pairParts = pairBudget(ex, ordered = false, maxExpectedPairs, "jaccardJoin")
    val a = ex.select(col("h"), col("doc_id").as("doc_a"), col("n").as("n_a"))
    val b = ex.select(col("h"), col("doc_id").as("doc_b"), col("n").as("n_b"))
    val pairs0 = a.join(b, Seq("h")).filter(col("doc_a") < col("doc_b"))
    val pairs =
      if (pairParts == 0) pairs0
      else pairs0.repartition(pairParts, col("doc_a"), col("doc_b"))
    pairs
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .select(col("doc_a"), col("doc_b"),
        round(col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Pre-flight pair budget shared by the inverted-index pair operators
    * ([[jaccardJoin]], [[containmentJoin]], [[tfCosinePairs]] — same
    * Θ(m²)-in-multiplicity self-join shape, same failure mode). One eager
    * scalar aggregate over the (post-`maxDf`) index `ex` computes the
    * EXACT candidate-pair count the self-join must emit
    * (Σ df·(df−1), halved for unordered a<b pairs); over `budget` throws
    * with the routing message BEFORE the quadratic stage is planned.
    * Returns the pair-stage repartition width — when the in-budget
    * estimate implies more than ~2M aggregate keys per task at the
    * session's partition count, the caller repartitions the pair stream
    * so per-task state is bounded by the corpus's own measurement
    * (clamp 4096; 0 = keep the session plan, which is byte-identical to
    * the unguarded one). Full rationale + measurements: [[jaccardJoin]]
    * scaladoc and NOTES_r12 §§4–5.
    */
  private def pairBudget(ex: DataFrame, ordered: Boolean, budget: Long,
                         opName: String): Int = {
    if (budget <= 0) return 0
    val per = if (ordered) lit(1) else lit(2)
    val expectedPairs = Option(
      ex.groupBy(col("h")).agg(count(lit(1)).as("__df"))
        .agg(sum((col("__df") * (col("__df") - lit(1)) / per).cast("double")))
        .head().get(0)).fold(0.0)(_.asInstanceOf[Number].doubleValue)
    if (expectedPairs > budget.toDouble)
      throw new IllegalStateException(
        f"$opName: the exact all-pairs operator would emit ~$expectedPairs%.3g " +
          f"candidate pairs (Σ df·(df−1)${if (ordered) "" else "/2"} over the " +
          f"index), over the maxExpectedPairs budget of $budget%d. This corpus " +
          "has mass duplication — exact all-pairs output is semantically Θ(m²) " +
          "in cluster multiplicity m and no budget makes it cheap. Use the " +
          "linear-state path instead: Dedup.minhashPairs as the screen, then " +
          "Components.duplicateClusters / TrainingData.prepareCorpus to " +
          "cluster-canonicalize. To cap the index rather than abort, pass " +
          "maxDf with Dedup.hotShingles accounting; to run unguarded exact " +
          "semantics anyway, pass maxExpectedPairs = 0.")
    val sessionParts = ex.sparkSession.sessionState.conf.numShufflePartitions
    val target = math.min(4096L, (expectedPairs / 2e6).toLong)
    if (target > sessionParts) target.toInt else 0
  }

  /** ASYMMETRIC shingle containment — quote/subset detection, the dedup
    * relation [[jaccardJoin]]'s symmetric measure cannot express: doc_a is
    * contained in doc_b when ≥ `minPermille`‰ of a's distinct k-shingles
    * also appear in b. A short document quoted whole inside a long one has
    * near-total containment but tiny Jaccard (the union is dominated by
    * the long side) — exactly the pairs corpus dedup wants when trimming
    * quoted boilerplate and subset re-posts. Output is ORDERED pairs
    * (a ⊆ b and b ⊆ a are independent facts) with the exact integer
    * evidence (shared, n_a, n_b); the threshold test is the
    * cross-multiplication `shared·1000 ≥ minPermille·n_a` — no ratio
    * double ever materializes.
    *
    * Plan shape is [[jaccardJoin]]'s inverted index (shuffles carry
    * (hash, id, size) longs, never text); same `maxDf` hot-shingle escape
    * valve, same `maxExpectedPairs` pre-flight budget + self-sizing
    * ([[pairBudget]] — ORDERED pairs here, so the count is Σ df·(df−1),
    * twice jaccard's). The only change is keeping both pair orders and
    * the integer filter — same asymptotics.
    */
  def containmentJoin(docs: DataFrame, k: Int = 3, minPermille: Long = 600L,
                      maxDf: Long = 0L,
                      maxExpectedPairs: Long = 1000000000L): DataFrame = {
    val sh = InternalCaches.register(rebalance(docs)
      .select(col("doc_id"), array_distinct(shingleHashes(tokens(col("text")), k)).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
      .cache())
    val ex0 = sh.select(col("doc_id"), col("n"), explode(col("sh")).as("h"))
    val ex =
      if (maxDf <= 0) ex0
      else {
        val hot = ex0.groupBy(col("h")).agg(count(lit(1)).as("__df")).filter(col("__df") > maxDf)
        ex0.join(hot, Seq("h"), "left_anti")
      }
    val pairParts = pairBudget(ex, ordered = true, maxExpectedPairs, "containmentJoin")
    val a = ex.select(col("h"), col("doc_id").as("doc_a"), col("n").as("n_a"))
    val b = ex.select(col("h"), col("doc_id").as("doc_b"), col("n").as("n_b"))
    val pairs0 = a.join(b, Seq("h")).filter(col("doc_a") =!= col("doc_b"))
    val pairs =
      if (pairParts == 0) pairs0
      else pairs0.repartition(pairParts, col("doc_a"), col("doc_b"))
    pairs
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") * 1000L >= lit(minPermille) * col("n_a"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"))
  }

  /** WEIGHTED near-dup: term-frequency cosine similarity pairs — the
    * graded measure the set-based [[jaccardJoin]] flattens (a doc that
    * repeats a phrase 10× is "the same document" to a distinct-shingle
    * join but not to a tf vector). Pairs (a < b) with cos²(a,b) ≥
    * (tauPct/100)², decided by the exact cross-multiplication
    * 10⁴·num² ≥ tauPct²·nsq_a·nsq_b where num = Σ_w tf_a(w)·tf_b(w) and
    * nsq = Σ_w tf(w)² — no square root, no division, engine-portable.
    * The comparison runs in decimal(38,0): num/nsq are quadratic in
    * document length, so the cross-product can pass 2⁶³ on long real-world
    * documents even though every COMPONENT fits a BIGINT comfortably
    * (DuckDB widens to HUGEINT on its own).
    *
    * Output carries the integer evidence (num, nsq_a, nsq_b); cosine
    * itself is the client's one division+sqrt.
    *
    * Terms are word k-shingles ([[shingleHashes]], the jaccard/containment
    * convention — k=1 degenerates to plain words): on low-entropy corpora
    * word-level tf is useless (a 31-word template vocabulary makes most
    * document pairs cosine-similar AND makes every word a hot posting —
    * measured: 448M candidate pairs at word level vs 2.8M at k=3 on the
    * same 5000-doc corpus), while shingle-level keeps the inverted index
    * sparse and the similarity discriminative.
    *
    * Plan: [[jaccardJoin]]'s inverted index with tf payloads — postings
    * (shingle-hash, doc, tf) meet by term, partial-sum map-side, group to
    * (a, b, num); norms are a doc-sized aggregate joined back at the end
    * (aggregate-sized, AQE-broadcastable). Same `maxDf` hot-term escape
    * valve and accounting caveat as jaccard: capping df drops boilerplate
    * postings, which strictly UNDER-counts num for affected pairs — at
    * maxDf=0 exact, at maxDf>0 a recall floor documented at the call site.
    * Shuffles carry (hash, id, tf) longs, never text. Same
    * `maxExpectedPairs` pre-flight budget + self-sizing as
    * [[jaccardJoin]] ([[pairBudget]]).
    */
  def tfCosinePairs(docs: DataFrame, k: Int = 3, tauPct: Long = 80L,
                    maxDf: Long = 0L,
                    maxExpectedPairs: Long = 1000000000L): DataFrame = {
    val tf = InternalCaches.register(rebalance(docs)
      .select(col("doc_id"), explode(shingleHashes(tokens(col("text")), k)).as("h"))
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("tf"))
      .cache()) // consumed by norms + both postings sides; caller releases
    val nrm = tf.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("nsq"))
    val ex =
      if (maxDf <= 0) tf
      else {
        val hot = tf.groupBy(col("h")).agg(count(lit(1)).as("__df")).filter(col("__df") > maxDf)
        tf.join(hot, Seq("h"), "left_anti")
      }
    val pairParts = pairBudget(ex, ordered = false, maxExpectedPairs, "tfCosinePairs")
    val a = ex.select(col("h"), col("doc_id").as("doc_a"), col("tf").as("tf_a"))
    val b = ex.select(col("h"), col("doc_id").as("doc_b"), col("tf").as("tf_b"))
    val pairs0 = a.join(b, Seq("h")).filter(col("doc_a") < col("doc_b"))
    val pairs =
      if (pairParts == 0) pairs0
      else pairs0.repartition(pairParts, col("doc_a"), col("doc_b"))
    val num = pairs
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("tf_a") * col("tf_b")).as("num"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    num
      .join(nrm.select(col("doc_id").as("doc_a"), col("nsq").as("nsq_a")), Seq("doc_a"))
      .join(nrm.select(col("doc_id").as("doc_b"), col("nsq").as("nsq_b")), Seq("doc_b"))
      .filter(lit(10000L).cast(dec) * col("num").cast(dec) * col("num").cast(dec) >=
        lit(tauPct * tauPct).cast(dec) * col("nsq_a").cast(dec) * col("nsq_b").cast(dec))
      .select(col("doc_a"), col("doc_b"), col("num"), col("nsq_a"), col("nsq_b"))
  }

  /** Cross-corpus n-gram overlap — DECONTAMINATION: for each eval-set
    * document, every training document sharing ≥ `minShared` distinct word
    * k-shingles, with the shared count and the contamination ratio
    * (shared / |eval shingles|). The canonical pre-training hygiene pass:
    * benchmark/eval text leaked into the training corpus inflates scores;
    * this finds it before training does.
    *
    * Plan: inverted index on the TRAINING side (the big one — stays
    * partitioned, shuffled once on shingle hash), eval side exploded the
    * same way; equi-join on the hash, count shared per (eval, train) pair.
    * Shuffles carry (hash, id, set-size) — never text. Same asymptotics as
    * [[jaccardJoin]]: linear in both corpora + pairs actually overlapping —
    * and therefore the same mass-overlap failure mode, guarded the same
    * way: `maxExpectedPairs` prices the join EXACTLY
    * (Σ_h df_train(h)·df_eval(h), one eager aggregate per index) before
    * the pair stage is planned, and in-budget estimates above ~2M keys
    * per task repartition the pair stream ([[pairBudget]] rationale).
    * A benchmark suite pasted wholesale into millions of training docs —
    * the exact situation decontamination exists for — blows the budget
    * honestly; the guard's message routes to [[bloomDecontaminate]],
    * whose Bloom-side screen is linear in the training corpus and
    * reserves this exact-evidence join for the flagged remainder.
    */
  def crossCorpusOverlap(train: DataFrame, eval: DataFrame, k: Int = 5,
                         minShared: Long = 1L,
                         maxExpectedPairs: Long = 1000000000L): DataFrame = {
    val st = InternalCaches.register(rebalance(train)
      .select(col("doc_id").as("train_doc"),
        array_distinct(shingleHashes(tokens(col("text")), k)).as("sh"))
      .cache()) // consumed by the df pre-flight AND the join; caller releases
    val se = InternalCaches.register(rebalance(eval)
      .select(col("doc_id").as("eval_doc"),
        array_distinct(shingleHashes(tokens(col("text")), k)).as("sh"))
      .cache())
    val t = st.select(col("train_doc"), explode(col("sh")).as("h"))
    val e = se.select(col("eval_doc"), size(col("sh")).cast("long").as("n_eval"),
      explode(col("sh")).as("h"))
    var pairParts = 0
    if (maxExpectedPairs > 0) {
      val dft = t.groupBy(col("h")).agg(count(lit(1)).as("__dft"))
      val dfe = e.groupBy(col("h")).agg(count(lit(1)).as("__dfe"))
      val expected = Option(dft.join(dfe, Seq("h"))
        .agg(sum((col("__dft") * col("__dfe")).cast("double")))
        .head().get(0)).fold(0.0)(_.asInstanceOf[Number].doubleValue)
      if (expected > maxExpectedPairs.toDouble)
        throw new IllegalStateException(
          f"crossCorpusOverlap: the exact overlap join would emit ~$expected%.3g " +
            f"candidate rows (Σ df_train·df_eval over shared shingles), over the " +
            f"maxExpectedPairs budget of $maxExpectedPairs%d — the eval set " +
            "overlaps a mass-duplicated slice of the training corpus. Screen " +
            "first with Dedup.bloomDecontaminate (linear in the training " +
            "corpus) and reserve this exact-evidence join for the flagged " +
            "remainder; or pass maxExpectedPairs = 0 to run unguarded.")
      val sessionParts = t.sparkSession.sessionState.conf.numShufflePartitions
      val target = math.min(4096L, (expected / 2e6).toLong)
      if (target > sessionParts) pairParts = target.toInt
    }
    val joined0 = t.join(e, Seq("h"))
    val joined =
      if (pairParts == 0) joined0
      else joined0.repartition(pairParts, col("eval_doc"), col("train_doc"))
    joined
      .groupBy(col("eval_doc"), col("train_doc"), col("n_eval"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("eval_doc"), col("train_doc"), col("shared"),
        round(col("shared").cast("double") / col("n_eval"), 6).as("contamination"))
  }

  /** Bloom-prefiltered decontamination — the 100 TB shape of "remove every
    * training document sharing a word k-shingle with the eval set". Returns
    * the CLEAN training rows (full input schema), and the result is EXACT:
    * the bloom filter is only a pre-filter, never the decision.
    *
    * Why this scales where [[crossCorpusOverlap]]'s plain inverted-index
    * join does not: the exact join must shuffle every training shingle
    * (O(corpus tokens) rows) even though almost none of them match the
    * eval side. Here the eval shingle set is folded into a Bloom sketch by
    * a distributed [[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]]
    * (map-side partial sketches, one merge), and the merged sketch — whose
    * size is bounded by `fpp`/`maxBits`, independent of corpus size — is
    * embedded as a binary literal in a codegen'd
    * `BloomFilterMightContain` filter on the training side. Training
    * shingles are eliminated AT THE SCAN, before any exchange; only bloom
    * positives (true overlaps + an `fpp` fraction of noise) reach the
    * exact semi-join that resolves false positives. No false negatives
    * exist by construction, so clean = exact clean.
    *
    * The one driver-side transfer is the merged sketch itself (≤ maxBits/8
    * bytes — the same bounded collect Spark's own runtime-filter injection
    * performs); the aggregation producing it is fully distributed.
    *
    * Mirrors the reference's pre-join filter discipline (MinMaxFilter /
    * D4mRangeFilter applied below the join, laradb `Ext`-as-filter idiom)
    * re-expressed as a sketch: discard non-candidates before they cost a
    * shuffle.
    */
  def bloomDecontaminate(train: DataFrame, eval: DataFrame, k: Int = 5,
                         fpp: Double = 0.01, maxBits: Long = 1L << 26): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.bridge
    import org.apache.spark.sql.types.BinaryType
    val evalH = InternalCaches.register(rebalance(eval)
      .select(explode(array_distinct(shingleHashes(tokens(col("text")), k))).as("h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // sketch sizing needs the eval-distinct cardinality; evalH is the small
    // side and already persisted, so this count is a cheap cached job
    val n = math.max(evalH.count(), 1L)
    val numBits = math.max(64L, math.min(maxBits,
      math.ceil(-n.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong))
    val sketch = evalH
      .agg(bridge.column(new BloomFilterAggregate(bridge.expression(col("h")),
        Literal(n), Literal(numBits)).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val mightContain = bridge.column(BloomFilterMightContain(
      Literal(sketch, BinaryType), bridge.expression(col("h"))))
    val contaminated = rebalance(train)
      .select(col("doc_id"), explode(array_distinct(shingleHashes(tokens(col("text")), k))).as("h"))
      .filter(mightContain) // map-side: kills ~all rows before the exchange
      .join(evalH, Seq("h"), "left_semi") // exact: removes bloom false positives
      .select(col("doc_id")).distinct()
    // contaminated is small (eval-overlapping ids only) → AQE broadcasts the
    // anti-join; the clean pass over train is a second column-pruned scan
    train.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Accounting for `jaccardJoin(maxDf=…)`: shingle hashes whose document
    * frequency exceeds the cap, with their frequency.
    */
  def hotShingles(docs: DataFrame, k: Int = 3, maxDf: Long = 100L): DataFrame =
    rebalance(docs)
      .select(col("doc_id"), explode(array_distinct(shingleHashes(tokens(col("text")), k))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)

  /** Inter-document duplicated n-gram statistics — the cross-corpus
    * companion of [[graft.pipeline.TextAnalysis.repetitionStats]] (which is
    * intra-document): for each document, the fraction of its distinct word
    * n-grams that also occur in at least one OTHER document. High values
    * flag boilerplate (navigation chrome, licence headers, templated spam)
    * that per-document quality scores cannot see.
    *
    * Shape: explode distinct n-gram hashes → global document-frequency
    * aggregation → join frequencies back → per-document fraction.
    * The df aggregation partial-aggregates map-side, so a stop-n-gram that
    * appears in every document costs one combiner cell per task, not a
    * skewed reducer; the join back is keyed on the 60-bit hash with AQE
    * skew-split as the backstop. Per-pair shuffle rows are (doc_id, hash) —
    * two longs — never text. n-grams are hashed with the portable md5
    * family so the DuckDB oracle reproduces the result exactly (collisions
    * included); at 100 TB a 128-bit digest would drive collision expectation
    * below one, same plan shape.
    *
    * Output: (doc_id, n_ngrams, n_dup, dup_frac). Documents with ≤ n tokens
    * participate via their single whole-document shingle (token-less text
    * degenerates to one empty-string shingle — same on both engines).
    */
  def duplicatedNgramStats(docs: DataFrame, n: Int = 3): DataFrame = {
    // consumed by BOTH the df aggregation and the join-back; the partial
    // agg in front of the groupBy's exchange blocks ReuseExchange, so an
    // unpersisted frame would tokenize+hash the corpus twice. The cached
    // rows are two longs — the text never enters the cache.
    val ng = InternalCaches.register(rebalance(docs).select(col("doc_id"),
      explode(array_distinct(portableBaseHashes(shingles(tokens(col("text")), n)))).as("ng"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dfreq = ng.groupBy(col("ng")).agg(count(lit(1)).as("df"))
    ng.join(dfreq, Seq("ng"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup"))
      // single division of exact integers: bit-identical across engines
      .select(col("doc_id"), col("n_ngrams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_ngrams")).as("dup_frac"))
  }

  /** DuckDB twin of [[duplicatedNgramStats]]' n-gram table over the
    * relation `src(doc_id, text)`: the CTEs `toks<sfx>`, `sh<sfx>`
    * (distinct trigram lists), `ng<sfx>(doc_id, ng)` (portable 60-bit
    * hashes) and `dfreq<sfx>(ng, df)`. A document's duplicated fraction is
    * [[dupFracSql]] over `ng<sfx> JOIN dfreq<sfx> USING (ng)` grouped by
    * doc_id.
    */
  private[graft] def dupNgramOracleCtes(src: String, sfx: String = ""): String =
    s"""toks$sfx AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM $src),
         sh$sfx AS (
           SELECT doc_id, list_distinct(
             ${shinglesSql(3)}) AS s
           FROM toks$sfx),
         ng$sfx AS (SELECT doc_id, ${graft.functions.PortableHash.duckdbHash60("x")} AS ng
                FROM sh$sfx, unnest(s) AS u(x)),
         dfreq$sfx AS (SELECT ng, count(*)::BIGINT AS df FROM ng$sfx GROUP BY ng)"""

  /** [[duplicatedNgramStats]]' `dup_frac` as a DuckDB aggregate over rows
    * carrying `df`: one division of exact integers.
    */
  private[graft] val dupFracSql: String =
    "sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)"

  /** Duplicated-SPAN removal — the REWRITING sibling of
    * [[duplicatedNgramStats]] (which only scores): every token covered by
    * an n-gram that appears in ≥ `minDf` distinct documents is removed
    * from the document, the exact-substring-dedup idea of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"
    * (arXiv:2107.06499), at n-gram-coverage granularity. Emits
    * (doc_id, n_tokens, n_removed, clean_fp) where clean_fp is the
    * portable fingerprint of the cleaned text — the DuckDB oracle rebuilds
    * the cleaned document and must land on the same fingerprint.
    *
    * Scale shape: the cached frame is (doc_id, pos, ng) — three longs per
    * shingle, never text; df is a two-stage distinct+count; the join-back
    * moves (doc_id, position) pairs only; the corpus text is read
    * partition-local in one final pass that rebuilds each document with a
    * HOF filter against its (bounded, per-doc) covered-position list.
    */
  def removeDuplicatedSpans(docs: DataFrame, n: Int = 3, minDf: Long = 5L): DataFrame = {
    val np = InternalCaches.register(rebalance(docs)
      .select(col("doc_id"), posexplode(portableBaseHashes(shingles(tokens(col("text")), n))))
      .select(col("doc_id"), col("pos"), col("col").as("ng"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dfreq = np.select(col("ng"), col("doc_id")).distinct()
      .groupBy(col("ng")).agg(count(lit(1)).as("df"))
    val covered = np.join(dfreq.filter(col("df") >= minDf).select(col("ng")), Seq("ng"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("cpos"))
      .groupBy(col("doc_id")).agg(collect_set(col("cpos")).as("covered"))
    rebalance(docs).select(col("doc_id"), tokens(col("text")).as("t"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("t"),
        coalesce(col("covered"), array().cast("array<int>")).as("covered"))
      .select(col("doc_id"), col("t"),
        // phantom positions ≥ len(t) in `covered` (short-doc shingles) are
        // harmless: the filter only visits real indices
        when(size(col("t")) === 0, array().cast("array<string>"))
          .otherwise(transform(
            filter(
              zip_with(col("t"), sequence(lit(0), size(col("t")) - 1),
                (tok, i) => struct(tok.as("tok"), i.as("i"))),
              s => !array_contains(col("covered"), s.getField("i"))),
            s => s.getField("tok"))).as("clean"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        (size(col("t")) - size(col("clean"))).cast("long").as("n_removed"),
        graft.functions.PortableHash.hash60(array_join(col("clean"), " ")).as("clean_fp"))
  }

  /** 64-bit SimHash signature over a column of token hashes: bit i is set
    * iff more than half the token hashes have bit i set. Backed by the
    * fused single-pass kernel (graft.functions.SimHash64) — the HOF
    * formulation ([[simhashHof]]) scans the hash array once per bit.
    */
  def simhash(hashes: Column): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(graft.functions.SimHash64(bridge.expression(hashes)))
  }

  /** HOF formulation of [[simhash]] (identical values) — differential
    * oracle for the kernel. Pass an *attribute* (materialized array), not a
    * nested expression — the body scans it 64 times.
    */
  def simhashHof(hashes: Column): Column = {
    val nTok = size(hashes)
    val bitsSet = transform(sequence(lit(0), lit(63)),
      i => size(filter(hashes, h => call_function("shiftright", h, i).bitwiseAND(1) === 1)))
    aggregate(
      zip_with(bitsSet, sequence(lit(0), lit(63)),
        (cnt, i) => when(cnt * 2 > nTok, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** SimHash near-duplicate pairs: bucket by each of the four 16-bit bands,
    * then verify Hamming distance ≤ maxHamming via popcount of XOR. For
    * `maxHamming ≤ 3` the banding is lossless (pigeonhole), so the result
    * is *exactly* the set of pairs within the Hamming radius — which is why
    * the DuckDB oracle can check it by brute force.
    *
    * Pair dedup shuffles (doc_a, doc_b, hamming) scalars only. Tokens are
    * hashed with the md5-based portable hash (60 effective bits).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = 100000): DataFrame = {
    // Token hashes materialized as a column first — simhash scans them 64
    // times (once per bit); inlining the tokenizer would re-tokenize 64×.
    // computed once: both sides of the bucket self-join read the signatures
    val sigs = InternalCaches.checkpoint(rebalance(docs)
      .select(col("doc_id"), transform(tokens(col("text")), t => PortableHash.hash60(t)).as("th"))
      .select(col("doc_id"), simhash(col("th")).as("sig")))
    val banded = sigs.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(3)),
          b => call_function("shiftright", col("sig"), b * 16).bitwiseAND(0xFFFFL))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    val capped = capBuckets(banded, maxBucket)
    val a = capped.select(col("band"), col("bucket"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = capped.select(col("band"), col("bucket"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("doc_a"), col("doc_b")) // band-collision dedup on ids only
      .agg(max(col("hamming")).as("hamming")) // identical per pair
  }

  /** Levenshtein-distance-≤1 string pairs via symmetric-delete (SymSpell)
    * blocking — the fuzzy-match primitive (typo'd entity names, key
    * variants) next to the token-level joins above. Every distinct value
    * generates its |s|+1 deletion-1 variants (itself included); two
    * strings within distance 1 NECESSARILY share a variant — a
    * substitution means the same-position deletions coincide, an
    * insert/delete means the longer's deletion hits the shorter, equality
    * is the identity variant — so candidates meet by EQUI-join on the
    * variant: no quadratic comparison exists in the plan. Sharing a
    * variant is necessary but not sufficient (transpositions collide at
    * distance 2), so the exact `levenshtein` verification runs on the
    * blocked candidates only. Pairs are deduped on ids before
    * verification; per-variant fan-in is alphabet-bounded on id-shaped
    * data and AQE-skew-split otherwise. Values shorter than `minLen`
    * don't participate (an empty string would make sequence() degenerate
    * and matches everything 1-char anyway).
    */
  def fuzzyJoin(df: DataFrame, column: String, minLen: Int = 1): DataFrame = {
    val s = df.select(col(column).cast("string").as("s"))
      .filter(length(col("s")) >= math.max(minLen, 1)).distinct()
    // Explicit variant-key spread before the self-join: the join's work is
    // CPU-bound (Σ bucket² candidate rows through the a<b filter + pair
    // dedup — 3.5M rows on 0.3 MB of input at sf0.1) while its BYTES are
    // tiny, so AQE's byte-based coalescing collapses the whole join to one
    // partition (measured: a 4.1 s single task in a 4.9 s query). A pinned
    // hash repartition on the join key spreads the candidate generation
    // and keeps the join itself exchange-free (both sides inherit this
    // partitioning). Sized by the session's shuffle-partition setting —
    // the deployment's scale knob — never a constant.
    val spread = math.max(df.sparkSession.sparkContext.defaultParallelism,
      df.sparkSession.sessionState.conf.numShufflePartitions)
    val vars = s.select(col("s"), explode(expr(
      "array_union(array(s), transform(sequence(1, length(s)), " +
        "i -> concat(substring(s, 1, i - 1), substring(s, i + 1, length(s)))))"))
      .as("variant"))
      .repartition(spread, col("variant"))
    vars.select(col("s").as("val_a"), col("variant"))
      .join(vars.select(col("s").as("val_b"), col("variant")), Seq("variant"))
      .filter(col("val_a") < col("val_b"))
      .select(col("val_a"), col("val_b")).distinct()
      .filter(levenshtein(col("val_a"), col("val_b")) <= 1)
  }

  /** Entity resolution over a string key column: [[fuzzyJoin]] candidate
    * pairs resolved into clusters by [[Components.connectedComponents]],
    * every value mapped to its cluster's LEXICOGRAPHICALLY SMALLEST
    * member — the canonical-form assignment record linkage ships.
    * Singletons (nothing within distance 1) are their own canonical.
    *
    * The component loop runs on 60-bit portable hashes of the values
    * (the id-typed machinery), but the CONTRACT is hash-free: canonical
    * = min name within the cluster, so the oracle's recursive walk over
    * the definitional Levenshtein pairs lands on identical output. A
    * 60-bit collision could merge two clusters at ~10^9 distinct values
    * (birthday bound) — swap in a 128-bit key derivation there.
    */
  def entityResolution(df: DataFrame, column: String): DataFrame = {
    val pairs = fuzzyJoin(df, column)
    val comp = Components.connectedComponents(
      pairs.select(
        graft.functions.PortableHash.hash60(col("val_a")).as("ha"),
        graft.functions.PortableHash.hash60(col("val_b")).as("hb")),
      srcCol = "ha", dstCol = "hb")
    val names = df.select(col(column).cast("string").as("name")).distinct()
      .withColumn("h", graft.functions.PortableHash.hash60(col("name")))
    val labeled = names.join(comp, names("h") === comp("doc_id"), "left")
      .select(col("name"), coalesce(col("cluster_id"), col("h")).as("cid"))
    val canon = labeled.groupBy(col("cid")).agg(min(col("name")).as("canonical"))
    labeled.join(canon, Seq("cid")).select(col("name"), col("canonical"))
  }
}
