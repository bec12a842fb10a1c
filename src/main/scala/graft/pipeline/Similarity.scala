package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`Array[Float]`).
  *
  *  - `bruteForceTopK`: exact cosine top-k of a (small, broadcast) query set
  *    against the full corpus — the correctness baseline. Dot products via
  *    the native fused `CosineSimilarity` expression: codegen'd, no UDF, no
  *    shuffle except the final per-query top-k.
  *  - `lshTopK` / `embeddingNearDup`: the scale path — *banded* random-
  *    hyperplane (sign) LSH. Each vector gets `bands` bucket keys, one per
  *    group of `planesPerBand` sign bits; two vectors are candidates iff
  *    they agree on at least one band (OR-amplification, the same
  *    construction as MinHash banding). Candidate generation is a bucket
  *    equi-join: linear in corpus size, quadratic only within a bucket and
  *    bounded by `maxBucket` (oversized buckets dropped with accounting —
  *    see `Dedup.oversizedBuckets` for the reporting pattern).
  *
  * The hyperplanes are md5-derived (`plane(p)(j)` below): a deterministic
  * function of (plane, component) indices that the DuckDB correctness
  * oracle recomputes bit-identically, embedded in the plan as literal
  * arrays (16×64 doubles — bytes, not a broadcast). Cosine scores and sign
  * bits are IEEE-double sequential folds on both engines, so LSH bucket
  * membership and scores agree exactly — which is what lets the driver
  * hash-compare these queries instead of row-counting them.
  *
  * At 100 TB the corpus side stays partitioned; only queries are broadcast.
  * An IVF variant (k-means coarse quantizer) lives in [[Ivf]].
  */
object Similarity {

  /** Cosine similarity of two float-array columns (0 when either norm is 0).
    * Backed by the native fused-loop expression
    * (graft.functions.CosineSimilarity) — one pass, codegen'd.
    */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSimilarity(a, b)

  /** HOF reference formulation (three array passes through lambda
    * indirection) — kept as the differential-testing oracle for the native
    * expression and as the pattern for ad-hoc vector math.
    */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (s, x) => s + x)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (s, x) => s + x))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0d), (s, x) => s + x))
    when(na === 0 || nb === 0, 0.0d).otherwise(dot / (na * nb))
  }

  /** Per-query top-k tail over a (query_id, vec_id, cos_sim) frame via the
    * typed heap aggregate (graft.functions.TopKByScore): partial heaps
    * combine map-side, so only k rows per query cross the shuffle — the
    * window formulation ([[topKTailWindow]], kept as the differential
    * twin) shuffles and sorts EVERY candidate row first. Same output
    * contract: (score desc, id asc), rk = 1-based rank.
    */
  private[graft] def topKTail(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    val tk = bridge.column(graft.functions.TopKByScore(
      bridge.expression(struct(col("cos_sim"), col("vec_id"))), k).toAggregateExpression())
    scored.groupBy(col("query_id")).agg(tk.as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col").getField("id").as("vec_id"),
        col("col").getField("score").as("cos_sim"), (col("pos") + 1).cast("long").as("rk"))
  }

  /** Window (row_number) formulation of [[topKTail]] — identical results,
    * kept as its differential oracle.
    */
  private[graft] def topKTailWindow(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("cos_sim"), col("rk"))
  }

  /** Exact top-k by cosine: each vector in `queries` (must be small — it is
    * broadcast) against every corpus vector. Ties broken by vec_id for
    * determinism.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val scored = Dedup.rebalance(corpus.select(col("vec_id"), col("embedding")))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")), 6).as("cos_sim"))
    topKTail(scored, k)
  }

  /** Hard-negative mining for contrastive training: for each query vector,
    * the top-k most-similar corpus vectors carrying a DIFFERENT label —
    * the negatives a contrastive objective learns most from (easy random
    * negatives are already far away; these sit just across the boundary).
    * Same fused [[cosine]] kernel and bounded heap top-k as
    * [[bruteForceTopK]]; the label-inequality filter rides the scored
    * frame BEFORE the heap, so the shuffle still carries only k rows per
    * query and same-label near-dups can never crowd out real negatives.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("label").as("q_label")))
    val scored = Dedup.rebalance(
        corpus.select(col("vec_id"), col("embedding"), col("label")))
      .crossJoin(q)
      .filter(col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")), 6).as("cos_sim"))
    topKTail(scored, k)
  }

  /** Deterministic pseudo-random hyperplane component: a md5-derived value
    * in [-1, 1], the portable-hash construction
    * (`graft.functions.PortableHash`) evaluated at plan-build time —
    * `plane(p)(j) = (md5_60("p_j") mod 2000001 − 10^6) / 10^6`. The DuckDB
    * oracle computes the identical doubles from the same formula.
    */
  private[graft] def plane(p: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      ((graft.functions.PortableHash.local60(s"${p}_$j") % 2000001L) - 1000000L)
        .toDouble / 1000000.0d
    }

  /** Sign bit of the dot product with hyperplane `p` (sequential double
    * fold — same IEEE result as the oracle's `list_dot_product`).
    */
  private def signBit(emb: Column, p: Int, dim: Int): Column =
    when(aggregate(
      zip_with(emb, typedlit(plane(p, dim).toSeq), (x, v) => x * v),
      lit(0.0d), (s, x) => s + x) > 0, lit(1L)).otherwise(lit(0L))

  /** Banded bucket keys: element b is the integer formed by the sign bits of
    * planes [b·planesPerBand, (b+1)·planesPerBand). Exploded by callers into
    * (band, bucket) join keys. `dim` must match the embedding width (the
    * planes are plan constants). Backed by the fused one-pass kernel
    * (graft.functions.LshBuckets); [[lshBandBucketsHof]] is the HOF
    * differential oracle.
    */
  def lshBandBuckets(emb: Column, bands: Int, planesPerBand: Int, dim: Int): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(graft.functions.LshBuckets(
      bridge.expression(emb.cast("array<float>")), bands, planesPerBand, dim))
  }

  /** HOF formulation of [[lshBandBuckets]] (identical values). */
  def lshBandBucketsHof(emb: Column, bands: Int, planesPerBand: Int, dim: Int): Column =
    array((0 until bands).map { b =>
      (0 until planesPerBand).map(i => signBit(emb, b * planesPerBand + i, dim))
        .reduceLeft((acc, bit) => acc * 2 + bit)
    }: _*)

  /** DuckDB twin of [[plane]] and [[lshBandBuckets]], as CTEs: `pl`/`pls`
    * hold the `bands`·`planesPerBand` md5-derived hyperplanes, `e` the
    * embeddings (columns `cols` plus the DOUBLE[] cast `ce`), and `bk`
    * adds each vector's `bands` bucket keys `bks` (sign bits, first plane
    * most significant).
    */
  private[graft] def lshBucketOracleCtes(cols: String, bands: Int = 4,
                                         planesPerBand: Int = 4, dim: Int = 64): String = {
    val bits = (0 until planesPerBand).map { i =>
      val w = 1 << (planesPerBand - 1 - i)
      s"${if (w == 1) "" else s"$w * "}(CASE WHEN list_dot_product(ce, " +
        s"planes[b*$planesPerBand+${i + 1}]) > 0 THEN 1 ELSE 0 END)"
    }.mkString("\n            + ")
    s"""pl AS (
           SELECT p, [(${graft.functions.PortableHash.duckdbHash60("p::VARCHAR || '_' || j::VARCHAR")}
                       % 2000001 - 1000000) / 1000000.0 for j in range(0, $dim)] AS v
           FROM range(0, ${bands * planesPerBand}) t(p)),
         pls AS (SELECT list(v ORDER BY p) AS planes FROM pl),
         e AS (SELECT $cols, embedding::DOUBLE[] AS ce FROM embeddings),
         bk AS (
           SELECT $cols, ce,
             [$bits
              for b in range(0, $bands)] AS bks
           FROM e CROSS JOIN pls)"""
  }

  private def withBands(df: DataFrame, bands: Int, planesPerBand: Int, dim: Int): DataFrame =
    df.select(col("*"),
        posexplode(lshBandBuckets(col("embedding"), bands, planesPerBand, dim)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))

  private def capBuckets(banded: DataFrame, maxBucket: Int): DataFrame = {
    val counts = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__bucket_n"))
      .filter(col("__bucket_n") <= maxBucket)
    banded.join(counts, Seq("band", "bucket")).drop("__bucket_n")
  }

  /** Approximate top-k: score only corpus vectors sharing ≥1 LSH band with
    * the query. bands=4 × planesPerBand=4 gives ~50% candidate recall at
    * cosine ≈ 0.4 and prunes ~94% of the corpus per query.
    *
    * `multiProbe=true` also probes, per band, every bucket at Hamming
    * distance 1 from the query's bucket (one sign bit flipped) — the
    * standard multi-probe LSH recall boost: × (1 + planesPerBand) probe
    * keys on the (broadcast) query side only; the corpus is indexed once
    * either way.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bands: Int = 4, planesPerBand: Int = 4, dim: Int = 64,
              maxBucket: Int = 100000, multiProbe: Boolean = false): DataFrame = {
    // banded corpus is scanned twice (bucket counts + the probe join):
    // cache it so the 16 sign-bit dots per vector run once
    val c = capBuckets(InternalCaches.register(
      withBands(Dedup.rebalance(corpus.select(col("vec_id"), col("embedding"))),
        bands, planesPerBand, dim).cache()), maxBucket)
    val qBanded = withBands(queries.select(col("vec_id"), col("embedding")), bands, planesPerBand, dim)
    val qProbes =
      if (!multiProbe) qBanded
      else qBanded.select(col("vec_id"), col("embedding"), col("band"),
        explode(array((col("bucket") +:
          (0 until planesPerBand).map(i => col("bucket").bitwiseXOR(lit(1L << i)))): _*))
          .as("bucket"))
    val q = broadcast(qProbes
      .select(col("band"), col("bucket"), col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val scored = c.join(q, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")), 6).as("cos_sim"))
      .groupBy(col("query_id"), col("vec_id")) // band-collision dedup on ids only
      .agg(max(col("cos_sim")).as("cos_sim")) // identical per pair
    topKTail(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`: banded-LSH
    * self-join (candidates agree on ≥1 band), then exact cosine verify —
    * never all-pairs. Pair dedup shuffles (id_a, id_b, cos_sim) scalars;
    * embeddings stay on the map side of the bucket join.
    */
  /** Matryoshka/dimension-truncation fidelity: per query, how much of the
    * FULL-dimension exact top-k survives when retrieval runs on only the
    * first `dims` components — the evaluation behind MRL-style embedding
    * cost cuts (a 4× dimension cut that keeps 4/5 of top-5 is usually a
    * good trade; this query measures it exactly instead of assuming it).
    * Output per query: overlap size and the two top-1 ids.
    *
    * Scale: two [[bruteForceTopK]] passes (queries broadcast, corpus
    * scanned twice — the truncated pass reads 4× fewer vector bytes,
    * which is the point) and an id-only join of two k-row-per-query
    * frames.
    */
  def mrlOverlap(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                 dims: Int = 16): DataFrame = {
    val full = bruteForceTopK(corpus, queries, k)
    def trunc(df: DataFrame): DataFrame =
      df.select(col("vec_id"), slice(col("embedding"), 1, dims).as("embedding"))
    val cut = bruteForceTopK(trunc(corpus), trunc(queries), k)
    val common = full.select(col("query_id"), col("vec_id"))
      .join(cut.select(col("query_id"), col("vec_id")), Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_common"))
    full.filter(col("rk") === 1L).select(col("query_id"), col("vec_id").as("top1_full"))
      .join(cut.filter(col("rk") === 1L)
        .select(col("query_id"), col("vec_id").as("top1_trunc")), Seq("query_id"))
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_common"), lit(0L)).as("n_common"),
        col("top1_full"), col("top1_trunc"))
  }

  def embeddingNearDup(corpus: DataFrame, threshold: Double,
                       bands: Int = 4, planesPerBand: Int = 4, dim: Int = 64,
                       maxBucket: Int = 100000): DataFrame = {
    // banded corpus feeds bucket counts + both self-join sides: cache it
    val c = capBuckets(InternalCaches.register(
      withBands(Dedup.rebalance(corpus.select(col("vec_id"), col("embedding"))),
        bands, planesPerBand, dim).cache()), maxBucket)
    val a = c.select(col("band"), col("bucket"), col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = c.select(col("band"), col("bucket"), col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("emb_a"), col("emb_b")), 6).as("cos_sim"))
      // threshold BEFORE the band-collision dedup: cos_sim for a pair is a
      // function of the embeddings alone, so every band collision of the
      // same (id_a, id_b) carries the SAME value — filter-then-dedup is
      // lossless, and the aggregate's hash state shrinks from every
      // colliding pair (quadratic-in-bucket, the 2.9 GB/task hash map the
      // r10 6 GiB-heap rehearsal caught thrashing at 19× wall) to just the
      // near-duplicates the query returns
      .filter(col("cos_sim") >= threshold)
      .groupBy(col("id_a"), col("id_b")) // band-collision dedup on ids only
      .agg(max(col("cos_sim")).as("cos_sim"))
  }

  /** kNN label confusion matrix — the label-quality audit a curation
    * pipeline runs over a labeled embedding table (mislabeled-example
    * mining, class-overlap detection): each vector's k nearest LSH-candidate
    * neighbors vote, and the output counts (label_probe, label_neighbor)
    * pairs across the corpus. A clean labeling is diagonal-heavy; off-
    * diagonal cells localize confused class pairs.
    *
    * Candidates come from the SAME banded sign-LSH self-join as
    * [[embeddingNearDup]] (never all-pairs), so neighbor sets are a
    * deterministic function of the md5-derived planes and the DuckDB
    * oracle replays them exactly: per probe, rank candidates by
    * (round(cosine, 6) DESC, vec_id ASC) — a total order — and keep rk ≤ k.
    * Probes with fewer than k candidates contribute what they have;
    * bucket-isolated probes contribute nothing (both engines agree).
    *
    * Scale shape: embeddings stay on the map side of the bucket join;
    * the per-pair frame carries (ids, labels, score) scalars only; the
    * top-k cut is a query_id-partitioned window whose partitions are
    * bounded by bands·maxBucket rows (NOT the TopKByScore heap: the heap
    * id is a bare long, and threading label_neighbor through it would
    * cost the corpus-sized label join-back the window avoids). The frame
    * is pre-partitioned on query_id so the band-collision dedup and the
    * rank share ONE exchange; output is ≤ |labels|² rows.
    */
  def knnLabelConfusion(corpus: DataFrame, k: Int = 5,
                        bands: Int = 4, planesPerBand: Int = 4, dim: Int = 64,
                        maxBucket: Int = 100000): DataFrame = {
    val c = capBuckets(InternalCaches.register(
      withBands(Dedup.rebalance(corpus.select(col("vec_id"), col("embedding"), col("label"))),
        bands, planesPerBand, dim).cache()), maxBucket)
    val a = c.select(col("band"), col("bucket"), col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("label").as("label_probe"))
    val b = c.select(col("band"), col("bucket"), col("vec_id"), col("embedding"),
      col("label").as("label_neighbor"))
    val scored = a.join(b, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("label_probe"), col("vec_id"), col("label_neighbor"),
        round(cosine(col("q_emb"), col("embedding")), 6).as("cos_sim"))
      // ONE shuffle for dedup + rank: HashPartitioning(query_id) satisfies
      // the dedup aggregation's clustering (query_id is a prefix of its
      // keys) AND the window's partition-by, so neither plans an exchange
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("label_probe"), col("vec_id"), col("label_neighbor"))
      .agg(max(col("cos_sim")).as("cos_sim")) // band-collision dedup, ids+labels only
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .groupBy(col("label_probe").cast("long").as("label_probe"),
        col("label_neighbor").cast("long").as("label_neighbor"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Per-label class prototypes as EXACT INTEGER SUM VECTORS — the
    * dataset-cartography / nearest-class-mean primitive over an embedding
    * column, portable by the same three tricks as the IVF quantizer
    * (integer quantization, sum-not-mean centroids, associative sums).
    * Returns the LONG format (label, pos, component_sum, n_vecs) — one row
    * per centroid component, scalar columns only (the correctness gate
    * hashes scalar frames); consumers reassemble or consume positionally.
    * Cosine against a sum centroid equals cosine against the mean (scale
    * invariance), so nothing is lost to the missing division.
    *
    * Scale shape: posexplode fans each vector into dim rows, but the
    * partial aggregation combines them map-side to ≤ labels·dim rows per
    * partition — the shuffle carries label-count·dim longs, never the
    * corpus.
    */
  def labelCentroids(corpus: DataFrame): DataFrame = {
    val q = corpus.select(col("label"), Ivf.quantized(col("embedding")).as("qv"))
    val sums = q.select(col("label"), posexplode(col("qv")))
      .groupBy(col("label"), col("pos")).agg(sum(col("col")).as("component_sum"))
    corpus.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
      .join(sums, Seq("label"))
      .select(col("label"), col("pos"), col("component_sum"), col("n_vecs"))
  }

  /** SemDedup-style SEMANTIC deduplication (Abbas et al., "SemDedup",
    * arXiv:2303.09540 — the embedding sibling of minhash dedup): cluster
    * the corpus with the k-means coarse quantizer, compare pairs only
    * WITHIN a cluster, and for each near-dup group keep the lowest vec_id.
    * Candidate generation by density-adaptive clusters complements
    * [[embeddingNearDup]]'s data-oblivious LSH bands — near-dups straddling
    * a band boundary still land in the same k-means cell.
    *
    * Returns one row per vector: (vec_id, cell, keep, dup_of) where
    * `dup_of` is the LOWEST same-cell vec_id with cosine ≥ `tau` below it
    * (null ⇒ kept) — a deterministic representative choice the DuckDB
    * oracle replays exactly, because training reuses the integer-quantized
    * fixed-iteration Lloyd of [[Ivf.trainCentroidsPortable]] and every
    * cosine is the same sequential double fold on both engines.
    *
    * Scale shape: the quantizer is k·dim integers (plan literals); the
    * cell tag is one narrow map pass; the pair join is cell-bucketed
    * (never all-pairs) off one cell-partitioned cache, and only
    * (vec_id, lo_id) longs that passed `tau` reach the resolving
    * aggregation. Cell population is the budget knob — scale `nCells`
    * with corpus size to hold n/k constant, exactly how SemDedup runs at
    * dataset scale (per-cell work stays bounded as the corpus grows).
    */
  def semanticDedup(corpus: DataFrame, tau: Double = 0.4,
                    nCells: Int = 16, iters: Int = 2): DataFrame = {
    val centroids = Ivf.trainCentroidsPortable(corpus, nCells, iters)
    // cell-partitioned cache feeds both sides of the pair self-join
    // (zero-exchange, the Components/triangle trick) and the final output
    val assigned = InternalCaches.register(
      Dedup.rebalance(corpus.select(col("vec_id"), col("embedding")))
        .withColumn("cell",
          Ivf.assignCellPortable(Ivf.quantized(col("embedding")), centroids))
        .repartition(col("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val lower = assigned
      .select(col("cell"), col("vec_id").as("lo_id"), col("embedding").as("lo_emb"))
    val dupOf = assigned.join(lower, Seq("cell"))
      .filter(col("lo_id") < col("vec_id"))
      .filter(round(cosine(col("embedding"), col("lo_emb")), 6) >= tau)
      .groupBy(col("vec_id")).agg(min(col("lo_id")).as("dup_of"))
    assigned.select(col("vec_id"), col("cell"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dup_of").isNull.as("keep"), col("dup_of"))
  }

  /** DuckDB twin of [[semanticDedup]], generated from the same `tau`,
    * `nCells` and `iters` (the anti-drift pattern): the quantize CTE `e`,
    * the integer-Lloyd chain ending in the per-vector cell `af`, then
    * `dupName(vec_id, dup_of)` — per vector the lowest same-cell lower
    * vec_id at rounded cosine ≥ `tau`. `dim` is the embedding width.
    */
  private[graft] def semanticDedupOracleCtes(dupName: String, tau: Double = 0.4,
                                             nCells: Int = 16, iters: Int = 2,
                                             dim: Int = 64): String =
    s"""${Ivf.quantizedCte}${Ivf.ivfChainCtes(nCells, iters, dim, prefix = "")},
         $dupName AS (
           SELECT a.vec_id, min(b.vec_id) AS dup_of
           FROM af a JOIN af b USING (cell)
           JOIN e ea ON ea.vec_id = a.vec_id
           JOIN e eb ON eb.vec_id = b.vec_id
           WHERE b.vec_id < a.vec_id
             AND round(${graft.functions.CosineSimilarity.duckdbCos("ea.ce", "eb.ce")}, 6) >= $tau
           GROUP BY a.vec_id)"""
}
