package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity

/** IVF (inverted-file) approximate nearest neighbour: a k-means coarse
  * quantizer partitions the corpus into cells; queries probe only the
  * `nProbe` nearest cells.
  *
  * Division of labour at 100 TB:
  *  - the quantizer (k × dim integer sums — a few KB) is trained by
  *    distributed Lloyd rounds whose per-round result is k·dim sums on the
  *    driver, never the corpus;
  *  - assignment, cell-routing and scoring are pure distributed Catalyst
  *    plans: one narrow pass to tag each vector with its cell, a bucket
  *    equi-join on (cell), and a per-query top-k window. The corpus is
  *    never collected and never all-pairs scored.
  *
  * Compared with the sign-LSH path (`Similarity.lshTopK`): IVF adapts to
  * the data distribution (centroids follow density), so recall at equal
  * candidate budget is usually higher; LSH needs no training pass.
  */
object Ivf {

  /** The ANN contract-query set, shared by the Spark call sites AND the
    * generated oracles (anti-drift): queries are the vectors with
    * `vec_id < AnnQueryMax`. Changing the set in one place and not the
    * other previously failed only as an unexplained hash mismatch.
    */
  val AnnQueryMax = 10L

  /** The contract queries of [[AnnQueryMax]] as a frame. */
  def annQueries(emb: DataFrame): DataFrame = emb.filter(col("vec_id") < AnnQueryMax)

  // -------------------------------------------------------------------
  // PORTABLE (oracle-checkable) IVF: integer-quantized Lloyd training the
  // DuckDB oracle replays step by step.
  //
  // Three tricks make a k-means-trained index exactly reproducible across
  // engines with zero accuracy compromise at scale:
  //  1. vectors are quantized to integers (floor(x*1000 + 0.5) — the same
  //     deterministic IEEE sequence on both engines);
  //  2. centroids are INTEGER SUM VECTORS, never means: cosine similarity
  //     is scale-invariant, so cos(v, Σ members) == cos(v, mean) and the
  //     division — the only non-exact step of Lloyd — never happens.
  //     Integer sums are associative, so Spark's distributed partial
  //     aggregation and DuckDB's single-threaded SUM agree bit-for-bit;
  //  3. every cosine is a sequential double fold in element order on both
  //     engines (applyD here, list_dot_product there) — identical doubles,
  //     so assignments, probe choices and rankings match exactly.
  //
  // Fixed iteration count (no convergence test), seeds = the k lowest
  // vec_ids, ties on argmax broken toward the lowest cell — all replayable
  // in SQL. See the `ann_ivf` entry of SparkEntry.contracts.
  // -------------------------------------------------------------------

  /** Integer quantization of a float-array embedding (array<long>):
    * `floor(x*1000 + 0.5)` per element — both engines compute the same
    * double product, same floor.
    */
  def quantized(emb: Column): Column =
    transform(emb.cast("array<double>"), x => floor(x * lit(1000.0d) + lit(0.5d)))

  /** Cosine of the (long-integer) quantized vector against each integer
    * centroid sum, as an array column. Double variant of the fused kernel
    * (CosineSimilarity.applyD): quantized sums can exceed float's 2^24
    * exact-integer range, doubles carry them exactly.
    */
  private def centroidSimsD(qv: Column, centroids: Array[Array[Double]]): Column =
    array(centroids.toIndexedSeq.map(c => CosineSimilarity.applyD(qv, typedlit(c.toSeq))): _*)

  /** First-max cell index over integer-centroid sims (ties → lowest cell —
    * `array_position` returns the first occurrence).
    */
  def assignCellPortable(qv: Column, centroids: Array[Array[Double]]): Column = {
    val sims = centroidSimsD(qv, centroids)
    (array_position(sims, array_max(sims)) - 1).cast("int")
  }

  /** Top-`nProbe` cells by quantized-cosine, descending (ties → higher
    * cell, the reverse-sort convention the oracle replays).
    */
  private def probeCellsPortable(qv: Column, centroids: Array[Array[Double]], nProbe: Int): Column = {
    val sims = centroidSimsD(qv, centroids)
    slice(reverse(array_sort(zip_with(sims,
      sequence(lit(0), lit(centroids.length - 1)),
      (s, i) => struct(s.as("s"), i.as("i"))))), 1, nProbe)
      .getField("i")
  }

  /** Deterministic distributed Lloyd over an already-quantized frame
    * (columns `vec_id`, `qv`): `iters` fixed rounds; each round assigns
    * every vector inside the plan and re-estimates centroids as exact
    * integer component sums (k·dim longs to the driver — never the
    * corpus). Empty cells keep their previous centroid.
    */
  private def trainOnQuantized(q: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    val seeds = q.orderBy(col("vec_id")).limit(k).select(col("qv")).collect()
      .map(_.getSeq[Long](0).map(_.toDouble).toArray)
    require(seeds.nonEmpty, "ivf: empty corpus")
    var cents = seeds
    for (_ <- 1 to iters) {
      val sums = q
        .select(assignCellPortable(col("qv"), cents).as("cell"), posexplode(col("qv")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col")).as("s")) // exact long sums — associative, engine-portable
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          val m = new Array[Double](seeds.head.length)
          rows.foreach(r => m(r.getInt(1)) = r.getLong(2).toDouble)
          cell -> m
        }
      cents = cents.indices.map(c => sums.getOrElse(c, cents(c))).toArray
    }
    cents
  }

  /** Deterministic distributed Lloyd (see [[trainOnQuantized]]) from a raw
    * corpus: quantizes, caches for the training scans, releases the cache
    * before returning. One round is the shipped default — k=16 coarse
    * quantizers converge in one round on every corpus measured, and each
    * extra round is a full-corpus assignment pass (the `ann_ivf` 2×-r1
    * regression r6 flagged was exactly one such pass too many).
    */
  def trainCentroidsPortable(corpus: DataFrame, k: Int, iters: Int = 1): Array[Array[Double]] = {
    val q = corpus.select(col("vec_id"), quantized(col("embedding")).as("qv")).cache()
    val cents = trainOnQuantized(q, k, iters)
    q.unpersist()
    cents
  }

  /** Oracle-checkable approximate top-k: portable quantized training, then
    * cell routing — corpus tagged with its cell, queries explode their
    * nProbe probe cells, equi-join on (cell), exact float-cosine scoring,
    * heap top-k. Every step deterministic and
    * replayed by the DuckDB oracle.
    *
    * ONE cached quantized frame feeds seeding, every training round and
    * the tag pass — the corpus is scanned and quantized once, not once per
    * pass (seed sort + `iters` assignment scans + tag all hit the cache).
    */
  def ivfTopKPortable(corpus: DataFrame, queries: DataFrame, k: Int,
                      nCells: Int = 16, nProbe: Int = 4, iters: Int = 1): DataFrame = {
    val cached = InternalCaches.register(
      Dedup.rebalance(corpus.select(col("vec_id"), col("embedding")))
        .withColumn("qv", quantized(col("embedding"))).cache())
    val centroids = trainOnQuantized(cached.select(col("vec_id"), col("qv")), nCells, iters)
    val c = cached
      .withColumn("cell", assignCellPortable(col("qv"), centroids))
      .select(col("vec_id"), col("embedding"), col("cell"))
    val q = broadcast(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(probeCellsPortable(quantized(col("embedding")), centroids, nProbe)).as("cell")))
    val scored = c.join(q, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(CosineSimilarity(col("q_emb"), col("embedding")), 6).as("cos_sim"))
    Similarity.topKTail(scored, k)
  }

  /** Product-quantization codes, PORTABLE: the embedding splits into `m`
    * contiguous `subDim`-wide subspaces; each subspace trains its own
    * `k`-codeword book with ONE integer-Lloyd round (same three
    * portability tricks as the IVF block header — quantized longs,
    * integer-SUM centroids under scale-invariant cosine ["spherical" PQ],
    * sequential-fold similarity) and every vector gets its per-subspace
    * nearest-codeword index. Output (vec_id, c0…c{m−1}) IS the compressed
    * corpus: m·log₂(k) bits per vector instead of dim floats — the memory
    * layout IVF-PQ systems scan at 100 TB. The DuckDB oracle
    * ([[pqOracleSql]], generated from the same parameters) replays
    * training and assignment bit-for-bit.
    *
    * Scale: seeds are k·dim longs to the driver; each subspace round is a
    * map-side-combined (code, pos) sum — m·k·subDim longs total driver
    * transfer, never the corpus. The final tag pass is pure per-row map
    * work against broadcast codebooks; one corpus scan per phase off the
    * shared cached quantized frame.
    */
  def pqCodesPortable(corpus: DataFrame, m: Int = 8, subDim: Int = 8,
                      k: Int = 8): DataFrame = {
    val cached = InternalCaches.register(
      corpus.select(col("vec_id"), quantized(col("embedding")).as("qv")).cache())
    val books = pqBooks(cached, m, subDim, k)
    cached.select(col("vec_id") +: pqCodeCols(books, subDim): _*)
  }

  /** One-round spherical codebook per subspace over a cached quantized
    * frame (columns `vec_id`, `qv`); see [[pqCodesPortable]]. Driver
    * transfer is m·k·subDim longs — never the corpus.
    */
  private def pqBooks(cached: DataFrame, m: Int, subDim: Int,
                      k: Int): Array[Array[Array[Double]]] = {
    val seedRows = cached.orderBy(col("vec_id")).limit(k).select(col("qv")).collect()
      .map(_.getSeq[Long](0).map(_.toDouble).toArray)
    require(seedRows.nonEmpty, "pq: empty corpus")
    require(seedRows.head.length >= m * subDim,
      s"pq: dim ${seedRows.head.length} < m*subDim ${m * subDim}")
    val seedsBySub = (0 until m).map(j =>
      seedRows.map(_.slice(j * subDim, j * subDim + subDim))).toArray
    // ALL m subspace assignments ride one corpus pass: per row, an array of
    // (subspace, code, subvector) structs explodes into the single
    // (j, code, pos)-sum shuffle — one job instead of m (measured 8 jobs →
    // 1 at m=8; the round's driver transfer is still m·k·subDim longs)
    val perSub = explode(array((0 until m).map { j =>
      val sub = slice(col("qv"), j * subDim + 1, subDim)
      struct(lit(j).as("j"),
        assignCellPortable(sub, seedsBySub(j)).as("code"), sub.as("sv"))
    }: _*))
    val sums = cached.select(perSub.as("e"))
      .select(col("e.j").as("j"), col("e.code").as("code"), posexplode(col("e.sv")))
      .groupBy(col("j"), col("code"), col("pos")).agg(sum(col("col")).as("s"))
      .collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case ((j, c), rows) =>
        val v = new Array[Double](subDim)
        rows.foreach(r => v(r.getInt(2)) = r.getLong(3).toDouble)
        (j, c) -> v
      }
    (0 until m).map { j =>
      seedsBySub(j).indices.map(c => sums.getOrElse((j, c), seedsBySub(j)(c))).toArray
    }.toArray
  }

  /** Per-subspace nearest-codeword assignment columns c0…c{m−1} over `qv`. */
  private def pqCodeCols(books: Array[Array[Array[Double]]], subDim: Int): Seq[Column] =
    books.toIndexedSeq.zipWithIndex.map { case (book, j) =>
      assignCellPortable(slice(col("qv"), j * subDim + 1, subDim), book)
        .cast("long").as(s"c$j")
    }

  /** Asymmetric-distance top-k over PQ codes: the query's EXACT quantized
    * vector scored against each corpus vector's RECONSTRUCTION (its m
    * codewords concatenated) — cos(q̂, v̂) = Σ_j dot(q̂_j, v̂_j)/(‖q̂‖‖v̂‖),
    * i.e. exactly the per-subspace ADC lookup sum under the cosine norm.
    * This is the compressed-domain scan of an IVF-PQ system: the corpus
    * side touches only m small ints per vector; codewords decode from
    * broadcast literals inside the fused cosine kernel. Deterministic end
    * to end — the oracle replays codebooks, codes and scores.
    *
    * Scale: the scored frame is corpus × |queries| with queries broadcast
    * (same contract as [[Similarity.bruteForceTopK]] — queries must be
    * small); the heap top-k puts k rows per query on the wire.
    */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5, m: Int = 8,
                subDim: Int = 8, kCodes: Int = 8): DataFrame = {
    val cached = InternalCaches.register(
      Dedup.rebalance(corpus.select(col("vec_id"), col("embedding")))
        .select(col("vec_id"), quantized(col("embedding")).as("qv")).cache())
    val books = pqBooks(cached, m, subDim, kCodes)
    val codes = cached.select(col("vec_id") +: pqCodeCols(books, subDim): _*)
    val vhat = concat((0 until m).map { j =>
      val mat = typedlit(books(j).map(_.toSeq).toSeq)
      element_at(mat, col(s"c$j").cast("int") + 1)
    }: _*)
    val q = broadcast(queries
      .select(col("vec_id").as("query_id"), quantized(col("embedding")).as("q_qv")))
    val scored = codes.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(CosineSimilarity.applyD(col("q_qv"), vhat), 6).as("cos_sim"))
    Similarity.topKTail(scored, k)
  }

  /** IVF×PQ composed scan — the production compressed-vector ANN query
    * (the FAISS `IVFPQ` shape): the coarse quantizer prunes the corpus to
    * each query's `nProbe` nearest cells, the ADC compressed-domain score
    * runs ONLY inside those cells (a bucket equi-join on `cell` — never a
    * corpus × queries cross), the per-query top-`shortlist` candidates are
    * re-ranked with the exact cosine on the original embeddings, and the
    * top-`k` of the re-rank is the answer. Every ingredient is the
    * portable integer-Lloyd machinery ([[ivfTopKPortable]] coarse cells,
    * [[pqCodesPortable]] codebooks/codes), so the DuckDB oracle
    * ([[ivfPqOracleSql]], generated from the same parameters) replays
    * training, assignment, probing, ADC scoring, the shortlist cut and the
    * re-rank bit-for-bit.
    *
    * Scale: ONE cached (vec_id, embedding, qv) frame feeds IVF seeding +
    * training, PQ training, the tag pass and the re-rank side — the corpus
    * is scanned and quantized once. Driver transfer is bounded (nCells·dim
    * + m·kCodes·subDim longs — codebooks, never vectors). The ADC probe
    * touches ~nProbe/nCells of the corpus per query and carries only the
    * m small code ints per row; the exact re-rank reads full vectors for
    * |queries|·shortlist ids only (AQE broadcasts the id list). This
    * removes the corpus × |queries| scan [[pqAdcTopK]] deliberately keeps
    * as the flat-ADC baseline.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                nCells: Int = 16, nProbe: Int = 4, shortlist: Int = 50,
                m: Int = 8, subDim: Int = 8, kCodes: Int = 8): DataFrame = {
    val cached = InternalCaches.register(
      Dedup.rebalance(corpus.select(col("vec_id"), col("embedding")))
        .withColumn("qv", quantized(col("embedding"))).cache())
    val quant = cached.select(col("vec_id"), col("qv"))
    val centroids = trainOnQuantized(quant, nCells, iters = 1)
    val books = pqBooks(quant, m, subDim, kCodes)
    val codes = cached.select(
      col("vec_id") +: assignCellPortable(col("qv"), centroids).as("cell") +:
        pqCodeCols(books, subDim): _*)
    val vhat = concat((0 until m).map { j =>
      val mat = typedlit(books(j).map(_.toSeq).toSeq)
      element_at(mat, col(s"c$j").cast("int") + 1)
    }: _*)
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), quantized(col("embedding")).as("q_qv"),
      explode(probeCellsPortable(quantized(col("embedding")), centroids, nProbe)).as("cell")))
    // ADC only within probed cells: equi-join on cell — the quantizer's
    // prune IS the join predicate (plan-asserted in IvfSpec: no
    // cartesian/nested-loop join anywhere in this query)
    val adc = codes.join(q, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(CosineSimilarity.applyD(col("q_qv"), vhat), 6).as("cos_sim"))
    val short = Similarity.topKTail(adc, shortlist).select(col("query_id"), col("vec_id"))
    val qe = broadcast(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val rer = short
      .join(cached.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(qe, Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(CosineSimilarity(col("q_emb"), col("embedding")), 6).as("cos_sim"))
    Similarity.topKTail(rer, k)
  }

  /** DuckDB twin of [[pqCodesPortable]], generated from the same
    * parameters (the anti-drift pattern): per subspace, the seed book,
    * one assignment round, integer-sum re-estimation, final assignment;
    * the last SELECT joins the m per-subspace code columns on vec_id.
    */
  def pqOracleSql(m: Int = 8, subDim: Int = 8, k: Int = 8): String =
    s"""${pqChainCtes(m, subDim, k)}
         SELECT e.vec_id, ${(0 until m).map(j => s"c$j::BIGINT AS c$j").mkString(", ")}
         FROM e ${(0 until m).map(j => s"JOIN af_$j USING (vec_id)").mkString(" ")}"""

  /** DuckDB twin of [[pqAdcTopK]] (same generated chain): scores are the
    * cosine of the quantized query against the codeword concatenation.
    */
  def pqAdcOracleSql(k: Int = 5, m: Int = 8, subDim: Int = 8,
                     kCodes: Int = 8): String = {
    val recon = (0 until m).map(j => s"b$j.cent").mkString(" || ")
    val joins = (0 until m).map(j => s"JOIN c1_$j b$j ON b$j.code = v.c$j").mkString(" ")
    s"""${pqChainCtes(m, subDim, kCodes)},
         codes AS (SELECT e.vec_id, ${(0 until m).map(j => s"c$j").mkString(", ")}
                   FROM e ${(0 until m).map(j => s"JOIN af_$j USING (vec_id)").mkString(" ")}),
         qs AS (SELECT vec_id AS query_id, qv FROM e WHERE vec_id < $AnnQueryMax),
         sc AS (SELECT qs.query_id, v.vec_id,
                       round(${CosineSimilarity.duckdbCos("qs.qv", s"($recon)")}, 6) AS cos_sim
                FROM qs, codes v $joins
                WHERE v.vec_id <> qs.query_id)
         SELECT query_id, vec_id, cos_sim, rk FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, vec_id) AS rk FROM sc)
         WHERE rk <= $k"""
  }

  /** Shared CTE chain of the PQ oracles: quantize, per-subspace seed book
    * `c0_j`, one-round assignment `a1_j`, integer-sum re-estimation
    * `c1_j`, final assignment `af_j`.
    */
  private def pqChainCtes(m: Int, subDim: Int, k: Int): String = {
    def cos(a: String, b: String): String = CosineSimilarity.duckdbCos(a, b)
    // ce (the exact double cast) rides along unused by the PQ chains; the
    // composed ivf_pq oracle re-ranks on it
    val sb = new StringBuilder(s"WITH $quantizedCte")
    for (j <- 0 until m) {
      val lo = j * subDim + 1; val hi = (j + 1) * subDim
      sb.append(s""",
         s$j AS (SELECT vec_id, qv[$lo:$hi] AS sv FROM e),
         c0_$j AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, sv AS cent
                   FROM (SELECT vec_id, sv FROM s$j ORDER BY vec_id LIMIT $k)),
         a1_$j AS (SELECT vec_id, code FROM (
             SELECT s.vec_id, c.code,
                    row_number() OVER (PARTITION BY s.vec_id
                      ORDER BY ${cos("s.sv", "c.cent")} DESC, c.code) AS rn
             FROM s$j s CROSS JOIN c0_$j c) WHERE rn = 1),
         su_$j AS (SELECT a.code, p.pos, sum(s.sv[p.pos + 1])::BIGINT AS s
                   FROM a1_$j a JOIN s$j s USING (vec_id),
                        LATERAL (SELECT unnest(range($subDim)) AS pos) p
                   GROUP BY a.code, p.pos),
         cl_$j AS (SELECT code, list(s::DOUBLE ORDER BY pos) AS cent FROM su_$j GROUP BY code),
         c1_$j AS (SELECT c0.code, coalesce(cl.cent, c0.cent) AS cent
                   FROM c0_$j c0 LEFT JOIN cl_$j cl USING (code)),
         af_$j AS (SELECT vec_id, code AS c$j FROM (
             SELECT s.vec_id, c.code,
                    row_number() OVER (PARTITION BY s.vec_id
                      ORDER BY ${cos("s.sv", "c.cent")} DESC, c.code) AS rn
             FROM s$j s CROSS JOIN c1_$j c) WHERE rn = 1)""")
    }
    sb.toString
  }

  /** DuckDB twin of [[quantized]], as the CTE `e(vec_id, ce, qv)` every
    * portable IVF/PQ oracle starts from: `ce` is the exact double cast,
    * `qv` the integer quantization.
    */
  private[graft] def quantizedCte: String =
    """e AS (
           SELECT vec_id, embedding::DOUBLE[] AS ce,
                  list_transform(embedding::DOUBLE[], x -> floor(x * 1000 + 0.5)) AS qv
           FROM embeddings)"""

  /** DuckDB twin of [[trainOnQuantized]] plus the final assignment, as a
    * CTE chain (each name prefixed with `prefix`) that opens with a comma:
    * seed book `c0` = the `nCells` lowest vec_ids, then per Lloyd round r
    * the assignment `sim<r>`→`a<r>`, integer sums `s<r>`→`c<r>l` and the
    * centroids `c<r>` (an empty cell keeps its previous centroid), then the
    * final per-vector cell `af` (first-max ties → lowest cell) from the
    * sims `simf`. `rounds` and `dim` must be the Spark plan's `iters` and
    * embedding width. Assumes [[quantizedCte]] `e` is already in scope.
    */
  private[graft] def ivfChainCtes(nCells: Int, rounds: Int, dim: Int, prefix: String): String = {
    def sims(name: String, cents: String): String = s""",
         $prefix$name AS (
           SELECT e.vec_id, c.cell, ${CosineSimilarity.duckdbCos("e.qv", "c.cent")} AS sim
           FROM e CROSS JOIN $prefix$cents c)"""
    def assign(sim: String, name: String): String = s""",
         $prefix$name AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
             FROM $prefix$sim) WHERE rn = 1)"""
    val sb = new StringBuilder(s""",
         ${prefix}c0 AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, qv AS cent
           FROM (SELECT vec_id, qv FROM e ORDER BY vec_id LIMIT $nCells))""")
    for (r <- 1 to rounds) {
      val (a, c, prev) = (s"${prefix}a$r", s"${prefix}c$r", s"${prefix}c${r - 1}")
      sb.append(sims(s"sim$r", s"c${r - 1}")).append(assign(s"sim$r", s"a$r"))
      sb.append(s""",
         ${prefix}s$r AS (
           SELECT $a.cell, p.pos, sum(e.qv[p.pos + 1])::BIGINT AS s
           FROM $a JOIN e USING (vec_id), LATERAL (SELECT unnest(range($dim)) AS pos) p
           GROUP BY $a.cell, p.pos),
         ${c}l AS (SELECT cell, list(s::DOUBLE ORDER BY pos) AS cent FROM ${prefix}s$r GROUP BY cell),
         $c AS (SELECT $prev.cell, coalesce(${c}l.cent, $prev.cent) AS cent
                FROM $prev LEFT JOIN ${c}l USING (cell))""")
    }
    sb.append(sims("simf", s"c$rounds")).append(assign("simf", "af")).toString
  }

  /** DuckDB twin of [[ivfPqTopK]]: the PQ subspace chains and the coarse
    * IVF chain share one quantize CTE; `qp` probes each query's top-nProbe
    * cells (reverse-sort ties → higher cell, the [[probeCellsPortable]]
    * convention), `adc` scores codeword reconstructions ONLY for vectors
    * in probed cells, `short` cuts the per-query ADC shortlist, `rer`
    * re-ranks it with the exact double cosine. Generated from the same
    * parameters as the Spark plan — the anti-drift pattern.
    */
  def ivfPqOracleSql(k: Int = 5, nCells: Int = 16, nProbe: Int = 4,
                     shortlist: Int = 50, m: Int = 8, subDim: Int = 8,
                     kCodes: Int = 8, dim: Int = 64): String = {
    // the Spark side derives dim from the data while the oracle takes it as
    // a parameter — a silent mismatch would surface only as an unexplained
    // hash failure, so fail loudly at generation time (mirrors pqBooks)
    require(dim == m * subDim,
      s"ivfPqOracleSql: dim=$dim must equal m*subDim=${m * subDim} — " +
        "the PQ chain reconstructs exactly the concatenated subspaces")
    val recon = (0 until m).map(j => s"b$j.cent").mkString(" || ")
    val bookJoins = (0 until m).map(j => s"JOIN c1_$j b$j ON b$j.code = v.c$j").mkString(" ")
    // one Lloyd round: ivfPqTopK trains its coarse quantizer with iters = 1
    s"""${pqChainCtes(m, subDim, kCodes)}${ivfChainCtes(nCells, rounds = 1, dim, "iv_")},
         codes AS (
           SELECT e.vec_id, iv_af.cell, ${(0 until m).map(j => s"c$j").mkString(", ")}
           FROM e JOIN iv_af USING (vec_id)
           ${(0 until m).map(j => s"JOIN af_$j USING (vec_id)").mkString(" ")}),
         qp AS (
           SELECT vec_id AS query_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
             FROM iv_simf WHERE vec_id < $AnnQueryMax) WHERE rn <= $nProbe),
         adc AS (
           SELECT qp.query_id, v.vec_id,
                  round(${CosineSimilarity.duckdbCos("q.qv", s"($recon)")}, 6) AS adc_sim
           FROM qp JOIN codes v USING (cell)
           JOIN e q ON q.vec_id = qp.query_id
           $bookJoins
           WHERE v.vec_id <> qp.query_id),
         short AS (
           SELECT query_id, vec_id FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY adc_sim DESC, vec_id) AS rn
             FROM adc) WHERE rn <= $shortlist),
         rer AS (
           SELECT s.query_id, s.vec_id,
                  round(${CosineSimilarity.duckdbCos("q.ce", "c.ce")}, 6) AS cos_sim
           FROM short s
           JOIN e q ON q.vec_id = s.query_id
           JOIN e c ON c.vec_id = s.vec_id)
         SELECT query_id, vec_id, cos_sim, rk FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, vec_id) AS rk FROM rer)
         WHERE rk <= $k"""
  }
}
