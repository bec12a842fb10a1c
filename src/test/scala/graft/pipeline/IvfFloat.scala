package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity

/** The float-centroid IVF: driver-sample and distributed Lloyd training
  * over raw float embeddings, cell assignment and multi-probe top-k. The
  * `ann_ivf` contract runs the integer-quantized [[Ivf.ivfTopKPortable]]
  * instead; this variant lives beside the specs that pin its recall and
  * that distributed Lloyd refines the driver-sample quantizer.
  */
object IvfFloat {

  /** Train the coarse quantizer: deterministic sample (lowest vec_ids),
    * Lloyd iterations in plain Scala on the driver. Returns k centroids.
    */
  def trainCentroids(corpus: DataFrame, k: Int, iters: Int = 5,
                     sampleN: Int = 2048): Array[Array[Float]] = {
    val sample = corpus.orderBy(col("vec_id")).limit(sampleN)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "ivf: empty corpus")
    val dim = sample.head.length
    var centroids = Array.tabulate(math.min(k, sample.length))(i => sample(i).clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      for (v <- sample) {
        val c = nearest(centroids, v)
        counts(c) += 1
        var j = 0; while (j < dim) { sums(c)(j) += v(j); j += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else Array.tabulate(dim)(j => (sums(c)(j) / counts(c)).toFloat)
      }.toArray
    }
    centroids
  }

  /** Distributed Lloyd training — the 100 TB path: each iteration assigns
    * every vector to its nearest centroid *inside the plan* (the centroids
    * ride along as literals, a few KB) and re-estimates centroids with one
    * `groupBy(cell, dimension).avg` — k·dim rows (~1024 doubles) come back
    * to the driver per iteration, never the corpus. Contrast
    * [[trainCentroids]], which Lloyd-iterates a bounded driver-side sample:
    * that caps quality at the sample; this sees every vector.
    *
    * Seeds: the `k` lowest vec_ids (deterministic). Empty cells keep their
    * previous centroid.
    */
  def trainCentroidsDistributed(corpus: DataFrame, k: Int, iters: Int = 3): Array[Array[Float]] = {
    // iters+1 scans over the same projection: cache it for training
    val emb = corpus.select(col("vec_id"), col("embedding")).cache()
    val seeds = emb.orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(seeds.nonEmpty, "ivf: empty corpus")
    val dim = seeds.head.length
    var centroids = seeds
    for (_ <- 1 to iters) {
      val means = emb
        .select(assignCell(col("embedding"), centroids).as("cell"),
          posexplode(col("embedding")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> {
            val m = new Array[Float](dim)
            rows.foreach(r => m(r.getInt(1)) = r.getDouble(2).toFloat)
            m
          }
        }
      centroids = centroids.indices.map(c => means.getOrElse(c, centroids(c))).toArray
    }
    emb.unpersist() // training-only cache — don't hold it into the probe phase
    centroids
  }

  private def nearest(centroids: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0; var bestSim = Double.MinValue
    for (c <- centroids.indices) {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var j = 0
      while (j < v.length) {
        dot += centroids(c)(j) * v(j); na += centroids(c)(j) * centroids(c)(j); nb += v(j) * v(j)
        j += 1
      }
      val sim = if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
      if (sim > bestSim) { bestSim = sim; best = c }
    }
    best
  }

  /** Cosine similarity of the embedding column against each centroid, as an
    * array column (centroids become plan literals — a few KB).
    */
  private def centroidSims(emb: Column, centroids: Array[Array[Float]]): Column =
    array(centroids.toIndexedSeq.map(c => CosineSimilarity(emb, typedlit(c.toSeq))): _*)

  /** The centroid vector for a (0-based) cell index column — for computing
    * quantization objectives in plans.
    */
  def centroidOf(centroids: Array[Array[Float]], cell: Column): Column =
    element_at(typedlit(centroids.map(_.toIndexedSeq).toIndexedSeq), cell + 1)

  /** Index of the best cell for each vector (distributed, no UDF). */
  def assignCell(emb: Column, centroids: Array[Array[Float]]): Column = {
    val sims = centroidSims(emb, centroids)
    (array_position(sims, array_max(sims)) - 1).cast("int")
  }

  /** Top-`nProbe` cell indices for a query vector. */
  private def probeCells(emb: Column, centroids: Array[Array[Float]], nProbe: Int): Column = {
    val sims = centroidSims(emb, centroids)
    slice(reverse(array_sort(zip_with(sims,
      sequence(lit(0), lit(centroids.length - 1)),
      (s, i) => struct(s.as("s"), i.as("i"))))), 1, nProbe)
      .getField("i")
  }

  /** Approximate top-k: corpus vectors tagged with their cell; each query
    * explodes its nProbe probe cells (multi-probe) and equi-joins on (cell).
    * `distributedTrain` picks the full-corpus Lloyd (default — the scale
    * path); `false` the bounded driver-sample variant.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4, iters: Int = 3,
              distributedTrain: Boolean = true): DataFrame = {
    val centroids =
      if (distributedTrain) trainCentroidsDistributed(corpus, nCells, iters)
      else trainCentroids(corpus, nCells, iters)
    val c = Dedup.rebalance(corpus.select(col("vec_id"), col("embedding")))
      .withColumn("cell", assignCell(col("embedding"), centroids))
    val q = broadcast(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(probeCells(col("embedding"), centroids, nProbe)).as("cell")))
    val scored = c.join(q, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(CosineSimilarity(col("q_emb"), col("embedding")), 6).as("cos_sim"))
    // (query, vector) pairs are unique by construction — a vector lives in
    // exactly one cell and the probe cells are distinct — so the heap
    // aggregate ranks directly, no pair dedup needed
    Similarity.topKTail(scored, k)
  }
}
