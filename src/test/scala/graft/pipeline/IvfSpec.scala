package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** IVF ANN: exactness of scores, cell coverage, and recall vs brute force
  * on the real sf0.001 embeddings.
  */
class IvfSpec extends AnyFunSuite {
  import TestSpark._
  private val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").cache()

  test("every corpus vector is assigned exactly one valid cell") {
    val cents = IvfFloat.trainCentroids(emb, k = 8)
    assert(cents.length == 8 && cents.forall(_.length == 64))
    val cells = emb.withColumn("cell", IvfFloat.assignCell(col("embedding"), cents))
    val stats = cells.agg(count(lit(1)), min(col("cell")), max(col("cell")),
      countDistinct(col("cell"))).collect().head
    assert(stats.getLong(0) == emb.count())
    assert(stats.getInt(1) >= 0 && stats.getInt(2) < 8)
    assert(stats.getLong(3) > 1, "k-means collapsed to a single cell")
  }

  test("portable IVF: deterministic re-run, exact scores, valid cells") {
    val queries = emb.filter(col("vec_id") < 10)
    val run1 = Ivf.ivfTopKPortable(emb, queries, 5, nCells = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted
    val run2 = Ivf.ivfTopKPortable(emb, queries, 5, nCells = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted
    assert(run1.nonEmpty && run1.sameElements(run2),
      "portable training must be re-run deterministic — it is the oracle contract")
    // scores are the exact brute-force cosines for every returned pair
    val bruteAll = Similarity.bruteForceTopK(emb, queries, 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    run1.foreach { case (q, v, s, _) => assert(bruteAll((q, v)) == s, s"score mismatch ($q,$v)") }
    // integer-sum centroids: every component is an exact integer
    val cents = Ivf.trainCentroidsPortable(emb, k = 8, iters = 2)
    assert(cents.length == 8 && cents.forall(_.forall(x => x == math.rint(x))),
      "portable centroids must be exact integer sums")
  }

  test("pq codes: in-memory single-round spherical Lloyd replay matches per subspace") {
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    val (m, subDim, k) = (4, 16, 8)
    def q(v: Array[Float]): Array[Double] =
      v.map(x => math.floor(x.toDouble * 1000.0 + 0.5))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def assign(sv: Array[Double], cents: Array[Array[Double]]): Int = {
      val sims = cents.map(c => cos(sv, c))
      sims.indexOf(sims.max) // first max = lowest code on ties
    }
    val expect = (0 until m).map { j =>
      val subs = vecs.map { case (id, v) => id -> q(v).slice(j * subDim, (j + 1) * subDim) }
      val seeds = subs.take(k).map(_._2)
      val byCode = subs.groupBy { case (_, sv) => assign(sv, seeds) }
      val cents = seeds.indices.map { c =>
        byCode.get(c) match {
          case Some(members) =>
            val s = new Array[Double](subDim)
            members.foreach { case (_, sv) => for (i <- 0 until subDim) s(i) += sv(i) }
            s
          case None => seeds(c)
        }
      }.toArray
      subs.map { case (id, sv) => id -> assign(sv, cents).toLong }.toMap
    }
    val got = Ivf.pqCodesPortable(emb, m, subDim, k).collect()
      .map(r => r.getLong(0) -> (1 to m).map(r.getLong).toSeq).toMap
    graft.pipeline.InternalCaches.release()
    assert(got.size == vecs.length)
    for ((id, codes) <- got; j <- 0 until m)
      assert(codes(j) == expect(j)(id), s"vec $id subspace $j: ${codes(j)} vs ${expect(j)(id)}")
  }

  test("ivf top-k scores are exact for returned pairs; recall reasonable") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bruteAll = Similarity.bruteForceTopK(emb, queries, 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = IvfFloat.ivfTopK(emb, queries, 5, nCells = 8, nProbe = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(ivf.nonEmpty)
    // scores must agree exactly with brute force for any returned pair
    ivf.foreach { case (pair, s) => assert(bruteAll(pair) == s, s"score mismatch $pair") }
    // probing 3/8 cells should still recover a decent share of true top-5
    val recall = ivf.count { case (pair, _) => brute.contains(pair) }.toDouble /
      brute.size
    assert(recall >= 0.3, s"recall $recall too low")
  }
}
