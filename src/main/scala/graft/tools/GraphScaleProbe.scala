package graft.tools

import graft.Harness
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Constant-degree graph-scaling probe (round-8 measurement, not public
  * surface): the contract queries derive their graph by hashing lineitem
  * keys into a FIXED 20011-vertex space, so a 10× data rehearsal
  * densifies the graph (average degree ×10) and the triangle/wedge family
  * legitimately grows superlinearly — the r7 rehearsal measured the dense
  * mode. This probe measures the OTHER growth law, the one a real social /
  * web graph follows at 100 TB: vertex space scaling WITH the data
  * (modulus ~ |edges|), holding average degree constant. Under it every
  * fixed-round graph algorithm here is expected ~linear: per-round
  * shuffles carry O(m) rows and the wedge bound m^1.5 grows linearly when
  * m/n is constant.
  *
  * Usage: runMain graft.tools.GraphScaleProbe <sfDir> <modulus> [reps]
  *   sf0.1  + 20011  = the contract fixture density
  *   sf1.0  + 200003 = 10× edges, 10× vertices, SAME average degree
  */
object GraphScaleProbe {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val m = args(1).toLong
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Harness.session()

    def edges: DataFrame = graft.SparkEntry.hashGraph(spark, d, m)
    def weightedUnd: DataFrame = edges
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct().filter(col("a") =!= col("b"))
      .withColumn("wt",
        pmod(graft.functions.PortableHash.hash60(
          concat(lit("wt_"), col("a"), lit("_"), col("b"))), lit(9L)) + 1L)

    // fixture shape: distinct undirected edges, vertices, avg degree
    val und = edges
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct().filter(col("a") =!= col("b"))
    val nE = und.count()
    val nV = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .distinct().count()
    println(f"[gsp] dir=$d mod=$m edges=$nE vertices=$nV avg_deg=${2.0 * nE / nV}%.2f")

    import graft.sources.{GraphLoader => GL}
    val queries: Seq[(String, () => DataFrame)] = Seq(
      "triangle_count" -> (() => GL.triangleCount(edges)),
      "clustering_coeff" -> (() => GL.clusteringCoefficient(edges)),
      "pagerank" -> (() => GL.pageRankPortable(edges, iters = 3)),
      "kcore" -> (() => GL.kCore(edges, k = 3, rounds = 8)),
      "ktruss" -> (() => GL.kTruss(edges, k = 4, rounds = 6)),
      "bfs_levels" -> (() => GL.bfsLevels(edges, rounds = 6)),
      "sssp" -> (() => GL.sssp(weightedUnd, rounds = 8)),
      "label_propagation" -> (() => GL.labelPropagation(edges, rounds = 4)),
      "neighbor_jaccard" -> (() => GL.neighborJaccard(edges)))

    // JIT warm (cheapest two fixed-round ops touch most codegen paths)
    Seq("pagerank", "bfs_levels").foreach { n =>
      Harness.release(spark)
      Harness.noop(queries.toMap.apply(n)())
    }
    val results = queries.map { case (name, fn) =>
      val ts = (1 to reps).map { _ =>
        Harness.release(spark)
        System.gc()
        val t0 = System.nanoTime()
        Harness.noop(fn())
        (System.nanoTime() - t0) / 1e9
      }
      val med = Harness.median(ts)
      println(f"[gsp] $name%-20s $med%8.2f s  (reps=$reps)")
      name -> med
    }
    println("[gsp] " + results.map { case (k, v) => f""""$k":$v%.2f""" }
      .mkString("{", ",", "}"))
    spark.stop()
  }
}
