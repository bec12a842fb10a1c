package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.lara.{LaraSchema, LaraTable, PlusFn, TimesFn, ValSpec}

/** Graph500/D4M-style loader + Lara matrix ops on a small known graph. */
class GraphLoaderSpec extends AnyFunSuite {
  import TestSpark._

  // edges: 0→1, 1→2, 0→2, 2→0 (plus a duplicate 0→1 to test ⊕ on load)
  private def fixture(): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graph")
    java.nio.file.Files.write(dir.resolve("Ar.txt"), "0,1,0,2,0\n".getBytes)
    java.nio.file.Files.write(dir.resolve("Ac.txt"), "1,2,2,0,1\n".getBytes)
    (dir.resolve("Ar.txt").toString, dir.resolve("Ac.txt").toString)
  }

  test("index files load into an aggregated adjacency table") {
    val (r, c) = fixture()
    val adj = GraphLoaderSpec.loadIndexFiles(spark, r, c)
    assert(rowSet(adj.df) == Set(
      Seq[Any](0L, 1L, 2), // duplicate edge summed
      Seq[Any](1L, 2L, 1), Seq[Any](0L, 2L, 1), Seq[Any](2L, 0L, 1)))
  }

  test("out-degrees via Lara agg") {
    val (r, c) = fixture()
    val deg = GraphLoaderSpec.loadIndexFiles(spark, r, c)
      .agg(Seq("row"), Map("v" -> PlusFn(0, c => sum(c).cast("int"), _ + _)))
    assert(rowSet(deg.df) == Set(Seq[Any](0L, 3), Seq[Any](1L, 1), Seq[Any](2L, 1)))
  }

  test("pageRankPortable matches an exact in-memory integer-mass iteration") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val es = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 4L), (5L, 6L), (6L, 5L))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val iters = 3
    val got = GraphLoader.pageRankPortable(d, iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // exact replica: all-integer floor-division contributions
    val vs = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val out = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var mass = vs.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val in = es.groupBy(_._2).view
        .mapValues(_.map(e => (mass(e._1) * 85L) / (100L * out(e._1))).sum).toMap
      mass = vs.map(v => v -> (150000L + in.getOrElse(v, 0L))).toMap
    }
    assert(got == mass, s"got $got want $mass")
    // deterministic re-run — the oracle contract
    val again = GraphLoader.pageRankPortable(d, iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("pageRankPersonalized: mass flows only from seeds; unreachable = exact 0") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // seeds under seedMod=17: 0 and 17. 3↔4 is a component with no seed —
    // its vertices must come back with EXACT mass 0 (never teleport mass).
    val es = Seq((0L, 1L), (1L, 2L), (17L, 1L), (2L, 17L), (2L, 5L), (3L, 4L), (4L, 3L))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val iters = 3
    val got = GraphLoader.pageRankPersonalized(d, iters, seedMod = 17L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // exact replica: integer floor-division contributions, base only on seeds
    val vs = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val seeds = vs.filter(_ % 17 == 0).toSet
    val out = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var mass = vs.map(v => v -> (if (seeds(v)) 1000000L else 0L)).toMap
    for (_ <- 1 to iters) {
      val in = es.groupBy(_._2).view
        .mapValues(_.map(e => (mass(e._1) * 85L) / (100L * out(e._1))).sum).toMap
      mass = vs.map(v => v -> ((if (seeds(v)) 150000L else 0L) + in.getOrElse(v, 0L))).toMap
    }
    assert(got == mass, s"got $got want $mass")
    assert(got(3L) == 0L && got(4L) == 0L) // seedless component: exact zero
    assert(got.keySet == vs.toSet) // total function over the vertex set
  }

  test("two-hop path counts = A·A via Join∘Agg (TableMult analog)") {
    val (r, c) = fixture()
    val adj = GraphLoaderSpec.loadIndexFiles(spark, r, c)
    // A keyed (col, row) ⋈ A' keyed (col, col2): join on the shared middle
    // dimension with ⊗=×, aggregate it away with ⊕=+ (Graphulo `TableMult`,
    // `sensor/SensorCalc.kt:678-741`); ZeroDiscard keeps the product sparse
    val left = adj.sortKeys(Seq("col", "row")).rename(Map("col" -> "mid"))
    val right = adj.rename(Map("row" -> "mid", "col" -> "col2"))
    val hops = left.join(right, Map("v" -> TimesFn(0, 0, 0, _ * _)), zeroDiscard = true)
      .sortKeys(Seq("row", "col2", "mid"))
      .agg(Seq("row", "col2"), Map("v" -> PlusFn(0, c => sum(c).cast("int"), _ + _)))
    // A[0,1]=2: paths 0→1→2 count 2; 0→2→0 = 1; 1→2→0 = 1; 2→0→{1×2, 2}
    assert(rowSet(hops.df) == Set(
      Seq[Any](0L, 2L, 2), Seq[Any](0L, 0L, 1), Seq[Any](1L, 0L, 1),
      Seq[Any](2L, 1L, 2), Seq[Any](2L, 2L, 1)))
  }

  test("kCore: cascade peels the pendant path, keeps the triangle; dups/direction ignored") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // triangle 1-2-3 with pendant path 3-4-5; a duplicate and a reversed
    // edge must not inflate degrees
    val es = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (1L, 2L))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val got = GraphLoader.kCore(d, k = 2, rounds = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 5 (deg 1) peels first, THEN 4 — the cascade needs two rounds
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $got")
  }

  test("kCore: fixed round budget is the contract — partial peel at rounds=1, empty at fixpoint") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // path 1-2-3-4-5: 2-core is empty, but peeling takes several rounds
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val one = GraphLoader.kCore(d, k = 2, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exactly ONE peel round: endpoints gone, interior degrees re-induced
    assert(one == Map(2L -> 1L, 3L -> 2L, 4L -> 1L), s"got $one")
    assert(GraphLoader.kCore(d, k = 2, rounds = 8).collect().isEmpty)
  }

  test("bfsLevels: hop distances from the min vertex; round budget truncates the frontier") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // 1-2-3-4-5 path plus shortcut 1-3 (dist(3)=1, dist(4)=2, dist(5)=3);
    // 7-8 is a separate component — never reached from min vertex 1
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L), (7L, 8L))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val got = GraphLoader.bfsLevels(d, rounds = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L), s"got $got")
    // rounds=1: only direct neighbors discovered
    val one = GraphLoader.bfsLevels(d, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 0L, 2L -> 1L, 3L -> 1L), s"got $one")
  }

  test("hopPlot: with every vertex a seed, counts equal all-pairs BFS distances") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // path 1-2-3-4 + shortcut 1-3; component {7,8}
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (7L, 8L))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val got = GraphLoader.hopPlot(d, rounds = 3, seedMod = 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force all-pairs BFS, capped at 3 hops
    val adj = es.flatMap(e => Seq(e, e.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    def bfs(s: Long): Map[Long, Long] = {
      var dist = Map(s -> 0L); var frontier = Set(s)
      for (h <- 1L to 3L) {
        frontier = frontier.flatMap(v => adj.getOrElse(v, Set.empty)).filterNot(dist.contains)
        dist ++= frontier.map(_ -> h)
      }
      dist
    }
    val want = Seq(1L, 2L, 3L, 4L, 7L, 8L).flatMap(s => bfs(s).values)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == want, s"got $got want $want")
  }

  test("seedDistances: per-vertex histogram equals all-pairs BFS first-reach counts") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // same fixture as hopPlot: path 1-2-3-4 + shortcut 1-3; component {7,8}
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (7L, 8L))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val got = GraphLoader.seedDistances(d, rounds = 3, seedMod = 1L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val adj = es.flatMap(e => Seq(e, e.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    def bfs(s: Long): Map[Long, Long] = {
      var dist = Map(s -> 0L); var frontier = Set(s)
      for (h <- 1L to 3L) {
        frontier = frontier.flatMap(v => adj.getOrElse(v, Set.empty)).filterNot(dist.contains)
        dist ++= frontier.map(_ -> h)
      }
      dist
    }
    val verts = Seq(1L, 2L, 3L, 4L, 7L, 8L)
    val expect = verts.map { v =>
      val ds = verts.filter(_ != v).flatMap(s => bfs(s).get(v))
      v -> ((ds.count(_ == 1L).toLong, ds.count(_ == 2L).toLong, ds.count(_ == 3L).toLong))
    }.filter(p => p._2._1 + p._2._2 + p._2._3 > 0).toMap
    assert(got == expect, s"got $got want $expect")
  }

  test("pathCounts: sigma equals hand-counted shortest paths (diamond + tail)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // diamond 1-{2,3}-4 plus tail 4-5: two shortest 1→4 paths, both reach 5
    val es = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    // seedMod = 1 → every vertex is a seed
    val got = GraphLoader.pathCounts(d, rounds = 3, seedMod = 1L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // brute force per seed: BFS with path counting
    val adj = es.flatMap(e => Seq(e, e.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val verts = Seq(1L, 2L, 3L, 4L, 5L)
    def sigma(s: Long): Map[Long, (Long, Long)] = { // v -> (dist, sigma)
      var res = Map(s -> (0L, 1L))
      var frontier = Map(s -> 1L)
      for (h <- 1L to 3L) {
        val props = frontier.toSeq.flatMap { case (u, sg) => adj(u).map(_ -> sg) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum)
          .filter { case (v, _) => !res.contains(v) }.toMap
        res ++= props.map { case (v, sg) => v -> (h, sg) }
        frontier = props
      }
      res
    }
    val all = verts.flatMap(s => sigma(s).map { case (v, (dd, sg)) => (s, v, dd, sg) })
    val expect = all.groupBy(_._2).map { case (v, rows) =>
      v -> ((rows.size.toLong, rows.map(_._3).min, rows.map(_._4).sum))
    }
    assert(got == expect, s"got $got want $expect")
    // spot-check the diamond: 4 has two shortest paths from 1
    assert(all.find(r => r._1 == 1L && r._2 == 4L).get._4 == 2L)
    assert(all.find(r => r._1 == 1L && r._2 == 5L).get._4 == 2L)
  }

  test("sssp: weighted relaxation prefers the lighter multi-hop path") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // 1→5 direct costs 9; 1→2→3→5 costs 1+1+1 = 3; 1→4 costs 7
    val st = new StructType().add("a", LongType).add("b", LongType).add("wt", LongType)
    val d = df(st, Seq(Row(1L, 5L, 9L), Row(1L, 2L, 1L), Row(2L, 3L, 1L),
      Row(3L, 5L, 1L), Row(1L, 4L, 7L)))
    val got = GraphLoader.sssp(d, rounds = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 5L -> 3L, 4L -> 7L), s"got $got")
    // one round only: the direct heavy edge wins before relaxation
    val one = GraphLoader.sssp(d, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one(5L) == 9L && one(2L) == 1L, s"got $one")
  }

  test("labelPropagation: two cliques with one bridge resolve to per-clique labels") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // clique {1,2,3,4} and clique {10,11,12,13}, bridged by 4-10: the
    // frequency vote keeps each clique on its own min label — min-label
    // propagation (connectedComponents) would merge everything to 1
    def clique(vs: Seq[Long]) = for (a <- vs; b <- vs if a < b) yield (a, b)
    val es = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) :+ (4L, 10L)
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val got = GraphLoader.labelPropagation(d, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.filter(_._1 <= 4L).values.toSet == Set(1L), s"got $got")
    assert(got.filter(_._1 >= 10L).values.toSet == Set(10L), s"got $got")
  }

  test("labelPropagation matches an in-memory frequency-vote replay on a random graph") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(11)
    val es = Seq.fill(120)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2)
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val rounds = 3
    // in-memory reference: identical synchronous rounds, max-frequency
    // label among neighbors, min label on ties
    val und = es.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl: Map[Long, Long] = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lbl = adj.map { case (v, ns) =>
        val freq = ns.map(lbl).groupBy(identity).view.mapValues(_.size).toMap
        val mc = freq.values.max
        v -> freq.filter(_._2 == mc).keys.min
      }
    }
    val got = GraphLoader.labelPropagation(d, rounds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == lbl, s"got $got\nexpected $lbl")
  }

  test("neighborJaccard: common/degree counts equal the brute-force neighborhood sets") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(7)
    val es = Seq.fill(120)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val und = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct
    val nbrs = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = und.map { case (a, b) =>
      (a, b) -> (((nbrs(a) & nbrs(b)).size.toLong, nbrs(a).size.toLong, nbrs(b).size.toLong))
    }.toMap
    val got = GraphLoader.neighborJaccard(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    graft.pipeline.InternalCaches.release()
    assert(got == expect, "per-edge counts disagree with brute force")
  }

  test("clusteringCoefficient: per-vertex triangle/degree components equal brute force") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(11)
    // duplicates and self-loops in the input must not change the result
    val es = Seq.fill(140)((rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val und = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct
    val nbrs = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = nbrs.map { case (v, nv) =>
      val tri = nv.toSeq.combinations(2).count { case Seq(x, y) => nbrs(x)(y) }
      v -> ((nv.size.toLong, tri.toLong, nv.size.toLong * (nv.size - 1)))
    }
    val got = GraphLoader.clusteringCoefficient(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    graft.pipeline.InternalCaches.release()
    assert(got == expect, "per-vertex clustering components disagree with brute force")
  }

  test("negativeEdges: probes replayed in memory; no real edges, no self, no phantoms") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (5L, 1L))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val k = 3; val modulus = 7L // small modulus → probes often collide with reality
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.map("%02x".format(_)).mkString.take(15), 16)
    }
    val und = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct.toSet
    val verts = und.flatMap { case (a, b) => Seq(a, b) }
    val expect = (for {
      v <- verts; j <- 1 to k
      neg = java.lang.Math.floorMod(h60(s"neg_${v}_$j"), modulus)
      if neg != v && verts(neg) && !und((math.min(v, neg), math.max(v, neg)))
    } yield (v, neg, j.toLong)).toSet
    val got = GraphLoader.negativeEdges(d, k, modulus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
  }

  test("hitsPortable matches an in-memory integer-mass replay") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val es = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L), (3L, 1L),
      (1L, 3L), (0L, 1L), (4L, 4L)) // dup edge + self-loop must be dropped
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val scale = 1000000L; val iters = 3
    val ded = es.map(e => (e._1, e._2)).filter(e => e._1 != e._2).distinct
    val nodes = ded.flatMap(e => Seq(e._1, e._2)).distinct
    var hub = nodes.map(_ -> scale).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val ra = ded.groupBy(_._2).view
        .mapValues(_.map(e => hub.getOrElse(e._1, 0L)).sum).toMap
      val ta = math.max(ra.values.sum, 1L)
      auth = ra.view.mapValues(r => r * scale / ta).toMap
      val rh = ded.groupBy(_._1).view
        .mapValues(_.map(e => auth.getOrElse(e._2, 0L)).sum).toMap
      val th = math.max(rh.values.sum, 1L)
      hub = rh.view.mapValues(r => r * scale / th).toMap
    }
    val expect = nodes.map(v =>
      v -> ((hub.getOrElse(v, 0L), auth.getOrElse(v, 0L)))).toMap
    val got = GraphLoader.hitsPortable(d, iters, scale).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect, s"got $got expect $expect")
  }

  test("kTruss: fixpoint edge set and supports equal the brute-force peel") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(17)
    val es = Seq.fill(150)((rnd.nextInt(13).toLong, rnd.nextInt(13).toLong))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val k = 4
    // brute-force peel to the true fixpoint
    var cur = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct.toSet
    var stable = false
    var sup = Map.empty[(Long, Long), Long]
    while (!stable) {
      val nbrs = cur.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      sup = cur.map { case (a, b) => (a, b) -> (nbrs(a) & nbrs(b)).size.toLong }.toMap
      val next = cur.filter(e => sup(e) >= k - 2)
      stable = next == cur
      cur = next
    }
    val got = GraphLoader.kTruss(d, k = k, rounds = 30).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet == cur, s"missing=${cur -- got.keySet} extra=${got.keySet -- cur}")
    got.foreach { case (e, s) => assert(s == sup(e), s"support of $e") }
  }

  test("degreeAssortativity: one-row sums equal the brute-force ordered-pair fold") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(13)
    val es = Seq.fill(100)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val und = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct
    val deg = und.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pairs = und.flatMap { case (a, b) => Seq((deg(a), deg(b)), (deg(b), deg(a))) }
    val expect = (pairs.size.toLong, pairs.map(_._1).sum,
      pairs.map(p => p._1 * p._2).sum, pairs.map(p => p._1 * p._1).sum)
    val r = GraphLoader.degreeAssortativity(d).collect().head
    graft.pipeline.InternalCaches.release()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == expect,
      "assortativity sums disagree with brute force")
  }

  // --- r12 optimization-round pins: the frontier/delta rewrites of the
  // monotone iterative operators must be FIXPOINT-STABLE — a round budget
  // far past the graph's convergence returns byte-identical results to the
  // budget that exactly reaches it (the early-exit contract), and
  // seedDistances' fixed h1..h<rounds> schema keeps exact-0 columns for the
  // budgeted-but-unreachable rounds. ---
  test("frontier rewrites: rounds past the fixpoint are the identity (early exit)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // diamond + tail: diameter 3 from vertex 1; separate component {7,8}
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (7L, 8L))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    def m(rows: Array[Row]) = rows.map(_.toSeq).toSet
    assert(m(GraphLoader.bfsLevels(d, rounds = 3).collect()) ==
           m(GraphLoader.bfsLevels(d, rounds = 12).collect()))
    assert(m(GraphLoader.hopPlot(d, rounds = 3, seedMod = 1L).collect()) ==
           m(GraphLoader.hopPlot(d, rounds = 12, seedMod = 1L).collect()))
    // sssp: weighted fixture where the light 3-hop path must beat the
    // heavy 1-hop edge, then a budget far past convergence
    val wst = new StructType().add("a", LongType).add("b", LongType).add("wt", LongType)
    val wd = df(wst, Seq(Row(1L, 4L, 10L), Row(1L, 2L, 1L), Row(2L, 3L, 1L), Row(3L, 4L, 1L)))
    val s3 = m(GraphLoader.sssp(wd, rounds = 3).collect())
    assert(s3 == m(GraphLoader.sssp(wd, rounds = 16).collect()))
    assert(s3.contains(Seq[Any](4L, 3L)), s"light multi-hop path must win: $s3")
  }

  test("seedDistances: budget past the fixpoint fills exact-0 columns, same rows") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (7L, 8L))
    val st = new StructType().add("src", LongType).add("dst", LongType)
    val d = df(st, es.map(e => Row(e._1, e._2)))
    val wide = GraphLoader.seedDistances(d, rounds = 6, seedMod = 1L)
    assert(wide.columns.toSeq == Seq("vertex", "h1", "h2", "h3", "h4", "h5", "h6"))
    val w = wide.collect().map(r => r.getLong(0) -> (1 to 6).map(r.getLong)).toMap
    val n = GraphLoader.seedDistances(d, rounds = 3, seedMod = 1L).collect()
      .map(r => r.getLong(0) -> (1 to 3).map(r.getLong)).toMap
    assert(w.keySet == n.keySet)
    for ((v, h) <- w) {
      assert(h.take(3) == n(v), s"h1..h3 must match the exact-budget run for $v")
      assert(h.drop(3).forall(_ == 0L), s"h4..h6 must be exact zeros for $v")
    }
  }

  test("rebalance: spreads a single-file scan without changing the row multiset") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val before = docs.groupBy().count().collect()(0).getLong(0)
    val r = graft.pipeline.Dedup.rebalance(docs)
    assert(r.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      "single-file scan must spread to defaultParallelism partitions")
    assert(r.groupBy().count().collect()(0).getLong(0) == before)
    assert(r.select("doc_id").distinct().count() == before, "ids preserved")
  }
}

object GraphLoaderSpec {
  /** Parses the reference's two single-line Graph500 index files
    * (`10Ar.txt`/`10Ac.txt`: comma-separated row and column indices of a
    * sparse matrix) into an adjacency table; values sum multi-edges (the
    * D4M convention).
    */
  def loadIndexFiles(spark: SparkSession, rowFile: String, colFile: String): LaraTable = {
    def indices(path: String, name: String): DataFrame =
      spark.read.text(path).limit(1)
        .select(posexplode(split(trim(col("value")), ",")))
        .select(col("pos"), col("col").cast("long").as(name))
    val edges = indices(rowFile, "row").join(indices(colFile, "col"), "pos")
      .groupBy(col("row"), col("col")).agg(count(lit(1)).cast("int").as("v"))
    LaraTable(edges, LaraSchema(Seq("row", "col"), Seq(ValSpec("v", IntegerType, 0))))
  }
}
