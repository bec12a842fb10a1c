package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.storage.StorageLevel
import graft.pipeline.{InternalCaches, Loops}
import graft.pipeline.Loops.Round

/** Graph operators over edge frames — triangles, k-core, k-truss, BFS
  * levels, PageRank, HITS, label propagation and the rest — each a
  * Catalyst plan or a [[graft.pipeline.Loops.fixpoint]] round loop, most
  * with a generated DuckDB oracle beside it.
  */
object GraphLoader {

  /** Triangle counting via degree-ordered edge orientation — the standard
    * bounded-fan-out formulation: each undirected edge is directed from its
    * lower-(degree, id) endpoint to the higher, which caps every vertex's
    * out-degree at O(√m); wedges are then a self-join of the oriented list
    * on the source, closed against the canonical undirected edge set. Every
    * triangle is counted exactly once (at its lowest-degree corner), every
    * shuffle carries only id/degree longs, and the wedge fan-out Σ outdeg²
    * is O(m^1.5) worst-case instead of the unoriented Σ deg² (quadratic in
    * the max degree — fatal on power-law graphs at 100 TB).
    *
    * Output: (vertex, n_triangles) grouped by each triangle's MINIMUM
    * vertex id — a deterministic assignment the SQL oracle reproduces with
    * a plain a<b<c three-way join, independent of the degree orientation
    * used for efficiency.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val (_, _, tri) = orientedTriangles(edges)
    tri.select(least(col("u"), col("v")).as("vertex")) // min id: u vs v<w
      .groupBy(col("vertex")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Doubled adjacency (v, w) ∪ (w, v) from canonical undirected edges in
    * ONE pass: an explode of the two orientations per row. The naive
    * `und.select(a,b).union(und.select(b,a))` reads `und` twice — and when
    * `und` is an uncached plan over an expensive derivation (the md5 hash
    * fixtures) plus a distinct, each read repeats the scan AND the
    * shuffle.
    */
  private def bothDirections(und: DataFrame, carry: String*): DataFrame = und
    .select(explode(array(
      struct(col("a").as("v") +: col("b").as("w") +: carry.map(col): _*),
      struct(col("b").as("v") +: col("a").as("w") +: carry.map(col): _*))).as("e"))
    .select(col("e.v").as("v") +: col("e.w").as("w") +: carry.map(c => col(s"e.$c").as(c)): _*)

  /** Canonical undirected edges (a < b) of a (src, dst) frame: direction,
    * multi-edges and self-loops dropped. The self-loop filter runs AFTER
    * distinct, on attributes: filtering the projection would push a
    * predicate below it that re-evaluates the caller's src/dst expressions
    * once more per comparison side.
    */
  private def canonical(edges: DataFrame): DataFrame =
    undirectedPairs(edges).distinct().filter(col("a") =!= col("b"))

  /** `(a, b)` = (least, greatest) endpoint of every edge, duplicates and
    * self-loops kept.
    */
  private def undirectedPairs(edges: DataFrame): DataFrame = edges
    .select(least(col("src"), col("dst")).cast("long").as("a"),
      greatest(col("src"), col("dst")).cast("long").as("b"))

  /** The loop adjacency: [[bothDirections]] of canonical edges (plus any
    * `carry` columns), partitioned on v and checkpointed once, reused by
    * every round.
    */
  private def adjacency(und: DataFrame, carry: String*): DataFrame =
    bothDirections(und, carry: _*).repartition(col("v")).localCheckpoint(true)

  /** Deduped directed edges `ed(s, t)` without self-loops, persisted and
    * partitioned on s, plus their checkpointed vertex set `nodes(v)`. ONE
    * shuffle, not two: repartition on s first, THEN dedup —
    * HashPartitioning(s) already clusters every (s,t) group, so the
    * dropDuplicates aggregation plans no exchange of its own. s is also the
    * key every round's mass join probes; only the (small) mass side moves
    * per round.
    */
  private def directed(edges: DataFrame): (DataFrame, DataFrame) = {
    val ed = edges.select(col("src").cast("long").as("s"), col("dst").cast("long").as("t"))
      .filter(col("s") =!= col("t"))
      .repartition(col("s")).dropDuplicates(Seq("s", "t")).persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = ed.select(col("s").as("v")).union(ed.select(col("t").as("v")))
      .distinct().localCheckpoint(true)
    (ed, nodes)
  }

  /** Vertex degrees `(id, deg)` of canonical undirected edges. */
  private def degrees(und: DataFrame): DataFrame =
    und.select(col("a").as("id")).union(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))

  /** Degree orientation of canonical edges carrying their endpoint degrees
    * (da, db): each edge points from its lower-(degree, id) endpoint `u`
    * to `v`, which caps every vertex's out-degree at O(√m).
    */
  private def orient(withDeg: DataFrame): DataFrame = {
    val fromA = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    withDeg.select(when(fromA, col("a")).otherwise(col("b")).as("u"),
      when(fromA, col("b")).otherwise(col("a")).as("v"))
  }

  /** Every triangle once as (u, v, w): wedges of the oriented list (u the
    * source, v < w its out-pair), closed against the canonical edges.
    */
  private def triangles(oriented: DataFrame, und: DataFrame): DataFrame = {
    val wedges = oriented.join(oriented.select(col("u"), col("v").as("w")), Seq("u"))
      .filter(col("v") < col("w")) // each unordered out-pair once; (v,w) canonical
    wedges.join(und, wedges("v") === und("a") && wedges("w") === und("b"))
      .select(col("u"), col("v"), col("w"))
  }

  /** The three canonical edges (a < b) of every (u, v, w) triangle in ONE
    * pass — an explode, NOT a three-branch union: a union of three selects
    * of the same LAZY triangle frame evaluates the whole wedge-join
    * machinery three times (measured: the dominant cost of
    * clustering_coeff / neighbor_jaccard / each kTruss round before this).
    * v < w is canonical by construction; (u,v) and (u,w) need least/greatest.
    */
  private def triangleEdges(tri: DataFrame): DataFrame = tri
    .select(explode(array(
      struct(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b")),
      struct(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b")),
      struct(col("v").as("a"), col("w").as("b")))).as("e"))
    .select(col("e.a").as("a"), col("e.b").as("b"))

  /** The three corners of every triangle in one pass (same explode
    * rationale as [[triangleEdges]]).
    */
  private def triangleCorners(tri: DataFrame): DataFrame = tri
    .select(explode(array(col("u"), col("v"), col("w"))).as("id"))

  /** Shared machinery of the degree-oriented triangle family
    * ([[triangleCount]], [[neighborJaccard]], [[clusteringCoefficient]],
    * [[degreeAssortativity]]): returns (und, deg, tri) — the canonical
    * undirected edge cache, the vertex-degree frame, and the (u, v, w)
    * triangle frame (u the orientation source, v < w its closing pair;
    * every triangle appears exactly once). All frames are LAZY plans —
    * callers that never evaluate `tri` (assortativity) pay nothing for it.
    *
    * The und/oriented caches are registered with InternalCaches
    * (caller-clears contract). NOTE for callers deriving src/dst with
    * expensive per-row expressions over a few source files: apply
    * Dedup.rebalance to the RAW scan before the derivation, or one task
    * computes every edge (the projection stays below whatever exchange
    * follows it).
    */
  private def orientedTriangles(edges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // consumed by degrees, orientation and the closing join
    val und = InternalCaches.register(canonical(edges).persist(StorageLevel.MEMORY_AND_DISK))
    val deg = degrees(und)
    val oriented = InternalCaches.register(orient(und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b")))
      // pre-partitioned on the wedge self-join key: both join children read
      // the SAME cached partitioning, so the self-join plans zero exchanges
      // (the Components edge-cache trick) — without this the oriented list
      // shuffles twice on u before fanning out
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)) // both wedge sides; released via InternalCaches
    (und, deg, triangles(oriented, und))
  }

  /** Per-vertex local clustering readout: each vertex's incident-triangle
    * count next to its degree, as the EXACT integer components of the local
    * clustering coefficient — C(v) = 2·n_triangles / possible_pairs with
    * possible_pairs = deg·(deg−1); the client does the one division, so the
    * contract is fp-free. Each (u, v, w) triangle from the O(m^1.5)
    * degree-oriented machinery fans out to its three corners (id longs
    * only); vertices in no triangle are kept via the left join.
    *
    * Scale: the fan-out is 3 rows per triangle (triangle-bounded, not
    * corpus-bounded); deg is vertex-sized and meets the per-vertex counts
    * in one aggregate-sized join.
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val (_, deg, tri) = orientedTriangles(edges)
    val perVertex = triangleCorners(tri)
      .groupBy(col("id")).agg(count(lit(1)).as("tri"))
    deg.join(perVertex, Seq("id"), "left")
      .select(col("id").as("vertex"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"),
        (col("deg") * (col("deg") - lit(1L))).as("possible_pairs"))
  }

  /** Degree assortativity components — the Pearson correlation of endpoint
    * degrees over ORDERED edge endpoint pairs (each undirected edge
    * contributes (da, db) and (db, da), the standard Newman convention), as
    * one row of exact BIGINT sums: n_pairs = 2m, sum_deg = Σ(da+db),
    * sum_prod = 2·Σ(da·db), sum_sq = Σ(da²+db²). By symmetry Σx = Σy =
    * sum_deg and Σx² = Σy² = sum_sq, so r = (n·sum_prod − sum_deg²) /
    * (n·sum_sq − sum_deg²) — one client-side division, engine-portable.
    *
    * Scale: deg is vertex-sized → broadcast into both endpoint roles; the
    * edge frame never shuffles for the lookups and the final aggregate is
    * map-side combined to one row. Triangles are never evaluated.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val (und, deg, _) = orientedTriangles(edges)
    und
      .join(broadcast(deg.select(col("id").as("a"), col("deg").as("deg_a"))), Seq("a"))
      .join(broadcast(deg.select(col("id").as("b"), col("deg").as("deg_b"))), Seq("b"))
      .agg((count(lit(1)) * lit(2L)).as("n_pairs"),
        sum(col("deg_a") + col("deg_b")).as("sum_deg"),
        (sum(col("deg_a") * col("deg_b")) * lit(2L)).as("sum_prod"),
        sum(col("deg_a") * col("deg_a") + col("deg_b") * col("deg_b")).as("sum_sq"))
  }

  /** PORTABLE (oracle-checkable) PageRank: rank carried as INTEGER MASS.
    * Each of the fixed `iters` rounds every vertex receives
    * `base + Σ_{(u,v)∈E} (mass(u)·dampNum) div (dampDen·outdeg(u))`
    * — all BIGINT arithmetic (floor division, associative integer sums),
    * so Spark's distributed aggregation and the DuckDB oracle's unrolled
    * CTE chain agree exactly, bit for bit, with no floating point anywhere.
    * The floor loses ≤1 mass unit per edge per round — with init=10^6 a
    * relative error ≤ ~10^-4 vs real-valued PageRank, invisible to ranking
    * use and a price worth paying for a driver-verifiable contract.
    *
    * Edges pre-partitioned on the probe key and persisted once, one join +
    * one aggregation per round ([[rankMass]]). Returns (vertex, rank_mass).
    */
  def pageRankPortable(edges: DataFrame, iters: Int = 3,
                       dampNum: Long = 85L, dampDen: Long = 100L,
                       base: Long = 150000L, init: Long = 1000000L): DataFrame = {
    val (ed, nodes) = directed(edges)
    val (mass, cuts) = rankMass(ed, nodes.select(col("v"), lit(init).as("m")),
      nodes.select(col("v"), lit(base).as("c")), iters, dampNum, dampDen)
    val out = mass.select(col("v").as("vertex"), col("m").as("rank_mass"))
      .localCheckpoint(true) // materialize before releasing the edge cache
    cuts.foreach(_.unpersist())
    ed.unpersist()
    out
  }

  /** The integer-mass rounds shared by [[pageRankPortable]] and
    * [[pageRankPersonalized]]: `iters` fixed rounds of
    * mass(v) = base(v) + Σ_{(u,v)∈ed} (mass(u)·dampNum) div (dampDen·outdeg(u)),
    * where `baseRows(v, c)` holds the per-vertex base mass. Returns the
    * last mass frame (lazy) and the checkpoints cut along the way, which
    * the caller releases once the result is materialized.
    */
  private def rankMass(ed: DataFrame, init: DataFrame, baseRows: DataFrame, iters: Int,
                       dampNum: Long, dampDen: Long): (DataFrame, Seq[DataFrame]) = {
    val od = ed.groupBy(col("s")).agg(count(lit(1)).as("deg")).localCheckpoint(true)
    // AQE stays on: a round only builds a lazy plan; the periodic cut is
    // the one job a round may run
    Loops.fixpoint(ed.sparkSession, Round((init, Vector.empty[DataFrame]), progress = true),
        iters, aqeOff = false) { case ((mass, cuts), i) =>
      // ed ⋈ od re-plans per round but od is broadcast-sized — measured:
      // hoisting it into its own persisted frame cost MORE (one extra
      // 600k-row cache materialization) than three broadcast re-joins.
      // EXPLICIT hints (r13): both lookup sides are vertex-bounded
      // (id-domain-bounded contract callers); without the hint the
      // stat-less checkpoint scans plan sort-merge joins whose edge-side
      // shuffle map writes run even when AQE later converts to broadcast.
      val contribs = ed.join(broadcast(od), Seq("s"))
        .join(broadcast(mass.withColumnRenamed("v", "s")), Seq("s"))
        .select(col("t").as("v"),
          expr(s"(m * ${dampNum}L) div (${dampDen}L * deg)").as("c"))
      // ONE shuffle per round: the per-vertex base is a row in the same
      // aggregation (base + Σ contribs ≡ a left-join + coalesce, exactly —
      // vertices with no in-edges sum just their base row). The
      // one-row-per-vertex mass side stays broadcast-sized, so the
      // contribution join itself is partition-local on the edge cache.
      val next = contribs.union(baseRows).groupBy(col("v")).agg(sum(col("c")).as("m"))
      // each round references the previous mass ONCE, so lineage grows
      // LINEARLY: no per-round materialization needed. Cut every 4 rounds
      // only to bound plan depth for large `iters`.
      if (i % 4 == 0 && i < iters) {
        val cut = next.localCheckpoint(true)
        Round((cut, cuts :+ cut), progress = true)
      } else Round((next, cuts), progress = true)
    }._1
  }

  /** PERSONALIZED [[pageRankPortable]]: teleport mass returns only to the
    * seed set {v : v mod `seedMod` = 0} instead of every vertex — the
    * seed-restricted random walk behind "related to THESE documents"
    * expansion (topic-sensitive PageRank, Haveliwala WWW'02). Identical
    * integer-mass discipline: init mass on seeds only, per-round
    * mass(v) = [v is seed]·base + Σ floor-div contributions, all BIGINT,
    * so the generated DuckDB chain ([[pprOracleCtes]]) agrees bit for bit.
    *
    * Plan per round is the same ONE shuffle as the global variant — the
    * union'd base rows come from the (vertex-sized, checkpointed) seed
    * frame instead of all nodes. Vertices the walk never reaches keep
    * exact mass 0 and are emitted (coalesced) so the output is a total
    * function over the vertex set, matching the oracle's frame.
    */
  def pageRankPersonalized(edges: DataFrame, iters: Int = 3, seedMod: Long = 17L,
                           dampNum: Long = 85L, dampDen: Long = 100L,
                           base: Long = 150000L, init: Long = 1000000L): DataFrame = {
    val (ed, nodes) = directed(edges)
    val seeds = nodes.filter(pmod(col("v"), lit(seedMod)) === 0).localCheckpoint(true)
    // the mass frame only ever holds vertices with nonzero mass — absent
    // rows ARE exact zeros (0-mass contributes floor(0) = 0 next round),
    // so the walk's frontier stays small on seed-sparse graphs
    val (mass, cuts) = rankMass(ed, seeds.select(col("v"), lit(init).as("m")),
      seeds.select(col("v"), lit(base).as("c")), iters, dampNum, dampDen)
    val out = nodes
      .join(mass.select(col("v"), col("m")), Seq("v"), "left")
      .select(col("v").as("vertex"), coalesce(col("m"), lit(0L)).as("rank_mass"))
      .localCheckpoint(true) // materialize before releasing the edge cache
    cuts.foreach(_.unpersist())
    ed.unpersist()
    out
  }

  /** DuckDB twin of [[pageRankPersonalized]]'s loop, generated from the
    * same parameters (the kCoreOracleCtes anti-drift pattern) over a
    * caller-supplied CTE `ed(s, t)` of deduped directed edges. The oracle
    * carries the zero-mass vertices explicitly (LEFT JOIN + coalesce per
    * round) — mathematically identical to the engine's sparse frontier.
    * The caller appends `SELECT … FROM nodes LEFT JOIN m<iters>`.
    */
  def pprOracleCtes(iters: Int, seedMod: Long, dampNum: Long, dampDen: Long,
                    base: Long, init: Long): String = {
    val sb = new StringBuilder(
      s"""nodes AS MATERIALIZED (
           SELECT DISTINCT v FROM (SELECT s AS v FROM ed UNION ALL SELECT t FROM ed)),
         od AS MATERIALIZED (SELECT s, count(*)::BIGINT AS deg FROM ed GROUP BY s),
         m0 AS MATERIALIZED (
           SELECT v, $init::BIGINT AS m FROM nodes WHERE v % $seedMod = 0)""")
    for (i <- 1 to iters) {
      sb.append(s""",
         c$i AS MATERIALIZED (
           SELECT ed.t AS v, sum((m.m * $dampNum) // ($dampDen * od.deg))::BIGINT AS c
           FROM ed JOIN od USING (s) JOIN m${i - 1} m ON m.v = ed.s GROUP BY ed.t),
         m$i AS MATERIALIZED (
           SELECT n.v,
                  (CASE WHEN n.v % $seedMod = 0 THEN $base ELSE 0 END
                   + coalesce(c$i.c, 0))::BIGINT AS m
           FROM nodes n LEFT JOIN c$i USING (v))""")
    }
    sb.toString
  }

  /** Deterministic negative-edge sampler for link-prediction training: for
    * each vertex v, `k` hash-probed candidate partners
    * neg_j = hash60("neg_<v>_<j>") mod `modulus`, keeping probes that are
    * (a) not v itself, (b) an EXISTING vertex (left-semi — real graphs
    * have sparse id spaces, a raw hash would fabricate phantom nodes),
    * and (c) not an existing undirected edge (left-anti on the canonical
    * pair) — the standard contrastive counterpart to the positive edge
    * list, fully deterministic so the DuckDB oracle replays it exactly.
    *
    * Scale: probes are |V|·k rows of id longs; both membership checks are
    * id-only joins against vertex- and edge-sized frames. The canonical
    * edge list is checkpointed once and read three times (vertices ×1 via
    * the one-pass doubled adjacency, anti-join ×1, plus the probe build).
    */
  def negativeEdges(edges: DataFrame, k: Int = 3,
                    modulus: Long = 20011L): DataFrame = {
    val und = canonical(edges).localCheckpoint(true)
    val verts = bothDirections(und).select(col("v").as("id")).distinct()
      .localCheckpoint(true)
    val probes = verts.select(col("id").as("v"),
        explode(sequence(lit(1L), lit(k.toLong))).as("j"))
      .select(col("v"), col("j"),
        pmod(graft.functions.PortableHash.hash60(
          concat(lit("neg_"), col("v"), lit("_"), col("j"))), lit(modulus)).as("neg"))
      .filter(col("neg") =!= col("v"))
    val out = probes
      // verts is vertex-bounded (id-domain-bounded contract callers):
      // broadcast the semi-join build side so the k·|V| probe frame never
      // shuffles for the existence check; the edge-sized anti-join below
      // stays a shuffle join (und is corpus-sized, NOT broadcastable)
      .join(broadcast(verts.select(col("id").as("neg"))), Seq("neg"), "left_semi")
      .select(col("v"), col("neg"), col("j"),
        least(col("v"), col("neg")).as("a"), greatest(col("v"), col("neg")).as("b"))
      .join(und, Seq("a", "b"), "left_anti")
      .select(col("v"), col("neg"), col("j"))
      .localCheckpoint(true) // materialize before releasing the caches
    und.unpersist(); verts.unpersist()
    out
  }

  /** PORTABLE HITS (hubs & authorities) — the link-analysis pair next to
    * [[pageRankPortable]]: fixed synchronous rounds over the DIRECTED
    * deduped edge list, both scores carried as INTEGER MASS. Each round
    * computes auth(v) = Σ_{u→v} hub(u) then renormalizes to total `scale`
    * by the exact floor division (r·scale) div max(Σr, 1), then hub(u) =
    * Σ_{u→v} auth(v) with the same renorm — all BIGINT, so the generated
    * DuckDB CTE chain ([[hitsOracleCtes]]) agrees bit for bit. The floor
    * renorm replaces HITS' L2 normalization; it preserves ranking order
    * (monotone scaling) and bounds magnitudes so the next half-round's
    * sums stay ≤ scale·maxdeg ≪ 2⁶³ (pick `scale` so that product fits —
    * 10⁶ leaves room for degree up to ~10⁶).
    *
    * Scale: edges pre-partitioned on the probe key and persisted once;
    * each half-round is one broadcast-sized mass join probing the edge
    * cache + one map-side-combined aggregation; the raw score frame is
    * vertex-sized and localCheckpointed before the renorm reads it twice
    * (once for Σ, once for the division) — the normalizer combine is a
    * keyless-aggregate cross join, the 1×N bounded shape the plan
    * guardrail whitelists. Returns every vertex with coalesced-0 scores.
    */
  def hitsPortable(edges: DataFrame, iters: Int = 2,
                   scale: Long = 1000000L): DataFrame = {
    val (ed, nodes) = directed(edges)
    def renorm(raw: DataFrame): DataFrame = {
      val r = raw.localCheckpoint(true) // vertex-sized; computed once, read twice
      r.crossJoin(r.agg(greatest(sum(col("r")), lit(1L)).as("tot")))
        .select(col("v"), expr(s"(r * ${scale}L) div tot").as("m"))
    }
    val hub0 = nodes.select(col("v"), lit(scale).as("m"))
    // EXPLICIT broadcast of the vertex-sized mass frames (id-domain-bounded
    // in every contract caller — the communityStats precondition): without
    // the hint the planner sees a stat-less checkpoint scan and plans a
    // sort-merge join, whose edge-side shuffle map write runs even when AQE
    // later converts to broadcast — and the auth half-round would re-sort
    // the s-partitioned edge cache on t every iteration.
    val ((hub, auth), _) = Loops.fixpoint(edges.sparkSession,
        Round((hub0, hub0.limit(0)), progress = true), iters) { case ((hub, _), _) =>
      val auth = renorm(ed.join(broadcast(hub.withColumnRenamed("v", "s")), Seq("s"))
        .groupBy(col("t").as("v")).agg(sum(col("m")).as("r")))
      val next = renorm(ed.join(broadcast(auth.withColumnRenamed("v", "t")), Seq("t"))
        .groupBy(col("s").as("v")).agg(sum(col("m")).as("r")))
      Round((next, auth), progress = true)
    }
    val out = nodes
      .join(hub.select(col("v"), col("m").as("hub_mass")), Seq("v"), "left")
      .join(auth.select(col("v"), col("m").as("auth_mass")), Seq("v"), "left")
      .select(col("v").as("vertex"),
        coalesce(col("hub_mass"), lit(0L)).as("hub_mass"),
        coalesce(col("auth_mass"), lit(0L)).as("auth_mass"))
      .localCheckpoint(true) // materialize before releasing the edge cache
    ed.unpersist()
    out
  }

  /** The DuckDB twin of [[hitsPortable]]'s loop, generated from the same
    * parameters (the kCoreOracleCtes anti-drift pattern): CTE text over a
    * caller-supplied CTE `ed(s, t)` of deduped directed edges. DuckDB's
    * `//` and Spark's `div` both floor-divide the non-negative masses.
    * The caller appends the final nodes LEFT JOIN h<iters>/a<iters> select.
    */
  def hitsOracleCtes(iters: Int, scale: Long): String = {
    val sb = new StringBuilder(
      """nodes AS MATERIALIZED (
           SELECT DISTINCT v FROM (SELECT s AS v FROM ed UNION ALL SELECT t FROM ed)),
         h0 AS MATERIALIZED (SELECT v, """ + scale + "::BIGINT AS m FROM nodes)")
    for (i <- 1 to iters) {
      sb.append(s""",
         ra$i AS MATERIALIZED (
           SELECT e.t AS v, sum(h.m)::BIGINT AS r FROM ed e
           JOIN h${i - 1} h ON e.s = h.v GROUP BY 1),
         at$i AS (SELECT greatest(sum(r), 1)::BIGINT AS tot FROM ra$i),
         a$i AS MATERIALIZED (SELECT ra$i.v, ((r * $scale) // tot)::BIGINT AS m FROM ra$i, at$i),
         rh$i AS MATERIALIZED (
           SELECT e.s AS v, sum(a.m)::BIGINT AS r FROM ed e
           JOIN a$i a ON e.t = a.v GROUP BY 1),
         ht$i AS (SELECT greatest(sum(r), 1)::BIGINT AS tot FROM rh$i),
         h$i AS MATERIALIZED (SELECT rh$i.v, ((r * $scale) // tot)::BIGINT AS m FROM rh$i, ht$i)""")
    }
    sb.toString
  }

  /** k-core peeling: iteratively remove vertices of induced degree < k
    * until none remain (or the round budget is spent) — the standard
    * density decomposition (dense dup-cluster cores, spam-farm detection)
    * the reference's Graphulo degree-filtering loops
    * (`/root/reference/README.md:77-78` Graph500 fixtures) point at.
    *
    * CONTRACT SHAPE: peeling is MONOTONE — the vertex set only ever
    * shrinks, and a state with no vertex of degree < k IS the fixpoint.
    * The engine runs at most `rounds` peel rounds with an early exit
    * exactly at the fixpoint; the DuckDB oracle ([[kCoreOracleCtes]],
    * generated from the same parameters so the dialects cannot drift)
    * unrolls exactly `rounds` rounds — past the fixpoint each round is the
    * identity, so both land on the identical set whether or not the budget
    * sufficed.
    *
    * Plan: the loop's first round builds the adjacency — the canonical
    * pairs in both directions, ONE exchange on v, the within-partition
    * dedup — and gives every row `deg`, v's degree, from a window over v
    * that needs no exchange either. A peel round moves the rows to w (the
    * round's one exchange), where a window over w counts w's degree (the
    * adjacency is symmetric), keeps the rows whose endpoints both have
    * degree ≥ k and swaps the pair: the survivors keyed by w ARE the new
    * adjacency keyed by v, and `deg` is recounted there. Every round's
    * state is checkpointed with the count of its rows of `deg < k` in the
    * same job, and zero such rows is the fixpoint (the next peel keeps
    * every row), so a round is one Spark job and nothing is broadcast.
    * Returns (vertex, core_deg) — survivors with their induced degree.
    */
  def kCore(edges: DataFrame, k: Int = 3, rounds: Int = 8): DataFrame = {
    val byV = Window.partitionBy(col("v"))
    def counted(adj: DataFrame): Round[DataFrame] = {
      val (state, low) = bridge.localCheckpointCounted(
        adj.withColumn("deg", count(lit(1)).over(byV)), col("deg") < k)
      Round(state, progress = low > 0, Seq(state))
    }
    // round 1 builds the first state; self-loops are dropped on the
    // explode's output, where the filter is not pushed down to re-evaluate
    // the caller's src/dst expressions (see [[canonical]])
    val (adj, _) = Loops.fixpoint(edges.sparkSession,
        Round[DataFrame](null, progress = true), rounds + 1) {
      case (_, 1) => counted(bothDirections(undirectedPairs(edges))
        .filter(col("v") =!= col("w")).repartition(col("v")).dropDuplicates("v", "w"))
      case (adj, _) => counted(adj.repartition(col("w"))
        .withColumn("dw", count(lit(1)).over(Window.partitionBy(col("w"))))
        .filter(col("deg") >= k && col("dw") >= k)
        .select(col("w").as("v"), col("v").as("w")))
    }
    adj.dropDuplicates("v").select(col("v").as("vertex"), col("deg").as("core_deg"))
  }

  /** The DuckDB twin of [[kCore]]'s loop, generated by the same Scala code
    * path (the `duckdbZValue` anti-drift pattern): CTE text for `rounds`
    * unrolled peel rounds over a caller-supplied CTE `und(a, b)` of
    * canonical undirected edges. The caller appends the final
    * `SELECT v AS vertex, count(*) AS core_deg FROM adj<rounds> GROUP BY v`.
    */
  def kCoreOracleCtes(k: Int, rounds: Int): String = {
    // AS MATERIALIZED is load-bearing: each round references the previous
    // three times; inlined CTEs would expand the chain 3^rounds-fold
    val sb = new StringBuilder(
      "adj0 AS MATERIALIZED (SELECT a AS v, b AS w FROM und UNION ALL SELECT b, a FROM und)")
    for (i <- 1 to rounds) {
      sb.append(s""",
         keep$i AS MATERIALIZED (SELECT v FROM adj${i - 1} GROUP BY v HAVING count(*) >= $k),
         adj$i AS MATERIALIZED (SELECT x.v, x.w FROM adj${i - 1} x
                   JOIN keep$i p ON x.v = p.v JOIN keep$i q ON x.w = q.v)""")
    }
    sb.toString
  }

  /** k-truss decomposition: iteratively drop edges supported by fewer than
    * k−2 triangles until none remain (or the round budget is spent) — the
    * edge-level sibling of [[kCore]]'s vertex peel and the standard
    * cohesive-subgraph refinement (a k-truss is a stricter community core
    * than a k-core: every surviving edge sits in ≥ k−2 triangles among
    * survivors). Output: surviving edges with their fixpoint support.
    *
    * CONTRACT SHAPE: peeling is MONOTONE — the edge set only shrinks, so
    * an unchanged survivor count IS the fixpoint; the engine early-exits
    * there while the generated DuckDB oracle ([[kTrussOracleCtes]])
    * unrolls exactly `rounds` rounds, identity past the fixpoint — the
    * kCore anti-drift discipline.
    *
    * Plan per round: per-edge support via the SAME degree-oriented wedge
    * machinery as [[triangleCount]] (orientation caps the self-join
    * fan-out at O(√m) out-degree — the power-law killer the oracle's
    * definitional triple join would hit), each triangle fanned to its
    * three canonical edges, one map-side-combined count. Every shuffle
    * carries id longs only; no InternalCaches entries accumulate across
    * rounds.
    */
  def kTruss(edges: DataFrame, k: Int = 4, rounds: Int = 6): DataFrame = {
    val und0 = canonical(edges).localCheckpoint(true)
    val none = und0.select(col("a"), col("b"), lit(0L).as("support")).limit(0)
    // AQE stays ON here (unlike the vertex-frontier loops): the wedge
    // self-join and triangle-closing join sizes are round-dependent and
    // not statically hinted — AQE's runtime sizing earns its replanning
    // cost (measured: turning it off cost 0.78×). The vertex-bounded
    // degree lookups DO get explicit broadcasts so the edge list never
    // shuffles for them.
    val ((_, _, sup), _) = Loops.fixpoint(edges.sparkSession,
        Round((und0, -1L, none), progress = true, Seq(und0)), rounds, aqeOff = false) {
      case ((und, nEdges, _), _) =>
        val deg = degrees(und)
        val oriented = orient(und
          .join(broadcast(deg.select(col("id").as("a"), col("deg").as("da"))), Seq("a"))
          .join(broadcast(deg.select(col("id").as("b"), col("deg").as("db"))), Seq("b")))
          .repartition(col("u"))
          .localCheckpoint(true) // both wedge self-join sides; released below
        val (kept, n) = bridge.localCheckpointCounted(triangleEdges(triangles(oriented, und))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
          .filter(col("support") >= k - 2))
        oriented.unpersist()
        // next round's edge list is a PROJECTION of the already-checkpointed
        // support frame — a second eager checkpoint here would re-materialize
        // the whole edge list once more per round for nothing
        Round((kept.select(col("a"), col("b")), n, kept), progress = n != nEdges, Seq(kept))
    }
    sup
  }

  /** The DuckDB twin of [[kTruss]]'s loop, generated from the same
    * parameters (the kCoreOracleCtes anti-drift pattern): CTE text for
    * `rounds` unrolled support-and-peel rounds over a caller-supplied CTE
    * `und(a, b)` of canonical undirected edges, using the definitional
    * a<b<c triple join for triangle support. The caller appends
    * `SELECT a, b, sup::BIGINT AS support FROM e<rounds>`.
    */
  def kTrussOracleCtes(k: Int, rounds: Int): String = {
    val sb = new StringBuilder("e0 AS MATERIALIZED (SELECT a, b FROM und)")
    for (i <- 1 to rounds) {
      sb.append(s""",
         tri$i AS MATERIALIZED (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM e${i - 1} e1 JOIN e${i - 1} e2 ON e1.b = e2.a
           JOIN e${i - 1} e3 ON e3.a = e1.a AND e3.b = e2.b),
         e$i AS MATERIALIZED (
           SELECT a, b, count(*) AS sup FROM (
             SELECT x AS a, y AS b FROM tri$i
             UNION ALL SELECT x, z FROM tri$i
             UNION ALL SELECT y, z FROM tri$i)
           GROUP BY 1, 2 HAVING count(*) >= ${k - 2})""")
    }
    sb.toString
  }

  /** Fixed-round BFS hop distances from the graph's min-id vertex: `rounds`
    * full relaxations of `dist(w) = min(dist(w), dist(v)+1)` over the
    * undirected adjacency — the Pregel shape, one join + one min-aggregate
    * per round, every shuffle carrying (id, dist) longs. The round budget
    * is FIXED and the oracle CTE chain ([[bfsOracleCtes]]) unrolls exactly
    * `rounds` rounds; the engine runs the result-identical FRONTIER form
    * below and exits at the fixpoint (past it every budgeted round is the
    * identity — see the in-body argument). Vertices not reached within
    * `rounds` hops simply don't emit.
    */
  def bfsLevels(edges: DataFrame, rounds: Int): DataFrame = {
    val adj = adjacency(canonical(edges))
    // FRONTIER form of the fixed-round relaxation — result-identical to the
    // full `min(dist, min over ALL reached neighbors + 1)` sweep the oracle
    // unrolls: a vertex whose level was assigned in round r proposes the
    // same `level+1` in every later round, and those proposals are already
    // ≥ the neighbors' assigned levels (BFS levels never improve), so only
    // LAST round's newly-reached vertices can change anything. Each round
    // therefore joins the adjacency against the shrinking frontier instead
    // of the whole reached set, and an empty frontier is the fixpoint —
    // every remaining budgeted round is the identity (the kCore monotone
    // early-exit argument), so the loop stops instead of paying
    // `rounds − diameter` full-edge sweeps that change nothing.
    //
    // The frontier is vertex-bounded (id-domain-bounded in every contract
    // caller — the communityStats broadcast rationale), so it BROADCASTS
    // into the adjacency join instead of shuffling the cached edge list to
    // meet it; and the reached set accumulates as a UNION of the
    // checkpointed per-round deltas, O(|delta|) materialized per round
    // rather than O(|reached|).
    val seed = adj.agg(min(col("v")).as("v")).select(col("v"), lit(0L).as("dist"))
      .localCheckpoint(true)
    val ((dist, _), _) = Loops.fixpoint(edges.sparkSession,
        Round((seed, seed), progress = true), rounds) { case ((dist, frontier), _) =>
      val (newly, n) = bridge.localCheckpointCounted(
        adj.join(broadcast(frontier), Seq("v"))
          .select(col("w").as("v"), (col("dist") + 1L).as("dist"))
          .groupBy(col("v")).agg(min(col("dist")).as("dist"))
          .join(dist.select(col("v")), Seq("v"), "left_anti"))
      Round((dist.unionByName(newly), newly), progress = n > 0L)
    }
    adj.unpersist()
    dist.select(col("v").as("vertex"), col("dist"))
  }

  /** Hop plot (neighborhood function): multi-seed BFS distance
    * distribution — for the hash-picked seed set {v : v ≡ 0 (mod
    * seedMod)}, the number of (seed, vertex) pairs at each exact hop
    * distance ≤ rounds. The cumulative curve is the effective-diameter
    * estimator (ANF/HyperANF's exact small-seed form); counts stay
    * non-cumulative so no unpartitioned window is ever planned — the
    * prefix sum over ≤ rounds+1 rows is the client's fold.
    *
    * Scale: frontier state is |seeds|·|V| pairs at worst (seeds are a
    * ~1/seedMod sample — the knob that keeps multi-source BFS linear);
    * every round is the bfsLevels join + min-aggregate with the seed
    * riding as a key. The adjacency is built once, pre-partitioned on v.
    */
  def hopPlot(edges: DataFrame, rounds: Int, seedMod: Long = 2003L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val adj = adjacency(canonical(edges))
    // Bit-parallel multi-source BFS (the ANF trick, Palmer et al. KDD'02):
    // ONE row per vertex carrying a 64-bit mask of the seeds that reached
    // it — state is |V| longs, NOT |seeds|·|V| pairs, and a round is one
    // |E|-row join + a bit_or aggregate (the pair formulation was measured
    // 2.6× slower at sf0.1 (12.9 vs 5.0 s isolated): its proposals frame is |E|·|seeds| rows per round).
    val state0 = adj.select(col("v")).distinct()
      .select(col("v"), seedMask(seedMod, "hopPlot").as("mask"))
      .repartition(col("v"))
      .localCheckpoint(true)
    // hop h count = Σ_v popcount(newly-set bits in round h); round scalars
    // to the driver are bounded (one long per round).
    // DELTA propagation — result-identical to OR-ing full neighbor masks:
    // bits a neighbor carried before its last change were already OR-ed in
    // during earlier rounds (OR is monotone), so propagating only each
    // changed vertex's NEW bits produces the same mask sequence while the
    // per-round join touches only frontier-incident edges. A zero new-bit
    // count is the fixpoint (masks stop changing), and trailing zero
    // counts are filtered from the output anyway — exit the loop there
    // instead of paying identity rounds.
    val n0 = state0.agg(sum(bit_count(col("mask")))).head().getLong(0)
    val ((_, _, last, counts), _) = Loops.fixpoint(spark,
        Round((state0, state0.filter(col("mask") =!= 0L), state0, Vector(0L -> n0)),
          progress = n0 > 0L, Seq(state0)), rounds) { case ((state, frontier, _, counts), i) =>
      val step = propagateMasks(adj, state, frontier).localCheckpoint(true)
      val n = step.agg(sum(bit_count(col("newbits")))).head().getLong(0)
      Round((step.select(col("v"), col("mask").bitwiseOR(col("newbits")).as("mask")),
        step.filter(col("newbits") =!= 0L).select(col("v"), col("newbits").as("mask")),
        step, counts :+ (i.toLong -> n)), progress = n > 0L, Seq(step))
    }
    adj.unpersist()
    last.unpersist()
    counts.filter(_._2 > 0).toDF("hop", "n_pairs")
  }

  /** Seed bit of vertex `v` for the bit-parallel BFS of [[hopPlot]] and
    * [[seedDistances]]: seeds are {v : v ≡ 0 (mod seedMod)}, seed v owns bit
    * v div seedMod. Precondition: that index is < 64 for every seed
    * (callers pick seedMod ≥ domain/64; the contract instance has domain
    * 20011, seedMod 2003 → 10 seeds, bits 0..9). Enforced LOUDLY:
    * shiftleft wraps its shift amount mod 64, so an out-of-range seed
    * index would silently alias two seeds onto one bit and produce wrong
    * hop counts — raise instead.
    */
  private def seedMask(seedMod: Long, op: String): Column =
    when(pmod(col("v"), lit(seedMod)) === 0L,
      expr(s"""if(v div $seedMod >= 64,
                  raise_error(concat('$op: seed index v div $seedMod >= 64 for v=',
                                     cast(v as string))),
                  shiftleft(1L, cast(v div $seedMod as int)))"""))
      .otherwise(0L)

  /** One bit-parallel BFS round: each vertex's (v, mask) state with the
    * seed bits it newly receives from the frontier's masks (`newbits`),
    * plus the `carry` columns of `state`. The frontier is vertex-bounded
    * (id-domain-bounded in every contract caller): it broadcasts into the
    * edge join instead of shuffling the cached adjacency to meet it (the
    * communityStats rationale).
    */
  private def propagateMasks(adj: DataFrame, state: DataFrame, frontier: DataFrame,
                             carry: Seq[Column] = Nil): DataFrame = {
    val prop = adj.join(broadcast(frontier.withColumnRenamed("mask", "fb")), Seq("v"))
      .groupBy(col("w").as("v")).agg(expr("bit_or(fb)").as("nbrmask"))
    state.join(prop, Seq("v"), "left")
      .select(Seq(col("v"), col("mask"),
        coalesce(col("nbrmask"), lit(0L)).bitwiseAND(expr("~mask")).as("newbits")) ++ carry: _*)
  }

  /** Per-vertex seed-distance histogram — the harmonic/closeness-centrality
    * ingredient table: for the same hash-picked seed set as [[hopPlot]],
    * EXACTLY how many seeds each vertex first reaches at hop 1, 2, …,
    * `rounds` (fixed columns h1…h<rounds>, so the contract schema stays
    * scalar). Unlike the hop plot's global pair counts this is per-vertex
    * and exact for the seed subset — harmonic centrality restricted to the
    * seeds is the client's Σ h_i/i fold, the standard sampled-landmark
    * estimator. Vertices reaching no seed within `rounds` hops (other than
    * themselves) do not emit, matching the generated oracle's reach set.
    *
    * Scale: identical round shape to [[hopPlot]] — state is one long mask
    * plus `rounds` counters per vertex; each round is one |E|-row join on
    * the pre-partitioned adjacency + a bit_or aggregate. The per-round
    * histogram column is popcount(new bits) — no extra shuffle.
    */
  def seedDistances(edges: DataFrame, rounds: Int, seedMod: Long = 2003L): DataFrame = {
    val adj = adjacency(canonical(edges))
    // seed state: the fused checkpoint+count ALSO answers the "any seeds at
    // all?" probe (mask ≠ 0 rows)
    val (state0, seedN) = bridge.localCheckpointCounted(
      adj.select(col("v")).distinct()
        .select(col("v"), seedMask(seedMod, "seedDistances").as("mask"))
        .repartition(col("v")),
      col("mask") =!= 0L)
    // DELTA propagation + fixpoint exit (the hopPlot argument verbatim:
    // OR-monotonicity makes new-bits-only propagation mask-identical, and
    // once no vertex gains a bit every remaining round's h_i is exactly 0
    // for every vertex — emitted as literal zero columns so the fixed
    // h1…h<rounds> contract schema is unchanged). The frontier probe (any
    // newbits?) rides the round's checkpoint pass.
    val ((state, _, hist), _) = Loops.fixpoint(edges.sparkSession,
        Round((state0, state0.filter(col("mask") =!= 0L), Vector.empty[String]),
          progress = seedN > 0L, Seq(state0)), rounds) { case ((state, frontier, hist), i) =>
      val kept = hist.map(col)
      val (step, frontN) = bridge.localCheckpointCounted(
        propagateMasks(adj, state, frontier, kept), col("newbits") =!= 0L)
      Round((step.select(Seq(col("v"),
          col("mask").bitwiseOR(col("newbits")).as("mask"),
          bit_count(col("newbits")).cast("long").as(s"h$i")) ++ kept: _*),
        step.filter(col("newbits") =!= 0L).select(col("v"), col("newbits").as("mask")),
        hist :+ s"h$i"), progress = frontN > 0L, Seq(step))
    }
    // rounds past the fixpoint reach nothing: exact-0 histogram columns
    val zeros = (hist.size + 1 to rounds).map(i => s"h$i")
    val histCols = hist ++ zeros
    adj.unpersist()
    val total = histCols.map(col).reduce(_ + _)
    zeros.foldLeft(state)((s, h) => s.withColumn(h, lit(0L))).filter(total > 0L)
      .select(col("v").as("vertex") +: histCols.map(col): _*)
  }

  /** Multi-source shortest-path COUNTING (σ) — the exact integer core of
    * betweenness centrality (Brandes' forward pass, seed-sampled): for the
    * same hash-picked seed set as [[hopPlot]]/[[seedDistances]], every
    * vertex's number of distinct shortest paths from each seed, summed
    * over seeds. BFS property: all shortest paths to a round-i vertex
    * arrive through round-(i−1) frontier neighbours, so
    * σ_i(w) = Σ_{u ∈ N(w), dist(u)=i−1} σ(u) — pure integer sums, exact
    * on both engines. Contract output is the per-vertex aggregate
    * (vertex, n_seeds, min_dist, total_paths).
    *
    * Scale: per-round state is (seed, v) pairs — bounded by |seeds|·|V|
    * with |seeds| ≈ |V|/seedMod, the same sampling knob as the hop plot;
    * each round joins only the FRONTIER (not all reached) against the
    * pre-partitioned adjacency, and the anti-join against reached keeps
    * σ first-reach-only. σ ≤ degreeᵈᶦˢᵗ per seed — BIGINT headroom to
    * ~10¹⁸ paths.
    */
  def pathCounts(edges: DataFrame, rounds: Int, seedMod: Long = 2003L): DataFrame = {
    val adj = adjacency(canonical(edges))
    // The reached set accumulates as a UNION of the checkpointed per-round
    // deltas (O(|delta|) materialized per round, not O(|reached|)), and the
    // count that rides the delta's materialization gives a FREE fixpoint
    // exit: an empty frontier proposes nothing in every later round
    // (first-reach-only σ is monotone), so the remaining budgeted rounds
    // are the identity — the bfsLevels/kCore early-exit argument. State
    // stays (seed, v) pairs and is NEVER broadcast (|seeds|·|V|-bounded,
    // not vertex-bounded).
    val (reached0, seedN) = bridge.localCheckpointCounted(
      adj.select(col("v")).distinct()
        .filter(pmod(col("v"), lit(seedMod)) === 0L)
        .select(col("v").as("seed"), col("v"), lit(0L).as("dist"), lit(1L).as("sigma")))
    // AQE stays ON here (unlike the vertex-frontier loops): the per-round
    // frames are (seed, v)-pair-sized, not vertex-bounded, so no static
    // broadcast hint applies — AQE's runtime conversion of the anti-join
    // build side is the win (measured: turning it off cost 0.89×).
    val ((reached, _), _) = Loops.fixpoint(edges.sparkSession,
        Round((reached0, reached0), progress = seedN > 0L), rounds, aqeOff = false) {
      case ((reached, frontier), i) =>
        val proposals = adj
          .join(frontier.select(col("seed"), col("v"), col("sigma")), Seq("v"))
          .groupBy(col("seed"), col("w"))
          .agg(sum(col("sigma")).as("sigma"))
          .select(col("seed"), col("w").as("v"), col("sigma"))
        val (newly, n) = bridge.localCheckpointCounted(
          proposals
            .join(reached.select(col("seed"), col("v")), Seq("seed", "v"), "left_anti")
            .select(col("seed"), col("v"), lit(i.toLong).as("dist"), col("sigma")))
        Round((reached.unionByName(newly), newly), progress = n > 0L)
    }
    adj.unpersist()
    reached.groupBy(col("v").as("vertex"))
      .agg(count(lit(1)).as("n_seeds"), min(col("dist")).as("min_dist"),
        sum(col("sigma")).as("total_paths"))
  }

  /** DuckDB twin of [[pathCounts]]' loop over a caller-supplied
    * `und(a, b)`. The caller appends the per-vertex aggregate over
    * `p<rounds>`.
    */
  def pathCountsOracleCtes(rounds: Int, seedMod: Long = 2003L): String = {
    val sb = new StringBuilder(
      s"""badj AS MATERIALIZED (SELECT a AS v, b AS w FROM und UNION ALL SELECT b, a FROM und),
         p0 AS MATERIALIZED (
           SELECT v AS seed, v, 0::BIGINT AS dist, 1::BIGINT AS sigma
           FROM (SELECT DISTINCT v FROM badj) WHERE v % $seedMod = 0)""")
    for (i <- 1 to rounds) {
      sb.append(s""",
         p$i AS MATERIALIZED (
           SELECT seed, v, dist, sigma FROM p${i - 1}
           UNION ALL
           SELECT n.seed, n.v, $i::BIGINT AS dist, n.sigma FROM (
             SELECT f.seed, a.w AS v, sum(f.sigma)::BIGINT AS sigma
             FROM badj a JOIN p${i - 1} f ON a.v = f.v AND f.dist = ${i - 1}
             GROUP BY f.seed, a.w) n
           WHERE NOT EXISTS (SELECT 1 FROM p${i - 1} r
                             WHERE r.seed = n.seed AND r.v = n.v))""")
    }
    sb.toString
  }

  /** DuckDB twin of [[seedDistances]]: reuses [[hopPlotOracleCtes]]'
    * (seed, v, min-dist) chain; the histogram is one conditional pivot
    * over exact first-reach distances (dist ≥ 1 — a seed's own dist-0 row
    * is the self term harmonic centrality excludes).
    */
  def seedDistancesOracleSelect(rounds: Int): String = {
    val cols = (1 to rounds)
      .map(i => s"sum(CASE WHEN dist = $i THEN 1 ELSE 0 END)::BIGINT AS h$i")
      .mkString(", ")
    s"SELECT v AS vertex, $cols FROM h$rounds WHERE dist >= 1 GROUP BY v"
  }

  /** DuckDB twin of [[hopPlot]]'s loop over a caller-supplied `und(a, b)`.
    * The caller appends `SELECT hop, count(*) FROM h<rounds> GROUP BY 1`.
    */
  def hopPlotOracleCtes(rounds: Int, seedMod: Long = 2003L): String = {
    val sb = new StringBuilder(
      s"""badj AS MATERIALIZED (SELECT a AS v, b AS w FROM und UNION ALL SELECT b, a FROM und),
         h0 AS MATERIALIZED (
           SELECT v AS seed, v, 0::BIGINT AS dist
           FROM (SELECT DISTINCT v FROM badj) WHERE v % $seedMod = 0)""")
    for (i <- 1 to rounds) {
      sb.append(s""",
         h$i AS MATERIALIZED (SELECT seed, v, min(dist)::BIGINT AS dist FROM (
           SELECT seed, v, dist FROM h${i - 1}
           UNION ALL
           SELECT x.seed, a.w, x.dist + 1 FROM badj a JOIN h${i - 1} x ON a.v = x.v)
           GROUP BY seed, v)""")
    }
    sb.toString
  }

  /** DuckDB twin of [[bfsLevels]]' loop (the kCoreOracleCtes anti-drift
    * pattern): CTE text over a caller-supplied `und(a, b)`. The caller
    * appends `SELECT v AS vertex, dist FROM d<rounds>`. MATERIALIZED is
    * load-bearing — each round references the previous twice.
    */
  def bfsOracleCtes(rounds: Int): String = {
    val sb = new StringBuilder(
      """badj AS MATERIALIZED (SELECT a AS v, b AS w FROM und UNION ALL SELECT b, a FROM und),
         d0 AS MATERIALIZED (SELECT min(v) AS v, 0::BIGINT AS dist FROM badj)""")
    for (i <- 1 to rounds) {
      sb.append(s""",
         d$i AS MATERIALIZED (SELECT v, min(dist)::BIGINT AS dist FROM (
           SELECT v, dist FROM d${i - 1}
           UNION ALL
           SELECT a.w, x.dist + 1 FROM badj a JOIN d${i - 1} x ON a.v = x.v)
           GROUP BY v)""")
    }
    sb.toString
  }

  /** Fixed-round single-source shortest paths (Bellman–Ford relaxation)
    * over integer-weighted undirected edges — [[bfsLevels]] with a weight
    * on every relaxation step. `weighted` carries canonical (a, b, wt)
    * rows; source = min vertex id. (id, dist) longs on every shuffle; the
    * round BUDGET is fixed and the unrolled oracle ([[ssspOracleCtes]])
    * states exactly `rounds` full relaxations, while the engine runs the
    * result-identical frontier form below and exits at the fixpoint.
    */
  def sssp(weighted: DataFrame, rounds: Int): DataFrame = {
    // one read of the caller's weighted frame (md5-derived in the contract
    // fixture), not a two-read self-union
    val adj = adjacency(weighted, "wt")
    // FRONTIER (delta) form of the fixed-round Bellman–Ford sweep —
    // result-identical to the full relaxation the oracle unrolls: a vertex
    // whose dist did NOT improve in round r re-proposes in round r+1
    // exactly what it proposed in round r, which round r already folded
    // into every neighbor's min, so only improved vertices can change
    // anything. The adjacency therefore joins the shrinking changed set,
    // and an empty frontier is the fixpoint (every remaining budgeted
    // round is the identity) — the loop stops there instead of paying
    // `rounds − convergence` full-edge sweeps.
    val dist0 = adj.agg(min(col("v")).as("v")).select(col("v"), lit(0L).as("dist"))
      .localCheckpoint(true)
    val ((dist, _), _) = Loops.fixpoint(weighted.sparkSession,
        Round((dist0, dist0), progress = true, Seq(dist0)), rounds) { case ((dist, frontier), _) =>
      // frontier is vertex-bounded (id-domain-bounded in every contract
      // caller): broadcast it into the edge join instead of shuffling the
      // cached adjacency to meet it (the communityStats rationale)
      val prop = adj.join(broadcast(frontier.withColumnRenamed("dist", "fd")), Seq("v"))
        .groupBy(col("w").as("v")).agg(min(col("fd") + col("wt")).as("p"))
      // one checkpoint carries both next-round frames: the new dist is the
      // per-vertex least of (old dist, best frontier proposal), the new
      // frontier the rows that actually improved (least skips nulls)
      val (step, improvedN) = bridge.localCheckpointCounted(
        dist.join(prop, Seq("v"), "full_outer")
          .select(col("v"), least(col("dist"), col("p")).as("nd"),
            (col("dist").isNull ||
              (col("p").isNotNull && col("p") < col("dist"))).as("improved")),
        col("improved"))
      Round((step.select(col("v"), col("nd").as("dist")),
        step.filter(col("improved")).select(col("v"), col("nd").as("dist"))),
        progress = improvedN > 0L, Seq(step))
    }
    adj.unpersist()
    dist.select(col("v").as("vertex"), col("dist"))
  }

  /** DuckDB twin of [[sssp]]'s loop over a caller-supplied `wund(a, b, wt)`.
    * The caller appends `SELECT v AS vertex, dist FROM s<rounds>`.
    */
  def ssspOracleCtes(rounds: Int): String = {
    val sb = new StringBuilder(
      """sadj AS MATERIALIZED (
           SELECT a AS v, b AS w, wt FROM wund UNION ALL SELECT b, a, wt FROM wund),
         s0 AS MATERIALIZED (SELECT min(v) AS v, 0::BIGINT AS dist FROM sadj)""")
    for (i <- 1 to rounds) {
      sb.append(s""",
         s$i AS MATERIALIZED (SELECT v, min(dist)::BIGINT AS dist FROM (
           SELECT v, dist FROM s${i - 1}
           UNION ALL
           SELECT a.w, x.dist + a.wt FROM sadj a JOIN s${i - 1} x ON a.v = x.v)
           GROUP BY v)""")
    }
    sb.toString
  }

  /** Fixed-round synchronous label propagation (community detection):
    * label(v) starts as v; each round, every vertex adopts the label with
    * the HIGHEST FREQUENCY among its neighbors' previous-round labels,
    * ties broken by minimum label — fully deterministic, unlike classic
    * asynchronous LPA, so the unrolled oracle CTE chain
    * ([[lpaOracleCtes]]) states the identical computation. Distinct from
    * [[graft.pipeline.Components]]: min-label propagation converges to
    * connected components; frequency-vote propagation finds dense
    * sub-communities within them.
    *
    * Per-round shape: one equi-join (edges × BROADCAST labels) + two hash
    * aggregates, both exchange-free on the v-partitioned cached adjacency
    * (min label among max count folds into one lexicographic struct-max).
    *
    * Scale PRECONDITION: the label frame is vertex-sized and broadcast
    * every round, so the vertex set must fit a broadcast relation (hard
    * cap 8 GB / 512M rows; every contract caller derives ids pmod 20011,
    * bounding |V| ≤ 20011 at ANY scale factor). For an unbounded-|V|
    * graph, drop the broadcast hint and re-partition the adjacency on w —
    * rounds degrade to the edge-sized-shuffle Pregel floor but never OOM
    * the driver.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame =
    labelPropagationOn(canonical(edges), rounds)

  /** [[labelPropagation]] over an ALREADY-CANONICAL undirected edge frame
    * (a < b, distinct, no self-loops) — composing operators
    * (communityStats) skip the idempotent-but-not-free re-canonicalization
    * (a full distinct shuffle of the edge list).
    */
  private def labelPropagationOn(und: DataFrame, rounds: Int): DataFrame = {
    // ONE read of und, not a self-union of two: each read re-runs the
    // caller's src/dst derivation AND the distinct shuffle (md5 fixtures
    // pay that twice); the explode doubles rows in the same pass.
    //
    // Partitioned on v, NOT the join key w (r13): the label frame is
    // vertex-bounded (id-domain-bounded in every contract caller — the
    // communityStats broadcast rationale) and BROADCASTS into the per-round
    // join, which then preserves the adjacency's v-partitioning — and
    // HashPartitioning(v) satisfies ClusteredDistribution(v, lbl), so BOTH
    // per-round aggregates below run exchange-free: a round is ONE stage
    // over the cached adjacency plus a vertex-sized broadcast, zero
    // edge-sized shuffles (the old w-partitioned shape paid the |E|-row
    // (v, lbl) frequency exchange every round).
    val adj = adjacency(und)
    val labels0 = adj.select(col("v")).distinct()
      .select(col("v"), col("v").as("lbl"))
      .localCheckpoint(true)
    val (labels, _) = Loops.fixpoint(und.sparkSession,
        Round(labels0, progress = true, Seq(labels0)), rounds) { (labels, _) =>
      val freq = adj.join(broadcast(labels.withColumnRenamed("v", "w")), Seq("w"))
        .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("c"))
      // min label among max count in ONE aggregation: max over the
      // (c, −lbl) lexicographic struct — the freq→best→rejoin formulation
      // evaluates the |E|-row adjacency join TWICE per round (freq is a
      // lazy plan read by both sides); this evaluates it once. Exact:
      // labels are non-negative longs, so max(−lbl) = min(lbl).
      val next = freq
        .groupBy(col("v"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("v"), (-col("m.nl")).as("lbl"))
        .localCheckpoint(true)
      Round(next, progress = true, Seq(next))
    }
    adj.unpersist()
    labels.select(col("v").as("vertex"), col("lbl").as("label"))
  }

  /** DuckDB twin of [[labelPropagation]]'s loop (the kCoreOracleCtes
    * anti-drift pattern): CTE text over a caller-supplied `und(a, b)`.
    * The caller appends `SELECT v AS vertex, lbl AS label FROM l<rounds>`.
    * MATERIALIZED is load-bearing — each round references the previous
    * frequency CTE twice and the label CTE once.
    */
  def lpaOracleCtes(rounds: Int): String = {
    val sb = new StringBuilder(
      """ladj AS MATERIALIZED (SELECT a AS v, b AS w FROM und UNION ALL SELECT b, a FROM und),
         l0 AS MATERIALIZED (SELECT DISTINCT v, v AS lbl FROM ladj)""")
    for (i <- 1 to rounds) {
      sb.append(s""",
         f$i AS MATERIALIZED (SELECT a.v, x.lbl, count(*)::BIGINT AS c
             FROM ladj a JOIN l${i - 1} x ON a.w = x.v GROUP BY 1, 2),
         m$i AS MATERIALIZED (SELECT v, max(c) AS mc FROM f$i GROUP BY 1),
         l$i AS MATERIALIZED (SELECT f.v, min(f.lbl) AS lbl FROM f$i f
             JOIN m$i m ON f.v = m.v AND f.c = m.mc GROUP BY 1)""")
    }
    sb.toString
  }

  /** Community quality readout over [[labelPropagation]]'s labels: per
    * community, its size, internal edge count, degree sum, and the
    * modularity contribution in EXACT integer form. Classic modularity is
    * Q = Σ_c (e_c/m − (d_c/2m)²) — a double; scaling by 4m² gives
    * `mod_term = 4·m·e_c − d_c²` per community with Σ mod_term = 4m²·Q,
    * so the contract stays BIGINT-exact on both engines (the
    * pageRankPortable integer-mass trick applied to modularity).
    *
    * Scale: the vertex-sized label frame is BROADCAST into both endpoint
    * lookups (the edge-sized frame never shuffles for them) and into the
    * degree join; m arrives as a broadcast 1-row aggregate, never a driver
    * collect. PRECONDITION (same as [[labelPropagation]]): the vertex set
    * must fit a broadcast relation — every contract caller derives ids
    * pmod 20011, bounding |V| ≤ 20011 at ANY scale factor. For an
    * unbounded-|V| graph drop the broadcast hints and let AQE pick the
    * join strategy from runtime sizes.
    */
  def communityStats(edges: DataFrame, rounds: Int): DataFrame = {
    // canonicalize ONCE and cache: the edge list is consumed four times
    // (labelPropagationOn's adjacency + m / internal / degree reads here)
    // — uncached, callers deriving src/dst with expensive per-row
    // expressions (the md5 hash fixtures) would recompute that projection
    // every time. labelPropagationOn takes the canonical frame directly
    // (no re-canonicalization distinct).
    val und = InternalCaches.register(canonical(edges).persist(StorageLevel.MEMORY_AND_DISK))
    val lab = labelPropagationOn(und, rounds)
      .select(col("vertex").as("v"), col("label").as("lbl"))
    val mDf = und.agg(count(lit(1)).as("m"))
    // lab is vertex-sized (bounded by the id domain, tiny next to the edge
    // list) and already materialized by the LPA loop's final checkpoint —
    // broadcast both endpoint lookups so the edge-sized frame never
    // shuffles for them (the neighborJaccard deg-broadcast rationale;
    // before: two sort-merge joins re-sorting the cached edge list,
    // measured ~30 s of executor time across a 64-task stage).
    val internal = und
      .join(broadcast(lab.select(col("v").as("a"), col("lbl").as("la"))), Seq("a"))
      .join(broadcast(lab.select(col("v").as("b"), col("lbl").as("lb"))), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("internal_edges"))
    val deg = und.select(col("a").as("v")).unionByName(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val perComm = broadcast(lab).join(deg, Seq("v"))
      .groupBy(col("lbl").as("label"))
      .agg(count(lit(1)).as("size"), sum(col("d")).as("degree_sum"))
    perComm.join(internal, Seq("label"), "left")
      .crossJoin(broadcast(mDf))
      .select(col("label"), col("size"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"),
        (lit(4L) * col("m") * coalesce(col("internal_edges"), lit(0L))
          - col("degree_sum") * col("degree_sum")).as("mod_term"))
  }

  /** Per-edge link prediction: for each undirected edge (a, b), the number
    * of common neighbors (= triangles through the edge) next to both
    * endpoint degrees — the integer components of neighborhood Jaccard
    * (|N∩| = common, |N∪| = deg_a + deg_b − 2 − common), kept as exact
    * counts so the contract is engine-portable with no division.
    *
    * Same O(m^1.5) degree-oriented wedge machinery as [[triangleCount]]
    * (the power-law cap): each triangle is found once, then fans out to
    * its three edges — id longs only on every shuffle, no neighborhood
    * sets materialized per pair.
    */
  def neighborJaccard(edges: DataFrame): DataFrame = {
    val (und, deg, tri) = orientedTriangles(edges)
    val perEdge = triangleEdges(tri)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    // deg is vertex-sized (bounded by the id domain, tiny next to the edge
    // list) — broadcast both roles so the corpus-sized edge frame never
    // shuffles for the degree lookups; only the per-edge common counts
    // (triangle-bounded) meet it in a shuffle join
    und
      .join(broadcast(deg.select(col("id").as("a"), col("deg").as("deg_a"))), Seq("a"))
      .join(broadcast(deg.select(col("id").as("b"), col("deg").as("deg_b"))), Seq("b"))
      .join(perEdge, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("common"), lit(0L)).as("common"),
        col("deg_a"), col("deg_b"))
  }
}
