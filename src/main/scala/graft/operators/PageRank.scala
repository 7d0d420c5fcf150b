package graft.operators

import graft.{GraftQuery, Pin, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph computation as driver-side DataFrame iteration — parity
  * with the reference's PageRank example, which runs a controller/worker
  * tick protocol until convergence
  * (reference: examples/pagerank/src/main/scala/io/gearpump/examples/pagerank/PageRankController.scala:38-70,
  * PageRankWorker.scala:51-72). Spark-native shape per SURVEY §2.1 #22:
  * a batch loop of join + groupBy-sum per iteration with caching to truncate
  * lineage; "unmanaged message" RPC becomes plain dataframe recursion.
  *
  * Graph: the bipartite supplier<->part graph from lineitem, symmetrized so
  * every node has out-degree (no dangling-mass handling needed).
  */
object PageRank {
  private val Damping = 0.85
  private val Iters = 5
  /** Disjoint-domain tag for supplier node ids. TPC-H partkeys reach
    * 200000*SF (2e7 at SF 100, the ~100 TB point), so a small offset would
    * silently fuse supplier and part nodes at large SF — and identically in
    * the oracle, invisible to the compare. 1e12 clears every realistic SF. */
  private[operators] val SuppOffset = 1000000000000L

  def run(s: SparkSession, dir: String): DataFrame =
    iterate(s, dir, maxIters = Iters, tol = 0.0)

  /** Delta-convergence stop — parity with the reference controller's
    * DELTA-threshold termination (reference:
    * examples/pagerank/src/main/scala/io/gearpump/examples/pagerank/PageRankController.scala:47-70):
    * stop when max |rank_k - rank_{k-1}| < `tol`, capped at `maxIters`.
    * The per-tick delta is one scalar `max` aggregate — a driver-side
    * convergence count, same cost shape as the reference's tick RPC. */
  def runUntilConverged(s: SparkSession, dir: String,
      tol: Double = 1e-6, maxIters: Int = 50): DataFrame =
    iterate(s, dir, maxIters, tol)

  private def iterate(s: SparkSession, dir: String, maxIters: Int, tol: Double): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val fwd = li.select((col("l_suppkey") + SuppOffset).as("src"), col("l_partkey").as("dst"))
    val rev = li.select(col("l_partkey").as("src"), (col("l_suppkey") + SuppOffset).as("dst"))
    iterateEdges(s, fwd.union(rev).distinct(), maxIters, tol)
  }

  /** The Lloyd-style power-iteration loop over an arbitrary deduplicated
    * (src, dst) edge frame — [[iterate]]'s body, frame-generic so the
    * public facade (api.GraphAlgorithms.pageRank) runs the identical
    * loop on user graphs. Directed semantics: a node's rank divides over
    * its OUT-edges; nodes with no out-edges (dangling) leak their damped
    * mass, the standard simplification (the registry's fixture symmetrizes
    * so none exist there). */
  private[graft] def iterateEdges(s: SparkSession, edgesIn: DataFrame,
      maxIters: Int, tol: Double): DataFrame = {
    val edges = Pin.reuse(edgesIn)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // nodes = src ∪ dst: on the registry's symmetrized fixture dst ⊆ src
    // (identical result to the historical src-only derivation, oracle
    // unchanged), but a user's DIRECTED graph has sink nodes that only
    // appear as dst — they must hold rank too
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().transform(Pin.reuse)
    val n = nodes.count() // driver-side scalar; fine at any scale
    // each round's tick truncates the LOGICAL plan too — with cache alone
    // the nested-join plan grows per round and planning cost explodes
    val (ranks, _) = Pin.rounds(nodes.withColumn("rank", lit(1.0 / n)), maxIters)((ranks, _) => {
      val contribs = edges
        .join(deg, "src")
        .join(ranks, col("src") === col("node"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
      nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(0.15 / n) + lit(Damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
    }, (ranks, next) =>
      // one scalar per tick: the reference's convergence check
      tol > 0.0 && next.as("a").join(ranks.as("b"), col("a.node") === col("b.node"))
        .agg(max(abs(col("a.rank") - col("b.rank")))).head().getDouble(0) < tol)
    ranks.select(col("node"), round(col("rank"), 8).as("pr")).orderBy(col("node"))
  }

  /** Oracle: the same 5 power iterations unrolled as chained CTEs. */
  private def iterSql(k: Int): String =
    s"""it$k AS (SELECT e.dst AS node, sum(r.rank / d.deg) AS contrib
                 FROM edges e JOIN deg d ON d.src = e.src
                 JOIN r${k - 1} r ON e.src = r.node GROUP BY e.dst),
        r$k AS (SELECT nodes.node, 0.15 / nn.n + 0.85 * coalesce(it$k.contrib, 0.0) AS rank
                FROM nodes CROSS JOIN nn LEFT JOIN it$k ON it$k.node = nodes.node)"""

  val pagerank = GraftQuery(
    "graph_pagerank",
    run,
    Some(s"""WITH edges AS (
               SELECT DISTINCT l_suppkey + $SuppOffset AS src, l_partkey AS dst FROM lineitem
               UNION
               SELECT DISTINCT l_partkey AS src, l_suppkey + $SuppOffset AS dst FROM lineitem),
             deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
             nodes AS (SELECT DISTINCT src AS node FROM edges),
             nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
             r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
             ${(1 to Iters).map(iterSql).mkString(",\n")}
             SELECT node, round(rank, 8) AS pr FROM r$Iters ORDER BY node"""))

  /** BFS HOP DISTANCE from one source node over the same symmetrized
    * supplier<->part graph — the frontier-expansion iterative pattern
    * (shortest unweighted path), the second classic graph protocol after
    * PageRank. Each tick is (frontier JOIN edges) minus visited — an
    * equi-join plus an anti-join, both key-partitioned; the frontier and
    * visited sets hold (node) / (node, hops) only, never edges. Depth is
    * bounded (4), so the loop is four fixed plans; `localCheckpoint`
    * truncates lineage the same way the PageRank loop does. Oracle: a
    * depth-bounded recursive CTE with UNION dedup. */
  val bfs = GraftQuery(
    "graph_bfs",
    // the scope drops the edges once the visited set is checkpointed
    (s, dir) => Pin.scope {
      import s.implicits._
      val li = Tables.t(s, dir, "lineitem")
      val fwd = li.select((col("l_suppkey") + SuppOffset).as("src"), col("l_partkey").as("dst"))
      val rev = li.select(col("l_partkey").as("src"), (col("l_suppkey") + SuppOffset).as("dst"))
      val edges = Pin.reuse(fwd.union(rev).distinct())
      val source = 1L
      // one state: the frontier is the nodes the last round reached
      val (visited, _) = Pin.rounds(Seq((source, 0)).toDF("node", "hops"), 4)((visited, d) =>
        visited.union(visited.filter(col("hops") === d - 1).select(col("node"))
          .join(edges, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select(col("node")).as("v"), Seq("node"), "left_anti")
          .withColumn("hops", lit(d))))
      visited.select(col("node"), col("hops")).orderBy(col("node"))
    },
    Some(s"""WITH RECURSIVE edges AS (
               SELECT DISTINCT l_suppkey + $SuppOffset AS src, l_partkey AS dst FROM lineitem
               UNION
               SELECT DISTINCT l_partkey AS src, l_suppkey + $SuppOffset AS dst FROM lineitem),
             walk(node, d) AS (
               SELECT CAST(1 AS BIGINT) AS node, 0 AS d
               UNION
               SELECT e.dst AS node, w.d + 1 AS d
               FROM walk w JOIN edges e ON e.src = w.node
               WHERE w.d < 4)
             SELECT node, CAST(min(d) AS INTEGER) AS hops
             FROM walk GROUP BY node ORDER BY node"""))

  /** HITS HUBS & AUTHORITIES (Kleinberg 1999) on the DIRECTED
    * supplier→part graph — the third classic iterative protocol after
    * PageRank and BFS, and the one whose two-sided scores (good *curator*
    * vs good *content*) PageRank's single score cannot express. Suppliers
    * are pure hubs, parts pure authorities (the graph is bipartite), so
    * each tick is exactly the textbook pair h=A·a, a=Aᵀ·h: two
    * key-partitioned join+sum passes over the edge list.
    *
    * INTEGER-EXACT normalization: instead of the usual L2 norm (an
    * order-dependent float sum over ALL nodes — not reproducible across
    * engines), each vector is rescaled to max=1e6 with `x * 1e6 div max(x)`
    * over exact BIGINTs. max() is order-free, div truncates identically in
    * Spark and DuckDB on non-negative operands, so every score is
    * bit-exact at any parallelism. The per-tick max is one scalar
    * aggregate to the driver — the same cost shape as the PageRank
    * convergence delta. Int64 headroom: scores ≤ 1e6, so a raw sum ≤
    * 1e6·deg_max and the rescale multiplicand ≤ 1e12·deg_max — safe to
    * deg_max ≈ 9·10⁶ (far past any real catalog's suppliers-per-part).
    * Reference frame: the same controller/worker tick protocol as
    * examples/pagerank (PageRankController.scala:38-70), different
    * fixpoint. */
  /** The HITS tick loop on a directed (src, dst) edge list — factored out
    * so property specs can pin the fixpoint on synthetic graphs (the
    * GraphOpsSpec pattern). Returns (kind, node, score_ppm) with kind
    * 'hub' for src-side nodes and 'auth' for dst-side. That is also each
    * round's state: a round reads the previous authorities (the seed is
    * every dst at 1e6) and emits both sides. `iters` must be at least 1. */
  private[operators] def hitsScores(edges: DataFrame, iters: Int): DataFrame = {
    // raw * 1e6 div max(raw): the per-side max is one scalar job, and the
    // raw sums it builds are read again by the round's later jobs
    def scaled(raw: DataFrame, kind: String, node: String): DataFrame = {
      val sums = Pin.reuse(raw)
      val top = sums.agg(max(col("raw"))).head().getLong(0)
      sums.select(lit(kind).as("kind"), col(node).as("node"),
        expr(s"raw * 1000000 div ${top}L").as("score_ppm"))
    }
    val seed = edges.select(lit("auth").as("kind"), col("dst").as("node"),
      lit(1000000L).as("score_ppm")).distinct()
    Pin.rounds(seed, iters)((prev, _) => {
      val auth = prev.filter(col("kind") === "auth")
      val hub = scaled(edges.join(auth, col("dst") === col("node"))
        .groupBy(col("src")).agg(sum(col("score_ppm")).as("raw")), "hub", "src")
      val next = scaled(edges.join(hub, col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("score_ppm")).as("raw")), "auth", "dst")
      hub.union(next)
    })._1
  }

  val hits = GraftQuery(
    "graph_hits",
    (s, dir) => {
      val li = Tables.t(s, dir, "lineitem")
      // the scope drops the edges once the score ticks are checkpointed
      Pin.scope {
        val edges = li.select(col("l_suppkey").as("src"), col("l_partkey").as("dst"))
          .distinct().transform(Pin.reuse)
        hitsScores(edges, iters = 3)
      }.orderBy(col("kind"), col("node"))
    },
    Some("""WITH edges AS MATERIALIZED (
               SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
             a0 AS (SELECT DISTINCT dst AS node, CAST(1000000 AS BIGINT) AS a FROM edges),
             h1r AS MATERIALIZED (
               SELECT e.src, CAST(sum(a.a) AS BIGINT) AS h_raw
               FROM edges e JOIN a0 a ON a.node = e.dst GROUP BY e.src),
             h1 AS MATERIALIZED (
               SELECT src, CAST(h_raw * 1000000 // (SELECT max(h_raw) FROM h1r) AS BIGINT) AS h FROM h1r),
             a1r AS MATERIALIZED (
               SELECT e.dst, CAST(sum(h.h) AS BIGINT) AS a_raw
               FROM edges e JOIN h1 h ON h.src = e.src GROUP BY e.dst),
             a1 AS MATERIALIZED (
               SELECT dst AS node, CAST(a_raw * 1000000 // (SELECT max(a_raw) FROM a1r) AS BIGINT) AS a FROM a1r),
             h2r AS MATERIALIZED (
               SELECT e.src, CAST(sum(a.a) AS BIGINT) AS h_raw
               FROM edges e JOIN a1 a ON a.node = e.dst GROUP BY e.src),
             h2 AS MATERIALIZED (
               SELECT src, CAST(h_raw * 1000000 // (SELECT max(h_raw) FROM h2r) AS BIGINT) AS h FROM h2r),
             a2r AS MATERIALIZED (
               SELECT e.dst, CAST(sum(h.h) AS BIGINT) AS a_raw
               FROM edges e JOIN h2 h ON h.src = e.src GROUP BY e.dst),
             a2 AS MATERIALIZED (
               SELECT dst AS node, CAST(a_raw * 1000000 // (SELECT max(a_raw) FROM a2r) AS BIGINT) AS a FROM a2r),
             h3r AS MATERIALIZED (
               SELECT e.src, CAST(sum(a.a) AS BIGINT) AS h_raw
               FROM edges e JOIN a2 a ON a.node = e.dst GROUP BY e.src),
             h3 AS MATERIALIZED (
               SELECT src, CAST(h_raw * 1000000 // (SELECT max(h_raw) FROM h3r) AS BIGINT) AS h FROM h3r),
             a3r AS MATERIALIZED (
               SELECT e.dst, CAST(sum(h.h) AS BIGINT) AS a_raw
               FROM edges e JOIN h3 h ON h.src = e.src GROUP BY e.dst),
             a3 AS MATERIALIZED (
               SELECT dst AS node, CAST(a_raw * 1000000 // (SELECT max(a_raw) FROM a3r) AS BIGINT) AS a FROM a3r)
             SELECT 'hub' AS kind, src AS node, h AS score_ppm FROM h3
             UNION ALL
             SELECT 'auth' AS kind, node, a AS score_ppm FROM a3
             ORDER BY kind, node"""))

  /** PERSONALIZED PAGERANK: random walks that teleport back to a SEED SET
    * instead of the uniform distribution — the relevance-to-these-nodes
    * score behind recommendation ("parts related to what supplier group S
    * touches") and local community detection. Same symmetrized
    * supplier<->part graph, same 5-tick power iteration and float
    * discipline as [[pagerank]] (per-node group-by sums, round(,8));
    * the ONLY change is the teleport vector: 0.15/|S| on seeds
    * (node % 17 == 0), 0 elsewhere — so mass decays with distance from
    * the seeds and unreachable nodes go to 0, which is the point.
    * |S| is one driver-side scalar, exactly like [[pagerank]]'s n. */
  val ppr = GraftQuery(
    "graph_personalized_pagerank",
    // the scope drops edges and nodes once the rank ticks are checkpointed
    (s, dir) => Pin.scope {
      val li = Tables.t(s, dir, "lineitem")
      val fwd = li.select((col("l_suppkey") + SuppOffset).as("src"), col("l_partkey").as("dst"))
      val rev = li.select(col("l_partkey").as("src"), (col("l_suppkey") + SuppOffset).as("dst"))
      val edges = Pin.reuse(fwd.union(rev).distinct())
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val nodes = Pin.reuse(edges.select(col("src").as("node")).distinct())
      val nSeeds = nodes.filter(col("node") % 17 === 0).count()
      val teleport = when(col("node") % 17 === 0, lit(0.15 / nSeeds)).otherwise(lit(0.0))
      val seed = nodes.withColumn("rank",
        when(col("node") % 17 === 0, lit(1.0 / nSeeds)).otherwise(lit(0.0)))
      val (ranks, _) = Pin.rounds(seed, Iters)((ranks, _) => {
        val contribs = edges
          .join(deg, "src")
          .join(ranks, col("src") === col("node"))
          .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
        nodes.join(contribs, Seq("node"), "left")
          .select(col("node"),
            (teleport + lit(Damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
      })
      ranks.select(col("node"), round(col("rank"), 8).as("ppr")).orderBy(col("node"))
    },
    Some(s"""WITH edges AS (
               SELECT DISTINCT l_suppkey + $SuppOffset AS src, l_partkey AS dst FROM lineitem
               UNION
               SELECT DISTINCT l_partkey AS src, l_suppkey + $SuppOffset AS dst FROM lineitem),
             deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
             nodes AS (SELECT DISTINCT src AS node FROM edges),
             nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes WHERE node % 17 = 0),
             r0 AS (SELECT node,
                      CASE WHEN node % 17 = 0 THEN 1.0 / nn.n ELSE 0.0 END AS rank
                    FROM nodes CROSS JOIN nn),
             ${(1 to Iters).map(pprIterSql).mkString(",\n")}
             SELECT node, round(rank, 8) AS ppr FROM r$Iters ORDER BY node"""))

  /** Oracle tick for [[ppr]]: seed-restricted teleport, else [[iterSql]]. */
  private def pprIterSql(k: Int): String =
    s"""it$k AS (SELECT e.dst AS node, sum(r.rank / d.deg) AS contrib
                 FROM edges e JOIN deg d ON d.src = e.src
                 JOIN r${k - 1} r ON e.src = r.node GROUP BY e.dst),
        r$k AS (SELECT nodes.node,
                  CASE WHEN nodes.node % 17 = 0 THEN 0.15 / nn.n ELSE 0.0 END
                    + 0.85 * coalesce(it$k.contrib, 0.0) AS rank
                FROM nodes CROSS JOIN nn LEFT JOIN it$k ON it$k.node = nodes.node)"""

  val all: Seq[GraftQuery] = Seq(pagerank, bfs, hits, ppr)
}
