package graft.operators

import graft.{GraftQuery, Pin, Tables}
import graft.functions.md5Prefix
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Bulk graph analytics beyond the PageRank/BFS tick protocols — the two
  * remaining classic iterative/relational graph shapes a dataflow engine is
  * expected to serve (the reference frames iterative computation as the
  * controller/worker protocol in
  * examples/pagerank/src/main/scala/io/gearpump/examples/pagerank/PageRankController.scala:38-70;
  * these use the same driver-side-iteration Spark mapping per SURVEY §2.1 #22).
  *
  * [[components]] is the engine's ONE connected-components implementation —
  * dedup_clusters' near-dup clustering delegates here too (Dedup.scala), so
  * the pointer-jumping upgrade below accelerates both.
  */
object GraphOps {
  private val SuppOffset = PageRank.SuppOffset // shared disjoint-domain tag

  /** Generic undirected CONNECTED COMPONENTS: min-label propagation with
    * POINTER JUMPING (each tick also applies label := label(label)), so
    * convergence is O(log diameter) ticks instead of O(diameter) — the
    * property that keeps CC viable on a 100 TB edge set where a long chain
    * would otherwise demand thousands of shuffles. Per tick only (node,
    * label) pairs move; edges join labels but never edges. Each tick is cut
    * from the last by an eager localCheckpoint (lineage AND logical plan,
    * the PageRank discipline); convergence is one driver-side scalar.
    *
    * Input: a two-column DataFrame of undirected pairs (any column names).
    * Output: (node, label) where label = min node id reachable. */
  private[graft] def components(pairsIn: DataFrame): DataFrame =
    componentsWithTicks(pairsIn)._1

  /** [[components]] plus the tick count it converged in — exposed so the
    * spec can pin the pointer-jumping O(log diameter) bound (a chain of
    * n nodes must converge in ~log2(n) ticks, not n). */
  private[graft] def componentsWithTicks(pairsIn: DataFrame): (DataFrame, Int) = Pin.scope {
    val p = pairsIn.toDF("a", "b")
    val edges = p.select(col("a").as("src"), col("b").as("dst"))
      .union(p.select(col("b").as("src"), col("a").as("dst")))
      .distinct().transform(Pin.reuse)
    val seed = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).transform(Pin.reuse) // read by round 1 and its test
    // each node's own label enters its hook as a self-loop
    val hooks = edges.union(seed.select(col("node").as("src"), col("node").as("dst")))
      .transform(Pin.reuse)
    Pin.rounds(seed, 50)((labels, _) => {
      // hook: each node takes the min label over itself and its neighbors
      val hooked = hooks.join(labels, col("src") === col("node"))
        .groupBy(col("dst").as("node")).agg(min(col("label")).as("label"))
        .transform(Pin.reuse) // read twice by the shortcut self-join below
      // shortcut (pointer jumping): follow one level of label indirection —
      // this is what turns O(diameter) ticks into O(log diameter)
      hooked.as("x")
        .join(hooked.select(col("node").as("ln"), col("label").as("lab2")).as("y"),
          col("x.label") === col("y.ln"), "left")
        .select(col("x.node").as("node"),
          least(col("x.label"), coalesce(col("lab2"), col("x.label"))).as("label"))
    }, (labels, short) => short.as("n").join(labels.as("o"), col("n.node") === col("o.node"))
      .filter(col("n.label") =!= col("o.label")).count() == 0)
  }

  /** Deduplicated id-oriented (u < v) part co-purchase edges — parts
    * appearing in the same order; shared by [[triangleCount]] and
    * [[labelPropagation]]. */
  private[graft] def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
  }

  /** Node degrees of an undirected graph given as its deduplicated u<v
    * half-edge list — one node-keyed count, key-sized output. Shared by the
    * wedge family ([[triangleCount]], [[commonNeighbors]]) so degrees are
    * computed once per graph (the graph_degree_hist aggregate). */
  private[graft] def degrees(half: DataFrame): DataFrame =
    half.select(col("u").as("node")).union(half.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** (degree, id)-ORIENTED edge list: each undirected edge {u,v} directed
    * from its lower-(deg, id) endpoint, carrying both endpoint degrees —
    * the compact-forward orientation (Latapy's triangle survey; Suri &
    * Vassilvitskii's MR triangle counting). The property that matters at
    * 100 TB: a power-law hub's OUT-degree counts only its higher-(deg,id)
    * neighbors, so oriented wedge enumeration does
    * Σ_v C(outdeg(v),2) = O(Σ_{u,v}∈E min(deg u, deg v)) work instead of
    * Σ_v deg(v)² — a degree-10⁶ celebrity whose neighbors are ordinary
    * nodes opens ~zero wedges instead of 10¹². Output columns:
    * (src, sdeg, dst, ddeg) with (sdeg, src) < (ddeg, dst). */
  private[graft] def orient(half: DataFrame, deg: DataFrame): DataFrame = {
    val du = deg.select(col("node").as("u"), col("deg").as("udeg"))
    val dv = deg.select(col("node").as("v"), col("deg").as("vdeg"))
    val lowFirst = col("udeg") < col("vdeg") ||
      (col("udeg") === col("vdeg") && col("u") < col("v"))
    half.join(du, "u").join(dv, "v")
      .select(
        when(lowFirst, col("u")).otherwise(col("v")).as("src"),
        when(lowFirst, col("udeg")).otherwise(col("vdeg")).as("sdeg"),
        when(lowFirst, col("v")).otherwise(col("u")).as("dst"),
        when(lowFirst, col("vdeg")).otherwise(col("udeg")).as("ddeg"))
  }

  /** Ordered out-out wedge candidates of the oriented edge list: rows
    * (x, y, z) where x→y and x→z are oriented edges and (ydeg, y) <
    * (zdeg, z). Every triangle {x,y,z} has EXACTLY ONE such apex (its
    * (deg,id)-minimum corner), so closing with the oriented edge y→z
    * counts each triangle once — and the row count is Σ_v C(outdeg(v),2),
    * the hub-safe bound pinned by GraphOpsSpec's planted-star property. */
  private[graft] def orientedWedges(o: DataFrame): DataFrame =
    o.as("e1").join(o.as("e2"),
        col("e2.src") === col("e1.src") &&
          (col("e1.ddeg") < col("e2.ddeg") ||
            (col("e1.ddeg") === col("e2.ddeg") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))

  /** Sparse symmetrized supplier<->part subgraph (every 50th order) —
    * sparse enough that the DuckDB transitive-closure oracle is cheap while
    * still leaving multiple non-trivial components. */
  private def ccPairs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 50 === 0)
      .select((col("l_suppkey") + SuppOffset).as("a"), col("l_partkey").as("b"))

  val connectedComponents = GraftQuery(
    "graph_connected_components",
    (s, dir) =>
      components(ccPairs(s, dir))
        .select(col("node"), col("label").as("component")).orderBy(col("node")),
    Some(s"""WITH RECURSIVE edges AS (
               SELECT DISTINCT l_suppkey + $SuppOffset AS src, l_partkey AS dst
               FROM lineitem WHERE l_orderkey % 50 = 0
               UNION
               SELECT DISTINCT l_partkey AS src, l_suppkey + $SuppOffset AS dst
               FROM lineitem WHERE l_orderkey % 50 = 0),
             reach(node, r) AS (
               SELECT src, src FROM edges
               UNION
               SELECT re.node, e.dst FROM reach re JOIN edges e ON e.src = re.r)
             SELECT node, min(r) AS component FROM reach GROUP BY node ORDER BY node"""))

  /** TRIANGLE COUNTING over the part co-purchase graph (parts appearing in
    * the same order), reporting the 20 most clustered parts. Edges are
    * (degree, id)-oriented ([[orient]]) and each triangle is enumerated
    * exactly once from its (deg,id)-minimum corner via the out-out wedge
    * join ([[orientedWedges]]) closed by the oriented edge y→z — the
    * compact-forward discipline that bounds wedge fan-out at power-law
    * hubs to Σ C(outdeg,2) instead of Σ deg² (a degree-10⁶ hub with
    * ordinary neighbors has outdeg ≈ 0). The per-node triangle counts are
    * orientation-invariant, so the oracle enumerates with the simpler
    * id-orientation and the outputs hash-match. The oriented list is
    * cached because it is read three times (two wedge sides + closure). */
  val triangleCount = GraftQuery(
    "graph_triangles",
    (s, dir) => {
      val half = Pin.reuse(coPurchaseEdges(s, dir))
      val o = Pin.reuse(orient(half, degrees(half)))
      val tri = orientedWedges(o)
        .join(o.as("e3"), col("e3.src") === col("y") && col("e3.dst") === col("z"))
        .select(col("x"), col("y"), col("z"))
      val out = tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("node")).limit(20)
      out
    },
    Some("""WITH e AS (
              SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
            tri AS (
              SELECT e1.u AS x, e1.v AS y, e2.v AS z
              FROM e e1 JOIN e e2 ON e2.u = e1.v
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
            SELECT node, count(*) AS n_triangles FROM (
              SELECT x AS node FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri)
            GROUP BY node ORDER BY n_triangles DESC, node LIMIT 20"""))

  /** SEMI-SUPERVISED LABEL PROPAGATION (the classic LPA/label-spreading
    * protocol): seed nodes carry a clamped known label; each round every
    * unseeded node adopts the MAJORITY label among its labeled neighbors
    * (deterministic tie-break: smallest label), for 3 fixed rounds. The
    * fourth iterative graph protocol after PageRank/BFS/CC — per round the
    * shuffles are (node, label) votes keyed by node, never edges-join-edges;
    * rounds are a fixed unrollable count so the oracle is three chained
    * CTEs. Graph: the part co-purchase graph; seeds: every 20th part keyed
    * by partkey mod 5. */
  /** The 3-round LPA loop shared by [[labelPropagation]] and
    * [[modularity]]: (node, seed, label) for EVERY node, label null where
    * no labeled neighbor ever reached it. */
  /** The clamped-seed LPA core over BOTH-DIRECTION (u, v) edges and a
    * (node, seed) frame (null seed = unlabeled): each round every node
    * adopts the majority label of its labeled neighbors (min-label
    * tie-break — a total order, so rounds are deterministic), seeds stay
    * clamped. Per round the shuffles are one edge-keyed join + one
    * (node, label) vote count; ticks are cut by eager localCheckpoint.
    * Shared by graph_label_propagation and
    * [[graft.api.GraphAlgorithms.labelPropagation]].
    * The edge and seed caches live for the call: the returned labels are
    * the last round's tick.
    * @return (node, seed, label) after `rounds` synchronous rounds */
  private[graft] def lpaOn(edges0: DataFrame, seeds0: DataFrame,
      rounds: Int): DataFrame = Pin.scope {
    val edges = Pin.reuse(edges0)
    val seeds = Pin.reuse(seeds0) // the first state, and clamped every round
    Pin.rounds(seeds.withColumn("label", col("seed")), rounds)((labels, _) => {
      val votes = edges.join(labels, col("u") === col("node"))
        .filter(col("label").isNotNull)
        .groupBy(col("v").as("n"), col("label")).agg(count(lit(1)).as("c"))
      val adopted = votes
        .withColumn("best", min(struct(negate(col("c")).as("negc"), col("label").as("lab")))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("n"))))
        .filter(col("c") === -col("best.negc") && col("label") === col("best.lab"))
        .select(col("n").as("node"), col("label").as("adopted"))
      seeds.join(adopted, Seq("node"), "left")
        .select(col("node"), col("seed"),
          coalesce(col("seed"), col("adopted")).as("label"))
    })._1
  }

  private def lpaLabels(s: SparkSession, dir: String): DataFrame = {
    val half = coPurchaseEdges(s, dir)
    val edges = half.union(half.select(col("v").as("u"), col("u").as("v")))
    val nodes = edges.select(col("u").as("node")).distinct()
    val seeds = nodes.select(col("node"),
      when(col("node") % 20 === 0, col("node") % 5).as("seed"))
    lpaOn(edges, seeds, 3)
  }

  /** The matching DuckDB WITH-prefix (through lab3) shared by both LPA
    * consumers; callers append their own CTEs with a leading comma. */
  private lazy val LpaOracleCtes: String = {
    def round(k: Int): String =
      s"""v$k AS (SELECT e.v AS n, l.label, count(*) AS c
                  FROM edges e JOIN lab${k - 1} l ON l.node = e.u
                  WHERE l.label IS NOT NULL GROUP BY e.v, l.label),
          a$k AS (SELECT n, min(label) AS adopted FROM v$k x
                  WHERE c = (SELECT max(c) FROM v$k y WHERE y.n = x.n)
                  GROUP BY n),
          lab$k AS (SELECT s.node, s.seed, coalesce(s.seed, a$k.adopted) AS label
                    FROM seeds s LEFT JOIN a$k ON a$k.n = s.node)"""
    s"""half AS MATERIALIZED (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        edges AS (SELECT u, v FROM half UNION ALL SELECT v, u FROM half),
        nodes AS (SELECT DISTINCT u AS node FROM edges),
        seeds AS (SELECT node,
            CASE WHEN node % 20 = 0 THEN node % 5 END AS seed FROM nodes),
        lab0 AS (SELECT node, seed, seed AS label FROM seeds),
        ${(1 to 3).map(round).mkString(",\n")}"""
  }

  val labelPropagation = GraftQuery(
    "graph_label_propagation",
    (s, dir) =>
      lpaLabels(s, dir).filter(col("label").isNotNull)
        .select(col("node"), col("label")).orderBy(col("node")),
    Some(s"""WITH $LpaOracleCtes
          SELECT node, label FROM lab3 WHERE label IS NOT NULL ORDER BY node"""))

  /** K-CORE DECOMPOSITION (iterative peeling): repeatedly remove every node
    * whose degree in the induced subgraph is < k, simultaneously per round,
    * until fixpoint — the maximal subgraph where every node keeps >= k
    * neighbors. The web-graph quality gate (spam/link-farm pruning) and the
    * fifth iterative protocol here; unlike CC/LPA/PageRank's monotone label
    * flow this is ANTI-monotone peeling, so it exercises the
    * shrink-until-stable loop shape. Per round the shuffles are a node-keyed
    * degree count and two semi-join-shaped filters of edges against the
    * (shrinking) alive set — edges never join edges; each tick is cut from
    * the last by an eager localCheckpoint (the [[components]] discipline)
    * and convergence is one driver-side scalar.
    *
    * Peeling removes all sub-k nodes of a round AT ONCE, so the result is
    * deterministic and the DuckDB oracle can unroll rounds: fixpoint on this
    * graph takes <= 5 rounds at sf0.1 (fewer below), and extra unrolled
    * rounds are no-ops because the peel step is idempotent at fixpoint —
    * the oracle unrolls 12. */
  private[graft] def kcore(pairsIn: DataFrame, k: Int): (DataFrame, Int) = Pin.scope {
    val p = pairsIn.toDF("a", "b")
    val edges = p.select(col("a").as("u"), col("b").as("v"))
      .union(p.select(col("b").as("u"), col("a").as("v")))
      .distinct().transform(Pin.reuse)
    def degrees(alive: DataFrame): DataFrame =
      edges.join(alive.select(col("node").as("u")), "u")
        .join(alive.select(col("node").as("v")), "v")
        .groupBy(col("u")).agg(count(lit(1)).as("c"))
    // alive sets only ever SHRINK (next joins against alive). Each tick's
    // alive carries the degrees of the round that produced it: at fixpoint
    // those ARE the final core degrees, so no post-loop recompute is needed.
    val seed = edges.select(col("u").as("node")).distinct().withColumn("c", lit(0L))
    val fixpoint = new Shrinking(seed.count())
    val (alive, it) = Pin.rounds(seed, 50)((alive, _) =>
      degrees(alive.select("node")).filter(col("c") >= k)
        .select(col("u").as("node"), col("c")), fixpoint)
    // a capped non-fixpoint result would be silently NOT a k-core — fail
    // loudly instead (50 rounds >> any graph this serves; see OracleRounds)
    require(fixpoint.stable, s"kcore failed to reach fixpoint within $it rounds")
    (alive.select(col("node"), col("c").as("degree")), it)
  }

  /** The stop test of a loop whose state only shrinks ([[kcore]]'s alive
    * set, [[ktruss]]'s edges): equal row counts mean equal sets, a
    * fixpoint. Counts each tick in one narrow job over its blocks
    * (`count()` plans an aggregate: two jobs). */
  private final class Shrinking(private var rows: Long) extends ((DataFrame, DataFrame) => Boolean) {
    var stable = false
    def apply(prev: DataFrame, next: DataFrame): Boolean = {
      val m = next.queryExecution.toRdd.count()
      stable = m == rows
      rows = m
      stable
    }
  }

  /** Rounds the DuckDB oracle unrolls; the engine's peel count must stay
    * strictly under it or the two diverge SILENTLY (a bare hash mismatch).
    * Checked at run time in the registry query so a driver-data
    * regeneration that deepens the peel fails with a diagnosis instead. */
  private val OracleRounds = 12

  val kcoreQuery = GraftQuery(
    "graph_kcore",
    (s, dir) => {
      val (core, ticks) = kcore(ccPairs(s, dir), 2)
      // ticks includes the final no-change round, so effective peel depth
      // is ticks-1; the oracle is exact while that stays <= OracleRounds-1
      require(ticks <= OracleRounds - 1,
        s"kcore peel depth $ticks exceeds the $OracleRounds-round unrolled oracle — " +
          "raise OracleRounds and the oracle SQL together")
      core.orderBy(col("node"))
    },
    Some {
      // MATERIALIZED is load-bearing: DuckDB inlines CTEs by default, and
      // each round references the previous alive set twice — 12 inlined
      // rounds would duplicate the base subtree 2^12 times
      def round(i: Int): String =
        s"""d$i AS MATERIALIZED (SELECT e.u AS node, count(*) AS c
                    FROM edges e JOIN a${i - 1} x ON e.u = x.node
                                 JOIN a${i - 1} y ON e.v = y.node
                    GROUP BY e.u),
            a$i AS MATERIALIZED (SELECT node FROM d$i WHERE c >= 2)"""
      s"""WITH half AS (
            SELECT DISTINCT l_suppkey + $SuppOffset AS u, l_partkey AS v
            FROM lineitem WHERE l_orderkey % 50 = 0),
          edges AS MATERIALIZED (SELECT u, v FROM half UNION ALL SELECT v, u FROM half),
          a0 AS (SELECT DISTINCT u AS node FROM edges),
          ${(1 to 12).map(round).mkString(",\n")}
          SELECT node, CAST(c AS BIGINT) AS degree FROM d12 WHERE c >= 2
          ORDER BY node"""
    })

  /** WEIGHTED SINGLE-SOURCE SHORTEST PATH, hop-bounded — the Bellman-Ford
    * frontier-relaxation protocol (the sixth iterative graph shape after
    * PageRank/BFS/CC/LPA/k-core; the reference frames iterative computation
    * as the controller/worker tick protocol,
    * examples/pagerank/.../PageRankController.scala:38-70). Per round the
    * only shuffle is the (node, candidate-dist) min-merge keyed by node —
    * the distance table and the relaxation messages are (node, dist) pairs,
    * never edges-join-edges; each round is cut from the last by an eager
    * localCheckpoint (the [[components]] discipline). The round count is a
    * FIXED hop bound (like graph_bfs's depth 4), so the plan is `maxHops`
    * unrollable rounds and the DuckDB oracle is the same rounds as
    * MATERIALIZED CTEs (the graph_kcore precedent) — semantics: min path
    * weight among paths of <= maxHops edges. Weights are exact BIGINTs, so
    * no accumulation order anywhere can flip a bit.
    *
    * Input: directed weighted edges (src, dst, w); `sources` is a 1-row
    * (node, dist=0) seed. Output: (node, dist) for nodes reachable within
    * the hop bound. */
  private[graft] def sssp(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame =
    Pin.rounds(sources, maxHops)((dist, _) => {
      val relax = dist.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("cand"))
      dist.select(col("node"), col("dist").as("cand")).union(relax)
        .groupBy(col("node")).agg(min(col("cand")).as("dist"))
    })._1

  private val SsspHops = 6

  val ssspQuery = GraftQuery(
    "graph_sssp",
    // the scope drops the edges once the relaxation rounds are checkpointed
    (s, dir) => Pin.scope {
      // weighted symmetrized supplier<->part subgraph: weight = min quantity
      // over the lineitems that realize the edge (deterministic; quantities
      // are integral 1..50, exact as BIGINT)
      val li = Tables.t(s, dir, "lineitem").filter(col("l_orderkey") % 50 === 0)
        .select((col("l_suppkey") + SuppOffset).as("a"), col("l_partkey").as("b"),
          col("l_quantity").cast("bigint").as("q"))
      val half = li.groupBy(col("a"), col("b")).agg(min(col("q")).as("w"))
      val edges = half.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .union(half.select(col("b").as("src"), col("a").as("dst"), col("w")))
        .transform(Pin.reuse)
      // source = min node id: one row, collected so the rounds read it as
      // a local relation, which costs no job however often they read it
      val source = edges.select(col("src").as("node")).agg(min(col("node")).as("node"))
        .withColumn("dist", lit(0L))
      sssp(edges, s.createDataFrame(source.collect().toSeq.asJava, source.schema), SsspHops)
        .orderBy(col("node"))
    },
    Some {
      // MATERIALIZED is load-bearing (the graph_kcore precedent): each round
      // references the previous distance CTE twice; DuckDB would inline
      // 2^rounds copies of the base subtree otherwise
      def round(i: Int): String =
        s"""d$i AS MATERIALIZED (
              SELECT node, min(cand) AS dist FROM (
                SELECT node, dist AS cand FROM d${i - 1}
                UNION ALL
                SELECT e.dst AS node, d.dist + e.w AS cand
                FROM d${i - 1} d JOIN edges e ON e.src = d.node)
              GROUP BY node)"""
      s"""WITH half AS (
            SELECT l_suppkey + $SuppOffset AS a, l_partkey AS b,
                   min(CAST(l_quantity AS BIGINT)) AS w
            FROM lineitem WHERE l_orderkey % 50 = 0 GROUP BY a, b),
          edges AS MATERIALIZED (
            SELECT a AS src, b AS dst, w FROM half
            UNION ALL SELECT b AS src, a AS dst, w FROM half),
          d0 AS (SELECT min(src) AS node, CAST(0 AS BIGINT) AS dist FROM edges),
          ${(1 to SsspHops).map(round).mkString(",\n")}
          SELECT node, dist FROM d$SsspHops ORDER BY node"""
    })

  /** DEGREE DISTRIBUTION: node-degree histogram of the undirected
    * supplier~part co-purchase graph — the first profile run on any new
    * edge set (heavy-tail shape decides whether k-core/LPA/CC need skew
    * handling). Edges DISTINCT'd scan-side; degrees are one node-keyed
    * count and the histogram one degree-keyed count — two key-sized
    * shuffles, never edges-join-edges. */
  val degreeHist = GraftQuery(
    "graph_degree_hist",
    (s, dir) => {
      val half = Tables.t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 50 === 0)
        .select((col("l_suppkey") + SuppOffset).as("a"), col("l_partkey").as("b"))
        .distinct()
      val deg = half.select(col("a").as("node"))
        .union(half.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      deg.groupBy(col("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("degree"))
    },
    Some(s"""WITH half AS (
              SELECT DISTINCT l_suppkey + $SuppOffset AS a, l_partkey AS b
              FROM lineitem WHERE l_orderkey % 50 = 0),
            deg AS (SELECT node, count(*) AS degree FROM (
                SELECT a AS node FROM half UNION ALL SELECT b AS node FROM half)
              GROUP BY node)
            SELECT degree, count(*) AS n_nodes
            FROM deg GROUP BY degree ORDER BY degree"""))

  /** TWO-HOP NEIGHBORHOOD SIZE: |{nodes at distance <= 2}| per node — the
    * friends-of-friends reach metric (and the audience estimate one more
    * BFS round would visit). Same frontier algebra as [[ssspQuery]]
    * restricted to 2 unrollable rounds with unit distances, so the only
    * shuffles are (node, reached) pair dedups; edges join the frontier,
    * never edges-join-edges unbounded. Self excluded. */
  val twoHop = GraftQuery(
    "graph_two_hop",
    (s, dir) => {
      val half = Tables.t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 50 === 0)
        .select((col("l_suppkey") + SuppOffset).as("a"), col("l_partkey").as("b"))
        .distinct()
      val edges = half.select(col("a").as("src"), col("b").as("dst"))
        .union(half.select(col("b").as("src"), col("a").as("dst")))
      val hop1 = edges.select(col("src").as("node"), col("dst").as("r")).distinct()
      val hop2 = hop1.join(edges, col("r") === col("src"))
        .select(col("node"), col("dst").as("r"))
      hop1.union(hop2).distinct()
        .filter(col("node") =!= col("r"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_within_2"))
        .orderBy(col("node"))
    },
    Some(s"""WITH half AS (
              SELECT DISTINCT l_suppkey + $SuppOffset AS a, l_partkey AS b
              FROM lineitem WHERE l_orderkey % 50 = 0),
            edges AS MATERIALIZED (
              SELECT a AS src, b AS dst FROM half
              UNION ALL SELECT b AS src, a AS dst FROM half),
            hop1 AS MATERIALIZED (SELECT DISTINCT src AS node, dst AS r FROM edges),
            reach AS (
              SELECT node, r FROM hop1
              UNION
              SELECT h.node, e.dst AS r FROM hop1 h JOIN edges e ON e.src = h.r)
            SELECT node, count(*) AS n_within_2
            FROM reach WHERE node <> r
            GROUP BY node ORDER BY node"""))

  /** Wedge-center degree cap for [[commonNeighbors]]. Exact common-neighbor
    * counting is intrinsically Σ_c C(deg(c),2) wedges — no orientation can
    * shrink the OUTPUT — so the only 100 TB defense against a degree-10⁶
    * celebrity center (10¹² wedge rows through one shuffle key) is to
    * exclude super-hub centers, the standard link-prediction discipline
    * (a neighbor shared with everyone carries no signal; cf. Adamic-Adar's
    * 1/log(deg) down-weighting). The cap is PART OF THE QUERY SEMANTICS —
    * the DuckDB oracle applies the identical `deg <= cap` predicate — so
    * results stay bit-exact at any scale; drops are logged, never silent
    * (max center degree at sf0.1 is 222, so nothing drops at test SFs). */
  private[operators] val WedgeHubCap = 1024

  /** Exact common-neighbor counts (a < b by id, count >= 1) of the
    * undirected graph given by its u<v half-edge list, excluding wedge
    * centers with degree > hubCap. Each unordered wedge a—c—b is generated
    * EXACTLY ONCE by splitting c's neighbor pairs along the (deg, id)
    * orientation — (in,in), (in,out), (out,out) partition the pairs — so
    * the join emits Σ C(deg,2) rows instead of generating Σ deg² and
    * filtering half away, and each side of every join is the half-sized
    * oriented list, never the doubled und list. Alongside `n_common` the
    * aggregate also folds each wedge's RESOURCE-ALLOCATION term
    * 1e6 div deg(c) into `ra_micro` (Zhou et al. 2009) — the
    * center-degree down-weighting [[resourceAlloc]] ranks by; the extra
    * column rides the existing wedge pass for free. */
  private[graft] def commonNeighborCounts(
      half: DataFrame, deg: DataFrame, hubCap: Int): DataFrame = {
    // cached (r19): the oriented list feeds SIX join inputs below (both
    // sides of three wedge joins), and uncached Catalyst re-executes the
    // orient half⨝deg⨝deg chain under every one of them — the committed
    // before-plan shows the repeated exchange+sort+SMJ subtrees. One
    // in-memory copy, the same discipline as the callers' cached e/deg
    // (and the GraphAlgorithms facade, which already pins its oriented
    // list).
    val o = Pin.reuse(orient(half, deg))
    // neighbor lists keyed by the wedge CENTER c, carrying the center's
    // own degree and the neighbor's (deg, id) rank; capped centers are
    // excluded on both lists
    val inL = o.filter(col("ddeg") <= hubCap)
      .select(col("dst").as("c"), col("ddeg").as("cdeg"),
        col("src").as("x"), col("sdeg").as("xdeg"))
    val outL = o.filter(col("sdeg") <= hubCap)
      .select(col("src").as("c"), col("sdeg").as("cdeg"),
        col("dst").as("x"), col("ddeg").as("xdeg"))
    def pairs(l: DataFrame, r: DataFrame, ordered: Boolean): DataFrame = {
      val on =
        if (ordered)
          col("l.c") === col("r.c") &&
            (col("l.xdeg") < col("r.xdeg") ||
              (col("l.xdeg") === col("r.xdeg") && col("l.x") < col("r.x")))
        else col("l.c") === col("r.c")
      l.as("l").join(r.as("r"), on)
        .select(least(col("l.x"), col("r.x")).as("a"),
          greatest(col("l.x"), col("r.x")).as("b"), col("l.cdeg").as("cdeg"))
    }
    // (in,in) and (out,out) need the ord filter to emit each pair once;
    // (in,out) pairs are automatically distinct and once-each (the in
    // neighbor ranks below c, the out neighbor above)
    pairs(inL, inL, ordered = true)
      .union(pairs(inL, outL, ordered = false))
      .union(pairs(outL, outL, ordered = true))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000 div cdeg")).as("ra_micro"))
  }

  /** Observed-metric name under which [[commonNeighbors]] reports its
    * dropped-hub count (surfaced by [[DropLogger]] at execution
    * time, and by the ops server's observedMetrics passthrough). */
  private[operators] val DroppedCentersMetric = "graph_common_neighbors_drops"

  /** [[resourceAlloc]]'s twin of [[DroppedCentersMetric]] — observe-node
    * names must be distinct per query, so the RA ranking reports its hub
    * drops under its own name (same listener, same semantics). */
  private[operators] val RaDroppedCentersMetric = "graph_resource_alloc_drops"

  /** [[bipartiteC4]]'s hub-drop metrics — one per part, because a
    * bipartite wedge pass has centers on BOTH sides and a single count
    * would hide which part grew the hub. */
  private[operators] val BipartitePartDropsMetric = "graph_bipartite_c4_part_drops"
  private[operators] val BipartiteSuppDropsMetric = "graph_bipartite_c4_supp_drops"

  /** QueryExecutionListener that warn-logs the
    * [[DroppedCentersMetric]] observations when nonzero — the cap stays
    * loud WITHOUT an eager build-time Spark job: merely constructing or
    * plan-linting the DataFrame runs nothing; the count is collected by
    * the CollectMetrics node during the query's own execution.
    * [[graft.Engine.install]] registers it once per session. */
  private[graft] object DropLogger extends org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit =
      Seq(DroppedCentersMetric, RaDroppedCentersMetric,
          BipartitePartDropsMetric, BipartiteSuppDropsMetric).foreach { m =>
        qe.observedMetrics.get(m).foreach { row =>
          val d = row.getAs[Long]("dropped_centers")
          if (d > 0)
            org.slf4j.LoggerFactory.getLogger("graft.operators.GraphOps").warn(
              s"$m: $d wedge centers exceed degree " +
                s"$WedgeHubCap and are excluded from scoring (by design; " +
                "the oracle applies the identical cap)")
        }
      }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  /** LINK PREDICTION BASELINE: top-20 non-adjacent node pairs by
    * common-neighbor count — the simplest (and the standard first)
    * link-prediction score; "who should be connected but isn't" over the
    * co-purchase graph. Degrees are computed once ([[degrees]]), wedges are
    * opened once-each along the (deg, id) orientation
    * ([[commonNeighborCounts]]), super-hub centers are capped at
    * [[WedgeHubCap]] with the drop count surfaced as an OBSERVED METRIC
    * and warn-logged at execution time (no silent caps, and no eager
    * build-time scan either — and the oracle applies the same cap
    * predicate, so capping never diverges the hash), existing edges
    * anti-join away, and TakeOrderedAndProject keeps the head. */
  val commonNeighbors = GraftQuery(
    "graph_common_neighbors",
    (s, dir) => {
      val e = Pin.reuse(coPurchaseEdges(s, dir))
      val deg = Pin.reuse(degrees(e))
        .observe(DroppedCentersMetric,
          sum(when(col("deg") > WedgeHubCap, 1L).otherwise(0L))
            .as("dropped_centers"))
      val cand = commonNeighborCounts(e, deg, WedgeHubCap)
      cand.join(e, cand("a") === e("u") && cand("b") === e("v"), "left_anti")
        .select(col("a"), col("b"), col("n_common"))
        .orderBy(col("n_common").desc, col("a"), col("b")).limit(20)
    },
    Some(s"""WITH e AS (
              SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
            und AS MATERIALIZED (
              SELECT u AS src, v AS dst FROM e
              UNION ALL SELECT v AS src, u AS dst FROM e),
            deg AS MATERIALIZED (
              SELECT src AS node, count(*) AS deg FROM und GROUP BY src),
            cand AS (
              SELECT w1.src AS a, w2.dst AS b, count(*) AS n_common
              FROM und w1 JOIN und w2 ON w1.dst = w2.src
              JOIN deg d ON d.node = w1.dst
              WHERE w1.src < w2.dst AND d.deg <= $WedgeHubCap
              GROUP BY w1.src, w2.dst)
            SELECT a, b, n_common FROM cand
            WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = a AND e.v = b)
            ORDER BY n_common DESC, a, b LIMIT 20"""))

  /** RESOURCE-ALLOCATION link prediction (Zhou, Lü & Zhang 2009): top-20
    * non-adjacent pairs by Σ_c 1/deg(c) over shared neighbors c — the
    * degree-down-weighted upgrade of [[commonNeighbors]] (a neighbor
    * shared through a hub carries less signal than one shared through a
    * degree-3 node), and in the link-prediction literature the kernel
    * that beats Adamic-Adar's 1/ln(deg). Chosen over AA deliberately:
    * 1/deg is EXACTLY representable in integer micro-units
    * (1e6 div deg(c), summed as BIGINTs — aggregation order cannot flip
    * a bit and the DuckDB oracle reproduces every term with `//`),
    * whereas 1/ln(deg) would hang the ranking on cross-engine libm
    * agreement. Rides the identical once-each wedge pass as
    * [[commonNeighbors]] ([[commonNeighborCounts]] folds both aggregates
    * in one shuffle), same [[WedgeHubCap]] with drops observed under
    * [[RaDroppedCentersMetric]], same anti-join against existing edges,
    * TakeOrderedAndProject head. */
  val resourceAlloc = GraftQuery(
    "graph_resource_alloc",
    (s, dir) => {
      val e = Pin.reuse(coPurchaseEdges(s, dir))
      val deg = Pin.reuse(degrees(e))
        .observe(RaDroppedCentersMetric,
          sum(when(col("deg") > WedgeHubCap, 1L).otherwise(0L))
            .as("dropped_centers"))
      val cand = commonNeighborCounts(e, deg, WedgeHubCap)
      cand.join(e, cand("a") === e("u") && cand("b") === e("v"), "left_anti")
        .select(col("a"), col("b"), col("n_common"), col("ra_micro"))
        .orderBy(col("ra_micro").desc, col("a"), col("b")).limit(20)
    },
    Some(s"""WITH e AS (
              SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
            und AS MATERIALIZED (
              SELECT u AS src, v AS dst FROM e
              UNION ALL SELECT v AS src, u AS dst FROM e),
            deg AS MATERIALIZED (
              SELECT src AS node, count(*) AS deg FROM und GROUP BY src),
            cand AS (
              SELECT w1.src AS a, w2.dst AS b, count(*) AS n_common,
                CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_micro
              FROM und w1 JOIN und w2 ON w1.dst = w2.src
              JOIN deg d ON d.node = w1.dst
              WHERE w1.src < w2.dst AND d.deg <= $WedgeHubCap
              GROUP BY w1.src, w2.dst)
            SELECT a, b, n_common, ra_micro FROM cand
            WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = a AND e.v = b)
            ORDER BY ra_micro DESC, a, b LIMIT 20"""))

  /** DEGREE ASSORTATIVITY (Newman 2002): the one-row "do hubs link to
    * hubs?" coefficient — Pearson correlation of the endpoint degrees
    * over every directed edge (each undirected edge contributes both
    * orientations, making the moments symmetric, so
    * r = (M·Σdudv − (Σdu)²) / (M·Σdu² − (Σdu)²) with ALL moments exact
    * integer sums). Social graphs run positive, bipartite-projection /
    * co-purchase graphs negative — with [[degreeHist]] it decides the
    * skew strategy before a workload runs. Shape: edges equi-join the
    * node-sized degree table twice (never edges-join-edges), one global
    * aggregate of four moments; the single division is micro-scaled in
    * DECIMAL(38,0) — headroom to M·Σdeg²·2e6 ≈ 1e38, i.e. ~1e12 edges at
    * hub degree 1e4 — with the numerator SHIFTED by +den before the div
    * (r ≥ −1 makes num+den ≥ 0; Spark div truncates, DuckDB floors, they
    * agree only on non-negative operands — the graph_modularity
    * discipline) and un-shifted after. */
  /** Shared core of the neighborhood-Jaccard link-prediction index
    * (registry graph_jaccard_similarity + GraphAlgorithms facade):
    * non-adjacent pairs scored n_common·1e6 div (da' + db' − n_common)
    * where BOTH the intersection and the degrees count only HUB-FILTERED
    * neighbors (deg ≤ hubCap). The filter is part of the semantics on
    * both sides of the division: [[commonNeighborCounts]] excludes
    * wedge centers above hubCap, so pairing it with FULL degrees (the
    * pre-r17 form) understated scores for pairs sharing hub neighbors
    * while still charging the hub edges to the union — "exact by
    * construction" was false exactly there (r16 advisor). With filtered
    * degrees the identity |A'∪B'| = da' + db' − n_common holds exactly
    * over the filtered neighborhoods A' = {c ∈ N(a) : deg(c) ≤ hubCap};
    * pairs whose EVERY shared neighbor is a hub have an empty filtered
    * intersection and are absent — documented, consistent with the
    * candidate generation that can't see them anyway.
    * Shape: the once-each wedge pass, one und-sized degree-filter
    * aggregate (node-keyed, no new edge-edge join), two node-keyed joins
    * on the pair-sized candidate list. Unordered — callers append their
    * own ORDER BY (registry wrapper: score desc, top 20). */
  private[graft] def jaccardScoresOf(half: DataFrame, deg: DataFrame,
      hubCap: Int): DataFrame = {
    val und = half.select(col("u").as("src"), col("v").as("dst"))
      .union(half.select(col("v").as("src"), col("u").as("dst")))
    // filtered degree: how many of my neighbors survive the hub cap —
    // the size of MY side of the filtered union
    val degf = und
      .join(deg.select(col("node").as("dst"), col("deg")), "dst")
      .filter(col("deg") <= hubCap)
      .groupBy(col("src")).agg(count(lit(1)).as("degf"))
      .withColumnRenamed("src", "node")
    val cand = commonNeighborCounts(half, deg, hubCap)
    cand.join(half, cand("a") === half("u") && cand("b") === half("v"), "left_anti")
      .join(degf.select(col("node").as("a"), col("degf").as("da")), "a")
      .join(degf.select(col("node").as("b"), col("degf").as("db")), "b")
      .select(col("a"), col("b"), col("n_common"),
        expr("n_common * 1000000 div (da + db - n_common)").as("jaccard_micro"))
  }

  /** NEIGHBORHOOD JACCARD link prediction: top-20 non-adjacent pairs by
    * |N'(a) ∩ N'(b)| / |N'(a) ∪ N'(b)| over HUB-FILTERED neighborhoods
    * (see [[jaccardScoresOf]]) — the third classic index beside
    * [[commonNeighbors]] (raw count) and [[resourceAlloc]] (center
    * down-weighting), and the one that normalizes away BOTH endpoints'
    * degrees, so a pair of low-degree nodes sharing most of their small
    * neighborhoods outranks two hubs sharing a sliver. Exact by
    * construction over the filtered neighborhoods: |A'∪B'| = da' + db' −
    * n_common, one non-negative integer micro-div — no floats anywhere.
    * Rides the identical once-each wedge pass plus node-keyed joins on
    * the CANDIDATE list (pair-sized, not corpus-sized); same
    * [[WedgeHubCap]] semantics, same anti-join,
    * TakeOrderedAndProject head. */
  val jaccardSimilarity = GraftQuery(
    "graph_jaccard_similarity",
    (s, dir) => {
      val e = Pin.reuse(coPurchaseEdges(s, dir))
      val deg = Pin.reuse(degrees(e))
      jaccardScoresOf(e, deg, WedgeHubCap)
        .orderBy(col("jaccard_micro").desc, col("a"), col("b")).limit(20)
    },
    Some(s"""WITH e AS (
              SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
            und AS MATERIALIZED (
              SELECT u AS src, v AS dst FROM e
              UNION ALL SELECT v AS src, u AS dst FROM e),
            deg AS MATERIALIZED (
              SELECT src AS node, count(*) AS deg FROM und GROUP BY src),
            degf AS MATERIALIZED (
              SELECT und.src AS node, count(*) AS degf
              FROM und JOIN deg d ON d.node = und.dst
              WHERE d.deg <= $WedgeHubCap
              GROUP BY und.src),
            cand AS (
              SELECT w1.src AS a, w2.dst AS b, count(*) AS n_common
              FROM und w1 JOIN und w2 ON w1.dst = w2.src
              JOIN deg d ON d.node = w1.dst
              WHERE w1.src < w2.dst AND d.deg <= $WedgeHubCap
              GROUP BY w1.src, w2.dst)
            SELECT a, b, n_common,
              n_common * 1000000 // (da.degf + db.degf - n_common) AS jaccard_micro
            FROM cand JOIN degf da ON da.node = cand.a
                      JOIN degf db ON db.node = cand.b
            WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = cand.a AND e.v = cand.b)
            ORDER BY jaccard_micro DESC, a, b LIMIT 20"""))

  /** MARKET-BASKET LIFT — association-rule mining's headline statistic
    * over the co-purchase data the graph family projects from: for part
    * pairs sharing ≥ 5 orders, lift = P(ab) / (P(a)·P(b)) =
    * n_ab·N / (n_a·n_b) — > 1 means genuinely associated, not just both
    * popular (the flaw raw co-occurrence counts have). The
    * "customers-also-bought" scorer. Exact: the ratio is ONE non-negative
    * integer micro-div of BIGINT products (n_ab·N·1e6 < 2⁶³ far past
    * these SFs; at true catalog scale move the numerator to decimal128).
    * Shape: baskets are order-grouped lineitems, so pair generation is
    * per-order C(items,2) — fan-out bounded by basket size (≤7 here),
    * never by catalog popularity; the two count tables are item- and
    * pair-sized; the 1-row basket total broadcasts; TakeOrderedAndProject
    * keeps the head. */
  val copurchaseLift = GraftQuery(
    "graph_copurchase_lift",
    (s, dir) => {
      val li = Tables.t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        .transform(Pin.reuse)
      val nOrders = broadcast(li.agg(countDistinct(col("o")).as("n_orders")))
      val item = li.groupBy(col("p")).agg(count(lit(1)).as("n_item"))
      val pair = li.as("a").join(li.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      pair
        .join(item.select(col("p").as("pa"), col("n_item").as("n_a")), "pa")
        .join(item.select(col("p").as("pb"), col("n_item").as("n_b")), "pb")
        .crossJoin(nOrders)
        .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
          expr("n_ab * n_orders * 1000000 div (n_a * n_b)").as("lift_micro"))
        .orderBy(col("lift_micro").desc, col("pa"), col("pb")).limit(20)
    },
    Some("""WITH li AS MATERIALIZED (
              SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
            n AS (SELECT count(DISTINCT o) AS n_orders FROM li),
            item AS MATERIALIZED (
              SELECT p, count(*) AS n_item FROM li GROUP BY p),
            pair AS (
              SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
              FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
              GROUP BY a.p, b.p HAVING count(*) >= 5)
            SELECT pa, pb, n_ab, n_a, n_b,
              n_ab * n_orders * 1000000 // (n_a * n_b) AS lift_micro
            FROM (SELECT pair.pa, pair.pb, pair.n_ab,
                    ia.n_item AS n_a, ib.n_item AS n_b
                  FROM pair JOIN item ia ON ia.p = pair.pa
                            JOIN item ib ON ib.p = pair.pb)
            CROSS JOIN n
            ORDER BY lift_micro DESC, pa, pb LIMIT 20"""))

  /** [[assortativity]]'s core over any u<v half-edge list — factored (the
    * giniMicro precedent) so GraphOpsSpec can pin closed-form anchors
    * (star → −1e6, permutation invariance) on synthetic graphs. */
  private[graft] def assortativityOf(half: DataFrame): DataFrame = {
    val und = half.union(half.select(col("v").as("u"), col("u").as("v")))
    val deg = degrees(half)
    val du = deg.select(col("node").as("u"), col("deg").as("du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
    und.join(du, "u").join(dv, "v")
      .agg(count(lit(1)).as("m_directed"),
        sum(col("du")).as("s1"),
        sum(col("du") * col("du")).as("s2"),
        sum(col("du") * col("dv")).as("sp"))
      .select(col("m_directed"), col("s1"), col("s2"), col("sp"),
        // nullif-guarded: a REGULAR graph has zero degree variance, so r
        // is 0/0-undefined — surface null, never a fabricated 0 (and
        // never an ANSI divide-by-zero error); GraphOpsSpec pins it
        expr("""cast(((cast(m_directed as decimal(38,0)) * sp - cast(s1 as decimal(38,0)) * s1)
                      + (cast(m_directed as decimal(38,0)) * s2 - cast(s1 as decimal(38,0)) * s1))
                     * 1000000 div nullif(cast(m_directed as decimal(38,0)) * s2 - cast(s1 as decimal(38,0)) * s1, 0)
                     - 1000000 as bigint)""").as("r_micro"))
  }

  val assortativity = GraftQuery(
    "graph_assortativity",
    (s, dir) => assortativityOf(coPurchaseEdges(s, dir)),
    Some("""WITH e AS (
              SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
            und AS MATERIALIZED (
              SELECT u AS src, v AS dst FROM e
              UNION ALL SELECT v AS src, u AS dst FROM e),
            deg AS MATERIALIZED (
              SELECT src AS node, count(*) AS deg FROM und GROUP BY src),
            mo AS (
              SELECT count(*) AS m_directed,
                CAST(sum(du.deg) AS BIGINT) AS s1,
                CAST(sum(du.deg * du.deg) AS BIGINT) AS s2,
                CAST(sum(du.deg * dv.deg) AS BIGINT) AS sp
              FROM und JOIN deg du ON du.node = und.src
                       JOIN deg dv ON dv.node = und.dst)
            SELECT m_directed, s1, s2, sp,
              CAST(((CAST(m_directed AS HUGEINT) * sp - CAST(s1 AS HUGEINT) * s1)
                    + (CAST(m_directed AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1))
                   * 1000000 // nullif(CAST(m_directed AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1, 0)
                   - 1000000 AS BIGINT) AS r_micro
            FROM mo"""))

  /** LOCAL CLUSTERING COEFFICIENT: per node, 2·triangles / (deg·(deg−1))
    * over the co-purchase graph — the community-tightness profile next to
    * [[degreeHist]]'s volume profile (the two numbers that decide whether
    * a graph is social-like or bipartite-like). Reuses the degree-oriented
    * triangle machinery ([[orient]]/[[orientedWedges]]) so the wedge work
    * stays Σ C(outdeg,2); the coefficient is integer-scaled to micros with
    * a non-negative div (deg ≥ 2 filter guarantees a positive divisor).
    * The oracle enumerates triangles id-oriented — the per-node counts are
    * orientation-invariant (the [[triangleCount]] argument). */
  /** The local-clustering-coefficient core over a canonical (u, v)
    * half-edge list — shared by graph_clustering_coeff and
    * [[graft.api.GraphAlgorithms.clusteringCoefficient]] so the
    * 2·tri/(deg·(deg−1)) exact-micro expression lives once. The input is
    * reused three ways (degrees, orientation, the wedge pass), so it and
    * the two frames derived from it are [[Pin.reuse]]d: those passes read
    * blocks instead of re-running the dedup shuffle.
    * @return (node, degree, n_triangles, coeff_micro), deg >= 2 only */
  private[graft] def clusteringOf(half0: DataFrame): DataFrame = {
    val half = Pin.reuse(half0)
    val deg = Pin.reuse(degrees(half))
    val o = Pin.reuse(orient(half, deg))
    val tri = orientedWedges(o)
      .join(o.as("e3"), col("e3.src") === col("y") && col("e3.dst") === col("z"))
      .select(col("x"), col("y"), col("z"))
    val tn = tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.filter(col("deg") >= 2)
      .join(tn, Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        expr("cast(coalesce(n_tri, 0) * 2000000 div (deg * (deg - 1)) as bigint)")
          .as("coeff_micro"))
  }

  val clusteringCoeff = GraftQuery(
    "graph_clustering_coeff",
    (s, dir) => clusteringOf(coPurchaseEdges(s, dir)).orderBy(col("node")),
    Some("""WITH e AS (
              SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
            und AS MATERIALIZED (
              SELECT u AS src, v AS dst FROM e
              UNION ALL SELECT v AS src, u AS dst FROM e),
            deg AS MATERIALIZED (
              SELECT src AS node, count(*) AS deg FROM und GROUP BY src),
            tri AS (
              SELECT e1.u AS x, e1.v AS y, e2.v AS z
              FROM e e1 JOIN e e2 ON e2.u = e1.v
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
            tn AS (
              SELECT node, count(*) AS n_tri FROM (
                SELECT x AS node FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri)
              GROUP BY node)
            SELECT d.node, CAST(d.deg AS BIGINT) AS degree,
              CAST(coalesce(n_tri, 0) AS BIGINT) AS n_triangles,
              CAST(coalesce(n_tri, 0) * 2000000 // (d.deg * (d.deg - 1)) AS BIGINT)
                AS coeff_micro
            FROM deg d LEFT JOIN tn ON tn.node = d.node
            WHERE d.deg >= 2 ORDER BY d.node"""))

  /** MODULARITY, structure vs null: Newman's Q for two partitions of the
    * sparse supplier~part graph — its CONNECTED COMPONENTS (real
    * structure: no inter-community edges, so Q = 1 − Σd_c²/4m² > 0) and a
    * node%8 RANDOM partition (the null model: Q ≈ 0) — the two-row table
    * that answers "did the clustering find structure or noise" WITH its
    * own calibration row. (The LPA partition is deliberately not used
    * here: on the dense co-purchase graph min-label ties collapse it to
    * one community, whose Q is identically 0 — correct but uninformative.)
    * The whole formula is ONE division: Q = Σ_c(4·m·e_c − d_c²) / (4m²)
    * over exact BIGINTs, the numerator SHIFTED by +4m² before the
    * micro-div so the operand stays non-negative (Q ≥ −½; Spark div
    * truncates, DuckDB floors — they only agree on non-negative operands)
    * and un-shifted after. Key-sized shuffles only; the Int64 headroom
    * ends where the shifted-then-scaled numerator (≈ 8m² · 10⁶) hits 2⁶³,
    * i.e. m ≈ 1.1·10⁶ edges — past that the moments move to decimal128
    * (drop the 10⁶ scale into the shift or cast before multiplying). */
  val modularity = GraftQuery(
    "graph_modularity",
    (s, dir) => {
      val half = Tables.t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_partkey").as("u"), (col("l_suppkey") + SuppOffset).as("v"))
        .distinct().transform(Pin.reuse)
      val deg = Pin.reuse(degrees(half))
      val m = broadcast(half.agg(count(lit(1)).as("m")))
      val comps = components(half.select(col("u").as("a"), col("v").as("b")))
        .select(col("node"), col("label").as("c"))
      def q(comm: DataFrame, kind: String): DataFrame = {
        val cm = Pin.reuse(comm)
        val dc = cm.join(deg, "node")
          .groupBy(col("c")).agg(sum(col("deg")).as("d_c"))
        val ec = half
          .join(cm.select(col("node").as("u"), col("c").as("cu")), "u")
          .join(cm.select(col("node").as("v"), col("c").as("cv")), "v")
          .filter(col("cu") === col("cv"))
          .groupBy(col("cu").as("c")).agg(count(lit(1)).as("e_c"))
        dc.join(ec, Seq("c"), "left")
          .select(coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
          .crossJoin(m)
          .groupBy(col("m"))
          .agg(count(lit(1)).as("n_communities"),
            sum(expr("4 * m * e_c - d_c * d_c")).as("num"))
          .select(lit(kind).as("part_kind"),
            col("m").cast("long").as("m_edges"), col("n_communities"),
            expr("""cast((cast(num as bigint) + 4 * m * m) * 1000000
                    div (4 * m * m) - 1000000 as bigint)""").as("q_micro"))
      }
      val rand = deg.select(col("node"), (col("node") % 8).as("c"))
      q(comps, "components").unionByName(q(rand, "random8"))
        .orderBy(col("part_kind"))
    },
    Some(s"""WITH RECURSIVE half AS MATERIALIZED (
            SELECT DISTINCT l_partkey AS u, l_suppkey + $SuppOffset AS v
            FROM lineitem WHERE l_orderkey % 50 = 0),
          edges AS MATERIALIZED (
            SELECT u AS src, v AS dst FROM half
            UNION ALL SELECT v AS src, u AS dst FROM half),
          deg AS MATERIALIZED (
            SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
          mm AS (SELECT count(*) AS m FROM half),
          reach(node, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT re.node, e.dst FROM reach re JOIN edges e ON e.src = re.r),
          compc AS MATERIALIZED (
            SELECT node, min(r) AS c FROM reach GROUP BY node),
          randc AS (SELECT node, node % 8 AS c FROM deg),
          dc_c AS (SELECT c, CAST(sum(deg) AS BIGINT) AS d_c
                   FROM compc JOIN deg USING (node) GROUP BY c),
          ec_c AS (SELECT cu.c AS c, count(*) AS e_c
                   FROM half JOIN compc cu ON half.u = cu.node
                   JOIN compc cv ON half.v = cv.node
                   WHERE cu.c = cv.c GROUP BY cu.c),
          dc_r AS (SELECT c, CAST(sum(deg) AS BIGINT) AS d_c
                   FROM randc JOIN deg USING (node) GROUP BY c),
          ec_r AS (SELECT cu.c AS c, count(*) AS e_c
                   FROM half JOIN randc cu ON half.u = cu.node
                   JOIN randc cv ON half.v = cv.node
                   WHERE cu.c = cv.c GROUP BY cu.c),
          tc AS (SELECT dc_c.c, coalesce(e_c, 0) AS e_c, d_c
                 FROM dc_c LEFT JOIN ec_c ON ec_c.c = dc_c.c),
          tr AS (SELECT dc_r.c, coalesce(e_c, 0) AS e_c, d_c
                 FROM dc_r LEFT JOIN ec_r ON ec_r.c = dc_r.c)
          SELECT 'components' AS part_kind, m AS m_edges,
            count(*) AS n_communities,
            CAST((CAST(sum(4 * m * e_c - d_c * d_c) AS BIGINT) + 4 * m * m)
              * 1000000 // (4 * m * m) - 1000000 AS BIGINT) AS q_micro
          FROM tc CROSS JOIN mm GROUP BY m
          UNION ALL
          SELECT 'random8' AS part_kind, m AS m_edges,
            count(*) AS n_communities,
            CAST((CAST(sum(4 * m * e_c - d_c * d_c) AS BIGINT) + 4 * m * m)
              * 1000000 // (4 * m * m) - 1000000 AS BIGINT) AS q_micro
          FROM tr CROSS JOIN mm GROUP BY m
          ORDER BY part_kind"""))

  /** LOUVAIN FIRST-MOVE PASS (Blondel et al. 2008, phase 1, tick 1): from
    * singleton communities, each node greedily picks the neighbor
    * community with the best modularity gain and moves iff the gain is
    * positive — the seed step of the method behind most production
    * community detection, and the MOVE-SELECTION primitive the iterated
    * algorithm repeats. All moves are evaluated SYNCHRONOUSLY (the
    * distributed-Louvain convention — sequential scan order doesn't exist
    * at scale), and the output is each node's decision, so simultaneity
    * is semantics, not a race.
    *
    * EXACT-INTEGER gain: moving isolated i into singleton {j} gives
    * ΔQ·2m² = 2m·k_{i,in} − Σ_tot·k_i = 2m − deg(i)·deg(j) — the
    * whole argmax runs on BIGINTs (headroom to deg ≈ 3·10⁹ at any m), so
    * argmax over j = argmin deg(j) with a min-j tie-break: one
    * row_number window over the neighbor lists, no floats anywhere.
    * Same sparse supplier~part graph as [[modularity]]; m is one
    * driver-side scalar (the PageRank n discipline). Shapes: two
    * key-sized shuffles (degrees, per-node argmin), never
    * edges-join-edges. */
  val louvainMove = GraftQuery(
    "graph_louvain_move",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val half = Tables.t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_partkey").as("u"), (col("l_suppkey") + SuppOffset).as("v"))
        .distinct().transform(Pin.reuse)
      val m = half.count()
      val edges = half.union(half.select(col("v").as("u"), col("u").as("v")))
      val deg = degrees(half)
      val cand = edges
        .join(deg.select(col("node").as("u"), col("deg").as("degree")), "u")
        .join(deg.select(col("node").as("v"), col("deg").as("degj")), "v")
      val w = Window.partitionBy(col("u")).orderBy(col("degj"), col("v"))
      cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("u").as("node"), col("degree"),
          expr(s"case when ${m}L * 2 - degree * degj > 0 then v else u end").as("target"),
          expr(s"${m}L * 2 - degree * degj").as("gain_scaled"),
          expr(s"${m}L * 2 - degree * degj > 0").as("moved"))
        .orderBy(col("node"))
    },
    Some(s"""WITH half AS MATERIALIZED (
               SELECT DISTINCT l_partkey AS u, l_suppkey + $SuppOffset AS v
               FROM lineitem WHERE l_orderkey % 50 = 0),
             edges AS MATERIALIZED (
               SELECT u, v FROM half UNION ALL SELECT v AS u, u AS v FROM half),
             deg AS MATERIALIZED (
               SELECT u AS node, count(*) AS deg FROM edges GROUP BY u),
             mm AS (SELECT count(*) AS m FROM half),
             cand AS (
               SELECT e.u, e.v, di.deg AS degree, dj.deg AS degj,
                 row_number() OVER (PARTITION BY e.u ORDER BY dj.deg, e.v) AS rn
               FROM edges e
               JOIN deg di ON di.node = e.u
               JOIN deg dj ON dj.node = e.v)
             SELECT c.u AS node, c.degree,
               CASE WHEN mm.m * 2 - c.degree * c.degj > 0 THEN c.v ELSE c.u END AS target,
               mm.m * 2 - c.degree * c.degj AS gain_scaled,
               mm.m * 2 - c.degree * c.degj > 0 AS moved
             FROM cand c CROSS JOIN mm WHERE c.rn = 1 ORDER BY node"""))

  /** General synchronous Louvain MOVE PASS on a WEIGHTED graph — the
    * [[louvainMove]] primitive generalized from singleton-start to any
    * community assignment (and so reusable after contraction, where the
    * super-graph carries edge weights and self-loops).
    *
    * Exact-integer gain in Q·4m² units (the [[modularity]] scale): moving
    * node i from community A to B scores
    * 4m·(w_{i,B} − w_{i,A\i}) − 2k_i·d_B + 2k_i·(d_{A\i}), all BIGINT
    * (same headroom bound as modularity, m ≲ 1.1·10⁶ before the micro
    * conversion could overflow — documented there). Every node evaluates
    * its neighbor communities SYNCHRONOUSLY (argmax by gain, min-community
    * tie-break) and moves iff gain > 0 — sequential scan order doesn't
    * exist at cluster scale, so simultaneity is semantics here, exactly as
    * in [[louvainMove]]. Shapes: w_{i,C} is one (node, community)-keyed
    * aggregation of the und edge list, d_C one community-keyed aggregation
    * of (node, k) rows; the argmax is one row_number window per node —
    * edges never join edges.
    *
    * PARITY GATING: a fully simultaneous pass from singletons mass-swaps
    * (i moves to {j} while j moves to {k} — every gain was computed
    * against a frozen world that then also moved) and aggregate Q drops,
    * so the accept-if-improved guard would reject every pass and Louvain
    * would never move (observed on the fixture: 0 moves at every SF).
    * The standard distributed fix: each sub-pass lets only HALF the nodes
    * move (node % 2 == parity, the rest frozen), which breaks the swap
    * symmetry — the frozen half really is frozen, so gains are honest for
    * most movers, and the guard still catches residual same-parity
    * interference. Deterministic and oracle-replayable, unlike the
    * randomized vertex-coloring schedules in the literature.
    *
    * @param und    undirected edge list, both directions, (src, dst, w);
    *               self-loops EXCLUDED (they are not "weight to other
    *               members" in the gain formula)
    * @param k      (node, k) weighted degrees, self-loops counted twice
    * @param assign (node, c) current communities
    * @param parity only nodes with node % 2 == parity may move
    * @return       (node, c) after the gated synchronous move */
  private[operators] def louvainPass(und: DataFrame, k: DataFrame,
      assign: DataFrame, m: Long, parity: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wic = und
      .join(assign.select(col("node").as("dst"), col("c").as("nc")), "dst")
      .groupBy(col("src"), col("nc")).agg(sum(col("w")).as("wip"))
      .select(col("src").as("node"), col("nc"), col("wip"))
    val dc = assign.join(k, "node")
      .groupBy(col("c")).agg(sum(col("k")).as("d_c"))
    val cur = assign.join(k, "node")
      .join(dc.withColumnRenamed("d_c", "d_cur"), "c").as("a")
      .join(wic.as("w"),
        col("a.node") === col("w.node") && col("w.nc") === col("a.c"), "left")
      .select(col("a.node").as("node"), col("a.c").as("cu"), col("a.k").as("k"),
        coalesce(col("w.wip"), lit(0L)).as("w_cur"), col("a.d_cur").as("d_cur"))
    val cand = cur.as("c")
      .filter(col("c.node") % 2 === parity)
      .join(wic.as("w"),
        col("w.node") === col("c.node") && col("w.nc") =!= col("c.cu"))
      .join(dc.as("d"), col("d.c") === col("w.nc"))
      .select(col("c.node").as("node"), col("w.nc").as("nc"),
        (lit(4L * m) * (col("w.wip") - col("c.w_cur"))
          - lit(2L) * col("c.k") * col("d.d_c")
          + lit(2L) * col("c.k") * (col("c.d_cur") - col("c.k"))).as("gain"))
    val win = Window.partitionBy(col("node")).orderBy(col("gain").desc, col("nc"))
    val best = cand.withColumn("rn", row_number().over(win)).filter(col("rn") === 1)
    cur.as("c").join(best.as("b"), col("b.node") === col("c.node"), "left")
      .select(col("c.node").as("node"),
        when(col("b.gain") > 0, col("b.nc")).otherwise(col("c.cu")).as("c"))
  }

  /** Exact-integer modularity numerator Q·4m² = Σ_C [4m·W_C − d_C²] for an
    * assignment over a weighted graph — [[modularity]]'s machinery
    * factored out so [[louvain]] can guard every pass on it. W_C counts
    * intra-community half-edge weight plus self-loop weight (a self-loop
    * is intra by definition, so loops sum globally without a community
    * join). Three 1-row scalar aggregates — the PageRank n discipline. */
  private[operators] def louvainQNum(half: DataFrame, loops: Option[DataFrame],
      k: DataFrame, assign: DataFrame, m: Long): Long = {
    val intra = half.as("h")
      .join(assign.select(col("node").as("u"), col("c").as("cu")), "u")
      .join(assign.select(col("node").as("v"), col("c").as("cv")), "v")
      .filter(col("cu") === col("cv"))
      .agg(coalesce(sum(col("w")), lit(0L))).head.getLong(0)
    val loopW = loops.map(
      _.agg(coalesce(sum(col("l")), lit(0L))).head.getLong(0)).getOrElse(0L)
    val sumD2 = assign.join(k, "node")
      .groupBy(col("c")).agg(sum(col("k")).as("d_c"))
      .agg(coalesce(sum(col("d_c") * col("d_c")), lit(0L))).head.getLong(0)
    4L * m * (intra + loopW) - sumD2
  }

  /** Per-level Louvain summary plus the contraction cross-check: qnum of
    * the singleton super-node partition must EQUAL level 1's final qnum
    * (contraction is exactly Q-preserving — the spec pins it). */
  private[graft] final case class LouvainResult(
      levels: Seq[(Long, Long, Long, Long)], // (level, n_communities, qnum, q_micro)
      contractedQNum: Long)

  /** FULL 2-LEVEL LOUVAIN (Blondel et al. 2008): phase 1 = two guarded
    * synchronous move passes from singletons; phase 2 = contract
    * communities into a weighted super-node graph (cross-community edge
    * weights + per-community self-loops) and run the move pass again at
    * the super level. Every pass is ACCEPT-IF-IMPROVED: the candidate
    * assignment is adopted only when its exact-integer Q beats the
    * incumbent — the pass-granular analog of sequential Louvain's per-move
    * guarantee, which makes modularity non-decrease across levels hold BY
    * CONSTRUCTION (synchronous simultaneous moves can otherwise oscillate
    * on symmetric graphs; the guard converts a bad pass into a no-op
    * instead of a regression). All guard decisions are 1-row scalar
    * comparisons on BIGINTs, so the DuckDB oracle replays them with CASE
    * on the identical scalar subqueries — bit-equal by construction.
    *
    * Scale shapes: each pass is two key-sized aggregations + one window
    * (never edges⋈edges); contraction is one edge-list pass; the level-2
    * graph is communities-sized. Driver state: six scalar Longs. */
  private[graft] def louvainRun(half0: DataFrame): LouvainResult = Pin.scope {
    val half = Pin.reuse(half0.select(col("u"), col("v")).withColumn("w", lit(1L)))
    val m = half.agg(coalesce(sum(col("w")), lit(0L))).head.getLong(0)
    require(m > 0, "louvain needs at least one edge")
    val und = half.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .union(half.select(col("v").as("src"), col("u").as("dst"), col("w")))
      .transform(Pin.reuse)
    val k0 = Pin.reuse(und.groupBy(col("src").as("node")).agg(sum(col("w")).as("k")))
    val a0 = k0.select(col("node"), col("node").as("c"))
    def micro(qn: Long): Long =
      ((BigInt(qn) + BigInt(4) * m * m) * 1000000 / (BigInt(4) * m * m)
        - 1000000).toLong
    // accept-if-improved passes from (a0, q0): each candidate is a tick,
    // and of it and the incumbent the one with the lower Q is dropped
    // (never the seed, which is a plain plan)
    def guarded(u: DataFrame, k: DataFrame, a0: DataFrame, q0: Long, parities: Seq[Int])(
        qOf: DataFrame => Long): (DataFrame, Long) =
      parities.foldLeft((a0, q0)) { case ((a, q), p) =>
        val cand = Pin.tick(louvainPass(u, k, a, m, p))
        val qc = qOf(cand)
        val (kept, lost) = if (qc > q) ((cand, qc), a) else ((a, q), cand)
        if (lost ne a0) Pin.drop(lost)
        kept
      }
    val q0 = louvainQNum(half, None, k0, a0, m)
    val (a1, q1) = guarded(und, k0, a0, q0, Seq(0, 1, 0, 1))(louvainQNum(half, None, k0, _, m))
    val nc1 = a1.select(col("c")).distinct().count()
    // phase 2: contract — communities become weighted super-nodes with
    // self-loops; total weight m and Q of the partition are preserved
    val hcc = half.as("h")
      .join(a1.select(col("node").as("u"), col("c").as("cu")), "u")
      .join(a1.select(col("node").as("v"), col("c").as("cv")), "v")
      .select(col("w"), col("cu"), col("cv"))
    val sHalf = hcc.filter(col("cu") =!= col("cv"))
      .select(least(col("cu"), col("cv")).as("u"),
        greatest(col("cu"), col("cv")).as("v"), col("w"))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w")).transform(Pin.reuse)
    val sLoops = hcc.filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("node")).agg(sum(col("w")).as("l")).transform(Pin.reuse)
    val sK = a1.join(k0, "node")
      .groupBy(col("c")).agg(sum(col("k")).as("k"))
      .select(col("c").as("node"), col("k")).transform(Pin.reuse)
    val sUnd = sHalf.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .union(sHalf.select(col("v").as("src"), col("u").as("dst"), col("w")))
    val a20 = sK.select(col("node"), col("node").as("c"))
    val q20 = louvainQNum(sHalf, Some(sLoops), sK, a20, m)
    val (a2, q2) = guarded(sUnd, sK, a20, q20, Seq(0, 1))(louvainQNum(sHalf, Some(sLoops), sK, _, m))
    val nc2 = a2.select(col("c")).distinct().count()
    val nc0 = k0.count()
    LouvainResult(
      Seq((0L, nc0, q0, micro(q0)), (1L, nc1, q1, micro(q1)),
        (2L, nc2, q2, micro(q2))),
      contractedQNum = q20)
  }

  private def lvQnumSql(a: String, h: String, l: Option[String],
      kT: String): String =
    s"""(SELECT 4 * mm.m * (
          coalesce((SELECT CAST(sum(h.w) AS BIGINT) FROM $h h
            JOIN $a au ON au.node = h.u JOIN $a av ON av.node = h.v
            WHERE au.c = av.c), 0)
          ${l.map(t => s"+ coalesce((SELECT CAST(sum(l) AS BIGINT) FROM $t), 0)")
             .getOrElse("")})
        - (SELECT CAST(sum(d_c * d_c) AS BIGINT)
           FROM (SELECT CAST(sum(k.k) AS BIGINT) AS d_c
                 FROM $a a JOIN $kT k ON k.node = a.node GROUP BY a.c) t)
        FROM mm)"""

  /** One guarded Louvain pass as DuckDB CTEs — the [[louvainPass]] +
    * accept-if-improved guard, mechanically unrolled (the trussRoundSql
    * pattern). Emits wic/dc/cur/cand/ac/qc/a/q CTEs suffixed by `s`. */
  private def lvPassSql(s: Int, aP: String, qP: String, u: String,
      kT: String, h: String, l: Option[String], parity: Int): String = {
    val gain = s"""4 * mm.m * (w.wip - c.w_cur) - 2 * c.k * d.d_c
                   + 2 * c.k * (c.d_cur - c.k)"""
    s"""wic$s AS (SELECT e.src AS node, a.c AS nc, CAST(sum(e.w) AS BIGINT) AS wip
           FROM $u e JOIN $aP a ON a.node = e.dst GROUP BY e.src, a.c),
       dc$s AS (SELECT a.c, CAST(sum(k.k) AS BIGINT) AS d_c
           FROM $aP a JOIN $kT k ON k.node = a.node GROUP BY a.c),
       cur$s AS (SELECT a.node, a.c AS cu, k.k,
             coalesce(w.wip, 0) AS w_cur, d.d_c AS d_cur
           FROM $aP a JOIN $kT k ON k.node = a.node
           JOIN dc$s d ON d.c = a.c
           LEFT JOIN wic$s w ON w.node = a.node AND w.nc = a.c),
       cand$s AS (SELECT c.node, c.cu, w.nc, $gain AS gain,
             row_number() OVER (PARTITION BY c.node
               ORDER BY ($gain) DESC, w.nc) AS rn
           FROM cur$s c
           JOIN wic$s w ON w.node = c.node AND w.nc <> c.cu
           JOIN dc$s d ON d.c = w.nc CROSS JOIN mm
           WHERE c.node % 2 = $parity),
       ac$s AS MATERIALIZED (SELECT c.node,
             CASE WHEN b.gain > 0 THEN b.nc ELSE c.cu END AS c
           FROM cur$s c
           LEFT JOIN (SELECT * FROM cand$s WHERE rn = 1) b ON b.node = c.node),
       qc$s AS (SELECT ${lvQnumSql(s"ac$s", h, l, kT)} AS qn),
       a$s AS MATERIALIZED (SELECT n.node,
             CASE WHEN (SELECT qn FROM qc$s) > (SELECT qn FROM $qP)
                  THEN n.c ELSE o.c END AS c
           FROM ac$s n JOIN $aP o ON o.node = n.node),
       q$s AS (SELECT CASE WHEN (SELECT qn FROM qc$s) > (SELECT qn FROM $qP)
                    THEN (SELECT qn FROM qc$s) ELSE (SELECT qn FROM $qP) END AS qn)"""
  }

  private val lvMicroSql =
    "CAST(((qn + 4 * m * m) * 1000000) // (4 * m * m) - 1000000 AS BIGINT)"

  /** The [[louvainRun]] hierarchy as a 3-row per-level panel: community
    * count and exact-integer modularity (micro) at level 0 (singletons),
    * level 1 (after two guarded move passes) and level 2 (after
    * contraction + one guarded super-pass). Same sparse supplier~part
    * graph as [[modularity]]/[[louvainMove]]. The oracle unrolls the
    * identical three guarded passes as MATERIALIZED CTEs. */
  val louvain = GraftQuery(
    "graph_louvain",
    (s, dir) => {
      import s.implicits._
      val raw = Tables.t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_partkey").as("u"), (col("l_suppkey") + SuppOffset).as("v"))
        .distinct()
      louvainRun(raw).levels.map { case (l, nc, _, qm) => (l, nc, qm) }
        .toDF("level", "n_communities", "q_micro")
    },
    Some(s"""WITH half AS MATERIALIZED (
               SELECT DISTINCT l_partkey AS u, l_suppkey + $SuppOffset AS v,
                 CAST(1 AS BIGINT) AS w
               FROM lineitem WHERE l_orderkey % 50 = 0),
             mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM half),
             und AS MATERIALIZED (
               SELECT u AS src, v AS dst, w FROM half
               UNION ALL SELECT v, u, w FROM half),
             k0 AS MATERIALIZED (
               SELECT src AS node, CAST(sum(w) AS BIGINT) AS k
               FROM und GROUP BY src),
             a0 AS MATERIALIZED (SELECT node, node AS c FROM k0),
             q0 AS (SELECT ${lvQnumSql("a0", "half", None, "k0")} AS qn),
             ${lvPassSql(1, "a0", "q0", "und", "k0", "half", None, 0)},
             ${lvPassSql(2, "a1", "q1", "und", "k0", "half", None, 1)},
             ${lvPassSql(3, "a2", "q2", "und", "k0", "half", None, 0)},
             ${lvPassSql(4, "a3", "q3", "und", "k0", "half", None, 1)},
             hcc AS (SELECT h.w, cu.c AS cu, cv.c AS cv FROM half h
               JOIN a4 cu ON cu.node = h.u JOIN a4 cv ON cv.node = h.v),
             shalf AS MATERIALIZED (
               SELECT least(cu, cv) AS u, greatest(cu, cv) AS v,
                 CAST(sum(w) AS BIGINT) AS w
               FROM hcc WHERE cu <> cv GROUP BY least(cu, cv), greatest(cu, cv)),
             sloops AS MATERIALIZED (
               SELECT cu AS node, CAST(sum(w) AS BIGINT) AS l
               FROM hcc WHERE cu = cv GROUP BY cu),
             sk AS MATERIALIZED (
               SELECT a.c AS node, CAST(sum(k.k) AS BIGINT) AS k
               FROM a4 a JOIN k0 k ON k.node = a.node GROUP BY a.c),
             sund AS MATERIALIZED (
               SELECT u AS src, v AS dst, w FROM shalf
               UNION ALL SELECT v, u, w FROM shalf),
             a20 AS MATERIALIZED (SELECT node, node AS c FROM sk),
             q20 AS (SELECT ${lvQnumSql("a20", "shalf", Some("sloops"), "sk")} AS qn),
             ${lvPassSql(5, "a20", "q20", "sund", "sk", "shalf", Some("sloops"), 0)},
             ${lvPassSql(6, "a5", "q5", "sund", "sk", "shalf", Some("sloops"), 1)}
             SELECT CAST(0 AS BIGINT) AS level,
               (SELECT CAST(count(*) AS BIGINT) FROM a0) AS n_communities,
               (SELECT $lvMicroSql FROM q0 CROSS JOIN mm) AS q_micro
             UNION ALL
             SELECT 1, (SELECT CAST(count(DISTINCT c) AS BIGINT) FROM a4),
               (SELECT $lvMicroSql FROM q4 CROSS JOIN mm)
             UNION ALL
             SELECT 2, (SELECT CAST(count(DISTINCT c) AS BIGINT) FROM a6),
               (SELECT $lvMicroSql FROM q6 CROSS JOIN mm)
             ORDER BY level"""))

  /** RANDOM-WALK CORPUS GENERATION (DeepWalk, Perozzi et al. 2014 /
    * node2vec p=q=1): 2 walks of 3 hops from every 5th node of the sparse
    * supplier~part graph — the sentence generator graph-embedding training
    * feeds to a skip-gram model, and the fourth classic iterative protocol
    * here after PageRank/BFS/HITS. The walk is DERANDOMIZED the house way:
    * hop s of walk (start, wid) at node c picks neighbor ordinal
    * hash48('rw:start:wid:s:c') mod deg(c), so both engines (and any two
    * cluster runs) generate the identical corpus — seeded reproducibility
    * is what a production embedding pipeline wants anyway.
    *
    * Shapes: neighbor ordinals are one row_number window per node
    * (degree-bounded); each hop is two equi-joins keyed by the CURRENT
    * node (deg lookup, then (node, ordinal) lookup) over walk-count-sized
    * state — edges never join edges, and walk state is (starts × 2) rows
    * regardless of graph size. Every node has deg ≥ 1 by construction so
    * no walk ever strands. */
  val randomWalk = GraftQuery(
    "graph_random_walk",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val half = Tables.t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_partkey").as("u"), (col("l_suppkey") + SuppOffset).as("v"))
        .distinct()
      val edges = half.union(half.select(col("v").as("u"), col("u").as("v")))
        .select(col("u").as("src"), col("v").as("dst")).transform(Pin.reuse)
      val nbr = edges.withColumn("idx",
        row_number().over(Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      def pick(step: Int) = md5Prefix(concat(lit("rw:"), col("start").cast("string"), lit(":"),
        col("wid").cast("string"), lit(s":$step:"), col("cur").cast("string")), 12) % col("deg")
      var walk = edges.select(col("src").as("start")).distinct()
        .filter(col("start") % 5 === 0)
        .select(col("start"), explode(expr("array(0, 1)")).as("wid"))
        .withColumn("cur", col("start"))
      for (step <- 1 to 3) {
        val p = walk
          .join(deg, col("cur") === deg("src")).drop("src")
          .withColumn("idx", pick(step)).drop("deg")
        walk = p
          .join(nbr, p("cur") === nbr("src") && p("idx") === nbr("idx"))
          .drop("src").drop("idx").drop("cur")
          .withColumnRenamed("dst", s"hop$step")
          .withColumn("cur", col(s"hop$step"))
      }
      val out = walk.select(col("start"), col("wid"),
          col("hop1"), col("hop2"), col("hop3"))
        .orderBy(col("start"), col("wid"))
      out
    },
    Some(s"""WITH half AS MATERIALIZED (
               SELECT DISTINCT l_partkey AS u, l_suppkey + $SuppOffset AS v
               FROM lineitem WHERE l_orderkey % 50 = 0),
             edges AS MATERIALIZED (
               SELECT u AS src, v AS dst FROM half
               UNION ALL SELECT v, u FROM half),
             nbr AS MATERIALIZED (
               SELECT src, dst,
                 row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
               FROM edges),
             deg AS MATERIALIZED (
               SELECT src, count(*) AS deg FROM edges GROUP BY src),
             w0 AS (
               SELECT start, unnest([0, 1]) AS wid, start AS cur
               FROM (SELECT DISTINCT src AS start FROM edges WHERE src % 5 = 0)),
             ${(1 to 3).map(walkStepSql).mkString(",\n")}
             SELECT start, wid, hop1, hop2, hop3 FROM w3
             ORDER BY start, wid"""))

  /** One derandomized hop for [[randomWalk]]'s oracle: ordinal =
    * hash48(rw:start:wid:step:cur) mod deg(cur), then the (cur, ordinal)
    * neighbor lookup; hops accumulate as columns. */
  private def walkStepSql(step: Int): String = {
    val p = step - 1
    val hops = (1 until step).map(i => s"p.hop$i,").mkString(" ")
    s"""p$step AS (
          SELECT w.*, CAST(('0x' || substring(md5('rw:'
              || CAST(w.start AS VARCHAR) || ':' || CAST(w.wid AS VARCHAR)
              || ':$step:' || CAST(w.cur AS VARCHAR)), 1, 12)) AS BIGINT)
            % d.deg AS idx
          FROM w$p w JOIN deg d ON d.src = w.cur),
        w$step AS MATERIALIZED (
          SELECT p.start, p.wid, $hops n.dst AS hop$step, n.dst AS cur
          FROM p$step p JOIN nbr n ON n.src = p.cur AND n.idx = p.idx)"""
  }

  /** One synchronous truss-peeling round for [[ktruss]]'s oracle:
    * enumerate triangles id-oriented (x<y<z, every pair already
    * canonical), count per-edge support over the three roles, keep edges
    * with support ≥ 2 (k=4). */
  private def trussRoundSql(i: Int): String = {
    val p = i - 1
    s"""t$i AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
          FROM e$p e1 JOIN e$p e2 ON e2.u = e1.v
          JOIN e$p e3 ON e3.u = e1.u AND e3.v = e2.v),
        s$i AS (SELECT u, v, count(*) AS sup FROM (
              SELECT x AS u, y AS v FROM t$i
              UNION ALL SELECT x AS u, z AS v FROM t$i
              UNION ALL SELECT y AS u, z AS v FROM t$i) GROUP BY u, v),
        e$i AS MATERIALIZED (SELECT s.u, s.v FROM s$i s WHERE s.sup >= 2)"""
  }

  /** Per-edge triangle support on an undirected u<v half-edge list,
    * via the degree-oriented wedge machinery (each triangle enumerated
    * once, Σ C(outdeg,2) wedge work) — every triangle credits its three
    * edges in canonical (least, greatest) form. */
  private def edgeSupport(half: DataFrame): DataFrame = {
    val deg = degrees(half)
    val o = orient(half, deg)
    orientedWedges(o)
      .join(o.as("e3"), col("e3.src") === col("y") && col("e3.dst") === col("z"))
      .select(col("x"), col("y"), col("z"))
      .selectExpr("""explode(array(
          struct(least(x, y) as u, greatest(x, y) as v),
          struct(least(x, z) as u, greatest(x, z) as v),
          struct(least(y, z) as u, greatest(y, z) as v))) as e""")
      .select(col("e.u"), col("e.v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
  }

  /** One synchronous truss-peeling round: recompute per-edge support on
    * the CURRENT edge set and keep edges closing >= 2 triangles. Factored
    * out of [[ktruss]]'s loop so the scale-stress tier can meter shuffle
    * bytes PER ROUND against the surviving edge count (r17 judge task 1)
    * without copying the round body. Lazy — callers materialize
    * (localCheckpoint) between rounds, the kcore tick discipline. */
  private[graft] def trussPeelRound(half: DataFrame): DataFrame =
    half.join(edgeSupport(half), Seq("u", "v"))
      .filter(col("sup") >= 2).select(col("u"), col("v"))

  /** K-TRUSS (k=4; Cohen 2008): the maximal subgraph where every edge
    * closes ≥ 2 triangles WITHIN the subgraph — the edge-cohesion ladder's
    * next rung after [[kcoreQuery]]'s vertex degrees (a 4-clique chain is
    * a 4-truss; a hub star satisfies any core but no truss), completing
    * the cohesion family degree → core → truss. Computed as at most 8
    * SYNCHRONOUS peeling rounds (simultaneous removal — deterministic, the
    * kcore discipline), stopping once a round removes nothing: peeling is
    * idempotent there, so the oracle's 8 unrolled rounds stay exact. Each
    * round re-derives per-edge support via the degree-oriented wedge machinery (Σ C(outdeg,2) work — the bound a
    * power-law hub demands), shuffles only (edge, support) pairs, never
    * edges-join-edges beyond the wedge closure. Output: the 4-truss edge
    * list with final support recomputed ON the truss (one more enumeration),
    * pruned co-purchase graph (every 5th order) so the oracle's
    * id-oriented re-enumeration stays seconds at sf0.1. */
  val ktruss = GraftQuery(
    "graph_ktruss",
    (s, dir) => {
      val li = Tables.t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_orderkey") % 5 === 0)
      // the scope releases the seed once the peeled edges are ticked
      val (half, _) = Pin.scope {
        val seed = li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
          .distinct().transform(Pin.reuse)
        Pin.rounds(seed, 8)((half, _) => trussPeelRound(half), new Shrinking(seed.count()))
      }
      half.join(edgeSupport(half), Seq("u", "v"), "left")
        .select(col("u"), col("v"), coalesce(col("sup"), lit(0L)).as("support"))
        .orderBy(col("u"), col("v"))
    },
    Some(s"""WITH e0 AS MATERIALIZED (
               SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
               FROM lineitem a JOIN lineitem b
                 ON a.l_orderkey = b.l_orderkey
                 AND a.l_orderkey % 5 = 0 AND a.l_partkey < b.l_partkey),
             ${(1 to 9).map(trussRoundSql).mkString(",\n")}
             SELECT e.u, e.v, CAST(coalesce(s.sup, 0) AS BIGINT) AS support
             FROM e8 e LEFT JOIN s9 s ON s.u = e.u AND s.v = e.v
             ORDER BY e.u, e.v"""))

  /** BIPARTITE 4-CYCLE CENSUS: squares are the cohesion signal a
    * bipartite graph has INSTEAD of triangles (two parts sharing two
    * suppliers = redundant co-sourcing; Lind et al. 2005's bipartite
    * clustering is built on them) — the missing cohesion row for the
    * supplier~part graph, where [[triangleCount]]/[[ktruss]] are
    * structurally zero. One wedge pass per side (pairs through shared
    * centers, C(deg,2) per center), each pair's square count is
    * C(n_common, 2) exactly — and the two sides MUST report the identical
    * square total (every C4 has 2 parts and 2 suppliers), so the 2-row
    * output carries its own cross-check the way ev_ab_lift carries its
    * A/A. Only (pair, count) rows shuffle.
    *
    * HUB DISCIPLINE ([[WedgeHubCap]], same family contract as
    * [[commonNeighborCounts]]): a power-law hub on EITHER side — one
    * degree-10⁶ supplier — would emit C(10⁶,2) ≈ 5·10¹¹ wedge rows from a
    * single join key, a fan-out AQE cannot split pre-join. Edges incident
    * to ANY vertex of degree > cap are pruned BEFORE both passes (not per
    * side: pruning per side would break the two-sided square equality,
    * because the sides would drop different squares), the per-side dropped
    * hub counts are surfaced as OBSERVED metrics and warn-logged by
    * [[DropLogger]], and the oracle applies the identical cap
    * predicate so capping never diverges the hash. The census is exact on
    * the cap-pruned graph — the documented trade, per the
    * graph_common_neighbors precedent. */
  private[operators] def bipartiteC4Census(pruned: DataFrame): DataFrame = {
    def census(side: String, center: String, leaf: String) = {
      val a = pruned.select(col(center).as("c"), col(leaf).as("a"))
      val b = pruned.select(col(center).as("c"), col(leaf).as("b"))
      a.join(b, "c").filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_common"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("n_common") >= 2, 1L).otherwise(0L)).as("n_pairs_multi"),
          sum(expr("n_common * (n_common - 1) div 2")).as("n_squares"))
        .select(lit(side).as("side"), col("n_pairs"), col("n_pairs_multi"),
          col("n_squares"))
    }
    census("part_pairs", "v", "u")
      .union(census("supplier_pairs", "u", "v"))
      .orderBy(col("side"))
  }

  /** Cap-prunes a bipartite (u, v) edge list: drops every edge incident
    * to a vertex whose degree exceeds hubCap, observing per-side dropped
    * hub counts under the two bipartite metrics. Exposed so the planted-
    * hub property spec can drive it with a synthetic degree-(cap+k) hub. */
  private[operators] def bipartiteCapPrune(raw: DataFrame, hubCap: Int): DataFrame = {
    val ud = raw.groupBy(col("u")).agg(count(lit(1)).as("udeg"))
      .observe(BipartitePartDropsMetric,
        sum(when(col("udeg") > hubCap, 1L).otherwise(0L)).as("dropped_centers"))
    val vd = raw.groupBy(col("v")).agg(count(lit(1)).as("vdeg"))
      .observe(BipartiteSuppDropsMetric,
        sum(when(col("vdeg") > hubCap, 1L).otherwise(0L)).as("dropped_centers"))
    raw.join(ud, "u").join(vd, "v")
      .filter(col("udeg") <= hubCap && col("vdeg") <= hubCap)
      .select(col("u"), col("v"))
  }

  val bipartiteC4 = GraftQuery(
    "graph_bipartite_c4",
    (s, dir) => {
      val raw = Tables.t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_partkey").as("u"), (col("l_suppkey") + SuppOffset).as("v"))
        .distinct()
      bipartiteC4Census(Pin.reuse(bipartiteCapPrune(raw, WedgeHubCap)))
    },
    Some(s"""WITH raw AS MATERIALIZED (
               SELECT DISTINCT l_partkey AS u, l_suppkey + $SuppOffset AS v
               FROM lineitem WHERE l_orderkey % 50 = 0),
             ud AS (SELECT u, count(*) AS d FROM raw GROUP BY u),
             vd AS (SELECT v, count(*) AS d FROM raw GROUP BY v),
             half AS MATERIALIZED (
               SELECT r.u, r.v FROM raw r
               JOIN ud ON ud.u = r.u JOIN vd ON vd.v = r.v
               WHERE ud.d <= $WedgeHubCap AND vd.d <= $WedgeHubCap),
             pp AS (
               SELECT a.u AS a, b.u AS b, count(*) AS n_common
               FROM half a JOIN half b ON a.v = b.v AND a.u < b.u
               GROUP BY a.u, b.u),
             sp AS (
               SELECT a.v AS a, b.v AS b, count(*) AS n_common
               FROM half a JOIN half b ON a.u = b.u AND a.v < b.v
               GROUP BY a.v, b.v)
             SELECT 'part_pairs' AS side, count(*) AS n_pairs,
               CAST(sum(CASE WHEN n_common >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pairs_multi,
               CAST(sum(n_common * (n_common - 1) // 2) AS BIGINT) AS n_squares
             FROM pp
             UNION ALL
             SELECT 'supplier_pairs', count(*),
               CAST(sum(CASE WHEN n_common >= 2 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(n_common * (n_common - 1) // 2) AS BIGINT)
             FROM sp
             ORDER BY side"""))

  /** RICH-CLUB COEFFICIENT curve (Zhou & Mondragón 2004): for each degree
    * cut k, the edge density among nodes of degree > k — do the
    * best-connected parts trade preferentially with each other (rich-club
    * φ rising toward 1) or spread their links (flat/falling)? The
    * degree-stratified density panel next to [[assortativity]]'s one-row
    * correlation and [[degreeHist]]'s volumes. Cuts are DATA-DRIVEN
    * degree quantiles (p50/p75/p90/p99, one broadcast row — the
    * ev_bot_detection discipline; fixed absolute cuts went vacuous on
    * this graph, whose min degree is ~40) so the curve stratifies at
    * every SF. One wedge-free pass: degrees join onto each edge's
    * endpoints, the cut sweep explodes 4 rows per edge/node, density is
    * one non-negative integer micro-div — no pairs are ever enumerated,
    * so the curve costs O(edges), not O(club²). */
  val richClub = GraftQuery(
    "graph_rich_club",
    (s, dir) => {
      val half = Pin.reuse(coPurchaseEdges(s, dir))
      val deg = Pin.reuse(degrees(half))
      val qs = broadcast(deg.agg(
        expr("percentile(deg, 0.5D)").as("p50"),
        expr("percentile(deg, 0.75D)").as("p75"),
        expr("percentile(deg, 0.9D)").as("p90"),
        expr("percentile(deg, 0.99D)").as("p99")))
      val cutsExpr = """explode(array(
          struct('p50' as cut, p50 as cutv), struct('p75' as cut, p75 as cutv),
          struct('p90' as cut, p90 as cutv), struct('p99' as cut, p99 as cutv)
        )) as c"""
      val nodes = deg.crossJoin(qs).selectExpr("deg", cutsExpr)
        .filter(col("deg") > col("c.cutv"))
        .groupBy(col("c.cut").as("cut")).agg(count(lit(1)).as("n_nodes"))
      val edges = half
        .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
        .select(least(col("du"), col("dv")).as("dmin"))
        .crossJoin(qs).selectExpr("dmin", cutsExpr)
        .filter(col("dmin") > col("c.cutv"))
        .groupBy(col("c.cut").as("cut")).agg(count(lit(1)).as("n_edges"))
      nodes.join(edges, Seq("cut"), "left")
        .select(col("cut"), col("n_nodes"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          expr("""coalesce(n_edges, 0) * 2000000
                  div nullif(n_nodes * (n_nodes - 1), 0)""").as("phi_micro"))
        .orderBy(col("cut"))
    },
    Some("""WITH e AS MATERIALIZED (
              SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
            deg AS MATERIALIZED (
              SELECT node, count(*) AS deg FROM (
                SELECT u AS node FROM e UNION ALL SELECT v FROM e)
              GROUP BY node),
            qs AS (SELECT quantile_cont(deg, 0.5) AS p50,
                     quantile_cont(deg, 0.75) AS p75,
                     quantile_cont(deg, 0.9) AS p90,
                     quantile_cont(deg, 0.99) AS p99 FROM deg),
            cuts AS (SELECT 'p50' AS cut, p50 AS cutv FROM qs
                     UNION ALL SELECT 'p75', p75 FROM qs
                     UNION ALL SELECT 'p90', p90 FROM qs
                     UNION ALL SELECT 'p99', p99 FROM qs),
            nodes AS (
              SELECT cut, count(*) AS n_nodes
              FROM deg CROSS JOIN cuts WHERE deg > cutv GROUP BY cut),
            edges AS (
              SELECT cut, count(*) AS n_edges
              FROM (SELECT least(du.deg, dv.deg) AS dmin
                    FROM e JOIN deg du ON du.node = e.u
                    JOIN deg dv ON dv.node = e.v) x
              CROSS JOIN cuts WHERE dmin > cutv GROUP BY cut)
            SELECT n.cut, n.n_nodes,
              CAST(coalesce(ed.n_edges, 0) AS BIGINT) AS n_edges,
              CAST(coalesce(ed.n_edges, 0) * 2000000
                // nullif(n.n_nodes * (n.n_nodes - 1), 0) AS BIGINT) AS phi_micro
            FROM nodes n LEFT JOIN edges ed ON ed.cut = n.cut
            ORDER BY n.cut"""))

  // ---------------------------------------------------------------------
  // Sampled Brandes centralities (betweenness + harmonic closeness)
  // ---------------------------------------------------------------------

  /** Source-sample size and hop bound for [[betweenness]]/[[harmonic]] —
    * the two knobs of k-source approximate centrality (Brandes & Pich
    * 2007: exact Brandes from a uniform source sample estimates BC with
    * error O(1/√k); the hop bound additionally truncates to the local
    * neighborhood, the standard web-scale concession). Sources are
    * content-hash-ranked so both engines (and any two cluster runs) pick
    * the identical sample. */
  private[operators] val BrandesSources = 4
  private[operators] val BrandesHops = 3

  /** Shortest-path counts within [[BrandesHops]] of every seed: BFS
    * frontier expansion where each new node's σ is the sum of its
    * predecessors' σ (Brandes 2001's forward pass), all (seed, node)-keyed
    * — state is seeds × reach rows, each hop one equi-join + one keyed sum
    * + one anti-join, edges never join edges.
    * @return (s, v, dist, sigma) for every node within hops of seed s
    * @note seeds arrive as a collected Seq (source-sample-sized, the
    *       PageRank n discipline) and the level-0 frame is built from
    *       literal rows — deriving v as an alias OF s plants an s=v
    *       equality constraint that Spark's Union.rewriteConstraints
    *       fails to rebind across localCheckpoint boundaries
    *       (NoSuchElementException on the stale attribute id). */
  private[graft] def brandesForward(und: DataFrame, seeds: Seq[Long],
      hops: Int, onHop: Int => Unit = _ => ()): DataFrame = {
    val sess = und.sparkSession
    import sess.implicits._
    val seed = seeds.map(x => (x, x, 0, 1L)).toDF("s", "v", "dist", "sigma")
    var hop = 0
    Pin.rounds(seed, hops)((visited, h) => {
      // The frontier (and the visited anti-join probe) are STATE-sized —
      // sources × reach rows — while und is the CORPUS-sized edge fact.
      // A localCheckpointed frame carries no size stats, so unhinted
      // Spark plans a sort-merge join and RE-SHUFFLES THE WHOLE EDGE
      // LIST EVERY HOP (the r17 beam-search defect class, found again
      // here by the r18 per-hop shuffle meter: ~0.9 GiB/hop at the 100x
      // tier). Size-aware broadcast of the state side keeps the edge
      // fact stream-read per hop: measured per-hop shuffle drops to the
      // frontier-expansion volume, invariant in corpus scale. Row counts
      // are exact and cheap (state-sized scans); past the cap (a graph
      // whose reach outgrows broadcast) the plain plan returns,
      // correctness unchanged.
      val frontier = visited.filter(col("dist") === h - 1)
      val expand = hintSmall(frontier, frontier.count()).as("f")
        .join(und.as("e"), col("f.v") === col("e.src"))
        .groupBy(col("f.s").as("s"), col("e.dst").as("v"))
        .agg(sum(col("f.sigma")).as("sigma"))
      val news = expand
        .join(hintSmall(visited.select(col("s"), col("v")), visited.count()),
          Seq("s", "v"), "left_anti")
        .select(col("s"), col("v"), lit(h).as("dist"), col("sigma"))
      visited.union(news)
    }, (_, _) => { hop += 1; onHop(hop); false })._1 // reports each hop, never stops
  }

  /** Broadcast-hint `df` when its EXACT row count is under
    * [[BrandesBroadcastMaxRows]]: Brandes' state-sized frames are
    * checkpointed, and checkpointed frames report no stats, so the
    * optimizer can't make this call itself. */
  private def hintSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows <= BrandesBroadcastMaxRows) broadcast(df) else df

  /** Frontier/level frames at ~32 B/row broadcast comfortably to 2²² rows
    * (~130 MB); beyond that (sources × reach outgrowing broadcast) the
    * unhinted shuffle plan is the right one anyway. */
  private[graft] val BrandesBroadcastMaxRows = 1L << 22

  /** Brandes' backward dependency accumulation in exact integer micros:
    * processing levels deepest-first, each node w at level d publishes
    * r(w) = (1e6 + δ(w)) div σ(w) ONCE (floor-per-node, the
    * resource_alloc 1e6-div-deg discipline — deterministic under any
    * aggregation order), and each predecessor v at d−1 accumulates
    * δ(v) = Σ_w σ(v)·r(w). In BFS every edge from level d−1 to level d is
    * a shortest-path edge, so predecessor discovery is one equi-join.
    * @return (s, v, dist, sigma, delta) over the forward pass's rows */
  private[graft] def brandesDelta(und: DataFrame, visited: DataFrame,
      hops: Int, onLevel: Int => Unit = _ => ()): DataFrame = Pin.scope {
    val vis = Pin.reuse(visited)
    // per-level row counts once up front (state-sized aggregate): the
    // level frames drive the same size-aware broadcast as the forward
    // pass — without it each backward level re-shuffles the edge fact
    // TWICE (the p⋈und and (p⋈und)⋈rw sort-merges).
    val lvlCounts = vis.groupBy(col("dist")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val seed = vis.filter(col("dist") === hops)
      .select(col("s"), col("v"), col("dist"), col("sigma"), lit(0L).as("delta"))
    var lvl = hops + 1
    Pin.rounds(seed, hops)((out, _) => {
      lvl -= 1
      val nLvl = lvlCounts.getOrElse(lvl, 0L)
      val nPrev = lvlCounts.getOrElse(lvl - 1, 0L)
      val rw = out.filter(col("dist") === lvl)
        .select(col("s"), col("v").as("w"),
          expr("(1000000L + delta) div sigma").as("r"))
      val terms = hintSmall(vis.filter(col("dist") === lvl - 1), nPrev).as("p")
        .join(und.as("e"), col("p.v") === col("e.src"))
        .join(hintSmall(rw, nLvl).as("t"),
          col("t.s") === col("p.s") && col("t.w") === col("e.dst"))
        .groupBy(col("p.s").as("s"), col("p.v").as("v"))
        .agg(sum(col("p.sigma") * col("t.r")).as("delta"))
      val lvlRows = vis.filter(col("dist") === lvl - 1)
        .join(terms, Seq("s", "v"), "left")
        .select(col("s"), col("v"), col("dist"), col("sigma"),
          coalesce(col("delta"), lit(0L)).as("delta"))
      out.union(lvlRows)
    }, (_, _) => { onLevel(lvl); false })._1 // reports each level, never stops
  }

  /** σ headroom guard: with σ ≤ 1e6 and δ ≤ reach·(1e6+δ_next) the
    * backward products stay far under int64 — a pathological graph that
    * explodes path counts fails LOUDLY here instead of overflowing. */
  private[graft] val BrandesSigmaCap = 1000000L

  /** The pruned co-purchase graph's undirected edge list (src, dst),
    * ticked once per run: the forward pass and the backward accumulation
    * read it every hop. */
  private def brandesUnd(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .filter(col("l_orderkey") % 5 === 0)
    val half = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    half.select(col("u").as("src"), col("v").as("dst"))
      .union(half.select(col("v").as("src"), col("u").as("dst")))
      .transform(Pin.tick)
  }

  private def brandesVisited(und: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seeds = und.select(col("src").as("node")).distinct()
      .withColumn("h", md5(concat(lit("btw:"), col("node").cast("string"))))
      .withColumn("rn", row_number().over(Window.orderBy(col("h"), col("node"))))
      .filter(col("rn") <= BrandesSources).select(col("node"))
      .collect().map(_.getLong(0)).toSeq
    val visited = brandesForward(und, seeds, BrandesHops)
    val maxSigma = visited.agg(max(col("sigma"))).head.getLong(0)
    require(maxSigma <= BrandesSigmaCap,
      s"path-count sigma $maxSigma exceeds the $BrandesSigmaCap headroom cap")
    visited
  }

  private def brandesUndSql =
    s"""bhalf AS MATERIALIZED (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
            AND a.l_orderkey % 5 = 0 AND a.l_partkey < b.l_partkey),
        bund AS MATERIALIZED (
          SELECT u AS src, v AS dst FROM bhalf
          UNION ALL SELECT v, u FROM bhalf),
        bseeds AS MATERIALIZED (SELECT node AS s FROM (
            SELECT node, row_number() OVER (
              ORDER BY md5(concat('btw:', CAST(node AS VARCHAR))), node) AS rn
            FROM (SELECT DISTINCT src AS node FROM bund))
          WHERE rn <= $BrandesSources),
        vis0 AS (SELECT s, s AS v, 0 AS dist, CAST(1 AS BIGINT) AS sigma
                 FROM bseeds),
        ${(1 to BrandesHops).map { h =>
          s"""exp$h AS (SELECT f.s, e.dst AS v, CAST(sum(f.sigma) AS BIGINT) AS sigma
                FROM vis${h - 1} f JOIN bund e ON e.src = f.v
                WHERE f.dist = ${h - 1} GROUP BY f.s, e.dst),
              new$h AS (SELECT x.s, x.v, $h AS dist, x.sigma FROM exp$h x
                WHERE NOT EXISTS (SELECT 1 FROM vis${h - 1} o
                                  WHERE o.s = x.s AND o.v = x.v)),
              vis$h AS MATERIALIZED (
                SELECT * FROM vis${h - 1} UNION ALL SELECT * FROM new$h)"""
        }.mkString(",\n        ")}"""

  private def brandesDeltaSql = {
    val H = BrandesHops
    s"""d$H AS (SELECT s, v, dist, sigma, CAST(0 AS BIGINT) AS delta
          FROM vis$H WHERE dist = $H),
        ${(H to 1 by -1).map { lvl =>
          s"""r$lvl AS (SELECT s, v AS w, (1000000 + delta) // sigma AS r
                FROM d$lvl),
              t${lvl - 1} AS (SELECT p.s, p.v,
                  CAST(sum(p.sigma * r.r) AS BIGINT) AS delta
                FROM vis$H p JOIN bund e ON e.src = p.v
                JOIN r$lvl r ON r.s = p.s AND r.w = e.dst
                WHERE p.dist = ${lvl - 1} GROUP BY p.s, p.v),
              d${lvl - 1} AS (SELECT p.s, p.v, p.dist, p.sigma,
                  coalesce(t.delta, 0) AS delta
                FROM vis$H p LEFT JOIN t${lvl - 1} t
                  ON t.s = p.s AND t.v = p.v
                WHERE p.dist = ${lvl - 1})"""
        }.mkString(",\n        ")},
        alldelta AS (${(0 to H).map(l => s"SELECT * FROM d$l").mkString(" UNION ALL ")})"""
  }

  /** SAMPLED BETWEENNESS CENTRALITY (Brandes 2001 via the Brandes & Pich
    * 2007 k-source estimator, hop-bounded): top-20 broker nodes of the
    * pruned co-purchase graph by accumulated shortest-path dependency from
    * [[BrandesSources]] content-hash sources within [[BrandesHops]] hops.
    * The dependency recursion δ(v) = Σ_w (σ_v/σ_w)(1 + δ(w)) runs in
    * exact integer micros with the ratio FLOORED ONCE PER SUCCESSOR
    * (r(w) = (1e6+δ(w)) div σ(w), then δ(v) = Σ σ_v·r(w)) — deterministic
    * under any aggregation order, mirrored verbatim in the oracle.
    *
    * 100 TB shape: state is sources × reach rows (never graph-sized per
    * source pair — the reason sampled Brandes replaced all-pairs in every
    * production graph stack); each hop and each backward level is one
    * equi-join + one keyed sum. σ is capped loudly at [[BrandesSigmaCap]]
    * so the int64 headroom proof survives adversarial graphs. */
  val betweenness = GraftQuery(
    "graph_betweenness",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val und = brandesUnd(s, dir)
      val deltas = brandesDelta(und, brandesVisited(und), BrandesHops)
      val w = Window.orderBy(col("btw_micro").desc, col("node"))
      deltas.filter(col("v") =!= col("s"))
        .groupBy(col("v").as("node"))
        .agg(sum(col("delta")).as("btw_micro"),
          count(lit(1)).as("n_sources"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("node"), col("btw_micro"), col("n_sources"))
        .orderBy(col("rank"))
    },
    Some(s"""WITH $brandesUndSql,
             $brandesDeltaSql
             SELECT CAST(rank AS INTEGER) AS rank, node, btw_micro, n_sources
             FROM (SELECT v AS node, CAST(sum(delta) AS BIGINT) AS btw_micro,
                     count(*) AS n_sources,
                     row_number() OVER (ORDER BY CAST(sum(delta) AS BIGINT) DESC,
                                        v) AS rank
                   FROM alldelta WHERE v <> s GROUP BY v)
             WHERE rank <= 20 ORDER BY rank"""))

  /** SAMPLED HARMONIC CLOSENESS (Boldi & Vigna 2014's centrality of
    * choice for disconnected graphs): top-20 nodes by Σ_s 1/d(s,v) over
    * the same [[BrandesSources]] sources within [[BrandesHops]] hops —
    * rides [[brandesForward]]'s BFS verbatim (undirected distances are
    * symmetric, so source-sampled sums estimate every node's centrality),
    * each 1/d term exact as 1e6 div d. The who-is-CLOSE panel next to
    * [[betweenness]]'s who-BROKERS. */
  val harmonic = GraftQuery(
    "graph_harmonic",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val visited = brandesVisited(brandesUnd(s, dir))
      val w = Window.orderBy(col("harm_micro").desc, col("node"))
      visited.filter(col("dist") >= 1)
        .groupBy(col("v").as("node"))
        .agg(sum(expr("1000000 div dist")).as("harm_micro"),
          count(lit(1)).as("n_sources"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("node"), col("harm_micro"), col("n_sources"))
        .orderBy(col("rank"))
    },
    Some(s"""WITH $brandesUndSql
             SELECT CAST(rank AS INTEGER) AS rank, node, harm_micro, n_sources
             FROM (SELECT v AS node,
                     CAST(sum(1000000 // dist) AS BIGINT) AS harm_micro,
                     count(*) AS n_sources,
                     row_number() OVER (
                       ORDER BY CAST(sum(1000000 // dist) AS BIGINT) DESC,
                       v) AS rank
                   FROM vis$BrandesHops WHERE dist >= 1 GROUP BY v)
             WHERE rank <= 20 ORDER BY rank"""))

  /** SAMPLED ECCENTRICITY / DIAMETER BOUND: per sampled source, the
    * farthest-reached distance within [[BrandesHops]] hops and the reach
    * count — rides [[brandesForward]]'s BFS verbatim (the betweenness /
    * harmonic forward pass, third rider on one machine). max(ecc) over
    * the sample is a DIAMETER LOWER BOUND, the number capacity planners
    * check before picking an iteration budget for BFS-family jobs (a
    * 100 TB graph whose sampled eccentricity already hits the hop bound
    * needs more rounds; one that plateaus early doesn't — the iFUB
    * estimation insight, Crescenzi et al. 2013). Output is
    * sources-sized. */
  val eccentricity = GraftQuery(
    "graph_eccentricity",
    (s, dir) => {
      val visited = brandesVisited(brandesUnd(s, dir))
      visited.groupBy(col("s"))
        .agg(count(lit(1)).as("n_reached"), max(col("dist")).as("ecc_bound"))
        .select(col("s").as("source"), col("n_reached"), col("ecc_bound"))
        .orderBy(col("source"))
    },
    Some(s"""WITH $brandesUndSql
             SELECT s AS source, count(*) AS n_reached,
               CAST(max(dist) AS INTEGER) AS ecc_bound
             FROM vis$BrandesHops GROUP BY s ORDER BY source"""))

  val all: Seq[GraftQuery] =
    Seq(connectedComponents, triangleCount, labelPropagation, kcoreQuery,
      ssspQuery, degreeHist, twoHop, commonNeighbors, resourceAlloc,
      jaccardSimilarity, assortativity, copurchaseLift, clusteringCoeff,
      modularity, louvainMove, louvain, randomWalk, ktruss, bipartiteC4,
      richClub, betweenness, harmonic, eccentricity)
}
