package graft.api

import graft.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.GraphOps

/** PUBLIC graph-algorithm facade over arbitrary edge DataFrames — the
  * library surface for the engine's graph family (the registry's graph_*
  * queries demonstrate the same algorithms on the TPC-H-derived fixture;
  * this object is what a user who "switches to this library" calls on
  * their own edges, the reference's user-facing iterative-computation
  * role per SURVEY §2.1 #22).
  *
  * Input conventions: undirected graphs arrive as a two-column pair list
  * (each edge once, any column names unless stated); ids are integral.
  * Every algorithm keeps the registry's scale shapes — key-sized
  * shuffles, pointer-jumping/localCheckpoint loops, hub caps where wedges
  * fan out — because it IS the same code (`GraphOps`), re-exported with
  * public contracts. Determinism guarantees (total-order tie-breaks,
  * exact-integer scores) carry over unchanged. */
object GraphAlgorithms {

  /** Canonical undirected half-edge list from any two-column pair frame:
    * self-loops dropped (a loop lets a wedge close on its own generating
    * edge — phantom triangles), (u,v)/(v,u) duplicates collapsed via
    * least/greatest before dedup. Shared by every wedge-family function. */
  private def canonical(pairs: DataFrame): DataFrame =
    pairs.toDF("u", "v")
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()

  /** Per-node triangle counts over a canonical half-edge list — the body
    * [[triangles]] and [[clusteringCoefficient]] share. */
  private def triangleCountsOf(half: DataFrame): DataFrame = {
    val o = Pin.reuse(GraphOps.orient(half, GraphOps.degrees(half)))
    GraphOps.orientedWedges(o)
      .join(o.as("e3"), col("e3.src") === col("y") && col("e3.dst") === col("z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Connected components by min-label propagation with pointer jumping —
    * O(log diameter) synchronous ticks.
    * Reads a loop tick: the caller's `Pin.query` releases it, or with no
    * query open the ContextCleaner once the frame is unreachable.
    * @param pairs undirected edges, two columns
    * @return (node, label) where label = min reachable node id */
  def connectedComponents(pairs: DataFrame): DataFrame =
    GraphOps.components(pairs)

  /** The k-core: iterative peel-to-fixpoint of nodes with degree < k.
    * Reads a loop tick: the caller's `Pin.query` releases it, or with no
    * query open the ContextCleaner once the frame is unreachable.
    * @return (node, deg) of the surviving subgraph's degrees */
  def kCore(pairs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"kCore needs k >= 1, got $k")
    GraphOps.kcore(pairs, k)._1
  }

  /** Hop-bounded single/multi-source shortest paths (Bellman-Ford frontier
    * relaxation; exact integral weights).
    * Reads a loop tick: the caller's `Pin.query` releases it, or with no
    * query open the ContextCleaner once the frame is unreachable.
    * @param edges   directed (src, dst, w) — pass both directions for
    *                undirected graphs
    * @param sources (node, dist) seed rows, usually dist = 0
    * @return (node, dist) minimum distance within maxHops */
  def shortestPaths(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame =
    GraphOps.sssp(edges.toDF("src", "dst", "w"), sources.toDF("node", "dist"),
      maxHops)

  /** Full 2-level Louvain community detection (parity-gated synchronous
    * move passes, accept-if-improved on exact-integer modularity,
    * Q-preserving contraction).
    * @param pairs undirected edges with columns (u, v)
    * @return per-level (level, n_communities, q_num, q_micro) rows —
    *         modularity is non-decreasing across levels by construction */
  def louvain(pairs: DataFrame): Seq[(Long, Long, Long, Long)] = {
    require(!pairs.isEmpty,
      "louvain needs a non-empty edge list (modularity is undefined at m = 0)")
    GraphOps.louvainRun(pairs.toDF("u", "v")).levels
  }

  /** Sampled-source Brandes betweenness (hop-bounded, exact-integer
    * dependency micros; Brandes & Pich 2007 estimator).
    * Reads two loop ticks: the caller's `Pin.query` releases them, or with
    * no query open the ContextCleaner once the frame is unreachable.
    * @param und   undirected edges, both directions, (src, dst)
    * @param seeds source sample (collected ids — source-sample-sized)
    * @return (s, v, dist, sigma, delta) per (source, reached node) */
  def betweennessDeltas(und: DataFrame, seeds: Seq[Long], hops: Int): DataFrame = {
    val u = und.toDF("src", "dst")
    val visited = GraphOps.brandesForward(u, seeds, hops)
    // the registry route's sigma headroom cap, applied here too: the
    // dependency micros floor (1e6 + delta) div sigma, so path counts past
    // 1e6 would silently zero every upstream delta (and can overflow the
    // int64 product under ANSI) — fail with the named contract error
    // instead (r15 facade review)
    val maxSigma = visited.agg(max(col("sigma"))).head.getLong(0)
    require(maxSigma <= GraphOps.BrandesSigmaCap,
      s"path-count sigma $maxSigma exceeds the ${GraphOps.BrandesSigmaCap} " +
        "headroom cap (sample fewer hops or denser seeds)")
    GraphOps.brandesDelta(u, visited, hops)
  }

  /** Sampled harmonic closeness: Σ_s 1e6 div d(s,v) over the seed sample.
    * @return (node, harm_micro, n_sources) */
  def harmonicCloseness(und: DataFrame, seeds: Seq[Long], hops: Int): DataFrame =
    GraphOps.brandesForward(und.toDF("src", "dst"), seeds, hops)
      .filter(col("dist") >= 1)
      .groupBy(col("v").as("node"))
      .agg(sum(expr("1000000 div dist")).as("harm_micro"),
        count(lit(1)).as("n_sources"))

  /** Once-each common-neighbor counts along the (degree, id) orientation
    * with wedge centers capped at `hubCap` (drops are the caller's
    * contract — a power-law hub center would fan out C(deg, 2) rows).
    * Duplicate edge rows are deduplicated first — counts are per distinct
    * neighbor, never inflated by multi-edges.
    * @param half undirected edges once, columns (u, v)
    * @return (a, b, n_common, ra_micro) per candidate pair */
  def commonNeighbors(half: DataFrame, hubCap: Int = 1024): DataFrame = {
    require(hubCap >= 1, s"commonNeighbors needs hubCap >= 1, got $hubCap")
    val h = half.toDF("u", "v").distinct()
    GraphOps.commonNeighborCounts(h, GraphOps.degrees(h), hubCap)
  }

  /** Per-node triangle counts — the registry's graph_triangles
    * enumeration over an arbitrary undirected pair list: edges are
    * (degree, id)-oriented so every triangle is counted exactly once from
    * its minimum corner via the out-out wedge join, which bounds wedge
    * fan-out at power-law hubs to Σ C(outdeg, 2) instead of Σ deg² (a
    * huge hub with ordinary neighbors opens ~zero wedges). Nodes in no
    * triangle are absent from the output.
    * Input is canonicalized: self-loops are dropped (a loop would let a
    * wedge close on its own generating edge — a phantom triangle) and
    * (u,v)/(v,u) duplicates collapse via least/greatest before dedup.
    * @param pairs undirected edges, two columns
    * @return (node, n_triangles), all triangle-participating nodes */
  def triangles(pairs: DataFrame): DataFrame =
    triangleCountsOf(Pin.reuse(canonical(pairs)))

  /** Per-node local clustering coefficient 2·triangles/(deg·(deg−1)) in
    * exact micros — how tightly each node's neighborhood closes, the
    * community-tightness profile next to a degree histogram. Rides the
    * same (degree, id)-oriented once-each wedge enumeration as
    * [[triangles]] (the registry core — one shared expression, one
    * pinned half-edge list), so wedge work stays Σ C(outdeg, 2)
    * under power-law hubs. Degree-0/1 nodes are excluded (the
    * coefficient is undefined).
    * @param pairs undirected edges, two columns
    * @return (node, degree, n_triangles, coeff_micro) */
  def clusteringCoefficient(pairs: DataFrame): DataFrame =
    GraphOps.clusteringOf(canonical(pairs))

  /** Newman degree assortativity: the one-row do-hubs-link-to-hubs
    * Pearson coefficient over edge endpoints — all moments exact BIGINT
    * sums off two node-keyed degree joins, the single division
    * micro-scaled in DECIMAL(38,0). A regular graph (zero degree
    * variance) reports null, never a fabricated 0.
    * @param pairs undirected edges, two columns
    * @return one row: (m_directed, s1, s2, sp, r_micro) */
  def assortativity(pairs: DataFrame): DataFrame =
    GraphOps.assortativityOf(canonical(pairs))

  /** Neighborhood-Jaccard LINK PREDICTION: non-adjacent node pairs scored
    * by |N'(a) ∩ N'(b)| / |N'(a) ∪ N'(b)| over the HUB-FILTERED
    * neighborhoods N'(x) = {c ∈ N(x) : deg(c) ≤ hubCap} — the
    * degree-normalized index next to [[commonNeighbors]]' raw counts and
    * RA micros. Already-connected pairs are anti-joined away (a
    * "prediction" of an existing edge is noise — the registry twin's
    * contract, r16 second review). The hub cap applies to BOTH sides of
    * the division (r16 advisor: capped n_common over full degrees
    * understated scores for hub-sharing pairs): intersection and degrees
    * count the same filtered neighbor sets, so |A'∪B'| = da' + db' −
    * n_common holds exactly and the score is one non-negative integer
    * micro-div. Pairs whose EVERY shared neighbor is a hub have an empty
    * filtered intersection and are absent — the cap is the semantics,
    * not an approximation of an uncapped score. Rides the registry's
    * once-each wedge pass over ONE pinned half-edge list and ONE
    * pinned degree table.
    * @param pairs undirected edges, two columns
    * @return (a, b, n_common, jaccard_micro) per non-adjacent candidate */
  def jaccardSimilarity(pairs: DataFrame, hubCap: Int = 1024): DataFrame = {
    require(hubCap >= 1, s"jaccardSimilarity needs hubCap >= 1, got $hubCap")
    val h = Pin.reuse(canonical(pairs))
    val deg = Pin.reuse(GraphOps.degrees(h))
    GraphOps.jaccardScoresOf(h, deg, hubCap)
      .select(col("a"), col("b"), col("n_common"),
        col("jaccard_micro").cast("bigint").as("jaccard_micro"))
  }

  /** Semi-supervised label propagation: `rounds` synchronous rounds where
    * every node adopts the majority label of its labeled neighbors
    * (min-label tie-break — deterministic), with the supplied labels
    * CLAMPED (a seed never changes). The standard label-spreading step
    * behind community assignment and weak-supervision expansion. Per
    * round: one edge join + one (node, label) vote count, ticks cut by
    * eager checkpoints. Labeled nodes absent from the edge list do not
    * propagate (no edges to carry them) but DO appear in the output with
    * their clamped label — the clamp contract covers them too.
    * Reads a loop tick: the caller's `Pin.query` releases it, or with no
    * query open the ContextCleaner once the frame is unreachable.
    * @param pairs   undirected edges, two columns
    * @param labeled (node, label) rows for the seeded nodes only
    * @return (node, label) for every node that ends up labeled */
  def labelPropagation(pairs: DataFrame, labeled: DataFrame,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"labelPropagation needs rounds in [1, 16], got $rounds")
    require(labeled.columns.length == 2,
      s"expected a two-column (node, label) frame, got ${labeled.columns.length} columns")
    // canonicalize like every other facade graph function: a reversed
    // duplicate edge or a self-loop would otherwise DOUBLE a neighbor's
    // vote, silently flipping documented min-label tie-breaks (r16
    // second review)
    val half = canonical(pairs)
    // seed hygiene: exact duplicate rows collapse (a routine upstream
    // join artifact); CONFLICTING labels for one node are a named
    // contract error — both copies would clamp and vote, emitting the
    // node twice with different labels
    val lab = labeled.toDF("node", "seed").distinct()
    val dup = lab.groupBy(col("node")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"labelPropagation: node ${dup.headOption.map(_.get(0)).orNull} has " +
        "conflicting seed labels — resolve the seed frame first")
    val edges = half.union(half.select(col("v").as("u"), col("u").as("v")))
    // the node universe is edge endpoints UNION seed nodes: a seeded node
    // with no edges can't propagate, but the clamp contract ("a seed
    // never changes") and the return doc ("every node that ends up
    // labeled") both promise its OWN label survives — edge-derived nodes
    // alone silently dropped it (r16 advisor)
    val nodes = edges.select(col("u").as("node"))
      .union(lab.select(col("node"))).distinct()
    val seeds = nodes.join(lab, Seq("node"), "left")
    GraphOps.lpaOn(edges, seeds, rounds)
      .filter(col("label").isNotNull)
      .select(col("node"), col("label"))
  }

  /** PageRank (damping 0.85) to a movement tolerance — the registry's
    * graph_pagerank loop (the reference's flagship iterative protocol,
    * SURVEY §2.1 #22) over an arbitrary DIRECTED edge frame: a node's
    * rank divides over its out-edges each tick; dangling nodes (no
    * out-edges) hold rank but leak their damped mass, the standard
    * simplification — symmetrize the input for the leak-free undirected
    * form. Per tick: one key-partitioned join + sum shuffle, lineage cut
    * by eager localCheckpoint, one driver-side delta scalar — never a
    * node-set collect.
    * Reads a loop tick: the caller's `Pin.query` releases it, or with no
    * query open the ContextCleaner once the frame is unreachable.
    * @param edges directed (src, dst), two columns; duplicates dedup
    * @return (node, pr) ranks rounded to 8 dp, ordered by node */
  def pageRank(edges: DataFrame, tol: Double = 1e-6,
      maxIters: Int = 50): DataFrame = {
    require(maxIters >= 1, s"pageRank needs maxIters >= 1, got $maxIters")
    val e = edges.toDF("src", "dst").distinct()
    graft.operators.PageRank.iterateEdges(e.sparkSession, e, maxIters, tol)
  }
}
