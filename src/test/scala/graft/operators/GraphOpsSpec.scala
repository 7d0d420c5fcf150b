package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Properties of the round-9 graph operators that the DuckDB oracle can't
  * express: the pointer-jumping convergence bound for connected components
  * and the DSIR importance-weight direction signal. */
class GraphOpsSpec extends SparkTestBase {

  test("components converges in O(log diameter) ticks on a long chain") {
    import spark.implicits._
    spark.catalog.clearCache()
    // a 256-node path: worst case for plain min-label propagation (255
    // ticks); pointer jumping must close it in ~log2(256)=8 ticks (+ a
    // couple of hook/settle rounds and the final no-change tick)
    val n = 256
    val chain = (0L until (n - 1L)).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, ticks) = GraphOps.componentsWithTicks(chain)
    val out = labels.as[(Long, Long)].collect()
    assert(out.length == n)
    assert(out.forall(_._2 == 0L), "every chain node must label to min node 0")
    assert(ticks <= 12, s"pointer jumping should need ~log2($n)=8 ticks, took $ticks")
  }

  test("components handles forests and singleton-free edge sets") {
    import spark.implicits._
    // two separate stars + one isolated edge
    val pairs = Seq((10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L), (20L, 22L), (30L, 31L)).toDF("a", "b")
    val got = GraphOps.components(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L))
  }

  test("dsir weights: target-language documents score higher than the rest") {
    import spark.implicits._
    val scored = Curation.dsirWeights.run(spark, sf)
      .join(graft.Tables.t(spark, sf, "documents").select(col("doc_id"), col("lang")), "doc_id")
      .select(col("lang") === "en", col("score_scaled").cast("double") / col("n_bigrams"))
      .as[(Boolean, Double)].collect()
    val en = scored.filter(_._1).map(_._2)
    val rest = scored.filter(!_._1).map(_._2)
    assert(en.nonEmpty && rest.nonEmpty)
    val (enMean, restMean) = (en.sum / en.length, rest.sum / rest.length)
    // the hashed-bigram likelihood-ratio model must systematically prefer
    // its own target slice — that's the entire point of DSIR
    assert(enMean > restMean,
      s"en mean per-bigram log-ratio $enMean should exceed non-en $restMean")
    // and the per-doc means should separate by a clear margin, not noise
    // (measured ~0.054 nats/bigram at sf0.001; require at least 0.02)
    assert(enMean - restMean > 20000.0, // 1e6-scaled nats
      s"separation ${enMean - restMean} too small for a real signal")
  }

  test("kcore peels chains off a triangle and cascades pendant removal") {
    import spark.implicits._
    // triangle 1-2-3 with a pendant chain 3-4-5: peeling at k=2 must remove
    // 5 first, THEN 4 (its degree only drops below 2 after 5 goes) — the
    // cascade that distinguishes iterative peeling from a one-shot degree
    // filter. Survivors: the triangle, every node at degree 2.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val (core, rounds) = GraphOps.kcore(pairs, 2)
    val got = core.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"2-core of triangle+chain must be the bare triangle, got $got")
    assert(rounds >= 3, s"pendant cascade takes 2 peel rounds + the no-change round, got $rounds")
    // one-shot degree filter would KEEP node 4 (degree 2 in the full graph)
    // — pin that the cascade actually removed it
    assert(!got.contains(4L))

    // k above the degeneracy empties the graph
    val (empty, _) = GraphOps.kcore(pairs, 3)
    assert(empty.isEmpty)

    // a clique survives any k below its size, degrees intact
    val clique = (for { i <- 1L to 5L; j <- (i + 1) to 5L } yield (i, j)).toDF("a", "b")
    val (c4, _) = GraphOps.kcore(clique, 4)
    assert(c4.as[(Long, Long)].collect().toMap == (1L to 5L).map(_ -> 4L).toMap)
  }

  test("wedge family: (deg,id) orientation bounds wedge rows at a planted hub") {
    import spark.implicits._
    // planted star: hub 0 ↔ leaves 1..1000, plus one triangle among leaves
    // {1,2,3} so the closure join has something to find
    val half = ((1L to 1000L).map(h => (0L, h)) ++ Seq((1L, 2L), (1L, 3L), (2L, 3L)))
      .toDF("u", "v")
    val deg = GraphOps.degrees(half).cache()
    val o = GraphOps.orient(half, deg).cache()
    // every leaf (deg <= 3) ranks below the hub (deg 1000): all star edges
    // point leaf→hub, so the hub's OUT-degree is zero
    assert(o.filter(col("dst") === 0L).count() == 1000)
    assert(o.filter(col("src") === 0L).count() == 0)
    // oriented wedge-row count is Σ_v C(outdeg(v),2): node 1 (out {0,2,3})
    // contributes C(3,2)=3, node 2 (out {0,3}) contributes 1, all else 0 —
    // 4 rows total, vs Σ_v deg(v)² ≈ 10⁶ for the naive und⋈und wedge join
    // (the r10-flagged shape), and under the compact-forward bound
    // Σ_e min(deg u, deg v) = 997·1 + 6·3 = 1015
    val wedgeRows = GraphOps.orientedWedges(o).count()
    assert(wedgeRows == 4, s"oriented wedge rows must be Σ C(outdeg,2)=4, got $wedgeRows")
    val outdeg = o.groupBy(col("src")).agg(count(lit(1)).as("c")).as[(Long, Long)].collect()
    assert(outdeg.map { case (_, c) => c * (c - 1) / 2 }.sum == wedgeRows)
    val minDegBound = 997L * 1 + 6 * 3
    assert(wedgeRows <= minDegBound && minDegBound * 100 < 1000L * 1000L)
    // closure finds all four triangles (the planted {1,2,3} plus the three
    // it forms with the hub), each from its (deg,id)-min apex, once each
    val tri = GraphOps.orientedWedges(o)
      .join(o.as("e3"), col("e3.src") === col("y") && col("e3.dst") === col("z"))
      .select(col("x"), col("y"), col("z")).as[(Long, Long, Long)].collect().toSet
    assert(tri == Set((1L, 2L, 3L), (1L, 2L, 0L), (1L, 3L, 0L), (2L, 3L, 0L)),
      s"star+triangle closure, got $tri")

    // common-neighbor counts: each unordered wedge exactly once. With the
    // hub under the cap, Σ n_common must equal Σ_{deg(c)<=cap} C(deg c, 2)
    // = C(1000,2) + 3·C(3,2) = 499509 over C(1000,2)+3 distinct pairs;
    // spot-check {4,5} (hub only) = 1 and {1,2} (hub + center 3) = 2
    val cn = GraphOps.commonNeighborCounts(half, deg, hubCap = 2000).cache()
    assert(cn.agg(sum(col("n_common"))).as[Long].head == 499509L)
    assert(cn.count() == 499500L + 3)
    val byPair = cn.filter(col("a") < 6).select(col("a"), col("b"), col("n_common"))
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    assert(byPair((4L, 5L)) == 1L && byPair((1L, 2L)) == 2L && byPair((0L, 1L)) == 2L)
    cn.unpersist()
    // capping the hub center drops its C(1000,2) wedges — only the three
    // deg-3 leaf centers remain, 6 candidate pairs, all of them existing
    // edges (so the registry query's anti-join would return nothing)
    val capped = GraphOps.commonNeighborCounts(half, deg, hubCap = 100).cache()
    assert(capped.count() == 6)
    assert(capped.agg(sum(col("n_common"))).as[Long].head == 9L)
    capped.unpersist()
    o.unpersist(); deg.unpersist()
  }

  test("bipartite C4: cap-prune bounds a planted hub and keeps the two-sided equality") {
    import spark.implicits._
    // parts 1..50 all sold by hub supplier 100 (degree 50); parts {1,2}
    // additionally share suppliers {101,102} — one hub-free square
    val raw = ((1L to 50L).map(u => (u, 100L)) ++
      Seq((1L, 101L), (1L, 102L), (2L, 101L), (2L, 102L))).toDF("u", "v")

    // uncapped: squares through the hub count — 3 per side, sides equal
    val open = GraphOps.bipartiteC4Census(
      GraphOps.bipartiteCapPrune(raw, hubCap = 1000).cache())
    val openRows = open.as[(String, Long, Long, Long)].collect()
    assert(openRows.map(_._4).toSet == Set(3L),
      s"uncapped census must find 3 squares on BOTH sides, got ${openRows.toSeq}")
    // part side enumerates all C(50,2) hub pairs — the fan-out the cap kills
    assert(openRows.find(_._1 == "part_pairs").get._2 == 50L * 49 / 2)

    // capped at 10: the degree-50 hub's edges are pruned BEFORE both
    // passes; the survivor graph is the 2x2 square — 1 square per side,
    // sides still equal (per-side capping would have broken this), and
    // the part-side pair count collapses from 1225 to 1
    val pruned = GraphOps.bipartiteCapPrune(raw, hubCap = 10).cache()
    assert(pruned.count() == 4, "only the square's 4 edges survive the cap")
    val capped = GraphOps.bipartiteC4Census(pruned)
    val cappedRows = capped.as[(String, Long, Long, Long)].collect()
    assert(cappedRows.map(_._4).toSet == Set(1L),
      s"capped census: 1 square on both sides, got ${cappedRows.toSeq}")
    assert(cappedRows.forall(_._2 == 1L))

    // the drop is OBSERVED, not silent: the supplier-side metric reports
    // exactly the one capped hub; the part side reports zero
    val obs = capped.queryExecution.observedMetrics
    assert(obs(GraphOps.BipartiteSuppDropsMetric).getAs[Long]("dropped_centers") == 1L,
      s"supplier hub drop must be observed, got $obs")
    assert(obs(GraphOps.BipartitePartDropsMetric).getAs[Long]("dropped_centers") == 0L)
    pruned.unpersist()
  }

  test("louvain: Q non-decreasing across levels, contraction Q-preserving, cliques recovered") {
    import spark.implicits._
    // two 6-cliques bridged by a single edge — the textbook community
    // structure Louvain must find (mixed parities inside each clique so
    // the gated sub-passes have to cooperate)
    val clique1 = for { i <- 1L to 6L; j <- (i + 1) to 6L } yield (i, j)
    val clique2 = for { i <- 11L to 16L; j <- (i + 1) to 16L } yield (i, j)
    val half = (clique1 ++ clique2 ++ Seq((6L, 11L))).toDF("u", "v")
    val r = GraphOps.louvainRun(half)
    val Seq((0L, nc0, q0, qm0), (1L, nc1, q1, qm1), (2L, nc2, q2, qm2)) = r.levels
    assert(nc0 == 12L)
    // accept-if-improved makes non-decrease a guarantee, not a hope
    assert(q0 <= q1 && q1 <= q2, s"Q must be monotone: $q0, $q1, $q2")
    assert(qm0 <= qm1 && qm1 <= qm2)
    // contraction is exactly Q-preserving: the singleton super-node
    // partition scores identically to level 1's final partition
    assert(r.contractedQNum == q1,
      s"contraction must preserve Q: super ${r.contractedQNum} vs level1 $q1")
    // the two cliques are the (known) optimal 2-community structure
    assert(nc2 == 2L, s"two bridged cliques must resolve to 2 communities, got $nc2")
    assert(nc1 <= nc0 && nc2 <= nc1)
    // and moves genuinely happened at level 1 (the r12 all-swaps failure
    // mode left everything singleton; parity gating fixes it)
    assert(nc1 < nc0, "level 1 must merge something")
  }

  test("brandes: sigma counts shortest paths, delta matches the hand-computed dependency") {
    import spark.implicits._
    // diamond: 1-2, 1-3, 2-4, 3-4 plus a tail 4-5. From source 1:
    // sigma(4) = 2 (two shortest paths), sigma(5) = 2, dist(5) = 3
    val half = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val und = half.select(col("u").as("src"), col("v").as("dst"))
      .union(half.select(col("v").as("src"), col("u").as("dst"))).cache()
    val vis = GraphOps.brandesForward(und, Seq(1L), hops = 3)
      .as[(Long, Long, Int, Long)].collect()
      .map { case (_, v, d, g) => v -> ((d, g)) }.toMap
    assert(vis(1L) == ((0, 1L)) && vis(2L) == ((1, 1L)) && vis(3L) == ((1, 1L)))
    assert(vis(4L) == ((2, 2L)), s"diamond top must have sigma 2, got ${vis(4L)}")
    assert(vis(5L) == ((3, 2L)), "sigma propagates through the merge point")

    // backward pass, hand-computed in micros (floor-per-successor ratios):
    // r(5) = 1e6 div 2 = 500000, delta(4) = sigma(4)*r(5) = 2*500000 = 1e6
    // r(4) = (1e6 + 1e6) div 2 = 1e6; delta(2) = delta(3) = 1*1e6 = 1e6
    val visDf = GraphOps.brandesForward(und, Seq(1L), hops = 3)
    val deltas = GraphOps.brandesDelta(und, visDf, hops = 3)
      .as[(Long, Long, Int, Long, Long)].collect()
      .map { case (_, v, _, _, dl) => v -> dl }.toMap
    assert(deltas(5L) == 0L)
    assert(deltas(4L) == 1000000L, s"delta(4) = ${deltas(4L)}")
    assert(deltas(2L) == 1000000L && deltas(3L) == 1000000L,
      "both diamond flanks carry half the paths each: sigma_v * r(4) = 1e6")
    // classic Brandes from source 1: delta(2) = delta(3) = 1.0 exactly
    // (0.5 through to 4, plus 0.5 of the pair (1,5)); micros agree
    und.unpersist()
  }

  test("oriented wedge decomposition equals brute force on random graphs") {
    import spark.implicits._
    // the in-in/in-out/out-out split must count every unordered wedge
    // exactly once on ARBITRARY graphs, not just the planted star —
    // cross-check against a driver-side brute force on three random graphs
    for (seed <- Seq(1, 2, 3)) {
      val rng = new scala.util.Random(seed)
      val n = 30
      val edges = (for {
        u <- 0L until n; v <- (u + 1) until n
        if rng.nextDouble() < 0.15
      } yield (u, v)).toSeq
      val half = edges.toDF("u", "v")
      val deg = GraphOps.degrees(half)
      val gotRows = GraphOps.commonNeighborCounts(half, deg, hubCap = 1000)
        .select(col("a"), col("b"), col("n_common"), col("ra_micro"))
        .as[(Long, Long, Long, Long)].collect()
      val got = gotRows.map { case (a, b, c, _) => (a, b) -> c }.toMap
      val gotRa = gotRows.map { case (a, b, _, r) => (a, b) -> r }.toMap
      // brute force: common neighbors per non-ordered pair
      val nbrs = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      val want = (for {
        a <- 0L until n; b <- (a + 1) until n
        c = nbrs.getOrElse(a, Set.empty).intersect(nbrs.getOrElse(b, Set.empty)).size
        if c > 0
      } yield (a, b) -> c.toLong).toMap
      assert(got == want, s"seed $seed: oriented decomposition diverged from brute force")
      // resource-allocation terms too: Σ_c 1e6 div deg(c), exact integers
      val wantRa = (for {
        a <- 0L until n; b <- (a + 1) until n
        cs = nbrs.getOrElse(a, Set.empty).intersect(nbrs.getOrElse(b, Set.empty))
        if cs.nonEmpty
      } yield (a, b) -> cs.toSeq.map(c => 1000000L / nbrs(c).size).sum).toMap
      assert(gotRa == wantRa, s"seed $seed: RA terms diverged from brute force")
      // triangles too: per-node counts from the oriented closure vs brute force
      val o = GraphOps.orient(half, deg)
      val triNodes = GraphOps.orientedWedges(o)
        .join(o.as("e3"), col("e3.src") === col("y") && col("e3.dst") === col("z"))
        .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy("node").count().as[(Long, Long)].collect().toMap
      val wantTri = (for {
        a <- 0L until n; b <- (a + 1) until n; c <- (b + 1) until n
        if nbrs.getOrElse(a, Set.empty)(b) && nbrs.getOrElse(b, Set.empty)(c) &&
          nbrs.getOrElse(a, Set.empty)(c)
        x <- Seq(a, b, c)
      } yield x).groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
      assert(triNodes == wantTri, s"seed $seed: oriented triangles diverged")
    }
  }

  test("assortativity: star anchors at -1e6, permutation-invariant, moments exact") {
    import spark.implicits._
    // a star is maximally DISassortative: every edge joins the hub
    // (deg n-1) to a leaf (deg 1), so r = -1 exactly -> r_micro = -1e6
    val star = (1L to 12L).map(l => (0L, l)).toDF("u", "v")
    val r1 = GraphOps.assortativityOf(star).collect()(0)
    assert(r1.getAs[Long]("r_micro") == -1000000L,
      s"star assortativity must be exactly -1e6, got $r1")
    assert(r1.getAs[Long]("m_directed") == 24L) // both orientations counted
    // relabeling nodes cannot move any moment (degree multiset unchanged)
    val perm = star.select((col("u") * 7 + 3).as("u"), (col("v") * 7 + 3).as("v"))
    assert(GraphOps.assortativityOf(perm).collect()(0) == r1)
    // a 4-cycle is 2-regular: zero degree variance makes r undefined
    // (denominator 0) - the spelling must surface null, never a wrong 0
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L)).toDF("u", "v")
    assert(GraphOps.assortativityOf(cyc).collect()(0).isNullAt(4),
      "regular graph: r_micro must be null (0/0), not fabricated")
  }

  test("sssp relaxes a weighted chain to exact prefix sums within the hop bound") {
    import spark.implicits._
    // chain 0-1-2-...-7 with weight i+1 on edge (i, i+1): dist(k) must be
    // the exact prefix sum 1+2+...+k; a heavier direct shortcut 0->3 (w=100)
    // must LOSE to the lighter 3-hop path (6) — min-merge, not first-visit
    val chain = (0L until 7L).map(i => (i, i + 1, i + 1)) :+ ((0L, 3L, 100L))
    val half = chain.toDF("a", "b", "w")
    val edges = half.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .union(half.select(col("b").as("src"), col("a").as("dst"), col("w")))
    val source = Seq((0L, 0L)).toDF("node", "dist")
    val got = GraphOps.sssp(edges, source, maxHops = 7).as[(Long, Long)].collect().toMap
    val prefix = (0 to 7).map(k => k.toLong -> (1 to k).map(_.toLong).sum).toMap
    assert(got == prefix, s"chain distances must be prefix sums: $got")

    // hop-bounded semantics: with maxHops=3 only nodes within 3 relaxation
    // rounds appear, and node 3 arrives via the cheaper 3-hop path (6),
    // not the direct w=100 edge
    val bounded = GraphOps.sssp(edges, source, maxHops = 3).as[(Long, Long)].collect().toMap
    assert(bounded(3L) == 6L, s"min-merge must beat the heavy shortcut: $bounded")
    assert(!bounded.contains(7L), "node 7 needs 7 hops and must be absent at bound 3")
    // 3 rounds reach the chain's hop-3 frontier (node 3) plus the nodes the
    // heavy shortcut opened up (4 in round 2, 5 in round 3)
    assert(bounded.keySet == (0L to 5L).toSet, s"3-round reachable set: $bounded")
  }

  test("the Brandes entries tick the undirected edge list once per run") {
    // the edge list (src, dst) is the only two-column frame these entries
    // tick; the forward and backward passes tick wider state frames, and
    // every undropped tick stays persisted until the query ends
    for (name <- Seq("graph_betweenness", "graph_harmonic", "graph_eccentricity")) {
      val q = graft.SparkEntry.registry.find(_.name == name).get
      val edgeTicks = graft.Pin.query {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        q.run(spark, sf).write.format("noop").mode("overwrite").save()
        (spark.sparkContext.getPersistentRDDs -- before).values.count(rdd =>
          rdd.asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]]
            .map(_.numFields).take(1).sameElements(Seq(2)))
      }
      assert(edgeTicks == 1, s"$name ticked the edge list $edgeTicks times")
    }
  }
}
