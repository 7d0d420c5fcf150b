package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

/** Measured evidence for the 100x scale posture (README "Scale design"):
  * explode the bench corpus (sf0.1) 10x into a temp dir — fact tables
  * replicated with disjoint key ranges, dimensions untouched, exactly how a
  * corpus grows against a stable entity universe — and run the heaviest
  * registry queries once each, asserting they (a) complete, (b) keep the
  * plan shape they had at bench scale (no CartesianProduct anywhere, no NEW
  * broadcast exchanges appearing, the fact table never on a broadcast build
  * side), and (c) leave the driver heap bounded (results are never
  * collect()ed; only counts cross to the driver).
  *
  * Env-gated (`GRAFT_SCALE_STRESS=1`) because the explode step writes ~1 GB
  * of parquet and the run takes minutes — it is scale evidence, not a unit
  * test. Numbers from the last run are recorded in README "Scale stress". */
class ScaleStressSpec extends SparkTestBase {

  private val enabled = sys.env.get("GRAFT_SCALE_STRESS").contains("1")
  private val baseSf = "/root/testdata/sf0.1"
  private val Copies = 10
  private val KeyOff = 10000000L // > any sf0.1 key; keeps replicas disjoint

  // round-12 additions: dedup_cdc_chunks (every chunk exists >= Copies
  // times — adversarial for the digest groupBy), graph_hits (iterative
  // tick loop re-scans the 10x edge fact per round), ann_mmr_topk (stage-1
  // corpus scan is 10x; the MMR rounds must stay shortlist-sized)
  // round-13 additions: dedup_exact_substring (stride-1 digest volume is
  // corpus-token-sized — THE thing to watch at 10x), graph_ktruss (9 wedge
  // enumerations per run over the 10x co-purchase graph),
  // lm_transfer_matrix (per-language models crossed onto 10x eval bigrams),
  // graph_bipartite_c4 (the freshly hub-capped wedge passes),
  // graph_louvain (6 guarded passes + contraction over the 10x graph),
  // ann_graph_topk (beam state must stay queries x 16 while the corpus
  // and its kNN build grow 10x)
  // round-14 additions: graph_betweenness (sampled Brandes — per-source
  // BFS frontier volume grows with the 10x edge fact each hop),
  // ev_kmv_overlap (the two-phase K-minimum-values top-K under 10x
  // segment cardinality — no reducer may see a segment's full user set)
  // round-18 addition: ann_ivf_hier_topk (two nested argmax assignments +
  // the per-cell fine-seed window over the 10x vector corpus; cells stay
  // 16 posting lists while members grow 10x)
  private val Heavy = Seq("dedup_minhash", "dedup_rewrite", "q43_join_six",
    "ann_ivfpq_topk", "pipeline_tokenize_pack", "dedup_cdc_chunks",
    "graph_hits", "ann_mmr_topk", "dedup_exact_substring", "graph_ktruss",
    "lm_transfer_matrix", "graph_bipartite_c4", "graph_louvain",
    "ann_graph_topk", "graph_betweenness", "ev_kmv_overlap",
    "ann_ivf_hier_topk")

  /** Fact replicas get shifted surrogate keys; joins fan the extra volume
    * onto the SAME dimension rows — the realistic 10x growth shape (more
    * orders per customer, more docs per source), and the adversarial one
    * for dedup (every chunk now exists >= Copies times). */
  private def explodeFact(dir: Path, name: String, keys: Seq[String]): Unit = {
    val base = Tables.t(spark, baseSf, name)
    val copies = base.withColumn("copy",
      explode(expr(s"sequence(0L, ${Copies - 1}L)")))
    keys.foldLeft(copies) { (d, k) =>
      d.withColumn(k, col(k) + col("copy") * KeyOff)
    }.drop("copy").write.mode("overwrite").parquet(s"$dir/$name.parquet")
  }

  private def copyDim(dir: Path, name: String): Unit =
    Tables.t(spark, baseSf, name).write.mode("overwrite")
      .parquet(s"$dir/$name.parquet")

  private def broadcastSubtrees(p: SparkPlan): Seq[SparkPlan] = {
    val out = collection.mutable.Buffer[SparkPlan]()
    def walk(n: SparkPlan): Unit = {
      n match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case b: BroadcastExchangeExec => out += b
        case _ =>
      }
      n.children.foreach(walk)
      n.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  private def usedHeapGiB(): Double = {
    System.gc()
    Thread.sleep(200)
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024 * 1024)
  }

  /** count() alone is NOT a fair completion probe: Catalyst prunes unread
    * columns and eliminates cardinality-preserving joins under it (seen
    * live: dedup_rewrite's whole reconstruction pipeline optimized away,
    * 0.1 s "completion"). Hash every output column into the aggregate so
    * the full plan actually executes. */
  private def run(name: String, dir: String): (Long, Double, DataFrame, DataFrame) = Pin.query {
    // in a scope, as the executors run it; df is planned while its reused
    // frames are cached, so its plan shows their subtrees
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan
    val probe = df
      .select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)"))
    val t0 = System.nanoTime()
    // collect(), NOT head(): head() builds a separate Limit QueryExecution,
    // leaving probe.queryExecution (and df's) unexecuted with
    // isFinalPlan=false — runtime assertions (AQE skew-split etc.) must
    // inspect probe's FINAL plan; static ones may use df's initial plan
    val n = probe.collect()(0).getLong(0)
    (n, (System.nanoTime() - t0) / 1e9, df, probe)
  }

  // ---------------------------------------------------------------- skewed

  /** Per-key power-law copy count 1..100: u = hash(key)/1000 uniform in
    * [0,1), copies = floor(100^u) — density ~ 1/c, mean ~21.5. Most keys
    * replicate once or twice; a heavy tail replicates up to 100x — the
    * shape of a real crawl corpus (and adversarial for dedup: hot docs
    * form C(copies,2)-sized LSH buckets). */
  private def skewCopiesSql(keyCol: String): String =
    s"greatest(1L, least(100L, cast(floor(power(100.0, " +
      s"pmod(xxhash64($keyCol), 1000L) / 1000.0)) as bigint)))"

  /** A single HUB customer receives every 2nd order (before exploding, so
    * all its copies follow): ~half the order volume lands on ONE join key —
    * the classic default/null-foreign-key skew every real warehouse has,
    * and the celebrity-key case per-key power-law alone cannot produce
    * (15k customers hashed across partitions average it away; and because
    * a constant-key run compresses ~10x better than mixed keys, byte-based
    * skew detection needs the hot key to dominate ROWS by much more than
    * the factor it must dominate BYTES by). */
  private val HubCust = 0L

  /** Generated facts are written as 64 files: shuffle map-task granularity
    * is the unit AQE can split a skewed partition at, and a single-file
    * corpus reads as ONE map task — unsplittable by construction. A real
    * 100 TB corpus is thousands of files; the writer must mirror that. */
  private val GenFiles = 64

  private def skewExplodeFact(dir: Path, name: String, shiftKeys: Seq[String],
      skewKey: String): Unit = {
    val base0 = Tables.t(spark, baseSf, name)
    val base =
      if (name == "orders")
        base0.withColumn("o_custkey",
          when(pmod(xxhash64(col(skewKey)), lit(2L)) === 0L, lit(HubCust))
            .otherwise(col("o_custkey")))
      else base0
    val copies = base.withColumn("copy",
      explode(expr(s"sequence(0L, ${skewCopiesSql(skewKey)} - 1L)")))
    shiftKeys.foldLeft(copies) { (d, k) =>
      d.withColumn(k, col(k) + col("copy") * KeyOff)
    }.drop("copy").repartition(GenFiles)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")
  }

  test("sf0.1 exploded 10x: heavy queries complete, plans stay stable, driver heap bounded") {
    assume(enabled, "scale-stress evidence run; set GRAFT_SCALE_STRESS=1")
    val dir = Files.createTempDirectory("graft-scale")
    try {
      explodeFact(dir, "lineitem", Seq("l_orderkey"))
      explodeFact(dir, "orders", Seq("o_orderkey"))
      explodeFact(dir, "documents", Seq("doc_id"))
      explodeFact(dir, "embeddings", Seq("vec_id"))
      Seq("customer", "supplier", "part", "nation", "region").foreach(copyDim(dir, _))

      // baseline plan shapes at bench scale, executed so AQE has finalized
      val baseBroadcasts = Heavy.map { q =>
        val (_, _, df, _) = run(q, baseSf)
        q -> broadcastSubtrees(df.queryExecution.executedPlan).size
      }.toMap
      spark.sharedState.cacheManager.clearCache() // minhash sig caches etc.

      val report = Heavy.map { q =>
        val (n, secs, df, _) = run(q, dir.toString)
        assert(n > 0, s"$q returned no rows on the exploded corpus")
        val plan = df.queryExecution.executedPlan
        val planStr = plan.toString
        assert(!planStr.contains("CartesianProduct"),
          s"$q plans a CartesianProduct at 10x scale:\n$planStr")
        val bs = broadcastSubtrees(plan)
        assert(bs.size <= baseBroadcasts(q),
          s"$q grew NEW broadcast exchanges at 10x (${bs.size} vs " +
            s"${baseBroadcasts(q)}) — a fact side crossed the threshold?")
        if (q == "q43_join_six")
          assert(bs.forall(b => !b.toString.contains("lineitem.parquet")),
            s"$q broadcasts the exploded fact table:\n${bs.mkString("\n")}")
        val heap = usedHeapGiB()
        assert(heap < 8.0,
          f"driver heap $heap%.1f GiB after $q — results must not accumulate driver-side")
        spark.sharedState.cacheManager.clearCache()
        f"$q%-16s rows=$n%-8d ${secs}%6.1f s  heap=$heap%.1f GiB  broadcasts=${bs.size}/${baseBroadcasts(q)}"
      }
      info("scale-stress (10x sf0.1, local[4]):")
      report.foreach(info(_))

      // ---- graph-ANN recall at 10x (r15 task 1). The heavy-query leg
      // above proves ann_graph_topk COMPLETES at 10x; this one measures
      // whether the production knobs (beam 16, links 4, hubs derived =
      // clamp(sqrt(n), 64, 4096)) HOLD RECALL as the corpus grows 10x —
      // the first question a 100 TB operator asks of a fixed-knob ANN
      // index. Ground truth is the exact brute-force top-10 for the 8
      // stress queries (8 x 50k cosines — cheap once); the index is the
      // PUBLIC build (hub long links, id-agnostic), because the exploded
      // corpus has non-dense ids the registry's dense-id convention
      // cannot address. The 10x corpus is adversarial for recall@10:
      // every vector exists in 10 identical replicas, so each query's
      // exact top-10 is one tie-broken replica set the beam must fully
      // recover — partial credit is impossible across ties.
      val corpus10 = Tables.t(spark, dir.toString, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val n10 = corpus10.count()
      val queries = Tables.t(spark, baseSf, "embeddings")
        .filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding"))
      val idx = graft.api.SimilaritySearch.graphAnnBuild(spark, corpus10)
      val exact = graft.api.SimilaritySearch.topK(spark, corpus10, queries, k = 10)
        .select(col("q_id"), col("vec_id"))
      val ann = graft.api.SimilaritySearch
        .graphAnnSearch(spark, idx, queries, k = 10)
        .select(col("q_id"), col("vec_id"))
      val hits = exact.join(ann, Seq("q_id", "vec_id"), "left_semi").count()
      val recall = hits.toDouble / 80.0
      val heapAnn = usedHeapGiB()
      info(f"graph-ANN 10x recall: n=$n10, derived hubs=" +
        f"${graft.api.SimilaritySearch.derivedHubs(n10)}, " +
        f"recall@10=$recall%.3f ($hits/80 hits), heap=$heapAnn%.1f GiB")
      assert(heapAnn < 8.0, f"driver heap $heapAnn%.1f GiB after ANN recall leg")
      assert(recall >= 0.8,
        f"recall@10 $recall%.3f at the production (beam 16, links 4, " +
          f"derived hubs) point on the 10x corpus — if this drops, the " +
          f"knobs need rederiving, not the assertion loosening")
      spark.sharedState.cacheManager.clearCache()
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  // ------------------------------------------------------------- 100x tier

  private val enabled100 = sys.env.get("GRAFT_SCALE_STRESS_100").contains("1")

  /** Sum shuffle read/write bytes across all tasks between reset()s —
    * the "do the decision shuffles move digests or documents" evidence
    * the 10x tier reports only indirectly through wall clock. */
  private class ShuffleTally extends org.apache.spark.scheduler.SparkListener {
    val read = new java.util.concurrent.atomic.AtomicLong
    val write = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def reset(): Unit = { read.set(0L); write.set(0L) }
    def gib: (Double, Double) =
      (read.get / (1024.0 * 1024 * 1024), write.get / (1024.0 * 1024 * 1024))
  }

  /** 100x leg (r16 task 3): the "100 TB-ready" claim for the two
    * scale-critical families rested on 10x evidence — this tier runs
    * dedup LSH and graph-ANN build+search on a 100x-exploded sf0.1
    * corpus (500k docs / 200k vectors) measuring wall, driver heap,
    * TOTAL SHUFFLE BYTES and recall. Gated separately
    * (GRAFT_SCALE_STRESS_100=1): the run takes ~10-20 min at local[4].
    *
    * Corpus shape: NOT the 10x tier's verbatim-replica clique. 100
    * identical copies per doc would make the LSH OUTPUT quadratic
    * (C(100,2)=4950 pairs per doc — measuring the fixture, not the
    * operator), so copies carry a per-(doc, decade) filler suffix of 50
    * unique words: copies within a decade stay verbatim duplicates
    * (cluster size 10 — 10x the base corpus's duplication), decades of
    * the same doc drop to Jaccard ≈ 1/3 (near-dup band, mostly below
    * threshold), unrelated docs share nothing. Embedding copies get a
    * per-(copy, dim) deterministic jitter (±0.05) so the 100x vector
    * corpus is 200k DISTINCT points — recall@10 becomes a real
    * navigation question, not a 100-way tie-break lottery. */
  test("sf0.1 exploded 100x: dedup LSH + graph-ANN hold wall/heap/shuffle/recall") {
    assume(enabled100, "100x scale evidence; set GRAFT_SCALE_STRESS_100=1")
    val dir = Files.createTempDirectory("graft-scale100")
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    try {
      val Copies100 = 100
      // documents: decade-tagged filler, unique per (base doc, decade)
      Tables.t(spark, baseSf, "documents")
        .withColumn("copy", explode(expr(s"sequence(0L, ${Copies100 - 1}L)")))
        .withColumn("text", concat(col("text"), lit(" "),
          expr("""concat_ws(' ', transform(sequence(1, 50),
                    i -> concat('z', cast(doc_id as string), 'd',
                                cast(copy div 10 as string),
                                'w', cast(i as string))))""")))
        .withColumn("doc_id", col("doc_id") + col("copy") * KeyOff)
        .drop("copy").repartition(GenFiles)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // embeddings: deterministic per-(copy, dim) jitter, 101 prime so no
      // two copies share an offset pattern
      Tables.t(spark, baseSf, "embeddings")
        .withColumn("copy", explode(expr(s"sequence(0L, ${Copies100 - 1}L)")))
        .withColumn("embedding",
          expr("transform(embedding, (x, i) -> cast(x + ((copy * 31 + i) % 101 - 50) / 1000.0 as float))"))
        .withColumn("vec_id", col("vec_id") + col("copy") * KeyOff)
        .drop("copy").repartition(GenFiles)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      // ---- dedup LSH at 100x
      tally.reset()
      val (nPairs, tDedup, df, _) = run("dedup_minhash", dir.toString)
      Thread.sleep(1000) // listener bus drain
      val (rdG, wrG) = tally.gib
      val heapDedup = usedHeapGiB()
      val planStr = df.queryExecution.executedPlan.toString
      assert(!planStr.contains("CartesianProduct"),
        s"dedup_minhash plans a CartesianProduct at 100x:\n$planStr")
      assert(nPairs > 0, "the planted duplicate clusters must pair")
      assert(heapDedup < 8.0, f"driver heap $heapDedup%.1f GiB after dedup at 100x")
      // the scale claim, now in bytes: banding moves DIGESTS, never the
      // 100x text corpus — total shuffle write stays in single-digit GiB
      // on a corpus whose all-pairs candidate volume would be petabyte-
      // shaped (generous bound: candidates are still millions of rows)
      assert(wrG < 8.0,
        f"dedup shuffle write $wrG%.1f GiB at 100x — digests-only claim broken?")
      info(f"dedup_minhash 100x (500k docs): pairs=$nPairs wall=$tDedup%.1f s " +
        f"heap=$heapDedup%.1f GiB shuffle r/w=$rdG%.2f/$wrG%.2f GiB")
      spark.sharedState.cacheManager.clearCache()

      // ---- graph-ANN at 100x: build with nlist ~ sqrt(n) — the build is
      // O(n²/nlist) inside clusters, so the production rule is "grow
      // nlist with the corpus, keep cluster size constant". KMeans.train
      // caps k at 256 (packed argmax radix), so at 200k vectors the
      // clusters run ~780 wide (vs the derived 447) — the honest note for
      // a true 100 TB build is hierarchical IVF (coarse k=256 over fine
      // k=256), which this cap forces; hubs stay derived (clamp(sqrt(n)))
      val corpus100 = Tables.t(spark, dir.toString, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val n100 = corpus100.count()
      val queries = Tables.t(spark, baseSf, "embeddings")
        .filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding"))
      tally.reset()
      val tB0 = System.nanoTime()
      val idx = graft.api.SimilaritySearch.graphAnnBuild(spark, corpus100,
        nlist = math.min(256, math.sqrt(n100.toDouble).toInt))
      val tBuild = (System.nanoTime() - tB0) / 1e9
      Thread.sleep(1000)
      val (rdB, wrB) = tally.gib
      val exact = graft.api.SimilaritySearch.topK(spark, corpus100, queries, k = 10)
        .select(col("q_id"), col("vec_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      tally.reset()
      val tS0 = System.nanoTime()
      val ann = graft.api.SimilaritySearch
        .graphAnnSearch(spark, idx, queries, k = 10)
        .select(col("q_id"), col("vec_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val tSearch = (System.nanoTime() - tS0) / 1e9
      Thread.sleep(1000)
      val (rdS, wrS) = tally.gib
      val recall = (exact intersect ann).size.toDouble / exact.size
      val heapAnn = usedHeapGiB()
      info(f"graph-ANN 100x (n=$n100, nlist=${math.min(256, math.sqrt(n100.toDouble).toInt)}, " +
        f"derived hubs=${graft.api.SimilaritySearch.derivedHubs(n100)}): " +
        f"build=$tBuild%.1f s (shuffle w=$wrB%.2f GiB r=$rdB%.2f GiB), " +
        f"search=$tSearch%.1f s (shuffle w=$wrS%.2f GiB), " +
        f"recall@10=$recall%.3f, heap=$heapAnn%.1f GiB")
      assert(heapAnn < 8.0, f"driver heap $heapAnn%.1f GiB after ANN at 100x")
      assert(recall >= 0.8,
        f"recall@10 $recall%.3f at production knobs on the 100x corpus — " +
          f"rederive the knobs, don't loosen the assertion")
      // serving must stay lookup-shaped as the corpus grows: the per-call
      // shuffle volume is beam-state-sized, orders of magnitude under the
      // build's (which carries the kNN construction)
      assert(wrS < wrB / 4,
        f"search shuffle ($wrS%.2f GiB) should be a small fraction of build ($wrB%.2f GiB)")
    } finally {
      spark.sparkContext.removeSparkListener(tally)
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  /** 100x iterative-graph leg (r17 judge task 1): the peeling/frontier
    * loops (ktruss, Brandes betweenness, Louvain) are the same
    * per-round-join class as the beam search whose 0.88 GiB/hop
    * adjacency re-shuffle the 100x meter caught in r17 — this leg points
    * the same shuffle meter at them, PER ROUND.
    *
    * Corpus: the %50-pruned co-purchase half-edge list replicated 100x
    * with node ids shifted per copy — 100 disjoint replica subgraphs, so
    * every round's ground truth is exactly 100x the base run's (degrees,
    * wedge volume, survivors all replicate), and "shuffle bytes grow
    * LINEARLY with the edge set, never quadratically" is directly
    * measurable as a cross-scale byte ratio ~= 100.
    *
    * Assertions:
    *  - ktruss: per-round shuffle bytes / surviving-edge count stays flat
    *    within the 100x run (proportional-to-survivors, the task's literal
    *    ask), and each round's bytes scale ~linearly 1x -> 100x.
    *  - Brandes: per-hop (forward) and per-level (backward) shuffle stays
    *    STATE-sized — near-invariant as edges grow 100x (the size-aware
    *    frontier broadcast this leg's first run motivated: unhinted, each
    *    hop re-shuffled the whole 100x edge fact through a sort-merge
    *    join, the r17 beam-search defect class).
    *  - Louvain: end-to-end shuffle scales ~linearly with the edge set.
    */
  test("100x iterative graph family: per-round shuffle tracks the surviving edge set") {
    assume(enabled100, "100x scale evidence; set GRAFT_SCALE_STRESS_100=1")
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    def drain(): Unit = Thread.sleep(600) // listener bus flush before reading
    try {
      val li = Tables.t(spark, baseSf, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_orderkey") % 50 === 0)
      val half1 = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .distinct().localCheckpoint(true)
      val e1 = half1.count()
      val half100 = half1.withColumn("copy", explode(expr("sequence(0L, 99L)")))
        .select((col("u") + col("copy") * KeyOff).as("u"),
          (col("v") + col("copy") * KeyOff).as("v"))
        .repartition(GenFiles).localCheckpoint(true)
      val e100 = half100.count()
      assert(e100 == e1 * 100, s"replica explode must be exact: $e1 -> $e100")

      // ---- ktruss: meter each peeling round
      def peelTrace(half0: DataFrame, rounds: Int): Seq[(Long, Double)] = {
        var half = half0
        var edges = half.count()
        (1 to rounds).map { _ =>
          val entering = edges
          tally.reset()
          half = operators.GraphOps.trussPeelRound(half).localCheckpoint(true)
          edges = half.count()
          drain()
          (entering, tally.gib._2)
        }
      }
      val Rounds = 4 // fixpoint lands by round 4 at every tested SF
      val peel1 = peelTrace(half1, Rounds)
      val peel100 = peelTrace(half100, Rounds)
      peel1.zip(peel100).zipWithIndex.foreach {
        case (((ent1, _), (ent100, _)), i) =>
          assert(ent100 == ent1 * 100,
            s"round ${i + 1}: replica survivors must be exactly 100x " +
              s"($ent1 vs $ent100) — the peel diverged across scales")
      }
      // proportional-to-survivors WITHIN the 100x run: GiB per entering
      // edge stays flat across rounds (quadratic support recomputation
      // would blow this up as the graph densifies relatively)
      val perEdge = peel100.filter(_._1 > 10000)
        .map { case (ent, gib) => gib / ent }
      assert(perEdge.nonEmpty && perEdge.max / perEdge.min < 10.0,
        s"ktruss 100x: shuffle per surviving edge drifted " +
          s"${perEdge.max / perEdge.min}x across rounds — " +
          s"per-round work is no longer proportional to the edge set")
      // ~linear 1x -> 100x per round (quadratic would read ~10,000x)
      peel1.zip(peel100).zipWithIndex.foreach {
        case (((_, g1), (_, g100)), i) =>
          val ratio = g100 / math.max(g1, 1e-4)
          assert(ratio < 300.0,
            f"ktruss round ${i + 1}: 100x/1x shuffle ratio $ratio%.0f — " +
              f"superlinear in the edge set")
      }
      val heapTruss = usedHeapGiB()
      assert(heapTruss < 8.0, f"driver heap $heapTruss%.1f GiB after ktruss 100x")
      info(f"ktruss 100x (${e100} edges, $Rounds rounds): " +
        peel100.map { case (ent, g) => f"$ent%d edges/$g%.2f GiB" }
          .mkString(" -> ") +
        f"; 1x rounds: " +
        peel1.map { case (ent, g) => f"$ent%d/$g%.3f" }.mkString(" -> ") +
        f"; heap=$heapTruss%.1f GiB")

      // ---- Brandes: meter each forward hop and backward level
      import org.apache.spark.sql.expressions.Window
      def brandesTrace(half: DataFrame): (Seq[Double], Seq[Double]) = {
        val und = half.select(col("u").as("src"), col("v").as("dst"))
          .union(half.select(col("v").as("src"), col("u").as("dst")))
          .localCheckpoint(true)
        val seeds = und.select(col("src").as("node")).distinct()
          .withColumn("h", md5(concat(lit("btw:"), col("node").cast("string"))))
          .withColumn("rn", row_number().over(Window.orderBy(col("h"), col("node"))))
          .filter(col("rn") <= 4).select(col("node"))
          .collect().map(_.getLong(0)).toSeq
        val fwd = collection.mutable.ArrayBuffer.empty[Double]
        tally.reset()
        val vis = operators.GraphOps.brandesForward(und, seeds, 3,
          onHop = _ => { drain(); fwd += tally.gib._2; tally.reset() })
        val bwd = collection.mutable.ArrayBuffer.empty[Double]
        tally.reset()
        operators.GraphOps.brandesDelta(und, vis, 3,
          onLevel = _ => { drain(); bwd += tally.gib._2; tally.reset() })
        (fwd.toSeq, bwd.toSeq)
      }
      val (fwd1, bwd1) = brandesTrace(half1)
      val (fwd100, bwd100) = brandesTrace(half100)
      // the claim: per-hop shuffle is STATE-sized (sources x reach), so it
      // must NOT grow with the 100x edge fact — the size-aware frontier
      // broadcast keeps the edge list stream-read. Floor of 64 MB absorbs
      // empty-relation scheduling noise.
      (fwd1.zip(fwd100) ++ bwd1.zip(bwd100)).zipWithIndex.foreach {
        case ((g1, g100), i) =>
          assert(g100 < math.max(8 * g1, 0.0625),
            f"brandes round $i: shuffle grew with the corpus " +
              f"($g1%.3f -> $g100%.3f GiB) — the edge fact is being " +
              f"re-shuffled per round again")
      }
      val heapBr = usedHeapGiB()
      assert(heapBr < 8.0, f"driver heap $heapBr%.1f GiB after brandes 100x")
      info(f"brandes 100x per-hop shuffle GiB: fwd " +
        fwd100.map(g => f"$g%.3f").mkString("/") + " (1x " +
        fwd1.map(g => f"$g%.3f").mkString("/") + "), bwd " +
        bwd100.map(g => f"$g%.3f").mkString("/") + " (1x " +
        bwd1.map(g => f"$g%.3f").mkString("/") + f"); heap=$heapBr%.1f GiB")

      // ---- Louvain: end-to-end linearity (the passes are key-sized
      // aggregations + one window over the edge list; per-pass hooks
      // would cut through the accept-if-improved guard, so the leg
      // meters the whole 2-level run)
      tally.reset()
      val t1 = System.nanoTime()
      val lv1 = operators.GraphOps.louvainRun(half1)
      val wall1 = (System.nanoTime() - t1) / 1e9 // before drain's sleep —
      drain() //          both walls measure ONLY their run, symmetrically
      val lou1 = tally.gib._2
      tally.reset()
      val t100 = System.nanoTime()
      val lv100 = operators.GraphOps.louvainRun(half100)
      val wall100 = (System.nanoTime() - t100) / 1e9
      drain()
      val lou100 = tally.gib._2
      Seq(lv1 -> "1x", lv100 -> "100x").foreach { case (lv, tag) =>
        assert(lv.levels.map(_._4) == lv.levels.map(_._4).sorted,
          s"louvain $tag: modularity must be non-decreasing across levels")
      }
      val louRatio = lou100 / math.max(lou1, 1e-3)
      // Louvain's bound is looser than ktruss's 300 because replica runs
      // are NOT independent: the modularity gain 4m·Δw − 2k·d_c couples
      // every move decision to the GLOBAL half-edge weight m (100x the
      // replica's), so accept-if-improved passes and the contraction can
      // legitimately take different shapes than 100 detached base runs
      // (measured 319x on the first run — ~3.2x per-edge drift, orders of
      // magnitude under the ~10,000x an edges⋈edges quadratic would read).
      assert(louRatio < 2000.0,
        f"louvain: 100x/1x shuffle ratio $louRatio%.0f — quadratic in the edge set")
      val heapLou = usedHeapGiB()
      assert(heapLou < 8.0, f"driver heap $heapLou%.1f GiB after louvain 100x")
      info(f"louvain 100x: shuffle $lou1%.3f -> $lou100%.2f GiB " +
        f"(${louRatio}%.0fx for 100x edges), wall $wall1%.1f -> $wall100%.1f s, " +
        f"q_micro levels ${lv100.levels.map(_._4).mkString("/")}, heap=$heapLou%.1f GiB")
    } finally {
      spark.sparkContext.removeSparkListener(tally)
    }
  }

  /** Streaming state-store leg (r17 judge task 5): the 100 TB streaming
    * posture — keyed state beyond executor heap — had a functional pin
    * (RocksDBStateSpec) but no SCALE evidence. This leg runs the
    * production streaming LOCF (ForwardFill.run, a StatefulTask-family
    * op) on the RocksDB provider at 100x the sf0.1 corpus's user
    * cardinality (1,500 -> 150,000 keys) across multiple micro-batches,
    * and asserts (a) exact semantics at that width (every gap fills from
    * the key's batch-1 seed), (b) the state-operator metrics the ops
    * surface exports (AppRegistry StateOp) report the full key set with
    * BOUNDED memory, (c) driver heap stays flat — state lives in the
    * store, never driver-side. */
  test("RocksDB state store at 100x key cardinality: bounded memory, ops metrics exported") {
    assume(enabled, "scale-stress evidence run; set GRAFT_SCALE_STRESS=1")
    import spark.implicits._
    val prevProv = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ck = Files.createTempDirectory("graft-rocks-scale").toString
    val reg = new ops.AppRegistry(spark)
    try {
      val Keys = 150000
      val Batches = 3
      val in = streaming.GraftSource.memory[streaming.FfEvent](spark)
      val out = streaming.ForwardFill.run(in.toDS())
      val q = out.writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .format("memory").queryName("rocks_scale").start()
      try {
        def batchData(b: Int): Seq[streaming.FfEvent] =
          (0 until Keys).map { k =>
            streaming.FfEvent(b.toLong * Keys + k, k.toLong,
              new java.sql.Timestamp(1700000000000L + b * 60000L),
              if (b == 0) Some(k.toDouble) else None)
          }
        val t0 = System.nanoTime()
        (0 until Batches).foreach { b =>
          in.addData(batchData(b)); q.processAllAvailable()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        // semantics at width: batches 2..n carry nulls, so every row must
        // fill from its key's batch-1 seed (= the key id)
        val tbl = spark.table("rocks_scale")
        assert(tbl.count() == Keys.toLong * Batches, "row count at 100x keys")
        val bad = tbl.filter(col("filled").isNull ||
          col("filled") =!= col("user_id").cast("double")).count()
        assert(bad == 0, s"$bad rows mis-filled at 100x key cardinality")
        // ops-surface state metrics (AppRegistry StateOp — the progress
        // feed the dashboard and /metrics serve)
        val hist = reg.metricsHistory(q.id)
        val stateOps = hist.map(_._2).flatMap(_.stateOps)
        assert(stateOps.nonEmpty, "state-operator progress must be exported")
        val so = hist.last._2.stateOps.head
        assert(so.rowsTotal == Keys,
          s"state rowsTotal ${so.rowsTotal} must equal the $Keys keys")
        assert(so.memoryUsedBytes < 2L * 1024 * 1024 * 1024,
          s"state memory ${so.memoryUsedBytes} B must stay bounded")
        val heap = usedHeapGiB()
        assert(heap < 8.0,
          f"driver heap $heap%.1f GiB — keyed state must not accumulate driver-side")
        info(f"rocksdb state 100x keys: $Keys keys x $Batches batches in " +
          f"$wall%.1f s, state rowsTotal=${so.rowsTotal} " +
          f"rowsUpdated=${so.rowsUpdated} mem=${so.memoryUsedBytes / 1024}%d KiB " +
          f"(${so.memoryUsedBytes.toDouble / Keys}%.0f B/key), heap=$heap%.1f GiB")
      } finally q.stop()
    } finally {
      reg.close()
      prevProv match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  /** 100x prefix-sum / packing leg (r18): the curation family's scale
    * backbone — packByBudget's two-phase exclusive prefix sum (range
    * buckets -> driver-side bucket bases -> partition-local window) —
    * at 100x the sf0.1 documents corpus. The replicas stack ABOVE each
    * other in doc_id order (copy c shifts by c x KeyOff), so the global
    * exclusive prefix has a closed form: replica c's offset for base doc
    * d must equal c x T + offset_1x(d), with T the base corpus's total
    * token count — exactness of the DISTRIBUTED sum at 100x is checked
    * row-for-row against the 1x output, not spot-sampled. Also asserted:
    * shuffle scales ~linearly (the projected (doc_id, n_tokens) rows
    * move, never text — a single-task global window would instead funnel
    * the whole corpus through one reducer), and driver heap stays flat
    * (the only collect in the op is the P bucket totals, P = shuffle
    * parallelism, corpus-independent). */
  test("100x prefix-sum packing: offsets exact at scale, linear shuffle, flat driver heap") {
    assume(enabled100, "100x scale evidence; set GRAFT_SCALE_STRESS_100=1")
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    def drain(): Unit = Thread.sleep(600)
    try {
      val base = Tables.t(spark, baseSf, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .localCheckpoint(true)
      val docs100 = base.withColumn("copy", explode(expr("sequence(0L, 99L)")))
        .select((col("doc_id") + col("copy") * KeyOff).as("doc_id"),
          col("text"))
        .repartition(GenFiles).localCheckpoint(true)
      val n1 = base.count()
      assert(docs100.count() == n1 * 100, "replica explode must be exact")

      tally.reset()
      val p1 = operators.Sampling.packByBudget(spark, base, 512)
        .localCheckpoint(true)
      drain(); val g1 = tally.gib._2
      tally.reset()
      val t0 = System.nanoTime()
      val p100 = operators.Sampling.packByBudget(spark, docs100, 512)
        .localCheckpoint(true)
      val wall = (System.nanoTime() - t0) / 1e9
      drain(); val g100 = tally.gib._2

      val T = p1.agg(sum(col("n_tokens"))).head().getLong(0)
      val bad = p100
        .withColumn("copy", expr(s"doc_id div $KeyOff"))
        .withColumn("base_id", expr(s"doc_id % $KeyOff"))
        .join(p1.select(col("doc_id").as("base_id"),
          (col("seq_id") * 512 + col("seq_offset")).as("base_start")),
          "base_id")
        .filter(col("seq_id") * 512 + col("seq_offset") =!=
          col("copy") * T + col("base_start"))
        .count()
      assert(bad == 0,
        s"$bad rows diverge from the closed-form 100x prefix offsets — " +
          "the distributed sum broke at scale")
      val ratio = g100 / math.max(g1, 1e-3)
      assert(ratio < 300.0,
        f"prefix-sum 100x/1x shuffle ratio $ratio%.0f — superlinear " +
          "(is the text column riding through the exchange?)")
      val heap = usedHeapGiB()
      assert(heap < 8.0,
        f"driver heap $heap%.1f GiB — bucket bases must stay P-sized")
      info(f"prefix-sum 100x (${n1 * 100} docs, T=$T tokens/replica): " +
        f"shuffle $g1%.3f -> $g100%.2f GiB ($ratio%.0fx for 100x rows), " +
        f"wall $wall%.1f s, heap=$heap%.1f GiB")
    } finally {
      spark.sparkContext.removeSparkListener(tally)
      spark.catalog.clearCache() // packByBudget caches its projection
    }
  }

  /** 100x token-level text leg (r18): the text family's scale shape is
    * explode -> groupBy (shuffle ~ token occurrences, model side ~ the
    * vocabulary) — this leg meters text_tfidf, the family's heaviest
    * member (tf per (doc, term), df per term, broadcast 1-row corpus
    * count, per-doc top-3 window), at 100x the sf0.1 documents corpus.
    * The replica structure gives a SHARP exactness oracle: doc count and
    * every df both scale exactly 100x, so idf = ln(N/df) is INVARIANT
    * and each replica doc's (term, tf, score, rank) rows must equal its
    * base doc's bit-for-bit — checked row-for-row via a join, not
    * spot-checked. Shuffle must scale ~linearly in token volume (the
    * vocabulary does not grow, so the df side stays model-sized). */
  test("100x token-level text analysis: tfidf replica-exact, shuffle linear in token volume") {
    assume(enabled100, "100x scale evidence; set GRAFT_SCALE_STRESS_100=1")
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    def drain(): Unit = Thread.sleep(600)
    try {
      val dir = Files.createTempDirectory("graft-text100")
      Tables.t(spark, baseSf, "documents")
        .withColumn("copy", explode(expr("sequence(0L, 99L)")))
        .withColumn("doc_id", col("doc_id") + col("copy") * KeyOff)
        .drop("copy").repartition(GenFiles)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      tally.reset()
      val r1 = SparkEntry.queries("text_tfidf")(spark, baseSf)
        .localCheckpoint(true)
      drain(); val g1 = tally.gib._2
      tally.reset()
      val t0 = System.nanoTime()
      val r100 = SparkEntry.queries("text_tfidf")(spark, dir.toString)
        .localCheckpoint(true)
      val wall = (System.nanoTime() - t0) / 1e9
      drain(); val g100 = tally.gib._2

      val n1 = r1.count()
      assert(r100.count() == n1 * 100,
        "every replica doc must produce exactly the base top-3 rows")
      val bad = r100
        .withColumn("base_id", expr(s"doc_id % $KeyOff"))
        .join(r1.select(col("doc_id").as("base_id"), col("rank"),
            col("term").as("b_term"), col("tf").as("b_tf"),
            col("score_scaled").as("b_score")),
          Seq("base_id", "rank"))
        .filter(col("term") =!= col("b_term") ||
          col("tf") =!= col("b_tf") || col("score_scaled") =!= col("b_score"))
        .count()
      assert(bad == 0,
        s"$bad replica rows diverge from the base tfidf — idf invariance broke")
      val ratio = g100 / math.max(g1, 1e-3)
      assert(ratio < 300.0,
        f"tfidf 100x/1x shuffle ratio $ratio%.0f — superlinear in tokens")
      val heap = usedHeapGiB()
      assert(heap < 8.0, f"driver heap $heap%.1f GiB after tfidf 100x")
      info(f"tfidf 100x (${n1 * 100} result rows): shuffle $g1%.3f -> " +
        f"$g100%.2f GiB ($ratio%.0fx for 100x tokens), wall $wall%.1f s, " +
        f"heap=$heap%.1f GiB")

      // ---- LM scoring on the same 100x corpus: p(w2|w1) = c_bg / c_w1
      // and both counts scale exactly 100x, so every replica doc's
      // (n_bigrams, sum_scaled, avg_p) must equal its base doc's —
      // the lm family's replica-invariance oracle (model stays
      // observed-bigram-sized; the corpus is scanned exactly twice)
      tally.reset()
      val l1 = SparkEntry.queries("lm_bigram_score")(spark, baseSf)
        .localCheckpoint(true)
      drain(); val lg1 = tally.gib._2
      tally.reset()
      val lt0 = System.nanoTime()
      val l100 = SparkEntry.queries("lm_bigram_score")(spark, dir.toString)
        .localCheckpoint(true)
      val lWall = (System.nanoTime() - lt0) / 1e9
      drain(); val lg100 = tally.gib._2
      val ln1 = l1.count()
      assert(l100.count() == ln1 * 100,
        "every replica doc must produce a bigram-score row")
      val lBad = l100
        .withColumn("base_id", expr(s"doc_id % $KeyOff"))
        .join(l1.select(col("doc_id").as("base_id"),
            col("n_bigrams").as("b_n"), col("sum_scaled").as("b_sum"),
            col("avg_p").as("b_avg")),
          Seq("base_id"))
        .filter(col("n_bigrams") =!= col("b_n") ||
          col("sum_scaled") =!= col("b_sum") || col("avg_p") =!= col("b_avg"))
        .count()
      assert(lBad == 0,
        s"$lBad replica rows diverge from the base LM scores — " +
          "bigram-probability invariance broke")
      // The cross-scale ratio here legitimately exceeds 100x (measured
      // ~356x): at 1x Spark broadcasts the model for the scoring join
      // (map-side, near-zero shuffle); at 100x the stats-blind estimate
      // demotes it to a shuffle join — the CORRECT 100 TB plan (a
      // web-scale bigram model is not broadcastable), which costs one
      // extra LINEAR pass of the fact through the exchange. So the
      // scale-honest bound is absolute bytes per bigram occurrence
      // (linear-with-constant), plus a loose ratio ceiling far under the
      // ~10,000x an accidental fact x fact join would read.
      val totalBigrams100 = l100.agg(sum(col("n_bigrams"))).head().getLong(0)
      val bytesPerBigram = lg100 * 1024 * 1024 * 1024 / totalBigrams100
      assert(bytesPerBigram < 128.0,
        f"lm_bigram 100x: $bytesPerBigram%.0f shuffled bytes per bigram " +
          "occurrence — the fact is crossing the exchange more than the " +
          "model-build + scoring-join passes allow")
      val lRatio = lg100 / math.max(lg1, 1e-3)
      assert(lRatio < 1000.0,
        f"lm_bigram 100x/1x shuffle ratio $lRatio%.0f — quadratic in the corpus")
      val lHeap = usedHeapGiB()
      assert(lHeap < 8.0, f"driver heap $lHeap%.1f GiB after lm 100x")
      info(f"lm_bigram 100x (${ln1 * 100} docs, $totalBigrams100 bigrams): " +
        f"shuffle $lg1%.3f -> $lg100%.2f GiB ($lRatio%.0fx, " +
        f"$bytesPerBigram%.0f B/bigram), wall $lWall%.1f s, heap=$lHeap%.1f GiB")
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  test("skewed explode: hot keys survive — AQE skew-split kicks in, queries complete") {
    assume(enabled, "scale-stress evidence run; set GRAFT_SCALE_STRESS=1")
    val dir = Files.createTempDirectory("graft-skew")
    // simulate cluster scale (the PlanInvariants q3/q44 discipline): shrink
    // the broadcast threshold so customer genuinely shuffles, run with a
    // cluster-like partition count (at 4 local partitions a hub key is
    // averaged into ~25% of the data and never looks skewed), and lower the
    // AQE skew thresholds proportionally to this corpus (defaults are 256MB
    // partitions — correct at 100 TB, unreachable in a GB-scale test)
    // adaptive broadcast is disabled outright (-1): at 100 TB the customer
    // dimension does NOT fit in a broadcast, and AQE demoting the skewed
    // SMJ to a broadcast join at toy scale would erase the very skew path
    // this test exists to prove; the 32 KB static threshold keeps the
    // genuinely tiny dims (nation/region/supplier) broadcast
    val tuned = Seq(
      "spark.sql.shuffle.partitions" -> "64",
      // a real 100 TB corpus scans as thousands of input splits; without
      // this the whole toy fact packs into ONE map task and AQE cannot
      // split the hub reduce partition (mapper chunks are the split unit)
      "spark.sql.files.maxPartitionBytes" -> (2 * 1024 * 1024).toString,
      "spark.sql.files.openCostInBytes" -> (128 * 1024).toString,
      "spark.sql.autoBroadcastJoinThreshold" -> (32 * 1024).toString,
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> (8 * 1024).toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (4 * 1024).toString,
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")
    val prior = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      skewExplodeFact(dir, "orders", Seq("o_orderkey"), "o_orderkey")
      skewExplodeFact(dir, "lineitem", Seq("l_orderkey"), "l_orderkey")
      skewExplodeFact(dir, "documents", Seq("doc_id"), "doc_id")
      Seq("customer", "supplier", "part", "nation", "region", "embeddings")
        .foreach(copyDim(dir, _))

      // mm_phash_dedup rides the skewed corpus: power-law copies share
      // TEXT under distinct doc_ids, so hot documents form identical
      // dHash signatures -> one band bucket holds C(copies,2) candidate
      // pairs, the LSH hot-bucket case dedup_minhash also covers
      val report = Seq("q28_salted_join", "q43_join_six", "dedup_minhash",
        "mm_phash_dedup").map { q =>
        val (n, secs, _, probe) = run(q, dir.toString)
        assert(n > 0, s"$q returned no rows on the skewed corpus")
        val planStr = probe.queryExecution.executedPlan.toString
        assert(!planStr.contains("CartesianProduct"),
          s"$q plans a CartesianProduct under skew:\n$planStr")
        if (q == "q43_join_six") {
          // the hub customer (~half of all exploded orders on ONE custkey)
          // must trip AQE's skew-split on the orders<->customer sort-merge
          // join — the runtime re-plan that keeps one reducer from eating
          // the default-key partition at 100 TB
          assert(planStr.contains("skew=true"),
            s"$q never triggered an AQE skew-split:\n$planStr")
          assert(broadcastSubtrees(probe.queryExecution.executedPlan)
              .forall(b => !b.toString.contains("lineitem.parquet")),
            s"$q broadcasts the exploded fact table")
        }
        val heap = usedHeapGiB()
        assert(heap < 8.0, f"driver heap $heap%.1f GiB after $q")
        spark.sharedState.cacheManager.clearCache()
        f"$q%-16s rows=$n%-8d ${secs}%6.1f s  heap=$heap%.1f GiB  " +
          s"skewSplit=${planStr.contains("skew=true")}"
      }
      info("skew-stress (power-law 1..100 copies + default-key hub customer, sf0.1, local[4]):")
      report.foreach(info(_))

      // ---- salted-join payoff, measured (the operator's reason to exist).
      // Plant a DOMINANT hub ORDER key at read time (90% of the 13M-row
      // exploded lineitem on one l_orderkey) joined against the base-sized
      // orders table, and time the exact q28 code path (Skew.saltedRevenue,
      // INCLUDING its probedSalt key-histogram probe — the production path,
      // not a pinned constant) against the naive join with AQE
      // skew-splitting DISABLED — the single-reducer fate manual salting
      // guards against (single-mapper shuffles, pre-AQE engines, skew below
      // byte-detection thresholds). The naive join with skew-splitting ON
      // is logged as context: AQE's automatic mitigation on the same data,
      // which the r14 numbers showed DOMINATES the static salt (3.2 s vs
      // 4.0 s) — the measured ordering now stated in Skew's scaladoc.
      // Measured honesty note: the salting tax is Salt x the FULL build
      // side, so an earlier variant of this fixture (50% hub against the
      // 3.2M-row power-law orders) had the tax EXCEED the single-reducer
      // cost — salting lost 2x to the naive join. Salting pays off when
      // hub volume >> Salt x build size; below that line, prefer AQE's
      // split (which pays the tax only on the hot partition). This fixture
      // sits clearly above the line — and probedSalt is the guard that
      // keeps q28 off the wrong side of it on unskewed corpora (salt
      // collapses to ~1, so the r14 15.1 s skew-leg outlier — an 8x tax
      // for skew that wasn't per-key — cannot recur).
      val dirStr = dir.toString
      val hubOrder = Tables.t(spark, baseSf, "orders")
        .agg(min(col("o_orderkey"))).head().getLong(0)
      def liHub = Tables.t(spark, dirStr, "lineitem").withColumn("l_orderkey",
        when(pmod(xxhash64(col("l_orderkey")), lit(10L)) < 9L, lit(hubOrder))
          .otherwise(col("l_orderkey")))
      def oAll = Tables.t(spark, baseSf, "orders")
      def withSkewSplit[T](on: Boolean)(body: => T): T = {
        val k = "spark.sql.adaptive.skewJoin.enabled"
        val prev = spark.conf.getOption(k)
        spark.conf.set(k, on.toString)
        try body finally prev match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        }
      }
      // hash only the EXACT columns across plans (priority, n_items):
      // revenue is round(sum(double),2) and the salted plan sums in a
      // different order, so its last bit can straddle the rounding
      // boundary at hub-corpus magnitudes — cross-plan bit-equality of
      // doubles is not the claim here (the DuckDB oracle pins q28's
      // semantics at the verified SFs). revenue is still aggregated into
      // the probe so Catalyst cannot prune the revenue computation out of
      // the measured work.
      def timeHash(df: DataFrame): (Long, Long, Double) = {
        val probe = df
          .select(xxhash64(col("o_orderpriority"), col("n_items")).as("h"),
            col("revenue"))
          .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"),
            sum(col("revenue")))
        val t0 = System.nanoTime()
        val r = probe.collect()(0)
        (r.getLong(0), r.getLong(1), (System.nanoTime() - t0) / 1e9)
      }
      // the probe must SEE the planted hub (salt > 1 on the hubbed fact)
      // and see its absence (salt == 1 on the uniform base lineitem,
      // where no order key exceeds 7 rows)
      val hubSalt = operators.Skew.probedSalt(liHub, "l_orderkey")
      assert(hubSalt > 1 && hubSalt <= operators.Skew.MaxSalt,
        s"probedSalt must detect the 90%-volume hub key, got $hubSalt")
      assert(operators.Skew.probedSalt(
          Tables.t(spark, baseSf, "lineitem"), "l_orderkey") === 1,
        "probedSalt must collapse to 1 on the uniform corpus")
      val (nN, xN, tNaive) = withSkewSplit(false)(
        timeHash(operators.Skew.plainRevenue(liHub, oAll)))
      val (nS, xS, tSalted) = withSkewSplit(false)(
        timeHash(operators.Skew.saltedRevenue(liHub, oAll)))
      val (nA, xA, tAqe) = withSkewSplit(true)(
        timeHash(operators.Skew.plainRevenue(liHub, oAll)))
      assert((nS, xS) == ((nN, xN)) && (nA, xA) == ((nN, xN)),
        "salting must be semantics-preserving on the hubbed corpus")
      assert(tSalted <= tNaive,
        f"salted join ($tSalted%.1f s) must beat the naive single-reducer " +
          f"join ($tNaive%.1f s) on the hub-order corpus")
      info(f"salted-join payoff (hub order = half of lineitem): naive(skew-split off) " +
        f"$tNaive%.1f s, salted(probe-derived salt=$hubSalt) $tSalted%.1f s " +
        f"(${tNaive / tSalted}%.1fx), naive+AQE-split $tAqe%.1f s")

      // ---- wedge family under a planted degree-1001 hub part. Append
      // 1000 synthetic 3-item orders {hub, q_i+1, q_i+2} to the skewed
      // corpus: hub degree 1001 (just under WedgeHubCap), neighbors form a
      // chain, 1000 planted triangles through the hub.
      val HubPart = 500000000L
      val tplSchema = Tables.t(spark, baseSf, "lineitem").schema
      val plant = Tables.t(spark, baseSf, "lineitem").limit(1)
        .crossJoin(spark.range(1000).toDF("gi"))
        .crossJoin(spark.range(3).toDF("gr"))
        // orderkeys above the explode range: copy<=99 shifts base keys up
        // to ~1.0e9, so 2e9+ cannot collide (a 900M plant DID collide with
        // copy=90 rows, handing the hub 85 phantom neighbors)
        .withColumn("l_orderkey", lit(2000000000L) + col("gi"))
        .withColumn("l_partkey",
          when(col("gr") === 0, lit(HubPart))
            .when(col("gr") === 1, lit(HubPart) + 1L + col("gi"))
            .otherwise(lit(HubPart) + 2L + col("gi")))
        .withColumn("l_linenumber", col("gr") + 1)
        .drop("gi", "gr")
        .select(tplSchema.fields.map(f => col(f.name).cast(f.dataType)): _*)
      plant.write.mode("append").parquet(s"$dir/lineitem.parquet")

      val half = operators.GraphOps.coPurchaseEdges(spark, dirStr).cache()
      val deg = operators.GraphOps.degrees(half).cache()
      val hubDeg = deg.filter(col("node") === HubPart).head().getLong(1)
      assert(hubDeg == 1001, s"planted hub degree should be 1001, got $hubDeg")
      val o = operators.GraphOps.orient(half, deg).cache()
      val wedgeRows = operators.GraphOps.orientedWedges(o).count()
      val wedgeBound = o.groupBy(col("src")).agg(count(lit(1)).as("od"))
        .agg(sum(expr("od * (od - 1) div 2")).as("b")).head().getLong(0)
      assert(wedgeRows == wedgeBound,
        s"oriented wedge rows ($wedgeRows) must equal Σ C(outdeg,2) ($wedgeBound)")
      val naiveWedges = deg.agg(sum(expr("deg * deg")).as("n")).head().getLong(0)
      assert(wedgeRows * 2 < naiveWedges,
        s"orientation must stay well under the naive Σ deg² wedge volume " +
          s"($wedgeRows vs $naiveWedges)")
      half.unpersist(); deg.unpersist(); o.unpersist()

      val graphReport = Seq("graph_triangles", "graph_common_neighbors").map { q =>
        val (n, secs, _, _) = run(q, dirStr)
        assert(n > 0, s"$q returned no rows on the hubbed corpus")
        val heap = usedHeapGiB()
        assert(heap < 8.0, f"driver heap $heap%.1f GiB after $q")
        spark.sharedState.cacheManager.clearCache()
        f"$q%-22s rows=$n%-6d ${secs}%6.1f s  heap=$heap%.1f GiB"
      }
      info(f"wedge family under planted hub (deg 1001, cap 1024): " +
        f"wedge rows $wedgeRows = Σ C(outdeg,2), naive Σ deg² = $naiveWedges " +
        f"(${naiveWedges.toDouble / wedgeRows}%.1fx saved)")
      graphReport.foreach(info(_))
    } finally {
      prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }
}
