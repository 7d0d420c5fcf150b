package graft.operators

import graft.{Pin, SparkEntry, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions.{col, sum}

/** Scale-posture invariants, pinned in CI instead of by eyeball: filters
  * reach the parquet scan, projections prune columns, broadcast joins build
  * on the dimension side (never the fact table), and top-k compiles to
  * TakeOrderedAndProject rather than a global sort. These are the plan
  * properties that decide whether a query survives a 1000x scale-up
  * (README "Scale design"). */
class PlanInvariantsSpec extends SparkTestBase {

  /** The executed plan as the registry executors (Verify, Bench,
    * AppRegistry) produce it: inside a [[Pin.query]], where reused frames
    * are lazy caches and their subtrees stay visible in the plan. */
  private def plan(name: String, sfDir: String = sf): SparkPlan =
    Pin.query(SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan)

  /** The entry run to completion inside a [[Pin.query]], for tests that
    * read its final adaptive plan. */
  private def collected(name: String, sfDir: String = sf): DataFrame =
    Pin.query {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      df
    }

  /** Broadcast-side choices are size-driven: at the toy SF the optimizer
    * may legally broadcast anything, so build-side invariants are asserted
    * at bench scale where the fact table exceeds the broadcast threshold. */
  private val benchSf = "/root/testdata/sf0.1"

  private def broadcastSubtrees(p: SparkPlan): Seq[SparkPlan] = {
    val out = collection.mutable.Buffer[SparkPlan]()
    def walk(n: SparkPlan): Unit = {
      n match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan) // AQE wrapper: children is Nil, recurse inside
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

  test("q1_agg: filter pushed to the lineitem scan, unused columns pruned") {
    val s = plan("q1_agg").toString
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"expected shipdate pushdown, plan:\n$s")
    assert(!s.contains("l_orderkey"), "q1 reads no keys; scan schema should be pruned")
  }

  test("q2_join_broadcast: the dimension (part), not lineitem, is broadcast") {
    val bs = broadcastSubtrees(plan("q2_join_broadcast", benchSf))
    assert(bs.nonEmpty, "expected a broadcast join")
    assert(bs.forall(b => b.toString.contains("part.parquet")),
      s"broadcast side should scan part, got:\n${bs.mkString("\n")}")
    assert(bs.forall(b => !b.toString.contains("lineitem.parquet")),
      "fact table must never be the broadcast build side")
  }

  test("q3_join_multi: at scale the fact table degrades to a shuffle join, never a broadcast") {
    // at sf0.1 even lineitem's 3-column projection fits under the default
    // 10MB broadcast threshold, so Catalyst may legally broadcast it; a
    // 1000x cluster is simulated by shrinking the threshold below the fact
    // table but above the filtered dimension — the declared plan must then
    // broadcast only the dimension side and shuffle the fact table
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (512 * 1024).toString)
    try {
      val p = plan("q3_join_multi", benchSf)
      val bs = broadcastSubtrees(p)
      assert(bs.forall(b => !b.toString.contains("lineitem.parquet")),
        s"fact table on the build side at simulated scale, plan:\n$p")
      assert(bs.exists(b => b.toString.contains("customer.parquet")),
        s"filtered customer dimension should still broadcast, plan:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q10_topk: top-k is TakeOrderedAndProject, not a global sort") {
    val s = plan("q10_topk").toString
    assert(s.contains("TakeOrderedAndProject"), s"plan:\n$s")
  }

  private def shuffleExchanges(p: SparkPlan): Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] = {
    val out = collection.mutable.Buffer[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]()
    def walk(n: SparkPlan): Unit = {
      n match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => out += s
        case _ =>
      }
      n.children.foreach(walk); n.subqueries.foreach(walk)
    }
    walk(p); out.toSeq
  }

  test("pipeline_pack_sequences: prefix sum is partition-parallel — no single-partition exchange") {
    // round-2 shape was Window.orderBy with no partitionBy = Exchange
    // SinglePartition = the whole corpus prefix-summed by ONE task; the
    // two-phase rewrite must never declare a single-partition distribution
    val df = collected("pipeline_pack_sequences")
    val singles = shuffleExchanges(df.queryExecution.executedPlan)
      .filter(_.outputPartitioning == org.apache.spark.sql.catalyst.plans.physical.SinglePartition)
    assert(singles.isEmpty,
      s"single-partition exchange in pack_sequences plan:\n${df.queryExecution.executedPlan}")
  }

  test("dedup_simhash: the fingerprint stage is scan-side — zero shuffles before banding") {
    // round-2 shape exploded 64 rows PER TOKEN and shuffled (doc_id, bit)
    // twice; the per-row rewrite keeps the whole signature inside the scan
    val sig = Dedup.simhashSig(
      graft.Tables.t(spark, sf, "documents").select("doc_id", "text"))
    sig.collect()
    assert(shuffleExchanges(sig.queryExecution.executedPlan).isEmpty,
      s"fingerprint stage should not shuffle:\n${sig.queryExecution.executedPlan}")
  }

  test("dedup_embedding_lsh: candidates come from a band equi-join, never a cartesian") {
    val s = plan("dedup_embedding_lsh").toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"bucketed near-dup must not degrade to all-pairs, plan:\n$s")
  }

  test("ev_interval_join_binned: no-equi-key temporal join runs as a bin equi-join, never nested-loop") {
    val s = plan("ev_interval_join_binned").toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"binned interval join must not degrade to all-pairs, plan:\n$s")
  }

  test("ev_interval_join_auto: the naive theta-join spelling is rewritten by ProximityJoin") {
    val s = plan("ev_interval_join_auto").toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"ProximityJoin rewrite must remove the nested loop, plan:\n$s")
    assert(s.contains("graft_prox_bin"),
      s"expected the rule's bin columns in the plan:\n$s")
  }

  private def hashShuffles(p: SparkPlan) =
    shuffleExchanges(p).filter(_.outputPartitioning
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])

  test("text_repetition: per-row signals shuffle nothing but the output sort") {
    val df = collected("text_repetition")
    val hs = hashShuffles(df.queryExecution.executedPlan)
    assert(hs.isEmpty,
      s"repetition signals must be scan-side (no hash exchange):\n${df.queryExecution.executedPlan}")
  }

  test("ann_range_search: corpus is scored map-side — queries broadcast, no corpus hash shuffle") {
    val df = collected("ann_range_search")
    val p = df.queryExecution.executedPlan
    assert(broadcastSubtrees(p).nonEmpty, s"query set should broadcast:\n$p")
    assert(hashShuffles(p).isEmpty,
      s"range search must not hash-shuffle the corpus:\n$p")
  }

  test("lm_bigram_score: scoring joins are key-partitioned, never nested-loop") {
    val df = collected("lm_bigram_score")
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"LM scoring must join on the bigram key, plan:\n$s")
  }

  test("dedup_semantic: the cluster assignment is scored once and reused via cache") {
    // the assignment feeds three consumers (both self-join sides + the
    // keep/drop join); uncached, the corpus is scored against the seeds
    // three times. The cached plan must show cache scans in the outer tree
    // and push the one seed-scoring nested-loop inside the cached relation.
    val df = collected("dedup_semantic")
    var cacheScans = 0; var scoringJoins = 0
    def walk(n: SparkPlan): Unit = {
      n match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case _ =>
      }
      if (n.nodeName.contains("InMemoryTableScan")) cacheScans += 1
      if (n.nodeName.contains("BroadcastNestedLoopJoin")) scoringJoins += 1
      n.children.foreach(walk); n.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    assert(cacheScans >= 3,
      s"expected all three assignment consumers to read the cache, got $cacheScans:\n${df.queryExecution.executedPlan}")
    assert(scoringJoins == 0,
      s"seed scoring should run once inside the cached relation, not per consumer:\n${df.queryExecution.executedPlan}")
  }

  test("curation_mixture_quota: per-source quota prunes map-side via WindowGroupLimit") {
    // rk <= 25 must compile to WindowGroupLimit so each map partition keeps
    // at most 25 rows per source BEFORE the exchange — the shuffle carries
    // O(quota x sources x partitions), never the corpus
    val s = plan("curation_mixture_quota").toString
    assert(s.contains("WindowGroupLimit"),
      s"quota filter should push a group limit below the window sort, plan:\n$s")
  }

  test("dedup_priority_keep: packed argmin stays in HashAggregate, never SortAggregate") {
    // min(struct(prio, doc_id)) computes the same answer but lowers to
    // SortAggregate (struct buffers aren't hash-mutable) = per-partition
    // sorts on the digest on BOTH sides of the exchange; the single-long
    // packing keeps the argmin a primitive min with map-side partials
    val s = plan("dedup_priority_keep").toString
    assert(s.contains("HashAggregate"), s"expected hash aggregation, plan:\n$s")
    assert(!s.contains("SortAggregate"),
      s"argmin must not fall back to sort aggregation, plan:\n$s")
  }

  test("runtime bloom-filter pruning: a selective dim filter reaches the fact scan as might_contain") {
    // at 100 TB the winning plan for fact JOIN selective-dim is a runtime
    // bloom filter built from the dim keys and applied at the fact scan,
    // so non-matching fact rows die before the shuffle. Spark injects it
    // size-driven; the toy SF is pushed over the line by zeroing the
    // application-side threshold and disabling broadcast (the 1000x
    // simulation, same trick as the q3 build-side test).
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = graft.Tables.t(spark, benchSf, "lineitem")
      val dim = graft.Tables.t(spark, benchSf, "part")
        .filter(col("p_size") === 1 && col("p_brand") === "Brand#11")
      val q = fact.join(dim, col("l_partkey") === col("p_partkey"))
        .agg(sum(col("l_quantity")).as("q"))
      q.collect()
      val s = q.queryExecution.executedPlan.toString
      assert(s.contains("might_contain"),
        s"expected a runtime bloom filter on the fact side, plan:\n$s")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dedup_hash: the shuffle carries digests, not document text") {
    // the exchange output should be (digest, doc_id, partial counts); the
    // text column must die at the scan->project boundary
    val s = plan("dedup_hash").toString
    val exchangeIdx = s.indexOf("Exchange")
    assert(exchangeIdx >= 0)
    assert(!s.substring(0, exchangeIdx).contains("text#"),
      "text column should be projected away before the shuffle")
  }

  test("q44_market_share: at simulated scale neither fact nor customer is broadcast") {
    // same 1000x simulation as the q3 test: shrink the threshold below the
    // big tables; only the genuinely tiny pruned dims may stay broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (512 * 1024).toString)
    try {
      val p = plan("q44_market_share", benchSf)
      val bs = broadcastSubtrees(p)
      assert(bs.exists(b => b.toString.contains("part.parquet")),
        s"pruned part dimension should broadcast, plan:\n$p")
      assert(bs.forall(b => !b.toString.contains("lineitem.parquet")),
        s"fact table on the build side at simulated scale, plan:\n$p")
      assert(bs.forall(b => !b.toString.contains("customer.parquet")),
        s"customer must shuffle, not broadcast, at simulated scale, plan:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q58_profit_by_nation_year: dims broadcast, lineitem never on a build side") {
    // same 1000x simulation as the q3/q44 tests: shrink the threshold so
    // only the genuinely small dims may stay broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (512 * 1024).toString)
    try {
      val p = plan("q58_profit_by_nation_year", benchSf)
      val bs = broadcastSubtrees(p)
      assert(bs.exists(b => b.toString.contains("part.parquet")),
        s"LIKE-pruned part dimension should broadcast, plan:\n$p")
      assert(bs.exists(b => b.toString.contains("supplier.parquet")),
        s"supplier x nation dimension should broadcast, plan:\n$p")
      assert(bs.forall(b => !b.toString.contains("lineitem.parquet")),
        s"fact table on the build side at simulated scale, plan:\n$p")
      assert(bs.forall(b => !b.toString.contains("orders.parquet")),
        s"orders must shuffle, not broadcast, at simulated scale, plan:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q60: date filters reach both scans, top-10 is TakeOrderedAndProject") {
    val p = plan("q60_shipping_priority", benchSf)
    val s = p.toString
    assert(s.contains("TakeOrderedAndProject"),
      s"top-10 must not be a global sort:\n$s")
    assert(s.contains("LessThan(o_orderdate") && s.contains("GreaterThan(l_shipdate"),
      s"date-straddle filters must push to the parquet scans:\n$s")
  }

  test("q64: NOT IN plans as a null-aware hash anti-join, never a nested loop") {
    val p = plan("q64_supplier_part_stats", benchSf)
    val s = p.toString
    assert(s.contains("LeftAnti"), s"NOT IN must compile to an anti-join:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"null-aware anti must stay a hash join (non-null key):\n$s")
    assert(s.contains("LessThan(s_acctbal"),
      s"flagged-supplier filter must push to the supplier scan:\n$s")
  }

  test("q57/q59: correlated subqueries decorrelate — fact never broadcast, no per-row re-execution") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (512 * 1024).toString)
    try {
      for (name <- Seq("q57_min_cost_supplier", "q59_concentrated_suppliers")) {
        val p = plan(name, benchSf)
        // decorrelation leaves at most non-correlated scalar subqueries; a
        // surviving correlated one would show as DynamicPruning/InSubquery
        // re-executed per row — pin that the whole plan is joins+aggregates
        val s = p.toString
        assert(!s.contains("CartesianProduct"), s"$name plans a cartesian:\n$s")
        val bs = broadcastSubtrees(p)
        assert(bs.forall(b => !b.toString.contains("lineitem.parquet")),
          s"$name puts the fact table on a broadcast build side at simulated scale:\n$s")
      }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private def emptyPartitionWindows(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }

  test("new ordered ops: every window is keyed — no single-task global window") {
    // a Window with an empty partitionSpec funnels the whole input through
    // one task; each of these ops must declare only keyed frames (their
    // deterministic output ORDER BY is a range exchange, which is fine)
    for (name <- Seq("ev_forward_fill", "ev_transition_matrix",
        "ev_asof_nearest", "pipeline_interleave_sources",
        "ev_rate_limit", "ev_top_paths")) {
      val df = collected(name)
      assert(emptyPartitionWindows(df).isEmpty,
        s"$name declares an unpartitioned window")
      val singles = shuffleExchanges(df.queryExecution.executedPlan)
        .filter(_.outputPartitioning ==
          org.apache.spark.sql.catalyst.plans.physical.SinglePartition)
      assert(singles.isEmpty,
        s"$name has a single-partition exchange:\n${df.queryExecution.executedPlan}")
    }
  }

  test("graph-ANN index build: every build frame is free of global-order windows") {
    // the r14 build ranked a corpus-sized dense ordinal through
    // row_number() OVER (ORDER BY vec_id) — a single-partition sort of
    // the whole table at 100 TB; the long-link targets now land directly
    // on dense ids (hash48 mod n), so NO build frame may declare an
    // unpartitioned window (the kNN window is keyed by vec_a)
    val (knn, lnkAll, ent, q, eSmall) = Similarity.beamBuildFrames(spark, sf)
    for ((df, label) <- Seq(knn -> "knn", lnkAll -> "lnkAll", ent -> "ent",
        q -> "q", eSmall -> "eSmall")) {
      assert(emptyPartitionWindows(df).isEmpty,
        s"ANN build frame '$label' declares an unpartitioned window")
    }
  }

  test("mm_shard_manifest: byte prefix sum is partition-parallel — no single-partition exchange") {
    val df = collected("mm_shard_manifest")
    val singles = shuffleExchanges(df.queryExecution.executedPlan)
      .filter(_.outputPartitioning ==
        org.apache.spark.sql.catalyst.plans.physical.SinglePartition)
    assert(singles.isEmpty,
      s"single-partition exchange in shard-manifest plan:\n${df.queryExecution.executedPlan}")
  }

  test("curation_dsir_weights: the 1024-row ratio table joins broadcast, corpus never shuffles on bucket") {
    val df = collected("curation_dsir_weights", benchSf)
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("BroadcastHashJoin"),
      s"expected the lr table broadcast into the scoring join, plan:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"the exploded corpus must not sort-merge on the bucket key, plan:\n$s")
  }

  test("graph_triangles: wedge closure is equi-joins only — no cartesian, no nested loop") {
    val df = collected("graph_triangles")
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"triangle closure must stay an equi-join, plan:\n$s")
  }

  test("emb_ood_score: centroids and stats broadcast; the corpus is never the build side") {
    val df = collected("emb_ood_score", benchSf)
    val p = df.queryExecution.executedPlan
    val bs = broadcastSubtrees(p)
    assert(bs.nonEmpty, s"expected centroid/stats broadcasts, plan:\n$p")
    // every broadcast subtree must be aggregated (k x dim / k-row), i.e.
    // contain a HashAggregate — a raw corpus scan on the build side would
    // ship every vector to every executor
    bs.foreach(b => assert(b.toString.contains("HashAggregate"),
      s"non-aggregated broadcast side:\n$b"))
  }

  test("pipeline_sample_k: exact-k sample is TakeOrderedAndProject, not a global sort") {
    val s = plan("pipeline_sample_k").toString
    assert(s.contains("TakeOrderedAndProject"), s"plan:\n$s")
  }

  test("dedup_rewrite: decision-pass shuffles carry digests; text moves at most once") {
    // the chunk-digest groupBy and the drop-list aggregation must exchange
    // only (doc_id, idx, digest)-shaped rows; the tokenized text may cross
    // the wire exactly once — the co-partitioning join that rebuilds the
    // document (zero times on a doc_id-bucketed corpus)
    val df = collected("dedup_rewrite")
    val withText = shuffleExchanges(df.queryExecution.executedPlan)
      .filter(_.output.exists(a => a.name == "w" || a.name == "text"))
    assert(withText.size <= 1,
      s"tokenized text crosses ${withText.size} exchanges:\n${df.queryExecution.executedPlan}")
  }

  test("text_bpe_encode: the trained dict broadcasts; the corpus scans parquet exactly once") {
    // the encode pass must be a broadcast-hash join against the
    // vocabulary-sized dict (a sort-merge join would shuffle the exploded
    // corpus), and the training state must come from its localCheckpoint,
    // not a re-scan — one parquet scan total in the executed plan
    val df = collected("text_bpe_encode")
    val p = df.queryExecution.executedPlan
    val s = p.toString
    assert(s.contains("BroadcastHashJoin"), s"dict join must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"encode must not sort-merge:\n$s")
    // count scan NODES in the final tree (the plan string also prints the
    // AQE initial plan, which would double-count)
    var scans = 0
    def walk(x: SparkPlan): Unit = x match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => scans += 1
      case other => other.children.foreach(walk)
    }
    walk(p)
    assert(scans == 1, s"corpus must scan once (training state is checkpointed), saw $scans:\n$s")
  }

  test("q28_salted_join: the probe degenerates to a PLAIN join on the uniform corpus — no explode in the plan") {
    // probedSalt sizes the salt from the observed key histogram; on
    // uniform TPC-H (<= 7 rows per order key) it must return 1 and
    // saltedRevenue must emit the plain equi-join — no Generate
    // (explode) node, no salt column in any join key. The zero-tax claim
    // is a plan property, not a scaladoc sentence (r15 task 6).
    val df = Skew.saltedRevenue(
      graft.Tables.t(spark, benchSf, "lineitem"),
      graft.Tables.t(spark, benchSf, "orders"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("Generate"),
      s"uniform corpus must not pay the build-side replication explode:\n$opt")
    assert(!opt.contains("salt"),
      s"uniform corpus must not carry a salt coordinate:\n$opt")
    // and the skewed path still salts: a pinned salt > 1 must explode
    val salted = Skew.saltedRevenue(
      graft.Tables.t(spark, benchSf, "lineitem"),
      graft.Tables.t(spark, benchSf, "orders"), saltOverride = Some(4))
    assert(salted.queryExecution.optimizedPlan.toString.contains("Generate"),
      "a pinned salt > 1 must replicate the build side")
  }

  test("event facade family: every window is keyed, no cartesian, no global sort") {
    // the new facade functions inherit the registry cores' scale shapes;
    // pin them on user frames so a facade-side regression (a lost
    // partitionBy in a rename, a join key dropped by toDF) fails here
    import org.apache.spark.sql.functions.lit
    val spark2 = spark
    import spark2.implicits._
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val ev3 = Seq((1L, "a", ts(0)), (1L, "b", ts(2)), (2L, "a", ts(1)))
      .toDF("k", "t", "at")
    val ev4 = Seq((1L, 1L, ts(0), 1.0), (2L, 1L, ts(1), 2.0))
      .toDF("id", "k", "at", "v")
    val frames = Seq(
      "cepPairs" -> graft.api.EventAnalytics.cepPairs(ev3, "a", "b"),
      "absence" -> graft.api.EventAnalytics.absence(ev3, "a", "b"),
      "anomalyMad" -> graft.api.EventAnalytics.anomalyMad(
        Seq(("g", 1.0), ("g", 2.0)).toDF("g", "v")),
      "cusumChangepoint" -> graft.api.EventAnalytics.cusumChangepoint(ev4),
      "scd2History" -> graft.api.EventAnalytics.scd2History(
        ev4.select(col("k"), col("at"), col("id"), lit("s").as("st"))),
      "ltvCohort" -> graft.api.EventAnalytics.ltvCohort(
        ev3.select(col("k"), col("at"), lit(1.0).as("v"))),
      // r17: the unordered-facade contract extended to the WHOLE event
      // family — these cores used to end in the registry's oracle ORDER
      // BY, a corpus-sized range-partition sort no facade caller asked for
      "forwardFill" -> graft.api.EventAnalytics.forwardFill(ev4),
      "resampleLocf" -> graft.api.EventAnalytics.resample(ev4),
      "resampleLinear" -> graft.api.EventAnalytics.resample(ev4, linear = true),
      "rateLimit" -> graft.api.EventAnalytics.rateLimit(
        ev4.select(col("id"), col("k"), col("at"))),
      "anomalyZScore" -> graft.api.EventAnalytics.anomalyZScore(
        ev4.select(col("id"), lit("g").as("g"), col("v"))),
      "cohortRetention" -> graft.api.EventAnalytics.cohortRetention(
        ev3.select(col("k"), col("at"))),
      "funnelSteps" -> graft.api.EventAnalytics.funnelSteps(ev3, "a", "b", "c"),
      "transitionMatrix" -> graft.api.EventAnalytics.transitionMatrix(
        ev4.select(col("id"), col("k"), col("at"), lit("t").as("ty"))),
      "firstTouch" -> graft.api.EventAnalytics.firstTouchAttribution(
        ev4.select(col("id"), col("k"), col("at"), lit("t").as("ty")), "t"))
    for ((name, df) <- frames) {
      assert(emptyPartitionWindows(df).isEmpty,
        s"$name declares an unpartitioned window")
      val s = df.queryExecution.executedPlan.toString
      assert(!s.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$s")
      // the title's third claim, now actually asserted (r16 advisor): the
      // facades are UNORDERED — the oracle ORDER BY lives in the registry
      // wrappers only, so no facade may inherit a global range-partition
      // sort (its scaladoc promises "one keyed shuffle")
      val globalSorts = df.queryExecution.optimizedPlan.collect {
        case so: org.apache.spark.sql.catalyst.plans.logical.Sort
            if so.global => so
      }
      assert(globalSorts.isEmpty,
        s"$name plans a global sort — facades must stay unordered:\n" +
          df.queryExecution.optimizedPlan)
    }
  }

  test("round-12 head queries: every top-k is TakeOrderedAndProject, not a global sort") {
    // the link-prediction panel, PMI collocations, and basket lift all end
    // in an ORDER BY ... LIMIT head; at 100 TB a global sort there would
    // shuffle the whole candidate/model table to rank 20 rows
    // text_keyword_rake joined this list in round 12: its corpus top-25
    // must rank on phrase-table rows without a global sort
    for (name <- Seq("graph_resource_alloc", "graph_jaccard_similarity",
        "graph_copurchase_lift", "text_collocations", "text_keyword_rake")) {
      val s = plan(name).toString
      assert(s.contains("TakeOrderedAndProject"),
        s"$name: top-k must be TakeOrderedAndProject:\n$s")
    }
  }
}
