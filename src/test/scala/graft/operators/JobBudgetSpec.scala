package graft.operators

import graft.{Engine, Pin, SparkEntry, SparkTestBase}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Warm job budgets. At the sizes these queries run here their cost is
  * per-job scheduling, not data movement, so the job count is the
  * regression surface. Each row is the count one warm run measured at the
  * test SF, under `Pin.query` as the runners run it, after a first run has
  * warmed codegen and the session's memos: the 13 headline entries, the
  * entries whose loops run on `Pin.rounds`, and the graph-ANN facade
  * search. A change that adds jobs to a row fails here; one that removes
  * some lowers the row. One more budget counts the classes a warm pass
  * over the headline entries compiles. */
class JobBudgetSpec extends SparkTestBase {

  private def jobCount(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener delivery is async: poll until the count stabilizes
      var last = -1
      var now = jobs.get()
      val deadline = System.currentTimeMillis() + 10000
      while (now != last && System.currentTimeMillis() < deadline) {
        last = now; Thread.sleep(200); now = jobs.get()
      }
      now
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private val budgets: Seq[(String, Int)] = Seq(
    // headline
    "q1_agg" -> 5,
    "q2_join_broadcast" -> 7,
    "q3_join_multi" -> 7,
    "q10_topk" -> 2,
    "q25_explode_wordcount" -> 3,
    "q43_join_six" -> 14,
    "q44_market_share" -> 19,
    "ev_window_tumbling" -> 5,
    "dedup_minhash_fast" -> 8,
    "ann_cosine_topk" -> 6,
    "ann_pq_topk" -> 9,
    "ann_graph_topk" -> 13,
    "lm_bigram_score" -> 9,
    // loops on Pin.rounds
    "graph_connected_components" -> 92,
    "graph_ktruss" -> 64,
    "graph_betweenness" -> 59,
    "graph_pagerank" -> 41,
    "graph_personalized_pagerank" -> 40,
    "dedup_clusters" -> 40,
    "graph_kcore" -> 32,
    "ann_mmr_topk" -> 30,
    "graph_bfs" -> 23,
    "graph_label_propagation" -> 25,
    "graph_sssp" -> 26,
    "graph_hits" -> 41,
    "ev_markov_steady_state" -> 34,
    // warm, both read the session's memoized training state: the loop
    // itself runs in the cold run
    "text_bpe_train" -> 3,
    "text_bpe_encode" -> 6)

  budgets.foreach { case (name, budget) =>
    test(s"$name runs at most $budget jobs warm") {
      val q = SparkEntry.queries(name)
      def run(): Unit = Pin.query { q(spark, sf).collect(); () }
      run()
      val n = jobCount(run())
      assert(n <= budget, s"$name ran $n jobs warm, budget $budget")
    }
  }

  // Classes compiled by a second pass over the 13 headline entries, the
  // pass a long-lived session (OpsServer, a bench's warm pass) repeats.
  // With Spark's default generated-code cache of 100 entries a pass evicts
  // its own classes and compiles them again, over 200 at this SF. Sized by
  // Engine.CodegenCacheMaxEntries, three runs compiled 12, 0 and 8.
  // Counted per entry, only q44_market_share compiles: its whole-stage
  // codegen ids follow the order in which AQE finishes its query stages,
  // and the id is part of the generated class, so a new order is new code.
  private val warmPassCompileBudget = 12

  test(s"a second pass over the headline entries compiles at most $warmPassCompileBudget classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val headline = SparkEntry.registry.filter(_.headline)
    assert(headline.size == 13)
    def pass(): Unit = headline.foreach { q =>
      Pin.query { q.run(spark, sf).collect(); () }
    }
    pass()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(n <= warmPassCompileBudget,
      s"the second headline pass compiled $n classes, budget $warmPassCompileBudget. " +
        "Spark sizes its JVM-wide generated-code cache once, at the first code " +
        "generation in the JVM; no suite compiles code before its first " +
        "Engine.session (SparkTestBase, OracleTypeDisciplineSpec), so the cache " +
        s"holds ${Engine.CodegenCacheMaxEntries} classes unless a suite now does, " +
        "or Engine.session no longer sets spark.sql.codegen.cache.maxEntries")
  }

  test("graphAnnSearch stays within the per-hop job budget") {
    import spark.implicits._
    val c = (0L until 64L).map(i =>
      (i, Seq.tabulate(4)(d => ((i * 31 + d * 17) % 97).toFloat / 97f)))
      .toDF("id", "vec")
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
      .toDF("qid", "qvec")
    val idx = graft.api.SimilaritySearch.graphAnnBuild(spark, c, nlist = 2)
    // derivedHops(64) = 5; warm once so codegen/classloading jobs and the
    // first-call broadcast cleanups don't count against the budget
    graft.api.SimilaritySearch.graphAnnSearch(spark, idx, q, k = 5).collect()
    val hops = graft.api.SimilaritySearch.derivedHops(idx.n)
    val n = jobCount {
      graft.api.SimilaritySearch.graphAnnSearch(spark, idx, q, k = 5).collect()
    }
    // 2 facade batch-cap probe jobs, the entry collect and entry scoring
    // (these queries are a local relation, so collecting them runs no
    // job), then per hop one expand and one score collect; the result is a
    // local relation too
    val budget = 2 + 2 + hops * 2
    assert(n <= budget,
      s"search ran $n jobs for $hops hops — budget $budget " +
        "(a hop runs more than its two collects?)")
  }
}
