package graft.operators

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Pins the r19 hop-loop optimization: a graph-ANN search must run a
  * BOUNDED number of Spark jobs — the search cost at serving time is
  * per-job/per-stage scheduling over beam-sized (KB) frames, not data
  * movement, so the job count IS the regression surface. r18 measured 59
  * jobs for one 5-hop search (AQE spawned a query-stage job per exchange
  * per hop plus a re-optimization pass each); the loop now plans each hop
  * once, on the session's AQE-off sibling (Engine.fixedPlanSession, so the
  * caller's session keeps AQE) with explicit size-derived partition
  * counts, which caps a hop at its two input broadcasts plus one
  * multi-stage job. */
class BeamJobBudgetSpec extends SparkTestBase {

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
    // budget: 2 facade probe jobs (dim probe + batch-cap count), entry
    // scoring (query broadcast + main), per hop (beam-keys broadcast +
    // query broadcast + one multi-stage job), final rank collect (AQE on,
    // ~3). r18's loop measured ~59 here; a re-regression to
    // job-per-exchange planning trips this long before the bench does.
    val budget = 2 + 2 + hops * 3 + 4
    assert(n <= budget,
      s"search ran $n jobs for $hops hops — budget $budget " +
        "(job-per-exchange planning is back in the hop loop?)")
  }
}
