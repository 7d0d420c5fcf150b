package graft.operators

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** A graph-ANN search must run a FIXED number of Spark jobs: its cost at
  * serving time is per-job scheduling over beam-sized (KB) frames, not
  * data movement, so the job count IS the regression surface. r18
  * measured 59 jobs for one 5-hop search (AQE spawned a query-stage job
  * per exchange per hop). The beam lives on the driver and reaches the
  * executors as broadcast variables, which take no job, so a hop is
  * exactly its two collects. */
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
