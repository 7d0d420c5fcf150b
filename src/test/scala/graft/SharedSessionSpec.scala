package graft

import graft.ops.AppRegistry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, CyclicBarrier, TimeUnit}
import scala.jdk.CollectionConverters._

/** Apps share one session (OpsServer runs each submit on its own thread),
  * so no query may change what another one plans with: the graph-ANN
  * search runs every hop on the caller's session, which keeps AQE on at
  * every job, and concurrent apps, kill included, behave as they do
  * alone. */
class SharedSessionSpec extends SparkTestBase {

  private val aqe = "spark.sql.adaptive.enabled"

  private def entry(name: String) = SparkEntry.registry.find(_.name == name).get

  private def hash(df: DataFrame): Long = df.selectExpr("sum(hash(*))").head().getLong(0)

  /** Runs `body` with a listener that reads the shared session's AQE flag
    * at every job start; returns the values read. */
  private def aqeAtJobStarts(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { seen.add(spark.conf.get(aqe)); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener delivery is async: wait until the count stops moving
      var last = -1
      val deadline = System.currentTimeMillis() + 10000
      while (seen.size != last && System.currentTimeMillis() < deadline) {
        last = seen.size; Thread.sleep(200)
      }
    } finally spark.sparkContext.removeSparkListener(l)
    seen.asScala.toSeq
  }

  private def awaitDone(registry: AppRegistry, ids: Seq[java.util.UUID]): Seq[String] = {
    def statuses = ids.map(id => registry.submitted.find(_.id == id).get.status)
    val deadline = System.currentTimeMillis() + 180000
    while (statuses.contains("running") && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    statuses
  }

  test("ann_graph_topk leaves the shared session's AQE on at every job") {
    val seen = aqeAtJobStarts(Pin.query(entry("ann_graph_topk").run(spark, sf).collect()))
    assert(seen.nonEmpty)
    assert(seen.forall(_ == "true"), s"AQE read at job starts: ${seen.mkString(",")}")
  }

  test("a graphAnnSearch facade call leaves the shared session's AQE on at every job") {
    import spark.implicits._
    val c = (0L until 64L).map(i =>
      (i, Seq.tabulate(4)(d => ((i * 31 + d * 17) % 97).toFloat / 97f)))
      .toDF("id", "vec")
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f))).toDF("qid", "qvec")
    val idx = graft.api.SimilaritySearch.graphAnnBuild(spark, c, nlist = 2)
    val seen = aqeAtJobStarts {
      assert(graft.api.SimilaritySearch.graphAnnSearch(spark, idx, q, k = 5).collect().nonEmpty)
    }
    assert(seen.nonEmpty)
    assert(seen.forall(_ == "true"), s"AQE read at job starts: ${seen.mkString(",")}")
  }

  test("concurrent ann_graph_topk and ev_interval_join_auto apps each match their serial run") {
    val names = Seq("ann_graph_topk", "ev_interval_join_auto")
    val serial = names.map(n => n -> Pin.query(hash(entry(n).run(spark, sf)))).toMap
    val hashes = new ConcurrentHashMap[String, Long]()
    val registry = new AppRegistry(spark)
    // both apps start planning together, so the interval join plans while
    // the beam search runs its hops
    val started = new CyclicBarrier(names.size)
    def hashed(n: String): (SparkSession, String) => DataFrame = (s, dir) => {
      started.await(60, TimeUnit.SECONDS)
      val df = entry(n).run(s, dir)
      hashes.put(n, hash(df))
      df
    }
    val seen = aqeAtJobStarts {
      val ids = names.map(n => registry.submit(n, hashed(n), sf))
      assert(awaitDone(registry, ids) == Seq("finished", "finished"))
    }
    assert(hashes.asScala.toMap == serial)
    assert(seen.forall(_ == "true"), s"AQE read at job starts: ${seen.mkString(",")}")
  }

  test("q64 on two threads over two data dirs matches its serial run every time") {
    val q64 = entry("q64_supplier_part_stats")
    val dirs = Seq(sf, sf.replace("sf0.001", "sf0.01"))
    val serial = dirs.map(d => d -> Pin.query(hash(q64.run(spark, d)))).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(dirs.size)
    val wrong = try {
      val runs = dirs.map(d => pool.submit(() =>
        (1 to 10).count(_ => Pin.query(hash(q64.run(spark, d))) != serial(d))))
      runs.map(_.get(300, TimeUnit.SECONDS)).sum
    } finally pool.shutdown()
    assert(wrong == 0, s"$wrong of ${10 * dirs.size} concurrent runs returned another dir's result")
  }

  test("a SQL-text entry leaves the caller's temp views alone") {
    import spark.implicits._
    Seq(1L, 2L).toDF("mine").createOrReplaceTempView("part")
    try {
      Pin.query(entry("q57_min_cost_supplier").run(spark, sf).collect())
      assert(spark.table("part").columns.toSeq == Seq("mine"))
    } finally spark.catalog.dropTempView("part")
  }

  test("killing an ann_graph_topk app mid-search ends it as killed") {
    val registry = new AppRegistry(spark)
    val hopRunning = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("graphann: hop 1"))) hopRunning.countDown()
    }
    spark.sparkContext.addSparkListener(l)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try {
      val id = registry.submit("ann_graph_topk", entry("ann_graph_topk").run, sf)
      assert(hopRunning.await(120, TimeUnit.SECONDS), "the search never reached hop 1")
      assert(registry.killSubmitted(id), "the app ended before the kill")
      assert(awaitDone(registry, Seq(id)) == Seq("killed"))
    } finally spark.sparkContext.removeSparkListener(l)
    assert(spark.conf.get(aqe) == "true")
    // the killed query released its caches and ticks; only the index the
    // session memoizes may have been added
    val left = (spark.sparkContext.getPersistentRDDs -- before).values.filterNot(Pin.isServing)
    assert(left.isEmpty, s"the killed app left ${left.mkString(", ")}")
  }

  test("the caller's listeners see the search's executions until unregistered") {
    val fresh = spark.newSession()
    import fresh.implicits._
    val c = (0L until 64L).map(i =>
      (i, Seq.tabulate(4)(d => ((i * 31 + d * 17) % 97).toFloat / 97f)))
      .toDF("id", "vec")
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f))).toDF("qid", "qvec")
    val idx = graft.api.SimilaritySearch.graphAnnBuild(fresh, c, nlist = 2)
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = if (qe.sparkSession eq fresh) seen.incrementAndGet()
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    def search(): Unit = {
      graft.api.SimilaritySearch.graphAnnSearch(fresh, idx, q, k = 3, hops = 2).collect(); ()
    }
    // listener delivery is async: wait until the count stops moving
    def settled(): Int = {
      var last = -1
      val deadline = System.currentTimeMillis() + 10000
      while (seen.get != last && System.currentTimeMillis() < deadline) {
        last = seen.get; Thread.sleep(200)
      }
      last
    }
    fresh.listenerManager.register(l)
    val before = settled()
    search()
    // the entry scoring and two collects per hop all run on `fresh`
    assert(settled() - before >= 1 + 2 * 2)
    fresh.listenerManager.unregister(l)
    val after = settled()
    search()
    assert(settled() == after)
  }
}
