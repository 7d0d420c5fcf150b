package graft

import graft.ops.AppRegistry
import org.apache.spark.storage.StorageLevel

/** Pins the materialization lifecycle ([[Pin]]): a query run inside a
  * [[Pin.scope]] leaves no CacheManager entry and no cached RDD behind it,
  * on success, on failure, and when apps share the session.
  *
  * Checkpointed RDDs are out of this spec's reach: the serving frames a
  * [[Pin.memo]] holds stay for the session by design, and Spark keeps some
  * lineage-cutting `localCheckpoint` ticks of iterative operators alive
  * long after their query ends (their release is the ContextCleaner's). */
class MaterializationLeakSpec extends SparkTestBase {

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  private def persisted: Map[Int, org.apache.spark.rdd.RDD[_]] =
    spark.sparkContext.getPersistentRDDs.toMap

  test("every registry entry releases what it pinned when its scope ends") {
    spark.sharedState.cacheManager.clearCache() // whatever earlier suites left
    val leaks = SparkEntry.registry.flatMap { q =>
      val before = persisted.keySet
      Pin.scope(q.run(spark, sf).write.format("noop").mode("overwrite").save())
      val cacheLeak = !cacheEmpty
      if (cacheLeak) spark.sharedState.cacheManager.clearCache()
      // the scope unpersists synchronously: anything new and persisted that
      // is not a checkpoint is a pin nobody released
      val pinned = (persisted -- before).filterNot(_._2.isCheckpointed).keys.toSeq.sorted
      Seq(s"${q.name}: CacheManager not empty").filter(_ => cacheLeak) ++
        Seq(s"${q.name}: cached RDDs $pinned outlive the scope").filter(_ => pinned.nonEmpty)
    }
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }

  test("a scope releases its pins when its body throws") {
    val before = persisted
    val err = intercept[IllegalStateException] {
      Pin.scope {
        val df = Pin.reuse(spark.range(1000).toDF("id"))
        assert(df.count() == 1000)
        assert(!cacheEmpty)
        throw new IllegalStateException("boom")
      }
    }
    assert(err.getMessage == "boom")
    assert(cacheEmpty, "the failed scope's cache is still registered")
    assert(persisted.keySet.subsetOf(before.keySet), "the failed scope's blocks are still persisted")
  }

  test("nested scopes release only their own pins; outside any scope reuse checkpoints") {
    Pin.scope {
      val outer = Pin.reuse(spark.range(10).toDF("a"))
      Pin.scope {
        Pin.reuse(spark.range(20).toDF("b"))
        // the same plan again: the CacheManager hands back the outer entry
        Pin.reuse(spark.range(10).toDF("a"))
        assert(outer.storageLevel != StorageLevel.NONE)
      }
      assert(outer.storageLevel != StorageLevel.NONE,
        "the inner scope dropped the outer scope's pin")
    }
    assert(cacheEmpty)
    val eager = Pin.reuse(spark.range(30).toDF("c"))
    assert(cacheEmpty, "reuse outside a scope must not register a cache")
    assert(eager.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
  }

  test("a cache two threads' scopes share stays until the last of them ends") {
    def frame = spark.range(40).toDF("d")
    val pinned = new java.util.concurrent.CountDownLatch(1)
    val released = new java.util.concurrent.CountDownLatch(1)
    val other = new Thread(() => Pin.scope {
      Pin.reuse(frame)
      pinned.countDown()
      released.await()
    })
    other.start()
    try {
      assert(pinned.await(60, java.util.concurrent.TimeUnit.SECONDS))
      Pin.scope(assert(Pin.reuse(frame).count() == 40))
      assert(frame.storageLevel != StorageLevel.NONE,
        "one scope's end dropped a cache another thread's scope still holds")
    } finally {
      released.countDown()
      other.join()
    }
    assert(cacheEmpty, "the last holder's end must drop the shared cache")
  }

  test("a memo builds its value once under concurrent first use") {
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val key = ("memo-once", System.nanoTime())
    val threads = Seq.fill(4)(new Thread(() => Pin.memo(spark, key) {
      builds.incrementAndGet()
      Thread.sleep(200)
      "built"
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(builds.get == 1, s"${builds.get} builds for one key")
    assert(Pin.memo(spark, key)("rebuilt") == "built")
  }

  test("two concurrent submits of one entry each match the serial result") {
    val q = SparkEntry.registry.find(_.name == "dedup_minhash_fast").get
    def hash(df: org.apache.spark.sql.DataFrame): Long =
      df.selectExpr("sum(hash(*))").head().getLong(0)
    val serial = Pin.scope(hash(q.run(spark, sf)))
    val before = persisted.keySet
    val hashes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val registry = new AppRegistry(spark)
    // both apps plan over the shared signature cache before either runs,
    // so one app ends while the other still reads it
    val planned = new java.util.concurrent.CyclicBarrier(2)
    val hashed: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        val df = q.run(s, dir)
        df.queryExecution.executedPlan
        planned.await(60, java.util.concurrent.TimeUnit.SECONDS)
        hashes.add(hash(df))
        df
      }
    val ids = Seq.fill(2)(registry.submit(q.name, hashed, sf))
    val deadline = System.currentTimeMillis() + 120000
    def statuses = ids.map(id => registry.submitted.find(_.id == id).get.status)
    while (statuses.contains("running") && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(statuses == Seq("finished", "finished"), s"statuses $statuses")
    assert(hashes.toArray.toSeq == Seq(serial, serial))
    assert(cacheEmpty, "the apps' scopes left a cache behind")
    val pinned = (persisted -- before).filterNot(_._2.isCheckpointed).keys
    assert(pinned.isEmpty, s"cached RDDs $pinned outlive both apps")
  }
}
