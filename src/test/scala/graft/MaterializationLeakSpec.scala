package graft

import graft.ops.AppRegistry
import org.apache.spark.storage.StorageLevel

/** Pins the materialization lifecycle ([[Pin]]): a query run inside a
  * [[Pin.query]] leaves no CacheManager entry and no persisted RDD behind
  * it, cached or checkpointed, on success, on failure, and when apps share
  * the session. Only [[Pin.serving]] frames, which a [[Pin.memo]] holds
  * for the session, stay by design. */
class MaterializationLeakSpec extends SparkTestBase {

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  private def persisted: Map[Int, org.apache.spark.rdd.RDD[_]] =
    spark.sparkContext.getPersistentRDDs.toMap

  /** What is persisted now and was not in `before`, serving frames aside:
    * each RDD by its `toString`, which names the line that made it. */
  private def leftSince(before: Set[Int]): Seq[String] =
    (persisted -- before).toSeq.sortBy(_._1).map(_._2).filterNot(Pin.isServing).map(_.toString)

  test("every registry entry releases what it pinned when its scope ends") {
    spark.sharedState.cacheManager.clearCache() // whatever earlier suites left
    val leaks = SparkEntry.registry.flatMap { q =>
      val before = persisted.keySet
      Pin.query(q.run(spark, sf).write.format("noop").mode("overwrite").save())
      val cacheLeak = !cacheEmpty
      if (cacheLeak) spark.sharedState.cacheManager.clearCache()
      // the query unpersists before it returns: anything new and persisted
      // that is not served is a pin or a tick nobody released
      val left = leftSince(before)
      Seq(s"${q.name}: CacheManager not empty").filter(_ => cacheLeak) ++
        Seq(s"${q.name}: ${left.mkString(", ")} outlive the query").filter(_ => left.nonEmpty)
    }
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }

  /** The RDD under a checkpointed frame. */
  private def rddOf(df: org.apache.spark.sql.DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.analyzed.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd

  test("a loop drops every tick it replaces: only the returned labels stay") {
    import spark.implicits._
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val before = persisted.keySet
    val (labels, _) = operators.GraphOps.componentsWithTicks(chain)
    val left = (persisted -- before).values.toSeq
    assert(left.map(_.id) == Seq(rddOf(labels).id), s"persisted after the loop: ${left.mkString(", ")}")
    assert(labels.count() == 64)
    Pin.drop(labels)
    assert(!persisted.contains(rddOf(labels).id), "drop left the tick persisted")
  }

  test("Pin.rounds leaves only its last round's tick and never ticks the seed") {
    import org.apache.spark.sql.functions.{col, max, min}
    val seed = spark.range(10).toDF("x")
    val before = persisted.keySet
    val (last, rounds) = Pin.rounds(seed, 5)((prev, _) => prev.select((col("x") + 1).as("x")),
      (_, next) => next.agg(max("x")).head().getLong(0) >= 12)
    assert(rounds == 3, "the stop test ends the loop after the round it accepts")
    assert((persisted -- before).keySet == Set(rddOf(last).id), s"persisted: ${leftSince(before)}")
    assert(last.agg(min("x")).head().getLong(0) == 3)
    assert(Pin.rounds(seed, 0)((prev, _) => prev)._1 eq seed)
    Pin.drop(last)
  }

  test("a query releases its undropped ticks when it ends; a serving frame stays") {
    val before = persisted.keySet
    val (ticked, served) = Pin.query {
      val t = Pin.tick(spark.range(50).toDF("t"))
      assert(persisted.contains(rddOf(t).id))
      // what a leak report prints: the line that cut it
      assert(rddOf(t).toString.matches(".* at localCheckpoint at MaterializationLeakSpec.scala:\\d+"),
        rddOf(t).toString)
      (t, Pin.serving(spark.range(60).toDF("s")))
    }
    assert(!persisted.contains(rddOf(ticked).id), "the query kept its tick")
    assert(leftSince(before).isEmpty, s"left: ${leftSince(before)}")
    assert(served.count() == 60, "the query released a serving frame")
    assert(Pin.isServing(rddOf(served)))
    rddOf(served).unpersist(blocking = true)
  }

  test("Pin.drop refuses a frame that is not a tick") {
    val t = Pin.tick(spark.range(5).toDF("x"))
    intercept[IllegalArgumentException](Pin.drop(t.select("x")))
    intercept[IllegalArgumentException](Pin.drop(spark.range(5).toDF("x")))
    val s = Pin.serving(spark.range(5).toDF("y"))
    intercept[IllegalArgumentException](Pin.drop(s))
    Pin.drop(t)
    assert(!persisted.contains(rddOf(t).id))
    rddOf(s).unpersist(blocking = true)
  }

  test("text_bpe_train gives the same result in two consecutive queries") {
    // its training state is memoized for the session: the first query
    // must not release what the second one reads
    val q = SparkEntry.registry.find(_.name == "text_bpe_train").get
    def hash(): Long =
      Pin.query(q.run(spark, sf).selectExpr("sum(hash(*))").head().getLong(0))
    val first = hash()
    assert(hash() == first)
    val enc = SparkEntry.registry.find(_.name == "text_bpe_encode").get
    assert(Pin.query(enc.run(spark, sf).count()) > 0)
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
    Pin.drop(eager) // a tick: nothing else would release it before GC
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
    val serial = Pin.query(hash(q.run(spark, sf)))
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
    assert(leftSince(before).isEmpty, s"${leftSince(before).mkString(", ")} outlive both apps")
  }
}
