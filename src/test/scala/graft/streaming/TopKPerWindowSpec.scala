package graft.streaming

import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object TopKCollector {
  val rows = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long, Int)]()
}

/** Streaming top-k per window (SURVEY §2.7): windowed count upstream, ranked
  * cut per micro-batch in foreachBatch — the streaming analog of
  * q34_topk_per_group. */
class TopKPerWindowSpec extends SparkTestBase {
  private def ts(s: String) = Timestamp.valueOf(s)

  test("emits only the k most frequent words per tumbling window") {
    import spark.implicits._
    TopKCollector.rows.clear()
    val in = GraftSource.memory[(String, Timestamp)](spark)
    val windowed = Windows
      .tumbling(in.toDS().toDF("word", "ts"), "ts", "1 minute")
      .count(col("word"))
    val sink = Windows.topKPerWindow(2, "count", Seq("word"), { top: DataFrame =>
      top.select(col("window.start").cast("string"), col("word"), col("count"), col("rk"))
        .collect()
        .foreach(r => TopKCollector.rows.add((r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))))
    })
    val q = windowed.writeStream.outputMode("complete").foreachBatch(sink).start()
    try {
      // window 10:00: a x3, b x2, c x1  -> top2 = a, b
      in.addData(
        ("a", ts("2024-01-01 10:00:01")), ("a", ts("2024-01-01 10:00:02")),
        ("a", ts("2024-01-01 10:00:03")), ("b", ts("2024-01-01 10:00:04")),
        ("b", ts("2024-01-01 10:00:05")), ("c", ts("2024-01-01 10:00:06")))
      q.processAllAvailable()
      TopKCollector.rows.clear() // keep only the final batch's view
      // window 10:01: d x2, e x1 -> top2 = d, e; window 10:00 unchanged
      in.addData(
        ("d", ts("2024-01-01 10:01:10")), ("d", ts("2024-01-01 10:01:20")),
        ("e", ts("2024-01-01 10:01:30")))
      q.processAllAvailable()
      val byWindow = TopKCollector.rows.toArray(Array.empty[(String, String, Long, Int)])
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).toSet).toMap
      assert(byWindow("2024-01-01 10:00:00") === Set(("a", 3L, 1), ("b", 2L, 2)))
      assert(byWindow("2024-01-01 10:01:00") === Set(("d", 2L, 1), ("e", 1L, 2)))
    } finally q.stop()
  }

  test("update mode: the upsert store ranks against FULL window state, not just the batch") {
    import spark.implicits._
    Windows.InMemoryTopKStore.drop("spec-update")
    val emitted = new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Double)]]()
    val in = GraftSource.memory[(String, Timestamp)](spark)
    val windowed = Windows
      .tumbling(in.toDS().toDF("word", "ts"), "ts", "1 minute")
      .count(col("word"))
      .select(col("window.start").cast("string").as("window"),
        col("word").as("key"), col("count").cast("double").as("measure"))
    val sink = Windows.topKPerWindowExternal(2,
      () => Windows.InMemoryTopKStore.client("spec-update"),
      (w, top) => { emitted.put(w, top); () })
    val q = windowed.writeStream.outputMode("update").foreachBatch(sink).start()
    try {
      // batch 1 — window 10:00: a x3, b x2, c x1
      in.addData(
        ("a", ts("2024-01-01 10:00:01")), ("a", ts("2024-01-01 10:00:02")),
        ("a", ts("2024-01-01 10:00:03")), ("b", ts("2024-01-01 10:00:04")),
        ("b", ts("2024-01-01 10:00:05")), ("c", ts("2024-01-01 10:00:06")))
      q.processAllAvailable()
      assert(emitted.get("2024-01-01 10:00:00") === Seq(("a", 3.0), ("b", 2.0)))

      // batch 2 updates ONLY c (c x3 -> count 4): the update batch contains
      // just c, and a per-batch row_number cut would emit c as "rank 1" —
      // the upsert store must instead rank c against a and b
      in.addData(
        ("c", ts("2024-01-01 10:00:07")), ("c", ts("2024-01-01 10:00:08")),
        ("c", ts("2024-01-01 10:00:09")))
      q.processAllAvailable()
      assert(emitted.get("2024-01-01 10:00:00") === Seq(("c", 4.0), ("a", 3.0)),
        "top-k reflects all keys ever seen in the window")
    } finally q.stop()
  }

  test("external-store path: upserts run on executors, driver fetches only touched windows") {
    import spark.implicits._
    Windows.InMemoryTopKStore.drop("spec-ext")
    ExternalTopKProbe.upsertThreads.clear()
    val emitted = new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Double)]]()
    val in = GraftSource.memory[(String, Timestamp)](spark)
    val windowed = Windows
      .tumbling(in.toDS().toDF("word", "ts"), "ts", "1 minute")
      .count(col("word"))
      .select(col("window.start").cast("string").as("window"),
        col("word").as("key"), col("count").cast("double").as("measure"))
    val sink = Windows.topKPerWindowExternal(2, ExternalTopKProbe.factory,
      (w, top) => { emitted.put(w, top); () })
    val q = windowed.writeStream.outputMode("update").foreachBatch(sink).start()
    try {
      in.addData(
        ("a", ts("2024-01-01 10:00:01")), ("a", ts("2024-01-01 10:00:02")),
        ("a", ts("2024-01-01 10:00:03")), ("b", ts("2024-01-01 10:00:04")),
        ("b", ts("2024-01-01 10:00:05")), ("c", ts("2024-01-01 10:00:06")))
      q.processAllAvailable()
      assert(emitted.get("2024-01-01 10:00:00") === Seq(("a", 3.0), ("b", 2.0)))

      // the update batch carries only c — full-state ranking must win
      in.addData(
        ("c", ts("2024-01-01 10:00:07")), ("c", ts("2024-01-01 10:00:08")),
        ("c", ts("2024-01-01 10:00:09")))
      q.processAllAvailable()
      assert(emitted.get("2024-01-01 10:00:00") === Seq(("c", 4.0), ("a", 3.0)))

      // no full-batch collect: every upsert ran inside a foreachPartition
      // task on an executor thread, never on the driver/foreachBatch thread
      val threads = ExternalTopKProbe.upsertThreads.toArray(Array.empty[String]).toSet
      assert(threads.nonEmpty)
      assert(threads.forall(_.contains("Executor task launch worker")),
        s"upserts must run executor-side, saw threads: $threads")
    } finally q.stop()
  }
}

/** Serializable client factory for the external-path spec: resolves the
  * process-local named store and records which thread performs each upsert
  * (the no-driver-collect evidence). */
object ExternalTopKProbe {
  val upsertThreads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val factory: () => Windows.TopKClient = () => {
    val inner = Windows.InMemoryTopKStore.client("spec-ext")
    new Windows.TopKClient {
      override def upsert(window: String, key: String, measure: Double): Unit = {
        upsertThreads.add(Thread.currentThread().getName)
        inner.upsert(window, key, measure)
      }
      override def topK(window: String, k: Int): Seq[(String, Double)] =
        inner.topK(window, k)
    }
  }
}
