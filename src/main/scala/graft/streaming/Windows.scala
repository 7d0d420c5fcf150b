package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative event-time windowing — the replacement for the reference's
  * WindowState interval algebra
  * (reference: streaming/src/main/scala/io/gearpump/streaming/state/impl/WindowState.scala:48-158,
  * Window size/step at state/impl/WindowConfig.scala:17-21, slide trigger at
  * state/impl/Window.scala:43-45). Spark slices rows into window intervals
  * at scan time and recomputes partials per window instead of applying
  * `Group.minus` eviction; results are identical, no inverse needed.
  *
  * Allowed lateness: the reference credits any message to its interval until
  * checkpoint retention drops it (WindowState.scala:71-77); here that bound
  * is explicit — `withWatermark(delay)` keeps state for `delay` past the
  * max seen event time, then drops later arrivals.
  */
object Windows {

  /** Tumbling window (reference: size == step, WindowConfig.scala:21). */
  def tumbling(df: DataFrame, timeCol: String, size: String,
      lateness: String = "0 seconds"): RelGroup =
    RelGroup(df.withWatermark(timeCol, lateness), window(col(timeCol), size))

  /** Sliding window (reference: size + step, WindowState slide at :82-98). */
  def sliding(df: DataFrame, timeCol: String, size: String, step: String,
      lateness: String = "0 seconds"): RelGroup =
    RelGroup(df.withWatermark(timeCol, lateness), window(col(timeCol), size, step))

  /** Session window (gap-based; absent in the reference — SURVEY §2.6 bonus). */
  def session(df: DataFrame, timeCol: String, gap: String,
      lateness: String = "0 seconds"): RelGroup =
    RelGroup(df.withWatermark(timeCol, lateness), session_window(col(timeCol), gap))

  final case class RelGroup(df: DataFrame, win: Column) {
    /** group by the window (plus optional keys) and aggregate
      * (pass pre-aliased aggregate columns). */
    def agg(keys: Seq[Column], aggs: Column*): DataFrame =
      df.groupBy((win.as("window") +: keys): _*).agg(aggs.head, aggs.tail: _*)
    def count(keys: Column*): DataFrame =
      df.groupBy((win.as("window") +: keys): _*).count()
  }

  /** Streaming top-k per window (SURVEY §2.7): ranking functions aren't
    * allowed on a streaming Dataset, so the recipe is windowed aggregation
    * upstream + a per-micro-batch row_number cut inside foreachBatch — each
    * batch of finalized window aggregates is ranked within its window and
    * only the k best survive. `windowed` must be the output of
    * `tumbling/sliding(...).agg/count(keys)` (columns: window, keys..., a
    * measure); pass the key columns as `tieBreak` so ties on the measure cut
    * deterministically. Returns a writeStream-ready foreachBatch function.
    *
    * REQUIRES APPEND output mode (windows emitted once, after the watermark
    * closes them): the cut is per batch, so it is only the window's true
    * top-k when the window's final aggregate arrives whole in one batch. In
    * update mode a batch ranks only the keys updated in that batch and
    * earlier emissions are never retracted — route update-mode streams into
    * a window-keyed upsert store (the idempotent-sink pattern,
    * [[topKPerWindowExternal]]) instead. */
  def topKPerWindow(k: Int, measure: String, tieBreak: Seq[String],
      sink: DataFrame => Unit): (DataFrame, Long) => Unit = { (batch: DataFrame, _: Long) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window"))
      .orderBy(col(measure).desc +: tieBreak.map(col(_).asc): _*)
    sink(batch
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k))
  }

  /** Executor-side client contract for the external top-k store: an
    * idempotent keyed upsert (so replays overwrite, the exactly-once
    * discipline of GraftSink) plus a store-side rank query. Production
    * backends are any keyed store with ordered scans per window (RocksDB,
    * Redis ZSETs, a (window, key) primary-keyed table); the factory is the
    * standard serializable connection-provider shape (same pattern as
    * KVSink's injected client). */
  trait TopKClient extends java.io.Closeable {
    def upsert(window: String, key: String, measure: Double): Unit
    /** measure desc, key asc tie-break — same ordering as topKPerWindow. */
    def topK(window: String, k: Int): Seq[(String, Double)]
    override def close(): Unit = ()
  }

  /** Process-local [[TopKClient]] backend for local mode and tests: named
    * stores in a JVM-wide registry, so the factory closure serializes as a
    * plain string and every local executor thread hits the same state —
    * exactly how an external store behaves across real executors. */
  object InMemoryTopKStore {
    private val stores = new scala.collection.concurrent.TrieMap[
      String, scala.collection.concurrent.TrieMap[(String, String), Double]]()

    def client(name: String): TopKClient = new TopKClient {
      private val s = stores.getOrElseUpdate(name,
        scala.collection.concurrent.TrieMap.empty)
      override def upsert(window: String, key: String, measure: Double): Unit = {
        s.put((window, key), measure); ()
      }
      override def topK(window: String, k: Int): Seq[(String, Double)] =
        s.iterator.collect { case ((w, key), m) if w == window => (key, m) }
          .toSeq.sortBy { case (key, m) => (-m, key) }.take(k)
    }

    def drop(name: String): Unit = { stores.remove(name); () }
  }

  /** Update-mode streaming top-k, the update-mode-correct companion of
    * [[topKPerWindow]]: the store holds the LATEST aggregate per (window,
    * key), so a batch that updates only some keys still ranks against
    * every key seen so far, and earlier emissions are superseded per
    * window. Each micro-batch's
    * (window STRING, key STRING, measure DOUBLE) aggregate rows upsert
    * into the keyed store FROM THE EXECUTORS via foreachPartition — the
    * driver never materializes the batch — then only the TOUCHED window
    * ids (the distinct-window set: #windows rows, not #keys) come back to
    * rank each touched window with a store-side query. At 100x keys the
    * driver's traffic grows with the number of open windows only. */
  def topKPerWindowExternal(k: Int, clientFactory: () => TopKClient,
      sink: (String, Seq[(String, Double)]) => Unit): (DataFrame, Long) => Unit =
    { (b: DataFrame, _: Long) =>
      // Two actions run over this batch (upsert pass + touched-window
      // distinct); pin it so the second doesn't recompute the upstream
      // stateful aggregation — the pattern the foreachBatch docs recommend.
      // The per-batch scope releases it when the batch is done.
      graft.Pin.scope {
        val batch = graft.Pin.reuse(b)
        batch.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          if (it.hasNext) {
            val c = clientFactory()
            try it.foreach(r => c.upsert(r.getString(0), r.getString(1), r.getDouble(2)))
            finally c.close()
          }
        }
        val touched = batch.select("window").distinct().collect()
          .map(_.getString(0)).sorted
        val c = clientFactory()
        try touched.foreach(w => sink(w, c.topK(w, k)))
        finally c.close()
      }
    }
}
