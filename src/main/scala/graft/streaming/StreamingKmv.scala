package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.md5Prefix
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING KMV DISTINCT-COUNT TRACKER — the foreachBatch twin of
  * `ev_kmv_overlap`'s K-minimum-values sketch over an unbounded key
  * stream (reference stream semantics: always-on per-key state with
  * bounded memory, the windowed-HLL pattern of StreamingHll applied to
  * the set-algebra sketch).
  *
  * The KMV K-set is a MERGEABLE sketch: K-smallest(all) =
  * K-smallest(K-smallest(a) ∪ b), and the hash is derandomized
  * (hash48('kmv:'||key), the ev_kmv_overlap convention), so the state
  * after any micro-batch chopping — or any replay — is bit-identical to
  * the batch sketch over the same keys. State is K longs per tracked
  * segment, forever, no matter how many keys stream through.
  *
  * 100 TB shape: each micro-batch's keys hash map-side and reduce to at
  * most K survivors before touching driver state; nothing key-set-sized
  * is retained or shuffled to one place beyond the K-set itself. */
final class StreamingKmvTracker(spark: SparkSession, k: Int = 64) {
  import spark.implicits._

  /** 2^48 as an exact double — the hash48 range for the estimator. */
  private val R = 281474976710656.0

  @volatile private var kset: Array[Long] = Array.empty

  /** Fold one micro-batch into the K-set (keys = the batch's FIRST
    * column; extra columns are ignored).
    * Idempotent under replay (duplicate hashes dedup in the merge).
    *
    * SHUFFLE-FREE by construction: the first column is referenced
    * positionally (any column name works — no SQL-string splicing), and
    * each partition folds its keys through a size-K ordered set (the
    * classic KMV update loop: insert iff below the current kth minimum,
    * evict the max), so at most K distinct longs per partition reach the
    * driver — no distinct() exchange, no global sort, ever. */
  def update(batch: DataFrame): Unit = synchronized {
    val kk = k
    // positional first-column select: rename EVERY column first (toDF with
    // one name throws on multi-column batches), then keep column 1 — any
    // input column name works (dots/spaces never reach a name parser) and
    // extra columns are ignored as documented
    val c1 = batch.toDF(batch.columns.indices.map(i => s"_c$i"): _*)
    val hashed = c1
      .select(col("_c0").cast("string").as("key"))
      .select(md5Prefix(concat(lit("kmv:"), col("key")), 12).as("h"))
      .as[Long]
    val batchK = hashed.mapPartitions { it =>
      val set = scala.collection.mutable.TreeSet.empty[Long]
      it.foreach { h =>
        if (set.size < kk) set += h
        else if (h < set.lastKey && !set.contains(h)) {
          set += h; set -= set.lastKey
        }
      }
      set.iterator
    }.collect()
    kset = (kset ++ batchK).distinct.sorted.take(k)
  }

  /** Current sketch state: (n_sketch, kth_hash). */
  def sketch: (Int, Long) = {
    val s = kset
    (s.length, if (s.isEmpty) 0L else s.last)
  }

  /** Distinct-count estimate: exact below saturation (the sketch IS the
    * set), (K−1)·2⁴⁸/h_K at capacity — the ev_kmv_overlap estimator. */
  def estimate: Double = {
    val (n, kth) = sketch
    if (n < k) n.toDouble else (k - 1).toDouble * R / kth.toDouble
  }

  /** Wire a streaming single-key-column frame into this tracker. */
  def stream(keys: DataFrame): StreamingQuery =
    keys.writeStream.outputMode("append")
      .foreachBatch((df: Dataset[Row], _: Long) => update(df))
      .start()
}
