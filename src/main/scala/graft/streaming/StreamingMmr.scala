package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING MMR RETRIEVAL — the foreachBatch twin of the batch
  * `ann_mmr_topk` over an UPDATING corpus (reference stream semantics:
  * a retrieval index that ingests continuously; the dataflow analog of
  * its always-on processor pipelines,
  * streaming/src/main/scala/io/gearpump/streaming/task/Task.scala:30-60).
  *
  * The batch operator's two stages split exactly along the
  * stream/static boundary:
  *
  *  - Stage 1 (corpus-dependent): score arriving vectors against the
  *    static query set and fold them into each query's running top-20
  *    shortlist. Top-k by a TOTAL order (rel 4dp desc, vec_id) is an
  *    associative, order-insensitive merge — top-k(all) =
  *    top-k(top-k(a) ∪ b) — so ANY micro-batch chopping converges to the
  *    batch shortlist; a replayed batch folds in idempotently (the
  *    (q_id, vec_id) group-by dedups before ranking). State is bounded at
  *    queries × 20 rows no matter how much corpus streams through.
  *  - Stage 2 (corpus-independent): the MMR greedy re-rank, shared VERBATIM
  *    with the batch path (`Similarity.mmrSelect`) — stream == batch is
  *    structural, not re-implemented arithmetic.
  *
  * 100 TB shape: per micro-batch the arriving vectors are scored map-side
  * against the broadcast query set (the ann_cosine_topk scan shape) and
  * reduced to ≤ queries × 20 rows before anything reaches the driver; the
  * MMR rounds then cost the same shortlist-sized work as the batch
  * operator. Nothing data-sized is ever collected or retained. */
/** @param excludeSelf when true (default, the batch-twin behavior where
  *   queries are drawn FROM the corpus and share its id space), a corpus
  *   vector whose vec_id equals a q_id is excluded from that query's
  *   shortlist. Pass false when query ids and corpus ids are disjoint
  *   user spaces — otherwise an accidental id collision would silently
  *   drop a legitimate corpus vector. */
final class StreamingMmrTracker(
    spark: SparkSession,
    queries: DataFrame, // (q_id, q_emb) — the static query set
    shortlistK: Int = 20,
    excludeSelf: Boolean = true) {
  import spark.implicits._
  graft.Engine.install(spark)

  // bounded state: the running per-query shortlist, queries × shortlistK
  @volatile private var shortlist: Array[(Long, Long, Seq[Float], Double)] =
    Array.empty

  private def shortlistDf: DataFrame =
    shortlist.toSeq.toDF("q_id", "vec_id", "embedding", "rel")

  /** Fold one micro-batch of (vec_id, embedding) corpus vectors into the
    * running shortlists. Idempotent under replay. */
  def update(batch: DataFrame): Unit = synchronized {
    val scoredAll = batch.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(queries.select(col("q_id"), col("q_emb"))))
    val scored = (if (excludeSelf) scoredAll.filter(col("vec_id") =!= col("q_id"))
                  else scoredAll)
      .select(col("q_id"), col("vec_id"), col("embedding"),
        round(expr("graft_cosine(embedding, q_emb)"), 4).as("rel"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rel").desc, col("vec_id"))
    val merged = scored.union(shortlistDf)
      .groupBy(col("q_id"), col("vec_id")) // replayed rows dedup here
      .agg(first(col("embedding")).as("embedding"), first(col("rel")).as("rel"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= shortlistK)
      .select(col("q_id"), col("vec_id"), col("embedding"), col("rel"))
    shortlist = merged.as[(Long, Long, Seq[Float], Double)].collect()
  }

  /** The current MMR-diversified selection — the batch operator's exact
    * selection over the shortlist state (same columns: q_id, pick,
    * vec_id, rel, score). */
  def selection(): DataFrame =
    graft.operators.Similarity.mmrSelect(spark, shortlistDf)
      .orderBy(col("q_id"), col("pick"))

  /** Wire a streaming corpus (vec_id, embedding) into this tracker. */
  def stream(corpus: DataFrame): StreamingQuery =
    corpus.writeStream.outputMode("append")
      .foreachBatch((df: Dataset[Row], _: Long) => update(df))
      .start()
}
