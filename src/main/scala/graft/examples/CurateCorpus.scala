package graft.examples

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.api.{CorpusPipeline, DedupAlgorithms, TextAnalytics}

/** END-TO-END LIBRARY-USER EXAMPLE — the program a user who "switches to
  * this library" writes (the role of the reference's examples tree,
  * examples/streaming/wordcount/.../WordCount.scala:36-48 and complexdag
  * Dag.scala:77-93): one pipeline composing the public facades over an
  * arbitrary (id, text) corpus,
  *
  *   read -> quality gate -> exact dedup -> near-dup dedup -> PII scrub
  *        -> BPE tokenize -> sequence pack -> shard manifest,
  *
  * reporting per-stage attrition — the number every curation run is
  * audited by. Each stage is a facade call; nothing here re-implements
  * engine logic.
  *
  * The streaming twin ([[StreamingCurator]]) runs the STATELESS stages
  * (quality gate, within-batch exact dedup) as the same facade calls
  * inside foreachBatch, and carries exact-dedup state ACROSS batches via
  * [[DedupAlgorithms.ingestDelta]] against the accumulated kept set — so
  * any micro-batch chopping of the corpus converges to the batch
  * pipeline's post-dedup survivor set. (The accumulated frame is
  * corpus-sized here for clarity; a production always-on variant keeps
  * digests in a state store — see graft.streaming.StreamingDedup.) */
object CurateCorpus {

  /** One pipeline stage's attrition: documents in, documents surviving. */
  final case class Attrition(stage: String, docsIn: Long, docsOut: Long)

  /** Run the batch curation pipeline over an arbitrary two-column
    * (id, text) frame.
    * @param gateRule which Gopher panel column gates stage 1 — "r_all"
    *   (the full conjunction, default) or any single rule (e.g. "r_words"
    *   for corpora whose language profile defeats the stopword rule)
    * @return (manifest, attrition) — manifest has one row per surviving
    *   document: (doc_id, n_tokens, n_bpe_tokens, seq_id, seq_offset,
    *   shard, pos); attrition has one row per filtering stage. */
  def curate(raw: DataFrame, packBudget: Int = 512, nShards: Int = 8,
      gateRule: String = "r_all"): (DataFrame, Seq[Attrition]) = {
    // stages 1-4 are one query: it releases every stage's cache, and the
    // ticks of the facades they call, when it ends. The scrubbed survivors
    // outlive it: the manifest reads them.
    val (scrubbed, attrition) = graft.Pin.query {
      val docs = raw.toDF("doc_id", "text").transform(graft.Pin.reuse)
      val n0 = docs.count()

      // 1. quality gate: Gopher rule panel, keep the chosen rule's passers
      val quality = docs
        .join(TextAnalytics.gopherFlags(docs).filter(col(gateRule))
          .select(col("doc_id")), "doc_id")
        .transform(graft.Pin.reuse)
      val n1 = quality.count()

      // 2. exact dedup: one keeper per content digest (lowest id)
      val exact = quality
        .join(DedupAlgorithms.exactDuplicates(quality)
          .select(col("keep_id").as("doc_id")), "doc_id")
        .transform(graft.Pin.reuse)
      val n2 = exact.count()

      // 3. near-dup dedup: MinHash+LSH clusters, keep each cluster's min id
      val nearDrops = DedupAlgorithms.nearDupClusters(exact)
        .filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id"))
      val kept = exact.join(nearDrops, Seq("doc_id"), "left_anti")
        .transform(graft.Pin.reuse)
      val n3 = kept.count()

      // 4. PII scrub: redact emails/IPs in the survivors BEFORE any tokens
      // are derived (cardinality-preserving — listed in the attrition report
      // for auditability with docsIn == docsOut). Deliberately AFTER dedup:
      // the digests above saw raw text, so two docs differing only in
      // redacted PII stay distinct exact-dedup keys and are left to the
      // near-dup stage, rather than silently collapsing post-redaction.
      val scrubbed = TextAnalytics.piiScrub(kept)
        .select(col("doc_id"), col("scrubbed").as("text"))
        .transform(graft.Pin.serving)
      (scrubbed, Seq(
        Attrition("quality_gate", n0, n1),
        Attrition("exact_dedup", n1, n2),
        Attrition("near_dup_dedup", n2, n3),
        Attrition("pii_scrub", n3, n3)))
    }

    // 5-7. tokenize (BPE trained on the scrubbed survivors), pack, shard —
    // all cardinality-preserving: the manifest carries every survivor once
    val toks = TextAnalytics.bpeTokenCounts(scrubbed)
    val packed = CorpusPipeline.packSequences(scrubbed, packBudget)
    val shards = CorpusPipeline.shardAssign(scrubbed.select(col("doc_id")), nShards)
    val manifest = packed
      .join(toks.select(col("doc_id"), col("n_bpe_tokens")), Seq("doc_id"), "left")
      .join(shards, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_bpe_tokens"),
        col("seq_id"), col("seq_offset"), col("shard"), col("pos"))

    (manifest, attrition)
  }

  /** Streaming twin of [[curate]]'s filtering stages: per micro-batch, the
    * quality gate and within-batch exact dedup run as the SAME facade
    * calls (stateless), and cross-batch exact dedup is
    * [[DedupAlgorithms.ingestDelta]] against the accumulated kept set.
    * After any chopping of the corpus, [[keptDocs]] equals the batch
    * pipeline's post-exact-dedup survivors (first-arrival keeper; feed in
    * id order for bit-parity with batch's min-id keeper). */
  final class StreamingCurator(spark: SparkSession) {
    // always a tick, so each update can drop the one it replaces
    @volatile private var kept: DataFrame = graft.Pin.tick(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType)))))

    /** Fold one micro-batch of (id, text) documents. Idempotent under
      * replay: a replayed doc is digest-matched by ingestDelta and
      * dropped. */
    def update(batch: DataFrame): Unit = synchronized {
      val docs = batch.toDF("doc_id", "text")
      // stateless stages — identical facade calls to the batch pipeline
      val quality = docs
        .join(TextAnalytics.gopherFlags(docs).filter(col("r_all"))
          .select(col("doc_id")), "doc_id")
      val exact = quality
        .join(DedupAlgorithms.exactDuplicates(quality)
          .select(col("keep_id").as("doc_id")), "doc_id")
      // stateful stage — only genuinely-new content joins the kept set
      val fresh = exact
        .join(DedupAlgorithms.ingestDelta(exact, kept)
          .select(col("doc_id")), "doc_id")
      // the new tick is eager, so nothing reads the previous one any more
      val prev = kept
      kept = kept.unionByName(fresh).transform(graft.Pin.tick)
      graft.Pin.drop(prev)
    }

    /** The accumulated post-dedup survivor set (doc_id, text). The frame
      * is valid until the next [[update]], which releases its blocks. */
    def keptDocs: DataFrame = kept

    /** Wire a streaming (id, text) corpus into this curator. */
    def stream(docs: DataFrame): StreamingQuery =
      docs.writeStream.outputMode("append")
        .foreachBatch((df: Dataset[Row], _: Long) => update(df))
        .start()
  }

  /** Demo main: curate the fixture documents table and print the
    * attrition and a manifest sample. */
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Engine.session("curate-corpus", "local[4]")
    val docs = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    // the synthetic fixture has no English stopwords, so gate on the
    // word-count rule; a real corpus uses the default r_all conjunction
    val (manifest, attrition) = curate(docs, gateRule = "r_words")
    attrition.foreach(a =>
      println(s"STAGE ${a.stage}: ${a.docsIn} -> ${a.docsOut}"))
    println("MANIFEST_ROWS=" + manifest.count())
    manifest.orderBy(col("doc_id")).show(5, truncate = false)
    spark.stop()
  }
}
