package graft.examples

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end library example: a planted corpus with known attrition
  * at every stage (3 low-quality docs, 2 exact copies, 1 near-duplicate)
  * must come out as exactly the 12 unique good documents, in batch and —
  * for the filtering stages — under any streaming chopping. */
class CurateCorpusSpec extends SparkTestBase {

  // 60 words: 8 stopword kinds + 52 per-doc-unique fillers — passes every
  // Gopher rule; near-zero shingle overlap between different docs
  private def goodText(i: Long): String =
    "the be to of and that have with " +
      (1 to 52).map(j => s"w${i}n$j").mkString(" ")

  private def corpus(): Seq[(Long, String)] =
    (1L to 12L).map(i => (i, goodText(i))) ++
      Seq((51L, "too short"), (52L, "also tiny"), (53L, "still short")) ++
      Seq((101L, goodText(1)), (102L, goodText(1))) ++ // exact copies of doc 1
      Seq((103L, goodText(2).dropRight(6) + " edited")) // near-dup of doc 2

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("uid", "body")
  }

  test("batch pipeline: per-stage attrition and final manifest are exact") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (manifest, attrition) = CurateCorpus.curate(df(corpus()),
      packBudget = 100, nShards = 4)
    // stages 1-4 run as one query: the one copy they leave is the scrubbed
    // survivors the manifest reads, and no tick of the near-dup stage's
    // connected components outlives it
    val left = (spark.sparkContext.getPersistentRDDs -- before)
      .filter(r => Seq("CurateCorpus.scala", "GraphOps.scala").exists(r._2.toString.contains))
    val read = manifest.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    assert(left.size == 1 && read(left.keys.head),
      s"curate left ${left.values.mkString(", ")}")
    val byStage = attrition.map(a => a.stage -> ((a.docsIn, a.docsOut))).toMap
    assert(byStage("quality_gate") == ((18L, 15L)), s"$attrition")
    assert(byStage("exact_dedup") == ((15L, 13L)), s"$attrition")
    assert(byStage("near_dup_dedup") == ((13L, 12L)), s"$attrition")
    // the scrub stage is cardinality-preserving and reported for audit
    assert(byStage("pii_scrub") == ((12L, 12L)), s"$attrition")

    val rows = manifest.orderBy(col("doc_id")).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 12L), "survivors = good docs")
    // every survivor is 60 whitespace tokens; budget 100 packs greedily:
    // doc k starts at 60*(k-1) -> seq_id = floor(60*(k-1)/100)
    rows.zipWithIndex.foreach { case (r, k) =>
      assert(r.getInt(1) == 60)
      assert(r.getLong(3) == (60L * k) / 100, s"seq_id of doc ${k + 1}: $r")
      assert(r.getLong(4) == (60L * k) % 100, s"seq_offset of doc ${k + 1}: $r")
    }
    assert(rows.map(_.getLong(5)).forall(s => s >= 0 && s < 4), "shards in range")
    // the BPE tokenizer's [^a-z]+ word split keeps only the 8 alphabetic
    // stopwords per doc (the digit fillers shatter to len-1 pieces), so
    // every survivor encodes to >= 8 BPE tokens
    assert(rows.forall(!_.isNullAt(2)) &&
      rows.forall(_.getLong(2) >= 8L), "every survivor got a BPE token count")
  }

  test("streaming twin: chopped feed converges to the batch post-dedup set; replay is a no-op") {
    import graft.streaming.GraftSource
    import spark.implicits._
    val all = corpus()
    val curator = new CurateCorpus.StreamingCurator(spark)
    val in = GraftSource.memory[(Long, String)](spark)
    val q = curator.stream(in.toDS().toDF("uid", "body"))
    try {
      // id order (so first-arrival == min-id keeper), adversarial chunks
      val chunks = Seq(all.take(1), all.slice(1, 14), all.drop(14))
      // each update replaces the kept tick: what this feed persists stays
      // flat (RDDs earlier suites left are the ContextCleaner's to reap)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val persisted = chunks.map { c =>
        in.addData(c); q.processAllAvailable()
        (spark.sparkContext.getPersistentRDDs -- before).size
      }
      assert(persisted.last == persisted.head, s"persisted RDDs after each chunk: $persisted")
      val streamed = curator.keptDocs.collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      // batch reference: quality gate + exact dedup (near-dup is the
      // batch-only stage) = docs 1..12 plus the near-dup 103
      assert(streamed.map(_._1).toSeq == ((1L to 12L) :+ 103L),
        s"streamed kept ids: ${streamed.map(_._1).toSeq}")

      // replay an entire chunk: content digests match, nothing re-enters
      in.addData(chunks(1)); q.processAllAvailable()
      assert(curator.keptDocs.count() == 13L, "replay must be a no-op")
    } finally q.stop()
  }
}
