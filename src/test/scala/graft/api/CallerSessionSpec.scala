package graft.api

import graft.SparkTestBase
import graft.streaming.StreamingMmrTracker
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The facades that take a caller's session must work on a session the
  * engine never set up (a plain `newSession()`: no graft functions, no
  * rule), so each entry point runs on its own fresh session here. */
class CallerSessionSpec extends SparkTestBase {

  private def frames(s: SparkSession): (DataFrame, DataFrame) = {
    import s.implicits._
    val c = ((1 to 8).map(i => (10L + i, Seq(1f, 0.05f * i, 0f, 0f))) ++
      (1 to 8).map(i => (100L + i, Seq(0.05f * i, 1f, 0f, 0f)))).toDF("id", "vec")
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f))).toDF("qid", "qvec")
    (c, q)
  }

  /** Runs `f` on a fresh session that has no graft function. */
  private def onFresh[T](f: (SparkSession, DataFrame, DataFrame) => T): T = {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("graft_cosine"))
    val (c, q) = frames(fresh)
    f(fresh, c, q)
  }

  test("every SimilaritySearch entry point runs on a fresh caller session") {
    assert(onFresh((s, c, q) => SimilaritySearch.topK(s, c, q, k = 3).count()) == 6)
    assert(onFresh((s, c, q) => SimilaritySearch.mmrTopK(s, c, q).count()) == 10)
    assert(onFresh((s, c, _) => SimilaritySearch.kMeansTrain(s, c, k = 2)._1.length) == 2)
    assert(onFresh((s, c, q) =>
      SimilaritySearch.ivfTopK(s, c, q, k = 3, nlist = 2, nprobe = 1).count()) == 6)
    assert(onFresh((s, c, q) => SimilaritySearch.ivfHierTopK(s, c, q, k = 3,
      coarseK = 2, fineK = 2, nprobeCoarse = 1, nprobeFine = 1).count()) > 0)
    assert(onFresh((s, c, q) =>
      SimilaritySearch.pqTopK(s, c, q, k = 3, subspaces = 2, codebookSize = 4).count()) == 6)
    assert(onFresh((s, c, q) => SimilaritySearch.rangeSearch(s, c, q, 0.99).count()) > 0)
    assert(onFresh((s, c, _) => SimilaritySearch.nearDupPairs(s, c, 0.99).count()) > 0)
    assert(onFresh((s, c, _) => SimilaritySearch.graphAnnBuild(s, c, nlist = 2, hubs = 4).n) == 16)
    // the index comes from the engine's session; only the search is fresh,
    // and its queries come through a temp view of the fresh session
    val idx = SimilaritySearch.graphAnnBuild(spark, frames(spark)._1, nlist = 2, hubs = 4)
    assert(onFresh { (s, _, q) =>
      q.createOrReplaceTempView("caller_queries")
      SimilaritySearch.graphAnnSearch(s, idx, s.table("caller_queries"), k = 3).count()
    } == 6)
  }

  test("StreamingMmrTracker runs on a fresh caller session") {
    onFresh { (s, c, q) =>
      val t = new StreamingMmrTracker(s, q.toDF("q_id", "q_emb"))
      t.update(c.toDF("vec_id", "embedding"))
      assert(t.selection().count() == 10)
    }
  }
}
