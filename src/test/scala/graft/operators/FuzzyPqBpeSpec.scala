package graft.operators

import graft.{Pin, SparkEntry, SparkTestBase}
import org.apache.spark.sql.functions._

/** Semantic + scale-posture pins for the round-6 operators: FastSS fuzzy
  * dedup (exact recall of the signature join vs brute force, no cartesian
  * in the plan), PQ code assignment (complete cover, valid codes, nearest
  * beats every other codeword), and BPE pair counts (count conservation
  * against an independent per-document formulation). */
class FuzzyPqBpeSpec extends SparkTestBase {

  test("dedup_fuzzy_names: signature join finds EXACTLY the brute-force ed<=1 pairs") {
    import spark.implicits._
    val got = SparkEntry.queries("dedup_fuzzy_names")(spark, sf)
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    // brute force over the same vocabulary (tiny at test SF — that's the
    // point: the oracle definition the signature scheme must reproduce)
    val names = graft.Tables.t(spark, sf, "part")
      .select(col("p_name")).distinct().as[String].collect()
    val brute = (for {
      a <- names; b <- names
      if a < b && levenshteinDist(a, b) <= 1
    } yield (a, b)).toSet
    assert(got == brute, s"signature-join pairs != brute force: " +
      s"missing=${brute -- got} extra=${got -- brute}")
    assert(got.nonEmpty, "test data should contain at least one ed<=1 pair")
  }

  test("dedup_fuzzy_names: plan is an equi-join on the signature, no cartesian") {
    val p = Pin.query(SparkEntry.queries("dedup_fuzzy_names")(spark, sf)
      .queryExecution.executedPlan.toString)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"fuzzy dedup must not fall back to all-pairs:\n$p")
  }

  test("emb_pq_assign: one code per (vector, subspace); chosen codeword is nearest") {
    import spark.implicits._
    val out = SparkEntry.queries("emb_pq_assign")(spark, sf).cache()
    val n = graft.Tables.t(spark, sf, "embeddings").count()
    assert(out.count() == n * 4, "exactly 4 subspace codes per vector")
    assert(out.groupBy("vec_id", "subspace").count().filter(col("count") =!= 1).isEmpty,
      "codes must be unique per (vector, subspace)")
    assert(out.filter(col("code") < 0 || col("code") > 7).isEmpty,
      "codes must reference the 8-entry codebook")
    // nearest-ness: recompute distances for a sample vector against ALL
    // codewords and check the argmin matches the assigned code
    val emb = graft.Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().toMap
    val codebook = (0L to 7L).map(c => c -> emb(c)).toMap
    val sample = out.filter(col("vec_id") % 97 === 0)
      .select("vec_id", "subspace", "code").as[(Long, Int, Long)].collect()
    assert(sample.nonEmpty)
    sample.foreach { case (v, s, code) =>
      def d(c: Long): Double = {
        val (x, y) = (emb(v), codebook(c))
        val raw = (s * 16 until s * 16 + 16)
          .map(i => (x(i).toDouble - y(i).toDouble) * (x(i).toDouble - y(i).toDouble)).sum
        math.floor(raw * 1e6 + 0.5) / 1e6
      }
      val best = (0L to 7L).minBy(c => (d(c), c))
      assert(best == code, s"vec $v subspace $s: assigned $code but nearest is $best")
    }
    out.unpersist()
  }

  test("ann_pq_topk: 5 ranked neighbors per query; ADC distance equals the sum of code-table lookups") {
    import spark.implicits._
    val out = SparkEntry.queries("ann_pq_topk")(spark, sf)
      .select("q_id", "rank", "vec_id", "adc_micros")
      .as[(Long, Int, Long, Long)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L))
    byQ.values.foreach { rows =>
      assert(rows.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4, 5))
      val ordered = rows.sortBy(_._2).map(_._4)
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b },
        "ADC distance must be non-decreasing in rank")
      assert(rows.forall(r => r._3 != r._1), "a query is not its own neighbor")
    }
    // ADC distance recomputed on the driver from codes + lookup table
    val emb = graft.Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().toMap
    val cb = (0L to 7L).map(c => c -> emb(c)).toMap
    def dMicros(x: Seq[Float], y: Seq[Float], s: Int): Long = {
      val raw = (s * 16 until s * 16 + 16)
        .map(i => (x(i).toDouble - y(i).toDouble) * (x(i).toDouble - y(i).toDouble)).sum
      math.floor(raw * 1e6 + 0.5).toLong
    }
    def codeOf(v: Long, s: Int): Long =
      (0L to 7L).minBy(c => (dMicros(emb(v), cb(c), s), c))
    out.take(8).foreach { case (q, _, v, adc) =>
      val expect = (0 until 4).map(s => dMicros(emb(q), cb(codeOf(v, s)), s)).sum
      assert(expect == adc, s"q=$q v=$v: engine=$adc local=$expect")
    }
  }

  test("text_bpe_pairs: global counts equal the sum of per-document pair counts") {
    import spark.implicits._
    val out = SparkEntry.queries("text_bpe_pairs")(spark, sf)
      .as[(String, Long)].collect()
    assert(out.length == 20 && out.map(_._2).toSeq == out.map(_._2).sortBy(-_).toSeq,
      "top-20, sorted by count desc")
    // independent recomputation on the driver at test SF
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("text")).as[String].collect()
    val counts = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    docs.foreach(_.split(" ").filter(_.length >= 2).foreach { w =>
      (0 until w.length - 1).foreach(i => counts(w.substring(i, i + 2)) += 1)
    })
    out.foreach { case (pair, cnt) =>
      assert(counts(pair) == cnt, s"pair '$pair': engine=$cnt local=${counts(pair)}")
    }
  }

  /** Plain Levenshtein for the brute-force cross-check. */
  private def levenshteinDist(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }
}
