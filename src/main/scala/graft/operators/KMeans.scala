package graft.operators

import graft.Pin
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Full distributed Lloyd training loop — the composition of the oracled
  * single steps `emb_kmeans_assign` (broadcast centroids, packed-long
  * argmax) and `emb_kmeans_update` (k x dim partial sums): iterate
  * assign/update until centroid movement falls below `tol` or `maxIters`.
  *
  * Spherical k-means on cosine: centroids are member means; cosine is
  * scale-invariant, so the un-normalized mean assigns identically to the
  * normalized one and the summed best-cosine objective is non-decreasing
  * per iteration (pinned by KMeansTrainSpec).
  *
  * Scale shape per iteration: centroids (k x 64 doubles) broadcast as a
  * tiny DataFrame; assignment is one map-side cross-score + packed-long
  * argmax (HashAggregate, map-side partials); the update shuffles ONLY
  * k x 64 partial sums; the driver sees k x 64 doubles per tick — never
  * rows. Same driver-side convergence-scalar pattern as
  * [[PageRank.runUntilConverged]].
  */
object KMeans {
  private val DefaultDim = 64 // the fixture's width; train() infers per corpus

  /** 1-partition model frame: long id columns + a FLOAT32 copy of each
    * centroid — the broadcast side of every assignment join. One builder
    * for both quantizer levels so the float32-downcast discipline
    * (graft_cosine is float32-typed like the corpus; doubles stay
    * driver-side for the movement check) lives in exactly one place. */
  private def modelFrame(s: SparkSession, idCols: Seq[String],
      embCol: String, rows: Seq[(Seq[Long], Array[Double])]): DataFrame = {
    import org.apache.spark.sql.types._
    s.createDataFrame(
      s.sparkContext.parallelize(rows.map { case (ids, emb) =>
        Row.fromSeq(ids :+ emb.map(_.toFloat).toSeq) }, 1),
      StructType(idCols.map(StructField(_, LongType)) :+
        StructField(embCol, ArrayType(FloatType))))
  }

  /** Driver-side centroid set → broadcast-small (c_id, c_emb) frame. */
  private[graft] def centroidFrame(s: SparkSession,
      centroids: Array[Array[Double]]): DataFrame =
    modelFrame(s, Seq("c_id"), "c_emb",
      centroids.zipWithIndex.toSeq.map { case (c, i) => (Seq(i.toLong), c) })

  /** Nearest-centroid assignment of a (vec_id, embedding) corpus against a
    * driver-side centroid set — the packed-long argmax shared by the
    * training loop and the IVF serving facade. 100 TB shape: centroids
    * broadcast, scoring map-side, argmax is a partial-agg groupBy (one
    * narrow row per vector through the exchange, never k).
    * @return (vec_id, embedding, cluster, cos_sim) */
  private[graft] def assignToCentroids(s: SparkSession, corpus: DataFrame,
      centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.length <= 256,
      s"k must be <= 256 (packed argmax radix), got ${centroids.length}")
    corpus.crossJoin(broadcast(centroidFrame(s, centroids)))
      .select(col("vec_id"), col("embedding"), col("c_id"),
        floor(expr("graft_cosine(embedding, c_emb)") * lit(1e6) + lit(0.5))
          .as("cs_scaled"))
      .withColumn("packed",
        (col("cs_scaled") + 1000000L) * 256L + (lit(255L) - col("c_id")))
      .groupBy(col("vec_id"))
      .agg(max(col("packed")).as("best"), first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"),
        (lit(255L) - (col("best") % 256)).as("cluster"),
        expr("((best div 256) - 1000000) / 1e6").as("cos_sim"))
  }

  /** @return (centroids after training, iterations run, objective history —
    *         summed best cosine per iteration). */
  def train(s: SparkSession, e: DataFrame, k: Int,
      maxIters: Int = 10, tol: Double = 1e-4): (Array[Array[Double]], Int, Seq[Double]) = Pin.scope {
    // the packed-long argmax below reserves 8 bits for the centroid id
    // (radix 256); a larger k would make (255 - c_id) negative and bleed
    // into the score field, silently corrupting assignments
    require(k >= 1 && k <= 256, s"k must be in [1, 256] (packed argmax radix), got $k")
    // re-read every iteration; the scope drops it when training returns
    val corpus = Pin.reuse(e.select(col("vec_id"), col("embedding")))
    // deterministic seeds: the first k vectors by vec_id
    var centroids: Array[Array[Double]] = corpus.orderBy(col("vec_id")).limit(k)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    // named contract error, not an `empty.max` crash deep in the loop:
    // an empty corpus has no seeds to train from
    require(centroids.nonEmpty, "k-means training needs a non-empty corpus")
    // dimension inferred from the data, not assumed: the public facade
    // (api.SimilaritySearch) trains on arbitrary-width embeddings
    val Dim = centroids.headOption.map(_.length).getOrElse(DefaultDim)
    var it = 0
    var moved = Double.MaxValue
    val objective = Seq.newBuilder[Double]
    while (it < maxIters && moved > tol) {
      val assigned = assignToCentroids(s, corpus, centroids)
      val aggs = Seq(count(lit(1)).as("n"), sum(col("cos_sim")).as("obj")) ++
        (0 until Dim).map(i =>
          sum(col("embedding").getItem(i).cast("double")).as(s"s$i"))
      val stats = assigned.groupBy(col("cluster"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      objective += stats.map(_.getDouble(2)).sum
      val next = centroids.clone()
      stats.foreach { r =>
        val c = r.getLong(0).toInt
        val n = r.getLong(1).toDouble
        next(c) = (0 until Dim).map(i => r.getDouble(3 + i) / n).toArray
      }
      moved = centroids.zip(next).map { case (a, b) =>
        math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
      }.max
      centroids = next
      it += 1
    }
    (centroids, it, objective.result())
  }

  /** A trained two-level centroid set: `fine((c, f))` is fine centroid f
    * inside coarse cell c. Effective cell count = `fine.size` — up to
    * coarseK x fineK = 256 x 256 = 65,536, the route past [[train]]'s
    * packed-argmax radix cap (k <= 256). The whole model is
    * cells x dim doubles (<= 33 MB at the 65,536 x 64 maximum) — always
    * driver- and broadcast-sized, never corpus-sized. */
  final case class HierCentroids(coarse: Array[Array[Double]],
      fine: Map[(Int, Int), Array[Double]]) {
    def cells: Int = fine.size
  }

  /** Model-sized (cluster, f_id, f_emb) frame from a fine-centroid map —
    * the broadcast side of every hierarchical assignment join. */
  private[graft] def fineFrame(s: SparkSession,
      fine: Map[(Int, Int), Array[Double]]): DataFrame =
    modelFrame(s, Seq("cluster", "f_id"), "f_emb",
      fine.toSeq.sortBy(_._1).map {
        case ((c, f), emb) => (Seq(c.toLong, f.toLong), emb) })

  /** Fine-level nearest-centroid assignment of a coarse-assigned corpus
    * (`assigned` carries vec_id, embedding, cluster): each vector scores
    * ONLY its own coarse cell's fine centroids — the join key is the
    * coarse cell, the fine table is broadcast (model-sized), and the
    * argmax is the same packed-long partial aggregate as
    * [[assignToCentroids]] (radix 256 over f_id), so one narrow row per
    * vector crosses the exchange regardless of fineK.
    * @return (vec_id, embedding, cluster, f_id, cos_sim) */
  private[graft] def assignToHier(s: SparkSession, assigned: DataFrame,
      fine: Map[(Int, Int), Array[Double]]): DataFrame = {
    require(fine.keys.forall(_._2 < 256), "fine ids must fit radix 256")
    assigned.join(broadcast(fineFrame(s, fine)), Seq("cluster"))
      .select(col("vec_id"), col("embedding"), col("cluster"), col("f_id"),
        floor(expr("graft_cosine(embedding, f_emb)") * lit(1e6) + lit(0.5))
          .as("cs_scaled"))
      .withColumn("packed",
        (col("cs_scaled") + 1000000L) * 256L + (lit(255L) - col("f_id")))
      .groupBy(col("vec_id"), col("cluster"))
      .agg(max(col("packed")).as("best"), first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"), col("cluster"),
        (lit(255L) - (col("best") % 256)).as("f_id"),
        expr("((best div 256) - 1000000) / 1e6").as("cos_sim"))
  }

  /** Two-level coarse x fine Lloyd training — the production IVF route
    * past [[train]]'s k <= 256 radix cap: effective k = coarseK x fineK
    * (<= 65,536 cells). Coarse runs [[train]] unchanged; then Lloyd's
    * iterates over ALL coarse cells' fine centroids SIMULTANEOUSLY — one
    * assignment (cell-key join against the broadcast fine table + packed
    * argmax) and one update (groupBy (cluster, f_id) of dim partial sums)
    * per tick, so the per-iteration cost model is exactly [[train]]'s:
    * the corpus shuffles one narrow row per vector, the driver sees only
    * the model (cells x dim doubles). Fine seeds are deterministic — the
    * fineK lowest vec_ids of each coarse cell (one narrow window shuffle,
    * model-sized output). Cells left empty in an iteration keep their
    * previous centroid (standard Lloyd practice).
    * @return (model, fine iterations run, fine objective history) */
  def trainHierarchical(s: SparkSession, e: DataFrame, coarseK: Int,
      fineK: Int, maxIters: Int = 10,
      tol: Double = 1e-4): (HierCentroids, Int, Seq[Double]) = Pin.scope {
    require(fineK >= 1 && fineK <= 256,
      s"fineK must be in [1, 256] (packed argmax radix), got $fineK")
    val (coarse, _, _) = train(s, e, coarseK, maxIters, tol)
    val assigned = assignToCentroids(s,
        e.select(col("vec_id"), col("embedding")), coarse)
      .select(col("vec_id"), col("embedding"), col("cluster"))
      .transform(Pin.reuse) // coarse cells are fixed across fine ticks
    val sw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("vec_id"))
    var fine: Map[(Int, Int), Array[Double]] = assigned
      .withColumn("rn", row_number().over(sw)).filter(col("rn") <= fineK)
      .select(col("cluster"), (col("rn") - 1).cast("long").as("f_id"),
        col("embedding"))
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) ->
        r.getSeq[Float](2).map(_.toDouble).toArray).toMap
    require(fine.nonEmpty, "hierarchical training needs a non-empty corpus")
    val Dim = fine.head._2.length
    var it = 0
    var moved = Double.MaxValue
    val objective = Seq.newBuilder[Double]
    while (it < maxIters && moved > tol) {
      val af = assignToHier(s, assigned, fine)
      val aggs = Seq(count(lit(1)).as("n"), sum(col("cos_sim")).as("obj")) ++
        (0 until Dim).map(i =>
          sum(col("embedding").getItem(i).cast("double")).as(s"s$i"))
      val stats = af.groupBy(col("cluster"), col("f_id"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      objective += stats.map(_.getDouble(3)).sum
      val next = fine ++ stats.map { r =>
        val key = (r.getLong(0).toInt, r.getLong(1).toInt)
        val n = r.getLong(2).toDouble
        key -> (0 until Dim).map(i => r.getDouble(4 + i) / n).toArray
      }
      moved = fine.map { case (key, a) =>
        val b = next(key)
        math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
      }.max
      fine = next
      it += 1
    }
    (HierCentroids(coarse, fine), it, objective.result())
  }
}
