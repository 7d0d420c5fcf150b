package graft.operators

import graft.{GraftQuery, Pin, Tables}
import graft.functions.md5Prefix
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** Similarity search over the `embeddings` table (ArrayType(FloatType), 64-d).
  *
  * North-star LLM-pipeline operator (SURVEY §7.2-8): brute-force cosine
  * top-k as the correctness baseline, an IVF-style partitioned variant as
  * the scale path, and a random-hyperplane LSH bucketing demo.
  *
  * All arithmetic is element-wise float->double followed by an ordered
  * sequential fold, so Spark's `aggregate(...)` and DuckDB's
  * `list_sum(list_transform(...))` produce bit-identical sums; outputs are
  * rounded to 4 dp and tie-broken by vec_id so ranking is deterministic
  * across engines.
  *
  * Scale notes (100 TB): the query set is broadcast; similarity is computed
  * map-side against each data partition (no shuffle of the corpus); only
  * (n_queries x k) candidate rows move. For a billion-vector corpus the IVF
  * variant prunes to matching cells before scoring — the standard
  * ANN recall/cost trade.
  */
object Similarity {
  private def t(s: SparkSession, dir: String, n: String) = Tables.t(s, dir, n)

  private val Dim = 64

  /** dot(a, b) as an ordered double fold — the pure-built-in formulation;
    * kept as the reference semantics the native expression must match. */
  private[graft] def dotFold(a: String, b: String): Column = expr(
    s"""aggregate(transform(sequence(0, ${Dim - 1}),
        i -> cast($a[i] as double) * cast($b[i] as double)),
        cast(0.0 as double), (acc, v) -> acc + v)""")

  private[graft] def cosineFold(a: String, b: String): Column =
    dotFold(a, b) / (sqrt(dotFold(a, a)) * sqrt(dotFold(b, b)))

  /** Production path: the codegen'd native CosineSimilarity expression —
    * bit-identical to cosineFold (same accumulation order), ~3x fewer
    * expression-tree nodes in the hot loop. */
  private def cosine(a: String, b: String): Column = expr(s"graft_cosine($a, $b)")

  private val sqlDot =
    (a: String, b: String) => s"""list_sum(list_transform(generate_series(1, 64),
      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"""
  private def sqlCos(a: String, b: String) =
    s"(${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"

  /** Brute-force cosine top-k: broadcast 8 query vectors against the corpus,
    * rank per query. */
  val annBruteTopK = GraftQuery(
    "ann_cosine_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val scored = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(cosine("embedding", "q_emb"), 4).as("cos_sim"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
             scored AS (SELECT q.q_id, e.vec_id,
                          round(${sqlCos("e.embedding", "q.q_emb")}, 4) AS cos_sim
                        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
             ranked AS (SELECT q_id, vec_id, cos_sim,
                          row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
                        FROM scored)
             SELECT q_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank
             FROM ranked WHERE rank <= 10 ORDER BY q_id, rank"""),
    headline = true)

  /** IVF-style ANN: the `label` column acts as the coarse-quantizer cell
    * assignment; probing only the query's own cell scores ~1/10th of the
    * corpus (the recall/cost trade that makes billion-vector ANN feasible). */
  val annIvf = GraftQuery(
    "ann_ivf_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("label"))
      val scored = e.join(broadcast(q), Seq("label"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(cosine("embedding", "q_emb"), 4).as("cos_sim"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label FROM embeddings WHERE vec_id < 8),
             scored AS (SELECT q.q_id, e.vec_id,
                          round(${sqlCos("e.embedding", "q.q_emb")}, 4) AS cos_sim
                        FROM embeddings e JOIN q ON e.label = q.label WHERE e.vec_id <> q.q_id),
             ranked AS (SELECT q_id, vec_id, cos_sim,
                          row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
                        FROM scored)
             SELECT q_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank
             FROM ranked WHERE rank <= 10 ORDER BY q_id, rank"""))

  /** Embedding near-duplicate pairs (cosine >= 0.35 on this corpus) by
    * brute force — the correctness baseline the bucketed [[embNearDupLsh]]
    * is measured against. All-pairs by construction; at scale use the LSH
    * variant. */
  val embNearDup = GraftQuery(
    "dedup_embedding",
    (s, dir) => {
      val a = t(s, dir, "embeddings").select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val b = t(s, dir, "embeddings").select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"), round(cosine("ea", "eb"), 4).as("cos_sim"))
        .filter(col("cos_sim") >= 0.35)
        .orderBy(col("vec_a"), col("vec_b"))
    },
    Some(s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(${sqlCos("a.embedding", "b.embedding")}, 4) AS cos_sim
             FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             WHERE round(${sqlCos("a.embedding", "b.embedding")}, 4) >= 0.35
             ORDER BY vec_a, vec_b"""))

  /** Random-hyperplane sign bit p over the `embedding` column: hyperplane
    * h(p)[i] in {-1,+1} from bit i of md5("hp:<p>:<i>") — no RNG,
    * reproducible across runs and engines. Shared with the spec that
    * validates bucket quality so test and production can't drift. */
  private[graft] def lshSigBit(p: Int): Column = expr(
    s"""cast(aggregate(transform(sequence(0, ${Dim - 1}),
        i -> cast(embedding[i] as double) *
             (cast(floor((instr('0123456789abcdef',
                substr(md5(concat('hp:$p:', cast(i as string))), 1, 1)) - 1) / 8) as int) * 2 - 1)),
        cast(0.0 as double), (acc, v) -> acc + v) >= 0 as int)""")

  /** 16-bit bucket string per vector (vec_id, embedding retained). */
  private[graft] def lshBucketed(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      concat((0 until 16).map(p => lshSigBit(p).cast("string")): _*).as("bucket"))

  /** Multi-band LSH signatures: one row per (vector, band), band key = the
    * concatenated sign bits of `rowsPerBand` hyperplanes. The banding is the
    * standard OR-of-ANDs recall amplifier: a pair is a candidate iff it
    * agrees on EVERY bit of SOME band. */
  private[graft] def lshBandedSig(e: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      concat((0 until rowsPerBand).map(r =>
        lshSigBit(b * rowsPerBand + r).cast("string")): _*)
    }
    e.select(col("vec_id"), col("embedding"),
      posexplode(array(bandCols: _*)).as(Seq("b", "bh")))
  }

  /** LSH-BUCKETED embedding near-dup — the structural scale path for
    * [[embNearDup]]: candidates come from a 16-band x 2-bit random-hyperplane
    * band equi-join (never a cartesian product), then exact `graft_cosine`
    * verification; multi-band duplicates collapse in the final groupBy. Cost
    * is O(sum of band-bucket sizes squared), data-dependent, vs the
    * brute-force O(n^2) — at 1B vectors the cartesian is 10^18 pairs while
    * bucketed candidates track the actual near-dup density.
    *
    * Banding is MEASURED, not guessed (driver corpus, all three SFs): this
    * corpus's qualifying pairs sit at cosine 0.35-0.60 (median 0.37, i.e.
    * hyperplane-bit agreement only ~0.62), and 16x2 banding over 32
    * deterministic hyperplanes recalls 258/258, 272/272 and 4143/4143 of
    * them — 100%, pinned by SimilaritySpec and by the brute-force oracle
    * below (identical output). At such a low threshold the bands are
    * recall-complete but prune gently; corpora deduped at production
    * thresholds (cosine >= 0.8, bit agreement >= 0.9) shift the same
    * machinery toward fewer/wider bands for hard pruning — bands and
    * rowsPerBand are [[lshBandedSig]] parameters precisely so the trade is
    * per-corpus calibration, not a code change. */
  val embNearDupLsh = GraftQuery(
    "dedup_embedding_lsh",
    (s, dir) => {
      val banded = Pin.reuse(lshBandedSig(t(s, dir, "embeddings"), bands = 16, rowsPerBand = 2))
      banded.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("b"), col("bh"))
        .join(banded.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("b"), col("bh")),
          Seq("b", "bh"))
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          round(cosine("ea", "eb"), 4).as("cos_sim"))
        .groupBy(col("vec_a"), col("vec_b")).agg(min(col("cos_sim")).as("cos_sim"))
        .filter(col("cos_sim") >= 0.35)
        .orderBy(col("vec_a"), col("vec_b"))
    },
    Some(s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(${sqlCos("a.embedding", "b.embedding")}, 4) AS cos_sim
             FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             WHERE round(${sqlCos("a.embedding", "b.embedding")}, 4) >= 0.35
             ORDER BY vec_a, vec_b"""))

  /** DuckDB spelling of [[lshSigBit]] — same md5-derived ±1 hyperplane
    * components, same 0-based hash inputs, 1-based list indexing. The >= 0
    * sign test is on an O(1)-magnitude 64-term double sum, so the ~1e-15
    * accumulation-order difference between engines cannot flip it (weaker
    * knife-edge than the round(cos, 4) boundaries the other oracles already
    * carry). */
  private def sqlLshBit(p: Int): String =
    s"""CAST(CASE WHEN list_sum(list_transform(generate_series(0, ${Dim - 1}),
        i -> CAST(embedding[i + 1] AS DOUBLE) *
             (CAST(floor((instr('0123456789abcdef',
                substr(md5('hp:$p:' || CAST(i AS VARCHAR)), 1, 1)) - 1) / 8) AS INTEGER) * 2 - 1)))
        >= 0 THEN 1 ELSE 0 END AS VARCHAR)"""

  /** Random-hyperplane LSH bucketing (scale path for near-dup at 1B+ rows):
    * 16-bit signature from deterministic md5-derived hyperplanes; bucket
    * sizes are the output, oracled bit-for-bit against the same hyperplanes
    * evaluated in DuckDB. */
  val lshBuckets = GraftQuery(
    "ann_lsh_buckets",
    (s, dir) =>
      lshBucketed(t(s, dir, "embeddings"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("bucket")),
    Some(s"""SELECT bucket, count(*) AS n_vecs
             FROM (SELECT ${(0 until 16).map(sqlLshBit).mkString(" || ")} AS bucket
                   FROM embeddings)
             GROUP BY bucket ORDER BY bucket"""))

  /** Radius (range) similarity search: every corpus vector within a cosine
    * threshold of each query — retrieval's "give me all candidates above
    * the bar" complement to top-k. Same 100 TB plan as the top-k: queries
    * broadcast, corpus scored and filtered map-side, zero corpus shuffle;
    * only qualifying rows leave the scan. */
  val annRangeSearch = GraftQuery(
    "ann_range_search",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(cosine("embedding", "q_emb"), 4).as("cos_sim"))
        .filter(col("cos_sim") >= 0.30)
        .orderBy(col("q_id"), col("vec_id"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 4)
             SELECT q.q_id, e.vec_id,
               round(${sqlCos("e.embedding", "q.q_emb")}, 4) AS cos_sim
             FROM embeddings e CROSS JOIN q
             WHERE e.vec_id <> q.q_id
               AND round(${sqlCos("e.embedding", "q.q_emb")}, 4) >= 0.30
             ORDER BY q_id, vec_id"""))

  /** Per-vector int8 quantization — the storage/bandwidth workhorse of
    * billion-vector ANN (4x smaller than float32, dot products stay in
    * SIMD-friendly integers). Affine per-vector scheme: q_i =
    * floor((x_i - min) / scale + 0.5) with scale = (max - min)/255; outputs
    * summarize the codes and the reconstruction error so correctness is
    * hash-checkable. floor(+0.5) rather than round: Spark and DuckDB agree
    * bit-for-bit on floor for the same IEEE double, but not on round's tie
    * behavior. */
  val quantizeInt8 = GraftQuery(
    "emb_quantize_int8",
    (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          expr("cast(array_min(embedding) as double)").as("lo"),
          expr("cast(array_max(embedding) as double)").as("hi"))
        // greatest(., tiny) guards constant vectors: hi==lo would give
        // scale 0 and 0/0=NaN codes (null in Spark, a cast error in DuckDB)
        .withColumn("scale", greatest((col("hi") - col("lo")) / 255.0, lit(1e-30)))
        .select(col("vec_id"),
          round(col("lo"), 6).as("lo_r"), round(col("scale"), 8).as("scale_r"),
          expr("""aggregate(transform(sequence(0, 63),
                    i -> cast(floor((cast(embedding[i] as double) - lo) / scale + 0.5) as bigint)),
                  cast(0 as bigint), (acc, v) -> acc + v)""").as("code_sum"),
          expr("""cast(array_max(transform(sequence(0, 63),
                    i -> abs(cast(embedding[i] as double) -
                         (lo + floor((cast(embedding[i] as double) - lo) / scale + 0.5) * scale))))
                  <= scale * 0.5 + 1e-12 as boolean)""").as("err_bounded"))
        .orderBy(col("vec_id")),
    Some("""SELECT vec_id, round(lo, 6) AS lo_r, round(scale, 8) AS scale_r,
              CAST(list_sum(list_transform(generate_series(1, 64),
                i -> CAST(floor((CAST(embedding[i] AS DOUBLE) - lo) / scale + 0.5) AS BIGINT)))
                AS BIGINT) AS code_sum,
              list_max(list_transform(generate_series(1, 64),
                i -> abs(CAST(embedding[i] AS DOUBLE) -
                     (lo + floor((CAST(embedding[i] AS DOUBLE) - lo) / scale + 0.5) * scale))))
                <= scale * 0.5 + 1e-12 AS err_bounded
            FROM (SELECT vec_id, embedding,
                    CAST(list_min(embedding) AS DOUBLE) AS lo,
                    greatest((CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0, 1e-30) AS scale
                  FROM embeddings)
            ORDER BY vec_id"""))

  /** Nearest-seed cluster assignment shared by the k-means family: seeds are
    * the embeddings of vec_id 0..7 (deterministic, no RNG), every vector is
    * scored against the broadcast seed set map-side, and the argmax is a
    * groupBy max(struct) — partial-aggregated, so the shuffle carries ONE
    * row per vector, not k. Ties on the 4-dp cosine break toward the lowest
    * centroid id (the negated id inside the struct), matching the oracle's
    * ORDER BY cs DESC, c_id. */
  private def kmeansAssign(s: SparkSession, e: DataFrame): DataFrame = {
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    // (cos_sim, c_id) packed into ONE long so the argmax is a primitive
    // `max` (same trick as emb_pq_assign / dedup_priority_keep): the 4-dp
    // score becomes a non-negative integer (cs in [-1,1] -> +1e4 offset,
    // so 0..2e4), shifted past the 3-bit centroid id; `7 - c_id` makes the
    // LOWEST id win score ties under max. Keeps the aggregate out of
    // SortAggregate; first(embedding) rides along (ObjectHashAggregate,
    // still hash-based, no per-partition sorts).
    e.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("embedding"), col("c_id"),
        floor(cosine("embedding", "c_emb") * lit(1e4) + lit(0.5)).as("cs_scaled"))
      .withColumn("packed", (col("cs_scaled") + 10000L) * 8L + (lit(7L) - col("c_id")))
      .groupBy(col("vec_id"))
      .agg(max(col("packed")).as("best"), first(col("embedding")).as("embedding"))
      .select(col("vec_id"),
        (lit(7L) - (col("best") % 8)).as("cluster"),
        expr("((best div 8) - 10000) / 1e4").as("cos_sim"),
        col("embedding"))
  }

  private val sqlAssign =
    s"""seeds AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
       kscored AS (SELECT e.vec_id, s.c_id,
                     floor(${sqlCos("e.embedding", "s.c_emb")} * 1e4 + 0.5) / 1e4 AS cs
                   FROM embeddings e CROSS JOIN seeds s),
       assign AS (SELECT vec_id, c_id AS cluster, cs AS cos_sim
                  FROM (SELECT vec_id, c_id, cs,
                          row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c_id) AS rn
                        FROM kscored) WHERE rn = 1)"""

  /** K-MEANS ASSIGNMENT step over the embedding corpus: nearest of 8
    * deterministic seed centroids by cosine. 100 TB shape: centroids are
    * always broadcast-small (k rows), scoring is map-side, and the argmax
    * is a partial-agg groupBy — the corpus shuffles once, narrow rows, no
    * window over k-times-inflated scores. This is the per-iteration cost
    * model of distributed Lloyd's; [[kmeansUpdate]] is the other half. */
  val kmeansAssignQ = GraftQuery(
    "emb_kmeans_assign",
    (s, dir) =>
      kmeansAssign(s, t(s, dir, "embeddings"))
        .select(col("vec_id"), col("cluster"), col("cos_sim"))
        .orderBy(col("vec_id")),
    Some(s"""WITH $sqlAssign
             SELECT vec_id, cluster, cos_sim FROM assign ORDER BY vec_id"""))

  /** K-MEANS UPDATE step (one Lloyd iteration): element-wise mean of member
    * vectors per cluster. The mean is 64 independent `sum` aggregates
    * generated over `embedding[i]` — fully codegen'd, map-side partial
    * aggregation, ONE shuffle whose payload is k x 64 partial sums, never
    * the vectors. (The alternative — posexplode to (vector, dim) rows —
    * inflates the corpus 64x through the exchange; this shape moves only
    * aggregates.) Output is long-format (cluster, dim, mean) for the
    * oracle; means are rounded to 6 dp, far above the ~1e-15 accumulation-
    * order noise of double sums. */
  val kmeansUpdate = GraftQuery(
    "emb_kmeans_update",
    (s, dir) => {
      val sums: Seq[Column] = (0 until Dim).map(i =>
        sum(col("embedding").getItem(i).cast("double")).as(s"s$i"))
      val agg = kmeansAssign(s, t(s, dir, "embeddings"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"), sums: _*)
      agg.select(col("cluster"), col("n_members"),
        posexplode(array((0 until Dim).map(i =>
          round(col(s"s$i") / col("n_members"), 6)): _*)).as(Seq("d", "mean")))
        .select(col("cluster"), (col("d") + 1).as("dim"), col("n_members"), col("mean"))
        .orderBy(col("cluster"), col("dim"))
    },
    Some(s"""WITH $sqlAssign,
             m AS (SELECT a.vec_id, a.cluster, e.embedding
                   FROM assign a JOIN embeddings e USING (vec_id)),
             d AS (SELECT cluster, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
                   FROM m CROSS JOIN LATERAL
                     (SELECT unnest(generate_series(1, 64)) AS i) g)
             SELECT cluster, CAST(dim AS INTEGER) AS dim,
               count(*) AS n_members, round(sum(v) / count(*), 6) AS mean
             FROM d GROUP BY cluster, dim ORDER BY cluster, dim"""))

  /** SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023 shape): cluster the corpus
    * (nearest-seed assignment), then search for near-duplicates ONLY within
    * a cluster — pairwise cosine >= 0.35 flags the higher-id member, keep
    * the lowest id. The cluster equi-join bounds the pair count at
    * O(sum of cluster sizes squared) instead of O(n^2); in production k is
    * calibrated to the corpus (~sqrt(n) clusters keeps per-cluster
    * all-pairs tractable at billions of vectors) — k=8 here only because
    * the oracle re-derives the same clustering. */
  val semanticDedup = GraftQuery(
    "dedup_semantic",
    (s, dir) => {
      // cached: the assignment feeds both sides of the within-cluster
      // self-join AND the final keep/drop join — without the cache the
      // corpus is scored against the seeds three times (three scans +
      // three argmax shuffles; confirmed in the formatted plan).
      val m = Pin.reuse(kmeansAssign(s, t(s, dir, "embeddings")))
      val a = m.select(col("cluster"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val b = m.select(col("cluster"), col("vec_id").as("vec_b"), col("embedding").as("eb"))
      val dups = a.join(b, "cluster").filter(col("vec_a") < col("vec_b"))
        .filter(round(cosine("ea", "eb"), 4) >= 0.35)
        .select(col("vec_b").as("vec_id")).distinct()
      m.select(col("vec_id"), col("cluster"))
        .join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"),
          coalesce(!col("dup"), lit(true)).as("keep"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH $sqlAssign,
             m AS (SELECT a.vec_id, a.cluster, e.embedding
                   FROM assign a JOIN embeddings e USING (vec_id)),
             dup AS (SELECT DISTINCT b.vec_id
                     FROM m a JOIN m b
                       ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                     WHERE round(${sqlCos("a.embedding", "b.embedding")}, 4) >= 0.35)
             SELECT m.vec_id, m.cluster, (dup.vec_id IS NULL) AS keep
             FROM m LEFT JOIN dup ON m.vec_id = dup.vec_id
             ORDER BY m.vec_id"""))

  /** PRODUCT QUANTIZATION code assignment (Jégou et al. 2011 shape): split
    * each 64-d vector into 4 subspaces of 16 dims and, per subspace, assign
    * the id of the nearest codeword by squared L2. The codebook is the
    * embeddings of vec_id 0..7 (deterministic, like the k-means seeds) —
    * in production it comes out of [[kmeansUpdate]] run per subspace. PQ is
    * how a billion-vector index stores vectors in m bytes instead of 4*dim:
    * here m=4 codes replace 256 bytes of float32.
    *
    * 100 TB shape: the codebook is always broadcast-small (k*m entries);
    * distances are computed map-side against each corpus partition; the
    * per-(vector, subspace) argmin is a partial-aggregated groupBy, so the
    * k candidate rows collapse map-side and the exchange carries one row
    * per (vector, subspace) — never the vectors, never k-inflated rows.
    * Distances are rounded half-up at 6 dp (floor(x*1e6+0.5), the
    * engine-agnostic spelling) and tie-broken by code id so both engines
    * pick the same codeword. */
  /** PQ codebook: the embeddings of vec_id 0..7 (deterministic, like the
    * k-means seeds) — in production it comes out of [[kmeansUpdate]] run
    * per subspace. */
  private def pqCodebook(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("code"), col("embedding").as("cvec"))

  /** Squared L2 between `a` and `b` restricted to subspace `sub`, via the
    * native graft_l2sq expression (codegen'd tight loop, bit-identical to
    * the declarative aggregate(transform(...)) fold — pinned by
    * VectorFunctionsSpec), half-up-rounded into integer micro-units so
    * argmins can be packed and sums are exact. */
  private def l2Micros(a: String, b: String, sub: Int): Column =
    expr(s"cast(floor(graft_l2sq($a, $b, ${sub * 16}, 16) * 1e6 + 0.5) as bigint)")

  /** Per-(vector, subspace) nearest-codeword assignment shared by
    * [[pqAssign]] and [[annPqTopK]]: (dist_micros, code) packed into ONE
    * long so the argmin is a primitive `min` — HashAggregate with map-side
    * partials, not the SortAggregate that min(struct(...)) falls back to
    * (per-partition sorts on both sides of the exchange; seen in the
    * formatted plan). Bound: dist < 2^43 micro-units (embeddings are
    * unit-scale; a 16-dim squared L2 is < 8.8e12 micros), code < 16. */
  private def pqCodes(e: DataFrame): DataFrame = {
    e.crossJoin(broadcast(pqCodebook(e)))
      .select(col("vec_id"), col("code"),
        posexplode(array(
          l2Micros("embedding", "cvec", 0), l2Micros("embedding", "cvec", 1),
          l2Micros("embedding", "cvec", 2), l2Micros("embedding", "cvec", 3)))
          .as(Seq("subspace", "dm")))
      .withColumn("packed", col("dm") * 16L + col("code"))
      .groupBy(col("vec_id"), col("subspace"))
      .agg(min(col("packed")).as("best"))
      .select(col("vec_id"), col("subspace"),
        (col("best") % 16).as("code"),
        (expr("best div 16")).as("dm"))
  }

  val pqAssign = GraftQuery(
    "emb_pq_assign",
    (s, dir) =>
      pqCodes(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("subspace"), col("code"),
          expr("dm / 1e6").as("dist"))
        .orderBy(col("vec_id"), col("subspace")),
    Some("""WITH cb AS (SELECT vec_id AS code, embedding AS cvec
                        FROM embeddings WHERE vec_id < 8),
            sc AS (SELECT e.vec_id, c.code, g.s AS subspace,
                     floor(list_sum(list_transform(generate_series(16 * g.s + 1, 16 * g.s + 16),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) *
                            (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))))
                       * 1e6 + 0.5) / 1e6 AS dist
                   FROM embeddings e
                   CROSS JOIN cb c
                   CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS s) g)
            SELECT vec_id, CAST(subspace AS INTEGER) AS subspace, code, dist
            FROM (SELECT vec_id, subspace, code, dist,
                    row_number() OVER (PARTITION BY vec_id, subspace
                                       ORDER BY dist, code) AS rn
                  FROM sc)
            WHERE rn = 1 ORDER BY vec_id, subspace"""))

  /** PQ ASYMMETRIC-DISTANCE top-k search (the ADC of Jégou et al. 2011):
    * queries are scored against the COMPRESSED corpus — each query
    * precomputes a (subspace, code) -> distance lookup table against the
    * codebook, and a stored vector's approximate distance is the SUM of 4
    * table lookups on its codes, never a touch of the original floats.
    * This is why PQ search scans billions of vectors: per-vector cost is
    * m table lookups + adds on m bytes of codes.
    *
    * 100 TB shape: the lookup table is (n_queries x k x m) rows —
    * broadcast; the join to the code table is map-side; the per-(query,
    * vector) sum partial-aggregates before the only shuffle; top-k is a
    * rank-limited window (WindowGroupLimit), not a global sort. Distances
    * are exact integer micro-unit sums, so both engines rank identically
    * (ties broken by vec_id). */
  val annPqTopK = GraftQuery(
    "ann_pq_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val codes = pqCodes(e)
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      // ADC lookup table: 4 queries x 8 codes x 4 subspaces = 128 rows
      val dtab = q.crossJoin(broadcast(pqCodebook(e)))
        .select(col("q_id"), col("code"),
          posexplode(array(
            l2Micros("q_emb", "cvec", 0), l2Micros("q_emb", "cvec", 1),
            l2Micros("q_emb", "cvec", 2), l2Micros("q_emb", "cvec", 3)))
            .as(Seq("subspace", "qdm")))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("adc_micros"), col("vec_id"))
      codes.join(broadcast(dtab), Seq("subspace", "code"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("qdm")).as("adc_micros"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("vec_id"), col("adc_micros"))
        .orderBy(col("q_id"), col("rank"))
    },
    Some("""WITH cb AS (SELECT vec_id AS code, embedding AS cvec
                        FROM embeddings WHERE vec_id < 8),
            sc AS (SELECT e.vec_id, c.code, g.s AS subspace,
                     CAST(floor(list_sum(list_transform(generate_series(16 * g.s + 1, 16 * g.s + 16),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) *
                            (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))))
                       * 1e6 + 0.5) AS BIGINT) AS dm
                   FROM embeddings e
                   CROSS JOIN cb c
                   CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS s) g),
            codes AS (SELECT vec_id, subspace, code
                      FROM (SELECT vec_id, subspace, code,
                              row_number() OVER (PARTITION BY vec_id, subspace
                                                 ORDER BY dm, code) AS rn
                            FROM sc) WHERE rn = 1),
            dtab AS (SELECT vec_id AS q_id, code, subspace, dm AS qdm
                     FROM sc WHERE vec_id < 4),
            adc AS (SELECT d.q_id, c.vec_id, CAST(sum(d.qdm) AS BIGINT) AS adc_micros
                    FROM codes c JOIN dtab d
                      ON c.subspace = d.subspace AND c.code = d.code
                    GROUP BY d.q_id, c.vec_id)
            SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id, adc_micros
            FROM (SELECT q_id, vec_id, adc_micros,
                    row_number() OVER (PARTITION BY q_id
                                       ORDER BY adc_micros, vec_id) AS rank
                  FROM adc WHERE vec_id <> q_id)
            WHERE rank <= 5 ORDER BY q_id, rank"""),
    headline = true)

  /** TWO-STAGE PQ RETRIEVAL (shortlist + exact re-rank): the production ANN
    * serving shape — the ADC pass of [[annPqTopK]] scans the compressed
    * corpus for a top-20 shortlist per query, then ONLY the shortlisted
    * vectors are re-scored with exact cosine and re-ranked to top-5. The
    * compressed scan bounds recall loss; the exact pass restores ranking
    * fidelity while touching (n_queries x 20) full vectors instead of the
    * corpus.
    *
    * 100 TB shape: stage 1 is [[annPqTopK]]'s (codes-only scan, broadcast
    * lookup tables, partial-agg sums, WindowGroupLimit top-k). Stage 2
    * broadcasts the tiny (q_id, vec_id) shortlist back against the corpus —
    * one more map-side scan that deserializes floats for only the matched
    * rows — so the full-precision vectors never shuffle either. */
  val annPqRerank = GraftQuery(
    "ann_pq_rerank",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val codes = pqCodes(e)
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val dtab = q.crossJoin(broadcast(pqCodebook(e)))
        .select(col("q_id"), col("code"),
          posexplode(array(
            l2Micros("q_emb", "cvec", 0), l2Micros("q_emb", "cvec", 1),
            l2Micros("q_emb", "cvec", 2), l2Micros("q_emb", "cvec", 3)))
            .as(Seq("subspace", "qdm")))
      val wAdc = Window.partitionBy(col("q_id"))
        .orderBy(col("adc_micros"), col("vec_id"))
      val shortlist = codes.join(broadcast(dtab), Seq("subspace", "code"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("qdm")).as("adc_micros"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("adc_rank", row_number().over(wAdc))
        .filter(col("adc_rank") <= 20)
        .select(col("q_id"), col("vec_id"))
      val wCos = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      e.join(broadcast(shortlist), "vec_id")
        .join(broadcast(q), "q_id")
        .select(col("q_id"), col("vec_id"),
          round(cosine("embedding", "q_emb"), 4).as("cos_sim"))
        .withColumn("rank", row_number().over(wCos))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("vec_id"), col("cos_sim"))
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""WITH cb AS (SELECT vec_id AS code, embedding AS cvec
                        FROM embeddings WHERE vec_id < 8),
            sc AS (SELECT e.vec_id, c.code, g.s AS subspace,
                     CAST(floor(list_sum(list_transform(generate_series(16 * g.s + 1, 16 * g.s + 16),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) *
                            (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))))
                       * 1e6 + 0.5) AS BIGINT) AS dm
                   FROM embeddings e
                   CROSS JOIN cb c
                   CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS s) g),
            codes AS (SELECT vec_id, subspace, code
                      FROM (SELECT vec_id, subspace, code,
                              row_number() OVER (PARTITION BY vec_id, subspace
                                                 ORDER BY dm, code) AS rn
                            FROM sc) WHERE rn = 1),
            dtab AS (SELECT vec_id AS q_id, code, subspace, dm AS qdm
                     FROM sc WHERE vec_id < 4),
            adc AS (SELECT d.q_id, c.vec_id, CAST(sum(d.qdm) AS BIGINT) AS adc_micros
                    FROM codes c JOIN dtab d
                      ON c.subspace = d.subspace AND c.code = d.code
                    GROUP BY d.q_id, c.vec_id),
            shortlist AS (SELECT q_id, vec_id
                          FROM (SELECT q_id, vec_id,
                                  row_number() OVER (PARTITION BY q_id
                                                     ORDER BY adc_micros, vec_id) AS adc_rank
                                FROM adc WHERE vec_id <> q_id)
                          WHERE adc_rank <= 20),
            qv AS (SELECT vec_id AS q_id, embedding AS q_emb
                   FROM embeddings WHERE vec_id < 4),
            rer AS (SELECT sl.q_id, sl.vec_id,
                      round(${sqlCos("e.embedding", "qv.q_emb")}, 4) AS cos_sim
                    FROM shortlist sl
                    JOIN embeddings e ON e.vec_id = sl.vec_id
                    JOIN qv ON qv.q_id = sl.q_id)
            SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id, cos_sim
            FROM (SELECT q_id, vec_id, cos_sim,
                    row_number() OVER (PARTITION BY q_id
                                       ORDER BY cos_sim DESC, vec_id) AS rank
                  FROM rer)
            WHERE rank <= 5 ORDER BY q_id, rank"""))

  /** IVF-PQ top-k: coarse cell pruning COMPOSED WITH compressed-domain ADC
    * scoring — the full billion-vector serving shape (Jégou et al. 2011's
    * IVFADC): the inverted file (`label` as the coarse-quantizer cell)
    * bounds the candidate set to ~1/cells of the corpus, and each candidate
    * costs only m code-table lookups, never a float touch. Relative to
    * [[annIvf]] (cells, exact floats) and [[annPqTopK]] (full corpus,
    * codes): this probes only the query's cell AND scans only codes.
    *
    * 100 TB shape: the ADC lookup table carries the query's cell id, so
    * cell pruning rides the SAME broadcast-hash-join key as the code
    * lookup — one map-side probe does both; the only shuffle is the
    * partial-agg'd (q_id, vec_id) distance sum, already pruned to one
    * cell's worth of candidates. Integer micro-unit distances rank
    * identically across engines (ties by vec_id). */
  val annIvfPq = GraftQuery(
    "ann_ivfpq_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val codes = pqCodes(e)
      val cells = e.select(col("vec_id"), col("label"))
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label"))
      val dtab = q.crossJoin(broadcast(pqCodebook(e)))
        .select(col("q_id"), col("label"), col("code"),
          posexplode(array(
            l2Micros("q_emb", "cvec", 0), l2Micros("q_emb", "cvec", 1),
            l2Micros("q_emb", "cvec", 2), l2Micros("q_emb", "cvec", 3)))
            .as(Seq("subspace", "qdm")))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("adc_micros"), col("vec_id"))
      codes.join(cells, Seq("vec_id"))
        .join(broadcast(dtab), Seq("subspace", "code", "label"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("qdm")).as("adc_micros"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("vec_id"), col("adc_micros"))
        .orderBy(col("q_id"), col("rank"))
    },
    Some("""WITH cb AS (SELECT vec_id AS code, embedding AS cvec
                        FROM embeddings WHERE vec_id < 8),
            sc AS (SELECT e.vec_id, e.label, c.code, g.s AS subspace,
                     CAST(floor(list_sum(list_transform(generate_series(16 * g.s + 1, 16 * g.s + 16),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) *
                            (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))))
                       * 1e6 + 0.5) AS BIGINT) AS dm
                   FROM embeddings e
                   CROSS JOIN cb c
                   CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS s) g),
            codes AS (SELECT vec_id, label, subspace, code
                      FROM (SELECT vec_id, label, subspace, code,
                              row_number() OVER (PARTITION BY vec_id, subspace
                                                 ORDER BY dm, code) AS rn
                            FROM sc) WHERE rn = 1),
            dtab AS (SELECT vec_id AS q_id, label, code, subspace, dm AS qdm
                     FROM sc WHERE vec_id < 4),
            adc AS (SELECT d.q_id, c.vec_id, CAST(sum(d.qdm) AS BIGINT) AS adc_micros
                    FROM codes c JOIN dtab d
                      ON c.subspace = d.subspace AND c.code = d.code
                     AND c.label = d.label
                    GROUP BY d.q_id, c.vec_id)
            SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id, adc_micros
            FROM (SELECT q_id, vec_id, adc_micros,
                    row_number() OVER (PARTITION BY q_id
                                       ORDER BY adc_micros, vec_id) AS rank
                  FROM adc WHERE vec_id <> q_id)
            WHERE rank <= 5 ORDER BY q_id, rank"""))

  /** k-NN GRAPH construction (k=3) — EVERY vector's top-k neighbors within
    * its coarse cell (`label` as the IVF/k-means assignment), the backbone
    * structure of SemDeDup-style clustering, HNSW seeding, and
    * graph-propagated labels. Unlike [[annIvf]] (a handful of query
    * vectors), this is the full self-join: cost is sum over cells of
    * |cell|^2 — the standard kNN-graph bound, kept tractable by the cell
    * partition (and salted/split further when a cell is hot; the all-pairs
    * never crosses cells). Top-k is a rank-limited window per vec_a
    * (WindowGroupLimit prunes map-side), ties broken by vec_b. */
  val annKnnGraph = GraftQuery(
    "ann_knn_graph",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val a = e.select(col("label"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val b = e.select(col("label"), col("vec_id").as("vec_b"), col("embedding").as("eb"))
      val w = Window.partitionBy(col("vec_a"))
        .orderBy(col("cos_sim").desc, col("vec_b"))
      a.join(b, Seq("label"))
        .filter(col("vec_a") =!= col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          round(cosine("ea", "eb"), 4).as("cos_sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("vec_a"), col("rank"), col("vec_b"), col("cos_sim"))
        .orderBy(col("vec_a"), col("rank"))
    },
    Some(s"""WITH scored AS (
               SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 round(${sqlCos("a.embedding", "b.embedding")}, 4) AS cos_sim
               FROM embeddings a JOIN embeddings b ON a.label = b.label
               WHERE a.vec_id <> b.vec_id),
             ranked AS (
               SELECT vec_a, vec_b, cos_sim,
                 row_number() OVER (PARTITION BY vec_a
                                    ORDER BY cos_sim DESC, vec_b) AS rank
               FROM scored)
             SELECT vec_a, CAST(rank AS INTEGER) AS rank, vec_b, cos_sim
             FROM ranked WHERE rank <= 3 ORDER BY vec_a, rank"""))

  /** DISTRIBUTED MAT-VEC (one power-iteration step toward the top principal
    * component): y_i = x_i . v0 map-side per row (v0 = the deterministic
    * 1..64 ramp), then s = sum_i y_i * x_i as 64 independent codegen'd
    * `sum` aggregates — the [[kmeansUpdate]] shape: map-side partials, ONE
    * shuffle of 64 doubles, vectors never leave the scan. The normalized
    * direction v1 = s/|s| is computed from the ROUNDED sums so both
    * engines agree exactly (6 dp, far above the ~1e-12 accumulation-order
    * noise). Iterating this step (re-broadcasting v1) is distributed PCA /
    * the eigenvector half of spectral methods. */
  val powerIteration = GraftQuery(
    "emb_power_iteration",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val y = expr(
        """aggregate(transform(sequence(0, 63),
             i -> cast(embedding[i] as double) * (i + 1)),
           cast(0.0 as double), (acc, v) -> acc + v)""")
      // shape note: 64 parallel sum() buffers in ONE HashAggregate blow the
      // JVM's 64 KB method limit (whole-stage codegen bails to interpreted
      // mode); exploding to (dim, y*x) pairs and grouping by dim keeps the
      // hot loop codegen'd — same partial-agg discipline, the shuffle still
      // carries exactly 64 groups of one double each
      val sm = e.withColumn("y", y)
        .select(col("y"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy(col("d"))
        .agg(round(sum(col("y") * col("x").cast("double")), 6).as("s"))
      val n = sm.agg(sqrt(sum(col("s") * col("s"))).as("nrm"))
      sm.crossJoin(n)
        .select((col("d") + 1).as("dim"), col("s"), round(col("s") / col("nrm"), 6).as("v1"))
        .orderBy(col("dim"))
    },
    Some("""WITH y AS (SELECT vec_id, embedding,
                 list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(embedding[i] AS DOUBLE) * i)) AS yv
               FROM embeddings),
            sm AS (SELECT i AS dim, round(sum(yv * CAST(embedding[i] AS DOUBLE)), 6) AS s
                   FROM y CROSS JOIN LATERAL
                     (SELECT unnest(generate_series(1, 64)) AS i) g
                   GROUP BY i),
            n AS (SELECT sqrt(sum(s * s)) AS nrm FROM sm)
            SELECT CAST(dim AS INTEGER) AS dim, s, round(s / nrm, 6) AS v1
            FROM sm CROSS JOIN n ORDER BY dim"""))

  /** JOHNSON-LINDENSTRAUSS SIGN PROJECTION — random-projection
    * dimensionality reduction 64 -> 16 with a ±1 matrix (Achlioptas 2003:
    * sign matrices satisfy the JL distance-preservation lemma and need no
    * floats in the matrix). The matrix is derived deterministically from
    * md5("rp:i:j") at PLAN TIME and inlined as literals into both the
    * Spark expression and the oracle SQL, so both engines compute the
    * identical ordered fold (the Similarity file's parity discipline);
    * 4 dp rounding fixes the compare.
    *
    * 100 TB shape: the matrix is 16x64 literals baked into the plan — zero
    * data movement, zero lookups; the projection is a map-side scan
    * transform emitting 16 doubles per row (4x narrower than the input),
    * the standard cheap first cut before clustering or coarse ANN at
    * scale. A production variant with learned matrices would broadcast the
    * matrix and use a native expression; the plan shape is identical.
    *
    * The 16 projected components are emitted as SCALAR columns p00..p15
    * (not one ARRAY column): the driver's pandas comparator cannot sort
    * array cells, and OracleTypeDisciplineSpec now lints the whole
    * registry against top-level ARRAY/MAP outputs for the same reason. */
  val randomProjection: GraftQuery = {
    val k = 16
    val signs: Array[Array[Double]] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(k, Dim) { (j, i) =>
        val h = md.digest(s"rp:$i:$j".getBytes("UTF-8"))
        if (((h(0) >> 4) & 1) == 0) 1.0 else -1.0
      }
    }
    def sparkRow(j: Int): String = {
      val arr = signs(j).map(v => if (v > 0) "1.0D" else "-1.0D").mkString(",")
      s"""round(aggregate(transform(sequence(0, ${Dim - 1}),
          i -> cast(embedding[i] as double) * element_at(array($arr), i + 1)),
          cast(0.0 as double), (acc, v) -> acc + v), 4)"""
    }
    def sqlRow(j: Int): String = {
      val arr = signs(j).map(v => if (v > 0) "1.0" else "-1.0").mkString(",")
      s"""round(list_sum(list_transform(generate_series(1, $Dim),
          i -> CAST(embedding[i] AS DOUBLE) * ([$arr])[i])), 4)"""
    }
    GraftQuery(
      "emb_random_projection",
      (s, dir) =>
        t(s, dir, "embeddings")
          .select(col("vec_id") +:
            (0 until k).map(j => expr(sparkRow(j)).as(f"p$j%02d")): _*)
          .orderBy(col("vec_id")),
      Some(s"""SELECT vec_id,
                 ${(0 until k).map(j => f"${sqlRow(j)} AS p$j%02d").mkString(",\n                 ")}
               FROM embeddings ORDER BY vec_id"""))
  }

  /** RETRIEVAL QUALITY EVALUATION: recall@10 of the IVF index against the
    * exact brute-force top-10, per query — the metric every ANN deployment
    * tracks to tune its probe count. Composes the two existing plans
    * (ann_cosine_topk = ground truth, ann_ivf_topk = candidate) and reduces
    * their overlap with a semi-join + count: the only rows in motion are
    * the two top-k lists (k x queries), never corpus vectors. n_hit is an
    * exact integer; recall = n_hit/10 is one division (bit-identical). */
  val annRecallEval = GraftQuery(
    "ann_recall_eval",
    (s, dir) => {
      val exact = annBruteTopK.run(s, dir).select(col("q_id"), col("vec_id"))
      val ivf = annIvf.run(s, dir).select(col("q_id"), col("vec_id"))
      val hits = exact.join(ivf, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
      exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(10.0)).as("recall_at_10"))
        .orderBy(col("q_id"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label
                        FROM embeddings WHERE vec_id < 8),
             exact AS (
               SELECT q_id, vec_id FROM (
                 SELECT q.q_id, e.vec_id,
                   row_number() OVER (PARTITION BY q.q_id
                     ORDER BY round(${sqlCos("e.embedding", "q.q_emb")}, 4) DESC, e.vec_id) AS rank
                 FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id)
               WHERE rank <= 10),
             ivf AS (
               SELECT q_id, vec_id FROM (
                 SELECT q.q_id, e.vec_id,
                   row_number() OVER (PARTITION BY q.q_id
                     ORDER BY round(${sqlCos("e.embedding", "q.q_emb")}, 4) DESC, e.vec_id) AS rank
                 FROM embeddings e JOIN q ON e.label = q.label WHERE e.vec_id <> q.q_id)
               WHERE rank <= 10),
             hits AS (
               SELECT e.q_id, count(*) AS n_hit
               FROM exact e JOIN ivf i ON i.q_id = e.q_id AND i.vec_id = e.vec_id
               GROUP BY e.q_id)
             SELECT e.q_id, count(*) AS n_exact,
               coalesce(any_value(h.n_hit), 0) AS n_hit,
               CAST(coalesce(any_value(h.n_hit), 0) AS DOUBLE) / 10.0 AS recall_at_10
             FROM exact e LEFT JOIN hits h ON h.q_id = e.q_id
             GROUP BY e.q_id ORDER BY e.q_id"""))

  // ---------------------------------------------------------------------
  // Graph-based ANN (NSW/HNSW-shaped retrieval over the kNN graph)
  // ---------------------------------------------------------------------

  /** Beam width, hop count and entry-point count for [[annGraphTopK]] —
    * the three knobs of graph-ANN serving (HNSW's ef/efConstruction
    * analog). Fixed and oracle-mirrored so the unrolled search is
    * deterministic. BeamHops = 5 EQUALS the public facade's size-derived
    * value (SimilaritySearch.derivedHops: clamp(log₂(n) − 6, 5, 16)) at
    * every test SF (n ≤ 2047 ⇒ floor 5; derivedHops(2048) = 6 — the
    * SimilaritySearchSpec pin), so the registry constant is
    * the derivation evaluated at its own scale, not a divergent policy —
    * the facade derives because the r17 100x stress point measured hop
    * count (not beam width) as the recall lever on growing corpora. */
  private val BeamWidth = 16
  private val BeamHops = 5
  private val BeamEntries = 8

  /** Long-range links per node. A bare kNN graph is NOT navigable — the
    * founding NSW observation (Malkov et al. 2014): greedy search needs
    * long links to cross the space (measured here: recall@10 fell to 0.09
    * at sf0.1 without them). Each node gets [[LongLinks]] extra edges to
    * hash-derived targets (hash48('lnk:j:id') mod n over the dense ids)
    * — the derandomized analog of NSW's random insertion links,
    * identical in both engines.
    *
    * LongLinks = 4 is the r14 sweep's winner (ann_graph_param_sweep):
    * at the production beam of 16, recall@10 at sf0.1 is 0.763 with 2
    * links vs 0.90 with 4, and extra links are ~zero serving cost — the
    * pool is built once to [[MaxLongLinks]] and a combo takes the
    * j <= links prefix, so only the adjacency union widens. */
  private val LongLinks = 4

  /** The DuckDB twin of the beam search: kNN edges → symmetrized
    * adjacency → content-hash entry points → [[BeamHops]] unrolled
    * expand-score-prune rounds. Shared by [[annGraphTopK]] and
    * [[annGraphRecall]] so the two oracles can never drift. */
  private def beamCtes: String = {
    val hops = (1 to BeamHops).map { i =>
      s"""n$i AS (SELECT DISTINCT b.q_id, a.vec_b AS vec_id
             FROM b${i - 1} b JOIN adj a ON a.vec_a = b.vec_id),
         s$i AS (SELECT n.q_id, n.vec_id,
               round(${sqlCos("e.embedding", "q.q_emb")}, 4) AS cos_sim
             FROM n$i n JOIN embeddings e ON e.vec_id = n.vec_id
             JOIN q ON q.q_id = n.q_id
             UNION SELECT q_id, vec_id, cos_sim FROM b${i - 1}),
         b$i AS MATERIALIZED (SELECT q_id, vec_id, cos_sim FROM (
               SELECT q_id, vec_id, cos_sim, row_number() OVER (
                 PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
               FROM s$i) WHERE rn <= $BeamWidth)"""
    }.mkString(",\n         ")
    s"""$sqlAssign,
         bm AS MATERIALIZED (SELECT a.vec_id, a.cluster, e.embedding
           FROM assign a JOIN embeddings e USING (vec_id)),
         scored_knn AS (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY round(${sqlCos("a.embedding", "b.embedding")}, 4) DESC,
                        b.vec_id) AS rank
           FROM bm a JOIN bm b ON a.cluster = b.cluster
           WHERE a.vec_id <> b.vec_id),
         knn AS MATERIALIZED (SELECT vec_a, vec_b FROM scored_knn WHERE rank <= 3),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         lnk AS (SELECT o.vec_id AS vec_a, o.tgt AS vec_b
           FROM (SELECT vec_id,
                   CAST(('0x' || substring(md5('lnk:' || CAST(g.j AS VARCHAR)
                     || ':' || CAST(vec_id AS VARCHAR)), 1, 12)) AS BIGINT)
                     % (SELECT n FROM nn) AS tgt
                 FROM embeddings
                 CROSS JOIN (SELECT unnest(generate_series(1, $LongLinks)) AS j) g) o
           WHERE o.vec_id <> o.tgt),
         adj AS MATERIALIZED (
           SELECT vec_a, vec_b FROM knn
           UNION SELECT vec_b AS vec_a, vec_a AS vec_b FROM knn
           UNION SELECT vec_a, vec_b FROM lnk
           UNION SELECT vec_b AS vec_a, vec_a AS vec_b FROM lnk),
         ent AS (SELECT vec_id FROM (
             SELECT vec_id, row_number() OVER (
               ORDER BY md5(concat('gent:', CAST(vec_id AS VARCHAR))), vec_id) AS rn
             FROM embeddings) WHERE rn <= $BeamEntries),
         q AS (SELECT vec_id AS q_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < 8),
         s0 AS (SELECT q.q_id, e.vec_id,
               round(${sqlCos("e.embedding", "q.q_emb")}, 4) AS cos_sim
             FROM q CROSS JOIN ent JOIN embeddings e ON e.vec_id = ent.vec_id),
         b0 AS MATERIALIZED (SELECT q_id, vec_id, cos_sim FROM (
               SELECT q_id, vec_id, cos_sim, row_number() OVER (
                 PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
               FROM s0) WHERE rn <= $BeamWidth),
         $hops,
         beam_out AS (SELECT q_id, vec_id, cos_sim, rank FROM (
               SELECT q_id, vec_id, cos_sim, row_number() OVER (
                 PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
               FROM b$BeamHops WHERE vec_id <> q_id) WHERE rank <= 10)"""
  }

  /** The sweep's DuckDB twin: the shared build (assign/knn/long-link
    * pool/entries/queries/exact truth) once, then per-(beam, links) combo
    * sections — its own adjacency prefix, beam cap and unrolled hops —
    * ending in one recall row per combo. */
  private def sweepSql: String = {
    def comboCtes(bw: Int, lk: Int): String = {
      val c = s"${bw}_$lk"
      val hops = (1 to BeamHops).map { i =>
        s"""n${i}_$c AS (SELECT DISTINCT b.q_id, a.vec_b AS vec_id
               FROM b${i - 1}_$c b JOIN adj_$c a ON a.vec_a = b.vec_id),
           s${i}_$c AS (SELECT n.q_id, n.vec_id,
                 round(${sqlCos("e.embedding", "q.q_emb")}, 4) AS cos_sim
               FROM n${i}_$c n JOIN embeddings e ON e.vec_id = n.vec_id
               JOIN q ON q.q_id = n.q_id
               UNION SELECT q_id, vec_id, cos_sim FROM b${i - 1}_$c),
           b${i}_$c AS MATERIALIZED (SELECT q_id, vec_id, cos_sim FROM (
                 SELECT q_id, vec_id, cos_sim, row_number() OVER (
                   PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
                 FROM s${i}_$c) WHERE rn <= $bw)"""
      }.mkString(",\n           ")
      s"""adj_$c AS MATERIALIZED (
             SELECT vec_a, vec_b FROM knn
             UNION SELECT vec_b AS vec_a, vec_a AS vec_b FROM knn
             UNION SELECT vec_a, vec_b FROM lnkall WHERE j <= $lk
             UNION SELECT vec_b AS vec_a, vec_a AS vec_b FROM lnkall
               WHERE j <= $lk),
           b0_$c AS MATERIALIZED (SELECT q_id, vec_id, cos_sim FROM (
                 SELECT q_id, vec_id, cos_sim, row_number() OVER (
                   PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
                 FROM s0) WHERE rn <= $bw),
           $hops,
           out_$c AS (SELECT q_id, vec_id FROM (
                 SELECT q_id, vec_id, row_number() OVER (
                   PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
                 FROM b${BeamHops}_$c WHERE vec_id <> q_id) WHERE rank <= 10),
           hit_$c AS (SELECT CAST($bw AS INTEGER) AS beam_width,
                 CAST($lk AS INTEGER) AS long_links,
                 CAST(count(*) AS BIGINT) AS n_hit
               FROM exact e JOIN out_$c g
                 ON g.q_id = e.q_id AND g.vec_id = e.vec_id)"""
    }
    val combos = for { bw <- Seq(8, 16, 32); lk <- Seq(0, 2, 4) } yield (bw, lk)
    val sections = combos.map { case (bw, lk) => comboCtes(bw, lk) }
      .mkString(",\n         ")
    val unionAll = combos.map { case (bw, lk) =>
      s"SELECT * FROM hit_${bw}_$lk" }.mkString(" UNION ALL ")
    s"""WITH $sqlAssign,
         bm AS MATERIALIZED (SELECT a.vec_id, a.cluster, e.embedding
           FROM assign a JOIN embeddings e USING (vec_id)),
         scored_knn AS (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY round(${sqlCos("a.embedding", "b.embedding")}, 4) DESC,
                        b.vec_id) AS rank
           FROM bm a JOIN bm b ON a.cluster = b.cluster
           WHERE a.vec_id <> b.vec_id),
         knn AS MATERIALIZED (SELECT vec_a, vec_b FROM scored_knn WHERE rank <= 3),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         lnkall AS MATERIALIZED (SELECT o.j, o.vec_id AS vec_a, o.tgt AS vec_b
           FROM (SELECT vec_id, g.j,
                   CAST(('0x' || substring(md5('lnk:' || CAST(g.j AS VARCHAR)
                     || ':' || CAST(vec_id AS VARCHAR)), 1, 12)) AS BIGINT)
                     % (SELECT n FROM nn) AS tgt
                 FROM embeddings
                 CROSS JOIN (SELECT unnest(generate_series(1, $MaxLongLinks)) AS j) g) o
           WHERE o.vec_id <> o.tgt),
         ent AS (SELECT vec_id FROM (
             SELECT vec_id, row_number() OVER (
               ORDER BY md5(concat('gent:', CAST(vec_id AS VARCHAR))), vec_id) AS rn
             FROM embeddings) WHERE rn <= $BeamEntries),
         q AS (SELECT vec_id AS q_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < 8),
         s0 AS (SELECT q.q_id, e.vec_id,
               round(${sqlCos("e.embedding", "q.q_emb")}, 4) AS cos_sim
             FROM q CROSS JOIN ent JOIN embeddings e ON e.vec_id = ent.vec_id),
         exact AS MATERIALIZED (
           SELECT q_id, vec_id FROM (
             SELECT q.q_id, e.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY round(${sqlCos("e.embedding", "q.q_emb")}, 4) DESC,
                          e.vec_id) AS rank
             FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id)
           WHERE rank <= 10),
         ne AS (SELECT CAST(count(*) AS BIGINT) AS n FROM exact),
         $sections
         SELECT beam_width, long_links, n_hit,
           CAST(n_hit * 1000000 // (SELECT n FROM ne) AS BIGINT) AS recall_micro
         FROM ($unionAll)
         ORDER BY beam_width, long_links"""
  }

  /** Combo-independent graph-ANN build state, shared by every (beam,
    * links) parameterization: the trained-cell kNN edges, the j-tagged
    * long-link pool (j = 1..[[MaxLongLinks]] — a combo takes the j <=
    * links prefix), entry points, query set, and the corpus frame. */
  private case class BeamContext(dir: String, knn: DataFrame, lnkAll: DataFrame,
      ent: DataFrame, q: DataFrame, e: DataFrame)

  /** The memoized serving adjacency for a links prefix (n × (3 kNN +
    * links) half-edges, symmetrized). The symmetrize/distinct shuffle is
    * the only corpus-edge-sized work left at search time, and it's
    * links-dependent but query-independent — so repeated searches (bench
    * reps, the 3 sweep cells sharing a links value) reuse the blocks
    * instead of re-shuffling the edge list per call. */
  private def adjFor(s: SparkSession, ctx: BeamContext, links: Int): DataFrame =
    Pin.memo(s, ("graph-ann-adj", ctx.dir, links))(
      symmetrizedAdj(ctx.knn.union(
        ctx.lnkAll.filter(col("j") <= links)
          .select(col("vec_a"), col("vec_b")))))

  /** Largest long-link count any parameterization uses — the sweep's
    * upper bound; [[LongLinks]] <= this. */
  private val MaxLongLinks = 4

  // memoized per (session, dir): a graph-ANN index is built once and
  // served repeatedly (ann_graph_topk, _recall and the 9-cell param sweep
  // all read the same build), so the expensive combo-independent part
  // (k-means quantizer + within-cell kNN + link pool, all
  // checkpointed) must not be re-derived per query.
  private def beamContext(s: SparkSession, dir: String): BeamContext =
    Pin.memo(s, ("graph-ann", dir))(beamContextImpl(s, dir))

  /** Build the graph-ANN context (the expensive, combo-independent part:
    * k-means quantizer + kNN graph). */
  private def beamContextImpl(s: SparkSession, dir: String): BeamContext = {
    val (knn, lnkAll, ent, q, eSmall) = beamBuildFrames(s, dir)
    // q and ent are tiny but read by EVERY search: checkpointed once here
    // so a search never re-scans parquet for them (r18: each hop's query
    // re-read the embeddings footer + filter for the 8-row query frame)
    BeamContext(dir, Pin.serving(knn), Pin.serving(lnkAll),
      Pin.serving(ent), Pin.serving(q), Pin.serving(eSmall))
  }

  /** The un-checkpointed build frames (knn edges, j-tagged long-link
    * pool, entry points, query set, projected corpus) — exposed so
    * PlanInvariantsSpec can lint the build plans (no global-order
    * window anywhere in the index build: on a 100 TB corpus a
    * `Window.orderBy` without partitionBy is a single-partition sort of
    * the whole table). Production path checkpoints these via
    * [[beamContextImpl]]. */
  private[graft] def beamBuildFrames(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e = t(s, dir, "embeddings")
    // kNN edges within TRAINED cells (the ann_ivf_trained quantizer), not
    // the metadata label cells ann_knn_graph demonstrates: a navigable
    // graph needs geometrically-local short links — on this corpus the
    // label-cell graph held beam recall at 0.26 (sf0.1) while the
    // trained-cell build recovers actual neighborhoods, exactly the
    // ann_ivf_trained_recall lesson applied to the graph index
    val m = kmeansAssign(s, e)
      .select(col("vec_id"), col("cluster"), col("embedding")).transform(Pin.reuse)
    val ka = m.select(col("cluster"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"))
    val kb = m.select(col("cluster"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"))
    val wk = Window.partitionBy(col("vec_a"))
      .orderBy(col("cs").desc, col("vec_b"))
    val knn = ka.join(kb, Seq("cluster"))
      .filter(col("vec_a") =!= col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(cosine("ea", "eb"), 4).as("cs"))
      .withColumn("rk", row_number().over(wk)).filter(col("rk") <= 3)
      .select(col("vec_a"), col("vec_b"))
    // long-range links: hash48('lnk:j:id') mod n lands directly on a
    // vec_id under the dense-id convention (ids are 0..n-1 by
    // construction — the corpus layout contract, held at every SF), so
    // no ordinal ranking is needed: the target IS the id. This keeps the
    // build free of any global-order window (PlanInvariantsSpec pins it).
    val n = e.count()
    val lnkAll = (1 to MaxLongLinks).map { j =>
      e.select(lit(j).as("j"), col("vec_id").as("vec_a"),
        (md5Prefix(concat(lit(s"lnk:$j:"), col("vec_id").cast("string")), 12) % n)
          .as("vec_b"))
    }.reduce(_ union _)
      .filter(col("vec_a") =!= col("vec_b"))
    val ent = e.select(col("vec_id"))
      .withColumn("h", md5(concat(lit("gent:"), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(BeamEntries)
      .select(col("vec_id"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // each hop's scoring step reads the corpus: serve the projected
    // (vec_id, embedding) pairs from checkpointed blocks, not a fresh
    // parquet scan each hop
    val eSmall = e.select(col("vec_id"), col("embedding"))
    (knn, lnkAll, ent, q, eSmall)
  }

  /** Symmetrize + materialize an (vec_a, vec_b) half-edge list into the
    * serving adjacency. Factored so [[beamRun]] can memoize the result per
    * links prefix ([[adjFor]]) instead of re-shuffling it on every search
    * call: each hop looks the beam's ids up in it through a broadcast,
    * so the edge list itself never moves again at any scale. */
  private def symmetrizedAdj(adjHalf: DataFrame): DataFrame =
    adjHalf
      .union(adjHalf.select(col("vec_b").as("vec_a"), col("vec_a").as("vec_b")))
      .distinct()
      .transform(Pin.serving)

  /** A scored candidate: (query index, vec_id, cos_sim). */
  private type Hit = (Int, Long, java.lang.Double)

  /** Spark's order for (cos_sim desc, vec_id): under desc, nulls sort
    * last and NaN, which graft_cosine gives a zero vector, first. */
  private val beamOrder: Ordering[Hit] = (a, b) => {
    val bySim =
      if (a._3 == null || b._3 == null) java.lang.Boolean.compare(a._3 == null, b._3 == null)
      else SQLOrderingUtil.compareDoubles(b._3, a._3)
    if (bySim != 0) bySim else java.lang.Long.compare(a._2, b._2)
  }

  /** The frame-generic synchronous beam search over a PREBUILT
    * symmetrized adjacency — [[beamRun]]'s loop, shared with the public
    * facade (api.SimilaritySearch.graphAnnSearch, whose GraphAnnIndex
    * stores its adjacency pre-symmetrized so searches run zero edge
    * shuffles). `adj` is the symmetrized (vec_a, vec_b) edge list
    * ([[symmetrizedAdj]] builds one from a half-edge list); `e` the
    * (vec_id, embedding) corpus; `ent` the (vec_id) entry points; `q` the
    * (q_id, q_emb) query set. Ids are longs.
    *
    * The beam — at most queries × beamWidth rows — lives on the driver.
    * Each hop is two collects on `s`, one job each: the adjacency rows of
    * the beam's ids (expand), then the corpus rows of the candidates not
    * yet in the beam, scored against their queries (score). What the
    * driver holds reaches the executors as a broadcast variable, which
    * takes no job, where a broadcast join of a driver-built frame takes
    * one per side. The driver merges the scored pairs into the beam and
    * keeps each query's best beamWidth by (cos_sim desc, vec_id). No row
    * of the index is exchanged at any corpus size, and AQE, left on, has
    * no stage to split into extra jobs. The result is a local relation of
    * (q_id, vec_id, cos_sim, rank) rows in (q_id, rank) order. */
  private[graft] def beamOverAdj(s: SparkSession, adj: DataFrame,
      e: DataFrame, ent: DataFrame, q: DataFrame, beamWidth: Int,
      hops: Int, k: Int, excludeSelf: Boolean): DataFrame = {
    val sc = s.sparkContext
    val shipped = mutable.Buffer.empty[Broadcast[_]]
    def ship[T: ClassTag](v: T): Broadcast[T] = { val b = sc.broadcast(v); shipped += b; b }
    // `df`'s rows whose id in `key` is paired with a query, once per
    // pairing, with that query's index as `qi`
    def fanOut(df: DataFrame, key: String, pairs: Iterable[(Int, Long)]): DataFrame = {
      val b = ship(pairs.groupMap(_._2)(_._1).view.mapValues(_.toArray).toMap)
      df.withColumn("qi",
        explode(udf((id: Long) => b.value.getOrElse(id, Array.empty[Int])).apply(col(key))))
    }
    // each query's best beamWidth hits, best first
    def prune(hits: Iterable[Hit]): Seq[Hit] =
      hits.groupBy(_._1).values
        .flatMap(_.toSeq.distinctBy(_._2).sorted(beamOrder).take(beamWidth)).toSeq
    val descPrev = sc.getLocalProperty("spark.job.description")
    try {
      sc.setJobDescription("graphann: hop 0 (entry scoring)")
      // queries in Spark's ascending q_id order, so the result needs no sort
      val idType = q.schema("q_id").dataType
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
      val byId = RowOrdering.createNaturalAscendingOrdering(Seq(idType))
        .on[Row](r => InternalRow(toCatalyst(r.get(0))))
      // a null id joins no candidate, as in the oracle
      val qs = q.filter(col("q_id").isNotNull).select(col("q_id"), col("q_emb"))
        .collect().distinctBy(_.get(0)).sorted(byId)
      val qEmb = ship(qs.map(_.getSeq[Float](1)))
      val embOf = udf((qi: Int) => qEmb.value(qi))
      def score(cands: Iterable[(Int, Long)]): Seq[Hit] =
        if (cands.isEmpty) Nil
        else fanOut(e, "vec_id", cands).withColumn("q_emb", embOf(col("qi")))
          .select(col("qi"), col("vec_id"), round(cosine("embedding", "q_emb"), 4))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getAs[java.lang.Double](2))).toSeq
      val entIds = ent.select(col("vec_id")).collect().map(_.getLong(0))
      var beam = prune(score(for (qi <- qs.indices; v <- entIds) yield (qi, v)))
      (1 to hops).foreach { h =>
        sc.setJobDescription(s"graphann: hop $h")
        val held = beam.map(hit => (hit._1, hit._2)).toSet
        val nbrs = fanOut(adj, "vec_a", held).select(col("qi"), col("vec_b")).collect()
          .map(r => (r.getInt(0), r.getLong(1))).distinct.filterNot(held)
        beam = prune(beam ++ score(nbrs))
      }
      // groupBy keeps each query's hits best first; rows in (q_id, rank) order
      val ranked = beam.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (qi, hits) =>
        val id = qs(qi).get(0)
        hits.filter(hit => !excludeSelf || id != hit._2).take(k)
          .zipWithIndex.map { case ((_, v, sim), i) => Row(id, v, sim, i + 1) }
      }
      s.createDataFrame(ranked.asJava, StructType(Seq(q.schema("q_id"),
        StructField("vec_id", LongType), StructField("cos_sim", DoubleType),
        StructField("rank", IntegerType, nullable = false))))
    } finally {
      sc.setJobDescription(descPrev)
      shipped.foreach(_.destroy())
    }
  }

  /** One parameterized beam search over a prebuilt [[BeamContext]]:
    * (q_id, vec_id, cos_sim, rank) top-10 per query at the given beam
    * width and long-link count. */
  private def beamRun(s: SparkSession, ctx: BeamContext,
      beamWidth: Int, links: Int): DataFrame =
    beamOverAdj(s, adjFor(s, ctx, links),
      ctx.e, ctx.ent, ctx.q, beamWidth, BeamHops, 10, excludeSelf = true)

  /** The Spark beam search shared by [[annGraphTopK]] and
    * [[annGraphRecall]]: returns the final (q_id, vec_id, cos_sim, rank)
    * top-10 per query at the production knobs. */
  private def beamSearch(s: SparkSession, dir: String): DataFrame =
    beamRun(s, beamContext(s, dir), BeamWidth, LongLinks)

  /** GRAPH-BASED ANN TOP-K — greedy beam search over the TRAINED-CELL
    * kNN graph (k=3 within [[kmeansAssign]]'s cells — the
    * [[annIvfTrained]] quantizer; the metadata-label graph of
    * [[annKnnGraph]] held recall at 0.26, the same lesson as
    * [[annIvfTrainedRecall]]), the NSW/HNSW retrieval shape (Malkov &
    * Yashunin 2018, derandomized): [[BeamEntries]] content-hash entry points, then
    * [[BeamHops]] synchronous expand-score-prune rounds keeping the
    * [[BeamWidth]] best candidates per query by (cosine desc, vec_id) —
    * a total order, so the whole search unrolls into exact CTEs. The
    * candidate set is monotone in quality (each round keeps the union's
    * best, so a round can only improve the beam), the classic guarantee
    * beam search gives without a visited set.
    *
    * 100 TB shape: beam state is queries × [[BeamWidth]] rows on the
    * driver regardless of corpus size; each hop is two broadcast key
    * lookups (adjacency by node, vectors by id) and a beam-sized merge on
    * the driver; the corpus is never shuffled and only touched by point
    * lookups — the property that makes graph ANN the serving-side winner
    * over scan-everything IVF when queries are selective. */
  val annGraphTopK = GraftQuery(
    "ann_graph_topk",
    (s, dir) => beamSearch(s, dir), // rows come in (q_id, rank) order
    Some(s"""WITH $beamCtes
             SELECT q_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank
             FROM beam_out ORDER BY q_id, rank"""),
    // the iterative-family bench headline (r13 task 4): beam-search hops
    // are the unrolled-loop shape Louvain/PageRank also use, at a bench-
    // friendly cost (~3 s at sf0.1 vs Louvain's ~12 s)
    headline = true)

  /** Recall@10 of [[annGraphTopK]] against the exact brute-force top-10 —
    * the [[annRecallEval]] panel for the graph index, completing the
    * tuning table trio (IVF recall, probe sweep, graph recall): 0.88 at
    * sf0.01 / 0.76 at sf0.1 from beam-sized point lookups, vs label-IVF's
    * 0.125-0.15 full-cell scans. Only the two top-10 lists move; n_hit is
    * an exact integer. */
  val annGraphRecall = GraftQuery(
    "ann_graph_recall",
    (s, dir) => {
      val exact = annBruteTopK.run(s, dir).select(col("q_id"), col("vec_id"))
      val g = beamSearch(s, dir).select(col("q_id"), col("vec_id"))
      val hits = exact.join(g, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
      exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(10.0))
            .as("recall_at_10"))
        .orderBy(col("q_id"))
    },
    Some(s"""WITH $beamCtes,
             exact AS (
               SELECT q_id, vec_id FROM (
                 SELECT q.q_id, e.vec_id,
                   row_number() OVER (PARTITION BY q.q_id
                     ORDER BY round(${sqlCos("e.embedding", "q.q_emb")}, 4) DESC,
                              e.vec_id) AS rank
                 FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id)
               WHERE rank <= 10),
             hits AS (
               SELECT e.q_id, count(*) AS n_hit
               FROM exact e JOIN beam_out g
                 ON g.q_id = e.q_id AND g.vec_id = e.vec_id
               GROUP BY e.q_id)
             SELECT e.q_id, count(*) AS n_exact,
               coalesce(any_value(h.n_hit), 0) AS n_hit,
               CAST(coalesce(any_value(h.n_hit), 0) AS DOUBLE) / 10.0 AS recall_at_10
             FROM exact e LEFT JOIN hits h ON h.q_id = e.q_id
             GROUP BY e.q_id ORDER BY e.q_id"""))

  /** Micro-floored DCG position discounts: floor(1e6 / log2(pos+1)) for
    * pos = 1..10, precomputed as literals so neither engine's libm log2
    * is in the compared values — the PSI/lm_backoff "one integer-ratio
    * argument" discipline taken to its limit (no runtime log at all). */
  private val DcgW = Array(1000000L, 630929L, 500000L, 430676L, 386852L,
    356207L, 333333L, 315464L, 301029L, 289064L)

  /** Ideal DCG@10 in micro-units: Σ_{i=1..10} (11−i) · DcgW(i−1) — the
    * exact retrieval (rel 10..1 in order), constant across queries. */
  private val IdcgMicro = 29966086L

  /** RANK-QUALITY METRICS (MRR + nDCG@10) for the two ANN serving routes
    * against the exact top-10 — the standard retrieval-eval pair recall@k
    * doesn't capture: recall says WHETHER the true neighbors were found,
    * MRR says how quickly the first one appears, nDCG says how well the
    * whole list is ORDERED (graded relevance rel = 11 − exact_rank).
    * Exactness: discounts are precomputed micro-literals ([[DcgW]]), DCG
    * is an exact integer sum, nDCG an integer micro-div by the constant
    * [[IdcgMicro]], MRR an integer micro-div by the first relevant
    * position — no float leaves either engine. Shape: the two retrieval
    * lists are queries × 10 rows; everything downstream is key-sized.
    *
    * MEASURED: both routes hit MRR 1.0 at both SFs (the true nearest
    * neighbor is always retrieved first — recall misses live in the
    * tail). Mean nDCG@10: graph 0.998 / ivf 0.937 at sf0.01, graph 0.955
    * (worst query 0.844) / ivf 0.994 at sf0.1 — the rank-ordering view of
    * the recall tables' lesson: the graph route degrades gracefully in
    * ORDER (tail items slip, the head stays), while trained-IVF is
    * all-or-nothing per cell. */
  val annRankMetrics = GraftQuery(
    "ann_rank_metrics",
    (s, dir) => {
      val exact = annBruteTopK.run(s, dir)
        .select(col("q_id"), col("vec_id"), col("rank").as("exact_rank"))
      val wArr = array(DcgW.map(lit(_)): _*)
      def metrics(route: String, retrieved: DataFrame): DataFrame =
        retrieved.select(col("q_id"), col("vec_id"), col("rank").as("pos"))
          .join(exact, Seq("q_id", "vec_id"), "left")
          .select(col("q_id"), col("pos"),
            coalesce(lit(11) - col("exact_rank"), lit(0)).cast("long").as("rel"))
          .groupBy(col("q_id"))
          .agg(sum(col("rel") * element_at(wArr, col("pos").cast("int")))
              .as("dcg_micro"),
            min(when(col("rel") > 0, col("pos"))).as("first_rel"))
          .select(lit(route).as("route"), col("q_id"),
            coalesce(expr("1000000 div first_rel"), lit(0L)).as("rr_micro"),
            col("dcg_micro"),
            expr(s"dcg_micro * 1000000 div $IdcgMicro").as("ndcg_micro"))
      metrics("graph", beamSearch(s, dir))
        .unionByName(metrics("ivf_trained", annIvfTrained.run(s, dir)))
        .orderBy(col("route"), col("q_id"))
    },
    Some {
      val wRows = DcgW.zipWithIndex
        .map { case (w, i) => s"(${i + 1}, ${w})" }.mkString(", ")
      s"""WITH $beamCtes,
           exact AS (SELECT q_id, vec_id, rank AS exact_rank FROM (
               SELECT q.q_id, e.vec_id, row_number() OVER (PARTITION BY q.q_id
                 ORDER BY round(${sqlCos("e.embedding", "q.q_emb")}, 4) DESC,
                          e.vec_id) AS rank
               FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id)
             WHERE rank <= 10),
           qq AS (SELECT vec_id AS q_id, embedding AS q_emb, cluster
                  FROM bm WHERE vec_id < 8),
           ivf AS (SELECT q_id, vec_id, rank FROM (
               SELECT t.q_id, t.vec_id, row_number() OVER (PARTITION BY t.q_id
                 ORDER BY t.cos_sim DESC, t.vec_id) AS rank
               FROM (SELECT c.q_id, m.vec_id,
                       round(${sqlCos("m.embedding", "c.q_emb")}, 4) AS cos_sim
                     FROM bm m JOIN qq c ON c.cluster = m.cluster
                     WHERE m.vec_id <> c.q_id) t) WHERE rank <= 10),
           dw(pos, w) AS (VALUES $wRows),
           lists AS (SELECT 'graph' AS route, q_id, vec_id, rank AS pos
                       FROM beam_out
                     UNION ALL
                     SELECT 'ivf_trained', q_id, vec_id, rank FROM ivf),
           graded AS (SELECT l.route, l.q_id, l.pos,
               CAST(coalesce(11 - e.exact_rank, 0) AS BIGINT) AS rel
             FROM lists l LEFT JOIN exact e
               ON e.q_id = l.q_id AND e.vec_id = l.vec_id),
           agg AS (SELECT route, q_id,
               CAST(sum(rel * dw.w) AS BIGINT) AS dcg_micro,
               min(CASE WHEN rel > 0 THEN graded.pos END) AS first_rel
             FROM graded JOIN dw ON dw.pos = graded.pos
             GROUP BY route, q_id)
           SELECT route, q_id,
             CAST(coalesce(1000000 // first_rel, 0) AS BIGINT) AS rr_micro,
             dcg_micro,
             CAST(dcg_micro * 1000000 // $IdcgMicro AS BIGINT) AS ndcg_micro
           FROM agg ORDER BY route, q_id"""
    })

  /** TRAINED-CELL IVF top-k: the [[annIvf]] shape with the coarse
    * quantizer REPLACED by the k-means assignment ([[kmeansAssign]]'s
    * nearest-of-8-seeds cells) — the difference between "partition by
    * whatever metadata column happened to exist" and "partition by the
    * geometry", which is what a real IVF build does (train cells, then
    * invert). On this corpus the metadata labels are NOT geometric
    * (emb_silhouette ≈ −0.11), so label-IVF recall sits at 0.125 while
    * the trained cells recover actual neighborhoods —
    * [[annIvfTrainedRecall]] measures the gap side by side. Same 100 TB
    * shape as annIvf: centroids broadcast, scoring map-side within the
    * query's cell, one candidate shuffle. */
  val annIvfTrained = GraftQuery(
    "ann_ivf_trained_topk",
    (s, dir) => {
      val m = kmeansAssign(s, t(s, dir, "embeddings"))
        .select(col("vec_id"), col("cluster"), col("embedding")).transform(Pin.reuse)
      val q = m.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("cluster"))
      val scored = m.join(broadcast(q), Seq("cluster"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(cosine("embedding", "q_emb"), 4).as("cos_sim"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""WITH $sqlAssign,
             mm AS (SELECT a.vec_id, a.cluster, e.embedding
                    FROM assign a JOIN embeddings e USING (vec_id)),
             qq AS (SELECT vec_id AS q_id, embedding AS q_emb, cluster
                    FROM mm WHERE vec_id < 8),
             scored AS (SELECT q.q_id, m.vec_id,
                 round(${sqlCos("m.embedding", "q.q_emb")}, 4) AS cos_sim
               FROM mm m JOIN qq q ON q.cluster = m.cluster
               WHERE m.vec_id <> q.q_id),
             ranked AS (SELECT q_id, vec_id, cos_sim,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_sim DESC, vec_id) AS rank
               FROM scored)
             SELECT q_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank
             FROM ranked WHERE rank <= 10 ORDER BY q_id, rank"""))

  /** Label-IVF vs trained-IVF vs brute, per query — the one-table answer
    * to "does training the coarse quantizer pay on this corpus": both
    * index routes' recall@10 against the exact top-10, side by side. */
  val annIvfTrainedRecall = GraftQuery(
    "ann_ivf_trained_recall",
    (s, dir) => {
      val exact = annBruteTopK.run(s, dir).select(col("q_id"), col("vec_id"))
      def hits(cand: DataFrame, name: String): DataFrame = exact
        .join(cand.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"),
          "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as(name))
      exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
        .join(hits(annIvf.run(s, dir), "n_hit_label"), Seq("q_id"), "left")
        .join(hits(annIvfTrained.run(s, dir), "n_hit_trained"), Seq("q_id"), "left")
        .select(col("q_id"), col("n_exact"),
          coalesce(col("n_hit_label"), lit(0L)).as("n_hit_label"),
          coalesce(col("n_hit_trained"), lit(0L)).as("n_hit_trained"),
          expr("coalesce(n_hit_label, 0) * 1000000 div 10").as("recall_label_micro"),
          expr("coalesce(n_hit_trained, 0) * 1000000 div 10").as("recall_trained_micro"))
        .orderBy(col("q_id"))
    },
    Some(s"""WITH $sqlAssign,
             mm AS (SELECT a.vec_id, a.cluster, e.embedding
                    FROM assign a JOIN embeddings e USING (vec_id)),
             q AS (SELECT vec_id AS q_id, embedding AS q_emb, label
                   FROM embeddings WHERE vec_id < 8),
             qq AS (SELECT vec_id AS q_id, embedding AS q_emb, cluster
                    FROM mm WHERE vec_id < 8),
             exact AS (
               SELECT q_id, vec_id FROM (
                 SELECT q.q_id, e.vec_id,
                   row_number() OVER (PARTITION BY q.q_id
                     ORDER BY round(${sqlCos("e.embedding", "q.q_emb")}, 4) DESC,
                              e.vec_id) AS rank
                 FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id)
               WHERE rank <= 10),
             lab AS (
               SELECT q_id, vec_id FROM (
                 SELECT q.q_id, e.vec_id,
                   row_number() OVER (PARTITION BY q.q_id
                     ORDER BY round(${sqlCos("e.embedding", "q.q_emb")}, 4) DESC,
                              e.vec_id) AS rank
                 FROM embeddings e JOIN q ON e.label = q.label
                 WHERE e.vec_id <> q.q_id)
               WHERE rank <= 10),
             trn AS (
               SELECT q_id, vec_id FROM (
                 SELECT q.q_id, m.vec_id,
                   row_number() OVER (PARTITION BY q.q_id
                     ORDER BY round(${sqlCos("m.embedding", "q.q_emb")}, 4) DESC,
                              m.vec_id) AS rank
                 FROM mm m JOIN qq q ON q.cluster = m.cluster
                 WHERE m.vec_id <> q.q_id)
               WHERE rank <= 10),
             hl AS (SELECT e.q_id, count(*) AS n FROM exact e
                    JOIN lab l ON l.q_id = e.q_id AND l.vec_id = e.vec_id
                    GROUP BY e.q_id),
             ht AS (SELECT e.q_id, count(*) AS n FROM exact e
                    JOIN trn t ON t.q_id = e.q_id AND t.vec_id = e.vec_id
                    GROUP BY e.q_id)
             SELECT e.q_id, count(*) AS n_exact,
               coalesce(any_value(hl.n), 0) AS n_hit_label,
               coalesce(any_value(ht.n), 0) AS n_hit_trained,
               CAST(coalesce(any_value(hl.n), 0) * 1000000 // 10 AS BIGINT)
                 AS recall_label_micro,
               CAST(coalesce(any_value(ht.n), 0) * 1000000 // 10 AS BIGINT)
                 AS recall_trained_micro
             FROM exact e
             LEFT JOIN hl ON hl.q_id = e.q_id
             LEFT JOIN ht ON ht.q_id = e.q_id
             GROUP BY e.q_id ORDER BY e.q_id"""))

  /** Two-level deterministic cell assignment shared by the hierarchical
    * IVF entry: coarse = nearest of the 4 seed embeddings (vec_id < 4),
    * fine = nearest of the member's coarse cell's OWN 4 lowest-vec_id
    * seeds — [[kmeansAssign]]'s packed-argmax trick at both levels (radix
    * 8, 4-dp cosine, ties toward the lowest seed id). The fine-seed
    * window shuffles one narrow row per vector once; its output (and
    * both seed tables) is model-sized and broadcast, so each level costs
    * exactly one partial-agg argmax shuffle — the
    * [[graft.operators.KMeans.trainHierarchical]] serving shape with the
    * trained centroids replaced by deterministic seeds so DuckDB can
    * reproduce every cell boundary. */
  private def hierAssign(s: SparkSession, e: DataFrame): DataFrame = {
    val cs = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val coarse = e.crossJoin(broadcast(cs))
      .select(col("vec_id"), col("embedding"), col("c_id"),
        floor(cosine("embedding", "c_emb") * lit(1e4) + lit(0.5))
          .as("cs_scaled"))
      .withColumn("packed",
        (col("cs_scaled") + 10000L) * 8L + (lit(7L) - col("c_id")))
      .groupBy(col("vec_id"))
      .agg(max(col("packed")).as("best"), first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"),
        (lit(7L) - (col("best") % 8)).as("coarse"))
    val sw = Window.partitionBy(col("coarse")).orderBy(col("vec_id"))
    val fs = coarse.withColumn("rn", row_number().over(sw))
      .filter(col("rn") <= 4)
      .select(col("coarse"), (col("rn") - 1).cast("long").as("f_id"),
        col("embedding").as("f_emb"))
    coarse.join(broadcast(fs), Seq("coarse"))
      .select(col("vec_id"), col("embedding"), col("coarse"), col("f_id"),
        floor(cosine("embedding", "f_emb") * lit(1e4) + lit(0.5))
          .as("fs_scaled"))
      .withColumn("packed",
        (col("fs_scaled") + 10000L) * 8L + (lit(7L) - col("f_id")))
      .groupBy(col("vec_id"), col("coarse"))
      .agg(max(col("packed")).as("best"), first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"), col("coarse"),
        (lit(7L) - (col("best") % 8)).as("f_id"))
  }

  /** HIERARCHICAL (coarse x fine) IVF top-k: the inverted file keyed by
    * TWO nested quantizer levels — 4 coarse cells x up to 4 fine cells
    * each = 16 effective posting lists here, the shape that takes
    * production IVF past the flat quantizer's k <= 256 radix cap (256
    * coarse x 256 fine = 65,536 cells; see KMeans.trainHierarchical and
    * the api.SimilaritySearch.ivfHierTopK serving twin, which swap these
    * deterministic seeds for trained centroids). Each query (a corpus
    * member, so its cell IS its routing) scores only its own
    * (coarse, fine) posting list. 100 TB shape: both seed tables and the
    * query batch broadcast, routing and scoring are map-side, and the
    * only corpus-sized exchanges are the two argmax partial-aggs and the
    * final per-query top-k — cell granularity grew 16x over ann_ivf with
    * zero additional corpus shuffles. */
  val annIvfHier = GraftQuery(
    "ann_ivf_hier_topk",
    (s, dir) => {
      val m = Pin.reuse(hierAssign(s, t(s, dir, "embeddings")))
      val q = m.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("coarse"), col("f_id"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      m.join(broadcast(q), Seq("coarse", "f_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(cosine("embedding", "q_emb"), 4).as("cos_sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""WITH cseeds AS (SELECT vec_id AS c_id, embedding AS c_emb
                             FROM embeddings WHERE vec_id < 4),
             cscore AS (SELECT e.vec_id, e.embedding, s.c_id,
                 floor(${sqlCos("e.embedding", "s.c_emb")} * 1e4 + 0.5) AS cs
               FROM embeddings e CROSS JOIN cseeds s),
             coarse AS (SELECT vec_id, embedding, coarse FROM (
                 SELECT vec_id, embedding, c_id AS coarse,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY cs DESC, c_id) AS rn
                 FROM cscore) WHERE rn = 1),
             fseeds AS (SELECT coarse, CAST(rn - 1 AS BIGINT) AS f_id,
                 embedding AS f_emb FROM (
                 SELECT coarse, vec_id, embedding,
                   row_number() OVER (PARTITION BY coarse
                     ORDER BY vec_id) AS rn
                 FROM coarse) WHERE rn <= 4),
             fscore AS (SELECT c.vec_id, c.embedding, c.coarse, f.f_id,
                 floor(${sqlCos("c.embedding", "f.f_emb")} * 1e4 + 0.5) AS fs
               FROM coarse c JOIN fseeds f USING (coarse)),
             cells AS (SELECT vec_id, embedding, coarse, f_id FROM (
                 SELECT vec_id, embedding, coarse, f_id,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY fs DESC, f_id) AS rn
                 FROM fscore) WHERE rn = 1),
             q AS (SELECT vec_id AS q_id, embedding AS q_emb, coarse, f_id
                   FROM cells WHERE vec_id < 8),
             scored AS (SELECT q.q_id, m.vec_id,
                 round(${sqlCos("m.embedding", "q.q_emb")}, 4) AS cos_sim
               FROM cells m JOIN q USING (coarse, f_id)
               WHERE m.vec_id <> q.q_id),
             ranked AS (SELECT q_id, vec_id, cos_sim,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_sim DESC, vec_id) AS rank
               FROM scored)
             SELECT q_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank
             FROM ranked WHERE rank <= 10 ORDER BY q_id, rank"""))

  /** EMBEDDING-SPACE OUTLIER SCORING (OOD data cleaning): distance of each
    * vector to its label's centroid, z-scored within the label — the
    * "drop the weird samples" gate embedding pipelines run before
    * training. Float discipline is the strongest in the file: components
    * are scaled to EXACT integers (1e6 fixed point), and because
    * cos(x, s/n) == cos(x, s), the centroid's divisor cancels — the dot
    * product and both norms are computed over exact integer vectors
    * (|s|^2 in decimal128: it exceeds int64 at bench scale), so no
    * aggregation order anywhere can flip a bit. The z-score then reuses
    * the ev_anomaly_zscore integer-moment shape over the quantized
    * distances. Centroids are k x dim — broadcast; corpus scanned twice
    * (centroid build + scoring), never self-joined. */
  val oodScore = GraftQuery(
    "emb_ood_score",
    (s, dir) => {
      val x6 = t(s, dir, "embeddings").select(col("vec_id"), col("label"),
        expr("transform(embedding, v -> cast(floor(cast(v as double) * 1e6 + 0.5) as bigint))")
          .as("x"))
      val sums: Seq[Column] = (0 until Dim).map(i => sum(col("x").getItem(i)).as(s"s$i"))
      val cent = x6.groupBy(col("label"))
        .agg(sums.head, sums.tail: _*)
        .select(col("label"), array((0 until Dim).map(i => col(s"s$i")): _*).as("sv"))
      val scored = x6.join(broadcast(cent), "label")
        .withColumn("dot", expr(
          "aggregate(zip_with(x, sv, (a, b) -> a * b), cast(0 as bigint), (acc, v) -> acc + v)"))
        .withColumn("xl2", expr(
          "aggregate(x, cast(0 as bigint), (acc, v) -> acc + v * v)"))
        // zero-norm guard: a degenerate all-zero vector (or centroid) would
        // make the cosine 0/0 and engines disagree on NaN casts
        .filter(col("xl2") > 0)
        .withColumn("sl2", expr(
          "aggregate(sv, cast(0 as decimal(38,0)), (acc, v) -> acc + cast(v as decimal(38,0)) * v)"))
        .withColumn("d6", expr(
          """cast(1000000 - floor(cast(dot as double)
             / (sqrt(cast(xl2 as double)) * sqrt(cast(sl2 as double)))
             * 1e6 + 0.5) as bigint)"""))
        .select(col("vec_id"), col("label"), col("d6"))
        // cached: read by the stats build AND the final probe — without it
        // the corpus scan + fixed-point folds run twice
        .transform(Pin.reuse)
      val stats = scored.groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(col("d6")).as("s1"),
          sum(col("d6") * col("d6")).as("s2"))
        .select(col("label"),
          expr("cast(s1 as double) / n").as("mean6"),
          expr("""sqrt(greatest(cast(s2 as double) / n
                 - pow(cast(s1 as double) / n, 2), cast(0.0 as double)))""").as("std6"))
      scored.join(broadcast(stats), "label")
        .filter(col("std6") > 0)
        .withColumn("z", expr("floor((d6 - mean6) / std6 * 1e4 + 0.5) / 1e4"))
        .filter(col("z") >= 2.0)
        .select(col("vec_id"), col("label"), expr("d6 / 1e6").as("dist"), col("z"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH x6 AS (
              SELECT vec_id, label,
                list_transform(embedding,
                  v -> CAST(floor(CAST(v AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS x
              FROM embeddings),
            cent AS (
              SELECT label, list(s ORDER BY dim) AS sv FROM (
                SELECT label, dim, CAST(sum(x[dim]) AS BIGINT) AS s
                FROM x6 CROSS JOIN LATERAL
                  (SELECT unnest(generate_series(1, 64)) AS dim) g
                GROUP BY label, dim)
              GROUP BY label),
            scored AS (
              SELECT vec_id, x6.label,
                CAST(1000000 - floor(
                  CAST(list_sum(list_transform(generate_series(1, 64),
                    i -> x[i] * sv[i])) AS DOUBLE)
                  / (sqrt(CAST(list_sum(list_transform(generate_series(1, 64),
                       i -> x[i] * x[i])) AS DOUBLE))
                     * sqrt(CAST(list_sum(list_transform(generate_series(1, 64),
                         i -> CAST(sv[i] AS HUGEINT) * sv[i])) AS DOUBLE)))
                  * 1e6 + 0.5) AS BIGINT) AS d6
              FROM x6 JOIN cent ON cent.label = x6.label
              WHERE list_sum(list_transform(generate_series(1, 64),
                      i -> x[i] * x[i])) > 0),
            stats AS (
              SELECT label,
                CAST(sum(d6) AS DOUBLE) / count(*) AS mean6,
                sqrt(greatest(CAST(sum(d6 * d6) AS DOUBLE) / count(*)
                  - pow(CAST(sum(d6) AS DOUBLE) / count(*), 2),
                  CAST(0.0 AS DOUBLE))) AS std6
              FROM scored GROUP BY label)
            SELECT vec_id, label, d6 / 1e6 AS dist,
              floor((d6 - mean6) / std6 * 1e4 + 0.5) / 1e4 AS z
            FROM scored JOIN stats USING (label)
            WHERE std6 > 0
              AND floor((d6 - mean6) / std6 * 1e4 + 0.5) / 1e4 >= 2.0
            ORDER BY vec_id"""))

  /** SIMPLIFIED SILHOUETTE per label (centroid form; Rousseeuw 1987's
    * panel at O(n·k) instead of O(n²)): s = (b − a) / max(a, b) with
    * a = cosine distance to the OWN label centroid, b = the nearest OTHER
    * centroid — the clustering-quality evaluation that closes this file's
    * kmeans family (seed → assign → update → train → EVALUATE): mean s
    * near 1 = compact and separated, near 0 = touching, negative =
    * misassigned. On this corpus every label lands ≈ −0.11: the `label`
    * column is metadata, NOT a geometric clustering — which is precisely
    * the health check's job (don't trust these as IVF cells without
    * re-clustering; run the same panel on emb_kmeans_assign's output to
    * evaluate trained cells). Exactness: the emb_ood_score machinery
    * verbatim —
    * 1e6-fixed-point vectors, exact-integer centroid sums with the
    * cos(x, s/n) = cos(x, s) cancellation, micro distances — then BOTH
    * divisions ride the +max/+n·1e6 non-negativity shifts (the
    * graph_modularity discipline) so truncating and flooring div agree on
    * the possibly-negative silhouettes. Shapes: one corpus scan against
    * the label-count-bounded centroid broadcast, per-vector (a, b) from a
    * vector-keyed aggregation, label-sized output. */
  val silhouette = GraftQuery(
    "emb_silhouette",
    (s, dir) => {
      val x6 = t(s, dir, "embeddings").select(col("vec_id"), col("label"),
        expr("transform(embedding, v -> cast(floor(cast(v as double) * 1e6 + 0.5) as bigint))")
          .as("x"))
      val sums: Seq[Column] = (0 until Dim).map(i => sum(col("x").getItem(i)).as(s"s$i"))
      val cent = x6.groupBy(col("label"))
        .agg(sums.head, sums.tail: _*)
        .select(col("label").as("clabel"), array((0 until Dim).map(i => col(s"s$i")): _*).as("sv"))
      val scored = x6
        .withColumn("xl2", expr(
          "aggregate(x, cast(0 as bigint), (acc, v) -> acc + v * v)"))
        .filter(col("xl2") > 0)
        .crossJoin(broadcast(cent))
        .withColumn("dot", expr(
          "aggregate(zip_with(x, sv, (a, b) -> a * b), cast(0 as bigint), (acc, v) -> acc + v)"))
        .withColumn("sl2", expr(
          "aggregate(sv, cast(0 as decimal(38,0)), (acc, v) -> acc + cast(v as decimal(38,0)) * v)"))
        .withColumn("d6", expr(
          """cast(1000000 - floor(cast(dot as double)
             / (sqrt(cast(xl2 as double)) * sqrt(cast(sl2 as double)))
             * 1e6 + 0.5) as bigint)"""))
      scored.groupBy(col("vec_id"), col("label"))
        .agg(min(when(col("clabel") === col("label"), col("d6"))).as("a"),
          min(when(col("clabel") =!= col("label"), col("d6"))).as("b"))
        .withColumn("s_micro", expr(
          "((b - a) + greatest(a, b)) * 1000000 div nullif(greatest(a, b), 0) - 1000000"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"), sum(col("s_micro")).as("s_sum"))
        .select(col("label"), col("n_vectors"), col("s_sum"),
          expr("(s_sum + n_vectors * 1000000) div n_vectors - 1000000")
            .as("mean_s_micro"))
        .orderBy(col("label"))
    },
    Some("""WITH x6 AS (
              SELECT vec_id, label,
                list_transform(embedding,
                  v -> CAST(floor(CAST(v AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS x
              FROM embeddings),
            cent AS (
              SELECT label AS clabel, list(s ORDER BY dim) AS sv FROM (
                SELECT label, dim, CAST(sum(x[dim]) AS BIGINT) AS s
                FROM x6 CROSS JOIN LATERAL
                  (SELECT unnest(generate_series(1, 64)) AS dim) g
                GROUP BY label, dim)
              GROUP BY label),
            scored AS (
              SELECT vec_id, x6.label, cent.clabel,
                CAST(1000000 - floor(
                  CAST(list_sum(list_transform(generate_series(1, 64),
                    i -> x[i] * sv[i])) AS DOUBLE)
                  / (sqrt(CAST(list_sum(list_transform(generate_series(1, 64),
                       i -> x[i] * x[i])) AS DOUBLE))
                     * sqrt(CAST(list_sum(list_transform(generate_series(1, 64),
                         i -> CAST(sv[i] AS HUGEINT) * sv[i])) AS DOUBLE)))
                  * 1e6 + 0.5) AS BIGINT) AS d6
              FROM x6 CROSS JOIN cent
              WHERE list_sum(list_transform(generate_series(1, 64),
                      i -> x[i] * x[i])) > 0),
            ab AS (
              SELECT vec_id, label,
                min(CASE WHEN clabel = label THEN d6 END) AS a,
                min(CASE WHEN clabel <> label THEN d6 END) AS b
              FROM scored GROUP BY vec_id, label),
            sil AS (
              SELECT label,
                ((b - a) + greatest(a, b)) * 1000000
                  // nullif(greatest(a, b), 0) - 1000000 AS s_micro
              FROM ab)
            SELECT label, count(*) AS n_vectors,
              CAST(sum(s_micro) AS BIGINT) AS s_sum,
              (CAST(sum(s_micro) AS BIGINT) + count(*) * 1000000) // count(*)
                - 1000000 AS mean_s_micro
            FROM sil GROUP BY label ORDER BY label"""))

  /** DIMENSION-TRUNCATION RECALL EVAL (Matryoshka-style planning): for
    * each dim budget D in {8,16,32,64}, rank the corpus by cosine over the
    * FIRST D components (both sides truncated — the MRL convention) and
    * report recall@10 against the full-width exact top-10. This is the
    * storage/recall planning table for truncatable embeddings: it answers
    * "how many dims can the index drop before recall degrades", the same
    * question [[annRecallEval]] answers for cell pruning.
    *
    * Shape: a corpus x 8-broadcast-query scoring pass with the budget
    * explode BEFORE scoring so every (query, budget) ranking shares the
    * scan; only (q_id, budget, vec_id) triples reach the ranking window
    * and the recall join (the ranked subtree executes once per consumer —
    * twice — and the zero-hit grid is enumerated literally, never from the
    * ranking). Same round-4 + vec_id tie-break determinism as every ANN
    * ranking here. */
  val dimTruncationEval = GraftQuery(
    "ann_dim_truncation_eval",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      def dotD(a: String, b: String) = expr(
        s"""aggregate(zip_with(slice($a, 1, d_budget), slice($b, 1, d_budget),
            (x, y) -> cast(x as double) * cast(y as double)),
            cast(0.0 as double), (acc, v) -> acc + v)""")
      val top = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("d_budget", explode(array(lit(8), lit(16), lit(32), lit(64))))
        .withColumn("cs", round(
          dotD("embedding", "q_emb") /
            (sqrt(dotD("embedding", "embedding")) * sqrt(dotD("q_emb", "q_emb"))), 4))
        .withColumn("rank", row_number().over(Window
          .partitionBy(col("q_id"), col("d_budget"))
          .orderBy(col("cs").desc, col("vec_id"))))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("d_budget"), col("vec_id"))
      val exact = top.filter(col("d_budget") === 64)
        .select(col("q_id"), col("vec_id"))
      val hits = top.join(exact, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id"), col("d_budget")).agg(count(lit(1)).as("n_hit"))
      // a budget can score ZERO exact hits — keep its row via the grid.
      // The grid is literally q_ids x budgets (32 rows): enumerating it
      // from `top` would re-execute the whole scoring subtree a third time
      val grid = q.select(col("q_id"))
        .withColumn("d_budget", explode(array(lit(8), lit(16), lit(32), lit(64))))
      grid
        .join(hits, Seq("q_id", "d_budget"), "left")
        .select(col("q_id"), col("d_budget"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(10.0)).as("recall_at_10"))
        .orderBy(col("q_id"), col("d_budget"))
    },
    Some {
      def dotD(a: String, b: String) =
        s"""list_sum(list_transform(generate_series(1, d.d_budget),
            i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"""
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
                     FROM embeddings WHERE vec_id < 8),
           d AS (SELECT unnest([8, 16, 32, 64]) AS d_budget),
           scored AS (
             SELECT q.q_id, d.d_budget, e.vec_id,
               round(${dotD("e.embedding", "q.q_emb")}
                 / (sqrt(${dotD("e.embedding", "e.embedding")})
                    * sqrt(${dotD("q.q_emb", "q.q_emb")})), 4) AS cs
             FROM embeddings e CROSS JOIN q CROSS JOIN d
             WHERE e.vec_id <> q.q_id),
           top AS (SELECT q_id, d_budget, vec_id FROM (
                     SELECT q_id, d_budget, vec_id,
                       row_number() OVER (PARTITION BY q_id, d_budget
                         ORDER BY cs DESC, vec_id) AS rank
                     FROM scored)
                   WHERE rank <= 10),
           exact AS (SELECT q_id, vec_id FROM top WHERE d_budget = 64),
           hits AS (SELECT t.q_id, t.d_budget, count(*) AS n_hit
                    FROM top t JOIN exact x
                      ON x.q_id = t.q_id AND x.vec_id = t.vec_id
                    GROUP BY t.q_id, t.d_budget),
           grid AS (SELECT q.q_id, d.d_budget FROM q CROSS JOIN d)
           SELECT g.q_id, g.d_budget,
             CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
             CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 10.0 AS recall_at_10
           FROM grid g LEFT JOIN hits h
             ON h.q_id = g.q_id AND h.d_budget = g.d_budget
           ORDER BY g.q_id, g.d_budget"""
    })

  /** IVF PROBE-COUNT SWEEP: recall@10 when probing the query's top-1/2/4
    * cells ranked by CENTROID cosine — the nprobe tuning curve every IVF
    * deployment reads before fixing its recall/cost point ([[annIvf]]
    * probes exactly one cell, and by label identity rather than centroid
    * geometry; this measures what widening the probe set buys). Cell
    * centroids are the [[oodScore]] exact-integer sum-vectors (cos is
    * scale-invariant so the divisor cancels), the per-query cell ranking
    * is the usual round-4 + tie-break discipline, and candidates reach the
    * scoring join only from probed cells — the corpus is never scanned
    * per probe, the probe explode happens on the (query, cell) ranking. */
  val probeSweep = GraftQuery(
    "ann_probe_sweep",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val qx = q.select(col("q_id"),
        expr("""transform(q_emb, v ->
             cast(floor(cast(v as double) * 1e6 + 0.5) as bigint))""").as("qx"))
      val x6 = e.select(col("label"),
        expr("""transform(embedding, v ->
             cast(floor(cast(v as double) * 1e6 + 0.5) as bigint))""").as("x"))
      val sums: Seq[Column] = (0 until Dim).map(i => sum(col("x").getItem(i)).as(s"s$i"))
      val cent = x6.groupBy(col("label")).agg(sums.head, sums.tail: _*)
        .select(col("label"), array((0 until Dim).map(i => col(s"s$i")): _*).as("sv"))
      val cellRank = qx.crossJoin(broadcast(cent))
        .withColumn("dot", expr(
          "aggregate(zip_with(qx, sv, (a, b) -> a * b), cast(0 as bigint), (acc, v) -> acc + v)"))
        .withColumn("q2", expr(
          "aggregate(qx, cast(0 as bigint), (acc, v) -> acc + v * v)"))
        .withColumn("s2", expr(
          "aggregate(sv, cast(0 as decimal(38,0)), (acc, v) -> acc + cast(v as decimal(38,0)) * v)"))
        .withColumn("cc", round(expr(
          "cast(dot as double) / (sqrt(cast(q2 as double)) * sqrt(cast(s2 as double)))"), 4))
        .withColumn("cell_rank", row_number().over(Window
          .partitionBy(col("q_id")).orderBy(col("cc").desc, col("label"))))
        .select(col("q_id"), col("label"), col("cell_rank"))
      val probed = cellRank
        .withColumn("probe", explode(array(lit(1), lit(2), lit(4))))
        .filter(col("cell_rank") <= col("probe"))
        .select(col("q_id"), col("label"), col("probe"))
      val top = e.join(probed, Seq("label"))
        .join(broadcast(q), Seq("q_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("probe"), col("vec_id"),
          round(cosine("embedding", "q_emb"), 4).as("cs"))
        .withColumn("rank", row_number().over(Window
          .partitionBy(col("q_id"), col("probe"))
          .orderBy(col("cs").desc, col("vec_id"))))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("probe"), col("vec_id"))
      val exact = annBruteTopK.run(s, dir).select(col("q_id"), col("vec_id"))
      val hits = top.join(exact, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id"), col("probe")).agg(count(lit(1)).as("n_hit"))
      q.select(col("q_id"))
        .withColumn("probe", explode(array(lit(1), lit(2), lit(4))))
        .join(hits, Seq("q_id", "probe"), "left")
        .select(col("q_id"), col("probe"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(10.0)).as("recall_at_10"))
        .orderBy(col("q_id"), col("probe"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
                        FROM embeddings WHERE vec_id < 8),
           qdim AS (SELECT q_id, d,
                CAST(floor(CAST(q_emb[d] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS qx
              FROM q CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) ds),
           cdim AS (SELECT label, d,
                CAST(sum(CAST(floor(CAST(embedding[d] AS DOUBLE) * 1e6 + 0.5)
                  AS BIGINT)) AS BIGINT) AS sv
              FROM embeddings CROSS JOIN
                (SELECT unnest(generate_series(1, 64)) AS d) ds
              GROUP BY label, d),
           cnorm AS (SELECT label,
                CAST(sum(CAST(sv AS HUGEINT) * sv) AS HUGEINT) AS s2
              FROM cdim GROUP BY label),
           qnorm AS (SELECT q_id, CAST(sum(qx * qx) AS BIGINT) AS q2
                     FROM qdim GROUP BY q_id),
           cdot AS (SELECT qd.q_id, cd.label,
                CAST(sum(qd.qx * cd.sv) AS BIGINT) AS dot
              FROM qdim qd JOIN cdim cd ON cd.d = qd.d
              GROUP BY qd.q_id, cd.label),
           cells AS (SELECT q_id, label,
                row_number() OVER (PARTITION BY q_id ORDER BY
                  round(CAST(dot AS DOUBLE)
                    / (sqrt(CAST(q2 AS DOUBLE)) * sqrt(CAST(s2 AS DOUBLE))), 4)
                  DESC, label) AS cell_rank
              FROM cdot JOIN qnorm USING (q_id) JOIN cnorm USING (label)),
           probed AS (SELECT q_id, label, p.probe
              FROM cells CROSS JOIN
                (SELECT unnest([1, 2, 4]) AS probe) p
              WHERE cell_rank <= probe),
           top AS (SELECT q_id, probe, vec_id FROM (
                SELECT pr.q_id, pr.probe, e.vec_id,
                  row_number() OVER (PARTITION BY pr.q_id, pr.probe
                    ORDER BY round(${sqlCos("e.embedding", "q.q_emb")}, 4)
                      DESC, e.vec_id) AS rank
                FROM probed pr JOIN embeddings e ON e.label = pr.label
                JOIN q ON q.q_id = pr.q_id
                WHERE e.vec_id <> pr.q_id)
              WHERE rank <= 10),
           exact AS (SELECT q_id, vec_id FROM (
                SELECT q.q_id, e.vec_id,
                  row_number() OVER (PARTITION BY q.q_id
                    ORDER BY round(${sqlCos("e.embedding", "q.q_emb")}, 4)
                      DESC, e.vec_id) AS rank
                FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id)
              WHERE rank <= 10),
           hits AS (SELECT t.q_id, t.probe, count(*) AS n_hit
              FROM top t JOIN exact x
                ON x.q_id = t.q_id AND x.vec_id = t.vec_id
              GROUP BY t.q_id, t.probe),
           grid AS (SELECT q.q_id, p.probe FROM q CROSS JOIN
                (SELECT unnest([1, 2, 4]) AS probe) p)
           SELECT g.q_id, g.probe,
             CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
             CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 10.0 AS recall_at_10
           FROM grid g LEFT JOIN hits h
             ON h.q_id = g.q_id AND h.probe = g.probe
           ORDER BY g.q_id, g.probe"""))

  /** EMBEDDING NORM PROFILE per label: min/max/mean squared L2 norm — the
    * norm-collapse / norm-explosion health check run on every embedding
    * refresh (collapsed norms ruin cosine retrieval; exploding norms flag a
    * training bug). The squared norm is the house ordered double fold
    * integer-scaled to micros BEFORE aggregation (the [[oodScore]]
    * discipline), so min/max/sum are exact integers and the mean one
    * non-negative integer division — no accumulation order anywhere.
    * Scan-side fold + one label-keyed partial-agg'd shuffle of four longs. */
  val normProfile = GraftQuery(
    "emb_norm_profile",
    (s, dir) => {
      val nsq = expr(
        s"""cast(floor(aggregate(transform(sequence(0, ${Dim - 1}),
              i -> cast(embedding[i] as double) * cast(embedding[i] as double)),
            cast(0.0 as double), (acc, v) -> acc + v) * 1e6 + 0.5) as bigint)""")
      t(s, dir, "embeddings")
        .select(col("label"), nsq.as("nsq_micro"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          min(col("nsq_micro")).as("min_nsq"),
          max(col("nsq_micro")).as("max_nsq"),
          expr("cast(sum(nsq_micro) div count(1) as bigint)").as("avg_nsq"))
        .orderBy(col("label"))
    },
    Some("""SELECT label, count(*) AS n,
              min(nsq) AS min_nsq, max(nsq) AS max_nsq,
              CAST(CAST(sum(nsq) AS BIGINT) // count(*) AS BIGINT) AS avg_nsq
            FROM (SELECT label,
                    CAST(floor(list_sum(list_transform(generate_series(1, 64),
                      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
                      * 1e6 + 0.5) AS BIGINT) AS nsq
                  FROM embeddings)
            GROUP BY label ORDER BY label"""))

  /** INTER-CLASS CENTROID MARGIN: pairwise cosine similarity between label
    * centroids — the separation panel an embedding refresh is judged by
    * (classes whose centroids drift together explain retrieval confusion
    * before any per-query debugging). Exactness: per-dim components scale
    * to integer micros BEFORE summation, the centroid division is shifted
    * non-negative (+2e6 per component, embeddings are unit-scale) so
    * truncating div == floor div across engines, and the pairwise dot/norm
    * sums are exact BIGINTs (64 dims x ~1e6-scale ints < 2^53); only the
    * final cosine is a double (one fused op tree, floor-scaled to 6 dp).
    * Everything after the one (label, dim)-keyed partial-agg shuffle runs
    * on label-count-bounded rows. */
  val labelMargin = GraftQuery(
    "emb_label_margin",
    (s, dir) => {
      val cent = t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy(col("label"), col("d"))
        .agg(sum(expr("cast(floor(cast(x as double) * 1e6 + 0.5) as bigint)")).as("sx"),
          count(lit(1)).as("n"))
        .select(col("label"), col("d"),
          (expr("(sx + n * 2000000) div n") - 2000000L).as("c"))
      val norms = cent.groupBy(col("label"))
        .agg(sum(col("c") * col("c")).as("nsq"))
      val a = cent.select(col("label").as("label_a"), col("d"), col("c").as("ca"))
      val b = cent.select(col("label").as("label_b"), col("d"), col("c").as("cb"))
      a.join(b, "d").filter(col("label_a") < col("label_b"))
        .groupBy(col("label_a"), col("label_b"))
        .agg(sum(col("ca") * col("cb")).as("dot"))
        .join(broadcast(norms.select(col("label").as("label_a"), col("nsq").as("nsq_a"))), "label_a")
        .join(broadcast(norms.select(col("label").as("label_b"), col("nsq").as("nsq_b"))), "label_b")
        .select(col("label_a"), col("label_b"), col("dot"),
          expr("floor(dot / (sqrt(cast(nsq_a as double)) * sqrt(cast(nsq_b as double))) * 1e6 + 0.5) / 1e6")
            .as("cos_sim"))
        .orderBy(col("label_a"), col("label_b"))
    },
    Some("""WITH ex AS (
              SELECT label, g.d AS d,
                CAST(floor(CAST(embedding[g.d] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS xm
              FROM embeddings CROSS JOIN
                (SELECT unnest(generate_series(1, 64)) AS d) g),
            c AS (SELECT label, d,
                    CAST((CAST(sum(xm) AS BIGINT) + count(*) * 2000000) // count(*)
                      AS BIGINT) - 2000000 AS c
                  FROM ex GROUP BY label, d),
            n AS (SELECT label, CAST(sum(c * c) AS BIGINT) AS nsq FROM c GROUP BY label),
            p AS (SELECT a.label AS label_a, b.label AS label_b,
                    CAST(sum(a.c * b.c) AS BIGINT) AS dot
                  FROM c a JOIN c b ON a.d = b.d AND a.label < b.label
                  GROUP BY 1, 2)
            SELECT label_a, label_b, dot,
              floor(dot / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
                * 1e6 + 0.5) / 1e6 AS cos_sim
            FROM p JOIN n na ON na.label = p.label_a
                   JOIN n nb ON nb.label = p.label_b
            ORDER BY label_a, label_b"""))

  /** EMBEDDING CENTROID DRIFT — the embedding-space analog of
    * ev_value_psi's feature-drift gate: per label (plus an _overall row),
    * the cosine between the centroid of the even-vec_id slice and the
    * odd-vec_id slice (the deterministic stand-in for two ingestion
    * snapshots). A healthy stable corpus reads ≈ 1.0 everywhere; a
    * drifting encoder or source mix pulls a label's row down — the check
    * every embedding pipeline should run before trusting cached ANN
    * indexes across re-embeds. Same exact-integer discipline as
    * [[labelMargin]]: 1e6 fixed-point components, the centroid divisor
    * shifted non-negative so truncating and flooring div agree, cosine's
    * slice-count divisors cancel, one double division at the end floored
    * to 6 dp. Two (label, slice, dim)-keyed shuffles; centroids are
    * labels × 2 × dim rows.
    *
    * Fixture readout: this corpus's label centroids are near zero
    * (random directions), so per-label drift_cos is noise around 0 —
    * agreeing with [[silhouette]]'s −0.11 verdict that `label` is
    * metadata, not geometry. A production monitor alarms on a DROP from
    * an established high baseline; a baseline that was never high is
    * itself the finding. */
  val centroidDrift = GraftQuery(
    "emb_centroid_drift",
    (s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("label").cast("string").as("label"),
          (col("vec_id") % 2).cast("int").as("slice"), col("embedding"))
      val all = base.union(
        base.select(lit("_overall").as("label"), col("slice"), col("embedding")))
      val cent = all
        .select(col("label"), col("slice"),
          posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy(col("label"), col("slice"), col("d"))
        .agg(sum(expr("cast(floor(cast(x as double) * 1e6 + 0.5) as bigint)")).as("sx"),
          count(lit(1)).as("n"))
        .select(col("label"), col("slice"), col("d"),
          (expr("(sx + n * 2000000) div n") - 2000000L).as("c"))
      val norms = cent.groupBy(col("label"), col("slice"))
        .agg(sum(col("c") * col("c")).as("nsq"))
      val counts = all.groupBy(col("label"), col("slice"))
        .agg(count(lit(1)).as("n"))
      val a = cent.filter(col("slice") === 0)
        .select(col("label"), col("d"), col("c").as("ca"))
      val b = cent.filter(col("slice") === 1)
        .select(col("label"), col("d"), col("c").as("cb"))
      a.join(b, Seq("label", "d"))
        .groupBy(col("label"))
        .agg(sum(col("ca") * col("cb")).as("dot"))
        .join(broadcast(norms.filter(col("slice") === 0)
          .select(col("label"), col("nsq").as("nsq_a"))), "label")
        .join(broadcast(norms.filter(col("slice") === 1)
          .select(col("label"), col("nsq").as("nsq_b"))), "label")
        .join(broadcast(counts.filter(col("slice") === 0)
          .select(col("label"), col("n").as("n_even"))), "label")
        .join(broadcast(counts.filter(col("slice") === 1)
          .select(col("label"), col("n").as("n_odd"))), "label")
        .select(col("label"), col("n_even"), col("n_odd"), col("dot"),
          expr("floor(dot / (sqrt(cast(nsq_a as double)) * sqrt(cast(nsq_b as double))) * 1e6 + 0.5) / 1e6")
            .as("drift_cos"))
        .orderBy(col("label"))
    },
    Some("""WITH base AS (
              SELECT CAST(label AS VARCHAR) AS label,
                CAST(vec_id % 2 AS INTEGER) AS slice, embedding
              FROM embeddings
              UNION ALL
              SELECT '_overall', CAST(vec_id % 2 AS INTEGER), embedding
              FROM embeddings),
            ex AS (
              SELECT label, slice, g.d AS d,
                CAST(floor(CAST(embedding[g.d] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS xm
              FROM base CROSS JOIN
                (SELECT unnest(generate_series(1, 64)) AS d) g),
            c AS (SELECT label, slice, d,
                    CAST((CAST(sum(xm) AS BIGINT) + count(*) * 2000000) // count(*)
                      AS BIGINT) - 2000000 AS c
                  FROM ex GROUP BY label, slice, d),
            n AS (SELECT label, slice, CAST(sum(c * c) AS BIGINT) AS nsq
                  FROM c GROUP BY label, slice),
            cnt AS (SELECT label, slice, count(*) AS n FROM base GROUP BY label, slice),
            p AS (SELECT a.label, CAST(sum(a.c * b.c) AS BIGINT) AS dot
                  FROM c a JOIN c b ON b.label = a.label AND b.d = a.d
                    AND a.slice = 0 AND b.slice = 1
                  GROUP BY a.label)
            SELECT p.label, ce.n AS n_even, co.n AS n_odd, p.dot,
              floor(p.dot / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
                * 1e6 + 0.5) / 1e6 AS drift_cos
            FROM p JOIN n na ON na.label = p.label AND na.slice = 0
                   JOIN n nb ON nb.label = p.label AND nb.slice = 1
                   JOIN cnt ce ON ce.label = p.label AND ce.slice = 0
                   JOIN cnt co ON co.label = p.label AND co.slice = 1
            ORDER BY p.label"""))

  /** INT8 QUANTIZATION ERROR BUDGET per label: the reconstruction-error
    * report that decides whether [[quantizeInt8]]'s 4x storage saving is
    * safe for a given slice — mean and max squared reconstruction error
    * across each label's vectors. The per-vector error is the identical
    * ordered fold on both engines (dequantize = lo + round(code)*scale,
    * the exact [[quantizeInt8]] op tree), floor-scaled to pico-units ONCE
    * per row, so the label aggregates are exact integers. Scan-side math,
    * one label-keyed shuffle of three longs. */
  val quantError = GraftQuery(
    "emb_quantization_error",
    (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label"),
          expr("cast(array_min(embedding) as double)").as("lo"),
          col("embedding"))
        .withColumn("scale", greatest(
          (expr("cast(array_max(embedding) as double)") - col("lo")) / 255.0,
          lit(1e-30)))
        // residual computed once per dim via a nested transform binding
        // (r -> r * r), NOT pow(): libm pow need not square exactly and
        // differs across engines (graft-oracle-discipline)
        .select(col("label"),
          expr("""cast(floor(aggregate(transform(transform(sequence(0, 63),
                    i -> cast(embedding[i] as double) -
                         (lo + floor((cast(embedding[i] as double) - lo) / scale + 0.5) * scale)),
                    r -> r * r),
                  cast(0.0 as double), (acc, v) -> acc + v) * 1e12 + 0.5) as bigint)""")
            .as("err_sq_pico"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          expr("cast(sum(err_sq_pico) div count(1) as bigint)").as("avg_err_sq_pico"),
          max(col("err_sq_pico")).as("max_err_sq_pico"))
        .orderBy(col("label")),
    Some("""SELECT label, count(*) AS n,
              CAST(CAST(sum(e) AS BIGINT) // count(*) AS BIGINT) AS avg_err_sq_pico,
              max(e) AS max_err_sq_pico
            FROM (SELECT label,
                    CAST(floor(list_sum(list_transform(list_transform(generate_series(1, 64),
                      i -> CAST(embedding[i] AS DOUBLE) -
                           (lo + floor((CAST(embedding[i] AS DOUBLE) - lo) / scale + 0.5) * scale)),
                      r -> r * r))
                      * 1e12 + 0.5) AS BIGINT) AS e
                  FROM (SELECT label, embedding,
                          CAST(list_min(embedding) AS DOUBLE) AS lo,
                          greatest((CAST(list_max(embedding) AS DOUBLE)
                            - CAST(list_min(embedding) AS DOUBLE)) / 255.0, 1e-30) AS scale
                        FROM embeddings))
            GROUP BY label ORDER BY label"""))

  /** COSINE-THRESHOLD SWEEP: near-dup pair counts at every candidate
    * dedup cut (0.35..0.95) from ONE pair scoring — the embedding-space
    * member of the tuning-table family (dedup_banding_sweep tunes LSH
    * candidates, dedup_threshold_sweep the MinHash verify cut; this one
    * answers "how aggressive can the semantic cut be before it eats the
    * corpus"). Pair similarities collapse to a <=6500-row 4-dp histogram
    * before the >= theta join, so the sweep costs one tiny-by-tiny join
    * however many pairs exist (all-pairs scoring itself is the documented
    * correctness baseline, the dedup_embedding precedent; the LSH-bucketed
    * path is the scale route). */
  val embThresholdSweep = GraftQuery(
    "emb_threshold_sweep",
    (s, dir) => {
      import s.implicits._
      val a = t(s, dir, "embeddings").select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val b = t(s, dir, "embeddings").select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      val hist = a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
        .select(expr("cast(floor(graft_cosine(ea, eb) * 10000 + 0.5) as int)")
          .as("sim_4dp"))
        .filter(col("sim_4dp") >= 3500)
        .groupBy(col("sim_4dp")).agg(count(lit(1)).as("c"))
      Seq(3500, 5000, 7000, 9000, 9500).toDF("threshold_4dp")
        .join(broadcast(hist), col("sim_4dp") >= col("threshold_4dp"), "left")
        .groupBy(col("threshold_4dp"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_pairs"))
        .orderBy(col("threshold_4dp"))
    },
    Some(s"""WITH hist AS (
               SELECT CAST(floor(${sqlCos("a.embedding", "b.embedding")} * 10000 + 0.5)
                 AS INTEGER) AS sim_4dp, count(*) AS c
               FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
               GROUP BY 1 HAVING sim_4dp >= 3500),
             th AS (SELECT unnest([3500, 5000, 7000, 9000, 9500]) AS threshold_4dp)
             SELECT threshold_4dp, CAST(coalesce(sum(c), 0) AS BIGINT) AS n_pairs
             FROM th LEFT JOIN hist ON sim_4dp >= threshold_4dp
             GROUP BY threshold_4dp ORDER BY threshold_4dp"""))

  /** [[embThresholdSweep]]'s SCALE ROUTE: the same cosine-threshold sweep
    * on a DETERMINISTIC 1/16 content-hash sample of the vectors
    * (first md5 hex digit of vec_id = '0', the pipeline_hash_sample
    * discipline — engine-, shard-, and re-run-stable, and applied
    * IDENTICALLY in the oracle so the sampled counts are exact, not
    * approximate-vs-oracle). Sampling vectors at rate p samples pairs at
    * p², so the scored-pair volume drops 256x while every threshold's
    * count remains an unbiased 1/256-scale estimate of the full histogram
    * — at 100 TB you tune the digit count (each added hex digit is
    * another 256x off the pair volume) instead of scoring all pairs; the
    * unsampled parent stays the documented correctness baseline. */
  val embThresholdSweepSampled = GraftQuery(
    "emb_threshold_sweep_sampled",
    (s, dir) => {
      import s.implicits._
      val sample = t(s, dir, "embeddings")
        .filter(substring(md5(col("vec_id").cast("string")), 1, 1) === "0")
      val a = sample.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val b = sample.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      val hist = a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
        .select(expr("cast(floor(graft_cosine(ea, eb) * 10000 + 0.5) as int)")
          .as("sim_4dp"))
        .filter(col("sim_4dp") >= 3500)
        .groupBy(col("sim_4dp")).agg(count(lit(1)).as("c"))
      Seq(3500, 5000, 7000, 9000, 9500).toDF("threshold_4dp")
        .join(broadcast(hist), col("sim_4dp") >= col("threshold_4dp"), "left")
        .groupBy(col("threshold_4dp"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_pairs"))
        .orderBy(col("threshold_4dp"))
    },
    Some(s"""WITH sample AS (
               SELECT vec_id, embedding FROM embeddings
               WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'),
             hist AS (
               SELECT CAST(floor(${sqlCos("a.embedding", "b.embedding")} * 10000 + 0.5)
                 AS INTEGER) AS sim_4dp, count(*) AS c
               FROM sample a JOIN sample b ON a.vec_id < b.vec_id
               GROUP BY 1 HAVING sim_4dp >= 3500),
             th AS (SELECT unnest([3500, 5000, 7000, 9000, 9500]) AS threshold_4dp)
             SELECT threshold_4dp, CAST(coalesce(sum(c), 0) AS BIGINT) AS n_pairs
             FROM th LEFT JOIN hist ON sim_4dp >= threshold_4dp
             GROUP BY threshold_4dp ORDER BY threshold_4dp"""))

  /** The decontamination eval side must stay broadcastable BY
    * CONSTRUCTION: [[semanticDecontam]] refuses (raise_error) to run if
    * the benchmark exceeds this many vectors, so the broadcast side is
    * constant-bounded (≤ 100k rows ≈ tens of MB at dim 64) no matter how
    * the corpus grows. Real benchmark suites are orders of magnitude
    * smaller; raising the cap is an explicit, reviewed decision. */
  val EvalCap = 100000L

  /** SEMANTIC DECONTAMINATION: flag training vectors whose embedding sits
    * near ANY eval-benchmark vector — the semantic twin of the n-gram
    * pipeline_decontaminate gate (paraphrased leakage that shares no
    * 8-gram still shows up here). Eval set = every 10th vector, standing
    * in for a benchmark suite; it BROADCASTS because the [[EvalCap]]
    * assert-then-broadcast guard makes the eval side constant-bounded by
    * construction (a filter that raise_errors past the cap — the
    * pipeline_curriculum enforcement precedent, reproduced identically in
    * the oracle via DuckDB error()), while the train corpus streams
    * map-side — each train vector is scored against the eval set and
    * reduced to its MAX similarity in one pass, then a label-keyed rollup
    * reports contaminated counts at the house near-dup cut (0.35, the
    * dedup_embedding θ) plus the per-label max. Similarities floor-round
    * to 4dp before any aggregate (the emb_threshold_sweep discipline) so
    * both engines agree bit-for-bit. */
  val semanticDecontam = GraftQuery(
    "emb_semantic_decontam",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val evalRaw = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("e_id"), col("embedding").as("e_emb"))
      val nEval = broadcast(evalRaw.agg(count(lit(1)).as("n_eval")))
      // assert-then-broadcast: the guard is a FILTER (column pruning can
      // never drop it) that errors out past EvalCap instead of letting the
      // broadcast side scale with the corpus
      val eval = broadcast(evalRaw.crossJoin(nEval)
        .filter(when(col("n_eval") > lit(EvalCap),
          expr(s"raise_error('emb_semantic_decontam: eval benchmark " +
            s"exceeds EvalCap=$EvalCap rows - refusing to broadcast a " +
            s"corpus-sized side')").cast("boolean"))
          .otherwise(lit(true)))
        .select(col("e_id"), col("e_emb")))
      e.filter(col("vec_id") % 10 =!= 0)
        .crossJoin(eval)
        .select(col("vec_id"), col("label"),
          expr("cast(floor(graft_cosine(embedding, e_emb) * 10000 + 0.5) as int)")
            .as("sim_4dp"))
        .groupBy(col("vec_id"), col("label"))
        .agg(max(col("sim_4dp")).as("max_sim_4dp"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_train"),
          sum(when(col("max_sim_4dp") >= 3500, 1L).otherwise(0L))
            .as("n_contaminated"),
          max(col("max_sim_4dp")).as("label_max_sim_4dp"))
        .orderBy(col("label"))
    },
    Some(s"""WITH nev AS (SELECT count(*) AS n_eval
               FROM embeddings WHERE vec_id % 10 = 0),
             ev AS (SELECT vec_id AS e_id, embedding AS e_emb
               FROM embeddings CROSS JOIN nev WHERE vec_id % 10 = 0
                 AND CASE WHEN n_eval > 100000
                          THEN error('emb_semantic_decontam: eval benchmark exceeds EvalCap=100000 rows')
                          ELSE TRUE END),
             tr AS (SELECT vec_id, label, embedding
               FROM embeddings WHERE vec_id % 10 <> 0),
             scored AS (
               SELECT tr.vec_id, tr.label,
                 max(CAST(floor(${sqlCos("tr.embedding", "ev.e_emb")} * 10000 + 0.5)
                   AS INTEGER)) AS max_sim_4dp
               FROM tr CROSS JOIN ev GROUP BY tr.vec_id, tr.label)
             SELECT label, count(*) AS n_train,
               CAST(sum(CASE WHEN max_sim_4dp >= 3500 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_contaminated,
               max(max_sim_4dp) AS label_max_sim_4dp
             FROM scored GROUP BY label ORDER BY label"""))

  /** IVF CELL BALANCE: inverted-file cell-size report (cells = the coarse
    * label quantizer annIvf/annIvfPq probe) — min/max/imbalance across
    * cells. Imbalance = max_cell * n_cells * 1e6 div total (1e6 = perfectly
    * uniform): the single number that predicts probe-latency variance and
    * tells you when the coarse quantizer needs retraining. One
    * label-keyed count, then cell-count-bounded rows with a 1-row scalar
    * broadcast (BNLJ-allowlisted). */
  val ivfBalance = GraftQuery(
    "emb_ivf_balance",
    (s, dir) => {
      val cells = t(s, dir, "embeddings")
        .groupBy(col("label")).agg(count(lit(1)).as("csize"))
      val tot = broadcast(cells.agg(sum(col("csize")).as("tot"),
        count(lit(1)).as("n_cells"), max(col("csize")).as("max_cell"),
        min(col("csize")).as("min_cell")))
      tot.select(col("n_cells"), col("tot").cast("long").as("n_vectors"),
        col("min_cell"), col("max_cell"),
        expr("cast(max_cell * n_cells * 1000000 div tot as bigint)")
          .as("imbalance_micro"))
    },
    Some("""WITH cells AS (SELECT label, count(*) AS csize
                           FROM embeddings GROUP BY label)
            SELECT count(*) AS n_cells,
              CAST(sum(csize) AS BIGINT) AS n_vectors,
              min(csize) AS min_cell, max(csize) AS max_cell,
              CAST(max(csize) * count(*) * 1000000
                // CAST(sum(csize) AS BIGINT) AS BIGINT) AS imbalance_micro
            FROM cells"""))

  /** MAXIMUM INNER PRODUCT SEARCH (MIPS) top-k: rank the corpus by raw
    * dot(q, x), NOT cosine — the retrieval objective when magnitude
    * carries signal (recommender user·item scores, un-normalized
    * two-tower retrieval, reward-model scoring). Same broadcast shape as
    * [[annBruteTopK]]: ≤8 query vectors map-side against the corpus, one
    * window per query — corpus never shuffles, score is the codegen'd
    * ordered fold. Scale route: MIPS reduces to cosine NN by the
    * norm-augmentation transform (Shrivastava & Li 2014) — append
    * sqrt(M²−‖x‖²) to each corpus vector and 0 to each query, where
    * M = max‖x‖ — after which every bucketed ANN route in this file
    * (IVF cells, LSH bands) applies unchanged; the augmentation is one
    * scan-side map, so the brute spelling here stays the documented
    * correctness baseline. */
  val annMipsTopK = GraftQuery(
    "ann_mips_topk",
    (s, dir) => {
      // graft_dot: codegen'd native inner product, bit-identical to
      // dotFold (same accumulation order; VectorFunctionsSpec) and one
      // third of graft_cosine's work since the norms aren't needed
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val scored = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(expr("graft_dot(embedding, q_emb)"), 4).as("dot"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("dot").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
             scored AS (SELECT q.q_id, e.vec_id,
                          round(${sqlDot("e.embedding", "q.q_emb")}, 4) AS dot
                        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
             ranked AS (SELECT q_id, vec_id, dot,
                          row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS rank
                        FROM scored)
             SELECT q_id, vec_id, dot, CAST(rank AS INTEGER) AS rank
             FROM ranked WHERE rank <= 10 ORDER BY q_id, rank"""))

  /** One unrolled farthest-point round for [[kmeansSeedFarthest]]'s
    * oracle: per remaining vector the min cosine-distance to the selected
    * set, then the per-corpus argmax (vec_id tie-break). */
  private def seedStepSql(k: Int): String = {
    val p = k - 1
    s"""d$k AS (
          SELECT e.vec_id, min(1.0 - round(${sqlCos("e.embedding", "s.embedding")}, 4))
            AS dist
          FROM embeddings e CROSS JOIN sel$p s
          WHERE NOT EXISTS (SELECT 1 FROM sel$p x WHERE x.vec_id = e.vec_id)
          GROUP BY e.vec_id),
        pick$k AS (
          SELECT vec_id, dist, row_number() OVER (ORDER BY dist DESC, vec_id) AS rn
          FROM d$k),
        s$k AS (SELECT $k AS seed_rank, p.vec_id, e.embedding,
                  CAST(floor(p.dist * 1e6 + 0.5) AS BIGINT) AS dist_micro
                FROM pick$k p JOIN embeddings e ON e.vec_id = p.vec_id
                WHERE p.rn = 1),
        sel$k AS MATERIALIZED (SELECT * FROM sel$p UNION ALL SELECT * FROM s$k)"""
  }

  /** K-CENTER SEEDING (farthest-point traversal — kmeans++'s
    * derandomized MAX variant, Gonzalez 1985): 5 cluster seeds picked
    * greedily, each maximizing its min cosine-distance to the seeds so
    * far — the init that prevents Lloyd's iteration from starting with
    * two centroids in one blob, completing this file's kmeans family
    * (seed → assign → update → train). Derandomized the house way:
    * kmeans++ samples ∝ D², this takes argmax D (the classic 2-approx
    * k-center traversal) with vec_id tie-breaks, anchored at vec 0 — so
    * both engines and any two runs pick identical seeds.
    *
    * Shapes: each round is one map-side corpus scan against the ≤4
    * selected vectors (a constant broadcast) reduced to ONE argmax row —
    * the honest k-center cost, k·O(corpus) with nothing but the winner
    * crossing to the driver. Distances round to 4dp before the min/argmax
    * (the MMR discipline) so selection is a total order cross-engine. */
  val kmeansSeedFarthest = GraftQuery(
    "emb_kmeans_seed_farthest",
    // the scope drops the corpus once the picks are on the driver
    (s, dir) => Pin.scope {
      import s.implicits._
      val e = Pin.reuse(t(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
      var picks = Seq((1, 0L, Option.empty[Long])) // (rank, vec_id, dist_micro)
      var k = 2
      while (k <= 5) {
        val selIds = picks.map(_._2)
        val sel = e.filter(col("vec_id").isin(selIds: _*))
          .select(col("embedding").as("s_emb"))
        val winner = e.filter(!col("vec_id").isin(selIds: _*))
          .crossJoin(broadcast(sel))
          .select(col("vec_id"),
            (lit(1.0) - round(expr("graft_cosine(embedding, s_emb)"), 4)).as("d"))
          .groupBy(col("vec_id")).agg(min(col("d")).as("dist"))
          .orderBy(col("dist").desc, col("vec_id"))
          .head()
        picks = picks :+ ((k, winner.getLong(0),
          Some(math.floor(winner.getDouble(1) * 1e6 + 0.5).toLong)))
        k += 1
      }
      picks.map { case (r, v, d) => (r, v, d) }
        .toDF("seed_rank", "vec_id", "dist_micro")
        .orderBy(col("seed_rank"))
    },
    Some(s"""WITH sel1 AS MATERIALIZED (
               SELECT 1 AS seed_rank, vec_id, embedding,
                 CAST(NULL AS BIGINT) AS dist_micro
               FROM embeddings WHERE vec_id = 0),
             ${(2 to 5).map(seedStepSql).mkString(",\n")}
             SELECT CAST(seed_rank AS INTEGER) AS seed_rank, vec_id, dist_micro
             FROM sel5 ORDER BY seed_rank"""))

  /** One unrolled MMR selection round for [[annMmrTopK]]'s oracle: from
    * the shortlist minus sel$p, score 0.7·rel − 0.3·max-sim-to-selected
    * and take the per-query argmax (vec_id tie-break). */
  private def mmrStepSql(k: Int): String = {
    val p = k - 1
    s"""c$k AS (
          SELECT c.q_id, c.vec_id, c.embedding, c.rel,
            max(round(${sqlCos("c.embedding", "s.embedding")}, 4)) AS msim
          FROM short c JOIN sel$p s ON s.q_id = c.q_id
          WHERE NOT EXISTS (SELECT 1 FROM sel$p x
                            WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)
          GROUP BY c.q_id, c.vec_id, c.embedding, c.rel),
        p$k AS (
          SELECT q_id, vec_id, embedding, rel,
            0.7 * rel - 0.3 * msim AS score,
            row_number() OVER (PARTITION BY q_id
              ORDER BY 0.7 * rel - 0.3 * msim DESC, vec_id) AS rn
          FROM c$k),
        s$k AS (SELECT q_id, vec_id, embedding, rel, $k AS pick, score
                FROM p$k WHERE rn = 1),
        sel$k AS MATERIALIZED (
          SELECT * FROM sel$p UNION ALL SELECT * FROM s$k)"""
  }

  /** MMR-DIVERSIFIED TOP-K (Maximal Marginal Relevance, Carbonell &
    * Goldstein 1998): re-rank each query's exact-cosine top-20 shortlist
    * by picking 5 items greedily, each maximizing
    * λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s) with λ = 0.7 — the
    * standard redundancy-suppressing second stage behind RAG context
    * assembly and dedup-aware retrieval (near-identical corpus items
    * should not fill all k slots; [[annBruteTopK]] happily lets them).
    *
    * Shapes: stage 1 is the documented broadcast-query corpus scan +
    * per-query window — the expensive, 100 TB-shaped part, identical to
    * [[annPqRerank]]'s shortlist; the MMR loop then runs 4 more rounds on
    * SHORTLIST-sized frames (≤ 20 rows/query joined against ≤ 4 picks), so
    * selection cost is independent of corpus size. Float discipline:
    * similarities round to 4 dp BEFORE any MMR arithmetic in both engines,
    * the score is one fixed op tree of those rounded doubles, and vec_id
    * tie-breaks make every argmax total — the selection is deterministic
    * cross-engine even at score ties. max-over-empty is defined as 0 (the
    * first pick scores 0.7·rel − 0.3·0), identically in the oracle. */
  /** The MMR greedy selection (5 picks, λ=0.7) over a shortlist frame of
    * (q_id, vec_id, embedding, rel) — factored out of [[annMmrTopK]] so
    * the streaming twin (graft.streaming.StreamingMmrTracker) runs the
    * IDENTICAL selection over its incrementally-maintained shortlist:
    * stream == batch is structural, not re-implemented arithmetic. Every
    * frame in the loop is shortlist-sized (≤ 20 rows/query), so the cost
    * is corpus-independent. */
  private[graft] def mmrSelect(s: SparkSession, shortlist: DataFrame): DataFrame = {
    val wr = Window.partitionBy(col("q_id"))
      .orderBy(col("rel").desc, col("vec_id"))
    val wp = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    // the first picks, one row per query, collected so the first round
    // reads them as a local relation, which costs no job however often it
    // is read (the driver holds queries-many rows, as the beam search does)
    val pick1 = {
      val df = shortlist
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("vec_id"), col("embedding"), col("rel"),
          lit(1).as("pick"), expr("0.7 * rel - 0.3 * 0.0").as("score"))
      s.createDataFrame(df.collect().toSeq.asJava, df.schema)
    }
    // round r makes pick r + 1
    val (selected, _) = Pin.rounds(pick1, 4)((selected, r) => {
      val cand = shortlist
        .join(selected.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_anti")
      val scoredK = cand
        .join(selected.select(col("q_id"), col("embedding").as("s_emb")), Seq("q_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(first(col("embedding")).as("embedding"), first(col("rel")).as("rel"),
          max(round(expr("graft_cosine(embedding, s_emb)"), 4)).as("msim"))
        .withColumn("score", expr("0.7 * rel - 0.3 * msim"))
        .withColumn("rn", row_number().over(wp))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("vec_id"), col("embedding"), col("rel"),
          lit(r + 1).as("pick"), col("score"))
      selected.union(scoredK)
    })
    selected.select(col("q_id"), col("pick"), col("vec_id"), col("rel"), col("score"))
  }

  val annMmrTopK = GraftQuery(
    "ann_mmr_topk",
    // the scope drops the shortlist once the selection loop has
    // checkpointed its picks
    (s, dir) => Pin.scope {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val wr = Window.partitionBy(col("q_id"))
        .orderBy(col("rel").desc, col("vec_id"))
      val shortlist = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("embedding"),
          round(cosine("embedding", "q_emb"), 4).as("rel"))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") <= 20)
        .select(col("q_id"), col("vec_id"), col("embedding"), col("rel"))
        .transform(Pin.reuse)
      mmrSelect(s, shortlist).orderBy(col("q_id"), col("pick"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
                        FROM embeddings WHERE vec_id < 8),
             scored AS (SELECT q.q_id, e.vec_id, e.embedding,
                          round(${sqlCos("e.embedding", "q.q_emb")}, 4) AS rel
                        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
             short AS MATERIALIZED (
               SELECT q_id, vec_id, embedding, rel FROM (
                 SELECT *, row_number() OVER (PARTITION BY q_id
                   ORDER BY rel DESC, vec_id) AS rn FROM scored)
               WHERE rn <= 20),
             s1 AS (SELECT q_id, vec_id, embedding, rel, 1 AS pick,
                      0.7 * rel - 0.3 * 0.0 AS score
                    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                            ORDER BY rel DESC, vec_id) AS rn FROM short)
                    WHERE rn = 1),
             sel1 AS MATERIALIZED (SELECT * FROM s1),
             ${(2 to 5).map(mmrStepSql).mkString(",\n")}
             SELECT q_id, CAST(pick AS INTEGER) AS pick, vec_id, rel, score
             FROM sel5 ORDER BY q_id, pick"""))

  /** FILTERED VECTOR SEARCH tuning table: top-k under a metadata predicate
    * (label ≡ query mod 4, ~25% selective) by the two routes every vector
    * store offers — PRE-FILTER (apply the predicate, then rank: exact, but
    * an index can't always push the predicate) and POST-FILTER (fetch the
    * global top-F, then filter, keep 10: index-friendly, but survivors
    * thin out with selectivity). For F ∈ {10, 20, 40} the table reports
    * kept counts and recall vs the pre-filtered truth — the over-fetch
    * knob measured on the actual corpus, the same decision DiskANN/pgvector
    * users tune by rule of thumb. One corpus×query scoring pass feeds BOTH
    * routes: global rank and filtered rank are two windows over the same
    * scored frame, the F sweep explodes only predicate survivors, and
    * every count after is (query × F)-sized. Ranks are total orders
    * (cos_sim 4dp, vec_id tie-break) so both engines select identical
    * sets; recall is one nullif-guarded integer micro-div. */
  val annFilteredRecall = GraftQuery(
    "ann_filtered_recall",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val wq = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val scored = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("label"),
          round(cosine("embedding", "q_emb"), 4).as("cos_sim"))
        .withColumn("grank", row_number().over(wq))
      val pred = scored.filter(col("label") % 4 === col("q_id") % 4)
        .withColumn("frank", row_number().over(wq))
      val truthCnt = pred.groupBy(col("q_id"))
        .agg(sum(when(col("frank") <= 10, 1L).otherwise(0L)).as("n_truth"))
      val wf = Window.partitionBy(col("q_id"), col("overfetch"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      pred
        .select(col("q_id"), col("vec_id"), col("cos_sim"), col("grank"), col("frank"),
          explode(expr("array(10, 20, 40)")).as("overfetch"))
        .filter(col("grank") <= col("overfetch"))
        .withColumn("prank", row_number().over(wf))
        .filter(col("prank") <= 10)
        .groupBy(col("q_id"), col("overfetch"))
        .agg(count(lit(1)).as("n_kept"),
          sum(when(col("frank") <= 10, 1L).otherwise(0L)).as("n_hit"))
        .join(truthCnt, "q_id")
        .select(col("q_id"), col("overfetch"), col("n_truth"), col("n_kept"),
          col("n_hit"),
          expr("n_hit * 1000000 div nullif(n_truth, 0)").as("recall_micro"))
        .orderBy(col("q_id"), col("overfetch"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
                        FROM embeddings WHERE vec_id < 8),
             scored AS MATERIALIZED (
               SELECT q_id, vec_id, label, cos_sim,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_sim DESC, vec_id) AS grank
               FROM (SELECT q.q_id, e.vec_id, e.label,
                       round(${sqlCos("e.embedding", "q.q_emb")}, 4) AS cos_sim
                     FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id)),
             pred AS MATERIALIZED (
               SELECT *, row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_sim DESC, vec_id) AS frank
               FROM scored WHERE label % 4 = q_id % 4),
             tc AS (SELECT q_id,
                      CAST(sum(CASE WHEN frank <= 10 THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_truth
                    FROM pred GROUP BY q_id),
             post AS (
               SELECT q_id, overfetch, vec_id, frank,
                 row_number() OVER (PARTITION BY q_id, overfetch
                   ORDER BY cos_sim DESC, vec_id) AS prank
               FROM (SELECT p.*, f.overfetch
                     FROM pred p CROSS JOIN
                       (SELECT unnest([10, 20, 40]) AS overfetch) f
                     WHERE p.grank <= f.overfetch)),
             agg AS (
               SELECT q_id, overfetch, count(*) AS n_kept,
                 CAST(sum(CASE WHEN frank <= 10 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hit
               FROM post WHERE prank <= 10 GROUP BY q_id, overfetch)
             SELECT a.q_id, a.overfetch, t.n_truth, a.n_kept, a.n_hit,
               a.n_hit * 1000000 // nullif(t.n_truth, 0) AS recall_micro
             FROM agg a JOIN tc t ON t.q_id = a.q_id
             ORDER BY a.q_id, a.overfetch"""))

  /** GRAPH-ANN TUNING TABLE — recall@10 of the beam search at beam width
    * {8, 16, 32} × long links {0, 2, 4}: the family convention
    * ([[probeSweep]], dedup_banding_sweep) that every knob ships with its
    * measured curve, applied to [[annGraphTopK]]'s two constants. The
    * combo-independent build (quantizer, kNN edges, the j-tagged
    * long-link pool) runs ONCE; each cell reuses it with a j <= links
    * prefix of the pool and its own beam cap, so the sweep costs 9 beam
    * searches over one index build. The zero-links column measures the
    * founding NSW observation (a bare kNN graph is not navigable); the
    * beam column is the ef/accuracy trade.
    *
    * Measured curve (recall@10, sf0.01 | sf0.1):
    *   links=0: beam 8 .550|.350  16 .713|.463  32 .750|.663
    *   links=2: beam 8 .650|.588  16 .875|.763  32 .950|.850
    *   links=4: beam 8 .700|.563  16 .988|.900  32 .988|.963
    * — both knobs matter and they compound: at the production point
    * (16 × 2 = 0.763 at sf0.1), doubling the beam buys +0.09 at 2x the
    * per-hop cost, while doubling the links buys +0.14 at ~zero serving
    * cost (the pool is built once). The documented path past 0.76 at
    * sf0.1 is links 4: beam 16 × links 4 = 0.90, beam 32 × links 4 =
    * 0.96. */
  val annGraphParamSweep = GraftQuery(
    "ann_graph_param_sweep",
    (s, dir) => {
      import s.implicits._
      val ctx = beamContext(s, dir)
      val exact = annBruteTopK.run(s, dir)
        .select(col("q_id"), col("vec_id")).transform(Pin.reuse)
      val nExact = exact.count()
      val rows = for {
        bw <- Seq(8, 16, 32); lk <- Seq(0, 2, 4)
      } yield {
        val nHit = beamRun(s, ctx, bw, lk)
          .select(col("q_id"), col("vec_id"))
          .join(exact, Seq("q_id", "vec_id"), "left_semi")
          .count()
        (bw, lk, nHit, nHit * 1000000L / nExact)
      }
      rows.toDF("beam_width", "long_links", "n_hit", "recall_micro")
        .orderBy(col("beam_width"), col("long_links"))
    },
    Some(sweepSql))

  val all: Seq[GraftQuery] =
    Seq(annBruteTopK, annIvf, embNearDup, embNearDupLsh, lshBuckets,
      annRangeSearch, quantizeInt8, kmeansAssignQ, kmeansUpdate, semanticDedup,
      pqAssign, annPqTopK, annPqRerank, annIvfPq, annKnnGraph, powerIteration,
      randomProjection, annRecallEval, annGraphTopK, annGraphRecall,
      annIvfTrained, annIvfTrainedRecall, annIvfHier, oodScore,
      centroidDrift, dimTruncationEval, probeSweep,
      normProfile, labelMargin, quantError, embThresholdSweep,
      embThresholdSweepSampled, ivfBalance, semanticDecontam, annMipsTopK,
      annMmrTopK, annFilteredRecall, kmeansSeedFarthest, silhouette,
      annGraphParamSweep, annRankMetrics)
}
