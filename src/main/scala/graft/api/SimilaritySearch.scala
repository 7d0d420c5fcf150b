package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.md5Prefix
import graft.operators.{KMeans, Similarity}

/** PUBLIC similarity-search facade over arbitrary embedding DataFrames —
  * the library surface for the engine's ANN/embedding family. Corpus and
  * query frames are two columns (id, embedding: Array[Float]), any names,
  * ANY dimension (the native `graft_cosine` expression is length-generic).
  * Scale shapes match the registry queries: query sets broadcast, scoring
  * is map-side, the corpus never shuffles; for billion-vector serving use
  * the registry's IVF/PQ/graph routes as blueprints. */
object SimilaritySearch {

  private def named(df: DataFrame, id: String, emb: String): DataFrame =
    df.toDF(id, emb)

  /** Hub count [[graphAnnBuild]] derives for an n-vector corpus when the
    * caller leaves `hubs = 0`: clamp(⌈√n⌉, 64, 4096). Exposed for specs
    * (the derivation is part of the public contract). */
  private[graft] def derivedHubs(n: Long): Int =
    math.min(4096L,
      math.max(64L, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** Hop count [[graphAnnSearch]] derives for an n-vector index when the
    * caller leaves `hops = 0`: clamp(bitLength(n) − 6, 5, 16), i.e.
    * ~log₂(n) minus a constant. Hops — not beam width — is the recall
    * lever as the corpus grows: the hub backbone lands a beam NEAR the
    * target region in O(1) hops, but the remaining walk through the
    * short-link (kNN) graph grows with log of the corpus, and a beam
    * that stops walking early returns its best-so-far — measured at the
    * r17 100x stress point (n = 200k): recall@10 was 0.725 at the old
    * fixed hops = 5 and stayed 0.725 at beam 16 → 64, but recovered to
    * 0.950 at hops = 8 and 1.000 at hops = 12 = the derived value.
    * Exposed for specs (the derivation is part of the public contract).
    * Each hop costs two key lookups, so serving latency scales with
    * the derived value — pin `hops` explicitly to trade recall for
    * latency. */
  private[graft] def derivedHops(n: Long): Int =
    math.min(16, math.max(5,
      (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n))) - 6))

  /** Exact cosine top-k per query (the correctness baseline every ANN
    * route is measured against). Scores round to 4 dp with id tie-breaks,
    * so ranking is deterministic at any parallelism.
    * @return (q_id, vec_id, cos_sim, rank) */
  def topK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      k: Int = 10): DataFrame = {
    graft.Engine.install(spark)
    val c = named(corpus, "vec_id", "embedding")
    val q = named(queries, "q_id", "q_emb")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    c.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        round(expr("graft_cosine(embedding, q_emb)"), 4).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** MMR-diversified top-k (λ = 0.7): exact top-`shortlist` per query,
    * then the registry's greedy MMR selection — identical code to
    * ann_mmr_topk, so determinism guarantees carry over.
    * @return (q_id, pick, vec_id, rel, score), 5 picks per query */
  def mmrTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      shortlist: Int = 20): DataFrame = {
    graft.Engine.install(spark)
    val c = named(corpus, "vec_id", "embedding")
    val q = named(queries, "q_id", "q_emb")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rel").desc, col("vec_id"))
    val short = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"), col("embedding"),
        round(expr("graft_cosine(embedding, q_emb)"), 4).as("rel"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= shortlist)
      .select(col("q_id"), col("vec_id"), col("embedding"), col("rel"))
    Similarity.mmrSelect(spark, short)
  }

  /** Distributed Lloyd k-means to a movement tolerance (deterministic
    * seeds = first k ids; packed-long argmax assignment, k×dim-sum
    * updates — the registry's emb_kmeans_* loop).
    * @return (centroids, iterations, per-iteration objective) */
  def kMeansTrain(spark: SparkSession, corpus: DataFrame, k: Int,
      maxIters: Int = 10, tol: Double = 1e-4): (Array[Array[Double]], Int, Seq[Double]) = {
    graft.Engine.install(spark)
    KMeans.train(spark, named(corpus, "vec_id", "embedding"), k, maxIters, tol)
  }

  /** TRAINED-CELL IVF top-k — the scale route [[topK]]'s exact scan is
    * traded against: train `nlist` k-means cells over the corpus
    * ([[kMeansTrain]]'s loop), invert the corpus into them once, then per
    * query score ONLY the `nprobe` nearest cells. Recall follows the
    * registry's ann_probe_sweep curve (more probes → higher recall, more
    * scanning); exactness is recovered at nprobe = nlist. 100 TB shape:
    * centroids broadcast (nlist ≤ 256 rows), cell assignment is one
    * map-side argmax, per-query scanning touches nprobe/nlist of the
    * corpus, and the only corpus-sized shuffle is the one cell-key join.
    * @return (q_id, vec_id, cos_sim, rank) top-k per query */
  def ivfTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      k: Int = 10, nlist: Int = 8, nprobe: Int = 2,
      trainIters: Int = 5): DataFrame = {
    graft.Engine.install(spark)
    val c = named(corpus, "vec_id", "embedding")
    val q = named(queries, "q_id", "q_emb")
    val (cents, _, _) = KMeans.train(spark, c, nlist, trainIters)
    val inverted = KMeans.assignToCentroids(spark, c, cents)
      .select(col("vec_id"), col("embedding"), col("cluster"))
    // probe list: each query's nprobe nearest centroids (tiny frame —
    // queries × nlist rows ranked, queries × nprobe kept, broadcast to
    // the corpus-side join)
    val pw = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("c_id"))
    val probes = q.crossJoin(broadcast(KMeans.centroidFrame(spark, cents)))
      .select(col("q_id"), col("q_emb"), col("c_id"),
        round(expr("graft_cosine(q_emb, c_emb)"), 4).as("c_cos"))
      .withColumn("pn", row_number().over(pw)).filter(col("pn") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("c_id").as("cluster"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    inverted.join(broadcast(probes), Seq("cluster"))
      .select(col("q_id"), col("vec_id"),
        round(expr("graft_cosine(embedding, q_emb)"), 4).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** HIERARCHICAL (coarse x fine) IVF top-k — the 100 TB route past
    * [[ivfTopK]]'s nlist <= 256 cap: [[graft.operators.KMeans
    * .trainHierarchical]] trains coarseK x fineK effective cells (up to
    * 65,536), the corpus is inverted into (coarse, fine) once, and each
    * query scores only the posting lists of its `nprobeCoarse` nearest
    * coarse cells x `nprobeFine` nearest fine cells within each — at the
    * 256 x 256 maximum with nprobe 8 x 8 a query touches ~1/1024 of the
    * corpus vs flat-IVF's floor of nprobe/256. 100 TB shape: both
    * centroid tables are model-sized and broadcast, routing is map-side,
    * the probe list (queries x nprobeCoarse x nprobeFine rows) broadcasts
    * to the one corpus-sized cell-key join. Exactness is recovered at
    * nprobeCoarse = coarseK, nprobeFine = fineK (spec-pinned).
    * @return (q_id, vec_id, cos_sim, rank) top-k per query */
  def ivfHierTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      k: Int = 10, coarseK: Int = 4, fineK: Int = 4,
      nprobeCoarse: Int = 2, nprobeFine: Int = 2,
      trainIters: Int = 5): DataFrame = {
    graft.Engine.install(spark)
    val c = named(corpus, "vec_id", "embedding")
    val q = named(queries, "q_id", "q_emb")
    val (hier, _, _) =
      KMeans.trainHierarchical(spark, c, coarseK, fineK, trainIters)
    val inverted = KMeans.assignToHier(spark,
        KMeans.assignToCentroids(spark, c, hier.coarse)
          .select(col("vec_id"), col("embedding"), col("cluster")),
        hier.fine)
      .select(col("vec_id"), col("embedding"), col("cluster"), col("f_id"))
    val pw = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("c_id"))
    val coarseProbes = q
      .crossJoin(broadcast(KMeans.centroidFrame(spark, hier.coarse)))
      .select(col("q_id"), col("q_emb"), col("c_id"),
        round(expr("graft_cosine(q_emb, c_emb)"), 4).as("c_cos"))
      .withColumn("pn", row_number().over(pw))
      .filter(col("pn") <= nprobeCoarse)
      .select(col("q_id"), col("q_emb"), col("c_id").as("cluster"))
    val fw = Window.partitionBy(col("q_id"), col("cluster"))
      .orderBy(col("f_cos").desc, col("f_id"))
    val probes = coarseProbes
      .join(broadcast(KMeans.fineFrame(spark, hier.fine)), Seq("cluster"))
      .select(col("q_id"), col("q_emb"), col("cluster"), col("f_id"),
        round(expr("graft_cosine(q_emb, f_emb)"), 4).as("f_cos"))
      .withColumn("pn", row_number().over(fw))
      .filter(col("pn") <= nprobeFine)
      .select(col("q_id"), col("q_emb"), col("cluster"), col("f_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    inverted.join(broadcast(probes), Seq("cluster", "f_id"))
      .select(col("q_id"), col("vec_id"),
        round(expr("graft_cosine(embedding, q_emb)"), 4).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** A built graph-ANN index over a user corpus: the SYMMETRIZED serving
    * adjacency (short kNN links within trained cells + hub long links,
    * both directions, deduplicated), the projected corpus, and the
    * hash-selected entry points. Frames are eagerly materialized via
    * localCheckpoint at build time — build once, search many (searches
    * run zero edge-list shuffles); blocks are reclaimed when the index
    * is dereferenced. */
  final case class GraphAnnIndex private[api] (
      adjacency: DataFrame, corpus: DataFrame, entries: DataFrame,
      n: Long)

  /** Build a navigable-small-world ANN index over an arbitrary
    * (id, embedding) corpus — the public twin of the registry's
    * ann_graph_topk build, with the dense-id long-link convention
    * replaced by HUB long links so user ids can be anything: `hubs`
    * content-hash-selected vectors form a global backbone and every node
    * takes `longLinks` deterministic hub edges (hash-picked per (j, id)),
    * so any two cells are ≤ 2 hub hops apart — the navigability NSW gets
    * from random long links, without a global ordinal or an id-density
    * assumption (the hub list is a driver-side array of ≤ `hubs` longs,
    * applied map-side; no shuffle, no window).
    * Short links: kNN (k = `shortLinks`) within `nlist` TRAINED k-means
    * cells — geometric neighborhoods, the ann_ivf_trained lesson.
    *
    * `hubs = 0` (the default) DERIVES the hub count from the corpus:
    * clamp(⌈√n⌉, 64, 4096) — the probedSalt discipline (a knob whose right
    * value is a function of the data is measured from the data, not
    * documented as a constant). Why √n between those clamps: the knob
    * trades backbone degree against entry diversity, and both failure
    * modes are functions of n — too FEW hubs concentrate n·longLinks/hubs
    * incoming edges per hub (at 1M vectors ×4 links ÷ 8 = 500k-degree
    * supernodes whose expansion floods every beam hop), too MANY
    * (≳corpus/10) dilute the backbone until it stops shortcutting across
    * cells. √n keeps worst-case hub degree at longLinks·√n (sublinear in
    * the corpus) while the hub set stays a vanishing corpus fraction; the
    * floor 64 preserves entry diversity on small corpora, the cap 4096
    * bounds the driver-side array (32 KB) and the map-side literal list.
    * The registry sweep's finding stands: long-link COUNT (swept in
    * ann_graph_param_sweep) is the recall lever — the hub-set size only
    * has to be comfortably between the two failure modes, which the
    * derivation keeps it at EVERY corpus size. Pass an explicit positive
    * `hubs` to pin it. */
  def graphAnnBuild(spark: SparkSession, corpus: DataFrame, nlist: Int = 8,
      shortLinks: Int = 3, longLinks: Int = 4, hubs: Int = 0,
      trainIters: Int = 5): GraphAnnIndex = graft.Pin.scope { // releases the build's caches
    // named contract errors, not a silent empty index: hubs = 0 means
    // "derive"; a negative hub count (or zero links) would make hubIds
    // collect empty and every search return zero rows (r15 advice)
    require(hubs >= 0,
      s"hubs must be >= 1 (or 0 to derive from the corpus), got $hubs")
    require(shortLinks >= 1 && shortLinks <= 64,
      s"shortLinks must be in [1, 64], got $shortLinks")
    require(longLinks >= 1 && longLinks <= 64,
      s"longLinks must be in [1, 64], got $longLinks")
    graft.Engine.install(spark)
    // ids: any INTEGRAL type (cast up to long — the hub array and entry
    // frame are driver-side longs); reject non-integral ids with a named
    // contract error instead of a ClassCastException at hub collection
    val named0 = named(corpus, "vec_id", "embedding")
    val idType = named0.schema("vec_id").dataType
    require(Seq("byte", "short", "integer", "long")
        .contains(idType.typeName),
      s"graphAnnBuild needs an integral id column, got ${idType.typeName}")
    // rename + checkpoint + REBASE: a localCheckpoint of a renamed frame
    // preserves alias constraints (vec_id := <user id col>) whose
    // references dangle once the original attributes are gone, and
    // Catalyst's Union constraint rewrite throws on them when the build
    // unions frames derived from this corpus (the kNN and hub edges below;
    // the registry build never renames before checkpointing, so only the
    // facade needs this). The corpus is the index's serving copy.
    val c = {
      val lc = named0.withColumn("vec_id", col("vec_id").cast("long"))
        .transform(graft.Pin.serving)
      spark.createDataFrame(lc.rdd, lc.schema)
    }
    // the corpus count is a cheap scan of the just-checkpointed blocks
    // (the build scans the corpus many times over for k-means anyway)
    val n = c.count()
    require(n > 0, "graphAnnBuild needs a non-empty corpus")
    val nHubs = if (hubs == 0) derivedHubs(n) else hubs
    val (cents, _, _) = KMeans.train(spark, c, nlist, trainIters)
    val m = KMeans.assignToCentroids(spark, c, cents)
      .select(col("vec_id"), col("cluster"), col("embedding"))
      .transform(graft.Pin.reuse)
    val ka = m.select(col("cluster"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"))
    val kb = m.select(col("cluster"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"))
    val wk = Window.partitionBy(col("vec_a"))
      .orderBy(col("cs").desc, col("vec_b"))
    val knn = ka.join(kb, Seq("cluster"))
      .filter(col("vec_a") =!= col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(expr("graft_cosine(ea, eb)"), 4).as("cs"))
      .withColumn("rk", row_number().over(wk)).filter(col("rk") <= shortLinks)
      .select(col("vec_a"), col("vec_b"))
    // hub backbone: a bounded driver-side id array (≤ hubs longs — the
    // k-means-centroid scalar-read discipline), selected by content hash
    // so the choice is deterministic and corpus-order-free
    val hubIds: Array[Long] = c.select(col("vec_id"))
      .withColumn("h", md5(concat(lit("ghub:"), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(nHubs)
      .collect().map(_.getLong(0))
    val hubArr = array(hubIds.map(lit(_)): _*)
    // one select with a posexplode over the j axis (not a j-way
    // self-union: unioning branches that share the corpus lineage trips
    // Catalyst's Union constraint rewrite on the checkpointed frame)
    val lnkCols = (1 to longLinks).map { j =>
      element_at(hubArr,
        (pmod(md5Prefix(concat(lit(s"glnk:$j:"), col("vec_id").cast("string")), 12),
          lit(hubIds.length.toLong)) + 1).cast("int"))
    }
    val lnk = c.select(col("vec_id").as("vec_a"),
        explode(array(lnkCols: _*)).as("vec_b"))
      .filter(col("vec_a") =!= col("vec_b"))
    val entries = spark.createDataFrame(
      spark.sparkContext.parallelize(
        hubIds.take(8).toSeq.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType))))
    // symmetrize at BUILD time (both edge directions + dedup) so every
    // search is pure point lookups — graphAnnSearch must run zero
    // edge-list shuffles per call (r15 review: the symmetrize used to
    // re-run per search).
    // reuse the half-edge list across the self-union with its reverse:
    // a live `half.union(half.select(...))` computes the kNN window-join
    // and hub explode once per union branch — the most expensive build
    // stage, doubled
    val half = graft.Pin.reuse(knn.union(lnk))
    // the two LONG-LIVED serving structures (the corpus `c` above and
    // this adjacency) go through Pin.serving: with a reliable checkpoint
    // dir configured on the session they survive executor loss (r19;
    // build intermediates are cached for the build only — losing one
    // only fails the build call itself, which is rerunnable)
    val adj = half
      .union(half.select(col("vec_b").as("vec_a"), col("vec_a").as("vec_b")))
      .distinct().transform(graft.Pin.serving)
    GraphAnnIndex(adj, c, entries, n)
  }

  /** Beam search over a [[graphAnnBuild]] index — identical loop to the
    * registry's ann_graph_topk serving path (synchronous
    * expand-score-prune, (cosine desc, id) total order): beam state is
    * queries × `beamWidth` rows regardless of corpus size; each hop is
    * two key lookups against the checkpointed index and a beam-sized
    * merge on the driver; the corpus is never shuffled. Recall follows the
    * registry's measured (beam × links) sweep (ann_graph_param_sweep) —
    * and, as the corpus grows, the HOP count (see [[derivedHops]]): the
    * r16 fixed hops = 5 held recall 1.000 at n = 20k but decayed to
    * 0.725 at n = 200k, so `hops = 0` (the default) now derives
    * clamp(log₂(n) − 6, 5, 16) from the index size recorded at build
    * time, the probedSalt/derivedHubs discipline applied to the last
    * fixed serving constant. Pass an explicit positive `hops` to pin it.
    * The beam lives on the driver; every hop runs on `spark` itself, so
    * its conf and listeners apply as to any other query.
    * @return (q_id, vec_id, cos_sim, rank) top-k per query */
  def graphAnnSearch(spark: SparkSession, index: GraphAnnIndex,
      queries: DataFrame, k: Int = 10, beamWidth: Int = 16,
      hops: Int = 0): DataFrame = {
    require(hops >= 0,
      s"hops must be >= 0 (0 — the default — derives from the index size, " +
        s"the graphAnnBuild hubs=0 convention), got $hops")
    require(beamWidth >= 1 && beamWidth <= 1024,
      s"beamWidth must be in [1, 1024], got $beamWidth " +
        "(0 would return silently empty results; the beam broadcasts " +
        "per hop, so width multiplies the broadcast volume)")
    graft.Engine.install(spark)
    // the beam's ids and candidates broadcast every hop and the query
    // embeddings once per search (that is WHY search shuffles zero bytes
    // — see Similarity.beamOverAdj), so the BROADCAST VOLUME — queries ×
    // beamWidth × links candidate pairs, plus the query embeddings — must
    // stay broadcast-sized.
    // The cap therefore scales DOWN with both beamWidth and the
    // embedding width (r17 second review: a count-only guard was
    // defeated by beamWidth = 64 × 1024-float embeddings — exactly the
    // opaque 8 GB abort it claimed to prevent): MaxSearchQueries is
    // calibrated at beam 16 / dim 64, and wider settings shrink the
    // admitted batch proportionally — but the beam-scaling never ADMITS
    // MORE than the calibrated ceiling, because the query embeddings
    // broadcast too and do not shrink with beamWidth (r17 advisor:
    // beamWidth = 1 must not re-open a 16× query-embedding broadcast). Refuse with a named contract error;
    // serving is batched by nature — chunk the query frame and union.
    val dim = queries.limit(1).collect().headOption
      .flatMap(r => scala.util.Try(r.getSeq[Any](1).length).toOption)
      .getOrElse(0)
    val cap = math.max(1L,
      math.min(MaxSearchQueries.toLong,
        MaxSearchQueries.toLong * 16L / beamWidth) *
        64L / math.max(64, dim))
    val nQ = queries.limit((cap + 1).toInt).count()
    require(nQ <= cap,
      s"graphAnnSearch got > $cap queries in one batch (cap = " +
        s"$MaxSearchQueries scaled by beamWidth $beamWidth and embedding " +
        s"width $dim — the beam broadcasts per hop), so chunk the query " +
        s"frame (e.g. by pmod(hash(id), cast(ceil(n / $cap.0) as int))) " +
        "and union the results")
    val nHops = if (hops == 0) derivedHops(index.n) else hops
    Similarity.beamOverAdj(spark, index.adjacency, index.corpus,
      index.entries, named(queries, "q_id", "q_emb"), beamWidth, nHops, k,
      excludeSelf = false)
  }

  /** Per-call query-batch ceiling for [[graphAnnSearch]]: the beam
    * (queries × beamWidth rows, each ~tens of bytes) broadcasts at every
    * hop, so 2¹⁸ queries × beam 16 ≈ 4M rows ≈ low hundreds of MB —
    * comfortably inside Spark's broadcast limit with headroom for wide
    * ids. Larger workloads chunk the query frame; each chunk reuses the
    * same built index. */
  val MaxSearchQueries: Int = 262144

  /** PRODUCT-QUANTIZATION asymmetric-distance top-k (the ADC of Jégou et
    * al. 2011) over arbitrary frames — the compression route: the corpus
    * is stored as `subspaces` single-byte codes per vector (nearest
    * codeword per subspace, deterministic first-`codebookSize`-ids
    * codebook), and each query scores a vector as the SUM of `subspaces`
    * lookup-table reads — the original floats are never touched at search
    * time, which is why PQ scans billions of vectors. Embedding width is
    * inferred from the data and must divide evenly into `subspaces`.
    * 100 TB shape: codebook and per-query lookup tables broadcast
    * (queries × codebookSize × subspaces rows); code assignment is one
    * map-side packed-long argmin; the only corpus shuffle carries
    * (q_id, vec_id, partial-sum) rows. Distances are exact integer
    * micro-units, so ranking is deterministic (ties by vec_id).
    * @return (q_id, vec_id, adc_micros, rank) top-k per query by
    *         approximate squared-L2, ascending */
  def pqTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      k: Int = 10, subspaces: Int = 4, codebookSize: Int = 8): DataFrame = {
    graft.Engine.install(spark)
    require(codebookSize >= 1 && codebookSize <= 16,
      s"codebookSize must be in [1, 16] (packed argmin radix), got $codebookSize")
    val c = named(corpus, "vec_id", "embedding")
    val q = named(queries, "q_id", "q_emb")
    // headOption, not head(): an empty corpus gets the family's named
    // contract error instead of a raw 'next on empty iterator'
    val dim = c.select(size(col("embedding")).as("d")).limit(1)
      .collect().headOption
      .map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        "pqTopK needs a non-empty corpus (width is inferred from the data)"))
    require(dim % subspaces == 0,
      s"embedding width $dim must divide into $subspaces subspaces")
    val len = dim / subspaces
    // deterministic codebook: the first codebookSize vectors by id,
    // re-indexed 0..m-1 driver-side so user ids can be anything
    val cbVecs = c.orderBy(col("vec_id")).limit(codebookSize)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val cb = KMeans.centroidFrame(spark, cbVecs)
      .select(col("c_id").as("code"), col("c_emb").as("cvec"))
    def l2m(a: String, b: String, sub: Int) = expr(
      s"cast(floor(graft_l2sq($a, $b, ${sub * len}, $len) * 1e6 + 0.5) as bigint)")
    // corpus code assignment is genuinely MAP-SIDE (r15 advice: an earlier
    // crossJoin + groupBy spelling shuffled corpus × subspaces rows while
    // the scaladoc claimed otherwise): the codebook is ≤ 16 driver-side
    // vectors, so each subspace's nearest codeword is a per-row least()
    // over literal-codeword (dist_micros·16 + code) packed longs — the
    // registry's packed-argmin trick without its exchange; the corpus
    // never shuffles to earn its codes
    def l2mLit(cw: Array[Double], sub: Int): Column =
      floor(call_function("graft_l2sq", col("embedding"),
        array(cw.map(x => lit(x.toFloat)): _*), lit(sub * len), lit(len))
        * lit(1e6) + lit(0.5)).cast("long")
    def codeAt(sub: Int): Column = {
      val packed = cbVecs.zipWithIndex.map { case (cw, code) =>
        l2mLit(cw, sub) * 16L + lit(code.toLong) }
      (if (packed.length == 1) packed.head else least(packed: _*)) % 16L
    }
    val codes = c.select(col("vec_id"),
      posexplode(array((0 until subspaces).map(codeAt): _*))
        .as(Seq("subspace", "code")))
    val dtab = q.crossJoin(broadcast(cb))
      .select(col("q_id"), col("code"),
        posexplode(array((0 until subspaces).map(s =>
          l2m("q_emb", "cvec", s)): _*)).as(Seq("subspace", "qdm")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_micros"), col("vec_id"))
    codes.join(broadcast(dtab), Seq("subspace", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("qdm")).as("adc_micros"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("adc_micros"), col("rank"))
  }

  /** RANGE SEARCH: every corpus vector whose 4-dp ROUNDED cosine clears
    * `minCosine` — the radius form of [[topK]] for callers who want "all
    * sufficiently similar", not "the k best" (recall sets, duplicate
    * sweeps, policy filters). The cut compares the same rounded score
    * [[topK]] reports (so range == exact-topK-filtered-at-the-cut holds
    * identically, spec-pinned); a vector within half an ulp of the 4-dp
    * grid below the cut therefore rounds in — callers needing a raw-
    * cosine boundary should pass minCosine half a grid step higher. Same
    * 100 TB shape as [[topK]]: queries broadcast, scoring map-side, the
    * corpus never shuffles; output is bounded by the match count, not k.
    * @return (q_id, vec_id, cos_sim) all matches, no ranking */
  def rangeSearch(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      minCosine: Double): DataFrame = {
    graft.Engine.install(spark)
    val c = named(corpus, "vec_id", "embedding")
    val q = named(queries, "q_id", "q_emb")
    c.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        round(expr("graft_cosine(embedding, q_emb)"), 4).as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
  }

  /** Embedding near-duplicate pairs at cosine ≥ `minCosine` — the
    * ALL-PAIRS correctness baseline (O(n²): fine for verification slices;
    * at corpus scale use the registry's LSH-bucketed or SemDeDup-cluster
    * routes, which bound candidates before any cosine is computed).
    *
    * GUARDED: a corpus above [[ExactPairsGuardRows]] rows throws a named
    * contract error unless `exact = true` is passed — a skimmed signature
    * could otherwise fire a 10⁹² -pair cross join; the scaladoc caveat
    * alone proved too easy to miss (the same knob-error discipline as
    * [[graphAnnBuild]]'s parameter validation). The guard costs one
    * count() of the id column — noise next to the cross join it vets.
    * @param exact pass true to acknowledge the O(n²) cost above the
    *              guard threshold (you have a verification slice that
    *              happens to be big, and you mean it)
    * @return (id_a, id_b, cos_sim) with id_a < id_b */
  def nearDupPairs(spark: SparkSession, corpus: DataFrame,
      minCosine: Double = 0.35, exact: Boolean = false): DataFrame = {
    graft.Engine.install(spark)
    guardExactPairs("SimilaritySearch.nearDupPairs", corpus, exact,
      "the registry's LSH-bucketed (dedup_embedding_lsh) or SemDeDup-cluster routes")
    val a = named(corpus, "id_a", "ea")
    val b = named(corpus, "id_b", "eb")
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr("graft_cosine(ea, eb)"), 4).as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
  }

  /** Row-count ceiling above which the exact-pair facades demand an
    * explicit `exact = true`: 10⁵ rows ⇒ ~5×10⁹ candidate pairs for the
    * all-pairs baseline — the edge of "finishes on one box", and far past
    * the verification-slice sizes these baselines exist for. */
  val ExactPairsGuardRows: Long = 100000L

  /** Shared guard for the exact/all-pairs correctness baselines: refuse
    * with a named contract error when the frame exceeds
    * [[ExactPairsGuardRows]] rows and the caller did not pass
    * `exact = true`, naming the scale route to use instead. The probe is
    * a LIMIT-bounded count — `df.limit(guard + 1).count()` reads at most
    * guard + 1 rows and makes the identical accept/refuse decision, where
    * a bare count() would itself execute the full upstream plan of the
    * billion-row frame the guard exists to protect against (r17 review). */
  private[api] def guardExactPairs(fn: String, df: DataFrame,
      exact: Boolean, scaleRoute: String): Unit =
    if (!exact) {
      val n = df.limit(ExactPairsGuardRows.toInt + 1).count()
      require(n <= ExactPairsGuardRows,
        s"$fn: corpus has > $ExactPairsGuardRows rows — this is the " +
        s"exact-pairs correctness baseline (quadratic in the corpus); at " +
        s"this size use $scaleRoute, or pass exact = true to run it anyway")
    }
}
