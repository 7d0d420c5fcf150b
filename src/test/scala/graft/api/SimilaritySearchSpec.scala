package graft.api

import graft.SparkTestBase

/** The public similarity facade must work on user-supplied embeddings of
  * ANY dimension with planted geometric structure: two well-separated
  * clusters in 4-d, a near-duplicate twin, and per-cluster queries. */
class SimilaritySearchSpec extends SparkTestBase {

  // cluster A hugs e1, cluster B hugs e2; ids < 100 are A
  private def corpus(): Seq[(Long, Seq[Float])] = {
    def a(i: Int) = (10L + i, Seq(1f, 0.05f * i, 0f, 0f))
    def b(i: Int) = (100L + i, Seq(0.05f * i, 1f, 0f, 0f))
    (1 to 8).map(a) ++ (1 to 8).map(b) :+ (999L, Seq(1f, 0.05f, 0f, 0f))
    // 999 is a near-twin of vector 11 (= a(1))
  }

  test("topK, MMR, k-means and near-dup pairs on 4-d user embeddings") {
    import spark.implicits._
    val c = corpus().toDF("id", "vec")
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
      .toDF("qid", "qvec")

    val top = SimilaritySearch.topK(spark, c, q, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    // every top-8 hit for query 0 is an A-side id (or the twin), none from B
    assert(top(0L).map(_._2).forall(id => id < 100L || id == 999L),
      s"query 0 must retrieve cluster A: ${top(0L).toSeq}")
    assert(top(1L).map(_._2).forall(id => id >= 100L && id < 999L),
      s"query 1 must retrieve cluster B: ${top(1L).toSeq}")

    val mmr = SimilaritySearch.mmrTopK(spark, c, q)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(mmr.count(_._1 == 0L) == 5 && mmr.count(_._1 == 1L) == 5,
      "5 MMR picks per query")

    val (cents, iters, obj) = SimilaritySearch.kMeansTrain(spark, c, k = 2)
    assert(cents.length == 2 && iters >= 1)
    assert(obj.sliding(2).forall(p => p.last >= p.head - 1e-9),
      s"spherical objective must be monotone: $obj")
    // the two trained centroids separate along dims 0 and 1
    val byDim0 = cents.sortBy(-_.head)
    assert(byDim0.head(0) > byDim0.last(0) && byDim0.last(1) > byDim0.head(1),
      s"centroids must split the planted clusters: ${cents.map(_.take(2).toSeq).toSeq}")

    val dups = SimilaritySearch.nearDupPairs(spark, c, minCosine = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.contains((11L, 999L)), s"the planted twin must pair: $dups")
    assert(!dups.exists(p => p._1 < 100L && p._2 >= 100L && p._2 != 999L),
      s"no cross-cluster pair at 0.999: $dups")
  }

  test("ivfTopK retrieves the planted clusters and recovers exactness at nprobe = nlist") {
    import spark.implicits._
    val c = corpus().toDF("id", "vec")
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
      .toDF("qid", "qvec")
    // nlist=2 trained cells on two planted clusters: each query's single
    // probed cell IS its cluster, so nprobe=1 already retrieves pure sides
    val ivf = SimilaritySearch.ivfTopK(spark, c, q, k = 8, nlist = 2, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    assert(ivf(0L).map(_._2).forall(id => id < 100L || id == 999L),
      s"query 0 must probe into cluster A: ${ivf(0L).toSeq}")
    assert(ivf(1L).map(_._2).forall(id => id >= 100L && id < 999L),
      s"query 1 must probe into cluster B: ${ivf(1L).toSeq}")
    // nprobe = nlist scans every cell: results must equal the exact scan
    val full = SimilaritySearch.ivfTopK(spark, c, q, k = 5, nlist = 2, nprobe = 2)
      .select("q_id", "vec_id", "cos_sim", "rank").collect().toSet
    val exact = SimilaritySearch.topK(spark, c, q, k = 5)
      .select("q_id", "vec_id", "cos_sim", "rank").collect().toSet
    assert(full === exact, "nprobe = nlist must recover the exact top-k")
  }

  test("ivfHierTopK routes through nested cells and recovers exactness at full probe") {
    import spark.implicits._
    val c = corpus().toDF("id", "vec")
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
      .toDF("qid", "qvec")
    // 2 coarse cells on the two planted clusters, each split into 2 fine
    // posting lists: probing ONE coarse cell (both its fine lists) must
    // stay inside the query's cluster
    val hier = SimilaritySearch.ivfHierTopK(spark, c, q, k = 8,
      coarseK = 2, fineK = 2, nprobeCoarse = 1, nprobeFine = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    assert(hier(0L).map(_._2).forall(id => id < 100L || id == 999L),
      s"query 0 must probe into cluster A: ${hier(0L).toSeq}")
    assert(hier(1L).map(_._2).forall(id => id >= 100L && id < 999L),
      s"query 1 must probe into cluster B: ${hier(1L).toSeq}")
    // probing every coarse and fine cell scans the whole corpus: results
    // must equal the exact scan (the ivfTopK pin, one level deeper)
    val full = SimilaritySearch.ivfHierTopK(spark, c, q, k = 5,
      coarseK = 2, fineK = 2, nprobeCoarse = 2, nprobeFine = 2)
      .select("q_id", "vec_id", "cos_sim", "rank").collect().toSet
    val exact = SimilaritySearch.topK(spark, c, q, k = 5)
      .select("q_id", "vec_id", "cos_sim", "rank").collect().toSet
    assert(full === exact, "full hier probe must recover the exact top-k")
  }

  test("pqTopK ranks by compressed asymmetric distance into the right cluster") {
    import spark.implicits._
    val c = corpus().toDF("id", "vec")
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
      .toDF("qid", "qvec")
    // 2 subspaces of width 2 over the 4-d corpus; codebook = first 16 ids
    // = all 8 A-side + all 8 B-side vectors, so BOTH clusters are
    // representable (the first 8 alone are pure A — B vectors would
    // quantize to garbage, the classic unrepresentative-codebook failure)
    val pq = SimilaritySearch.pqTopK(spark, c, q, k = 6, subspaces = 2,
      codebookSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).groupBy(_._1)
    // every returned id decodes to the query's own cluster (compression
    // cannot cross the two orthogonal planted clusters)
    assert(pq(0L).map(_._2).forall(id => id < 100L || id == 999L),
      s"query 0's PQ hits must be cluster A: ${pq(0L).toSeq}")
    assert(pq(1L).map(_._2).forall(id => id >= 100L && id < 999L),
      s"query 1's PQ hits must be cluster B: ${pq(1L).toSeq}")
    // ranks are a contiguous 1..6 per query (deterministic integer ADC)
    assert(pq(0L).map(_._3).sorted.toSeq == (1 to 6) &&
      pq(1L).map(_._3).sorted.toSeq == (1 to 6))
    // width must divide into subspaces — contract named, not mis-scored
    intercept[IllegalArgumentException] {
      SimilaritySearch.pqTopK(spark, c, q, subspaces = 3)
    }
  }

  test("graphAnn build + beam search navigate to the planted clusters") {
    import spark.implicits._
    // NON-dense, NON-contiguous ids on purpose: the hub long-link build
    // must not assume the registry's 0..n-1 id convention
    val c = corpus().map { case (id, v) => (id * 1000 + 7, v) }.toDF("id", "vec")
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
      .toDF("qid", "qvec")
    val idx = SimilaritySearch.graphAnnBuild(spark, c, nlist = 2, hubs = 4)
    // a saturating beam (>= corpus size) with enough hops explores every
    // node reachable through the hub backbone = the whole graph, so the
    // beam result must EQUAL the exact scan — the facade twin of the
    // registry's recall-1.0-at-full-beam property
    val n = corpus().size
    val full = SimilaritySearch.graphAnnSearch(spark, idx, q, k = 5,
      beamWidth = n + 1, hops = 6)
      .select("q_id", "vec_id", "cos_sim", "rank").collect().toSet
    val exact = SimilaritySearch.topK(spark, c, q, k = 5)
      .select("q_id", "vec_id", "cos_sim", "rank").collect().toSet
    assert(full === exact, "saturating beam must recover the exact top-k")
    // the production-shaped beam (16) still lands entirely in the right
    // planted cluster for each query
    val beam = SimilaritySearch.graphAnnSearch(spark, idx, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    assert(beam(0L).map(_._2).forall(id => id < 100000L || id == 999007L),
      s"query 0 must navigate to cluster A: ${beam(0L).toSeq}")
    assert(beam(1L).map(_._2).forall(id => id >= 100000L && id != 999007L),
      s"query 1 must navigate to cluster B: ${beam(1L).toSeq}")
  }

  test("graphAnn id contract: integral ids cast up, non-integral ids fail loudly") {
    import spark.implicits._
    val intIds = corpus().map { case (id, v) => (id.toInt, v) }.toDF("id", "vec")
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f))).toDF("qid", "qvec")
    val idx = SimilaritySearch.graphAnnBuild(spark, intIds, nlist = 2, hubs = 4)
    val r = SimilaritySearch.graphAnnSearch(spark, idx, q, k = 3)
      .collect().map(_.getLong(1))
    assert(r.forall(id => id < 100L || id == 999L), s"int ids search: ${r.toSeq}")
    val strIds = corpus().map { case (id, v) => (id.toString, v) }.toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.graphAnnBuild(spark, strIds)
    }
    assert(e.getMessage.contains("integral id column"), e.getMessage)
  }

  test("rangeSearch: radius form returns ALL matches, no ranking cut") {
    import spark.implicits._
    val c = corpus().toDF("id", "vec")
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f))).toDF("qid", "qvec")
    // at a tight radius only the A-side cluster (and the twin) qualifies
    val hits = SimilaritySearch.rangeSearch(spark, c, q, minCosine = 0.97)
      .collect().map(_.getLong(1)).toSet
    assert(hits.nonEmpty && hits.forall(id => id < 100L || id == 999L),
      s"tight radius must stay inside cluster A: $hits")
    // the radius result equals the exact top-k scores filtered at the cut
    val viaTopK = SimilaritySearch.topK(spark, c, q, k = corpus().size)
      .filter(org.apache.spark.sql.functions.col("cos_sim") >= 0.97)
      .collect().map(_.getLong(1)).toSet
    assert(hits == viaTopK, s"range $hits != filtered exact $viaTopK")
    // radius 1.01 > any cosine: empty, not an error
    assert(SimilaritySearch.rangeSearch(spark, c, q, 1.01).count() == 0)
  }

  test("graphAnn hop derivation: hops=0 walks clamp(log2(n) - 6, 5, 16) steps") {
    // r17: the 100x stress point measured recall 0.725 at the old fixed
    // hops = 5 (beam 16 -> 64 changed nothing; hops 12 restored 1.000),
    // so the hop count joined hubs as a derived knob. The derivation
    // function IS the contract.
    assert(SimilaritySearch.derivedHops(1L) == 5, "tiny corpora keep the floor")
    assert(SimilaritySearch.derivedHops(1024L) == 5) // bitLength 11 - 6 = 5
    assert(SimilaritySearch.derivedHops(2048L) == 6) // first step above the floor
    assert(SimilaritySearch.derivedHops(20000L) == 9)
    assert(SimilaritySearch.derivedHops(200000L) == 12,
      "the measured 100x recovery point")
    assert(SimilaritySearch.derivedHops(100000000L) == 16,
      "the 16 cap bounds serving latency (each hop = two key lookups)")
    // the index records its build-time size; the facade derives from it
    val idx0 = SimilaritySearch.graphAnnBuild(
      spark, { import spark.implicits._; corpus().toDF("id", "vec") }, nlist = 2)
    assert(idx0.n == corpus().size.toLong)
    intercept[IllegalArgumentException] {
      SimilaritySearch.graphAnnSearch(spark, idx0,
        { import spark.implicits._
          Seq((0L, Seq(1f, 0f, 0f, 0f))).toDF("qid", "qvec") }, hops = -1)
    }
    // the beam broadcasts per hop, so an over-sized query BATCH is a
    // named contract error (chunk-and-union), not Spark's opaque 8 GB
    // broadcast abort — the guard counts via limit(), so this is cheap
    val bigQ = spark.range(SimilaritySearch.MaxSearchQueries + 1L)
      .selectExpr("id", "array(1.0f, 0.0f, 0.0f, 0.0f) as q")
    val eBatch = intercept[IllegalArgumentException] {
      SimilaritySearch.graphAnnSearch(spark, idx0, bigQ)
    }
    assert(eBatch.getMessage.contains("chunk the query frame"), eBatch.getMessage)
    // the cap scales DOWN with beamWidth (r17 second review: a
    // count-only guard was defeated by wide beams): at beam 64 the
    // admitted batch shrinks 4x, so 65537 queries already refuse
    val midQ = spark.range(65537L)
      .selectExpr("id", "array(1.0f, 0.0f, 0.0f, 0.0f) as q")
    intercept[IllegalArgumentException] {
      SimilaritySearch.graphAnnSearch(spark, idx0, midQ, beamWidth = 64)
    }
    // ...but NEVER scales UP past the calibrated ceiling (r17 advisor:
    // the q_emb-carrying query frame broadcasts per hop too and does not
    // shrink with beamWidth, so beamWidth = 1 must not admit 16x)
    intercept[IllegalArgumentException] {
      SimilaritySearch.graphAnnSearch(spark, idx0, bigQ, beamWidth = 1)
    }
    // beamWidth 0 is a named error, never a silently empty result
    val e0 = intercept[IllegalArgumentException] {
      SimilaritySearch.graphAnnSearch(spark, idx0,
        { import spark.implicits._
          Seq((0L, Seq(1f, 0f, 0f, 0f))).toDF("qid", "qvec") }, beamWidth = 0)
    }
    assert(e0.getMessage.contains("beamWidth"), e0.getMessage)
  }

  test("graphAnn ranks as Spark sorts: a zero vector's NaN cosine comes first") {
    import spark.implicits._
    // graft_cosine gives NaN for a zero vector, and Spark's desc order puts
    // NaN above every number; the driver-side beam must rank the same way,
    // so a saturating beam still equals the exact scan
    val c = (corpus() :+ ((500L, Seq(0f, 0f, 0f, 0f)))).toDF("id", "vec")
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
      .toDF("qid", "qvec")
    val idx = SimilaritySearch.graphAnnBuild(spark, c, nlist = 2, hubs = 4)
    val full = SimilaritySearch.graphAnnSearch(spark, idx, q, k = 5,
      beamWidth = corpus().size + 2, hops = 6).collect()
    assert(full.filter(_.getInt(3) == 1).map(r => (r.getLong(1), r.getDouble(2).isNaN)).toSet ==
      Set((500L, true)), s"the zero vector must rank first: ${full.toSeq}")
    val exact = SimilaritySearch.topK(spark, c, q, k = 5)
      .select("q_id", "vec_id", "cos_sim", "rank").collect()
    assert(full.map(_.toString).toSet == exact.map(_.toString).toSet)
  }

  test("graphAnn hub derivation: hubs=0 sizes the backbone as clamp(ceil(sqrt(n)), 64, 4096)") {
    import spark.implicits._
    // the derivation function IS the contract (r15 task: the probedSalt
    // discipline applied to the last documented-constant knob)
    assert(SimilaritySearch.derivedHubs(1L) == 64,
      "tiny corpora keep the 64 floor for entry diversity")
    assert(SimilaritySearch.derivedHubs(4096L) == 64)
    assert(SimilaritySearch.derivedHubs(10000L) == 100,
      "sqrt derivation between the clamps")
    assert(SimilaritySearch.derivedHubs(50000L) == 224)
    assert(SimilaritySearch.derivedHubs(1000000L) == 1000)
    assert(SimilaritySearch.derivedHubs(100000000L) == 4096,
      "the 4096 cap bounds the driver-side hub array")
    // behavioral arm: a default (hubs = 0) build on a planted corpus must
    // still navigate — the derived floor (64 > n here) caps at corpus size
    // via the limit, so every node is a hub and search equals exact
    val c = corpus().toDF("id", "vec")
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f))).toDF("qid", "qvec")
    val idx = SimilaritySearch.graphAnnBuild(spark, c, nlist = 2)
    val hits = SimilaritySearch.graphAnnSearch(spark, idx, q, k = 5)
      .collect().map(_.getLong(1))
    assert(hits.forall(id => id < 100L || id == 999L),
      s"derived-hub build must navigate to cluster A: ${hits.toSeq}")
    // contract errors are named (r15 advice): hubs < 0, bad link counts
    for (bad <- Seq(
        () => SimilaritySearch.graphAnnBuild(spark, c, hubs = -1),
        () => SimilaritySearch.graphAnnBuild(spark, c, longLinks = 0),
        () => SimilaritySearch.graphAnnBuild(spark, c, shortLinks = 0)))
      intercept[IllegalArgumentException](bad())
    intercept[IllegalArgumentException] {
      SimilaritySearch.graphAnnBuild(spark,
        Seq.empty[(Long, Seq[Float])].toDF("id", "vec"))
    }
  }
}
