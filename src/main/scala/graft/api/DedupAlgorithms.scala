package graft.api

import graft.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** PUBLIC deduplication facade over arbitrary document DataFrames — the
  * library surface for the engine's dedup family (the registry's dedup_*
  * queries demonstrate the same algorithms on the fixture corpus; this is
  * what a user running their own corpus calls). Every function takes a
  * two-column frame of (id, text) — any column names — and keeps the
  * registry's scale shapes: digest-only shuffles, LSH-banded candidate
  * bounds, pointer-jumping clustering. Same code as the registry queries
  * (`Dedup`'s helpers), re-exported with public contracts. */
object DedupAlgorithms {

  private def docs(df: DataFrame): DataFrame = df.toDF("doc_id", "text")

  /** Exact duplicate groups by content digest — the shuffle moves 16-byte
    * digests, never text.
    * @return (keep_id, digest, n_copies) one row per distinct content,
    *         keep_id = lowest id of the group */
  def exactDuplicates(df: DataFrame): DataFrame =
    docs(df).select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("h").as("digest"), col("n_copies"))

  /** MinHash+LSH near-duplicate pairs at estimated Jaccard ≥ 0.5 over
    * 3-word shingles (16 permutations, 8×2 banding — recall ≈ 0.9997 at
    * J = 0.8; documents under 3 words have no shingles and never pair).
    * Candidate generation is band-bounded, never all-pairs.
    *
    * The signature frame is [[Pin.reuse]]d so the 16-permutation
    * minhash runs once (banding and verification both read it).
    * @return (doc_a, doc_b, n_eq) with doc_a < doc_b, n_eq of 16 */
  def nearDupPairs(df: DataFrame): DataFrame = {
    val sig = Pin.reuse(Dedup.perRowSigFast(docs(df)))
    Dedup.verifiedPairs(Dedup.bandedSig(sig, Dedup.xxBand))
  }

  /** Near-duplicate CLUSTERS: [[nearDupPairs]] closed into connected
    * components by min-label + pointer jumping (O(log diameter) ticks).
    * @return (doc_id, cluster_id) for every document that paired */
  def nearDupClusters(df: DataFrame): DataFrame =
    Dedup.connectedComponents(nearDupPairs(df))

  /** Exact-substring duplication flags (Lee et al. 2022's any-alignment
    * gate): a document is flagged when ANY stride-1 `window`-token span
    * also appears in another document. Only span digests shuffle.
    * @return (doc_id, n_windows, n_dup_windows, is_dup) */
  def exactSubstringFlags(df: DataFrame, window: Int = 50): DataFrame =
    Dedup.exactSubstringVerdicts(docs(df), window)

  /** Perceptual-hash (dHash) near-duplicate pairs — the image-family
    * dedup over a (id, payload) frame: a 60-bit gradient signature per
    * document (bit i ⇔ intensity(i) > intensity(i+1)), 4×15-bit LSH bands
    * bound candidate generation, pairs verified at Hamming ≤ `hammingMax`
    * via bit_count(xor). The intensity read is the STUB boundary (payload
    * code points stand in for decoded 8×8 pixel means — swap in a real
    * decoder upstream and feed the intensities as a string); banding,
    * verify and pair plumbing are exactly what the pixel version ships.
    * Band/threshold constants carry their measured curve
    * (mm_phash_band_sweep). Only (band, key) digests shuffle; the payload
    * never moves.
    * @return (doc_a, doc_b, hamming) with doc_a < doc_b */
  def phashNearDupPairs(df: DataFrame, hammingMax: Int = 6): DataFrame =
    graft.operators.Multimodal.phashPairs(
      graft.operators.Multimodal.dhashOf(docs(df)), hammingMax)

  /** Incremental ingest delta: incoming documents whose content digest is
    * absent from the snapshot — the "don't re-ingest the last crawl"
    * gate. Both sides project to digests before the anti-join.
    * @return (doc_id, digest) of the genuinely-new incoming docs */
  def ingestDelta(incoming: DataFrame, snapshot: DataFrame): DataFrame = {
    val snap = snapshot.toDF("doc_id", "text").select(md5(col("text")).as("h"))
    docs(incoming).select(col("doc_id"), md5(col("text")).as("h"))
      .join(snap, Seq("h"), "left_anti")
      .select(col("doc_id"), col("h").as("digest"))
  }

  /** Exact shingle-Jaccard pairs at J >= `minJaccardPct`/100 — the
    * ground-truth verifier [[nearDupPairs]]'s MinHash estimate is
    * calibrated against. Per-row distinct trigram arrays (scan-side);
    * verification is exact over the full sets; the threshold is one
    * integer cross-multiplication — no float in the cut.
    *
    * CANDIDATE-BOUND CAVEAT (not exact recall): the inverted index drops
    * shingles present in more than `maxShingleDf` documents before the
    * candidate self-join (one corpus-hot stopword trigram would otherwise
    * emit O(df²) pairs), so a qualifying pair whose EVERY shared shingle
    * is corpus-hot is skipped — e.g. 51+ verbatim copies of the same
    * boilerplate document all share only df>50 shingles and pair with
    * nothing at the default cap. Route mass-duplicated content through
    * [[exactDuplicates]] first (verbatim copies are its job), or raise
    * `maxShingleDf` toward the largest expected duplicate-cluster size.
    * Scores of REPORTED pairs are always exact.
    *
    * GUARDED: a corpus above [[SimilaritySearch.ExactPairsGuardRows]]
    * rows throws a named contract error unless `exact = true` — the
    * exact verify carries full shingle arrays through the candidate
    * join, a ground-truth-calibration cost (use [[nearDupPairs]]'s
    * MinHash-LSH route at corpus scale; its banding moves digests only).
    * @param exact pass true to acknowledge the exact-verification cost
    *              above the guard threshold
    * @return (doc_a, doc_b, inter, jaccard) with doc_a < doc_b */
  def jaccardPairs(df: DataFrame, minJaccardPct: Int = 80,
      maxShingleDf: Int = 50, exact: Boolean = false): DataFrame = {
    require(minJaccardPct >= 1 && minJaccardPct <= 100,
      s"minJaccardPct must be in [1, 100], got $minJaccardPct")
    require(maxShingleDf >= 2, s"maxShingleDf must be >= 2, got $maxShingleDf")
    SimilaritySearch.guardExactPairs("DedupAlgorithms.jaccardPairs", df,
      exact, "DedupAlgorithms.nearDupPairs (MinHash-LSH: digests shuffle, texts don't)")
    Dedup.jaccardPairsOf(docs(df), minJaccardPct, maxShingleDf)
  }

  /** Asymmetric containment pairs C(A,B) = |S(A) ∩ S(B)| / |S(A)| >=
    * `minContainmentPct`/100 — catches "doc A is mostly inside doc B"
    * (boilerplate wrappers, quote farms, partial scrapes) that symmetric
    * Jaccard misses when the host is much larger. Ordered pairs: both
    * directions are tested. Same candidate/verify shape — and the same
    * `maxShingleDf` candidate-bound caveat — as [[jaccardPairs]], and the
    * same [[SimilaritySearch.ExactPairsGuardRows]] guard (`exact = true`
    * to run above it).
    * @return (doc_a, doc_b, inter, containment) ordered pairs */
  def containmentPairs(df: DataFrame, minContainmentPct: Int = 90,
      maxShingleDf: Int = 50, exact: Boolean = false): DataFrame = {
    require(minContainmentPct >= 1 && minContainmentPct <= 100,
      s"minContainmentPct must be in [1, 100], got $minContainmentPct")
    require(maxShingleDf >= 2, s"maxShingleDf must be >= 2, got $maxShingleDf")
    SimilaritySearch.guardExactPairs("DedupAlgorithms.containmentPairs", df,
      exact, "DedupAlgorithms.nearDupPairs (MinHash-LSH: digests shuffle, texts don't)")
    Dedup.containmentPairsOf(docs(df), minContainmentPct, maxShingleDf)
  }
}
