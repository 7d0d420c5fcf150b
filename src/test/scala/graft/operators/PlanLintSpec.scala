package graft.operators

import graft.{Pin, SparkEntry, SparkTestBase}

/** Global scale-posture lint over EVERY registry query's physical plan:
  * a shuffle CartesianProduct (both sides data-sized) is a 100 TB
  * scale-killer and must never appear. BroadcastNestedLoopJoin is allowed
  * only where it is the documented design (a tiny broadcast side — scalar
  * totals, a handful of query vectors, a theta-join correctness baseline);
  * that allowlist is explicit so a new operator can't silently regress
  * into an O(n*m) plan. */
class PlanLintSpec extends SparkTestBase {

  /** ops whose plan legitimately contains a BroadcastNestedLoopJoin — in
    * every case the broadcast side is CONSTANT-BOUNDED (a scalar aggregate,
    * k centroids, a per-query LUT, ≤8 query vectors, 4 epochs), so the
    * "loop" is O(corpus x constant): the map-side-broadcast pattern, not a
    * scale risk. A new op landing here unexpectedly must justify itself. */
  private val bnljByDesign = Set(
    // theta/range join demonstrated as BNLJ on purpose (the documented
    // naive baseline next to the binned rewrite)
    "q38_range_join",
    // ≤8 query vectors broadcast against the corpus (map-side scoring)
    "ann_cosine_topk", "ann_range_search", "ann_recall_eval",
    "ann_dim_truncation_eval", "ann_mips_topk", "ann_mmr_topk",
    "ann_filtered_recall",
    // composes ann_cosine_topk (the 8-query broadcast above) as its exact
    // truth side; the beam itself crossJoins only 8 queries x 8 entries
    "ann_graph_recall",
    // composes ann_cosine_topk's exact truth AND the two serving routes;
    // all broadcast sides constant-bounded (8 queries, 10-row discount
    // table, beam entries)
    "ann_rank_metrics",
    // documented all-pairs correctness baseline
    "dedup_embedding", "emb_threshold_sweep",
    // all-pairs on a deterministic 1/16 hash-sample (1/256 of the pairs):
    // the sweep's scale route; sample rate is the tuning knob at 100 TB
    "emb_threshold_sweep_sampled",
    // crossJoin(broadcast(k centroids / seed set)) — nearest-seed assignment
    // (ann_ivf_hier_topk: the same scoring against the 4 coarse seeds;
    // the fine level joins on the coarse cell key, not cross)
    "ann_ivf_hier_topk",
    "emb_kmeans_assign", "emb_kmeans_update", "dedup_semantic",
    "emb_silhouette",
    // inherit kmeansAssign's 8-seed crossJoin (trained coarse quantizer),
    // and the recall panel additionally composes ann_cosine_topk's 8-query
    // broadcast — every broadcast side constant-bounded
    "ann_ivf_trained_topk", "ann_ivf_trained_recall",
    // crossJoin(broadcast(codebook / per-query ADC lookup tables))
    "emb_pq_assign", "ann_pq_topk", "ann_pq_rerank", "ann_ivfpq_topk",
    "ann_probe_sweep",
    // crossJoin of a 1-row scalar aggregate (corpus totals / norm / v)
    "emb_power_iteration", "text_tfidf", "curation_temperature_sample",
    "curation_dsir_weights", "lm_backoff_score", "lm_kneser_ney",
    "text_vocab_coverage",
    // the 5-row per-model scalar table (lang-count-bounded) crossed onto
    // eval bigrams — the model axis of the transfer matrix
    "lm_transfer_matrix",
    "q48_value_share", "q50_inactive_high_balance", "pipeline_histogram",
    "pipeline_curriculum", "text_source_divergence", "text_vocab_growth",
    // crossJoins of 1-row scalar aggregates (budget+G, then the water
    // level) onto G=source-count rows — both sides constant-bounded
    "curation_token_budget",
    // composes dedup_minhash + ngram truth, inherits the scalar crossJoins
    "dedup_candidate_eval",
    // 7-row threshold table >= joined to the <=13-row n_eq histogram
    "dedup_threshold_sweep",
    // crossJoin of the 1-row purchase-total scalar onto 5 channel rows
    "ev_first_touch_attribution",
    // crossJoins of 1-row anchors (date midpoint, theta, per-set kth/exact
    // scalars) onto K=64-bounded sketch rows — every side constant-bounded
    "ev_kmv_overlap",
    // crossJoins of the 3-row K table and the 1-row exact scalar onto the
    // Kmax=256-bounded ranking — every side constant-bounded
    "ev_kmv_k_sweep",
    // crossJoin of the 1-row corpus-total scalar onto 20 source rows
    "curation_mixture_entropy",
    // crossJoin of two 1-row aggregates (corpus totals x top-language row)
    "pipeline_dataset_card",
    // crossJoin of the 1-row edge-count scalar onto community-sized rows
    "graph_modularity",
    // crossJoin of the 1-row corpus-max-timestamp anchor onto user rows
    "ev_rfm_segments",
    // 1-row scalar guard (the assert-then-broadcast BenchGramCap) crossed
    // onto the bench-gram side before it broadcasts
    "pipeline_decontaminate",
    // eval-benchmark set broadcast against the streaming train corpus —
    // constant-bounded BY CONSTRUCTION: an assert-then-broadcast filter
    // raise_errors past Similarity.EvalCap (=100k) rows, so the broadcast
    // side cannot grow with the corpus (the map-side-broadcast pattern,
    // same as the ann query sets)
    "emb_semantic_decontam",
    // 4-epoch constant table crossed with the shard list (both metadata)
    "pipeline_epoch_schedule",
    // crossJoin of the 1-row user-total scalar onto <=31 grid rows
    "ev_survival_curve",
    // crossJoin of the 1-row (token-total, bigram-total) scalar onto the
    // count-filtered bigram model
    "text_collocations",
    // three 1-row anchors (split day, baseline range, totals) crossed onto
    // the corpus scan / 10-bucket table
    "ev_value_psi",
    // crossJoin of the 1-row basket-total scalar onto the support-filtered
    // pair table
    "graph_copurchase_lift",
    // crossJoin of the 1-row (n_users, total-spend) scalar onto user rows
    "ev_ab_lift", "ev_power_analysis",
    // crossJoin of the 1-row (split-anchor) scalar onto the event scan
    "ev_cuped_readout",
    // crossJoin of the 1-row corpus-max-timestamp anchor onto purchases
    "ev_metric_decomposition",
    // crossJoin of two 1-row scalars (totals x chance-agreement sum)
    "curation_rater_agreement",
    // crossJoin of two 1-row scalars (hour totals x SSE sum)
    "ev_seasonality_strength",
    // crossJoin of the 1-row corpus-max-day anchor onto (user, island) rows
    "ev_activity_streaks",
    // crossJoin of the 1-row degree-quantile anchor onto node/edge rows
    "graph_rich_club",
    // crossJoin of the 1-row doc-count scalar onto the ranked doc table
    "lm_perplexity_yield",
    // crossJoin of the 1-row (vol_hi, reg_lo) threshold scalar onto user rows
    "ev_bot_detection"
  )

  test("no registry query plans a shuffle CartesianProduct; BNLJ only by design") {
    val offenders = SparkEntry.registry.flatMap { q =>
      val plan =
        // in a scope, as the executors run it: reused subtrees stay in the plan
        try Pin.query(q.run(spark, sf).queryExecution.executedPlan.toString)
        catch { case e: Throwable => s"PLANNING FAILED: $e" }
      val cart = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljByDesign(q.name)
      val failed = plan.startsWith("PLANNING FAILED")
      if (cart || bnlj || failed)
        Some(s"${q.name}: cartesian=$cart unexpected-bnlj=$bnlj failed=$failed")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
