package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** PUBLIC text-analytics facade over arbitrary document DataFrames — the
  * library surface for the engine's text family (the registry's text_*
  * queries demonstrate the same algorithms on the fixture corpus; this is
  * what a user running their own corpus calls — the reference's
  * user-facing Task surface role,
  * streaming/src/main/scala/io/gearpump/streaming/task/Task.scala:129-167).
  *
  * Input convention: every function takes a two-column (id, text) frame —
  * any column names, integral-or-string ids. All per-document work is pure
  * column expressions (scan-speed, whole-stage codegen, no UDFs), so each
  * call parallelizes embarrassingly at corpus scale; BPE training is the
  * one iterative call and runs over the VOCABULARY-sized distinct-word
  * dictionary, never the corpus. Same code as the registry queries
  * (`TextAnalysis`'s helpers), re-exported with public contracts. */
object TextAnalytics {

  private def docs(df: DataFrame): DataFrame = {
    require(df.columns.length == 2,
      s"expected a two-column (id, text) frame, got ${df.columns.length} columns")
    df.toDF("doc_id", "text")
  }

  /** Per-document quality composite: whitespace token count, distinct-token
    * count, stopword count, type-token ratio, stopword ratio, the composite
    * score `min(n_tokens/100, 1) * (1 - stop_ratio) * ttr`, and its
    * high/medium/low bucket — the standard cheap pre-filter before
    * model-based quality classifiers.
    * @return (doc_id, n_tokens, n_uniq, n_stop, ttr, stop_ratio, score, bucket) */
  def qualityScores(df: DataFrame): DataFrame =
    TextAnalysis.qualityOf(docs(df))
      .select(col("doc_id"), col("n_tokens"), col("n_uniq"), col("n_stop"),
        col("ttr"), col("stop_ratio"), col("score"), col("bucket"))

  /** Per-document Gopher rule panel (Rae et al. 2021 heuristics): word
    * count in [50, 100k], mean word length in [3, 10], symbol-word ratio
    * <= 10%, alphabetic words >= 80%, >= 2 distinct stopword kinds, and
    * the all-rules conjunction a corpus gate filters on.
    * @return (doc_id, n_words, r_words, r_mwl, r_sym, r_alpha, r_stop, r_all) */
  def gopherFlags(df: DataFrame): DataFrame =
    TextAnalysis.gopherVerdicts(docs(df))

  /** Marker-word language-ID heuristic over {en, de, es, fr}: count hits
    * from per-language marker sets, argmax with a fixed tie order. (A
    * production pipeline swaps in a model scorer; the engine-side
    * mechanics — tokenize, score, argmax — are what this ships.)
    * @return (doc_id, pred_lang) */
  def languageId(df: DataFrame): DataFrame =
    TextAnalysis.withLangPred(docs(df)).select(col("doc_id"), col("pred_lang"))

  /** Per-document token counts: whitespace tokens, BPE-ish regex segments
    * (letter runs / digit runs / single non-alnum — the cheap proxy for
    * tokenizer output size), and characters.
    * @return (doc_id, n_ws_tokens, n_bpe_tokens, n_chars) */
  def tokenCounts(df: DataFrame): DataFrame =
    TextAnalysis.tokenCountsOf(docs(df))

  /** Overlapping stride chunking (RAG/embedding ingestion): split each
    * document into `window`-token spans advancing by `stride`. Every token
    * lands in >= 1 chunk; short documents yield exactly one.
    * @return (doc_id, chunk_idx, tok_start, tok_len, chunk) */
  def chunk(df: DataFrame, window: Int = 50, stride: Int = 25): DataFrame =
    TextAnalysis.chunksOf(docs(df), window, stride)

  /** Train `rounds` greedy BPE merges over the corpus (most frequent
    * adjacent symbol pair per round, count-desc then lexicographic
    * tie-break; merges apply left-to-right non-overlapping). The loop runs
    * over the distinct-word dictionary — two corpus scans, then
    * vocabulary-sized iterations — inside its own `Pin.query`, so its
    * ticks are released before this returns.
    * @return (rank, lhs, rhs, pair_count) one row per learned merge */
  def bpeTrain(df: DataFrame, rounds: Int = 10): DataFrame = {
    val d = docs(df)
    import d.sparkSession.implicits._
    graft.Pin.query(TextAnalysis.bpeTrainOn(d, rounds)._1).toDF("rank", "lhs", "rhs", "pair_count")
  }

  /** Train BPE merges on this corpus and encode it under them: per-document
    * word and BPE-token counts — the number budget/packing/billing
    * decisions are made in. Encoding is a broadcast-hash join of the
    * vocabulary-sized dictionary; the corpus streams through once.
    * Reads a loop tick: the caller's `Pin.query` releases it, or with no
    * query open the ContextCleaner once the frame is unreachable.
    * @return (doc_id, n_words, n_bpe_tokens) */
  def bpeTokenCounts(df: DataFrame, rounds: Int = 10): DataFrame = {
    val d = docs(df)
    val (_, state) = TextAnalysis.bpeTrainOn(d, rounds)
    TextAnalysis.bpeEncodeCounts(d, state)
  }

  /** PII detection + redaction (emails, IPv4) — the mandatory scrub stage
    * before web text becomes training data; the registry's text_pii_scrub
    * automata (the RE2/Java-regex common subset) applied to a user frame.
    * Pure map-side regex work: no shuffle, no state.
    * @return (doc_id, n_emails, n_ips, scrubbed) */
  def piiScrub(df: DataFrame): DataFrame =
    graft.operators.Curation.piiScrubOn(docs(df))

  /** Canonical-form fingerprint: md5 of the whitespace-normalized
    * lowercase text — the cheap cross-shard exact-dedup key. Pure
    * map-side expressions.
    * @return (doc_id, fp) */
  def fingerprint(df: DataFrame): DataFrame =
    TextAnalysis.fingerprintOf(docs(df))

  /** Canonical text normalization — lowercase, strip non-alphanumerics,
    * collapse space runs, trim — the first stage of every training-data
    * pipeline, with the normalized length alongside so the reduction
    * ratio is visible. Pure codegen'd column expressions.
    * @return (doc_id, norm, n_norm_chars) */
  def normalize(df: DataFrame): DataFrame =
    TextAnalysis.normalizeOf(docs(df))

  /** Collocation mining (PMI): the corpus's top word pairs co-occurring
    * far beyond chance — the phrase-discovery pass behind tokenizer vocab
    * seeding and stop-phrase lists. `minCount` floors the bigram count
    * first (raw PMI is maximized by count-1 hapax pairs — Church & Hanks
    * 1990's caveat). Two corpus scans collapse to vocabulary-sized count
    * tables; text never shuffles; top-N is TakeOrderedAndProject.
    * @return (bigram, c_bg, c1, c2, pmi_micro) top-`topN` by PMI */
  def collocations(df: DataFrame, minCount: Int = 5,
      topN: Int = 30): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    TextAnalysis.collocationsOf(docs(df), minCount, topN)
  }

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal runs of non-stopword tokens; each word scores deg/freq
    * (words that travel in long phrases outrank bare frequent words) and
    * a phrase scores the sum of its words — the corpus topical
    * fingerprint next to per-doc TF-IDF. Phrase splitting is one per-doc
    * window; everything after is key-partitioned over phrase-sized rows.
    * @param stopwords the phrase-boundary markers
    * @return (phrase, n_occ, score_micro) top-`topN` by score */
  def rakeKeywords(df: DataFrame,
      stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is"),
      topN: Int = 25): DataFrame = {
    require(stopwords.nonEmpty,
      "rakeKeywords needs at least one stopword (phrases are delimited by them)")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    TextAnalysis.rakeKeywordsOf(docs(df), stopwords, topN)
  }
}
