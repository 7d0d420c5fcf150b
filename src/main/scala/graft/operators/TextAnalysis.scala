package graft.operators

import graft.{GraftQuery, Pin, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY §7.2-8):
  * language-ID heuristic, quality scoring, token counting, fingerprinting.
  * All are pure column expressions (whole-stage codegen, no UDFs) so they
  * run at scan speed and parallelize embarrassingly — the property that
  * matters when the corpus is 100 TB.
  */
object TextAnalysis {
  private def t(s: SparkSession, dir: String, n: String) = Tables.t(s, dir, n)

  /** Appends a `pred_lang` column — the marker-word language-ID heuristic
    * (count hits from per-language marker sets, argmax with a fixed tie
    * order) — preserving every input column. Shared by the registry's
    * text_langid and the public [[graft.api.TextAnalytics.languageId]]. */
  private[graft] def withLangPred(docs: DataFrame): DataFrame = {
    val markers = Map(
      "en" -> Seq("the", "a", "of"),
      "de" -> Seq("der", "die", "das"),
      "es" -> Seq("el", "los", "una"),
      "fr" -> Seq("le", "la", "les"))
    def score(lang: String) = {
      val set = markers(lang).map(m => s"'$m'").mkString(", ")
      expr(s"size(filter(split(text, ' '), x -> x IN ($set)))")
    }
    docs
      .withColumn("s_en", score("en")).withColumn("s_de", score("de"))
      .withColumn("s_es", score("es")).withColumn("s_fr", score("fr"))
      .withColumn("pred_lang",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr"))
      .drop("s_en", "s_de", "s_es", "s_fr")
  }

  /** Marker-word language-ID heuristic: count hits from per-language marker
    * sets, argmax with a fixed tie order. (A real model would be a fastText
    * UDF; the engine-side mechanics — tokenize, score, argmax — are what
    * this operator pins down.) */
  val langId = GraftQuery(
    "text_langid",
    (s, dir) =>
      withLangPred(t(s, dir, "documents"))
        .select(col("doc_id"), col("pred_lang"),
          (col("pred_lang") === col("lang")).as("is_correct"))
        .orderBy(col("doc_id")),
    Some("""WITH scored AS (
              SELECT doc_id, lang,
                len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'of'))) AS s_en,
                len(list_filter(string_split(text, ' '), x -> x IN ('der', 'die', 'das'))) AS s_de,
                len(list_filter(string_split(text, ' '), x -> x IN ('el', 'los', 'una'))) AS s_es,
                len(list_filter(string_split(text, ' '), x -> x IN ('le', 'la', 'les'))) AS s_fr
              FROM documents)
            SELECT doc_id,
              CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                   WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                   WHEN s_es >= s_fr THEN 'es'
                   ELSE 'fr' END AS pred_lang,
              (CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                    WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_es >= s_fr THEN 'es'
                    ELSE 'fr' END) = lang AS is_correct
            FROM scored ORDER BY doc_id"""))

  /** Per-document quality composite over a (doc_id, text) frame: token
    * count, type-token ratio, stopword ratio, composite score and bucket.
    * Shared by the registry's text_quality and the public
    * [[graft.api.TextAnalytics.qualityScores]]. */
  private[graft] def qualityOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        size(col("w")).as("n_tokens"),
        size(array_distinct(col("w"))).as("n_uniq"),
        expr("size(filter(w, x -> x IN ('the', 'a', 'of', 'to', 'and', 'in', 'is')))").as("n_stop"))
      // explicit half-up via floor: Spark's round is HALF_UP but DuckDB's
      // is half-even on doubles, and composite scores land on exact .5
      // ties at the 6th decimal (first seen at sf0.1) — floor(x*1e6+0.5)
      // is bit-deterministic for the same IEEE double on both engines
      .withColumn("ttr", expr("floor(n_uniq / n_tokens * 1e6 + 0.5) / 1e6"))
      .withColumn("stop_ratio", expr("floor(n_stop / n_tokens * 1e6 + 0.5) / 1e6"))
      .withColumn("score", expr(
        "floor(least(n_tokens / 100.0, 1.0) * (1.0 - stop_ratio) * ttr * 1e6 + 0.5) / 1e6"))
      .withColumn("bucket",
        when(col("score") >= 0.3, "high").when(col("score") >= 0.15, "medium").otherwise("low"))

  /** Quality scoring: token count, type-token ratio, stopword ratio and a
    * composite score with bucketing — the standard cheap pre-filter before
    * expensive model-based quality classifiers. */
  val quality = GraftQuery(
    "text_quality",
    (s, dir) =>
      qualityOf(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("n_uniq"), col("n_stop"),
          col("ttr"), col("stop_ratio"), col("score"), col("bucket"))
        .orderBy(col("doc_id")),
    Some("""WITH base AS (
              SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents),
            m AS (
              SELECT doc_id,
                CAST(len(w) AS INTEGER) AS n_tokens,
                CAST(len(list_distinct(w)) AS INTEGER) AS n_uniq,
                CAST(len(list_filter(w, x -> x IN ('the', 'a', 'of', 'to', 'and', 'in', 'is'))) AS INTEGER) AS n_stop
              FROM base),
            r AS (
              SELECT doc_id, n_tokens, n_uniq, n_stop,
                floor(CAST(n_uniq AS DOUBLE) / n_tokens * 1e6 + 0.5) / 1e6 AS ttr,
                floor(CAST(n_stop AS DOUBLE) / n_tokens * 1e6 + 0.5) / 1e6 AS stop_ratio
              FROM m),
            sc AS (
              SELECT doc_id, n_tokens, n_uniq, n_stop, ttr, stop_ratio,
                floor(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * (1.0 - stop_ratio) * ttr * 1e6 + 0.5) / 1e6 AS score
              FROM r)
            SELECT doc_id, n_tokens, n_uniq, n_stop, ttr, stop_ratio, score,
              CASE WHEN score >= 0.3 THEN 'high'
                   WHEN score >= 0.15 THEN 'medium'
                   ELSE 'low' END AS bucket
            FROM sc ORDER BY doc_id"""))

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single non-alnum), the cheap proxy for
    * "how many tokens will the tokenizer emit". */
  /** Per-document token counts over a (doc_id, text) frame: whitespace
    * tokens, BPE-ish regex segments, characters. Shared by
    * text_token_count and [[graft.api.TextAnalytics.tokenCounts]]. */
  private[graft] def tokenCountsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("n_ws_tokens"),
      size(expr("""regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)""")).as("n_bpe_tokens"),
      length(col("text")).as("n_chars"))

  val tokenCount = GraftQuery(
    "text_token_count",
    (s, dir) => tokenCountsOf(t(s, dir, "documents")).orderBy(col("doc_id")),
    Some("""SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
              CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INTEGER) AS n_bpe_tokens,
              CAST(length(text) AS INTEGER) AS n_chars
            FROM documents ORDER BY doc_id"""))

  /** The canonical-form fingerprint core over any (doc_id, text) frame —
    * md5 of the whitespace-normalized lowercase text. Shared by
    * text_fingerprint and [[graft.api.TextAnalytics.fingerprint]]. */
  private[graft] def fingerprintOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))

  /** Document fingerprint: md5 of the whitespace-normalized lowercase text
    * (the cheap canonical-form key used for cross-shard exact dedup). */
  val fingerprint = GraftQuery(
    "text_fingerprint",
    (s, dir) => fingerprintOf(t(s, dir, "documents")).orderBy(col("doc_id")),
    Some("""SELECT doc_id,
              md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
            FROM documents ORDER BY doc_id"""))

  /** Winnowing-style rolling fingerprints: min md5 within each sliding
    * window of 8 shingle hashes — selects a deterministic ~1/8 sample of
    * shingles per doc as its signature set (rows-only; the mechanism is
    * the deliverable, used for plagiarism-style containment detection). */
  val winnow = GraftQuery(
    "text_winnow",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), expr(
          "transform(sequence(0, size(w)-3), i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2])))").as("hs"))
        .select(col("doc_id"), explode(expr(
          """array_distinct(transform(sequence(0, greatest(size(hs) - 8, 0)),
             j -> array_min(slice(hs, j + 1, 8))))""")).as("fp"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_fingerprints"))
        .orderBy(col("doc_id")),
    // md5 hex is lowercase ASCII on both engines, so array_min/list_min
    // agree lexicographically; the window math mirrors the Spark side
    // 1-based (slice(hs, j+1, 8) over j in 0..size-8  ==  list_slice(hs, j,
    // j+7) over j in 1..len-7, both clamped to one full-list window when
    // the doc has fewer than 8 shingles).
    Some("""SELECT doc_id,
              CAST(len(list_distinct(list_transform(
                generate_series(1, greatest(len(hs) - 7, 1)),
                j -> list_min(list_slice(hs, j, j + 7))))) AS BIGINT) AS n_fingerprints
            FROM (SELECT doc_id,
                    list_transform(generate_series(1, len(w) - 2),
                      i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2]))) AS hs
                  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
                  WHERE len(w) >= 3)
            ORDER BY doc_id"""))

  /** Canonical text normalization — the first stage of every training-data
    * pipeline: lowercase, strip non-alphanumerics, collapse runs of spaces,
    * trim. Pure codegen'd column expressions; emitted alongside the original
    * length so the reduction ratio is visible. */
  /** The normalization core over any (doc_id, text) frame — lowercase,
    * strip non-alphanumerics, collapse space runs, trim; pure codegen'd
    * expressions. Shared by text_normalize and
    * [[graft.api.TextAnalytics.normalize]]. */
  private[graft] def normalizeOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " ")).as("norm"))
      .select(col("doc_id"), col("norm"),
        length(col("norm")).as("n_norm_chars"))

  val normalize = GraftQuery(
    "text_normalize",
    (s, dir) => normalizeOf(t(s, dir, "documents")).orderBy(col("doc_id")),
    Some("""SELECT doc_id, norm, CAST(length(norm) AS INTEGER) AS n_norm_chars
            FROM (SELECT doc_id,
                    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                         ' +', ' ', 'g')) AS norm
                  FROM documents)
            ORDER BY doc_id"""))

  /** TF-IDF top terms per document — the classic relevance/keyword signal a
    * curation pipeline uses for topic tagging and near-boilerplate spotting.
    * 100 TB shape: term frequencies are one partial-agg groupBy of the
    * exploded tokens; document frequencies re-aggregate the (much smaller)
    * per-doc-term table; the idf join is on the term key (AQE broadcasts
    * the vocabulary when it fits, falls back to a hash join when web-scale
    * vocab doesn't); the corpus count joins in as a broadcast 1-row
    * aggregate, not a collected literal. Float discipline: idf is
    * floor-rounded to 6 dp BEFORE the tf multiply, and the final score is
    * floor-scaled to an exact integer, so engines can't drift in the last
    * ulp of ln(). */
  val tfidf = GraftQuery(
    "text_tfidf",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfTerm = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val scored = tf.join(dfTerm, "term").crossJoin(broadcast(nDocs))
        .withColumn("idf_r",
          expr("floor(ln(cast(n_docs as double) / df) * 1e6 + 0.5) / 1e6"))
        .withColumn("score_scaled",
          expr("cast(floor(tf * idf_r * 1e6 + 0.5) as bigint)"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score_scaled").desc, col("term"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("score_scaled"), col("rank"))
        .orderBy(col("doc_id"), col("rank"))
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
            dfp AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM documents),
            sc AS (SELECT tf.doc_id, tf.term, tf.tf,
                     CAST(floor(tf.tf *
                       (floor(ln(CAST(n_docs AS DOUBLE) / df) * 1e6 + 0.5) / 1e6)
                       * 1e6 + 0.5) AS BIGINT) AS score_scaled
                   FROM tf JOIN dfp USING (term) CROSS JOIN n),
            rk AS (SELECT doc_id, term, tf, score_scaled,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY score_scaled DESC, term) AS rank
                   FROM sc)
            SELECT doc_id, term, tf, score_scaled, CAST(rank AS INTEGER) AS rank
            FROM rk WHERE rank <= 3 ORDER BY doc_id, rank"""))

  /** CORPUS-WIDE TOKEN FREQUENCIES from a Count-Min sketch
    * ([[graft.functions.CMSketch]]): the scalable alternative to an exact
    * token groupBy when the vocabulary itself is too big to shuffle — each
    * executor folds its partitions into one depth x width table and only
    * the few-KB tables merge. Output compares the sketch estimate to the
    * exact count for the 20 most frequent tokens and checks the CMS
    * guarantee `exact <= est <= exact + (e/width) * N`. Bounded-oracled
    * since r18: the raw estimate is hash-defined and not SQL-expressible,
    * so it stays engine-side and the COMPARED surface is the exact top-20
    * plus the within_bound verdict — the sketch's hash family is
    * deterministic, so the boolean is a stable value DuckDB asserts as
    * the CMS guarantee itself (a sketch regression flips it false and the
    * hash compare goes red). The estimate algebra and the error-bound
    * arithmetic stay pinned by CountMinSketchSpec. */
  val cmsHeavyHitters = GraftQuery(
    "text_cms_heavy_hitters",
    (s, dir) => {
      import s.implicits._
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
      val sk = toks.as[String].select(graft.functions.CMSketch.agg().toColumn).head()
      // top-20 exact counts: a tiny driver-side table; the sketch itself is
      // the driver-sized summary, so estimating against it is a local map
      val rows = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok")).limit(20)
        .collect().toSeq.map { r =>
          val tok = r.getString(0); val ex = r.getLong(1); val est = sk.estimate(tok)
          (tok, ex, est >= ex && est <= ex + sk.errorBound)
        }
      s.createDataFrame(rows).toDF("tok", "exact_cnt", "within_bound")
        .orderBy(col("exact_cnt").desc, col("tok"))
    },
    Some("""WITH tok AS (
              SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
            cnt AS (
              SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
              FROM tok GROUP BY tok)
            SELECT tok, exact_cnt, TRUE AS within_bound
            FROM cnt ORDER BY exact_cnt DESC, tok LIMIT 20"""))

  /** BPE MERGE CANDIDATE COUNTS — the inner loop of byte-pair-encoding
    * tokenizer training: count adjacent symbol pairs across the corpus and
    * surface the top candidates (training repeatedly merges the argmax).
    * Symbols here are characters within whitespace words, the state of BPE
    * iteration 0; the engine mechanics (explode words -> explode adjacent
    * pairs -> global count -> top-k) are identical at every iteration.
    *
    * 100 TB shape: both explodes are map-side (no shuffle until the count);
    * the pair count partial-aggregates into at most |alphabet|^2 groups per
    * task, so the exchange carries tiny (pair, count) rows, and the top-20
    * is a TakeOrderedAndProject, never a global sort. */
  val bpePairs = GraftQuery(
    "text_bpe_pairs",
    (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(
          expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20),
    Some("""WITH words AS (SELECT unnest(string_split(text, ' ')) AS w
                           FROM documents),
            pairs AS (SELECT unnest(list_transform(range(1, length(w)),
                        i -> w[i:i+1])) AS pair
                      FROM words WHERE length(w) >= 2)
            SELECT pair, count(*) AS cnt FROM pairs
            GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20"""))

  /** Overlapping stride chunks of a (doc_id, text) frame: `window`-token
    * windows advancing by `stride`, emitting (doc_id, chunk_idx, tok_start,
    * tok_len, chunk). Chunk starts are every stride multiple < n_tokens, so
    * every token lands in >= 1 chunk and short documents yield exactly one.
    * Shared by text_chunk_stride and [[graft.api.TextAnalytics.chunk]]. */
  private[graft] def chunksOf(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"chunksOf needs 1 <= stride <= window, got window=$window stride=$stride")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), size(col("w")).as("n_tokens"),
        posexplode(expr(
          s"""transform(sequence(0, cast(floor((size(w)-1)/$stride) as int)),
               c -> concat_ws(' ', slice(w, c*$stride+1, $window)))"""))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("tok_start"),
        least(lit(window), col("n_tokens") - col("chunk_idx") * stride).as("tok_len"),
        col("chunk"))
  }

  /** OVERLAPPING STRIDE CHUNKING (RAG/embedding ingestion): split each
    * document into 50-token windows advancing by 25 (50% overlap, so no
    * boundary sentence is ever cut from both sides), emitting the chunk
    * text, its token span, and a chunk digest — the unit an embedding
    * model or retriever indexes. Chunk starts are every stride multiple
    * < n_tokens, so every token lands in >= 1 chunk and short documents
    * yield exactly one. Pure scan-side transform+explode (the dedup_chunk
    * discipline): nothing shuffles but the output sort. */
  val chunkStride = GraftQuery(
    "text_chunk_stride",
    (s, dir) => chunksOf(t(s, dir, "documents"), 50, 25)
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"), col("tok_len"),
        md5(col("chunk")).as("chunk_digest"))
      .orderBy(col("doc_id"), col("chunk_idx")),
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            SELECT doc_id, CAST(g.c AS INTEGER) AS chunk_idx,
              CAST(g.c * 25 AS INTEGER) AS tok_start,
              CAST(least(50, len(w) - g.c * 25) AS INTEGER) AS tok_len,
              md5(array_to_string(w[(g.c*25+1):(g.c*25+50)], ' ')) AS chunk_digest
            FROM tok CROSS JOIN LATERAL
              (SELECT unnest(generate_series(0, CAST(floor((len(w)-1)/25) AS INTEGER))) AS c) g
            ORDER BY doc_id, chunk_idx"""))

  /** BPE MERGE TRAINING — the iterative loop `text_bpe_pairs` does one
    * round of: learn the first 10 byte-pair-encoding merges over the
    * corpus, exactly as a tokenizer trainer would (greedy: most frequent
    * adjacent symbol pair wins each round, count-desc then lexicographic
    * tie-break; merges apply left-to-right non-overlapping).
    *
    * 100 TB shape (the same trick every real BPE trainer uses): the corpus
    * reduces to a (word, freq) dictionary — one map-side-combined shuffle,
    * run twice: by the first pair count and by round 1, whose tick holds
    * it from then on — and all iterations run over that distinct-word
    * table, which is vocabulary-sized, orders of magnitude smaller than
    * the corpus.
    * Per round: the pair count partial-aggregates map-side and the winner
    * is a 1-row TakeOrderedAndProject; the merge applies map-side as a
    * SQL `aggregate` fold with the pair inlined as literals (codegen, no
    * UDF). Driver state: 10 merge rows. `localCheckpoint` truncates the
    * growing lineage each round (the PageRank discipline). */
  /** Shared BPE training loop: returns the 10 learned merges plus the final
    * vocabulary state `(w, freq, toks)` — the per-word tokenization under
    * the trained merges (vocabulary-sized; localCheckpoint'ed, so the
    * encode op can broadcast it without re-deriving lineage). */
  // memoized per (session, dir): text_bpe_train and text_bpe_encode both
  // need the loop, and a Verify/Bench run executes both back-to-back —
  // the 10 collect rounds and checkpoint materializations should run once.
  // Later queries read the state, so it is served; the loop's own last
  // tick goes with the query that trained it.
  private[operators] def bpeTrainState(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    Pin.memo(s, ("bpe-train", dir)) {
      val (merges, state) = bpeTrainOn(t(s, dir, "documents"))
      (merges, Pin.serving(state))
    }

  /** The BPE merge-training loop over an arbitrary (doc_id, text) frame:
    * learns up to `rounds` greedy merges (most frequent adjacent symbol
    * pair, count-desc then lexicographic tie-break) over the distinct-word
    * dictionary, stopping early once no word has a pair left, and returns
    * (merges, final vocabulary state (w, freq, toks)). The state is the
    * last round's [[Pin.tick]] — vocabulary-sized, safe to broadcast —
    * or the dictionary plan itself when no round ran. Shared by
    * text_bpe_train/text_bpe_encode and [[graft.api.TextAnalytics]]'s BPE
    * surface. */
  private[graft] def bpeTrainOn(docs: DataFrame, rounds: Int = 10)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    def sqlLit(x: String) = "'" + x.replace("'", "''") + "'"
    val vocab = docs
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("toks"))
    // words collapsed to a single token have no pairs and MUST be
    // filtered first: sequence(1, 0) evaluates to the descending array
    // [1, 0] in Spark, and element_at(toks, 0) throws
    def topPair(state: DataFrame): Option[(String, String, Long)] = state
      .filter(size(col("toks")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(1).collect()
      .headOption.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val merges = collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // the winner of the round about to run, found on the state before it
    var top = topPair(vocab)
    val (state, _) = Pin.rounds(vocab, if (top.isEmpty) 0 else rounds)((prev, r) => {
      val (a, b, cnt) = top.get
      merges += ((r, a, b, cnt))
      prev.withColumn("toks", expr(
        s"""aggregate(toks, cast(array() as array<string>), (acc, x) ->
              CASE WHEN size(acc) > 0 AND element_at(acc, -1) = ${sqlLit(a)} AND x = ${sqlLit(b)}
                   THEN concat(slice(acc, 1, size(acc) - 1), array(${sqlLit(a + b)}))
                   ELSE concat(acc, array(x)) END)"""))
    }, (_, next) => merges.length < rounds && { top = topPair(next); top.isEmpty })
    (merges.toSeq, state)
  }

  val bpeTrain = GraftQuery(
    "text_bpe_train",
    (s, dir) => {
      import s.implicits._
      val (merges, _) = bpeTrainState(s, dir)
      merges.toDF("rank", "lhs", "rhs", "pair_count").orderBy(col("rank"))
    },
    // The 10 rounds unroll as chained CTEs (the PageRank oracle
    // discipline). DuckDB state per word is the token sequence as a
    // double-space-delimited string with sentinel spaces, so the merge
    // applies as left-to-right non-overlapping `replace` of
    // ' a  b ' -> ' ab ' — exactly BPE's greedy application — and
    // multi-char tokens can never match across a boundary.
    Some {
      val rounds = (1 to 10).map { r =>
        val p = r - 1
        s"""tok_$r AS (SELECT freq, string_split(trim(s), '  ') AS tk FROM state_$p),
            pc_$r AS (SELECT tk[i] AS a, tk[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
              FROM tok_$r CROSS JOIN LATERAL
                (SELECT unnest(generate_series(1, len(tk)-1)) AS i) g
              GROUP BY 1, 2),
            top_$r AS (SELECT a, b, cnt FROM pc_$r ORDER BY cnt DESC, a, b LIMIT 1),
            state_$r AS (SELECT freq,
                CASE WHEN t.a IS NULL THEN s
                     ELSE replace(s, ' '||t.a||'  '||t.b||' ', ' '||t.a||t.b||' ') END AS s
              FROM state_$p LEFT JOIN top_$r t ON TRUE)"""
      }.mkString(",\n")
      val out = (1 to 10).map(r =>
        s"SELECT $r AS rank, a AS lhs, b AS rhs, cnt AS pair_count FROM top_$r")
        .mkString(" UNION ALL ")
      s"""WITH state_0 AS (
            SELECT CAST(count(*) AS BIGINT) AS freq,
                   '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s
            FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
                  FROM documents)
            WHERE length(w) >= 2 GROUP BY w
          ),
          $rounds
          SELECT CAST(rank AS INTEGER) AS rank, lhs, rhs, pair_count
          FROM ($out) ORDER BY rank"""
    })

  /** BPE ENCODING — the inference side of `text_bpe_train`: tokenize every
    * document under the 10 learned merges and report its token count (the
    * number every budget/packing/billing decision in a training pipeline
    * is made in — `text_token_count`'s whitespace/regex counts are only a
    * proxy for this). Scale shape: the trained per-word tokenization dict
    * is VOCABULARY-sized, so encoding is a broadcast-hash join applied
    * scan-side — the corpus streams through once, nothing corpus-sized
    * shuffles; per-doc sums partial-aggregate map-side. */
  /** The shared DuckDB oracle prelude for every query that consumes the
    * trained BPE tokenization: the 10 unrolled training rounds (word key
    * carried through the states), the exploded corpus word stream `docw`,
    * and the final per-word token-count dictionary `dict`. Usable directly
    * after `WITH `; callers append their own CTEs with a leading comma. */
  private[operators] val bpeDictOracleCtes: String = {
    val rounds = (1 to 10).map { r =>
      val p = r - 1
      s"""tok_$r AS (SELECT freq, string_split(trim(s), '  ') AS tk FROM state_$p),
          pc_$r AS (SELECT tk[i] AS a, tk[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
            FROM tok_$r CROSS JOIN LATERAL
              (SELECT unnest(generate_series(1, len(tk)-1)) AS i) g
            GROUP BY 1, 2),
          top_$r AS (SELECT a, b, cnt FROM pc_$r ORDER BY cnt DESC, a, b LIMIT 1),
          state_$r AS (SELECT w, freq,
              CASE WHEN t.a IS NULL THEN s
                   ELSE replace(s, ' '||t.a||'  '||t.b||' ', ' '||t.a||t.b||' ') END AS s
            FROM state_$p LEFT JOIN top_$r t ON TRUE)"""
    }.mkString(",\n")
    s"""state_0 AS (
          SELECT w, CAST(count(*) AS BIGINT) AS freq,
                 '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s
          FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
                FROM documents)
          WHERE length(w) >= 2 GROUP BY w
        ),
        $rounds,
        docw AS (
          SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
          FROM documents
        ),
        dict AS (SELECT w, len(string_split(trim(s), '  ')) AS ntok FROM state_10)"""
  }

  /** Encode a (doc_id, text) frame under a trained BPE vocabulary state:
    * per-doc word and BPE-token counts via a broadcast-hash join of the
    * vocabulary-sized dictionary — the corpus streams through once.
    * Shared by text_bpe_encode and [[graft.api.TextAnalytics]]. */
  private[graft] def bpeEncodeCounts(docs: DataFrame, state: DataFrame): DataFrame = {
    val dict = state.select(col("w"), size(col("toks")).as("ntok"))
    docs
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 2)
      .join(broadcast(dict), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("ntok")).cast("long").as("n_bpe_tokens"))
  }

  val bpeEncode = GraftQuery(
    "text_bpe_encode",
    (s, dir) => {
      val (_, state) = bpeTrainState(s, dir)
      bpeEncodeCounts(t(s, dir, "documents"), state).orderBy("doc_id")
    },
    // same 10-round unrolled chain, with the word key carried through the
    // states so the final state doubles as the tokenization dictionary
    Some {
      s"""WITH $bpeDictOracleCtes
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(ntok) AS BIGINT) AS n_bpe_tokens
          FROM docw JOIN dict USING (w)
          WHERE length(w) >= 2
          GROUP BY doc_id ORDER BY doc_id"""
    })

  /** ZIPF FIT (corpus-health diagnostic): least-squares slope of
    * ln(freq) vs ln(rank) over the top-1000 tokens — natural language sits
    * near slope -1; synthetic/templated/spammy corpora drift hard away, so
    * the slope (and its r^2) is a one-row drift alarm for an ingest
    * pipeline. Fit window = top-1000 by frequency (TakeOrderedAndProject —
    * at web scale the vocab is millions of rows but the fit never needs
    * more than the head).
    *
    * Float discipline: each ln is a single call scaled to an exact integer
    * (floor(x*1e6+0.5), the dsir idiom); all the regression moments are
    * then EXACT integer sums in decimal128/HUGEINT (n*Sxy overflows int64
    * at 1e6 scale), and slope/r^2 each end in one division of exactly-cast
    * doubles — aggregation order cannot flip a bit. */
  val zipfFit = GraftQuery(
    "text_zipf_fit",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val freqs = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(1000)
      freqs
        .withColumn("rank",
          row_number().over(Window.orderBy(col("c").desc, col("tok"))))
        .select(
          expr("cast(floor(ln(cast(rank as double)) * 1e6 + 0.5) as bigint)").as("x6"),
          expr("cast(floor(ln(cast(c as double)) * 1e6 + 0.5) as bigint)").as("y6"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(x6 as decimal(38,0))")).as("sx"),
          sum(expr("cast(y6 as decimal(38,0))")).as("sy"),
          sum(expr("cast(x6 as decimal(38,0)) * y6")).as("sxy"),
          sum(expr("cast(x6 as decimal(38,0)) * x6")).as("sxx"),
          sum(expr("cast(y6 as decimal(38,0)) * y6")).as("syy"))
        // degenerate fits (constant frequency or a single token) zero a
        // denominator; 0/0 NaN renders differently across engines (Spark's
        // floor maps NaN to 0, DuckDB propagates), so guard to null — the
        // ev_anomaly_zscore std>0 discipline
        .select(col("n").as("n_fit"),
          expr("""case when n * sxx - sx * sx > 0
                    then floor(cast(n * sxy - sx * sy as double)
                         / cast(n * sxx - sx * sx as double) * 1e6 + 0.5) / 1e6
                  end""").as("slope"),
          expr("""case when n * sxx - sx * sx > 0 and n * syy - sy * sy > 0
                    then floor(cast(n * sxy - sx * sy as double)
                           * cast(n * sxy - sx * sy as double)
                         / (cast(n * sxx - sx * sx as double)
                            * cast(n * syy - sy * sy as double)) * 1e6 + 0.5) / 1e6
                  end""").as("r2"))
    },
    Some("""WITH f AS (SELECT tok, count(*) AS c
                       FROM (SELECT unnest(string_split(text, ' ')) AS tok
                             FROM documents)
                       GROUP BY tok ORDER BY c DESC, tok LIMIT 1000),
            r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rank
                  FROM f),
            p AS (SELECT
                    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS HUGEINT) AS x6,
                    CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5) AS HUGEINT) AS y6
                  FROM r),
            m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                    CAST(sum(x6) AS HUGEINT) AS sx,
                    CAST(sum(y6) AS HUGEINT) AS sy,
                    CAST(sum(x6 * y6) AS HUGEINT) AS sxy,
                    CAST(sum(x6 * x6) AS HUGEINT) AS sxx,
                    CAST(sum(y6 * y6) AS HUGEINT) AS syy
                  FROM p)
            SELECT CAST(n AS BIGINT) AS n_fit,
              CASE WHEN n * sxx - sx * sx > 0
                THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6 + 0.5) / 1e6
              END AS slope,
              CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                       * CAST(n * sxy - sx * sy AS DOUBLE)
                     / (CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)) * 1e6 + 0.5) / 1e6
              END AS r2
            FROM m"""))

  /** VOCABULARY COVERAGE CURVE (tokenizer/vocab sizing): what fraction of
    * all corpus token OCCURRENCES the top-k most frequent tokens cover, at
    * k = 10/20/30 — the "how big must the vocab be" planning table every
    * tokenizer build starts from. Head selected by TakeOrderedAndProject
    * (the fit window never exceeds the largest k), the corpus-total
    * occurrence count is a 1-row broadcast scalar, and coverage is an
    * integer-scaled division — exact on both engines. */
  val vocabCoverage = GraftQuery(
    "text_vocab_coverage",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
      val head = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(30)
      val total = broadcast(toks.agg(count(lit(1)).as("total")))
      val ord = Window.orderBy(col("c").desc, col("tok"))
      head
        .withColumn("k", row_number().over(ord))
        .withColumn("cum_tokens", sum(col("c"))
          .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("k").isin(10, 20, 30))
        .crossJoin(total)
        .select(col("k"), col("cum_tokens"),
          expr("cast(cum_tokens * 1000000 div total as double) / 1e6")
            .as("coverage_frac"))
        .orderBy(col("k"))
    },
    Some("""WITH f AS (SELECT tok, count(*) AS c
                       FROM (SELECT unnest(string_split(text, ' ')) AS tok
                             FROM documents)
                       GROUP BY tok ORDER BY c DESC, tok LIMIT 30),
            t AS (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                    AS total FROM documents),
            r AS (SELECT CAST(row_number() OVER w AS INTEGER) AS k,
                    CAST(sum(c) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS BIGINT) AS cum_tokens
                  FROM f WINDOW w AS (ORDER BY c DESC, tok))
            SELECT k, cum_tokens,
              (cum_tokens * 1000000 // total) / 1000000.0 AS coverage_frac
            FROM r CROSS JOIN t WHERE k IN (10, 20, 30) ORDER BY k"""))

  /** TOKENIZER FERTILITY BY LANGUAGE: BPE tokens per word under the trained
    * merges, grouped by document language — THE metric for how well a
    * tokenizer fits each language slice (fertility near 1 = efficient;
    * high fertility = that language pays more sequence length per word,
    * the standard multilingual-tokenizer health check). Same scale shape
    * as [[bpeEncode]]: vocabulary-sized dict broadcast, corpus streamed
    * once, per-lang sums partial-aggregate map-side. Fertility is one
    * non-negative integer division (micro-units), so truncating div and
    * floor `//` agree. */
  val bpeFertility = GraftQuery(
    "text_bpe_fertility",
    (s, dir) => {
      val (_, state) = bpeTrainState(s, dir)
      val dict = state.select(col("w"), size(col("toks")).as("ntok"))
      t(s, dir, "documents")
        .select(col("lang"), explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(length(col("w")) >= 2)
        .join(broadcast(dict), "w")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum(col("ntok")).cast("long").as("n_tokens"),
          expr("cast(sum(ntok) * 1000000 div count(1) as bigint)")
            .as("fertility_micro"))
        .orderBy("lang")
    },
    Some {
      s"""WITH $bpeDictOracleCtes,
          lw AS (SELECT lang, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
                 FROM documents)
          SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(ntok) AS BIGINT) AS n_tokens,
                 CAST(CAST(sum(ntok) AS BIGINT) * 1000000 // count(*) AS BIGINT)
                   AS fertility_micro
          FROM lw JOIN dict USING (w)
          WHERE length(w) >= 2
          GROUP BY lang ORDER BY lang"""
    })

  /** LEXICAL COMPLEXITY per source: mean syllables-per-word and share of
    * polysyllabic (>= 3 syllable) words — the vocabulary-difficulty half of
    * a readability score (the corpus has no sentence punctuation, so the
    * words-per-sentence half is undefined here; SMOG and Flesch both reduce
    * to these terms). Syllables are proxied by vowel-group runs
    * ([aeiouy]+), the standard closed-form heuristic — computable as
    * identical regex splits in both engines. All ratios integer-scaled
    * (micro-units, non-negative div); one corpus scan, one source-keyed
    * partial-agg'd shuffle of four longs. */
  val complexity = GraftQuery(
    "text_complexity",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
        .select(col("source"),
          expr("size(filter(split(w, '[^aeiouy]+'), x -> x != ''))").as("syl"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("syl")).cast("long").as("n_syllables"),
          expr("cast(sum(syl) * 1000000 div count(1) as bigint)")
            .as("syl_per_word_micro"),
          expr("cast(sum(case when syl >= 3 then 1 else 0 end) * 1000000 div count(1) as bigint)")
            .as("poly_pct_micro"))
        .orderBy(col("source")),
    Some("""SELECT source, count(*) AS n_words,
              CAST(sum(syl) AS BIGINT) AS n_syllables,
              CAST(CAST(sum(syl) AS BIGINT) * 1000000 // count(*) AS BIGINT)
                AS syl_per_word_micro,
              CAST(CAST(sum(CASE WHEN syl >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                * 1000000 // count(*) AS BIGINT) AS poly_pct_micro
            FROM (SELECT source,
                    CAST(len(list_filter(string_split_regex(w, '[^aeiouy]+'),
                      x -> x <> '')) AS BIGINT) AS syl
                  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS w
                        FROM documents))
            GROUP BY source ORDER BY source"""))

  /** LANGUAGE-ID CONFUSION MATRIX: [[langId]]'s predictions evaluated
    * against the labeled `lang` column — (true, predicted, count, recall) —
    * the eval every classifier gate ships with before its threshold is
    * trusted at corpus scale. recall_micro = n * 1e6 div per-true-lang
    * total (non-negative integer div). One corpus scan for scoring; the
    * matrix and the per-lang totals are label-count-sized aggregations,
    * the totals broadcast back onto the matrix. */
  val langIdConfusion = GraftQuery(
    "text_langid_confusion",
    (s, dir) => {
      val markers = Map(
        "en" -> Seq("the", "a", "of"),
        "de" -> Seq("der", "die", "das"),
        "es" -> Seq("el", "los", "una"),
        "fr" -> Seq("le", "la", "les"))
      def score(lang: String) = {
        val set = markers(lang).map(m => s"'$m'").mkString(", ")
        expr(s"size(filter(split(text, ' '), x -> x IN ($set)))")
      }
      val pred = t(s, dir, "documents")
        .select(col("lang"),
          score("en").as("s_en"), score("de").as("s_de"),
          score("es").as("s_es"), score("fr").as("s_fr"))
        .withColumn("pred_lang",
          when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
            .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
            .when(col("s_es") >= col("s_fr"), "es")
            .otherwise("fr"))
      val totals = broadcast(pred.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_true")))
      pred.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .join(totals, "lang")
        .select(col("lang"), col("pred_lang"), col("n"),
          expr("cast(n * 1000000 div n_true as bigint)").as("recall_micro"))
        .orderBy(col("lang"), col("pred_lang"))
    },
    Some("""WITH scored AS (
              SELECT lang,
                len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'of'))) AS s_en,
                len(list_filter(string_split(text, ' '), x -> x IN ('der', 'die', 'das'))) AS s_de,
                len(list_filter(string_split(text, ' '), x -> x IN ('el', 'los', 'una'))) AS s_es,
                len(list_filter(string_split(text, ' '), x -> x IN ('le', 'la', 'les'))) AS s_fr
              FROM documents),
            pred AS (
              SELECT lang,
                CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                     WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                     WHEN s_es >= s_fr THEN 'es'
                     ELSE 'fr' END AS pred_lang
              FROM scored),
            totals AS (SELECT lang, count(*) AS n_true FROM pred GROUP BY lang)
            SELECT p.lang, p.pred_lang, count(*) AS n,
              CAST(count(*) * 1000000 // any_value(t.n_true) AS BIGINT) AS recall_micro
            FROM pred p JOIN totals t USING (lang)
            GROUP BY p.lang, p.pred_lang
            ORDER BY p.lang, p.pred_lang"""))

  /** SOURCE DIVERGENCE (domain-drift panel): total-variation distance
    * between each source's token distribution and the corpus distribution,
    * both restricted to the global top-100 tokens — the drift alarm an
    * ingest pipeline fires when one feed's language shifts. TV over a
    * fixed token set is a sum of |p_source - p_corpus| with both
    * probabilities integer-scaled (count * 1e6 div set-total, non-negative
    * div), so the distance is an exact BIGINT. The top-100 head is a
    * TakeOrderedAndProject broadcast; the full (source x token) grid is a
    * crossJoin of two constant-bounded smalls (BNLJ-allowlisted) so tokens
    * ABSENT from a source still contribute their corpus mass. */
  val sourceDivergence = GraftQuery(
    "text_source_divergence",
    (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val top = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(100)
      val corpusTot = broadcast(top.agg(sum(col("c")).as("tot")))
      val pc = broadcast(top.crossJoin(corpusTot)
        .select(col("w"), expr("cast(c * 1000000 div tot as bigint)").as("p_corpus")))
      val srcCounts = tok.join(broadcast(top.select(col("w"))), "w")
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("sc"))
      val srcTot = srcCounts.groupBy(col("source")).agg(sum(col("sc")).as("stot"))
      val grid = broadcast(srcTot).crossJoin(pc)
      grid.join(srcCounts, Seq("source", "w"), "left")
        .select(col("source"), col("p_corpus"),
          expr("cast(coalesce(sc, 0) * 1000000 div stot as bigint)").as("p_src"))
        .groupBy(col("source"))
        .agg(sum(abs(col("p_src") - col("p_corpus"))).as("tv_micro"))
        .orderBy(col("source"))
    },
    Some("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
                         FROM documents),
            top AS (SELECT w, count(*) AS c FROM tok GROUP BY w
                    ORDER BY c DESC, w LIMIT 100),
            pc AS (SELECT w, CAST(c * 1000000 //
                     (SELECT CAST(sum(c) AS BIGINT) FROM top) AS BIGINT)
                     AS p_corpus FROM top),
            sc AS (SELECT source, w, count(*) AS sc
                   FROM tok WHERE w IN (SELECT w FROM top)
                   GROUP BY source, w),
            st AS (SELECT source, CAST(sum(sc) AS BIGINT) AS stot FROM sc GROUP BY source)
            SELECT st.source,
              CAST(sum(abs(CAST(coalesce(s2.sc, 0) * 1000000 // st.stot AS BIGINT)
                - pc.p_corpus)) AS BIGINT) AS tv_micro
            FROM st CROSS JOIN pc
            LEFT JOIN sc s2 ON s2.source = st.source AND s2.w = pc.w
            GROUP BY st.source ORDER BY st.source"""))

  /** VOCABULARY GROWTH CURVE (Heaps' law): cumulative distinct-word count
    * vs cumulative token count at 10 corpus checkpoints — sublinear growth
    * (V ~ N^beta, beta ~ 0.5-0.7) is what natural corpora do; a curve bending
    * linear screams ID-like/generated junk tokens, flat screams template
    * spam. The trick that makes "distinct so far" scale: a word's
    * contribution to the curve is fully determined by its FIRST occurrence
    * (min doc-decile per word — one vocabulary-sized aggregation), so no
    * checkpoint ever re-counts distinct over a prefix; the cumulative sums
    * run over 10 rows. Deciles are range-based on doc_id (pure function,
    * no rank); the 1-row bounds ride a broadcast crossJoin
    * (BNLJ-allowlisted). */
  val vocabGrowth = GraftQuery(
    "text_vocab_growth",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val words = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(length(col("w")) >= 2)
      val bounds = broadcast(words.agg(min(col("doc_id")).as("lo"),
        max(col("doc_id")).as("hi")))
      val dec = words.crossJoin(bounds)
        .select(col("w"),
          expr("cast((doc_id - lo) * 10 div (hi - lo + 1) as int)").as("dec"))
      val toks = dec.groupBy(col("dec")).agg(count(lit(1)).as("n_tokens"))
      val news = dec.groupBy(col("w")).agg(min(col("dec")).as("dec"))
        .groupBy(col("dec")).agg(count(lit(1)).as("n_new_words"))
      val w10 = Window.orderBy(col("dec"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks.join(news, Seq("dec"), "left")
        .withColumn("n_new_words", coalesce(col("n_new_words"), lit(0L)))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w10))
        .withColumn("cum_vocab", sum(col("n_new_words")).over(w10))
        .select(col("dec"), col("n_tokens"), col("cum_tokens"),
          col("n_new_words"), col("cum_vocab"))
        .orderBy(col("dec"))
    },
    Some("""WITH words AS (
              SELECT doc_id, w FROM (
                SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
                FROM documents)
              WHERE length(w) >= 2),
            b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM words),
            dec AS (SELECT w, CAST((doc_id - lo) * 10 // (hi - lo + 1) AS INTEGER) AS dec
                    FROM words CROSS JOIN b),
            toks AS (SELECT dec, count(*) AS n_tokens FROM dec GROUP BY dec),
            news AS (SELECT dec, count(*) AS n_new_words FROM
                       (SELECT w, min(dec) AS dec FROM dec GROUP BY w)
                     GROUP BY dec)
            SELECT t.dec, t.n_tokens,
              CAST(sum(t.n_tokens) OVER (ORDER BY t.dec
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS cum_tokens,
              coalesce(n.n_new_words, 0) AS n_new_words,
              CAST(sum(coalesce(n.n_new_words, 0)) OVER (ORDER BY t.dec
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS cum_vocab
            FROM toks t LEFT JOIN news n USING (dec)
            ORDER BY t.dec"""))

  /** HAPAX RATIO per source: share of each source's vocabulary appearing
    * exactly once in it (hapax legomena) — the classic lexical-richness /
    * noise split: natural prose sits near 40-60%, templated spam collapses
    * toward 0, OCR junk or ID-bearing text explodes toward 100%. One
    * (source, word)-keyed count (the only corpus shuffle), then
    * vocabulary-sized aggregation; ratio integer-scaled non-negative. */
  val hapaxRatio = GraftQuery(
    "text_hapax_ratio",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
          expr("cast(sum(case when c = 1 then 1 else 0 end) * 1000000 div count(1) as bigint)")
            .as("hapax_micro"))
        .orderBy(col("source")),
    Some("""SELECT source, count(*) AS vocab,
              CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
              CAST(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                * 1000000 // count(*) AS BIGINT) AS hapax_micro
            FROM (SELECT source, w, count(*) AS c
                  FROM (SELECT source,
                          unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
                        FROM documents)
                  WHERE length(w) >= 2 GROUP BY source, w)
            GROUP BY source ORDER BY source"""))

  /** Minimum bigram count for [[collocations]] — raw PMI is maximized by
    * count-1 pairs of two hapaxes, so every practical PMI pass floors the
    * pair count first (Church & Hanks 1990's caveat). */
  private val CollocationMinCount = 5

  /** COLLOCATION MINING (PMI): the top word pairs that co-occur far more
    * than chance — pointwise mutual information
    * ln(P(xy) / (P(x)·P(y))) over adjacent-token bigrams with count ≥
    * [[CollocationMinCount]] (the classic low-frequency-pair PMI guard) —
    * the phrase-discovery pass behind tokenizer vocab seeding and
    * stop-phrase lists ("New York" scores high, "of the" scores low
    * despite its count). Float discipline (the lm_backoff/dsir
    * precedent): the probability ratio is assembled as ONE fixed op tree
    * of integer-exact counts — (c_bg·T)/(c1·c2) · T/M, every product
    * < 2⁵³ at oracle scale — so both engines feed libm-identical doubles
    * to one ln, floor-scaled to micros. Shape: two corpus scans collapse
    * to vocabulary-sized count tables; scoring joins the bigram model to
    * the unigram model on each word (model-sized equi joins, skew follows
    * token frequency — AQE territory), totals ride one 1-row broadcast;
    * TakeOrderedAndProject keeps the head. Text never shuffles. */
  /** The PMI collocation core over any (doc_id, text) frame — shared by
    * text_collocations and [[graft.api.TextAnalytics.collocations]].
    * Both count models are read twice (scoring joins and totals), so
    * they are [[Pin.reuse]]d.
    * @return (bigram, c_bg, c1, c2, pmi_micro) top-`topN` by PMI */
  private[graft] def collocationsOf(docs: DataFrame, minCount: Int,
      topN: Int): DataFrame = {
    val words = docs.select(split(col("text"), " ").as("w"))
    val uni = Pin.reuse(words.select(explode(col("w")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c_tok")))
    val bi = Pin.reuse(words.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w)-2), i -> struct(w[i] AS w1, w[i+1] AS w2))"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_bg")))
    val totals = broadcast(
      uni.agg(sum(col("c_tok")).as("t_tot"))
        .crossJoin(bi.agg(sum(col("c_bg")).as("m_tot"))))
    bi.filter(col("c_bg") >= minCount)
      .join(uni.select(col("tok").as("w1"), col("c_tok").as("c1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c_tok").as("c2")), "w2")
      .crossJoin(totals)
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
        col("c_bg"), col("c1"), col("c2"),
        expr("""cast(floor(ln((cast(c_bg * t_tot as double) / (c1 * c2))
                             * (cast(t_tot as double) / m_tot)) * 1000000)
                    as bigint)""").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("bigram")).limit(topN)
  }

  val collocations = GraftQuery(
    "text_collocations",
    (s, dir) => collocationsOf(t(s, dir, "documents"), CollocationMinCount, 30),
    Some(s"""WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
            uc AS MATERIALIZED (
              SELECT tok, count(*) AS c_tok
              FROM (SELECT unnest(w) AS tok FROM d) GROUP BY tok),
            bc AS MATERIALIZED (
              SELECT w1, w2, count(*) AS c_bg
              FROM (SELECT w[i] AS w1, w[i+1] AS w2
                    FROM d CROSS JOIN LATERAL
                      (SELECT unnest(generate_series(1, len(w)-1)) AS i) g
                    WHERE len(w) >= 2)
              GROUP BY w1, w2),
            tot AS (SELECT (SELECT CAST(sum(c_tok) AS BIGINT) FROM uc) AS t_tot,
                           (SELECT CAST(sum(c_bg) AS BIGINT) FROM bc) AS m_tot)
            SELECT w1 || ' ' || w2 AS bigram, c_bg, u1.c_tok AS c1,
              u2.c_tok AS c2,
              CAST(floor(ln((CAST(c_bg * t_tot AS DOUBLE) / (u1.c_tok * u2.c_tok))
                            * (CAST(t_tot AS DOUBLE) / m_tot)) * 1000000)
                   AS BIGINT) AS pmi_micro
            FROM bc JOIN uc u1 ON u1.tok = bc.w1
                    JOIN uc u2 ON u2.tok = bc.w2
            CROSS JOIN tot
            WHERE c_bg >= $CollocationMinCount
            ORDER BY pmi_micro DESC, bigram LIMIT 30"""))

  /** RAKE KEYWORD EXTRACTION (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents"): candidate phrases are maximal
    * runs of non-stopword tokens (the same 7-marker stop set as
    * [[quality]]); each word scores deg(w)/freq(w) — degree counts the
    * lengths of every phrase the word appears in, so words that travel in
    * long phrases outrank bare frequent words — and a phrase scores the
    * sum of its words' scores. The corpus-level top-25 keyword table is
    * the cheap topical fingerprint next to [[tfidf]]'s per-doc terms and
    * [[collocations]]' bigram PMI.
    *
    * Shapes: phrase splitting is one per-doc prefix-count window
    * (doc-partitioned, bounded by doc length — the dedup_cdc_chunks
    * machinery); word stats and phrase scores are key-partitioned
    * aggregations on phrase-sized rows; top-25 is TakeOrderedAndProject.
    * Float discipline: deg*1e6 div freq is one non-negative integer
    * division, phrase scores are exact-integer sums of those micros. */
  /** The RAKE keyword core over any (doc_id, text) frame — shared by
    * text_keyword_rake and [[graft.api.TextAnalytics.rakeKeywords]].
    * @return (phrase, n_occ, score_micro) top-`topN` by phrase score */
  private[graft] def rakeKeywordsOf(docs: DataFrame, stops: Seq[String],
      topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val phrases = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("b", when(col("tok").isin(stops: _*), 1).otherwise(0))
      .withColumn("grp", sum(col("b")).over(w))
      .filter(col("b") === 0)
      .groupBy(col("doc_id"), col("grp"))
      .agg(array_join(
          expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
          " ").as("phrase"),
        count(lit(1)).as("n_words"))
    val wstats = phrases
      .select(col("n_words"), explode(split(col("phrase"), " ")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("n_words")).as("deg"))
      .select(col("w"), expr("deg * 1000000 div freq").as("wscore_micro"))
    phrases.groupBy(col("phrase")).agg(count(lit(1)).as("n_occ"))
      .select(col("phrase"), col("n_occ"), explode(split(col("phrase"), " ")).as("w"))
      .join(wstats, "w")
      .groupBy(col("phrase"), col("n_occ"))
      .agg(sum(col("wscore_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase")).limit(topN)
      .select(col("phrase"), col("n_occ"), col("score_micro"))
  }

  val keywordRake = GraftQuery(
    "text_keyword_rake",
    (s, dir) => rakeKeywordsOf(t(s, dir, "documents"),
      Seq("the", "a", "of", "to", "and", "in", "is"), 25),
    Some("""WITH tok AS (
              SELECT doc_id,
                unnest(generate_series(1, len(w))) AS pos,
                unnest(list_transform(generate_series(1, len(w)), i -> w[i])) AS tok
              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
            grouped AS (
              SELECT doc_id, pos, tok, b,
                CAST(sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS grp
              FROM (SELECT doc_id, pos, tok,
                      CASE WHEN tok IN ('the','a','of','to','and','in','is')
                           THEN 1 ELSE 0 END AS b
                    FROM tok)),
            phrases AS MATERIALIZED (
              SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY pos) AS phrase,
                count(*) AS n_words
              FROM grouped WHERE b = 0 GROUP BY doc_id, grp),
            wstats AS MATERIALIZED (
              SELECT w,
                CAST(CAST(sum(n_words) AS BIGINT) * 1000000 // count(*) AS BIGINT)
                  AS wscore_micro
              FROM (SELECT n_words, unnest(string_split(phrase, ' ')) AS w FROM phrases)
              GROUP BY w),
            pocc AS (SELECT phrase, count(*) AS n_occ FROM phrases GROUP BY phrase)
            SELECT p.phrase, p.n_occ, CAST(sum(ws.wscore_micro) AS BIGINT) AS score_micro
            FROM (SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS w
                  FROM pocc) p
            JOIN wstats ws ON ws.w = p.w
            GROUP BY p.phrase, p.n_occ
            ORDER BY score_micro DESC, phrase LIMIT 25"""))

  /** WORD BURSTINESS (Church & Gale 1995): collection frequency over
    * document frequency per word — a word that appears 40 times in 4
    * documents (bursty: topical, entity-like) reads very differently from
    * one appearing 40 times in 40 documents (dispersed: function word),
    * and the ratio separates them where raw frequency can't. The top-20
    * bursty table (min support cf ≥ 20) is the topicality panel next to
    * [[zipfFit]]'s frequency law, [[hapaxRatio]]'s singletons and
    * [[keywordRake]]'s phrases. Two key-partitioned aggregations over one
    * exploded scan — (word, doc) dedup for df rides the same shuffle key
    * as cf — one non-negative integer micro-div, TakeOrderedAndProject
    * head. */
  val burstiness = GraftQuery(
    "text_burstiness",
    (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      val cf = tok.groupBy(col("word")).agg(count(lit(1)).as("cf"))
      val df = tok.select(col("word"), col("doc_id")).distinct()
        .groupBy(col("word")).agg(count(lit(1)).as("df"))
      cf.join(df, "word")
        .filter(col("cf") >= 20)
        .select(col("word"), col("cf"), col("df"),
          expr("cf * 1000000 div df").as("burstiness_micro"))
        .orderBy(col("burstiness_micro").desc, col("word")).limit(20)
    },
    Some("""WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents),
            cf AS (SELECT word, count(*) AS cf FROM tok GROUP BY word),
            df AS (SELECT word, count(*) AS df
                   FROM (SELECT DISTINCT word, doc_id FROM tok) GROUP BY word)
            SELECT cf.word, cf.cf, df.df,
              CAST(cf.cf * 1000000 // df.df AS BIGINT) AS burstiness_micro
            FROM cf JOIN df ON df.word = cf.word
            WHERE cf.cf >= 20
            ORDER BY burstiness_micro DESC, cf.word LIMIT 20"""))

  /** GOPHER QUALITY FILTER PANEL (Rae et al. 2021, table A1 — the rule
    * set most large-scale text pipelines start from): per-rule pass
    * counts over the corpus for the five document-level rules this
    * single-line fixture can express — word-count bounds [50, 100 k],
    * mean word length [3, 10], symbol-to-word ratio ≤ 0.1 (#/…),
    * alphabetic-word fraction ≥ 0.8, and ≥ 2 distinct required stop
    * words — plus the all-rules conjunction row (the actual keep rate).
    * The two line-shape rules (bullet/ellipsis line fractions) need
    * multi-line documents and are documented out.
    *
    * Every rule is an INTEGER comparison (mean word length as
    * chars·1e6 div words, ratios cross-multiplied — n_sym·10 ≤ n_words,
    * n_alpha·5 ≥ n_words·4), so no float ever decides a verdict. One
    * corpus scan; the panel is 6 aggregated rows.
    *
    * Fixture note: the synthetic corpus legitimately FAILS rule 5 on
    * every document (its technical-vocabulary word pool contains at most
    * one of the canonical stop words) — the panel correctly diagnosing
    * "this is not natural English prose" is the demo working, and is why
    * the thresholds are kept canonical rather than tuned to pass. */
  /** Per-document Gopher rule verdicts over a (doc_id, text) frame:
    * (doc_id, n_words, r_words, r_mwl, r_sym, r_alpha, r_stop, r_all) —
    * the Rae et al. 2021 heuristic panel a corpus gate filters on.
    * Shared by text_gopher_filters and
    * [[graft.api.TextAnalytics.gopherFlags]]. */
  private[graft] def gopherVerdicts(docs: DataFrame): DataFrame = {
    val stops = "'the','be','to','of','and','that','have','with'"
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        size(col("w")).as("n_words"),
        expr("aggregate(w, 0, (acc, x) -> acc + length(x))").as("n_wchars"),
        expr("size(filter(w, x -> x LIKE '%#%' OR x LIKE '%...%'))").as("n_sym"),
        expr("size(filter(w, x -> x RLIKE '[a-zA-Z]'))").as("n_alpha"),
        expr(s"size(array_intersect(array_distinct(w), array($stops)))")
          .as("n_stopkinds"))
      .select(col("doc_id"), col("n_words"),
        (col("n_words") >= 50 && col("n_words") <= 100000).as("r_words"),
        expr("n_wchars * 1000000L div n_words BETWEEN 3000000 AND 10000000")
          .as("r_mwl"),
        expr("n_sym * 10 <= n_words").as("r_sym"),
        expr("n_alpha * 5 >= n_words * 4").as("r_alpha"),
        (col("n_stopkinds") >= 2).as("r_stop"))
      .withColumn("r_all",
        col("r_words") && col("r_mwl") && col("r_sym") && col("r_alpha") &&
          col("r_stop"))
  }

  val gopherFilters = GraftQuery(
    "text_gopher_filters",
    (s, dir) => {
      val m = gopherVerdicts(t(s, dir, "documents"))
      m.select(expr(
        """stack(6,
           '1_word_count_50_100k', r_words,
           '2_mean_word_len_3_10', r_mwl,
           '3_symbol_ratio_le_10pct', r_sym,
           '4_alpha_words_ge_80pct', r_alpha,
           '5_stop_words_ge_2', r_stop,
           '6_all_rules', r_all)""").as(Seq("rule", "pass")))
        .groupBy(col("rule"))
        .agg(sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          count(lit(1)).as("n_docs"))
        .select(col("rule"), col("n_pass"), col("n_docs"),
          expr("n_pass * 1000000 div n_docs").as("pass_micro"))
        .orderBy(col("rule"))
    },
    Some("""WITH m AS MATERIALIZED (
              SELECT doc_id, len(w) AS n_words,
                list_sum(list_transform(w, x -> length(x))) AS n_wchars,
                len(list_filter(w, x -> x LIKE '%#%' OR x LIKE '%...%')) AS n_sym,
                len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
                len(list_intersect(list_distinct(w),
                  ['the','be','to','of','and','that','have','with'])) AS n_stopkinds
              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
            r AS (
              SELECT doc_id,
                n_words >= 50 AND n_words <= 100000 AS r_words,
                n_wchars * 1000000 // n_words BETWEEN 3000000 AND 10000000 AS r_mwl,
                n_sym * 10 <= n_words AS r_sym,
                n_alpha * 5 >= n_words * 4 AS r_alpha,
                n_stopkinds >= 2 AS r_stop
              FROM m),
            ra AS (SELECT *,
                r_words AND r_mwl AND r_sym AND r_alpha AND r_stop AS r_all
              FROM r),
            u AS (
              SELECT '1_word_count_50_100k' AS rule, r_words AS pass FROM ra
              UNION ALL SELECT '2_mean_word_len_3_10', r_mwl FROM ra
              UNION ALL SELECT '3_symbol_ratio_le_10pct', r_sym FROM ra
              UNION ALL SELECT '4_alpha_words_ge_80pct', r_alpha FROM ra
              UNION ALL SELECT '5_stop_words_ge_2', r_stop FROM ra
              UNION ALL SELECT '6_all_rules', r_all FROM ra)
            SELECT rule,
              CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
              count(*) AS n_docs,
              CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS pass_micro
            FROM u GROUP BY rule ORDER BY rule"""))

  /** CHUNK-OVERLAP TUNING TABLE — the storage/boundary trade behind
    * [[chunkStride]]'s (window 50, stride 25) constants (the family
    * convention: every knob ships its measured curve): for each
    * (window, stride) cell the chunk count, total chunk tokens, and the
    * DUPLICATION premium dup_micro = (chunk_tokens − corpus_tokens) /
    * corpus_tokens — what the overlap costs in storage/embedding calls —
    * alongside boundary coverage: stride < window guarantees no
    * window-sized span is cut on both sides at once.
    * All cells derive CLOSED-FORM from each doc's token count (n_chunks =
    * floor((n−1)/stride)+1; chunk tokens = Σ_c min(window, n − c·stride))
    * — a 4-row-per-doc explode of combo cells, never the chunks
    * themselves: the sweep scans token COUNTS, not text, so at 100 TB it
    * costs one stats pass.
    *
    * Measured at sf0.1: (50,25) dup 56.2%, (50,40) 13.8%, (50,50) 0%,
    * (100,50) 24.5% — the production 50% overlap costs ~1.56x storage and
    * embedding calls; (50,40) keeps a 10-token overlap for 1/4 the
    * premium, the knee if boundary recall tolerates it. */
  val chunkSweep = GraftQuery(
    "text_chunk_sweep",
    (s, dir) => {
      val combos = Seq((50, 50), (50, 40), (50, 25), (100, 50))
      val cells = combos.map { case (w, st) =>
        s"struct($w as w, $st as st)" }.mkString(", ")
      t(s, dir, "documents")
        .select(size(split(col("text"), " ")).cast("long").as("n"))
        .select(col("n"), explode(expr(s"array($cells)")).as("c"))
        .select(col("n"), col("c.w").as("w"), col("c.st").as("st"))
        .withColumn("n_chunks", expr("(n - 1) div st + 1"))
        // Σ_c min(w, n − c·st) for c = 0..n_chunks−1: full chunks cover
        // the prefix where n − c·st >= w, the tail telescopes to an
        // arithmetic series — summed per-row via a bounded transform
        .withColumn("chunk_tokens", expr(
          """aggregate(transform(sequence(0, cast(n_chunks - 1 as int)),
               c -> least(cast(w as bigint), n - cast(c as bigint) * st)),
             cast(0 as bigint), (acc, x) -> acc + x)"""))
        .groupBy(col("w"), col("st"))
        .agg(sum(col("n")).as("corpus_tokens"),
          sum(col("n_chunks")).as("total_chunks"),
          sum(col("chunk_tokens")).as("total_chunk_tokens"))
        .select(col("w"), col("st"), col("total_chunks"),
          col("total_chunk_tokens"),
          expr("""(total_chunk_tokens - corpus_tokens) * 1000000
                  div corpus_tokens""").as("dup_micro"))
        .orderBy(col("w"), col("st"))
    },
    Some("""WITH tok AS (
              SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              FROM documents),
            cells AS (SELECT * FROM (VALUES (50, 50), (50, 40), (50, 25),
              (100, 50)) t(w, st)),
            x AS (
              SELECT n, w, st, (n - 1) // st + 1 AS n_chunks,
                CAST(list_sum(list_transform(
                  generate_series(0, CAST((n - 1) // st AS INTEGER)),
                  c -> least(CAST(w AS BIGINT), n - CAST(c AS BIGINT) * st)))
                  AS BIGINT) AS chunk_tokens
              FROM tok CROSS JOIN cells)
            SELECT CAST(w AS INTEGER) AS w, CAST(st AS INTEGER) AS st,
              CAST(sum(n_chunks) AS BIGINT) AS total_chunks,
              CAST(sum(chunk_tokens) AS BIGINT) AS total_chunk_tokens,
              (CAST(sum(chunk_tokens) AS BIGINT) - CAST(sum(n) AS BIGINT))
                * 1000000 // CAST(sum(n) AS BIGINT) AS dup_micro
            FROM x GROUP BY w, st ORDER BY w, st"""))

  val all: Seq[GraftQuery] =
    Seq(langId, quality, tokenCount, fingerprint, winnow, normalize, tfidf,
      cmsHeavyHitters, bpePairs, chunkStride, bpeTrain, bpeEncode, zipfFit,
      vocabCoverage, bpeFertility, complexity, langIdConfusion,
      sourceDivergence, vocabGrowth, hapaxRatio, collocations, keywordRake,
      burstiness, gopherFilters, chunkSweep)
}
