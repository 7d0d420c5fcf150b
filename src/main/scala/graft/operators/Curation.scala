package graft.operators

import graft.{GraftQuery, Pin, Tables}
import graft.functions.md5Prefix
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond the reference's surface (SURVEY
  * §7.2-8 north-star set): repetition filtering, PII scrubbing, n-gram
  * language-model scoring, and the composed keep/reject filter stage every
  * corpus pipeline runs before training. All per-document work is pure
  * column expressions (scan-speed, codegen'd, no shuffle); the LM scorer's
  * shuffles are key-partitioned joins that scale with corpus size.
  *
  * Cross-engine float discipline per the house rules: ratios are
  * floor(x*1e6+0.5)/1e6 on both engines (half-up, bit-deterministic);
  * probabilities are integer-scaled before summing so aggregation order
  * cannot change the result.
  */
object Curation {
  private def t(s: SparkSession, dir: String, n: String) = Tables.t(s, dir, n)

  /** Gopher/C4-style repetition signals: duplicate-word fraction, most-
    * frequent-word fraction, duplicate 3-gram fraction. Per-row expressions
    * only — the filter runs at scan speed on 100 TB. (The per-doc
    * top-word count is O(uniq x tokens) inside one row's lambda — bounded
    * because quality filters run on document prefixes, not books.) */
  val repetition = GraftQuery(
    "text_repetition",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          size(col("w")).as("n_tokens"),
          size(array_distinct(col("w"))).as("n_uniq"),
          expr("array_max(transform(array_distinct(w), x -> size(filter(w, y -> y = x))))")
            .as("top_cnt"),
          // slice(w,1,0) = typed empty array; sequence(0, n) would DESCEND
          // for n<0, so the guard is load-bearing
          expr("""case when size(w) >= 3
                    then transform(sequence(0, size(w)-3),
                         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
                    else slice(w, 1, 0) end""").as("g3"))
        .select(col("doc_id"), col("n_tokens"),
          expr("floor(cast(n_tokens - n_uniq as double) / n_tokens * 1e6 + 0.5) / 1e6")
            .as("dup_word_frac"),
          expr("floor(cast(top_cnt as double) / n_tokens * 1e6 + 0.5) / 1e6")
            .as("top_word_frac"),
          size(col("g3")).as("n_3grams"),
          expr("""case when size(g3) = 0 then 0.0
                    else floor(cast(size(g3) - size(array_distinct(g3)) as double)
                         / size(g3) * 1e6 + 0.5) / 1e6 end""").as("dup_3gram_frac"))
        .orderBy(col("doc_id")),
    Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            m AS (SELECT doc_id,
                    CAST(len(w) AS INTEGER) AS n_tokens,
                    CAST(len(list_distinct(w)) AS INTEGER) AS n_uniq,
                    list_max(list_transform(list_distinct(w),
                      x -> len(list_filter(w, y -> y = x)))) AS top_cnt,
                    list_transform(generate_series(1, len(w) - 2),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
                  FROM base)
            SELECT doc_id, n_tokens,
              floor(CAST(n_tokens - n_uniq AS DOUBLE) / n_tokens * 1e6 + 0.5) / 1e6 AS dup_word_frac,
              floor(CAST(top_cnt AS DOUBLE) / n_tokens * 1e6 + 0.5) / 1e6 AS top_word_frac,
              CAST(len(g3) AS INTEGER) AS n_3grams,
              CASE WHEN len(g3) = 0 THEN 0.0
                   ELSE floor(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                        / len(g3) * 1e6 + 0.5) / 1e6 END AS dup_3gram_frac
            FROM m ORDER BY doc_id"""))

  // PII patterns — the RE2/Java-regex common subset (no lookaround, no
  // backrefs) so Spark and DuckDB compile the identical automaton.
  // private[graft]: the public facade (api.TextAnalytics.piiScrub) applies
  // the same automata to user frames.
  private[graft] val EmailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[graft] val Ipv4Pat = """[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"""

  /** The scrub body over an arbitrary (doc_id, text) frame — the
    * text_pii_scrub detector/redactor without the fixture's planted
    * markers, shared with the public facade.
    *
    * Detection and redaction BOTH go through the Column API so the
    * pattern string reaches the regex engine verbatim: an
    * expr()-embedded SQL literal would pass through Spark's
    * unescapeSQLString, which strips the backslash from `\.` and turns
    * the anchored dots into wildcards — detection then counts "PII" the
    * redactor (whose Scala-string pattern kept `\.` literal) never
    * scrubs ("build 1.2.3 4" counted as an IP, "user@hostname" as an
    * email, neither redacted; caught by the r15 review, pinned by the
    * facade spec's clean-text arm).
    * @return (doc_id, n_emails, n_ips, scrubbed) */
  private[graft] def piiScrubOn(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailPat), lit(0))).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(Ipv4Pat), lit(0))).as("n_ips"),
      regexp_replace(regexp_replace(col("text"), EmailPat, "<EMAIL>"),
        Ipv4Pat, "<IP>").as("scrubbed"))

  /** PII detection + redaction (emails, IPv4) — the mandatory scrub stage
    * before web text becomes training data. The driver corpus contains no
    * PII, so the operator deterministically plants synthetic markers
    * (a function of doc_id, identically on both engines) and then must find
    * and redact exactly those — the detector is exercised for real, not
    * vacuously green on zero matches. */
  val piiScrub = GraftQuery(
    "text_pii_scrub",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 5 === 0,
              concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              concat(lit(" host 10."), (col("doc_id") % 200).cast("string"),
                lit("."), (col("doc_id") % 100).cast("string"),
                lit("."), (col("doc_id") % 50).cast("string")))
              .otherwise(lit(""))).as("txt"))
        .select(col("doc_id"),
          // Column-API extraction (not an expr() SQL literal): see
          // [[piiScrubOn]] — unescapeSQLString would strip the `\.`
          // backslashes and make detection disagree with the redactor
          size(regexp_extract_all(col("txt"), lit(EmailPat), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("txt"), lit(Ipv4Pat), lit(0))).as("n_ips"),
          regexp_replace(regexp_replace(col("txt"), EmailPat, "<EMAIL>"),
            Ipv4Pat, "<IP>").as("scrubbed"))
        .orderBy(col("doc_id")),
    Some(s"""WITH aug AS (
               SELECT doc_id, text
                 || CASE WHEN doc_id % 5 = 0
                         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                         ELSE '' END
                 || CASE WHEN doc_id % 7 = 0
                         THEN ' host 10.' || CAST(doc_id % 200 AS VARCHAR)
                           || '.' || CAST(doc_id % 100 AS VARCHAR)
                           || '.' || CAST(doc_id % 50 AS VARCHAR)
                         ELSE '' END AS txt
               FROM documents)
             SELECT doc_id,
               CAST(len(regexp_extract_all(txt, '$EmailPat')) AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(txt, '$Ipv4Pat')) AS INTEGER) AS n_ips,
               regexp_replace(regexp_replace(txt, '$EmailPat', '<EMAIL>', 'g'),
                 '$Ipv4Pat', '<IP>', 'g') AS scrubbed
             FROM aug ORDER BY doc_id"""))

  /** Corpus bigram language model + per-document scoring — the cheap
    * fluency/perplexity proxy used to rank web text. Two key-partitioned
    * aggregations build the model (bigram counts, prefix counts); scoring
    * joins each document's bigrams to the model ON THE BIGRAM KEY — the
    * shuffle is data-parallel and skew follows token frequency (a hot
    * bigram like "of the" is one reducer key with a long count list, which
    * the AQE skew machinery splits; see Skew.scala).
    *
    * Float discipline: p = c_bigram/c_prefix is a single division
    * (bit-identical across engines); each p is scaled to an int
    * (floor(p*1e8+0.5)) BEFORE summing so the per-doc sum is exact integer
    * arithmetic — aggregation order cannot flip a bit. */
  /** Per-document bigram LM totals over a (doc_id, text) frame — the
    * shared core of lm_bigram_score, lm_perplexity_yield and
    * [[graft.api.LmScoring]]. The corpus's own bigram model (p =
    * c_bg/c_w1, each p integer-scaled BEFORE summing so aggregation
    * order cannot flip a bit) joined back to each document's bigrams on
    * the bigram key. The fact table is NOT cached: at 100 TB a cache of
    * the exploded corpus would evict or spill; the corpus is scanned
    * exactly twice (model build + scoring), each scan pruned to
    * (doc_id, text). The prefix totals are a window over the
    * (distinct-bigram-sized) MODEL — one shuffle of model rows by w1,
    * never a second pass over the facts and no model-vs-model self-join.
    * @return (doc_id, n_bigrams, sum_scaled) */
  private[graft] def lmBigramDocScores(docs: DataFrame): DataFrame = {
    val bigrams = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(w)-2),
           i -> concat_ws(' ', w[i], w[i+1]))""")).as("bg"))
    val model = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val scoredModel = model
      .withColumn("c_w1", sum(col("c_bg"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))))
      .select(col("bg"), expr(
        "cast(floor(cast(c_bg as double) / c_w1 * 1e8 + 0.5) as bigint)").as("p_scaled"))
      // SHUFFLE_HASH hint (r18): the scoring join keys both sides by the
      // bigram — the model (always the smaller side: distinct bigrams vs
      // occurrences) builds per-partition hash tables. Unhinted, the
      // static planner BROADCAST the model at bench scale (a per-run
      // driver collect + ship of the ~100k-row model; measured 0.95 s min
      // -> 0.86 s hinted), and at 100 TB it would sort-merge — i.e. SORT
      // the exploded token occurrences — where shuffled-hash probes them
      // unsorted. Same rows either way; the oracle compare pins it.
      .hint("shuffle_hash")
    bigrams
      .join(scoredModel, "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_scaled")).as("sum_scaled"))
  }

  /** Bigram fluency scores with the display-scaled mean probability.
    * Shared by lm_bigram_score and [[graft.api.LmScoring.bigramScore]].
    * @return (doc_id, n_bigrams, sum_scaled, avg_p) ordered by doc_id */
  private[graft] def lmBigramScoreOn(docs: DataFrame): DataFrame =
    lmBigramDocScores(docs)
      .withColumn("avg_p", expr(
        "floor(cast(sum_scaled as double) / n_bigrams / 100.0 + 0.5) / 1e6"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_scaled"), col("avg_p"))
      .orderBy(col("doc_id"))

  val lmBigramScore = GraftQuery(
    "lm_bigram_score",
    (s, dir) => lmBigramScoreOn(
      t(s, dir, "documents").select(col("doc_id"), col("text"))),
    Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            bigr AS (
              SELECT doc_id,
                unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i])) AS w1,
                unnest(list_transform(generate_series(1, len(w) - 1),
                  i -> w[i] || ' ' || w[i+1])) AS bg
              FROM base WHERE len(w) >= 2),
            bgc AS (SELECT bg, count(*) AS c_bg FROM bigr GROUP BY bg),
            w1c AS (SELECT w1, count(*) AS c_w1 FROM bigr GROUP BY w1),
            scored AS (
              SELECT b.doc_id,
                CAST(floor(CAST(c.c_bg AS DOUBLE) / u.c_w1 * 1e8 + 0.5) AS BIGINT) AS p_scaled
              FROM bigr b JOIN bgc c ON b.bg = c.bg JOIN w1c u ON b.w1 = u.w1)
            SELECT doc_id, count(*) AS n_bigrams,
              CAST(sum(p_scaled) AS BIGINT) AS sum_scaled,
              floor(CAST(sum(p_scaled) AS DOUBLE) / count(*) / 100.0 + 0.5) / 1e6 AS avg_p
            FROM scored GROUP BY doc_id ORDER BY doc_id"""),
    headline = true)

  /** STUPID-BACKOFF LM SCORING (Brants et al. 2007, "Large Language Models
    * in Machine Translation" — the web-scale scoring scheme): score a
    * HELD-OUT slice (doc_id % 5 == 0) under a model built on the REST, so
    * unseen bigrams genuinely occur and the backoff path is exercised —
    * scoring the training corpus with its own model (the [[lmBigramScore]]
    * setup) can never back off. The driver corpus's vocabulary is tiny, so
    * its bigram space is almost fully covered; each eval doc additionally
    * gets one planted doc-specific token (the piiScrub discipline), which
    * guarantees the unseen-bigram AND OOV-unigram paths both fire at every
    * SF instead of being vacuously green. Per eval bigram (w1 w2):
    * seen in train -> ln(c(w1 w2)/c(w1 ·)); unseen -> ln(0.4 * (c(w2)+1)
    * / (T+V)) (add-one keeps OOV w2 total). No normalization across
    * continuations — that deliberate cheapness is the published method.
    *
    * Shapes: train corpus is scanned twice at model build (bigram facts,
    * unigram counts), eval corpus once; scoring is two key-partitioned
    * LEFT joins (bigram model on bg, unigram model on w2) plus a 2-scalar
    * broadcast (T, V). Float discipline: each ln argument is a single
    * division (times the 0.4 constant on the backoff path) and every term
    * is integer-scaled (floor(x*1e6+0.5)) BEFORE summation — the dsir
    * discipline, aggregation-order-proof. */
  /** Stupid-backoff scoring of an eval (doc_id, text) frame under a
    * model built on a train (doc_id, text) frame. Shared by
    * lm_backoff_score and [[graft.api.LmScoring.backoffScore]].
    * @return (doc_id, n_bigrams, n_backoff, score_scaled) by doc_id */
  private[graft] def lmBackoffScoreOn(train: DataFrame,
      eval: DataFrame): DataFrame = {
    def toks(d: DataFrame) =
      d.select(col("doc_id"), split(col("text"), " ").as("w"))
    def bigrams(d: DataFrame) =
      toks(d).filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(w)-2),
             i -> struct(w[i] as w1, w[i+1] as w2))""")).as("b"))
        .select(col("doc_id"), col("b.w1"), col("b.w2"),
          concat_ws(" ", col("b.w1"), col("b.w2")).as("bg"))
    // bigram model with its prefix totals (one shuffle of model rows)
    val model = bigrams(train).groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
      .withColumn("c_w1", sum(col("c_bg")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(substring_index(col("bg"), " ", 1))))
    val uni = toks(train)
      .select(explode(col("w")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c_u"))
    val scalars = broadcast(uni.agg(
      sum(col("c_u")).as("tt"), count(lit(1)).as("vv")))
    bigrams(eval)
      .join(model.select(col("bg"), col("c_bg"), col("c_w1")), Seq("bg"), "left")
      .join(uni.select(col("tok").as("w2"), col("c_u")), Seq("w2"), "left")
      .crossJoin(scalars)
      .withColumn("term", expr(
        """cast(floor(case
             when c_bg is not null
               then ln(cast(c_bg as double) / cast(c_w1 as double))
             else ln(0.4 * (cast(coalesce(c_u, 0) + 1 as double)
                            / cast(tt + vv as double)))
           end * 1e6 + 0.5) as bigint)"""))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c_bg").isNull, 1L).otherwise(0L)).as("n_backoff"),
        sum(col("term")).as("score_scaled"))
      .orderBy(col("doc_id"))
  }

  /** The fixture's held-out split for [[lmBackoffScoreOn]] /
    * [[lmKneserNeyOn]]: doc_id % 5 == 0 is the eval slice, with one
    * planted doc-specific token appended so the unseen-bigram AND
    * OOV-unigram paths fire at every SF. */
  private def heldOutSplit(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val all = t(s, dir, "documents")
    (all.filter(col("doc_id") % 5 =!= 0).select(col("doc_id"), col("text")),
      all.filter(col("doc_id") % 5 === 0).select(col("doc_id"),
        concat(col("text"), lit(" zq"), col("doc_id").cast("string"))
          .as("text")))
  }

  val lmBackoffScore = GraftQuery(
    "lm_backoff_score",
    (s, dir) => {
      val (train, eval) = heldOutSplit(s, dir)
      lmBackoffScoreOn(train, eval)
    },
    Some("""WITH tr AS (SELECT doc_id, string_split(text, ' ') AS w
                        FROM documents WHERE doc_id % 5 <> 0),
            ev AS (SELECT doc_id,
                     string_split(text || ' zq' || CAST(doc_id AS VARCHAR), ' ') AS w
                   FROM documents WHERE doc_id % 5 = 0),
            trbg AS (SELECT
                unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i])) AS w1,
                unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i+1])) AS w2
              FROM tr WHERE len(w) >= 2),
            model AS (SELECT w1, w2, count(*) AS c_bg FROM trbg GROUP BY w1, w2),
            pfx AS (SELECT w1, count(*) AS c_w1 FROM trbg GROUP BY w1),
            uni AS (SELECT tok, count(*) AS c_u
                    FROM (SELECT unnest(w) AS tok FROM tr) GROUP BY tok),
            sc AS (SELECT CAST(sum(c_u) AS BIGINT) AS tt,
                          count(*) AS vv FROM uni),
            evbg AS (SELECT doc_id,
                unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i])) AS w1,
                unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i+1])) AS w2
              FROM ev WHERE len(w) >= 2),
            terms AS (SELECT e.doc_id, m.c_bg,
                CAST(floor(CASE
                    WHEN m.c_bg IS NOT NULL
                      THEN ln(CAST(m.c_bg AS DOUBLE) / CAST(p.c_w1 AS DOUBLE))
                    ELSE ln(0.4 * (CAST(coalesce(u.c_u, 0) + 1 AS DOUBLE)
                                   / CAST(s.tt + s.vv AS DOUBLE)))
                  END * 1e6 + 0.5) AS BIGINT) AS term
              FROM evbg e
              LEFT JOIN model m ON m.w1 = e.w1 AND m.w2 = e.w2
              LEFT JOIN pfx p ON p.w1 = e.w1
              LEFT JOIN uni u ON u.tok = e.w2
              CROSS JOIN sc s)
            SELECT doc_id, count(*) AS n_bigrams,
              CAST(sum(CASE WHEN c_bg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
              CAST(sum(term) AS BIGINT) AS score_scaled
            FROM terms GROUP BY doc_id ORDER BY doc_id"""))

  /** INTERPOLATED KNESER-NEY bigram scoring (Kneser & Ney 1995; Chen &
    * Goodman 1998 eq. 4.25) — the smoothing that beats stupid backoff when
    * the model must be a proper probability: absolute discount d=0.75 on
    * seen bigrams, the freed mass re-spent on the CONTINUATION unigram
    * P_cont(w2) = |{w1 : c(w1 w2)>0}| / |bigram types| (how many contexts
    * w2 completes — the "San Francisco" fix: 'Francisco' is frequent but
    * completes one context, so KN scores it low as a novel continuation).
    * Same held-out split + planted OOV token as [[lmBackoffScore]] so the
    * unseen-bigram and OOV paths fire at every SF. Per eval bigram:
    * seen prefix -> (c_bg−0.75)/c_w1 (0 if bigram unseen)
    *               + 0.75·n1p(w1)/c_w1 · P_cont⁺(w2);
    * unseen prefix -> P_cont⁺(w2); with P_cont⁺ add-one smoothed over
    * (types+V) so OOV w2 stays finite.
    *
    * Shapes: the bigram model is built once from the train facts; prefix
    * stats (c_w1, n1p) and continuation counts (nctx) are aggregations of
    * MODEL rows, never a second corpus pass; scoring is three
    * key-partitioned LEFT joins plus a 2-scalar broadcast. Float
    * discipline: d=0.75 is exactly representable, every probability is an
    * identical IEEE op tree on both engines, and each ln(P) is integer-
    * scaled (floor(·1e6+0.5)) BEFORE the per-doc sum — the dsir/backoff
    * discipline, aggregation-order-proof. */
  /** Interpolated Kneser-Ney scoring of an eval (doc_id, text) frame
    * under a model built on a train (doc_id, text) frame. Shared by
    * lm_kneser_ney and [[graft.api.LmScoring.kneserNeyScore]].
    * @return (doc_id, n_bigrams, n_unseen, score_scaled) by doc_id */
  private[graft] def lmKneserNeyOn(train: DataFrame,
      eval: DataFrame): DataFrame = {
    def toks(d: DataFrame) =
      d.select(col("doc_id"), split(col("text"), " ").as("w"))
    def bigrams(d: DataFrame) =
      toks(d).filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(w)-2),
             i -> struct(w[i] as w1, w[i+1] as w2))""")).as("b"))
        .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val model = bigrams(train)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_bg"))
    val pfx = model.groupBy(col("w1"))
      .agg(sum(col("c_bg")).as("c_w1"), count(lit(1)).as("n1p"))
    val ctx = model.groupBy(col("w2")).agg(count(lit(1)).as("nctx"))
    val vocab = toks(train).select(explode(col("w")).as("tok")).distinct()
    val scalars = broadcast(
      model.agg(count(lit(1)).as("nt")).crossJoin(vocab.agg(count(lit(1)).as("vv"))))
    bigrams(eval)
      .join(model, Seq("w1", "w2"), "left")
      .join(pfx, Seq("w1"), "left")
      .join(ctx, Seq("w2"), "left")
      .crossJoin(scalars)
      .withColumn("term", expr(
        """cast(floor(ln(
             case when c_w1 is not null then
               (case when c_bg is not null
                     then (cast(c_bg as double) - 0.75) / cast(c_w1 as double)
                     else 0.0 end)
               + (0.75 * cast(n1p as double) / cast(c_w1 as double))
                 * (cast(coalesce(nctx, 0) + 1 as double) / cast(nt + vv as double))
             else (cast(coalesce(nctx, 0) + 1 as double) / cast(nt + vv as double)) end
           ) * 1e6 + 0.5) as bigint)"""))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c_bg").isNull, 1L).otherwise(0L)).as("n_unseen"),
        sum(col("term")).as("score_scaled"))
      .orderBy(col("doc_id"))
  }

  val lmKneserNey = GraftQuery(
    "lm_kneser_ney",
    (s, dir) => {
      val (train, eval) = heldOutSplit(s, dir)
      lmKneserNeyOn(train, eval)
    },
    Some("""WITH tr AS (SELECT doc_id, string_split(text, ' ') AS w
                        FROM documents WHERE doc_id % 5 <> 0),
            ev AS (SELECT doc_id,
                     string_split(text || ' zq' || CAST(doc_id AS VARCHAR), ' ') AS w
                   FROM documents WHERE doc_id % 5 = 0),
            trbg AS (SELECT
                unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i])) AS w1,
                unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i+1])) AS w2
              FROM tr WHERE len(w) >= 2),
            model AS MATERIALIZED (
              SELECT w1, w2, count(*) AS c_bg FROM trbg GROUP BY w1, w2),
            pfx AS (SELECT w1, CAST(sum(c_bg) AS BIGINT) AS c_w1, count(*) AS n1p
                    FROM model GROUP BY w1),
            ctx AS (SELECT w2, count(*) AS nctx FROM model GROUP BY w2),
            sc AS (SELECT (SELECT count(*) FROM model) AS nt,
                          (SELECT count(DISTINCT tok)
                           FROM (SELECT unnest(w) AS tok FROM tr)) AS vv),
            evbg AS (SELECT doc_id,
                unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i])) AS w1,
                unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i+1])) AS w2
              FROM ev WHERE len(w) >= 2),
            terms AS (SELECT e.doc_id, m.c_bg,
                CAST(floor(ln(
                  CASE WHEN p.c_w1 IS NOT NULL THEN
                    (CASE WHEN m.c_bg IS NOT NULL
                          THEN (CAST(m.c_bg AS DOUBLE) - 0.75) / CAST(p.c_w1 AS DOUBLE)
                          ELSE 0.0 END)
                    + (0.75 * CAST(p.n1p AS DOUBLE) / CAST(p.c_w1 AS DOUBLE))
                      * (CAST(coalesce(x.nctx, 0) + 1 AS DOUBLE) / CAST(s.nt + s.vv AS DOUBLE))
                  ELSE (CAST(coalesce(x.nctx, 0) + 1 AS DOUBLE) / CAST(s.nt + s.vv AS DOUBLE)) END
                ) * 1e6 + 0.5) AS BIGINT) AS term
              FROM evbg e
              LEFT JOIN model m ON m.w1 = e.w1 AND m.w2 = e.w2
              LEFT JOIN pfx p ON p.w1 = e.w1
              LEFT JOIN ctx x ON x.w2 = e.w2
              CROSS JOIN sc s)
            SELECT doc_id, count(*) AS n_bigrams,
              CAST(sum(CASE WHEN c_bg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
              CAST(sum(term) AS BIGINT) AS score_scaled
            FROM terms GROUP BY doc_id ORDER BY doc_id"""))

  /** DIFFERENTIALLY-PRIVATE HISTOGRAM RELEASE (Dwork et al. 2006): the
    * (lang, source) document counts with Laplace(1/ε) noise at ε = 1 —
    * sensitivity is 1 because adding or removing one document moves
    * exactly one cell by exactly 1, so this is the textbook counting-query
    * mechanism and the release-side complement of
    * [[kAnonymity]]'s suppress-side audit. The noise is drawn by inverse
    * CDF from a KEYED-HASH uniform (48 md5 bits per cell, the
    * temperature-sample derivation) — deterministic so the oracle can
    * reproduce it bit-for-bit and releases are replayable; swap the key
    * for a fresh random seed per release in production, where
    * replayability across releases would compound ε. u is offset by half
    * an ulp of the 48-bit grid so 2u and 2(1−u) never hit ln(0). The
    * true count is emitted alongside for verification; a real release
    * drops it. Float discipline: one ln per cell on an identical IEEE
    * argument, floor-scaled to micros (the dsir/collocations ln rule);
    * everything after is exact-integer. Group-cardinality output — the
    * scan aggregates map-side. */
  val dpHistogram = GraftQuery(
    "curation_dp_histogram",
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("v",
          md5Prefix(concat(lit("dpnoise:"), col("lang"), lit(":"), col("source")), 12))
        .withColumn("u", expr("(cast(v as double) + 0.5) / 281474976710656.0"))
        .withColumn("noise_micro", expr(
          """cast(floor((case when u >= 0.5 then -ln(2.0 * (1.0 - u))
                              else ln(2.0 * u) end) * 1e6 + 0.5) as bigint)"""))
        .select(col("lang"), col("source"), col("n_docs"), col("noise_micro"),
          expr("n_docs * 1000000 + noise_micro").as("released_micro"))
        .orderBy(col("lang"), col("source")),
    Some("""WITH cells AS (
              SELECT lang, source, count(*) AS n_docs,
                CAST(('0x' || substring(md5('dpnoise:' || lang || ':' || source), 1, 12))
                  AS BIGINT) AS v
              FROM documents GROUP BY lang, source),
            noised AS (
              SELECT lang, source, n_docs,
                CAST(floor((CASE WHEN u >= 0.5 THEN -ln(2.0 * (1.0 - u))
                                 ELSE ln(2.0 * u) END) * 1e6 + 0.5) AS BIGINT)
                  AS noise_micro
              FROM (SELECT lang, source, n_docs,
                      (CAST(v AS DOUBLE) + 0.5) / 281474976710656.0 AS u
                    FROM cells))
            SELECT lang, source, n_docs, noise_micro,
              n_docs * 1000000 + noise_micro AS released_micro
            FROM noised ORDER BY lang, source"""))

  /** CROSS-DOMAIN LM TRANSFER MATRIX: every language's held-out slice
    * scored under every language's train-slice bigram model — the
    * lang × lang table that answers "which domains predict which" before
    * anyone re-weights a data mixture (the LM-based companion of
    * [[dsirWeights]]' importance ratios and text_source_divergence's
    * token-distribution distance; a strong diagonal is the sanity check,
    * the off-diagonal ranking is the signal). Scoring is
    * [[lmBackoffScore]]'s stupid backoff per model — seen bigram →
    * ln(c_bg/c_w1), unseen → ln(0.4·(c_u+1)/(T+V)) — with every model
    * quantity keyed by model language. The driver's synthetic languages
    * share one generator vocabulary (the lang column is a label, not a
    * lexicon), so every doc carries two planted lang-marker tokens in
    * train AND eval (the lm_backoff/piiScrub planting precedent, mirrored
    * in the oracle) — same-lang scoring resolves the marker bigrams,
    * cross-lang scoring backs off on them, giving the synthetic corpus
    * the lexical divergence real corpora have and the diagonal its
    * measurable edge.
    *
    * Shapes: one train scan builds all 5 models at once (lang is just
    * another key), one eval scan emits bigrams; the model axis is a
    * LANG-COUNT-bounded broadcast (5 rows of scalars) crossed onto eval
    * bigrams, and the model joins stay key-partitioned on
    * (model_lang, gram). The per-cell mean is deliberately NOT emitted:
    * score_scaled is negative and truncating vs flooring div diverge on
    * negatives — readers divide client-side. Terms integer-scaled before
    * summation (the dsir discipline). */
  val lmTransferMatrix = GraftQuery(
    "lm_transfer_matrix",
    (s, dir) => {
      def toks(train: Boolean) =
        t(s, dir, "documents")
          .filter(if (train) col("doc_id") % 5 =!= 0 else col("doc_id") % 5 === 0)
          .select(col("lang"),
            split(concat(col("text"), lit(" xq"), col("lang"),
              lit(" xq"), col("lang")), " ").as("w"))
      def bigrams(train: Boolean) =
        toks(train).filter(size(col("w")) >= 2)
          .select(col("lang"), explode(expr(
            """transform(sequence(0, size(w)-2),
               i -> struct(w[i] as w1, w[i+1] as w2))""")).as("b"))
          .select(col("lang"), col("b.w1"), col("b.w2"))
      val model = bigrams(train = true)
        .groupBy(col("lang").as("model_lang"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c_bg"))
        .withColumn("c_w1", sum(col("c_bg")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("model_lang"), col("w1"))))
      val uni = toks(train = true)
        .select(col("lang").as("model_lang"), explode(col("w")).as("tok"))
        .groupBy(col("model_lang"), col("tok")).agg(count(lit(1)).as("c_u"))
      val scal = uni.groupBy(col("model_lang"))
        .agg(sum(col("c_u")).as("tt"), count(lit(1)).as("vv"))
      bigrams(train = false)
        .withColumnRenamed("lang", "eval_lang")
        .crossJoin(broadcast(scal))
        .join(model, Seq("model_lang", "w1", "w2"), "left")
        .join(uni.withColumnRenamed("tok", "w2").select(col("model_lang"),
          col("w2"), col("c_u")), Seq("model_lang", "w2"), "left")
        .withColumn("term", expr(
          """cast(floor(case
               when c_bg is not null
                 then ln(cast(c_bg as double) / cast(c_w1 as double))
               else ln(0.4 * (cast(coalesce(c_u, 0) + 1 as double)
                              / cast(tt + vv as double)))
             end * 1e6 + 0.5) as bigint)"""))
        .groupBy(col("model_lang"), col("eval_lang"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("c_bg").isNull, 1L).otherwise(0L)).as("n_backoff"),
          sum(col("term")).as("score_scaled"))
        .orderBy(col("model_lang"), col("eval_lang"))
    },
    Some("""WITH tr AS (SELECT lang,
                string_split(text || ' xq' || lang || ' xq' || lang, ' ') AS w
              FROM documents WHERE doc_id % 5 <> 0),
            ev AS (SELECT lang,
                string_split(text || ' xq' || lang || ' xq' || lang, ' ') AS w
              FROM documents WHERE doc_id % 5 = 0),
            trbg AS (SELECT lang AS model_lang,
                unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i])) AS w1,
                unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i+1])) AS w2
              FROM tr WHERE len(w) >= 2),
            model AS MATERIALIZED (
              SELECT model_lang, w1, w2, count(*) AS c_bg
              FROM trbg GROUP BY model_lang, w1, w2),
            pfx AS (SELECT model_lang, w1, CAST(sum(c_bg) AS BIGINT) AS c_w1
                    FROM model GROUP BY model_lang, w1),
            uni AS (SELECT lang AS model_lang, tok, count(*) AS c_u
                    FROM (SELECT lang, unnest(w) AS tok FROM tr)
                    GROUP BY lang, tok),
            sc AS (SELECT model_lang, CAST(sum(c_u) AS BIGINT) AS tt,
                     count(*) AS vv
                   FROM uni GROUP BY model_lang),
            evbg AS (SELECT lang AS eval_lang,
                unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i])) AS w1,
                unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i+1])) AS w2
              FROM ev WHERE len(w) >= 2),
            terms AS (SELECT e.eval_lang, s.model_lang, m.c_bg,
                CAST(floor(CASE
                    WHEN m.c_bg IS NOT NULL
                      THEN ln(CAST(m.c_bg AS DOUBLE) / CAST(p.c_w1 AS DOUBLE))
                    ELSE ln(0.4 * (CAST(coalesce(u.c_u, 0) + 1 AS DOUBLE)
                                   / CAST(s.tt + s.vv AS DOUBLE)))
                  END * 1e6 + 0.5) AS BIGINT) AS term
              FROM evbg e
              CROSS JOIN sc s
              LEFT JOIN model m ON m.model_lang = s.model_lang
                AND m.w1 = e.w1 AND m.w2 = e.w2
              LEFT JOIN pfx p ON p.model_lang = s.model_lang AND p.w1 = e.w1
              LEFT JOIN uni u ON u.model_lang = s.model_lang AND u.tok = e.w2)
            SELECT model_lang, eval_lang, count(*) AS n_bigrams,
              CAST(sum(CASE WHEN c_bg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_backoff,
              CAST(sum(term) AS BIGINT) AS score_scaled
            FROM terms GROUP BY model_lang, eval_lang
            ORDER BY model_lang, eval_lang"""))

  /** RATER-AGREEMENT AUDIT (Cohen's κ, 1960): chance-corrected agreement
    * between the rule-based langid classifier and the labeled truth —
    * the one-number companion of text_langid_confusion's full matrix, and
    * the statistic annotation pipelines gate on before trusting a cheap
    * labeler (κ corrects the accuracy a majority-class rater gets for
    * free; po alone flatters imbalanced corpora). The driver's synthetic
    * text carries NO lexical language signal (the raw rater predicts 'en'
    * for every document — measured κ = 0 exactly, the textbook
    * constant-rater result and the reason κ exists: that rater reads as
    * 41% "accuracy"), so 2/3 of docs get 16 planted copies of their
    * language's lead marker (doc_id % 3 gate, 16 > the max accidental
    * marker count 14, oracle-mirrored — the lm_transfer precedent);
    * marked docs classify correctly, unmarked ones fall to the en
    * default, zh has no class at all — κ lands mid-range with both
    * failure modes live. po and pe are exact integer micro-divs off the
    * marginals; κ = (po−pe)/(1−pe) is one fixed double op tree over
    * those exact integers, floor-scaled (negative κ is representable —
    * floor agrees cross-engine), with nullif guarding the degenerate
    * pe = 1 corpus. Shapes: one corpus scan, label-sized marginals,
    * three 1-row scalars crossed. */
  val raterAgreement = GraftQuery(
    "curation_rater_agreement",
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
        .withColumn("text", concat(col("text"), expr(
          """case when doc_id % 3 <> 0 then
               case lang when 'en' then repeat(' the', 16)
                         when 'de' then repeat(' der', 16)
                         when 'es' then repeat(' el', 16)
                         when 'fr' then repeat(' le', 16)
                         else '' end
             else '' end""")))
        .select(col("lang"),
          score("en").as("s_en"), score("de").as("s_de"),
          score("es").as("s_es"), score("fr").as("s_fr"))
        .withColumn("pred_lang",
          when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
            .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
            .when(col("s_es") >= col("s_fr"), "es")
            .otherwise("fr"))
        .select(col("lang"), col("pred_lang"))
        .transform(Pin.reuse)
      val tot = pred.agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang") === col("pred_lang"), 1L).otherwise(0L)).as("n_agree"))
      val chance = pred.groupBy(col("lang")).agg(count(lit(1)).as("n_true"))
        .join(pred.groupBy(col("pred_lang")).agg(count(lit(1)).as("n_pred")),
          col("lang") === col("pred_lang"))
        .agg(sum(col("n_true") * col("n_pred")).as("s_chance"))
      tot.crossJoin(broadcast(chance))
        .selectExpr("n_docs", "n_agree",
          "n_agree * 1000000 div n_docs as po_micro",
          "s_chance * 1000000 div (n_docs * n_docs) as pe_micro",
          """cast(floor(
               (cast(n_agree as double) / n_docs
                - cast(s_chance as double) / (cast(n_docs as double) * n_docs))
               / nullif(1.0 - cast(s_chance as double)
                          / (cast(n_docs as double) * n_docs), 0.0)
               * 1e6 + 0.5) as bigint) as kappa_micro""")
    },
    Some("""WITH aug AS (
              SELECT lang, text ||
                CASE WHEN doc_id % 3 <> 0 THEN
                  CASE lang WHEN 'en' THEN repeat(' the', 16)
                            WHEN 'de' THEN repeat(' der', 16)
                            WHEN 'es' THEN repeat(' el', 16)
                            WHEN 'fr' THEN repeat(' le', 16)
                            ELSE '' END
                ELSE '' END AS text
              FROM documents),
            scored AS (
              SELECT lang,
                len(list_filter(string_split(text, ' '),
                  x -> x IN ('the', 'a', 'of'))) AS s_en,
                len(list_filter(string_split(text, ' '),
                  x -> x IN ('der', 'die', 'das'))) AS s_de,
                len(list_filter(string_split(text, ' '),
                  x -> x IN ('el', 'los', 'una'))) AS s_es,
                len(list_filter(string_split(text, ' '),
                  x -> x IN ('le', 'la', 'les'))) AS s_fr
              FROM aug),
            pred AS MATERIALIZED (
              SELECT lang,
                CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                     WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                     WHEN s_es >= s_fr THEN 'es'
                     ELSE 'fr' END AS pred_lang
              FROM scored),
            tot AS (SELECT count(*) AS n_docs,
                CAST(sum(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_agree
              FROM pred),
            chance AS (
              SELECT CAST(sum(t.n_true * p.n_pred) AS BIGINT) AS s_chance
              FROM (SELECT lang, count(*) AS n_true FROM pred GROUP BY lang) t
              JOIN (SELECT pred_lang, count(*) AS n_pred FROM pred
                    GROUP BY pred_lang) p ON p.pred_lang = t.lang)
            SELECT n_docs, n_agree,
              n_agree * 1000000 // n_docs AS po_micro,
              s_chance * 1000000 // (n_docs * n_docs) AS pe_micro,
              CAST(floor(
                (CAST(n_agree AS DOUBLE) / n_docs
                 - CAST(s_chance AS DOUBLE) / (CAST(n_docs AS DOUBLE) * n_docs))
                / nullif(1.0 - CAST(s_chance AS DOUBLE)
                           / (CAST(n_docs AS DOUBLE) * n_docs), 0.0)
                * 1e6 + 0.5) AS BIGINT) AS kappa_micro
            FROM tot CROSS JOIN chance"""))

  /** PERPLEXITY-FILTER YIELD CURVE: documents ranked by their
    * [[lmBigramScore]] fluency score and cut into score deciles, each row
    * reporting docs, token yield, and the decile's score floor — the
    * table that answers "what does a perplexity cutoff actually cost in
    * tokens" BEFORE anyone picks the cutoff (the FineWeb/CCNet-style
    * quality-filter tuning step; on this corpus dropping the worst decile
    * costs only ~7% of tokens — the curve is the decision). The global
    * rank is NOT a single-task window: (inverted-score, doc_id) packs
    * into one long for the shared two-phase [[graft.operators.Sampling
    * .prefixSum]] (the pipeline_curriculum discipline), with the pack
    * bounds ENFORCED by raise_error (score < 2²⁷ by construction —
    * per-bigram p ≤ 1e8 — and doc_id < 2³⁶). Decile = rank·10 div n
    * against a 1-row broadcast count; everything else is the
    * lm_bigram_score model build, integer-exact. */
  /** The perplexity-yield decile curve over a (doc_id, text) frame —
    * [[lmBigramDocScores]] ranked by the two-phase distributed prefix
    * sum, never a single-task global window. doc_id must be integral,
    * non-negative and < 2³⁶ (the pack bound, raise_error-enforced).
    * Shared by lm_perplexity_yield and
    * [[graft.api.LmScoring.perplexityYield]].
    * @return (decile, n_docs, n_tokens, score_floor) */
  private[graft] def perplexityYieldOn(s: SparkSession,
      docsIn: DataFrame): DataFrame = {
    val docs = lmBigramDocScores(docsIn)
      .select(col("doc_id").cast("long").as("doc_id"), col("n_bigrams"),
        expr("sum_scaled div n_bigrams").as("score"))
      .withColumn("pack",
        when(col("score") >= lit(1L << 27) || col("doc_id") >= lit(1L << 36)
            || col("doc_id") < 0,
          expr("raise_error('lm_perplexity_yield: pack overflow — " +
            "score >= 2^27 or doc_id outside [0, 2^36)')").cast("long"))
          // inv max (score=0) is 2^27-1, so pack < 2^63 with no overflow
          .otherwise((lit((1L << 27) - 1) - col("score")) * lit(1L << 36) + col("doc_id")))
      .withColumn("one", lit(1L))
    val n = broadcast(docs.agg(count(lit(1)).as("n")))
    Sampling.prefixSum(s, docs, "pack", "one", "rank")
      .crossJoin(n)
      .select(expr("rank * 10 div n").as("decile"), col("n_bigrams"), col("score"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bigrams")).as("n_tokens"),
        min(col("score")).as("score_floor"))
      .orderBy(col("decile"))
  }

  val perplexityYield = GraftQuery(
    "lm_perplexity_yield",
    (s, dir) => perplexityYieldOn(s,
      t(s, dir, "documents").select(col("doc_id"), col("text"))),
    Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            bigr AS (SELECT doc_id,
                unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i])) AS w1,
                unnest(list_transform(generate_series(1, len(w) - 1),
                  i -> w[i] || ' ' || w[i+1])) AS bg
              FROM base WHERE len(w) >= 2),
            bgc AS (SELECT bg, count(*) AS c_bg FROM bigr GROUP BY bg),
            w1c AS (SELECT w1, count(*) AS c_w1 FROM bigr GROUP BY w1),
            scored AS (
              SELECT b.doc_id,
                CAST(floor(CAST(c.c_bg AS DOUBLE) / u.c_w1 * 1e8 + 0.5) AS BIGINT)
                  AS p_scaled
              FROM bigr b JOIN bgc c ON b.bg = c.bg JOIN w1c u ON b.w1 = u.w1),
            docsc AS MATERIALIZED (
              SELECT doc_id, count(*) AS n_bigrams,
                CAST(sum(p_scaled) AS BIGINT) // count(*) AS score
              FROM scored GROUP BY doc_id),
            ranked AS (
              SELECT n_bigrams, score,
                row_number() OVER (ORDER BY score DESC, doc_id) AS rnk,
                count(*) OVER () AS n
              FROM docsc)
            SELECT CAST((rnk - 1) * 10 // n AS BIGINT) AS decile,
              count(*) AS n_docs,
              CAST(sum(n_bigrams) AS BIGINT) AS n_tokens,
              min(score) AS score_floor
            FROM ranked GROUP BY decile ORDER BY decile"""))

  /** QUALITY-GATE YIELD/QUALITY TRADEOFF: the Pareto curve behind
    * [[qualityFilter]]'s hard-coded min-length 10 — at candidate cuts
    * {5, 10, 20, 40, 80} minimum tokens, the docs and tokens kept AND the
    * mean lexical diversity (TTR) of what survives, so the cut is chosen
    * where quality stops improving faster than yield falls (the
    * lm_perplexity_yield framing applied to the rule-based gate; every
    * gate constant in this file should have its curve). One corpus scan
    * explodes 5 cut rows per doc; TTR is floor-scaled to exact integer
    * micros per doc BEFORE the mean so cross-cut sums are
    * aggregation-order-proof; means are non-negative integer divs. */
  val qualityTradeoff = GraftQuery(
    "curation_quality_tradeoff",
    (s, dir) =>
      t(s, dir, "documents")
        .select(split(col("text"), " ").as("w"))
        .select(size(col("w")).cast("long").as("n_tokens"),
          expr("""cast(floor(cast(size(array_distinct(w)) as double)
                  / size(w) * 1e6 + 0.5) as bigint)""").as("ttr_micro"))
        .select(col("n_tokens"), col("ttr_micro"),
          explode(expr("array(5L, 10L, 20L, 40L, 80L)")).as("min_tokens"))
        .filter(col("n_tokens") >= col("min_tokens"))
        .groupBy(col("min_tokens"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens_kept"),
          sum(col("ttr_micro")).as("ttr_sum"))
        .select(col("min_tokens"), col("n_docs"), col("n_tokens_kept"),
          expr("ttr_sum div nullif(n_docs, 0)").as("mean_ttr_micro"))
        .orderBy(col("min_tokens")),
    Some("""WITH d AS (
              SELECT CAST(len(w) AS BIGINT) AS n_tokens,
                CAST(floor(CAST(len(list_distinct(w)) AS DOUBLE)
                  / len(w) * 1e6 + 0.5) AS BIGINT) AS ttr_micro
              FROM (SELECT string_split(text, ' ') AS w FROM documents)),
            e AS (
              SELECT n_tokens, ttr_micro,
                unnest([CAST(5 AS BIGINT), 10, 20, 40, 80]) AS min_tokens
              FROM d)
            SELECT min_tokens, count(*) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept,
              CAST(CAST(sum(ttr_micro) AS BIGINT) // nullif(count(*), 0) AS BIGINT)
                AS mean_ttr_micro
            FROM e WHERE n_tokens >= min_tokens
            GROUP BY min_tokens ORDER BY min_tokens"""))

  // multilingual stop-marker list: the union of the langId marker sets
  private val Stops = Seq("the", "a", "of", "der", "die", "das",
    "el", "los", "una", "le", "la", "les")

  /** The composed keep/reject filter stage — length bounds, lexical
    * diversity, stopword signal — emitting the FIRST failing rule as the
    * reject reason (the audit trail a curation pipeline ships with every
    * drop decision). Pure per-row expressions over one scan. */
  val qualityFilter = GraftQuery(
    "pipeline_quality_filter",
    (s, dir) => {
      val stopSet = Stops.map(m => s"'$m'").mkString(", ")
      t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          size(col("w")).as("n_tokens"),
          expr("floor(cast(size(array_distinct(w)) as double) / size(w) * 1e6 + 0.5) / 1e6")
            .as("ttr"),
          expr(s"floor(cast(size(filter(w, x -> x IN ($stopSet))) as double) / size(w) * 1e6 + 0.5) / 1e6")
            .as("stop_ratio"))
        .withColumn("reason",
          when(col("n_tokens") < 10, "too_short")
            .when(col("n_tokens") > 2000, "too_long")
            .when(col("ttr") < 0.2, "low_diversity")
            .when(col("stop_ratio") < 0.01, "no_stopwords")
            .otherwise("ok"))
        .withColumn("keep", col("reason") === "ok")
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH m AS (
               SELECT doc_id,
                 CAST(len(w) AS INTEGER) AS n_tokens,
                 floor(CAST(len(list_distinct(w)) AS DOUBLE) / len(w) * 1e6 + 0.5) / 1e6 AS ttr,
                 floor(CAST(len(list_filter(w, x -> x IN (${Stops.map(m => s"'$m'").mkString(", ")})))
                   AS DOUBLE) / len(w) * 1e6 + 0.5) / 1e6 AS stop_ratio
               FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
             r AS (
               SELECT doc_id, n_tokens, ttr, stop_ratio,
                 CASE WHEN n_tokens < 10 THEN 'too_short'
                      WHEN n_tokens > 2000 THEN 'too_long'
                      WHEN ttr < 0.2 THEN 'low_diversity'
                      WHEN stop_ratio < 0.01 THEN 'no_stopwords'
                      ELSE 'ok' END AS reason
               FROM m)
             SELECT doc_id, n_tokens, ttr, stop_ratio, reason, reason = 'ok' AS keep
             FROM r ORDER BY doc_id"""))

  /** The benchmark n-gram index must stay broadcastable BY CONSTRUCTION:
    * [[decontaminate]] refuses (raise_error) to run past this many bench
    * grams, bounding the broadcast at ~tens of MB however the corpus
    * grows — the [[Similarity.EvalCap]] discipline. Real benchmark suites
    * index far fewer grams; raising the cap is an explicit decision. */
  private[graft] val BenchGramCap = 1000000L

  /** Train/eval DECONTAMINATION — the overlap check every LLM training run
    * must pass: find training documents sharing >= 2 distinct 3-grams with
    * any benchmark document (here the planted benchmark set is doc_id % 97
    * = 0 — deterministic, same on both engines). 100 TB shape: the
    * benchmark n-gram index is EVAL-SET-sized (millions of n-grams, not
    * corpus-sized) and that bound is ENFORCED, not assumed — a
    * [[BenchGramCap]] assert-then-broadcast filter raise_errors past the
    * cap (reproduced in the oracle via DuckDB error()), so the broadcast
    * cannot silently scale with the corpus; the corpus then streams
    * map-side — zero corpus shuffle before the per-pair count. */
  /** Distinct 3-gram shingles of a (doc_id, text) frame, id aliased to
    * `idAs` — the decontamination unit. */
  private def shingles3(docs: DataFrame, idAs: String): DataFrame = docs
    .select(col("doc_id"), split(col("text"), " ").as("w"))
    .filter(size(col("w")) >= 3)
    .select(col("doc_id").as(idAs), explode(expr(
      "array_distinct(transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2])))")).as("s"))

  /** Train-vs-benchmark overlap pairs over two (doc_id, text) frames:
    * (train_doc, bench_doc, n_shared) for every pair sharing >=
    * `minShared` distinct 3-grams. The benchmark n-gram index must stay
    * EVAL-SET-sized — an assert-then-broadcast [[BenchGramCap]] gate
    * raise_errors past the cap rather than silently broadcasting a
    * corpus-sized side. Shared by pipeline_decontaminate and
    * [[graft.api.CorpusPipeline.decontaminate]]. */
  private[graft] def decontaminatePairs(train: DataFrame, benchmark: DataFrame,
      minShared: Int = 2): DataFrame = {
    val benchRaw = shingles3(benchmark, "bench_doc")
    val nBench = broadcast(benchRaw.agg(count(lit(1)).as("n_bench")))
    val bench = benchRaw.crossJoin(nBench)
      .filter(when(col("n_bench") > lit(BenchGramCap),
        expr(s"raise_error('pipeline_decontaminate: benchmark index " +
          s"exceeds BenchGramCap=$BenchGramCap n-grams - refusing to " +
          s"broadcast a corpus-sized side')").cast("boolean"))
        .otherwise(lit(true)))
      .select(col("bench_doc"), col("s"))
    shingles3(train, "train_doc")
      .join(broadcast(bench), "s")
      .groupBy(col("train_doc"), col("bench_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  val decontaminate = GraftQuery(
    "pipeline_decontaminate",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      decontaminatePairs(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0))
        .orderBy(col("train_doc"), col("bench_doc"))
    },
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
                   FROM tok CROSS JOIN LATERAL
                     (SELECT unnest(generate_series(1, len(w)-2)) AS i) g
                   WHERE len(w) >= 3),
            nb AS (SELECT count(*) AS n_bench FROM sh WHERE doc_id % 97 = 0),
            bench AS (SELECT doc_id AS bench_doc, s FROM sh CROSS JOIN nb
                      WHERE doc_id % 97 = 0
                        AND CASE WHEN n_bench > 1000000
                                 THEN error('pipeline_decontaminate: benchmark index exceeds BenchGramCap=1000000 n-grams')
                                 ELSE TRUE END),
            train AS (SELECT doc_id AS train_doc, s FROM sh WHERE doc_id % 97 <> 0)
            SELECT train_doc, bench_doc, count(*) AS n_shared
            FROM train JOIN bench USING (s)
            GROUP BY train_doc, bench_doc
            HAVING count(*) >= 2
            ORDER BY train_doc, bench_doc"""))

  /** LEAKAGE N-GRAM-LENGTH SWEEP: for n ∈ {2,3,4,5}, what fraction of the
    * eval slice's distinct n-grams also appear in train — the tuning curve
    * behind [[decontaminate]]'s single n choice (short n-grams match
    * everything, long ones miss paraphrases; the knee is the right gate).
    * ONE corpus scan emits every (n, gram) via a nested-transform flatten
    * — never four passes — grams move as md5 DIGESTS (identical in both
    * engines, bounded-width shuffle — the dedup-family discipline), and
    * each n's leak fraction is a non-negative integer div to micros.
    * Completes the tuning-table family: LSH bands, MinHash verify cut,
    * cosine cut, banding layout, and now gate length. */
  val leakNgramSweep = GraftQuery(
    "curation_leak_ngram_sweep",
    (s, dir) => {
      val grams = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 5)
        .select((col("doc_id") % 97 === 0).as("is_eval"),
          explode(expr("""flatten(transform(array(2, 3, 4, 5),
                    n -> transform(sequence(0, size(w) - n),
                      i -> struct(n, md5(concat_ws(' ', slice(w, i + 1, n))) as g))))"""))
            .as("x"))
        .select(col("is_eval"), col("x.n").as("n"), col("x.g").as("g"))
        .distinct()
      val ev = grams.filter(col("is_eval")).select(col("n"), col("g"))
      val tr = grams.filter(!col("is_eval")).select(col("n"), col("g"))
      val leaked = ev.join(tr, Seq("n", "g"), "left_semi")
        .groupBy(col("n")).agg(count(lit(1)).as("n_leaked"))
      ev.groupBy(col("n")).agg(count(lit(1)).as("n_eval_grams"))
        .join(leaked, Seq("n"), "left")
        .select(col("n"), col("n_eval_grams"),
          coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
          expr("cast(coalesce(n_leaked, 0) * 1000000 div n_eval_grams as bigint)")
            .as("leak_micro"))
        .orderBy(col("n"))
    },
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE len(string_split(text, ' ')) >= 5),
            grams AS (SELECT DISTINCT doc_id % 97 = 0 AS is_eval, n,
                md5(array_to_string(w[i + 1 : i + n], ' ')) AS g
              FROM tok
              CROSS JOIN LATERAL
                (SELECT unnest(generate_series(0, len(w) - 2)) AS i) gi
              CROSS JOIN (SELECT unnest([2, 3, 4, 5]) AS n) ns
              WHERE i <= len(w) - n),
            ev AS (SELECT n, g FROM grams WHERE is_eval),
            tr AS (SELECT n, g FROM grams WHERE NOT is_eval)
            SELECT ev.n, count(*) AS n_eval_grams,
              CAST(sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_leaked,
              CAST(CAST(sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) * 1000000 // count(*) AS BIGINT) AS leak_micro
            FROM ev LEFT JOIN tr ON ev.n = tr.n AND ev.g = tr.g
            GROUP BY ev.n ORDER BY ev.n"""))

  /** MIXTURE QUOTA sampling — hit a target per-source composition by taking
    * a fixed deterministic quota from each source (domain/dataset mixing,
    * the knob every pretraining recipe turns). Selection is the top-25 of
    * each source by an independent content hash (uniform "random" draw,
    * reproducible everywhere; doc_id tie-break). Scale shape: `rk <= 25`
    * compiles to WindowGroupLimit, so each map partition keeps at most 25
    * rows per source BEFORE the shuffle — the exchange carries
    * O(quota x sources x partitions), never the corpus (pinned in
    * PlanInvariantsSpec). */
  val mixtureQuota = GraftQuery(
    "curation_mixture_quota",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(concat(lit("mix:"), col("doc_id").cast("string"))).as("h"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 25)
        .select(col("source"), col("doc_id"), col("rk"))
        .orderBy(col("source"), col("rk"))
    },
    Some("""SELECT source, doc_id, CAST(rk AS INTEGER) AS rk
            FROM (SELECT source, doc_id, row_number() OVER (PARTITION BY source
                    ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
                  FROM documents)
            WHERE rk <= 25 ORDER BY source, rk"""))

  /** Temperature-based source rebalancing (the `n^alpha` mixture reweight
    * every multilingual/multi-domain pretraining recipe applies): keep rate
    * r_g = base * (n_max / n_g)^(1/2) capped at 1 — big groups downsampled
    * toward the base rate, small groups kept nearly whole (alpha = 0.5).
    * The keep decision is the deterministic content-hash draw used by all
    * graft sampling ops, and the sqrt threshold is evaluated by integer
    * cross-multiplication (b^2 * n_g < base^2 * M^2 * n_max with M = 1e6
    * hash buckets) so both engines make bit-identical decisions — no
    * float-rounded probability ever compares against a hash.
    * Scale shape: the per-group counts are a tiny broadcast (group
    * cardinality = languages/domains, not documents); the corpus is
    * scanned ONCE with the keep predicate evaluated map-side. */
  val temperatureSample = GraftQuery(
    "curation_temperature_sample",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("lang"),
        (md5Prefix(col("text"), 8) % 1000000L).as("b"))
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val nMax = broadcast(counts.agg(max(col("n_docs")).as("n_max")))
      docs.join(broadcast(counts), "lang")
        .crossJoin(nMax) // 1 row, broadcast: a map-side constant
        .groupBy(col("lang"), col("n_docs"))
        .agg(sum(when(col("b") * col("b") * col("n_docs") <
          lit(250000000000L) * col("n_max"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("kept_rate",
          expr("cast(n_kept * 10000 div n_docs as double) / 10000.0d"))
        .select(col("lang"), col("n_docs"), col("n_kept"), col("kept_rate"))
        .orderBy(col("lang"))
    },
    Some("""WITH d AS (SELECT lang,
                 CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 1000000 AS b
               FROM documents),
            c AS (SELECT lang, count(*) AS n_docs FROM d GROUP BY lang),
            m AS (SELECT max(n_docs) AS n_max FROM c)
            SELECT d.lang, c.n_docs,
              count(*) FILTER (WHERE b * b * c.n_docs < 250000000000 * m.n_max)
                AS n_kept,
              ((count(*) FILTER (WHERE b * b * c.n_docs < 250000000000 * m.n_max))
                 * 10000 // c.n_docs) / 10000.0 AS kept_rate
            FROM d JOIN c USING (lang) CROSS JOIN m
            GROUP BY d.lang, c.n_docs ORDER BY d.lang"""))

  /** DATA-PROFILING PASS (pipeline observability): per-column null counts,
    * exact distinct cardinality, and min/max, emitted one row per column —
    * the corpus health report every ingest run publishes. One aggregate
    * over the table computes every column's stats (multiple count-distincts
    * lower to a single Expand + HashAggregate — one scan, no joins), then a
    * scan-side stack reshapes to rows. At 100 TB swap the exact distincts
    * for approx_count_distinct and nothing else changes. */
  val profile = GraftQuery(
    "pipeline_profile",
    (s, dir) =>
      t(s, dir, "documents")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("lang").isNull, 1L).otherwise(0L)).as("nn_lang"),
          countDistinct(col("lang")).as("nd_lang"),
          min(col("lang")).as("min_lang"), max(col("lang")).as("max_lang"),
          sum(when(col("source").isNull, 1L).otherwise(0L)).as("nn_source"),
          countDistinct(col("source")).as("nd_source"),
          min(col("source")).as("min_source"), max(col("source")).as("max_source"),
          sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("nn_chars"),
          countDistinct(col("n_chars")).as("nd_chars"),
          min(col("n_chars")).cast("string").as("min_chars"),
          max(col("n_chars")).cast("string").as("max_chars"))
        .select(expr(
          """stack(3,
               'lang',    n_rows, nn_lang,   nd_lang,   min_lang,   max_lang,
               'source',  n_rows, nn_source, nd_source, min_source, max_source,
               'n_chars', n_rows, nn_chars,  nd_chars,  min_chars,  max_chars)
             AS (col_name, n_rows, n_nulls, n_distinct, min_val, max_val)"""))
        .orderBy(col("col_name")),
    Some("""SELECT 'lang' AS col_name, count(*) AS n_rows,
              CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
              count(DISTINCT lang) AS n_distinct,
              min(lang) AS min_val, max(lang) AS max_val
            FROM documents
            UNION ALL
            SELECT 'source', count(*),
              CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
              count(DISTINCT source), min(source), max(source)
            FROM documents
            UNION ALL
            SELECT 'n_chars', count(*),
              CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
              count(DISTINCT n_chars),
              CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
            FROM documents
            ORDER BY col_name"""))

  /** END-TO-END CURATION FUNNEL: the composed corpus build — raw ingest →
    * quality gate ([[qualityFilter]]'s exact thresholds) → exact dedup
    * (first doc_id per content digest wins) — reported as surviving doc
    * counts per source at each stage, the attrition report every corpus
    * run publishes. Demonstrates that the stages COMPOSE as one lazy plan:
    * Catalyst shares the scan, the quality gate is scan-side, and the only
    * data that shuffles for dedup is (digest, doc_id, source) — text
    * never leaves the map side. */
  val endToEnd = GraftQuery(
    "pipeline_end_to_end",
    (s, dir) => {
      val stopSet = Stops.map(m => s"'$m'").mkString(", ")
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"),
          split(col("text"), " ").as("w"))
      val quality = base.filter(
        size(col("w")) >= 10 && size(col("w")) <= 2000 &&
          expr("floor(cast(size(array_distinct(w)) as double) / size(w) * 1e6 + 0.5) / 1e6") >= 0.2 &&
          expr(s"floor(cast(size(filter(w, x -> x IN ($stopSet))) as double) / size(w) * 1e6 + 0.5) / 1e6") >= 0.01)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h")).orderBy(col("doc_id"))
      val deduped = quality
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      base.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .withColumn("stage", lit("1_raw"))
        .unionByName(quality.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs")).withColumn("stage", lit("2_quality")))
        .unionByName(deduped.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs")).withColumn("stage", lit("3_dedup")))
        .select(col("stage"), col("source"), col("n_docs"))
        .orderBy(col("stage"), col("source"))
    },
    Some(s"""WITH base AS (SELECT doc_id, source, text, string_split(text, ' ') AS w
                           FROM documents),
             quality AS (
               SELECT doc_id, source, text FROM base
               WHERE len(w) >= 10 AND len(w) <= 2000
                 AND floor(CAST(len(list_distinct(w)) AS DOUBLE) / len(w) * 1e6 + 0.5) / 1e6 >= 0.2
                 AND floor(CAST(len(list_filter(w, x -> x IN (${Stops.map(m => s"'$m'").mkString(", ")})))
                       AS DOUBLE) / len(w) * 1e6 + 0.5) / 1e6 >= 0.01),
             deduped AS (
               SELECT doc_id, source FROM (
                 SELECT doc_id, source,
                   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
                 FROM quality) WHERE rn = 1)
             SELECT stage, source, n_docs FROM (
               SELECT '1_raw' AS stage, source, count(*) AS n_docs
               FROM base GROUP BY source
               UNION ALL
               SELECT '2_quality', source, count(*) FROM quality GROUP BY source
               UNION ALL
               SELECT '3_dedup', source, count(*) FROM deduped GROUP BY source)
             ORDER BY stage, source"""))

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — public method): score how
    * target-like each document is under hashed-bigram bag-of-words models
    * of a target slice (here lang='en') vs the raw corpus. The per-bucket
    * log-likelihood ratio table is B=1024 rows — broadcast-joined to the
    * exploded bigram stream, so the corpus is scanned once for counting
    * and once for scoring, exactly the lm_bigram_score shuffle shape.
    *
    * Float discipline: the log argument is a single division of two exact
    * integer products (< 2^53 at oracle scale), then ln() is scaled to an
    * integer (floor(x*1e6+0.5)) per BUCKET before any summation — the
    * per-doc score is pure integer arithmetic, aggregation-order-proof.
    * Bucketing is the house md5 idiom (first 4 hex chars mod 1024), so
    * DuckDB reproduces the feature hashing bit-for-bit. */
  val dsirWeights = GraftQuery(
    "curation_dsir_weights",
    (s, dir) => {
      val B = 1024
      val bg = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          """transform(sequence(0, size(w)-2),
             i -> concat_ws(' ', w[i], w[i+1]))""")).as("bg"))
        .withColumn("bucket",
          md5Prefix(col("bg"), 4).cast("int") % B)
      // per-bucket counts for target (en) and raw (all) in ONE pass
      val counts = bg.groupBy(col("bucket")).agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_c"),
        count(lit(1)).as("a_c"))
      // corpus totals: a 2-value scalar row, cross-joined onto 1024 rows
      val totals = counts.agg(sum(col("t_c")).as("t_tot"), sum(col("a_c")).as("a_tot"))
      val lr = counts.crossJoin(totals).select(col("bucket"), expr(
        s"""cast(floor(ln(cast((t_c + 1) * (a_tot + $B) as double)
                        / cast((a_c + 1) * (t_tot + $B) as double)) * 1e6 + 0.5)
                as bigint)""").as("lr_scaled"))
      bg.join(broadcast(lr), "bucket")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lr_scaled")).as("score_scaled"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH base AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
            bigr AS (
              SELECT doc_id, lang,
                (('0x' || substr(md5(bg), 1, 4))::INTEGER) % 1024 AS bucket
              FROM (SELECT doc_id, lang,
                      unnest(list_transform(generate_series(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i+1])) AS bg
                    FROM base WHERE len(w) >= 2)),
            counts AS (
              SELECT bucket,
                CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_c,
                count(*) AS a_c
              FROM bigr GROUP BY bucket),
            totals AS (SELECT CAST(sum(t_c) AS BIGINT) AS t_tot,
                              CAST(sum(a_c) AS BIGINT) AS a_tot FROM counts),
            lr AS (
              SELECT bucket,
                CAST(floor(ln(CAST((t_c + 1) * (a_tot + 1024) AS DOUBLE)
                              / CAST((a_c + 1) * (t_tot + 1024) AS DOUBLE)) * 1e6 + 0.5)
                     AS BIGINT) AS lr_scaled
              FROM counts CROSS JOIN totals)
            SELECT doc_id, count(*) AS n_bigrams,
              CAST(sum(lr_scaled) AS BIGINT) AS score_scaled
            FROM bigr JOIN lr USING (bucket)
            GROUP BY doc_id ORDER BY doc_id"""))

  /** TOKEN-BUDGET WATERFILLING: given a global token budget, cap every
    * source at the integer water level L that maximizes sum(min(n_g, L))
    * without exceeding the budget — sources below the level keep all their
    * tokens, sources above are cut to L. This is the "how many tokens from
    * each source fit the run" allocation step of a pretraining data recipe
    * (the budgeted counterpart of [[temperatureSample]]'s rate reweighting).
    * Budget here: half the corpus tokens, a deterministic parameter.
    *
    * Closed form, no iteration: with sources sorted ascending by n_g, the
    * level is cand_i = (budget - cum_{i-1}) div (G-i+1) at the FIRST index
    * where cand_i < n_i (all-fit when no such index). Pure integer
    * arithmetic end to end — both engines make bit-identical decisions; the
    * one division that feeds the picked level is of non-negative integers,
    * where Spark's truncating `div` and DuckDB's flooring `//` agree.
    *
    * Scale shape: the corpus is scanned ONCE for the per-source token sums;
    * everything after runs on G rows (G = source/domain count — dozens, not
    * documents), so the single-partition ordered window is driver-tiny by
    * construction. */
  /** Water-filling token-budget allocation over a (source, n_tokens)
    * per-group frame: allocate `budgetNum/budgetDen` of the total tokens
    * across groups by raising a common water level — small groups keep
    * everything, large groups are capped equally. Group count rows come to
    * the driver never; all scalars broadcast. Shared by
    * curation_token_budget and [[graft.api.CorpusPipeline.tokenBudget]]. */
  private[graft] def waterFillBudget(perGroup: DataFrame,
      budgetNum: Long = 1, budgetDen: Long = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetNum >= 0 && budgetDen >= 1,
      s"waterFillBudget needs budgetNum >= 0 and budgetDen >= 1, " +
        s"got $budgetNum/$budgetDen")
    val perSrc = perGroup.toDF("source", "n_tokens")
    val scalars = broadcast(perSrc.agg(
      expr(s"sum(n_tokens) * $budgetNum div $budgetDen").as("budget"),
      count(lit(1)).as("g")))
    val w = Window.orderBy(col("n_tokens"), col("source"))
    val ranked = perSrc.crossJoin(scalars)
      .withColumn("i", row_number().over(w))
      .withColumn("cum_prev", coalesce(
        sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("cand", expr("(budget - cum_prev) div (g - i + 1)"))
    val level = broadcast(ranked.filter(col("cand") < col("n_tokens"))
      .agg(min_by(col("cand"), col("i")).as("water_level")))
    ranked.crossJoin(level)
      .select(col("source"), col("n_tokens"),
        least(col("n_tokens"), coalesce(col("water_level"), col("n_tokens")))
          .as("alloc_tokens"),
        col("water_level"),
        // nullif: a zero-token group nulls out instead of ANSI-throwing
        // (can't happen on the fixture; a user's perGroup frame can) —
        // mirrored in the oracle's // nullif
        expr("""cast(least(n_tokens, coalesce(water_level, n_tokens)) * 1000000
                     div nullif(n_tokens, 0) as double) / 1e6""").as("kept_frac"))
  }

  val tokenBudget = GraftQuery(
    "curation_token_budget",
    (s, dir) => {
      val perSrc = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      waterFillBudget(perSrc).orderBy(col("source"))
    },
    Some("""WITH c AS (SELECT source,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
               FROM documents GROUP BY source),
            s AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS budget,
                         count(*) AS g FROM c),
            r AS (SELECT c.source, c.n_tokens, s.budget, s.g,
                    row_number() OVER (ORDER BY n_tokens, source) AS i,
                    CAST(coalesce(sum(n_tokens) OVER (ORDER BY n_tokens, source
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cum_prev
                  FROM c CROSS JOIN s),
            lv AS (SELECT arg_min((budget - cum_prev) // (g - i + 1), i) AS water_level
                   FROM r WHERE (budget - cum_prev) // (g - i + 1) < n_tokens)
            SELECT r.source, r.n_tokens,
              CAST(least(r.n_tokens, coalesce(lv.water_level, r.n_tokens)) AS BIGINT)
                AS alloc_tokens,
              CAST(lv.water_level AS BIGINT) AS water_level,
              (least(r.n_tokens, coalesce(lv.water_level, r.n_tokens)) * 1000000
                 // nullif(r.n_tokens, 0)) / 1000000.0 AS kept_frac
            FROM r CROSS JOIN lv ORDER BY r.source"""))

  /** K-ANONYMITY AUDIT (privacy side of curation, next to [[piiScrub]]'s
    * redaction): group documents by their quasi-identifier tuple
    * (lang, source) and flag every group smaller than k=3 — records in
    * such groups are re-identifiable by their metadata alone, the check a
    * release review runs before publishing a corpus with attributes
    * attached. One key-partitioned aggregation; the flag is a pure integer
    * comparison. Reported for ALL groups (risky ones flagged) so the
    * audit doubles as the quasi-identifier cardinality profile. */
  val kAnonymity = GraftQuery(
    "curation_k_anonymity",
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("at_risk", col("n_docs") < 3)
        .orderBy(col("lang"), col("source")),
    Some("""SELECT lang, source, count(*) AS n_docs,
              count(*) < 3 AS at_risk
            FROM documents GROUP BY lang, source
            ORDER BY lang, source"""))

  /** TOKENIZE → PACK → SHARD, composed end-to-end: the artifact a
    * pretraining pipeline actually emits. One lazy plan chains
    * `text_bpe_encode` (per-doc token counts under the 10 trained merges,
    * broadcast dictionary applied scan-side), `pipeline_pack_sequences`
    * (greedy-by-position packing into 512-BPE-token training sequences via
    * [[Sampling.prefixSum]], the two-phase partition-parallel running sum),
    * and `mm_shard_manifest` (8 sequences = 4096 tokens per shard). Output
    * is the stage-attrition funnel (the [[endToEnd]] pattern) IN the same
    * schema as the full manifest detail: summary rows for raw ingest and
    * encode (docs with no [a-z]{2,} word drop here — the only attrition
    * edge), then one row per packed sequence and one per shard.
    *
    * 100 TB shape: the corpus streams through once for encoding (dictionary
    * is vocabulary-sized, broadcast); the only corpus-sized shuffle is the
    * single (doc_id, n_tokens) exchange inside prefixSum — text never
    * shuffles; sequence and shard manifests aggregate the already-tiny
    * per-doc placement table. All counts are exact BIGINTs. */
  val tokenizePack = GraftQuery(
    "pipeline_tokenize_pack",
    (s, dir) => {
      val (_, state) = TextAnalysis.bpeTrainState(s, dir)
      val dict = state.select(col("w"), size(col("toks")).as("ntok"))
      val encoded = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(length(col("w")) >= 2)
        .join(broadcast(dict), "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(col("ntok")).cast("long").as("n_bpe_tokens"))
      val placed = Sampling.prefixSum(s, encoded, "doc_id", "n_bpe_tokens", "start_tok")
        .withColumn("seq_id", (col("start_tok") / 512).cast("long"))
        .withColumn("shard_id", (col("seq_id") / 8).cast("long"))
      def stageRow(stage: String, df: org.apache.spark.sql.DataFrame, tok: Column) =
        df.agg(count(lit(1)).cast("long").as("n_docs"),
            coalesce(sum(tok), lit(0L)).cast("long").as("n_tokens"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .select(lit(stage).as("stage"), lit(-1L).as("unit_id"),
            col("n_docs"), col("n_tokens"), col("first_doc"), col("last_doc"))
      // raw = every document (left join keeps token-less docs); its token
      // unit is pre-BPE qualifying words, so encode-stage inflation shows
      val raw = stageRow("0_raw",
        t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"))
          .join(encoded, Seq("doc_id"), "left"), col("n_words"))
      val enc = stageRow("1_encode", encoded, col("n_bpe_tokens"))
      def manifest(stage: String, unit: String) = placed
        .groupBy(col(unit).as("unit_id"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_bpe_tokens")).cast("long").as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .select(lit(stage).as("stage"), col("unit_id"),
          col("n_docs"), col("n_tokens"), col("first_doc"), col("last_doc"))
      raw.unionByName(enc)
        .unionByName(manifest("2_pack", "seq_id"))
        .unionByName(manifest("3_shard", "shard_id"))
        .orderBy(col("stage"), col("unit_id"))
    },
    Some {
      s"""WITH ${TextAnalysis.bpeDictOracleCtes},
          encoded AS MATERIALIZED (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(ntok) AS BIGINT) AS n_tok
            FROM docw JOIN dict USING (w)
            WHERE length(w) >= 2 GROUP BY doc_id),
          placed AS MATERIALIZED (
            SELECT doc_id, n_tok,
              CAST(floor(start_tok / 512) AS BIGINT) AS seq_id,
              CAST(floor(floor(start_tok / 512) / 8) AS BIGINT) AS shard_id
            FROM (SELECT doc_id, n_tok,
                    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                      AS start_tok
                  FROM encoded))
          SELECT stage, unit_id, n_docs, n_tokens, first_doc, last_doc FROM (
            SELECT '0_raw' AS stage, CAST(-1 AS BIGINT) AS unit_id,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(coalesce(sum(e.n_words), 0) AS BIGINT) AS n_tokens,
              min(d.doc_id) AS first_doc, max(d.doc_id) AS last_doc
            FROM documents d LEFT JOIN encoded e ON d.doc_id = e.doc_id
            UNION ALL
            SELECT '1_encode', CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
              CAST(sum(n_tok) AS BIGINT), min(doc_id), max(doc_id)
            FROM encoded
            UNION ALL
            SELECT '2_pack', seq_id, CAST(count(*) AS BIGINT),
              CAST(sum(n_tok) AS BIGINT), min(doc_id), max(doc_id)
            FROM placed GROUP BY seq_id
            UNION ALL
            SELECT '3_shard', shard_id, CAST(count(*) AS BIGINT),
              CAST(sum(n_tok) AS BIGINT), min(doc_id), max(doc_id)
            FROM placed GROUP BY shard_id)
          ORDER BY stage, unit_id"""
    })

  /** QUALITY-GATE ABLATION: per-rule rejection report for the
    * [[qualityFilter]] thresholds — for each rule, how many documents it
    * rejects at all (`n_fail`) and how many it ALONE rejects
    * (`n_fail_only`: fails this rule, passes the other two). This is the
    * report that tells a curation owner which knob actually moves corpus
    * yield before they retune a threshold. One corpus scan computes all
    * three boolean flags; the rest is a single partial-aggregated 1-row
    * rollup unpivoted by `stack` — nothing but nine longs ever leaves the
    * map side. Ratio thresholds reuse [[endToEnd]]'s integer-scaled
    * (floor(x*1e6+0.5)/1e6) comparisons so both engines gate identically. */
  val qualityAblation = GraftQuery(
    "curation_quality_ablation",
    (s, dir) => {
      val stopSet = Stops.map(m => s"'$m'").mkString(", ")
      val flags = t(s, dir, "documents")
        .select(split(col("text"), " ").as("w"))
        .select(
          (!(size(col("w")) >= 10 && size(col("w")) <= 2000)).as("f_len"),
          (expr("floor(cast(size(array_distinct(w)) as double) / size(w) * 1e6 + 0.5) / 1e6") < 0.2)
            .as("f_div"),
          (expr(s"floor(cast(size(filter(w, x -> x IN ($stopSet))) as double) / size(w) * 1e6 + 0.5) / 1e6") < 0.01)
            .as("f_stop"))
      def fails(c: String) = sum(when(col(c), 1L).otherwise(0L))
      def only(c: String, others: Seq[String]) =
        sum(when(others.foldLeft(col(c))((acc, o) => acc && !col(o)), 1L).otherwise(0L))
      flags.agg(
          count(lit(1)).as("n_docs"),
          fails("f_len").as("len_fail"),
          only("f_len", Seq("f_div", "f_stop")).as("len_only"),
          fails("f_div").as("div_fail"),
          only("f_div", Seq("f_len", "f_stop")).as("div_only"),
          fails("f_stop").as("stop_fail"),
          only("f_stop", Seq("f_len", "f_div")).as("stop_only"))
        .selectExpr("""stack(3,
            'length_bounds', n_docs, len_fail, len_only,
            'lexical_diversity', n_docs, div_fail, div_only,
            'stopword_ratio', n_docs, stop_fail, stop_only)
          AS (rule, n_docs, n_fail, n_fail_only)""")
        .orderBy(col("rule"))
    },
    Some(s"""WITH f AS (
              SELECT NOT (len(w) BETWEEN 10 AND 2000) AS f_len,
                floor(CAST(len(list_distinct(w)) AS DOUBLE) / len(w) * 1e6 + 0.5) / 1e6 < 0.2 AS f_div,
                floor(CAST(len(list_filter(w, x -> x IN (${Stops.map(m => s"'$m'").mkString(", ")})))
                  AS DOUBLE) / len(w) * 1e6 + 0.5) / 1e6 < 0.01 AS f_stop
              FROM (SELECT string_split(text, ' ') AS w FROM documents)),
            a AS (SELECT count(*) AS n_docs,
              CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS len_fail,
              CAST(sum(CASE WHEN f_len AND NOT f_div AND NOT f_stop THEN 1 ELSE 0 END) AS BIGINT) AS len_only,
              CAST(sum(CASE WHEN f_div THEN 1 ELSE 0 END) AS BIGINT) AS div_fail,
              CAST(sum(CASE WHEN f_div AND NOT f_len AND NOT f_stop THEN 1 ELSE 0 END) AS BIGINT) AS div_only,
              CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS stop_fail,
              CAST(sum(CASE WHEN f_stop AND NOT f_len AND NOT f_div THEN 1 ELSE 0 END) AS BIGINT) AS stop_only
              FROM f)
            SELECT rule, n_docs, n_fail, n_fail_only FROM (
              SELECT 'length_bounds' AS rule, n_docs, len_fail AS n_fail, len_only AS n_fail_only FROM a
              UNION ALL
              SELECT 'lexical_diversity', n_docs, div_fail, div_only FROM a
              UNION ALL
              SELECT 'stopword_ratio', n_docs, stop_fail, stop_only FROM a)
            ORDER BY rule"""))

  /** DEDUP IMPACT REPORT: how many documents AND tokens exact dedup removes
    * per source — the "what does dedup actually save us" number every
    * corpus review asks for before paying for a near-dup pass. Canonical
    * copy = min doc_id per content digest (the [[endToEnd]] rule); every
    * later copy is a duplicate and its whitespace-token count is the
    * saving. 100 TB shape: only (digest, doc_id, source, n_tok) shuffles —
    * the digest and token count are computed scan-side, text never moves;
    * the verdict is one ranked window over the digest key and the report
    * one keyed aggregation. */
  val dedupImpact = GraftQuery(
    "curation_dedup_impact",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h")).orderBy(col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
          sum(when(col("rn") > 1, col("n_tok")).otherwise(0L)).as("dup_tokens"))
        .orderBy(col("source"))
    },
    Some("""SELECT source, count(*) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
              CAST(sum(CASE WHEN rn > 1 THEN n_tok ELSE 0 END) AS BIGINT) AS dup_tokens
            FROM (SELECT source,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
                  FROM documents)
            GROUP BY source ORDER BY source"""))

  /** CROSS-SOURCE CONTENT OVERLAP MATRIX: for every source pair, how many
    * lead fingerprints (md5 of the first 8 words — the syndicated-content /
    * mirror heuristic; exact-text overlap is near-zero even in duplicated
    * corpora because mirrors mangle whitespace and boilerplate, the lead
    * survives) appear in BOTH sources. The provenance report a corpus
    * licensing review starts from. 100 TB shape: fingerprints are computed
    * scan-side and DISTINCT'd per (fingerprint, source) first, so the
    * self-join matches 16-byte digests only — text never shuffles and the
    * join's per-key fan-out is bounded by the source count, not the corpus. */
  val sourceOverlap = GraftQuery(
    "curation_source_overlap",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(md5(expr("concat_ws(' ', slice(split(text, ' '), 1, 8))")).as("h"),
          col("source"))
        .distinct()
      val a = d.select(col("h"), col("source").as("source_a"))
      val b = d.select(col("h"), col("source").as("source_b"))
      a.join(b, "h")
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some("""WITH d AS (
              SELECT DISTINCT
                md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS h,
                source
              FROM documents)
            SELECT a.source AS source_a, b.source AS source_b,
              count(*) AS n_shared
            FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
            GROUP BY source_a, source_b
            ORDER BY source_a, source_b"""))

  /** SNAPSHOT DRIFT REPORT: per-source added/removed/kept counts between a
    * corpus snapshot and an incoming batch — the release-notes table next
    * to [[Dedup.snapshotMerge]]'s materialization (same %7 snapshot / %3
    * incoming convention, overlap at %21). One full-outer join on the
    * doc key, verdicts map-side, counts per source; only (doc_id, source)
    * pairs move. */
  val snapshotDrift = GraftQuery(
    "curation_snapshot_drift",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val snap = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("source").as("src_old"))
      val inc = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("source").as("src_new"))
      snap.join(inc, Seq("doc_id"), "full_outer")
        .select(coalesce(col("src_new"), col("src_old")).as("source"),
          col("src_old"), col("src_new"))
        .groupBy(col("source"))
        .agg(
          sum(when(col("src_old").isNotNull && col("src_new").isNotNull, 1L)
            .otherwise(0L)).as("n_kept"),
          sum(when(col("src_old").isNull, 1L).otherwise(0L)).as("n_added"),
          sum(when(col("src_new").isNull, 1L).otherwise(0L)).as("n_removed"))
        .orderBy(col("source"))
    },
    Some("""WITH snap AS (SELECT doc_id, source AS src_old FROM documents
                          WHERE doc_id % 7 = 0),
            inc AS (SELECT doc_id, source AS src_new FROM documents
                    WHERE doc_id % 3 = 0)
            SELECT coalesce(src_new, src_old) AS source,
              CAST(sum(CASE WHEN src_old IS NOT NULL AND src_new IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(sum(CASE WHEN src_old IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_added,
              CAST(sum(CASE WHEN src_new IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_removed
            FROM snap FULL OUTER JOIN inc USING (doc_id)
            GROUP BY source ORDER BY source"""))

  /** MIXTURE ENTROPY: one-row Shannon entropy of the source mix plus its
    * evenness against the uniform maximum — the diversity gauge a data-mix
    * owner watches (entropy collapsing = one feed is eating the corpus).
    * Float discipline (the dsir precedent): each source's -p*ln(p) term is
    * ONE division + one ln + one product on both engines, floor-scaled to
    * micros per source BEFORE the 20-row sum, so the total is an exact
    * integer; evenness is a non-negative integer division by the
    * ln(n_sources) micro-scalar. */
  val mixtureEntropy = GraftQuery(
    "curation_mixture_entropy",
    (s, dir) => {
      val counts = t(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
      val tot = broadcast(counts.agg(sum(col("n")).as("tot"),
        count(lit(1)).as("n_sources")))
      counts.crossJoin(tot)
        .select(col("n_sources"),
          expr("""cast(floor(-(cast(n as double) / tot) * ln(cast(n as double) / tot)
                 * 1e6 + 0.5) as bigint)""").as("term_micro"))
        .groupBy(col("n_sources"))
        .agg(sum(col("term_micro")).as("entropy_micro"))
        .select(col("n_sources"), col("entropy_micro"),
          expr("cast(floor(ln(cast(n_sources as double)) * 1e6 + 0.5) as bigint)")
            .as("max_entropy_micro"),
          expr("""cast(entropy_micro * 1000000 div
                 cast(floor(ln(cast(n_sources as double)) * 1e6 + 0.5) as bigint) as bigint)""")
            .as("evenness_micro"))
    },
    Some("""WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
            t AS (SELECT CAST(sum(n) AS BIGINT) AS tot, count(*) AS n_sources FROM counts),
            terms AS (SELECT n_sources,
                CAST(floor(-(CAST(n AS DOUBLE) / tot) * ln(CAST(n AS DOUBLE) / tot)
                  * 1e6 + 0.5) AS BIGINT) AS term_micro
              FROM counts CROSS JOIN t)
            SELECT n_sources,
              CAST(sum(term_micro) AS BIGINT) AS entropy_micro,
              CAST(floor(ln(CAST(n_sources AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
                AS max_entropy_micro,
              CAST(CAST(sum(term_micro) AS BIGINT) * 1000000
                // CAST(floor(ln(CAST(n_sources AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
                AS BIGINT) AS evenness_micro
            FROM terms GROUP BY n_sources"""))

  /** DATASET CARD: the one-row release summary every published training
    * set ships with — corpus size (docs, whitespace tokens, chars),
    * diversity (distinct languages/sources, top language and its micro
    * share), and integrity (exact-duplicate rate in micros, distinct
    * fingerprints) — all from ONE scan. The distinct-fingerprint count is
    * the card's one corpus-keyed shuffle (exact COUNT DISTINCT over md5s,
    * partial-aggregated map-side); at 100 TB the documented knob is
    * approx_count_distinct on that column alone, trading the oracle's
    * exactness for an HLL-sized buffer. The duplicate rate reuses
    * text_fingerprint's canonical md5; every ratio is a non-negative
    * integer div so the card is bit-identical on any engine — a card that
    * drifts between engines is worse than no card. */
  val datasetCard = GraftQuery(
    "pipeline_dataset_card",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        length(col("text")).cast("long").as("chars"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
      val base = d.agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("fp")).as("n_distinct_fp"))
      val topLang = broadcast(
        d.groupBy(col("lang")).agg(count(lit(1)).as("lc"))
          .orderBy(col("lc").desc, col("lang")).limit(1)
          .select(col("lang").as("top_lang"), col("lc")))
      base.crossJoin(topLang)
        .select(col("n_docs"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_chars").cast("long").as("n_chars"),
          col("n_langs"), col("n_sources"), col("top_lang"),
          expr("cast(lc * 1000000 div n_docs as bigint)").as("top_lang_micro"),
          col("n_distinct_fp"),
          expr("cast((n_docs - n_distinct_fp) * 1000000 div n_docs as bigint)")
            .as("dup_rate_micro"))
    },
    Some("""WITH d AS (SELECT doc_id, lang, source,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                CAST(length(text) AS BIGINT) AS chars,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
              FROM documents),
            base AS (SELECT count(*) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS n_tokens,
                CAST(sum(chars) AS BIGINT) AS n_chars,
                count(DISTINCT lang) AS n_langs,
                count(DISTINCT source) AS n_sources,
                count(DISTINCT fp) AS n_distinct_fp
              FROM d),
            top_lang AS (SELECT lang AS top_lang, count(*) AS lc
              FROM d GROUP BY lang ORDER BY lc DESC, lang LIMIT 1)
            SELECT n_docs, n_tokens, n_chars, n_langs, n_sources, top_lang,
              CAST(lc * 1000000 // n_docs AS BIGINT) AS top_lang_micro,
              n_distinct_fp,
              CAST((n_docs - n_distinct_fp) * 1000000 // n_docs AS BIGINT)
                AS dup_rate_micro
            FROM base CROSS JOIN top_lang"""))

  /** PREFERENCE-PAIR MINING (DPO/RLHF data prep, Rafailov et al. 2023's
    * input shape): within each (source, lang) group — the prompt proxy of
    * this corpus — pair the BEST-quality document against the WORST as
    * (chosen, rejected), the contrastive pair a preference-tuning run
    * consumes. Quality is the text_quality composite in exact micros
    * (floored-6dp ttr/stop-ratio, the house float discipline), argmax and
    * argmin are total orders (score, then doc_id — opposite id tie-break
    * directions so a 2-doc all-tied group still yields a distinct pair),
    * and only groups with ≥ 2 documents emit. gap_micro quantifies pair
    * strength — downstream curricula sort by it.
    *
    * 100 TB shape: one corpus scan computes scores map-side; the two
    * argmax windows share one (source, lang)-keyed shuffle; output is
    * groups-sized. */
  val preferencePairs = GraftQuery(
    "pipeline_preference_pairs",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val stopSet = Stops.map(m => s"'$m'").mkString(", ")
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("source"), col("lang"),
          size(col("w")).as("n_tokens"),
          expr("floor(cast(size(array_distinct(w)) as double) / size(w) * 1e6 + 0.5) / 1e6")
            .as("ttr"),
          expr(s"floor(cast(size(filter(w, x -> x IN ($stopSet))) as double) / size(w) * 1e6 + 0.5) / 1e6")
            .as("stop_ratio"))
        .select(col("doc_id"), col("source"), col("lang"),
          expr("""cast(floor(least(n_tokens / 100.0, 1.0) * (1.0 - stop_ratio)
                  * ttr * 1e6 + 0.5) as bigint)""").as("score_micro"))
      val grp = Window.partitionBy(col("source"), col("lang"))
      val wTop = grp.orderBy(col("score_micro").desc, col("doc_id"))
      val wBot = grp.orderBy(col("score_micro"), col("doc_id").desc)
      val ranked = scored
        .withColumn("rt", row_number().over(wTop))
        .withColumn("rb", row_number().over(wBot))
        .withColumn("n", count(lit(1)).over(grp))
        .filter(col("n") >= 2)
      val chosen = ranked.filter(col("rt") === 1)
        .select(col("source"), col("lang"), col("doc_id").as("chosen_id"),
          col("score_micro").as("chosen_micro"))
      val rejected = ranked.filter(col("rb") === 1)
        .select(col("source"), col("lang"), col("doc_id").as("rejected_id"),
          col("score_micro").as("rejected_micro"))
      chosen.join(rejected, Seq("source", "lang"))
        .select(col("source"), col("lang"), col("chosen_id"), col("rejected_id"),
          col("chosen_micro"), col("rejected_micro"),
          (col("chosen_micro") - col("rejected_micro")).as("gap_micro"))
        .orderBy(col("source"), col("lang"))
    },
    Some(s"""WITH scored AS MATERIALIZED (
               SELECT doc_id, source, lang,
                 CAST(floor(least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
                   * (1.0 - floor(CAST(len(list_filter(w, x -> x IN
                       (${Stops.map(m => s"'$m'").mkString(", ")})))
                       AS DOUBLE) / len(w) * 1e6 + 0.5) / 1e6)
                   * (floor(CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
                       * 1e6 + 0.5) / 1e6)
                   * 1e6 + 0.5) AS BIGINT) AS score_micro
               FROM (SELECT doc_id, source, lang, string_split(text, ' ') AS w
                     FROM documents)),
             ranked AS (
               SELECT *,
                 row_number() OVER (PARTITION BY source, lang
                   ORDER BY score_micro DESC, doc_id) AS rt,
                 row_number() OVER (PARTITION BY source, lang
                   ORDER BY score_micro, doc_id DESC) AS rb,
                 count(*) OVER (PARTITION BY source, lang) AS n
               FROM scored)
             SELECT c.source, c.lang, c.doc_id AS chosen_id,
               r.doc_id AS rejected_id,
               c.score_micro AS chosen_micro, r.score_micro AS rejected_micro,
               c.score_micro - r.score_micro AS gap_micro
             FROM (SELECT * FROM ranked WHERE rt = 1 AND n >= 2) c
             JOIN (SELECT * FROM ranked WHERE rb = 1 AND n >= 2) r
               ON r.source = c.source AND r.lang = c.lang
             ORDER BY c.source, c.lang"""))

  val all: Seq[GraftQuery] =
    Seq(repetition, piiScrub, lmBigramScore, qualityFilter, decontaminate,
      mixtureQuota, temperatureSample, profile, endToEnd, dsirWeights,
      tokenBudget, lmBackoffScore, kAnonymity, tokenizePack, qualityAblation,
      dedupImpact, sourceOverlap, snapshotDrift, mixtureEntropy, datasetCard,
      leakNgramSweep, lmKneserNey, dpHistogram, lmTransferMatrix,
      raterAgreement, perplexityYield, qualityTradeoff, preferencePairs)
}
