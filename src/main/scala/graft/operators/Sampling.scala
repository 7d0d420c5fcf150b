package graft.operators

import graft.{GraftQuery, Pin, Tables}
import graft.functions.md5Prefix
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic content-hash sampling — the reproducibility primitive of
  * training-data pipelines. `df.sample()` is seed-and-partitioning dependent
  * (unverifiable across engines and unstable across re-partitions); hashing
  * the content into buckets gives samples and train/val/test splits that are
  * stable under re-runs, re-shards, and engine changes, and assign a doc to
  * the same split no matter which shard carries it. The reference has no
  * sampling surface at all — this is north-star pipeline tooling (SURVEY
  * §7.2-8) built from codegen'd column expressions only.
  *
  * Bucket = first 8 hex chars of md5(text) as an int, mod 100 — cheap,
  * uniform enough for split purposes, and exactly reproducible in any
  * engine with md5. */
object Sampling {
  private def t(s: SparkSession, dir: String, n: String) = Tables.t(s, dir, n)

  // 0..99, deterministic in the document text — shared by the registry's
  // pipeline_hash_sample/split and graft.api.CorpusPipeline
  private[graft] def contentBucket: Column =
    (md5Prefix(col("text"), 8) % 100)

  private def bucket = contentBucket.as("bucket")

  /** Per-document 80/10/10 split label over a (doc_id, text) frame — a pure
    * function of content, so no shard/engine/re-run ever disagrees. Shared
    * by pipeline_hash_split and [[graft.api.CorpusPipeline.splitLabels]]. */
  private[graft] def splitLabelsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), bucket)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))

  /** Per-document shard + deterministic shuffle position over a
    * (doc_id, text-free) frame: shard = content-hash of the id mod
    * `nShards`, pos = rank by a reshuffle hash within the shard. Shared by
    * pipeline_shard_assign and [[graft.api.CorpusPipeline.shardAssign]]. */
  private[graft] def shardAssignOf(ids: DataFrame, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards >= 1, s"shardAssignOf needs nShards >= 1, got $nShards")
    val shard = (md5Prefix(col("doc_id").cast("string"), 8) % nShards).as("shard")
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    ids.select(col("doc_id"), shard,
      md5(concat(lit("shuf:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  private val BucketSql =
    "CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 100"

  /** Stable ~10% sample: every engine, shard, and re-run selects exactly
    * the same documents. */
  val hashSample = GraftQuery(
    "pipeline_hash_sample",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), bucket)
        .filter(col("bucket") < 10)
        .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id, $BucketSql AS bucket
             FROM documents WHERE $BucketSql < 10
             ORDER BY doc_id"""))

  /** Stable 80/10/10 train/val/test split with per-split stats — the split
    * label is a pure function of content, so no shard ever disagrees. */
  val hashSplit = GraftQuery(
    "pipeline_hash_split",
    (s, dir) =>
      splitLabelsOf(t(s, dir, "documents"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("split")),
    Some(s"""SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                         ELSE 'test' END AS split,
               count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc
             FROM (SELECT doc_id, $BucketSql AS b FROM documents)
             GROUP BY split ORDER BY split"""))

  /** TWO-PHASE distributed exclusive prefix sum of `valCol` in `keyCol`
    * order — partition-parallel at corpus scale (a bare `Window.orderBy`
    * would funnel every row through a single task):
    *   1. rows get a RANGE bucket `pid` from the key's value domain (a pure
    *      function of the key — deterministic, no sampling, no
    *      spark_partition_id), and per-bucket totals are aggregated;
    *   2. the P bucket totals (P = shuffle parallelism, NOT data-sized) come
    *      to the driver, an exclusive cumulative base per bucket is computed
    *      and broadcast-joined back;
    *   3. the running sum is a partition-LOCAL window over (pid, key) —
    *      out = bucket base + local prefix.
    * One full-data shuffle of the projected input. Shared by
    * pipeline_pack_sequences and mm_shard_manifest. */
  private[operators] def prefixSum(s: SparkSession, in: DataFrame,
      keyCol: String, valCol: String, outCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = Pin.reuse(in) // value column computed once, not once per phase
    val parallelism = s.sessionState.conf.numShufflePartitions
    val range = df.agg(min(col(keyCol)), max(col(keyCol))).head()
    if (range.isNullAt(0)) // empty input: empty result, right schema
      df.withColumn(outCol, lit(0L))
    else {
      val (lo, hi) = (range.getLong(0), range.getLong(1))
      val width = math.max(1L, (hi - lo) / parallelism + 1)
      val withPid = df.withColumn("pid", ((col(keyCol) - lo) / width).cast("int"))
      val totals = withPid.groupBy(col("pid"))
        .agg(sum(col(valCol)).as("tot"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      var acc = 0L
      val bases = totals.map { case (pid, tot) =>
        val b = (pid, acc); acc += tot; b } // exclusive prefix per bucket
      val baseDf = s.createDataFrame(bases.toSeq).toDF("pid", "base")
      val w = Window.partitionBy(col("pid")).orderBy(col(keyCol))
        .rowsBetween(Window.unboundedPreceding, -1)
      withPid.join(broadcast(baseDf), "pid")
        .withColumn(outCol,
          (col("base") + coalesce(sum(col(valCol)).over(w), lit(0))).cast("long"))
        .drop("pid", "base")
    }
  }

  /** Sequence packing: assign documents to fixed-token-budget training
    * sequences (budget 512 whitespace tokens) by the running token count in
    * deterministic doc_id order — each doc's sequence is decided by its
    * start offset, the standard greedy-by-position packing. The global
    * running count is [[prefixSum]]. */
  /** Greedy-by-position sequence packing of a (doc_id, text) frame into
    * fixed-token-budget training sequences: each doc's sequence is decided
    * by its running-start offset in doc_id order ([[prefixSum]], the
    * two-phase distributed shape). Shared by pipeline_pack_sequences and
    * [[graft.api.CorpusPipeline.packSequences]]. */
  private[graft] def packByBudget(s: SparkSession, docsFrame: DataFrame,
      budget: Int): DataFrame = {
    require(budget >= 1, s"packByBudget needs budget >= 1, got $budget")
    val docs = docsFrame
      .select(col("doc_id").cast("long").as("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"))
    prefixSum(s, docs, "doc_id", "n_tokens", "start_tok")
      .select(col("doc_id"), col("n_tokens"),
        (col("start_tok") / budget).cast("long").as("seq_id"),
        (col("start_tok") % budget).as("seq_offset"))
  }

  val packSequences = GraftQuery(
    "pipeline_pack_sequences",
    (s, dir) => packByBudget(s, t(s, dir, "documents"), 512)
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, n_tokens,
              CAST(floor(start_tok / 512) AS BIGINT) AS seq_id,
              start_tok % 512 AS seq_offset
            FROM (SELECT doc_id, n_tokens,
                    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
                  FROM (SELECT doc_id,
                          CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
                        FROM documents))
            ORDER BY doc_id"""))

  /** ATTENTION-SPAN MANIFEST for packed sequences — the companion
    * [[packSequences]] output every causal-LM trainer actually consumes:
    * one row per (sequence, document SEGMENT), because a document whose
    * tokens straddle a budget boundary occupies a suffix of one sequence
    * and a prefix of the next. The trainer uses exactly these rows to
    * build the block-diagonal attention mask (tokens may not attend
    * across document boundaries within a packed sequence) and the loss
    * mask (is_head = false segments are continuation text whose first
    * token's loss is often dropped).
    *
    * 100 TB shape: the running offset is the shared two-phase
    * [[prefixSum]]; the explode is bounded at ⌈n_tokens/budget⌉ + 1
    * segments per document — output is O(corpus tokens / budget + docs),
    * never quadratic, and everything after the prefix sum is map-side. */
  /** The per-segment span manifest core over a (doc_id, text) frame:
    * [[prefixSum]] running offsets, then one bounded explode into
    * (sequence, segment) rows — a document straddling budget boundaries
    * occupies a suffix of one sequence and a prefix of the next. Output is
    * O(corpus tokens / budget + docs); everything after the prefix sum is
    * map-side. Shared by pipeline_pack_spans and
    * [[graft.api.CorpusPipeline.packSpans]].
    * @return (seq_id, doc_id, seg_start, seg_len, is_head) */
  private[graft] def packSpansOn(s: SparkSession, docsFrame: DataFrame,
      budget: Int): DataFrame = {
    require(budget >= 1, s"packSpansOn needs budget >= 1, got $budget")
    val B = budget.toLong
    val docs = docsFrame
      .select(col("doc_id").cast("long").as("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    prefixSum(s, docs, "doc_id", "n_tokens", "start_tok")
      .withColumn("seq_first", (col("start_tok") / B).cast("long"))
      .withColumn("seq_last",
        ((col("start_tok") + col("n_tokens") - 1L) / B).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        col("seq_first"),
        explode(expr("sequence(seq_first, seq_last)")).as("seq_id"))
      .select(col("seq_id"), col("doc_id"),
        (greatest(col("start_tok"), col("seq_id") * B) - col("seq_id") * B)
          .as("seg_start"),
        (least(col("start_tok") + col("n_tokens"), (col("seq_id") + 1L) * B)
          - greatest(col("start_tok"), col("seq_id") * B)).as("seg_len"),
        (col("seq_id") === col("seq_first")).as("is_head"))
      .orderBy(col("seq_id"), col("seg_start"), col("doc_id"))
  }

  val packSpans = GraftQuery(
    "pipeline_pack_spans",
    (s, dir) => packSpansOn(s, t(s, dir, "documents"), 512),
    Some("""WITH tok AS (
              SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              FROM documents),
            p AS (SELECT doc_id, n,
                CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
              FROM tok),
            x AS (SELECT doc_id, n, st, st // 512 AS sf, (st + n - 1) // 512 AS sl
              FROM p)
            SELECT g.s AS seq_id, doc_id,
              CAST(greatest(st, g.s * 512) - g.s * 512 AS BIGINT) AS seg_start,
              CAST(least(st + n, (g.s + 1) * 512)
                - greatest(st, g.s * 512) AS BIGINT) AS seg_len,
              g.s = sf AS is_head
            FROM x CROSS JOIN LATERAL
              (SELECT unnest(generate_series(sf, sl)) AS s) g
            ORDER BY seq_id, seg_start, doc_id"""))

  /** STRATIFIED deterministic sampling — per-group rates (class rebalancing,
    * domain mixing) with the same content-hash stability as [[hashSample]]:
    * each label keeps a different deterministic fraction ((label % 3 + 1) x
    * 10%), and membership is a pure function of the row key, so every
    * shard/engine/re-run keeps exactly the same rows. Pure scan-side
    * expressions + one tiny groupBy on the label — no corpus shuffle, no
    * seed, no `df.sample` partitioning dependence. */
  val stratifiedSample = GraftQuery(
    "pipeline_stratified_sample",
    (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          (md5Prefix(col("vec_id").cast("string"), 8) % 100).as("bucket"))
        .withColumn("rate_pct", (col("label") % 3 + 1) * 10)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("bucket") < col("rate_pct"), 1).otherwise(0)).as("n_kept"),
          min(when(col("bucket") < col("rate_pct"), col("vec_id"))).as("first_kept"))
        .orderBy(col("label")),
    Some("""SELECT label, count(*) AS n_total,
              CAST(sum(CASE WHEN bucket < rate_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              min(CASE WHEN bucket < rate_pct THEN vec_id END) AS first_kept
            FROM (SELECT vec_id, label,
                    CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
                    (label % 3 + 1) * 10 AS rate_pct
                  FROM embeddings)
            GROUP BY label ORDER BY label"""))

  /** Deterministic GLOBAL SHUFFLE into training shards — the "randomize the
    * corpus, write N files, replay exactly" step before training. Shard is
    * a content hash of the key; within-shard order is an independent hash
    * (decorrelated salt) with a doc_id tie-break, so the permutation is a
    * pure function of the data: every engine, re-run, and re-shard produces
    * byte-identical shard files. 100 TB shape: shard count is chosen
    * proportional to corpus size (one shard ≈ one output file, a few
    * hundred MB), so the per-shard window is task-sized by construction
    * and the plan is one hash shuffle on the shard key — exactly the
    * repartition-and-sort a distributed shard writer performs. */
  val shardAssign = GraftQuery(
    "pipeline_shard_assign",
    (s, dir) => shardAssignOf(t(s, dir, "documents"), 16)
      .orderBy(col("shard"), col("pos")),
    Some("""SELECT doc_id, shard, CAST(row_number() OVER
              (PARTITION BY shard ORDER BY h, doc_id) AS INTEGER) AS pos
            FROM (SELECT doc_id,
                    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS shard,
                    md5('shuf:' || CAST(doc_id AS VARCHAR)) AS h
                  FROM documents)
            ORDER BY shard, pos"""))

  /** Token-budget TRUNCATION (max-sequence-length enforcement): cap every
    * document at 64 whitespace tokens, reporting the kept count, whether it
    * was cut, and a digest of the truncated text (narrow output; the digest
    * pins that the slice itself — not just the lengths — is identical
    * across engines). Pure per-row expressions: runs at scan speed, no
    * shuffle but the presentation sort. */
  val truncate = GraftQuery(
    "pipeline_truncate",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          size(col("w")).as("n_tokens"),
          least(size(col("w")), lit(64)).as("n_kept"),
          (size(col("w")) > 64).as("truncated"),
          md5(array_join(slice(col("w"), 1, 64), " ")).as("digest"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
              CAST(len(w) AS INTEGER) AS n_tokens,
              CAST(least(len(w), 64) AS INTEGER) AS n_kept,
              len(w) > 64 AS truncated,
              md5(array_to_string(list_slice(w, 1, 64), ' ')) AS digest
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            ORDER BY doc_id"""))

  /** Morton (Z-order) interleave of the low `bits` bits of two integral
    * columns — the multi-dimensional clustering key behind z-ordered data
    * layout. Unrolled shift/mask terms, fully codegen'd. */
  def zValue(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _).cast("long")

  /** Z-ordered write: cluster `df` on the interleaved key of two dimensions
    * and lay files out in z-value ranges. Each output partition then covers
    * a tight bounding box in BOTH dimensions, so file-level min/max stats
    * prune scans filtered on either column — the layout optimization a
    * 100 TB corpus needs for multi-dimensional access patterns (a sort on
    * one column leaves the other unclustered). */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String, bits: Int,
      partitions: Int, path: String): Unit =
    df.withColumn("_z", zValue(col(xCol), col(yCol), bits))
      .repartitionByRange(partitions, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)

  /** The z-curve locality profile as an oracled query: bucket lineitem's
    * (partkey, suppkey) plane by the top bits of the interleaved key and
    * report each bucket's bounding box. Tight per-bucket min/max on BOTH
    * dimensions is exactly the property that makes the layout prunable;
    * ZOrderSpec quantifies it against a row-order baseline. */
  val zorderProfile = GraftQuery(
    "pipeline_zorder",
    (s, dir) => {
      val z = t(s, dir, "lineitem")
        .select((col("l_partkey") % 1024).as("x"), (col("l_suppkey") % 1024).as("y"))
        .withColumn("zval", zValue(col("x"), col("y"), 10))
      z.groupBy(shiftright(col("zval"), 12).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy(col("zbucket"))
    },
    Some("""WITH z AS (SELECT CAST(l_partkey % 1024 AS BIGINT) AS x,
                              CAST(l_suppkey % 1024 AS BIGINT) AS y FROM lineitem),
            zz AS (SELECT x, y, CAST(list_sum(list_transform(range(0, 10), i ->
                     ((x // (1::BIGINT << i)) % 2) * (1::BIGINT << (2*i)) +
                     ((y // (1::BIGINT << i)) % 2) * (1::BIGINT << (2*i+1))))
                   AS BIGINT) AS zval FROM z)
            SELECT zval >> 12 AS zbucket, count(*) AS n,
              min(x) AS min_x, max(x) AS max_x,
              min(y) AS min_y, max(y) AS max_y
            FROM zz GROUP BY 1 ORDER BY 1"""))

  /** DETERMINISTIC SOURCE INTERLEAVE: the training-mix ordering step —
    * round-robin the corpus across sources (round 1 takes each source's
    * first doc, round 2 the second, ...; within a round, source name
    * order), with each source's sequence fixed by content hash so every
    * engine/shard/re-run emits the identical schedule. Exhausted sources
    * simply drop out of later rounds.
    *
    * Scale shape — NO global sort and NO single-task window:
    *   1. the per-source ordinal `rn` is the [[packSequences]] two-phase
    *      trick keyed by the md5 prefix (a monotonic hash-range bucket, a
    *      partition-local row_number, plus broadcast exclusive bases from
    *      the tiny (source x bucket) count matrix);
    *   2. the GLOBAL interleave position is then a closed-form, map-side
    *      expression against the per-source totals (a handful of longs,
    *      inlined as literals): pos = sum_s' min(cnt_s', rn-1)  +  |{s' <
    *      s : cnt_s' >= rn}| — rows never shuffle to be numbered. */
  val interleaveSources = GraftQuery(
    "pipeline_interleave_sources",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), md5(col("text")).as("hk"))
        .transform(Pin.reuse) // read by the count matrix and the ranking
      // monotonic hash-range bucket: first md5 byte / 8 -> 32 ordered buckets
      val withPid = docs.withColumn("pid",
        (conv(substring(col("hk"), 1, 2), 16, 10).cast("int") / 8).cast("int"))
      val bases = withPid.groupBy(col("source"), col("pid")).count()
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        .sortBy(x => (x._1, x._2))
      val exclusive = bases.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
        var acc = 0L
        rows.sortBy(_._2).toSeq.map { case (_, pid, n) =>
          val b = (src, pid, acc); acc += n; b }
      }
      val baseDf = s.createDataFrame(exclusive).toDF("source", "pid", "base")
      val wLocal = Window.partitionBy(col("source"), col("pid"))
        .orderBy(col("hk"), col("doc_id"))
      val ranked = withPid.join(broadcast(baseDf), Seq("source", "pid"))
        .withColumn("rn", (col("base") + row_number().over(wLocal)).cast("long"))
      val counts = bases.groupBy(_._1).map { case (src, rs) =>
        src -> rs.map(_._3).sum }.toSeq.sortBy(_._1)
      val pos = counts.map { case (src, cnt) =>
        least(lit(cnt), col("rn") - 1L) +
          when(lit(src) < col("source") && lit(cnt) >= col("rn"), 1L)
            .otherwise(0L)
      }.reduce(_ + _)
      ranked.select(pos.cast("long").as("pos"),
          col("doc_id"), col("source"), col("rn"))
        .orderBy(col("pos"))
    },
    Some("""WITH r AS (SELECT doc_id, source,
                         row_number() OVER (PARTITION BY source
                                            ORDER BY md5(text), doc_id) AS rn
                       FROM documents)
            SELECT CAST(row_number() OVER (ORDER BY rn, source) - 1 AS BIGINT) AS pos,
                   doc_id, source, CAST(rn AS BIGINT) AS rn
            FROM r ORDER BY pos"""))

  /** EXACT-k DETERMINISTIC SAMPLE: the k documents with the smallest
    * content hash — a uniform random sample of exactly k rows that every
    * engine/shard/re-run reproduces bit-identically (where [[hashSample]]
    * keeps a deterministic ~p fraction, this keeps an exact count — the
    * "give me 10k eval docs" ask). Compiles to TakeOrderedAndProject:
    * each map partition keeps its local k, the driver merges P*k candidate
    * rows — no global sort, no second pass, no count-then-filter. */
  val sampleK = GraftQuery(
    "pipeline_sample_k",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("hk"))
        .orderBy(col("hk"), col("doc_id"))
        .limit(100),
    Some("""SELECT doc_id, md5(text) AS hk FROM documents
            ORDER BY hk, doc_id LIMIT 100"""))

  /** PER-EPOCH SHARD SCHEDULE: a deterministic, seed-free shuffle of the
    * shard list for each training epoch — the data-loader reproducibility
    * primitive (every worker, on every rerun, visits shards in the same
    * per-epoch order, and each epoch's order differs). Order = md5 of
    * (epoch, shard): a pure function of the pair, so the schedule needs no
    * stored RNG state and any engine can regenerate it. The shard list is
    * metadata-sized; the ranked window partitions by epoch. */
  val epochSchedule = GraftQuery(
    "pipeline_epoch_schedule",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val shards = t(s, dir, "documents").select(col("source")).distinct()
      val epochs = s.range(0, 4).select(col("id").as("epoch"))
      shards.crossJoin(epochs)
        .withColumn("h", md5(concat_ws(":", col("epoch"), col("source"))))
        .withColumn("position", row_number().over(
          Window.partitionBy(col("epoch")).orderBy(col("h"))))
        .select(col("epoch"), col("position"), col("source"))
        .orderBy(col("epoch"), col("position"))
    },
    Some("""WITH shards AS (SELECT DISTINCT source FROM documents),
            epochs AS (SELECT unnest(generate_series(0, 3)) AS epoch),
            sched AS (
              SELECT epoch, source,
                md5(CAST(epoch AS VARCHAR) || ':' || source) AS h
              FROM shards CROSS JOIN epochs)
            SELECT CAST(epoch AS BIGINT) AS epoch,
              CAST(row_number() OVER (PARTITION BY epoch ORDER BY h) AS INTEGER)
                AS position,
              source
            FROM sched ORDER BY epoch, position"""))

  /** WEIGHTED SAMPLE WITHOUT REPLACEMENT (Efraimidis-Spirtakis A-ES,
    * public method): each document draws a deterministic uniform u from its
    * content hash and ranks by the MONOTONE-EQUIVALENT key ln(u)/w (the
    * published u^(1/w) maximization without pow — one ln, one division, no
    * cross-engine pow drift); the top-k by key ARE a weighted sample
    * without replacement with inclusion tilted by w. Weight here: n_chars
    * (the stand-in for a quality/utility score — "prefer substantial
    * documents"). The seed-free deterministic cousin of the quality-biased
    * sampling every curation pipeline runs: every engine, shard and re-run
    * selects the same set ([[hashSample]]'s discipline, but weighted).
    *
    * Scale shape: scoring is a pure map-side expression; selection is
    * orderBy+limit = TakeOrderedAndProject (local k per partition, no
    * global sort — the [[sampleK]] plan). The key is integer-scaled
    * (floor(x*1e9+0.5)) so ranking compares exact integers with a doc_id
    * tie-break. */
  val weightedSample = GraftQuery(
    "curation_weighted_sample",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          floor(ln((md5Prefix(concat(lit("ws:"), col("text")), 6).cast("double") + 1.0)
            / 16777216.0) / col("n_chars").cast("double") * 1e9 + 0.5).as("k_scaled"))
        .orderBy(col("k_scaled").desc, col("doc_id"))
        .limit(20),
    Some("""SELECT doc_id, n_chars, k_scaled FROM (
              SELECT doc_id, n_chars,
                CAST(floor(
                  ln((CAST(CAST(('0x' || substring(md5('ws:' || text), 1, 6)) AS BIGINT)
                        AS DOUBLE) + 1.0) / 16777216.0)
                  / CAST(n_chars AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS k_scaled
              FROM documents)
            ORDER BY k_scaled DESC, doc_id LIMIT 20"""))

  /** EQUI-WIDTH HISTOGRAM over document length — the distribution panel of
    * the profiling pass ([[graft.operators.Curation.profile]] reports
    * min/max/distinct; this reports the shape between them). Ten integer
    * buckets over [min, max] with width = (max-min) div 10 + 1, so
    * bucketing is pure integer arithmetic: bucket = (n_chars - min) div
    * width, bounds lo/hi closed-form. The min/max pair is a 1-row
    * broadcast scalar; bucketing itself is map-side. */
  val histogram = GraftQuery(
    "pipeline_histogram",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("n_chars"))
      val bounds = broadcast(docs.agg(
        min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx")))
      docs.crossJoin(bounds)
        .withColumn("width", expr("(mx - mn) div 10 + 1"))
        .withColumn("bucket", expr("cast((n_chars - mn) div width as int)"))
        .groupBy(col("bucket"), col("mn"), col("width"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("bucket"),
          expr("mn + bucket * width").as("lo"),
          expr("mn + (bucket + 1) * width - 1").as("hi"),
          col("n_docs"))
        .orderBy(col("bucket"))
    },
    Some("""WITH b AS (SELECT CAST(min(n_chars) AS BIGINT) AS mn,
                   CAST(max(n_chars) AS BIGINT) AS mx FROM documents),
            w AS (SELECT mn, (mx - mn) // 10 + 1 AS width FROM b),
            d AS (SELECT CAST((n_chars - w.mn) // w.width AS INTEGER) AS bucket,
                    w.mn, w.width
                  FROM documents CROSS JOIN w)
            SELECT bucket, CAST(mn + bucket * width AS BIGINT) AS lo,
              CAST(mn + (bucket + 1) * width - 1 AS BIGINT) AS hi,
              count(*) AS n_docs
            FROM d GROUP BY bucket, mn, width ORDER BY bucket"""))

  /** CURRICULUM PHASE ASSIGNMENT: order the corpus by a deterministic
    * difficulty score (mean word length in micro-units — pure integer
    * arithmetic, so every engine ranks identically) and cut the GLOBAL rank
    * into 4 curriculum phases (easy->hard quartiles), the schedule a
    * curriculum-learning trainer consumes.
    *
    * The 100 TB point is the global rank itself: `row_number() OVER (ORDER
    * BY score)` funnels the corpus through one task, so the rank is the
    * shared two-phase [[prefixSum]] over the (score, doc_id) order PACKED
    * INTO ONE LONG (score_micro * 2^40 + doc_id; score < 2^23 by
    * construction, ids < 2^40 — corpus invariants) counting 1 per row:
    * range-bucketed local windows plus P broadcast bucket bases, one
    * corpus shuffle of two longs. Phase = rank*4 div n — both operands
    * non-negative, so Spark's truncating div and DuckDB's floor `//`
    * agree. */
  val curriculum = GraftQuery(
    "pipeline_curriculum",
    (s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          expr("aggregate(w, 0L, (acc, x) -> acc + length(x))").as("chars"),
          size(col("w")).cast("long").as("n_words"))
        .select(col("doc_id"),
          expr("chars * 1000000 div n_words").as("score_micro"))
        // the invariant is ENFORCED, not assumed: a doc whose mean word
        // length reaches 8.39 chars (score_micro >= 2^23) or an id >= 2^40
        // would silently overflow the pack and diverge the rank order —
        // raise_error instead (codegen'd branch, no measurable scan cost)
        .withColumn("pack",
          when(col("score_micro") >= lit(1L << 23) || col("doc_id") >= lit(1L << 40),
            expr("raise_error('pipeline_curriculum: pack overflow — " +
              "score_micro >= 2^23 or doc_id >= 2^40')").cast("long"))
            .otherwise(col("score_micro") * lit(1099511627776L) + col("doc_id")))
        .withColumn("one", lit(1L))
      val n = broadcast(scored.agg(count(lit(1)).as("n")))
      prefixSum(s, scored, "pack", "one", "rank")
        .crossJoin(n)
        .select(col("doc_id"), col("score_micro"), col("rank"),
          expr("rank * 4 div n").as("phase"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH scored AS (
              SELECT doc_id,
                CAST(list_sum(list_transform(string_split(text, ' '),
                       x -> length(x))) AS BIGINT) * 1000000
                  // CAST(len(string_split(text, ' ')) AS BIGINT) AS score_micro
              FROM documents),
            r AS (SELECT doc_id, score_micro,
                    CAST(row_number() OVER (ORDER BY score_micro, doc_id) - 1
                      AS BIGINT) AS rank,
                    CAST(count(*) OVER () AS BIGINT) AS n
                  FROM scored)
            SELECT doc_id, score_micro, rank,
              CAST(rank * 4 // n AS BIGINT) AS phase
            FROM r ORDER BY doc_id"""))

  /** LENGTH-BUCKETED DYNAMIC BATCHING: group documents of similar length
    * into fixed-size batches (32 docs) and account the padding waste each
    * batch pays (docs pad to the batch max) — the plan a dynamic-batching
    * data loader executes, and the report that justifies it (vs one global
    * batch shape). Buckets are 64-token-wide bands capped at 15; within a
    * bucket, batch membership follows the deterministic (bucket, doc_id)
    * order.
    *
    * Scale shape: the within-bucket ordinal is NOT a per-bucket window (a
    * popular bucket would funnel through one task) — it is the global
    * two-phase [[prefixSum]] over (bucket, doc_id) packed into one long,
    * minus per-bucket base offsets (≤16 rows, broadcast). One corpus
    * shuffle of two longs; the batch manifest aggregates the placement
    * table. Waste = n_docs*max_tok - sum_tok, all exact BIGINTs. */
  val lengthBucketPack = GraftQuery(
    "pipeline_length_bucket_pack",
    (s, dir) => {
      val sized = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("bucket", least(expr("n_tok div 64"), lit(15L)))
        .withColumn("pack", col("bucket") * lit(1099511627776L) + col("doc_id"))
        .withColumn("one", lit(1L))
      val bases = broadcast(sized.groupBy(col("bucket"))
        .agg(count(lit(1)).as("bucket_n"))
        .select(col("bucket").as("b2"), col("bucket_n")))
      // global ordinal in (bucket, doc_id) order; subtracting the bucket
      // base (exclusive prefix over the ≤16 bucket counts) gives the
      // within-bucket ordinal without any bucket-wide window
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("b2"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val based = bases.withColumn("base",
        coalesce(sum(col("bucket_n")).over(w), lit(0L)))
        .select(col("b2"), col("base"))
      prefixSum(s, sized, "pack", "one", "g_ord")
        .join(broadcast(based), col("bucket") === col("b2"))
        .withColumn("batch_id", expr("(g_ord - base) div 32"))
        .groupBy(col("bucket"), col("batch_id"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("n_tok")).as("max_tok"),
          sum(col("n_tok")).as("sum_tok"))
        .withColumn("pad_waste", col("n_docs") * col("max_tok") - col("sum_tok"))
        .orderBy(col("bucket"), col("batch_id"))
    },
    Some("""WITH sized AS (
              SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                least(CAST(len(string_split(text, ' ')) AS BIGINT) // 64, 15)
                  AS bucket
              FROM documents),
            placed AS (
              SELECT bucket, n_tok,
                (row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1)
                  // 32 AS batch_id
              FROM sized)
            SELECT bucket, CAST(batch_id AS BIGINT) AS batch_id,
              count(*) AS n_docs,
              CAST(max(n_tok) AS BIGINT) AS max_tok,
              CAST(sum(n_tok) AS BIGINT) AS sum_tok,
              CAST(count(*) * max(n_tok) - CAST(sum(n_tok) AS BIGINT) AS BIGINT)
                AS pad_waste
            FROM placed GROUP BY bucket, batch_id
            ORDER BY bucket, batch_id"""))

  /** CORPUS PARITY CERTIFICATE: a one-row order-independent checksum of
    * (doc_id, content) — the receipt two pipelines (or two engines, or the
    * same pipeline re-run after a migration) compare to prove they hold the
    * SAME corpus without moving it. XOR of per-row 48-bit md5-derived
    * fingerprints: commutative (no ordering requirement — any partitioning
    * and any merge order gives the same value, unlike a sum it can never
    * overflow at any corpus size) and sensitive to any single-row change.
    * This is the engine's own cross-engine oracle discipline productized.
    * Pure scan-side hashing + one 3-long partial-agg — no shuffle of data. */
  val checksum = GraftQuery(
    "pipeline_checksum",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5Prefix(concat(col("doc_id").cast("string"), lit(":"), col("text")), 12).as("rh"))
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(rh)").as("content_xor"),
          expr("bit_xor(doc_id)").as("id_xor")),
    Some("""SELECT count(*) AS n_docs,
              bit_xor(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 12))
                AS BIGINT)) AS content_xor,
              bit_xor(doc_id) AS id_xor
            FROM documents"""))

  /** PER-SHARD PARITY MANIFEST: [[checksum]]'s order-independent XOR
    * fingerprint computed per [[shardAssign]] shard — when the corpus-level
    * certificate diverges, this is the manifest that says WHICH shard to
    * re-transfer instead of re-shipping 100 TB. Same scan-side hashing;
    * one 16-group partial-agg'd shuffle of three longs per shard. */
  val shardChecksum = GraftQuery(
    "pipeline_shard_checksum",
    (s, dir) =>
      t(s, dir, "documents")
        .select(
          (md5Prefix(col("doc_id").cast("string"), 8) % 16).as("shard"),
          col("doc_id"),
          md5Prefix(concat(col("doc_id").cast("string"), lit(":"), col("text")), 12).as("rh"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(rh)").as("content_xor"),
          expr("bit_xor(doc_id)").as("id_xor"))
        .orderBy(col("shard")),
    Some("""SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16
                AS shard,
              count(*) AS n_docs,
              bit_xor(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 12))
                AS BIGINT)) AS content_xor,
              bit_xor(doc_id) AS id_xor
            FROM documents GROUP BY shard ORDER BY shard"""))

  /** SFT LOSS-MASK ACCOUNTING: per source, how many tokens the trainer
    * would MASK (prompt) vs LEARN FROM (completion) under the fixed-window
    * instruction-tuning convention "prompt = the first 16 whitespace
    * tokens, loss on the rest" — the table that explains why an SFT epoch
    * sees far fewer learnable tokens than the corpus size suggests (this
    * synthetic corpus has no sentence punctuation, so the window
    * convention is the deterministic boundary; completion = total − prompt
    * by construction, short docs are all prompt). The learnable fraction
    * is a non-negative integer div to micros. Pure scan-side expressions +
    * one source-keyed shuffle of three longs. */
  val lossMask = GraftQuery(
    "pipeline_loss_mask",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("tt"),
          least(size(split(col("text"), " ")).cast("long"), lit(16L)).as("pt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("pt")).as("prompt_tokens"),
          sum(col("tt") - col("pt")).as("completion_tokens"),
          expr("cast(sum(tt - pt) * 1000000 div sum(tt) as bigint)")
            .as("learnable_micro"))
        .orderBy(col("source")),
    Some("""SELECT source, count(*) AS n_docs,
              CAST(sum(pt) AS BIGINT) AS prompt_tokens,
              CAST(sum(tt - pt) AS BIGINT) AS completion_tokens,
              CAST(CAST(sum(tt - pt) AS BIGINT) * 1000000
                // CAST(sum(tt) AS BIGINT) AS BIGINT) AS learnable_micro
            FROM (SELECT source,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS tt,
                    least(CAST(len(string_split(text, ' ')) AS BIGINT), 16) AS pt
                  FROM documents)
            GROUP BY source ORDER BY source"""))

  /** PADDING-WASTE TUNING TABLE: for each candidate bucket width
    * W ∈ {32, 64, 128, 256}, the tokens a length-bucketed batcher
    * (pipeline_length_bucket_pack's geometry: every doc pads up to the
    * next multiple of W) would burn as padding — the table that picks W
    * by measuring the real length distribution instead of folklore.
    * Narrow buckets waste little padding but fragment batches; wide ones
    * batch well but pad short docs to death; the knee is corpus-specific,
    * which is why this is a QUERY. One corpus scan explodes 4 width rows
    * per doc (map-side), then a 4-row aggregation: ceil-to-W is integer
    * arithmetic — (n + W − 1) div W · W — and the waste share is one
    * non-negative integer micro-div. Completes the tuning-table family
    * (dedup banding, LSH thresholds, decontam n, IVF probes, pack
    * widths). */
  val padWasteSweep = GraftQuery(
    "pipeline_pad_waste_sweep",
    (s, dir) =>
      t(s, dir, "documents")
        .select(size(split(col("text"), " ")).cast("long").as("n"))
        .select(col("n"), explode(expr("array(32L, 64L, 128L, 256L)")).as("w"))
        .select(col("w"), col("n"),
          expr("(n + w - 1) div w * w").as("padded"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("total_tokens"),
          sum(expr("padded - n")).as("pad_tokens"),
          sum(col("padded")).as("padded_tokens"))
        .withColumn("waste_micro",
          expr("pad_tokens * 1000000 div padded_tokens"))
        .orderBy(col("w")),
    Some("""WITH d AS (
              SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              FROM documents),
            e AS (
              SELECT n, unnest([CAST(32 AS BIGINT), 64, 128, 256]) AS w FROM d),
            p AS (
              SELECT w, n, (n + w - 1) // w * w AS padded FROM e)
            SELECT w, count(*) AS n_docs,
              CAST(sum(n) AS BIGINT) AS total_tokens,
              CAST(sum(padded - n) AS BIGINT) AS pad_tokens,
              CAST(sum(padded) AS BIGINT) AS padded_tokens,
              CAST(CAST(sum(padded - n) AS BIGINT) * 1000000
                // CAST(sum(padded) AS BIGINT) AS BIGINT) AS waste_micro
            FROM p GROUP BY w ORDER BY w"""))

  /** PACKED-SEQUENCE ATTENTION-MASK ACCOUNTING: when [[packSequences]]
    * packs several documents into one training sequence, attention must be
    * BLOCK-DIAGONAL (each token attends only within its own document) or
    * the model trains on cross-document noise — and the mask is also a
    * FLOPs saving, since masked pairs are never computed. Per packed
    * sequence: documents packed, tokens, full-causal pair count
    * T·(T−1)/2, block-diagonal pair count Σ lᵢ·(lᵢ−1)/2, and the saved
    * share — the table that quantifies both the correctness requirement
    * and the speedup (the reason sequence packing ships with a mask,
    * Krell et al. 2021, "Efficient Sequence Packing"). Pure integer
    * arithmetic over [[prefixSum]]'s assignment; sequence-count-sized
    * output, one nullif-guarded micro-div per row. */
  val packAttentionMask = GraftQuery(
    "pipeline_pack_attention_mask",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      prefixSum(s, docs, "doc_id", "n_tokens", "start_tok")
        .select((col("start_tok") / 512).cast("long").as("seq_id"), col("n_tokens"))
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(expr("n_tokens * (n_tokens - 1) div 2")).as("pairs_masked"))
        .withColumn("pairs_full", expr("n_tokens * (n_tokens - 1) div 2"))
        .select(col("seq_id"), col("n_docs"), col("n_tokens"),
          col("pairs_full"), col("pairs_masked"),
          expr("(pairs_full - pairs_masked) * 1000000 div nullif(pairs_full, 0)")
            .as("saved_micro"))
        .orderBy(col("seq_id"))
    },
    Some("""WITH d AS (
              SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents),
            p AS (
              SELECT n_tokens,
                CAST(floor(CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                  / 512) AS BIGINT) AS seq_id
              FROM d),
            g AS (
              SELECT seq_id, count(*) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                CAST(sum(n_tokens * (n_tokens - 1) // 2) AS BIGINT) AS pairs_masked
              FROM p GROUP BY seq_id)
            SELECT seq_id, n_docs, n_tokens,
              n_tokens * (n_tokens - 1) // 2 AS pairs_full,
              pairs_masked,
              (n_tokens * (n_tokens - 1) // 2 - pairs_masked) * 1000000
                // nullif(n_tokens * (n_tokens - 1) // 2, 0) AS saved_micro
            FROM g ORDER BY seq_id"""))

  val all: Seq[GraftQuery] = Seq(hashSample, hashSplit, packSequences,
    stratifiedSample, shardAssign, truncate, zorderProfile, interleaveSources,
    sampleK, epochSchedule, weightedSample, histogram, curriculum,
    lengthBucketPack, checksum, shardChecksum, lossMask, padWasteSweep,
    packAttentionMask, packSpans)
}
