package graft.operators

import graft.{GraftQuery, Pin, Tables}
import graft.functions.md5Prefix
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Typed decode output of [[Multimodal.decodeFeatures]]. Top-level (not
  * nested/private) so the ExpressionEncoder's generated code can resolve the
  * accessors — a nested private case class forces a silent fallback to the
  * interpreted encoder (Janino can't reference the hidden class). */
final case class MediaMeta(doc_id: Long, width: Int, height: Int,
    channels: Int, n_frames: Int, mean_byte: Double)

/** Multimodal-column plumbing: media as opaque `binary` columns + typed
  * metadata, with decode/feature-extraction done per-partition (SURVEY
  * §7.2-8). The decode itself is STUBBED (no image/audio libs in this
  * container) with a deterministic fake; everything Spark-side — schema,
  * binary handling, partition-parallel batch shape — is real.
  *
  * Scale notes: binary payloads stay columnar in parquet; metadata extraction
  * is pure column expressions; the decode path is `mapPartitions` so a real
  * decoder amortizes model/codec init once per partition (the same batch
  * shape Python pipelines get from mapInPandas).
  */
object Multimodal {
  private def t(s: SparkSession, dir: String, n: String) = Tables.t(s, dir, n)

  /** Binary metadata extraction — byte length, digest, base64 magic prefix —
    * all codegen'd column expressions over a `binary` column. */
  val meta = GraftQuery(
    "mm_binary_meta",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
        .select(
          col("doc_id"),
          octet_length(col("blob")).as("n_bytes"),
          md5(col("blob")).as("digest"),
          base64(expr("substring(blob, 1, 8)")).as("magic_b64"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
              CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
              md5(text) AS digest,
              to_base64(unhex(substring(hex(encode(text)), 1, 16))) AS magic_b64
            FROM documents ORDER BY doc_id"""))

  /** Partition-parallel "decode": the per-partition loop is the real batch
    * shape a codec needs; the pixel decode itself is a STUB — a
    * deterministic fake deriving dimensions from the payload bytes.
    * Replace `fakeDecode` with an actual codec call in production. */
  val decodeFeatures = GraftQuery(
    "mm_decode_features",
    (s, dir) => {
      import s.implicits._
      val bin = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
        .as[(Long, Array[Byte])]
      // STUB: stands in for e.g. JPEG decode; deterministic in the bytes.
      def fakeDecode(id: Long, bytes: Array[Byte]): MediaMeta = {
        val sum = bytes.foldLeft(0L)((a, b) => a + (b & 0xff))
        MediaMeta(id,
          width = 64 + (bytes.length % 193),
          height = 64 + ((sum % 151).toInt),
          channels = 3,
          n_frames = 1 + (bytes.length % 7),
          mean_byte = math.round(sum.toDouble / bytes.length * 1e4) / 1e4)
      }
      bin.mapPartitions { it =>
        // real codecs would init once here, then stream the partition
        it.map { case (id, bytes) => fakeDecode(id, bytes) }
      }.toDF().orderBy(col("doc_id"))
    },
    // The fake decode is a pure function of the payload bytes, so it IS
    // DuckDB-expressible: byte sum recovered from the hex dump (nibble
    // value x 16 for high nibbles), robust to non-ASCII payloads. Spark's
    // math.round and DuckDB's round() both round half up for positives, so
    // mean_byte agrees bit-for-bit at .5 boundaries.
    Some("""WITH b AS (
              SELECT doc_id, octet_length(encode(text)) AS blen,
                     hex(encode(text)) AS hx FROM documents
            ), s AS (
              SELECT doc_id, blen,
                list_sum(list_transform(string_split(hx, ''),
                  (c, i) -> (strpos('0123456789ABCDEF', c) - 1)
                            * (CASE WHEN i % 2 = 1 THEN 16 ELSE 1 END))) AS bsum
              FROM b
            )
            SELECT doc_id,
              CAST(64 + blen % 193 AS INTEGER) AS width,
              -- empty payload: Spark's fold gives sum=0 (and NaN mean rounds
              -- to 0), while string_split('','') here yields [''] with a
              -- spurious -16 — guard both so the engines agree on blen=0
              CAST(64 + (CASE WHEN blen = 0 THEN 0 ELSE bsum END) % 151 AS INTEGER) AS height,
              CAST(3 AS INTEGER) AS channels,
              CAST(1 + blen % 7 AS INTEGER) AS n_frames,
              CASE WHEN blen = 0 THEN 0.0
                   ELSE round(bsum / blen * 1e4) / 1e4 END AS mean_byte
            FROM s ORDER BY doc_id"""))

  /** Frame sampling plumbing for video-like payloads: derive a frame count
    * from the container metadata (here: a deterministic function of payload
    * size, standing in for the codec's header parse) and select every 4th
    * frame index — the uniform-stride sampling a training pipeline feeds to
    * a vision encoder. The index arithmetic is the real, scale-tested part;
    * the decode behind each index stays stubbed (see decodeFeatures). */
  val frameSample = GraftQuery(
    "mm_frame_sample",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
        .select(col("doc_id"),
          (octet_length(col("blob")) % 240 + 16).as("n_frames"))
        .select(col("doc_id"), col("n_frames"),
          expr("sequence(0, n_frames - 1, 4)").as("idx"))
        .select(col("doc_id"), col("n_frames"),
          size(col("idx")).as("n_sampled"),
          array_join(col("idx"), ",").as("sampled_csv"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, n_frames,
              CAST(len(idx) AS INTEGER) AS n_sampled,
              array_to_string(idx, ',') AS sampled_csv
            FROM (SELECT doc_id, n_frames,
                    generate_series(0, n_frames - 1, 4) AS idx
                  FROM (SELECT doc_id,
                          CAST(octet_length(encode(text)) % 240 + 16 AS INTEGER) AS n_frames
                        FROM documents))
            ORDER BY doc_id"""))

  /** Resize planning: given container dimensions (derived deterministically
    * from payload size, standing in for the header parse), compute the
    * fit-within-224x224 aspect-preserving target — the geometry a vision
    * preprocessor applies per image. Scale-down only (scale capped at 1).
    * The pixel resample itself stays stubbed; the dimension arithmetic is
    * the contract a real resizer plugs into. */
  val resizePlan = GraftQuery(
    "mm_resize_plan",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), octet_length(encode(col("text"), "UTF-8")).as("n"))
        .select(col("doc_id"),
          (col("n") % 193 + 64).as("w"),
          (col("n") % 151 + 64).as("h"))
        .withColumn("scale", least(lit(224.0) / col("w"), lit(224.0) / col("h"), lit(1.0)))
        .select(col("doc_id"), col("w"), col("h"),
          floor(col("w") * col("scale")).cast("int").as("out_w"),
          floor(col("h") * col("scale")).cast("int").as("out_h"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, w, h,
              CAST(floor(w * scale) AS INTEGER) AS out_w,
              CAST(floor(h * scale) AS INTEGER) AS out_h
            FROM (SELECT doc_id, w, h,
                    least(CAST(224.0 AS DOUBLE) / w, CAST(224.0 AS DOUBLE) / h,
                          CAST(1.0 AS DOUBLE)) AS scale
                  FROM (SELECT doc_id,
                          CAST(octet_length(encode(text)) % 193 + 64 AS INTEGER) AS w,
                          CAST(octet_length(encode(text)) % 151 + 64 AS INTEGER) AS h
                        FROM documents))
            ORDER BY doc_id"""))

  /** CLIP-style TRAINING-PAIR CONSTRUCTION: join each caption (documents)
    * to its media embedding (embeddings, the image-tower output a real
    * pipeline precomputes) and assign contrastive batches by content hash —
    * deterministic across engines/shards/re-runs, balanced in expectation,
    * and batch membership never depends on row order. One equi-join on the
    * shared id (co-partitioned; embeddings never broadcast at corpus
    * scale), everything else scan-side expressions. */
  val captionPairs = GraftQuery(
    "mm_caption_pairs",
    (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
        .join(t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding")),
          col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"),
          (md5Prefix(col("text"), 8) % 16).as("batch_id"),
          size(split(col("text"), " ")).as("caption_tokens"),
          round(sqrt(expr("graft_l2sq(embedding, array_repeat(cast(0.0 as float), 64), 0, 64)")), 4)
            .as("emb_norm"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang,
              CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 16 AS batch_id,
              CAST(len(string_split(text, ' ')) AS INTEGER) AS caption_tokens,
              round(sqrt(list_sum(list_transform(generate_series(1, 64),
                i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 4)
                AS emb_norm
            FROM documents JOIN embeddings ON doc_id = vec_id
            ORDER BY doc_id"""))

  /** SHOT-BOUNDARY DETECTION (scene cuts) for video-like payloads: a cut
    * falls where consecutive frames' features jump by more than a
    * threshold, and scenes are the runs between cuts — the segmentation a
    * video training pipeline does before sampling frames per SCENE instead
    * of per fixed stride ([[frameSample]]'s grid oversamples static shots
    * and misses short ones). The per-frame feature is the decode STUB
    * (deterministic 8-bit pseudo-luma from a keyed hash, standing in for
    * the codec's mean-luminance); the segmentation arithmetic is the real,
    * scale-tested part. The cut predicate is STATELESS: the previous
    * frame's feature is re-derived by hashing i−1 rather than carried by a
    * lag() window, so cut detection is pure scan-side per-row work — the
    * only window is the per-video prefix count that numbers the scenes
    * (video-partitioned, bounded by frame count). */
  /** The scene-numbering + collapse half of shot-boundary segmentation
    * over a (video_id, frame_idx, cut) frame — the prefix count of cut
    * flags numbers the scenes, frames collapse to (scene, start, length)
    * rows. The CUT PREDICATE stays with the caller: the registry derives
    * it scan-side from re-hashable stub features (no lag carry), the
    * facade from user-supplied features via a lag window. Shared by
    * mm_scene_cuts and [[graft.api.MultimodalPlanner.sceneCuts]].
    * @return (video_id, scene, start_frame, scene_len) */
  private[graft] def scenesFromCuts(frames: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("video_id")).orderBy(col("frame_idx"))
    frames.withColumn("scene", sum(col("cut")).over(w))
      .groupBy(col("video_id"), col("scene"))
      .agg(min(col("frame_idx")).as("start_frame"),
        count(lit(1)).as("scene_len"))
  }

  val sceneCuts = GraftQuery(
    "mm_scene_cuts",
    (s, dir) => {
      def luma(ix: org.apache.spark.sql.Column) =
        md5Prefix(concat(lit("luma:"), col("doc_id").cast("string"), lit(":"), ix.cast("string")), 4) % 256
      val cuts = t(s, dir, "documents")
        .select(col("doc_id"),
          (octet_length(encode(col("text"), "UTF-8")) % 240 + 16).as("n_frames"))
        .select(col("doc_id"),
          explode(expr("sequence(0, n_frames - 1)")).as("i"))
        .withColumn("cut",
          when(col("i") > 0 &&
            abs(luma(col("i")) - luma(col("i") - 1)) > 160, 1).otherwise(0))
        .select(col("doc_id").as("video_id"), col("i").as("frame_idx"),
          col("cut"))
      scenesFromCuts(cuts)
        .select(col("video_id").as("doc_id"), col("scene"),
          col("start_frame"), col("scene_len"))
        .orderBy(col("doc_id"), col("scene"))
    },
    Some("""WITH f AS (
              SELECT doc_id, unnest(generate_series(0, n_frames - 1)) AS i
              FROM (SELECT doc_id,
                      CAST(octet_length(encode(text)) % 240 + 16 AS INTEGER) AS n_frames
                    FROM documents)),
            feat AS (
              SELECT doc_id, i,
                CASE WHEN i > 0 AND abs(
                    CAST(('0x' || substring(md5('luma:' || CAST(doc_id AS VARCHAR)
                      || ':' || CAST(i AS VARCHAR)), 1, 4)) AS BIGINT) % 256
                  - CAST(('0x' || substring(md5('luma:' || CAST(doc_id AS VARCHAR)
                      || ':' || CAST(i - 1 AS VARCHAR)), 1, 4)) AS BIGINT) % 256) > 160
                THEN 1 ELSE 0 END AS cut
              FROM f),
            sc AS (
              SELECT doc_id, i,
                CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS scene
              FROM feat)
            SELECT doc_id, scene, CAST(min(i) AS INTEGER) AS start_frame,
              count(*) AS scene_len
            FROM sc GROUP BY doc_id, scene ORDER BY doc_id, scene"""))

  /** AUDIO WINDOWING plan: treat the payload as 16-bit mono PCM and cut it
    * into fixed windows with 50% overlap — the standard ASR/audio-model
    * featurization grid (window 64 samples, hop 32, scaled to the toy
    * payloads; a real 16 kHz corpus uses 16000/8000 with identical
    * arithmetic). Emits per-window byte (offset, length); the per-row
    * `sequence` explode keeps it scan-side (no shuffle until the output
    * sort). Short payloads (< one window) produce a single truncated
    * window, so no row is ever silently dropped. */
  /** The windowing plan over a (doc_id, n_bytes) size frame at the given
    * sample grid. Shared by mm_audio_windows and
    * [[graft.api.MultimodalPlanner.audioWindows]]. */
  private[graft] def audioWindowsOf(sized: DataFrame,
      windowSamples: Int, hopSamples: Int, bytesPerSample: Int): DataFrame = {
    require(windowSamples >= 1 && hopSamples >= 1 && bytesPerSample >= 1,
      s"audioWindowsOf needs positive window/hop/bytesPerSample, got " +
        s"$windowSamples/$hopSamples/$bytesPerSample")
    val wB = windowSamples.toLong * bytesPerSample
    val hB = hopSamples.toLong * bytesPerSample
    sized
      .select(col("doc_id"), col("n_bytes"),
        (col("n_bytes") / bytesPerSample).cast("int").as("n_samples"))
      .select(col("doc_id"), col("n_bytes"),
        greatest(lit(1),
          (floor((col("n_samples") - windowSamples) / hopSamples.toDouble) + 1)
            .cast("int"))
          .as("n_windows"))
      .select(col("doc_id"), col("n_bytes"), col("n_windows"),
        posexplode(expr("sequence(0, n_windows - 1)")).as(Seq("win", "wi")))
      .select(col("doc_id"), col("win"),
        (col("wi") * hB).as("byte_off"),
        least(lit(wB), col("n_bytes") - col("wi") * hB).as("byte_len"))
  }

  val audioWindows = GraftQuery(
    "mm_audio_windows",
    (s, dir) =>
      audioWindowsOf(
        t(s, dir, "documents")
          .select(col("doc_id"),
            octet_length(encode(col("text"), "UTF-8")).as("n_bytes")),
        windowSamples = 64, hopSamples = 32, bytesPerSample = 2)
        .orderBy(col("doc_id"), col("win")),
    Some("""SELECT doc_id, CAST(g.wi AS INTEGER) AS win,
              CAST(g.wi * 64 AS BIGINT) AS byte_off,
              CAST(least(128, n_bytes - g.wi * 64) AS BIGINT) AS byte_len
            FROM (SELECT doc_id, n_bytes,
                    greatest(1, CAST(floor((n_samples - 64) / 32.0) AS INTEGER) + 1)
                      AS n_windows
                  FROM (SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                          CAST(floor(octet_length(encode(text)) / 2) AS INTEGER) AS n_samples
                        FROM documents))
            CROSS JOIN LATERAL
              (SELECT unnest(generate_series(0, n_windows - 1)) AS wi) g
            ORDER BY doc_id, win"""))

  /** WEBDATASET-STYLE SHARD LAYOUT: split the byte stream of concatenated
    * samples into fixed-budget shards (budget 4096 payload bytes) and emit
    * the per-shard MANIFEST (sample count, bytes, doc range) a tar-shard
    * writer needs. A sample's shard is decided by its START offset in the
    * virtual concatenated stream — the deterministic, closed-form variant
    * of greedy packing (sequential greedy would need a serial scan). The
    * running byte offset is [[Sampling.prefixSum]] (two-phase,
    * partition-parallel); the manifest aggregate is by the (tiny) shard
    * key. */
  /** The shard manifest over a (doc_id, n_bytes) size frame at the given
    * byte budget. Shared by mm_shard_manifest and
    * [[graft.api.MultimodalPlanner.shardManifest]]. */
  private[graft] def shardManifestOf(s: SparkSession, sized: DataFrame,
      budgetBytes: Long): DataFrame = {
    require(budgetBytes >= 1, s"shardManifestOf needs budgetBytes >= 1, got $budgetBytes")
    Sampling.prefixSum(s, sized, "doc_id", "n_bytes", "start_byte")
      .withColumn("shard_id", (col("start_byte") / budgetBytes).cast("long"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("n_bytes")).as("shard_bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  val shardManifest = GraftQuery(
    "mm_shard_manifest",
    (s, dir) => {
      val sized = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      shardManifestOf(s, sized, 4096L).orderBy(col("shard_id"))
    },
    Some("""WITH sized AS (
              SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
              FROM documents),
            placed AS (
              SELECT doc_id, n_bytes,
                CAST(floor(CAST(coalesce(sum(n_bytes) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                  / 4096) AS BIGINT) AS shard_id
              FROM sized)
            SELECT shard_id, count(*) AS n_samples,
              CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
              min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM placed GROUP BY shard_id ORDER BY shard_id"""))

  /** ViT PATCH-GRID LAYOUT: the vision-transformer tokenization plan —
    * 16x16 patches over the [[resizePlan]] output dimensions (ceil
    * division: partial edge patches are padded, never dropped) plus the
    * CLS token, i.e. the sequence length each image contributes to a
    * multimodal packing budget. Pure scan-side integer expressions
    * composed on the same derived (w, h) as mm_resize_plan — zero data
    * movement; at 100 TB this runs inside the decode scan.
    * Ceil(a/b) is spelled (a + b - 1) div b — non-negative operands, so
    * truncating div and floor agree across engines. */
  /** The ViT tokenization plan over a (doc_id, w, h) dimension frame:
    * aspect-preserving downscale to fit `target`, ceil-divided into
    * `patch`-sized patches plus the CLS token. Shared by mm_patch_grid and
    * [[graft.api.MultimodalPlanner.patchGrid]]. */
  private[graft] def patchGridOf(dims: DataFrame, target: Int, patch: Int): DataFrame = {
    require(target >= 1 && patch >= 1,
      s"patchGridOf needs positive target/patch, got $target/$patch")
    dims
      .withColumn("scale",
        least(lit(target.toDouble) / col("w"), lit(target.toDouble) / col("h"),
          lit(1.0)))
      .select(col("doc_id"),
        floor(col("w") * col("scale")).cast("int").as("out_w"),
        floor(col("h") * col("scale")).cast("int").as("out_h"))
      .select(col("doc_id"), col("out_w"), col("out_h"),
        expr(s"(out_w + ${patch - 1}) div $patch").cast("int").as("patches_x"),
        expr(s"(out_h + ${patch - 1}) div $patch").cast("int").as("patches_y"))
      .withColumn("seq_len",
        (col("patches_x") * col("patches_y") + 1).cast("int"))
  }

  val patchGrid = GraftQuery(
    "mm_patch_grid",
    (s, dir) =>
      patchGridOf(
        t(s, dir, "documents")
          .select(col("doc_id"), octet_length(encode(col("text"), "UTF-8")).as("n"))
          .select(col("doc_id"),
            (col("n") % 193 + 64).as("w"),
            (col("n") % 151 + 64).as("h")),
        target = 224, patch = 16)
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, out_w, out_h,
              CAST((out_w + 15) // 16 AS INTEGER) AS patches_x,
              CAST((out_h + 15) // 16 AS INTEGER) AS patches_y,
              CAST(((out_w + 15) // 16) * ((out_h + 15) // 16) + 1 AS INTEGER)
                AS seq_len
            FROM (SELECT doc_id,
                    CAST(floor(w * scale) AS INTEGER) AS out_w,
                    CAST(floor(h * scale) AS INTEGER) AS out_h
                  FROM (SELECT doc_id, w, h,
                          least(CAST(224.0 AS DOUBLE) / w,
                                CAST(224.0 AS DOUBLE) / h,
                                CAST(1.0 AS DOUBLE)) AS scale
                        FROM (SELECT doc_id,
                                CAST(octet_length(encode(text)) % 193 + 64 AS INTEGER) AS w,
                                CAST(octet_length(encode(text)) % 151 + 64 AS INTEGER) AS h
                              FROM documents)))
            ORDER BY doc_id"""))

  /** MULTIMODAL SEQUENCE BUDGET: each document's TOTAL training-sequence
    * cost — BPE text tokens (under the trained merges, [[TextAnalysis]]'s
    * broadcast dictionary) PLUS its image patch tokens ([[patchGrid]]'s
    * 16x16 grid + CLS) — packed greedily-by-position into 2048-token
    * multimodal sequences via the shared two-phase prefix sum. This is the
    * interleaved text+image packing a VLM pretraining loader executes;
    * composing the two token economies in ONE lazy plan is the point (the
    * text side never shuffles more than (doc_id, n_tokens), the image side
    * is pure scan math). Output is the per-sequence manifest. */
  val seqBudget = GraftQuery(
    "mm_seq_budget",
    (s, dir) => {
      val (_, state) = TextAnalysis.bpeTrainState(s, dir)
      val dict = state.select(col("w"), size(col("toks")).as("ntok"))
      val txt = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(length(col("w")) >= 2)
        .join(broadcast(dict), "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("ntok")).cast("long").as("txt_tokens"))
      val img = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          octet_length(encode(col("text"), "UTF-8")).as("n"))
        .select(col("doc_id"), (col("n") % 193 + 64).as("w"), (col("n") % 151 + 64).as("h"))
        .withColumn("scale", least(lit(224.0) / col("w"), lit(224.0) / col("h"), lit(1.0)))
        .select(col("doc_id"),
          floor(col("w") * col("scale")).cast("int").as("out_w"),
          floor(col("h") * col("scale")).cast("int").as("out_h"))
        .select(col("doc_id"),
          (expr("(out_w + 15) div 16") * expr("(out_h + 15) div 16") + 1)
            .cast("long").as("img_tokens"))
      val seq = img.join(txt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (coalesce(col("txt_tokens"), lit(0L)) + col("img_tokens")).as("seq_len"))
      Sampling.prefixSum(s, seq, "doc_id", "seq_len", "start_tok")
        .withColumn("group_id", (col("start_tok") / 2048).cast("long"))
        .groupBy(col("group_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("seq_len")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("group_id"))
    },
    Some {
      s"""WITH ${TextAnalysis.bpeDictOracleCtes},
          txt AS MATERIALIZED (
            SELECT doc_id, CAST(sum(ntok) AS BIGINT) AS txt_tokens
            FROM docw JOIN dict USING (w)
            WHERE length(w) >= 2 GROUP BY doc_id),
          img AS (
            SELECT doc_id,
              CAST(((out_w + 15) // 16) * ((out_h + 15) // 16) + 1 AS BIGINT)
                AS img_tokens
            FROM (SELECT doc_id,
                    CAST(floor(w * scale) AS INTEGER) AS out_w,
                    CAST(floor(h * scale) AS INTEGER) AS out_h
                  FROM (SELECT doc_id, w, h,
                          least(CAST(224.0 AS DOUBLE) / w,
                                CAST(224.0 AS DOUBLE) / h,
                                CAST(1.0 AS DOUBLE)) AS scale
                        FROM (SELECT doc_id,
                                CAST(octet_length(encode(text)) % 193 + 64 AS INTEGER) AS w,
                                CAST(octet_length(encode(text)) % 151 + 64 AS INTEGER) AS h
                              FROM documents)))),
          seq AS MATERIALIZED (
            SELECT i.doc_id, coalesce(t.txt_tokens, 0) + i.img_tokens AS seq_len
            FROM img i LEFT JOIN txt t USING (doc_id)),
          placed AS (
            SELECT doc_id, seq_len,
              CAST(floor(CAST(coalesce(sum(seq_len) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                / 2048) AS BIGINT) AS group_id
            FROM seq)
          SELECT group_id, count(*) AS n_docs,
            CAST(sum(seq_len) AS BIGINT) AS n_tokens,
            min(doc_id) AS first_doc, max(doc_id) AS last_doc
          FROM placed GROUP BY group_id ORDER BY group_id"""
    })

  /** PERCEPTUAL-HASH NEAR-DUP (dHash, the difference hash behind every
    * image-dedup pipeline): a 60-bit gradient signature — bit i set iff
    * intensity(i) > intensity(i+1) — bucketed by 4×15-bit LSH bands, then
    * candidate pairs verified by Hamming distance ≤ 6 via
    * bit_count(xor). The STUB boundary is the intensity read: a real
    * pipeline decodes pixels and averages 8×8 blocks; here intensity(i)
    * is the payload's i-th code point (deterministic in the bytes, the
    * mm_decode_features convention) — the banding, verify and pair
    * plumbing are exactly what the pixel version ships.
    *
    * 100 TB shape: the signature is one map-side scan expression (64
    * ascii reads folded into one BIGINT); only (band, hash) keys shuffle;
    * banding bounds candidate generation the minhash-LSH way — at
    * hamming ≤ 6 of 60 bits, any true near-dup pair collides on ≥ 1 of
    * the 4 bands whenever its 6 flipped bits avoid one band (the
    * standard LSH recall argument), while random pairs collide at
    * ~4/2¹⁵. */
  val phashDedup = GraftQuery(
    "mm_phash_dedup",
    (s, dir) => phashPairs(dhashOf(t(s, dir, "documents")))
      .orderBy(col("doc_a"), col("doc_b")),
    Some("""WITH sig AS MATERIALIZED (
              SELECT doc_id,
                CAST(list_sum(list_transform(generate_series(1, 60),
                  i -> CASE WHEN i + 1 <= length(text)
                             AND ascii(substring(text, i, 1)) >
                                 ascii(substring(text, i + 1, 1))
                       THEN (CAST(1 AS BIGINT) << (i - 1))
                       ELSE 0 END)) AS BIGINT) AS dhash
              FROM documents),
            banded AS MATERIALIZED (
              SELECT doc_id, dhash, g.band, (dhash >> (g.band * 15)) & 32767 AS bkey
              FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) g)
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
            ORDER BY doc_a, doc_b"""))

  /** The banded-LSH candidate generation + Hamming verify over a
    * (doc_id, dhash) signature frame — [[phashDedup]]'s pair plumbing,
    * frame-generic so the public facade (api.DedupAlgorithms
    * .phashNearDupPairs) runs the identical code on user corpora.
    * @return (doc_a, doc_b, hamming) with doc_a < doc_b */
  private[graft] def phashPairs(sig: DataFrame, hammingMax: Int = 6): DataFrame = {
    val banded = sig.select(col("doc_id"), col("dhash"),
      explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bkey",
        expr("shiftrightunsigned(dhash, band * 15) & 32767"))
    val a = banded.select(col("band"), col("bkey"),
      col("doc_id").as("doc_a"), col("dhash").as("ha"))
    val b = banded.select(col("band"), col("bkey"),
      col("doc_id").as("doc_b"), col("dhash").as("hb"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(ha ^ hb)").as("hamming"))
      .filter(col("hamming") <= hammingMax)
      .distinct()
  }

  /** The 60-bit dHash signature over an arbitrary (doc_id, text) frame —
    * the map-side scan expression shared by [[phashDedup]], the band
    * sweep, and the public facade. The i + 1 <= length(text) guard: a
    * bit only exists when BOTH its intensity reads are in-range, so short
    * documents never lean on engine-specific out-of-range substring/ascii
    * semantics. */
  private[graft] def dhashOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(
      """aggregate(transform(sequence(1, 60),
           i -> CASE WHEN i + 1 <= length(text)
                      AND ascii(substring(text, i, 1)) >
                          ascii(substring(text, i + 1, 1))
                THEN shiftleft(cast(1 as bigint), i - 1)
                ELSE cast(0 as bigint) END),
         cast(0 as bigint), (acc, v) -> acc + v)""").as("dhash"))

  /** [[dhashOf]] over the fixture corpus. */
  private def dhashSig(s: SparkSession, dir: String): DataFrame =
    dhashOf(t(s, dir, "documents"))

  /** PHASH BANDING SWEEP: the (bands × Hamming-threshold) tuning table
    * behind [[phashDedup]]'s production constants (4 bands × 15 bits,
    * Hamming ≤ 6) — the dedup_banding_sweep shape applied to the image
    * family, closing the convention that every shipped constant carries
    * its measured curve. For each way of cutting the 60-bit dHash into
    * equal LSH bands — (3×20), (4×15, production), (5×12), (6×10) — the
    * sweep measures candidate volume (pairs colliding on ≥1 band),
    * verified near-dups at Hamming ≤ {2, 6, 12}, and precision. The trade
    * is the standard LSH s-curve: fewer/wider bands (3×20) admit fewer
    * random collisions (≈3/2²⁰ per pair) but a true pair must keep one
    * 20-bit band clean; more/narrower bands (6×10) catch pairs with
    * scattered bit flips but flood verification — at 2¹⁰ buckets the
    * candidate set approaches all-pairs-per-bucket and precision
    * collapses.
    *
    * MEASURED (sf0.01): candidates 3×20 = 44 / 4×15 = 304 / 5×12 = 1,484
    * / 6×10 = 4,570 — each extra band multiplies the flood ~3-7× — while
    * verified dups at the production threshold stay EXACTLY 25 on every
    * layout: this corpus's planted dups sit at Hamming ≤ 1 (≤1 flipped
    * bit can dirty at most one band, so even 3 bands guarantee a clean
    * collision) and the background noise floor starts at Hamming ≥ 10,
    * so precision at ≤6 is purely the banding tax: 0.568 → 0.082 →
    * 0.017 → 0.0055. The threshold axis shows the other failure mode:
    * at ≤12 (past the corpus's dup/noise margin) the narrow-band layouts
    * start verifying background pairs (5×12: 25→29; 6×10: 25→32 — false
    * accepts, since every true dup is ≤1). Why 4×15 stays the production
    * point when 3×20 wins on THIS corpus: the guarantee, not the sample —
    * at the shipped threshold 6, four bands collide whenever the ≤6
    * flips spare one 15-bit band (worst-case guarantee ≤3 flips; typical
    * spread caught far beyond), while 3×20's worst case is only ≤2 —
    * real pHash dups (recompression, resizes) land at Hamming 3-8, the
    * regime where 3 bands silently drop pairs. Signature computed ONCE
    * (cached, the banding-sweep discipline); each layout's self-join
    * shuffles only (band, bkey) keys; thresholds share one aggregation
    * via conditional sums unpivoted with stack(). */
  val phashBandSweep = GraftQuery(
    "mm_phash_band_sweep",
    (s, dir) => {
      val sig = Pin.reuse(dhashSig(s, dir))
      val layouts = Seq((3, 20), (4, 15), (5, 12), (6, 10))
      val perLayout = layouts.map { case (nb, bits) =>
        val mask = (1L << bits) - 1
        val banded = sig.select(col("doc_id"), col("dhash"),
          explode(expr(s"sequence(0, ${nb - 1})")).as("band"))
          .withColumn("bkey",
            expr(s"shiftrightunsigned(dhash, band * $bits) & ${mask}L"))
        val a = banded.select(col("band"), col("bkey"),
          col("doc_id").as("doc_a"), col("dhash").as("ha"))
        val b = banded.select(col("band"), col("bkey"),
          col("doc_id").as("doc_b"), col("dhash").as("hb"))
        val pairs = a.join(b, Seq("band", "bkey"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            expr("bit_count(ha ^ hb)").as("hamming"))
          .distinct()
        pairs.agg(count(lit(1)).as("n_candidates"),
            coalesce(sum(when(col("hamming") <= 2, 1L).otherwise(0L)), lit(0L)).as("v2"),
            coalesce(sum(when(col("hamming") <= 6, 1L).otherwise(0L)), lit(0L)).as("v6"),
            coalesce(sum(when(col("hamming") <= 12, 1L).otherwise(0L)), lit(0L)).as("v12"))
          .select(lit(nb).as("bands"), lit(bits).as("bits_per_band"),
            col("n_candidates"),
            expr("stack(3, 2, v2, 6, v6, 12, v12)")
              .as(Seq("hamming_max", "n_verified")))
          .select(col("bands"), col("bits_per_band"), col("hamming_max"),
            col("n_candidates"), col("n_verified"),
            expr("""case when n_candidates > 0
                      then cast(n_verified * 1000000 div n_candidates as double) / 1e6
                    end""").as("precision_frac"))
      }
      perLayout.reduce(_ unionByName _)
        .orderBy(col("bands"), col("hamming_max"))
    },
    Some {
      def cfg(nb: Int, bits: Int): String = {
        val mask = (1L << bits) - 1
        s"""b_$nb AS MATERIALIZED (
              SELECT doc_id, dhash, g.band, (dhash >> (g.band * $bits)) & $mask AS bkey
              FROM sig CROSS JOIN
                (SELECT unnest(generate_series(0, ${nb - 1})) AS band) g),
            p_$nb AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.dhash, b.dhash)) AS hamming
              FROM b_$nb a JOIN b_$nb b
                ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
            a_$nb AS (SELECT $nb AS bands, $bits AS bits_per_band,
                count(*) AS n_candidates,
                CAST(coalesce(sum(CASE WHEN hamming <= 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS v2,
                CAST(coalesce(sum(CASE WHEN hamming <= 6 THEN 1 ELSE 0 END), 0) AS BIGINT) AS v6,
                CAST(coalesce(sum(CASE WHEN hamming <= 12 THEN 1 ELSE 0 END), 0) AS BIGINT) AS v12
              FROM p_$nb)"""
      }
      s"""WITH sig AS MATERIALIZED (
            SELECT doc_id,
              CAST(list_sum(list_transform(generate_series(1, 60),
                i -> CASE WHEN i + 1 <= length(text)
                           AND ascii(substring(text, i, 1)) >
                               ascii(substring(text, i + 1, 1))
                     THEN (CAST(1 AS BIGINT) << (i - 1))
                     ELSE 0 END)) AS BIGINT) AS dhash
            FROM documents),
          ${cfg(3, 20)},
          ${cfg(4, 15)},
          ${cfg(5, 12)},
          ${cfg(6, 10)},
          u AS (SELECT * FROM a_3 UNION ALL SELECT * FROM a_4
                UNION ALL SELECT * FROM a_5 UNION ALL SELECT * FROM a_6)
          SELECT bands, bits_per_band, t.hamming_max, n_candidates,
            CASE t.hamming_max WHEN 2 THEN v2 WHEN 6 THEN v6 ELSE v12 END
              AS n_verified,
            CASE WHEN n_candidates > 0
              THEN ((CASE t.hamming_max WHEN 2 THEN v2 WHEN 6 THEN v6 ELSE v12 END)
                    * 1000000 // n_candidates) / 1000000.0 END AS precision_frac
          FROM u CROSS JOIN (SELECT unnest([2, 6, 12]) AS hamming_max) t
          ORDER BY bands, hamming_max"""
    })

  val all: Seq[GraftQuery] = Seq(meta, decodeFeatures, frameSample, resizePlan,
    captionPairs, audioWindows, shardManifest, patchGrid, seqBudget, sceneCuts,
    phashDedup, phashBandSweep)
}
