package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Property gate for the broadcast-Bloom ingest twin: the Bloom gate must
  * lose NOTHING (no false negatives — the property that makes
  * dedup_ingest_delta_bloom share the exact variant's oracle) and its
  * false-positive rate — the only cost of the gate, paid as residual
  * anti-join traffic — must sit within the configured sizing bound. */
class BloomGateSpec extends SparkTestBase {

  private def bloomAggSql(estItems: Long, numBits: Long, view: String) =
    s"(SELECT graft_bloom_agg(xxhash64(h), ${estItems}L, " +
      s"${numBits}L) FROM $view)"

  test("bloom ingest gate: identical delta, zero false negatives, FP rate within the configured bound") {
    graft.Engine.install(spark)
    val exact = Dedup.ingestDelta.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val bloom = Dedup.ingestDeltaBloom.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(exact.nonEmpty)
    assert(bloom == exact,
      "the Bloom-gated delta must equal the exact anti-join delta")

    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), md5(col("text")).as("h"))
    val snap = docs.filter(col("doc_id") % 7 === 0).select("h")
    snap.createOrReplaceTempView("bg_snap")
    docs.filter(col("doc_id") % 7 =!= 0).select("doc_id", "h")
      .createOrReplaceTempView("bg_inc")
    val (estItems, numBits) = Dedup.ingestBloomSizing(snap.count())
    val agg = bloomAggSql(estItems, numBits, "bg_snap")

    // no false negatives: every member digest tests positive
    val falseNegatives = spark.sql(
      s"""SELECT count(*) FROM bg_snap
          WHERE NOT graft_might_contain($agg, xxhash64(h))""")
      .head().getLong(0)
    assert(falseNegatives == 0L,
      "a Bloom filter must never report a member absent")

    // measured FP rate over truly-new incoming digests vs the ~3% the
    // 7.3 bits/item sizing buys at FULL capacity
    val row = spark.sql(
      s"""WITH truly_new AS (
            SELECT h FROM bg_inc WHERE h NOT IN (SELECT h FROM bg_snap))
          SELECT count(*),
            sum(CASE WHEN graft_might_contain($agg, xxhash64(h))
                     THEN 1 ELSE 0 END)
          FROM truly_new""").head()
    val n = row.getLong(0)
    val fp = row.getLong(1)
    assert(n > 0)
    val rate = fp.toDouble / n
    assert(rate <= 0.03, s"measured FP rate $rate exceeds the configured 3% bound")
    info(s"bloom gate: $fp/$n false positives (rate $rate, bound 0.03)")
  }

  test("bloom sizing derived from a 10x snapshot keeps FP within bound (no silent saturation)") {
    graft.Engine.install(spark)
    import spark.implicits._
    // 700 k synthetic snapshot digests — 10x the sf0.1 snapshot, and 7x
    // the r12 fixture constant (100 k) that this test exists to bury: at
    // this size the old constant sizing would saturate toward FP≈1, while
    // count-derived sizing holds the configured 3%
    val snapN = 700000L
    spark.range(snapN).select(md5(concat(lit("snap:"), col("id"))).as("h"))
      .createOrReplaceTempView("bg_snap10")
    val (estItems, numBits) = Dedup.ingestBloomSizing(snapN)
    assert(estItems == snapN && numBits == snapN * 73 / 10,
      "sizing must track the snapshot count, not a constant")
    val agg = bloomAggSql(estItems, numBits, "bg_snap10")
    // 100 k disjoint incoming digests (different prefix => no membership)
    val row = spark.range(100000)
      .select(md5(concat(lit("inc:"), col("id"))).as("h"))
      .createOrReplaceTempView("bg_inc10")
    val r = spark.sql(
      s"""SELECT count(*),
            sum(CASE WHEN graft_might_contain($agg, xxhash64(h))
                     THEN 1 ELSE 0 END)
          FROM bg_inc10""").head()
    val (n, fp) = (r.getLong(0), r.getLong(1))
    val rate = fp.toDouble / n
    assert(rate <= 0.03,
      s"10x snapshot FP rate $rate exceeds 3% — sizing failed to scale")
    // and zero false negatives at 10x, as always
    val fn = spark.sql(
      s"""SELECT count(*) FROM bg_snap10
          WHERE NOT graft_might_contain($agg, xxhash64(h))""").head().getLong(0)
    assert(fn == 0L)
    info(f"10x bloom gate: $fp/$n false positives (rate $rate%.5f, bound 0.03) " +
      f"at $snapN items / $numBits bits (${numBits / 8 / 1024} KiB)")
  }
}
