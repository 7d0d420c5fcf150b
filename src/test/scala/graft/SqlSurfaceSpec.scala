package graft

/** The pure-SQL user surface: register the tables once, then everything —
  * including the native graft_cosine expression — is reachable from
  * `spark.sql` with no DataFrame code. (A reference user migrating to
  * graft gets a SQL console the reference never had.) */
class SqlSurfaceSpec extends SparkTestBase {

  test("registerAll + spark.sql runs relational and vector queries end-to-end") {
    Tables.registerAll(spark, sf)
    Engine.install(spark)

    val agg = spark.sql(
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""").collect()
    assert(agg.length > 0 && agg.forall(!_.isNullAt(1)))

    val knn = spark.sql(
      """SELECT a.vec_id, round(graft_cosine(a.embedding, b.embedding), 4) AS sim
         FROM embeddings a JOIN embeddings b ON b.vec_id = 0 AND a.vec_id < 5
         ORDER BY a.vec_id""").collect()
    assert(knn.length === 5)
    assert(math.abs(knn.head.getDouble(1) - 1.0) < 1e-9, "self-similarity = 1")

    val stream = spark.sql(
      """SELECT user_id, count(*) AS n FROM events
         WHERE event_type = 'purchase' GROUP BY user_id ORDER BY n DESC LIMIT 5""").collect()
    assert(stream.nonEmpty)
  }
}
