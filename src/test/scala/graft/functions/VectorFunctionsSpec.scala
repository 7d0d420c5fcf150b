package graft.functions

import graft.{SparkTestBase, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** The native CosineSimilarity expression must be BIT-identical to the
  * declarative fold it replaces — that equality is what keeps the DuckDB
  * oracles valid for the ANN queries. Checked on the real corpus in both
  * interpreted (nullSafeEval) and codegen paths. */
class VectorFunctionsSpec extends SparkTestBase {

  test("native expression == declarative fold, bit for bit, on the corpus") {
    graft.Engine.install(spark)
    val e = Tables.t(spark, sf, "embeddings")
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val pairs = a.crossJoin(b).filter(col("va") < col("vb")).limit(20000)
      .select(
        expr("graft_cosine(ea, eb)").as("native"),
        Similarity.cosineFold("ea", "eb").as("fold"))
    val mismatches = pairs.filter(col("native") =!= col("fold")).count()
    assert(mismatches === 0L)
  }

  test("graft_dot == declarative fold, bit for bit, on the corpus") {
    graft.Engine.install(spark)
    val e = Tables.t(spark, sf, "embeddings")
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val pairs = a.crossJoin(b).filter(col("va") < col("vb")).limit(20000)
      .select(
        expr("graft_dot(ea, eb)").as("native"),
        Similarity.dotFold("ea", "eb").as("fold"))
    val mismatches = pairs.filter(col("native") =!= col("fold")).count()
    assert(mismatches === 0L)
  }

  test("graft_dot interpreted path agrees with a hand computation") {
    import spark.implicits._
    graft.Engine.install(spark)
    val df = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val got = df.select(expr("graft_dot(a, b)")).as[Double].head()
      assert(got === 32.0) // 4 + 10 + 18
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("interpreted path (eval) agrees with a hand computation") {
    import spark.implicits._
    graft.Engine.install(spark)
    val df = Seq((Array(1f, 0f, 1f), Array(1f, 1f, 0f))).toDF("a", "b")
    // codegen disabled -> exercises nullSafeEval
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val got = df.select(expr("graft_cosine(a, b)")).as[Double].head()
      assert(math.abs(got - 0.5) < 1e-15) // dot=1, |a|=|b|=sqrt(2)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("graft_l2sq == declarative subrange fold, bit for bit, on the corpus") {
    graft.Engine.install(spark)
    val e = Tables.t(spark, sf, "embeddings")
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    def fold(lo: Int, len: Int) = expr(
      s"""aggregate(transform(sequence($lo, ${lo + len - 1}),
          i -> (cast(ea[i] as double) - cast(eb[i] as double)) *
               (cast(ea[i] as double) - cast(eb[i] as double))),
          cast(0.0 as double), (acc, v) -> acc + v)""")
    val pairs = a.crossJoin(b).filter(col("va") < col("vb")).limit(5000)
      .select(
        expr("graft_l2sq(ea, eb, 16, 16)").as("native"),
        fold(16, 16).as("fold"))
    assert(pairs.filter(col("native") =!= col("fold")).count() === 0L)
  }

  test("graft_l2sq interpreted path agrees with a hand computation") {
    import spark.implicits._
    graft.Engine.install(spark)
    val df = Seq((Array(1f, 2f, 3f, 4f), Array(1f, 0f, 0f, 1f))).toDF("a", "b")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      // full range: 0 + 4 + 9 + 9 = 22; subrange [1,3): 4 + 9 = 13
      assert(df.select(expr("graft_l2sq(a, b, 0, 4)")).as[Double].head() === 22.0)
      assert(df.select(expr("graft_l2sq(a, b, 1, 2)")).as[Double].head() === 13.0)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("graft_l2sq clamps a negative offset in both execution paths") {
    import spark.implicits._
    graft.Engine.install(spark)
    val df = Seq((Array(1f, 2f), Array(0f, 0f))).toDF("a", "b")
    // off=-3, len=5 -> window [0, 2): 1 + 4; a negative start must never
    // reach ArrayData.getFloat (unchecked OOB read on UnsafeArrayData)
    assert(df.select(expr("graft_l2sq(a, b, -3, 5)")).as[Double].head() === 5.0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      assert(df.select(expr("graft_l2sq(a, b, -3, 5)")).as[Double].head() === 5.0)
      assert(df.select(expr("graft_l2sq(a, b, -3, 2)")).as[Double].head() === 0.0)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("graft_l2sq upper bound cannot wrap when off+len underflows a long-to-int cast") {
    import spark.implicits._
    graft.Engine.install(spark)
    val df = Seq((Array(1f, 2f), Array(0f, 0f))).toDF("a", "b")
    // off=Int.MinValue, len=-100: o+len ~ -2^31-100; an unguarded
    // (int) cast of that long wraps POSITIVE (~2147483548), turning the
    // empty window into a billion-element OOB scan. Must be 0 rows summed.
    val q = s"graft_l2sq(a, b, ${Int.MinValue}, -100)"
    assert(df.select(expr(q)).as[Double].head() === 0.0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(df.select(expr(q)).as[Double].head() === 0.0)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("nulls and mismatched lengths behave") {
    import spark.implicits._
    graft.Engine.install(spark)
    val df = Seq(
      (Some(Array(1f, 2f)), None: Option[Array[Float]]),
      (Some(Array(1f, 0f, 0f, 0f)), Some(Array(1f, 0f)))).toDF("a", "b")
    val got = df.select(expr("graft_cosine(a, b)")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got(0) === None)       // null propagates
    assert(got(1) === Some(1.0))  // truncates to shorter length
  }
}
