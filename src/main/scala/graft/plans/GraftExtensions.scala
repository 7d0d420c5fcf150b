package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.functions.{CosineSimilarity, DotProduct, SubvectorL2Sq}

/** Library entry point for Spark's extension mechanism — the Spark-native
  * analog of the reference's jar-level integration (a user adds the engine
  * to an existing runtime without code changes; reference surface:
  * docs/contents/introduction/commandline.md app-submission flow).
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  * // then, with no imports:
  * SELECT graft_cosine(a.embedding, b.embedding) FROM ...
  * }}}
  *
  * Injects the native functions permanently into the session catalog
  * (every new session of the builder), unlike [[graft.Engine.install]]
  * which patches one live session from the same [[functions]] inventory,
  * so plans and results cannot differ.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  /** The injected inventory, exposed so specs can drive the exact builders
    * Spark will call (SparkSessionExtensions' own accessors are private[sql]). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))),
    (FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[SubvectorL2Sq].getName, "graft_l2sq"),
      (exprs: Seq[Expression]) =>
        SubvectorL2Sq(exprs(0), exprs(1), exprs(2), exprs(3))),
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))),
    // SQL handles for Spark's OWN Bloom-filter pair: BloomFilterAggregate
    // (a TypedImperativeAggregate whose map-side buffers merge, so building
    // the filter is one normal aggregation) and the codegen'd
    // BloomFilterMightContain. Spark wires them only into runtime row-level
    // filtering, not the public FunctionRegistry (UNRESOLVED_ROUTINE on
    // 4.1.2). Contracts inherited from the internals: the value side must
    // be a LONG (hash with xxhash64 first); the filter side of
    // graft_might_contain must be a constant or a scalar subquery, which
    // makes the plan a build-once, share-everywhere filter, not a join.
    (FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
      {
        case Seq(child) => new BloomFilterAggregate(child)
        case Seq(child, est) => new BloomFilterAggregate(child, est)
        case Seq(child, est, bits) => new BloomFilterAggregate(child, est, bits)
        case other => throw new IllegalArgumentException(
          s"graft_bloom_agg expects 1-3 args, got ${other.size}")
      }),
    (FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_might_contain"),
      {
        case Seq(bloom, value) => BloomFilterMightContain(bloom, value)
        case other => throw new IllegalArgumentException(
          s"graft_might_contain expects 2 args, got ${other.size}")
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.foreach(ext.injectFunction)
    // optimizer rules: proximity theta-joins become binned equi-joins
    ext.injectOptimizerRule(_ => ProximityJoin)
  }
}
