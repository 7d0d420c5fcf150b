package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.sql.catalyst.util.ArrayData

/** The spark.sql.extensions entry point injects the same native function
  * the session-patching route registers. (A second SparkSession can't be
  * built inside the shared-session test JVM, so the spec drives the
  * SparkSessionExtensions hook directly — the exact object Spark's builder
  * passes in.) */
class GraftExtensionsSpec extends SparkTestBase {

  test("GraftExtensions injects graft_cosine and the builder produces a working expression") {
    val gx = new GraftExtensions
    // the hook applies without throwing (what Spark's builder does at startup)
    gx.apply(new SparkSessionExtensions)

    val (ident, info, builder) =
      gx.functions.find(_._1.funcName == "graft_cosine").get
    assert(ident.database.isEmpty && info.getName === "graft_cosine")

    def vec(xs: Float*) = Literal.create(
      ArrayData.toArrayData(xs.toArray), ArrayType(FloatType))
    val e = builder(Seq(vec(1f, 0f), vec(1f, 0f)))
    assert(e.isInstanceOf[graft.functions.CosineSimilarity])
    val cos = e.eval(null).asInstanceOf[Double]
    assert(math.abs(cos - 1.0) < 1e-12, s"cos of identical vectors = $cos")
  }

  test("Engine.install registers exactly the injected functions and the rule on a fresh session") {
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    def names = reg.listFunction().map(_.funcName).toSet
    val before = names
    graft.Engine.install(fresh)
    val injected = new GraftExtensions().functions.map(_._1.funcName).toSet
    assert(names -- before === injected)
    assert(injected === Set("graft_cosine", "graft_l2sq", "graft_dot",
      "graft_bloom_agg", "graft_might_contain"))
    assert(fresh.experimental.extraOptimizations.contains(ProximityJoin))
  }
}
