package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ProximityJoin must turn the naive |a-b| <= r theta-join into a binned
  * equi-join (no nested-loop / cartesian in the physical plan) without
  * changing results, and must leave ineligible joins alone. */
class ProximityJoinSpec extends SparkTestBase {

  private def withRule[T](f: => T): T = {
    graft.Engine.install(spark)
    try f finally remove()
  }

  private def remove(): Unit =
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == ProximityJoin)

  /** Engine.session now installs the rule by default — the brute-force
    * controls below must run with it explicitly OFF to stay a genuinely
    * independent plan. */
  private def withoutRule[T](f: => T): T = {
    remove()
    try f finally graft.Engine.install(spark)
  }

  private def left: DataFrame = {
    import spark.implicits._
    // values straddle zero on purpose: integer division truncates toward
    // zero, and the bin-coverage argument must survive that
    (-500L to 500L by 7L).map(v => (v, s"L$v")).toDF("a", "la")
  }
  private def right: DataFrame = {
    import spark.implicits._
    (-500L to 500L by 11L).map(v => (v, s"R$v")).toDF("b", "rb")
  }

  private def naive(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, abs(col("a") - col("b")) <= 25L)

  test("proximity theta-join is rewritten to a binned equi-join with identical results") {
    val expected = withoutRule {
      val df = naive(left, right)
      assert(df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "control must be the un-rewritten nested loop")
      df.collect().toSet
    }
    assert(expected.nonEmpty)
    withRule {
      val df = naive(left, right)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"expected the rewrite to remove the nested loop:\n$plan")
      assert(plan.contains("graft_prox_bin"), s"expected bin columns in the plan:\n$plan")
      assert(df.collect().toSet === expected)
    }
  }

  test("strict < and flipped >= orientations rewrite too, results intact") {
    withRule {
      val lt = left.join(right, abs(col("a") - col("b")) < 25L)
      val flipped = left.join(right, lit(25L) >= abs(col("b") - col("a")))
      for (df <- Seq(lt, flipped)) {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
          s"orientation variant not rewritten:\n$plan")
      }
      // strict < must not admit the boundary pair that <= would
      val ltSet = lt.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(ltSet.forall { case (a, b) => math.abs(a - b) < 25 })
    }
  }

  test("a join that already has an equi-key is left alone") {
    withRule {
      val l = left.withColumn("k", col("a") % 10)
      val r = right.withColumn("k", col("b") % 10)
      val df = l.join(r,
        l("k") === r("k") && abs(col("a") - col("b")) <= 25L)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("graft_prox_bin"),
        s"equi-keyed join must not be binned:\n$plan")
    }
  }

  test("outer proximity joins are not rewritten (inner-only guard)") {
    withRule {
      val df = left.join(right, abs(col("a") - col("b")) <= 25L, "left_outer")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("graft_prox_bin"),
        s"outer join must not be rewritten:\n$plan")
      // and the results are still the outer-join results
      assert(df.count() >= left.count())
    }
  }

  test("asymmetric band spelling (a-b <= r1 AND b-a <= r2) rewrites and matches brute force") {
    val cond = (col("a") - col("b") <= 10L) && (col("b") - col("a") <= 30L)
    val expected = withoutRule {
      left.join(right, cond).select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(expected.nonEmpty)
    withRule {
      val df = left.join(right, cond)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"band spelling not rewritten:\n$plan")
      assert(plan.contains("graft_prox_bin"))
      val got = df.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === expected)
      assert(got.forall { case (a, b) => a - b <= 10 && b - a <= 30 })
    }
  }

  test("integer BETWEEN spelling (b BETWEEN a-r AND a+r) rewrites and matches brute force") {
    val cond = expr("b BETWEEN a - 25 AND a + 25")
    val expected = withoutRule {
      naive(left, right).select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(expected.nonEmpty)
    withRule {
      val df = left.join(right, cond)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"BETWEEN spelling not rewritten:\n$plan")
      assert(plan.contains("graft_prox_bin"))
      val got = df.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === expected)
    }
  }

  test("timestamp BETWEEN interval spelling rewrites to the binned join, results intact") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = 1700000000000000L // micros
    val l = Seq.fill(150)(base + rnd.nextLong() % 3600000000L)
      .map(us => Tuple1(us)).toDF("p_us")
      .select(expr("timestamp_micros(p_us)").as("p_ts"))
    val r = Seq.fill(150)(base + rnd.nextLong() % 3600000000L)
      .map(us => Tuple1(us)).toDF("c_us")
      .select(expr("timestamp_micros(c_us)").as("c_ts"))
    val cond = expr("c_ts BETWEEN p_ts - INTERVAL 5 MINUTE AND p_ts + INTERVAL 5 MINUTE")
    val expected = withoutRule {
      val df = l.join(r, cond)
      assert(df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "control must be the un-rewritten nested loop")
      df.select(expr("unix_micros(p_ts)"), expr("unix_micros(c_ts)")).collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    }
    assert(expected.nonEmpty)
    withRule {
      val df = l.join(r, cond)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"timestamp BETWEEN not rewritten:\n$plan")
      assert(plan.contains("graft_prox_bin"))
      val got = df.select(expr("unix_micros(p_ts)"), expr("unix_micros(c_ts)")).collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      assert(got === expected)
      assert(got.forall { case (p, c) => math.abs(p - c) <= 300000000L })
    }
  }

  test("asymmetric timestamp band with month-free intervals rewrites; month intervals do not") {
    import spark.implicits._
    val base = 1700000000000000L
    val l = (0L to 50L).map(i => Tuple1(base + i * 60000000L)).toDF("p_us")
      .select(expr("timestamp_micros(p_us)").as("p_ts"))
    val r = (0L to 50L).map(i => Tuple1(base + i * 45000000L)).toDF("c_us")
      .select(expr("timestamp_micros(c_us)").as("c_ts"))
    withRule {
      val fixed = l.join(r,
        expr("c_ts BETWEEN p_ts - INTERVAL 2 MINUTE AND p_ts + INTERVAL '1:30' MINUTE TO SECOND"))
      assert(fixed.queryExecution.executedPlan.toString.contains("graft_prox_bin"),
        "fixed-duration asymmetric band must bin")
      // month-bearing intervals are not fixed shifts -> must NOT rewrite
      val monthy = l.join(r,
        expr("c_ts BETWEEN p_ts - INTERVAL 1 MONTH AND p_ts + INTERVAL 1 MONTH"))
      assert(!monthy.queryExecution.executedPlan.toString.contains("graft_prox_bin"),
        "month interval must not be binned")
    }
  }

  test("a one-sided difference bound is not rewritten (no finite band)") {
    withRule {
      val df = left.join(right, col("a") - col("b") <= 10L)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("graft_prox_bin"),
        s"one-sided bound must not be binned:\n$plan")
    }
  }

  test("a double-typed axis is not rewritten (integral-only guard)") {
    import spark.implicits._
    val l = Seq((1.5, "a"), (2.5, "b")).toDF("a", "la")
    val r = Seq((1.6, "x"), (9.0, "y")).toDF("b", "rb")
    withRule {
      val df = l.join(r, abs(col("a") - col("b")) <= 1.0)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("graft_prox_bin"),
        s"double axis must not be binned:\n$plan")
      assert(df.count() === 2) // (1.5,1.6) and (2.5,1.6); 9.0 matches nothing
    }
  }

  test("null join-axis values match nothing, same as the naive join") {
    import spark.implicits._
    val l = Seq((Some(10L), "a"), (None, "b"), (Some(40L), "c"))
      .toDF("a", "la")
    val r = Seq((Some(12L), "x"), (None, "y")).toDF("b", "rb")
    val cond = abs(col("a") - col("b")) <= 5L
    val expected = withoutRule { l.join(r, cond).collect().toSet }
    withRule {
      val df = l.join(r, cond)
      assert(df.queryExecution.executedPlan.toString.contains("graft_prox_bin"))
      assert(df.collect().toSet === expected)
      // only the (10, 12) pair qualifies; nulls pair with nothing
      assert(df.count() === 1)
    }
  }

  test("randomized: binned results equal brute force across radii and value ranges") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val radius = Seq(3L, 17L, 100L)(trial - 1)
      val lv = Seq.fill(120)(rnd.nextLong() % 1000).map(v => (v, s"l$v")).toDF("a", "la")
      val rv = Seq.fill(120)(rnd.nextLong() % 1000).map(v => (v, s"r$v")).toDF("b", "rb")
      val cond = abs(col("a") - col("b")) <= radius
      val expected = withoutRule {
        lv.join(rv, cond).select("a", "b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      }
      val got = withRule {
        val df = lv.join(rv, cond)
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("graft_prox_bin"), s"trial $trial: rewrite did not fire")
        df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      }
      assert(got === expected, s"trial $trial (radius $radius)")
    }
  }
}
