package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Batch relational operator surface.
  *
  * The reference's only relational machinery is hand-rolled code inside user
  * Tasks (e.g. the word-count HashMap in
  * reference: examples/streaming/wordcount/src/main/scala/io/gearpump/streaming/examples/wordcount/Sum.scala:27-46);
  * joins/sorts/set-ops are absent entirely (SURVEY.md §2.4, §2.7). Here the
  * whole surface is declarative DataFrame code so Catalyst supplies predicate
  * pushdown, column pruning, partial aggregation, join strategy selection and
  * whole-stage codegen for free.
  *
  * Scale notes: every groupBy below gets map-side partial aggregation; joins
  * against dimension tables are explicitly `broadcast()` so no shuffle of the
  * fact table is ever needed for them; top-k is orderBy+limit which Catalyst
  * plans as TakeOrderedAndProject (no global sort at 100 TB).
  *
  * All float aggregates are rounded in BOTH the Spark plan and the DuckDB
  * oracle so double summation order cannot flip the hash compare.
  */
object Relational {
  private def t(s: SparkSession, dir: String, n: String) = Tables.t(s, dir, n)

  /** TPC-H Q1-style pricing summary: multi-expression grouped aggregation
    * (partial+final agg picked by Catalyst automatically, SURVEY §2.5). */
  /** All money/percent columns are 2-decimal values, so every sum runs over
    * EXACT integers (cents / percent units) and only the final display
    * division touches doubles — a fixed sequence of correctly-rounded IEEE
    * ops on identical inputs, so both engines agree bit-for-bit regardless
    * of partition/summation order (double sums over ~1e10-magnitude money
    * carry ~1e-5 accumulation noise, which can straddle a .005 rounding
    * boundary — the q41-median failure class). Largest packed per-row term
    * is cents*(100-d)*(100+t) < 2^41; long sums stay exact past sf100. */
  val q1Agg = GraftQuery(
    "q1_agg",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .withColumn("qtyi", expr("cast(floor(l_quantity + 0.5) as bigint)"))
        .withColumn("cents", expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)"))
        .withColumn("d", expr("cast(floor(l_discount * 100 + 0.5) as bigint)"))
        .withColumn("tx", expr("cast(floor(l_tax * 100 + 0.5) as bigint)"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("qtyi")).cast("double").as("sum_qty"),
          (sum(col("cents")).cast("double") / 100).as("sum_base_price"),
          (sum(col("cents") * (lit(100L) - col("d"))).cast("double") / 10000)
            .as("sum_disc_price"),
          (sum(col("cents") * (lit(100L) - col("d")) * (lit(100L) + col("tx")))
            .cast("double") / 1000000).as("sum_charge"),
          round(sum(col("qtyi")).cast("double") / count(lit(1)), 4).as("avg_qty"),
          round(sum(col("cents")).cast("double") / count(lit(1)) / 100, 4).as("avg_price"),
          round(sum(col("d")).cast("double") / count(lit(1)) / 100, 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus,
            CAST(sum(qtyi) AS DOUBLE) AS sum_qty,
            CAST(sum(cents) AS DOUBLE) / 100 AS sum_base_price,
            CAST(sum(cents * (100 - d)) AS DOUBLE) / 10000 AS sum_disc_price,
            CAST(sum(cents * (100 - d) * (100 + tx)) AS DOUBLE) / 1000000 AS sum_charge,
            round(CAST(sum(qtyi) AS DOUBLE) / count(*), 4) AS avg_qty,
            round(CAST(sum(cents) AS DOUBLE) / count(*) / 100, 4) AS avg_price,
            round(CAST(sum(d) AS DOUBLE) / count(*) / 100, 4) AS avg_disc,
            count(*) AS count_order
            FROM (SELECT l_returnflag, l_linestatus,
                    CAST(floor(l_quantity + 0.5) AS BIGINT) AS qtyi,
                    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
                    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
                    CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tx
                  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02')
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""".stripMargin),
    headline = true)

  /** Broadcast hash join fact x small dim — the Spark analog of the
    * reference's BroadcastPartitioner edge
    * (reference: streaming/src/main/scala/io/gearpump/streaming/partitioner/BroadcastPartitioner.scala:20-31):
    * the dimension ships to every task, the fact table never shuffles. */
  val q2JoinBroadcast = GraftQuery(
    "q2_join_broadcast",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part").filter(col("p_size") < 20)
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          // exact integer-cents sum (the q1/q43 discipline): order-free
          (sum(expr("cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)"))
            .cast("double") / 100).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    },
    Some("""SELECT p_brand,
            CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100 + 0.5) AS BIGINT)) AS DOUBLE)
              / 100 AS revenue,
            count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_size < 20 GROUP BY p_brand ORDER BY p_brand"""),
    headline = true)

  /** TPC-H Q3-style 3-way join + grouped agg + deterministic top-k. */
  val q3JoinMulti = GraftQuery(
    "q3_join_multi",
    (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      // Star-join shape: lineitem (the fact table) is the streamed/probe
      // side; the segment-filtered customer x orders result is the build
      // side of a SHUFFLE_HASH join (hinted, r18). Unhinted, Spark's
      // size-only estimator priced the pruned lineitem scan under the
      // 10 MB broadcast threshold while any join output is
      // product-estimated huge — so the STATIC plan collected and
      // broadcast the 600k-row FACT as the build side every run (measured
      // 0.91 s min; the hinted shuffle-hash plan reads 0.55 s). The hint
      // is the 100 TB plan too: both sides exchange on the join key, the
      // smaller (filtered co) side builds per-partition hash tables, no
      // sort of the fact, and AQE still coalesces/skew-splits the
      // exchanges — the fact table is never the build side at any scale.
      val co = c.join(o, col("c_custkey") === col("o_custkey"))
        .select(col("o_orderkey"), col("o_orderdate"))
        .hint("shuffle_hash")
      li.join(co, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        // exact cents: the top-10 RANKING must not depend on double
        // accumulation order (two orders within sum-noise of each other
        // could swap under the rounded-double formulation)
        .agg((sum(expr("cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)"))
          .cast("double") / 100).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
    Some("""SELECT o_orderkey, o_orderdate,
            CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100 + 0.5) AS BIGINT)) AS DOUBLE)
              / 100 AS revenue
            FROM customer JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey LIMIT 10"""),
    headline = true)

  /** Left-semi join (EXISTS). */
  val q4SemiJoin = GraftQuery(
    "q4_semi_join",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_totalprice FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_quantity > 45)
            ORDER BY o_orderkey"""))

  /** Left-anti join (NOT EXISTS). */
  val q5AntiJoin = GraftQuery(
    "q5_anti_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderpriority = '1-URGENT')
            ORDER BY c_custkey"""))

  /** Left-outer join keeping empty groups (nations with zero customers). */
  val q6OuterJoin = GraftQuery(
    "q6_outer_join",
    (s, dir) => {
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      n.join(c, col("n_nationkey") === col("c_nationkey"), "left_outer")
        .groupBy(col("n_name"))
        .agg(
          count(col("c_custkey")).as("n_cust"),
          round(coalesce(sum(col("c_acctbal")), lit(0.0)), 2).as("sum_bal"))
        .orderBy(col("n_name"))
    },
    Some("""SELECT n_name, count(c_custkey) AS n_cust,
            round(coalesce(sum(c_acctbal),0),2) AS sum_bal
            FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
            GROUP BY n_name ORDER BY n_name"""))

  /** Full-outer join on disjoint-ish key sets. */
  val q7FullOuter = GraftQuery(
    "q7_full_outer",
    (s, dir) => {
      val hi = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
      val urg = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey").as("key")).agg(count(lit(1)).as("n_urgent"))
        .select(col("key"), col("n_urgent"))
      hi.join(urg, Seq("key"), "full_outer")
        .select(col("key"), col("bal"), col("n_urgent"))
        .orderBy(col("key"))
    },
    Some("""SELECT coalesce(a.key, b.key) AS key, a.bal, b.n_urgent
            FROM (SELECT c_custkey AS key, c_acctbal AS bal FROM customer WHERE c_acctbal > 9000) a
            FULL JOIN (SELECT o_custkey AS key, count(*) AS n_urgent FROM orders
                       WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey) b
            ON a.key = b.key
            ORDER BY key"""))

  /** Ranking window functions: row_number / rank / dense_rank per group
    * (absent in reference, SURVEY §2.6; built on Spark window exec). */
  val q8WindowRank = GraftQuery(
    "q8_window_rank",
    (s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .filter(col("rn") <= 3)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          col("rn"), col("rnk"), col("drnk"))
        .orderBy(col("c_nationkey"), col("rn"))
    },
    Some("""SELECT c_nationkey, c_custkey, c_acctbal, rn, rnk, drnk FROM (
              SELECT c_nationkey, c_custkey, c_acctbal,
                row_number() OVER w AS rn, rank() OVER w AS rnk, dense_rank() OVER w AS drnk
              FROM customer
              WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey))
            WHERE rn <= 3 ORDER BY c_nationkey, rn"""))

  /** Analytic window frame: running sum + lag/lead over explicit ROWS frame. */
  val q9WindowRunning = GraftQuery(
    "q9_window_running",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("running_spend",
          round(sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("running_spend"), col("prev_price"), col("next_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
            round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_spend,
            lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
            lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
            FROM orders ORDER BY o_custkey, o_orderkey"""))

  /** Deterministic top-k: Catalyst plans orderBy+limit as
    * TakeOrderedAndProject — per-partition heap + single merge, no global
    * sort; the pattern that still works at 100 TB. */
  val q10TopK = GraftQuery(
    "q10_topk",
    (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),
    headline = true)

  /** UNION (distinct) set op. */
  val q11Union = GraftQuery(
    "q11_union",
    (s, dir) => {
      val a = t(s, dir, "customer").filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("key"))
      val b = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("key"))
      a.union(b).distinct().orderBy(col("key"))
    },
    Some("""SELECT c_custkey AS key FROM customer WHERE c_acctbal < 0
            UNION
            SELECT o_custkey AS key FROM orders WHERE o_totalprice > 400000
            ORDER BY key"""))

  /** INTERSECT set op. */
  val q12Intersect = GraftQuery(
    "q12_intersect",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("key"))
      val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey").as("key"))
      f.intersect(p).orderBy(col("key"))
    },
    Some("""SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'F'
            INTERSECT
            SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'P'
            ORDER BY key"""))

  /** EXCEPT set op. */
  val q13Except = GraftQuery(
    "q13_except",
    (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey").as("key"))
      val e = t(s, dir, "events").select(col("user_id").as("key"))
      c.except(e).orderBy(col("key"))
    },
    Some("""SELECT c_custkey AS key FROM customer
            EXCEPT
            SELECT user_id AS key FROM events
            ORDER BY key"""))

  /** ROLLUP hierarchy totals with grouping indicator. */
  val q14Rollup = GraftQuery(
    "q14_rollup",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_cust"),
          // exact cents (q1 discipline; acctbal can be negative — floor of
          // x+0.5 is round-half-up for either sign, same formula both sides)
          (sum(expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)"))
            .cast("double") / 100).as("sum_bal"),
          (grouping(col("r_name")) * 2 + grouping(col("n_name"))).cast("int").as("g"))
        .orderBy(col("g"), col("r_name"), col("n_name"))
    },
    Some("""SELECT r_name, n_name, count(*) AS n_cust,
            CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_bal,
            CAST(grouping(r_name)*2 + grouping(n_name) AS INTEGER) AS g
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
            ORDER BY g, r_name, n_name"""))

  /** CUBE over two dimensions. */
  val q15Cube = GraftQuery(
    "q15_cube",
    (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          (sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
            .cast("double") / 100).as("sum_price"),
          (grouping(col("o_orderstatus")) * 2 + grouping(col("o_orderpriority"))).cast("int").as("g"))
        .orderBy(col("g"), col("o_orderstatus"), col("o_orderpriority")),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
            CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_price,
            CAST(grouping(o_orderstatus)*2 + grouping(o_orderpriority) AS INTEGER) AS g
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
            ORDER BY g, o_orderstatus, o_orderpriority"""))

  /** DISTINCT aggregation (exact) alongside plain counts. */
  val q16Distinct = GraftQuery(
    "q16_distinct",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
            count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** String scalar functions (SURVEY §2.8 — absent in reference, where users
    * call arbitrary JVM code in Task.onNext, e.g. line.split in
    * reference: examples/streaming/wordcount/src/main/scala/io/gearpump/streaming/examples/wordcount/Split.scala:29). */
  val q17ScalarString = GraftQuery(
    "q17_scalar_string",
    (s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          length(col("p_name")).as("nlen"),
          substring(col("p_name"), 1, 5).as("prefix"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), " ", "_").as("snake"),
          reverse(col("p_type")).as("rev_type"),
          instr(col("p_name"), "a").cast("long").as("first_a"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey, upper(p_name) AS uname,
            CAST(length(p_name) AS INTEGER) AS nlen,
            substring(p_name, 1, 5) AS prefix,
            concat_ws('-', p_brand, p_type) AS brand_type,
            regexp_replace(p_name, ' ', '_', 'g') AS snake,
            reverse(p_type) AS rev_type,
            CAST(instr(p_name, 'a') AS BIGINT) AS first_a
            FROM part ORDER BY p_partkey"""))

  /** Date/time scalar functions. */
  val q18ScalarDatetime = GraftQuery(
    "q18_scalar_datetime",
    (s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"))
        .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey,
            CAST(year(o_orderdate) AS INTEGER) AS y,
            CAST(month(o_orderdate) AS INTEGER) AS m,
            CAST(day(o_orderdate) AS INTEGER) AS d,
            CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
            datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
            FROM orders ORDER BY o_orderkey"""))

  /** Math scalar functions. */
  val q19ScalarMath = GraftQuery(
    "q19_scalar_math",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 100)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(abs(col("l_quantity") - 25), 6).as("abs_dev"),
          floor(col("l_extendedprice")).cast("long").as("floor_price"),
          ceil(col("l_extendedprice")).cast("long").as("ceil_price"),
          round(sqrt(col("l_quantity")), 6).as("sqrt_qty"),
          round(pow(col("l_discount") + 1, 2), 6).as("pow_disc"),
          round(log(col("l_extendedprice")), 6).as("ln_price"),
          pmod(col("l_orderkey"), lit(7)).cast("long").as("mod7"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""SELECT l_orderkey, l_linenumber,
            round(abs(l_quantity - 25),6) AS abs_dev,
            CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
            CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
            round(sqrt(l_quantity),6) AS sqrt_qty,
            round(pow(l_discount + 1, 2),6) AS pow_disc,
            round(ln(l_extendedprice),6) AS ln_price,
            CAST(l_orderkey % 7 AS BIGINT) AS mod7
            FROM lineitem WHERE l_orderkey < 100
            ORDER BY l_orderkey, l_linenumber"""))

  /** CASE WHEN + conditional (FILTER-style) aggregation. */
  val q20CaseAgg = GraftQuery(
    "q20_case_agg",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          (sum(when(col("o_orderstatus") === "F",
            expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")))
            .cast("double") / 100).as("sum_f"),
          (sum(when(col("o_orderstatus") === "O",
            expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")))
            .cast("double") / 100).as("sum_o"),
          count(when(col("o_orderstatus") === "P", lit(1))).as("n_p"))
        .orderBy(col("o_orderpriority")),
    Some("""SELECT o_orderpriority,
            CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) / 100 AS sum_f,
            CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) / 100 AS sum_o,
            count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Scalar-subquery pattern: rows above 1.2x their group average
    * (implemented as broadcast self-join against the aggregated groups —
    * the decorrelated plan Catalyst would produce). */
  val q21Subquery = GraftQuery(
    "q21_subquery",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val avgByNation = c.groupBy(col("c_nationkey")).agg(avg(col("c_acctbal")).as("avg_bal"))
      c.join(broadcast(avgByNation), Seq("c_nationkey"))
        .filter(col("c_acctbal") > col("avg_bal") * 1.1)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_nationkey, c_acctbal FROM customer c1
            WHERE c_acctbal > 1.1 * (SELECT avg(c_acctbal) FROM customer c2
                                     WHERE c2.c_nationkey = c1.c_nationkey)
            ORDER BY c_custkey"""))

  /** Statistical aggregates. */
  val q22Stats = GraftQuery(
    "q22_stats",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qty_price"),
          round(min(col("l_extendedprice")), 2).as("min_price"),
          round(max(col("l_extendedprice")), 2).as("max_price"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
            round(stddev_samp(l_quantity),4) AS sd_qty,
            round(var_samp(l_quantity),4) AS var_qty,
            round(corr(l_quantity, l_extendedprice),4) AS corr_qty_price,
            round(covar_samp(l_quantity, l_extendedprice),4) AS cov_qty_price,
            round(min(l_extendedprice),2) AS min_price,
            round(max(l_extendedprice),2) AS max_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Exact interpolated percentiles. */
  val q23Percentile = GraftQuery(
    "q23_percentile",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"))
        .orderBy(col("o_orderstatus")),
    Some("""SELECT o_orderstatus,
            round(quantile_cont(o_totalprice, 0.25),4) AS p25,
            round(quantile_cont(o_totalprice, 0.5),4) AS p50,
            round(quantile_cont(o_totalprice, 0.75),4) AS p75
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Pivot (long -> wide) with explicit value list. */
  val q24Pivot = GraftQuery(
    "q24_pivot",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum(col("l_quantity")), 2))
        .orderBy(col("l_linestatus")),
    Some("""SELECT l_linestatus,
            round(sum(l_quantity) FILTER (WHERE l_returnflag = 'A'),2) AS "A",
            round(sum(l_quantity) FILTER (WHERE l_returnflag = 'N'),2) AS "N",
            round(sum(l_quantity) FILTER (WHERE l_returnflag = 'R'),2) AS "R"
            FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"""))

  /** Generator/UDTF surface: explode(split(...)) — the relational form of
    * the reference's word-split Task
    * (reference: examples/streaming/wordcount/src/main/scala/io/gearpump/streaming/examples/wordcount/Split.scala:36-46). */
  val q25Explode = GraftQuery(
    "q25_explode_wordcount",
    (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20),
    Some("""SELECT word, count(*) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            GROUP BY word ORDER BY n DESC, word LIMIT 20"""),
    headline = true)

  /** GROUP BY + HAVING. */
  val q26Having = GraftQuery(
    "q26_having",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("spend"))
        .filter(col("n_orders") >= 15)
        .orderBy(col("o_custkey")),
    Some("""SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice),2) AS spend
            FROM orders GROUP BY o_custkey HAVING count(*) >= 15
            ORDER BY o_custkey"""))

  /** Array scalar functions (SURVEY §2.8 array_* surface). Arrays are
    * reduced to deterministic scalars (joined strings / sizes) so the
    * cross-engine hash compare is representation-independent. */
  val q29ArrayFuncs = GraftQuery(
    "q29_array_funcs",
    (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), split(col("p_name"), " ").as("w"))
        .select(
          col("p_partkey"),
          size(col("w")).as("n_words"),
          array_join(array_sort(col("w")), ",").as("sorted_csv"),
          array_join(slice(col("w"), 1, 2), ",").as("first2_csv"),
          array_contains(col("w"), "red").as("has_red"),
          size(array_distinct(col("w"))).as("n_distinct"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
            CAST(len(w) AS INTEGER) AS n_words,
            array_to_string(list_sort(w), ',') AS sorted_csv,
            array_to_string(w[1:2], ',') AS first2_csv,
            list_contains(w, 'red') AS has_red,
            CAST(len(list_distinct(w)) AS INTEGER) AS n_distinct
            FROM (SELECT p_partkey, string_split(p_name, ' ') AS w FROM part)
            ORDER BY p_partkey"""))

  /** Map scalar functions (SURVEY §2.8 map_* surface): word -> length map
    * per part name; outputs are order-insensitive scalars (sorted key CSV,
    * one extracted value, cardinality). */
  val q30MapFuncs = GraftQuery(
    "q30_map_funcs",
    (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), array_distinct(split(col("p_name"), " ")).as("ks"))
        .select(col("p_partkey"),
          map_from_arrays(col("ks"), transform(col("ks"), x => length(x))).as("m"))
        .select(
          col("p_partkey"),
          size(col("m")).as("n_keys"),
          array_join(array_sort(map_keys(col("m"))), ",").as("keys_csv"),
          element_at(col("m"), "red").as("len_red"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
            CAST(cardinality(m) AS INTEGER) AS n_keys,
            array_to_string(list_sort(map_keys(m)), ',') AS keys_csv,
            CAST((m['red'])[1] AS INTEGER) AS len_red
            FROM (SELECT p_partkey,
                    MAP(ks, list_transform(ks, x -> len(x))) AS m
                  FROM (SELECT p_partkey, list_distinct(string_split(p_name, ' ')) AS ks
                        FROM part))
            ORDER BY p_partkey"""))

  /** Regex scalar functions: extract, extract-all, match test, match count.
    * Spark regexp_extract_all needs explicit group 0 for group-less patterns
    * (DuckDB defaults to the full match). */
  val q31Regex = GraftQuery(
    "q31_regex",
    (s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
          array_join(regexp_extract_all(col("p_name"), lit("[aeiou]"), lit(0)), "").as("vowels"),
          col("p_name").rlike("e.*t").as("has_e_t"),
          regexp_count(col("p_name"), lit("[aeiou]")).as("n_vowels"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
            regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
            array_to_string(regexp_extract_all(p_name, '[aeiou]'), '') AS vowels,
            regexp_matches(p_name, 'e.*t') AS has_e_t,
            CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INTEGER) AS n_vowels
            FROM part ORDER BY p_partkey"""))

  /** Conditional scalar functions: coalesce / nullif / greatest / least /
    * CASE chains. */
  val q32Conditional = GraftQuery(
    "q32_conditional",
    (s, dir) =>
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          round(greatest(col("c_acctbal"), lit(0.0)), 2).as("bal_clamped"),
          round(least(col("c_acctbal"), lit(1000.0)), 2).as("bal_capped"),
          coalesce(nullif(col("c_nationkey"), lit(5)), lit(-1)).as("nation_or_neg"),
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") < 5000, "mid")
            .otherwise("high").as("bal_band"))
        .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey,
            round(greatest(c_acctbal, 0.0),2) AS bal_clamped,
            round(least(c_acctbal, 1000.0),2) AS bal_capped,
            coalesce(nullif(c_nationkey, 5), -1) AS nation_or_neg,
            CASE WHEN c_acctbal < 0 THEN 'neg'
                 WHEN c_acctbal < 5000 THEN 'mid'
                 ELSE 'high' END AS bal_band
            FROM customer ORDER BY c_custkey"""))

  /** Higher-order array functions: transform / filter / aggregate (fold) —
    * integer folds are exact, so no rounding discipline is needed. */
  val q33HigherOrder = GraftQuery(
    "q33_higher_order",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(
          col("doc_id"),
          aggregate(transform(col("w"), x => length(x)), lit(0),
            (acc, x) => acc + x).cast("long").as("total_chars"),
          size(filter(col("w"), x => length(x) > 4)).as("n_long_words"),
          array_max(transform(col("w"), x => length(x))).as("max_word_len"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
            CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS total_chars,
            CAST(len(list_filter(w, x -> len(x) > 4)) AS INTEGER) AS n_long_words,
            list_max(list_transform(w, x -> CAST(len(x) AS INTEGER))) AS max_word_len
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            ORDER BY doc_id"""))

  /** Top-k per group — the partitioned form of q10's global top-k (SURVEY
    * §2.7 "streaming top-k per window" is this plus a window key). The
    * row_number window shuffles once on the group key; no global sort. */
  val q34TopKPerGroup = GraftQuery(
    "q34_topk_per_group",
    (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk").cast("long").as("rk"),
          col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_orderpriority"), col("rk"))
    },
    Some("""SELECT o_orderpriority, rk, o_orderkey, round(o_totalprice,2) AS price
            FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                    row_number() OVER (PARTITION BY o_orderpriority
                                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
                  FROM orders)
            WHERE rk <= 3 ORDER BY o_orderpriority, rk"""))

  /** Explicit GROUPING SETS (SURVEY §2.5 — beyond rollup/cube) with
    * grouping() indicator columns disambiguating real NULLs from subtotal
    * rows. */
  val q35GroupingSets = GraftQuery(
    "q35_grouping_sets",
    (s, dir) =>
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio"))
        .orderBy(col("g_status"), col("g_prio"), col("o_orderstatus"), col("o_orderpriority")),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
            CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
            CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
            ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority"""))

  /** RANGE window frame — value-based framing (all orders within 1000 of
    * the current price), complementing q9's ROWS frame. Peer rows share a
    * frame, so results are deterministic without a tie-break column. */
  val q36WindowRange = GraftQuery(
    "q36_window_range",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
        .rangeBetween(-1000L, 0L)
      t(s, dir, "orders")
        .withColumn("n_cheaper_near", count(lit(1)).over(w).cast("long"))
        .withColumn("sum_near", round(sum(col("o_totalprice")).over(w), 2))
        .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
          col("n_cheaper_near"), col("sum_near"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS price,
            count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                           RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_cheaper_near,
            round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                  RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW),2) AS sum_near
            FROM orders ORDER BY o_custkey, o_orderkey"""))

  /** Distribution / navigation window functions: ntile, percent_rank,
    * cume_dist, first/last/nth value. percent_rank and cume_dist are single
    * integer divisions — bit-identical across engines, no rounding needed. */
  val q37WindowDist = GraftQuery(
    "q37_window_dist",
    (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .filter(col("o_custkey") < 50)
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .withColumn("cheapest", round(first_value(col("o_totalprice")).over(wf), 2))
        .withColumn("dearest", round(last_value(col("o_totalprice")).over(wf), 2))
        .withColumn("second_cheapest", round(nth_value(col("o_totalprice"), 2).over(wf), 2))
        .select(col("o_orderpriority"), col("o_orderkey"), col("quartile"),
          col("pct_rank"), col("cume"), col("cheapest"), col("dearest"),
          col("second_cheapest"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    },
    Some("""SELECT o_orderpriority, o_orderkey,
            ntile(4) OVER w AS quartile,
            percent_rank() OVER w AS pct_rank,
            cume_dist() OVER w AS cume,
            round(first_value(o_totalprice) OVER wf,2) AS cheapest,
            round(last_value(o_totalprice) OVER wf,2) AS dearest,
            round(nth_value(o_totalprice, 2) OVER wf,2) AS second_cheapest
            FROM orders WHERE o_custkey < 50
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
                   wf AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            ORDER BY o_orderpriority, o_orderkey"""))

  /** Theta/range join (§2.4 nested-loop): price-band categorization via a
    * non-equi BETWEEN join against a tiny inline band table — Spark plans a
    * BroadcastNestedLoopJoin with the band side broadcast; the fact side
    * streams map-side at any scale. */
  val q38RangeJoin = GraftQuery(
    "q38_range_join",
    (s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("budget", 0.0, 50000.0),
        ("mid", 50000.0, 150000.0),
        ("premium", 150000.0, 1e12)).toDF("band", "lo", "hi")
      t(s, dir, "orders")
        .join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("band"))
    },
    Some("""SELECT band, count(*) AS n, round(sum(o_totalprice),2) AS total
            FROM orders JOIN (VALUES ('budget', 0.0, 50000.0),
                                     ('mid', 50000.0, 150000.0),
                                     ('premium', 150000.0, 1e12)) AS b(band, lo, hi)
              ON o_totalprice >= lo AND o_totalprice < hi
            GROUP BY band ORDER BY band"""))

  /** Six-table star join (TPC-H Q5 shape): local-supplier revenue per
    * nation for one region and one order year. The scale discipline:
    * region->nation is a broadcast chain (tiny dims), supplier is
    * broadcast, and the two genuinely large relations (orders filtered by
    * date, lineitem) meet in shuffle joins on their keys — the fact table
    * is never broadcast (q3's PlanInvariantsSpec pins that discipline under
    * a shrunken threshold). Revenue is summed in integer cents so both
    * engines aggregate exactly, independent of float summation order. */
  val q43JoinSix = GraftQuery(
    "q43_join_six",
    (s, dir) => {
      val asiaNations = broadcast(
        t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name")))
      val orders96 = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      t(s, dir, "customer")
        .join(asiaNations, col("c_nationkey") === col("n_nationkey"))
        .join(orders96, col("c_custkey") === col("o_custkey"))
        // SHUFFLE_HASH hint on the dim chain (r18, same finding as q3):
        // unhinted, the size-only estimator made the STATIC plan broadcast
        // the pruned 600k-row lineitem scan as the build side of this join
        // (join outputs are product-estimated, so the chain always looks
        // bigger than the fact) — a per-run driver collect + hash build of
        // the whole fact table (measured 1.02 s min vs 0.85 s hinted). The
        // hinted shape holds at 100 TB: fact and chain exchange on the
        // orderkey, the chain builds per-partition, the fact is never
        // collected, sorted, or broadcast.
        .hint("shuffle_hash")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(expr("cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)"))
            .as("revenue_cents"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue_cents").desc, col("n_name"))
    },
    Some("""SELECT n_name,
              CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents,
              count(*) AS n_items
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
              AND l_suppkey = s_suppkey AND s_nationkey = c_nationkey
              AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= DATE '1996-01-01'
              AND o_orderdate < DATE '1997-01-01'
            GROUP BY n_name ORDER BY revenue_cents DESC, n_name"""),
    headline = true)

  /** Ordered string aggregation (collect + sort + join) — deterministic via
    * sorting the collected values, never relying on arrival order. */
  val q39StringAgg = GraftQuery(
    "q39_string_agg",
    (s, dir) =>
      t(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n"))
        .orderBy(col("n_regionkey")),
    Some("""SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations,
            count(*) AS n
            FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))

  /** Argmax/argmin aggregation (max_by/min_by — DuckDB arg_max/arg_min):
    * "which supplier ships the priciest part per nation" — the associated-
    * value-at-extremum aggregate that otherwise needs a self-join or a
    * window cut. Tie discipline: the extremum is taken over a UNIQUE
    * maximand (extended price + supplier key epsilon) so both engines pick
    * the same row without relying on tie-break order. */
  val q40Argmax = GraftQuery(
    "q40_argmax",
    (s, dir) =>
      t(s, dir, "supplier")
        .join(t(s, dir, "lineitem"),
          col("s_suppkey") === col("l_suppkey"))
        // unique maximand: no two rows share (price, suppkey, orderkey, linenumber)
        .withColumn("m", col("l_extendedprice") * 1000000
          + col("l_orderkey") * 10 + col("l_linenumber"))
        .groupBy(col("s_nationkey"))
        .agg(expr("max_by(s_name, m)").as("top_supplier"),
          round(max(col("l_extendedprice")), 2).as("top_price"),
          expr("min_by(s_name, m)").as("bottom_supplier"))
        .orderBy(col("s_nationkey")),
    Some("""SELECT s_nationkey,
              arg_max(s_name, l_extendedprice * 1000000 + l_orderkey * 10 + l_linenumber) AS top_supplier,
              round(max(l_extendedprice), 2) AS top_price,
              arg_min(s_name, l_extendedprice * 1000000 + l_orderkey * 10 + l_linenumber) AS bottom_supplier
            FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
            GROUP BY s_nationkey ORDER BY s_nationkey"""))

  /** Grouped median (exact): Spark `median` == DuckDB `median` for doubles
    * (even-count groups average the two middle values — deterministic, no
    * percentile interpolation ambiguity). */
  /** Medians are taken over exact integer cents: an even-sized group's
    * median interpolates two middle values, and rounding that midpoint in
    * DOUBLE (e.g. round(52724.245, 2)) falls differently per engine —
    * integer-cent medians are k or k+0.5, both exactly representable, so
    * no rounding is needed at all (bitten at sf0.001 where a group count
    * came out even). */
  val q41Median = GraftQuery(
    "q41_median",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("median(cast(floor(l_extendedprice * 100 + 0.5) as bigint))")
            .as("median_price_cents"),
          expr("median(cast(floor(l_quantity + 0.5) as bigint))").as("median_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
              CAST(median(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                AS median_price_cents,
              CAST(median(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS DOUBLE) AS median_qty,
              count(*) AS n
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Correlated LATERAL subquery with LIMIT — "top-2 customers per nation"
    * as the per-row dependent subquery shape (the SQL-standard form of
    * [[q34TopKPerGroup]]'s window cut). Catalyst DECORRELATES the lateral
    * into a ranked join (DecorrelateInnerQuery rewrites the correlated
    * LIMIT via window functions), so the executed plan is the same
    * shuffle-once ranked aggregate as q34 — per-outer-row re-execution
    * never happens, which is exactly why the declarative form scales. */
  val q42LateralTopN = GraftQuery(
    "q42_lateral_topn",
    (s, dir) => Tables.sql(s, dir,
      """SELECT n.n_name, t.c_name, t.c_acctbal
         FROM nation n, LATERAL (
           SELECT c_name, round(c_acctbal, 2) AS c_acctbal
           FROM customer c
           WHERE c.c_nationkey = n.n_nationkey
           ORDER BY c.c_acctbal DESC, c.c_custkey
           LIMIT 2
         ) t
         ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""", "nation", "customer"),
    Some("""SELECT n.n_name, t.c_name, t.c_acctbal
            FROM nation n, LATERAL (
              SELECT c_name, round(c_acctbal, 2) AS c_acctbal
              FROM customer c
              WHERE c.c_nationkey = n.n_nationkey
              ORDER BY c.c_acctbal DESC, c.c_custkey
              LIMIT 2
            ) t
            ORDER BY n.n_name, t.c_acctbal DESC, t.c_name"""))

  /** MARKET SHARE (TPC-H Q8 shape): NATION_5's share of STANDARD-part
    * revenue sold to ASIA customers, per order year — the ratio-of-
    * conditional-aggregates pattern over an 8-table join (lineitem, orders,
    * customer, part, supplier, nation x2 roles, region).
    *
    * Join discipline at scale: part/supplier/nation/region prune and
    * broadcast (the filters land BEFORE the broadcast, so only matching
    * partkeys ship); lineitem->orders->customer chain shuffles on the join
    * keys with AQE free to re-plan. Revenue is exact integer cents (the
    * [[q43JoinSix]] invariant) so the share numerator/denominator are
    * bit-identical across engines; only the final ratio rounds. */
  val q44MarketShare = GraftQuery(
    "q44_market_share",
    (s, dir) => {
      val asiaNationKeys = broadcast(
        t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey")))
      val asiaCust = t(s, dir, "customer")
        .join(asiaNationKeys, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("o_year"))
      val stdParts = broadcast(
        t(s, dir, "part").filter(col("p_type") === "STANDARD")
          .select(col("p_partkey")))
      val supNation = broadcast(
        t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")))
      t(s, dir, "lineitem")
        .join(stdParts, col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"))
        .join(supNation, col("l_suppkey") === col("s_suppkey"))
        .withColumn("vol_cents",
          expr("cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)"))
        .groupBy(col("o_year"))
        .agg(
          sum(when(col("s_nationkey") === 5, col("vol_cents")).otherwise(0L))
            .as("nation_cents"),
          sum(col("vol_cents")).as("total_cents"))
        .withColumn("mkt_share",
          expr("floor(nation_cents / total_cents * 1e6 + 0.5) / 1e6"))
        .orderBy(col("o_year"))
    },
    Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
              CAST(sum(CASE WHEN s_nationkey = 5
                THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS nation_cents,
              CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents,
              floor(CAST(sum(CASE WHEN s_nationkey = 5
                  THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
                  ELSE 0 END) AS DOUBLE)
                / sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
                * 1e6 + 0.5) / 1e6 AS mkt_share
            FROM lineitem, orders, customer, part, supplier, nation, region
            WHERE l_partkey = p_partkey AND l_orderkey = o_orderkey
              AND o_custkey = c_custkey AND l_suppkey = s_suppkey
              AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA' AND p_type = 'STANDARD'
              AND o_orderdate >= DATE '1996-01-01'
              AND o_orderdate < DATE '1998-01-01'
            GROUP BY o_year ORDER BY o_year"""),
    headline = true)

  /** UNPIVOT / melt (the inverse of [[q24Pivot]]): widen-to-long reshape of
    * per-row measures into (metric, value) pairs — `Dataset.unpivot`, which
    * compiles to a scan-side Expand (each input row emits k metric rows
    * before any exchange; no join, no shuffle except the output sort). */
  val q45Unpivot = GraftQuery(
    "q45_unpivot",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity").as("quantity"),
            col("l_extendedprice").as("extendedprice"),
            col("l_discount").as("discount"),
            col("l_tax").as("tax")),
          "metric", "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric")),
    Some("""SELECT l_orderkey, l_linenumber, metric, value
            FROM (
              SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value
              FROM lineitem WHERE l_orderkey <= 100
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
              FROM lineitem WHERE l_orderkey <= 100
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'discount', l_discount
              FROM lineitem WHERE l_orderkey <= 100
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'tax', l_tax
              FROM lineitem WHERE l_orderkey <= 100)
            ORDER BY l_orderkey, l_linenumber, metric"""))

  /** TPC-H Q17 shape: revenue lost to SMALL-QUANTITY orders of selected
    * brands — the CORRELATED AGGREGATE subquery pattern (`l_quantity <
    * 0.5 * avg(l_quantity) per part`), the aggregate-in-subquery cousin of
    * [[q21Subquery]]'s EXISTS decorrelation. Spelled decorrelated: the
    * brand part list broadcasts, the per-part quantity stats are one
    * key-partitioned aggregate over the brand-restricted fact rows (Q17's
    * correlation makes the unrestricted and restricted stats identical per
    * part), and the threshold is the exact integer cross-multiplication
    * 2*q*cnt < sum_q — quantities are integral, so no division and no
    * float ever enters the predicate. Revenue in exact integer cents (the
    * q1/q43 discipline). */
  val q46SmallQty = GraftQuery(
    "q46_small_qty_revenue",
    (s, dir) => {
      val parts = t(s, dir, "part")
        .filter(col("p_brand").isin("Brand#11", "Brand#12"))
        .select(col("p_partkey"))
      val li = t(s, dir, "lineitem")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"),
          col("l_quantity").cast("long").as("q"),
          expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("cents"))
      val stats = li.groupBy(col("l_partkey"))
        .agg(sum(col("q")).as("sum_q"), count(lit(1)).as("cnt"))
      li.join(stats, Seq("l_partkey"))
        .filter(lit(2L) * col("q") * col("cnt") < col("sum_q"))
        .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("sum_cents"))
        .select(col("n_lines"), col("sum_cents"),
          expr("sum_cents div 7").as("avg_yearly_cents"))
    },
    Some("""WITH p AS (SELECT p_partkey FROM part
                       WHERE p_brand IN ('Brand#11', 'Brand#12')),
            li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
                     CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
                   FROM lineitem JOIN p ON p_partkey = l_partkey),
            st AS (SELECT l_partkey, CAST(sum(q) AS BIGINT) AS sum_q,
                     count(*) AS cnt
                   FROM li GROUP BY l_partkey)
            SELECT count(*) AS n_lines, CAST(sum(cents) AS BIGINT) AS sum_cents,
              CAST(sum(cents) // 7 AS BIGINT) AS avg_yearly_cents
            FROM li JOIN st USING (l_partkey)
            WHERE 2 * q * cnt < sum_q"""))

  /** TPC-H Q18 shape: LARGE-VOLUME ORDERS — the IN-(GROUP BY ... HAVING)
    * subquery pattern, decorrelated to a plain join against the per-order
    * quantity aggregate (which also supplies the reported sum, so the
    * subquery result is computed ONCE, never re-aggregated). Quantity sums
    * are exact longs, the price in integer cents, and the top-100 by price
    * is TakeOrderedAndProject — no global sort. The customer join is left
    * to the planner: at bench scale it broadcasts, at 100 TB customer is
    * fact-sized and AQE picks the shuffled join. */
  val q47LargeOrders = GraftQuery(
    "q47_large_orders",
    (s, dir) => {
      val qty = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("total_cents"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      orders.join(qty, col("o_orderkey") === col("l_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("total_cents"), col("sum_qty"))
        .orderBy(col("total_cents").desc, col("o_orderkey"))
        .limit(100)
    },
    Some("""WITH qty AS (SELECT l_orderkey,
                     CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
                   FROM lineitem GROUP BY l_orderkey
                   HAVING sum(CAST(l_quantity AS BIGINT)) > 250)
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
              CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
              sum_qty
            FROM orders JOIN qty ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY total_cents DESC, o_orderkey LIMIT 100"""))

  /** TPC-H Q11 shape: FRACTION-OF-TOTAL HAVING — suppliers whose revenue
    * share exceeds the uniform share (the "significant stock value" scalar
    * subquery in HAVING). The global total is a 1-row broadcast scalar and
    * the threshold is the exact integer cross-multiplication
    * sum_cents * n_supp > total_cents — no division enters the predicate;
    * the reported share is an integer-scaled division. Bound:
    * sum_cents * 1e6 < 2^63 (per-supplier revenue below ~9.2e12 dollars). */
  val q48ValueShare = GraftQuery(
    "q48_value_share",
    (s, dir) => {
      val bySupp = t(s, dir, "lineitem")
        .select(col("l_suppkey"),
          expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("cents"))
        .groupBy(col("l_suppkey")).agg(sum(col("cents")).as("sum_cents"))
      val totals = broadcast(bySupp.agg(
        sum(col("sum_cents")).as("total_cents"), count(lit(1)).as("n_supp")))
      bySupp.crossJoin(totals)
        .filter(col("sum_cents") * col("n_supp") > col("total_cents"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("sum_cents"),
          expr("cast(sum_cents * 1000000 div total_cents as double) / 1e6")
            .as("share_frac"))
        .orderBy(col("sum_cents").desc, col("s_suppkey"))
    },
    Some("""WITH bysupp AS (SELECT l_suppkey,
                   CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                     AS BIGINT) AS sum_cents
                 FROM lineitem GROUP BY l_suppkey),
            t AS (SELECT CAST(sum(sum_cents) AS BIGINT) AS total_cents,
                    count(*) AS n_supp FROM bysupp)
            SELECT s_suppkey, s_name, sum_cents,
              (sum_cents * 1000000 // total_cents) / 1000000.0 AS share_frac
            FROM bysupp JOIN supplier ON l_suppkey = s_suppkey CROSS JOIN t
            WHERE sum_cents * n_supp > total_cents
            ORDER BY sum_cents DESC, s_suppkey"""))

  /** DISJUNCTIVE-PREDICATE JOIN (TPC-H Q19 shape): an OR-of-ANDs predicate
    * spanning both join sides. The scale discipline: Catalyst extracts the
    * common equi-conjunct (l_partkey = p_partkey) into the hash-join key and
    * evaluates the disjunction as a codegen'd post-join residual — never a
    * nested loop; and the single-side implications of the disjunction
    * (brand ∈ the three literals, quantity ≤ the widest band) are applied
    * as explicit scan-side pre-filters, Q19's classic rewrite, so both
    * scans shrink before the join. */
  val q49Disjunctive = GraftQuery(
    "q49_disjunctive_join",
    (s, dir) => {
      val p = t(s, dir, "part")
        .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      t(s, dir, "lineitem")
        .filter(col("l_quantity").between(1, 35))
        .select(col("l_partkey"), col("l_quantity"),
          expr("cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)")
            .as("cents"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 15)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(11, 20) &&
            col("l_quantity").between(10, 25)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(21, 30) &&
            col("l_quantity").between(20, 35))))
        .groupBy(col("p_brand"))
        .agg(sum(col("cents")).as("revenue_cents"), count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    },
    Some("""SELECT p_brand,
              CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                AS BIGINT)) AS BIGINT) AS revenue_cents,
              count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 1 AND 15)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 11 AND 20
                   AND l_quantity BETWEEN 10 AND 25)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 21 AND 30
                   AND l_quantity BETWEEN 20 AND 35)
            GROUP BY p_brand ORDER BY p_brand"""))

  /** INACTIVE HIGH-BALANCE CUSTOMERS (TPC-H Q22 shape): a global scalar
    * subquery (average positive balance) gating a NOT EXISTS anti-join
    * against recent orders ("no order since 1999" — this corpus gives every
    * customer SOME order, so Q22's no-orders-ever predicate would be
    * vacuous). Exactness discipline: the threshold comparison is
    * cross-multiplied into pure integers (bal_cents * n_pos > pos_cents),
    * so no engine ever divides; the 1-row scalar rides a broadcast
    * crossJoin (BNLJ-allowlisted, the q48 precedent) and the anti-join
    * shuffles only orders' date-filtered custkey column. */
  val q50Inactive = GraftQuery(
    "q50_inactive_high_balance",
    (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)").as("bal_cents"))
      val thr = broadcast(cust.filter(col("bal_cents") > 0)
        .agg(sum(col("bal_cents")).as("pos_cents"), count(lit(1)).as("n_pos")))
      cust.crossJoin(thr)
        .filter(col("bal_cents") * col("n_pos") > col("pos_cents"))
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1999-01-01"))
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          (sum(col("bal_cents")).cast("double") / 100).as("total_bal"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""WITH cust AS (
              SELECT c_custkey, c_mktsegment,
                CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
              FROM customer),
            t AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS pos_cents,
                    count(*) AS n_pos
                  FROM cust WHERE bal_cents > 0)
            SELECT c_mktsegment, count(*) AS n_cust,
              CAST(CAST(sum(bal_cents) AS BIGINT) AS DOUBLE) / 100 AS total_bal
            FROM cust CROSS JOIN t
            WHERE bal_cents * n_pos > pos_cents
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= DATE '1999-01-01')
            GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** SOLE-LATE-SUPPLIER (TPC-H Q21 shape): suppliers who alone held up a
    * multi-supplier order — the classic EXISTS-other-supplier /
    * NOT-EXISTS-other-late-supplier double-correlation, decorrelated here
    * (as Catalyst would) into ONE per-order aggregate (distinct suppliers,
    * distinct late suppliers) joined back to the late-shipper list: the
    * two correlated subqueries collapse into two countDistincts over the
    * same order-keyed shuffle, and lineitem is scanned twice at most
    * (once joined to orders for lateness, once for the late list —
    * Catalyst shares the scan). "Late" = shipped > 90 days after the
    * order date (this schema has no commit/receipt dates). */
  val q51LateSuppliers = GraftQuery(
    "q51_late_suppliers",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > expr("o_orderdate + INTERVAL 90 DAYS")).as("late"))
      val perOrder = li.groupBy(col("l_orderkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("n_late"))
        .filter(col("n_supp") >= 2 && col("n_late") === 1)
        .select(col("l_orderkey"))
      val lateSupp = li.filter(col("late"))
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      lateSupp.join(perOrder, "l_orderkey")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_waiting"))
        .join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_waiting"))
        .orderBy(col("n_waiting").desc, col("s_suppkey"))
    },
    Some("""WITH li AS (
              SELECT l.l_orderkey, l.l_suppkey,
                l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS late
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
            per_o AS (
              SELECT l_orderkey FROM (
                SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp,
                  count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
                FROM li GROUP BY l_orderkey)
              WHERE n_supp >= 2 AND n_late = 1),
            ls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late)
            SELECT s.s_suppkey, s.s_name, count(*) AS n_waiting
            FROM ls JOIN per_o USING (l_orderkey)
            JOIN supplier s ON ls.l_suppkey = s.s_suppkey
            GROUP BY s.s_suppkey, s.s_name
            ORDER BY n_waiting DESC, s_suppkey"""))

  /** ORDER-PRIORITY REPORT (TPC-H Q4 shape): orders per priority in one
    * quarter having AT LEAST ONE late lineitem — the canonical
    * EXISTS-correlated count, expressed as the left-semi join Catalyst
    * decorrelates it to. Scale shape: the date filter prunes orders at the
    * scan, the semi-join shuffles only (orderkey) from the lateness-
    * filtered lineitem projection, and the final count groups five rows. */
  val q52PriorityReport = GraftQuery(
    "q52_priority_report",
    (s, dir) => {
      val orders96q1 = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-04-01"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      val late = t(s, dir, "lineitem")
        .join(orders96q1.select(col("o_orderkey").as("k"), col("o_orderdate")),
          col("l_orderkey") === col("k"))
        .filter(col("l_shipdate") > expr("o_orderdate + INTERVAL 60 DAYS"))
        .select(col("l_orderkey"))
      orders96q1.join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o_orderdate >= DATE '1996-01-01'
              AND o_orderdate < DATE '1996-04-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
            GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** PROMO REVENUE SHARE by month (TPC-H Q14 shape): the
    * ratio-of-conditional-aggregates report — promo revenue over total
    * revenue per shipping month. Both numerator and denominator are exact
    * integer-cents sums; the share is integer cross-multiplied to micro
    * units (non-negative div), so no float ever aggregates. One broadcast
    * of the part dimension; revenue partial-aggregates map-side on the
    * month key (12-24 groups). */
  val q53PromoShare = GraftQuery(
    "q53_promo_share",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .select(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
          expr("cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)")
            .as("cents"),
          (col("p_type") === "PROMO").as("is_promo"))
        .groupBy(col("ship_month"))
        .agg(sum(when(col("is_promo"), col("cents")).otherwise(0L)).as("promo_cents"),
          sum(col("cents")).as("total_cents"))
        .withColumn("promo_share_micro",
          expr("cast(promo_cents * 1000000 div total_cents as bigint)"))
        .orderBy(col("ship_month")),
    Some("""SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
              CAST(sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS promo_cents,
              CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents,
              CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
                ELSE 0 END) AS BIGINT) * 1000000
                // CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT)
                AS BIGINT) AS promo_share_micro
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1997-01-01'
            GROUP BY ship_month ORDER BY ship_month"""))

  /** CUSTOMER ORDER-COUNT DISTRIBUTION (TPC-H Q13 shape): how many
    * customers placed exactly k orders, INCLUDING the zero-order customers
    * the left outer join preserves — the double-aggregation
    * (join → per-customer count → histogram of counts) that famously
    * stresses outer-join + two-level grouping. Scale shape: the join and
    * first count shuffle on the customer key once; the histogram is a
    * count-keyed aggregation over customer-sized rows. */
  val q54CustDist = GraftQuery(
    "q54_customer_distribution",
    (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .join(t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc),
    Some("""SELECT c_count, count(*) AS custdist
            FROM (SELECT c_custkey, count(o_orderkey) AS c_count
                  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                  GROUP BY c_custkey)
            GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""))

  /** RETURNED-ITEM REVENUE, top 20 customers (TPC-H Q10 shape): who cost
    * us the most in returns last quarter. The scale discipline mirrors
    * q43: orders date-filtered and lineitem returnflag-filtered AT THE
    * SCAN (both predicates push to parquet), the two facts meet in a
    * shuffle join on orderkey, the customer dimension joins on custkey,
    * nation broadcasts, and the top-20 is TakeOrderedAndProject (revenue
    * in exact integer cents with custkey tie-break) — no global sort. */
  val q55ReturnedRevenue = GraftQuery(
    "q55_returned_revenue",
    (s, dir) => {
      val orders = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-04-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val returned = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          expr("cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)")
            .as("cents"))
      returned.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("cents")).as("revenue_cents"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"), col("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("c_custkey"))
        .limit(20)
    },
    Some("""SELECT c_custkey, c_name, n_name,
              CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM customer, orders, lineitem, nation
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND c_nationkey = n_nationkey
              AND l_returnflag = 'R'
              AND o_orderdate >= DATE '1996-01-01'
              AND o_orderdate < DATE '1996-04-01'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue_cents DESC, c_custkey LIMIT 20"""))

  /** FORECASTING REVENUE CHANGE (TPC-H Q6 shape): the would-be revenue
    * gain from eliminating a discount band — one full-scan aggregate whose
    * ENTIRE predicate (ship year, discount band, quantity cap) pushes to
    * the parquet scan, the canonical scan-throughput probe (Q6 is the
    * TPC-H query storage vendors race). Revenue in exact integer cents
    * (price*discount is one double product, identical on both engines,
    * floor-scaled per row before the sum). */
  val q56ForecastRevenue = GraftQuery(
    "q56_forecast_revenue",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(count(lit(1)).as("n_items"),
          sum(expr("cast(floor(l_extendedprice * l_discount * 100 + 0.5) as bigint)"))
            .as("revenue_cents")),
    Some("""SELECT count(*) AS n_items,
              CAST(sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
            FROM lineitem
            WHERE l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24"""))

  /** MIN-COST SUPPLIER (TPC-H Q2 shape): for each small STANDARD part,
    * the EUROPE supplier(s) matching the MINIMUM supply cost for that part
    * — the classic correlated scalar-MIN subquery over a 4-dim join
    * (part, supplier, nation, region + the supply relation), written AS
    * the correlated SQL so Catalyst's RewriteCorrelatedScalarSubquery path
    * is exercised and pinned: the subquery decorrelates into a per-part
    * min aggregate joined back, never a per-row re-execution. This schema
    * has no partsupp table, so the supply relation is derived from
    * lineitem: cost(part, supplier) = min line price in exact integer
    * cents (deterministic, engine-exact). */
  val q57MinCostSupplier = GraftQuery(
    "q57_min_cost_supplier",
    (s, dir) => Tables.sql(s, dir, Q57Sql, "part", "supplier", "nation", "region", "lineitem"),
    Some(Q57Sql))

  private lazy val Q57Sql =
    """WITH supply AS (
         SELECT l_partkey, l_suppkey,
                min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cost_cents
         FROM lineitem GROUP BY l_partkey, l_suppkey),
       eur AS (
         SELECT s_suppkey, s_name, n_name
         FROM supplier
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'EUROPE')
       SELECT p_partkey, p_name, s_name, n_name, cost_cents
       FROM part, supply, eur
       WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
         AND p_type = 'STANDARD' AND p_size <= 10
         AND cost_cents = (
           SELECT min(s2.cost_cents)
           FROM supply s2 JOIN eur e2 ON e2.s_suppkey = s2.l_suppkey
           WHERE s2.l_partkey = p_partkey)
       ORDER BY n_name, s_name, p_partkey"""

  /** PROFIT BY NATION AND YEAR (TPC-H Q9 shape): supplier-nation profit on
    * red parts per order year — the 5-table star (lineitem, part LIKE
    * filter, supplier, orders, nation) with a COMPUTED measure. This
    * schema has no partsupp, so unit cost is the part's retail price:
    * profit = discounted revenue − retail_cost × quantity, all in exact
    * integer cents (revenue per the [[q43JoinSix]] invariant, cost as
    * retail cents × integral quantity) so accumulation order can't flip a
    * bit. Scale shape: the LIKE-pruned part and supplier⋈nation dims
    * broadcast, lineitem⋈orders shuffles on the order key, AQE free to
    * re-plan. */
  val q58ProfitByNation = GraftQuery(
    "q58_profit_by_nation_year",
    (s, dir) => {
      val redParts = broadcast(
        t(s, dir, "part").filter(col("p_name").like("%red%"))
          .select(col("p_partkey"),
            expr("cast(floor(p_retailprice * 100 + 0.5) as bigint)").as("retail_cents")))
      val supNation = broadcast(
        t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name")))
      t(s, dir, "lineitem")
        .join(redParts, col("l_partkey") === col("p_partkey"))
        .join(supNation, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders")
            .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("amount_cents",
          expr("""cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)
                  - retail_cents * cast(floor(l_quantity + 0.5) as bigint)"""))
        .groupBy(col("n_name"), col("o_year"))
        .agg(sum(col("amount_cents")).as("profit_cents"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"), col("o_year").desc)
    },
    Some("""SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
              CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
                - CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
                  * CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS profit_cents,
              count(*) AS n_items
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%red%'
            GROUP BY n_name, o_year
            ORDER BY n_name, o_year DESC"""))

  /** CONCENTRATED SUPPLIERS (TPC-H Q20 shape): suppliers whose single
    * largest 1996 shipment of some red-prefixed part exceeded HALF their
    * total 1996 volume of that part — the nested-IN-with-correlated-
    * aggregate gate (supplier IN (... part IN (...) AND capacity >
    * correlated SUM)), written AS the nested SQL so Catalyst's
    * double-correlated (partkey, suppkey) scalar-aggregate decorrelation
    * is exercised and pinned. All quantities are exact integers; the
    * half-threshold is integer cross-multiplied (cap × 2 > total), so no
    * float divides anywhere. */
  val q59ConcentratedSuppliers = GraftQuery(
    "q59_concentrated_suppliers",
    (s, dir) => Tables.sql(s, dir, Q59Sql, "part", "supplier", "nation", "lineitem"),
    Some(Q59Sql))

  private lazy val Q59Sql =
    """SELECT s_name, n_name
       FROM supplier JOIN nation ON s_nationkey = n_nationkey
       WHERE s_suppkey IN (
         SELECT sp.l_suppkey FROM (
           SELECT l_partkey, l_suppkey,
                  max(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS cap_qty
           FROM lineitem
           WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
           GROUP BY l_partkey, l_suppkey) sp
         WHERE sp.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
           AND sp.cap_qty * 2 > (
             SELECT CAST(sum(CAST(floor(l2.l_quantity + 0.5) AS BIGINT)) AS BIGINT)
             FROM lineitem l2
             WHERE l2.l_partkey = sp.l_partkey AND l2.l_suppkey = sp.l_suppkey
               AND l2.l_shipdate >= DATE '1996-01-01'
               AND l2.l_shipdate < DATE '1997-01-01'))
       ORDER BY s_name"""

  /** SHIPPING PRIORITY (TPC-H Q3 shape): top-10 not-yet-shipped orders of
    * BUILDING-segment customers by outstanding revenue — the classic
    * date-straddle join (orders placed BEFORE the cutoff whose lineitems
    * ship AFTER it). Scale shape: both date filters reach their scans
    * (PushedFilters), the segment-pruned customer dim broadcasts, the
    * order-keyed aggregation feeds TakeOrderedAndProject — no global
    * sort. Revenue in exact integer cents. */
  val q60ShippingPriority = GraftQuery(
    "q60_shipping_priority",
    (s, dir) => {
      val cutoff = "1997-06-01"
      val bldg = broadcast(
        t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey")))
      t(s, dir, "orders")
        .filter(col("o_orderdate") < lit(cutoff))
        .join(bldg, col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "lineitem").filter(col("l_shipdate") > lit(cutoff)),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(expr(
          "cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)"))
          .as("revenue_cents"))
        .select(col("l_orderkey"), col("revenue_cents"),
          col("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue_cents").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    },
    Some("""SELECT l_orderkey,
              CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                AS BIGINT)) AS BIGINT) AS revenue_cents,
              o_orderdate, o_orderpriority
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate < DATE '1997-06-01'
              AND l_shipdate > DATE '1997-06-01'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue_cents DESC, o_orderdate, l_orderkey LIMIT 10"""))

  /** BILATERAL TRADE VOLUME (TPC-H Q7 shape): shipping revenue between two
    * nations in BOTH directions per ship year — the two-role nation join
    * (supplier's nation x customer's nation) with a symmetric disjunctive
    * pair filter. The single-side IMPLICATIONS of the disjunction
    * (each role's nation ∈ {the two nations}) are applied as explicit
    * dimension pre-filters — the Q19 discipline — so supplier and
    * customer shrink to the two nations' members BEFORE any fact row is
    * touched, and the pruned supplier broadcast prunes lineitem first;
    * only the pair combination remains as the post-join residual. */
  val q61NationVolume = GraftQuery(
    "q61_nation_volume",
    (s, dir) => {
      val pair = Seq("NATION_12", "NATION_10")
      val n1 = broadcast(t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation")))
      val sup = broadcast(t(s, dir, "supplier")
        .join(n1, col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("supp_nation")))
      val cust = t(s, dir, "customer")
        .join(n2, col("c_nationkey") === col("cn_key"))
        .select(col("c_custkey"), col("cust_nation"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_10") ||
          (col("supp_nation") === "NATION_10" && col("cust_nation") === "NATION_12"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(expr(
          "cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)"))
          .as("revenue_cents"),
          count(lit(1)).as("n_items"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
    Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              CAST(year(l_shipdate) AS INTEGER) AS l_year,
              CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                AS BIGINT)) AS BIGINT) AS revenue_cents,
              count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
                OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
              AND l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1998-01-01'
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year"""))

  /** LATE-SHIPMENT PRIORITY MIX (TPC-H Q12 shape): per return flag (this
    * schema's shipmode analog), how many late-shipped 1996 lineitems
    * belonged to high- vs low-priority orders — the conditional-count
    * pivot over an order⋈lineitem join with the lateness predicate as the
    * join residual. Exact integer counts; one 3-group shuffle. */
  val q62LatePriorityMix = GraftQuery(
    "q62_late_priority_mix",
    (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .join(t(s, dir, "lineitem")
            .filter(col("l_shipdate") >= lit("1996-01-01") &&
              col("l_shipdate") < lit("1997-01-01"))
            .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > expr("o_orderdate + INTERVAL 60 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1997-01-01'
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
            GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** TOP SUPPLIER (TPC-H Q15 shape): the supplier(s) whose 1996-Q1 revenue
    * equals the global maximum — the uncorrelated scalar-MAX subquery over
    * a shared aggregate (Q15's view), expressed as SQL so the
    * ScalarSubquery + CTE-reuse path is exercised: the revenue aggregate
    * computes once, the 1-row max broadcasts back as a filter. Ties are
    * all returned (Q15 semantics), deterministically ordered. */
  val q63TopSupplier = GraftQuery(
    "q63_top_supplier",
    (s, dir) => Tables.sql(s, dir, Q63Sql, "supplier", "lineitem"),
    Some(Q63Sql))

  private lazy val Q63Sql =
    """WITH revenue AS (
         SELECT l_suppkey AS supplier_no,
                CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                  AS BIGINT)) AS BIGINT) AS total_cents
         FROM lineitem
         WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, total_cents
       FROM supplier JOIN revenue ON s_suppkey = supplier_no
       WHERE total_cents = (SELECT max(total_cents) FROM revenue)
       ORDER BY s_suppkey"""

  /** SUPPLIER-PART STATS (TPC-H Q16 shape): distinct suppliers per
    * (brand, size) for non-excluded parts, excluding flagged suppliers via
    * NOT IN — the null-aware anti-join Catalyst path (distinct from the
    * NOT EXISTS anti-joins of q5/q50). The supply relation derives from
    * lineitem (no partsupp in this schema); the flagged-supplier list
    * (negative balance) is key-only and broadcasts as the anti side. */
  val q64SupplierPartStats = GraftQuery(
    "q64_supplier_part_stats",
    (s, dir) => Tables.sql(s, dir, Q64Sql, "part", "supplier", "lineitem"),
    Some(Q64Sql))

  private lazy val Q64Sql =
    """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
         AND l_suppkey NOT IN (
           SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       GROUP BY p_brand, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_size LIMIT 40"""

  val all: Seq[GraftQuery] = Seq(
    q1Agg, q2JoinBroadcast, q3JoinMulti, q4SemiJoin, q5AntiJoin, q6OuterJoin,
    q7FullOuter, q8WindowRank, q9WindowRunning, q10TopK, q11Union,
    q12Intersect, q13Except, q14Rollup, q15Cube, q16Distinct, q17ScalarString,
    q18ScalarDatetime, q19ScalarMath, q20CaseAgg, q21Subquery, q22Stats,
    q23Percentile, q24Pivot, q25Explode, q26Having, q29ArrayFuncs, q30MapFuncs,
    q31Regex, q32Conditional, q33HigherOrder, q34TopKPerGroup, q35GroupingSets,
    q36WindowRange, q37WindowDist, q38RangeJoin, q39StringAgg, q40Argmax,
    q41Median, q42LateralTopN, q43JoinSix, q44MarketShare, q45Unpivot,
    q46SmallQty, q47LargeOrders, q48ValueShare, q49Disjunctive, q50Inactive,
    q51LateSuppliers, q52PriorityReport, q53PromoShare, q54CustDist,
    q55ReturnedRevenue, q56ForecastRevenue, q57MinCostSupplier,
    q58ProfitByNation, q59ConcentratedSuppliers, q60ShippingPriority,
    q61NationVolume, q62LatePriorityMix, q63TopSupplier, q64SupplierPartStats)
}
