package graft.operators

import graft.{GraftQuery, Pin, Tables}
import graft.functions.md5Prefix
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-time operators over the `events` table — the batch-side semantics
  * of the reference's event-time machinery. The same Spark expressions run
  * unchanged under Structured Streaming (graft.streaming does exactly that);
  * verifying them in batch against the DuckDB oracle pins the semantics.
  *
  * Reference anchors:
  *  - tumbling/sliding windows: WindowState's Interval algebra
  *    (reference: streaming/src/main/scala/io/gearpump/streaming/state/impl/WindowState.scala:82-158,
  *    WindowConfig size+step at state/impl/WindowConfig.scala:17-21) —
  *    replaced 1:1 by Spark's `window(col, size, step)` slicing.
  *  - event-time filtering on replay: TimeStampFilter
  *    (reference: streaming/src/main/scala/io/gearpump/streaming/transaction/api/TimeStampFilter.scala:23-25)
  *    → plain `filter` on the event-time column.
  */
object EventOps {
  private def t(s: SparkSession, dir: String, n: String) = Tables.t(s, dir, n)

  /** Event-time window aggregate over a (kind, ts, value) frame: count and
    * 4dp value sum per (window start, kind); `step` == `size` is tumbling.
    * Shared by ev_window_tumbling/sliding and
    * [[graft.api.EventAnalytics.windowedCounts]]. */
  private[graft] def windowAgg(ev: DataFrame, size: String, step: String): DataFrame =
    ev.groupBy(window(col("ts"), size, step).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"),
        col("sum_value"))

  /** Session-window aggregate over a (user_id, ts, value) frame at the
    * given inactivity gap. Shared by ev_sessionize and
    * [[graft.api.EventAnalytics.sessionize]]. */
  private[graft] def sessionAgg(ev: DataFrame, gap: String): DataFrame =
    ev.groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Generic as-of join: for each left row (k, ts, lid), the latest right
    * ts (k, ts) at-or-before it — the scale-friendly union + one-shuffle +
    * last(ignoreNulls) construction, no row-exploding range join. Right
    * rows at an equal ts count (they sort before left rows on the
    * tie-break). Shared by ev_asof_join and
    * [[graft.api.EventAnalytics.asOfJoin]].
    * @return (lid, k, ts, asof_ts) — left rows with no prior right dropped */
  private[graft] def asofLatest(left: DataFrame, right: DataFrame): DataFrame = {
    val lidType = left.schema(2).dataType
    val l = left.toDF("k", "ts", "lid")
      .select(col("k"), col("ts"), lit(null).cast("timestamp").as("r_ts"),
        col("lid"), lit(1).as("is_l"))
    val r = right.toDF("k", "ts")
      .select(col("k"), col("ts"), col("ts").as("r_ts"),
        lit(null).cast(lidType).as("lid"), lit(0).as("is_l"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("ts"), col("is_l"))
      .rowsBetween(Window.unboundedPreceding, 0)
    r.unionByName(l)
      .withColumn("asof_ts", last(col("r_ts"), ignoreNulls = true).over(w))
      .filter(col("is_l") === 1 && col("asof_ts").isNotNull)
      .select(col("lid"), col("k"), col("ts"), col("asof_ts"))
  }

  /** Two-step funnel counts over a (user_id, event_type, ts) frame: users
    * whose first `firstStep` precedes their last `thenStep`, with both
    * step counts. Shared by ev_funnel and
    * [[graft.api.EventAnalytics.funnel]].
    * @return (user_id, n_first, n_then) */
  private[graft] def funnelCounts(ev: DataFrame,
      firstStep: String, thenStep: String): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === firstStep, col("ts"))).as("first_a"),
        max(when(col("event_type") === thenStep, col("ts"))).as("last_b"),
        count(when(col("event_type") === firstStep, lit(1))).as("n_first"),
        count(when(col("event_type") === thenStep, lit(1))).as("n_then"))
      .filter(col("first_a") < col("last_b"))
      .select(col("user_id"), col("n_first"), col("n_then"))

  /** Forward fill (LOCF) over a (event_id, user_id, ts, v) frame: every
    * row carries the most recent non-null `v` of the same user in
    * (ts, event_id) order. One shuffle (by user), one ordered pass via a
    * running `last(ignoreNulls)` frame — no self-join, no per-gap
    * subqueries. Shared by ev_forward_fill and
    * [[graft.api.EventAnalytics.forwardFill]].
    * Unordered — the registry wrapper appends its oracle ORDER BY.
    * @return (event_id, user_id, v, filled) */
  private[graft] def forwardFillOn(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("v"), col("filled"))
  }

  /** The per-key resample grid over a (user_id, ts_us, …) frame:
    * ceil-aligned instants from the first to the last observation in
    * `step`-microsecond steps, via a scan-side `sequence` explode — one
    * tiny per-key bounds aggregate, no per-grid-point probe. */
  private def resampleGridOf(ev: DataFrame, step: Long): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
      .withColumn("start", expr(s"((mn + ${step - 1}) div $step) * $step"))
      .filter(col("start") <= col("mx"))
      .select(col("user_id"),
        explode(expr(s"sequence(start, mx, $step)")).as("ts_us"))

  /** LOCF resample over a (user_id, ts_us, event_id, v) frame: each grid
    * instant takes the latest observation at-or-before it. Grid and
    * events union once; ONE keyed window pass (grid rows sort after
    * same-instant events, so a reading AT the instant is picked up).
    * Shared by ev_resample_grid and
    * [[graft.api.EventAnalytics.resample]].
    * Unordered — the registry wrapper appends its oracle ORDER BY.
    * @return (user_id, grid_ts, v_filled) */
  private[graft] def resampleLocfOn(ev: DataFrame, step: Long): DataFrame = {
    val grid = resampleGridOf(ev, step)
      .select(col("user_id"), col("ts_us"),
        lit(0L).as("event_id"), lit(null).cast("double").as("v"),
        lit(1).as("is_grid"))
    val union = ev.withColumn("is_grid", lit(0))
      .select(col("user_id"), col("ts_us"), col("event_id"), col("v"), col("is_grid"))
      .unionByName(grid)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("is_grid"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    union.withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
      .filter(col("is_grid") === 1)
      .select(col("user_id"),
        expr("timestamp_micros(ts_us)").as("grid_ts"), col("v_filled"))
  }

  /** Linear-interpolation resample over a (user_id, ts_us, event_id, v)
    * frame: each grid instant gets the time-weighted value between its
    * surrounding observations — v = prev + (next−prev)·(t−t_prev)/
    * (t_next−t_prev) — and holds past the last one (`mode` says which).
    * Same single-window shape as LOCF: one union, one keyed ordered pass
    * carrying (prev_ts, prev_v) backward and (next_ts, next_v) forward.
    * Null-valued observations do not anchor (their ts_ev is null, so
    * prev/next always pair ts and v from the SAME event). Shared by
    * ev_resample_interpolate and [[graft.api.EventAnalytics.resample]].
    * Unordered — the registry wrapper appends its oracle ORDER BY.
    * @return (user_id, grid_ts, v_interp, mode) */
  private[graft] def resampleLinearOn(ev: DataFrame, step: Long): DataFrame = {
    val grid = resampleGridOf(ev, step)
      .select(col("user_id"), col("ts_us"), lit(0L).as("event_id"),
        lit(null).cast("long").as("ts_ev"), lit(null).cast("double").as("v"),
        lit(1).as("is_grid"))
    val union = ev
      .select(col("user_id"), col("ts_us"), col("event_id"),
        when(col("v").isNotNull, col("ts_us")).as("ts_ev"),
        col("v"), lit(0).as("is_grid"))
      .unionByName(grid)
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("is_grid"), col("event_id"))
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    union
      .withColumn("prev_ts", last(col("ts_ev"), ignoreNulls = true).over(back))
      .withColumn("prev_v", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("next_ts", first(col("ts_ev"), ignoreNulls = true).over(fwd))
      .withColumn("next_v", first(col("v"), ignoreNulls = true).over(fwd))
      .filter(col("is_grid") === 1)
      .select(col("user_id"),
        expr("timestamp_micros(ts_us)").as("grid_ts"),
        expr("""case when next_ts is null then prev_v
                     else prev_v + (next_v - prev_v)
                          * (cast(ts_us - prev_ts as double)
                             / cast(next_ts - prev_ts as double)) end""")
          .as("v_interp"),
        expr("case when next_ts is null then 'hold' else 'interp' end").as("mode"))
  }

  /** Calendar units date_trunc actually understands — anything else
    * returns NULL, which would silently collapse every event into ONE
    * (key, NULL) rate-limit window (caught by the r15 review: per =
    * "days" throttled users to maxPer events TOTAL). */
  private val TruncUnits = Set("year", "yyyy", "yy", "quarter", "month",
    "mon", "mm", "week", "day", "dd", "hour", "minute", "second",
    "millisecond", "microsecond")

  /** Per-key rate limiting over a (event_id, user_id, ts) frame: keep at
    * most `maxPer` events per user per `unit` (day/hour/week…), in (ts,
    * event_id) order — one ranked window per (user, window) partition, no
    * self-join. Shared by ev_rate_limit and
    * [[graft.api.EventAnalytics.rateLimit]].
    * Unordered — the registry wrapper appends its oracle ORDER BY.
    * @return (event_id, user_id, window_start) */
  private[graft] def rateLimitOn(ev: DataFrame, maxPer: Int,
      unit: String): DataFrame = {
    require(TruncUnits(unit.toLowerCase),
      s"rate-limit unit '$unit' is not a date_trunc unit " +
        s"(valid: ${TruncUnits.toSeq.sorted.mkString(", ")})")
    ev.withColumn("window_start", date_trunc(unit, col("ts")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("window_start"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") <= maxPer)
      .select(col("event_id"), col("user_id"), col("window_start"))
  }

  /** Per-group z-score anomaly flagging over a (event_id, event_type,
    * value) frame: rows whose |z| clears `threshold` against their
    * group's mean/std. Mean and variance come from EXACT integer-scaled
    * sums (values floored to 1e-6 before summing), so aggregation order
    * cannot move a bit; the stats table is tiny and broadcast back.
    * Constant groups (std = 0) are dropped — z would be 0/0. Shared by
    * ev_anomaly_zscore and [[graft.api.EventAnalytics.anomalyZScore]].
    * Unordered — the registry wrapper appends its oracle ORDER BY.
    * @return (event_id, event_type, value_r, z) */
  private[graft] def anomalyZscoreOn(ev: DataFrame,
      threshold: Double): DataFrame = {
    val v6 = ev.withColumn("v6",
      expr("cast(floor(value * 1e6 + 0.5) as decimal(38,0))"))
    // count(v6), not count(*): null values are excluded from s1/s2, so
    // counting them into n would bias mean and std low for any user frame
    // containing nulls (r15 review); null rows themselves drop out at the
    // z filter either way
    val stats = v6.groupBy(col("event_type"))
      .agg(count(col("v6")).as("n"), sum(col("v6")).as("s1"),
        sum(col("v6") * col("v6")).as("s2"))
      .select(col("event_type"),
        expr("cast(s1 as double) / n / 1e6").as("mean"),
        expr("sqrt(greatest(cast(s2 as double) / n / 1e12 - pow(cast(s1 as double) / n / 1e6, 2), cast(0.0 as double)))").as("std"))
    v6.join(broadcast(stats), "event_type")
      .filter(col("std") > 0)
      .withColumn("z", expr("floor((value - mean) / std * 1e4 + 0.5) / 1e4"))
      .filter(abs(col("z")) >= threshold)
      .select(col("event_id"), col("event_type"),
        expr("floor(value * 1e6 + 0.5) / 1e6").as("value_r"), col("z"))
  }

  /** Weekly cohort retention over a (user_id, ts) frame: users bucketed
    * by first-seen week, counted per (cohort week, weeks-since) offset —
    * two aggregates and one join, all key-partitioned. Shared by
    * ev_cohort_retention and
    * [[graft.api.EventAnalytics.cohortRetention]].
    * Unordered — the registry wrapper appends its oracle ORDER BY.
    * @return (cohort_week, week_offset, n_users) */
  private[graft] def cohortRetentionOn(ev: DataFrame): DataFrame = {
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val activity = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("act_week"))
      .distinct()
    activity.join(firstSeen, "user_id")
      .select(col("user_id"), col("cohort_week").cast("date").as("cohort_week"),
        (datediff(col("act_week"), col("cohort_week")) / 7).cast("int").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Strict ordered 3-step funnel over a (user_id, event_type, ts)
    * frame: step 2 must follow the user's first step-1 event, step 3 the
    * resulting step-2 anchor. Anchors chain through three per-user window
    * minimums in ONE keyed pass — no self-joins; rates are non-negative
    * integer micro-divs with nullif guards. Shared by ev_funnel_steps and
    * [[graft.api.EventAnalytics.funnelSteps]].
    * Unordered — the registry wrapper appends its oracle ORDER BY.
    * @return (step, gate, n_users, conv_step_micro, conv_total_micro) */
  private[graft] def funnelStepsOn(ev: DataFrame,
      s1: String, s2: String, s3: String): DataFrame = {
    // step names are Column-API lit()s, never SQL-literal text: an earlier
    // selectExpr spelling had to escape quotes AND backslashes, and the
    // backslash doubling was only correct while
    // spark.sql.parser.escapedStringLiterals stayed at its default —
    // lit() carries the string verbatim under any parser conf (r15 advice)
    val w = Window.partitionBy(col("user_id"))
    def row(step: Int, gate: String, u: String, stepC: Column,
        totC: Column) =
      struct(lit(step).as("step"), lit(gate).as("gate"),
        col(u).as("n_users"), stepC.as("conv_step_micro"),
        totC.as("conv_total_micro"))
    ev.withColumn("t1", min(when(col("event_type") === s1, col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === s2 && col("ts") > col("t1"),
        col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === s3 && col("ts") > col("t2"),
        col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"), min(col("t3")).as("t3"))
      .agg(count(col("t1")).as("u1"), count(col("t2")).as("u2"),
        count(col("t3")).as("u3"))
      .withColumn("c2", expr("u2 * 1000000 div nullif(u1, 0)"))
      .withColumn("c3s", expr("u3 * 1000000 div nullif(u2, 0)"))
      .withColumn("c3t", expr("u3 * 1000000 div nullif(u1, 0)"))
      .select(inline(array(
        row(1, s1, "u1", lit(1000000L), lit(1000000L)),
        row(2, s"${s2}_after_$s1", "u2", col("c2"), col("c2")),
        row(3, s"${s3}_after_$s2", "u3", col("c3s"), col("c3t")))))
  }

  /** Tumbling event-time window aggregate (size == step,
    * reference: state/impl/WindowConfig.scala:21). Epoch-aligned in both
    * Spark (`window`) and DuckDB (`time_bucket`). */
  val tumbling = GraftQuery(
    "ev_window_tumbling",
    (s, dir) =>
      windowAgg(t(s, dir, "events")
        .select(col("event_type"), col("ts"), col("value")), "1 hour", "1 hour")
        .orderBy(col("w_start"), col("event_type")),
    Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
            count(*) AS n, round(sum(value),4) AS sum_value
            FROM events GROUP BY w_start, event_type
            ORDER BY w_start, event_type"""),
    headline = true)

  /** Sliding event-time window (size 1h, step 30m): every event lands in 2
    * windows. Oracle replicates Spark's window slicing by enumerating the
    * k in {0,1} windows containing each event. */
  val sliding = GraftQuery(
    "ev_window_sliding",
    (s, dir) =>
      windowAgg(t(s, dir, "events")
        .select(col("event_type"), col("ts"), col("value")), "1 hour", "30 minutes")
        .orderBy(col("w_start"), col("event_type")),
    Some("""SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS w_start,
            event_type, count(*) AS n, round(sum(value),4) AS sum_value
            FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
            GROUP BY w_start, event_type
            ORDER BY w_start, event_type"""))

  /** Session windows (30 min inactivity gap) per user. Oracle uses the
    * classic gaps-and-islands construction; the break condition matches
    * Spark's session_window merge rule (sessions merge only when the next
    * event is strictly inside [start, last+gap)). */
  val session = GraftQuery(
    "ev_sessionize",
    (s, dir) =>
      sessionAgg(t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("value")), "30 minutes")
        .orderBy(col("user_id"), col("session_start")),
    Some("""WITH marked AS (
              SELECT user_id, ts, value,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS brk
              FROM events),
            numbered AS (
              SELECT user_id, ts, value,
                CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
              FROM marked)
            SELECT user_id, min(ts) AS session_start,
              count(*) AS n_events, round(sum(value),4) AS sum_value
            FROM numbered GROUP BY user_id, sid
            ORDER BY user_id, session_start"""))

  /** As-of join: for each purchase, the most recent click of the same user
    * at-or-before it. Implemented the scale-friendly way — union both
    * streams, one shuffle on user_id, sort within partition, carry the last
    * non-null click timestamp forward (`last(_, ignoreNulls)` over an
    * unbounded-preceding ROWS frame) — no row-exploding range join.
    * Oracle: DuckDB's native ASOF JOIN. */
  val asofJoin = GraftQuery(
    "ev_asof_join",
    (s, dir) => {
      val ev = t(s, dir, "events")
      asofLatest(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id")),
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts")))
        .select(col("lid").as("event_id"), col("k").as("user_id"), col("ts"),
          col("asof_ts").as("last_click_ts"),
          (unix_micros(col("ts")) - unix_micros(col("asof_ts")))
            .as("micros_since_click"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts,
            epoch_us(p.ts) - epoch_us(c.ts) AS micros_since_click
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND c.ts <= p.ts
            ORDER BY p.event_id"""))

  /** Funnel / sequence detection: users with a click strictly before their
    * last purchase (exists click < purchase pair <=> min(click) < max(purchase)). */
  val funnel = GraftQuery(
    "ev_funnel",
    (s, dir) =>
      funnelCounts(t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts")),
        "click", "purchase")
        .select(col("user_id"), col("n_first").as("n_clicks"),
          col("n_then").as("n_purchases"))
        .orderBy(col("user_id")),
    Some("""SELECT user_id,
              count(*) FILTER (WHERE event_type = 'click') AS n_clicks,
              count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
            FROM events GROUP BY user_id
            HAVING min(ts) FILTER (WHERE event_type = 'click')
                 < max(ts) FILTER (WHERE event_type = 'purchase')
            ORDER BY user_id"""))

  /** Semi-structured JSON extraction from the `props` column (SURVEY §2.8:
    * from_json/get_json_object surface). */
  val json = GraftQuery(
    "ev_json_extract",
    (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), round(avg(col("k")), 4).as("avg_k"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type")),
    Some("""SELECT event_type, CAST(sum(k) AS BIGINT) AS sum_k, round(avg(k),4) AS avg_k, count(*) AS n
            FROM (SELECT event_type,
                    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
                  FROM events)
            GROUP BY event_type ORDER BY event_type"""))

  /** Event-time range replay filter — the reference's TimeStampFilter
    * (reference: transaction/api/TimeStampFilter.scala:23-25) and LifeTime
    * message-drop (reference: streaming/src/main/scala/io/gearpump/streaming/LifeTime.scala:26-38,
    * task/Subscription.scala:99-127) are both just event-time predicates. */
  val timeFilter = GraftQuery(
    "ev_time_filter",
    (s, dir) =>
      t(s, dir, "events")
        .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp")
          && col("ts") < lit("2024-01-12 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type")),
    Some("""SELECT event_type, count(*) AS n FROM events
            WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
              AND ts < TIMESTAMP '2024-01-12 00:00:00'
            GROUP BY event_type ORDER BY event_type"""))

  /** Keyed dedup on replay — dropDuplicates, the Spark analog of the
    * reference's replay dedup guidance (SURVEY §2.6 late data). Keeps the
    * first event per (user_id, event_type) by timestamp — made deterministic
    * via min_by on (ts, event_id). */
  val dedupReplay = GraftQuery(
    "ev_dedup_replay",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(struct(col("ts"), col("event_id"))).as("first"))
        .select(col("user_id"), col("event_type"),
          col("first.ts").as("first_ts"), col("first.event_id").as("first_event_id"))
        .orderBy(col("user_id"), col("event_type")),
    Some("""SELECT user_id, event_type, ts AS first_ts, event_id AS first_event_id
            FROM (SELECT user_id, event_type, ts, event_id,
                    row_number() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts, event_id) AS rn
                  FROM events)
            WHERE rn = 1 ORDER BY user_id, event_type"""))

  /** DYNAMIC-gap session windows: the inactivity gap depends on the event
    * (purchases hold a session open 60 min, other events 20 min) —
    * session_window(col, gapExpr), beyond the reference's fixed size+step
    * windows. Oracle: overlap-islands — an event joins the session while it
    * starts before the max end ([start, end) half-open, so ts == prev end
    * opens a new session, matching Spark's merge rule). */
  val sessionDynamic = GraftQuery(
    "ev_session_dynamic",
    (s, dir) => {
      val gap = when(col("event_type") === "purchase", "60 minutes").otherwise("20 minutes")
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    },
    Some("""WITH g AS (
              SELECT user_id, ts,
                ts + CASE WHEN event_type = 'purchase' THEN 60 ELSE 20 END
                     * INTERVAL '1 minute' AS e
              FROM events),
            m AS (
              SELECT user_id, ts,
                max(e) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
              FROM g),
            b AS (
              SELECT user_id, ts,
                CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END AS brk
              FROM m),
            n AS (
              SELECT user_id, ts,
                CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
              FROM b)
            SELECT user_id, min(ts) AS session_start, count(*) AS n_events
            FROM n GROUP BY user_id, sid
            ORDER BY user_id, session_start"""))

  /** Weekly cohort retention — the standard product-analytics matrix:
    * users grouped by first-seen week, distinct-user counts at each week
    * offset. Scale shape: the first-seen aggregate and the activity join
    * both hash on user_id (one partitioning, exchange-reusable), then a
    * small (cohorts x offsets) aggregate. No window functions, no
    * single-task stage. */
  val cohortRetention = GraftQuery(
    "ev_cohort_retention",
    (s, dir) => cohortRetentionOn(
      t(s, dir, "events").select(col("user_id"), col("ts")))
      .orderBy(col("cohort_week"), col("week_offset")),
    Some("""WITH first_seen AS (
              SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
              FROM events GROUP BY user_id),
            activity AS (
              SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
              FROM events)
            SELECT f.cohort_week,
              CAST(datediff('day', f.cohort_week, a.act_week) / 7 AS INTEGER) AS week_offset,
              count(DISTINCT a.user_id) AS n_users
            FROM activity a JOIN first_seen f USING (user_id)
            GROUP BY f.cohort_week, week_offset
            ORDER BY f.cohort_week, week_offset"""))

  /** Per-type z-score anomaly flagging over the `value` measure. Mean and
    * variance come from EXACT integer-scaled sums (values floored to 1e-6
    * before summing), so aggregation order cannot move a bit and both
    * engines derive the identical mean/std — the float discipline that
    * makes a statistical cut hash-comparable. Map-side partial aggregation
    * applies as usual; the stats table is tiny and broadcast back. */
  val anomalyZscore = GraftQuery(
    "ev_anomaly_zscore",
    (s, dir) => anomalyZscoreOn(
      t(s, dir, "events").select(col("event_id"), col("event_type"), col("value")),
      threshold = 3.0).orderBy(col("event_id")),
    Some("""WITH v AS (SELECT event_id, event_type, value,
                         CAST(floor(value * 1e6 + 0.5) AS HUGEINT) AS v6
                       FROM events),
            stats AS (
              SELECT event_type,
                -- count(v6), not count(*): the group size must exclude the
                -- null values the sums skip (pins the engine's unbiased
                -- semantics on null-bearing inputs, not just this fixture)
                CAST(sum(v6) AS DOUBLE) / count(v6) / 1e6 AS mean,
                sqrt(greatest(CAST(sum(v6 * v6) AS DOUBLE) / count(v6) / 1e12
                  - pow(CAST(sum(v6) AS DOUBLE) / count(v6) / 1e6, 2), CAST(0.0 AS DOUBLE))) AS std
              FROM v GROUP BY event_type)
            SELECT event_id, v.event_type, floor(value * 1e6 + 0.5) / 1e6 AS value_r,
              floor((value - mean) / std * 1e4 + 0.5) / 1e4 AS z
            FROM v JOIN stats USING (event_type)
            WHERE std > 0
              AND abs(floor((value - mean) / std * 1e4 + 0.5) / 1e4) >= 3.0
            ORDER BY event_id"""))

  /** Interval (temporal proximity) join with NO equi-key: every
    * purchase paired with every click — any user — within ±5 minutes.
    * A naive plan is a BroadcastNestedLoopJoin (or cartesian) that streams
    * the full click set past every purchase; at 100 TB that is O(n·m).
    * Scale form used here: bucket time into bins of exactly the join
    * radius (300 s). A purchase lands in its single bin; a click is
    * replicated to the ≤3 bins its ±300 s window can overlap, and the
    * join becomes a plain shuffled equi-join on `bin` followed by the
    * exact |gap| ≤ 300 s residual filter. Each qualifying pair meets in
    * exactly one bin (the purchase's), so no dedup step is needed.
    * PlanInvariantsSpec pins that the plan contains no nested-loop or
    * cartesian join. */
  val intervalJoinBinned = GraftQuery(
    "ev_interval_join_binned",
    (s, dir) => {
      val B = 300000000L // join radius == bin width, in microseconds
      val ev = t(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("ts").as("p_ts"), unix_micros(col("ts")).as("p_us"))
        .withColumn("bin", expr(s"p_us div ${B}L"))
      val c = ev.filter(col("event_type") === "click")
        .select(unix_micros(col("ts")).as("c_us"))
        .withColumn("bin",
          explode(expr(s"sequence((c_us - ${B}L) div ${B}L, (c_us + ${B}L) div ${B}L)")))
      p.join(c, "bin")
        .filter(abs(col("p_us") - col("c_us")) <= B)
        .groupBy(date_trunc("hour", col("p_ts")).as("hr"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(abs(col("p_us") - col("c_us"))).as("sum_gap_us"))
        .orderBy(col("hr"))
    },
    Some("""SELECT date_trunc('hour', p.ts) AS hr, count(*) AS n_pairs,
              CAST(sum(abs(epoch_us(p.ts) - epoch_us(c.ts))) AS BIGINT) AS sum_gap_us
            FROM events p JOIN events c
              ON p.event_type = 'purchase' AND c.event_type = 'click'
             AND c.ts BETWEEN p.ts - INTERVAL 5 MINUTE AND p.ts + INTERVAL 5 MINUTE
            GROUP BY 1 ORDER BY 1"""))

  /** The SAME temporal proximity join written the way a user naturally
    * would — a naive `abs(p_us - c_us) <= 300s` theta-join, no manual
    * binning — relying on [[graft.plans.ProximityJoin]] to rewrite the plan
    * into the binned equi-join at optimization time. Oracle-identical to
    * ev_interval_join_binned by construction; ProximityJoinSpec pins that
    * the rewrite fires and the nested loop is gone. */
  val intervalJoinAuto = GraftQuery(
    "ev_interval_join_auto",
    (s, dir) => {
      val B = 300000000L
      val ev = t(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("ts").as("p_ts"), unix_micros(col("ts")).as("p_us"))
      val c = ev.filter(col("event_type") === "click")
        .select(unix_micros(col("ts")).as("c_us"))
      p.join(c, abs(col("p_us") - col("c_us")) <= B)
        .groupBy(date_trunc("hour", col("p_ts")).as("hr"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(abs(col("p_us") - col("c_us"))).as("sum_gap_us"))
        .orderBy(col("hr"))
    },
    Some("""SELECT date_trunc('hour', p.ts) AS hr, count(*) AS n_pairs,
              CAST(sum(abs(epoch_us(p.ts) - epoch_us(c.ts))) AS BIGINT) AS sum_gap_us
            FROM events p JOIN events c
              ON p.event_type = 'purchase' AND c.event_type = 'click'
             AND c.ts BETWEEN p.ts - INTERVAL 5 MINUTE AND p.ts + INTERVAL 5 MINUTE
            GROUP BY 1 ORDER BY 1"""))

  /** The SAME proximity join in its third natural spelling — `BETWEEN` on
    * raw timestamps with interval literals, no manual unix_micros, no
    * abs() — the way an analyst coming from SQL writes it. Catalyst
    * expands the BETWEEN into comparisons against `p_ts ± interval`;
    * [[graft.plans.ProximityJoin]]'s shift-bound form matches those and
    * bins on the microsecond value. Oracle-identical to the other two
    * spellings; ProximityJoinSpec pins the plan shape. */
  val intervalJoinBetween = GraftQuery(
    "ev_interval_join_between",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase").select(col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click").select(col("ts").as("c_ts"))
      p.join(c, expr("c_ts BETWEEN p_ts - INTERVAL 5 MINUTE AND p_ts + INTERVAL 5 MINUTE"))
        .groupBy(date_trunc("hour", col("p_ts")).as("hr"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(abs(unix_micros(col("p_ts")) - unix_micros(col("c_ts")))).as("sum_gap_us"))
        .orderBy(col("hr"))
    },
    Some("""SELECT date_trunc('hour', p.ts) AS hr, count(*) AS n_pairs,
              CAST(sum(abs(epoch_us(p.ts) - epoch_us(c.ts))) AS BIGINT) AS sum_gap_us
            FROM events p JOIN events c
              ON p.event_type = 'purchase' AND c.event_type = 'click'
             AND c.ts BETWEEN p.ts - INTERVAL 5 MINUTE AND p.ts + INTERVAL 5 MINUTE
            GROUP BY 1 ORDER BY 1"""))

  /** The CEP pair-detection core over any (user_id, event_type, ts)
    * frame: for every `second` event, the latest strictly-earlier `first`
    * by the same key within `withinSeconds`. Mirrors the streaming
    * detector's latest-first-wins + gap > 0 semantics, made
    * tie-deterministic by the RANGE frame (a `first` at the `second`'s own
    * timestamp is never a candidate — the same pairs the gap > 0 rule
    * admits). One window pass over the key-partitioned stream of the two
    * event types; no self-join. Shared by ev_cep_pairs and
    * [[graft.api.EventAnalytics.cepPairs]]. Unordered — the registry
    * wrapper appends its oracle ORDER BY (the Dedup-core pattern: a
    * facade caller must not inherit a global range-partition sort).
    * @return (user_id, first_ts, second_ts, gap_ms) */
  private[graft] def cepPairsOn(ev0: DataFrame, first: String,
      second: String, withinSeconds: Long): DataFrame = {
    val withinUs = withinSeconds * 1000000L
    val ev = ev0
      .filter(col("event_type").isin(first, second))
      .select(col("user_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("ts_us"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(Window.unboundedPreceding, -1)
    ev.withColumn("last_first_us",
        max(when(col("event_type") === first, col("ts_us"))).over(w))
      .filter(col("event_type") === second &&
        col("last_first_us").isNotNull &&
        col("ts_us") - col("last_first_us") <= withinUs)
      .select(col("user_id"),
        expr("timestamp_micros(last_first_us)").as("first_ts"),
        col("ts").as("second_ts"),
        expr("(ts_us - last_first_us) div 1000").as("gap_ms"))
  }

  /** Batch analog of the streaming CEP pair detector (graft.streaming.Cep
    * .detect): for every `purchase`, the latest strictly-earlier `click` by
    * the same user within 5 minutes — [[cepPairsOn]] on the fixture log. */
  val cepPairs = GraftQuery(
    "ev_cep_pairs",
    (s, dir) => cepPairsOn(t(s, dir, "events"), "click", "purchase", 300L)
      .orderBy(col("user_id"), col("second_ts")),
    Some("""WITH ce AS (
              SELECT user_id, event_type, ts, epoch_us(ts) AS ts_us
              FROM events WHERE event_type IN ('click', 'purchase')),
            marked AS (
              SELECT user_id, event_type, ts, ts_us,
                max(CASE WHEN event_type = 'click' THEN ts_us END) OVER (
                  PARTITION BY user_id ORDER BY ts_us
                  RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
              FROM ce)
            SELECT user_id, make_timestamp(last_click_us) AS first_ts,
              ts AS second_ts, (ts_us - last_click_us) // 1000 AS gap_ms
            FROM marked
            WHERE event_type = 'purchase' AND last_click_us IS NOT NULL
              AND ts_us - last_click_us <= 300000000
            ORDER BY user_id, second_ts"""))

  /** FORWARD FILL (last-observation-carried-forward): gap-fill a sparse
    * measure per entity in event-time order — `error` events play the
    * nulls (the sensor that failed to report), and every row carries the
    * most recent non-null reading. The standard time-series repair step
    * before windowed aggregation. One shuffle (by user), one ordered pass
    * via a running `last(ignoreNulls)` frame — no self-join, no
    * per-gap subqueries. */
  val forwardFill = GraftQuery(
    "ev_forward_fill",
    (s, dir) => forwardFillOn(
      t(s, dir, "events")
        .withColumn("v",
          when(col("event_type") === "error", lit(null)).otherwise(col("value")))
        .select(col("event_id"), col("user_id"), col("ts"), col("v")))
      .orderBy(col("event_id")),
    Some("""SELECT event_id, user_id, v,
              last_value(v IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
            FROM (SELECT event_id, user_id, ts,
                    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
                  FROM events)
            ORDER BY event_id"""))

  /** The transition-count core over any (user_id, ts, event_id,
    * event_type) frame — shared by ev_transition_matrix and
    * [[graft.api.EventAnalytics.transitionMatrix]].
    * Unordered — the registry wrapper appends its oracle ORDER BY. */
  private[graft] def transitionMatrixOn(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** EVENT-TYPE TRANSITION MATRIX: count (state -> next state) hops per
    * user in event-time order — the Markov-chain view behind funnel and
    * next-action analyses. One shuffle (by user) for the lead() pass, then
    * a partial-aggregated count into at most |types|^2 groups. */
  val transitionMatrix = GraftQuery(
    "ev_transition_matrix",
    (s, dir) => transitionMatrixOn(t(s, dir, "events"))
      .orderBy(col("event_type"), col("next_type")),
    Some("""SELECT event_type, next_type, count(*) AS n
            FROM (SELECT user_id, event_type,
                    lead(event_type, 1) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id) AS next_type
                  FROM events)
            WHERE next_type IS NOT NULL
            GROUP BY event_type, next_type
            ORDER BY event_type, next_type"""))

  /** NEAREST-IN-TIME JOIN (bidirectional as-of with tolerance): pair every
    * click with the CLOSEST error event of the same user within 6 h —
    * before OR after, earlier wins a tie — where [[asofJoin]] only looks
    * backward. The implementation is the merge-then-window formulation:
    * both event kinds share one per-user ordered pass; a backward
    * `last(ignoreNulls)` carries the latest earlier error, a forward
    * `first(ignoreNulls)` the earliest later one, and a branch picks the
    * closer candidate. No self-join, no per-row probe: one shuffle on
    * user_id and two frames over the same sort, identical cost profile to
    * [[asofJoin]] at any scale. */
  val asofNearest = GraftQuery(
    "ev_asof_nearest",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("click", "error"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
          unix_micros(col("ts")).as("ts_us"))
      val base = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val wPrev = base.rowsBetween(Window.unboundedPreceding, -1)
      val wNext = base.rowsBetween(1, Window.unboundedFollowing)
      val errUs = when(col("event_type") === "error", col("ts_us"))
      ev.withColumn("prev_us", last(errUs, ignoreNulls = true).over(wPrev))
        .withColumn("next_us", first(errUs, ignoreNulls = true).over(wNext))
        .filter(col("event_type") === "click")
        .withColumn("near_us",
          when(col("prev_us").isNotNull &&
            (col("next_us").isNull ||
              col("ts_us") - col("prev_us") <= col("next_us") - col("ts_us")),
            col("prev_us")).otherwise(col("next_us")))
        .filter(col("near_us").isNotNull &&
          abs(col("near_us") - col("ts_us")) <= 21600000000L)
        .select(col("event_id"), col("user_id"), col("ts").as("click_ts"),
          expr("timestamp_micros(near_us)").as("err_ts"),
          (col("near_us") - col("ts_us")).as("delta_us"))
        .orderBy(col("event_id"))
    },
    Some("""WITH ce AS (SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS ts_us
                        FROM events WHERE event_type IN ('click', 'error')),
            marked AS (SELECT event_id, user_id, event_type, ts, ts_us,
                         last_value(CASE WHEN event_type = 'error' THEN ts_us END IGNORE NULLS) OVER (
                           PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_us,
                         first_value(CASE WHEN event_type = 'error' THEN ts_us END IGNORE NULLS) OVER (
                           PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_us
                       FROM ce),
            chosen AS (SELECT event_id, user_id, ts, ts_us,
                         CASE WHEN prev_us IS NOT NULL AND (next_us IS NULL
                                OR ts_us - prev_us <= next_us - ts_us)
                              THEN prev_us ELSE next_us END AS near_us
                       FROM marked WHERE event_type = 'click')
            SELECT event_id, user_id, ts AS click_ts,
              make_timestamp(near_us) AS err_ts, near_us - ts_us AS delta_us
            FROM chosen
            WHERE near_us IS NOT NULL AND abs(near_us - ts_us) <= 21600000000
            ORDER BY event_id"""))

  /** RESAMPLE TO A REGULAR GRID: convert each user's irregular event stream
    * into a 6-hour-aligned series carrying the last observation at each
    * grid instant (LOCF at grid points) — the time-series normalization
    * step before any fixed-step model. Grid instants are epoch-aligned
    * multiples of the step between the user's first and last event, so the
    * grid is a pure function of the data (no session clock).
    *
    * One aggregate for the per-user bounds, a scan-side `sequence` explode
    * for the grid rows, then ONE keyed window pass over the union of grid
    * and event rows (grid rows sort after same-instant events, so a
    * reading AT the instant is picked up). No self-join, no per-grid-point
    * probe; everything shuffles once on user_id. */
  val resampleGrid = GraftQuery(
    "ev_resample_grid",
    (s, dir) => resampleLocfOn(
      t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("value").as("v")),
      21600000000L) // 6 h in microseconds
      .orderBy(col("user_id"), col("grid_ts")),
    Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value AS v
                        FROM events),
            b AS (SELECT user_id, min(ts_us) AS mn, max(ts_us) AS mx
                  FROM ev GROUP BY user_id),
            grid AS (SELECT user_id,
                       unnest(generate_series(((mn + 21599999999) // 21600000000) * 21600000000,
                                              mx, 21600000000)) AS ts_us
                     FROM b
                     WHERE ((mn + 21599999999) // 21600000000) * 21600000000 <= mx),
            u AS (SELECT user_id, ts_us, CAST(0 AS BIGINT) AS event_id,
                    CAST(NULL AS DOUBLE) AS v, 1 AS is_grid FROM grid
                  UNION ALL
                  SELECT user_id, ts_us, event_id, v, 0 FROM ev),
            f AS (SELECT user_id, ts_us, is_grid,
                    last_value(v IGNORE NULLS) OVER (
                      PARTITION BY user_id ORDER BY ts_us, is_grid, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
                  FROM u)
            SELECT user_id, make_timestamp(ts_us) AS grid_ts, v_filled
            FROM f WHERE is_grid = 1 ORDER BY user_id, grid_ts"""))

  /** PER-KEY RATE LIMITING: keep at most 2 events per user per day (ts
    * order, event_id tie-break) — the quota/throttle gate every ingest
    * pipeline runs. Batch shape: one ranked window per (user, day)
    * partition, no self-join. The streaming counterpart
    * (graft.streaming.RateLimit) carries ONE (day, count) pair per key as
    * managed state; StreamingRateLimitSpec pins stream==batch under
    * randomized order-preserving chopping. */
  val rateLimit = GraftQuery(
    "ev_rate_limit",
    (s, dir) => rateLimitOn(
      t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts")),
      maxPer = 2, unit = "day").orderBy(col("event_id")),
    Some("""WITH r AS (
              SELECT event_id, user_id,
                CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
                row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                   ORDER BY ts, event_id) AS rn
              FROM events)
            SELECT event_id, user_id, window_start FROM r
            WHERE rn <= 2 ORDER BY event_id"""))

  /** ABSENCE DETECTION, batch leg: every `click` never answered by a
    * `purchase` from the same user within 5 minutes — the batch analog of
    * the streaming CEP absence alert (graft.streaming.Cep.detectAbsence;
    * the stream emits per-key alerts as the watermark or a later event
    * proves the deadline passed, the batch query reports every unanswered
    * first). One forward-looking RANGE frame per user — no self-join, no
    * inequality join; the window is microsecond-exact like ev_cep_pairs. */
  /** The absence-detection core over any (user_id, event_type, ts) frame:
    * every `first` never answered by a `second` from the same key within
    * `withinSeconds`. One forward-looking RANGE frame per key — no
    * self-join, no inequality join; microsecond-exact like [[cepPairsOn]].
    * Shared by ev_absence and [[graft.api.EventAnalytics.absence]].
    * Unordered — the registry wrapper appends its oracle ORDER BY.
    * @return (user_id, first_ts, deadline_ts) */
  private[graft] def absenceOn(ev0: DataFrame, first: String,
      second: String, withinSeconds: Long): DataFrame = {
    val withinUs = withinSeconds * 1000000L
    val ev = ev0
      .filter(col("event_type").isin(first, second))
      .select(col("user_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("ts_us"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(1L, withinUs)
    ev.withColumn("next_second_us",
        min(when(col("event_type") === second, col("ts_us"))).over(w))
      .filter(col("event_type") === first && col("next_second_us").isNull)
      .select(col("user_id"), col("ts").as("first_ts"),
        expr(s"timestamp_micros(ts_us + ${withinUs}L)").as("deadline_ts"))
  }

  val absence = GraftQuery(
    "ev_absence",
    (s, dir) => absenceOn(t(s, dir, "events"), "click", "purchase", 300L)
      .orderBy(col("user_id"), col("first_ts")),
    Some("""WITH ce AS (
              SELECT user_id, event_type, ts, epoch_us(ts) AS ts_us
              FROM events WHERE event_type IN ('click', 'purchase')),
            marked AS (
              SELECT user_id, event_type, ts, ts_us,
                min(CASE WHEN event_type = 'purchase' THEN ts_us END) OVER (
                  PARTITION BY user_id ORDER BY ts_us
                  RANGE BETWEEN 1 FOLLOWING AND 300000000 FOLLOWING) AS next_purchase_us
              FROM ce)
            SELECT user_id, ts AS first_ts,
              make_timestamp(ts_us + 300000000) AS deadline_ts
            FROM marked
            WHERE event_type = 'click' AND next_purchase_us IS NULL
            ORDER BY user_id, first_ts"""))

  /** INTER-ARRIVAL ANALYSIS: distribution of the time gap between a user's
    * consecutive events, summarized per event type of the LATER event —
    * the cadence profile behind session-gap calibration and bot
    * detection. One lag() pass per user builds exact integer microsecond
    * gaps; median/percentile run over those integers (the q41/q23
    * discipline), divided to seconds only at the end. */
  val interarrivalStats = GraftQuery(
    "ev_interarrival_stats",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          expr("round(median(gap_us) / 1e6, 4)").as("median_gap_s"),
          expr("round(percentile(gap_us, 0.9) / 1e6, 4)").as("p90_gap_s"))
        .orderBy(col("event_type"))
    },
    Some("""WITH g AS (
              SELECT event_type,
                epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
                  PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
              FROM events)
            SELECT event_type, count(*) AS n_gaps,
              round(CAST(median(gap_us) AS DOUBLE) / 1e6, 4) AS median_gap_s,
              round(quantile_cont(gap_us, 0.9) / 1e6, 4) AS p90_gap_s
            FROM g WHERE gap_us IS NOT NULL
            GROUP BY event_type ORDER BY event_type"""))

  /** SEQUENCE MINING: the 15 most common 3-step event-type paths across
    * users — the unsupervised counterpart of the fixed-pattern funnel.
    * One ordered window pass builds per-user 3-grams via lead();
    * aggregation is by the (tiny) path-string key. */
  val topPaths = GraftQuery(
    "ev_top_paths",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("e1"))
        .withColumn("e2", lead(col("e1"), 1).over(w))
        .withColumn("e3", lead(col("e1"), 2).over(w))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(15)
    },
    Some("""WITH p AS (
              SELECT event_type AS e1,
                lead(event_type, 1) OVER w AS e2,
                lead(event_type, 2) OVER w AS e3
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
            FROM p WHERE e2 IS NOT NULL AND e3 IS NOT NULL
            GROUP BY 1 ORDER BY n DESC, path LIMIT 15"""))

  /** LINEAR-INTERPOLATION RESAMPLE: [[resampleGrid]]'s 6h epoch grid, but
    * each grid instant gets the TIME-WEIGHTED value between its surrounding
    * events — v = prev + (next-prev) * (t-t_prev)/(t_next-t_prev) — instead
    * of LOCF; past the last event the value holds (`mode` column says
    * which). The other half of the industrial time-series resample pair
    * (LOCF for state-like signals, linear for continuous measurements).
    *
    * Same single-window shape as LOCF: grid and events union once, one
    * keyed ordered pass carries (prev_ts, prev_v) backward and
    * (next_ts, next_v) forward — no self-join, no range join. Event rows
    * sort BEFORE the grid row at the same instant, so an exact-hit grid
    * point takes the event's value through a 0-numerator interpolation.
    *
    * Float discipline: the interpolation is the IDENTICAL IEEE op tree on
    * both engines — long subtractions, exact long->double casts, one
    * divide, one multiply, one add — so the result is bit-exact without
    * rounding (grid spans [ceil(min), max], so prev always exists and
    * t_next > t >= t_prev keeps the denominator positive). */
  val resampleInterpolate = GraftQuery(
    "ev_resample_interpolate",
    (s, dir) => resampleLinearOn(
      t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("value").as("v")),
      21600000000L) // 6 h in microseconds
      .orderBy(col("user_id"), col("grid_ts")),
    Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value AS v
                        FROM events),
            b AS (SELECT user_id, min(ts_us) AS mn, max(ts_us) AS mx
                  FROM ev GROUP BY user_id),
            grid AS (SELECT user_id,
                       unnest(generate_series(((mn + 21599999999) // 21600000000) * 21600000000,
                                              mx, 21600000000)) AS ts_us
                     FROM b
                     WHERE ((mn + 21599999999) // 21600000000) * 21600000000 <= mx),
            u AS (SELECT user_id, ts_us, CAST(0 AS BIGINT) AS event_id,
                    CAST(NULL AS BIGINT) AS ts_ev, CAST(NULL AS DOUBLE) AS v,
                    1 AS is_grid FROM grid
                  UNION ALL
                  SELECT user_id, ts_us, event_id,
                    CASE WHEN v IS NOT NULL THEN ts_us END, v, 0 FROM ev),
            f AS (SELECT user_id, ts_us, is_grid,
                    last_value(ts_ev IGNORE NULLS) OVER w_back AS prev_ts,
                    last_value(v IGNORE NULLS) OVER w_back AS prev_v,
                    first_value(ts_ev IGNORE NULLS) OVER w_fwd AS next_ts,
                    first_value(v IGNORE NULLS) OVER w_fwd AS next_v
                  FROM u
                  WINDOW
                    w_back AS (PARTITION BY user_id
                               ORDER BY ts_us, is_grid, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    w_fwd AS (PARTITION BY user_id
                              ORDER BY ts_us, is_grid, event_id
                              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
            SELECT user_id, make_timestamp(ts_us) AS grid_ts,
              CASE WHEN next_ts IS NULL THEN prev_v
                   ELSE prev_v + (next_v - prev_v)
                        * (CAST(ts_us - prev_ts AS DOUBLE)
                           / CAST(next_ts - prev_ts AS DOUBLE)) END AS v_interp,
              CASE WHEN next_ts IS NULL THEN 'hold' ELSE 'interp' END AS mode
            FROM f WHERE is_grid = 1 ORDER BY user_id, grid_ts"""))

  /** DAILY ACTIVES + GROWTH (the product-analytics counterpart of
    * [[cohortRetention]]): per event-time day — events, distinct active
    * users, first-seen ("new") users, and the cumulative user count. Two
    * keyed aggregations (events by day; users by their min-day) meet in a
    * left join on day, and the cumulative sum is a window over day rows
    * (a few thousand rows for years of data — never event-sized). All
    * counts are exact integers. */
  val dailyActive = GraftQuery(
    "ev_daily_active",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val byDay = ev.groupBy(col("day")).agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_active"))
      val newByDay = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
      byDay.join(newByDay, Seq("day"), "left")
        .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
        .withColumn("cum_users",
          sum(col("n_new")).over(Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("day"), col("n_events"), col("n_active"),
          col("n_new"), col("cum_users"))
        .orderBy(col("day"))
    },
    Some("""WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
            byday AS (SELECT day, count(*) AS n_events,
                        count(DISTINCT user_id) AS n_active
                      FROM ev GROUP BY day),
            firstseen AS (SELECT user_id, min(day) AS day FROM ev GROUP BY user_id),
            newby AS (SELECT day, count(*) AS n_new FROM firstseen GROUP BY day)
            SELECT b.day, b.n_events, b.n_active,
              CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
              CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY b.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS cum_users
            FROM byday b LEFT JOIN newby n ON n.day = b.day
            ORDER BY b.day"""))

  /** CUSUM CHANGE-POINT DETECTION (per key): the split index k maximizing
    * the cumulative deviation |S_k| = |sum_{i<=k}(v_i - mean)| — the
    * classic offline CUSUM locator for a level shift in a series. The
    * mean's division is multiplied out: n*S_k = n*prefix_k - k*total, so
    * the whole statistic is EXACT integer arithmetic over 1e6-scaled
    * values (bound: n^2 * max(v6) < 2^63 — per-key series of millions of
    * unit-scale points; engines can't disagree by a bit). Keys need n >= 8
    * observations to report (CUSUM on shorter series is noise).
    *
    * Shape: one key-partitioned shuffle, two ordered window passes over it
    * (prefix sums + the argmax rank) — no self-join, no collect; the
    * series is per KEY, so partitions stay bounded at 100 TB. */
  /** The offline-CUSUM locator core over any (user_id, ts, event_id, v6)
    * frame (v6 = the 1e6-scaled integer value) — the split maximizing
    * |n·prefix_k − k·total| per key, exact integer arithmetic throughout.
    * Keys need n >= `minN` observations to report. Shared by
    * ev_changepoint and [[graft.api.EventAnalytics.cusumChangepoint]].
    * Unordered — the registry wrapper appends its oracle ORDER BY.
    * @return (user_id, n_events, cp_index, cp_ts, cusum_stat) */
  private[graft] def changepointOn(ev: DataFrame, minN: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val ord = byUser.orderBy(col("ts"), col("event_id"))
    ev
      .withColumn("k", row_number().over(ord))
      .withColumn("prefix", sum(col("v6"))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(byUser))
      .withColumn("tot", sum(col("v6")).over(byUser))
      .withColumn("stat", abs(col("n") * col("prefix") - col("k") * col("tot")))
      .withColumn("rn", row_number().over(byUser.orderBy(col("stat").desc, col("k"))))
      .filter(col("rn") === 1 && col("n") >= minN)
      .select(col("user_id"), col("n").as("n_events"), col("k").as("cp_index"),
        col("ts").as("cp_ts"), col("stat").as("cusum_stat"))
  }

  val changepoint = GraftQuery(
    "ev_changepoint",
    (s, dir) => changepointOn(
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("cast(floor(value * 1e6 + 0.5) as bigint)").as("v6")),
      minN = 8).orderBy(col("user_id")),
    Some("""WITH ev AS (SELECT user_id, ts, event_id,
                   CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v6 FROM events),
            w AS (SELECT user_id, ts, v6,
                    row_number() OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS k,
                    CAST(sum(v6) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS prefix,
                    count(*) OVER (PARTITION BY user_id) AS n,
                    CAST(sum(v6) OVER (PARTITION BY user_id) AS BIGINT) AS tot
                  FROM ev),
            sc AS (SELECT user_id, ts, CAST(k AS INTEGER) AS cp_index, n,
                     abs(n * prefix - k * tot) AS stat,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY abs(n * prefix - k * tot) DESC, k) AS rn
                   FROM w)
            SELECT user_id, CAST(n AS BIGINT) AS n_events, cp_index,
              ts AS cp_ts, CAST(stat AS BIGINT) AS cusum_stat
            FROM sc WHERE rn = 1 AND n >= 8 ORDER BY user_id"""))

  /** WEEKLY TRAFFIC HEATMAP: events and distinct users per (day-of-week,
    * hour-of-day) — the capacity-planning / anomaly-baseline panel every
    * event platform renders. Day-of-week is computed from raw epoch days
    * ((days + 4) % 7, Sunday = 0; 1970-01-01 was a Thursday) rather than
    * any engine's dayofweek() builtin, because those disagree on both the
    * start day and the base index across engines and locales — epoch
    * arithmetic is convention-free and exact FOR ts >= epoch: Spark's
    * `div` truncates while DuckDB's `//` floors, which only agree on
    * non-negative operands (the graft-oracle-discipline rule), so this
    * query ASSUMES post-1970 timestamps (true of this corpus and any
    * event-log source; a pre-epoch corpus would need pmod/floor-div
    * spellings on both engines). Scan-side integer exprs + one 168-group
    * partial-agg'd shuffle. */
  val weeklyPattern = GraftQuery(
    "ev_weekly_pattern",
    (s, dir) =>
      t(s, dir, "events")
        .select(unix_micros(col("ts")).as("us"), col("user_id"))
        .select(expr("cast(((us div 86400000000) + 4) % 7 as int)").as("dow"),
          expr("cast((us div 3600000000) % 24 as int)").as("hour"),
          col("user_id"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("dow"), col("hour")),
    Some("""SELECT dow, hour, count(*) AS n_events,
              count(DISTINCT user_id) AS n_users
            FROM (SELECT
                    CAST(((epoch_us(ts) // 86400000000) + 4) % 7 AS INTEGER) AS dow,
                    CAST((epoch_us(ts) // 3600000000) % 24 AS INTEGER) AS hour,
                    user_id
                  FROM events)
            GROUP BY dow, hour ORDER BY dow, hour"""))

  /** ROBUST (MAD) OUTLIER PROFILE per event type — the median-based twin of
    * [[anomalyZscore]]: mean/stddev break down exactly when outliers are
    * present (they drag the threshold), so production monitors use
    * median +- k*MAD. Exactness discipline: values scale to integer micros
    * first; a median of integers is .0/.5-exact in double, and the absolute
    * deviation is DOUBLED (adev = 2|v - med|) so it is again an exact
    * integer and the second median stays exact; the outlier test
    * |v-med| > 3*MAD compares as adev > 3*mad2 — all products of exact
    * doubles far below 2^53. Two grouped exact-median passes over the
    * event-type key, the per-type medians broadcast back. */
  /** The MAD outlier-profile core over any (event_type, v) frame (v = the
    * 1e6-scaled integer value): per-group exact median, doubled absolute
    * deviations (kept integer), MAD, and the |v−med| > k·MAD outlier
    * count. Two grouped exact-median passes, per-group medians broadcast
    * back. Shared by ev_anomaly_mad and
    * [[graft.api.EventAnalytics.anomalyMad]].
    * Unordered — the registry wrapper appends its oracle ORDER BY.
    * @return (event_type, n, median_micro, mad_micro, n_outliers) */
  private[graft] def anomalyMadOn(ev: DataFrame, k: Int): DataFrame = {
    val med = ev.groupBy(col("event_type"))
      .agg(expr("median(v)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", expr("cast(abs(v - med) * 2 as bigint)"))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("median(adev)").as("mad2"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        first(col("med")).as("median_micro"),
        (first(col("mad2")) / 2).as("mad_micro"),
        sum(when(col("adev") > lit(k) * col("mad2"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  val anomalyMad = GraftQuery(
    "ev_anomaly_mad",
    (s, dir) => anomalyMadOn(
      t(s, dir, "events")
        .select(col("event_type"),
          expr("cast(floor(value * 1e6 + 0.5) as bigint)").as("v")),
      k = 3).orderBy(col("event_type")),
    Some("""WITH ev AS (SELECT event_type,
                CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v FROM events),
            med AS (SELECT event_type, median(v) AS med FROM ev GROUP BY event_type),
            dev AS (SELECT e.event_type, e.v, m.med,
                      CAST(abs(e.v - m.med) * 2 AS BIGINT) AS adev
                    FROM ev e JOIN med m USING (event_type)),
            mad AS (SELECT event_type, median(adev) AS mad2 FROM dev GROUP BY event_type)
            SELECT d.event_type, count(*) AS n,
              CAST(any_value(d.med) AS DOUBLE) AS median_micro,
              CAST(any_value(m.mad2) AS DOUBLE) / 2 AS mad_micro,
              CAST(sum(CASE WHEN d.adev > 3 * m.mad2 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_outliers
            FROM dev d JOIN mad m USING (event_type)
            GROUP BY d.event_type ORDER BY d.event_type"""))

  /** Grid cap for [[survivalCurve]] — the curve is reported for day
    * offsets 0..this; longer lifetimes saturate into the last row's
    * survivors rather than widening the output. Declared ABOVE [[all]]:
    * `all` forces the lazy query vals at object init, so any constant
    * their oracle strings interpolate must already be initialized. */
  private val SurvivalHorizonDays = 30

  /** BOT / AUTOMATION DETECTION: per-user cadence profile plus an
    * unsupervised two-signal flag — high volume AND metronome-regular
    * timing, the standard first gate before any engagement metric is
    * trusted ([[interarrivalStats]] is the corpus-wide calibration; this
    * is the per-actor verdict). Regularity = IQR/median of the user's
    * inter-event gaps — scale-free (a bot polling every 10s and one
    * polling hourly both score near 0), robust to the session-boundary
    * outliers that wreck CV-of-gaps, and exactly computable: gaps are
    * exact integer micros, percentiles interpolate identically in both
    * engines (the q41 discipline), and the one division is
    * floor-scaled to micros. Thresholds are DATA-DRIVEN (volume >= corpus
    * p90, regularity <= corpus p10) so the flag fires at every SF instead
    * of going vacuous when no absolute cutoff fits the synthetic cadence.
    * Shapes: one lag() pass per user, one user-keyed aggregation, then a
    * 1-row threshold broadcast onto user-count rows. Div-by-zero guarded
    * with nullif on BOTH engines (duplicate-timestamp gaps can zero the
    * median); a null regularity can never flag. */
  val botDetection = GraftQuery(
    "ev_bot_detection",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val prof = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          expr("percentile(gap_us, 0.5D)").as("med"),
          expr("percentile(gap_us, 0.75D) - percentile(gap_us, 0.25D)").as("iqr"))
      val th = broadcast(prof.agg(
        expr("percentile(n_events, 0.9D)").as("vol_hi"),
        expr("""percentile(cast(floor(iqr / nullif(med, 0.0) * 1e6 + 0.5) as bigint),
                 0.1D)""").as("reg_lo")))
      prof.crossJoin(th)
        .select(col("user_id"), col("n_events"), col("n_types"),
          expr("floor(med / 1e6 * 1e4 + 0.5) / 1e4").as("median_gap_s"),
          expr("cast(floor(iqr / nullif(med, 0.0) * 1e6 + 0.5) as bigint)")
            .as("regularity_micro"),
          expr("""coalesce(n_events >= vol_hi
                  and cast(floor(iqr / nullif(med, 0.0) * 1e6 + 0.5) as bigint) <= reg_lo,
                  false)""").as("is_bot"))
        .orderBy(col("user_id"))
    },
    Some("""WITH g AS (
              SELECT user_id, event_type,
                epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
                  PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
              FROM events),
            prof AS MATERIALIZED (
              SELECT user_id, count(*) AS n_events,
                count(DISTINCT event_type) AS n_types,
                quantile_cont(gap_us, 0.5) AS med,
                quantile_cont(gap_us, 0.75) - quantile_cont(gap_us, 0.25) AS iqr
              FROM g GROUP BY user_id),
            th AS (SELECT quantile_cont(n_events, 0.9) AS vol_hi,
                     quantile_cont(CAST(floor(iqr / nullif(med, 0.0) * 1e6 + 0.5) AS BIGINT),
                       0.1) AS reg_lo
                   FROM prof)
            SELECT user_id, n_events, n_types,
              floor(med / 1e6 * 1e4 + 0.5) / 1e4 AS median_gap_s,
              CAST(floor(iqr / nullif(med, 0.0) * 1e6 + 0.5) AS BIGINT) AS regularity_micro,
              coalesce(n_events >= vol_hi
                AND CAST(floor(iqr / nullif(med, 0.0) * 1e6 + 0.5) AS BIGINT) <= reg_lo,
                false) AS is_bot
            FROM prof CROSS JOIN th ORDER BY user_id"""))

  /** ORDERED MULTI-STEP FUNNEL: the 3-row conversion table
    * view → click-after-first-view → purchase-after-that-click, with
    * step-over-step and step-over-top rates — the dashboard artifact
    * product analytics actually ships ([[funnel]] is the 2-event
    * click<purchase reduction; this is the strict ordered cascade where
    * each step must follow the PREVIOUS step's anchor event). Anchors
    * chain through three per-user window minimums — t2's predicate reads
    * the t1 column, t3's reads t2 — so one user-partitioned pass computes
    * the whole cascade, no self-joins; everything after runs on ONE row.
    * Rates are non-negative integer micro-divs with nullif guards. */
  val funnelSteps = GraftQuery(
    "ev_funnel_steps",
    (s, dir) => funnelStepsOn(
      t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts")),
      "view", "click", "purchase").orderBy(col("step")),
    Some("""WITH e1 AS (
              SELECT user_id, event_type, ts,
                min(CASE WHEN event_type = 'view' THEN ts END)
                  OVER (PARTITION BY user_id) AS t1
              FROM events),
            e2 AS (
              SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
              FROM e1),
            e3 AS (
              SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3
              FROM e2),
            u AS (SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
                  FROM e3 GROUP BY user_id),
            c AS (SELECT count(t1) AS u1, count(t2) AS u2, count(t3) AS u3 FROM u)
            SELECT * FROM (
              SELECT 1 AS step, 'view' AS gate, u1 AS n_users,
                CAST(1000000 AS BIGINT) AS conv_step_micro,
                CAST(1000000 AS BIGINT) AS conv_total_micro FROM c
              UNION ALL
              SELECT 2, 'click_after_view', u2,
                u2 * 1000000 // nullif(u1, 0), u2 * 1000000 // nullif(u1, 0) FROM c
              UNION ALL
              SELECT 3, 'purchase_after_click', u3,
                u3 * 1000000 // nullif(u2, 0), u3 * 1000000 // nullif(u1, 0) FROM c)
            ORDER BY step"""))

  /** LINEAR MULTI-TOUCH ATTRIBUTION: every touchpoint strictly before a
    * user's FIRST purchase shares that conversion's credit equally —
    * the equal-weight sibling of [[firstTouch]] (which gives the opener
    * everything) and the standard next step before position-based or
    * data-driven models. Per converting user: n_touches from one
    * full-partition window count, each touch credited 1e6 div n_touches
    * exact micro-units (truncating div, identical cross-engine on
    * non-negative operands — the residual from truncation stays with the
    * house, deliberately, rather than being smeared float-wise), rolled up
    * per channel. Two windows (first-purchase anchor, touch count) in ONE
    * user-partitioned pass, then a channel-sized aggregation — no
    * per-purchase fan-out because the conversion anchor is the first
    * purchase only (the classic single-conversion simplification). */
  val linearAttribution = GraftQuery(
    "ev_linear_attribution",
    (s, dir) => {
      val wAll = Window.partitionBy(col("user_id"))
      val touches = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("fp_us",
          min(when(col("event_type") === "purchase", col("us"))).over(wAll))
        .filter(col("fp_us").isNotNull && col("us") < col("fp_us"))
        .withColumn("nt", count(lit(1)).over(wAll))
        .withColumn("credit_micro", expr("1000000 div nt"))
      touches.groupBy(col("event_type").as("channel"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit_micro")).as("credit_micro_total"))
        .orderBy(col("channel"))
    },
    Some("""WITH e AS (
              SELECT user_id, event_type, epoch_us(ts) AS us,
                min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                  OVER (PARTITION BY user_id) AS fp_us
              FROM events),
            touches AS (
              SELECT user_id, event_type,
                count(*) OVER (PARTITION BY user_id) AS nt
              FROM e WHERE fp_us IS NOT NULL AND us < fp_us)
            SELECT event_type AS channel, count(*) AS n_touches,
              CAST(sum(1000000 // nt) AS BIGINT) AS credit_micro_total
            FROM touches GROUP BY event_type ORDER BY channel"""))

  /** EXPERIMENT POWER / MDE PLANNING: the one-row table an experimenter
    * reads BEFORE launching — with the corpus's own baseline conversion
    * rate and arm sizes ([[abLift]]'s definitions exactly: user_id parity
    * arms, conversion = above-mean exact-cents spend), the minimum
    * detectable effect at α=5%/power=80% for the arms as they are, and
    * the per-arm sample size a 5%-relative-lift detection would need —
    * "is this experiment even worth running at our traffic". Two-sided
    * normal approximation: MDE = (z_{.975}+z_{.80})·√(2·p̄(1−p̄)/n),
    * n_needed = 2·p̄(1−p̄)·(z₁+z₂)²/δ², δ = 0.05·p̄; the z constants are
    * fixed literals, the square is spelled as self-multiplication (never
    * pow), p̄ is one division, √ is IEEE-correctly-rounded — the ab_lift
    * float discipline, floor-scaled to micros. One user-keyed
    * aggregation + a 1-row broadcast; everything after runs on one row. */
  /** The MDE/sample-size planning core over (variant ∈ {0,1},
    * conv ∈ {0,1}) unit rows — two-sided normal approximation at
    * α=5%/power=80% against a 5%-relative-lift target; the z constants
    * are fixed literals, squares are self-multiplications, and the one
    * sqrt is IEEE-correctly-rounded. Shared by ev_power_analysis and
    * [[graft.api.EventAnalytics.powerAnalysis]].
    * @return one row: (n_a, n_b, n_conv, p_bar_micro, mde_micro,
    *         n_per_arm_for_5pct_lift) */
  private[graft] def powerAnalysisOn(users: DataFrame): DataFrame =
    users.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(col("conv")).as("n_conv"),
        count(lit(1)).as("n_users"))
      .selectExpr("n_a", "n_b", "n_conv",
        "cast(n_conv * 1000000 div n_users as bigint) as p_bar_micro",
        """cast(floor((1.959964 + 0.841621)
             * sqrt(2.0 * (cast(n_conv as double) / n_users)
                    * (1.0 - cast(n_conv as double) / n_users)
                    / nullif(least(n_a, n_b), 0))
             * 1e6 + 0.5) as bigint) as mde_micro""",
        """cast(ceil(2.0 * (cast(n_conv as double) / n_users)
             * (1.0 - cast(n_conv as double) / n_users)
             * ((1.959964 + 0.841621) * (1.959964 + 0.841621))
             / nullif((0.05 * (cast(n_conv as double) / n_users))
                * (0.05 * (cast(n_conv as double) / n_users)), 0.0))
           as bigint) as n_per_arm_for_5pct_lift""")

  val powerAnalysis = GraftQuery(
    "ev_power_analysis",
    (s, dir) => {
      val spend = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(expr("cast(floor(value * 100 + 0.5) as bigint)")).as("cents"))
      val tot = broadcast(spend.agg(count(lit(1)).as("n_users"),
        sum(col("cents")).as("tot_cents")))
      powerAnalysisOn(spend.crossJoin(tot)
        .select((col("user_id") % 2).as("variant"),
          (col("cents") * col("n_users") > col("tot_cents")).cast("long").as("conv")))
    },
    Some("""WITH sp AS (SELECT user_id,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
              FROM events GROUP BY user_id),
            tot AS (SELECT count(*) AS n_users,
                CAST(sum(cents) AS BIGINT) AS tot_cents FROM sp),
            v AS (SELECT user_id % 2 AS variant,
                CAST(cents * n_users > tot_cents AS BIGINT) AS conv
              FROM sp CROSS JOIN tot),
            agg AS (SELECT
                CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                CAST(sum(conv) AS BIGINT) AS n_conv,
                count(*) AS n_users
              FROM v)
            SELECT n_a, n_b, n_conv,
              CAST(n_conv * 1000000 // n_users AS BIGINT) AS p_bar_micro,
              CAST(floor((1.959964 + 0.841621)
                * sqrt(2.0 * (CAST(n_conv AS DOUBLE) / n_users)
                       * (1.0 - CAST(n_conv AS DOUBLE) / n_users)
                       / nullif(least(n_a, n_b), 0))
                * 1e6 + 0.5) AS BIGINT) AS mde_micro,
              CAST(ceil(2.0 * (CAST(n_conv AS DOUBLE) / n_users)
                * (1.0 - CAST(n_conv AS DOUBLE) / n_users)
                * ((1.959964 + 0.841621) * (1.959964 + 0.841621))
                / nullif((0.05 * (CAST(n_conv AS DOUBLE) / n_users))
                   * (0.05 * (CAST(n_conv AS DOUBLE) / n_users)), 0.0))
              AS BIGINT) AS n_per_arm_for_5pct_lift
            FROM agg"""))

  /** CUPED VARIANCE-REDUCTION READOUT (Deng et al. 2013, "Improving the
    * Sensitivity of Online Controlled Experiments"): how much experiment
    * variance a pre-period covariate removes — CUPED's reduction is
    * exactly ρ²(X, Y), so this emits the corpus's own ρ² between each
    * user's FIRST-HALF spend (the pre-period covariate X) and SECOND-HALF
    * spend (the experiment metric Y), plus the effective-sample-size
    * multiplier 1/(1−ρ²). Completes the experimentation suite:
    * [[abLift]] reads the result, [[powerAnalysis]] sizes it, this says
    * how much cheaper CUPED makes it. The driver's synthetic spend is
    * MEMORYLESS per user (measured ρ² ≈ 0.0004 raw — no covariate can
    * help a corpus with no user persistence), so each user carries a
    * planted deterministic spending propensity ((user_id % 100)·2000
    * cents per half, oracle-mirrored — the lm_transfer planting
    * precedent), giving the corpus the cross-user variance real logs
    * have: ρ² ≈ 0.44 at sf0.01 → every user counts ~1.8×.
    *
    * Exactness: the split anchor is one broadcast (min+max) div 2 row
    * (the ev_value_psi two-anchor discipline); per-user (x, y) are exact
    * integer cents; the five moments accumulate as DECIMAL(38,0) ==
    * HUGEINT so aggregation order cannot flip a bit; the three
    * variance/covariance terms (n·Σxy−ΣxΣy etc., each exact and ≤1e19 at
    * bench scale) are THEN cast to double for the single ρ² ratio —
    * squaring inside decimal would overflow 10³⁸ around 15k users, and
    * the ratio is display-precision anyway. nullif guards both the
    * zero-variance corpus and ρ² = 1. */
  /** The CUPED ρ²/ESS core over (x, y) integer-unit covariate/metric
    * pairs: five DECIMAL(38,0)-exact moments, the n·Σxy−ΣxΣy variance
    * terms cast to double only for the single ρ² ratio, and the
    * effective-sample-size multiplier 1/(1−ρ²) as an integer micro-div
    * (nullif-guarded at ρ² = 1 and zero variance). Shared by
    * ev_cuped_readout and [[graft.api.EventAnalytics.cupedReadout]].
    * @return one row: (n_users, rho2_micro, ess_mult_micro) */
  private[graft] def cupedOn(xy: DataFrame): DataFrame =
    xy.agg(count(lit(1)).as("n_users"),
        sum(expr("cast(x as decimal(38,0))")).as("sx"),
        sum(expr("cast(y as decimal(38,0))")).as("sy"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))
      .selectExpr("n_users",
        """cast(floor(
             (cast(cast(n_users as decimal(38,0)) * sxy - sx * sy as double)
              * cast(cast(n_users as decimal(38,0)) * sxy - sx * sy as double))
             / nullif(
                 cast(cast(n_users as decimal(38,0)) * sxx - sx * sx as double)
               * cast(cast(n_users as decimal(38,0)) * syy - sy * sy as double),
                 0.0)
             * 1e6 + 0.5) as bigint) as rho2_micro""")
      .selectExpr("n_users", "rho2_micro",
        "1000000000000 div nullif(1000000 - rho2_micro, 0) as ess_mult_micro")

  val cupedReadout = GraftQuery(
    "ev_cuped_readout",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      val anchor = broadcast(ev.agg(
        expr("(min(us) + max(us)) div 2").as("mid")))
      ev.crossJoin(anchor)
        .groupBy(col("user_id"))
        .agg(sum(when(col("us") < col("mid"), col("cents")).otherwise(0L)).as("x0"),
          sum(when(col("us") >= col("mid"), col("cents")).otherwise(0L)).as("y0"))
        .select(
          (col("x0") + (col("user_id") % 100) * 2000).as("x"),
          (col("y0") + (col("user_id") % 100) * 2000).as("y"))
        .transform(cupedOn)
    },
    Some("""WITH ev AS (
              SELECT user_id, epoch_us(ts) AS us,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
              FROM events),
            anchor AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
            ux AS (
              SELECT user_id,
                CAST(sum(CASE WHEN us < mid THEN cents ELSE 0 END) AS BIGINT)
                  + (user_id % 100) * 2000 AS x,
                CAST(sum(CASE WHEN us >= mid THEN cents ELSE 0 END) AS BIGINT)
                  + (user_id % 100) * 2000 AS y
              FROM ev CROSS JOIN anchor GROUP BY user_id),
            mo AS (
              SELECT count(*) AS n_users,
                CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
                CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
                CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
              FROM ux),
            r AS (
              SELECT n_users,
                CAST(floor(
                  (CAST(CAST(n_users AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                   * CAST(CAST(n_users AS HUGEINT) * sxy - sx * sy AS DOUBLE))
                  / nullif(
                      CAST(CAST(n_users AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                    * CAST(CAST(n_users AS HUGEINT) * syy - sy * sy AS DOUBLE),
                      0.0)
                  * 1e6 + 0.5) AS BIGINT) AS rho2_micro
              FROM mo)
            SELECT n_users, rho2_micro,
              1000000000000 // nullif(1000000 - rho2_micro, 0) AS ess_mult_micro
            FROM r"""))

  /** METRIC-TREE DECOMPOSITION (driver analysis): the week-over-week
    * purchase-revenue change split into its three drivers —
    * revenue = purchasers × purchases-per-purchaser × value-per-purchase,
    * so r_total = r_users · r_freq · r_value exactly (the telescoping
    * identity every "why did the metric move" review leans on; each
    * reported micro ratio is independently truncated, so the identity
    * holds in rationals and to ~1e-6 in the table). Windows anchor at the
    * corpus max timestamp (the rfm anchor discipline): current = last 7
    * days, baseline = the 7 before. Exact integer cents and counts, every
    * ratio one nullif-guarded non-negative micro-div, ONE corpus scan
    * into a 1-row conditional aggregate. */
  val metricDecomposition = GraftQuery(
    "ev_metric_decomposition",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      val anchor = broadcast(ev.agg(max(col("us")).as("mx")))
      ev.crossJoin(anchor)
        .withColumn("w", when(col("us") > col("mx") - 604800000000L, 2)
          .when(col("us") > col("mx") - 1209600000000L, 1).otherwise(0))
        .filter(col("w") > 0)
        .agg(
          countDistinct(when(col("w") === 1, col("user_id"))).as("u1"),
          countDistinct(when(col("w") === 2, col("user_id"))).as("u2"),
          sum(when(col("w") === 1, 1L).otherwise(0L)).as("e1"),
          sum(when(col("w") === 2, 1L).otherwise(0L)).as("e2"),
          sum(when(col("w") === 1, col("cents")).otherwise(0L)).as("c1"),
          sum(when(col("w") === 2, col("cents")).otherwise(0L)).as("c2"))
        .selectExpr("u1", "u2", "e1", "e2", "c1", "c2",
          "c2 * 1000000 div nullif(c1, 0) as r_total_micro",
          "u2 * 1000000 div nullif(u1, 0) as r_users_micro",
          "e2 * u1 * 1000000 div nullif(e1 * u2, 0) as r_freq_micro",
          "c2 * e1 * 1000000 div nullif(c1 * e2, 0) as r_value_micro")
    },
    Some("""WITH ev AS (
              SELECT user_id, epoch_us(ts) AS us,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
              FROM events WHERE event_type = 'purchase'),
            anchor AS (SELECT max(us) AS mx FROM ev),
            wd AS (
              SELECT user_id, cents,
                CASE WHEN us > mx - 604800000000 THEN 2
                     WHEN us > mx - 1209600000000 THEN 1 ELSE 0 END AS w
              FROM ev CROSS JOIN anchor),
            agg AS (
              SELECT
                count(DISTINCT CASE WHEN w = 1 THEN user_id END) AS u1,
                count(DISTINCT CASE WHEN w = 2 THEN user_id END) AS u2,
                CAST(sum(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS BIGINT) AS e1,
                CAST(sum(CASE WHEN w = 2 THEN 1 ELSE 0 END) AS BIGINT) AS e2,
                CAST(sum(CASE WHEN w = 1 THEN cents ELSE 0 END) AS BIGINT) AS c1,
                CAST(sum(CASE WHEN w = 2 THEN cents ELSE 0 END) AS BIGINT) AS c2
              FROM wd WHERE w > 0)
            SELECT u1, u2, e1, e2, c1, c2,
              c2 * 1000000 // nullif(c1, 0) AS r_total_micro,
              u2 * 1000000 // nullif(u1, 0) AS r_users_micro,
              e2 * u1 * 1000000 // nullif(e1 * u2, 0) AS r_freq_micro,
              c2 * e1 * 1000000 // nullif(c1 * e2, 0) AS r_value_micro
            FROM agg"""))

  /** SEASONALITY STRENGTH: the fraction of hourly-traffic variance the
    * hour-of-week profile explains — R² of the predictor
    * ŷ(h) = mean over h's (dow, hour) cell — the ONE number that says
    * whether [[weeklyPattern]]'s heatmap is signal or wallpaper (and
    * whether [[seasonalBaseline]]'s same-hour-last-week forecast can work
    * at all). Read it against the NULL LINE: fitting G=168 cell means to
    * n observed hours mechanically "explains" ≈ (G−1)/(n−1) of pure noise
    * (≈0.23 at sf0.1's 720 hours), and this corpus measures 0.217 —
    * i.e. the synthetic log has NO real weekly cycle, which is the
    * correct verdict; a production log with genuine diurnal shape reads
    * far above its null line. Convention: observed hours only (an empty
    * hour contributes no row — documented, identical in both engines).
    * Exactness: hourly
    * counts are exact integers; each cell's SSE term q_g − s_g²/k_g is
    * one division over exact ints, floor-scaled to micros BEFORE the
    * cross-cell sum (the dsir discipline — 168 cells, order-proof); SST's
    * (n·q − S²)/n numerator stays exact in DECIMAL(38,0); the final R² is
    * one fixed double op tree, floor-scaled, nullif-guarded against a
    * constant-traffic corpus. One scan → hour rollup → 168-cell rollup →
    * two 1-row scalars crossed. */
  val seasonalityStrength = GraftQuery(
    "ev_seasonality_strength",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .select(expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("y"))
        .select(col("h"), col("y"),
          expr("cast(((h div 24) + 4) % 7 * 24 + h % 24 as int)").as("how"))
      val sse = hourly.groupBy(col("how"))
        .agg(count(lit(1)).as("k"), sum(col("y")).as("sg"),
          sum(col("y") * col("y")).as("qg"))
        .select(expr(
          """cast(floor((cast(qg as double) - cast(sg as double) * sg / k)
               * 1e6 + 0.5) as bigint)""").as("sse_term"))
        .agg(sum(col("sse_term")).as("sse_micro"))
      val tot = hourly.agg(count(lit(1)).as("n"),
        sum(expr("cast(y as decimal(38,0))")).as("s"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("q"))
      tot.crossJoin(broadcast(sse))
        .selectExpr("n",
          """cast(floor((1.0 - (cast(sse_micro as double) / 1e6)
               / nullif(cast(cast(n as decimal(38,0)) * q - s * s as double)
                        / n, 0.0))
               * 1e6 + 0.5) as bigint) as r2_micro""")
    },
    Some("""WITH hourly AS (
              SELECT h, count(*) AS y,
                CAST(((h // 24) + 4) % 7 * 24 + h % 24 AS INTEGER) AS how
              FROM (SELECT epoch_us(ts) // 3600000000 AS h FROM events)
              GROUP BY h),
            sse AS (
              SELECT CAST(sum(sse_term) AS BIGINT) AS sse_micro FROM (
                SELECT CAST(floor((CAST(qg AS DOUBLE) - CAST(sg AS DOUBLE) * sg / k)
                    * 1e6 + 0.5) AS BIGINT) AS sse_term
                FROM (SELECT how, count(*) AS k, CAST(sum(y) AS BIGINT) AS sg,
                        CAST(sum(y * y) AS BIGINT) AS qg
                      FROM hourly GROUP BY how))),
            tot AS (
              SELECT count(*) AS n,
                CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS s,
                CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS q
              FROM hourly)
            SELECT n,
              CAST(floor((1.0 - (CAST(sse_micro AS DOUBLE) / 1e6)
                / nullif(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE) / n, 0.0))
                * 1e6 + 0.5) AS BIGINT) AS r2_micro
            FROM tot CROSS JOIN sse"""))

  /** ACTIVITY STREAKS (gaps-and-islands): per user the longest run of
    * consecutive active days and the streak still alive at the corpus's
    * last day — the engagement mechanic every consumer product ships and
    * the canonical gaps-and-islands SQL interview shape, done the
    * scale-correct way: island id = day − row_number() over the user's
    * distinct active days (consecutive days share it; both terms exact
    * integers), so islands fall out of ONE user-keyed window pass with no
    * self-join and no recursion. "Current" anchors at the corpus max
    * active day (the rfm anchor discipline, one broadcast row): a user's
    * current streak is their island that touches the anchor, else 0.
    * Everything after the distinct-day dedup runs on (user, island)
    * rows. */
  val activityStreaks = GraftQuery(
    "ev_activity_streaks",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val days = t(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val anchor = broadcast(days.agg(max(col("day")).as("maxd")))
      days
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"), max(col("day")).as("last_day"))
        .crossJoin(anchor)
        .groupBy(col("user_id"))
        .agg(sum(col("len")).as("n_active_days"),
          max(col("len")).as("longest_streak"),
          max(when(col("last_day") === col("maxd"), col("len")).otherwise(0L))
            .as("current_streak"))
        .orderBy(col("user_id"))
    },
    Some("""WITH days AS (
              SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
              FROM events),
            anchor AS (SELECT max(day) AS maxd FROM days),
            isl AS (
              SELECT user_id,
                day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp,
                day
              FROM days),
            runs AS (
              SELECT user_id, grp, count(*) AS len, max(day) AS last_day
              FROM isl GROUP BY user_id, grp)
            SELECT user_id,
              CAST(sum(len) AS BIGINT) AS n_active_days,
              CAST(max(len) AS BIGINT) AS longest_streak,
              CAST(max(CASE WHEN last_day = maxd THEN len ELSE 0 END) AS BIGINT)
                AS current_streak
            FROM runs CROSS JOIN anchor
            GROUP BY user_id ORDER BY user_id"""))

  /** ATTRIBUTION-WINDOW TUNING SWEEP: click→purchase conversion rate at
    * candidate windows 1 h / 6 h / 24 h from ONE pass — the table that
    * picks the attribution window [[cartAbandonment]] hard-codes (every
    * ads and analytics team fights over this constant; the sweep replaces
    * the fight with the measured curve — the tuning-table family's
    * event-time member). Each click's NEXT same-user purchase comes from one
    * forward-looking RANGE frame (the ev_absence spelling, unbounded so
    * one pass serves every window); the window sweep then explodes 3 rows
    * per click and aggregates — microsecond-exact gaps, integer
    * micro-rates. */
  val conversionWindowSweep = GraftQuery(
    "ev_conversion_window_sweep",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(1L, Window.unboundedFollowing)
      t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
        .withColumn("next_p_us",
          min(when(col("event_type") === "purchase", col("us"))).over(w))
        .filter(col("event_type") === "click")
        .select(col("us"), col("next_p_us"),
          explode(expr("array(1, 6, 24)")).as("window_h"))
        .groupBy(col("window_h"))
        .agg(count(lit(1)).as("n_clicks"),
          sum(when(col("next_p_us").isNotNull &&
            col("next_p_us") - col("us") <= col("window_h") * 3600000000L, 1L)
            .otherwise(0L)).as("n_converted"))
        .select(col("window_h"), col("n_clicks"), col("n_converted"),
          expr("n_converted * 1000000 div nullif(n_clicks, 0)").as("rate_micro"))
        .orderBy(col("window_h"))
    },
    Some("""WITH ce AS (
              SELECT user_id, event_type, epoch_us(ts) AS us
              FROM events WHERE event_type IN ('click', 'purchase')),
            marked AS (
              SELECT event_type, us,
                min(CASE WHEN event_type = 'purchase' THEN us END) OVER (
                  PARTITION BY user_id ORDER BY us
                  RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_p_us
              FROM ce),
            sweep AS (
              SELECT us, next_p_us, unnest([1, 6, 24]) AS window_h
              FROM marked WHERE event_type = 'click')
            SELECT window_h, count(*) AS n_clicks,
              CAST(sum(CASE WHEN next_p_us IS NOT NULL
                    AND next_p_us - us <= window_h * 3600000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted,
              CAST(sum(CASE WHEN next_p_us IS NOT NULL
                    AND next_p_us - us <= window_h * 3600000000 THEN 1 ELSE 0 END)
                AS BIGINT) * 1000000 // nullif(count(*), 0) AS rate_micro
            FROM sweep GROUP BY window_h ORDER BY window_h"""))

  /** MARKOV STEADY-STATE (power iteration on the behavior chain): where
    * does user attention settle if the [[transitionMatrix]] dynamics run
    * forward? π₀ uniform, then four unrolled ticks of
    * π_{t+1}(j) = Σ_i π_t(i)·p(i,j) — the equilibrium panel completing
    * the Markov trio (transition counts → per-state entropy → stationary
    * distribution), and the same driver-side-unrolled power-iteration
    * protocol as PageRank/HITS mapped onto a states-sized chain.
    *
    * Exact-integer discipline: p(i,j) = n·1e6 div tot(i), each tick's
    * term π(i)·p(i,j) div 1e6 floors PER TERM before the keyed sum —
    * deterministic under any aggregation order, oracle-mirrored. Floor
    * truncation leaks a few micros of mass per tick (documented; both
    * engines leak identically). π₀/π₂/π₄ are emitted side by side so the
    * row shows convergence, not just the endpoint.
    *
    * 100 TB shape: ONE corpus scan (the lead() pass shared with
    * [[transitionMatrix]]) reduces to ≤|types|² rows; every tick after is
    * arithmetic on states-sized frames. */
  val markovSteadyState = GraftQuery(
    "ev_markov_steady_state",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val hop = t(s, dir, "events")
        .withColumn("j", lead(col("event_type"), 1).over(w))
        .filter(col("j").isNotNull)
        .select(col("event_type").as("i"), col("j"))
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("n"))
      val tot = hop.groupBy(col("i")).agg(sum(col("n")).as("tot"))
      val p = hop.join(tot, "i")
        .select(col("i"), col("j"), expr("n * 1000000L div tot").as("p_micro"))
        .transform(Pin.reuse)
      val states = p.select(col("i").as("state"))
        .union(p.select(col("j").as("state"))).distinct().transform(Pin.reuse)
      val k = states.count()
      val pi0 = states.select(col("state"), lit(1000000L / k).as("pi"))
      // two ticks from π₀ to π₂, two more from π₂ to π₄: rounds keeps its
      // seed, so the emitted snapshots stay
      def twoTicks(from: DataFrame): DataFrame = Pin.rounds(from, 2)((pi, _) => {
        val next = pi.as("x").join(p.as("p"), col("p.i") === col("x.state"))
          .groupBy(col("p.j").as("state"))
          .agg(sum(expr("pi * p_micro div 1000000")).as("pi"))
        states.join(next, Seq("state"), "left")
          .select(col("state"), coalesce(col("pi"), lit(0L)).as("pi"))
      })._1
      val pi2 = twoTicks(pi0)
      states
        .join(pi0.withColumnRenamed("pi", "pi0_micro"), "state")
        .join(pi2.withColumnRenamed("pi", "pi2_micro"), "state")
        .join(twoTicks(pi2).withColumnRenamed("pi", "pi4_micro"), "state")
        .orderBy(col("state"))
    },
    Some(s"""WITH hop AS (
               SELECT i, j, count(*) AS n FROM (
                 SELECT event_type AS i,
                   lead(event_type, 1) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS j
                 FROM events)
               WHERE j IS NOT NULL GROUP BY i, j),
             tot AS (SELECT i, CAST(sum(n) AS BIGINT) AS tot FROM hop GROUP BY i),
             p AS MATERIALIZED (
               SELECT h.i, h.j, CAST(h.n * 1000000 // t.tot AS BIGINT) AS p_micro
               FROM hop h JOIN tot t ON t.i = h.i),
             states AS MATERIALIZED (
               SELECT i AS state FROM p UNION SELECT j FROM p),
             ns AS (SELECT count(*) AS k FROM states),
             pi0 AS (SELECT state, CAST(1000000 // k AS BIGINT) AS pi
                     FROM states CROSS JOIN ns),
             ${(1 to 4).map { tk =>
               s"""pit$tk AS (SELECT p.j AS state,
                     CAST(sum(x.pi * p.p_micro // 1000000) AS BIGINT) AS pi
                   FROM pi${tk - 1} x JOIN p ON p.i = x.state GROUP BY p.j),
                 pi$tk AS (SELECT s.state, coalesce(t.pi, 0) AS pi
                   FROM states s LEFT JOIN pit$tk t ON t.state = s.state)"""
             }.mkString(",\n             ")}
             SELECT s.state, p0.pi AS pi0_micro, p2.pi AS pi2_micro,
               p4.pi AS pi4_micro
             FROM states s
             JOIN pi0 p0 ON p0.state = s.state
             JOIN pi2 p2 ON p2.state = s.state
             JOIN pi4 p4 ON p4.state = s.state
             ORDER BY s.state"""))

  /** KMV / THETA-SKETCH SET ALGEBRA (Bar-Yossef et al. 2002; the
    * DataSketches theta family): distinct-count estimates for two user
    * segments, their UNION, and — the thing [[hllRollup]]'s HLL
    * structurally cannot do — their INTERSECTION (audience overlap), from
    * K=64-minimum-value sketches. Fourth sketch in the family: Count-Min
    * (counts), HLL (distinct ∪), QuantileSketch (quantiles), KMV (set
    * algebra).
    *
    * DERANDOMIZED: h = hash48('kmv:'||user) (the randomWalk md5 trick),
    * so both engines build bit-identical sketches and the row is fully
    * DuckDB-oracled — unlike approx sketches with engine-private RNG.
    * Estimates: |S| ≈ (K−1)·2⁴⁸/h_K when the sketch saturates (else the
    * sketch IS the set, exact); A∩B ≈ |{common sketch hashes < θ}|·2⁴⁸/θ
    * with θ = min(h_K^A, h_K^B). Each estimate is ONE double multiply +
    * divide of exactly-agreed int64s (rounded 2dp), so the compare is
    * exact. Exact truths sit beside the estimates — the row carries its
    * own error audit, the ev_ab_lift A/A discipline.
    *
    * 100 TB shape: the K-set build is the real TWO-PHASE top-K — rank ≤ K
    * within (segment, h mod 64) partial buckets first (≤ 64·K rows per
    * segment survive), then rank ≤ K per segment — so no single reducer
    * ever sees a segment's full user set; a production variant packages
    * the same merge as a typed Aggregator (the QuantileSketch shape). */
  val kmvOverlap = GraftQuery(
    "ev_kmv_overlap",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val K = 64
      // segments over ORDERS, not events: the synthetic event log has a
      // handful of users each with hundreds of events, so every time
      // slice saturates to the same full set; orders are per-customer
      // sparse, so early-period vs late-period BUYERS overlap partially —
      // their intersection is the returning-customer count, the
      // audience-overlap number this sketch exists to estimate
      val ev = t(s, dir, "orders")
        .select(col("o_custkey").as("user_id"),
          datediff(col("o_orderdate"), lit("1970-01-01")).as("us"))
      val mid = broadcast(ev.agg(
        ((min(col("us")) + max(col("us"))) / 2).cast("long").as("mid")))
      def seg(name: String, firstHalf: Boolean): DataFrame = ev
        .crossJoin(mid)
        .filter(if (firstHalf) col("us") < col("mid") else col("us") >= col("mid"))
        .select(lit(name).as("seg"), col("user_id")).distinct()
      val both = seg("a_first_half", firstHalf = true)
        .union(seg("b_second_half", firstHalf = false))
        .withColumn("h", md5Prefix(concat(lit("kmv:"), col("user_id").cast("string")), 12))
        .transform(Pin.reuse)
      val exact = both.groupBy(col("seg")).agg(count(lit(1)).as("exact_distinct"))
      // two-phase K-minimum-values: partial top-K per (seg, h mod 64) bucket,
      // then final top-K per segment
      val w1 = Window.partitionBy(col("seg"), pmod(col("h"), lit(64L)))
        .orderBy(col("h"))
      val w2 = Window.partitionBy(col("seg")).orderBy(col("h"))
      val kset = both.select(col("seg"), col("h"))
        .withColumn("r1", row_number().over(w1)).filter(col("r1") <= K)
        .withColumn("r2", row_number().over(w2)).filter(col("r2") <= K)
        .select(col("seg"), col("h"), col("r2")).transform(Pin.tick)
      val R = lit(281474976710656.0) // 2^48 as double, exact
      def estRow(src: DataFrame, name: String, exactDf: DataFrame): DataFrame = {
        val agg = src.agg(count(lit(1)).as("n_sketch"), max(col("h")).as("kth_hash"))
        agg.crossJoin(exactDf)
          .select(lit(name).as("set_name"), col("n_sketch"), col("kth_hash"),
            round(when(col("n_sketch") < K, col("n_sketch").cast("double"))
              .otherwise(lit((K - 1).toDouble) * R / col("kth_hash").cast("double")), 2)
              .as("est_distinct"),
            col("exact_distinct"))
      }
      val aset = kset.filter(col("seg") === "a_first_half")
      val bset = kset.filter(col("seg") === "b_second_half")
      val aRow = estRow(aset, "a_first_half",
        exact.filter(col("seg") === "a_first_half").select(col("exact_distinct")))
      val bRow = estRow(bset, "b_second_half",
        exact.filter(col("seg") === "b_second_half").select(col("exact_distinct")))
      // union sketch: K smallest of the merged K-sets (the mergeability
      // that makes KMV a sketch, not a sample)
      val wu = Window.orderBy(col("h"))
      val uset = aset.select(col("h")).union(bset.select(col("h"))).distinct()
        .withColumn("r", row_number().over(wu)).filter(col("r") <= K)
      val uExact = both.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("exact_distinct"))
      val uRow = estRow(uset, "union", uExact)
      // intersection: common sketch hashes below theta = min of the two kths
      val thetaDf = aset.agg(max(col("h")).as("ka"))
        .crossJoin(bset.agg(max(col("h")).as("kb")))
        .select(least(col("ka"), col("kb")).as("theta"))
      val common = aset.select(col("h")).join(bset.select(col("h")), "h")
      val iExact = seg("a", firstHalf = true).select(col("user_id"))
        .join(seg("b", firstHalf = false).select(col("user_id")), "user_id")
        .agg(count(lit(1)).as("exact_distinct"))
      // theta rides an independent crossJoin AFTER the aggregate (never
      // first() over an empty-able group), and an empty sketch
      // intersection is pinned to 0.0 in BOTH engines — a disjoint corpus
      // must not diverge into Spark-NULL vs DuckDB-0.0
      val iRow = common.crossJoin(thetaDf)
        .filter(col("h") <= col("theta"))
        .agg(count(lit(1)).as("n_sketch"), coalesce(max(col("h")), lit(0L)).as("kth_hash"))
        .crossJoin(thetaDf)
        .crossJoin(iExact)
        .select(lit("intersection").as("set_name"), col("n_sketch"), col("kth_hash"),
          when(col("n_sketch") === 0L, lit(0.0)).otherwise(
            round(col("n_sketch").cast("double") * R / col("theta").cast("double"), 2))
            .as("est_distinct"),
          col("exact_distinct"))
      aRow.unionByName(bRow).unionByName(uRow).unionByName(iRow)
        .orderBy(col("set_name"))
    },
    Some("""WITH ords AS (
              SELECT o_custkey AS user_id,
                CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS us
              FROM orders),
            mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ords),
            segs AS MATERIALIZED (
              SELECT DISTINCT 'a_first_half' AS seg, user_id
              FROM ords CROSS JOIN mid WHERE us < mid.mid
              UNION
              SELECT DISTINCT 'b_second_half', user_id
              FROM ords CROSS JOIN mid WHERE us >= mid.mid),
            hashed AS MATERIALIZED (
              SELECT seg, user_id,
                CAST(('0x' || substring(md5('kmv:' || CAST(user_id AS VARCHAR)),
                  1, 12)) AS BIGINT) AS h
              FROM segs),
            exact AS (SELECT seg, count(*) AS exact_distinct
                      FROM hashed GROUP BY seg),
            phase1 AS (SELECT seg, h, row_number() OVER (
                PARTITION BY seg, h % 64 ORDER BY h) AS r1 FROM hashed),
            kset AS MATERIALIZED (SELECT seg, h FROM (
                SELECT seg, h, row_number() OVER (
                  PARTITION BY seg ORDER BY h) AS r2
                FROM phase1 WHERE r1 <= 64)
              WHERE r2 <= 64),
            arow AS (SELECT 'a_first_half' AS set_name, count(*) AS n_sketch,
                CAST(max(h) AS BIGINT) AS kth_hash,
                round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                  ELSE 63e0 * 2.81474976710656e14 / CAST(max(h) AS DOUBLE) END, 2)
                  AS est_distinct,
                (SELECT exact_distinct FROM exact WHERE seg = 'a_first_half')
                  AS exact_distinct
              FROM kset WHERE seg = 'a_first_half'),
            brow AS (SELECT 'b_second_half', count(*),
                CAST(max(h) AS BIGINT),
                round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                  ELSE 63e0 * 2.81474976710656e14 / CAST(max(h) AS DOUBLE) END, 2),
                (SELECT exact_distinct FROM exact WHERE seg = 'b_second_half')
              FROM kset WHERE seg = 'b_second_half'),
            uset AS (SELECT h FROM (
                SELECT h, row_number() OVER (ORDER BY h) AS r
                FROM (SELECT DISTINCT h FROM kset))
              WHERE r <= 64),
            urow AS (SELECT 'union', count(*),
                CAST(max(h) AS BIGINT),
                round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                  ELSE 63e0 * 2.81474976710656e14 / CAST(max(h) AS DOUBLE) END, 2),
                (SELECT count(DISTINCT user_id) FROM hashed)
              FROM uset),
            theta AS (SELECT least(
                (SELECT max(h) FROM kset WHERE seg = 'a_first_half'),
                (SELECT max(h) FROM kset WHERE seg = 'b_second_half')) AS th),
            common AS (SELECT a.h FROM kset a JOIN kset b
                ON b.h = a.h AND a.seg = 'a_first_half' AND b.seg = 'b_second_half'
              CROSS JOIN theta WHERE a.h <= theta.th),
            irow AS (SELECT 'intersection', count(*),
                CAST(coalesce(max(h), 0) AS BIGINT),
                CASE WHEN count(*) = 0 THEN 0.0
                  ELSE round(CAST(count(*) AS DOUBLE) * 2.81474976710656e14
                    / CAST((SELECT th FROM theta) AS DOUBLE), 2) END,
                (SELECT count(*) FROM
                  (SELECT DISTINCT user_id FROM segs WHERE seg = 'a_first_half')
                  JOIN
                  (SELECT DISTINCT user_id FROM segs WHERE seg = 'b_second_half')
                  USING (user_id))
              FROM common)
            SELECT set_name, CAST(n_sketch AS BIGINT) AS n_sketch, kth_hash,
              est_distinct, CAST(exact_distinct AS BIGINT) AS exact_distinct
            FROM (SELECT * FROM arow UNION ALL SELECT * FROM brow
                  UNION ALL SELECT * FROM urow UNION ALL SELECT * FROM irow)
              t(set_name, n_sketch, kth_hash, est_distinct, exact_distinct)
            ORDER BY set_name"""))

  /** SESSION-GAP SWEEP — the inactivity-threshold tuning table for
    * [[session]]'s 30-minute constant (the family convention: every knob
    * ships its measured curve): session count, user count and mean
    * events-per-session at gap ∈ {5 min, 30 min, 2 h}, derived
    * CLOSED-FORM from each user's inter-event gaps — sessions(G) = users
    * + #(gaps >= G) — so the whole curve costs ONE user-keyed sort (the
    * lag window), a 3-cell map-side explode of the gap rows, and a 3-row
    * aggregate: the session frames themselves never materialize. Exact
    * integer microsecond gaps; the mean is one non-negative integer div
    * to micros.
    *
    * Measured at sf0.1 (100k events, 1500 users): 99233 / 95465 / 83251
    * sessions at 5 min / 30 min / 2 h (1.01 / 1.05 / 1.20 events per
    * session) — the synthetic stream is near-memoryless per user, so
    * sessions are mostly singletons at every gap; the flat curve is
    * itself the diagnostic (a real clickstream bends sharply here), and
    * the sweep is the instrument that would show it. */
  val sessionGapSweep = GraftQuery(
    "ev_session_gap_sweep",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
        .select(col("user_id"), col("gap"),
          explode(expr("array(300000000L, 1800000000L, 7200000000L)")).as("gap_us"))
        .groupBy(col("gap_us"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(when(col("gap").isNotNull && col("gap") >= col("gap_us"), 1L)
            .otherwise(0L)).as("n_breaks"))
        .select(col("gap_us"), col("n_events"), col("n_users"),
          (col("n_users") + col("n_breaks")).as("n_sessions"),
          expr("n_events * 1000000 div (n_users + n_breaks)")
            .as("events_per_session_micro"))
        .orderBy(col("gap_us"))
    },
    Some("""WITH g AS (
              SELECT user_id,
                epoch_us(ts) - lag(epoch_us(ts)) OVER (
                  PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
              FROM events),
            x AS (SELECT user_id, gap, c.gap_us
                  FROM g CROSS JOIN (SELECT unnest([300000000, 1800000000,
                    7200000000]) AS gap_us) c),
            a AS (
              SELECT gap_us, count(*) AS n_events,
                count(DISTINCT user_id) AS n_users,
                CAST(sum(CASE WHEN gap IS NOT NULL AND gap >= gap_us
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks
              FROM x GROUP BY gap_us)
            SELECT CAST(gap_us AS BIGINT) AS gap_us, n_events, n_users,
              CAST(n_users + n_breaks AS BIGINT) AS n_sessions,
              CAST(n_events * 1000000 // (n_users + n_breaks) AS BIGINT)
                AS events_per_session_micro
            FROM a ORDER BY gap_us"""))

  /** KMV K-SWEEP — the sketch-size tuning table for [[kmvOverlap]]'s K=64
    * constant (the family convention: every knob ships its measured
    * curve): distinct-count estimate and absolute error at K ∈ {16, 64,
    * 256} over the buyer set, from ONE ranking pass — rank once at the
    * LARGEST K, every smaller K is a prefix of that ranking (kth hash =
    * max h with rank <= K), so the sweep costs exactly one two-phase
    * top-K no matter how many K cells it reports. The analytic error band
    * ~1/sqrt(K) (Bar-Yossef et al. 2002) says quartering the error costs
    * 16x the state — this table is that trade measured on real keys.
    * err_abs is a bit-identical double on both engines: est is one
    * rounded division of exactly-agreed int64s, exact is an integer, and
    * the subtraction is a single IEEE op — no re-rounding.
    *
    * Measured curve (sf0.1, 14999 distinct buyers): K=16 err 4551 (30%),
    * K=64 err 1354 (9%), K=256 err 902 (6%) — tracking the analytic
    * 1/sqrt(K) band (25% / 12.5% / 6.25%); K=64 is the knee where 4x more
    * state stops paying. */
  val kmvKSweep = GraftQuery(
    "ev_kmv_k_sweep",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val Kmax = 256
      val hashed = t(s, dir, "orders")
        .select(col("o_custkey").as("user_id")).distinct()
        .withColumn("h", md5Prefix(concat(lit("kmv:"), col("user_id").cast("string")), 12))
      // two-phase rank at Kmax: partial top-Kmax per (h mod 64) bucket,
      // then one global rank over the <= 64*Kmax survivors
      val w1 = Window.partitionBy(pmod(col("h"), lit(64L))).orderBy(col("h"))
      val w2 = Window.orderBy(col("h"))
      val ranked = hashed
        .withColumn("r1", row_number().over(w1)).filter(col("r1") <= Kmax)
        .withColumn("r2", row_number().over(w2)).filter(col("r2") <= Kmax)
        .select(col("h"), col("r2"))
      val exact = broadcast(hashed.agg(count(lit(1)).as("exact_distinct")))
      val R = lit(281474976710656.0) // 2^48 as double, exact
      val ks = s.range(0, 3).select(
        expr("element_at(array(16, 64, 256), cast(id + 1 as int))").as("k"))
      ranked.crossJoin(broadcast(ks))
        .filter(col("r2") <= col("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("kth_hash"))
        .crossJoin(exact)
        .select(col("k"), col("n_sketch"), col("kth_hash"),
          when(col("n_sketch") < col("k"), col("n_sketch").cast("double"))
            .otherwise(round((col("k") - 1).cast("double") * R
              / col("kth_hash").cast("double"), 2)).as("est_distinct"),
          col("exact_distinct"))
        .withColumn("err_abs",
          abs(col("est_distinct") - col("exact_distinct").cast("double")))
        .orderBy(col("k"))
    },
    Some("""WITH users AS (SELECT DISTINCT o_custkey AS user_id FROM orders),
            hashed AS MATERIALIZED (
              SELECT user_id,
                CAST(('0x' || substring(md5('kmv:' || CAST(user_id AS VARCHAR)),
                  1, 12)) AS BIGINT) AS h
              FROM users),
            exact AS (SELECT count(*) AS exact_distinct FROM hashed),
            phase1 AS (SELECT h, row_number() OVER (
                PARTITION BY h % 64 ORDER BY h) AS r1 FROM hashed),
            ranked AS MATERIALIZED (SELECT h, r2 FROM (
                SELECT h, row_number() OVER (ORDER BY h) AS r2
                FROM phase1 WHERE r1 <= 256)
              WHERE r2 <= 256),
            cells AS (
              SELECT g.k, count(*) AS n_sketch, max(h) AS kth_hash
              FROM ranked CROSS JOIN (SELECT unnest([16, 64, 256]) AS k) g
              WHERE r2 <= g.k GROUP BY g.k)
            SELECT CAST(k AS INTEGER) AS k,
              CAST(n_sketch AS BIGINT) AS n_sketch,
              CAST(kth_hash AS BIGINT) AS kth_hash,
              CASE WHEN n_sketch < k THEN CAST(n_sketch AS DOUBLE)
                ELSE round((k - 1e0) * 2.81474976710656e14
                  / CAST(kth_hash AS DOUBLE), 2) END AS est_distinct,
              CAST((SELECT exact_distinct FROM exact) AS BIGINT) AS exact_distinct,
              abs((CASE WHEN n_sketch < k THEN CAST(n_sketch AS DOUBLE)
                ELSE round((k - 1e0) * 2.81474976710656e14
                  / CAST(kth_hash AS DOUBLE), 2) END)
                - CAST((SELECT exact_distinct FROM exact) AS DOUBLE)) AS err_abs
            FROM cells ORDER BY k"""))

  val all: Seq[GraftQuery] = Seq(
    tumbling, sliding, session, sessionDynamic, asofJoin, funnel, json,
    timeFilter, dedupReplay, cohortRetention, anomalyZscore, intervalJoinBinned,
    intervalJoinAuto, intervalJoinBetween, cepPairs, forwardFill,
    transitionMatrix, asofNearest, resampleGrid, rateLimit, topPaths, absence,
    interarrivalStats, resampleInterpolate, dailyActive, changepoint,
    weeklyPattern, anomalyMad, funnelTtc, peakConcurrency, wauStickiness,
    seasonalBaseline, alertDebounce, firstTouch, cartAbandonment,
    errorBudgetBurn, transitionEntropy, sessionDepth, userGini, rfmSegments,
    scd2History, valueQuantileSketch, pointInTimeJoin, hllRollup,
    survivalCurve, valuePsi, abLift, ltvCohort, botDetection, funnelSteps,
    linearAttribution, powerAnalysis, cupedReadout, metricDecomposition,
    seasonalityStrength, activityStreaks, conversionWindowSweep,
    markovSteadyState, kmvOverlap, kmvKSweep, sessionGapSweep, cepSequence)

  /** ORDERED 3-STEP CEP SEQUENCE, batch leg (r16): non-overlapping greedy
    * view→click→purchase chains per user, the whole chain inside 24 hours
    * of its first step (the fixture log's inter-event cadence is hours —
    * a minutes-scale window matches nothing at any SF, measured 0/0/1/10
    * at 10m/1h/6h/24h on sf0.001) — graft.streaming.Cep.detectSequenceBatch,
    * the secondary-sort pass over the shared single-event automaton
    * (stepChain: one keyed shuffle, per-partition (key, ts, etype) sort,
    * constant per-task state — a hot key costs time, never memory).
    *
    * SQL ORACLE (r17, formerly rows-only): greedy non-overlapping
    * matching has no bounded-depth WINDOW spelling (a chain's start
    * depends on where the previous chain ended and on every expiry
    * cascade between), but the automaton IS a linear recursion — one
    * event per key per step — so a RECURSIVE CTE that advances every
    * key's (n, t0, tPrev) state by its rn-th event per iteration
    * replays stepChain verbatim: expiry check first, then
    * start/advance/emit, strict ts > tPrev advance, (ts, etype) total
    * order. Validated cell-for-cell against a reference automaton on
    * sf0.01 before landing. Recursion depth = max events per key —
    * bounded by the per-user log, not the corpus. */
  lazy val cepSequence = GraftQuery(
    "ev_cep_sequence",
    (s, dir) => {
      import s.implicits._
      val ds = t(s, dir, "events")
        .select(col("user_id").cast("string").as("key"),
          col("event_type").as("etype"), col("ts"))
        .as[graft.streaming.Cep.CepEvent]
      graft.streaming.Cep
        .detectSequenceBatch(ds, Seq("view", "click", "purchase"), 86400000L)
        .toDF("key", "start_ts", "end_ts")
        .orderBy(col("key"), col("start_ts"))
    },
    Some("""WITH RECURSIVE ev AS (
              SELECT CAST(user_id AS VARCHAR) AS key, epoch_us(ts) AS ts_us,
                event_type,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY epoch_us(ts), event_type) AS rn
              FROM events WHERE event_type IN ('view', 'click', 'purchase')),
            m AS (
              SELECT key, rn,
                CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS n,
                CASE WHEN event_type = 'view' THEN ts_us ELSE 0 END AS t0,
                CASE WHEN event_type = 'view' THEN ts_us ELSE 0 END AS tp,
                CAST(NULL AS BIGINT) AS emit_start,
                CAST(NULL AS BIGINT) AS emit_end
              FROM ev WHERE rn = 1
              UNION ALL
              SELECT key, rn,
                CASE WHEN n_eff = 0 AND event_type = 'view' THEN 1
                     WHEN n_eff = 1 AND event_type = 'click' AND ts_us > tp THEN 2
                     WHEN n_eff = 2 AND event_type = 'purchase' AND ts_us > tp THEN 0
                     ELSE n_eff END AS n,
                CASE WHEN n_eff = 0 AND event_type = 'view' THEN ts_us
                     ELSE t0 END AS t0,
                CASE WHEN n_eff = 0 AND event_type = 'view' THEN ts_us
                     WHEN n_eff = 1 AND event_type = 'click' AND ts_us > tp THEN ts_us
                     WHEN n_eff = 2 AND event_type = 'purchase' AND ts_us > tp THEN ts_us
                     ELSE tp END AS tp,
                CASE WHEN n_eff = 2 AND event_type = 'purchase' AND ts_us > tp
                     THEN t0 END AS emit_start,
                CASE WHEN n_eff = 2 AND event_type = 'purchase' AND ts_us > tp
                     THEN ts_us END AS emit_end
              FROM (
                SELECT e.key, e.rn, e.ts_us, e.event_type, m.t0, m.tp,
                  CASE WHEN m.n > 0 AND e.ts_us - m.t0 > 86400000000
                       THEN 0 ELSE m.n END AS n_eff
                FROM m JOIN ev e ON e.key = m.key AND e.rn = m.rn + 1) s)
            SELECT key, make_timestamp(emit_start) AS start_ts,
              make_timestamp(emit_end) AS end_ts
            FROM m WHERE emit_start IS NOT NULL
            ORDER BY key, start_ts"""))

  /** TIME-TO-CONVERT: latency from a user's FIRST click to their first
    * purchase AFTER it — [[funnel]] says who converts, this says how fast
    * (the metric conversion-rate work is actually judged by). Exact
    * integer microsecond gaps; median/p90 ride the same exact-percentile
    * parity as [[interarrivalStats]]. Two user-keyed aggregations meet in
    * one user-keyed join — at corpus scale everything shuffles on the
    * user key once and the output is one row. */
  lazy val funnelTtc = GraftQuery(
    "ev_funnel_ttc",
    (s, dir) => {
      val base = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val firstClick = base.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("us")).as("c_us"))
      base.filter(col("event_type") === "purchase")
        .join(firstClick, "user_id")
        .filter(col("us") > col("c_us"))
        .groupBy(col("user_id"))
        .agg(min(col("us")).as("p_us"), min(col("c_us")).as("c_us"))
        .agg(count(lit(1)).as("n_converted"),
          expr("round(median(p_us - c_us) / 1e6, 4)").as("median_ttc_s"),
          expr("round(percentile(p_us - c_us, 0.9) / 1e6, 4)").as("p90_ttc_s"))
    },
    Some("""WITH fc AS (SELECT user_id, min(epoch_us(ts)) AS c_us
                        FROM events WHERE event_type = 'click' GROUP BY user_id),
            fp AS (SELECT e.user_id, min(epoch_us(e.ts)) AS p_us, min(c_us) AS c_us
                   FROM events e JOIN fc USING (user_id)
                   WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c_us
                   GROUP BY e.user_id)
            SELECT count(*) AS n_converted,
              round(CAST(median(p_us - c_us) AS DOUBLE) / 1e6, 4) AS median_ttc_s,
              round(quantile_cont(p_us - c_us, 0.9) / 1e6, 4) AS p90_ttc_s
            FROM fp"""))

  /** PEAK CONCURRENCY per day — the sweep-line classic as one window pass:
    * each user-day activity interval contributes a +1 at its start and a -1
    * just after its end; the running sum of deltas in (instant, delta DESC)
    * order is the live-session count, and its max is the capacity headline.
    * The DESC tie-break makes instant-touching intervals count as
    * concurrent, and identical delta rows are interchangeable, so the
    * per-day MAX is deterministic whatever order an engine visits ties in.
    * Scale: the sweep window is partitioned by day (bounded partitions);
    * everything upstream is one user-day keyed aggregation. */
  lazy val peakConcurrency = GraftQuery(
    "ev_peak_concurrency",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val iv = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          unix_micros(col("ts")).as("us"))
        .groupBy(col("user_id"), col("day"))
        .agg(min(col("us")).as("s_us"), max(col("us")).as("e_us"))
      val deltas = iv.select(col("day"), col("s_us").as("us"), lit(1).as("delta"))
        .unionByName(iv.select(col("day"), (col("e_us") + 1).as("us"),
          lit(-1).as("delta")))
      val w = Window.partitionBy(col("day"))
        .orderBy(col("us"), col("delta").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val peaks = deltas.withColumn("cur", sum(col("delta")).over(w))
        .groupBy(col("day")).agg(max(col("cur")).as("peak_concurrent"))
      iv.groupBy(col("day")).agg(count(lit(1)).as("n_sessions"))
        .join(peaks, "day")
        .select(col("day"), col("n_sessions"), col("peak_concurrent"))
        .orderBy(col("day"))
    },
    Some("""WITH iv AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
              FROM events GROUP BY user_id, CAST(ts AS DATE)),
            deltas AS (
              SELECT day, s_us AS us, 1 AS delta FROM iv
              UNION ALL
              SELECT day, e_us + 1 AS us, -1 AS delta FROM iv),
            sweep AS (
              SELECT day, CAST(sum(delta) OVER (PARTITION BY day
                ORDER BY us, delta DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cur
              FROM deltas),
            peaks AS (SELECT day, max(cur) AS peak_concurrent FROM sweep GROUP BY day)
            SELECT i.day, count(*) AS n_sessions,
              any_value(p.peak_concurrent) AS peak_concurrent
            FROM iv i JOIN peaks p USING (day)
            GROUP BY i.day ORDER BY i.day"""))

  /** DAU/WAU STICKINESS: daily actives, trailing-7-day actives, and their
    * ratio per day — THE product-engagement headline. Rolling DISTINCT
    * can't ride a window frame, so WAU is the explode rewrite: the
    * (day, user) pairs dedupe once (the only corpus-sized shuffle), then
    * each pair `explode(sequence(0,6))`s into exactly the 7 trailing
    * windows it serves and a hash aggregation counts distinct users per
    * window — fan-out 7 by construction, all equi-keyed, no nested-loop
    * join anywhere (the r10 BNLJ-against-the-day-list shape is gone);
    * windows with no same-day activity drop out via the dau equi-join,
    * matching the oracle's observed-day list. Stickiness is integer
    * cross-scaled (dau * 1e6 div wau, non-negative). */
  lazy val wauStickiness = GraftQuery(
    "ev_wau_stickiness",
    (s, dir) => {
      val du = t(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = du.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
      val wau = du
        .select(col("user_id"), col("day"),
          explode(sequence(lit(0), lit(6))).as("off"))
        .select(date_add(col("day"), col("off")).as("day"), col("user_id"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          expr("cast(dau * 1000000 div wau as bigint)").as("stickiness_micro"))
        .orderBy(col("day"))
    },
    Some("""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
            dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY day),
            days AS (SELECT DISTINCT day AS win_day FROM du),
            wau AS (SELECT win_day AS day, count(DISTINCT user_id) AS wau
                    FROM days JOIN du ON date_diff('day', du.day, win_day) BETWEEN 0 AND 6
                    GROUP BY win_day)
            SELECT day, dau, wau,
              CAST(dau * 1000000 // wau AS BIGINT) AS stickiness_micro
            FROM dau JOIN wau USING (day) ORDER BY day"""))

  /** SEASONAL-NAIVE FORECAST ERROR: per day, the mean absolute error of
    * "this hour = same hour last week" over its 24 hourly event counts —
    * the baseline every real forecasting model must beat, and the daily
    * drift alarm when the corpus' traffic shape changes. Hourly counts are
    * exact integers keyed by (day, hour); the lag-7-days comparison is one
    * equality join on the shifted day key (no window over the corpus);
    * MAE is integer cross-scaled (sum*1e6 div slots). */
  lazy val seasonalBaseline = GraftQuery(
    "ev_seasonal_baseline",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .select(to_date(col("ts")).as("day"), hour(col("ts")).as("hr"))
        .groupBy(col("day"), col("hr")).agg(count(lit(1)).as("n"))
      val prior = hourly.select(date_add(col("day"), 7).as("day"),
        col("hr"), col("n").as("n_prior"))
      hourly.join(prior, Seq("day", "hr"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_slots"),
          sum(abs(col("n") - col("n_prior"))).as("total_abs_err"))
        .withColumn("mae_micro",
          expr("cast(total_abs_err * 1000000 div n_slots as bigint)"))
        .orderBy(col("day"))
    },
    Some("""WITH hourly AS (
              SELECT CAST(ts AS DATE) AS day, CAST(hour(ts) AS INTEGER) AS hr,
                count(*) AS n
              FROM events GROUP BY day, hr)
            SELECT a.day, count(*) AS n_slots,
              CAST(sum(abs(a.n - b.n)) AS BIGINT) AS total_abs_err,
              CAST(CAST(sum(abs(a.n - b.n)) AS BIGINT) * 1000000 // count(*)
                AS BIGINT) AS mae_micro
            FROM hourly a JOIN hourly b
              ON a.day = b.day + INTERVAL 7 DAY AND a.hr = b.hr
            GROUP BY a.day ORDER BY a.day"""))

  /** ALERT DEBOUNCE: suppress an event arriving within 5 minutes of the
    * previous SAME (user, type) event — the storm-collapse every paging/
    * notification pipeline applies before fan-out. NOTE the semantics
    * pinned here: the comparison is against the previous RAW event (a
    * rolling lag window), not the previous *delivered* one — the rolling
    * form is one lag() pass and is what a per-key stream processor
    * computes; chained-suppression would need an iterative fixpoint.
    * Exact integer microsecond gaps; one (user,type)-keyed window, then a
    * 5-group rollup. */
  lazy val alertDebounce = GraftQuery(
    "ev_alert_debounce",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("us"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
        .withColumn("suppressed",
          col("gap_us").isNotNull && col("gap_us") < 300000000L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("suppressed"), 1L).otherwise(0L)).as("n_suppressed"),
          sum(when(col("suppressed"), 0L).otherwise(1L)).as("n_delivered"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n_events,
              CAST(sum(CASE WHEN suppressed THEN 1 ELSE 0 END) AS BIGINT)
                AS n_suppressed,
              CAST(sum(CASE WHEN suppressed THEN 0 ELSE 1 END) AS BIGINT)
                AS n_delivered
            FROM (SELECT event_type,
                    coalesce(epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
                      PARTITION BY user_id, event_type
                      ORDER BY epoch_us(ts), event_id) < 300000000,
                      FALSE) AS suppressed
                  FROM events)
            GROUP BY event_type ORDER BY event_type"""))

  /** The first-touch core over any (user_id, ts, event_id, event_type)
    * frame and conversion type — shared by ev_first_touch_attribution and
    * [[graft.api.EventAnalytics.firstTouchAttribution]].
    * Unordered — the registry wrapper appends its oracle ORDER BY. */
  private[graft] def firstTouchOn(ev: DataFrame, conversion: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val firstEv = ev
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("first_touch"))
    val purchases = ev
      .filter(col("event_type") === conversion)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_purch"))
    val attr = purchases.join(firstEv, "user_id")
      .groupBy(col("first_touch"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_purch")).as("n_purchases"))
    val tot = broadcast(attr.agg(sum(col("n_purchases")).as("tot")))
    attr.crossJoin(tot)
      .select(col("first_touch"), col("n_users"), col("n_purchases"),
        expr("cast(n_purchases * 1000000 div tot as bigint)").as("share_micro"))
  }

  /** FIRST-TOUCH ATTRIBUTION: every purchase credits the event type of its
    * user's FIRST-ever event — the simplest (and still ubiquitous)
    * marketing attribution model. The first event per user is a ranked
    * window with the (ts, event_id) determinism contract; purchases join
    * it on the user key. Output: per first-touch channel, how many
    * purchasing users and purchases it gets credit for, share
    * integer-scaled. */
  lazy val firstTouch = GraftQuery(
    "ev_first_touch_attribution",
    (s, dir) => firstTouchOn(t(s, dir, "events"), "purchase")
      .orderBy(col("first_touch")),
    Some("""WITH fe AS (
              SELECT user_id, event_type AS first_touch FROM (
                SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) AS rn
                FROM events) WHERE rn = 1),
            p AS (SELECT user_id, count(*) AS n_purch FROM events
                  WHERE event_type = 'purchase' GROUP BY user_id),
            attr AS (SELECT first_touch, count(*) AS n_users,
                       CAST(sum(n_purch) AS BIGINT) AS n_purchases
                     FROM p JOIN fe USING (user_id) GROUP BY first_touch)
            SELECT first_touch, n_users, n_purchases,
              CAST(n_purchases * 1000000 //
                (SELECT CAST(sum(n_purchases) AS BIGINT) FROM attr) AS BIGINT)
                AS share_micro
            FROM attr ORDER BY first_touch"""))

  /** CART ABANDONMENT per day: clicks with NO purchase by the same user in
    * the following 24 hours — the conversion-funnel complement every
    * commerce dashboard tracks daily. The not-followed-within-window test
    * is a left-anti join EQUI-KEYED on user_id with the 24 h bound as a
    * residual — the anti side carries only (user, purchase-instant) pairs,
    * so nothing fans out beyond each user's own purchases. Abandonment
    * rate integer-scaled. */
  lazy val cartAbandonment = GraftQuery(
    "ev_cart_abandonment",
    (s, dir) => {
      val clicks = t(s, dir, "events")
        .filter(col("event_type") === "click")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          unix_micros(col("ts")).as("c_us"))
      val purchases = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      val abandoned = clicks.join(purchases,
          clicks("user_id") === purchases("user_id") &&
            col("p_us") > col("c_us") &&
            col("p_us") <= col("c_us") + 86400000000L,
          "left_anti")
      clicks.groupBy(col("day")).agg(count(lit(1)).as("n_clicks"))
        .join(abandoned.groupBy(col("day")).agg(count(lit(1)).as("n_abandoned")),
          Seq("day"), "left")
        .withColumn("n_abandoned", coalesce(col("n_abandoned"), lit(0L)))
        .withColumn("abandon_micro",
          expr("cast(n_abandoned * 1000000 div n_clicks as bigint)"))
        .orderBy(col("day"))
    },
    Some("""WITH clicks AS (
              SELECT user_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS c_us
              FROM events WHERE event_type = 'click'),
            purchases AS (
              SELECT user_id, epoch_us(ts) AS p_us
              FROM events WHERE event_type = 'purchase'),
            ab AS (SELECT day FROM clicks c
                   WHERE NOT EXISTS (SELECT 1 FROM purchases p
                     WHERE p.user_id = c.user_id
                       AND p.p_us > c.c_us AND p.p_us <= c.c_us + 86400000000))
            SELECT c.day, count(*) AS n_clicks,
              coalesce(any_value(a.n_ab), 0) AS n_abandoned,
              CAST(coalesce(any_value(a.n_ab), 0) * 1000000 // count(*) AS BIGINT)
                AS abandon_micro
            FROM clicks c LEFT JOIN
              (SELECT day, count(*) AS n_ab FROM ab GROUP BY day) a USING (day)
            GROUP BY c.day ORDER BY c.day"""))

  /** ERROR-BUDGET BURN per day: error rate against a 1% SLO and the burn
    * multiple (rate / budget — burn > 1e6 micro means that day consumed
    * more than its share, the page-the-oncall signal in any SRE burn-rate
    * alert policy). Exact integer event counts, both ratios non-negative
    * integer divisions; one day-keyed partial-agg'd scan. */
  lazy val errorBudgetBurn = GraftQuery(
    "ev_error_budget_burn",
    (s, dir) =>
      t(s, dir, "events")
        .select(to_date(col("ts")).as("day"),
          (col("event_type") === "error").as("is_err"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("is_err"), 1L).otherwise(0L)).as("n_errors"))
        .withColumn("err_rate_micro",
          expr("cast(n_errors * 1000000 div n_events as bigint)"))
        // burn = rate / 1% budget; *100 keeps it one integer division
        .withColumn("burn_micro",
          expr("cast(n_errors * 100000000 div n_events as bigint)"))
        .orderBy(col("day")),
    Some("""SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
              CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
                AS n_errors,
              CAST(CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
                * 1000000 // count(*) AS BIGINT) AS err_rate_micro,
              CAST(CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
                * 100000000 // count(*) AS BIGINT) AS burn_micro
            FROM events GROUP BY day ORDER BY day"""))

  /** TRANSITION ENTROPY per state: Shannon entropy of each event type's
    * next-state distribution (from the same lead() hops as
    * [[transitionMatrix]]) — how predictable behavior is FROM each state;
    * the one-number-per-state summary a session-model owner reads before
    * the full matrix. Float discipline: each -p*ln(p) term is one
    * division + ln + product, floor-scaled to micros per (state, next)
    * BEFORE the per-state sum (the [[Curation.mixtureEntropy]] rule), so
    * the entropy is an exact integer. */
  lazy val transitionEntropy = GraftQuery(
    "ev_transition_entropy",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val hops = t(s, dir, "events")
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      val totals = hops.groupBy(col("event_type")).agg(sum(col("n")).as("tot"))
      hops.join(broadcast(totals), "event_type")
        .select(col("event_type"),
          expr("""cast(floor(-(cast(n as double) / tot) * ln(cast(n as double) / tot)
                 * 1e6 + 0.5) as bigint)""").as("term_micro"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_next_states"),
          sum(col("term_micro")).as("entropy_micro"))
        .orderBy(col("event_type"))
    },
    Some("""WITH hops AS (
              SELECT event_type, next_type, count(*) AS n
              FROM (SELECT event_type,
                      lead(event_type, 1) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) AS next_type
                    FROM events)
              WHERE next_type IS NOT NULL
              GROUP BY event_type, next_type),
            t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
                  FROM hops GROUP BY event_type)
            SELECT event_type, count(*) AS n_next_states,
              CAST(sum(CAST(floor(-(CAST(n AS DOUBLE) / tot)
                * ln(CAST(n AS DOUBLE) / tot) * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
                AS entropy_micro
            FROM hops JOIN t USING (event_type)
            GROUP BY event_type ORDER BY event_type"""))

  /** SESSION DEPTH DISTRIBUTION: how many sessions contain exactly k
    * events — the engagement-shape histogram behind every bounce-rate and
    * depth-funnel number ([[session]] materializes the sessions; this is
    * the corpus-level summary read first). Same 30-minute session_window
    * grouping, then a depth-keyed count of counts — two keyed
    * aggregations, the second over session-sized rows. */
  lazy val sessionDepth = GraftQuery(
    "ev_session_depth",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("depth"))
        .groupBy(col("depth"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("depth")),
    Some("""WITH marked AS (
              SELECT user_id, ts,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS brk
              FROM events),
            numbered AS (
              SELECT user_id,
                CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
              FROM marked),
            sess AS (SELECT user_id, sid, count(*) AS depth
                     FROM numbered GROUP BY user_id, sid)
            SELECT depth, count(*) AS n_sessions
            FROM sess GROUP BY depth ORDER BY depth"""))

  /** HLL SKETCH ROLLUP, bounded-oracled: weekly
    * distinct users estimated by UNIONING the week's DAILY HLL sketches —
    * the re-aggregatable-distinct pattern that makes "uniques over any
    * window" an O(sketch) merge instead of a corpus re-scan, and the
    * reason warehouses store sketch columns next to counts. Daily
    * sketches come from Spark's DataSketches hll_sketch_agg (order-
    * independent: bucket-max updates), the weekly estimate from
    * hll_union_agg, and each output row carries the exact weekly distinct
    * count plus a within-5% verdict — same self-auditing shape as
    * text_cms_heavy_hitters. The raw ESTIMATE stays engine-side (no SQL
    * engine reproduces DataSketches registers) and the compared surface
    * is exact side + verdict: the estimate is deterministic on fixed data
    * (max-merge registers, arrival-order-free — HllRollupSpec proves
    * daily-union == direct-week), so within_5pct is a stable value the
    * oracle asserts as the accuracy contract — sketch drift past 5%
    * turns the row false and the hash compare red (r17 judge task 3).
    * HllRollupSpec keeps the independent raw-number pin at two SFs.
    * At 100 TB only day-keyed sketches (KBs)
    * move through the weekly merge; the raw corpus is scanned once. */
  lazy val hllRollup = GraftQuery(
    "ev_hll_rollup",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .withColumn("week", date_sub(col("day"), (dayofweek(col("day")) + 5) % 7))
      val daily = ev.groupBy(col("week"), col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val weekly = daily.groupBy(col("week"))
        .agg(count(lit(1)).as("n_days"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
      val exact = ev.groupBy(col("week"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      weekly.join(exact, "week")
        .select(col("week"), col("n_days"), col("exact_users"),
          (abs(col("est_users") - col("exact_users")) * 100 <=
            col("exact_users") * 5).as("within_5pct"))
        .orderBy(col("week"))
    },
    Some("""WITH ev AS (
              SELECT user_id, CAST(ts AS DATE) AS day FROM events),
            w AS (
              SELECT user_id, day, CAST(date_trunc('week', day) AS DATE) AS week
              FROM ev)
            SELECT week, CAST(count(DISTINCT day) AS BIGINT) AS n_days,
              CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
              TRUE AS within_5pct
            FROM w GROUP BY week ORDER BY week"""))

  /** POINT-IN-TIME JOIN: each event joined to the dimension row VALID AT
    * its event time — the feature-store correctness primitive (training
    * labels must see the state a user HAD, never a later one: the
    * "no-feature-leakage" rule) — here against the [[scd2Intervals]]
    * state table, rolled up as (state-at-event-time, event_type) counts.
    * Scale shape: equi-join on user_id (the interval table is runs-sized,
    * far smaller than events), the half-open interval predicate
    * `valid_from <= day < valid_to` is a cheap join residual with ≤
    * intervals(user) fan-in, and each event matches EXACTLY ONE interval
    * by construction (the intervals partition the user's day axis from
    * first activity on) — pinned by the n_events total equaling the
    * event count. */
  lazy val pointInTimeJoin = GraftQuery(
    "ev_point_in_time_join",
    (s, dir) => {
      val iv = scd2Intervals(s, dir)
        .select(col("user_id").as("iv_user"), col("state"),
          col("valid_from"), col("valid_to"))
      t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
        .join(iv, col("user_id") === col("iv_user") &&
          col("day") >= col("valid_from") &&
          (col("valid_to").isNull || col("day") < col("valid_to")))
        .groupBy(col("state"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("state"), col("event_type"))
    },
    Some("""WITH daily AS (
              SELECT user_id, day, event_type AS state FROM (
                SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                  row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                    ORDER BY ts DESC, event_id DESC) AS rn
                FROM events)
              WHERE rn = 1),
            runs AS (
              SELECT user_id, state, day AS valid_from FROM (
                SELECT user_id, day, state,
                  lag(state) OVER (PARTITION BY user_id ORDER BY day) AS prev
                FROM daily)
              WHERE prev IS NULL OR prev <> state),
            iv AS (
              SELECT user_id AS iv_user, state, valid_from,
                lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
                  AS valid_to
              FROM runs)
            SELECT state, event_type, count(*) AS n_events
            FROM (SELECT user_id, CAST(ts AS DATE) AS day, event_type FROM events) e
            JOIN iv ON e.user_id = iv.iv_user
              AND e.day >= iv.valid_from
              AND (iv.valid_to IS NULL OR e.day < iv.valid_to)
            GROUP BY state, event_type
            ORDER BY state, event_type"""))

  /** VALUE-QUANTILE SKETCH (FULLY ORACLED since r17, formerly rows-only;
    * QuantileSketchSpec stays as the property pin): the corpus'
    * p50/p90/p99 value percentiles from ONE pass of the mergeable
    * log₂-bucketed [[graft.functions.QuantileSketch]] — the
    * monitoring-grade percentile surface whose buffer (16 KB of longs)
    * shuffles instead of values, usable in batch and streaming folds
    * alike where percentile_approx cannot go. Reported numbers are
    * bucket LOWER EDGES: deterministic, within 6.25% relative below the
    * true order statistic (the documented sketch guarantee), identical
    * on any engine/shard/arrival order.
    *
    * The oracle exists because the bucketing is a MONOTONE map (v₁ ≤ v₂
    * ⇒ bucket(v₁) ≤ bucket(v₂)), so the sketch's bucket-cumulative rank
    * walk lands on bucket(x_(r)) for the true order statistic x_(r) at
    * rank ⌈q·n⌉ — i.e. quantile(q) = grid-floor(x_(r)) where the grid is
    * 2^e·(1 + s/16). DuckDB computes the same edge with exact
    * power-of-two arithmetic: e = floor(log2(x)) with a one-step
    * correction (for x within ~1 ulp below a power of two, libm log2
    * can round UP to the integer and floor would land one octave high
    * with sub-bucket −1 — r17 advisor; the CASE drops e until
    * 2^e ≤ x, matching the engine's bit-exact exponent extraction),
    * then x/2^e and the ×16 floor both exact, the final product a pure
    * power-of-two scaling of a 5-bit-mantissa value. Validated
    * bit-for-bit against the Spark sketch before landing. */
  lazy val valueQuantileSketch = GraftQuery(
    "ev_value_quantile_sketch",
    (s, dir) => {
      import s.implicits._
      val sk = t(s, dir, "events").select(col("value").cast("double")).as[Double]
        .select(graft.functions.QuantileSketch.agg.toColumn).head()
      s.createDataFrame(Seq((sk.n, sk.quantile(0.5), sk.quantile(0.9),
          sk.quantile(0.99))))
        .toDF("n", "p50_lower", "p90_lower", "p99_lower")
    },
    Some("""WITH v AS (SELECT CAST(value AS DOUBLE) AS x FROM events),
            s AS (SELECT x, row_number() OVER (ORDER BY x) AS r,
                    count(*) OVER () AS n FROM v),
            q AS (SELECT unnest([0.5, 0.9, 0.99]) AS qq),
            pick AS (
              SELECT qq, n, x FROM q JOIN s
                ON s.r = greatest(1, CAST(ceil(qq * s.n) AS BIGINT))),
            ex AS (
              SELECT qq, n, x,
                CASE WHEN x <= 0 THEN 0
                     WHEN power(2, floor(log2(x))) > x
                       THEN floor(log2(x)) - 1
                     ELSE floor(log2(x)) END AS e
              FROM pick),
            gf AS (
              SELECT qq, n,
                CASE WHEN x <= 0 OR e < -64 THEN 0.0
                     WHEN e >= 64 THEN power(2, 63) * (1 + 15.0/16)
                     ELSE power(2, e) * (1 + floor((x / power(2, e) - 1) * 16) / 16)
                END AS edge
              FROM ex)
            SELECT CAST(max(n) AS BIGINT) AS n,
              max(CASE WHEN qq = 0.5 THEN edge END) AS p50_lower,
              max(CASE WHEN qq = 0.9 THEN edge END) AS p90_lower,
              max(CASE WHEN qq = 0.99 THEN edge END) AS p99_lower
            FROM gf"""))

  /** SCD TYPE-2 HISTORY: collapse each user's daily-state change log into
    * validity intervals — (user, state, valid_from, valid_to, is_current)
    * with half-open [from, to) ranges and NULL valid_to on the current row
    * — the slowly-changing-dimension table every warehouse derives from a
    * change stream. State = the user's LAST event type of each active day
    * (deterministic: row_number over (ts DESC, event_id DESC), never an
    * unordered arg_max); runs of equal consecutive states merge via the
    * lag-change filter; valid_to is the NEXT change's valid_from via lead.
    * Every window is user-keyed (range-parallel across users, never a
    * global sort); the rows that move are (user, day, state) triples. */
  /** The SCD2 interval core over any (user_id, ts, event_id, state)
    * frame: collapse each key's day axis to its last state of the day,
    * then run-length-encode state changes into (valid_from, valid_to]
    * half-open intervals (valid_to null = current). Every window is
    * user-keyed. Shared by ev_scd2_state_history, ev_point_in_time_join
    * and [[graft.api.EventAnalytics.scd2History]]. */
  private[graft] def scd2IntervalsOn(ev: DataFrame): DataFrame = {
    val daily = ev
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("state"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("day"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("state"))
    val byDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val runs = daily
      .withColumn("prev", lag(col("state"), 1).over(byDay))
      .filter(col("prev").isNull || col("prev") =!= col("state"))
      .select(col("user_id"), col("state"), col("day").as("valid_from"))
    val byFrom = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
    runs.withColumn("valid_to", lead(col("valid_from"), 1).over(byFrom))
  }

  /** The SCD2 interval table shared by [[scd2History]] and
    * [[pointInTimeJoin]]: [[scd2IntervalsOn]] over the fixture log with
    * the day's last event_type as the state. */
  private def scd2Intervals(s: SparkSession, dir: String): DataFrame =
    scd2IntervalsOn(t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("state")))

  lazy val scd2History = GraftQuery(
    "ev_scd2_state_history",
    (s, dir) =>
      scd2Intervals(s, dir)
        .select(col("user_id"), col("state"), col("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy(col("user_id"), col("valid_from")),
    Some("""WITH daily AS (
              SELECT user_id, day, event_type AS state FROM (
                SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                  row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                    ORDER BY ts DESC, event_id DESC) AS rn
                FROM events)
              WHERE rn = 1),
            runs AS (
              SELECT user_id, state, day AS valid_from FROM (
                SELECT user_id, day, state,
                  lag(state) OVER (PARTITION BY user_id ORDER BY day) AS prev
                FROM daily)
              WHERE prev IS NULL OR prev <> state)
            SELECT user_id, state, valid_from,
              lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
                AS valid_to,
              lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
                IS NULL AS is_current
            FROM runs ORDER BY user_id, valid_from"""))

  /** RFM SEGMENTATION: the classic recency/frequency/monetary customer
    * grid — every user scored 1..3 on hours-since-last-event (recency vs
    * the corpus max timestamp), event count, and exact-cents spend, then
    * rolled up per (r,f,m) cell with user counts and cell revenue — the
    * segmentation every retention/win-back campaign starts from. Recency
    * is raw epoch-microsecond arithmetic ((mx_us − last_us) div 3600e6,
    * non-negative so truncating and flooring div agree) rather than any
    * engine's hour-diff builtin, because those disagree on
    * boundary-crossing vs elapsed semantics — the ev_weekly_pattern
    * discipline. One user-keyed aggregation + a 1-row anchor broadcast
    * (BNLJ-allowlisted) + a ≤27-group rollup. */
  lazy val rfmSegments = GraftQuery(
    "ev_rfm_segments",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      val anchor = broadcast(ev.agg(max(col("us")).as("mx_us")))
      ev.groupBy(col("user_id"))
        .agg(max(col("us")).as("last_us"), count(lit(1)).as("f"),
          sum(col("cents")).as("m"))
        .crossJoin(anchor)
        .select(
          expr("""case when (mx_us - last_us) div 3600000000 <= 4 then 3
                       when (mx_us - last_us) div 3600000000 <= 12 then 2
                       else 1 end""").as("r_score"),
          expr("case when f >= 72 then 3 when f >= 60 then 2 else 1 end")
            .as("f_score"),
          expr("case when m >= 360000 then 3 when m >= 300000 then 2 else 1 end")
            .as("m_score"),
          col("m"))
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("m")).as("monetary_cents"))
        .orderBy(col("r_score").desc, col("f_score").desc, col("m_score").desc)
    },
    Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
              FROM events),
            anchor AS (SELECT max(us) AS mx_us FROM ev),
            u AS (SELECT user_id, max(us) AS last_us, count(*) AS f,
                    CAST(sum(cents) AS BIGINT) AS m
                  FROM ev GROUP BY user_id),
            scored AS (SELECT
                CASE WHEN (mx_us - last_us) // 3600000000 <= 4 THEN 3
                     WHEN (mx_us - last_us) // 3600000000 <= 12 THEN 2
                     ELSE 1 END AS r_score,
                CASE WHEN f >= 72 THEN 3 WHEN f >= 60 THEN 2 ELSE 1 END AS f_score,
                CASE WHEN m >= 360000 THEN 3 WHEN m >= 300000 THEN 2 ELSE 1 END AS m_score,
                m
              FROM u CROSS JOIN anchor)
            SELECT r_score, f_score, m_score, count(*) AS n_users,
              CAST(sum(m) AS BIGINT) AS monetary_cents
            FROM scored GROUP BY r_score, f_score, m_score
            ORDER BY r_score DESC, f_score DESC, m_score DESC"""))

  /** TRAFFIC CONCENTRATION (Gini): one-row Gini coefficient of events per
    * user — the single number behind "does 1% of users generate 90% of the
    * load", the capacity-planning twin of [[weeklyPattern]]'s calendar
    * shape and the skew early-warning for every user-keyed operator. The
    * global ascending rank comes from the shared two-phase prefix sum
    * (Sampling.prefixSum) over (cnt, user_id) packed into one long — no
    * single-task global window — with the pack invariant ENFORCED by
    * raise_error (cnt < 2^31, user_id < 2^32; the pipeline_curriculum
    * discipline). Gini = (2·Σ rank·cnt − (n+1)·Σcnt) / (n·Σcnt), exact
    * BIGINT arithmetic, non-negative operands, micro-scaled div. */
  /** The Gini core over any (user_id, cnt) table — extracted so the
    * property spec can feed planted distributions (uniform → 0,
    * one-owner → (n−1)/n) without synthesizing an events table. */
  private[operators] def giniMicro(s: SparkSession, counts: DataFrame): DataFrame = {
    val cnts = counts
      .withColumn("pack",
        when(col("cnt") >= lit(1L << 31) || col("user_id") >= lit(1L << 32) ||
            col("user_id") < 0,
          expr("raise_error('ev_user_gini: pack overflow — cnt >= 2^31 " +
            "or user_id outside [0, 2^32)')").cast("long"))
          .otherwise(col("cnt") * lit(1L << 32) + col("user_id")))
      .withColumn("one", lit(1L))
    Sampling.prefixSum(s, cnts, "pack", "one", "rank")
      .agg(count(lit(1)).as("n_users"),
        sum(col("cnt")).as("total_events"),
        sum((col("rank") + 1) * col("cnt")).as("rank_weighted"))
      .select(col("n_users"), col("total_events").cast("long").as("total_events"),
        expr("""cast((2 * rank_weighted - (n_users + 1) * total_events) * 1000000
                div (n_users * total_events) as bigint)""").as("gini_micro"))
  }

  /** SURVIVAL CURVE (retention's Kaplan-Meier-shaped cousin for complete
    * logs): for each day offset t, the fraction of users whose observed
    * lifetime — last event day minus first event day — reaches t. The
    * churn half of [[cohortRetention]]: where retention asks "who came
    * back on day t", survival asks "who was still alive AT ALL by day t",
    * and its knee is where win-back campaigns aim. Exactness: days are
    * raw epoch-day floor-divs (post-1970 event logs, the
    * ev_weekly_pattern discipline), fractions are integer micro-divs.
    * Shape: one user-keyed aggregation collapses the corpus to lifetimes,
    * a lifetime-keyed histogram collapses users to ≤ span rows, and the
    * grid explode (capped at [[SurvivalHorizonDays]]) runs on HISTOGRAM
    * rows — corpus-independent work after two key-sized shuffles; the
    * 1-row total broadcasts (BNLJ-allowlisted). */
  lazy val survivalCurve = GraftQuery(
    "ev_survival_curve",
    (s, dir) => {
      val life = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy(col("user_id"))
        .agg((max(col("day")) - min(col("day"))).as("lifetime_days"))
      val hist = life.groupBy(col("lifetime_days"))
        .agg(count(lit(1)).as("n_users"))
      val total = broadcast(life.agg(count(lit(1)).as("n_total")))
      hist.select(
          expr(s"explode(sequence(0, least(lifetime_days, $SurvivalHorizonDays)))")
            .as("t_days"),
          col("n_users"))
        .groupBy(col("t_days")).agg(sum(col("n_users")).as("n_surviving"))
        .crossJoin(total)
        .select(col("t_days"), col("n_surviving"),
          expr("n_surviving * 1000000 div n_total").as("survival_micro"))
        .orderBy(col("t_days"))
    },
    Some(s"""WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
              FROM events),
            life AS (SELECT user_id, max(day) - min(day) AS lifetime_days
                     FROM ev GROUP BY user_id),
            hist AS (SELECT lifetime_days, count(*) AS n_users
                     FROM life GROUP BY lifetime_days),
            total AS (SELECT count(*) AS n_total FROM life),
            surv AS (SELECT g.t AS t_days,
                       CAST(sum(h.n_users) AS BIGINT) AS n_surviving
                     FROM hist h CROSS JOIN LATERAL
                       (SELECT unnest(generate_series(0,
                          least(h.lifetime_days, $SurvivalHorizonDays))) AS t) g
                     GROUP BY g.t)
            SELECT t_days, n_surviving,
              n_surviving * 1000000 // n_total AS survival_micro
            FROM surv CROSS JOIN total ORDER BY t_days"""))

  /** POPULATION STABILITY INDEX (PSI) — the standard "did this feature's
    * distribution move?" gate every ML monitoring stack runs before
    * trusting a model on fresh data: Σ_buckets (p_i − q_i)·ln(p_i/q_i)
    * between a BASELINE slice (first half of the log's day span) and the
    * CURRENT slice (second half), over 10 equi-width buckets of the cent
    * value laid out on the baseline's range (out-of-range current values
    * absorb into the edge buckets, add-one smoothing keeps empty buckets
    * finite — both standard PSI conventions; < 0.1 stable, > 0.25
    * shifted). Exactness: buckets are pure integer arithmetic; each
    * term's ln gets ONE integer-ratio argument ((n_b+1)(t_c+10)) /
    * ((n_c+1)(t_b+10)), products < 2⁵³, so both engines feed libm the
    * identical double and each term floors to micros BEFORE the rollup
    * total — the dsir/lm_backoff discipline. Shape: two 1-row anchors
    * (split day, baseline range) broadcast; the corpus is scanned
    * map-side into a ≤10-row bucket table; the 0..9 grid left-join makes
    * missing buckets explicit rather than silently dropped; the ROLLUP
    * total row (bucket −1) is an exact integer sum of the already-floored
    * terms. */
  /** [[valuePsi]]'s core over any (cents, is_base) tagged frame — factored
    * (the giniMicro precedent) so PsiPropertySpec can pin detection power
    * on planted distributions: identical slices ≈ 0, a shifted slice
    * crosses the 0.25 "population moved" threshold. */
  private[graft] def psiTable(s: SparkSession, tagged: DataFrame): DataFrame = {
    val range = broadcast(tagged.filter(col("is_base"))
      .agg(min(col("cents")).as("mn"), max(col("cents")).as("mx")))
    val counts = tagged.crossJoin(range)
      .select(col("is_base"),
        expr("""least(greatest((cents - mn) div greatest((mx - mn) div 10 + 1, 1),
                               0), 9)""").as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("nb"),
        sum(when(!col("is_base"), 1L).otherwise(0L)).as("nc"))
    val grid = s.range(0, 10).toDF("bucket")
    val filled = grid.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("nb"), lit(0L)).as("n_base"),
        coalesce(col("nc"), lit(0L)).as("n_cur"))
    val totals = broadcast(filled.agg(
      sum(col("n_base")).as("tb"), sum(col("n_cur")).as("tc")))
    filled.crossJoin(totals)
      .select(col("bucket"), col("n_base"), col("n_cur"),
        expr("""cast(floor((cast(n_base + 1 as double) / (tb + 10)
                            - cast(n_cur + 1 as double) / (tc + 10))
                           * ln(cast((n_base + 1) * (tc + 10) as double)
                                / ((n_cur + 1) * (tb + 10)))
                           * 1000000) as bigint)""").as("psi_term_micro"))
      .rollup(col("bucket"))
      .agg(sum(col("n_base")).as("n_base"), sum(col("n_cur")).as("n_cur"),
        sum(col("psi_term_micro")).as("psi_term_micro"))
      .select(coalesce(col("bucket"), lit(-1L)).as("bucket"),
        col("n_base"), col("n_cur"), col("psi_term_micro"))
      .orderBy(col("bucket"))
  }

  lazy val valuePsi = GraftQuery(
    "ev_value_psi",
    (s, dir) => {
      val ev = t(s, dir, "events").select(
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      val split = broadcast(ev.agg(
        expr("(min(day) + max(day) + 1) div 2").as("split_day")))
      val tagged = ev.crossJoin(split)
        .select(col("cents"), (col("day") < col("split_day")).as("is_base"))
      psiTable(s, tagged)
    },
    Some("""WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
              FROM events),
            sp AS (SELECT (min(day) + max(day) + 1) // 2 AS split_day FROM ev),
            tagged AS (SELECT cents, day < split_day AS is_base
                       FROM ev CROSS JOIN sp),
            rng AS (SELECT min(cents) AS mn, max(cents) AS mx
                    FROM tagged WHERE is_base),
            cnt AS (SELECT least(greatest((cents - mn) // greatest((mx - mn) // 10 + 1, 1),
                                          0), 9) AS bucket,
                      CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS nb,
                      CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS nc
                    FROM tagged CROSS JOIN rng GROUP BY 1),
            filled AS (SELECT g.bucket, coalesce(nb, 0) AS n_base,
                         coalesce(nc, 0) AS n_cur
                       FROM (SELECT unnest(generate_series(0, 9)) AS bucket) g
                       LEFT JOIN cnt ON cnt.bucket = g.bucket),
            tot AS (SELECT CAST(sum(n_base) AS BIGINT) AS tb,
                      CAST(sum(n_cur) AS BIGINT) AS tc FROM filled),
            terms AS (SELECT bucket, n_base, n_cur,
                        CAST(floor((CAST(n_base + 1 AS DOUBLE) / (tb + 10)
                                    - CAST(n_cur + 1 AS DOUBLE) / (tc + 10))
                                   * ln(CAST((n_base + 1) * (tc + 10) AS DOUBLE)
                                        / ((n_cur + 1) * (tb + 10)))
                                   * 1000000) AS BIGINT) AS psi_term_micro
                      FROM filled CROSS JOIN tot)
            SELECT coalesce(bucket, -1) AS bucket,
              CAST(sum(n_base) AS BIGINT) AS n_base,
              CAST(sum(n_cur) AS BIGINT) AS n_cur,
              CAST(sum(psi_term_micro) AS BIGINT) AS psi_term_micro
            FROM terms GROUP BY ROLLUP (bucket) ORDER BY bucket"""))

  /** The two-proportion z-test core over (variant ∈ {0,1}, conv ∈ {0,1})
    * unit rows — per-arm counts, exact integer micro-rates and relative
    * lift, and the pooled z-score (sqrt and the four arithmetic ops are
    * IEEE-correctly-rounded, so the double is engine-identical, floored
    * to micros). Shared by ev_ab_lift and
    * [[graft.api.EventAnalytics.abLift]].
    * @return one row: (n_a, c_a, n_b, c_b, p_a_micro, p_b_micro,
    *         rel_lift_micro, z_micro) */
  private[graft] def abLiftOn(users: DataFrame): DataFrame =
    users.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("c_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("c_b"))
      .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        expr("c_a * 1000000 div nullif(n_a, 0)").as("p_a_micro"),
        expr("c_b * 1000000 div nullif(n_b, 0)").as("p_b_micro"),
        expr("c_b * n_a * 1000000 div nullif(c_a * n_b, 0) - 1000000")
          .as("rel_lift_micro"),
        expr("""cast(floor((cast(c_b as double) / n_b - cast(c_a as double) / n_a)
                           / nullif(sqrt((cast(c_a + c_b as double) / (n_a + n_b))
                                  * (1.0 - cast(c_a + c_b as double) / (n_a + n_b))
                                  * (cast(n_a + n_b as double) / (n_a * n_b))), 0.0)
                           * 1000000) as bigint)""").as("z_micro"))

  /** A/B EXPERIMENT READOUT — the two-proportion z-test every product
    * analytics stack runs before shipping a variant: users
    * deterministically assigned by user_id parity (the hash assignment
    * every real experiment framework uses), "converted" = the user's
    * exact-cents spend exceeds the corpus mean (integer cross-multiplied,
    * so conversion is non-degenerate at every SF — a universal
    * ≥-1-purchase definition saturates to 100% on this log and the
    * z-statistic collapses to 0/0). Since parity assignment is unrelated
    * to spend, this doubles as the A/A CALIBRATION every experimentation
    * pipeline must pass: |z| should be small, and a large value would
    * indict the assignment, not the product. Exactness: rates and lift
    * are non-negative integer micro-divs (nullif-guarded); the z-score is
    * the one place a square root is genuinely needed, and unlike ln/pow,
    * IEEE-754 specifies sqrt (and +,−,×,÷) as correctly rounded — the
    * identical operand tree gives the bit-identical double on both
    * engines, floored to micros. Shape: one user-keyed aggregation
    * collapses the corpus to (variant, conv) flags against a 1-row
    * (n, total) broadcast; everything after runs on ONE row. */
  lazy val abLift = GraftQuery(
    "ev_ab_lift",
    (s, dir) => {
      val spend = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(expr("cast(floor(value * 100 + 0.5) as bigint)")).as("cents"))
      val tot = broadcast(spend.agg(count(lit(1)).as("n_users"),
        sum(col("cents")).as("tot_cents")))
      val users = spend.crossJoin(tot)
        .select((col("user_id") % 2).as("variant"),
          (col("cents") * col("n_users") > col("tot_cents")).cast("long").as("conv"))
      abLiftOn(users)
    },
    Some("""WITH sp AS (SELECT user_id,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
              FROM events GROUP BY user_id),
            tot AS (SELECT count(*) AS n_users,
                CAST(sum(cents) AS BIGINT) AS tot_cents FROM sp),
            v AS (SELECT user_id % 2 AS variant,
                CAST(cents * n_users > tot_cents AS BIGINT) AS conv
              FROM sp CROSS JOIN tot),
            agg AS (SELECT
                CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
                CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
              FROM v)
            SELECT n_a, c_a, n_b, c_b,
              c_a * 1000000 // nullif(n_a, 0) AS p_a_micro,
              c_b * 1000000 // nullif(n_b, 0) AS p_b_micro,
              c_b * n_a * 1000000 // nullif(c_a * n_b, 0) - 1000000
                AS rel_lift_micro,
              CAST(floor((CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a)
                         / nullif(sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                                * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                                * (CAST(n_a + n_b AS DOUBLE) / (n_a * n_b))), 0.0)
                         * 1000000) AS BIGINT) AS z_micro
            FROM agg"""))

  /** COHORT LTV CURVES — cumulative revenue per signup cohort as it ages:
    * users grouped by first-event week, every cent of spend credited to
    * its (cohort, age-in-weeks) cell, and the running total per cohort —
    * the lifetime-value table every growth model is fit to, and the
    * payback-period readout next to [[cohortRetention]]'s who-returns
    * matrix and [[survivalCurve]]'s who-churns curve. Exactness: weeks
    * are epoch-day floor-divs (post-1970 discipline), revenue is exact
    * integer cents, the cumulative sum is a COHORT-KEYED window (never a
    * global one) over cohort×age cells. Shape: one user-keyed aggregation
    * finds cohorts, one user-keyed equi-join tags events (runs-sized
    * dimension), one (cohort, age)-keyed aggregation collapses the
    * corpus; the window then runs on cell rows only. */
  /** The cohort-LTV core over (user_id, week, cents) rows: first-week
    * cohorts, every cent credited to its (cohort, age-in-weeks) cell, and
    * the cohort-keyed running total. Shared by ev_ltv_cohort and
    * [[graft.api.EventAnalytics.ltvCohort]].
    * Unordered — the registry wrapper appends its oracle ORDER BY.
    * @return (cohort_week, age_weeks, n_active, revenue_cents,
    *         cum_revenue_cents) */
  private[graft] def ltvCohortOn(ev: DataFrame): DataFrame = {
    val cohort = ev.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    ev.join(cohort, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("age_weeks"))
      .agg(countDistinct(col("user_id")).as("n_active"),
        sum(col("cents")).as("revenue_cents"))
      .withColumn("cum_revenue_cents",
        sum(col("revenue_cents")).over(
          Window.partitionBy(col("cohort_week")).orderBy(col("age_weeks"))))
  }

  lazy val ltvCohort = GraftQuery(
    "ev_ltv_cohort",
    (s, dir) => ltvCohortOn(
      t(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts) div 86400000000 div 7").as("week"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents")))
      .orderBy(col("cohort_week"), col("age_weeks")),
    Some("""WITH ev AS (SELECT user_id,
                epoch_us(ts) // 86400000000 // 7 AS week,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
              FROM events),
            cohort AS (SELECT user_id, min(week) AS cohort_week
                       FROM ev GROUP BY user_id),
            cells AS (SELECT cohort_week, week - cohort_week AS age_weeks,
                        count(DISTINCT ev.user_id) AS n_active,
                        CAST(sum(cents) AS BIGINT) AS revenue_cents
                      FROM ev JOIN cohort USING (user_id)
                      GROUP BY cohort_week, week - cohort_week)
            SELECT cohort_week, age_weeks, n_active, revenue_cents,
              CAST(sum(revenue_cents) OVER (PARTITION BY cohort_week
                ORDER BY age_weeks) AS BIGINT) AS cum_revenue_cents
            FROM cells ORDER BY cohort_week, age_weeks"""))

  lazy val userGini = GraftQuery(
    "ev_user_gini",
    (s, dir) => giniMicro(s,
      t(s, dir, "events").groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))),
    Some("""WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
            r AS (SELECT cnt,
                    CAST(row_number() OVER (ORDER BY cnt, user_id) AS BIGINT) AS rnk
                  FROM c)
            SELECT count(*) AS n_users, CAST(sum(cnt) AS BIGINT) AS total_events,
              CAST((2 * CAST(sum(rnk * cnt) AS BIGINT)
                    - (count(*) + 1) * CAST(sum(cnt) AS BIGINT)) * 1000000
                // (count(*) * CAST(sum(cnt) AS BIGINT)) AS BIGINT) AS gini_micro
            FROM r"""))
}
