package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.api.EventAnalytics

/** END-TO-END EVENT-ANALYTICS EXAMPLE — the product-analytics report a
  * user who "switches to this library" assembles from the public event
  * facade (the event-family sibling of [[CurateCorpus]]'s curation
  * pipeline; reference role: the streaming wordcount/complexdag examples'
  * user-facing composition):
  *
  *   read -> sessionize -> ordered funnel -> weekly cohort retention
  *        -> z-score anomaly flags -> first-touch attribution
  *        -> abandonment + level-shift alerts,
  *
  * one pass over an arbitrary five-column event log, every stage a facade
  * call — nothing here re-implements engine logic. All stages are
  * single-shuffle key-partitioned shapes, so the report scales with the
  * log.
  *
  * The streaming twin ([[live]]) runs the windowed-counts leg NATIVELY on
  * an unbounded stream (complete mode; the same facade call — the
  * stream==batch parity of the expression is pinned by
  * EventAnalyticsSpec), which is the half of the report an always-on
  * dashboard serves; the session/funnel/retention batch legs re-run on
  * each snapshot in production schedulers. */
object EventInsights {

  /** The assembled report: one frame per analysis. `alerts` is the
    * normalized (alert, user_id, at_ts, info) union of the alerting legs
    * — abandonment (step 2 never answered by step 3 in its window) and
    * per-user CUSUM level shifts. */
  final case class Report(
      sessions: DataFrame, funnel: DataFrame, retention: DataFrame,
      anomalies: DataFrame, attribution: DataFrame, alerts: DataFrame)

  /** Build the report over an arbitrary (id, key, ts, type, value) event
    * frame — any column names, positional convention.
    * @param steps      the ordered funnel's three event types
    * @param conversion the attribution model's conversion event type
    * @param gap        session inactivity gap */
  def analyze(events: DataFrame, steps: (String, String, String),
      conversion: String, gap: String = "30 minutes"): Report = {
    // the raw log is materialized once for the report's several
    // consumers (cached for the caller's query, or a localCheckpoint when
    // none is open) — right for a demo-scale frame held in executor
    // memory. At 100 TB the same fan-out would checkpoint to cluster
    // storage (spark.checkpoint against a reliable dir) or simply re-read
    // the parquet per leg (scans are cheap; executor-local blocks of the
    // whole log are not) — the trade this example does not pay at its
    // scale but a production scheduler must choose.
    val ev = events.toDF("event_id", "user_id", "ts", "event_type", "value")
      .transform(graft.Pin.reuse)
    Report(
      sessions = EventAnalytics.sessionize(
        ev.select(col("user_id"), col("ts"), col("value")), gap),
      funnel = EventAnalytics.funnelSteps(
        ev.select(col("user_id"), col("event_type"), col("ts")),
        steps._1, steps._2, steps._3),
      retention = EventAnalytics.cohortRetention(
        ev.select(col("user_id"), col("ts"))),
      anomalies = EventAnalytics.anomalyZScore(
        ev.select(col("event_id"), col("event_type"), col("value"))),
      attribution = EventAnalytics.firstTouchAttribution(
        ev.select(col("event_id"), col("user_id"), col("ts"),
          col("event_type")),
        conversion),
      alerts = {
        // the CEP/alerting leg (r15 task 4): mid-funnel abandonment (a
        // step-2 event never answered by step 3 within 5 minutes) plus
        // per-user CUSUM level shifts on the value series, normalized
        // into one (alert, user_id, at_ts, info) feed — the shape an
        // on-call pager or alert-triage table consumes
        val evKTT = ev.select(col("user_id"), col("event_type"), col("ts"))
        val abandoned = EventAnalytics.absence(evKTT, steps._2, steps._3)
          .select(lit(s"abandoned_${steps._2}").as("alert"), col("user_id"),
            col("first_ts").as("at_ts"),
            concat(lit("deadline="), col("deadline_ts").cast("string"))
              .as("info"))
        val shifts = EventAnalytics.cusumChangepoint(
          ev.select(col("event_id"), col("user_id"), col("ts"), col("value")))
          .select(lit("level_shift").as("alert"), col("user_id"),
            col("cp_ts").as("at_ts"),
            concat(lit("cusum="), col("cusum_stat").cast("string"))
              .as("info"))
        abandoned.unionByName(shifts)
      })
  }

  /** The always-on half: hourly windowed counts per event type, NATIVE on
    * a streaming (kind, ts, value) frame (complete output mode — every
    * trigger re-emits the full window table, the dashboard shape).
    * @return the running query; read results from the `mem_name` memory
    *         table */
  def live(events: DataFrame, memName: String): StreamingQuery =
    EventAnalytics.windowedCounts(events)
      .writeStream.outputMode("complete")
      .format("memory").queryName(memName)
      .start()

  /** The alert feed's always-on twin (r17): the same two alert families
    * [[analyze]]'s batch `alerts` frame reports, produced NATIVELY by
    * the stateful detectors a stream admits — abandonment via the
    * event-time-timer absence detector (the alert fires in-stream or
    * when the watermark clears the deadline; latest-`first`-wins), and
    * level shifts via the Page-Hinkley online drift fold (the batch leg's
    * offline CUSUM locator needs the whole series — PH is its documented
    * ingest-time counterpart, so the two feeds agree on WHICH keys alert,
    * not on the statistic column). Both detectors are append-mode
    * flatMapGroupsWithState over the same keyed shuffle family, so the
    * union is one watermarked query.
    * @param events streaming (id, key, ts, type, value) frame — any
    *               column names, positional convention; id and key must
    *               be INTEGRAL (the drift detector's state row is keyed
    *               by longs — named contract error otherwise); `ts` must
    *               carry an event-time watermark (withWatermark upstream)
    * @param step2/step3 abandonment pattern: a `step2` never answered by
    *               a `step3` within `withinSeconds`
    * @return streaming append feed (alert, key, at_ts, info) */
  def liveAlerts(events: DataFrame, step2: String, step3: String,
      withinSeconds: Long = 300L, delta: Double = 0.005,
      lambda: Double = 50.0): DataFrame = {
    // streaming only, by contract: on a bounded frame the absence
    // detector's event-time timers never fire, so every abandonment whose
    // deadline is proven only by the END of the log (not by a later
    // event) would silently vanish — batch callers get the complete
    // answer from analyze().alerts instead
    require(events.isStreaming,
      "liveAlerts needs a streaming frame — use analyze(...).alerts for bounded logs")
    val ev = events.toDF("event_id", "user_id", "ts", "event_type", "value")
    // the Page-Hinkley leg's state row is (long, long, ts, double), so id
    // and key must cast losslessly to long — fail with a named contract
    // error here (the EventAnalytics.pageHinkley discipline, sharing its
    // integralLike predicate, which also admits decimal(<=18,0) JDBC ids)
    // instead of a blind cast("long") that nulls a string key and kills
    // the query at runtime with Spark's opaque non-nullable-field error
    // (r17 review, widened by the second pass)
    for (c <- Seq("event_id", "user_id")) {
      val t = ev.schema(c).dataType
      require(EventAnalytics.integralLike(t),
        s"liveAlerts needs an integral (or decimal(<=18,0)) $c (the drift " +
          s"detector's state row is keyed by longs), got ${t.typeName}")
    }
    val spark = ev.sparkSession
    import spark.implicits._
    val abandoned = graft.streaming.Cep.detectAbsence(
      ev.select(col("user_id").cast("string").as("key"),
        col("event_type").cast("string").as("etype"), col("ts"))
        .as[graft.streaming.Cep.CepEvent],
      step2, step3, withinSeconds * 1000L)
      .toDF("key", "first_ts", "deadline_ts")
      .select(lit(s"abandoned_$step2").as("alert"), col("key"),
        col("first_ts").as("at_ts"),
        concat(lit("deadline="), col("deadline_ts").cast("string"))
          .as("info"))
    val shifts = graft.streaming.PageHinkley.detect(
      ev.select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"), col("ts"),
        col("value").cast("double").as("v")).as[graft.streaming.FfEvent],
      delta, lambda)
      .filter(_.alarm).toDF()
      .select(lit("level_shift").as("alert"),
        col("user_id").cast("string").as("key"), col("ts").as("at_ts"),
        concat(lit("ph="), col("ph").cast("string")).as("info"))
    abandoned.unionByName(shifts)
  }

  /** Demo main: report over the fixture event log. */
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Engine.session("event-insights", "local[4]")
    val ev = graft.Tables.t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
    val r = analyze(ev, steps = ("view", "click", "purchase"),
      conversion = "purchase")
    println(s"SESSIONS=${r.sessions.count()}")
    r.funnel.show(truncate = false)
    println(s"RETENTION_CELLS=${r.retention.count()}")
    println(s"ANOMALIES=${r.anomalies.count()}")
    println(s"ALERTS=${r.alerts.count()}")
    r.attribution.show(truncate = false)
    spark.stop()
  }
}
