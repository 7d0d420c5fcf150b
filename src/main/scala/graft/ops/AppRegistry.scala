package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.JsonValues
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.json4s._
import org.json4s.JsonDSL._
import scala.collection.concurrent.TrieMap

/** Ops/introspection layer — library-level parity with the reference's REST
  * surface (reference: services/jvm/src/main/scala/io/gearpump/services/{AppMasterService,MasterService}.scala;
  * spec docs/contents/dev/dev-rest-api.md):
  *  - `applist`            -> active streaming queries
  *  - `appmaster/<id>`     -> per-query detail (status + last progress)
  *  - `.../metrics`        -> throughput/latency series (the reference tracks
  *    receiveThroughput/processTime per task, task/TaskActor.scala:56-62)
  *  - `.../stallingtasks`  -> queries without progress for > threshold
  *    (HealthChecker stallingThresholdSeconds=60,
  *    reference: appmaster/ClockService.scala:48,373)
  * Each view is a json4s value built here (a null string is JSON null);
  * [[OpsServer]] embeds them in its responses and renders each body once.
  */
final class AppRegistry(spark: SparkSession) {
  import AppRegistry.{LatencyHistogram, Metrics}

  private val lastSeen = TrieMap.empty[java.util.UUID, (Long, Metrics)] // id -> (nanoTime, m)
  // ring buffer of recent batch durations per query (histogram window)
  private val retained = 256
  private val durations = TrieMap.empty[java.util.UUID, scala.collection.mutable.ArrayDeque[Long]]
  // bounded ring of full progress snapshots per query — the dashboard's
  // time-series source (reference: core/src/main/scala/io/gearpump/util/
  // HistoryMetricsService.scala keeps a bounded history per metric for the
  // dashboard charts; 64 snapshots at the default 100ms-10s triggers spans
  // the chart window without unbounded growth)
  private val historyRetained = 64
  private val history = TrieMap.empty[java.util.UUID, scala.collection.mutable.ArrayDeque[(Long, Metrics)]]
  // master-level twin of the per-app ring: bounded engine-wide rollup
  // snapshots, one per progress event (the reference's
  // HistoryMetricsService also retains master/worker-level series for the
  // cluster charts, not just per-app ones)
  private val masterHistory = scala.collection.mutable.ArrayDeque.empty[(Long, JValue)]

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      // triggerExecution spans the whole micro-batch (the other durationMs
      // phases are its sub-spans — summing them double-counts); fall back
      // to the sum only if a source ever omits it
      val durMs =
        if (p.durationMs.containsKey("triggerExecution")) p.durationMs.get("triggerExecution").longValue
        else p.durationMs.values.stream.mapToLong(_.longValue).sum
      // bind the built Metrics locally: re-reading lastSeen(p.id) below
      // would throw if a concurrent termination path ever removed the entry
      // between the put and the read, killing the listener callback
      val metrics =
        Metrics(p.batchId, nz(p.inputRowsPerSecond), nz(p.processedRowsPerSecond),
          durMs, p.numInputRows, p.timestamp,
          { import scala.jdk.CollectionConverters._
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap },
          { import scala.jdk.CollectionConverters._
            p.observedMetrics.asScala.map { case (k, row) =>
              k -> AppRegistry.finite(JsonValues(row)) }.toMap },
          p.stateOperators.toSeq.map(so => Metrics.StateOp(so.operatorName,
            so.numRowsTotal, so.numRowsUpdated, so.memoryUsedBytes)))
      lastSeen.put(p.id, (System.nanoTime(), metrics))
      val ring = durations.getOrElseUpdate(p.id, scala.collection.mutable.ArrayDeque.empty)
      ring.synchronized {
        ring.append(durMs)
        if (ring.size > retained) { ring.removeHead(); () }
      }
      val hist = history.getOrElseUpdate(p.id, scala.collection.mutable.ArrayDeque.empty)
      hist.synchronized {
        hist.append((System.currentTimeMillis(), metrics))
        if (hist.size > historyRetained) { hist.removeHead(); () }
      }
      masterHistory.synchronized {
        masterHistory.append((System.currentTimeMillis(), rollupJson))
        if (masterHistory.size > historyRetained) { masterHistory.removeHead(); () }
      }
      ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      lastSeen.remove(e.id); durations.remove(e.id); history.remove(e.id)
      // a failed query leaves spark.streams.active at termination, so the
      // exception must be captured HERE or the errors endpoint can never
      // serve it (the event carries the terminal exception message)
      terminatedStreams.put(e.id, (System.currentTimeMillis(), e.exception))
      // bound the terminal records (a long-lived ops server churning
      // streams would otherwise leak one entry per termination): keep the
      // newest 256 by termination time
      if (terminatedStreams.size > 256)
        terminatedStreams.toSeq.sortBy(_._2._1)
          .dropRight(256).foreach { case (k, _) => terminatedStreams.remove(k) }
      ()
    }
  }
  spark.streams.addListener(listener)

  private def nz(d: Double) = if (d.isNaN) 0.0 else d

  def active: Seq[StreamingQuery] = spark.streams.active.toSeq

  // --- submitted batch apps (REST submitapp parity) ---------------------
  // The reference's MasterService accepts a jar upload and launches it
  // (reference: services/jvm/src/main/scala/io/gearpump/services/MasterService.scala:109-156);
  // here queries are code, so the submit token is a REGISTRY NAME and
  // "launching" runs that query on a daemon thread under its own job
  // group, which is what makes kill-by-id work (cancelJobGroup).
  private val submittedApps = TrieMap.empty[java.util.UUID, AppRegistry.SubmittedApp]

  // terminal records for streams: id -> (terminatedAtMs, exception message)
  private val terminatedStreams = TrieMap.empty[java.util.UUID, (Long, Option[String])]

  /** The submitted batch apps, in submission order. */
  def submitted: Seq[AppRegistry.SubmittedApp] = submittedApps.values.toSeq.sortBy(_.order)

  /** Launch a named batch query asynchronously; returns its app id.
    * The result is forced through the noop sink (full plan execution,
    * nothing driver-collected — same discipline as the bench). */
  def submit(name: String, run: (SparkSession, String) => DataFrame, sfDir: String): java.util.UUID = {
    val id = java.util.UUID.randomUUID()
    val app = new AppRegistry.SubmittedApp(id, name, sfDir, run)
    submittedApps.put(id, app)
    val t = new Thread(() => {
      try {
        // job group is thread-local: this dedicated thread scopes every job
        // the query spawns under the app id, so kill = cancelJobGroup(id)
        spark.sparkContext.setJobGroup(id.toString, s"graft submitapp $name", interruptOnCancel = true)
        // the query releases what the app pinned and ticked when it ends,
        // is killed or fails
        try graft.Pin.query(run(spark, sfDir).write.format("noop").mode("overwrite").save())
        finally spark.sparkContext.clearJobGroup()
        app.finish(if (app.killRequested) "killed" else "finished", null)
      } catch {
        case e: Throwable =>
          app.finish(if (app.killRequested) "killed" else "failed", e.toString)
      }
    }, s"graft-submit-$id")
    app.runner = t
    t.setDaemon(true)
    t.start()
    id
  }

  /** Kill a submitted app (reference kill-app parity for batch submissions). */
  def killSubmitted(id: java.util.UUID): Boolean =
    submittedApps.get(id).exists { app =>
      if (app.status != "running") false
      else {
        app.killRequested = true
        spark.sparkContext.cancelJobGroup(id.toString)
        // also interrupt the runner: covers the window before the first job
        // is submitted (cancelJobGroup only reaches already-running jobs)
        Option(app.runner).foreach(_.interrupt())
        true
      }
    }

  /** Restart a submitted app (reference: AppMasterService.scala:100 `restart`):
    * kill it if still running, then re-launch the same query against the
    * same data dir as a NEW app id (the old app's terminal record stays). */
  def restartSubmitted(id: java.util.UUID): Option[java.util.UUID] =
    submittedApps.get(id).map { app =>
      if (app.status == "running") {
        killSubmitted(id)
        // bounded wait for the runner to unwind so the relaunch doesn't
        // race the old jobs for the same bench-sized local cluster
        Option(app.runner).foreach(_.join(10000))
      }
      submit(app.name, app.run, app.sfDir)
    }

  /** Dynamic-DAG over REST (reference: AppMasterService.scala `dynamicdag`
    * replaces a processor in a live DAG): for a submitted batch app the
    * honest analog is REPLACE THE PLAN — kill the running app and launch a
    * different registry query against the SAME data dir, returning the new
    * app id (the old app's terminal record stays, like the reference's
    * versioned DAG history). Streaming queries use [[Redeploy.replace]],
    * which additionally carries checkpoint state — a plan is code, so it
    * can't arrive over HTTP. */
  def replaceSubmitted(id: java.util.UUID, newName: String,
      newRun: (SparkSession, String) => DataFrame): Option[java.util.UUID] =
    submittedApps.get(id).map { app =>
      if (app.status == "running") {
        killSubmitted(id)
        Option(app.runner).foreach(_.join(10000))
      }
      submit(newName, newRun, app.sfDir)
    }

  /** Per-app config view (reference: AppMasterService.scala serves
    * `appmaster/<id>/config`): identity + the engine conf that shapes the
    * app's execution. Works for both live streams and submitted apps. */
  def appConfigJson(id: java.util.UUID): Option[JValue] = {
    def conf(k: String) = spark.conf.getOption(k).getOrElse("")
    val engine = "engine" ->
      (("spark.sql.shuffle.partitions" -> conf("spark.sql.shuffle.partitions")) ~
        ("spark.sql.session.timeZone" -> conf("spark.sql.session.timeZone")) ~
        ("master" -> spark.sparkContext.master))
    active.find(_.id == id).map(q =>
      ("id" -> q.id.toString) ~ ("name" -> q.name) ~ ("kind" -> "stream") ~
        ("runId" -> q.runId.toString) ~ engine)
      .orElse(submittedApps.get(id).map(a =>
        ("id" -> a.id.toString) ~ ("name" -> a.name) ~ ("kind" -> "batch") ~
          ("sfDir" -> a.sfDir) ~ ("status" -> a.status) ~ engine))
  }

  /** REST `applist` parity: active streaming queries + submitted batch apps. */
  def applist: JValue = {
    val streams = active.map(q =>
      ("id" -> q.id.toString) ~ ("name" -> q.name) ~ ("isActive" -> q.isActive) ~
        ("kind" -> "stream"))
    val batches = submitted.map(a =>
      ("id" -> a.id.toString) ~ ("name" -> a.name) ~ ("isActive" -> (a.status == "running")) ~
        ("kind" -> "batch") ~ ("status" -> a.status))
    streams ++ batches
  }

  /** Detail JSON for a submitted batch app (appmaster/<id> parity). */
  def submittedDetail(id: java.util.UUID): Option[JValue] =
    submittedApps.get(id).map { a =>
      ("id" -> a.id.toString) ~ ("name" -> a.name) ~ ("kind" -> "batch") ~
        ("status" -> a.status) ~ ("sfDir" -> a.sfDir) ~ ("startedAtMs" -> a.startedAtMs) ~
        ("finishedAtMs" -> a.finishedAtMs) ~ ("error" -> a.error)
    }

  /** REST `appmaster/<id>` parity: status + last progress + latency. */
  def appDetail(id: java.util.UUID): Option[JValue] =
    active.find(_.id == id).map { q =>
      ("id" -> q.id.toString) ~ ("name" -> q.name) ~ ("status" -> JsonValues(q.status)) ~
        ("lastProgress" -> lastSeen.get(id).map(_._2).fold[JValue](JNull)(fmt)) ~
        ("latency" -> latency(id).fold[JValue](JNull)(fmtHist))
    }

  /** REST `.../metrics` parity. */
  def metrics: Map[String, Metrics] =
    lastSeen.map { case (id, (_, m)) => id.toString -> m }.toMap

  /** Bounded progress-snapshot history for one query, oldest first —
    * REST `appmaster/<id>/metrics?history=true` (reference:
    * core/src/main/scala/io/gearpump/util/HistoryMetricsService.scala
    * serves the bounded per-metric time series the dashboard charts). */
  def metricsHistory(id: java.util.UUID): Seq[(Long, Metrics)] =
    history.get(id).map(h => h.synchronized { h.toVector }).getOrElse(Vector.empty)

  /** JSON time series for `?history=true`: `[{"atMs":t,"progress":{...}}]`. */
  def historyJson(id: java.util.UUID): JValue =
    metricsHistory(id).map { case (atMs, m) => ("atMs" -> atMs) ~ ("progress" -> fmt(m)) }

  /** Bounded engine-wide rollup history, oldest first — the master-level
    * twin of [[metricsHistory]], REST `master/metrics?history=true`
    * (reference HistoryMetricsService retains master-level series for the
    * cluster charts too). Each snapshot is the [[rollupJson]] captured at
    * a progress event. */
  def masterMetricsHistory: Seq[(Long, JValue)] =
    masterHistory.synchronized { masterHistory.toVector }

  /** JSON time series for `master/metrics?history=true`. */
  def masterHistoryJson: JValue =
    masterMetricsHistory.map { case (atMs, roll) => ("atMs" -> atMs) ~ ("rollup" -> roll) }

  /** Percentiles over the retained batch-duration window (nearest-rank). */
  def latency(id: java.util.UUID): Option[LatencyHistogram] =
    durations.get(id).flatMap(ring =>
      AppRegistry.histogramOf(ring.synchronized { ring.toVector }))

  /** Cross-query latency histogram: percentiles over the UNION of every
    * retained duration ring — the multi-app rollup the reference's
    * ProcessorAggregator computes across all tasks of all processors
    * (reference: core/src/main/scala/io/gearpump/metrics/ProcessorAggregator.scala:43-160). */
  def aggregateLatency: Option[LatencyHistogram] =
    AppRegistry.histogramOf(
      durations.values.flatMap(r => r.synchronized { r.toVector }).toVector)

  /** REST `master/metrics` parity: engine-wide rollup — rate sums across
    * active queries plus the merged latency histogram. */
  def rollupJson: JValue = {
    val r = rollup
    ("queries" -> active.size) ~ ("submittedApps" -> submitted.size) ~
      ("inputRowsPerSecond" -> JDecimal(r.inputRps)) ~
      ("processedRowsPerSecond" -> JDecimal(r.processedRps)) ~
      ("numInputRows" -> r.rows) ~ ("stateRowsTotal" -> r.stateRows) ~
      ("stateMemoryUsedBytes" -> r.stateMemory) ~
      ("latency" -> aggregateLatency.fold[JValue](JNull)(fmtHist))
  }

  /** Prometheus text exposition (format 0.0.4) of the same engine-wide
    * rollup [[rollupJson]] serves as JSON — the pull-based scrape surface a
    * production deployment points its Prometheus/Grafana stack at (the
    * reference exports the same counters through its Ganglia/Akka metrics
    * bridge, docs/contents/introduction/gearpump-internals.md metrics
    * section). Gauge names follow prometheus conventions
    * (snake_case, unit-suffixed); the latency histogram exports as
    * quantile-labeled summary gauges off the merged ring. */
  def prometheusText: String = {
    val r = rollup
    val sb = new StringBuilder
    def gauge(name: String, help: String, v: Any): Unit = {
      sb.append(s"# HELP $name $help\n# TYPE $name gauge\n$name $v\n")
    }
    gauge("graft_queries_active", "Active streaming queries", active.size)
    gauge("graft_apps_submitted", "Batch apps submitted via REST", submitted.size)
    gauge("graft_input_rows_per_second", "Summed source ingest rate", r.inputRps)
    gauge("graft_processed_rows_per_second", "Summed processing rate", r.processedRps)
    gauge("graft_input_rows_total", "Input rows in the latest progress per query", r.rows)
    gauge("graft_state_rows_total", "Rows across all state stores", r.stateRows)
    gauge("graft_state_memory_bytes", "State store memory used", r.stateMemory)
    aggregateLatency.foreach { h =>
      sb.append("# HELP graft_batch_duration_ms Micro-batch duration summary\n")
      sb.append("# TYPE graft_batch_duration_ms summary\n")
      sb.append(s"""graft_batch_duration_ms{quantile="0.5"} ${h.p50Ms}""").append('\n')
      sb.append(s"""graft_batch_duration_ms{quantile="0.95"} ${h.p95Ms}""").append('\n')
      sb.append(s"""graft_batch_duration_ms{quantile="0.99"} ${h.p99Ms}""").append('\n')
      sb.append(s"graft_batch_duration_ms_count ${h.count}").append('\n')
    }
    sb.toString
  }

  /** The sums both rollup views serve, over each query's latest progress. */
  private def rollup: AppRegistry.Rollup = {
    val ms = lastSeen.values.map(_._2).toSeq
    AppRegistry.Rollup(AppRegistry.rate(ms.map(_.inputRowsPerSecond).sum),
      AppRegistry.rate(ms.map(_.processedRowsPerSecond).sum), ms.map(_.numInputRows).sum,
      ms.flatMap(_.stateOps).map(_.rowsTotal).sum, ms.flatMap(_.stateOps).map(_.memoryUsedBytes).sum)
  }

  /** REST `appmaster/<id>/errors` parity (reference:
    * services/jvm/src/main/scala/io/gearpump/services/AppMasterService.scala:93
    * serves the app's lastErrors): a streaming query reports its terminal
    * `exception()`; a submitted batch app reports its captured failure.
    * None = the id is unknown to either registry. */
  def errorsJson(id: java.util.UUID): Option[JValue] = {
    def body(kind: String, status: String, error: Option[(String, Long)]) =
      ("id" -> id.toString) ~ ("kind" -> kind) ~ ("status" -> status) ~
        ("errors" -> error.toList.map { case (e, atMs) => ("message" -> e) ~ ("atMs" -> atMs) })
    // a running stream has no terminal exception yet; a TERMINATED stream is
    // gone from spark.streams.active, so its error lives in the listener's
    // capture (checked second) — without it the endpoint could never serve
    // the one error a failed stream actually produced
    active.find(_.id == id).map(_ => body("stream", "active", None))
      .orElse(terminatedStreams.get(id).map { case (atMs, exc) =>
        body("stream", if (exc.isDefined) "failed" else "terminated", exc.map(_ -> atMs))
      })
      .orElse(submittedApps.get(id).map(a =>
        body("batch", a.status, Option(a.error).map(_ -> a.finishedAtMs))))
  }

  /** REST `.../stallingtasks` parity: active queries with no progress event
    * within the threshold (default mirrors the reference's 60 s). */
  def stalling(thresholdMs: Long = 60000): Seq[StreamingQuery] = {
    val now = System.nanoTime()
    active.filter { q =>
      lastSeen.get(q.id) match {
        case Some((t, _)) => (now - t) / 1000000 > thresholdMs
        case None => false // never progressed: still starting
      }
    }
  }

  def close(): Unit = { spark.streams.removeListener(listener); () }

  private[ops] def fmtHist(h: LatencyHistogram): JValue =
    ("count" -> h.count) ~ ("meanMs" -> h.meanMs) ~ ("p50Ms" -> h.p50Ms) ~
      ("p95Ms" -> h.p95Ms) ~ ("p99Ms" -> h.p99Ms) ~ ("maxMs" -> h.maxMs)

  private[ops] def fmt(m: Metrics): JValue =
    ("batchId" -> m.batchId) ~ ("inputRowsPerSecond" -> m.inputRowsPerSecond) ~
      ("processedRowsPerSecond" -> m.processedRowsPerSecond) ~
      ("batchDurationMs" -> m.batchDurationMs) ~ ("numInputRows" -> m.numInputRows) ~
      ("timestamp" -> m.timestamp) ~
      ("durationMs" -> JObject(m.phases.toList.sortBy(_._1).map { case (k, v) => JField(k, v) })) ~
      ("observedMetrics" -> JObject(m.observed.toList.sortBy(_._1))) ~
      ("stateOperators" -> m.stateOps.map(so =>
        ("name" -> so.name) ~ ("numRowsTotal" -> so.rowsTotal) ~
          ("numRowsUpdated" -> so.rowsUpdated) ~ ("memoryUsedBytes" -> so.memoryUsedBytes)))
}

object AppRegistry {
  /** `phases` is the engine's per-batch duration breakdown
    * (addBatch/getBatch/walCommit/...) — the per-stage detail the
    * reference's dashboard splits out of processTime. `observed` carries the
    * query's `df.observe(name, exprs...)` metrics — the analog of the
    * reference's user-registered per-task counters surfaced in the task
    * metrics JSON (reference: streaming/.../task/TaskActor.scala:56-62
    * registers per-task meters; user tasks add their own via
    * TaskContext). */
  final case class Metrics(
      batchId: Long, inputRowsPerSecond: Double, processedRowsPerSecond: Double,
      batchDurationMs: Long, numInputRows: Long, timestamp: String,
      phases: Map[String, Long] = Map.empty,
      observed: Map[String, JValue] = Map.empty,
      stateOps: Seq[Metrics.StateOp] = Seq.empty)

  object Metrics {
    /** Per-stateful-operator progress (rows held / updated, store memory) —
      * the capacity signal a dashboard needs before a stateful query OOMs
      * its state store at scale. */
    final case class StateOp(name: String, rowsTotal: Long, rowsUpdated: Long,
        memoryUsedBytes: Long)
  }

  /** Batch-latency distribution over the retained window — the per-query
    * analog of the reference's per-task processTime/receiveLatency
    * histograms aggregated for the dashboard
    * (reference: streaming/src/main/scala/io/gearpump/streaming/task/TaskActor.scala:56-62,
    * core/src/main/scala/io/gearpump/metrics/ProcessorAggregator.scala:43-160). */
  final case class LatencyHistogram(
      count: Int, meanMs: Double, p50Ms: Long, p95Ms: Long, p99Ms: Long, maxMs: Long)

  private val submissions = new java.util.concurrent.atomic.AtomicLong

  /** A batch query launched via REST submitapp — tracked for applist /
    * detail / kill exactly like a streaming query, minus progress events
    * (batch jobs report through the job group, not the listener bus). */
  final class SubmittedApp private[ops] (
      val id: java.util.UUID, val name: String, val sfDir: String,
      private[ops] val run: (SparkSession, String) => DataFrame) {
    val startedAtMs: Long = System.currentTimeMillis()
    private[ops] val order: Long = submissions.getAndIncrement()
    @volatile var status: String = "running" // running | finished | failed | killed
    @volatile var finishedAtMs: Long = 0L
    @volatile var error: String = null
    @volatile private[ops] var killRequested: Boolean = false
    @volatile private[ops] var runner: Thread = null
    private[ops] def finish(s: String, err: String): Unit = {
      status = s; error = err; finishedAtMs = System.currentTimeMillis()
    }
  }

  /** Nearest-rank percentiles over a sample vector (shared by the per-query
    * histogram, the multi-app rollup, and the continuous-latency probe). */
  def histogramOf(samples: Vector[Long]): Option[LatencyHistogram] =
    if (samples.isEmpty) None
    else {
      val s = samples.sorted
      def pct(p: Double): Long = s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
      Some(LatencyHistogram(s.size, s.sum.toDouble / s.size,
        pct(0.50), pct(0.95), pct(0.99), s.last))
    }

  /** The engine-wide sums behind [[AppRegistry.rollupJson]] and
    * [[AppRegistry.prometheusText]]. */
  private final case class Rollup(inputRps: BigDecimal, processedRps: BigDecimal,
      rows: Long, stateRows: Long, stateMemory: Long)

  /** A summed rate to 3 decimals, rounded as `f"%.3f"` rounds it but
    * written with a '.' under every default locale. */
  private def rate(x: Double): BigDecimal = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP)

  /** A metric value with every non-finite double (`avg` over a NaN, `max`
    * over an infinity) as null: JSON has no number for it. */
  private[ops] def finite(v: JValue): JValue =
    v.transform { case JDouble(d) if d.isNaN || d.isInfinite => JNull }
}
