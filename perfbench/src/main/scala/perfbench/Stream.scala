package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, max}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{GraftSink, GraftSource, Windows}

/** The stream leg of traced `batch_sf0.1_cold` runs: rate source → 1 s
  * tumbling event-time windows with a watermark → count per payload key
  * (100 keys) → an exactly-once sink that writes each micro-batch once,
  * keyed by batchId, with a checkpoint. The saturation leg feeds it
  * fixed-size batches as fast as it takes them; the latency leg then feeds
  * it from the open-loop `rate` source far below saturation for the run's
  * seconds. */
object Stream {
  val Rate = 20000L
  val RowsPerBatch = 500000L
  val Keys = 100
  val LatencyWarmupS = 2.0
  val SaturationWarmupBatches = 2
  /** The saturation leg times this many whole batches, however long they
    * take. */
  val SaturationBatches = 3

  /** One leg's sink: every committed batch, its rows and the latency of
    * each window update it emitted. */
  final class Sink(dir: String) {
    Files.createDirectories(Paths.get(dir))
    val latencyMs = mutable.ArrayBuffer.empty[(Double, Double)] // (commit end, latency)
    val newest = mutable.Map.empty[Long, Double] // batchId -> newest event ms
    val commitMs = mutable.Map.empty[Long, Double]
    val counts = mutable.Map.empty[(Long, String), Long] // (window start, key) -> count
    var bytes = 0L
    @volatile var replayed = 0
    @volatile var conflicts = 0

    def commit(df: DataFrame, batchId: Long): Unit = {
      val t0 = Clock.ms()
      val rows = df.collect().map { r =>
        (r.getStruct(0).getTimestamp(0).getTime, r.getString(1), r.getLong(2),
          r.getTimestamp(3).getTime)
      }.sortBy(r => (r._1, r._2))
      val text = rows.map { case (w, k, n, m) => s"$w\t$k\t$n\t$m" }.mkString("", "\n", "\n")
      val path = Paths.get(dir, f"batch-$batchId%010d.tsv")
      if (Files.exists(path)) {
        // a replayed epoch must reproduce the committed one exactly
        if (new String(Files.readAllBytes(path), StandardCharsets.UTF_8) == text) replayed += 1
        else conflicts += 1
      } else {
        val tmp = Paths.get(dir, f".batch-$batchId%010d.tmp")
        Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
        val end = Clock.ms()
        synchronized {
          bytes += text.length
          rows.foreach { case (w, k, n, _) => counts((w, k)) = n }
          if (rows.nonEmpty) newest(batchId) = rows.map(_._4.toDouble).max
          rows.foreach(r => latencyMs += ((end, end - r._4)))
          commitMs(batchId) = end - t0
        }
      }
    }
  }

  def query(ctx: Ctx, src: DataFrame, leg: String, sink: Sink): StreamingQuery = {
    val windowed = Windows.tumbling(src, "event_time", "1 second")
      .agg(Seq(col("payload")), count(lit(1)).as("n"), max(col("event_time")).as("newest"))
    val w = windowed.writeStream.outputMode("update")
      .option("checkpointLocation", s"${ctx.outDir}/checkpoint-$leg")
      .queryName(s"perfbench-$leg")
    GraftSink.foreachBatchIdempotent(w) { (df, batchId) =>
      ctx.tracer.span("sink", "GraftSink.commit", s"$leg:$batchId")(_ => sink.commit(df, batchId))
    }.trigger(Trigger.ProcessingTime(0L)).start()
  }

  /** Every window the watermark has passed holds exactly `perKey` rows for
    * each of the 100 keys. The first window a leg sees starts mid-stream
    * and is partial by construction, so it is skipped. */
  def check(ctx: Ctx, leg: String, sink: Sink, perKey: Long): Int = {
    val closedBefore = if (sink.newest.isEmpty) 0.0 else sink.newest.values.max
    val starts = sink.counts.keys.map(_._1)
    val first = if (starts.isEmpty) 0L else starts.min
    val windows = starts.toSeq.distinct.filter(w => w > first && w + 1000 <= closedBefore)
    windows.foreach { w =>
      val byKey = sink.counts.collect { case ((`w`, k), n) => k -> n }
      if (byKey.size != Keys || byKey.values.exists(_ != perKey))
        ctx.fail(s"$leg window $w: ${byKey.size} keys, counts ${byKey.values.toSeq.distinct.take(5)}, want $perKey")
    }
    if (sink.conflicts > 0) ctx.fail(s"$leg: ${sink.conflicts} batchIds committed twice with different rows")
    windows.size
  }

  /** Outside the timed window: stops the latency leg, drops the newest
    * commit from its checkpoint (and the offsets of any batch after it that
    * the stop cut short) so Spark has to run that batch again on restart,
    * and requires the sink to receive the same rows for it a second time. */
  def replay(ctx: Ctx, q: StreamingQuery, sink: Sink): Unit = {
    q.stop()
    val cp = Paths.get(s"${ctx.outDir}/checkpoint-latency")
    def batchIds(log: String) = Files.list(cp.resolve(log)).iterator.asScala
      .map(_.getFileName.toString).filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).toSeq
    def drop(log: String, id: Long): Unit = {
      Files.delete(cp.resolve(s"$log/$id"))
      Files.deleteIfExists(cp.resolve(s"$log/.$id.crc"))
    }
    ctx.attempted += 1
    batchIds("commits").maxOption match {
      case None => ctx.fail("latency: no committed batch to replay")
      case Some(id) =>
        drop("commits", id)
        batchIds("offsets").filter(_ > id).foreach(drop("offsets", _))
        val seen = sink.replayed + sink.conflicts
        val again = query(ctx, GraftSource.rate(ctx.spark, Rate), "latency", sink)
        val deadline = Clock.ms() + ReplayTimeoutMs
        while (again.isActive && sink.replayed + sink.conflicts == seen && Clock.ms() < deadline)
          Thread.sleep(20)
        again.exception.foreach(e => ctx.fail(s"latency replay: ${e.toString.take(300)}"))
        again.stop()
        if (sink.replayed + sink.conflicts == seen) ctx.fail(s"latency: batch $id was not replayed")
    }
  }

  val ReplayTimeoutMs = 30000L

  def run(ctx: Ctx): Unit = {
    import ctx._
    // --- saturation leg: fixed-size batches, as fast as they go ----------
    // (traced runs keep the listeners on for the whole leg)
    tracer.attach(spark)
    val satStart = Clock.ms()
    val sat = new Sink(s"$outDir/sink-saturation")
    val q2 = query(ctx, GraftSource.rateFixedBatch(spark, RowsPerBatch), "saturation", sat)
    def satData = q2.recentProgress.toSeq.filter(_.numInputRows > 0)
    while (q2.isActive && satData.size < SaturationWarmupBatches) Thread.sleep(20)
    val t0 = Clock.ms()
    def timed = satData.filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= t0)
    while (q2.isActive && timed.size < SaturationBatches) Thread.sleep(20)
    q2.exception.foreach(e => fail(s"saturation: ${e.toString.take(300)}"))
    q2.stop()
    Thread.sleep(150)
    tracer.detach()
    val satWindows = check(ctx, "saturation", sat, RowsPerBatch / Keys)
    val satBatches = timed.take(SaturationBatches)
    val satMs = satBatches.map(_.durationMs.get("triggerExecution").doubleValue)
    val satTracedMs = Clock.ms() - satStart
    // --- latency leg: open loop at a fixed rate --------------------------
    val lat = new Sink(s"$outDir/sink-latency")
    val q1 = query(ctx, GraftSource.rate(spark, Rate), "latency", lat)
    Thread.sleep((LatencyWarmupS * 1000).toLong)
    val t1 = Clock.ms()
    val tracedSlices = runSlices(ctx, t1 + seconds * 1000)
    val t1End = Clock.ms()
    q1.exception.foreach(e => fail(s"latency: ${e.toString.take(300)}"))
    val latRun = q1.runId
    replay(ctx, q1, lat)
    val latSamples = lat.synchronized(lat.latencyMs.filter(x => x._1 >= t1 && x._1 < t1End).toSeq)
    val latWindows = check(ctx, "latency", lat, Rate / Keys)
    latSamples.foreach { case (at, ms) =>
      overheadSamples += (("event", tracedSlices.exists { case (a, b) => at >= a && at < b }, ms))
    }

    attempted += lat.commitMs.size + sat.commitMs.size
    val eventMs = latSamples.map(_._2)
    out("event_ms_mean") = Stats.mean(eventMs)
    out("event_ms_p50") = Stats.pct(eventMs, 50)
    out("event_ms_p90") = Stats.pct(eventMs, 90)
    out("event_samples") = eventMs.size
    // rows over the median time of the timed batches
    out("stream_rows_per_s") = RowsPerBatch / (Stats.median(satMs) / 1000)
    out("saturated_batch_ms") = satMs
    out("saturated_batches") = satBatches.size
    out("windows_checked") = latWindows + satWindows
    if (tracer.enabled) {
      val progress = tracer.progress.synchronized(tracer.progress.toList).map(_.progress)
      progress.foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
        val leg = if (p.runId == latRun) "latency" else "saturation"
        val key = s"$leg:${p.batchId}"
        val root = tracer.add(Span(tracer.newId(), 0L, "stream", "micro-batch", key,
          start, start + d.getOrElse("triggerExecution", 0.0)))
        // the phases run in this order inside a trigger
        var at = start
        Seq("latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
            "queryPlanning" -> "streaming", "addBatch" -> "streaming",
            "commitOffsets" -> "streaming").foreach { case (phase, layer) =>
          val ms = d.getOrElse(phase, 0.0)
          if (ms > 0) tracer.add(Span(tracer.newId(), root, layer, phase, key, at, at + ms))
          at += ms
        }
      }
      val data = progress.filter(_.numInputRows > 0)
      def phase(k: String) = Stats.mean(progress.map(_.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)))
      out("sources.latestOffset_ms") = phase("latestOffset")
      out("sources.getBatch_ms") = phase("getBatch")
      out("sources.lag_ms") = Stats.median(data.filter(_.runId == latRun).flatMap { p =>
        lat.newest.get(p.batchId).map(n => java.time.Instant.parse(p.timestamp).toEpochMilli - n)
      })
      out("streaming.trigger_ms") = phase("triggerExecution")
      out("streaming.queryPlanning_ms") = phase("queryPlanning")
      out("streaming.addBatch_ms") = phase("addBatch")
      out("streaming.walCommit_ms") = phase("walCommit")
      out("streaming.commitOffsets_ms") = phase("commitOffsets")
      out("streaming.batches") = progress.size
      out("streaming.rows_per_batch") = Stats.mean(data.map(_.numInputRows.toDouble))
      out("streaming.empty_batch_share") =
        if (progress.isEmpty) 0.0 else 1.0 - data.size.toDouble / progress.size
      val st = progress.flatMap(_.stateOperators.headOption)
      out("state.rows_total") = Stats.mean(st.map(_.numRowsTotal.toDouble))
      out("state.rows_updated") = Stats.mean(st.map(_.numRowsUpdated.toDouble))
      out("state.memory_bytes") = Stats.mean(st.map(_.memoryUsedBytes.toDouble))
      out("state.commit_ms") = Stats.mean(st.map(_.commitTimeMs.toDouble))
      val commits = lat.commitMs.values ++ sat.commitMs.values
      out("sink.commit_ms") = Stats.mean(commits.toSeq)
      out("sink.bytes_written") = (lat.bytes + sat.bytes).toDouble / math.max(1, commits.size)
      out("sink.replayed_batches") = lat.replayed + sat.replayed
      tracedOps = progress.size
      tracedWallMs = tracedSlices.map { case (a, b) => b - a }.sum + satTracedMs
    }
  }

  /** Until `until`, alternates the tracer's listeners on and off in slices
    * so the traced run can compare the two; returns the traced slices. */
  def runSlices(ctx: Ctx, until: Double): Seq[(Double, Double)] = {
    val traced = mutable.ArrayBuffer.empty[(Double, Double)]
    var on = false
    while (Clock.ms() < until) {
      val s = Clock.ms()
      val sliceEnd = math.min(until, s + Tracer.SliceMs)
      if (ctx.tracer.enabled) {
        on = !on
        if (on) ctx.tracer.attach(ctx.spark) else ctx.tracer.detach()
      }
      while (Clock.ms() < sliceEnd) Thread.sleep(20)
      if (on) traced += ((s, Clock.ms()))
    }
    ctx.tracer.detach()
    traced.toSeq
  }
}
