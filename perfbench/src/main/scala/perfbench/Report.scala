package perfbench

import scala.collection.mutable

/** Per-layer figures of a traced run. Counts and times are per operation
  * (query, app or micro-batch) timed with the listeners attached; layers a
  * workload does not touch read 0. */
object Report {
  /** Layers that own spans, in the order their self time is reported. */
  val SpanLayers = Seq("operators", "catalyst", "scheduler", "tasks", "sources",
    "streaming", "sink", "ops")

  def layers(ctx: Ctx): Seq[(String, Any)] = {
    val tr = ctx.tracer
    val sc = tr.spark
    val out = mutable.LinkedHashMap.empty[String, Any]
    val ops = math.max(1, ctx.tracedOps).toDouble
    def perOp(x: Double) = x / ops

    // jobs become scheduler spans; their stages become tasks spans
    val jobSpan = sc.jobList.filter(_.end > 0).map { j =>
      j.id -> tr.add(Span(tr.newId(), 0L, "scheduler", s"job ${j.id}", j.group, j.start, j.end))
    }.toMap
    sc.stageList.filter(s => s.submit > 0 && s.end > 0).foreach { s =>
      tr.add(Span(tr.newId(), jobSpan.getOrElse(s.job, 0L), "tasks", s"stage ${s.id}", "",
        s.submit, s.end))
    }
    val spans = attachParents(tr.all)
    val children = spans.filter(_.parent != 0).groupBy(_.parent)
    def self(s: Span): Double =
      s.durMs - covered(s, children.getOrElse(s.id, Nil))
    val selfByLayer = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(self).sum }
    val byId = spans.map(s => s.id -> s).toMap
    def underLayer(s: Span, layer: String): Boolean =
      Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent)))
        .takeWhile(_.isDefined).flatten.exists(_.layer == layer)

    val jobs = sc.jobList
    val stages = sc.stageList
    val tasks = sc.taskList
    val jobSpans = spans.filter(_.layer == "scheduler")
    out("Engine.session_ms") = spans.find(_.name == "Engine.session").map(_.durMs).getOrElse(0.0)
    out("Tables.t_ms") = ctx.out.getOrElse("Tables.t_ms", 0.0)
    out("Tables.jobs") = perOp(jobs.count(_.callSite.contains("Tables.scala")))
    val builds = spans.filter(_.layer == "operators")
    val roots = spans.filter(_.layer == "query")
    out("operators.build_ms") = Stats.mean(builds.map(_.durMs))
    out("operators.build_jobs") =
      jobSpans.count(underLayer(_, "operators")).toDouble / math.max(1, builds.size)
    out("operators.build_share") =
      if (roots.isEmpty || builds.isEmpty) 0.0
      else builds.map(_.durMs).sum / roots.map(_.durMs).sum
    Seq("analysis", "optimization", "planning").foreach { p =>
      out(s"catalyst.${p}_ms") = perOp(spans.filter(s => s.layer == "catalyst" && s.name == p).map(_.durMs).sum)
    }
    val submitted = stages.filter(_.submit > 0)
    out("scheduler.jobs") = perOp(jobs.size)
    out("scheduler.stages") = perOp(submitted.size)
    out("scheduler.stages_skipped") = perOp(stages.count(s => s.submit == 0 && s.job >= 0))
    out("scheduler.tasks") = perOp(tasks.size)
    out("scheduler.tasks_failed") = perOp(tasks.count(_.failed))
    val submitOf = submitted.map(s => s.id -> s.submit).toMap
    out("scheduler.delay_ms") = Stats.median(tasks.flatMap(t => submitOf.get(t.stage).map(t.launch - _)))
    out("tasks.run_ms") = perOp(tasks.map(_.runMs).sum)
    out("tasks.cpu_ms") = perOp(tasks.map(_.cpuMs).sum)
    out("tasks.gc_ms") = perOp(tasks.map(_.gcMs).sum)
    out("tasks.shuffle_read_bytes") = perOp(tasks.map(_.shuffleRead.toDouble).sum)
    out("tasks.shuffle_write_bytes") = perOp(tasks.map(_.shuffleWrite.toDouble).sum)
    out("tasks.spill_bytes") = perOp(tasks.map(_.spill.toDouble).sum)
    out("tasks.slot_util") =
      if (ctx.tracedWallMs <= 0) 0.0 else tasks.map(_.runMs).sum / (ctx.tracedWallMs * ctx.slots)
    out("tasks.skew") = Stats.median(tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val m = Stats.median(ts.map(_.runMs))
      if (m <= 0) 1.0 else ts.map(_.runMs).max / m
    }.toSeq)
    Seq("sources.latestOffset_ms", "sources.getBatch_ms", "sources.lag_ms",
      "streaming.trigger_ms", "streaming.queryPlanning_ms", "streaming.addBatch_ms",
      "streaming.walCommit_ms", "streaming.commitOffsets_ms", "streaming.batches",
      "streaming.rows_per_batch", "streaming.empty_batch_share",
      "state.rows_total", "state.rows_updated", "state.memory_bytes", "state.commit_ms",
      "sink.commit_ms", "sink.bytes_written", "sink.replayed_batches",
      "ops.apps_per_s", "ops.app_ms_p50", "ops.submit_ms", "ops.queue_ms", "ops.poll_count",
      "ops.inflight",
      "storage.cached_rdds_end", "storage.mem_used_bytes_end").foreach { k =>
      out(k) = ctx.out.getOrElse(k, 0.0)
    }
    SpanLayers.foreach(l => out(s"$l.self_ms") = perOp(selfByLayer.getOrElse(l, 0.0)))
    out("trace.overhead_pct") = overheadPct(ctx)
    out("trace.spans") = spans.size
    out.toSeq
  }

  /** Layers whose spans are roots: one per query, app or micro-batch, plus
    * the one-off session and table-resolution calls. */
  val RootLayers = Set("query", "app", "stream", "Engine", "Tables")

  /** Spans from the listeners, and the sink's, are recorded without a
    * parent: each is attached to the innermost other span that contains
    * its start, of the same key when it has one (an app's job group, a
    * micro-batch), of any key when it has none. */
  def attachParents(all: Seq[Span]): Seq[Span] = {
    val hosts = all.filter(s => s.layer != "scheduler" && s.layer != "catalyst" && s.layer != "tasks")
    all.map { s =>
      if (s.parent != 0 || RootLayers(s.layer)) s
      else {
        val host = hosts.filter(b => b.id != s.id && (s.key.isEmpty || b.key == s.key) &&
          b.startMs <= s.startMs && s.startMs < b.endMs && b.durMs >= s.durMs)
        if (host.isEmpty) s else s.copy(parent = host.minBy(_.durMs).id)
      }
    }
  }

  /** Milliseconds of `s` covered by the union of its children. */
  def covered(s: Span, kids: Seq[Span]): Double = {
    var total = 0.0
    var reach = s.startMs
    kids.map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Traced against untraced timing of the same operations, in percent:
    * the median over operation names of (traced mean / untraced mean - 1). */
  def overheadPct(ctx: Ctx): Double = {
    val ratios = ctx.overheadSamples.groupBy(_._1).values.flatMap { xs =>
      val on = xs.filter(_._2).map(_._3)
      val off = xs.filterNot(_._2).map(_._3)
      if (on.isEmpty || off.isEmpty) None else Some(Stats.mean(on.toSeq) / Stats.mean(off.toSeq) - 1)
    }.toSeq
    100 * Stats.median(ratios)
  }
}
