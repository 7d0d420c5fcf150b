package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftQuery, SparkEntry, Tables}

/** `batch_sf0.1`: after a cold pass that warms the session, one client runs
  * the headline registry entries back to back on the sf0.1 tables, each
  * result forced through the noop sink, so one query is in flight at a
  * time. Traced runs first add the loaded leg ([[Ops]]): the same entries
  * from four concurrent REST clients. Returns the time the first timed
  * query started. */
object Batch {
  /** Whole passes over the entries, however long they take, so a faster
    * engine gets no extra samples: one untraced, which is what the run
    * budget allows; two traced, so that each entry is timed once with the
    * listeners attached and once without. */
  def passes(traced: Boolean): Int = if (traced) 2 else 1

  def entries: Seq[GraftQuery] = SparkEntry.registry.filter(_.headline)

  /** Every entry once, one thread per core, each result written as parquet
    * beside its oracle SQL for the DuckDB check. In a fresh session this
    * pass is mostly JIT and code generation. Returns each entry's time. */
  def coldPass(ctx: Ctx): Seq[(String, Double)] = {
    import ctx._
    val dir = s"$dataDir/sf0.1"
    new java.io.File(s"$outDir/check").mkdirs()
    Main.write(s"$outDir/check/oracle_sql.json",
      Main.json(entries.flatMap(q => q.oracle.map(q.name -> _)).toMap))
    val pending = new java.util.concurrent.ConcurrentLinkedQueue[GraftQuery](rng.shuffle(entries).asJava)
    val times = mutable.ArrayBuffer.empty[(String, Double)]
    val workers = (1 to slots).map { i =>
      new Thread(() => {
        var q = pending.poll()
        while (q != null) {
          val start = Clock.ms()
          try {
            q.run(spark, dir).write.mode("overwrite").parquet(s"$outDir/check/${q.name}")
            val ms = Clock.ms() - start
            times.synchronized { times += q.name -> ms }
          } catch { case e: Throwable => ctx.synchronized(fail(s"${q.name}: ${e.toString.take(300)}")) }
          q = pending.poll()
        }
      }, s"perfbench-cold-$i")
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    times.toSeq
  }

  /** `batch_sf0.1_cold`: the first pass of a fresh session, one entry per
    * core in flight, timed. Traced runs then add the event-time window
    * stream ([[Stream]]), traced; the cold pass itself runs untraced.
    * Returns the time the pass started. */
  def runCold(ctx: Ctx): Double = {
    import ctx._
    val t0 = Clock.ms()
    val cpu0 = Cpu.ms()
    val times = coldPass(ctx)
    val wallMs = Clock.ms() - t0
    out("query_cpu_ms") = (Cpu.ms() - cpu0) / math.max(1, times.size)
    attempted += entries.size
    val ms = times.map(_._2)
    // the pass's wall time per query: with several entries in flight, the
    // mean of their own times depends on which of them overlap
    out("query_ms_mean") = wallMs / times.size
    out("queries_per_s") = times.size / (wallMs / 1000)
    out("query_ms_p50") = Stats.pct(ms, 50)
    out("query_ms_p90") = Stats.pct(ms, 90)
    out("query_samples") = ms.size
    out("batch_pass_s") = wallMs / 1000
    out("passes") = 1
    out("query_ms_by_name") = times.toMap
    if (tracer.enabled) Stream.run(ctx)
    t0
  }

  def run(ctx: Ctx): Double = {
    import ctx._
    val dir = s"$dataDir/sf0.1"
    val qs = entries
    val warmStart = Clock.ms()
    coldPass(ctx)
    out("warmup_s") = (Clock.ms() - warmStart) / 1000
    if (tracer.enabled) Ops.run(ctx)
    val t0 = Clock.ms()
    val queryMs = mutable.ArrayBuffer.empty[Double]
    val passS = mutable.ArrayBuffer.empty[Double]
    val byName = mutable.LinkedHashMap.empty[String, Vector[Double]]
    var cpuMs = 0.0
    for (pass <- 0 until passes(tracer.enabled)) {
      var passMs = 0.0
      rng.shuffle(qs).zipWithIndex.foreach { case (q, i) =>
        // traced runs alternate listeners on and off per query, so every
        // entry is timed both ways and the difference is the overhead
        val traced = tracer.enabled && (pass + i) % 2 == 0
        if (traced) tracer.attach(spark)
        val key = s"p$pass:${q.name}"
        val start = Clock.ms()
        val cpu0 = Cpu.ms()
        val ok = tracer.span("query", "query", key) { root =>
          try {
            val df = tracer.span("operators", "GraftQuery.run", key, root)(_ => q.run(spark, dir))
            tracer.span("sink", "noop.save", key, root) { _ =>
              df.write.format("noop").mode("overwrite").save()
            }
            true
          } catch { case e: Throwable => fail(s"${q.name}: ${e.toString.take(300)}"); false }
        }
        val ms = Clock.ms() - start
        val cpu = Cpu.ms() - cpu0
        attempted += 1
        if (ok) {
          queryMs += ms
          byName(q.name) = byName.getOrElse(q.name, Vector.empty) :+ ms
          cpuMs += cpu
        }
        passMs += ms
        overheadSamples += ((q.name, traced, ms))
        if (traced) { tracedOps += 1; tracedWallMs += ms; drainAndDetach(ctx) }
      }
      passS += passMs / 1000
    }
    if (tracer.enabled) {
      // the benchmark's own timing of table resolution, outside the passes
      tracer.attach(spark)
      val ms = Tables.names.map { n =>
        val s = Clock.ms()
        tracer.span("Tables", "Tables.t", n)(_ => Tables.t(spark, dir, n).schema)
        Clock.ms() - s
      }
      drainAndDetach(ctx)
      out("Tables.t_ms") = Stats.mean(ms)
    }
    out("query_ms_mean") = Stats.mean(queryMs.toSeq)
    out("queries_per_s") = queryMs.size / (queryMs.sum / 1000)
    out("query_cpu_ms") = cpuMs / math.max(1, queryMs.size)
    out("query_ms_p50") = Stats.pct(queryMs.toSeq, 50)
    out("query_ms_p90") = Stats.pct(queryMs.toSeq, 90)
    out("query_samples") = queryMs.size
    out("batch_pass_s") = Stats.median(passS.toSeq)
    out("passes") = passS.size
    out("query_ms_by_name") = byName.toMap
    t0
  }

  /** Gives the asynchronous listener bus a moment to deliver the events of
    * the operation that just ended before the listeners come off. */
  def drainAndDetach(ctx: Ctx): Unit = { Thread.sleep(150); ctx.tracer.detach() }
}
