package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ops.{AppRegistry, OpsServer}

/** The loaded leg of traced `batch_sf0.1` runs, before the serial passes:
  * four closed-loop clients (one per core) submit the headline registry
  * entries on the sf0.01 tables over the ops server's REST surface and poll
  * each app until it ends. All apps share the one SparkSession, so driver
  * contention shows here. Its figures are per-layer ones (`ops`): too noisy
  * on a 4-core machine to gate a change. */
object Ops {
  val Clients = 4
  val PollMs = 5L
  /** The timed apps: every entry this many times, in a seeded order,
    * however long they take, so a faster engine gets no extra samples. */
  val Rounds = 1

  final case class App(id: String, sentMs: Double, submitMs: Double,
      finishedMs: Double, status: String, polls: Int, traced: Boolean)

  def run(ctx: Ctx): Unit = {
    import ctx._
    val registry = new AppRegistry(spark)
    val server = new OpsServer(spark, registry).start()
    val base = s"http://127.0.0.1:${server.boundPort}/api/v1.0"
    val http = HttpClient.newHttpClient()
    val sf = s"$dataDir/sf0.01"
    val names = Batch.entries.map(_.name)
    @volatile var traced = false

    def submitAndWait(name: String): App = {
      val sent = Clock.ms()
      val post = HttpRequest.newBuilder(URI.create(s"$base/master/submitapp?name=$name&sf=$sf"))
        .POST(HttpRequest.BodyPublishers.noBody()).build()
      val body = http.send(post, HttpResponse.BodyHandlers.ofString()).body()
      val submitted = Clock.ms()
      val id = "\"appId\":\"([^\"]+)\"".r.findFirstMatchIn(body).map(_.group(1))
        .getOrElse(sys.error(s"submitapp $name: $body"))
      val get = HttpRequest.newBuilder(URI.create(s"$base/appmaster/$id")).GET().build()
      var polls = 0
      var detail = ""
      var status = "running"
      while (status == "running") {
        Thread.sleep(PollMs)
        detail = http.send(get, HttpResponse.BodyHandlers.ofString()).body()
        polls += 1
        status = "\"status\":\"([a-z]+)\"".r.findFirstMatchIn(detail).map(_.group(1)).getOrElse("?")
      }
      val finished = "\"finishedAtMs\":([0-9]+)".r.findFirstMatchIn(detail)
        .map(_.group(1).toDouble).getOrElse(Clock.ms())
      App(id, sent, submitted - sent, finished, status, polls, traced)
    }

    /** Each client sends the next app of `work` as soon as its previous one
      * has ended, until none is left. Every app must reach `finished`. */
    def clients(work: Seq[String]): Seq[(String, App)] = {
      val pending = new ConcurrentLinkedQueue[String](work.asJava)
      val done = mutable.ArrayBuffer.empty[(String, App)]
      val threads = (0 until Clients).map { c =>
        new Thread(() => {
          var n = pending.poll()
          while (n != null) {
            val a = submitAndWait(n)
            done.synchronized { done += n -> a }
            n = pending.poll()
          }
        }, s"perfbench-client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      attempted += done.size
      done.filterNot(_._2.status == "finished").foreach { case (n, a) =>
        fail(s"$n: app ${a.id} ended ${a.status}")
      }
      done.toSeq
    }

    // warm-up of the REST path: one app per client
    clients(rng.shuffle(names).take(Clients))
    val t0 = Clock.ms()
    @volatile var running = true
    val toggler = if (!tracer.enabled) None else Some(new Thread(() => {
      // traced runs alternate the listeners in slices, to read the overhead
      var on = false
      while (running) {
        on = !on
        if (on) tracer.attach(spark) else { Thread.sleep(150); tracer.detach() }
        traced = on
        Thread.sleep(Tracer.SliceMs)
      }
      tracer.detach()
    }, "perfbench-trace-toggle"))
    toggler.foreach(_.start())
    val apps = clients(rng.shuffle(Seq.fill(Rounds)(names).flatten))
    running = false
    toggler.foreach(_.join())
    server.stop()

    val ok = apps.filter(_._2.status == "finished")
    val lat = ok.map { case (_, a) => a.finishedMs - a.sentMs }
    val end = apps.map(_._2.finishedMs).max
    out("app_ms_mean") = Stats.mean(lat)
    out("app_ms_p50") = Stats.pct(lat, 50)
    out("app_ms_p90") = Stats.pct(lat, 90)
    out("app_samples") = lat.size
    out("apps_per_s") = ok.size / ((end - t0) / 1000)
    out("app_ms_by_name") = ok.groupBy(_._1).map { case (n, as) =>
      n -> as.map { case (_, a) => a.finishedMs - a.sentMs } }
    ok.foreach { case (n, a) => overheadSamples += ((n, a.traced, a.finishedMs - a.sentMs)) }
    if (tracer.enabled) {
      val tr = apps.map(_._2).filter(_.traced)
      tracedOps += tr.size
      tracedWallMs += (end - t0) / 2
      tr.foreach { a =>
        val root = tracer.add(Span(tracer.newId(), 0L, "app", "app", a.id, a.sentMs, a.finishedMs))
        tracer.add(Span(tracer.newId(), root, "ops", "submitapp", a.id, a.sentMs, a.sentMs + a.submitMs))
      }
      val jobsByApp = tracer.spark.jobList.groupBy(_.group)
      out("ops.apps_per_s") = out("apps_per_s")
      out("ops.app_ms_p50") = out("app_ms_p50")
      out("ops.submit_ms") = Stats.mean(tr.map(_.submitMs))
      out("ops.queue_ms") = Stats.mean(tr.flatMap(a =>
        jobsByApp.get(a.id).map(js => js.map(_.start).min - a.sentMs)))
      out("ops.poll_count") = Stats.mean(tr.map(_.polls.toDouble))
      // time-averaged number of apps in flight over the timed window
      out("ops.inflight") = apps.map(a => a._2.finishedMs - a._2.sentMs).sum / (end - t0)
    }
  }
}
