package graft.ops

import java.nio.file.Files
import graft.SparkTestBase
import graft.streaming.GraftSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.jackson.JsonMethods.compact

object RedeployCollector {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
}

class OpsSpec extends SparkTestBase {

  /** One HTTP round-trip against an OpsServer port — the single transport
    * helper every test delegates to (each binds it to its own server). */
  private def httpOn(port: Int, method: String, path: String,
      body: String = null, headers: Map[String, String] = Map.empty): (Int, String) = {
    val conn = new java.net.URI(s"http://127.0.0.1:$port$path")
      .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod(method)
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    if (body != null) {
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally os.close()
    }
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    // a bodyless error (e.g. the JDK authenticator's bare 401) has no stream
    val out = if (is == null) "" else
      try new String(is.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally is.close()
    (code, out)
  }

  test("applist/appDetail/metrics mirror the REST nouns for a live query") {
    import spark.implicits._
    val reg = new AppRegistry(spark)
    val in = GraftSource.memory[Int](spark)
    val q = in.toDS().writeStream.format("noop").queryName("ops_demo").start()
    try {
      in.addData(1 to 50: _*)
      q.processAllAvailable()
      assert(compact(reg.applist).contains("ops_demo"))
      val detail = reg.appDetail(q.id)
      assert(detail.isDefined && compact(detail.get).contains("\"lastProgress\""))
      // progress events arrive on the async listener bus — bounded wait,
      // the same discipline as every other listener-dependent test here
      val deadline = System.currentTimeMillis() + 15000
      while (reg.metrics.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(reg.metrics.nonEmpty)
      assert(reg.stalling(thresholdMs = 60000).isEmpty)
      // a 0ms threshold marks everything that has progressed as stalling
      assert(reg.stalling(thresholdMs = -1).nonEmpty)
    } finally { q.stop(); reg.close() }
  }

  test("observe() metrics surface in the registry — user counters like the reference's task meters") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val reg = new AppRegistry(spark)
    val in = GraftSource.memory[Int](spark)
    val q = in.toDS().toDF("v")
      .observe("quality", count(lit(1)).as("rows"), sum(when($"v" % 2 === 0, 1).otherwise(0)).as("evens"))
      .writeStream.format("noop").queryName("ops_observe").start()
    try {
      in.addData(1 to 10: _*)
      q.processAllAvailable()
      // progress events arrive on the async listener bus; wait bounded
      val deadline = System.currentTimeMillis() + 15000
      def find() = reg.metrics.values.find(_.observed.contains("quality"))
      while (find().isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      val m = find()
      assert(m.isDefined, s"observed metrics missing: ${reg.metrics}")
      val json = compact(m.get.observed("quality"))
      assert(json.contains("\"rows\":10") && json.contains("\"evens\":5"), json)
      // and the REST metrics JSON embeds them
      assert(compact(reg.fmt(m.get)).contains("\"observedMetrics\":{\"quality\""))
    } finally { q.stop(); reg.close() }
  }

  test("latency histogram tracks batch-duration percentiles per query") {
    import spark.implicits._
    val reg = new AppRegistry(spark)
    val in = GraftSource.memory[Int](spark)
    val q = in.toDS().writeStream.format("noop").queryName("ops_latency").start()
    try {
      for (b <- 1 to 5) { in.addData(b); q.processAllAvailable() }
      // progress events arrive on the async listener bus; wait bounded
      val deadline = System.currentTimeMillis() + 15000
      def ready() = reg.latency(q.id).exists(_.count >= 5)
      while (!ready() && System.currentTimeMillis() < deadline) Thread.sleep(100)
      val h = reg.latency(q.id)
      assert(h.isDefined, "histogram after progress events")
      val hist = h.get
      assert(hist.count >= 5)
      assert(hist.p50Ms <= hist.p95Ms && hist.p95Ms <= hist.p99Ms && hist.p99Ms <= hist.maxMs)
      assert(hist.meanMs >= 0.0 && hist.maxMs >= 0L)
      // appDetail embeds the histogram for the dashboard
      assert(compact(reg.appDetail(q.id).get).contains("\"latency\":{\"count\""))
    } finally { q.stop(); reg.close() }
  }

  test("OpsServer serves the REST nouns over HTTP and DELETE kills the query") {
    import spark.implicits._
    val reg = new AppRegistry(spark)
    val srv = new OpsServer(spark, reg).start()
    val in = GraftSource.memory[Int](spark)
    val q = in.toDS().writeStream.format("noop").queryName("ops_http").start()

    def get(path: String): (Int, String) = httpOn(srv.boundPort, "GET", path)
    try {
      in.addData(1 to 20: _*)
      q.processAllAvailable()
      // the REST nouns read listener state, which fills on the async bus
      val deadline = System.currentTimeMillis() + 15000
      while (reg.latency(q.id).isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)

      val (mc, master) = get("/api/v1.0/master")
      assert(mc === 200 && master.contains("\"activeQueries\":") &&
        master.contains(spark.version))
      val (lc, list) = get("/api/v1.0/master/applist")
      assert(lc === 200 && list.contains("ops_http"))
      val (cc, conf) = get("/api/v1.0/master/config")
      assert(cc === 200 && conf.contains("spark.sql.shuffle.partitions"))
      val (dc, detail) = get(s"/api/v1.0/appmaster/${q.id}")
      assert(dc === 200 && detail.contains("\"lastProgress\"") && detail.contains("\"latency\""))
      val (xc, met) = get(s"/api/v1.0/appmaster/${q.id}/metrics")
      assert(xc === 200 && met.contains("\"batchId\""))
      assert(met.contains("\"durationMs\":{"), s"per-phase breakdown in $met")
      val (sc, stall) = get(s"/api/v1.0/appmaster/${q.id}/stallingtasks?threshold=60000")
      assert(sc === 200 && stall.contains("\"stalling\":false"))
      val (s2, stall2) = get(s"/api/v1.0/appmaster/${q.id}/stallingtasks?threshold=-1")
      assert(s2 === 200 && stall2.contains("\"stalling\":true"))
      assert(get("/api/v1.0/nope")._1 === 404)
      assert(get(s"/api/v1.0/appmaster/not-a-uuid")._1 === 400)
      assert(get(s"/api/v1.0/appmaster/${java.util.UUID.randomUUID()}")._1 === 404)

      // app-scoped executor noun (reference AppMasterService executor/<eid>)
      val (ec, exec) = get(s"/api/v1.0/appmaster/${q.id}/executor/0")
      assert(ec === 200 && exec.contains(s""""appId":"${q.id}"""") &&
        exec.contains("\"numRunningTasks\""), exec)
      val (ecc, execConf) = get(s"/api/v1.0/appmaster/${q.id}/executor/0/config")
      assert(ecc === 200 && execConf.contains("\"executorId\":0") &&
        execConf.contains("\"config\""), execConf)
      // 404 arms: unknown executor on a live app; live executor on an
      // unknown app
      assert(get(s"/api/v1.0/appmaster/${q.id}/executor/999")._1 === 404)
      assert(get(
        s"/api/v1.0/appmaster/${java.util.UUID.randomUUID()}/executor/0")._1 === 404)

      // DELETE = the reference's kill-app
      val del = new java.net.URI(s"http://127.0.0.1:${srv.boundPort}/api/v1.0/appmaster/${q.id}")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      del.setRequestMethod("DELETE")
      assert(del.getResponseCode === 200)
      del.getInputStream.close()
      q.awaitTermination(30000)
      assert(!q.isActive)
    } finally { if (q.isActive) q.stop(); srv.stop(); reg.close() }
  }

  test("redeploy: stop -> new plan -> restart from same checkpoint, exactly once") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-redeploy-in").toString
    val ckDir = Files.createTempDirectory("graft-redeploy-ck").toString
    RedeployCollector.seen.clear()

    def addFile(from: Long, until: Long): Unit = {
      val tmp = Files.createTempDirectory("graft-stage").toString
      spark.range(from, until).toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, java.nio.file.Paths.get(inDir, s"batch-$from.parquet"))
      ()
    }
    def writer(mult: Long) = {
      val stream = spark.readStream
        .schema(spark.range(1).toDF("id").schema).parquet(inDir)
      stream.select(($"id" * mult).as("id")).writeStream
        .option("checkpointLocation", ckDir)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.as[Long].collect().foreach(RedeployCollector.seen.add); ()
        }
    }

    addFile(1, 4)
    val q1 = writer(1).start()
    q1.processAllAvailable()
    // "dynamicdag": replace the x1 stage with an x10 stage, same checkpoint.
    // The new file lands while the old plan is down: added while q1 still
    // ran, q1's next trigger could take it before the stop.
    q1.stop()
    addFile(4, 7)
    val q2 = Redeploy.replace(q1, () => writer(10))
    q2.processAllAvailable(); q2.stop()

    import scala.jdk.CollectionConverters._
    // old plan saw 1,2,3; new plan sees only the unprocessed 4,5,6 (x10) —
    // no loss, no reprocessing of the old offsets
    assert(RedeployCollector.seen.asScala.toSeq.sorted === Seq(1L, 2L, 3L, 40L, 50L, 60L))
  }

  test("submitapp over HTTP: submit -> applist -> detail -> kill (reference MasterService parity)") {
    val reg = new AppRegistry(spark)
    // tiny catalog: a fast query and a slow one (per-row sleep) so the kill
    // lands while jobs are genuinely running
    val slowify = org.apache.spark.sql.functions.udf { (v: Long) => Thread.sleep(50); v }
    val catalog: Map[String, (SparkSession, String) => DataFrame] = Map(
      "fast_count" -> ((s, dir) => graft.Tables.t(s, dir, "nation").groupBy().count()),
      "slow_scan" -> ((s, _) => s.range(2000).repartition(4)
        .select(slowify(org.apache.spark.sql.functions.col("id")).as("id"))))
    val srv = new OpsServer(spark, reg, catalog = catalog).start()

    def http(method: String, path: String): (Int, String) = httpOn(srv.boundPort, method, path)
    def appId(body: String): String =
      "\"appId\":\"([0-9a-f-]+)\"".r.findFirstMatchIn(body).get.group(1)
    try {
      // happy path: submit a fast query, it appears in applist and finishes
      val (c1, b1) = http("POST", "/api/v1.0/master/submitapp?name=fast_count&sf=/root/testdata/sf0.001")
      assert(c1 === 200 && b1.contains("\"appId\""), b1)
      val id1 = appId(b1)
      assert(http("GET", "/api/v1.0/master/applist")._2.contains(id1))
      val deadline = System.currentTimeMillis() + 30000
      def status(id: String): String = {
        val (_, d) = http("GET", s"/api/v1.0/appmaster/$id")
        "\"status\":\"(\\w+)\"".r.findFirstMatchIn(d).map(_.group(1)).getOrElse("?")
      }
      while (status(id1) == "running" && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(status(id1) === "finished", http("GET", s"/api/v1.0/appmaster/$id1")._2)

      // kill path: submit the slow query, kill it mid-run via DELETE
      val (c2, b2) = http("POST", "/api/v1.0/master/submitapp?name=slow_scan&sf=unused")
      assert(c2 === 200)
      val id2 = appId(b2)
      Thread.sleep(1000) // let its first job start
      assert(status(id2) === "running", "slow app should still be running")
      assert(http("DELETE", s"/api/v1.0/appmaster/$id2")._1 === 200)
      while (status(id2) == "running" && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(status(id2) === "killed", http("GET", s"/api/v1.0/appmaster/$id2")._2)

      // restart (reference AppMasterService restart parity): same query,
      // same data dir, NEW app id; the old terminal record stays visible
      val (rc, rb) = http("POST", s"/api/v1.0/appmaster/$id1/restart")
      assert(rc === 200, rb)
      val id3 = appId(rb)
      assert(id3 !== id1)
      while (status(id3) == "running" && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(status(id3) === "finished")
      assert(status(id1) === "finished", "original record preserved")
      assert(http("POST", s"/api/v1.0/appmaster/${java.util.UUID.randomUUID()}/restart")._1 === 404)

      // error paths: unknown name, missing params
      assert(http("POST", "/api/v1.0/master/submitapp?name=nope&sf=x")._1 === 404)
      assert(http("POST", "/api/v1.0/master/submitapp")._1 === 400)
    } finally { srv.stop(); reg.close() }
  }

  test("applist lists submitted batch apps in submission order") {
    val reg = new AppRegistry(spark)
    // ids are random UUIDs, so a hash-ordered listing shuffles them
    val names = (1 to 6).map(i => s"ordered_$i")
    val ids = names.map(n => reg.submit(n, (s, _) => s.range(1).toDF(), "unused"))
    val deadline = System.currentTimeMillis() + 60000
    while (reg.submitted.exists(_.status == "running") && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    import org.json4s._
    val batches = (reg.applist \ "name").children.collect { case JString(n) if n.startsWith("ordered_") => n }
    assert(batches == names, s"applist order: $batches")
    assert(reg.submitted.map(_.id) == ids)
  }

  test("per-app config + dynamicdag plan replacement (AppMasterService parity)") {
    val reg = new AppRegistry(spark)
    val catalog: Map[String, (SparkSession, String) => DataFrame] = Map(
      "count_nation" -> ((s, dir) => graft.Tables.t(s, dir, "nation").groupBy().count()),
      "count_region" -> ((s, dir) => graft.Tables.t(s, dir, "region").groupBy().count()))
    val srv = new OpsServer(spark, reg, catalog = catalog).start()
    def http(method: String, path: String): (Int, String) = httpOn(srv.boundPort, method, path)
    def appId(body: String): String =
      "\"appId\":\"([0-9a-f-]+)\"".r.findFirstMatchIn(body).get.group(1)
    def status(id: String): String = {
      val (_, d) = http("GET", s"/api/v1.0/appmaster/$id")
      "\"status\":\"(\\w+)\"".r.findFirstMatchIn(d).map(_.group(1)).getOrElse("?")
    }
    try {
      val sf = "/root/testdata/sf0.001"
      val (c1, b1) = http("POST", s"/api/v1.0/master/submitapp?name=count_nation&sf=$sf")
      assert(c1 === 200, b1)
      val id1 = appId(b1)
      // config view: identity + data dir + the engine conf that shaped it
      val (cc, cb) = http("GET", s"/api/v1.0/appmaster/$id1/config")
      assert(cc === 200, cb)
      assert(cb.contains("\"count_nation\"") && cb.contains(sf)
        && cb.contains("spark.sql.shuffle.partitions"), cb)
      val deadline = System.currentTimeMillis() + 30000
      while (status(id1) == "running" && System.currentTimeMillis() < deadline) Thread.sleep(100)

      // dynamicdag: replace the plan by registry name — same data dir, new
      // app id, old record preserved (the reference's versioned-DAG analog)
      val (dc, db) = http("POST", s"/api/v1.0/appmaster/$id1/dynamicdag?name=count_region")
      assert(dc === 200, db)
      val id2 = appId(db)
      assert(id2 !== id1)
      while (status(id2) == "running" && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(status(id2) === "finished", http("GET", s"/api/v1.0/appmaster/$id2")._2)
      val (c2, b2) = http("GET", s"/api/v1.0/appmaster/$id2/config")
      assert(c2 === 200 && b2.contains("\"count_region\"") && b2.contains(sf), b2)
      assert(status(id1) === "finished", "original record preserved")

      // error paths: unknown id, unknown plan name, missing param
      assert(http("GET", s"/api/v1.0/appmaster/${java.util.UUID.randomUUID()}/config")._1 === 404)
      assert(http("POST", s"/api/v1.0/appmaster/$id1/dynamicdag?name=nope")._1 === 404)
      assert(http("POST", s"/api/v1.0/appmaster/$id1/dynamicdag")._1 === 400)
    } finally { srv.stop(); reg.close() }
  }

  test("master/metrics rollup equals the per-app sum (ProcessorAggregator parity)") {
    import spark.implicits._
    val reg = new AppRegistry(spark)
    val srv = new OpsServer(spark, reg, catalog = Map.empty).start()
    val in1 = GraftSource.memory[Int](spark)
    val in2 = GraftSource.memory[Int](spark)
    val q1 = in1.toDS().writeStream.format("noop").queryName("roll_a").start()
    val q2 = in2.toDS().writeStream.format("noop").queryName("roll_b").start()
    try {
      in1.addData(1 to 30: _*); q1.processAllAvailable()
      in2.addData(1 to 70: _*); q2.processAllAvailable()
      // listener bus is async; wait for both queries' progress to land
      val deadline = System.currentTimeMillis() + 15000
      while (reg.metrics.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(reg.metrics.size === 2)

      val perAppRows = reg.metrics.values.map(_.numInputRows).sum
      val perAppRates = reg.metrics.values.map(_.processedRowsPerSecond).sum
      val conn = new java.net.URI(s"http://127.0.0.1:${srv.boundPort}/api/v1.0/master/metrics")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val body = new String(conn.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      conn.getInputStream.close()
      assert(body.contains(s""""numInputRows":$perAppRows"""), body)
      assert(body.contains(f""""processedRowsPerSecond":$perAppRates%.3f"""), body)
      // merged histogram spans both queries' duration rings
      val aggCount = reg.aggregateLatency.get.count
      assert(aggCount === reg.latency(q1.id).get.count + reg.latency(q2.id).get.count)
      assert(body.contains(s""""latency":{"count":$aggCount"""), body)
    } finally { q1.stop(); q2.stop(); srv.stop(); reg.close() }
  }

  test("stateful queries surface state-operator rows/memory in metrics and the rollup") {
    import spark.implicits._
    val reg = new AppRegistry(spark)
    val in = GraftSource.memory[Int](spark)
    val q = in.toDS().toDF("v").groupBy("v").count()
      .writeStream.outputMode("update").format("noop").queryName("ops_state").start()
    try {
      in.addData(1, 1, 2, 3)
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 15000
      def stateOps() = reg.metrics.get(q.id.toString).map(_.stateOps).getOrElse(Seq.empty)
      while (stateOps().isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      val so = stateOps()
      assert(so.nonEmpty, "stateful aggregation should report a state operator")
      assert(so.head.rowsTotal === 3L, so) // keys 1, 2, 3 held in state
      assert(so.head.memoryUsedBytes > 0L)
      val m = reg.metrics(q.id.toString)
      assert(compact(reg.fmt(m)).contains("\"stateOperators\":[{\"name\""), compact(reg.fmt(m)))
      assert(compact(reg.rollupJson).contains("\"stateRowsTotal\":3"), compact(reg.rollupJson))
    } finally { q.stop(); reg.close() }
  }

  /** The observed metrics `GET appmaster/<id>/metrics` serves for a
    * stream that observes `exprs` as `name`, once its first batch has
    * reported them. */
  private def observedOverHttp(name: String, exprs: org.apache.spark.sql.Column*): org.json4s.JValue = {
    import spark.implicits._
    val reg = new AppRegistry(spark)
    val srv = new OpsServer(spark, reg, catalog = Map.empty).start()
    val in = GraftSource.memory[Int](spark)
    val q = in.toDS().toDF("v").observe(name, exprs.head, exprs.tail: _*)
      .writeStream.format("noop").queryName(s"ops_$name").start()
    try {
      in.addData(1, 2, 3); q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 15000
      def observed() = {
        val (code, body) = httpOn(srv.boundPort, "GET", s"/api/v1.0/appmaster/${q.id}/metrics")
        assert(code === 200, body)
        // strict parse: a bare NaN or a stray token fails here
        org.json4s.jackson.JsonMethods.parse(body) \ "lastProgress" \ "observedMetrics" \ name
      }
      while (observed() == org.json4s.JNothing && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      observed()
    } finally { q.stop(); srv.stop(); reg.close() }
  }

  test("observed-metrics JSON stays valid when observe() yields non-finite doubles") {
    // avg() over zero rows is null; a string value "NaN" is data, not a
    // number, and must reach the client as that string
    import org.apache.spark.sql.functions._
    val m = observedOverHttp("sparse",
      avg(when(col("v") < 0, col("v"))).as("avg"), max(lit("NaN")).as("tag"))
    assert((m \ "avg") === org.json4s.JNull, m)
    assert((m \ "tag") === org.json4s.JString("NaN"), m)
  }

  test("non-finite observe() doubles serve as JSON null") {
    import org.apache.spark.sql.functions._
    val m = observedOverHttp("edges", avg(lit(Double.NaN)).as("nan"),
      max(lit(Double.PositiveInfinity)).as("hi"), min(lit(Double.NegativeInfinity)).as("lo"),
      count(lit(1)).as("n"))
    for (k <- Seq("nan", "hi", "lo")) assert((m \ k) === org.json4s.JNull, s"$k in $m")
    assert((m \ "n") === org.json4s.JInt(3), m)
  }

  test("master/metrics and /metrics write numbers the same under a German default locale") {
    import spark.implicits._
    val reg = new AppRegistry(spark)
    val srv = new OpsServer(spark, reg, catalog = Map.empty).start()
    val in = GraftSource.memory[Int](spark)
    val q = in.toDS().writeStream.format("noop").queryName("ops_locale").start()
    val prev = (java.util.Locale.getDefault,
      java.util.Locale.getDefault(java.util.Locale.Category.FORMAT))
    try {
      in.addData(1 to 50: _*); q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 15000
      while (reg.latency(q.id).isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val (jc, json) = httpOn(srv.boundPort, "GET", "/api/v1.0/master/metrics")
      assert(jc === 200, json)
      val rollup = org.json4s.jackson.JsonMethods.parse(json)
      assert((rollup \ "processedRowsPerSecond").isInstanceOf[org.json4s.JDouble], json)
      val (pc, text) = httpOn(srv.boundPort, "GET", "/metrics")
      assert(pc === 200, text)
      val samples = text.linesIterator.filterNot(l => l.isEmpty || l.startsWith("#")).toSeq
      assert(samples.exists(_.startsWith("graft_processed_rows_per_second ")), text)
      for (s <- samples) s.substring(s.lastIndexOf(' ') + 1).toDouble
    } finally {
      java.util.Locale.setDefault(prev._1)
      java.util.Locale.setDefault(java.util.Locale.Category.FORMAT, prev._2)
      q.stop(); srv.stop(); reg.close()
    }
  }

  test("workerlist + per-app errors endpoints (MasterService/AppMasterService parity)") {
    import spark.implicits._
    val reg = new AppRegistry(spark)
    val catalog: Map[String, (SparkSession, String) => DataFrame] = Map(
      "boom" -> ((s, _) => s.read.parquet("/nonexistent/graft_errors_spec")))
    val srv = new OpsServer(spark, reg, catalog = catalog).start()

    def http(method: String, path: String): (Int, String) = httpOn(srv.boundPort, method, path)
    try {
      // workerlist: local[n] reports the single driver-executor with its
      // storage-memory capacity; the shape is the fleet view on a cluster
      val (wc, wb) = http("GET", "/api/v1.0/master/workerlist")
      assert(wc === 200, wb)
      assert(wb.contains("\"defaultParallelism\":"), wb)
      assert(wb.contains("\"host\":"), wb)
      assert("\"totalOnHeapStorageMemory\":([0-9]+)".r.findFirstMatchIn(wb)
        .exists(_.group(1).toLong > 0L), wb)
      org.json4s.jackson.JsonMethods.parse(wb)

      // errors on a healthy active stream: empty list, kind=stream
      val in = GraftSource.memory[Int](spark)
      val q = in.toDS().writeStream.format("noop").queryName("errs_ok").start()
      try {
        in.addData(1, 2, 3); q.processAllAvailable()
        val (ec, eb) = http("GET", s"/api/v1.0/appmaster/${q.id}/errors")
        assert(ec === 200 && eb.contains("\"kind\":\"stream\"") && eb.contains("\"errors\":[]"), eb)
      } finally q.stop()

      // errors on a FAILED stream: the query leaves spark.streams.active at
      // termination, so the endpoint must serve the listener's capture
      val inBad = GraftSource.memory[Int](spark)
      val qBad = inBad.toDS().writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Int], _: Long) =>
          if (df.count() > 0) throw new RuntimeException("graft_spec_boom")
        }.queryName("errs_fail").start()
      inBad.addData(7)
      intercept[Exception] { qBad.awaitTermination(30000) }
      val failDeadline = System.currentTimeMillis() + 15000
      def failBody(): String = http("GET", s"/api/v1.0/appmaster/${qBad.id}/errors")._2
      while (!failBody().contains("graft_spec_boom") && System.currentTimeMillis() < failDeadline)
        Thread.sleep(100)
      val fb = failBody()
      assert(fb.contains("\"kind\":\"stream\"") && fb.contains("\"status\":\"failed\"")
        && fb.contains("graft_spec_boom"), fb)
      org.json4s.jackson.JsonMethods.parse(fb)

      // errors on a failed submitted app: the captured exception is served
      val (sc, sb) = http("POST", "/api/v1.0/master/submitapp?name=boom&sf=unused")
      assert(sc === 200, sb)
      val id = "\"appId\":\"([0-9a-f-]+)\"".r.findFirstMatchIn(sb).get.group(1)
      val deadline = System.currentTimeMillis() + 30000
      def body(): String = http("GET", s"/api/v1.0/appmaster/$id/errors")._2
      while (!body().contains("\"status\":\"failed\"") && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val eb2 = body()
      assert(eb2.contains("\"kind\":\"batch\"") && eb2.contains("PATH_NOT_FOUND"), eb2)
      org.json4s.jackson.JsonMethods.parse(eb2)

      // unknown id → 404
      assert(http("GET", s"/api/v1.0/appmaster/${java.util.UUID.randomUUID()}/errors")._1 === 404)

      // the dashboard page serves and targets these same endpoints —
      // including per-app terminal errors rendered as a red row state
      val (dc, db) = http("GET", "/dashboard")
      assert(dc === 200 && db.contains("<title>graft ops</title>")
        && db.contains("master/workerlist"), db.take(200))
      assert(db.contains("/errors"),
        "dashboard must poll the appmaster/<id>/errors endpoint")
      assert(db.contains("class=\"bad\"") && db.contains("tr.bad"),
        "dashboard must render erroring apps as a red row state")
    } finally { srv.stop(); reg.close() }
  }

  test("submitdag: declarative JSON plan launches via the submit path (MasterService submitdag parity)") {
    val reg = new AppRegistry(spark)
    val srv = new OpsServer(spark, reg, catalog = Map.empty).start()

    def post(path: String, body: String): (Int, String) = httpOn(srv.boundPort, "POST", path, body)
    def get(path: String): String = httpOn(srv.boundPort, "GET", path)._2
    try {
      val dag = """{"table":"nation","sf":"/root/testdata/sf0.001",
                   |"where":"n_regionkey >= 0",
                   |"groupBy":["n_regionkey"],
                   |"aggs":{"n":"count(1)","names":"count(distinct n_name)"}}""".stripMargin
      val (c, b) = post("/api/v1.0/master/submitdag", dag)
      assert(c === 200, b)
      val id = "\"appId\":\"([0-9a-f-]+)\"".r.findFirstMatchIn(b).get.group(1)
      val deadline = System.currentTimeMillis() + 30000
      def status(): String =
        "\"status\":\"(\\w+)\"".r.findFirstMatchIn(get(s"/api/v1.0/appmaster/$id"))
          .map(_.group(1)).getOrElse("?")
      while (status() == "running" && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(status() === "finished", get(s"/api/v1.0/appmaster/$id"))
      assert(get("/api/v1.0/master/applist").contains("dag:nation"))

      // global aggregation: aggs with NO groupBy must aggregate the whole
      // table, not silently scan it raw
      val (gc, gb) = post("/api/v1.0/master/submitdag",
        """{"table":"nation","sf":"/root/testdata/sf0.001","aggs":{"n":"count(1)"}}""")
      assert(gc === 200, gb)
      val gid = "\"appId\":\"([0-9a-f-]+)\"".r.findFirstMatchIn(gb).get.group(1)
      def gstatus(): String =
        "\"status\":\"(\\w+)\"".r.findFirstMatchIn(get(s"/api/v1.0/appmaster/$gid"))
          .map(_.group(1)).getOrElse("?")
      while (gstatus() == "running" && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(gstatus() === "finished", get(s"/api/v1.0/appmaster/$gid"))

      // validation happens at submit time: unknown table, missing aggs,
      // and an analyzer error all come back as 400, never a failed app
      assert(post("/api/v1.0/master/submitdag", """{"table":"nope","sf":"x"}""")._1 === 400)
      assert(post("/api/v1.0/master/submitdag",
        """{"table":"nation","sf":"x","groupBy":["n_name"]}""")._1 === 400)
      val (ec, eb) = post("/api/v1.0/master/submitdag",
        """{"table":"nation","sf":"/root/testdata/sf0.001","where":"no_such_col > 1"}""")
      assert(ec === 400 && eb.contains("no_such_col"), eb)
      assert(post("/api/v1.0/master/submitdag", "not json at all")._1 === 400)
    } finally { srv.stop(); reg.close() }
  }

  test("version/partitioners/supervisor/terminate (Static/Master/Supervisor/Admin service parity)") {
    import spark.implicits._
    val reg = new AppRegistry(spark)
    val srv = new OpsServer(spark, reg, catalog = Map.empty).start()
    def http(method: String, path: String): (Int, String) = httpOn(srv.boundPort, method, path)
    try {
      // version (reference StaticService.scala:38)
      val (vc, vb) = http("GET", "/api/v1.0/version")
      assert(vc === 200 && vb.contains("\"version\":\"graft-")
        && vb.contains(s"\"sparkVersion\":\"${spark.version}\""), vb)
      org.json4s.jackson.JsonMethods.parse(vb)
      // classes-dir runs must serve the BUILD's version via the generated
      // graft-version.properties resource, never a drifting literal: the
      // resource exists on this (classes-dir) classpath and the endpoint
      // echoes exactly its value
      val res = classOf[OpsServer].getClassLoader
        .getResourceAsStream("graft-version.properties")
      assert(res != null, "build-generated graft-version.properties missing from classpath")
      val props = new java.util.Properties
      try props.load(res) finally res.close()
      val buildVersion = props.getProperty("version")
      assert(buildVersion != null && buildVersion.nonEmpty)
      assert(OpsServer.Version === buildVersion,
        s"version endpoint (${OpsServer.Version}) drifted from build ($buildVersion)")
      assert(vb.contains(s""""version":"graft-$buildVersion""""), vb)

      // partitioner inventory (reference MasterService.scala:168) — all five
      // reference builtins present, each with its Spark-native spelling
      val (pc, pb) = http("GET", "/api/v1.0/master/partitioners")
      assert(pc === 200, pb)
      for (p <- Seq("BroadcastPartitioner", "CoLocationPartitioner", "HashPartitioner",
          "ShuffleGroupingPartitioner", "ShufflePartitioner"))
        assert(pb.contains(s"\"name\":\"$p\""), pb)
      assert(pb.contains("repartition"), pb)
      org.json4s.jackson.JsonMethods.parse(pb)

      // supervisor identity + status (reference SupervisorService.scala:50-67):
      // local mode = no resource manager, so scaling is honestly disabled
      val (ic, ib) = http("GET", "/api/v1.0/supervisor")
      assert(ic === 200 && ib.contains("local"), ib)
      val (stc, stb) = http("POST", "/api/v1.0/supervisor/status")
      assert(stc === 200 && stb === """{"enabled":false}""", stb)

      // addworker/removeworker (reference SupervisorService.scala:70-82):
      // the local backend cannot scale → CommandResult(success=false),
      // exactly what requestExecutors/killExecutors report
      val (ac, ab) = http("POST", "/api/v1.0/supervisor/addworker/2")
      assert(ac === 200 && ab === """{"success":false}""", ab)
      assert(http("POST", "/api/v1.0/supervisor/addworker/zero")._1 === 400)
      assert(http("POST", "/api/v1.0/supervisor/addworker/-1")._1 === 400)
      val (rc, rb) = http("POST", "/api/v1.0/supervisor/removeworker/0")
      assert(rc === 200 && rb === """{"success":false}""", rb)

      // terminate (reference AdminService.scala:39): stops active apps and
      // closes the ops surface; the SparkSession must survive (caller-owned)
      val in = GraftSource.memory[Int](spark)
      val q = in.toDS().writeStream.format("noop").queryName("terminate_victim").start()
      in.addData(1, 2, 3); q.processAllAvailable()
      val (tc, tb) = http("POST", "/api/v1.0/terminate")
      assert(tc === 200 && tb.contains("terminating"), tb)
      // each wait gets its OWN deadline: a slow stream shutdown must not
      // starve the connection-refused poll (which also absorbs the server
      // stop's 1 s grace period)
      val stopDeadline = System.currentTimeMillis() + 15000
      while (q.isActive && System.currentTimeMillis() < stopDeadline) Thread.sleep(100)
      assert(!q.isActive, "terminate must stop active streaming queries")
      def refused(): Boolean =
        try { http("GET", "/api/v1.0/version"); false }
        catch { case _: java.net.ConnectException => true }
      val refuseDeadline = System.currentTimeMillis() + 15000
      while (!refused() && System.currentTimeMillis() < refuseDeadline) Thread.sleep(100)
      assert(refused(), "ops server must stop accepting connections after terminate")
      assert(!spark.sparkContext.isStopped, "terminate must not stop the caller's SparkSession")
    } finally { srv.stop(); reg.close() }
  }

  test("worker/<id> detail, config, and metrics mirror WorkerService") {
    val reg = new AppRegistry(spark)
    val srv = new OpsServer(spark, reg, catalog = Map.empty).start()
    def get(path: String) = httpOn(srv.boundPort, "GET", path)
    try {
      // local mode has exactly one executor (the driver) → worker id 0
      val (wc, w) = get("/api/v1.0/worker/0")
      assert(wc === 200 && w.contains("\"workerId\":0") && w.contains("\"host\""), w)
      assert(w.contains("\"numRunningTasks\"") && w.contains("\"totalOnHeapStorageMemory\""), w)
      val (cc, c) = get("/api/v1.0/worker/0/config")
      assert(cc === 200 && c.contains("\"spark.master\"") &&
        c.contains("\"spark.sql.shuffle.partitions\""), c)
      val (mc, m) = get("/api/v1.0/worker/0/metrics")
      assert(mc === 200 && m.contains("\"usedOnHeapStorageMemory\""), m)
      // unknown / malformed worker ids → 404 (reference 404s unknown workers)
      assert(get("/api/v1.0/worker/9999")._1 === 404)
      assert(get("/api/v1.0/worker/9999/metrics")._1 === 404)
      assert(get("/api/v1.0/worker/abc")._1 === 404)
    } finally { srv.stop(); reg.close() }
  }

  test("404 bodies and the master summary stay valid JSON around quotes in their input") {
    import spark.implicits._
    val reg = new AppRegistry(spark)
    val srv = new OpsServer(spark, reg, catalog = Map.empty).start()
    val in = GraftSource.memory[Int](spark)
    val q = in.toDS().writeStream.format("noop").queryName("ops_escape").start()
    def error(method: String, path: String): String = {
      val (code, body) = httpOn(srv.boundPort, method, path)
      assert(code === 404, body)
      org.json4s.jackson.JsonMethods.parse(body) \ "error" match {
        case org.json4s.JString(e) => e
        case other => fail(s"no error string in $body: $other")
      }
    }
    try {
      val none = java.util.UUID.randomUUID()
      // getPath decodes %22 into a quote
      assert(error("GET", "/api/v1.0/worker/a%22b") == "no worker a\"b")
      assert(error("GET", "/api/v1.0/no%22where") == "unknown endpoint /api/v1.0/no\"where")
      assert(error("GET", s"/api/v1.0/appmaster/$none") == s"no active query $none")
      assert(error("DELETE", s"/api/v1.0/appmaster/$none") == s"no active query $none")
      assert(error("GET", s"/api/v1.0/appmaster/$none/config") == s"no query or app $none")
      assert(error("GET", s"/api/v1.0/appmaster/$none/errors") == s"no query or app $none")
      assert(error("POST", s"/api/v1.0/appmaster/$none/restart") == s"no submitted app $none")
      assert(error("GET", s"/api/v1.0/appmaster/${q.id}/executor/a%22b") ==
        s"no executor a\"b for app ${q.id}")
      // a sign is a valid integer id, but not a JSON number
      val (mc, m) = httpOn(srv.boundPort, "GET", "/api/v1.0/worker/%2B0/metrics")
      assert(mc === 200, m)
      assert((org.json4s.jackson.JsonMethods.parse(m) \ "workerId") == org.json4s.JInt(0))
    } finally { q.stop(); srv.stop(); reg.close() }
    val master = org.json4s.jackson.JsonMethods.parse(
      compact(OpsServer.masterJson(spark.version, "local[\"4\"]", "graft \"ops\" \\ demo", 7L, 0)))
    assert((master \ "appName") == org.json4s.JString("graft \"ops\" \\ demo"))
    assert((master \ "master") == org.json4s.JString("local[\"4\"]"))
  }

  test("metrics?history=true serves a bounded, time-ordered snapshot ring") {
    import spark.implicits._
    val reg = new AppRegistry(spark)
    val srv = new OpsServer(spark, reg, catalog = Map.empty).start()
    val in = GraftSource.memory[Int](spark)
    val q = in.toDS().writeStream.format("noop").queryName("ops_history").start()
    try {
      // drive more batches than the 64-entry ring retains to prove the bound
      for (b <- 1 to 70) { in.addData(b); q.processAllAvailable() }
      val deadline = System.currentTimeMillis() + 15000
      while (reg.metricsHistory(q.id).size < 64 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val hist = reg.metricsHistory(q.id)
      assert(hist.size === 64, s"ring must cap at 64, saw ${hist.size}")
      // oldest-first: capture times non-decreasing, batch ids strictly rising
      assert(hist.sliding(2).forall {
        case Seq((t1, m1), (t2, m2)) => t1 <= t2 && m1.batchId < m2.batchId
        case _ => true
      }, "history must be time-ordered with strictly increasing batch ids")
      // the newest retained snapshot is the current lastProgress batch
      assert(hist.last._2.batchId === reg.metrics(q.id.toString).batchId)
      val (hc, body) = httpOn(srv.boundPort, "GET",
        s"/api/v1.0/appmaster/${q.id}/metrics?history=true")
      assert(hc === 200 && body.contains("\"history\":[") && body.contains("\"atMs\""), body.take(300))
      // default (no param) still serves the lastProgress shape
      val (dc, d) = httpOn(srv.boundPort, "GET", s"/api/v1.0/appmaster/${q.id}/metrics")
      assert(dc === 200 && d.contains("\"lastProgress\""), d.take(200))
    } finally { q.stop(); srv.stop(); reg.close() }
  }

  test("master/metrics?history=true serves the bounded engine-wide rollup ring; dashboard charts both rings") {
    import spark.implicits._
    val reg = new AppRegistry(spark)
    val srv = new OpsServer(spark, reg, catalog = Map.empty).start()
    val in = GraftSource.memory[Int](spark)
    val q = in.toDS().writeStream.format("noop").queryName("ops_master_history").start()
    try {
      // drive past the 64-entry bound to prove the ring caps (one rollup
      // snapshot lands per progress event, the per-app-ring cadence)
      for (b <- 1 to 70) { in.addData(b); q.processAllAvailable() }
      val deadline = System.currentTimeMillis() + 15000
      while (reg.masterMetricsHistory.size < 64 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val hist = reg.masterMetricsHistory
      assert(hist.size === 64, s"master ring must cap at 64, saw ${hist.size}")
      // oldest-first: capture times non-decreasing, every snapshot a rollup
      assert(hist.sliding(2).forall {
        case Seq((t1, _), (t2, _)) => t1 <= t2
        case _ => true
      }, "master history must be time-ordered")
      assert(hist.forall(h => compact(h._2).contains("\"processedRowsPerSecond\"")))
      // the endpoint serves >= 2 snapshots under a running query, parseable
      val (hc, body) = httpOn(srv.boundPort, "GET", "/api/v1.0/master/metrics?history=true")
      assert(hc === 200 && body.contains("\"history\":[") && body.contains("\"rollup\""),
        body.take(300))
      val parsed = org.json4s.jackson.JsonMethods.parse(body)
      val snaps = (parsed \ "history").children
      assert(snaps.size >= 2, s"expected >=2 master snapshots, got ${snaps.size}")
      // default (no param) still serves the flat rollup shape
      val (rc, r) = httpOn(srv.boundPort, "GET", "/api/v1.0/master/metrics")
      assert(rc === 200 && r.startsWith("""{"queries":"""), r.take(200))
      // the dashboard fetches BOTH history rings and draws them (the chart
      // loop the r9 history endpoint was built for)
      val (pc, page) = httpOn(srv.boundPort, "GET", "/dashboard")
      assert(pc === 200 && page.contains("metrics?history=true"), page.take(200))
      assert(page.contains("master/metrics?history=true"), "master ring not polled")
      assert(page.contains("drawSpark") && page.contains("<canvas"),
        "dashboard must render the history rings as sparklines")
    } finally { q.stop(); srv.stop(); reg.close() }
  }

  test("/metrics serves the Prometheus text exposition of the rollup; auth guards it") {
    import spark.implicits._
    val reg = new AppRegistry(spark)
    val srv = new OpsServer(spark, reg, catalog = Map.empty).start()
    val in = GraftSource.memory[Int](spark)
    val q = in.toDS().writeStream.format("noop").queryName("ops_prom").start()
    try {
      in.addData(1, 2, 3); q.processAllAvailable()
      in.addData(4); q.processAllAvailable()
      val (code, body) = httpOn(srv.boundPort, "GET", "/metrics")
      assert(code === 200, body.take(200))
      for (g <- Seq("graft_queries_active", "graft_input_rows_total",
          "graft_state_rows_total", "graft_processed_rows_per_second"))
        assert(body.contains(s"# TYPE $g gauge") && body.contains(g + " "),
          s"missing gauge $g in:\n${body.take(600)}")
      assert(body.contains("graft_queries_active 1"), body.take(400))
      // the micro-batch summary appears once durations have been recorded
      assert(body.contains("# TYPE graft_batch_duration_ms summary")
          && body.contains("""graft_batch_duration_ms{quantile="0.5"}"""),
        body.take(800))
    } finally { q.stop(); srv.stop(); reg.close() }
    // opt-in auth must guard the scrape surface like every other route
    val reg2 = new AppRegistry(spark)
    val srv2 = new OpsServer(spark, reg2, catalog = Map.empty,
      auth = Some(("admin", "secret"))).start()
    try {
      val (unauth, _) = httpOn(srv2.boundPort, "GET", "/metrics")
      assert(unauth === 401, s"unauthenticated scrape must 401, got $unauth")
      val (ok, text) = httpOn(srv2.boundPort, "GET", "/metrics",
        headers = Map("Authorization" ->
          ("Basic " + java.util.Base64.getEncoder.encodeToString(
            "admin:secret".getBytes("UTF-8")))))
      assert(ok === 200 && text.contains("graft_queries_active"), text.take(200))
    } finally { srv2.stop(); reg2.close() }
  }

  test("opt-in BasicAuth guards every route; default stays open") {
    val reg = new AppRegistry(spark)
    val srv = new OpsServer(spark, reg, catalog = Map.empty,
      auth = Some(("admin", "secret"))).start()
    def getAuth(path: String, cred: Option[String]): Int = {
      val conn = new java.net.URI(s"http://127.0.0.1:${srv.boundPort}$path")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      cred.foreach { c =>
        val b64 = java.util.Base64.getEncoder.encodeToString(
          c.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        conn.setRequestProperty("Authorization", s"Basic $b64")
      }
      val code = conn.getResponseCode
      conn.disconnect()
      code
    }
    try {
      assert(getAuth("/api/v1.0/version", None) === 401)
      assert(getAuth("/api/v1.0/version", Some("admin:wrong")) === 401)
      assert(getAuth("/api/v1.0/master/applist", None) === 401)
      assert(getAuth("/dashboard", None) === 401)
      assert(getAuth("/api/v1.0/version", Some("admin:secret")) === 200)
      assert(getAuth("/api/v1.0/master/applist", Some("admin:secret")) === 200)
    } finally { srv.stop(); reg.close() }
    // the default construction stays unauthenticated (library-embedded use)
    val open = new OpsServer(spark, reg, catalog = Map.empty).start()
    try assert(httpOn(open.boundPort, "GET", "/api/v1.0/version")._1 === 200)
    finally open.stop()
  }

  test("session login flow: POST /login issues a cookie that authenticates; /logout revokes it") {
    val reg = new AppRegistry(spark)
    val srv = new OpsServer(spark, reg, catalog = Map.empty,
      auth = Some(("admin", "secret"))).start()
    def req(method: String, path: String, headers: Map[String, String],
        body: String = null): (Int, String, Map[String, java.util.List[String]]) = {
      val conn = new java.net.URI(s"http://127.0.0.1:${srv.boundPort}$path")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod(method)
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      if (body != null) {
        conn.setDoOutput(true)
        val os = conn.getOutputStream
        try os.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally os.close()
      }
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val out = if (is == null) "" else {
        val b = new String(is.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        is.close(); b
      }
      import scala.jdk.CollectionConverters._
      // com.sun.net.httpserver normalizes header casing ("Set-cookie") —
      // compare lowercased
      (code, out, conn.getHeaderFields.asScala.filter(_._1 != null)
        .map { case (k, v) => k.toLowerCase -> v }.toMap)
    }
    try {
      // bad credentials -> 401, no cookie
      assert(req("POST", "/login", Map.empty, "user=admin&pass=wrong")._1 === 401)
      // GET is not a login
      assert(req("GET", "/login", Map.empty)._1 === 405)
      // good credentials (form body) -> cookie
      val (lc, lb, lh) = req("POST", "/login", Map.empty, "user=admin&pass=secret")
      assert(lc === 200 && lb.contains("\"status\":\"success\""), lb)
      val cookie = lh("set-cookie").get(0)
      assert(cookie.startsWith("graft_session=") && cookie.contains("HttpOnly"), cookie)
      val tok = cookie.split(";")(0)
      // the cookie authenticates API routes with NO Basic header
      assert(req("GET", "/api/v1.0/version", Map("Cookie" -> tok))._1 === 200)
      assert(req("GET", "/dashboard", Map("Cookie" -> tok))._1 === 200)
      // a forged cookie does not
      assert(req("GET", "/api/v1.0/version",
        Map("Cookie" -> "graft_session=deadbeef"))._1 === 401)
      // Basic-header login also works (the curl spelling)
      val b64 = java.util.Base64.getEncoder.encodeToString(
        "admin:secret".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val (bc, _, bh) = req("POST", "/login", Map("Authorization" -> s"Basic $b64"))
      assert(bc === 200 && bh("set-cookie").get(0).startsWith("graft_session="), bh)
      // logout revokes server-side: the same cookie is dead afterwards
      assert(req("POST", "/logout", Map("Cookie" -> tok))._1 === 200)
      assert(req("GET", "/api/v1.0/version", Map("Cookie" -> tok))._1 === 401)
    } finally { srv.stop(); reg.close() }
  }

  test("version fallback literal tracks build.sbt (classes-dir runs have no manifest)") {
    // ADVICE r9: the "0.1.0" fallback in OpsServer.Version duplicates
    // build.sbt's ThisBuild/version — pin them together so a version bump
    // cannot silently drift the /version endpoint in test/verify runs
    val buildSbt = new String(Files.readAllBytes(
      java.nio.file.Paths.get("build.sbt")), java.nio.charset.StandardCharsets.UTF_8)
    val declared = """ThisBuild\s*/\s*version\s*:=\s*"([^"]+)"""".r
      .findFirstMatchIn(buildSbt).map(_.group(1))
    assert(declared.isDefined, "build.sbt must declare ThisBuild / version")
    // in tests the classpath is the classes dir → no jar manifest → fallback
    assert(OpsServer.Version === declared.get,
      s"OpsServer.Version fallback must equal build.sbt version ${declared.get}")
  }
}
