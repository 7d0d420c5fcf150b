package graft.ops

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.compact

/** The HTTP face of [[AppRegistry]] — parity with the reference's REST
  * service layer (reference:
  * services/jvm/src/main/scala/io/gearpump/services/{MasterService,AppMasterService}.scala;
  * endpoint spec docs/contents/dev/dev-rest-api.md). Zero new dependencies:
  * JDK `com.sun.net.httpserver` (the dashboard talks JSON, not HTML).
  * Every JSON body is a json4s value, rendered once in `respond`.
  *
  * Endpoints (paths mirror the reference's nouns):
  *  - GET    /api/v1.0/version                        — engine + Spark version
  *  - GET    /api/v1.0/master                         — engine summary
  *  - GET    /api/v1.0/master/applist                 — active queries + submitted apps
  *  - GET    /api/v1.0/master/config                  — runtime conf
  *  - GET    /api/v1.0/master/metrics                 — multi-app rollup
  *  - GET    /api/v1.0/master/workerlist              — executor fleet view
  *  - GET    /api/v1.0/worker/<id>                    — one executor's detail
  *  - GET    /api/v1.0/worker/<id>/config             — executor-shaping conf
  *  - GET    /api/v1.0/worker/<id>/metrics            — one executor's gauges
  *  - GET    /api/v1.0/master/partitioners            — builtin partitioner inventory
  *  - GET    /api/v1.0/supervisor                     — resource-supervisor identity
  *  - POST   /api/v1.0/supervisor/status              — can executors be added/removed?
  *  - POST   /api/v1.0/supervisor/addworker/<n>       — request n more executors
  *  - POST   /api/v1.0/supervisor/removeworker/<id>   — decommission an executor
  *  - POST   /api/v1.0/terminate                      — stop apps + ops surface
  *  - POST   /api/v1.0/master/submitapp?name=&sf=     — launch a registered query
  *  - POST   /api/v1.0/master/submitdag                — launch a declarative JSON plan
  *  - GET    /api/v1.0/appmaster/<id>                 — query detail (+latency)
  *  - GET    /api/v1.0/appmaster/<id>/config          — per-app config view
  *  - POST   /api/v1.0/appmaster/<id>/restart         — relaunch a submitted app
  *  - POST   /api/v1.0/appmaster/<id>/dynamicdag?name= — replace a submitted app's plan
  *  - GET    /api/v1.0/appmaster/<id>/metrics         — last progress
  *  - GET    /api/v1.0/appmaster/<id>/errors          — terminal error capture
  *  - GET    /api/v1.0/appmaster/<id>/stallingtasks   — ?threshold=ms
  *  - GET    /api/v1.0/appmaster/<id>/executor/<eid>  — app-scoped executor detail
  *  - GET    /api/v1.0/appmaster/<id>/executor/<eid>/config
  *  - DELETE /api/v1.0/appmaster/<id>                 — stop/kill the query or app
  *
  * `submitapp` parity (reference: MasterService.scala:109 accepts a jar
  * upload): queries here are code, not jars, so the submit token is a
  * REGISTRY NAME from `catalog` — POST launches that query against the
  * `sf` data dir on a daemon thread under its own job group (killable).
  *
  * `auth` opts into HTTP Basic on every route (reference:
  * services/.../security/SecurityService.scala:52 wraps routes in an
  * authenticator backed by a config file of user/password pairs,
  * core/.../security/ConfigFileBasedAuthenticator.scala:91). Default
  * None keeps the open 127.0.0.1 surface unchanged.
  */
final class OpsServer(spark: SparkSession, registry: AppRegistry, port: Int = 0,
    catalog: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      graft.SparkEntry.queries,
    auth: Option[(String, String)] = None) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val startedAtMs = System.currentTimeMillis()

  private val apiCtx = server.createContext("/api/v1.0/", (x: HttpExchange) => handle(x))
  // the reference ships a full dashboard SPA (services/dashboard/); the
  // library-scale analog is one static page polling the JSON endpoints
  private val dashCtx = server.createContext("/dashboard", (x: HttpExchange) => serveDashboard(x))
  // Prometheus scrape surface at the conventional bare /metrics: the same
  // engine-wide rollup master/metrics serves as JSON, in text exposition
  // 0.0.4 so a stock Prometheus/Grafana stack scrapes it unconfigured
  private val promCtx = server.createContext("/metrics", (x: HttpExchange) =>
    send(x, 200, "text/plain; version=0.0.4; charset=utf-8",
      registry.prometheusText.getBytes(StandardCharsets.UTF_8)))

  // MessageDigest.isEqual is constant-time: String == short-circuits at
  // the first differing char, leaking a timing oracle on the password
  private def ctEq(a: String, b: String): Boolean =
    java.security.MessageDigest.isEqual(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  /** Browser-session twin of the reference's SecurityService login flow
    * (services/jvm/.../security/SecurityService.scala serves
    * `/login`/`/logout` beyond per-request auth): POST /login exchanges
    * credentials for an HttpOnly session cookie; every authenticated route
    * then accepts EITHER Basic credentials or a live session; POST /logout
    * revokes the session server-side. Tokens are 128-bit SecureRandom,
    * bounded (256) and TTL'd (1 h) so an embedded long-lived server cannot
    * leak sessions. Only active when `auth` is configured. */
  private val sessions = scala.collection.concurrent.TrieMap.empty[String, (String, Long)]
  private val sessionTtlMs = 60L * 60 * 1000
  private val rng = new java.security.SecureRandom

  private def sessionUser(x: HttpExchange): Option[String] = {
    val cookies = Option(x.getRequestHeaders.getFirst("Cookie")).getOrElse("")
    cookies.split(";").map(_.trim).collectFirst {
      case c if c.startsWith("graft_session=") => c.stripPrefix("graft_session=")
    }.flatMap { tok =>
      sessions.get(tok).collect {
        case (u, exp) if exp > System.currentTimeMillis() => u
      }
    }
  }

  private def handleLogin(x: HttpExchange, user: String, pass: String): Unit = {
    try {
      if (x.getRequestMethod != "POST") { respond(x, 405, error("POST only")) }
      else {
        // credentials come as a form body (user=...&pass=...) or a Basic header
        val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val form = body.split("&").map(_.split("=", 2)).collect {
          case Array(k, v) => k -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
        val fromBasic = Option(x.getRequestHeaders.getFirst("Authorization"))
          .filter(_.startsWith("Basic ")).map(h => new String(
            java.util.Base64.getDecoder.decode(h.stripPrefix("Basic ")),
            StandardCharsets.UTF_8).split(":", 2)).collect { case Array(u, p) => (u, p) }
        val creds = fromBasic.orElse(
          for (u <- form.get("user"); p <- form.get("pass")) yield (u, p))
        creds match {
          case Some((u, p)) if ctEq(u, user) & ctEq(p, pass) =>
            val bytes = new Array[Byte](16)
            rng.nextBytes(bytes)
            val tok = bytes.map("%02x".format(_)).mkString
            // bound the store: drop expired first, then oldest if still full
            val now = System.currentTimeMillis()
            sessions.filterInPlace { case (_, (_, exp)) => exp > now }
            if (sessions.size >= 256)
              sessions.toSeq.sortBy(_._2._2).take(sessions.size - 255)
                .foreach { case (t, _) => sessions.remove(t) }
            sessions.put(tok, (u, now + sessionTtlMs))
            // SameSite=Strict: the cookie never rides a cross-site request,
            // so cookie-authenticated state-changing routes (logout, kill,
            // submit) are not CSRF-able even in browsers that don't default
            // to Lax
            x.getResponseHeaders.add("Set-Cookie",
              s"graft_session=$tok; HttpOnly; Path=/; SameSite=Strict")
            respond(x, 200, ("status" -> "success") ~ ("user" -> u))
          case _ => respond(x, 401, error("invalid credentials"))
        }
      }
    } catch {
      case e: Exception => respond(x, 500, error(e.toString))
    }
  }

  private def handleLogout(x: HttpExchange): Unit = {
    val cookies = Option(x.getRequestHeaders.getFirst("Cookie")).getOrElse("")
    cookies.split(";").map(_.trim).collect {
      case c if c.startsWith("graft_session=") => c.stripPrefix("graft_session=")
    }.foreach(sessions.remove)
    x.getResponseHeaders.add("Set-Cookie",
      "graft_session=; HttpOnly; Path=/; Max-Age=0; SameSite=Strict")
    respond(x, 200, "status" -> "success")
  }

  auth.foreach { case (user, pass) =>
    val a = new com.sun.net.httpserver.Authenticator {
      private val basic = new com.sun.net.httpserver.BasicAuthenticator("graft") {
        override def checkCredentials(u: String, p: String): Boolean =
          ctEq(u, user) & ctEq(p, pass) // non-short-circuit &: check both
      }
      override def authenticate(x: HttpExchange): com.sun.net.httpserver.Authenticator.Result =
        sessionUser(x) match {
          case Some(u) => new com.sun.net.httpserver.Authenticator.Success(
            new com.sun.net.httpserver.HttpPrincipal(u, "graft"))
          case None => basic.authenticate(x)
        }
    }
    apiCtx.setAuthenticator(a)
    dashCtx.setAuthenticator(a)
    promCtx.setAuthenticator(a)
    // login/logout live OUTSIDE the authenticated contexts: login is the
    // credential exchange itself, logout only ever revokes the caller's
    // own cookie
    server.createContext("/login", (x: HttpExchange) => handleLogin(x, user, pass))
    server.createContext("/logout", (x: HttpExchange) => handleLogout(x))
  }
  server.setExecutor(null) // serve on the dispatch thread; ops traffic is light

  def start(): OpsServer = { server.start(); this }

  /** Bound port (useful when constructed with port 0 = ephemeral). */
  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = server.stop(0)

  private def handle(x: HttpExchange): Unit = {
    val path = x.getRequestURI.getPath.stripPrefix("/api/v1.0/").stripSuffix("/")
    val method = x.getRequestMethod
    try {
      (method, path.split("/").toList) match {
        case ("GET", "version" :: Nil) =>
          // reference: StaticService.scala:38 serves Util.version
          respond(x, 200,
            ("version" -> s"graft-${OpsServer.Version}") ~ ("sparkVersion" -> spark.version))
        case ("GET", "master" :: "partitioners" :: Nil) =>
          // reference: MasterService.scala:168 lists BUILTIN_PARTITIONERS
          // (streaming/Constants.scala:34-39); each row carries the
          // Spark-native spelling the engine actually executes (SURVEY §2.3)
          respond(x, 200, OpsServer.PartitionersJson)
        case ("GET", "supervisor" :: Nil) =>
          // reference: SupervisorService.scala:50 serves the supervisor actor
          // path (null when no resource manager); the Spark-native resource
          // supervisor is the cluster manager named by the master URL
          respond(x, 200, "path" -> spark.sparkContext.master)
        case ("POST", "supervisor" :: "status" :: Nil) =>
          // reference: SupervisorService.scala:61 — enabled iff a resource
          // manager can add/remove workers. Spark analog: dynamic executor
          // requests exist only on cluster scheduler backends, never local
          respond(x, 200, "enabled" -> !spark.sparkContext.isLocal)
        case ("POST", "supervisor" :: "addworker" :: n :: Nil) =>
          // reference: SupervisorService.scala:70 AddWorker(count). Spark:
          // SparkContext.requestExecutors — false (with a WARN) on backends
          // that cannot scale, the reference's CommandResult(success=false)
          n.toIntOption.filter(_ > 0) match {
            case Some(count) =>
              val ok = spark.sparkContext.requestExecutors(count)
              respond(x, 200, "success" -> ok)
            case None => respond(x, 400, error("addworker requires a positive integer count"))
          }
        case ("POST", "supervisor" :: "removeworker" :: workerId :: Nil) =>
          // reference: SupervisorService.scala:82 RemoveWorker(containerId);
          // Spark: decommission by executor id via killExecutors
          val ok = spark.sparkContext.killExecutors(Seq(workerId))
          respond(x, 200, "success" -> ok)
        case ("POST", "terminate" :: Nil) =>
          // reference: AdminService.scala:39 terminates the actor system.
          // DESTRUCTIVE and, like the reference's AdminService (its own
          // TODO: authorization), unauthenticated by default — the
          // 127.0.0.1 bind scopes it to local processes; deployments that
          // need more pass `auth` (BasicAuth then covers this route too,
          // OpsSpec pins the 401).
          // Library analog: stop every active stream, kill running submitted
          // apps, then close the ops surface — the SparkSession stays up (it
          // belongs to the caller, not the ops layer). Respond first; the
          // server stops on a detached thread so this exchange can flush.
          // The response is already committed, so everything after runs in
          // its own try: an app-stop exception must neither re-respond on
          // the committed exchange nor skip the server stop.
          respond(x, 200, "status" -> "terminating")
          try {
            registry.active.foreach(q => try q.stop() catch { case _: Exception => })
            registry.submitted.filter(_.status == "running")
              .foreach(a => registry.killSubmitted(a.id))
          } catch {
            case e: Exception => System.err.println(s"[ops] terminate cleanup: $e")
          } finally {
            val t = new Thread(() => server.stop(1), "graft-ops-terminate")
            t.setDaemon(true)
            t.start()
          }
        case ("GET", "master" :: Nil) => respond(x, 200, masterSummary)
        case ("GET", "master" :: "applist" :: Nil) => respond(x, 200, registry.applist)
        case ("GET", "master" :: "config" :: Nil) => respond(x, 200, configJson)
        case ("GET", "master" :: "metrics" :: Nil) =>
          if (query(x, "history").contains("true"))
            // master-level HistoryMetricsService parity: the bounded
            // engine-wide rollup ring behind the dashboard's cluster chart
            respond(x, 200, "history" -> registry.masterHistoryJson)
          else respond(x, 200, registry.rollupJson)
        case ("GET", "master" :: "workerlist" :: Nil) => respond(x, 200, workerlist)
        case ("GET", "worker" :: id :: rest) if rest.isEmpty || rest == List("config") || rest == List("metrics") =>
          // reference: services/.../WorkerService.scala:38-62 serves
          // worker/<id>, worker/<id>/config, worker/<id>/metrics per worker;
          // the Spark worker analog is one executor from the status tracker
          workerInfo(id) match {
            case None => respond(x, 404, error(s"no worker $id"))
            case Some(json) if rest.isEmpty => respond(x, 200, json)
            case Some(_) if rest == List("config") => respond(x, 200, workerConfig(id))
            case Some(json) => respond(x, 200, ("workerId" -> id.toInt) ~ ("metrics" -> json))
          }
        case ("POST", "master" :: "submitdag" :: Nil) =>
          val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          submitDag(body) match {
            case Right(id) => respond(x, 200, launched(id))
            case Left(err) => respond(x, 400, error(err))
          }
        case ("POST", "master" :: "submitapp" :: Nil) =>
          (query(x, "name"), query(x, "sf")) match {
            case (Some(name), Some(sf)) => catalog.get(name) match {
              case Some(run) =>
                val id = registry.submit(name, run, sf)
                respond(x, 200, launched(id))
              case None =>
                respond(x, 404, error("unknown registry query") ~ ("name" -> name))
            }
            case _ => respond(x, 400, error("required params: name=<registry query>, sf=<data dir>"))
          }
        case ("GET", "appmaster" :: id :: Nil) =>
          withId(x, id)(uuid => registry.appDetail(uuid).orElse(registry.submittedDetail(uuid)) match {
            case Some(json) => respond(x, 200, json)
            case None => respond(x, 404, error(s"no active query $id"))
          })
        case ("GET", "appmaster" :: id :: "metrics" :: Nil) =>
          withId(x, id) { uuid =>
            if (query(x, "history").contains("true"))
              // reference HistoryMetricsService parity: the bounded
              // progress-snapshot ring behind the dashboard's charts
              respond(x, 200, ("id" -> uuid.toString) ~ ("history" -> registry.historyJson(uuid)))
            else {
              respond(x, 200,
                ("lastProgress" -> registry.metrics.get(uuid.toString).fold[JValue](JNull)(registry.fmt)) ~
                  ("latency" -> registry.latency(uuid).fold[JValue](JNull)(registry.fmtHist)))
            }
          }
        case ("POST", "appmaster" :: id :: "restart" :: Nil) =>
          // reference: AppMasterService.scala:100 — restart an application.
          // Streaming queries restart via Redeploy.replace (a plan is code);
          // submitted batch apps relaunch here as a new app id.
          withId(x, id)(uuid => registry.restartSubmitted(uuid) match {
            case Some(newId) => respond(x, 200, launched(newId))
            case None => respond(x, 404, error(s"no submitted app $id"))
          })
        case ("GET", "appmaster" :: id :: "config" :: Nil) =>
          withId(x, id)(uuid => registry.appConfigJson(uuid) match {
            case Some(json) => respond(x, 200, json)
            case None => respond(x, 404, error(s"no query or app $id"))
          })
        case ("POST", "appmaster" :: id :: "dynamicdag" :: Nil) =>
          // reference: AppMasterService `dynamicdag` replaces a processor in
          // the live DAG; here the plan itself is replaced by registry name
          // against the app's existing data dir (see AppRegistry.replaceSubmitted)
          withId(x, id) { uuid =>
            query(x, "name") match {
              case Some(name) => catalog.get(name) match {
                case Some(run) => registry.replaceSubmitted(uuid, name, run) match {
                  case Some(newId) => respond(x, 200, launched(newId))
                  case None => respond(x, 404, error(s"no submitted app $id"))
                }
                case None =>
                  respond(x, 404, error("unknown registry query") ~ ("name" -> name))
              }
              case None => respond(x, 400, error("required param: name=<registry query>"))
            }
          }
        case ("GET", "appmaster" :: id :: "errors" :: Nil) =>
          withId(x, id)(uuid => registry.errorsJson(uuid) match {
            case Some(json) => respond(x, 200, json)
            case None => respond(x, 404, error(s"no query or app $id"))
          })
        case ("GET", "appmaster" :: id :: "executor" :: eid :: rest)
            if rest.isEmpty || rest == List("config") =>
          // reference AppMasterService.scala:119-133 serves the app-scoped
          // executor detail + config; the Spark analog scopes one status-
          // tracker executor to the app — 404s on unknown app OR executor
          withId(x, id) { uuid =>
            registry.appDetail(uuid).orElse(registry.submittedDetail(uuid)) match {
              case None => respond(x, 404, error(s"no active query $id"))
              case Some(_) => workerInfo(eid) match {
                case None =>
                  respond(x, 404, error(s"no executor $eid for app $id"))
                case Some(json) if rest.isEmpty =>
                  respond(x, 200, ("appId" -> uuid.toString) ~ ("executor" -> json))
                case Some(_) =>
                  respond(x, 200, ("appId" -> uuid.toString) ~ ("executorId" -> eid.toInt) ~
                    ("config" -> workerConfig(eid)))
              }
            }
          }
        case ("GET", "appmaster" :: id :: "stallingtasks" :: Nil) =>
          withId(x, id) { uuid =>
            val threshold = query(x, "threshold").map(_.toLong).getOrElse(60000L)
            val stalled = registry.stalling(threshold).exists(_.id == uuid)
            respond(x, 200, ("id" -> uuid.toString) ~ ("stalling" -> stalled))
          }
        case ("DELETE", "appmaster" :: id :: Nil) =>
          withId(x, id)(uuid => registry.active.find(_.id == uuid) match {
            case Some(q) => q.stop(); respond(x, 200, "status" -> "success")
            case None =>
              if (registry.killSubmitted(uuid)) respond(x, 200, "status" -> "success")
              else respond(x, 404, error(s"no active query $id"))
          })
        case _ => respond(x, 404, error(s"unknown endpoint ${x.getRequestURI.getPath}"))
      }
    } catch {
      case e: Exception => respond(x, 500, error(e.toString))
    }
  }

  /** REST `master/submitdag` parity (reference: MasterService.scala:132
    * accepts a serialized DAG and launches it): here the DAG is a
    * declarative JSON plan — source table, optional `where` predicate,
    * then either a `select` projection or a `groupBy`+`aggs` aggregation,
    * all spelled as Spark SQL expression strings. The built plan launches
    * through the same killable-job-group submit path as `submitapp`, so
    * applist/detail/errors/kill all work on it unchanged.
    *
    * {"table":"lineitem","sf":"/data/sf0.01","where":"l_quantity > 10",
    *  "groupBy":["l_returnflag"],"aggs":{"sum_qty":"sum(l_quantity)"}} */
  private def submitDag(body: String): Either[String, java.util.UUID] = {
    try {
      val j = org.json4s.jackson.JsonMethods.parse(body)
      def str(k: String): Option[String] =
        (j \ k) match { case JString(v) => Some(v); case _ => None }
      def strs(k: String): Seq[String] =
        (j \ k) match { case JArray(vs) => vs.collect { case JString(v) => v }; case _ => Nil }
      val aggs: Seq[(String, String)] =
        (j \ "aggs") match {
          case JObject(fs) => fs.collect { case (n, JString(v)) => (n, v) }
          case _ => Nil
        }
      val table = str("table").getOrElse(return Left("required field: table"))
      if (!graft.Tables.names.contains(table)) return Left(s"unknown table $table")
      val sf = str("sf").getOrElse(return Left("required field: sf"))
      val where = str("where")
      val select = strs("select")
      val groupBy = strs("groupBy")
      if (groupBy.nonEmpty && aggs.isEmpty) return Left("groupBy requires aggs")
      import org.apache.spark.sql.functions.expr
      val run: (SparkSession, String) => org.apache.spark.sql.DataFrame = (s, dir) => {
        var df = graft.Tables.t(s, dir, table)
        where.foreach(w => df = df.where(expr(w)))
        if (aggs.nonEmpty)
          // empty groupBy = global aggregation (df.groupBy() with no keys)
          df = df.groupBy(groupBy.map(expr): _*)
            .agg(expr(aggs.head._2).as(aggs.head._1),
              aggs.tail.map { case (n, e) => expr(e).as(n) }: _*)
        else if (select.nonEmpty) df = df.select(select.map(expr): _*)
        df
      }
      // validate the plan NOW (analysis only, nothing executed) so a typo
      // comes back as a 400 with the analyzer message, not a failed app
      run(spark, sf).queryExecution.analyzed
      Right(registry.submit(s"dag:$table", run, sf))
    } catch { case e: Exception => Left(e.toString.take(500)) }
  }

  /** REST `master/workerlist` parity (reference: MasterService.scala:72
    * serves each worker's resource slots): on Spark the worker analog is
    * the executor set — id/host/port, running tasks, and storage-memory
    * headroom from the public status tracker. local[n] reports the single
    * driver-executor; on a 1000-executor cluster this is the fleet view. */
  private def workerlist: JValue = {
    val sc = spark.sparkContext
    val execs = sc.statusTracker.getExecutorInfos.toList.map { e =>
      ("host" -> e.host) ~ ("port" -> e.port) ~ ("numRunningTasks" -> e.numRunningTasks) ~
        ("usedOnHeapStorageMemory" -> e.usedOnHeapStorageMemory) ~
        ("totalOnHeapStorageMemory" -> e.totalOnHeapStorageMemory)
    }
    ("defaultParallelism" -> sc.defaultParallelism) ~ ("workers" -> execs)
  }

  /** One executor's gauges, keyed by its stable index in the (host, port)-
    * sorted executor list — the integer worker id the reference's
    * WorkerService addresses (WorkerService.scala:38). None = unknown id. */
  private def workerInfo(id: String): Option[JValue] = {
    val execs = spark.sparkContext.statusTracker.getExecutorInfos
      .sortBy(e => (e.host, e.port))
    id.toIntOption.filter(i => i >= 0 && i < execs.length).map { i =>
      val e = execs(i)
      ("workerId" -> i) ~ ("host" -> e.host) ~ ("port" -> e.port) ~
        ("numRunningTasks" -> e.numRunningTasks) ~
        ("usedOnHeapStorageMemory" -> e.usedOnHeapStorageMemory) ~
        ("totalOnHeapStorageMemory" -> e.totalOnHeapStorageMemory) ~
        ("usedOffHeapStorageMemory" -> e.usedOffHeapStorageMemory) ~
        ("totalOffHeapStorageMemory" -> e.totalOffHeapStorageMemory)
    }
  }

  /** worker/<id>/config parity (WorkerService.scala:50 serves the worker's
    * resolved config): the conf keys that shape an executor's JVM. */
  private def workerConfig(id: String): JValue = {
    val keys = List("spark.executor.memory", "spark.executor.cores",
      "spark.executor.instances", "spark.memory.fraction",
      "spark.master", "spark.sql.shuffle.partitions")
    def value(k: String): String = spark.conf.getOption(k)
      .orElse(Option(spark.sparkContext.getConf.get(k, null))).getOrElse("")
    ("workerId" -> id.toInt) ~ ("config" -> JObject(keys.map(k => JField(k, JString(value(k))))))
  }

  private def masterSummary: JValue =
    OpsServer.masterJson(spark.version, spark.sparkContext.master, spark.sparkContext.appName,
      System.currentTimeMillis() - startedAtMs, registry.active.size)

  private def configJson: JValue =
    JObject(spark.conf.getAll.toList.sortBy(_._1).map { case (k, v) => JField(k, v) })

  private def withId(x: HttpExchange, id: String)(f: java.util.UUID => Unit): Unit =
    try f(java.util.UUID.fromString(id))
    catch { case _: IllegalArgumentException =>
      respond(x, 400, error("malformed query id")) }

  private def query(x: HttpExchange, key: String): Option[String] =
    Option(x.getRequestURI.getQuery).flatMap(_.split("&").collectFirst {
      case kv if kv.startsWith(key + "=") => kv.substring(key.length + 1)
    })

  private def serveDashboard(x: HttpExchange): Unit = {
    val in = getClass.getResourceAsStream("/graft/dashboard.html")
    if (in == null) respond(x, 404, error("dashboard resource missing"))
    else send(x, 200, "text/html; charset=utf-8", try in.readAllBytes() finally in.close())
  }

  private def error(message: String): JObject = "error" -> message

  private def launched(id: java.util.UUID): JObject = ("status" -> "success") ~ ("appId" -> id.toString)

  private def respond(x: HttpExchange, code: Int, body: JValue): Unit =
    send(x, code, "application/json", compact(body).getBytes(StandardCharsets.UTF_8))

  private def send(x: HttpExchange, code: Int, contentType: String, bytes: Array[Byte]): Unit = {
    x.getResponseHeaders.set("Content-Type", contentType)
    x.sendResponseHeaders(code, bytes.length.toLong)
    val os = x.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

object OpsServer {
  /** Jar-manifest Implementation-Version when packaged; classes-dir runs
    * (tests, scripts/run_verify.sh) read the `graft-version.properties`
    * resource the build GENERATES from `ThisBuild / version`, so a version
    * bump can never silently drift this endpoint. The literal is only the
    * last-resort for a classpath with neither manifest nor resource, and
    * is marked as such. */
  val Version: String = {
    def fromManifest = Option(classOf[OpsServer].getPackage.getImplementationVersion)
    def fromResource = Option(
        classOf[OpsServer].getClassLoader.getResourceAsStream("graft-version.properties"))
      .flatMap { in =>
        try {
          val p = new java.util.Properties
          p.load(in)
          Option(p.getProperty("version"))
        } finally in.close()
      }
    fromManifest.orElse(fromResource).getOrElse("0.0.0-unversioned")
  }

  /** The reference's five builtin edge partitioners
    * (reference: streaming/src/main/scala/io/gearpump/streaming/Constants.scala:34-39)
    * plus the range partitioner this engine adds, each with the Spark-native
    * spelling the engine executes (SURVEY §2.3; graft.operators.Partitioning). */
  private val Partitioners: Seq[(String, String)] = Seq(
    "BroadcastPartitioner" -> "broadcast(df) build-side replication",
    "CoLocationPartitioner" -> "bucketed co-located join (zero-shuffle)",
    "HashPartitioner" -> "repartition(n, hash cols)",
    "ShuffleGroupingPartitioner" -> "repartition(n) round-robin",
    "ShufflePartitioner" -> "repartition(n) round-robin",
    "RangePartitioner" -> "repartitionByRange(n, cols)")

  /** The GET master body. */
  private[ops] def masterJson(sparkVersion: String, master: String, appName: String,
      uptimeMs: Long, activeQueries: Int): JValue =
    ("engine" -> "graft") ~ ("sparkVersion" -> sparkVersion) ~ ("master" -> master) ~
      ("appName" -> appName) ~ ("uptimeMs" -> uptimeMs) ~ ("activeQueries" -> activeQueries)

  private[ops] val PartitionersJson: JValue =
    "partitioners" -> Partitioners.map { case (name, spark) => ("name" -> name) ~ ("spark" -> spark) }
}
