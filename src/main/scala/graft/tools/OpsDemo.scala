package graft.tools

import graft.Engine
import graft.ops.{AppRegistry, OpsServer}
import graft.streaming.GraftSource

/** Manual ops-surface driver: boots the engine with a live rate-source
  * query and serves the REST API + dashboard until killed — the quickest
  * way to eyeball the dashboard (sparklines, rollup, workers) against a
  * genuinely running stream. Usage: OpsDemo [port] (default 18090).
  *
  * The reference ships this experience as the standalone dashboard SPA
  * (services/dashboard/) against a running cluster; here it is one main
  * because the engine embeds as a library. */
object OpsDemo {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(18090)
    val spark = Engine.session("ops-demo", "local[4]")
    val reg = new AppRegistry(spark)
    val srv = new OpsServer(spark, reg, catalog = Map.empty, port = port).start()
    val q = GraftSource.rate(spark, rowsPerSecond = 50000, payloadBytes = 64)
      .writeStream.format("noop").queryName("ops_demo_rate").start()
    println(s"OPS_DEMO_URL=http://127.0.0.1:${srv.boundPort}/dashboard")
    sys.addShutdownHook { q.stop(); srv.stop(); reg.close() }
    q.awaitTermination()
  }
}
