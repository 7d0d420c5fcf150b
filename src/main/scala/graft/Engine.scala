package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine, and the one module that
  * writes session state (SessionLintSpec keeps it that way).
  *
  * Replaces the reference's cluster bootstrap — Master/Worker/AppMaster actor
  * hierarchy (reference: core/src/main/scala/io/gearpump/cluster/main/Local.scala,
  * cluster/embedded/EmbeddedCluster.scala:29-62): in a Spark-native design the
  * "cluster" is the SparkSession and scheduling/placement belongs to Spark's
  * DAG scheduler, not custom actors. As one AppMaster never changes another
  * app's configuration, no query path writes the shared session: what a
  * graft session needs is applied once, by [[session]] or [[install]].
  *
  * Scale notes (100 TB target):
  *  - [[parallelism]] sets the shuffle width to a local master's task
  *    slots. On a real cluster, master, memory and width come from
  *    spark-submit conf; nothing here hard-codes local mode.
  *  - AQE on: runtime shuffle-partition coalescing + skew-join splitting
  *    means one static width survives 1000x data growth.
  *  - A stateful stream keeps the width of its first start as its state
  *    partitions and commits every one of them each micro-batch, so a
  *    width above the slot count is fixed cost per batch (README "Session
  *    setup" has the measurement).
  *
  * Generated-code cache: Spark keeps the classes it compiles for plans in
  * one JVM-wide LRU, sized by the static conf
  * `spark.sql.codegen.cache.maxEntries` when the first code generation in
  * the JVM runs, and never resized after. Spark's default of 100 is below
  * the engine's working set: one pass over the 13 headline entries at
  * sf0.1 compiles about 262 distinct classes, so a long-lived session that
  * reruns them (OpsServer, a bench's warm pass, the test JVM) compiled 206
  * classes again on its second pass at 100, and compiles 2 at
  * [[CodegenCacheMaxEntries]]. [[session]] (and `Verify.main`) set it on the
  * builder, the only place a static conf takes effect; a facade called on
  * a caller's own session keeps whatever that session's JVM started with.
  * A cached class holds about 24 KB of heap (perfbench's `live_heap_mb`
  * rose 3.8 MB for about 160 more cached classes), so the cap bounds the
  * cache at about 24 MB.
  */
object Engine {
  /** Entries of Spark's JVM-wide generated-code cache; see the note above. */
  val CodegenCacheMaxEntries = 1000

  def session(
      appName: String = "graft",
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config(parallelism(master))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Tables.normalizeTs reads a TIMESTAMP(NANOS) `ts` as a long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
    spark
  }

  /** The conf that sizes a session's shuffles to `master`: on a local
    * master `spark.sql.shuffle.partitions` is its task slots (`local` 1,
    * `local[N]` and `local[N,F]` N, `local[*]` the JVM's processors); on
    * any other master it is empty. [[session]] and `Verify.main` build with it. */
  def parallelism(master: String): Map[String, String] = (master match {
    case "local" => Some(1)
    case LocalSlots(n) => Some(if (n == "*") Runtime.getRuntime.availableProcessors else n.toInt)
    case _ => None
  }).map(n => "spark.sql.shuffle.partitions" -> n.toString).toMap

  private val LocalSlots = """local\[(\d+|\*)(?:\s*,\s*\d+)?\]""".r

  /** Apply to a live session everything a graft session needs: the
    * native functions of [[graft.plans.GraftExtensions]], the
    * [[graft.plans.ProximityJoin]] rule and the graph drop-logger
    * listener. Idempotent; the public facades that take a caller's session
    * call it once at entry. */
  def install(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    new graft.plans.GraftExtensions().functions.foreach { case (id, info, builder) =>
      // skip present names: re-registering logs a "replaced" WARN
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
    val rule = graft.plans.ProximityJoin
    if (!spark.experimental.extraOptimizations.contains(rule))
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ rule
    val logger = graft.operators.GraphOps.DropLogger
    Pin.memo(spark, logger)(spark.listenerManager.register(logger))
  }
}
