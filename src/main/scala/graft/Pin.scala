package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.{CacheManager, LogicalRDD}
import org.apache.spark.sql.graft.ReleaseBlocks

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** The one place that decides how long materialized data lives. Every
  * cache, checkpoint and per-session memo in `graft` goes through here
  * (MaterializationLintSpec keeps it that way).
  *
  *  - [[query]] is the scope a runner (Verify, Bench, AppRegistry, the
  *    tools) opens around one query: it releases what the query pinned
  *    and every [[tick]] made under it that no loop dropped, when its body
  *    ends — on success, failure or kill.
  *  - [[scope]] owns the frames [[reuse]]d inside it on its thread and
  *    unpersists them when its body ends. An operator that caches per
  *    loop iteration or per micro-batch opens one for it. Scopes nest;
  *    each releases only its own pins, and a cache that concurrent scopes
  *    share stays until the last one ends. A scope never owns ticks.
  *  - [[reuse]] marks a frame that is read more than once. Inside a scope
  *    it is a lazy `cache()`, so plan construction runs no jobs and the
  *    cached subtree stays visible in the plan. That hides a cost: under
  *    AQE each read of a not-yet-built cache inside the first query that
  *    reads it is its own job, so a frame one query reads k times costs k
  *    jobs as a reuse and 1 as a tick (`ev_kmv_overlap`'s K-set: 48 warm
  *    jobs at sf0.01 as a reuse, 36 as a tick). Outside any scope (the
  *    facades, a bare `q.run`) the frame is a [[tick]]: nothing would
  *    release a cache.
  *  - [[rounds]] runs an iterative operator: each round is a [[scope]]
  *    whose state is a [[tick]], and each round drops the tick it
  *    replaces. The seed stays what the caller passed.
  *  - [[tick]] cuts lineage with an eager `localCheckpoint`. Only
  *    Louvain's guarded passes and the streaming curator [[drop]] a tick
  *    by hand. The enclosing query releases the rest; with no query open
  *    the ContextCleaner does, once they are unreachable.
  *  - [[serving]] materializes a long-lived structure that a [[memo]] or a
  *    facade index hands out to later queries. A frame that outlives its
  *    query must come from here, never from [[tick]].
  *  - [[memo]] holds per-session derived state (a trained index, a probed
  *    salt) for the life of the session. */
object Pin {

  /** One cache entry held by open scopes. The CacheManager keys entries
    * by `sameResult`, not by owner, so two scopes that reuse the same plan
    * (two apps running one entry on one dir) share one entry; it is
    * unpersisted when the last scope holding it closes. */
  private final class Held(val cm: CacheManager, val plan: LogicalPlan, val df: DataFrame) {
    var refs = 1
  }

  // every open scope's holds, across threads; guarded by itself
  private val held = ArrayBuffer.empty[Held]

  /** What one open scope releases when it ends: its pins and, for a
    * [[query]], the undropped ticks made under it. */
  private final class Open(val query: Boolean) {
    val pins = ArrayBuffer.empty[Held]
    val ticks = ArrayBuffer.empty[RDD[_]]
  }

  // this thread's open scopes, innermost first
  private val open = new ThreadLocal[List[Open]] {
    override def initialValue(): List[Open] = Nil
  }

  /** Run `body`, then release every frame [[reuse]]d inside it on this
    * thread (nested scopes release their own). */
  def scope[T](body: => T): T = within(new Open(query = false))(body)

  /** A [[scope]] around one whole query: it also releases, when `body`
    * ends, every tick made under it on this thread that no loop dropped.
    * Nothing `body` returns may read those ticks afterwards. */
  def query[T](body: => T): T = within(new Open(query = true))(body)

  private def within[T](o: Open)(body: => T): T = {
    open.set(o :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      // a killed runner is interrupted; the release's RPCs must still run
      val interrupted = Thread.interrupted()
      try {
        // newest first: a cache built over an older one goes before it
        o.pins.reverseIterator.foreach(release)
        o.ticks.foreach(rdd => quietly(ReleaseBlocks(rdd)))
      } finally if (interrupted) Thread.currentThread().interrupt()
    }
  }

  private def release(h: Held): Unit = held.synchronized {
    h.refs -= 1
    if (h.refs == 0) {
      held -= h
      quietly(h.df.unpersist())
    }
  }

  /** Runs `body`, reporting whether it completed: one failed release
    * (executor lost mid-unpersist, interrupted runner) must not keep the
    * others pinned. */
  private def quietly(body: => Unit): Boolean =
    try { body; true }
    catch {
      case _: InterruptedException => Thread.currentThread().interrupt(); false
      case _: Exception => false
    }

  /** A frame read more than once: cached for the enclosing [[scope]], or
    * a [[tick]] when no scope is open. */
  def reuse(df: DataFrame): DataFrame = open.get match {
    case o :: _ =>
      held.synchronized {
        val cm = df.sparkSession.sharedState.cacheManager
        cm.lookupCachedData(df) match {
          case Some(cd) =>
            // an open scope's entry gains a holder; an entry cached outside
            // Pin is its owner's to release
            held.find(h => (h.cm eq cm) && h.plan.sameResult(cd.plan)).foreach { h =>
              h.refs += 1
              o.pins += h
            }
          case None =>
            df.cache()
            cm.lookupCachedData(df).foreach { cd =>
              val h = new Held(cm, cd.plan, df)
              held += h
              o.pins += h
            }
        }
      }
      df
    case Nil => tick(df)
  }

  /** Cut `df`'s lineage: an eager `localCheckpoint`, owned by the
    * innermost open [[query]] on this thread until a loop [[drop]]s it. */
  def tick(df: DataFrame): DataFrame = {
    val t = checkpointed(df, Tick, reliable = false)
    open.get.find(_.query).foreach(_.ticks += rddOf(t))
    t
  }

  /** An iterative operator's rounds. Round `r` (from 1) builds its state
    * from the previous round's, `seed` for the first, with `step(prev, r)`
    * inside its own [[scope]]; the state is ticked, `done(prev, next)` may
    * end the loop, and the previous round's tick is dropped. The seed is
    * never materialized or dropped: pass a plain plan or a [[reuse]]d
    * frame, or a previous call's result to keep it as a snapshot. Returns
    * the last state (the seed if `maxRounds` is 0) and the rounds run;
    * the last state's tick is the enclosing query's to release. */
  def rounds(seed: DataFrame, maxRounds: Int)(step: (DataFrame, Int) => DataFrame,
      done: (DataFrame, DataFrame) => Boolean = (_, _) => false): (DataFrame, Int) = {
    var (state, r, stop) = (seed, 0, false)
    while (!stop && r < maxRounds) {
      r += 1
      val prev = state
      state = scope { val next = tick(step(prev, r)); stop = done(prev, next); next }
      if (prev ne seed) drop(prev)
    }
    (state, r)
  }

  /** Release a [[tick]] nothing reads any more (the round [[rounds]] has
    * just replaced, or a hand-kept loop's losing candidate). Launches no
    * job. Throws on any other frame: a frame derived from a tick, a cache
    * or a [[serving]] frame is not Pin's to drop here. */
  def drop(tick: DataFrame): Unit = {
    val rdd = Option(rddOf(tick)).filter(made.get(_) == Tick).getOrElse(throw new IllegalArgumentException(
      s"not a Pin.tick: ${tick.queryExecution.analyzed.simpleString(80)}"))
    if (quietly(ReleaseBlocks(rdd))) open.get.foreach(_.ticks -= rdd)
  }

  /** Materialize a long-lived serving structure (index adjacency,
    * corpus, entry/query frames — built once, searched many times). With a
    * reliable checkpoint dir configured (`SparkContext.setCheckpointDir`)
    * it is written there and survives executor loss; otherwise it is an
    * eager localCheckpoint — executor-local blocks, zero fs writes. No
    * query owns it. Not for per-hop frames that live within one search
    * call: reliability buys nothing there and the fs round-trip
    * multiplies hop latency. */
  def serving(df: DataFrame): DataFrame =
    checkpointed(df, Serving, reliable = df.sparkSession.sparkContext.getCheckpointDir.isDefined)

  /** Whether `rdd` holds a [[serving]] frame's blocks. */
  private[graft] def isServing(rdd: RDD[_]): Boolean = made.get(rdd) == Serving

  /** The RDD under a checkpointed frame (null for any other frame). */
  private def rddOf(df: DataFrame): RDD[_] = df.queryExecution.analyzed match {
    case r: LogicalRDD => r.rdd
    case _ => null
  }

  /** An eager checkpoint of `df`, recorded as a `kind`, whose RDD names
    * the caller's line, not Pin's, as its creation site: what
    * `getPersistentRDDs` and the storage UI show. */
  private def checkpointed(df: DataFrame, kind: String, reliable: Boolean): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val method = if (reliable) "checkpoint" else "localCheckpoint"
    val caller = Thread.currentThread.getStackTrace.find { f =>
      !Seq("graft.Pin$", "scala.", "java.", "jdk.", "org.apache.spark.").exists(f.getClassName.startsWith)
    }
    val prev = sc.getLocalProperty(ShortSite)
    caller.foreach(f => sc.setLocalProperty(ShortSite, s"$method at ${f.getFileName}:${f.getLineNumber}"))
    val out =
      try if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
      finally sc.setLocalProperty(ShortSite, prev)
    made.put(rddOf(out), kind)
    out
  }

  // the kind of every RDD under a Pin checkpoint, weakly held so the
  // ContextCleaner still reaps an unreachable one (not an RDD name: a
  // name shows in the plans that scan it)
  private val made = java.util.Collections.synchronizedMap(new java.util.WeakHashMap[RDD[_], String])
  private val Tick = "tick"
  private val Serving = "serving"

  // Spark's thread-local override of the short call site (CallSite.SHORT_FORM)
  private val ShortSite = "callSite.short"

  // Keyed on the session OBJECT (identityHashCode is not unique). Not
  // weak-keyed: a memoized DataFrame strongly references its session, so
  // a weak key could never be collected while its value is held. Entries
  // of stopped sessions are swept on every lookup instead (their blocks
  // died with the context; the sweep releases the plan objects).
  private val memos = TrieMap.empty[SparkSession, TrieMap[Any, Once]]

  /** Builds its value at most once, on first read. */
  private final class Once(build: => Any) { lazy val value: Any = build }

  /** The value memoized under `key` for session `s`, built on first use
    * (once: concurrent first callers wait for the one build). Consumers
    * must not unpersist frames held in a memo: later queries of the
    * session read the same blocks. */
  def memo[V](s: SparkSession, key: Any)(build: => V): V = {
    memos.filterInPlace { case (sess, _) => !sess.sparkContext.isStopped }
    // getOrElseUpdate may construct a losing Once under a race, but only
    // the stored one is ever forced
    memos.getOrElseUpdate(s, TrieMap.empty).getOrElseUpdate(key, new Once(build))
      .value.asInstanceOf[V]
  }
}
