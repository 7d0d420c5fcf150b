package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.CacheManager

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** The one place that decides how long materialized data lives. Every
  * cache, serving checkpoint and per-session memo in `graft` goes through
  * here (MaterializationLintSpec keeps it that way).
  *
  *  - [[scope]] owns the frames [[reuse]]d inside it on its thread and
  *    unpersists them when its body ends — on success, failure or kill.
  *    Verify, Bench and AppRegistry run each query in one; an operator
  *    that caches per loop iteration or per micro-batch opens a nested
  *    scope for it. Scopes nest; each releases only its own pins, and a
  *    cache that concurrent scopes share stays until the last one ends.
  *  - [[reuse]] marks a frame that is read more than once. Inside a scope
  *    it is a lazy `cache()`, so plan construction runs no jobs and the
  *    cached subtree stays visible in the plan. Outside any scope (the
  *    library facades, a bare `q.run`) nothing would release a cache, so
  *    the frame is eagerly `localCheckpoint`ed and the ContextCleaner drops
  *    its blocks once the result is unreachable.
  *  - [[serving]] materializes a long-lived structure that a [[memo]] or a
  *    facade index hands out to later queries.
  *  - [[memo]] holds per-session derived state (a trained index, a probed
  *    salt) for the life of the session.
  *
  * Lineage-cutting `localCheckpoint` ticks inside iterative operators are
  * not pins: their blocks are the ContextCleaner's to drop. */
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

  private val scopes = new ThreadLocal[List[ArrayBuffer[Held]]] {
    override def initialValue(): List[ArrayBuffer[Held]] = Nil
  }

  /** Run `body`, then release every frame [[reuse]]d inside it on this
    * thread (nested scopes release their own). */
  def scope[T](body: => T): T = {
    val pins = ArrayBuffer.empty[Held]
    scopes.set(pins :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      // newest first: a cache built over an older one goes before it
      pins.reverseIterator.foreach(release)
    }
  }

  private def release(h: Held): Unit = held.synchronized {
    h.refs -= 1
    if (h.refs == 0) {
      held -= h
      // one failed release (executor lost mid-unpersist, interrupted
      // runner) must not keep the others pinned
      try h.df.unpersist()
      catch {
        case _: InterruptedException => Thread.currentThread().interrupt()
        case _: Exception => ()
      }
    }
  }

  /** A frame read more than once: cached for the enclosing [[scope]], or
    * eagerly checkpointed when no scope is open. */
  def reuse(df: DataFrame): DataFrame = scopes.get match {
    case pins :: _ =>
      held.synchronized {
        val cm = df.sparkSession.sharedState.cacheManager
        cm.lookupCachedData(df) match {
          case Some(cd) =>
            // an open scope's entry gains a holder; an entry cached outside
            // Pin is its owner's to release
            held.find(h => (h.cm eq cm) && h.plan.sameResult(cd.plan)).foreach { h =>
              h.refs += 1
              pins += h
            }
          case None =>
            df.cache()
            cm.lookupCachedData(df).foreach { cd =>
              val h = new Held(cm, cd.plan, df)
              held += h
              pins += h
            }
        }
      }
      df
    case Nil => df.localCheckpoint(true)
  }

  /** Materialize a long-lived serving structure (index adjacency, keyed
    * corpus, entry/query frames — built once, searched many times). With a
    * reliable checkpoint dir configured (`SparkContext.setCheckpointDir`)
    * it is written there and survives executor loss; otherwise it is an
    * eager localCheckpoint — executor-local blocks, zero fs writes. Not
    * for per-hop frames that live within one search call: reliability
    * buys nothing there and the fs round-trip multiplies hop latency. */
  def serving(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(true)
    else df.localCheckpoint(true)

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
