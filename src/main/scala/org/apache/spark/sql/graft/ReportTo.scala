package org.apache.spark.sql.graft

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.util.control.NonFatal

/** Reports the finished executions of the session it is registered on to
  * the listeners registered on `target` at that moment, so the queries
  * graft's AQE-off hop-loop sibling plans for a caller still reach the
  * caller's tracing, audit and lineage listeners. In Spark's package
  * because a session's listener list is package-private. */
final class ReportTo(target: SparkSession) extends QueryExecutionListener with Logging {
  // one failing listener must not starve the rest, as on Spark's own bus
  private def each(f: QueryExecutionListener => Unit): Unit =
    target.listenerManager.listListeners().foreach { l =>
      try f(l) catch { case NonFatal(e) => logWarning(s"listener $l failed", e) }
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    each(_.onSuccess(funcName, qe, durationNs))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    each(_.onFailure(funcName, qe, exception))
}
