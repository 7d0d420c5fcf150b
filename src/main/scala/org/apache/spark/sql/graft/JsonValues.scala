package org.apache.spark.sql.graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.StreamingQueryStatus
import org.json4s.JValue

/** The json4s values Spark renders a row and a streaming query's status
  * from, so `graft.ops` embeds them in its responses as values rather than
  * as rendered text. In Spark's package because both `jsonValue`s are
  * package-private. */
object JsonValues {
  def apply(row: Row): JValue = row.jsonValue
  def apply(status: StreamingQueryStatus): JValue = status.jsonValue
}
