package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.classic.Dataset

/** The frame of a parsed, not yet analyzed plan, as `SparkSession.sql`
  * makes one (`graft.Tables.sql` binds its table names first). In Spark's
  * package because `Dataset.ofRows` is package-private. */
object PlanFrame {
  def apply(spark: SparkSession, plan: LogicalPlan): DataFrame = Dataset.ofRows(spark, plan)
}
