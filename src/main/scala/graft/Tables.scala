package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.graft.PlanFrame
import java.util.Locale

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * The reference has no table concept — payloads are opaque `Any`
  * (reference: core/src/main/scala/io/gearpump/Message.scala:22); here every
  * input is a schema-ful DataFrame so Catalyst can push filters/prune columns
  * down to the parquet scan, which is the whole point of being Spark-native.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The driver's `events` table has shipped `ts` in two physical shapes
    * across regenerations: parquet TIMESTAMP(NANOS) (which Spark 4 refuses
    * to read natively — surfaced as a nanosecond long under
    * `nanosAsLong`, which the session builders set) and TIMESTAMP_MICROS
    * with isAdjustedToUTC=0 (which Spark 4 reads as TIMESTAMP_NTZ).
    * Normalize both to a session-TZ TIMESTAMP so every downstream
    * `unix_micros`/window consumer sees one type. Sessions run with
    * timeZone=UTC, so the NTZ→TIMESTAMP cast is instant-preserving and the
    * nanos path floor-truncates to micros — the same value DuckDB
    * materializes, so oracle compares stay exact. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.name != "ts") d
      else f.dataType match {
        case LongType         => d.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => d.withColumn("ts", col("ts").cast(TimestampType))
        case _                => d
      }
    }
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$dir/$name.parquet"))

  /** SQL `text` over the tables of `dir` it names in `tables`. */
  def sql(spark: SparkSession, dir: String, text: String, tables: String*): DataFrame =
    sqlWith(spark, text, tables.map(n => n -> t(spark, dir, n)): _*)

  /** SQL `text` with each name of `frames` bound to its frame for this one
    * query: the parsed plan reads the frame where it names the relation.
    * Nothing is registered on the session, so queries running side by side
    * on it, and the caller's own temp views, never see these names. */
  def sqlWith(spark: SparkSession, text: String, frames: (String, DataFrame)*): DataFrame = {
    val bound = frames.map { case (n, df) => n.toLowerCase(Locale.ROOT) -> df }.toMap
    def bind(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
      case UnresolvedRelation(Seq(name), _, _) if bound.contains(name.toLowerCase(Locale.ROOT)) =>
        SubqueryAlias(name, bound(name.toLowerCase(Locale.ROOT)).queryExecution.analyzed)
      // a WITH's definitions are not among its children
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, q, d) => (n, q.copy(child = bind(q.child)), d) })
    }
    PlanFrame(spark, bind(spark.sessionState.sqlParser.parsePlan(text)))
  }

  /** Register all tables as temp views so `spark.sql` works too: for a
    * user's own session. Registry entries bind their tables with [[sql]]. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
}
