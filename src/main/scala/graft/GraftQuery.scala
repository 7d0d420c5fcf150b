package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator demonstration: a Spark implementation plus (when
  * the op is SQL-expressible) an equivalent ANSI-SQL oracle the driver runs
  * in DuckDB over the same parquet tables. Column names and value rounding
  * must match exactly between the two (driver hash-compares sorted values).
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** in the benchmarked set: `graft.Bench` times these entries, and
      * perfbench's `Batch.entries` runs them in both of its workloads */
    headline: Boolean = false)
