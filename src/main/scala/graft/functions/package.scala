package graft

import org.apache.spark.sql.{Column, functions => F}

package object functions {

  /** The first `hexDigits` (at most 15) hex digits of `md5(input)` as a
    * non-negative BIGINT: the engine's deterministic hash for buckets,
    * shards, sketches and seeded picks. The DuckDB oracles spell it in SQL. */
  def md5Prefix(input: Column, hexDigits: Int): Column =
    F.conv(F.substring(F.md5(input), 1, hexDigits), 16, 10).cast("long")
}
