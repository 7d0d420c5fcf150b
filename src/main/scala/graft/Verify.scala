package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run each query, dumping its result to `outDir/<name>`. A query that
    * throws must NOT vanish from the driver's JSON (round 8 proved the
    * silent path hides real breakage): it gets a 1-row parquet whose schema
    * can never match an oracle — a guaranteed-red rows/schema/hash row —
    * and the messages land in `outDir/errors.json`. Returns the failures.
    *
    * errors.json is MERGED per run, keyed by what actually ran: a query
    * that ran here drops its stale record (and re-adds itself if it failed
    * again); records for queries NOT in this run are preserved — so a
    * subset re-check of a fixed query goes green without a full run, while
    * never vouching for queries it didn't touch. */
  private[graft] def dump(spark: SparkSession,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, outDir: String): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try {
        // the query releases whatever it pinned and ticked, on success
        // and failure alike, and only that: no session-wide cache flush
        Pin.query {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name FAILED: $msg")
        failed(name) = msg
        // the marker write can itself fail (disk full, dead context after
        // an OOM) — that must not abort the remaining queries
        try {
          import spark.implicits._
          Seq(msg).toDF("_graft_error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name marker write failed too: $e2")
        }
      }
    }
    // merge with any prior record: queries that ran here own their entry
    // (cleared on success, rewritten on failure); untouched queries keep
    // theirs. The file exists only when something is red (a stray
    // non-directory in outDir would confuse rows-only enumeration).
    val ep = Paths.get(s"$outDir/errors.json")
    val ran = queries.map(_._1).toSet
    val stale: Map[String, String] =
      if (!Files.exists(ep)) Map.empty
      else try {
        import org.json4s._
        org.json4s.jackson.JsonMethods.parse(Files.readString(ep)) match {
          case JObject(fs) => fs.collect { case (k, JString(v)) => (k, v) }.toMap
          case _ => Map.empty
        }
      } catch { case _: Throwable => Map.empty } // unreadable: rebuild fresh
    val merged = (stale -- ran) ++ failed
    if (merged.nonEmpty) {
      Files.writeString(ep, json(merged.toSeq.sortBy(_._1)))
    } else {
      Files.deleteIfExists(ep); ()
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: ${failed.keys.mkString(", ")}")
    failed.toMap
  }

  /** A flat JSON object of strings. The oracle compare parses these
    * files, so every control character a message may hold must come out
    * escaped. */
  private def json(fields: Seq[(String, String)]): String = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.compact(
      JObject(fields.map { case (k, v) => k -> JString(v) }.toList))
  }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query names — local iteration only]
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, n) => (s, o, Some(n.split(",").toSet))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [comma-separated query names]")
        sys.exit(2)
    }
    val master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"
    // not Engine.session: the dump keeps Spark's default INT96 parquet
    // timestamps; Engine's TIMESTAMP_MICROS would make the DuckDB oracle
    // compare (scripts/check.py) read them as TIMESTAMPTZ
    val spark = SparkSession.builder()
      .master(master)
      .config(Engine.parallelism(master))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", Engine.CodegenCacheMaxEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Engine.install(spark)
    dump(spark,
      SparkEntry.queries.toSeq.filter { case (name, _) => only.forall(_.contains(name)) },
      sfDir, outDir)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json(SparkEntry.oracleSql.toSeq))
    spark.stop()
    // deliberately rc=0 even on per-query failure: the red-row parquet +
    // errors.json are the signal; a nonzero rc could make a harness discard
    // the 100+ healthy results along with the broken one.
  }
}
