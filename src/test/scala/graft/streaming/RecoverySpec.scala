package graft.streaming

import java.nio.file.Files
import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_seconds, window}

object RecoveryCollector {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
}

/** Delivery-semantics parity (SURVEY §2.9): the reference recovers by
  * checkpoint + source replay from the min clock
  * (reference: docs/contents/internals/gearpump-internals.md:132-187,
  * appmaster/ClockService.scala:315-321); Spark's equivalent is the WAL
  * offset log in checkpointLocation. Kill the query, add more input,
  * restart from the same checkpoint: every record exactly once. */
class RecoverySpec extends SparkTestBase {

  // the file source lists files at the top level: write each batch
  // elsewhere, then move its part-file into inDir
  private def addPart(inDir: String, name: String, df: DataFrame): Unit = {
    val tmp = Files.createTempDirectory("graft-stage").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, java.nio.file.Paths.get(inDir, s"$name.parquet"))
    ()
  }

  test("restart from checkpoint neither loses nor duplicates records") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-in").toString
    val ckDir = Files.createTempDirectory("graft-ck").toString
    RecoveryCollector.seen.clear()

    def startQuery() = {
      val stream = spark.readStream
        .schema(spark.range(1).toDF("id").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir)
      stream.writeStream
        .option("checkpointLocation", ckDir)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.as[Long].collect().foreach(RecoveryCollector.seen.add); ()
        }
        .start()
    }

    def addFile(from: Long, until: Long): Unit =
      addPart(inDir, s"batch-$from", spark.range(from, until).toDF("id"))

    addFile(1, 6)
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop() // "executor crash"

    addFile(6, 11)
    val q2 = startQuery() // recovery: same checkpoint, replays only unseen offsets
    q2.processAllAvailable(); q2.stop()

    import scala.jdk.CollectionConverters._
    assert(RecoveryCollector.seen.asScala.toSeq.sorted === (1L to 10L))
  }

  test("a restart keeps the state partitions its checkpoint recorded") {
    val inDir = Files.createTempDirectory("graft-in").toString
    val ckDir = Files.createTempDirectory("graft-ck").toString
    val counts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val key = "spark.sql.shuffle.partitions"

    def startQuery(session: SparkSession) =
      session.readStream.schema("ts TIMESTAMP").option("maxFilesPerTrigger", 1).parquet(inDir)
        .groupBy(window(col("ts"), "10 seconds")).count()
        .select(col("window.start").cast("long"), col("count"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckDir)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach(r => counts.put(r.getLong(0), r.getLong(1))); ()
        }
        .start()

    def addSeconds(name: String, secs: Long*): Unit = {
      import spark.implicits._
      addPart(inDir, name, secs.toDF("s").select(timestamp_seconds(col("s")).as("ts")))
    }

    // first start on a session 8 wide: the stateful count takes 8 partitions
    val eight = spark.newSession()
    eight.conf.set(key, "8")
    addSeconds("a", 1, 2, 3)
    val q1 = startQuery(eight)
    q1.processAllAvailable(); q1.stop()
    assert(counts.get(0L) === 3L)

    // restart on the shared 4-wide session from the same checkpoint
    addSeconds("b", 4, 5, 12)
    val q2 = startQuery(spark)
    q2.processAllAvailable(); q2.stop()

    import scala.jdk.CollectionConverters._
    assert(counts.asScala.toMap === Map(0L -> 5L, 10L -> 1L), "counts are cumulative across the restart")
    val offsets = new java.io.File(ckDir, "offsets").listFiles().filter(_.getName.forall(_.isDigit))
    val last = offsets.maxBy(_.getName.toLong)
    assert(Files.readString(last.toPath).contains(s"\"$key\":\"8\""),
      s"${last.getName} no longer records 8 partitions")
    val stateParts = new java.io.File(ckDir, "state/0").list().filter(_.forall(_.isDigit))
    assert(stateParts.length === 8)
    assert(spark.conf.get(key) === "4", "the restart leaves the shared session's width alone")
  }
}
