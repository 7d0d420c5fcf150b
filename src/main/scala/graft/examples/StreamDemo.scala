package graft.examples
import graft.Engine
import graft.api.Pipeline
import graft.api.Pipeline._
import graft.streaming._
import org.apache.spark.sql.functions._

/** Library-surface drive: veneer pipeline + streaming wordcount + rate source. */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session("demo", "local[4]")
    import spark.implicits._

    // 1. Gearpump-shaped veneer over a batch source
    val lines = Seq("the quick brown fox", "the lazy dog", "the end").toDF("line")
    val wc = (Pipeline.from(lines)
      ~> Stage("split", _.select(explode(split(col("line"), " ")).as("word")))
      ~ HashEdge(4, Seq("word"))
      ~> Stage("sum", _.groupBy("word").count())).toDF
    println("VENEER_WC=" + wc.as[(String, Long)].collect().sortBy(_._1).mkString(","))

    // 2. live streaming query: MemoryStream -> window agg -> memory sink
    val in = GraftSource.memory[(java.sql.Timestamp, Double)](spark)
    val q = Windows.tumbling(in.toDS().toDF("ts", "v"), "ts", "10 seconds")
      .agg(Seq.empty, count(lit(1)).as("n"), sum(col("v")).as("s"))
      .select(col("window.start").cast("long").as("w"), col("n"), col("s"))
      .writeStream.outputMode("complete").format("memory").queryName("demo_out").start()
    in.addData((new java.sql.Timestamp(1000), 1.5), (new java.sql.Timestamp(5000), 2.5),
               (new java.sql.Timestamp(15000), 4.0))
    q.processAllAvailable()
    println("STREAM_WINDOWS=" + spark.table("demo_out").as[(Long, Long, Double)].collect().sortBy(_._1).mkString(","))
    q.stop()

    // 3. monoid aggregator through the typed API
    val agg = MonoidAggregator.longSumOf[Int](_.toLong)
    println("MONOID_SUM=" + spark.createDataset(1 to 100).select(agg.toColumn).head())

    // 4. ops introspection over a live query (REST-noun parity)
    val reg = new graft.ops.AppRegistry(spark)
    val opsIn = GraftSource.memory[Int](spark)
    val opsQ = opsIn.toDS().writeStream.format("noop").queryName("ops_live").start()
    opsIn.addData(1 to 1000: _*)
    opsQ.processAllAvailable()
    println("OPS_APPLIST=" + org.json4s.jackson.JsonMethods.compact(reg.applist))
    println("OPS_STALLING=" + reg.stalling(60000).size)
    opsQ.stop(); reg.close()

    // 5. SOL-parity rate source: measure pass-through rows/s for ~4s
    val rate = GraftSource.rate(spark, rowsPerSecond = 200000, payloadBytes = 100)
    val rq = rate.writeStream.format("noop").start()
    Thread.sleep(4000)
    val progress = rq.recentProgress.map(p => p.processedRowsPerSecond).filter(_ > 0)
    println(f"SOL_ROWS_PER_SEC=${if (progress.nonEmpty) progress.max else 0.0}%.0f")
    rq.stop()

    // 6. custom pull-source plugin (the reference's DataSource API) running
    // as a DataSource V2 micro-batch stream
    val pullQ = GraftSource.pull(spark, classOf[DemoPullSource],
        numPartitions = 2, batchSize = 4, maxBatches = 2)
      .writeStream.format("memory").queryName("pull_demo").start()
    pullQ.processAllAvailable()
    println("PULL_SOURCE_ROWS=" + spark.table("pull_demo").count())
    pullQ.stop()

    // 6b. exactly-once replayable pull source + the REST face: record
    // offsets in the WAL, live HTTP introspection while it runs
    DemoLedger.fill(8)
    val reg2 = new graft.ops.AppRegistry(spark)
    val srv = new graft.ops.OpsServer(spark, reg2).start()
    val repQ = GraftSource.replayablePull(spark, classOf[DemoReplayableSource],
        numPartitions = 1, maxRecordsPerTrigger = 3)
      .writeStream.format("memory").queryName("replay_demo").start()
    repQ.processAllAvailable()
    val http = new java.net.URI(
      s"http://127.0.0.1:${srv.boundPort}/api/v1.0/master").toURL.openStream()
    println("REPLAYABLE_ROWS=" + spark.table("replay_demo").count()
      + " REST_MASTER=" + new String(http.readAllBytes()).take(60) + "...")
    http.close(); repQ.stop(); srv.stop(); reg2.close()

    // 7. ingest-time near-dup detection: doc 31 (arriving in batch 2) is
    // flagged against doc 30 from batch 1 via stateful LSH band buckets
    val docs = GraftSource.memory[(Long, String)](spark)
    val dd = StreamingDedup.detect(spark, docs.toDS().toDF("doc_id", "text"))
      .toDF("doc_id", "dup_of")
      .writeStream.outputMode("append").format("memory").queryName("dedup_demo").start()
    val doc = "the quick brown fox jumps over the lazy dog near the quiet river bank at dawn"
    docs.addData((30L, doc)); dd.processAllAvailable()
    docs.addData((31L, doc.replace("quiet", "muddy"))); dd.processAllAvailable()
    println("STREAM_DEDUP=" + spark.table("dedup_demo").as[(Long, Long)].collect().toSet)
    dd.stop()

    // 8. CEP: click followed by purchase within 5 minutes, per user
    import graft.streaming.Cep
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val cepIn = GraftSource.memory[Cep.CepEvent](spark)
    val cepQ = Cep.detect(cepIn.toDS().withWatermark("ts", "10 seconds"),
        first = "click", second = "purchase", withinMs = 300000L)
      .writeStream.outputMode("append").format("memory").queryName("cep_demo").start()
    cepIn.addData(
      Cep.CepEvent("u1", "click", ts("2024-01-01 10:00:00")),
      Cep.CepEvent("u1", "purchase", ts("2024-01-01 10:02:30")))
    cepQ.processAllAvailable()
    println("CEP_MATCHES=" + spark.table("cep_demo").count())
    cepQ.stop()
    spark.stop()
  }
}

/** In-memory record log backing the replayable-source demo. */
object DemoLedger {
  @volatile var n = 0
  def fill(k: Int): Unit = n = k
}

/** Record-offset-addressable demo source (see ReplayableSourceSpec). */
class DemoReplayableSource extends graft.sources.ReplayablePullDataSource {
  def open(partitionId: Int): Unit = ()
  def available(partitionId: Int): Long = DemoLedger.n.toLong
  def read(partitionId: Int, offset: Long): graft.sources.PullMessage =
    graft.sources.PullMessage(s"r$offset", 1700000000000L + offset)
  def close(): Unit = ()
}

/** Bounded deterministic pull source for the demo (see PullSourceSpec). */
class DemoPullSource extends graft.sources.PullDataSource {
  private var pid = 0
  private var i = 0
  def open(partitionId: Int, startBatch: Long): Unit = { pid = partitionId; i = (startBatch * 4).toInt }
  def read(): graft.sources.PullMessage =
    if (i >= 6) null
    else { val m = graft.sources.PullMessage(s"p$pid-m$i", 1700000000000L + i); i += 1; m }
  def close(): Unit = ()
}
