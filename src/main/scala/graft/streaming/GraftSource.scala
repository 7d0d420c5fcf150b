package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Source factories mirroring the reference's connector inventory
  * (SURVEY §2.2). The reference pulls records one at a time through
  * `DataSource.open/read/close/getWatermark`
  * (reference: streaming/src/main/scala/io/gearpump/streaming/source/DataSource.scala:41-72)
  * driven by a batching task
  * (reference: source/DataSourceTask.scala:35-78, batch size 1000 at :48);
  * in Spark the micro-batch engine IS that loop, so a "source" here is a
  * factory for a (possibly streaming) Dataset, and the batch-size analog is
  * `maxOffsetsPerTrigger` / `maxFilesPerTrigger`.
  */
object GraftSource {

  /** CollectionDataSource parity (reference: docs/contents/dev/dev-connectors.md:14-19):
    * a finite in-memory collection as a batch Dataset. */
  def collection[T: Encoder](spark: SparkSession, data: Seq[T]): Dataset[T] =
    spark.createDataset(data)(implicitly[Encoder[T]])

  /** Driveable in-process stream for tests and local runs — the analog of
    * the reference's in-code generator sources (e.g. wordcount `Split`,
    * reference: examples/streaming/wordcount/.../Split.scala:24-52). */
  def memory[T: Encoder](spark: SparkSession): MemoryStream[T] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    MemoryStream[T]
  }

  /** SOL-producer parity (reference: examples/streaming/sol/.../SOLStreamProducer.scala:41-55):
    * an unbounded rate stream of fixed-size payloads with event time. */
  def rate(spark: SparkSession, rowsPerSecond: Long, payloadBytes: Int = 100,
      numPartitions: Int = 0): DataFrame = {
    val r = spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond)
    // default (0): the source's own default, the cluster's parallelism —
    // right for throughput; latency probes pass a small explicit value so
    // a tiny batch isn't spread across 32 task launches
    val r2 = if (numPartitions > 0) r.option("numPartitions", numPartitions) else r
    solPayload(r2.load(), payloadBytes)
  }

  /** Same SOL payload over the `rate-micro-batch` source: exactly
    * `rowsPerBatch` rows per micro-batch regardless of processing speed.
    * Fixed batch sizes make saturation throughput measurable from many
    * uniform samples — the plain `rate` source at an above-capacity ask
    * grows its backlog without bound, so a probe window sees only one or
    * two giant (and memory-hungry) batches. */
  def rateFixedBatch(spark: SparkSession, rowsPerBatch: Long, payloadBytes: Int = 100): DataFrame =
    solPayload(spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      // unlike `rate`, this source does NOT default numPartitions to the
      // cluster's parallelism — unset, every batch generates on ONE task
      // and the probe measures a single core
      .option("numPartitions", spark.sparkContext.defaultParallelism)
      .load(), payloadBytes)

  private def solPayload(raw: DataFrame, payloadBytes: Int): DataFrame = {
    // Reference producer parity (SOLStreamProducer.scala:42-56,58-60): it
    // pre-builds 100 random digit-strings of `sizeInBytes` at onStart and
    // every message is messages(rand.nextInt(100)) — an array pick, never
    // per-message string construction. Mirror that: a deterministic pool
    // of 100 payloads built once on the driver, indexed by value % 100.
    val rand = new java.util.Random(42)
    val pool = Array.fill(100)(
      Iterator.continually(rand.nextInt(9)).take(payloadBytes).mkString)
    val poolCol = array(pool.map(lit(_)): _*)
    raw.select(col("timestamp").as("event_time"),
      element_at(poolCol, (col("value") % 100 + 1).cast("int")).as("payload"))
  }

  /** Streaming file source (HDFS-connector parity, SURVEY §2.2): new files
    * in `path` become micro-batches; offsets checkpointed in the WAL give
    * at-least-once replay exactly like the reference's
    * TimeReplayableSource (reference: transaction/api/TimeReplayableSource.scala:25-31). */
  def fileStream(spark: SparkSession, path: String, schemaFrom: DataFrame,
      maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .schema(schemaFrom.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** Custom pull-source plugin (the reference's DataSource API,
    * reference: streaming/src/main/scala/io/gearpump/streaming/source/DataSource.scala:41-72)
    * as a Structured Streaming source via the DataSource V2 adapter
    * (graft.sources.PullSourceProvider). `numPartitions` = source
    * parallelism, `batchSize` = gearpump.source.read.batch.size,
    * `maxBatches` > 0 bounds the stream (tests / AvailableNow-style drains). */
  def pull(spark: SparkSession, clazz: Class[_ <: graft.sources.PullDataSource],
      numPartitions: Int = 1, batchSize: Int = 1000, maxBatches: Long = 0L): DataFrame =
    spark.readStream.format(classOf[graft.sources.PullSourceProvider].getName)
      .option("class", clazz.getName)
      .option("numPartitions", numPartitions)
      .option("batchSize", batchSize)
      .option("maxBatches", maxBatches)
      .load()

  /** EXACTLY-ONCE custom pull source (the reference's TimeReplayableSource,
    * reference: transaction/api/TimeReplayableSource.scala:20-31): records
    * are addressed by per-partition record offsets checkpointed in the
    * offset WAL, so a replayed epoch re-reads the same records. Pair with an
    * epoch-idempotent sink (GraftSink.foreachBatchIdempotent / file sink)
    * for end-to-end exactly-once. `maxRecordsPerTrigger` > 0 bounds each
    * micro-batch (flow control); an idle source quiesces (drains terminate). */
  def replayablePull(spark: SparkSession,
      clazz: Class[_ <: graft.sources.ReplayablePullDataSource],
      numPartitions: Int = 1, maxRecordsPerTrigger: Long = 0L): DataFrame =
    spark.readStream.format(classOf[graft.sources.ReplayablePullSourceProvider].getName)
      .option("class", clazz.getName)
      .option("numPartitions", numPartitions)
      .option("maxRecordsPerTrigger", maxRecordsPerTrigger)
      .load()

  /** Kafka source configuration (reference: docs/contents/dev/dev-connectors.md:33-80;
    * timestamp->offset replay per docs/contents/internals/gearpump-internals.md:210-227).
    * Offline container — returns the fully-configured reader; `.load()` is
    * the caller's when brokers exist. `startTimestampMs` maps the
    * reference's startTime replay to `startingTimestamp`, which applies to
    * every partition of the topic (`startingOffsetsByTimestamp` would have
    * to name each assigned partition, or the query fails at start). */
  def kafkaReader(spark: SparkSession, brokers: String, topic: String,
      startTimestampMs: Option[Long] = None) = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
    startTimestampMs.fold(r)(ts => r.option("startingTimestamp", ts))
  }
}
