package graft.streaming

import graft.SparkTestBase

/** The Kafka helpers are config-only in this container (no Kafka connector
  * jars ship with /opt/spark/jars, so `.load()` cannot run) — this spec
  * pins the CONFIGURATION parity instead: the reference's startTime replay
  * (docs/contents/internals/gearpump-internals.md:210-227, timestamp ->
  * offset resolution) must surface as `startingTimestamp`, which covers every
  * partition of the topic (a `startingOffsetsByTimestamp` map must name each
  * assigned partition, so one naming only partition 0 fails at start on a
  * topic with more), and the
  * subscription/bootstrap options must match dev-connectors.md:33-80. The
  * reader's accumulated options are read through the private extraOptions
  * field — ugly, but the only way to assert without a broker. */
class KafkaConfigSpec extends SparkTestBase {

  private def optionsOf(r: Any): Map[String, String] = {
    val f = r.getClass.getDeclaredMethod("extraOptions")
    f.setAccessible(true)
    val m = f.invoke(r).asInstanceOf[scala.collection.Map[String, String]]
    m.map { case (k, v) => k.toLowerCase -> v }.toMap
  }
  private def sourceOf(r: Any): String = {
    val f = r.getClass.getDeclaredMethod("source")
    f.setAccessible(true)
    f.invoke(r).asInstanceOf[String]
  }

  test("kafkaReader maps the reference's replay-from-timestamp onto startingTimestamp") {
    val r = GraftSource.kafkaReader(spark, "broker:9092", "clicks",
      startTimestampMs = Some(1700000000000L))
    assert(sourceOf(r) === "kafka")
    val opts = optionsOf(r)
    assert(opts("kafka.bootstrap.servers") === "broker:9092")
    assert(opts("subscribe") === "clicks")
    assert(opts("startingtimestamp") === "1700000000000")
    assert(!opts.contains("startingoffsetsbytimestamp"))
  }

  test("kafkaReader without a replay point sets no offset override") {
    val opts = optionsOf(GraftSource.kafkaReader(spark, "b:9092", "t"))
    assert(!opts.contains("startingtimestamp"))
    assert(!opts.contains("startingoffsetsbytimestamp"))
  }
}
