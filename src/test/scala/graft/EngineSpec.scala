package graft

/** A session's shuffle width follows its master's task slots; on a
  * cluster master the deployment sets it. */
class EngineSpec extends SparkTestBase {

  private val key = "spark.sql.shuffle.partitions"

  test("shuffle partitions are the local master's slots, and unset on any other master") {
    assert(Engine.parallelism("local") === Map(key -> "1"))
    assert(Engine.parallelism("local[3]") === Map(key -> "3"))
    assert(Engine.parallelism("local[*]") ===
      Map(key -> Runtime.getRuntime.availableProcessors.toString))
    assert(Engine.parallelism("local[2,5]") === Map(key -> "2"))
    assert(Engine.parallelism("spark://h:7077") === Map.empty)
  }

  test("the shared test session runs 4 shuffle partitions on local[4]") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get(key) === "4")
  }
}
