package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session via getOrCreate).
  *
  * Suite hygiene: all ~50 suites run sequentially in ONE forked JVM.
  * Registry queries called outside a [[Pin.query]] leave the ticks their
  * loops did not drop, and the frames they reuse, as checkpoints held
  * until GC lets the ContextCleaner reap them (inside a query they are
  * released when it ends); specs may cache frames themselves, and
  * streaming specs leave memory-sink tables behind. Without per-suite cleanup those pin heap
  * until, on an unlucky ordering, the JVM tips into a full-GC spiral and a
  * trivial job (seen live: a 24-node connected-components iteration) runs
  * for half an hour against a 99.9%-full old gen. Each suite therefore
  * drops the SQL cache and its temp views on exit and nudges GC so the
  * ContextCleaner can reap dead broadcast/checkpoint blocks. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Engine.session("graft-test", "local[4]")
  lazy val sf: String = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    try {
      spark.sharedState.cacheManager.clearCache()
      spark.catalog.listTables().collect()
        .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
      System.gc()
    } catch { case _: Throwable => () }
    super.afterAll()
  }
}
