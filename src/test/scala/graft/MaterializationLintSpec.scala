package graft

/** Keeps [[Pin]] the only way into materialization: a `.cache()`,
  * `.persist(` or `clearCache(` anywhere else in the main sources would be
  * a pin with no owner — released by nobody, or by a session-wide flush
  * that drops a concurrent app's caches. A raw `localCheckpoint(` or
  * `.checkpoint(` would be a tick no query releases, and a hand-placed
  * `unpersist(` a release no spec checks reaches the blocks. */
class MaterializationLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("no cache, persist or clearCache in src/main outside Pin.scala") {
    val hits = SourceLint.hits(Seq(".cache()", ".persist(", "clearCache("), "Pin.scala")
    assert(hits.isEmpty, "materialize through graft.Pin instead:\n" + hits.mkString("\n"))
  }

  test("no localCheckpoint, checkpoint or unpersist in src/main outside Pin.scala") {
    val hits = SourceLint.hits(
      Seq("localCheckpoint(", ".checkpoint(", "unpersist(", "ReleaseBlocks("), "Pin.scala")
    assert(hits.isEmpty, "cut lineage with Pin.tick and release with Pin.drop instead:\n" +
      hits.mkString("\n"))
  }
}
