package graft

/** Keeps [[Pin]] the only way into materialization: a `.cache()`,
  * `.persist(` or `clearCache(` anywhere else in the main sources would be
  * a pin with no owner — released by nobody, or by a session-wide flush
  * that drops a concurrent app's caches. A raw `localCheckpoint(` or
  * `.checkpoint(` would be a tick no query releases, and a hand-placed
  * `unpersist(` a release no spec checks reaches the blocks. A loop drops
  * ticks by hand only where `Pin.rounds` cannot express it. */
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

  test("Pin.drop only in Pin.scala, Louvain's guarded passes and the streaming curator") {
    val hits = SourceLint.hits(Seq("Pin.drop("),
      "Pin.scala", "operators/GraphOps.scala", "examples/CurateCorpus.scala")
    assert(hits.isEmpty, "run the loop on Pin.rounds, which drops the ticks it replaces:\n" +
      hits.mkString("\n"))
  }
}
