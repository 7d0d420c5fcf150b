package graft

/** Keeps [[Pin]] the only way into materialization: a `.cache()`,
  * `.persist(` or `clearCache(` anywhere else in the main sources would be
  * a pin with no owner — released by nobody, or by a session-wide flush
  * that drops a concurrent app's caches. */
class MaterializationLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("no cache, persist or clearCache in src/main outside Pin.scala") {
    val hits = SourceLint.hits(Seq(".cache()", ".persist(", "clearCache("), "Pin.scala")
    assert(hits.isEmpty, "materialize through graft.Pin instead:\n" + hits.mkString("\n"))
  }
}
