package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps [[Pin]] the only way into materialization: a `.cache()`,
  * `.persist(` or `clearCache(` anywhere else in the main sources would be
  * a pin with no owner — released by nobody, or by a session-wide flush
  * that drops a concurrent app's caches. */
class MaterializationLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val forbidden = Seq(".cache()", ".persist(", "clearCache(")

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no cache, persist or clearCache in src/main outside Pin.scala") {
    val sources = mainSources
    assert(sources.exists(_.endsWith("graft/Pin.scala")), s"no sources found under ${sources.headOption}")
    val hits = for {
      f <- sources if !f.endsWith("graft/Pin.scala")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      token <- forbidden if line.contains(token)
    } yield s"$f:${i + 1}: $token"
    assert(hits.isEmpty, "materialize through graft.Pin instead:\n" + hits.mkString("\n"))
  }
}
