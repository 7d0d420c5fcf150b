package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Token lint over the main sources, shared by the lint specs. */
object SourceLint {

  def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** `file:line: token` for every line holding one of `tokens`, in every
    * main source except the `allowed` files (paths under `graft/`). */
  def hits(tokens: Seq[String], allowed: String*): Seq[String] = {
    val sources = mainSources
    assert(allowed.forall(a => sources.exists(_.endsWith(s"graft/$a"))),
      s"an allowed file is missing under ${sources.headOption}")
    for {
      f <- sources if !allowed.exists(a => f.endsWith(s"graft/$a"))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      token <- tokens if line.contains(token)
    } yield s"$f:${i + 1}: $token"
  }
}
