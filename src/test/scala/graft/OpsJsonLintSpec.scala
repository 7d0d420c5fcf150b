package graft

/** Keeps JSON a json4s value until it is rendered: a body spliced together
  * by string interpolation is one unescaped input or locale-formatted
  * number away from invalid JSON. */
class OpsJsonLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("no hand-built JSON or string escaper in src/main outside the open remainder") {
    val hits = SourceLint.hits(Seq("jstr", "\"\"\"{\""))
    assert(hits.isEmpty, "build a json4s value (JsonDSL) and render it once instead:\n" + hits.mkString("\n"))
  }
}
