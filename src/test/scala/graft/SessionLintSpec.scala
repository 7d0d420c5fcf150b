package graft

/** Keeps [[Engine]] the only writer of session state. OpsServer runs apps
  * concurrently on one session, so a conf flip, a rule, a function or a
  * listener added on a query path would change every other app's plans. */
class SessionLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("no session conf, rule, function or listener writes in src/main outside Engine.scala") {
    val hits = SourceLint.hits(Seq("conf.set(", "extraOptimizations",
      "createOrReplaceTempFunction", "registerFunction(", "listenerManager.register"),
      "Engine.scala")
    assert(hits.isEmpty, "apply session state in graft.Engine.install instead:\n" + hits.mkString("\n"))
  }

  test("no temp view is registered in src/main outside Tables.registerAll") {
    // a view is the whole session's: an entry binds its tables with
    // Tables.sql for its one query instead
    val hits = SourceLint.hits(Seq("createOrReplaceTempView", "createTempView",
      "createGlobalTempView", "createOrReplaceGlobalTempView"), "Tables.scala")
    assert(hits.isEmpty, "bind the names with graft.Tables.sql instead:\n" + hits.mkString("\n"))
  }

  test("no literal shuffle-partition count in src/main") {
    // the width follows the session's slots (Engine.parallelism); a literal
    // fallback disagrees with whatever session the code runs on
    val hits = SourceLint.hits(Seq("shuffle.partitions\", \""))
    assert(hits.isEmpty, "read the session's sessionState.conf.numShufflePartitions instead:\n" +
      hits.mkString("\n"))
  }

  test("sessions are built only by Engine and Verify") {
    val hits = SourceLint.hits(Seq("SparkSession.builder"), "Engine.scala", "Verify.scala")
    assert(hits.isEmpty, "get the session from graft.Engine.session instead:\n" + hits.mkString("\n"))
  }
}
