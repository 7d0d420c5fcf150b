package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The round-8 lesson, pinned: a query that throws inside the verify dump
  * must be LOUD in the artifact — a guaranteed-red marker parquet plus
  * errors.json — never silently absent from the driver's JSON. */
class VerifySpec extends SparkTestBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-verify-spec").toString

  private val good: (SparkSession, String) => DataFrame =
    (s, _) => { import s.implicits._; Seq((1L, "a")).toDF("k", "v") }
  private val boom: (SparkSession, String) => DataFrame =
    (s, _) => s.read.parquet("/nonexistent/verify-spec-path")

  test("a deliberately-broken query leaves a red marker parquet and errors.json") {
    val out = tmp()
    val failed = Verify.dump(spark,
      Seq("ok_query" -> good, "broken_query" -> boom), sf, out)
    assert(failed.keySet === Set("broken_query"))
    // healthy query dumped normally
    assert(spark.read.parquet(s"$out/ok_query").count() === 1)
    // broken query dumped a marker whose schema can never match an oracle
    val marker = spark.read.parquet(s"$out/broken_query")
    assert(marker.columns.toSeq === Seq("_graft_error"))
    assert(marker.head().getString(0).nonEmpty)
    // and the failure is machine-readable in errors.json
    val ej = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/errors.json"))
    assert(ej.contains("broken_query"), ej)
  }

  test("SURVEY §2.11a inventory names every registry query and its declared count is exact") {
    // inventory drift has shipped twice (mm_seq_budget in r11); the
    // inventory is the judge's contract, so pin it permanently: every
    // registry name must appear in the §2.11a section and the section's
    // declared total must equal the registry size.
    val survey = java.nio.file.Files.readString(java.nio.file.Paths.get("SURVEY.md"))
    val start = survey.indexOf("### 2.11a")
    assert(start >= 0, "SURVEY.md lost its §2.11a inventory section")
    val rest = survey.substring(start)
    val ends = Seq(rest.indexOf("\n### ", 5), rest.indexOf("\n## ", 5)).filter(_ > 0)
    val section = rest.substring(0, if (ends.isEmpty) rest.length else ends.min)
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size, "duplicate registry names")
    val missing = names.filterNot(n =>
      ("\\b" + java.util.regex.Pattern.quote(n) + "\\b").r.findFirstIn(section).isDefined)
    assert(missing.isEmpty,
      s"registry queries missing from SURVEY §2.11a: ${missing.mkString(", ")}")
    val declared = "(?m)^(\\d+) queries".r.findFirstMatchIn(section).map(_.group(1).toInt)
    assert(declared.contains(names.size),
      s"SURVEY §2.11a declares $declared queries; registry has ${names.size}")
    // README's Correctness paragraph repeats the count — pin it too (it
    // drifted 248→272 inside round 12 before this check existed)
    val readme = java.nio.file.Files.readString(java.nio.file.Paths.get("README.md"))
    val oracled = SparkEntry.registry.count(_.oracle.isDefined)
    val want = s"(${oracled} oracled + ${names.size - oracled} rows-only queries = ${names.size}"
    assert(readme.contains(want),
      s"README correctness count is stale: expected '$want'")
  }

  test("errors.json merges by what ran: fixed queries clear, untouched records survive") {
    val out = tmp()
    Verify.dump(spark, Seq("broken_query" -> boom, "other_broken" -> boom), sf, out)
    val ep = java.nio.file.Paths.get(s"$out/errors.json")
    assert(java.nio.file.Files.exists(ep))
    // subset re-run of ONE now-fixed query clears its record only
    Verify.dump(spark, Seq("broken_query" -> good), sf, out)
    val after = java.nio.file.Files.readString(ep)
    assert(!after.contains("broken_query\"") || after.contains("other_broken"),
      after)
    assert(after.contains("other_broken"), s"untouched record dropped: $after")
    assert(!after.contains("\"broken_query\""), s"fixed query still red: $after")
    // a subset run of an unrelated query preserves the remaining record
    Verify.dump(spark, Seq("ok_query" -> good), sf, out)
    assert(java.nio.file.Files.readString(ep).contains("other_broken"))
    // fixing the last one deletes the file
    Verify.dump(spark, Seq("other_broken" -> good), sf, out)
    assert(!java.nio.file.Files.exists(ep), "clean state left stale errors.json")
  }

  test("errors.json carries a message with a tab, quote, backslash and control character unchanged") {
    val out = tmp()
    val msg = "tab\there \"quoted\" back\\slash \u0001 end"
    val odd: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException(msg)
    Verify.dump(spark, Seq("odd_query" -> odd), sf, out)
    val ej = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/errors.json"))
    assert(org.json4s.jackson.JsonMethods.parse(ej) \ "odd_query" ===
      org.json4s.JString(s"IllegalStateException: $msg"), ej)
  }
}
