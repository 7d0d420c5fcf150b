package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Guards the one oracle-authoring rule that has produced driver hash-reds:
  * DuckDB widens `sum(<integer>)` to HUGEINT (int128) while Spark keeps
  * BIGINT, and the driver's hash compare is type-sensitive — so identical
  * values still mismatch (r6 reds: ev_interval_join_auto/binned,
  * q43_join_six). Every integer-producing `sum(...)` in an oracle must be
  * neutralized: wrapped in an outer `CAST(... AS BIGINT/DOUBLE)` (directly
  * or through transparent wrappers like coalesce), or consumed by an
  * operator that changes the type anyway (division, comparison, round/
  * floor). This spec statically scans every `GraftQuery.oracle` and fails
  * with the offending query name + snippet — it would have caught all
  * three r6 reds before the driver did. */
class OracleTypeDisciplineSpec extends AnyFunSuite {

  /** Functions whose result over an integer argument is still integer in
    * DuckDB — their presence marks the sum argument integer-typed. */
  private val IntFns = Seq(
    "epoch_us(", "epoch_ms(", "epoch_ns(", "epoch(", "unix_micros(",
    "unix_millis(", "unix_seconds(", "datediff(", "date_diff(", "len(",
    "length(", "strlen(", "levenshtein(", "hamming(", "count(",
    "row_number(", "bit_count(")

  /** Markers that force the argument to DOUBLE regardless of columns. */
  private val DoubleMarkers = Seq(
    "/", "round(", "sqrt(", "pow(", "power(", "exp(", "ln(", "log(",
    "avg(", "stddev", "var_")

  /** Wrappers that pass the aggregate's type through unchanged — keep
    * walking outward past these when looking for a neutralizing CAST. */
  private val Transparent = Set("coalesce", "abs", "greatest", "least", "nullif")

  /** Wrappers that re-type the aggregate (CAST picks the target type;
    * round/floor/ceil produce DOUBLE in DuckDB). */
  private val Neutralizing = Set("cast", "try_cast", "round", "floor", "ceil", "ceiling", "sqrt")

  private val FloatLit = "[0-9]\\.[0-9]".r
  private val IntCast = "(?i)as\\s+(bigint|hugeint|integer|int|smallint|tinyint|ubigint|uinteger)\\b".r
  private val Ident = "[a-zA-Z_][a-zA-Z0-9_]*".r

  /** Column → Spark type name, from the driver's own parquet tables, so the
    * integer/double call matches what DuckDB actually reads. */
  private lazy val colTypes: Map[String, String] = {
    val spark = Engine.session("graft-test", "local[4]")
    Tables.names.flatMap { n =>
      Tables.t(spark, "/root/testdata/sf0.001", n)
        .schema.fields.map(f => f.name.toLowerCase -> f.dataType.typeName)
    }.toMap
  }

  private val IntTypes = Set("long", "integer", "short", "byte")
  private val FloatTypes = Set("double", "float", "decimal")

  private val Keywords = Set(
    "case", "when", "then", "else", "end", "and", "or", "not", "is", "null",
    "as", "distinct", "filter", "where", "over", "partition", "by", "order",
    "interval", "minute", "second", "hour", "day", "between", "in", "like",
    "true", "false", "asc", "desc", "rows", "range", "preceding", "following",
    "current", "row", "unbounded")

  /** Index of the ')' matching the '(' at `open`. */
  private def closeOf(s: String, open: Int): Int = {
    var depth = 0; var i = open
    while (i < s.length) {
      s(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    s.length - 1
  }

  private def prevNonWs(s: String, from: Int): Int = {
    var i = from
    while (i >= 0 && s(i).isWhitespace) i -= 1
    i
  }

  private def nextNonWs(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && s(i).isWhitespace) i += 1
    i
  }

  /** Walk outward through enclosing call wrappers from position `pos`
    * (start of `sum`). Returns true if a Neutralizing wrapper (CAST/round/
    * floor) encloses the sum before any opaque context. */
  private def neutralizedOutward(sql: String, pos: Int): Boolean = {
    var i = prevNonWs(sql, pos - 1)
    while (i >= 0 && sql(i) == '(') {
      var j = prevNonWs(sql, i - 1)
      val endId = j
      while (j >= 0 && (sql(j).isLetterOrDigit || sql(j) == '_')) j -= 1
      val id = sql.substring(j + 1, endId + 1).toLowerCase
      if (Neutralizing(id)) return true
      if (!Transparent(id)) return false
      i = prevNonWs(sql, j)
    }
    false
  }

  /** True if the sum's value is consumed by an operator that changes its
    * type or never reaches the output (division, comparison). */
  private def neutralizedForward(sql: String, close: Int): Boolean = {
    var i = nextNonWs(sql, close + 1)
    // skip a FILTER (WHERE ...) clause attached to the aggregate
    if (sql.regionMatches(true, i, "filter", 0, 6)) {
      val p = nextNonWs(sql, i + 6)
      if (p < sql.length && sql(p) == '(') i = nextNonWs(sql, closeOf(sql, p) + 1)
    }
    // skip an OVER (...) window clause — the framed sum has the same type
    if (sql.regionMatches(true, i, "over", 0, 4)) {
      val p = nextNonWs(sql, i + 4)
      if (p < sql.length && sql(p) == '(') i = nextNonWs(sql, closeOf(sql, p) + 1)
    }
    i < sql.length && "/<>=".contains(sql(i))
  }

  /** Is the char before `pos` part of an identifier (e.g. `list_sum`)? */
  private def midWord(sql: String, pos: Int): Boolean =
    pos > 0 && (sql(pos - 1).isLetterOrDigit || sql(pos - 1) == '_')

  /** Classify the sum argument: Some(reason) if it is integer-typed in
    * DuckDB (and would widen to HUGEINT), None if double/unknown-safe. */
  private def integerArg(arg: String): Option[String] = {
    val lower = arg.toLowerCase
    if (DoubleMarkers.exists(lower.contains) || FloatLit.findFirstIn(lower).isDefined)
      None
    else if (IntCast.findFirstIn(lower).isDefined)
      Some("argument carries an integer CAST")
    else if (IntFns.exists(lower.contains))
      Some("argument uses an integer-returning function")
    else {
      val ids = Ident.findAllMatchIn(lower).filterNot { m =>
        val after = nextNonWs(lower, m.end)
        after < lower.length && lower(after) == '(' // function call
      }.map(_.matched).filterNot(Keywords).toSeq.distinct
      val types = ids.map(id => id -> colTypes.get(id))
      if (types.exists(_._2.exists(t => FloatTypes.exists(t.startsWith)))) None
      else if (ids.isEmpty) Some("integer-literal argument")
      else if (types.forall(_._2.exists(IntTypes))) Some(s"integer columns ${ids.mkString(",")}")
      else Some(s"unresolved identifiers ${types.filter(_._2.isEmpty).map(_._1).mkString(",")} (assume integer)")
    }
  }

  test("every integer-producing sum() in an oracle is CAST-neutralized") {
    val violations = SparkEntry.registry.flatMap { q =>
      q.oracle.toSeq.flatMap { sql =>
        var idx = sql.toLowerCase.indexOf("sum(")
        val found = Seq.newBuilder[String]
        while (idx >= 0) {
          if (!midWord(sql, idx)) {
            val open = idx + 3
            val close = closeOf(sql, open)
            val arg = sql.substring(open + 1, close)
            if (!neutralizedOutward(sql, idx) && !neutralizedForward(sql, close))
              integerArg(arg).foreach { why =>
                found += s"${q.name}: sum(${arg.trim.take(60)}…) — $why; " +
                  "wrap in CAST(sum(...) AS BIGINT) (DuckDB widens to HUGEINT and the driver hash is type-sensitive)"
              }
          }
          idx = sql.toLowerCase.indexOf("sum(", idx + 4)
        }
        found.result()
      }
    }
    assert(violations.isEmpty, violations.mkString("\n", "\n", ""))
  }

  /** r9's only red row: emb_random_projection emitted a top-level ARRAY
    * column and the driver's pandas comparator crashed sorting numpy
    * arrays (`TypeError: unhashable type`). Arrays/maps/structs in an
    * oracled output are therefore banned outright — flatten to scalar
    * columns (p00..p15) or explode to rows. Schema derivation is
    * analysis plus whatever ticks the entry cuts while it builds; the
    * [[Pin.query]] releases those and its caches. */
  test("no oracled query emits a top-level ARRAY/MAP/STRUCT output column") {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val spark = Engine.session("graft-test", "local[4]")
    val dir = "/root/testdata/sf0.001"
    def complexCols(schema: StructType): Seq[String] =
      schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] => s"${f.name}: array"
        case f if f.dataType.isInstanceOf[MapType] => s"${f.name}: map"
        case f if f.dataType.isInstanceOf[StructType] => s"${f.name}: struct"
      }.toSeq
    // the lint itself must catch an array output (the r9 failure shape)
    val bad = Tables.t(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    assert(complexCols(bad.schema).nonEmpty, "lint failed to flag an array column")
    val violations = SparkEntry.registry.filter(_.oracle.isDefined).flatMap { q =>
      complexCols(Pin.query(q.run(spark, dir).schema)).map { c =>
        s"${q.name}: output column $c — the driver's pandas comparator cannot sort " +
          "array/map cells; flatten to scalar columns or explode to rows"
      }
    }
    assert(violations.isEmpty, violations.mkString("\n", "\n", ""))
  }
}
