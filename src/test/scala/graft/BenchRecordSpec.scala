package graft

import java.util.Locale

import graft.ops.AppRegistry.LatencyHistogram
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** The bench's result line is one json4s value rendered once, so it stays
  * valid JSON, with the committed BENCH_r*.json keys, key order and
  * decimal places, whatever the JVM's default locale. */
class BenchRecordSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def run(loadAtSuite: Double) = Bench.Run(
    sfDir = "/data/sf0.1",
    queries = Seq(
      Bench.QueryRun("q_a", 1.5, 1.62349, ok = true, 0.125, 1.25, 0.04),
      Bench.QueryRun("q_b", 0.2, 0.3, ok = false, Double.NaN, 0.0, 0.0)),
    reps = 9, gateWaitedSec = 15L, regateWaitedSec = 0L, loadAtSuite = loadAtSuite,
    streamRps = 1234567.5, streamRpsSpread = 0.0333,
    latency = Some(Bench.LatencyReading(LatencyHistogram(20, 118.25, 110L, 150L, 170L, 180L),
      Map("walCommit" -> 4L, "addBatch" -> 60L)) -> 0.5),
    latencyAsync = None,
    latencyCont = Some(LatencyHistogram(10, 1.04, 1L, 2L, 3L, 4L) -> 0.0),
    loadStart = 0.75, loadEnd = 1.05, cpus = 32,
    scaling = Seq(0.001 -> Map("q_a" -> 0.1), 0.01 -> Map("q_a" -> 0.2), 0.1 -> Map("q_a" -> 1.5)))

  test("the result line parses under a German default locale, with fixed decimals and key order") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      // what the old f-interpolated line wrote for these numbers
      assert(f"${1.5}%.3f" == "1,500")
      val line = compact(render(Bench.record(run(loadAtSuite = 2.5))))
      val json = parse(line, useBigDecimalForDouble = true)
      val JObject(fields) = json: @unchecked
      assert(fields.map(_._1) == Seq("metric", "value", "unit", "total_median", "queries",
        "queries_median", "spread", "query_load", "query_ext_load", "load_gate_waited_sec",
        "regate_waited_sec", "load_at_suite_start", "reps", "errors", "stream_rows_per_sec",
        "stream_rows_per_sec_spread", "latency_ms_p50", "latency_ms_p95", "latency_ms_p99",
        "latency_ms_mean", "latency_ms_p50_spread", "latency_phase_ms",
        "latency_continuous_ms_p50", "latency_continuous_ms_p95", "latency_continuous_ms_p99",
        "latency_continuous_ms_mean", "latency_continuous_ms_p50_spread",
        "load_avg_start", "load_avg_end", "cpus", "noise_note", "scaling", "sf"))
      Seq("\"value\":1.500", "\"total_median\":1.623", "\"queries\":{\"q_a\":1.500,\"q_b\":null}",
        "\"spread\":{\"q_a\":0.13,\"q_b\":null}", "\"query_load\":{\"q_a\":1.3,\"q_b\":0.0}",
        "\"stream_rows_per_sec\":1234568,", "\"stream_rows_per_sec_spread\":0.03",
        "\"latency_ms_mean\":118.3", "\"latency_phase_ms\":{\"addBatch\":60,\"walCommit\":4}",
        "\"errors\":[\"q_b\"]", "\"load_avg_end\":1.1", "\"sfs\":[0.001,0.01,0.1]",
        "\"times\":{\"q_a\":[0.100,0.200,1.500],\"q_b\":[null,null,null]}",
        "\"slope_top_decade\":{\"q_a\":0.88,\"q_b\":null}", "\"load_avg_start\":0.8,",
        "\"sf\":\"/data/sf0.1\"}")
        .foreach(s => assert(line.contains(s), s"$s not in $line"))
      assert((json \ "noise_note").asInstanceOf[JString].s.startsWith("load_avg 2.5 at suite start"))
      // a quiet suite start writes no note
      assert(compact(render(Bench.record(run(loadAtSuite = 1.0)))).indexOf("noise_note") < 0)
    } finally Locale.setDefault(prev)
  }
}
