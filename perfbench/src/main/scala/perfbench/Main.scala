package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, its seed, the
  * generated inputs and where to put its outputs. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Double, val dataDir: String, val outDir: String, val slots: Int) {
  val rng = new scala.util.Random(seed)
  /** Named figures the workload reports; the report adds the rest. */
  val out = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  /** Operations timed while the tracer's listeners were attached. */
  var tracedOps = 0
  /** Wall milliseconds during which the listeners were attached. */
  var tracedWallMs = 0.0
  /** Per-operation timings split by tracing state, for the overhead. */
  val overheadSamples = mutable.ArrayBuffer.empty[(String, Boolean, Double)]

  def fail(msg: String): Unit = { failed += 1; problems += msg }
}

/** Drives one workload of the benchmark inside one JVM and writes its
  * figures to `<out>/result.json` (and, traced, `<out>/spans.jsonl`).
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <data dir> <out dir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, outDir) = args
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val slots = Runtime.getRuntime.availableProcessors
    val tracer = new Tracer(trace == "1")
    new File(outDir).mkdirs()
    val spark = tracer.span("Engine", "Engine.session", "") { _ =>
      graft.Engine.session("perfbench", s"local[$slots]")
    }
    val ctx = new Ctx(spark, tracer, seed.toLong, seconds.toDouble, dataDir, outDir, slots)
    val load = new LoadMeter
    val setupEndMs: Double = workload match {
      case "batch_sf0.1" => Batch.run(ctx)
      case "batch_sf0.1_cold" => Batch.runCold(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    ctx.out("setup_s") = (setupEndMs - jvmStartMs) / 1000.0
    ctx.out("external_load") = load.external()
    ctx.out("stolen_s") = load.stolenS()
    val sc = spark.sparkContext
    ctx.out("storage.cached_rdds_end") = sc.getPersistentRDDs.size
    ctx.out("storage.mem_used_bytes_end") =
      sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    ctx.out("gc_s") = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0
    ctx.out("live_heap_mb") = liveHeapMb()
    if (tracer.enabled) Report.layers(ctx).foreach { case (k, v) => ctx.out(k) = v }
    ctx.out("attempted") = ctx.attempted
    ctx.out("failed") = ctx.failed
    ctx.out("problems") = ctx.problems.toSeq
    write(s"$outDir/result.json", json(ctx.out.toMap))
    if (tracer.enabled) {
      val spans = Report.attachParents(tracer.all).sortBy(_.startMs)
      write(s"$outDir/spans.jsonl", spans.map(s => json(Map(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "key" -> s.key, "start_ms" -> s.startMs, "end_ms" -> s.endMs))).mkString("", "\n", "\n"))
    }
    spark.stop()
  }

  /** Heap still in use after full collections: what the run retained. The
    * least of several readings, since Spark's background threads can hold
    * garbage of the last operations across one collection, the longer the
    * busier the machine. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 8).map { _ =>
      System.gc()
      Thread.sleep(250)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  def json(m: Map[String, Any]): String =
    org.json4s.jackson.Serialization.write(m)(org.json4s.DefaultFormats)

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}

/** The 1-minute load average minus this JVM's own CPU use over the same
  * stretch: load from other processes on the machine during the run. */
final class LoadMeter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val cpu0 = os.getProcessCpuTime
  private val wall0 = System.nanoTime()
  private val stolen0 = Cpu.stolenMs()
  /** Seconds of CPU the hypervisor took from the machine's cores since. */
  def stolenS(): Double = (Cpu.stolenMs() - stolen0) / 1000
  def external(): Double = {
    val wall = math.max(1.0, (System.nanoTime() - wall0).toDouble)
    val self = (os.getProcessCpuTime - cpu0) / wall
    val window = math.min(1.0, wall / 60e9)
    // the load average trails over ~60 s; weigh our share by how much of
    // that window the run covered
    math.max(0.0, os.getSystemLoadAverage - self * window)
  }
}

object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time this JVM has used so far: every thread, JIT and GC included. */
  def ms(): Double = os.getProcessCpuTime / 1e6
  /** CPU time the hypervisor has taken from this machine's cores (steal in
    * /proc/stat, summed over the cores), or 0 where that is not available. */
  def stolenMs(): Double = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val cols = f.getLines().next().trim.split("\\s+")
      if (cols.length > 8) cols(8).toDouble * 10 else 0.0 // USER_HZ ticks
    } finally f.close()
  } catch { case _: Exception => 0.0 }
}

object Stats {
  /** Nearest-rank percentile of `xs` (p in 0..100). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
