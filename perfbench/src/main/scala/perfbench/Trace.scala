package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `key` names the query, app or
  * micro-batch the span belongs to; `parent` is the id of the span that
  * caused it (0 for a root). Times are epoch milliseconds with a
  * fractional part, so spans from the benchmark and from Spark's listener
  * events share one clock. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    key: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span store plus the counters read from Spark's public
  * listeners. Spans are kept until the run ends and are written out then.
  * When `enabled` is false every method is a no-op, so the untraced run
  * pays for nothing but the flag check. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]

  /** Records a span around `f`, timed with the benchmark's own clock. */
  def span[T](layer: String, name: String, key: String, parent: Long = 0L)(
      f: Long => T): T = {
    if (!enabled) return f(0L)
    val id = ids.incrementAndGet()
    val t0 = Clock.ms()
    try f(id)
    finally add(Span(id, parent, layer, name, key, t0, Clock.ms()))
  }

  def add(s: Span): Long = {
    if (enabled) synchronized { spans += s }
    s.id
  }

  def newId(): Long = ids.incrementAndGet()

  def all: Seq[Span] = synchronized(spans.toList)

  // --- counters from Spark's listeners ----------------------------------
  val spark = new SparkCounters
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private var sparkSession: SparkSession = _
  /** The listener bus calls this off the query's thread, so each Catalyst
    * phase becomes a parentless span; the report attaches it to the
    * benchmark span that contains it in time. */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        if (phase != "parsing")
          add(Span(newId(), 0L, "catalyst", phase, "", p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Attaches the listeners; `detach` removes them again, so one run can
    * alternate traced and untraced stretches to measure the overhead. */
  def attach(s: SparkSession): Unit = if (enabled) {
    sparkSession = s
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
  }

  def detach(): Unit = if (enabled && sparkSession != null) {
    sparkSession.sparkContext.removeSparkListener(spark)
    sparkSession.listenerManager.unregister(qeListener)
    sparkSession.streams.removeListener(streamListener)
  }
}

object Tracer {
  /** Length of the alternate traced and untraced stretches in the REST leg
    * and the stream's latency leg. */
  val SliceMs = 2000L
}

object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds at nanosecond resolution (one monotonic base). */
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Scheduler and task counters. Jobs become spans in the `scheduler`
  * layer and their stages spans in the `tasks` layer, so a job's self
  * time is the part of it no stage covers: scheduling and driver gaps. */
object SparkCounters {
  final case class JobRec(id: Int, start: Double, group: String, callSite: String,
      var end: Double = 0.0)
  final case class StageRec(id: Int, job: Int, var submit: Double = 0.0, var end: Double = 0.0)
  final case class TaskRec(stage: Int, launch: Double, runMs: Double, cpuMs: Double,
      gcMs: Double, shuffleRead: Long, shuffleWrite: Long, spill: Long, failed: Boolean)
}

final class SparkCounters extends SparkListener {
  import SparkCounters._

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    // a stage is named after the job's call site, e.g. "parquet at Tables.scala:44"
    val rec = JobRec(e.jobId, e.time.toDouble, prop("spark.jobGroup.id"),
      e.stageInfos.map(_.name).headOption.getOrElse(""))
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stages.putIfAbsent(s, StageRec(s, e.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stages.computeIfAbsent(e.stageInfo.stageId, id => StageRec(id, -1))
    s.submit = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Clock.ms())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stages.computeIfAbsent(e.stageInfo.stageId, id => StageRec(id, -1))
    s.end = e.stageInfo.completionTime.map(_.toDouble).getOrElse(Clock.ms())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    val info = e.taskInfo
    tasks.add(TaskRec(e.stageId, info.launchTime.toDouble,
      m.map(_.executorRunTime.toDouble).getOrElse(0.0),
      m.map(_.executorCpuTime / 1e6).getOrElse(0.0),
      m.map(_.jvmGCTime.toDouble).getOrElse(0.0),
      m.map(x => x.shuffleReadMetrics.remoteBytesRead + x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      info.failed))
  }

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def stageList: Seq[StageRec] = stages.values.asScala.toSeq.sortBy(_.id)
  def taskList: Seq[TaskRec] = tasks.asScala.toSeq
}
