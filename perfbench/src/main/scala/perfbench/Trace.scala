package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.{Success, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Wall-clock milliseconds with sub-millisecond resolution, on the same base
  * as the event times Spark's listeners report. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed interval. Spans of one query or batch share `id`. */
final case class Span(id: String, name: String, startMs: Double, endMs: Double, parent: String)

/** One measured operation: a query, a `processBatch` call or a trigger.
  * `buildEndMs` splits a query into its construction and its execution. */
final case class Op(id: String, startMs: Double, endMs: Double, buildEndMs: Double)

/** One Spark job as the listener saw it, with its tasks' totals. */
final class JobRec(val jobId: Int, val op: String, val startMs: Long) {
  var endMs: Long = -1
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Catalyst phases of one finished QueryExecution. */
final case class QeRec(startMs: Long, analysisMs: Long, optimizationMs: Long,
                       planningMs: Long, planNodes: Int)

/** One call through the benchmark's ingest wrapper. */
final case class IngestCall(op: String, startMs: Double, endMs: Double, topic: String,
                            partition: Int, firstOffset: Long, lastOffset: Long, records: Long,
                            rawBytes: Long, gzBytes: Long, stagedMtimeMs: Double,
                            accepted: Boolean, injected: Boolean, queued: Boolean)

/** In-memory trace of one workload run. Operations and ingest calls are
  * always recorded (end-to-end metrics derive from them); spans and the
  * Spark listeners only when tracing is on. Streaming triggers come from
  * the query's own `recentProgress`. */
object Trace {
  /** Local property naming the operation a thread is running; jobs
    * carry it in their properties, tasks expose it through TaskContext. */
  val OpKey = "perfbench.op"

  @volatile var enabled = false

  val spans = new ConcurrentLinkedQueue[Span]()
  val ops = new ConcurrentLinkedQueue[Op]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val ingests = new ConcurrentLinkedQueue[IngestCall]()

  def reset(): Unit = {
    spans.clear(); ops.clear(); jobs.clear(); stageJob.clear(); qes.clear(); ingests.clear()
  }

  def span(id: String, name: String, startMs: Double, endMs: Double, parent: String = ""): Unit =
    if (enabled) spans.add(Span(id, name, startMs, endMs, parent))

  /** The operation id of the running task: the benchmark's own property
    * for `processBatch` calls, the micro-batch id for streaming triggers. */
  def currentTaskOp(): String = Option(TaskContext.get()).map { tc =>
    Option(tc.getLocalProperty(OpKey))
      .orElse(Option(tc.getLocalProperty("streaming.sql.batchId")).map("batch-" + _))
      .getOrElse("")
  }.getOrElse("")

  /** Writes the spans, one JSON object a line. Spans recorded on a listener
    * thread without an operation id take the id (and parent) of the
    * operation whose window holds their start. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val opList = ops.asScala.toSeq
    def owner(s: Span): String =
      opList.find(o => s.startMs >= o.startMs && s.startMs <= o.endMs).map(_.id).getOrElse("")
    val lines = spans.asScala.toSeq.sortBy(_.startMs).map { s =>
      if (s.id.nonEmpty) s else { val o = owner(s); s.copy(id = o, parent = o) }
    }.map { s =>
      s"""{"id":${Json.str(s.id)},"name":${Json.str(s.name)},"start_ms":${Json.num(s.startMs)},""" +
        s""""end_ms":${Json.num(s.endMs)},"parent":${Json.str(s.parent)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Jobs, stages and tasks, attributed to operations by the job's local
  * properties. Registered on the SparkContext when tracing is on. */
final class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Trace.OpKey)))
      .orElse(props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map("batch-" + _))
      .getOrElse("")
    Trace.jobs.put(e.jobId, new JobRec(e.jobId, op, e.time))
    e.stageIds.foreach(s => Trace.stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(Trace.jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      Trace.span(j.op, s"job-${e.jobId}", j.startMs.toDouble, e.time.toDouble, j.op)
    }

  private def job(stageId: Int): Option[JobRec] =
    Option(Trace.stageJob.get(stageId)).flatMap(id => Option(Trace.jobs.get(id)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    job(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = job(e.stageId).foreach { j =>
    j.tasks += 1
    if (e.reason != Success) j.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Catalyst phase times of every finished query execution. Registered
  * through `spark.sql.queryExecutionListeners`, so child sessions a query
  * module creates report here too. */
final class QeListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val start = phases.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    val nodes = try qe.optimizedPlan.collect { case p => p }.size catch { case _: Throwable => 0 }
    Trace.qes.add(QeRec(start, ms("analysis"), ms("optimization"), ms("planning"), nodes))
    phases.foreach { case (p, s) => Trace.span("", s"catalyst.$p", s.startTimeMs.toDouble, s.endTimeMs.toDouble) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}
