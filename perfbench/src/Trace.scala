package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval: name, start and end in epoch milliseconds, and
  * the span that caused it (0 = the workload root). */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1e3
  def covers(ms: Double): Boolean = ms >= startMs && ms <= endMs
}

/** Times every call the harness makes into the engine. With tracing on
  * it also keeps each interval as a [[Span]] (in memory, written out at
  * exit) and tags the Spark jobs submitted inside it with a job group
  * named after the span, so the listeners below can attach jobs to the
  * operation that caused them. `Par.run` pool threads are created by
  * the tagged thread and inherit its local properties, so overlapped
  * catalog writes carry the tag too. With tracing off only the
  * durations are measured. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val nanos0 = System.nanoTime()
  private val millis0 = System.currentTimeMillis().toDouble
  def nowMs: Double = millis0 + (System.nanoTime() - nanos0) / 1e6

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Int] = List(0)
  private var nextId = 1

  /** Run `body` as a span named `name`; returns its result and seconds. */
  def timed[A](name: String)(body: => A): (A, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    val sc = spark.sparkContext
    if (enabled) {
      stack = id :: stack
      sc.setJobGroup(s"pb-$id", name)
    }
    val start = nowMs
    try {
      val out = body
      (out, (nowMs - start) / 1e3)
    } finally {
      if (enabled) {
        spans += Span(id, parent, name, start, nowMs)
        stack = stack.tail
        if (stack.head == 0) sc.clearJobGroup() else sc.setJobGroup(s"pb-${stack.head}", name)
      }
    }
  }

  /** The innermost open span's id (0 outside every span, -1 untraced). */
  def current: Int = if (enabled) stack.head else -1
}

/** Per-job task totals gathered by [[ExecListener]]. */
final class JobRec(val group: Option[Int], val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var gcMs = 0L
}

/** SparkListener for the `exec` layer: jobs, stages, tasks and the task
  * metrics Spark already keeps, keyed by the job group [[Tracer]] set. */
final class ExecListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private def job(stageId: Int): Option[JobRec] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith("pb-") => g.drop(3).toInt }
    jobs.put(e.jobId, new JobRec(group, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    job(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = job(e.stageId).foreach { r =>
    r.tasks += 1
    if (e.reason != org.apache.spark.Success) r.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      r.gcMs += m.jvmGCTime
    }
  }
}

/** One streaming trigger's reported phase durations. */
final case class Progress(startMs: Double, rows: Long, durations: Map[String, Long])

/** StreamingQueryListener for the `streaming` layer. */
final class StreamListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}

/** One catalog commit: a write into the catalog's `.staging` area. */
final case class CatalogWrite(startMs: Double, seconds: Double, bytes: Long)

/** QueryExecutionListener for the `catalog` layer: every
  * `VersionedCatalog` version is written to `<root>/.staging/...` and
  * then promoted, so a file write whose output path passes through
  * `.staging` is one catalog commit. */
final class WriteListener extends QueryExecutionListener {
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[CatalogWrite]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val end = System.currentTimeMillis().toDouble
    graft.tools.PlanWalk.collectAll(qe.executedPlan).foreach {
      case d: DataWritingCommandExec => d.cmd match {
        case i: InsertIntoHadoopFsRelationCommand if i.outputPath.toString.contains("/.staging/") =>
          val bytes = i.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
          writes.add(CatalogWrite(end - durationNs / 1e6, durationNs / 1e9, bytes))
        case _ =>
      }
      case _ =>
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
