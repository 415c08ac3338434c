package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed call from the benchmark into a module's public function.
  * `traceOnly` spans do work the untraced iteration does not (a scan-only or
  * kernel-only pass), so their time is left out of the traced `wall_s`.
  */
final case class Span(
    id: Int,
    parent: Int,
    iteration: Int,
    name: String,
    startMs: Long,
    endMs: Long,
    traceOnly: Boolean
) {
  def seconds: Double = (endMs - startMs) / 1e3
  def contains(t: Long): Boolean = startMs <= t && t <= endMs
}

/** Task counters summed over one job. */
final case class TaskSums(
    tasks: Long = 0,
    runMs: Long = 0,
    cpuNs: Long = 0,
    gcMs: Long = 0,
    shuffleWrite: Long = 0,
    shuffleRead: Long = 0,
    spill: Long = 0,
    inputBytes: Long = 0,
    inputRecords: Long = 0,
    outputBytes: Long = 0
) {
  def +(o: TaskSums): TaskSums = TaskSums(
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead, spill + o.spill,
    inputBytes + o.inputBytes, inputRecords + o.inputRecords, outputBytes + o.outputBytes
  )
}

final case class JobRec(
    jobId: Int,
    startMs: Long,
    stages: Int,
    executionId: Option[Long],
    stageDetails: String,
    sums: TaskSums
)

/** Spans kept in memory on the driver thread; nesting follows call order. */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long, Boolean)]
  private var nextId = 0
  var iteration = 0

  def apply[T](name: String, traceOnly: Boolean = false)(body: => T): T = {
    val id = nextId
    nextId += 1
    open.push((id, name, System.currentTimeMillis(), traceOnly))
    try body
    finally {
      val (_, _, start, only) = open.pop()
      val parent = open.headOption.map(_._1).getOrElse(-1)
      done += Span(id, parent, iteration, name, start, System.currentTimeMillis(), only)
    }
  }

  def all: Seq[Span] = done.toSeq.sortBy(_.id)
}

/** Spark listener for the traced run: per-job task counters, each SQL
  * execution's call site, and RDD block bytes stored (checkpoints and
  * caches). Registered by the benchmark only; nothing under `src/` knows it.
  */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Integer]()
  private val execDetails = new ConcurrentHashMap[Long, (String, Option[Long])]()
  @volatile private var blockBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    e.stageInfos.foreach(s => stageToJob.put(s.stageId, e.jobId))
    val details = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, e.time, 0, exec, details, TaskSums()))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageToJob.get(e.stageInfo.stageId)).foreach { job =>
      jobs.computeIfPresent(job, (_, j) => j.copy(stages = j.stages + 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val s = TaskSums(
      tasks = 1,
      runMs = m.executorRunTime,
      cpuNs = m.executorCpuTime,
      gcMs = m.jvmGCTime,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = m.shuffleReadMetrics.totalBytesRead,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled,
      inputBytes = m.inputMetrics.bytesRead,
      inputRecords = m.inputMetrics.recordsRead,
      outputBytes = m.outputMetrics.bytesWritten
    )
    Option(stageToJob.get(e.stageId)).foreach { job =>
      jobs.computeIfPresent(job, (_, j) => j.copy(sums = j.sums + s))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) synchronized { blockBytes += b.memSize + b.diskSize }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execDetails.put(s.executionId, (s.details, s.rootExecutionId))
    case _ =>
  }

  /** Jobs recorded since the last call, and RDD block bytes stored. */
  def drain(): (Seq[JobRec], Long) = synchronized {
    val js = jobs.values.asScala.toSeq.sortBy(_.jobId)
    js.foreach(j => jobs.remove(j.jobId))
    val b = blockBytes
    blockBytes = 0L
    (js, b)
  }

  /** The call site that submitted a job: its SQL execution's call site when
    * it has one (AQE stage jobs run on pool threads, so their own call site
    * names `CompletableFuture`), falling back to the root execution and
    * then to the job's own stage call site.
    */
  def callSite(j: JobRec): String = {
    val own = j.executionId.flatMap(id => Option(execDetails.get(id)))
    val root = own.flatMap(_._2).flatMap(id => Option(execDetails.get(id)))
    Seq(own.map(_._1), root.map(_._1), Some(j.stageDetails)).flatten
      .find(d => Attribution.operatorOf(d).isDefined)
      .orElse(own.map(_._1))
      .getOrElse(j.stageDetails)
  }
}

object Attribution {

  private val OperatorFrame = """graft\.operators\.([A-Za-z0-9]+)\$?\.""".r

  /** The innermost `graft.operators.<Op>` frame of a call-site stack. */
  def operatorOf(callSite: String): Option[String] =
    OperatorFrame.findFirstMatchIn(callSite).map(_.group(1))

  /** The innermost span open when `startMs` fell: among spans containing
    * it, the one that started last (ties go to the one opened later).
    */
  def innermost(spans: Seq[Span], startMs: Long): Option[Span] = {
    val c = spans.filter(_.contains(startMs))
    if (c.isEmpty) None else Some(c.maxBy(s => (s.startMs, s.id)))
  }

  /** Assign each job to its innermost span; jobs outside every span map to
    * `None`.
    */
  def assign(spans: Seq[Span], jobs: Seq[JobRec]): Seq[(JobRec, Option[Span])] =
    jobs.map(j => j -> innermost(spans, j.startMs))
}
