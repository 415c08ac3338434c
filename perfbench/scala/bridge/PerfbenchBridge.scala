package org.apache.spark

import java.util.Properties

import org.apache.spark.executor.{ExecutorMetrics, TaskMetrics}
import org.apache.spark.scheduler._

/** Inside `org.apache.spark` only to reach `private[spark]` members: the
  * listener bus (a traced iteration waits until every event it caused has
  * been delivered before its counters are read), and the constructors the
  * self-test needs to build canned listener events.
  */
object PerfbenchBridge {

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def stage(id: Int, details: String): StageInfo =
    new StageInfo(id, 0, s"stage $id", 1, Seq.empty, Seq.empty, details, resourceProfileId = 0)

  def jobStart(jobId: Int, timeMs: Long, stageIds: Seq[Int], details: String, executionId: Option[Long]): SparkListenerJobStart = {
    val p = new Properties()
    executionId.foreach(id => p.setProperty("spark.sql.execution.id", id.toString))
    SparkListenerJobStart(jobId, timeMs, stageIds.map(stage(_, details)), p)
  }

  def taskEnd(stageId: Int, runMs: Long, cpuNs: Long, shuffleWrite: Long = 0L): SparkListenerTaskEnd = {
    val m = TaskMetrics.empty
    m.setExecutorRunTime(runMs)
    m.setExecutorCpuTime(cpuNs)
    m.shuffleWriteMetrics.incBytesWritten(shuffleWrite)
    val info = new TaskInfo(0L, 0, 0, 0, 0L, "driver", "localhost", TaskLocality.ANY, false)
    SparkListenerTaskEnd(stageId, 0, "ResultTask", Success, info, new ExecutorMetrics, m)
  }
}
