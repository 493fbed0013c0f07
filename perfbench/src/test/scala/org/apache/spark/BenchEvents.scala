package org.apache.spark

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._

/** Listener events built by hand, for feeding a listener directly
  * (the constructors of their parts are package private). */
object BenchEvents {
  def jobStart(jobId: Int, timeMs: Long, stageIds: Seq[Int],
      props: Map[String, String]): SparkListenerJobStart = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    SparkListenerJobStart(jobId, timeMs, stageIds.map(stage(_, 1)), p)
  }

  def jobEnd(jobId: Int, timeMs: Long): SparkListenerJobEnd =
    SparkListenerJobEnd(jobId, timeMs, JobSucceeded)

  def stageDone(stageId: Int, numTasks: Int): SparkListenerStageCompleted =
    SparkListenerStageCompleted(stage(stageId, numTasks))

  /** a finished task with `runMs` of run time and `cpuNs` of CPU */
  def taskEnd(stageId: Int, taskId: Long, runMs: Long, cpuNs: Long,
      failed: Boolean = false): SparkListenerTaskEnd = {
    val info = new TaskInfo(taskId, 0, 0, 0L, "0", "localhost",
      TaskLocality.PROCESS_LOCAL, false)
    info.markFinished(if (failed) TaskState.FAILED else TaskState.FINISHED, 1L)
    val m = TaskMetrics.empty
    m.setExecutorRunTime(runMs)
    m.setExecutorCpuTime(cpuNs)
    SparkListenerTaskEnd(stageId, 0, "ResultTask",
      if (failed) TaskKilled("test") else Success, info,
      new org.apache.spark.executor.ExecutorMetrics(), m)
  }

  private def stage(id: Int, numTasks: Int): StageInfo =
    new StageInfo(id, 0, s"stage$id", numTasks, Seq.empty, Seq.empty, "",
      resourceProfileId = 0)
}
