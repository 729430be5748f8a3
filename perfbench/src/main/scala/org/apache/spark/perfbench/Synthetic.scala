package org.apache.spark.perfbench

import java.util.Properties
import org.apache.spark.Success
import org.apache.spark.executor.{ExecutorMetrics, TaskMetrics}
import org.apache.spark.scheduler._

/** Hand-built listener events for the benchmark's self-test. */
object Synthetic {

  def stage(id: Int): StageInfo =
    new StageInfo(id, 0, s"stage $id", 1, Seq.empty, Seq.empty, "", null, Seq.empty, None, 0, false, 0)

  def jobStart(job: Int, stages: Seq[Int], group: String, phase: String): SparkListenerJobStart = {
    val p = new Properties()
    if (group != null) p.setProperty("spark.jobGroup.id", group)
    if (phase != null) p.setProperty("perfbench.phase", phase)
    SparkListenerJobStart(job, 0L, stages.map(stage), p)
  }

  def stageDone(id: Int): SparkListenerStageCompleted = SparkListenerStageCompleted(stage(id))

  /** A finished task of `stage` with the given readings. */
  def taskEnd(stage: Int, cpuNs: Long, runMs: Long, gcMs: Long, deserMs: Long,
      shuffleWrite: Long, remoteRead: Long, localRead: Long, spill: Long): SparkListenerTaskEnd = {
    val m = new TaskMetrics
    m.setExecutorCpuTime(cpuNs)
    m.setExecutorRunTime(runMs)
    m.setJvmGCTime(gcMs)
    m.setExecutorDeserializeTime(deserMs)
    m.shuffleWriteMetrics.incBytesWritten(shuffleWrite)
    m.shuffleReadMetrics.setRemoteBytesRead(remoteRead)
    m.shuffleReadMetrics.setLocalBytesRead(localRead)
    m.incDiskBytesSpilled(spill)
    val info = new TaskInfo(0L, 0, 0, 0L, "driver", "localhost", TaskLocality.PROCESS_LOCAL, false)
    SparkListenerTaskEnd(stage, 0, "ResultTask", Success, info, new ExecutorMetrics, m)
  }
}
