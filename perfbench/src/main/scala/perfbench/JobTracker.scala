package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** One Spark job as the scheduler reported it: its interval (epoch ms) and
  * the work of the stages it ran. */
final class JobRecord(val id: Int, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var inputBytes = 0L
  var inputRows = 0L
  var shuffleWriteBytes = 0L
  var shuffleFetchWaitMs = 0L
  var executorRunMs = 0L
  var maxTaskMs = 0L
}

/** SparkContext-wide job listener. Exact per request only while one request
  * runs at a time, which is how the traced run uses it. */
final class JobTracker extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRecord(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRows += m.inputMetrics.recordsRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleFetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.executorRunMs += m.executorRunTime
      }
    }
  }

  /** Every job recorded since the last call, removed from the tracker. */
  def take(): Seq[JobRecord] = synchronized {
    val out = jobs.values.toSeq
    jobs.clear()
    stageJob.clear()
    out
  }
}
