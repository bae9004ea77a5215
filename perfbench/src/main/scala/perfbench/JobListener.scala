package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark listener the benchmark registers for its traced runs. It tags
  * every job with the local properties the benchmark sets around each call
  * (pass, query, phase) and sums task metrics per job, so job and stage
  * spans can be attributed to the query call that caused them.
  */
final class JobListener extends SparkListener {
  import JobListener._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val stageRecs = mutable.ArrayBuffer.empty[StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val r = new JobRec(e.jobId, prop("perfbench.pass"), prop("perfbench.query"),
      prop("perfbench.phase"), e.time, e.stageIds)
    jobs(e.jobId) = r
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageToJob.get(i.stageId).flatMap(jobs.get).foreach { j =>
      j.stages += 1
      stageRecs += StageRec(i.stageId, j.jobId, i.name, i.numTasks,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskRunMs += m.executorRunTime
      j.taskCpuNs += m.executorCpuTime
      j.taskGcMs += m.jvmGCTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      j.spillBytes += m.diskBytesSpilled
    }
  }

  def jobList: Seq[JobRec] = synchronized { jobs.values.toList }
  def stageList: Seq[StageRec] = synchronized { stageRecs.toList }
}

object JobListener {
  final class JobRec(val jobId: Int, val pass: String, val query: String, val phase: String,
      val startMs: Long, val stageIds: Seq[Int]) {
    var endMs: Long = startMs
    var stages = 0
    var tasks = 0L
    var taskRunMs = 0L
    var taskCpuNs = 0L
    var taskGcMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
  }
  final case class StageRec(stageId: Int, jobId: Int, name: String, tasks: Int,
      startMs: Long, endMs: Long)
}
