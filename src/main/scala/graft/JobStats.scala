package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** One Spark job as [[JobStats]] saw it; `end` is -1 until the job ends. */
final case class JobRow(id: Int, desc: String, start: Long, end: Long,
    stages: Int, tasks: Int, shuffleWrite: Long, shuffleRead: Long, input: Long) {
  def wallMs: Long = if (end < 0) -1L else end - start
}

/** Per-job structural stats — description, wall time, completed stages,
  * tasks, shuffle write/read and input bytes — for the measurement mains
  * (`Bench`'s counts file, `ProfileQuery`'s job table). Attach it only
  * when measuring: the timed path runs with no listener. */
final class JobStats extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRow]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val d = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs.put(e.jobId, JobRow(e.jobId, d, e.time, -1L, 0, 0, 0L, 0L, 0L))
    e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, r) => r.copy(end = e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    jobs.computeIfPresent(stageToJob.getOrDefault(e.stageInfo.stageId, -1), (_, r) =>
      if (m == null) r.copy(stages = r.stages + 1, tasks = r.tasks + e.stageInfo.numTasks)
      else r.copy(stages = r.stages + 1, tasks = r.tasks + e.stageInfo.numTasks,
        shuffleWrite = r.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = r.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        input = r.input + m.inputMetrics.bytesRead))
  }

  /** Forget every job seen so far. */
  def reset(): Unit = { jobs.clear(); stageToJob.clear() }

  /** The jobs seen since the last [[reset]], in job-id order. Listener events
    * arrive asynchronously: let the bus drain before reading. */
  def rows: Seq[JobRow] = jobs.values().toArray(Array.empty[JobRow]).toSeq.sortBy(_.id)
}
