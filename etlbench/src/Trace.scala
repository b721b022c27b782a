package etlbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans recorded around the benchmark's calls into graft, plus one Spark
  * listener that attributes each job (and its stages' task metrics) to the
  * innermost span open when the job started. Calls run one at a time on
  * the client thread, so wall-clock containment is exact; jobs that graft
  * submits from its own thread pools land in the span that waits for them.
  * Spans live in memory and are written once, at the end of the run. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opSeq = 0
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private var listening = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = JobRec(e.jobId, e.time)
      e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages(i.stageId) = if (m == null) StageRec(i.numTasks, 0, 0, 0)
          else StageRec(i.numTasks, m.executorRunTime, m.inputMetrics.bytesRead,
            m.shuffleWriteMetrics.bytesWritten)
      }
  }

  /** Attach the listener for a traced operation, which gets a new
    * operation id (no-op when tracing is off, so the untraced path runs
    * with no listener at all). */
  def startOp(): Unit = if (enabled && !listening) {
    spark.sparkContext.addSparkListener(listener); listening = true
    opSeq += 1
  }

  def stopOp(): Unit = if (listening) {
    org.apache.spark.EtlBenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener); listening = false
  }

  def tracing: Boolean = listening

  /** Run `body` inside a span named `name`, in the current operation.
    * Without an attached listener this is just `body`. */
  def span[T](name: String)(body: => T): T =
    if (!listening) body
    else {
      val parent = stack.headOption
      val s = Span(spans.length, name, parent.fold(-1)(_.id), opSeq,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Spark work launched inside `s` (children included). */
  def work(s: Span): Work = synchronized {
    val mine = jobs.values.filter(j => innermost(j.startMs).exists(in => within(in, s))).toSeq
    val ids = mine.map(_.id).toSet
    val st = stageJob.collect { case (sid, jid) if ids(jid) => stages.get(sid) }.flatten
    Work(mine.length, st.map(_.tasks).sum, st.map(_.runMs).sum, st.map(_.input).sum,
      st.map(_.shuffleWrite).sum,
      unionLength(mine.map(j => (j.startMs, if (j.endMs > 0) j.endMs else s.endMs))))
  }

  /** Duration minus the part of it that direct children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq
    (s.endNs - s.startNs - unionLength(kids)) / 1e9
  }

  private def within(s: Span, outer: Span): Boolean =
    s.id == outer.id || (s.parent >= 0 && within(spans(s.parent), outer))

  private def innermost(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).maxByOption(_.startNs)

  def writeJson(path: java.nio.file.Path): Unit = {
    val body = spans.map { s =>
      val w = work(s)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        f""""self_s":${selfSeconds(s)}%.6f,"jobs":${w.jobs},"tasks":${w.tasks},""" +
        f""""task_ms":${w.taskMs},"input_bytes":${w.input},"shuffle_bytes":${w.shuffle}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startNs: Long, startMs: Long) {
    var endNs = 0L
    var endMs = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final case class JobRec(id: Int, startMs: Long) { var endMs = 0L }
  final case class StageRec(tasks: Int, runMs: Long, input: Long, shuffleWrite: Long)
  final case class Work(jobs: Int, tasks: Int, taskMs: Long, input: Long,
      shuffle: Long, jobUnionMs: Long)

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
