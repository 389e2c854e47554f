package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable.ArrayBuffer

/** One traced interval. Times are epoch milliseconds (fractional), on the
  * clock Spark stamps its listener events with, so reconstructed trigger
  * phases, Spark jobs and the benchmark's own spans line up.
  */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double,
    attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** In-memory span recorder. Spans opened with [[span]] nest by call order on
  * the benchmark thread; spans placed after the fact (trigger phases, Spark
  * jobs) are added with [[add]] under an explicit parent. Disabled, it only
  * runs the body.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val buf = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def spans: Seq[Span] = buf.toSeq

  def span[T](name: String)(f: => T): T = {
    val open = begin(name)
    try f finally end(open)
  }

  /** Opens a span that [[end]] closes, for set-up that is not one block. */
  def begin(name: String): Option[Span] = if (!enabled) None else {
    val s = Span(nextId, stack.headOption.getOrElse(0), name, nowMs, Double.NaN)
    nextId += 1
    stack = s.id :: stack
    Some(s)
  }

  def end(open: Option[Span]): Unit = open.foreach { s =>
    stack = stack.dropWhile(_ != s.id).drop(1)
    buf += s.copy(end = nowMs)
  }

  def add(parent: Int, name: String, start: Double, end: Double,
      attrs: Map[String, Double] = Map.empty): Int = {
    val id = nextId; nextId += 1
    buf += Span(id, parent, name, start, end, attrs)
    id
  }

  def named(name: String): Seq[Span] = buf.filter(_.name == name).toSeq

  /** Innermost recorded span (of the given names) whose interval holds `t`. */
  def innermostAt(t: Double, names: Set[String]): Option[Span] =
    buf.filter(s => names(s.name) && s.start <= t && t <= s.end).minByOption(_.dur)

  /** Self time per span: its duration minus the union of its children. */
  def selfTimes: Map[Int, Double] = {
    val kids = buf.groupBy(_.parent)
    buf.map { s =>
      val iv = kids.getOrElse(s.id, ArrayBuffer.empty)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(p => p._2 > p._1).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }
}

/** One micro-batch as Structured Streaming reported it. */
final case class TriggerProgress(query: String, batchId: Long, start: Double,
    batchMs: Long, phases: Map[String, Long], inputRows: Long)

/** Collects every query's progress. It is attached on every run, traced or
  * not: the per-trigger durations are the tails' latency metric.
  */
final class ProgressLog extends StreamingQueryListener {
  private val buf = ArrayBuffer.empty[TriggerProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val rec = TriggerProgress(p.name, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, p.batchDuration,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows)
    synchronized(buf += rec)
  }
  def all: Seq[TriggerProgress] = synchronized(buf.toSeq)
}

final case class StageRec(stageId: Int, jobId: Int,
    submit: Double, complete: Double, cpuMs: Double, gcMs: Double, inputBytes: Long, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    fetchWaitMs: Double, outputBytes: Long, outputRows: Long, spillBytes: Long,
    taskRunMs: Seq[Long]) {
  def wallMs: Double = complete - submit
  /** Slowest task over the median task: 1 means even work across buckets. */
  def taskSkew: Double = if (taskRunMs.isEmpty) 1.0 else {
    val s = taskRunMs.sorted
    val med = math.max(1L, s(s.size / 2))
    s.last.toDouble / med
  }
}

final case class JobRec(jobId: Int, submit: Double, end: Double)

/** Records Spark jobs, completed stages and per-task run times (traced runs). */
final class SparkLog extends SparkListener {
  private val jobs = scala.collection.mutable.Map.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time.toDouble))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
        e.taskMetrics.executorRunTime
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
      m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten, m.shuffleReadMetrics.fetchWaitTime.toDouble,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten, m.diskBytesSpilled,
      tasks.remove((i.stageId, i.attemptNumber())).map(_.toSeq).getOrElse(Seq.empty))
  }
  def allJobs: Seq[JobRec] = synchronized(jobs.values.toSeq.sortBy(_.jobId))
  def allStages: Seq[StageRec] = synchronized(stages.toSeq)
}
