package c4bench

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Layer counters, measured from outside the program.
  *
  * Every Spark job is attributed to the phase label the benchmark thread
  * set as a local property before it called into the library
  * (`<pass>/<op>/build` or `<pass>/<op>/exec`). Spark copies local
  * properties to the threads it runs SQL and broadcast work on, so the
  * label reaches jobs whose call site names no library frame. A job that
  * arrives without the property falls back to the phase window that
  * contains its submission time. */
final class Tracer extends SparkListener {
  import Tracer._

  final class Counts {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var rows = 0L
  }

  private val jobLabel = TrieMap.empty[Int, String]
  private val stageJob = TrieMap.empty[Int, Int]
  private val counts = TrieMap.empty[String, Counts]
  @volatile private var windows = Vector.empty[(String, Long, Long)]
  @volatile private var unlabeled = 0L

  /** Records the wall-clock window of one phase, for the fallback. */
  def window(label: String, startMs: Long, endMs: Long): Unit =
    windows :+= ((label, startMs, endMs))

  private def countsOf(label: String): Counts =
    counts.getOrElseUpdate(label, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
      .orElse(windows.find { case (_, s, t) => s <= e.time && e.time <= t }.map(_._1))
      .getOrElse { unlabeled += 1; "unlabeled" }
    jobLabel(e.jobId) = label
    e.stageIds.foreach(stageJob(_) = e.jobId)
    val c = countsOf(label)
    c.synchronized { c.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (job <- stageJob.get(e.stageId); label <- jobLabel.get(job)
         if e.taskMetrics != null) {
      val m = e.taskMetrics
      val c = countsOf(label)
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.rows += m.inputMetrics.recordsRead
      }
    }

  /** Counts of every label that satisfies `p`, summed. */
  def sum(p: String => Boolean): Counts = {
    val out = new Counts
    counts.foreach { case (l, c) if p(l) =>
      c.synchronized {
        out.jobs += c.jobs; out.tasks += c.tasks; out.cpuNs += c.cpuNs
        out.shuffleRead += c.shuffleRead; out.shuffleWrite += c.shuffleWrite
        out.spill += c.spill; out.rows += c.rows
      }
    case _ => }
    out
  }

  def unlabeledJobs: Long = unlabeled
}

object Tracer {
  val PhaseKey = "c4bench.phase"

  /** One micro-batch's progress report, durations in seconds. */
  final case class Progress(durations: Map[String, Double], inputRows: Long)

  /** Collects micro-batch progress for the streaming workload. */
  final class StreamProgress extends StreamingQueryListener {
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        reports.add(Progress(
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1e3 }.toMap,
          e.progress.numInputRows))
  }
}
