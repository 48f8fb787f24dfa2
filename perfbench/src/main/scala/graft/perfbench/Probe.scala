package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-tag Spark counters. A tag is the span id the driver thread carried
  * (as a local property) when it submitted the job.
  */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var recordsWritten = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** The benchmark's own listener: jobs, tasks, task time, shuffle, spill and
  * written records, attributed to the span that submitted each job.
  */
final class Probe extends SparkListener {
  private val byTag = mutable.HashMap[String, Counters]()
  private val stageTag = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, (String, Long)]()

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Probe.Key))).getOrElse(Probe.Untagged)

  def counters(tag: String): Counters = synchronized {
    byTag.getOrElseUpdate(tag, new Counters)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    e.stageIds.foreach(stageTag(_) = tag)
    jobStart(e.jobId) = (tag, e.time)
    counters(tag).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (tag, t0) =>
      counters(tag).jobIntervals += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(stageTag.getOrElse(e.stageId, Probe.Untagged))
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.recordsWritten += m.outputMetrics.recordsWritten
    }
  }
}

object Probe {
  val Key = "perfbench.span"
  val Untagged = "-"
}

/** One timed region of the driver thread. `input` names the span whose
  * output this one consumes, for self time of lazy combinators; `rows` is
  * the rows a kernel span processed, for its rows per task-second.
  */
final case class Span(id: String, name: String, parent: Option[String],
                      input: Option[String], rows: Long, t0: Long, ms0: Long) {
  var t1: Long = t0
  var ms1: Long = ms0
  def wallS: Double = (t1 - t0) / 1e9
}

/** Subtree totals of a span: its own jobs plus its children's. */
final case class SpanTotals(wallS: Double, jobs: Long, tasks: Long, taskS: Double,
                            driverS: Double, shuffleMb: Double, spillMb: Double,
                            recordsWritten: Long)

/** Spans of the driver thread, nested by call. Each span tags the jobs it
  * submits, so the probe's counters split by span.
  */
final class Tracer(sc: SparkContext, probe: Probe) {
  val spans = mutable.ArrayBuffer[Span]()
  private var current: Option[String] = None

  def span[T](name: String, input: String = null, rows: Long = 0L)(body: => T): T = {
    val s = Span(s"s${spans.size}", name, current, Option(input), rows,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    val prev = current
    current = Some(s.id)
    sc.setLocalProperty(Probe.Key, s.id)
    try body
    finally {
      s.t1 = System.nanoTime()
      s.ms1 = System.currentTimeMillis()
      current = prev
      sc.setLocalProperty(Probe.Key, prev.orNull)
    }
  }

  /** Delivers every pending listener event; call before reading totals. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  private def subtree(s: Span): Seq[Span] =
    s +: spans.filter(_.parent.contains(s.id)).toSeq.flatMap(subtree)

  def totals(s: Span): SpanTotals = {
    val cs = subtree(s).map(x => probe.counters(x.id))
    // the part of the span's wall time covered by at least one job
    val iv = cs.flatMap(_.jobIntervals)
      .map { case (a, b) => (math.max(a, s.ms0), math.min(b, s.ms1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    val mb = 1024.0 * 1024.0
    SpanTotals(s.wallS, cs.map(_.jobs).sum, cs.map(_.tasks).sum,
      cs.map(_.taskMs).sum / 1e3,
      math.max(0.0, s.wallS - covered / 1e3),
      cs.map(c => c.shuffleWriteBytes + c.shuffleReadBytes).sum / mb,
      cs.map(_.spillBytes).sum / mb,
      cs.map(_.recordsWritten).sum)
  }

  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)
}
