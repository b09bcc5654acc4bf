package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One finished span: a public pipeline call of one benchmark call. */
final case class Span(call: Int, name: String, id: Int,
    startMs: Long, endMs: Long, wallS: Double, gcS: Double)

/** Spark counters summed over the jobs, stages and tasks of one span. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskCpuNs = 0L; var shuffleWriteBytes = 0L; var resultBytes = 0L
  var spillBytes = 0L; var inputBytes = 0L
  /** (start, end) wall-clock millis of each job, for the driver-only time */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Span wrapper plus a SparkListener that attributes job, stage and task
  * counters to the span that submitted them.
  *
  * A span tags its thread's jobs through a Spark local property; jobs
  * that arrive without the tag (submitted from a thread that did not
  * inherit it) fall back to the span whose interval holds their
  * submission time. Listener events only fill per-job and per-stage
  * buffers; the attribution runs in `counters`, after the listener bus
  * has drained, so nothing races the bus thread. Spans are kept in
  * memory and written out by the caller when the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  // listener-bus state: touched only by the bus thread until drained
  private final case class Job(spanTag: Int, startMs: Long, var endMs: Long)
  private final class Stage(val spanTag: Int, val submitMs: Long) {
    var completed = false; var tasks = 0L; var cpuNs = 0L; var shuffleW = 0L
    var result = 0L; var spill = 0L; var input = 0L
  }
  private val jobsById = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[(Int, Int), Stage]

  sc.addSparkListener(this)

  def spans: Seq[Span] = spanBuf.toSeq

  def span[T](call: Int, name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    sc.setLocalProperty(SpanKey, id.toString)
    val gc0 = gcMillis()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, null)
      spanBuf += Span(call, name, id, ms0, ms1, wall, (gcMillis() - gc0) / 1e3)
    }
  }

  private def tagOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobsById(e.jobId) = Job(tagOf(e.properties), e.time, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobsById.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    stages((si.stageId, si.attemptNumber())) = new Stage(tagOf(e.properties),
      si.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.get((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
      .foreach(_.completed = true)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.shuffleW += m.shuffleWriteMetrics.bytesWritten
        s.result += m.resultSize
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
      }
    }

  /** Counters per span id. Drains the listener bus first. */
  def counters(): Map[Int, Counters] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val out = mutable.HashMap.empty[Int, Counters]
    def resolve(tag: Int, ms: Long): Option[Counters] = {
      val id = if (tag >= 0) Some(tag)
        else spanBuf.find(s => s.startMs <= ms && ms <= s.endMs).map(_.id)
      id.map(i => out.getOrElseUpdate(i, new Counters))
    }
    jobsById.values.foreach { j =>
      resolve(j.spanTag, j.startMs).foreach { c =>
        c.jobs += 1
        c.jobIntervals += ((j.startMs, j.endMs))
      }
    }
    stages.values.filter(_.completed).foreach { s =>
      resolve(s.spanTag, s.submitMs).foreach { c =>
        c.stages += 1; c.tasks += s.tasks; c.taskCpuNs += s.cpuNs
        c.shuffleWriteBytes += s.shuffleW; c.resultBytes += s.result
        c.spillBytes += s.spill; c.inputBytes += s.input
      }
    }
    out.toMap
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object Tracer {
  val SpanKey = "perfbench.span"

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Seconds of [start, end] (millis) covered by no interval. */
  def uncovered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = start
    intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (end - start - covered) / 1e3
  }
}
