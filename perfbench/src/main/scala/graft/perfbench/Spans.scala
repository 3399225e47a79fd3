package graft.perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark task-metric totals for one span, or for a whole run. */
final class Acc {
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var jobs = 0L
  var tasks = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExecMem = 0L // max over tasks, not a sum
  var rowsIn = 0L
  var bytesIn = 0L
  var bytesOut = 0L
  /** (start, end) wall-clock millis of every job of the span */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Acc): Unit = {
    cpuNs += o.cpuNs; gcMs += o.gcMs; schedMs += o.schedMs
    jobs += o.jobs; tasks += o.tasks
    shuffleWrite += o.shuffleWrite; spill += o.spill
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    rowsIn += o.rowsIn; bytesIn += o.bytesIn; bytesOut += o.bytesOut
    jobIntervals ++= o.jobIntervals
  }

  def copy(): Acc = { val c = new Acc; c.add(this); c }

  /** Counter-wise difference `this - before` (for whole-run snapshots). */
  def minus(before: Acc): Acc = {
    val d = new Acc
    d.cpuNs = cpuNs - before.cpuNs; d.gcMs = gcMs - before.gcMs
    d.schedMs = schedMs - before.schedMs
    d.jobs = jobs - before.jobs; d.tasks = tasks - before.tasks
    d.shuffleWrite = shuffleWrite - before.shuffleWrite
    d.spill = spill - before.spill; d.peakExecMem = peakExecMem
    d.rowsIn = rowsIn - before.rowsIn; d.bytesIn = bytesIn - before.bytesIn
    d.bytesOut = bytesOut - before.bytesOut
    d
  }

  def record(m: org.apache.spark.executor.TaskMetrics,
      info: org.apache.spark.scheduler.TaskInfo): Unit = {
    tasks += 1
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    // the scheduler-delay definition of Spark's own stage page
    val gettingResult =
      if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
    schedMs += math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    spill += m.diskBytesSpilled
    peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    rowsIn += m.inputMetrics.recordsRead
    bytesIn += m.inputMetrics.bytesRead
    bytesOut += m.outputMetrics.bytesWritten
  }

  /** Millis of [from, to] during which no job of this span was running. */
  def idleMillis(from: Long, to: Long): Long = {
    val clipped = jobIntervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var end = from
    clipped.foreach { case (a, b) =>
      if (b > end) { busy += b - math.max(a, end); end = b }
    }
    math.max(0L, (to - from) - busy)
  }
}

/** Attributes Spark's task metrics to harness spans. The harness runs each
  * span's jobs under a job group named after the span; this listener maps
  * every stage to the group of the job that submitted it and adds each
  * finished task to that group's [[Acc]] and to the run total. Jobs with no
  * group land under [[SpanListener.Unattributed]], so per-span sums plus
  * that bucket always equal the total.
  *
  * Listener events are delivered on Spark's single listener-bus thread;
  * readers call `PerfbenchBridge.drain` first and read afterwards.
  */
final class SpanListener extends SparkListener {
  import SpanListener._

  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  val bySpan = mutable.Map.empty[String, Acc]
  val total = new Acc

  private def groupOf(p: Properties): String =
    Option(p).flatMap(q => Option(q.getProperty(GroupKey))).getOrElse(Unattributed)

  private def acc(g: String): Acc = bySpan.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobStart(e.jobId) = (g, e.time)
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
    acc(g).jobs += 1
    total.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      acc(g).jobIntervals += ((t0, e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup(e.stageInfo.stageId) = groupOf(e.properties)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      acc(stageGroup.getOrElse(e.stageId, Unattributed)).record(e.taskMetrics, e.taskInfo)
      total.record(e.taskMetrics, e.taskInfo)
    }

  /** Sum of every group's accumulator, the unattributed bucket included. */
  def spanSum: Acc = { val s = new Acc; bySpan.values.foreach(s.add); s }
}

object SpanListener {
  val GroupKey = "spark.jobGroup.id"
  val Unattributed = ""
}
