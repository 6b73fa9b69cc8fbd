package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one execution, summed over the tasks its jobs ran. */
final class Counts {
  var jobs, stages, tasks = 0L
  var durationMs, runMs, cpuNs, gcMs = 0L
  var readB, writeB, writeNs, fetchMs, spillB = 0L
  var readRecords, writeRecords = 0L
  var inputB, records = 0L
  def shuffleB: Long = readB + writeB
}

final case class JobSpan(exec: String, id: Int, start: Long, var end: Long = -1L)

final class StageSpan(val exec: String, val id: Int, val attempt: Int, val start: Long) {
  var end = -1L
  var numTasks = 0
  var durationMs, maxTaskMs, runMs, writeNs, fetchMs, rows = 0L
  /** Shares of this stage's task time spent in operators, in shuffle I/O
    * and outside the task body (scheduling, (de)serialisation). */
  def mix: (Double, Double, Double) =
    if (durationMs <= 0) (1.0, 0.0, 0.0)
    else {
      val shuffle = math.min(writeNs / 1e6 + fetchMs, runMs.toDouble)
      ((runMs - shuffle) / durationMs, shuffle / durationMs,
        math.max(0L, durationMs - runMs).toDouble / durationMs)
    }
}

final case class PhaseSpan(name: String, start: Long, end: Long)

/** Attributes Spark's scheduler events to bench executions.
  *
  * The bench tags every execution with the local property [[Recorder.Prop]];
  * jobs and stages carry it in their properties, and tasks are attributed
  * through their stage. Counters are always kept. With `traced`, job, stage
  * and planning-phase spans are kept in memory as well; the planning phases
  * come from `qe.tracker` and are matched to executions by time, since
  * executions run one at a time. Events arrive on the listener bus thread, so
  * readers call `Bus.drain` first and every access is synchronised.
  */
final class Recorder(traced: Boolean) extends SparkListener with QueryExecutionListener {
  private val counts = mutable.HashMap.empty[String, Counts]
  private val stageExec = mutable.HashMap.empty[(Int, Int), String]
  private val stageSpans = mutable.HashMap.empty[(Int, Int), StageSpan]
  private val jobSpans = mutable.ArrayBuffer.empty[JobSpan]
  private val phaseSpans = mutable.ArrayBuffer.empty[PhaseSpan]
  private var traceNs = 0L

  private def execOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Recorder.Prop))).getOrElse("")

  private def tracing[T](body: => T): Unit =
    if (traced) { val t0 = System.nanoTime(); body; traceNs += System.nanoTime() - t0 }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = execOf(e.properties)
    counts.getOrElseUpdate(exec, new Counts).jobs += 1
    tracing(jobSpans += JobSpan(exec, e.jobId, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    tracing(jobSpans.reverseIterator.find(_.id == e.jobId).foreach(_.end = e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val exec = execOf(e.properties)
    val info = e.stageInfo
    stageExec((info.stageId, info.attemptNumber())) = exec
    counts.getOrElseUpdate(exec, new Counts).stages += 1
    tracing(stageSpans((info.stageId, info.attemptNumber())) =
      new StageSpan(exec, info.stageId, info.attemptNumber(),
        info.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    tracing(stageSpans.get((info.stageId, info.attemptNumber())).foreach { s =>
      s.end = info.completionTime.getOrElse(System.currentTimeMillis())
      s.numTasks = info.numTasks
    })
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val key = (e.stageId, e.stageAttemptId)
    val c = counts.getOrElseUpdate(stageExec.getOrElse(key, ""), new Counts)
    c.tasks += 1
    c.durationMs += e.taskInfo.duration
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.readB += m.shuffleReadMetrics.totalBytesRead
      c.writeB += m.shuffleWriteMetrics.bytesWritten
      c.writeNs += m.shuffleWriteMetrics.writeTime
      c.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      c.readRecords += m.shuffleReadMetrics.recordsRead
      c.writeRecords += m.shuffleWriteMetrics.recordsWritten
      c.inputB += m.inputMetrics.bytesRead
      c.records += m.inputMetrics.recordsRead
    }
    tracing(stageSpans.get(key).foreach { s =>
      s.durationMs += e.taskInfo.duration
      s.maxTaskMs = math.max(s.maxTaskMs, e.taskInfo.duration)
      if (m != null) {
        s.runMs += m.executorRunTime
        s.writeNs += m.shuffleWriteMetrics.writeTime
        s.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        s.rows += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      }
    })
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    tracing(qe.tracker.phases.foreach { case (name, p) =>
      if (name != "parsing") phaseSpans += PhaseSpan(name, p.startTimeMs, p.endTimeMs)
    })
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = phases(qe)

  def countsOf(exec: String): Counts = synchronized(counts.getOrElse(exec, new Counts))
  def jobsOf(exec: String): Seq[JobSpan] = synchronized(jobSpans.filter(_.exec == exec).toSeq)
  def stagesOf(exec: String): Seq[StageSpan] =
    synchronized(stageSpans.valuesIterator.filter(_.exec == exec).toSeq.sortBy(s => (s.id, s.attempt)))
  def phasesWithin(from: Long, to: Long): Seq[PhaseSpan] =
    synchronized(phaseSpans.filter(p => p.start >= from && p.end <= to).toSeq)
  /** Time spent inside span-recording code, in seconds. */
  def traceSeconds: Double = synchronized(traceNs / 1e9)
}

object Recorder {
  val Prop = "graft.bench.exec"
}
