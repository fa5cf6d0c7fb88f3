package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval in epoch milliseconds. */
final case class Iv(start: Long, end: Long) {
  def len: Long = math.max(0L, end - start)
  def clip(lo: Long, hi: Long): Iv = Iv(math.max(start, lo), math.min(end, hi))
}

object Iv {
  /** Total length covered by the union of `ivs`. */
  def covered(ivs: Seq[Iv]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.filter(_.len > 0).sortBy(_.start).foreach { iv =>
      if (iv.start > curE) {
        total += math.max(0L, curE - curS)
        curS = iv.start; curE = iv.end
      } else curE = math.max(curE, iv.end)
    }
    total + math.max(0L, curE - curS)
  }
}

/** Everything the listeners saw between two drains: the Spark jobs,
  * stages and tasks of one harness span, plus the Catalyst phases of
  * every query execution that finished inside it.
  */
final class Epoch {
  val jobGroups = mutable.Map.empty[Int, String]
  val jobStart = mutable.Map.empty[Int, Long]
  val jobEnd = mutable.Map.empty[Int, Long]
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var delayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var scanBytes = 0L
  var scanRows = 0L
  var outBytes = 0L
  var outRows = 0L
  val phases = mutable.ArrayBuffer.empty[(String, Iv)]

  def jobIvs: Seq[Iv] = jobStart.keys.toSeq.sorted.map(id =>
    Iv(jobStart(id), jobEnd.getOrElse(id, jobStart(id))))

  /** Slowest task ÷ median task of the worst stage with at least two
    * tasks (1.0 when no stage ran more than one task).
    */
  def skew: Double = stageTaskMs.values.filter(_.size >= 2).map { ts =>
    val s = ts.sorted
    s.last.toDouble / math.max(1L, s(s.size / 2))
  }.foldLeft(1.0)(math.max)
}

/** One listener for the traced run: jobs, stages and tasks through the
  * public `SparkListener` API, Catalyst phase times through the public
  * `QueryExecutionListener` API (each query's `QueryPlanningTracker`).
  * Events are folded into the current [[Epoch]]; [[take]] drains the
  * listener bus first, so an epoch holds exactly the events posted
  * before the span it closes ended.
  */
final class Tracer(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  private var cur = new Epoch

  def take(): Epoch = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized { val e = cur; cur = new Epoch; e }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    cur.jobGroups(e.jobId) = group
    cur.jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    cur.jobEnd(e.jobId) = e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { cur.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    cur.tasks += 1
    cur.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      info.duration
    if (m != null) {
      cur.runMs += m.executorRunTime
      cur.cpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.delayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cur.scanBytes += m.inputMetrics.bytesRead
      cur.scanRows += m.inputMetrics.recordsRead
      cur.outBytes += m.outputMetrics.bytesWritten
      cur.outRows += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = phasesOf(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = phasesOf(qe)

  private def phasesOf(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      cur.phases += name -> Iv(p.startTimeMs, p.endTimeMs)
    }
  }
}
