package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one job group: the benchmark sets the group
  * `<op>#<phase>` before each call into graft, so every job, stage and task
  * lands on the op and phase that caused it. */
final class Work {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  /** Task (launch, finish) intervals in epoch ms. */
  val intervals = mutable.ArrayBuffer[(Long, Long)]()

  /** Length of the union of the task intervals, in seconds. */
  def busySeconds: Double = {
    var total = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > hi) { if (hi > lo) total += hi - lo; lo = s; hi = e }
      else hi = math.max(hi, e)
    }
    if (hi > lo) total += hi - lo
    total / 1e3
  }
}

/** The benchmark's own SparkListener: per-job-group counts, times and bytes,
  * plus the planning-phase times of every SQL execution. Registered only in
  * traced runs. */
final class Collector extends SparkListener with QueryExecutionListener {
  private val byGroup = mutable.HashMap[String, Work]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private var planNanos = 0L

  /** Jobs that carried no job group (posted outside any op). */
  val Unattributed = "<none>"

  private def work(g: String) = byGroup.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(Unattributed)
    work(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    work(stageGroup.getOrElse(e.stageInfo.stageId, Unattributed)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageGroup.getOrElse(e.stageId, Unattributed))
    w.tasks += 1
    if (!e.taskInfo.successful) w.failedTasks += 1
    w.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.input += m.inputMetrics.bytesRead
      w.output += m.outputMetrics.bytesWritten
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    planNanos += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

  /** Remove and return everything recorded since the last call, keyed by
    * job group, and the planning time of the SQL executions in that span. */
  def take(): (Map[String, Work], Double) = synchronized {
    val out = (byGroup.toMap, planNanos / 1e9)
    byGroup.clear(); planNanos = 0L
    out
  }
}

/** One traced interval: a harness op, a phase of it, or a DAG task. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written when the run ends. */
final class Spans {
  /** Off until the traced part of a run starts. */
  var enabled = false
  val all = mutable.ArrayBuffer[Span]()
  private var open = List(0)
  private var nextId = 1

  def apply[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val parent = open.head
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      all += Span(id, parent, name, layer, t0, System.nanoTime())
      open = open.tail
    }
  }

  /** Seconds each layer spent in its own spans, less the part its child
    * spans cover. */
  def selfSeconds: Map[String, Double] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, spans) =>
      layer -> spans.map(s => s.seconds -
        children.getOrElse(s.id, Nil).map(_.seconds).sum).sum
    }
  }
}
