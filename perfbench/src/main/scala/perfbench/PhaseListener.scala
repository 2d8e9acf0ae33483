package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Listener totals for one job group. */
final class GroupTotals {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
}

/** Sums jobs, stages and task metrics per job group.
  *
  * The harness tags every phase of a traced query with its own job group
  * (`PhaseListener.group(i, phase)`) before entering it. A job belongs to
  * the group that was set on the thread that submitted it; Spark copies
  * that property to threads the submitting thread starts, so eager jobs
  * fired from helper threads during construction still land in the
  * construction group. Stages and tasks inherit the group of their job.
  * Events with no group are summed under [[PhaseListener.Unattributed]].
  */
class PhaseListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val totals = new ConcurrentHashMap[String, GroupTotals]

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def at(g: String): GroupTotals =
    totals.computeIfAbsent(g, _ => new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties).getOrElse(PhaseListener.Unattributed)
    at(g).jobs += 1
    e.stageInfos.foreach(s => stageGroup.putIfAbsent(s.stageId, g))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    val g = groupOf(e.properties).orElse(Option(stageGroup.get(id)))
      .getOrElse(PhaseListener.Unattributed)
    stageGroup.put(id, g)
    at(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = at(Option(stageGroup.get(e.stageId))
      .getOrElse(PhaseListener.Unattributed))
    t.tasks += 1
    if (e.reason != Success) t.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRows += m.inputMetrics.recordsRead
    }
  }

  /** Totals of one group; empty totals if it ran no job. Read only after
    * the listener bus has been drained.
    */
  def apply(group: String): GroupTotals =
    Option(totals.get(group)).getOrElse(new GroupTotals)
}

object PhaseListener {
  val Unattributed = "perfbench:none"
  def group(sample: Int, phase: String): String = s"perfbench:$sample:$phase"
}
