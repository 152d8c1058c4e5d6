package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Engine-level counters for the traced run, per Spark job: stages, tasks,
  * executor CPU and run time, bytes in, shuffled and spilled, failed tasks,
  * and the job's wall-clock interval. Every job keeps the job group the
  * [[Tracer]] set around the call that submitted it, which names the span
  * the job belongs to. The listener also tracks the most tasks ever
  * running at once, the evidence that the run used no more worker threads
  * than its `local[n]` master allows. */
final class LayerListener extends SparkListener {
  import LayerListener.Job

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  // (start, end) of every task's occupancy of an executor slot: launch
  // plus deserialization, run and result serialization. The scheduler's
  // own finish stamp comes after the slot is already reused.
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, group, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val t0 = e.taskInfo.launchTime
        taskSpans += ((t0, t0 + m.executorDeserializeTime + m.executorRunTime + m.resultSerializationTime))
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Every job seen so far, in start order. */
  def all: Seq[Job] = synchronized(jobs.values.toSeq)

  /** The most tasks that occupied a slot at once. A slot freed in the
    * same millisecond another task starts is not counted twice. */
  def maxConcurrentTasks: Int = synchronized {
    val events = taskSpans.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }
      .sortBy { case (t, d) => (t, d) } // ends before starts at equal times
    events.scanLeft(0)(_ + _._2).max
  }
}

object LayerListener {

  final class Job(val id: Int, val group: String, val startMs: Long) {
    var endMs: Long = -1L
    var stages = 0
    var tasks = 0
    var failedTasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  /** Totals over a set of jobs, by the names the report uses. */
  def totals(jobs: Seq[Job]): Map[String, Double] = Map(
    "jobs" -> jobs.size.toDouble, "stages" -> jobs.map(_.stages).sum.toDouble,
    "tasks" -> jobs.map(_.tasks).sum.toDouble, "cpu" -> jobs.map(_.cpuNs).sum / 1e9,
    "run" -> jobs.map(_.runMs).sum / 1e3, "input" -> jobs.map(_.inputBytes).sum.toDouble,
    "shr" -> jobs.map(_.shuffleReadBytes).sum.toDouble,
    "shw" -> jobs.map(_.shuffleWriteBytes).sum.toDouble,
    "spill" -> jobs.map(_.spillBytes).sum.toDouble,
    "failed" -> jobs.map(_.failedTasks).sum.toDouble)
}
