package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** The benchmark's own view of the Spark runtime under every layer.
  *
  * Sums job, stage and task counts, executor run and CPU time, and the
  * bytes each task read, shuffled and spilled, and keeps every job's
  * [start, end] interval. Call [[reset]] before a window and read it
  * with [[window]] after the listener bus has drained.
  */
final class SparkStats extends SparkListener {
  private val open = mutable.Map.empty[Int, Long]
  private val closed = mutable.ArrayBuffer.empty[(Long, Long)]
  private var jobs, stages, tasks, taskFailures = 0L
  private var runMs, cpuNs, shuffleWrite, shuffleRead, spill, input = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    open(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    closed += ((open.remove(e.jobId).getOrElse(e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != Success) taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      spill += m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
    }
  }

  def reset(): Unit = synchronized {
    open.clear(); closed.clear()
    jobs = 0; stages = 0; tasks = 0; taskFailures = 0
    runMs = 0; cpuNs = 0; shuffleWrite = 0; shuffleRead = 0; spill = 0; input = 0
  }

  /** `spark.*` metrics of the window [startMs, endMs] since [[reset]].
    * The driver gap is the window minus the union of the job intervals
    * (overlapping jobs are counted once). */
  def window(startMs: Long, endMs: Long, cores: Int): Map[String, Double] =
    synchronized {
      val wallMs = (endMs - startMs).max(1L)
      val busyMs = SparkStats.unionMs(
        closed.toSeq ++ open.values.map(s => (s, endMs)), startMs, endMs)
      val mb = 1024.0 * 1024.0
      Map(
        "spark.jobs" -> jobs.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.toDouble,
        "spark.task_failures" -> taskFailures.toDouble,
        "spark.driver_gap_s" -> (wallMs - busyMs) / 1000.0,
        "spark.exec_run_s" -> runMs / 1000.0,
        "spark.exec_cpu_s" -> cpuNs / 1e9,
        "spark.shuffle_write_mb" -> shuffleWrite / mb,
        "spark.shuffle_read_mb" -> shuffleRead / mb,
        "spark.spill_mb" -> spill / mb,
        "spark.input_mb" -> input / mb,
        "spark.core_util" -> runMs.toDouble / (wallMs.toDouble * cores))
    }
}

object SparkStats {
  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curStart = 0L
    var curEnd = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curEnd) {
        if (curEnd != Long.MinValue) total += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = curEnd max b
    }
    if (curEnd != Long.MinValue) total += curEnd - curStart
    total
  }
}
