package graftbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark execution counters for the traced window, from a listener the
  * benchmark registers on its own session. Each finished job also becomes
  * a `spark` span whose parent is the span that set the job group (see
  * [[Trace.span]]); jobs with no benchmark group (submitted on threads the
  * benchmark does not own, such as the HTTP server's pool) hang under
  * [[Trace.defaultParent]].
  */
final class Counters extends SparkListener {
  // epoch ms (listener timestamps) -> System.nanoTime domain
  private val nsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExecMem = 0L
  var skewMax = 0.0

  private val jobStart = mutable.Map.empty[Int, (Long, Long)]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val parent = group.filter(_.startsWith(Trace.GroupPrefix))
      .map(_.stripPrefix(Trace.GroupPrefix).toLong).getOrElse(Trace.defaultParent)
    jobStart(e.jobId) = (e.time, parent)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
    jobStart.remove(e.jobId).foreach { case (t0, parent) =>
      Trace.record(parent, "spark", "job", t0 * 1000000L + nsOffset,
        e.time * 1000000L + nsOffset, req = e.jobId.toString)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    taskMs.remove(e.stageInfo.stageId).filter(_.size >= 2).foreach { ds =>
      val sorted = ds.sorted
      val med = sorted(sorted.size / 2).max(1L)
      skewMax = math.max(skewMax, sorted.last.toDouble / med)
    }
  }

  def snapshot(): Map[String, Double] = synchronized(Map(
    "spark.jobs" -> jobs.toDouble,
    "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble,
    "spark.executor_run_s" -> runMs / 1e3,
    "spark.executor_cpu_s" -> cpuNs / 1e9,
    "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
    "spark.spill_bytes" -> spill.toDouble,
    "spark.peak_exec_mem_bytes" -> peakExecMem.toDouble,
    "spark.task_skew_max" -> skewMax))
}
