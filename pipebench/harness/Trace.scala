package pipebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Per-pass Spark counters for a traced pass: one instance is registered
  * on the SparkContext and the session's listener manager for the length
  * of one pass, then drained and read by [[Trace.summary]]. */
final class Trace extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.Map.empty[Int, (Long, Long)]
  private var stages, tasks, failedTasks = 0L
  private var runMs, cpuNs = 0L
  private var shuffleRead, shuffleWrite, spill = 0L
  private var planningMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = (e.time, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (s, _) => jobs(e.jobId) = (s, e.time) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.diskBytesSpilled
    }
  }

  // Catalyst analysis + optimization + physical planning of every action
  private def planned(qe: QueryExecution): Unit = synchronized {
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)

  /** Counters of one pass spanning [startMs, endMs]; `buildSpans` are the
    * wall intervals spent inside build calls, so jobs submitted in them
    * count as build-time (eager) jobs. `gcMs` is the JVM's collection time
    * over the pass: in local mode driver and executors share the JVM, and
    * the per-task GC metric counts each pause once per running task. */
  def summary(startMs: Long, endMs: Long, buildSpans: Seq[(Long, Long)],
              gcMs: Long): Seq[(String, Double)] =
    synchronized {
      val iv = jobs.values.toSeq.map { case (s, e) =>
        (math.max(s, startMs), if (e < 0) endMs else math.min(e, endMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered, reach = 0L
      for ((s, e) <- iv) {
        if (s > reach) { covered += e - s; reach = e }
        else if (e > reach) { covered += e - reach; reach = e }
      }
      val buildJobs = jobs.values.count { case (s, _) =>
        buildSpans.exists { case (b0, b1) => s >= b0 && s <= b1 } }
      val mb = 1e6
      Seq(
        "spark.jobs" -> jobs.size.toDouble,
        "spark.build_jobs" -> buildJobs.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.toDouble,
        "spark.executor_run_s" -> runMs / 1e3,
        "spark.executor_cpu_s" -> cpuNs / 1e9,
        "jvm.gc_s" -> gcMs / 1e3,
        "spark.shuffle_read_mb" -> shuffleRead / mb,
        "spark.shuffle_write_mb" -> shuffleWrite / mb,
        "spark.spill_mb" -> spill / mb,
        "spark.failed_tasks" -> failedTasks.toDouble,
        "catalyst.planning_ms" -> planningMs.toDouble,
        "driver.gap_s" -> (endMs - startMs - covered) / 1e3)
    }
}
