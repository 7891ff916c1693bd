package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.listenerBus

/** Where one registered query's time goes: one line per Spark job (wall
  * seconds, task count, call site) to find the expensive pass inside a
  * multi-job query, then one JSON line of stage sums — executor time vs
  * wall, scan input, shuffle bytes — to tell scan-, shuffle- and
  * CPU-bound apart. Numbers come from the last of [[Reps]] runs, so the
  * first run absorbs cold-cache and codegen costs.
  *
  * Usage: Audit <sfDir> <query>...
  * JSON: {"metric":"audit","name":…,"dir":…,"wall_sec":…,"executor_sec":…,
  *  "input_mb":…,"shuffle_write_mb":…,"shuffle_read_mb":…,"stages":…,
  *  "tasks":…,"rows":…} */
object Audit {
  val Reps = 2

  final case class Job(id: Int, sec: Double, tasks: Int, site: String)

  final case class Report(name: String, dir: String, wallSec: Double,
                          jobs: Seq[Job], executorSec: Double,
                          inputMb: Double, shuffleWriteMb: Double,
                          shuffleReadMb: Double, stages: Long, tasks: Long,
                          rows: Long) {
    def lines: Seq[String] =
      f"== $name wall=$wallSec%.2f s, ${jobs.size} jobs (last rep)" +:
        jobs.map(j => f"  job ${j.id}%4d  ${j.sec}%7.3f s  ${j.tasks}%5d tasks  ${j.site}") :+
        f"  sum-of-jobs ${jobs.map(_.sec).sum}%.3f s (gaps = driver/stage-setup time)" :+
        f"""{"metric":"audit","name":"$name","dir":"$dir","wall_sec":$wallSec%.3f,"executor_sec":$executorSec%.3f,"input_mb":$inputMb%.1f,"shuffle_write_mb":$shuffleWriteMb%.1f,"shuffle_read_mb":$shuffleReadMb%.1f,"stages":$stages,"tasks":$tasks,"rows":$rows}"""
  }

  /** Job and stage counters of one run; read only after the bus drains. */
  private class Recorder extends SparkListener {
    private val started = scala.collection.mutable.Map.empty[Int, (Long, Int, String)]
    private val jobs = scala.collection.mutable.ArrayBuffer.empty[Job]
    private var input, shufW, shufR, runMs, stages, tasks = 0L

    def reset(): Unit = synchronized {
      started.clear(); jobs.clear()
      input = 0; shufW = 0; shufR = 0; runMs = 0; stages = 0; tasks = 0
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = e.stageInfos.lastOption.map(_.name.take(70)).getOrElse("?")
      started(e.jobId) = (e.time, e.stageInfos.map(_.numTasks).sum, site)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (t0, n, site) =>
        jobs += Job(e.jobId, (e.time - t0) / 1e3, n, site) }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val m = e.stageInfo.taskMetrics
        input += m.inputMetrics.bytesRead
        shufW += m.shuffleWriteMetrics.bytesWritten
        shufR += m.shuffleReadMetrics.totalBytesRead
        runMs += m.executorRunTime
        stages += 1
        tasks += e.stageInfo.numTasks
      }

    def report(name: String, dir: String, wallSec: Double, rows: Long)
        : Report = synchronized {
      def mb(b: Long): Double = b / (1024.0 * 1024.0)
      Report(name, dir, wallSec, jobs.sortBy(_.id).toSeq, runMs / 1e3,
        mb(input), mb(shufW), mb(shufR), stages, tasks, rows)
    }
  }

  /** Runs `name` [[Reps]] times under one listener, which it removes
    * before returning. */
  def audit(spark: SparkSession, sfDir: String, name: String): Report = {
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    try {
      var wall = 0.0
      var rows = 0L
      for (_ <- 1 to Reps) {
        listenerBus.drain(sc)
        rec.reset()
        val t0 = System.nanoTime()
        rows = SparkEntry.queries(name)(spark, sfDir).count()
        wall = (System.nanoTime() - t0) / 1e9
      }
      listenerBus.drain(sc)
      rec.report(name, sfDir, wall, rows)
    } finally sc.removeSparkListener(rec)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Audit <sfDir> <query>...")
    val spark = graft.sources.Tables.session("graft-audit")
    try args.tail.foreach(q => audit(spark, args(0), q).lines.foreach(println))
    finally spark.stop()
  }
}
