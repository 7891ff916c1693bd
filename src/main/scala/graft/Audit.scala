package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.listenerBus

/** Where one registered query's time goes: one line per Spark job (wall
  * seconds, task count, job description, call site) to find the expensive
  * pass inside a multi-job query, then one JSON line of stage sums — executor time vs
  * wall, scan input, shuffle bytes — to tell scan-, shuffle- and
  * CPU-bound apart. Numbers come from the last of [[Reps]] runs, so the
  * first run absorbs cold-cache and codegen costs.
  *
  * Each run is labelled with [[Query.labelled]], so a job's description
  * names the query that started it, build-time jobs included. Streaming
  * micro-batch jobs keep Spark's own batch description (query id, run id
  * and batch number), which the stream's thread sets for every batch.
  *
  * Usage: Audit <sfDir> <query>...
  * JSON: {"metric":"audit","name":…,"dir":…,"wall_sec":…,"executor_sec":…,
  *  "input_bytes":…,"shuffle_write_bytes":…,"shuffle_read_bytes":…,"stages":…,
  *  "tasks":…,"rows":…} */
object Audit {
  val Reps = 2

  final case class Job(id: Int, sec: Double, tasks: Int, query: String,
                       site: String)

  final case class Report(name: String, dir: String, wallSec: Double,
                          jobs: Seq[Job], executorSec: Double,
                          inputBytes: Long, shuffleWriteBytes: Long,
                          shuffleReadBytes: Long, stages: Long, tasks: Long,
                          rows: Long) {
    def lines: Seq[String] =
      f"== $name wall=$wallSec%.2f s, ${jobs.size} jobs (last rep)" +:
        jobs.map(j => f"  job ${j.id}%4d  ${j.sec}%7.3f s  ${j.tasks}%5d tasks  ${j.query}: ${j.site}") :+
        f"  sum-of-jobs ${jobs.map(_.sec).sum}%.3f s (gaps = driver/stage-setup time)" :+
        Json.obj(Seq("metric" -> Json.str("audit"), "name" -> Json.str(name),
          "dir" -> Json.str(dir), "wall_sec" -> f"$wallSec%.3f",
          "executor_sec" -> f"$executorSec%.3f",
          "input_bytes" -> inputBytes.toString,
          "shuffle_write_bytes" -> shuffleWriteBytes.toString,
          "shuffle_read_bytes" -> shuffleReadBytes.toString,
          "stages" -> stages.toString, "tasks" -> tasks.toString,
          "rows" -> rows.toString))
  }

  /** Job and stage counters of one run; read only after the bus drains. */
  private class Recorder extends SparkListener {
    private val started =
      scala.collection.mutable.Map.empty[Int, (Long, Int, String, String)]
    private val jobs = scala.collection.mutable.ArrayBuffer.empty[Job]
    private var input, shufW, shufR, runMs, stages, tasks = 0L

    def reset(): Unit = synchronized {
      started.clear(); jobs.clear()
      input = 0; shufW = 0; shufR = 0; runMs = 0; stages = 0; tasks = 0
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = e.stageInfos.lastOption.map(_.name.take(70)).getOrElse("?")
      val query = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .fold("-")(_.replaceAll("\\s+", " ").trim)
      started(e.jobId) =
        (e.time, e.stageInfos.map(_.numTasks).sum, query, site)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (t0, n, query, site) =>
        jobs += Job(e.jobId, (e.time - t0) / 1e3, n, query, site) }
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
      Report(name, dir, wallSec, jobs.sortBy(_.id).toSeq, runMs / 1e3,
        input, shufW, shufR, stages, tasks, rows)
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
        rows = Query.labelled(spark, name)(
          SparkEntry.queries(name)(spark, sfDir).count())
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
