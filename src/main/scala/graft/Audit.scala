package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.listenerBus
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

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
  * Each micro-batch of a streaming query the run starts gets one line of
  * its own: the audited query's name, the batch number and Spark's
  * per-phase `durationMs` (the query's progress events, which reach the
  * same listener as its jobs).
  *
  * Usage: Audit <sfDir> <query>...
  * JSON: {"metric":"audit","name":…,"dir":…,"wall_sec":…,"executor_sec":…,
  *  "input_bytes":…,"shuffle_write_bytes":…,"shuffle_read_bytes":…,"stages":…,
  *  "tasks":…,"rows":…} */
object Audit {
  val Reps = 2

  final case class Job(id: Int, sec: Double, tasks: Int, query: String,
                       site: String)

  /** One micro-batch's progress: its batch number and the milliseconds of
    * each phase Spark reports. */
  final case class Batch(id: Long, durationMs: Seq[(String, Long)])

  /** The `durationMs` phases a batch line prints, in this order. */
  val Phases: Seq[String] = Seq("triggerExecution", "latestOffset",
    "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  final case class Report(name: String, dir: String, wallSec: Double,
                          jobs: Seq[Job], executorSec: Double,
                          inputBytes: Long, shuffleWriteBytes: Long,
                          shuffleReadBytes: Long, stages: Long, tasks: Long,
                          rows: Long, batches: Seq[Batch] = Nil) {
    def lines: Seq[String] =
      (f"== $name wall=$wallSec%.2f s, ${jobs.size} jobs (last rep)" +:
        jobs.map(j => f"  job ${j.id}%4d  ${j.sec}%7.3f s  ${j.tasks}%5d tasks  ${j.query}: ${j.site}")) ++
        batches.map(b => f"  batch ${b.id}%3d  $name: " +
          b.durationMs.map { case (k, v) => s"$k=$v" }.mkString(" ") + " ms") :+
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
    private val batches = scala.collection.mutable.ArrayBuffer.empty[Batch]
    private var input, shufW, shufR, runMs, stages, tasks = 0L

    def reset(): Unit = synchronized {
      started.clear(); jobs.clear(); batches.clear()
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

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => synchronized {
        val d = p.progress.durationMs
        batches += Batch(p.progress.batchId, Phases.collect {
          case k if d.containsKey(k) => k -> d.get(k).longValue })
      }
      case _ =>
    }

    def report(name: String, dir: String, wallSec: Double, rows: Long)
        : Report = synchronized {
      Report(name, dir, wallSec, jobs.sortBy(_.id).toSeq, runMs / 1e3,
        input, shufW, shufR, stages, tasks, rows, batches.toSeq)
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
