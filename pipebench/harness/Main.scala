package pipebench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.etl.Cleaning
import graft.ml.{FeaturePrep, KMeansJob, Knn, Metrics, RandomForestJob}
import graft.sources.{Sinks, Tables}

/** Runs one workload in this JVM and prints its raw record as `@pb` lines
  * for run.py, which turns them into metrics and checks the outputs.
  *
  * Usage: Main <workload> <dataDir> <outDir> <seconds> <trace 0|1> <cores>
  *
  * A pass runs every operation of the workload once, in order, on the
  * driver thread (a closed loop with one client). The first [[Warmup]]
  * passes are discarded: the first pays class loading, code generation and
  * most JIT compilation, the second still runs 10-25% slower than the
  * third. JIT keeps shaving a few percent per pass after that, so the
  * number of discarded passes is fixed rather than adaptive: every run
  * times the same warm state. Timed passes then run until at least
  * `seconds` have been measured, in whole passes; there is at least one.
  * A traced run times at least three passes, untraced, traced, untraced,
  * so the tracing overhead is measured inside the run and the drift
  * between passes cancels out of it. */
object Main {
  val Warmup = 2

  /** One operation: a pipeline stage or a registry query. `run` times
    * its calls into the engine with [[span]] and returns the output the
    * benchmark checks. */
  final case class Op(name: String, run: () => String)

  /** The operations of a pass, and what to release after each pass. */
  final case class Workload(ops: Seq[Op], cleanup: () => Unit = () => ())

  final case class Span(op: String, layer: String, kind: String,
                        startMs: Long, endMs: Long, seconds: Double)

  private val spans = ArrayBuffer.empty[Span]

  /** Times `body` as `kind` ("build" or "exec") work of `layer`. */
  def span[T](op: String, layer: String, kind: String)(body: => T): T = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally spans += Span(op, layer, kind, w0, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e9)
  }

  /** A registry query: the `SparkEntry.queries` call is the build, the
    * `.count()` the timed action. */
  def query(spark: SparkSession, data: String, name: String,
            module: String): Op = Op(name, () => {
    val df = span(name, module, "build")(SparkEntry.queries(name)(spark, data))
    span(name, module, "exec")(df.count()).toString
  })

  // Module-stratified registry slice: the cheapest query of each module
  // whose row count is fixed by key domains the generator fills, so the
  // recorded expectations hold for any seed. Analytics and text have two,
  // so several queries sit near the median; the streaming query commits
  // micro-batch checkpoints, offsets and state.
  val Registry: Seq[(String, String)] = Seq(
    "q05_group_count" -> "analytics", "q06_multi_agg" -> "analytics",
    "q22_token_stats" -> "text", "q43_top_tokens" -> "text",
    "q30_simhash" -> "dedup", "q44_embedding_stats" -> "similarity",
    "q65_knn_euclid" -> "ml", "q355_filter_agg" -> "sql",
    "q40_media_metadata" -> "multimodal",
    "q115_stream_static_join" -> "streaming")

  val RfFeatures: Seq[String] = Seq("Start_Lat", "Start_Lng", "Distance_mi",
    "Temperature_F", "Humidity_Percent", "Visibility_mi", "Wind_Speed_mph",
    "Amenity", "Crossing", "Junction", "Traffic_Signal", "Hour", "DayOfWeek",
    "Month")
  // Small models on 10k rows: the stages are bound by per-job driver
  // overhead at any size this host can run, and a whole run (two warm-up
  // passes and a timed one) has to stay near a minute.
  val RfConfig = RandomForestJob.RfConfig(numTrees = 10, maxDepth = 4)
  val ElbowKs: Seq[Int] = Seq(4, 6, 8, 10, 12)
  val ElbowIters = 10
  val KnnKs: Seq[Int] = Seq(3, 5, 7)

  /** The paper's pipeline: CSV → clean → parquet → features → Random
    * Forest → K-Means elbow and fit → kNN → JSON and CSV sinks. */
  def accidents(spark: SparkSession, data: String, out: String): Workload = {
    import spark.implicits._
    var cleaned, train, test, geo, clustered, stats, rfOut: DataFrame = null
    var model: org.apache.spark.ml.classification.RandomForestClassificationModel = null
    var k = 0
    def stage(name: String, kind: String)(body: => String): Op =
      Op(name, () => span(name, name.takeWhile(_ != '.'), kind)(body))
    Workload(Seq(
      stage("etl.clean", "build") {
        cleaned = Cleaning.cleanAccidents(
          Tables.csv(spark, s"$data/accidents.csv", Cleaning.accidentsSchema))
        ""
      },
      stage("sources.parquet_write", "exec") {
        Sinks.parquet(cleaned, s"$out/cleaned"); ""
      },
      stage("ml.features", "exec") {
        val in = spark.read.parquet(s"$out/cleaned")
          .withColumn("label", col("Severity").cast("double"))
        val rows = in.count()
        val feats = FeaturePrep.assembleAndScale(RfFeatures).fit(in).transform(in)
        val Array(tr, te) = feats.randomSplit(Array(0.8, 0.2), 42L)
        train = tr.cache(); test = te.cache()
        geo = FeaturePrep.assembleAndScale(Seq("Start_Lat", "Start_Lng"))
          .fit(in).transform(in)
          .select("scaled_features", "Severity", "Temperature_F")
        s"rows=$rows"
      },
      stage("ml.rf_fit", "exec") {
        model = RandomForestJob.classifier(RfConfig,
          featuresCol = "scaled_features").fit(train)
        s"trees=${model.getNumTrees}"
      },
      stage("ml.rf_eval", "exec") {
        val m = Metrics.multiclass(model.transform(test))
        rfOut = m.toSeq.sorted.toDF("metric", "value")
        m.toSeq.sorted.map { case (n, v) => s"$n=$v" }.mkString(";")
      },
      // the k fits run as concurrent jobs, the engine's mode for a sweep
      // input far smaller than the cluster
      stage("ml.kmeans_elbow", "exec") {
        k = KMeansJob.bestK(KMeansJob.elbow(geo, ElbowKs,
          featuresCol = "scaled_features", maxIter = ElbowIters, parallel = true))
        s"k=$k"
      },
      stage("ml.kmeans_fit", "exec") {
        val km = KMeansJob.fit(geo, k, "scaled_features", maxIter = ElbowIters)
        clustered = km.transform(geo)
        stats = KMeansJob.clusterStats(clustered,
          Seq("Severity", "Temperature_F")).cache()
        s"clusters=${stats.count()}"
      },
      stage("ml.knn", "exec") {
        val (best, accs) = Knn.findOptimalK(
          train.sample(withReplacement = false, 0.1, 7L),
          test.sample(withReplacement = false, 0.1, 7L), KnnKs,
          featuresCol = "scaled_features")
        s"k=$best;" + accs.toSeq.sorted.map { case (n, a) => s"$n=$a" }
          .mkString(";")
      },
      stage("sources.sink", "exec") {
        val sink = new Sinks.JsonDirSink(s"$out/results")
        sink.write("rf_metrics", rfOut)
        sink.write("kmeans_cluster_stats", stats)
        Sinks.csvSample(clustered.select("Severity", "cluster"),
          s"$out/clustered_sample", 1000)
        Seq("results/rf_metrics", "results/kmeans_cluster_stats",
          "clustered_sample")
          .count(d => new java.io.File(s"$out/$d/_SUCCESS").isFile)
          .toString + "_sinks"
      }),
      () => Seq(train, test, stats).filter(_ != null).foreach(_.unpersist()))
  }

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def emit(kind: String, fields: Seq[(String, String)]): Unit = {
    println("@pb " + kind + " {" + fields.map { case (k, v) =>
      s""""$k":$v""" }.mkString(",") + "}")
    Console.out.flush()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, data, out, secondsArg, traceArg, cores) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val b = SparkSession.builder().master(s"local[$cores]").appName("pipebench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfigs.foreach { case (key, v) => b.config(key, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val work = workload match {
      case "accidents" => accidents(spark, data, out)
      case "registry" =>
        Workload(Registry.map { case (q, m) => query(spark, data, q, m) })
      case other => sys.error(s"unknown workload $other")
    }

    def pass(phase: String, index: Int, trace: Option[Trace]): Unit = {
      spans.clear()
      trace.foreach { t =>
        spark.sparkContext.addSparkListener(t); spark.listenerManager.register(t) }
      def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
      val gc0 = gcMs
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val outputs = work.ops.map { op =>
        try op.name -> op.run()
        catch { case e: Throwable =>
          op.name -> s"ERROR ${e.getClass.getSimpleName}: ${e.getMessage}" }
      }
      work.cleanup()
      val wall = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      val counters = trace.map { t =>
        org.apache.spark.pipebench.Drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(t)
        spark.listenerManager.unregister(t)
        t.summary(w0, w1, spans.filter(_.kind == "build")
          .map(s => (s.startMs, s.endMs)).toSeq, gcMs - gc0)
      }
      val opJson = outputs.map { case (name, o) =>
        val mine = spans.filter(_.op == name)
        def secs(kind: String) = mine.filter(_.kind == kind).map(_.seconds).sum
        s"""{"name":"${esc(name)}","layer":"${mine.headOption.map(_.layer)
          .getOrElse("")}","build_s":${num(secs("build"))},""" +
          s""""exec_s":${num(secs("exec"))},"out":"${esc(o)}"}"""
      }
      emit("pass", Seq("phase" -> s""""$phase"""", "index" -> index.toString,
        "traced" -> trace.isDefined.toString, "wall_s" -> num(wall),
        "ops" -> opJson.mkString("[", ",", "]")) ++
        counters.map(c => "trace" -> c.map { case (k, v) =>
          s""""$k":${num(v)}""" }.mkString("{", ",", "}")))
    }

    for (i <- 0 until Warmup) pass("warmup", i, None)
    val setup = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val minTimed = if (traced) 3 else 1
    val m0 = System.nanoTime()
    var timed = 0
    while (timed < minTimed || (System.nanoTime() - m0) / 1e9 < seconds) {
      pass("timed", timed,
        if (traced && timed % 2 == 1) Some(new Trace) else None)
      timed += 1
    }

    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(Double.NaN)
    emit("end", Seq("setup_s" -> num(setup), "peak_rss_mb" -> num(hwm),
      "spark" -> s""""${spark.version}"""",
      "jdk" -> s""""${esc(System.getProperty("java.runtime.version"))}""""))
    spark.stop()
  }
}
