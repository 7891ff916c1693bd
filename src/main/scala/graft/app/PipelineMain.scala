package graft.app

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ml._
import graft.sources.Sinks

/** End-to-end pipeline orchestration (SURVEY.md §3, run_pipeline.sh order:
  * clean → kNN → RF → K-Means → sinks), generalized to the TESTDATA tables:
  *
  *   documents/events  → text stats + dedup summary        (ETL stage)
  *   embeddings        → kNN, Random Forest, K-Means elbow (ML stages)
  *   result documents  → JSON sink (MongoDB's offline stand-in, S5/S7)
  *
  * Usage: PipelineMain <sfDir> <outDir>
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = graft.sources.Tables.session("graft-pipeline")
    run(spark, sfDir, outDir)
    spark.stop()
  }

  /** The whole orchestration, session-agnostic (main builds a session and
    * stops it; PipelineSpec runs this on the shared test session — the
    * "stages compose as one program" proof the per-operator specs imply
    * but can't execute). Returns the JSON collection names written, so
    * callers can assert the on-disk layout against what ran. */
  def run(spark: SparkSession, sfDir: String, outDir: String): Seq[String] = {
    val sink = new Sinks.JsonDirSink(outDir)
    // record collections AT the write sites so the returned layout can
    // never drift from what actually landed on disk
    val written = scala.collection.mutable.ListBuffer.empty[String]
    def write(collection: String, df: org.apache.spark.sql.DataFrame): Unit = {
      sink.write(collection, df)
      written += collection
    }

    // stage 1: ETL — text stats + dedup summary over documents
    val stats = graft.text.TextOps.tokenStats(spark, sfDir)
    write("text_stats_sample", stats.limit(100))
    val dedup = graft.dedup.Dedup.dedupExact(spark, sfDir)
    println(s"[pipeline] dedup groups: ${dedup.count()}")

    // stage 2: kNN (broadcast operator) over embeddings
    val feats = FeaturePrep.embeddingFeatures(
      graft.sources.Tables.load(spark, sfDir, "embeddings"))
    val Array(train, test) = feats.randomSplit(Array(0.8, 0.2), 42L)
    train.cache(); test.cache()
    val (bestKnnK, knnAccs) = Knn.findOptimalK(
      train, test, Seq(3, 5, 7), labelCol = "label")
    println(s"[pipeline] kNN best k=$bestKnnK accs=$knnAccs")

    // stage 3: Random Forest + full evaluation
    val rfModel = RandomForestJob.classifier(RandomForestJob.RfConfig())
      .fit(train.withColumn("label", col("label").cast("double")))
    val preds = rfModel.transform(test.withColumn("label", col("label").cast("double")))
    val m = Metrics.multiclass(preds)
    println(s"[pipeline] RF metrics: $m")
    write("rf_confusion", Metrics.confusionMatrix(preds, 10))
    write("rf_per_class", Metrics.perClass(preds))

    // stage 4: K-Means elbow + final fit + cluster stats
    val elbow = KMeansJob.elbow(feats, 2 to 8, maxIter = 20)
    val k = KMeansJob.bestK(elbow)
    println(s"[pipeline] elbow: $elbow → k=$k")
    val km = KMeansJob.fit(feats, k)
    write("kmeans_centers", KMeansJob.centers(spark, km))
    write("kmeans_cluster_stats",
      KMeansJob.clusterStats(km.transform(feats), Seq("label")))
    // clustered sample CSV — the reference commits the same artifact
    // (kmeans_large_scale.py:140-143 writes clustered_2m_sample.csv)
    Sinks.csvSample(
      km.transform(feats).select(col("vec_id"), col("label"), col("cluster")),
      s"$outDir/clustered_sample", 100)

    train.unpersist(); test.unpersist()
    println(s"[pipeline] results in $outDir")
    written.toSeq
  }
}
