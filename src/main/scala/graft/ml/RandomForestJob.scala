package graft.ml

import graft.Query

import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Random Forest classification job (SURVEY.md §2.8 M5-M6): the reference's
  * Severity classifier (random_forest.py, complete_pipeline.py:101-165)
  * generalized to any (features, label) frame.
  *
  * Configs mirror the reference presets: (a) 100 trees / depth 10
  * (random_forest.py:101-108), (b) 50/8 (complete_pipeline.py:130). Train
  * and test are cached around the fit as the reference does (:322-324) —
  * tree induction makes many passes.
  */
object RandomForestJob {
  final case class RfConfig(numTrees: Int = 50, maxDepth: Int = 8,
                            minInstancesPerNode: Int = 10, seed: Long = 42L,
                            maxBins: Int = 32, subsamplingRate: Double = 1.0,
                            featureSubsetStrategy: String = "auto")

  def classifier(cfg: RfConfig, labelCol: String = "label",
                 featuresCol: String = "features"): RandomForestClassifier =
    new RandomForestClassifier()
      .setNumTrees(cfg.numTrees).setMaxDepth(cfg.maxDepth)
      .setMinInstancesPerNode(cfg.minInstancesPerNode).setSeed(cfg.seed)
      .setMaxBins(cfg.maxBins).setSubsamplingRate(cfg.subsamplingRate)
      .setFeatureSubsetStrategy(cfg.featureSubsetStrategy)
      .setLabelCol(labelCol).setFeaturesCol(featuresCol)

  /** M6: per-feature Gini importances zipped with names, as a DataFrame
    * (random_forest.py:118-123's driver-side zip, relationalized). */
  def featureImportances(spark: SparkSession,
                         model: RandomForestClassificationModel,
                         names: Seq[String]): DataFrame = {
    import spark.implicits._
    model.featureImportances.toArray.zip(names)
      .map { case (imp, n) => (n, imp) }.toSeq
      .toDF("feature", "importance")
      .orderBy(col("importance").desc, col("feature"))
  }

  /** End-to-end on the embeddings table: label prediction from the
    * embedding vector; 80/20 split seed 42 (R3); returns one metrics row.
    * Rows-only correctness check (MLlib internals are not SQL-expressible);
    * metric-band assertions live in the ScalaTest spec. */
  def embeddingRfMetrics(s: SparkSession, dir: String,
                         cfg: RfConfig = RfConfig()): DataFrame = {
    // fan-out: tree induction's per-node split aggregation is the hot
    // stage; a single-split scan would run it on ONE core (coalesce can't
    // widen a 1-partition input). Deterministic order for the seeded split.
    val feats = FeaturePrep.embeddingFeatures(
      graft.sources.Tables.fanOut(
        graft.sources.Tables.load(s, dir, "embeddings"), "vec_id", 8)
        .sortWithinPartitions("vec_id"))
      .withColumn("label", col("label").cast(DoubleType))
    val Array(train, test) = feats.randomSplit(Array(0.8, 0.2), 42L)
    train.cache(); test.cache()
    try {
      val model = classifier(cfg).fit(train)
      val preds = model.transform(test)
      val m = Metrics.multiclass(preds)
      import s.implicits._
      Seq((m("accuracy"), m("weightedPrecision"), m("weightedRecall"), m("f1")))
        .toDF("accuracy", "weighted_precision", "weighted_recall", "f1")
    } finally { train.unpersist(); test.unpersist(); () }
  }

  /** The registry queries this module declares (see [[graft.Query]]). */
  def queries: Seq[Query] = Seq(
    Query.rowsOnly("q37_rf_metrics", (s, d) => embeddingRfMetrics(s, d)),
  )
}
