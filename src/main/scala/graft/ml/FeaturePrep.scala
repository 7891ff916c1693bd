package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.{StandardScaler, StringIndexer, VectorAssembler}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Feature preparation (SURVEY.md §2.8 M1-M4): assembler + scaler + indexer
  * pipeline builders, generalized from the reference's accidents pipelines
  * (knn_classification.py:73-91, random_forest.py:82-86, nb cell 20).
  *
  * All stages are MLlib built-ins — fit is one or two distributed passes
  * (scaler: one pass for mean/std), transform is a narrow map. At 100 TB the
  * only costs are those passes; nothing here shuffles.
  */
object FeaturePrep {

  /** M1: numeric columns → `features` vector, invalid rows skipped
    * (handleInvalid="skip" as in knn_classification.py:76). */
  def assembler(inputCols: Seq[String], outputCol: String = "features"): VectorAssembler =
    new VectorAssembler()
      .setInputCols(inputCols.toArray)
      .setOutputCol(outputCol)
      .setHandleInvalid("skip")

  /** M2: z-score standardization. Reference uses withMean=true in the jobs
    * (knn_classification.py:80-85) and withMean=false in the notebook RF
    * (nb cell 25) — both exposed. */
  def scaler(inputCol: String = "features", outputCol: String = "scaled_features",
             withMean: Boolean = true): StandardScaler =
    new StandardScaler()
      .setInputCol(inputCol).setOutputCol(outputCol)
      .setWithStd(true).setWithMean(withMean)

  /** M3: categorical → index, unseen labels kept (nb cell 20). */
  def indexer(inputCol: String, outputCol: String): StringIndexer =
    new StringIndexer()
      .setInputCol(inputCol).setOutputCol(outputCol)
      .setHandleInvalid("keep")

  /** M4: assembler → scaler pipeline (knn_classification.py:88-91). */
  def assembleAndScale(featureCols: Seq[String], withMean: Boolean = true): Pipeline =
    new Pipeline().setStages(Array(
      assembler(featureCols), scaler(withMean = withMean)))

  /** Beyond-reference: an `array<float>` embedding column → MLlib Vector
    * features (the `embeddings` table path). Narrow map, codegen'd. */
  def embeddingFeatures(df: DataFrame, embeddingCol: String = "embedding",
                        outputCol: String = "features"): DataFrame =
    df.withColumn(outputCol,
      array_to_vector(col(embeddingCol).cast("array<double>")))

  /** Application-level OOM backoff from the reference (nb cell 27): retry
    * fit on progressively smaller samples (SURVEY.md §4 memory-pressure
    * fallback — a driver utility, not an engine rule). */
  def fitWithBackoff[M](df: DataFrame, fractions: Seq[Double] = Seq(1.0, 0.5, 0.3),
                        seed: Long = 42L)(fit: DataFrame => M): M = {
    val attempts = fractions.iterator.map { f =>
      val in = if (f >= 1.0) df else df.sample(withReplacement = false, f, seed)
      scala.util.Try(fit(in))
    }
    attempts.collectFirst { case scala.util.Success(m) => m }
      .getOrElse(fit(df)) // final attempt propagates the real error
  }
}
