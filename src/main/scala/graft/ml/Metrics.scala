package graft.ml

import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Classification evaluation (SURVEY.md §2.8 M11-M14) — the reference's
  * MulticlassMetrics/evaluator usage re-expressed relationally where
  * possible (SURVEY chooses the DataFrame pivot form for the confusion
  * matrix so everything stays in Dataset world and is one hash-agg job).
  */
object Metrics {

  /** M11: accuracy / weightedPrecision / weightedRecall / f1 as in
    * random_forest.py:131-141, read from ONE `MulticlassMetrics` (one job).
    * The evaluator derives each of the four from that same object, so the
    * values equal four `evaluate` calls bit for bit. */
  def multiclass(predictions: DataFrame, labelCol: String = "label",
                 predictionCol: String = "prediction"): Map[String, Double] = {
    val m = new MulticlassClassificationEvaluator()
      .setLabelCol(labelCol).setPredictionCol(predictionCol)
      .getMetrics(predictions)
    Map("accuracy" -> m.accuracy, "weightedPrecision" -> m.weightedPrecision,
      "weightedRecall" -> m.weightedRecall, "f1" -> m.weightedFMeasure)
  }

  /** M12: confusion matrix as groupBy().pivot() with an explicit domain (no
    * distinct-values pre-job). Shape matches random_forest_results_7m.json's
    * dense matrix. */
  def confusionMatrix(predictions: DataFrame, numClasses: Int,
                      labelCol: String = "label",
                      predictionCol: String = "prediction"): DataFrame =
    predictions
      .groupBy(col(labelCol).cast(IntegerType).as("true_label"))
      .pivot(col(predictionCol).cast(IntegerType), 0 until numClasses)
      .agg(count(lit(1)))
      .na.fill(0)
      .orderBy("true_label")

  /** M12: per-class precision/recall/F1 derived relationally in ONE
    * aggregation pass (vs MulticlassMetrics' RDD re-walks). */
  def perClass(predictions: DataFrame, labelCol: String = "label",
               predictionCol: String = "prediction"): DataFrame = {
    val l = col(labelCol).cast(IntegerType)
    val p = col(predictionCol).cast(IntegerType)
    val byTrue = predictions.groupBy(l.as("cls"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(l === p, 1).otherwise(0)).as("tp"))
    val byPred = predictions.groupBy(p.as("cls"))
      .agg(count(lit(1)).as("n_pred"))
    byTrue.join(byPred, Seq("cls"), "full")
      .na.fill(0, Seq("n_true", "tp", "n_pred"))
      .withColumn("precision",
        when(col("n_pred") > 0, col("tp") / col("n_pred")).otherwise(0.0))
      .withColumn("recall",
        when(col("n_true") > 0, col("tp") / col("n_true")).otherwise(0.0))
      .withColumn("f1", when(col("precision") + col("recall") > 0,
        lit(2.0) * col("precision") * col("recall") /
          (col("precision") + col("recall"))).otherwise(0.0))
      .select("cls", "n_true", "n_pred", "tp", "precision", "recall", "f1")
      .orderBy("cls")
  }

  /** M14: corrected one-vs-rest AUC — per-class AUC on P(class i) extracted
    * from the probability vector, mean over classes (nb cell 44). */
  def ovrAuc(predictions: DataFrame, numClasses: Int,
             labelCol: String = "label"): Seq[(Int, Double)] = {
    val withArr = predictions
      .withColumn("prob_arr", vector_to_array(col("probability")))
    (0 until numClasses).map { i =>
      val df = withArr
        .withColumn("bin_label", (col(labelCol) === i).cast(DoubleType))
        .withColumn("score", col("prob_arr").getItem(i))
      val auc = new BinaryClassificationEvaluator()
        .setLabelCol("bin_label").setRawPredictionCol("score")
        .setMetricName("areaUnderROC").evaluate(df)
      i -> auc
    }
  }
}
