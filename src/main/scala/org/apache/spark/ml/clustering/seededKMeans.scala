package org.apache.spark.ml.clustering

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.mllib.clustering.{KMeans => MLlibKMeans, KMeansModel => MLlibKMeansModel}
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Bridge to the `private[ml]` KMeansModel and `private[clustering]`
  * KMeansSummary constructors: fits `est` with MLlib's Lloyd started
  * from given centers (`setInitialModel`) instead of k-means||, and wraps
  * the result as `est.fit` would, summary (`trainingCost`, `numIter`)
  * included. Unlike `est.fit` it runs no `clusterSizes` job for the
  * instrumentation log. The input is persisted for the rounds unless it
  * is cached already. */
object seededKMeans {
  def fit(est: KMeans, df: Dataset[_], init: Array[Array[Double]]): KMeansModel = {
    val instances = df.select(est.getFeaturesCol).rdd
      .map(r => (OldVectors.fromML(r.getAs[Vector](0)), 1.0))
    val parent = new MLlibKMeans()
      .setK(est.getK).setMaxIterations(est.getMaxIter).setSeed(est.getSeed)
      .setEpsilon(est.getTol).setDistanceMeasure(est.getDistanceMeasure)
      .setInitialModel(new MLlibKMeansModel(init.map(OldVectors.dense)))
      .runWithWeight(instances, df.storageLevel == StorageLevel.NONE, None)
    val model = new KMeansModel(est.uid, parent)
      .copy(est.extractParamMap()).setParent(est)
    model.setSummary(Some(new KMeansSummary(model.transform(df),
      est.getPredictionCol, est.getFeaturesCol, est.getK, parent.numIter,
      parent.trainingCost)))
    model
  }
}
