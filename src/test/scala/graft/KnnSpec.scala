package graft

import graft.ml.Knn
import org.apache.spark.ml.linalg.Vectors
import scala.util.Random

class KnnSpec extends SparkSpec {

  test("vote: majority wins; ties break to smaller label") {
    assert(Knn.vote(Array(1, 1, 2), Array(1.0, 1.0, 0.1), distanceWeighted = false) === 1)
    assert(Knn.vote(Array(2, 1), Array(1.0, 1.0), distanceWeighted = false) === 1)
    // distance weighting flips a count-tie toward the closer neighbor
    assert(Knn.vote(Array(2, 1), Array(0.1, 1.0), distanceWeighted = true) === 2)
  }

  test("topK returns the k nearest by squared distance") {
    val train = Array(
      (Vectors.dense(0.0), 0, 0L), (Vectors.dense(1.0), 1, 1L),
      (Vectors.dense(2.0), 2, 2L), (Vectors.dense(10.0), 3, 3L))
    val (labels, dists) = Knn.topK(train, Vectors.dense(0.2), 2)
    assert(labels.toSet === Set(0, 1))
    assert(dists.forall(_ < 1.0))
  }

  test("topK breaks distance ties toward the smaller train id") {
    // two co-located points with different labels: the selected neighbor
    // must be the smaller id regardless of array order
    val a = Array(
      (Vectors.dense(5.0), 9, 7L), (Vectors.dense(5.0), 4, 3L))
    val (la, _) = Knn.topK(a, Vectors.dense(5.0), 1)
    assert(la.toSeq === Seq(4))
    val (lb, _) = Knn.topK(a.reverse, Vectors.dense(5.0), 1)
    assert(lb.toSeq === Seq(4))
  }

  test("broadcast kNN classifies separable blobs perfectly") {
    val rnd = new Random(7)
    import spark.implicits._
    def blob(cx: Double, label: Int, n: Int) =
      (0 until n).map(_ => (label.toDouble, Vectors.dense(
        cx + rnd.nextGaussian() * 0.3, cx + rnd.nextGaussian() * 0.3)))
    val train = (blob(0, 0, 50) ++ blob(10, 1, 50)).toDF("label", "features")
    val test = (blob(0, 0, 20) ++ blob(10, 1, 20)).toDF("label", "features")
    val preds = Knn.predict(train, test, k = 5)
    val acc = preds.filter($"prediction" === $"label".cast("int")).count().toDouble /
      preds.count()
    assert(acc === 1.0)
  }

  test("findOptimalK returns a candidate k with the best accuracy") {
    val rnd = new Random(11)
    import spark.implicits._
    def blob(cx: Double, label: Int, n: Int) =
      (0 until n).map(_ => (label.toDouble, Vectors.dense(
        cx + rnd.nextGaussian(), cx + rnd.nextGaussian())))
    val train = (blob(0, 0, 40) ++ blob(6, 1, 40)).toDF("label", "features")
    val hold = (blob(0, 0, 15) ++ blob(6, 1, 15)).toDF("label", "features")
    val (bestK, accs) = Knn.findOptimalK(train, hold, Seq(3, 5, 7))
    assert(Seq(3, 5, 7).contains(bestK))
    assert(accs(bestK) === accs.values.max)
  }
}
