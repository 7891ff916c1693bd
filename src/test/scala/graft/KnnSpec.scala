package graft

import graft.ml.Knn
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions.avg
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

  /** Integer-grid train points, each placed twice with two labels, and
    * holdout points on the grid and midway between grid points: many
    * exact distance ties, within and across duplicates. */
  private def tieFixture = {
    val rnd = new Random(3)
    val train = for {
      x <- 0 to 4; y <- 0 to 4; l <- Seq((x + y) % 3, (x * y) % 3)
    } yield (l.toDouble, Vectors.dense(x.toDouble, y.toDouble))
    val hold = for {
      x <- 0 to 8 by 1; y <- 0 to 8 by 3
    } yield (rnd.nextInt(3).toDouble, Vectors.dense(x / 2.0, y / 2.0))
    (train, hold)
  }

  test("topK: neighbours sorted by (distance, id); each prefix is that k's topK") {
    val (train, hold) = tieFixture
    val arr = train.zipWithIndex.map { case ((l, v), i) => (v, l.toInt, i.toLong) }
      .toArray
    hold.foreach { case (_, q) =>
      val (labels, dists) = Knn.topK(arr, q, 7)
      assert(dists.toSeq === dists.sorted.toSeq)
      (1 to 7).foreach { k =>
        val (lk, dk) = Knn.topK(arr, q, k)
        assert(lk.toSeq === labels.take(k).toSeq, s"q=$q k=$k")
        assert(dk.toSeq === dists.take(k).toSeq, s"q=$q k=$k")
      }
    }
  }

  test("findOptimalK's accuracies equal per-k predict exactly under ties") {
    import spark.implicits._
    val (trainRows, holdRows) = tieFixture
    val train = trainRows.toDF("label", "features")
    val hold = holdRows.toDF("label", "features")
    val ks = Seq(1, 3, 4, 7)
    val (best, accs) = Knn.findOptimalK(train, hold, ks)
    ks.foreach { k =>
      val acc = Knn.predict(train, hold, k)
        .select(avg(($"prediction" === $"label".cast("int")).cast("double")))
        .first().getDouble(0)
      assert(accs(k) === acc, s"k=$k")
    }
    assert(best === ks.maxBy(k => (accs(k), -k)))
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
