package graft.ml

import org.apache.spark.ml.clustering.{KMeans, KMeansModel, seededKMeans}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.random.BernoulliCellSampler

/** K-Means clustering job (SURVEY.md §2.8 M7-M10): elbow sweep over k with
  * WSSSE + silhouette, best-k selection, final fit, and per-cluster stats —
  * the reference's kmeans_clustering.py:97-225 / full_scale_pipeline.py
  * 196-230 re-expressed.
  *
  * The elbow ([[elbow]]) trains every candidate k in lockstep: one Spark
  * job per Lloyd round assigns each row to the nearest center of every
  * still-moving k at once, so the sweep scans its input once per round
  * instead of once per (k, round), and the silhouettes of all k are scored
  * in two more jobs. Its init is seeded k-means++ over one bounded
  * driver-side sample, not MLlib's k-means||, so a k's centers (and WSSSE)
  * can differ from an MLlib fit's; MlSpec checks that the chosen k matches
  * an MLlib sweep's.
  *
  * The final model ([[fit]]) is trained by MLlib's Lloyd. After an elbow
  * over the same `Dataset` object it starts from the elbow's centers for
  * that k, so it is not what a plain MLlib fit (k-means|| init) would
  * give; otherwise it is exactly that plain fit.
  */
object KMeansJob {
  final case class ElbowPoint(k: Int, wssse: Double, silhouette: Double)

  /** MLlib's convergence threshold (`KMeans.tol`): a k stops once every one
    * of its centers moved at most this far in a round. */
  private val Tol = 1e-4
  /** Lloyd iterations of the local refinement after k-means++ seeding
    * (MLlib's LocalKMeans runs the same 30 over its k-means|| candidates). */
  private val LocalIters = 30

  /** Each k's final centers from the last [[elbow]] over a frame, per
    * features column. Keyed by the `Dataset` object itself (it keeps
    * `Object`'s identity `equals`), weakly, so an entry lives as long as
    * its frame and an equal plan in another object never matches. */
  private val elbowCenters = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, Map[(String, Int), Array[Array[Double]]]]())

  /** Final K-Means model of `k` clusters. When [[elbow]] has trained this
    * k on this very `df` object and column, MLlib's Lloyd starts from the
    * elbow's centers (same `maxIter`, seed and tol) and no k-means|| init
    * runs. Otherwise it is MLlib's fit with the `row` solver pinned:
    * `auto` first runs a Summarizer job to choose between row and block,
    * and picks row for these inputs anyway (MlSpec asserts identical
    * centers and cost). */
  def fit(df: DataFrame, k: Int, featuresCol: String = "features",
          seed: Long = 42L, maxIter: Int = 30): KMeansModel = {
    val est = new KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter).setSolver("row")
      .setFeaturesCol(featuresCol).setPredictionCol("cluster")
    elbowInit(df, featuresCol, k) match {
      case Some(init) => seededKMeans.fit(est, df, init)
      case None => est.fit(df)
    }
  }

  /** The centers the last [[elbow]] over this `df` object left for `k`. */
  private[graft] def elbowInit(df: DataFrame, featuresCol: String,
                               k: Int): Option[Array[Array[Double]]] =
    Option(elbowCenters.get(df)).flatMap(_.get((featuresCol, k)))

  /** M8: elbow sweep — WSSSE and squared-Euclidean silhouette per k, in
    * `kRange` order.
    *
    * The input's feature arrays are persisted and counted once (one
    * job), and unpersisted on every exit. Init: one seeded sample of at
    * most max(1000, 50·max k) rows (all rows when the input is smaller) is
    * collected, and each k is seeded by k-means++ over it, then refined by
    * Lloyd on the sample as MLlib's LocalKMeans does. Training: up to
    * `maxIter` lockstep rounds, each one `mapPartitions` job that sums
    * per-(k, cluster) features, counts and cost for every k still moving.
    * A k stops when all its centers move ≤ 1e-4 (MLlib's `tol`); an empty
    * cluster keeps its center; WSSSE is the cost of the last round's
    * assignment (MLlib's `trainingCost` convention). Silhouette is
    * `ClusteringEvaluator`'s squared-Euclidean formula, fused across k
    * (see [[silhouettes]]); with `evalFraction` < 1 it is scored on one
    * seeded sample of the input. Both samples draw the rows
    * `Dataset.sample` would. Every partial is combined on the driver in
    * partition order, so equal inputs give equal points. Each k's final
    * centers are kept for a later [[fit]] of that k on this `df`.
    *
    * `parallel` is ignored: the lockstep rounds already run every k in one
    * job. It stays for source compatibility with callers that pass it. */
  def elbow(df: DataFrame, kRange: Seq[Int], featuresCol: String = "features",
            seed: Long = 42L, maxIter: Int = 30,
            evalFraction: Double = 1.0,
            parallel: Boolean = false): Seq[ElbowPoint] = {
    require(kRange.nonEmpty && kRange.forall(_ > 1),
      s"KMeansJob.elbow: every k must be > 1, got $kRange")
    val data = vectors(df.select(featuresCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = data.count()
      require(n > 0, "KMeansJob.elbow: empty input")
      val cap = math.max(1000, 50 * kRange.max)
      val sample =
        if (n <= cap) data.collect()
        else bernoulli(data, cap.toDouble / n, seed).collect().take(cap)
      val ks = kRange.toArray
      val centers = ks.map(k =>
        kMeansPlusPlus(sample, k, new scala.util.Random(seed + k)))
      val cost = new Array[Double](ks.length)
      var moving = ks.indices.toArray
      var round = 0
      while (moving.nonEmpty && round < maxIter) {
        val cs = moving.map(centers)
        val acc = pass(data, moving.map(ks), cs.head.head.length) { (a, x) =>
          var i = 0
          while (i < cs.length) {
            val c = nearest(cs(i), x)
            a.addPoint(i, c, x)
            a.perK(i) += sqdist(cs(i)(c), x)
            i += 1
          }
        }
        moving = moving.zipWithIndex.filter { case (ki, i) =>
          cost(ki) = acc.perK(i)
          recenter(centers(ki), acc, i)
        }.map(_._1)
        round += 1
      }
      val evalSet =
        if (evalFraction >= 1.0) data else bernoulli(data, evalFraction, seed)
      val sil = silhouettes(evalSet, centers)
      elbowCenters.merge(df,
        ks.indices.map(i => (featuresCol, ks(i)) -> centers(i)).toMap, _ ++ _)
      ks.indices.map(i => ElbowPoint(ks(i), cost(i), sil(i)))
    } finally { data.unpersist(); () }
  }

  /** The rows `Dataset.sample(withReplacement = false, fraction, seed)`
    * keeps of the same partitions: a Bernoulli cell [0, fraction) per row,
    * seeded with `seed` + partition index. */
  private def bernoulli(data: RDD[Array[Double]], fraction: Double,
                        seed: Long): RDD[Array[Double]] =
    data.mapPartitionsWithIndex { (i, rows) =>
      val s = new BernoulliCellSampler[Array[Double]](0.0, fraction)
      s.setSeed(seed + i)
      s.sample(rows)
    }

  /** `ClusteringEvaluator`'s squared-Euclidean silhouette of `featuresCol`
    * for every center set at once, each row assigned to its nearest center
    * (ties → smaller index). Pass 1 sums features, squared norms and counts
    * per (center set, cluster); pass 2 scores each row against those sums
    * and averages per center set. Two jobs, whatever the number of sets. */
  private[graft] def silhouettes(df: DataFrame, featuresCol: String,
                                 centerSets: Array[Array[Array[Double]]]): Array[Double] =
    silhouettes(vectors(df.select(featuresCol)), centerSets)

  private def silhouettes(data: RDD[Array[Double]],
                          centerSets: Array[Array[Array[Double]]]): Array[Double] = {
    val d = centerSets.head.head.length
    val ks = centerSets.map(_.length)
    val stats = pass(data, ks, d) { (a, x) =>
      val sq = squaredNorm(x)
      var i = 0
      while (i < centerSets.length) {
        val c = nearest(centerSets(i), x)
        a.addPoint(i, c, x)
        a.normSums(i)(c) += sq
        i += 1
      }
    }
    ks.indices.foreach { i =>
      require(stats.counts(i).count(_ > 0) > 1,
        s"silhouette needs more than one non-empty cluster (k = ${ks(i)})")
    }
    val scores = pass(data, ks, d) { (a, x) =>
      val sq = squaredNorm(x)
      var i = 0
      while (i < centerSets.length) {
        a.perK(i) += coefficient(stats, i, nearest(centerSets(i), x), x, sq)
        i += 1
      }
    }
    ks.indices.map(i => scores.perK(i) / stats.counts(i).sum.toDouble).toArray
  }

  /** One row's silhouette coefficient against set `i`'s cluster sums: the
    * evaluator's `computeSilhouetteCoefficient` with unit weights. */
  private def coefficient(s: Acc, i: Int, own: Int, x: Array[Double],
                          sq: Double): Double = {
    val counts = s.counts(i)
    def avgDist(c: Int): Double = {
      val w = counts(c).toDouble
      var dot = 0.0
      var j = 0
      while (j < x.length) { dot += x(j) * s.sums(i)(c * x.length + j); j += 1 }
      sq + s.normSums(i)(c) / w - 2 * dot / w
    }
    val w = counts(own).toDouble
    if (w == 1.0) 0.0
    else {
      var neighbour = Double.MaxValue
      var c = 0
      while (c < counts.length) {
        if (c != own && counts(c) > 0) neighbour = math.min(neighbour, avgDist(c))
        c += 1
      }
      val current = avgDist(own) * w / (w - 1.0)
      if (current < neighbour) 1 - current / neighbour
      else if (current > neighbour) neighbour / current - 1
      else 0.0
    }
  }

  /** Per-(center set, cluster) partial sums of one pass over the rows:
    * feature sums (k·d per set), squared-norm sums, counts, and one scalar
    * per set. */
  private final class Acc(ks: Array[Int], d: Int) extends Serializable {
    val sums: Array[Array[Double]] = ks.map(k => new Array[Double](k * d))
    val normSums: Array[Array[Double]] = ks.map(k => new Array[Double](k))
    val counts: Array[Array[Long]] = ks.map(k => new Array[Long](k))
    val perK: Array[Double] = new Array[Double](ks.length)

    def addPoint(i: Int, c: Int, x: Array[Double]): Unit = {
      val s = sums(i)
      var j = 0
      while (j < d) { s(c * d + j) += x(j); j += 1 }
      counts(i)(c) += 1
    }

    def merge(o: Acc): Acc = {
      def add(a: Array[Double], b: Array[Double]): Unit =
        a.indices.foreach(j => a(j) += b(j))
      ks.indices.foreach { i =>
        add(sums(i), o.sums(i)); add(normSums(i), o.normSums(i))
        counts(i).indices.foreach(c => counts(i)(c) += o.counts(i)(c))
        perK(i) += o.perK(i)
      }
      this
    }
  }

  /** One job: `add` folds every row into a per-partition [[Acc]]; the
    * partials are merged on the driver in partition order, so the sums do
    * not depend on task completion order. */
  private def pass(data: RDD[Array[Double]], ks: Array[Int], d: Int)
                  (add: (Acc, Array[Double]) => Unit): Acc =
    data.mapPartitions { rows =>
      val a = new Acc(ks, d)
      rows.foreach(add(a, _))
      Iterator.single(a)
    }.collect().reduce(_ merge _)

  /** Moves set `i`'s centers to their cluster means (an empty cluster keeps
    * its center); true while some center moved more than [[Tol]]. */
  private def recenter(cs: Array[Array[Double]], acc: Acc, i: Int): Boolean = {
    var moved = false
    cs.indices.foreach { c =>
      val n = acc.counts(i)(c)
      if (n > 0) {
        val mean = Array.tabulate(cs(c).length)(j =>
          acc.sums(i)(c * cs(c).length + j) / n)
        if (sqdist(mean, cs(c)) > Tol * Tol) moved = true
        cs(c) = mean
      }
    }
    moved
  }

  /** Seeded k-means++ over `pts`, then up to [[LocalIters]] Lloyd rounds
    * on them until no assignment changes; a cluster that empties is
    * re-seeded at a random point (MLlib's `LocalKMeans.kMeansPlusPlus`
    * with unit weights). */
  private def kMeansPlusPlus(pts: Array[Array[Double]], k: Int,
                             rand: scala.util.Random): Array[Array[Double]] = {
    val centers = new Array[Array[Double]](k)
    centers(0) = pts(rand.nextInt(pts.length))
    val cost = pts.map(sqdist(_, centers(0)))
    (1 until k).foreach { i =>
      val r = rand.nextDouble() * cost.sum
      var acc = 0.0
      var j = 0
      while (j < pts.length && acc < r) { acc += cost(j); j += 1 }
      centers(i) = pts(math.max(j - 1, 0))
      pts.indices.foreach(p => cost(p) = math.min(cost(p), sqdist(pts(p), centers(i))))
    }
    val d = pts.head.length
    val assigned = Array.fill(pts.length)(-1)
    var iter = 0
    var changed = true
    while (changed && iter < LocalIters) {
      changed = false
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Int](k)
      pts.indices.foreach { p =>
        val c = nearest(centers, pts(p))
        if (c != assigned(p)) { assigned(p) = c; changed = true }
        (0 until d).foreach(j => sums(c)(j) += pts(p)(j))
        counts(c) += 1
      }
      (0 until k).foreach { c =>
        centers(c) =
          if (counts(c) == 0) pts(rand.nextInt(pts.length))
          else sums(c).map(_ / counts(c))
      }
      iter += 1
    }
    centers
  }

  private def vectors(df: DataFrame): RDD[Array[Double]] =
    df.rdd.map(_.getAs[Vector](0).toArray)

  /** Index of the center nearest to `x` (ties → smaller index). */
  private def nearest(cs: Array[Array[Double]], x: Array[Double]): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cs.length) {
      val dd = sqdist(cs(c), x)
      if (dd < bestD) { best = c; bestD = dd }
      c += 1
    }
    best
  }

  private def sqdist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { val t = a(j) - b(j); s += t * t; j += 1 }
    s
  }

  /** The evaluator's squared norm, computed the way it computes it. */
  private def squaredNorm(x: Array[Double]): Double =
    math.pow(Vectors.norm(Vectors.dense(x), 2.0), 2.0)

  /** Best k = argmax silhouette (kmeans_clustering.py:135). */
  def bestK(points: Seq[ElbowPoint]): Int = points.maxBy(_.silhouette).k

  /** A2: per-cluster stats — count + avg/stddev of given numeric columns
    * (kmeans_clustering.py:198-225), ordered by cluster. One hash-agg
    * shuffle on the low-cardinality cluster id; its k rows are sorted in
    * one partition, so no range-partitioning sample job or second
    * exchange runs. */
  def clusterStats(predictions: DataFrame, statCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("count") +:
      statCols.flatMap(c => Seq(
        avg(col(c)).as(s"avg_$c"), stddev(col(c)).as(s"std_$c")))
    predictions.groupBy("cluster")
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1).sortWithinPartitions("cluster")
  }

  /** M10: centroids as a DataFrame (cluster_centers Hive table shape,
    * create_tables.hql:122-138). */
  def centers(spark: SparkSession, model: KMeansModel): DataFrame = {
    import spark.implicits._
    model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq
      .toDF("cluster", "center")
  }

  /** Full job over the embeddings table: scale → elbow-free fixed-k fit →
    * cluster sizes + centroid norms. Deterministic given the seed. */
  def embeddingClusterStats(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    // cache: Lloyd re-reads the input once per iteration; fan the
    // single-split scan out to a few balanced partitions (coalesce can't
    // widen a 1-partition input) and keep row order deterministic so the
    // seeded k-means|| init is reproducible
    val feats = FeaturePrep.embeddingFeatures(
      graft.sources.Tables.fanOut(
        graft.sources.Tables.load(s, dir, "embeddings"), "vec_id", 8)
        .sortWithinPartitions("vec_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val model = fit(feats, k)
      val stats = model.transform(feats).groupBy("cluster")
        .agg(count(lit(1)).cast(LongType).as("n"),
          avg(col("label")).as("avg_label"))
        .orderBy("cluster")
        .collect() // materialize before unpersist; 10 rows
      s.createDataFrame(s.sparkContext.parallelize(stats.toIndexedSeq, 1),
        StructType(Seq(StructField("cluster", IntegerType),
          StructField("n", LongType), StructField("avg_label", DoubleType))))
    } finally { feats.unpersist(); () }
  }

  /** Elbow sweep as a query (rows-only check): k, WSSSE, silhouette.
    *
    * Silhouette is scored on a seeded 25% evaluation sample — the
    * reference's own scalable pattern (kmeans_large_scale.py:27-54 caps
    * the input at SAMPLE_SIZE = 2M via a seeded sample_fraction rather
    * than touching the corpus): silhouette is
    * O(rows·k) per k and is pure EVALUATION, so sampling it changes cost,
    * not the trained centers or their WSSSE. MlSpec band-asserts the
    * sampled sweep selects the same k as the full-evaluation sweep. */
  def embeddingElbow(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val feats = FeaturePrep.embeddingFeatures(
      graft.sources.Tables.fanOut(
        graft.sources.Tables.load(s, dir, "embeddings"), "vec_id", 8)
        .sortWithinPartitions("vec_id"))
    elbow(feats, 2 to 6, maxIter = 20, evalFraction = 0.25).toDF()
  }
}
