package graft.ml

import graft.Query

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Custom distributed kNN operator (SURVEY.md §2.9) — the one from-scratch
  * operator in the reference (knn_classification.py:99-190: collect train
  * sample → broadcast → Python UDF brute-force scan).
  *
  * This engine ships both shapes SURVEY recommends:
  *  - [[predict]] — broadcast train set + `mapPartitions` with a per-row
  *    bounded top-k selection (no sort; O(|train|·k) per row, zero
  *    JVM↔Python overhead, JVM-local math via Vectors.sqdist). The faithful
  *    plan shape, ~the reference's semantics at ~100× less per-row cost.
  *  - the fully relational crossJoin + window form lives in
  *    graft.similarity.Similarity.knnClassify (exercises join/window/agg and
  *    is the base for the LSH-accelerated 100 TB path).
  *
  * Scale: broadcast caps the train side (the reference samples 10% for the
  * same reason, :132); beyond broadcast size, switch to the LSH-bucketed
  * variant (Similarity.annLsh) which shuffles on bucket keys instead.
  */
object Knn {

  /** Majority vote over the k nearest train points; optional inverse-
    * distance weighting (the notebook's weights='distance', nb cell 40);
    * ties break toward the smaller label (deterministic). */
  private[graft] def vote(labels: Array[Int], dists: Array[Double],
                       distanceWeighted: Boolean): Int = {
    val w = new java.util.HashMap[Int, Double]()
    var i = 0
    while (i < labels.length) {
      val weight = if (distanceWeighted) 1.0 / (dists(i) + 1e-9) else 1.0
      w.merge(labels(i), weight, (a, b) => a + b)
      i += 1
    }
    var best = -1; var bestW = -1.0
    w.forEach { (l, ww) =>
      if (ww > bestW || (ww == bestW && l < best)) { best = l; bestW = ww }
    }
    best
  }

  /** Bounded top-k: insertion over k-sized arrays (max kept at slot
    * `worst`); avoids sorting the full candidate list per row (the
    * reference sorts all |train| distances per test row, :147-149).
    * Distance ties break toward the smaller train id, so the selected
    * neighbor set is a deterministic function of the data — independent
    * of broadcast/collect order. The k winners come back sorted by
    * (distance, train id); since that order is total, every j-prefix is
    * exactly the top-j set. */
  private[graft] def topK(train: Array[(Vector, Int, Long)], q: Vector,
                          k: Int): (Array[Int], Array[Double]) = {
    val kk = math.min(k, train.length)
    val dists = Array.fill(kk)(Double.MaxValue)
    val ids = Array.fill(kk)(Long.MaxValue)
    val labels = new Array[Int](kk)
    var worst = 0
    var i = 0
    while (i < train.length) {
      val d = Vectors.sqdist(train(i)._1, q)
      val id = train(i)._3
      if (d < dists(worst) || (d == dists(worst) && id < ids(worst))) {
        dists(worst) = d; labels(worst) = train(i)._2; ids(worst) = id
        var j = 1; worst = 0
        while (j < kk) {
          if (dists(j) > dists(worst) ||
            (dists(j) == dists(worst) && ids(j) > ids(worst))) worst = j
          j += 1
        }
      }
      i += 1
    }
    val order = (0 until kk).sortWith((a, b) =>
      dists(a) < dists(b) || (dists(a) == dists(b) && ids(a) < ids(b)))
    (order.map(labels).toArray, order.map(dists).toArray)
  }

  /** Adds one IntegerType column per k to `test`, named `names(i)` for
    * `ks(i)`: the vote over that row's k nearest train points. One
    * broadcast and one top-max(ks) search per row serve every k, each k
    * voting on its prefix of the sorted neighbors.
    *
    * @param train frame with (featuresCol, labelCol); must fit in a
    *              broadcast (sample upstream if not — R1 semantics)
    */
  private def votes(train: DataFrame, test: DataFrame, ks: Seq[Int],
                    names: Seq[String], featuresCol: String, labelCol: String,
                    distanceWeighted: Boolean, idCol: String): DataFrame = {
    val spark = train.sparkSession
    // tie-break ids: a real id column when the caller has one (makes the
    // result a pure function of the data), else collect order
    val trainArr: Array[(Vector, Int, Long)] =
      (if (idCol.nonEmpty)
        train.select(col(featuresCol), col(labelCol).cast(IntegerType),
            col(idCol).cast(LongType))
          .collect()
          .map(r => (r.getAs[Vector](0), r.getInt(1), r.getLong(2)))
      else
        train.select(col(featuresCol), col(labelCol).cast(IntegerType))
          .collect().zipWithIndex
          .map { case (r, i) => (r.getAs[Vector](0), r.getInt(1), i.toLong) })
    // an empty broadcast train set must fail loudly here, not flow a fake
    // label (-1) into the output downstream
    require(trainArr.nonEmpty,
      s"Knn.predict: train set is empty (filtered out upstream?)")
    val bc = spark.sparkContext.broadcast(trainArr)
    val outSchema = StructType(test.schema.fields ++
      names.map(StructField(_, IntegerType, nullable = false)))
    val featIdx = test.schema.fieldIndex(featuresCol)
    val maxK = ks.max
    val rows = test.rdd.mapPartitions { iter =>
      iter.map { row =>
        val (labels, dists) = topK(bc.value, row.getAs[Vector](featIdx), maxK)
        Row.fromSeq(row.toSeq ++ ks.map(k =>
          vote(labels.take(k), dists.take(k), distanceWeighted)))
      }
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** Broadcast-kNN scoring: adds `prediction` to `test` (see [[votes]]). */
  def predict(train: DataFrame, test: DataFrame, k: Int,
              featuresCol: String = "features", labelCol: String = "label",
              distanceWeighted: Boolean = false,
              idCol: String = ""): DataFrame =
    votes(train, test, Seq(k), Seq("prediction"), featuresCol, labelCol,
      distanceWeighted, idCol)

  /** Grid-search k (knn_classification.py:166-190): accuracy per candidate
    * k on a held-out frame, argmax (ties → smaller k). One neighbor search
    * at max(ks) and one aggregate give every k's accuracy, each equal to
    * scoring [[predict]] with that k. */
  def findOptimalK(train: DataFrame, holdout: DataFrame, ks: Seq[Int],
                   featuresCol: String = "features",
                   labelCol: String = "label"): (Int, Map[Int, Double]) = {
    val cands = ks.distinct
    val names = cands.map(k => s"__pred_$k")
    val row = votes(train, holdout, cands, names, featuresCol, labelCol,
        distanceWeighted = false, idCol = "")
      .select(names.map(n => avg((col(n) === col(labelCol).cast(IntegerType))
        .cast(DoubleType))): _*)
      .first()
    val accs = cands.indices.map(i => cands(i) -> row.getDouble(i)).toMap
    (ks.maxBy(k => (accs(k), -k)), accs)
  }

  /** kNN over the embeddings table with an 80/20 split — confusion-matrix
    * output (rows-only check; band assertions in the spec). */
  def embeddingKnnConfusion(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val feats = FeaturePrep.embeddingFeatures(
      graft.sources.Tables.load(s, dir, "embeddings"))
    val Array(train, test) = feats.randomSplit(Array(0.8, 0.2), 42L)
    val preds = predict(train, test, k)
    Metrics.confusionMatrix(
      preds.withColumn("label", col("label").cast(DoubleType)), 10,
      predictionCol = "prediction")
  }

  /** q65: the broadcast+mapPartitions operator under a DETERMINISTIC hash
    * split (vec_id % 5), Euclidean distance, distance-tie → smaller train
    * id — every step a pure function of the data, so the whole path is
    * DuckDB-oracle-checkable (q39 keeps the reference's randomSplit
    * semantics and its rows-only check). */
  def knnEuclidExact(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val feats = FeaturePrep.embeddingFeatures(
      graft.sources.Tables.load(s, dir, "embeddings"))
    val test = feats.filter(col("vec_id") % 5 === 0)
    val train = feats.filter(col("vec_id") % 5 =!= 0)
    predict(train, test, k, idCol = "vec_id")
      .select(col("vec_id").as("query_id"),
        col("prediction").as("pred_label"),
        (col("prediction") === col("label").cast(IntegerType))
          .cast(IntegerType).as("correct"))
      .orderBy("query_id")
  }

  /** The registry queries this module declares (see [[graft.Query]]).
    * q65's oracle is the DuckDB twin of [[knnEuclidExact]]: brute-force
    * squared-L2 with the same ascending-index left-fold accumulation as
    * Vectors.sqdist, rank by (dist, train id), majority vote with ties
    * toward the smaller label. */
  def queries: Seq[Query] = Seq(
    Query.rowsOnly("q39_knn_broadcast", (s, d) => embeddingKnnConfusion(s, d)),
    // broadcast+mapPartitions kNN under a deterministic split — the
    // oracle-checked twin of q39's randomSplit confusion matrix
    Query("q65_knn_euclid", (s, d) => knnEuclidExact(s, d),
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |test AS (SELECT vec_id AS query_id, e AS qe, label AS true_label
        |  FROM e WHERE vec_id % 5 = 0),
        |train AS (SELECT vec_id AS tid, e AS te, label AS n_label
        |  FROM e WHERE vec_id % 5 <> 0),
        |d AS (SELECT query_id, true_label, tid, n_label,
        |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
        |      list_transform(generate_series(1, len(qe)),
        |        i -> (qe[i] - te[i]) * (qe[i] - te[i]))),
        |      (x, y) -> x + y) AS dist
        |  FROM test CROSS JOIN train),
        |nb AS (SELECT query_id, true_label, n_label,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY dist, tid) AS rk
        |  FROM d),
        |votes AS (SELECT query_id, true_label, n_label, count(*) AS votes
        |  FROM nb WHERE rk <= 5 GROUP BY query_id, true_label, n_label),
        |win AS (SELECT query_id, true_label, n_label,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY votes DESC, n_label) AS vr
        |  FROM votes)
        |SELECT query_id, CAST(n_label AS INTEGER) AS pred_label,
        |  CAST(CASE WHEN n_label = true_label THEN 1 ELSE 0 END AS INTEGER)
        |    AS correct
        |FROM win WHERE vr = 1 ORDER BY query_id""".stripMargin),
  )
}
