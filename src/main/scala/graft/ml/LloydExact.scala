package graft.ml

import graft.Query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorExprs.dotp
import graft.sources.Tables

/** Lloyd's K-Means implemented RELATIONALLY with bit-exact determinism — the
  * oracle-checkable twin of the MLlib job (KMeansJob wraps
  * kmeans_clustering.py:104-196; MLlib's k-means|| init is RNG- and
  * partitioning-dependent, so its outputs can only be band-checked). Here:
  *
  *  - init: centers = the K vectors with the smallest vec_id (deterministic);
  *  - assign: nearest center by ‖c‖² − 2·e·c (the ‖e‖² term is constant per
  *    row and cannot change the argmin), dot products in the codegen'd fixed-
  *    fold DotProduct expression, ties broken toward the smaller cluster id;
  *  - recompute: per-dimension means as exact DECIMAL(28,9) sums — the cast
  *    can never disagree across engines because embedding floats are dyadic
  *    rationals, which cannot terminate with a 5 at a decimal digit (that
  *    would need a 5^k factor in the denominator), so no rounding-mode edge
  *    exists;
  *  - every iteration is pure DataFrame algebra: crossJoin(broadcast(K rows))
  *    + window argmin + posexplode + two hash aggs. Nothing depends on
  *    partitioning or accumulation order, so the fixpoint is identical on
  *    1 core or 1000 executors — and identical to the DuckDB oracle.
  *
  * Scale: per iteration the big side is scanned once; the K-row center table
  * is broadcast; shuffles are the argmin window (keyed by vec_id) and the
  * (cluster × dim) agg — the same asymptotics as MLlib's Lloyd step.
  */
object LloydExact {
  val K = 4
  val Iters = 2 // recompute passes; assignment runs Iters+1 times

  private[graft] def points(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.load(s, dir, "embeddings"), "vec_id")
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("e"))

  /** Deterministic centers after `Iters` exact Lloyd rounds — doubles as
    * the coarse quantizer for IVF-style ANN (Similarity.annIvf).
    *
    * The K-row centers live on the DRIVER between iterations (bounded by
    * contract: K ≤ 5 everywhere): each iteration is ONE narrow-argmin +
    * two-hash-agg pass over `pts` collected straight to the next center
    * set — no crossJoin, no per-iteration window shuffle, no
    * localCheckpoint job. The returned frame is a LocalRelation, so every
    * consumer reference (assignment literals, broadcast probe sides,
    * norms) costs zero jobs instead of an RDD scan. */
  private[graft] def centersFor(pts: DataFrame, k: Int = K): DataFrame =
    centersDf(pts.sparkSession,
      centersForChains(pts, Seq((org.apache.spark.sql.functions.col("e"), k)))
        .head)

  /** FUSED multi-chain Lloyd — round-17's per-iteration batching: several
    * independent chains (the PQ sub-vector blocks, the elbow's k sweep)
    * over the SAME row set train in lockstep, and each iteration's
    * assignment + per-(cluster, dim) decimal mean for EVERY chain runs as
    * ONE job (explode over chains → one hash-agg keyed (chain, cluster,
    * pos)) instead of one job per (chain, iteration). `chains(i)` =
    * (vector expression over a `pts` row, k). Init is one bounded collect
    * of the max(k) smallest-vec_id rows with every chain's projection.
    *
    * Bit-exactness: the per-group arithmetic is the single-chain code
    * verbatim — argmin via [[bestClusterLit]] over literal centers,
    * DECIMAL(28,9) dimension sums — and hash-agg groups never interact,
    * so each chain's fixpoint is identical to running [[centersFor]] on
    * it alone (oracle-pinned; the DuckDB CTE chains are unchanged). */
  private[graft] def centersForChains(pts: DataFrame,
      chains: Seq[(Column, Int)]): Seq[Seq[(Int, Seq[Double])]] = {
    require(chains.nonEmpty, "centersForChains: no chains")
    val maxK = chains.map(_._2).max
    // init: the k smallest-vec_id vectors per chain — one ≤5-row collect
    val first = pts
      .select(col("vec_id") +: chains.zipWithIndex.map {
        case ((e, _), i) => e.as(s"__e$i") }: _*)
      .orderBy("vec_id").limit(maxK).collect()
    var ctrs: Seq[Seq[(Int, Seq[Double])]] = chains.zipWithIndex.map {
      case ((_, k), i) =>
        first.take(k).toSeq.zipWithIndex.map { case (r, j) =>
          (j, r.getSeq[Double](r.fieldIndex(s"__e$i")).toSeq) }
    }
    for (_ <- 0 until Iters) {
      val packed = chains.zipWithIndex.map { case ((e, _), i) =>
        struct(lit(i).as("ch"), bestClusterLit(e, ctrs(i)).as("cluster"),
          e.as("se"))
      }
      val rows = pts
        .select(explode(array(packed: _*)).as("x"))
        .select(col("x.ch").as("ch"), col("x.cluster").as("cluster"),
          posexplode(col("x.se")).as(Seq("pos", "val")))
        .groupBy("ch", "cluster", "pos")
        .agg((sum(col("val").cast(DecimalType(28, 9))).cast(DoubleType) /
          count(lit(1))).as("m"))
        .groupBy("ch", "cluster")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("c"))
        .collect()
      ctrs = chains.indices.map { i =>
        rows.filter(_.getInt(0) == i)
          .map(r => (r.getInt(1), r.getSeq[Double](2).toSeq))
          .toSeq.sortBy(_._1)
      }
    }
    ctrs
  }

  /** Bounded collect of a (cluster, c) centers frame — K ≤ 5 rows by
    * contract — sorted by cluster id. */
  private[graft] def collectCenters(centers: DataFrame)
      : Seq[(Int, Seq[Double])] =
    centers.collect().map(r => (r.getInt(r.fieldIndex("cluster")),
      r.getSeq[Double](r.fieldIndex("c")))).toSeq.sortBy(_._1)

  /** Driver-side centers as a K-row LocalRelation (cluster, c). */
  private[graft] def centersDf(s: SparkSession,
                               ctrs: Seq[(Int, Seq[Double])]): DataFrame = {
    import s.implicits._
    ctrs.toDF("cluster", "c")
  }

  /** Per-center squared-distance surrogate ‖c‖² − 2·e·c with `c` a
    * LITERAL array: dotp's eval (constant-folded ‖c‖²) and codegen
    * (per-row e·c) are the same fixed left fold, so the doubles are
    * bit-identical to the former broadcast-column spelling. */
  private def distLit(e: Column, c: Seq[Double]): Column = {
    val cl = typedLit(c)
    dotp(cl, cl) - lit(2.0) * dotp(e, cl)
  }

  /** Argmin assignment: (vec_id, e, cluster). */
  private[graft] def assign(pts: DataFrame, centers: DataFrame): DataFrame =
    assignLit(pts, collectCenters(centers))

  /** Zero-shuffle argmin: `least` over (d, cluster) structs is the same
    * total order as the former `row_number().over(orderBy(d, cluster))`
    * window — min d, ties to the smaller cluster id, -0.0 < 0.0 — as a
    * narrow whole-stage-codegen map instead of an n·K crossJoin plus a
    * hash exchange and sort on vec_id per call. */
  private[graft] def assignLit(pts: DataFrame,
                               ctrs: Seq[(Int, Seq[Double])]): DataFrame =
    pts.withColumn("cluster", bestClusterLit(col("e"), ctrs))
      .select("vec_id", "e", "cluster")

  /** The argmin-cluster expression over LITERAL centers — shared by
    * [[assignLit]] and the fused multi-chain iteration so the two can
    * never drift. */
  private[graft] def bestClusterLit(e: Column,
                                    ctrs: Seq[(Int, Seq[Double])]): Column = {
    require(ctrs.nonEmpty, "bestClusterLit: empty center set")
    val packed = ctrs.map { case (id, c) =>
      struct(distLit(e, c).as("d"),
        lit(id).cast(IntegerType).as("cluster")) }
    (if (packed.size == 1) packed.head else least(packed: _*))
      .getField("cluster")
  }

  /** q57: cluster sizes + center norms after `Iters` exact Lloyd rounds. */
  def clusterQuery(s: SparkSession, dir: String): DataFrame = {
    val pts = points(s, dir)
    val centers = centersFor(pts)
    val norms = centers.select(col("cluster"),
      round(sqrt(dotp(col("c"), col("c"))), 6).as("center_norm"))
    assign(pts, centers)
      .groupBy("cluster").agg(count(lit(1)).as("n"))
      .join(norms, "cluster")
      .select("cluster", "n", "center_norm")
      .orderBy("cluster")
  }

  /** k sweep shared by the q371 query and its oracle. */
  val ElbowKs: Seq[Int] = Seq(2, 3, 4, 5)

  /** q371: ORACLE-EXACT ELBOW SWEEP — the reference's M8 model-selection
    * protocol (kmeans_clustering.py:97-139: sweep k, record WSSSE +
    * silhouette per k, pick k by argmax silhouette) made BIT-EXACT
    * instead of band-tested, by running it over the deterministic Lloyd
    * twin rather than MLlib's RNG-dependent k-means||:
    *
    *  - per k in [[ElbowKs]]: [[centersFor]] (Iters exact rounds), then
    *    ONE scored cross join computes every point's squared distance to
    *    every center; a per-point rank window yields a = d² to the
    *    assigned center (rank 1) and b = d² to the nearest OTHER center
    *    (rank 2 — exactly min over non-assigned clusters);
    *  - WSSSE = Σ a, through per-row 9-dp rounding into DECIMAL(28,9)
    *    (the q183 discipline: a double is dyadic, so a round-half tie at
    *    a decimal digit is impossible — the rounded sum is engine- and
    *    partition-order-independent);
    *  - silhouette: the CENTROID-BASED simplified silhouette
    *    s = (b − a) / max(a, b) (Hruschka et al.'s O(n·k) variant — the
    *    pairwise textbook form is O(n²) and has no 100 TB story), mean
    *    via the same decimal routing;
    *  - is_best = argmax silhouette, ties toward smaller k (M8's rule).
    *
    * Scale: k fits × (one broadcast cross join + one window keyed by
    * vec_id + two hash aggs) over a localCheckpoint-pinned input — the
    * sweep input is scanned once per (k, iteration), never collected. */
  def elbowExact(s: SparkSession, dir: String): DataFrame = {
    val pts = points(s, dir).localCheckpoint()
    // the 4 k-chains train FUSED (centersForChains): one init collect +
    // one job per Lloyd iteration for ALL ks, instead of the former
    // 4-thread wave of per-(k, iteration) jobs — same fixpoints
    // (per-chain arithmetic is untouched; groups never interact)
    val ctrsByK = ElbowKs
      .zip(centersForChains(pts, ElbowKs.map(k => (col("e"), k)))).toMap
    val perK = ElbowKs.map { k =>
      val ctrs = ctrsByK(k)
      // narrow twin of the former crossJoin + rank-window pass: the k
      // per-center d² values sort in one array; positions 1 and 2 ARE
      // rank 1's and rank 2's d2 (the window's cluster tie-break only
      // ordered equal VALUES, which sorting preserves). Zero exchanges
      // until the final global aggregate.
      def d2Lit(c: Seq[Double]): Column = {
        val cl = typedLit(c)
        dotp(col("e"), col("e")) - lit(2.0) * dotp(col("e"), cl) +
          dotp(cl, cl)
      }
      val sortedD = array_sort(array(ctrs.map(c => d2Lit(c._2)): _*))
      // a degenerate single-center set has no rank-2 distance (the old
      // window spelled that as a NULL b) — guard the ANSI element_at
      val b2 = if (ctrs.size >= 2) element_at(sortedD, 2)
               else lit(null).cast(DoubleType)
      val ab = pts
        .withColumn("a", element_at(sortedD, 1))
        .withColumn("b", b2)
      val sil = when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
        .otherwise((col("b") - col("a")) / greatest(col("a"), col("b")))
      ab.agg(
          sum(round(col("a"), 9).cast(DecimalType(28, 9))).as("wd"),
          (sum(round(sil, 9).cast(DecimalType(28, 9))).cast(DoubleType) /
            count(lit(1))).as("sm"))
        .select(lit(k).cast(IntegerType).as("k"),
          round(col("wd").cast(DoubleType), 6).as("wssse"),
          round(col("sm"), 9).as("silhouette"))
    }
    val all = perK.reduce(_ unionAll _)
    val wBest = Window.orderBy(col("silhouette").desc, col("k"))
    all.withColumn("is_best",
        (row_number().over(wBest) === 1).cast(IntegerType))
      .orderBy("k")
  }

  // ---------------------------------------------------------------- oracle
  private[graft] def dotS(a: String, b: String): String =
    s"""list_reduce(list_concat([CAST(0 AS DOUBLE)],
       |  list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])),
       |  (x, y) -> x + y)""".stripMargin.replace("\n", " ")

  private[graft] def assignS(pts: String, centers: String): String =
    s"""SELECT vec_id, e, cluster FROM (
       |  SELECT v.vec_id, v.e, c.cluster,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
       |      ${dotS("c.c", "c.c")} - 2 * ${dotS("v.e", "c.c")}, c.cluster) AS rn
       |  FROM $pts v CROSS JOIN $centers c) WHERE rn = 1""".stripMargin

  private val recomputeS =
    s"""SELECT cluster, list(m ORDER BY pos) AS c FROM (
       |  SELECT cluster, pos,
       |    CAST(SUM(CAST(val AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*) AS m
       |  FROM (SELECT cluster, u['pos'] AS pos, u['val'] AS val FROM (
       |        SELECT cluster, unnest(list_transform(
       |          generate_series(1, len(e)),
       |          i -> {'pos': i - 1, 'val': e[i]})) AS u
       |        FROM ASSIGNED))
       |  GROUP BY cluster, pos)
       |GROUP BY cluster""".stripMargin

  /** Parameterized CTE chain "<p>e, <p>c0, <p>a1, <p>c1, …, <p>afinal" —
    * <p>afinal = the assignment under the final centers <p>c`Iters`,
    * over an arbitrary (vec_id, e) source SQL. Multiple independent
    * chains (distinct prefixes) can share one statement — the PQ oracle
    * (TopK q201) runs one per sub-vector block. */
  private[graft] def lloydCtesFor(srcE: String, p: String,
                                  k: Int = K): String = {
    val iterCtes = (1 to Iters).map { i =>
      val prev = if (i == 1) s"${p}c0" else s"${p}c${i - 1}"
      s"""${p}a$i AS (${assignS(s"${p}e", prev)}),
         |${p}c$i AS (${recomputeS.replace("ASSIGNED", s"${p}a$i")})"""
        .stripMargin
    }.mkString(",\n")
    s"""${p}e AS ($srcE),
       |${p}c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
       |    AS INTEGER) AS cluster, e AS c
       |  FROM (SELECT * FROM ${p}e ORDER BY vec_id LIMIT $k)),
       |$iterCtes,
       |${p}afinal AS (${assignS(s"${p}e", s"${p}c$Iters")})""".stripMargin
  }

  /** Shared CTE chain "e, c0, a1, c1, …, afinal" — afinal = the cell
    * assignment under the final centers c`Iters`. Reused by the IVF-ANN
    * oracle (Similarity q61). */
  private[graft] def lloydCtesS: String = lloydCtesFor(
    """SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings""".stripMargin, "")

  private val srcES =
    """SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings""".stripMargin

  // q371: same d² expression shape as the Spark side ((e·e − 2·e·c) +
  // c·c, identical left-assoc fold), same per-row 9-dp DECIMAL routing,
  // same argmax-silhouette/smaller-k best rule
  private def elbowMetricS(k: Int): String = {
    val p = s"k$k"
    val d2 = s"${dotS("v.e", "v.e")} - 2 * ${dotS("v.e", "c.c")} + " +
      dotS("c.c", "c.c")
    s"""${p}m AS (
       |  SELECT $k AS k,
       |    round(CAST(SUM(CAST(round(a, 9) AS DECIMAL(28,9)))
       |      AS DOUBLE), 6) AS wssse,
       |    round(CAST(SUM(CAST(round(CASE WHEN greatest(a, b) = 0 THEN 0
       |        ELSE (b - a) / greatest(a, b) END, 9) AS DECIMAL(28,9)))
       |      AS DOUBLE) / COUNT(*), 9) AS silhouette
       |  FROM (
       |    SELECT vec_id, MIN(CASE WHEN rn = 1 THEN d2 END) AS a,
       |      MIN(CASE WHEN rn = 2 THEN d2 END) AS b
       |    FROM (
       |      SELECT vec_id, d2, ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY d2, cluster) AS rn
       |      FROM (SELECT v.vec_id, c.cluster, $d2 AS d2
       |            FROM ${p}e v CROSS JOIN ${p}c$Iters c))
       |    WHERE rn <= 2 GROUP BY vec_id))""".stripMargin
  }

  /** The registry queries this module declares (see [[graft.Query]]). */
  def queries: Seq[Query] = Seq(
    // oracle-verified iterative ML + weighted-vote kNN
    Query("q57_kmeans_lloyd", clusterQuery _,
      s"""WITH $lloydCtesS
         |SELECT a.cluster, COUNT(*) AS n,
         |  round(sqrt(${dotS("c.c", "c.c")}), 6) AS center_norm
         |FROM afinal a JOIN c$Iters c ON a.cluster = c.cluster
         |GROUP BY a.cluster, c.c ORDER BY a.cluster""".stripMargin),
    // M8 elbow protocol (k sweep, WSSSE + silhouette, argmax best) made
    // bit-exact over the deterministic Lloyd twin
    Query("q371_elbow_exact", elbowExact _, {
      val chains = ElbowKs.map(k =>
        lloydCtesFor(srcES, s"k$k", k) + ",\n" + elbowMetricS(k))
        .mkString(",\n")
      val union = ElbowKs.map(k => s"SELECT * FROM k${k}m")
        .mkString("\nUNION ALL\n")
      s"""WITH $chains,
         |u AS ($union)
         |SELECT CAST(k AS INTEGER) AS k, wssse, silhouette,
         |  CAST(CASE WHEN ROW_NUMBER() OVER (ORDER BY silhouette DESC, k)
         |    = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_best
         |FROM u ORDER BY k""".stripMargin
    }),
  )
}
