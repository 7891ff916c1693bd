package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorExprs.dotp

/** q201: PRODUCT-QUANTIZATION CODEBOOKS — the vector-compression step
  * IVF-PQ indexes pair with q61's coarse quantizer (Jégou et al. 2011):
  * the 64-dim embedding splits into `Blocks` contiguous sub-vectors,
  * each sub-space trains its own small codebook (here [[LloydExact]]'s
  * deterministic K=4, 2-iteration Lloyd — the oracle-checkable twin of
  * a production k-means), and every vector is coded as `Blocks` symbols
  * — 64 floats → 4 bytes here; the same machinery at production sizes
  * (M=8..64 blocks, 256 centroids) is a config, not a code change.
  * Reports, per (block, cluster): the cell population and the exact
  * reconstruction MSE — the quantization-error curve that sizes K and
  * M for a target recall.
  *
  * Determinism: sub-vector Lloyd inherits LloydExact's bit-exact
  * discipline (first-K init, decimal center means, argmin tie-break);
  * the per-row squared error ‖e‖² − 2·e·c + ‖c‖² is the fixed-fold
  * codegen'd expression, rounded to 9dp at the row and summed in
  * DECIMAL(28,9) — order-independent, identical in the DuckDB twin
  * (one Lloyd CTE chain per block, prefixed).
  *
  * Shape at 100 TB: per block, Lloyd's per-iteration cost is one scan
  * + K-row broadcast + argmin window (LloydExact's asymptotics) over a
  * `dim/Blocks`-wide slice; blocks are independent (a production run
  * trains them concurrently); the final stats are one hash-agg per
  * block on (cluster). */
object PqCodebook {
  val Blocks = 4
  val SubDim = 16 // 64 / Blocks

  /** The sub-vector of block `b`. */
  private def subOf(b: Int): org.apache.spark.sql.Column =
    slice(col("e"), b * SubDim + 1, SubDim)

  /** Exact squared error of the exploded sub-vector `se` against the
    * (block, cluster)-selected literal center — the per-center
    * expression is the single-chain `‖e‖² − 2·e·c + ‖c‖²` fold verbatim
    * (same doubles as the former broadcast-join spelling). The cluster
    * column is MATERIALIZED by the explode, so the argmin `least()` is
    * evaluated once per (row, block), never once per when-branch. */
  private def sqErrByCell(ctrs: Seq[Seq[(Int, Seq[Double])]])
      : org.apache.spark.sql.Column =
    ctrs.zipWithIndex.foldLeft(lit(null).cast(DoubleType)) {
      case (acc, (cs, b)) =>
        cs.foldLeft(acc) { case (a, (id, c)) =>
          val cl = typedLit(c)
          when(col("block") === b && col("cluster") === id,
            dotp(col("se"), col("se")) - lit(2.0) * dotp(col("se"), cl) +
              dotp(cl, cl))
            .otherwise(a)
        }
    }

  def pqCodebooks(s: SparkSession, dir: String): DataFrame = {
    val pts = LloydExact.points(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pts.count() // eager fill: training + the stats pass read it
    try {
      // round-17: the four sub-space codebooks train FUSED — one job per
      // Lloyd iteration for ALL blocks (centersForChains) instead of a
      // 4-thread wave of per-(block, iteration) jobs; fixpoints are
      // bit-identical (per-chain arithmetic untouched). The final stats
      // likewise run as ONE explode + hash-agg pass over pts.
      val ctrs = LloydExact.centersForChains(pts,
        (0 until Blocks).map(b => (subOf(b), LloydExact.K)))
      val perBlock = (0 until Blocks).map { b =>
        val sub = subOf(b)
        struct(lit(b).as("block"),
          LloydExact.bestClusterLit(sub, ctrs(b)).as("cluster"),
          sub.as("se"))
      }
      pts.select(explode(array(perBlock: _*)).as("x"))
        .select(col("x.block").as("block"), col("x.cluster").as("cluster"),
          col("x.se").as("se"))
        .groupBy("block", "cluster")
        .agg(count(lit(1)).as("n"),
          sum(round(sqErrByCell(ctrs), 9).cast(DecimalType(28, 9))).as("se"))
        .select(col("block"), col("cluster"), col("n"),
          round(col("se").cast(DoubleType) / col("n"), 6).as("mse"))
        .orderBy("block", "cluster")
        .localCheckpoint()
    } finally { pts.unpersist(); () }
  }

  /** q211: PQ-ADC RECALL — asymmetric distance computation, the search
    * side of product quantization: database vectors are REPRESENTED
    * ONLY BY THEIR CODES (4 symbols here); a query builds one small
    * lookup table per block (‖q_b − c‖² for each centroid) and every
    * approximate distance is a 4-term table sum — no float vector is
    * touched at scan time, which is why PQ search runs at memory
    * bandwidth on billion-vector indexes. Reports recall@k of the ADC
    * top-k against the exact Euclidean top-k per query — the number
    * that sizes codebooks (q201's MSE curve) against retrieval
    * quality.
    *
    * Determinism: LUT entries are the fixed-fold ‖q‖²−2q·c+‖c‖²
    * expression rounded to 9dp; the 4-block sums accumulate in
    * DECIMAL(28,9) (order-independent); both top-k windows tie-break
    * on vec_id over identical doubles.
    *
    * Shape at 100 TB: codes are 4 small ints per vector (the scan is
    * a narrow columnar read); the LUT is |queries|·Blocks·K rows —
    * broadcast; the ADC scan is one equi-join + hash-agg, and ONLY
    * the k winners would ever fetch their float vectors back. */
  def pqAdcRecall(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val pts = LloydExact.points(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pts.count()
    try {
      // round-17 fused training (one job per iteration for all blocks),
      // then ALL four blocks' codes in ONE narrow pass and the whole
      // LUT (|queries|·Blocks·K rows) in one tiny pass over the <10
      // queries — the per-entry expressions are the former
      // broadcast-join spellings verbatim, with literal centers.
      val ctrs = LloydExact.centersForChains(pts,
        (0 until Blocks).map(b => (subOf(b), LloydExact.K)))
      val codeStructs = (0 until Blocks).map { b =>
        struct(lit(b).as("block"),
          LloydExact.bestClusterLit(subOf(b), ctrs(b)).as("code"))
      }
      val codes = pts
        .select(col("vec_id"), explode(array(codeStructs: _*)).as("x"))
        .select(col("vec_id"), col("x.block").as("block"),
          col("x.code").as("code"))
      val lutStructs = (0 until Blocks).flatMap { b =>
        val qe = subOf(b)
        ctrs(b).map { case (id, c) =>
          val cl = typedLit(c)
          struct(lit(b).as("block"), lit(id).cast(IntegerType).as("code"),
            round(dotp(qe, qe) - lit(2.0) * dotp(qe, cl) +
              dotp(cl, cl), 9).as("d"))
        }
      }
      val lut = pts.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          explode(array(lutStructs: _*)).as("x"))
        .select(col("query_id"), col("x.block").as("block"),
          col("x.code").as("code"), col("x.d").as("d"))
      val wPq = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("ad"), col("vec_id"))
      val topPq = codes.join(broadcast(lut), Seq("block", "code"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(sum(col("d").cast(DecimalType(28, 9))).as("adx"))
        .withColumn("ad", col("adx").cast(DoubleType))
        .withColumn("rk", row_number().over(wPq)).filter(col("rk") <= k)
        .select("query_id", "vec_id")
      val q = pts.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("e").as("qe"))
      val wEx = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("ed"), col("vec_id"))
      val topEx = pts.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("ed", dotp(col("qe"), col("qe")) -
          lit(2.0) * dotp(col("qe"), col("e")) + dotp(col("e"), col("e")))
        .withColumn("rk", row_number().over(wEx)).filter(col("rk") <= k)
        .select("query_id", "vec_id")
      val common = topPq.join(topEx, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("nc"))
      topEx.select("query_id").distinct()
        .join(common, Seq("query_id"), "left")
        .withColumn("n_common", coalesce(col("nc"), lit(0L)))
        .select(col("query_id"),
          col("n_common").cast(IntegerType).as("n_common"),
          round(col("n_common").cast(DoubleType) / k, 6).as("recall_at_k"))
        .orderBy("query_id")
        .localCheckpoint()
    } finally { pts.unpersist(); () }
  }

  /** q233: PERSISTED PQ INDEX — q211's amortized twin and the PQ
    * family's storage lever (the q170 contract applied to codes):
    * codebooks, codes, the query sub-vectors, and the exact-top-k
    * ground truth are TRAINED AND WRITTEN ONCE into a content-keyed
    * index directory (parquet; codes partitioned by block so a
    * block's scan prunes to one directory), and every subsequent call
    * answers the ADC recall query from the RELOADED artifacts alone —
    * no Lloyd chain, no exact crossJoin baseline. Hash-equality
    * against q211's oracle proves the round-trip lossless: doubles
    * survive parquet bit-for-bit, codes are ints, and the probe-side
    * LUT/ADC expressions are q211's verbatim.
    *
    * This is the production shape (FAISS et al.): the index build is
    * the expensive pass you run once per corpus snapshot; searches pay
    * only codes-scan + LUT join. Ground truth is persisted like any
    * ANN benchmark's ground-truth file — recall evaluation is part of
    * the index's eval artifact, not something recomputed per query.
    * The cache key is (format version, corpus dir), so a code change
    * bumps [[IndexFormatVersion]] and a different corpus builds its
    * own index; a crashed build can't be half-read (staging dir +
    * atomic rename, marker written last).
    *
    * Shape at 100 TB: the build is q211's cost ONCE; steady state is
    * a narrow columnar codes scan + broadcast LUT equi-join + hash-agg
    * + per-query top-k — the memory-bandwidth-bound plan PQ exists
    * for. */
  val IndexFormatVersion = "v1"

  private def indexRoot(dir: String, k: Int): java.nio.file.Path = {
    val src = new java.io.File(dir, "embeddings.parquet")
    // corpus mtime in the key: a regenerated fixture at the same path
    // must build a fresh index, never read a stale one. k is in the
    // key too — the persisted `truth` file is the exact top-k ground
    // truth, so reusing it for a different k would divide recall by
    // the wrong denominator.
    val canon = s"${src.getCanonicalPath}@${src.lastModified}@k=$k"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$IndexFormatVersion|$canon".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-pq-index-$key")
  }

  private def rmIfPresent(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) graft.sources.Tables.rmTree(p)

  private def buildIndex(s: SparkSession, dir: String, root: java.nio.file.Path,
                         k: Int): Unit = {
    val staging = root.resolveSibling(root.getFileName.toString + ".staging")
    rmIfPresent(staging)
    val pts = LloydExact.points(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pts.count()
    try {
      graft.sources.Tables.wave((0 until Blocks).map(b => () => {
        val sub = pts.select(col("vec_id"),
          slice(col("e"), b * SubDim + 1, SubDim).as("e"))
        val centers = LloydExact.centersFor(sub)
        // block lives in the directory name only (partition column)
        centers.select(col("cluster"), col("c"))
          .coalesce(1).write.mode("overwrite")
          .parquet(staging.resolve(s"codebooks/block=$b").toString)
        LloydExact.assign(sub, centers)
          .select(col("vec_id"), col("cluster").as("code"))
          .write.mode("overwrite")
          .parquet(staging.resolve(s"codes/block=$b").toString)
        sub.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("e").as("qe"))
          .coalesce(1).write.mode("overwrite")
          .parquet(staging.resolve(s"queries/block=$b").toString)
      }))
      // exact ground truth — q211's baseline expressions, persisted as
      // the index's eval artifact (the ANN-benchmark ground-truth file)
      val q = pts.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("e").as("qe"))
      val wEx = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("ed"), col("vec_id"))
      pts.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("ed", dotp(col("qe"), col("qe")) -
          lit(2.0) * dotp(col("qe"), col("e")) + dotp(col("e"), col("e")))
        .withColumn("rk", row_number().over(wEx)).filter(col("rk") <= k)
        .select("query_id", "vec_id")
        .coalesce(1).write.mode("overwrite")
        .parquet(staging.resolve("truth").toString)
      // atomic publish: rename staging → root; a concurrent builder that
      // won the race leaves root present — drop our staging and use theirs
      rmIfPresent(root)
      try { java.nio.file.Files.move(staging, root); () }
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        rmIfPresent(staging) }
    } finally { pts.unpersist(); () }
  }

  def pqAdcPersisted(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val root = indexRoot(dir, k)
    if (!java.nio.file.Files.isDirectory(root.resolve("truth")))
      buildIndex(s, dir, root, k)
    // steady state: everything below reads ONLY the persisted index
    val codebooks = s.read.parquet(root.resolve("codebooks").toString)
    val codes = s.read.parquet(root.resolve("codes").toString)
      .select(col("vec_id"), col("block"), col("code"))
    val queries = s.read.parquet(root.resolve("queries").toString)
    val truth = s.read.parquet(root.resolve("truth").toString)
    val lut = queries.join(broadcast(codebooks), Seq("block"))
      .select(col("query_id"), col("block"), col("cluster").as("code"),
        round(dotp(col("qe"), col("qe")) -
          lit(2.0) * dotp(col("qe"), col("c")) +
          dotp(col("c"), col("c")), 9).as("d"))
    val wPq = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("ad"), col("vec_id"))
    val topPq = codes.join(broadcast(lut), Seq("block", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("d").cast(DecimalType(28, 9))).as("adx"))
      .withColumn("ad", col("adx").cast(DoubleType))
      .withColumn("rk", row_number().over(wPq)).filter(col("rk") <= k)
      .select("query_id", "vec_id")
    val common = topPq.join(truth, Seq("query_id", "vec_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("nc"))
    truth.select("query_id").distinct()
      .join(common, Seq("query_id"), "left")
      .withColumn("n_common", coalesce(col("nc"), lit(0L)))
      .select(col("query_id"),
        col("n_common").cast(IntegerType).as("n_common"),
        round(col("n_common").cast(DoubleType) / k, 6).as("recall_at_k"))
      .orderBy("query_id")
  }

  /** q235: IVFADC — the COMBINED index (Jégou et al. 2011 §IV): q61's
    * coarse quantizer and q211's product quantizer composed the way
    * production billion-vector indexes (FAISS IVFx,PQy) actually are —
    * PQ codebooks train on RESIDUALS r = e − c_coarse, not raw vectors,
    * because residuals concentrate near the origin and the same K
    * codewords buy far less quantization error there. A vector is
    * stored as (coarse cell, Blocks sub-codes); a query builds one LUT
    * PER PROBED CELL from its own residual against that cell, and the
    * approximate distance ‖q − v‖² ≈ ‖(q − c_j) − r̂_v‖² is again a
    * Blocks-term table sum. Here nprobe = K (all 4 coarse cells — the
    * exhaustive-probe config, so recall measures the PQ residual
    * compression alone, not cell-miss loss; production sets nprobe ≪
    * #cells and the LUT frame shrinks proportionally). Reports
    * recall@k vs the exact top-k — the number that justifies the
    * residual trick over q211's raw-vector PQ.
    *
    * Determinism: coarse and residual Lloyd chains inherit LloydExact's
    * bit-exact discipline (residuals are differences of dyadic doubles,
    * so the DECIMAL(28,9) mean cast still has no rounding-mode edge);
    * LUT entries are the fixed-fold ‖·‖² expression rounded to 9 dp;
    * ADC sums accumulate in DECIMAL(28,9); both top-k windows tie-break
    * on vec_id.
    *
    * Shape at 100 TB: identical to q211's scan economics (narrow int
    * codes + broadcast LUT equi-join + hash-agg) with the coarse cell
    * as a leading partition key — the probed-cells filter IS partition
    * pruning when codes are stored partitioned by cell (q170/q233's
    * layout). */
  def ivfAdcRecall(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val pts = LloydExact.points(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pts.count()
    try {
      val coarse = LloydExact.centersForChains(pts, Seq((col("e"), LloydExact.K)))
        .head
      // residuals against LITERAL coarse centers: the assignment and the
      // elementwise e − c both run as one narrow codegen'd projection —
      // no broadcast-K join pass (same doubles: zip_with over the same
      // array values)
      val bestCoarse = LloydExact.bestClusterLit(col("e"), coarse)
      def residLit(e: org.apache.spark.sql.Column,
                   cell: org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column =
        coarse.foldLeft(lit(null).cast(ArrayType(DoubleType))) {
          case (acc, (id, c)) =>
            when(cell === id,
              zip_with(e, typedLit(c), (x, y) => x - y)).otherwise(acc)
        }
      val res = pts
        .select(col("vec_id"), bestCoarse.as("coarse"), col("e"))
        .select(col("vec_id"), col("coarse"),
          residLit(col("e"), col("coarse")).as("r"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      res.count()
      try {
        // per-query residual AGAINST EVERY PROBED CELL (nprobe = K):
        // one tiny pass, exploding the K literal cells per query
        val qcellStructs = coarse.map { case (id, c) =>
          struct(lit(id).cast(IntegerType).as("coarse"),
            zip_with(col("e"), typedLit(c), (x, y) => x - y).as("qr"))
        }
        val qres = pts.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"),
            explode(array(qcellStructs: _*)).as("x"))
          .select(col("query_id"), col("x.coarse").as("coarse"),
            col("x.qr").as("qr"))
          .localCheckpoint()
        // round-17 fused residual training + one-pass codes (the coarse
        // cell rides the same row — the former codes⋈res join is gone)
        def rsub(b: Int): org.apache.spark.sql.Column =
          slice(col("r"), b * SubDim + 1, SubDim)
        val rbCtrs = LloydExact.centersForChains(res,
          (0 until Blocks).map(b => (rsub(b), LloydExact.K)))
        val codeStructs = (0 until Blocks).map { b =>
          struct(lit(b).as("block"),
            LloydExact.bestClusterLit(rsub(b), rbCtrs(b)).as("code"))
        }
        val codes = res
          .select(col("vec_id"), col("coarse"),
            explode(array(codeStructs: _*)).as("x"))
          .select(col("vec_id"), col("coarse"), col("x.block").as("block"),
            col("x.code").as("code"))
        val lutStructs = (0 until Blocks).flatMap { b =>
          val qe = slice(col("qr"), b * SubDim + 1, SubDim)
          rbCtrs(b).map { case (id, c) =>
            val cl = typedLit(c)
            struct(lit(b).as("block"), lit(id).cast(IntegerType).as("code"),
              round(dotp(qe, qe) - lit(2.0) * dotp(qe, cl) +
                dotp(cl, cl), 9).as("d"))
          }
        }
        val lut = qres
          .select(col("query_id"), col("coarse"),
            explode(array(lutStructs: _*)).as("x"))
          .select(col("query_id"), col("coarse"), col("x.block").as("block"),
            col("x.code").as("code"), col("x.d").as("d"))
        val wPq = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("ad"), col("vec_id"))
        val topAdc = codes.join(broadcast(lut), Seq("coarse", "block", "code"))
          .filter(col("vec_id") =!= col("query_id"))
          .groupBy("query_id", "vec_id")
          .agg(sum(col("d").cast(DecimalType(28, 9))).as("adx"))
          .withColumn("ad", col("adx").cast(DoubleType))
          .withColumn("rk", row_number().over(wPq)).filter(col("rk") <= k)
          .select("query_id", "vec_id")
        val q = pts.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("e").as("qe"))
        val wEx = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("ed"), col("vec_id"))
        val topEx = pts.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("ed", dotp(col("qe"), col("qe")) -
            lit(2.0) * dotp(col("qe"), col("e")) +
            dotp(col("e"), col("e")))
          .withColumn("rk", row_number().over(wEx)).filter(col("rk") <= k)
          .select("query_id", "vec_id")
        val common = topAdc.join(topEx, Seq("query_id", "vec_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("nc"))
        topEx.select("query_id").distinct()
          .join(common, Seq("query_id"), "left")
          .withColumn("n_common", coalesce(col("nc"), lit(0L)))
          .select(col("query_id"),
            col("n_common").cast(IntegerType).as("n_common"),
            round(col("n_common").cast(DoubleType) / k, 6).as("recall_at_k"))
          .orderBy("query_id")
          .localCheckpoint()
      } finally { res.unpersist(); () }
    } finally { pts.unpersist(); () }
  }

  /** q243: PERSISTED IVFADC — q235's amortized twin, closing the same
    * loop q233 closed for raw-vector PQ: the combined index's artifacts
    * (coarse centroids, per-block residual codebooks, codes partitioned
    * by block with the coarse cell as a data column, the raw query
    * vectors, and the exact ground truth) are trained and written ONCE
    * into a content+mtime-keyed directory; every subsequent call
    * answers the recall query from the reloaded artifacts alone — no
    * Lloyd chain, no exact crossJoin. The probe-side LUT re-derives
    * per-cell query residuals from the PERSISTED coarse centroids
    * (elementwise subtraction commutes with sub-vector slicing, so the
    * doubles are bit-identical to q235's live pipeline), and
    * hash-equality against q235's oracle proves the round trip
    * lossless. Steady-state cost is the q233 shape: narrow codes scan +
    * broadcast LUT equi-join + hash-agg. */
  val IvfAdcFormatVersion = "v1"

  private def ivfAdcRoot(dir: String, k: Int): java.nio.file.Path = {
    val src = new java.io.File(dir, "embeddings.parquet")
    // k in the key for the same reason as indexRoot: the persisted
    // ground truth is top-k-specific.
    val canon = s"${src.getCanonicalPath}@${src.lastModified}@k=$k"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"ivfadc|$IvfAdcFormatVersion|$canon".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-ivfadc-index-$key")
  }

  private def buildIvfAdcIndex(s: SparkSession, dir: String,
                               root: java.nio.file.Path, k: Int): Unit = {
    val staging = root.resolveSibling(root.getFileName.toString + ".staging")
    rmIfPresent(staging)
    val pts = LloydExact.points(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pts.count()
    try {
      val coarse = LloydExact.centersFor(pts)
      coarse.select(col("cluster"), col("c")).coalesce(1)
        .write.mode("overwrite").parquet(staging.resolve("coarse").toString)
      val res = LloydExact.assign(pts, coarse)
        .join(broadcast(coarse), Seq("cluster"))
        .select(col("vec_id"), col("cluster").as("coarse"),
          zip_with(col("e"), col("c"), (x, y) => x - y).as("r"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      res.count()
      try {
        graft.sources.Tables.wave((0 until Blocks).map(b => () => {
          val sub = res.select(col("vec_id"),
            slice(col("r"), b * SubDim + 1, SubDim).as("e"))
          val centers = LloydExact.centersFor(sub)
          centers.select(col("cluster"), col("c")).coalesce(1)
            .write.mode("overwrite")
            .parquet(staging.resolve(s"codebooks/block=$b").toString)
          LloydExact.assign(sub, centers)
            .select(col("vec_id"), col("cluster").as("code"))
            .join(res.select(col("vec_id"), col("coarse")), "vec_id")
            .write.mode("overwrite")
            .parquet(staging.resolve(s"codes/block=$b").toString)
        }))
        pts.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("e").as("qe"))
          .coalesce(1).write.mode("overwrite")
          .parquet(staging.resolve("queries").toString)
        val q = pts.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("e").as("qe"))
        val wEx = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("ed"), col("vec_id"))
        pts.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("ed", dotp(col("qe"), col("qe")) -
            lit(2.0) * dotp(col("qe"), col("e")) + dotp(col("e"), col("e")))
          .withColumn("rk", row_number().over(wEx)).filter(col("rk") <= k)
          .select("query_id", "vec_id")
          .coalesce(1).write.mode("overwrite")
          .parquet(staging.resolve("truth").toString)
      } finally { res.unpersist(); () }
      rmIfPresent(root)
      try { java.nio.file.Files.move(staging, root); () }
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        rmIfPresent(staging) }
    } finally { pts.unpersist(); () }
  }

  def ivfAdcPersisted(s: SparkSession, dir: String,
                      k: Int = 10): DataFrame = {
    val root = ivfAdcRoot(dir, k)
    if (!java.nio.file.Files.isDirectory(root.resolve("truth")))
      buildIvfAdcIndex(s, dir, root, k)
    val coarse = s.read.parquet(root.resolve("coarse").toString)
    val codebooks = s.read.parquet(root.resolve("codebooks").toString)
    val codes = s.read.parquet(root.resolve("codes").toString)
      .select(col("vec_id"), col("coarse"), col("block"), col("code"))
    val queries = s.read.parquet(root.resolve("queries").toString)
    val truth = s.read.parquet(root.resolve("truth").toString)
    val qcell = queries.crossJoin(broadcast(coarse))
      .select(col("query_id"), col("cluster").as("coarse"),
        zip_with(col("qe"), col("c"), (x, y) => x - y).as("qr"))
    val lut = qcell
      .withColumn("block", explode(array((0 until Blocks).map(lit): _*)))
      .withColumn("qs",
        slice(col("qr"), col("block") * SubDim + 1, lit(SubDim)))
      .join(broadcast(codebooks), Seq("block"))
      .select(col("query_id"), col("coarse"), col("block"),
        col("cluster").as("code"),
        round(dotp(col("qs"), col("qs")) -
          lit(2.0) * dotp(col("qs"), col("c")) +
          dotp(col("c"), col("c")), 9).as("d"))
    val wPq = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("ad"), col("vec_id"))
    val topAdc = codes.join(broadcast(lut), Seq("coarse", "block", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("d").cast(DecimalType(28, 9))).as("adx"))
      .withColumn("ad", col("adx").cast(DoubleType))
      .withColumn("rk", row_number().over(wPq)).filter(col("rk") <= k)
      .select("query_id", "vec_id")
    val common = topAdc.join(truth, Seq("query_id", "vec_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("nc"))
    truth.select("query_id").distinct()
      .join(common, Seq("query_id"), "left")
      .withColumn("n_common", coalesce(col("nc"), lit(0L)))
      .select(col("query_id"),
        col("n_common").cast(IntegerType).as("n_common"),
        round(col("n_common").cast(DoubleType) / k, 6).as("recall_at_k"))
      .orderBy("query_id")
  }

  def oracleSql: Map[String, String] = {
    import LloydExact.{dotS, Iters}
    val blockCtes = (0 until Blocks).map { b =>
      LloydExact.lloydCtesFor(
        s"""SELECT vec_id, list_slice(e0.e, ${b * SubDim + 1},
           | ${(b + 1) * SubDim}) AS e FROM e0""".stripMargin
          .replace("\n", " "),
        s"b$b")
    }.mkString(",\n")
    val blockSelects = (0 until Blocks).map { b =>
      val sqerr = s"${dotS("a.e", "a.e")} - 2 * ${dotS("a.e", "c.c")}" +
        s" + ${dotS("c.c", "c.c")}"
      s"""SELECT $b AS block, a.cluster, COUNT(*) AS n,
         |  round(CAST(SUM(CAST(round($sqerr, 9) AS DECIMAL(28,9)))
         |      AS DOUBLE) / COUNT(*), 6) AS mse
         |FROM b${b}afinal a JOIN b${b}c$Iters c ON a.cluster = c.cluster
         |GROUP BY a.cluster""".stripMargin
    }.mkString("\nUNION ALL\n")
    val codesUnion = (0 until Blocks).map(b =>
      s"SELECT vec_id, $b AS block, cluster AS code FROM b${b}afinal")
      .mkString("\nUNION ALL\n")
    val lutUnion = (0 until Blocks).map { b =>
      val d = s"${dotS("q.e", "q.e")} - 2 * ${dotS("q.e", "c.c")}" +
        s" + ${dotS("c.c", "c.c")}"
      s"""SELECT q.vec_id AS query_id, $b AS block, c.cluster AS code,
         |  round($d, 9) AS d
         |FROM (SELECT vec_id, e FROM b${b}e WHERE vec_id < 10) q
         |CROSS JOIN b${b}c$Iters c""".stripMargin
    }.mkString("\nUNION ALL\n")
    val adcRecallSql = {
        val ed = s"${dotS("q.qe", "q.qe")} - 2 * ${dotS("q.qe", "n.e")}" +
          s" + ${dotS("n.e", "n.e")}"
        s"""WITH e0 AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           |  FROM embeddings),
           |$blockCtes,
           |codes AS ($codesUnion),
           |lut AS ($lutUnion),
           |adc AS (SELECT lut.query_id, codes.vec_id,
           |    CAST(SUM(CAST(d AS DECIMAL(28,9))) AS DOUBLE) AS ad
           |  FROM codes JOIN lut
           |    ON codes.block = lut.block AND codes.code = lut.code
           |  WHERE codes.vec_id <> lut.query_id
           |  GROUP BY lut.query_id, codes.vec_id),
           |toppq AS (SELECT query_id, vec_id FROM (
           |  SELECT query_id, vec_id, ROW_NUMBER() OVER (
           |    PARTITION BY query_id ORDER BY ad, vec_id) AS rk FROM adc)
           |  WHERE rk <= 10),
           |ex AS (SELECT q.query_id, n.vec_id, $ed AS ed
           |  FROM (SELECT vec_id AS query_id, e AS qe FROM e0
           |    WHERE vec_id < 10) q
           |  CROSS JOIN e0 n WHERE n.vec_id <> q.query_id),
           |topex AS (SELECT query_id, vec_id FROM (
           |  SELECT query_id, vec_id, ROW_NUMBER() OVER (
           |    PARTITION BY query_id ORDER BY ed, vec_id) AS rk FROM ex)
           |  WHERE rk <= 10),
           |common AS (SELECT toppq.query_id, COUNT(*) AS nc
           |  FROM toppq JOIN topex ON toppq.query_id = topex.query_id
           |    AND toppq.vec_id = topex.vec_id
           |  GROUP BY toppq.query_id)
           |SELECT q.query_id, CAST(COALESCE(nc, 0) AS INTEGER) AS n_common,
           |  round(CAST(COALESCE(nc, 0) AS DOUBLE) / 10, 6) AS recall_at_k
           |FROM (SELECT DISTINCT query_id FROM topex) q
           |LEFT JOIN common ON q.query_id = common.query_id
           |ORDER BY q.query_id""".stripMargin
    }
    Map(
      "q201_pq_codebook" ->
        s"""WITH e0 AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           |  FROM embeddings),
           |$blockCtes
           |$blockSelects
           |ORDER BY block, cluster""".stripMargin,
      "q211_pq_adc_recall" -> adcRecallSql,
      // q233's oracle IS q211's: the persisted index must answer the
      // identical recall question — hash-equality proves the round-trip
      "q233_pq_adc_persisted" -> adcRecallSql,
      "q235_ivfadc_recall" -> ivfAdcSql,
      // q243's oracle IS q235's: the persisted combined index must
      // answer the identical recall question — hash-equality proves
      // the round trip lossless
      "q243_ivfadc_persisted" -> ivfAdcSql)
  }

  private lazy val ivfAdcSql: String = {
    import LloydExact.{dotS, Iters}
    {
        val coarseChain = LloydExact.lloydCtesFor(
          "SELECT vec_id, e FROM e0", "g")
        val resBlockChains = (0 until Blocks).map { b =>
          LloydExact.lloydCtesFor(
            s"""SELECT vec_id, list_slice(res.r, ${b * SubDim + 1},
               | ${(b + 1) * SubDim}) AS e FROM res""".stripMargin
              .replace("\n", " "),
            s"rb$b")
        }.mkString(",\n")
        val codesUnion = (0 until Blocks).map(b =>
          s"SELECT vec_id, $b AS block, cluster AS code FROM rb${b}afinal")
          .mkString("\nUNION ALL\n")
        val lutUnion = (0 until Blocks).map { b =>
          val d = s"${dotS("q.qs", "q.qs")} - 2 * ${dotS("q.qs", "cb.c")}" +
            s" + ${dotS("cb.c", "cb.c")}"
          s"""SELECT q.query_id, q.coarse, $b AS block,
             |  cb.cluster AS code, round($d, 9) AS d
             |FROM (SELECT query_id, coarse,
             |    list_slice(qr, ${b * SubDim + 1}, ${(b + 1) * SubDim})
             |      AS qs FROM qres) q
             |CROSS JOIN rb${b}c$Iters cb""".stripMargin
        }.mkString("\nUNION ALL\n")
        val ed = s"${dotS("q.qe", "q.qe")} - 2 * ${dotS("q.qe", "n.e")}" +
          s" + ${dotS("n.e", "n.e")}"
        s"""WITH e0 AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           |  FROM embeddings),
           |$coarseChain,
           |res AS (SELECT a.vec_id, a.cluster AS coarse,
           |    list_transform(generate_series(1, len(a.e)),
           |      i -> a.e[i] - c.c[i]) AS r
           |  FROM gafinal a JOIN gc$Iters c ON a.cluster = c.cluster),
           |$resBlockChains,
           |codes AS ($codesUnion),
           |codesx AS (SELECT c.vec_id, r.coarse, c.block, c.code
           |  FROM codes c JOIN res r ON c.vec_id = r.vec_id),
           |qres AS (SELECT q.vec_id AS query_id, c.cluster AS coarse,
           |    list_transform(generate_series(1, len(q.e)),
           |      i -> q.e[i] - c.c[i]) AS qr
           |  FROM (SELECT vec_id, e FROM e0 WHERE vec_id < 10) q
           |  CROSS JOIN gc$Iters c),
           |lut AS ($lutUnion),
           |adc AS (SELECT lut.query_id, cx.vec_id,
           |    CAST(SUM(CAST(d AS DECIMAL(28,9))) AS DOUBLE) AS ad
           |  FROM codesx cx JOIN lut
           |    ON cx.coarse = lut.coarse AND cx.block = lut.block
           |      AND cx.code = lut.code
           |  WHERE cx.vec_id <> lut.query_id
           |  GROUP BY lut.query_id, cx.vec_id),
           |topadc AS (SELECT query_id, vec_id FROM (
           |  SELECT query_id, vec_id, ROW_NUMBER() OVER (
           |    PARTITION BY query_id ORDER BY ad, vec_id) AS rk FROM adc)
           |  WHERE rk <= 10),
           |ex AS (SELECT q.query_id, n.vec_id, $ed AS ed
           |  FROM (SELECT vec_id AS query_id, e AS qe FROM e0
           |    WHERE vec_id < 10) q
           |  CROSS JOIN e0 n WHERE n.vec_id <> q.query_id),
           |topex AS (SELECT query_id, vec_id FROM (
           |  SELECT query_id, vec_id, ROW_NUMBER() OVER (
           |    PARTITION BY query_id ORDER BY ed, vec_id) AS rk FROM ex)
           |  WHERE rk <= 10),
           |common AS (SELECT topadc.query_id, COUNT(*) AS nc
           |  FROM topadc JOIN topex ON topadc.query_id = topex.query_id
           |    AND topadc.vec_id = topex.vec_id
           |  GROUP BY topadc.query_id)
           |SELECT q.query_id, CAST(COALESCE(nc, 0) AS INTEGER) AS n_common,
           |  round(CAST(COALESCE(nc, 0) AS DOUBLE) / 10, 6) AS recall_at_k
           |FROM (SELECT DISTINCT query_id FROM topex) q
           |LEFT JOIN common ON q.query_id = common.query_id
           |ORDER BY q.query_id""".stripMargin
      }
  }
}
