package graft.ml

import graft.Query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorExprs.dotp
import graft.sources.Tables

/** q245: TOP PRINCIPAL COMPONENT of the embedding covariance by power
  * iteration — the spectral summary a training-data team reads before
  * whitening, dimensionality reduction, or an anisotropy audit ("is the
  * embedding space collapsing onto one direction?"). Reports, per
  * dimension: the mean, the diagonal variance, and the dominant
  * eigenvector loading, plus the leading eigenvalue and the explained
  * variance ratio λ₁/trace(C).
  *
  * Bit-exact determinism (no RNG, no partition dependence):
  *  - per-dimension means and the (j,k) covariance entries accumulate as
  *    exact DECIMAL sums of doubles (the LloydExact convention — dyadic
  *    rationals can't hit a decimal rounding tie), so C is identical on
  *    1 core, 32 threads, or the DuckDB oracle;
  *  - the iteration starts from the FIXED vector v₀ = (0.125,…) (exactly
  *    representable: 1/√64) and runs a fixed `Iters` matrix-vector
  *    products; every product row is the codegen'd fixed-fold
  *    [[graft.functions.VectorExprs.dotp]], whose ascending left fold is
  *    bit-identical to the oracle's `list_reduce` spelling;
  *  - the eigenvector's sign is pinned by v₀, not normalized after the
  *    fact — both engines walk the same orbit.
  *
  * Shape at 100 TB: ONE wide pass builds the D² covariance — the
  * per-vector outer product explodes to D² terms that partial-aggregate
  * map-side onto 4096 (j,k) keys, so the shuffle carries
  * O(D²·partitions) rows regardless of corpus size. Everything after
  * (the D-row matrix frame, the T D-dot iterations) is
  * driver-scale-constant work expressed as tiny broadcast joins; no
  * step ever materializes more than D² rows. */
object PcaPower {
  val Dim = 64
  val Iters = 12

  private def pts(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.load(s, dir, "embeddings"), "vec_id")
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("e"))

  /** (pos, m) → 1-row frame with the D-array ordered by pos. */
  private def toArr(df: DataFrame, pos: String, v: String,
                    out: String): DataFrame =
    df.groupBy()
      .agg(transform(array_sort(collect_list(struct(col(pos), col(v)))),
        x => x.getField(v)).as(out))

  /** Exact-decimal per-dimension means of (vec_id, e). */
  private def meansOf(p: DataFrame): DataFrame =
    p.select(posexplode(col("e")).as(Seq("pos", "val")))
      .groupBy("pos")
      .agg((sum(col("val").cast(DecimalType(28, 9))).cast(DoubleType) /
        count(lit(1))).as("mu"))
      .localCheckpoint()

  /** The (j, k, cov) covariance entries — exact-decimal sums of centered
    * products; the explode partial-aggregates onto D² keys before any
    * shuffle. */
  /** Centered vector, QUANTIZED at 7 dp. The quantization is what makes
    * the covariance bit-exact cross-engine: a product of two 7-dp
    * decimals is an exact 14-dp decimal whose nearest double recovers
    * it exactly under a scale-14 cast on BOTH engines — whereas casting
    * raw full-mantissa doubles to DECIMAL straddles Spark's
    * shortest-string vs DuckDB's exact-binary rounding ~1e-5/value at
    * scale 12 (observed at sf0.1). Rounding at 7 dp has 1e-10/value
    * straddle margin — the rulebook trade. */
  private def centeredC: Column =
    zip_with(col("e"), col("mu_arr"), (a, b) => round(a - b, 7))

  private def covPlanOf(p: DataFrame, mu: DataFrame, n: Long): DataFrame = {
    val muArr = toArr(mu, "pos", "mu", "mu_arr")
    val centered = p.crossJoin(broadcast(muArr))
      .select(centeredC.as("c"))
    // UPPER TRIANGLE ONLY (k ≥ j): the covariance is symmetric and the
    // per-entry arithmetic makes the mirror bit-exact — cj·ck ≡ ck·cj in
    // IEEE, and the DECIMAL(38,14) sum is exact (order-independent) — so
    // the (k, j) entry never needs computing. Halves the explode→agg
    // volume (D² → D(D+1)/2 terms per vector); [[covOf]] mirrors the
    // strict-upper entries off the checkpoint.
    centered
      .select(col("c"), posexplode(col("c")).as(Seq("j", "cj")))
      .select(col("j"),
        posexplode(transform(slice(col("c"), col("j") + lit(1), lit(Dim)),
          ck => col("cj") * ck)).as(Seq("dk", "prod")))
      .groupBy(col("j"), (col("j") + col("dk")).as("k"))
      .agg((sum(col("prod").cast(DecimalType(38, 14))).cast(DoubleType) /
        lit(n - 1).cast(DoubleType)).as("cov"))
  }

  private def covOf(p: DataFrame, mu: DataFrame, n: Long): DataFrame = {
    // checkpoint the 2080-row upper triangle (read by the matrix frame,
    // the diag and trace), then mirror lazily — a tiny scan per consumer
    val upper = covPlanOf(p, mu, n).localCheckpoint()
    upper.unionByName(upper.filter(col("j") =!= col("k"))
      .select(col("k").as("j"), col("j").as("k"), col("cov")))
  }

  /** The un-checkpointed covariance plan — PlanSpec pins its shape
    * (map-side partial agg, broadcast mean join, no cartesian). */
  private[graft] def covFrameForPlan(s: SparkSession, dir: String)
      : DataFrame = {
    val p = pts(s, dir)
    covPlanOf(p, meansOf(p), p.count())
  }

  /** (j, crow): the D-row matrix frame of a (j, k, cov) entry set. */
  private def rowsOf(cov: DataFrame): DataFrame =
    cov.groupBy("j")
      .agg(transform(array_sort(collect_list(struct(col("k"), col("cov")))),
        x => x.getField("cov")).as("crow"))
      .localCheckpoint() // read once per iteration

  /** `Iters` power-iteration steps from v0 = (0.125,…): a 1-row frame
    * (v, nrm) — the unit vector and the final pre-normalization norm
    * (the eigenvalue estimate).
    *
    * The orbit runs ON THE DRIVER over the collected D×D matrix — an
    * R7-compliant O(D²) materialization (constant in corpus size) that
    * replaces 12 × (tiny job + checkpoint) with microseconds of JVM
    * arithmetic. Bit-exactness is preserved because every operation
    * replicates the relational spelling's IEEE order exactly: the
    * matrix-vector and norm dots are the same ascending `s += x·y`
    * fold as the codegen'd [[dotp]] (and the oracle's `list_reduce`),
    * division and sqrt are single correctly-rounded IEEE ops. The
    * earlier DataFrame-iteration form produced the identical frame —
    * verified by the unchanged q245/q248/q258 oracle hashes. */
  private def iterate(s: SparkSession, cRows: DataFrame): DataFrame = {
    val c: Array[Array[Double]] = cRows.collect()
      .map(r => (r.get(r.fieldIndex("j")).asInstanceOf[Number].longValue,
        r.getSeq[Double](r.fieldIndex("crow")).toArray))
      .sortBy(_._1).map(_._2)
    require(c.length == Dim, s"matrix frame has ${c.length} rows")
    var v = Array.fill(Dim)(0.125)
    var nrm = 0.0
    for (_ <- 1 to Iters) {
      val w = Array.tabulate(Dim) { j =>
        var acc = 0.0
        var k = 0
        while (k < Dim) { acc += c(j)(k) * v(k); k += 1 }
        acc
      }
      var sq = 0.0
      var i = 0
      while (i < Dim) { sq += w(i) * w(i); i += 1 }
      nrm = math.sqrt(sq)
      v = w.map(_ / nrm)
    }
    import s.implicits._
    Seq((v.toSeq, nrm)).toDF("v", "nrm")
  }

  val BlockR = 4

  /** q266's engine: `Iters` BLOCKED orthogonal-iteration steps — the
    * generalization of [[iterate]] from a vector orbit to a D×r matrix
    * orbit (r = [[BlockR]]): per step, W = C·Q then Q = classical
    * Gram-Schmidt(W) in a FIXED column order. Starts from the exact
    * dyadic comb block Q₀[i][j] = 0.25·[i ≡ j (mod r)] (disjoint
    * supports → exactly orthonormal, exactly representable). Every
    * operation replicates the oracle's spelling bit-for-bit: matrix
    * rows, projection coefficients and norms are the ascending
    * `s += x·y` fold (≡ `list_reduce` dotS ≡ codegen'd dotp);
    * projections subtract sequentially (u −= d_p·q_p for p < j, the
    * SQL's left-associated `w[i] − d1·q1[i] − d2·q2[i]`); division and
    * sqrt are single correctly-rounded IEEE ops. Returns the 1-row
    * frame (q1..q4 loadings, n1..n4 pre-normalization norms = the
    * eigenvalue estimates, d12..d34 pairwise orthogonality dots). */
  private def blockIterate(s: SparkSession, cRows: DataFrame): DataFrame = {
    val c: Array[Array[Double]] = cRows.collect()
      .map(r => (r.get(r.fieldIndex("j")).asInstanceOf[Number].longValue,
        r.getSeq[Double](r.fieldIndex("crow")).toArray))
      .sortBy(_._1).map(_._2)
    require(c.length == Dim, s"matrix frame has ${c.length} rows")
    val r = BlockR
    var q = Array.tabulate(Dim, r)((i, j) => if (i % r == j) 0.25 else 0.0)
    val n = Array.fill(r)(0.0)
    for (_ <- 1 to Iters) {
      val w = Array.tabulate(Dim, r) { (i, cx) =>
        var acc = 0.0
        var k = 0
        while (k < Dim) { acc += c(i)(k) * q(k)(cx); k += 1 }
        acc
      }
      val nq = Array.ofDim[Double](Dim, r)
      for (cx <- 0 until r) {
        val u = Array.tabulate(Dim)(i => w(i)(cx))
        for (p <- 0 until cx) {
          var d = 0.0
          var i = 0
          while (i < Dim) { d += nq(i)(p) * w(i)(cx); i += 1 }
          var i2 = 0
          while (i2 < Dim) { u(i2) -= d * nq(i2)(p); i2 += 1 }
        }
        var sq = 0.0
        var i3 = 0
        while (i3 < Dim) { sq += u(i3) * u(i3); i3 += 1 }
        n(cx) = math.sqrt(sq)
        var i4 = 0
        while (i4 < Dim) { nq(i4)(cx) = u(i4) / n(cx); i4 += 1 }
      }
      q = nq
    }
    def qc(j: Int) = (0 until Dim).map(i => q(i)(j)).toSeq
    def od(a: Int, b: Int): Double = {
      var d = 0.0
      var i = 0
      while (i < Dim) { d += q(i)(a) * q(i)(b); i += 1 }
      d
    }
    import s.implicits._
    Seq((qc(0), qc(1), qc(2), qc(3), n(0), n(1), n(2), n(3),
      od(0, 1), od(0, 2), od(0, 3), od(1, 2), od(1, 3), od(2, 3)))
      .toDF("q1", "q2", "q3", "q4", "n1", "n2", "n3", "n4",
        "d12", "d13", "d14", "d23", "d24", "d34")
  }

  /** q266: TOP-r PCA BY BLOCKED ORTHOGONAL ITERATION — q245/q248 get
    * components one deflation at a time (two full orbits); this gets
    * ALL leading components in ONE chain: per step, multiply the D×r
    * block by C and re-orthonormalize (QR via classical Gram-Schmidt in
    * fixed column order) — the shape a whitening / dimensionality-
    * reduction pipeline actually runs. Reports, per dimension, the four
    * loadings, the four eigenvalue estimates (pre-normalization norms),
    * the cumulative explained ratio, and ortho_max — the largest
    * pairwise |qᵢ·qⱼ|, the certificate that the block stayed
    * orthonormal. Oracle: the identical orbit as a generated DuckDB CTE
    * chain ([[iterChain]] generalized to the matrix orbit) — same
    * covariance CTEs, same fold order, same Gram-Schmidt spelling.
    *
    * Shape at 100 TB: identical to q245 — ONE wide covariance pass;
    * the orbit is O(D²·r·Iters) driver arithmetic on the collected
    * 64×64 matrix (R7-bounded), 4× cheaper than four deflation
    * orbits. */
  def pcaBlock(s: SparkSession, dir: String): DataFrame = {
    val p = pts(s, dir)
    val n = p.count()
    val cov = covOf(p, meansOf(p), n)
    val trace = traceOf(cov)
    val blk = blockIterate(s, rowsOf(cov))
    blk.select(posexplode(arrays_zip(col("q1"), col("q2"), col("q3"),
        col("q4"))).as(Seq("dim", "z")),
        col("n1"), col("n2"), col("n3"), col("n4"),
        col("d12"), col("d13"), col("d14"), col("d23"), col("d24"),
        col("d34"))
      .crossJoin(broadcast(trace))
      .select(col("dim").cast(IntegerType).as("dim"),
        round(col("z.q1"), 6).as("loading1"),
        round(col("z.q2"), 6).as("loading2"),
        round(col("z.q3"), 6).as("loading3"),
        round(col("z.q4"), 6).as("loading4"),
        round(col("n1"), 6).as("lambda1"),
        round(col("n2"), 6).as("lambda2"),
        round(col("n3"), 6).as("lambda3"),
        round(col("n4"), 6).as("lambda4"),
        round((col("n1") + col("n2") + col("n3") + col("n4")) /
          col("tr"), 6).as("cum_explained"),
        round(greatest(abs(col("d12")), abs(col("d13")),
          abs(col("d14")), abs(col("d23")), abs(col("d24")),
          abs(col("d34"))), 6).as("ortho_max"))
      .orderBy("dim")
  }

  /** q307: PCA WHITENING — the transform q266's block exists FOR:
    * project every embedding onto the top-[[BlockR]] eigenbasis and
    * rescale each axis by 1/√λ, then MEASURE what whitening is bought
    * for — the anisotropy drop. Anisotropic embedding spaces (one
    * dominant direction, q293's finding) inflate every cosine; the
    * post-processing literature's fix (Su et al. 2021 "whitening
    * sentence representations", public) is exactly this transform.
    * Reports, over the q293 offset-pair set, the mean pair cosine in
    * RAW space vs WHITENED space, plus the top-4 explained ratio and
    * the λ₁ share — the evidence that the dominant direction was both
    * present and removed.
    *
    * Determinism: the eigenbasis and λs come from the q266 orbit
    * (bit-exact vs the oracle's CTE chain); whitened coordinates round
    * at 6 dp at the row ((x·qⱼ − μ·qⱼ)/√λⱼ — driver-fold μ·qⱼ ≡ the
    * oracle's `list_reduce` over its mu CTE); pair cosines round at
    * 9 dp and sum as DECIMAL(28,9). Zero-norm whitened vectors (a
    * point at the projected mean) drop from the whitened mean on both
    * engines.
    *
    * Shape at 100 TB: one covariance pass (q245's), a driver orbit on
    * the 64×64 matrix, then ONE narrow map over the corpus — 4 dot
    * products per row against broadcast literals; the pair sample is
    * an equi-join on vec_id+7. */
  def whitenReport(s: SparkSession, dir: String): DataFrame = {
    val p = pts(s, dir).localCheckpoint() // covariance + whitening scans
    val n = p.count()
    val mu = meansOf(p)
    val cov = covOf(p, mu, n)
    val trace = traceOf(cov)
    val blk = blockIterate(s, rowsOf(cov)).collect()(0)
    val qv: Array[Array[Double]] = (1 to BlockR).map(i =>
      blk.getSeq[Double](blk.fieldIndex(s"q$i")).toArray).toArray
    val lam: Array[Double] = (1 to BlockR).map(i =>
      blk.getDouble(blk.fieldIndex(s"n$i"))).toArray
    val muArr: Array[Double] = mu.collect()
      .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)
    def drvDot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val muDotQ = qv.map(q => drvDot(muArr, q))
    val lamSum = ((lam(0) + lam(1)) + lam(2)) + lam(3)
    def qLit(j: Int) = array(qv(j).toIndexedSeq.map(lit(_)): _*)
    def coord(j: Int): Column =
      round((dotp(col("e"), qLit(j)) - lit(muDotQ(j))) /
        lit(math.sqrt(lam(j))), 6)
    val wn = sqrt(col("c1") * col("c1") + col("c2") * col("c2") +
      col("c3") * col("c3") + col("c4") * col("c4"))
    val wh = p.select(col("vec_id"), col("e"),
        coord(0).as("c1"), coord(1).as("c2"),
        coord(2).as("c3"), coord(3).as("c4"))
      .withColumn("nrm", sqrt(dotp(col("e"), col("e"))))
      .withColumn("wn", wn)
      .localCheckpoint() // both pair-join sides
    val b = wh.select(col("vec_id").as("vb"), col("e").as("eb"),
      col("nrm").as("nb"), col("c1").as("b1"), col("c2").as("b2"),
      col("c3").as("b3"), col("c4").as("b4"), col("wn").as("wnb"))
    val rawCos = round(dotp(col("e"), col("eb")) /
      (col("nrm") * col("nb")), 9)
    val dotW = col("c1") * col("b1") + col("c2") * col("b2") +
      col("c3") * col("b3") + col("c4") * col("b4")
    val whiteCos = round(dotW / (col("wn") * col("wnb")), 9)
    val okW = col("wn") > 0 && col("wnb") > 0
    val agg = wh.join(b, col("vec_id") + 7 === col("vb"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(rawCos.cast(DecimalType(28, 9))).cast(DoubleType).as("sr"),
        sum(when(okW, whiteCos).cast(DecimalType(28, 9)))
          .cast(DoubleType).as("sw"),
        sum(when(okW, 1L).otherwise(0L)).as("n_pairs_white"))
    agg.crossJoin(broadcast(trace))
      .select(col("n_pairs"),
        round(col("sr") / col("n_pairs"), 6).as("mean_raw_cos"),
        col("n_pairs_white"),
        round(when(col("n_pairs_white") > 0,
          col("sw") / col("n_pairs_white")), 6).as("mean_white_cos"),
        round(lit(lamSum) / col("tr"), 6).as("explained_r4"),
        round(lit(lam(0) / lamSum), 6).as("lam1_share"))
  }

  private def traceOf(cov: DataFrame): DataFrame =
    cov.filter(col("j") === col("k"))
      .agg(sum(col("cov").cast(DecimalType(28, 12))).cast(DoubleType)
        .as("tr"))

  def pcaPower(s: SparkSession, dir: String): DataFrame = {
    val p = pts(s, dir)
    val n = p.count()
    val mu = meansOf(p)
    val cov = covOf(p, mu, n)
    val cRows = rowsOf(cov)
    val trace = traceOf(cov)
    val v = iterate(s, cRows)
    val perDim = v.select(posexplode(col("v")).as(Seq("dim", "loading")),
      col("nrm"))
    perDim
      .join(mu.withColumnRenamed("pos", "dim"), "dim")
      .join(cov.filter(col("j") === col("k"))
        .select(col("j").as("dim"), col("cov").as("variance")), "dim")
      .crossJoin(broadcast(trace))
      .select(col("dim").cast(IntegerType).as("dim"),
        round(col("mu"), 6).as("mu_dim"),
        round(col("variance"), 6).as("var_dim"),
        round(col("loading"), 6).as("loading"),
        round(col("nrm"), 6).as("lambda1"),
        round(col("nrm") / col("tr"), 6).as("explained"))
      .orderBy("dim")
  }

  /** q248: SECOND PRINCIPAL COMPONENT by DEFLATION — the same fixed
    * orbit run again on C₂ = C − λ₁·v₁v₁ᵀ. Reports both loadings per
    * dimension, both eigenvalue estimates, the cumulative explained
    * ratio, and the v₁·v₂ orthogonality dot — the number that certifies
    * the deflation actually removed the first direction. Every deflated
    * entry is the literal double expression `cov − nrm·v[j+1]·v[k+1]`
    * spelled identically in both engines, so determinism carries over
    * from q245 unchanged. */
  def pcaDeflate(s: SparkSession, dir: String): DataFrame = {
    val p = pts(s, dir)
    val n = p.count()
    val cov = covOf(p, meansOf(p), n)
    val trace = traceOf(cov)
    val v1 = iterate(s, rowsOf(cov))
    val v2 = iterate(s, rowsOf(deflateOf(cov, v1)))
    val combo = v1.select(col("v").as("v1"), col("nrm").as("l1"))
      .crossJoin(v2.select(col("v").as("v2"), col("nrm").as("l2")))
      .select(col("v1"), col("v2"), col("l1"), col("l2"),
        dotp(col("v1"), col("v2")).as("ortho"))
    combo
      .select(posexplode(arrays_zip(col("v1"), col("v2")))
          .as(Seq("dim", "z")),
        col("l1"), col("l2"), col("ortho"))
      .crossJoin(broadcast(trace))
      .select(col("dim").cast(IntegerType).as("dim"),
        round(col("z.v1"), 6).as("loading1"),
        round(col("z.v2"), 6).as("loading2"),
        round(col("l1"), 6).as("lambda1"),
        round(col("l2"), 6).as("lambda2"),
        round((col("l1") + col("l2")) / col("tr"), 6).as("cum_explained"),
        round(col("ortho"), 6).as("ortho_dot"))
      .orderBy("dim")
  }

  /** C₂ = C − λ₁·v₁v₁ᵀ, spelled identically in both engines. */
  private def deflateOf(cov: DataFrame, v1: DataFrame): DataFrame =
    cov.crossJoin(broadcast(v1))
      .select(col("j"), col("k"),
        (col("cov") - col("nrm") * expr("element_at(v, j + 1)") *
          expr("element_at(v, k + 1)")).as("cov"))

  /** q258: PCA PROJECTION per label — the APPLICATION step of the
    * spectral family: every embedding projected onto the two leading
    * directions (the q245/q248 orbits), then summarized per class
    * label: count, centroid, and within-class variance in PC space —
    * the 2-D separability report a labeling/evaluation pipeline reads
    * to see whether classes are linearly distinguishable in the
    * dominant plane. Projections are the codegen'd fixed-fold dot of
    * the centered vector with the broadcast loadings (one corpus-scan
    * map, zero extra shuffle beyond the label agg); moments accumulate
    * as exact DECIMAL sums, means left unrounded (q55 rule). */
  def pcaProjection(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.fanOut(Tables.load(s, dir, "embeddings"), "vec_id")
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("e"), col("label"))
    val p = raw.select("vec_id", "e")
    val n = p.count()
    val mu = meansOf(p)
    val cov = covOf(p, mu, n)
    val v1 = iterate(s, rowsOf(cov))
    val v2 = iterate(s, rowsOf(deflateOf(cov, v1)))
    val muArr = toArr(mu, "pos", "mu", "mu_arr")
    def cvec = centeredC // same 7-dp quantized centering as the covariance
    // projections QUANTIZE to micro-units before any aggregation: a
    // raw full-mantissa double cast straight to DECIMAL straddles
    // Spark's shortest-string vs DuckDB's exact-binary rounding about
    // once per 1e5 values at scale 12 (observed at sf0.1) — at scale 6
    // the margin is 1e-11 per value, and every moment after is integer
    val projected = raw.crossJoin(broadcast(muArr))
      .crossJoin(broadcast(v1.select(col("v").as("v1"))))
      .crossJoin(broadcast(v2.select(col("v").as("v2"))))
      .select(col("label"),
        (dotp(cvec, col("v1")).cast(DecimalType(18, 6)) * 1000000)
          .cast(LongType).as("pc1"),
        (dotp(cvec, col("v2")).cast(DecimalType(18, 6)) * 1000000)
          .cast(LongType).as("pc2"))
    // moments sum as DECIMAL(38,0): each pc*pc is up to ~2.6e14, so a
    // plain Long sum silently wraps past ~35k rows per label while
    // DuckDB promotes BIGINT sums to HUGEINT — the exact decimal sum
    // matches the oracle's exact-integer-then-double path bit-for-bit
    def exact(c: Column) = sum(c.cast(DecimalType(38, 0)))
    def m(c: String) =
      exact(col(c)).cast(DoubleType) / count(lit(1)) / lit(1000000.0)
    def v(c: String) =
      (exact(col(c) * col(c)).cast(DoubleType) / count(lit(1)) -
        (exact(col(c)).cast(DoubleType) / count(lit(1))) *
        (exact(col(c)).cast(DoubleType) / count(lit(1)))) / lit(1.0e12)
    projected.groupBy("label")
      .agg(count(lit(1)).cast(IntegerType).as("n"),
        m("pc1").as("mean_pc1"), m("pc2").as("mean_pc2"),
        v("pc1").as("var_pc1"), v("pc2").as("var_pc2"))
      .select(col("label").cast(IntegerType).as("label"), col("n"),
        col("mean_pc1"), col("mean_pc2"), col("var_pc1"), col("var_pc2"))
      .orderBy("label")
  }

  // ---------------------------------------------------------------- oracle
  import LloydExact.dotS

  /** The shared covariance CTE block (e, x, mu, cx, cov, crows, tr). */
  private def baseCtes: String =
    s"""e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |x AS (SELECT vec_id, u['pos'] AS pos, u['val'] AS val FROM (
       |  SELECT vec_id, unnest(list_transform(
       |    generate_series(1, len(e)), i -> {'pos': i - 1, 'val': e[i]}))
       |    AS u FROM e)),
       |mu AS (SELECT pos,
       |    CAST(SUM(CAST(val AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*)
       |      AS mu
       |  FROM x GROUP BY pos),
       |cx AS MATERIALIZED (SELECT x.vec_id, x.pos AS j,
       |    round(x.val - mu.mu, 7) AS cv
       |  FROM x JOIN mu ON x.pos = mu.pos),
       |cov AS MATERIALIZED (SELECT a.j, b.j AS k,
       |    CAST(SUM(CAST(a.cv * b.cv AS DECIMAL(38,14))) AS DOUBLE) /
       |      ((SELECT COUNT(*) FROM e) - 1) AS cov
       |  FROM cx a JOIN cx b ON a.vec_id = b.vec_id
       |  GROUP BY a.j, b.j),
       |crows AS MATERIALIZED (SELECT j, list(cov ORDER BY k) AS crow
       |  FROM cov GROUP BY j),
       |tr AS (SELECT CAST(SUM(CAST(cov AS DECIMAL(28,12))) AS DOUBLE)
       |    AS tr
       |  FROM cov WHERE j = k)""".stripMargin

  /** A `p`-prefixed power-iteration CTE chain over matrix frame
    * `crowsRel` — ${p}v0 … ${p}v`Iters`. Every step is MATERIALIZED:
    * each ${p}v CTE is referenced three times by its successor, so
    * DuckDB's default inlining would expand the chain 3^Iters-fold. */
  private def iterChain(p: String, crowsRel: String): String = {
    val steps = (1 to Iters).map { t =>
      val prev = s"${p}v${t - 1}"
      s"""${p}w$t AS MATERIALIZED (SELECT list(wj ORDER BY j) AS w FROM (
         |  SELECT j, ${dotS("crow", "v")} AS wj FROM $crowsRel, $prev)),
         |${p}v$t AS MATERIALIZED (SELECT list_transform(w, x ->
         |    x / sqrt(${dotS("w", "w")})) AS v,
         |  sqrt(${dotS("w", "w")}) AS nrm FROM ${p}w$t)""".stripMargin
    }.mkString(",\n")
    s"""${p}v0 AS (SELECT list_transform(generate_series(1, $Dim),
       |    i -> CAST(0.125 AS DOUBLE)) AS v),
       |$steps""".stripMargin
  }

  /** The q266 blocked-orbit CTE chain — [[iterChain]] generalized to the
    * D×[[BlockR]] matrix orbit. Per step t: `mw$t` multiplies (4 dotS
    * per matrix row), then four Gram-Schmidt stages normalize column by
    * column — projection coefficients are staged as scalars in a
    * subquery so [[dotS]]'s `i` lambda never nests inside the
    * elementwise `i` lambda (DuckDB shadowing hazard). Every CTE is
    * MATERIALIZED: each is referenced multiple times by its successor,
    * and DuckDB's default inlining would blow up exponentially down the
    * 12-step chain (the q245 lesson). Names are `m`-prefixed to stay
    * clear of iterChain's `v`/`w`/`bv`/`bw` planes. */
  private def blockChain: String = {
    val r = BlockR
    def gsCols(n: Int) = (1 to n).map(c => s"q$c").mkString(", ")
    def nCols(n: Int) = (1 to n).map(c => s"n$c").mkString(", ")
    def wCols(from: Int) = (from to r).map(c => s"w$c").mkString(", ")
    val q0Cols = (1 to r).map { c =>
      s"""list_transform(generate_series(1, $Dim), i ->
         |    CASE WHEN (i - 1) % $r = ${c - 1} THEN CAST(0.25 AS DOUBLE)
         |    ELSE CAST(0.0 AS DOUBLE) END) AS q$c""".stripMargin
    }.mkString(",\n  ")
    val steps = (1 to Iters).map { t =>
      val prev = if (t == 1) "mq0" else s"mq${t - 1}"
      val mult = (1 to r).map(c => s"${dotS("crow", s"q$c")} AS a$c")
        .mkString(",\n    ")
      val lists = (1 to r).map(c => s"list(a$c ORDER BY j) AS w$c")
        .mkString(", ")
      val gs = (1 to r).map { c =>
        val kept = if (c == 1) wCols(2)
          else if (c < r) s"${wCols(c + 1)}, ${nCols(c - 1)}, ${gsCols(c - 1)}"
          else s"${nCols(c - 1)}, ${gsCols(c - 1)}"
        val uRel =
          if (c == 1) s"(SELECT w1 AS u$c, ${wCols(2)} FROM mw$t)"
          else {
            val ds = (1 to c - 1).map(p =>
              s"${dotS(s"q$p", s"w$c")} AS d$p").mkString(",\n      ")
            val sub = (1 to c - 1).map(p => s" - d$p * q$p[i]").mkString
            s"""(SELECT $kept,
               |    list_transform(generate_series(1, $Dim), i ->
               |      w$c[i]$sub) AS u$c
               |  FROM (SELECT $kept, w$c,
               |      $ds
               |    FROM mg$t${c - 1}))""".stripMargin
          }
        s"""mg$t$c AS MATERIALIZED (SELECT $kept,
           |    sqrt(${dotS(s"u$c", s"u$c")}) AS n$c,
           |    list_transform(u$c, x ->
           |      x / sqrt(${dotS(s"u$c", s"u$c")})) AS q$c
           |  FROM $uRel)""".stripMargin
      }.mkString(",\n")
      s"""mw$t AS MATERIALIZED (SELECT $lists FROM (
         |  SELECT j,
         |    $mult
         |  FROM crows, $prev)),
         |$gs,
         |mq$t AS MATERIALIZED (SELECT ${gsCols(r)}, ${nCols(r)}
         |  FROM mg$t$r)""".stripMargin
    }.mkString(",\n")
    s"""mq0 AS (SELECT
       |  $q0Cols),
       |$steps""".stripMargin
  }

  /** The registry queries this module declares (see [[graft.Query]]). */
  def queries: Seq[Query] = Seq(
    // top principal component by bit-exact power iteration
    Query("q245_pca_power", (s, d) => pcaPower(s, d),
      s"""WITH $baseCtes,
         |${iterChain("", "crows")},
         |vd AS (SELECT u['dim'] AS dim, u['l'] AS loading FROM (
         |  SELECT unnest(list_transform(generate_series(1, $Dim),
         |    i -> {'dim': i - 1, 'l': v[i]})) AS u FROM v$Iters))
         |SELECT CAST(vd.dim AS INTEGER) AS dim,
         |  round(mu.mu, 6) AS mu_dim,
         |  round(d.cov, 6) AS var_dim,
         |  round(vd.loading, 6) AS loading,
         |  round(v$Iters.nrm, 6) AS lambda1,
         |  round(v$Iters.nrm / tr.tr, 6) AS explained
         |FROM vd
         |JOIN mu ON mu.pos = vd.dim
         |JOIN cov d ON d.j = vd.dim AND d.k = vd.dim
         |CROSS JOIN v$Iters CROSS JOIN tr
         |ORDER BY dim""".stripMargin),
    // second principal component by deflation, same bit-exact orbit
    Query("q248_pca_deflate", (s, d) => pcaDeflate(s, d),
      s"""WITH $baseCtes,
         |${iterChain("", "crows")},
         |cov2 AS MATERIALIZED (SELECT c.j, c.k,
         |    c.cov - v.nrm * v.v[c.j + 1] * v.v[c.k + 1] AS cov
         |  FROM cov c CROSS JOIN v$Iters v),
         |crows2 AS MATERIALIZED (SELECT j, list(cov ORDER BY k) AS crow
         |  FROM cov2 GROUP BY j),
         |${iterChain("b", "crows2")},
         |vd AS (SELECT u['dim'] AS dim, u['l1'] AS l1, u['l2'] AS l2
         |  FROM (SELECT unnest(list_transform(generate_series(1, $Dim),
         |    i -> {'dim': i - 1, 'l1': a.v[i], 'l2': b.v[i]})) AS u
         |  FROM v$Iters a CROSS JOIN bv$Iters b))
         |SELECT CAST(vd.dim AS INTEGER) AS dim,
         |  round(vd.l1, 6) AS loading1,
         |  round(vd.l2, 6) AS loading2,
         |  round(a.nrm, 6) AS lambda1,
         |  round(b.nrm, 6) AS lambda2,
         |  round((a.nrm + b.nrm) / tr.tr, 6) AS cum_explained,
         |  round(${dotS("a.v", "b.v")}, 6) AS ortho_dot
         |FROM vd CROSS JOIN v$Iters a CROSS JOIN bv$Iters b CROSS JOIN tr
         |ORDER BY dim""".stripMargin),
    // PCA projection per label: 2-D separability in the dominant plane
    Query("q258_pca_projection", (s, d) => pcaProjection(s, d), {
      def mS(c: String) =
        s"CAST(SUM($c) AS DOUBLE) / COUNT(*) / 1000000.0"
      def vS(c: String) = {
        val raw = s"CAST(SUM($c) AS DOUBLE) / COUNT(*)"
        s"(CAST(SUM($c * $c) AS DOUBLE) / COUNT(*) - ($raw) * ($raw)) " +
          "/ 1.0e12"
      }
      s"""WITH $baseCtes,
         |${iterChain("", "crows")},
         |cov2 AS MATERIALIZED (SELECT c.j, c.k,
         |    c.cov - v.nrm * v.v[c.j + 1] * v.v[c.k + 1] AS cov
         |  FROM cov c CROSS JOIN v$Iters v),
         |crows2 AS MATERIALIZED (SELECT j, list(cov ORDER BY k) AS crow
         |  FROM cov2 GROUP BY j),
         |${iterChain("b", "crows2")},
         |cvec AS (SELECT vec_id, list(cv ORDER BY j) AS c
         |  FROM cx GROUP BY vec_id),
         |proj AS (SELECT emb.label,
         |    CAST(CAST(${dotS("cvec.c", "a.v")} AS DECIMAL(18,6))
         |      * 1000000 AS BIGINT) AS pc1,
         |    CAST(CAST(${dotS("cvec.c", "b.v")} AS DECIMAL(18,6))
         |      * 1000000 AS BIGINT) AS pc2
         |  FROM cvec JOIN embeddings emb ON cvec.vec_id = emb.vec_id
         |  CROSS JOIN v$Iters a CROSS JOIN bv$Iters b)
         |SELECT CAST(label AS INTEGER) AS label,
         |  CAST(COUNT(*) AS INTEGER) AS n,
         |  ${mS("pc1")} AS mean_pc1,
         |  ${mS("pc2")} AS mean_pc2,
         |  ${vS("pc1")} AS var_pc1,
         |  ${vS("pc2")} AS var_pc2
         |FROM proj GROUP BY label ORDER BY label""".stripMargin
    }),
    // top-r PCA in ONE blocked orthogonal-iteration chain (r=4)
    Query("q266_pca_block", (s, d) => pcaBlock(s, d), {
      val last = s"mq$Iters"
      val pairs = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
      val omax = pairs.map { case (a, b) =>
        s"abs(${dotS(s"q$a", s"q$b")})" }.mkString("greatest(", ", ", ")")
      s"""WITH $baseCtes,
         |$blockChain,
         |vd AS (SELECT u['dim'] AS dim, u['l1'] AS l1, u['l2'] AS l2,
         |    u['l3'] AS l3, u['l4'] AS l4
         |  FROM (SELECT unnest(list_transform(generate_series(1, $Dim),
         |    i -> {'dim': i - 1, 'l1': q1[i], 'l2': q2[i], 'l3': q3[i],
         |      'l4': q4[i]})) AS u FROM $last)),
         |od AS (SELECT $omax AS omax FROM $last)
         |SELECT CAST(vd.dim AS INTEGER) AS dim,
         |  round(vd.l1, 6) AS loading1,
         |  round(vd.l2, 6) AS loading2,
         |  round(vd.l3, 6) AS loading3,
         |  round(vd.l4, 6) AS loading4,
         |  round(b.n1, 6) AS lambda1,
         |  round(b.n2, 6) AS lambda2,
         |  round(b.n3, 6) AS lambda3,
         |  round(b.n4, 6) AS lambda4,
         |  round((b.n1 + b.n2 + b.n3 + b.n4) / tr.tr, 6) AS cum_explained,
         |  round(od.omax, 6) AS ortho_max
         |FROM vd CROSS JOIN $last b CROSS JOIN od CROSS JOIN tr
         |ORDER BY dim""".stripMargin
    }),
    // PCA whitening via the q266 block: anisotropy before vs after,
    // plus explained ratio and the dominant-direction share
    // q307: the q266 chain + the whitening transform + the q293-style
    // offset-pair cosine means in both geometries
    Query("q307_whitening", (s, d) => whitenReport(s, d), {
      val last = s"mq$Iters"
      val mqs = (1 to BlockR).map(j =>
        s"${dotS("mua", s"q$j")} AS mq$j").mkString(",\n    ")
      val coords = (1 to BlockR).map(j =>
        s"round((${dotS("e.e", s"q$j")} - mq$j) / sqrt(n$j), 6) AS c$j")
        .mkString(",\n    ")
      s"""WITH $baseCtes,
         |$blockChain,
         |mua AS (SELECT list(mu ORDER BY pos) AS mua FROM mu),
         |mud AS (SELECT
         |    $mqs
         |  FROM mua, $last),
         |wh AS MATERIALIZED (SELECT e.vec_id, e.e,
         |    sqrt(${dotS("e.e", "e.e")}) AS nrm,
         |    $coords
         |  FROM e, $last, mud),
         |wh2 AS MATERIALIZED (SELECT vec_id, e, nrm, c1, c2, c3, c4,
         |    sqrt(c1 * c1 + c2 * c2 + c3 * c3 + c4 * c4) AS wn
         |  FROM wh),
         |pa AS (SELECT COUNT(*) AS n_pairs,
         |    CAST(SUM(CAST(rc AS DECIMAL(28,9))) AS DOUBLE) AS sr,
         |    CAST(SUM(CASE WHEN okw THEN CAST(wc AS DECIMAL(28,9)) END)
         |      AS DOUBLE) AS sw,
         |    CAST(SUM(CASE WHEN okw THEN 1 ELSE 0 END) AS BIGINT) AS nw
         |  FROM (SELECT
         |      round(${dotS("a.e", "b.e")} / (a.nrm * b.nrm), 9) AS rc,
         |      round((a.c1 * b.c1 + a.c2 * b.c2 + a.c3 * b.c3 +
         |        a.c4 * b.c4) / (a.wn * b.wn), 9) AS wc,
         |      (a.wn > 0 AND b.wn > 0) AS okw
         |    FROM wh2 a JOIN wh2 b ON a.vec_id + 7 = b.vec_id))
         |SELECT CAST(pa.n_pairs AS BIGINT) AS n_pairs,
         |  round(pa.sr / pa.n_pairs, 6) AS mean_raw_cos,
         |  pa.nw AS n_pairs_white,
         |  round(CASE WHEN pa.nw > 0 THEN pa.sw / pa.nw END, 6)
         |    AS mean_white_cos,
         |  round((n1 + n2 + n3 + n4) / tr.tr, 6) AS explained_r4,
         |  round(n1 / (n1 + n2 + n3 + n4), 6) AS lam1_share
         |FROM pa, $last, tr""".stripMargin
    }),
  )
}
