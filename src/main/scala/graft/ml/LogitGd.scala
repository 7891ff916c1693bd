package graft.ml

import graft.Query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextPrims._
import graft.functions.VectorExprs.dotp
import graft.sources.Tables

/** q267: LOGISTIC-REGRESSION QUALITY CLASSIFIER by fixed-iteration
  * full-batch gradient descent — the trainable half of the curation
  * stack: where q23's quality score is a hand-tuned rule, this LEARNS a
  * linear model (is this document English?) from the same cheap text
  * features, the shape of every fastText-style quality/language filter
  * a training-data pipeline runs before expensive model scoring.
  *
  * Algorithm (everything fixed, no RNG): w₀ = 0; for t = 1..`Steps`:
  * zᵢ = round(w·xᵢ, 6), pᵢ = round(σ(zᵢ), 6), gⱼ = Σᵢ (pᵢ−yᵢ)·xᵢⱼ / n,
  * w ← w − η·g with η = 0.125 (exact dyadic). Reports the weights, the
  * training accuracy at threshold 0.5, and the mean clamped log-loss.
  *
  * Bit-exact determinism across engines (the PcaPower rulebook):
  *  - features are 6-dp-rounded ratios of integer counts (identical
  *    divisions) — the one transcendental feature rounds ln at 6 dp;
  *  - z is the codegen'd fixed-fold [[dotp]] ≡ the oracle's
  *    `list_reduce` — identical w ⇒ identical z bit-for-bit;
  *  - σ uses exp() on IDENTICAL inputs: a 1-ulp libm divergence
  *    survives the 6-dp round with probability ~1e-11 per row;
  *  - (p−y) is IEEE-exact (Sterbenz for y=1), so (p−y)·xⱼ lies on the
  *    12-dp grid with ~1e-16 error ≪ the 5e-13 half-spacing — the
  *    DECIMAL(38,12) cast recovers the exact grid value on BOTH
  *    engines (the covariance-quantization argument);
  *  - gradient sums are exact decimals; the weight update is the same
  *    single IEEE multiply+subtract on the driver as in the oracle's
  *    CTE, so w stays bit-identical down the whole chain with NO
  *    per-step weight rounding needed.
  *
  * Shape at 100 TB: each step is ONE corpus scan ending in a D-column
  * map-side partial aggregate (the classic distributed full-batch GD);
  * the driver holds only w (D doubles, R7-bounded). The feature frame
  * is computed once and localCheckpoint'd — `Steps` scans of a narrow
  * (y, x) projection, never re-tokenizing. */
object LogitGd {
  val Steps = 8
  val NumFeatures = 5
  val Eta = 0.125

  /** (y, x) feature frame — 6-dp-rounded, zero-guard coalesced. */
  private def feats(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.load(s, dir, "documents"), "doc_id")
    val t = tokensC(col("text"))
    val words = size(t).cast(DoubleType)
    val chars = length(col("text")).cast(DoubleType)
    val punct = size(regexp_extract_all(col("text"), lit("[.,;:!?]"),
      lit(0))).cast(DoubleType)
    val stops = countInSetC(t, Stopwords).cast(DoubleType)
    val wordsNz = when(words > 0, words)
    val charsNz = when(chars > 0, chars)
    d.select(
      col("doc_id"),
      when(col("lang") === "en", 1).otherwise(0).as("y"),
      array(
        lit(1.0),
        round(log(words + lit(1.0)) / lit(10.0), 6),
        coalesce(round(stops / wordsNz, 6), lit(0.0)),
        coalesce(round(punct / charsNz, 6), lit(0.0)),
        coalesce(round(chars / wordsNz / lit(10.0), 6), lit(0.0))
      ).as("x"))
      .localCheckpoint() // scanned Steps + 2 times
  }

  private def wCol(w: Array[Double]): Column =
    array(w.map(lit(_)): _*)

  /** p = round(σ(round(w·x, 6)), 6) for a given weight vector. */
  private def pCol(w: Array[Double]): Column =
    round(lit(1.0) / (lit(1.0) + exp(-round(dotp(wCol(w), col("x")), 6))),
      6)

  /** The trained weight vector + the checkpointed feature frame —
    * shared by q267 (metrics) and q287 (uncertainty sampling). */
  private def train(s: SparkSession, dir: String)
      : (DataFrame, Array[Double]) = {
    val f = feats(s, dir)
    (f, trainOn(f))
  }

  /** The GD loop over an arbitrary (y, x) frame — q304 trains on a
    * hash-split subset; q267/q287 train on the full corpus. */
  private def trainOn(f: DataFrame): Array[Double] = {
    val w = Array.fill(NumFeatures)(0.0)
    for (_ <- 1 to Steps) {
      val p = pCol(w)
      val gradAggs = (0 until NumFeatures).map { j =>
        (sum(((p - col("y")) * element_at(col("x"), j + 1))
          .cast(DecimalType(38, 12))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as(s"g$j")
      }
      // R7: the collect is ONE row of D gradient doubles per step
      val g = f.agg(gradAggs.head, gradAggs.tail: _*).collect()(0)
      for (j <- 0 until NumFeatures)
        w(j) = w(j) - Eta * g.getDouble(j) // same IEEE ops as the oracle
    }
    w
  }

  def logitGd(s: SparkSession, dir: String): DataFrame = {
    val (f, w) = train(s, dir)
    // final pass: accuracy at 0.5 (p is on the 6-dp grid — the compare
    // is exact) and mean log-loss with p clamped to [1e-6, 1 - 1e-6]
    // (grid points, so the clamp is exact on both engines)
    val p = pCol(w)
    val pc = least(greatest(p, lit(0.000001)), lit(0.999999))
    val hit = when((p >= 0.5) === (col("y") === 1), 1).otherwise(0)
    val ll = round(-(col("y") * log(pc) +
      (lit(1) - col("y")) * log(lit(1.0) - pc)), 6)
    val m = f.agg(
      (sum(hit).cast(DoubleType) / count(lit(1)).cast(DoubleType))
        .as("acc"),
      (sum(ll.cast(DecimalType(28, 6))).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("llm"),
      count(lit(1)).cast(IntegerType).as("n"))
    m.select(
      (0 until NumFeatures).map(j =>
        round(lit(w(j)), 9).as(s"w$j")) ++ Seq(
        round(col("acc"), 6).as("accuracy"),
        round(col("llm"), 6).as("log_loss"),
        col("n")): _*)
  }

  val UncK = 20

  /** q287: UNCERTAINTY SAMPLING — the active-learning export on top of
    * q267's classifier: the [[UncK]] documents whose predicted
    * probability sits closest to the 0.5 decision boundary are the
    * ones a human labeler (or a stronger model) should look at next.
    * Ranking key |p − 0.5| over the 6-dp probability grid with doc_id
    * tie-breaks; the top-k is orderBy + limit
    * (TakeOrderedAndProject), never a global rank window. */
  def uncertaintySample(s: SparkSession, dir: String): DataFrame = {
    val (f, w) = train(s, dir)
    val p = pCol(w)
    f.select(col("doc_id"), col("y"), p.as("p"))
      .withColumn("unc", abs(col("p") - lit(0.5)))
      .orderBy(col("unc"), col("doc_id")).limit(UncK)
      .select(col("doc_id"), col("y"), round(col("p"), 6).as("p_en"),
        round(col("unc"), 6).as("uncertainty"))
      .orderBy(col("uncertainty"), col("doc_id"))
  }

  val ConformalAlpha = 0.1

  /** The q304 hash split: doc_id → {0,1}=train, 2=calibration, 3=test. */
  private def partCol: Column =
    pmod(hex60C(md5(concat(lit("cf#"), col("doc_id").cast(StringType)))),
      lit(4L))

  /** q304: SPLIT-CONFORMAL COVERAGE CERTIFICATE — the distribution-free
    * guarantee on top of q267's learned filter: train the GD classifier
    * on the hash-split training half, take the ⌈(n+1)(1−α)⌉-th
    * smallest nonconformity score (1 − p̂ of the true label) on the
    * DISJOINT calibration quarter, and measure on the test quarter the
    * coverage of the induced prediction sets {c : 1 − p̂_c ≤ q̂} plus
    * their average size. Split conformal promises coverage ≥ 1 − α
    * marginally whatever the model — this query EXECUTES that promise
    * and reports the number, which is how a production filter earns a
    * "keeps ≥90% of what it claims" SLA without distributional
    * assumptions.
    *
    * Determinism: the split is a seeded hash; scores live on the 6-dp
    * probability grid; q̂ is an exact order statistic computed as the
    * smallest grid value whose cumulative calibration count reaches
    * ⌈(n+1)(1−α)⌉ — a cumsum over ≤ |grid| distinct values (NOT a
    * global sort of scores), so the selection scales. */
  def conformalCoverage(s: SparkSession, dir: String,
                        alpha: Double = ConformalAlpha): DataFrame = {
    val f = feats(s, dir).withColumn("part", partCol)
      .localCheckpoint() // train scans + calib + test read it
    val w = trainOn(f.filter(col("part") <= 1))
    val p = pCol(w)
    val sc = when(col("y") === 1, lit(1.0) - p).otherwise(p)
    val scored = f.select(col("part"), sc.as("sc"), p.as("p"))
      .localCheckpoint() // calib distribution + test coverage read it
    val nCal = scored.filter(col("part") === 2)
      .agg(count(lit(1)).as("ncal"))
    val dist = scored.filter(col("part") === 2)
      .groupBy("sc").agg(count(lit(1)).as("n"))
    // the global cumsum window below is safe ONLY because scores live on
    // the 6-dp probability grid (≤ 10^6 + 1 distinct values) — enforce
    // that contract at runtime so a future score-column change can't
    // silently turn it into an unbounded single-partition sort. The
    // row_number rides the same sort; no extra pass.
    val wSc = org.apache.spark.sql.expressions.Window.orderBy("sc")
    val gridBound = 1000001L
    val cum = dist
      .withColumn("rn", row_number().over(wSc))
      .withColumn("sc",
        when(col("rn") <= lit(gridBound), col("sc"))
          .otherwise(raise_error(lit(
            "conformalCoverage: distinct nonconformity scores exceed the " +
              "6-dp grid bound (1e6+1) — the score column lost its " +
              "rounding contract; the cumsum window would become an " +
              "unbounded single-partition sort")).cast(DoubleType)))
      .drop("rn")
      .withColumn("c", sum("n").over(wSc.rowsBetween(Long.MinValue, 0)))
    val qhat = cum.crossJoin(broadcast(nCal))
      .filter(col("c").cast(DoubleType) >=
        ceil((col("ncal") + 1).cast(DoubleType) * lit(1.0 - alpha)))
      .agg(min("sc").as("qh"))
    val counts = f.agg(
      sum(when(col("part") <= 1, 1L).otherwise(0L)).as("n_train"),
      sum(when(col("part") === 2, 1L).otherwise(0L)).as("n_cal"),
      sum(when(col("part") === 3, 1L).otherwise(0L)).as("n_test"))
    val setSize = when(lit(1.0) - col("p") <= col("qh"), 1)
      .otherwise(0) + when(col("p") <= col("qh"), 1).otherwise(0)
    scored.filter(col("part") === 3)
      .crossJoin(broadcast(qhat))
      .agg(
        (sum(when(col("sc") <= col("qh"), 1).otherwise(0))
          .cast(DoubleType) / count(lit(1)).cast(DoubleType))
          .as("coverage"),
        (sum(setSize).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("setsz"),
        max(col("qh")).as("q_hat"))
      .crossJoin(broadcast(counts))
      .select(col("n_train"), col("n_cal"), col("n_test"),
        col("q_hat"), round(col("coverage"), 6).as("coverage"),
        round(col("setsz"), 6).as("avg_set_size"))
  }

  val EceBins = 10

  /** q306: RELIABILITY TABLE + EXPECTED CALIBRATION ERROR — the eval
    * q267's accuracy/log-loss pair leaves open: a filter's score is
    * used as a CONFIDENCE (thresholds, routing, sample weighting), so
    * it must be calibrated, not just accurate. Binning is EQUAL-MASS
    * (adaptive ECE, Nixon et al. 2019): cell boundaries are the
    * [[EceBins]]-quantiles of the confidence distribution itself — the
    * published fix for exactly what the fixture exhibits, a weak
    * model whose confidences concentrate so fixed-width cells collapse
    * to one populated row. Each row reports the cell's count, mean
    * confidence and empirical accuracy (of the argmax class), and
    * ECE = Σ (n_b/n)·|acc_b − conf_b| rides every row. q252's isotonic
    * pair calibrates a FEATURE against an outcome; this calibrates the
    * MODEL's own confidence.
    *
    * Determinism: p̂ sits on the 6-dp grid, so confidence micro-units
    * are exact integers; boundaries are weighted percentiles over
    * those integers (the q263 pooled-grid machinery) and the bin
    * compare is integer-vs-double, identical both engines; sums are
    * exact integer/DECIMAL; the per-row divisions are the same IEEE
    * ops. One corpus scan after training. */
  def reliabilityEce(s: SparkSession, dir: String): DataFrame = {
    val f = feats(s, dir)
    val w = trainOn(f)
    val p = pCol(w)
    val conf = greatest(p, lit(1.0) - p)
    val hit = when((p >= 0.5) === (col("y") === 1), 1L).otherwise(0L)
    val confMu = (conf.cast(DecimalType(18, 6)) * 1000000)
      .cast(LongType)
    val scored = f.select(hit.as("hit"), confMu.as("cmu"))
      .localCheckpoint() // boundary percentiles + binned agg read it
    val qs = (1 until EceBins).map(i => i.toDouble / EceBins)
    val bnd = scored.groupBy("cmu").agg(count(lit(1)).as("cnt"))
      .agg(expr(s"percentile(cmu, array(${qs.mkString(", ")}), cnt)")
        .as("bnd"))
    val bin = size(filter(col("bnd"),
      b => col("cmu").cast(DoubleType) > b)).cast(IntegerType)
    val g = scored.crossJoin(broadcast(bnd))
      .select(bin.as("bin"), col("hit"), col("cmu"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("hit").as("nh"), sum("cmu").as("sc"))
    val acc = col("nh").cast(DoubleType) / col("n").cast(DoubleType)
    val mconf = col("sc").cast(DoubleType) / col("n").cast(DoubleType) /
      lit(1000000.0)
    val rows = g.select(col("bin"), col("n"), col("nh").as("n_correct"),
        round(mconf, 6).as("mean_conf"), round(acc, 6).as("acc"),
        // per-bin |gap| in 9-dp units so the ECE sum is order-free
        round(abs(acc - mconf), 9).as("gap"))
      .localCheckpoint() // the ECE agg and the output both read it
    val ece = rows.agg((sum((col("gap") * col("n").cast(DoubleType))
        .cast(DecimalType(28, 9))).cast(DoubleType) /
      sum(col("n")).cast(DoubleType)).as("ece"))
    rows.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"), col("n_correct"), col("mean_conf"),
        col("acc"), round(col("gap"), 6).as("gap"),
        round(col("ece"), 6).as("ece"))
      .orderBy("bin")
  }

  // ---------------------------------------------------------------- oracle
  import LloydExact.dotS

  /** The lf feature-CTE body (everything after "lf AS MATERIALIZED"),
    * parameterized by the document predicate — "TRUE" for the full
    * corpus, q304's hash-split for conformal training. */
  private def lfBodyS(pred: String): String = {
    val t = tokensS("text")
    s"""(SELECT doc_id,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    [CAST(1.0 AS DOUBLE),
       |     round(ln(CAST(len(t0) AS DOUBLE) + 1.0) / 10.0, 6),
       |     COALESCE(round(CAST(${countInSetS("t0", Stopwords)}
       |       AS DOUBLE) / NULLIF(CAST(len(t0) AS DOUBLE), 0), 6), 0.0),
       |     COALESCE(round(CAST(len(regexp_extract_all(text, '[.,;:!?]'))
       |       AS DOUBLE) / NULLIF(CAST(length(text) AS DOUBLE), 0), 6),
       |       0.0),
       |     COALESCE(round(CAST(length(text) AS DOUBLE) /
       |       NULLIF(CAST(len(t0) AS DOUBLE), 0) / 10.0, 6), 0.0)] AS x
       |  FROM (SELECT doc_id, lang, text, $t AS t0 FROM documents
       |    WHERE $pred))""".stripMargin
  }

  /** The lw0..lwSteps weight chain over an existing `lf` CTE. */
  private def chainCtesS: String = {
    val gradList = (1 to NumFeatures).map { j =>
        s"""CAST(SUM(CAST((p - y) * x[$j] AS DECIMAL(38,12)))
           |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)""".stripMargin
      }.mkString(",\n    ")
      val steps = (1 to Steps).map { tt =>
        val prev = s"lw${tt - 1}"
        s"""lp$tt AS MATERIALIZED (SELECT y, x,
           |    round(1.0 / (1.0 + exp(-round(${dotS("w", "x")}, 6))), 6)
           |      AS p
           |  FROM lf, $prev),
           |lg$tt AS MATERIALIZED (SELECT [
           |    $gradList] AS g
           |  FROM lp$tt),
           |lw$tt AS MATERIALIZED (SELECT
           |    list_transform(generate_series(1, $NumFeatures),
           |      i -> w[i] - $Eta * g[i]) AS w
           |  FROM $prev, lg$tt)""".stripMargin
      }.mkString(",\n")
    s"""lw0 AS (SELECT list_transform(generate_series(1, $NumFeatures),
       |    i -> CAST(0.0 AS DOUBLE)) AS w),
       |$steps""".stripMargin
  }

  /** Shared GD CTE chain: lf (features, WITH doc_id) + lw0..lwSteps. */
  private def gdCtes: String =
    s"""lf AS MATERIALIZED ${lfBodyS("TRUE")},
       |$chainCtesS""".stripMargin

  /** The registry queries this module declares (see [[graft.Query]]). */
  def queries: Seq[Query] = Seq(
    // learned quality/language filter: full-batch GD logistic regression
    Query("q267_logit_gd", (s, d) => logitGd(s, d),
      s"""WITH $gdCtes,
         |fin AS (SELECT y,
         |    round(1.0 / (1.0 + exp(-round(${dotS("w", "x")}, 6))), 6)
         |      AS p
         |  FROM lf, lw$Steps),
         |met AS (SELECT
         |    CAST(SUM(CASE WHEN (p >= 0.5) = (y = 1) THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS acc,
         |    CAST(SUM(CAST(round(-(y * ln(least(greatest(p, 0.000001),
         |        0.999999)) + (1 - y) * ln(1.0 - least(greatest(p,
         |        0.000001), 0.999999))), 6) AS DECIMAL(28,6)))
         |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS llm,
         |    CAST(COUNT(*) AS INTEGER) AS n
         |  FROM fin)
         |SELECT ${(1 to NumFeatures).map(j =>
            s"round(w[$j], 9) AS w${j - 1}").mkString(",\n  ")},
         |  round(acc, 6) AS accuracy,
         |  round(llm, 6) AS log_loss,
         |  n
         |FROM lw$Steps, met""".stripMargin),
    // active learning: the docs nearest the 0.5 decision boundary
    Query("q287_uncertainty_sample", (s, d) => uncertaintySample(s, d),
      s"""WITH $gdCtes,
         |fin AS (SELECT doc_id, y,
         |    round(1.0 / (1.0 + exp(-round(${dotS("w", "x")}, 6))), 6)
         |      AS p
         |  FROM lf, lw$Steps)
         |SELECT doc_id, y, round(p, 6) AS p_en,
         |  round(abs(p - 0.5), 6) AS uncertainty
         |FROM fin
         |ORDER BY abs(p - 0.5), doc_id LIMIT $UncK""".stripMargin),
    // split-conformal coverage certificate on q267's classifier:
    // distribution-free >=90% coverage, executed and measured
    // q304: the same GD chain trained on the hash-split train half,
    // exact order-statistic q-hat on the calibration quarter, coverage
    // and set size measured on the test quarter
    Query("q304_conformal", (s, d) => conformalCoverage(s, d), {
      val part = graft.functions.TextPrims.hex60S(
        "md5('cf#' || CAST(doc_id AS VARCHAR))") + " % 4"
      val oneMinusAlpha = 1.0 - ConformalAlpha
      s"""WITH lfa AS MATERIALIZED (SELECT f.*, $part AS part
         |  FROM ${lfBodyS("TRUE")} f),
         |lf AS MATERIALIZED (SELECT doc_id, y, x FROM lfa
         |  WHERE part <= 1),
         |$chainCtesS,
         |sc AS MATERIALIZED (SELECT part, y,
         |    round(1.0 / (1.0 + exp(-round(${dotS("w", "x")}, 6))), 6)
         |      AS p
         |  FROM lfa, lw$Steps),
         |s2 AS (SELECT part, p,
         |    CASE WHEN y = 1 THEN 1.0 - p ELSE p END AS sc
         |  FROM sc),
         |nc AS (SELECT COUNT(*) AS ncal FROM s2 WHERE part = 2),
         |dist AS (SELECT sc AS v, COUNT(*) AS n FROM s2
         |  WHERE part = 2 GROUP BY sc),
         |cum AS (SELECT v, SUM(n) OVER (ORDER BY v ROWS BETWEEN
         |    UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM dist),
         |qh AS (SELECT MIN(v) AS qh FROM cum, nc
         |  WHERE CAST(c AS DOUBLE) >=
         |    ceil((ncal + 1) * $oneMinusAlpha)),
         |cts AS (SELECT
         |    CAST(SUM(CASE WHEN part <= 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_train,
         |    CAST(SUM(CASE WHEN part = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_cal,
         |    CAST(SUM(CASE WHEN part = 3 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_test
         |  FROM lfa),
         |tst AS (SELECT
         |    CAST(SUM(CASE WHEN sc <= qh THEN 1 ELSE 0 END) AS DOUBLE) /
         |      CAST(COUNT(*) AS DOUBLE) AS coverage,
         |    CAST(SUM((CASE WHEN 1.0 - p <= qh THEN 1 ELSE 0 END) +
         |      (CASE WHEN p <= qh THEN 1 ELSE 0 END)) AS DOUBLE) /
         |      CAST(COUNT(*) AS DOUBLE) AS setsz,
         |    MAX(qh) AS q_hat
         |  FROM s2, qh WHERE part = 3)
         |SELECT cts.n_train, cts.n_cal, cts.n_test, tst.q_hat,
         |  round(tst.coverage, 6) AS coverage,
         |  round(tst.setsz, 6) AS avg_set_size
         |FROM cts, tst""".stripMargin
    }),
    // reliability table + ECE of the GD classifier's confidence —
    // the calibration eval q267's accuracy/log-loss leave open
    // q306: same GD chain, then the adaptive (equal-mass) reliability
    // binning — boundaries are quantiles of the confidence micro-units
    Query("q306_reliability_ece", (s, d) => reliabilityEce(s, d), {
      val qs = (1 until EceBins).map(i => i.toDouble / EceBins)
      s"""WITH $gdCtes,
         |fin AS (SELECT y,
         |    round(1.0 / (1.0 + exp(-round(${dotS("w", "x")}, 6))), 6)
         |      AS p
         |  FROM lf, lw$Steps),
         |m AS (SELECT
         |    CASE WHEN (p >= 0.5) = (y = 1) THEN CAST(1 AS BIGINT)
         |      ELSE CAST(0 AS BIGINT) END AS hit,
         |    CAST(CAST(GREATEST(p, 1.0 - p) AS DECIMAL(18,6)) * 1000000
         |      AS BIGINT) AS cmu
         |  FROM fin),
         |bnd AS (SELECT quantile_cont(cmu, [${qs.mkString(", ")}])
         |    AS bnd
         |  FROM m),
         |b AS (SELECT CAST(len(list_filter(bnd.bnd,
         |      bb -> CAST(cmu AS DOUBLE) > bb)) AS INTEGER) AS bin,
         |    hit, cmu
         |  FROM m CROSS JOIN bnd),
         |g AS (SELECT bin, COUNT(*) AS n, SUM(hit) AS nh, SUM(cmu) AS sc
         |  FROM b GROUP BY bin),
         |r AS (SELECT bin, CAST(n AS BIGINT) AS n,
         |    CAST(nh AS BIGINT) AS n_correct,
         |    CAST(nh AS DOUBLE) / CAST(n AS DOUBLE) AS acc0,
         |    CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
         |      AS mconf0
         |  FROM g),
         |r2 AS (SELECT bin, n, n_correct,
         |    round(mconf0, 6) AS mean_conf, round(acc0, 6) AS acc,
         |    round(abs(acc0 - mconf0), 9) AS gap0
         |  FROM r),
         |e AS (SELECT CAST(SUM(CAST(gap0 * CAST(n AS DOUBLE)
         |      AS DECIMAL(28,9))) AS DOUBLE) /
         |    CAST(SUM(n) AS DOUBLE) AS ece
         |  FROM r2)
         |SELECT r2.bin, r2.n, r2.n_correct, r2.mean_conf, r2.acc,
         |  round(r2.gap0, 6) AS gap, round(e.ece, 6) AS ece
         |FROM r2, e ORDER BY r2.bin""".stripMargin
    }),
  )
}
