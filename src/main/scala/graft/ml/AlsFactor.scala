package graft.ml

import graft.Query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextPrims.{hex32C, hex32S}
import graft.sources.Tables

/** q332: ALS MATRIX FACTORIZATION, relationally — the collaborative-
  * filtering workload MLlib is famous for, re-derived as deterministic
  * DataFrame algebra so it oracle-checks bit-for-bit (MLlib's ALS is
  * RNG-initialized and block-partitioned — unverifiable; this is the
  * oracle-checkable twin, the LloydExact discipline applied to
  * factorization). Rank k=2 over the (user × event_type) mean-value
  * matrix; each half-step solves every row's ridge-regularized normal
  * equations IN CLOSED FORM — a 2×2 inverse is four fixed double
  * expressions, so "solve" is a groupBy-aggregate, not a linear-algebra
  * library call.
  *
  * Determinism end to end: ratings ride the DECIMAL(18,4) mean route;
  * per-solve moments are 9-dp-rounded products summed in DECIMAL(28,9)
  * (order-independent); the closed-form solve and the RMSE closing
  * algebra are fixed-parenthesization double expressions; item factors
  * INITIALIZE from the md5 fold of the item key itself (both engines
  * compute the same v₀ from the same string — no RNG, no literal
  * tables). Reports global RMSE after every half-step — the
  * convergence curve an ALS job is judged by.
  *
  * Shape at 100 TB: each half-step is ONE equi-join (ratings × the
  * k-column factor side) + ONE hash-agg with map-side partials — the
  * same data movement as production ALS's block variant; factors are
  * k doubles per entity (narrow frames, broadcast-joinable on the
  * small side); localCheckpoint truncates the per-step lineage (the
  * BPE merge-loop discipline). Rank grows by adding moment columns
  * (k² + k per solve), not passes. */
object AlsFactor {
  val Lambda = 0.1
  val Iters = 2

  private val d9 = (c: Column) =>
    sum(round(c, 9).cast(DecimalType(28, 9))).cast(DoubleType)

  /** deterministic init factor component from the item key string. */
  private def initC(key: Column, comp: String): Column =
    hex32C(md5(concat(lit("alsV#"), key, lit(s"#$comp")))) /
      lit(2147483648.0) - lit(1.0)

  /** closed-form 2×2 ridge solve columns from moment columns. */
  private def solveCols: (Column, Column) = {
    val det = (col("saa") + Lambda) * (col("sbb") + Lambda) -
      col("sab") * col("sab")
    (((col("sbb") + Lambda) * col("sra") - col("sab") * col("srb")) / det,
      ((col("saa") + Lambda) * col("srb") - col("sab") * col("sra")) / det)
  }

  def alsFactorize(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.load(s, dir, "events")
      .groupBy("user_id", "event_type")
      .agg((sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType) /
        count(lit(1))).as("r"))
      .localCheckpoint() // every half-step and every RMSE joins it
    var v = r.select("event_type").distinct()
      .select(col("event_type"), initC(col("event_type"), "a").as("fa"),
        initC(col("event_type"), "b").as("fb"))
      .localCheckpoint()
    var u: DataFrame = null
    var reports = Vector.empty[DataFrame]
    def rmse(step: Int, side: String): DataFrame = {
      val pred = col("ua") * col("fa") + col("ub") * col("fb")
      val e = col("r") - pred
      r.join(u, Seq("user_id")).join(v, Seq("event_type"))
        .agg(count(lit(1)).as("n"), d9(e * e).as("sse"))
        .select(lit(step).cast(IntegerType).as("step"),
          lit(side).as("side"), col("n"),
          round(sqrt(col("sse") / col("n")), 6).as("rmse"))
        .localCheckpoint()
    }
    for (it <- 1 to Iters) {
      val (ua, ub) = solveCols
      u = r.join(v, Seq("event_type"))
        .groupBy("user_id")
        .agg(d9(col("fa") * col("fa")).as("saa"),
          d9(col("fa") * col("fb")).as("sab"),
          d9(col("fb") * col("fb")).as("sbb"),
          d9(col("r") * col("fa")).as("sra"),
          d9(col("r") * col("fb")).as("srb"))
        .select(col("user_id"), ua.as("ua"), ub.as("ub"))
        .localCheckpoint()
      reports :+= rmse(it, "U")
      val (va, vb) = solveCols
      v = r.join(u, Seq("user_id"))
        .groupBy("event_type")
        .agg(d9(col("ua") * col("ua")).as("saa"),
          d9(col("ua") * col("ub")).as("sab"),
          d9(col("ub") * col("ub")).as("sbb"),
          d9(col("r") * col("ua")).as("sra"),
          d9(col("r") * col("ub")).as("srb"))
        .select(col("event_type"), va.as("fa"), vb.as("fb"))
        .localCheckpoint()
      reports :+= rmse(it, "V")
    }
    reports.reduce(_ unionByName _).orderBy("step", "side")
  }

  // ---------------------------------------------------------------- oracle
  private def d9S(e: String): String =
    s"CAST(SUM(CAST(round($e, 9) AS DECIMAL(28,9))) AS DOUBLE)"
  private def solveS(num1: String, num2: String): (String, String) = {
    val det = s"((saa + $Lambda) * (sbb + $Lambda) - sab * sab)"
    (s"(((sbb + $Lambda) * $num1 - sab * $num2) / $det)",
      s"(((saa + $Lambda) * $num2 - sab * $num1) / $det)")
  }

  /** The registry queries this module declares (see [[graft.Query]]). */
  def queries: Seq[Query] = Seq(
    // ALS matrix factorization, relationally: closed-form 2x2 ridge
    // solves as groupBy aggregates, md5-seeded init — bit-exact twin
    // of the MLlib flagship workload
    Query("q332_als_factorize", (s, d) => alsFactorize(s, d), {
      val (uaS, ubS) = solveS("sra", "srb")
      val (vaS, vbS) = solveS("sra", "srb")
      def uStep(i: Int): String = {
        val vPrev = if (i == 1) "v0" else s"v${i - 1}"
        s"""mu$i AS (SELECT r.user_id,
           |    ${d9S("v.fa * v.fa")} AS saa, ${d9S("v.fa * v.fb")} AS sab,
           |    ${d9S("v.fb * v.fb")} AS sbb, ${d9S("r.r * v.fa")} AS sra,
           |    ${d9S("r.r * v.fb")} AS srb
           |  FROM r JOIN $vPrev v USING (event_type) GROUP BY r.user_id),
           |u$i AS MATERIALIZED (SELECT user_id, $uaS AS ua, $ubS AS ub
           |  FROM mu$i),
           |eu$i AS (SELECT CAST($i AS INTEGER) AS step, 'U' AS side,
           |    COUNT(*) AS n,
           |    round(sqrt(${d9S("(r.r - (u.ua * v.fa + u.ub * v.fb)) * " +
              "(r.r - (u.ua * v.fa + u.ub * v.fb))")} / COUNT(*)), 6)
           |      AS rmse
           |  FROM r JOIN u$i u USING (user_id)
           |  JOIN $vPrev v USING (event_type))""".stripMargin
      }
      def vStep(i: Int): String =
        s"""mv$i AS (SELECT r.event_type,
           |    ${d9S("u.ua * u.ua")} AS saa, ${d9S("u.ua * u.ub")} AS sab,
           |    ${d9S("u.ub * u.ub")} AS sbb, ${d9S("r.r * u.ua")} AS sra,
           |    ${d9S("r.r * u.ub")} AS srb
           |  FROM r JOIN u$i u USING (user_id) GROUP BY r.event_type),
           |v$i AS MATERIALIZED (SELECT event_type, $vaS AS fa, $vbS AS fb
           |  FROM mv$i),
           |ev$i AS (SELECT CAST($i AS INTEGER) AS step, 'V' AS side,
           |    COUNT(*) AS n,
           |    round(sqrt(${d9S("(r.r - (u.ua * v.fa + u.ub * v.fb)) * " +
              "(r.r - (u.ua * v.fa + u.ub * v.fb))")} / COUNT(*)), 6)
           |      AS rmse
           |  FROM r JOIN u$i u USING (user_id)
           |  JOIN v$i v USING (event_type))""".stripMargin
      val steps = (1 to Iters).map(i => uStep(i) + ",\n" + vStep(i))
        .mkString(",\n")
      val arms = (1 to Iters)
        .flatMap(i => Seq(s"SELECT * FROM eu$i", s"SELECT * FROM ev$i"))
        .mkString("\nUNION ALL\n")
      s"""WITH r AS MATERIALIZED (SELECT user_id, event_type,
         |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
         |      AS r
         |  FROM events GROUP BY user_id, event_type),
         |v0 AS MATERIALIZED (SELECT event_type,
         |    ${hex32S("md5('alsV#' || event_type || '#a')")}
         |      / 2147483648.0 - 1.0 AS fa,
         |    ${hex32S("md5('alsV#' || event_type || '#b')")}
         |      / 2147483648.0 - 1.0 AS fb
         |  FROM (SELECT DISTINCT event_type FROM events)),
         |$steps
         |$arms
         |ORDER BY step, side""".stripMargin
    }),
  )
}
