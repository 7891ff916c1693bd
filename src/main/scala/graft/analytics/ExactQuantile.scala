package graft.analytics

import graft.Query

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** q401: EXACT distributed quantiles WITHOUT a sort — iterative
  * monotone-histogram selection (the Munro–Paterson / multi-pass
  * selection family, "Selection and Sorting with Limited Storage",
  * TCS 1980). Per return flag, the EXACT p25/p50/p75/p90/p99 of
  * l_extendedprice — the element at rank ceil(q·n), bit-identical to the
  * oracle's ORDER BY + row_number selection — computed with ZERO
  * row-grain shuffle:
  *
  *   - level-d bins come from ONE GLOBAL per-flag function,
  *     b_d(x) = clamp(floor((x − lo_f) / (range_f / B^d)), 0, B^d − 1):
  *     every row is in [lo_f, hi_f] (the flag's own min/max), so the
  *     quotient is ≤ B^d ≤ 256⁷ — ANSI-safe longs, O(depth) arithmetic
  *     per row, NO per-state expression work (the ×100 ramp caught two
  *     earlier designs whose per-row cost scaled with |states|: a
  *     15-wide explode at 3.3 µs/row, then a 45-leaf when-cascade at
  *     0.7 µs/row — this one pays the plain-scan rate);
  *   - each (flag, ptile) selection state is a PATH of chosen bin
  *     values (c₁…c_d); the active set is selected DECLARATIVELY by a
  *     broadcast LEFT SEMI join of the computed (f, b₁…b_d) tuple
  *     against the ≤15 live paths — one hash probe per row;
  *   - one scan per level serves all states: groupBy(f, b₁…b_d, b_{d+1})
  *     over the semi-joined rows collects ≤ paths×B cells (the only
  *     exchange, fixed-size), and the driver walks each state's
  *     cumulative counts to the bin holding its remaining rank. The bin
  *     functions are MONOTONE in x, so rank selection is exact even
  *     when IEEE rounding places a boundary value one bin off — and
  *     consecutive levels need no nesting consistency, because each
  *     level's walk happens strictly within the previous path's active
  *     set (membership is recomputed bins, never float range
  *     comparisons — the off-by-an-ulp trap in recursive selection);
  *   - a state exits to the EXACT phase when its active count ≤ 4096
  *     or at depth 7 (width < range/256⁷ — a handful of distinct
  *     doubles even when duplicate mass keeps the COUNT large); the
  *     exact phase semi-joins the pending paths once more and
  *     groupBy(path, value).counts — a bounded driver collect,
  *     asserted ≤ 262144 rows — then walks to the remaining rank.
  *
  * Shape at 100 TB: 10¹² rows/flag resolves in ~4 levels (256-way
  * shrink: 4·10⁹ → 1.5·10⁷ → 6·10⁴ → ≤4096) + one exact pass — ~6
  * column scans at plain-scan cost, driver state O(states×B), no
  * row-grain exchange anywhere. Contrast q08's approxQuantile (one
  * pass, approximate) and [[RangeIndex]] (one range shuffle,
  * row-grain): this is the exact-answer path that survives when the
  * column doesn't fit a shuffle. Reference ground: us-accidents
  * computes medians via approxQuantile (spark/data_cleaning.py:67) —
  * this is the exact twin.
  */
object ExactQuantile {

  private val B = 256          // bins per histogram level
  private val ExactAt = 4096L  // active count at which the exact phase runs
  private val MaxDepth = 7     // 256^7 ≈ 7.2e16 keeps bin ids in ANSI longs
  private val Ptiles: Seq[(String, java.math.BigDecimal)] =
    Seq("p25" -> "0.25", "p50" -> "0.50", "p75" -> "0.75",
        "p90" -> "0.90", "p99" -> "0.99")
      .map { case (l, q) => l -> new java.math.BigDecimal(q) }

  /** One selection state: the rank-`rank` smallest element among the
    * active multiset (rows of `flag` whose level-i bin equals path(i-1)
    * for every refined level). */
  private final case class State(flag: String, ptile: String, rank: Long,
                                 active: Long, path: List[Long],
                                 resolved: Option[Double])

  def exactQuantiles(s: SparkSession, dir: String): DataFrame = {
    val df = graft.sources.Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag").as("f"),
        col("l_extendedprice").cast(DoubleType).as("x"))
    select(s, df, Ptiles).toDF("l_returnflag", "ptile", "value")
      .orderBy("l_returnflag", "ptile")
  }

  /** The selection core over any (f: string, x: double) frame — split out
    * so the spec can drive adversarial fixtures (duplicate mass that
    * never drops below the exact-phase count, sub-ulp value pairs, tiny
    * groups) that lineitem's smooth distribution never produces. */
  private[graft] def select(s: SparkSession, df: DataFrame,
                            ptiles: Seq[(String, java.math.BigDecimal)])
      : DataFrame = {
    import s.implicits._
    // pass 0: per-flag count/min/max (O(#flags) rows on the driver)
    val stats = df.groupBy("f")
      .agg(count(lit(1)).as("n"), min("x").as("lo"), max("x").as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3)))
    val rngOf = stats.map(t => t._1 -> (t._4 - t._3)).toMap
    // tiny per-flag dim, broadcast onto every pass: turns the bin
    // arithmetic into plain column math with no per-flag branching.
    // A zero range (constant flag — already resolved) is stored as 1.0
    // so its rows never divide by zero inside another flag's pass; its
    // bins are computed but never consulted.
    val dim = broadcast(s.createDataset(
      stats.toSeq.map(t =>
        (t._1, t._3, if (t._4 - t._3 > 0) t._4 - t._3 else 1.0)))
      .toDF("f", "lo", "rng"))

    /** Global level-d bin: monotone in x, ≤ B^d − 1, ANSI-safe because
      * every row of the flag is inside [lo, lo + rng]. */
    def binAt(d: Int): Column = {
      val cells = math.pow(B.toDouble, d.toDouble) // ≤ 256^7, exact in double
      least(greatest(floor((col("x") - col("lo")) / (col("rng") / lit(cells))),
        lit(0L)), lit(cells.toLong - 1))
    }
    /** (f, x) plus computed bins b1..bd, per-flag params joined in. */
    def projected(d: Int): DataFrame =
      df.join(dim, "f").select(col("f") +: col("x") +:
        (1 to d).map(i => binAt(i).as(s"b$i")): _*)
    def pathFrame(paths: Seq[(String, List[Long])], d: Int): DataFrame = {
      val schema = StructType(StructField("f", StringType) +:
        (1 to d).map(i => StructField(s"b$i", LongType)))
      broadcast(s.createDataFrame(
        paths.map { case (fl, p) =>
          Row.fromSeq(fl +: p.map(Long.box)): Row
        }.asJava, schema))
    }

    var states: Seq[State] = for {
      (flag, n, lo, hi) <- stats.toSeq if n > 0
      (label, q)        <- ptiles
    } yield {
      val rank = q.multiply(new java.math.BigDecimal(n))
        .setScale(0, java.math.RoundingMode.CEILING).longValueExact().max(1L)
      State(flag, label, rank, n, Nil,
        resolved = if (lo == hi) Some(lo) else None)
    }

    // histogram levels: all live states share depth d = |path|; a state
    // whose flag range is too small to subdivide at the next level
    // (rng/B^(d+1) underflows to 0) exits to the exact phase, where its
    // path holds few distinct doubles
    def refinable(st: State): Boolean =
      st.resolved.isEmpty && st.active > ExactAt &&
        rngOf(st.flag) / math.pow(B.toDouble, (st.path.size + 1).toDouble) > 0
    var depth = 0
    while (depth < MaxDepth && states.exists(refinable)) {
      val live = states.zipWithIndex.filter { case (st, _) => refinable(st) }
      val paths = live.map(_._1).map(st => (st.flag, st.path)).distinct
      val joinCols = "f" +: (1 to depth).map(i => s"b$i")
      val active =
        if (depth == 0) projected(1)
        else projected(depth + 1)
          .join(pathFrame(paths, depth), joinCols, "left_semi")
      val keyCols = (1 to depth + 1).map(i => col(s"b$i"))
      val hist = active
        .groupBy(col("f") +: keyCols: _*).agg(count(lit(1)).as("c"))
        .collect().map { r =>
          val path = (1 to depth).map(i => r.getLong(r.fieldIndex(s"b$i")))
            .toList
          ((r.getString(0), path),
            (r.getLong(r.fieldIndex(s"b${depth + 1}")),
              r.getLong(r.fieldIndex("c"))))
        }.groupBy(_._1)
      val updated = live.map { case (st, idx) =>
        val bins = hist.getOrElse((st.flag, st.path), Array.empty)
          .map(_._2).sortBy(_._1)
        // walk cumulative counts to the bin holding the target rank
        var rem = st.rank; var chosen = -1L; var inBin = 0L
        val it = bins.iterator
        while (chosen < 0 && it.hasNext) {
          val (b, c) = it.next()
          if (rem <= c) { chosen = b; inBin = c } else rem -= c
        }
        require(chosen >= 0,
          s"q401: rank ${st.rank} not reached for ${st.flag}/${st.ptile}")
        idx -> st.copy(rank = rem, active = inBin,
          path = st.path :+ chosen)
      }.toMap
      states = states.zipWithIndex.map { case (st, i) =>
        updated.getOrElse(i, st) }
      depth += 1
      if (sys.env.contains("GRAFT_Q401_DEBUG"))
        System.err.println(s"[q401] depth=$depth paths=${paths.size} " +
          s"actives=${states.map(_.active).mkString(",")}")
    }

    // exact phase: per depth cohort (states can exit at different
    // depths), ONE semi-joined scan collects the surviving candidate
    // multisets (distinct value + count per path)
    val pending = states.zipWithIndex.filter(_._1.resolved.isEmpty)
    val resolvedTail: Map[Int, Double] = pending.groupBy(_._1.path.size)
      .flatMap { case (d, cohort) =>
        val paths = cohort.map(_._1).map(st => (st.flag, st.path)).distinct
        val joinCols = "f" +: (1 to d).map(i => s"b$i")
        val active =
          if (d == 0) projected(0)
          else projected(d).join(pathFrame(paths, d), joinCols, "left_semi")
        val keyCols = (1 to d).map(i => col(s"b$i"))
        val rows = active
          .groupBy(col("f") +: keyCols :+ col("x"): _*)
          .agg(count(lit(1)).as("c"))
          .collect()
        require(rows.length <= 262144,
          s"q401: exact phase collected ${rows.length} rows — selection " +
            "did not converge (bounded-collect contract)")
        val byPath = rows.map { r =>
          val path = (1 to d).map(i => r.getLong(r.fieldIndex(s"b$i")))
            .toList
          ((r.getString(0), path),
            (r.getDouble(r.fieldIndex("x")), r.getLong(r.fieldIndex("c"))))
        }.groupBy(_._1)
        cohort.map { case (st, idx) =>
          val vals = byPath.getOrElse((st.flag, st.path), Array.empty)
            .map(_._2).sortBy(_._1)
          var rem = st.rank; var ans = Double.NaN; var found = false
          val it = vals.iterator
          while (!found && it.hasNext) {
            val (v, c) = it.next()
            if (rem <= c) { ans = v; found = true } else rem -= c
          }
          require(found,
            s"q401: exact walk exhausted for ${st.flag}/${st.ptile}")
          idx -> ans
        }
      }

    val out = states.zipWithIndex.map { case (st, i) =>
      (st.flag, st.ptile,
        st.resolved.getOrElse(resolvedTail(i)))
    }
    s.createDataset(out).toDF("f", "ptile", "value")
  }

  /** The registry queries this module declares (see [[graft.Query]]).
    * q401's oracle is the sort-based selection this operator refuses to
    * run at scale — row_number per flag, pick rank ceil(q·n). DECIMAL
    * literals keep ceil(q·n) integer-exact on both engines (0.9/0.99 are not
    * binary-representable; the engine side uses BigDecimal CEILING). */
  def queries: Seq[Query] = Seq(
    // exact quantiles with NO sort and NO row shuffle: iterative
    // monotone-histogram selection, one scan per 256-way level
    Query("q401_exact_quantiles", exactQuantiles _,
      """WITH s AS (
        |  SELECT l_returnflag, l_extendedprice AS x,
        |    row_number() OVER (PARTITION BY l_returnflag
        |                       ORDER BY l_extendedprice) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |q(ptile, f) AS (VALUES
        |  ('p25', CAST(0.25 AS DECIMAL(4,2))), ('p50', 0.50),
        |  ('p75', 0.75), ('p90', 0.90), ('p99', 0.99))
        |SELECT l_returnflag, ptile, x AS value
        |FROM s JOIN q ON rn = CAST(CEIL(f * n) AS BIGINT)
        |ORDER BY l_returnflag, ptile""".stripMargin),
  )
}
