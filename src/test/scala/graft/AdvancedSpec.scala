package graft

import graft.analytics.Advanced
import org.apache.spark.sql.functions._

/** Invariant checks for the advanced relational surface (q46-q56). The
  * DuckDB oracle is the exactness gate; these assert self-contained
  * properties that hold at any scale factor. */
class AdvancedSpec extends SparkSpec {

  test("rollup: detail counts sum to subtotals, subtotals to grand total") {
    val rows = Advanced.rollupAgg(spark, sfDir).collect()
    val total = rows.filter(_.getAs[Int]("lvl") === 3)
    assert(total.length === 1)
    val detailSum = rows.filter(_.getAs[Int]("lvl") === 0)
      .map(_.getAs[Long]("n")).sum
    assert(detailSum === total.head.getAs[Long]("n"))
    val subSum = rows.filter(_.getAs[Int]("lvl") === 1)
      .map(_.getAs[Long]("n")).sum
    assert(subSum === total.head.getAs[Long]("n"))
  }

  test("cube emits all four grouping levels") {
    val lvls = Advanced.cubeAgg(spark, sfDir).select("lvl").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(lvls === Set(0, 1, 2, 3))
  }

  test("asof join: one row per click; gaps non-negative or null") {
    val df = Advanced.asofJoin(spark, sfDir)
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    assert(df.count() === ev.filter(col("event_type") === "click").count())
    assert(df.filter(col("asof_gap_s") < 0).count() === 0)
  }

  test("range join matches the naive inequality join exactly") {
    val bucketed = Advanced.rangeJoinBucketed(spark, sfDir)
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val a = ev.select(col("user_id"), col("event_id").as("event_a"), col("us").as("ua"))
    val b = ev.select(col("user_id"), col("event_id").as("event_b"), col("us").as("ub"))
    val naive = a.join(b, Seq("user_id"))
      .filter(col("event_a") < col("event_b") &&
        abs(col("ua") - col("ub")) <= 3600L * 1000000L)
    assert(bucketed.count() === naive.count())
    assert(bucketed.join(naive, Seq("user_id", "event_a", "event_b"), "left_anti")
      .count() === 0)
  }

  test("sessionize batch: session event counts cover every event; gaps split") {
    val sess = Advanced.sessionizeBatch(spark, sfDir)
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    assert(sess.agg(sum("n_events")).first().getLong(0) === ev.count())
    // every session spans <= its events' range and starts at idx 1 per user
    assert(sess.filter(col("session_start") > col("session_end")).count() === 0)
    assert(sess.groupBy("user_id").agg(min("session_idx").as("m"))
      .filter(col("m") =!= 1).count() === 0)
  }

  test("two-pass ranking equals Spark's own window functions on n%4!=0 and degenerate n") {
    // semantic oracle: the single-partition window implementation Spark
    // ships — exercises the oversized-bucket branch (r = n % k > 0) and
    // the degenerate n <= k branch that the sf fixtures (n % 4 == 0) miss
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(2, 3, 7, 13, 1001)) {
      val base = spark.range(1, n + 1)
        .select(col("id").as("o_orderkey"),
          // non-monotone values so rank order != key order
          (col("id") * 37 % 101).cast("double").as("o_totalprice"))
      val got = Advanced.ntileRanksOf(base, 4)
        .collect().map(r => (r.getLong(0), r.getInt(2), r.getDouble(3),
          r.getDouble(4))).sortBy(_._1)
      val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
      val want = base
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", round(percent_rank().over(w), 6))
        .withColumn("cume", round(cume_dist().over(w), 6))
        .collect().map(r => (r.getLong(0), r.getInt(2), r.getDouble(3),
          r.getDouble(4))).sortBy(_._1)
      assert(got.toSeq === want.toSeq, s"n=$n")
    }
  }

  test("ntile quartiles are balanced within one row") {
    val sizes = Advanced.ntileRanks(spark, sfDir)
      .groupBy("quartile").count().collect().map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1)
  }

  test("aboveCustomerAvg keeps only strictly-above orders") {
    val df = Advanced.aboveCustomerAvg(spark, sfDir)
    assert(df.filter(col("o_totalprice") <= col("cust_avg")).count() === 0)
  }

  test("firstLastWindow: one row per ordering customer, first<=last date") {
    val df = Advanced.firstLastWindow(spark, sfDir)
    val o = graft.sources.Tables.load(spark, sfDir, "orders")
    assert(df.count() === o.select("o_custkey").distinct().count())
  }

  test("zscoreOutliers guards: singleton group NULL std, constant group zero outliers") {
    import spark.implicits._
    // the fixture has no singleton or constant groups — exercise the
    // guards the oracle can't: n=1 must yield NULL std (not a crash or an
    // engine-dependent inf), constant groups std=0 must count 0 outliers
    val df = Seq(
      ("single", 5.0),
      ("const", 2.0), ("const", 2.0), ("const", 2.0),
      ("normal", 1.0), ("normal", 2.0), ("normal", 3.0), ("normal", 100.0))
      .toDF("event_type", "value")
    val out = Advanced.zscoreOutliersOf(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("single").isNullAt(out("single").fieldIndex("std")))
    assert(out("single").getLong(out("single").fieldIndex("n_outliers")) === 0L)
    assert(out("const").getDouble(out("const").fieldIndex("std")) === 0.0)
    assert(out("const").getLong(out("const").fieldIndex("n_outliers")) === 0L)
    assert(out("normal").getLong(out("normal").fieldIndex("n")) === 4L)
  }

  test("groupedCorr matches Spark's corr/regression builtins within fp tolerance") {
    // the oracle proves bit-exactness of the moment form across engines;
    // this proves it computes the SAME statistic as the reference
    // implementations (corr, covar_pop/var_pop slope) on the full fixture
    val got = Advanced.groupedCorr(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val ref = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        (covar_pop(col("l_quantity"), col("l_extendedprice"))
          / var_pop(col("l_quantity"))).as("m"),
        avg(col("l_extendedprice")).as("ybar"), avg(col("l_quantity")).as("xbar"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet === ref.keySet)
    for ((k, g) <- got) {
      val r = ref(k)
      def rel(a: Double, b: Double) = math.abs(a - b) / math.max(1e-12, math.abs(b))
      assert(rel(g.getAs[Double]("corr_qty_price"), r.getAs[Double]("c")) < 1e-9, k)
      assert(rel(g.getAs[Double]("slope"), r.getAs[Double]("m")) < 1e-9, k)
      val intRef = r.getAs[Double]("ybar") - r.getAs[Double]("m") * r.getAs[Double]("xbar")
      assert(rel(g.getAs[Double]("intercept"), intRef) < 1e-9, k)
    }
  }

  test("groupedMoments matches Spark's skewness/kurtosis builtins within fp tolerance") {
    val got = Advanced.groupedMoments(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val ref = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(skewness(col("l_quantity")).as("sq"),
        kurtosis(col("l_quantity")).as("kq"),
        skewness(col("l_extendedprice")).as("sp"),
        kurtosis(col("l_extendedprice")).as("kp"),
        avg(col("l_quantity")).as("mq"), avg(col("l_extendedprice")).as("mp"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet === ref.keySet)
    for ((k, g) <- got) {
      val r = ref(k)
      def rel(a: Double, b: Double) = math.abs(a - b) / math.max(1e-12, math.abs(b))
      // builtins accumulate running central moments in doubles — compare
      // at 1e-6, looser than q112's 1e-9 (4th powers amplify their drift)
      assert(rel(g.getAs[Double]("mean_qty"), r.getAs[Double]("mq")) < 1e-9, k)
      assert(rel(g.getAs[Double]("mean_price"), r.getAs[Double]("mp")) < 1e-9, k)
      assert(rel(g.getAs[Double]("skew_qty"), r.getAs[Double]("sq")) < 1e-6, k)
      assert(rel(g.getAs[Double]("kurt_qty"), r.getAs[Double]("kq")) < 1e-6, k)
      assert(rel(g.getAs[Double]("skew_price"), r.getAs[Double]("sp")) < 1e-6, k)
      assert(rel(g.getAs[Double]("kurt_price"), r.getAs[Double]("kp")) < 1e-6, k)
    }
  }

  test("distributionRanks: pr/cd in range, cd>=pr, max cd is 1 per month") {
    val df = Advanced.distributionRanks(spark, sfDir).cache()
    try {
      assert(df.filter(col("pr") < 0 || col("pr") > 1 ||
        col("cd") <= 0 || col("cd") > 1).count() === 0)
      // cume_dist counts rows <= current (ties included); percent_rank
      // excludes the current row's tie block — cd is always the larger
      assert(df.filter(col("cd") < col("pr")).count() === 0)
      val perMonth = df.groupBy("om").agg(max("cd").as("mx")).collect()
      assert(perMonth.nonEmpty && perMonth.forall(_.getDouble(1) === 1.0))
    } finally df.unpersist()
  }

  test("scd2History: one current row per key, contiguous validity ranges") {
    val df = Advanced.scd2History(spark, sfDir).cache()
    try {
      val orders = graft.sources.Tables.load(spark, sfDir, "orders")
      // exactly one open (is_current=1, valid_to NULL) version per key
      val cur = df.filter(col("is_current") === 1)
      assert(cur.count() === orders.count())
      assert(cur.filter(col("valid_to").isNotNull).count() === 0)
      // ranges are contiguous: every closed row's valid_to is the next
      // row's valid_from (lead over the same ordering reproduces it)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderkey").orderBy("valid_from")
      val broken = df.withColumn("nxt", lead(col("valid_from"), 1).over(w))
        .filter(col("valid_to").isNotNull && col("valid_to") =!= col("nxt"))
      assert(broken.count() === 0)
      // keys with three generations: %20 keys carry versions 0,1,2
      val v20 = df.filter(col("o_orderkey") % 20 === 0)
        .groupBy("o_orderkey").count()
      assert(v20.filter(col("count") =!= 3).count() === 0)
    } finally df.unpersist()
  }

  test("transitionMatrix: per-source probabilities sum to 1; counts cover n-|users|") {
    val df = Advanced.transitionMatrix(spark, sfDir).cache()
    try {
      val sums = df.groupBy("src").agg(sum("p").as("sp")).collect()
      assert(sums.nonEmpty &&
        sums.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-9))
      // every event except each user's last contributes one transition
      val ev = graft.sources.Tables.load(spark, sfDir, "events")
      val expected = ev.count() -
        ev.select("user_id").distinct().count()
      assert(df.agg(sum("n")).head.getLong(0) === expected)
    } finally df.unpersist()
  }

  test("activityStreaks: months add up, max streak bounded by month span") {
    val df = Advanced.activityStreaks(spark, sfDir).cache()
    try {
      val orders = graft.sources.Tables.load(spark, sfDir, "orders")
      val distinctMonths = orders.select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"))
        .distinct().count()
      assert(df.agg(sum("n_months")).head.getLong(0) === distinctMonths)
      assert(df.filter(col("max_streak") > col("n_months") ||
        col("n_streaks") > col("n_months")).count() === 0)
    } finally df.unpersist()
  }

  test("bitAggs: AND <= OR masks, bool aggs match filter counts") {
    val rows = Advanced.bitAggs(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (pAnd, pOr) = (r.getAs[Long]("pk_and"), r.getAs[Long]("pk_or"))
      // every bit set in the AND must be set in the OR
      assert((pAnd & pOr) === pAnd)
      assert(r.getAs[Int]("all_pos_qty") === 1) // quantities are positive
    }
  }

  test("rollingMedian: frame medians bounded by trailing extremes; singleton frame = own price") {
    val df = Advanced.rollingMedian(spark, sfDir).cache()
    try {
      val orders = graft.sources.Tables.load(spark, sfDir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey").rowsBetween(-4, 0)
      val joined = df.join(orders, Seq("o_custkey", "o_orderkey"))
        .withColumn("lo", min("o_totalprice").over(w))
        .withColumn("hi", max("o_totalprice").over(w))
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")))
      // median stays inside the frame envelope (cents rounding < 0.01)
      assert(joined.filter(col("med5") < col("lo") - 0.01 ||
        col("med5") > col("hi") + 0.01).count() === 0)
      // a frame of one IS its row: med5 == o_totalprice exactly (both are
      // the same 2-decimal value routed through exact cents)
      assert(joined.filter(col("rn") === 1 &&
        abs(col("med5") - col("o_totalprice")) > 1e-9).count() === 0)
    } finally df.unpersist()
  }

  test("existsChurn: every kept customer has 1995 orders, none has 1996; plan is join-based") {
    val df = graft.sql.Catalog.existsChurn(spark, sfDir).cache()
    try {
      val orders = graft.sources.Tables.load(spark, sfDir, "orders")
      val y95 = orders.filter(year(col("o_orderdate")) === 1995)
        .select(col("o_custkey")).distinct()
      val y96 = orders.filter(year(col("o_orderdate")) === 1996)
        .select(col("o_custkey")).distinct()
      assert(df.join(y95, df("c_custkey") === y95("o_custkey"), "left_anti")
        .count() === 0)
      assert(df.join(y96, df("c_custkey") === y96("o_custkey"), "left_semi")
        .count() === 0)
      assert(df.filter(col("n_1995") <= 0).count() === 0)
      // the quantified subqueries must decorrelate to hash joins — a
      // nested-loop or cartesian fallback would be a per-row probe at scale
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        "EXISTS subquery fell back to a cartesian product")
    } finally df.unpersist()
  }

  test("dateFuncs: calendar invariants hold on every row") {
    val df = Advanced.dateFuncs(spark, sfDir).cache()
    try {
      assert(df.filter(col("doy") < 1 || col("doy") > 366).count() === 0)
      assert(df.filter(col("qtr") < 1 || col("qtr") > 4).count() === 0)
      assert(df.filter(col("isoweek") < 1 || col("isoweek") > 53).count() === 0)
      assert(df.filter(col("days_since") < 0).count() === 0)
      // add_months lands exactly one quarter after the quarter start
      assert(df.filter(months_between(col("plus3m"), col("eom")) > 3)
        .count() === 0)
      // eom is the last day of its own month: next day is month start
      assert(df.filter(dayofmonth(date_add(col("eom"), 1)) =!= 1)
        .count() === 0)
    } finally df.unpersist()
  }

  test("stringAgg: roster is sorted, complete, and shuffle-order independent") {
    val rows = Advanced.stringAgg(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val roster = r.getAs[String]("roster").split(",").toSeq
      assert(roster.length === r.getAs[Long]("n_suppliers"))
      assert(roster === roster.sorted)
    }
    // repartitioned input must yield the identical strings
    val again = Advanced.stringAgg(spark, sfDir)
    val perturbed = graft.sources.Tables.load(spark, sfDir, "supplier")
      .repartition(7)
      .groupBy(col("s_nationkey"))
      .agg(array_join(array_sort(collect_list(col("s_name"))), ",").as("roster"))
    assert(again.select("s_nationkey", "roster")
      .except(perturbed.select("s_nationkey", "roster")).count() === 0)
  }

  test("stratifiedTake: exact 1-in-10 per stratum, reproducible") {
    val df = Advanced.stratifiedTake(spark, sfDir).cache()
    try {
      val perType = graft.sources.Tables.load(spark, sfDir, "events")
        .groupBy("event_type").count()
      val kept = df.groupBy("event_type").count()
        .withColumnRenamed("count", "k")
      val joined = perType.join(kept, "event_type")
      // ceil(n/10) rows kept per stratum — rank 1, 11, 21, ...
      assert(joined.filter(col("k") =!= ceil(col("count") / 10.0)).count() === 0)
      // re-derivation yields the identical id set
      assert(df.select("event_id")
        .except(Advanced.stratifiedTake(spark, sfDir).select("event_id"))
        .count() === 0)
    } finally df.unpersist()
  }

  test("scd2PointLookup: every lineitem probe matches exactly one history row") {
    val df = Advanced.scd2PointLookup(spark, sfDir)
    val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
    // ranges partition [0,inf): matched rows == probe rows, no dup/miss
    assert(df.agg(sum("n")).head.getLong(0) === li.count())
    // non-%10 orders only ever see the base status; version coords 0..2
    assert(df.filter(col("v") < 0 || col("v") > 2).count() === 0)
  }

  test("unionByNameEvolution: null-fill lands on exactly the v1 rows") {
    val rows = Advanced.unionByNameEvolution(spark, sfDir).collect()
    val bySrc = rows.map(r => r.getAs[String]("src") -> r).toMap
    val orders = graft.sources.Tables.load(spark, sfDir, "orders").count()
    val lines = graft.sources.Tables.load(spark, sfDir, "lineitem").count()
    assert(bySrc("order").getAs[Long]("n") === orders)
    assert(bySrc("order").getAs[Long]("n_disc") === 0L) // all null-filled
    assert(bySrc("line").getAs[Long]("n") === lines)
    assert(bySrc("line").getAs[Long]("n_disc") === lines)
  }

  test("mergeWithDeletes: tombstones remove keys, updates win, inserts survive") {
    val df = Advanced.mergeWithDeletes(spark, sfDir).cache()
    try {
      val o = graft.sources.Tables.load(spark, sfDir, "orders")
      val deleted = o.filter(col("o_orderkey") % 50 === 0).count()
      assert(df.count() === o.count() - deleted)
      assert(df.filter(col("o_orderkey") % 50 === 0).count() === 0)
      assert(df.filter(col("o_orderstatus") === "D").count() === 0)
      // updated-not-deleted keys carry the update generation
      val updSurvivors = df.filter(col("o_orderkey") % 10 === 0)
      assert(updSurvivors.filter(col("o_orderstatus") =!= "U").count() === 0)
    } finally df.unpersist()
  }

  test("dqAudit matches independently computed constraint counts") {
    val r = Advanced.dqAudit(spark, sfDir).collect().head
    val o = graft.sources.Tables.load(spark, sfDir, "orders")
    val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
    assert(r.getAs[Long]("n_orders") === o.count())
    assert(r.getAs[Long]("dup_orderkeys") ===
      o.groupBy("o_orderkey").count().filter(col("count") > 1).count())
    // independent formulation: orphan keys via set-difference, then the
    // row count of lineitems carrying one of those keys
    val orphanKeys = li.select(col("l_orderkey"))
      .except(o.select(col("o_orderkey").as("l_orderkey")))
    assert(r.getAs[Long]("orphan_lineitems") ===
      li.join(orphanKeys, Seq("l_orderkey"), "left_semi").count())
    assert(r.getAs[Long]("nonpos_qty") ===
      li.filter(col("l_quantity") <= 0).count())
  }

  test("argExtremes: packed-key tie-break picks the max-custkey row on balance ties") {
    // two rows tie on balance in nation 0; custkey must break the tie
    // identically to the oracle's arg_max: highest custkey wins for max,
    // LOWEST custkey wins for min (packed key is monotone in both)
    import spark.implicits._
    val two = Seq((0, 10L, 55.55), (0, 99L, 55.55), (0, 7L, 1.0))
      .toDF("c_nationkey", "c_custkey", "c_acctbal")
    val dir = tmp()
    two.write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val r = Advanced.argExtremes(spark, dir).collect().head
    assert(r.getAs[Long]("richest_cust") === 99L)
    assert(r.getAs[Long]("poorest_cust") === 7L)
  }

  test("q148 snapshot diff: cohort counts reconstruct the generation arithmetic") {
    val rows = Advanced.snapshotDiff(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val keys = graft.sources.Tables.load(spark, sfDir, "orders")
      .select("o_orderkey").collect().map(_.getLong(0))
    assert(rows("added").getAs[Long]("n") === keys.count(_ % 23 == 0))
    assert(rows("removed").getAs[Long]("n") === keys.count(_ % 17 == 0))
    // changed = repriced or restatused keys that survived the deletion
    assert(rows("changed").getAs[Long]("n") ===
      keys.count(k => k % 17 != 0 && (k % 10 == 0 || k % 13 == 0)))
    val total = rows.values.map(_.getAs[Long]("n")).sum
    assert(total === keys.length + keys.count(_ % 23 == 0))
  }

  test("q149 co-purchase: pairs ordered canonically, counts bounded by baskets") {
    val rows = Advanced.copurchasePairs(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val nOrders = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey").distinct().count()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1)) // canonical pair order
      assert(r.getAs[Long]("n_baskets") >= 1L &&
        r.getAs[Long]("n_baskets") <= nOrders)
    }
    // ranking is non-increasing
    rows.map(_.getAs[Long]("n_baskets")).sliding(2).foreach {
      case Array(a, b) => assert(a >= b)
      case _ =>
    }
  }

  test("q158 EWMA: null warm-up, then values inside the window's range") {
    val rows = Advanced.ewmaDaily(spark, sfDir).collect()
    assert(rows.length > 16)
    // first 15 days lack a full 16-term window → NULL on both engines
    rows.take(15).foreach(r => assert(r.isNullAt(1), r.toString))
    assert(!rows(16).isNullAt(1))
    // a convex combination stays within the window's min/max daily value
    val cents = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(col("l_extendedprice")).as("rev"))
      .orderBy("day").collect().map(_.getDouble(1))
    rows.zipWithIndex.drop(15).foreach { case (r, i) =>
      if (!r.isNullAt(1)) {
        val window = cents.slice(i - 15, i + 1)
        assert(r.getDouble(1) >= window.min - 1e-4 &&
          r.getDouble(1) <= window.max + 1e-4, s"day $i out of range")
      }
    }
  }

  test("q157 rolling corr: warm-up ramp then full frames, coefficients bounded") {
    val rows = Advanced.rollingCorr(spark, sfDir).collect()
    assert(rows.length > 30)
    // frame sizes: 1,2,...,30 then constant 30 (days are unique+sorted)
    rows.take(30).zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(1) === (i + 1).toLong, s"warm-up day $i")
    }
    rows.drop(30).foreach(r => assert(r.getLong(1) === 30L))
    rows.foreach { r =>
      if (!r.isNullAt(2)) {
        val c = r.getDouble(2)
        assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, r.toString)
      }
    }
  }

  test("q156 corr matrix: all unordered pairs once, coefficients in [-1, 1]") {
    val rows = Advanced.corrMatrix(spark, sfDir).collect()
    val names = Advanced.CorrCols.map(_._1)
    assert(rows.length === names.length * (names.length - 1) / 2)
    val seen = rows.map(r => Set(r.getString(0), r.getString(1))).toSet
    assert(seen.size === rows.length) // every pair exactly once
    rows.foreach { r =>
      if (!r.isNullAt(3)) {
        val c = r.getDouble(3)
        assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, r.toString)
      }
      assert(r.getLong(2) > 0)
    }
  }

  test("q155 equifreq bins: near-equal masses, ordered non-overlapping bounds") {
    val rows = Advanced.equifreqBins(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (flag, rs) =>
      val byBin = rs.sortBy(_.getAs[Int]("bin"))
      // ntile: bin sizes differ by at most one
      val ns = byBin.map(_.getAs[Long]("n"))
      assert(ns.max - ns.min <= 1, s"$flag sizes ${ns.mkString(",")}")
      // boundaries are ordered and non-overlapping across bins
      byBin.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo") + 1e-9,
            s"$flag bins overlap")
        case _ =>
      }
    }
  }

  test("q142 pagerank: probability mass conserved, deterministic, positive") {
    val rows = Advanced.transitionPageRank(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // no dangling nodes in this graph → total rank mass stays 1
    val mass = rows.map(_.getAs[Double]("rank")).sum
    assert(math.abs(mass - 1.0) < 1e-3, s"mass $mass")
    rows.foreach(r => assert(r.getAs[Double]("rank") > 0.0))
    // fixed iteration count + decimal-routed sums ⇒ bit-identical rerun
    val again = Advanced.transitionPageRank(spark, sfDir).collect()
    assert(rows.map(r => (r.getString(0), r.getAs[Double]("rank"))).toSeq ===
      again.map(r => (r.getString(0), r.getAs[Double]("rank"))).toSeq)
  }

  test("q191 mad outliers: matches a driver-side exact median/MAD recount") {
    val rows = Advanced.madOutliers(spark, sfDir).collect()
    val vals = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val byType = vals.groupBy(_._1)
    assert(rows.map(_.getString(0)).toSet === byType.keySet)
    rows.foreach { r =>
      val et = r.getString(0)
      // same micro-unit quantization as the operator
      val q = byType(et).map { case (_, v) =>
        (BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          * 1000000).toLong.toDouble
      }.toSeq
      val m = med(q)
      val ads = q.map(v => math.abs(v - m))
      val madv = med(ads)
      assert(r.getAs[Int]("n") === q.length)
      assert(math.abs(r.getAs[Double]("median") - m / 1e6) < 1e-9, et)
      assert(math.abs(r.getAs[Double]("mad") - madv / 1e6) < 1e-9, et)
      val exp = ads.count(_ > 3.0 * madv)
      assert(r.getAs[Int]("n_outliers") === exp, et)
      // robustness: the MAD threshold still flags a sane, small fraction
      assert(r.getAs[Double]("outlier_ratio") < 0.25, et)
    }
  }

  test("q197 neyman: shares sum to 1, allocation tracks N·S, budget respected") {
    val rows = Advanced.neymanAllocation(spark, sfDir).collect()
    val shares = rows.map(_.getAs[Double]("share"))
    assert(math.abs(shares.sum - 1.0) < 1e-9)
    assert(rows.map(_.getAs[Long]("n_alloc")).sum <= 1000L)
    // floor loses at most one unit per stratum
    assert(rows.map(_.getAs[Long]("n_alloc")).sum > 1000L - rows.length)
    // driver recount: share ∝ n·std with sample std
    val vals = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    val ns = vals.map { case (et, xs) =>
      val v = xs.map(_._2); val n = v.length
      val mean = v.sum / n
      val std = math.sqrt(v.map(x => (x - mean) * (x - mean)).sum / (n - 1))
      et -> n * std
    }
    val tot = ns.values.sum
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("share") - ns(r.getString(0)) / tot)
        < 1e-6, r.getString(0))
    }
  }

  test("q198 seasonal anomaly: full hour grid, group sizes partition the stream") {
    val rows = Advanced.seasonalAnomaly(spark, sfDir).collect()
    val types = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    // complete (type × hour) grid — the fixture spans every hour
    assert(rows.length === types.size * 24)
    assert(rows.map(r => (r.getString(0), r.getInt(1))).toSet ===
      types.flatMap(t => (0 until 24).map(h => (t, h))))
    val total = graft.sources.Tables.load(spark, sfDir, "events").count()
    assert(rows.map(_.getAs[Int]("n").toLong).sum === total)
    rows.foreach { r =>
      assert(r.getAs[Double]("mad") >= 0.0)
      // small-sample cells are noisy; the robustness claim is for cells
      // with enough mass for the median/MAD to stabilize
      if (r.getAs[Int]("n") >= 50)
        assert(r.getAs[Double]("outlier_ratio") < 0.3, r.toString)
    }
  }

  test("q203 welch: antisymmetric in the pair, matches a driver recount") {
    val rows = Advanced.welchPairs(spark, sfDir).collect()
    val vals = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2) }
    val k = vals.keySet.toSeq.sorted
    assert(rows.length === k.size * (k.size - 1) / 2)
    def mv(xs: Iterable[Double]) = {
      val n = xs.size; val m = xs.sum / n
      (n, m, xs.map(x => (x - m) * (x - m)).sum / (n - 1))
    }
    rows.foreach { r =>
      val (na, ma, va) = mv(vals(r.getString(0)))
      val (nb, mb, vb) = mv(vals(r.getString(1)))
      val se2 = va / na + vb / nb
      val t = (ma - mb) / math.sqrt(se2)
      val df = se2 * se2 /
        (va / na * (va / na) / (na - 1) + vb / nb * (vb / nb) / (nb - 1))
      assert(math.abs(r.getAs[Double]("t_stat") - t) < 1e-6, r.getString(0))
      assert(math.abs(r.getAs[Double]("df") - df) < math.abs(df) * 1e-6)
      // Welch df is bounded by the pooled df and at least min(n)-1
      assert(r.getAs[Double]("df") >= math.min(na, nb) - 1
        && r.getAs[Double]("df") <= na + nb - 2)
    }
  }

  test("q204 benford: digits cover 1..9, expectations normalize, chi2 finite") {
    val rows = Advanced.benfordAudit(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSeq === (1 to 9))
    val n = rows.map(_.getAs[Long]("n_obs")).sum
    // expected counts are a probability distribution scaled by n
    assert(math.abs(rows.map(_.getAs[Double]("n_exp")).sum - n) < 1e-3)
    rows.foreach(r => assert(r.getAs[Double]("chi2_term") >= 0.0))
    // order totals are NOT Benford-distributed (uniform-ish price range):
    // the audit must say so loudly, not vacuously pass everything
    val chi2 = rows.map(_.getAs[Double]("chi2_term")).sum
    assert(chi2 > 20.09, s"chi2 $chi2") // 0.99 critical value, df=8
  }

  test("q205 psi: full bin grid, counts partition both windows, PSI small on a stable stream") {
    val rows = Advanced.psiDrift(spark, sfDir).collect()
    val types = rows.map(_.getString(0)).distinct
    // equal-frequency reference bins: every (type, bin) populated
    assert(rows.length === types.length * 10)
    types.foreach { et =>
      val bs = rows.filter(_.getString(0) == et)
      assert(bs.map(_.getInt(1)).sorted.toSeq === (1 to 10))
      // reference deciles: near-equal reference counts per bin
      val refs = bs.map(_.getAs[Int]("n_ref"))
      assert(refs.max - refs.min <= 2, s"$et ${refs.toSeq}")
      // the fixture stream is stationary across the month: PSI must sit
      // at its small-sample noise floor E[PSI] ≈ (1/N_ref + 1/N_cmp)(B−1)
      // (0.1-rule territory only once the windows are large)
      val (tr, tc) = (bs.map(_.getAs[Int]("n_ref").toLong).sum,
        bs.map(_.getAs[Int]("n_cmp").toLong).sum)
      val noise = (1.0 / tr + 1.0 / tc) * 9
      val psi = bs.map(_.getAs[Double]("psi_term")).sum
      assert(psi >= 0.0 && psi < math.max(0.1, 3 * noise),
        s"$et psi $psi noise $noise")
    }
    val ev = graft.sources.Tables.load(spark, sfDir, "events").count()
    assert(rows.map(r => r.getAs[Int]("n_ref").toLong +
      r.getAs[Int]("n_cmp").toLong).sum === ev)
  }

  test("q208 mann-whitney: U matches a driver rank recount, z centered") {
    val rows = Advanced.mannWhitney(spark, sfDir).collect()
    val vals = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0),
        (BigDecimal(r.getDouble(1)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP) * 1000000).toLong))
    // tie-averaged global ranks
    val sorted = vals.map(_._2).sorted
    val avgRank = sorted.zipWithIndex.groupBy(_._1).map { case (v, xs) =>
      v -> (xs.map(_._2 + 1).sum.toDouble / xs.length) }
    rows.foreach { r =>
      val et = r.getString(0)
      val mine = vals.filter(_._1 == et).map(_._2)
      val ra = mine.map(avgRank).sum
      val na = mine.length.toDouble
      val expU = ra - na * (na + 1) / 2
      assert(math.abs(r.getAs[Double]("u_stat") - expU) < 1e-6, et)
      // the stream is homogeneous across types: |z| stays moderate
      assert(math.abs(r.getAs[Double]("z")) < 10.0, s"$et z=${r.get(2)}")
    }
  }

  test("q209 ks: D matches a driver ECDF recount exactly") {
    val r = Advanced.ksTwoSample(spark, sfDir).collect().head
    val vals = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_type", "value").collect()
      .map(x => (x.getString(0), x.getDouble(1)))
    val a = vals.filter(_._1 == "click").map(_._2).sorted
    val b = vals.filter(_._1 == "error").map(_._2).sorted
    assert(r.getAs[Int]("n_a") === a.length && r.getAs[Int]("n_b") === b.length)
    val grid = (a ++ b).distinct.sorted
    val d = grid.map(x => math.abs(
      a.count(_ <= x).toDouble / a.length -
        b.count(_ <= x).toDouble / b.length)).max
    assert(math.abs(r.getAs[Double]("d_stat") - d) < 1e-9)
    assert(r.getAs[Double]("d_stat") >= 0.0 && r.getAs[Double]("d_stat") <= 1.0)
    assert(math.abs(r.getAs[Double]("scaled_d") -
      math.sqrt(a.length.toDouble * b.length / (a.length + b.length)) * d)
      < 1e-9)
  }

  test("q213 skew audit: loads and keys partition, ratios normalize to 1") {
    val rows = Advanced.skewAudit(spark, sfDir).collect()
    val orders = graft.sources.Tables.load(spark, sfDir, "orders")
    val total = orders.count()
    val nKeys = orders.select("o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum === total)
    assert(rows.map(_.getAs[Int]("n_keys").toLong).sum === nKeys)
    // mean load ratio is 1 by construction (Σ n_rows·P / total = P)
    assert(math.abs(rows.map(_.getAs[Double]("load_ratio")).sum /
      rows.length - 1.0) < 0.01)
    rows.foreach { r =>
      assert(r.getAs[Long]("top_key_n") <= r.getAs[Long]("n_rows"))
      assert(r.getAs[Long]("top_key_n") >= 1L)
    }
  }

  test("q223 scaler card: median inside IQR band, std positive, mean near median") {
    val rows = Advanced.scalerFitCard(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ===
      Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
    rows.foreach { r =>
      assert(r.getAs[Double]("std") > 0.0, r.getString(0))
      assert(r.getAs[Double]("iqr") > 0.0, r.getString(0))
      assert(r.getAs[Int]("n") > 0)
    }
  }

  test("q224 trimmed mean: matches driver recount, sits inside the kept range") {
    val rows = Advanced.trimmedMean(spark, sfDir).collect()
    val vals = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_type", "value", "event_id").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val et = r.getString(0)
      val q = vals(et).map { case (_, v, id) =>
        ((BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          * 1000000).toLong, id)
      }.sortBy(x => (x._1, x._2)).map(_._1)
      val k = math.floor(q.length * 0.05).toInt
      val kept = q.slice(k, q.length - k)
      assert(r.getAs[Int]("n_kept") === kept.length, et)
      val exp = kept.map(BigInt(_)).sum.toDouble / kept.length / 1e6
      assert(math.abs(r.getAs[Double]("trimmed_mean") - exp) < 1e-9, et)
      assert(r.getAs[Double]("kept_min") <= r.getAs[Double]("trimmed_mean"))
      assert(r.getAs[Double]("kept_max") >= r.getAs[Double]("trimmed_mean"))
    }
  }

  test("q218 fk audit: every schema edge present, fixtures referentially intact") {
    val rows = Advanced.fkAudit(spark, sfDir).collect()
    assert(rows.length === 7)
    // TPC-H-style generators produce referentially intact data — any
    // orphan here is a fixture regression the audit must surface
    rows.foreach { r =>
      assert(r.getAs[Int]("n_orphans") === 0, r.getString(0))
      assert(r.getAs[Long]("n_child") >= r.getAs[Int]("n_keys"))
      assert(r.getAs[Int]("n_keys") > 0)
    }
  }

  test("q216 pmi: ranked, gated, matches a driver bigram recount") {
    val rows = graft.text.TextOps.pmiCollocations(spark, sfDir).collect()
    assert(rows.length === 20)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("pmi") >= b.getAs[Double]("pmi"))
    case _ => ()
    }
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select("text").collect().map(_.getString(0))
    val toks = docs.map(_.trim.toLowerCase.split("\\s+").toSeq)
    val uni = toks.flatten.groupBy(identity).map { case (w, xs) =>
      w -> xs.length.toLong }
    val n = uni.values.sum.toDouble
    val big = toks.flatMap(t => t.zip(t.drop(1))).groupBy(identity)
      .map { case (p, xs) => p -> xs.length.toLong }
    rows.foreach { r =>
      val (wa, wb) = (r.getString(0), r.getString(1))
      val cab = big((wa, wb))
      assert(r.getAs[Int]("n_ab").toLong === cab)
      assert(cab >= 5)
      val pmi = math.log(n * cab / (uni(wa).toDouble * uni(wb)))
      assert(math.abs(r.getAs[Double]("pmi") - pmi) < 1e-5, s"$wa $wb")
    }
  }

  test("q214 k-fold: exact ±1 balance within every label, totals partition") {
    val rows = Advanced.stratifiedKfold(spark, sfDir).collect()
    val byLabel = rows.groupBy(_.getInt(0))
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byLabel.keySet === emb.keySet)
    byLabel.foreach { case (label, cells) =>
      assert(cells.map(_.getInt(1)).sorted.toSeq === (0 until 5))
      val ns = cells.map(_.getAs[Int]("n"))
      // the StratifiedKFold property: every cell is ⌈n/k⌉ or ⌊n/k⌋
      assert(ns.max - ns.min <= 1, s"label $label: ${ns.toSeq}")
      assert(ns.map(_.toLong).sum === emb(label))
    }
  }

  test("q206 association rules: probability bounds, lift algebra consistent") {
    val rows = Advanced.associationRules(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (sup, conf, lift) = (r.getAs[Double]("support"),
        r.getAs[Double]("conf_a_b"), r.getAs[Double]("lift"))
      assert(sup > 0.0 && sup <= 1.0)
      assert(conf >= sup - 1e-12 && conf <= 1.0) // P(B|A) >= P(A∧B)
      assert(lift > 0.0)
      assert(r.getAs[Int]("n_ab") >= 3)
    }
  }

  test("q251 KS+BH: planted shift flagged, null pair not; BH algebra " +
      "recomputed on the driver") {
    import spark.implicits._
    // A and B share a distribution; C is shifted by +5 — only the two
    // C-pairs should survive the 5% FDR
    val rows = (0 until 400).flatMap { i =>
      val v = (i % 100) / 10.0
      Seq(("A", v), ("B", v), ("C", v + 5.0))
    }.toDF("event_type", "value")
    val out = Advanced.ksFdrOf(rows).collect()
    val byPair = out.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(!byPair(("A", "B")).getAs[Boolean]("significant"))
    assert(byPair(("A", "C")).getAs[Boolean]("significant"))
    assert(byPair(("B", "C")).getAs[Boolean]("significant"))
    // identical samples ⇒ D = 0 exactly, p = 1
    assert(byPair(("A", "B")).getAs[Double]("d_stat") === 0.0)
    assert(byPair(("A", "B")).getAs[Double]("p_value") === 1.0)
    // BH recomputed from the reported raw p's: sort ascending, reverse
    // running min of p*m/i, clamp at 1 — must reproduce p_adj exactly
    val m = out.length
    val sorted = out.sortBy(_.getAs[Int]("rnk"))
    val raw = sorted.map(r =>
      r.getAs[Double]("p_value") * m / r.getAs[Int]("rnk"))
    val adj = raw.scanRight(Double.MaxValue)(math.min).init
      .map(math.min(1.0, _))
    sorted.zip(adj).foreach { case (r, e) =>
      assert(math.abs(r.getAs[Double]("p_adj") - e) < 1e-12,
        s"${r.getString(0)}-${r.getString(1)}")
    }
    // p_adj >= p always, and never above 1
    out.foreach { r =>
      assert(r.getAs[Double]("p_adj") >= r.getAs[Double]("p_value") - 1e-12)
      assert(r.getAs[Double]("p_adj") <= 1.0)
    }
  }

  test("q263 binned KS: |D_binned - D_exact| within the interval-mass " +
      "bound; planted-shift verdicts preserved") {
    import spark.implicits._
    // same planted-shift fixture as the q251 test
    val rows = (0 until 400).flatMap { i =>
      val v = (i % 100) / 10.0
      Seq(("A", v), ("B", v), ("C", v + 5.0))
    }.toDF("event_type", "value")
    val bins = 16
    val exact = Advanced.ksFdrOf(rows).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val binned = Advanced.ksFdrBinnedOf(rows, bins).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(binned.keySet == exact.keySet)
    binned.foreach { case (k, rb) =>
      val db = rb.getAs[Double]("d_stat")
      val de = exact(k).getAs[Double]("d_stat")
      // boundary support is a subset of the exact evaluation points, so
      // the binned D can only UNDERSTATE the exact D...
      assert(db <= de + 1e-12, s"$k: binned $db > exact $de")
      // ...and by at most the largest mass one type places inside a
      // single pooled equi-mass interval — ≤ 3/bins here, since each
      // pooled bin holds 1/bins of the 3-type union
      assert(de - db <= 3.0 / bins + 1e-12,
        s"$k: exact $de binned $db exceeds interval-mass bound")
      // n_a/n_b carried through identically
      assert(rb.getAs[Int]("n_a") == exact(k).getAs[Int]("n_a"))
      assert(rb.getAs[Int]("n_b") == exact(k).getAs[Int]("n_b"))
    }
    // the screening verdicts the report exists for are unchanged
    assert(!binned(("A", "B")).getAs[Boolean]("significant"))
    assert(binned(("A", "C")).getAs[Boolean]("significant"))
    assert(binned(("B", "C")).getAs[Boolean]("significant"))
    // identical samples evaluate identically on any support
    assert(binned(("A", "B")).getAs[Double]("d_stat") === 0.0)
    assert(binned(("A", "B")).getAs[Double]("p_value") === 1.0)
  }

  test("q301 bootstrap CI: interval ordered, brackets the mean, and " +
      "every replicate survived") {
    val rows = graft.text.TextOps.bootstrapCi(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (m, lo, hi) = (r.getAs[Double]("mean_q"),
        r.getAs[Double]("boot_lo"), r.getAs[Double]("boot_hi"))
      assert(lo <= hi, r.toString)
      // with dozens of docs per source, the 5-95 interval of replicate
      // means brackets the full-sample mean
      assert(lo <= m && m <= hi, r.toString)
      // spread is computed pre-division in the query ((hi-lo)/1e6), so
      // comparing against post-division hi-lo allows one ulp-ish slack
      assert(math.abs(r.getAs[Double]("boot_spread") - (hi - lo)) < 1e-12)
      // no replicate drew all-zero weights at fixture scale
      assert(r.getAs[Long]("n_reps") === graft.text.TextOps.BootReps.toLong)
    }
  }

  test("q303 W1 matrix: integral dominates the max gap, both bounded " +
      "by the grid") {
    val rows = graft.analytics.Advanced.w1Binned(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val w1 = r.getAs[Double]("w1_bins")
      val mg = r.getAs[Double]("max_gap")
      // the sum of 15 nonneg gaps dominates any single gap, and each
      // gap is an ECDF difference in [0, 1]
      assert(w1 >= mg - 1e-9, r.toString)
      assert(mg >= 0.0 && mg <= 1.0, r.toString)
      assert(w1 <= 15.0 + 1e-9, r.toString)
    }
    // the fixture's sources are not identically distributed: at least
    // one pair transports real mass
    assert(rows.exists(_.getAs[Double]("w1_bins") > 0.0))
  }

  test("q302 HLL algebra: union estimate dominates both singles, " +
      "inclusion-exclusion lands near exact") {
    val rows = graft.text.TextOps.hllIntersect(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, u) = (r.getAs[Double]("hll_a"), r.getAs[Double]("hll_b"),
        r.getAs[Double]("hll_union"))
      // max-merge monotonicity: merged registers dominate elementwise,
      // and the estimator is monotone in the register vector
      assert(u >= math.max(a, b) - 1e-6, r.toString)
      // NOTE: u <= a + b holds for SETS, not estimates — estimator
      // noise can push the union estimate past the sum, which is
      // precisely the documented negative-inter_est regime
      val exact = r.getAs[Long]("n_exact_inter")
      if (exact > 1000)
        // p=10 registers: each term ~3% stderr; the difference inherits
        // all three, so a generous band still catches a broken merge
        assert(math.abs(r.getAs[Double]("rel_err")) < 0.5, r.toString)
    }
  }

  test("q310 HLL hierarchy: rollup partitions sources and grams, the " +
      "global estimate tracks the global exact count") {
    val rows = graft.text.TextOps.hllHierarchy(spark, sfDir).collect()
    val (global, groups) = rows.partition(_.getAs[Int]("gid") == -1)
    assert(global.length === 1 && groups.nonEmpty)
    val g = global.head
    // the groups partition the source set exactly
    assert(groups.map(_.getAs[Int]("n_sources")).sum ===
      g.getAs[Int]("n_sources"))
    // distinct grams: group counts can only over-cover the global
    // (shared grams count once per group), never under-cover
    assert(groups.map(_.getAs[Long]("n_exact")).sum >=
      g.getAs[Long]("n_exact"))
    // max-merge monotonicity at the top level: the global register set
    // dominates every group's, so its estimate does too
    groups.foreach { r =>
      assert(g.getAs[Double]("hll_est") >=
        r.getAs[Double]("hll_est") - 1e-6, r.toString)
    }
    // p=10 registers: ~3% stderr — a lost register would blow this band
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("rel_err")) < 0.25, r.toString)
    }
  }

  test("q290 skew audit: shares bounded and nested, entropy in [0, 1]") {
    val rows = graft.analytics.Advanced.keySkewAudit(spark, sfDir)
      .collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      val t1 = r.getAs[Double]("top1_share")
      val t5 = r.getAs[Double]("top5_share")
      assert(t1 > 0.0 && t1 <= 1.0)
      assert(t5 >= t1 && t5 <= 1.0)
      val h = r.getAs[Double]("norm_entropy")
      if (!r.isNullAt(r.fieldIndex("norm_entropy")))
        assert(h >= 0.0 && h <= 1.0 + 1e-6, s"entropy $h: $r")
      assert(r.getAs[Long]("n_keys") <= r.getAs[Long]("n_rows"))
    }
    // user buckets are near-uniform: entropy close to 1; a 5-type axis
    // is flatter than the hottest-key share suggests on its own
    val ub = rows.find(_.getAs[String]("axis") == "events.user_bucket").get
    assert(ub.getAs[Double]("norm_entropy") > 0.9)
  }

  test("q326 CUPED: θ recomputed from raw per-user sums, adjustment " +
      "unbiased (weighted means equal), ρ² in (0,1]") {
    import org.apache.spark.sql.functions._
    val rows = graft.analytics.Advanced.cupedAdjust(spark, sfDir).collect()
    assert(rows.length === 2)
    // θ and the variance-reduction factor against a plain-Scala recompute
    val b = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val pu = graft.sources.Tables.load(spark, sfDir, "events")
      .groupBy("user_id")
      .agg(sum(when(col("ts") < lit(b), col("value")).otherwise(0.0)
          .cast("decimal(18,4)")).cast("double").as("x"),
        sum(when(col("ts") >= lit(b), col("value")).otherwise(0.0)
          .cast("decimal(18,4)")).cast("double").as("y"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    val n = pu.length.toDouble
    val (sx, sy) = (pu.map(_._1).sum, pu.map(_._2).sum)
    val sxy = pu.map(p => p._1 * p._2).sum
    val (sxx, syy) = (pu.map(p => p._1 * p._1).sum, pu.map(p => p._2 * p._2).sum)
    val theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val rho2 = math.pow(n * sxy - sx * sy, 2) /
      ((n * sxx - sx * sx) * (n * syy - sy * sy))
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("theta") - theta) < 1e-4)
      assert(math.abs(r.getAs[Double]("var_reduction") - rho2) < 1e-4)
      assert(r.getAs[Double]("var_reduction") > 0 &&
        r.getAs[Double]("var_reduction") <= 1)
    }
    // unbiasedness identity: Σ n_v·(cuped − raw) = −θ·Σ n_v·(x̄_v − x̄) = 0
    val drift = rows.map(r => r.getAs[Long]("n_users") *
      (r.getAs[Double]("mean_y_cuped") - r.getAs[Double]("mean_y_raw"))).sum
    assert(math.abs(drift) < 1e-2, s"CUPED shifted the pooled mean: $drift")
  }

  test("q329 peak concurrency: brute-forced per-day maxima over the q50 " +
      "sessions, and the reported instant actually carries the peak") {
    import org.apache.spark.sql.functions._
    val rows = graft.analytics.Advanced.peakConcurrency(spark, sfDir)
      .collect()
      .map(r => (r.getAs[java.sql.Date]("day_date").toLocalDate.toEpochDay,
        r.getAs[Int]("peak"), r.getAs[Long]("peak_at_us")))
    // sessions recomputed through the oracle-green q50 surface
    val sess = graft.analytics.Advanced.sessionizeBatch(spark, sfDir)
      .select(unix_micros(col("session_start")).as("a"),
        unix_micros(col("session_end")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def concAt(us: Long): Int = sess.count { case (a, b) => a <= us && us <= b }
    val dayUs = 86400000000L
    rows.foreach { case (day, peak, at) =>
      assert(at / dayUs === day, s"peak instant outside its day row")
      assert(concAt(at) === peak, s"day $day: instant $at carries " +
        s"${concAt(at)}, reported peak $peak")
      // brute force the day's true max over all candidate instants
      // (concurrency only changes at session starts)
      val cand = sess.map(_._1).filter(u => u / dayUs == day) :+ (day * dayUs)
      assert(cand.map(concAt).max === peak, s"day $day brute max mismatch")
    }
    assert(rows.nonEmpty)
  }

  test("q380 histogram sketch error bound: every estimated percentile " +
      "sits within TWO bin widths of the exact percentile") {
    // Why 2w, not 1w: the sketch interpolates at rank q*n while
    // percentile() interpolates at q*(n-1)+1; when those two ranks
    // straddle sparsely-populated bins the exact value can sit a bin
    // beyond the estimate's, so |est-exact| <= w is fixture-dependent,
    // not a theorem. <= 2w holds whenever the two ranks differ by < 1
    // row position (always: |q*n - (q*(n-1)+1)| = |q-1| < 1), placing
    // both values in the same or adjacent bins.
    val rows = graft.analytics.Advanced.histQuantiles(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // recover the bin width from the fixture bounds (64 equi-width bins)
    val b = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .agg(org.apache.spark.sql.functions.min("l_extendedprice"),
        org.apache.spark.sql.functions.max("l_extendedprice")).head()
    val w = (b.getDouble(1) - b.getDouble(0)) / 64
    rows.foreach { r =>
      Seq(("est_p50", "exact_p50"), ("est_p90", "exact_p90"),
        ("est_p99", "exact_p99")).foreach { case (e, x) =>
        val err = math.abs(r.getAs[Double](e) - r.getAs[Double](x))
        assert(err <= 2 * w + 1e-9,
          s"flag ${r.getString(0)} $e off by $err > 2x bin width $w")
      }
    }
  }

  test("q384/q385 statistical contracts: the bootstrap CI brackets the " +
      "full mean; MAD outliers are rare and winsorizing pulls the mean " +
      "toward the median") {
    graft.analytics.Advanced.bootstrapCi(spark, sfDir).collect().foreach {
      r =>
        val (fm, lo, hi) = (r.getAs[Double]("full_mean"),
          r.getAs[Double]("boot_p05"), r.getAs[Double]("boot_p95"))
        assert(lo <= hi, r)
        assert(lo <= fm && fm <= hi,
          s"flag ${r.getString(0)}: CI [$lo, $hi] misses full mean $fm")
    }
    graft.analytics.Advanced.robustStats(spark, sfDir).collect().foreach {
      r =>
        val n = r.getAs[Int]("n")
        assert(r.getAs[Double]("mad") > 0)
        assert(r.getAs[Int]("n_outlier") <= n / 10,
          s"3-MAD outliers should be rare: $r")
        // winsorized mean sits between the median and the raw mean side
        val (med, wm) = (r.getAs[Double]("median"),
          r.getAs[Double]("winsor_mean"))
        assert(math.abs(wm - med) < med, r)
    }
  }

  test("q380 histogram is MERGEABLE: per-half partial histograms added " +
      "together reproduce the full-corpus bin counts exactly") {
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        col("l_extendedprice").as("x"), col("l_orderkey"))
    val b = li.agg(min("x"), max("x")).head()
    val (lo, hi) = (b.getDouble(0), b.getDouble(1))
    val w = (hi - lo) / 64
    def hist(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("bin", least(floor((col("x") - lit(lo)) / lit(w)),
        lit(63)).cast("int"))
      .groupBy("flag", "bin").count()
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    val full = hist(li)
    val halfA = hist(li.filter(pmod(col("l_orderkey"), lit(2)) === 0))
    val halfB = hist(li.filter(pmod(col("l_orderkey"), lit(2)) === 1))
    val merged = (halfA.keySet ++ halfB.keySet).map(k =>
      k -> (halfA.getOrElse(k, 0L) + halfB.getOrElse(k, 0L))).toMap
    assert(merged === full,
      "adding per-half bin counts must equal the full histogram")
    assert(full.values.sum === li.count())
  }
}
