package graft.analytics

import graft.Query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Relational operator surface (SURVEY.md §2.2-§2.6) generalized from the
  * reference's accidents pipeline to arbitrary relational inputs, expressed
  * as declarative DataFrame plans so Catalyst does pushdown/pruning/reorder.
  *
  * Determinism-for-oracle notes: every floating aggregate that the DuckDB
  * oracle re-computes goes through exact decimal sums (`dsum`) so the result
  * is independent of partitioning/accumulation order — a requirement at any
  * scale (a 100 TB sum must not change when the cluster re-partitions).
  */
object Relational {

  /** Order-insensitive exact sum of a double column: per-row values are cast
    * to DECIMAL(18,4) (exact, deterministic) and summed in decimal space,
    * then converted back to double. Matches
    * CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) in ANSI SQL. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast(DoubleType)

  /** Exact decimal mean: exact sum / exact count, one double division. */
  def davg(c: Column): Column = (dsum(c) / count(c)).cast(DoubleType)

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  // --- §2.2 projections / filters / scalar predicates -----------------------

  /** P1+P4+P7+P9: defensive projection (intersection of wanted ∩ present,
    * data_cleaning.py:34-46), not-null filter, cast, arithmetic. */
  def scanProjectFilter(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val wanted = Seq("l_orderkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_shipdate", "no_such_column")
    val present = wanted.filter(li.columns.contains)
    li.select(present.map(col): _*)
      .filter(col("l_quantity").isNotNull && col("l_extendedprice").isNotNull)
      .withColumn("line_idx", (col("l_linenumber") - 1).cast(IntegerType))
      .withColumn("revenue",
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4)).cast(DoubleType))
      .drop("l_discount")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** P5: range + set-membership predicates (Severity BETWEEN 1 AND 4 /
    * isin, data_cleaning.py:97 generalized). */
  def filterRangeSet(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_totalprice").between(1000.0, 50000.0) &&
        col("o_orderstatus").isin("F", "O"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")

  /** P6+P8+P10: when/otherwise conditional imputation + fillna
    * (data_cleaning.py:69-86). TESTDATA has no nulls, so nulls are first
    * injected deterministically with nullif, then repaired — exercising the
    * same expressions the cleaning stage uses. */
  def conditionalImpute(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("v_nulled",
        when(col("event_type") === "error", lit(null).cast(DoubleType))
          .otherwise(col("value")))
      .withColumn("ty_nulled",
        when(col("user_id") % 7 === 0, lit(null).cast(StringType))
          .otherwise(col("event_type")))
    ev.withColumn("v_imputed",
        when(col("v_nulled").isNull || isnan(col("v_nulled")), lit(0.0))
          .otherwise(col("v_nulled")))
      .na.fill(Map("ty_nulled" -> "Unknown"))
      .select("event_id", "user_id", "v_imputed", "ty_nulled")
      .orderBy("event_id")
  }

  // --- §2.3 date/time scalar functions --------------------------------------

  /** F1-F4: hour/dayofweek/month/year extraction (data_cleaning.py:90-93).
    * dayofweek keeps Spark/Hive semantics: 1 = Sunday (SURVEY §7.4 quirk). */
  def temporalFeatures(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        hour(col("o_orderdate")).as("hour_of_day"),
        dayofweek(col("o_orderdate")).as("day_of_week"),
        month(col("o_orderdate")).as("month_of_year"),
        year(col("o_orderdate")).as("year_of_date"))
      .orderBy("o_orderkey")

  // --- §2.4 aggregations -----------------------------------------------------

  /** A1: groupBy(col).count() ordered — severity-distribution pattern
    * (data_cleaning.py:144). Hash aggregate: partial map-side combine, one
    * shuffle on the (low-cardinality) key; scale-safe. */
  def groupCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n")).orderBy("o_orderstatus")

  /** A2 (+TPC-H Q1 shape): multi-aggregate groupBy — count/sum/avg/min/max +
    * stddev (kmeans_clustering.py:198-225 generalized). stddev is composed
    * from exact decimal sums so the result is partitioning-independent. */
  def multiAgg(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val n = count(lit(1))
    val sx = dsum(col("l_extendedprice"))
    val sxx = dsum((col("l_extendedprice") * col("l_extendedprice"))
      .cast(DecimalType(28, 4)).cast(DoubleType))
    li.groupBy("l_returnflag", "l_linestatus").agg(
        n.as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        round(sqrt((sxx - sx * sx / n) / (n - lit(1))), 4).as("std_price"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** A3: global aggregate — per-column means batched in ONE pass/ONE job
    * (nb cell 19 runs one job per column; at scale that is k full scans). */
  def globalMeans(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      davg(col("l_quantity")).as("mean_quantity"),
      davg(col("l_extendedprice")).as("mean_extendedprice"),
      davg(col("l_discount")).as("mean_discount"),
      davg(col("l_tax")).as("mean_tax"))

  /** A4: median — exact percentile for oracle parity (SURVEY §7.4 risk 4:
    * GK approxQuantile is merge-order-dependent; the approximate variant is
    * exposed separately in Cleaning.imputeMedian). */
  def medians(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").agg(
      round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_totalprice"),
      round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25_totalprice"),
      round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75_totalprice"))

  /** A5: one-pass null census over all columns (nb cell 17) — single job
    * regardless of column count. */
  def nullCensus(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("v_nulled",
      when(col("event_type") === "error", lit(null).cast(DoubleType))
        .otherwise(col("value")))
    ev.select(ev.columns.toIndexedSeq.map(c =>
      sum(when(col(c).isNull, 1).otherwise(0)).as(s"nulls_$c")): _*)
  }

  /** A6: describe()-style summary as an explicit, oracle-checkable query
    * (count/mean/min/max per column; one aggregation job). */
  def describeStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").agg(
      count(lit(1)).as("n_rows"),
      davg(col("c_acctbal")).as("mean_acctbal"),
      min(col("c_acctbal")).as("min_acctbal"),
      max(col("c_acctbal")).as("max_acctbal"),
      countDistinct(col("c_mktsegment")).as("n_segments"))

  // --- joins / set ops (required by TESTDATA oracle; SURVEY §2.5) ------------

  /** Inner join chain with explicit broadcast of the small dims — revenue per
    * nation. At 100 TB, nation/customer-side dims stay broadcast; the only
    * shuffle is the final low-cardinality aggregation. */
  def joinRevenuePerNation(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("nation")
  }

  /** Left outer join + agg: order counts per customer INCLUDING zero-order
    * customers. */
  def joinLeftOuter(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")
  }

  /** q78: FULL OUTER join with unmatched rows on BOTH sides (filtered
    * customers vs high-value orders), aggregated into match classes —
    * completes the join-type family (inner/left/semi/anti/cross are
    * q11-q13, q31+). */
  def joinFullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_nationkey") < 5)
      .select(col("c_custkey"))
    // threshold chosen so ALL THREE classes are populated at sf0.01
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 250000.0)
      .select(col("o_orderkey"), col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .select(when(col("c_custkey").isNull, "order_only")
        .when(col("o_orderkey").isNull, "customer_only")
        .otherwise("matched").as("side"))
      .groupBy("side").agg(count(lit(1)).cast(IntegerType).as("n"))
      .orderBy("side")
  }

  /** Left-semi + left-anti joins (EXISTS / NOT EXISTS). */
  def joinSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 40000.0)
    val withBig = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_big_order").as("bucket"))
    val without = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_big_order").as("bucket"))
    withBig.unionAll(without).orderBy("c_custkey")
  }

  /** Union + distinct set semantics. */
  def unionDistinct(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val high = o.filter(col("o_totalprice") > 45000.0).select("o_orderkey")
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    high.union(urgent).distinct().orderBy("o_orderkey")
  }

  /** Row-level set operations — INTERSECT and EXCEPT (the §2.5 family
    * members q13/q14 don't cover: semi/anti join on a KEY vs set ops on
    * whole distinct ROWS). Catalyst plans both as a distinct aggregate
    * over a left-semi/anti join — one hash exchange per side, the same
    * asymptotics as the joins they generalize. Customers are tagged by
    * whether they ordered in BOTH status classes or only the first. */
  def intersectExcept(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val f = o.filter(col("o_orderstatus") === "F").select("o_custkey")
    val oo = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    f.intersect(oo).withColumn("tag", lit("both"))
      .unionByName(f.except(oo).withColumn("tag", lit("only_f")))
      .orderBy("tag", "o_custkey")
  }

  // --- §2.6 sorts / limits / top-k -------------------------------------------

  /** O1+O2: total order + limit with deterministic tie-break. */
  def orderByLimit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  /** O4 generalized: per-group top-k via row_number window — the scalable
    * form of the reference's driver-side `sortBy.take(k)`
    * (random_forest.py:119-123). */
  def windowTopKPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
      .orderBy("o_custkey", "rk")
  }

  /** q69: q16's top-k-per-group semantics via the custom TopKPerKey
    * physical operator (graft.plans.TopKPerKeyNode → partial/final
    * TopKPerKeyExec). Unlike the window form, no stage sorts a full
    * partition: map tasks ship ≤ k rows per key into the shuffle and
    * every stage holds ≤ k rows per key — aggregation-shaped top-k.
    * Shares q16's oracle semantics (minus the rank column). */
  def topkExecPerGroup(s: SparkSession, dir: String): DataFrame =
    org.apache.spark.sql.graft.topk.perKey(
        t(s, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"), orderDesc = "o_totalprice", tieAsc = "o_orderkey",
        k = 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))

  /** Running-sum window (event-time cumulative value per user). */
  def windowRunningSum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("running_value",
        sum(col("value").cast(DecimalType(18, 4))).over(w).cast(DoubleType))
      .select("user_id", "event_id", "running_value")
      .orderBy("user_id", "event_id")
  }

  /** lag/lead window: inter-event gap per user in seconds. */
  def windowLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_s",
        (unix_micros(col("ts")) - unix_micros(col("prev_ts"))).cast(DoubleType) / 1e6)
      .select("user_id", "event_id", "gap_s")
      .orderBy("user_id", "event_id")
  }

  /** M12 pattern as a relational query: contingency/confusion matrix via
    * groupBy().pivot() (random_forest.py:143-164 reshaped — SURVEY §2.8 M12
    * chooses the DataFrame pivot form). Pivot domain passed explicitly so no
    * extra distinct-values job runs. */
  def pivotMatrix(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0)
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      .orderBy("o_orderpriority")

  /** JSON scalar extraction (events.props is a JSON string; counterpart of
    * the Kafka-producer JSON encode, SURVEY §2.3 note). */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
      .orderBy("event_id")

  /** Approximate sketches — HLL++ distinct counts and quantile sketches in
    * ONE pass. At 100 TB exact distinct counts shuffle every key; the
    * sketch shuffles a few KB per partition. Approximate ⇒ no bit-exact
    * oracle; error bounds are asserted in RelationalSpec against the exact
    * values (rsd=0.02 → HLL error ≤ ~3·rsd with high probability,
    * approx_percentile accuracy 10000 → rank error ≤ n/10000). */
  def approxStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").agg(
      approx_count_distinct(col("o_custkey"), rsd = 0.02).as("approx_customers"),
      expr("approx_percentile(o_totalprice, array(0.5, 0.99), 10000)")
        .as("pcts"))
      // scalar columns only: the driver's rows-only comparer pandas-sorts
      // the result and cannot hash an array<double> cell
      .select(col("approx_customers"),
        element_at(col("pcts"), 1).as("approx_p50"),
        element_at(col("pcts"), 2).as("approx_p99"))

  /** Tumbling-window event-time aggregation (batch form of the §2.10
    * streaming demonstration query; same plan Structured Streaming runs). */
  def tumblingWindowAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("hour_start", "event_type")

  /** q316: the Spark 4 VARIANT path — semi-structured ingest done the
    * new-engine way: `parse_json` turns the JSON string column into the
    * binary VARIANT type once, `variant_get` extracts a typed path from
    * it, and the aggregate runs over the typed value. Distinct from
    * q69's `get_json_object` (string re-parse per access): VARIANT
    * parses once into a shreddable binary encoding — the Spark-4
    * answer to "props columns" at warehouse scale, where a string
    * re-parse per predicate is the scan bottleneck. Oracle: DuckDB's
    * JSON extraction over the same column — the values, not the
    * encoding, must agree. */
  def variantExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'int')").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min("k").as("k_min"), max("k").as("k_max"),
        sum(col("k").cast(LongType)).as("k_sum"))
      .orderBy("event_type")

  /** q315: CUBE + grouping_id — the multi-level aggregate surface
    * (GROUP BY CUBE(source, lang)): every (source, lang) cell, both
    * one-dimension margins, and the grand total in ONE pass, each row
    * tagged with the grouping mask that says which dimensions are
    * rolled up. This is the OLAP operator dashboards sit on, and the
    * one aggregation shape `groupBy` can't express without 4 unioned
    * scans.
    *
    * Shape at 100 TB: Spark plans CUBE as a single Expand (4 grouping
    * sets ⇒ 4× intermediate rows) into one hash aggregate with
    * map-side partials — one corpus scan regardless of how many
    * margins are asked for; the alternative (a union of 4 groupBys) is
    * 4 scans. NULL here means "rolled up", which is why the mask
    * column — not the nulls — is the level key. */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .cube(col("source"), col("lang"))
      .agg(grouping_id().cast(IntegerType).as("gmask"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("gmask"), col("source"), col("lang"),
        col("n_docs"), col("sum_chars"))
      .orderBy("gmask", "source", "lang")

  /** q338: STRING COLLATIONS (Spark 4) — case-insensitive GROUPING via
    * the `UTF8_LCASE` collation instead of a `lower()` rewrite: the
    * collation travels WITH THE TYPE, so every comparison, join and
    * aggregate downstream is case-blind without per-call normalization
    * — the warehouse answer to "customer ids arrive in mixed case from
    * three systems". The fixture's sources are single-case, so case
    * variance is injected deterministically (every 3rd doc's source
    * upper-cased); the collated groupBy must merge the variants back.
    * Output keys are `lower()`-normalized (a collated group's
    * REPRESENTATIVE case is engine-internal — the only deterministic
    * spelling of a case-insensitive key is a normalized one), and
    * `n_case_variants` proves each group genuinely held mixed case.
    * Oracle: DuckDB groups by `lower()` — value-identical iff the
    * collation semantics are exactly case-insensitive equality.
    *
    * Shape at 100 TB: collated grouping hashes the collation key —
    * same one-shuffle hash-agg as any groupBy; no expression rewrite
    * tax on every downstream predicate. */
  def collatedGroup(s: SparkSession, dir: String): DataFrame = {
    val src2 = when(col("doc_id") % 3 === 0, upper(col("source")))
      .otherwise(col("source"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), src2.as("src2"))
      .groupBy(collate(col("src2"), "UTF8_LCASE").as("k"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(collate(col("src2"), "UTF8_BINARY"))
          .cast(IntegerType).as("n_case_variants"))
      .select(lower(col("k")).as("source_ci"), col("n_docs"),
        col("sum_chars"), col("n_case_variants"))
      .orderBy("source_ci")
  }

  /** q322: OBSERVED METRICS — `Dataset.observe` + `Observation`, the
    * data-quality-counter surface every production job wants and naive
    * pipelines pay a second scan for: `observe` plants a
    * CollectMetrics node mid-plan whose aggregates (count / sum / min /
    * max — accumulator-mergeable, no shuffle) are computed AS A SIDE
    * EFFECT of whatever action drives the plan. Here the driven action
    * is the real downstream aggregate (per-flag counts); the quality
    * counters — row count past the filter, flagged-row count, exact
    * DECIMAL measure total, key range — ride that same scan for free.
    *
    * Shape at 100 TB: the alternative is a second full aggregation
    * query — a second 100 TB scan per quality dashboard refresh.
    * CollectMetrics is an AggregatingAccumulator merged per task:
    * zero extra jobs, zero shuffle, and the counters observe exactly
    * the rows the production job consumed (same filter, same moment) —
    * not a racy re-read. The DECIMAL(18,4) sum keeps the merge
    * order-independent (dsum's discipline), so the observed total is
    * bit-equal to the oracle's. */
  def observeMetrics(s: SparkSession, dir: String): DataFrame = {
    val obs = new org.apache.spark.sql.Observation("q322_dq")
    val filtered = t(s, dir, "lineitem")
      .filter(col("l_quantity") > 10)
      .observe(obs,
        count(lit(1)).as("n"),
        sum((col("l_returnflag") === "R").cast(LongType)).as("n_flag_r"),
        sum(col("l_quantity").cast(DecimalType(18, 4))).as("sum_qty"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"))
    // the PRODUCTION action the counters ride (bounded: one row per
    // return flag) — no separate job runs for the observation
    val groups = filtered.groupBy("l_returnflag").count().collect()
    val m = obs.get
    import s.implicits._
    Seq((m("n").asInstanceOf[Long],
      m("n_flag_r").asInstanceOf[Long],
      m("sum_qty").asInstanceOf[java.math.BigDecimal].doubleValue,
      m("min_key").asInstanceOf[Long],
      m("max_key").asInstanceOf[Long],
      groups.length.toLong))
      .toDF("n", "n_flag_r", "sum_qty", "min_key", "max_key", "n_groups")
  }

  /** The registry queries this module declares (see [[graft.Query]]). */
  def queries: Seq[Query] = Seq(
    // §2.2 projections / filters / scalar expressions
    Query("q01_scan_project_filter", scanProjectFilter _,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  l_shipdate,
        |  CAST(l_linenumber - 1 AS INTEGER) AS line_idx,
        |  CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Query("q02_filter_range_set", filterRangeSet _,
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_totalprice BETWEEN 1000.0 AND 50000.0
        |  AND o_orderstatus IN ('F', 'O')
        |ORDER BY o_orderkey""".stripMargin),
    Query("q03_conditional_impute", conditionalImpute _,
      """WITH nulled AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v_nulled,
        |    CASE WHEN user_id % 7 = 0 THEN NULL ELSE event_type END AS ty_nulled
        |  FROM events)
        |SELECT event_id, user_id,
        |  CASE WHEN v_nulled IS NULL OR isnan(v_nulled) THEN 0.0 ELSE v_nulled END AS v_imputed,
        |  COALESCE(ty_nulled, 'Unknown') AS ty_nulled
        |FROM nulled ORDER BY event_id""".stripMargin),
    // §2.3 temporal scalar functions
    Query("q04_temporal_features", temporalFeatures _,
      """SELECT o_orderkey,
        |  CAST(hour(o_orderdate) AS INTEGER) AS hour_of_day,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS day_of_week,
        |  CAST(month(o_orderdate) AS INTEGER) AS month_of_year,
        |  CAST(year(o_orderdate) AS INTEGER) AS year_of_date
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    // §2.4 aggregations
    Query("q05_group_count", groupCount _,
      """SELECT o_orderstatus, COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Query("q06_multi_agg", multiAgg _,
      """SELECT l_returnflag, l_linestatus,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS DOUBLE) AS avg_qty,
        |  MIN(l_extendedprice) AS min_price,
        |  MAX(l_extendedprice) AS max_price,
        |  ROUND(SQRT((CAST(SUM(CAST(CAST(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4)) AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE)
        |    - CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*))
        |    / (COUNT(*) - 1)), 4) AS std_price
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q07_global_means", globalMeans _,
      """SELECT
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS DOUBLE) AS mean_quantity,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_extendedprice) AS DOUBLE) AS mean_extendedprice,
        |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount) AS DOUBLE) AS mean_discount,
        |  CAST(CAST(SUM(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_tax) AS DOUBLE) AS mean_tax
        |FROM lineitem""".stripMargin),
    Query("q08_medians", medians _,
      """SELECT
        |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_totalprice,
        |  ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25_totalprice,
        |  ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75_totalprice
        |FROM orders""".stripMargin),
    Query("q09_null_census", nullCensus _,
      """WITH ev AS (
        |  SELECT *, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v_nulled
        |  FROM events)
        |SELECT
        |  COUNT(CASE WHEN event_id IS NULL THEN 1 END) AS nulls_event_id,
        |  COUNT(CASE WHEN ts IS NULL THEN 1 END) AS nulls_ts,
        |  COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS nulls_user_id,
        |  COUNT(CASE WHEN event_type IS NULL THEN 1 END) AS nulls_event_type,
        |  COUNT(CASE WHEN value IS NULL THEN 1 END) AS nulls_value,
        |  COUNT(CASE WHEN props IS NULL THEN 1 END) AS nulls_props,
        |  COUNT(CASE WHEN v_nulled IS NULL THEN 1 END) AS nulls_v_nulled
        |FROM ev""".stripMargin),
    Query("q10_describe_stats", describeStats _,
      """SELECT COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(c_acctbal) AS DOUBLE) AS mean_acctbal,
        |  MIN(c_acctbal) AS min_acctbal,
        |  MAX(c_acctbal) AS max_acctbal,
        |  COUNT(DISTINCT c_mktsegment) AS n_segments
        |FROM customer""".stripMargin),
    // joins / set ops (§2.5 — required by the generalized oracle)
    Query("q11_join_revenue_nation", joinRevenuePerNation _,
      """SELECT n.n_name AS nation, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY nation""".stripMargin),
    Query("q12_join_left_outer", joinLeftOuter _,
      """SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey, c.c_name ORDER BY c.c_custkey""".stripMargin),
    Query("q13_join_semi_anti", joinSemiAnti _,
      """WITH big AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 40000.0)
        |SELECT c_custkey, 'has_big_order' AS bucket FROM customer
        |  WHERE c_custkey IN (SELECT o_custkey FROM big)
        |UNION ALL
        |SELECT c_custkey, 'no_big_order' AS bucket FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM big)
        |ORDER BY c_custkey""".stripMargin),
    Query("q14_union_distinct", unionDistinct _,
      """SELECT DISTINCT o_orderkey FROM (
        |  SELECT o_orderkey FROM orders WHERE o_totalprice > 45000.0
        |  UNION ALL
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY o_orderkey""".stripMargin),
    // §2.6 sorts / limits / windows
    Query("q15_orderby_limit", orderByLimit _,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),
    Query("q16_window_topk", windowTopKPerGroup _,
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin),
    Query("q17_window_running_sum", windowRunningSum _,
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events ORDER BY user_id, event_id""".stripMargin),
    Query("q18_window_lag", windowLag _,
      """SELECT user_id, event_id,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(LAG(ts, 1) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP)) AS DOUBLE) / 1e6 AS gap_s
        |FROM events ORDER BY user_id, event_id""".stripMargin),
    // reshaping / semi-structured / event-time
    Query("q19_pivot_matrix", pivotMatrix _,
      """SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q20_json_extract", jsonExtract _,
      """SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin),
    Query("q21_tumbling_window", tumblingWindowAgg _,
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin),
    // q16 semantics through the custom TopKPerKey physical operator
    // (LogicalPlan + SparkStrategy + SparkPlan via SparkSessionExtensions)
    Query("q69_topk_exec", topkExecPerGroup _,
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders)
        |WHERE rk <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin),
    // full outer join with unmatched rows on both sides
    Query("q78_join_full_outer", joinFullOuter _,
      """WITH c AS (SELECT c_custkey FROM customer WHERE c_nationkey < 5),
        |o AS (SELECT o_orderkey, o_custkey FROM orders
        |  WHERE o_totalprice > 250000.0)
        |SELECT CASE WHEN c.c_custkey IS NULL THEN 'order_only'
        |    WHEN o.o_orderkey IS NULL THEN 'customer_only'
        |    ELSE 'matched' END AS side,
        |  CAST(count(*) AS INTEGER) AS n
        |FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
        |GROUP BY 1 ORDER BY side""".stripMargin),
    // A4's approximate half: HLL++ distinct count + quantile sketch in one
    // pass — the actual 100 TB tool (exact twins: q08/q54). Approximate ⇒
    // rows-only here; error bands asserted in RelationalSpec.
    Query.rowsOnly("q81_approx_stats", approxStats _),
    // row-level set ops: INTERSECT + EXCEPT (§2.5 completion)
    Query("q84_intersect_except", intersectExcept _,
      """SELECT o_custkey, 'both' AS tag FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |UNION ALL
        |SELECT o_custkey, 'only_f' AS tag FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |ORDER BY tag, o_custkey""".stripMargin),
    // CUBE + grouping_id — all margins and the grand total in one
    // Expand+aggregate pass (the multi-level OLAP aggregate)
    // q315: Spark's grouping_id bit order is first-listed = most
    // significant; NULLS FIRST pinned (Spark ASC default vs DuckDB's
    // nulls-last). SUM(INTEGER) is HUGEINT in DuckDB — cast at output.
    Query("q315_cube_agg", (s, d) => cubeAgg(s, d),
      """SELECT CAST(2 * GROUPING(source) + GROUPING(lang) AS INTEGER)
        |    AS gmask,
        |  source, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE (source, lang)
        |ORDER BY gmask, source NULLS FIRST, lang NULLS FIRST""".stripMargin),
    // Spark 4 VARIANT: parse_json once into the binary type, typed
    // path extraction via variant_get, aggregate over the typed value
    Query("q316_variant_extract", (s, d) => variantExtract(s, d),
      """SELECT event_type, COUNT(*) AS n,
        |  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER))
        |    AS k_min,
        |  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER))
        |    AS k_max,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS k_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Dataset.observe: data-quality counters riding the production
    // action's scan via CollectMetrics — zero extra jobs at 100 TB
    // q322: the oracle recomputes the observed counters directly; the
    // engine side must deliver the identical values out of the
    // CollectMetrics accumulator (DECIMAL-routed sum, exact count/range)
    Query("q322_observe_metrics", (s, d) => observeMetrics(s, d),
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_flag_r,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_qty,
        |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
        |  CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_groups
        |FROM lineitem WHERE l_quantity > 10""".stripMargin),
    // Spark 4 collations: case-insensitive grouping via UTF8_LCASE —
    // the type carries the semantics, no lower() rewrite tax
    // q316: the oracle extracts the same typed path with DuckDB's JSON
    // functions — values must agree, the engine-side encoding (VARIANT
    // vs string re-parse) is the thing under test
    // q338: DuckDB groups by lower() — identical values iff the
    // collation is exactly case-insensitive equality
    Query("q338_collated_group", (s, d) => collatedGroup(s, d),
      """SELECT lower(src2) AS source_ci, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(COUNT(DISTINCT src2) AS INTEGER) AS n_case_variants
        |FROM (SELECT doc_id, n_chars,
        |    CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END
        |      AS src2
        |  FROM documents)
        |GROUP BY lower(src2) ORDER BY source_ci""".stripMargin),
  )
}
