package graft.analytics

import graft.Query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import Relational.{dsum, davg}

/** Advanced relational operators beyond the reference's surface — the query
  * shapes a production Spark warehouse relies on that SURVEY.md §2.5 notes
  * the reference never exercises: multi-level aggregation (ROLLUP/CUBE),
  * as-of and range joins, batch sessionization (gaps-and-islands), ranking
  * windows, frame-based first/last, grouped exact quantiles, and the
  * string/array scalar-function families.
  *
  * Every query here is DuckDB-oracle-checked (bit-exact): floating
  * aggregates go through Relational.dsum; time arithmetic stays in integer
  * microseconds until one final double division; sort keys are never
  * nullable (Spark default NULLS FIRST vs DuckDB NULLS LAST would silently
  * reorder).
  *
  * Scale notes per operator live on each method.
  */
object Advanced {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** ROLLUP aggregation — detail, per-status subtotal, grand total in ONE
    * pass (Catalyst expands grouping sets into a single Expand + hash agg:
    * no extra scans, partial aggregation still applies). Grouping columns
    * are coalesced to 'ALL' so sort keys stay non-null. */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast(IntegerType).as("lvl"),
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("revenue"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("lvl"), col("n"), col("revenue"))
      .orderBy("lvl", "status", "priority")

  /** CUBE aggregation — all 2^k grouping-set combinations in one Expand +
    * hash agg pass. */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast(IntegerType).as("lvl"),
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("lvl"), col("n"), col("sum_qty"))
      .orderBy("lvl", "returnflag", "linestatus")

  /** Arbitrary GROUPING SETS — the general form rollup/cube specialize
    * (one Expand + single hash-agg pass, same as ROLLUP/CUBE; no
    * per-set re-scan). The set list is deliberately asymmetric —
    * ((status, priority), (priority), ()) — a shape neither rollup nor
    * cube can produce. */
  def groupingSetsAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast(IntegerType).as("lvl"),
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("revenue"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("lvl"), col("n"), col("revenue"))
      .orderBy("lvl", "status", "priority")

  /** q76: ordered conversion funnel (view → click → purchase) — each stage
    * counts users whose first qualifying event happens strictly AFTER
    * their previous stage's first event. Three aggregate+join rounds, each
    * shuffling only (user, ts) pairs; the event scan is filtered per stage
    * so no stage reads more than its own event type. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
      col("ts"))
    val tv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("tv"))
    val tc = ev.filter(col("event_type") === "click").join(tv, "user_id")
      .filter(col("ts") > col("tv"))
      .groupBy("user_id").agg(min("ts").as("tc"))
    val tp = ev.filter(col("event_type") === "purchase").join(tc, "user_id")
      .filter(col("ts") > col("tc"))
      .groupBy("user_id").agg(min("ts").as("tp"))
    def stage(df: DataFrame, n: Int, step: String) =
      df.agg(count(lit(1)).cast(IntegerType).as("n_users"))
        .select(lit(n).as("stage"), lit(step).as("step"), col("n_users"))
    stage(tv, 1, "view")
      .unionByName(stage(tc, 2, "click"))
      .unionByName(stage(tp, 3, "purchase"))
      .orderBy("stage")
  }

  /** As-of join: for every `click` event, the most recent `error` event of
    * the same user at-or-before it — the standard point-in-time lookup.
    *
    * Implementation is the UNION + ordered-window form, not a per-row
    * backward probe: tag both streams, sort within user by (ts, tag), and
    * carry the last non-null error timestamp forward. One shuffle on
    * user_id, O(n log n_partition) local sort, no join explosion — at
    * 100 TB this is the only as-of shape that doesn't build a per-key
    * index or cross product. Ties (error.ts == click.ts) count as "before",
    * which ordering by tag (errors first) encodes. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("tag"),
        lit(null).cast(TimestampType).as("err_ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("tag"),
        col("ts").as("err_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(errors)
      .withColumn("last_err_ts", last(col("err_ts"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"),
        ((unix_micros(col("ts")) - unix_micros(col("last_err_ts")))
          .cast(DoubleType) / 1e6).as("asof_gap_s"))
      .orderBy("event_id")
  }

  /** Range join: pairs of same-user events within one hour of each other,
    * via BUCKETED equi-join — each left row fans out to its hour bucket ± 1
    * and joins on (user, bucket), then the exact |Δt| ≤ 1h predicate
    * filters. Turns an inequality join (Spark: broadcast-nested-loop, the
    * at-scale killer) into a hash join whose fan-out is a constant 3×.
    * Each qualifying pair matches on exactly one bucket value, so no
    * dedup pass is needed. */
  def rangeJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    val rangeS = 3600L
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("bkt", floor(col("us") / (rangeS * 1000000L)))
    val left = ev.select(col("user_id"), col("event_id").as("event_a"),
        col("us").as("us_a"),
        explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("jb"))
    val right = ev.select(col("user_id"), col("event_id").as("event_b"),
      col("us").as("us_b"), col("bkt").as("jb"))
    left.join(right, Seq("user_id", "jb"))
      .filter(col("event_a") < col("event_b") &&
        abs(col("us_a") - col("us_b")) <= rangeS * 1000000L)
      .select(col("user_id"), col("event_a"), col("event_b"),
        ((col("us_b") - col("us_a")).cast(DoubleType) / 1e6).as("gap_s"))
      .orderBy("user_id", "event_a", "event_b")
  }

  /** Batch sessionization (gaps-and-islands): a new session starts when the
    * in-user gap exceeds 2 h; session id = running count of session starts.
    * Two windows over ONE shuffle on user_id (same partitioning, same
    * ordering — Spark reuses the sort), then a hash agg. The batch twin of
    * streaming EventStream.sessionize. */
  def sessionizeBatch(s: SparkSession, dir: String): DataFrame = {
    val gapS = 7200L
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
      .withColumn("brk",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapS * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_idx", sum(col("brk")).over(wRun).cast(IntegerType))
      .groupBy("user_id", "session_idx")
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .orderBy("user_id", "session_idx")
  }

  /** q178: TOP SESSION PATHS — user-journey mining: each session (q50's
    * 2-hour-gap islands) collapses to its ordered event-type path
    * ('view>click>purchase'), and the global top-k paths by frequency
    * are the behavioral patterns product analytics ranks. Path assembly
    * is deterministic: events sort on the unique (epoch-micros,
    * event_id) key inside each session (array_sort over structs — the
    * same total-order rule as every window in this engine), so both
    * engines build identical strings. Shape at 100 TB: one user-keyed
    * window shuffle (shared by the lag and the running sum), one
    * session-keyed agg, then a path-keyed count whose cardinality is the
    * number of DISTINCT journeys — tiny — before the global top-k. */
  def sessionPaths(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val gapS = 7200L // q50's session gap
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
      .withColumn("brk",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapS * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_idx", sum(col("brk")).over(wRun))
      .groupBy("user_id", "session_idx")
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(
          unix_micros(col("ts")).as("us"), col("event_id").as("eid"),
          col("event_type").as("et")))),
        x => x.getField("et"))).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).cast(IntegerType).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  /** q179: MARKOV NEXT-EVENT EVALUATION — q117's transition matrix used
    * as a MODEL and properly evaluated: transitions from TRAIN users
    * (the q160 md5-bucket rule on user_id — 80/20, reproducible) fit the
    * per-state argmax predictor (count desc, type asc tie-break), which
    * is then scored on the HELD-OUT users' transitions. Per current
    * state: eval transitions, correct predictions, and accuracy as one
    * division of exact integers — the train/test protocol every
    * behavioral model follows, entirely in-plan. The model is
    * |states|² rows (broadcast); the eval side is one window pass over
    * the held-out slice. The argmax's rank-1 filter is exactly the shape
    * RewriteWindowTopK lowers to a bounded heap. */
  def markovEval(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val bucket = pmod(
      graft.functions.TextPrims.hex60C(md5(col("user_id").cast(StringType))),
      lit(100L))
    val pairs = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .withColumn("is_train", bucket < 80)
    val wRk = Window.partitionBy("cur")
      .orderBy(col("n").desc, col("next_type"))
    val model = pairs.filter(col("is_train"))
      .groupBy(col("event_type").as("cur"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(wRk))
      .filter(col("rk") === 1)
      .select(col("cur"), col("next_type").as("pred"))
    pairs.filter(!col("is_train"))
      .join(broadcast(model), col("event_type") === col("cur"), "left")
      .groupBy("event_type")
      .agg(count(lit(1)).cast(IntegerType).as("n_transitions"),
        sum(when(col("next_type") === col("pred"), 1).otherwise(0))
          .cast(IntegerType).as("n_correct"))
      .withColumn("accuracy",
        col("n_correct").cast(DoubleType) / col("n_transitions"))
      .orderBy("event_type")
  }

  /** Ranking-window family: ntile quartile, percent_rank, cume_dist over a
    * deterministic total order — WITHOUT the single-partition window trap.
    *
    * `Window.orderBy` with no partitionBy compiles to a SinglePartition
    * WindowExec: every row flows through ONE task (unpartitioned windows do
    * NOT get the range exchange that global orderBy gets). Instead this is
    * the classic two-pass distributed ranking:
    *   1. range-partition on the (unique) order key and stamp each row with
    *      its physical partition id;
    *   2. count rows per partition (one tiny O(#partitions) collect) and
    *      turn the counts into broadcast cumulative offsets;
    *   3. per-partition local sort (sortWithinPartitions — NO exchange) +
    *      a mapPartitions index stamp + offset = exact global rank, at
    *      full parallelism.
    * ntile/percent_rank/cume_dist are then pure arithmetic on (rank, N).
    * The frame is localCheckpoint'ed so both passes read ONE materialized
    * copy — identical partition placement guaranteed, no double scan. The
    * checkpointed blocks stay cached until the session ends (they cannot
    * be freed eagerly: the returned lazy DataFrame reads them) — at scale,
    * callers batching many such queries should unpersist the input's
    * cached RDDs between batches.
    *
    * Step 3 is deliberately mapPartitions, not a pid-partitioned window:
    * the checkpoint's range layout already co-locates each pid, but its
    * RANGE partitioning metadata (by price,key) can't prove
    * hashpartitioning(pid) to Catalyst, so a window would add a redundant
    * full-data exchange (verified via explain — round-3 finding). A local
    * running index over already-sorted partitions is genuine per-partition
    * imperative logic, the one case where mapPartitions is the right tool.
    *
    * Requires a tie-broken (globally unique) ordering key, which
    * (o_totalprice, o_orderkey) is — with unique keys rank == row_number
    * and cume_dist == rank/N, exactly the window semantics. */
  def ntileRanks(s: SparkSession, dir: String): DataFrame =
    ntileRanksOf(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
      s.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  /** Core of [[ntileRanks]] over any (o_orderkey, o_totalprice) frame —
    * separated so specs can drive the n%k!=0 and degenerate n<=k branches
    * against Spark's own window functions as a semantic oracle. */
  private[graft] def ntileRanksOf(orders: DataFrame, parts: Int): DataFrame = {
    val ranged = orders
      .repartitionByRange(parts, col("o_totalprice"), col("o_orderkey"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    // pass 1: per-partition counts → exclusive cumulative offsets (≤ parts
    // rows on the driver — O(#partitions), never O(rows))
    val counts = ranged.groupBy("pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val n = counts.map(_._2).sum
    val offsets: Map[Int, Long] =
      counts.scanLeft((0, 0L)) { case ((_, acc), (pid, c)) => (pid, acc + c) }
        .init.zip(counts).map { case ((_, off), (pid, _)) => pid -> off }.toMap
    // ntile(k): first N%k buckets get N/k+1 rows, the rest N/k
    val k = 4L
    val q = n / k; val r = n % k
    val qq = math.max(q, 1L) // else-branch divisor; unreachable when q == 0
    // pass 2: local sort (no exchange) + running-index stamp + offsets
    val sorted = ranged
      .sortWithinPartitions(col("o_totalprice"), col("o_orderkey"))
    val stamped = sorted.mapPartitions { it =>
      var i = 0L
      it.map { row => i += 1; org.apache.spark.sql.Row.fromSeq(row.toSeq :+ i) }
    }(org.apache.spark.sql.Encoders.row(sorted.schema.add("lrn", LongType)))
    stamped
      .withColumn("off",
        coalesce(element_at(typedLit(offsets), col("pid")), lit(0L)))
      .withColumn("rn", col("lrn") + col("off"))
      .withColumn("quartile",
        when(lit(n) <= k, col("rn").cast(IntegerType)) // degenerate N<=k
          .when(col("rn") <= lit(r * (q + 1)),
            (((col("rn") - 1) - pmod(col("rn") - 1, lit(q + 1))) / (q + 1)
              + 1).cast(IntegerType))
          .otherwise({
            val past = col("rn") - lit(r * (q + 1)) - 1
            (lit(r) + (past - pmod(past, lit(qq))) / qq + 1).cast(IntegerType)
          }))
      .withColumn("pct_rank",
        round((col("rn") - 1).cast(DoubleType) / math.max(n - 1, 1L), 6))
      .withColumn("cume", round(col("rn").cast(DoubleType) / n, 6))
      .select(col("o_orderkey"), col("o_totalprice"),
        col("quartile"), col("pct_rank"), col("cume"))
      .orderBy("o_orderkey")
  }

  /** UNPIVOT / melt — wide metric columns → (key, metric, value) rows,
    * the inverse of q19's pivot and the standard step feeding
    * metric-generic downstream operators (per-metric quantiles, anomaly
    * scans). Compiles to ONE Expand pass over the scan: no shuffle, no
    * join, output = rows × #metrics — the only exchange is the final
    * deterministic output ordering. */
  def unpivotMetrics(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "metric", "value")
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem —
      // value joins the sort so the output order is total
      .orderBy("l_orderkey", "l_linenumber", "metric", "value")

  /** Event-time sliding aggregate via a RANGE window frame: per customer,
    * the rolling 30-day order count/revenue at each order. RANGE frames
    * are value-based (peers included), so the result is deterministic
    * under ties without any tie-break column. Time stays in integer epoch
    * days on BOTH engines (no interval arithmetic to diverge); revenue
    * sums through DECIMAL(18,4) (dsum). One hash exchange on o_custkey +
    * one in-partition sort — the standard event-time sliding-window shape
    * at any scale. */
  def rollingRevenue30d(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("d")).rangeBetween(-30, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("d", datediff(col("o_orderdate").cast(DateType),
        to_date(lit("1970-01-01"))))
      .withColumn("n_30d", count(lit(1)).over(w).cast(IntegerType))
      .withColumn("rev_30d", // dsum's decimal-sum, windowed
        sum(col("o_totalprice").cast(DecimalType(18, 4))).over(w)
          .cast(DoubleType))
      .select("o_orderkey", "o_custkey", "n_30d", "rev_30d")
      .orderBy("o_orderkey")
  }

  /** String scalar-function family over customer names (length, case,
    * substring, replace, pad, split, regexp extraction) — all codegen'd
    * built-ins, no UDFs (SURVEY §2.11 policy). */
  def stringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"),
        length(col("c_name")).as("name_len"),
        upper(expr("replace(c_name, 'Customer#', 'C-')")).as("renamed"),
        expr("right(c_name, 3)").as("last3"),
        lpad(col("c_custkey").cast(StringType), 8, "0").as("padded"),
        expr("split_part(c_name, '#', 2)").as("num_part"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("tagged"))
      .orderBy("c_custkey")

  /** Array scalar-function family over tokenized documents (size, distinct,
    * sort, slice, join, membership) — the higher-order-function surface a
    * text pipeline leans on. */
  def arrayFuncs(s: SparkSession, dir: String): DataFrame = {
    val tk = graft.functions.TextPrims.tokensC(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(tk).as("n_tokens"),
        size(array_distinct(tk)).as("n_distinct"),
        array_join(slice(array_sort(array_distinct(tk)), 1, 3), " ")
          .as("first3_sorted"),
        array_contains(tk, "the").cast(IntegerType).as("has_the"))
      .orderBy("doc_id")
  }

  /** Grouped EXACT quantiles (median/p25/p75 per group) — exact percentile
    * so the result is merge-order-independent (SURVEY §7.4 risk 4), unlike
    * approxQuantile. */
  def groupedQuantiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"),
        round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25_price"),
        round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75_price"))
      .orderBy("o_orderstatus")

  /** Scalar-subquery pattern decorrelated by hand: orders above their
    * customer's own average price. Aggregate once, join back — the
    * decorrelation Catalyst itself would apply to the correlated SQL form,
    * made explicit. Exact decimal mean on both sides. */
  def aboveCustomerAvg(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    // NOT rounded: Spark rounds doubles HALF_UP, DuckDB HALF_EVEN — they
    // disagree at .5 boundaries. The unrounded mean is already bit-exact
    // on both sides (identical decimal sum, identical single division).
    val avgs = o.groupBy(col("o_custkey").as("ck"))
      .agg(davg(col("o_totalprice")).as("cust_avg"))
    o.join(avgs, o("o_custkey") === avgs("ck"))
      .filter(col("o_totalprice") > col("cust_avg"))
      .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
      .orderBy("o_orderkey")
  }

  /** Frame-based first/last window values: each customer's first and last
    * order key over the full partition frame, emitted once per customer via
    * row_number — one shuffle + one local sort serves all four windows
    * (same partitioning and ordering). */
  def firstLastWindow(s: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "orders")
      .withColumn("first_order", first(col("o_orderkey")).over(full))
      .withColumn("last_order", last(col("o_orderkey")).over(full))
      .withColumn("n_orders", count(lit(1)).over(full))
      .withColumn("rn", row_number().over(ord))
      .filter(col("rn") === 1)
      .select("o_custkey", "first_order", "last_order", "n_orders")
      .orderBy("o_custkey")
  }

  /** Salted two-phase aggregation — the skew-mitigation shape: a hot group
    * key is sharded across `salts` sub-keys for the first (wide) aggregation,
    * then the per-salt partials are combined in a second, tiny aggregation.
    * The result is bit-identical to the direct groupBy because every
    * aggregate here is decomposable and the sums are exact decimals — which
    * is exactly what makes salting safe to apply mechanically at 100 TB
    * (AQE's skew handling does the same thing for joins; for aggregations
    * over a pathological key this manual form is still the tool). */
  def saltedAgg(s: SparkSession, dir: String, salts: Int = 16): DataFrame =
    t(s, dir, "lineitem")
      .withColumn("salt", pmod(col("l_orderkey"), lit(salts)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("l_extendedprice").cast(DecimalType(18, 4))).as("psum"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("pn")).as("n"),
        sum(col("psum")).cast(DoubleType).as("sum_price"))
      .orderBy("l_returnflag")

  /** Grouped MULTI-DISTINCT aggregation — several COUNT(DISTINCT …) over
    * different columns plus plain aggregates in ONE logical pass. This is
    * its own plan shape: Catalyst rewrites n distinct aggregates into an
    * Expand (one row replica per distinct group) + two-level hash
    * aggregation, so the input is scanned ONCE however many distinct
    * columns are requested — the naive alternative (one self-join per
    * distinct column) is n scans and n-1 joins. At 100 TB the Expand
    * multiplies shuffle rows by the distinct-column count; that is the
    * knowable, bounded cost of this shape and still beats n full scans. */
  def multiDistinctAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")

  /** Salted SKEWED JOIN — the join-side twin of [[saltedAgg]]: the big
    * (skewed) side gets a deterministic per-row salt, the small side is
    * replicated across all `salts` sub-keys (explode over a literal
    * range — `salts`× its size, fine for a dimension), and the join key
    * becomes (key, salt) so one hot key's rows spread over `salts`
    * reducers instead of one straggler. Result is bit-identical to the
    * unsalted join (the oracle IS the unsalted join): every row still
    * meets its one matching dimension row, just in a finer bucket. AQE's
    * skew-join split does this adaptively for sort-merge joins; the manual
    * form remains the tool when the skew is known ahead of time or the
    * join is hash-partitioned by an upstream stage. */
  def saltedJoin(s: SparkSession, dir: String, salts: Int = 8): DataFrame = {
    // per-ROW salt: hashing the full (orderkey, linenumber) pair — hashing
    // a low-cardinality column alone (l_linenumber has 7 values) would cap
    // the fan-out at 7 buckets no matter how large `salts` is
    val big = t(s, dir, "lineitem")
      .withColumn("salt",
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salts.toLong)))
    // merge hint: at fixture scale Catalyst would broadcast the dim — and a
    // broadcast join has no skew problem to salt. Salting exists precisely
    // for the shuffle-join regime (dim too big to broadcast), so pin the
    // sort-merge shape the 100 TB case would take and let the plan show the
    // (key, salt) exchange spreading each hot key over `salts` reducers.
    val dim = t(s, dir, "orders").hint("merge")
      .withColumn("salt", explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
    big.join(dim, big("l_orderkey") === dim("o_orderkey") &&
        big("salt") === dim("salt"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** UPSERT / SCD-1 snapshot merge — `base ∪ updates`, updates win per
    * key: the daily-snapshot maintenance op every warehouse runs (the
    * relational core of MERGE INTO). Updates here are a deterministic
    * derivation of the base table (every 10th order, repriced) so both
    * engines construct identical inputs. Shape: union (no shuffle) + ONE
    * hash exchange on the key for the row_number window — at 100 TB the
    * union sides never co-shuffle separately, and if the base snapshot is
    * bucketed by key the exchange only moves the (small) update side. */
  def upsertSnapshot(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .withColumn("src", lit(0))
    val updates = t(s, dir, "orders")
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 1.1).as("o_totalprice"))
      .withColumn("src", lit(1))
    val w = Window.partitionBy("o_orderkey").orderBy(col("src").desc)
    base.unionByName(updates)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Fixed-width histogram — value → bin id via integer floor division,
    * count + mass per bin. The profiling op behind every numeric-column
    * summary at scale: a narrow codegen'd map plus one low-cardinality
    * hash aggregate (bins ≪ rows, so partial aggregation collapses the
    * shuffle to ~|bins| rows per task). Bin width is a parameter, not a
    * data-dependent min/max, so the query is ONE pass. */
  def histogram(s: SparkSession, dir: String, width: Double = 5000.0): DataFrame =
    t(s, dir, "lineitem")
      .withColumn("bin", floor(col("l_extendedprice") / lit(width)).cast(LongType))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("bin")

  /** INCREMENTAL VIEW MAINTENANCE — the decomposable-aggregate merge that
    * keeps a materialized aggregate current without rescanning history:
    * the pre-cutoff "snapshot" holds per-group PARTIAL state (count +
    * exact decimal sum), the post-cutoff "delta" computes the same
    * partials over new data only, and the final view is one tiny merge
    * agg over |groups| rows. The oracle is the full recompute over all
    * data — identical by decomposability (sums of sums, counts of
    * counts). At 100 TB this is THE pattern for daily aggregate refresh:
    * the snapshot is |groups|-sized (read, not rescanned), only the
    * day's partition is scanned, and avg/stddev extend the same way via
    * (n, Σx, Σx²) partials. */
  def incrementalAgg(s: SparkSession, dir: String,
                     cutoff: String = "1997-06-01"): DataFrame = {
    val o = t(s, dir, "orders")
    def partials(df: DataFrame) = df
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("pn"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).as("ps"))
    val snapshot = partials(o.filter(col("o_orderdate") < lit(cutoff)))
    val delta    = partials(o.filter(col("o_orderdate") >= lit(cutoff)))
    snapshot.unionByName(delta)
      .groupBy("o_orderstatus")
      .agg(sum(col("pn")).as("n_orders"),
        sum(col("ps")).cast(DoubleType).as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** TIME-SERIES RESAMPLE + GAP FILL — aggregate to an hourly grid, then
    * densify onto a generated spine (`sequence` + `explode`) so empty
    * hours exist as rows, and forward-fill a measure across gaps with
    * `last(ignoreNulls)` — the standard feature-prep shape for
    * regular-interval models. Scale split: the AGGREGATION runs over all
    * events (hash shuffle, partial agg — the 100 TB part); the spine and
    * fill run over |hours| rows (8,760/year — driver-trivial forever),
    * which is why the single-partition fill window is fine: it orders
    * the SPINE, never the events. */
  def resampleFill(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val hourly = e
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    val spine = e
      .agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 hour"))).as("hour"))
    val w = Window.orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("hour"), "left")
      .withColumn("filled_sum",
        last(col("sum_value"), ignoreNulls = true).over(w))
      .select(col("hour"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"),
        col("filled_sum"))
      .orderBy("hour")
  }

  /** SLIDING EXACT DISTINCT (trailing 7-day active users) — distinct
    * counts don't decompose over sliding windows, so the scalable exact
    * form is: dedup to (day, user) pairs ONCE (one shuffle over events,
    * output ≪ input), then EXPLODE each pair onto the ≤7 window days it
    * serves and count distinct per day. No join at all — a map-side
    * expansion bounded at 7× the (already small) pair set, then one
    * distinct agg. The alternative spine range join compares every pair
    * against every spine day inside a nested-loop join; the explode form
    * does O(7) work per pair regardless of history length. The 1-row
    * bounds frame is broadcast to cap the expansion at the data's last
    * day (mirrors the oracle's spine upper bound). */
  def slidingDistinctUsers(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val pairs = e.select(to_date(col("ts")).as("pday"), col("user_id")).distinct()
    val bounds = e.agg(max(to_date(col("ts"))).as("hi"))
    pairs.crossJoin(broadcast(bounds))
      .withColumn("day", explode(sequence(col("pday"),
        least(date_add(col("pday"), 6), col("hi")), expr("interval 1 day"))))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("active_users_7d"))
      .orderBy("day")
  }

  /** Z-SCORE OUTLIER PROFILE — per-group moments and 3σ outlier counts,
    * the data-quality scan every ingest pipeline runs. Cross-engine
    * bit-exactness via the LloydExact recipe: both moments come from
    * EXACT decimal sums (Σx in DECIMAL(18,4), Σx² in DECIMAL(38,8) —
    * x² is one IEEE double multiply, identical everywhere), and the
    * float math after the agg is the same fixed expression tree on both
    * engines, so even the |z|>3 boundary filter agrees exactly. One
    * scan, one partial+final hash agg on the group key, then a second
    * pass for the outlier count against broadcast group stats. */
  def zscoreOutliers(s: SparkSession, dir: String): DataFrame =
    zscoreOutliersOf(
      t(s, dir, "events").select(col("event_type"), col("value")))

  /** q191: MAD OUTLIERS — the robust twin of q93: median / median-
    * absolute-deviation replace mean / std, so a handful of extreme
    * values cannot drag the very thresholds meant to catch them (the
    * z-score masking effect). Flags |v − median| > k·MAD per group.
    *
    * Determinism: values quantize to integer MICRO-units through
    * DECIMAL(18,6) (the q140 rulebook), so every percentile
    * interpolation midpoint (k or k.5 or k.25 micro-units) is exactly
    * representable and Spark `percentile` ≡ DuckDB `quantile_cont`
    * bit-for-bit (the q121 precedent); the k·MAD boundary compares
    * identical doubles, and the reported median/MAD are the raw
    * divisions — never re-rounded (HALF_UP vs HALF_EVEN, the q55
    * precedent).
    *
    * Shape at 100 TB: exact rank statistics cost two passes by
    * construction (median, then deviation median) plus the flag pass —
    * each a hash-agg/broadcast-join chain, nothing quadratic; the
    * at-scale monitoring default swaps `approx_percentile` into the
    * same frame (the q81/q152 approximate-twin pattern). */
  def madOutliers(s: SparkSession, dir: String, k: Double = 3.0): DataFrame =
    madOutliersBy(
      t(s, dir, "events").select(col("event_type"), col("value")),
      Seq("event_type"), k)

  /** Generic core of [[madOutliers]]/[[seasonalAnomaly]]: robust
    * median/MAD outlier census per arbitrary key set over a frame with
    * the key columns and `value`. */
  private[graft] def madOutliersBy(in: DataFrame, keys: Seq[String],
                                   k: Double = 3.0): DataFrame = {
    val vq = (col("value").cast(DecimalType(18, 6)) * 1000000)
      .cast(LongType)
    val kc = keys.map(col)
    val e = in.select(kc :+ vq.as("vq"): _*)
    val med = e.groupBy(kc: _*)
      .agg(expr("percentile(vq, 0.5)").as("med"))
    val dev = e.join(broadcast(med), keys)
      .withColumn("ad", abs(col("vq").cast(DoubleType) - col("med")))
    val mad = dev.groupBy(kc: _*)
      .agg(count(lit(1)).as("n"), expr("percentile(ad, 0.5)").as("madv"))
    val out = dev
      .join(broadcast(mad.select(kc :+ col("madv"): _*)), keys)
      .filter(col("ad") > lit(k) * col("madv"))
      .groupBy(kc: _*).agg(count(lit(1)).as("n_outliers"))
    med.join(mad, keys)
      .join(out, keys, "left")
      .withColumn("no", coalesce(col("n_outliers"), lit(0L)))
      .select(kc ++ Seq(col("n").cast(IntegerType).as("n"),
        (col("med") / 1000000.0).as("median"),
        (col("madv") / 1000000.0).as("mad"),
        col("no").cast(IntegerType).as("n_outliers"),
        (col("no").cast(DoubleType) / col("n")).as("outlier_ratio")): _*)
      .orderBy(kc: _*)
  }

  /** q203: WELCH PAIRWISE T-TESTS — for every pair of event types, the
    * Welch (unequal-variance) two-sample t statistic on `value` and its
    * Welch–Satterthwaite degrees of freedom: the A/B-comparison matrix
    * an experimentation pipeline reads before trusting a mean
    * difference. Reported as the raw statistic + df (the p-value lookup
    * is a client-side table; the distributed work is the moments).
    *
    * Exact-moment discipline (q93/q197): one DECIMAL moment hash-agg
    * over the fact table; the |types|² pair expansion and the t/df
    * algebra run on the tiny stats frame with fixed IEEE expressions —
    * bit-identical cross-engine, reported raw (never re-rounded). */
  def welchPairs(s: SparkSession, dir: String): DataFrame = {
    val stats = t(s, dir, "events").groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).as("sx"),
        sum((col("value") * col("value")).cast(DecimalType(38, 8))).as("sxx"))
      .withColumn("mean", col("sx").cast(DoubleType) / col("n"))
      .withColumn("vr", when(col("n") > 1,
        (col("sxx").cast(DoubleType) - col("mean") * col("mean") * col("n"))
          / (col("n") - 1)))
      .select(col("event_type"), col("n"), col("mean"), col("vr"))
    val a = stats.select(col("event_type").as("type_a"), col("n").as("na"),
      col("mean").as("ma"), col("vr").as("va"))
    val b = stats.select(col("event_type").as("type_b"), col("n").as("nb"),
      col("mean").as("mb"), col("vr").as("vb"))
    val sa = col("va") / col("na")
    val sb = col("vb") / col("nb")
    val se2 = sa + sb
    a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        col("na").cast(IntegerType).as("n_a"),
        col("nb").cast(IntegerType).as("n_b"),
        ((col("ma") - col("mb")) / sqrt(se2)).as("t_stat"),
        (se2 * se2 / (sa * sa / (col("na") - 1) + sb * sb / (col("nb") - 1)))
          .as("df"))
      .orderBy("type_a", "type_b")
  }

  /** Benford expected first-digit probabilities log₁₀(1 + 1/d), as
    * 12-dp literals shared by the Spark side and the oracle — identical
    * by construction, no runtime log needed. */
  private[graft] val BenfordP: Seq[(Int, Double)] = (1 to 9).map(d =>
    d -> BigDecimal(math.log10(1.0 + 1.0 / d))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** q204: BENFORD FIRST-DIGIT AUDIT — the classic fabricated-data /
    * anomaly screen: the first significant digit of naturally occurring
    * amounts follows P(d) = log₁₀(1+1/d); strong deviation flags
    * synthetic or manipulated figures. Run over order totals: observed
    * counts per digit vs expected, with the χ² contribution per digit
    * (the spec sums them against the 15.5 / 20.1 critical values).
    *
    * Deterministic: the digit comes from the DECIMAL(18,2) string
    * rendering (identical in both engines — no log10 at runtime for
    * the digit either); expected counts are n × a shared 12-dp literal;
    * the χ² terms are fixed IEEE expressions. One hash-agg on a
    * 9-value key. */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "orders")
      .select(substring(col("o_totalprice").cast(DecimalType(18, 2))
        .cast(StringType), 1, 1).cast(IntegerType).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val exp = BenfordP.map { case (d, p) =>
      s"($d, CAST($p AS DOUBLE))" }
    val expDf = s.sql(
      s"SELECT col1 AS digit, col2 AS p FROM VALUES ${exp.mkString(", ")}")
    val tot = obs.agg(sum("n_obs").as("n"))
    obs.join(broadcast(expDf), Seq("digit"))
      .crossJoin(broadcast(tot))
      .withColumn("n_exp", col("n") * col("p"))
      .select(col("digit"), col("n_obs"),
        round(col("n_exp"), 6).as("n_exp"),
        round((col("n_obs") - col("n_exp")) * (col("n_obs") - col("n_exp"))
          / col("n_exp"), 6).as("chi2_term"))
      .orderBy("digit")
  }

  /** q223: SCALER-FIT CARD — the parameter table a feature pipeline
    * persists before serving (the fit() half of Standard/Robust
    * scaling, as DATA rather than a model object): per numeric lineitem
    * column — mean and std from exact decimal moments, median and IQR
    * from micro-unit-exact percentiles. Train-side fit, serve-side
    * lookup is exactly how production scalers avoid training-serving
    * skew; the card IS the contract. One scan: moments in one hash-agg,
    * rank stats in one percentile agg, unpivoted to a row per column. */
  def scalerFitCard(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = t(s, dir, "lineitem")
    val frames = cols.map { c =>
      val vq = (col(c).cast(DecimalType(18, 6)) * 1000000).cast(LongType)
      li.select(vq.as("vq"))
        .agg(count(lit(1)).as("n"),
          sum(col("vq").cast(DecimalType(38, 0))).as("sx"),
          sum((col("vq").cast(DecimalType(38, 0)) * col("vq"))).as("sxx"),
          expr("percentile(vq, 0.5)").as("p50"),
          expr("percentile(vq, 0.25)").as("p25"),
          expr("percentile(vq, 0.75)").as("p75"))
        .select(lit(c).as("column"),
          col("n").cast(IntegerType).as("n"),
          (col("sx").cast(DoubleType) / col("n") / 1000000.0).as("mean"),
          (sqrt((col("sxx").cast(DoubleType) -
            (col("sx").cast(DoubleType) / col("n")) *
              (col("sx").cast(DoubleType) / col("n")) * col("n"))
            / (col("n") - 1)) / 1000000.0).as("std"),
          (col("p50") / 1000000.0).as("median"),
          ((col("p75") - col("p25")) / 1000000.0).as("iqr"))
    }
    frames.reduce(_ unionByName _).orderBy("column")
  }

  /** q224: TRIMMED MEAN — the robust location estimate between q07's
    * mean (outlier-dragged) and q191's median (throws away most data):
    * drop the lowest and highest `trimPct` of each group by EXACT rank
    * and average the rest. The estimator real metric pipelines quote
    * when heavy tails are expected but the median is too coarse.
    *
    * Exact: micro-unit values, rank cuts by integer row_number against
    * integer bounds (⌊n·p⌋ trimmed per side — no float boundary), the
    * kept sum in DECIMAL(38,0), one closing division chain. One window
    * rank + one hash-agg. */
  def trimmedMean(s: SparkSession, dir: String,
                  trimPct: Double = 0.05): DataFrame = {
    val vq = (col("value").cast(DecimalType(18, 6)) * 1000000)
      .cast(LongType)
    val e = t(s, dir, "events").select(col("event_type"), vq.as("vq"),
      col("event_id"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("vq"), col("event_id"))
    val cnt = Window.partitionBy("event_type")
    // floor() then cast — a bare double→long cast truncates on the JVM
    // but ROUNDS in DuckDB's CAST; floor is floor everywhere
    val k = floor(count(lit(1)).over(cnt) * lit(trimPct)).cast(LongType)
    e.withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cnt))
      .withColumn("k", k)
      .filter(col("rk") > col("k") && col("rk") <= col("n") - col("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("vq").cast(DecimalType(38, 0))).as("sv"),
        min("vq").as("lo"), max("vq").as("hi"))
      .select(col("event_type"),
        col("n_kept").cast(IntegerType).as("n_kept"),
        (col("sv").cast(DoubleType) / col("n_kept") / 1000000.0)
          .as("trimmed_mean"),
        (col("lo") / 1000000.0).as("kept_min"),
        (col("hi") / 1000000.0).as("kept_max"))
      .orderBy("event_type")
  }

  /** q218: FK REFERENTIAL-INTEGRITY AUDIT — orphan counts for every
    * foreign-key edge of the schema (the cross-table data-quality
    * check q129's single-table audit can't see): per edge, child rows,
    * distinct child keys, and rows whose key has NO parent — the
    * join-loss a pipeline must know about before an inner join
    * silently drops them. Each edge is one anti-join whose parent key
    * side is dim-sized (broadcast); the 7-row result unions per-edge
    * single rows. */
  def fkAudit(s: SparkSession, dir: String): DataFrame = {
    val edges = Seq(
      ("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      ("lineitem.l_partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      ("customer.c_nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
        "nation", "n_nationkey"),
      ("nation.n_regionkey->region", "nation", "n_regionkey",
        "region", "r_regionkey"))
    edges.map { case (name, child, ck, parent, pk) =>
      val c = t(s, dir, child).select(col(ck).as("k"))
      val p = t(s, dir, parent).select(col(pk).as("k")).distinct()
      // NULL child keys are counted SEPARATELY, never as orphans: a
      // left_anti treats NULL as no-match (orphan) while a SQL NOT IN
      // returns NULL (kept) — filtering them out before the anti-join
      // and pairing the oracle with NOT EXISTS makes the two engines
      // agree by construction (round-9 ADVICE)
      val orphans = c.filter(col("k").isNotNull)
        .join(p, Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      c.agg(count(lit(1)).as("n_child"),
          countDistinct(col("k")).as("n_keys"),
          count(when(col("k").isNull, lit(1))).as("n_null_keys"))
        .crossJoin(orphans)
        .select(lit(name).as("edge"), col("n_child"),
          col("n_keys").cast(IntegerType).as("n_keys"),
          col("n_null_keys").cast(IntegerType).as("n_null_keys"),
          col("n_orphans").cast(IntegerType).as("n_orphans"))
    }.reduce(_ unionByName _).orderBy("edge")
  }

  /** q214: STRATIFIED K-FOLD MANIFEST — cross-validation fold
    * assignment with EXACT per-class balance: within each label,
    * examples order by a seeded hash (pseudo-random but reproducible —
    * the q160 convention) and folds deal round-robin off that order,
    * so every (label, fold) cell holds ⌈n_c/k⌉ or ⌊n_c/k⌋ examples BY
    * CONSTRUCTION — the property `sklearn.StratifiedKFold` documents,
    * here as a pure function of ids that survives re-runs and engine
    * changes. Reports the manifest cell counts (the spec asserts the
    * ±1 balance). One window per label partition + one hash-agg. */
  def stratifiedKfold(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val h = graft.functions.TextPrims.hex60C(
      md5(col("vec_id").cast(StringType)))
    val w = Window.partitionBy("label").orderBy(h, col("vec_id"))
    t(s, dir, "embeddings").select(col("label"), col("vec_id"))
      .withColumn("fold",
        pmod(row_number().over(w) - 1, lit(k)).cast(IntegerType))
      .groupBy("label", "fold").agg(count(lit(1)).as("n"))
      .select(col("label"), col("fold"), col("n").cast(IntegerType).as("n"))
      .orderBy("label", "fold")
  }

  /** q213: HASH-SKEW AUDIT — the pre-flight every large join/agg wants:
    * simulate hash-partitioning the fact table on a key over P
    * partitions (engine-neutral md5 bucket — the audit must not depend
    * on Spark's own hash so the number is portable) and report, per
    * bucket: row load, distinct keys, the load ratio vs perfect
    * balance, and the bucket's heaviest key with its count. A
    * load_ratio ≫ 1 bucket IS the straggler a q59/q87-style salting
    * fix targets — this query finds them before the job runs.
    *
    * One hash-agg to (key, count) — vocabulary-sized — then bucket
    * rollup + per-bucket argmax window on that aggregated frame; the
    * fact table is scanned once. */
  def skewAudit(s: SparkSession, dir: String, parts: Int = 32): DataFrame = {
    val keyed = t(s, dir, "orders")
      .select(col("o_custkey").as("k"))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
      .withColumn("bucket",
        pmod(graft.functions.TextPrims.hex60C(
          md5(col("k").cast(StringType))), lit(parts.toLong))
          .cast(IntegerType))
    val w = Window.partitionBy("bucket")
      .orderBy(col("cnt").desc, col("k"))
    val byBucket = keyed
      .withColumn("rk", row_number().over(w))
      .groupBy("bucket").agg(
        sum("cnt").as("n_rows"), count(lit(1)).as("n_keys"),
        max(when(col("rk") === 1, col("k"))).as("top_key"),
        max(when(col("rk") === 1, col("cnt"))).as("top_key_n"))
    val tot = byBucket.agg(sum("n_rows").as("total"))
    byBucket.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_rows"),
        col("n_keys").cast(IntegerType).as("n_keys"),
        round(col("n_rows").cast(DoubleType) * parts /
          col("total").cast(DoubleType), 6).as("load_ratio"),
        col("top_key"), col("top_key_n"))
      .orderBy("bucket")
  }

  /** q208: MANN–WHITNEY U (rank-sum) — the nonparametric complement of
    * q203's Welch t: each event type tested against the REST of the
    * stream on ranks, so heavy tails and outliers cannot fake or mask
    * a location shift. One GLOBAL tie-averaged ranking serves all
    * |types| tests (type-vs-rest shares the combined sample), with the
    * exact tie-corrected normal approximation z = (U − μ)/σ.
    *
    * Determinism: values quantize to micro-units; tie-averaged ranks
    * have exact .5 granularity, so the per-type rank sums accumulate
    * in DECIMAL(28,1) (exact, order-independent); the tie term
    * Σ(t³−t) sums in DECIMAL(38,0); the closing U/μ/σ/z algebra is a
    * fixed IEEE expression over those exact quantities.
    *
    * Shape at 100 TB: one hash-agg to per-(value, type) counts, one
    * window over the DISTINCT-value frame (vocabulary-sized, not
    * fact-sized) for cumulative ranks, one hash-agg per type. */
  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    val vq = (col("value").cast(DecimalType(18, 6)) * 1000000)
      .cast(LongType)
    val e = t(s, dir, "events").select(col("event_type"), vq.as("vq"))
    val perVT = e.groupBy("vq", "event_type").agg(count(lit(1)).as("cvt"))
    val perV = perVT.groupBy("vq").agg(sum("cvt").as("c"))
    val w = Window.orderBy("vq")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perV
      .withColumn("cum_before", coalesce(sum(col("c")).over(w), lit(0L)))
      .withColumn("avg_rank",
        col("cum_before").cast(DoubleType) + (col("c") + 1) / lit(2.0))
    val tieTerm = ranked.agg(sum((col("c") * col("c") * col("c") - col("c"))
      .cast(DecimalType(38, 0))).as("tsum"),
      sum("c").as("nn"))
    val rsums = perVT.join(ranked.select("vq", "avg_rank"), Seq("vq"))
      .groupBy("event_type")
      .agg(sum("cvt").as("na"),
        sum(round(col("cvt") * col("avg_rank"), 1)
          .cast(DecimalType(28, 1))).as("ra"))
    val na = col("na").cast(DoubleType)
    val nb = (col("nn") - col("na")).cast(DoubleType)
    val nTot = col("nn").cast(DoubleType)
    val u = col("ra").cast(DoubleType) - na * (na + 1) / 2
    val mu = na * nb / 2
    val sig = sqrt(na * nb / 12 *
      ((nTot + 1) - col("tsum").cast(DoubleType) / (nTot * (nTot - 1))))
    rsums.crossJoin(broadcast(tieTerm))
      .select(col("event_type"), col("na").cast(IntegerType).as("n"),
        u.as("u_stat"), ((u - mu) / sig).as("z"))
      .orderBy("event_type")
  }

  /** q209: KOLMOGOROV–SMIRNOV two-sample — the maximum ECDF gap
    * between 'click' and 'error' values: the distribution-shape test
    * that catches what mean tests (q203) and location tests (q208)
    * both miss (equal centers, different shapes). Reports D, its
    * location, and the scaled statistic √(n·m/(n+m))·D the asymptotic
    * tables key on.
    *
    * Determinism: ECDF steps are exact integer counts over micro-unit
    * values; F_a − F_b per distinct value is a fixed IEEE expression;
    * the argmax tie-breaks to the smallest value. One hash-agg + one
    * window over the distinct-value frame. */
  def ksTwoSample(s: SparkSession, dir: String,
                  typeA: String = "click", typeB: String = "error"): DataFrame = {
    val vq = (col("value").cast(DecimalType(18, 6)) * 1000000)
      .cast(LongType)
    val e = t(s, dir, "events")
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"), vq.as("vq"))
    val perV = e.groupBy("vq").agg(
      sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("ca"),
      sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy("vq")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = perV
      .withColumn("cuma", sum("ca").over(w))
      .withColumn("cumb", sum("cb").over(w))
    val tot = cum.agg(max("cuma").as("na"), max("cumb").as("nb"))
    val gap = abs(col("cuma").cast(DoubleType) / col("na") -
      col("cumb").cast(DoubleType) / col("nb"))
    val ranked = cum.crossJoin(broadcast(tot))
      .withColumn("gap", gap)
      .orderBy(col("gap").desc, col("vq")).limit(1)
    ranked.select(col("na").cast(IntegerType).as("n_a"),
      col("nb").cast(IntegerType).as("n_b"),
      col("gap").as("d_stat"),
      (col("vq") / 1000000.0).as("at_value"),
      (sqrt(col("na").cast(DoubleType) * col("nb") /
        (col("na") + col("nb")).cast(DoubleType)) * col("gap"))
        .as("scaled_d"))
  }

  /** q251: ALL-PAIRS KS + BENJAMINI–HOCHBERG FDR — the multiple-testing
    * step q209 stops short of: the KS statistic for EVERY event-type
    * pair, an asymptotic p-value, and BH-adjusted p-values with a 5%
    * FDR verdict — the report that decides which distribution shifts
    * are real when dozens of pairs are screened at once.
    *
    * p-values use the Numerical-Recipes asymptotic: λ = (√nₑ + 0.12 +
    * 0.11/√nₑ)·D with nₑ = n_a·n_b/(n_a+n_b), and the alternating
    * series 2·Σ(−1)^{k−1}e^{−2k²λ²} TRUNCATED at 5 terms — a fixed
    * IEEE expression, with each exp() term rounded 9-dp at the row
    * (the q183 ln rule: libm exp is not guaranteed cross-engine
    * bit-identical; the series sum of rounded terms is). BH is pure
    * window algebra: rank by p, raw_i = p·m/i, adjusted = the reverse
    * running minimum, clamped to 1.
    *
    * Shape at 100 TB: values quantize to micro-units; the per-(type,
    * value) agg collapses the fact table; the |V|×|T| ECDF grid and the
    * |V|×T² pair comparison are bounded by distinct values × a handful
    * of types, and the BH window runs on T² rows. */
  def ksFdr(s: SparkSession, dir: String): DataFrame =
    ksFdrOf(t(s, dir, "events"))

  /** [[ksFdr]] over an arbitrary (event_type, value) frame — exposed so
    * the spec can drive a planted-shift fixture through the exact
    * production path. */
  private[graft] def ksFdrOf(events: DataFrame): DataFrame = {
    val vq = (col("value").cast(DecimalType(18, 6)) * 1000000)
      .cast(LongType)
    val pv = events
      .select(col("event_type"), vq.as("vq"))
      .groupBy("event_type", "vq").agg(count(lit(1)).as("n"))
      .localCheckpoint() // grid + totals + distinct values all read it
    val vals = pv.select("vq").distinct()
    val types = pv.groupBy("event_type").agg(sum("n").as("ntot"))
    val grid = types.crossJoin(vals)
      .join(pv, Seq("event_type", "vq"), "left")
      .na.fill(0L, Seq("n"))
    val cum = grid.withColumn("c",
      sum("n").over(Window.partitionBy("event_type").orderBy("vq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val f = cum.select(col("event_type"), col("ntot"), col("vq"),
      (col("c").cast(DoubleType) / col("ntot")).as("fv"))
    val a = f.select(col("event_type").as("type_a"), col("ntot").as("na"),
      col("vq"), col("fv").as("fa"))
    val b = f.select(col("event_type").as("type_b"), col("ntot").as("nb"),
      col("vq"), col("fv").as("fb"))
    val d = a.join(b, Seq("vq")).filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b", "na", "nb")
      .agg(max(abs(col("fa") - col("fb"))).as("d"))
    ksTailOf(d)
  }

  /** The asymptotic-p + Benjamini–Hochberg tail shared by q251 (exact
    * support) and q263 (binned support): input is one row per type
    * pair (type_a, type_b, na, nb, d). Kept as ONE spelling so the
    * twins differ only in how the ECDF grid is built. */
  private def ksTailOf(d: DataFrame): DataFrame = {
    val sq = sqrt(col("na").cast(DoubleType) * col("nb") /
      (col("na") + col("nb")).cast(DoubleType))
    val lam = (sq + lit(0.12) + lit(0.11) / sq) * col("d")
    val withLam = d.withColumn("lam", lam)
    def term(k: Int) = round(exp(lit(-2.0 * k * k) *
      col("lam") * col("lam")), 9)
    val p = least(lit(1.0), greatest(lit(0.0),
      lit(2.0) * (term(1) - term(2) + term(3) - term(4) + term(5))))
    val ranked = withLam.withColumn("p", p)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("p"), col("type_a"), col("type_b"))))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy()))
    val adj = ranked.withColumn("madj",
      min(col("p") * col("m") / col("rnk")).over(
        Window.orderBy(col("rnk").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    adj.select(col("type_a"), col("type_b"),
        col("na").cast(IntegerType).as("n_a"),
        col("nb").cast(IntegerType).as("n_b"),
        col("d").as("d_stat"), col("lam").as("lambda"),
        col("p").as("p_value"), col("rnk").cast(IntegerType).as("rnk"),
        least(lit(1.0), col("madj")).as("p_adj"),
        (least(lit(1.0), col("madj")) <= 0.05).as("significant"))
      .orderBy("type_a", "type_b")
  }

  /** q263: BINNED-SUPPORT KS + BH — q251's 100 TB twin (the
    * q252→q256 pattern applied to KS). q251 evaluates the ECDF gap at
    * EVERY distinct quantized value — exact, but on a genuinely
    * continuous value domain the grid is O(|distinct| × |types|) rows.
    * Here the gap is evaluated only at `bins` POOLED equi-mass
    * percentile boundaries (exact interpolated percentile over the
    * micro-unit integers — Spark `percentile` ≡ DuckDB
    * `quantile_cont`, with dyadic i/bins fractions so the
    * interpolation arithmetic is exactly representable), capping the
    * ECDF grid at O(bins × types) and the pair comparison at
    * O(bins × types²) whatever the corpus size.
    *
    * The binned D understates the exact D by at most the largest mass
    * either distribution places strictly inside one boundary interval
    * (the ECDF gap moves by at most that much between evaluation
    * points) — for equi-mass pooled boundaries that is ≈ c/bins;
    * AdvancedSpec pins |D_binned − D_exact| on the planted-shift
    * fixture. The p-value/BH tail is the IDENTICAL [[ksTailOf]]
    * spelling as q251.
    *
    * Shape at 100 TB: one collapse of the fact table to (type, value,
    * n) rows; boundaries come from the collapsed relation via the
    * frequency-weighted exact percentile (state = distinct values, not
    * rows); binning is a broadcast (bins−1)-value array + codegen'd
    * HOF count; everything after runs on types × bins rows. */
  def ksFdrBinned(s: SparkSession, dir: String, bins: Int = 16): DataFrame =
    ksFdrBinnedOf(t(s, dir, "events"), bins)

  /** q303: BINNED 1-WASSERSTEIN MATRIX — q263's INTEGRAL twin, on the
    * corpus-mix axis: the KS statistic says the WORST ECDF gap between
    * two sources' quality distributions; W1 (earth-mover on the
    * ordinal bin grid, unit ground distance) says the TOTAL transport
    * — the number a data-mixing decision actually trades on (a tight
    * spike and a broad tilt can share a KS yet need very different
    * reweighting). Support is the q263 pooled-percentile grid, so the
    * whole matrix costs one corpus scan + a bins×|sources| cumsum +
    * a |sources|²·bins pair join.
    *
    * Determinism: per-boundary gaps round to 9 dp at the row and sum
    * as DECIMAL(18,9) — exact regardless of accumulation order (the
    * rulebook's round-then-decimal-sum move); the max rides the same
    * rounded gaps. */
  def w1Binned(s: SparkSession, dir: String, bins: Int = 16): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val qmu = (graft.text.TextOps.qualityScoreC
      .cast(DecimalType(18, 6)) * 1000000).cast(LongType)
    val pv = t(s, dir, "documents")
      .select(col("source"), qmu.as("vq"))
      .groupBy("source", "vq").agg(count(lit(1)).as("n"))
      .localCheckpoint() // boundaries + bin counts + totals all read it
    val qs = (1 until bins).map(i => i.toDouble / bins)
    val bnd = pv.agg(
      expr(s"percentile(vq, array(${qs.mkString(", ")}), n)").as("bnd"))
    val binned = pv.crossJoin(broadcast(bnd))
      .withColumn("bin",
        size(filter(col("bnd"), b => col("vq").cast(DoubleType) > b))
          .cast(IntegerType))
      .groupBy("source", "bin").agg(sum("n").as("n"))
    val srcs = pv.groupBy("source").agg(sum("n").as("ntot"))
    val ids = s.range(0, bins.toLong)
      .select(col("id").cast(IntegerType).as("bin"))
    val grid = srcs.crossJoin(ids)
      .join(binned, Seq("source", "bin"), "left")
      .na.fill(0L, Seq("n"))
    val cum = grid.withColumn("c",
      sum("n").over(Window.partitionBy("source").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val f = cum.filter(col("bin") <= bins - 2)
      .select(col("source"), col("ntot"), (col("bin") + 1).as("bix"),
        (col("c").cast(DoubleType) / col("ntot").cast(DoubleType))
          .as("fv"))
    val gap = round(abs(col("a.fv") - col("b.fv")), 9)
    f.as("a").join(f.as("b"),
        col("a.bix") === col("b.bix") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.ntot").as("n_a"), col("b.ntot").as("n_b"))
      .agg(sum(gap.cast(DecimalType(18, 9))).cast(DoubleType)
          .as("w1_bins"),
        max(gap).as("max_gap"))
      .orderBy("src_a", "src_b")
  }

  private[graft] def ksFdrBinnedOf(events: DataFrame,
                                   bins: Int): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val vq = (col("value").cast(DecimalType(18, 6)) * 1000000)
      .cast(LongType)
    val pv = events
      .select(col("event_type"), vq.as("vq"))
      .groupBy("event_type", "vq").agg(count(lit(1)).as("n"))
      .localCheckpoint() // boundaries + bin counts + totals all read it
    val qs = (1 until bins).map(i => i.toDouble / bins)
    val bnd = pv.agg(
      expr(s"percentile(vq, array(${qs.mkString(", ")}), n)").as("bnd"))
    val binned = pv.crossJoin(broadcast(bnd))
      .withColumn("bin",
        size(filter(col("bnd"), b => col("vq").cast(DoubleType) > b))
          .cast(IntegerType))
      .groupBy("event_type", "bin").agg(sum("n").as("n"))
    val types = pv.groupBy("event_type").agg(sum("n").as("ntot"))
    val ids = events.sparkSession.range(0, bins.toLong)
      .select(col("id").cast(IntegerType).as("bin"))
    val grid = types.crossJoin(ids)
      .join(binned, Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("n"))
    val cum = grid.withColumn("c",
      sum("n").over(Window.partitionBy("event_type").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // ECDF at internal boundary i (1..bins-1) = mass through bin i-1;
    // beyond the last boundary both ECDFs are 1, gap 0 — no row needed
    val f = cum.filter(col("bin") <= bins - 2)
      .select(col("event_type"), col("ntot"),
        (col("bin") + 1).as("bix"),
        (col("c").cast(DoubleType) / col("ntot")).as("fv"))
    val a = f.select(col("event_type").as("type_a"), col("ntot").as("na"),
      col("bix"), col("fv").as("fa"))
    val b = f.select(col("event_type").as("type_b"), col("ntot").as("nb"),
      col("bix"), col("fv").as("fb"))
    val d = a.join(b, Seq("bix")).filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b", "na", "nb")
      .agg(max(abs(col("fa") - col("fb"))).as("d"))
    ksTailOf(d)
  }

  /** q205: PSI DRIFT — the Population Stability Index, the production
    * standard for feature-distribution monitoring: decile boundaries
    * are fit on a REFERENCE window (days 1–15), both windows' values
    * are binned by those SAME boundaries, and
    * PSI = Σ (p_i − q_i)·ln(p_i/q_i) over the bins (rule of thumb:
    * < 0.1 stable, > 0.25 drifted). Reported per (event_type, bin)
    * with the PSI contribution — the spec sums them.
    *
    * Determinism: values quantize to micro-units (q191), so the decile
    * interpolations are exactly representable and the bin comparisons
    * run on identical doubles; shares are Laplace-smoothed
    * ((n + 0.5)/(N + bins/2) — no empty-bin ln(·/0)); ln rounds to 6dp
    * at the bin (the q183 rule). Shape at 100 TB: boundary fit is one
    * percentile agg on the reference scan; binning is a broadcast
    * 9-value array + codegen'd HOF filter; the rest is a
    * |types|×bins hash-agg. */
  def psiDrift(s: SparkSession, dir: String, bins: Int = 10): DataFrame = {
    val vq = (col("value").cast(DecimalType(18, 6)) * 1000000)
      .cast(LongType)
    val e = t(s, dir, "events").select(col("event_type"),
      (dayofmonth(col("ts")) <= 15).cast(IntegerType).as("ref"),
      vq.as("vq"))
    val qs = (1 until bins).map(i => i.toDouble / bins)
    val bnd = e.filter(col("ref") === 1).groupBy("event_type")
      .agg(expr(s"percentile(vq, array(${qs.mkString(", ")}))").as("bnd"))
    val binned = e.join(broadcast(bnd), Seq("event_type"))
      .withColumn("bin",
        (size(filter(col("bnd"), b => col("vq").cast(DoubleType) > b)) + 1)
          .cast(IntegerType))
      .groupBy("event_type", "bin")
      .agg(sum(col("ref").cast(LongType)).as("n_ref"),
        sum(lit(1L) - col("ref")).as("n_cmp"))
    val tot = binned.groupBy("event_type")
      .agg(sum("n_ref").as("tr"), sum("n_cmp").as("tc"))
    val p = (col("n_ref") + 0.5) / (col("tr") + lit(bins * 0.5))
    val q = (col("n_cmp") + 0.5) / (col("tc") + lit(bins * 0.5))
    binned.join(broadcast(tot), Seq("event_type"))
      .withColumn("p", p).withColumn("q", q)
      .select(col("event_type"), col("bin"),
        col("n_ref").cast(IntegerType).as("n_ref"),
        col("n_cmp").cast(IntegerType).as("n_cmp"),
        round((col("p") - col("q")) * round(log(col("p") / col("q")), 6), 9)
          .as("psi_term"))
      .orderBy("event_type", "bin")
  }

  /** q198: SEASONAL ROBUST ANOMALY — q191 with a SEASONAL baseline: the
    * median/MAD census keyed by (event_type, hour-of-day), so a value is
    * judged against what is normal for ITS hour — the decomposition that
    * keeps a nightly batch spike from flagging as anomalous at 03:00
    * while the same value at 15:00 does. The standard robust baseline
    * for operational metrics with daily seasonality. Same determinism
    * and pass structure as q191, ×24 narrower groups. */
  def seasonalAnomaly(s: SparkSession, dir: String,
                      k: Double = 3.0): DataFrame =
    madOutliersBy(
      t(s, dir, "events").select(col("event_type"),
        hour(col("ts")).as("hod"), col("value")),
      Seq("event_type", "hod"), k)

  /** q197: NEYMAN ALLOCATION — the optimal stratified-sampling design:
    * given a total sample budget, allocate to each stratum (event type)
    * proportionally to N_h·S_h (size × standard deviation), which
    * minimizes the variance of the stratified mean estimator — the
    * principled sizing step that q144's PPS draw then executes. Strata
    * with high internal variance earn more samples than proportional
    * allocation would give them.
    *
    * Exact-moment discipline (the q93 machinery): Σx and Σx² accumulate
    * in DECIMAL, S_h finishes in one fixed double expression, the
    * shares and floor allocations are the same IEEE ops on both
    * engines; share and std are reported raw (identical doubles need no
    * rounding). One fact-scale hash-agg; everything after runs on the
    * |strata|-row frame. */
  def neymanAllocation(s: SparkSession, dir: String,
                       sampleBudget: Long = 1000L): DataFrame = {
    val stats = t(s, dir, "events").groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).as("sx"),
        sum((col("value") * col("value")).cast(DecimalType(38, 8))).as("sxx"))
      .withColumn("mean", col("sx").cast(DoubleType) / col("n"))
      // singleton-stratum guard (q93): NULL std drops the stratum from
      // the allocation identically on both engines
      .withColumn("std", when(col("n") > 1, sqrt(
        (col("sxx").cast(DoubleType) - col("mean") * col("mean") * col("n"))
          / (col("n") - 1))))
      .withColumn("ns", col("n").cast(DoubleType) * col("std"))
    val tot = stats.agg(sum(round(col("ns"), 6)
      .cast(DecimalType(28, 6))).as("tns"))
    stats.crossJoin(broadcast(tot))
      .withColumn("share", round(col("ns"), 6) / col("tns").cast(DoubleType))
      .select(col("event_type"), col("n"), col("std"), col("share"),
        floor(col("share") * sampleBudget).cast(LongType).as("n_alloc"))
      .orderBy("event_type")
  }

  /** Core of [[zscoreOutliers]] over any (event_type, value) frame —
    * separated so the singleton/constant-group guards are unit-testable
    * (the fixtures have no such groups). */
  private[graft] def zscoreOutliersOf(e: DataFrame): DataFrame = {
    val stats = e.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).as("sx"),
        sum((col("value") * col("value")).cast(DecimalType(38, 8))).as("sxx"))
      .withColumn("mean", col("sx").cast(DoubleType) / col("n"))
      // singleton guard: NULL std for n=1 on BOTH engines (Spark's
      // divide-by-zero NULL vs DuckDB's IEEE inf would otherwise diverge)
      .withColumn("variance", when(col("n") > 1,
        (col("sxx").cast(DoubleType) - col("mean") * col("mean") * col("n"))
          / (col("n") - 1)))
      .withColumn("std", sqrt(col("variance")))
    val outliers = e.join(broadcast(stats.select("event_type", "mean", "std")),
        "event_type")
      // std>0 guards constant groups (z would be NULL/inf); NULL std
      // fails the predicate on both engines
      .filter(col("std") > 0 &&
        abs((col("value") - col("mean")) / col("std")) > 3.0)
      .groupBy("event_type").agg(count(lit(1)).as("n_outliers"))
    stats.join(outliers, Seq("event_type"), "left")
      .select(col("event_type"), col("n"), col("mean"), col("std"),
        coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** COHORT RETENTION — users grouped by first-activity day, tracked by
    * day offset: the product-analytics matrix behind every retention
    * curve. Shape (verified in the plan): the explicit
    * repartition(user_id) satisfies the (user, day) dedup's clustering —
    * partitioning on a subset of the grouping keys co-locates every
    * duplicate — so the dedup itself adds NO second exchange; the
    * first-day branch shuffles once on the same key; the join side is a
    * |users|-sized aggregate (broadcast at dimension scale, an
    * already-co-partitioned merge join beyond it). Then a tiny
    * (cohort, offset) agg; output is |cohorts|×|offsets|. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val active = e.repartition(col("user_id")).dropDuplicates("user_id", "day")
    val firstDay = active.groupBy("user_id")
      .agg(min(col("day")).as("cohort_day"))
    active.join(firstDay, "user_id")
      // LongType: DuckDB DATE - DATE is BIGINT; match it exactly
      .withColumn("day_offset",
        datediff(col("day"), col("cohort_day")).cast(LongType))
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** INTERSECT ALL / EXCEPT ALL — the MULTISET set-ops (q84 covers the
    * distinct variants): per-row multiplicities survive, min(count) for
    * intersect, count difference for except. Catalyst compiles both to
    * ONE aggregation over a union with per-side counts (no join): the
    * same partial+final hash-agg shape as any groupBy, so multiset
    * semantics cost nothing extra at 100 TB. */
  def intersectExceptAll(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val f = o.filter(col("o_orderstatus") === "F").select("o_custkey")
    val oo = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    f.intersectAll(oo).groupBy("o_custkey")
      .agg(count(lit(1)).as("n")).withColumn("tag", lit("both_all"))
      .unionByName(f.exceptAll(oo).groupBy("o_custkey")
        .agg(count(lit(1)).as("n")).withColumn("tag", lit("only_f_all")))
      .select("tag", "o_custkey", "n")
      .orderBy("tag", "o_custkey")
  }

  /** MULTI-MEASURE PIVOT — pivot on a known key domain with several
    * aggregates per cell (count + exact decimal revenue). Spark emits
    * one wide row per group in ONE pass (conditional aggregation under
    * the hood — the explicit FILTER form in the oracle is the same
    * plan); pinning the pivot domain keeps the schema static, which at
    * 100 TB also skips the extra distinct-values job a dynamic pivot
    * must run first. */
  def pivotMultiAgg(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("rev"))
    // empty cells: Spark's pivoted count is NULL (no rows), SQL's
    // COUNT(*) FILTER is 0 — align on 0 (sums stay NULL on both)
    val aligned = Seq("F", "O", "P").foldLeft(wide)((df, v) =>
      df.withColumn(s"${v}_n", coalesce(col(s"${v}_n"), lit(0L))))
    aligned.orderBy("o_orderpriority")
  }

  /** CENTERED MOVING AVERAGE — ROWS frame (±2 physical rows), the
    * smoothing pass complementary to q83's value-based RANGE frame. ROWS
    * frames need a TOTAL order to be deterministic (peers are NOT
    * included, so ties would make the frame content partition-dependent):
    * the order key here is the unique o_orderkey within each customer.
    * Exact decimal sum over the frame, one double division at the end.
    * One hash exchange on customer + in-partition sort. */
  def centeredMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      .rowsBetween(-2, 2)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("ma5",
        (sum(col("o_totalprice").cast(DecimalType(18, 4))).over(w)
          .cast(DoubleType) / count(lit(1)).over(w)))
      .select(col("o_custkey"), col("o_orderkey"), col("ma5"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** PERCENT-OF-TOTAL — each group's share of the partition total and the
    * grand total in one pass: two window sums over the aggregated frame
    * (|groups| rows, not the raw data), so the windows cost nothing. The
    * BI ratio shape behind every composition chart. */
  def percentOfTotal(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 4))).as("qty"))
    val wFlag = Window.partitionBy("l_returnflag")
    val wAll = Window.partitionBy()
    // divide as DOUBLES: decimal/decimal division scale rules differ
    // between engines; double division is IEEE-identical
    g.withColumn("pct_of_flag",
        col("qty").cast(DoubleType)
          / sum(col("qty")).over(wFlag).cast(DoubleType))
      .withColumn("pct_of_total",
        col("qty").cast(DoubleType)
          / sum(col("qty")).over(wAll).cast(DoubleType))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("qty").cast(DoubleType).as("qty"),
        col("pct_of_flag"), col("pct_of_total"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** SORTED ARRAY-AGG FINGERPRINT — collect per-group lists
    * deterministically (sort_array fixes the order the shuffle
    * randomizes) and hash them to a scalar the driver can compare:
    * proves cross-engine list-aggregation parity without emitting array
    * columns (which the harness can't hash). The md5-of-joined-list is
    * also the idiomatic group-content fingerprint for change detection
    * at 100 TB: |groups| rows out, one agg pass. */
  def arrayAggFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_custkey") < 100)
      .groupBy(col("o_custkey"))
      .agg(expr("md5(concat_ws(',', transform(" +
        "sort_array(collect_list(o_orderkey)), x -> cast(x as string))))")
        .as("orders_fp"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey")

  /** TPC-H Q3-shaped analytical query (shipping-priority analog): two
    * broadcast-able dimension filters, a fact-side join, revenue aggregation
    * and top-10 — the canonical join-reorder + pushdown + partial-agg
    * exercise. */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") =!= "F")
    val l = t(s, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(Relational.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** q112: grouped Pearson correlation + OLS regression slope/intercept —
    * corr(quantity, price) per return flag from EXACT decimal moment sums
    * (n, Σx, Σy, Σxy, Σx², Σy²), the one-pass parallel form every
    * distributed stats library uses. Spark's built-in `corr` accumulates
    * doubles in partition order (non-deterministic across engines, and
    * run-to-run under AQE), so this routes all six moments through
    * DECIMAL (exact, order-independent — the q57/q80 cross-engine ML
    * precedent), casts once to double, and finishes with an IEEE
    * expression kept bit-identical on both sides. Zero-variance groups
    * yield NULL identically (Spark div-by-zero NULL vs DuckDB inf never
    * reached — guarded on both sides). One map + one partial-aggregated
    * hash agg: |groups| rows out, no second pass over the data, which at
    * 100 TB beats the textbook two-pass (mean, then Σ(x−x̄)²) form by a
    * full scan. */
  def groupedCorr(s: SparkSession, dir: String): DataFrame = {
    // integer domain: quantity is integral, price is exact at 2 decimals →
    // cents. All six moments are then exact integer sums; each converts to
    // double in ONE correctly-rounded step on both engines. The naive
    // DECIMAL(p,s>0) route differs cross-engine in the last ulp (DuckDB
    // converts int128→double then divides by 10^s — two roundings vs
    // Java's one), and the n·Σxy − Σx·Σy cancellation amplifies that ulp
    // ~10^6×.
    val li = t(s, dir, "lineitem").select(col("l_returnflag"),
      col("l_quantity").cast(LongType).as("x"),
      (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType).as("y"))
    val nd  = col("n").cast(DoubleType)
    // EVERY product sum runs in DECIMAL(38,0) (= int128, DuckDB's
    // HUGEINT): per-row x·y tops out near 5e8, so a BIGINT Σxy would
    // silently wrap past ~1.8e10 rows per group — inside the 100 TB
    // envelope — while the oracle's HUGEINT wouldn't. Decimal sums make
    // the exactness claim unconditional at any row count.
    val x38 = col("x").cast(DecimalType(38, 0))
    val y38 = col("y").cast(DecimalType(38, 0))
    li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast(DoubleType).as("sx"),
        // Σy too: cents ~1e7/row wraps a BIGINT at ~9e11 rows/group —
        // only Σx (≤50/row, ~1.8e17 rows) safely stays BIGINT
        sum(y38).cast(DoubleType).as("sy"),
        sum(x38 * y38).cast(DoubleType).as("sxy"),
        sum(x38 * x38).cast(DoubleType).as("sxx"),
        sum(y38 * y38).cast(DoubleType).as("syy"))
      .select(col("l_returnflag"), col("n"),
        (nd * col("sxy") - col("sx") * col("sy")).as("cov_n"),
        (nd * col("sxx") - col("sx") * col("sx")).as("varx_n"),
        (nd * col("syy") - col("sy") * col("sy")).as("vary_n"),
        col("sx"), col("sy"))
      .select(col("l_returnflag"), col("n"),
        when(col("varx_n") > 0 && col("vary_n") > 0,
          col("cov_n") / sqrt(col("varx_n") * col("vary_n")))
          .as("corr_qty_price"),
        // cents → price units at the very end, same op on both sides
        when(col("varx_n") > 0, col("cov_n") / col("varx_n") / 100)
          .as("slope"),
        when(col("varx_n") > 0,
          (col("sy") - (col("cov_n") / col("varx_n")) * col("sx"))
            / col("n").cast(DoubleType) / 100).as("intercept"))
      .orderBy("l_returnflag")
  }

  /** q114: grouped higher-moment statistics — population skewness and
    * excess kurtosis of quantity and price per return flag, from EXACT
    * integer-domain power sums, every power sum routed through
    * DECIMAL(38,0) (= int128) so no accumulator can wrap at any row
    * count — Σx alone stays BIGINT (wraps only past ~1.8e17 rows). Same
    * cross-engine determinism recipe as [[groupedCorr]]: exact sums →
    * one correctly-rounded double conversion → an IEEE finish kept
    * textually identical on both sides (central moments via the expanded
    * power-sum form; skew uses m₂·√m₂, never pow(x,1.5) — pow is not
    * correctly rounded and differs across libm implementations).
    * Zero-variance groups yield NULL identically. One map + one
    * partial-aggregated hash agg, |groups| rows out — the full
    * mean/var/skew/kurt profile of a 100 TB column family for the cost
    * of one scan. */
  def groupedMoments(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_returnflag"),
      col("l_quantity").cast(LongType).as("x"),
      (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType).as("y"))
    // all power sums in DECIMAL(38,0): x⁴ per row is bounded (~6e6 for
    // quantity ≤ 50) but its BIGINT sum still wraps within ~1e12 rows per
    // group — the decimal route makes exactness unconditional (same
    // envelope-closing rationale as groupedCorr's Σxy)
    val x38 = col("x").cast(DecimalType(38, 0))
    val y38 = col("y").cast(DecimalType(38, 0))
    val agged = li.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast(DoubleType).as("sx"),
      sum(x38 * x38).cast(DoubleType).as("sxx"),
      sum(x38 * x38 * x38).cast(DoubleType).as("sx3"),
      sum(x38 * x38 * x38 * x38).cast(DoubleType).as("sx4"),
      // Σy in decimal too: cents wrap a BIGINT at ~9e11 rows/group
      sum(y38).cast(DoubleType).as("sy"),
      sum(y38 * y38).cast(DoubleType).as("syy"),
      sum(y38 * y38 * y38).cast(DoubleType).as("sy3"),
      sum(y38 * y38 * y38 * y38).cast(DoubleType).as("sy4"))
    val nd = col("n").cast(DoubleType)
    def stats(prefix: String, s1: String, s2: String, s3: String,
              s4: String): Seq[org.apache.spark.sql.Column] = {
      val mu = col(s1) / nd
      val r2 = col(s2) / nd
      val r3 = col(s3) / nd
      val r4 = col(s4) / nd
      val m2 = r2 - mu * mu
      val m3 = r3 - lit(3) * mu * r2 + lit(2) * mu * mu * mu
      val m4 = r4 - lit(4) * mu * r3 + lit(6) * mu * mu * r2 -
        lit(3) * mu * mu * mu * mu
      Seq(when(m2 > 0, m3 / (m2 * sqrt(m2))).as(s"skew_$prefix"),
        when(m2 > 0, m4 / (m2 * m2) - 3).as(s"kurt_$prefix"))
    }
    agged.select(Seq(col("l_returnflag"), col("n"),
        (col("sx") / nd).as("mean_qty"),
        (col("sy") / nd / 100).as("mean_price")) ++
        stats("qty", "sx", "sxx", "sx3", "sx4") ++
        stats("price", "sy", "syy", "sy3", "sy4"): _*)
      .orderBy("l_returnflag")
  }

  /** q113: distribution ranks — percent_rank + cume_dist of each order's
    * total price within its order month (the "where does this row sit in
    * its cohort's distribution" query). Both functions are pure rank
    * ratios — (rank−1)/(n−1) and rows≤current/n — so the doubles are
    * quotients of small integers, bit-identical across engines with no
    * decimal routing; ties share a value by definition, making the result
    * deterministic even on the non-unique price ordering. One shuffle on
    * the month, one in-partition sort shared by BOTH window functions
    * (same spec), output O(n) but narrow. At 100 TB the month partitions
    * are the parallelism unit — no global sort, no driver funnel. */
  def distributionRanks(s: SparkSession, dir: String): DataFrame = {
    val month = date_trunc("month", col("o_orderdate")).as("om")
    val w = Window.partitionBy(col("om")).orderBy(col("o_totalprice"))
    t(s, dir, "orders")
      .select(col("o_orderkey"), month, col("o_totalprice"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .select(col("o_orderkey"), col("om"), col("pr"), col("cd"))
      .orderBy("o_orderkey")
  }

  /** q116: SCD Type-2 dimension history — three generations of the orders
    * dimension (base, every-10th repriced-status 'U', every-20th closed
    * 'X') are unioned with a version stamp and collapsed into validity
    * ranges per key: `valid_from` = the version that introduced the row,
    * `valid_to` = the next version for that key (NULL = current), the
    * standard warehouse history build. The generations are produced by
    * ONE scan + an inline generator (per row: build the [base, %10, %20]
    * candidate array, filter by applicability, explode) — a union of
    * three filtered scans would read the table three times — then one
    * keyed window (`lead` over version). At 100 TB the window shuffles on
    * the dimension key — the history table stays partition-local per
    * key, and the change generations in production arrive as deltas, so
    * the generator runs over deltas, not the full table. Versions are
    * ints, statuses strings: every output value is exact, no decimal
    * routing needed. (The DuckDB oracle keeps the textbook UNION ALL
    * form — different plan, same rows — so the compare also proves the
    * generator rewrite is semantics-preserving.) */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val cand = array(
      struct(col("o_orderstatus").as("s"), lit(0).as("v"),
        lit(true).as("keep")),
      struct(lit("U").as("s"), lit(1).as("v"),
        (col("o_orderkey") % 10 === 0).as("keep")),
      struct(lit("X").as("s"), lit(2).as("v"),
        (col("o_orderkey") % 20 === 0).as("keep")))
    val gens = t(s, dir, "orders")
      .select(col("o_orderkey"),
        explode(filter(cand, _.getField("keep"))).as("g"))
      .select(col("o_orderkey"), col("g.s").as("o_orderstatus"),
        col("g.v").as("version"))
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("version"))
    gens
      .withColumn("valid_to", lead(col("version"), 1).over(w))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("version").as("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1).otherwise(0)
          .cast(IntegerType).as("is_current"))
      .orderBy("o_orderkey", "valid_from")
  }

  /** q117: event-transition matrix — the Markov first-order transition
    * counts and probabilities over each user's event sequence (`lead`
    * within user ordered by (ts, event_id) — event_id breaks timestamp
    * ties, so the sequence is a total order and the result is shuffle-
    * independent). The heavy step is ONE shuffle on user_id + an
    * in-partition sort; the transition matrix itself is |types|² rows —
    * a partial-aggregated hash agg collapses 100 TB of sequences into a
    * handful of rows before anything crosses the wire. Probabilities are
    * quotients of two exact counts: one double division, bit-identical
    * on both engines. */
  def transitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val wSrc = Window.partitionBy(col("src"))
    pairs.groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast(DoubleType) /
        sum(col("n")).over(wSrc).cast(DoubleType))
      .orderBy("src", "dst")
  }

  /** q142: weighted PAGERANK over the event-type transition graph — the
    * graph-centrality quality signal (Common Crawl ranks hosts the same
    * way) on the q117 edge set. The 100 TB stage is the EDGE AGGREGATION:
    * one keyed window + one hash-agg collapse the raw event stream to a
    * (src, dst, weight) graph no bigger than |types|²; the rank solve
    * then iterates on that aggregated graph (thousands of nodes in a
    * production host graph — here 5). Ten fixed iterations of
    * r = (1−d)/N + d·Σ_in r·w/outw, with each iteration's contribution
    * sum routed through DECIMAL(38,15) so accumulation order cannot
    * perturb the result — the iterate is a pure function of the data on
    * both engines, no convergence-threshold ambiguity. Scale 15 is the
    * cross-engine-safe choice: ranks sum to 1, so every contribution sum
    * is ≤ 1 and its integer mantissa ≤ 10^15 < 2^53 — the decimal→double
    * conversion is a single rounding on BOTH engines at any data scale
    * (scale 18 mantissas exceed 2^53, triggering DuckDB's two-rounding
    * int128→double-then-divide path, the exact q140 divergence). Every node in
    * this graph has out-edges; dangling-mass redistribution is the
    * standard extension when that breaks.
    *
    * The tiny edges/out-weight frames are localCheckpointed once (the
    * iteration must not re-derive them from the fact table each pass),
    * and each iterate is checkpointed to keep the plan linear. */
  def transitionPageRank(s: SparkSession, dir: String, iters: Int = 10,
                         damping: Double = 0.85): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // out-weights fold into the edge frame ONCE — the loop must not pay
    // a per-iteration join for a value that never changes
    val edges = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("w"))
      .withColumn("outw",
        sum("w").over(Window.partitionBy("src")))
      .localCheckpoint()
    // The rank orbit runs ON THE DRIVER over the collected |types|²-row
    // edge frame — an R7-compliant bounded materialization (the edge set
    // is aggregate-grain, constant in corpus size) that replaces 10
    // distributed join+agg waves (plus their every-3rd-iterate
    // checkpoints) with microseconds of JVM arithmetic. Bit-exactness is
    // preserved by replicating the relational spelling's operations
    // step for step (the PcaPower.iterate precedent, oracle-verified):
    //  - contribution c = (rank·w)/outw in that IEEE order (longs widen
    //    to double first, exactly as the Column expression coerced);
    //  - the DECIMAL(38,15) route: Spark's double→decimal cast is the
    //    shortest-string BigDecimal (JBD.valueOf) scaled HALF_UP to 15,
    //    summed exactly (order-free), and decimal→double is
    //    BigDecimal.doubleValue — identical calls here. Scale 15 keeps
    //    mantissas ≤ 10¹⁵ < 2⁵³, the cross-engine-safe choice (ranks
    //    sum to 1; see the q140/q156 two-rounding hazard);
    //  - the update (1−d)/N + d·Σ with the same literal folding.
    import java.math.{BigDecimal => JBD, RoundingMode}
    val edgeRows = edges.collect().map(r => (
      r.getString(r.fieldIndex("src")), r.getString(r.fieldIndex("dst")),
      r.getLong(r.fieldIndex("w")), r.getLong(r.fieldIndex("outw"))))
    val nodeArr = edgeRows.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val nN = nodeArr.length.toDouble
    var rank: Map[String, Double] = nodeArr.map(_ -> 1.0 / nN).toMap
    for (_ <- 1 to iters) {
      val sums = scala.collection.mutable.Map.empty[String, JBD]
      edgeRows.foreach { case (src, dst, w, outw) =>
        val c = rank(src) * w.toDouble / outw.toDouble
        val dec = JBD.valueOf(c).setScale(15, RoundingMode.HALF_UP)
        sums.update(dst, sums.get(dst).map(_.add(dec)).getOrElse(dec))
      }
      rank = nodeArr.map { nd =>
        nd -> ((1.0 - damping) / nN +
          damping * sums.get(nd).map(_.doubleValue).getOrElse(0.0))
      }.toMap
    }
    import s.implicits._
    rank.toSeq.sortBy(_._1).toDF("node", "rank")
      .select(col("node"), round(col("rank"), 6).as("rank"))
      .orderBy("node")
  }

  /** q118: gaps-and-islands activity streaks — per customer, the runs of
    * CONSECUTIVE active months (month index − row_number is constant
    * within a run: the classic islands trick, purely windowed, no
    * self-join). Two keyed windows and two hash aggs, all partitioned by
    * customer — at 100 TB every step after the first shuffle is
    * partition-local, and the month-grain distinct collapses the fact
    * table to |customer|×|months| rows immediately. All-integer output:
    * bit-exact with no routing. */
  def activityStreaks(s: SparkSession, dir: String): DataFrame = {
    val months = t(s, dir, "orders")
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast(LongType).as("m"))
      .distinct()
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("m"))
    months
      .withColumn("grp", col("m") - row_number().over(w))
      .groupBy(col("o_custkey"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("len")).as("n_months"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("max_streak"))
      .orderBy("o_custkey")
  }

  /** q119: bitwise + boolean aggregate family — BIT_AND/BIT_OR/BIT_XOR
    * over the part keys and BOOL_AND/BOOL_OR predicates per return flag.
    * All five are commutative/associative single-pass aggregates with
    * map-side partial aggregation (XOR of a multiset is order-independent
    * by construction), so the 100 TB plan is one scan + one
    * |groups|-row exchange. Booleans are cast to INT on both engines so
    * the dtype survives the cross-engine compare. */
  def bitAggs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(bit_and(col("l_partkey")).as("pk_and"),
        bit_or(col("l_partkey")).as("pk_or"),
        bit_xor(col("l_partkey")).as("pk_xor"),
        bool_and(col("l_quantity") > 0).cast(IntegerType).as("all_pos_qty"),
        bool_or(col("l_discount") > lit(0.05)).cast(IntegerType)
          .as("any_deep_discount"))
      .orderBy("l_returnflag")

  /** q120: ARG_MAX/ARG_MIN — the customer carrying each nation's highest
    * and lowest account balance via `max_by`/`min_by` (DuckDB
    * `arg_max`/`arg_min`). Ties are broken DETERMINISTICALLY by packing
    * the ordering value as exact cents × 10^10 + custkey — unique, and
    * monotone in (balance, custkey) within the documented domain bound
    * (see inline note) — because both engines' arg-extremes
    * keep an ARBITRARY row on ties (Spark: "non-deterministic on ties",
    * DuckDB likewise); the packed key removes the tie class entirely.
    * One scan, one |nations|-row partial-aggregated hash agg — the
    * arg-extreme of a 100 TB fact column for the cost of a count. */
  def argExtremes(s: SparkSession, dir: String): DataFrame = {
    // multiplier 1e10 keeps the key monotone for |cents| < 9.2e8
    // (balances to ±$9.2M) and custkey < 1e10 — both far beyond any TPC-H
    // scale factor; outside those domains widen to a struct ordering key
    val packed = (col("c_acctbal").cast(DecimalType(12, 2)) * 100)
      .cast(LongType) * 10000000000L + col("c_custkey")
    t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
        packed.as("pk"))
      .groupBy(col("c_nationkey"))
      .agg(max_by(col("c_custkey"), col("pk")).as("richest_cust"),
        max(col("c_acctbal")).as("max_bal"),
        min_by(col("c_custkey"), col("pk")).as("poorest_cust"),
        min(col("c_acctbal")).as("min_bal"))
      .orderBy("c_nationkey")
  }

  /** q121: rolling exact median — each customer's trailing-5-order median
    * spend, `percentile` evaluated over a ROWS window frame (the rolling
    * robust statistic dashboards put next to the rolling mean). Price is
    * converted to exact integer cents FIRST: a 5-int median is either an
    * exact int (odd frames) or an exact .5 midpoint (the short leading
    * frames) — both engines' interpolation formulas land on the identical
    * double, where interpolating raw 2-decimal doubles would differ in
    * the last ulp (lo+(hi−lo)·f vs (lo+hi)/2). Ordering is
    * (o_orderdate, o_orderkey) — orderkey is unique, so frames are
    * deterministic. One shuffle on the customer, tiny in-partition sorts;
    * parallelism = |customers|, which is exactly how a 100 TB per-entity
    * rolling stat wants to distribute. */
  def rollingMedian(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-4, Window.currentRow)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("cents"))
      .withColumn("med5", percentile(col("cents"), lit(0.5)).over(w) / 100)
      .select(col("o_custkey"), col("o_orderkey"), col("med5"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q134: event-time RANGE window — the trailing 30-minute count + sum
    * per user at every event, the windowed-feature shape
    * sessionization/fraud/monitoring pipelines compute ("activity in the
    * last N minutes as of each event"). This is the RANGE frame surface
    * the ROWS-frame family (q17/q97/q121) doesn't cover: the frame is
    * bounded by a VALUE offset on the ordering key, so peers (equal
    * timestamps) enter the frame together on both engines. Ordering runs
    * on epoch MICROSECONDS (integer — Spark's rangeBetween needs a
    * numeric key, and both engines then share one total order); the sum
    * is DECIMAL-routed so in-frame accumulation order can't perturb the
    * hash. One shuffle on user_id, in-partition sort, single pass —
    * exactly how a per-entity trailing feature distributes at 100 TB. */
  def trailingRangeWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-1800000000L, Window.currentRow)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .select(col("user_id"), col("event_id"), col("us"),
        count(lit(1)).over(w).as("n_30m"),
        sum(col("value").cast(DecimalType(18, 4))).over(w)
          .cast(DoubleType).as("sum_30m"))
      .orderBy("user_id", "us", "event_id")
  }

  /** q123: extended calendar-function family — end-of-month, add-months
    * (with both engines' end-of-month clamping), quarter boundaries,
    * day-of-year, ISO week, and day deltas against a fixed epoch. All
    * pure row-level projections: codegen'd, zero shuffle beyond the
    * output sort, and the scan prunes to two columns. Day deltas stay in
    * integer days (DuckDB DATE−DATE is BIGINT; Spark datediff casts to
    * LONG) — no timestamp arithmetic reaches a double anywhere. */
  def dateFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        last_day(col("o_orderdate")).as("eom"),
        add_months(col("o_orderdate"), 3).as("plus3m"),
        date_trunc("quarter", col("o_orderdate")).as("qstart"),
        quarter(col("o_orderdate")).cast(IntegerType).as("qtr"),
        dayofyear(col("o_orderdate")).cast(IntegerType).as("doy"),
        weekofyear(col("o_orderdate")).cast(IntegerType).as("isoweek"),
        datediff(col("o_orderdate"), lit("1995-01-01"))
          .cast(LongType).as("days_since"))
      .orderBy("o_orderkey")

  /** q124: ordered string aggregation — each nation's supplier roster as
    * one deterministic comma-joined string. Spark has no ordered
    * `string_agg`, so the portable form is collect_list → array_sort →
    * array_join, which equals DuckDB's `string_agg(... ORDER BY ...)`
    * exactly because the explicit sort removes accumulation-order
    * dependence (collect_list alone is shuffle-ordered — never hashable).
    * Rosters are per-group bounded (|suppliers per nation|), so the
    * collected array is a bounded in-memory object per group — the same
    * contract DuckDB's string_agg has. One |nations|-row output. */
  def stringAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        array_join(array_sort(collect_list(col("s_name"))), ",")
          .as("roster"))
      .orderBy("s_nationkey")

  /** q125: deterministic stratified take — every 10th event per stratum by
    * event_id rank (row_number over the unique id within event_type, keep
    * rank ≡ 1 mod 10): an exactly-reproducible 10% stratified downsample,
    * the form a training-data pipeline uses when samples must be
    * RE-DERIVABLE (lineage audits, incremental rebuilds) rather than
    * pseudo-random (Bernoulli sampling is seeded per-engine and can never
    * cross-check). One shuffle on the stratum key, in-partition sort on
    * the unique id, O(kept) output. At 100 TB the stratum partitions are
    * the parallelism unit and the modulus sets the rate exactly. */
  def stratifiedTake(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter((col("rn") % 10) === 1)
      .select(col("event_id"), col("event_type"), col("rn"))
      .orderBy("event_type", "rn")
  }

  /** q126: SCD2 point-in-time lookup — the consumption side of q116's
    * history: each lineitem probes the orders history for the status
    * EFFECTIVE at its version coordinate (probe v = l_linenumber mod 3;
    * effective row = valid_from ≤ v < valid_to, open range matches all).
    * The validity ranges partition [0,∞), so every probe finds exactly
    * one row — asserted by the count equality in the oracle compare. The
    * join is an EQUI hash join on the dimension key with the range
    * predicates as residual filters (per-key history is short, so the
    * residual scan is O(versions), never a nested loop) — the standard
    * effective-dated dimension lookup at 100 TB: shuffle on the key or
    * broadcast the history, both equi-join shaped. Output collapses to
    * the (status × version) contingency — |statuses|·|versions| rows. */
  def scd2PointLookup(s: SparkSession, dir: String): DataFrame = {
    val hist = scd2History(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("valid_from"), col("valid_to"))
    val probes = t(s, dir, "lineitem")
      .select(col("l_orderkey"),
        (col("l_linenumber") % 3).cast(IntegerType).as("v"),
        col("l_quantity"))
    probes.join(hist,
        probes("l_orderkey") === hist("o_orderkey") &&
          hist("valid_from") <= probes("v") &&
          (hist("valid_to").isNull || hist("valid_to") > probes("v")))
      .groupBy(col("o_orderstatus").as("eff_status"), col("v"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("eff_status", "v")
  }

  /** q127: schema-evolution union — two frames with DIFFERENT column sets
    * merged positionally-by-NAME (`unionByName(allowMissingColumns)`;
    * DuckDB `UNION ALL BY NAME`), the operation every long-lived dataset
    * needs when v2 adds columns v1 never had (missing columns null-fill).
    * The union is zero-shuffle (narrow), the summary is one partial-
    * aggregated pass; COUNT(col) vs COUNT(*) proves the null-fill landed
    * on exactly the v1 rows. */
  def unionByNameEvolution(s: SparkSession, dir: String): DataFrame = {
    val v1 = t(s, dir, "orders").select(
      col("o_orderkey").as("id"),
      col("o_totalprice").as("amount"),
      lit("order").as("src"))
    val v2 = t(s, dir, "lineitem").select(
      col("l_orderkey").as("id"),
      col("l_extendedprice").as("amount"),
      col("l_discount").as("disc"),
      lit("line").as("src"))
    v1.unionByName(v2, allowMissingColumns = true)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n"), dsum(col("amount")).as("sum_amount"),
        count(col("disc")).as("n_disc"))
      .orderBy("src")
  }

  /** q128: MERGE with updates AND deletes — q88's SCD-1 semantics extended
    * with the third MERGE verb: every 10th key is repriced (update wins
    * over base), every 50th carries a delete marker (tombstone wins over
    * everything and removes the key). One union of base + deltas, one
    * keyed window taking the highest-precedence row, one tombstone
    * filter — the full WHEN MATCHED UPDATE / WHEN MATCHED DELETE /
    * WHEN NOT MATCHED INSERT contract as a single shuffle on the merge
    * key. In production the base side is the partitioned snapshot and
    * deltas are small: the window runs per key group, never global. */
  def mergeWithDeletes(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val base = o.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"), lit(0).as("src"))
    val upd = o.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 1.1).as("o_totalprice"), lit(1).as("src"))
    val del = o.filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), lit("D").as("o_orderstatus"),
        col("o_totalprice"), lit(2).as("src"))
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("src").desc)
    base.unionAll(upd).unionAll(del)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("o_orderstatus") =!= "D")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** q129: data-quality audit — the constraint checks a pipeline gate runs
    * before publishing a snapshot, as ONE row: key-uniqueness violations,
    * referential orphans (facts without a parent dimension row), null and
    * domain violations. Each check is a one-pass aggregate or a LEFT ANTI
    * join (the scalable no-match probe — never a NOT IN nested loop);
    * the scalar results cross-join into a single row, so the query ships
    * |checks| numbers regardless of input size. All counts: bit-exact. */
  def dqAudit(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    val dupKeys = o.groupBy("o_orderkey").count()
      .filter(col("count") > 1)
      .agg(count(lit(1)).as("dup_orderkeys"))
    val orphans = li.join(o.select("o_orderkey"),
        li("l_orderkey") === o("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_lineitems"))
    val domain = li.agg(
      sum(when(col("l_quantity") <= 0, 1).otherwise(0))
        .cast(LongType).as("nonpos_qty"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 0.2, 1)
        .otherwise(0)).cast(LongType).as("discount_oob"),
      sum(when(col("l_extendedprice").isNull, 1).otherwise(0))
        .cast(LongType).as("null_price"))
    val vol = o.agg(count(lit(1)).as("n_orders"))
    vol.crossJoin(dupKeys).crossJoin(orphans).crossJoin(domain)
  }

  /** q146: QUARANTINE ROUTING — the row-level complement of q129's gate:
    * where the audit says whether the snapshot may publish, this says
    * WHAT to quarantine and why, as the bad-records histogram a
    * dual-write (clean sink / quarantine sink) routes on. Each row gets
    * a bitmask of its violated constraints (quantity, discount domain,
    * tax domain, price validity) in ONE narrow pass — no per-constraint
    * re-scan — and the output groups by mask, so downstream triage sees
    * each failure COMBINATION with its volume and an example key range.
    * Mask 0 is the clean cohort (the overwhelming mass at 100 TB; its
    * row proves the routing covers every record). All integer/boolean
    * arithmetic: bit-exact on both engines.
    *
    * The TPC-H-ish fixture is constraint-clean by construction, so the
    * input is the table plus deterministic CORRUPTED copies of keyed row
    * slices (the q111/q34 injection pattern): negated quantities,
    * out-of-domain discounts/taxes, a combined two-violation slice —
    * every single-bit path and a multi-bit combination must appear in
    * the histogram. */
  def quarantineRouting(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_discount", "l_tax",
        "l_extendedprice")
    val li = base
      .unionAll(base.filter(col("l_orderkey") % 500 === 0)
        .withColumn("l_quantity", -col("l_quantity")))
      .unionAll(base.filter(col("l_orderkey") % 700 === 0)
        .withColumn("l_discount", lit(0.5)))
      .unionAll(base.filter(col("l_orderkey") % 900 === 0)
        .withColumn("l_tax", lit(0.9)))
      .unionAll(base.filter(col("l_orderkey") % 1100 === 0)
        .withColumn("l_extendedprice", lit(-1.0)))
      .unionAll(base.filter(col("l_orderkey") % 1300 === 0)
        .withColumn("l_quantity", -col("l_quantity"))
        .withColumn("l_discount", lit(0.5)))
    val mask =
      when(col("l_quantity") <= 0, 1).otherwise(0) +
      when(col("l_discount") < 0 || col("l_discount") > 0.2, 2).otherwise(0) +
      when(col("l_tax") < 0 || col("l_tax") > 0.08, 4).otherwise(0) +
      when(col("l_extendedprice").isNull ||
        col("l_extendedprice") <= 0, 8).otherwise(0)
    li.withColumn("reason_mask", mask)
      .groupBy("reason_mask")
      .agg(count(lit(1)).as("n_rows"),
        min("l_orderkey").as("min_key"),
        max("l_orderkey").as("max_key"))
      .orderBy("reason_mask")
  }

  /** q156's measure list: (short name, column, exact 2-dp integer domain)
    * — quantity is integral; the money/rate columns are exact at two
    * decimals, so ×100 through DECIMAL(18,2) lands every measure in an
    * integer domain (the q112 routing, where every moment sum is exact).
    * One definition drives the Spark aggregation AND the oracle. */
  private[graft] val CorrCols: Seq[(String, String)] = Seq(
    "qty" -> "l_quantity", "price" -> "l_extendedprice",
    "disc" -> "l_discount", "tax" -> "l_tax")

  /** q156: CORRELATION MATRIX — q112's single pair generalized to every
    * measure pair in ONE scan: the profiling/feature-selection step that
    * decides which columns carry independent signal. All first and
    * second moments (4 sums, 4 squares, 6 cross-products) accumulate as
    * DECIMAL(38,0) products of exact integer-cents domains in a single
    * hash-free global aggregate; each pair's correlation then finishes
    * in doubles with the identical IEEE expression on both engines
    * (the q112 shape — one conversion per sum, no
    * decimal-with-scale→double hazard). Output: one row per unordered
    * pair. Zero-variance guards yield NULL identically. */
  def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    val ints = CorrCols.map { case (nm, c) =>
      nm -> (col(c).cast(DecimalType(18, 2)) * 100).cast(LongType) }
    val base = t(s, dir, "lineitem").select(
      ints.map { case (nm, e) => e.as(s"x_$nm") }: _*)
    val d38 = (nm: String) => col(s"x_$nm").cast(DecimalType(38, 0))
    val pairs = for {
      i <- CorrCols.indices; j <- CorrCols.indices if i < j
    } yield (CorrCols(i)._1, CorrCols(j)._1)
    val sums =
      CorrCols.map { case (nm, _) => sum(d38(nm)).cast(DoubleType).as(s"s_$nm") } ++
      CorrCols.map { case (nm, _) =>
        sum(d38(nm) * d38(nm)).cast(DoubleType).as(s"ss_$nm") } ++
      pairs.map { case (a, b) =>
        sum(d38(a) * d38(b)).cast(DoubleType).as(s"sp_${a}_$b") }
    val one = base.agg(count(lit(1)).as("n"), sums: _*)
    val nd = col("n").cast(DoubleType)
    val rows = pairs.map { case (a, b) =>
      val covN = nd * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")
      val varA = nd * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")
      val varB = nd * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        when(varA > 0 && varB > 0, covN / sqrt(varA * varB)).as("corr"))
    }
    one.select(col("n"), explode(array(rows: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("n"),
        round(col("p.corr"), 6).as("corr"))
      .orderBy("col_a", "col_b")
  }

  /** q159: CONVERSION LATENCY percentiles — the product-analytics twin of
    * q76's funnel COUNTS: not how many users convert, but how LONG
    * conversion takes (first view → first purchase per user), as the
    * p50/p90/p99 a latency SLO is written against. Deltas are exact
    * integer microseconds converted to seconds in one double division;
    * the exact interpolated percentile is the q54-proven parity surface
    * (Spark `percentile` ≡ DuckDB `quantile_cont`). One user-keyed
    * hash-agg collapses the event stream, then a single global
    * percentile over the (small) per-user frame. */
  def conversionLatency(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("us"))).as("fv"),
        min(when(col("event_type") === "purchase", col("us"))).as("fp"))
      .filter(col("fv").isNotNull && col("fp").isNotNull && col("fp") >= col("fv"))
      .withColumn("delta_s",
        (col("fp") - col("fv")).cast(DoubleType) / 1000000.0)
    per.agg(count(lit(1)).cast(IntegerType).as("n_converting"),
      round(expr("percentile(delta_s, 0.5)"), 4).as("p50_s"),
      round(expr("percentile(delta_s, 0.9)"), 4).as("p90_s"),
      round(expr("percentile(delta_s, 0.99)"), 4).as("p99_s"))
  }

  /** q158: EWMA — exponentially weighted moving average of daily revenue,
    * the standard smoothing/drift-baseline signal. The usual recursive
    * definition is not cross-engine reproducible term-by-term; instead
    * the λ=1/2, 16-term truncation expands to an EXPLICIT weighted sum
    * of lag terms: every weight 0.5^k is an exactly-representable double
    * (and an exact decimal literal, so both engines parse identical
    * values), the 16 products fold in one fixed source-order expression,
    * and the normalizing denominator Σ0.5^k is itself exact. Warm-up
    * days (any missing lag) yield NULL identically on both engines —
    * the smoothed series starts when the window fills. One daily
    * collapse shuffle + one ordered window, like [[rollingCorr]]. */
  def ewmaDaily(s: SparkSession, dir: String, terms: Int = 16): DataFrame = {
    require(terms > 0 && terms <= 40, s"terms out of range: $terms")
    val daily = t(s, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType).as("cents"))
    val w = Window.orderBy(col("day"))
    val weights = (0 until terms).map(k => math.pow(0.5, k))
    val num = weights.zipWithIndex.map { case (wk, k) =>
      lag(col("cents"), k).over(w).cast(DoubleType) * lit(wk)
    }.reduce(_ + _)
    val denom = weights.sum // exact: binary fractions with disjoint bits
    daily
      .withColumn("ewma_cents", num / lit(denom))
      .select(col("day"),
        round(col("ewma_cents") / 100.0, 6).as("ewma_revenue"))
      .orderBy("day")
  }

  /** q158's oracle twin of the weight list — exact decimal renderings of
    * 0.5^k (finite for every k), identical to the doubles Spark folds. */
  private[graft] def ewmaWeightLit(k: Int): String =
    new java.math.BigDecimal(math.pow(0.5, k)).toPlainString

  /** q157: ROLLING CORRELATION — the trailing-window co-movement signal
    * (risk/quant dashboards, drift monitors): per ship day, the
    * correlation of daily quantity vs daily revenue over the trailing
    * 30 days. Two stages, both exact: the fact table collapses to one
    * integer pair per day (quantity integral, revenue in cents — one
    * shuffle), then ONE ordered window carries five DECIMAL moment sums
    * (x, y, xy, x², y²) over the 30-row frame — the daily keys are
    * unique post-aggregation, so the ROWS frame is a pure function of
    * the data — and each day's coefficient finishes in doubles with the
    * q112/q156 IEEE expression. Warm-up days (fewer than 30 in frame)
    * report their partial-window coefficient with the frame size
    * alongside, zero-variance frames yield NULL identically. */
  def rollingCorr(s: SparkSession, dir: String, days: Int = 30): DataFrame = {
    val daily = t(s, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("x"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("y"))
    val w = Window.orderBy(col("day")).rowsBetween(-(days - 1), 0)
    val (x38, y38) =
      (col("x").cast(DecimalType(38, 0)), col("y").cast(DecimalType(38, 0)))
    val withSums = daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(x38).over(w).cast(DoubleType))
      .withColumn("sy", sum(y38).over(w).cast(DoubleType))
      .withColumn("sxy", sum(x38 * y38).over(w).cast(DoubleType))
      .withColumn("sxx", sum(x38 * x38).over(w).cast(DoubleType))
      .withColumn("syy", sum(y38 * y38).over(w).cast(DoubleType))
    val nd = col("n").cast(DoubleType)
    val varX = nd * col("sxx") - col("sx") * col("sx")
    val varY = nd * col("syy") - col("sy") * col("sy")
    withSums.select(col("day"), col("n"),
        round(when(varX > 0 && varY > 0,
          (nd * col("sxy") - col("sx") * col("sy")) / sqrt(varX * varY)), 6)
          .as("corr"))
      .orderBy("day")
  }

  /** q155: EQUAL-FREQUENCY binning — the complement of q89's equal-WIDTH
    * histogram and the discretization feature engineering actually uses
    * (uniform bin mass ⇒ every bin carries signal; width bins collapse
    * under skew). Per return flag, prices split into 8 ntile bins over
    * the unique (price, orderkey, linenumber) ordering, reporting each
    * bin's row count and [min, max] boundary — min/max are exact value
    * picks (no float accumulation), and the unique sort key makes the
    * assignment a pure function of the data on both engines.
    *
    * Scale note: the window is KEYED (per flag) but each partition still
    * totally orders its group; at 100 TB the same bins come from either
    * a repartitionByRange two-pass (the parquetClustered machinery) or
    * approximate boundaries via the GK sketch (q81's tool) — exact ntile
    * is the oracle-checkable fixture form of that operator. */
  def equifreqBins(s: SparkSession, dir: String, bins: Int = 8): DataFrame = {
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      .withColumn("bin", ntile(bins).over(w))
      .groupBy("l_returnflag", "bin")
      .agg(count(lit(1)).as("n"),
        min("l_extendedprice").as("lo"),
        max("l_extendedprice").as("hi"))
      .orderBy("l_returnflag", "bin")
  }

  /** q152's column list — one definition drives BOTH the Spark
    * aggregation and the generated oracle SQL, so they cannot drift. */
  private[graft] val ProfileCols: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")

  /** q152: COLUMN PROFILER — the table-profiling step a pipeline runs on
    * an unfamiliar feed before wiring transforms (the engine-side core
    * of describe()/Deequ-style profiling): per column, null count and
    * distinct cardinality, plus the row count, in ONE scan.
    *
    * `approx = true` is the AT-SCALE DEFAULT: `approx_count_distinct`
    * (HLL++, rsd 5%) needs O(kB) of state per column with NO row
    * expansion — the plan is a plain two-phase HashAggregate over one
    * scan, which is the only shape that survives profiling a 100 TB
    * feed. The exact form (`approx = false`) is the q86 Expand shape —
    * |columns|× row expansion sharing one scan — and exists as the
    * ORACLE TWIN: profiling counters must be provably correct somewhere,
    * so the driver's q152 correctness row pins the exact form against
    * DuckDB, and ColumnProfileSpec pins the approximate counts to an
    * error band around it (the q81 exact/approx pattern). Null counts
    * and n_rows are exact in both modes. The one-row aggregate then
    * unpivots to a row per column (q82's stack). */
  def columnProfile(s: SparkSession, dir: String,
                    approx: Boolean = true): DataFrame = {
    // fanOut ahead of the aggregate: the exact form Expands every row
    // |columns|× before the partial distinct, and a single-split scan
    // would run that whole expansion in ONE task; a production feed
    // arrives in thousands of splits and this guard is a no-op.
    val li = Tables.fanOut(t(s, dir, "lineitem"), "l_orderkey")
      .select(ProfileCols.map(col): _*)
    val aggs = ProfileCols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1).otherwise(0)).cast(LongType).as(s"null_$c"),
      (if (approx) approx_count_distinct(col(c)) else countDistinct(col(c)))
        .as(s"dist_$c")))
    val one = li.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stackArgs = ProfileCols
      .map(c => s"'$c', null_$c, dist_$c").mkString(", ")
    one.selectExpr("n_rows",
        s"stack(${ProfileCols.length}, $stackArgs) " +
          "AS (column_name, n_null, n_distinct)")
      .select(col("column_name"), col("n_rows"), col("n_null"),
        col("n_distinct"))
      .orderBy("column_name")
  }

  /** q151: LAST-TOUCH ATTRIBUTION — the marketing/behavioral-analytics
    * family (which interaction gets credit for a conversion): for every
    * purchase, credit the user's most recent PRECEDING non-purchase
    * event within a 24 h lookback. Windowed, never a self-join: events
    * sort once per user on the unique (epoch-micros, event_id) key —
    * a ROWS frame ending at 1 PRECEDING with `last(..., ignoreNulls)`
    * picks the credit event deterministically (the unique ordering key
    * makes peer order identical on both engines, where a RANGE frame's
    * peer scan would not be); the lookback is applied afterwards as a
    * plain integer comparison on the carried timestamp. Purchases with
    * no in-window touch report as 'none' — attribution must account
    * for every conversion, not just the matched ones. */
  def lastTouchAttribution(s: SparkSession, dir: String,
                           lookbackHours: Int = 24): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    ev
      .withColumn("touch_type",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .withColumn("touch_us",
        last(when(col("event_type") =!= "purchase", col("us")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("credit",
        when(col("touch_us").isNotNull &&
          col("us") - col("touch_us") <= lookbackHours.toLong * 3600000000L,
          col("touch_type")).otherwise(lit("none")))
      .groupBy("credit")
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy("credit")
  }

  /** q148: SNAPSHOT DIFF — the "what changed between yesterday's and
    * today's snapshot" reconciliation op the SCD family doesn't cover
    * (q116/q126 build and query history; q128 applies a merge; this
    * AUDITS two materialized generations after the fact). One full
    * outer join on the key classifies every row as added / removed /
    * changed / unchanged, with changed split by which column moved —
    * the drift report a warehouse runs before blessing a snapshot swap.
    * The second generation is derived deterministically (q88's repricing
    * slice, a deletion slice, a re-keyed insertion slice), so both
    * engines diff identical inputs. One shuffle on the join key; counts
    * all integer. */
  /** Fixture re-key offset for q148's inserted rows — a high bit (2^40),
    * not a constant near the key range: o_orderkey reaches 6M per unit
    * scale factor, so a 10^7 offset collides with real keys at sf≈2 and
    * the full-outer join would silently merge "added" rows with existing
    * ones. 2^40 stays disjoint through sf ≈ 180k; interpolated into the
    * oracle so both sides share one definition. */
  private[graft] val ReKeyOffset: Long = 1L << 40

  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    // v1 feeds three consumers (both v2 branches + the join's left side)
    // — materialize the narrow projection once
    val v1 = t(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        col("o_totalprice").as("price"))
      .localCheckpoint()
    val v2 = v1.filter(col("k") % 17 =!= 0) // deletions
      .withColumn("price",
        when(col("k") % 10 === 0, col("price") * 1.1).otherwise(col("price")))
      .withColumn("st", when(col("k") % 13 === 0, lit("U")).otherwise(col("st")))
      .unionAll(v1.filter(col("k") % 23 === 0) // insertions (re-keyed)
        .select((col("k") + ReKeyOffset).as("k"), col("st"), col("price")))
    val j = v1.select(col("k"), col("st").as("st1"), col("price").as("p1"))
      .join(v2.select(col("k"), col("st").as("st2"), col("price").as("p2")),
        Seq("k"), "full_outer")
    j.withColumn("change_type",
        when(col("st1").isNull, lit("added"))
          .when(col("st2").isNull, lit("removed"))
          .when(col("st1") =!= col("st2") || col("p1") =!= col("p2"),
            lit("changed"))
          .otherwise(lit("unchanged")))
      .groupBy("change_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("change_type") === "changed" &&
          col("st1") =!= col("st2"), 1).otherwise(0))
          .cast(IntegerType).as("n_status_changes"),
        sum(when(col("change_type") === "changed" &&
          col("p1") =!= col("p2"), 1).otherwise(0))
          .cast(IntegerType).as("n_price_changes"),
        min("k").as("min_key"), max("k").as("max_key"))
      .orderBy("change_type")
  }

  /** q149: CO-OCCURRENCE pairs — the frequent-itemset/market-basket
    * primitive (parts bought together): a per-basket self-join bounded
    * by basket width (never docs × docs — the join key is the order,
    * and TPC-H baskets hold ~4–7 items, so the explode is |orders|·w²),
    * then one hash-agg on the pair and a deterministic global top-k
    * (count desc, pair asc — q15's tie-break rule). The same shape
    * computes token co-occurrence or doc-pair affinity at corpus scale;
    * partial aggregation halves the pair shuffle. */
  def copurchasePairs(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    // the distinct (order, part) set self-joins — materialize it once so
    // the dedup shuffle doesn't run for both join sides
    val items = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .distinct()
      .localCheckpoint()
    items.as("a")
      .join(items.as("b"),
        col("a.okey") === col("b.okey") && col("a.part") < col("b.part"))
      .groupBy(col("a.part").as("part_a"), col("b.part").as("part_b"))
      .agg(count(lit(1)).as("n_baskets"))
      .orderBy(col("n_baskets").desc, col("part_a"), col("part_b"))
      .limit(k)
  }

  /** q206: ASSOCIATION RULES — q149's co-purchase pairs upgraded to the
    * classic support/confidence/lift metrics: for the top pair
    * candidates, support = P(A∧B), confidence(A→B) = P(B|A), and
    * lift = P(A∧B)/(P(A)P(B)) — lift > 1 is genuine affinity, ~1 is
    * what co-occurrence counting alone cannot distinguish from two
    * independently popular items. Candidate pairs come from a minimum
    * pair-count gate (the support-pruning step of Apriori — candidates
    * never leave the frequent region).
    *
    * Shape at 100 TB: the q149 self-join produces pair counts; item
    * supports are one hash-agg on the distinct (order, item) set; the
    * metric assembly joins the |pairs| frame to the broadcast item
    * supports. Exact integer counts; the three ratios are fixed IEEE
    * divisions reported raw. */
  def associationRules(s: SparkSession, dir: String,
                       minPairs: Long = 3L): DataFrame = {
    val items = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .distinct()
      .localCheckpoint() // three consumers: basket count, supports, pairs
    val nb = items.agg(countDistinct("okey").cast(DoubleType).as("nd"))
    val supp = items.groupBy("part").agg(count(lit(1)).as("cnt"))
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.okey") === col("b.okey") && col("a.part") < col("b.part"))
      .groupBy(col("a.part").as("part_a"), col("b.part").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairs)
    // item supports are CATALOG-sized — no broadcast hint (the q64
    // tfidf lesson): AQE broadcasts at fixture scale, a shuffled hash
    // join takes over when the catalog outgrows executor memory
    pairs
      .join(supp.withColumnsRenamed(
        Map("part" -> "part_a", "cnt" -> "ca")), Seq("part_a"))
      .join(supp.withColumnsRenamed(
        Map("part" -> "part_b", "cnt" -> "cb")), Seq("part_b"))
      .crossJoin(broadcast(nb))
      .select(col("part_a"), col("part_b"),
        col("n_ab").cast(IntegerType).as("n_ab"),
        (col("n_ab").cast(DoubleType) / col("nd")).as("support"),
        (col("n_ab").cast(DoubleType) / col("ca")).as("conf_a_b"),
        (col("n_ab").cast(DoubleType) * col("nd") /
          (col("ca") * col("cb")).cast(DoubleType)).as("lift"))
      .orderBy("part_a", "part_b")
  }

  // ---------------------------------------------------------------- oracles

  /** The asymptotic-p + BH tail CTEs (l/pp/ranked/adj + final SELECT)
    * shared by the q251 and q263 oracles — the SQL spelling of
    * [[ksTailOf]]. Expects a preceding CTE `d` with
    * (type_a, type_b, na, nb, d). */
  private def ksTailSql: String = {
    val terms = Seq(1, 2, 3, 4, 5).map(k =>
      s"round(exp(${-2.0 * k * k} * lam * lam), 9)")
    val series = s"(${terms(0)} - ${terms(1)} + ${terms(2)} - " +
      s"${terms(3)} + ${terms(4)})"
    s"""l AS (SELECT *,
       |    (sqrt(CAST(na AS DOUBLE) * nb / CAST(na + nb AS DOUBLE))
       |      + 0.12 + 0.11 / sqrt(CAST(na AS DOUBLE) * nb /
       |        CAST(na + nb AS DOUBLE))) * d AS lam
       |  FROM d),
       |pp AS (SELECT *,
       |    LEAST(1.0, GREATEST(0.0, 2.0 * $series)) AS p
       |  FROM l),
       |ranked AS (SELECT *,
       |    ROW_NUMBER() OVER (ORDER BY p, type_a, type_b) AS rnk,
       |    COUNT(*) OVER () AS m
       |  FROM pp),
       |adj AS (SELECT *,
       |    MIN(p * m / rnk) OVER (ORDER BY rnk DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS madj
       |  FROM ranked)
       |SELECT type_a, type_b, CAST(na AS INTEGER) AS n_a,
       |  CAST(nb AS INTEGER) AS n_b, d AS d_stat, lam AS lambda,
       |  p AS p_value, CAST(rnk AS INTEGER) AS rnk,
       |  LEAST(1.0, madj) AS p_adj,
       |  LEAST(1.0, madj) <= 0.05 AS significant
       |FROM adj ORDER BY type_a, type_b""".stripMargin
  }

  /** q290: KEY-SKEW AUDIT — the pre-shuffle diagnosis that decides
    * whether a join/agg key needs salting (the q87 lever) or AQE skew
    * handling: for each key axis the suite actually shuffles on, the
    * key count, the share of the hottest key and hottest five, and the
    * normalized key entropy (1 = perfectly flat, → 0 = one key owns
    * the shuffle). Entropy terms round ln at 6 dp per KEY and sum as
    * exact DECIMAL; shares are ratios of exact counts. One hash-agg
    * per axis — the audit costs what a count(*) by key costs. */
  def keySkewAudit(s: SparkSession, dir: String): DataFrame = {
    def axis(name: String, keyed: DataFrame): DataFrame = {
      val counts = keyed.groupBy("k").agg(count(lit(1)).as("c"))
        .localCheckpoint() // totals + entropy + two top-k read it
      val nr = counts.agg(sum("c").cast(DoubleType).as("nr"))
      val p = col("c").cast(DoubleType) / col("nr")
      val tot = counts.crossJoin(broadcast(nr))
        .agg(sum("c").as("n_rows"), count(lit(1)).as("n_keys"),
          sum(round(p * round(log(p), 6), 9)
            .cast(DecimalType(28, 9))).cast(DoubleType).as("hsum"))
      val top1 = counts.orderBy(col("c").desc, col("k")).limit(1)
        .agg(sum("c").as("top1"))
      val top5 = counts.orderBy(col("c").desc, col("k")).limit(5)
        .agg(sum("c").as("top5"))
      tot.crossJoin(top1).crossJoin(top5)
        .select(lit(name).as("axis"), col("n_keys"), col("n_rows"),
          round(col("top1").cast(DoubleType) /
            col("n_rows").cast(DoubleType), 6).as("top1_share"),
          round(col("top5").cast(DoubleType) /
            col("n_rows").cast(DoubleType), 6).as("top5_share"),
          round(when(col("n_keys") > 1,
            -col("hsum") / round(log(col("n_keys").cast(DoubleType)), 6)),
            6).as("norm_entropy"))
    }
    val ev = t(s, dir, "events")
    val axes = Seq(
      axis("events.event_type",
        ev.select(col("event_type").as("k"))),
      axis("events.user_bucket",
        ev.select(pmod(col("user_id"), lit(100L)).cast(StringType)
          .as("k"))),
      axis("documents.source",
        t(s, dir, "documents").select(col("source").as("k"))),
      axis("lineitem.l_returnflag",
        t(s, dir, "lineitem").select(col("l_returnflag").as("k"))))
    axes.reduce(_ unionByName _).orderBy("axis")
  }

  private def q290OracleS: String = {
    val axes = Seq(
      ("a1", "documents.source", "SELECT source AS k FROM documents"),
      ("a2", "events.event_type", "SELECT event_type AS k FROM events"),
      ("a3", "events.user_bucket",
        // ((x % m) + m) % m: DuckDB % keeps the dividend's sign, Spark
        // pmod is always nonnegative — normalize so negative ids agree
        "SELECT CAST((user_id % 100 + 100) % 100 AS VARCHAR) AS k " +
          "FROM events"),
      ("a4", "lineitem.l_returnflag",
        "SELECT l_returnflag AS k FROM lineitem"))
    val ctes = axes.map { case (p, _, sel) =>
      s"""${p}cnt AS MATERIALIZED (SELECT k, COUNT(*) AS c
         |  FROM ($sel) GROUP BY k)""".stripMargin
    }.mkString(",\n")
    val arms = axes.map { case (p, name, _) =>
      s"""SELECT '$name' AS axis,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ${p}cnt) AS n_keys,
         |  (SELECT CAST(SUM(c) AS BIGINT) FROM ${p}cnt) AS n_rows,
         |  round(CAST((SELECT SUM(c) FROM (SELECT c, k FROM ${p}cnt
         |      ORDER BY c DESC, k LIMIT 1)) AS DOUBLE) /
         |    CAST((SELECT SUM(c) FROM ${p}cnt) AS DOUBLE), 6)
         |    AS top1_share,
         |  round(CAST((SELECT SUM(c) FROM (SELECT c, k FROM ${p}cnt
         |      ORDER BY c DESC, k LIMIT 5)) AS DOUBLE) /
         |    CAST((SELECT SUM(c) FROM ${p}cnt) AS DOUBLE), 6)
         |    AS top5_share,
         |  round(CASE WHEN (SELECT COUNT(*) FROM ${p}cnt) > 1 THEN
         |    -(SELECT CAST(SUM(CAST(round((CAST(c AS DOUBLE) / t.nr) *
         |        round(ln(CAST(c AS DOUBLE) / t.nr), 6), 9)
         |      AS DECIMAL(28,9))) AS DOUBLE)
         |      FROM ${p}cnt, (SELECT CAST(SUM(c) AS DOUBLE) AS nr
         |        FROM ${p}cnt) t)
         |    / round(ln(CAST((SELECT COUNT(*) FROM ${p}cnt) AS DOUBLE)),
         |      6) END, 6) AS norm_entropy""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $ctes
       |$arms
       |ORDER BY axis""".stripMargin
  }

  /** q329: PEAK CONCURRENCY — the sweep-line interval operator capacity
    * planning runs on q50's sessions: per day, the maximum number of
    * sessions open at one instant, and the first microsecond that
    * reached it. Each session becomes (+1 at start, −1 at end+1µs)
    * deltas; equal-instant deltas NET inside one hash-agg (so the
    * running sum is tie-order-free by construction — no engine-specific
    * tie sequencing can change any prefix value), and the running sum's
    * per-day max is the peak. Sessions crossing midnight are clipped
    * into per-day segments (a session open at the boundary counts in
    * both days — the capacity question is per-instant, not
    * per-attribution).
    *
    * Shape at 100 TB: the sweep is NOT one global ordered pass (the
    * classic single-sort formulation dies on one partition) — day
    * clipping makes every window PARTITIONED by day, so the sort is
    * per-day-sized and parallel; the delta frame is 2 rows per
    * session-day, integer microseconds end to end. Fully incremental
    * by day for a daily pipeline. */
  def peakConcurrency(s: SparkSession, dir: String): DataFrame = {
    val gapS = 7200L // q50's session gap
    val dayUs = 86400000000L
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
      .withColumn("brk",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapS * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_idx", sum(col("brk")).over(wRun))
      .groupBy("user_id", "session_idx")
      .agg(min(unix_micros(col("ts"))).as("s_us"),
        max(unix_micros(col("ts"))).as("e_us"))
    val segs = sessions
      .select(explode(sequence(expr(s"s_us div $dayUs"),
        expr(s"e_us div $dayUs"))).as("day"), col("s_us"), col("e_us"))
      .select(col("day"),
        greatest(col("s_us"), col("day") * dayUs).as("a"),
        least(col("e_us"), (col("day") + 1) * dayUs - 1).as("b"))
      .localCheckpoint() // both delta arms read it
    val deltas = segs.select(col("day"), col("a").as("us"), lit(1L).as("d"))
      .unionByName(segs.select(col("day"), (col("b") + 1).as("us"),
        lit(-1L).as("d")))
      .groupBy("day", "us").agg(sum("d").as("net"))
    val byDay = Window.partitionBy("day").orderBy("us")
    deltas
      .withColumn("conc", sum("net").over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("mx", max(col("conc")).over(Window.partitionBy("day")))
      .groupBy("day")
      .agg(max(col("conc")).cast(IntegerType).as("peak"),
        min(when(col("conc") === col("mx"), col("us"))).as("peak_at_us"))
      .select(date_add(lit("1970-01-01").cast(DateType),
        col("day").cast(IntegerType)).as("day_date"),
        col("peak"), col("peak_at_us"))
      .orderBy("day_date")
  }

  /** q326: CUPED variance reduction (Deng et al., WSDM'13) — THE
    * experimentation-platform adjustment: an A/B metric's variance
    * shrinks by ρ² when each user's post-period metric Y is replaced by
    * Y − θ·(X − E[X]) with X a PRE-period covariate (pre behavior can't
    * be affected by treatment, so the adjustment is unbiased), θ =
    * cov(X,Y)/var(X). Reports, per deterministic hash-assigned variant:
    * users, raw mean, CUPED mean — plus the pooled θ and the ρ²
    * variance-reduction factor the platform quotes when it says "this
    * experiment needed 40 % less traffic".
    *
    * Determinism: per-user X/Y period sums are exact DECIMAL(18,4)
    * routes; the pooled moment sums follow q183's discipline (9-dp
    * row rounding into DECIMAL(28,9)); θ/ρ²/means are fixed-order
    * double closing algebra — identical expressions both engines.
    * Variant = md5-fold of user_id mod 2 (q139's bucketing), so the
    * assignment is reproducible across engines and runs.
    *
    * Shape at 100 TB: ONE event scan → per-user hash-agg (the natural
    * pre-aggregation an experimentation pipeline owns anyway), a 1-row
    * pooled-moment frame broadcast onto the 2-row per-variant frame.
    * No shuffle beyond the user agg; adding covariates = adding moment
    * columns, not scans. */
  def cupedAdjust(s: SparkSession, dir: String): DataFrame = {
    val boundary = lit("2024-01-16 00:00:00").cast(TimestampType)
    val d9 = (c: org.apache.spark.sql.Column) =>
      sum(round(c, 9).cast(DecimalType(28, 9)))
    val perUser = t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        sum(when(col("ts") < boundary, col("value")).otherwise(lit(0.0))
          .cast(DecimalType(18, 4))).as("xd"),
        sum(when(col("ts") >= boundary, col("value")).otherwise(lit(0.0))
          .cast(DecimalType(18, 4))).as("yd"))
      .select(col("user_id"),
        pmod(graft.functions.TextPrims.hex60C(
          md5(col("user_id").cast(StringType))), lit(2L)).as("variant"),
        col("xd").cast(DoubleType).as("x"),
        col("yd").cast(DoubleType).as("y"))
      .localCheckpoint() // pooled moments + per-variant stats read it
    val pooled = perUser.agg(
      count(lit(1)).as("n"),
      d9(col("x")).cast(DoubleType).as("sx"),
      d9(col("y")).cast(DoubleType).as("sy"),
      d9(col("x") * col("y")).cast(DoubleType).as("sxy"),
      d9(col("x") * col("x")).cast(DoubleType).as("sxx"),
      d9(col("y") * col("y")).cast(DoubleType).as("syy"))
    val perVar = perUser.groupBy("variant").agg(
      count(lit(1)).as("n_users"),
      d9(col("x")).cast(DoubleType).as("sxv"),
      d9(col("y")).cast(DoubleType).as("syv"))
    val nD = col("n").cast(DoubleType)
    val covN = nD * col("sxy") - col("sx") * col("sy")
    val varXN = nD * col("sxx") - col("sx") * col("sx")
    val varYN = nD * col("syy") - col("sy") * col("sy")
    val theta = covN / varXN
    val rho2 = covN * covN / (varXN * varYN)
    val nvD = col("n_users").cast(DoubleType)
    val meanY = col("syv") / nvD
    val meanXv = col("sxv") / nvD
    val meanX = col("sx") / nD
    perVar.crossJoin(broadcast(pooled))
      .select(col("variant"), col("n_users"),
        round(meanY, 6).as("mean_y_raw"),
        round(meanY - theta * (meanXv - meanX), 6).as("mean_y_cuped"),
        round(theta, 6).as("theta"),
        round(rho2, 6).as("var_reduction"))
      .orderBy("variant")
  }

  /** q340: ROARING-STYLE BITMAP EXACT DISTINCT — per event type, the
    * exact distinct-user count computed through Spark's bitmap
    * aggregate family (`bitmap_bucket_number` / `bitmap_bit_position`
    * / `bitmap_construct_agg` / `bitmap_count`): ids are bucketed into
    * fixed 32768-bit planes, each (type, bucket) group ORs its
    * positions into one binary bitmap, and the distinct count is the
    * sum of per-bucket popcounts. This is the warehouse pattern for
    * REUSABLE exact distincts — unlike COUNT(DISTINCT …), the per-bucket
    * bitmaps are mergeable partial state (union across days = OR), the
    * same reason count-distinct materialized views store bitmaps. The
    * oracle is plain COUNT(DISTINCT) — hash-equality certifies the
    * whole bitmap route exact, not approximate.
    *
    * Shape at 100 TB: one scan → hash-agg on (type, bucket) with
    * map-side partial ORs (each partial is ≤4 KB regardless of rows),
    * then a tiny popcount rollup per type. The shuffle carries one
    * bitmap per (type, bucket), never one row per distinct id — the
    * exact-distinct shuffle collapses by the id-density factor. */
  def bitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    // the bitmap plane needs ids ≥ 1; the fixture's user_id starts at 0
    val uid = col("user_id") + lit(1L)
    t(s, dir, "events")
      .select(col("event_type"), uid.as("uid"))
      .groupBy(col("event_type"),
        expr("bitmap_bucket_number(uid)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(uid))").as("bm"))
      .groupBy("event_type")
      .agg(sum(expr("bitmap_count(bm)")).cast(LongType).as("n_users"))
      .orderBy("event_type")
  }

  /** q342: AUTOCORRELATION FUNCTION — per event type, the lag-1..3
    * autocorrelation of the hourly event-count series: the seasonality
    * detector every ingestion-volume monitor runs (hourly traffic with
    * a daily cycle shows the comb at lag 24; a near-1 lag-1 ACF says
    * the series is trend-dominated and rate alerts need differencing).
    *
    * Determinism: the series values are integer COUNTS, so all five
    * moment sums (Σx, Σy, Σxy, Σx², Σy²) are exact BIGINT aggregates —
    * no float accumulation anywhere; the closing Pearson algebra is a
    * fixed-order double expression, identical in both engines. Lags
    * pair observed hours k STEPS apart (lead over the ordered series,
    * same on both sides).
    *
    * Shape at 100 TB: the raw scan collapses to O(types × hours) rows
    * in one hash-agg; the window and moment aggs run on the collapsed
    * series — partitioned by type, never a global window. */
  def acfHourly(s: SparkSession, dir: String, maxLag: Int = 3): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("hour")
    val lagged = (1 to maxLag).map { k =>
      hourly.select(col("event_type"), lit(k).as("lag"),
        col("x"), lead(col("x"), k).over(w).as("y"))
        .filter(col("y").isNotNull)
    }.reduce(_ unionAll _)
    val nD = col("n").cast(DoubleType)
    val num = nD * col("sxy").cast(DoubleType) -
      col("sx").cast(DoubleType) * col("sy").cast(DoubleType)
    val denx = nD * col("sxx").cast(DoubleType) -
      col("sx").cast(DoubleType) * col("sx").cast(DoubleType)
    val deny = nD * col("syy").cast(DoubleType) -
      col("sy").cast(DoubleType) * col("sy").cast(DoubleType)
    lagged.groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("lag"),
        col("n").cast(IntegerType).as("n_pairs"),
        round(num / sqrt(denx * deny), 9).as("acf"))
      .orderBy("event_type", "lag")
  }

  /** q344: SPEARMAN RANK CORRELATION — per return flag, the rank
    * correlation between quantity and extended price: the outlier-robust
    * monotone-association check (Pearson on q156 sees linearity; Spearman
    * sees any monotone link and shrugs at heavy tails — the pair is the
    * standard drift-diagnosis duo).
    *
    * Exactness under ties: fractional (average) ranks — the textbook
    * treatment — via min-rank + tie-group size: avg rank = rank() +
    * (ties−1)/2. Both engines compute DOUBLED ranks (2·rank + ties − 1),
    * which are INTEGERS, so every moment sum is an exact DECIMAL(38,0)
    * aggregate (products reach ~(2n)²·n, past BIGINT at 100 TB scale);
    * Pearson on doubled ranks equals Pearson on ranks (scale/shift
    * invariance). Closing algebra in fixed-order doubles.
    *
    * Shape at 100 TB: ranking never sorts row-grain data in a per-flag
    * window (a 3-value partition key means ~n/3 rows through ONE task —
    * the single-reducer shape the repo eliminates everywhere else).
    * Instead each variable collapses to (flag, value, count) group
    * grain in a hash-agg, the doubled rank comes from [[RangeIndex]]
    * .groupedPrefix (range-partitioned two-pass prefix sum — min_rank
    * of a value is 1 + the count of same-flag rows below it), and the
    * narrow rank tables hash-join back onto the fact rows before one
    * moment hash-agg. Two range shuffles over GROUP grain + two row-
    * grain equi-joins — every stage fully parallel. */
  def spearmanCorr(s: SparkSession, dir: String): DataFrame = {
    // round-17 fusion (r16 verdict item 4): BOTH variables' rank tables
    // come from ONE grouped pass (explode tags each measure) and ONE
    // range-partition prefix pass over the composite group (flag, var) —
    // spelled flag||tag, l_returnflag is a single TPC-H char — instead
    // of two scans + two ranged checkpoints + two driver collects + two
    // stamping passes. Per (flag, var) the prefix sums are unchanged
    // (groups never interact), so the doubled ranks are bit-identical.
    // fanOut first (§2.5 input skew): the single-file lineitem scan is
    // ONE split, so the 2× explode + decimal partial aggs + both join
    // map sides otherwise run in one task; checkpointed once — the
    // group build and the fact side both read it 32-way.
    val li = Tables.fanOut(t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice"), "l_orderkey")
      .localCheckpoint()
    val tagged = li
      .select(col("l_returnflag"), explode(array(
        struct(lit("q").as("v"), col("l_quantity").as("value")),
        struct(lit("p").as("v"), col("l_extendedprice").as("value"))))
        .as("x"))
      .select(concat(col("l_returnflag"), col("x.v")).as("g"),
        col("x.value").as("value"))
    val groups = tagged.groupBy("g", "value").agg(count(lit(1)).as("c"))
    // doubled fractional rank of every row carrying the value:
    // 2*min_rank + ties - 1 = 2*(pfx+1) + c - 1 (integer-exact)
    val ranks = RangeIndex.groupedPrefix(s, groups, "g", "value", "c")
      .select(col("g"), col("value"),
        (lit(2) * (col("pfx") + 1) + col("c") - 1).as("dr"))
      .localCheckpoint() // both variable splits read it
    def rankTable(tag: String, v: String, out: String): DataFrame =
      ranks.filter(substring(col("g"), 2, 1) === tag)
        .select(substring(col("g"), 1, 1).as("l_returnflag"),
          col("value").as(v), col("dr").as(out))
    val ranked = li
      .select("l_returnflag", "l_quantity", "l_extendedprice")
      .join(broadcast(rankTable("q", "l_quantity", "rx")),
        Seq("l_returnflag", "l_quantity"))
      .join(rankTable("p", "l_extendedprice", "ry"),
        Seq("l_returnflag", "l_extendedprice"))
    val d38 = (c: org.apache.spark.sql.Column) =>
      sum(c.cast(DecimalType(38, 0))).cast(DoubleType)
    // overflow protection must precede the multiply: each doubled-rank
    // factor is cast to DECIMAL(38,0) BEFORE the product, so rx*ry never
    // forms in LongType (where ~(2n)² wraps past BIGINT at 100 TB scale)
    val dec = (n: String) => col(n).cast(DecimalType(38, 0))
    val dprod = (a: String, b: String) => sum(dec(a) * dec(b))
      .cast(DoubleType)
    val nD = col("n").cast(DoubleType)
    val num = nD * col("sxy") - col("sx") * col("sy")
    val den = sqrt(nD * col("sxx") - col("sx") * col("sx")) *
      sqrt(nD * col("syy") - col("sy") * col("sy"))
    ranked.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        d38(col("rx")).as("sx"), d38(col("ry")).as("sy"),
        dprod("rx", "ry").as("sxy"),
        dprod("rx", "rx").as("sxx"),
        dprod("ry", "ry").as("syy"))
      .select(col("l_returnflag"), col("n").cast(IntegerType).as("n_rows"),
        round(num / den, 9).as("spearman_rho"))
      .orderBy("l_returnflag")
  }

  /** q345: TRY_* SAFE-CAST INGESTION AUDIT — the error-tolerant parse
    * pass every raw-feed ingestion runs: a deterministically messy
    * string rendition of order totals (clean, padded, empty, sentinel,
    * scientific notation) goes through `try_cast`, and the audit
    * reports per-class parse yield plus the recovered sum — nulls
    * counted, never thrown. ANSI mode makes plain CAST throw on the
    * same input; try_cast is the SQL-standard-shaped escape hatch that
    * keeps the 100 TB batch alive while quarantining the bad 0.1 %.
    * The oracle mirrors with DuckDB's TRY_CAST — agreement certifies
    * the whole per-class semantics (trim-then-parse, empty → NULL,
    * exponent handling), not just the happy path.
    *
    * Both engines parse each other-agnostic strings back to doubles;
    * the recovered sum routes through DECIMAL(18,4) (dsum). One scan,
    * one hash-agg. */
  def tryCastAudit(s: SparkSession, dir: String): DataFrame = {
    val cls = pmod(col("o_orderkey"), lit(5L))
    val messy = when(cls === 0, col("o_totalprice").cast(StringType))
      .when(cls === 1, concat(lit("  "),
        col("o_totalprice").cast(StringType), lit("  ")))
      .when(cls === 2, lit("N/A"))
      .when(cls === 3, lit(""))
      .otherwise(concat(pmod(col("o_orderkey"), lit(97L)).cast(StringType),
        lit("e2")))
    t(s, dir, "orders")
      .select(cls.as("cls"), messy.as("raw"))
      .withColumn("v", expr("try_cast(raw as double)"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n"),
        sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_parsed"),
        dsum(coalesce(col("v"), lit(0.0))).as("sum_parsed"))
      .select(col("cls").cast(IntegerType).as("cls"),
        col("n").cast(IntegerType).as("n"),
        col("n_parsed").cast(IntegerType).as("n_parsed"),
        col("sum_parsed"))
      .orderBy("cls")
  }

  /** q346: ORDERED LISTAGG — per nation, the alphabetical roster of its
    * suppliers as one delimited string (Spark 4's `listagg … WITHIN
    * GROUP (ORDER BY …)`, the ISO-SQL:2016 spelling): the
    * report-formatting aggregate that turns a detail table into a
    * one-row-per-group digest. Deterministic because the within-group
    * order is total (names are unique). Group sizes here are bounded
    * by the dimension's fan-out (suppliers per nation); at 100 TB the
    * contract is the same one every LISTAGG carries — bound the group
    * or truncate — and the oracle (DuckDB string_agg ORDER BY) pins
    * byte-identical output. */
  def listaggSuppliers(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "supplier")
      .join(t(s, dir, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).cast(IntegerType).as("n_suppliers"),
        expr("listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name)")
          .as("roster"))
      .orderBy("n_name")
  }

  /** q369: SCHEMA-EVOLVING UNION — two generations of the same feed
    * (an old extract missing a column, a new extract carrying an extra
    * one) unified with `unionByName(allowMissingColumns = true)`:
    * absent columns null-fill per side, names align by NAME not
    * position — the silent-corruption trap positional UNION has when a
    * producer reorders fields. The rollup then audits per generation:
    * row count, how many rows carry the new column. Oracle = explicit
    * NULL-padded UNION ALL. One Expand-free union, one agg. */
  def schemaEvolvingUnion(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // generation split is deterministic: old feed lacks `value`,
    // new feed adds `score` (derived, non-null)
    val gen1 = ev.filter(pmod(col("event_id"), lit(2L)) === 0)
      .select(col("event_id"), col("event_type"))
    val gen2 = ev.filter(pmod(col("event_id"), lit(2L)) === 1)
      .select(col("event_id"), col("event_type"),
        col("value").cast(DecimalType(18, 4)).as("value"),
        pmod(col("event_id"), lit(100L)).as("score"))
    gen1.withColumn("gen", lit(1))
      .unionByName(gen2.withColumn("gen", lit(2)),
        allowMissingColumns = true)
      .groupBy("gen", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("score").isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(coalesce(col("value"), lit(0).cast(DecimalType(18, 4))))
          .cast(DoubleType).as("sum_value"))
      .orderBy("gen", "event_type")
  }

  /** q370: NULL-SAFE EQUALITY JOIN (`<=>` / IS NOT DISTINCT FROM) —
    * the join semantics data reconciliation actually needs: NULL keys
    * MATCH each other instead of silently dropping (standard `=`
    * evaluates NULL = NULL to NULL and the row vanishes — the classic
    * missing-rows bug when a nullable dimension key joins a nullable
    * fact key). Keys are made deterministically nullable (every 7th
    * bucket), joined both ways, and the census counts matches through
    * the null bucket. Catalyst still plans `<=>` as an equi hash join
    * (null-safe keys hash like values) — never a nested loop. */
  def nullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    def keyed(df: DataFrame, id: String) = {
      val k = pmod(col(id), lit(97L))
      df.select(when(k === 0, lit(null).cast(LongType)).otherwise(k)
        .as("k"))
    }
    val a = keyed(t(s, dir, "orders"), "o_orderkey")
      .groupBy("k").agg(count(lit(1)).as("na"))
    val b = keyed(t(s, dir, "lineitem"), "l_orderkey")
      .groupBy("k").agg(count(lit(1)).as("nb"))
    a.join(b, a("k") <=> b("k"))
      .select(
        when(a("k").isNull, lit("null-bucket")).otherwise(lit("valued"))
          .as("bucket"),
        (col("na") * col("nb")).as("pairs"))
      .groupBy("bucket")
      .agg(count(lit(1)).cast(IntegerType).as("n_keys"),
        sum(col("pairs")).as("n_pairs"))
      .orderBy("bucket")
  }

  /** q366: REFERENTIAL-INTEGRITY AUDIT — orphan foreign keys across
    * the star schema in ONE report: lineitems whose order vanished,
    * orders whose customer vanished, suppliers/customers pointing at
    * no nation. The constraint check a lake without enforced FKs runs
    * nightly; every edge is ONE left join + ONE conditional aggregate
    * (total / NULL-key / dangling counted in the same pass — an anti
    * join would both conflate "dangling" with "absent" AND force a
    * second scan for the census). Parent keys are unique, so the left
    * join never multiplies; the parent side broadcasts when small.
    * Each child relation is scanned exactly once; the four 1-row
    * frames union into the report. */
  def referentialAudit(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, key: String,
             parent: DataFrame, pkey: String): DataFrame =
      child.select(col(key))
        .join(parent.select(col(pkey)), col(key) === col(pkey), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col(key).isNull, 1L).otherwise(0L))
            .cast(IntegerType).as("n_null_key"),
          sum(when(col(key).isNotNull && col(pkey).isNull, 1L)
            .otherwise(0L)).cast(IntegerType).as("n_orphan"))
        .select(lit(name).as("edge"), col("n_child"),
          col("n_null_key"), col("n_orphan"))
    edge("lineitem->orders", t(s, dir, "lineitem"), "l_orderkey",
        t(s, dir, "orders"), "o_orderkey")
      .unionAll(edge("orders->customer", t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer"), "c_custkey"))
      .unionAll(edge("customer->nation", t(s, dir, "customer"),
        "c_nationkey", t(s, dir, "nation"), "n_nationkey"))
      .unionAll(edge("supplier->nation", t(s, dir, "supplier"),
        "s_nationkey", t(s, dir, "nation"), "n_nationkey"))
      .orderBy("edge")
  }

  /** q367: CALENDAR DIMENSION GENERATOR — the date-spine table every
    * warehouse joins against: one row per day across the orders date
    * range with the derived calendar attributes (ISO day-of-week,
    * month, quarter, month-end flag, ISO week). Generated IN-PLAN from
    * one `sequence` explode off a 1-row bounds aggregate — no driver
    * loop, no external table; at 100 TB the spine is still only
    * O(days) rows. Every attribute is integer/boolean (no locale-
    * dependent names to diverge across engines). */
  def calendarDim(s: SparkSession, dir: String): DataFrame = {
    val bounds = t(s, dir, "orders")
      .agg(to_date(min("o_orderdate")).as("lo"),
        to_date(max("o_orderdate")).as("hi"))
    bounds.select(explode(sequence(col("lo"), col("hi"))).as("day"))
      .select(col("day"),
        dayofweek(col("day")).as("dow"),
        month(col("day")).as("month"),
        quarter(col("day")).as("quarter"),
        weekofyear(col("day")).as("iso_week"),
        (col("day") === last_day(col("day"))).cast(IntegerType)
          .as("is_month_end"))
      .orderBy("day")
  }

  /** q368: LATEST RECORD PER KEY via max_by — each user's most recent
    * event with its payload, the one-pass argmax aggregate (ISO SQL's
    * arg_max family): ONE hash aggregate carrying the maximizing
    * struct, instead of the rank-window + filter detour (which pays a
    * per-key sort). Ties broken by event_id inside the ordering key so
    * the argmax is total. The SCD/"current state" read every CDC
    * consumer runs. */
  def latestPerUser(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"),
      col("event_type"), col("value"))
    ev.groupBy("user_id")
      .agg(count(lit(1)).cast(IntegerType).as("n_events"),
        expr("max_by(event_type, struct(us, event_id))")
          .as("last_type"),
        expr("max_by(value, struct(us, event_id))").as("last_value"),
        max(struct(col("us"), col("event_id"))).getField("us")
          .as("last_us"))
      .orderBy("user_id")
  }

  /** q362: TIME-WEIGHTED AVERAGE (TWAP) — each user's value series is
    * piecewise-constant between events (the order-book/sensor reading
    * model), so the honest per-user average weights every reading by
    * how long it HELD, not by how often it was sampled — the number a
    * billing or exposure computation actually needs. Per user: Σ v·Δt
    * over consecutive event pairs ÷ the observed span; single-event
    * users carry no duration and are excluded by definition.
    *
    * Exactness: Δt stays in integer microseconds; v·Δt multiplies
    * DECIMAL(18,4) by BIGINT (exact, both engines); the per-user close
    * is one double division rounded to 9 dp, then re-aggregated per
    * user-decile through DECIMAL(28,9) (q183 discipline). One
    * partitioned lead window + two hash aggs. */
  def twapByUser(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val stepped = t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        col("value").cast(DecimalType(18, 4)).as("v"))
      .withColumn("dt", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("dt").isNotNull)
    val perUser = stepped.groupBy("user_id")
      .agg(sum(col("v") * col("dt")).as("wsum"),
        sum(col("dt")).as("dur"))
      .select(col("user_id"),
        round(col("wsum").cast(DoubleType) /
          col("dur").cast(DoubleType), 9).as("twa"))
    perUser.groupBy(pmod(col("user_id"), lit(10L)).as("decile"))
      .agg(count(lit(1)).cast(IntegerType).as("n_users"),
        sum(round(col("twa"), 9).cast(DecimalType(28, 9)))
          .cast(DoubleType).as("sum_twa"))
      .orderBy("decile")
  }

  /** q365: ORDER-INDEPENDENT RESULT FINGERPRINT — the certificate a
    * 100 TB pipeline publishes next to an output so a re-run (new
    * cluster, new Spark version, different partitioning) can be
    * verified WITHOUT row-by-row diffing: fold every row into a
    * 60-bit md5 key and combine with order-independent reducers
    * (COUNT + BIT_XOR + a modular sum — xor alone misses duplicated-
    * row-pair corruption, the sum catches it). Row keys are built
    * from integer renditions only (scaled-integer quantity), never
    * from float-to-string formatting, which differs across engines.
    * One scan, one 1-row agg; the two engines producing the same
    * three numbers IS the cross-engine certificate.
    *
    * Output types are BIGINT only: the residue sum accumulates in
    * DECIMAL(38,0) (a BIGINT running sum would wrap past ~9e9 rows,
    * well inside 100 TB) but is REDUCED mod p again before emission —
    * `sum_fp := (Σ h mod p) mod p` is the standard modular
    * fingerprint, bounded below p forever at any scale. Emitting the
    * raw DECIMAL(38,0) sum is what round 15 did, and the driver's
    * compare rendered the decimal differently from the local replica
    * (rows/schema matched, hash didn't) — a certificate that only
    * verifies under one decimal-rendering convention is not a
    * certificate. BIGINT has one rendering everywhere. */
  def resultFingerprint(s: SparkSession, dir: String): DataFrame = {
    val h = graft.functions.TextPrims.hex60C(md5(concat_ws("|",
      col("l_orderkey"), col("l_linenumber"),
      round(col("l_quantity") * 10000).cast(LongType),
      col("l_returnflag"))))
    t(s, dir, "lineitem")
      .select(h.as("h"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_fp"),
        pmod(sum(pmod(col("h"), lit(1000000007L)).cast(DecimalType(38, 0))),
          lit(1000000007L)).cast(LongType).as("sum_fp"))
  }

  /** q360: TPC-H Q5 (local supplier volume) — the canonical 6-table
    * star join: revenue per nation for one region and one order-date
    * year, where customer and supplier must share the nation. The
    * join-ORDER stress test every optimizer is graded on: the two fact
    * tables (orders, lineitem) join on their keys while four dimension
    * tables (customer, supplier, nation, region) broadcast — the plan
    * must never shuffle a fact table against a dimension. Catalyst gets
    * this from the declarative form (dims under the broadcast
    * threshold; at 100 TB they still are — that's what makes them
    * dims). Revenue is Σ price·(1−discount) with per-row 9-dp rounding
    * into DECIMAL(28,9) (the q183 discipline), so the sum is exact and
    * order-independent on both engines. */
  def tpchQ5(s: SparkSession, dir: String): DataFrame = {
    val d9sum = sum(round(col("l_extendedprice") *
      (lit(1.0) - col("l_discount")), 9).cast(DecimalType(28, 9)))
    t(s, dir, "customer").join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA" &&
        col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1997-01-01").cast(TimestampType))
      .groupBy("n_name")
      .agg(count(lit(1)).cast(IntegerType).as("n_items"),
        d9sum.cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** q372: TPC-H Q7 (volume shipping) — bilateral trade flow between two
    * nations: for each (supplier nation, customer nation) direction and
    * ship year, the revenue shipped. The multi-ALIAS join stress shape:
    * nation joins the plan TWICE (once through supplier, once through
    * customer), which requires disambiguated aliases and tests that the
    * optimizer broadcasts BOTH copies while the two facts (lineitem ⋈
    * orders) hash-join on orderkey. The direction predicate
    * (n1=A ∧ n2=B) ∨ (n1=B ∧ n2=A) cannot be pushed into either
    * dimension alone — it evaluates post-join, exactly as spec'd.
    * Revenue through per-row 9-dp DECIMAL(28,9) (q183 discipline). */
  def tpchQ7(s: SparkSession, dir: String): DataFrame = {
    val (na, nb) = ("NATION_1", "NATION_2")
    val n1 = t(s, dir, "nation")
      .select(col("n_nationkey").as("n1k"), col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation")
      .select(col("n_nationkey").as("n2k"), col("n_name").as("cust_nation"))
    val d9sum = sum(round(col("l_extendedprice") *
      (lit(1.0) - col("l_discount")), 9).cast(DecimalType(28, 9)))
    t(s, dir, "supplier").join(t(s, dir, "lineitem"),
        col("s_suppkey") === col("l_suppkey"))
      .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
      .join(n1, col("s_nationkey") === col("n1k"))
      .join(n2, col("c_nationkey") === col("n2k"))
      .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
        (col("supp_nation") === nb && col("cust_nation") === na))
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(count(lit(1)).cast(IntegerType).as("n_items"),
        d9sum.cast(DoubleType).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** q373: TPC-H Q8 (national market share) — of all ECONOMY-part
    * revenue sold into one region per order year, the share supplied by
    * one nation: the conditional-aggregate-over-join shape (numerator =
    * CASE'd sum, denominator = total sum, ONE pass — never two queries
    * diffed). Eight relations: both facts hash-join on their keys; part,
    * customer-side nation/region, and supplier-side nation all
    * broadcast. The share divides the two exact DECIMAL(28,9) sums and
    * rounds at 9 dp — numerator and denominator are each partition-
    * order-independent, so the quotient is too. */
  def tpchQ8(s: SparkSession, dir: String): DataFrame = {
    val vol = round(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
      9).cast(DecimalType(28, 9))
    val n1 = t(s, dir, "nation")
      .select(col("n_nationkey").as("n1k"), col("n_regionkey").as("n1r"))
    val n2 = t(s, dir, "nation")
      .select(col("n_nationkey").as("n2k"), col("n_name").as("supp_nation"))
    val base = t(s, dir, "part")
      .filter(col("p_type") === "ECONOMY")
      .join(t(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(n1, col("c_nationkey") === col("n1k"))
      .join(t(s, dir, "region"), col("n1r") === col("r_regionkey"))
      .join(n2, col("s_nationkey") === col("n2k"))
      .filter(col("r_name") === "ASIA" &&
        col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
    base.groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).cast(IntegerType).as("n_items"),
        sum(when(col("supp_nation") === "NATION_2", vol)
          .otherwise(lit(0).cast(DecimalType(28, 9)))).as("nat"),
        sum(vol).as("tot"))
      .select(col("o_year"), col("n_items"),
        round(col("nat").cast(DoubleType) / col("tot").cast(DoubleType), 9)
          .as("mkt_share"))
      .orderBy("o_year")
  }

  /** q374: TPC-H Q10 (returned-item reporting) — the revenue lost to
    * returns per customer in one quarter, top 20: the canonical
    * fact-fact join narrowed EARLY by two pushable predicates
    * (order-date range on orders, returnflag on lineitem — both must
    * reach their scans), grouped on the customer grain, then a global
    * top-k that must plan as TakeOrderedAndProject (never a full sort).
    * Ties broken by c_custkey so the limit is deterministic. */
  def tpchQ10(s: SparkSession, dir: String): DataFrame = {
    val d9sum = sum(round(col("l_extendedprice") *
      (lit(1.0) - col("l_discount")), 9).cast(DecimalType(28, 9)))
    t(s, dir, "customer").join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .filter(col("l_returnflag") === "R" &&
        col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1996-04-01").cast(TimestampType))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(count(lit(1)).cast(IntegerType).as("n_items"),
        d9sum.cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** q375: TPC-H Q14 (promotion effect) — the share of one month's
    * revenue from PROMO parts: conditional aggregate over lineitem ⋈
    * broadcast(part) in ONE pass (numerator and denominator from the
    * same hash agg — never two scans diffed). The date range prunes at
    * the lineitem scan; the quotient divides two exact decimal sums. */
  def tpchQ14(s: SparkSession, dir: String): DataFrame = {
    val vol = round(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
      9).cast(DecimalType(28, 9))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-09-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1996-10-01").cast(TimestampType))
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .agg(count(lit(1)).cast(IntegerType).as("n_items"),
        sum(when(col("p_type") === "PROMO", vol)
          .otherwise(lit(0).cast(DecimalType(28, 9)))).as("promo"),
        sum(vol).as("tot"))
      .select(col("n_items"),
        round(lit(100.0) * col("promo").cast(DoubleType) /
          col("tot").cast(DoubleType), 9).as("promo_revenue_pct"))
  }

  /** q376: TPC-H Q18 (large-volume customers) — orders whose line
    * quantities sum past a threshold, with their customer: the
    * aggregate-HAVING-then-rejoin shape. The per-order quantity sum
    * aggregates lineitem FIRST (map-side partials on l_orderkey — the
    * 100 TB-safe order: filter the fact to the ~1% qualifying orders
    * BEFORE any join), then joins orders + customer on the shrunken
    * key set. Quantity sums, filter, and the top-20 ORDER all run on
    * the exact DECIMAL(18,4) accumulation; only the EMITTED column is
    * cast to DOUBLE (the house dsum convention — Spark's sum widens to
    * DECIMAL(28,4) while DuckDB's widens to DECIMAL(38,4), and the
    * round-15 driver gate proved the two decimal renditions don't
    * hash alike even when the values do). o_orderkey tiebreak. */
  def tpchQ18(s: SparkSession, dir: String): DataFrame = {
    val qty = t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast(DecimalType(18, 4))).as("qty_d"))
      .filter(col("qty_d") > 250)
    qty.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .orderBy(col("qty_d").desc, col("o_orderkey"))
      .limit(20)
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("qty_d").cast(DoubleType).as("total_qty"))
  }

  /** q377: TPC-H Q19 (discounted revenue) — the OR-of-ANDs predicate
    * over lineitem ⋈ broadcast(part): three (brand, size-range,
    * quantity-range) disjuncts that CANNOT be split across the join
    * (each conjunct mixes part and lineitem columns), so the planner
    * must evaluate the disjunction post-join while still pushing the
    * join keys — the classic predicate-shape stress test. One row:
    * qualifying item count + revenue. */
  def tpchQ19(s: SparkSession, dir: String): DataFrame = {
    val d9sum = sum(round(col("l_extendedprice") *
      (lit(1.0) - col("l_discount")), 9).cast(DecimalType(28, 9)))
    val disj =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .filter(disj)
      .agg(count(lit(1)).cast(IntegerType).as("n_items"),
        d9sum.cast(DoubleType).as("revenue"))
  }

  /** q390: TPC-H Q21 (suppliers who kept orders waiting) — the
    * multi-correlated-EXISTS/NOT-EXISTS stress shape on ONE fact table:
    * for finished ('F') orders, count per supplier the orders where
    * that supplier shipped late (l_shipdate > o_orderdate + 90 days —
    * the TESTDATA rendition of receipt>commit, which this lineitem
    * doesn't carry), ANOTHER supplier participated (EXISTS l2), and NO
    * other supplier was late (NOT EXISTS l3). Top suppliers of one
    * nation by waiting count.
    *
    * Spark-first decorrelation: the three correlated subqueries all
    * correlate on the SAME order, so ONE per-(order, supplier)
    * aggregate answers EXISTS l1, and a per-ORDER window over that
    * already-shrunken frame (count + late-supplier count over the
    * l_orderkey partition — high-cardinality key, ~7 rows per group)
    * answers EXISTS l2 and NOT EXISTS l3 in the same pass. lineitem
    * is scanned ONCE (PlanSpec-asserted; a naive EXISTS translation
    * scans it three times, and a perSupp-vs-perOrder self-join scans
    * it twice because differing pushed filters defeat exchange
    * reuse). The oracle runs DuckDB's genuinely CORRELATED EXISTS/NOT
    * EXISTS form — agreement certifies the decorrelation, not just
    * the arithmetic. Late flag is pure timestamp comparison; numwait
    * is a count — no float anywhere. */
  def tpchQ21(s: SparkSession, dir: String): DataFrame = {
    val late = col("l_shipdate") > col("o_orderdate") +
      expr("INTERVAL 90 DAYS")
    val perSupp = t(s, dir, "lineitem")
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      // late_rows both drives the EXISTS flags (sign) and carries
      // Q21's count grain: the spec counts l1 ROWS, so a supplier
      // with two late lines in one order waits twice
      .agg(sum(when(late, 1L).otherwise(0L)).as("late_rows"))
    val wOrd = Window.partitionBy("l_orderkey")
    perSupp
      .withColumn("n_supp", count(lit(1)).over(wOrd))
      .withColumn("n_late",
        sum(when(col("late_rows") > 0, 1L).otherwise(0L)).over(wOrd))
      .filter(col("late_rows") > 0 && col("n_supp") >= 2 &&
        col("n_late") === 1)
      .join(broadcast(t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")
        .filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("s_name")
      .agg(sum("late_rows").cast(IntegerType).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** q391: TPC-H Q17 (small-quantity-order revenue) — the correlated
    * SCALAR-aggregate subquery: items of one brand whose quantity is
    * below 20% of that PART's average quantity, and the revenue they
    * carry. The canonical decorrelation twin to q353: the per-part
    * average must come from ALL of lineitem (not the brand slice), so
    * the engine aggregates lineitem ONCE to (partkey, n, sum_qty)
    * grain and joins the narrow aggregate back — never a per-row
    * re-probe, never a cartesian (PlanSpec-asserted).
    *
    * The threshold compare is INTEGER-EXACT on both engines:
    * l_quantity < 0.2·(sum/n) ⟺ 5·qty·n < sum over scaled-integer
    * quantities (×10⁴), each factor cast to DECIMAL(38,0) BEFORE the
    * product (the q344 rule — qty·n passes 2⁶³ at 100 TB part
    * multiplicities), so no engine ever forms a fractional average.
    * avg_yearly divides the dsum revenue by 7.0 per the spec. */
  def tpchQ17(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val qtyI = round(col("l_quantity") * 10000).cast(LongType)
    val perPart = t(s, dir, "lineitem")
      .select(col("l_partkey").as("pk"), qtyI.as("qi"))
      .groupBy("pk")
      .agg(count(lit(1)).as("n_part"),
        sum(col("qi").cast(d38)).as("sum_qi"))
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .filter(col("p_brand") === "Brand#23" && col("p_size") <= 5)),
        col("l_partkey") === col("p_partkey"))
      .join(perPart, col("l_partkey") === col("pk"))
      .filter(lit(5).cast(d38) * qtyI.cast(d38) *
        col("n_part").cast(d38) < col("sum_qi"))
      .agg(count(lit(1)).cast(IntegerType).as("n_items"),
        round(sum(col("l_extendedprice").cast(DecimalType(18, 4)))
          .cast(DoubleType) / 7.0, 9).as("avg_yearly"))
  }

  /** q392: TPC-H Q4 (order priority checking) — per priority, orders of
    * one quarter where at least ONE line shipped late (the TESTDATA
    * late predicate, q390's): the canonical EXISTS → LEFT SEMI join
    * shape. The semi join carries a MIXED predicate (equi key +
    * the non-equi lateness comparison against the outer o_orderdate),
    * which must ride the hash join as a post-probe condition — never a
    * per-row subquery, never a cartesian. Counts only; no floats. */
  def tpchQ4(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1996-04-01").cast(TimestampType))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    ord.join(t(s, dir, "lineitem").select("l_orderkey", "l_shipdate"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") +
            expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).cast(IntegerType).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** q393: TPC-H Q13 (customer order-count distribution) — the
    * LEFT-join-then-histogram shape: customers who never ordered MUST
    * appear with count 0 (an inner join silently drops them — the
    * classic distribution bug), so orders left-joins onto customer
    * with the exclusion predicate INSIDE the join condition (putting
    * it in WHERE would turn the left join back into inner). Two
    * hash-aggs: per-customer count, then the count-of-counts. */
  def tpchQ13(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").select("c_custkey")
      .join(t(s, dir, "orders")
          .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
          .select("o_custkey", "o_orderkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count")) // count() skips nulls
      .groupBy("c_count")
      .agg(count(lit(1)).cast(IntegerType).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** q394: TPC-H Q16 (parts/supplier relationship) — distinct-supplier
    * census per (brand, size) for a part slice, EXCLUDING a supplier
    * deny-list (the NOT IN shape → broadcast LEFT ANTI join; NOT IN
    * over a nullable subquery is the classic three-valued-logic trap,
    * sidestepped here because s_suppkey is a key). The supplier↔part
    * relation comes from lineitem (this schema carries no partsupp),
    * distinct BEFORE the count. */
  def tpchQ16(s: SparkSession, dir: String): DataFrame = {
    val deny = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("bad_sk"))
    t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
      .join(broadcast(t(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#45" &&
            col("p_type") =!= "PROMO" && col("p_size") <= 10)),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(deny), col("l_suppkey") === col("bad_sk"),
        "left_anti")
      .groupBy("p_brand", "p_size")
      .agg(countDistinct("l_suppkey").cast(IntegerType)
        .as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** q395: TPC-H Q22 (global sales opportunity) — customers above the
    * GLOBAL positive-balance average with no URGENT order (the
    * TESTDATA rendition of Q22's "never ordered", which is vacuous
    * here — every customer has orders at all SFs; urgent-free keeps a
    * scale-stable ~50% selectivity): a scalar aggregate subquery
    * feeding a threshold plus a NOT-EXISTS anti join. The average is
    * never formed as a float: bal > sum/n ⟺ bal_cents·n > sum_cents
    * over exact integers (each factor DECIMAL(38,0) before the
    * product — the q344 rule), so the qualifying set is bit-identical
    * on both engines. The 1-row (sum, n) aggregate broadcasts as a
    * literal-free cross join; the filtered orders anti-join on
    * custkey. Output per country code (nationkey mod 5): customer
    * count + dsum of balances. */
  def tpchQ22(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val balC = round(col("c_acctbal") * 100).cast(LongType)
    val cust = t(s, dir, "customer")
      .filter(pmod(col("c_nationkey"), lit(5L)).isin(0L, 1L, 2L))
      .select(col("c_custkey"),
        pmod(col("c_nationkey"), lit(5L)).cast(IntegerType)
          .as("cntrycode"),
        col("c_acctbal"), balC.as("bal_c"))
    val avgRow = cust.filter(col("bal_c") > 0)
      .agg(sum(col("bal_c").cast(d38)).as("sum_c"),
        count(lit(1)).as("n_pos"))
    cust.crossJoin(broadcast(avgRow))
      .filter(col("bal_c").cast(d38) * col("n_pos").cast(d38) >
        col("sum_c"))
      .join(t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("cntrycode")
      .agg(count(lit(1)).cast(IntegerType).as("numcust"),
        dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy("cntrycode")
  }

  /** q396: TPC-H Q2 (minimum-cost supplier) — for each part of a
    * slice, the supplier(s) achieving the MINIMUM supply cost: the
    * correlated `= (SELECT MIN …)` shape. Supply cost is derived from
    * lineitem (no partsupp here): per (part, supplier), the minimum
    * extended price in exact CENTS. The per-part minimum is a second
    * shrinking hash-agg joined back by equality — integer equality,
    * so no epsilon games — while supplier/nation/part ride
    * broadcasts. Top 100 by account balance with the spec's
    * tiebreak. */
  def tpchQ2(s: SparkSession, dir: String): DataFrame = {
    val ps = t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .agg(min(round(col("l_extendedprice") * 100).cast(LongType))
        .as("cost_c"))
    val minCost = ps.groupBy("pk").agg(min("cost_c").as("min_c"))
    ps.join(minCost, Seq("pk"))
      .filter(col("cost_c") === col("min_c"))
      .join(broadcast(t(s, dir, "part")
          .filter(col("p_type") === "ECONOMY" && col("p_size") <= 15)),
        col("pk") === col("p_partkey"))
      .join(broadcast(t(s, dir, "supplier")),
        col("sk") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("pk").as("p_partkey"), col("cost_c"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** q397: TPC-H Q11 (important stock identification) — per-part value
    * for one nation's suppliers, kept only where the part's value
    * exceeds a FRACTION of the global total: group-HAVING against a
    * scalar aggregate over the SAME aggregation. The engine aggregates
    * once, derives the global total from the per-part frame (a second
    * shrinking agg, broadcast back), and compares integer-exactly:
    * val > total/10000 ⟺ 10000·val > total in DECIMAL(38,0) — no
    * float fraction ever forms. Value = Σ cents·qty over exact
    * integers. Emitted value is the decimal cast to DOUBLE (one
    * rendering; identical on both engines since the decimal is
    * exact). */
  def tpchQ11(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val cents = round(col("l_extendedprice") * 100).cast(LongType)
    val qtyL = round(col("l_quantity")).cast(LongType)
    val perPart = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name") === "NATION_5")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(cents.cast(d38) * qtyL.cast(d38)).as("value_c"))
    val total = perPart.agg(sum("value_c").cast(d38).as("total_c"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value_c").cast(d38) * 10000 > col("total_c"))
      .select(col("pk").as("p_partkey"),
        col("value_c").cast(DoubleType).as("value_cents"))
      .orderBy(col("value_cents").desc, col("p_partkey"))
  }

  /** q398: TPC-H Q15 (top supplier) — quarterly revenue per supplier,
    * returning the supplier(s) whose revenue EQUALS the maximum: the
    * aggregate-of-aggregate argmax (the spec's CREATE VIEW + scalar
    * MAX). Revenue accumulates as exact DECIMAL(28,9) (q183
    * discipline), so the equality join against the 1-row max is exact
    * — the float-equality trap the view form invites never opens.
    * Emitted revenue is the decimal cast to DOUBLE. */
  def tpchQ15(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1996-04-01").cast(TimestampType))
      .groupBy(col("l_suppkey").as("sk"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        9).cast(DecimalType(28, 9))).as("total_rev"))
    val mx = rev.agg(max("total_rev").as("max_rev"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("max_rev"))
      .join(broadcast(t(s, dir, "supplier")),
        col("sk") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast(DoubleType).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** q399: TPC-H Q20 (potential part promotion) — suppliers of one
    * nation holding a DOMINANT share of some part in a name slice:
    * the nested-aggregate semi-join chain (EXISTS over an aggregate
    * threshold). Per (part, supplier) shipped quantity, per part
    * total + supplier census (a second shrinking agg), dominance =
    * MORE THAN TWICE THE FAIR SHARE (sq·n_supp > 2·tq in
    * DECIMAL(38,0) — no fraction ever forms, and unlike a fixed
    * percentage the fair-share multiple stays non-vacuous at every
    * scale factor because per-part supplier counts grow with SF),
    * then supplier LEFT SEMI joins the qualifying-supplier set.
    * Quantities are exact integers (l_quantity is integral). */
  def tpchQ20(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val qtyL = round(col("l_quantity")).cast(LongType)
    val sq = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
          .filter(col("p_name").startsWith("small"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .agg(sum(qtyL).as("sq"))
    val tq = sq.groupBy("pk")
      .agg(sum("sq").as("tq"), count(lit(1)).as("ns"))
    val qualifying = sq.join(tq, Seq("pk"))
      .filter(col("sq").cast(d38) * col("ns").cast(d38) >
        col("tq").cast(d38) * 2)
      .select("sk").distinct()
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name") === "NATION_7")),
        col("s_nationkey") === col("n_nationkey"))
      .join(qualifying, col("s_suppkey") === col("sk"), "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy("s_name")
  }

  /** q379: VARIANT SHREDDING ROUND-TRIP — Spark 4's semi-structured
    * VARIANT type driven end-to-end: each order renders to a NESTED
    * JSON document (objects, an array, integer-only numerics so the
    * text is engine-independent), `parse_json` shreds it to the binary
    * VARIANT encoding, and typed `variant_get` paths (object field,
    * nested field, array index, and a MISSING path through
    * `try_variant_get` — null, never an error) extract everything back.
    * The aggregate of the extracted values hash-matches the oracle's
    * DIRECT computation from the columns — the certificate that the
    * render → shred → typed-extract cycle is lossless. The engine-
    * surface point: schema-on-read ingestion at 100 TB parses raw JSON
    * ONCE into variant binaries; every later extraction is a cheap
    * typed path walk, not a re-parse. */
  def variantExtract(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast(LongType)
    val j = to_json(struct(
      col("o_orderkey").as("id"),
      struct(col("o_custkey").as("key"),
        col("o_orderpriority").as("seg")).as("cust"),
      array(cents, pmod(col("o_orderkey"), lit(97L))).as("amounts")))
    t(s, dir, "orders")
      .select(parse_json(j).as("v"))
      .select(
        expr("variant_get(v, '$.cust.seg', 'string')").as("seg"),
        expr("variant_get(v, '$.id', 'long')").as("id"),
        expr("variant_get(v, '$.amounts[0]', 'long')").as("cents"),
        expr("variant_get(v, '$.amounts[1]', 'long')").as("k97"),
        expr("try_variant_get(v, '$.absent', 'long')").as("missing"))
      .groupBy("seg")
      .agg(count(lit(1)).cast(IntegerType).as("n"),
        sum(col("cents")).as("sum_cents"),
        sum(col("k97")).as("sum_k97"),
        sum(pmod(col("id"), lit(1009L))).as("id_fold"),
        sum(when(col("missing").isNull, 0L).otherwise(1L))
          .cast(IntegerType).as("n_phantom"))
      .orderBy("seg")
  }

  /** q388: GINI CONCENTRATION INDEX — how concentrated revenue is
    * across customers (the inequality audit behind every "top 1% of
    * keys" skew story): G = (2·Σᵢ i·xᵢ)/(n·Σx) − (n+1)/n over the
    * rank-sorted per-customer revenue. INTEGER-EXACT until the final
    * division: revenues are summed as cents (BIGINT), the rank moment
    * Σ i·x runs in DECIMAL(38,0) with each factor cast BEFORE the
    * multiply (the q344 rule — rank·cents exceeds BIGINT at 100 TB
    * customer counts), and ties rank deterministically by custkey.
    * The sort grain is CUSTOMERS (the aggregate), never line items —
    * the same bounded-grain discipline as every ranking query here.
    * Also reports the top-decile revenue share (the Pareto number). */
  def giniConcentration(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val rev = t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast(LongType))
        .as("cents"))
    // a global `row_number().over(Window.orderBy(...))` would compile to
    // a SinglePartition WindowExec (the q222 trap) — rank with the same
    // two-pass range-partition machinery instead: range-partition on the
    // sort key, collect O(#partitions) counts, stamp local indices +
    // broadcast offsets. The customer grain is already the aggregate,
    // but at 100 TB customers that grain is still billions of rows.
    val (ranked, n) = globalRank(s, rev, Seq("cents", "o_custkey"))
    val cut = n * 9 / 10 // floor(9n/10): top decile = ranks above it
    ranked.agg(
        count(lit(1)).as("n"),
        sum(col("cents").cast(d38)).as("tot"),
        sum(col("i").cast(d38) * col("cents").cast(d38)).as("iwx"),
        sum(when(col("i") > cut, col("cents").cast(d38))).as("top_dec"))
      .select(col("n").cast(IntegerType).as("n_customers"),
        round(lit(2.0) * col("iwx").cast(DoubleType) /
          (col("n").cast(DoubleType) * col("tot").cast(DoubleType)) -
          (col("n").cast(DoubleType) + 1.0) / col("n").cast(DoubleType),
          9).as("gini"),
        round(col("top_dec").cast(DoubleType) /
          col("tot").cast(DoubleType), 9).as("top_decile_share"))
  }

  /** Two-pass distributed global rank over a composite UNIQUE sort key —
    * a thin rename over [[RangeIndex]].indexed, the repo's single home
    * for the range-partition/offset-stamp discipline (shared with
    * [[graft.dedup.Dedup]] ntileByKey and the q344 grouped prefix).
    * Returns (input keys…, i) and the total row count — no
    * SinglePartition exchange anywhere. */
  private def globalRank(s: SparkSession, df: DataFrame,
                         keys: Seq[String]): (DataFrame, Long) = {
    val (out, n) = RangeIndex.indexed(s, df, keys)
    (out.withColumnRenamed("rn", "i"), n)
  }

  /** q386: CUSUM CHANGEPOINT SCAN — the drift monitor a 100 TB
    * ingestion runs on its daily volumes: per event type, the
    * cumulative-sum statistic s_t = Σ_{i≤t}(x_i − x̄) peaks at the most
    * likely level-shift day (Page's classic single-changepoint
    * estimator). INTEGER-EXACT throughout: s_t·T = T·cum_t − t·total
    * never forms a fractional mean, so the argmax is bit-deterministic
    * on both engines (ties break to the earlier day). Reports the
    * changepoint day, the scaled peak, and the before/after level means
    * that quantify the shift. Shape: one daily hash-agg, two bounded
    * per-type windows over |days| rows, one broadcast join back. */
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val wCum = Window.partitionBy("event_type").orderBy("day")
    val wT = Window.partitionBy("event_type")
    val scored = daily
      .withColumn("t", row_number().over(wCum))
      .withColumn("cum", sum("x").over(wCum))
      .withColumn("total", sum("x").over(wT))
      .withColumn("nd", count(lit(1)).over(wT))
      .withColumn("sc", col("nd") * col("cum") - col("t") * col("total"))
    val wPick = Window.partitionBy("event_type")
      .orderBy(abs(col("sc")).desc, col("day"))
    val pick = scored.withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("change_day"),
        col("sc").as("cusum_scaled"))
    daily.join(broadcast(pick), "event_type")
      .groupBy("event_type")
      .agg(max("change_day").as("change_day"),
        max("cusum_scaled").as("cusum_scaled"),
        count(lit(1)).cast(IntegerType).as("n_days"),
        round(sum(when(col("day") <= col("change_day"), col("x")))
          .cast(DoubleType) /
          sum(when(col("day") <= col("change_day"), 1L).otherwise(0L)),
          6).as("mean_before"),
        round(sum(when(col("day") > col("change_day"), col("x")))
          .cast(DoubleType) /
          sum(when(col("day") > col("change_day"), 1L).otherwise(0L)),
          6).as("mean_after"))
      .orderBy("event_type")
  }

  /** q384: DETERMINISTIC BOOTSTRAP CONFIDENCE INTERVAL — the
    * uncertainty quantification every data-quality dashboard needs
    * next to a mean: 60 half-sample replicas of the per-flag mean
    * price, CI = the p05/p95 of the replica means. The resampling is
    * HASH-DETERMINISTIC: one 60-bit md5 per row, replica b keeps the
    * row iff BIT b of the hash is set — one hash per row buys 60
    * pairwise-independent half-samples, no RNG, identical membership
    * on both engines (and on any cluster size — membership is a pure
    * row function, the production property that makes the CI
    * reproducible across reruns). One pass: 60 conditional decimal
    * sums + counts in a single hash-agg (never 60 scans, never an
    * explode of rows×replicas), then a bounded 60-row-per-flag
    * percentile. */
  def bootstrapCi(s: SparkSession, dir: String, b: Int = 60): DataFrame = {
    import graft.functions.TextPrims.hex60C
    // fanOut BEFORE the md5 + 120-way conditional-decimal stage: a
    // single-split orders scan would run the whole partial aggregate in
    // ONE task (the per-row cost here is 2·b decimal CASE updates, not
    // the scan); at production split counts this is the usual no-op.
    val base = Tables.fanOut(t(s, dir, "orders"), "o_orderkey").select(
      col("o_orderstatus").as("flag"),
      col("o_totalprice").as("x"),
      hex60C(md5(col("o_orderkey").cast(StringType))).as("h"))
    val d184 = (i: Int) =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1,
        col("x").cast(DecimalType(18, 4))))
    // 60 conditional sums + 60 conditional counts, one aggregate pass
    val aggs =
      (0 until b).map(i => d184(i).as(s"s$i")) ++
      (0 until b).map(i => sum(when(shiftright(col("h"), i)
        .bitwiseAND(1) === 1, 1L).otherwise(0L)).as(s"c$i")) ++
      Seq(count(lit(1)).as("n"),
        (sum(col("x").cast(DecimalType(18, 4))).cast(DoubleType) /
          count(lit(1))).as("full_mean"))
    val wide = base.groupBy("flag").agg(aggs.head, aggs.tail: _*)
    val means = wide.select(col("flag"), col("n"), col("full_mean"),
      explode(array((0 until b).map(i =>
        (col(s"s$i").cast(DoubleType) / col(s"c$i"))): _*)).as("m"))
    means.groupBy("flag")
      .agg(max("n").cast(IntegerType).as("n"),
        round(max("full_mean"), 6).as("full_mean"),
        round(expr("percentile(m, 0.05)"), 6).as("boot_p05"),
        round(expr("percentile(m, 0.95)"), 6).as("boot_p95"))
      .orderBy("flag")
  }

  /** q385: ROBUST STATISTICS (MAD + WINSORIZED MEAN) — the
    * outlier-resistant profile a cleaning pipeline computes where mean/
    * stddev lie: per order status, the exact median, the median
    * absolute deviation (a second exact percentile over |x − med| —
    * the two-pass shape is inherent: MAD is not algebraic), the count
    * outside med ± 3·MAD, and the mean after winsorizing at the exact
    * p05/p95 clips. Everything derives from interpolated exact
    * percentiles (the q54-verified engine mapping) and decimal-routed
    * sums; the clip itself is `greatest(least(x, hi), lo)` — one
    * branch-free expression per row. */
  def robustStats(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(
      col("o_orderstatus").as("flag"), col("o_totalprice").as("x"))
    val med = base.groupBy("flag")
      .agg(expr("percentile(x, 0.5)").as("med"),
        expr("percentile(x, 0.05)").as("p05"),
        expr("percentile(x, 0.95)").as("p95"))
    val joined = base.join(broadcast(med), "flag")
    val mad = joined.groupBy("flag")
      .agg(expr("percentile(abs(x - med), 0.5)").as("mad"))
    joined.join(broadcast(mad), "flag")
      .groupBy("flag")
      .agg(count(lit(1)).cast(IntegerType).as("n"),
        round(max("med"), 6).as("median"),
        round(max("mad"), 6).as("mad"),
        sum(when(abs(col("x") - col("med")) > lit(3.0) * col("mad"), 1L)
          .otherwise(0L)).cast(IntegerType).as("n_outlier"),
        (sum(greatest(least(col("x"), col("p95")), col("p05"))
          .cast(DecimalType(18, 4))).cast(DoubleType) / count(lit(1)))
          .as("wm"))
      .select(col("flag"), col("n"), col("median"), col("mad"),
        col("n_outlier"), round(col("wm"), 6).as("winsor_mean"))
      .orderBy("flag")
  }

  /** q380: MERGEABLE HISTOGRAM-QUANTILE SKETCH + EXACT TWIN — the
    * quantile estimator that actually merges at 100 TB: a B-bin
    * equi-width histogram is a per-partition partial that combines by
    * ADDING COUNTS (one hash-agg — the property exact percentile lacks:
    * `percentile` must see all values, histograms ship B longs per
    * partition). Per return flag over extended price: bin counts →
    * cumulative CDF (a ≤B-row per-key window, bounded) → p50/p90/p99 by
    * linear interpolation inside the covering bin, reported NEXT TO the
    * exact interpolated percentiles, so the artifact carries its own
    * error evidence (|est − exact| ≤ bin width by construction — the
    * spec asserts it). All arithmetic derives from integer counts and
    * the two-point (min, max) frame, identical on both engines. */
  def histQuantiles(s: SparkSession, dir: String, bins: Int = 64): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
      col("l_extendedprice").as("x"))
    val bounds = li.agg(min("x").as("lo"), max("x").as("hi"))
    val binned = li.crossJoin(broadcast(bounds))
      .withColumn("w", (col("hi") - col("lo")) / bins)
      .withColumn("bin", least(floor((col("x") - col("lo")) / col("w")),
        lit(bins - 1)).cast(IntegerType))
      .groupBy("flag", "bin")
      .agg(count(lit(1)).as("c"), max("w").as("w"), max("lo").as("lo"))
    val wCum = Window.partitionBy("flag").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wN = Window.partitionBy("flag")
    val cdf = binned
      .withColumn("cum0", coalesce(sum("c").over(wCum), lit(0L)))
      .withColumn("n", sum("c").over(wN))
    def est(q: Double) = {
      val target = lit(q) * col("n")
      // the UNIQUE covering bin: cumulative count crosses the target
      // inside it (cum0 < target <= cum0 + c) — exactly one non-empty
      // bin satisfies this, so the aggregate collapses a single value
      max(when(col("cum0") < target && col("cum0") + col("c") >= target,
        col("lo") + (col("bin") +
          (target - col("cum0")) / col("c")) * col("w")))
    }
    val sketch = cdf.groupBy("flag")
      .agg(max("n").as("n"),
        round(est(0.5), 6).as("est_p50"),
        round(est(0.9), 6).as("est_p90"),
        round(est(0.99), 6).as("est_p99"))
    val exact = li.groupBy("flag")
      .agg(round(expr("percentile(x, 0.5)"), 6).as("exact_p50"),
        round(expr("percentile(x, 0.9)"), 6).as("exact_p90"),
        round(expr("percentile(x, 0.99)"), 6).as("exact_p99"))
    sketch.join(exact, "flag")
      .select(col("flag"), col("n").cast(IntegerType).as("n"),
        col("est_p50"), col("est_p90"), col("est_p99"),
        col("exact_p50"), col("exact_p90"), col("exact_p99"))
      .orderBy("flag")
  }

  /** q358: CRYPTO-SHREDDING ERASURE AUDIT — the GDPR right-to-be-
    * forgotten mechanic for immutable 100 TB stores: payloads are
    * encrypted at rest with a PER-USER key (`aes_encrypt`, key table
    * separate), so erasing a user = deleting ONE key row — no petabyte
    * rewrite; the data is cryptographically unreadable in place. This
    * query runs the full lifecycle: derive keys, encrypt, shred every
    * 7th user's key, then audit the store through `try_aes_decrypt`
    * with the surviving key table — per event type, how many rows
    * remain readable and the recovered value sum. The decrypt-side sum
    * must equal the oracle's plain-predicate sum over the original
    * table, certifying both the erasure semantics AND that surviving
    * rows decrypt to bit-identical values (not just non-null).
    *
    * Determinism: ECB mode (no random IV — the fixture needs
    * reproducible ciphertext; production would use GCM and accept
    * nondeterministic bytes since only the DECRYPTED value is ever
    * compared). Keys are md5-derived 16-byte strings. Shape: two hash
    * joins on user_id (key attach, key re-attach post-shred) and one
    * agg — encryption is a codegen'd projection expression. */
  def cryptoShred(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select("user_id", "event_type", "value")
    val keys = ev.select("user_id").distinct()
      .withColumn("k",
        substring(md5(concat(lit("k#"), col("user_id").cast(StringType))),
          1, 16))
      .localCheckpoint() // encrypt side + surviving-side read it
    val store = ev.join(keys, Seq("user_id"))
      .select(col("user_id"), col("event_type"),
        expr("aes_encrypt(cast(value as string), k, 'ECB')").as("payload"))
    // the erasure: drop key rows — the data files are never touched
    val surviving = keys.filter(pmod(col("user_id"), lit(7L)) =!= 0)
    store.join(surviving, Seq("user_id"), "left")
      .withColumn("plain",
        expr("cast(try_aes_decrypt(payload, k, 'ECB') as string)")
          .cast(DoubleType))
      .groupBy("event_type")
      .agg(count(lit(1)).cast(IntegerType).as("n"),
        sum(when(col("plain").isNotNull, 1).otherwise(0))
          .cast(IntegerType).as("n_readable"),
        dsum(coalesce(col("plain"), lit(0.0))).as("sum_readable"))
      .orderBy("event_type")
  }

  /** q359: EXACT SLIDING-WINDOW DISTINCT — distinct users over the
    * trailing 24 hours AT EVERY HOUR, the operational "rolling DAU"
    * series, computed the mergeable way: per (hour, bucket) exact
    * bitmaps (q340's family) built ONCE from one scan, then each
    * target hour ORs the ≤24 trailing hourly bitmaps and popcounts —
    * the raw events are never rescanned per window. COUNT(DISTINCT)
    * does not slide (distinct state can't subtract), which is exactly
    * why warehouses store bitmap/HLL partials; bitmaps keep it EXACT,
    * and the oracle (brute-force re-scan per window) certifies that.
    *
    * Shape at 100 TB: one scan → (hours × buckets) bitmap rows; the
    * window fan-out joins the tiny distinct-hours frame (broadcast)
    * against bitmap rows with a bounded ≤24× expansion; never
    * hours × raw-events. */
  def slidingDistinct(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .select(date_trunc("hour", col("ts")).as("hour"),
        (col("user_id") + 1).as("uid"))
      .groupBy(col("hour"), expr("bitmap_bucket_number(uid)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(uid))").as("bm"))
      .localCheckpoint() // the hour spine + the fan-out join read it
    val hours = hourly.select("hour").distinct()
    hours.as("t")
      .join(hourly.as("s"),
        col("s.hour") <= col("t.hour") &&
          col("s.hour") > col("t.hour") - expr("INTERVAL 24 HOURS"))
      .groupBy(col("t.hour").as("hour"), col("s.bkt").as("bkt"))
      .agg(expr("bitmap_or_agg(bm)").as("wbm"))
      .groupBy("hour")
      .agg(sum(expr("bitmap_count(wbm)")).cast(LongType).as("n_users"))
      .orderBy("hour")
  }

  /** q356: PARETO FRONTIER (2-D skyline) — per return flag, the
    * non-dominated (quantity, price) points: maximize quantity,
    * minimize price; a point survives iff no other point has ≥ quantity
    * AND ≤ price (strictly better in one). The multi-objective "best
    * offers" query — optimizer literature's SKYLINE operator —
    * expressed scale-first: NOT the naive O(m²) self-join, but (1) a
    * hash-agg collapsing to the min price per (flag, quantity) — ties
    * in the maximize-dimension resolved in the same pass — then (2) one
    * partitioned window taking the prefix-min price over strictly
    * greater quantities (rows frame ending 1 PRECEDING; quantities are
    * distinct after the collapse, so rows = strictly-greater range).
    * The collapsed series is O(distinct quantities) per flag no matter
    * how many rows feed it — the 100 TB shape. Doubles compare exactly
    * (min, never summed). */
  def paretoFrontier(s: SparkSession, dir: String): DataFrame = {
    val byQty = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(min(col("l_extendedprice")).as("min_price"),
        count(lit(1)).as("n_at_qty"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("l_quantity").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    byQty.withColumn("best_higher", min(col("min_price")).over(w))
      .filter(col("best_higher").isNull ||
        col("min_price") < col("best_higher"))
      .select(col("l_returnflag"), col("l_quantity"), col("min_price"),
        col("n_at_qty").cast(IntegerType).as("n_at_qty"))
      .orderBy(col("l_returnflag"), col("l_quantity").desc)
  }

  /** q343: RUNTIME BLOOM-FILTER JOIN PRUNING — Spark's
    * InjectRuntimeFilter: a selective dimension filter (high-value
    * finished orders) is turned, AT OPTIMIZATION TIME, into a Bloom
    * filter built on the creation side and pushed into the fact-side
    * scan as `might_contain`, so lineitem rows that cannot join are
    * dropped BEFORE the shuffle — at 100 TB this is the difference
    * between shuffling the full fact table and shuffling the matching
    * 2 %. The fixture sits under the feature's production thresholds
    * (application side ≥ 10 GB), so the query pins the knobs for its
    * own plan and restores them — the 100 TB deployment hits the
    * defaults naturally. Broadcast is disabled for the join because the
    * runtime filter targets exactly the regime where the dimension is
    * too big to broadcast but still selective. Semantics are unchanged
    * by construction (Bloom FPs only let through rows the join re-
    * checks); the spec asserts the `might_contain` actually landed in
    * the plan. */
  def runtimeFilterJoin(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.withConfs(s, Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F" &&
          col("o_totalprice") > 150000.0)
        .select("o_orderkey", "o_orderpriority")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(col("l_extendedprice")).as("sum_price"),
          dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderpriority")
        .localCheckpoint() // execute under the pinned knobs
    }

  /** q351: LOCF GAP FILL — last-observation-carried-forward over a dense
    * calendar spine: each user's daily metric series is completed so
    * every (user, day) carries the most recent observed value — the
    * standard panel-data densification before any day-over-day compare
    * (a user silent on Tuesday still HAS a balance on Tuesday). Reports
    * the per-day census: observed vs carried vs still-empty users and
    * the filled total.
    *
    * Shape at 100 TB: the raw scan collapses to (user, day) in one
    * hash-agg; the spine is users × |days| built by exploding one
    * broadcast day sequence (never a cross join of two big sides); the
    * carry is ONE partitioned window (by user — the natural key-series
    * sort); the census is a second tiny agg. */
  def locfGapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val daily = ev.groupBy(col("user_id"),
        to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("v"))
      .localCheckpoint() // spine join + bounds read it
    val bounds = daily.agg(min("day").as("lo"), max("day").as("hi"))
    val spine = daily.select("user_id").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"),
        explode(sequence(col("lo"), col("hi"))).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
      .groupBy("day")
      .agg(
        sum(when(col("v").isNotNull, 1).otherwise(0))
          .cast(IntegerType).as("n_observed"),
        sum(when(col("v").isNull && col("filled").isNotNull, 1)
          .otherwise(0)).cast(IntegerType).as("n_carried"),
        sum(when(col("filled").isNull, 1).otherwise(0))
          .cast(IntegerType).as("n_empty"),
        dsum(coalesce(col("filled"), lit(0.0))).as("sum_filled"))
      .orderBy("day")
  }

  /** q352: DIMENSION-AS-MAP JOIN ELIMINATION — the smallest dimensions
    * (nation: 25 rows) don't deserve a join OPERATOR at all: collect
    * once (bounded by the dimension contract), embed as a map literal,
    * and the lookup becomes a codegen'd `element_at` INSIDE the fact
    * scan's projection — no exchange, no build side, no join node in
    * the plan (PlanSpec-asserted). This is the degenerate-dimension
    * endpoint of the broadcast spectrum, and the pattern behind every
    * enum/code-table decode at 100 TB. Oracle = the honest join. */
  def mapLookupDimension(s: SparkSession, dir: String): DataFrame = {
    val nationMap: Map[Long, String] = t(s, dir, "nation")
      .select(col("n_nationkey").cast(LongType), col("n_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap // 25 rows, bounded
    t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_acctbal"))
      .withColumn("n_name",
        element_at(typedLit(nationMap), col("c_nationkey").cast(LongType)))
      .groupBy("n_name")
      .agg(count(lit(1)).cast(IntegerType).as("n_cust"),
        dsum(col("c_acctbal")).as("sum_acctbal"))
      .orderBy("n_name")
  }

  /** q354: INCREMENTAL VIEW MAINTENANCE — the delta-aggregate algebra
    * behind every materialized view refresh: yesterday's per-status
    * rollup (9/10ths of orders) is NOT recomputed when today's batch
    * lands; the delta aggregates alone (1/10th) and merges by key —
    * counts add, DECIMAL sums add, the full-outer merge admits
    * brand-new keys from either side. The oracle recomputes the view
    * from scratch over the union; hash-equality is the IVM correctness
    * certificate (count/sum are the self-maintainable aggregates — no
    * base-table re-read). At 100 TB the saving IS the operator: the
    * refresh cost tracks the delta, not the table. */
  def incrementalViewMaintenance(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    def viewOf(df: DataFrame) = df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).as("sum_d"))
    val snapshot = viewOf(orders.filter(pmod(col("o_orderkey"), lit(10L)) =!= 0))
      .localCheckpoint() // "yesterday's" materialized state
    val deltaAgg = viewOf(orders.filter(pmod(col("o_orderkey"), lit(10L)) === 0))
    snapshot.as("a").join(deltaAgg.as("b"), Seq("o_orderstatus"), "full_outer")
      .select(col("o_orderstatus"),
        (coalesce(col("a.n"), lit(0L)) + coalesce(col("b.n"), lit(0L)))
          .as("n"),
        (coalesce(col("a.sum_d"), lit(0).cast(DecimalType(18, 4))) +
          coalesce(col("b.sum_d"), lit(0).cast(DecimalType(18, 4))))
          .cast(DoubleType).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** q348: ORDERED EVENT FUNNEL — the product-analytics staple: of the
    * users who VIEWED, how many later CLICKED, and of those how many
    * later PURCHASED — with the average step-transition latency. Order
    * matters (a purchase before the first view must not count), which
    * is exactly what a naive per-type distinct-count gets wrong.
    *
    * Relational shape (the 100 TB pattern): one per-user hash-agg per
    * step, each conditioned on the PREVIOUS step's timestamp via an
    * equi-join on user_id — never a per-user event-sequence sort, never
    * a session window over the raw stream. Each step's scan pushes its
    * event_type filter into parquet. Latencies stay in exact integer
    * microseconds until one final fixed-order double division. */
  def eventFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t1"))
      .localCheckpoint() // step-2 join + its own count read it
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("us") > col("t1"))
      .groupBy("user_id").agg(min("us").as("t2"), max("t1").as("t1"))
      .localCheckpoint() // step-3 join + gap agg read it
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("us") > col("t2"))
      .groupBy("user_id").agg(min("us").as("t3"), max("t2").as("t2"))
    def row(step: Int, name: String, df: DataFrame,
            gapUs: org.apache.spark.sql.Column) =
      df.agg(count(lit(1)).cast(IntegerType).as("n_users"),
        coalesce(sum(gapUs), lit(0L)).as("gap_us"))
        .select(lit(step).as("step"), lit(name).as("event"),
          col("n_users"),
          round(col("gap_us").cast(DoubleType) /
            greatest(col("n_users"), lit(1)).cast(DoubleType) / 1e6, 6)
            .as("avg_gap_sec"))
    row(1, "view", v, lit(0L))
      .unionByName(row(2, "click_after_view", c, col("t2") - col("t1")))
      .unionByName(row(3, "purchase_after_click", p, col("t3") - col("t2")))
      .orderBy("step")
  }

  /** q406: CHI-SQUARE + G-TEST OF INDEPENDENCE — the classical
    * contingency-table test the statistical family (q203 Welch, q208
    * Mann–Whitney, q209/q251 KS, q384 bootstrap) was missing: is
    * document language independent of source? Pearson's
    * χ² = Σ (n_ij − e_ij)²/e_ij and the likelihood-ratio
    * G = 2·Σ n_ij·ln(n_ij/e_ij) over the DENSE lang×source grid
    * (zero-observation cells still contribute e_ij to χ²), with
    * Cramér's V = √(χ² / (n·min(L−1, S−1))) as the effect size.
    *
    * Scale shape: ONE hash-agg collapses the corpus to L×S observed
    * cells; the dense grid, the marginals, and every test statistic
    * then live at CELL grain (≤ a few hundred rows) — the 100 TB cost
    * is exactly one groupBy(lang, source).count. Overflow discipline:
    * e_ij = r_i·c_j/n forms the product in DECIMAL(38,0) BEFORE the
    * divide (the q344 rule — marginal products pass BIGINT at corpus
    * scale); per-cell contributions round to 9 dp into DECIMAL(28,9)
    * before the order-independent sum. */
  def chiSquareIndependence(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val cells = t(s, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("nij"))
      .localCheckpoint() // grid + marginals + totals all read it
    val rowT = cells.groupBy("lang").agg(sum("nij").as("ri"))
    val colT = cells.groupBy("source").agg(sum("nij").as("cj"))
    val tot = cells.agg(sum("nij").as("n"),
      countDistinct("lang").as("nl"), countDistinct("source").as("ns"))
    val nijD = coalesce(col("nij"), lit(0L)).cast(DoubleType)
    val e = (col("ri").cast(d38) * col("cj").cast(d38)).cast(DoubleType) /
      col("n").cast(DoubleType)
    val chiC = (nijD - e) * (nijD - e) / e
    val gC = when(col("nij").isNotNull,
      lit(2.0) * nijD * log(nijD / e)).otherwise(lit(0.0))
    val d289 = (c: org.apache.spark.sql.Column) =>
      sum(round(c, 9).cast(DecimalType(28, 9))).cast(DoubleType)
    rowT.crossJoin(colT) // dense L×S grid — cell grain, never row grain
      .join(cells, Seq("lang", "source"), "left")
      .crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n_docs"),
        max((col("nl") - 1) * (col("ns") - 1)).cast(IntegerType).as("dof"),
        d289(chiC).as("chi2_d"), d289(gC).as("g_d"),
        max(least(col("nl") - 1, col("ns") - 1)).as("mindim"))
      .select(col("n_docs"), col("dof"),
        round(col("chi2_d"), 6).as("chi2"),
        round(col("g_d"), 6).as("g_stat"),
        round(sqrt(col("chi2_d") /
          (col("n_docs").cast(DoubleType) *
            col("mindim").cast(DoubleType))), 6).as("cramers_v"))
  }

  /** The registry queries this module declares (see [[graft.Query]]). */
  def queries: Seq[Query] = Seq(
    // advanced relational surface (beyond-reference warehouse shapes)
    Query("q46_rollup", rollupAgg _,
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS lvl,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY lvl, status, priority""".stripMargin),
    Query("q47_cube", cubeAgg _,
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS lvl,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY lvl, returnflag, linestatus""".stripMargin),
    Query("q48_asof_join", asofJoin _,
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events
        |    WHERE event_type = 'click'),
        |  errors AS (SELECT user_id, ts FROM events WHERE event_type = 'error')
        |SELECT c.event_id, c.user_id,
        |  CAST(epoch_us(CAST(c.ts AS TIMESTAMP))
        |    - epoch_us(CAST(e.ts AS TIMESTAMP)) AS DOUBLE) / 1e6 AS asof_gap_s
        |FROM clicks c ASOF LEFT JOIN errors e
        |  ON c.user_id = e.user_id AND e.ts <= c.ts
        |ORDER BY event_id""".stripMargin),
    Query("q49_range_join", rangeJoinBucketed _,
      """SELECT a.user_id AS user_id, a.event_id AS event_a, b.event_id AS event_b,
        |  CAST(epoch_us(CAST(b.ts AS TIMESTAMP))
        |    - epoch_us(CAST(a.ts AS TIMESTAMP)) AS DOUBLE) / 1e6 AS gap_s
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(epoch_us(CAST(a.ts AS TIMESTAMP))
        |        - epoch_us(CAST(b.ts AS TIMESTAMP))) <= 3600000000
        |ORDER BY user_id, event_a, event_b""".stripMargin),
    Query("q50_sessionize_batch", sessionizeBatch _, sessionizeSql),
    Query("q51_ntile_ranks", ntileRanks _,
      """SELECT o_orderkey, o_totalprice,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),
    Query("q52_string_funcs", stringFuncs _,
      """SELECT c_custkey,
        |  CAST(length(c_name) AS INTEGER) AS name_len,
        |  upper(replace(c_name, 'Customer#', 'C-')) AS renamed,
        |  right(c_name, 3) AS last3,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        |  split_part(c_name, '#', 2) AS num_part,
        |  regexp_extract(c_name, '([0-9]+)', 1) AS digits,
        |  concat_ws('|', c_mktsegment, c_name) AS tagged
        |FROM customer ORDER BY c_custkey""".stripMargin),
    Query("q53_array_funcs", arrayFuncs _, {
      val T = graft.functions.TextPrims.tokensS("text")
      s"""SELECT doc_id,
         |  CAST(len($T) AS INTEGER) AS n_tokens,
         |  CAST(len(list_distinct($T)) AS INTEGER) AS n_distinct,
         |  array_to_string(list_slice(list_sort(list_distinct($T)), 1, 3), ' ')
         |    AS first3_sorted,
         |  CAST(list_contains($T, 'the') AS INTEGER) AS has_the
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    Query("q54_grouped_quantiles", groupedQuantiles _,
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
        |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25_price,
        |  round(quantile_cont(o_totalprice, 0.75), 4) AS p75_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Query("q55_above_cust_avg", aboveCustomerAvg _,
      """WITH avgs AS (
        |  SELECT o_custkey AS ck,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |      / COUNT(o_totalprice) AS cust_avg
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
        |FROM orders JOIN avgs ON o_custkey = ck
        |WHERE o_totalprice > cust_avg
        |ORDER BY o_orderkey""".stripMargin),
    Query("q56_first_last_window", firstLastWindow _,
      """SELECT o_custkey, first_order, last_order, n_orders FROM (
        |  SELECT o_custkey,
        |    first_value(o_orderkey) OVER wf AS first_order,
        |    last_value(o_orderkey) OVER wf AS last_order,
        |    COUNT(*) OVER wf AS n_orders,
        |    ROW_NUMBER() OVER wo AS rn
        |  FROM orders
        |  WINDOW
        |    wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |    wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin),
    // skew-mitigation + TPC-H-shaped analytics
    Query("q59_salted_agg", (s, d) => saltedAgg(s, d),
      // oracle = the UNsalted direct aggregation: salting must be invisible
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q60_shipping_priority", shippingPriority _,
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderstatus <> 'F'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    // arbitrary grouping sets (the general form of rollup/cube)
    Query("q66_grouping_sets", groupingSetsAgg _,
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS lvl,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderpriority), ())
        |ORDER BY lvl, status, priority""".stripMargin),
    // ordered conversion funnel over the event stream
    Query("q76_funnel", funnel _,
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |    FROM events),
        |tv AS (SELECT user_id, min(ts) AS tv FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |tc AS (SELECT e.user_id, min(e.ts) AS tc FROM ev e
        |  JOIN tv ON e.user_id = tv.user_id
        |  WHERE e.event_type = 'click' AND e.ts > tv.tv GROUP BY e.user_id),
        |tp AS (SELECT e.user_id, min(e.ts) AS tp FROM ev e
        |  JOIN tc ON e.user_id = tc.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > tc.tc GROUP BY e.user_id)
        |SELECT 1 AS stage, 'view' AS step,
        |  CAST(count(*) AS INTEGER) AS n_users FROM tv
        |UNION ALL SELECT 2, 'click', CAST(count(*) AS INTEGER) FROM tc
        |UNION ALL SELECT 3, 'purchase', CAST(count(*) AS INTEGER) FROM tp
        |ORDER BY stage""".stripMargin),
    // UNPIVOT/melt — the inverse of q19's pivot (one Expand pass)
    // INCLUDE NULLS: Spark's Dataset.unpivot RETAINS rows whose value is
    // NULL while DuckDB's UNPIVOT excludes them by default — the synthetic
    // metric columns happen to be non-null, but the two sides must agree by
    // construction, not by fixture luck.
    Query("q82_unpivot", unpivotMetrics _,
      """SELECT l_orderkey, l_linenumber, metric, value
        |FROM (FROM lineitem) UNPIVOT INCLUDE NULLS (value FOR metric IN
        |  (l_quantity, l_extendedprice, l_discount, l_tax))
        |ORDER BY l_orderkey, l_linenumber, metric, value""".stripMargin),
    // event-time sliding aggregate via a value-based RANGE window frame
    Query("q83_range_frame", rollingRevenue30d _,
      """SELECT o_orderkey, o_custkey,
        |  CAST(COUNT(*) OVER w AS INTEGER) AS n_30d,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |    AS rev_30d
        |FROM (SELECT *,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS d
        |  FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY d
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin),
    // several COUNT(DISTINCT) in one pass — the Expand + 2-level agg shape
    Query("q86_multi_distinct", (s, d) => multiDistinctAgg(s, d),
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(DISTINCT l_suppkey) AS n_suppliers,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // skew-mitigation join: salted big side × replicated dim, oracle unsalted
    Query("q87_salted_join", (s, d) => saltedJoin(s, d),
      // oracle = the UNsalted join: salting must be invisible in the result
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |    AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // SCD-1 snapshot merge: base ∪ updates, updates win per key (MERGE core)
    Query("q88_upsert_snapshot", upsertSnapshot _,
      // updates (src=1) win over base (src=0) per key — DuckDB mirrors the
      // same union + row_number merge
      """WITH u AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS src FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 1.1, 1 AS src
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY o_orderkey ORDER BY src DESC) AS rn FROM u)
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM r WHERE rn = 1 ORDER BY o_orderkey""".stripMargin),
    // fixed-width histogram: narrow map + low-cardinality hash agg
    Query("q89_histogram", (s, d) => histogram(s, d),
      """SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS bin,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin),
    // incremental view maintenance: snapshot partials + delta partials merge
    Query("q90_incremental_agg", (s, d) => incrementalAgg(s, d),
      // oracle = the FULL recompute: snapshot+delta merge must be invisible
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // resample to an hourly spine + forward-fill gaps (feature-prep grid)
    Query("q91_resample_fill", resampleFill _,
      """WITH hourly AS (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1),
        |bounds AS (
        |  SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS lo,
        |         CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS hi
        |  FROM events),
        |spine AS (
        |  SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
        |  FROM bounds)
        |SELECT s.hour AS hour, COALESCE(h.n, 0) AS n,
        |  COALESCE(h.sum_value, 0.0) AS sum_value,
        |  LAST_VALUE(h.sum_value IGNORE NULLS) OVER
        |    (ORDER BY s.hour ROWS UNBOUNDED PRECEDING) AS filled_sum
        |FROM spine s LEFT JOIN hourly h ON s.hour = h.hour
        |ORDER BY hour""".stripMargin),
    // trailing 7-day distinct users: dedup once + bounded spine range join
    Query("q92_sliding_distinct", slidingDistinctUsers _,
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS pday, user_id FROM events),
        |bounds AS (
        |  SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
        |  FROM events),
        |spine AS (
        |  SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
        |    AS day FROM bounds)
        |SELECT s.day AS day, COUNT(DISTINCT p.user_id) AS active_users_7d
        |FROM spine s JOIN pairs p ON p.pday BETWEEN s.day - 6 AND s.day
        |GROUP BY s.day ORDER BY day""".stripMargin),
    // per-group moments + 3-sigma outlier counts from exact decimal sums
    Query("q93_zscore_outliers", zscoreOutliers _,
      // moments from exact decimal sums, float math in the SAME expression
      // tree as the Spark side — the 3-sigma boundary agrees exactly
      """WITH stats AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS sx,
        |    SUM(CAST(value * value AS DECIMAL(38,8))) AS sxx
        |  FROM events GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n,
        |    CAST(sx AS DOUBLE) / n AS mean,
        |    CASE WHEN n > 1 THEN
        |      SQRT((CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE) / n)
        |        * (CAST(sx AS DOUBLE) / n) * n) / (n - 1))
        |    END AS std
        |  FROM stats),
        |o AS (
        |  SELECT e.event_type, COUNT(*) AS n_outliers
        |  FROM events e JOIN m ON e.event_type = m.event_type
        |  WHERE m.std > 0 AND ABS((e.value - m.mean) / m.std) > 3.0
        |  GROUP BY e.event_type)
        |SELECT m.event_type, m.n, m.mean, m.std,
        |  COALESCE(o.n_outliers, 0) AS n_outliers
        |FROM m LEFT JOIN o ON m.event_type = o.event_type
        |ORDER BY m.event_type""".stripMargin),
    // retention matrix: first-day cohorts × day offset, partitioning reused
    Query("q94_cohort_retention", cohortRetention _,
      """WITH e AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT f.cohort_day, e.day - f.cohort_day AS day_offset,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin),
    // multiset set-ops: per-row multiplicities survive (one agg, no join)
    Query("q95_intersect_except_all", intersectExceptAll _,
      """WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |     o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |     ia AS (SELECT o_custkey FROM f INTERSECT ALL SELECT o_custkey FROM o),
        |     ea AS (SELECT o_custkey FROM f EXCEPT ALL SELECT o_custkey FROM o)
        |SELECT 'both_all' AS tag, o_custkey, COUNT(*) AS n
        |FROM ia GROUP BY o_custkey
        |UNION ALL
        |SELECT 'only_f_all' AS tag, o_custkey, COUNT(*) AS n
        |FROM ea GROUP BY o_custkey
        |ORDER BY tag, o_custkey""".stripMargin),
    // static-domain pivot with several aggregates per cell, one pass
    Query("q96_pivot_multi_agg", pivotMultiAgg _,
      // the FILTER form IS the pivot plan: one conditional-agg pass
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F_n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS F_rev,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O_n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS O_rev,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P_n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS P_rev
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    // centered ROWS-frame smoothing over a total in-partition order
    Query("q97_centered_ma", centeredMovingAvg _,
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |    / (COUNT(*) OVER w) AS ma5
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    // group share of partition + grand total over the aggregated frame
    Query("q98_percent_of_total", percentOfTotal _,
      // double division on both sides — decimal/decimal scale rules differ
      """WITH g AS (
        |  SELECT l_returnflag, l_linestatus,
        |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, CAST(qty AS DOUBLE) AS qty,
        |  CAST(qty AS DOUBLE)
        |    / CAST(SUM(qty) OVER (PARTITION BY l_returnflag) AS DOUBLE)
        |    AS pct_of_flag,
        |  CAST(qty AS DOUBLE) / CAST(SUM(qty) OVER () AS DOUBLE)
        |    AS pct_of_total
        |FROM g ORDER BY l_returnflag, l_linestatus""".stripMargin),
    // deterministic group-content fingerprint (sorted list -> md5 scalar)
    Query("q99_array_fingerprint", arrayAggFingerprint _,
      """SELECT o_custkey,
        |  md5(string_agg(CAST(o_orderkey AS VARCHAR), ','
        |    ORDER BY o_orderkey)) AS orders_fp,
        |  COUNT(*) AS n_orders
        |FROM orders WHERE o_custkey < 100
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
    // one-pass grouped Pearson corr + OLS fit from exact decimal moments
    Query("q112_grouped_corr", groupedCorr _,
      // same moment-sum → double → IEEE finish shape as the Spark side;
      // decimal sums are exact so accumulation order cannot perturb them
      """WITH b AS (SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |    -- DECIMAL(19,0) operands force the 128-bit multiply (Σy² tops
        |    -- int64); scale 0 keeps the →double cast a single rounding
        |    CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |      AS DOUBLE) AS syy
        |  FROM b GROUP BY l_returnflag),
        |d AS (SELECT l_returnflag, n,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS cov_n,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS varx_n,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS vary_n, sx, sy
        |  FROM m)
        |SELECT l_returnflag, n,
        |  CASE WHEN varx_n > 0 AND vary_n > 0
        |    THEN cov_n / sqrt(varx_n * vary_n) ELSE NULL END AS corr_qty_price,
        |  CASE WHEN varx_n > 0 THEN cov_n / varx_n / 100 ELSE NULL END AS slope,
        |  CASE WHEN varx_n > 0
        |    THEN (sy - (cov_n / varx_n) * sx) / CAST(n AS DOUBLE) / 100
        |    ELSE NULL END AS intercept
        |FROM d ORDER BY l_returnflag""".stripMargin),
    // percent_rank + cume_dist cohort distribution (rank-ratio doubles)
    Query("q113_distribution_ranks", distributionRanks _,
      """SELECT o_orderkey,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS om,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY date_trunc('month', o_orderdate)
        |             ORDER BY o_totalprice)
        |ORDER BY o_orderkey""".stripMargin),
    // skewness + excess kurtosis per group from exact integer power sums
    Query("q114_grouped_moments", groupedMoments _,
      // same exact-power-sum → double → IEEE-finish shape as the Spark
      // side; HUGEINT carries the y³/y⁴ sums DuckDB's int64 can't
      """WITH b AS (SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |    CAST(SUM(x * x * x) AS DOUBLE) AS sx3,
        |    CAST(SUM(x * x * x * x) AS DOUBLE) AS sx4,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(y AS HUGEINT) * y * y) AS DOUBLE) AS sy3,
        |    CAST(SUM(CAST(y AS HUGEINT) * y * y * y) AS DOUBLE) AS sy4
        |  FROM b GROUP BY l_returnflag),
        |d AS (SELECT l_returnflag, n,
        |    sx / CAST(n AS DOUBLE) AS muq, sxx / CAST(n AS DOUBLE) AS r2q,
        |    sx3 / CAST(n AS DOUBLE) AS r3q, sx4 / CAST(n AS DOUBLE) AS r4q,
        |    sy / CAST(n AS DOUBLE) AS mup, syy / CAST(n AS DOUBLE) AS r2p,
        |    sy3 / CAST(n AS DOUBLE) AS r3p, sy4 / CAST(n AS DOUBLE) AS r4p
        |  FROM m),
        |c AS (SELECT l_returnflag, n, muq, mup,
        |    r2q - muq * muq AS m2q,
        |    r3q - 3 * muq * r2q + 2 * muq * muq * muq AS m3q,
        |    r4q - 4 * muq * r3q + 6 * muq * muq * r2q
        |      - 3 * muq * muq * muq * muq AS m4q,
        |    r2p - mup * mup AS m2p,
        |    r3p - 3 * mup * r2p + 2 * mup * mup * mup AS m3p,
        |    r4p - 4 * mup * r3p + 6 * mup * mup * r2p
        |      - 3 * mup * mup * mup * mup AS m4p
        |  FROM d)
        |SELECT l_returnflag, n, muq AS mean_qty, mup / 100 AS mean_price,
        |  CASE WHEN m2q > 0 THEN m3q / (m2q * sqrt(m2q)) ELSE NULL END AS skew_qty,
        |  CASE WHEN m2q > 0 THEN m4q / (m2q * m2q) - 3 ELSE NULL END AS kurt_qty,
        |  CASE WHEN m2p > 0 THEN m3p / (m2p * sqrt(m2p)) ELSE NULL END AS skew_price,
        |  CASE WHEN m2p > 0 THEN m4p / (m2p * m2p) - 3 ELSE NULL END AS kurt_price
        |FROM c ORDER BY l_returnflag""".stripMargin),
    // SCD Type-2 history build: generations -> validity ranges via lead
    Query("q116_scd2_history", scd2History _,
      """WITH gens AS (
        |  SELECT o_orderkey, o_orderstatus, 0 AS version FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'U' AS o_orderstatus, 1 AS version
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'X' AS o_orderstatus, 2 AS version
        |  FROM orders WHERE o_orderkey % 20 = 0)
        |SELECT o_orderkey, o_orderstatus,
        |  version AS valid_from,
        |  lead(version) OVER (PARTITION BY o_orderkey ORDER BY version)
        |    AS valid_to,
        |  CAST(CASE WHEN lead(version) OVER
        |      (PARTITION BY o_orderkey ORDER BY version) IS NULL
        |    THEN 1 ELSE 0 END AS INTEGER) AS is_current
        |FROM gens ORDER BY o_orderkey, valid_from""".stripMargin),
    // Markov transition counts+probabilities over per-user event sequences
    Query("q117_transition_matrix", transitionMatrix _,
      """WITH pairs AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events),
        |counts AS (
        |  SELECT src, dst, COUNT(*) AS n FROM pairs
        |  WHERE dst IS NOT NULL GROUP BY src, dst)
        |SELECT src, dst, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE)
        |    AS p
        |FROM counts ORDER BY src, dst""".stripMargin),
    // gaps-and-islands: consecutive-month activity streaks per customer
    Query("q118_activity_streaks", activityStreaks _,
      """WITH months AS (
        |  SELECT DISTINCT o_custkey,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
        |  FROM orders),
        |grps AS (
        |  SELECT o_custkey,
        |    m - row_number() OVER (PARTITION BY o_custkey ORDER BY m) AS grp
        |  FROM months),
        |streaks AS (
        |  SELECT o_custkey, grp, COUNT(*) AS len
        |  FROM grps GROUP BY o_custkey, grp)
        |SELECT o_custkey, CAST(SUM(len) AS BIGINT) AS n_months,
        |  COUNT(*) AS n_streaks, CAST(MAX(len) AS BIGINT) AS max_streak
        |FROM streaks GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
    // bitwise + boolean aggregate family (BIT_AND/OR/XOR, BOOL_AND/OR)
    Query("q119_bit_aggs", bitAggs _,
      """SELECT l_returnflag,
        |  BIT_AND(l_partkey) AS pk_and,
        |  BIT_OR(l_partkey) AS pk_or,
        |  BIT_XOR(l_partkey) AS pk_xor,
        |  CAST(BOOL_AND(l_quantity > 0) AS INTEGER) AS all_pos_qty,
        |  CAST(BOOL_OR(l_discount > 0.05) AS INTEGER) AS any_deep_discount
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // deterministic arg-extremes via max_by/min_by on a packed unique key
    Query("q120_arg_extremes", argExtremes _,
      // packed ordering value = exact cents × 1e10 + custkey: unique and
      // monotone in (balance, custkey) for custkey < 1e10, so arg-extreme
      // ties cannot occur
      """WITH c AS (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      * 10000000000 + c_custkey AS pk
        |  FROM customer)
        |SELECT c_nationkey,
        |  arg_max(c_custkey, pk) AS richest_cust, MAX(c_acctbal) AS max_bal,
        |  arg_min(c_custkey, pk) AS poorest_cust, MIN(c_acctbal) AS min_bal
        |FROM c GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),
    // rolling exact median over a ROWS frame, integer-cents determinism
    Query("q121_rolling_median", rollingMedian _,
      // exact integer cents make every frame median (int or .5 midpoint)
      // identically representable; quantile_cont == Spark percentile there
      """SELECT o_custkey, o_orderkey,
        |  quantile_cont(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT), 0.5) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) / 100 AS med5
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
    // extended calendar family: last_day/add_months/quarter/ISO week
    Query("q123_date_funcs", dateFuncs _,
      """SELECT o_orderkey,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
        |    AS plus3m,
        |  CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS qstart,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        |  CAST(weekofyear(o_orderdate) AS INTEGER) AS isoweek,
        |  CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    // ordered string_agg via collect_list -> array_sort -> array_join
    Query("q124_string_agg", stringAgg _,
      """SELECT s_nationkey, COUNT(*) AS n_suppliers,
        |  string_agg(s_name, ',' ORDER BY s_name) AS roster
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin),
    // exactly-reproducible stratified downsample (rank mod k per stratum)
    Query("q125_stratified_take", stratifiedTake _,
      """WITH r AS (
        |  SELECT event_id, event_type,
        |    row_number() OVER (PARTITION BY event_type ORDER BY event_id)
        |      AS rn
        |  FROM events)
        |SELECT event_id, event_type, rn FROM r
        |WHERE rn % 10 = 1 ORDER BY event_type, rn""".stripMargin),
    // SCD2 consumption: point-in-time effective-dated dimension lookup
    Query("q126_scd2_lookup", scd2PointLookup _,
      """WITH gens AS (
        |  SELECT o_orderkey, o_orderstatus, 0 AS version FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'U', 1 FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'X', 2 FROM orders WHERE o_orderkey % 20 = 0),
        |hist AS (
        |  SELECT o_orderkey, o_orderstatus, version AS valid_from,
        |    lead(version) OVER (PARTITION BY o_orderkey ORDER BY version)
        |      AS valid_to
        |  FROM gens),
        |probes AS (
        |  SELECT l_orderkey, CAST(l_linenumber % 3 AS INTEGER) AS v,
        |    l_quantity
        |  FROM lineitem)
        |SELECT h.o_orderstatus AS eff_status, p.v, COUNT(*) AS n,
        |  CAST(SUM(CAST(p.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM probes p JOIN hist h
        |  ON p.l_orderkey = h.o_orderkey
        |  AND h.valid_from <= p.v
        |  AND (h.valid_to IS NULL OR h.valid_to > p.v)
        |GROUP BY 1, 2 ORDER BY eff_status, v""".stripMargin),
    // schema evolution: unionByName with null-filled missing columns
    Query("q127_union_by_name", unionByNameEvolution _,
      """WITH v1 AS (SELECT o_orderkey AS id, o_totalprice AS amount,
        |    'order' AS src FROM orders),
        |v2 AS (SELECT l_orderkey AS id, l_extendedprice AS amount,
        |    l_discount AS disc, 'line' AS src FROM lineitem),
        |u AS (SELECT * FROM v1 UNION ALL BY NAME SELECT * FROM v2)
        |SELECT src, COUNT(*) AS n,
        |  CAST(SUM(CAST(amount AS DECIMAL(18,4))) AS DOUBLE) AS sum_amount,
        |  COUNT(disc) AS n_disc
        |FROM u GROUP BY src ORDER BY src""".stripMargin),
    // full MERGE contract: update + delete verbs in one keyed window pass
    Query("q128_merge_deletes", mergeWithDeletes _,
      """WITH changes AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS src
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'U', o_totalprice * 1.1, 1
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'D', o_totalprice, 2
        |  FROM orders WHERE o_orderkey % 50 = 0),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
        |      FROM changes)
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM r WHERE rn = 1 AND o_orderstatus <> 'D'
        |ORDER BY o_orderkey""".stripMargin),
    // publish-gate data-quality audit: uniqueness, orphans, domains
    Query("q129_dq_audit", dqAudit _,
      """SELECT
        |  (SELECT COUNT(*) FROM orders) AS n_orders,
        |  (SELECT COUNT(*) FROM (
        |     SELECT o_orderkey FROM orders
        |     GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS dup_orderkeys,
        |  (SELECT COUNT(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE o.o_orderkey = l.l_orderkey))
        |    AS orphan_lineitems,
        |  (SELECT CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
        |     AS BIGINT) FROM lineitem) AS nonpos_qty,
        |  (SELECT CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.2
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem) AS discount_oob,
        |  (SELECT CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0
        |     END) AS BIGINT) FROM lineitem) AS null_price""".stripMargin),
    // event-time RANGE frame: trailing 30-min count+sum per user
    Query("q134_trailing_range_window", trailingRangeWindow _,
      """SELECT user_id, event_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  COUNT(*) OVER w AS n_30m,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_30m
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |  RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, us, event_id""".stripMargin),
    // graph centrality: 10-iteration weighted PageRank on the aggregated
    // event-type transition graph, decimal-routed per iteration
    Query("q142_transition_pagerank", (s, d) => transitionPageRank(s, d), {
      // the oracle unrolls the ten fixed iterations as CTEs r0..r10, each
      // contribution sum DECIMAL-routed exactly like the Spark side; the
      // damping constants are spelled as the SAME double expressions
      // ((1.0 - 0.85) etc.) so both engines fold identical IEEE values
      val base =
        """WITH tr AS (SELECT user_id, event_type,
          |    lead(event_type) OVER
          |      (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
          |  FROM events),
          |e AS (SELECT event_type AS src, next_type AS dst, COUNT(*) AS w
          |  FROM tr WHERE next_type IS NOT NULL GROUP BY 1, 2),
          |o AS (SELECT src, SUM(w) AS outw FROM e GROUP BY 1),
          |n0 AS (SELECT DISTINCT node FROM
          |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
          |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM n0),
          |n AS (SELECT node, n_nodes FROM n0 CROSS JOIN nn),
          |r0 AS (SELECT node, n_nodes,
          |  CAST(1.0 AS DOUBLE) / n_nodes AS rank FROM n)""".stripMargin
      val iterations = (1 to 10).map { i =>
        s"""c$i AS (SELECT e.dst AS node,
           |    CAST(SUM(CAST(r.rank * e.w / o.outw AS DECIMAL(38,15)))
           |      AS DOUBLE) AS sumc
           |  FROM e JOIN o USING (src) JOIN r${i - 1} r ON r.node = e.src
           |  GROUP BY 1),
           |r$i AS (SELECT n.node, n.n_nodes,
           |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n_nodes
           |      + CAST(0.85 AS DOUBLE)
           |        * COALESCE(c$i.sumc, CAST(0.0 AS DOUBLE)) AS rank
           |  FROM n LEFT JOIN c$i ON n.node = c$i.node)""".stripMargin
      }
      (base +: iterations).mkString(",\n") +
        "\nSELECT node, round(rank, 6) AS rank FROM r10 ORDER BY node"
    }),
    // row-level bad-records histogram: constraint bitmask routing
    Query("q146_quarantine_routing", quarantineRouting _,
      """WITH li AS (
        |  SELECT l_orderkey, l_quantity, l_discount, l_tax, l_extendedprice
        |  FROM lineitem
        |  UNION ALL SELECT l_orderkey, -l_quantity, l_discount, l_tax,
        |    l_extendedprice FROM lineitem WHERE l_orderkey % 500 = 0
        |  UNION ALL SELECT l_orderkey, l_quantity, 0.5, l_tax,
        |    l_extendedprice FROM lineitem WHERE l_orderkey % 700 = 0
        |  UNION ALL SELECT l_orderkey, l_quantity, l_discount, 0.9,
        |    l_extendedprice FROM lineitem WHERE l_orderkey % 900 = 0
        |  UNION ALL SELECT l_orderkey, l_quantity, l_discount, l_tax,
        |    -1.0 FROM lineitem WHERE l_orderkey % 1100 = 0
        |  UNION ALL SELECT l_orderkey, -l_quantity, 0.5, l_tax,
        |    l_extendedprice FROM lineitem WHERE l_orderkey % 1300 = 0),
        |m AS (SELECT l_orderkey,
        |    (CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN l_discount < 0 OR l_discount > 0.2 THEN 2 ELSE 0 END)
        |    + (CASE WHEN l_tax < 0 OR l_tax > 0.08 THEN 4 ELSE 0 END)
        |    + (CASE WHEN l_extendedprice IS NULL OR l_extendedprice <= 0
        |        THEN 8 ELSE 0 END) AS reason_mask
        |  FROM li)
        |SELECT reason_mask, COUNT(*) AS n_rows,
        |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
        |FROM m GROUP BY reason_mask ORDER BY reason_mask""".stripMargin),
    // snapshot reconciliation: added/removed/changed diff of two
    // materialized generations, per-column change counts
    Query("q148_snapshot_diff", snapshotDiff _,
      s"""WITH v1 AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    o_totalprice AS price FROM orders),
        |v2 AS (SELECT k,
        |    CASE WHEN k % 13 = 0 THEN 'U' ELSE st END AS st,
        |    CASE WHEN k % 10 = 0 THEN price * 1.1 ELSE price END AS price
        |  FROM v1 WHERE k % 17 <> 0
        |  UNION ALL
        |  SELECT k + $ReKeyOffset, st, price FROM v1 WHERE k % 23 = 0),
        |j AS (SELECT COALESCE(v1.k, v2.k) AS k, v1.st AS st1, v2.st AS st2,
        |    v1.price AS p1, v2.price AS p2
        |  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k),
        |c AS (SELECT k, st1, st2, p1, p2,
        |    CASE WHEN st1 IS NULL THEN 'added'
        |      WHEN st2 IS NULL THEN 'removed'
        |      WHEN st1 <> st2 OR p1 <> p2 THEN 'changed'
        |      ELSE 'unchanged' END AS change_type
        |  FROM j)
        |SELECT change_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN change_type = 'changed' AND st1 <> st2
        |    THEN 1 ELSE 0 END) AS INTEGER) AS n_status_changes,
        |  CAST(SUM(CASE WHEN change_type = 'changed' AND p1 <> p2
        |    THEN 1 ELSE 0 END) AS INTEGER) AS n_price_changes,
        |  MIN(k) AS min_key, MAX(k) AS max_key
        |FROM c GROUP BY change_type ORDER BY change_type""".stripMargin),
    // frequent-itemset primitive: per-basket co-occurrence pair counts
    Query("q149_copurchase_pairs", (s, d) => copurchasePairs(s, d),
      """WITH items AS (SELECT DISTINCT l_orderkey AS okey,
        |    l_partkey AS part FROM lineitem)
        |SELECT a.part AS part_a, b.part AS part_b, COUNT(*) AS n_baskets
        |FROM items a JOIN items b
        |  ON a.okey = b.okey AND a.part < b.part
        |GROUP BY 1, 2
        |ORDER BY n_baskets DESC, part_a, part_b LIMIT 20""".stripMargin),
    // behavioral analytics: last-touch conversion attribution (24 h)
    Query("q151_last_touch", (s, d) => lastTouchAttribution(s, d),
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |t AS (SELECT *,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER w AS touch_type,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN us END
        |      IGNORE NULLS) OVER w AS touch_us
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT CASE WHEN touch_us IS NOT NULL
        |      AND us - touch_us <= 86400000000 THEN touch_type
        |    ELSE 'none' END AS credit
        |  FROM t WHERE event_type = 'purchase')
        |SELECT credit, COUNT(*) AS n_purchases
        |FROM p GROUP BY credit ORDER BY credit""".stripMargin),
    // table profiling: per-column null + exact distinct census, one scan
    // (approx = false: the oracle twin; approx HLL++ is the at-scale
    // default, band-pinned against this in ColumnProfileSpec)
    Query("q152_column_profile", (s, d) => columnProfile(s, d, approx = false), {
      val aggExprs = ProfileCols.map(c =>
        s"""SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS null_$c,
           |    COUNT(DISTINCT $c) AS dist_$c""".stripMargin).mkString(",\n    ")
      val unions = ProfileCols.map(c =>
        s"SELECT '$c' AS column_name, n_rows, " +
          s"CAST(null_$c AS BIGINT) AS n_null, " +
          s"CAST(dist_$c AS BIGINT) AS n_distinct FROM a")
        .mkString("\n  UNION ALL ")
      s"""WITH a AS (SELECT COUNT(*) AS n_rows,
         |    $aggExprs
         |  FROM lineitem)
         |SELECT column_name, n_rows, n_null, n_distinct FROM (
         |  $unions)
         |ORDER BY column_name""".stripMargin
    }),
    // equal-frequency discretization: per-flag ntile bins with boundaries
    Query("q155_equifreq_bins", (s, d) => equifreqBins(s, d),
      """WITH b AS (SELECT l_returnflag, l_extendedprice,
        |    CAST(NTILE(8) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber)
        |      AS INTEGER) AS bin
        |  FROM lineitem)
        |SELECT l_returnflag, bin, COUNT(*) AS n,
        |  MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |FROM b GROUP BY 1, 2 ORDER BY l_returnflag, bin""".stripMargin),
    // feature-selection profiling: all-pairs correlation matrix, one scan
    Query("q156_corr_matrix", corrMatrix _, {
      // generated from the SAME CorrCols/pair list as the Spark side.
      // Scale-0 decimal sums dodge the ÷10^s decimal→double hazard:
      // DuckDB's HUGEINT sum and Spark's DECIMAL(38,0) sum both convert
      // to double in ONE rounding. DECIMAL(19,0) operands force the
      // 128-bit multiply (q112's rule).
      val pairs = for {
        i <- CorrCols.indices; j <- CorrCols.indices if i < j
      } yield (CorrCols(i)._1, CorrCols(j)._1)
      val baseCols = CorrCols.map { case (nm, c) =>
        s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT) AS x_$nm"
      }.mkString(",\n    ")
      val momentCols = (
        CorrCols.map { case (nm, _) =>
          s"CAST(SUM(x_$nm) AS DOUBLE) AS s_$nm" } ++
        CorrCols.map { case (nm, _) =>
          s"CAST(SUM(CAST(x_$nm AS DECIMAL(19,0)) * " +
            s"CAST(x_$nm AS DECIMAL(19,0))) AS DOUBLE) AS ss_$nm" } ++
        pairs.map { case (a, b) =>
          s"CAST(SUM(CAST(x_$a AS DECIMAL(19,0)) * " +
            s"CAST(x_$b AS DECIMAL(19,0))) AS DOUBLE) AS sp_${a}_$b" }
      ).mkString(",\n    ")
      val pairSelects = pairs.map { case (a, b) =>
        val (va, vb) =
          (s"(CAST(n AS DOUBLE) * ss_$a - s_$a * s_$a)",
            s"(CAST(n AS DOUBLE) * ss_$b - s_$b * s_$b)")
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
           |    round(CASE WHEN $va > 0 AND $vb > 0
           |      THEN (CAST(n AS DOUBLE) * sp_${a}_$b - s_$a * s_$b)
           |        / sqrt($va * $vb) END, 6) AS corr FROM m""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH b AS (SELECT
         |    $baseCols
         |  FROM lineitem),
         |m AS (SELECT COUNT(*) AS n,
         |    $momentCols
         |  FROM b)
         |SELECT col_a, col_b, n, corr FROM (
         |  $pairSelects)
         |ORDER BY col_a, col_b""".stripMargin
    }),
    // time-series co-movement: trailing 30-day rolling correlation
    Query("q157_rolling_corr", (s, d) => rollingCorr(s, d),
      """WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT) AS x,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        |      AS y
        |  FROM lineitem GROUP BY 1),
        |m AS (SELECT day,
        |    COUNT(*) OVER w AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0))) OVER w AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) OVER w AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |      OVER w AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
        |      OVER w AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |      OVER w AS DOUBLE) AS syy
        |  FROM d
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
        |SELECT day, n,
        |  round(CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
        |      AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0
        |    THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
        |      / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
        |        * (CAST(n AS DOUBLE) * syy - sy * sy)) END, 6) AS corr
        |FROM m ORDER BY day""".stripMargin),
    // exponential smoothing: 16-term EWMA of daily revenue, exact weights
    Query("q158_ewma_daily", (s, d) => ewmaDaily(s, d), {
      val terms = (0 until 16).map { k =>
        s"CAST(lag(cents, $k) OVER w AS DOUBLE) * ${ewmaWeightLit(k)}"
      }.mkString("\n    + ")
      val denom = new java.math.BigDecimal(
        (0 until 16).map(k => math.pow(0.5, k)).sum).toPlainString
      s"""WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
         |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
         |      AS BIGINT) AS cents
         |  FROM lineitem GROUP BY 1)
         |SELECT day, round(($terms)
         |    / CAST($denom AS DOUBLE) / 100.0, 6) AS ewma_revenue
         |FROM d WINDOW w AS (ORDER BY day)
         |ORDER BY day""".stripMargin
    }),
    // product analytics: view→purchase conversion latency percentiles
    Query("q159_conversion_latency", conversionLatency _,
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |p AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN us END) AS fv,
        |    MIN(CASE WHEN event_type = 'purchase' THEN us END) AS fp
        |  FROM e GROUP BY 1),
        |d AS (SELECT CAST(fp - fv AS DOUBLE) / 1000000.0 AS delta_s
        |  FROM p WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv)
        |SELECT CAST(COUNT(*) AS INTEGER) AS n_converting,
        |  round(quantile_cont(delta_s, 0.5), 4) AS p50_s,
        |  round(quantile_cont(delta_s, 0.9), 4) AS p90_s,
        |  round(quantile_cont(delta_s, 0.99), 4) AS p99_s
        |FROM d""".stripMargin),
    // user-journey mining: top event-type paths per 2h-gap session
    Query("q178_session_paths", (s, d) => sessionPaths(s, d),
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |b AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |      OR us - lag(us) OVER w > 7200000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM b),
        |p AS (SELECT user_id, session_idx,
        |    string_agg(event_type, '>' ORDER BY us, event_id) AS path
        |  FROM s GROUP BY 1, 2)
        |SELECT path, CAST(COUNT(*) AS INTEGER) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),
    // behavioral model eval: Markov argmax fit on train users, held-out acc
    Query("q179_markov_eval", (s, d) => markovEval(s, d), {
      val bkt = graft.functions.TextPrims
        .hex60S("md5(CAST(user_id AS VARCHAR))") + " % 100"
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         |    $bkt < 80 AS is_train
         |  FROM events),
         |p AS (SELECT *, lead(event_type) OVER (PARTITION BY user_id
         |    ORDER BY us, event_id) AS next_type FROM e),
         |tr AS (SELECT event_type AS cur, next_type, COUNT(*) AS n FROM p
         |  WHERE next_type IS NOT NULL AND is_train GROUP BY 1, 2),
         |m AS (SELECT cur, next_type AS pred FROM (
         |    SELECT cur, next_type, ROW_NUMBER() OVER (PARTITION BY cur
         |      ORDER BY n DESC, next_type) AS rk FROM tr) z WHERE rk = 1),
         |ev AS (SELECT p.event_type, p.next_type, m.pred FROM p
         |  LEFT JOIN m ON p.event_type = m.cur
         |  WHERE p.next_type IS NOT NULL AND NOT p.is_train)
         |SELECT event_type, CAST(COUNT(*) AS INTEGER) AS n_transitions,
         |  CAST(SUM(CASE WHEN next_type = pred THEN 1 ELSE 0 END)
         |    AS INTEGER) AS n_correct,
         |  CAST(SUM(CASE WHEN next_type = pred THEN 1 ELSE 0 END)
         |    AS DOUBLE) / COUNT(*) AS accuracy
         |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin
    }),
    // robust (median/MAD) outlier census — q93's masking-proof twin
    Query("q191_mad_outliers", (s, d) => madOutliers(s, d),
      // integer micro-units make every quantile_cont midpoint exactly
      // representable == Spark percentile; outputs never re-rounded
      """WITH e AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vq
        |  FROM events),
        |med AS (SELECT event_type, quantile_cont(vq, 0.5) AS med
        |  FROM e GROUP BY event_type),
        |dev AS (SELECT e.event_type, ABS(CAST(vq AS DOUBLE) - med.med) AS ad
        |  FROM e JOIN med ON e.event_type = med.event_type),
        |mad AS (SELECT event_type, COUNT(*) AS n,
        |    quantile_cont(ad, 0.5) AS madv
        |  FROM dev GROUP BY event_type),
        |o AS (SELECT dev.event_type, COUNT(*) AS n_outliers
        |  FROM dev JOIN mad ON dev.event_type = mad.event_type
        |  WHERE ad > 3.0 * mad.madv GROUP BY dev.event_type)
        |SELECT med.event_type, CAST(mad.n AS INTEGER) AS n,
        |  med.med / 1000000.0 AS median,
        |  mad.madv / 1000000.0 AS mad,
        |  CAST(COALESCE(o.n_outliers, 0) AS INTEGER) AS n_outliers,
        |  CAST(COALESCE(o.n_outliers, 0) AS DOUBLE) / mad.n AS outlier_ratio
        |FROM med JOIN mad ON med.event_type = mad.event_type
        |LEFT JOIN o ON med.event_type = o.event_type
        |ORDER BY med.event_type""".stripMargin),
    // Neyman: variance-optimal stratified sample sizing (pairs with q144)
    Query("q197_neyman_alloc", (s, d) => neymanAllocation(s, d),
      // identical moment chain to q93; N·S rounds to 6dp before the
      // decimal total so the share denominator is exact on both engines
      """WITH stats AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS sx,
        |    SUM(CAST(value * value AS DECIMAL(38,8))) AS sxx
        |  FROM events GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n,
        |    CASE WHEN n > 1 THEN
        |      SQRT((CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE) / n)
        |        * (CAST(sx AS DOUBLE) / n) * n) / (n - 1))
        |    END AS std
        |  FROM stats),
        |ns AS (SELECT event_type, n, std,
        |    round(CAST(n AS DOUBLE) * std, 6) AS nsr FROM m),
        |tot AS (SELECT SUM(CAST(nsr AS DECIMAL(28,6))) AS tns FROM ns)
        |SELECT event_type, n, std,
        |  nsr / CAST(tns AS DOUBLE) AS share,
        |  CAST(FLOOR(nsr / CAST(tns AS DOUBLE) * 1000) AS BIGINT)
        |    AS n_alloc
        |FROM ns, tot ORDER BY event_type""".stripMargin),
    // hour-of-day robust baseline: seasonal median/MAD anomaly census
    Query("q198_seasonal_anomaly", (s, d) => seasonalAnomaly(s, d),
      // q191's chain keyed by (event_type, hour-of-day)
      """WITH e AS (SELECT event_type,
        |    CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vq
        |  FROM events),
        |med AS (SELECT event_type, hod, quantile_cont(vq, 0.5) AS med
        |  FROM e GROUP BY event_type, hod),
        |dev AS (SELECT e.event_type, e.hod,
        |    ABS(CAST(vq AS DOUBLE) - med.med) AS ad
        |  FROM e JOIN med ON e.event_type = med.event_type
        |    AND e.hod = med.hod),
        |mad AS (SELECT event_type, hod, COUNT(*) AS n,
        |    quantile_cont(ad, 0.5) AS madv
        |  FROM dev GROUP BY event_type, hod),
        |o AS (SELECT dev.event_type, dev.hod, COUNT(*) AS n_outliers
        |  FROM dev JOIN mad ON dev.event_type = mad.event_type
        |    AND dev.hod = mad.hod
        |  WHERE ad > 3.0 * mad.madv GROUP BY dev.event_type, dev.hod)
        |SELECT med.event_type, med.hod, CAST(mad.n AS INTEGER) AS n,
        |  med.med / 1000000.0 AS median,
        |  mad.madv / 1000000.0 AS mad,
        |  CAST(COALESCE(o.n_outliers, 0) AS INTEGER) AS n_outliers,
        |  CAST(COALESCE(o.n_outliers, 0) AS DOUBLE) / mad.n
        |    AS outlier_ratio
        |FROM med
        |JOIN mad ON med.event_type = mad.event_type AND med.hod = mad.hod
        |LEFT JOIN o ON med.event_type = o.event_type AND med.hod = o.hod
        |ORDER BY med.event_type, med.hod""".stripMargin),
    // Welch unequal-variance t matrix — the A/B mean-difference screen
    Query("q203_welch_pairs", (s, d) => welchPairs(s, d),
      // q93's moment chain; the t/df algebra uses the same association
      // order as the Spark expressions so every double is identical
      """WITH stats AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS sx,
        |    SUM(CAST(value * value AS DECIMAL(38,8))) AS sxx
        |  FROM events GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n,
        |    CAST(sx AS DOUBLE) / n AS mean,
        |    CASE WHEN n > 1 THEN
        |      (CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE) / n)
        |        * (CAST(sx AS DOUBLE) / n) * n) / (n - 1)
        |    END AS vr
        |  FROM stats)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(a.n AS INTEGER) AS n_a, CAST(b.n AS INTEGER) AS n_b,
        |  (a.mean - b.mean) / sqrt(a.vr / a.n + b.vr / b.n) AS t_stat,
        |  (a.vr / a.n + b.vr / b.n) * (a.vr / a.n + b.vr / b.n) /
        |    ((a.vr / a.n) * (a.vr / a.n) / (a.n - 1)
        |      + (b.vr / b.n) * (b.vr / b.n) / (b.n - 1)) AS df
        |FROM m a JOIN m b ON a.event_type < b.event_type
        |ORDER BY type_a, type_b""".stripMargin),
    // Benford first-digit audit — fabricated-amount anomaly screen
    Query("q204_benford", (s, d) => benfordAudit(s, d), {
      val vals = BenfordP.map { case (d, p) => s"($d, $p)" }.mkString(", ")
      s"""WITH obs AS (SELECT CAST(substr(CAST(CAST(o_totalprice
         |      AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         |    COUNT(*) AS n_obs
         |  FROM orders GROUP BY 1),
         |expv AS (SELECT * FROM (VALUES $vals) v(digit, p)),
         |tot AS (SELECT SUM(n_obs) AS n FROM obs),
         |j AS (SELECT obs.digit, obs.n_obs, n * p AS n_exp
         |  FROM obs JOIN expv ON obs.digit = expv.digit, tot)
         |SELECT digit, n_obs, round(n_exp, 6) AS n_exp,
         |  round((n_obs - n_exp) * (n_obs - n_exp) / n_exp, 6) AS chi2_term
         |FROM j ORDER BY digit""".stripMargin
    }),
    // PSI: reference-decile population-stability drift per event type
    Query("q205_psi_drift", (s, d) => psiDrift(s, d), {
      val qs = (1 until 10).map(i => i.toDouble / 10)
      s"""WITH e AS (SELECT event_type,
         |    CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 1 ELSE 0 END AS ref,
         |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vq
         |  FROM events),
         |bnd AS (SELECT event_type,
         |    quantile_cont(vq, [${qs.mkString(", ")}]) AS bnd
         |  FROM e WHERE ref = 1 GROUP BY event_type),
         |binned AS (SELECT e.event_type,
         |    CAST(len(list_filter(bnd.bnd,
         |      b -> CAST(vq AS DOUBLE) > b)) + 1 AS INTEGER) AS bin,
         |    SUM(ref) AS n_ref, SUM(1 - ref) AS n_cmp
         |  FROM e JOIN bnd ON e.event_type = bnd.event_type
         |  GROUP BY 1, 2),
         |tot AS (SELECT event_type, SUM(n_ref) AS tr, SUM(n_cmp) AS tc
         |  FROM binned GROUP BY event_type),
         |pq AS (SELECT binned.event_type, bin, n_ref, n_cmp,
         |    (n_ref + 0.5) / (tr + 5.0) AS p,
         |    (n_cmp + 0.5) / (tc + 5.0) AS q
         |  FROM binned JOIN tot ON binned.event_type = tot.event_type)
         |SELECT event_type, bin,
         |  CAST(n_ref AS INTEGER) AS n_ref, CAST(n_cmp AS INTEGER) AS n_cmp,
         |  round((p - q) * round(ln(p / q), 6), 9) AS psi_term
         |FROM pq ORDER BY event_type, bin""".stripMargin
    }),
    // Apriori-gated support/confidence/lift over co-purchase baskets
    Query("q206_association_rules", (s, d) => associationRules(s, d),
      """WITH items AS (SELECT DISTINCT l_orderkey AS okey,
        |    l_partkey AS part FROM lineitem),
        |nb AS (SELECT CAST(COUNT(DISTINCT okey) AS DOUBLE) AS nd FROM items),
        |supp AS (SELECT part, COUNT(*) AS cnt FROM items GROUP BY part),
        |pairs AS (SELECT a.part AS part_a, b.part AS part_b,
        |    COUNT(*) AS n_ab
        |  FROM items a JOIN items b
        |    ON a.okey = b.okey AND a.part < b.part
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT part_a, part_b, CAST(n_ab AS INTEGER) AS n_ab,
        |  CAST(n_ab AS DOUBLE) / nd AS support,
        |  CAST(n_ab AS DOUBLE) / sa.cnt AS conf_a_b,
        |  CAST(n_ab AS DOUBLE) * nd /
        |    CAST(sa.cnt * sb.cnt AS DOUBLE) AS lift
        |FROM pairs
        |JOIN supp sa ON pairs.part_a = sa.part
        |JOIN supp sb ON pairs.part_b = sb.part, nb
        |ORDER BY part_a, part_b""".stripMargin),
    // tie-corrected rank-sum test, one global ranking for all types
    Query("q208_mann_whitney", (s, d) => mannWhitney(s, d),
      """WITH e AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vq
        |  FROM events),
        |pvt AS (SELECT vq, event_type, COUNT(*) AS cvt
        |  FROM e GROUP BY vq, event_type),
        |pv AS (SELECT vq, SUM(cvt) AS c FROM pvt GROUP BY vq),
        |rk AS (SELECT vq, c,
        |    COALESCE(SUM(c) OVER (ORDER BY vq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM pv),
        |ar AS (SELECT vq, c,
        |    CAST(cum_before AS DOUBLE) + (c + 1) / 2.0 AS avg_rank
        |  FROM rk),
        |tie AS (SELECT SUM(CAST(c * c * c - c AS DECIMAL(38,0))) AS tsum,
        |    SUM(c) AS nn FROM ar),
        |rs AS (SELECT event_type, SUM(cvt) AS na,
        |    SUM(CAST(round(cvt * avg_rank, 1) AS DECIMAL(28,1))) AS ra
        |  FROM pvt JOIN ar ON pvt.vq = ar.vq GROUP BY event_type),
        |f AS (SELECT event_type,
        |    CAST(na AS DOUBLE) AS nad,
        |    CAST(nn - na AS DOUBLE) AS nbd,
        |    CAST(nn AS DOUBLE) AS ntd,
        |    CAST(ra AS DOUBLE) AS rad,
        |    CAST(tsum AS DOUBLE) AS tsd,
        |    na
        |  FROM rs, tie)
        |SELECT event_type, CAST(na AS INTEGER) AS n,
        |  rad - nad * (nad + 1) / 2 AS u_stat,
        |  (rad - nad * (nad + 1) / 2 - nad * nbd / 2) /
        |    sqrt(nad * nbd / 12 *
        |      ((ntd + 1) - tsd / (ntd * (ntd - 1)))) AS z
        |FROM f ORDER BY event_type""".stripMargin),
    // max-ECDF-gap two-sample distribution-shape test
    Query("q209_ks_two_sample", (s, d) => ksTwoSample(s, d),
      """WITH e AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vq
        |  FROM events WHERE event_type IN ('click', 'error')),
        |pv AS (SELECT vq,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS cb
        |  FROM e GROUP BY vq),
        |cum AS (SELECT vq,
        |    SUM(ca) OVER (ORDER BY vq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    SUM(cb) OVER (ORDER BY vq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
        |  FROM pv),
        |tot AS (SELECT MAX(cuma) AS na, MAX(cumb) AS nb FROM cum),
        |g AS (SELECT vq, na, nb,
        |    ABS(CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb)
        |      AS gap
        |  FROM cum, tot),
        |top AS (SELECT * FROM g ORDER BY gap DESC, vq LIMIT 1)
        |SELECT CAST(na AS INTEGER) AS n_a, CAST(nb AS INTEGER) AS n_b,
        |  gap AS d_stat, vq / 1000000.0 AS at_value,
        |  sqrt(CAST(na AS DOUBLE) * nb / CAST(na + nb AS DOUBLE)) * gap
        |    AS scaled_d
        |FROM top""".stripMargin),
    // hash-skew pre-flight: bucket loads + heavy keys, engine-neutral
    Query("q213_skew_audit", (s, d) => skewAudit(s, d), {
      val bkt = graft.functions.TextPrims
        .hex60S("md5(CAST(k AS VARCHAR))") + " % 32"
      s"""WITH keyed AS (SELECT o_custkey AS k, COUNT(*) AS cnt
         |  FROM orders GROUP BY o_custkey),
         |kb AS (SELECT k, cnt, CAST($bkt AS INTEGER) AS bucket FROM keyed),
         |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
         |    ORDER BY cnt DESC, k) AS rk FROM kb),
         |b AS (SELECT bucket, SUM(cnt) AS n_rows, COUNT(*) AS n_keys,
         |    MAX(CASE WHEN rk = 1 THEN k END) AS top_key,
         |    MAX(CASE WHEN rk = 1 THEN cnt END) AS top_key_n
         |  FROM rk GROUP BY bucket),
         |tot AS (SELECT SUM(n_rows) AS total FROM b)
         |SELECT bucket, CAST(n_rows AS BIGINT) AS n_rows,
         |  CAST(n_keys AS INTEGER) AS n_keys,
         |  round(CAST(n_rows AS DOUBLE) * 32 / CAST(total AS DOUBLE), 6)
         |    AS load_ratio,
         |  top_key, CAST(top_key_n AS BIGINT) AS top_key_n
         |FROM b, tot ORDER BY bucket""".stripMargin
    }),
    // stratified k-fold manifest: exact per-class balance, pure-id folds
    Query("q214_stratified_kfold", (s, d) => stratifiedKfold(s, d), {
      val h = graft.functions.TextPrims
        .hex60S("md5(CAST(vec_id AS VARCHAR))")
      s"""WITH r AS (SELECT label, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY label
         |      ORDER BY $h, vec_id) AS rn
         |  FROM embeddings)
         |SELECT label, CAST((rn - 1) % 5 AS INTEGER) AS fold,
         |  CAST(COUNT(*) AS INTEGER) AS n
         |FROM r GROUP BY label, (rn - 1) % 5
         |ORDER BY label, fold""".stripMargin
    }),
    // cross-table FK orphan audit over every schema edge
    Query("q218_fk_audit", (s, d) => fkAudit(s, d), {
      val edges = Seq(
        ("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey",
          "region", "r_regionkey"))
      edges.map { case (name, child, ck, parent, pk) =>
        s"""SELECT '$name' AS edge,
           |  (SELECT COUNT(*) FROM $child) AS n_child,
           |  CAST((SELECT COUNT(DISTINCT $ck) FROM $child) AS INTEGER)
           |    AS n_keys,
           |  CAST((SELECT COUNT(*) FROM $child WHERE $ck IS NULL)
           |    AS INTEGER) AS n_null_keys,
           |  CAST((SELECT COUNT(*) FROM $child c
           |    WHERE c.$ck IS NOT NULL AND NOT EXISTS
           |      (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck))
           |    AS INTEGER) AS n_orphans""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY edge"
    }),
    // scaler fit card: mean/std/median/IQR per column — the serving contract
    Query("q223_scaler_fit", (s, d) => scalerFitCard(s, d), {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS "column", CAST(COUNT(*) AS INTEGER) AS n,
           |  CAST(SUM(CAST(vq AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*)
           |    / 1000000.0 AS mean,
           |  SQRT((CAST(SUM(CAST(vq AS DECIMAL(38,0)) * vq) AS DOUBLE)
           |    - (CAST(SUM(CAST(vq AS DECIMAL(38,0))) AS DOUBLE)
           |        / COUNT(*))
           |      * (CAST(SUM(CAST(vq AS DECIMAL(38,0))) AS DOUBLE)
           |        / COUNT(*)) * COUNT(*))
           |    / (COUNT(*) - 1)) / 1000000.0 AS std,
           |  quantile_cont(vq, 0.5) / 1000000.0 AS median,
           |  (quantile_cont(vq, 0.75) - quantile_cont(vq, 0.25))
           |    / 1000000.0 AS iqr
           |FROM (SELECT CAST(CAST($c AS DECIMAL(18,6)) * 1000000
           |  AS BIGINT) AS vq FROM lineitem)""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY \"column\""
    }),
    // 5%-trimmed robust mean per group, exact rank cuts
    Query("q224_trimmed_mean", (s, d) => trimmedMean(s, d),
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vq
        |  FROM events),
        |r AS (SELECT event_type, vq,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY vq, event_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |kept AS (SELECT event_type, vq FROM r
        |  WHERE rk > CAST(FLOOR(n * 0.05) AS BIGINT)
        |    AND rk <= n - CAST(FLOOR(n * 0.05) AS BIGINT))
        |SELECT event_type, CAST(COUNT(*) AS INTEGER) AS n_kept,
        |  CAST(SUM(CAST(vq AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*)
        |    / 1000000.0 AS trimmed_mean,
        |  MIN(vq) / 1000000.0 AS kept_min,
        |  MAX(vq) / 1000000.0 AS kept_max
        |FROM kept GROUP BY event_type ORDER BY event_type""".stripMargin),
    // all-pairs KS + Benjamini-Hochberg FDR at q=0.05
    Query("q251_ks_fdr", (s, d) => ksFdr(s, d),
      s"""WITH e AS (SELECT event_type,
         |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vq
         |  FROM events),
         |pv AS (SELECT event_type, vq, COUNT(*) AS n
         |  FROM e GROUP BY event_type, vq),
         |vals AS (SELECT DISTINCT vq FROM pv),
         |types AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS ntot
         |  FROM pv GROUP BY event_type),
         |grid AS (SELECT t.event_type, t.ntot, v.vq,
         |    COALESCE(pv.n, 0) AS n
         |  FROM types t CROSS JOIN vals v
         |  LEFT JOIN pv ON pv.event_type = t.event_type AND pv.vq = v.vq),
         |cum AS (SELECT event_type, ntot, vq,
         |    SUM(n) OVER (PARTITION BY event_type ORDER BY vq
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |  FROM grid),
         |f AS (SELECT event_type, ntot, vq,
         |    CAST(c AS DOUBLE) / ntot AS fv
         |  FROM cum),
         |d AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    a.ntot AS na, b.ntot AS nb, MAX(ABS(a.fv - b.fv)) AS d
         |  FROM f a JOIN f b ON a.vq = b.vq AND a.event_type < b.event_type
         |  GROUP BY 1, 2, 3, 4),
         |$ksTailSql""".stripMargin),
    // q251's 100-TB twin: KS on pooled percentile-boundary support
    Query("q263_ks_fdr_binned", (s, d) => ksFdrBinned(s, d), {
      val bins = 16
      val qs = (1 until bins).map(i => i.toDouble / bins)
      s"""WITH e AS (SELECT event_type,
         |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vq
         |  FROM events),
         |pv AS (SELECT event_type, vq, COUNT(*) AS n
         |  FROM e GROUP BY event_type, vq),
         |bnd AS (SELECT quantile_cont(vq, [${qs.mkString(", ")}]) AS bnd
         |  FROM e),
         |binned AS (SELECT event_type,
         |    CAST(len(list_filter(bnd.bnd,
         |      b -> CAST(vq AS DOUBLE) > b)) AS INTEGER) AS bin,
         |    CAST(SUM(n) AS BIGINT) AS n
         |  FROM pv CROSS JOIN bnd GROUP BY 1, 2),
         |types AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS ntot
         |  FROM pv GROUP BY event_type),
         |ids AS (SELECT unnest(generate_series(0, ${bins - 1})) AS bin),
         |grid AS (SELECT t.event_type, t.ntot, i.bin,
         |    COALESCE(b.n, 0) AS n
         |  FROM types t CROSS JOIN ids i
         |  LEFT JOIN binned b
         |    ON b.event_type = t.event_type AND b.bin = i.bin),
         |cum AS (SELECT event_type, ntot, bin,
         |    SUM(n) OVER (PARTITION BY event_type ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |  FROM grid),
         |f AS (SELECT event_type, ntot, bin + 1 AS bix,
         |    CAST(c AS DOUBLE) / ntot AS fv
         |  FROM cum WHERE bin <= ${bins - 2}),
         |d AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    a.ntot AS na, b.ntot AS nb, MAX(ABS(a.fv - b.fv)) AS d
         |  FROM f a JOIN f b
         |    ON a.bix = b.bix AND a.event_type < b.event_type
         |  GROUP BY 1, 2, 3, 4),
         |$ksTailSql""".stripMargin
    }),
    // pre-shuffle skew audit: top-key shares + normalized key entropy
    Query("q290_key_skew_audit", (s, d) => keySkewAudit(s, d),
      q290OracleS),
    // pairwise binned 1-Wasserstein on per-source quality: q263's
    // integral twin — total transport, not just the worst ECDF gap
    // q303: q263's grid machinery on (source, quality); gaps round to
    // 9 dp at the row and sum as DECIMAL(18,9) — order-independent
    Query("q303_w1_binned", (s, d) => w1Binned(s, d), {
      val bins = 16
      val qs = (1 until bins).map(i => i.toDouble / bins)
      val qexpr = graft.text.TextOps.qualityScoreExprS
      val mcols = graft.text.TextOps.qualityMeasureColsS
      s"""WITH e AS (SELECT source,
         |    CAST(CAST($qexpr AS DECIMAL(18,6)) * 1000000 AS BIGINT)
         |      AS vq
         |  FROM (SELECT source, text,
         |      $mcols
         |    FROM (SELECT source, text,
         |        ${graft.functions.TextPrims.tokensS("text")} AS t
         |      FROM documents))),
         |pv AS (SELECT source, vq, COUNT(*) AS n
         |  FROM e GROUP BY source, vq),
         |bnd AS (SELECT quantile_cont(vq, [${qs.mkString(", ")}]) AS bnd
         |  FROM e),
         |binned AS (SELECT source,
         |    CAST(len(list_filter(bnd.bnd,
         |      b -> CAST(vq AS DOUBLE) > b)) AS INTEGER) AS bin,
         |    CAST(SUM(n) AS BIGINT) AS n
         |  FROM pv CROSS JOIN bnd GROUP BY 1, 2),
         |srcs AS (SELECT source, CAST(SUM(n) AS BIGINT) AS ntot
         |  FROM pv GROUP BY source),
         |ids AS (SELECT unnest(generate_series(0, ${bins - 1})) AS bin),
         |grid AS (SELECT t.source, t.ntot, i.bin, COALESCE(b.n, 0) AS n
         |  FROM srcs t CROSS JOIN ids i
         |  LEFT JOIN binned b ON b.source = t.source AND b.bin = i.bin),
         |cum AS (SELECT source, ntot, bin,
         |    SUM(n) OVER (PARTITION BY source ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |  FROM grid),
         |f AS (SELECT source, ntot, bin + 1 AS bix,
         |    CAST(c AS DOUBLE) / ntot AS fv
         |  FROM cum WHERE bin <= ${bins - 2})
         |SELECT a.source AS src_a, b.source AS src_b,
         |  a.ntot AS n_a, b.ntot AS n_b,
         |  CAST(SUM(CAST(round(ABS(a.fv - b.fv), 9) AS DECIMAL(18,9)))
         |    AS DOUBLE) AS w1_bins,
         |  MAX(round(ABS(a.fv - b.fv), 9)) AS max_gap
         |FROM f a JOIN f b
         |  ON a.bix = b.bix AND a.source < b.source
         |GROUP BY 1, 2, 3, 4
         |ORDER BY src_a, src_b""".stripMargin
    }),
    // CUPED: pre-period covariate adjustment — the experimentation
    // platform's variance-reduction primitive, one event scan
    // q326: identical moment routes + closing algebra in DuckDB
    Query("q326_cuped", (s, d) => cupedAdjust(s, d), {
      import graft.functions.TextPrims.hex60S
      s"""WITH pu AS (SELECT user_id,
         |    ${hex60S("md5(CAST(user_id AS VARCHAR))")} % 2 AS variant,
         |    CAST(SUM(CAST(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
         |      THEN value ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE) AS x,
         |    CAST(SUM(CAST(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
         |      THEN value ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE) AS y
         |  FROM events GROUP BY user_id),
         |pooled AS (SELECT COUNT(*) AS n,
         |    CAST(SUM(CAST(round(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE)
         |      AS sxy,
         |    CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE)
         |      AS sxx,
         |    CAST(SUM(CAST(round(y * y, 9) AS DECIMAL(28,9))) AS DOUBLE)
         |      AS syy
         |  FROM pu),
         |pv AS (SELECT variant, COUNT(*) AS n_users,
         |    CAST(SUM(CAST(round(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxv,
         |    CAST(SUM(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS syv
         |  FROM pu GROUP BY variant)
         |SELECT pv.variant, pv.n_users,
         |  round(pv.syv / pv.n_users, 6) AS mean_y_raw,
         |  round(pv.syv / pv.n_users -
         |    ((CAST(p.n AS DOUBLE) * p.sxy - p.sx * p.sy) /
         |     (CAST(p.n AS DOUBLE) * p.sxx - p.sx * p.sx)) *
         |    (pv.sxv / pv.n_users - p.sx / CAST(p.n AS DOUBLE)), 6)
         |    AS mean_y_cuped,
         |  round((CAST(p.n AS DOUBLE) * p.sxy - p.sx * p.sy) /
         |    (CAST(p.n AS DOUBLE) * p.sxx - p.sx * p.sx), 6) AS theta,
         |  round((CAST(p.n AS DOUBLE) * p.sxy - p.sx * p.sy) *
         |    (CAST(p.n AS DOUBLE) * p.sxy - p.sx * p.sy) /
         |    ((CAST(p.n AS DOUBLE) * p.sxx - p.sx * p.sx) *
         |     (CAST(p.n AS DOUBLE) * p.syy - p.sy * p.sy)), 6)
         |    AS var_reduction
         |FROM pv CROSS JOIN pooled p
         |ORDER BY pv.variant""".stripMargin
    }),
    // sweep-line peak concurrency per day: netted deltas, day-clipped
    // segments so every window stays partitioned
    // q329: identical clip + netted-delta sweep in DuckDB (q50's session
    // CTE prefix verbatim)
    Query("q329_peak_concurrency", (s, d) => peakConcurrency(s, d),
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(CAST(ts AS TIMESTAMP))
        |        - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 7200000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_idx
        |  FROM g),
        |sess AS (SELECT user_id, session_idx,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS s_us,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS e_us
        |  FROM s GROUP BY user_id, session_idx),
        |segs AS (SELECT u AS day,
        |    greatest(s_us, u * 86400000000) AS a,
        |    least(e_us, (u + 1) * 86400000000 - 1) AS b
        |  FROM sess, unnest(generate_series(s_us // 86400000000,
        |    e_us // 86400000000)) AS t(u)),
        |del AS (SELECT day, us, SUM(d) AS net FROM (
        |    SELECT day, a AS us, 1 AS d FROM segs
        |    UNION ALL SELECT day, b + 1, -1 FROM segs)
        |  GROUP BY day, us),
        |run AS (SELECT day, us, SUM(net) OVER (PARTITION BY day ORDER BY us
        |    ROWS UNBOUNDED PRECEDING) AS conc FROM del),
        |mx AS (SELECT day, us, conc,
        |    MAX(conc) OVER (PARTITION BY day) AS m FROM run)
        |SELECT DATE '1970-01-01' + CAST(day AS INTEGER) AS day_date,
        |  CAST(MAX(conc) AS INTEGER) AS peak,
        |  CAST(MIN(CASE WHEN conc = m THEN us END) AS BIGINT) AS peak_at_us
        |FROM mx GROUP BY day ORDER BY day_date""".stripMargin),
    // exact distinct via Spark's bitmap aggregate family — mergeable
    // partial state, oracle = COUNT(DISTINCT)
    // q340: the oracle is plain COUNT(DISTINCT) — the bitmap route must
    // be EXACT, bucket plumbing and popcounts included
    Query("q340_bitmap_distinct", bitmapDistinct _,
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |    AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // autocorrelation of the hourly volume series, lags 1..3
    // q342: identical hourly collapse, per-lag lead pairing, and
    // fixed-order Pearson closing algebra on exact integer sums
    Query("q342_acf_hourly", (s, d) => acfHourly(s, d), {
      val lagSel = (1 to 3).map { k =>
        s"""l$k AS (SELECT event_type, $k AS lag, x,
           |  lead(x, $k) OVER (PARTITION BY event_type ORDER BY hour) AS y
           |  FROM hourly)""".stripMargin
      }.mkString(",\n")
      s"""WITH hourly AS (
         |  SELECT event_type,
         |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
         |    COUNT(*) AS x
         |  FROM events GROUP BY 1, 2),
         |$lagSel,
         |u AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2
         |  UNION ALL SELECT * FROM l3),
         |m AS (SELECT event_type, lag, COUNT(*) AS n,
         |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         |    CAST(SUM(x*y) AS DOUBLE) AS sxy,
         |    CAST(SUM(x*x) AS DOUBLE) AS sxx,
         |    CAST(SUM(y*y) AS DOUBLE) AS syy
         |  FROM u WHERE y IS NOT NULL GROUP BY event_type, lag)
         |SELECT event_type, lag, CAST(n AS INTEGER) AS n_pairs,
         |  round((CAST(n AS DOUBLE) * sxy - sx * sy)
         |    / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
         |         * (CAST(n AS DOUBLE) * syy - sy * sy)), 9) AS acf
         |FROM m ORDER BY event_type, lag""".stripMargin
    }),
    // Spearman rank correlation with textbook tie handling
    // q344: identical doubled fractional ranks (2·min-rank + ties − 1,
    // integer-exact), DECIMAL(38,0) moment sums, fixed-order closing
    Query("q344_spearman", spearmanCorr _,
      """WITH r AS (
        |  SELECT l_returnflag,
        |    2*rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        |      + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity)
        |      - 1 AS rx,
        |    2*rank() OVER (PARTITION BY l_returnflag
        |        ORDER BY l_extendedprice)
        |      + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
        |      - 1 AS ry
        |  FROM lineitem),
        |m AS (SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(rx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(ry AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(rx AS DECIMAL(38,0)) * CAST(ry AS DECIMAL(38,0)))
        |      AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(rx AS DECIMAL(38,0)) * CAST(rx AS DECIMAL(38,0)))
        |      AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(ry AS DECIMAL(38,0)) * CAST(ry AS DECIMAL(38,0)))
        |      AS DOUBLE) AS syy
        |  FROM r GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS INTEGER) AS n_rows,
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
        |     * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 9)
        |    AS spearman_rho
        |FROM m ORDER BY l_returnflag""".stripMargin),
    // try_cast safe-parse ingestion audit over deterministic mess
    // q345: the same deterministic mess through DuckDB's TRY_CAST —
    // agreement certifies trim/empty/sentinel/exponent semantics. The
    // engines' double→string renderings may differ in style, but both
    // round-trip to the identical double, which is all the sum sees.
    Query("q345_try_cast", tryCastAudit _,
      """WITH b AS (
        |  SELECT o_orderkey % 5 AS cls,
        |    CASE o_orderkey % 5
        |      WHEN 0 THEN CAST(o_totalprice AS VARCHAR)
        |      WHEN 1 THEN '  ' || CAST(o_totalprice AS VARCHAR) || '  '
        |      WHEN 2 THEN 'N/A'
        |      WHEN 3 THEN ''
        |      ELSE CAST(o_orderkey % 97 AS VARCHAR) || 'e2'
        |    END AS raw
        |  FROM orders),
        |p AS (SELECT cls, TRY_CAST(raw AS DOUBLE) AS v FROM b)
        |SELECT CAST(cls AS INTEGER) AS cls,
        |  CAST(COUNT(*) AS INTEGER) AS n,
        |  CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
        |    AS n_parsed,
        |  CAST(SUM(CAST(COALESCE(v, 0.0) AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_parsed
        |FROM p GROUP BY cls ORDER BY cls""".stripMargin),
    // ISO-SQL listagg WITHIN GROUP (Spark 4) vs DuckDB string_agg
    // q346: DuckDB spells WITHIN GROUP as string_agg(… ORDER BY …);
    // byte-identical rosters certify the ordered concatenation
    Query("q346_listagg", listaggSuppliers _,
      """SELECT n_name, CAST(COUNT(*) AS INTEGER) AS n_suppliers,
        |  string_agg(s_name, ',' ORDER BY s_name) AS roster
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    // ordered three-step conversion funnel with exact-micros latencies
    // q348: the identical three-step conditional-min chain in DuckDB
    // (epoch_us route, integer gap sums, fixed-order closing division)
    Query("q348_event_funnel", eventFunnel _,
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.us) AS t2, max(v.t1) AS t1
        |  FROM ev e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.us > v.t1
        |  GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.us) AS t3, max(c.t2) AS t2
        |  FROM ev e JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > c.t2
        |  GROUP BY e.user_id),
        |s1 AS (SELECT 1 AS step, 'view' AS event,
        |    CAST(COUNT(*) AS INTEGER) AS n_users, CAST(0 AS BIGINT)
        |    AS gap_us FROM v),
        |s2 AS (SELECT 2, 'click_after_view', CAST(COUNT(*) AS INTEGER),
        |    CAST(COALESCE(SUM(t2 - t1), 0) AS BIGINT) FROM c),
        |s3 AS (SELECT 3, 'purchase_after_click',
        |    CAST(COUNT(*) AS INTEGER),
        |    CAST(COALESCE(SUM(t3 - t2), 0) AS BIGINT) FROM p),
        |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |  UNION ALL SELECT * FROM s3)
        |SELECT step, event, n_users,
        |  round(CAST(gap_us AS DOUBLE)
        |    / CAST(greatest(n_users, 1) AS DOUBLE) / 1e6, 6)
        |    AS avg_gap_sec
        |FROM u ORDER BY step""".stripMargin),
    // runtime bloom-filter join pruning (InjectRuntimeFilter)
    // q343: the honest join — the runtime bloom filter may only prune
    // rows the join would drop anyway
    Query("q343_runtime_filter", runtimeFilterJoin _,
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // LOCF gap fill over a dense calendar spine, per-day census
    // q351: the identical spine + IGNORE-NULLS carry in DuckDB
    Query("q351_locf_gapfill", locfGapFill _,
      """WITH daily AS (SELECT user_id,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
        |spine AS (SELECT u.user_id, d.day
        |  FROM (SELECT DISTINCT user_id FROM daily) u
        |  CROSS JOIN (SELECT CAST(unnest(generate_series(CAST(lo AS
        |      TIMESTAMP), CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE)
        |      AS day FROM b) d),
        |f AS (SELECT s.user_id, s.day, daily.v,
        |    last_value(daily.v IGNORE NULLS) OVER (
        |      PARTITION BY s.user_id ORDER BY s.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |  FROM spine s LEFT JOIN daily
        |    ON daily.user_id = s.user_id AND daily.day = s.day)
        |SELECT day,
        |  CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
        |    AS n_observed,
        |  CAST(SUM(CASE WHEN v IS NULL AND filled IS NOT NULL THEN 1
        |    ELSE 0 END) AS INTEGER) AS n_carried,
        |  CAST(SUM(CASE WHEN filled IS NULL THEN 1 ELSE 0 END) AS INTEGER)
        |    AS n_empty,
        |  CAST(SUM(CAST(COALESCE(filled, 0.0) AS DECIMAL(18,4)))
        |    AS DOUBLE) AS sum_filled
        |FROM f GROUP BY day ORDER BY day""".stripMargin),
    // 25-row dimension as a map literal: no join operator in the plan
    // q352: the honest join the map literal replaces (q79's rollup)
    Query("q352_map_lookup", mapLookupDimension _,
      """SELECT n_name,
        |  CAST(count(*) AS INTEGER) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    // materialized-view delta merge vs from-scratch recompute
    // q354: the from-scratch recompute the incremental merge must equal
    Query("q354_incremental_view", incrementalViewMaintenance _,
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),
    // 2-D skyline: collapse + strictly-greater prefix-min window
    // q356: identical collapse + strictly-greater prefix-min skyline
    Query("q356_pareto_frontier", paretoFrontier _,
      """WITH g AS (SELECT l_returnflag, l_quantity,
        |    min(l_extendedprice) AS min_price, COUNT(*) AS n_at_qty
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (SELECT *, min(min_price) OVER (PARTITION BY l_returnflag
        |    ORDER BY l_quantity DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS best_higher FROM g)
        |SELECT l_returnflag, l_quantity, min_price,
        |  CAST(n_at_qty AS INTEGER) AS n_at_qty
        |FROM w WHERE best_higher IS NULL OR min_price < best_higher
        |ORDER BY l_returnflag, l_quantity DESC""".stripMargin),
    // GDPR crypto-shredding: per-user keys, erase = drop key row,
    // audit via try_aes_decrypt; decrypted sums must match the oracle
    // q358: the erasure predicate in the clear — readable rows are
    // exactly the non-shredded users', and their values sum identically
    Query("q358_crypto_shred", cryptoShred _,
      """SELECT event_type, CAST(COUNT(*) AS INTEGER) AS n,
        |  CAST(SUM(CASE WHEN user_id % 7 <> 0 THEN 1 ELSE 0 END)
        |    AS INTEGER) AS n_readable,
        |  CAST(SUM(CAST(CASE WHEN user_id % 7 <> 0 THEN value
        |    ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) AS sum_readable
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // exact rolling 24h distinct users via mergeable hourly bitmaps
    // q359: brute-force per-window re-scan — the mergeable bitmap route
    // must be EXACTLY this
    Query("q359_sliding_distinct", slidingDistinct _,
      """WITH hrs AS (SELECT DISTINCT
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h FROM events),
        |w AS (SELECT hrs.h, e.user_id FROM hrs JOIN events e
        |  ON date_trunc('hour', CAST(e.ts AS TIMESTAMP)) <= hrs.h
        | AND date_trunc('hour', CAST(e.ts AS TIMESTAMP))
        |     > hrs.h - INTERVAL 24 HOURS)
        |SELECT h AS hour, CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |    AS n_users
        |FROM w GROUP BY h ORDER BY h""".stripMargin),
    // TPC-H Q5: the 6-table star join, facts shuffle, dims broadcast
    // q360: TPC-H Q5 verbatim (date bounds as timestamps, 9-dp row
    // rounding into DECIMAL(28,9) for the revenue sum)
    Query("q360_tpch_q5", tpchQ5 _,
      """SELECT n_name, CAST(COUNT(*) AS INTEGER) AS n_items,
        |  CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount), 9)
        |    AS DECIMAL(28,9))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin),
    // time-weighted average: piecewise-constant hold, exact decimal×us
    // q362: identical lead pairing, DECIMAL(18,4)×BIGINT products,
    // 9-dp close, decile rollup
    Query("q362_twap", twapByUser _,
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(value AS DECIMAL(18,4)) AS v FROM events),
        |st AS (SELECT user_id, v,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      - us AS dt
        |  FROM e),
        |pu AS (SELECT user_id,
        |    round(CAST(SUM(v * dt) AS DOUBLE)
        |      / CAST(SUM(dt) AS DOUBLE), 9) AS twa
        |  FROM st WHERE dt IS NOT NULL GROUP BY user_id)
        |SELECT user_id % 10 AS decile,
        |  CAST(COUNT(*) AS INTEGER) AS n_users,
        |  CAST(SUM(CAST(round(twa, 9) AS DECIMAL(28,9))) AS DOUBLE)
        |    AS sum_twa
        |FROM pu GROUP BY decile ORDER BY decile""".stripMargin),
    // order-independent result certificate: count + xor + modular sum
    // q365: same integer-rendition row keys, same three reducers
    Query("q365_result_fingerprint", resultFingerprint _, {
      val hS = graft.functions.TextPrims.hex60S(
        "md5(CAST(l_orderkey AS VARCHAR) || '|' || " +
          "CAST(l_linenumber AS VARCHAR) || '|' || " +
          "CAST(CAST(round(l_quantity * 10000) AS BIGINT) AS VARCHAR) " +
          "|| '|' || l_returnflag)")
      s"""WITH h AS (SELECT $hS AS h FROM lineitem)
         |SELECT COUNT(*) AS n_rows, bit_xor(h) AS xor_fp,
         |  CAST(CAST(SUM(CAST(h % 1000000007 AS DECIMAL(38,0)))
         |    AS HUGEINT) % 1000000007 AS BIGINT) AS sum_fp
         |FROM h""".stripMargin
    }),
    // orphan-FK census across the star schema (null-safe anti joins)
    // q366: per-edge left-join census (parent keys unique, so the
    // join never multiplies); NULL keys counted apart from orphans
    Query("q366_referential_audit", referentialAudit _, {
      def edge(name: String, child: String, key: String,
               parent: String, pkey: String) =
        s"""SELECT '$name' AS edge, COUNT(*) AS n_child,
           |  CAST(SUM(CASE WHEN c.$key IS NULL THEN 1 ELSE 0 END)
           |    AS INTEGER) AS n_null_key,
           |  CAST(SUM(CASE WHEN c.$key IS NOT NULL AND p.$pkey IS NULL
           |    THEN 1 ELSE 0 END) AS INTEGER) AS n_orphan
           |FROM $child c LEFT JOIN $parent p ON c.$key = p.$pkey""".stripMargin
      Seq(
        edge("lineitem->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        edge("orders->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        edge("customer->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        edge("supplier->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY edge")
    }),
    // in-plan calendar spine with integer calendar attributes
    // q367: generate_series spine + part extracts (DuckDB dow is
    // 0=Sunday — +1 aligns with Spark's 1=Sunday)
    Query("q367_calendar_dim", calendarDim _,
      """WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) AS lo,
        |    CAST(max(o_orderdate) AS DATE) AS hi FROM orders),
        |d AS (SELECT CAST(unnest(generate_series(
        |    CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM b)
        |SELECT day, CAST(dayofweek(day) + 1 AS INTEGER) AS dow,
        |  CAST(month(day) AS INTEGER) AS month,
        |  CAST(quarter(day) AS INTEGER) AS quarter,
        |  CAST(weekofyear(day) AS INTEGER) AS iso_week,
        |  CAST(day = last_day(day) AS INTEGER) AS is_month_end
        |FROM d ORDER BY day""".stripMargin),
    // one-pass latest-record-per-key via max_by (vs rank-window oracle)
    // q368: the rank-window detour as the oracle — the engine's
    // one-pass max_by must equal it
    Query("q368_latest_per_key", latestPerUser _,
      """WITH e AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
        |    event_type, value FROM events),
        |r AS (SELECT user_id, event_type, value, us,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_events,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY us DESC, event_id DESC) AS rk
        |  FROM e)
        |SELECT user_id, CAST(n_events AS INTEGER) AS n_events,
        |  event_type AS last_type, value AS last_value, us AS last_us
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin),
    // unionByName allowMissingColumns: by-name alignment + null fill
    // q369: explicit NULL-padded UNION ALL mirror of unionByName
    Query("q369_schema_union", schemaEvolvingUnion _,
      """WITH g1 AS (SELECT event_id, event_type,
        |    CAST(NULL AS DECIMAL(18,4)) AS value,
        |    CAST(NULL AS BIGINT) AS score, 1 AS gen
        |  FROM events WHERE event_id % 2 = 0),
        |g2 AS (SELECT event_id, event_type,
        |    CAST(value AS DECIMAL(18,4)) AS value,
        |    event_id % 100 AS score, 2 AS gen
        |  FROM events WHERE event_id % 2 = 1),
        |u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
        |SELECT gen, event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN score IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_scored,
        |  CAST(SUM(COALESCE(value, 0)) AS DOUBLE) AS sum_value
        |FROM u GROUP BY gen, event_type
        |ORDER BY gen, event_type""".stripMargin),
    // null-safe equality join: NULL keys match, still an equi hash join
    // q370: IS NOT DISTINCT FROM — the null bucket must MATCH
    Query("q370_nullsafe_join", nullSafeJoin _,
      """WITH a AS (SELECT NULLIF(o_orderkey % 97, 0) AS k, COUNT(*)
        |    AS na FROM orders GROUP BY 1),
        |b AS (SELECT NULLIF(l_orderkey % 97, 0) AS k, COUNT(*) AS nb
        |  FROM lineitem GROUP BY 1)
        |SELECT CASE WHEN a.k IS NULL THEN 'null-bucket'
        |    ELSE 'valued' END AS bucket,
        |  CAST(COUNT(*) AS INTEGER) AS n_keys,
        |  CAST(SUM(na * nb) AS BIGINT) AS n_pairs
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |GROUP BY bucket ORDER BY bucket""".stripMargin),
    // TPC-H Q7: nation joined twice, post-join direction disjunction
    // q372: TPC-H Q7 verbatim (nation aliased twice, post-join
    // direction disjunction, ship-year grouping)
    Query("q372_tpch_q7", tpchQ7 _,
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |  CAST(COUNT(*) AS INTEGER) AS n_items,
        |  CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount), 9)
        |    AS DECIMAL(28,9))) AS DOUBLE) AS revenue
        |FROM supplier
        |JOIN lineitem ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),
    // TPC-H Q8: conditional-aggregate market share in one pass
    // q373: TPC-H Q8 verbatim — CASE'd numerator over the same pass,
    // exact decimal sums divided in double at the very end
    Query("q373_tpch_q8", tpchQ8 _,
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(COUNT(*) AS INTEGER) AS n_items,
        |  round(CAST(SUM(CASE WHEN n2.n_name = 'NATION_2'
        |      THEN CAST(round(l_extendedprice * (1.0 - l_discount), 9)
        |        AS DECIMAL(28,9))
        |      ELSE CAST(0 AS DECIMAL(28,9)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount), 9)
        |        AS DECIMAL(28,9))) AS DOUBLE), 9) AS mkt_share
        |FROM part
        |JOIN lineitem ON p_partkey = l_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1
        |ORDER BY o_year""".stripMargin),
    // TPC-H Q10: early-pruned fact-fact join, global top-20
    // q374: TPC-H Q10 verbatim (quarter window, returnflag R, top 20
    // by revenue with custkey tiebreak)
    Query("q374_tpch_q10", tpchQ10 _,
      """SELECT c_custkey, c_name, n_name,
        |  CAST(COUNT(*) AS INTEGER) AS n_items,
        |  CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount), 9)
        |    AS DECIMAL(28,9))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin),
    // TPC-H Q14: promo revenue share, one conditional-agg pass
    // q375: TPC-H Q14 verbatim — one conditional aggregate pass
    Query("q375_tpch_q14", tpchQ14 _,
      """SELECT CAST(COUNT(*) AS INTEGER) AS n_items,
        |  round(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(round(l_extendedprice * (1.0 - l_discount), 9)
        |        AS DECIMAL(28,9))
        |      ELSE CAST(0 AS DECIMAL(28,9)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount), 9)
        |        AS DECIMAL(28,9))) AS DOUBLE), 9) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin),
    // TPC-H Q18: aggregate-HAVING-then-rejoin large-volume customers
    // q376: TPC-H Q18 verbatim — aggregate-HAVING before any join
    Query("q376_tpch_q18", tpchQ18 _,
      """WITH q AS (
        |  SELECT l_orderkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty_d
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 250)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(qty_d AS DOUBLE) AS total_qty
        |FROM q
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY qty_d DESC, o_orderkey
        |LIMIT 20""".stripMargin),
    // TPC-H Q19: mixed-table OR-of-ANDs disjunctive predicate
    // q377: TPC-H Q19 verbatim — the mixed-table OR-of-ANDs disjunction
    Query("q377_tpch_q19", tpchQ19 _,
      """SELECT CAST(COUNT(*) AS INTEGER) AS n_items,
        |  CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount), 9)
        |    AS DECIMAL(28,9))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    // Spark 4 VARIANT: render -> parse_json shred -> typed variant_get
    // q379: the oracle computes DIRECTLY from columns — variant render/
    // shred/extract must be lossless, so the two must agree
    Query("q379_variant_extract", variantExtract _,
      """SELECT o_orderpriority AS seg,
        |  CAST(COUNT(*) AS INTEGER) AS n,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(SUM(o_orderkey % 97) AS BIGINT) AS sum_k97,
        |  CAST(SUM(o_orderkey % 1009) AS BIGINT) AS id_fold,
        |  CAST(SUM(0) AS INTEGER) AS n_phantom
        |FROM orders GROUP BY 1 ORDER BY seg""".stripMargin),
    // mergeable histogram-quantile sketch + exact interpolated twin
    // q380: identical bin/CDF/interpolation arithmetic; exact twin via
    // quantile_cont (the q54-verified percentile mapping)
    Query("q380_hist_quantiles", (s, d) => histQuantiles(s, d), {
      def estS(q: String, alias: String) =
        s"""round(MAX(CASE WHEN cum0 < $q * n AND cum0 + c >= $q * n
           |  THEN lo + (bin + ($q * n - cum0) / c) * w END), 6)
           |  AS $alias""".stripMargin
      s"""WITH li AS (SELECT l_returnflag AS flag, l_extendedprice AS x
         |  FROM lineitem),
         |b AS (SELECT min(x) AS lo, max(x) AS hi FROM li),
         |binned AS (SELECT flag,
         |    CAST(least(floor((x - lo) / ((hi - lo) / 64)), 63)
         |      AS INTEGER) AS bin,
         |    COUNT(*) AS c, MAX((hi - lo) / 64) AS w, MAX(lo) AS lo
         |  FROM li CROSS JOIN b GROUP BY 1, 2),
         |cdf AS (SELECT flag, bin, c, w, lo,
         |    COALESCE(SUM(c) OVER (PARTITION BY flag ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum0,
         |    SUM(c) OVER (PARTITION BY flag) AS n
         |  FROM binned),
         |sk AS (SELECT flag, MAX(n) AS n,
         |    ${estS("0.5", "est_p50")},
         |    ${estS("0.9", "est_p90")},
         |    ${estS("0.99", "est_p99")}
         |  FROM cdf GROUP BY flag),
         |ex AS (SELECT flag,
         |    round(quantile_cont(x, 0.5), 6) AS exact_p50,
         |    round(quantile_cont(x, 0.9), 6) AS exact_p90,
         |    round(quantile_cont(x, 0.99), 6) AS exact_p99
         |  FROM li GROUP BY flag)
         |SELECT sk.flag, CAST(n AS INTEGER) AS n,
         |  est_p50, est_p90, est_p99, exact_p50, exact_p90, exact_p99
         |FROM sk JOIN ex ON sk.flag = ex.flag
         |ORDER BY sk.flag""".stripMargin
    }),
    // hash-deterministic bootstrap CI: 60 half-samples from one md5/row
    // q384: same one-md5-per-row bit-membership, same 60 conditional
    // decimal sums, same bounded replica-mean percentile
    Query("q384_bootstrap_ci", (s, d) => bootstrapCi(s, d), {
      val b = 60
      val h = graft.functions.TextPrims.hex60S(
        "md5(CAST(o_orderkey AS VARCHAR))")
      val sums = (0 until b).map(i =>
        s"""CAST(SUM(CASE WHEN (h >> $i) & 1 = 1
           |  THEN CAST(x AS DECIMAL(18,4)) END) AS DOUBLE) AS s$i,
           |SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE 0 END) AS c$i"""
          .stripMargin).mkString(",\n")
      val ms = (0 until b).map(i => s"s$i / c$i").mkString(", ")
      s"""WITH base AS (SELECT o_orderstatus AS flag, o_totalprice AS x,
         |    $h AS h FROM orders),
         |w AS (SELECT flag, COUNT(*) AS n,
         |    CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
         |      AS full_mean,
         |$sums
         |  FROM base GROUP BY flag),
         |m AS (SELECT flag, n, full_mean, unnest([$ms]) AS m FROM w)
         |SELECT flag, CAST(n AS INTEGER) AS n,
         |  round(full_mean, 6) AS full_mean,
         |  round(quantile_cont(m, 0.05), 6) AS boot_p05,
         |  round(quantile_cont(m, 0.95), 6) AS boot_p95
         |FROM m GROUP BY flag, n, full_mean ORDER BY flag""".stripMargin
    }),
    // robust stats: exact MAD, 3-MAD outlier census, winsorized mean
    // q385: same two-pass percentile chain (median -> MAD), same
    // branch-free winsor clip, decimal-routed sums
    Query("q385_robust_stats", robustStats _,
      """WITH b AS (SELECT o_orderstatus AS flag, o_totalprice AS x
        |  FROM orders),
        |m AS (SELECT flag, quantile_cont(x, 0.5) AS med,
        |    quantile_cont(x, 0.05) AS p05,
        |    quantile_cont(x, 0.95) AS p95
        |  FROM b GROUP BY flag),
        |d AS (SELECT b.flag, x, med, p05, p95 FROM b JOIN m USING (flag)),
        |md AS (SELECT flag, quantile_cont(abs(x - med), 0.5) AS mad
        |  FROM d GROUP BY flag)
        |SELECT d.flag, CAST(COUNT(*) AS INTEGER) AS n,
        |  round(MAX(med), 6) AS median, round(MAX(mad), 6) AS mad,
        |  CAST(SUM(CASE WHEN abs(x - med) > 3.0 * mad THEN 1 ELSE 0 END)
        |    AS INTEGER) AS n_outlier,
        |  round(CAST(SUM(CAST(greatest(least(x, p95), p05)
        |      AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS winsor_mean
        |FROM d JOIN md ON d.flag = md.flag
        |GROUP BY d.flag ORDER BY d.flag""".stripMargin),
    // integer-exact CUSUM changepoint scan over daily volumes
    // q386: same integer-scaled CUSUM (nd*cum - t*total — no fractional
    // mean ever forms), same earlier-day tie-break
    Query("q386_cusum_changepoint", cusumChangepoint _,
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    COUNT(*) AS x FROM events GROUP BY 1, 2),
        |sc AS (SELECT event_type, day, x,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
        |      AS t,
        |    SUM(x) OVER (PARTITION BY event_type ORDER BY day) AS cum,
        |    SUM(x) OVER (PARTITION BY event_type) AS total,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd
        |  FROM daily),
        |s2 AS (SELECT event_type, day,
        |    CAST(nd * cum - t * total AS BIGINT) AS sc
        |  FROM sc),
        |pick AS (SELECT event_type, day AS change_day,
        |    sc AS cusum_scaled FROM (SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY event_type ORDER BY abs(sc) DESC, day) AS rn
        |    FROM s2) WHERE rn = 1)
        |SELECT d.event_type, MAX(change_day) AS change_day,
        |  MAX(cusum_scaled) AS cusum_scaled,
        |  CAST(COUNT(*) AS INTEGER) AS n_days,
        |  round(CAST(SUM(CASE WHEN day <= change_day THEN x END)
        |      AS DOUBLE)
        |    / SUM(CASE WHEN day <= change_day THEN 1 ELSE 0 END), 6)
        |    AS mean_before,
        |  round(CAST(SUM(CASE WHEN day > change_day THEN x END)
        |      AS DOUBLE)
        |    / SUM(CASE WHEN day > change_day THEN 1 ELSE 0 END), 6)
        |    AS mean_after
        |FROM daily d JOIN pick USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin),
    // Gini concentration + top-decile share, integer-exact rank moment
    // q388: same cents-integer revenue, same DECIMAL(38,0)
    // cast-before-multiply rank moment, same floor(9n/10) decile cut
    Query("q388_gini_concentration", giniConcentration _,
      """WITH rev AS (SELECT o_custkey,
        |    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents,
        |    ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
        |    COUNT(*) OVER () AS nt
        |  FROM rev),
        |a AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0))
        |      AS tot,
        |    CAST(SUM(CAST(i AS DECIMAL(38,0))
        |      * CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS iwx,
        |    CAST(SUM(CASE WHEN i > (nt * 9) // 10
        |      THEN CAST(cents AS DECIMAL(38,0)) END) AS DECIMAL(38,0))
        |      AS top_dec
        |  FROM r)
        |SELECT CAST(n AS INTEGER) AS n_customers,
        |  round(2.0 * CAST(iwx AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
        |    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 9) AS gini,
        |  round(CAST(top_dec AS DOUBLE) / CAST(tot AS DOUBLE), 9)
        |    AS top_decile_share
        |FROM a""".stripMargin),
    // TPC-H Q21: triple-correlated EXISTS/NOT-EXISTS decorrelated to
    // one lineitem scan + two shrinking aggregates
    // q390: the GENUINELY CORRELATED Q21 form — DuckDB decorrelates
    // its own way; agreement certifies the engine's one-pass
    // aggregate rewrite, not just the arithmetic
    Query("q390_tpch_q21", tpchQ21 _,
      """SELECT s_name, CAST(COUNT(*) AS INTEGER) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |  AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_3'
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin),
    // TPC-H Q17: correlated scalar aggregate via one part-grain
    // pre-aggregate join, integer-exact threshold
    // q391: the correlated SCALAR-aggregate Q17 form, integer-exact —
    // 5·qty·COUNT < SUM over ×10⁴-scaled quantities, every factor
    // DECIMAL(38,0) before the product
    Query("q391_tpch_q17", tpchQ17 _,
      """SELECT CAST(COUNT(*) AS INTEGER) AS n_items,
        |  round(CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(18,4)))
        |    AS DOUBLE) / 7.0, 9) AS avg_yearly
        |FROM lineitem l1 JOIN part ON l1.l_partkey = p_partkey
        |WHERE p_brand = 'Brand#23' AND p_size <= 5
        |  AND CAST(5 AS DECIMAL(38,0))
        |      * CAST(CAST(round(l1.l_quantity * 10000) AS BIGINT)
        |          AS DECIMAL(38,0))
        |      * (SELECT CAST(COUNT(*) AS DECIMAL(38,0)) FROM lineitem l2
        |         WHERE l2.l_partkey = l1.l_partkey)
        |    < (SELECT SUM(CAST(CAST(round(l2.l_quantity * 10000)
        |          AS BIGINT) AS DECIMAL(38,0))) FROM lineitem l2
        |       WHERE l2.l_partkey = l1.l_partkey)""".stripMargin),
    // TPC-H Q4: EXISTS -> LEFT SEMI with mixed equi+non-equi condition
    // q392: correlated EXISTS form — DuckDB's own decorrelation vs the
    // engine's LEFT SEMI with the mixed equi+lateness condition
    Query("q392_tpch_q4", tpchQ4 _,
      """SELECT o_orderpriority, CAST(COUNT(*) AS INTEGER) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    // TPC-H Q13: left-join-then-histogram, zero-order customers kept
    // q393: Q13 verbatim — the exclusion predicate must live in the
    // JOIN clause so zero-order customers survive
    Query("q393_tpch_q13", tpchQ13 _,
      """WITH c_orders AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey
        |    AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey)
        |SELECT c_count, CAST(COUNT(*) AS INTEGER) AS custdist
        |FROM c_orders GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    // TPC-H Q16: NOT IN -> broadcast anti join + distinct census
    // q394: the NOT IN form the engine's anti join must equal
    Query("q394_tpch_q16", tpchQ16 _,
      """SELECT p_brand, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS INTEGER) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
        |  AND p_size <= 10
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin),
    // TPC-H Q22: integer-exact scalar-average threshold + anti join
    // q395: scalar-average threshold integer-exact on both sides
    // (bal_cents·n > sum_cents — no float average ever forms) +
    // correlated NOT EXISTS
    Query("q395_tpch_q22", tpchQ22 _,
      """WITH cust AS (
        |  SELECT c_custkey,
        |    CAST(c_nationkey % 5 AS INTEGER) AS cntrycode, c_acctbal,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer WHERE c_nationkey % 5 IN (0, 1, 2)),
        |a AS (SELECT CAST(SUM(CAST(bal_c AS DECIMAL(38,0)))
        |    AS DECIMAL(38,0)) AS sum_c, COUNT(*) AS n_pos
        |  FROM cust WHERE bal_c > 0)
        |SELECT cntrycode, CAST(COUNT(*) AS INTEGER) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
        |    AS totacctbal
        |FROM cust CROSS JOIN a
        |WHERE CAST(bal_c AS DECIMAL(38,0)) * CAST(n_pos AS DECIMAL(38,0))
        |    > sum_c
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderpriority = '1-URGENT')
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin),
    // TPC-H Q2: correlated MIN-equality via shrinking agg join-back
    // q396: the genuinely correlated `= (SELECT MIN …)` Q2 form over
    // the same lineitem-derived supply costs
    Query("q396_tpch_q2", tpchQ2 _,
      """WITH ps AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk,
        |    MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_c
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s_acctbal, s_name, n_name, pk AS p_partkey, cost_c
        |FROM ps
        |JOIN supplier ON sk = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN part ON pk = p_partkey
        |WHERE p_type = 'ECONOMY' AND p_size <= 15
        |  AND cost_c = (SELECT MIN(ps2.cost_c) FROM ps ps2
        |                WHERE ps2.pk = ps.pk)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),
    // TPC-H Q11: group-HAVING against a global scalar, exact fraction
    // q397: HAVING against the global scalar, integer-exact fraction
    Query("q397_tpch_q11", tpchQ11 _,
      """WITH v AS (
        |  SELECT l_partkey AS pk,
        |    SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
        |          AS DECIMAL(38,0))
        |      * CAST(CAST(round(l_quantity) AS BIGINT)
        |          AS DECIMAL(38,0))) AS value_c
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_5'
        |  GROUP BY 1)
        |SELECT pk AS p_partkey, CAST(value_c AS DOUBLE) AS value_cents
        |FROM v
        |WHERE CAST(value_c AS DECIMAL(38,0)) * 10000
        |    > (SELECT CAST(SUM(value_c) AS DECIMAL(38,0)) FROM v)
        |ORDER BY value_cents DESC, p_partkey""".stripMargin),
    // TPC-H Q15: aggregate-of-aggregate argmax on exact decimals
    // q398: the view + scalar MAX Q15 form; exact-decimal equality
    Query("q398_tpch_q15", tpchQ15 _,
      """WITH revenue AS (
        |  SELECT l_suppkey AS sk,
        |    SUM(CAST(round(l_extendedprice * (1.0 - l_discount), 9)
        |      AS DECIMAL(28,9))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE)
        |  AS total_revenue
        |FROM revenue JOIN supplier ON sk = s_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),
    // TPC-H Q20: nested-aggregate EXISTS chain -> semi-join reduction
    // q399: nested-aggregate EXISTS chain; dominance = over 2x the
    // fair share, with BOTH per-part aggregates correlated
    Query("q399_tpch_q20", tpchQ20 _,
      """WITH sq AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk,
        |    SUM(CAST(round(l_quantity) AS BIGINT)) AS sq
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'small%'
        |  GROUP BY 1, 2)
        |SELECT s_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_7'
        |  AND EXISTS (SELECT 1 FROM sq
        |    WHERE sq.sk = s_suppkey
        |      AND CAST(sq.sq AS DECIMAL(38,0)) *
        |        (SELECT CAST(COUNT(*) AS DECIMAL(38,0)) FROM sq s3
        |         WHERE s3.pk = sq.pk) >
        |        (SELECT CAST(SUM(s2.sq) AS DECIMAL(38,0)) FROM sq s2
        |         WHERE s2.pk = sq.pk) * 2)
        |ORDER BY s_name""".stripMargin),
    // chi-square + G independence test over the dense lang*source grid,
    // one corpus hash-agg then cell-grain algebra
    // q406: same dense grid, same DECIMAL(38,0) product before the
    // divide, same 9-dp contribution routing and closing algebra
    Query("q406_chi2_independence", chiSquareIndependence _,
      """WITH cells AS (SELECT lang, source, COUNT(*) AS nij
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, SUM(nij) AS ri FROM cells GROUP BY 1),
        |ct AS (SELECT source, SUM(nij) AS cj FROM cells GROUP BY 1),
        |tot AS (SELECT SUM(nij) AS n, COUNT(DISTINCT lang) AS nl,
        |    COUNT(DISTINCT source) AS ns FROM cells),
        |g AS (SELECT rt.lang, ct.source, rt.ri, ct.cj, c.nij,
        |    tot.n, tot.nl, tot.ns,
        |    CAST(CAST(rt.ri AS DECIMAL(38,0)) * CAST(ct.cj AS DECIMAL(38,0))
        |      AS DOUBLE) / CAST(tot.n AS DOUBLE) AS e,
        |    CAST(COALESCE(c.nij, 0) AS DOUBLE) AS nijd
        |  FROM rt CROSS JOIN ct CROSS JOIN tot
        |  LEFT JOIN cells c ON rt.lang = c.lang AND ct.source = c.source)
        |SELECT CAST(MAX(n) AS BIGINT) AS n_docs,
        |  CAST(MAX((nl - 1) * (ns - 1)) AS INTEGER) AS dof,
        |  round(CAST(SUM(CAST(round((nijd - e) * (nijd - e) / e, 9)
        |    AS DECIMAL(28,9))) AS DOUBLE), 6) AS chi2,
        |  round(CAST(SUM(CAST(round(CASE WHEN nij IS NOT NULL
        |      THEN 2.0 * nijd * ln(nijd / e) ELSE 0.0 END, 9)
        |    AS DECIMAL(28,9))) AS DOUBLE), 6) AS g_stat,
        |  round(sqrt(CAST(SUM(CAST(round((nijd - e) * (nijd - e) / e, 9)
        |      AS DECIMAL(28,9))) AS DOUBLE)
        |    / (CAST(MAX(n) AS DOUBLE) * CAST(MAX(LEAST(nl - 1, ns - 1))
        |        AS DOUBLE))), 6) AS cramers_v
        |FROM g""".stripMargin),
  )

  /** q50's oracle, which q234's and q264's streaming twins share. */
  lazy val sessionizeSql: String =
    """WITH g AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(CAST(ts AS TIMESTAMP))
        |        - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 7200000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
        |      AS session_idx
        |  FROM g)
        |SELECT user_id, session_idx,
        |  CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  CAST(max(ts) AS TIMESTAMP) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin
}
