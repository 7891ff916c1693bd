package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextPrims._
import graft.sources.Tables

/** Text-analysis operators over the `documents` table — the building blocks
  * of a large-scale training-data pipeline (token counting, quality scoring,
  * language ID, document fingerprinting).
  *
  * All operators are pure narrow transformations (projection + scalar
  * expressions): no shuffle except the presentation orderBy, so they scale
  * linearly with input splits at 100 TB. Everything is codegen'd built-in
  * functions — no UDFs (SURVEY.md §2.11 engine rule).
  */
object TextOps {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** q239's pattern set. Written in the REGEX INTERSECTION of Java
    * (Spark) and RE2 (DuckDB and most scanners): character classes,
    * bounded repetition, non-capturing groups, `\b`, `\d` — no
    * backreferences or lookaround, so both engines (and a production
    * RE2-based scanner) match the identical language. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email"    -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4"     -> "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b",
    "phone"    -> "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b",
    "ssn_like" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b")

  /** q239: PII SCAN — the redaction pre-flight every training-data
    * release runs (emails, IPv4 addresses, phone-shaped and
    * SSN-shaped numbers): per (source, pattern family), how many docs
    * carry at least one hit and how many hits there are in total — the
    * numbers that decide between "redact inline" and "quarantine the
    * feed". Zero hits on a clean corpus IS the desired answer; the
    * detection logic itself is unit-proven on planted fixtures
    * (TextOpsSpec) since a clean corpus can't exercise it.
    *
    * Shape at 100 TB: one corpus scan, all four patterns evaluated
    * per row inside codegen (regexp_extract_all on the same string),
    * one hash-agg on source; the tall report is a stack over the
    * per-source aggregate — |sources|×4 rows. */
  def piiScanOf(d: DataFrame): DataFrame = {
    val counted = d.select(col("source") +: PiiPatterns.map { case (nm, p) =>
      size(regexp_extract_all(col("text"), lit(p), lit(0))).as(s"c_$nm")
    }: _*)
    val aggs = PiiPatterns.flatMap { case (nm, _) => Seq(
      count(when(col(s"c_$nm") > 0, lit(1))).cast(IntegerType)
        .as(s"d_$nm"),
      sum(col(s"c_$nm")).cast(IntegerType).as(s"h_$nm")) }
    val stackArgs = PiiPatterns
      .map { case (nm, _) => s"'$nm', d_$nm, h_$nm" }.mkString(", ")
    counted.groupBy("source").agg(aggs.head, aggs.tail: _*)
      .selectExpr("source",
        s"stack(${PiiPatterns.length}, $stackArgs) " +
          "AS (pii_type, n_docs_hit, n_hits)")
      .orderBy("source", "pii_type")
  }

  def piiScan(s: SparkSession, dir: String): DataFrame =
    piiScanOf(docs(s, dir).select("source", "text"))

  /** q241: SEQUENCE-PACKING EFFICIENCY — the training-prep step that
    * turns documents into fixed-budget training sequences: within each
    * source, docs pack NEXT-FIT in doc_id order (the streaming-friendly
    * policy a sharded packer actually runs — no lookahead, no
    * reordering) into `budget`-token bins; a doc that doesn't fit
    * starts a new sequence, and an over-budget doc occupies its own
    * (overflowing) sequence. Reports, per source: docs, sequences,
    * over-budget docs, total BPE tokens, and utilization
    * total/(n_seqs·budget) — the padding-waste number that decides
    * budget and shard policy.
    *
    * The per-source fold is genuinely sequential (each bin boundary
    * depends on every earlier one — the capped-running-total recursion
    * no window frame expresses), so this is one of the few typed
    * `mapPartitions` sites (SURVEY §2.11 policy: imperative logic only
    * where it IS the semantics). Spark does the ordering — repartition
    * on source + sortWithinPartitions(source, doc_id) is a spill-safe
    * distributed sort — and the fold then streams each partition's
    * iterator ONCE with O(1) state (five counters + one lookahead row),
    * emitting at group boundaries. No group is ever materialized: a
    * 100 TB source packs in constant executor memory. (groupByKey +
    * mapGroups can't do this — its generated key column hides the
    * source ordering, forcing `it.toSeq.sortBy` buffering.) Sources
    * pack independently — the parallelism axis at 100 TB is the
    * source/shard key. Oracle: the identical recursion as a DuckDB
    * RECURSIVE CTE (the q194 pattern, batch-side). */
  def seqPacking(s: SparkSession, dir: String,
                 budget: Int = 2048): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val spark = s
    import spark.implicits._
    val toks = docs(s, dir).select(col("source"), col("doc_id"),
      bpeTokensC(col("text")).as("toks"))
      .repartition(col("source"))
      .sortWithinPartitions("source", "doc_id")
      .as[(String, Long, Int)]
    val packed = toks.mapPartitions { it =>
      new Iterator[(String, Long, Long, Long, Long)] {
        private var pending: (String, Long, Int) =
          if (it.hasNext) it.next() else null
        def hasNext: Boolean = pending != null
        def next(): (String, Long, Long, Long, Long) = {
          val src = pending._1
          var nDocs = 0L
          var fill = 0L
          var seqs = 0L
          var total = 0L
          var overflow = 0L
          var cur = pending
          while (cur != null && cur._1 == src) {
            val t = cur._3
            nDocs += 1
            total += t
            if (t > budget) overflow += 1
            if (seqs == 0L || fill + t > budget) {
              seqs += 1; fill = t.toLong
            } else fill += t
            cur = if (it.hasNext) it.next() else null
          }
          pending = cur
          (src, nDocs, seqs, overflow, total)
        }
      }
    }.toDF("source", "n_docs", "n_seqs", "n_overflow", "total_tokens")
    packed.select(col("source"),
        col("n_docs").cast(IntegerType).as("n_docs"),
        col("n_seqs").cast(IntegerType).as("n_seqs"),
        col("n_overflow").cast(IntegerType).as("n_overflow"),
        col("total_tokens").cast(IntegerType).as("total_tokens"),
        round(col("total_tokens").cast(DoubleType) /
          (col("n_seqs") * budget), 6).as("utilization"))
      .orderBy("source")
  }

  /** q242: CURATION FUNNEL — the whole release pipeline as ONE query
    * with per-stage accounting: corpus → q23 quality gate → exact-dedup
    * canonical keep → PII-clean gate (q240's redaction is a no-op on
    * the kept text) → token-length band. Each row is (stage, docs,
    * BPE tokens) — the attrition report every curation run publishes,
    * and the end-to-end proof that the individually-verified stages
    * COMPOSE (shared column exprs: qualityScoreC, redactC, bpeTokensC —
    * the stages ARE the q23/q26/q240 operators, not re-spellings).
    *
    * Shape at 100 TB: one corpus scan computes every per-doc column,
    * materialized once; the stages are filters + one hash-agg dedup
    * keep (min doc_id per content hash) + five tiny aggregates. */
  def curationFunnel(s: SparkSession, dir: String, qMin: Double = 0.5,
                     minToks: Int = 10, maxToks: Int = 5000): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"),
        qualityScoreC.as("q"), bpeTokensC(col("text")).as("toks"),
        md5(col("text")).as("h"),
        (redactC(col("text")) === col("text")).as("clean"))
      .localCheckpoint() // five stage aggregates + the keep set read it
    val s1 = base.filter(col("q") >= qMin)
    val keep = s1.groupBy("h").agg(min("doc_id").as("doc_id"))
    val s2 = s1.join(keep, Seq("h", "doc_id"), "left_semi")
    val s3 = s2.filter(col("clean"))
    val s4 = s3.filter(col("toks") >= minToks && col("toks") <= maxToks)
    def stage(nm: String, d: DataFrame) =
      d.agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        coalesce(sum(col("toks")), lit(0L)).cast(IntegerType)
          .as("n_tokens"))
        .select(lit(nm).as("stage"), col("n_docs"), col("n_tokens"))
    stage("0_corpus", base)
      .unionByName(stage("1_quality", s1))
      .unionByName(stage("2_exact_dedup", s2))
      .unionByName(stage("3_pii_clean", s3))
      .unionByName(stage("4_len_band", s4))
      .orderBy("stage")
  }

  /** q244: FILTER ABLATION MATRIX — the analysis a curation team runs
    * BEFORE committing to a filter chain: for each named quality rule,
    * (a) SOLO cost — docs/BPE tokens the rule would remove if applied
    * alone, and (b) MARGINAL cost — docs/tokens it removes on top of
    * every earlier rule in the declared order (fail_i AND pass_1..i-1).
    * Solo≫marginal means the rule is mostly redundant with its
    * predecessors; marginal≈solo means it carves an independent slice.
    * Row 0 carries the corpus denominators so every percentage is
    * derivable from the report alone.
    *
    * Rules (thresholds sit inside the fixture's measured quantile
    * range so each rule bites without zeroing the corpus):
    * 1_quality — q23 score < qMin; 2_diversity — type-token ratio
    * < minTtr (degenerate repetition); 3_stopword — stopword ratio
    * < minStop (non-prose); 4_len_band — BPE tokens outside
    * [minToks, maxToks].
    *
    * Shape at 100 TB: one corpus scan computes every per-doc signal
    * inside codegen, ONE hash-agg produces all 16 rule sums + 2
    * denominators (no per-rule passes), and the tall report is a
    * 5-row stack of that single aggregate row. All counts are integer
    * sums, so the oracle matches exactly; the predicates compare
    * 6-dp-rounded ratios on both engines (decimal rulebook). */
  def filterAblation(s: SparkSession, dir: String, qMin: Double = 0.5,
                     minTtr: Double = 0.35, minStop: Double = 0.02,
                     minToks: Int = 20, maxToks: Int = 5000): DataFrame = {
    val t = tokensC(col("text"))
    val words = size(t).cast(DoubleType)
    // ratio signals are NULL on token-free docs (q228 rule): an
    // unguarded x/0 is NaN on Spark but engine-dependent in SQL, and
    // `NOT (NaN < t)` = true while `NOT NULL` = NULL — NULL on BOTH
    // engines keeps the marginal chains in agreement.
    val per = docs(s, dir).select(
      bpeTokensC(col("text")).as("toks"),
      qualityScoreC.as("q"),
      when(size(t) > 0,
        round(size(array_distinct(t)).cast(DoubleType) / words, 6))
        .as("ttr"),
      when(size(t) > 0,
        round(countInSetC(t, Stopwords).cast(DoubleType) / words, 6))
        .as("stopr"))
    val rules: Seq[(String, Column)] = Seq(
      "1_quality"   -> (col("q") < qMin),
      "2_diversity" -> (col("ttr") < minTtr),
      "3_stopword"  -> (col("stopr") < minStop),
      "4_len_band"  -> (col("toks") < minToks || col("toks") > maxToks))
    val sums = rules.zipWithIndex.flatMap { case ((_, fail), i) =>
      val marg = rules.take(i).map(r => !r._2)
        .foldLeft(fail) { case (c, pass) => c && pass }
      Seq(
        count(when(fail, lit(1))).cast(IntegerType).as(s"ds_$i"),
        coalesce(sum(when(fail, col("toks"))), lit(0L))
          .cast(IntegerType).as(s"ts_$i"),
        count(when(marg, lit(1))).cast(IntegerType).as(s"dm_$i"),
        coalesce(sum(when(marg, col("toks"))), lit(0L))
          .cast(IntegerType).as(s"tm_$i"))
    } ++ Seq(
      count(lit(1)).cast(IntegerType).as("n_all"),
      sum(col("toks")).cast(IntegerType).as("t_all"))
    val stackArgs = (Seq("0, '0_corpus', n_all, t_all, n_all, t_all") ++
      rules.zipWithIndex.map { case ((nm, _), i) =>
        s"${i + 1}, '$nm', ds_$i, ts_$i, dm_$i, tm_$i" }).mkString(", ")
    per.agg(sums.head, sums.tail: _*)
      .selectExpr(s"stack(${rules.length + 1}, $stackArgs) AS " +
        "(rule_idx, rule, n_docs_solo, n_tokens_solo, " +
        "n_docs_marg, n_tokens_marg)")
      .selectExpr("CAST(rule_idx AS INTEGER) AS rule_idx", "rule",
        "n_docs_solo", "n_tokens_solo", "n_docs_marg", "n_tokens_marg")
      .orderBy("rule_idx")
  }

  /** The all-rules-pass predicate of [[filterAblation]]'s default
    * thresholds over a raw `documents` relation — exposed so the spec
    * can recount the survivor set independently of the stack plumbing. */
  private[graft] def survivorPredicate: Column = {
    val t = tokensC(col("text"))
    val words = size(t).cast(DoubleType)
    val toks = bpeTokensC(col("text"))
    (qualityScoreC >= 0.5) &&
      (round(size(array_distinct(t)).cast(DoubleType) / words, 6) >= 0.35) &&
      (round(countInSetC(t, Stopwords).cast(DoubleType) / words, 6) >= 0.02) &&
      (toks >= 20 && toks <= 5000)
  }

  /** q250: LEAVE-ONE-SOURCE-OUT IMPACT — the cheapest useful data
    * valuation: for every source, the corpus-level mean quality and
    * mean BPE-token length IF that source were dropped, and the delta
    * against the full-corpus mean. A source whose removal RAISES mean
    * quality is a net drag; the token delta shows whether it also
    * shifts the length profile. Exact totals-minus-source arithmetic —
    * no second corpus pass per source, which is what makes LOO viable
    * over thousands of sources at 100 TB: one scan, one source-level
    * agg, one broadcast of the 1-row totals.
    *
    * Determinism: quality quantizes to micro-units (q140's convention)
    * so sums are exact BIGINTs; the derived means stay UNROUNDED (the
    * q55 precedent — identical input doubles need no rounding to
    * hash-match, and re-rounding a mean splits at .5 boundaries). */
  /** q301's replicate count and the order-statistic ranks reported as
    * the interval (ranks 4 and 61 of 64 ≈ the 5th/95th percentile). */
  val BootReps = 64
  val BootLoRank = 4
  val BootHiRank = 61

  /** Poisson(1) CDF thresholds on the 60-bit hash plane: weight k iff
    * h ∈ [T(k-1), T(k)), capped at 5. Computed ONCE in the JVM and
    * interpolated as integer literals into both engines' plans, so no
    * cross-engine exp()/floating-CDF agreement is ever needed. */
  private lazy val BootThresholds: Array[Long] = {
    val e1 = math.exp(-1.0)
    val pmf = Array(e1, e1, e1 / 2, e1 / 6, e1 / 24)
    pmf.scanLeft(0.0)(_ + _).tail
      .map(c => (c * math.pow(2.0, 60)).toLong)
  }

  /** q301: POISSON-BOOTSTRAP CONFIDENCE INTERVALS — the eval-reporting
    * primitive: a per-source mean quality is worthless without an
    * uncertainty band, and the bootstrap is how pipelines attach one
    * without distributional assumptions. Each of [[BootReps]]
    * replicates reweights every doc by a DETERMINISTIC Poisson(1)
    * count (inverse-CDF over the seeded 60-bit hash of (replicate,
    * doc_id) — the standard streaming/distributed bootstrap, which
    * never materializes a resample); the interval is the
    * [[BootLoRank]]/[[BootHiRank]] order statistics of the replicate
    * means, ties broken by replicate index so the selection is total.
    *
    * Shape at 100 TB: ONE corpus scan exploded ×B map-side into a
    * (source, replicate) partial agg — no resampled copy of the data
    * ever exists, state is |sources|·B aggregation cells; the rank
    * selection runs on |sources|·B rows. Exactly how you bootstrap a
    * corpus you cannot copy. */
  /** q330: TOKEN-WEIGHTED QUALITY QUANTILES — the curation statistic the
    * per-DOC median (q73's filter pivot) silently misstates: training
    * consumes TOKENS, not documents, so the quality of the median token
    * (each doc weighted by its BPE token count) is the number that says
    * what the model will actually see; a long low-quality tail of big
    * docs drags the token-median far below the doc-median. Reports, per
    * source, doc count / token total, the doc-median quality, and the
    * token-weighted p25/p50/p75.
    *
    * Exactness: quality rides the fixed-point 6-dp integer route (q291's
    * qmu), weights are integer token counts, and each quantile is the
    * FIRST row whose cumulative weight clears the threshold — tested as
    * `4·cw ≥ W` / `2·cw ≥ W` / `4·cw ≥ 3·W` in pure integer arithmetic
    * (no float thresholds to disagree on), tie-broken by the (qmu,
    * doc_id) total order both engines share. `min(when(...))` picks the
    * threshold row without a second pass: past it every row qualifies
    * with a ≥ qmu.
    *
    * Shape at 100 TB: one corpus scan, one window shuffle on `source`
    * (cumulative + totals share the partition), one hash-agg. The same
    * plan as q73's per-source ranking — weighting is free. */
  def weightedQuantiles(s: SparkSession, dir: String): DataFrame = {
    val bySrc = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("qmu"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val mu6 = (c: org.apache.spark.sql.Column) =>
      round(c / 1000000.0, 6)
    docs(s, dir).select(col("source"), col("doc_id"),
        (qualityScoreC.cast(DecimalType(18, 6)) * 1000000)
          .cast(LongType).as("qmu"),
        bpeTokensC(col("text")).cast(LongType).as("w"))
      .withColumn("cw", sum("w").over(bySrc))
      .withColumn("cn", count(lit(1)).over(bySrc))
      .withColumn("tw", sum("w").over(tot))
      .withColumn("tn", count(lit(1)).over(tot))
      .groupBy("source")
      .agg(max("tn").as("n_docs"), max("tw").as("n_tokens"),
        mu6(min(when(col("cn") * 2 >= col("tn"), col("qmu"))))
          .as("q50_doc"),
        mu6(min(when(col("cw") * 4 >= col("tw"), col("qmu"))))
          .as("q25_tok"),
        mu6(min(when(col("cw") * 2 >= col("tw"), col("qmu"))))
          .as("q50_tok"),
        mu6(min(when(col("cw") * 4 >= col("tw") * 3, col("qmu"))))
          .as("q75_tok"))
      .orderBy("source")
  }

  def bootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val B = BootReps
    val per = docs(s, dir).select(col("source"), col("doc_id"),
      (qualityScoreC.cast(DecimalType(18, 6)) * 1000000)
        .cast(LongType).as("qmu"))
    val full = per.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("qmu").as("sq"))
    val h = hex60C(md5(concat(lit("bs"), col("b").cast(StringType),
      lit("#"), col("doc_id").cast(StringType))))
    val w = BootThresholds.zipWithIndex
      .foldRight(lit(5L)) { case ((t, k), els) =>
        when(h < t, k.toLong).otherwise(els) }
    val means = per
      .select(col("source"), col("doc_id"), col("qmu"),
        explode(sequence(lit(0), lit(B - 1))).as("b"))
      .withColumn("w", w)
      .groupBy("source", "b")
      .agg(sum(col("w") * col("qmu")).as("swq"), sum("w").as("sw"))
      // a zero-weight replicate has no mean; dropped identically on
      // both engines (P ≈ e^-n per source, fixture-impossible)
      .filter(col("sw") > 0)
      .select(col("source"), col("b"),
        (col("swq").cast(DoubleType) / col("sw").cast(DoubleType))
          .as("m"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("m"), col("b"))
    val ci = means.withColumn("rk", row_number().over(wr))
      .groupBy("source").agg(
        count(lit(1)).as("n_reps"),
        max(when(col("rk") === BootLoRank, col("m"))).as("lo"),
        max(when(col("rk") === BootHiRank, col("m"))).as("hi"))
    // means stay unrounded (the q55 precedent): every double below is
    // the same IEEE expression over the same exact integer sums
    full.join(ci, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_reps"),
        (col("sq").cast(DoubleType) / col("n_docs").cast(DoubleType) /
          lit(1000000.0)).as("mean_q"),
        (col("lo") / lit(1000000.0)).as("boot_lo"),
        (col("hi") / lit(1000000.0)).as("boot_hi"),
        ((col("hi") - col("lo")) / lit(1000000.0)).as("boot_spread"))
      .orderBy("source")
  }

  def looSourceImpact(s: SparkSession, dir: String): DataFrame = {
    val per = docs(s, dir).select(col("source"),
      (qualityScoreC.cast(DecimalType(18, 6)) * 1000000)
        .cast(LongType).as("qmu"),
      bpeTokensC(col("text")).cast(LongType).as("toks"))
    val bySrc = per.groupBy("source")
      .agg(count(lit(1)).as("ns"), sum("qmu").as("sq"),
        sum("toks").as("st"))
      .localCheckpoint() // read by the totals agg and the report
    val tot = bySrc.agg(sum("ns").as("n"), sum("sq").as("totq"),
      sum("st").as("tott"))
    val gq = col("totq").cast(DoubleType) / col("n") / lit(1000000.0)
    val lq = (col("totq") - col("sq")).cast(DoubleType) /
      (col("n") - col("ns")) / lit(1000000.0)
    val gt = col("tott").cast(DoubleType) / col("n")
    val lt = (col("tott") - col("st")).cast(DoubleType) /
      (col("n") - col("ns"))
    val some = col("n") > col("ns") // single-source corpus: NULL, not inf
    bySrc.crossJoin(broadcast(tot))
      .select(col("source"), col("ns").cast(IntegerType).as("n_docs"),
        gq.as("glob_mean_q"),
        when(some, lq).as("loo_mean_q"),
        when(some, lq - gq).as("delta_mean_q"),
        gt.as("glob_mean_toks"),
        when(some, lt).as("loo_mean_toks"),
        when(some, lt - gt).as("delta_mean_toks"))
      .orderBy("source")
  }

  /** q252: ISOTONIC CALIBRATION (pool-adjacent-violators) — monotone
    * calibration of the q23 quality score against a binary outcome
    * (here: "is the doc English?"), the regression step behind every
    * calibrated quality-classifier threshold. Docs rank into `bins`
    * equal-frequency score bins; the empirical positive rate per bin is
    * then isotonic-regressed via the MINIMAX CLOSED FORM
    * iso(i) = max_{j≤i} min_{k≥j} avg(rate over bins j..k) — provably
    * equal to sequential PAV (the spec re-proves it per run against a
    * classic stack implementation), but expressed as pure relational
    * algebra: prefix sums + a bins² pair join + two running extremes.
    *
    * Determinism: bin assignment is ntile over the total order
    * (6-dp score, doc_id); pooled averages are int/int doubles; min/max
    * of identical doubles. Shape: everything after binning runs on a
    * `bins`-row frame (bins³ on 20 rows is constant). The global ntile
    * is a single-partition window — exact and fine to ~10⁸ rows; the
    * 100 TB substitution is percentile BOUNDARY binning (the q205 PSI
    * pattern: one percentile agg + a broadcast boundary array), which
    * trades per-bin equal counts at score ties for a shuffle-free scan.
    * The isotonic algebra downstream is identical either way. */
  def isotonicCalibration(s: SparkSession, dir: String,
                          bins: Int = 20): DataFrame = {
    val scored = docs(s, dir).select(col("doc_id"),
      (qualityScoreC.cast(DecimalType(18, 6)) * 1000000)
        .cast(LongType).as("qmu"),
      (col("lang") === "en").cast(LongType).as("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("qmu"), col("doc_id")) // TOTAL order: ntile is stable
    val binned = scored
      .withColumn("bin", ntile(bins).over(w))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("pos").as("e"), sum("qmu").as("sq"))
    pavOf(binned)
  }

  /** q256: the 100-TB twin of q252 — identical isotonic algebra, but
    * bins come from GLOBAL percentile BOUNDARIES (one exact-percentile
    * agg over micro-unit scores + a broadcast 19-value array, the q205
    * PSI pattern) instead of a single-partition ntile window. Bin
    * populations are near-equal rather than exactly equal (score ties
    * land together), which is the correct trade at scale: no global
    * sort, no single-partition window — the binning is a shuffle-free
    * scan. Same output contract as q252. */
  def isotonicBoundary(s: SparkSession, dir: String,
                       bins: Int = 20): DataFrame = {
    val scored = docs(s, dir).select(
      (qualityScoreC.cast(DecimalType(18, 6)) * 1000000)
        .cast(LongType).as("qmu"),
      (col("lang") === "en").cast(LongType).as("pos"))
      .localCheckpoint() // boundary agg + binning pass both read it
    val qs = (1 until bins).map(i => i.toDouble / bins)
    val bnd = scored.agg(
      expr(s"percentile(qmu, array(${qs.mkString(", ")}))").as("bnd"))
    val binned = scored.crossJoin(broadcast(bnd))
      .withColumn("bin",
        (size(filter(col("bnd"), b => col("qmu").cast(DoubleType) > b)) + 1)
          .cast(IntegerType))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("pos").as("e"), sum("qmu").as("sq"))
    pavOf(binned)
  }

  /** The PAV minimax algebra over a (bin, n, e, sq) frame — shared by
    * q252 (ntile bins) and q256 (percentile-boundary bins). Bin labels
    * are RE-NUMBERED densely first: boundary binning can leave a bin
    * empty (coinciding percentiles), and the pooled-average pair
    * algebra assumes consecutive labels. */
  private def pavOf(binnedIn: DataFrame): DataFrame = {
    val s = binnedIn.sparkSession
    val binned = binnedIn
      .withColumn("bin", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("bin"))
        .cast(IntegerType))
      .localCheckpoint() // feeds prefix + report join
    val pw = org.apache.spark.sql.expressions.Window.orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    val prefix = binned
      .select(col("bin"), sum("n").over(pw).as("cn"),
        sum("e").over(pw).as("ce"))
    val zero = s.sql("SELECT 0 AS bin, CAST(0 AS BIGINT) AS cn, " +
      "CAST(0 AS BIGINT) AS ce")
    val p = prefix.unionByName(zero)
    val kk = p.select(col("bin").as("k"), col("cn").as("nk"),
      col("ce").as("ek")).filter(col("k") >= 1)
    val jj = p.select(col("bin").as("j0"), col("cn").as("nj"),
      col("ce").as("ej"))
    val avg = kk.join(jj, col("j0") < col("k"))
      .select((col("j0") + 1).as("j"), col("k"),
        ((col("ek") - col("ej")).cast(DoubleType) /
          (col("nk") - col("nj")).cast(DoubleType)).as("a"))
    val mj = avg.groupBy("j").agg(min("a").as("m"))
    val iso = mj.withColumn("iso",
      max("m").over(org.apache.spark.sql.expressions.Window.orderBy("j")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
    binned.join(iso, col("bin") === col("j"))
      .select(col("bin").cast(IntegerType).as("bin"),
        col("n").cast(IntegerType).as("n_docs"),
        col("e").cast(IntegerType).as("n_pos"),
        (col("sq").cast(DoubleType) / col("n") / lit(1000000.0))
          .as("bin_mean_q"),
        (col("e").cast(DoubleType) / col("n")).as("rate"),
        col("iso").as("iso_rate"))
      .orderBy("bin")
  }

  /** q255: BINNED THEIL–SEN — the robust twin of q228's OLS: the
    * median of pairwise slopes between per-source quantile-bin
    * centroids of (ln BPE tokens, quality). Where OLS lets one spam
    * cluster drag the fitted quality–length relationship, the slope
    * median ignores up to half the bins being corrupted — the
    * robust-regression check a curation team runs when the OLS slope
    * looks implausible.
    *
    * Binned, not all-pairs: raw Theil–Sen is O(n²) per source; the
    * `bins`-centroid variant keeps the estimator's breakdown behavior
    * at O(bins²) slopes — constant per source, any corpus size. The
    * per-source ntile runs over the (x, doc_id) TOTAL order inside a
    * source-partitioned window (the parallelism axis), centroids are
    * exact decimal means of 6-dp ln values / micro-unit qualities, and
    * the median is (min+max)/2 of the two order-statistic rows — all
    * deterministic doubles, reported unrounded (q55 rule). */
  /** The per-source (i, j, sl) slope frame — exposed so the spec can
    * recompute the median independently of the order-statistic window. */
  private[graft] def theilSenSlopes(s: SparkSession, dir: String,
                                    bins: Int = 16): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val per = docs(s, dir).select(col("source"), col("doc_id"),
        bpeTokensC(col("text")).as("toks"),
        (qualityScoreC.cast(DecimalType(18, 6)) * 1000000)
          .cast(LongType).as("ymu"))
      .filter(col("toks") > 0) // ln(0) diverges cross-engine (q228 rule)
      .withColumn("x", round(log(col("toks").cast(DoubleType)), 6))
    val w = W.partitionBy("source").orderBy(col("x"), col("doc_id"))
    val b = per.withColumn("bin", ntile(bins).over(w))
      .groupBy("source", "bin")
      .agg((sum(col("x").cast(DecimalType(18, 6))).cast(DoubleType) /
          count(lit(1))).as("xc"),
        (sum("ymu").cast(DoubleType) / count(lit(1)) / lit(1000000.0))
          .as("yc"))
      .localCheckpoint() // both sides of the pair join read it
    val p2 = b.select(col("source"), col("bin").as("j"),
      col("xc").as("x2"), col("yc").as("y2"))
    b.select(col("source"), col("bin").as("i"),
        col("xc").as("x1"), col("yc").as("y1"))
      .join(p2, Seq("source"))
      .filter(col("i") < col("j") && col("x2") =!= col("x1"))
      .select(col("source"), col("i"), col("j"),
        ((col("y2") - col("y1")) / (col("x2") - col("x1"))).as("sl"))
  }

  def theilSen(s: SparkSession, dir: String, bins: Int = 16): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ranked = theilSenSlopes(s, dir, bins)
      .withColumn("rn", row_number().over(
        W.partitionBy("source").orderBy(col("sl"), col("i"), col("j"))))
      .withColumn("ns", count(lit(1)).over(W.partitionBy("source")))
    ranked
      .filter(col("rn") === expr("(ns + 1) div 2") ||
        col("rn") === expr("ns div 2 + 1"))
      .groupBy("source")
      .agg(max(col("ns")).cast(IntegerType).as("n_slopes"),
        ((min(col("sl")) + max(col("sl"))) / 2).as("ts_slope"))
      .orderBy("source")
  }

  /** q257: COUNT-MIN SKETCH heavy hitters — frequency estimation in
    * d·w integer counters instead of a token-type table: 4 seeded
    * 60-bit md5 hash rows × 1024 buckets (the q195 Bloom hashing
    * convention), estimate = min over rows of the collided counter.
    * Reports the top-k exact tokens with their sketch estimates,
    * overcounts and relative errors — the calibration a pipeline runs
    * before trusting the sketch as its at-scale frequency oracle. The
    * CM guarantee (estimate ≥ truth, always) is spec-asserted and
    * visible in the report: `overcount` is never negative.
    *
    * Deterministic: seeded md5 buckets, integer counters — exact
    * oracle. Shape at 100 TB: the sketch builds FROM the per-type
    * count agg (weighted insert — identical counters to per-occurrence
    * insertion, one corpus scan + a 4096-key agg); the exact side here
    * is the fixture-scale ground truth the report compares against. */
  def countMinTokens(s: SparkSession, dir: String, d: Int = 4,
                     w: Int = 1024, k: Int = 20): DataFrame =
    countMinOf(docs(s, dir)
      .select(explode(tokensC(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0), d, w, k)

  /** The sketch + calibration over an arbitrary (tok) frame — exposed
    * so the spec can force collisions with a tiny width. */
  private[graft] def countMinOf(toks: DataFrame, d: Int, w: Int,
                                k: Int): DataFrame = {
    def buckets(tok: Column): Column = array((0 until d).map { j =>
      struct(lit(j).as("j"),
        pmod(hex60C(seededMd5C(j, tok)), lit(w.toLong)).as("bucket"))
    }: _*)
    val exact = toks
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // sketch build + top-k both read it
    val sketch = exact
      .select(explode(buckets(col("tok"))).as("jb"), col("cnt"))
      .groupBy(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .agg(sum("cnt").as("counter"))
    val top = exact.orderBy(col("cnt").desc, col("tok")).limit(k)
    top.select(col("tok"), col("cnt"),
        explode(buckets(col("tok"))).as("jb"))
      .select(col("tok"), col("cnt"), col("jb.j").as("j"),
        col("jb.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy("tok", "cnt")
      .agg(min("counter").as("est"))
      .select(col("tok").as("token"), col("cnt").as("n_exact"),
        col("est").as("n_est"), (col("est") - col("cnt")).as("overcount"),
        ((col("est") - col("cnt")).cast(DoubleType) / col("cnt"))
          .as("rel_err"))
      .orderBy(col("n_exact").desc, col("token"))
  }

  /** α_m · m² for m = 1024, as a shared 12-dp literal (the Benford
    * convention — no runtime transcendental). */
  private[graft] val HllAlphaM2: Double =
    BigDecimal(0.7213 / (1.0 + 1.079 / 1024) * 1024.0 * 1024.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** q259: HYPERLOGLOG FROM SCRATCH — the distinct-count sketch as
    * pure relational algebra, which makes it ORACLE-CHECKABLE (q81's
    * approx stats use Spark's internal HLL++, whose register layout is
    * opaque — that row is the suite's one sketch without an exact
    * oracle; this closes the gap). Per source, over distinct tokens:
    * 1024 registers from a 60-bit seeded md5 (register = h mod m, rank
    * = leading zeros of the remaining 50-bit field + 1, via the bin()
    * string — integer everywhere), the harmonic estimate, the
    * linear-counting small-range branch, and the relative error vs the
    * exact distinct count.
    *
    * The determinism trick: Σ 2^−Mⱼ over registers spans 50 binary
    * orders — inexact and order-dependent in a double accumulator.
    * Registers instead contribute the INTEGER 2^(50−Mⱼ) (empty → 2^50),
    * summed exactly as BIGINT; the estimate divides α·m²·2^50 by that
    * integer once. Rank ties, registers, counts: all integer.
    *
    * Shape at 100 TB: distinct-token dedup is a hash agg; registers
    * partial-aggregate onto (source × 1024) max keys map-side — the
    * classic mergeable-sketch layout, here spelled as groupBy.max. */
  def hllDistinct(s: SparkSession, dir: String, p: Int = 10): DataFrame =
    hllOf(docs(s, dir)
      .select(col("source"), explode(tokensC(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0), p)

  /** The sketch over an arbitrary (source, tok) frame — exposed so the
    * spec can drive a cardinality large enough to hit the raw harmonic
    * branch (the fixture's ~31-token vocab always linear-counts). */
  private[graft] def hllOf(toksIn: DataFrame, p: Int = 10): DataFrame = {
    val m = 1 << p
    val toks = toksIn
      .distinct()
      .localCheckpoint() // registers + exact counts both read it
    val h = hex60C(seededMd5C(0, col("tok")))
    // z == 0 (all 50 hash bits zero, ~2^-50/key) is clamped to rank 50,
    // not 51: a stored 51 would make `1 << (50 - mx)` a negative shift,
    // which wraps on the JVM and is engine-defined in SQL — merging the
    // impossible-in-practice rank into 50 keeps every register
    // contribution an exact positive BIGINT on both engines.
    val rank = when(col("z") === 0, lit(50))
      .otherwise(lit(51) - length(bin(col("z"))))
    val regs = toks
      .select(col("source"), pmod(h, lit(m.toLong)).as("idx"),
        shiftright(h, p).as("z")) // the upper 50-bit field, integer shift
      .withColumn("rank", rank)
      .groupBy("source", "idx").agg(max("rank").as("mx"))
    val sums = regs.groupBy("source")
      .agg(count(lit(1)).as("n_filled"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 50 - mx)"))
          .cast(LongType).as("isum_filled"))
      .withColumn("v0", lit(m.toLong) - col("n_filled"))
      // empty registers contribute 2^50 each, exactly
      .withColumn("isum",
        col("isum_filled") + col("v0") * lit(1L << 50))
    val raw = lit(HllAlphaM2) * lit((1L << 50).toDouble) /
      col("isum").cast(DoubleType)
    val est = when(raw <= lit(2.5 * m) && col("v0") > 0,
      lit(m.toDouble) *
        round(log(lit(m.toDouble) / col("v0").cast(DoubleType)), 6))
      .otherwise(raw)
    val exact = toks.groupBy("source")
      .agg(countDistinct("tok").as("n_exact"))
    sums.join(exact, "source")
      .select(col("source"),
        col("n_exact").cast(IntegerType).as("n_exact"),
        col("n_filled").cast(IntegerType).as("n_filled"),
        round(est, 6).as("hll_est"),
        round((est - col("n_exact").cast(DoubleType)) /
          col("n_exact").cast(DoubleType), 6).as("rel_err"))
      .orderBy("source")
  }

  /** q302: HLL SET ALGEBRA — the join-size/overlap estimator: per-source
    * HLL registers over the 3-gram shingle space, pairwise UNION by
    * register max-merge (the lattice operation executed relationally),
    * and the intersection estimated by inclusion–exclusion
    * est(A) + est(B) − est(A∪B), reported against the exact
    * intersection with its relative error. q259 proved the register
    * estimator per source; q260 proved max-merge across TIME; this
    * proves the SET algebra across sources — what a planner consults
    * before paying for a 100 TB join, and the reason HLLs (not exact
    * counts) are what metadata catalogs store per partition.
    *
    * Estimator caveat, measured not hidden: inclusion–exclusion
    * differences inherit both operands' error, so small intersections
    * can even go negative — inter_est is reported RAW (clamping would
    * hide exactly the regime a consumer must know about) next to the
    * exact answer.
    *
    * Shape at 100 TB: registers partial-aggregate map-side onto
    * (source × m) cells; pair merges touch only the ≤ |sources|·m
    * register rows, never the corpus; the exact-intersection join fans
    * out ≤ |sources|² per gram. */
  def hllIntersect(s: SparkSession, dir: String, n: Int = 3,
                   p: Int = 10): DataFrame = {
    val m = 1 << p
    // fanOut ahead of the compute-dense tokenize+shingle+md5 explode:
    // a single-split documents scan runs it in one task (no-op at
    // production split counts — the standard shingling guard)
    val sg = Tables.fanOut(docs(s, dir), "doc_id")
      .select(col("source"),
        explode(array_distinct(shinglesC(tokensC(col("text")), n)))
          .as("sh"))
      .select(col("source"), hex60C(seededMd5C(0, col("sh"))).as("h"))
      .distinct()
      .localCheckpoint() // registers + exact intersection read it
    val rank = when(col("z") === 0, lit(50))
      .otherwise(lit(51) - length(bin(col("z"))))
    val regs = sg
      .select(col("source"), pmod(col("h"), lit(m.toLong)).as("idx"),
        shiftright(col("h"), p).as("z"))
      .withColumn("rank", rank)
      .groupBy("source", "idx").agg(max("rank").as("mx"))
      .localCheckpoint() // singles + every pair merge read it
    val single = hllEstOf(m, hllRegSums(regs.groupBy("source")))
      .select(col("source"), col("e"))
    val srcs = regs.select("source").distinct().localCheckpoint()
    // BOUNDED-S CONTRACT: the pair merge below shuffles O(S²·m)
    // register rows — inherent to pairwise set algebra and fine at
    // catalog-partition source counts, but at thousands of sources the
    // merge frame outgrows the corpus scan. Guarded here; the rollup
    // regime is [[hllHierarchy]] (q310 — O(S·m) hierarchical merge).
    val nSrcs = srcs.count()
    require(nSrcs <= 64, s"hllIntersect is the bounded-S pairwise " +
      s"regime (S <= 64, got $nSrcs) — use hllHierarchy for rollups")
    val pairFrame = srcs.as("x")
      .join(broadcast(srcs.as("y")), col("x.source") < col("y.source"))
      .select(col("x.source").as("src_a"), col("y.source").as("src_b"))
    val merged = regs.join(broadcast(pairFrame),
        col("source") === col("src_a") || col("source") === col("src_b"))
      .groupBy("src_a", "src_b", "idx").agg(max("mx").as("mx"))
    val union = hllEstOf(m, hllRegSums(merged.groupBy("src_a", "src_b")))
      .select(col("src_a"), col("src_b"), col("e").as("eu"))
    val exactI = sg.as("x").join(sg.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("ni"))
    val interEst = col("ea") + col("eb") - col("eu")
    val exactD = col("n_exact_inter").cast(DoubleType)
    pairFrame
      .join(single.withColumnsRenamed(
        Map("source" -> "src_a", "e" -> "ea")), Seq("src_a"))
      .join(single.withColumnsRenamed(
        Map("source" -> "src_b", "e" -> "eb")), Seq("src_b"))
      .join(union, Seq("src_a", "src_b"))
      .join(exactI, Seq("src_a", "src_b"), "left")
      .withColumn("n_exact_inter", coalesce(col("ni"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("n_exact_inter"),
        round(col("ea"), 6).as("hll_a"),
        round(col("eb"), 6).as("hll_b"),
        round(col("eu"), 6).as("hll_union"),
        round(interEst, 6).as("inter_est"),
        round(when(col("n_exact_inter") > 0,
          (interEst - exactD) / exactD), 6).as("rel_err"))
      .orderBy("src_a", "src_b")
  }

  /** Register-sum stage of the q259 estimator over any grouping of
    * (…, mx) register rows — the shared spelling q302 (pairwise) and
    * q310 (hierarchical) both execute. */
  private def hllRegSums(
      g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    g.agg(count(lit(1)).as("n_filled"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), 50 - mx)"))
        .cast(LongType).as("isum_filled"))

  /** The q259 estimator tail over (keys…, n_filled, isum_filled) rows;
    * mirrored by [[hllEstStagesS]] on the oracle side. */
  private def hllEstOf(m: Int, withSums0: DataFrame): DataFrame = {
    val withSums = withSums0
      .withColumn("v0", lit(m.toLong) - col("n_filled"))
      .withColumn("isum",
        col("isum_filled") + col("v0") * lit(1L << 50))
    val raw = lit(HllAlphaM2) * lit((1L << 50).toDouble) /
      col("isum").cast(DoubleType)
    val est = when(raw <= lit(2.5 * m) && col("v0") > 0,
      lit(m.toDouble) *
        round(log(lit(m.toDouble) / col("v0").cast(DoubleType)), 6))
      .otherwise(raw)
    withSums.withColumn("e", est)
  }

  /** The q259 estimator tail as DuckDB CTE stages over a relation
    * `src` of (keys…, n_filled, isum_filled) — the SQL twin of
    * [[hllEstOf]], shared by the q302 and q310 oracles. */
  private def hllEstStagesS(m: Int, pre: String, src: String,
                            keys: String): String =
    s"""${pre}fl AS (SELECT $keys, n_filled,
       |    $m - n_filled AS v0,
       |    isum_filled + ($m - n_filled) *
       |      (CAST(1 AS BIGINT) << 50) AS isum
       |  FROM $src),
       |${pre}es AS (SELECT $keys, n_filled, v0,
       |    $HllAlphaM2 * CAST(CAST(1 AS BIGINT) << 50 AS DOUBLE)
       |      / CAST(isum AS DOUBLE) AS raw
       |  FROM ${pre}fl),
       |${pre}fin AS (SELECT $keys, n_filled,
       |    CASE WHEN raw <= ${2.5 * m} AND v0 > 0
       |      THEN $m.0 * round(ln($m.0 / CAST(v0 AS DOUBLE)), 6)
       |      ELSE raw END AS e
       |  FROM ${pre}es)""".stripMargin

  /** q310: HIERARCHICAL HLL ROLLUP — q302's thousands-of-sources
    * escape hatch. Pairwise set algebra shuffles O(S²·m) register
    * rows, so at catalog scale the merge frame outgrows the corpus
    * scan; the hierarchical path merges the S per-source register sets
    * into G group sketches (O(S·m) shuffle rows, register max-merge)
    * and the G group sketches into ONE global register set (O(G·m)) —
    * three lattice levels, corpus touched once. The oracle computes
    * every level's registers FLAT from the gram frame (group max over
    * raw grams, global max over all grams), so the green hash IS the
    * associativity certificate: a register lost or left stale anywhere
    * in the source→group→global rollup breaks it. Rows: one per group
    * plus a gid = −1 global row, each carrying the estimate next to
    * the exact distinct-gram count and its relative error.
    *
    * Shape at 100 TB: this is how a metadata catalog keeps
    * per-partition HLLs consultable at any rollup level — merges are
    * register-max partial aggregations that never revisit the corpus;
    * the pairwise regime (q302) stays reserved for bounded source
    * counts where per-pair overlap is the question. */
  def hllHierarchy(s: SparkSession, dir: String, n: Int = 3,
                   p: Int = 10, g: Int = 4): DataFrame = {
    val m = 1 << p
    // fanOut for the same reason as hllIntersect: the shingle explode
    // is the compute, and a single-split scan serializes it
    val sg = Tables.fanOut(docs(s, dir), "doc_id")
      .select(col("source"),
        explode(array_distinct(shinglesC(tokensC(col("text")), n)))
          .as("sh"))
      .select(col("source"), hex60C(seededMd5C(0, col("sh"))).as("h"))
      .distinct()
      .localCheckpoint() // level-1 registers + both exact counts read it
    val rank = when(col("z") === 0, lit(50))
      .otherwise(lit(51) - length(bin(col("z"))))
    val gidOf = pmod(hex60C(seededMd5C(1, col("source"))), lit(g.toLong))
      .cast(IntegerType)
    // level 1: per-source registers — O(S·m) rows, map-side partials
    val srcRegs = sg
      .select(col("source"), pmod(col("h"), lit(m.toLong)).as("idx"),
        shiftright(col("h"), p).as("z"))
      .withColumn("rank", rank)
      .groupBy("source", "idx").agg(max("rank").as("mx"))
    // level 2: G group sketches by register max-merge
    val groupRegs = srcRegs.withColumn("gid", gidOf)
      .groupBy("gid", "idx").agg(max("mx").as("mx"))
      .localCheckpoint() // group estimates + the global merge read it
    // level 3: ONE global register set from the G group sketches
    val globalRegs = groupRegs.groupBy("idx").agg(max("mx").as("mx"))
      .withColumn("gid", lit(-1))
    val srcList = sg.select("source").distinct()
    val nSrc = srcList.withColumn("gid", gidOf).groupBy("gid")
      .agg(count(lit(1)).cast(IntegerType).as("n_sources"))
      .unionByName(srcList
        .agg(count(lit(1)).cast(IntegerType).as("n_sources"))
        .withColumn("gid", lit(-1)))
    val exact = sg.withColumn("gid", gidOf).select("gid", "h").distinct()
      .groupBy("gid").agg(count(lit(1)).as("n_exact"))
      .unionByName(sg.select("h").distinct()
        .agg(count(lit(1)).as("n_exact")).withColumn("gid", lit(-1)))
    val est = hllEstOf(m, hllRegSums(groupRegs.groupBy("gid")))
      .select(col("gid"), col("n_filled"), col("e"))
      .unionByName(hllEstOf(m, hllRegSums(globalRegs.groupBy("gid")))
        .select(col("gid"), col("n_filled"), col("e")))
    est.join(broadcast(nSrc), Seq("gid"))
      .join(broadcast(exact), Seq("gid"))
      .select(col("gid"), col("n_sources"),
        col("n_filled").cast(IntegerType).as("n_filled"),
        round(col("e"), 6).as("hll_est"),
        col("n_exact"),
        round((col("e") - col("n_exact").cast(DoubleType)) /
          col("n_exact").cast(DoubleType), 6).as("rel_err"))
      .orderBy("gid")
  }

  /** The q240 redaction transform over a text Column: each pattern
    * family's hits are replaced by its `<TYPE>` tag, families applied
    * in [[PiiPatterns]] order (fixed, so overlapping matches resolve
    * identically everywhere). */
  def redactC(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (nm, p)) =>
      regexp_replace(c, p, s"<${nm.toUpperCase}>") }

  /** q240: PII REDACTION — q239's ACTION: rewrite every hit to its
    * family tag and account for the result per source: docs changed,
    * and an order-independent xor checksum of the redacted text (the
    * q139 convention — 60-bit md5 prefixes under bit_xor), which is
    * the artifact a release manifest pins. On the PII-free fixture the
    * redacted corpus equals the original — n_docs_changed 0 and the
    * checksum equal to the raw corpus checksum IS the oracle-checked
    * no-op proof; the planted-fixture spec proves the rewrite itself.
    *
    * Shape at 100 TB: one corpus scan, 4 codegen'd regexp_replaces per
    * row, one hash-agg — the map-only transform production redaction
    * is. */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val red = docs(s, dir).select(col("source"), col("text"),
      redactC(col("text")).as("redacted"))
    red.groupBy("source")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        count(when(col("redacted") =!= col("text"), lit(1)))
          .cast(IntegerType).as("n_docs_changed"),
        expr("bit_xor(CAST(conv(substring(md5(redacted), 1, 15), 16, 10) " +
          "AS BIGINT))").as("xor_redacted"),
        expr("bit_xor(CAST(conv(substring(md5(text), 1, 15), 16, 10) " +
          "AS BIGINT))").as("xor_raw"))
      .select(col("source"), col("n_docs"), col("n_docs_changed"),
        col("xor_redacted"), col("xor_raw"))
      .orderBy("source")
  }

  /** Token counting: whitespace tokens, BPE-ish regex tokens, chars,
    * distinct-token ratio (type-token ratio). */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("t", tokensC(col("text")))
      .select(
        col("doc_id"),
        size(col("t")).as("n_ws_tokens"),
        bpeTokensC(col("text")).as("n_bpe_tokens"),
        length(col("text")).as("n_chars_m"),
        round(size(array_distinct(col("t"))).cast(DoubleType) /
          size(col("t")), 6).as("ttr"))
      .orderBy("doc_id")

  /** Quality scoring: length/punctuation/stopword ratios combined into a
    * deterministic [0,1] score (rational arithmetic only — no libm
    * transcendentals, so the score is bit-stable across platforms). */
  /** The q23 scoring expressions over a raw `text` column — the single
    * source of truth for quality semantics (q23 output, q73's filter,
    * q100's composite). Zero-token/zero-char guards divide by NULL (not
    * 0) so BOTH engines agree (Spark x/0 is NULL, DuckDB is IEEE inf),
    * and the membership-determining score coalesces NULL to 0.0 (an
    * empty doc is lowest-quality, identically everywhere). */
  private def qualityExprs: Seq[(String, org.apache.spark.sql.Column)] =
    qualityExprsOf(col("text"))

  /** [[qualityExprs]] over an arbitrary text column — chunk-level
    * consumers (q225) share the exact expression tree. */
  private def qualityExprsOf(
      textCol: Column): Seq[(String, org.apache.spark.sql.Column)] = {
    val t = tokensC(textCol)
    val words = size(t).cast(DoubleType)
    val chars = length(textCol).cast(DoubleType)
    val punct = size(regexp_extract_all(textCol, lit("[.,;:!?]"), lit(0)))
      .cast(DoubleType)
    val stops = countInSetC(t, Stopwords).cast(DoubleType)
    val wordsNz = when(words > 0, words)
    val charsNz = when(chars > 0, chars)
    val score = least(words / lit(100.0), lit(1.0)) * lit(0.4) +
      (stops / wordsNz) * lit(0.4) + (lit(1.0) - punct / charsNz) * lit(0.2)
    Seq(
      "avg_token_len"  -> round(chars / wordsNz, 6),
      "punct_ratio"    -> round(punct / charsNz, 6),
      "stopword_ratio" -> round(stops / wordsNz, 6),
      "quality_score"  -> coalesce(round(score, 6), lit(0.0)))
  }

  /** The q23 quality score as a reusable column over a `text` column —
    * shared with Dedup's q162 incremental-admission composite so the
    * pipeline's filter stage IS the q23 operator, not a re-spelling. */
  private[graft] def qualityScoreC: org.apache.spark.sql.Column =
    qualityExprs.toMap.apply("quality_score")

  def qualityScore(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id") +: qualityExprs.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")

  /** q73: percentile-based corpus curation — keep documents at/above their
    * SOURCE's median quality (the C4-style filter step, applied per source
    * so one noisy crawl can't drown out a clean one). Ranking runs on the
    * 6-dp-rounded q23 score with a doc_id tie-break, so the kept set is a
    * pure function of the data; the window shuffles once on `source`. */
  def qualityFilterSummary(s: SparkSession, dir: String): DataFrame = {
    val scored = qualityScore(s, dir).select(col("doc_id"), col("quality_score"))
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(col("quality_score"), col("doc_id"))
    scored.join(src, "doc_id")
      .withColumn("pr", percent_rank().over(w))
      .groupBy("source")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        sum(when(col("pr") >= 0.5, 1).otherwise(0)).cast(IntegerType)
          .as("n_kept_above_median"))
      .orderBy("source")
  }

  /** q77: deterministic data mixing — hash-based stratified sampling with
    * per-source rates (the corpus-mixing step before training). Unlike RNG
    * `sampleBy`, membership is a pure function of doc_id (md5 buckets), so
    * the mix is reproducible across runs, engines, and partitionings, and
    * incremental re-runs keep/drop the same documents. */
  def dataMixingSummary(s: SparkSession, dir: String): DataFrame = {
    val rate = when(col("source") < "src_10", lit(70)).otherwise(lit(30))
    docs(s, dir)
      .withColumn("bucket",
        pmod(hex60C(md5(col("doc_id").cast(StringType))), lit(100L)))
      .withColumn("keep", (col("bucket") < rate).cast(IntegerType))
      .groupBy("source")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        sum("keep").cast(IntegerType).as("n_sampled"))
      .orderBy("source")
  }

  /** q133: intra-document REPETITION ratio — the Gopher/C4-family quality
    * signal the length/punct/stopword score (q23) cannot see: a document
    * that repeats the same phrases has a high duplicate-3-gram fraction
    * even when its surface statistics look clean. Per source this reports
    * the micro-averaged repetition ratio (1 − Σdistinct/Σtotal over
    * integer gram counts — ONE division, no order-dependent double sum)
    * plus the count of documents over the 0.2 filter threshold (each
    * doc's ratio is one exact integer division, so the classification is
    * deterministic). Shape: explode 3-grams map-side (duplicates KEPT —
    * they are the signal), one two-level hash agg (doc, then source). */
  def repetitionSummary(s: SparkSession, dir: String,
                        n: Int = 3, threshold: Double = 0.2): DataFrame = {
    val grams = Tables.fanOut(
        docs(s, dir).select("doc_id", "source", "text"), "doc_id")
      .select(col("doc_id"), col("source"),
        explode(shinglesC(tokensC(col("text")), n)).as("sh"))
    val perDoc = grams.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_grams"), countDistinct(col("sh")).as("n_distinct"))
      .withColumn("rep", lit(1.0) -
        col("n_distinct").cast(DoubleType) / col("n_grams").cast(DoubleType))
    perDoc.groupBy("source")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        sum("n_grams").as("total_grams"),
        sum("n_distinct").as("distinct_grams"),
        round(lit(1.0) - sum("n_distinct").cast(DoubleType) /
          sum("n_grams").cast(DoubleType), 6).as("micro_rep_ratio"),
        sum(when(col("rep") >= threshold, 1).otherwise(0))
          .cast(IntegerType).as("n_repetitive"))
      .orderBy("source")
  }

  /** q136: TOKEN-BUDGET corpus mix — the sampling step that assembles a
    * training mix from heterogeneous sources under a per-source token
    * budget: rank each source's documents by quality (q23's score, 6-dp,
    * doc_id tie-break — the kept set is a pure function of the data),
    * then keep the greedy prefix whose cumulative BPE-ish token count
    * stays within budget. One window shuffle on `source`; integer token
    * arithmetic throughout. */
  def tokenBudgetMix(s: SparkSession, dir: String,
                     budget: Long = 2000L): DataFrame = {
    val scored = docs(s, dir).select(
      col("doc_id"), col("source"),
      bpeTokensC(col("text")).cast(LongType).as("toks"),
      qualityExprs.toMap.apply("quality_score").as("q"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(col("q").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    scored.withColumn("cum_toks", sum("toks").over(w))
      .withColumn("keep", (col("cum_toks") <= budget).cast(IntegerType))
      .groupBy("source")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        sum("toks").as("total_tokens"),
        sum("keep").cast(IntegerType).as("n_kept"),
        sum(when(col("keep") === 1, col("toks")).otherwise(0L))
          .as("kept_tokens"))
      .orderBy("source")
  }

  /** q138: corpus-level BOILERPLATE detection via n-gram document
    * frequency — the CCNet/RefinedWeb-family signal the INTRA-document
    * ratio (q133) cannot see: navigation chrome, licence blurbs and
    * template headers repeat ACROSS a source's documents while looking
    * unique inside each one. A bigram is boilerplate in its source when
    * it appears in ≥ `minDfPct`% of that source's documents; each
    * document is then scored by the fraction of its gram positions
    * covered by boilerplate grams, and a document majority-covered
    * (2·covered > total) is flagged for trimming. All classification is
    * integer arithmetic (df·100 ≥ pct·n_docs; 2·covered > total) — no
    * float thresholds to diverge cross-engine; the single micro-average
    * division happens once at the end.
    *
    * Shape at 100 TB: the text is exploded ONCE — the first hash-agg
    * collapses gram positions to (doc, source, gram, multiplicity), and
    * everything downstream (document frequency, the boilerplate set,
    * per-doc coverage) derives from that progressively smaller frame, so
    * the expensive shingling never re-runs and the source table is only
    * re-touched for a column-pruned per-source doc count. The coverage
    * join is an equi-join on (source, gram) against the DF-thresholded
    * set — small by construction (a gram in ≥half the docs is rare), so
    * it broadcasts; at larger boilerplate sets AQE falls back to a
    * shuffle join on the same key. No document self-join anywhere. */
  def boilerplateSummary(s: SparkSession, dir: String,
                         n: Int = 2, minDfPct: Int = 50): DataFrame = {
    // one explode, collapsed immediately: (doc, source, gram) multiplicity
    // — materialized eagerly (localCheckpoint) because both the DF pass
    // and the coverage join read it; the collapsed frame is bounded by
    // distinct grams per doc, far below the raw position stream
    val g1 = Tables.fanOut(
        docs(s, dir).select("doc_id", "source", "text"), "doc_id")
      .select(col("doc_id"), col("source"),
        explode(shinglesC(tokensC(col("text")), n)).as("sh"))
      .groupBy("doc_id", "source", "sh")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val srcCounts = docs(s, dir).groupBy("source")
      .agg(count(lit(1)).as("n_docs_src"))
    val df = g1.groupBy("source", "sh").agg(count(lit(1)).as("df"))
    val boiler = df.join(broadcast(srcCounts), "source")
      .filter(col("df") * 100 >= col("n_docs_src") * minDfPct)
      .select("source", "sh")
    val perDoc = g1
      .join(boiler.withColumn("is_b", lit(1L)), Seq("source", "sh"), "left")
      .groupBy("doc_id", "source")
      .agg(sum("cnt").as("total_pos"),
        sum(when(col("is_b").isNotNull, col("cnt")).otherwise(0L))
          .as("boiler_pos"))
    val nBoiler = boiler.groupBy("source")
      .agg(count(lit(1)).cast(IntegerType).as("n_boiler_grams"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        sum("total_pos").as("total_positions"),
        sum("boiler_pos").as("boiler_positions"),
        round(sum("boiler_pos").cast(DoubleType) /
          sum("total_pos").cast(DoubleType), 6).as("micro_boiler_ratio"),
        sum(when(col("boiler_pos") * 2 > col("total_pos"), 1).otherwise(0))
          .cast(IntegerType).as("n_docs_flagged"))
      .join(broadcast(nBoiler), Seq("source"), "left")
      .na.fill(0, Seq("n_boiler_grams"))
      .orderBy("source")
      // materialize the |sources|-row result so g1's checkpointed blocks
      // become unreferenced (ContextCleaner frees them) instead of
      // staying pinned through the returned frame's lineage
      .localCheckpoint()
  }

  /** q140: TEMPERATURE-scaled mixture weights — the multilingual/
    * multi-source training-mix allocator (α = 0.5): sampling sources
    * proportional to n^α upweights small sources relative to raw counts
    * without letting one giant crawl dominate. Weights are sqrt(n)
    * (correctly-rounded IEEE — bit-identical in every engine), then
    * QUANTIZED to integer micro-units (floor(w·10⁶)) before
    * normalization: the weight sum is then an exact integer, and
    * share/target come from ONE double division of exact integers —
    * deterministic at any scale. The first cut normalized through a
    * DECIMAL(38,18) sum instead, and sf0.1 exposed the q112-documented
    * engine gap (DuckDB's decimal→double is int128→double then ÷10¹⁸ —
    * two roundings vs the JVM's one), which `floor` amplified into an
    * off-by-one target. Integer quantization closes that class of
    * divergence, not just the instance. One hash-agg to per-source
    * counts plus one single-partition window over the tiny frame —
    * thousands of sources at 100 TB still fit one task. */
  def temperatureMix(s: SparkSession, dir: String,
                     budget: Long = 5000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs(s, dir).groupBy("source").agg(count(lit(1)).as("n"))
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("wt", sqrt(col("n").cast(DoubleType)))
      .withColumn("wtq", floor(col("wt") * lit(1000000.0)))
      .withColumn("totq", sum("wtq").over(wAll))
      .select(col("source"), col("n").cast(IntegerType).as("n_docs"),
        round(col("wt"), 6).as("weight"),
        round(col("wtq").cast(DoubleType) / col("totq").cast(DoubleType), 6)
          .as("share"),
        floor(lit(budget.toDouble) *
          (col("wtq").cast(DoubleType) / col("totq").cast(DoubleType)))
          .as("n_target"))
      .orderBy("source")
  }

  /** q144: PPS SYSTEMATIC sampling — "sample k documents per source with
    * probability proportional to length" without any RNG: order each
    * source's docs by id, lay their token counts end-to-end, and take
    * the doc under each of k equally-spaced points on that line (the
    * classic PPS systematic design). Selection is pure integer
    * arithmetic — a doc spanning [start, end) is hit
    * ceil(end·k/T) − ceil(start·k/T) times, computed with ceil-division
    * ((x·k + T − 1) DIV T), so both engines agree bit-for-bit and the
    * per-source draw counts telescope to EXACTLY k (asserted in spec).
    * Long docs can be drawn more than once (that is PPS, not a bug);
    * n_docs_sampled counts distinct hits. One keyed window per source —
    * fully distributed, no global cumsum. */
  /** Shared q144/q145 scaffold: each source's docs laid end-to-end in id
    * order with exact token prefix sums — the "token line" both the PPS
    * sampler and the packer cut. One keyed window. */
  private def tokenLine(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs(s, dir).select(
        col("doc_id"), col("source"),
        bpeTokensC(col("text")).cast(LongType).as("toks"))
      .filter(col("toks") > 0)
      .withColumn("cum", sum("toks").over(w))
  }

  def ppsSample(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val wSrc = org.apache.spark.sql.expressions.Window.partitionBy("source")
    tokenLine(s, dir)
      .withColumn("t_src", sum("toks").over(wSrc))
      .withColumn("hits", expr(
        s"(cum * $k + t_src - 1) DIV t_src - " +
          s"((cum - toks) * $k + t_src - 1) DIV t_src"))
      .groupBy("source")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        sum("toks").as("total_toks"),
        sum("hits").as("n_draws"),
        sum(when(col("hits") > 0, 1).otherwise(0)).cast(IntegerType)
          .as("n_docs_sampled"),
        max("hits").as("max_hits"))
      .orderBy("source")
  }

  /** q145: SEQUENCE PACKING stats — the concat-and-chunk step that turns
    * a document stream into fixed-size training windows (C tokens):
    * per source, docs are laid end-to-end in id order and cut every C
    * tokens; a doc whose span crosses a cut boundary is split across two
    * windows (the attention-masking cost packing efficiency reports
    * exist to track). All integer: bin indexes are DIV C on the exact
    * token prefix sums, bin count is ceil(T/C), and the last window's
    * fill is an integer percentage. Same one-keyed-window shape as
    * [[ppsSample]]. */
  def sequencePacking(s: SparkSession, dir: String, c: Int = 512): DataFrame = {
    tokenLine(s, dir)
      .withColumn("crosses", expr(
        s"CASE WHEN (cum - toks) DIV $c <> (cum - 1) DIV $c " +
          "THEN 1 ELSE 0 END"))
      .groupBy("source")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        sum("toks").as("total_toks"),
        expr(s"(sum(toks) + ${c - 1}) DIV $c").as("n_bins"),
        sum("crosses").cast(IntegerType).as("n_boundary_docs"),
        expr(s"CAST(((sum(toks) - 1) % $c + 1) * 100 DIV $c AS INTEGER)")
          .as("last_bin_fill_pct"))
      .orderBy("source")
  }

  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Terms: Seq[String] = Seq("spark", "vector", "customer")
  val Bm25TopN = 10

  /** q74: BM25 top-N documents per query term — the retrieval scoring an
    * LLM-data pipeline uses for relevance-weighted sampling. Fully
    * relational: tf from exploded token rows, document length + corpus
    * stats from one aggregation each, per-term df broadcast; one window on
    * the (tiny) term partition ranks by the 6-dp-rounded score with a
    * doc_id tie-break (deterministic across engines — exact .5 rounding
    * boundaries don't occur for log-derived scores). */
  def bm25TopDocs(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.fanOut(docs(s, dir), "doc_id")
      .select(col("doc_id"), explode(tokensC(col("text"))).as("token"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast(DoubleType).as("n"),
      (sum("dl").cast(DoubleType) / count(lit(1))).as("avgdl"))
    val tf = tok.filter(col("token").isin(Bm25Terms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("token").agg(count(lit(1)).cast(DoubleType).as("df"))
    val idf = log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
      + lit(1.0))
    val tfD = col("tf").cast(DoubleType)
    val dlD = col("dl").cast(DoubleType)
    val score = idf * ((tfD * lit(Bm25K1 + 1.0)) /
      (tfD + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * dlD / col("avgdl"))))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("token")
      .orderBy(round(score, 6).desc, col("doc_id"))
    tf.join(dl, "doc_id")
      .join(broadcast(dfc), "token")
      .crossJoin(broadcast(stats))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= Bm25TopN)
      .select(col("token"), col("doc_id"),
        col("rk").cast(IntegerType).as("rk"),
        round(score, 6).as("bm25"))
      .orderBy("token", "rk")
  }

  /** q150: DATASET CARD — the per-source manifest a training run records
    * before consuming a corpus snapshot (the "data card" step): document
    * and token volume, mean quality (sums DECIMAL-routed so the mean is
    * order-independent), embedding coverage (documents ↔ embeddings
    * join on id — the cross-TABLE readiness signal none of the
    * single-table ops report), and the exact-duplicate volume within
    * the source. Each stat is an existing verified primitive; the card
    * composes them in one result so drift in any feed (text, quality,
    * embeddings, dedup) shows up in a single diffable row per source.
    * Shape: two hash-aggs over documents, one semi-join against the
    * embedding ids, one md5 group — every leg shuffles on `source` or
    * the join id, nothing quadratic. */
  def datasetCard(s: SparkSession, dir: String): DataFrame = {
    // narrow projection (text dropped) materialized once: three consumers
    // (volume agg, embedding semi-join, dup census) read it
    val q = docs(s, dir).select(
      col("doc_id"), col("source"),
      bpeTokensC(col("text")).cast(LongType).as("toks"),
      qualityExprs.toMap.apply("quality_score").as("qs"),
      md5(col("text")).as("h"))
      .localCheckpoint()
    val emb = Tables.load(s, dir, "embeddings").select(col("vec_id"))
    val withEmb = q.join(emb, q("doc_id") === emb("vec_id"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_embedded"))
    val dups = q.groupBy("source", "h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .groupBy("source").agg(sum("cnt").as("n_dup_docs"))
    q.groupBy("source")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        sum("toks").as("total_tokens"),
        meanQualityC.as("mean_quality"))
      .join(broadcast(withEmb), Seq("source"), "left")
      .join(broadcast(dups), Seq("source"), "left")
      .na.fill(0L, Seq("n_embedded", "n_dup_docs"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("mean_quality"), col("n_embedded"), col("n_dup_docs"))
      .orderBy("source")
  }

  /** q160: TRAIN/VAL/TEST split manifest — the reproducible three-way
    * split every training run records: membership is a pure function of
    * doc_id (the q77 md5-bucket machinery — 80/10/10 by bucket), so the
    * split survives re-runs, engine changes and repartitioning, and
    * incremental additions never reshuffle existing members. The
    * manifest reports, per (source, split): document count, token
    * volume, and DECIMAL-routed mean quality — the leakage-audit
    * numbers that prove the three cuts are statistically exchangeable
    * before anyone trains on them. One narrow map + one hash-agg. */
  def splitManifest(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(hex60C(md5(col("doc_id").cast(StringType))), lit(100L))
    docs(s, dir).select(
        col("source"),
        when(bucket < 80, lit("train"))
          .when(bucket < 90, lit("val")).otherwise(lit("test")).as("split"),
        bpeTokensC(col("text")).cast(LongType).as("toks"),
        qualityExprs.toMap.apply("quality_score").as("qs"))
      .groupBy("source", "split")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        sum("toks").as("total_tokens"),
        meanQualityC.as("mean_quality"))
      .orderBy("source", "split")
  }

  /** Exact mean of the 6-dp quality score over a COUNT(*) group — the
    * q140 lesson applied twice over: the score is exact at 6 decimals,
    * so it routes through integer MICRO-units (decimal cast → ×10⁶ →
    * BIGINT, every step exact) and the mean is one double division
    * chain over exact integers — never a DECIMAL(p, s>0)→DOUBLE
    * conversion, whose two roundings (DuckDB) vs one (JVM) diverge.
    * And the result is NOT re-rounded: a mean of 6-dp values needs a
    * 7th digit, and round() itself splits at .5 boundaries (Spark
    * HALF_UP vs DuckDB HALF_EVEN — the q55 precedent); identical input
    * doubles need no rounding to hash-match. */
  private def meanQualityC: org.apache.spark.sql.Column =
    sum((col("qs").cast(DecimalType(18, 6)) * 1000000)
        .cast(LongType)).cast(DoubleType) /
      count(lit(1)) / lit(1000000.0)
  private val meanQualityS: String =
    """(CAST(SUM(CAST(CAST(qs AS DECIMAL(18,6)) * 1000000 AS BIGINT))
      |  AS DOUBLE) / COUNT(*) / 1000000.0)"""
      .stripMargin.replace("\n", " ")

  /** Language ID: marker-stopword count per language, argmax with a fixed
    * priority tie-break; 'und' (undetermined) when no marker hits. Includes
    * agreement with the table's labeled `lang` for eyeballing accuracy. */
  /** Adds marker-score columns + the argmax `pred_lang` to a frame
    * carrying tokenized `t` — shared by q24 and q176's stratification. */
  private def withPredLang(df: DataFrame): DataFrame = {
    val withScores = LangMarkers.foldLeft(df) {
      case (f, (lang, markers)) =>
        f.withColumn(s"s_$lang", countInSetC(col("t"), markers))
    }
    val pred = LangMarkers.map(_._1)
      .foldRight(lit("und"): org.apache.spark.sql.Column) {
        case (lang, elseExpr) =>
          val beats = LangMarkers.map(_._1).filter(_ != lang)
            .map(o => col(s"s_$lang") >= col(s"s_$o")).reduce(_ && _)
          when(col(s"s_$lang") > 0 && beats, lit(lang)).otherwise(elseExpr)
      }
    withScores.withColumn("pred_lang", pred)
  }

  def langId(s: SparkSession, dir: String): DataFrame =
    withPredLang(docs(s, dir).withColumn("t", tokensC(col("text"))))
      .select(col("doc_id"), col("pred_lang"),
        (col("pred_lang") === col("lang")).cast(IntegerType).as("agrees"))
      .orderBy("doc_id")

  /** q176 bucket edges — interpolated into the oracle. */
  val StratQualityEdges: (Double, Double) = (0.3, 0.5)
  val StratLengthEdges: (Int, Int) = (128, 384)

  /** q176: CORPUS STRATIFICATION MATRIX — the lang × quality-tier ×
    * length-bucket census that drives mix/filter decisions (how much
    * high-quality long-form English do we actually have?). Language from
    * the q24 marker argmax, quality tier from the 6-dp q23 score, length
    * bucket from raw chars — all deterministic cuts; counts and BPE token
    * sums are exact integers. ONE narrow projection + one low-cardinality
    * hash-agg: at 100 TB this is a single pass at scan speed. */
  def stratificationMatrix(s: SparkSession, dir: String): DataFrame = {
    val (qLo, qHi) = StratQualityEdges
    val (lLo, lHi) = StratLengthEdges
    withPredLang(docs(s, dir).withColumn("t", tokensC(col("text"))))
      .withColumn("qs", qualityScoreC)
      .withColumn("tier",
        when(col("qs") >= qHi, "high").when(col("qs") >= qLo, "mid")
          .otherwise("low"))
      .withColumn("len_bucket",
        when(length(col("text")) < lLo, "short")
          .when(length(col("text")) < lHi, "medium").otherwise("long"))
      .groupBy("pred_lang", "tier", "len_bucket")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        sum(bpeTokensC(col("text")).cast(LongType)).as("total_tokens"))
      .orderBy("pred_lang", "tier", "len_bucket")
  }

  /** Document fingerprint: polynomial rolling hash over per-token md5-derived
    * 32-bit values, mod 1e9+7 — an order-sensitive content fingerprint
    * (reordered tokens → different fingerprint, unlike MinHash). */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("t", tokensC(col("text")))
      .select(col("doc_id"),
        aggregate(
          transform(col("t"), x => hex32C(md5(x))),
          lit(0L),
          (acc, v) => (acc * lit(31L) + v) % lit(1000000007L))
          .as("fingerprint"))
      .orderBy("doc_id")

  /** q182: CONTEXT-WINDOW CHUNKING — split every document into fixed-size
    * overlapping windows (`size` chars every `stride`, overlap =
    * size − stride), the standard retrieval / long-context preprocessing
    * step: embeddings and training sequences are built per CHUNK, not per
    * document, and the overlap preserves sentences that straddle a cut.
    * Emits one row per chunk with its 0-based index, 1-based char start,
    * realized length (the tail chunk is short) and content digest — the
    * digest is what a downstream exact-dedup pass (q26) consumes to kill
    * repeated chunks cheaply.
    *
    * Window starts are 1 + k·stride while start ≤ len, so every char is
    * covered and chunk_idx = (start−1)/stride is EXACT integer arithmetic
    * in double space (both operands are small exact integers) — no
    * engine-rounding hazard. The explode is a narrow per-row flatMap:
    * zero shuffle except the presentation orderBy, linear in corpus
    * bytes at 100 TB with output ≈ size/stride × input. */
  def chunkDocs(s: SparkSession, dir: String,
                size: Int = 200, stride: Int = 150): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"bad chunk config ($size, $stride)")
    docs(s, dir)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), greatest(length(col("text")), lit(1)),
          lit(stride))).as("start"))
      .withColumn("chunk", col("text").substr(col("start"), lit(size)))
      .select(col("doc_id"),
        ((col("start") - 1) / lit(stride)).cast(IntegerType).as("chunk_idx"),
        col("start").cast(IntegerType).as("start"),
        length(col("chunk")).cast(IntegerType).as("chunk_chars"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Corpus composition: per (lang, source) doc counts, char volume, mean
    * quality score — the "what's in my training mix" query. One hash-agg
    * shuffle on a low-cardinality composite key. */
  def corpusStats(s: SparkSession, dir: String): DataFrame = {
    val t = tokensC(col("text"))
    val words = size(t).cast(DoubleType)
    val chars = length(col("text")).cast(DoubleType)
    val punct = size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0)))
      .cast(DoubleType)
    val stops = countInSetC(t, Stopwords).cast(DoubleType)
    val score = least(words / lit(100.0), lit(1.0)) * lit(0.4) +
      (stops / words) * lit(0.4) + (lit(1.0) - punct / chars) * lit(0.2)
    docs(s, dir)
      // round BEFORE the decimal cast: round-to-6dp is engine-consistent
      // (q23), after which the DECIMAL(18,6) representation is exact —
      // casting the raw double directly hits half-up/half-even boundary
      // differences between engines
      .withColumn("q", round(score, 6))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        // no final round: double rounding at .5 boundaries is HALF_UP in
        // Spark vs HALF_EVEN in DuckDB; the unrounded exact-decimal-sum /
        // count division is bit-identical in both
        (sum(col("q").cast(DecimalType(18, 6))).cast(DoubleType) /
          count(lit(1))).as("mean_quality"))
      .orderBy("lang", "source")
  }

  /** q229: COHEN'S KAPPA — chance-corrected agreement of the q24
    * marker classifier against the gold `lang` labels: κ = (p_o −
    * p_e)/(1 − p_e), where p_e is the agreement two INDEPENDENT
    * labelers with these marginals would reach by luck. The metric to
    * quote instead of raw accuracy whenever classes are imbalanced (a
    * majority-class guesser scores high accuracy but κ ≈ 0). Exact
    * integer marginals; p_e = Σ_k m_a(k)·m_b(k)/n² in DECIMAL(38,0)
    * products; the closing κ algebra is fixed double expressions.
    * One scan + K-row marginal frames. */
  def langKappa(s: SparkSession, dir: String): DataFrame = {
    val pred = withPredLang(docs(s, dir)
        .withColumn("t", tokensC(col("text"))))
      .select(col("lang"), col("pred_lang"))
      .localCheckpoint() // three consumers: po, both marginal frames
    val agree = pred.agg(count(lit(1)).as("n"),
      sum((col("lang") === col("pred_lang")).cast(LongType)).as("na"))
    val ma = pred.groupBy("lang").agg(count(lit(1)).as("ca"))
    val mb = pred.groupBy("pred_lang").agg(count(lit(1)).as("cb"))
    val pe = ma.join(mb, col("lang") === col("pred_lang"))
      .agg(coalesce(sum((col("ca") * col("cb")).cast(DecimalType(38, 0))),
        lit(0).cast(DecimalType(38, 0))).as("sab"))
    val po = col("na").cast(DoubleType) / col("n")
    val peD = col("sab").cast(DoubleType) /
      (col("n").cast(DoubleType) * col("n"))
    agree.crossJoin(broadcast(pe))
      .select(col("n").cast(IntegerType).as("n"),
        round(po, 6).as("p_observed"),
        round(peD, 6).as("p_expected"),
        round((po - peD) / (lit(1.0) - peD), 6).as("kappa"))
  }

  /** q228: QUALITY–LENGTH OLS PER SOURCE — the per-feed regression of
    * quality score on ln(token count): a strong positive slope says
    * the source's quality signal is mostly LENGTH (so a length-blind
    * quality threshold silently becomes a length filter); near-zero
    * slope says the two cuts are independent. The q183 OLS machinery
    * applied per group: x = round(ln toks, 6), y = the exact 6-dp
    * quality score, moments in DECIMAL per source, closing algebra in
    * fixed double expressions with the q183 9-dp product rounding. */
  def qualityLengthOls(s: SparkSession, dir: String): DataFrame = {
    val d9 = (c: Column) => sum(round(c, 9).cast(DecimalType(28, 9)))
    // toks > 0 on BOTH engines: Spark log(0) is NULL but DuckDB ln(0.0)
    // is -inf, so an IS-NOT-NULL filter alone diverges on token-free
    // docs (round-9 ADVICE) — the explicit predicate is the portable one
    val xy = docs(s, dir)
      .select(col("source"), bpeTokensC(col("text")).as("toks"),
        qualityScoreC.as("y"))
      .filter(col("toks") > 0)
      .select(col("source"),
        round(log(col("toks").cast(DoubleType)), 6).as("x"), col("y"))
    val m = xy.groupBy("source").agg(
      count(lit(1)).cast(DoubleType).as("n"),
      sum(col("x").cast(DecimalType(18, 6))).cast(DoubleType).as("sx"),
      sum(col("y").cast(DecimalType(18, 6))).cast(DoubleType).as("sy"),
      d9(col("x") * col("y")).cast(DoubleType).as("sxy"),
      d9(col("x") * col("x")).cast(DoubleType).as("sxx"),
      d9(col("y") * col("y")).cast(DoubleType).as("syy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    val icept = (col("sy") - slope * col("sx")) / col("n")
    val ssTot = col("syy") - col("sy") * col("sy") / col("n")
    val ssRes = col("syy") - icept * col("sy") - slope * col("sxy")
    m.select(col("source"), col("n").cast(IntegerType).as("n_docs"),
      round(slope, 6).as("slope"),
      round(icept, 6).as("intercept"),
      round(lit(1.0) - ssRes / ssTot, 6).as("r2"))
      .orderBy("source")
  }

  /** q225: POSITION-QUALITY PROFILE — does document quality DECAY with
    * position? Chunk the corpus (q182 windows), score every chunk with
    * the q23 quality expression, and roll up by structural position
    * (head = first chunk, tail = last, middle otherwise): the number
    * that justifies (or kills) tail-truncation policies — if tail
    * chunks score like heads, truncating buys nothing and costs data.
    * Position is an exact integer comparison against the per-doc chunk
    * count; the mean routes through micro-units (q140). */
  def positionQuality(s: SparkSession, dir: String,
                      size: Int = 200, stride: Int = 150): DataFrame = {
    val chunks = docs(s, dir)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), greatest(length(col("text")), lit(1)),
          lit(stride))).as("start"))
      .withColumn("chunk", col("text").substr(col("start"), lit(size)))
      .withColumn("idx", ((col("start") - 1) / lit(stride))
        .cast(IntegerType))
    val scored = chunks.select(col("doc_id"), col("idx"),
      (qualityOf(col("chunk")).cast(DecimalType(18, 6)) * 1000000)
        .cast(LongType).as("qu"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    scored.withColumn("nc", max(col("idx")).over(w))
      .withColumn("pos",
        when(col("idx") === 0, lit("1_head"))
          .when(col("idx") === col("nc"), lit("3_tail"))
          .otherwise(lit("2_middle")))
      .groupBy("pos")
      .agg(count(lit(1)).as("n_chunks"), sum("qu").as("squ"))
      .select(col("pos"),
        col("n_chunks").cast(IntegerType).as("n_chunks"),
        (col("squ").cast(DoubleType) / col("n_chunks") / 1000000.0)
          .as("mean_quality"))
      .orderBy("pos")
  }

  /** The q23 quality score over an arbitrary text column. */
  private def qualityOf(textCol: Column): Column =
    qualityExprsOf(textCol).toMap.apply("quality_score")

  /** q220: SOURCE ENTROPY PROFILE — per source: unigram Shannon
    * entropy (nats) and KL divergence against the corpus-wide
    * distribution. The information-theoretic view of the mix that
    * q189's cosine only hints at: low entropy = templated/repetitive
    * feed; high KL = vocabulary genuinely unlike the rest (what
    * temperature mixing upweights). Same smoothing-free exact-count
    * probabilities on both sides (a source's own vocabulary has no
    * zero terms against itself; KL terms use the source's support, on
    * which global counts are also nonzero).
    *
    * Determinism (q183): per-token ln rounds to 6dp, p·ln terms to
    * 12dp, DECIMAL(28,12) sums. Shape: ONE (source, token) hash-agg
    * feeds everything; the global side collapses from it; the
    * token-keyed join runs aggregated-frame vs aggregated-frame. */
  def sourceEntropy(s: SparkSession, dir: String): DataFrame = {
    val tf = docs(s, dir)
      .select(col("source"), explode(tokensC(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tf.count() // eager fill: per-source totals, global counts, join
    try {
      val st = tf.groupBy("source").agg(sum("c").as("ct"),
        count(lit(1)).as("v"))
      val g = tf.groupBy("w").agg(sum("c").as("cg"))
      val gt = g.agg(sum("cg").as("cgt"))
      val d12 = (c: Column) => sum(round(c, 12).cast(DecimalType(28, 12)))
      val p = col("c").cast(DoubleType) / col("ct")
      val pg = col("cg").cast(DoubleType) / col("cgt")
      val out = tf
        .join(broadcast(st), Seq("source"))
        .join(g, Seq("w"))
        .crossJoin(broadcast(gt))
        .withColumn("p", p).withColumn("pg", pg)
        .groupBy("source").agg(
          first(col("ct")).as("n_tokens"),
          first(col("v")).cast(IntegerType).as("n_vocab"),
          d12(-col("p") * round(log(col("p")), 6)).as("hsum"),
          d12(col("p") * round(log(col("p") / col("pg")), 6)).as("klsum"))
        .select(col("source"), col("n_tokens"), col("n_vocab"),
          round(col("hsum").cast(DoubleType), 6).as("entropy"),
          round(col("klsum").cast(DoubleType), 6).as("kl_vs_corpus"))
        .orderBy("source")
        .localCheckpoint()
      out
    } finally { tf.unpersist(); () }
  }

  /** q221: TOKEN BURSTINESS — the variance-to-mean ratio of per-
    * document occurrence counts (zeros included): Poisson-scattered
    * function words sit near VMR ≈ 1 while topical words BURST (a doc
    * about a subject mentions it many times) — the classical
    * content-word signal (Church–Gale) behind stopword induction and
    * tf saturation curves. Top-20 bursty tokens above a min-count
    * gate.
    *
    * Exact: zeros contribute nothing to Σc or Σc², so per-token
    * DECIMAL sums over the (token, doc) count frame + the corpus doc
    * count N give the exact full-population moments; the VMR algebra
    * is one fixed double expression. Shape: two hash-aggs ((token,
    * doc) then token) + one 1-row broadcast. */
  def tokenBurstiness(s: SparkSession, dir: String,
                      minCount: Long = 50L, topK: Int = 20): DataFrame = {
    val perDoc = docs(s, dir)
      .select(col("doc_id"), explode(tokensC(col("text"))).as("w"))
      .groupBy("w", "doc_id").agg(count(lit(1)).as("c"))
    val nd = docs(s, dir).agg(count(lit(1)).as("nn"))
    val stats = perDoc.groupBy("w").agg(
      count(lit(1)).as("n_docs"),
      sum("c").as("sc"),
      sum((col("c") * col("c")).cast(DecimalType(38, 0))).as("sc2"))
      .filter(col("sc") >= minCount)
    val n = col("nn").cast(DoubleType)
    val mean = col("sc").cast(DoubleType) / n
    val vr = (col("sc2").cast(DoubleType) - mean * mean * n) / (n - 1)
    stats.crossJoin(broadcast(nd))
      .select(col("w").as("token"),
        col("sc").cast(IntegerType).as("n_occ"),
        col("n_docs").cast(IntegerType).as("n_docs"),
        round(vr / mean, 6).as("vmr"))
      .orderBy(col("vmr").desc, col("token")).limit(topK)
  }

  /** q219: CODE-SWITCHING DETECTION — chunk-level language-ID votes
    * aggregated per document: a doc whose q182 context windows predict
    * DIFFERENT languages is mixed-language content (code-switching,
    * concatenated crawls, template+content splits) that doc-level
    * lang-ID (q24) silently majority-labels — and that multilingual
    * corpus prep routes or drops explicitly. Reports per doc: chunk
    * census, distinct non-'und' languages, the majority language with
    * its share among classified chunks, and the mixed flag
    * (≥2 languages AND majority share ≤ 0.8).
    *
    * Shape at 100 TB: the chunk stream is q182's narrow flatMap;
    * lang-ID is the q24 codegen'd marker argmax per chunk; two
    * hash-aggs on (doc, lang) then doc. The exact-integer share makes
    * the flag deterministic. */
  def codeSwitching(s: SparkSession, dir: String,
                    size: Int = 200, stride: Int = 150): DataFrame = {
    val chunks = docs(s, dir)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), greatest(length(col("text")), lit(1)),
          lit(stride))).as("start"))
      .withColumn("t", tokensC(col("text").substr(col("start"), lit(size))))
    val pred = withPredLang(chunks).select(col("doc_id"), col("pred_lang"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pred.count() // eager fill: census + per-lang rollup
    try {
      val tot = pred.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      val per = pred.filter(col("pred_lang") =!= "und")
        .groupBy("doc_id", "pred_lang").agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("c").desc, col("pred_lang"))
      val agg = per.withColumn("rk", row_number().over(w))
        .groupBy("doc_id").agg(
          sum("c").as("n_classified"),
          count(lit(1)).as("n_langs"),
          max(when(col("rk") === 1, col("pred_lang"))).as("majority_lang"),
          max(when(col("rk") === 1, col("c"))).as("cmaj"))
      val out = tot.join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("n_chunks").cast(IntegerType).as("n_chunks"),
          coalesce(col("n_langs"), lit(0L)).cast(IntegerType).as("n_langs"),
          col("majority_lang"),
          round(col("cmaj").cast(DoubleType) /
            col("n_classified").cast(DoubleType), 6).as("majority_share"),
          (coalesce(col("n_langs"), lit(0L)) >= 2 &&
            col("cmaj") * 5 <= col("n_classified") * 4)
            .cast(IntegerType).as("is_mixed"))
        .orderBy("doc_id")
        .localCheckpoint()
      out
    } finally { pred.unpersist(); () }
  }

  /** q216: PMI COLLOCATIONS — pointwise mutual information over
    * adjacent token pairs: PMI = ln(N·c(ab)/(c(a)·c(b))) scores how
    * much more often two tokens appear TOGETHER than independence
    * predicts — the classic collocation/phrase-mining signal ("new
    * york" scores high, "of the" low despite its raw count), and the
    * statistic BPE/wordpiece merge selection refines. A min-count gate
    * keeps the estimator out of its unstable low-frequency regime.
    * Top-20 by (6dp-rounded PMI, pair) — the tokenizer-vocabulary
    * candidate list.
    *
    * Shape at 100 TB: ONE posexplode pass feeds both the unigram and
    * the adjacent-bigram hash-aggs; scoring joins the bigram frame to
    * the broadcast-ranked unigram counts; ln rounds at the row (q183).
    * Top-k is orderBy+limit. */
  def pmiCollocations(s: SparkSession, dir: String,
                      minCount: Long = 5L, topK: Int = 20): DataFrame = {
    val tok = Tables.fanOut(docs(s, dir), "doc_id")
      .select(col("doc_id"), posexplode(tokensC(col("text"))))
      .withColumnRenamed("col", "w").withColumnRenamed("pos", "p")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tok.count() // eager fill: unigram agg + both bigram join sides
    try {
      val uni = tok.groupBy("w").agg(count(lit(1)).as("cw"))
      val tot = uni.agg(sum("cw").as("n"))
      // adjacent pairs via lead() — one shuffle on doc_id, no self-join
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("p")
      val big = tok.withColumn("wn", lead(col("w"), 1).over(wd))
        .filter(col("wn").isNotNull)
        .groupBy(col("w").as("wa"), col("wn").as("wb"))
        .agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= minCount)
      // unigram counts are VOCABULARY-sized — no broadcast hint (the
      // q64 tfidf lesson); AQE chooses at fixture scale
      val out = big
        .join(uni.withColumnsRenamed(
          Map("w" -> "wa", "cw" -> "ca")), Seq("wa"))
        .join(uni.withColumnsRenamed(
          Map("w" -> "wb", "cw" -> "cb")), Seq("wb"))
        .crossJoin(broadcast(tot))
        .select(col("wa"), col("wb"), col("cab").cast(IntegerType).as("n_ab"),
          round(log(col("n").cast(DoubleType) * col("cab") /
            (col("ca").cast(DoubleType) * col("cb"))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("wa"), col("wb")).limit(topK)
        .localCheckpoint()
      out
    } finally { tok.unpersist(); () }
  }

  /** q215: LEARNING-CURVE LADDER — the nested subset chain a
    * scaling-law run trains on: hash-threshold membership gives
    * reproducible fractions 1/64 ⊂ 1/16 ⊂ 1/4 ⊂ 1 of the corpus
    * (NESTED by construction — smaller runs are strict subsets of
    * larger, so curve points differ only by added data, never by
    * resampling), each step reporting docs, token volume and the
    * DECIMAL-routed mean quality (constant across steps ⇔ the hash is
    * unbiased — the ladder's own audit). ONE scan with conditional
    * aggregation; membership is a pure function of doc_id. */
  def learningCurveLadder(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(hex60C(md5(col("doc_id").cast(StringType))),
      lit(4096L))
    val steps = Seq(64, 16, 4, 1) // denominators; threshold = 4096/d
    val d = docs(s, dir).select(
      bucket.as("b"),
      bpeTokensC(col("text")).cast(LongType).as("toks"),
      qualityExprs.toMap.apply("quality_score").as("qs"))
    val aggs = steps.flatMap { den =>
      val in = col("b") < lit(4096L / den)
      Seq(
        sum(in.cast(LongType)).as(s"n_$den"),
        sum(when(in, col("toks")).otherwise(0L)).as(s"t_$den"),
        sum(when(in, (col("qs").cast(DecimalType(18, 6)) * 1000000)
          .cast(LongType)).otherwise(0L)).as(s"q_$den"))
    }
    val one = d.agg(aggs.head, aggs.tail: _*)
    steps.map { den =>
      one.select(
        lit(s"1/$den").as("step"),
        lit(4096L / den).as("threshold"),
        col(s"n_$den").cast(IntegerType).as("n_docs"),
        col(s"t_$den").as("total_tokens"),
        (col(s"q_$den").cast(DoubleType) / col(s"n_$den") / 1000000.0)
          .as("mean_quality"))
    }.reduce(_ unionByName _)
      .orderBy("threshold")
  }

  /** q210: GINI TOKEN CONCENTRATION — per source, the Gini coefficient
    * of token mass across documents (0 = every doc contributes
    * equally, → 1 = a few megadocs carry the feed): the corpus-
    * diversity number that decides whether a source needs doc-level
    * length capping before mixing (a high-Gini feed lets a handful of
    * documents dominate training batches).
    *
    * Exact: with documents ranked ascending by token count (doc_id
    * tie-break), G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx) — every term
    * accumulates in DECIMAL(38,0) (rank×mass products overflow BIGINT
    * at crawl scale), one double division at the end.
    *
    * Shape at 100 TB: one narrow map + per-source window rank +
    * per-source hash-agg — the q155 ranking shape. */
  def giniConcentration(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("toks"), col("doc_id"))
    val d38 = (c: Column) => sum(c.cast(DecimalType(38, 0)))
    docs(s, dir).select(col("doc_id"), col("source"),
        bpeTokensC(col("text")).cast(LongType).as("toks"))
      .withColumn("i", row_number().over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), d38(col("toks")).as("sx"),
        sum(col("i").cast(DecimalType(38, 0)) * col("toks")).as("six"))
      .select(col("source"), col("n").cast(IntegerType).as("n_docs"),
        col("sx").cast(LongType).as("total_toks"),
        round(((lit(2).cast(DecimalType(38, 0)) * col("six") -
          (col("n") + 1).cast(DecimalType(38, 0)) * col("sx"))
            .cast(DoubleType)) /
          ((col("n").cast(DecimalType(38, 0)) * col("sx"))
            .cast(DoubleType)), 6).as("gini"))
      .orderBy("source")
  }

  /** q207: QUANTILE CALIBRATION TABLE — per-source quality-score
    * deciles against the global deciles, with the per-decile shift:
    * the calibration map cross-source score comparison needs (a 0.6
    * from a lenient feed ≠ a 0.6 from a strict one; matching quantiles
    * is the standard fix — quantile normalization). A release pipeline
    * reads the shift column to decide whether per-source thresholds
    * are required.
    *
    * Determinism: scores quantize to micro-units (q191), so every
    * decile interpolation is exactly representable; the reported
    * values divide once by 10⁶ and the shift subtracts the divided
    * doubles in the same order on both engines.
    *
    * Shape at 100 TB: two percentile hash-aggs over one narrow scan
    * (per-source and global), then an 11-row × |sources| assembly. */
  def quantileCalibration(s: SparkSession, dir: String): DataFrame = {
    val vq = (qualityScoreC.cast(DecimalType(18, 6)) * 1000000)
      .cast(LongType)
    val d = docs(s, dir).select(col("source"), vq.as("vq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    d.count() // eager fill: per-source + global percentile passes
    try {
      val qsArr = (0 to 10).map(i => i / 10.0)
      val pctl = expr(s"percentile(vq, array(${qsArr.mkString(", ")}))")
      val bySrc = d.groupBy("source").agg(pctl.as("qs"))
      val glob = d.agg(pctl.as("gq"))
        .select(posexplode(col("gq")).as(Seq("i", "glob_q")))
      val out = bySrc
        .select(col("source"), posexplode(col("qs")).as(Seq("i", "src_q")))
        .join(broadcast(glob), Seq("i"))
        .select(col("source"), col("i").cast(IntegerType).as("decile"),
          (col("src_q") / 1000000.0).as("src_q"),
          (col("glob_q") / 1000000.0).as("glob_q"),
          (col("src_q") / 1000000.0 - col("glob_q") / 1000000.0)
            .as("shift"))
        .orderBy("source", "decile")
        .localCheckpoint()
      out
    } finally { d.unpersist(); () }
  }

  /** q202: WEIGHTED SAMPLE WITHOUT REPLACEMENT — the Efraimidis–
    * Spirakis one-pass algorithm (2006): each item draws a uniform u
    * and keeps key u^(1/w); the k largest keys ARE a weighted sample
    * without replacement. The only known shape that does
    * without-replacement weighted sampling in one distributed pass — the
    * complement of q144's PPS (with-replacement-style systematic)
    * draw. Here u derives from a seeded md5 of doc_id (the q160
    * convention), so the "sample" is reproducible and oracle-checkable;
    * swapping in a true RNG is a one-line change.
    *
    * Ranking uses the monotone transform ln(u)/w (same order, no pow):
    * ln rounds to 9dp once per row (the q183 libm rule), the division
    * is exact IEEE on identical operands, and the top-k is
    * orderBy+limit — TakeOrderedAndProject, the distributed bounded
    * top-k, never a global sort. */
  def esWeightedSample(s: SparkSession, dir: String,
                       k: Int = 50): DataFrame = {
    val h = hex60C(md5(concat(lit("es#"), col("doc_id").cast(StringType))))
    val u = (h.cast(DoubleType) + 1.0) / lit(math.pow(2.0, 60))
    val d = docs(s, dir).select(col("doc_id"),
        bpeTokensC(col("text")).cast(LongType).as("toks"))
      .filter(col("toks") > 0)
      .withColumn("es_key", round(log(u), 9) / col("toks"))
      .orderBy(col("es_key").desc, col("doc_id")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("es_key").desc, col("doc_id"))
    d.withColumn("rk", row_number().over(w).cast(IntegerType))
      .orderBy("rk")
  }

  /** q200: RELEASE GATE — the terminal go/no-go step of a corpus
    * release: per source, the q150 dataset-card metrics re-expressed as
    * four boolean gates (duplicate fraction under `maxDupFrac`, mean
    * quality at least `minQuality`, embedding coverage at least
    * `minEmbCover`, token volume at least `minTokens`) and their
    * conjunction — the row a release pipeline blocks on. Built ON the
    * q150 card (one call — the gates cannot drift from the card they
    * audit); the comparisons run on the card's raw doubles, so a gate
    * flips exactly when the audited metric crosses the threshold.
    *
    * Shape at 100 TB: q150's cost (two hash-aggs + one semi-join);
    * the gating itself is a |sources|-row projection. */
  def releaseGate(s: SparkSession, dir: String,
                  maxDupFrac: Double = 0.05, minQuality: Double = 0.45,
                  minEmbCover: Double = 0.9,
                  minTokens: Long = 500L): DataFrame = {
    val dupFrac = col("n_dup_docs").cast(DoubleType) /
      col("n_docs").cast(DoubleType)
    val embCover = col("n_embedded").cast(DoubleType) /
      col("n_docs").cast(DoubleType)
    datasetCard(s, dir)
      .withColumn("dup_frac", round(dupFrac, 6))
      .withColumn("emb_cover", round(embCover, 6))
      .withColumn("gate_dup", (dupFrac < maxDupFrac).cast(IntegerType))
      .withColumn("gate_quality",
        (col("mean_quality") >= minQuality).cast(IntegerType))
      .withColumn("gate_coverage",
        (embCover >= minEmbCover).cast(IntegerType))
      .withColumn("gate_volume",
        (col("total_tokens") >= minTokens).cast(IntegerType))
      .withColumn("release_ok",
        (col("gate_dup") === 1 && col("gate_quality") === 1 &&
          col("gate_coverage") === 1 && col("gate_volume") === 1)
          .cast(IntegerType))
      .select("source", "n_docs", "total_tokens", "dup_frac", "emb_cover",
        "mean_quality", "gate_dup", "gate_quality", "gate_coverage",
        "gate_volume", "release_ok")
      .orderBy("source")
  }

  /** q196: TOKEN-BUDGET WATERFILLING — the fair-allocation step of
    * mixture planning: split a total token budget across sources so
    * every source gets an EQUAL share λ except those whose whole corpus
    * fits under it (they are "capped" and funded fully, freeing budget
    * that raises λ for the rest). The classic waterfill: in ascending
    * capacity order the capped set is a prefix, a source is capped iff
    * its capacity fits its fair share of what remains, and
    * λ = (B − Σ capped capacities) / #uncapped.
    *
    * Deterministic: capacities are exact BPE-token integer sums; the
    * prefix test and λ are the same fixed integer→double expressions on
    * both engines; allocations floor λ (integral λ is a double that
    * floors identically).
    *
    * Shape at 100 TB: ONE fact-scale hash-agg to |sources| rows —
    * everything after runs on the tiny capacity frame (window over
    * |sources|, 1-row conditional agg broadcast back). */
  def tokenWaterfill(s: SparkSession, dir: String,
                     frac: Double = 0.6): DataFrame = {
    val caps = docs(s, dir).groupBy("source")
      .agg(sum(bpeTokensC(col("text")).cast(LongType)).as("cap"))
    val budget = floor(col("total").cast(DoubleType) * frac).cast(LongType)
    tokenWaterfillOf(caps, budget)
  }

  /** Core of [[tokenWaterfill]] over any (source, cap) frame; `budget`
    * may reference `total` (the capacity sum, attached before use). */
  private[graft] def tokenWaterfillOf(caps: DataFrame,
                                      budget: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cap"), col("source"))
    val tot = caps.agg(sum("cap").as("total"), count(lit(1)).as("n"))
    val ranked = caps.crossJoin(broadcast(tot))
      .withColumn("b", budget)
      .withColumn("rk", row_number().over(w))
      .withColumn("cum_before", coalesce(
        sum(col("cap")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      // capped ⇔ the full capacity fits the fair share of what remains
      // at this row's turn (all earlier rows are capped by exchange
      // argument: they are smaller and saw no less remaining budget)
      .withColumn("is_capped",
        col("cap").cast(DoubleType) * (col("n") - col("rk") + 1) <=
          (col("b") - col("cum_before")).cast(DoubleType))
    // all-capped guard: with zero uncapped sources λ is never read —
    // emit NULL instead of dividing by zero (ANSI mode errors there)
    val lam = ranked.agg({
      val nUncapped = sum(when(!col("is_capped"), 1L).otherwise(0L))
      when(nUncapped > 0,
        (first(col("b")) -
          coalesce(sum(when(col("is_capped"), col("cap"))), lit(0L)))
          .cast(DoubleType) / nUncapped).as("lambda")
    })
    ranked.crossJoin(broadcast(lam))
      .select(col("source"), col("cap"),
        when(col("is_capped"), col("cap"))
          .otherwise(floor(col("lambda")).cast(LongType)).as("allocated"),
        col("is_capped").cast(IntegerType).as("is_capped"))
      .orderBy("source")
  }

  /** q193: DSIR IMPORTANCE WEIGHTS — data selection by importance
    * resampling (Xie et al. 2023): score every document by how much its
    * hashed-bigram distribution looks like a TARGET distribution (here
    * the q23 quality-score ≥ 0.5 tier) relative to the raw corpus, then
    * keep the top-k. The per-doc weight is the mean log-ratio
    * ln(p_target(b)/p_raw(b)) over the doc's bigram feature buckets —
    * mean, not sum, so long documents are not favored per se.
    *
    * Determinism: the two bucket models are exact integer counts; each
    * bucket's log-ratio rounds to 6dp once (model-side, 4096 rows —
    * NOT per occurrence), per-doc sums run in DECIMAL(18,6), and the
    * ranking key is the resulting identical double.
    *
    * Shape at 100 TB: bigram stream → pmod bucket (narrow codegen);
    * model = ONE hash-agg to `nBuckets` rows with conditional target
    * sums; scoring joins the gram stream to the broadcast 4096-row
    * log-ratio table and hash-aggs per doc. The stream is computed
    * once (persisted id→bucket pairs; text never re-shingled). */
  def dsirWeights(s: SparkSession, dir: String,
                  nBuckets: Int = 4096, topK: Int = 50): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"),
      (qualityScoreC >= 0.5).cast(IntegerType).as("tgt"))
    val grams = Tables.fanOut(d, "doc_id")
      .select(col("doc_id"), col("tgt"),
        explode(shinglesC(tokensC(col("text")), 2)).as("g"))
      .select(col("doc_id"), col("tgt"),
        pmod(hex60C(md5(col("g"))), lit(nBuckets.toLong)).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    grams.count() // eager fill: model build + scoring read this
    try {
      val model = grams.groupBy("b").agg(
        sum(col("tgt").cast(LongType)).as("cbt"),
        count(lit(1)).as("cbr"))
      val tot = model.agg(sum("cbt").as("tt"), sum("cbr").as("tr"))
      val lr = model.crossJoin(broadcast(tot))
        .select(col("b"), round(log(
          ((col("cbt") + 0.5) / (col("tt") + lit(nBuckets * 0.5))) /
            ((col("cbr") + 0.5) / (col("tr") + lit(nBuckets * 0.5)))), 6)
          .as("lr"))
      val out = grams.select("doc_id", "b")
        .join(broadcast(lr), Seq("b"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_grams"),
          sum(col("lr").cast(DecimalType(18, 6))).as("slr"))
        .select(col("doc_id"), col("n_grams").cast(IntegerType).as("n_grams"),
          (col("slr").cast(DoubleType) / col("n_grams")).as("avg_log_ratio"))
        .orderBy(col("avg_log_ratio").desc, col("doc_id"))
        .limit(topK)
        .localCheckpoint()
      out
    } finally { grams.unpersist(); () }
  }

  /** q192: SPLIT TOKEN DRIFT — Jensen–Shannon divergence between the
    * train and heldout unigram distributions, per language, over the
    * q160 hash split. The distribution-level exchangeability audit that
    * complements q174/q175's instance-level leakage checks: a JS
    * divergence near 0 says the heldout loss measures the training
    * distribution; drift flags a split correlated with content (e.g.
    * time- or crawl-ordered ids hashed badly).
    *
    * Determinism (the q183 recipe): smoothed probabilities are exact
    * integer-derived doubles; each token's ln(p/m) is rounded to 6dp
    * at the row (absorbing libm's ≤1-ulp skew), the p·ln term to 12dp,
    * and the vocabulary sum runs in DECIMAL(28,12) — exact and
    * order-independent at any vocabulary size.
    *
    * Shape at 100 TB: ONE hash-agg on (lang, token) with conditional
    * split sums (no train/held outer join), a |langs|-row totals
    * broadcast, and a second hash-agg on lang. */
  def splitTokenDrift(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(hex60C(md5(col("doc_id").cast(StringType))), lit(100L))
    val tok = docs(s, dir)
      .withColumn("tr", (bucket < 80).cast(IntegerType))
      .select(col("lang"), col("tr"), explode(tokensC(col("text"))).as("t"))
    // the exploded token scan is the expensive stage: aggregate it ONCE
    // to the vocabulary-sized count frame, persist, and derive both the
    // totals and the divergence terms from the cache (the q138 collapse-
    // once pattern — never explode the corpus twice)
    val cnt = tok.groupBy("lang", "t").agg(
      sum(col("tr").cast(LongType)).as("ct"),
      sum(lit(1L) - col("tr")).as("ch"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cnt.count() // eager fill: totals + term sums both read this
    try {
      val tot = cnt.groupBy("lang").agg(
        sum("ct").as("tt"), sum("ch").as("th"), count(lit(1)).as("v"))
      val d12 = (c: Column) => sum(round(c, 12).cast(DecimalType(28, 12)))
      val p = (col("ct") + 0.5) / (col("tt") + col("v") * 0.5)
      val q = (col("ch") + 0.5) / (col("th") + col("v") * 0.5)
      val out = cnt.join(broadcast(tot), Seq("lang"))
        .withColumn("p", p).withColumn("q", q)
        .withColumn("m", (col("p") + col("q")) / 2)
        .groupBy("lang").agg(
          first(col("v")).as("n_vocab"),
          first(col("tt")).as("n_train_tokens"),
          first(col("th")).as("n_held_tokens"),
          d12(col("p") * round(log(col("p") / col("m")), 6)).as("sp"),
          d12(col("q") * round(log(col("q") / col("m")), 6)).as("sq"))
        .select(col("lang"), col("n_vocab").cast(IntegerType).as("n_vocab"),
          col("n_train_tokens"), col("n_held_tokens"),
          round((col("sp") + col("sq")).cast(DoubleType) * 0.5, 6)
            .as("js_divergence"))
        .orderBy("lang")
        .localCheckpoint()
      out
    } finally { cnt.unpersist(); () }
  }

  /** q189: SOURCE VOCABULARY COSINE — pairwise cosine similarity between
    * sources over their token-frequency vectors. The corpus-mixing
    * diagnostic behind q77/q140's weights: two feeds with cosine ≈ 1 are
    * redundant (mixing both buys no diversity), a near-0 pair is
    * genuinely complementary. Runs entirely on exact integer counts —
    * Σcᵃcᵇ and Σc² accumulate in DECIMAL(38,0) (exact at any corpus
    * size; a BIGINT sum of count products wraps silently at crawl
    * scale, and DuckDB's HUGEINT sum would then diverge) — so the one
    * closing double expression (dot/√·√, IEEE-exact ops) is
    * bit-identical across engines.
    *
    * Shape at 100 TB: the fact-scale work is ONE hash-agg to the
    * (source, token) frequency frame (≤ |sources|·|vocab| rows). The
    * self-join runs on that aggregated frame keyed by token — never on
    * the token stream — and the norms/cosine assembly is |sources|²
    * rows. */
  def sourceVocabCosine(s: SparkSession, dir: String): DataFrame = {
    val tf = docs(s, dir)
      .select(col("source"), explode(tokensC(col("text"))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tf.count() // eager fill: norms + both join sides read this
    try {
      val d38 = (c: org.apache.spark.sql.Column) =>
        sum(c.cast(DecimalType(38, 0)))
      val norms = tf.groupBy("source")
        .agg(d38(col("c") * col("c")).as("n2"))
      val dots = tf.as("a").join(tf.as("b"),
          col("a.t") === col("b.t") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(d38(col("a.c") * col("b.c")).as("dot"))
      val out = dots
        .join(norms.withColumnsRenamed(
          Map("source" -> "src_a", "n2" -> "na2")), Seq("src_a"))
        .join(norms.withColumnsRenamed(
          Map("source" -> "src_b", "n2" -> "nb2")), Seq("src_b"))
        .select(col("src_a"), col("src_b"),
          round(col("dot").cast(DoubleType) /
            (sqrt(col("na2").cast(DoubleType)) *
              sqrt(col("nb2").cast(DoubleType))), 6).as("cosine"))
        .orderBy("src_a", "src_b")
        .localCheckpoint()
      out
    } finally { tf.unpersist(); () }
  }

  /** q183: ZIPF-LAW FIT — ordinary-least-squares fit of
    * ln(freq) = intercept + slope·ln(rank) over the top-`topN` token
    * frequencies, plus r². The slope (≈ −1 for natural language) is a
    * standard corpus-health diagnostic: a shallow slope flags boilerplate
    * /spam-heavy crawls, a cliff flags template duplication — cheap to
    * monitor per ingest batch.
    *
    * Determinism recipe (the q140/q156 rulebook): x = round(ln rank, 6)
    * and y = round(ln freq, 6) are per-row scalars — ln's ≤1-ulp
    * engine skew is absorbed by the 6dp round; their pairwise products
    * are single IEEE multiplies of identical doubles, rounded to 9dp and
    * summed as DECIMAL(28,9) (exact, order-independent). With topN=100
    * the moment sums stay ≤ ~10⁵ even at ln(freq) ≈ 28 (a 10¹²-token
    * corpus), so mantissas sit far under 2⁵³ and every decimal→double
    * cast is a single rounding on both engines. The closing OLS algebra
    * is a fixed scalar expression over those identical doubles.
    *
    * Shape at 100 TB: one hash-agg on token (the q43 shape), a top-100
    * window on the tiny distinct-token frame, then a 1-row reduce. */
  def zipfFit(s: SparkSession, dir: String, topN: Int = 100): DataFrame = {
    val freq = docs(s, dir)
      .select(explode(tokensC(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("f").desc, col("t"))
    val xy = freq.withColumn("r", row_number().over(w))
      .filter(col("r") <= topN)
      .select(round(log(col("r").cast(DoubleType)), 6).as("x"),
        round(log(col("f").cast(DoubleType)), 6).as("y"))
    val d9 = (c: Column) => round(c, 9).cast(DecimalType(28, 9))
    val m = xy.agg(
      count(lit(1)).cast(DoubleType).as("n"),
      sum(col("x").cast(DecimalType(18, 6))).cast(DoubleType).as("sx"),
      sum(col("y").cast(DecimalType(18, 6))).cast(DoubleType).as("sy"),
      sum(d9(col("x") * col("y"))).cast(DoubleType).as("sxy"),
      sum(d9(col("x") * col("x"))).cast(DoubleType).as("sxx"),
      sum(d9(col("y") * col("y"))).cast(DoubleType).as("syy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    val icept = (col("sy") - slope * col("sx")) / col("n")
    val ssTot = col("syy") - col("sy") * col("sy") / col("n")
    val ssRes = col("syy") - icept * col("sy") - slope * col("sxy")
    m.select(col("n").cast(IntegerType).as("n_terms"),
      round(slope, 6).as("slope"),
      round(icept, 6).as("intercept"),
      round(lit(1.0) - ssRes / ssTot, 6).as("r2"))
  }

  /** q184: NAIVE-BAYES LANGUAGE CLASSIFIER — the trained counterpart of
    * q24's heuristic lang-ID and the shape of every fastText-style
    * quality/domain classifier in an LLM data pipeline: multinomial NB
    * with add-one smoothing, trained on the 80% md5-hash split (q160
    * machinery) and evaluated as a confusion matrix on the held-out 20%.
    * Training IS aggregation — per-(lang, token) counts, per-lang token
    * totals, doc-count priors — so the "fit" is two hash-aggs, and
    * scoring is one equi-join on token: nothing iterative, nothing
    * driver-side.
    *
    * Determinism: every log-probability is round(ln(·), 6) of an
    * identical IEEE division of exact integers — the 6dp round absorbs
    * ln's ≤1-ulp engine skew — and the per-(doc, class) score is an
    * EXACT DECIMAL sum of (integer count × 6dp-decimal log-prob) terms,
    * so the argmax (score desc, class asc) is a pure function of the
    * data on both engines; no float accumulation anywhere.
    *
    * Out-of-vocabulary test tokens are dropped (standard); in-vocab
    * tokens unseen for a class contribute the smoothed floor
    * ln(1/(tot_c + V)) via the complement count, which avoids
    * materializing the dense class × vocab matrix.
    *
    * Shape at 100 TB: token counting is the q43 hash-agg; the model
    * (classes × observed-vocab log-probs) joins test tokens on the
    * token key — broadcast when small, shuffle equi-join when not; the
    * class frame (priors + floors) is K rows, always broadcast. */
  def naiveBayesLang(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(hex60C(md5(col("doc_id").cast(StringType))), lit(100L))
    val d = docs(s, dir).withColumn("is_train", bucket < 80)
    // exploded ONCE: train counts, vocab, and test counts all read this
    val tok = d.select(col("doc_id"), col("lang"), col("is_train"),
        explode(tokensC(col("text"))).as("t"))
      .localCheckpoint()
    val trainTok = tok.filter(col("is_train"))
    val vocab = trainTok.select("t").distinct().localCheckpoint()
    val vStats = vocab.agg(count(lit(1)).as("v"))
    val totals = trainTok.groupBy("lang").agg(count(lit(1)).as("tot"))
    val nTrain = d.filter(col("is_train")).agg(count(lit(1)).as("ntr"))
    val lnD = (num: Column, den: Column) =>
      round(log(num.cast(DoubleType) / den.cast(DoubleType)), 6)
        .cast(DecimalType(18, 6))
    // class frame: prior + unseen-token floor, K rows
    val cls = d.filter(col("is_train")).groupBy("lang")
      .agg(count(lit(1)).as("nd"))
      .join(totals, "lang").crossJoin(broadcast(vStats))
      .crossJoin(broadcast(nTrain))
      .select(col("lang").as("cls"),
        lnD(col("nd"), col("ntr")).as("prior"),
        lnD(lit(1), col("tot") + col("v")).as("lp0"))
    // model: per-(class, token) smoothed log-prob — observed pairs only
    val lp = trainTok.groupBy("lang", "t").agg(count(lit(1)).as("cnt"))
      .join(totals, "lang").crossJoin(broadcast(vStats))
      .select(col("lang").as("cls"), col("t"),
        lnD(col("cnt") + 1, col("tot") + col("v")).as("lp"))
    // held-out docs: in-vocab token counts (OOV dropped by the semi join)
    val testCnt = tok.filter(!col("is_train"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
      .join(vocab, Seq("t"), "left_semi")
      .localCheckpoint()
    val nIv = testCnt.groupBy("doc_id").agg(sum("cnt").as("n_iv"))
    val seen = testCnt.join(lp, "t")
      .groupBy("doc_id", "cls")
      .agg(sum(col("cnt") * col("lp")).as("slp"),
        sum("cnt").as("seen_cnt"))
    val scored = d.filter(!col("is_train"))
      .select(col("doc_id"), col("lang").as("true_lang"))
      .crossJoin(broadcast(cls))
      .join(nIv, Seq("doc_id"), "left")
      .join(seen, Seq("doc_id", "cls"), "left")
      .withColumn("score",
        col("prior") + coalesce(col("slp"), lit(0).cast(DecimalType(18, 6))) +
          (coalesce(col("n_iv"), lit(0L)) -
            coalesce(col("seen_cnt"), lit(0L))) * col("lp0"))
    val wArg = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("cls"))
    scored.withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .groupBy(col("true_lang"), col("cls").as("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_lang", "pred_lang")
  }

  /** q185: BIGRAM-LM PERPLEXITY — the CCNet/KenLM-style quality filter
    * (Wenzek et al. 2019, public): train an add-one-smoothed bigram
    * language model on the 80% md5 split, then score every held-out
    * document's per-token perplexity. Low-ppl docs read like the
    * training distribution; high-ppl docs are noise/boilerplate — the
    * standard "head/middle/tail" curation signal an LLM pipeline cuts
    * on. Training IS aggregation (context and bigram count tables);
    * there is no model object, just two count frames joined back at
    * scoring time.
    *
    * Per bigram (p, c): lp = round(ln((c2(p,c)+1) / (c1(p)+V)), 6) with
    * V = |train vocab| + 1 (the `<unk>` symbol OOV test tokens map to;
    * `<s>` opens every document and is its own context). The doc score
    * sums those 6dp-decimal lps EXACTLY (order-independent), divides by
    * the bigram count as one IEEE division, and exponentiates — ln/exp
    * 1-ulp engine skew is absorbed by the 6dp rounds on both ends.
    *
    * Shape at 100 TB: bigram expansion is a narrow flatMap; the count
    * tables shuffle on (context, token) — vocabulary-sized, not
    * corpus-sized; scoring is two equi-joins on those keys (broadcast
    * when the model is small, shuffle joins when it is not) and one
    * per-doc hash agg. */
  def bigramPerplexity(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(hex60C(md5(col("doc_id").cast(StringType))), lit(100L))
    val d = docs(s, dir).withColumn("is_train", bucket < 80)
      .withColumn("tkns", tokensC(col("text")))
    // bigram stream built ONCE: train counts, vocab, and test scoring
    // all read it
    val big0 = d.select(col("doc_id"), col("source"), col("is_train"),
        col("tkns"), posexplode(col("tkns")))
      .withColumnRenamed("col", "cur")
      .withColumn("prev", when(col("pos") === 0, lit("<s>"))
        .otherwise(element_at(col("tkns"), col("pos"))))
      .drop("tkns", "pos")
      .localCheckpoint()
    val train = big0.filter(col("is_train"))
    val vocab = train.select(col("cur").as("t")).distinct()
      .withColumn("in_v", lit(1)).localCheckpoint()
    val vS = vocab.agg((count(lit(1)) + 1).as("v")) // +1: <unk>
    val c1 = train.groupBy("prev").agg(count(lit(1)).as("c1"))
    val c2 = train.groupBy("prev", "cur").agg(count(lit(1)).as("c2"))
    val test = big0.filter(!col("is_train"))
      .join(vocab.select(col("t").as("cur"), col("in_v").as("cur_in")),
        Seq("cur"), "left")
      .join(vocab.select(col("t").as("prev"), col("in_v").as("prev_in")),
        Seq("prev"), "left")
      .select(col("doc_id"), col("source"),
        when(col("prev") === "<s>" || col("prev_in").isNotNull,
          col("prev")).otherwise("<unk>").as("p"),
        when(col("cur_in").isNotNull, col("cur"))
          .otherwise("<unk>").as("c"))
    test
      .join(c2.select(col("prev").as("p"), col("cur").as("c"), col("c2")),
        Seq("p", "c"), "left")
      .join(c1.select(col("prev").as("p"), col("c1")), Seq("p"), "left")
      .crossJoin(broadcast(vS))
      .withColumn("lp", round(
        log((coalesce(col("c2"), lit(0L)) + 1).cast(DoubleType) /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast(DoubleType)), 6)
        .cast(DecimalType(18, 6)))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("slp"))
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        round(exp(-col("slp").cast(DoubleType) / col("n_bigrams")), 6)
          .as("ppl"))
      .orderBy("doc_id")
  }

  /** q186: LENGTH-BUCKETED BATCH ASSEMBLY — the inference/serving
    * complement of q145's training-time packing: group documents into
    * fixed-size batches WITHIN power-of-two token-length buckets
    * (16/32/64/128/256/512) so each batch pads only to its own max, and
    * report each batch's realized fill ratio (sum of lengths ÷
    * n·batch-max — the fraction of compute not wasted on padding).
    * Length-similar batching is the standard dynamic-batching layout;
    * the fill column is the measured evidence the bucketing works.
    *
    * Batch assignment is a pure function of the data: docs order by
    * doc_id within their bucket, batch index = floor((rank−1)/B) — no
    * arrival-order nondeterminism. The fill division is one IEEE op on
    * exact integers, identical on both engines.
    *
    * Shape at 100 TB: one narrow map for lengths, one window per bucket
    * key (bounded fan-in — 6 buckets × corpus, each a keyed sort the
    * same shape as q16's top-k), one hash agg on (bucket, batch). */
  def lengthBucketBatches(s: SparkSession, dir: String,
                          batchSize: Int = 8): DataFrame = {
    require(batchSize > 0, s"bad batch size $batchSize")
    val nt = col("nt")
    val cap = when(nt <= 16, 16).when(nt <= 32, 32).when(nt <= 64, 64)
      .when(nt <= 128, 128).when(nt <= 256, 256).otherwise(512)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket_cap").orderBy("doc_id")
    docs(s, dir)
      .select(col("doc_id"), size(tokensC(col("text"))).as("nt"))
      .withColumn("bucket_cap", cap.cast(IntegerType))
      .withColumn("batch_idx",
        floor((row_number().over(w) - 1) / lit(batchSize))
          .cast(IntegerType))
      .groupBy("bucket_cap", "batch_idx")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        max("nt").cast(IntegerType).as("batch_max"),
        sum("nt").cast(LongType).as("sum_tokens"))
      .withColumn("fill_pct", round(
        col("sum_tokens").cast(DoubleType) /
          (col("n_docs") * col("batch_max")).cast(DoubleType), 6))
      .orderBy("bucket_cap", "batch_idx")
  }

  /** Vocabulary head: global token frequencies, top 20 with deterministic
    * tie-break. Two-phase hash agg on the token, then a tiny top-k. */
  def topTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(tokensC(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  /** q165's coverage targets — interpolated into the oracle. */
  val CoverageTargets: Seq[Int] = Seq(50, 90, 95, 99)

  /** q165: VOCABULARY COVERAGE CURVE — the Zipf-head measurement behind
    * tokenizer vocab sizing: how many top-frequency tokens cover 50 / 90 /
    * 95 / 99% of all token occurrences. One corpus-wide token hash-agg
    * (two-phase, map-side partial) collapses 100 TB of text to |vocab|
    * rows; the prefix sum then runs as ONE global window over that
    * POST-AGG frame — |vocab| ≪ corpus, the q140 small-frame-window
    * precedent (a web-scale vocabulary of ~10⁸ rows still fits one task;
    * past that, the standard two-level prefix sum — per-partition totals
    * broadcast back — swaps in without changing semantics). All counters
    * and the coverage test (cum·100 ≥ target·total) are exact integers. */
  def vocabCoverage(s: SparkSession, dir: String,
                    targets: Seq[Int] = CoverageTargets): DataFrame = {
    require(targets.nonEmpty && targets.forall(t => t > 0 && t <= 100),
      s"bad coverage targets: $targets")
    val counts = Tables.fanOut(docs(s, dir), "doc_id")
      .select(explode(tokensC(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val W = org.apache.spark.sql.expressions.Window
    val ord = W.orderBy(col("n").desc, col("token"))
    // the grand total rides the SAME window ordering with an unbounded
    // frame — both frames merge into ONE Window node over one exchange
    // (a separate counts.agg() branch would re-run the whole explode +
    // token aggregation: a second full corpus pass)
    val ranked = counts
      .withColumn("rk", row_number().over(ord))
      .withColumn("cum",
        sum("n").over(ord.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("total",
        sum("n").over(ord.rowsBetween(W.unboundedPreceding,
          W.unboundedFollowing)))
    val vAggs = targets.map(t =>
      min(when(col("cum") * 100 >= lit(t.toLong) * col("total"), col("rk")))
        .cast(IntegerType).as(s"v$t"))
    ranked.agg(
      max("total").as("total_tokens"),
      (max("rk").cast(IntegerType).as("vocab_size") +: vAggs): _*)
  }

  /** q167: TOKENIZER FERTILITY — per source, the BPE-tokens-per-word and
    * chars-per-token ratios that drive tokenizer/vocab design (high
    * fertility = the tokenizer fragments this source's text; the metric
    * multilingual pipelines track per language). One hash-agg of exact
    * integer sums; each ratio is ONE double division of exact integers
    * (the q140 rule — no per-row float means, no rounding needed: the
    * inputs are bit-identical so the quotients are too). */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"),
        size(tokensC(col("text"))).cast(LongType).as("words"),
        bpeTokensC(col("text")).cast(LongType).as("bpe"),
        length(col("text")).cast(LongType).as("chars"))
      .groupBy("source")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        sum("words").as("total_words"),
        sum("bpe").as("total_bpe"),
        sum("chars").as("total_chars"))
      // NULLIF-style guards: a zero denominator must be NULL on BOTH
      // engines (Spark x/0 is NULL, DuckDB is IEEE inf — the qualityExprs
      // precedent)
      .withColumn("fertility",
        col("total_bpe").cast(DoubleType) /
          when(col("total_words") > 0, col("total_words")))
      .withColumn("chars_per_token",
        col("total_chars").cast(DoubleType) /
          when(col("total_bpe") > 0, col("total_bpe")))
      .orderBy("source")

  val TfidfTopK = 3

  /** TF-IDF top-`TfidfTopK` terms per document. Two hash aggregations
    * (term frequency per (doc, token); document frequency per token), an
    * equi-join on token, and a per-doc top-k window. The RANKING key is
    * pure integers — (tf desc, df asc, token) — so result membership never
    * depends on float ULPs; the tfidf double is carried as data
    * (round(tf·ln(N/df), 6)). N arrives via a broadcast 1-row cross join,
    * not a driver collect.
    *
    * Plan note: the df side carries NO broadcast hint — it is
    * vocabulary-sized, which is usually broadcastable but NOT provably
    * so at 100 TB (a web-crawl vocabulary with long-tail tokens can
    * exceed executor memory). AQE sizes the df aggregate at runtime and
    * picks broadcast when it fits, falling back to a shuffle join on the
    * token key otherwise — the safe default a hard hint would override.
    * The tf side stays partitioned by doc — no all-corpus shuffle beyond
    * the df agg itself. */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.fanOut(docs(s, dir), "doc_id")
      .select(col("doc_id"), explode(tokensC(col("text"))).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("token").asc)
    tf.join(dfc, "token")
      .crossJoin(broadcast(n))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TfidfTopK)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf") * log(col("n").cast(DoubleType) / col("df")), 6)
          .as("tfidf"),
        col("rk").cast(IntegerType).as("rk"))
      .orderBy("doc_id", "rk")
  }

  private val EntRe = "\\b(customer|supplier|part)\\b"
  private val StopRe = "\\b(a|the)\\b"

  /** Normalization + redaction — the scrub pass a training corpus gets
    * before tokenization: count + replace entity-like tokens (the exact
    * shape of PII redaction; the synthetic corpus is digit-free, so
    * vocabulary entities stand in for emails/phones), strip stopwords,
    * collapse whitespace. Pure narrow codegen'd regex projections — at
    * 100 TB this runs at scan speed with zero shuffle. */
  def normalizeScrub(s: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(regexp_replace(col("text"), EntRe, "<ENT>"),
        StopRe, " "),
      "\\s+", " "))
    docs(s, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EntRe), lit(0)))
          .cast(IntegerType).as("n_ent"),
        size(regexp_extract_all(col("text"), lit(StopRe), lit(0)))
          .cast(IntegerType).as("n_stop"),
        length(norm).cast(LongType).as("norm_len"),
        md5(norm).as("norm_md5"))
      .orderBy("doc_id")
  }

  /** q100: END-TO-END PIPELINE COMPOSITE — the LLM-data-prep chain run as
    * ONE oracle-checked query: per-source median quality filter (q73's
    * keep rule) → exact dedup of the kept set (q26's normalization) →
    * per-source survivor summary. Proves operator COMPOSITION preserves
    * cross-engine parity, not just each step alone. Shape: one narrow
    * scoring pass, one source-key window, one hash-agg on the content
    * hash, one tiny summary agg — nothing quadratic, nothing driver-side,
    * exactly the chain a 100 TB curation run executes. */
  def pipelineComposite(s: SparkSession, dir: String): DataFrame = {
    // score INLINE over one documents scan (no doc_id self-join carrying
    // text through an extra shuffle — qualityExprs is the same expression
    // tree q23 verifies)
    val scoreCol = qualityExprs.toMap.apply("quality_score")
    val scored = docs(s, dir).select(col("doc_id"), col("source"),
      col("text"), scoreCol.as("quality_score"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(col("quality_score"), col("doc_id"))
    val kept = scored
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") >= 0.5)
    val canon = kept
      .withColumn("h", graft.dedup.Dedup.normHash(col("text")))
      .groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("copies"))
    canon.groupBy("source")
      .agg(count(lit(1)).as("n_canonical"), sum(col("copies")).as("n_kept"))
      .withColumn("n_dup_copies", col("n_kept") - col("n_canonical"))
      .orderBy("source")
  }

  /** q268: TEMPERATURE-SCALED SAMPLING WEIGHTS — the multilingual/
    * multi-source "alpha-sampling" rule (p_i ∝ tokens_i^α, α = 0.3):
    * raw token share under-samples small sources, so training mixes are
    * drawn from the tempered distribution; this reports, per source,
    * the raw share, the α-tempered share, and the boost factor the
    * temperature applies — the table a mixture designer reads before
    * fixing epoch weights. tokens^α is exp(α·ln tokens) with ln rounded
    * at 6 dp per SOURCE (one transcendental per source, not per row —
    * straddle-immune at any corpus size); the tempered mass normalizes
    * through an exact DECIMAL sum.
    *
    * Shape at 100 TB: one corpus scan into a per-source partial agg
    * (|sources| keys), then arithmetic on the tiny grouped frame with a
    * broadcast 1-row total. */
  def alphaMix(s: SparkSession, dir: String,
               alpha: Double = 0.3): DataFrame = {
    val g = docs(s, dir)
      .select(col("source"), bpeTokensC(col("text")).as("bt"))
      .groupBy("source")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        sum(col("bt")).cast(LongType).as("n_tokens"))
      .withColumn("u",
        when(col("n_tokens") > 0,
          round(exp(lit(alpha) *
            round(log(col("n_tokens").cast(DoubleType)), 6)), 6))
          .otherwise(lit(0.0)))
    val tot = g.agg(
      sum(col("n_tokens")).cast(DoubleType).as("tot_t"),
      sum(col("u").cast(DecimalType(18, 6))).cast(DoubleType).as("tot_u"))
    g.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast(DoubleType) / col("tot_t"), 9)
          .as("p_raw"),
        round(col("u") / col("tot_u"), 9).as("p_alpha"),
        // a token-free source has p_raw 0 — boost is NULL, not NaN/inf
        round(when(col("n_tokens") > 0,
          (col("u") / col("tot_u")) /
            (col("n_tokens").cast(DoubleType) / col("tot_t"))), 6)
          .as("boost"))
      .orderBy("source")
  }

  /** q269: EPOCH SHUFFLE MANIFEST — deterministic training order
    * without a global sort: batch(doc, epoch) = seeded-md5(doc_id) mod
    * `batches`, a fresh independent permutation per epoch seed. Reports
    * per (epoch, batch): docs, tokens, distinct sources, and the batch's
    * token load relative to a perfectly balanced split — the audit that
    * says whether hash-batching gives flat device utilization and
    * source diversity inside every batch.
    *
    * Shape at 100 TB: NO global ordering anywhere — batch assignment is
    * a stateless hash per row (the manifest a distributed loader can
    * recompute shard-locally), and the report is one hash-agg per epoch
    * over (epoch, batch) keys. Contrast with row_number shuffling, which
    * would serialize the corpus through one sort. */
  def epochBatches(s: SparkSession, dir: String, epochs: Int = 2,
                   batches: Int = 64): DataFrame = {
    val base = docs(s, dir)
      .select(col("doc_id"), col("source"),
        bpeTokensC(col("text")).as("bt"))
      .localCheckpoint() // scanned once per epoch plane
    val planes = (1 to epochs).map { e =>
      base.select(lit(e).as("epoch"),
        pmod(hex60C(seededMd5C(1000 + e,
          col("doc_id").cast(StringType))), lit(batches.toLong))
          .cast(IntegerType).as("batch"),
        col("source"), col("bt"))
    }.reduce(_ unionByName _)
    val g = planes.groupBy("epoch", "batch")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        sum(col("bt")).cast(LongType).as("n_tokens"),
        countDistinct(col("source")).cast(IntegerType).as("n_sources"))
    val tot = g.groupBy("epoch")
      .agg(sum(col("n_tokens")).cast(DoubleType).as("tt"))
    g.join(broadcast(tot), Seq("epoch"))
      .select(col("epoch"), col("batch"), col("n_docs"), col("n_tokens"),
        col("n_sources"),
        round(col("n_tokens").cast(DoubleType) * lit(batches) /
          col("tt"), 6).as("load_ratio"))
      .orderBy("epoch", "batch")
  }

  /** The q273 vocabulary-budget grid. */
  val CoverageKs: Seq[Int] = Seq(10, 100, 1000, 10000)

  /** q273: VOCABULARY COVERAGE CURVE — what fraction of the corpus's
    * token OCCURRENCES a top-K frequency vocabulary covers, for each
    * budget K: the sizing table read before fixing a tokenizer's vocab
    * or an OOV policy — the INVERSE of q165 (which asks how many types
    * reach a coverage target; this asks what coverage a budget buys).
    *
    * Shape at 100 TB: one scan into (token → count); each budget is a
    * distributed top-K (TakeOrderedAndProject: per-partition heaps,
    * driver merges K rows) + a sum — NO global rank window over the
    * vocabulary. Ties at the budget boundary break on the token string,
    * so the covered set is a pure function of the corpus. */
  def vocabBudgetCoverage(s: SparkSession, dir: String): DataFrame = {
    val vc = docs(s, dir)
      .select(explode(tokensC(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // totals + one top-K per budget
    val tot = vc.agg(sum(col("cnt")).as("n_tokens_total"),
      count(lit(1)).as("n_types"))
    val rows = CoverageKs.map { k =>
      val cov = vc.orderBy(col("cnt").desc, col("tok")).limit(k)
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("covered"))
      cov.crossJoin(broadcast(tot))
        .select(lit(k).as("vocab_k"), col("n_types"),
          col("n_tokens_total"), col("covered"),
          round(col("covered").cast(DoubleType) /
            col("n_tokens_total").cast(DoubleType), 6).as("coverage"))
    }
    rows.reduce(_ unionByName _).orderBy("vocab_k")
  }

  /** q276: REPETITION-LOOP DETECTOR — the degenerate-text census a
    * synthetic-data gate runs: a model stuck in a period-p loop emits
    * `… a b c a b c a b c …`, which surfaces as a run of positions i
    * with t[i] = t[i+p]. Per doc, the longest such run over periods
    * 1–3 (the loop covers run + p tokens); per source, how many docs
    * loop ≥ `minLoop` tokens and the worst loop seen. Quality scores
    * (q23) cannot see this — a loop has normal length, punctuation and
    * stopword ratios.
    *
    * Shape at 100 TB: the match planes are per-row ARRAY expressions
    * (no self-join — the positional compare stays inside the scan);
    * islands use doc-partitioned windows only; the census is one
    * source-key agg. */
  def repetitionLoops(s: SparkSession, dir: String,
                      minLoop: Int = 4): DataFrame =
    repetitionLoopsOf(
      Tables.fanOut(docs(s, dir), "doc_id")
        .select(col("doc_id"), col("source"), tokensC(col("text")).as("t")),
      minLoop)

  /** The loop census over an arbitrary (doc_id, source, t) frame —
    * exposed so the spec can plant a known period-p loop. */
  private[graft] def repetitionLoopsOf(baseIn: DataFrame,
                                       minLoop: Int): DataFrame = {
    val base = baseIn
      .localCheckpoint() // three period planes + the census read it
    val planes = (1 to 3).map { p =>
      base.select(col("doc_id"), lit(p).as("p"),
        explode(when(size(col("t")) > p,
          filter(sequence(lit(1), size(col("t")) - lit(p)),
            i => element_at(col("t"), i) ===
              element_at(col("t"), i + lit(p))))
          .otherwise(array().cast(ArrayType(IntegerType)))).as("i"))
    }.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "p").orderBy("i")
    val best = planes
      .withColumn("isl", col("i") - row_number().over(w))
      .groupBy("doc_id", "p", "isl").agg(count(lit(1)).as("len"))
      .groupBy("doc_id", "p").agg(max("len").as("mx"))
      .select(col("doc_id"), col("p"), (col("mx") + col("p")).as("rep"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("rep").desc, col("p"))
    val perDoc = best.withColumn("rk", row_number().over(wd))
      .filter(col("rk") === 1).select("doc_id", "rep")
    base.select("doc_id", "source")
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rep") >= minLoop, 1).otherwise(0)).as("n_loopy"),
        coalesce(max(col("rep")), lit(0L)).as("max_rep"))
      .withColumn("loopy_frac", round(col("n_loopy").cast(DoubleType) /
        col("n_docs").cast(DoubleType), 6))
      .orderBy("source")
  }

  /** q279's context-budget grid. */
  val PackingBudgets: Seq[Int] = Seq(512, 2048, 8192)

  /** q279: PACKING BUDGET SWEEP — q145's concat-and-chunk accounting
    * evaluated at the three context lengths a training stack actually
    * chooses between; adds the overall fill percentage (token mass over
    * allocated bin capacity), the utilization number that decides the
    * budget. Integer arithmetic end to end. */
  def packingSweep(s: SparkSession, dir: String): DataFrame =
    PackingBudgets.map { c =>
      sequencePacking(s, dir, c)
        .select(lit(c).as("budget"), col("source"), col("n_docs"),
          col("total_toks"), col("n_bins"), col("n_boundary_docs"),
          expr(s"CAST(total_toks * 100 DIV (n_bins * $c) AS INTEGER)")
            .as("fill_pct"))
    }.reduce(_ unionByName _).orderBy("budget", "source")

  val NoiseTopN = 50
  val NoiseTableBits = 20

  /** q282: NEGATIVE-SAMPLING NOISE TABLE — the unigram^0.75 sampling
    * distribution word2vec-family objectives draw negatives from,
    * materialized as slot counts in a 2^[[NoiseTableBits]] alias table:
    * per token (top-[[NoiseTopN]] by count), the raw count, the
    * tempered probability count^0.75 / Σ count^0.75, and the integer
    * number of table slots the token owns. The ^0.75 is
    * exp(0.75·ln count) with ln rounded at 6 dp per TYPE (vocab-sized,
    * not corpus-sized); the tempered mass normalizes through an exact
    * DECIMAL sum — the q268 recipe on the token axis.
    *
    * Shape at 100 TB: one scan into (token → count); everything after
    * runs on the vocabulary table. */
  def noiseTable(s: SparkSession, dir: String): DataFrame = {
    val vc = docs(s, dir)
      .select(explode(tokensC(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("u",
        round(exp(lit(0.75) *
          round(log(col("cnt").cast(DoubleType)), 6)), 6))
      .localCheckpoint() // total + top-N both read it
    val tot = vc.agg(
      sum(col("u").cast(DecimalType(18, 6))).cast(DoubleType).as("tu"))
    vc.orderBy(col("cnt").desc, col("tok")).limit(NoiseTopN)
      .crossJoin(broadcast(tot))
      .select(col("tok").as("token"), col("cnt").as("n_count"),
        round(col("u") / col("tu"), 9).as("noise_prob"),
        // floor on BOTH engines: Spark's double->long cast truncates,
        // DuckDB's rounds — an explicit floor removes the divergence
        floor(round(col("u") / col("tu"), 9) *
          lit((1L << NoiseTableBits).toDouble)).cast(LongType)
          .as("table_slots"))
      .orderBy(col("n_count").desc, col("token"))
  }

  /** q283: DUPLICATE-SENTENCE CENSUS — the C4 rule ("discard duplicate
    * spans at the sentence level") as a measurement: sentences split on
    * terminal punctuation, whitespace-normalized and lower-cased; per
    * source, total vs distinct sentence occurrences, the duplicated
    * fraction, and the worst offender (most-repeated sentence hash,
    * tie-broken on the hash). Hash-aggs only. */
  def sentenceDedup(s: SparkSession, dir: String): DataFrame = {
    val sent = Tables.fanOut(docs(s, dir), "doc_id")
      .select(col("source"),
        explode(split(lower(col("text")), "[.!?]+")).as("raw"))
      .select(col("source"),
        regexp_replace(trim(col("raw")), "\\s+", " ").as("sn"))
      .filter(length(col("sn")) > 0)
      .select(col("source"), md5(col("sn")).as("h"))
    val perSent = sent.groupBy("source", "h").agg(count(lit(1)).as("c"))
      .localCheckpoint() // census + worst-offender both read it
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("c").desc, col("h"))
    val worst = perSent.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("source"), col("h").as("top_hash"),
        col("c").as("top_repeats"))
    perSent.groupBy("source")
      .agg(sum(col("c")).as("n_sentences"),
        count(lit(1)).as("n_distinct"))
      .join(worst, Seq("source"))
      .select(col("source"), col("n_sentences"), col("n_distinct"),
        round((col("n_sentences") - col("n_distinct"))
          .cast(DoubleType) / col("n_sentences").cast(DoubleType), 6)
          .as("dup_frac"),
        col("top_hash"), col("top_repeats"))
      .orderBy("source")
  }

  val ShardsBefore = 8
  val ShardsAfter = 9

  /** q288: RENDEZVOUS (highest-random-weight) SHARD MAP — the
    * consistent-placement scheme a 100 TB layout uses so that GROWING
    * the shard count moves only ~1/(N+1) of the data (hash-mod would
    * reshuffle almost everything). Every doc's shard is the argmax of
    * a seeded per-(doc, shard) hash; the report shows each shard's doc
    * and token load under N = [[ShardsBefore]], and the census row of
    * the N → N+1 expansion: how many docs moved, with the ~1/(N+1)
    * theory fraction alongside. All integer hashing; argmax ties break
    * on shard id (md5 collisions make ties ~impossible, but the order
    * is still total).
    *
    * Shape at 100 TB: stateless per-row hashing (N hashes per doc,
    * no shuffle until the per-shard census) — the property that lets
    * every worker compute placement locally. */
  def rendezvousShards(s: SparkSession, dir: String): DataFrame = {
    // pure-integer argmax: weight dropped to 56 bits, the shard id
    // packed into the low nibble as (15 − shard), so greatest() picks
    // the highest weight with a LOWEST-shard tie-break and everything
    // stays positive signed-64 on both engines (no struct-comparison
    // semantics to trust cross-engine)
    def combined(shard: Int): Column =
      shiftright(hex60C(seededMd5C(3000 + shard,
        col("doc_id").cast(StringType))), 4) * 16 + (15 - shard)
    def argmaxShard(n: Int): Column =
      lit(15) - pmod(greatest((0 until n).map(combined): _*), lit(16L))
        .cast(IntegerType)
    val base = Tables.fanOut(docs(s, dir), "doc_id")
      .select(col("doc_id"), bpeTokensC(col("text")).as("bt"),
        argmaxShard(ShardsBefore).as("shard_before"),
        argmaxShard(ShardsAfter).as("shard_after"))
      .localCheckpoint() // shard census + move census read it
    val census = base.groupBy("shard_before")
      .agg(count(lit(1)).as("n_docs"), sum("bt").cast(LongType)
        .as("n_tokens"))
      .select(lit("shard").as("row_kind"),
        col("shard_before").cast(IntegerType).as("shard"),
        col("n_docs"), col("n_tokens"),
        lit(null).cast(DoubleType).as("moved_frac"),
        lit(null).cast(DoubleType).as("theory_frac"))
    val moved = base.agg(count(lit(1)).as("n"),
        sum(when(col("shard_before") =!= col("shard_after"), 1)
          .otherwise(0)).as("n_moved"))
      .select(lit("expansion").as("row_kind"),
        lit(-1).as("shard"), col("n_moved").as("n_docs"),
        lit(null).cast(LongType).as("n_tokens"),
        round(col("n_moved").cast(DoubleType) /
          col("n").cast(DoubleType), 6).as("moved_frac"),
        round(lit(1.0) / ShardsAfter, 6).as("theory_frac"))
    census.unionByName(moved).orderBy("row_kind", "shard")
  }

  val ChunkSize = 128
  val ChunkStride = 96

  /** q294: RAG CHUNKING PLAN — per-document sliding-window chunking
    * (window [[ChunkSize]] tokens, stride [[ChunkStride]] — the
    * 32-token overlap retrieval ingestion actually uses, distinct from
    * q145's concat-and-chunk TRAINING packing): per source, the chunk
    * count, the mean chunk fill (the final chunk of each doc is
    * usually short), the share of token positions duplicated by the
    * overlap, and the single-chunk-doc share. Chunk starts advance by
    * stride until a window covers the doc end (last start ≥
    * nt − size + 1; a doc shorter than one window is its own single
    * chunk) — pure integer arithmetic from per-doc
    * token counts; NO per-chunk row explosion (the counts are closed
    * forms over n_tokens, so the plan is one corpus scan + one
    * source-key agg). */
  def ragChunking(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(docs(s, dir), "doc_id")
      .select(col("source"), bpeTokensC(col("text")).cast(LongType)
        .as("nt"))
      .filter(col("nt") > 0)
    // chunks = 1 + ceil(max(0, nt - size) / stride); tokens emitted =
    // size per full window + the remainder tail, i.e. min(nt, size) +
    // (chunks - 1) * size capped by the doc end per window start
    val chunks = lit(1) +
      ceil(greatest(col("nt") - ChunkSize, lit(0L)).cast(DoubleType) /
        ChunkStride).cast(LongType)
    val base = d.withColumn("chunks", chunks)
      // emitted = Σ over starts of min(size, nt - start + 1): closed
      // form = chunks*size - overhang, where overhang is how far the
      // LAST window would run past the doc: (1 + (chunks-1)*stride +
      // size - 1) - nt, never negative by construction
      .withColumn("emitted",
        col("chunks") * ChunkSize -
          ((col("chunks") - 1) * ChunkStride + ChunkSize - col("nt")))
    base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").as("n_tokens"),
        sum("chunks").as("n_chunks"),
        sum("emitted").as("n_emitted"),
        sum(when(col("chunks") === 1, 1).otherwise(0))
          .as("n_single_chunk"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_chunks"), col("n_single_chunk"),
        round(col("n_emitted").cast(DoubleType) /
          (col("n_chunks") * ChunkSize).cast(DoubleType), 6)
          .as("mean_fill"),
        round((col("n_emitted") - col("n_tokens")).cast(DoubleType) /
          col("n_tokens").cast(DoubleType), 6).as("overlap_share"))
      .orderBy("source")
  }

  // ------------------------------------------------------------- oracles
  private val T = tokensS("text")

  /** DuckDB spelling of [[qualityExprs]]'s quality_score (expects the
    * words/chars/punct/stops CTE columns) — shared by q23/q73/q100. */
  private val QualityScoreS: String =
    "COALESCE(round(least(words / 100.0, 1.0) * 0.4" +
      " + (stops / NULLIF(words, 0)) * 0.4" +
      " + (1.0 - punct / NULLIF(chars, 0)) * 0.2, 6), 0.0)"

  /** The measure-column list QualityScoreS expects, over a relation
    * providing `text` and tokenized `t` — shared with Dedup's q162
    * oracle so the composite's quality stage cannot drift from q23's. */
  private[graft] def qualityMeasureColsS: String =
    s"""CAST(len(t) AS DOUBLE) AS words,
       |    CAST(length(text) AS DOUBLE) AS chars,
       |    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS punct,
       |    CAST(${countInSetS("t", Stopwords)} AS DOUBLE) AS stops""".stripMargin

  /** [[QualityScoreS]], exposed for the q162 oracle. */
  private[graft] def qualityScoreExprS: String = QualityScoreS

  /** DuckDB twins of [[withPredLang]]'s marker scores + argmax — over a
    * relation carrying tokenized `t` — shared by q24 and q219 so the
    * lang-ID rule cannot drift between the doc- and chunk-level ops. */
  private def langScoresS: String = LangMarkers.map { case (l, ms) =>
    s"${countInSetS("t", ms)} AS s_$l" }.mkString(",\n    ")
  private def langPredS: String =
    LangMarkers.map(_._1).foldRight("'und'") { case (l, e) =>
      val beats = LangMarkers.map(_._1).filter(_ != l)
        .map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"CASE WHEN s_$l > 0 AND $beats THEN '$l' ELSE $e END"
    }

  /** The scored-corpus CTEs q252/q256 share (m0, mq, scored). */
  private def isoScoredCtesS: String =
    s"""m0 AS (SELECT doc_id, lang, text, $T AS t FROM documents),
       |mq AS (SELECT doc_id, lang, text, t,
       |    $qualityMeasureColsS
       |  FROM m0),
       |scored AS (SELECT doc_id,
       |    CAST(CAST($QualityScoreS AS DECIMAL(18,6)) * 1000000
       |      AS BIGINT) AS qmu,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
       |  FROM mq)""".stripMargin

  /** The PAV minimax tail over a `binned(bin, n, e, sq)` CTE — the SQL
    * twin of [[pavOf]], shared by the q252 and q256 oracles. */
  private val PavSqlTail: String =
    """b0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY bin) AS INTEGER)
      |    AS bin, n, e, sq FROM binned),
      |prefix AS (SELECT bin,
      |    CAST(SUM(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
      |    CAST(SUM(e) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND CURRENT ROW) AS BIGINT) AS ce
      |  FROM b0),
      |p AS (SELECT * FROM prefix
      |  UNION ALL SELECT 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
      |avgs AS (SELECT jj.bin + 1 AS j, kk.bin AS k,
      |    CAST(kk.ce - jj.ce AS DOUBLE) / CAST(kk.cn - jj.cn AS DOUBLE)
      |      AS a
      |  FROM p kk JOIN p jj ON jj.bin < kk.bin WHERE kk.bin >= 1),
      |mj AS (SELECT j, MIN(a) AS m FROM avgs GROUP BY j),
      |iso AS (SELECT j, MAX(m) OVER (ORDER BY j ROWS BETWEEN
      |    UNBOUNDED PRECEDING AND CURRENT ROW) AS iso
      |  FROM mj)
      |SELECT CAST(b.bin AS INTEGER) AS bin,
      |  CAST(b.n AS INTEGER) AS n_docs,
      |  CAST(b.e AS INTEGER) AS n_pos,
      |  CAST(b.sq AS DOUBLE) / b.n / 1000000.0 AS bin_mean_q,
      |  CAST(b.e AS DOUBLE) / b.n AS rate,
      |  iso.iso AS iso_rate
      |FROM b0 b JOIN iso ON b.bin = iso.j
      |ORDER BY bin""".stripMargin

  /** Oracle-pinned frequency threshold for [[heavyHitters]]: report
    * every token with count · HhK > total tokens (i.e. frequency
    * > 1/HhK of the corpus). */
  val HhK: Int = 128

  /** q357: EXACT HEAVY HITTERS, TWO-PASS — every token above a 1/[[HhK]]
    * corpus-frequency threshold with its EXACT count, without ever
    * shuffling the full token stream into a groupBy: pass 1 runs
    * MISRA–GRIES summaries (k counters, decrement-all on overflow)
    * per partition — the one genuinely imperative per-partition job,
    * exactly what `mapPartitions` is for — and the UNION of partition
    * summaries is a guaranteed candidate superset (pigeonhole: a
    * globally-frequent item must be locally frequent somewhere, and MG
    * with k counters retains everything above n_p/(k+1)); pass 2
    * recounts ONLY the ≤ partitions·k candidates exactly and applies
    * the integer threshold cnt·k > n (division-free). The oracle is the
    * brute-force HAVING over a full groupBy — hash-equality certifies
    * the sketch pass lost nothing. At 100 TB the shuffle carries
    * candidate tokens only; the stopword-shaped skew that breaks a
    * naive token groupBy is absorbed inside each partition's counters. */
  def heavyHitters(s: SparkSession, dir: String, k: Int = HhK): DataFrame = {
    val toks = docs(s, dir)
      .select(explode(tokensC(col("text"))).as("tok"))
      .localCheckpoint() // count + MG pass + recount read one copy
    val n = toks.count()
    val cands: Array[String] = toks
      .select("tok").as[String](org.apache.spark.sql.Encoders.STRING)
      .mapPartitions { it =>
        val counters = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { t =>
          counters.get(t) match {
            case Some(c) => counters(t) = c + 1
            case None if counters.size < k => counters(t) = 1L
            case None => // decrement-all; evict zeros
              counters.toList.foreach { case (key, c) =>
                if (c == 1L) counters.remove(key) else counters(key) = c - 1
              }
          }
        }
        counters.keysIterator
      }(org.apache.spark.sql.Encoders.STRING)
      .distinct().collect() // ≤ numPartitions × k rows on the driver
    toks.filter(col("tok").isInCollection(cands.toIndexedSeq))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * k > n)
      .select(col("tok"), col("cnt"),
        round(col("cnt").cast(DoubleType) / lit(n.toDouble), 9).as("frac"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** Oracle-pinned constants for [[negativeSampling]]. */
  val NsVocab: Int = 1024
  val NsSamples: Int = 4096

  /** q361: DETERMINISTIC NEGATIVE SAMPLING — the word2vec/contrastive-
    * training draw: N noise tokens sampled ∝ unigram frequency from a
    * CAPPED sampling table (top-[[NsVocab]] tokens — the cap is the
    * industry shape AND the scale contract: the cumulative table must
    * be bounded, or its prefix-sum is a vocab-sized single-partition
    * window, q222's trap). Entirely integer arithmetic: the table is
    * [lo, lo+w) count intervals, each draw is a seeded 60-bit md5 fold
    * mod the total — no float inverse-CDF to diverge by an ulp, and
    * the same bytes on both engines.
    *
    * Shape at 100 TB: one token-count agg → top-K (TakeOrdered) → a
    * K-row cum table (bounded window) broadcast against the N-row draw
    * spine — the probe is a broadcast interval lookup, never a shuffle
    * of draws. Reports per-token draw counts vs the exact expectation. */
  def negativeSampling(s: SparkSession, dir: String,
                       vocab: Int = NsVocab,
                       nSamples: Int = NsSamples): DataFrame = {
    val top = docs(s, dir)
      .select(explode(tokensC(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("w"))
      .orderBy(col("w").desc, col("tok")).limit(vocab) // TakeOrdered
      .localCheckpoint() // cum window + total read the bounded frame
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("tok")
      .rowsBetween(Long.MinValue, -1)
    val cum = top // K-row frame: the single-partition window is BOUNDED
      .withColumn("lo", coalesce(sum("w").over(wCum), lit(0L)))
    val tot = top.agg(sum("w").as("t"))
    val draws = s.range(nSamples.toLong).select(col("id"))
      .crossJoin(broadcast(tot))
      .select(pmod(hex60C(md5(concat(lit("ns#"),
        col("id").cast(StringType)))), col("t")).as("u"))
    draws.join(broadcast(cum),
        col("u") >= col("lo") && col("u") < col("lo") + col("w"))
      .groupBy("tok")
      .agg(count(lit(1)).cast(IntegerType).as("n_drawn"),
        max(col("w")).as("w"))
      .crossJoin(broadcast(tot))
      .select(col("tok"), col("n_drawn"), col("w"),
        round(col("w").cast(DoubleType) / col("t").cast(DoubleType)
          * nSamples, 6).as("expected"))
      .orderBy(col("n_drawn").desc, col("tok"))
  }

  /** q389: HEAPS'-LAW VOCABULARY GROWTH CURVE — |vocab| as a function
    * of corpus prefix size: the statistic that sizes a tokenizer's
    * vocabulary BEFORE training it (q165's coverage curve answers
    * "how much text does a fixed vocab cover"; this answers the dual —
    * "how fast does vocab grow as the corpus does"). The corpus is cut
    * into [[HeapsSlices]] NTILE slices by doc_id (the q222-safe
    * two-pass [[graft.dedup.Dedup.ntileByKey]] ranking — never a
    * SinglePartition window over the corpus); each token's FIRST slice
    * of occurrence is one hash-agg min; the cumulative curve is a
    * bounded |slices|-row window. Reports per prefix: docs, running
    * token count, running vocab, and the type-token ratio whose decay
    * IS Heaps' law. */
  val HeapsSlices = 4
  def heapsCurve(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val sliceOf = graft.dedup.Dedup.ntileByKey(
      s, d.select("doc_id"), "doc_id", HeapsSlices)
    val toks = d.select(col("doc_id"), explode(tokensC(col("text")))
        .as("tok"))
      .filter(length(col("tok")) > 0)
      .join(sliceOf, Seq("doc_id"))
      .localCheckpoint() // first-slice agg + per-slice census share it
    val perSlice = toks.groupBy("slice")
      .agg(countDistinct("doc_id").as("nd"), count(lit(1)).as("ntok"))
    val newVocab = toks.groupBy("tok").agg(min("slice").as("fs"))
      .groupBy(col("fs").as("slice")).agg(count(lit(1)).as("nv"))
    // bounded |slices|-row cumulative window (constant-sized frame)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy("slice")
    perSlice.join(newVocab, Seq("slice"), "left")
      .withColumn("cum_docs", sum("nd").over(wCum))
      .withColumn("cum_tokens", sum("ntok").over(wCum))
      .withColumn("cum_vocab", sum(coalesce(col("nv"), lit(0L)))
        .over(wCum))
      .select(col("slice"),
        col("cum_docs").cast(IntegerType).as("cum_docs"),
        col("cum_tokens"),
        col("cum_vocab"),
        round(col("cum_vocab").cast(DoubleType) /
          col("cum_tokens").cast(DoubleType), 9).as("type_token_ratio"))
      .orderBy("slice")
  }

  /** q387: DOCUMENT-LEVEL CO-OCCURRENCE PMI — which token pairs appear
    * in the SAME DOCUMENT more than chance predicts: the topic/
    * collocation signal that adjacent-bigram PMI (q-PMI's window) is
    * blind to. Candidate-bounded the only way that scales: pairs are
    * formed ONLY among the top-[[CoocVocab]] document-frequency tokens
    * (a broadcast set), so the per-doc pair fanout is ≤ C(V,2) with V
    * fixed, never corpus-sized — the same cap discipline as q361's
    * sampling table. PMI = ln(N·c_ab/(c_a·c_b)) over PRESENCE counts
    * (distinct per doc), ln rounded to 6 dp at the row (the q192 libm
    * rule). One distinct-presence agg, one per-doc self-join on the
    * bounded vocabulary, one pair hash-agg. */
  val CoocVocab = 12
  def coocPmi(s: SparkSession, dir: String): DataFrame = {
    val pres = docs(s, dir)
      .select(col("doc_id"), explode(tokensC(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
      .localCheckpoint() // df ranking + pair join both read it
    val top = pres.groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(CoocVocab)
      .localCheckpoint()
    val kept = pres.join(broadcast(top.select("tok")), "tok")
    val n = docs(s, dir).count()
    val a = kept.select(col("doc_id"), col("tok").as("tok_a"))
    val b = kept.select(col("doc_id"), col("tok").as("tok_b"))
    a.join(b, Seq("doc_id")).filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("c_ab"))
      .join(broadcast(top.select(col("tok").as("tok_a"),
        col("df").as("c_a"))), "tok_a")
      .join(broadcast(top.select(col("tok").as("tok_b"),
        col("df").as("c_b"))), "tok_b")
      .select(col("tok_a"), col("tok_b"),
        col("c_ab").cast(IntegerType).as("n_docs_both"),
        // each df casts to DOUBLE INDIVIDUALLY before the product (the
        // q344 rule): a BIGINT df_a*df_b wraps silently in Spark at
        // large-corpus document frequencies while DuckDB would error
        round(log(lit(n.toDouble) * col("c_ab") /
          (col("c_a").cast(DoubleType) *
            col("c_b").cast(DoubleType))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
      .limit(20)
  }

  /** q383: KMV (BOTTOM-K) DISTINCT SKETCH — the k-minimum-values
    * estimator (Bar-Yossef et al.) completing the engine's sketch
    * family (HLL q259, Count-Min q257, Misra–Gries q357, bitmap q359,
    * histogram q380): keep the k smallest 60-bit hashes of a set; the
    * k-th smallest h₍ₖ₎ estimates the cardinality as
    * (k−1)·2⁶⁰/h₍ₖ₎. Two properties make it the LAKE sketch:
    *
    *  - the k-smallest selection is the per-key top-k idiom, which the
    *    engine's RewriteWindowTopK turns into bounded partial→final
    *    heaps — ships k rows per partition, never sorts the corpus;
    *  - MERGE = k smallest of the sketch UNION (each sketch contains
    *    its set's k minima, so the union's minima are all present) —
    *    the union estimate here is computed from the two k-row
    *    sketches alone, then checked against the exact union distinct.
    *
    * Per 3-gram-shingle set of two sources and their union: exact
    * distinct, the k-th hash, the KMV estimate, signed relative error.
    * Hashes are md5-derived — identical bytes on both engines.
    *
    * Small-set rule: when a scope yields FEWER than k distinct hashes
    * the sketch contains the entire set, so its size IS the exact
    * cardinality — the (k−1)·2⁶⁰/h₍ₖ₎ formula would divide by a max
    * hash that is nowhere near the k-th order statistic and wildly
    * overshoot. Standard KMV practice; applied on both engines. */
  def kmvDistinct(s: SparkSession, dir: String, k: Int = 128): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h")
    val hashes = docs(s, dir)
      .filter(col("source").isin("src1", "src2"))
      .select(col("source"),
        explode(shinglesC(tokensC(col("text")), 3)).as("sh"))
      .distinct()
      .select(col("source"), hex60C(md5(col("sh"))).as("h"))
      .localCheckpoint() // sketches + exact counts both read it
    val sketch = hashes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k) // -> TopKPerKeyExec bounded heaps
      .select("source", "h")
      .localCheckpoint()
    val wU = org.apache.spark.sql.expressions.Window.partitionBy("u")
      .orderBy("h")
    // union sketch from the TWO k-row sketches alone (mergeability)
    val merged = sketch.select(lit("union").as("u"), col("h")).distinct()
      .withColumn("rn", row_number().over(wU)).filter(col("rn") <= k)
      .select(col("u").as("scope"), col("h"))
    val perSrc = sketch.select(col("source").as("scope"), col("h"))
    val exact = hashes.groupBy(col("source").as("scope"))
      .agg(countDistinct("h").as("n_exact"))
      .unionAll(hashes.select("h").distinct()
        .agg(count(lit(1)).as("n_exact"))
        .select(lit("union").as("scope"), col("n_exact")))
    val pow60 = 1152921504606846976.0 // 2^60, exact as a double
    // small-set rule: a sketch with < k rows IS the whole set
    val estC = when(col("n_sk") < k, col("n_sk").cast(DoubleType))
      .otherwise(lit((k - 1).toDouble) * pow60 /
        col("kth_hash").cast(DoubleType))
    perSrc.unionAll(merged)
      .groupBy("scope").agg(count(lit(1)).as("n_sk"),
        max("h").as("kth_hash"))
      .join(exact, "scope")
      .select(col("scope"), col("n_exact"),
        col("kth_hash"),
        round(estC, 6).as("est"),
        round((estC - col("n_exact").cast(DoubleType)) /
          col("n_exact").cast(DoubleType), 6).as("rel_err"))
      .orderBy("scope")
  }

  /** q381: COUNT-MIN JOIN-SIZE ESTIMATION — the Cormode–Muthukrishnan
    * inner-product estimator: the self-join size J = Σ_k c(k)² of the
    * events key column, estimated as min_j Σ_b S_j[b]² from the SAME
    * d×w Count-Min sketch q257/q270 maintain — the statistic a 100 TB
    * planner wants BEFORE running a skewed join (J is exactly the row
    * count the join would produce; the sketch answers from d·w
    * counters without touching the fact table twice). Reported beside
    * the exact J with the guaranteed-one-sided overcount and relative
    * error — at w=1024 the expected excess is J_offdiag/w, and the
    * estimate can never undershoot (the spec asserts both).
    *
    * Determinism: counters are integer sums over seeded-md5 buckets
    * (identical bytes on both engines); every square is cast to
    * DECIMAL(38,0) BEFORE the multiply (the q344 rule — c(k)² wraps
    * BIGINT long before 100 TB key multiplicities do). The EMITTED
    * join sizes are BIGINT: accumulation stays DECIMAL(38,0) so the
    * running sum cannot wrap, and the final ANSI cast fails loudly if
    * a join size ever exceeds 9.2e18 rows — better than a raw
    * DECIMAL(38,0) column whose rendering the round-15 driver gate
    * proved engine-dependent (hash-fail on equal values).
    *
    * Shape at 100 TB: one key-count hash-agg, one d·w-row sketch agg,
    * a d-row inner-product agg — nothing key-cardinality-sized ever
    * sits on the driver. */
  def cmJoinSize(s: SparkSession, dir: String, d: Int = 4,
                 w: Int = 1024): DataFrame = {
    val d38 = DecimalType(38, 0)
    def buckets(k: Column): Column = array((0 until d).map { j =>
      struct(lit(j).as("j"),
        pmod(hex60C(seededMd5C(j, k)), lit(w.toLong)).as("bucket"))
    }: _*)
    val counts = Tables.load(s, dir, "events")
      .select(col("user_id").cast(StringType).as("k"))
      .groupBy("k").agg(count(lit(1)).as("c"))
      .localCheckpoint() // exact J + sketch build both read it
    val exactJ = counts
      .agg(sum(col("c").cast(d38) * col("c").cast(d38))
        .cast(LongType).as("exact_j"))
    val est = counts
      .select(explode(buckets(col("k"))).as("jb"), col("c"))
      .groupBy(col("jb.j").as("j"), col("jb.bucket").as("b"))
      .agg(sum("c").as("counter"))
      .groupBy("j")
      .agg(sum(col("counter").cast(d38) * col("counter").cast(d38))
        .as("ip"))
      .agg(min("ip").cast(LongType).as("est_j"))
    est.crossJoin(exactJ)
      .select(col("exact_j"), col("est_j"),
        (col("est_j") - col("exact_j")).as("overcount"),
        round((col("est_j") - col("exact_j")).cast(DoubleType) /
          col("exact_j").cast(DoubleType), 9).as("rel_err"))
  }

  /** q378: UNICODE NFC CANONICALIZATION CENSUS — the normalization
    * pass every multi-source LLM corpus needs before exact dedup or
    * shingling: composed and decomposed renditions of the SAME text
    * ("é" vs "e"+U+0301, Å vs the Angstrom sign) hash differently, so
    * un-canonicalized corpora silently miss duplicates. The corpus
    * fixture is ASCII, so the query PLANTS deterministic non-NFC
    * suffixes (doc_id%4 selects: none / combining acute / Angstrom
    * singleton / combining ring + NFC-invariant fi-ligature control),
    * normalizes through the native codegen [[graft.functions
    * .NfcNormalize]] expression (Spark has no builtin; a UDF would
    * break stage fusion on the corpus scan), and reports per lang: how
    * many docs changed, the codepoint delta, and an order-independent
    * 60-bit fingerprint of the normalized text. The DuckDB oracle runs
    * its own utf8proc `nfc_normalize` — byte-identical fingerprints
    * certify the two UAX#15 implementations agree on real text, not
    * just on the census counts. One scan, one hash-agg. */
  def nfcCensus(s: SparkSession, dir: String): DataFrame = {
    val m = pmod(col("doc_id"), lit(4L))
    val decorated = concat(col("text"),
      // planted suffixes are DECOMPOSED codepoint escapes (never
      // composed glyphs, which an editor could silently NFC-normalize):
      // e+COMBINING ACUTE; ANGSTROM SIGN (NFC singleton); A+COMBINING
      // RING + fi-ligature (NFC-invariant — the negative control)
      when(m === 1, lit("e\u0301"))
        .when(m === 2, lit("\u212B"))
        .when(m === 3, lit("A\u030A\uFB01"))
        .otherwise(lit("")))
    docs(s, dir)
      .select(col("lang"), decorated.as("dtext"))
      .withColumn("norm",
        graft.functions.StringExprs.nfcNormalize(col("dtext")))
      .select(col("lang"), col("dtext"), col("norm"),
        hex60C(md5(col("norm"))).as("h"))
      .groupBy("lang")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        sum(when(col("norm") =!= col("dtext"), 1L).otherwise(0L))
          .cast(IntegerType).as("n_changed"),
        sum(length(col("dtext")) - length(col("norm")))
          .as("delta_chars"),
        expr("bit_xor(h)").as("xor_fp"))
      .orderBy("lang")
  }

  /** q402: INTERPOLATED KNESER–NEY BIGRAM PERPLEXITY — the LM-quality
    * filter one rung above q185's add-one smoothing: absolute
    * discounting (D = 0.75, Kneser & Ney 1995; the fixed-discount form
    * benchmarked in Chen & Goodman 1999) with the CONTINUATION-count
    * back-off that makes KN the standard corpus-quality scorer
    * (CCNet-style filtering ranks documents by exactly this statistic):
    *
    *   P(c|p) = (max(c(p,c) − D, 0) + D·N₁₊(p·)·P_cont(c)) / c(p)
    *   P_cont(c) = (N₁₊(·c) + 1) / (N₁₊(··) + V + 1)    [+1: <unk> mass]
    *
    * and P(c|p) = P_cont(c) when context p was never seen in training.
    * All counts come from ONE distinct-bigram frame (c(p,c)): c(p) and
    * the fan-out N₁₊(p·) are a groupBy(prev) over it, the continuation
    * count N₁₊(·c) a groupBy(cur), the pair total one global count —
    * type-grain aggregates, corpus-size-decoupled like the BPE merge
    * state. Scoring is two hash joins of the test bigrams against those
    * narrow tables. Per-test-doc output: bigram count, how many bigrams
    * fell to the back-off path (integer-exact), and perplexity.
    *
    * Exactness: every probability is a fixed-shape double expression
    * over exact integers (D = 0.75 is binary-representable; association
    * is pinned identically in the oracle SQL), log-probs round to
    * DECIMAL(18,6) before the partition-order-independent sum — the
    * q185 discipline. Train/test is the md5 80/20 split. */
  /** The 80/20 md5-split bigram stream (doc_id, source, is_train, prev,
    * cur) shared by the q185/q402/q404 LM family. */
  private def bigramSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(hex60C(md5(col("doc_id").cast(StringType))), lit(100L))
    val d = docs(s, dir).withColumn("is_train", bucket < 80)
      .withColumn("tkns", tokensC(col("text")))
    d.select(col("doc_id"), col("source"), col("is_train"),
        col("tkns"), posexplode(col("tkns")))
      .withColumnRenamed("col", "cur")
      .withColumn("prev", when(col("pos") === 0, lit("<s>"))
        .otherwise(element_at(col("tkns"), col("pos"))))
      .drop("tkns", "pos")
      .localCheckpoint()
  }

  def knPerplexity(s: SparkSession, dir: String): DataFrame = {
    val big0 = bigramSplit(s, dir)
    val train = big0.filter(col("is_train"))
    val vocab = train.select(col("cur").as("t")).distinct()
      .withColumn("in_v", lit(1)).localCheckpoint()
    val vS = vocab.agg((count(lit(1)) + 1).as("v"))
    // the ONE bigram-type frame every KN statistic derives from
    val c2 = train.groupBy("prev", "cur").agg(count(lit(1)).as("c2"))
      .localCheckpoint()
    val c1 = c2.groupBy("prev").agg(sum("c2").as("c1"),
      count(lit(1)).as("n1f"))                       // c(p), N1+(p .)
    val n1r = c2.groupBy("cur").agg(count(lit(1)).as("n1r")) // N1+(. c)
    val n1a = c2.agg(count(lit(1)).as("n1all"))              // N1+(. .)
    val test = big0.filter(!col("is_train"))
      .join(vocab.select(col("t").as("cur"), col("in_v").as("cur_in")),
        Seq("cur"), "left")
      .join(vocab.select(col("t").as("prev"), col("in_v").as("prev_in")),
        Seq("prev"), "left")
      .select(col("doc_id"), col("source"),
        when(col("prev") === "<s>" || col("prev_in").isNotNull,
          col("prev")).otherwise("<unk>").as("p"),
        when(col("cur_in").isNotNull, col("cur"))
          .otherwise("<unk>").as("c"))
    val pcont = (coalesce(col("n1r"), lit(0L)) + 1).cast(DoubleType) /
      (col("n1all") + col("v")).cast(DoubleType)
    val pkn = when(col("c1").isNotNull,
      (greatest(coalesce(col("c2"), lit(0L)).cast(DoubleType) - 0.75,
          lit(0.0)) +
        lit(0.75) * col("n1f").cast(DoubleType) * pcont) /
        col("c1").cast(DoubleType))
      .otherwise(pcont)
    test
      .join(c2.select(col("prev").as("p"), col("cur").as("c"), col("c2")),
        Seq("p", "c"), "left")
      .join(c1.select(col("prev").as("p"), col("c1"), col("n1f")),
        Seq("p"), "left")
      .join(n1r.select(col("cur").as("c"), col("n1r")), Seq("c"), "left")
      .crossJoin(broadcast(vS)).crossJoin(broadcast(n1a))
      .withColumn("lp", round(log(pkn), 6).cast(DecimalType(18, 6)))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c2").isNull, 1L).otherwise(0L))
          .cast(IntegerType).as("n_backoff"),
        sum("lp").as("slp"))
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        col("n_backoff"),
        round(exp(-col("slp").cast(DoubleType) /
          col("n_bigrams").cast(DoubleType)), 6).as("ppl"))
      .orderBy("doc_id")
  }

  /** q404: JELINEK–MERCER DELETED INTERPOLATION — the EM fit for the
    * mixture weight λ of P_mix(c|p) = λ·P₂(c|p) + (1−λ)·P₁(c) (Jelinek
    * & Mercer 1980; the "deleted interpolation" baseline of Chen &
    * Goodman 1999), completing the LM-smoothing ladder next to q185
    * (add-one) and q402 (Kneser–Ney). P₂ is the bigram MLE c(p,c)/c(p)
    * (0 for unseen pairs), P₁ the Laplace unigram (c(w)+1)/(N+V); both
    * are stamped once per held-out bigram into ONE checkpointed scored
    * frame, and each of 3 EM rounds is then a single hash-agg over it:
    *
    *   r = λ·P₂ / (λ·P₂ + (1−λ)·P₁)   (posterior of the bigram arm)
    *   λ' = mean(r),  reported with the held-out mean log-likelihood
    *   under the λ that ENTERED the round.
    *
    * λ crosses rounds as ONE collected scalar per iteration (the
    * bounded-driver-state discipline of the Lloyd loop); responsibilities
    * round to 9 dp and log-likelihood terms to 6 dp into DECIMALs before
    * their partition-order-independent sums, and λ itself is pinned to
    * 9 dp so both engines iterate on identical doubles. Shape at
    * 100 TB: 3 × (one scan of the scored frame + a scalar agg) — the
    * classic "EM over sufficient statistics" pattern with nothing
    * driver-side but λ. */
  def jmInterpolation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big0 = bigramSplit(s, dir)
    val train = big0.filter(col("is_train"))
    val vocab = train.select(col("cur").as("t")).distinct()
      .withColumn("in_v", lit(1)).localCheckpoint()
    val vS = vocab.agg((count(lit(1)) + 1).as("v"))
    val nS = train.agg(count(lit(1)).as("n"))
    val c2 = train.groupBy("prev", "cur").agg(count(lit(1)).as("c2"))
    val c1 = train.groupBy("prev").agg(count(lit(1)).as("c1"))
    val uni = train.groupBy("cur").agg(count(lit(1)).as("cw"))
    val test = big0.filter(!col("is_train"))
      .join(vocab.select(col("t").as("cur"), col("in_v").as("cur_in")),
        Seq("cur"), "left")
      .join(vocab.select(col("t").as("prev"), col("in_v").as("prev_in")),
        Seq("prev"), "left")
      .select(
        when(col("prev") === "<s>" || col("prev_in").isNotNull,
          col("prev")).otherwise("<unk>").as("p"),
        when(col("cur_in").isNotNull, col("cur"))
          .otherwise("<unk>").as("c"))
    val p2 = when(col("c1").isNotNull,
      coalesce(col("c2"), lit(0L)).cast(DoubleType) /
        col("c1").cast(DoubleType)).otherwise(lit(0.0))
    val p1 = (coalesce(col("cw"), lit(0L)) + 1).cast(DoubleType) /
      (col("n") + col("v")).cast(DoubleType)
    val scored = test
      .join(c2.select(col("prev").as("p"), col("cur").as("c"), col("c2")),
        Seq("p", "c"), "left")
      .join(c1.select(col("prev").as("p"), col("c1")), Seq("p"), "left")
      .join(uni.select(col("cur").as("c"), col("cw")), Seq("c"), "left")
      .crossJoin(broadcast(vS)).crossJoin(broadcast(nS))
      .select(p2.as("p2"), p1.as("p1"))
      .localCheckpoint() // 3 EM rounds re-scan this one frame
    var lam = 0.5
    val rows = (1 to 3).map { iter =>
      val l = lit(lam); val oml = lit(1.0 - lam)
      val mix = l * col("p2") + oml * col("p1")
      val r = (l * col("p2")) / (l * col("p2") + oml * col("p1"))
      val a = scored.agg(
        (sum(round(r, 9).cast(DecimalType(28, 9))).cast(DoubleType) /
          count(lit(1))).as("lam_raw"),
        (sum(round(log(mix), 6).cast(DecimalType(18, 6)))
          .cast(DoubleType) / count(lit(1))).as("ll_raw"))
        .select(round(col("lam_raw"), 9).as("lam"),
          round(col("ll_raw"), 6).as("ll"))
        .collect()(0)
      val out = (iter, a.getDouble(0), a.getDouble(1))
      lam = a.getDouble(0)
      out
    }
    s.createDataset(rows).toDF("iter", "lambda", "avg_ll")
      .orderBy("iter")
  }

  def oracleSql: Map[String, String] = Map(
    // q404: identical scored frame (bigram/unigram MLEs), identical EM
    // update with lambda pinned to 9 dp between rounds
    "q404_jm_interpolation" -> {
      val emRound = (src: String) =>
        s"""SELECT
           |  round(CAST(SUM(CAST(round(
           |      (l.lam * p2) / (l.lam * p2 + (1.0 - l.lam) * p1), 9)
           |    AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 9) AS lam,
           |  round(CAST(SUM(CAST(round(
           |      ln(l.lam * p2 + (1.0 - l.lam) * p1), 6)
           |    AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS ll
           |FROM sc CROSS JOIN $src l""".stripMargin
      s"""WITH d AS (SELECT doc_id, source, $T AS t,
         |    ${hex60S("md5(CAST(doc_id AS VARCHAR))")} % 100 < 80
         |      AS is_train
         |  FROM documents),
         |b0 AS (SELECT doc_id, source, is_train,
         |    CASE WHEN i = 1 THEN '<s>' ELSE t[CAST(i - 1 AS INTEGER)] END
         |      AS prev,
         |    t[CAST(i AS INTEGER)] AS cur
         |  FROM (SELECT doc_id, source, is_train, t,
         |      unnest(range(1, len(t) + 1)) AS i FROM d)),
         |tr AS (SELECT * FROM b0 WHERE is_train),
         |vocab AS (SELECT DISTINCT cur AS w FROM tr),
         |vs AS (SELECT COUNT(*) + 1 AS v FROM vocab),
         |ns AS (SELECT COUNT(*) AS n FROM tr),
         |c2 AS (SELECT prev, cur, COUNT(*) AS c2 FROM tr
         |  GROUP BY prev, cur),
         |c1 AS (SELECT prev, COUNT(*) AS c1 FROM tr GROUP BY prev),
         |uni AS (SELECT cur, COUNT(*) AS cw FROM tr GROUP BY cur),
         |te AS (SELECT
         |    CASE WHEN prev = '<s>' OR prev IN (SELECT w FROM vocab)
         |      THEN prev ELSE '<unk>' END AS p,
         |    CASE WHEN cur IN (SELECT w FROM vocab)
         |      THEN cur ELSE '<unk>' END AS c
         |  FROM b0 WHERE NOT is_train),
         |sc AS (SELECT
         |    CASE WHEN c1.c1 IS NOT NULL THEN
         |      CAST(COALESCE(c2.c2, 0) AS DOUBLE) / CAST(c1.c1 AS DOUBLE)
         |    ELSE 0.0 END AS p2,
         |    CAST(COALESCE(uni.cw, 0) + 1 AS DOUBLE)
         |      / CAST(ns.n + vs.v AS DOUBLE) AS p1
         |  FROM te CROSS JOIN vs CROSS JOIN ns
         |  LEFT JOIN c2 ON te.p = c2.prev AND te.c = c2.cur
         |  LEFT JOIN c1 ON te.p = c1.prev
         |  LEFT JOIN uni ON te.c = uni.cur),
         |lam0 AS (SELECT CAST(0.5 AS DOUBLE) AS lam),
         |i1 AS (${emRound("lam0")}),
         |i2 AS (${emRound("i1")}),
         |i3 AS (${emRound("i2")})
         |SELECT CAST(1 AS INTEGER) AS iter, lam AS lambda, ll AS avg_ll
         |  FROM i1
         |UNION ALL SELECT 2, lam, ll FROM i2
         |UNION ALL SELECT 3, lam, ll FROM i3
         |ORDER BY iter""".stripMargin
    },
    // q402: interpolated Kneser-Ney, association pinned to the engine's
    // double expression shape; D=0.75 exact in binary
    "q402_kn_perplexity" ->
      s"""WITH d AS (SELECT doc_id, source, $T AS t,
         |    ${hex60S("md5(CAST(doc_id AS VARCHAR))")} % 100 < 80
         |      AS is_train
         |  FROM documents),
         |b0 AS (SELECT doc_id, source, is_train,
         |    CASE WHEN i = 1 THEN '<s>' ELSE t[CAST(i - 1 AS INTEGER)] END
         |      AS prev,
         |    t[CAST(i AS INTEGER)] AS cur
         |  FROM (SELECT doc_id, source, is_train, t,
         |      unnest(range(1, len(t) + 1)) AS i FROM d)),
         |tr AS (SELECT * FROM b0 WHERE is_train),
         |vocab AS (SELECT DISTINCT cur AS w FROM tr),
         |vs AS (SELECT COUNT(*) + 1 AS v FROM vocab),
         |c2 AS (SELECT prev, cur, COUNT(*) AS c2 FROM tr
         |  GROUP BY prev, cur),
         |c1 AS (SELECT prev, SUM(c2) AS c1, COUNT(*) AS n1f FROM c2
         |  GROUP BY prev),
         |n1r AS (SELECT cur, COUNT(*) AS n1r FROM c2 GROUP BY cur),
         |n1a AS (SELECT COUNT(*) AS n1all FROM c2),
         |te AS (SELECT doc_id, source,
         |    CASE WHEN prev = '<s>' OR prev IN (SELECT w FROM vocab)
         |      THEN prev ELSE '<unk>' END AS p,
         |    CASE WHEN cur IN (SELECT w FROM vocab)
         |      THEN cur ELSE '<unk>' END AS c
         |  FROM b0 WHERE NOT is_train),
         |sc AS (SELECT doc_id, source, c2.c2 AS cb, c1.c1 AS c1v,
         |    c1.n1f AS n1f, n1r.n1r AS n1rv, vs.v AS v,
         |    n1a.n1all AS n1all
         |  FROM te CROSS JOIN vs CROSS JOIN n1a
         |  LEFT JOIN c2 ON te.p = c2.prev AND te.c = c2.cur
         |  LEFT JOIN c1 ON te.p = c1.prev
         |  LEFT JOIN n1r ON te.c = n1r.cur),
         |lp AS (SELECT doc_id, source, cb,
         |    CAST(round(ln(CASE WHEN c1v IS NOT NULL THEN
         |        (GREATEST(CAST(COALESCE(cb, 0) AS DOUBLE) - 0.75, 0.0)
         |          + 0.75 * CAST(n1f AS DOUBLE)
         |            * (CAST(COALESCE(n1rv, 0) + 1 AS DOUBLE)
         |               / CAST(n1all + v AS DOUBLE)))
         |          / CAST(c1v AS DOUBLE)
         |      ELSE CAST(COALESCE(n1rv, 0) + 1 AS DOUBLE)
         |           / CAST(n1all + v AS DOUBLE) END), 6)
         |      AS DECIMAL(18,6)) AS lp
         |  FROM sc)
         |SELECT doc_id, source, COUNT(*) AS n_bigrams,
         |  CAST(SUM(CASE WHEN cb IS NULL THEN 1 ELSE 0 END) AS INTEGER)
         |    AS n_backoff,
         |  round(exp(-CAST(SUM(lp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)),
         |    6) AS ppl
         |FROM lp GROUP BY doc_id, source ORDER BY doc_id""".stripMargin,
    // q389: NTILE over the unique doc_id (DuckDB semantics == the
    // engine's two-pass ntileByKey), min-slice first occurrence, same
    // bounded cumulative frame
    "q389_heaps_curve" -> {
      val t = tokensS("text")
      s"""WITH sl AS (SELECT doc_id,
         |    NTILE($HeapsSlices) OVER (ORDER BY doc_id) AS slice
         |  FROM documents),
         |toks AS (SELECT d.doc_id, sl.slice, tok FROM
         |    (SELECT doc_id, unnest($t) AS tok FROM documents) d
         |  JOIN sl ON d.doc_id = sl.doc_id
         |  WHERE length(tok) > 0),
         |ps AS (SELECT slice, COUNT(DISTINCT doc_id) AS nd,
         |    COUNT(*) AS ntok FROM toks GROUP BY slice),
         |nv AS (SELECT fs AS slice, COUNT(*) AS nv FROM
         |    (SELECT tok, MIN(slice) AS fs FROM toks GROUP BY tok)
         |  GROUP BY fs)
         |SELECT CAST(ps.slice AS INTEGER) AS slice,
         |  CAST(SUM(nd) OVER (ORDER BY ps.slice) AS INTEGER) AS cum_docs,
         |  CAST(SUM(ntok) OVER (ORDER BY ps.slice) AS BIGINT)
         |    AS cum_tokens,
         |  CAST(SUM(COALESCE(nv.nv, 0)) OVER (ORDER BY ps.slice)
         |    AS BIGINT) AS cum_vocab,
         |  round(CAST(SUM(COALESCE(nv.nv, 0)) OVER (ORDER BY ps.slice)
         |      AS DOUBLE)
         |    / CAST(SUM(ntok) OVER (ORDER BY ps.slice) AS DOUBLE), 9)
         |    AS type_token_ratio
         |FROM ps LEFT JOIN nv ON ps.slice = nv.slice
         |ORDER BY ps.slice""".stripMargin
    },
    // q387: same presence counts, same bounded top-df vocabulary, same
    // ln-round-6 PMI shape
    "q387_cooc_pmi" -> {
      val t = tokensS("text")
      s"""WITH pres AS (SELECT DISTINCT doc_id, tok FROM
         |    (SELECT doc_id, unnest($t) AS tok FROM documents)
         |  WHERE length(tok) > 0),
         |top AS (SELECT tok, COUNT(*) AS df FROM pres GROUP BY tok
         |  ORDER BY df DESC, tok LIMIT $CoocVocab),
         |kept AS (SELECT doc_id, p.tok FROM pres p JOIN top USING (tok)),
         |nn AS (SELECT COUNT(*) AS n FROM documents),
         |pairs AS (SELECT a.tok AS tok_a, b.tok AS tok_b,
         |    COUNT(*) AS c_ab
         |  FROM kept a JOIN kept b ON a.doc_id = b.doc_id
         |    AND a.tok < b.tok
         |  GROUP BY 1, 2)
         |SELECT tok_a, tok_b, CAST(c_ab AS INTEGER) AS n_docs_both,
         |  round(ln(CAST(n AS DOUBLE) * c_ab
         |    / (CAST(ta.df AS DOUBLE) * CAST(tb.df AS DOUBLE))), 6)
         |    AS pmi
         |FROM pairs
         |JOIN top ta ON ta.tok = tok_a
         |JOIN top tb ON tb.tok = tok_b
         |CROSS JOIN nn
         |ORDER BY pmi DESC, tok_a, tok_b LIMIT 20""".stripMargin
    },
    // q383: same shingles, same 60-bit hashes, same k-smallest windows
    // (the oracle pays the sort the engine's top-k rewrite avoids)
    "q383_kmv_distinct" -> {
      val k = 128
      val t = tokensS("text")
      s"""WITH d AS (SELECT source, $t AS t FROM documents
         |  WHERE source IN ('src1', 'src2')),
         |sh AS (SELECT DISTINCT source, s FROM
         |  (SELECT source, unnest(${shinglesS("t", 3)}) AS s FROM d)),
         |hs AS (SELECT source, ${hex60S("md5(s)")} AS h FROM sh),
         |sk AS (SELECT source, h FROM (SELECT source, h,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
         |  FROM hs) WHERE rn <= $k),
         |mg AS (SELECT 'union' AS scope, h FROM (SELECT h,
         |    ROW_NUMBER() OVER (ORDER BY h) AS rn
         |  FROM (SELECT DISTINCT h FROM sk)) WHERE rn <= $k),
         |alls AS (SELECT source AS scope, h FROM sk
         |  UNION ALL SELECT scope, h FROM mg),
         |kth AS (SELECT scope, COUNT(*) AS n_sk, MAX(h) AS kth_hash
         |  FROM alls GROUP BY scope),
         |ex AS (SELECT source AS scope, COUNT(DISTINCT h) AS n_exact
         |    FROM hs GROUP BY source
         |  UNION ALL SELECT 'union', COUNT(DISTINCT h) FROM hs),
         |es AS (SELECT scope, n_exact, kth_hash,
         |    CASE WHEN n_sk < $k THEN CAST(n_sk AS DOUBLE)
         |      ELSE ${k - 1}.0 * 1152921504606846976.0
         |        / CAST(kth_hash AS DOUBLE) END AS e
         |  FROM kth JOIN ex USING (scope))
         |SELECT scope, n_exact, kth_hash, round(e, 6) AS est,
         |  round((e - CAST(n_exact AS DOUBLE))
         |    / CAST(n_exact AS DOUBLE), 6) AS rel_err
         |FROM es ORDER BY scope""".stripMargin
    },
    // q381: same seeded buckets, same integer counters, squares cast
    // to DECIMAL(38,0) before the multiply on both engines
    "q381_cm_join_size" -> {
      val (d, w) = (4, 1024)
      val bucketRows = (0 until d).map(j =>
        s"SELECT $j AS j, (${hex60S(seededMd5S(j, "k"))}) % $w AS b, c FROM kc")
        .mkString("\nUNION ALL\n")
      s"""WITH kc AS (SELECT CAST(user_id AS VARCHAR) AS k,
         |    COUNT(*) AS c FROM events GROUP BY 1),
         |ex AS (SELECT CAST(SUM(CAST(c AS DECIMAL(38,0))
         |    * CAST(c AS DECIMAL(38,0))) AS BIGINT) AS exact_j
         |  FROM kc),
         |jb AS ($bucketRows),
         |sk AS (SELECT j, b, SUM(c) AS counter FROM jb GROUP BY j, b),
         |ip AS (SELECT j, SUM(CAST(counter AS DECIMAL(38,0))
         |    * CAST(counter AS DECIMAL(38,0))) AS ip FROM sk GROUP BY j),
         |es AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_j FROM ip)
         |SELECT exact_j, est_j,
         |  est_j - exact_j AS overcount,
         |  round(CAST(est_j - exact_j AS DOUBLE)
         |    / CAST(exact_j AS DOUBLE), 9) AS rel_err
         |FROM es CROSS JOIN ex""".stripMargin
    },
    // q378: DuckDB's utf8proc NFC vs the JDK Normalizer — same planted
    // suffixes, same census, fingerprint over the normalized bytes
    "q378_nfc_census" -> {
      s"""WITH d AS (SELECT lang,
         |    text || CASE CAST(doc_id % 4 AS INTEGER)
         |      WHEN 1 THEN 'e' || chr(769)
         |      WHEN 2 THEN chr(8491)
         |      WHEN 3 THEN 'A' || chr(778) || chr(64257)
         |      ELSE '' END AS dtext
         |  FROM documents),
         |n AS (SELECT lang, dtext, nfc_normalize(dtext) AS norm FROM d),
         |h AS (SELECT lang, dtext, norm, ${hex60S("md5(norm)")} AS h
         |  FROM n)
         |SELECT lang, CAST(COUNT(*) AS INTEGER) AS n_docs,
         |  CAST(SUM(CASE WHEN norm <> dtext THEN 1 ELSE 0 END)
         |    AS INTEGER) AS n_changed,
         |  CAST(SUM(length(dtext) - length(norm)) AS BIGINT)
         |    AS delta_chars,
         |  bit_xor(h) AS xor_fp
         |FROM h GROUP BY lang ORDER BY lang""".stripMargin
    },
    // q361: identical integer sampling table + 60-bit md5 draws
    "q361_negative_sampling" ->
      s"""WITH toks AS (SELECT unnest(${tokensS("text")}) AS tok
         |  FROM documents),
         |counts AS (SELECT tok, COUNT(*) AS w FROM toks GROUP BY tok),
         |top AS (SELECT tok, w FROM counts
         |  ORDER BY w DESC, tok LIMIT $NsVocab),
         |cum AS (SELECT tok, w, COALESCE(SUM(w) OVER (ORDER BY tok
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS lo FROM top),
         |tot AS (SELECT SUM(w) AS t FROM top),
         |spine AS (SELECT unnest(generate_series(0, ${NsSamples - 1}))
         |    AS si),
         |-- the draw column must not be named i: hex60S expands to a
         |-- list_transform whose lambda variable is i and would shadow it
         |draws AS (SELECT
         |    ${hex60S("md5('ns#' || CAST(si AS VARCHAR))")}
         |      % (SELECT t FROM tot) AS u FROM spine),
         |hit AS (SELECT c.tok, c.w FROM draws d JOIN cum c
         |  ON d.u >= c.lo AND d.u < c.lo + c.w)
         |SELECT tok, CAST(COUNT(*) AS INTEGER) AS n_drawn, MAX(w) AS w,
         |  round(CAST(MAX(w) AS DOUBLE)
         |    / CAST((SELECT t FROM tot) AS DOUBLE) * $NsSamples, 6)
         |    AS expected
         |FROM hit GROUP BY tok
         |ORDER BY n_drawn DESC, tok""".stripMargin,
    // q357: the brute-force groupBy + HAVING the two-pass sketch route
    // must reproduce exactly
    "q357_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest(${tokensS("text")}) AS tok
         |  FROM documents),
         |nn AS (SELECT COUNT(*) AS n FROM toks)
         |SELECT tok, COUNT(*) AS cnt,
         |  round(CAST(COUNT(*) AS DOUBLE)
         |    / CAST((SELECT n FROM nn) AS DOUBLE), 9) AS frac
         |FROM toks GROUP BY tok
         |HAVING COUNT(*) * $HhK > (SELECT n FROM nn)
         |ORDER BY cnt DESC, tok""".stripMargin,
    // q330: identical integer-threshold weighted quantiles in DuckDB
    "q330_weighted_quantiles" ->
      s"""WITH m0 AS (SELECT doc_id, source, text, ${tokensS("text")} AS t
         |  FROM documents),
         |m AS (SELECT doc_id, source, text,
         |    $qualityMeasureColsS
         |  FROM m0),
         |p AS (SELECT doc_id, source,
         |    CAST(CAST($qualityScoreExprS AS DECIMAL(18,6)) * 1000000
         |      AS BIGINT) AS qmu,
         |    CAST(${bpeTokensS("text")} AS BIGINT) AS w
         |  FROM m),
         |c AS (SELECT source, doc_id, qmu, w,
         |    SUM(w) OVER (PARTITION BY source ORDER BY qmu, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cw,
         |    COUNT(*) OVER (PARTITION BY source ORDER BY qmu, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cn,
         |    SUM(w) OVER (PARTITION BY source) AS tw,
         |    COUNT(*) OVER (PARTITION BY source) AS tn
         |  FROM p)
         |SELECT source, CAST(MAX(tn) AS BIGINT) AS n_docs,
         |  CAST(MAX(tw) AS BIGINT) AS n_tokens,
         |  round(MIN(CASE WHEN cn * 2 >= tn THEN qmu END) / 1000000.0, 6)
         |    AS q50_doc,
         |  round(MIN(CASE WHEN cw * 4 >= tw THEN qmu END) / 1000000.0, 6)
         |    AS q25_tok,
         |  round(MIN(CASE WHEN cw * 2 >= tw THEN qmu END) / 1000000.0, 6)
         |    AS q50_tok,
         |  round(MIN(CASE WHEN cw * 4 >= tw * 3 THEN qmu END) / 1000000.0, 6)
         |    AS q75_tok
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    // q301: identical Poisson thresholds (JVM-computed longs inlined
    // on both engines), same hash plane, same order-statistic ranks
    "q301_bootstrap_ci" -> {
      val h = hex60S(
        "md5('bs' || CAST(b AS VARCHAR) || '#' || CAST(doc_id AS VARCHAR))")
      val wCase = BootThresholds.zipWithIndex
        .map { case (t, k) => s"WHEN $h < $t THEN $k" }
        .mkString("CASE ", " ", " ELSE 5 END")
      s"""WITH per AS MATERIALIZED (SELECT source, doc_id,
         |    CAST(CAST($qualityScoreExprS AS DECIMAL(18,6)) * 1000000
         |      AS BIGINT) AS qmu
         |  FROM (SELECT source, doc_id, text,
         |      $qualityMeasureColsS
         |    FROM (SELECT source, doc_id, text, ${tokensS("text")} AS t
         |      FROM documents))),
         |fl AS (SELECT source, COUNT(*) AS n_docs, SUM(qmu) AS sq
         |  FROM per GROUP BY source),
         |rep AS (SELECT source, doc_id, qmu, b
         |  FROM per, (SELECT unnest(generate_series(0, ${BootReps - 1}))
         |    AS b)),
         |ms AS (SELECT source, b,
         |    CAST(SUM(($wCase) * qmu) AS DOUBLE) /
         |      CAST(SUM($wCase) AS DOUBLE) AS m
         |  FROM rep GROUP BY source, b HAVING SUM($wCase) > 0),
         |rk AS (SELECT source, b, m, ROW_NUMBER() OVER
         |    (PARTITION BY source ORDER BY m, b) AS rk FROM ms),
         |ci AS (SELECT source, COUNT(*) AS n_reps,
         |    MAX(CASE WHEN rk = $BootLoRank THEN m END) AS lo,
         |    MAX(CASE WHEN rk = $BootHiRank THEN m END) AS hi
         |  FROM rk GROUP BY source)
         |SELECT fl.source, CAST(fl.n_docs AS BIGINT) AS n_docs,
         |  CAST(ci.n_reps AS BIGINT) AS n_reps,
         |  CAST(fl.sq AS DOUBLE) / CAST(fl.n_docs AS DOUBLE) / 1000000.0
         |    AS mean_q,
         |  ci.lo / 1000000.0 AS boot_lo,
         |  ci.hi / 1000000.0 AS boot_hi,
         |  (ci.hi - ci.lo) / 1000000.0 AS boot_spread
         |FROM fl JOIN ci ON fl.source = ci.source
         |ORDER BY fl.source""".stripMargin
    },
    // q302: q259's register/estimator spelling over the shingle space,
    // plus pair max-merge + inclusion-exclusion
    "q302_hll_intersect" -> {
      val h = graft.functions.TextPrims.hex60S(
        graft.functions.TextPrims.seededMd5S(0, "s"))
      val t = tokensS("text")
      // the q259 estimator as a CTE tail over (keys, n_filled,
      // isum_filled); keys distinguish the single and merged chains
      def estStages(pre: String, src: String, keys: String): String =
        hllEstStagesS(1024, pre, src, keys)
      s"""WITH d AS (SELECT source, list_distinct(${shinglesS("t", 3)})
         |    AS sh
         |  FROM (SELECT source, $t AS t FROM documents)),
         |sg AS MATERIALIZED (SELECT DISTINCT source, $h AS h
         |  FROM (SELECT source, unnest(sh) AS s FROM d)),
         |rr AS (SELECT source, h % 1024 AS idx, h // 1024 AS z FROM sg),
         |rk AS (SELECT source, idx,
         |    CASE WHEN z = 0 THEN 50 ELSE 51 - length(bin(z)) END AS rank
         |  FROM rr),
         |regs AS MATERIALIZED (SELECT source, idx, MAX(rank) AS mx
         |  FROM rk GROUP BY source, idx),
         |pr AS (SELECT x.source AS src_a, y.source AS src_b
         |  FROM (SELECT DISTINCT source FROM regs) x
         |  JOIN (SELECT DISTINCT source FROM regs) y
         |    ON x.source < y.source),
         |ss AS (SELECT source, COUNT(*) AS n_filled,
         |    CAST(SUM(CAST(1 AS BIGINT) << (50 - mx)) AS BIGINT)
         |      AS isum_filled
         |  FROM regs GROUP BY source),
         |${estStages("s", "ss", "source")},
         |mg AS (SELECT pr.src_a, pr.src_b, r.idx, MAX(r.mx) AS mx
         |  FROM regs r JOIN pr
         |    ON r.source = pr.src_a OR r.source = pr.src_b
         |  GROUP BY 1, 2, 3),
         |us AS (SELECT src_a, src_b, COUNT(*) AS n_filled,
         |    CAST(SUM(CAST(1 AS BIGINT) << (50 - mx)) AS BIGINT)
         |      AS isum_filled
         |  FROM mg GROUP BY src_a, src_b),
         |${estStages("u", "us", "src_a, src_b")},
         |iv AS (SELECT x.source AS src_a, y.source AS src_b,
         |    COUNT(*) AS ni
         |  FROM sg x JOIN sg y ON x.h = y.h AND x.source < y.source
         |  GROUP BY 1, 2)
         |SELECT pr.src_a, pr.src_b,
         |  CAST(COALESCE(iv.ni, 0) AS BIGINT) AS n_exact_inter,
         |  round(a.e, 6) AS hll_a,
         |  round(b.e, 6) AS hll_b,
         |  round(u.e, 6) AS hll_union,
         |  round(a.e + b.e - u.e, 6) AS inter_est,
         |  round(CASE WHEN COALESCE(iv.ni, 0) > 0 THEN
         |    (a.e + b.e - u.e - CAST(COALESCE(iv.ni, 0) AS DOUBLE)) /
         |      CAST(COALESCE(iv.ni, 0) AS DOUBLE) END, 6) AS rel_err
         |FROM pr JOIN sfin a ON a.source = pr.src_a
         |JOIN sfin b ON b.source = pr.src_b
         |JOIN ufin u ON u.src_a = pr.src_a AND u.src_b = pr.src_b
         |LEFT JOIN iv ON iv.src_a = pr.src_a AND iv.src_b = pr.src_b
         |ORDER BY pr.src_a, pr.src_b""".stripMargin
    },
    // q310: the rollup's oracle computes every level's registers FLAT
    // from the gram frame (group/global max over raw grams), so the
    // hash certifies the source->group->global merge lost nothing
    "q310_hll_hierarchy" -> {
      val h = graft.functions.TextPrims.hex60S(
        graft.functions.TextPrims.seededMd5S(0, "s"))
      val gh = graft.functions.TextPrims.hex60S(
        graft.functions.TextPrims.seededMd5S(1, "source"))
      val t = tokensS("text")
      s"""WITH d AS (SELECT source, list_distinct(${shinglesS("t", 3)})
         |    AS sh
         |  FROM (SELECT source, $t AS t FROM documents)),
         |sg AS MATERIALIZED (SELECT DISTINCT source, $h AS h
         |  FROM (SELECT source, unnest(sh) AS s FROM d)),
         |gsrc AS (SELECT source, CAST($gh % 4 AS INTEGER) AS gid
         |  FROM (SELECT DISTINCT source FROM sg)),
         |rk AS (SELECT g.gid, s.h % 1024 AS idx,
         |    CASE WHEN s.h // 1024 = 0 THEN 50
         |      ELSE 51 - length(bin(s.h // 1024)) END AS rank
         |  FROM sg s JOIN gsrc g ON s.source = g.source),
         |regs AS (SELECT gid, idx, MAX(rank) AS mx
         |    FROM rk GROUP BY gid, idx
         |  UNION ALL
         |  SELECT -1 AS gid, idx, MAX(rank) AS mx
         |    FROM rk GROUP BY idx),
         |ss AS (SELECT gid, COUNT(*) AS n_filled,
         |    CAST(SUM(CAST(1 AS BIGINT) << (50 - mx)) AS BIGINT)
         |      AS isum_filled
         |  FROM regs GROUP BY gid),
         |${hllEstStagesS(1024, "h", "ss", "gid")},
         |ns AS (SELECT gid, CAST(COUNT(*) AS INTEGER) AS n_sources
         |    FROM gsrc GROUP BY gid
         |  UNION ALL
         |  SELECT -1, CAST(COUNT(*) AS INTEGER) FROM gsrc),
         |ex AS (SELECT g.gid, COUNT(DISTINCT s.h) AS n_exact
         |    FROM sg s JOIN gsrc g ON s.source = g.source GROUP BY g.gid
         |  UNION ALL
         |  SELECT -1, COUNT(DISTINCT h) FROM sg)
         |SELECT e.gid, ns.n_sources,
         |  CAST(e.n_filled AS INTEGER) AS n_filled,
         |  round(e.e, 6) AS hll_est,
         |  CAST(ex.n_exact AS BIGINT) AS n_exact,
         |  round((e.e - CAST(ex.n_exact AS DOUBLE)) /
         |    CAST(ex.n_exact AS DOUBLE), 6) AS rel_err
         |FROM hfin e JOIN ns ON ns.gid = e.gid
         |JOIN ex ON ex.gid = e.gid
         |ORDER BY e.gid""".stripMargin
    },
    "q259_hll_distinct" -> {
      val h = graft.functions.TextPrims.hex60S(
        graft.functions.TextPrims.seededMd5S(0, "tok"))
      s"""WITH toks AS (SELECT DISTINCT source, tok FROM (
         |    SELECT source, unnest($T) AS tok FROM documents)
         |  WHERE length(tok) > 0),
         |hh AS (SELECT source, $h AS h FROM toks),
         |rr AS (SELECT source, h % 1024 AS idx, h // 1024 AS z FROM hh),
         |rk AS (SELECT source, idx,
         |    CASE WHEN z = 0 THEN 50 ELSE 51 - length(bin(z)) END AS rank
         |  FROM rr),
         |regs AS (SELECT source, idx, MAX(rank) AS mx
         |  FROM rk GROUP BY source, idx),
         |sums AS (SELECT source, COUNT(*) AS n_filled,
         |    CAST(SUM(CAST(1 AS BIGINT) << (50 - mx)) AS BIGINT)
         |      AS isum_filled
         |  FROM regs GROUP BY source),
         |fl AS (SELECT source, n_filled,
         |    1024 - n_filled AS v0,
         |    isum_filled + (1024 - n_filled) *
         |      (CAST(1 AS BIGINT) << 50) AS isum
         |  FROM sums),
         |est AS (SELECT source, n_filled, v0,
         |    $HllAlphaM2 * CAST(CAST(1 AS BIGINT) << 50 AS DOUBLE)
         |      / CAST(isum AS DOUBLE) AS raw
         |  FROM fl),
         |fin AS (SELECT source, n_filled,
         |    CASE WHEN raw <= ${2.5 * 1024} AND v0 > 0
         |      THEN 1024.0 * round(ln(1024.0 / CAST(v0 AS DOUBLE)), 6)
         |      ELSE raw END AS e
         |  FROM est),
         |ex AS (SELECT source, COUNT(DISTINCT tok) AS n_exact FROM toks
         |  GROUP BY source)
         |SELECT ex.source, CAST(ex.n_exact AS INTEGER) AS n_exact,
         |  CAST(fin.n_filled AS INTEGER) AS n_filled,
         |  round(fin.e, 6) AS hll_est,
         |  round((fin.e - CAST(ex.n_exact AS DOUBLE))
         |    / CAST(ex.n_exact AS DOUBLE), 6) AS rel_err
         |FROM fin JOIN ex ON fin.source = ex.source
         |ORDER BY ex.source""".stripMargin
    },
    "q257_count_min" -> {
      def bucketS(j: Int, tok: String) =
        s"${graft.functions.TextPrims.hex60S(
          graft.functions.TextPrims.seededMd5S(j, tok))} % 1024"
      val sketchArms = (0 until 4).map(j =>
        s"SELECT $j AS j, ${bucketS(j, "tok")} AS bucket, cnt FROM exact")
        .mkString("\nUNION ALL\n")
      val probeArms = (0 until 4).map(j =>
        s"SELECT tok, cnt, $j AS j, ${bucketS(j, "tok")} AS bucket " +
          "FROM top").mkString("\nUNION ALL\n")
      s"""WITH exact AS (SELECT tok, COUNT(*) AS cnt FROM (
         |    SELECT unnest($T) AS tok FROM documents)
         |  WHERE length(tok) > 0 GROUP BY tok),
         |ins AS ($sketchArms),
         |sketch AS (SELECT j, bucket, CAST(SUM(cnt) AS BIGINT) AS counter
         |  FROM ins GROUP BY j, bucket),
         |top AS (SELECT * FROM exact ORDER BY cnt DESC, tok LIMIT 20),
         |probes AS ($probeArms),
         |est AS (SELECT p.tok, p.cnt, MIN(s.counter) AS est
         |  FROM probes p JOIN sketch s
         |    ON p.j = s.j AND p.bucket = s.bucket
         |  GROUP BY p.tok, p.cnt)
         |SELECT tok AS token, CAST(cnt AS BIGINT) AS n_exact,
         |  est AS n_est, est - cnt AS overcount,
         |  CAST(est - cnt AS DOUBLE) / cnt AS rel_err
         |FROM est ORDER BY n_exact DESC, token""".stripMargin
    },
    "q255_theil_sen" ->
      s"""WITH m0 AS (SELECT doc_id, source, text, $T AS t FROM documents),
         |mq AS (SELECT doc_id, source, text, t,
         |    $qualityMeasureColsS
         |  FROM m0),
         |per AS (SELECT source, doc_id,
         |    ${graft.functions.TextPrims.bpeTokensS("text")} AS toks,
         |    CAST(CAST($QualityScoreS AS DECIMAL(18,6)) * 1000000
         |      AS BIGINT) AS ymu
         |  FROM mq),
         |px AS (SELECT source, doc_id, ymu,
         |    round(ln(CAST(toks AS DOUBLE)), 6) AS x
         |  FROM per WHERE toks > 0),
         |b AS (SELECT source, bin,
         |    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         |      AS xc,
         |    CAST(SUM(ymu) AS DOUBLE) / COUNT(*) / 1000000.0 AS yc
         |  FROM (SELECT source, x, ymu,
         |      NTILE(16) OVER (PARTITION BY source ORDER BY x, doc_id)
         |        AS bin
         |    FROM px)
         |  GROUP BY source, bin),
         |sl AS (SELECT a.source, a.bin AS i, c.bin AS j,
         |    (c.yc - a.yc) / (c.xc - a.xc) AS sl
         |  FROM b a JOIN b c ON a.source = c.source AND a.bin < c.bin
         |  WHERE c.xc <> a.xc),
         |ranked AS (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY sl, i, j)
         |      AS rn,
         |    COUNT(*) OVER (PARTITION BY source) AS ns
         |  FROM sl)
         |SELECT source, CAST(MAX(ns) AS INTEGER) AS n_slopes,
         |  (MIN(sl) + MAX(sl)) / 2 AS ts_slope
         |FROM ranked
         |WHERE rn = (ns + 1) // 2 OR rn = ns // 2 + 1
         |GROUP BY source ORDER BY source""".stripMargin,
    "q252_isotonic_calibration" ->
      s"""WITH $isoScoredCtesS,
         |binned AS (SELECT bin, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT)
         |      AS e, CAST(SUM(qmu) AS BIGINT) AS sq
         |  FROM (SELECT qmu, pos,
         |      NTILE(20) OVER (ORDER BY qmu, doc_id) AS bin
         |    FROM scored)
         |  GROUP BY bin),
         |$PavSqlTail""".stripMargin,
    "q256_isotonic_boundary" -> {
      val qs = (1 until 20).map(i => i.toDouble / 20)
      s"""WITH $isoScoredCtesS,
         |bnd AS (SELECT quantile_cont(qmu, [${qs.mkString(", ")}])
         |    AS bnd FROM scored),
         |binned AS (SELECT bin, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT)
         |      AS e, CAST(SUM(qmu) AS BIGINT) AS sq
         |  FROM (SELECT qmu, pos,
         |      CAST(len(list_filter(bnd.bnd,
         |        b -> CAST(qmu AS DOUBLE) > b)) + 1 AS INTEGER) AS bin
         |    FROM scored CROSS JOIN bnd)
         |  GROUP BY bin),
         |$PavSqlTail""".stripMargin
    },
    "q250_loo_source_impact" ->
      s"""WITH m0 AS (SELECT source, text, $T AS t FROM documents),
         |mq AS (SELECT source, text, t,
         |    $qualityMeasureColsS
         |  FROM m0),
         |per AS (SELECT source,
         |    CAST(CAST($QualityScoreS AS DECIMAL(18,6)) * 1000000
         |      AS BIGINT) AS qmu,
         |    CAST(${graft.functions.TextPrims.bpeTokensS("text")}
         |      AS BIGINT) AS toks
         |  FROM mq),
         |b AS (SELECT source, COUNT(*) AS ns,
         |    CAST(SUM(qmu) AS BIGINT) AS sq,
         |    CAST(SUM(toks) AS BIGINT) AS st
         |  FROM per GROUP BY source),
         |tot AS (SELECT CAST(SUM(ns) AS BIGINT) AS n,
         |    CAST(SUM(sq) AS BIGINT) AS totq,
         |    CAST(SUM(st) AS BIGINT) AS tott FROM b)
         |SELECT b.source, CAST(b.ns AS INTEGER) AS n_docs,
         |  CAST(totq AS DOUBLE) / n / 1000000.0 AS glob_mean_q,
         |  CASE WHEN n > ns THEN CAST(totq - sq AS DOUBLE) / (n - ns)
         |    / 1000000.0 END AS loo_mean_q,
         |  CASE WHEN n > ns THEN CAST(totq - sq AS DOUBLE) / (n - ns)
         |      / 1000000.0 - CAST(totq AS DOUBLE) / n / 1000000.0
         |    END AS delta_mean_q,
         |  CAST(tott AS DOUBLE) / n AS glob_mean_toks,
         |  CASE WHEN n > ns THEN CAST(tott - st AS DOUBLE) / (n - ns)
         |    END AS loo_mean_toks,
         |  CASE WHEN n > ns THEN CAST(tott - st AS DOUBLE) / (n - ns)
         |      - CAST(tott AS DOUBLE) / n END AS delta_mean_toks
         |FROM b CROSS JOIN tot ORDER BY b.source""".stripMargin,
    "q244_filter_ablation" -> {
      val rules = Seq(
        "1_quality"   -> "q < 0.5",
        "2_diversity" -> "ttr < 0.35",
        "3_stopword"  -> "stopr < 0.02",
        "4_len_band"  -> "(toks < 20 OR toks > 5000)")
      val flags = rules.zipWithIndex
        .map { case ((_, p), i) => s"$p AS f$i" }.mkString(",\n    ")
      val sums = rules.indices.flatMap { i =>
        val marg = (s"f$i" +: (0 until i).map(j => s"NOT f$j"))
          .mkString(" AND ")
        Seq(
          s"CAST(COUNT(CASE WHEN f$i THEN 1 END) AS INTEGER) AS ds_$i",
          s"CAST(COALESCE(SUM(CASE WHEN f$i THEN toks END), 0) AS INTEGER) AS ts_$i",
          s"CAST(COUNT(CASE WHEN $marg THEN 1 END) AS INTEGER) AS dm_$i",
          s"CAST(COALESCE(SUM(CASE WHEN $marg THEN toks END), 0) AS INTEGER) AS tm_$i")
      }.mkString(",\n    ")
      val arms = (Seq(
        "SELECT 0 AS rule_idx, '0_corpus' AS rule, n_all AS n_docs_solo, " +
          "t_all AS n_tokens_solo, n_all AS n_docs_marg, " +
          "t_all AS n_tokens_marg FROM a") ++
        rules.zipWithIndex.map { case ((nm, _), i) =>
          s"SELECT ${i + 1}, '$nm', ds_$i, ts_$i, dm_$i, tm_$i FROM a" })
        .mkString("\nUNION ALL\n")
      s"""WITH m0 AS (SELECT doc_id, text, $T AS t FROM documents),
         |mq AS (SELECT doc_id, text, t,
         |    $qualityMeasureColsS
         |  FROM m0),
         |b AS (SELECT
         |    ${graft.functions.TextPrims.bpeTokensS("text")} AS toks,
         |    $QualityScoreS AS q,
         |    CASE WHEN words > 0 THEN
         |      round(CAST(len(list_distinct(t)) AS DOUBLE) / words, 6)
         |      END AS ttr,
         |    CASE WHEN words > 0 THEN round(stops / words, 6) END
         |      AS stopr
         |  FROM mq),
         |f AS (SELECT toks,
         |    $flags
         |  FROM b),
         |a AS (SELECT
         |    $sums,
         |    CAST(COUNT(*) AS INTEGER) AS n_all,
         |    CAST(SUM(toks) AS INTEGER) AS t_all
         |  FROM f)
         |$arms
         |ORDER BY rule_idx""".stripMargin
    },
    "q242_curation_funnel" -> {
      val red = PiiPatterns.foldLeft("text") { case (e, (nm, p)) =>
        s"regexp_replace($e, '$p', '<${nm.toUpperCase}>', 'g')" }
      def arm(nm: String, rel: String) =
        s"""SELECT '$nm' AS stage, CAST(COUNT(*) AS INTEGER) AS n_docs,
           |  CAST(COALESCE(SUM(toks), 0) AS INTEGER) AS n_tokens
           |FROM $rel""".stripMargin
      s"""WITH m0 AS (SELECT doc_id, text, $T AS t FROM documents),
         |mq AS (SELECT doc_id, text, t,
         |    $qualityMeasureColsS
         |  FROM m0),
         |base AS (SELECT doc_id, $QualityScoreS AS q,
         |    ${graft.functions.TextPrims.bpeTokensS("text")} AS toks,
         |    md5(text) AS h, $red = text AS clean
         |  FROM mq),
         |s1 AS (SELECT * FROM base WHERE q >= 0.5),
         |k AS (SELECT h, MIN(doc_id) AS doc_id FROM s1 GROUP BY h),
         |s2 AS (SELECT s1.* FROM s1 JOIN k
         |  ON s1.h = k.h AND s1.doc_id = k.doc_id),
         |s3 AS (SELECT * FROM s2 WHERE clean),
         |s4 AS (SELECT * FROM s3 WHERE toks BETWEEN 10 AND 5000)
         |${arm("0_corpus", "base")}
         |UNION ALL
         |${arm("1_quality", "s1")}
         |UNION ALL
         |${arm("2_exact_dedup", "s2")}
         |UNION ALL
         |${arm("3_pii_clean", "s3")}
         |UNION ALL
         |${arm("4_len_band", "s4")}
         |ORDER BY stage""".stripMargin
    },
    "q241_seq_packing" ->
      s"""WITH RECURSIVE d AS (SELECT source,
         |    ${graft.functions.TextPrims.bpeTokensS("text")} AS toks,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
         |      AS rn
         |  FROM documents),
         |p AS (
         |  SELECT source, rn, toks, CAST(toks AS BIGINT) AS fill,
         |    CAST(1 AS BIGINT) AS seq
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.source, d.rn, d.toks,
         |    CASE WHEN p.fill + d.toks <= 2048
         |      THEN p.fill + d.toks ELSE CAST(d.toks AS BIGINT) END,
         |    CASE WHEN p.fill + d.toks <= 2048 THEN p.seq ELSE p.seq + 1
         |      END
         |  FROM p JOIN d ON d.source = p.source AND d.rn = p.rn + 1)
         |SELECT source, CAST(COUNT(*) AS INTEGER) AS n_docs,
         |  CAST(MAX(seq) AS INTEGER) AS n_seqs,
         |  CAST(COUNT(CASE WHEN toks > 2048 THEN 1 END) AS INTEGER)
         |    AS n_overflow,
         |  CAST(SUM(toks) AS INTEGER) AS total_tokens,
         |  round(CAST(SUM(toks) AS DOUBLE) / (MAX(seq) * 2048), 6)
         |    AS utilization
         |FROM p GROUP BY source ORDER BY source""".stripMargin,
    "q240_pii_redact" -> {
      val red = PiiPatterns.foldLeft("text") { case (e, (nm, p)) =>
        s"regexp_replace($e, '$p', '<${nm.toUpperCase}>', 'g')" }
      s"""WITH r AS (SELECT source, text, $red AS redacted FROM documents)
         |SELECT source, CAST(COUNT(*) AS INTEGER) AS n_docs,
         |  CAST(COUNT(CASE WHEN redacted <> text THEN 1 END) AS INTEGER)
         |    AS n_docs_changed,
         |  bit_xor(${graft.functions.TextPrims.hex60S("md5(redacted)")})
         |    AS xor_redacted,
         |  bit_xor(${graft.functions.TextPrims.hex60S("md5(text)")})
         |    AS xor_raw
         |FROM r GROUP BY source ORDER BY source""".stripMargin
    },
    "q239_pii_scan" -> {
      val cols = PiiPatterns.map { case (nm, p) =>
        s"len(regexp_extract_all(text, '$p')) AS c_$nm" }.mkString(", ")
      val aggs = PiiPatterns.map { case (nm, _) =>
        s"""CAST(COUNT(CASE WHEN c_$nm > 0 THEN 1 END) AS INTEGER)
           |      AS d_$nm,
           |    CAST(SUM(c_$nm) AS INTEGER) AS h_$nm""".stripMargin
      }.mkString(",\n    ")
      val arms = PiiPatterns.map { case (nm, _) =>
        s"""SELECT source, '$nm' AS pii_type, d_$nm AS n_docs_hit,
           |  h_$nm AS n_hits FROM a""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH c AS (SELECT source, $cols FROM documents),
         |a AS (SELECT source,
         |    $aggs
         |  FROM c GROUP BY source)
         |$arms
         |ORDER BY source, pii_type""".stripMargin
    },
    "q229_lang_kappa" ->
      s"""WITH d AS (SELECT doc_id, lang, $T AS t FROM documents),
         |sc AS (SELECT doc_id, lang, $langScoresS FROM d),
         |p AS (SELECT lang, $langPredS AS pred_lang FROM sc),
         |agree AS (SELECT COUNT(*) AS n,
         |    SUM(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END) AS na
         |  FROM p),
         |ma AS (SELECT lang, COUNT(*) AS ca FROM p GROUP BY lang),
         |mb AS (SELECT pred_lang, COUNT(*) AS cb FROM p
         |  GROUP BY pred_lang),
         |pe AS (SELECT COALESCE(SUM(CAST(ca * cb AS DECIMAL(38,0))),
         |    CAST(0 AS DECIMAL(38,0))) AS sab
         |  FROM ma JOIN mb ON ma.lang = mb.pred_lang)
         |SELECT CAST(n AS INTEGER) AS n,
         |  round(CAST(na AS DOUBLE) / n, 6) AS p_observed,
         |  round(CAST(sab AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6)
         |    AS p_expected,
         |  round((CAST(na AS DOUBLE) / n -
         |      CAST(sab AS DOUBLE) / (CAST(n AS DOUBLE) * n)) /
         |    (1.0 - CAST(sab AS DOUBLE) / (CAST(n AS DOUBLE) * n)), 6)
         |    AS kappa
         |FROM agree, pe""".stripMargin,
    "q228_quality_length_ols" ->
      s"""WITH m0 AS (SELECT doc_id, source, text, $T AS t FROM documents),
         |mq AS (SELECT doc_id, source, text, t,
         |    $qualityMeasureColsS
         |  FROM m0),
         |xy0 AS (SELECT source,
         |    ${graft.functions.TextPrims.bpeTokensS("text")} AS toks,
         |    $QualityScoreS AS y
         |  FROM mq),
         |xy AS (SELECT source, round(ln(CAST(toks AS DOUBLE)), 6) AS x, y
         |  FROM xy0 WHERE toks > 0),
         |m AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
         |    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE)
         |      AS sxy,
         |    CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE)
         |      AS sxx,
         |    CAST(SUM(CAST(round(y * y, 9) AS DECIMAL(28,9))) AS DOUBLE)
         |      AS syy
         |  FROM xy WHERE x IS NOT NULL GROUP BY source),
         |sl AS (SELECT source, n, sx, sy, sxy, sxx, syy,
         |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b FROM m),
         |ab AS (SELECT source, n, sx, sy, sxy, syy, b,
         |    (sy - b * sx) / n AS a FROM sl)
         |SELECT source, CAST(n AS INTEGER) AS n_docs,
         |  round(b, 6) AS slope, round(a, 6) AS intercept,
         |  round(1.0 - (syy - a * sy - b * sxy) / (syy - sy * sy / n), 6)
         |    AS r2
         |FROM ab ORDER BY source""".stripMargin,
    "q225_position_quality" ->
      s"""WITH m0 AS (SELECT doc_id,
         |    CAST((s - 1) // 150 AS INTEGER) AS idx,
         |    substr(text, CAST(s AS INTEGER), 200) AS text
         |  FROM (SELECT doc_id, text,
         |      unnest(range(1, greatest(length(text), 1) + 1, 150)) AS s
         |    FROM documents)),
         |m AS (SELECT doc_id, idx, text, $T AS t FROM m0),
         |mm AS (SELECT doc_id, idx,
         |    $qualityMeasureColsS
         |  FROM m),
         |q AS (SELECT doc_id, idx,
         |    CAST(CAST($QualityScoreS AS DECIMAL(18,6)) * 1000000
         |      AS BIGINT) AS qu
         |  FROM mm),
         |w AS (SELECT *, MAX(idx) OVER (PARTITION BY doc_id) AS nc FROM q),
         |p AS (SELECT CASE WHEN idx = 0 THEN '1_head'
         |    WHEN idx = nc THEN '3_tail' ELSE '2_middle' END AS pos, qu
         |  FROM w)
         |SELECT pos, CAST(COUNT(*) AS INTEGER) AS n_chunks,
         |  CAST(SUM(qu) AS DOUBLE) / COUNT(*) / 1000000.0 AS mean_quality
         |FROM p GROUP BY pos ORDER BY pos""".stripMargin,
    "q220_source_entropy" ->
      s"""WITH tok AS (SELECT source, unnest($T) AS w FROM documents),
         |tf AS (SELECT source, w, COUNT(*) AS c FROM tok
         |  GROUP BY source, w),
         |st AS (SELECT source, SUM(c) AS ct, COUNT(*) AS v FROM tf
         |  GROUP BY source),
         |g AS (SELECT w, SUM(c) AS cg FROM tf GROUP BY w),
         |gt AS (SELECT SUM(cg) AS cgt FROM g),
         |j AS (SELECT tf.source, ct, v,
         |    CAST(c AS DOUBLE) / ct AS p,
         |    CAST(cg AS DOUBLE) / cgt AS pg
         |  FROM tf
         |  JOIN st ON tf.source = st.source
         |  JOIN g ON tf.w = g.w, gt),
         |a AS (SELECT source, ANY_VALUE(ct) AS n_tokens,
         |    ANY_VALUE(v) AS n_vocab,
         |    SUM(CAST(round(-p * round(ln(p), 6), 12)
         |      AS DECIMAL(28,12))) AS hsum,
         |    SUM(CAST(round(p * round(ln(p / pg), 6), 12)
         |      AS DECIMAL(28,12))) AS klsum
         |  FROM j GROUP BY source)
         |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_vocab AS INTEGER) AS n_vocab,
         |  round(CAST(hsum AS DOUBLE), 6) AS entropy,
         |  round(CAST(klsum AS DOUBLE), 6) AS kl_vs_corpus
         |FROM a ORDER BY source""".stripMargin,
    "q221_token_burstiness" ->
      s"""WITH perdoc AS (SELECT w, doc_id, COUNT(*) AS c FROM
         |  (SELECT doc_id, unnest($T) AS w FROM documents)
         |  GROUP BY w, doc_id),
         |nd AS (SELECT COUNT(*) AS nn FROM documents),
         |stats AS (SELECT w, COUNT(*) AS n_docs, SUM(c) AS sc,
         |    SUM(CAST(c * c AS DECIMAL(38,0))) AS sc2
         |  FROM perdoc GROUP BY w HAVING SUM(c) >= 50),
         |f AS (SELECT w, n_docs, sc, sc2, CAST(nn AS DOUBLE) AS n FROM
         |  stats, nd),
         |m AS (SELECT w, n_docs, sc,
         |    CAST(sc AS DOUBLE) / n AS mean,
         |    (CAST(sc2 AS DOUBLE) - (CAST(sc AS DOUBLE) / n)
         |      * (CAST(sc AS DOUBLE) / n) * n) / (n - 1) AS vr
         |  FROM f)
         |SELECT w AS token, CAST(sc AS INTEGER) AS n_occ,
         |  CAST(n_docs AS INTEGER) AS n_docs,
         |  round(vr / mean, 6) AS vmr
         |FROM m ORDER BY vmr DESC, token LIMIT 20""".stripMargin,
    "q219_code_switching" ->
      s"""WITH t0 AS (SELECT doc_id,
         |    ${tokensS("substr(text, CAST(s AS INTEGER), 200)")} AS t
         |  FROM (SELECT doc_id, text,
         |      unnest(range(1, greatest(length(text), 1) + 1, 150)) AS s
         |    FROM documents)),
         |sc AS (SELECT doc_id, $langScoresS FROM t0),
         |p AS (SELECT doc_id, $langPredS AS pred_lang FROM sc),
         |tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM p GROUP BY doc_id),
         |per AS (SELECT doc_id, pred_lang, COUNT(*) AS c FROM p
         |  WHERE pred_lang <> 'und' GROUP BY 1, 2),
         |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY c DESC, pred_lang) AS rk FROM per),
         |agg AS (SELECT doc_id, SUM(c) AS n_classified,
         |    COUNT(*) AS n_langs,
         |    MAX(CASE WHEN rk = 1 THEN pred_lang END) AS majority_lang,
         |    MAX(CASE WHEN rk = 1 THEN c END) AS cmaj
         |  FROM rk GROUP BY doc_id)
         |SELECT tot.doc_id, CAST(n_chunks AS INTEGER) AS n_chunks,
         |  CAST(COALESCE(n_langs, 0) AS INTEGER) AS n_langs,
         |  majority_lang,
         |  round(CAST(cmaj AS DOUBLE) / CAST(n_classified AS DOUBLE), 6)
         |    AS majority_share,
         |  CAST(COALESCE(n_langs, 0) >= 2 AND cmaj * 5 <= n_classified * 4
         |    AS INTEGER) AS is_mixed
         |FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id
         |ORDER BY tot.doc_id""".stripMargin,
    "q216_pmi_collocations" ->
      s"""WITH tok AS (SELECT doc_id, u.p AS p, t[u.p] AS w
         |  FROM (SELECT doc_id, $T AS t FROM documents),
         |    unnest(generate_series(1, len(t))) AS u(p)),
         |uni AS (SELECT w, COUNT(*) AS cw FROM tok GROUP BY w),
         |tot AS (SELECT SUM(cw) AS n FROM uni),
         |big AS (SELECT w AS wa,
         |    LEAD(w) OVER (PARTITION BY doc_id ORDER BY p) AS wb
         |  FROM tok),
         |cab AS (SELECT wa, wb, COUNT(*) AS cab FROM big
         |  WHERE wb IS NOT NULL GROUP BY wa, wb HAVING COUNT(*) >= 5)
         |SELECT wa, wb, CAST(cab AS INTEGER) AS n_ab,
         |  round(ln(CAST(n AS DOUBLE) * cab /
         |    (CAST(ua.cw AS DOUBLE) * ub.cw)), 6) AS pmi
         |FROM cab
         |JOIN uni ua ON cab.wa = ua.w
         |JOIN uni ub ON cab.wb = ub.w, tot
         |ORDER BY pmi DESC, wa, wb LIMIT 20""".stripMargin,
    "q215_learning_ladder" -> {
      val bkt = hex60S("md5(CAST(doc_id AS VARCHAR))") + " % 4096"
      val steps = Seq(64, 16, 4, 1)
      val sel = steps.map { den =>
        val thr = 4096L / den
        s"""SELECT '1/$den' AS step, CAST($thr AS BIGINT) AS threshold,
           |  CAST(SUM(CASE WHEN b < $thr THEN 1 ELSE 0 END) AS INTEGER)
           |    AS n_docs,
           |  CAST(SUM(CASE WHEN b < $thr THEN toks ELSE 0 END) AS BIGINT)
           |    AS total_tokens,
           |  CAST(SUM(CASE WHEN b < $thr THEN qu ELSE 0 END) AS DOUBLE) /
           |    SUM(CASE WHEN b < $thr THEN 1 ELSE 0 END) / 1000000.0
           |    AS mean_quality
           |FROM d""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH m0 AS (SELECT doc_id, text, $T AS t FROM documents),
         |m AS (SELECT doc_id, text, t,
         |    $qualityMeasureColsS
         |  FROM m0),
         |d AS (SELECT $bkt AS b,
         |    CAST(${graft.functions.TextPrims.bpeTokensS("text")}
         |      AS BIGINT) AS toks,
         |    CAST(CAST($QualityScoreS AS DECIMAL(18,6)) * 1000000
         |      AS BIGINT) AS qu
         |  FROM m)
         |$sel
         |ORDER BY threshold""".stripMargin
    },
    "q210_gini_concentration" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(${graft.functions.TextPrims.bpeTokensS("text")}
         |      AS BIGINT) AS toks
         |  FROM documents),
         |r AS (SELECT source, toks,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY toks, doc_id) AS i
         |  FROM d),
         |a AS (SELECT source, COUNT(*) AS n,
         |    SUM(CAST(toks AS DECIMAL(38,0))) AS sx,
         |    SUM(CAST(i AS DECIMAL(38,0)) * toks) AS six
         |  FROM r GROUP BY source)
         |SELECT source, CAST(n AS INTEGER) AS n_docs,
         |  CAST(sx AS BIGINT) AS total_toks,
         |  round(CAST(CAST(2 AS DECIMAL(38,0)) * six -
         |      CAST(n + 1 AS DECIMAL(38,0)) * sx AS DOUBLE) /
         |    CAST(CAST(n AS DECIMAL(38,0)) * sx AS DOUBLE), 6) AS gini
         |FROM a ORDER BY source""".stripMargin,
    "q207_quantile_calibration" -> {
      val qsArr = (0 to 10).map(i => i / 10.0)
      s"""WITH m0 AS (SELECT doc_id, source, text, $T AS t FROM documents),
         |m AS (SELECT doc_id, source, text, t,
         |    $qualityMeasureColsS
         |  FROM m0),
         |d AS (SELECT source,
         |    CAST(CAST($QualityScoreS AS DECIMAL(18,6)) * 1000000
         |      AS BIGINT) AS vq
         |  FROM m),
         |bysrc AS (SELECT source,
         |    quantile_cont(vq, [${qsArr.mkString(", ")}]) AS qs
         |  FROM d GROUP BY source),
         |gl AS (SELECT quantile_cont(vq, [${qsArr.mkString(", ")}]) AS gq
         |  FROM d),
         |se AS (SELECT source, i - 1 AS i, qs[i] AS src_q
         |  FROM bysrc, unnest(generate_series(1, 11)) AS u(i)),
         |ge AS (SELECT i - 1 AS i, gq[i] AS glob_q
         |  FROM gl, unnest(generate_series(1, 11)) AS u(i))
         |SELECT source, CAST(se.i AS INTEGER) AS decile,
         |  src_q / 1000000.0 AS src_q,
         |  glob_q / 1000000.0 AS glob_q,
         |  src_q / 1000000.0 - glob_q / 1000000.0 AS shift
         |FROM se JOIN ge ON se.i = ge.i
         |ORDER BY source, decile""".stripMargin
    },
    "q202_es_weighted_sample" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(${graft.functions.TextPrims.bpeTokensS("text")}
         |      AS BIGINT) AS toks
         |  FROM documents),
         |ks AS (SELECT doc_id, toks,
         |    round(ln((${hex60S("md5('es#' || CAST(doc_id AS VARCHAR))")}
         |      + 1.0) / 1152921504606846976.0), 9) / toks AS es_key
         |  FROM d WHERE toks > 0),
         |r AS (SELECT doc_id, toks, es_key,
         |    CAST(ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id)
         |      AS INTEGER) AS rk
         |  FROM ks)
         |SELECT doc_id, toks, es_key, rk FROM r
         |WHERE rk <= 50 ORDER BY rk""".stripMargin,
    "q200_release_gate" ->
      s"""WITH d AS (SELECT doc_id, source, text, $T AS t FROM documents),
         |m AS (SELECT doc_id, source, text,
         |    CAST(len(regexp_extract_all(lower(text), '$BpeTokenRe'))
         |      AS BIGINT) AS toks,
         |    CAST(len(t) AS DOUBLE) AS words,
         |    CAST(length(text) AS DOUBLE) AS chars,
         |    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS punct,
         |    CAST(${countInSetS("t", Stopwords)} AS DOUBLE) AS stops
         |  FROM d),
         |q AS (SELECT doc_id, source, text, toks, $QualityScoreS AS qs FROM m),
         |e AS (SELECT source, COUNT(*) AS n_embedded FROM q
         |  WHERE doc_id IN (SELECT vec_id FROM embeddings) GROUP BY 1),
         |du AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_dup_docs FROM
         |  (SELECT source, md5(text) AS h, COUNT(*) AS cnt FROM q
         |   GROUP BY 1, 2) g
         |  WHERE cnt > 1 GROUP BY 1),
         |base AS (SELECT source, CAST(COUNT(*) AS INTEGER) AS n_docs,
         |    CAST(SUM(toks) AS BIGINT) AS total_tokens,
         |    $meanQualityS AS mean_quality
         |  FROM q GROUP BY 1),
         |card AS (SELECT base.source, n_docs, total_tokens, mean_quality,
         |    CAST(COALESCE(e.n_embedded, 0) AS BIGINT) AS n_embedded,
         |    CAST(COALESCE(du.n_dup_docs, 0) AS BIGINT) AS n_dup_docs
         |  FROM base LEFT JOIN e ON base.source = e.source
         |  LEFT JOIN du ON base.source = du.source),
         |g AS (SELECT *,
         |    CAST(n_dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS df,
         |    CAST(n_embedded AS DOUBLE) / CAST(n_docs AS DOUBLE) AS ec
         |  FROM card)
         |SELECT source, n_docs, total_tokens,
         |  round(df, 6) AS dup_frac, round(ec, 6) AS emb_cover,
         |  mean_quality,
         |  CAST(df < 0.05 AS INTEGER) AS gate_dup,
         |  CAST(mean_quality >= 0.45 AS INTEGER) AS gate_quality,
         |  CAST(ec >= 0.9 AS INTEGER) AS gate_coverage,
         |  CAST(total_tokens >= 500 AS INTEGER) AS gate_volume,
         |  CAST(df < 0.05 AND mean_quality >= 0.45 AND ec >= 0.9
         |    AND total_tokens >= 500 AS INTEGER) AS release_ok
         |FROM g ORDER BY source""".stripMargin,
    "q196_token_waterfill" ->
      s"""WITH caps AS (SELECT source,
         |    SUM(CAST(${graft.functions.TextPrims.bpeTokensS("text")}
         |      AS BIGINT)) AS cap
         |  FROM documents GROUP BY source),
         |tot AS (SELECT SUM(cap) AS total, COUNT(*) AS n FROM caps),
         |rb AS (SELECT source, cap, n,
         |    CAST(FLOOR(CAST(total AS DOUBLE) * 0.6) AS BIGINT) AS b,
         |    ROW_NUMBER() OVER (ORDER BY cap, source) AS rk,
         |    COALESCE(SUM(cap) OVER (ORDER BY cap, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_before
         |  FROM caps, tot),
         |c AS (SELECT *, CASE WHEN CAST(cap AS DOUBLE) * (n - rk + 1) <=
         |      CAST(b - cum_before AS DOUBLE) THEN 1 ELSE 0 END AS is_capped
         |  FROM rb),
         |lam AS (SELECT CAST(ANY_VALUE(b) -
         |      COALESCE(SUM(CASE WHEN is_capped = 1 THEN cap END), 0)
         |      AS DOUBLE) /
         |    SUM(CASE WHEN is_capped = 0 THEN 1 ELSE 0 END) AS lambda
         |  FROM c)
         |SELECT source, CAST(cap AS BIGINT) AS cap,
         |  CAST(CASE WHEN is_capped = 1 THEN cap
         |    ELSE CAST(FLOOR(lambda) AS BIGINT) END AS BIGINT) AS allocated,
         |  CAST(is_capped AS INTEGER) AS is_capped
         |FROM c, lam ORDER BY source""".stripMargin,
    "q193_dsir_weights" ->
      s"""WITH m0 AS (SELECT doc_id, text, $T AS t FROM documents),
         |m AS (SELECT doc_id, text, t,
         |    $qualityMeasureColsS
         |  FROM m0),
         |qd AS (SELECT doc_id, t,
         |    CASE WHEN $QualityScoreS >= 0.5 THEN 1 ELSE 0 END AS tgt
         |  FROM m),
         |g0 AS (SELECT doc_id, tgt, unnest(${shinglesS("t", 2)}) AS g
         |  FROM qd),
         |g AS (SELECT doc_id, tgt, ${hex60S("md5(g)")} % 4096 AS b FROM g0),
         |model AS (SELECT b, SUM(tgt) AS cbt, COUNT(*) AS cbr
         |  FROM g GROUP BY b),
         |tot AS (SELECT SUM(cbt) AS tt, SUM(cbr) AS tr FROM model),
         |lr AS (SELECT b, round(ln(
         |    ((cbt + 0.5) / (tt + 2048.0)) /
         |    ((cbr + 0.5) / (tr + 2048.0))), 6) AS lr
         |  FROM model, tot),
         |sc AS (SELECT doc_id, COUNT(*) AS n_grams,
         |    SUM(CAST(lr AS DECIMAL(18,6))) AS slr
         |  FROM g JOIN lr ON g.b = lr.b GROUP BY doc_id)
         |SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams,
         |  CAST(slr AS DOUBLE) / n_grams AS avg_log_ratio
         |FROM sc ORDER BY avg_log_ratio DESC, doc_id LIMIT 50""".stripMargin,
    "q192_split_token_drift" ->
      s"""WITH tok AS (SELECT lang,
         |    CASE WHEN ${hex60S("md5(CAST(doc_id AS VARCHAR))")} % 100 < 80
         |      THEN 1 ELSE 0 END AS tr,
         |    unnest($T) AS t
         |  FROM documents),
         |cnt AS (SELECT lang, t, SUM(tr) AS ct, SUM(1 - tr) AS ch
         |  FROM tok GROUP BY lang, t),
         |tot AS (SELECT lang, SUM(ct) AS tt, SUM(ch) AS th,
         |    COUNT(*) AS v FROM cnt GROUP BY lang),
         |pq AS (SELECT cnt.lang,
         |    (ct + 0.5) / (tt + 0.5 * v) AS p,
         |    (ch + 0.5) / (th + 0.5 * v) AS q,
         |    tt, th, v
         |  FROM cnt JOIN tot ON cnt.lang = tot.lang),
         |m AS (SELECT lang, tt, th, v, p, q, (p + q) / 2 AS m FROM pq),
         |agg AS (SELECT lang, ANY_VALUE(v) AS n_vocab,
         |    ANY_VALUE(tt) AS n_train_tokens, ANY_VALUE(th) AS n_held_tokens,
         |    SUM(CAST(round(p * round(ln(p / m), 6), 12)
         |      AS DECIMAL(28,12))) AS sp,
         |    SUM(CAST(round(q * round(ln(q / m), 6), 12)
         |      AS DECIMAL(28,12))) AS sq
         |  FROM m GROUP BY lang)
         |SELECT lang, CAST(n_vocab AS INTEGER) AS n_vocab,
         |  CAST(n_train_tokens AS BIGINT) AS n_train_tokens,
         |  CAST(n_held_tokens AS BIGINT) AS n_held_tokens,
         |  round(CAST(sp + sq AS DOUBLE) * 0.5, 6) AS js_divergence
         |FROM agg ORDER BY lang""".stripMargin,
    "q189_source_vocab_cosine" ->
      s"""WITH tok AS (SELECT source, unnest($T) AS t FROM documents),
         |tf AS (SELECT source, t, COUNT(*) AS c FROM tok
         |  GROUP BY source, t),
         |norms AS (SELECT source, SUM(c * c) AS n2 FROM tf GROUP BY source),
         |dots AS (SELECT a.source AS src_a, b.source AS src_b,
         |    SUM(a.c * b.c) AS dot
         |  FROM tf a JOIN tf b ON a.t = b.t AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b,
         |  round(CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
         |    6) AS cosine
         |FROM dots
         |JOIN norms na ON dots.src_a = na.source
         |JOIN norms nb ON dots.src_b = nb.source
         |ORDER BY src_a, src_b""".stripMargin,
    "q182_chunk_docs" ->
      """WITH c AS (SELECT doc_id, text,
        |    unnest(range(1, greatest(length(text), 1) + 1, 150)) AS s
        |  FROM documents)
        |SELECT doc_id,
        |  CAST((s - 1) / 150 AS INTEGER) AS chunk_idx,
        |  CAST(s AS INTEGER) AS start,
        |  CAST(length(substr(text, CAST(s AS INTEGER), 200)) AS INTEGER)
        |    AS chunk_chars,
        |  md5(substr(text, CAST(s AS INTEGER), 200)) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q184_naive_bayes_lang" ->
      s"""WITH d AS (SELECT doc_id, lang, text,
         |    ${hex60S("md5(CAST(doc_id AS VARCHAR))")} % 100 < 80
         |      AS is_train
         |  FROM documents),
         |tok AS (SELECT doc_id, lang, is_train, unnest($T) AS t FROM d),
         |tt AS (SELECT * FROM tok WHERE is_train),
         |vocab AS (SELECT DISTINCT t FROM tt),
         |vs AS (SELECT COUNT(*) AS v FROM vocab),
         |tot AS (SELECT lang, COUNT(*) AS tot FROM tt GROUP BY lang),
         |ntr AS (SELECT COUNT(*) AS ntr FROM d WHERE is_train),
         |cls0 AS (SELECT lang, COUNT(*) AS nd FROM d WHERE is_train
         |  GROUP BY lang),
         |cls AS (SELECT c.lang AS cls,
         |    CAST(round(ln(CAST(c.nd AS DOUBLE) / CAST(n.ntr AS DOUBLE)),
         |      6) AS DECIMAL(18,6)) AS prior,
         |    CAST(round(ln(CAST(1 AS DOUBLE) /
         |      CAST(t.tot + v.v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp0
         |  FROM cls0 c JOIN tot t ON c.lang = t.lang
         |  CROSS JOIN ntr n CROSS JOIN vs v),
         |lp AS (SELECT ct.lang AS cls, ct.t,
         |    CAST(round(ln(CAST(ct.cnt + 1 AS DOUBLE) /
         |      CAST(t.tot + v.v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp
         |  FROM (SELECT lang, t, COUNT(*) AS cnt FROM tt
         |    GROUP BY lang, t) ct
         |  JOIN tot t ON ct.lang = t.lang CROSS JOIN vs v),
         |tcv AS (SELECT doc_id, t, COUNT(*) AS cnt FROM tok
         |  WHERE NOT is_train AND t IN (SELECT t FROM vocab)
         |  GROUP BY doc_id, t),
         |niv AS (SELECT doc_id, SUM(cnt) AS n_iv FROM tcv GROUP BY doc_id),
         |seen AS (SELECT tcv.doc_id, lp.cls, SUM(tcv.cnt * lp.lp) AS slp,
         |    SUM(tcv.cnt) AS seen_cnt
         |  FROM tcv JOIN lp ON tcv.t = lp.t GROUP BY 1, 2),
         |sc AS (SELECT td.doc_id, td.true_lang, c.cls,
         |    c.prior + COALESCE(s.slp, CAST(0 AS DECIMAL(18,6)))
         |      + (COALESCE(n.n_iv, 0) - COALESCE(s.seen_cnt, 0)) * c.lp0
         |      AS score
         |  FROM (SELECT doc_id, lang AS true_lang FROM d
         |    WHERE NOT is_train) td
         |  CROSS JOIN cls c
         |  LEFT JOIN niv n ON td.doc_id = n.doc_id
         |  LEFT JOIN seen s ON td.doc_id = s.doc_id AND c.cls = s.cls),
         |pr AS (SELECT doc_id, true_lang, cls,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, cls) AS rn
         |  FROM sc)
         |SELECT true_lang, cls AS pred_lang, COUNT(*) AS n
         |FROM pr WHERE rn = 1 GROUP BY 1, 2
         |ORDER BY true_lang, pred_lang""".stripMargin,
    "q185_bigram_ppl" ->
      s"""WITH d AS (SELECT doc_id, source, $T AS t,
         |    ${hex60S("md5(CAST(doc_id AS VARCHAR))")} % 100 < 80
         |      AS is_train
         |  FROM documents),
         |b0 AS (SELECT doc_id, source, is_train,
         |    CASE WHEN i = 1 THEN '<s>' ELSE t[CAST(i - 1 AS INTEGER)] END
         |      AS prev,
         |    t[CAST(i AS INTEGER)] AS cur
         |  FROM (SELECT doc_id, source, is_train, t,
         |      unnest(range(1, len(t) + 1)) AS i FROM d)),
         |tr AS (SELECT * FROM b0 WHERE is_train),
         |vocab AS (SELECT DISTINCT cur AS w FROM tr),
         |vs AS (SELECT COUNT(*) + 1 AS v FROM vocab),
         |c1 AS (SELECT prev, COUNT(*) AS c1 FROM tr GROUP BY prev),
         |c2 AS (SELECT prev, cur, COUNT(*) AS c2 FROM tr
         |  GROUP BY prev, cur),
         |te AS (SELECT doc_id, source,
         |    CASE WHEN prev = '<s>' OR prev IN (SELECT w FROM vocab)
         |      THEN prev ELSE '<unk>' END AS p,
         |    CASE WHEN cur IN (SELECT w FROM vocab)
         |      THEN cur ELSE '<unk>' END AS c
         |  FROM b0 WHERE NOT is_train),
         |lp AS (SELECT doc_id, source,
         |    CAST(round(ln(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE) /
         |      CAST(COALESCE(c1.c1, 0) + vs.v AS DOUBLE)), 6)
         |      AS DECIMAL(18,6)) AS lp
         |  FROM te CROSS JOIN vs
         |  LEFT JOIN c2 ON te.p = c2.prev AND te.c = c2.cur
         |  LEFT JOIN c1 ON te.p = c1.prev)
         |SELECT doc_id, source, COUNT(*) AS n_bigrams,
         |  round(exp(-CAST(SUM(lp) AS DOUBLE) / COUNT(*)), 6) AS ppl
         |FROM lp GROUP BY doc_id, source ORDER BY doc_id""".stripMargin,
    "q186_length_batches" ->
      s"""WITH d AS (SELECT doc_id, len($T) AS nt FROM documents),
         |b AS (SELECT doc_id, nt,
         |    CAST(CASE WHEN nt <= 16 THEN 16 WHEN nt <= 32 THEN 32
         |      WHEN nt <= 64 THEN 64 WHEN nt <= 128 THEN 128
         |      WHEN nt <= 256 THEN 256 ELSE 512 END AS INTEGER)
         |      AS bucket_cap
         |  FROM d),
         |r AS (SELECT bucket_cap, nt,
         |    CAST((ROW_NUMBER() OVER (PARTITION BY bucket_cap
         |      ORDER BY doc_id) - 1) // 8 AS INTEGER) AS batch_idx
         |  FROM b)
         |SELECT bucket_cap, batch_idx,
         |  CAST(COUNT(*) AS INTEGER) AS n_docs,
         |  CAST(MAX(nt) AS INTEGER) AS batch_max,
         |  CAST(SUM(nt) AS BIGINT) AS sum_tokens,
         |  round(CAST(SUM(nt) AS DOUBLE) /
         |    CAST(COUNT(*) * MAX(nt) AS DOUBLE), 6) AS fill_pct
         |FROM r GROUP BY bucket_cap, batch_idx
         |ORDER BY bucket_cap, batch_idx""".stripMargin,
    "q160_split_manifest" ->
      s"""WITH d AS (SELECT doc_id, source, text, $T AS t,
         |    ${hex60S("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket
         |  FROM documents),
         |m AS (SELECT doc_id, source, text, bucket,
         |    CAST(${graft.functions.TextPrims.bpeTokensS("text")}
         |      AS BIGINT) AS toks,
         |    CAST(len(t) AS DOUBLE) AS words,
         |    CAST(length(text) AS DOUBLE) AS chars,
         |    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS punct,
         |    CAST(${countInSetS("t", Stopwords)} AS DOUBLE) AS stops
         |  FROM d),
         |q AS (SELECT source,
         |    CASE WHEN bucket < 80 THEN 'train'
         |      WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
         |    toks, $QualityScoreS AS qs
         |  FROM m)
         |SELECT source, split, CAST(COUNT(*) AS INTEGER) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS total_tokens,
         |  $meanQualityS AS mean_quality
         |FROM q GROUP BY 1, 2 ORDER BY source, split""".stripMargin,
    "q150_dataset_card" ->
      s"""WITH d AS (SELECT doc_id, source, text, $T AS t FROM documents),
         |m AS (SELECT doc_id, source, text,
         |    CAST(len(regexp_extract_all(lower(text), '$BpeTokenRe'))
         |      AS BIGINT) AS toks,
         |    CAST(len(t) AS DOUBLE) AS words,
         |    CAST(length(text) AS DOUBLE) AS chars,
         |    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS punct,
         |    CAST(${countInSetS("t", Stopwords)} AS DOUBLE) AS stops
         |  FROM d),
         |q AS (SELECT doc_id, source, text, toks, $QualityScoreS AS qs FROM m),
         |e AS (SELECT source, COUNT(*) AS n_embedded FROM q
         |  WHERE doc_id IN (SELECT vec_id FROM embeddings) GROUP BY 1),
         |du AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_dup_docs FROM
         |  (SELECT source, md5(text) AS h, COUNT(*) AS cnt FROM q
         |   GROUP BY 1, 2) g
         |  WHERE cnt > 1 GROUP BY 1),
         |base AS (SELECT source, CAST(COUNT(*) AS INTEGER) AS n_docs,
         |    CAST(SUM(toks) AS BIGINT) AS total_tokens,
         |    $meanQualityS AS mean_quality
         |  FROM q GROUP BY 1)
         |SELECT base.source, n_docs, total_tokens, mean_quality,
         |  CAST(COALESCE(e.n_embedded, 0) AS BIGINT) AS n_embedded,
         |  CAST(COALESCE(du.n_dup_docs, 0) AS BIGINT) AS n_dup_docs
         |FROM base LEFT JOIN e ON base.source = e.source
         |LEFT JOIN du ON base.source = du.source
         |ORDER BY base.source""".stripMargin,
    "q144_pps_sample" ->
      s"""WITH m AS (SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(lower(text), '$BpeTokenRe'))
         |      AS BIGINT) AS toks
         |  FROM documents),
         |f AS (SELECT * FROM m WHERE toks > 0),
         |c AS (SELECT doc_id, source, toks,
         |    SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    SUM(toks) OVER (PARTITION BY source) AS t_src
         |  FROM f),
         |h AS (SELECT *, (cum * 10 + t_src - 1) // t_src
         |    - ((cum - toks) * 10 + t_src - 1) // t_src AS hits FROM c)
         |SELECT source, CAST(COUNT(*) AS INTEGER) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS total_toks,
         |  CAST(SUM(hits) AS BIGINT) AS n_draws,
         |  CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS INTEGER)
         |    AS n_docs_sampled,
         |  CAST(MAX(hits) AS BIGINT) AS max_hits
         |FROM h GROUP BY source ORDER BY source""".stripMargin,
    "q145_sequence_packing" ->
      s"""WITH m AS (SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(lower(text), '$BpeTokenRe'))
         |      AS BIGINT) AS toks
         |  FROM documents),
         |f AS (SELECT * FROM m WHERE toks > 0),
         |c AS (SELECT doc_id, source, toks,
         |    SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM f),
         |x AS (SELECT *, CASE WHEN (cum - toks) // 512 <> (cum - 1) // 512
         |    THEN 1 ELSE 0 END AS crosses FROM c)
         |SELECT source, CAST(COUNT(*) AS INTEGER) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS total_toks,
         |  CAST((SUM(toks) + 511) // 512 AS BIGINT) AS n_bins,
         |  CAST(SUM(crosses) AS INTEGER) AS n_boundary_docs,
         |  CAST(((SUM(toks) - 1) % 512 + 1) * 100 // 512 AS INTEGER)
         |    AS last_bin_fill_pct
         |FROM x GROUP BY source ORDER BY source""".stripMargin,
    "q138_boilerplate_df" ->
      s"""WITH d AS (SELECT doc_id, source, text, $T AS t FROM documents),
         |g AS (SELECT doc_id, source, x AS sh
         |  FROM d, unnest(${shinglesS("t", 2)}) AS u(x)),
         |sc AS (SELECT source, COUNT(*) AS n_docs_src
         |  FROM documents GROUP BY 1),
         |df AS (SELECT source, sh, COUNT(DISTINCT doc_id) AS df
         |  FROM g GROUP BY 1, 2),
         |b AS (SELECT df.source, df.sh FROM df JOIN sc USING (source)
         |  WHERE df.df * 100 >= sc.n_docs_src * 50),
         |pd AS (SELECT g.doc_id, g.source, COUNT(*) AS total_pos,
         |    SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS boiler_pos
         |  FROM g LEFT JOIN b ON g.source = b.source AND g.sh = b.sh
         |  GROUP BY 1, 2),
         |nb AS (SELECT source, CAST(COUNT(*) AS INTEGER) AS n_boiler_grams
         |  FROM b GROUP BY 1)
         |SELECT pd.source, CAST(COUNT(*) AS INTEGER) AS n_docs,
         |  CAST(SUM(total_pos) AS BIGINT) AS total_positions,
         |  CAST(SUM(boiler_pos) AS BIGINT) AS boiler_positions,
         |  round(CAST(SUM(boiler_pos) AS DOUBLE)
         |    / CAST(SUM(total_pos) AS DOUBLE), 6) AS micro_boiler_ratio,
         |  CAST(SUM(CASE WHEN boiler_pos * 2 > total_pos THEN 1 ELSE 0 END)
         |    AS INTEGER) AS n_docs_flagged,
         |  COALESCE(ANY_VALUE(nb.n_boiler_grams), 0) AS n_boiler_grams
         |FROM pd LEFT JOIN nb ON pd.source = nb.source
         |GROUP BY pd.source ORDER BY pd.source""".stripMargin,
    "q140_temperature_mix" ->
      """WITH s AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
        |w AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS wt FROM s),
        |q AS (SELECT source, n, wt,
        |    CAST(FLOOR(wt * 1000000.0) AS BIGINT) AS wtq FROM w),
        |t AS (SELECT source, n, wt, wtq,
        |    SUM(wtq) OVER () AS totq FROM q)
        |SELECT source, CAST(n AS INTEGER) AS n_docs,
        |  round(wt, 6) AS weight,
        |  round(CAST(wtq AS DOUBLE) / CAST(totq AS DOUBLE), 6) AS share,
        |  CAST(FLOOR(5000.0 * (CAST(wtq AS DOUBLE) / CAST(totq AS DOUBLE)))
        |    AS BIGINT) AS n_target
        |FROM t ORDER BY source""".stripMargin,
    "q133_repetition_ratio" ->
      s"""WITH d AS (SELECT doc_id, source, text, $T AS t FROM documents),
         |g AS (SELECT doc_id, source, x AS sh
         |  FROM d, unnest(${shinglesS("t", 3)}) AS u(x)),
         |pd AS (SELECT doc_id, source, COUNT(*) AS n_grams,
         |    COUNT(DISTINCT sh) AS n_distinct
         |  FROM g GROUP BY 1, 2)
         |SELECT source, CAST(COUNT(*) AS INTEGER) AS n_docs,
         |  CAST(SUM(n_grams) AS BIGINT) AS total_grams,
         |  CAST(SUM(n_distinct) AS BIGINT) AS distinct_grams,
         |  round(1.0 - CAST(SUM(n_distinct) AS DOUBLE)
         |    / CAST(SUM(n_grams) AS DOUBLE), 6) AS micro_rep_ratio,
         |  CAST(SUM(CASE WHEN 1.0 - CAST(n_distinct AS DOUBLE)
         |      / CAST(n_grams AS DOUBLE) >= 0.2
         |    THEN 1 ELSE 0 END) AS INTEGER) AS n_repetitive
         |FROM pd GROUP BY source ORDER BY source""".stripMargin,
    "q136_token_budget_mix" ->
      s"""WITH d AS (SELECT doc_id, source, text, $T AS t FROM documents),
         |m AS (SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(lower(text), '$BpeTokenRe'))
         |      AS BIGINT) AS toks,
         |    CAST(len(t) AS DOUBLE) AS words,
         |    CAST(length(text) AS DOUBLE) AS chars,
         |    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS punct,
         |    CAST(${countInSetS("t", Stopwords)} AS DOUBLE) AS stops
         |  FROM d),
         |q AS (SELECT doc_id, source, toks, $QualityScoreS AS q FROM m),
         |c AS (SELECT doc_id, source, toks,
         |    SUM(toks) OVER (PARTITION BY source ORDER BY q DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
         |  FROM q)
         |SELECT source, CAST(COUNT(*) AS INTEGER) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS total_tokens,
         |  CAST(SUM(CASE WHEN cum_toks <= 2000 THEN 1 ELSE 0 END) AS INTEGER)
         |    AS n_kept,
         |  CAST(SUM(CASE WHEN cum_toks <= 2000 THEN toks ELSE 0 END) AS BIGINT)
         |    AS kept_tokens
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "q100_pipeline_composite" ->
      s"""WITH d AS (SELECT doc_id, source, text, $T AS t FROM documents),
         |m AS (SELECT doc_id, source, text,
         |    CAST(len(t) AS DOUBLE) AS words,
         |    CAST(length(text) AS DOUBLE) AS chars,
         |    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS punct,
         |    CAST(${countInSetS("t", Stopwords)} AS DOUBLE) AS stops
         |  FROM d),
         |q AS (SELECT doc_id, source, text,
         |    $QualityScoreS AS quality_score
         |  FROM m),
         |k AS (SELECT *, percent_rank() OVER
         |        (PARTITION BY source ORDER BY quality_score, doc_id) AS pr
         |  FROM q),
         |kept AS (SELECT * FROM k WHERE pr >= 0.5),
         |canon AS (SELECT source,
         |    ${graft.dedup.Dedup.normHashS("text")} AS h,
         |    COUNT(*) AS copies
         |  FROM kept GROUP BY source, h)
         |SELECT source, COUNT(*) AS n_canonical,
         |  CAST(SUM(copies) AS BIGINT) AS n_kept,
         |  CAST(SUM(copies) AS BIGINT) - COUNT(*) AS n_dup_copies
         |FROM canon GROUP BY source ORDER BY source""".stripMargin,
    "q22_token_stats" ->
      s"""WITH d AS (SELECT doc_id, text, $T AS t FROM documents)
         |SELECT doc_id,
         |  CAST(len(t) AS INTEGER) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '$BpeTokenRe')) AS INTEGER) AS n_bpe_tokens,
         |  CAST(length(text) AS INTEGER) AS n_chars_m,
         |  round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS ttr
         |FROM d ORDER BY doc_id""".stripMargin,
    "q23_quality_score" ->
      s"""WITH d AS (SELECT doc_id, text, $T AS t FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(len(t) AS DOUBLE) AS words,
         |    CAST(length(text) AS DOUBLE) AS chars,
         |    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS punct,
         |    CAST(${countInSetS("t", Stopwords)} AS DOUBLE) AS stops
         |  FROM d)
         |SELECT doc_id,
         |  round(chars / NULLIF(words, 0), 6) AS avg_token_len,
         |  round(punct / NULLIF(chars, 0), 6) AS punct_ratio,
         |  round(stops / NULLIF(words, 0), 6) AS stopword_ratio,
         |  $QualityScoreS AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin,
    "q77_data_mixing" ->
      s"""WITH h AS (SELECT source,
         |    ${hex60S("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket
         |  FROM documents)
         |SELECT source, CAST(count(*) AS INTEGER) AS n_docs,
         |  CAST(sum(CASE WHEN bucket <
         |      (CASE WHEN source < 'src_10' THEN 70 ELSE 30 END)
         |    THEN 1 ELSE 0 END) AS INTEGER) AS n_sampled
         |FROM h GROUP BY source ORDER BY source""".stripMargin,
    "q74_bm25_topk" -> {
      val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, unnest($T) AS token FROM documents),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
         |  WHERE token IN ($terms) GROUP BY doc_id, token),
         |dfc AS (SELECT token, CAST(count(*) AS DOUBLE) AS df
         |  FROM tf GROUP BY token),
         |sc AS (SELECT tf.token, tf.doc_id,
         |    ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |      * ((CAST(tf.tf AS DOUBLE) * ${Bm25K1 + 1.0})
         |        / (CAST(tf.tf AS DOUBLE) + $Bm25K1 * (${1.0 - Bm25B}
         |          + $Bm25B * CAST(dl.dl AS DOUBLE) / avgdl))) AS score
         |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
         |  JOIN dfc ON tf.token = dfc.token, stats),
         |r AS (SELECT token, doc_id, round(score, 6) AS bm25,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY token
         |      ORDER BY round(score, 6) DESC, doc_id) AS INTEGER) AS rk
         |  FROM sc)
         |SELECT token, doc_id, rk, bm25 FROM r
         |WHERE rk <= $Bm25TopN ORDER BY token, rk""".stripMargin
    },
    "q73_quality_filter" ->
      s"""WITH d AS (SELECT doc_id, text, $T AS t FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(len(t) AS DOUBLE) AS words,
         |    CAST(length(text) AS DOUBLE) AS chars,
         |    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS punct,
         |    CAST(${countInSetS("t", Stopwords)} AS DOUBLE) AS stops
         |  FROM d),
         |sc AS (SELECT doc_id,
         |    $QualityScoreS AS quality_score
         |  FROM m),
         |p AS (SELECT doc.source, sc.doc_id,
         |    PERCENT_RANK() OVER (PARTITION BY doc.source
         |      ORDER BY sc.quality_score, sc.doc_id) AS pr
         |  FROM sc JOIN documents doc ON sc.doc_id = doc.doc_id)
         |SELECT source, CAST(count(*) AS INTEGER) AS n_docs,
         |  CAST(sum(CASE WHEN pr >= 0.5 THEN 1 ELSE 0 END) AS INTEGER)
         |    AS n_kept_above_median
         |FROM p GROUP BY source ORDER BY source""".stripMargin,
    "q176_stratification" -> {
      val scores = LangMarkers.map { case (l, ms) =>
        s"${countInSetS("t", ms)} AS s_$l" }.mkString(",\n    ")
      val pred = LangMarkers.map(_._1).foldRight("'und'") { case (l, e) =>
        val beats = LangMarkers.map(_._1).filter(_ != l)
          .map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"CASE WHEN s_$l > 0 AND $beats THEN '$l' ELSE $e END"
      }
      val (qLo, qHi) = StratQualityEdges
      val (lLo, lHi) = StratLengthEdges
      s"""WITH d AS (SELECT doc_id, text, $T AS t FROM documents),
         |sc AS (SELECT doc_id, text, t,
         |    $scores,
         |    $qualityMeasureColsS
         |  FROM d),
         |q AS (SELECT $pred AS pred_lang, $QualityScoreS AS qs,
         |    CAST(${graft.functions.TextPrims.bpeTokensS("text")} AS BIGINT)
         |      AS toks,
         |    length(text) AS len FROM sc),
         |c AS (SELECT pred_lang,
         |    CASE WHEN qs >= $qHi THEN 'high'
         |      WHEN qs >= $qLo THEN 'mid' ELSE 'low' END AS tier,
         |    CASE WHEN len < $lLo THEN 'short'
         |      WHEN len < $lHi THEN 'medium' ELSE 'long' END AS len_bucket,
         |    toks FROM q)
         |SELECT pred_lang, tier, len_bucket,
         |  CAST(COUNT(*) AS INTEGER) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS total_tokens
         |FROM c GROUP BY 1, 2, 3
         |ORDER BY pred_lang, tier, len_bucket""".stripMargin
    },
    "q24_lang_id" ->
      s"""WITH d AS (SELECT doc_id, lang, $T AS t FROM documents),
         |sc AS (SELECT doc_id, lang,
         |    $langScoresS
         |  FROM d),
         |p AS (SELECT doc_id, lang, $langPredS AS pred_lang FROM sc)
         |SELECT doc_id, pred_lang,
         |  CAST(pred_lang = lang AS INTEGER) AS agrees
         |FROM p ORDER BY doc_id""".stripMargin,
    "q67_normalize_scrub" ->
      s"""WITH sc AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$EntRe')) AS INTEGER) AS n_ent,
         |    CAST(len(regexp_extract_all(text, '$StopRe')) AS INTEGER) AS n_stop,
         |    trim(regexp_replace(regexp_replace(
         |      regexp_replace(text, '$EntRe', '<ENT>', 'g'),
         |      '$StopRe', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
         |  FROM documents)
         |SELECT doc_id, n_ent, n_stop,
         |  CAST(length(norm) AS BIGINT) AS norm_len, md5(norm) AS norm_md5
         |FROM sc ORDER BY doc_id""".stripMargin,
    "q25_fingerprint" ->
      s"""WITH d AS (SELECT doc_id, $T AS t FROM documents)
         |SELECT doc_id,
         |  list_reduce(
         |    list_concat([CAST(0 AS BIGINT)],
         |      list_transform(t, x -> ${hex32S("md5(x)")})),
         |    (acc, v) -> (acc * 31 + v) % 1000000007) AS fingerprint
         |FROM d ORDER BY doc_id""".stripMargin,
    "q42_corpus_stats" ->
      s"""WITH d AS (SELECT doc_id, lang, source, n_chars, text, $T AS t
         |  FROM documents),
         |m AS (SELECT lang, source, n_chars,
         |    round(least(CAST(len(t) AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (CAST(${countInSetS("t", Stopwords)} AS DOUBLE)
         |         / CAST(len(t) AS DOUBLE)) * 0.4
         |      + (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
         |         / CAST(length(text) AS DOUBLE)) * 0.2, 6) AS q
         |  FROM d)
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*)
         |    AS mean_quality
         |FROM m GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q167_tokenizer_fertility" ->
      s"""WITH m AS (SELECT source,
         |    CAST(len($T) AS BIGINT) AS words,
         |    CAST(${graft.functions.TextPrims.bpeTokensS("text")} AS BIGINT)
         |      AS bpe,
         |    CAST(length(text) AS BIGINT) AS chars
         |  FROM documents)
         |SELECT source, CAST(COUNT(*) AS INTEGER) AS n_docs,
         |  CAST(SUM(words) AS BIGINT) AS total_words,
         |  CAST(SUM(bpe) AS BIGINT) AS total_bpe,
         |  CAST(SUM(chars) AS BIGINT) AS total_chars,
         |  CAST(SUM(bpe) AS DOUBLE) / NULLIF(SUM(words), 0) AS fertility,
         |  CAST(SUM(chars) AS DOUBLE) / NULLIF(SUM(bpe), 0) AS chars_per_token
         |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "q165_vocab_coverage" -> {
      val vCols = CoverageTargets.map(t =>
        s"CAST(MIN(CASE WHEN cum * 100 >= $t * total THEN rk END) AS INTEGER) AS v$t")
        .mkString(",\n         |  ")
      s"""WITH tok AS (SELECT unnest($T) AS token FROM documents),
         |c AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY 1),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
         |    CAST(COUNT(*) AS INTEGER) AS vocab FROM c),
         |w AS (SELECT n,
         |    ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rk,
         |    SUM(n) OVER (ORDER BY n DESC, token
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM c)
         |SELECT CAST(total AS BIGINT) AS total_tokens, vocab AS vocab_size,
         |  $vCols
         |FROM w, t GROUP BY total, vocab""".stripMargin
    },
    "q43_top_tokens" ->
      s"""SELECT token, count(*) AS n
         |FROM (SELECT unnest($T) AS token FROM documents)
         |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "q183_zipf_fit" ->
      s"""WITH f AS (SELECT t, count(*) AS f
         |  FROM (SELECT unnest($T) AS t FROM documents) GROUP BY t),
         |rk AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, t) AS r
         |  FROM f),
         |xy AS (SELECT round(ln(r), 6) AS x, round(ln(f), 6) AS y
         |  FROM rk WHERE r <= 100),
         |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE)
         |      AS sxy,
         |    CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE)
         |      AS sxx,
         |    CAST(SUM(CAST(round(y * y, 9) AS DECIMAL(28,9))) AS DOUBLE)
         |      AS syy
         |  FROM xy),
         |sl AS (SELECT n, sx, sy, sxy, sxx, syy,
         |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b FROM m),
         |ab AS (SELECT n, sy, sxy, syy, b, (sy - b * sx) / n AS a FROM sl)
         |SELECT CAST(n AS INTEGER) AS n_terms, round(b, 6) AS slope,
         |  round(a, 6) AS intercept,
         |  round(1.0 - (syy - a * sy - b * sxy) / (syy - sy * sy / n), 6)
         |    AS r2
         |FROM ab""".stripMargin,
    "q64_tfidf_topk" ->
      s"""WITH tok AS (SELECT doc_id, unnest($T) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfc AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |r AS (SELECT doc_id, token, tf, df,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY tf DESC, df ASC, token ASC) AS rk
         |  FROM tf JOIN dfc USING (token))
         |SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
         |  CAST(df AS BIGINT) AS df,
         |  round(tf * ln(CAST(n.n AS DOUBLE) / df), 6) AS tfidf,
         |  CAST(rk AS INTEGER) AS rk
         |FROM r, n WHERE rk <= $TfidfTopK ORDER BY doc_id, rk""".stripMargin,
    "q268_alpha_mix" ->
      s"""WITH g AS (SELECT source,
         |    CAST(count(*) AS INTEGER) AS n_docs,
         |    CAST(SUM(${bpeTokensS("text")}) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |u AS (SELECT *, CASE WHEN n_tokens > 0
         |    THEN round(exp(0.3 * round(ln(CAST(n_tokens AS DOUBLE)), 6)),
         |      6) ELSE 0.0 END AS u
         |  FROM g),
         |tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot_t,
         |    CAST(SUM(CAST(u AS DECIMAL(18,6))) AS DOUBLE) AS tot_u
         |  FROM u)
         |SELECT source, n_docs, n_tokens,
         |  round(CAST(n_tokens AS DOUBLE) / tot_t, 9) AS p_raw,
         |  round(u / tot_u, 9) AS p_alpha,
         |  round(CASE WHEN n_tokens > 0 THEN (u / tot_u) /
         |    (CAST(n_tokens AS DOUBLE) / tot_t) END, 6) AS boost
         |FROM u, tot ORDER BY source""".stripMargin,
    "q273_vocab_coverage" -> {
      val rows = CoverageKs.map { k =>
        s"""SELECT $k AS vocab_k, t.n_types, t.n_tokens_total,
           |  CAST((SELECT COALESCE(SUM(cnt), 0) FROM (
           |     SELECT cnt FROM vc ORDER BY cnt DESC, tok LIMIT $k))
           |    AS BIGINT) AS covered,
           |  round(CAST((SELECT COALESCE(SUM(cnt), 0) FROM (
           |     SELECT cnt FROM vc ORDER BY cnt DESC, tok LIMIT $k))
           |    AS DOUBLE) / CAST(t.n_tokens_total AS DOUBLE), 6)
           |    AS coverage
           |FROM t""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH vc AS MATERIALIZED (SELECT tok, COUNT(*) AS cnt FROM (
         |    SELECT unnest($T) AS tok FROM documents)
         |  WHERE length(tok) > 0 GROUP BY tok),
         |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens_total,
         |    CAST(COUNT(*) AS BIGINT) AS n_types FROM vc)
         |$rows
         |ORDER BY vocab_k""".stripMargin
    },
    "q294_rag_chunking" ->
      s"""WITH d AS (SELECT source,
         |    CAST(${bpeTokensS("text")} AS BIGINT) AS nt
         |  FROM documents),
         |f AS (SELECT * FROM d WHERE nt > 0),
         |c AS (SELECT source, nt,
         |    1 + CAST(ceil(CAST(greatest(nt - $ChunkSize, 0) AS DOUBLE)
         |      / $ChunkStride) AS BIGINT) AS chunks
         |  FROM f),
         |e AS (SELECT source, nt, chunks,
         |    chunks * $ChunkSize -
         |      ((chunks - 1) * $ChunkStride + $ChunkSize - nt)
         |      AS emitted
         |  FROM c)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |  CAST(SUM(chunks) AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN chunks = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_single_chunk,
         |  round(CAST(SUM(emitted) AS DOUBLE) /
         |    CAST(SUM(chunks) * $ChunkSize AS DOUBLE), 6) AS mean_fill,
         |  round(CAST(SUM(emitted) - SUM(nt) AS DOUBLE) /
         |    CAST(SUM(nt) AS DOUBLE), 6) AS overlap_share
         |FROM e GROUP BY source ORDER BY source""".stripMargin,
    "q288_rendezvous_shards" -> {
      def comb(s0: Int): String =
        s"((${hex60S(seededMd5S(3000 + s0, "CAST(doc_id AS VARCHAR)"))}" +
          s" >> 4) * 16 + ${15 - s0})"
      def amax(n: Int): String =
        s"15 - (greatest(${(0 until n).map(comb).mkString(", ")}) % 16)"
      s"""WITH b AS MATERIALIZED (SELECT doc_id,
         |    ${bpeTokensS("text")} AS bt,
         |    ${amax(ShardsBefore)} AS shard_before,
         |    ${amax(ShardsAfter)} AS shard_after
         |  FROM documents)
         |SELECT 'shard' AS row_kind,
         |  CAST(shard_before AS INTEGER) AS shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(bt) AS BIGINT) AS n_tokens,
         |  CAST(NULL AS DOUBLE) AS moved_frac,
         |  CAST(NULL AS DOUBLE) AS theory_frac
         |FROM b GROUP BY shard_before
         |UNION ALL
         |SELECT 'expansion', -1,
         |  CAST(SUM(CASE WHEN shard_before <> shard_after
         |    THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(NULL AS BIGINT),
         |  round(CAST(SUM(CASE WHEN shard_before <> shard_after
         |    THEN 1 ELSE 0 END) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE), 6),
         |  round(1.0 / $ShardsAfter, 6)
         |FROM b
         |ORDER BY row_kind, shard""".stripMargin
    },
    "q282_noise_table" ->
      s"""WITH vc AS MATERIALIZED (SELECT tok, COUNT(*) AS cnt,
         |    round(exp(0.75 * round(ln(CAST(COUNT(*) AS DOUBLE)), 6)),
         |      6) AS u
         |  FROM (SELECT unnest($T) AS tok FROM documents)
         |  WHERE length(tok) > 0 GROUP BY tok),
         |t AS (SELECT CAST(SUM(CAST(u AS DECIMAL(18,6))) AS DOUBLE)
         |    AS tu FROM vc),
         |top AS (SELECT tok, cnt, u FROM vc
         |  ORDER BY cnt DESC, tok LIMIT $NoiseTopN)
         |SELECT tok AS token, cnt AS n_count,
         |  round(u / tu, 9) AS noise_prob,
         |  CAST(floor(round(u / tu, 9) *
         |    ${(1L << NoiseTableBits).toDouble}) AS BIGINT)
         |    AS table_slots
         |FROM top, t ORDER BY n_count DESC, token""".stripMargin,
    "q283_sentence_dedup" ->
      s"""WITH sent AS (SELECT source, md5(sn) AS h FROM (
         |  SELECT source, regexp_replace(trim(r), '\\s+', ' ', 'g') AS sn
         |  FROM (SELECT source,
         |      unnest(regexp_split_to_array(lower(text), '[.!?]+')) AS r
         |    FROM documents))
         |  WHERE length(sn) > 0),
         |ps AS MATERIALIZED (SELECT source, h, COUNT(*) AS c
         |  FROM sent GROUP BY source, h),
         |worst AS (SELECT source, h AS top_hash, c AS top_repeats FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
         |    ORDER BY c DESC, h) AS rk FROM ps) WHERE rk = 1)
         |SELECT g.source, g.n_sentences, g.n_distinct,
         |  round(CAST(g.n_sentences - g.n_distinct AS DOUBLE) /
         |    CAST(g.n_sentences AS DOUBLE), 6) AS dup_frac,
         |  worst.top_hash, worst.top_repeats
         |FROM (SELECT source, CAST(SUM(c) AS BIGINT) AS n_sentences,
         |    CAST(COUNT(*) AS BIGINT) AS n_distinct
         |  FROM ps GROUP BY source) g
         |JOIN worst ON g.source = worst.source
         |ORDER BY g.source""".stripMargin,
    "q279_packing_sweep" -> {
      val bodies = PackingBudgets.map { c =>
        s"""SELECT $c AS budget, source,
           |  CAST(COUNT(*) AS INTEGER) AS n_docs,
           |  CAST(SUM(toks) AS BIGINT) AS total_toks,
           |  CAST((SUM(toks) + ${c - 1}) // $c AS BIGINT) AS n_bins,
           |  CAST(SUM(CASE WHEN (cum - toks) // $c <> (cum - 1) // $c
           |    THEN 1 ELSE 0 END) AS INTEGER) AS n_boundary_docs,
           |  CAST(SUM(toks) * 100 //
           |    (((SUM(toks) + ${c - 1}) // $c) * $c) AS INTEGER)
           |    AS fill_pct
           |FROM c GROUP BY source""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH m AS (SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(lower(text), '$BpeTokenRe'))
         |      AS BIGINT) AS toks
         |  FROM documents),
         |f AS (SELECT * FROM m WHERE toks > 0),
         |c AS MATERIALIZED (SELECT doc_id, source, toks,
         |    SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM f)
         |$bodies
         |ORDER BY budget, source""".stripMargin
    },
    "q276_repetition_loops" -> {
      val planes = (1 to 3).map { p =>
        s"""SELECT doc_id, $p AS p, unnest(CASE WHEN len(t) > $p
           |    THEN list_filter(generate_series(1, len(t) - $p),
           |      i -> t[i] = t[i + $p])
           |    ELSE CAST([] AS BIGINT[]) END) AS i
           |  FROM b""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH b AS MATERIALIZED (SELECT doc_id, source, $T AS t
         |  FROM documents),
         |pl AS MATERIALIZED (
         |  $planes),
         |runs AS (SELECT doc_id, p,
         |    i - ROW_NUMBER() OVER (PARTITION BY doc_id, p ORDER BY i)
         |      AS isl
         |  FROM pl),
         |rl AS (SELECT doc_id, p, isl, COUNT(*) AS len
         |  FROM runs GROUP BY doc_id, p, isl),
         |mx AS (SELECT doc_id, p, MAX(len) + p AS rep
         |  FROM rl GROUP BY doc_id, p),
         |best AS (SELECT doc_id, rep FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY rep DESC, p) AS rk FROM mx) WHERE rk = 1)
         |SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN best.rep >= 4 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_loopy,
         |  CAST(COALESCE(MAX(best.rep), 0) AS BIGINT) AS max_rep,
         |  round(CAST(SUM(CASE WHEN best.rep >= 4 THEN 1 ELSE 0 END)
         |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS loopy_frac
         |FROM b LEFT JOIN best ON b.doc_id = best.doc_id
         |GROUP BY b.source ORDER BY b.source""".stripMargin
    },
    "q269_epoch_batches" -> {
      val planes = (1 to 2).map { e =>
        s"""SELECT $e AS epoch,
           |    CAST(${hex60S(seededMd5S(1000 + e,
                  "CAST(doc_id AS VARCHAR)"))} % 64 AS INTEGER) AS batch,
           |    source, ${bpeTokensS("text")} AS bt
           |  FROM documents""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH e AS (
         |  $planes),
         |g AS (SELECT epoch, batch,
         |    CAST(count(*) AS INTEGER) AS n_docs,
         |    CAST(SUM(bt) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT source) AS INTEGER) AS n_sources
         |  FROM e GROUP BY epoch, batch),
         |t AS (SELECT epoch, CAST(SUM(n_tokens) AS DOUBLE) AS tt
         |  FROM g GROUP BY epoch)
         |SELECT g.epoch, g.batch, n_docs, n_tokens, n_sources,
         |  round(CAST(n_tokens AS DOUBLE) * 64 / tt, 6) AS load_ratio
         |FROM g JOIN t ON g.epoch = t.epoch
         |ORDER BY g.epoch, g.batch""".stripMargin
    },
  )
}
