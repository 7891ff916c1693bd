package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import scala.jdk.CollectionConverters._

/** Deterministic decision-tree twin of the RandomForest job — the
  * oracle-checkable counterpart of RandomForestJob (random_forest.py:101-123;
  * MLlib's forest is RNG-dependent — bootstrap + feature subsets + seeded
  * binning — so q37 can only be rows-checked). Here: one depth-2 tree with
  * EXACT gini over quantile-binned candidate thresholds, every step pure
  * DataFrame algebra with integer-count arithmetic, so the result is
  * bit-identical on any partitioning and to the DuckDB oracle.
  *
  * Design mirrors how distributed tree learners actually scale (Spark ML's
  * own maxBins + binsToBestSplit): candidate thresholds are computed ONCE
  * at the root as per-feature quantile bin edges (ntile over a
  * deterministic (val, id) order), every row×feature is binned ONCE at the
  * root, and every node then evaluates all candidates from ONE pass of
  * per-(node, feature, bin, class) counts + a driver-side cumulative
  * sweep over the collected grid — cost per depth level is one scan + one
  * grid-bounded hash agg, independent of the number of candidates
  * evaluated.
  *
  * Determinism audit:
  *  - thresholds are raw float values (exact in DOUBLE on both engines);
  *  - split scores derive only from integer counts: nL, ΣcL², nR, ΣcR²
  *    (squares summed in DECIMAL(38,0) ≙ DuckDB HUGEINT — no long overflow
  *    at scale, exact on both engines);
  *  - the weighted-gini double is ONE fixed-shape expression
  *    `nL - SL/nL + nR - SR/nR` over exactly-representable integers —
  *    IEEE-identical on both engines; ties broken by (score, feat, t);
  *  - leaf majority ties break toward the smaller label.
  */
object GiniStump {
  val MaxBins = 16
  val NumFeats = 4 // embedding components used as features f0..f3

  private def featNames = (0 until NumFeats).map(j => s"f$j")

  private[graft] def pts(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.load(s, dir, "embeddings"), "vec_id")
      .select(col("vec_id").as("id") +: col("label") +:
        (0 until NumFeats).map(j =>
          col("embedding").getItem(j).cast(DoubleType).as(s"f$j")): _*)

  /** wide (id, label, [node,] f0..f3) → long (id, label, [node,] feat, val) */
  private[graft] def toLong(wide: DataFrame): DataFrame = {
    val keep = wide.columns.filterNot(featNames.contains).map(col).toSeq
    wide.select(keep :+ explode(array(featNames.map(f =>
        struct(lit(f).as("feat"), col(f).as("val"))): _*)).as("u"): _*)
      .select(keep :+ col("u.feat").as("feat") :+ col("u.val").as("val"): _*)
  }

  /** Per-feature candidate thresholds: the max value of each of MaxBins
    * quantile buckets (deterministic (val, id) order), deduped. ≤64 rows.
    *
    * SCOPE: exact ntile sorts the full dataset in NumFeats tasks — chosen
    * deliberately so the candidate set (and hence the whole tree) is
    * bit-identical to the DuckDB oracle, which a sampled/approx binning
    * cannot be. This is the ORACLE-TWIN configuration only; the documented
    * at-scale default is [[thresholdsApprox]] (GK sketch, one pass, no
    * per-feature global sort — Spark ML's own maxBins sampling analogue),
    * selected via `tree(..., approxBinning = true)`. Both feed the same
    * downstream grid unchanged, and on separated data they grow the
    * identical tree (asserted in MlSpec). */
  private[graft] def thresholds(rootLong: DataFrame): DataFrame = {
    val w = Window.partitionBy("feat").orderBy(col("val"), col("id"))
    rootLong.withColumn("b", ntile(MaxBins).over(w))
      .groupBy("feat", "b").agg(max("val").as("t"))
      .select("feat", "t").distinct()
  }

  /** The AT-SCALE binning path (documented default beyond oracle-twin
    * fixtures): per-feature approximate quantile bin edges from the wide
    * frame via ONE multi-column GK-sketch pass — no global sort, no
    * shuffle proportional to data. Candidate quality (not correctness)
    * depends on the sketch error; the tree remains valid for any
    * candidate set, it just isn't bit-identical to the oracle's — on
    * well-separated data it grows the IDENTICAL tree structure (MlSpec),
    * and `tree(..., approxBinning = true)` wires it into the same
    * per-level recursion unchanged. */
  private[graft] def thresholdsApprox(wide: DataFrame,
                                      relErr: Double = 0.001): DataFrame = {
    val probs = (1 to MaxBins).map(_.toDouble / MaxBins).toArray
    val qs = wide.stat.approxQuantile(featNames.toArray, probs, relErr)
    val rows = featNames.zip(qs).flatMap { case (f, ts) =>
      ts.distinct.map(t => org.apache.spark.sql.Row(f, t)) }
    wide.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](rows.asJava),
      StructType(Seq(StructField("feat", StringType, nullable = false),
        StructField("t", DoubleType, nullable = false))))
  }

  /** Distributed half of split evaluation: per-(node, feat, t, label)
    * counts — GRID-BOUNDED output (≤ nodes × features × (MaxBins+1) ×
    * classes rows) at ANY data scale. Bin assignment is the smallest
    * threshold ≥ val, via a broadcast per-feature sorted-candidate ARRAY
    * and the codegen'd binary-search [[graft.functions.LowerBound]] — a
    * NARROW map that stays inside whole-stage codegen. (Two rejected
    * shapes: joining the threshold table expands every row × matching
    * candidates and re-aggregates at id cardinality — an O(rows × bins)
    * intermediate plus a full-data shuffle; array_min(filter(...)) is a
    * higher-order function, which is CodegenFallback — it dropped this
    * projection to interpreted eval and measurably ~2×'d q80/q108.)
    * Rows above every threshold keep a NULL bin — the null row doubles
    * as the "right of all candidates" census, so any single feature's
    * slice of the output carries the per-(node, label) totals and no
    * separate count pass is needed. One scan, one partial-aggregated
    * hash shuffle of grid-sized rows, nothing else. */
  private[graft] def binnedCounts(wide: DataFrame, thr: DataFrame): DataFrame = {
    val thrArr = thr.groupBy("feat")
      .agg(sort_array(collect_list("t")).as("ts"))
    toLong(wide)
      .join(broadcast(thrArr), "feat")
      .withColumn("t",
        graft.functions.VectorExprs.lowerBound(col("ts"), col("val")))
      .groupBy("node", "feat", "t", "label").agg(count(lit(1)).as("c"))
  }

  /** [[binnedCounts]] over a pre-binned frame (the fitTree recursion):
    * the explode emits each row's PRECOMPUTED (feat, bin) pairs — no
    * threshold join, no binary-search probe — then aggregates
    * identically. */
  private def binnedCountsFromBins(wideB: DataFrame): DataFrame =
    wideB.select(col("node"), col("label"),
        explode(array(featNames.map(f =>
          struct(lit(f).as("feat"), col(binName(f)).as("t"))): _*)).as("u"))
      .select(col("node"), col("label"),
        col("u.feat").as("feat"), col("u.t").as("t"))
      .groupBy("node", "feat", "t", "label").agg(count(lit(1)).as("c"))

  private[graft] val splitSchema = StructType(Seq(
    StructField("node", StringType, nullable = false),
    StructField("feat", StringType, nullable = false),
    StructField("t", DoubleType, nullable = false),
    StructField("wg", DoubleType, nullable = false),
    StructField("n", LongType, nullable = false)))

  /** Driver half of split evaluation, over the COLLECTED grid-bounded
    * counts — the same division of labor as Spark ML's tree induction
    * (executors aggregate per-node histograms; `binsToBestSplit` picks
    * the winner on the driver): the cumulative-over-bins sweep, the
    * integer gini sums, and the argmin are all O(grid) arithmetic, and
    * running them as distributed windows/joins bought nothing but
    * scheduler latency (round-6's per-level cost). Arithmetic matches
    * the engine expression shape exactly: counts stay integers (BigInt ≙
    * the former DECIMAL(38,0) route ≙ DuckDB HUGEINT — no overflow at
    * any node size), ONE correctly-rounded toDouble per sum, then the
    * fixed IEEE shape `nL − SL/nL + nR − SR/nR`; ties break by
    * (wg, feat, t); unsplittable nodes (every candidate leaves a side
    * empty) yield no row, exactly like the old nl>0 && nr>0 filter. */
  private[graft] def chooseSplits(
      cntRows: Array[org.apache.spark.sql.Row],
      thrByFeat: Seq[(String, Array[Double])]): Array[org.apache.spark.sql.Row] = {
    val f0 = featNames.head
    cntRows.groupBy(_.getString(0)).toSeq.flatMap { case (node, rows) =>
      // per-label totals from the f0 slice: every data row contributes
      // exactly one f0 row (null bin included), so this is the node census
      val tot: Map[Any, Long] = rows.iterator
        .filter(_.getString(1) == f0)
        .toSeq.groupBy(_.get(3))
        .map { case (l, rs) => l -> rs.map(_.getLong(4)).sum }
      val byFtl: Map[(String, Double, Any), Long] = rows.iterator
        .filter(!_.isNullAt(2))
        .map(r => (r.getString(1), r.getDouble(2), r.get(3)) -> r.getLong(4))
        .toMap
      val cands = thrByFeat.flatMap { case (f, ts) =>
        val cum = scala.collection.mutable.Map.empty[Any, Long]
        ts.iterator.map { t =>
          var nl = 0L; var nr = 0L
          var sl = BigInt(0); var sr = BigInt(0)
          tot.foreach { case (l, tc) =>
            val cl = cum.getOrElse(l, 0L) + byFtl.getOrElse((f, t, l), 0L)
            cum(l) = cl
            val cr = tc - cl
            nl += cl; nr += cr
            sl += BigInt(cl) * BigInt(cl); sr += BigInt(cr) * BigInt(cr)
          }
          (f, t, nl, nr, sl, sr)
        }.toSeq
      }.filter(c => c._3 > 0 && c._4 > 0)
      if (cands.isEmpty) None
      else {
        val (f, t, nl, nr, sl, sr) = cands.minBy { case (f, t, nl, nr, sl, sr) =>
          (nl.toDouble - sl.toDouble / nl.toDouble +
            nr.toDouble - sr.toDouble / nr.toDouble, f, t)
        }
        val wg = nl.toDouble - sl.toDouble / nl.toDouble +
          nr.toDouble - sr.toDouble / nr.toDouble
        Some(org.apache.spark.sql.Row(node, f, t, wg, nl + nr))
      }
    }.toArray
  }

  /** Exact best split per node over the shared candidate set:
    * (node, feat, t, wg, n) as a LocalRelation — [[binnedCounts]]
    * distributed, [[chooseSplits]] on the driver. */
  private[graft] def bestSplits(wide: DataFrame, thr: DataFrame): DataFrame = {
    val thrByFeat = thrToDriver(thr.collect())
    toLocalRows(wide.sparkSession,
      chooseSplits(binnedCounts(wide, thr).collect(), thrByFeat), splitSchema)
  }

  /** (feat, sorted candidate array) pairs from collected (feat, t) rows. */
  private def thrToDriver(
      thrRows: Array[org.apache.spark.sql.Row]): Seq[(String, Array[Double])] = {
    val rows = thrRows.map(r => r.getString(0) -> r.getDouble(1))
    featNames.map { f =>
      val ts = rows.collect { case (`f`, t) => t }.sorted.toArray
      require(ts.nonEmpty, s"no candidate thresholds for feature $f")
      f -> ts
    }
  }

  /** Value of the node's chosen split feature for the current row. */
  private def chosenVal: Column =
    coalesce(featNames.map(f => when(col("feat") === f, col(f))): _*)

  // ----------------------------------------------------- bin-once recursion
  // Raw feature values are only ever USED through "smallest candidate ≥
  // val" (binning) and "val ≤ chosen candidate t*" (descent). The second
  // reduces to the first: with sorted candidates, val ≤ t* ⟺
  // bin(val) ≤ t* (bin(val) is a candidate ≥ val and ≤ any candidate ≥
  // val; null bin ⇒ val above every candidate ⇒ right child). So the
  // whole recursion needs each row's per-feature BIN exactly once —
  // computed at the root, cached, never re-derived — instead of
  // re-exploding and re-probing the full frame every level.

  private def binName(f: String) = s"bin_$f"

  /** Bin every row × feature ONCE: (id, label, bin_f0..bin_fN), where
    * bin_fj = smallest candidate threshold ≥ fj (null above all
    * candidates — LowerBound's contract). The candidate set is already
    * driver-local ([[thrToDriver]]), so this is a pure NARROW projection
    * against literal sorted arrays — no join, no broadcast, one
    * codegen'd binary search per feature. */
  private def binWide(p: DataFrame,
                      thrByFeat: Seq[(String, Array[Double])]): DataFrame = {
    val binCols = thrByFeat.map { case (f, ts) =>
      graft.functions.VectorExprs.lowerBound(typedLit(ts), col(f))
        .as(binName(f))
    }
    p.select(col("id") +: col("label") +: binCols: _*)
  }

  /** [[assignChildren]] over a pre-binned frame: descend by comparing the
    * chosen feature's BIN to the split threshold (see the equivalence
    * note above; a null bin compares null → right child, matching
    * val > every candidate ≥ t*). Same LEFT-join leaf semantics. */
  private def assignChildrenBins(wideB: DataFrame, best: DataFrame): DataFrame = {
    val keep = wideB.columns.filterNot(_ == "node").map(col).toSeq
    val prefix = when(col("node") === "root", lit("")).otherwise(col("node"))
    val chosenBin =
      coalesce(featNames.map(f => when(col("feat") === f, col(binName(f)))): _*)
    wideB.join(broadcast(best.select("node", "feat", "t")), Seq("node"), "left")
      .withColumn("child",
        when(col("feat").isNull, col("node"))
          .otherwise(concat(prefix,
            when(chosenBin <= col("t"), "L").otherwise("R"))))
      .select(keep :+ col("child").as("node"): _*)
  }

  /** Next-level assignment: rows of nodes WITH a chosen split descend to
    * node+"L"/"R" (the root's children are plain "L"/"R" — no "root"
    * prefix); rows of nodes absent from `best` (unsplittable — every
    * candidate left one side empty, e.g. all feature values identical in
    * the node) keep their node id and become that node's leaf directly.
    * LEFT join, so leaves always partition the data — an inner join would
    * silently drop unsplittable nodes' rows and break the row contract.
    * Feature columns are retained so the result can feed the NEXT level's
    * [[bestSplits]] directly (the depth-k recursion). */
  private[graft] def assignChildren(wide: DataFrame, best: DataFrame): DataFrame = {
    val keep = wide.columns.filterNot(_ == "node").map(col).toSeq
    val prefix = when(col("node") === "root", lit("")).otherwise(col("node"))
    wide.join(broadcast(best.select("node", "feat", "t")), Seq("node"), "left")
      .withColumn("child",
        when(col("feat").isNull, col("node"))
          .otherwise(concat(prefix,
            when(chosenVal <= col("t"), "L").otherwise("R"))))
      .select(keep :+ col("child").as("node"): _*)
  }

  /** Driver rows → LocalRelation: downstream `broadcast()` uses build
    * driver-side with no job and no lineage. */
  private def toLocalRows(s: SparkSession,
                          rows: Array[org.apache.spark.sql.Row],
                          schema: StructType): DataFrame =
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](rows.toSeq.asJava),
      schema)

  /** q80: the depth-2 tree over the embeddings fixture — 3 split rows
    * (root, L, R: chosen feature, threshold, weighted gini, node size) +
    * 4 leaf rows (leaf gini, size, majority class). */
  def query(s: SparkSession, dir: String): DataFrame = tree(s, dir, 2)

  /** Depth-`depth` tree over the embeddings table — the general form of
    * q80's recursion (q108 runs it at depth 3, the oracle-checked coverage
    * of the reference's maxDepth semantics at tractable-oracle depth;
    * random_forest.py:101-108 runs MLlib at maxDepth 8/10, whose splits
    * are RNG-dependent and can only be rows-checked). `approxBinning`
    * selects [[thresholdsApprox]] — the documented at-scale candidate
    * path. */
  def tree(s: SparkSession, dir: String, depth: Int,
           approxBinning: Boolean = false): DataFrame = {
    // every post-bin stage is either grid-bounded or a scan of the
    // cached fixture-scale frame — 32 shuffle partitions just multiply
    // task-scheduling overhead across the recursion's many tiny stages.
    // Size the shuffle to the job like the streaming harnesses do
    // (production sizes the same conf to data volume); restored after.
    // fitTree's result is a driver-built LocalRelation, so nothing lazy
    // escapes with the narrowed setting.
    val partsKey = "spark.sql.shuffle.partitions"
    val partsPrev = s.conf.get(partsKey)
    s.conf.set(partsKey, "8")
    try fitTree(pts(s, dir), depth, approxBinning)
    finally s.conf.set(partsKey, partsPrev)
  }

  /** The per-level recursion, BIN-ONCE form: raw features are read
    * exactly twice — once to pick candidates, once to bin — and every
    * level after that is ONE job over the cached (id, label, bins, node)
    * frame: a scan + a grid-bounded hash agg + a driver-side split
    * chooser ([[chooseSplits]]), independent of candidate count AND free
    * of per-level binning work (the round-6 profile showed each level
    * re-exploding and re-probing the same values, then spending more
    * wall-clock on distributed window/join orchestration of grid-sized
    * frames than on data — together ~10% of the whole suite across
    * q80+q108; this form runs the pair ~3× faster). The division of
    * labor is Spark ML's own tree induction exactly: executors aggregate
    * per-node histograms, `binsToBestSplit` runs on the driver, node
    * assignment is re-derived from the cached binned points each
    * iteration (NodeIdCache off). Depth-k at 100 TB is k bounded passes
    * over pre-binned data, never a per-node job storm; everything
    * collected is grid-bounded (nodes × features × bins × classes), never
    * data-bounded. */
  private[graft] def fitTree(input: DataFrame, depth: Int,
                             approxBinning: Boolean = false): DataFrame = {
    require(depth >= 1, s"tree depth must be >= 1, got $depth")
    val p = input.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val persisted = scala.collection.mutable.ListBuffer[DataFrame](p)
    try {
      val root = p.withColumn("node", lit("root"))
      // job 1: the candidate set (fills p's cache in the same pass)
      val thrByFeat = thrToDriver(
        (if (approxBinning) thresholdsApprox(p)
         else thresholds(toLong(root).select("id", "feat", "val"))).collect())

      // BIN ONCE and cache: the only data the recursion reads. The cached
      // plan is one projection over p, so per-level consumer plans stay
      // small (binned leaf + ≤level broadcast joins) — no lineage growth.
      val binned = binWide(p, thrByFeat).withColumn("node", lit("root"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      persisted += binned
      // per-level node assignment is NOT cached: each level is narrow
      // codegen (broadcast hash probe + case) over the cached binned
      // frame, so recomputing it inside the next level's count job is
      // cheaper than another cache generation per level — the same trade
      // Spark ML's tree induction defaults to (NodeIdCache off,
      // re-deriving node ids from the cached binned points each
      // iteration). Jobs per tree: 1 candidate pass + 1 count job per
      // level + 1 leaf census — each a single scan + one grid-bounded
      // hash shuffle.
      var cur = binned
      val splitRows = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.Row]
      for (_ <- 1 to depth) {
        // ≤ 2^(level-1) split rows, node size included (nl + nr)
        val best = chooseSplits(binnedCountsFromBins(cur).collect(), thrByFeat)
        splitRows ++= best
        cur = assignChildrenBins(cur,
          toLocalRows(p.sparkSession, best, splitSchema))
      }

      // leaf census (labels cast to long so the majority tie-break is a
      // numeric order — class labels are integral, as leaf `pred` already
      // assumes), then gini + majority on the driver like the splits
      val leafCnt = cur
        .groupBy(col("node"), col("label").cast(LongType).as("label"))
        .agg(count(lit(1)).as("c")).collect()
      val leafRows = leafCnt.groupBy(_.getString(0)).toSeq.map {
        case (node, rs) =>
          val n = rs.map(_.getLong(2)).sum
          val s = rs.map(r => BigInt(r.getLong(2)) * BigInt(r.getLong(2))).sum
          val maj = rs.minBy(r => (-r.getLong(2), r.getLong(1))).getLong(1)
          org.apache.spark.sql.Row(node, "leaf", null, null,
            round6(1.0 - s.toDouble / (n.toDouble * n.toDouble)), n,
            maj.toInt)
      }
      val outRows = splitRows.map(r =>
        org.apache.spark.sql.Row(r.getString(0), "split", r.getString(1),
          r.getDouble(2), round6(r.getDouble(3)), r.getLong(4), null)) ++
        leafRows
      // ≤ 2^depth + (2^depth − 1) rows, already driver-local — emit as a
      // LocalRelation (no materialization job, nothing lazy reads the
      // caches after this, so the finally can release them immediately)
      toLocalRows(p.sparkSession, outRows.sortBy(_.getString(0)).toArray,
        StructType(Seq(
          StructField("node", StringType, nullable = false),
          StructField("kind", StringType, nullable = false),
          StructField("feat", StringType, nullable = true),
          StructField("thr", DoubleType, nullable = true),
          StructField("score", DoubleType, nullable = false),
          StructField("n", LongType, nullable = false),
          StructField("pred", IntegerType, nullable = true))))
    } finally { persisted.foreach(_.unpersist()); () }
  }

  /** Spark's `round(x, 6)` exactly (HALF_UP over the shortest decimal
    * representation) — driver twin of the engine expression, so moving
    * the score arithmetic driver-side cannot perturb the oracle hash. */
  private def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  // ---------------------------------------------------------------- oracle

  /** CASE expression mirroring `chosenVal` for alias `p` vs best alias `b`. */
  private def chosenValS(p: String, b: String): String =
    s"CASE $b.feat " +
      featNames.map(f => s"WHEN '$f' THEN $p.$f").mkString(" ") + " END"

  /** One level's best-split CTE chain over `wide` (id,label,node,f0..f3)
    * and its long form `lng` (id,label,node,feat,val). */
  private def bestS(wide: String, lng: String): String =
    s"""SELECT node, feat, t, wg, n FROM (
       |  SELECT node, feat, t, wg, n,
       |    ROW_NUMBER() OVER (PARTITION BY node ORDER BY wg, feat, t) AS rn
       |  FROM (
       |    SELECT node, feat, t,
       |      CAST(nl AS DOUBLE) - CAST(sl AS DOUBLE)/CAST(nl AS DOUBLE)
       |        + CAST(nr AS DOUBLE) - CAST(sr AS DOUBLE)/CAST(nr AS DOUBLE) AS wg,
       |      CAST(nl + nr AS BIGINT) AS n
       |    FROM (
       |      SELECT u.node, u.feat, u.t,
       |        SUM(u.cum) AS nl, SUM(u.cum * u.cum) AS sl,
       |        SUM(tt.tc - u.cum) AS nr,
       |        SUM((tt.tc - u.cum) * (tt.tc - u.cum)) AS sr
       |      FROM (
       |        SELECT g.node, g.feat, g.t, g.label,
       |          SUM(COALESCE(c.c, 0)) OVER (
       |            PARTITION BY g.node, g.feat, g.label ORDER BY g.t) AS cum
       |        FROM (SELECT n.node, h.feat, h.t, l.label
       |              FROM (SELECT DISTINCT node FROM $wide) n
       |              CROSS JOIN thr h CROSS JOIN labels l) g
       |        LEFT JOIN (
       |          SELECT node, feat, t, label, COUNT(*) AS c FROM (
       |            SELECT r.node, r.feat, r.label,
       |              list_min(list_filter(ta.ts, x -> x >= r.val)) AS t
       |            FROM $lng r JOIN thrarr ta ON r.feat = ta.feat)
       |          WHERE t IS NOT NULL
       |          GROUP BY node, feat, t, label) c
       |          ON g.node = c.node AND g.feat = c.feat
       |            AND g.t = c.t AND g.label = c.label) u
       |      JOIN (SELECT node, label, COUNT(*) AS tc FROM $wide
       |            GROUP BY node, label) tt
       |        ON u.node = tt.node AND u.label = tt.label
       |      GROUP BY u.node, u.feat, u.t)
       |    WHERE nl > 0 AND nr > 0))
       |WHERE rn = 1""".stripMargin

  private def toLongS(wide: String): String =
    s"""SELECT id, label, node, u['feat'] AS feat, u['val'] AS val FROM (
       |  SELECT id, label, node, unnest([
       |    ${featNames.map(f => s"{'feat': '$f', 'val': $f}").mkString(", ")}
       |  ]) AS u FROM $wide)""".stripMargin

  /** Level assignment CTE, mirroring [[assignChildren]] exactly: LEFT
    * join (unsplittable nodes — absent from `best` — keep their id and
    * become leaves, so children always partition the parent), "root"
    * contributes no prefix, features retained for the next level. */
  private def assignS(wide: String, best: String): String =
    s"""SELECT p.id, p.label, ${featNames.map(f => s"p.$f").mkString(", ")},
       |  CASE WHEN b.node IS NULL THEN p.node
       |    ELSE (CASE WHEN p.node = 'root' THEN '' ELSE p.node END) ||
       |      (CASE WHEN ${chosenValS("p", "b")} <= b.t
       |       THEN 'L' ELSE 'R' END)
       |  END AS node
       |FROM $wide p LEFT JOIN $best b ON p.node = b.node""".stripMargin

  /** Depth-`depth` oracle: the same per-level CTE chain [[fitTree]] runs —
    * w0 (root) → b1 (best splits) → w1 (children) → … → w_depth (leaves) —
    * generated for any depth, so q80 (depth 2) and q108 (depth 3) share
    * one SQL builder mirroring one Spark recursion. */
  private[graft] def treeSql(depth: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH pts AS (
         |  SELECT vec_id AS id, label,
         |    ${(0 until NumFeats).map(j =>
               s"embedding[${j + 1}]::DOUBLE AS f$j").mkString(", ")}
         |  FROM embeddings),
         |labels AS (SELECT DISTINCT label FROM pts),
         |w0 AS (SELECT *, 'root' AS node FROM pts),
         |l0 AS (${toLongS("w0")}),
         |thr AS (
         |  SELECT DISTINCT feat, t FROM (
         |    SELECT feat, b, MAX(val) AS t FROM (
         |      SELECT feat, val, id,
         |        ntile($MaxBins) OVER (PARTITION BY feat ORDER BY val, id) AS b
         |      FROM l0)
         |    GROUP BY feat, b)),
         |thrarr AS (SELECT feat, LIST(t) AS ts FROM thr GROUP BY feat),
         |""".stripMargin
    for (i <- 1 to depth) {
      sb ++= s"b$i AS (${bestS(s"w${i - 1}", s"l${i - 1}")}),\n"
      sb ++= s"w$i AS (${assignS(s"w${i - 1}", s"b$i")}),\n"
      if (i < depth) sb ++= s"l$i AS (${toLongS(s"w$i")}),\n"
    }
    sb ++= s"allbest AS (${(1 to depth).map(i => s"SELECT * FROM b$i")
      .mkString(" UNION ALL ")}),\n"
    sb ++= s"leafcnt AS (SELECT node, label, COUNT(*) AS c FROM w$depth GROUP BY node, label)\n"
    sb ++=
      """SELECT node, kind, feat, thr, score, n, pred FROM (
        |  SELECT b.node, 'split' AS kind, b.feat,
        |    b.t AS thr, round(b.wg, 6) AS score, b.n,
        |    CAST(NULL AS INTEGER) AS pred
        |  FROM allbest b
        |  UNION ALL
        |  SELECT la.node, 'leaf', CAST(NULL AS VARCHAR),
        |    CAST(NULL AS DOUBLE),
        |    round(1.0 - CAST(la.s AS DOUBLE) /
        |      (CAST(la.n AS DOUBLE) * CAST(la.n AS DOUBLE)), 6),
        |    CAST(la.n AS BIGINT), mj.label
        |  FROM (SELECT node, SUM(c) AS n, SUM(c*c) AS s FROM leafcnt
        |        GROUP BY node) la
        |  JOIN (SELECT node, label FROM (
        |          SELECT node, label,
        |            ROW_NUMBER() OVER (PARTITION BY node
        |              ORDER BY c DESC, label) AS rn
        |          FROM leafcnt) WHERE rn = 1) mj
        |    ON la.node = mj.node)
        |ORDER BY node""".stripMargin
    sb.toString
  }

  def oracleSql: Map[String, String] = Map(
    "q80_gini_stump" -> treeSql(2),
    "q108_gini_tree_d3" -> treeSql(3))
}
