package graft

import graft.analytics.Relational

/** Plan-shape regression tests: the properties that matter at 100 TB —
  * column pruning, filter pushdown into the parquet scan, broadcast joins
  * for small dimensions — must survive refactors. */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("scanProjectFilter pushes filters and prunes columns at the scan") {
    val plan = planOf(Relational.scanProjectFilter(spark, sfDir))
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_extendedprice)]"), plan)
    // pruned read schema — never all 16 lineitem columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_suppkey"), readSchema)
  }

  test("joinRevenuePerNation broadcasts both dimension tables") {
    val plan = planOf(Relational.joinRevenuePerNation(spark, sfDir))
    assert("BroadcastHashJoin".r.findAllIn(plan).length === 2, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("filterRangeSet pushes range and set predicates to the scan") {
    // (the rendered plan truncates long PushedFilters lists, so assert on
    // the range predicate and the untruncated DataFilters entry)
    val plan = planOf(Relational.filterRangeSet(spark, sfDir))
    assert(plan.contains("GreaterThanOrEqual(o_totalprice,1000.0)"), plan)
    assert(plan.contains("o_orderstatus#") && plan.contains("IN (F,O)"), plan)
  }

  test("groupCount is a two-phase hash aggregate (map-side partial)") {
    val plan = planOf(Relational.groupCount(spark, sfDir))
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
  }

  test("LSH ANN join is an equi hash join on the bucket key, not a cross product") {
    val plan = planOf(graft.similarity.Similarity.annLsh(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin [bkt"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("bucketed range join is an equi join — never a nested-loop product") {
    val plan = planOf(graft.analytics.Advanced.rangeJoinBucketed(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Join") || plan.contains("HashJoin"), plan)
  }

  test("as-of join compiles to a single window pass, no join operator") {
    val plan = planOf(graft.analytics.Advanced.asofJoin(spark, sfDir))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Window") || plan.contains("WindowGroupLimit") ||
      plan.contains("RunningWindowFunction"), plan)
  }

  test("rollup runs as one Expand + two-phase hash aggregate (single scan)") {
    val plan = planOf(graft.analytics.Advanced.rollupAgg(spark, sfDir))
    assert(plan.contains("Expand"), plan)
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert("FileScan".r.findAllIn(plan).length === 1, plan)
  }

  test("shippingPriority broadcasts the filtered customer dim and pushes filters") {
    val plan = planOf(graft.analytics.Advanced.shippingPriority(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan) // top-10, no full sort
  }

  test("extensions: dot_product is a SQL function and the HOF form rewrites to it") {
    // SQL function registered by GraftExtensions
    val direct = spark.sql(
      "SELECT dot_product(array(1d, 2d, 3d), array(4d, 5d, 6d)) AS d")
    assert(direct.collect().head.getDouble(0) === 32.0)
    // optimizer rule: aggregate(zip_with(...)) over non-null double arrays
    // becomes the codegen'd DotProduct expression. Build from a scan (a
    // local Seq would be constant-folded to a LocalRelation before we can
    // observe the plan) with coalesce so containsNull=false.
    val df = graft.sources.Tables.load(spark, sfDir, "lineitem").limit(5)
      .selectExpr(
        "array(coalesce(l_quantity, 0d), coalesce(l_extendedprice, 0d)) AS a",
        "array(coalesce(l_discount, 0d), coalesce(l_tax, 0d)) AS b")
      .selectExpr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x) AS d")
    assert(df.queryExecution.optimizedPlan.toString.contains("dot_product"),
      df.queryExecution.optimizedPlan.toString)
    // rewrite matches the expression the engine would emit via dotp()
    val manual = graft.sources.Tables.load(spark, sfDir, "lineitem").limit(5)
      .select(graft.functions.VectorExprs.dotp(
        org.apache.spark.sql.functions.expr(
          "array(coalesce(l_quantity, 0d), coalesce(l_extendedprice, 0d))"),
        org.apache.spark.sql.functions.expr(
          "array(coalesce(l_discount, 0d), coalesce(l_tax, 0d))")).as("d"))
    assert(df.collect().map(_.getDouble(0)).toSeq ===
      manual.collect().map(_.getDouble(0)).toSeq)
  }

  test("two-pass ranking adds no exchange between checkpoint and output sort (q51)") {
    // round-3 finding: a pid-partitioned window re-shuffled rows the
    // checkpoint already co-located. The fix (local sort + mapPartitions
    // stamp) must keep exactly ONE exchange — the final output ordering.
    val plan = planOf(graft.analytics.Advanced.ntileRanks(spark, sfDir))
    assert(!plan.contains("hashpartitioning"), plan)
    assert("Exchange".r.findAllIn(plan).length === 1, plan)
    assert(plan.contains("MapPartitions"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("gini-tree bin assignment broadcasts the threshold table (q80)") {
    // split evaluation must join data rows against the ≤64-row candidate
    // set via broadcast — a shuffled or nested-loop join over the data
    // side would not survive 100 TB
    val p = graft.ml.GiniStump.pts(spark, sfDir)
    val root = p.withColumn("node", org.apache.spark.sql.functions.lit("root"))
    val thr = graft.ml.GiniStump.thresholds(
      graft.ml.GiniStump.toLong(root).select("id", "feat", "val"))
    // the distributed half of split evaluation (the driver half —
    // chooseSplits — is O(grid) arithmetic with no plan to audit)
    val plan = planOf(graft.ml.GiniStump.binnedCounts(root, thr))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // what must never appear is an unbroadcast product or a shuffle join
    // keyed on data rows
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // bin assignment is the codegen'd lower_bound binary search against
    // the broadcast per-feature candidate ARRAY — a narrow map inside
    // whole-stage codegen. Two shapes may not reappear: the
    // join-the-threshold-table form (its signature: a hash aggregate
    // keyed on the row id), and the array_min(filter(...)) HOF form
    // (CodegenFallback — dropped the projection to interpreted eval).
    assert(plan.contains("lower_bound"), plan)
    assert(!plan.contains("array_min"), plan)
    val idKeyedAgg = "(?i)hashaggregate\\(keys=\\[[^\\]]*\\bid\\b".r
    assert(idKeyedAgg.findFirstIn(plan).isEmpty,
      "bin assignment re-aggregates at id cardinality:\n" + plan)
  }

  test("custom TopKPerKeyExec plans partial→exchange→final, no window sort") {
    val qe = Relational.topkExecPerGroup(spark, sfDir).queryExecution
    val plan = qe.executedPlan.toString
    assert("TopKPerKey \\[".r.findAllIn(plan).length === 2, plan)
    assert(!plan.contains("Window"), plan) // the point: not the window form
    // partial stage feeds the exchange: at most k rows per key per map task
    val lines = plan.linesIterator.toSeq
    val partialIdx = lines.lastIndexWhere(_.contains("TopKPerKey ["))
    val exchangeIdx = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(exchangeIdx >= 0 && exchangeIdx < partialIdx, plan)
  }

  test("TopKPerKeyExec partial flush (bounded map state) preserves results") {
    import org.apache.spark.sql.graft.TopKPerKeyExec
    val expected = Relational.topkExecPerGroup(spark, sfDir).collect()
    val saved = TopKPerKeyExec.MaxPartialKeys
    TopKPerKeyExec.MaxPartialKeys = 2 // force many flushes per map task
    try {
      val flushed = Relational.topkExecPerGroup(spark, sfDir).collect()
      assert(flushed.toSeq === expected.toSeq)
    } finally TopKPerKeyExec.MaxPartialKeys = saved
  }

  test("runtime bloom filter prunes the fact side of a selective SMJ") {
    // at 100 TB the win is real: a selective dim predicate becomes a bloom
    // filter evaluated inside the fact scan, so most fact rows die before
    // the shuffle. Thresholds are production-sized, so force injection at
    // test scale by lowering them (and disabling broadcast, which would
    // otherwise subsume the join).
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val orders = graft.sources.Tables.load(spark, sfDir, "orders")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val line = graft.sources.Tables.load(spark, sfDir, "lineitem")
      val joined = line.join(orders,
        line("l_orderkey") === orders("o_orderkey"))
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        opt)
      // the filter must land on the FACT side (lineitem), keyed on the join key
      assert(opt.linesIterator.exists(l =>
        l.contains("might_contain") && l.contains("l_orderkey")), opt)
      // and it must RUN — pruning is a pure optimization, so the executed
      // result equals the same join with the bloom rewrite off
      val withBloom = joined.count()
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val without = line.join(orders,
        line("l_orderkey") === orders("o_orderkey")).count()
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      assert(withBloom === without)
      assert(withBloom > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // the other half of the skew story next to saltedAgg: when one key
    // carries most of the rows, AQE re-plans the sort-merge join at
    // runtime and splits the oversized partition across tasks. Thresholds
    // are production-sized (256 MB), so scale them down to fire at test
    // size; the mechanism is identical at 100 TB.
    import org.apache.spark.sql.functions.{col, lit, when}
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // ~85% of lineitem rows land on key 0; the rest spread out
      val skewed = graft.sources.Tables.load(spark, sfDir, "lineitem")
        .withColumn("k",
          when(col("l_orderkey") % 7 =!= 0, lit(0L))
            .otherwise(col("l_orderkey")))
      val dim = spark.range(0, 1000).withColumnRenamed("id", "k")
      val joined = skewed.join(dim, "k")
      // execute THIS QueryExecution so its adaptive plan finalizes
      // (count() would plan+run a separate aggregate query)
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("multiDistinctAgg is one Expand + multi-level hash agg, single scan (q86)") {
    val plan = planOf(graft.analytics.Advanced.multiDistinctAgg(spark, sfDir))
    // Catalyst's distinct rewrite: ONE scan feeding Expand — not a self-join
    // per distinct column
    assert(plan.contains("Expand"), plan)
    assert("FileScan".r.findAllIn(plan).length === 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("saltedJoin is a sort-merge join on (key, salt) — never broadcast (q87)") {
    val plan = planOf(graft.analytics.Advanced.saltedJoin(spark, sfDir))
    // broadcast would make the salt pointless (no skew in a broadcast
    // join); the merge hint pins the shuffle-join regime salting exists for
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
  }

  test("q89 histogram prunes the scan to the single value column") {
    val plan = planOf(graft.analytics.Advanced.histogram(spark, sfDir))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(plan))
    assert(readSchema.contains("l_extendedprice") &&
      !readSchema.contains("l_orderkey") && !readSchema.contains("l_comment"),
      readSchema)
  }

  test("q97 centered MA: one customer-key exchange, no extra shuffles") {
    val plan = planOf(graft.analytics.Advanced.centeredMovingAvg(spark, sfDir))
    // window exchange on o_custkey + the presentation ordering only
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1, plan)
  }

  test("q100 composite scores inline: ONE documents scan, no doc_id self-join") {
    val plan = planOf(graft.text.TextOps.pipelineComposite(spark, sfDir))
    assert("FileScan".r.findAllIn(plan).length === 1, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      plan)
  }

  test("q162 admission composite: shingles collapse once, reused from cache") {
    // collapse-once contract: during the whole build (the report is
    // materialized before its caches are released) exactly ONE physical
    // shingle explode produces rows, the one that fills the cached
    // (doc, shingle) frame; the signature pass, the set sizes and both
    // verify sides read that cache. Every plan the build executes is
    // walked through AQE stages and into cached relations, so a
    // re-explode anywhere shows up as a second Generate with output rows.
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case r: ReusedExchangeExec => nodes(r.child)
      case _ => p.children.flatMap(nodes)
    })
    // what the report's own plan runs: the rendered plan inlines each
    // cached relation's ORIGINAL plan (Generate, FileScan) even though
    // execution reads the cache, so stop at cache boundaries
    def live(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: live(a.inputPlan)
      case _: InMemoryTableScanExec => Seq(p)
      case _ => p +: p.children.flatMap(live)
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(f -> qe.executedPlan); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.catalog.clearCache()
    spark.listenerManager.register(l)
    val df = try {
      val built = graft.dedup.Dedup.incrementalAdmission(spark, sfDir)
      org.apache.spark.sql.graft.listenerBus.drain(spark.sparkContext)
      built
    } finally spark.listenerManager.unregister(l)
    assert(df.count() > 0)
    val ran = plans.toArray(Array.empty[(String, SparkPlan)]).toSeq
    // one entry per physical explode that produced rows, keyed by its
    // row metric (one accumulator per operator instance)
    val explodes = ran.map(_._2).flatMap(nodes)
      .collect { case g: GenerateExec
        if g.generatorOutput.exists(_.name == "shingle") &&
          g.metrics("numOutputRows").value > 0 =>
        g.metrics("numOutputRows").id -> g.simpleString(200) }.toMap
    assert(explodes.size === 1, explodes.values.mkString("\n"))
    // the report's materialization (its localCheckpoint) re-reads the
    // cached (doc, shingle) frame and pairs (sizes + both verify sides +
    // the pair base), and no raw re-scan of the documents table: every
    // consumer reads the checkpointed/cached intermediates
    val report = ran.collect { case ("localCheckpoint", p)
      if p.output.map(_.name) == df.columns.toSeq => live(p) }
    assert(report.size === 1, ran.map(_._1))
    val kinds = report.head.map(_.getClass.getSimpleName).groupBy(identity)
      .view.mapValues(_.size).toMap.toString
    assert(report.head.count(_.isInstanceOf[InMemoryTableScanExec]) >= 3, kinds)
    assert(!report.head.exists(_.isInstanceOf[FileSourceScanExec]), kinds)
  }

  test("q161 media dedup: partial agg below the digest-keyed exchange") {
    val plan = planOf(graft.multimodal.Multimodal.mediaDedupExact(spark, sfDir))
    // only (h, partial-min, partial-count) may cross the hash exchange —
    // map-side partial aggregation must sit under it, so payload bytes
    // never shuffle (the fanOut repartition is a local-parallelism guard
    // that no-ops on real multi-split inputs)
    assert("Exchange hashpartitioning\\(h#".r.findAllIn(plan).length === 1, plan)
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
  }

  test("q237/q238 span chain: positional gram join is hash-equi, " +
      "never cartesian") {
    for (df <- Seq(graft.dedup.Dedup.sharedSpans(spark, sfDir),
      graft.dedup.Dedup.spanStripPlan(spark, sfDir))) {
      val plan = planOf(df)
      // the only join is on the gram hash — an all-pairs plan here is
      // exactly the quadratic the banded/keyed design exists to avoid
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("q233 persisted-PQ probe: index-only scans, zero nested loops") {
    val plan = planOf(graft.ml.PqCodebook.pqAdcPersisted(spark, sfDir))
    // the steady-state probe must read ONLY the persisted index — an
    // embeddings scan would mean the plan silently retrains or re-reads
    // the corpus the index exists to replace
    assert(plan.contains("graft-pq-index"), plan)
    assert(!plan.contains("embeddings"), plan)
    // ADC is equi-join + hash-agg end to end: unlike q211/q235 there is
    // no exact-baseline crossJoin anywhere in the probe
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q243 persisted-IVFADC probe: index-only scans; the only nested " +
      "loop is the broadcast K-row coarse-centroid LUT derivation") {
    val plan = planOf(graft.ml.PqCodebook.ivfAdcPersisted(spark, sfDir))
    assert(plan.contains("graft-ivfadc-index"), plan)
    assert(!plan.contains("embeddings"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // LUT derivation crossJoins 10 queries x K persisted centroids —
    // broadcast-tiny by construction; the codes-side ADC join must be
    // the hash join
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length <= 1, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q164 split leakage: bucket equi-join, no cross product") {
    val plan = planOf(
      graft.similarity.Similarity.crossSplitLeakage(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("bkt"), plan) // candidates restricted by bucket key
    // one window exchange for the per-eval best-match ranking
    assert("Exchange hashpartitioning\\(eval_id".r.findAllIn(plan).length === 1,
      plan)
  }

  test("q165 vocab coverage: ONE token explode feeds ranks AND totals") {
    val plan = planOf(graft.text.TextOps.vocabCoverage(spark, sfDir))
    // the grand total must ride the same Window as the prefix sum — a
    // second aggregation branch would re-explode the whole corpus
    assert("Generate explode".r.findAllIn(plan).length === 1, plan)
    assert("FileScan parquet".r.findAllIn(plan).length === 1, plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q167 fertility: single two-phase hash agg on source") {
    val plan = planOf(graft.text.TextOps.tokenizerFertility(spark, sfDir))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1, plan)
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
  }

  test("q181 semDedup: pair pass is an equi-join on the cell key, never all-pairs") {
    val plan = planOf(graft.similarity.Similarity.semDedup(spark, sfDir))
    // the in-cell self-join must hash/sort-join on the (possibly
    // sub-quantized) cell key — a cartesian (or nested-loop fed by the
    // id inequality alone) is the all-pairs plan SemDeDup exists to avoid
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("cell"), plan)
  }

  test("q184/q185: model scoring joins stay equi-joins on token keys") {
    for (df <- Seq(graft.text.TextOps.naiveBayesLang(spark, sfDir),
      graft.text.TextOps.bigramPerplexity(spark, sfDir))) {
      val plan = planOf(df)
      // nested loops are allowed ONLY as broadcasts of the tiny model
      // frames (1-row totals, |langs|-row priors, the doc x class
      // expansion); the token-keyed scoring joins must never degenerate
      // into a cartesian, and at least one must plan as a real equi-join
      assert(!plan.contains("CartesianProduct"), plan)
      assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length <= 4, plan)
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("BroadcastHashJoin"), plan)
    }
  }

  test("q186 batching: one bucket exchange, scan pruned to id+text") {
    val plan = planOf(graft.text.TextOps.lengthBucketBatches(spark, sfDir))
    // window + agg share the bucket_cap partitioning; presentation sort
    // is a range exchange, not another hash
    assert("Exchange hashpartitioning\\(bucket_cap".r.findAllIn(plan)
      .length === 1, plan)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      readSchema)
  }

  test("q187 chunk dup: digest membership is a semi join, no text on the probe") {
    val plan = planOf(graft.dedup.Dedup.chunkDupRatio(spark, sfDir))
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q191 MAD: group stats broadcast onto the fact scan, pruned to type+value") {
    val plan = planOf(graft.analytics.Advanced.madOutliers(spark, sfDir))
    // the fact table is never shuffled for the stat joins — medians and
    // MADs ride broadcasts; only the hash-aggs exchange
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), plan)
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 3, plan)
    plan.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("props") && !l.contains("user_id"), l)
    }
  }

  test("q205 PSI: boundaries broadcast onto the fact scan, never a shuffle join") {
    val plan = planOf(graft.analytics.Advanced.psiDrift(spark, sfDir))
    // the 9-value decile arrays ride a broadcast; the fact table joins
    // them without an exchange on its side
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q206 rules: item supports broadcast; only the basket self-join shuffles") {
    val plan = planOf(graft.analytics.Advanced.associationRules(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    // two support attachments + the 1-row basket count are broadcasts
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2, plan)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length <= 1, plan)
  }

  test("q202 ES sample: top-k plans as TakeOrdered, not a global sort") {
    val plan = planOf(graft.text.TextOps.esWeightedSample(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q210/q221/q228: token-stat rollups stay scan+agg, never a join blowup") {
    // (queries, max scans): burstiness adds a column-pruned 1-row
    // corpus-count pass next to its token scan
    for ((df, maxScans) <- Seq(
      (graft.text.TextOps.giniConcentration(spark, sfDir), 1),
      (graft.text.TextOps.tokenBurstiness(spark, sfDir), 2),
      (graft.text.TextOps.qualityLengthOls(spark, sfDir), 1))) {
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"), plan)
      assert("FileScan parquet".r.findAllIn(plan).length <= maxScans, plan)
    }
  }

  test("q224 trimmed mean: one partition window feeds one final agg") {
    val plan = planOf(graft.analytics.Advanced.trimmedMean(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert("FileScan parquet".r.findAllIn(plan).length === 1, plan)
    // the rank cut is a Window, not a self-join
    assert(plan.contains("Window") || plan.contains("WindowGroupLimit"), plan)
  }

  test("RewriteWindowTopK: fires on filter-only row_number, skips others") {
    // q33's neighbor top-k and its =1 vote pick both drop the rank —
    // the rule must replace their Windows with bounded-heap TopKPerKey
    val fired = planOf(graft.similarity.Similarity.knnClassify(spark, sfDir))
    assert("TopKPerKey".r.findAllIn(fired).length >= 2, fired)
    // q16 SELECTS its rank column — the window must survive
    val kept = planOf(
      graft.analytics.Relational.windowTopKPerGroup(spark, sfDir))
    assert(!kept.contains("TopKPerKey"), kept)
    assert(kept.contains("Window"), kept)
    // q154 computes a sibling count() over the same partition — the
    // window computes more than the row_number, so it must survive too
    val sibling = planOf(graft.dedup.Dedup.incrementalNearDup(spark, sfDir))
    assert(!sibling.contains("TopKPerKey"), sibling)
  }

  test("saltedAgg equals the direct aggregation bit-for-bit") {
    val salted = graft.analytics.Advanced.saltedAgg(spark, sfDir).collect()
    val direct = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        Relational.dsum(org.apache.spark.sql.functions.col("l_extendedprice"))
          .as("sum_price"))
      .orderBy("l_returnflag").collect()
    assert(salted.toSeq === direct.toSeq)
  }

  test("q117 transition matrix: one user-key exchange feeds window AND agg") {
    val plan = planOf(graft.analytics.Advanced.transitionMatrix(spark, sfDir))
    // the lead() window shuffles on user_id; the (src,dst) count and the
    // per-src probability window add one low-cardinality exchange each —
    // never a second full-data shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).toSeq
    assert(exchanges.length <= 3, plan)
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan) // partial agg
  }

  test("q121 rolling median: single window exchange, scan pruned to 4 columns") {
    val plan = planOf(graft.analytics.Advanced.rollingMedian(spark, sfDir))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1, plan)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("o_comment") && !readSchema.contains("o_clerk"),
      readSchema)
  }

  test("q122 EXISTS/NOT EXISTS decorrelates to semi/anti hash joins") {
    val df = graft.sql.Catalog.existsChurn(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("LeftSemi") || plan.contains("ExistenceJoin"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q125 stratified take: rank filter applies before the output sort") {
    val plan = planOf(graft.analytics.Advanced.stratifiedTake(spark, sfDir))
    // one stratum exchange for the window; the mod-k filter runs on the
    // windowed rows (never materializing unfiltered ranks downstream)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1, plan)
    assert(plan.contains("Filter"), plan)
  }

  test("q152 column profile: one scan feeds every per-column distinct") {
    val plan = planOf(
      graft.analytics.Advanced.columnProfile(spark, sfDir, approx = false))
    // the q86 multi-distinct contract: Expand shares ONE FileScan —
    // profiling N columns must not scan the table N times
    assert("FileScan parquet".r.findAllIn(plan).length === 1, plan)
    assert(plan.contains("Expand"), plan)
  }

  test("q152 approx profile (at-scale default): one scan, NO row expansion") {
    val plan = planOf(graft.analytics.Advanced.columnProfile(spark, sfDir))
    // HLL++ sketches aggregate in fixed per-column state — the plan is a
    // plain two-phase HashAggregate with no Expand (the exact form's
    // |columns|× row multiplication is what approx mode buys away)
    assert("FileScan parquet".r.findAllIn(plan).length === 1, plan)
    assert(!plan.contains("Expand"), plan)
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
  }

  test("q144/q145: one source-key exchange each, scan pruned to 3 columns") {
    // the PPS sampler and the packer both claim "one keyed window, no
    // global cumsum": the only hash exchange is on `source`, the token
    // line is built inside it, and the scan reads nothing but
    // (doc_id, source, text)
    Seq(graft.text.TextOps.ppsSample(spark, sfDir),
        graft.text.TextOps.sequencePacking(spark, sfDir)).foreach { df =>
      val plan = planOf(df)
      assert("Exchange hashpartitioning\\(source".r.findAllIn(plan).length >= 1,
        plan)
      assert(!plan.contains("Exchange SinglePartition"), plan)
      val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
      assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
        !readSchema.contains("n_chars") && !readSchema.contains("lang"),
        readSchema)
    }
  }

  test("q244/q250: one corpus scan, one aggregate pass — no per-rule " +
      "or per-source re-scan") {
    val ablation = planOf(graft.text.TextOps.filterAblation(spark, sfDir))
    // all 16 rule sums + denominators come out of a single scan
    assert("FileScan parquet".r.findAllIn(ablation).length === 1, ablation)
    assert(!ablation.contains("CartesianProduct"), ablation)
    val loo = planOf(graft.text.TextOps.looSourceImpact(spark, sfDir))
    // the totals side is the checkpointed per-source agg, not a rescan,
    // and it reaches the report as a broadcast
    assert(!loo.contains("FileScan parquet"), loo) // localCheckpoint RDD
    assert(loo.contains("BroadcastNestedLoopJoin") ||
      loo.contains("BroadcastExchange"), loo)
  }

  test("q245 covariance: the D^2 explode partial-aggregates before its " +
      "exchange; no cartesian of big sides") {
    // inspect the covariance-entry frame itself (pcaPower checkpoints
    // it away): explode to (j,k,prod) must partial-agg map-side
    val plan = planOf(graft.ml.PcaPower.covFrameForPlan(spark, sfDir))
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the 1-row mean array joins in as a broadcast, never shuffles the
    // embedding side
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("q254 triangles: two-hop closure is hash joins on node ids, " +
      "never a nested-loop blowup") {
    val plan = planOf(graft.dedup.Dedup.dupGraphTriangles(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    // the closing edge check is a semi join
    assert(plan.contains("LeftSemi"), plan)
  }

  test("q237 top-k is TakeOrderedAndProject — the x100 ramp fix stays " +
      "pinned (no single-partition window)") {
    val plan = planOf(graft.dedup.Dedup.sharedSpans(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q273 coverage budgets: each top-K is TakeOrderedAndProject, " +
      "no global rank window over the vocabulary") {
    val plan = planOf(graft.text.TextOps.vocabBudgetCoverage(spark, sfDir))
    assert("TakeOrderedAndProject".r.findAllIn(plan).length >=
      graft.text.TextOps.CoverageKs.length, plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q269 epoch batches: stateless hash routing — no global sort, " +
      "no window, totals broadcast back") {
    val plan = planOf(graft.text.TextOps.epochBatches(spark, sfDir))
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("q274 source overlap: hub-gated gram join is hash, never " +
      "cartesian") {
    val plan = planOf(graft.dedup.Dedup.sourceOverlap(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"),
      plan)
  }

  test("q275 hard negatives: queries broadcast; the corpus side never " +
      "shuffles for the join") {
    val plan = planOf(
      graft.similarity.Similarity.hardNegatives(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("q267 logistic GD gradient pass: one scan into a map-side " +
      "partial aggregate, means broadcast — no cartesian of big sides") {
    // the per-step gradient aggregate is the hot shape: partial + final
    val plan = planOf(graft.ml.LogitGd.logitGd(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q237 span chain: the match frame shuffles without a window — " +
      "islands fold inside the aggregation, no sort-shuffle stage") {
    val plan = planOf(graft.dedup.Dedup.sharedSpans(spark, sfDir))
    // the round-12 rewrite: no WindowExec anywhere in the span chain
    // (the gaps-and-islands fold runs inside ObjectHashAggregate), and
    // no distinct pass re-shuffling the match frame
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("ObjectHashAggregate") ||
      plan.contains("SortAggregate"), plan)
  }

  test("q299 source minhash: both aggregation levels are partial-agg " +
      "hash aggregates; the pair matrix is broadcast, never shuffled") {
    val plan = planOf(graft.dedup.Dedup.sourceMinhashJaccard(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    // shard-level partial minima then source-level merge: >= 2 agg ops
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert(plan.contains("Broadcast"), plan)
  }

  test("q300 scatter-gather: shard-local and global top-k are both " +
      "PARTITIONED windows — the gather never collapses to one task") {
    val plan = planOf(graft.similarity.Similarity
      .scatterGatherTopK(spark, sfDir))
    // every Window operator carries a partition spec (no global window)
    val winLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, plan)
    winLines.foreach { l =>
      assert(l.contains("query_id"), s"window not query-partitioned: $l")
    }
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q301 bootstrap: the x64 replicate explode feeds a map-side " +
      "partial aggregate — no resampled copy is ever shuffled raw") {
    val plan = planOf(graft.text.TextOps.bootstrapCi(spark, sfDir))
    assert(plan.contains("Generate explode"), plan)
    // partial + final aggregation around the (source, b) exchange
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q303 W1 matrix: boundaries broadcast to the one corpus scan; " +
      "the pair join runs on the bins-grid frame, never the corpus") {
    val plan = planOf(graft.analytics.Advanced.w1Binned(spark, sfDir))
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q315 cube: one Expand into one aggregate — a single corpus " +
      "scan serves all four grouping sets") {
    val plan = planOf(Relational.cubeAgg(spark, sfDir))
    assert(plan.contains("Expand"), plan)
    assert(plan.linesIterator.count(_.contains("Scan parquet")) === 1,
      plan)
  }

  test("q311 filter expansion: rank windows rewrite to query-keyed " +
      "TopKPerKey; the probed prefix broadcasts to the candidate scan") {
    val plan = planOf(graft.similarity.Similarity
      .annFilterExpand(spark, sfDir))
    // the row_number + rk <= k chains plan as the custom partial+final
    // top-k physical operator, keyed per query — never a global window
    val topkLines = plan.linesIterator
      .filter(_.contains("TopKPerKey")).toSeq
    assert(topkLines.nonEmpty, plan)
    topkLines.foreach { l =>
      assert(l.contains("query_id"), s"top-k not query-keyed: $l")
    }
    assert(!plan.contains("windowspecdefinition"), plan)
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q320 winnowing: the selection window is doc-partitioned and the " +
      "match join is an equi-join — never a cross product") {
    val plan = planOf(graft.dedup.Dedup.winnowMatches(spark, sfDir))
    plan.linesIterator.filter(_.contains("windowspecdefinition")).foreach {
      l => assert(l.contains("doc_id"), s"window not doc-partitioned: $l")
    }
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q329 peak concurrency: every sweep window is DAY-partitioned — " +
      "the classic single-sort formulation never appears") {
    val plan = planOf(graft.analytics.Advanced.peakConcurrency(spark, sfDir))
    val sweepWins = plan.linesIterator
      .filter(_.contains("windowspecdefinition"))
      .filterNot(_.contains("user_id")) // the q50 session windows
      .toSeq
    assert(sweepWins.nonEmpty, plan)
    sweepWins.foreach { l =>
      assert(l.contains("day"), s"sweep window not day-partitioned: $l")
    }
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q330 weighted quantiles: one source-partitioned window pass, " +
      "map-side partial aggregation after it") {
    val plan = planOf(graft.text.TextOps.weightedQuantiles(spark, sfDir))
    plan.linesIterator.filter(_.contains("windowspecdefinition")).foreach {
      l => assert(l.contains("source"), s"window not source-partitioned: $l")
    }
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q337 SQL UDFs inline: no black-box UDF node survives resolution, " +
      "and the declared token fn equals the shared TextPrims expression") {
    import org.apache.spark.sql.functions._
    val df = graft.sql.Catalog.sqlUdfHistogram(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      plan.take(800))
    // the inlined expression is the regex itself
    assert(df.queryExecution.optimizedPlan.toString
      .contains("regexp_extract_all"), "scalar SQL UDF did not inline")
    // value parity with the Column-side primitive on every doc
    spark.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_tok_est2(
        |t STRING) RETURNS INT
        |RETURN CAST(size(regexp_extract_all(lower(t),
        |  '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS INT)""".stripMargin)
    val mismatch = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(expr("graft_tok_est2(text)").as("u"),
        graft.functions.TextPrims.bpeTokensC(col("text")).as("c"))
      .filter(col("u") =!= col("c")).count()
    assert(mismatch === 0L)
  }

  test("q327 JW linkage: the kernel expression stays inside whole-stage " +
      "codegen over the candidate join — no fallback projection") {
    val df = graft.dedup.Dedup.jwLinkage(spark, sfDir)
    df.collect() // finalize the adaptive plan so codegen stages render
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("jaro_winkler") && l.trim.stripPrefix("+- ")
        .stripPrefix(":- ").startsWith("*(")),
      plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q370 null-safe join plans as an equi HASH join — <=> keys hash " +
      "like values, never a nested loop") {
    val plan = planOf(graft.analytics.Advanced.nullSafeJoin(spark, sfDir))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("q360 TPC-H Q5: every dimension joins by BROADCAST — the fact " +
      "tables never shuffle against customer/supplier/nation/region") {
    val plan = planOf(graft.analytics.Advanced.tpchQ5(spark, sfDir))
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 4, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q372 TPC-H Q7: both nation aliases BROADCAST; the only " +
      "non-broadcast join is the fact-fact lineitem-orders hash join") {
    val plan = planOf(graft.analytics.Advanced.tpchQ7(spark, sfDir))
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 3, plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q373 TPC-H Q8: part/nation(x2)/region/customer/supplier all " +
      "broadcast; numerator+denominator come from ONE aggregate, so " +
      "the plan has exactly one pass over lineitem") {
    val df = graft.analytics.Advanced.tpchQ8(spark, sfDir)
    val plan = planOf(df)
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 5, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // one-pass: lineitem's scan appears exactly once in the plan
    assert("lineitem".r.findAllIn(plan).length === 1, plan)
  }

  test("q374/q376 global top-20 plans as TakeOrderedAndProject — never " +
      "a full global sort; q374's returnflag filter reaches the scan") {
    val p10 = planOf(graft.analytics.Advanced.tpchQ10(spark, sfDir))
    assert(p10.contains("TakeOrderedAndProject"), p10)
    assert(!p10.contains("CartesianProduct"), p10)
    assert(p10.contains("l_returnflag"), p10) // pushed to the parquet scan
    val p18 = planOf(graft.analytics.Advanced.tpchQ18(spark, sfDir))
    assert(p18.contains("TakeOrderedAndProject"), p18)
    // the HAVING aggregate runs BELOW the joins: lineitem feeds an
    // aggregate, not a join, so partial aggregation shrinks the fact
    // before any exchange-to-join
    assert(!p18.contains("CartesianProduct"), p18)
  }

  test("q388 Gini rank has NO window operator — the global rank runs as " +
      "the two-pass range-partition stamp, never SinglePartition") {
    val plan = planOf(graft.analytics.Advanced
      .giniConcentration(spark, sfDir))
    assert(!plan.contains("Window"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q344 Spearman ranks WITHOUT a row-grain window: no Window " +
      "operator and no SinglePartition exchange anywhere — the old " +
      "rank().over(partitionBy(l_returnflag)) funneled ~n/3 lineitem " +
      "rows through ONE task per flag") {
    val plan = planOf(graft.analytics.Advanced.spearmanCorr(spark, sfDir))
    assert(!plan.contains("Window"), plan.take(1500))
    assert(!plan.contains("SinglePartition"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("q344 grouped-prefix ranks match the window-rank semantic oracle " +
      "(doubled fractional ranks, incl. ties)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .select("l_returnflag", "l_quantity")
    val groups = li.groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("c"))
    val got = graft.analytics.RangeIndex
      .groupedPrefix(spark, groups, "l_returnflag", "l_quantity", "c")
      .select(col("l_returnflag"), col("l_quantity"),
        (lit(2) * (col("pfx") + 1) + col("c") - 1).as("dr"))
    val wR = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    val wT = Window.partitionBy("l_returnflag", "l_quantity")
    val want = li
      .withColumn("dr", lit(2) * rank().over(wR) +
        count(lit(1)).over(wT) - lit(1))
      .select("l_returnflag", "l_quantity", "dr").distinct()
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "groupedPrefix doubled ranks diverged from window ranks")
  }

  test("q352 map-literal dimension lookup: NO join operator anywhere in " +
      "the plan — the decode is a projection expression") {
    val plan = planOf(graft.analytics.Advanced
      .mapLookupDimension(spark, sfDir))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("element_at") || plan.contains("map_keys") ||
      plan.contains("keys:"), plan.take(1200))
  }

  test("q343 runtime bloom filter is INJECTED: the fact-side scan gains " +
      "a might_contain predicate under the pinned thresholds") {
    val df = graft.analytics.Advanced.runtimeFilterJoin(spark, sfDir)
    // runtimeFilterJoin localCheckpoints under its knobs, so the
    // interesting plan is the checkpoint's PARENT — re-derive it here
    // with the same knobs to inspect the optimized form
    val knobs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val old = knobs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      knobs.foreach { case (k, v) => spark.conf.set(k, v) }
      import org.apache.spark.sql.functions._
      val ord = graft.sources.Tables.load(spark, sfDir, "orders")
        .filter(col("o_orderstatus") === "F" &&
          col("o_totalprice") > 150000.0)
        .select("o_orderkey", "o_orderpriority")
      val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_quantity")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") ||
        opt.contains("bloom_filter_agg"), opt.take(2000))
    } finally old.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    assert(df.count() > 0)
  }

  test("q222 slice labels: the two-pass ntile plan has NO window operator " +
      "— the old global ntile() was a SinglePartition WindowExec over " +
      "the full docs frame") {
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val labels = graft.dedup.Dedup.ntileByKey(
      spark, docs.select("doc_id"), "doc_id", 4)
    val plan = planOf(labels)
    assert(!plan.contains("Window"), plan)
    // ranks come from the local-sort + index stamp, never an exchange
    // back to one task
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("q222 ntileByKey matches Spark's own ntile() on unique keys " +
      "(semantic oracle, incl. n%k!=0)") {
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select("doc_id")
    for (k <- Seq(3, 4, 7)) {
      val got = graft.dedup.Dedup.ntileByKey(spark, docs, "doc_id", k)
      val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      val want = docs.withColumn("slice",
        org.apache.spark.sql.functions.ntile(k).over(w))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"ntileByKey k=$k diverged from window ntile")
    }
  }

  test("q390 TPC-H Q21: lineitem scanned exactly ONCE — the triple " +
      "correlated EXISTS decorrelates to one aggregate + one per-order " +
      "window, never a re-probe or a self-join") {
    val plan = planOf(graft.analytics.Advanced.tpchQ21(spark, sfDir))
    val scans = "lineitem\\.parquet".r.findAllIn(plan).size
    assert(scans === 1, s"expected 1 lineitem scan, got $scans")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    // supplier + nation ride broadcasts; the fact never shuffles
    // against a dimension
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("q391 TPC-H Q17: the correlated scalar aggregate joins the " +
      "part-grain pre-aggregate — bounded lineitem scans, no cartesian") {
    val plan = planOf(graft.analytics.Advanced.tpchQ17(spark, sfDir))
    val scans = "lineitem\\.parquet".r.findAllIn(plan).size
    assert(scans <= 2, s"expected <=2 lineitem scans, got $scans")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("q392-q399 TPC-H batch plan contracts: semi/anti joins stay " +
      "hashed, dimensions broadcast, no cartesian anywhere, and every " +
      "fact table is scanned a bounded number of times") {
    import graft.analytics.Advanced
    val shapes = Seq[(String, org.apache.spark.sql.DataFrame, Int)](
      ("q392", Advanced.tpchQ4(spark, sfDir), 1),
      ("q393", Advanced.tpchQ13(spark, sfDir), 1),
      ("q394", Advanced.tpchQ16(spark, sfDir), 1),
      ("q395", Advanced.tpchQ22(spark, sfDir), 1),
      ("q396", Advanced.tpchQ2(spark, sfDir), 2),
      ("q397", Advanced.tpchQ11(spark, sfDir), 2),
      ("q398", Advanced.tpchQ15(spark, sfDir), 2),
      ("q399", Advanced.tpchQ20(spark, sfDir), 2))
    shapes.foreach { case (name, df, maxLiScans) =>
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"),
        s"$name has a cartesian:\n${plan.take(1200)}")
      val scans = "lineitem\\.parquet".r.findAllIn(plan).size
      assert(scans <= maxLiScans,
        s"$name scans lineitem $scans times (max $maxLiScans)")
    }
    // the EXISTS/NOT-IN rewrites must stay hashed semi/anti joins
    assert(planOf(Advanced.tpchQ4(spark, sfDir)).contains("LeftSemi"))
    assert(planOf(Advanced.tpchQ16(spark, sfDir)).contains("LeftAnti"))
    assert(planOf(Advanced.tpchQ22(spark, sfDir)).contains("LeftAnti"))
    assert(planOf(Advanced.tpchQ20(spark, sfDir)).contains("LeftSemi"))
  }

  test("q227 hub top-5 plans as TakeOrderedAndProject, not a global " +
      "window over the degree frame") {
    val plan = planOf(graft.dedup.Dedup.dupGraphDegrees(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("r16 fanOut guards: the compute-dense stage of q384/q152 runs " +
      "above an exchange, never single-split (round-16 optimization)") {
    // the partial aggregate must sit on top of the fanOut exchange so a
    // one-file scan cannot serialize the 120-way decimal update loop
    // (q384) or the |columns|x Expand (q152) through one task
    val p384 = planOf(graft.analytics.Advanced.bootstrapCi(spark, sfDir))
    assert("Exchange hashpartitioning\\(o_orderkey".r
      .findFirstIn(p384).isDefined, p384.take(1500))
    val p152 = planOf(
      graft.analytics.Advanced.columnProfile(spark, sfDir, approx = false))
    assert("Exchange hashpartitioning\\(l_orderkey".r
      .findFirstIn(p152).isDefined, p152.take(1500))
  }

  test("r17 shuffle scratch: the writer threshold follows the scratch " +
      "speed (stock bypass on fast scratch, sort-path pin otherwise) " +
      "and the local dir is writable") {
    // round-17 A/B (verdict item 5): with tmpfs scratch the r16 sort-path
    // pin is pure overhead on tiny-R stages — stock 200 there; the pin
    // remains the slow-FS mitigation. Env override wins either way.
    val expected = sys.env.getOrElse("SPARK_GRAFT_BYPASS_MERGE",
      if (new java.io.File("/dev/shm").canWrite) "200" else "0")
    assert(graft.sources.Tables.sessionConfigs(
      "spark.shuffle.sort.bypassMergeThreshold") === expected)
    val d = new java.io.File(
      graft.sources.Tables.sessionConfigs("spark.local.dir"))
    // the configured scratch must be creatable-writable (fallback path
    // included) — a bad dir would fail every shuffle at session start
    java.nio.file.Files.createDirectories(d.toPath)
    assert(d.isDirectory && d.canWrite, d.toString)
    // per-query scratch temp dirs are creatable and deletable
    val t = graft.sources.Tables.withScratch("plan-spec") { t =>
      assert(java.nio.file.Files.isDirectory(t)); t }
    assert(!java.nio.file.Files.exists(t))
  }
}
