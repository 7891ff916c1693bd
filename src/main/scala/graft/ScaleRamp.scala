package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scale-ramp harness (round-10 verdict item 1): makes the "would this
  * still work at 10× the data" claim FALSIFIABLE instead of rhetorical.
  *
  * [[stage]] builds a deterministic ×`factor` augmentation of the
  * scale-bearing tables (documents, embeddings, events, lineitem) —
  * synthetic sf≈1 when fed sf0.1 — and [[main]] times the engine's
  * top-cost families at ×1 (the base dir itself) and ×N, printing one
  * JSON line per family with the runtime ratio. Sub-linear-or-linear
  * ratios at a fixed core count are the evidence the per-operator
  * "shape at 100 TB" scaladocs predict; a super-linear family is a
  * quadratic hiding behind fixture luck.
  *
  * Augmentation design (why this is a fair ×10, not ×10 duplication):
  *  - `documents`: copy i offsets doc_id by i·[[CopyOffsetDoc]]
  *    (a multiple of 60, so the %10/%15/%20 planted-variant planes keep
  *    their density; far above the 2^40 variant-id plane so no id ever
  *    collides) and suffixes EVERY token with a copy tag — token counts,
  *    lengths and Zipf shape are preserved, but all cross-copy 3-gram
  *    shingles differ, so the near-dup graph is 10 independent replicas
  *    (10× docs ⇒ 10× bands ⇒ 10× candidate pairs), not a 10-clique per
  *    doc (which would be ×45 quadratic blowup BY CONSTRUCTION and
  *    measure the fixture, not the engine).
  *  - `embeddings`: copy i offsets vec_id by i·[[CopyOffsetVec]]
  *    (multiple of 210 — the %7 split and %10/%15 variant planes keep
  *    density) and generates FRESH deterministic vectors (murmur3 of
  *    (vec_id, copy, dim) → uniform [-0.5, 0.5) floats, the fixture's
  *    own domain): the ANN database grows 10×, the query set (vec_id <
  *    10) stays fixed — the production ANN scaling story.
  *  - `events`: copy i offsets event_id and user_id (10× users ⇒ 10×
  *    streaming state keys), same timestamp range (10× events per
  *    window — the load axis a stream actually scales on).
  *  - `lineitem`: rows replicated as-is (profiling cost is scan + HLL
  *    update per row; value multiplicity is irrelevant to it).
  *
  * Determinism: every augmented byte is a pure function of (base table,
  * copy index) — no RNG, no timestamps — so ramp runs are comparable
  * across rounds and the staged dir is reproducible from scratch. */
object ScaleRamp {
  /** 60 · 2^44 ≈ 1.06e15: multiple of 60, ≫ 2^40 variant plane, and
    * 9 copies stay far below 2^63. */
  val CopyOffsetDoc: Long = 60L << 44
  /** 210 · 2^40 ≈ 2.3e14: multiple of 210 (7, 10, 15 planes). */
  val CopyOffsetVec: Long = 210L << 40
  val CopyOffsetEvt: Long = 1L << 44

  /** The families the ramp measures — the suite's top-cost shapes, one
    * query per family (names from SparkEntry.queries). */
  val Families: Seq[(String, String)] = Seq(
    "lsh_candidates"   -> "q28_lsh_band_pairs",
    "dedup_components" -> "q63_dedup_components",
    "ann_ivf"          -> "q61_ann_ivf",
    "pq_codebook"      -> "q201_pq_codebook",
    "stream_parity"    -> "q85_stream_parity",
    "column_profile"   -> "q152_column_profile",
    "shared_spans"     -> "q237_shared_spans",
    "curation_funnel"  -> "q242_curation_funnel",
    "pca_power"        -> "q245_pca_power",
    "bpe_merges"       -> "q246_bpe_merges",
    "dup_triangles"    -> "q254_dup_graph_triangles",
    "tws_stream"       -> "q253_tws_parity",
    "source_minhash"   -> "q299_source_minhash",
    "hll_algebra"      -> "q302_hll_intersect",
    "hll_hierarchy"    -> "q310_hll_hierarchy",
    "winnow"           -> "q320_winnow_fingerprints",
    "kcore"            -> "q325_kcore",
    "jw_linkage"       -> "q327_jw_linkage",
    "energy_distance"  -> "q331_energy_distance",
    "als"              -> "q332_als_factorize",
    "recursive_components" -> "q336_recursive_cte",
    "pagerank"         -> "q341_pagerank",
    "heavy_hitters"    -> "q357_heavy_hitters",
    "sliding_distinct" -> "q359_sliding_distinct",
    // streaming-STATE families (round-14 verdict item 6): ×N events =
    // ×N state keys (user_id is offset per copy) under a FIXED
    // event-time horizon — the axis a production stream scales on.
    // The claim under test: RocksDB state grows with keys on the
    // executors while the DRIVER stays flat (retained_mb asserted).
    "ttl_state"        -> "q297_ttl_state",
    "timer_sessions"   -> "q264_timer_sessions",
    "cm_stream"        -> "q270_cm_stream",
    // round-15 sketch family: all three claim corpus-decoupled state
    // (k-row KMV sketches, B-bin histograms, d×w CM counters) — the
    // ramp makes the claim measurable
    "kmv_distinct"     -> "q383_kmv_distinct",
    "hist_quantiles"   -> "q380_hist_quantiles",
    "cm_join_size"     -> "q381_cm_join_size",
    // round-16 verdict item 4: the IVF probe family (the suite's
    // largest un-ramped cost block) — ×N corpus vectors, FIXED query
    // set (vec_id < 10 is offset-invariant), so the measured axis is
    // database growth under cell-bucketed probes, the production ANN
    // scaling story. ann_ivf covers the flat-IVF probe; ivfadc adds
    // the PQ-compressed rerank path (bounded training + table probes)
    "ivfadc"           -> "q235_ivfadc_recall",
    // round-16: exact selection claims O(log_B(range)) column scans and
    // O(states×B) driver state at ANY row count — ×100 lineitem should
    // cost ~1 extra histogram level, nowhere near ×100
    "exact_quantiles"  -> "q401_exact_quantiles",
    // round-16 LM family: KN statistics are TYPE-grain (distinct-bigram
    // frame); ×100 docs grows the token stream 100× but the model state
    // only with vocabulary — the scan and checkpoint are the cost axis
    "kn_perplexity"    -> "q402_kn_perplexity")

  /** All stageable tables; SPARK_GRAFT_SCALE_TABLES subsets for the
    * second-decade (×100) runs, where only the document/embedding
    * families are ramped and staging events/lineitem 100× would be
    * wasted I/O. */
  val AllTables: Seq[String] =
    Seq("documents", "embeddings", "events", "lineitem")

  /** Base overwrite + copies appended in ≤64-way unions: a single
    * 1000-way unionByName plan stalls analysis/codegen, while chunked
    * appends keep plan size flat at any factor.
    *
    * Staged into a sibling `.staging` dir and renamed on completion: a
    * crash between chunk appends must not leave a partial dataset that
    * looks valid (right schema, _SUCCESS from the last completed job)
    * and silently yields a wrong-factor ramp measurement on reuse. */
  private def writeChunked(base: DataFrame, copies: Seq[DataFrame],
                           out: String): Unit = {
    val stagingP = java.nio.file.Paths.get(out + ".staging")
    if (java.nio.file.Files.exists(stagingP))
      graft.sources.Tables.rmTree(stagingP)
    base.write.mode("overwrite").parquet(stagingP.toString)
    copies.grouped(64).foreach(ch =>
      ch.reduce(_ unionByName _).write.mode("append")
        .parquet(stagingP.toString))
    val outP = java.nio.file.Paths.get(out)
    if (java.nio.file.Files.exists(outP))
      graft.sources.Tables.rmTree(outP)
    java.nio.file.Files.move(stagingP, outP)
  }

  def stage(s: SparkSession, baseDir: String, outDir: String,
            factor: Int,
            tables: Seq[String] = AllTables): Unit = {
    // 1024 admits the ×1000 third-decade probe; the id planes stay
    // collision-free (1023·CopyOffsetDoc ≈ 1.08e18, 1023·CopyOffsetVec
    // ≈ 2.4e17, 1023·CopyOffsetEvt ≈ 1.8e16 — all ≪ 2^63, and each
    // copy's variant sub-planes stay inside its own offset slot)
    require(factor >= 2 && factor <= 1024, s"factor out of range: $factor")
    if (tables.contains("documents")) {
    val docs = graft.sources.Tables.load(s, baseDir, "documents")
    val docCopies = (1 until factor).map { i =>
      // "$1zcN": append the copy tag to every \S+ token run
      val tagged = regexp_replace(col("text"), "(\\S+)", s"$$1zc$i")
      docs.select((col("doc_id") + i * CopyOffsetDoc).as("doc_id"),
        tagged.as("text"), col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
    }
    writeChunked(docs.select(col("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars")), docCopies,
      s"$outDir/documents.parquet")
    }

    if (tables.contains("embeddings")) {
    val emb = graft.sources.Tables.load(s, baseDir, "embeddings")
    val embCopies = (1 until factor).map { i =>
      val vid = col("vec_id") + i * CopyOffsetVec
      emb.select(vid.as("vec_id"),
        transform(col("embedding"), (_, ix) =>
          ((pmod(hash(vid, lit(i), ix), lit(1000000)).cast(DoubleType)
            / 1000000.0) - 0.5).cast(FloatType)).as("embedding"),
        col("label"))
    }
    writeChunked(emb.select(col("vec_id"), col("embedding"), col("label")),
      embCopies, s"$outDir/embeddings.parquet")
    }

    if (tables.contains("events")) {
    val ev = graft.sources.Tables.load(s, baseDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val evCopies = (1 until factor).map { i =>
      ev.select((col("event_id") + i * CopyOffsetEvt).as("event_id"),
        col("ts"), (col("user_id") + i * CopyOffsetEvt).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    writeChunked(ev, evCopies, s"$outDir/events.parquet")
    }

    if (tables.contains("lineitem")) {
    val li = graft.sources.Tables.load(s, baseDir, "lineitem")
    writeChunked(li, (1 until factor).map(_ => li),
      s"$outDir/lineitem.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-scale-ramp"
    val factor = if (args.length > 2) args(2).toInt else 10
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt.max(1)
    val spark = graft.sources.Tables.session("graft-scale-ramp")
    // SPARK_GRAFT_SCALE_FAMILIES / _TABLES subset the run — the ×100
    // second-decade probe ramps only the worst-×10 document/embedding
    // families, so staging events/lineitem 100× would be pure waste
    val famFilter = sys.env.get("SPARK_GRAFT_SCALE_FAMILIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val fams = Families.filter { case (f, _) => famFilter.forall(_(f)) }
    val tables = sys.env.get("SPARK_GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(AllTables)
    if (!new java.io.File(s"$outDir/${tables.last}.parquet").isDirectory ||
        sys.env.get("SPARK_GRAFT_SCALE_RESTAGE").contains("1")) {
      val t0 = System.nanoTime()
      stage(spark, baseDir, outDir, factor, tables)
      println(f"""{"metric":"stage","factor":$factor,"sec":${(System.nanoTime() - t0) / 1e9}%.3f}""")
    }
    // DRIVER-MEMORY HIGH-WATER, two measures per ramped family:
    //  - peak_heap_mb: sum of JVM heap-pool peaks (reset before the run).
    //    In local mode this conflates driver structures with EXECUTOR
    //    execution memory (shuffle/agg buffers legitimately fill the
    //    heap before spilling), so it is a loose upper bound — reported
    //    as a diagnostic, not asserted.
    //  - retained_mb: used heap AFTER unpersisting every cached block
    //    and forcing GC. Execution memory is gone by then, so this is
    //    the driver-side residue — what an O(corpus) collect() or an
    //    unbounded accumulator would show. This one is ASSERTED.
    import scala.jdk.CollectionConverters._
    val heapPools = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
    def peakMb(): Long =
      heapPools.map(_.getPeakUsage.getUsed).sum / (1024 * 1024)
    def retainedMb(): Long = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(
        _.unpersist(blocking = true))
      System.gc(); Thread.sleep(200); System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / (1024 * 1024)
    }
    def runOne(q: String, dir: String): Double = {
      val t0 = System.nanoTime()
      Query.labelled(spark, q)(SparkEntry.queries(q)(spark, dir).count())
      (System.nanoTime() - t0) / 1e9
    }
    // warmup: absorb session/codegen one-time costs (Bench convention)
    runOne("q05_group_count", baseDir)
    val maxHeapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val rows = fams.map { case (fam, q) =>
      val base = (1 to reps).map(_ => runOne(q, baseDir)).min
      resetPeaks()
      val ramp = (1 to reps).map(_ => runOne(q, outDir)).min
      val peak = peakMb()
      val retained = retainedMb()
      // the high-water ASSERTION: after dropping caches and GC, the
      // driver residue must stay a small fixed share of the heap — an
      // O(corpus) driver materialization fails the run loudly. The
      // 256 MB floor keeps fixed JVM+session overhead from tripping
      // the check on small heaps (e.g. -Xmx1g), where a quarter-heap
      // bound is below the baseline footprint of an idle SparkSession.
      val retainedCap = math.max(maxHeapMb / 4, 256L)
      require(retained < retainedCap,
        s"$fam retained heap ${retained}MB >= cap ${retainedCap}MB " +
          s"(max(${maxHeapMb}/4, 256)) at x$factor — driver-side " +
          s"O(data) residue")
      val ratio = ramp / base
      println(f"""{"metric":"family","name":"$fam","query":"$q","x1_sec":$base%.3f,"x${factor}_sec":$ramp%.3f,"ratio":$ratio%.2f,"peak_heap_mb":$peak,"retained_mb":$retained}""")
      Console.out.flush()
      (fam, base, ramp, ratio, peak, retained)
    }
    val qs = rows.map { case (f, b, r, ra, pk, rt) =>
      f""""$f":{"x1":$b%.3f,"x$factor":$r%.3f,"ratio":$ra%.2f,"peak_heap_mb":$pk,"retained_mb":$rt}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_ramp","factor":$factor,"families":$qs,"max_heap_mb":$maxHeapMb,"base":"$baseDir","ramp":"$outDir"}""")
    spark.stop()
  }
}
