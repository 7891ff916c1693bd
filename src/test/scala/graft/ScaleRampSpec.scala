package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** The scale-ramp claims, asserted (SCALE.md's falsifiable core): the
  * ×10 augmentation is structurally sound (no id collisions, planted
  * densities preserved, copies independent in the near-dup graph) and
  * the BSP component loop converges in ONE driver action on the ×10
  * graph — the property that makes dedup components a fixed number of
  * scans at any corpus size rather than a diameter-bound iteration. */
class ScaleRampSpec extends SparkSpec {

  private lazy val staged: String = {
    val dir = tmp()
    ScaleRamp.stage(spark, sfDir, dir, factor = 10)
    dir
  }

  test("x10 staging: counts, id uniqueness, planted density all preserved") {
    val base = graft.sources.Tables.load(spark, sfDir, "documents")
    val aug = graft.sources.Tables.load(spark, staged, "documents")
    assert(aug.count() === 10 * base.count())
    assert(aug.select("doc_id").distinct().count() === aug.count())
    // the %20 planted plane keeps its density in every copy (offset is a
    // multiple of 60, covering the 10/15/20 variant planes)
    assert(aug.filter(col("doc_id") % 20 === 0).count() ===
      10 * base.filter(col("doc_id") % 20 === 0).count())
    val embB = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val embA = spark.read.parquet(s"$staged/embeddings.parquet")
    assert(embA.count() === 10 * embB.count())
    // the ANN query set must NOT grow: copies sit far above vec_id < 10
    assert(embA.filter(col("vec_id") < 10).count() ===
      embB.filter(col("vec_id") < 10).count())
    val evB = graft.sources.Tables.load(spark, sfDir, "events")
    val evA = graft.sources.Tables.load(spark, staged, "events")
    assert(evA.count() === 10 * evB.count())
    assert(evA.select("user_id").distinct().count() ===
      10 * evB.select("user_id").distinct().count())
    // same event-time range: the ramp loads windows, not the calendar
    assert(evA.agg(max("ts")).head().getTimestamp(0) ===
      evB.agg(max("ts")).head().getTimestamp(0))
  }

  test("x10 near-dup graph: copies are independent (no cross-copy LSH " +
      "candidate pairs) and BSP components converge in ONE driver action") {
    val pairs = Dedup.lshCandidatePairs(spark, staged).localCheckpoint()
    val copyOf = (c: org.apache.spark.sql.Column) =>
      floor(c / ScaleRamp.CopyOffsetDoc)
    // every candidate pair stays inside one copy plane — ×10 data means
    // ×10 independent subgraphs, not a 10-clique per document
    assert(pairs.filter(copyOf(col("doc_a")) =!= copyOf(col("doc_b")))
      .count() === 0L)
    assert(pairs.count() > 0L)
    val (labels, rounds) = Dedup.componentsWithRounds(pairs)
    assert(labels.count() > 0L)
    assert(rounds === 1,
      s"BSP component loop took $rounds driver actions on the x10 graph")
  }
}
