package graft

import graft.sources.Tables

/** R1-R4 sampling/split operators (SURVEY.md §2.7): seeded determinism
  * within THIS engine (the property the reference relies on with seed=42),
  * plus the fraction-from-target helper semantics. */
class SamplingSpec extends SparkSpec {

  test("seeded sample is self-consistent and distributionally plausible (R1)") {
    val orders = Tables.load(spark, sfDir, "orders")
    val a = orders.sample(withReplacement = false, 0.1, 42L)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val b = orders.sample(withReplacement = false, 0.1, 42L)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(a === b) // same seed → identical row set in this engine
    val n = orders.count().toDouble
    assert(a.size > n * 0.05 && a.size < n * 0.2, s"${a.size} of $n")
    // different seed → different set (R4's "not actually disjoint" quirk)
    val c = orders.sample(withReplacement = false, 0.1, 43L)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(a != c)
  }

  test("randomSplit partitions the frame deterministically (R3)") {
    val orders = Tables.load(spark, sfDir, "orders")
    val Array(tr1, te1) = orders.randomSplit(Array(0.8, 0.2), 42L)
    val Array(tr2, te2) = orders.randomSplit(Array(0.8, 0.2), 42L)
    assert(tr1.count() === tr2.count() && te1.count() === te2.count())
    assert(tr1.count() + te1.count() === orders.count())
    // disjoint
    assert(tr1.join(te1, Seq("o_orderkey"), "inner").count() === 0)
  }

  test("fraction-from-target-rows helper (R2)") {
    val orders = Tables.load(spark, sfDir, "orders")
    val total = orders.count()
    val target = 100L
    val fraction = math.min(target.toDouble / total, 1.0)
    val sampled = orders.sample(withReplacement = false, fraction * 1.2, 42L)
      .limit(target.toInt)
    assert(sampled.count() <= target)
  }

  test("q202 ES sample: keys ranked, reproducible, token-weighted bias real") {
    val rows = graft.text.TextOps.esWeightedSample(spark, sfDir).collect()
    assert(rows.length === 50)
    // strictly ranked by the ES key with doc_id tie-break
    rows.sliding(2).foreach { case Array(a, b) =>
      val (ka, kb) = (a.getAs[Double]("es_key"), b.getAs[Double]("es_key"))
      assert(ka > kb || (ka == kb && a.getLong(0) < b.getLong(0)))
    case _ => ()
    }
    // reproducible: the derived-uniform sample is a pure function of ids
    val again = graft.text.TextOps.esWeightedSample(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq === again.map(_.getLong(0)).toSeq)
    // weighting works: token mass per sampled doc exceeds the corpus mean
    // (heavier docs are favored ∝ w — the point of weighted sampling)
    import org.apache.spark.sql.functions._
    val toks = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(graft.functions.TextPrims.bpeTokensC(col("text"))
        .cast("long")).collect().map(_.getLong(0))
    val corpusMean = toks.sum.toDouble / toks.length
    val sampleMean = rows.map(_.getAs[Long]("toks")).sum.toDouble / 50
    assert(sampleMean > corpusMean, s"$sampleMean vs $corpusMean")
  }
}
