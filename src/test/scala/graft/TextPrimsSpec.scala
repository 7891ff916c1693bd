package graft

import graft.functions.TextPrims
import org.apache.spark.sql.functions._

class TextPrimsSpec extends SparkSpec {

  test("javaMd5Hex32 matches the Spark-side hex32C(md5) exactly") {
    import spark.implicits._
    val samples = Seq("", "a", "hello world", "plane3#17", "0#the fast key")
    val sparkSide = samples.toDF("s")
      .select(TextPrims.hex32C(md5(col("s"))))
      .collect().map(_.getLong(0))
    val jvmSide = samples.map(TextPrims.javaMd5Hex32)
    assert(sparkSide.toSeq === jvmSide)
  }

  test("unitFromKey is deterministic and in [-1, 1)") {
    val vs = (0 until 100).map(i => TextPrims.unitFromKey(s"plane$i#k"))
    assert(vs.forall(v => v >= -1.0 && v < 1.0))
    assert(vs === (0 until 100).map(i => TextPrims.unitFromKey(s"plane$i#k")))
    assert(vs.distinct.size === 100) // no collisions on this small set
  }

  test("shinglesC: short docs yield the whole text as one shingle") {
    import spark.implicits._
    val df = Seq("one two", "a b c d").toDF("text")
      .select(TextPrims.shinglesC(TextPrims.tokensC(col("text")), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) === Seq("one two"))
    assert(rows(1) === Seq("a b c", "b c d"))
  }

  test("tfidfTopTerms: k rows per doc, ranks dense, score consistent") {
    val rows = graft.text.TextOps.tfidfTopTerms(spark, sfDir).collect()
    val n = graft.sources.Tables.load(spark, sfDir, "documents").count()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rk")).sorted.toSeq ===
        (1 to rs.length) && rs.length <= graft.text.TextOps.TfidfTopK)
      // ranking key is (tf desc, df asc, token): verify monotonicity
      val sorted = rs.sortBy(_.getAs[Int]("rk"))
      sorted.sliding(2).foreach {
        case Array(x, y) =>
          val kx = (-x.getAs[Long]("tf"), x.getAs[Long]("df"), x.getString(1))
          val ky = (-y.getAs[Long]("tf"), y.getAs[Long]("df"), y.getString(1))
          assert(Ordering[(Long, Long, String)].lt(kx, ky))
        case _ =>
      }
    }
    rows.foreach { r =>
      val expect = r.getAs[Long]("tf") *
        math.log(n.toDouble / r.getAs[Long]("df"))
      assert(math.abs(r.getAs[Double]("tfidf") - expect) < 1e-5)
    }
  }

  test("q138 boilerplate: invariants + threshold knob monotonicity") {
    val rows = graft.text.TextOps.boilerplateSummary(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val total = r.getAs[Long]("total_positions")
      val boiler = r.getAs[Long]("boiler_positions")
      assert(boiler >= 0 && boiler <= total)
      assert(r.getAs[Int]("n_docs_flagged") <= r.getAs[Int]("n_docs"))
      val ratio = r.getAs[Double]("micro_boiler_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    // a stricter DF threshold can only shrink the boilerplate set
    val strict = graft.text.TextOps
      .boilerplateSummary(spark, sfDir, minDfPct = 90)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("boiler_positions"))
      .toMap
    rows.foreach { r =>
      assert(strict(r.getString(0)) <= r.getAs[Long]("boiler_positions"))
    }
  }

  test("q144 PPS: draws telescope to exactly k per source, PPS favors long docs") {
    val k = 10
    val rows = graft.text.TextOps.ppsSample(spark, sfDir, k).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // the ceil-division hit counts telescope: Σ hits = k exactly
      assert(r.getAs[Long]("n_draws") === k.toLong, r.getString(0))
      assert(r.getAs[Int]("n_docs_sampled") <= k)
      assert(r.getAs[Long]("max_hits") >= 1L)
    }
  }

  test("q145 packing: bins cover the stream, boundary docs bounded by bins") {
    val rows = graft.text.TextOps.sequencePacking(spark, sfDir, 512).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getAs[Long]("total_toks"); val b = r.getAs[Long]("n_bins")
      assert(b === (t + 511) / 512)
      // at most one doc can cross each internal cut
      assert(r.getAs[Int]("n_boundary_docs") <= (b - 1).max(0))
      val fill = r.getAs[Int]("last_bin_fill_pct")
      assert(fill >= 0 && fill <= 100)
    }
  }

  test("q140 temperature mix: shares sum to ~1, targets within budget") {
    val rows = graft.text.TextOps.temperatureMix(spark, sfDir, budget = 5000L)
      .collect()
    assert(rows.nonEmpty)
    val shares = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shares - 1.0) < 1e-4, s"shares sum $shares")
    // floor() per source keeps the allocation within the global budget
    assert(rows.map(_.getAs[Long]("n_target")).sum <= 5000L)
    // the TRUE flattening property: sqrt preserves the share ORDERING and
    // compresses pairwise RATIOS — share_i/share_j = sqrt(n_i/n_j), which
    // lies between 1 and n_i/n_j. (A pointwise bound against the uniform
    // share is NOT implied: a 49-docs source among (1, 49, 100) sits
    // below uniform on raw counts but above it after sqrt.)
    val big = rows.maxBy(_.getAs[Int]("n_docs"))
    val small = rows.minBy(_.getAs[Int]("n_docs"))
    if (big.getAs[Int]("n_docs") > small.getAs[Int]("n_docs")) {
      val rawRatio = big.getAs[Int]("n_docs").toDouble /
        small.getAs[Int]("n_docs")
      val shareRatio = big.getAs[Double]("share") / small.getAs[Double]("share")
      assert(shareRatio >= 1.0 - 1e-6 && shareRatio <= rawRatio + 1e-6,
        s"share ratio $shareRatio vs raw $rawRatio")
      // relative tolerance: shares carry 6-dp rounding, whose error on
      // the RATIO scales with 1/min(share) — an absolute bound breaks
      // for small shares / large ratios
      assert(math.abs(shareRatio / math.sqrt(rawRatio) - 1.0) < 1e-3,
        s"share ratio $shareRatio !~ sqrt($rawRatio)")
    }
  }

  test("q165 vocab coverage: thresholds monotone and actually covering") {
    val r = graft.text.TextOps.vocabCoverage(spark, sfDir).collect().head
    val (total, vocab) = (r.getAs[Long]("total_tokens"), r.getAs[Int]("vocab_size"))
    val vs = Seq("v50", "v90", "v95", "v99").map(r.getAs[Int](_))
    assert(total > 0 && vocab > 0)
    // monotone in the target and bounded by the vocabulary
    assert(vs.zip(vs.tail).forall { case (a, b) => a <= b }, vs.toString)
    assert(vs.last <= vocab)
    // v50 is a real prefix: the top-v50 tokens must cover >= 50% and the
    // top-(v50-1) strictly less (minimality) — recomputed independently
    import org.apache.spark.sql.functions._
    val counts = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(explode(graft.functions.TextPrims.tokensC(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t"))
      .collect().map(_.getAs[Long]("n"))
    val v50 = vs.head
    assert(counts.take(v50).sum * 100 >= 50L * total)
    if (v50 > 1) assert(counts.take(v50 - 1).sum * 100 < 50L * total)
  }

  test("q183 zipf fit: slope negative, r2 sane, matches driver-side OLS") {
    import org.apache.spark.sql.functions._
    val r = graft.text.TextOps.zipfFit(spark, sfDir).collect().head
    val (n, slope, icept, r2) = (r.getAs[Int]("n_terms"),
      r.getAs[Double]("slope"), r.getAs[Double]("intercept"),
      r.getAs[Double]("r2"))
    assert(slope < 0.0, s"zipf slope must be negative: $slope") // freq decays
    // synthetic fixture text is near-uniform, so r2 is low — only bounds
    // are invariant; the OLS cross-check below is the real assertion
    assert(r2 >= 0.0 && r2 <= 1.0, s"r2 out of band: $r2")
    // independent OLS on the same ranked frequencies (plain double math)
    val freqs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(explode(graft.functions.TextPrims.tokensC(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("t")).limit(100)
      .collect().map(_.getAs[Long]("f"))
    assert(n === freqs.length) // fixture vocab may be under topN
    val pts = freqs.zipWithIndex.map { case (f, i) =>
      (math.log(i + 1.0), math.log(f.toDouble)) }
    val m = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val (sxy, sxx) = (pts.map(p => p._1 * p._2).sum, pts.map(p => p._1 * p._1).sum)
    val bRef = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    val aRef = (sy - bRef * sx) / m
    assert(math.abs(slope - bRef) < 1e-4, s"slope $slope vs ref $bRef")
    assert(math.abs(icept - aRef) < 1e-4, s"intercept $icept vs ref $aRef")
  }

  test("q184 naive bayes: matrix covers every held-out doc, labels in domain") {
    import org.apache.spark.sql.functions._
    val rows = graft.text.TextOps.naiveBayesLang(spark, sfDir).collect()
    val d = graft.sources.Tables.load(spark, sfDir, "documents")
    val langs = d.select("lang").distinct().collect()
      .map(_.getString(0)).toSet
    val nTest = d.filter(pmod(graft.functions.TextPrims.hex60C(
        md5(col("doc_id").cast("string"))), lit(100L)) >= 80).count()
    assert(rows.map(_.getAs[Long]("n")).sum === nTest) // every doc predicted once
    rows.foreach { r =>
      assert(langs.contains(r.getAs[String]("true_lang")))
      assert(langs.contains(r.getAs[String]("pred_lang")))
      assert(r.getAs[Long]("n") > 0)
    }
    // cells are unique (it IS a matrix, not a duplicated log)
    val cells = rows.map(r => (r.getString(0), r.getString(1)))
    assert(cells.distinct.length === cells.length)
  }

  test("q185 bigram ppl: every held-out doc scored once, geometry sane") {
    import org.apache.spark.sql.functions._
    val rows = graft.text.TextOps.bigramPerplexity(spark, sfDir).collect()
    val d = graft.sources.Tables.load(spark, sfDir, "documents")
    val test = d.filter(pmod(graft.functions.TextPrims.hex60C(
        md5(col("doc_id").cast("string"))), lit(100L)) >= 80)
      .select(col("doc_id"),
        size(graft.functions.TextPrims.tokensC(col("text"))).as("nt"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.map(_.getLong(0)).toSet === test.keySet)
    rows.foreach { r =>
      // one bigram per token (<s> prefix), ppl = exp(mean surprisal) > 1
      assert(r.getAs[Long]("n_bigrams") === test(r.getLong(0)).toLong)
      val ppl = r.getAs[Double]("ppl")
      assert(ppl > 1.0 && ppl.isFinite, s"bad ppl: $r")
    }
  }

  test("q186 length batching: batches full except tails, caps honored, fill exact") {
    val B = 8
    val rows = graft.text.TextOps.lengthBucketBatches(spark, sfDir, B).collect()
    val caps = Set(16, 32, 64, 128, 256, 512)
    val total = rows.map(_.getAs[Int]("n_docs")).sum
    val nDocs = graft.sources.Tables.load(spark, sfDir, "documents").count()
    assert(total.toLong === nDocs) // every doc lands in exactly one batch
    rows.groupBy(_.getAs[Int]("bucket_cap")).foreach { case (cap, bs) =>
      assert(caps.contains(cap))
      val sorted = bs.sortBy(_.getAs[Int]("batch_idx"))
      // indices dense from 0; only the LAST batch of a bucket may be short
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Int]("batch_idx") === i)
        if (i < sorted.length - 1) assert(r.getAs[Int]("n_docs") === B)
      }
      bs.foreach { r =>
        assert(r.getAs[Int]("batch_max") <= cap) // bucket cap is honored
        val fill = r.getAs[Double]("fill_pct")
        assert(fill > 0.0 && fill <= 1.0)
        assert(math.abs(fill - r.getAs[Long]("sum_tokens").toDouble /
          (r.getAs[Int]("n_docs").toLong * r.getAs[Int]("batch_max"))) < 1e-6)
      }
    }
  }

  test("q182 chunking: full coverage, overlap geometry, digests match content") {
    import org.apache.spark.sql.functions._
    val (size, stride) = (200, 150)
    val rows = graft.text.TextOps.chunkDocs(spark, sfDir, size, stride)
      .collect()
    val lens = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), length(col("text")).as("len"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet === lens.keySet) // every doc chunks, even tiny ones
    byDoc.foreach { case (id, cs) =>
      val len = lens(id)
      val sorted = cs.sortBy(_.getAs[Int]("chunk_idx"))
      // starts are exactly 1 + i*stride and indices are dense from 0
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Int]("chunk_idx") === i)
        assert(r.getAs[Int]("start") === 1 + i * stride)
        val expectLen = math.min(size, len - i * stride).max(0)
        assert(r.getAs[Int]("chunk_chars") === expectLen)
      }
      // coverage: last chunk reaches the end of the document
      val last = sorted.last
      assert(last.getAs[Int]("start") + last.getAs[Int]("chunk_chars") - 1
        === len || len == 0)
      // chunk count is exactly the number of window starts <= len
      assert(sorted.length === ((len - 1).max(0) / stride) + 1)
    }
  }

  test("q189 source vocab cosine: bounds, symmetry coverage, matches driver recount") {
    val rows = graft.text.TextOps.sourceVocabCosine(spark, sfDir).collect()
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val tf: Map[String, Map[String, Long]] = docs.groupBy(_._1).map {
      case (src, ds) =>
        src -> ds.flatMap(_._2.trim.toLowerCase.split("\\s+"))
          .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    }
    val sources = tf.keySet.toSeq.sorted
    // exactly one row per unordered source pair, ordered lexicographically
    assert(rows.length === sources.size * (sources.size - 1) / 2)
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b)
      val (va, vb) = (tf(a), tf(b))
      val dot = va.keysIterator.filter(vb.contains)
        .map(t => va(t) * vb(t)).sum.toDouble
      val na = math.sqrt(va.values.map(c => (c * c).toDouble).sum)
      val nb = math.sqrt(vb.values.map(c => (c * c).toDouble).sum)
      val cos = r.getAs[Double]("cosine")
      assert(cos >= 0.0 && cos <= 1.0)
      assert(math.abs(cos - dot / (na * nb)) < 1e-5, s"$a x $b")
    }
  }

  test("q192 split drift: JS in [0, ln2], totals cover the corpus, hash split honored") {
    val rows = graft.text.TextOps.splitTokenDrift(spark, sfDir).collect()
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select("lang", "text").collect()
    assert(rows.map(_.getString(0)).toSet ===
      docs.map(_.getString(0)).toSet)
    val tokensByLang = docs.groupBy(_.getString(0)).map { case (l, ds) =>
      l -> ds.map(_.getString(1).trim.toLowerCase.split("\\s+").length.toLong).sum
    }
    rows.foreach { r =>
      val js = r.getAs[Double]("js_divergence")
      // JS divergence (natural log) is bounded by ln 2
      assert(js >= 0.0 && js <= math.log(2.0) + 1e-9, r.toString)
      // an 80/20 hash split of one distribution should NOT drift much
      assert(js < 0.2, r.toString)
      assert(r.getAs[Int]("n_vocab") > 0)
      // train + heldout tokens partition the lang's token stream
      assert(r.getAs[Long]("n_train_tokens") + r.getAs[Long]("n_held_tokens")
        === tokensByLang(r.getString(0)), r.getString(0))
      assert(r.getAs[Long]("n_train_tokens") > r.getAs[Long]("n_held_tokens"))
    }
  }

  test("q193 dsir: ranked top-k is target-enriched relative to the corpus") {
    val rows = graft.text.TextOps.dsirWeights(spark, sfDir).collect()
    assert(rows.length === 50)
    // strictly ranked: non-increasing weight, doc_id tiebreak
    rows.sliding(2).foreach { case Array(a, b) =>
      val (wa, wb) = (a.getAs[Double]("avg_log_ratio"),
        b.getAs[Double]("avg_log_ratio"))
      assert(wa > wb || (wa == wb && a.getLong(0) < b.getLong(0)))
    case _ => ()
    }
    rows.foreach { r =>
      assert(!r.getAs[Double]("avg_log_ratio").isNaN)
      assert(r.getAs[Int]("n_grams") > 0)
    }
    // selection sanity: the top-50 should over-represent the quality
    // target tier vs its base rate (that is DSIR's entire point)
    import org.apache.spark.sql.functions._
    val qs = graft.text.TextOps.qualityScoreC
    val tiers = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), (qs >= 0.5).as("tgt")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val baseRate = tiers.values.count(identity).toDouble / tiers.size
    val topRate = rows.count(r => tiers(r.getLong(0))).toDouble / rows.length
    assert(topRate > baseRate, s"top $topRate vs base $baseRate")
  }

  test("q196 waterfill: capped prefix funded fully, equal share for the rest") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // caps 10/20/1000/1000, budget 630: the two small sources fit under
    // the share and cap out; λ = (630-30)/2 = 300 for the big two
    val caps = Seq(("a", 10L), ("b", 20L), ("c", 1000L), ("d", 1000L))
      .toDF("source", "cap")
    val out = graft.text.TextOps.tokenWaterfillOf(caps, lit(630L))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    assert(out("a") === ((10L, 10L, 1)))
    assert(out("b") === ((20L, 20L, 1)))
    assert(out("c") === ((1000L, 300L, 0)))
    assert(out("d") === ((1000L, 300L, 0)))
    // budget large enough to fund everyone: all capped, allocation = cap
    val all = graft.text.TextOps.tokenWaterfillOf(caps, lit(5000L))
      .collect()
    assert(all.forall(r => r.getLong(2) === r.getLong(1) && r.getInt(3) === 1))
    // fixture run: allocation never exceeds capacity, total ≤ budget
    val fix = graft.text.TextOps.tokenWaterfill(spark, sfDir).collect()
    assert(fix.forall(r => r.getLong(2) <= r.getLong(1)))
    val (tot, alloc) = (fix.map(_.getLong(1)).sum, fix.map(_.getLong(2)).sum)
    assert(alloc <= (tot * 0.6).toLong && alloc > (tot * 0.6 * 0.98).toLong)
  }

  test("q200 release gate: conjunction of gates, consistent with the card") {
    val gates = graft.text.TextOps.releaseGate(spark, sfDir).collect()
    val card = graft.text.TextOps.datasetCard(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(gates.map(_.getString(0)).toSet === card.keySet)
    gates.foreach { g =>
      val c = card(g.getString(0))
      // metrics are the card's, re-derived — not recomputed differently
      assert(g.getAs[Int]("n_docs") === c.getAs[Int]("n_docs"))
      assert(g.getAs[Long]("total_tokens") === c.getAs[Long]("total_tokens"))
      val expDup = c.getAs[Long]("n_dup_docs").toDouble / c.getAs[Int]("n_docs")
      assert(math.abs(g.getAs[Double]("dup_frac") - expDup) < 1e-6)
      // release_ok is exactly the conjunction
      val conj = Seq("gate_dup", "gate_quality", "gate_coverage",
        "gate_volume").forall(g.getAs[Int](_) === 1)
      assert(g.getAs[Int]("release_ok") === (if (conj) 1 else 0))
    }
    // the gates discriminate on the fixture: both outcomes occur
    assert(gates.exists(_.getAs[Int]("release_ok") === 1))
  }

  test("q207 calibration: monotone deciles, shared global column, shift algebra") {
    val rows = graft.text.TextOps.quantileCalibration(spark, sfDir).collect()
    val srcs = rows.map(_.getString(0)).distinct
    assert(rows.length === srcs.length * 11)
    // the global column is identical for every source at each decile
    val globByDec = rows.groupBy(_.getInt(1))
      .map { case (d, rs) => d -> rs.map(_.getAs[Double]("glob_q")).distinct }
    globByDec.foreach { case (d, g) => assert(g.length === 1, s"decile $d") }
    srcs.foreach { src =>
      val ds = rows.filter(_.getString(0) == src).sortBy(_.getInt(1))
      assert(ds.map(_.getInt(1)).toSeq === (0 to 10))
      // quantile functions are non-decreasing
      ds.map(_.getAs[Double]("src_q")).sliding(2).foreach {
        case Array(a, b) => assert(a <= b + 1e-12, src); case _ => ()
      }
      ds.foreach(r => assert(math.abs(r.getAs[Double]("shift") -
        (r.getAs[Double]("src_q") - r.getAs[Double]("glob_q"))) < 1e-12))
    }
  }

  test("q215 ladder: steps nested, fractions near target, quality unbiased") {
    val rows = graft.text.TextOps.learningCurveLadder(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("threshold"))
    assert(rows.map(_.getString(0)).toSeq === Seq("1/64", "1/16", "1/4", "1/1"))
    // nested: counts and token volumes strictly non-decreasing
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Int]("n_docs") <= b.getAs[Int]("n_docs"))
      assert(a.getAs[Long]("total_tokens") <= b.getAs[Long]("total_tokens"))
    case _ => ()
    }
    val full = rows.last
    // each step's share of docs is near its nominal fraction
    Seq(64, 16, 4).zip(rows.dropRight(1)).foreach { case (den, r) =>
      val frac = r.getAs[Int]("n_docs").toDouble / full.getAs[Int]("n_docs")
      val sd = 3 * math.sqrt((1.0 / den) * (1 - 1.0 / den) /
        full.getAs[Int]("n_docs"))
      assert(math.abs(frac - 1.0 / den) < sd + 0.02, s"1/$den got $frac")
    }
    // hash membership is quality-blind: subset means track the corpus mean
    val fullQ = full.getAs[Double]("mean_quality")
    rows.foreach(r =>
      assert(math.abs(r.getAs[Double]("mean_quality") - fullQ) < 0.1))
  }

  test("q228 ols: slope/r2 match a driver least-squares recount") {
    val rows = graft.text.TextOps.qualityLengthOls(spark, sfDir).collect()
    import org.apache.spark.sql.functions.col
    val d = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("source"),
        graft.functions.TextPrims.bpeTokensC(col("text")).cast("long"),
        graft.text.TextOps.qualityScoreC)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val src = r.getString(0)
      val xs = d(src).map(t =>
        BigDecimal(math.log(t._2.toDouble)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      val ys = d(src).map(_._3)
      val n = xs.length.toDouble
      val (sx, sy) = (xs.sum, ys.sum)
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val sxx = xs.map(a => a * a).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(r.getAs[Int]("n_docs") === xs.length)
      assert(math.abs(r.getAs[Double]("slope") - slope) < 1e-4, src)
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= -1e-6 && r2 <= 1.0 + 1e-6, src)
    }
  }

  test("q229 kappa: below accuracy, above zero, marginal algebra exact") {
    val r = graft.text.TextOps.langKappa(spark, sfDir).collect().head
    val (po, pe, k) = (r.getAs[Double]("p_observed"),
      r.getAs[Double]("p_expected"), r.getAs[Double]("kappa"))
    assert(po > 0.0 && po <= 1.0)
    assert(pe > 0.0 && pe < 1.0)
    // kappa is exactly its definition, and chance correction can only
    // shrink a better-than-chance classifier's score
    assert(math.abs(k - (po - pe) / (1 - pe)) < 2e-6)
    assert(k < po + 1e-9)
    // on the 60-doc spec fixture the marker heuristic sits AT chance
    // (κ ≈ 0 while accuracy looks nonzero) — which is precisely the
    // imbalance story κ exists to tell; just pin it to the chance band
    assert(k > -0.2 && k < 1.0)
  }

  test("q225 position quality: three buckets, chunk totals match q182") {
    val rows = graft.text.TextOps.positionQuality(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("1_head", "2_middle", "3_tail"))
    val nChunks = graft.text.TextOps.chunkDocs(spark, sfDir).count()
    assert(rows.map(_.getAs[Int]("n_chunks").toLong).sum === nChunks)
    // every doc contributes exactly one head; tails only for multi-chunk
    val nDocs = graft.sources.Tables.load(spark, sfDir, "documents").count()
    assert(rows.head.getAs[Int]("n_chunks").toLong === nDocs)
    rows.foreach(r => assert(r.getAs[Double]("mean_quality") >= 0.0 &&
      r.getAs[Double]("mean_quality") <= 1.0))
  }

  test("q219 code-switching: census totals, share bounds, flag algebra") {
    val rows = graft.text.TextOps.codeSwitching(spark, sfDir).collect()
    val nDocs = graft.sources.Tables.load(spark, sfDir, "documents").count()
    assert(rows.length.toLong === nDocs)
    rows.foreach { r =>
      assert(r.getAs[Int]("n_chunks") >= 1)
      val nl = r.getAs[Int]("n_langs")
      assert(nl >= 0 && nl <= 4) // marker languages only
      if (nl > 0) {
        val share = r.getAs[Double]("majority_share")
        assert(share > 0.0 && share <= 1.0)
        // the flag is exactly its definition
        assert(r.getAs[Int]("is_mixed") ===
          (if (nl >= 2 && share <= 0.8 + 1e-9) 1 else 0), r.toString)
      } else assert(r.getAs[Int]("is_mixed") === 0)
    }
    // fixture docs are single-language: the mixed flag must be rare
    assert(rows.count(_.getAs[Int]("is_mixed") == 1) < rows.length / 4)
  }

  test("q220 entropy: bounds ln(V), KL nonnegative, global row consistency") {
    val rows = graft.text.TextOps.sourceEntropy(spark, sfDir).collect()
    rows.foreach { r =>
      val (h, kl) = (r.getAs[Double]("entropy"),
        r.getAs[Double]("kl_vs_corpus"))
      assert(h > 0.0 && h <= math.log(r.getAs[Int]("n_vocab").toDouble)
        + 1e-6, r.getString(0))
      // Gibbs: KL >= 0 (6dp per-term rounding can dip a hair below)
      assert(kl >= -1e-4, s"${r.getString(0)} kl $kl")
      assert(r.getAs[Long]("n_tokens") > 0)
    }
  }

  test("q221 burstiness: gated, ranked, function words calmer than topical") {
    val rows = graft.text.TextOps.tokenBurstiness(spark, sfDir).collect()
    assert(rows.length === 20)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("vmr") >= b.getAs[Double]("vmr"))
    case _ => ()
    }
    rows.foreach { r =>
      assert(r.getAs[Int]("n_occ") >= 50)
      assert(r.getAs[Int]("n_docs") >= 1)
      // bursty by definition: the top of the list is super-Poisson
      assert(r.getAs[Double]("vmr") > 1.0, r.getString(0))
    }
  }

  test("q210 gini: bounds, driver recount, constant-mass source would be 0") {
    val rows = graft.text.TextOps.giniConcentration(spark, sfDir).collect()
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("source"),
        graft.functions.TextPrims.bpeTokensC(
          org.apache.spark.sql.functions.col("text")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    rows.foreach { r =>
      val src = r.getString(0)
      val xs = docs(src).map(_._2).sorted
      val n = xs.length.toDouble
      val sx = xs.map(_.toDouble).sum
      val six = xs.zipWithIndex.map { case (x, i) => (i + 1) * x.toDouble }.sum
      val g = (2 * six - (n + 1) * sx) / (n * sx)
      assert(r.getAs[Int]("n_docs") === xs.length)
      assert(math.abs(r.getAs[Double]("gini") - g) < 1e-6, src)
      assert(r.getAs[Double]("gini") >= 0.0 && r.getAs[Double]("gini") < 1.0)
    }
  }

  test("q239 PII scan: planted fixtures detect, clean text stays zero") {
    // the fixture corpus is PII-free (the oracle path proves the
    // all-zero report); detection itself is proven here on planted rows
    import spark.implicits._
    val rows = Seq(
      ("s1", "contact me at jane.doe+spam@example.co.uk or bob@x.io ok"),
      ("s1", "server at 10.0.255.7 answered, backup at 192.168.1.1."),
      ("s2", "call 555-867-5309 or 555 123 4567 re: ssn 078-05-1120"),
      ("s2", "perfectly clean text with a year 2026 and version 1.2"),
      ("s3", "not an email: foo@@bar, not an ip: 1.2.3, not a phone: 12-34"))
      .toDF("source", "text")
    val out = graft.text.TextOps.piiScanOf(rows).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Int]("n_docs_hit"), r.getAs[Int]("n_hits"))).toMap
    assert(out(("s1", "email")) === (1, 2))
    assert(out(("s1", "ipv4")) === (1, 2))
    assert(out(("s1", "phone")) === (0, 0))
    assert(out(("s2", "phone")) === (1, 2))
    assert(out(("s2", "ssn_like")) === (1, 1))
    assert(out(("s2", "email")) === (0, 0))
    // the negative row: every family stays clean
    graft.text.TextOps.PiiPatterns.foreach { case (nm, _) =>
      assert(out(("s3", nm)) === (0, 0), nm)
    }
  }

  test("q242 funnel: stages monotone, dedup keep matches a direct count") {
    val rows = graft.text.TextOps.curationFunnel(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("0_corpus", "1_quality",
      "2_exact_dedup", "3_pii_clean", "4_len_band"))
    val docsN = rows.map(_.getAs[Int]("n_docs"))
    val toksN = rows.map(_.getAs[Int]("n_tokens"))
    // a funnel only ever narrows
    assert(docsN.zip(docsN.tail).forall { case (a, b) => a >= b })
    assert(toksN.zip(toksN.tail).forall { case (a, b) => a >= b })
    assert(docsN.head === graft.sources.Tables
      .load(spark, sfDir, "documents").count())
    // the fixture corpus is PII-free: the pii stage must drop nothing
    assert(docsN(3) === docsN(2))
  }

  test("q244 ablation: marginal<=solo, first rule marginal==solo, " +
      "denominators and the quality rule recounted directly") {
    import org.apache.spark.sql.functions._
    val rows = graft.text.TextOps.filterAblation(spark, sfDir).collect()
    assert(rows.map(_.getString(1)).toSeq === Seq("0_corpus", "1_quality",
      "2_diversity", "3_stopword", "4_len_band"))
    val corpus = rows.head
    val docsDf = graft.sources.Tables.load(spark, sfDir, "documents")
    assert(corpus.getAs[Int]("n_docs_solo") === docsDf.count())
    val ruleRows = rows.tail
    ruleRows.foreach { r =>
      // a rule can never remove MORE after earlier rules already filtered
      assert(r.getAs[Int]("n_docs_marg") <= r.getAs[Int]("n_docs_solo"),
        r.getString(1))
      assert(r.getAs[Int]("n_tokens_marg") <= r.getAs[Int]("n_tokens_solo"),
        r.getString(1))
      // thresholds were chosen so every rule bites on the fixture
      assert(r.getAs[Int]("n_docs_solo") > 0, r.getString(1))
      // ... without zeroing the corpus
      assert(r.getAs[Int]("n_docs_solo") < corpus.getAs[Int]("n_docs_solo"),
        r.getString(1))
    }
    // rule 1 sees the raw corpus: marginal IS solo
    assert(ruleRows.head.getAs[Int]("n_docs_marg") ===
      ruleRows.head.getAs[Int]("n_docs_solo"))
    // marginal doc losses partition the removed set: their sum plus the
    // survivor count must equal the corpus
    val removed = ruleRows.map(_.getAs[Int]("n_docs_marg")).sum
    val survivors = docsDf
      .filter(graft.text.TextOps.survivorPredicate).count()
    assert(removed + survivors === corpus.getAs[Int]("n_docs_solo"))
    // independent recount of the quality rule's solo arm via q23's op
    val qSolo = graft.text.TextOps.qualityScore(spark, sfDir)
      .filter(col("quality_score") < 0.5).count()
    assert(ruleRows.head.getAs[Int]("n_docs_solo") === qSolo)
  }

  test("q246 BPE: greedy leftmost non-overlap on same-symbol runs, " +
      "counts and rewrites checked by hand") {
    import spark.implicits._
    // "aaaa"/"aaaaa" exercise the l==r overlap rule; "ab" the plain case
    val words = Seq(("aaaa", 3L), ("aaaaa", 2L), ("ab", 10L))
      .toDF("word", "freq")
    val out = graft.text.BpeTrain
      .mergeLoop(graft.text.BpeTrain.symbolsOf(words), 2)
      .collect()
    val s1 = out(0)
    // (a,a) counted at every adjacent position: 3·3 + 4·2 = 17 > (a,b) 10
    assert((s1.getAs[String]("lsym"), s1.getAs[String]("rsym")) === ("a", "a"))
    assert(s1.getAs[Long]("pair_count") === 17L)
    // greedy leftmost: aaaa→[aa,aa], aaaaa→[aa,aa,a] (odd tail survives),
    // ab untouched: corpus = 3·2 + 2·3 + 10·2 = 32
    assert(s1.getAs[Long]("corpus_syms") === 32L)
    assert(s1.getAs[Int]("sym_types") === 3) // {aa, a, b}
    val s2 = out(1)
    // now (aa,aa)=3+2=5, (aa,a)=2, (a,b)=10 → best (a,b)
    assert((s2.getAs[String]("lsym"), s2.getAs[String]("rsym")) === ("a", "b"))
    assert(s2.getAs[Long]("pair_count") === 10L)
    assert(s2.getAs[Long]("corpus_syms") === 22L)
    assert(s2.getAs[Int]("sym_types") === 3) // {aa, a, ab}
  }

  test("q246 corpus merges equal a classic sequential BPE " +
      "reimplementation run on the driver") {
    val freqs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(explode(TextPrims.tokensC(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // classic mutable-scan BPE: the imperative algorithm the relational
    // operator claims to equal
    var table: Map[Vector[String], Long] =
      freqs.map { case (w, f) => w.toVector.map(_.toString) -> f }
    val expected = (1 to graft.text.BpeTrain.Merges).map { step =>
      val counts = collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- table; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      val ((l, r), cnt) = counts.toSeq
        .minBy { case ((a, b), c) => (-c, a, b) }
      table = table.toSeq.map { case (syms, f) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2 // greedy leftmost, skip consumed
          } else { out += syms(i); i += 1 }
        }
        out.result() -> f
      }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      val corpus = table.map { case (syms, f) => syms.length * f }.sum
      val types = table.keys.flatten.toSet.size
      (step, l, r, cnt, corpus, types)
    }
    val got = graft.text.BpeTrain.bpeMerges(spark, sfDir).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[String]("lsym"),
        r.getAs[String]("rsym"), r.getAs[Long]("pair_count"),
        r.getAs[Long]("corpus_syms"), r.getAs[Int]("sym_types"))).toSeq
    assert(got === expected)
  }

  test("q249 compression: merges only shrink, totals recounted directly") {
    val rows = graft.text.BpeTrain.bpeCompression(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, sy, ch) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_syms"),
        r.getAs[Long]("n_chars"))
      // a merge never lengthens: chars >= symbols >= words
      assert(ch >= sy && sy >= w, r.getString(0))
      assert(r.getAs[Double]("chars_per_sym") >= 1.0)
      assert(r.getAs[Double]("syms_per_word") >= 1.0)
      // 6 merges on this corpus must actually compress something
    }
    assert(rows.map(_.getAs[Long]("n_syms")).sum <
      rows.map(_.getAs[Long]("n_chars")).sum)
    // n_chars recounted straight off the corpus, bypassing the merge loop
    val direct = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("source"),
        explode(TextPrims.tokensC(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("source").agg(sum(length(col("word"))).as("ch"),
        count(lit(1)).as("w"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (ch, w) = direct(r.getString(0))
      assert(r.getAs[Long]("n_chars") === ch)
      assert(r.getAs[Long]("n_words") === w)
    }
  }

  test("q321 vocab: totals reconcile with q246's final-step stats, " +
      "coverage monotone, merged symbols rank above their residue") {
    // full inventory (topK beyond the vocab size): Σcnt and the row
    // count must equal the merge curve's final corpus_syms / sym_types
    val full = graft.text.BpeTrain.bpeVocab(spark, sfDir, topK = 1 << 20)
      .collect()
    val last = graft.text.BpeTrain.bpeMerges(spark, sfDir).collect()
      .maxBy(_.getAs[Int]("step"))
    assert(full.map(_.getAs[Long]("cnt")).sum ===
      last.getAs[Long]("corpus_syms"))
    assert(full.length === last.getAs[Int]("sym_types"))
    // ranking + coverage invariants on the shipped top-50 frame
    val top = graft.text.BpeTrain.bpeVocab(spark, sfDir).collect()
    assert(top.length <= 50 && top.nonEmpty)
    top.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("cnt") >= b.getAs[Long]("cnt"))
      assert(a.getAs[Double]("cum_share") <= b.getAs[Double]("cum_share"))
      case _ => ()
    }
    assert(top.last.getAs[Double]("cum_share") <= 1.0)
    // at least one multi-char (merged) symbol made the top ranks — the
    // vocab is not vacuously the alphabet
    assert(top.exists(_.getAs[Int]("single_char") == 0))
  }

  test("q250 LOO impact: deltas consistent, one source recounted by an " +
      "actual leave-out pass") {
    val rows = graft.text.TextOps.looSourceImpact(spark, sfDir).collect()
    val docsDf = graft.sources.Tables.load(spark, sfDir, "documents")
    assert(rows.map(_.getAs[Int]("n_docs")).sum === docsDf.count())
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("delta_mean_q") -
        (r.getAs[Double]("loo_mean_q") - r.getAs[Double]("glob_mean_q")))
        < 1e-12, r.getString(0))
      assert(math.abs(r.getAs[Double]("delta_mean_toks") -
        (r.getAs[Double]("loo_mean_toks") -
          r.getAs[Double]("glob_mean_toks"))) < 1e-12, r.getString(0))
    }
    // the totals-minus-source shortcut vs an ACTUAL second pass without
    // the source — the identity the operator's scale story rests on
    val src = rows.head.getString(0)
    val ids = docsDf.filter(col("source") =!= src).select("doc_id")
    val loo = graft.text.TextOps.qualityScore(spark, sfDir)
      .join(ids, "doc_id")
      .agg((sum((col("quality_score").cast(
          org.apache.spark.sql.types.DecimalType(18, 6)) * 1000000)
        .cast(org.apache.spark.sql.types.LongType)).cast(
          org.apache.spark.sql.types.DoubleType) /
        count(lit(1)) / lit(1000000.0)).as("m"))
      .collect().head.getDouble(0)
    assert(math.abs(rows.head.getAs[Double]("loo_mean_q") - loo) < 1e-12)
  }

  test("q252 isotonic: minimax fit equals classic stack PAV, monotone, " +
      "mass-preserving") {
    val rows = graft.text.TextOps.isotonicCalibration(spark, sfDir)
      .collect().sortBy(_.getInt(0))
    assert(rows.length === 20)
    val iso = rows.map(_.getAs[Double]("iso_rate"))
    // monotone nondecreasing
    assert(iso.zip(iso.tail).forall { case (a, b) => a <= b + 1e-12 })
    // PAV preserves the weighted total: sum n*iso == sum positives
    val mass = rows.map(r =>
      r.getAs[Int]("n_docs") * r.getAs[Double]("iso_rate")).sum
    val pos = rows.map(_.getAs[Int]("n_pos").toLong).sum
    assert(math.abs(mass - pos) < 1e-6, s"$mass vs $pos")
    // the minimax closed form vs the classic sequential stack PAV
    val stack = collection.mutable.ArrayBuffer.empty[(Double, Double)]
    rows.foreach { r =>
      var (w, s2) = (r.getAs[Int]("n_docs").toDouble,
        r.getAs[Int]("n_pos").toDouble)
      while (stack.nonEmpty && stack.last._2 / stack.last._1 >= s2 / w) {
        val (pw, ps) = stack.remove(stack.length - 1)
        w += pw; s2 += ps
      }
      stack += ((w, s2))
    }
    val expected = stack.flatMap { case (w, s2) =>
      Seq.fill(math.round(w).toInt)(s2 / w) }
    // expand per-doc then re-collapse per bin (bins are equal-size here)
    val perBin = expected.grouped(expected.length / 20).map(_.head).toSeq
    iso.zip(perBin).zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(a - b) < 1e-9, s"bin ${i + 1}: $a vs $b")
    }
  }

  test("q255 Theil-Sen: order-statistic median equals a driver-side " +
      "sort-and-pick over the same slope set") {
    val out = graft.text.TextOps.theilSen(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Int]("n_slopes"), r.getAs[Double]("ts_slope"))).toMap
    assert(out.nonEmpty)
    val slopes = graft.text.TextOps.theilSenSlopes(spark, sfDir).collect()
      .groupBy(_.getString(0))
    assert(out.keySet === slopes.keySet)
    slopes.foreach { case (src, rows) =>
      val sorted = rows.map(_.getAs[Double]("sl")).sorted
      val n = sorted.length
      val med = (sorted((n - 1) / 2) + sorted(n / 2)) / 2
      assert(out(src)._1 === n, src)
      assert(out(src)._2 === med, s"$src: ${out(src)._2} vs $med")
    }
  }

  test("q256 boundary isotonic: stack PAV over UNEVEN bins reproduced, " +
      "full corpus covered") {
    val rows = graft.text.TextOps.isotonicBoundary(spark, sfDir)
      .collect().sortBy(_.getInt(0))
    assert(rows.map(_.getAs[Int]("n_docs")).sum ===
      graft.sources.Tables.load(spark, sfDir, "documents").count())
    val iso = rows.map(_.getAs[Double]("iso_rate"))
    assert(iso.zip(iso.tail).forall { case (a, b) => a <= b + 1e-12 })
    // general stack PAV (no equal-bin assumption), expanded bin-wise
    val stack = collection.mutable.ArrayBuffer.empty[(Double, Double)]
    rows.foreach { r =>
      var (w, s2) = (r.getAs[Int]("n_docs").toDouble,
        r.getAs[Int]("n_pos").toDouble)
      while (stack.nonEmpty && stack.last._2 / stack.last._1 >= s2 / w) {
        val (pw, ps) = stack.remove(stack.length - 1)
        w += pw; s2 += ps
      }
      stack += ((w, s2))
    }
    val expected = collection.mutable.ArrayBuffer.empty[Double]
    var bi = 0
    stack.foreach { case (w, s2) =>
      var acc = 0.0
      while (acc < w - 1e-9) {
        acc += rows(bi).getAs[Int]("n_docs"); expected += s2 / w; bi += 1
      }
    }
    assert(bi === rows.length) // block weights partition the bins exactly
    iso.zip(expected).zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(a - b) < 1e-9, s"bin ${i + 1}: $a vs $b")
    }
  }

  test("q381 CM join-size: one-sided (estimate never undershoots the " +
      "exact self-join size) and exact J verified on the driver") {
    // exact_j/est_j are LongType since the round-16 engine-independent
    // output-type pin (decimal accumulation stays internal)
    val r = graft.text.TextOps.cmJoinSize(spark, sfDir).head()
    val exactJ = r.getLong(0)
    val estJ = r.getLong(1)
    assert(estJ >= exactJ, s"CM inner product undershot: $estJ < $exactJ")
    assert(r.getLong(2) === estJ - exactJ)
    // driver recompute of the exact self-join size from key counts
    val counts = graft.sources.Tables.load(spark, sfDir, "events")
      .groupBy("user_id").count().collect().map(_.getLong(1))
    assert(counts.map(c => c * c).sum === exactJ)
    // at w=1024 the relative overcount should be modest on the fixture
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 1.0,
      s"rel_err out of band: ${r.getDouble(3)}")
  }

  test("q257 count-min: never undercounts, collisions overcount, " +
      "sketch recomputed on the driver at forced-collision width") {
    import spark.implicits._
    // 40 distinct tokens into 2 rows x 8 buckets: collisions guaranteed
    val toks = (0 until 40).flatMap(i =>
      Seq.fill(i + 1)(s"tok$i")).toDF("tok")
    val out = graft.text.TextOps.countMinOf(toks, d = 2, w = 8, k = 40)
      .collect()
    assert(out.length === 40)
    // the CM guarantee: estimate >= truth for EVERY token
    out.foreach { r =>
      assert(r.getAs[Long]("n_est") >= r.getAs[Long]("n_exact"),
        r.getString(0))
      assert(r.getAs[Long]("overcount") ===
        r.getAs[Long]("n_est") - r.getAs[Long]("n_exact"))
    }
    // 40 keys in 8 buckets MUST collide somewhere
    assert(out.exists(_.getAs[Long]("overcount") > 0))
    // independent driver recompute of the whole sketch
    val exact = (0 until 40).map(i => s"tok$i" -> (i + 1).toLong).toMap
    // recompute buckets EXACTLY as the engine does: 60-bit md5 prefix
    def bucket60(j: Int, t: String): Long = {
      val d2 = java.security.MessageDigest.getInstance("MD5")
      val hex = d2.digest(s"$j#$t".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 8
    }
    val counters = collection.mutable.Map.empty[(Int, Long), Long]
    for ((t, c) <- exact; j <- 0 until 2) {
      val key = (j, bucket60(j, t))
      counters(key) = counters.getOrElse(key, 0L) + c
    }
    out.foreach { r =>
      val t = r.getString(0)
      val est = (0 until 2).map(j => counters((j, bucket60(j, t)))).min
      assert(r.getAs[Long]("n_est") === est, t)
    }
  }

  test("q259 HLL: raw harmonic branch within theoretical error at 5k " +
      "cardinality; registers recomputed on the driver") {
    import spark.implicits._
    val toks = (0 until 5000).map(i => ("big", s"item$i")).toDF("source", "tok")
    val out = graft.text.TextOps.hllOf(toks).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Int]("n_exact") === 5000)
    // 5000 >> 2.5m: the raw branch; HLL std error is 1.04/sqrt(1024)
    // ~3.3% — allow 4 sigma
    assert(math.abs(r.getAs[Double]("rel_err")) < 0.13,
      r.getAs[Double]("rel_err").toString)
    // independent register recompute: 60-bit md5 prefix, idx/rank split
    def h60(t: String): Long = {
      val d2 = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(d2.digest(s"0#$t".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)
    }
    val regs = collection.mutable.Map.empty[Long, Int]
    (0 until 5000).foreach { i =>
      val h = h60(s"item$i")
      val (idx, z) = (h % 1024, h >> 10)
      val rank = if (z == 0) 51 else 51 - java.lang.Long.toBinaryString(z).length
      regs(idx) = math.max(regs.getOrElse(idx, 0), rank)
    }
    assert(r.getAs[Int]("n_filled") === regs.size)
    val isum = regs.values.map(mx => 1L << (50 - mx)).sum +
      (1024L - regs.size) * (1L << 50)
    val raw = graft.text.TextOps.HllAlphaM2 * (1L << 50).toDouble / isum
    assert(math.abs(r.getAs[Double]("hll_est") - raw) < 1e-5)
  }

  test("q241 packing: next-fit recounted in the driver, invariants hold") {
    import org.apache.spark.sql.functions._
    val budget = 2048
    val rows = graft.text.TextOps.seqPacking(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nd, ns, tot) = (r.getAs[Int]("n_docs"), r.getAs[Int]("n_seqs"),
        r.getAs[Int]("total_tokens"))
      assert(ns >= 1 && ns <= nd) // never more sequences than docs
      if (r.getAs[Int]("n_overflow") == 0)
        assert(ns >= math.ceil(tot.toDouble / budget).toInt)
      assert(math.abs(r.getAs[Double]("utilization") -
        BigDecimal(tot.toDouble / (ns.toLong * budget))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    // independent recount of one source's fold
    val src = rows.head.getString(0)
    val toks = graft.sources.Tables.load(spark, sfDir, "documents")
      .filter(col("source") === src).orderBy("doc_id")
      .select(graft.functions.TextPrims.bpeTokensC(col("text")))
      .collect().map(_.getInt(0))
    var (fill, seqs) = (0L, 0)
    toks.foreach { t =>
      if (seqs == 0 || fill + t > budget) { seqs += 1; fill = t.toLong }
      else fill += t
    }
    assert(rows.head.getAs[Int]("n_seqs") === seqs)
    assert(rows.head.getAs[Int]("total_tokens") === toks.map(_.toLong).sum)
  }

  test("q268 alpha-mix: shares normalize, temperature boosts small " +
      "sources and shrinks large ones") {
    val rows = graft.text.TextOps.alphaMix(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val praw = rows.map(_.getAs[Double]("p_raw"))
    val palpha = rows.map(_.getAs[Double]("p_alpha"))
    assert(math.abs(praw.sum - 1.0) < 1e-6)
    assert(math.abs(palpha.sum - 1.0) < 1e-6)
    // alpha < 1 flattens: the token-richest source loses mass, the
    // token-poorest gains (strictly, when the corpus is not uniform)
    val byTok = rows.sortBy(_.getAs[Long]("n_tokens"))
    if (byTok.last.getAs[Long]("n_tokens") >
        byTok.head.getAs[Long]("n_tokens")) {
      assert(byTok.last.getAs[Double]("boost") < 1.0)
      assert(byTok.head.getAs[Double]("boost") > 1.0)
    }
  }

  test("q269 epoch batches: each epoch partitions the corpus; the two " +
      "epoch permutations differ") {
    val rows = graft.text.TextOps.epochBatches(spark, sfDir).collect()
    val nDocs = graft.sources.Tables.load(spark, sfDir, "documents").count()
    val byEpoch = rows.groupBy(_.getAs[Int]("epoch"))
    assert(byEpoch.keySet === Set(1, 2))
    byEpoch.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("n_docs").toLong).sum === nDocs)
      assert(rs.forall(r => r.getAs[Int]("batch") >= 0 &&
        r.getAs[Int]("batch") < 64))
    }
    // independent seeds ⇒ different batch composition vectors
    def vec(e: Int) = byEpoch(e).map(r =>
      r.getAs[Int]("batch") -> r.getAs[Int]("n_docs")).toMap
    assert(vec(1) !== vec(2))
  }

  test("q240 redaction: planted hits rewrite to tags, clean text is " +
      "byte-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val red = Seq(
      "mail jane@x.io from 10.0.0.1 then dial 555-867-5309 ssn 078-05-1120",
      "clean text stays clean, even with 2026 and 1.2.3")
      .toDF("text")
      .select(graft.text.TextOps.redactC(col("text")).as("r"))
      .collect().map(_.getString(0))
    assert(red(0) ===
      "mail <EMAIL> from <IPV4> then dial <PHONE> ssn <SSN_LIKE>")
    assert(red(1) === "clean text stays clean, even with 2026 and 1.2.3")
  }

  test("q273 vocab coverage: monotone in budget, bounded by 1, full " +
      "vocab covers everything") {
    val rows = graft.text.TextOps.vocabBudgetCoverage(spark, sfDir)
      .collect().sortBy(_.getAs[Int]("vocab_k"))
    assert(rows.length === graft.text.TextOps.CoverageKs.length)
    val cov = rows.map(_.getAs[Double]("coverage"))
    cov.zip(cov.tail).foreach { case (a, b) => assert(b >= a) }
    assert(cov.forall(c => c > 0.0 && c <= 1.0))
    rows.foreach { r =>
      assert(r.getAs[Long]("covered") <= r.getAs[Long]("n_tokens_total"))
      if (r.getAs[Int]("vocab_k") >= r.getAs[Long]("n_types"))
        assert(r.getAs[Double]("coverage") === 1.0)
    }
  }

  test("q276 loops: planted period-2 loop measured exactly, clean doc " +
      "stays clean") {
    import spark.implicits._
    // doc 1: "x y x y x y x y" — period 2, t(i)=t(i+2) for i=1..6,
    // loop covers 6+2=8 tokens; period 1 never matches
    // doc 2: all-distinct tokens — no loop at any period
    // doc 3: "z z z" — period 1, run 2, loop covers 3 tokens (< minLoop)
    val base = Seq(
      (1L, "sA", Seq("x", "y", "x", "y", "x", "y", "x", "y")),
      (2L, "sA", Seq("a", "b", "c", "d", "e")),
      (3L, "sB", Seq("z", "z", "z"))
    ).toDF("doc_id", "source", "t")
    val rows = graft.text.TextOps.repetitionLoopsOf(base, minLoop = 4)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows("sA").getAs[Long]("n_docs") === 2)
    assert(rows("sA").getAs[Long]("n_loopy") === 1)
    assert(rows("sA").getAs[Long]("max_rep") === 8)
    assert(rows("sA").getAs[Double]("loopy_frac") === 0.5)
    assert(rows("sB").getAs[Long]("n_loopy") === 0)
    assert(rows("sB").getAs[Long]("max_rep") === 3)
  }

  test("q279 packing sweep: larger budgets need no more bins, fill " +
      "bounded by 100, boundary docs shrink") {
    val rows = graft.text.TextOps.packingSweep(spark, sfDir).collect()
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    assert(bySrc.nonEmpty)
    bySrc.values.foreach { rs =>
      val byBudget = rs.sortBy(_.getAs[Int]("budget"))
      assert(byBudget.map(_.getAs[Int]("budget")).toSeq ===
        graft.text.TextOps.PackingBudgets)
      val bins = byBudget.map(_.getAs[Long]("n_bins"))
      bins.zip(bins.tail).foreach { case (a, b) => assert(b <= a) }
      byBudget.foreach { r =>
        val f = r.getAs[Int]("fill_pct")
        assert(f >= 0 && f <= 100, s"fill $f")
        // bins * budget must cover the token mass
        assert(r.getAs[Long]("n_bins") * r.getAs[Int]("budget") >=
          r.getAs[Long]("total_toks"))
      }
    }
  }

  test("q282 noise table: tempering flattens the unigram distribution, " +
      "slots fit the table") {
    val rows = graft.text.TextOps.noiseTable(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val bySlots = rows.map(_.getAs[Long]("table_slots"))
    assert(bySlots.forall(sl => sl >= 0 &&
      sl <= (1L << graft.text.TextOps.NoiseTableBits)))
    // ^0.75 compresses ratios: prob ratio between the most and least
    // frequent listed tokens must sit between 1 and the raw count ratio
    val hi = rows.maxBy(_.getAs[Long]("n_count"))
    val lo = rows.minBy(_.getAs[Long]("n_count"))
    if (hi.getAs[Long]("n_count") > lo.getAs[Long]("n_count")) {
      val rawRatio = hi.getAs[Long]("n_count").toDouble /
        lo.getAs[Long]("n_count")
      val pRatio = hi.getAs[Double]("noise_prob") /
        lo.getAs[Double]("noise_prob")
      assert(pRatio >= 1.0 - 1e-6 && pRatio <= rawRatio + 1e-6,
        s"p ratio $pRatio vs raw $rawRatio")
    }
  }

  test("q283 sentence dedup: distinct bounded by total, fraction " +
      "consistent, worst offender really repeats") {
    val rows = graft.text.TextOps.sentenceDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tot = r.getAs[Long]("n_sentences")
      val dis = r.getAs[Long]("n_distinct")
      assert(dis >= 1 && dis <= tot)
      assert(math.abs(r.getAs[Double]("dup_frac") -
        BigDecimal((tot - dis).toDouble / tot)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      assert(r.getAs[Long]("top_repeats") >= 1)
      if (dis < tot) assert(r.getAs[Long]("top_repeats") >= 2)
    }
  }

  test("q288 rendezvous: every doc placed once, expansion moves roughly " +
      "1/(N+1), never more than a third") {
    val rows = graft.text.TextOps.rendezvousShards(spark, sfDir).collect()
    val (shards, exp) = rows.partition(_.getAs[String]("row_kind") == "shard")
    val nDocs = graft.sources.Tables.load(spark, sfDir, "documents").count()
    assert(shards.map(_.getAs[Long]("n_docs")).sum === nDocs)
    assert(shards.map(_.getAs[Int]("shard")).toSet
      .subsetOf((0 until graft.text.TextOps.ShardsBefore).toSet))
    assert(exp.length === 1)
    val moved = exp.head.getAs[Double]("moved_frac")
    val theory = exp.head.getAs[Double]("theory_frac")
    // rendezvous moves ~1/(N+1); hash-mod would move ~8/9. The band is
    // generous (small corpus, binomial noise) but rules out mod-style
    // placement by an order of magnitude
    assert(moved > 0.0 && moved < 0.33, s"moved $moved vs theory $theory")
  }

  test("q289 BPE stability: one row per merge step, agreement flag " +
      "consistent with the pairs") {
    val rows = graft.text.BpeTrain.bpeStability(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("step"))
    assert(rows.map(_.getAs[Int]("step")).toSeq ===
      (1 to graft.text.BpeTrain.Merges))
    rows.foreach { r =>
      val same = r.getAs[String]("lsym_a") == r.getAs[String]("lsym_b") &&
        r.getAs[String]("rsym_a") == r.getAs[String]("rsym_b")
      assert(r.getAs[Int]("agree") === (if (same) 1 else 0))
      assert(r.getAs[Long]("count_a") >= 1 &&
        r.getAs[Long]("count_b") >= 1)
    }
  }

  test("q294 chunking: closed forms equal a brute-force window walk, " +
      "ratios sane") {
    val rows = graft.text.TextOps.ragChunking(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val fill = r.getAs[Double]("mean_fill")
      assert(fill > 0.0 && fill <= 1.0)
      assert(r.getAs[Double]("overlap_share") >= 0.0)
      assert(r.getAs[Long]("n_chunks") >= r.getAs[Long]("n_docs"))
    }
    // brute force: per doc, walk starts 1, 1+stride, ... while <= nt
    import org.apache.spark.sql.functions.{col, length => _}
    val size = graft.text.TextOps.ChunkSize
    val stride = graft.text.TextOps.ChunkStride
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("source"),
        graft.functions.TextPrims.bpeTokensC(col("text")).as("nt"))
      .collect().map(r => r.getString(0) -> r.getInt(1).toLong)
      .filter(_._2 > 0)
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      var ch = 0L; var em = 0L
      ds.foreach { case (_, nt) =>
        var start = 1L
        var cont = true
        while (cont) {
          ch += 1
          em += math.min(size.toLong, nt - start + 1)
          // continue while the window just counted did not reach the
          // doc end (stride < size keeps every start <= nt)
          if (start + size - 1 < nt) start += stride else cont = false
        }
      }
      src -> (ch, em)
    }
    rows.foreach { r =>
      val (ch, em) = expect(r.getString(0))
      assert(r.getAs[Long]("n_chunks") === ch,
        s"${r.getString(0)} chunks")
      val fill = em.toDouble / (ch * size)
      assert(math.abs(r.getAs[Double]("mean_fill") - fill) < 2e-6)
    }
  }

  test("q330 weighted quantiles: brute-forced per source, ordered, and " +
      "the doc median is the w=1 special case of the same rule") {
    import org.apache.spark.sql.functions._
    val rows = graft.text.TextOps.weightedQuantiles(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // brute force from the same integer routes
    val raw = graft.text.TextOps.qualityScore(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
      .join(graft.sources.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("source"),
          graft.functions.TextPrims.bpeTokensC(col("text")).cast("long")
            .as("w")), Seq("doc_id"))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        math.round(r.getAs[Double]("quality_score") * 1e6), r.getAs[Long]("w")))
    def wq(src: String, num: Long, den: Long): Double = {
      val xs = raw.filter(_._1 == src).sortBy(t => (t._3, t._2))
      val total = xs.map(_._4).sum
      var cw = 0L
      val hit = xs.find { t => cw += t._4; cw * den >= total * num }.get
      hit._3 / 1e6
    }
    rows.foreach { r =>
      val src = r.getString(0)
      assert(math.abs(r.getAs[Double]("q25_tok") - wq(src, 1, 4)) < 1e-5)
      assert(math.abs(r.getAs[Double]("q50_tok") - wq(src, 1, 2)) < 1e-5)
      assert(math.abs(r.getAs[Double]("q75_tok") - wq(src, 3, 4)) < 1e-5)
      assert(r.getAs[Double]("q25_tok") <= r.getAs[Double]("q50_tok"))
      assert(r.getAs[Double]("q50_tok") <= r.getAs[Double]("q75_tok"))
    }
  }
}
