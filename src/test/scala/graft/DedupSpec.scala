package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("dedupExact: injected exact copies collapse, n_copies == 2") {
    val res = Dedup.dedupExact(spark, sfDir).collect()
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val nDocs = docs.count()
    val nInjected = docs.filter(col("doc_id") % 10 === 0).count()
    // unique texts in base corpus (none duplicate in TESTDATA)
    assert(res.length === nDocs)
    assert(res.count(_.getAs[Int]("n_copies") == 2) === nInjected)
    // canonical id is always the smaller (original) id
    assert(res.forall(_.getAs[Long]("canonical_id") < Dedup.VariantIdOffset))
  }

  test("q237 shared spans: ordered, >= gram width, top pair matches a " +
      "driver LCS recount") {
    val rows = Dedup.sharedSpans(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val spans = rows.map(_.getAs[Int]("span_tokens"))
    // one shared 13-gram is the floor; ranking is span-descending
    assert(spans.forall(_ >= 13))
    assert(spans.zip(spans.tail).forall { case (a, b) => a >= b })
    // independent verification: recount the top pair's longest common
    // token run with a driver-side DP over the raw texts
    val top = rows.head
    val txt = graft.sources.Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id").isin(top.getLong(0), top.getLong(1)))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .toMap
    def toks(t: String) = t.trim.toLowerCase.split("\\s+")
    val (a, b) = (toks(txt(top.getLong(0))), toks(txt(top.getLong(1))))
    val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
    var best = 0
    for (i <- 1 to a.length; j <- 1 to b.length)
      if (a(i - 1) == b(j - 1)) {
        dp(i)(j) = dp(i - 1)(j - 1) + 1
        best = best.max(dp(i)(j))
      }
    assert(top.getAs[Int]("span_tokens") === best)
  }

  test("q238 strip plan: every source reported, flagged set consistent " +
      "with q237 spans") {
    val rows = Dedup.spanStripPlan(spark, sfDir).collect()
    val nSources = graft.sources.Tables.load(spark, sfDir, "documents")
      .select("source").distinct().count()
    assert(rows.length === nSources)
    rows.foreach { r =>
      val (fd, ft, tot) = (r.getAs[Int]("n_docs_flagged"),
        r.getAs[Int]("n_tokens_flagged"), r.getAs[Int]("n_tokens_total"))
      assert(fd >= 0 && ft >= 0 && tot > 0)
      // a flagged doc carries >= minSpan flagged tokens; none flagged
      // means zero tokens flagged
      if (fd == 0) assert(ft === 0) else assert(ft >= 30)
      assert(ft <= tot)
      assert(math.abs(r.getAs[Double]("flagged_frac") -
        ft.toDouble / tot) < 1e-6)
    }
    // consistency with q237: a >= 30-token top span implies its LATER
    // source flags at least one doc
    val spans = Dedup.sharedSpans(spark, sfDir).collect()
      .filter(_.getAs[Int]("span_tokens") >= 30)
    val flaggedSources = rows.filter(_.getAs[Int]("n_docs_flagged") > 0)
      .map(_.getString(0)).toSet
    spans.foreach { sp =>
      val later = Seq(sp.getAs[String]("src_a"), sp.getAs[String]("src_b")).max
      assert(flaggedSources.contains(later), sp.toString)
    }
  }

  test("LSH candidates recover most injected near-dup pairs") {
    val pairs = Dedup.lshCandidatePairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val injected = graft.sources.Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 20 === 0)
      .select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + Dedup.VariantIdOffset))
    val recall = injected.count(pairs.contains).toDouble / injected.length
    assert(recall >= 0.8, s"LSH recall $recall over ${injected.length} injected pairs")
  }

  test("ngramJaccard verifies candidates at >= threshold, symmetric bound") {
    val rows = Dedup.ngramJaccard(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= Dedup.JaccardThreshold && j <= 1.0)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
  }

  test("simhash is deterministic and near-dups have small Hamming distance") {
    val a = Dedup.simhash(spark, sfDir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.simhash(spark, sfDir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    // a doc vs itself with one token dropped: hamming << 16 for long docs
    import spark.implicits._
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .filter(length(col("text")) > 200).limit(5)
      .select("doc_id", "text").as[(Long, String)].collect()
    val variants = docs.map { case (id, t) =>
      (id + 500000L, t.split("\\s+").dropRight(1).mkString(" ")) }
    val fps = Dedup.simhashOf((docs ++ variants).toSeq.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.foreach { case (id, _) =>
      val d = java.lang.Long.bitCount(fps(id) ^ fps(id + 500000L))
      assert(d <= 8, s"hamming($id)=$d")
    }
  }

  test("simhashNearDupPairs: blocking loses no pair under the threshold") {
    // pigeonhole guarantee: with 4 blocks and t=3 < 4, the blocked join
    // must find EXACTLY the pairs a brute-force hamming scan finds
    val fps = Dedup.simhashOf(Dedup.nearDupCorpus(spark, sfDir))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      if java.lang.Long.bitCount(fa ^ fb) <= Dedup.HammingThreshold
    } yield (a, b)).toSet
    val blocked = Dedup.simhashNearDupPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked === brute)
    assert(Dedup.HammingThreshold < Dedup.SimhashBlocks)
  }

  test("DedupConfig knobs: non-default settings change recall as the math says") {
    import graft.dedup.DedupConfig
    // bandSize=1 (8 bands of 1): agreement on a 2-sig band implies
    // agreement on each of its sigs, so the candidate set is a SUPERSET of
    // the default (bandSize=2) one — higher recall from the same signatures
    def pairSet(cfg: DedupConfig) = Dedup.lshCandidatePairs(spark, sfDir, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val defaults = pairSet(DedupConfig.Default)
    val narrowBands = pairSet(DedupConfig(bandSize = 1))
    assert(defaults.subsetOf(narrowBands),
      s"bandSize=1 lost ${(defaults -- narrowBands).size} default pairs")
    // signature width follows numHashes
    val wide = Dedup.minhashSignatures(spark, sfDir, DedupConfig(numHashes = 12))
    assert(wide.columns.toSeq === "doc_id" +: (0 until 12).map(i => s"sig$i"))
    // 8 blocks of 4 bits with the same t=3: pigeonhole still sound
    // (3 < 8) and the verify-inside-join makes the OUTPUT identical —
    // blocking only shapes the candidate set, never the verified result
    val blocked8 = Dedup.simhashNearDupPairs(spark, sfDir,
      DedupConfig(simhashBlocks = 8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked4 = Dedup.simhashNearDupPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked8 === blocked4)
    // unsound configs are rejected at construction
    intercept[IllegalArgumentException](DedupConfig(numHashes = 7, bandSize = 2))
    intercept[IllegalArgumentException](
      DedupConfig(hammingThreshold = 4, simhashBlocks = 4))
  }

  test("DedupConfig at 16 hashes / 4-band: the wide MinHash pipeline still recovers planted pairs") {
    import graft.dedup.DedupConfig
    // the at-scale setting the config exists for (more hashes, wider
    // bands: band collision prob j^4 per band — more selective per band,
    // 4 bands total): the whole candidate->verify pipeline must still
    // work end-to-end, not just construct
    val cfg = DedupConfig(numHashes = 16, bandSize = 4)
    assert(cfg.numBands === 4)
    val sigs = Dedup.minhashSignatures(spark, sfDir, cfg)
    assert(sigs.columns.toSeq === "doc_id" +: (0 until 16).map(i => s"sig$i"))
    val pairs = Dedup.lshCandidatePairs(spark, sfDir, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val injected = graft.sources.Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 20 === 0)
      .select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + Dedup.VariantIdOffset))
    val recall = injected.count(pairs.contains).toDouble / injected.length
    assert(recall >= 0.6,
      s"16/4 LSH recall $recall over ${injected.length} injected pairs")
    // the downstream verifier holds its contract on the new candidate set
    val verified = Dedup.ngramJaccard(spark, sfDir, cfg).collect()
    assert(verified.nonEmpty)
    verified.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= cfg.jaccardThreshold && j <= 1.0)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
  }

  test("dedupKeepSummary: per-source accounting is consistent and total") {
    val rows = Dedup.dedupKeepSummary(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (docs, kept, dropped) =
        (r.getAs[Int]("n_docs"), r.getAs[Int]("n_kept"), r.getAs[Int]("n_dropped"))
      assert(kept + dropped === docs)
      assert(kept >= 1) // a component's representative always survives
    }
    // totals cover the whole injected corpus exactly once
    val total = rows.map(_.getAs[Int]("n_docs")).sum
    assert(total === Dedup.dedupComponents(spark, sfDir).count())
  }

  test("dedupComponents: labels are a fixpoint partition refining the pairs") {
    val comp = Dedup.dedupComponents(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val pairs = Dedup.lshCandidatePairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every doc labeled; component rep is the min doc id of its class
    assert(comp.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(comp(a) === comp(b), s"edge ($a,$b) crosses components")
    }
    comp.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.keys.min === rep, s"component $rep rep is not the min id")
    }
  }

  test("q153 incremental dedup: cohorts partition the increment exactly") {
    val r = Dedup.incrementalDedup(spark, sfDir).collect().head
    val (nInc, nSeen, nNew, nExtra) = (r.getAs[Int]("n_incoming"),
      r.getAs[Int]("n_dup_vs_existing"), r.getAs[Int]("n_new_contents"),
      r.getAs[Int]("n_within_batch_extra"))
    // every incoming doc lands in exactly one cohort
    assert(nInc === nSeen + nNew + nExtra, r.toString)
    // the staged increment guarantees each cohort is non-trivial
    assert(nSeen > 0 && nNew > 0 && nExtra > 0, r.toString)
    // the within-batch twins contribute one extra per duplicated content:
    // extras never exceed new contents
    assert(nExtra <= nNew, r.toString)
  }

  test("q172/q173: quality keep and token budget agree with q72's components") {
    val q72 = Dedup.dedupKeepSummary(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getAs[Int]("n_docs"),
        r.getAs[Int]("n_kept"))).toMap
    val q172 = Dedup.qualityKeepSummary(spark, sfDir).collect()
    // one keep per COMPONENT either way — totals match; per-source splits
    // may differ (a cross-source component's best member can sit in a
    // different source than its min-id member)
    q172.foreach { r =>
      assert(r.getAs[Int]("n_docs") === q72(r.getString(0))._1, r.toString)
      val mq = r.getAs[Double]("mean_kept_quality")
      assert(mq >= 0.0 && mq <= 1.0, r.toString)
    }
    assert(q172.map(_.getAs[Int]("n_kept").toLong).sum ===
      q72.values.map(_._2.toLong).sum)
    // the quality rule must actually flip some picks on this fixture
    assert(q172.map(_.getAs[Int]("n_quality_picks").toLong).sum > 0)
    val q173 = Dedup.dedupTokenBudget(spark, sfDir).collect()
    q173.foreach { r =>
      val (nd, nk) = q72(r.getString(0))
      assert(r.getAs[Int]("n_docs") === nd && r.getAs[Int]("n_kept") === nk,
        r.toString)
      assert(r.getAs[Long]("kept_tokens") <= r.getAs[Long]("raw_tokens"))
      val ratio = r.getAs[Double]("token_keep_ratio")
      assert(ratio > 0.0 && ratio <= 1.0, r.toString)
    }
  }

  test("q29 and q174 release their caches") {
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    Seq("q29_ngram_jaccard", "q174_split_text_leakage").foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).count()
      assert(cache.isEmpty, s"$name left a cached plan")
    }
  }

  test("q162 releases its caches") {
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    assert(SparkEntry.queries("q162_incremental_admission")(spark, sfDir)
      .count() > 0)
    assert(cache.isEmpty, "q162 left a cached plan")
  }

  test("q162 admission composite: statuses partition, all gates exercised") {
    val rows = Dedup.incrementalAdmission(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // per source, the six statuses partition the incoming batch exactly
    rows.foreach { r =>
      val parts = Seq("n_dup_corpus", "n_dup_batch", "n_near_dup",
        "n_low_quality", "n_over_budget", "n_admitted")
        .map(r.getAs[Int](_)).sum
      assert(parts === r.getAs[Int]("n_incoming"), r.toString)
      assert(r.getAs[Long]("admitted_tokens") <=
        Dedup.AdmissionBudgetTokens, r.toString)
    }
    // corpus-wide, every gate stops someone AND someone is admitted —
    // the fixture exists to exercise the full pipeline
    def tot(c: String) = rows.map(_.getAs[Int](c).toLong).sum
    Seq("n_dup_corpus", "n_dup_batch", "n_near_dup", "n_low_quality",
      "n_over_budget", "n_admitted").foreach { c =>
      assert(tot(c) > 0, s"cohort $c is empty")
    }
  }

  test("q187 chunk dup ratio: agrees with a driver-side recount of shared digests") {
    val rows = Dedup.chunkDupRatio(spark, sfDir).collect()
    // independent recount from the chunk stream itself
    val chunks = graft.text.TextOps.chunkDocs(spark, sfDir)
      .select("doc_id", "chunk_md5").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val docsPerHash = chunks.groupBy(_._2).map { case (h, cs) =>
      h -> cs.map(_._1).distinct.length }
    val expDup = chunks.groupBy(_._1).map { case (id, cs) =>
      id -> cs.count(c => docsPerHash(c._2) >= 2) }
    val expTot = chunks.groupBy(_._1).map { case (id, cs) => id -> cs.length }
    assert(rows.map(_.getLong(0)).toSet === expTot.keySet)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getAs[Int]("n_chunks") === expTot(id))
      assert(r.getAs[Int]("n_dup") === expDup(id), s"doc $id")
      val ratio = expDup(id).toDouble / expTot(id)
      assert(math.abs(r.getAs[Double]("dup_ratio") - ratio) < 1e-6)
      assert(r.getAs[Int]("keep") === (if (ratio < 0.5) 1 else 0))
    }
  }

  test("q188 gram novelty: counts partition the shingle stream; doc order attributes firsts") {
    val rows = Dedup.gramNovelty(spark, sfDir).collect()
    // every distinct shingle is novel for exactly ONE doc: the novel
    // counts must sum to the corpus-wide distinct-shingle count, and the
    // per-doc sizes to the (doc, shingle) row count
    val shingles = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.TextPrims.shinglesC(
          graft.functions.TextPrims.tokensC(col("text")), 3))).as("sh"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val firstDoc = shingles.groupBy(_._2).map { case (sh, rs) =>
      sh -> rs.map(_._1).min }
    val expNovel = shingles.groupBy(_._1).map { case (id, rs) =>
      id -> rs.count(r => firstDoc(r._2) == id) }
    val expSize = shingles.groupBy(_._1).map { case (id, rs) => id -> rs.length }
    assert(rows.map(_.getLong(0)).toSet === expSize.keySet)
    assert(rows.map(_.getAs[Int]("n_novel").toLong).sum === firstDoc.size.toLong)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getAs[Int]("n_shingles") === expSize(id), s"doc $id")
      assert(r.getAs[Int]("n_novel") === expNovel(id), s"doc $id")
      assert(math.abs(r.getAs[Double]("novelty") -
        expNovel(id).toDouble / expSize(id)) < 1e-6)
    }
    // the earliest doc introduces everything it contains
    val first = rows.minBy(_.getLong(0))
    assert(first.getAs[Int]("n_novel") === first.getAs[Int]("n_shingles"))
  }

  test("q190 containment: planted prefix excerpts surface at 1.0 where Jaccard fails") {
    val rows = Dedup.containmentPairs(spark, sfDir).collect()
    val byPair = rows.map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val nDocs = graft.sources.Tables.load(spark, sfDir, "documents").count()
    // every planted (base, prefix-variant) pair with enough tokens must be
    // recovered with containment exactly 1.0 (variant shingles ⊆ base's)
    val planted = (0L until nDocs by 15L)
      .map(id => (id, id + Dedup.VariantIdOffset))
    val found = planted.filter(byPair.contains)
    assert(found.size >= planted.size - 2, s"${found.size}/${planted.size}")
    found.foreach { p =>
      val r = byPair(p)
      assert(r.getAs[Double]("containment") === 1.0, s"$p")
      // the excerpt is ~half the doc: symmetric Jaccard sits far below
      // any dedup threshold — the asymmetry this operator exists for
      assert(r.getAs[Double]("jaccard") < 0.7, s"$p")
    }
    rows.foreach { r =>
      val (c, j) = (r.getAs[Double]("containment"), r.getAs[Double]("jaccard"))
      assert(c >= 0.9 && c <= 1.0 && j <= c + 1e-9)
      assert(r.getAs[Int]("sz_a") > 0 && r.getAs[Int]("sz_b") > 0)
      assert(r.getLong(0) < r.getLong(1))
    }
  }

  test("q222 crawl novelty: slice 1 fully novel, monotone-ish decay, totals") {
    val rows = Dedup.crawlSliceNovelty(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSeq === (1 to 4))
    // every gram in the first slice is by definition first seen there
    assert(rows.head.getAs[Double]("pct_new") === 1.0)
    // later slices can only lose novelty to earlier ones
    rows.tail.foreach(r => assert(r.getAs[Double]("pct_new") < 1.0))
    val docs = graft.sources.Tables.load(spark, sfDir, "documents").count()
    assert(rows.map(_.getAs[Int]("n_docs").toLong).sum === docs)
    rows.foreach(r =>
      assert(r.getAs[Long]("n_new") <= r.getAs[Long]("n_grams")))
  }

  test("q232 LSH planted PR: full recall on planted pairs, metrics coherent") {
    val r = Dedup.lshPlantedPr(spark, sfDir).collect().head
    // the drop-last-token variants sit at Jaccard >= ~0.9: 2-wide bands
    // over 8 hashes recover essentially all of them
    assert(r.getAs[Double]("recall") >= 0.95, r.toString)
    assert(r.getAs[Int]("n_hit") <= r.getAs[Int]("n_truth"))
    assert(r.getAs[Int]("n_hit") <= r.getAs[Int]("n_cand"))
    val (p, rec, f1) = (r.getAs[Double]("precision_planted"),
      r.getAs[Double]("recall"), r.getAs[Double]("f1_planted"))
    assert(math.abs(f1 - 2 * p * rec / (p + rec)) < 1e-5)
  }

  test("q226 cluster sizes: histogram mass equals the labeled corpus") {
    val hist = Dedup.dupClusterSizes(spark, sfDir).collect()
    val comp = Dedup.dedupComponents(spark, sfDir).collect()
    // Σ size × clusters-of-that-size = documents labeled
    assert(hist.map(r => r.getInt(0).toLong * r.getInt(1)).sum
      === comp.length.toLong)
    // injected near-dups guarantee some multi-doc clusters exist
    assert(hist.exists(_.getInt(0) >= 2))
    // sizes are a proper histogram: distinct, positive counts
    assert(hist.map(_.getInt(0)).distinct.length === hist.length)
    hist.foreach(r => assert(r.getInt(1) >= 1))
  }

  test("q227 degrees: handshake lemma, hubs are the max-degree nodes") {
    val rows = Dedup.dupGraphDegrees(spark, sfDir).collect()
    val (hist, hubs) = rows.partition(_.getString(0) == "hist")
    val pairs = Dedup.lshCandidatePairs(spark, sfDir).count()
    // Σ degree × nodes = 2 × |edges|
    assert(hist.map(r => r.getLong(1) * r.getLong(2)).sum === 2 * pairs)
    assert(hubs.length === math.min(5, hist.map(_.getLong(2)).sum).toInt)
    // every hub's degree is at least the histogram's second-highest bin
    val maxDeg = hist.map(_.getLong(1)).max
    assert(hubs.exists(_.getLong(2) === maxDeg))
  }

  test("q195 bloom: no false negatives, accounting consistent with q153") {
    val r = Dedup.bloomPrefilterDedup(spark, sfDir).collect().head
    val q153 = Dedup.incrementalDedup(spark, sfDir).collect().head
    // Bloom never loses a true duplicate: the true-dup count through the
    // candidate gate must equal q153's full-index dup count
    assert(r.getAs[Int]("n_true_dup") === q153.getAs[Int]("n_dup_vs_existing"))
    assert(r.getAs[Int]("n_incoming") === q153.getAs[Int]("n_incoming"))
    assert(r.getAs[Int]("n_candidates") >= r.getAs[Int]("n_true_dup"))
    assert(r.getAs[Int]("n_false_pos") ===
      r.getAs[Int]("n_candidates") - r.getAs[Int]("n_true_dup"))
    // m=65536 bits over ~500 index hashes: FP rate must be far under 1%
    assert(r.getAs[Double]("fp_rate") < 0.01)
  }

  test("q254 triangle census hand-checked on a known graph") {
    import spark.implicits._
    // K4 on {1,2,3,4} minus edge (3,4): 2 triangles (1-2-3, 1-2-4);
    // plus a dangling path 5-6-7: 0 triangles, 1 wedge at 6.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (5L, 6L), (6L, 7L)).toDF("doc_a", "doc_b")
    val r = Dedup.triangleCensusOf(edges).collect().head
    assert(r.getAs[Int]("n_nodes") === 7)
    assert(r.getAs[Long]("n_edges") === 7L)
    // degrees: 1→3, 2→3, 3→2, 4→2, 5→1, 6→2, 7→1 ⇒ wedges 3+3+1+1+1=9
    assert(r.getAs[Long]("n_wedges") === 9L)
    assert(r.getAs[Long]("n_triangles") === 2L)
    assert(math.abs(r.getAs[Double]("transitivity") - 6.0 / 9.0) < 1e-12)
    // edgeless graph: wedges 0 ⇒ transitivity NULL, not a div-by-zero
    val lone = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val r2 = Dedup.triangleCensusOf(lone).collect().head
    assert(r2.getAs[Long]("n_wedges") === 0L)
    assert(r2.isNullAt(r2.fieldIndex("transitivity")))
  }

  test("q272 LSH tuning: configs nest (coarser rows => fewer candidates), " +
      "r=1 recall is exactly 1, analytic curve decays with r") {
    val rows = graft.dedup.Dedup.lshTuning(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("band_rows"))
    assert(rows.map(_.getAs[Int]("band_rows")).toSeq === Seq(1, 2, 4, 8))
    // truth is defined on the r=1 candidate superset, so r=1 catches all
    assert(rows.head.getAs[Double]("recall") === 1.0)
    // a pair banded at r shares every permutation of some band, hence
    // at least one permutation alone: candidate sets nest downward
    val cands = rows.map(_.getAs[Long]("n_cand"))
    cands.zip(cands.tail).foreach { case (a, b) =>
      assert(b <= a, s"candidates not nested: $a then $b") }
    val rec = rows.map(_.getAs[Double]("recall"))
    rec.zip(rec.tail).foreach { case (a, b) => assert(b <= a) }
    // 1-(1-j^r)^(8/r) is non-increasing in r for j in [0,1], so the
    // mean over a fixed truth set is too
    val cap = rows.map(_.getAs[Double]("mean_capture"))
    cap.zip(cap.tail).foreach { case (a, b) => assert(b <= a + 1e-9) }
    assert(rows.forall(r => r.getAs[Long]("n_truth") > 0))
  }

  test("q274 source overlap: ordered pairs, coefficients in (0, 1]") {
    val rows = graft.dedup.Dedup.sourceOverlap(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
      val ov = r.getAs[Double]("overlap")
      assert(ov > 0.0 && ov <= 1.0, s"overlap out of range: $r")
      assert(r.getAs[Long]("n_shared") > 0)
    }
  }

  test("q281 strip-verify: stripping reduces contaminated pairs; the " +
      "census is self-consistent") {
    val r = graft.dedup.Dedup.stripVerify(spark, sfDir).collect()(0)
    val before = r.getAs[Long]("n_pairs_before")
    val after = r.getAs[Long]("n_pairs_after")
    // one strip iteration must remove most detected pairs (new grams
    // can form across cut points, so zero is not guaranteed)
    assert(after <= before, s"strip increased pairs: $before -> $after")
    if (before > 0) {
      assert(r.getAs[Double]("residual_frac") ===
        BigDecimal(after.toDouble / before)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getAs[Long]("n_tokens_stripped") > 0)
      assert(r.getAs[Long]("n_docs_stripped") > 0)
    }
  }

  test("q291 dup-quality correlation: group means decompose the total, " +
      "coefficient bounded, planted dups detected") {
    val rows = graft.dedup.Dedup.dupQualityCorr(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dup") <= r.getAs[Long]("n"))
      if (!r.isNullAt(r.fieldIndex("pb_corr"))) {
        val c = r.getAs[Double]("pb_corr")
        assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"corr $c")
      }
    }
    // dup totals must equal the independent census: docs minus docs
    // whose norm-hash is unique (zero at sf0.001 — that is data, not
    // a bug, and the equality still pins the flag semantics)
    import org.apache.spark.sql.functions.{col, count => cnt, lit}
    val census = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(graft.dedup.Dedup.normHash(col("text")).as("h"))
      .groupBy("h").agg(cnt(lit(1)).as("c"))
      .filter(col("c") > 1)
      .agg(org.apache.spark.sql.functions.sum("c")).collect()(0)
    val expected = if (census.isNullAt(0)) 0L else census.getLong(0)
    assert(rows.map(_.getAs[Long]("n_dup")).sum === expected)
  }

  test("q318 prefix sim join: exactly the brute-force within-block " +
      "pair set — the completeness theorem checked against all pairs") {
    import org.apache.spark.sql.functions._
    val D = graft.dedup.Dedup
    val got = D.prefixSimJoin(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // brute force over the SAME corpus: every within-source pair,
    // exact token-set Jaccard, threshold 0.9 — no filter, no prefix
    val sets = D.nearDupSourceCorpus(spark, sfDir)
      .select(col("doc_id"), col("source"), array_distinct(
        graft.functions.TextPrims.tokensC(col("text"))).as("ts"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getSeq[String](2).toSet))
    val brute = (for {
      (ia, sa, ta) <- sets
      (ib, sb, tb) <- sets
      if ia < ib && sa == sb
      inter = (ta & tb).size
      if inter.toDouble / (ta.size + tb.size - inter) >= 0.9
    } yield (ia, ib)).toSet
    assert(got === brute)
    assert(got.nonEmpty, "fixture produced no pairs — vacuous check")
  }

  test("q320 winnowing: the packed-key window min selects exactly the " +
      "paper's rightmost-min fingerprint per window (brute-forced), and " +
      "every injected near-dup variant pair surfaces — the w+n-1 guarantee") {
    val D = graft.dedup.Dedup
    val (n, w) = (4, 4)
    val corpus = D.nearDupCorpus(spark, sfDir)
    // (a) selection rule: per-doc fingerprint sets vs a literal
    // per-window brute force of Schleimer et al.'s rightmost-min rule
    val got = D.winnowFingerprints(corpus, n, w).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (d, rs) => d -> rs.map(_.getAs[Long]("fph")).toSet }
    val texts = corpus.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    def shingles(text: String): Seq[String] = {
      val t = text.trim.toLowerCase.split("\\s+").toSeq
      if (t.length >= n) t.sliding(n).map(_.mkString(" ")).toSeq
      else Seq(t.mkString(" "))
    }
    val brute = texts.map { case (d, text) =>
      val hs = shingles(text)
        .map(sh => graft.functions.TextPrims.javaMd5Hex32(s"320#$sh"))
      val m = hs.length
      d -> (0 to math.max(m - w, 0)).map { i =>
        val win = hs.slice(i, math.min(i + w, m)).zipWithIndex
        val mn = win.map(_._1).min
        win.filter(_._1 == mn).maxBy(_._2)._1 // rightmost tie-break
      }.toSet
    }.toMap
    assert(got === brute)
    // (b) the detection guarantee: a variant shares its base's full
    // prefix (all but the last token) — far beyond w + n - 1 tokens for
    // any doc of >= 40 tokens — so the pair MUST surface
    val pairs = D.winnowMatches(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val longBases = texts.collect { case (d, text)
      if d % 20 == 0 && d < D.VariantIdOffset &&
        text.trim.split("\\s+").length >= 40 => d }
    assert(longBases.nonEmpty, "fixture has no long variant bases")
    longBases.foreach { d =>
      assert(pairs.contains((d, d + D.VariantIdOffset)),
        s"variant pair of base $d missed — guarantee violated")
    }
  }

  test("q325 k-core: hand-checked peel — pendant chain stripped, cycle " +
      "kept; deep path needs its rounds; fixture core ⊆ component nodes") {
    import spark.implicits._
    val D = graft.dedup.Dedup
    def core(es: Seq[(Long, Long)], k: Int = 2, rounds: Int = 8) =
      D.kcoreOf(es.toDF("doc_a", "doc_b"), k, rounds).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
    // triangle {1,2,3} with a pendant chain 3-4-5: chain peels in two
    // rounds, the triangle survives with within-core degree 2
    assert(core(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))) ===
      Map(1L -> 2, 2L -> 2, 3L -> 2))
    // a pure path has NO 2-core — full peel to empty
    assert(core(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))) === Map.empty)
    // 3-core: K4 survives, a triangle hanging off it does not
    assert(core(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L)), k = 3) ===
      Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3))
    // the loud-failure contract: a path of depth > maxRounds*2 throws
    // instead of returning a non-fixpoint
    val deep = (1L to 30L).sliding(2).map(s => (s.head, s.last)).toSeq
    intercept[IllegalArgumentException](core(deep, rounds = 2))
    // fixture: every 2-core member is a node of some LSH pair (subset
    // sanity against the component machinery's input)
    val coreIds = D.kcore(spark, sfDir).collect().map(_.getLong(0)).toSet
    val pairNodes = D.lshCandidatePairs(spark, sfDir).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(coreIds.subsetOf(pairNodes))
  }

  test("q336 WITH RECURSIVE: Spark 4's native recursion is row-identical " +
      "to the BSP min-label loop — declarative and iterative certify " +
      "each other") {
    val D = graft.dedup.Dedup
    val rec = D.recursiveComponents(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bsp = D.dedupComponents(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rec.toSeq === bsp.toSeq)
    assert(rec.nonEmpty)
    // the recursion found real multi-node components, not just self-labels
    assert(rec.exists { case (id, comp) => comp != id })
  }
}
